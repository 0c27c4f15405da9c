package graft.perfbench

import graft.perfbench.PerfBench.{Bed, Job, Metric}
import graft.pipe.ExtractJob
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metrics of one finished task. */
final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** The benchmark's own listener: every finished task, until drained. */
final class TaskLedger extends SparkListener {
  private val q = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) q.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def drain(): Seq[TaskRec] = {
    val b = Vector.newBuilder[TaskRec]
    var r = q.poll()
    while (r != null) { b += r; r = q.poll() }
    b.result()
  }
}

/** The traced run: the per-layer ledger, measured from outside the
  * pipeline by calling each layer's public functions.
  *
  *  - spark.*: task totals of the closed-loop jobs from [[TaskLedger]];
  *    jobs alternate with the listener attached and detached, and the
  *    wall difference is the tracing overhead;
  *  - pipe.*: the prefix chain explode -> text branch -> extractSpans
  *    -> assembleSpans -> run, each into a noop sink, then
  *    runResumable; each layer is its increment over the shallower call;
  *  - ocr/codec/img/multimodal: single-thread calls over the
  *    workload's distinct media items; text: over its doc texts;
  *  - pipe.resume_overhead_s: a rerun over the pre-committed fixture
  *    minus a fresh run over the same pending half;
  *  - pipe.single_thread_docs_per_s: one mixed_zipf job at local[1].
  */
object Ledger {
  final val MaxItems = 1200
  final val MaxTexts = 2000

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def run(spark0: SparkSession, bed: Bed, docs: DataFrame, media: DataFrame, resume: Boolean,
          seconds: Double, k: Int, localDir: String): (Seq[Job], Seq[Metric]) = {
    var spark = spark0
    val out = Vector.newBuilder[Metric]
    def put(name: String, value: Double, unit: String): Unit = out += Metric(name, value, unit)

    // ---- closed loop; the listener rides every other job
    val listener = new TaskLedger
    val window = new Probe.Window
    val traced = Vector.newBuilder[(Job, Seq[TaskRec])]
    val jobs = PerfBench.loop(seconds, minJobs = 2) { i =>
      if (i % 2 == 0) PerfBench.job(spark, bed, docs, media, resume)
      else {
        val j = PerfBench.job(spark, bed, docs, media, resume, listener = Some(listener))
        traced += ((j, listener.drain()))
        j
      }
    }
    val noise = window.close()
    val plainWall = Probe.median(jobs.indices.filter(_ % 2 == 0).map(jobs(_).wallS))
    val tasked = traced.result().filter(_._1.docs > 0)
    put("trace.overhead_share", Probe.median(tasked.map(_._1.wallS)) / plainWall - 1, "share")
    def perJob(f: (Job, Seq[TaskRec]) => Double): Double = Probe.median(tasked.map(f.tupled))
    val mb = 1024.0 * 1024.0
    put("spark.executor_run_s", perJob((_, t) => t.map(_.runMs).sum / 1e3), "s")
    put("spark.executor_cpu_s", perJob((_, t) => t.map(_.cpuNs).sum / 1e9), "s")
    put("spark.gc_s", perJob((_, t) => t.map(_.gcMs).sum / 1e3), "s")
    put("spark.shuffle_read_mb", perJob((_, t) => t.map(_.shuffleRead).sum / mb), "MB")
    put("spark.shuffle_write_mb", perJob((_, t) => t.map(_.shuffleWrite).sum / mb), "MB")
    put("spark.spill_mb", perJob((_, t) => t.map(_.spill).sum / mb), "MB")
    put("spark.tasks", perJob((_, t) => t.size.toDouble), "count")
    put("spark.task_skew", perJob { (_, t) =>
      // the widest stage: most tasks, then most task time
      val widest = t.groupBy(_.stage).values.maxBy(s => (s.size, s.map(_.durationMs).sum))
      val d = widest.map(_.durationMs.toDouble)
      d.max / math.max(Probe.median(d), 1.0)
    }, "ratio")
    put("spark.idle_share", perJob((j, t) => 1 - t.map(_.runMs).sum / 1e3 / (j.wallS * k)), "share")
    put("host.ext_cores", noise.extCores, "cores")
    put("host.steal_pct", noise.stealPct, "%")

    // ---- prefix chain over the docs a job actually computes
    val pending = if (resume) docs.filter(!bed.isCommitted) else docs
    var texts: Seq[String] = Nil
    val rounds = Vector.newBuilder[Array[Double]]
    var chainS = 0.0
    var r = 0
    while (r < 1 || (chainS < seconds && r < 3)) {
      val exploded = noop(ExtractJob.explodedSpans(pending))
      val textBranch = noop(ExtractJob.textBranch(ExtractJob.explodedSpans(pending)))
      val extract = noop(ExtractJob.extractSpans(spark, pending, media, bed.cfg))
      val assemble = noop(ExtractJob.assembleSpans(spark,
        ExtractJob.extractSpans(spark, pending, media, bed.cfg)))
      val finish = noop(ExtractJob.run(spark, pending, media, bed.cfg))
      val j = PerfBench.job(spark, bed, docs, media, resume, check = false, keep = dir =>
        if (texts.isEmpty) texts = spark.read.parquet(s"$dir/extracted").select(col("text"))
          .limit(MaxTexts).collect().map(_.getString(0)).toSeq)
      val row = Array(exploded, textBranch, extract, assemble, finish, j.wallS)
      rounds += row
      chainS += row.sum
      r += 1
    }
    val cum = rounds.result()
    val med = (0 until 6).map(c => Probe.median(cum.map(_(c))))
    val layers = Seq("explode", "text_branch", "extract_spans", "assemble", "finish", "commit")
    layers.indices.foreach { i =>
      put(s"pipe.${layers(i)}_s", if (i == 0) med(0) else med(i) - med(i - 1), "s")
    }
    // residual: closed-loop runResumable wall minus the layer sum
    put("pipe.residual_s", plainWall - med(5), "s")

    // ---- kernel: single-thread calls over the distinct media items
    val refs = Inputs.mediaSpanRefs(docs).distinct()
    val used = media.join(refs, Seq("media_ref"), "left_semi")
    val itemsDf = if (used.isEmpty) media else used
    val items = itemsDf.orderBy("media_ref").limit(MaxItems)
      .select(col("bytes")).collect().map(_.getAs[Array[Byte]](0))
    val cfg = bed.cfg
    val mode = ExtractJob.preprocessModeFor(cfg.quality)
    val engine = graft.ocr.EnginePool.get(mode, cfg.language)
    items.take(100).foreach(b => ExtractJob.decodeMedia(engine, b, cfg.quality, ExtractJob.ocrModeFor(cfg.quality)))
    val decode, parse, prep, glyph = Vector.newBuilder[Double]
    var pages = 0L
    items.foreach { b =>
      val t0 = System.nanoTime()
      ExtractJob.decodeMedia(engine, b, cfg.quality, ExtractJob.ocrModeFor(cfg.quality))
      val dMs = ms(t0)
      val t1 = System.nanoTime()
      val ps = if (graft.ops.Multimodal.kindOf(b) == "pdf") graft.ops.Multimodal.pdfPages(b) else Vector(b)
      val splitMs = ms(t1)
      var pMs, qMs = 0.0
      ps.foreach { p =>
        val t2 = System.nanoTime()
        val (w, h, px) = graft.img.ImageCodec.decode(p)
        pMs += ms(t2)
        val t3 = System.nanoTime()
        graft.ocr.OcrEngine.preprocess(px, w, h, mode)
        qMs += ms(t3)
      }
      pages += ps.size
      decode += dMs; parse += pMs; prep += qMs
      glyph += math.max(0.0, dMs - splitMs - pMs - qMs)
    }
    put("ocr.decode_ms_p50", Probe.median(decode.result()), "ms")
    put("ocr.decode_ms_p99", Probe.pct(decode.result(), 99), "ms")
    put("codec.parse_ms_p50", Probe.median(parse.result()), "ms")
    put("img.preprocess_ms_p50", Probe.median(prep.result()), "ms")
    put("ocr.glyph_scan_ms_p50", Probe.median(glyph.result()), "ms")
    put("multimodal.pages_per_item", pages.toDouble / items.length, "count")
    val mediaSpans = Inputs.mediaSpanRefs(docs).count()
    val hashes = used.select(sha2(col("bytes"), 256)).distinct().count()
    put("ocr.spans_per_decode", if (hashes > 0) mediaSpans.toDouble / hashes else 0.0, "count")

    // ---- summarizer over the workload's doc texts
    texts.take(100).foreach(t => graft.text.Summarizer.summarize(t, 0.3))
    val sum = texts.map { t =>
      val t0 = System.nanoTime()
      graft.text.Summarizer.summarize(t, 0.3)
      ms(t0)
    }
    put("text.summarize_ms_p50", Probe.median(sum), "ms")
    put("text.summarize_ms_p99", Probe.pct(sum, 99), "ms")

    // ---- resume overhead: rerun over the fixture vs fresh pending half
    val rerun = PerfBench.job(spark, bed, docs, media, resume = true, check = false)
    val fresh = PerfBench.job(spark, bed, docs.filter(!bed.isCommitted), media,
      resume = false, check = false)
    put("pipe.resume_overhead_s", rerun.wallS - fresh.wallS, "s")

    // ---- single-thread baseline: one mixed_zipf job at local[1]
    spark.stop()
    spark = PerfBench.session(1, localDir)
    val mixed = if (bed.workload == "mixed_zipf") bed else {
      val b = new Bed("mixed_zipf", bed.seed, s"${new java.io.File(bed.dir).getParent}/mixed_zipf",
        bed.quality)
      b.generate(spark)
      b
    }
    val (md, mm) = mixed.read(spark)
    val single = PerfBench.job(spark, mixed, md, mm, resume = false)
    spark.stop()
    put("pipe.single_thread_docs_per_s", single.docs / single.wallS, "docs/s")

    (jobs :+ single, out.result())
  }
}
