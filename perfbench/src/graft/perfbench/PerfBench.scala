package graft.perfbench

import graft.pipe.ExtractJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction benchmark.
  *
  * usage: PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--quality low|medium|high]
  *
  * One JVM at local[k], k = min(cores, 4), runs a closed loop: one
  * `ExtractJob.runResumable` at a time into a fresh output directory,
  * the next only after the previous one has committed, until the timed
  * jobs add up to `--seconds`. Every job's output is checked outside
  * the timed region. The last stdout line is the JSON result; with
  * `--trace 1` it carries the per-layer ledger ([[Ledger]]) instead of
  * the end-to-end metrics.
  */
object PerfBench {

  final val Buckets = ExtractJob.Config().outputBuckets
  final val SampleDocs = 24
  final val Setups = 3
  /** OCR quality of every job. Not the pipeline's default `medium`:
    * its `balanced` chain decodes a spurious glyph on about one noise
    * field in 10,000 (README, "Known engine defect"), so the output
    * check would fail on some seeds. `--quality medium` runs it.
    */
  final val DefaultQuality = "high"

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$cores")
      // the bench session shape of graft.BenchOne
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (1024 * 1024).toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteRec(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRec)
    f.delete(): Unit
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val s = java.nio.file.Files.walk(src)
    try s.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally s.close()
  }

  /** A workload's generated inputs, golden sample and resume fixture. */
  final class Bed(val workload: String, val seed: Long, val dir: String, val quality: String) {
    val cfg: ExtractJob.Config = ExtractJob.Config(quality = quality)
    val totalDocs: Long = Inputs.docCount(workload).toLong
    val ns: IndexedSeq[String] = Inputs.namespaces(seed, Inputs.replicas(workload))
    val golden: Map[String, Seq[GoldSpan]] =
      Inputs.sample(seed, workload, SampleDocs).map(j => Inputs.golden(workload, ns, j)).toMap
    val docsPath = s"$dir/documents"
    val mediaPath = s"$dir/media"
    val fixtureDir = s"$dir/resume_fixture"
    val committedHalf: Seq[Int] = Inputs.committedHalf(seed, Buckets)
    var buckets: Set[Int] = Set.empty
    var sampleBuckets: Seq[Int] = Nil
    var pendingDocs: Long = 0L
    private var runs = 0

    def generate(spark: SparkSession): Unit = {
      Inputs.write(spark, workload, seed, dir)
      val docBucket = spark.read.parquet(docsPath)
        .select(col("doc_id"), ExtractJob.bucketCol(Buckets)).collect()
        .map(r => r.getString(0) -> r.getInt(1))
      buckets = docBucket.map(_._2).toSet
      sampleBuckets = docBucket.filter(d => golden.contains(d._1)).map(_._2).distinct.sorted.toSeq
    }

    def read(spark: SparkSession): (DataFrame, DataFrame) =
      (spark.read.parquet(docsPath), spark.read.parquet(mediaPath))

    def isCommitted: org.apache.spark.sql.Column =
      ExtractJob.bucketCol(Buckets).isin(committedHalf: _*)

    /** Pre-commit the seeded half of the buckets. Fails loudly when the
      * pre-commit is not exactly that half, so a broken fixture can
      * never turn into a timed empty rerun.
      */
    def buildFixture(spark: SparkSession): Unit = {
      val (docs, media) = read(spark)
      deleteRec(new java.io.File(fixtureDir))
      val s = ExtractJob.runResumable(spark, docs.filter(isCommitted), media, fixtureDir, cfg)
      pendingDocs = docs.filter(!isCommitted).count()
      require(s.newBuckets == Buckets / 2,
        s"resume fixture committed ${s.newBuckets} buckets, expected ${Buckets / 2}")
      require(s.docCount + pendingDocs == totalDocs,
        s"resume fixture: ${s.docCount} committed + $pendingDocs pending != $totalDocs input docs")
    }

    def freshOut(): String = { runs += 1; s"$dir/out/run_$runs" }
  }

  /** One measured job. `cpuS` is the process CPU, `jitS` the part of it
    * spent in JIT compiler threads. `failure` is the exception or
    * output-check failure, if any.
    */
  final case class Job(wallS: Double, cpuS: Double, jitS: Double, docs: Long, outBytes: Long,
                       noise: Probe.Noise, failure: Option[String]) {
    /** CPU of the work itself: JIT compilation is a warm-up cost that is
      * still 2-6 s per job after the set-ups and shrinks with every job.
      */
    def workCpuS: Double = cpuS - jitS
  }

  /** Run one job into a fresh directory (a copy of the resume fixture
    * when `resume`); only `runResumable` itself is timed. A `listener`
    * is attached for the job alone, not for its output check. `keep`
    * sees the output before it is deleted.
    */
  def job(spark: SparkSession, bed: Bed, docs: DataFrame, media: DataFrame, resume: Boolean,
          check: Boolean = true, listener: Option[TaskLedger] = None,
          keep: String => Unit = _ => ()): Job = {
    val out = bed.freshOut()
    if (resume) copyTree(bed.fixtureDir, out)
    val sc = spark.sparkContext
    listener.foreach(sc.addSparkListener)
    val w = new Probe.Window
    val c0 = Probe.processCpuS()
    val jit0 = Probe.jitCpuS()
    val t0 = System.nanoTime()
    val res = try Right(ExtractJob.runResumable(spark, docs, media, out, bed.cfg))
      catch { case e: Exception => Left(e.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Probe.processCpuS() - c0
    val jit = Probe.jitCpuS() - jit0
    val noise = w.close()
    listener.foreach { l => org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(l) }
    val result = res match {
      case Left(err) => Job(wall, cpu, jit, 0L, 0L, noise, Some(err))
      case Right(s) =>
        val expected = if (resume) bed.pendingDocs else bed.totalDocs
        val failure =
          if (!check) None
          else try Check(spark, out, s.docCount, expected, bed)
            catch { case e: Exception => Some(s"output check threw: $e") }
        keep(out)
        Job(wall, cpu, jit, s.docCount, Check.outputBytes(out), noise, failure)
    }
    deleteRec(new java.io.File(out))
    result
  }

  /** Closed loop: jobs until the timed walls add up to `seconds`. */
  def loop(seconds: Double, minJobs: Int = 1)(next: Int => Job): Seq[Job] = {
    val jobs = Vector.newBuilder[Job]
    var timed = 0.0
    var i = 0
    while (i < minJobs || timed < seconds) {
      val j = next(i)
      jobs += j
      timed += j.wallS
      i += 1
    }
    jobs.result()
  }

  final case class Metric(name: String, value: Double, unit: String)

  def resultLine(attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"${m.name} is not a number")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  /** One record line per job, host noise beside it. */
  def printJobs(jobs: Seq[Job]): Unit = jobs.zipWithIndex.foreach { case (j, i) =>
    println(f"[perfbench] job $i wall=${j.wallS}%.3fs cpu=${j.cpuS}%.3fs jit=${j.jitS}%.3fs docs=${j.docs} " +
      f"ext_cores=${j.noise.extCores}%.2f steal=${j.noise.stealPct}%.2f%% " +
      j.failure.fold("ok")(f => s"FAILED: $f"))
  }

  private def arg(args: Array[String], name: String, default: Option[String] = None): String = {
    val i = args.indexOf(s"--$name")
    if (i < 0 && default.nonEmpty) return default.get
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    require(Inputs.Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Inputs.Workloads.mkString(", ")})")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = new java.io.File(arg(args, "work")).getAbsolutePath
    val quality = arg(args, "quality", Some(DefaultQuality))
    require(Seq("low", "medium", "high").contains(quality), s"unknown quality '$quality'")
    val k = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val localDir = s"$work/spark-local"
    val resume = workload == "resume_half"
    val inputWorkload = if (workload == "resume_half") "mixed_zipf" else workload
    val bed = new Bed(inputWorkload, seed, s"$work/$inputWorkload", quality)

    // ---- set-up, repeated Setups times (once when tracing: setup_s is
    // not a ledger metric); the first one counts from JVM start. Input
    // generation and the resume pre-commit are the benchmark's own work
    // and are excluded.
    def phase(what: String): Unit = System.err.println(
      f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1fs $what")
    var spark = session(k, localDir)
    phase("session up")
    val g0 = System.nanoTime()
    bed.generate(spark)
    if (resume || trace) bed.buildFixture(spark)
    val genS = (System.nanoTime() - g0) / 1e9
    phase(f"inputs generated in $genS%.1fs")
    val setups = Vector.newBuilder[Double]
    var docs: DataFrame = null
    var media: DataFrame = null
    for (rep <- 0 until (if (trace) 1 else Setups)) {
      val t0 = System.nanoTime()
      if (rep > 0) { spark.stop(); spark = session(k, localDir) }
      val (d, m) = bed.read(spark)
      docs = d; media = m
      val warm = job(spark, bed, docs, media, resume, check = false)
      warm.failure.foreach(f => throw new IllegalStateException(s"warm-up job failed: $f"))
      val t1 = System.nanoTime()
      phase(s"set-up ${rep + 1} done")
      setups += (if (rep == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
                 else (t1 - t0) / 1e9)
    }

    if (trace) {
      val (jobs, metrics) = Ledger.run(spark, bed, docs, media, resume, seconds, k, localDir)
      printJobs(jobs)
      println(resultLine(jobs.size, jobs.count(_.failure.nonEmpty), metrics))
    } else {
      Probe.resetHeapPeak()
      val jobs = loop(seconds)(_ => job(spark, bed, docs, media, resume))
      val heapMb = Probe.heapPeakMb()
      phase("measured")
      spark.stop()
      printJobs(jobs)
      // timings cover every job that committed, including one whose
      // output failed the check: the result line flags it as incorrect
      val ok = jobs.filter(_.docs > 0)
      val metrics =
        if (ok.isEmpty) Nil
        else Seq(
          Metric("docs_per_s", Probe.median(ok.map(j => j.docs / j.wallS)), "docs/s"),
          Metric("cpu_s_per_kdoc", Probe.median(ok.map(j => 1000 * j.workCpuS / j.docs)), "s"),
          Metric("cpu_busy", Probe.median(ok.map(j => j.workCpuS / (j.wallS * k))), "share"),
          Metric("setup_s", Probe.median(setups.result()), "s"),
          Metric("heap_peak_mb", heapMb, "MB"),
          Metric("output_bytes_per_doc",
            Probe.median(ok.map(_.outBytes.toDouble / bed.totalDocs)), "bytes"))
      println(resultLine(jobs.size, jobs.count(_.failure.nonEmpty), metrics))
    }
  }
}
