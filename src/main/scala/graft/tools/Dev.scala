package graft.tools

import graft.SparkEntry
import graft.gen.Corpus
import graft.pipe.ExtractJob
import graft.util.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The dev entry point (optimization tooling, outside the
  * `Bench`/`Verify` contract; [[graft.Bench]] stays the artifact of
  * record). Every verb runs under [[session]], the same session shape
  * as the Bench child [[graft.BenchOne]], so a verb's numbers and plans
  * are comparable with the bench's.
  *
  * usage: Dev <verb> <cores> <args...>
  *   time    <cores> <sfDir> <name1,name2,...|all> [repeats]
  *   explain <cores> <sfDir> <outDir> <tag> <name1,name2,...>
  *   kernel  <cores> <sfDir> [reps]
  *   profile <cores> <docsPath> <mediaPath> [runs]
  *   scale   <cores> <sfDir> <repl>
  */
object Dev {

  /** The one local[cores] session of the bench child and every verb. */
  def session(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      // the corpus is tiny in BYTES relative to per-row cost; AQE's
      // 64 MB default advisory size coalesces shuffle stages to ~11
      // partitions (ragged 1.4-wave packing on 8 cores). 1 MB keeps
      // stage width at shuffle.partitions — clean waves. A real
      // cluster at full scale never hits this (partitions >> cores).
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (1024 * 1024).toString)
      // task-commit renames on task completion (v2) instead of a
      // SERIAL driver-side rename pass at job commit (v1): the v1
      // pass over 64 bucket dirs is a fixed driver fraction that the
      // 4N leg pays at 4x relative weight (it cannot parallelize with
      // cores). BENCH-ONLY setting (round-5 ADVICE): v2's task-side
      // commit is NOT atomic under task failure/speculation and can
      // leave partial or duplicated files — acceptable for the
      // throwaway output of the bench and dev JVMs, but do NOT copy
      // it into ExtractJob/production writer configs, where output
      // integrity depends on the v1 job-commit protocol (or a real
      // table format's commit)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def deleteRec(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Process CPU seconds — the wall-vs-CPU gap exposes host-level
    * descheduling that this guest's /proc/stat steal field does NOT
    * report (vCPU jiffies freeze while the host runs someone else).
    */
  private def cpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Host-wide count of `clone()` calls since boot (`processes` in
    * /proc/stat), or -1 where there is no /proc. It counts thread starts
    * as well as process forks, of this JVM and of every other process.
    */
  private def hostClones(): Long = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("processes ")).map(_.drop(10).trim.toLong).getOrElse(-1L)
    finally src.close()
  } catch { case NonFatal(_) => -1L }

  private def threadsStarted(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getTotalStartedThreadCount

  /** Janino compiles of generated code so far (`CodegenMetrics`). */
  private def janinoCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One reading of this process's CPU clock ticks (USER_HZ = 100 per
    * second): utime + stime of every live thread keyed by (tid, start
    * time) with its native name, of the whole process (exited threads
    * included), and of its waited-for children (cutime + cstime).
    */
  private final case class ProcCpu(threads: Map[(String, Long), (String, Long)], self: Long, child: Long)

  private def procCpu(): ProcCpu = {
    // the name sits in parentheses and may hold spaces; of the numeric
    // fields after the state letter, 10/11 are utime/stime, 12/13
    // cutime/cstime and 18 the start time (later fields can exceed a Long)
    def stat(f: java.io.File): (String, Array[Long]) = {
      val st = new String(java.nio.file.Files.readAllBytes(f.toPath))
      val close = st.lastIndexOf(')')
      (st.substring(st.indexOf('(') + 1, close),
        st.substring(close + 2).split(" ").slice(1, 20).map(_.toLong))
    }
    val threads = Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val (name, f) = stat(new java.io.File(t, "stat"))
        Some((t.getName, f(18)) -> (name, f(10) + f(11)))
      } catch { case NonFatal(_) => None } // the thread exited between list and read
    }.toMap
    try {
      val (_, self) = stat(new java.io.File("/proc/self/stat"))
      ProcCpu(threads, self(10) + self(11), self(12) + self(13))
    } catch { case NonFatal(_) => ProcCpu(threads, 0L, 0L) } // no /proc
  }

  /** The thread group of a native thread name (Linux keeps its first
    * 15 characters): the executor's task threads, the JIT compilers,
    * GC and VM service threads, the driver (main thread, DAG scheduler,
    * exchange and query-stage pools), or other.
    */
  private def threadGroup(name: String): String =
    if (name.startsWith("Executor task")) "task"
    else if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")) "jit"
    else if (Seq("GC ", "G1 ", "VM ", "Sweeper", "Service Thread", "Monitor Deflat").exists(name.startsWith)) "gc_vm"
    else if (name == "main" || name == "java" ||
      Seq("dag-scheduler", "shuffle-exchang", "broadcast-excha", "QueryStageCreat", "ResultQueryStag")
        .exists(name.startsWith)) "driver"
    else "other"

  /** CPU seconds between two readings by [[threadGroup]], plus `exited`
    * (threads that ended in between: the process delta minus the live
    * threads' deltas) and `child` (waited-for child processes, outside
    * the process's own CPU).
    */
  final case class CpuSplit(groups: Map[String, Double], exited: Double, child: Double) {
    def total: Double = groups.values.sum + exited
    override def toString: String =
      (Seq("task", "jit", "gc_vm", "driver", "other").map(g => g -> groups.getOrElse(g, 0.0)) ++
        Seq("exited" -> exited, "child" -> child)).map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
  }

  private def cpuSplit(a: ProcCpu, b: ProcCpu): CpuSplit = {
    val live = b.threads.toSeq.map { case (k, (name, ticks)) =>
      threadGroup(name) -> (ticks - a.threads.get(k).fold(0L)(_._2))
    }
    val groups = live.groupMapReduce(_._1)(_._2)(_ + _)
    CpuSplit(groups.map { case (g, t) => g -> t / 100.0 },
      (b.self - a.self - live.map(_._2).sum) / 100.0, (b.child - a.child) / 100.0)
  }

  /** What one run left on disk: data parquet files under `extracted/`,
    * `.crc` side files, directories (the output root included) and the
    * bytes of every parquet file, data and manifest.
    */
  final case class Written(parquet: Int, crc: Int, dirs: Int, parquetBytes: Long)

  private def written(outDir: java.io.File): Written = {
    val s = java.nio.file.Files.walk(outDir.toPath)
    val paths = try s.iterator().asScala.toVector finally s.close()
    val data = outDir.toPath.resolve("extracted")
    def name(p: java.nio.file.Path) = p.getFileName.toString
    def isParquet(p: java.nio.file.Path) = name(p).endsWith(".parquet") && !name(p).startsWith(".")
    Written(
      paths.count(p => p.startsWith(data) && isParquet(p)),
      paths.count(p => name(p).endsWith(".crc")),
      paths.count(p => java.nio.file.Files.isDirectory(p)),
      paths.filter(isParquet).map(java.nio.file.Files.size).sum)
  }

  /** One timed run: docs committed, wall seconds, process CPU seconds,
    * host-wide `clone()` calls and JVM thread starts during the run, its
    * CPU split by thread group, its Janino compiles and the files it
    * wrote.
    */
  final case class Timed(docs: Long, sec: Double, cpu: Double, clones: Long, threads: Long,
                         split: CpuSplit, compiles: Long, files: Written)

  /** Timed `ExtractJob.runResumable` runs, each into a fresh dir under
    * one temp base. A run's dir is counted and then deleted after its
    * clock stops, so neither is timed and repeated runs do not fill the
    * disk. The /proc readings sit outside the clock too.
    */
  final class Runs(spark: SparkSession, docs: DataFrame, media: DataFrame, prefix: String) {
    private val base = java.nio.file.Files.createTempDirectory(prefix).toFile
    private var n = 0

    def once(): Timed = {
      n += 1
      val outDir = new java.io.File(base, s"run_$n")
      val p0 = procCpu()
      val j0 = janinoCompiles()
      val th0 = threadsStarted()
      val f0 = hostClones()
      val c0 = cpuSec()
      val t0 = System.nanoTime()
      val summary = ExtractJob.runResumable(spark, docs, media, outDir.getAbsolutePath)
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - c0
      val clones = if (f0 < 0) -1L else hostClones() - f0
      val threads = threadsStarted() - th0
      val compiles = janinoCompiles() - j0
      val split = cpuSplit(p0, procCpu())
      val t = Timed(summary.docCount, sec, cpu, clones, threads, split, compiles, written(outDir))
      deleteRec(outDir) // outside the timed region
      t
    }

    def close(): Unit = deleteRec(base)
  }

  private val verbs: Map[String, (SparkSession, Int, Array[String]) => Unit] = Map(
    "time" -> time, "explain" -> explain, "kernel" -> kernel,
    "profile" -> profile, "scale" -> scale)

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.flatMap(verbs.get)
    if (verb.isEmpty || args.length < 2) {
      System.err.println(s"usage: graft.tools.Dev <${verbs.keys.toSeq.sorted.mkString("|")}> <cores> <args...>")
      sys.exit(2)
    }
    val cores = args(1).toInt
    val spark = session(cores, s"graft-dev-${args(0)}-$cores")
    try verb.get(spark, cores, args.drop(2))
    finally spark.stop()
  }

  /** Times individual [[SparkEntry.queries]] with the NOOP sink —
    * `df.write.format("noop")` computes every column of every row and
    * discards it, so the number is the computation, not the sink or an
    * optimizer-pruned count. Median of `repeats` runs, warm session,
    * so per-query claims are isolated from sweep residue and host noise;
    * every run starts with the earlier runs' pins released, as the
    * frozen Bench does before each query.
    *
    * args: <sfDir> <name1,name2,...|all> [repeats]
    */
  private def time(spark: SparkSession, cores: Int, args: Array[String]): Unit = {
    val sfDir = args(0)
    val repeats = if (args.length > 2) args(2).toInt else 3
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val results = names.map { name =>
      val times = (1 to repeats).map { r =>
        Pin.releaseAll(spark)
        spark.sparkContext.setJobDescription(s"benchextra $name run$r")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[benchextra] $name run$r $dt%.3f s")
        dt
      }.sorted
      val med = times(times.size / 2)
      println(f"[benchextra] $name median $med%.3f s over $repeats")
      name -> med
    }
    println(results.map { case (n, t) => s""""$n":${f"$t%.3f"}""" }
      .mkString("""{"metric":"noop_solo_sec","queries":{""", ",", "}}"))
  }

  /** Writes `.explain("formatted")` of named [[SparkEntry.queries]] to
    * `<outDir>/<name>_<tag>.txt` — the plans/ evidence files
    * (`x01_extract_spans`/`x02_extract_docs` show the flagship plan).
    *
    * args: <sfDir> <outDir> <tag> <name1,name2,...>
    */
  private def explain(spark: SparkSession, cores: Int, args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args
    new java.io.File(outDir).mkdirs()
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explaindump] wrote $outDir/${name}_$tag.txt")
    }
  }

  /** Times each shipped byte-scan text kernel against its regex
    * reference over the REAL corpus texts, driver-side, so the
    * per-byte claim is isolated from Spark scheduling and host noise.
    *
    * args: <sfDir> [reps]
    */
  private def kernel(spark: SparkSession, cores: Int, args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 30
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val utf8 = texts.map(UTF8String.fromString)
    val totalBytes = texts.map(_.getBytes("UTF-8").length.toLong).sum
    println(s"[kernelbench] ${texts.length} docs, $totalBytes bytes, $reps reps")

    val SPLIT = java.util.regex.Pattern.compile("\\W+")
    val SENT = java.util.regex.Pattern.compile("[.!?]\\s+")

    def time(name: String)(body: => Long): Unit = {
      var best = Double.MaxValue
      var sink = 0L
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        sink = body // the last rep's value: a ref and its kernel must print the same
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        r += 1
      }
      println(f"[kernelbench] $name%-28s best ${best * 1000}%8.2f ms  ${totalBytes / best / 1e6}%8.1f MB/s  (sink $sink)")
    }

    // regex references — the exact pre-round-6 kernel bodies
    def refTokenize(u: UTF8String): Long = {
      val raw = SPLIT.split(u.toLowerCase.toString)
      var acc = 0L; var i = 0
      while (i < raw.length) { if (raw(i).nonEmpty) acc += raw(i).length; i += 1 }
      acc
    }
    def refShingle(u: UTF8String, n: Int): Long = {
      val toks0 = SPLIT.split(u.toLowerCase.toString)
      val toks = toks0.filter(_.nonEmpty)
      val nTok = toks.length
      val seen = new java.util.LinkedHashSet[String]()
      if (nTok >= n) {
        var s = 0
        while (s < nTok - n + 1) {
          val sb = new java.lang.StringBuilder()
          var w = 0
          while (w < n) { if (w > 0) sb.append(' '); sb.append(toks(s + w)); w += 1 }
          seen.add(sb.toString): Unit
          s += 1
        }
      } else seen.add(toks.mkString(" ")): Unit
      var acc = 0L
      val it = seen.iterator()
      while (it.hasNext)
        acc ^= XxHash64Function.hash(UTF8String.fromString(it.next()), StringType, 42L)
      acc
    }
    def refSent(u: UTF8String): Long = {
      val pieces = SENT.split(u.toString, -1)
      var acc = 0L; var i = 0
      while (i < pieces.length) {
        // strip 0x20 only, like the shipped splitter's SQL trim, so the
        // two sinks printed below must agree
        val p = pieces(i)
        var a = 0
        var e = p.length
        while (a < e && p.charAt(a) == ' ') a += 1
        while (e > a && p.charAt(e - 1) == ' ') e -= 1
        acc += e - a
        i += 1
      }
      acc
    }

    def sumArr(a: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      var acc = 0L; var i = 0
      while (i < a.numElements()) { acc += a.getUTF8String(i).numBytes(); i += 1 }
      acc
    }
    def sumLongs(a: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
      var acc = 0L; var i = 0
      while (i < a.numElements()) { acc ^= a.getLong(i); i += 1 }
      acc
    }

    time("tokenize regex (ref)") { utf8.foldLeft(0L)((a, u) => a + refTokenize(u)) }
    time("tokenize byte-scan") { utf8.foldLeft(0L)((a, u) => a + sumArr(graft.functions.TokenizeKernel.eval(u))) }
    time("shingle3 regex+set (ref)") { utf8.foldLeft(0L)((a, u) => a ^ refShingle(u, 3)) }
    time("shingle3 byte-scan") { utf8.foldLeft(0L)((a, u) => a ^ sumLongs(graft.functions.ShingleKernel.eval(u, 3))) }
    def refTokenHash(u: UTF8String): Long = {
      val raw = SPLIT.split(u.toLowerCase.toString)
      var acc = 0L; var i = 0
      while (i < raw.length) {
        if (raw(i).nonEmpty)
          acc ^= XxHash64Function.hash(UTF8String.fromString(raw(i)), StringType, 42L)
        i += 1
      }
      acc
    }
    time("tokenHash regex (ref)") { utf8.foldLeft(0L)((a, u) => a ^ refTokenHash(u)) }
    time("tokenHash byte-scan") { utf8.foldLeft(0L)((a, u) => a ^ sumLongs(graft.functions.TextKernels.tokenXxhash64(u))) }
    time("sentSplit regex (ref)") { utf8.foldLeft(0L)((a, u) => a + refSent(u)) }
    time("sentSplit byte-scan") { utf8.foldLeft(0L)((a, u) => a + sumArr(graft.functions.TextKernels.sentenceSplitSql(u))) }
  }

  /** Runs the flagship on a prepared bench corpus with an in-JVM stack
    * sampler (20 ms tick over executor task threads) and prints the
    * hottest frames — the "where is the time actually going" probe.
    * Each profiled run also prints host-wide `clone()` calls beside the
    * JVM's thread starts (the two match when the JVM forks nothing),
    * the data parquet, `.crc` and directory counts of its output, the
    * committed parquet bytes (data and manifest) per doc, and a CPU
    * split by thread group next to the process CPU it must add up to,
    * with the run's Janino compiles.
    *
    * args: <docsPath> <mediaPath> [runs]
    */
  private def profile(spark: SparkSession, cores: Int, args: Array[String]): Unit = {
    val n = if (args.length > 2) args(2).toInt else 1
    val runs = new Runs(spark, spark.read.parquet(args(0)), spark.read.parquet(args(1)),
      "graft_pipeprofile")
    runs.once(): Unit // warmup (JIT + glyph calibration), unprofiled

    val tally = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val selfTally = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val stacks = Thread.getAllStackTraces
        stacks.forEach { (t, frames) =>
          if (t.getName.startsWith("Executor task launch") && frames.nonEmpty) {
            // leaf-ward graft/spark frame: first frame in our packages
            val hot = frames.find { f =>
              val c = f.getClassName
              c.startsWith("graft.") || c.contains("GeneratedClass") ||
                c.startsWith("org.apache.spark.sql.catalyst") ||
                c.startsWith("org.apache.parquet") ||
                c.startsWith("java.util.regex")
            }
            val key = hot.map(f => s"${f.getClassName}.${f.getMethodName}")
              .getOrElse {
                val f = frames(0)
                s"[leaf] ${f.getClassName}.${f.getMethodName}"
              }
            tally.merge(key, 1, (a, b) => a + b)
            val leaf = frames(0)
            selfTally.merge(s"${leaf.getClassName}.${leaf.getMethodName}",
              1, (a, b) => a + b)
          }
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val timed = (1 to n).map(_ => runs.once())
    sampling = false
    sampler.join(500)
    runs.close()
    println(f"[pipeprofile] $n run(s) in ${timed.map(_.sec).sum}%.1f s at local[$cores]")
    timed.zipWithIndex.foreach { case (t, i) =>
      println(f"[pipeprofile] run ${i + 1}: docs=${t.docs} sec=${t.sec}%.2f cpu_s=${t.cpu}%.2f " +
        s"clones_host_wide=${t.clones} jvm_threads_started=${t.threads} " +
        s"data_parquet=${t.files.parquet} crc=${t.files.crc} dirs=${t.files.dirs} " +
        f"committed_bytes_per_doc=${t.files.parquetBytes.toDouble / t.docs.max(1L)}%.1f")
      println(f"[pipeprofile] run ${i + 1} cpu_split_s: ${t.split} sum=${t.split.total}%.2f " +
        f"process=${t.cpu}%.2f janino_compiles=${t.compiles}")
    }
    def top(m: java.util.concurrent.ConcurrentHashMap[String, Integer], label: String): Unit = {
      val total = m.values.asScala.map(_.toInt).sum.max(1)
      println(s"== $label (total $total samples) ==")
      m.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, v) =>
        println(f"${v.toInt * 100.0 / total}%6.2f%% $v%6d  $k")
      }
    }
    top(tally, "attributed frames (first graft/codegen/regex frame)")
    top(selfTally, "leaf frames")
  }

  /** The sf1-class scale probe: prepares a `repl`-replicated corpus
    * (the distinct-docs / distinct-media replication Bench.prepare
    * uses — repl 360 on sf0.1 is 1.8 M docs, 10× the bench corpus) and
    * times the flagship once after a warmup, printing docs/s plus total
    * shuffle read/write bytes: evidence that throughput and shuffle
    * volume extrapolate linearly.
    *
    * args: <sfDir> <repl>
    */
  private def scale(spark: SparkSession, cores: Int, args: Array[String]): Unit = {
    val sfDir = args(0)
    val repl = args(1).toInt
    import spark.implicits._

    // same replication shape as Bench.prepare (distinct doc ids and
    // media namespaces per replica — realistic dedup pressure)
    val tag = sfDir.replaceAll("[^a-z0-9.]", "_")
    val base = s"/tmp/graft_scaleprobe_${tag}_x$repl"
    val docsPath = s"$base/documents"
    val mediaPath = s"$base/media"
    if (!new java.io.File(s"$base/_READY").exists()) {
      val d = Corpus.documents(spark, sfDir).toDF()
      d.select(col("doc_id"), col("spans"),
          explode(sequence(lit(0), lit(repl - 1))).as("r"))
        .select(
          concat(lit("r"), col("r"), lit("-"), col("doc_id")).as("doc_id"),
          transform(col("spans"), s => struct(
            s("kind").as("kind"), s("text").as("text"),
            when(s("media_ref") =!= "",
              concat(lit("r"), col("r"), lit("-"), s("media_ref")))
              .otherwise("").as("media_ref"),
            s("offset").as("offset"))).as("spans"))
        .repartition(math.max(32, repl))
        .write.mode("overwrite").parquet(docsPath)
      val m = Corpus.mediaCountHint(spark, sfDir)
      spark.range(repl.toLong * m).map { j =>
        val r = (j / m).toInt
        val i = (j % m).toInt
        val ref = s"r$r-${Corpus.mediaRefFor(i)}"
        graft.gen.MediaRow(ref, graft.codec.SynthRaster.render(
          Corpus.mediaTextFor(i), graft.util.Det.hashString(ref)))
      }.toDF()
        .repartition(math.max(64, repl))
        .write.mode("overwrite").parquet(mediaPath)
      new java.io.File(s"$base/_READY").createNewFile(): Unit
    }
    System.err.println(s"[scaleprobe] corpus ready: $base")

    val shufWrite = new java.util.concurrent.atomic.AtomicLong()
    val shufRead = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
      }
    })

    val runs = new Runs(spark, spark.read.parquet(docsPath), spark.read.parquet(mediaPath),
      "graft_scaleprobe_run")
    def once(label: String): Unit = {
      shufWrite.set(0L); shufRead.set(0L)
      val t = runs.once()
      println(f"[scaleprobe] $label repl=$repl cores=$cores docs=${t.docs} " +
        f"sec=${t.sec}%.1f docs_per_sec=${t.docs / t.sec}%.1f " +
        f"shuffle_write_mb=${shufWrite.get / 1048576.0}%.1f " +
        f"shuffle_read_mb=${shufRead.get / 1048576.0}%.1f")
    }
    once("warmup")
    once("measured")
    runs.close()
  }
}
