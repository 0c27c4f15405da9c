package graft

import graft.tools.Dev

/** One bench level as a persistent server JVM.
  *
  * `BenchOne <cores> <docsPath> <mediaPath>` starts a local[cores]
  * session ([[Dev.session]]), runs TWO warmups (JIT + glyph-calibration
  * + scan warmup), prints `[benchone] ready`, then serves commands on
  * stdin:
  *
  *   run   -> one full `ExtractJob.runResumable` (the manifest-committed
  *            pipeline — the north_rule headline) into a fresh output
  *            dir; prints `[benchone] cores=C docs=D sec=S cpu=P`
  *            (seconds = the pipeline only; output-dir cleanup is
  *            outside the timed region)
  *   calib -> pure whole-stage-codegen compute; prints
  *            `[benchone] calib cores=C sec=S`
  *   quit  -> stop the session and exit
  *
  * The parent interleaves `run`s between an N-core and a 4N-core server
  * so both levels share each host-load window, and pays JVM start +
  * warmup once per level instead of once per measurement.
  */
object BenchOne {

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val spark = Dev.session(cores, s"graft-bench-$cores")
    // read once: schema inference (a footer job) is not part of the
    // per-run pipeline; the DataFrames are immutable plans, re-executed
    // fresh by every run
    val runs = new Dev.Runs(spark, spark.read.parquet(args(1)), spark.read.parquet(args(2)),
      s"graft_benchone_$cores")

    // TWO warmup runs: the first pays scan/codegen/glyph-calibration
    // setup, but C2 is still compiling the kernel hot loops through
    // most of it (round-4 evidence: first MEASURED N-leg runs ran
    // 20-35% over their later siblings — 36.7 s vs 30.1 s in the same
    // quiet window — pure JIT tail, which a pair-based efficiency
    // metric then misreads as scaling). The second run executes the
    // compiled code and leaves the first measured pair unbiased.
    runs.once(); runs.once()
    println("[benchone] ready"); System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      if (line.trim == "run") {
        val t = runs.once()
        println(f"[benchone] cores=$cores docs=${t.docs} sec=${t.sec}%.3f cpu=${t.cpu}%.3f")
        System.out.flush()
      } else if (line.trim == "calib") {
        // pure whole-stage-codegen compute (no kernel, no shuffle, no
        // I/O): the box's raw Spark scaling ceiling in THIS window —
        // emitted beside the pipeline pairs so host-contention windows
        // are attributable from the data alone
        import org.apache.spark.sql.functions._
        val t0 = System.nanoTime()
        spark.range(0, 300000000L, 1, cores * 4)
          .select(sum(pmod(xxhash64(col("id")), lit(1000L)))).collect()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[benchone] calib cores=$cores sec=$dt%.3f")
        System.out.flush()
      }
      line = in.readLine()
    }
    runs.close()
    spark.stop()
  }
}
