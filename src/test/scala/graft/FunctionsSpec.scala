package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.{AnalysisException, Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-fn")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fpRef(s: String): Long = {
    var h = 0L
    s.getBytes("UTF-8").foreach(b => h = h * 1000003L + (b & 0xffL))
    h
  }

  test("Fingerprint64 interpreted eval matches the reference fold") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val data = Seq("", "a", "hello world", "Ünïcödé ok", "x" * 5000)
    val out = data.toDF("s")
      .select(GraftFunctions.fingerprint64(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(out.toSeq == data.map(fpRef))
  }

  test("Fingerprint64 participates in whole-stage codegen and agrees with eval") {
    import spark.implicits._
    val df = spark.range(0, 100000, 1, 4)
      .select(concat(lit("doc "), col("id")).as("s"))
      .select(col("s"), GraftFunctions.fingerprint64(col("s")).as("h"))
    df.collect() // finalize plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen:\n$plan")
    // spot check values against the reference fold
    df.limit(5).collect().foreach(r => assert(r.getLong(1) == fpRef(r.getString(0))))
    // distinctness sanity: 100k inputs, no mass collisions
    assert(df.select(countDistinct(col("h"))).head().getLong(0) > 99000L)
  }

  /** Every GraftFunctions helper with well-typed inputs over
    * `helperInputs`: (name, inputs, helper applied to inputs).
    */
  private def helperCalls: Seq[(String, Seq[Column], Seq[Column] => Column)] = {
    val (i, s) = (col("i"), col("s"))
    val vec = array(lit(1.0f), lit(0.0f))
    val strs = array(lit("a"), lit("b"), lit("c"))
    val longs = array(lit(1L), lit(2L))
    val bin = lit(Array[Byte](0, 1))
    val m = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val cb = Array.tabulate(2, 2, 1)((a, b, c) => (a + b + c).toDouble)
    val coarse = Array(Array(0.0, 0.0))
    Seq(
      ("fingerprint64", Seq(s), a => GraftFunctions.fingerprint64(a(0))),
      ("simhash64", Seq(longs), a => GraftFunctions.simhash64(a(0))),
      ("minhashSig", Seq(longs), a => GraftFunctions.minhashSig(a(0), 4)),
      ("cosineSim", Seq(vec, vec), a => GraftFunctions.cosineSim(a(0), a(1))),
      ("ivfProbes", Seq(vec), a => GraftFunctions.ivfProbes(a(0), m, 2)),
      ("planeDots", Seq(vec), a => GraftFunctions.planeDots(a(0), m)),
      ("shingleHashes", Seq(s), a => GraftFunctions.shingleHashes(a(0), 2)),
      ("rhpBucket", Seq(vec), a => GraftFunctions.rhpBucket(a(0), m)),
      ("rhpProbes", Seq(vec), a => GraftFunctions.rhpProbes(a(0), m, 1)),
      ("tokenizeWords", Seq(s), a => GraftFunctions.tokenizeWords(a(0))),
      ("tokenizeRaw", Seq(s), a => GraftFunctions.tokenizeRaw(a(0))),
      ("countInSet", Seq(strs), a => GraftFunctions.countInSet(a(0), Seq("a"))),
      ("collapseWs", Seq(s), a => GraftFunctions.collapseWs(a(0))),
      ("sentencesSql", Seq(s), a => GraftFunctions.sentencesSql(a(0))),
      ("tokenXxhash64", Seq(s), a => GraftFunctions.tokenXxhash64(a(0))),
      ("ngramJoin", Seq(strs), a => GraftFunctions.ngramJoin(a(0), 2)),
      ("nfcNormalize", Seq(s), a => GraftFunctions.nfcNormalize(a(0))),
      ("pqEncode", Seq(vec), a => GraftFunctions.pqEncode(a(0), cb)),
      ("pqCodes", Seq(vec), a => GraftFunctions.pqCodes(a(0), cb)),
      ("pqAdc", Seq(vec, bin), a => GraftFunctions.pqAdc(a(0), a(1), cb)),
      ("pqCodesRes", Seq(vec, i), a => GraftFunctions.pqCodesRes(a(0), a(1), coarse, cb)),
      ("pqEncodeRes", Seq(vec, i), a => GraftFunctions.pqEncodeRes(a(0), a(1), coarse, cb)),
      ("pqAdcRes", Seq(vec, i, bin),
        a => GraftFunctions.pqAdcRes(a(0), a(1), a(2), coarse, cb)),
      ("sigBandKeys", Seq(longs), a => GraftFunctions.sigBandKeys(a(0), 2)),
      ("sigAgreement", Seq(longs, longs), a => GraftFunctions.sigAgreement(a(0), a(1))))
  }

  private lazy val helperInputs = {
    import spark.implicits._
    Seq((0, "One two, three.")).toDF("i", "s")
  }

  test("registered SQL function graft_fingerprint64 works and null-propagates") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a", 1)).toDF("s", "i").createOrReplaceTempView("t_fn")
    val r = spark.sql("SELECT graft_fingerprint64(s), graft_fingerprint64(NULL) FROM t_fn")
      .collect()(0)
    assert(r.getLong(0) == fpRef("a"))
    assert(r.isNullAt(1))
    // every registered name: a value for well-typed input, NULL when any
    // input is an untyped or a typed NULL
    val str = ("'one two three'", "STRING")
    val longs = ("array(1L, 2L)", "ARRAY<BIGINT>")
    val vec = ("array(1.0f, 0.0f)", "ARRAY<FLOAT>")
    val toks = ("array('a', 'b', 'c')", "ARRAY<STRING>")
    Seq(
      ("graft_fingerprint64", Seq(str), Nil),
      ("graft_simhash64", Seq(longs), Nil),
      ("graft_cosine", Seq(vec, vec), Nil),
      ("graft_shingle_hashes", Seq(str), Seq("2")),
      ("graft_minhash", Seq(longs), Seq("4")),
      ("graft_sig_agreement", Seq(longs, longs), Nil),
      ("graft_tokenize", Seq(str), Nil),
      ("graft_ngrams", Seq(toks), Seq("2")),
      ("graft_nfc", Seq(str), Nil)).foreach { case (name, ins, consts) =>
      def run(args: Seq[String]) =
        spark.sql(s"SELECT $name(${(args ++ consts).mkString(", ")})").head()
      assert(!run(ins.map(_._1)).isNullAt(0), name)
      ins.indices.foreach { k =>
        Seq("NULL", s"CAST(NULL AS ${ins(k)._2})").foreach { nul =>
          assert(run(ins.map(_._1).updated(k, nul)).isNullAt(0), s"$name, input $k = $nul")
        }
      }
    }
    // and every Column helper the same way
    helperCalls.foreach { case (name, good, f) =>
      assert(!helperInputs.select(f(good)).head().isNullAt(0), name)
      good.indices.foreach { k =>
        Seq(lit(null), lit(null).cast(helperInputs.select(good(k)).schema.head.dataType))
          .foreach { nul =>
            assert(helperInputs.select(f(good.updated(k, nul))).head().isNullAt(0),
              s"$name, input $k = $nul")
          }
      }
    }
    // a wrong argument count fails with the function's name and arity
    Seq(
      ("graft_ngrams(array('a', 'b', 'c'), 2, '_')", "graft_ngrams", 2),
      ("graft_fingerprint64('a', 'zzz')", "graft_fingerprint64", 1),
      ("graft_fingerprint64()", "graft_fingerprint64", 1)).foreach { case (q, name, n) =>
      val ex = intercept[AnalysisException](spark.sql(s"SELECT $q").collect())
      assert(ex.getMessage.contains(name) && ex.getMessage.contains(s"requires $n parameters"),
        s"$q: ${ex.getMessage}")
    }
  }

  test("SQL registration: full dedup chain runs as pure SQL through the native kernels") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("doc one has words", "doc one has words"), ("other text here", "doc one has words"))
      .toDF("a", "b").createOrReplaceTempView("t_sql")
    val r = spark.sql(
      """SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c,
        |  graft_sig_agreement(graft_minhash(graft_shingle_hashes(a, 3), 8),
        |                      graft_minhash(graft_shingle_hashes(b, 3), 8)) AS agree_same,
        |  graft_sig_agreement(graft_minhash(graft_shingle_hashes('unrelated entirely', 3), 8),
        |                      graft_minhash(graft_shingle_hashes(b, 3), 8)) AS agree_diff
        |FROM t_sql WHERE a = b""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getInt(1) == 8, "identical docs agree on every minhash slot")
    assert(r.getInt(2) < 8, "unrelated docs must not agree everywhere")
    // non-literal k is rejected loudly
    val ex = intercept[Exception](
      spark.sql("SELECT graft_minhash(array(1L), length(a)) FROM t_sql").collect())
    assert(ex.getMessage.contains("INT literal") ||
      Option(ex.getCause).exists(_.getMessage.contains("INT literal")))
  }

  test("type check rejects non-string input") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq(1).toDF("i").select(GraftFunctions.fingerprint64(col("i"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("string") ||
      ex.getMessage.contains("DATATYPE_MISMATCH"))
    // every helper, each input in turn given a wrong type (INT, or
    // STRING where INT is expected): analysis rejects it — never an
    // implicit cast, never a run-time INTERNAL_ERROR
    helperCalls.foreach { case (name, good, f) =>
      good.indices.foreach { k =>
        val wrong = if (helperInputs.select(good(k)).schema.head.dataType ==
          org.apache.spark.sql.types.IntegerType) col("s") else col("i")
        val ex = intercept[AnalysisException](helperInputs.select(f(good.updated(k, wrong))))
        assert(ex.getCondition.startsWith("DATATYPE_MISMATCH"), s"$name, input $k: ${ex.getMessage}")
      }
    }
  }

  // ---- SimHash64 ----

  /** Reference vote fold mirroring the declarative twin's semantics. */
  private def shRef(hs: Seq[Long]): Long = {
    val votes = new Array[Int](64)
    hs.foreach(h => (0 until 64).foreach(b =>
      votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)))
    (0 until 64).foldLeft(0L)((acc, b) => if (votes(b) > 0) acc | (1L << b) else acc)
  }

  test("SimHash64 native expression == declarative twin == reference fold (codegen on)") {
    import spark.implicits._
    val data = Seq(
      Seq.empty[Long], Seq(0L), Seq(-1L), Seq(Long.MinValue, Long.MaxValue),
      (1L to 100L).map(i => i * 0x9e3779b97f4a7c15L))
    val df = data.toDF("hs").select(
      col("hs"),
      GraftFunctions.simhash64(col("hs")).as("native"),
      Twins.simhashFromHashes(col("hs")).as("twin"))
    df.collect().foreach { r =>
      val hs = r.getSeq[Long](0)
      assert(r.getLong(1) == shRef(hs), s"native vs ref for $hs")
      assert(r.getLong(1) == r.getLong(2), s"native vs declarative twin for $hs")
    }
  }

  test("MinHashSig native expression == declarative twin (codegen on)") {
    import spark.implicits._
    val data = Seq(Seq.empty[Long], Seq(7L), (1L to 50L).map(i => (i * 2654435761L) & 0x7fffffffL))
    val df = data.toDF("hs").select(
      GraftFunctions.minhashSig(col("hs"), 16).as("native"),
      Twins.minhashSignature(col("hs"), 16).as("twin"))
    df.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"native ${r.getSeq[Any](0)} != twin ${r.getSeq[Any](1)}")
    }
  }

  // ---- native vector kernels (CosineSim / IvfProbes / PlaneDots / RhpBucket) ----

  /** Deterministic float vectors, cluster-ish spread. */
  private def vecDf(n: Int, dim: Int) = {
    import org.apache.spark.sql.types._
    val rows = (0 until n).map { i =>
      org.apache.spark.sql.Row(i.toLong, Array.tabulate(dim)(d =>
        (graft.util.Det.double01(graft.util.Det.at(0xabcL + i, d.toLong)) * 2 - 1).toFloat))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(FloatType)))))
  }

  test("CosineSim native == HOF twin bit-for-bit on float vectors (codegen on)") {
    val df0 = vecDf(200, 16)
    val a = df0.select(col("id"), col("v").as("a"))
    val b = df0.select((col("id") + 100).as("id"), col("v").as("b"))
    val df = a.join(b, "id").select(
      GraftFunctions.cosineSim(col("a"), col("b")).as("native"),
      Twins.cosine(col("a"), col("b")).as("twin"))
    val rows = df.collect()
    assert(rows.length == 100)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != twin ${r.getDouble(1)}"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen:\n$plan")
  }

  test("IvfProbes nProbe=1 == nearestCentroidHof; probe list ranked by distance") {
    val cb = Array.tabulate(7)(c => Array.tabulate(16)(d =>
      graft.util.Det.double01(graft.util.Det.at(0xcb00L + c, d.toLong)) * 2 - 1))
    val df = vecDf(300, 16).select(
      graft.ops.Similarity.nearestCentroid(col("v"), cb).as("native"),
      Twins.nearestCentroidHof(col("v"), cb).as("twin"),
      GraftFunctions.ivfProbes(col("v"), cb, 7).as("allProbes"),
      col("v"))
    df.collect().foreach { r =>
      assert(r.getInt(0) == r.getInt(1), "assignment: native != HOF twin")
      val probes = r.getSeq[Int](2)
      assert(probes.length == 7 && probes.distinct.length == 7)
      assert(probes.head == r.getInt(0), "probe[0] must be the assignment")
      // ascending by true squared distance
      val v = r.getSeq[Float](3).map(_.toDouble)
      val d2 = (c: Int) => v.zip(cb(c)).map { case (x, y) => (x - y) * (x - y) }.sum
      val ds = probes.map(d2)
      assert(ds.zip(ds.tail).forall { case (x, y) => x <= y + 1e-9 }, s"not ascending: $ds")
    }
  }

  test("RhpBucket native == lshBucketHof twin; PlaneDots == per-plane dot twin") {
    val dim = 12
    val m = graft.ops.Similarity.planeMatrix(dim, 8)
    val df = vecDf(200, dim).select(
      graft.ops.Similarity.lshBucket(col("v"), dim, 8).as("native"),
      Twins.lshBucketHof(col("v"), dim, 8).as("twin"),
      GraftFunctions.planeDots(col("v"), m).as("dots"),
      array((0 until 8).map(p =>
        Twins.dot(col("v"), array(m(p).map(lit(_)): _*))): _*).as("dotsTwin"))
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "bucket: native != HOF twin")
      assert(r.getSeq[Double](2) == r.getSeq[Double](3), "plane dots: native != HOF twin")
    }
  }

  test("PqEncode picks per-subspace argmin (ties low); PqAdc matches the naive twin; codegen on") {
    val dim = 16; val m = 4; val codes = 5; val subDim = dim / m
    val cb: Array[Array[Array[Double]]] = Array.tabulate(m, codes, subDim)((s, c, d) =>
      graft.util.Det.double01(graft.util.Det.at(0xf00dL + s * 100 + c, d.toLong)) * 2 - 1)
    val df = vecDf(300, dim)
      .select(col("v"), GraftFunctions.pqEncode(col("v"), cb).as("code"))
      .select(col("v"), col("code"),
        GraftFunctions.pqAdc(col("v"), col("code"), cb).as("adc"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen:\n$plan")
    rows.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble)
      val code = r.getAs[Array[Byte]](1)
      assert(code.length == m)
      def sd2(s: Int, c: Int): Double = (0 until subDim).map { d =>
        val diff = v(s * subDim + d) - cb(s)(c)(d); diff * diff
      }.sum
      (0 until m).foreach { s =>
        val want = (0 until codes).minBy(c => (sd2(s, c), c))
        assert((code(s) & 0xff) == want, s"subspace $s: code ${code(s)} != argmin $want")
      }
      val twin = (0 until m).map(s => sd2(s, code(s) & 0xff)).sum
      assert(math.abs(r.getDouble(2) - twin) < 1e-9,
        s"adc ${r.getDouble(2)} != twin $twin")
    }
    // an exact-match codebook (the vector's own subvectors as code 0)
    // gives adc 0 — the asymmetric distance is exact at zero error
    val one = vecDf(1, dim).collect()(0).getSeq[Float](1).map(_.toDouble).toArray
    val exact = Array.tabulate(m, 1, subDim)((s, _, d) => one(s * subDim + d))
    val z = vecDf(1, dim).select(GraftFunctions.pqAdc(col("v"),
      GraftFunctions.pqEncode(col("v"), exact), exact)).collect()(0).getDouble(0)
    assert(z == 0.0)
  }

  test("corrupt (NaN) vectors degrade deterministically instead of crashing the probes") {
    import org.apache.spark.sql.types._
    val cb = Array.tabulate(4)(c => Array.tabulate(8)(d =>
      graft.util.Det.double01(graft.util.Det.at(0x41L + c, d.toLong)) * 2 - 1))
    val m = graft.ops.Similarity.planeMatrix(8, 6)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, Array.fill(8)(Float.NaN)),
      org.apache.spark.sql.Row(2L, Array.tabulate(8)(i =>
        if (i == 3) Float.NaN else 0.5f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(FloatType)))))
    val out = df.select(col("id"),
      GraftFunctions.ivfProbes(col("v"), cb, 4).as("probes"),
      GraftFunctions.rhpProbes(col("v"), m, 3).as("rhp")).collect()
    out.foreach { r =>
      val probes = r.getSeq[Int](1)
      assert(probes.length == 4 && probes.distinct.length == 4)
      assert(probes.forall(p => p >= 0 && p < 4))
      assert(r.getSeq[Long](2).length == 4) // own bucket + 3 probes, no crash
    }
    // the all-NaN row degrades to ascending centroid order
    assert(out.find(_.getLong(0) == 1L).get.getSeq[Int](1) == Seq(0, 1, 2, 3))
  }

  test("PqEncode/PqAdc null-propagate and reject non-vector input") {
    import spark.implicits._
    val cb = Array.tabulate(2, 2, 2)((s, c, d) => (s + c + d).toDouble)
    val r = vecDf(1, 4).select(
      GraftFunctions.pqEncode(lit(null).cast("array<float>"), cb),
      GraftFunctions.pqAdc(col("v"), lit(null).cast("binary"), cb)).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    val ex = intercept[Exception] {
      Seq(1).toDF("i").select(GraftFunctions.pqEncode(col("i"), cb)).collect()
    }
    assert(ex.getMessage.contains("DATATYPE_MISMATCH") ||
      ex.getMessage.toLowerCase.contains("array"))
  }

  test("CosineSim null-propagates and type check rejects non-vector input") {
    import spark.implicits._
    val r = vecDf(1, 4).select(
      GraftFunctions.cosineSim(col("v"), lit(null).cast("array<float>"))).collect()(0)
    assert(r.isNullAt(0))
    val ex = intercept[Exception] {
      Seq(1).toDF("i").select(GraftFunctions.cosineSim(col("i"), col("i"))).collect()
    }
    assert(ex.getMessage.contains("DATATYPE_MISMATCH") ||
      ex.getMessage.toLowerCase.contains("array"))
  }

  test("zero-norm cosine is 0.0 (never NaN) in kernel and twin — NaN would win every top-k") {
    import spark.implicits._
    val df = Seq(
      (Seq(0f, 0f, 0f), Seq(1f, 2f, 3f)),
      (Seq(1f, 2f, 3f), Seq(0f, 0f, 0f)),
      (Seq(0f, 0f, 0f), Seq(0f, 0f, 0f))).toDF("a", "b")
    val rows = df.select(
      GraftFunctions.cosineSim(col("a"), col("b")).as("native"),
      Twins.cosine(col("a"), col("b")).as("twin")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == 0.0, s"native ${r.getDouble(0)}")
      assert(r.getDouble(1) == 0.0, s"twin ${r.getDouble(1)}")
    }
    // and a failed-embedding (all-zeros) row must not displace a true
    // neighbor in a top-k
    val emb = Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    val top = graft.ops.Similarity.bruteForceTopK(emb, Seq(1f, 0f), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L), s"zero vector displaced a neighbor: $top")
  }

  test("TokenizeWords native == filter(split(lower)) twin on tricky strings; codegen on") {
    import spark.implicits._
    val data = Seq(
      "", "   ", "one", "One Two  THREE", "  lead and trail  ",
      "punct...runs!!!and??? more;;; tokens", "ünïcödé SEP ok",
      "digits 123 mix3d und_er_score", "a#b#c", "\ttabs\nnewlines\r")
    val df = data.toDF("t").select(col("t"),
      GraftFunctions.tokenizeWords(col("t")).as("native"),
      Twins.toksHof(col("t")).as("twin"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"tokens diverge for '${r.getString(0)}': " +
          s"native=${r.getSeq[String](1)} twin=${r.getSeq[String](2)}")
    }
    val big = spark.range(0, 20000, 1, 4)
      .select(concat(lit("Doc "), col("id"), lit(" has Words and 123")).as("t"))
      .select(size(GraftFunctions.tokenizeWords(col("t"))).as("n"))
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("*("))
    assert(big.filter(col("n") =!= 6).count() == 0)
    // null propagates
    val z = Seq("x").toDF("t")
      .select(GraftFunctions.tokenizeWords(lit(null).cast("string"))).collect()(0)
    assert(z.isNullAt(0))
  }

  test("CollapseWs native == trim(regexp_replace(s, \\s+, ' ')) twin byte-for-byte; codegen on") {
    import spark.implicits._
    val data = Seq(
      "", " ", "   ", "a", "  a  ", "a b", "a  b\t c",
      "\t\n\u000B\f\r mixed \t runs \r\n", "\u000Bonly-vtab\u000B",
      "ünï  cödé nbsp stays", // NBSP is NOT Java \s — must survive
      "line1\nline2\r\nline3", "trail space ", " lead", "a\u2028b",
      "multi   spaces    everywhere", "\ttabs\nnewlines\r")
    val df = data.toDF("t").select(col("t"),
      graft.functions.GraftFunctions.collapseWs(col("t")).as("native"),
      trim(regexp_replace(col("t"), "\\s+", " ")).as("twin"))
    df.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"collapse diverges for '${r.getString(0)}': " +
          s"native='${r.getString(1)}' twin='${r.getString(2)}'")
    }
    // codegen + null propagation
    val big = spark.range(0, 20000, 1, 4)
      .select(concat(lit("  doc\t"), col("id"), lit("  x \n")).as("t"))
      .select(graft.functions.GraftFunctions.collapseWs(col("t")).as("c"))
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("*("))
    val z = Seq("x").toDF("t")
      .select(graft.functions.GraftFunctions.collapseWs(lit(null).cast("string"))).collect()(0)
    assert(z.isNullAt(0))
  }

  test("CountInSet native == size(filter(isin)) HOF twin, counts occurrences") {
    import spark.implicits._
    val set = Seq("the", "and", "dan", "yang")
    val data = Seq(
      "", "the the the", "no hits here", "the and yang dan",
      "THE case sensitive post-lower", "mixed the bag and tail")
    val df = data.toDF("t").select(col("t"),
      GraftFunctions.countInSet(
        GraftFunctions.tokenizeWords(col("t")), set).as("native"),
      size(filter(GraftFunctions.tokenizeWords(col("t")),
        x => x.isin(set.map(lit): _*))).as("twin"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"count diverges for '${r.getString(0)}': ${r.getInt(1)} vs ${r.getInt(2)}")
    }
    // occurrences, not distinct membership
    assert(df.filter(col("t") === "the the the").head().getInt(1) == 3)
    // codegen + null propagation
    val big = spark.range(0, 10000, 1, 4)
      .select(concat(lit("the word "), col("id"), lit(" and more")).as("t"))
      .select(GraftFunctions.countInSet(
        GraftFunctions.tokenizeWords(col("t")), set).as("n"))
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("*("))
    assert(big.filter(col("n") =!= 2).count() == 0)
    val z = Seq("x").toDF("t").select(GraftFunctions.countInSet(
      lit(null).cast("array<string>"), set)).collect()(0)
    assert(z.isNullAt(0))
  }

  test("SentenceSplitSql / TokenXxhash64 natives == their HOF twins") {
    import spark.implicits._
    val data = Seq(
      "", "   ", "One sentence", "Two here. And two",
      "Trail dot. ", "a. b! c? d", "spaces   after.   next",
      "bang!and no space", "tab after.\tnext one", "nl after.\nnext",
      "dots... ellipsis. end", "Ünïcödé étude. Encore! fin")
    val df = data.toDF("t").select(col("t"),
      GraftFunctions.sentencesSql(col("t")).as("sn"),
      filter(transform(split(col("t"), "[.!?]\\s+"), x => trim(x)), x => x =!= "")
        .as("st"),
      GraftFunctions.tokenXxhash64(col("t")).as("hn"),
      transform(GraftFunctions.tokenizeWords(col("t")), x => xxhash64(x)).as("ht"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"sentences diverge for '${r.getString(0)}': " +
          s"native=${r.getSeq[String](1)} twin=${r.getSeq[String](2)}")
      assert(r.getSeq[Long](3) == r.getSeq[Long](4),
        s"token hashes diverge for '${r.getString(0)}'")
    }
    // null propagation + codegen
    val z = Seq("x").toDF("t").select(
      GraftFunctions.sentencesSql(lit(null).cast("string")),
      GraftFunctions.tokenXxhash64(lit(null).cast("string"))).collect()(0)
    assert(z.isNullAt(0) && z.isNullAt(1))
    val big = spark.range(0, 10000, 1, 4)
      .select(concat(lit("S one "), col("id"), lit(". S two! S three")).as("t"))
      .select(size(GraftFunctions.sentencesSql(col("t"))).as("n"),
        size(GraftFunctions.tokenXxhash64(col("t"))).as("m"))
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("*("))
    assert(big.filter(col("n") =!= 3 || col("m") =!= 7).count() == 0)
  }

  test("lambda-free token-count form == size(filter(split)) HOF form (q07 rewrite)") {
    import spark.implicits._
    val data = Seq(
      "", "   ", "\t\n", "a", " a ", "..a..", "a..b", "one two  three",
      "..lead", "trail..", "a.\n", "x..\n", ".\n.", "mixed,  punct!and words",
      "Ünïcödé étude", "line1\nline2\n")
    def hof(sep: String) = size(filter(split(col("t"), sep), x => x =!= ""))
    def flat(sep: String) = {
      val stripped = regexp_replace(col("t"), s"^$sep|$sep$$", "")
      when(stripped === "", 0).otherwise(size(split(stripped, sep)))
    }
    val df = data.toDF("t").select(col("t"),
      hof("\\W+").as("hw"), flat("\\W+").as("fw"),
      hof("\\s+").as("hs"), flat("\\s+").as("fs"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"\\W+ count diverges for '${r.getString(0)}': ${r.getInt(1)} vs ${r.getInt(2)}")
      assert(r.getInt(3) == r.getInt(4),
        s"\\s+ count diverges for '${r.getString(0)}': ${r.getInt(3)} vs ${r.getInt(4)}")
    }
  }

  test("NgramJoin native == interpreted transform(sequence, slice+array_join) twin") {
    import spark.implicits._
    val data = Seq(
      "", "   ", "one", "one two", "one two three",
      "Hello, World! hello world hello world again",
      "a b c d e f g h i j",
      "repeat repeat repeat repeat repeat",
      "Ünïcödé ÖK foo bar baz — em-dash «quotes»",
      "punct...runs!!!and??? more;;; tokens here now",
      "MiXeD CaSe ToKeNs MiXeD CaSe ToKeNs tail")
    for (n <- Seq(1, 2, 3, 5, 8)) {
      val toks = GraftFunctions.tokenizeWords(col("t"))
      val twin = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      val df = data.toDF("t").select(col("t"),
        GraftFunctions.ngramJoin(toks, n).as("native"), twin.as("twin"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"n=$n grams diverge for '${r.getString(0)}': " +
            s"native=${r.getSeq[String](1)} twin=${r.getSeq[String](2)}")
      }
    }
    // null array in -> null out; null ELEMENTS are skipped by the join
    // exactly like array_join without a replacement
    val edge = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRING>) AS a, array('x', NULL, 'y', 'z') AS b")
      .select(
        GraftFunctions.ngramJoin(col("a"), 2).as("na"),
        GraftFunctions.ngramJoin(col("b"), 2).as("nb"),
        transform(sequence(lit(0), size(col("b")) - 2),
          i => array_join(slice(col("b"), i + 1, lit(2)), " ")).as("tb"))
      .collect()(0)
    assert(edge.isNullAt(0))
    assert(edge.getSeq[String](1) == edge.getSeq[String](2))
    // codegen participation + SQL registration
    GraftFunctions.register(spark)
    val big = spark.range(0, 20000, 1, 4)
      .select(concat(lit("doc "), col("id"), lit(" has words and tail")).as("t"))
      .select(size(GraftFunctions.ngramJoin(
        GraftFunctions.tokenizeWords(col("t")), 3)).as("n"))
    big.collect()
    assert(big.queryExecution.executedPlan.toString.contains("*("))
    assert(big.filter(col("n") =!= 4).count() == 0)
    val viaSql = spark.sql(
      "SELECT graft_ngrams(graft_tokenize('one two three four'), 2) AS g")
      .collect()(0).getSeq[String](0)
    assert(viaSql == Seq("one two", "two three", "three four"))
  }

  test("ShingleHashes native == declarative shingleHashes(shingles(text)) twin") {
    import spark.implicits._
    val data = Seq(
      "", "   ", "one", "one two", "one two three",
      "Hello, World! hello world hello world again",
      "a b c d e f g h i j",
      "repeat repeat repeat repeat repeat",
      "Ünïcödé ÖK foo bar baz — em-dash «quotes»",
      "punct...runs!!!and??? more;;; tokens here now",
      "MiXeD CaSe ToKeNs MiXeD CaSe ToKeNs tail")
    val df = data.toDF("t").select(
      col("t"),
      GraftFunctions.shingleHashes(col("t"), 3).as("native"),
      Twins.shingleHashes(graft.ops.Dedup.shingles(col("t"), 3)).as("twin"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"shingle hashes diverge for '${r.getString(0)}': " +
          s"native=${r.getSeq[Long](1)} twin=${r.getSeq[Long](2)}")
    }
    // and the downstream signature built from the native hashes matches
    // the all-declarative signature
    val sig = data.toDF("t").select(
      GraftFunctions.minhashSig(GraftFunctions.shingleHashes(col("t"), 3), 16).as("native"),
      Twins.minhashSignature(
        Twins.shingleHashes(graft.ops.Dedup.shingles(col("t"), 3)), 16).as("twin"))
    sig.collect().foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
  }

  test("SigAgreement == zip_with twin; SigBandKeys separates differing bands, keeps equal ones") {
    import spark.implicits._
    val sigs = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 9L)),
      (Seq(1L, 2L, 3L, 4L), Seq(9L, 9L, 9L, 9L)))
    val df = sigs.toDF("a", "b").select(
      GraftFunctions.sigAgreement(col("a"), col("b")).as("native"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), v => v)).as("twin"))
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // band keys: equal slices -> equal keys, differing slices -> differing keys
    val keys = Seq((Seq(1L, 2L, 3L, 4L)), (Seq(1L, 2L, 9L, 9L))).toDF("sig")
      .select(GraftFunctions.sigBandKeys(col("sig"), 2).as("k")).collect()
      .map(_.getSeq[Long](0))
    assert(keys(0)(0) == keys(1)(0), "identical band 0 slices must share a key")
    assert(keys(0)(1) != keys(1)(1), "differing band 1 slices must split")
  }

  test("RhpProbes: head is the own bucket, probes flip ascending-margin planes, all distinct") {
    val dim = 12
    val m = graft.ops.Similarity.planeMatrix(dim, 8)
    val df = vecDf(100, dim).select(
      graft.ops.Similarity.lshBucket(col("v"), dim, 8).as("own"),
      GraftFunctions.rhpProbes(col("v"), m, 4).as("probes"),
      GraftFunctions.planeDots(col("v"), m).as("dots"))
    df.collect().foreach { r =>
      val probes = r.getSeq[Long](1)
      assert(probes.length == 5 && probes.distinct.length == 5)
      assert(probes.head == r.getLong(0), "probes[0] must be the own bucket")
      // each probe flips exactly one plane, in ascending |margin| order
      val dots = r.getSeq[Double](2).map(math.abs)
      val flipped = probes.tail.map(p => java.lang.Long.numberOfTrailingZeros(p ^ probes.head))
      assert(flipped.forall(p => (probes.head ^ probes(flipped.indexOf(p) + 1)) == (1L << p)))
      val margins = flipped.map(dots)
      assert(margins.zip(margins.tail).forall { case (x, y) => x <= y + 1e-12 },
        s"probe margins not ascending: $margins")
    }
  }

  test("SimHash64 agrees between codegen and interpreted paths on random token sets") {
    import spark.implicits._
    val df = spark.range(0, 2000, 1, 4)
      .select(transform(sequence(lit(1), (col("id") % 37 + 1).cast("int")),
        i => xxhash64(concat(col("id"), i))).as("hs"))
      .select(col("hs"), GraftFunctions.simhash64(col("hs")).as("h"))
    df.collect() // codegen path
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen:\n$plan")
    df.limit(50).collect().foreach(r => assert(r.getLong(1) == shRef(r.getSeq[Long](0))))
  }

  test("groupDispersion: identical vectors cos 1, antipodal cloud centroid ~0, zero vec cos 0") {
    import spark.implicits._
    val rows = Seq(
      // group t: three identical vectors -> mean/min cos 1, norm = |v|
      ("t", 1L, Seq(3.0f, 4.0f)), ("t", 2L, Seq(3.0f, 4.0f)), ("t", 3L, Seq(3.0f, 4.0f)),
      // group m: v and a scaled near-opposite -> centroid nonzero,
      // cos(v, c) = 1 and cos(-2v, c) = -1 (colinear cloud)
      ("m", 4L, Seq(1.0f, 0.0f)), ("m", 5L, Seq(-2.0f, 0.0f)),
      // group z: one zero vector among normals -> its cos defined 0
      ("z", 6L, Seq(0.0f, 0.0f)), ("z", 7L, Seq(0.0f, 5.0f))
    ).toDF("g", "vec_id", "embedding")
    val got = graft.ops.Similarity.groupDispersion(rows, "g")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("t") == ((3L, 5.0, 1.0, 1.0)))
    assert(got("m")._2 == 0.5)            // centroid (-0.5, 0)
    assert(got("m")._4 == -1.0)           // the flipped member
    assert(got("z")._1 == 2L && got("z")._4 == 0.0)  // zero vec scores 0
    assert(got("z")._3 == 0.5)            // mean of {0, 1}
  }
}
