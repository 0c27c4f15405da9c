package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    spark.sparkContext.setLogLevel("WARN")
    spark.createDataFrame(rows.map { case (i, t) => org.apache.spark.sql.Row(i, t) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
  }

  test("exact dedup groups case/whitespace-normalized duplicates, keeper = min id") {
    val d = docs(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "HELLO\nWORLD"),
      (4L, "something else"))
    val out = Dedup.exact(d).collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(out.toSeq == Seq((3L, 1L), (1L, 4L))) // (n, keeper)
  }

  test("shingles: word 3-grams, distinct, short docs degrade to one shingle") {
    val d = docs((1L, "a b c d"), (2L, "x y"))
    val out = d.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).toSet == Set("a b c", "b c d"))
    assert(out(2L) == Seq("x y"))
  }

  test("minhash LSH finds a planted near-duplicate pair and skips unrelated docs") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "CHANGED" else s"word$i").mkString(" ")
    val unrelated = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated), (4L, base)) // 4 = exact dup of 1
    val pairs = Dedup.minhashLsh(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted near-dup not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"unrelated doc paired: $pairs")
    // exact duplicate collapsed to representative 1 — no (1,4) pair emitted
    assert(!pairs.contains((1L, 4L)))
  }

  test("minhash estimate tracks true jaccard (planted overlap)") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = ((1 to 15).map(i => s"w$i") ++ (1 to 15).map(i => s"v$i")).mkString(" ")
    val d = docs((1L, a), (2L, b))
    val est = Dedup.minhashLsh(d, threshold = 0.0, bands = 32) // bucket everything
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .collect().headOption.map(_.getDouble(2))
    val truth = Dedup.ngramJaccard(d, docs().sparkSession.createDataFrame(
      Seq((1L, 2L))).toDF("id_a", "id_b"))
      .collect().head.getDouble(2)
    est.foreach(e => assert(math.abs(e - truth) < 0.35,
      s"minhash estimate $e too far from true jaccard $truth"))
  }

  test("simhash: identical texts collide, near texts close, unrelated far") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 50).map(i => if (i % 25 == 0) "flip" else s"tok$i").mkString(" ")
    val far = (1 to 50).map(i => s"zzz$i").mkString(" ")
    val d = docs((1L, base), (2L, near), (3L, far))
    val sh = d.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)),
      s"near ${ham(sh(1L), sh(2L))} !< far ${ham(sh(1L), sh(3L))}")
  }

  test("simhash pigeonhole blocking finds planted pairs at every distance <= maxDist") {
    import spark.implicits._
    // adversarial bit placement: differing bits scattered across the
    // whole word, so no single 16-bit prefix is clean — the round-1
    // single-prefix blocking missed these with ~99% probability
    val base = 0x0f0f0f0f0f0f0f0fL
    def flip(h: Long, bits: Seq[Int]): Long = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val rows = Seq(
      (1L, base),
      (2L, flip(base, Seq(63))),                      // distance 1
      (3L, flip(base, Seq(0, 9, 18, 27, 36, 45, 54, 63))), // distance 8
      (4L, flip(base, 0 until 48 by 4)),              // distance 12
      (5L, flip(base, 0 until 64 by 4)),              // distance 16
      (6L, ~base)                                     // distance 64 — unrelated
    ).toDF("id", "sh")
    val pairs = Dedup.simhashPairsFromHashes(rows, maxDist = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(1), s"d=1 pair missing: $pairs")
    assert(pairs.get((1L, 3L)).contains(8), s"d=8 pair missing: $pairs")
    assert(pairs.get((1L, 4L)).contains(12), s"d=12 pair missing: $pairs")
    assert(pairs.get((1L, 5L)).contains(16), s"d=16 pair missing: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 6L || p._2 == 6L), s"unrelated paired: $pairs")
  }

  test("decontaminate flags n-gram overlap with the benchmark; empty benchmark flags nothing") {
    val d = docs(
      (1L, (1 to 12).map(i => s"w$i").mkString(" ")),          // contains benchmark gram
      (2L, (20 to 40).map(i => s"v$i").mkString(" ")),         // clean
      (3L, (5 to 12).map(i => s"w$i").mkString(" ")))          // exactly the benchmark 8-gram
    val bench = docs((100L, (5 to 12).map(i => s"w$i").mkString(" ")))
    val out = Dedup.decontaminate(d, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == (1L, true))   // shares the w5..w12 gram
    assert(out(2L) == (0L, false))
    assert(out(3L) == (1L, true))
    val none = Dedup.decontaminate(d, docs()).collect()
    assert(none.forall(!_.getBoolean(2)))
  }

  test("paragraphDedup keeps exactly the first (doc, idx) occurrence of each normalized paragraph") {
    import spark.implicits._
    val paras = Seq(
      (1L, 0, "alpha beta"), (1L, 1, "gamma delta"),
      (2L, 0, "ALPHA   beta"),          // normalized dup of (1,0) -> drops
      (2L, 1, "unique two"),
      (0L, 5, "gamma delta"),           // LOWER doc id -> (1,1) drops instead
      (3L, 0, "alpha beta")             // drops
    ).toDF("doc_id", "idx", "para")
    val kept = Dedup.paragraphDedup(paras)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(kept == Set((1L, 0), (0L, 5), (2L, 1)))
  }

  test("connectedComponents: transitive clusters, bridges merge, singletons keep their id") {
    import spark.implicits._
    // chain 1-2-3 (no direct 1-3 pair), separate pair 7-8, then a
    // bridge 3-7 merges the two; 99 is isolated
    val nodes = Seq(1L, 2L, 3L, 7L, 8L, 99L).toDF("doc_id")
    val chain = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val cc1 = Dedup.connectedComponents(chain, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 99L -> 99L))
    val bridged = chain.unionByName(Seq((3L, 7L)).toDF("id_a", "id_b"))
    val cc2 = Dedup.connectedComponents(bridged, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 8L -> 1L, 99L -> 99L))
    // a long path exercises multi-round propagation (diameter 19)
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pathNodes = (0L to 19L).toDF("doc_id")
    val cc3 = Dedup.connectedComponents(path, pathNodes)
      .collect().map(r => r.getLong(1)).distinct
    assert(cc3.toSeq == Seq(0L))
  }

  test("lsh bucket cap bounds flooded buckets; audit companion enumerates the exclusions") {
    // boilerplate corpus: near-identical docs that defeat the exact-dup
    // collapse (one unique token each) and flood shared band buckets
    val boiler = (1 to 60).map(i =>
      (i.toLong, (1 to 30).map(j => s"tmpl$j").mkString(" ") + s" unique$i"))
    val d = docs(boiler: _*)
    val uncapped = Dedup.minhashLsh(d, threshold = 0.5).count()
    assert(uncapped > 1000, s"boilerplate corpus must flood buckets (got $uncapped pairs)")
    val capped = Dedup.minhashLsh(d, threshold = 0.5, maxBucket = 10).count()
    assert(capped < uncapped / 10, s"cap must bound the quadratic join ($capped vs $uncapped)")
    // the exclusion is not silent: the audit query reports each dropped
    // bucket with its size (same banding plan, same cap)
    val dropped = Dedup.lshOversizedBuckets(d, maxBucket = 10).collect()
    assert(dropped.nonEmpty, "audit companion must enumerate the dropped buckets")
    assert(dropped.forall(_.getLong(2) >= 50), s"flooded buckets hold ~all 60 docs: ${dropped.toSeq}")
    // ...and reports nothing when the cap never fired
    assert(Dedup.lshOversizedBuckets(d, maxBucket = 1000).isEmpty)
    // simhash audit companion, same contract
    import spark.implicits._
    val flood = (1L to 50L).map(i => (i, 0x1234L)).toDF("id", "sh")
    assert(Dedup.simhashOversizedBlocks(flood, maxDist = 3, maxBlock = 10).count() == 4L)
    assert(Dedup.simhashPairsFromHashes(flood, maxDist = 3, maxBlock = 10).count() == 0L)
  }

  /** Clustered embedding fixture: ANN recall is only meaningful when
    * neighborhoods EXIST. The driver's embeddings.parquet is i.i.d.
    * noise (measured: best cosine to any query ~0.33, no structure) —
    * there, no sublinear index can beat random candidate selection, so
    * recall is asserted on planted clusters and only candidate-count
    * monotonicity on the testdata table.
    */
  private def clustered(nClusters: Int, perCluster: Int, dim: Int, noise: Double) = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centroids = Array.fill(nClusters, dim)(rnd.nextGaussian())
    (0 until nClusters).flatMap { c =>
      (0 until perCluster).map { m =>
        val v = centroids(c).map(x => (x + noise * rnd.nextGaussian()).toFloat)
        ((c * perCluster + m).toLong, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  test("embedding near-dup pairs: finds planted same-cluster pairs, skips cross-cluster; cap audits") {
    val dim = 32
    // tight clusters: same-cluster cosine >> cross-cluster cosine
    val emb = clustered(nClusters = 12, perCluster = 4, dim = dim, noise = 0.03)
    val pairs = Similarity.embeddingNearDups(emb, dim, threshold = 0.9,
      bands = 6, planesPerBand = 6).collect()
    // every reported pair is same-cluster (verified cosine can't lie at 0.9)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(a / 4 == b / 4, s"cross-cluster pair ($a,$b) cos=${r.getDouble(2)}")
      assert(r.getDouble(2) >= 0.9)
    }
    // recall: most same-cluster pairs collide in >=1 of 6 bands
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = for (c <- 0 until 12; i <- 0 until 4; j <- i + 1 until 4)
      yield ((c * 4 + i).toLong, (c * 4 + j).toLong)
    val recall = all.count(found).toDouble / all.size
    assert(recall >= 0.8, s"near-dup recall $recall < 0.8 (${found.size}/${all.size})")
    // flood cap: identical vectors all share every band bucket; the cap
    // excludes them and the audit companion reports exactly those buckets
    import spark.implicits._
    val flood = (0L until 40L).map(i => (i, Seq.fill(dim)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDups(flood, dim, maxBucket = 10).count() == 0L)
    val audited = Similarity.embeddingOversizedBuckets(flood, dim, maxBucket = 10)
    assert(audited.count() == 4L) // one oversize bucket per band
    assert(audited.collect().forall(_.getLong(2) == 40L))
  }

  test("semanticDedup: planted copies pair at cos 1.0, noise stays unpaired; deterministic; cap audits") {
    import spark.implicits._
    val dim = 16
    // deterministic i.i.d. noise (pairwise cosine far below 0.99) +
    // exact copies of ids 0..4 planted at 1000+i — identical vectors
    // share a nearest centroid under ANY codebook, so cluster
    // bucketing must reunite every copy with its original
    val noise = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val planted = (0L until 5L).map(i => (1000L + i, noise(i.toInt)._2))
    val emb = (noise ++ planted).toDF("vec_id", "embedding")
    def run() = Similarity.semanticDedup(emb, dim, nClusters = 4,
      threshold = 0.99, sampleCap = 1000).collect()
    val pairs = run()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (0L until 5L).map(i => (i, 1000L + i)).toSet,
      "exactly the planted (original, copy) pairs")
    assert(pairs.forall(_.getDouble(3) == 1.0))
    // deterministic end to end (training sample, codebook, pairing)
    val again = run()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sortBy(p => (p._1, p._2))
      .sameElements(again.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).sortBy(p => (p._1, p._2))))
    // flood cap: identical vectors all land in one cluster; the cap
    // excludes them and the audit companion reports exactly that cluster
    val flood = (0L until 40L).map(i => (i, Seq.fill(dim)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.semanticDedup(flood, dim, nClusters = 2,
      threshold = 0.99, maxCluster = 10, sampleCap = 1000).count() == 0L)
    val audited = Similarity.semanticOversizedClusters(flood, dim,
      nClusters = 2, maxCluster = 10, sampleCap = 1000).collect()
    assert(audited.length == 1 && audited.head.getLong(1) == 40L)
  }

  test("multi-probe ANN recall@10 >= 0.9 vs brute-force ground truth (planted clusters)") {
    val dim = 64
    val emb = clustered(nClusters = 40, perCluster = 12, dim = dim, noise = 0.08)
    val qids = (0 until 8).map(c => (c * 12).toLong)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    val ann = Similarity.annTopK(emb, queries, dim = dim, k = 10, planes = 6, probes = 6)
      .collect()
      .groupBy(_.getAs[Number](0).longValue)
      .map { case (q, rows) => q -> rows.map(_.getAs[Number](1).longValue).toSet }
    val vecs = emb.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val recalls = qids.map { q =>
      val truth = vecs.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (-cos(vecs(q), v), id) }
        .take(10).map(_._1).toSet
      truth.intersect(ann.getOrElse(q, Set.empty)).size / 10.0
    }
    val mean = recalls.sum / qids.size
    assert(mean >= 0.9, s"mean recall@10 $mean < 0.9 (per-query: $recalls)")
  }

  test("multi-probe strictly improves over single-probe (same planes, same data)") {
    val emb = clustered(nClusters = 40, perCluster = 12, dim = 64, noise = 0.08)
    val queries = emb.filter(col("vec_id") % 12 === 0 && col("vec_id") < 96)
    def hits(probes: Int): Long =
      Similarity.annTopK(emb, queries, dim = 64, k = 10, planes = 6, probes = probes).count()
    assert(hits(6) > hits(0), "probing more buckets must surface more candidates")
    // the testdata table (unstructured) still gains candidates from probes
    val td = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tq = td.filter(col("vec_id") < 8)
    val h0 = Similarity.annTopK(td, tq, dim = 64, k = 10, planes = 6, probes = 0).count()
    val h4 = Similarity.annTopK(td, tq, dim = 64, k = 10, planes = 6, probes = 4).count()
    assert(h4 > h0)
  }

  test("brute-force cosine top-k: self-similar vector ranks first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, Seq(1.0f, 0.0f, 0.0f), k = 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getDouble(1) == 1.0)
  }

  test("ann lsh candidates rank by cosine within buckets") {
    import spark.implicits._
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.tabulate(8)(d => (graft.util.Det.double01(
        graft.util.Det.at(42L + i, d.toLong)) - 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.annTopK(vecs, vecs.filter(col("vec_id") < 3), dim = 8, k = 3, planes = 4)
      .collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sorted.reverse)) // rank order = sim desc
    }
  }

  test("IVF ANN: recall@10 >= 0.9 on planted clusters; probing more centroids helps") {
    val dim = 64
    val emb = clustered(nClusters = 40, perCluster = 12, dim = dim, noise = 0.08)
    val codebook = Similarity.trainIvf(emb, dim, nCentroids = 32, iters = 2)
    assert(codebook.length == 32 && codebook.forall(_.length == dim))
    val qids = (0 until 8).map(c => (c * 12).toLong)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    val ivf = Similarity.ivfTopK(emb, queries, dim, codebook, k = 10, nProbe = 2)
      .collect()
      .groupBy(_.getAs[Number](0).longValue)
      .map { case (q, rows) => q -> rows.map(_.getAs[Number](1).longValue).toSet }
    val vecs = emb.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val recalls = qids.map { q =>
      val truth = vecs.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (-cos(vecs(q), v), id) }
        .take(10).map(_._1).toSet
      truth.intersect(ivf.getOrElse(q, Set.empty)).size / 10.0
    }
    val mean = recalls.sum / qids.size
    assert(mean >= 0.9, s"IVF mean recall@10 $mean < 0.9 (per-query: $recalls)")
    // a deterministic codebook -> deterministic index
    val codebook2 = Similarity.trainIvf(emb, dim, nCentroids = 32, iters = 2)
    assert(codebook.zip(codebook2).forall { case (a, b) => a.sameElements(b) })
    // more probes, more candidates
    val h1 = Similarity.ivfTopK(emb, queries, dim, codebook, k = 10, nProbe = 1).count()
    val h4 = Similarity.ivfTopK(emb, queries, dim, codebook, k = 10, nProbe = 4).count()
    assert(h4 >= h1)
  }

  test("training accepts string ids and array<double> vectors (the kernels' full domain)") {
    val dim = 8
    val emb = clustered(nClusters = 4, perCluster = 10, dim = dim, noise = 0.05)
    // string ids (content hashes): cast-to-long would null them all and
    // the deterministic sample would degenerate — regression
    val strIds = emb.withColumn("vec_id", concat(lit("sha:"), col("vec_id")))
    val cbS1 = Similarity.trainIvf(strIds, dim, nCentroids = 4, iters = 2)
    val cbS2 = Similarity.trainIvf(strIds, dim, nCentroids = 4, iters = 2)
    assert(cbS1.zip(cbS2).forall { case (a, b) => a.sameElements(b) })
    // array<double> vectors: the search kernels accept them, so the
    // training collect must unbox them too (regression: getSeq[Float]
    // threw ClassCastException)
    val dbl = emb.withColumn("embedding",
      expr("transform(embedding, x -> cast(x as double))"))
    val cbD = Similarity.trainIvf(dbl, dim, nCentroids = 4, iters = 2)
    assert(cbD.length == 4 && cbD.forall(_.length == dim))
    val pq = Similarity.trainPq(dbl, dim, m = 2, codes = 4, iters = 1)
    assert(pq.length == 2)
  }

  test("lshDetectionProb: hand-computed S-curve values, endpoints, monotone in similarity") {
    import spark.implicits._
    val sims = Seq(0.0, 0.25, 0.5, 0.75, 1.0).toDF("s")
    // b=3, r=2: p(0.5) = 1-(1-0.25)^3 = 0.578125; p(0)=0; p(1)=1
    val got = sims
      .withColumn("p", Dedup.lshDetectionProb(col("s"), bands = 3, rowsPerBand = 2))
      .orderBy(col("s"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.map(_._1).sameElements(Array(0.0, 0.25, 0.5, 0.75, 1.0)))
    val ps = got.map(_._2)
    assert(ps(0) == 0.0 && ps(4) == 1.0)
    assert(math.abs(ps(2) - 0.578125) < 1e-9)
    // hand value at s=0.25: 1-(1-0.0625)^3 = 1-0.823974609375 = 0.176025 (round 6)
    assert(math.abs(ps(1) - 0.176025) < 1e-9)
    assert(ps.sliding(2).forall(w => w(0) <= w(1)), "S-curve must be monotone")
    // the x04 shipped config (b=8, r=4) at its verify threshold 0.2:
    // banding catches only ~1.3% of pairs at jaccard 0.2 — exactly why
    // the audit exists (detection is for CANDIDATES; the 0.2 verify
    // threshold prunes, it does not promise recall at 0.2)
    val atThresh = Seq(0.2).toDF("s")
      .select(Dedup.lshDetectionProb(col("s"), bands = 8, rowsPerBand = 4))
      .head().getDouble(0)
    assert(atThresh > 0.01 && atThresh < 0.02)
  }

  test("minhashLsh rejects a band count that does not tile the signature") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val bad = intercept[IllegalArgumentException] {
      Dedup.minhashLsh(d, bands = 40) // bands > k = 32: empty slices
    }
    assert(bad.getMessage.contains("divide"))
    val bad2 = intercept[IllegalArgumentException] {
      Dedup.minhashLsh(d, bands = 5) // 32 % 5 != 0: dropped slots
    }
    assert(bad2.getMessage.contains("divide"))
  }

  test("IVF-PQ ANN: recall@10 >= 0.9 via byte codes + exact re-rank; deterministic training") {
    val dim = 64
    val emb = clustered(nClusters = 40, perCluster = 12, dim = dim, noise = 0.08)
    val coarse = Similarity.trainIvf(emb, dim, nCentroids = 32, iters = 2)
    val pq = Similarity.trainPq(emb, dim, m = 8, codes = 32, iters = 2)
    assert(pq.length == 8 && pq.forall(b => b.length == 32 && b.forall(_.length == 8)))
    val qids = (0 until 8).map(c => (c * 12).toLong)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    val got = Similarity.ivfPqTopK(emb, queries, dim, coarse, pq,
        k = 10, nProbe = 2, rerank = 50)
      .collect()
      .groupBy(_.getAs[Number](0).longValue)
      .map { case (q, rows) => q -> rows.map(_.getAs[Number](1).longValue).toSet }
    val vecs = emb.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val recalls = qids.map { q =>
      val truth = vecs.toSeq.filter(_._1 != q)
        .sortBy { case (id, v) => (-cos(vecs(q), v), id) }
        .take(10).map(_._1).toSet
      truth.intersect(got.getOrElse(q, Set.empty)).size / 10.0
    }
    val mean = recalls.sum / qids.size
    assert(mean >= 0.9, s"IVF-PQ mean recall@10 $mean < 0.9 (per-query: $recalls)")
    // deterministic PQ training -> deterministic index
    val pq2 = Similarity.trainPq(emb, dim, m = 8, codes = 32, iters = 2)
    assert(pq.zip(pq2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // re-ranked results are ordered by exact cosine within each query
    val rows = Similarity.ivfPqTopK(emb, queries, dim, coarse, pq,
      k = 10, nProbe = 2, rerank = 50).collect()
    rows.groupBy(_.getAs[Number](0).longValue).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sameElements(sims.sorted.reverse))
    }
  }

  test("residual PQ: quantization error well below raw at identical shape; recall holds; deterministic") {
    val dim = 64
    // wide within-cluster noise + one coarse cell per cluster: raw PQ
    // with 4 codes/subspace must span the GLOBAL spread (whole
    // clusters collapse to one code, ADC ties), while residual PQ
    // only quantizes the within-cell offsets — the regime residual
    // quantization exists for
    val emb = clustered(nClusters = 40, perCluster = 12, dim = dim, noise = 0.25)
    // a CONVERGED coarse book is the residual contract's precondition
    // (residuals are only small when cells track clusters): 2 rounds
    // left cells misaligned under some training samples, making the
    // residual-vs-raw comparison flip on sample perturbations
    val coarse = Similarity.trainIvf(emb, dim, nCentroids = 40, iters = 5)
    // rerank = k keeps the candidate set ADC-decided (a large rerank
    // would let the exact re-rank mask codebook quality)
    val raw = Similarity.trainPq(emb, dim, m = 8, codes = 4, iters = 2)
    val res = Similarity.trainPq(emb, dim, m = 8, codes = 4, iters = 2, coarse = coarse)
    // all 40 cluster heads as queries: an 8-query mean is hostage to
    // ±1-hit noise per query, which once flipped the comparison on a
    // legitimate training-sample change
    val qids = (0 until 40).map(c => (c * 12).toLong)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    val vecs = emb.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def meanRecall(pq: Array[Array[Array[Double]]], residual: Boolean): Double = {
      val got = Similarity.ivfPqTopK(emb, queries, dim, coarse, pq,
          k = 10, nProbe = 2, rerank = 10, residual = residual)
        .collect()
        .groupBy(_.getAs[Number](0).longValue)
        .map { case (q, rows) => q -> rows.map(_.getAs[Number](1).longValue).toSet }
      qids.map { q =>
        val truth = vecs.toSeq.filter(_._1 != q)
          .sortBy { case (id, v) => (-cos(vecs(q), v), id) }
          .take(10).map(_._1).toSet
        truth.intersect(got.getOrElse(q, Set.empty)).size / 10.0
      }.sum / qids.size
    }
    // the STRUCTURAL residual claim — finer codes at identical index
    // shape — is quantization error, asserted directly (deterministic;
    // recall saturates at the nProbe candidate ceiling for BOTH
    // variants on this corpus, so a recall comparison there only
    // measures tie-break luck): mean squared reconstruction error of
    // residual coding must undercut raw coding decisively
    def sqErr(v: Array[Float], book: Array[Array[Array[Double]]],
              base: Array[Double]): Double = {
      val m = book.length; val sub = dim / m
      var e = 0.0; var s = 0
      while (s < m) {
        var best = Double.MaxValue
        book(s).foreach { c =>
          var d = 0.0; var i = 0
          while (i < sub) {
            val x = v(s * sub + i) - base(s * sub + i) - c(i); d += x * x; i += 1
          }
          if (d < best) best = d
        }
        e += best; s += 1
      }
      e
    }
    val zero = Array.fill(dim)(0.0)
    def nearestCoarse(v: Array[Float]): Array[Double] =
      coarse.minBy { c =>
        var d = 0.0; var i = 0
        while (i < dim) { val x = v(i) - c(i); d += x * x; i += 1 }
        d
      }
    val (rawErr, resErr) = vecs.values.foldLeft((0.0, 0.0)) { case ((a, b), v) =>
      (a + sqErr(v, raw, zero), b + sqErr(v, res, nearestCoarse(v)))
    }
    assert(resErr < rawErr * 0.5,
      s"residual quantization error $resErr not well below raw $rawErr")
    val rawRecall = meanRecall(raw, residual = false)
    val resRecall = meanRecall(res, residual = true)
    assert(resRecall >= 0.9, s"residual ADC recall@10 $resRecall < 0.9")
    assert(rawRecall >= 0.7, s"raw ADC recall@10 $rawRecall < 0.7 (shared harness sanity)")
    // deterministic residual training
    val res2 = Similarity.trainPq(emb, dim, m = 8, codes = 4, iters = 2, coarse = coarse)
    assert(res.zip(res2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
  }
  test("dedupLinesWithin keeps first occurrence per doc; cross-doc repeats untouched") {
    import spark.implicits._
    val lines = Seq(
      (1L, 0, "Nav  Bar"), (1L, 1, "real content"), (1L, 2, "nav bar"), (1L, 3, "more text"),
      (2L, 0, "nav bar"), // same line in another doc: kept (intra-doc rule only)
      (2L, 1, "footer"), (2L, 2, "footer"), (2L, 3, "footer")
    ).toDF("doc_id", "idx", "line")
    val got = Dedup.dedupLinesWithin(lines)
      .orderBy(col("doc_id"), col("idx"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    // (1,2) drops (normalized == (1,0)); (2,2)/(2,3) drop; (2,0) survives
    assert(got == Seq(
      (1L, 0, "Nav  Bar"), (1L, 1, "real content"), (1L, 3, "more text"),
      (2L, 0, "nav bar"), (2L, 1, "footer")))
  }

  test("winnowFingerprints: shared k+w-1 run guarantees a shared fp; short docs; density < all-grams") {
    import spark.implicits._
    // k=5, w=4 -> any shared run of 8 tokens shares a fingerprint.
    // docs 1 and 2 share exactly the 8-token run "a b c d e f g h"
    // embedded in different surroundings; doc 3 is unrelated; doc 4
    // has < k tokens; doc 5 has >= k tokens but < w grams (6 toks ->
    // 2 grams) and must emit exactly ONE fingerprint
    val docs = Seq(
      (1L, "x1 y1 a b c d e f g h z1 w1 q1 r1"),
      (2L, "mm nn oo a b c d e f g h pp"),
      (3L, "totally different words here nothing shared at all ok"),
      (4L, "too few"),
      (5L, "just six tokens right here now")
    ).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((byDoc(1L) & byDoc(3L)).isEmpty && (byDoc(2L) & byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L), "doc shorter than k emits no fingerprints")
    assert(byDoc(5L).size == 1, "doc with < w grams keeps the min over all its grams")
    // density: winnowing keeps strictly fewer hashes than the gram count
    val n1Grams = 14 - 5 + 1
    assert(byDoc(1L).size < n1Grams)
    // determinism
    val again = Dedup.winnowFingerprints(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == fp.toSet)
  }

  test("keepBestPerCluster: highest score survives, lowest id on ties, singletons kept") {
    import spark.implicits._
    val comps = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1
      (4L, 4L), (5L, 4L),             // cluster 4: tie on score
      (6L, 6L)                        // singleton
    ).toDF("doc_id", "component")
    val scores = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L),
      (4L, 7L), (5L, 7L),
      (6L, 1L)).toDF("doc_id", "score")
    val got = Dedup.keepBestPerCluster(comps, scores)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 10L, false), (2L, 1L, 99L, true), (3L, 1L, 50L, false),
      (4L, 4L, 7L, true), (5L, 4L, 7L, false),   // tie -> lower id
      (6L, 6L, 1L, true)))
    // exactly one survivor per component
    val perComp = got.groupBy(_._2).view.mapValues(_.count(_._4)).toMap
    assert(perComp.values.forall(_ == 1))
  }

  test("dupFlowMatrix: unordered source pairs, intra vs cross counts, doc totals attached") {
    import spark.implicits._
    val docs = Seq(
      (1L, "web"), (2L, "web"), (3L, "web"),
      (4L, "books"), (5L, "books"), (6L, "wiki")).toDF("doc_id", "source")
    val pairs = Seq(
      (1L, 2L),   // intra web
      (2L, 4L),   // web x books
      (4L, 1L),   // books x web (reversed ids -> same unordered pair)
      (5L, 6L)    // books x wiki
    ).toDF("id_a", "id_b")
    val got = Dedup.dupFlowMatrix(pairs, docs)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("books", "web", 2L, 2L, 3L),
      ("books", "wiki", 1L, 2L, 1L),
      ("web", "web", 1L, 3L, 3L)))
  }

  test("shingleContainment: subset doc scores 1.0 one-way; disjoint pair scores 0") {
    import spark.implicits._
    val core = "the quick brown fox jumps over the lazy dog" // 9 tokens -> 7 shingles
    val d = docs(
      (1L, core),
      (2L, "intro words here " + core + " and a long tail of extra words follows after"),
      (3L, "completely different content entirely with more words padding the set"))
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.shingleContainment(d, pairs).orderBy("id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getDouble(5), r.getBoolean(7)))
    // (id_a, id_b, n_shingles_a, n_common, containment_a_in_b, superset_dup)
    assert(got(0) == ((1L, 2L, 7L, 7L, 1.0, true)))
    assert(got(1) == ((1L, 3L, 7L, 0L, 0.0, false)))
  }

  test("incrementalDedup: dup_of_old / dup_in_new / unique with canonical survivors") {
    val oldD = docs((1L, "alpha text"), (2L, "beta text"))
    val newD = docs(
      (10L, "Alpha  TEXT"),  // normalizes to old doc 1's content
      (11L, "gamma text"), (12L, "gamma text"), (13L, "delta text"))
    val got = Dedup.incrementalDedup(oldD, newD).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (10L, "dup_of_old", 1L),
      (11L, "unique", 11L),
      (12L, "dup_in_new", 11L),
      (13L, "unique", 13L)))
  }

  test("editDistVerify: exact distances, threshold cutoff, length gate, empty-pair guard") {
    val d = docs(
      (1L, "kitten"), (2L, "sitting"),        // classic distance 3
      (3L, "same text"), (4L, "same text"),   // identical -> 0, sim 1.0
      (5L, "ab"), (6L, "abcdefgh"),           // len gap 6 > maxDist 3 -> gated -1
      (7L, "abcd"), (8L, "wxyz"),             // distance 4 > maxDist 3 -> banded -1
      (9L, ""), (10L, ""))                    // empty pair: dist 0, sim 1.0 (no /0)
    val pairs = spark.createDataFrame(
      Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L), (9L, 10L))
        .map { case (a, b) => org.apache.spark.sql.Row(a, b) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType))))
    val got = Dedup.editDistVerify(d, pairs, maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(4),
        if (r.isNullAt(5)) Double.NaN else r.getDouble(5), r.getBoolean(6)))
      .sortBy(_._1)
    assert(got(0) == ((1L, 3L, 0.5714, true))) // round(1 - 3/7, 4)
    assert(got(1) == ((3L, 0L, 1.0, true)))
    assert(got(2)._2 == -1L && got(2)._3.isNaN && !got(2)._4) // length-gated
    assert(got(3)._2 == -1L && got(3)._3.isNaN && !got(3)._4) // band-abandoned
    assert(got(4) == ((9L, 0L, 1.0, true)))                    // greatest(len,1) guard
  }
}
