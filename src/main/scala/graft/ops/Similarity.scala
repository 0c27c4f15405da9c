package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.util.Pin

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three paths, per the scale playbook:
  *  - brute-force cosine top-k — exact, one pass, fine when the query
  *    set is small (broadcast) even at huge corpus size;
  *  - random-hyperplane LSH buckets with multi-probe — the untrained
  *    scale path: candidates only meet within a bucket, turning the
  *    quadratic all-pairs into a per-bucket join;
  *  - IVF with a deterministically trained k-means codebook — the
  *    trained scale path: vectors route to their nearest centroid,
  *    queries probe nProbe centroid buckets.
  *
  * Hot-path vector math is native codegen ([[GraftFunctions.cosineSim]],
  * [[GraftFunctions.ivfProbes]], [[GraftFunctions.planeDots]],
  * [[GraftFunctions.rhpBucket]] — one fused loop per row). Their
  * `aggregate(zip_with(...))` higher-order twins are law-checked in
  * FunctionsSpec only: HOFs are CodegenFallback (interpreted tree walk
  * per row — measured 151 s for 2,000 dim-64 IVF assignments in round
  * 2), so they must never sit on a per-row or per-candidate path.
  */
object Similarity {

  /** Training-sample cap of every codebook trained here ([[trainIvf]],
    * [[trainPq]], [[semanticDedup]] and its audit companion).
    */
  private val SampleCap = 100000
  /** Lloyd rounds of [[semanticDedup]], shared with its audit
    * companion [[semanticOversizedClusters]] so both see one codebook.
    */
  private val SemanticIters = 2
  /** Banding of [[embeddingNearDups]], shared with its audit companion
    * [[embeddingOversizedBuckets]].
    */
  private val RpBands = 4
  private val RpPlanesPerBand = 8

  /** Exact top-k most-similar vectors to one query vector (brute
    * force). The query is a plan literal -> broadcast by construction;
    * the scan is embarrassingly parallel, the only shuffle is the
    * final top-k (a single reduction).
    */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Float], k: Int = 10): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    embeddings
      .select(col("vec_id"), round(GraftFunctions.cosineSim(col("embedding"), q), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the trained-codebook scale path beside
  // the LSH one: a small k-means codebook routes vectors to centroid
  // buckets; queries probe their nProbe nearest centroids. The
  // codebook is tiny by design (it IS the broadcast side); training
  // is Lloyd iterations as DataFrame aggregations over a deterministic
  // hash-ordered sample (seeded init, no RNG), so the index is
  // reproducible.
  // ------------------------------------------------------------------

  /** Nearest-centroid id for a vector column — native fused loop
    * ([[GraftFunctions.ivfProbes]] with nProbe=1); ties
    * to the lower centroid id, matching its HOF twin exactly.
    */
  def nearestCentroid(vec: Column, codebook: Array[Array[Double]]): Column =
    element_at(GraftFunctions.ivfProbes(vec, codebook, 1), 1)

  /** Train a deterministic IVF codebook on a deterministic sample:
    * the `sampleCap` vectors FIRST IN HASH ORDER of their id — a
    * deterministic pseudo-random sample spread across the corpus
    * (taking the smallest ids would stack centroids inside whatever
    * happens to come first). Init = the first `nCentroids` of that
    * sample (identical to full-corpus training whenever the corpus
    * fits under the cap), then `iters` Lloyd rounds over the sample,
    * each one distributed aggregation (posexplode to (cluster, dim)
    * cells, mean per cell). Empty clusters keep their previous
    * centroid.
    *
    * 10^12-scale contract (mirrors the LSH cap contract in
    * [[Dedup]]): training never takes a full-corpus pass — k-means
    * quality saturates long before 10^5 points per pass — and the
    * corpus is assigned exactly once, by [[ivfTopK]], through the
    * native single-loop expression. The per-round `.collect()` is
    * k x dim cell means, never data rows.
    */
  def trainIvf(embeddings: DataFrame, dim: Int, nCentroids: Int, iters: Int = 2,
               sampleCap: Int = SampleCap): Array[Array[Double]] = {
    require(sampleCap >= nCentroids, "sampleCap must cover the centroid init")
    val sample = Pin.once(detSample(embeddings, sampleCap))
    try lloyd(sample, col("v"), nCentroids, iters)
    finally Pin.release(sample)
  }

  /** Deterministic hash-ordered training sample (see [[trainIvf]] doc).
    * Repartitioned after the top-k limit: a bare limit() funnels
    * through one partition, which would serialize every Lloyd round to
    * a single task; [[lloyd]]'s init re-sorts so the hash order
    * survives the repartition.
    */
  private def detSample(embeddings: DataFrame, sampleCap: Int): DataFrame =
    embeddings
      // hash the STRING form of the id: a cast to long nulls every
      // non-numeric id (content hashes, URLs), collapsing the
      // deterministic hash order into an arbitrary all-ties pick
      .select(col("vec_id").cast("string").as("id"), col("embedding").as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleCap)
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism)

  /** `iters` Lloyd rounds over `sample` (columns `id`, and `vecExpr`
    * the float-array to cluster): init = first `nCentroids` in id-hash
    * order, each round one distributed aggregation (posexplode to
    * (cluster, dim) cells, mean per cell); empty clusters keep their
    * previous centroid. The per-round `.collect()` is k x dim cell
    * means, never data rows.
    */
  private def lloyd(sample: DataFrame, vecExpr: Column, nCentroids: Int,
                    iters: Int): Array[Array[Double]] = {
    var codebook: Array[Array[Double]] = sample
      .select(col("id"), vecExpr.as("__tv"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nCentroids)
      .collect()
      // Number, not Float: the kernels accept array<float|double>, so
      // the training side must unbox either element type
      .map(_.getSeq[Number](1).map(_.doubleValue()).toArray)
    var it = 0
    while (it < iters) {
      val assigned = sample
        .select(vecExpr.as("__tv"))
        .select(nearestCentroid(col("__tv"), codebook).as("cl"),
          posexplode(col("__tv")))
      val means = assigned
        .groupBy(col("cl"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .collect()
      val next = codebook.map(_.clone())
      means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      codebook = next
      it += 1
    }
    codebook
  }

  /** Train per-subspace product-quantization codebooks on the same
    * deterministic sample as [[trainIvf]]: the vector splits into `m`
    * contiguous subspaces of dim/m dimensions; each gets its own
    * `codes`-centroid k-means codebook (Lloyd over the sample, seeded
    * init — fully deterministic). Result shape: m x codes x (dim/m).
    *
    * One sample pass per (subspace, round); the corpus itself is
    * encoded exactly once, by [[ivfPqTopK]], through the native
    * [[GraftFunctions.pqEncode]] fused loop.
    */
  def trainPq(embeddings: DataFrame, dim: Int, m: Int = 8, codes: Int = 16,
              iters: Int = 2,
              coarse: Array[Array[Double]] = Array.empty): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    require(codes >= 1 && codes <= 256, "PQ codes are one byte: 1..256 per subspace")
    require(SampleCap >= codes, "sampleCap must cover the centroid init")
    val residual = coarse.nonEmpty
    require(!residual || coarse.head.length == dim,
      s"coarse centroids must have dim $dim")
    val subDim = dim / m
    val sample0 = detSample(embeddings, SampleCap)
    // residual mode quantizes v - coarse[cell] (cell assigned once per
    // sample row by the native kernel); the assignment column rides
    // along so each Lloyd round stays ONE aggregation
    val sample = Pin.once(if (residual)
        sample0.withColumn("__cell", nearestCentroid(col("v"), coarse))
      else sample0.withColumn("__cell", lit(0)))
    try {
      // one init collect for ALL subspaces (the same first-`codes`
      // sample vectors — residuals in residual mode, against the
      // KERNEL-assigned cell the sample row already carries (__cell),
      // so init and Lloyd rounds agree bit-for-bit on near-equidistant
      // vectors — sliced per subspace)
      val initFull: Array[Array[Double]] = sample
        .orderBy(xxhash64(col("id")), col("id"))
        .limit(codes)
        .collect()
        .map { r =>
          val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
          if (residual) {
            val c = coarse(r.getInt(2))
            Array.tabulate(dim)(i => v(i) - c(i))
          } else v
        }
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m)(s => initFull.map(_.slice(s * subDim, (s + 1) * subDim)))
      // each Lloyd round is ONE distributed aggregation covering every
      // subspace: the native pqCodes assignment emits all m cluster
      // ids per row, posexplode splits the vector into (subspace,
      // dim-within-subspace) cells, and the (s, cluster, d) mean is a
      // single hash agg — m x iters per-subspace jobs collapse to
      // `iters` jobs. Empty clusters keep their previous centroid; the
      // per-round collect is m x codes x subDim cell means, never data
      // rows. In residual mode the averaged component is the residual
      // (coarse lookup via element_at on a plan literal — codegen'd,
      // no HOF).
      val coarseLit =
        if (residual) typedLit(coarse.map(_.toSeq).toSeq) else lit(null)
      var it = 0
      while (it < iters) {
        val codesCol =
          if (residual) GraftFunctions.pqCodesRes(col("v"), col("__cell"), coarse, books)
          else GraftFunctions.pqCodes(col("v"), books)
        val means = sample
          .select(col("__cell"), codesCol.as("__codes"), posexplode(col("v")))
          .select(floor(col("pos") / subDim).cast("int").as("s"),
            col("pos"),
            (if (residual)
              col("col") - element_at(element_at(coarseLit, col("__cell") + 1),
                col("pos") + 1)
            else col("col").cast("double")).as("component"),
            col("__codes"))
          .select(col("s"),
            element_at(col("__codes"), col("s") + 1).as("cl"),
            pmod(col("pos"), lit(subDim)).as("d"),
            col("component"))
          .groupBy(col("s"), col("cl"), col("d"))
          .agg(avg(col("component")).as("mean"))
          .collect()
        val next = books.map(_.map(_.clone()))
        means.foreach(r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
        books = next
        it += 1
      }
      books
    } finally Pin.release(sample)
  }

  /** IVF-PQ ANN top-k with exact re-rank — the 10^12-vector shape of
    * [[ivfTopK]]. The corpus index row is (cell, id, m-byte PQ code):
    * candidates shuffle as `m` BYTES instead of dim floats (dim=64,
    * m=8 float32: 32x less candidate traffic through the probe join —
    * at 10^12 vectors the candidate shuffle IS the cost). Queries
    * probe `nProbe` coarse cells, rank candidates by asymmetric
    * distance (exact query subvectors vs the candidate's quantized
    * centroids, [[GraftFunctions.pqAdc]] — one fused loop), keep the
    * best `rerank` per query, and only THOSE re-fetch their exact
    * vectors (a semi-join back to the corpus, |Q| x rerank rows) for
    * exact-cosine re-ranking. `residual = true` quantizes each
    * vector's OFFSET from its coarse centroid instead of the raw
    * vector (train the pq codebooks with the same `coarse` via
    * trainPq(..., coarse = coarse)) — the classic recall improvement
    * at identical index shape and candidate traffic; both variants
    * are fully deterministic.
    *
    * Both codebooks live inside native expressions — broadcast by
    * construction; shuffles: the probe join (bytes), the re-rank
    * fetch join (top-rerank ids only), the final per-query window.
    */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, dim: Int,
                coarse: Array[Array[Double]], pq: Array[Array[Array[Double]]],
                k: Int = 10, nProbe: Int = 2, rerank: Int = 50,
                residual: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val index = embeddings
      .select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("cl", nearestCentroid(col("v"), coarse))
      .select(col("id"), col("cl"),
        (if (residual) GraftFunctions.pqEncodeRes(col("v"), col("cl"), coarse, pq)
        else GraftFunctions.pqEncode(col("v"), pq)).as("code"))
    val probes = math.max(1, math.min(nProbe, coarse.length))
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("cl", explode(GraftFunctions.ivfProbes(col("qv"), coarse, probes)))
    val keep = math.max(rerank, k)
    val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("id"))
    val survivors = qs.join(index, Seq("cl"))
      .filter(col("qid") =!= col("id"))
      // residual ADC compares q - coarse[cl] against the candidate's
      // residual code; cl is the probe-join key, already on the row.
      // adc is computed MAP-SIDE (qs broadcasts into the probe join),
      // then qv is dropped before the per-query ranking window — the
      // candidate rows crossing that shuffle are (qid, id, adc), not
      // dim floats per candidate; the re-rank recovers qv from the
      // |Q|-row query side afterwards
      .withColumn("adc",
        if (residual) GraftFunctions.pqAdcRes(col("qv"), col("cl"), col("code"), coarse, pq)
        else GraftFunctions.pqAdc(col("qv"), col("code"), pq))
      .select(col("qid"), col("id"), col("adc"))
      .withColumn("rn0", row_number().over(wAdc))
      .filter(col("rn0") <= keep)
      .select(col("qid"), col("id"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    survivors
      .join(embeddings.select(col("vec_id").as("id"), col("embedding").as("v")), Seq("id"))
      .join(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))),
        Seq("qid"))
      .withColumn("sim", round(GraftFunctions.cosineSim(col("qv"), col("v")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rn"))
  }

  /** IVF ANN top-k: vectors bucketed by nearest centroid; each query
    * probes its `nProbe` nearest centroids (standard IVF search). The
    * codebook lives inside the native expression — broadcast by
    * construction; the only shuffle is the bucket join. One
    * centroid-scoring projection per side: the corpus side assigns
    * (nProbe=1), the query side ranks its probes in the same fused
    * loop that computes the distances.
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, dim: Int,
              codebook: Array[Array[Double]], k: Int = 10, nProbe: Int = 2): DataFrame = {
    val emb = embeddings.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("cl", nearestCentroid(col("v"), codebook))
    val probes = math.max(1, math.min(nProbe, codebook.length))
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("cl", explode(GraftFunctions.ivfProbes(col("qv"), codebook, probes)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    qs.join(emb, Seq("cl"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", round(GraftFunctions.cosineSim(col("qv"), col("v")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rn"))
  }

  /** Deterministic pseudo-random hyperplanes (components in
    * [-0.5, 0.5), Det-keyed) as a driver-side matrix — the constant
    * side of the native [[GraftFunctions.planeDots]] /
    * [[GraftFunctions.rhpBucket]] expressions.
    */
  private[graft] def planeMatrix(dim: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(planes) { p =>
      Array.tabulate(dim) { d =>
        graft.util.Det.double01(graft.util.Det.at(0xb00cL + p, d.toLong)) - 0.5
      }
    }

  /** Sign-random-projection bucket id: `planes` deterministic
    * hyperplanes; bit i = sign of dot(v, plane_i). Native fused loop.
    */
  def lshBucket(vec: Column, dim: Int, planes: Int = 12): Column =
    GraftFunctions.rhpBucket(vec, planeMatrix(dim, planes))

  /** Embedding-cosine near-duplicate PAIRS (the vector-space sibling of
    * [[Dedup.minhashLsh]]): banded sign-random-projection LSH — `bands`
    * independent sets of `planesPerBand` hyperplanes; two vectors are
    * candidates iff they share a full band bucket (all signs of one
    * band agree), candidates are verified by exact cosine >= threshold
    * and deduped. All per-row math is native codegen: ONE fused
    * [[GraftFunctions.planeDots]] loop computes every band's
    * projections; the verify is [[GraftFunctions.cosineSim]].
    *
    * Collision probability per band is (1 - theta/pi)^planesPerBand
    * (theta = angle between the vectors), so bands x planesPerBand
    * tunes the recall/cost curve exactly like MinHash banding. Scale
    * contract mirrors minhashLsh: the (band, bucket) self-join is the
    * only shuffle that matters; buckets above `maxBucket` are excluded
    * from pairing — never silently (run [[embeddingOversizedBuckets]],
    * the same index plan, to enumerate what was dropped).
    */
  def embeddingNearDups(embeddings: DataFrame, dim: Int, threshold: Double = 0.8,
                        bands: Int = RpBands, planesPerBand: Int = RpPlanesPerBand,
                        maxBucket: Long = 1L << 20): DataFrame = {
    val banded = bandBuckets(embeddings, dim, bands, planesPerBand)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))
    val capped = banded
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
    val a = capped.select(col("band"), col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      // verify + threshold BEFORE the pair dedup, so the dedup shuffle
      // moves (id, id, double) rows, not two dim-long vectors
      .withColumn("cos", round(GraftFunctions.cosineSim(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Audit companion of [[embeddingNearDups]]: the (band, bucket)
    * groups larger than maxBucket — exactly the memberships the pairing
    * excludes at the same maxBucket.
    */
  def embeddingOversizedBuckets(embeddings: DataFrame, dim: Int,
                                maxBucket: Long = 1L << 20): DataFrame =
    bandBuckets(embeddings, dim, RpBands, RpPlanesPerBand)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** (id, v, band, bucket) band memberships: one planeDots evaluation
    * per row covers all bands; each band's bucket packs its slice of
    * the sign bits.
    */
  private def bandBuckets(embeddings: DataFrame, dim: Int, bands: Int,
                          planesPerBand: Int): DataFrame = {
    val m = planeMatrix(dim, bands * planesPerBand)
    embeddings
      .select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("__dots", GraftFunctions.planeDots(col("v"), m))
      .select(col("id"), col("v"), posexplode(array((0 until bands).map { bnd =>
        (0 until planesPerBand).map { p =>
          when(element_at(col("__dots"), bnd * planesPerBand + p + 1) >= 0,
            lit(1L << p)).otherwise(lit(0L))
        }.reduce((x, y) => x.bitwiseOR(y))
      }: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** ANN top-k via LSH buckets: queries join only their own bucket(s).
    * Returns per-query candidates ranked by cosine. Exactness is
    * traded for the bucket restriction (the standard ANN contract).
    *
    * Multi-probe: each query additionally probes the `probes` buckets
    * reached by flipping the planes whose margin |dot(q, plane)| is
    * smallest — the standard multi-probe LSH order (the boundary a
    * vector sits closest to is the one its true neighbors most likely
    * fell across). probes=0 is single-bucket. Probe buckets are
    * disjoint slices of the corpus, so candidates never duplicate;
    * recall grows with probes at probes× the candidate cost, without
    * re-hashing or extra tables.
    *
    * Projections, bucket bits, and margin-ranked flip buckets are all
    * computed by ONE fused native loop per query row
    * ([[GraftFunctions.rhpProbes]]); the corpus side is the sibling
    * [[GraftFunctions.rhpBucket]] loop — no interpreted expression
    * anywhere in the operator.
    */
  def annTopK(embeddings: DataFrame, queries: DataFrame, dim: Int, k: Int = 10,
              planes: Int = 12, probes: Int = 0): DataFrame = {
    val m = planeMatrix(dim, planes)
    val emb = embeddings.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("bucket", GraftFunctions.rhpBucket(col("v"), m))
    val qs = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("bucket",
        explode(GraftFunctions.rhpProbes(col("qv"), m,
          math.min(math.max(probes, 0), planes))))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    qs.join(emb, Seq("bucket"))
      .filter(col("qid") =!= col("id"))
      .withColumn("sim", round(GraftFunctions.cosineSim(col("qv"), col("v")), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("sim"), col("rn"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate PAIRS via
    * k-means cluster bucketing — the data-adaptive sibling of
    * [[embeddingNearDups]]'s random-hyperplane banding. Train a
    * deterministic codebook ([[trainIvf]]: hash-ordered sample, never
    * a full-corpus pass), assign every vector to its nearest centroid
    * (ONE native [[GraftFunctions.ivfProbes]] loop per row), then
    * self-join WITHIN clusters only and verify candidates by exact
    * cosine >= threshold (native [[GraftFunctions.cosineSim]],
    * rounded to 4 before the threshold so the pair set reproduces
    * across libms).
    *
    * Versus RP banding: buckets follow the corpus's own density, so
    * near-dups that straddle a random hyperplane (the banding's only
    * miss mode) still meet — the miss mode here is a pair split
    * across a centroid boundary, which `bands` independent RP bands
    * mitigate and this operator deliberately trades away for
    * candidate volume that tracks cluster occupancy. Run both when
    * recall matters; they share the verify kernel.
    *
    * Scale contract (identical to minhashLsh/embeddingNearDups):
    * the per-cluster self-join is the only corpus-squared risk, so
    * clusters above `maxCluster` members are excluded from pairing —
    * never silently: [[semanticOversizedClusters]] enumerates them
    * under the same codebook. Verify + threshold run BEFORE the pair
    * dedup, so the dedup shuffle moves (id, id, int, double) rows,
    * not two dim-long vectors. The codebook is a plan literal
    * (broadcast by construction).
    */
  def semanticDedup(embeddings: DataFrame, dim: Int, nClusters: Int = 16,
                    threshold: Double = 0.95, maxCluster: Long = 1L << 20,
                    sampleCap: Int = SampleCap): DataFrame = {
    val codebook = trainIvf(embeddings, dim, nClusters, SemanticIters, sampleCap)
    val assigned = embeddings
      .select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("cluster", nearestCentroid(col("v"), codebook))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    val capped = assigned
      .withColumn("__cn", count(lit(1)).over(w))
      .filter(col("__cn") <= maxCluster)
      .drop("__cn")
    val a = capped.select(col("cluster"), col("id").as("id_a"), col("v").as("v_a"))
    val b = capped.select(col("cluster"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(GraftFunctions.cosineSim(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cluster"), col("cos"))
  }

  /** Audit companion of [[semanticDedup]]: clusters larger than
    * maxCluster under the SAME deterministic codebook — exactly the
    * memberships the pairing excludes. It retrains the codebook, which
    * only determinism makes equivalent to the dedup pass's.
    */
  def semanticOversizedClusters(embeddings: DataFrame, dim: Int,
                                nClusters: Int = 16, maxCluster: Long = 1L << 20,
                                sampleCap: Int = SampleCap): DataFrame = {
    val codebook = trainIvf(embeddings, dim, nClusters, SemanticIters, sampleCap)
    embeddings
      .select(nearestCentroid(col("embedding"), codebook).as("cluster"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxCluster)
  }

  /** Per-group embedding dispersion audit — is a slice's embedding
    * cloud tight (template farm / near-dup mass) or spread (healthy
    * diversity)? Per group: member count, centroid norm, and the
    * mean / min cosine of members to their centroid. Unlike the ANN
    * family (approximate by contract, fixture-covered), this audit is
    * EXACT relational arithmetic, so it gets a DuckDB oracle.
    *
    * Scale shape: fully relational — the vectors explode to
    * (group, dim, v) once for the centroid (one map-side-combine agg
    * bounded to groups×dim rows) and once for the per-vector dot
    * products against the broadcast centroid (one vec-keyed agg);
    * no arrays cross a shuffle, no driver data. Zero or zero-norm
    * vectors score cosine 0 by definition (guarded division).
    */
  def groupDispersion(embeddings: DataFrame, groupCol: String): DataFrame = {
    val ex = embeddings.select(col(groupCol).as("g"), col("vec_id").as("id"),
        posexplode(col("embedding")))
      .select(col("g"), col("id"), col("pos").as("d"),
        col("col").cast("double").as("v"))
    val centroid = ex.groupBy(col("g"), col("d"))
      .agg(avg(col("v")).as("c"))
      .transform(Pin.once)
    val perVec = ex.join(broadcast(centroid), Seq("g", "d"))
      .groupBy(col("g"), col("id"))
      .agg(sum(col("v") * col("c")).as("__vc"),
        sum(col("v") * col("v")).as("__vv"),
        sum(col("c") * col("c")).as("__cc"))
      .select(col("g"), col("id"),
        when(col("__vv") > 0.0 && col("__cc") > 0.0,
            col("__vc") / (sqrt(col("__vv")) * sqrt(col("__cc"))))
          .otherwise(lit(0.0)).as("__cos"))
    val cn = centroid.groupBy(col("g"))
      .agg(sqrt(sum(col("c") * col("c"))).as("__cnorm"))
    perVec.groupBy(col("g"))
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("__cos")), 4).as("mean_cos"),
        round(min(col("__cos")), 4).as("min_cos"))
      .join(broadcast(cn), Seq("g"))
      .select(col("g").as(groupCol), col("n_vecs"),
        round(col("__cnorm"), 4).as("centroid_norm"),
        col("mean_cos"), col("min_cos"))
  }
}
