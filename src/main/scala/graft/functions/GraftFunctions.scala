package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, KnownNullable, Literal}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column helpers and SQL registration for the native functions. Each
  * helper validates its constants, then builds one [[NativeCall]] of a
  * kernel method under the function's name (as error messages and, for
  * the registered ones, SQL show it).
  */
object GraftFunctions {
  import NativeCall.{Bytes, Int32, Longs, Str, Strs, Vec}

  /** `kernel.method` on `inputs` (each with its accepted types), then `consts`. */
  private def call(name: String, kernel: AnyRef, method: String, result: DataType,
                   inputs: (Column, Seq[DataType])*)(consts: Any*): Column =
    GraftBridge.toColumn(NativeCall(name, kernel.getClass, method, result,
      inputs.map(_._2), consts.map(NativeCall.const),
      inputs.map(i => GraftBridge.toExpression(i._1))))

  /** A result array without null elements. */
  private def arr(t: DataType): DataType = ArrayType(t, containsNull = false)

  /** 64-bit polynomial rolling fingerprint of a string's UTF-8 bytes. */
  def fingerprint64(c: Column): Column =
    call("graft_fingerprint64", TextKernels, "fingerprint64", LongType, c -> Str)()

  /** 64-bit SimHash of a token-hash array. */
  def simhash64(c: Column): Column =
    call("graft_simhash64", SigKernels, "simhash64", LongType, c -> Longs)()

  /** k-permutation MinHash signature of a 31-bit shingle-hash array. */
  def minhashSig(c: Column, k: Int): Column = {
    require(k > 0, "k must be positive")
    call("graft_minhash", SigKernels, "minhash", ArrayType(LongType, containsNull = true),
      c -> Longs)(SigKernels.minhashA(k), SigKernels.minhashB(k))
  }

  /** Cosine similarity of two vectors (0.0 when either has zero norm). */
  def cosineSim(a: Column, b: Column): Column =
    call("graft_cosine", VectorKernels, "cosine", DoubleType, a -> Vec, b -> Vec)()

  /** The `nProbe` nearest codebook centroids, ascending by distance. */
  def ivfProbes(v: Column, codebook: Array[Array[Double]], nProbe: Int): Column = {
    require(codebook.nonEmpty && nProbe > 0, "codebook and nProbe must be non-empty/positive")
    call("graft_ivf_probes", VectorKernels, "ivfProbes", arr(IntegerType), v -> Vec)(
      codebook.flatten, codebook.map(c => c.map(x => x * x).sum), codebook.head.length, nProbe)
  }

  /** Projections of a vector onto each row of a plane matrix. */
  def planeDots(v: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty, "planes must be non-empty")
    call("graft_plane_dots", VectorKernels, "planeDots", arr(DoubleType),
      v -> Vec)(planes.flatten, planes.head.length)
  }

  /** 31-bit hashes of the distinct lowercase word `n`-gram shingles. */
  def shingleHashes(text: Column, n: Int): Column = {
    require(n > 0, "shingle width must be positive")
    call("graft_shingle_hashes", ShingleKernel, "eval", arr(LongType), text -> Str)(n)
  }

  /** Sign-random-projection bucket: bit p set iff dot(v, plane_p) >= 0. */
  def rhpBucket(v: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 64, "1..64 planes")
    call("graft_rhp_bucket", VectorKernels, "rhpBucket", LongType, v -> Vec)(
      planes.flatten, planes.head.length)
  }

  /** [own bucket, probe buckets...] for multi-probe random-projection LSH. */
  def rhpProbes(v: Column, planes: Array[Array[Double]], probes: Int): Column = {
    require(planes.nonEmpty && planes.length <= 64, "1..64 planes")
    require(probes >= 0, "probes must be non-negative")
    call("graft_rhp_probes", VectorKernels, "rhpProbes", arr(LongType), v -> Vec)(
      planes.flatten, planes.head.length, probes)
  }

  /** Lowercase word tokens: `filter(split(lower(text), "\\W+"), _ != "")`. */
  def tokenizeWords(c: Column): Column =
    call("graft_tokenize", TokenizeKernel, "eval", arr(StringType), c -> Str)()

  /** Case-preserving word tokens: `filter(split(text, "\\W+"), _ != "")`. */
  def tokenizeRaw(c: Column): Column =
    call("graft_tokenize_raw", TokenizeKernel, "evalRaw", arr(StringType), c -> Str)()

  /** Occurrences of a fixed string set's members in a string array. */
  def countInSet(arr: Column, items: Seq[String]): Column = {
    val set = new java.util.HashSet[UTF8String](items.size * 2)
    items.foreach(i => set.add(UTF8String.fromString(i)))
    call("graft_count_in_set", TextKernels, "countInSet", IntegerType, arr -> Strs)(set)
  }

  /** `trim(regexp_replace(s, "\\s+", " "))` as one byte pass. */
  def collapseWs(c: Column): Column =
    call("graft_collapse_ws", TextKernels, "collapseWs", StringType, c -> Str)()

  /** `filter(transform(split(text, "[.!?]\\s+"), trim), _ != "")`. */
  def sentencesSql(c: Column): Column =
    call("graft_sentences_sql", TextKernels, "sentenceSplitSql", arr(StringType), c -> Str)()

  /** The extractive summary, `Summarizer.summarize(text, 0.3)`; a NULL
    * text gives "". Typed nullable whatever the input's nullability, so
    * the committed extraction schema keeps `summary` an OPTIONAL field.
    */
  def summarize(text: Column): Column =
    GraftBridge.toColumn(KnownNullable(Coalesce(Seq(GraftBridge.toExpression(
      call("graft_summarize", TextKernels, "summarize", StringType, text -> Str)()),
      Literal("")))))

  /** Seed-42 xxhash64 of each lowercase word token. */
  def tokenXxhash64(c: Column): Column =
    call("graft_token_xxh64", TextKernels, "tokenXxhash64", arr(LongType), c -> Str)()

  /** Every `n`-token window of a token array, space-joined. */
  def ngramJoin(toks: Column, n: Int): Column = {
    require(n > 0, "gram width must be positive")
    call("graft_ngrams", NgramKernel, "eval", arr(StringType), toks -> Strs)(n)
  }

  /** Unicode NFC normalization. */
  def nfcNormalize(c: Column): Column =
    call("graft_nfc", NfcKernel, "eval", StringType, c -> Str)()

  /** PQ constants: flattened codebooks, m, codes per subspace, sub-dim. */
  private def pq(codebooks: Array[Array[Array[Double]]]): Seq[Any] = {
    PqKernels.requireRect(codebooks)
    Seq(codebooks.flatten.flatten, codebooks.length, codebooks.head.length,
      codebooks.head.head.length)
  }

  /** [[pq]] plus the flattened coarse centroids of the residual forms. */
  private def pqRes(coarse: Array[Array[Double]],
                    codebooks: Array[Array[Array[Double]]]): Seq[Any] = {
    PqKernels.requireShapes(coarse, codebooks)
    pq(codebooks) :+ coarse.flatten
  }

  /** m-byte product-quantization code of a vector. */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_encode", PqKernels, "encode", BinaryType, v -> Vec)(pq(codebooks): _*)

  /** [[pqEncode]] as `array<int>` code indices. */
  def pqCodes(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_codes", PqKernels, "encodeInts", arr(IntegerType), v -> Vec)(
      pq(codebooks): _*)

  /** Asymmetric distance of an exact query vector to a PQ code. */
  def pqAdc(q: Column, code: Column, codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_adc", PqKernels, "adc", DoubleType, q -> Vec, code -> Bytes)(pq(codebooks): _*)

  /** [[pqCodes]] of the residual from the coarse centroid `cell`. */
  def pqCodesRes(v: Column, cell: Column, coarse: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_codes_res", PqKernels, "encodeIntsRes", arr(IntegerType),
      v -> Vec, cell -> Int32)(pqRes(coarse, codebooks): _*)

  /** [[pqEncode]] of the residual from the coarse centroid `cell`. */
  def pqEncodeRes(v: Column, cell: Column, coarse: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_encode_res", PqKernels, "encodeRes", BinaryType, v -> Vec, cell -> Int32)(
      pqRes(coarse, codebooks): _*)

  /** [[pqAdc]] in residual space; `cell` is the candidate's coarse cell. */
  def pqAdcRes(q: Column, cell: Column, code: Column,
               coarse: Array[Array[Double]],
               codebooks: Array[Array[Array[Double]]]): Column =
    call("graft_pq_adc_res", PqKernels, "adcRes", DoubleType,
      q -> Vec, cell -> Int32, code -> Bytes)(pqRes(coarse, codebooks): _*)

  /** One 64-bit bucket key per band of a MinHash signature. */
  def sigBandKeys(sig: Column, bands: Int): Column = {
    require(bands > 0, "bands must be positive")
    call("graft_sig_band_keys", SigKernels, "bandKeys", arr(LongType), sig -> Longs)(bands)
  }

  /** Count of agreeing slots of two MinHash signatures. */
  def sigAgreement(a: Column, b: Column): Column =
    call("graft_sig_agreement", SigKernels, "agreement", IntegerType, a -> Longs, b -> Longs)()

  /** Register the SQL names on a session (idempotent). A constant
    * parameter is a foldable INT literal (the shape of e.g. `ngrams(n)`);
    * a wrong argument count fails with the function's name.
    */
  def register(spark: SparkSession): Unit = {
    def reg(name: String, arity: Int)(build: Seq[Expression] => Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, args => {
        if (args.length != arity) throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map("functionName" -> s"`$name`",
            "expectedNum" -> arity.toString, "actualNum" -> args.length.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        GraftBridge.toExpression(build(args))
      }, "scala_udf")
    def c(e: Expression): Column = GraftBridge.toColumn(e)
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"$what must be an INT literal, got $other")
    }
    reg("graft_fingerprint64", 1)(a => fingerprint64(c(a(0))))
    reg("graft_simhash64", 1)(a => simhash64(c(a(0))))
    reg("graft_cosine", 2)(a => cosineSim(c(a(0)), c(a(1))))
    reg("graft_shingle_hashes", 2)(a => shingleHashes(c(a(0)), int(a(1), "shingle width")))
    reg("graft_minhash", 2)(a => minhashSig(c(a(0)), int(a(1), "k")))
    reg("graft_sig_agreement", 2)(a => sigAgreement(c(a(0)), c(a(1))))
    reg("graft_tokenize", 1)(a => tokenizeWords(c(a(0))))
    reg("graft_ngrams", 2)(a => ngramJoin(c(a(0)), int(a(1), "gram width")))
    reg("graft_nfc", 1)(a => nfcNormalize(c(a(0))))
  }
}
