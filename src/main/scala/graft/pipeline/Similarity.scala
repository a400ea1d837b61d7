package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Similarity search over embedding columns (`array<float>`): exact
 * brute-force scoring as the baseline, IVF (k-means coarse quantizer) as the
 * scale path — capability parity with paimon's vector global indexes
 * (reference: paimon-vector/.../IvfFlatVectorGlobalIndexerFactory.java:24,
 * metrics per paimon-core/.../globalindex/VectorSearchMetric.java), JNI-free.
 *
 * Score math runs on native one-pass codegen expressions
 * (functions/VectorExprs.scala — round 13; formerly `zip_with` +
 * `aggregate` higher-order functions, which Catalyst evaluates INTERPRETED
 * with a boxed intermediate array per row per call), all in double
 * precision with bit-identical results. Top-k uses `orderBy().limit(k)` —
 * Spark plans that as per-partition TakeOrdered + driver merge, the same
 * distributed top-k-merge shape the reference implements by hand.
 */
object Similarity {
  import org.apache.spark.sql.graft.SparkShims

  private def vec2(a: Column, b: Column,
                   f: (org.apache.spark.sql.catalyst.expressions.Expression,
                       org.apache.spark.sql.catalyst.expressions.Expression)
                     => org.apache.spark.sql.catalyst.expressions.Expression): Column =
    SparkShims.column(f(SparkShims.expression(a), SparkShims.expression(b)))

  // Supported input types for dot/cosine/l2sq: ARRAY<FLOAT> / ARRAY<DOUBLE>
  // only (analysis-time typecheck in VecBinaryExpr). The pre-r13 zip_with
  // spellings implicitly cast any numeric array — callers that relied on
  // ARRAY<INT> literals must cast explicitly (`transform(a, x -> double(x))`)
  // (r13 ADVICE; every in-repo caller passes float/double embeddings).

  /** Dot product of two float/double arrays (double math, one pass). */
  def dot(a: Column, b: Column): Column =
    vec2(a, b, graft.functions.VecDot(_, _))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. One pass:
    * dot and both norms share the loop. */
  def cosine(a: Column, b: Column): Column =
    vec2(a, b, graft.functions.VecCosine(_, _))

  /** Squared L2 distance (one pass). */
  def l2sq(a: Column, b: Column): Column =
    vec2(a, b, graft.functions.VecL2Sq(_, _))

  /** Exact brute-force top-k by metric against a literal query vector.
    * `metric`: cosine | dot | l2 (l2 ranks ascending). */
  def bruteForceTopK(df: DataFrame, embedCol: String, query: Seq[Float],
                     k: Int, metric: String = "cosine",
                     scoreCol: String = "__score",
                     // deterministic tie order at the k boundary: EXACT
                     // duplicate vectors tie on score, and without a
                     // tiebreak the kept row depends on partition order
                     // (observed as a load-order flake at top-1)
                     tieBreak: Seq[Column] = Nil): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    val e = col(embedCol)
    val (score, asc) = metric match {
      case "cosine" => (cosine(e, q), false)
      case "dot" => (dot(e, q), false)
      case "l2" => (l2sq(e, q), true)
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    val scored = df.withColumn(scoreCol, score)
    scored.orderBy(((if (asc) col(scoreCol).asc else col(scoreCol).desc) +:
      tieBreak.map(_.asc)): _*).limit(k)
  }

  // ------------------------------------------------------------------
  // INT8 QUANTIZATION (scale path: 4x smaller candidate pass + rerank)
  // ------------------------------------------------------------------

  /** L2-normalized copy of an embedding column (zero vectors pass through).
    * Quantized candidate passes operate on UNIT vectors so their dot
    * ranking approximates COSINE — the metric the exact rerank uses; with
    * raw vectors the two orderings diverge whenever norms vary (the FAISS
    * posture for cosine/IP indexes: normalize at add time). */
  def unitArr(e: Column): Column = {
    val n = norm(e)
    transform(e, x => when(n === 0.0, x.cast(DoubleType))
      .otherwise(x.cast(DoubleType) / n))
  }

  /** Symmetric int8 quantization of an embedding column: the vector is
    * L2-normalized first, then per-vector scale (max |x| / 127) + tinyint
    * codes. 4x less storage/bandwidth than float32 — the
    * candidate-generation representation for large corpora. */
  def quantizeInt8(e: Column): Column = {
    val u = unitArr(e)
    val scale = aggregate(u, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / 127.0
    struct(
      scale.as("scale"),
      transform(u, x => when(scale === 0.0, lit(0).cast(ByteType))
        .otherwise(round(x / scale).cast(ByteType))).as("codes"))
  }

  /** Quantized dot score between a quantized row struct and a quantized
    * query (int math widened to long, rescaled once per row). */
  private def quantizedDot(qRow: Column, codes: Seq[Byte], qScale: Double): Column = {
    val qArr = array(codes.map(c => lit(c.toInt)): _*)
    val sum = aggregate(
      zip_with(qRow.getField("codes"), qArr, (x, y) => x.cast(LongType) * y.cast(LongType)),
      lit(0L), (acc, v) => acc + v)
    sum.cast(DoubleType) * qRow.getField("scale") * lit(qScale)
  }

  /** Unit-normalize driver/executor-side (same rule as [[unitArr]]) — the
    * ONE definition every quantized path shares (int8 query, PQ encode,
    * ADC query); the zero-vector convention must never diverge between a
    * stored code and its query-side transform. */
  private[pipeline] def unitVec(v: Seq[Float]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n == 0.0) v.map(_.toDouble) else v.map(_ / n)
  }

  /** [[unitVec]] over an already-double vector (same zero convention). */
  private[pipeline] def unitVecD(v: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Quantize a query vector driver-side (same rule as [[quantizeInt8]]). */
  def quantizeQuery(query: Seq[Float]): (Seq[Byte], Double) = {
    val u = unitVec(query)
    val scale = u.map(math.abs).max / 127.0
    if (scale == 0.0) (u.map(_ => 0.toByte), 0.0)
    else (u.map(v => math.round(v / scale).toByte), scale)
  }

  /**
   * Quantized ANN with exact re-rank: candidates ranked by the int8 dot
   * product (cheap pass over 4x-compressed codes), then the top `rerank`
   * candidates re-scored EXACTLY on the float vectors — output ordering is
   * exact within the candidate set. `df` must carry both the float column
   * and a `quantizeInt8` struct column.
   */
  def quantizedTopK(df: DataFrame, embedCol: String, quantCol: String,
                    query: Seq[Float], k: Int, rerank: Int = 0,
                    scoreCol: String = "__score"): DataFrame = {
    val r = if (rerank > 0) rerank else math.max(4 * k, 50)
    val (qCodes, qScale) = quantizeQuery(query)
    val candidates = df
      .withColumn("__q8", quantizedDot(col(quantCol), qCodes, qScale))
      .orderBy(col("__q8").desc).limit(r)
    bruteForceTopK(candidates.drop("__q8"), embedCol, query, k, "cosine", scoreCol)
  }

  /**
   * IVF index: k-means centroids over a sample + cluster assignment column.
   * Search probes only the `nprobe` nearest clusters — at scale the
   * assignment column is a partition/cluster key, so a probe reads a small
   * fraction of files (manifest stats on `__ivf_cluster` prune the rest).
   */
  case class IvfModel(centroids: Array[Array[Double]]) {
    def assignExpr(embedCol: Column): Column = {
      // nearest centroid id by squared L2, unrolled over centroid literals
      val dists = centroids.map { c =>
        l2sq(embedCol, array(c.map(lit): _*))
      }
      val minDist = least(dists.toIndexedSeq: _*)
      dists.zipWithIndex.foldRight(lit(-1): Column) { case ((d, i), acc) =>
        when(d === minDist, lit(i)).otherwise(acc)
      }
    }
    def nearestClusters(query: Seq[Float], nprobe: Int): Seq[Int] = {
      centroids.zipWithIndex.map { case (c, i) =>
        val d = c.zip(query).map { case (x, y) => val z = x - y; z * z }.sum
        (d, i)
      }.sortBy(_._1).take(nprobe).map(_._2).toSeq
    }
  }

  /** Train IVF centroids with k-means|| (spark.ml) over a sample. */
  def trainIvf(df: DataFrame, embedCol: String, nClusters: Int,
               sampleFraction: Double = 1.0, seed: Long = 42L): IvfModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sample = (if (sampleFraction < 1.0) df.sample(sampleFraction, seed) else df)
      .select(array_to_vector(col(embedCol).cast(ArrayType(DoubleType))).as("features"))
    val model = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(20).fit(sample)
    IvfModel(model.clusterCenters.map(_.toArray))
  }

  // ------------------------------------------------------------------
  // PRODUCT QUANTIZATION (Jégou et al. '11: m subspaces × ks centroids;
  // 64-dim float32 → m bytes = 32x compression at m=8). Capability parity
  // with the reference's ivf-pq indexer (paimon-vector/.../
  // IvfPqVectorGlobalIndexerFactory-style ids), JNI-free.
  // ------------------------------------------------------------------

  /** Per-subspace codebooks: `codebooks(j)(c)` is the c-th centroid of
    * subspace j (dsub floats each). Encode/score run as tight-loop UDFs —
    * per-row work is m·ks·dsub mults for encode, m table lookups for ADC. */
  case class PqModel(dsub: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length

    /** Nearest codebook entry per subspace (plain L2 in the codebooks'
      * native space — unit vectors for PQ, centroid residuals for RQ). */
    private[pipeline] def encodeVec(e: Seq[Double]): Array[Byte] =
      Array.tabulate(m) { j =>
        val cb = codebooks(j)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var d = 0.0; var i = 0
          while (i < dsub) {
            val z = e(j * dsub + i) - cb(c)(i); d += z * z; i += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best.toByte
      }

    /** Per-subspace query×centroid dot tables — ADC pays m lookups/row. */
    private[pipeline] def lutFor(q: Seq[Double]): Array[Array[Double]] =
      Array.tabulate(m) { j =>
        codebooks(j).map { c =>
          var s = 0.0; var i = 0
          while (i < dsub) { s += q(j * dsub + i) * c(i); i += 1 }
          s
        }
      }

    /** embedding → m-byte code (BINARY column: m raw bytes per row). */
    def encodeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
      udf { (raw: Seq[Float]) =>
        // codebooks live in UNIT space (cosine candidate ranking)
        if (raw == null) null else encodeVec(unitVec(raw))
      }

    /** Asymmetric-distance (ADC) dot-product score of a code array against
      * a query: per-subspace query×centroid dots are precomputed into a
      * lookup table once, each row pays m array lookups. */
    def adcDotUdf(query: Seq[Float]): org.apache.spark.sql.expressions.UserDefinedFunction = {
      val lut = lutFor(unitVec(query))
      udf { (codes: Array[Byte]) =>
        if (codes == null) Double.NegativeInfinity
        else {
          var s = 0.0; var j = 0
          while (j < m) { s += lut(j)(codes(j) & 0xff); j += 1 }
          s
        }
      }
    }
  }

  /** Train PQ codebooks: one k-means per subspace over a sample (offline
    * index-build cost; encode is the per-row pass). `dim % m == 0`. */
  def trainPq(df: DataFrame, embedCol: String, dim: Int, m: Int = 8,
              ks: Int = 16, sampleFraction: Double = 1.0,
              seed: Long = 42L): PqModel = {
    // train in UNIT space — codes must rank by cosine (see encodeUdf)
    val sample = (if (sampleFraction < 1.0) df.sample(sampleFraction, seed) else df)
      .select(unitArr(col(embedCol)).as(embedCol))
    trainPqOn(sample, embedCol, dim, m, ks, seed)
  }

  /** Codebooks over an ALREADY-PREPARED double-array column (no
    * normalization — residual training passes tangent-space vectors). */
  private def trainPqOn(prepared: DataFrame, embedCol: String, dim: Int,
                        m: Int, ks: Int, seed: Long): PqModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val sample = prepared.persist()
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.select(array_to_vector(
        slice(col(embedCol), j * dsub + 1, dsub).cast(ArrayType(DoubleType)))
        .as("features"))
      new KMeans().setK(ks).setSeed(seed + j).setMaxIter(20).fit(sub)
        .clusterCenters.map(_.toArray)
    }
    sample.unpersist()
    PqModel(dsub, codebooks)
  }

  /** PQ ANN with exact re-rank: candidates by ADC dot over the m-byte codes
    * (32x less data than float32 — the scan that matters at corpus scale),
    * top `rerank` re-scored exactly on the float vectors. `df` must carry
    * the float column and an [[PqModel.encodeUdf]] codes column. */
  def pqTopK(df: DataFrame, embedCol: String, codesCol: String,
             model: PqModel, query: Seq[Float], k: Int, rerank: Int = 0,
             scoreCol: String = "__score"): DataFrame = {
    val r = if (rerank > 0) rerank else math.max(4 * k, 50)
    val candidates = df
      .withColumn("__adc", model.adcDotUdf(query)(col(codesCol)))
      .orderBy(col("__adc").desc).limit(r)
    bruteForceTopK(candidates.drop("__adc"), embedCol, query, k, "cosine", scoreCol)
  }

  // ------------------------------------------------------------------
  // IVF-RQ (residual quantization): PQ codebooks trained on CLUSTER
  // RESIDUALS r = v̂ − c(v̂) instead of raw unit vectors — capability
  // parity with the reference's ivf-rq indexer family (paimon-vector
  // IvfRqVectorGlobalIndexer-style ids). Residual variance is a fraction
  // of raw variance, so the same m×ks code budget quantizes finer; ADC
  // stays linear: q̂·v̂ ≈ q̂·c + q̂·r̃, where the per-cluster q̂·c term is
  // one array lookup and q̂·r̃ the usual m-lookup LUT sum. Everything —
  // IVF assignment, residuals, scoring — lives in UNIT space, so cluster
  // probing by L2 is exactly cosine ranking (|q̂−v̂|² = 2 − 2·cos).
  // ------------------------------------------------------------------

  case class RqModel(ivf: IvfModel, pq: PqModel) {
    /** (embedding, assigned cluster) → m-byte residual code. Residuals are
      * NOT re-normalized — they live in the tangent space at the centroid. */
    def encodeUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
      udf { (raw: Seq[Float], cluster: Int) =>
        if (raw == null || cluster < 0) null
        else {
          val e = unitVec(raw); val c = ivf.centroids(cluster)
          pq.encodeVec(IndexedSeq.tabulate(c.length)(i => e(i) - c(i)))
        }
      }

    /** Tight-loop UNIT-SPACE nearest-centroid assignment (no O(k)
      * expression unrolling — same posture as Indexes.assignUdf, survives
      * k≈1024 where a when-chain breaks Catalyst). */
    def assignUdf: org.apache.spark.sql.expressions.UserDefinedFunction = {
      val cents = ivf.centroids
      // Seq[Double] input: float embedding columns UP-cast automatically
      // (the reverse direction is refused by the analyzer)
      udf { (raw: Seq[Double]) =>
        if (raw == null) -1
        else {
          val v = unitVecD(raw)
          var best = 0; var bd = Double.MaxValue; var i = 0
          while (i < cents.length) {
            val c = cents(i); var d = 0.0; var j = 0
            while (j < c.length && d < bd) {
              val z = c(j) - v(j); d += z * z; j += 1
            }
            if (d < bd) { bd = d; best = i }
            i += 1
          }
          best
        }
      }
    }

    /** Probe order for a query (unit-space nearest centroids). */
    def nearestClusters(query: Seq[Float], nprobe: Int): Seq[Int] =
      ivf.nearestClusters(unitVec(query).map(_.toFloat), nprobe)

    /** ADC score of (codes, cluster) against a query: q̂·c + Σ lut. */
    def adcScoreUdf(query: Seq[Float]): org.apache.spark.sql.expressions.UserDefinedFunction = {
      val q = unitVec(query)
      val lut = pq.lutFor(q)
      val qc = ivf.centroids.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { s += q(i) * c(i); i += 1 }
        s
      }
      udf { (codes: Array[Byte], cluster: Int) =>
        if (codes == null || cluster < 0) Double.NegativeInfinity
        else {
          var s = qc(cluster); var j = 0
          while (j < pq.m) { s += lut(j)(codes(j) & 0xff); j += 1 }
          s
        }
      }
    }
  }

  /** Train IVF-RQ: unit-space k-means centroids, then per-subspace
    * codebooks over the assignment residuals. Offline index-build cost;
    * encode is the per-row pass. */
  def trainRq(df: DataFrame, embedCol: String, dim: Int, nClusters: Int = 8,
              m: Int = 8, ks: Int = 16, sampleFraction: Double = 1.0,
              seed: Long = 42L): RqModel = {
    val sample = (if (sampleFraction < 1.0) df.sample(sampleFraction, seed) else df)
      .select(unitArr(col(embedCol)).as(embedCol))
    val ivf = trainIvf(sample, embedCol, nClusters, seed = seed)
    val model0 = RqModel(ivf, PqModel(1, Array.empty))
    val cents = typedLit(ivf.centroids.map(_.toSeq).toSeq)
    // residual = unit vector − assigned centroid (tight-loop UDF assign;
    // sample is already unit-normalized, unitVec is idempotent on it)
    val resid = sample.select(zip_with(
      col(embedCol).cast(ArrayType(DoubleType)),
      element_at(cents, model0.assignUdf(col(embedCol)) + 1),
      (a, b) => a - b).as(embedCol))
    RqModel(ivf, trainPqOn(resid, embedCol, dim, m, ks, seed))
  }

  /** IVF-RQ ANN: probe `nprobe` unit-space clusters (at scale the cluster
    * column is a partition key — the probe is file pruning), rank
    * candidates by residual-ADC (m bytes/row read, not floats), re-rank the
    * top `rerank` exactly. `df` must carry the float column, an
    * [[RqModel.assignExpr]] cluster column and an [[RqModel.encodeUdf]]
    * codes column. */
  def rqTopK(df: DataFrame, embedCol: String, codesCol: String,
             clusterCol: String, model: RqModel, query: Seq[Float], k: Int,
             nprobe: Int, rerank: Int = 0,
             scoreCol: String = "__score"): DataFrame = {
    val probes = model.nearestClusters(query, nprobe)
    val r = if (rerank > 0) rerank else math.max(4 * k, 50)
    val candidates = df.filter(col(clusterCol).isin(probes: _*))
      .withColumn("__adc",
        model.adcScoreUdf(query)(col(codesCol), col(clusterCol)))
      .orderBy(col("__adc").desc).limit(r)
    bruteForceTopK(candidates.drop("__adc"), embedCol, query, k, "cosine", scoreCol)
  }

  /**
   * Random-hyperplane sign signature (SimHash for vectors, Charikar '02):
   * bit i = sign(v · r_i) for `nBits` deterministic pseudo-random ±1
   * hyperplanes. Cosine-similar vectors agree on most bits, so an equality
   * join on the signature is a candidate prefilter for near-duplicate
   * detection — per-row cost O(nBits · dim), versus O(n²) all-pairs.
   */
  def signSignature(embedCol: Column, dim: Int, nBits: Int = 16,
                    seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(nBits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    (0 until nBits).map { i =>
      val r = array(planes(i).map(lit).toIndexedSeq: _*)
      when(dot(embedCol, r) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Near-duplicate pairs by cosine ≥ `threshold`: sign-LSH candidate join
    * (blocked additionally by `blockCols`) + exact cosine verification.
    * Exact for thresholds near 1.0 (identical vectors always share the
    * signature); approximate recall for lower thresholds — raise nBits'
    * complement (fewer bits → more candidates → higher recall). */
  def nearDupPairs(df: DataFrame, idCol: String, embedCol: String, dim: Int,
                   threshold: Double, blockCols: Seq[String] = Nil): DataFrame = {
    // signatures + norms computed ONCE and persisted — both sides of the
    // self-join reuse them (unpersisted, each side would recompute the
    // nBits·dim dot products), and the pair verify is dot/(n_a·n_b) with
    // the per-row norms precomputed instead of re-derived per candidate.
    // Like Dedup.pairsFromSignatures (r14 cache hygiene): the pair set
    // MATERIALIZES eagerly and the persist is released before returning —
    // no plan-keyed cache outlives the call, every invocation pays its
    // full computation.
    val sig = df
      .select((Seq(col(idCol), col(embedCol)) ++ blockCols.map(col)): _*)
      .withColumn("__sig", signSignature(col(embedCol), dim))
      .withColumn("__n", norm(col(embedCol)))
      .persist()
    val a = sig.alias("a"); val b = sig.alias("b")
    val joinCond = (Seq(col("a.__sig") === col("b.__sig"),
      col(s"a.$idCol") < col(s"b.$idCol")) ++
      blockCols.map(c => col(s"a.$c") === col(s"b.$c"))).reduce(_ && _)
    val nn = col("a.__n") * col("b.__n")
    val out = a.join(b, joinCond)
      .withColumn("__sim", when(nn === 0.0, 0.0)
        .otherwise(dot(col(s"a.$embedCol"), col(s"b.$embedCol")) / nn))
      .filter(col("__sim") >= threshold)
      .select(col(s"a.$idCol").as("v1"), col(s"b.$idCol").as("v2"),
        col("__sim").as("sim"))
    val mat = out.localCheckpoint(true)
    sig.unpersist(false)
    mat
  }

  /**
   * BATCHED top-k (the "vector lateral" shape: every query row gets its own
   * ANN result set). One pass over the corpus: queries broadcast, each
   * partition keeps a BOUNDED k-heap per query, then the per-partition
   * candidates (≤ partitions·k per query, not |corpus|) merge with one tiny
   * window. No |corpus|×|queries| shuffle anywhere — at 100 TB the cost is
   * the single corpus scan.
   *
   * `queries`: (qid, vector); cosine scores, descending. Returns
   * (qid, idCol, score) with exactly min(k, corpus) rows per qid.
   * `clusterProbes`: optional qid → allowed-cluster set; with a corpus that
   * carries `clusterCol` (an IVF index table), a row is scored only for
   * queries probing its cluster — the batched IVF search.
   */
  def batchTopK(corpus: DataFrame, idCol: String, embedCol: String,
                queries: Seq[(Long, Seq[Float])], k: Int,
                clusterCol: String = "", clusterProbes: Map[Long, Set[Int]] = Map.empty)
               : DataFrame =
    batchTopKCols(corpus, idCol, embedCol, queries, k, Nil, clusterCol,
      clusterProbes)
      .select(col("qid"), col("__id").as(idCol), col("__score"))

  /**
   * [[batchTopK]] that additionally CARRIES corpus columns through the
   * per-partition heaps, so a caller needing hit-row columns (the SQL
   * LATERAL exec) pays exactly one corpus scan — no second scan to
   * re-attach columns to the |q|·k hit ids. Heap entries hold the carried
   * values, so per-partition memory stays bounded at |q|·k rows of the
   * carried projection. Returns (qid, __id, __score, __c_0..__c_n) where
   * __c_i is `carryCols(i)`'s value (original type).
   */
  def batchTopKCols(corpus: DataFrame, idCol: String, embedCol: String,
                    queries: Seq[(Long, Seq[Float])], k: Int,
                    carryCols: Seq[String],
                    clusterCol: String = "", clusterProbes: Map[Long, Set[Int]] = Map.empty)
                   : DataFrame = {
    val spark = corpus.sparkSession
    val qArr = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
    val probesB = spark.sparkContext.broadcast(clusterProbes)
    val qB = spark.sparkContext.broadcast(qArr)
    val withCluster = clusterCol.nonEmpty
    val baseCols = Seq(col(idCol).cast("long"), col(embedCol)) ++
      (if (withCluster) Seq(col(clusterCol).cast("int")) else Nil)
    val carryStart = baseCols.length
    val nCarry = carryCols.length
    val rows = corpus.select((baseCols ++ carryCols.map(col)): _*)
    val outSchema = StructType(
      Seq(StructField("qid", LongType, nullable = false),
        StructField("__id", LongType, nullable = false),
        StructField("__score", DoubleType, nullable = false)) ++
        carryCols.indices.map { i =>
          val f = rows.schema.fields(carryStart + i)
          StructField(s"__c_$i", f.dataType, f.nullable)
        })
    val candidates = rows.mapPartitions { (it: Iterator[Row]) =>
      val qs = qB.value
      val probes = probesB.value
      // per-query bounded heap keeping the k best under (score desc, id
      // asc) — the id tiebreak MUST match the global merge's, or a tied
      // boundary row could be evicted differently than the window ranks it.
      // PriorityQueue dequeues its ordering's maximum, so "greater" = worse.
      val worstFirst = Ordering.fromLessThan[(Double, Long, Array[Any])]((a, b) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2))
      val heaps = Array.fill(qs.length)(scala.collection.mutable.PriorityQueue
        .empty[(Double, Long, Array[Any])](worstFirst))
      // query norms computed once
      val qNorms = qs.map { case (_, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
        math.sqrt(s)
      }
      it.foreach { r =>
        val id = r.getLong(0)
        val e = r.getSeq[Float](1)
        val cluster = if (withCluster) r.getInt(2) else -1
        val dim = e.length
        val ev = new Array[Double](dim)
        var nsum = 0.0
        var i = 0
        while (i < dim) { ev(i) = e(i).toDouble; nsum += ev(i) * ev(i); i += 1 }
        val en = math.sqrt(nsum)
        // carried values extracted lazily — only rows that actually enter a
        // heap pay the copy (most corpus rows never do)
        var carried: Array[Any] = null
        def payload(): Array[Any] = {
          if (carried == null)
            carried =
              if (nCarry == 0) Array.empty[Any]
              else Array.tabulate[Any](nCarry)(j => r.get(carryStart + j))
          carried
        }
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv) = qs(qi)
          if (!withCluster || probes.get(qid).forall(_.contains(cluster))) {
            var d = 0.0; var j = 0
            val n = math.min(dim, qv.length)
            while (j < n) { d += ev(j) * qv(j); j += 1 }
            val score = if (en == 0.0 || qNorms(qi) == 0.0) 0.0 else d / (en * qNorms(qi))
            val h = heaps(qi)
            if (h.size < k) h.enqueue((score, id, payload()))
            else if (score > h.head._1 ||
              (score == h.head._1 && id < h.head._2)) {
              h.dequeue(); h.enqueue((score, id, payload()))
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (s, id, c) =>
          // Seq[Any] — an untyped Seq(Long, Long, Double) would widen the
          // longs to Double (weak conformance) and corrupt qid/id
          Row.fromSeq(Seq[Any](qs(qi)._1, id, s) ++ c)
        }
      }
    }(Encoders.row(outSchema))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("qid")
      .orderBy(col("__score").desc, col("__id"))
    candidates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /**
   * Deterministic k-means ASSIGNMENT over a corpus: centroids are the `k`
   * rows whose portable hash h32(seed||id) is smallest (a reproducible
   * "random" draw any engine can repeat — same trick as the sampling ops),
   * broadcast to every task; each row goes to its max-cosine centroid
   * (ties → smallest centroid id). The assignment itself is the 100 TB
   * path of Lloyd's algorithm — one map-side pass per iteration, no
   * shuffle; callers wanting refined centroids recompute them with a
   * groupBy(cluster) mean and re-call (cf. IvfModel.trainIvf for the
   * sampled in-driver variant the ANN index uses).
   */
  def kmeansAssign(df: DataFrame, idCol: String, embedCol: String,
                   k: Int, seed: Int = 0,
                   clusterCol: String = "__cluster",
                   simCol: String = "__sim"): DataFrame = {
    val centRows = df
      .withColumn("__h", TextOps.h32(col(idCol).cast("string"), seed))
      .select(col(idCol).cast("long").as("cid"), col(embedCol).as("cemb"),
        col("__h"))
      .orderBy(col("__h").asc, col("cid").asc).limit(k)
      .select("cid", "cemb").collect() // k rows — metadata-scale
    // centroids inlined as literals: the whole assignment is one map-side
    // codegen'd expression per row, zero shuffles of the corpus
    val centArr = array(centRows.map { r =>
      struct(lit(r.getLong(0)).as("cid"),
        array(r.getSeq[Float](1).map(lit).toIndexedSeq: _*).as("cemb"))
    }.toIndexedSeq: _*)
    // max of (sim, -cid) == highest sim, smallest centroid id on ties
    val scoredArr = transform(centArr, c =>
      struct(cosine(col(embedCol), c.getField("cemb")).as("s"),
        (-c.getField("cid")).as("nc")))
    df.withColumn("__best", array_max(scoredArr))
      .withColumn(clusterCol, -col("__best.nc"))
      .withColumn(simCol, col("__best.s"))
      .drop("__best")
  }

  /** IVF-pruned top-k: score only rows in the nprobe nearest clusters. The
    * cluster column should be precomputed (e.g. persisted in the table) so
    * the probe filter prunes at the manifest/file level. */
  def ivfTopK(indexed: DataFrame, model: IvfModel, embedCol: String,
              clusterCol: String, query: Seq[Float], k: Int,
              nprobe: Int, metric: String = "cosine",
              scoreCol: String = "__score"): DataFrame = {
    val probes = model.nearestClusters(query, nprobe)
    bruteForceTopK(indexed.filter(col(clusterCol).isin(probes: _*)),
      embedCol, query, k, metric, scoreCol)
  }
}
