package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{GraftTable, TableConfig}
import graft.pipeline.{Dedup, Indexes}

/**
 * search_dedup: single-query search over two indexes built at set-up, plus
 * a near-duplicate pass over the same document corpus.
 *
 *  - Vectors: seeded clustered float vectors with an int `tag`, indexed by
 *    `Indexes.buildIvf`. Queries: plain `ivfSearch` (k=10, nprobe=8), and
 *    filtered at 10% and 1% selectivity (the 1% filter climbs the
 *    escalation ladder).
 *  - Text: `Indexes.buildFullText` over the corpus; `fullTextSearch` with
 *    2-3 seeded vocabulary terms.
 *  - Dedup: the corpus is groups of a source document and 9 variants with
 *    seeded word edits, some within and some beyond word-3-gram Jaccard
 *    0.8, stored in a graft table. The op reads it and runs
 *    `Dedup.minhashLshPairs(3, 8, 4, 0.8)` then `Dedup.connectedComponents`.
 *
 * A step is one dedup and 40 queries (50% plain, 15% filtered at 10%, 10%
 * filtered at 1%, 25% full text), each query new. Searches are dominated by
 * fixed per-query costs (table and model load, read build, code generation,
 * listing, job dispatch); dedup is
 * the shuffle-heavy chain of many jobs. Every table is append-only, so this
 * workload bypasses merge-on-read and the upsert commit path.
 *
 * References, none of which call graft: exact cosine top-10 (recall@10 and
 * score checks), brute-force BM25, exact shingle-set Jaccard for a seeded
 * sample of the reported pairs and every planted pair, and a union-find
 * over the reported pairs for the components.
 */
final class SearchDedup(r: Run) extends Workload(r) {
  import SearchDedup._

  def headline: String = "ivf"
  def mix: Seq[(String, Double)] =
    Seq("ivf" -> 20.0, "ivf_f10" -> 6.0, "ivf_f1" -> 4.0, "fulltext" -> 10.0, "dedup" -> 1.0)

  /** One step: searches run at steady speed after about forty calls. */
  def warmup(): Unit = step()

  private var ivfLoc = ""
  private var ftLoc = ""
  private var docsLoc = ""
  private var opId = 0
  private val vecs = new Array[Array[Float]](NVec)
  private val tags = new Array[Int](NVec)
  private val queries = mutable.ArrayBuffer.empty[Query]
  private var nextQuery = 0
  private val ivfRecall = mutable.ArrayBuffer.empty[Double]
  private val pairRecall = mutable.ArrayBuffer.empty[Double]
  private val pairCounts = mutable.ArrayBuffer.empty[Double]
  // corpus, indexed by doc id
  private val words = new Array[Array[String]](NDocs)
  private val shingles = new Array[Set[String]](NDocs)
  private var planted = Set.empty[(Long, Long)]

  def generate(): Unit = {
    val g = Gen.rng(r.seed, 3)
    val centres = Array.fill(Centres, Dim)((g.nextDouble() * 2 - 1).toFloat)
    def near(rr: java.util.SplittableRandom): Array[Float] = {
      val c = centres(rr.nextInt(Centres))
      Array.tabulate(Dim)(d => (c(d) + rr.nextGaussian() * 0.25).toFloat)
    }
    (0 until NVec).foreach { i => vecs(i) = near(g); tags(i) = g.nextInt(100) }

    val vocab = Gen.vocabulary(r.seed, 5000)
    val zw = new Gen.Zipf(vocab.length, 1.0)
    // doc ids are a seeded permutation, so a group's docs spread over files
    val perm = Gen.permutation(g, NDocs)
    (0 until NDocs / Group).foreach { s =>
      val src = Gen.words(g, vocab, zw, 60 + g.nextInt(60)).split(' ')
      words(perm(s * Group)) = src
      (1 until Group).foreach { v =>
        val w = src.clone()
        // 1-8 single-word substitutions: about half of the pairs of a
        // group stay within Jaccard 0.8
        (0 until 1 + g.nextInt(8)).foreach(_ => w(g.nextInt(w.length)) = vocab(zw.sample(g)))
        words(perm(s * Group + v)) = w
      }
    }
    words.indices.foreach(i => shingles(i) = shingleSet(words(i)))
    planted = (0 until NDocs / Group).iterator.flatMap { s =>
      val ids = (0 until Group).map(v => perm(s * Group + v).toLong)
      for (a <- ids; b <- ids if a < b && jaccard(a.toInt, b.toInt) >= Threshold) yield (a, b)
    }.toSet

    vecs.indices.foreach(i => r.digestUpdate(s"$i:${tags(i)}:${vecs(i).mkString(",")}"))
    words.indices.foreach(i => r.digestUpdate(s"$i:${words(i).mkString(" ")}"))
    Probe.localDf(r, vecs.indices.map(i => Row(i.toLong, tags(i), vecs(i).toSeq)), VecSchema)
      .write.parquet(r.path("input/vectors"))
    Probe.localDf(r, words.indices.map(i => Row(i.toLong, words(i).mkString(" "))), DocSchema)
      .write.parquet(r.path("input/documents"))

    val q = Gen.rng(r.seed, 4)
    (0 until QueryPool).foreach { j =>
      queries += (QueryKinds(j % QueryKinds.size) match {
        case "ivf" => Query("ivf", near(q), None, Nil)
        case "ivf_f10" => val lo = q.nextInt(91); Query("ivf_f10", near(q), Some((lo, lo + 10)), Nil)
        case "ivf_f1" => val lo = q.nextInt(100); Query("ivf_f1", near(q), Some((lo, lo + 1)), Nil)
        case _ => Query("fulltext", Array.emptyFloatArray, None,
          (0 until 2 + q.nextInt(2)).map(_ => vocab(20 + q.nextInt(480))))
      })
    }
    queries.foreach(x => r.digestUpdate(s"${x.kind}:${x.band}:${x.vec.mkString(",")}:${x.terms.mkString(" ")}"))
    r.inputs ++= Seq("vectors" -> NVec, "dim" -> Dim, "centres" -> Centres,
      "ivf_clusters" -> NClusters, "documents" -> NDocs, "group_size" -> Group,
      "planted_pairs" -> planted.size, "vocabulary" -> vocab.length, "query_pool" -> QueryPool,
      "input_bytes" -> (Probe.dirBytes(new File(r.path("input/vectors"))) +
        Probe.dirBytes(new File(r.path("input/documents")))))
  }

  def setup(dir: String): Unit = {
    ivfLoc = dir + "/ivf"; ftLoc = dir + "/fulltext"; docsLoc = dir + "/documents"
    r.tracer.span("pipeline.ivf_build")(Indexes.buildIvf(spark,
      spark.read.parquet(r.path("input/vectors")), "emb", ivfLoc, nClusters = NClusters))
    val docs = spark.read.parquet(r.path("input/documents"))
    r.tracer.span("core.table.write")(
      GraftTable.create(spark, docsLoc, DocSchema, TableConfig()).write(docs))
    r.tracer.span("pipeline.ft_build")(Indexes.buildFullText(spark, docs, "doc_id", "text", ftLoc))
  }

  override def prepare(): Unit = {
    Seq("ivf" -> ivfLoc, "fulltext" -> ftLoc, "documents" -> docsLoc).foreach { case (n, loc) =>
      val t = GraftTable.load(spark, loc)
      r.setupState ++= Seq(s"${n}_live_files" -> t.sm.liveEntries(Probe.latest(t)).size,
        s"${n}_snapshots" -> t.sm.snapshotIds.size)
    }
    r.setupState("table_bytes") = Probe.dirBytes(new File(ivfLoc).getParentFile)
    buildBm25()
  }

  /** One dedup, then 40 queries with the kinds interleaved so every kind
    * spreads over the step. */
  def step(): Unit = {
    r.attempt(dedup())
    (1 to 2).foreach(_ => QueryKinds.foreach(_ => r.attempt(query())))
  }

  /** The run's next query. Every query is new, so each pays its own
    * planning and code generation, as a user's next query would. */
  private def query(): Unit = {
    val x = queries(nextQuery % queries.size)
    nextQuery += 1
    if (x.kind == "fulltext") text(x.terms) else vector(x)
  }

  private def vector(q: Query): Unit = {
    val Query(kind, qv, band, _) = q
    val filter: Option[Column] = band.map { case (lo, hi) => col("tag") >= lo && col("tag") < hi }
    opId += 1
    val (rows, _) = r.timed(kind, opId) {
      val df = r.tracer.span("pipeline.search_build")(
        Indexes.ivfSearch(spark, ivfLoc, "emb", qv.toSeq, K, NProbe, filter = filter))
      r.tracer.span("core.table.exec")(df.select("id", "__score").collect())
    }
    val ids = rows.map(_.getLong(0))
    val scores = rows.map(_.getDouble(1))
    val ok = band.fold((_: Long) => true) { case (lo, hi) =>
      (i: Long) => tags(i.toInt) >= lo && tags(i.toInt) < hi }
    val exact = exactTopK(qv, ok)
    if (r.measuring) ivfRecall += ids.toSet.intersect(exact.toSet).size.toDouble / exact.length
    r.check(ids.length == exact.length && ids.distinct.length == ids.length && ids.forall(ok) &&
      ids.zip(scores).forall { case (i, s) => math.abs(cosine(qv, vecs(i.toInt)) - s) <= 1e-6 } &&
      scores.sameElements(scores.sorted(Ordering[Double].reverse)),
      s"$kind: bad result ${ids.mkString(",")} scores ${scores.mkString(",")}")
    if (r.tracer.lastOpTraced) {
      val t0 = System.nanoTime()
      val model = Indexes.loadIvfModel(spark, ivfLoc)
      r.tracer.count(kind, "pipeline.ivf_model_load_ms", Probe.ms(t0))
      r.tracer.count(kind, "pipeline.ivf_files_probed",
        Indexes.ivfPlannedFiles(spark, ivfLoc, model.nearestClusters(qv.toSeq, NProbe)))
      planCounts(kind, ivfLoc, Some(col("__ivf_cluster").isin(model.nearestClusters(qv.toSeq, NProbe): _*)))
    }
  }

  private def text(terms: Seq[String]): Unit = {
    opId += 1
    val (rows, _) = r.timed("fulltext", opId) {
      val df = r.tracer.span("pipeline.search_build")(Indexes.fullTextSearch(spark, ftLoc, terms, K))
      r.tracer.span("core.table.exec")(df.select("doc_id", "score").collect())
    }
    val got = rows.map(x => x.getLong(0) -> x.getDouble(1))
    val want = bm25(terms)
    // ties at the k-th score may order either way: compare the score lists
    // and each returned doc's own reference score
    r.check(got.length == want.length &&
      got.map(_._2).zip(want.map(_._2)).forall { case (a, b) => close(a, b) } &&
      got.forall { case (d, s) => close(bm25Score(terms, d.toInt), s) },
      s"fulltext ${terms.mkString(" ")}: got ${got.mkString(",")}, want ${want.mkString(",")}")
    if (r.tracer.lastOpTraced) {
      r.tracer.count("fulltext", "pipeline.ft_terms_df", Indexes.termDfSum(spark, ftLoc, terms).toDouble)
      planCounts("fulltext", ftLoc, Some(col("term").isin(terms: _*)))
    }
  }

  private def dedup(): Unit = {
    opId += 1
    val ((pairs, comps), _) = r.timed("dedup", opId) {
      val t = r.tracer.span("core.meta.load")(GraftTable.load(spark, docsLoc))
      val docs = r.tracer.span("core.table.read_build")(t.read())
      val p = r.tracer.span("pipeline.minhash")(
        Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 8, 4, Threshold))
      val pr = r.tracer.span("core.table.exec")(p.collect())
      val cc = r.tracer.span("pipeline.cc")(Dedup.connectedComponents(p, "v1", "v2").collect())
      (pr, cc)
    }
    val got = pairs.map(x => (x.getLong(0), x.getLong(1)) -> x.getDouble(2)).toMap
    val keys = got.keys.toArray.sorted
    val g = Gen.rng(r.seed, 60000 + opId)
    (0 until math.min(PairSample, keys.length)).foreach { _ =>
      val k @ (a, b) = keys(g.nextInt(keys.length))
      val j = jaccard(a.toInt, b.toInt)
      r.check(j >= Threshold - 1e-9 && math.abs(j - got(k)) <= 1e-4,
        s"pair $k: reported jaccard ${got(k)}, exact $j")
    }
    // components: each node's label is the smallest id of its component
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val root = find(p); parent(x) = root; root
      case _ => x
    }
    keys.foreach { case (a, b) =>
      val (x, y) = (find(a), find(b))
      if (x != y) parent(math.max(x, y)) = math.min(x, y)
    }
    val nodes = keys.flatMap(p => Seq(p._1, p._2)).toSet
    r.check(comps.length == nodes.size && comps.forall { x =>
      nodes.contains(x.getLong(0)) && find(x.getLong(0)) == x.getLong(1) },
      s"components: ${comps.length} labelled nodes, want ${nodes.size}")
    if (r.measuring) {
      pairRecall += planted.count(got.contains).toDouble / planted.size
      pairCounts += got.size
    }
    if (r.tracer.lastOpTraced) r.tracer.count("dedup", "pipeline.pairs", got.size)
  }

  /** Planning counts for a read of `loc`, taken outside the op span. */
  private def planCounts(kind: String, loc: String, filter: Option[Column]): Unit = {
    val t = GraftTable.load(spark, loc)
    val snap = Probe.latest(t)
    val t1 = System.nanoTime()
    val live = t.sm.liveEntries(snap)
    r.tracer.count(kind, "core.meta.fold_ms", Probe.ms(t1))
    r.tracer.count(kind, "core.meta.manifests", snap.manifests.size)
    val t2 = System.nanoTime()
    val planned = t.planFiles(filter = filter)
    r.tracer.count(kind, "core.table.plan_ms", Probe.ms(t2))
    r.tracer.count(kind, "core.table.files_planned", planned.size)
    r.tracer.count(kind, "core.table.files_skipped_ratio", 1.0 - planned.size.toDouble / live.size)
  }

  // ---- references: no graft code below ----

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def exactTopK(q: Array[Float], ok: Long => Boolean): Array[Long] =
    vecs.indices.iterator.filter(i => ok(i.toLong)).map(i => (cosine(q, vecs(i)), i.toLong))
      .toArray.sortBy { case (s, i) => (-s, i) }.take(K).map(_._2)

  private val termFreq = new Array[Map[String, Int]](NDocs)
  private val docFreq = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var avgdl = 0.0

  private def buildBm25(): Unit = {
    words.indices.foreach { i =>
      termFreq(i) = words(i).groupBy(identity).map { case (w, ws) => w -> ws.length }
      termFreq(i).keys.foreach(w => docFreq(w) += 1)
    }
    avgdl = words.map(_.length.toDouble).sum / NDocs
  }

  private def bm25Score(terms: Seq[String], d: Int): Double = terms.distinct.map { t =>
    val tf = termFreq(d).getOrElse(t, 0)
    if (tf == 0) 0.0
    else {
      val df = docFreq(t)
      val idf = math.log(1.0 + (NDocs - df + 0.5) / (df + 0.5))
      idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * words(d).length / avgdl))
    }
  }.sum

  private def bm25(terms: Seq[String]): Array[(Long, Double)] =
    words.indices.iterator.filter(d => terms.exists(termFreq(d).contains))
      .map(d => (d.toLong, bm25Score(terms, d))).toArray
      .sortBy { case (d, s) => (-s, d) }.take(K)

  private def shingleSet(w: Array[String]): Set[String] =
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(i: Int, j: Int): Double = {
    val a = shingles(i); val b = shingles(j)
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  def finish(): Unit = {
    val kinds = mix.map(_._1).filter(_ != "dedup")
    val lat = kinds.map(k => r.latency.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq)
    val reads = lat.flatten
    val dd = r.latency.getOrElse("dedup", mutable.ArrayBuffer.empty[Double]).toSeq
    r.put("read_p50_ms", Stats.median(reads), "ms", reads.size)
    r.putTail("read", reads)
    r.put("read_per_s", reads.size / (reads.sum / 1000.0), "1/s", reads.size)
    kinds.zip(lat).foreach { case (k, xs) =>
      if (xs.nonEmpty) r.put(s"${k}_p50_ms", Stats.median(xs), "ms", xs.size) }
    r.put("recall_at_10", Stats.mean(ivfRecall.toSeq), "ratio", ivfRecall.size)
    r.put("dedup_p50_ms", Stats.median(dd), "ms", dd.size)
    r.put("docs_per_s", NDocs / (Stats.median(dd) / 1000.0), "docs/s", dd.size)
    r.put("pair_recall", Stats.mean(pairRecall.toSeq), "ratio", pairRecall.size)
    r.put("pairs", Stats.mean(pairCounts.toSeq), "count", pairCounts.size)
    // approximate answers: IVF top-10 and planted pairs; full text is exact
    r.put("recall", (Stats.mean(ivfRecall.toSeq) + Stats.mean(pairRecall.toSeq)) / 2, "ratio",
      ivfRecall.size + pairRecall.size)
    // stored rows: the vectors and the documents, each as one parquet file;
    // postings are index overhead
    val oneFile = Seq("vectors", "documents").map { s =>
      val one = r.path(s"one-file/$s")
      spark.read.parquet(r.path(s"input/$s")).coalesce(1).write.parquet(one)
      new File(one).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    }.sum
    r.put("space_amp", Probe.dirBytes(new File(ivfLoc).getParentFile).toDouble / oneFile, "ratio", 1)
  }
}

object SearchDedup {
  val NVec = 8000
  val Dim = 32
  val Centres = 32
  val NClusters = 16
  val NDocs = 2000
  val Group = 10
  val K = 10
  val NProbe = 8
  val K1 = 1.2
  val B = 0.75
  val Threshold = 0.8
  val PairSample = 200
  /** Query kinds in order, run twice per step: 10 plain, 3 filtered at
    * 10%, 2 at 1%, 5 full text. */
  val QueryKinds: Seq[String] = Seq("ivf", "fulltext", "ivf_f10", "ivf", "fulltext", "ivf",
    "ivf_f10", "ivf", "fulltext", "ivf", "ivf_f1", "ivf", "fulltext", "ivf", "ivf_f10", "ivf",
    "fulltext", "ivf", "ivf_f1", "ivf")
  /** Distinct queries generated per run: several times what a 60-s run
    * sends; a longer run would start over. */
  val QueryPool = 1000

  /** One query: a vector with an optional `tag` band, or text terms. */
  final case class Query(kind: String, vec: Array[Float], band: Option[(Int, Int)], terms: Seq[String])

  val VecSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("tag", IntegerType), StructField("emb", ArrayType(FloatType, containsNull = false))))
  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
}
