package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.roaringbitmap.RoaringBitmap

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer

/**
 * Per-data-file secondary indexes for file skipping and row skipping
 * (capability of paimon's file-index subsystem: fileindex/bloomfilter/
 * BloomFilterFileIndex.java, fileindex/bitmap/BitmapFileIndex.java,
 * fileindex/bsi/BitSliceIndexBitmapFileIndex.java; spec in
 * docs/docs/concepts/spec/fileindex.mdx). Not byte-compatible — graft
 * stores index payloads as parquet rows `(key, column, kind, payload)`
 * under `index/file-index/`, one directory per build, keyed by the same
 * per-file key deletion vectors use.
 *
 * Three kinds:
 *  - `bloom-filter`: per-file Bloom filter over a column (spark-sketch).
 *    Equality/IN file skipping on high-cardinality columns whose values
 *    interleave across files (min/max can't help there).
 *  - `bitmap`: exact value dictionary -> roaring row-position bitmap.
 *    Equality/IN gives exact file skipping AND row skipping: the selection
 *    complement merges into the deletion-vector position-skip path, so the
 *    native columnar scan never surfaces non-matching rows.
 *  - `bsi` (bit-sliced index, alias `range-bitmap`): 64 bit-slice bitmaps
 *    over long-convertible values. Range/equality predicates evaluate with
 *    O(64) bitmap algebra to exact row selections — catches files whose
 *    min/max envelope covers the range but which hold no row inside it.
 *
 * Everything distributed: the build is one groupBy-file aggregation pass
 * over the just-written files (map-side combined, buffers live objects,
 * serialize only at shuffle), written straight from executors. The read
 * side caches deserialized payloads per executor/driver (FiCache).
 */
case class FileIndexSpec(column: String, kind: String,
                         fpp: Double, items: Long, maxCard: Int)

object FileIndexes {
  val DIR = "index/file-index"
  val BLOOM = "bloom-filter"
  val BITMAP = "bitmap"
  val BSI = "bsi"

  /** Parse `file-index.<kind>.columns` (+ per-column tuning) from options. */
  def specsOf(options: Map[String, String], schema: StructType): Seq[FileIndexSpec] = {
    def cols(kind: String): Seq[String] =
      options.get(s"file-index.$kind.columns").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    def spec(kind: String, c: String): FileIndexSpec = FileIndexSpec(c, kind,
      fpp = options.getOrElse(s"file-index.$kind.$c.fpp", "0.03").toDouble,
      items = options.getOrElse(s"file-index.$kind.$c.items", "200000").toLong,
      maxCard = options.getOrElse(s"file-index.$kind.$c.max-cardinality", "10000").toInt)
    val all =
      cols(BLOOM).map(spec(BLOOM, _)) ++
      cols(BITMAP).map(spec(BITMAP, _)) ++
      (cols(BSI) ++ cols("range-bitmap")).map(spec(BSI, _))
    // only index columns the schema has and the kind supports
    all.filter { s =>
      schema.fields.find(_.name == s.column).exists { f =>
        if (s.kind == BSI) longFamily(f.dataType)
        else longFamily(f.dataType) || f.dataType.isInstanceOf[StringType]
      }
    }
  }

  private def longFamily(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: DateType | _: TimestampType => true
    case _ => false
  }

  /** Normalized build/query value space: long for the long family (dates as
    * epoch days, timestamps as epoch micros), string otherwise. */
  private def normCol(dt: DataType, c: Column): Column = dt match {
    case _: TimestampType => unix_micros(c)
    case _: DateType => unix_date(c).cast(LongType)
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => c.cast(LongType)
    case _ => c.cast(StringType)
  }

  /** Literal of a resolved predicate → the same normalized space.
    * None = null literal (never matches equality/range). */
  private def normLit(dt: DataType, l: Literal): Option[Any] = Option(l.value).map { v =>
    dt match {
      case _: TimestampType => v.asInstanceOf[Long] // catalyst micros
      case _: DateType => v.asInstanceOf[Int].toLong // catalyst days
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
        v.asInstanceOf[Number].longValue()
      case _ => v.toString
    }
  }

  // ---------------------------------------------------------------- build

  /** Build index payloads for the data files a write just put under
    * `stagingAbs` (its own `entries`, nothing re-listed) — one distributed
    * aggregation pass, payloads written from executors (the driver sees
    * only the job result). No-op without configured specs or files. */
  def build(t: GraftTable, stagingAbs: String, entries: Seq[ManifestEntry]): Unit = {
    if (t.fileIndexSpecs.isEmpty || entries.isEmpty) return
    val written = t.readDataFiles(
      StructType(t.fileSchema.fields ++ Array(
        StructField(GraftTable.PT, StringType),
        StructField(GraftTable.BUCKET, IntegerType))),
      entries, basePath = Some(stagingAbs))
    buildFromDf(t, written)
  }

  /** Rebuild the whole index directory from the live files — `CALL
    * sys.rewrite_file_index`: backfills after ALTERing file-index options
    * on an existing table, and compacts the accumulated per-commit index
    * directories into one. */
  def rebuildAll(t: GraftTable): Long = {
    val dir = new Path(t.location, DIR)
    val fs = dir.getFileSystem(t.spark.sessionState.newHadoopConf())
    if (fs.exists(dir)) fs.delete(dir, true)
    FileIndexStore.invalidate(t.location)
    val entries = t.planFiles(None, None)
    if (t.fileIndexSpecs.isEmpty || entries.isEmpty) return 0L
    buildFromDf(t, t.readDataFiles(t.fileSchema, entries))
    entries.size.toLong
  }

  private def buildFromDf(t: GraftTable, files: DataFrame): Unit = {
    val specs = t.fileIndexSpecs
    val spark = t.spark
    val fields = t.fileSchema.fields.map(f => f.name -> f.dataType).toMap
    val written = files
      .select(Seq(col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__ri")) ++
        specs.map(s => normCol(fields(s.column), col(s.column)).as(s"__v_${s.kind}_${s.column}")): _*)
    val aggs = specs.zipWithIndex.map { case (s, i) =>
      val isLong = longFamily(fields(s.column))
      SparkShims.column(FileIndexAgg(
        SparkShims.expression(col(s"__v_${s.kind}_${s.column}")),
        SparkShims.expression(col("__ri")),
        s.kind, isLong, s.items, s.fpp, s.maxCard).toAggregateExpression()).as(s"__p$i")
    }
    val keyOf = udf { (p: String) =>
      val decoded = if (p.contains('%')) new java.net.URI(p).getPath else p
      GraftTable.dvKey(decoded)
    }
    val entriesPerFile = specs.zipWithIndex.map { case (s, i) =>
      struct(lit(s.column).as("column"), lit(s.kind).as("kind"),
        col(s"__p$i").as("payload"))
    }
    val outDir = new Path(new Path(t.location, DIR),
      s"fi-${java.util.UUID.randomUUID().toString.take(12)}").toString
    written.groupBy(col("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .select(keyOf(col("__fp")).as("key"), explode(array(entriesPerFile: _*)).as("e"))
      .select(col("key"), col("e.column").as("column"),
        col("e.kind").as("kind"), col("e.payload").as("payload"))
      .write.parquet(outDir)
    FileIndexStore.invalidate(t.location)
  }

  // ---------------------------------------------------------------- query

  /** File-level pruning + row-level selection for `entries` under resolved
    * conjuncts `expr`. Returns surviving entries and, per surviving file
    * key, an exact selection bitmap when some index proved one (rows NOT in
    * the selection cannot match `expr`; rows in it re-check in the scan). */
  def pruneAndSelect(t: GraftTable, entries: Seq[ManifestEntry], expr: Expression)
      : (Seq[ManifestEntry], Map[String, RoaringBitmap]) = {
    val specs = t.fileIndexSpecs
    if (specs.isEmpty || entries.isEmpty) return (entries, Map.empty)
    val conjuncts = splitAnd(expr).flatMap(c => compile(c, t.fileSchema, specs))
    if (conjuncts.isEmpty) return (entries, Map.empty)
    val store = FileIndexStore.load(t.spark, t.location)
    if (store.isEmpty) return (entries, Map.empty)
    val kept = Seq.newBuilder[ManifestEntry]
    val sels = Map.newBuilder[String, RoaringBitmap]
    entries.foreach { e =>
      val key = GraftTable.dvKey(e.path)
      val payloads = store.getOrElse(key, Map.empty)
      var sel: RoaringBitmap = null // null = all rows
      var skip = false
      conjuncts.iterator.takeWhile(_ => !skip).foreach { c =>
        c.eval(key, payloads) match {
          case None => // no info from this file's indexes
          case Some(bm) =>
            if (bm.isEmpty) skip = true
            else sel = if (sel == null) bm else { val x = sel.clone(); x.and(bm); x }
        }
      }
      if (!skip && sel != null && sel.isEmpty) skip = true
      if (!skip) {
        kept += e
        if (sel != null && sel.getLongCardinality < e.rowCount) sels += key -> sel
      }
    }
    (kept.result(), sels.result().toMap)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Merge row selections into a deletion-vector skip map: skip = complement
    * of the selection within [0, rowCount), OR'd with any outstanding DV for
    * the file. The result rides the existing DV position-skip path (library
    * filter and native columnar reader both). */
  def mergeSkips(entries: Seq[ManifestEntry],
                 sels: Map[String, RoaringBitmap],
                 dv: Map[String, Array[Byte]]): Map[String, Array[Byte]] = {
    if (sels.isEmpty) return dv
    val rowCounts = entries.map(e => GraftTable.dvKey(e.path) -> e.rowCount).toMap
    val out = scala.collection.mutable.Map[String, Array[Byte]]() ++ dv
    sels.foreach { case (key, sel) =>
      rowCounts.get(key).foreach { rc =>
        val skip = RoaringBitmap.flip(sel, 0L, rc)
        out.get(key).foreach { bytes =>
          val cur = new RoaringBitmap
          cur.deserialize(ByteBuffer.wrap(bytes))
          skip.or(cur)
        }
        if (!skip.isEmpty) {
          skip.runOptimize()
          val bos = new ByteArrayOutputStream()
          skip.serialize(new DataOutputStream(bos))
          out(key) = bos.toByteArray
        }
      }
    }
    out.toMap
  }

  /** A compiled conjunct: evaluates against one file's index payloads.
    * Some(bitmap) = exact row selection (empty = skip file); None = index
    * can't decide for this file. */
  private sealed trait Compiled {
    def eval(key: String, payloads: Map[(String, String), Array[Byte]]): Option[RoaringBitmap]
  }

  private case class EqIn(column: String, values: Seq[Any], isLong: Boolean) extends Compiled {
    def eval(key: String, p: Map[(String, String), Array[Byte]]): Option[RoaringBitmap] = {
      // prefer exact indexes (bitmap, bsi) over the probabilistic bloom
      for (bytes <- p.get((column, BITMAP));
           dict <- FiCache.bitmapDict(key, column, bytes)) {
        val out = new RoaringBitmap
        values.foreach { v => val bm = dict.get(v); if (bm != null) out.or(bm) }
        return Some(out)
      }
      if (isLong) p.get((column, BSI)).foreach { bytes =>
        val bsi = FiCache.bsi(key, column, bytes)
        val out = new RoaringBitmap
        values.foreach(v => out.or(bsi.eq(v.asInstanceOf[Long])))
        return Some(out)
      }
      p.get((column, BLOOM)).flatMap { bytes =>
        val bf = FiCache.bloom(key, column, bytes)
        val any = values.exists {
          case l: Long => bf.mightContainLong(l)
          case s => bf.mightContainString(s.toString)
        }
        // bloom has no row granularity: proven-absent skips the file,
        // a positive says nothing (keep all rows)
        if (any) None else Some(new RoaringBitmap)
      }
    }
  }

  /** op: '<' '≤' '>' '≥' against a long literal via BSI. */
  private case class Range(column: String, op: Char, value: Long) extends Compiled {
    def eval(key: String, p: Map[(String, String), Array[Byte]]): Option[RoaringBitmap] =
      p.get((column, BSI)).map { bytes =>
        val bsi = FiCache.bsi(key, column, bytes)
        op match {
          case '<' => bsi.lt(value)
          case '≤' => bsi.le(value)
          case '>' => bsi.gt(value)
          case '≥' => bsi.ge(value)
        }
      }
  }

  /** Compile one conjunct if an index kind can serve it. */
  private def compile(e: Expression, schema: StructType,
                      specs: Seq[FileIndexSpec]): Option[Compiled] = {
    val indexed = specs.map(_.column).toSet
    def dtOf(n: String): Option[DataType] = schema.fields.find(_.name == n).map(_.dataType)
    def eqIn(name: String, lits: Seq[Literal]): Option[Compiled] =
      dtOf(name).flatMap { dt =>
        val vs = lits.flatMap(l => normLit(dt, l))
        if (vs.isEmpty) None // all-null literals: never match, but let Spark decide
        else Some(EqIn(name, vs, longFamily(dt)))
      }
    def range(name: String, l: Literal, op: Char): Option[Compiled] =
      dtOf(name).filter(longFamily).flatMap(dt => normLit(dt, l)).collect {
        case v: Long => Range(name, op, v)
      }
    StatsPrune.attrLit(e) match {
      case Some((name, l, flipped, cls)) if indexed(name) => cls match {
        case "=" => eqIn(name, Seq(l))
        case "<" => range(name, l, if (flipped) '>' else '<')
        case "<=" => range(name, l, if (flipped) '≥' else '≤')
        case ">" => range(name, l, if (flipped) '<' else '>')
        case ">=" => range(name, l, if (flipped) '≤' else '≥')
        case _ => None
      }
      case _ => e match {
        case In(ar: AttributeReference, vs) if indexed(ar.name) &&
            vs.forall(_.isInstanceOf[Literal]) =>
          eqIn(ar.name, vs.map(_.asInstanceOf[Literal]))
        case InSet(ar: AttributeReference, vs) if indexed(ar.name) =>
          dtOf(ar.name).map { dt =>
            EqIn(ar.name, vs.toSeq.flatMap(v =>
              normLit(dt, Literal.create(v, dt))), longFamily(dt))
          }
        case _ => None
      }
    }
  }

  // ------------------------------------------------------- serialization

  private[core] def serializeBloom(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write('B'); bf.writeTo(bos); bos.toByteArray
  }

  private[core] def serializeBitmap(map: java.util.LinkedHashMap[Any, RoaringBitmap],
                                    poisoned: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte('M')
    out.writeBoolean(poisoned)
    if (!poisoned) {
      out.writeInt(map.size)
      map.forEach { (k, bm) =>
        k match {
          case l: java.lang.Long => out.writeByte(0); out.writeLong(l)
          case s => out.writeByte(1); out.writeUTF(s.toString)
        }
        bm.runOptimize()
        val b = new ByteArrayOutputStream()
        bm.serialize(new DataOutputStream(b))
        val arr = b.toByteArray
        out.writeInt(arr.length); out.write(arr)
      }
    }
    bos.toByteArray
  }

  private[core] def serializeBsi(exist: RoaringBitmap,
                                 slices: Array[RoaringBitmap]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeByte('S')
    def wr(bm: RoaringBitmap): Unit = {
      bm.runOptimize()
      val b = new ByteArrayOutputStream()
      bm.serialize(new DataOutputStream(b))
      val arr = b.toByteArray
      out.writeInt(arr.length); out.write(arr)
    }
    wr(exist)
    val live = slices.indices.filter(i => slices(i) != null && !slices(i).isEmpty)
    out.writeByte(live.size)
    live.foreach { i => out.writeByte(i); wr(slices(i)) }
    bos.toByteArray
  }

  private[core] def readBitmapAt(in: DataInputStream): RoaringBitmap = {
    val len = in.readInt()
    val arr = new Array[Byte](len)
    in.readFully(arr)
    val bm = new RoaringBitmap
    bm.deserialize(ByteBuffer.wrap(arr))
    bm
  }

  /** None = poisoned (cardinality overflow at build — index carries no info). */
  private[core] def deserializeBitmapDict(bytes: Array[Byte])
      : Option[java.util.LinkedHashMap[Any, RoaringBitmap]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readByte() == 'M')
    if (in.readBoolean()) return None
    val n = in.readInt()
    val map = new java.util.LinkedHashMap[Any, RoaringBitmap]()
    (0 until n).foreach { _ =>
      val k: Any = if (in.readByte() == 0) java.lang.Long.valueOf(in.readLong())
                   else in.readUTF()
      map.put(k, readBitmapAt(in))
    }
    Some(map)
  }

  private[core] def deserializeBsi(bytes: Array[Byte]): Bsi = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readByte() == 'S')
    val exist = readBitmapAt(in)
    val slices = new Array[RoaringBitmap](64)
    val n = in.readByte()
    (0 until n).foreach { _ =>
      val i = in.readByte()
      slices(i) = readBitmapAt(in)
    }
    new Bsi(exist, slices)
  }

  private[core] def deserializeBloom(bytes: Array[Byte]): BloomFilter = {
    val in = new ByteArrayInputStream(bytes)
    require(in.read() == 'B')
    BloomFilter.readFrom(in)
  }
}

/** Bit-sliced index over biased (order-preserving unsigned) long values:
  * slice i holds the row positions whose value has bit i set. The classic
  * BSI comparison scan (O(64) bitmap ops) yields exact row selections for
  * =, <, ≤, >, ≥ (cf. paimon BitSliceIndexBitmapFileIndex.java). */
final class Bsi(val exist: RoaringBitmap, slices: Array[RoaringBitmap]) {
  private def slice(i: Int): RoaringBitmap =
    if (slices(i) == null) new RoaringBitmap else slices(i)
  private def bias(v: Long): Long = v ^ Long.MinValue

  /** (strictly-less, equal) row bitmaps vs biased compare value. */
  private def cmpScan(c: Long): (RoaringBitmap, RoaringBitmap) = {
    var eq = exist.clone()
    val lt = new RoaringBitmap
    var i = 63
    while (i >= 0 && !eq.isEmpty) {
      val s = slice(i)
      if (((c >>> i) & 1L) == 1L) {
        lt.or(RoaringBitmap.andNot(eq, s)) // bit clear where compare has set → less
        eq.and(s)
      } else {
        eq = RoaringBitmap.andNot(eq, s) // bit set where compare has clear → greater
      }
      i -= 1
    }
    (lt, eq)
  }

  def eq(v: Long): RoaringBitmap = cmpScan(bias(v))._2
  def lt(v: Long): RoaringBitmap = cmpScan(bias(v))._1
  def le(v: Long): RoaringBitmap = {
    val (l, e) = cmpScan(bias(v)); l.or(e); l
  }
  def ge(v: Long): RoaringBitmap = RoaringBitmap.andNot(exist, lt(v))
  def gt(v: Long): RoaringBitmap = RoaringBitmap.andNot(exist, le(v))
}

/** Executor/driver-local cache of deserialized index payloads (pattern of
  * [[DvCache]]: deserialize once per JVM, key carries a content stamp). */
object FiCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def k(key: String, col: String, kind: String, bytes: Array[Byte]) =
    s"$kind:$col:$key@${bytes.length}"
  def bloom(key: String, col: String, bytes: Array[Byte]): BloomFilter =
    cache.computeIfAbsent(k(key, col, "bf", bytes),
      _ => FileIndexes.deserializeBloom(bytes)).asInstanceOf[BloomFilter]
  def bitmapDict(key: String, col: String, bytes: Array[Byte])
      : Option[java.util.LinkedHashMap[Any, RoaringBitmap]] =
    cache.computeIfAbsent(k(key, col, "bm", bytes),
        _ => FileIndexes.deserializeBitmapDict(bytes))
      .asInstanceOf[Option[java.util.LinkedHashMap[Any, RoaringBitmap]]]
  def bsi(key: String, col: String, bytes: Array[Byte]): Bsi =
    cache.computeIfAbsent(k(key, col, "bsi", bytes),
      _ => FileIndexes.deserializeBsi(bytes)).asInstanceOf[Bsi]
}

/** Driver-side store of a table's file-index payloads, invalidated by the
  * index directory's listing fingerprint. Scale note: the whole-directory
  * load bounds at the configured columns × live files; above
  * `file-index.read.cache-bytes` (default 256 MB of payload files) the load
  * degrades to NO pruning rather than an unbounded driver map — the
  * distributed planning path prunes by manifest stats alone there. */
object FileIndexStore {
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, Map[(String, String), Array[Byte]]])]()

  def invalidate(location: String): Unit = cache.remove(location)

  def load(spark: SparkSession, location: String,
           maxBytes: Long = 256L << 20): Map[String, Map[(String, String), Array[Byte]]] = {
    val dir = new Path(location, FileIndexes.DIR)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return Map.empty
    val files = {
      val it = fs.listFiles(dir, true)
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getPath.toString -> f.getLen
      }
      b.result().sortBy(_._1)
    }
    if (files.isEmpty) return Map.empty
    if (files.map(_._2).sum > maxBytes) return Map.empty
    val fp = files.map { case (p, l) => s"$p:$l" }.mkString("|").hashCode.toString
    Option(cache.get(location)) match {
      case Some((`fp`, m)) => m
      case _ =>
        val rows = spark.read.option("recursiveFileLookup", "true")
          .parquet(dir.toString)
          .select("key", "column", "kind", "payload").collect()
        val m = rows.groupBy(_.getString(0)).map { case (key, rs) =>
          key -> rs.map(r => (r.getString(1), r.getString(2)) -> r.getAs[Array[Byte]](3)).toMap
        }
        cache.put(location, (fp, m))
        m
    }
  }
}

// ------------------------------------------------------------------ agg

/** One-pass per-file index builder: TypedImperativeAggregate whose buffer
  * is the LIVE index structure (bloom filter / value dictionary / bit
  * slices), mutated per row, serialized only at shuffle boundaries — the
  * same shape as [[graft.functions.GraftAggs]]. Children: normalized value
  * (long or string), parquet row position. */
case class FileIndexAgg(valueChild: Expression, posChild: Expression,
                        kind: String, isLong: Boolean,
                        items: Long, fpp: Double, maxCard: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[FileIndexAgg.Buf] {
  import FileIndexAgg._

  override def children: Seq[Expression] = Seq(valueChild, posChild)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): FileIndexAgg =
    copy(valueChild = cs(0), posChild = cs(1))
  override def withNewMutableAggBufferOffset(o: Int): FileIndexAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FileIndexAgg =
    copy(inputAggBufferOffset = o)

  override def createAggregationBuffer(): Buf = kind match {
    case FileIndexes.BLOOM => BloomBuf(BloomFilter.create(items, fpp))
    case FileIndexes.BITMAP => BitmapBuf(new java.util.LinkedHashMap[Any, RoaringBitmap](), false)
    case FileIndexes.BSI => BsiBuf(new RoaringBitmap, new Array[RoaringBitmap](64))
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = valueChild.eval(input)
    if (v == null) return buf // nulls: stats nullCount covers IS NULL
    val pos = posChild.eval(input).asInstanceOf[Long].toInt
    buf match {
      case BloomBuf(bf) =>
        if (isLong) bf.putLong(v.asInstanceOf[Long]) else bf.putString(v.toString)
      case b @ BitmapBuf(map, _) =>
        if (!b.poisoned) {
          val key: Any = if (isLong) java.lang.Long.valueOf(v.asInstanceOf[Long]) else v.toString
          var bm = map.get(key)
          if (bm == null) {
            if (map.size >= maxCard) { b.poisoned = true; map.clear() }
            else { bm = new RoaringBitmap; map.put(key, bm) }
          }
          if (bm != null) bm.add(pos)
        }
      case BsiBuf(exist, slices) =>
        exist.add(pos)
        val biased = v.asInstanceOf[Long] ^ Long.MinValue
        var i = 0
        while (i < 64) {
          if (((biased >>> i) & 1L) == 1L) {
            if (slices(i) == null) slices(i) = new RoaringBitmap
            slices(i).add(pos)
          }
          i += 1
        }
    }
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = (a, b) match {
    case (BloomBuf(x), BloomBuf(y)) => x.mergeInPlace(y); a
    case (x @ BitmapBuf(xm, _), y @ BitmapBuf(ym, _)) =>
      if (x.poisoned || y.poisoned) { x.poisoned = true; xm.clear(); a }
      else {
        ym.forEach { (k, bm) =>
          val cur = xm.get(k)
          if (cur == null) {
            if (xm.size >= maxCard) { x.poisoned = true; xm.clear(); return a }
            xm.put(k, bm)
          } else cur.or(bm)
        }
        a
      }
    case (BsiBuf(xe, xs), BsiBuf(ye, ys)) =>
      xe.or(ye)
      var i = 0
      while (i < 64) {
        if (ys(i) != null) {
          if (xs(i) == null) xs(i) = ys(i) else xs(i).or(ys(i))
        }
        i += 1
      }
      a
    case _ => a
  }

  override def eval(buf: Buf): Any = serialize(buf)

  override def serialize(buf: Buf): Array[Byte] = buf match {
    case BloomBuf(bf) => FileIndexes.serializeBloom(bf)
    case b @ BitmapBuf(map, _) => FileIndexes.serializeBitmap(map, b.poisoned)
    case BsiBuf(exist, slices) => FileIndexes.serializeBsi(exist, slices)
  }

  override def deserialize(bytes: Array[Byte]): Buf = bytes(0).toChar match {
    case 'B' => BloomBuf(FileIndexes.deserializeBloom(bytes))
    case 'M' => FileIndexes.deserializeBitmapDict(bytes) match {
      case Some(m) => BitmapBuf(m, false)
      case None => BitmapBuf(new java.util.LinkedHashMap[Any, RoaringBitmap](), true)
    }
    case 'S' =>
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      in.readByte()
      val exist = FileIndexes.readBitmapAt(in)
      val slices = new Array[RoaringBitmap](64)
      val n = in.readByte()
      (0 until n).foreach { _ =>
        val i = in.readByte(); slices(i) = FileIndexes.readBitmapAt(in)
      }
      BsiBuf(exist, slices)
  }
}

object FileIndexAgg {
  sealed trait Buf
  case class BloomBuf(bf: BloomFilter) extends Buf
  case class BitmapBuf(map: java.util.LinkedHashMap[Any, RoaringBitmap],
                       var poisoned: Boolean) extends Buf
  case class BsiBuf(exist: RoaringBitmap, slices: Array[RoaringBitmap]) extends Buf
}
