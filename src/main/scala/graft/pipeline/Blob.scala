package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID

/**
 * Out-of-line BLOB storage for multimodal columns — the capability of the
 * reference's BlobDescriptor family (paimon-common/.../data/BlobDescriptor.java,
 * spark/function/PathToDescriptorFunction.java): large binary payloads
 * (images/audio/video) live in shared blob files; tables carry compact
 * descriptors `struct(uri, offset, length)`; readers fetch byte ranges on
 * demand.
 *
 * Write path is fully distributed: each task appends its rows' payloads to
 * ONE blob file (sequential large writes — object-store friendly) and emits
 * descriptor rows. No driver involvement, no per-blob small files.
 *
 * Image/audio DECODING is stubbed (codecs are out of scope in this
 * environment): [[fakeDecodeImage]] derives deterministic metadata from the
 * bytes, exercising the real Spark-side plumbing (schema, batching,
 * distribution) an actual codec UDF would use.
 */
object Blob {

  case class BlobDesc(uri: String, offset: Long, length: Long)
  case class ImageMeta(width: Int, height: Int, format: String)

  val descriptorType: StructType = StructType(Seq(
    StructField("uri", StringType, false),
    StructField("offset", LongType, false),
    StructField("length", LongType, false)))

  /**
   * Replace binary column `binCol` with a descriptor column of the same
   * name: payloads append to `<blobDir>/blob-<uuid>.bin` (one file per
   * task), descriptors point at (uri, offset, length).
   *
   * The write happens when the returned frame EXECUTES; re-executing the
   * plan writes a fresh blob-file set (each result row references its own
   * run's files — correct, but wasteful). Persist the descriptors (cache,
   * or write them into a table) before fanning out multiple actions.
   */
  def writeBlobs(df: DataFrame, binCol: String, blobDir: String): DataFrame = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val idx = df.schema.fieldIndex(binCol)
    val outSchema = StructType(df.schema.fields.map { f =>
      if (f.name == binCol) StructField(binCol, descriptorType, f.nullable) else f
    })
    val outRdd = df.rdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val path = new Path(blobDir, s"blob-${UUID.randomUUID().toString.take(16)}.bin")
        val fs = path.getFileSystem(conf.value)
        val out = fs.create(path, true)
        var offset = 0L
        val uri = path.toString
        var closed = false
        new Iterator[Row] {
          override def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h && !closed) { out.close(); closed = true }
            h
          }
          override def next(): Row = {
            val r = rows.next()
            val bytes = r.get(idx) match {
              case b: Array[Byte] => b
              case null => null
            }
            val desc =
              if (bytes == null) null
              else {
                val d = Row(uri, offset, bytes.length.toLong)
                out.write(bytes); offset += bytes.length
                d
              }
            val out0 = Row.fromSeq(r.toSeq.updated(idx, desc))
            if (!rows.hasNext && !closed) { out.close(); closed = true }
            out0
          }
        }
      }
    }
    spark.createDataFrame(outRdd, outSchema)
  }

  // ---- table-integrated blob columns (reference multimodal-table/blob.mdx:
  // __BLOB_FIELD / __BLOB_DESCRIPTOR_FIELD / __BLOB_VIEW_FIELD comment
  // directives). Physical form inside parquet is BINARY: a magic-prefixed
  // JSON descriptor (out-of-line payload) or view reference; any OTHER bytes
  // in a declared blob column are an inline payload (e.g. a MERGE-inserted
  // row) — reads pass them through, the next compaction re-splits them.

  private val DESC_MAGIC: Array[Byte] =
    Array(0x89.toByte, 'G'.toByte, 'B'.toByte, 'D'.toByte, '1'.toByte, 0.toByte)
  private val VIEW_MAGIC: Array[Byte] =
    Array(0x89.toByte, 'G'.toByte, 'B'.toByte, 'V'.toByte, '1'.toByte, 0.toByte)

  private def hasMagic(bytes: Array[Byte], magic: Array[Byte]): Boolean =
    bytes != null && bytes.length > magic.length &&
      java.util.Arrays.equals(bytes, 0, magic.length, magic, 0, magic.length)

  /** Upstream reference stored by a `__BLOB_VIEW_FIELD` column: the
    * qualified table NAME (display / re-resolution), its resolved LOCATION
    * (what reads join against), the upstream blob field and the row-tracking
    * id (reference BlobViewStruct — blob.mdx "Blob View"). */
  case class BlobViewRef(table: String, location: String, field: String, rowId: Long)

  def serializeDesc(uri: String, offset: Long, length: Long): Array[Byte] =
    DESC_MAGIC ++ graft.core.Json.write(BlobDesc(uri, offset, length))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // ---- fast-path parsing of the two fixed-shape descriptor JSONs -------
  // Every blob VALUE resolved pays a descriptor parse (and every view value
  // a ref parse first): at 100 TB that is one JSON parse per payload, per
  // read. The writer is our own Json.write over a case class (stable field
  // order, no extra whitespace), so the common case is a fixed template —
  // parse it with two index scans and Long.parseLong instead of a Jackson
  // tree. ANY irregularity (escapes, quotes in strings, reordered or
  // unexpected fields, foreign writers) falls back to Jackson, so the wire
  // contract is unchanged.

  /** Value of `"key":"` → (string, index after closing quote), or null on
    * any escape/irregularity (caller falls back to Jackson). */
  private def fastStr(s: String, from: Int, key: String): (String, Int) = {
    val pat = "\"" + key + "\":\""
    if (!s.startsWith(pat, from)) return null
    val start = from + pat.length
    val end = s.indexOf('"', start)
    if (end < 0 || s.lastIndexOf('\\', end - 1) >= start) return null
    (s.substring(start, end), end + 1)
  }

  /** Value of `"key":` digits → (long, index after digits), or null. */
  private def fastLong(s: String, from: Int, key: String): (Long, Int) = {
    val pat = "\"" + key + "\":"
    if (!s.startsWith(pat, from)) return null
    var i = from + pat.length
    val start = i
    while (i < s.length && (s.charAt(i).isDigit || (i == start && s.charAt(i) == '-'))) i += 1
    if (i == start) return null
    try ((s.substring(start, i).toLong, i)) catch { case _: Exception => null }
  }

  private def fastParseDesc(s: String): BlobDesc = {
    if (!s.startsWith("{")) return null
    val u = fastStr(s, 1, "uri"); if (u == null) return null
    if (!s.startsWith(",", u._2)) return null
    val o = fastLong(s, u._2 + 1, "offset"); if (o == null) return null
    if (!s.startsWith(",", o._2)) return null
    val l = fastLong(s, o._2 + 1, "length"); if (l == null) return null
    if (!s.startsWith("}", l._2)) return null
    BlobDesc(u._1, o._1, l._1)
  }

  private def fastParseViewRef(s: String): BlobViewRef = {
    if (!s.startsWith("{")) return null
    val t = fastStr(s, 1, "table"); if (t == null) return null
    if (!s.startsWith(",", t._2)) return null
    val loc = fastStr(s, t._2 + 1, "location"); if (loc == null) return null
    if (!s.startsWith(",", loc._2)) return null
    val f = fastStr(s, loc._2 + 1, "field"); if (f == null) return null
    if (!s.startsWith(",", f._2)) return null
    val r = fastLong(s, f._2 + 1, "rowId"); if (r == null) return null
    if (!s.startsWith("}", r._2)) return null
    BlobViewRef(t._1, loc._1, f._1, r._1)
  }

  def tryParseDesc(bytes: Array[Byte]): Option[BlobDesc] =
    if (!hasMagic(bytes, DESC_MAGIC)) None
    else {
      val s = new String(bytes, DESC_MAGIC.length,
        bytes.length - DESC_MAGIC.length, java.nio.charset.StandardCharsets.UTF_8)
      val fast = fastParseDesc(s)
      if (fast != null) Some(fast)
      else Some(graft.core.Json.read(s, classOf[BlobDesc]))
    }

  def serializeViewRef(ref: BlobViewRef): Array[Byte] =
    VIEW_MAGIC ++ graft.core.Json.write(ref)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def tryParseViewRef(bytes: Array[Byte]): Option[BlobViewRef] =
    if (!hasMagic(bytes, VIEW_MAGIC)) None
    else {
      val s = new String(bytes, VIEW_MAGIC.length,
        bytes.length - VIEW_MAGIC.length, java.nio.charset.StandardCharsets.UTF_8)
      val fast = fastParseViewRef(s)
      if (fast != null) Some(fast)
      else Some(graft.core.Json.read(s, classOf[BlobViewRef]))
    }

  /** Library-side view-reference builder (the SQL spelling is
    * `graft_blob_view('db.t', 'field', row_id)` registered by the catalog):
    * a column of serialized refs into `upstreamLoc`'s `field`. */
  def blobViewRef(upstreamName: String, upstreamLoc: String, field: String,
                  rowId: Column): Column = {
    val f = udf { (rid: Long) =>
      serializeViewRef(BlobViewRef(upstreamName, upstreamLoc, field, rid)) }
    f(rowId)
  }

  /** Memory-size option values (`128mb`, `1 GB`, `4096`): bytes. */
  private[graft] def parseMemorySize(s: String): Long = {
    val m = """(?i)^\s*(\d+)\s*(b|kb|k|mb|m|gb|g|tb|t)?\s*$""".r
    s match {
      case m(n, unit) =>
        val mult = Option(unit).map(_.toLowerCase.charAt(0)).getOrElse('b') match {
          case 'b' => 1L
          case 'k' => 1L << 10
          case 'm' => 1L << 20
          case 'g' => 1L << 30
          case 't' => 1L << 40
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(s"invalid memory size '$s'")
    }
  }

  /** Write-path split for declared `blob-field` columns: inline payloads in
    * `cols` move to shared `.bin` files under `blobDir` (sequential large
    * writes, one open file per task ROLLED at `targetBytes` — the
    * reference's `blob.target-file-size`) and the column keeps a serialized
    * descriptor. Values that already carry a descriptor/view magic pass
    * through, so compaction rewrites and pre-merged PK flushes never
    * double-wrap. */
  def splitBlobColumns(df: DataFrame, cols: Seq[String], blobDir: String,
                       targetBytes: Long = Long.MaxValue): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) return df
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val idxs = present.map(df.schema.fieldIndex)
    val schema = df.schema
    val outRdd = df.rdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else new Iterator[Row] {
        private lazy val fs =
          new Path(blobDir).getFileSystem(conf.value)
        private var path: Path = null
        private var out: org.apache.hadoop.fs.FSDataOutputStream = null
        private var offset = 0L
        private def ensureOpen(): Unit = {
          if (out != null && offset >= targetBytes) { out.close(); out = null }
          if (out == null) {
            path = new Path(blobDir,
              s"blob-${UUID.randomUUID().toString.take(16)}.bin")
            fs.mkdirs(path.getParent)
            out = fs.create(path, true)
            offset = 0L
          }
        }
        private def closeOut(): Unit =
          if (out != null) { out.close(); out = null }
        override def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h) closeOut()
          h
        }
        private def externalize(v: Any): Any = v match {
          case b: Array[Byte]
              if !hasMagic(b, DESC_MAGIC) && !hasMagic(b, VIEW_MAGIC) =>
            ensureOpen()
            out.write(b)
            val d = serializeDesc(path.toString, offset, b.length.toLong)
            offset += b.length
            d
          // collection storage (ARRAY<BLOB> / MAP<K, BLOB>, reference
          // pk-table blob-storage.md): each non-null element/value
          // externalizes independently
          case seq: scala.collection.Seq[_] => seq.map(externalize)
          case m: scala.collection.Map[_, _] =>
            m.map { case (k, x) => k -> externalize(x) }
          case other => other
        }
        override def next(): Row = {
          val r = rows.next()
          var vals = r.toSeq
          idxs.foreach { i => vals = vals.updated(i, externalize(vals(i))) }
          val o = Row.fromSeq(vals)
          if (!rows.hasNext) closeOut()
          o
        }
      }
    }
    spark.createDataFrame(outRdd, schema)
  }

  /** Bounded per-JVM cache of open payload-pack streams: ranged reads use
    * the thread-safe positioned `readFully(pos, …)` (PositionedReadable),
    * so many rows share one open stream per pack instead of an
    * open/seek/close round trip per VALUE — on an object store that is the
    * difference between O(values) and O(distinct packs) metadata calls.
    * Implementation: access-ordered LinkedHashMap with removeEldestEntry
    * under a single lock — NOT a ConcurrentHashMap computeIfAbsent that
    * evicts inside its own mapping function (the CHM contract forbids
    * mutating other mappings mid-compute, and a racing evictor could leak
    * an entry past the cap). Opens happen under the lock: at most
    * O(distinct packs) of them ever, so the serialization is bounded;
    * evicted streams close, late readers reopen via pread's fallback. */
  private val blobStreamLock = new Object
  private val blobStreamCache =
    new java.util.LinkedHashMap[String, org.apache.hadoop.fs.FSDataInputStream](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, org.apache.hadoop.fs.FSDataInputStream]): Boolean =
        if (size() > 64) {
          try e.getValue.close() catch { case _: Exception => () }
          true
        } else false
    }
  private val blobStreamHits = new java.util.concurrent.atomic.AtomicLong()
  private val blobStreamOpens = new java.util.concurrent.atomic.AtomicLong()

  /** (hits, opens) since JVM start or last reset — posture tests assert a
    * blob scan opens O(distinct packs) streams, not O(values). */
  def streamCacheStats: (Long, Long) = (blobStreamHits.get(), blobStreamOpens.get())
  def resetStreamCacheStats(): Unit = { blobStreamHits.set(0L); blobStreamOpens.set(0L) }

  /** Chunked pack-bytes cache: 4 MB-aligned slices of payload packs, byte-
    * budgeted ([[PackCacheBudgetBytes]]) with access-ordered eviction.
    * Small-payload corpora (text documents) would otherwise funnel
    * thousands of positioned reads through ONE shared stream per pack —
    * each a synchronized seek, so 32 executor threads fully serialize (the
    * sf1 probe measured exactly that: one 15 MB pack, 0.11 ms/value flat).
    * Chunking keeps the resident unit bounded regardless of pack size
    * (a 256 MB pack never buffers whole), total I/O stays
    * O(ceil(packBytes / chunk)) = O(packs), and values read lock-get +
    * arraycopy. Values LARGER than one chunk — the MB-scale multimodal
    * case — keep the direct positioned read, the right shape on an object
    * store (transfer time dominates, no cache value). */
  private val PackChunkBytes = 4L << 20
  private val PackCacheBudgetBytes = 128L << 20
  // pack-length memo, LRU-bounded: a long-lived executor reading many packs
  // must not accumulate one entry per pack URI forever (ADVICE r11). A
  // evicted entry just re-probes getFileStatus on next touch.
  private val packLens =
    new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size() > 4096
    }
  private var packCacheBytes = 0L
  private val packCache =
    new java.util.LinkedHashMap[(String, Long), Array[Byte]](64, 0.75f, true)
  // one in-flight load per (pack, chunk): waiters for the SAME chunk block
  // on its future; loads of DIFFERENT chunks/packs proceed concurrently —
  // the 4 MB readFully must NOT hold the global lock (ADVICE r11: on an
  // object store a cold multi-pack scan would serialize JVM-wide)
  private val inFlightChunks = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), java.util.concurrent.CompletableFuture[Array[Byte]]]()

  /** Per-thread memo of the last (pack uri → length) and the last chunk
    * touched (r14, q_blob_bench): payload values are read roughly in write
    * order, so a task's consecutive values overwhelmingly land in the SAME
    * 4 MB chunk of the SAME pack — the memo turns that common case into
    * two field reads and an arraycopy with ZERO shared-lock traffic, where
    * previously EVERY value paid the global `blobStreamLock` twice (packLen
    * get + chunk get) and 32 scan threads serialized on it. Misses fall
    * through to the shared bounded caches unchanged; chunk byte arrays are
    * immutable once loaded, so memoizing references is safe. The memoized
    * chunk sits outside the pack budget, so only a task holds one, and its
    * completion releases it: a pooled executor thread keeps no 4 MB slice
    * between tasks. */
  private final class ThreadBlobMemo {
    var lenUri: String = null
    var len: Long = -1L
    var chunkUri: String = null
    var chunkIdx: Long = -1L
    var chunk: Array[Byte] = null
    private var task = -1L // attempt whose completion releases the chunk

    def hold(uri: String, idx: Long, c: Array[Byte],
             tc: org.apache.spark.TaskContext): Unit = synchronized {
      if (task != tc.taskAttemptId()) {
        task = tc.taskAttemptId()
        tc.addTaskCompletionListener[Unit](_ => release())
      }
      memoPinned.addAndGet(c.length.toLong - (if (chunk == null) 0 else chunk.length))
      chunkUri = uri; chunkIdx = idx; chunk = c
    }

    def release(): Unit = synchronized {
      if (chunk != null) memoPinned.addAndGet(-chunk.length.toLong)
      chunkUri = null; chunkIdx = -1L; chunk = null
    }
  }
  private val threadMemo = new ThreadLocal[ThreadBlobMemo] {
    override def initialValue(): ThreadBlobMemo = new ThreadBlobMemo
  }
  private val memoPinned = new java.util.concurrent.atomic.AtomicLong()

  /** Chunk bytes the per-thread memos hold right now. */
  def memoPinnedBytes: Long = memoPinned.get()

  private def packLen(uri: String, conf: Configuration): Long = {
    val memo = threadMemo.get()
    if (uri == memo.lenUri) return memo.len
    val cached = blobStreamLock.synchronized(packLens.get(uri))
    val len =
      if (cached != null) cached.longValue()
      else {
        val p = new Path(uri)
        val l = p.getFileSystem(conf).getFileStatus(p).getLen
        blobStreamLock.synchronized(packLens.put(uri, java.lang.Long.valueOf(l)))
        l
      }
    memo.lenUri = uri; memo.len = len
    len
  }

  private def cacheGet(key: (String, Long)): Array[Byte] =
    blobStreamLock.synchronized {
      val hit = packCache.get(key)
      if (hit != null) blobStreamHits.incrementAndGet()
      hit
    }

  private def cachePut(key: (String, Long), bytes: Array[Byte]): Unit =
    blobStreamLock.synchronized {
      if (packCache.get(key) == null) {
        packCache.put(key, bytes)
        packCacheBytes += bytes.length
        val it = packCache.entrySet().iterator()
        while (packCacheBytes > PackCacheBudgetBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { packCacheBytes -= e.getValue.length; it.remove() }
        }
      }
    }

  private def loadChunk(uri: String, chunkIdx: Long, plen: Long,
                        conf: Configuration): Array[Byte] = {
    val key = (uri, chunkIdx)
    val hit = cacheGet(key)
    if (hit != null) return hit
    val mine = new java.util.concurrent.CompletableFuture[Array[Byte]]()
    val existing = inFlightChunks.putIfAbsent(key, mine)
    if (existing != null) {
      // another thread is already reading this exact chunk: wait on it
      // instead of issuing a duplicate read (counts as a hit — the posture
      // invariant is hits + opens == values resolved)
      blobStreamHits.incrementAndGet()
      try return existing.join()
      catch {
        case e: java.util.concurrent.CompletionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
    try {
      // double-check: a prior loader may have completed between our cache
      // miss and our in-flight claim
      val again = cacheGet(key)
      if (again != null) { mine.complete(again); return again }
      val base = chunkIdx * PackChunkBytes
      val n = math.min(PackChunkBytes, plen - base).toInt
      val p = new Path(uri)
      val in = p.getFileSystem(conf).open(p)
      val bytes = try {
        val b = new Array[Byte](n)
        in.readFully(base, b)
        b
      } finally in.close()
      blobStreamOpens.incrementAndGet()
      cachePut(key, bytes)
      mine.complete(bytes)
      bytes
    } catch {
      case t: Throwable => mine.completeExceptionally(t); throw t
    } finally inFlightChunks.remove(key, mine)
  }

  private def pread(uri: String, offset: Long, length: Int,
                    conf: Configuration): Array[Byte] = {
    val plen = try packLen(uri, conf) catch { case _: Exception => -1L }
    if (length <= PackChunkBytes && plen >= 0 && offset + length <= plen) {
      val memo = threadMemo.get()
      val out = new Array[Byte](length)
      var written = 0
      while (written < length) {
        val pos = offset + written
        val ci = pos / PackChunkBytes
        // thread-local fast path: consecutive values of a task share chunks
        val chunk =
          if (memo.chunk != null && ci == memo.chunkIdx && uri == memo.chunkUri) {
            blobStreamHits.incrementAndGet() // posture: hits+opens == values
            memo.chunk
          } else {
            val c = loadChunk(uri, ci, plen, conf)
            val tc = org.apache.spark.TaskContext.get()
            if (tc != null) memo.hold(uri, ci, c, tc)
            c
          }
        val inChunk = (pos % PackChunkBytes).toInt
        val n = math.min(length - written, chunk.length - inChunk)
        System.arraycopy(chunk, inChunk, out, written, n)
        written += n
      }
      return out
    }
    val in = blobStreamLock.synchronized {
      val existing = blobStreamCache.get(uri)
      if (existing != null) { blobStreamHits.incrementAndGet(); existing }
      else {
        val p = new Path(uri)
        val s = p.getFileSystem(conf).open(p)
        blobStreamOpens.incrementAndGet()
        blobStreamCache.put(uri, s)
        s
      }
    }
    val buf = new Array[Byte](length)
    try in.readFully(offset, buf)
    catch {
      case _: Exception =>
        // stream evicted+closed by a concurrent reader, or gone stale:
        // reopen once, uncached
        val p = new Path(uri)
        val in2 = p.getFileSystem(conf).open(p)
        try in2.readFully(offset, buf) finally in2.close()
    }
    buf
  }

  /** Read-path resolution of a blob/descriptor column: serialized
    * descriptors fetch their byte range; inline payloads pass through. */
  def resolveBlobBytes(spark: SparkSession): UserDefinedFunction = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    udf { (bytes: Array[Byte]) =>
      tryParseDesc(bytes) match {
        case None => bytes
        case Some(d) => pread(d.uri, d.offset, d.length.toInt, conf.value)
      }
    }
  }

  /** Bridge: serialized descriptor bytes → the struct form the existing
    * descriptor functions take (paimon's BLOB read surface returns
    * serialized descriptor bytes under `blob-as-descriptor=true`). */
  def descriptorFromBytes: UserDefinedFunction =
    udf { (bytes: Array[Byte]) => tryParseDesc(bytes).orNull }

  /** `graft_blob_view(table, field, row_id)` SQL function (reference
    * sys.blob_view, blob.mdx "Blob View"): builds a serialized upstream
    * reference. Registered per catalog — the catalog's warehouse resolves
    * `db.table` to a location executor-side (external-table pointers
    * honored, memoized per slot). Unqualified names are rejected, matching
    * the reference. */
  def blobViewFn(warehouse: String, catalogName: String,
                 conf: SerializableConfiguration): UserDefinedFunction =
    udf { (tableName: String, field: String, rowId: Long) =>
      require(tableName != null && tableName.contains("."),
        "blob_view: table must be qualified db.table or catalog.db.table")
      val parts = tableName.split('.')
      val (db, tbl) = parts.length match {
        case 2 => (parts(0), parts(1))
        case 3 =>
          require(parts(0) == catalogName,
            s"blob_view: table '$tableName' names catalog '${parts(0)}' but " +
              s"the function is bound to '$catalogName'")
          (parts(1), parts(2))
        case _ => throw new IllegalArgumentException(
          s"blob_view: expected db.table or catalog.db.table, got '$tableName'")
      }
      val slot = s"$warehouse/$db.db/$tbl"
      val loc = blobViewLocCache.computeIfAbsent(slot, { _ =>
        val m = new Path(slot, "_external.json")
        val fs = m.getFileSystem(conf.value)
        if (!fs.exists(m)) slot
        else {
          val len = fs.getFileStatus(m).getLen.toInt
          val buf = new Array[Byte](len)
          val in = fs.open(m)
          try in.readFully(buf) finally in.close()
          val s = new String(buf, java.nio.charset.StandardCharsets.UTF_8)
          String.valueOf(graft.core.Json.mapper
            .readValue(s, classOf[Map[String, Any]])("location"))
        }
      })
      serializeViewRef(BlobViewRef(s"$db.$tbl", loc, field, rowId))
    }

  private val blobViewLocCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Join key of a serialized view reference (null for non-view bytes). */
  case class BlobViewKey(location: String, field: String, rowId: Long)

  def parseViewKey: UserDefinedFunction =
    udf { (b: Array[Byte]) =>
      tryParseViewRef(b).map(r => BlobViewKey(r.location, r.field, r.rowId)).orNull }

  /** Fetch a descriptor's byte range (executor-side ranged read). */
  def readBlob(spark: SparkSession): UserDefinedFunction = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    udf { (desc: Row) =>
      if (desc == null) null
      else pread(desc.getAs[String]("uri"), desc.getAs[Long]("offset"),
        desc.getAs[Long]("length").toInt, conf.value)
    }
  }

  /** Descriptor for a whole external file (paimon path_to_descriptor). */
  def pathToDescriptor(spark: SparkSession): UserDefinedFunction = {
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    udf { (path: String) =>
      val p = new Path(path)
      val st = p.getFileSystem(conf.value).getFileStatus(p)
      BlobDesc(path, 0L, st.getLen)
    }
  }

  /** Human-readable descriptor rendering (paimon sys.descriptor_to_string,
    * docs/docs/spark/sql-functions.md). */
  def descriptorToString: UserDefinedFunction =
    udf { (desc: Row) =>
      if (desc == null) null
      else s"BlobDescriptor{uri='${desc.getAs[String]("uri")}', " +
        s"offset=${desc.getAs[Long]("offset")}, " +
        s"length=${desc.getAs[Long]("length")}}"
    }

  /** HMAC-SHA256 hex digest — the presign primitive. */
  private[graft] def hmacHex(secret: String, canonical: String): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The canonical string a presigned URL's signature covers: every
    * request-identifying parameter, so tampering with any of them (range,
    * issue time, validity, target object) invalidates the signature. */
  private def presignCanonical(uri: String, offset: Long, length: Long,
                               issuedAt: Long, validity: Long): String =
    s"$uri\n$offset\n$length\n$issuedAt\n$validity"

  /** Build a presigned URL: S3-v4-STYLE query-string signing (public shape:
    * credentialless HMAC over a canonical request, expiry as issued-at +
    * validity-window parameters), no cloud SDK. Any byte service holding the
    * secret validates statelessly with [[validatePresignedUrl]]. */
  def signPresignedUrl(baseUrl: String, secret: String, uri: String,
                       offset: Long, length: Long, validitySeconds: Long,
                       issuedAtEpochSec: Long): String = {
    val sig = hmacHex(secret,
      presignCanonical(uri, offset, length, issuedAtEpochSec, validitySeconds))
    val enc = java.net.URLEncoder.encode(uri, "UTF-8").replace("%2F", "/")
    s"${baseUrl.stripSuffix("/")}/$enc" +
      s"?X-Graft-Offset=$offset&X-Graft-Length=$length" +
      s"&X-Graft-Date=$issuedAtEpochSec&X-Graft-Expires=$validitySeconds" +
      s"&X-Graft-Signature=$sig"
  }

  /** Clock-skew tolerance for the not-yet-valid check: a URL dated up to
    * this many seconds in the future still validates (signer/validator
    * clocks drift); anything further is rejected — a mis-set signer clock
    * must not mint URLs that become valid before they were issued. */
  val PresignSkewToleranceSec = 60L

  /** Stateless validation of a [[signPresignedUrl]] URL: recompute the
    * signature over the URL's own parameters (constant-time compare) and
    * check the validity window — both ends: expired AND not-yet-valid
    * (future-dated beyond [[PresignSkewToleranceSec]]) URLs are rejected.
    * Returns the rejection reason; None = accepted. */
  def validatePresignedUrl(url: String, secret: String,
                           nowEpochSec: Long): Option[String] =
    try {
      val qIdx = url.indexOf('?')
      if (qIdx < 0) return Some("no query string")
      val params = url.substring(qIdx + 1).split('&').map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val pathStart = url.indexOf('/', url.indexOf("//") + 2)
      val uri = java.net.URLDecoder.decode(
        url.substring(pathStart + 1, qIdx), "UTF-8")
      val (offset, length) =
        (params("X-Graft-Offset").toLong, params("X-Graft-Length").toLong)
      val (date, expires) =
        (params("X-Graft-Date").toLong, params("X-Graft-Expires").toLong)
      val want = hmacHex(secret,
        presignCanonical(uri, offset, length, date, expires))
      if (!java.security.MessageDigest.isEqual(
          want.getBytes("UTF-8"), params("X-Graft-Signature").getBytes("UTF-8")))
        Some("signature mismatch")
      else if (nowEpochSec > date + expires) Some("expired")
      else if (nowEpochSec < date - PresignSkewToleranceSec)
        Some("not yet valid (future-dated)")
      else None
    } catch { case e: Exception => Some(s"malformed url: ${e.getMessage}") }

  /** Presigned URL for a descriptor's byte range (paimon
    * sys.descriptor_to_presigned_url; reference paimon-spark descriptor
    * functions): real HMAC-SHA256 query-string signing against the session's
    * configured base URL + secret. Configure with
    * `spark.graft.blob.presign.base-url` / `.secret` — these are re-read at
    * QUERY time (spark.-prefixed SQL confs propagate to task threads), so
    * setting the secret after catalog init takes effect immediately. The
    * unprefixed legacy spellings (`graft.blob.presign.*`) only reach the
    * driver and are captured once at registration as fallbacks. Using the
    * well-known dev-default secret off-local fails registration loudly.
    * `tryMode` maps row-level failures to NULL (the try_ variant); the
    * non-try form fails loudly. */
  def descriptorToPresignedUrl(spark: SparkSession,
                               tryMode: Boolean): UserDefinedFunction = {
    val legacyBase = spark.conf.get("graft.blob.presign.base-url",
      "https://blob.example.com")
    val legacySecret =
      spark.conf.get("graft.blob.presign.secret", "graft-dev-secret")
    // the dev-default-secret-on-a-cluster guard runs at QUERY time, not at
    // registration: the secret may legitimately be SET after catalog init
    // (it is re-read per call below), and a registration-time throw would
    // be swallowed by the catalog's init guard, silently skipping the
    // remaining function registrations
    val isLocalMaster = spark.sparkContext.isLocal
    udf { (desc: Row, validitySeconds: Long) =>
      try {
        require(desc != null, "null descriptor")
        require(validitySeconds > 0, "validity must be positive seconds")
        val conf = org.apache.spark.sql.internal.SQLConf.get
        val base =
          conf.getConfString("spark.graft.blob.presign.base-url", legacyBase)
        val secret =
          conf.getConfString("spark.graft.blob.presign.secret", legacySecret)
        if (!isLocalMaster && secret == "graft-dev-secret")
          throw new IllegalStateException(
            "presigned-url signing would use the well-known dev-default " +
              "secret on a cluster: set spark.graft.blob.presign.secret")
        signPresignedUrl(base, secret, desc.getAs[String]("uri"),
          desc.getAs[Long]("offset"), desc.getAs[Long]("length"),
          validitySeconds, System.currentTimeMillis() / 1000)
      } catch {
        // the dev-secret misconfiguration is never a row-level error —
        // try_ must not soften it to NULL
        case e: IllegalStateException => throw e
        case e: Exception if tryMode => null
      }
    }
  }

  /** STUB image decode: deterministic metadata derived from the payload —
    * real codecs are unavailable here; the plumbing (batch shape, schema) is
    * what an actual decoder UDF would use. */
  def fakeDecodeImage: UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      if (bytes == null) null
      else {
        val h = java.util.Arrays.hashCode(bytes)
        ImageMeta(math.abs(h % 1920) + 1, math.abs((h / 1920) % 1080) + 1,
          if (h % 2 == 0) "png" else "jpeg")
      }
    }

  /** FRAME SAMPLING plumbing (video frame-extract stand-in): fixed-stride
    * byte slices of the payload, one struct per frame — explode for a
    * row-per-frame pipeline. Pure codegen'd expressions (sequence/transform/
    * substr), no UDF: a real frame grabber would swap the `frame` slice for
    * a decoded image while the fan-out plumbing stays identical. */
  def sampleFrames(bin: Column, strideBytes: Int, frameBytes: Int): Column =
    transform(sequence(lit(0),
        greatest(lit(0), floor((length(bin) - 1) / strideBytes)).cast("int")),
      i => struct(i.cast("int").as("frame_idx"),
        (i * strideBytes).cast("long").as("offset"),
        bin.substr((i * strideBytes + 1).cast("int"),
          least(lit(frameBytes), length(bin) - i * strideBytes).cast("int"))
          .as("frame")))

  /** STUB resize: truncate the payload proportionally and rewrite the
    * metadata — byte-level stand-in for a real scaler (same schema flow). */
  def fakeResize(bin: Column, scalePct: Int): Column =
    bin.substr(lit(1), greatest(lit(1), (length(bin) * scalePct / 100).cast("int")))

  /** BATCHED feature extraction (model-inference stand-in): rows flow
    * through mapPartitions in fixed-size batches — the exact shape a real
    * encoder needs (collect a batch of payloads, one model call per batch,
    * emit one vector per row). The "model" is a deterministic per-dimension
    * rolling hash; swap `encodeBatch` for an ONNX/TF session call and
    * nothing else changes. */
  def extractFeatures(df: DataFrame, binCol: String, dim: Int,
                      batchSize: Int = 64): DataFrame = {
    val outSchema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField("features",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
    val idx = df.schema.fieldIndex(binCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one "model call" per batch of payloads
        val feats = encodeBatch(batch.map(_.getAs[Array[Byte]](idx)), dim)
        batch.zip(feats).map { case (r, f) => Row.fromSeq(r.toSeq :+ f) }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  private def encodeBatch(payloads: Seq[Array[Byte]], dim: Int): Seq[Seq[Float]] =
    payloads.map { bytes =>
      if (bytes == null) null
      else (0 until dim).map { d =>
        var h = 1125899906842597L + d
        var i = 0
        while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
        ((h % 1000L) / 1000.0f)
      }
    }
}
