package graft.core

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.spark.sql.types._

/** One decoded immutable layout file: the projected columns as parallel
  * per-row arrays. A column the projection did not ask for, or the file
  * does not carry, is null.
  *
  * `versions` holds the write version of a layout or `_delta` row
  * (`version`) or of a `_tombstones` row (`ver`). `ntoks` holds each row's
  * `__ntok` param (-1 when absent), the multivector token count; the rest
  * of `params` is not kept. `links` holds graph adjacency per layer, with a
  * legacy single-layer `ARRAY<INT>` wrapped as one layer (the normalization
  * `GraphAnn.readLayoutGraph` applies on the Spark side).
  */
private[graft] final class LayoutFile(
    val idType: DataType,
    val ids: Array[Any],
    val versions: Array[Long],
    val vectors: Array[Array[Float]],
    val codes: Array[Array[Int]],
    val ntoks: Array[Int],
    val ords: Array[Int],
    val links: Array[Array[Array[Int]]]) {

  def rows: Int = ids.length

  /** Estimated heap held: per-row id, version and payload arrays. */
  val bytes: Long = {
    var b = 128L
    var i = 0
    while (i < ids.length) {
      b += 24L + (ids(i) match {
        case s: String => 48L + 2L * s.length
        case _ => 16L
      })
      if (vectors != null && vectors(i) != null) b += 16L + 4L * vectors(i).length
      if (codes != null && codes(i) != null) b += 16L + 4L * codes(i).length
      if (links != null && links(i) != null)
        links(i).foreach(l => b += 24L + (if (l == null) 0L else 4L * l.length))
      i += 1
    }
    b
  }
}

/** Driver-side reader of index-layout files — the partition directories of
  * a partitioned layout (`cluster_id=N`, `part=N`) and its `_tombstones` /
  * `_delta` sidecars — that launches NO Spark job. Files are listed by
  * `LocalPointReader.listRuns`' data-file rule, opened through
  * `LocalPointReader.open` (read options over the one parsed serving
  * configuration), and decoded column-projected on the driver. Layout files
  * are immutable (maintained writes add files; rebuilds and compactions
  * write a new generation directory), so each decoded file is memoized by
  * path for as long as it lives, across every stamp of its generation. The
  * runs the engine writes itself are `register`ed already decoded, from the
  * rows it just wrote, so a maintained write costs its readers no decode.
  *
  * One instance per serving tier. The memo is bounded by the tier's own
  * byte budget (`maxBytes`, the knob its cell cache uses) with
  * least-recently-used eviction; a file larger than the whole budget is
  * decoded for its caller but not kept. Cells built from these files share
  * their vector and code arrays, so the payload is held once.
  *
  * Snapshot rule (`cell`, `tombstones`, `deltaRows`): the layout at stamp
  * `s` is its rows with `version ≤ s`, less every row shadowed by a
  * tombstone with `ver ≤ s` and `ver > row.version` — `applyTombstones`'
  * rule, read at the stamp's snapshot. Rows of a racing write (files landed
  * before its stamp advance) are thus invisible at the older stamp.
  * Sidecars are re-listed on every call — a `buildIndex`/`compactLayout`
  * fold removes them without advancing the stamp — and each dir's
  * aggregate is extended by the files it has not folded yet, rather than
  * re-folded, whenever that equals a fold from scratch.
  */
private[graft] final class LayoutFiles(maxBytes: () => Long) {

  // access-ordered: iteration starts at the least recently used file
  private val memo = new java.util.LinkedHashMap[(String, Seq[String]), LayoutFile](64, 0.75f, true)
  private var memoBytes = 0L // guarded by `memo`
  private val decodes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val registered = new java.util.concurrent.atomic.AtomicLong(0L)

  // the last aggregate per sidecar dir
  private val sidecars = scala.collection.concurrent.TrieMap.empty[String, LayoutFiles.Folded]
  private val idTypes = scala.collection.concurrent.TrieMap.empty[String, DataType]

  /** The Spark type of the ids under a layout dir, from one data file's
    * footer (no rows read); memoized per dir — every file of one layout
    * generation is written with one schema.
    */
  def idType(dir: String): DataType =
    idTypes.getOrElseUpdate(dir, LayoutFiles.footerIdType(dir))

  /** Driver file decodes and registrations since process start, and the
    * bytes of decoded files held (against the tier's budget), under
    * `prefix` (GET /v1/metrics shape).
    */
  def metrics(prefix: String): Map[String, Long] =
    Map(s"${prefix}_file_decodes" -> decodes.get(),
      s"${prefix}_files_registered" -> registered.get(),
      s"${prefix}_file_bytes" -> memo.synchronized(memoBytes))

  /** Drop every memoized file and sidecar aggregate under a path prefix. */
  def drop(prefix: String): Unit = {
    memo.synchronized {
      val it = memo.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1.startsWith(prefix)) { memoBytes -= e.getValue.bytes; it.remove() }
      }
    }
    sidecars.keys.filter(_.startsWith(prefix)).foreach(sidecars.remove)
    idTypes.keys.filter(_.startsWith(prefix)).foreach(idTypes.remove)
  }

  def clear(): Unit = drop("")

  /** Hold `d` under (key, columns) if it fits the budget: with `evict`,
    * least-recently-used files make room; without, a file that does not
    * fit as the memo stands is not kept.
    */
  private def keep(key: (String, Seq[String]), d: LayoutFile, evict: Boolean): Unit = {
    val bound = maxBytes()
    if (d.bytes <= bound) memo.synchronized {
      if (evict || memoBytes + d.bytes <= bound) {
        val prev = memo.put(key, d)
        if (prev != null) memoBytes -= prev.bytes
        memoBytes += d.bytes
        val it = memo.entrySet.iterator
        while (memoBytes > bound && it.hasNext) {
          memoBytes -= it.next().getValue.bytes
          it.remove()
        }
      }
    }
  }

  /** `f` decoded under `columns`, from the memo or read now; `evict` = false
    * keeps a fresh decode only where it fits without evicting.
    */
  def file(f: String, columns: Seq[String], evict: Boolean = true): LayoutFile = {
    val key = (LayoutFiles.fileKey(f), columns)
    val held = memo.synchronized(memo.get(key))
    if (held != null) return held
    val decoded = LayoutFiles.decode(f, columns)
    decodes.incrementAndGet()
    keep(key, decoded, evict)
    decoded
  }

  /** Hold `d` as `f` decoded under `columns`: the file was just written
    * from the rows `d` carries (the `LayoutFiles.of*` builders project them
    * exactly as `decode` reads the file).
    */
  def register(f: String, columns: Seq[String], d: LayoutFile): Unit = {
    registered.incrementAndGet()
    keep((LayoutFiles.fileKey(f), columns), d, evict = true)
  }

  /** The rows of a cell's data files visible in `snapshot` — (stamp, the
    * tombstone map at that stamp), or None to keep every row (the graph
    * adjacency, versionless by construction) — as (file, row indices),
    * with the distinct row versions above the stamp (rows a later stamp
    * may show). `evict` as in `file`.
    */
  def cell(files: Seq[String], columns: Seq[String],
      snapshot: Option[(Long, Map[Any, Long])],
      evict: Boolean = true): (Seq[(LayoutFile, Array[Int])], Array[Long]) = {
    val above = scala.collection.mutable.SortedSet.empty[Long]
    val rows = files.map { f =>
      val d = file(f, columns, evict)
      val keep = snapshot match {
        case None => Array.range(0, d.rows)
        case Some((stamp, tombs)) =>
          (0 until d.rows).filter { i =>
            // a versionless file predates every tombstone and every stamp
            val v = if (d.versions == null) Long.MinValue else d.versions(i)
            if (v > stamp) above += v
            v <= stamp && tombs.get(d.ids(i)).forall(_ <= v)
          }.toArray
      }
      (d, keep)
    }.filter(_._2.nonEmpty)
    (rows, above.toArray)
  }

  /** The `_tombstones` sidecar at `dir` as id → max `ver`, over tombstones
    * with `ver ≤ stamp`. Zero committed files (absent dir, or one holding
    * only a racing append's staging) read as no tombstones.
    */
  def tombstones(dir: String, stamp: Long): Map[Any, Long] =
    sidecar(dir, stamp, Map.empty[Any, Long], LayoutFiles.TombCols) { (m0, files) =>
      var m = m0
      files.foreach { d =>
        var i = 0
        while (i < d.rows) {
          val v = d.versions(i)
          if (v <= stamp && m.get(d.ids(i)).forall(_ < v)) m = m.updated(d.ids(i), v)
          i += 1
        }
      }
      m
    }

  /** The `_delta` sidecar at `dir` as (id, vector, version) rows with
    * `version ≤ stamp`. A delta written before versions were carried can
    * never be a tombstone's target (maintenance refuses to run over one),
    * so its rows read as version `Long.MaxValue` and are always visible.
    */
  def deltaRows(dir: String, stamp: Long): Array[(Any, Array[Float], Long)] =
    sidecar(dir, stamp, Array.empty[(Any, Array[Float], Long)], LayoutFiles.DeltaCols) {
      (rows, files) =>
        rows ++ files.iterator.flatMap { d =>
          (0 until d.rows).iterator.flatMap { i =>
            if (d.versions == null) Some((d.ids(i), d.vectors(i), Long.MaxValue))
            else if (d.versions(i) <= stamp) Some((d.ids(i), d.vectors(i), d.versions(i)))
            else None
          }
        }
    }

  /** The aggregate of `dir`'s files at `stamp`: the cached one when its
    * stamp and files match; else the cached one folded with only the files
    * it has not seen, when none of its rows is above its own stamp (so a
    * newer stamp shows none of them anew) and the stamp has not gone back;
    * else a fold of every file. Both extensions equal a fold from scratch.
    */
  private def sidecar[T <: AnyRef](dir: String, stamp: Long, empty: T,
      columns: Seq[String])(fold: (T, Seq[LayoutFile]) => T): T = {
    val listed = LayoutFiles.listSidecar(dir)
    if (listed.isEmpty) { sidecars.remove(dir); return empty }
    val files = listed.toSet
    val prev = sidecars.get(dir)
    if (prev.exists(p => p.stamp == stamp && p.files == files)) return prev.get.value.asInstanceOf[T]
    val base = prev.filter(p => p.stamp <= stamp && p.maxVer <= p.stamp &&
      p.files.subsetOf(files))
    val todo = base.fold(listed)(p => listed.filterNot(p.files))
    val decoded = todo.map(file(_, columns))
    val value = fold(base.fold(empty)(_.value.asInstanceOf[T]), decoded)
    val maxVer = (base.map(_.maxVer).iterator ++ decoded.iterator.flatMap(d =>
      Option(d.versions).iterator.flatMap(_.iterator))).maxOption.getOrElse(Long.MinValue)
    if (prev.forall(_.stamp <= stamp))
      sidecars.put(dir, new LayoutFiles.Folded(stamp, files, maxVer, value))
    value
  }
}

private[graft] object LayoutFiles {

  val TombCols: Seq[String] = Seq("id", "ver")
  val DeltaCols: Seq[String] = Seq("id", "vector", "version")

  /** A sidecar dir's aggregate at `stamp` over `files`, whose highest row
    * version is `maxVer`.
    */
  private final class Folded(val stamp: Long, val files: Set[String],
      val maxVer: Long, val value: AnyRef)

  /** The memo key of a file: local paths normalized the way listings
    * print them, so a registered run and its later listing meet.
    */
  private def fileKey(f: String): String =
    if (ControlFs.isLocalRoot(f)) java.nio.file.Paths.get(f).toString else f

  private def ntokOf(params: Map[String, String]): Int =
    Option(params).flatMap(_.get("__ntok")).flatMap(Option(_))
      .flatMap(_.toIntOption).getOrElse(-1)

  /** A run `LocalRunWriter.writeLayoutRuns` wrote from `rows` at `version`,
    * as `decode` reads it under `columns`.
    */
  def ofLayoutRows(rows: Seq[LocalRunWriter.LayoutRow], version: Long,
      columns: Seq[String]): LayoutFile = {
    def has(c: String) = columns.contains(c)
    val codes = rows.map(_.extra.collectFirst {
      case ("codes", LocalRunWriter.IntsCol(v)) => v
    })
    new LayoutFile(StringType,
      rows.map(r => r.id: Any).toArray,
      if (has("version")) Array.fill(rows.length)(version) else null,
      if (has("vector")) rows.map(_.vector.toArray).toArray else null,
      if (has("codes") && codes.forall(_.isDefined)) codes.map(_.get).toArray else null,
      if (has("params")) rows.map(r => ntokOf(r.params)).toArray else null,
      null, null)
  }

  /** A run `LocalRunWriter.writeTombstoneRun` wrote, as read under `TombCols`. */
  def ofTombstones(ids: Seq[String], ver: Long): LayoutFile =
    new LayoutFile(StringType, ids.map(id => id: Any).toArray,
      Array.fill(ids.length)(ver), null, null, null, null, null)

  /** A run `LocalRunWriter.writeDeltaRun` wrote, as read under `DeltaCols`. */
  def ofDelta(rows: Seq[(String, Seq[Float])], version: Long): LayoutFile =
    new LayoutFile(StringType, rows.map(r => r._1: Any).toArray,
      Array.fill(rows.length)(version), rows.map(_._2.toArray).toArray,
      null, null, null, null)

  /** The cell numbers of a partitioned layout's `<partCol>=N` dirs. */
  def partitions(dir: String, partCol: String): Vector[Int] =
    childDirs(dir).flatMap { d =>
      val n = d.substring(d.lastIndexOf('/') + 1)
      if (n.startsWith(s"$partCol=")) n.substring(partCol.length + 1).toIntOption else None
    }.sorted

  /** A layout's ids are of a type the driver decode does not map (Spark
    * writes other id types; no layout this engine builds has them) — the
    * caller serves the request through its Spark plan instead.
    */
  final class UnsupportedIdType(msg: String) extends Exception(msg)

  /** Committed data files of a sidecar dir right now. A dir deleted
    * between the existence probe and the listing (a generation fold racing
    * the read) reads as empty, like an absent one.
    */
  def listSidecar(dir: String): Vector[String] =
    try LocalPointReader.listRuns(dir)
    catch {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        Vector.empty
    }

  /** A routed graph layout's `_route` centroids in `part` order, read on
    * the driver (the sidecar is tiny; callers memoize it per layout).
    */
  def routeCentroids(dir: String): Array[Array[Float]] =
    LocalPointReader.listRuns(dir).flatMap { f =>
      val r = LocalPointReader.open(f)
      val rows = Vector.newBuilder[(Int, Array[Float])]
      try LocalPointReader.records(r, null) { g =>
        rows += ((g.getInteger("part", 0), LocalPointReader.readFloats(g, "centroid")))
      } finally r.close()
      rows.result()
    }.sortBy(_._1).map(_._2).toArray

  /** The directories directly under `dir` (none when it is absent). */
  private def childDirs(dir: String): Vector[String] =
    if (ControlFs.isLocalRoot(dir)) {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.isDirectory(p)) Vector.empty
      else {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
          .map(_.toString).toVector
        finally s.close()
      }
    } else {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(ControlFs.servingConf())
      if (!fs.exists(p)) Vector.empty
      else fs.listStatus(p).iterator.filter(_.isDirectory)
        .map(_.getPath.toString).toVector
    }

  /** The id type of the first data file under `dir` — directly in it (a
    * flat layout) or in one of its partition dirs; `StringType` when the
    * layout holds no file yet.
    */
  private def footerIdType(dir: String): DataType = {
    val partDirs = childDirs(dir).iterator
    val isPart = (d: String) => {
      val n = d.substring(d.lastIndexOf('/') + 1)
      n.contains('=') && !n.startsWith("_") && !n.startsWith(".")
    }
    (Iterator(dir) ++ partDirs.filter(isPart))
      .flatMap(d => LocalPointReader.listRuns(d)).nextOption()
      .map { f =>
        val r = LocalPointReader.open(f)
        try idColumn(r.getFileMetaData.getSchema)._1 finally r.close()
      }.getOrElse(StringType)
  }

  private def field(schema: MessageType, name: String) =
    schema.getType(schema.getFieldIndex(name))

  /** The Spark type and driver getter of an `id` column, by footer type. */
  private def idColumn(schema: MessageType): (DataType, Group => Any) = {
    val t = field(schema, "id")
    def nullable(get: Group => Any): Group => Any =
      g => if (g.getFieldRepetitionCount("id") == 0) null else get(g)
    val p: PrimitiveType = if (t.isPrimitive) t.asPrimitiveType else null
    val logical = if (p == null) null else p.getLogicalTypeAnnotation
    val bits = logical match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => i.getBitWidth
      case null => 0
      case _ => -1
    }
    import PrimitiveType.PrimitiveTypeName._
    if (p == null) throw new UnsupportedIdType(s"id column is not primitive: $t")
    else (p.getPrimitiveTypeName, logical) match {
      case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
        (StringType, nullable(_.getString("id", 0)))
      case (INT64, _) if bits == 0 || bits == 64 =>
        (LongType, nullable(_.getLong("id", 0)))
      case (INT32, _) if bits == 0 || bits == 32 =>
        (IntegerType, nullable(_.getInteger("id", 0)))
      case (INT32, _) if bits == 16 =>
        (ShortType, nullable(_.getInteger("id", 0).toShort))
      case (INT32, _) if bits == 8 =>
        (ByteType, nullable(_.getInteger("id", 0).toByte))
      case _ => throw new UnsupportedIdType(s"unsupported id column type: $t")
    }
  }

  /** Decode `f` under `columns` (those the file carries) — one read. */
  private[core] def decode(f: String, columns: Seq[String]): LayoutFile = {
    val r = LocalPointReader.open(f)
    try {
      val schema = r.getFileMetaData.getSchema
      val cols = columns.filter(schema.containsField)
      val (idType, idOf) = idColumn(schema)
      val n = math.min(r.getRecordCount, Int.MaxValue.toLong).toInt
      def has(c: String) = cols.contains(c)
      val verCol = if (has("version")) "version" else if (has("ver")) "ver" else null
      val ids = new Array[Any](n)
      val versions = if (verCol == null) null else new Array[Long](n)
      val vectors = if (has("vector")) new Array[Array[Float]](n) else null
      val codes = if (has("codes")) new Array[Array[Int]](n) else null
      val ntoks = if (has("params")) new Array[Int](n) else null
      val ords = if (has("ord")) new Array[Int](n) else null
      val links = if (has("links")) new Array[Array[Array[Int]]](n) else null
      // legacy single-layer adjacency: links is ARRAY<INT>, not ARRAY<ARRAY<INT>>
      val flatLinks = links != null && {
        val rep = field(schema, "links").asGroupType.getType(0)
        rep.isPrimitive || rep.asGroupType.getType(0).isPrimitive
      }
      val projected = new MessageType(schema.getName,
        ("id" +: cols.filterNot(_ == "id")).map(field(schema, _)): _*)
      var i = 0
      LocalPointReader.records(r, projected) { g =>
        ids(i) = idOf(g)
        // a null version reads as the minimum: visible at every stamp and
        // shadowed by any tombstone, as Spark's null comparison drops it
        if (versions != null) versions(i) =
          if (g.getFieldRepetitionCount(verCol) == 0) Long.MinValue else g.getLong(verCol, 0)
        if (vectors != null) vectors(i) = LocalPointReader.readFloats(g, "vector")
        if (codes != null) codes(i) = LocalPointReader.readInts(g, "codes")
        if (ntoks != null) ntoks(i) = LocalPointReader.readParams(g).get("__ntok")
          .flatMap(_.toIntOption).getOrElse(-1)
        if (ords != null) ords(i) = g.getInteger("ord", 0)
        if (links != null) links(i) =
          if (flatLinks) Option(LocalPointReader.readInts(g, "links")).map(Array(_)).orNull
          else LocalPointReader.readIntLists(g, "links")
        i += 1
      }
      new LayoutFile(idType, ids, versions, vectors, codes, ntoks, ords, links)
    } finally r.close()
  }
}
