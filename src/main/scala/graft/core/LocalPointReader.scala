package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType

/** Driver-local LWW point lookups over a DocStore data directory — NO Spark
  * job. The serving-path complement to `DocStore.get`: a REST GET, the
  * metadata fetch of `documents/search`, the quantized tiers' exact
  * re-rank and the maintained-write existence probe resolve ids with hash
  * probes into driver-resident runs (µs), not a Spark scan job (~100–300 ms
  * of scheduling floor even on a warm local[32]).
  *
  * RESIDENT RUNS. Store runs are immutable, so each one is decoded ONCE
  * into a driver-resident copy: an id → slot map plus per-slot version,
  * seq, is_deleted, vector and params arrays (`ResidentRun`). A run enters
  * residency either straight from the rows its writer holds
  * (`LocalRunWriter.writeStoreRun` → `registerRun`, no decode at all) or on
  * its first touch by a lookup (one full read). After that a lookup opens
  * no file. Residency is bounded by `ResidentMaxBytes` with least-recently-
  * used eviction; an evicted run leaves an id bloom behind, so a later
  * probe that misses it still skips the run without opening it.
  *
  * FALLBACK. A run too large to admit (its footer's uncompressed size, or
  * its measured decoded size, above a quarter of the bound — compaction
  * output at scale) keeps the bloom + filtered read: parquet-mr's filter2
  * with an `in(id, …)` predicate prunes row groups by footer min/max stats
  * (and dictionary pages) before any record materializes — on a store
  * compacted with `clusterById = true` (disjoint per-file id ranges, the
  * sorted-SSTable shape) a point read touches one file's one row group.
  * This is the reference's skiplist point-Get re-expressed against
  * immutable columnar runs (`internal/storage/tree/tree.go` Get; SURVEY
  * §2.1 S3).
  *
  * VISIBILITY. Iteration is always driven by the on-disk listing
  * (`listRuns(dir, maxVersion)`): a resident copy is consulted only for a
  * run the listing returns, so uncommitted, crashed and other-process runs
  * are exactly as visible as their files — residency is a decode cache,
  * never a source of runs.
  *
  * LWW semantics are IDENTICAL to `DocStore.latestWins`: max (version, seq)
  * row per id wins, tombstone winners read as absent. (version, seq) pairs
  * are unique per row by construction — version is the per-batch counter,
  * seq the in-batch order — so the max is well-defined and both paths agree
  * on every interleaving. A resident run keeps only its own per-id max, so
  * the max over runs is unchanged.
  *
  * Concurrency: batch files are immutable once committed, so a read races
  * only `compact()`'s directory swap. Any IO failure (file deleted under us)
  * propagates — callers (`DocStore.getMany`) fall back to the always-correct
  * Spark path. Returned documents share the resident arrays: callers treat
  * them as read-only.
  */
object LocalPointReader {

  // resolved from the active session so spark.hadoop.* settings
  // (object-store credentials/endpoints) reach the driver-direct reads
  private def conf: Configuration = ControlFs.servingConf()

  // java.nio parquet reads for plain local runs — the read-side twin of
  // LocalRunWriter's LocalOutputFile: opening a run through the Hadoop
  // LocalFileSystem stack (FS resolution + ChecksumFileSystem stream +
  // crc verification) costs 10-45 ms of fixed setup per reader. Scheme'd
  // paths keep the Hadoop reader — that stack IS the remote store.
  private[core] def inputFile(f: String): org.apache.parquet.io.InputFile =
    if (ControlFs.isLocalRoot(f)) new org.apache.parquet.io.LocalInputFile(Paths.get(f))
    else org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf)

  /** Read options over the ONE parsed serving configuration.
    * `ParquetFileReader.open(InputFile)` without options builds (and on
    * first use parses) a fresh Hadoop `Configuration` per open — measured
    * as the dominant cost of a cold small-file decode. The options object
    * itself is per reader: `ParquetFileReader.close` releases the options'
    * codec factory, so readers on different threads must not share one.
    */
  private def readOptions(filter: FilterCompat.Filter): ParquetReadOptions =
    HadoopReadOptions.builder(conf).withRecordFilter(filter).build()

  /** An open reader of `f` — every driver-direct open goes through here. */
  private[core] def open(f: String,
      filter: FilterCompat.Filter = FilterCompat.NOOP): ParquetFileReader =
    new ParquetFileReader(inputFile(f), readOptions(filter))

  /** Every record of an open reader, under `projected` (clipped from the
    * file's own footer so repetition and types match its writer) when
    * non-null, else every column. Row groups the reader's filter rules out
    * by footer stats or dictionaries are never read; within a row group,
    * records the filter rejects are skipped.
    */
  private[core] def records(r: ParquetFileReader, projected: MessageType,
      filter: FilterCompat.Filter = FilterCompat.NOOP)(each: Group => Unit): Unit = {
    val fileSchema = r.getFileMetaData.getSchema
    val schema = if (projected == null) fileSchema else projected
    if (projected != null) r.setRequestedSchema(projected)
    val io = new ColumnIOFactory().getColumnIO(schema, fileSchema)
    var pages = r.readNextRowGroup()
    while (pages != null) {
      val rows = io.getRecordReader(pages, new GroupRecordConverter(schema), filter)
      var i = 0L
      while (i < pages.getRowCount) {
        val g = rows.read()
        if (g != null && !rows.shouldSkipCurrentRecord) each(g)
        i += 1
      }
      pages = r.readNextRowGroup()
    }
  }

  /** LWW winners for `ids` (absent / tombstoned ids omitted). */
  def readDocs(dataDir: String, ids: Set[String],
      maxVersion: Long = Long.MaxValue): Map[String, Document] = {
    val best = resolve(dataDir, ids, maxVersion, projected = false)
    best.collect { case (id, w) if !w.deleted => id -> w.doc }.toMap
  }

  /** Which of `ids` are LIVE (LWW winner is not a tombstone) — the
    * existence probe behind the maintained write path. Same LWW resolution
    * as `readDocs`; a run read from disk is read PROJECTED to (id, version,
    * seq, is_deleted) — the vector/params pages, the overwhelming majority
    * of the bytes, are never decoded.
    */
  def liveIds(dataDir: String, ids: Set[String],
      maxVersion: Long = Long.MaxValue): Set[String] =
    resolve(dataDir, ids, maxVersion, projected = true)
      .collect { case (id, w) if !w.deleted => id }.toSet

  private final class Winner(val version: Long, val seq: Long,
      val deleted: Boolean, val doc: Document)

  /** The (version, seq)-max row per id of `ids` across every visible run.
    * Per listed run, in order of cost: its resident copy (hash probes, no
    * file); a bloom that rules it out (no file); a first-touch decode that
    * makes it resident (one read, once per run); a filtered read of a run
    * too large to admit (`projected`: id/version/seq/is_deleted only).
    */
  private def resolve(dataDir: String, ids: Set[String], maxVersion: Long,
      projected: Boolean): scala.collection.Map[String, Winner] = {
    val best = scala.collection.mutable.HashMap.empty[String, Winner]
    if (ids.isEmpty) return best
    val files = listRuns(dataDir, maxVersion)
    if (files.isEmpty) return best
    def offer(id: String, version: Long, seq: Long, deleted: Boolean,
        doc: => Document): Unit = {
      val better = best.get(id).forall(w =>
        version > w.version || (version == w.version && seq > w.seq))
      if (better) best(id) = new Winner(version, seq, deleted,
        if (deleted || projected) null else doc)
    }
    def probe(run: ResidentRun): Unit = ids.foreach { id =>
      val s = run.slot(id)
      if (s >= 0) offer(id, run.versions(s), run.seqs(s), run.deleted(s),
        Document(id, run.vectors(s), run.params(s)))
    }
    lazy val hashes = idHashes(ids)
    lazy val pred = FilterApi.in(
      FilterApi.binaryColumn("id"),
      ids.map(Binary.fromString).asJava.asInstanceOf[java.util.Set[Binary]])
    files.foreach { f =>
      val held = residentGet(f)
      if (held != null) { residentHits.incrementAndGet(); probe(held) }
      else if (blooms.get(f).exists(b => !b.mightContainAny(hashes)))
        runsBloomPruned.incrementAndGet() // an evicted run's bloom
      else {
        val decoded = decodeIfAdmissible(f)
        if (decoded != null) probe(decoded)
        else if (!bloomFor(f).mightContainAny(hashes))
          runsBloomPruned.incrementAndGet()
        else {
          runOpens.incrementAndGet()
          val each: Group => Unit = g => offer(g.getString("id", 0),
            g.getLong("version", 0), g.getLong("seq", 0),
            g.getBoolean("is_deleted", 0),
            Document(g.getString("id", 0), readFloats(g, "vector"), readParams(g)))
          if (projected) scanWith(f, pred, probeSchema(f))(each)
          else scanWith(f, pred, null)(each)
        }
      }
    }
    best
  }

  /** Data files of a run directory (Spark's listing convention) — THE
    * definition of "which files count as data", shared with the engine's
    * delta-dir probes so the two can never drift. Scheme-aware: plain
    * local dirs list via java.nio (the serving-latency path); scheme'd
    * dirs (hdfs://, s3a://, test schemes) list through their Hadoop FS —
    * parquet-mr reads the files through the same FS, so the whole
    * driver-direct point path works against a remote store unchanged.
    * An absent dir reads as "no runs".
    */
  private[graft] def listRuns(dirStr: String,
      maxVersion: Long = Long.MaxValue): Vector[String] =
    listing(dirStr, maxVersion)(_.toString, _.getPath.toString)

  /** `listRuns` with each data file's length in bytes. */
  private[graft] def listRunSizes(dirStr: String): Vector[(String, Long)] =
    listing(dirStr, Long.MaxValue)(p => (p.toString, Files.size(p)),
      s => (s.getPath.toString, s.getLen))

  private def listing[T](dirStr: String, maxVersion: Long)(
      local: java.nio.file.Path => T,
      remote: org.apache.hadoop.fs.FileStatus => T): Vector[T] = {
    // visibility: a name-versioned run ABOVE the committed counter is an
    // uncommitted in-flight/crashed batch — never readable (RunNames)
    def isRun(n: String) = RunNames.isRun(n) &&
      RunNames.version(n).forall(_ <= maxVersion)
    if (ControlFs.isLocalRoot(dirStr)) {
      val dir = Paths.get(dirStr)
      if (!Files.exists(dir)) return Vector.empty
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => isRun(p.getFileName.toString)).map(local).toVector
      finally s.close()
    } else {
      val p = new Path(dirStr)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return Vector.empty
      fs.listStatus(p).iterator
        .filter(s => s.isFile && isRun(s.getPath.getName))
        .map(remote).toVector
    }
  }

  /** The key a run is memoized under: the listing's form of its path
    * (`listRuns` yields java.nio-normalized strings for local dirs, so a
    * writer's `dir//name` or `dir/./name` must match the same entry).
    */
  private def runKey(f: String): String =
    if (f.nonEmpty && ControlFs.isLocalRoot(f)) {
      val k = Paths.get(f).toString
      if (f.endsWith("/") && !k.endsWith("/")) k + "/" else k
    } else f

  // ---- resident runs (the decoded SSTable, driver-side) -----------------

  /** One immutable store run, decoded: `slot(id)` indexes the per-slot
    * arrays, one slot per distinct id holding that id's (version, seq)-max
    * row within the run (in-batch duplicates resolve here, exactly as the
    * cross-run merge would). Tombstone slots carry null vector/params.
    */
  private final class ResidentRun(ids: java.util.HashMap[String, Integer],
      val versions: Array[Long], val seqs: Array[Long],
      val deleted: Array[Boolean], val vectors: Array[Array[Float]],
      val params: Array[Map[String, String]]) {
    def slot(id: String): Int = { val s = ids.get(id); if (s == null) -1 else s }
    def idSet: Iterable[String] = ids.keySet.asScala
    /** Estimated heap held: per-slot map node, id string and array cells,
      * float payloads, and params entries with their strings.
      */
    val bytes: Long = {
      def str(s: String) = if (s == null) 0L else 48L + 2L * s.length
      var b = 64L
      ids.forEach { (id, s) =>
        b += 96L + str(id)
        val v = vectors(s)
        if (v != null) b += 16L + 4L * v.length
        params(s).foreach { case (k, x) => b += 48L + str(k) + str(x) }
      }
      b
    }
  }

  /** Accumulates rows in any order into a `ResidentRun`. */
  private final class RunBuilder {
    private val ids = new java.util.HashMap[String, Integer]()
    private val versions = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val seqs = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val deleted = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    private val vectors = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    private val params = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    def add(id: String, version: Long, seq: Long, isDeleted: Boolean,
        vector: => Array[Float], ps: => Map[String, String]): Unit = {
      // vector/params decode only for the row a slot keeps
      def set(slot: Int): Unit = {
        versions(slot) = version; seqs(slot) = seq; deleted(slot) = isDeleted
        vectors(slot) = if (isDeleted) null else vector
        params(slot) = if (isDeleted) Map.empty else ps
      }
      val s = ids.get(id)
      if (s == null) {
        ids.put(id, versions.length)
        versions += 0L; seqs += 0L; deleted += false; vectors += null; params += null
        set(versions.length - 1)
      } else if (version > versions(s) || (version == versions(s) && seq > seqs(s)))
        set(s)
    }
    def result(): ResidentRun = new ResidentRun(ids, versions.toArray,
      seqs.toArray, deleted.toArray, vectors.toArray, params.toArray)
  }

  /** Residency bound, BYTES — a fixed budget in the style of
    * `BloomMaxBytes`, not a config key. A single run may take at most
    * `1 / AdmitShare` of it, so one large run cannot flush the working set.
    */
  private val ResidentMaxBytes = 256L * 1024 * 1024
  private val AdmitShare = 4
  @volatile private var residentMax = ResidentMaxBytes
  // access-ordered: iteration starts at the least recently used run
  private val resident =
    new java.util.LinkedHashMap[String, ResidentRun](64, 0.75f, true)
  private var residentBytes = 0L // guarded by `resident`
  private val residentHits = new java.util.concurrent.atomic.AtomicLong(0L)

  private def residentGet(f: String): ResidentRun =
    resident.synchronized(resident.get(f))

  private def admissible(bytes: Long): Boolean = bytes <= residentMax / AdmitShare

  /** Make `run` resident under `f`, evicting least-recently-used runs to
    * stay within the bound. Evicted runs leave an id bloom behind (built
    * outside the lock from ids already in memory), so the runs a probe
    * cannot contain are still skipped without a decode.
    */
  private def admit(f: String, run: ResidentRun): Unit = {
    val evicted = scala.collection.mutable.ArrayBuffer.empty[(String, ResidentRun)]
    resident.synchronized {
      if (admissible(run.bytes)) {
        val prev = resident.put(f, run)
        if (prev != null) residentBytes -= prev.bytes
        residentBytes += run.bytes
      } else evicted += f -> run
      evictOver(residentMax, evicted)
    }
    evicted.foreach { case (k, r) => registerBloom(k, r.idSet) }
  }

  // caller holds the `resident` lock
  private def evictOver(bound: Long,
      into: scala.collection.mutable.ArrayBuffer[(String, ResidentRun)]): Unit = {
    val it = resident.entrySet.iterator
    while (residentBytes > bound && it.hasNext) {
      val e = it.next()
      residentBytes -= e.getValue.bytes
      into += e.getKey -> e.getValue
      it.remove()
    }
  }

  /** Register a JUST-WRITTEN run from the rows its writer already holds —
    * the write path's half of residency: the next point read serves this
    * run from memory instead of decoding what the writer already knew.
    * Rows are (id, vector|null, params|null, is_deleted), all stamped
    * `version`, seq = position (`LocalRunWriter.writeStoreRun`'s rows).
    */
  private[core] def registerRun(f: String,
      rows: Seq[(String, Seq[Float], Map[String, String], Boolean)],
      version: Long): Unit = {
    val b = new RunBuilder
    rows.iterator.zipWithIndex.foreach { case ((id, vec, ps, del), i) =>
      b.add(id, version, i.toLong, del,
        if (vec == null) null else vec.toArray,
        if (ps == null) Map.empty else ps)
    }
    admit(runKey(f), b.result())
  }

  /** The resident copy of `f`, decoded now if its size admits it; null when
    * the run is too large (its footer's uncompressed size, or its decoded
    * size measured on an earlier touch, exceeds the admission share). The
    * decoded copy serves the caller even if admission then declines it.
    */
  private def decodeIfAdmissible(f: String): ResidentRun = {
    if (runMeta.get(f).exists(m => !admissible(m.sizeHint))) return null
    val r = open(f)
    try {
      // remembered only for a declined run — the fallback path reads it,
      // and an admitted run's footer is not needed again
      val meta = metaOf(r)
      if (!admissible(meta.rawBytes)) { runMeta.putIfAbsent(f, meta); return null }
      runOpens.incrementAndGet()
      val b = new RunBuilder
      records(r, null) { g =>
        b.add(g.getString("id", 0), g.getLong("version", 0), g.getLong("seq", 0),
          g.getBoolean("is_deleted", 0), readFloats(g, "vector"), readParams(g))
      }
      val run = b.result()
      if (!admissible(run.bytes)) runMeta.put(f, meta.copy(decodedBytes = run.bytes))
      admit(f, run)
      run
    } finally r.close()
  }

  // ---- per-run id blooms (the SSTable bloom, driver-side) ---------------
  //
  // Runs that are not resident — too large to admit, or evicted — are the
  // ones a probe may have to OPEN (footer parse + reader setup, ~10 ms per
  // file; random ids defeat min/max row-group pruning). Classic LSM
  // answer: a bloom per immutable run, memoized forever (runs never
  // change; deleted runs simply stop being listed). No false negatives ⇒
  // skipping a bloom-negative run can never change the LWW outcome. An
  // evicted run's bloom comes from its resident ids; an oversized run's
  // from a projected id-column pass. Runs beyond `BloomMaxRows` don't get
  // a bloom (an unbounded driver-side build; such runs come from
  // compaction, where clusterById gives them disjoint id ranges the
  // min/max stats prune instead) — at object-store scale the same bits
  // live in a manifest.

  private val BloomMaxRows = 4L * 1024 * 1024
  private val BloomBitsPerId = 10
  // residency bound is BYTES, not entries — one 4M-row bloom is ~5 MB, so
  // an entry cap alone could still hold tens of GB of bitsets
  private val BloomMaxBytes = 256L * 1024 * 1024
  private val bloomBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val blooms = scala.collection.concurrent.TrieMap.empty[String, IdBloom]

  // serving observability: real run opens (first-touch decodes and
  // filtered reads) vs bloom-pruned skips vs resident hits — the counters
  // that tell an operator whether point reads are served from memory.
  // Exposed with the residency and bloom gauges over GET /v1/metrics.
  private val runOpens = new java.util.concurrent.atomic.AtomicLong(0L)
  private val runsBloomPruned = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Point-serve reader gauges/counters (process-lifetime). */
  def metrics: Map[String, Long] = {
    val (runs, bytes) = resident.synchronized((resident.size.toLong, residentBytes))
    Map(
      "point_run_opens" -> runOpens.get(),
      "point_runs_bloom_pruned" -> runsBloomPruned.get(),
      "point_blooms" -> blooms.size.toLong,
      "point_bloom_bytes" -> bloomBytes.get(),
      "point_bloom_max_bytes" -> BloomMaxBytes,
      "point_runs_resident" -> runs,
      "point_resident_bytes" -> bytes,
      "point_resident_max_bytes" -> residentMax,
      "point_resident_hits" -> residentHits.get())
  }

  private class IdBloom(nBits: Int) {
    val words = new Array[Long]((nBits + 63) / 64)
    private val mask = nBits - 1 // nBits is a power of two
    def add(id: String): Unit = {
      val h1 = hash1(id); val h2 = hash2(id)
      var i = 0
      while (i < 4) {
        val bit = (h1 + i * h2) & mask
        words(bit >>> 6) |= 1L << (bit & 63)
        i += 1
      }
    }
    // hash-pair probe: the (h1, h2) pair depends only on the id, so a
    // multi-file probe hashes each id ONCE, not once per candidate run
    def mightContainHashed(h1: Int, h2: Int): Boolean = {
      var i = 0
      while (i < 4) {
        val bit = (h1 + i * h2) & mask
        if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
        i += 1
      }
      true
    }
    def mightContainAny(hashes: Array[Long]): Boolean =
      hashes.exists(h => mightContainHashed((h >>> 32).toInt, h.toInt))
  }
  private def hash1(id: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(id, 0x9747b28c)
  private def hash2(id: String): Int =
    scala.util.hashing.MurmurHash3.stringHash(id, 0x85ebca6b) | 1
  private val AlwaysMight = new IdBloom(64) { // oversized runs: never prune
    override def mightContainHashed(h1: Int, h2: Int): Boolean = true
  }

  private def idHashes(ids: Set[String]): Array[Long] =
    ids.iterator.map(id =>
      (hash1(id).toLong << 32) | (hash2(id) & 0xffffffffL)).toArray

  /** Footer-derived metadata of a run that takes the bloom + filtered read
    * path, memoized (runs are immutable): row count, the id-only
    * bloom-build projection, the (id, version, seq, is_deleted) projection
    * `liveIds` reads it with (when the run has those columns), and why
    * residency declined it — the footer's uncompressed bytes and, when it
    * was decoded, the measured resident bytes.
    */
  private final case class RunMeta(rows: Long, idOnly: MessageType,
      probe: Option[MessageType], rawBytes: Long, decodedBytes: Long = -1L) {
    // the decoded size once known, else the footer's lower bound on it
    def sizeHint: Long = if (decodedBytes >= 0) decodedBytes else rawBytes
  }
  private val runMeta = scala.collection.concurrent.TrieMap.empty[String, RunMeta]
  private val ProbeCols = Array("id", "version", "seq", "is_deleted")

  private def metaOf(r: ParquetFileReader): RunMeta = {
    val fileSchema = r.getFileMetaData.getSchema
    val probe =
      if (!ProbeCols.forall(fileSchema.containsField)) None
      else Some(new MessageType(fileSchema.getName,
        ProbeCols.map(n => fileSchema.getType(fileSchema.getFieldIndex(n))): _*))
    RunMeta(r.getRecordCount, new MessageType(fileSchema.getName,
      fileSchema.getType(fileSchema.getFieldIndex("id"))), probe,
      r.getFooter.getBlocks.asScala.map(_.getTotalByteSize).sum)
  }

  private def metaFor(f: String): RunMeta = runMeta.get(f).getOrElse {
    val r = open(f)
    val meta = try metaOf(r) finally r.close()
    runMeta.putIfAbsent(f, meta).getOrElse(meta)
  }

  /** Pre-populate the bloom for a run from ids already in memory (an
    * evicted or admission-declined resident run). Sizing/accounting
    * identical to `bloomFor`; runs are immutable so the two can never
    * disagree on content.
    */
  private def registerBloom(f: String, ids: Iterable[String]): Unit = {
    if (blooms.contains(f)) return
    if (bloomBytes.get() > BloomMaxBytes) sweepDeadBlooms()
    if (bloomBytes.get() > BloomMaxBytes) return // admission-denied: bloomFor retries later
    val n = ids.size
    if (n > BloomMaxRows) { blooms.putIfAbsent(f, AlwaysMight); return }
    val nBits = math.max(1024, Integer.highestOneBit(n * BloomBitsPerId) * 2)
    val b = new IdBloom(nBits)
    ids.foreach(b.add)
    if (blooms.putIfAbsent(f, b).isEmpty)
      bloomBytes.addAndGet(8L * b.words.length)
  }

  private def bloomFor(f: String): IdBloom = blooms.get(f).getOrElse {
    val meta = metaFor(f)
    // ADMISSION bound, never a wholesale clear: a clear would make a
    // store whose total bloom footprint exceeds the budget rebuild
    // hundreds of MB of bitsets on every probe (worse than no blooms at
    // all). Over budget: first sweep entries whose runs no longer exist
    // (compaction replaces run sets, and dead files' bytes must not pin
    // the budget forever).
    if (bloomBytes.get() > BloomMaxBytes) sweepDeadBlooms()
    if (meta.rows > BloomMaxRows) {
      // permanently oversized: an unbounded driver-side build — memoize
      // the never-prune answer (such runs come from compaction, where
      // clusterById's disjoint id ranges prune via min/max instead)
      blooms.putIfAbsent(f, AlwaysMight)
      AlwaysMight
    } else if (bloomBytes.get() > BloomMaxBytes) {
      // budget-denied, NOT memoized: a transient over-budget moment (e.g.
      // just before compaction's sweep reclaims replaced runs) must not
      // pin this run bloom-less forever — the next probe retries, and the
      // row count is already memoized so the retry costs no footer open
      AlwaysMight
    } else {
      val nBits = math.max(1024,
        Integer.highestOneBit(meta.rows.toInt * BloomBitsPerId) * 2)
      val b = new IdBloom(nBits)
      scanWith(f, null, meta.idOnly)(g => b.add(g.getString("id", 0)))
      blooms.putIfAbsent(f, b) match {
        case Some(winner) => winner // a racing builder landed first
        case None => bloomBytes.addAndGet(8L * b.words.length); b
      }
    }
  }

  private def sweepDeadBlooms(): Unit = blooms.synchronized {
    def stillExists(k: String): Boolean =
      if (ControlFs.isLocalRoot(k)) Files.exists(Paths.get(k))
      else {
        val p = new Path(k)
        scala.util.Try(p.getFileSystem(conf).exists(p)).getOrElse(false)
      }
    blooms.keys.foreach { k =>
      if (!stillExists(k)) {
        blooms.remove(k).foreach { b =>
          if (b ne AlwaysMight) bloomBytes.addAndGet(-8L * b.words.length)
        }
        runMeta.remove(k)
      }
    }
  }

  // test hook: resident bloom count under a prefix + the bytes they pin in
  // the global budget ledger (prefix-scoped so concurrent suites' entries
  // don't race the assertion)
  private[graft] def bloomStats(prefix: String): (Int, Long) = {
    val mine = blooms.filter(_._1.startsWith(prefix))
    (mine.size, mine.valuesIterator
      .map(b => if (b eq AlwaysMight) 0L else 8L * b.words.length).sum)
  }

  // test hook: resident run count under a prefix + the bytes they hold
  private[graft] def residentStats(prefix: String): (Int, Long) =
    resident.synchronized {
      val mine = resident.asScala.filter(_._1.startsWith(runKey(prefix)))
      (mine.size, mine.valuesIterator.map(_.bytes).sum)
    }

  // test hook: run `body` under a different residency bound (evicting down
  // to it first), then restore the bound it replaced. A bound of 0 admits
  // nothing — every lookup takes the bloom + filtered read path.
  private[graft] def withResidentMaxBytes[T](bound: Long)(body: => T): T = {
    def setBound(b: Long): Unit = {
      val evicted = scala.collection.mutable.ArrayBuffer.empty[(String, ResidentRun)]
      resident.synchronized { residentMax = b; evictOver(b, evicted) }
      evicted.foreach { case (k, r) => registerBloom(k, r.idSet) }
    }
    val prev = residentMax
    setBound(bound)
    try body finally setBound(prev)
  }

  /** Drop every memoized per-run structure under a path prefix — resident
    * runs, blooms, footer metadata. Called on collection drop (the version
    * counter resets there, and a recreated collection may reuse run paths,
    * so nothing keyed on the old incarnation may survive, nor pin a byte
    * budget) and by a cold reopen, whose reads must come from disk.
    */
  private[graft] def invalidateUnder(prefix: String): Unit = {
    val p = runKey(prefix)
    resident.synchronized {
      val it = resident.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(p)) { residentBytes -= e.getValue.bytes; it.remove() }
      }
    }
    blooms.keys.filter(_.startsWith(p)).foreach { k =>
      blooms.remove(k).foreach { b =>
        if (b ne AlwaysMight) bloomBytes.addAndGet(-8L * b.words.length)
      }
    }
    runMeta.keys.filter(_.startsWith(p)).foreach(runMeta.remove)
  }

  private def probeSchema(f: String): MessageType =
    metaFor(f).probe.getOrElse(throw new IllegalStateException(
      s"run $f lacks the store probe columns (id/version/seq/is_deleted)"))

  /** Scan of one run, filtered by `pred` when non-null, under an explicit
    * projected schema when non-null, else every column (`records`).
    */
  private def scanWith(f: String,
      pred: org.apache.parquet.filter2.predicate.FilterPredicate,
      projected: MessageType)(each: Group => Unit): Unit = {
    val filter = if (pred == null) FilterCompat.NOOP else FilterCompat.get(pred)
    val r = open(f, filter)
    try records(r, projected, filter)(each)
    finally r.close()
  }

  /** A primitive LIST group's elements, through `get(container, i)`: the
    * standard 3-level shape (`f.list.element`; Spark's writer) or a
    * 2-level repeated-primitive writer's.
    */
  private def listElems[A: scala.reflect.ClassTag](lg: Group)(
      get: (Group, Int, Int) => A): Array[A] = {
    val n = lg.getFieldRepetitionCount(0)
    val threeLevel = !lg.getType.getType(0).isPrimitive
    val out = new Array[A](n)
    var i = 0
    while (i < n) {
      out(i) = if (threeLevel) get(lg.getGroup(0, i), 0, 0) else get(lg, 0, i)
      i += 1
    }
    out
  }

  /** `ARRAY<FLOAT>` (null when the field is null). */
  private[core] def readFloats(g: Group, field: String): Array[Float] =
    if (g.getFieldRepetitionCount(field) == 0) null
    else listElems(g.getGroup(field, 0))((c, f, i) => c.getFloat(f, i))

  /** `ARRAY<INT>` (null when the field is null). */
  private[core] def readInts(g: Group, field: String): Array[Int] =
    if (g.getFieldRepetitionCount(field) == 0) null
    else listElems(g.getGroup(field, 0))((c, f, i) => c.getInteger(f, i))

  /** `ARRAY<ARRAY<INT>>` in the standard 3-level shape (null when the
    * field is null).
    */
  private[core] def readIntLists(g: Group, field: String): Array[Array[Int]] =
    if (g.getFieldRepetitionCount(field) == 0) null
    else {
      val lg = g.getGroup(field, 0)
      Array.tabulate(lg.getFieldRepetitionCount(0))(i =>
        readInts(lg.getGroup(0, i), "element"))
    }

  /** `MAP<STRING,STRING>` from the parquet key_value encoding. */
  private[core] def readParams(g: Group): Map[String, String] = {
    if (g.getFieldRepetitionCount("params") == 0) return Map.empty
    val pg = g.getGroup("params", 0)
    val n = pg.getFieldRepetitionCount(0)
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < n) {
      val kv = pg.getGroup(0, i)
      val key = kv.getString("key", 0)
      val value = if (kv.getFieldRepetitionCount("value") == 0) null
        else kv.getString("value", 0)
      out += key -> value
      i += 1
    }
    out.result()
  }
}
