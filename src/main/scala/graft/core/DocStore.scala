package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned, last-write-wins document store over Parquet — the Spark-native
  * replacement for the reference's LSM tree + WAL
  * (`internal/storage/tree/tree.go`, SURVEY §2.1 S3–S7, §3.2):
  *
  *  - upsert/delete append immutable row batches `(id, vector, params,
  *    version, is_deleted)`; an atomically-written batch file is the
  *    durability point (the WAL's job);
  *  - reads resolve LWW with a window group-limit (max version per id, drop
  *    tombstones) — the skiplist/compaction-merge semantics
  *    (`tree_compact.go:109-130`) as a declarative plan;
  *  - `compact()` is leveled compaction: rewrite keeping only winners.
  *
  * Divergences (SURVEY §7.4, deliberate): deleted docs read as absent (the
  * reference's tombstone read yields a JSON unmarshal error,
  * `document.go:98-107`); the skiplist last-node drop bug is structurally
  * impossible here and regression-tested.
  *
  * Scale: appends are per-batch parquet writes (no read-modify-write);
  * LWW resolution uses WindowGroupLimit (partial limit before the shuffle);
  * point reads push `id = x` into the parquet scan. Version assignment is a
  * per-collection authoritative counter (ControlFs: single-file on local
  * roots, a create-exclusive manifest sequence on hdfs://s3a://-class roots).
  *
  * MULTI-PROCESS writers on a shared root are supported by three cooperating
  * mechanisms (see `withNextVersion`): every published run carries its
  * version in its NAME so readers refuse uncommitted batches (RunNames);
  * a per-collection WriterLease serializes processes and reconciles a
  * crashed predecessor's debris; and the counter's create-exclusive commit
  * turns any remaining race into a typed collision the writer recovers from
  * by retracting and re-stamping its whole batch. Proven by the two-JVM
  * soak (TwoProcessSoakSpec) on a graftfs:// root.
  */
class DocStore(spark: SparkSession, root: String) {
  import DocStore._

  // control files route through the root's ControlFs: java.nio on plain
  // local roots (the pre-port protocol, bit-compatible), Hadoop-FS manifest
  // commits on hdfs://s3a://file:// roots — control state lives WITH the
  // data on every scheme (this retires the round-10 requireLocalRoot guard)
  private val cfs = ControlFs.forRoot(root)

  // The data directory is GENERATION-VERSIONED: appends land in the current
  // generation; compaction writes a whole NEW generation and flips the
  // `data_gen` pointer (an authoritative ControlFs counter — a rolled-back
  // pointer would read a GC'd directory) instead of deleting the live dir
  // in place — snapshot isolation for concurrent readers (a Spark scan plans
  // against a file listing; deleting those files mid-read fails the scan
  // with FAILED_READ_FILE, which the concurrency soak caught on its first
  // run). Superseded generations are garbage-collected one compaction cycle
  // later (current + previous are always kept), so every reader gets at
  // least one full corpus-rewrite interval to finish against intact files —
  // the same immutable-files-plus-metadata-pointer contract the table
  // formats (Iceberg/Delta) give their readers. Pointer absent ⇒ generation
  // 0 at the legacy `data` path, so existing stores read unchanged.
  private def genFile(name: String) = s"$root/$name/data_gen"
  private def genDir(name: String, g: Long): String =
    if (g == 0L) s"$root/$name/data" else s"$root/$name/data_g$g"
  private def dataDir(name: String): String =
    genDir(name, cfs.counterRead(genFile(name)).getOrElse(0L))
  private def versionFile(name: String) = s"$root/$name/_version"

  def schema(dim: Int): StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = true),
    StructField("params", MapType(StringType, StringType), nullable = true),
    StructField("version", LongType, nullable = false),
    StructField("seq", LongType, nullable = false), // order within a batch
    StructField("is_deleted", BooleanType, nullable = false)))

  def init(name: String): Unit = {
    cfs.mkdirs(dataDir(name))
    cfs.counterInit(versionFile(name), 0L)
  }

  /** Current write version (monotone per collection; part of the result
    * cache key so every write invalidates cached searches). Strict: the
    * counter is authoritative — absent/corrupt must throw, never default.
    */
  def currentVersion(name: String): Long =
    cfs.counterRead(versionFile(name)).getOrElse(
      throw new IllegalStateException(
        s"collection '$name' has no version counter at ${versionFile(name)}"))

  // per-collection write serialization, two layers: in-JVM threads
  // synchronize on writeLock; cross-PROCESS writers on a shared root
  // serialize via the WriterLease inside withNextVersion, with the
  // version counter's create-exclusive commit as the loud correctness
  // backstop when leases overlap (steal race, clock skew, knob off)
  private val writeLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def writeLock(name: String): Object =
    writeLocks.computeIfAbsent(name, _ => new Object)

  private def leaseFile(name: String) = s"$root/$name/_writer.lease"

  /** Collision/lease-loss retries before giving up: each retry re-reads the
    * counter, re-stamps, and rewrites the whole batch, so persistent
    * contention costs whole-batch rewrites — bounded, loud at the end.
    * Retries back off with jitter (below): two unleased writers colliding
    * in lockstep would otherwise livelock each other off the budget.
    */
  private val MaxWriteRetries = 20

  /** Test-visible count of cross-process collision/lease-loss retries this
    * instance performed (the two-JVM soak asserts the backstop actually
    * fired when it disabled the lease).
    */
  val writeRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `write(v)` with the next version, committing the counter only AFTER
    * the data lands; `write` returns the VISIBLE paths it published so a
    * failed commit can retract them. A concurrent reader racing the write
    * keys its cache entries under the OLD version (consistent: the entry is
    * invalidated the moment the counter commits) instead of caching
    * pre-write results under the post-write version — and since every
    * published run carries its version in its NAME (RunNames), readers
    * refuse the batch outright until the counter commits it.
    *
    * Cross-process protocol (VERDICT r11 #1), in failure order:
    *  1. the writer lease serializes processes (liveness; stolen leases
    *     mean the previous holder crashed → reconcile its debris);
    *  2. a lease FENCE immediately before the commit catches a lost lease
    *     while the batch is still retractable;
    *  3. the counter's create-exclusive commit turns any remaining race
    *     into a typed collision — the loser deletes its batch (rows
    *     stamped v would otherwise tie the winner's on (version, seq) and
    *     nondeterministically win LWW merges — ADVICE r11) and retries
    *     the WHOLE write at a fresh version, skipping past every claimed
    *     value.
    *
    * Liveness honesty: the collision backstop alone (lease knob off) is
    * correct but not fair — a writer saturating the counter can starve a
    * peer off the retry budget, because each retry re-pays the whole batch
    * write inside the collision window. The lease is what makes two live
    * writers FAIR; the backstop makes overlap SAFE. (TwoProcessSoakSpec
    * drives both layers.)
    */
  private def withNextVersion(name: String)(write: Long => Seq[String]): Long =
    writeLock(name).synchronized {
      var attempt = 0
      var floor = 0L // claimed-but-uncommitted values to skip past
      var committed = -1L
      while (committed < 0) {
        try {
          committed = WriterLease.withLease(cfs, leaseFile(name)) { ctx =>
            if (ctx.stole) reconcileOrphans(name)
            val v = math.max(currentVersion(name), floor) + 1
            val written = write(v)
            try {
              ctx.fence()
              cfs.counterCommit(versionFile(name), v)
              v
            } catch {
              case e: Throwable =>
                // the version never committed: retract the batch before
                // propagating — uncommitted rows must not stay on disk
                // (readers already refuse them by name, but a later commit
                // of the same value would expose them)
                written.foreach(p => scala.util.Try(cfs.deleteIfExists(p)))
                e match {
                  case c: CounterCollisionException =>
                    floor = math.max(floor, c.collided); throw c
                  case _ => throw e
                }
            }
          }
        } catch {
          case e @ (_: CounterCollisionException | _: WriterLease.LeaseLost)
              if attempt < MaxWriteRetries =>
            attempt += 1
            writeRetries.incrementAndGet()
            // jittered exponential backoff: desynchronize writers that
            // would otherwise collide in lockstep (their write+commit
            // cadences are near-identical)
            Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(1L, math.min(250L, 4L << attempt)))
        }
      }
      committed
    }

  /** Delete crash debris a STOLEN lease proves abandoned: published runs
    * whose name-version exceeds the committed counter (their writer died
    * between publish and commit; a later commit of that value would expose
    * them as phantom rows) and stale staging directories. Safe exactly
    * because we hold a lease the previous holder lost by crashing — no live
    * writer's in-flight files can be on disk.
    */
  private def reconcileOrphans(name: String): Unit = {
    val dir = dataDir(name)
    // destructive decision: the committed value must come from the store,
    // never the opt-in bounded-staleness read cache — a stale-low counter
    // here would delete acknowledged runs as "orphans"
    HadoopControlFs.cacheDrop(versionFile(name))
    val committedV = cfs.counterRead(versionFile(name)).getOrElse(0L)
    cfs.listNames(dir).foreach { n =>
      if (RunNames.isRun(n) && RunNames.version(n).exists(_ > committedV))
        scala.util.Try(cfs.deleteIfExists(s"$dir/$n"))
      else if (n.startsWith(".staging-"))
        scala.util.Try(cfs.deleteRecursively(s"$dir/$n"))
    }
  }

  /** Append a batch of upserts (one version for the whole batch — the
    * reference's BatchUpsert atomicity, `document.go:277-307`). Returns
    * the committed version, for callers coordinating derived artifacts
    * (index-layout appends) with exactly this write.
    */
  def upsert(name: String, docs: Seq[Document], dim: Int): Long = {
    require(docs.nonEmpty, "empty batch")
    // all-or-nothing dimension validation (document.go:280-285)
    docs.find(d => d.vector == null || d.vector.length != dim).foreach { d =>
      throw new IllegalArgumentException(
        s"document '${d.id}': vector dimension ${Option(d.vector).map(_.length).getOrElse(0)} != collection dimension $dim")
    }
    appendRows(name, docs.map(d =>
      Row(d.id, d.vector.toSeq, d.params, -1L, -1L, false)), dim)
  }

  /** Delete = tombstone append (`storage.go:37-39`), uniformly honored by
    * readers via is_deleted.
    */
  def delete(name: String, ids: Seq[String], dim: Int): Unit = {
    deleteVersioned(name, ids, dim); ()
  }

  /** `delete` returning the version the tombstones committed under — for
    * callers that coordinate derived artifacts (index-layout tombstone
    * sidecars) with exactly this write, mirroring `upsertDfVersioned`.
    */
  def deleteVersioned(name: String, ids: Seq[String], dim: Int): Long = {
    require(ids.nonEmpty, "empty delete batch")
    appendRows(name, ids.map(id => Row(id, null, null, -1L, -1L, true)), dim)
  }

  /** Append a DataFrame batch (id, vector, params) as one version — the
    * streaming-ingest entry point (one micro-batch = one atomic version).
    * A distributed batch has no total record order, so duplicate ids WITHIN
    * one micro-batch resolve deterministically by (partition, offset) order;
    * ordering across micro-batches is exact (version).
    */
  def upsertDf(name: String, batch: DataFrame): Unit = {
    upsertDfVersioned(name, batch); ()
  }

  /** `upsertDf` returning the version THIS batch committed under — for
    * callers that coordinate derived artifacts (e.g. an incremental index
    * layout) with exactly this write: stamping the artifact with any version
    * other than the returned one can mark it current while missing a racing
    * writer's rows.
    */
  def upsertDfVersioned(name: String, batch: DataFrame): Long =
    withNextVersion(name) { v =>
      stagedSparkAppend(name, v,
        batch.select(col("id"), col("vector"), col("params"))
          .withColumn("version", lit(v))
          .withColumn("seq", monotonically_increasing_id())
          .withColumn("is_deleted", lit(false)))
    }

  private def appendRows(name: String, rows: Seq[Row], dim: Int): Long =
    withNextVersion(name) { v =>
      // seq = position within the batch: duplicate ids inside one batch
      // resolve to the LAST occurrence (the reference's sequential-put
      // semantics, `document.go:294-303`), not an arbitrary tie.
      // Driver-sized batches write their run driver-direct (LocalRunWriter,
      // ~5 ms vs the ~100 ms Spark-job floor; scheme-aware — parquet-mr
      // writes through the root's Hadoop FS on non-local roots) — identical
      // rows, identical crash ordering (file visible before the counter
      // bumps), read-equivalence spec-gated.
      if (rows.size <= LocalRunWriter.MaxLocalRows)
        Seq(LocalRunWriter.writeStoreRun(dataDir(name), rows.map { r =>
          (r.getString(0),
            Option(r(1)).map(_.asInstanceOf[Seq[Float]]).orNull,
            Option(r(2)).map(_.asInstanceOf[Map[String, String]]).orNull,
            r.getBoolean(5))
        }, v))
      else {
        val stamped = rows.zipWithIndex.map { case (r, i) => Row(r(0), r(1), r(2), v, i.toLong, r(5)) }
        stagedSparkAppend(name, v,
          spark.createDataFrame(stamped.asJava, schema(dim)))
      }
    }

  /** Distributed append, staged-then-published: the Spark job writes the
    * batch into a dot-prefixed staging dir (invisible to every listing
    * convention), then each part file is RENAMED into the data dir under a
    * name carrying the batch version (`RunNames.sparkRun`). This gives the
    * Spark path the same two properties the driver-local path has — the
    * exact set of published paths is known (so a failed counter commit can
    * retract the batch), and a crash mid-job leaves nothing visible (a
    * crash mid-PUBLISH leaves name-versioned files readers refuse until
    * that version commits, reconciled at the next lease steal). On HDFS
    * the renames are metadata ops; on an object store each is a copy —
    * that cost rides the same committer seam as all job output there
    * (documented in ObjectStoreSemanticsSpec; a real s3a deployment wants
    * a direct-write committer).
    */
  private def stagedSparkAppend(name: String, v: Long, frame: DataFrame): Seq[String] = {
    val dir = dataDir(name)
    val batchId = java.util.UUID.randomUUID().toString.take(8)
    val stage = s"$dir/.staging-$batchId"
    frame.write.mode("overwrite").parquet(stage)
    val parts = cfs.listNames(stage).filter(RunNames.isRun).sorted
    val published = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      parts.zipWithIndex.foreach { case (p, i) =>
        val dst = s"$dir/${RunNames.sparkRun(v, batchId, i)}"
        cfs.rename(s"$stage/$p", dst)
        published += dst
      }
    } catch {
      case e: Throwable =>
        // partial publish: retract what landed (all uncommitted — readers
        // were refusing it by name anyway), keep the dir clean
        published.foreach(p => scala.util.Try(cfs.deleteIfExists(p)))
        scala.util.Try(cfs.deleteRecursively(stage))
        throw e
    }
    scala.util.Try(cfs.deleteRecursively(stage))
    published.toSeq
  }

  /** Raw log (all versions, incl. tombstones); an empty collection reads as
    * an empty frame with the store schema (not a scan error).
    */
  /** Plan-HANDLE cache for the corpus frame, keyed by (data dir, store
    * version): `spark.read.parquet` eagerly lists the dir and reads footers
    * for schema inference (~100+ ms), which a serving path re-paid on EVERY
    * request — the single largest fixed cost in the MaxSim wire p50. The
    * handle holds only the file listing (no `.persist`, zero executor
    * memory), so this is scale-free; any write bumps the version and any
    * compaction flips the generation dir, either of which rotates the key,
    * evicts older handles for the collection, and re-lists — the same
    * stamp-rotation discipline as `Engine`'s delta/tombstone caches.
    */
  private val frameCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), DataFrame]

  /** Drop every cached frame handle of `name` — a drop/recreate resets the
    * version counter, so keys of the old incarnation could otherwise serve
    * a recreated collection's reads from the dead generation's listing.
    */
  def invalidateFrames(name: String): Unit =
    frameCache.keys.filter(_._1.startsWith(s"$root/$name/data"))
      .foreach(frameCache.remove)

  def log(name: String): DataFrame = {
    val dir = dataDir(name)
    val ver = currentVersion(name)
    frameCache.getOrElseUpdate((dir, ver), {
      // evict every OTHER generation/version handle of this collection
      // (prefix match: a compaction flip changes the dir, not just the
      // version, and the old dir's files are GC'd a cycle later)
      frameCache.keys.filter(k => k._1.startsWith(s"$root/$name/data") &&
          k != ((dir, ver)))
        .foreach(frameCache.remove)
      val names = cfs.listNames(dir).filter(RunNames.isRun)
      // visibility: runs name-versioned ABOVE the committed counter are
      // uncommitted (in-flight or crashed) batches — excluding them here
      // also makes the cached handle exactly the counter's snapshot (a
      // racing writer's file can no longer sneak post-`ver` rows into the
      // (dir, ver) entry). Untagged names (pre-protocol stores, compaction
      // output) are always visible.
      val visible = names.filter(n => RunNames.version(n).forall(_ <= ver))
      if (visible.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema(0))
      // ALWAYS the explicit path list, even when every listed run is
      // visible: spark.read.parquet(dir) would re-list the directory at
      // plan time, so a run published by a cross-process writer between
      // cfs.listNames and Spark's own listing could sneak uncommitted
      // post-`ver` rows into the cached (dir, ver) handle — the exact race
      // the visibility filter exists to close
      else spark.read.parquet(visible.map(n => s"$dir/$n"): _*)
    })
  }

  /** Current state: latest version per id, tombstones dropped. */
  def read(name: String): DataFrame = latestWins(log(name))

  /** Point lookup: predicate pushdown prunes row groups before the LWW
    * resolution (the bloom-filter/binary-search path of SURVEY S3).
    */
  def get(name: String, id: String): Option[Document] = {
    val rows = latestWins(log(name).filter(col("id") === id)).collect()
    rows.headOption.map(fromRow)
  }

  /** Point lookup on the SERVING path: hash probes into the driver-resident
    * copies of the store's runs (zero Spark jobs, no file opened once a run
    * is resident — `LocalPointReader`), falling back to the always-correct
    * Spark plan on any IO race (e.g. a concurrent `compact()` swapping the
    * directory mid-read). Result ≡ `get`.
    */
  def getFast(name: String, id: String): Option[Document] =
    getMany(name, Seq(id)).get(id)

  /** Batch point lookup (the documents/search metadata-fetch shape): one
    * local pass over the visible runs resolves every id — resident runs by
    * hash probe, a run too large to hold resident by a bloom-pruned,
    * footer-pruned filtered read — LWW semantics identical to `read`.
    * Absent and tombstoned ids are omitted. The returned documents share
    * the resident arrays: read-only.
    */
  def getMany(name: String, ids: Seq[String]): Map[String, Document] =
    getManyAt(name, ids, currentVersion(name))

  /** `getMany` against an already-read counter value — serving paths that
    * checked counter currency this request skip the second counter read
    * (one LIST per read on a remote root).
    */
  def getManyAt(name: String, ids: Seq[String], ver: Long): Map[String, Document] =
    if (ids.isEmpty) Map.empty
    else try LocalPointReader.readDocs(dataDir(name), ids.toSet, ver)
    catch {
      case scala.util.control.NonFatal(e) =>
        // tests set graft.pointreader.strict so a local-reader defect can
        // never hide behind the always-correct fallback
        if (java.lang.Boolean.getBoolean("graft.pointreader.strict")) throw e
        latestWins(log(name).filter(col("id").isin(ids: _*))).collect()
          .map(r => r.getAs[String]("id") -> fromRow(r)).toMap
    }

  /** Which of `ids` are live (LWW winner not a tombstone) — the existence
    * probe the maintained write path runs per batch: hash probes into the
    * resident runs, and for a run too large to hold resident a PROJECTED
    * driver-local read (no vector/params page decode — the bulk of the
    * bytes); same LWW semantics, same strict-mode Spark fallback.
    */
  def liveIds(name: String, ids: Seq[String]): Set[String] =
    if (ids.isEmpty) Set.empty
    else try LocalPointReader.liveIds(dataDir(name), ids.toSet,
      currentVersion(name))
    catch {
      case scala.util.control.NonFatal(e) =>
        if (java.lang.Boolean.getBoolean("graft.pointreader.strict")) throw e
        latestWins(log(name).filter(col("id").isin(ids: _*)))
          .select(col("id")).collect().map(_.getString(0)).toSet
    }

  /** Compaction: rewrite the log keeping only LWW winners (drops overwritten
    * versions AND tombstones — `tree_compact.go:266-291` capability).
    *
    * `clusterById = true` additionally writes the winners as key-sorted
    * runs with DISJOINT per-file id ranges (range-partition + in-partition
    * sort) — the declarative form of the reference's sorted-SSTable level
    * (`tree_compact.go:109-130`): parquet min/max footer stats then prune
    * point/range lookups on `id` to the one file whose range covers the
    * key, instead of probing every compacted file. `files` bounds the run
    * count (at real scale: size for ~0.5–1 GB files).
    */
  /** Total on-disk bytes of the current data generation — the sizing input
    * for serving-oriented compaction (file count ∝ corpus bytes: point
    * reads pay ~10 ms of reader setup PER FILE they open, so a small
    * corpus wants ONE file, and a 100 TB one wants 0.5-1 GB files, never a
    * fixed count).
    */
  def dataDirBytes(name: String): Long = {
    val dir = dataDir(name)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(ControlFs.hadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def compact(name: String, clusterById: Boolean = false, files: Int = 8): Unit =
    writeLock(name).synchronized {
    WriterLease.withLease(cfs, leaseFile(name)) { ctx =>
      if (ctx.stole) reconcileOrphans(name)
      // under the write lock + lease: an append racing the generation flip
      // below (from this process or another) would otherwise land its
      // batch file in the superseded generation and be lost
      val winners = read(name).cache()
      winners.count() // materialize before the flip
      val out =
        if (clusterById)
          winners.repartitionByRange(files, col("id")).sortWithinPartitions("id")
        else winners
      val gen = cfs.counterRead(genFile(name)).getOrElse(0L)
      // mode("overwrite"): a crashed previous attempt at this generation
      // (write completed, flip never happened) is simply rewritten
      out.write.mode("overwrite").parquet(genDir(name, gen + 1))
      winners.unpersist()
      // THE flip: atomic pointer commit — readers see either the old
      // generation (intact until GC'd a full cycle later) or the new one,
      // never a half-swapped directory
      cfs.counterCommit(genFile(name), gen + 1)
      // snapshot GC: drop generations OLDER than the one just superseded —
      // a scan planned against generation g keeps its files until
      // compaction g+2 flips, at least one whole corpus rewrite away
      var old = 0L
      while (old < gen) { cfs.deleteRecursively(genDir(name, old)); old += 1 }
    }
    }

  def drop(name: String): Unit = cfs.deleteRecursively(s"$root/$name")

  private def fromRow(r: Row): Document = Document(
    r.getAs[String]("id"),
    Option(r.getAs[scala.collection.Seq[Float]]("vector")).map(_.toArray).orNull,
    Option(r.getAs[scala.collection.Map[String, String]]("params"))
      .map(_.toMap).getOrElse(Map.empty))
}

object DocStore {

  /** LWW resolution as a plan fragment: max-version row per id, tombstones
    * filtered after resolution (a delete must shadow earlier upserts).
    */
  def latestWins(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("version").desc, col("seq").desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("is_deleted"))
      .drop("__rn")
  }
}
