package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.core.ModelStore
import graft.operators.{ExactKnn, GraphAnn}
import graft.sources.EmbeddingProvider

/** Engine facade — the reference's REST verb set (SURVEY §2.9) as a Scala
  * API over the DocStore/Catalog/KNN operators. Semantics mirror
  * `internal/server/handlers.go` with the §7.4 fixes:
  *
  *  - duplicate create → Ok-with-message, not error (`handlers.go:90-93`);
  *  - zero search hits → error "no satisfied results found"
  *    (`document.go:222-225`);
  *  - metadata `filter` is IMPLEMENTED (pre- or post-filter per
  *    `docs/design.md:58`'s heuristic), not silently ignored;
  *  - setParams validates (efsearch for hnsw-tier, nprobe for ivf*,
  *    `ivf.go:379-413` / `hnsw.go:171-204`), unknown key → error;
  *  - deleted docs read as absent; no stale result cache;
  *  - `buildIndex` actually trains (the reference's endpoint batch-upserts,
  *    `handlers.go:176` — SURVEY §7.4).
  */
class Engine(
    val spark: SparkSession,
    root: String,
    embedder: Option[EmbeddingProvider] = None) {

  // The control plane — layout_gen pointers, layout stamps, compact
  // intents, ledgers, model snapshots — routes through the root's
  // ControlFs: java.nio on plain local roots (bit-compatible with every
  // store written so far), Hadoop-FS marker renames + create-exclusive
  // manifest counters on hdfs://s3a://file:// roots. Control state lives
  // WITH the data on every scheme; the round-10 requireLocalRoot refusal
  // (which existed precisely because java.nio control IO on a remote root
  // split control state from data) is retired by this seam.
  private val cfs = ControlFs.forRoot(root)

  private val catalog = new Catalog(root)
  private val store = new DocStore(spark, root)
  // per-collection runtime state: search params + the built tier index
  private val runtime = collection.concurrent.TrieMap.empty[String, Map[String, Int]]
  private val indexes = collection.concurrent.TrieMap.empty[String, LayoutEncoder]
  private val cache = new ResultCache(capacity = 128)
  // params epoch: bumped on setParams and on each buildIndex flip, so cached
  // results keyed on old params or an old index build miss
  private val paramsEpoch = new java.util.concurrent.atomic.AtomicLong(0L)

  // Index-layout directories are GENERATION-VERSIONED (the same snapshot
  // isolation the DocStore gives its data dir): full-layout rewrites
  // (buildIndex, compactLayout) write a whole NEW generation dir and flip
  // the `layout_gen` pointer — never delete/overwrite the dir an in-flight
  // search may be scanning (the concurrency soak caught exactly that:
  // FAILED_READ_FILE on layout files destroyed mid-scan; the old
  // stale-first protocol protected newly-planned searches but not
  // already-running ones). The superseded generation keeps serving its
  // in-flight scans and is GC'd one rewrite cycle later (current +
  // previous always kept). The generation counter is also a FENCE the old
  // fixed-path protocol could not express: a maintained append stamps the
  // layout current only if the generation it appended into is STILL
  // current — an append that raced into a superseded generation stales
  // instead of serving a layout missing its rows. The tombstone/delta
  // sidecars live INSIDE the generation dir, so a fold and its sidecar
  // retire atomically with the flip.
  // an authoritative monotone counter (ControlFs manifest commit on remote
  // roots): a rolled-back generation pointer would read a GC'd directory
  private def layoutGenFile(coll: String) = s"$root/$coll/index/layout_gen"
  private def layoutGen(coll: String): Long =
    cfs.counterRead(layoutGenFile(coll)).getOrElse(0L)
  // generation 0 keeps the legacy un-suffixed name: existing layouts on
  // disk read unchanged
  private def tierGenPath(coll: String, tier: String, g: Long): String =
    if (g == 0L) s"$root/$coll/index/${tier}_layout"
    else s"$root/$coll/index/${tier}_layout_g$g"

  /** The collection's CURRENT layout dir for tier `t` (generation-resolved);
    * None = flat, no layout.
    */
  private def tierLayout(coll: String, t: Tier[_]): Option[String] =
    t.key.map(tierGenPath(coll, _, layoutGen(coll)))
  // compaction-in-progress marker: written by compactLayout BEFORE it reads
  // the layout, removed after the swap settles (or by the next buildIndex).
  // Concurrent ingest stamp-writers check it — an append that raced into
  // compaction's read→delete window would otherwise be destroyed yet
  // stamped current by the ingest's own currentVersion==v guard (which
  // compaction, bumping no versions, cannot trip). With the marker, the
  // racer leaves the layout stale instead of stamping a lie; searches fall
  // back until the next buildIndex.
  private def compactIntentPath(coll: String) = s"$root/$coll/index/compact_intent"

  /** Flip to generation `gen + 1` of `tier`'s layout (the new dir must be
    * fully written first), GC generations older than the superseded one,
    * and drop path-keyed driver/executor caches of retired dirs. Returns
    * the new current path.
    */
  private def flipLayoutGen(coll: String, tier: String, gen: Long): String = {
    cfs.counterCommit(layoutGenFile(coll), gen + 1)
    var old = 0L
    while (old < gen) {
      val oldPath = tierGenPath(coll, tier, old)
      val p = new org.apache.hadoop.fs.Path(oldPath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(p, true)
      // retire path-keyed caches with the dir (they would otherwise pin
      // persisted frames for dirs that no longer exist)
      GraphAnn.GraphCache.invalidate(oldPath)
      graft.operators.LocalIvfServe.dropCells(oldPath)
      graft.operators.LocalPqServe.dropCells(oldPath)
      deltaCache.keys.filter(_._1.startsWith(oldPath)).foreach { k =>
        deltaCache.remove(k).foreach(_.unpersist(false))
      }
      tombCache.keys.filter(_._1.startsWith(oldPath)).foreach { k =>
        tombCache.remove(k).foreach(_.foreach(_.unpersist(false)))
      }
      versionedDeltaMemo.keys.filter(_.startsWith(oldPath))
        .foreach(versionedDeltaMemo.remove)
      old += 1
    }
    tierGenPath(coll, tier, gen + 1)
  }

  // streaming-insert sidecar of the graph layout: underscore-prefixed, so
  // the graph reader's listing never sees it (same convention as `_route`)
  private def hnswDeltaPath(coll: String) = s"${tierLayout(coll, Tier.Hnsw).get}/_delta"
  // the version at which the ADJACENCY was last built — delta appends keep
  // layout_version current without touching this, so executor graph caches
  // and the co-located layout RDD stay hot across streaming batches
  private def hnswEpochPath(coll: String) = s"$root/$coll/index/hnsw_epoch"

  /** Micro-batch-sized delta rows cached per (delta path, layout stamp):
    * steady streaming serving reads the delta parquet once per INGEST
    * BATCH (each advances the stamp), not once per request — the same
    * reasoning as the `_route` centroid cache on the point-serve path.
    * Older stamps of a path are unpersisted on insert.
    */
  private val deltaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), DataFrame]

  /** Committed data files of a sidecar dir RIGHT NOW (the shared
    * `listRuns` definition of a data file). An existing dir with ZERO
    * committed files must read as "no rows yet", never as a scan error:
    * the first Spark `mode("append")` to a fresh sidecar creates the dir
    * with only its `_temporary` staging inside, so an exists()-then-infer
    * reader racing that window throws UNABLE_TO_INFER_SCHEMA — the
    * concurrency soak caught compactLayout's tombstone read doing exactly
    * that against a maintained re-upsert's shadow append. Not seeing an
    * UNCOMMITTED write is legal snapshot semantics: the writer advances
    * the stamp only after its commit, so every stamp-keyed cache re-reads
    * once the rows are real.
    */
  private def sidecarDataFiles(dir: String): Vector[String] =
    // scheme-aware (sidecars live WITH the layout, so a non-local root
    // lists the real store); a dir deleted between existence probe and
    // listing (a generation fold racing this read) is the same snapshot
    // case as zero committed files — empty, never a serving error
    graft.core.LayoutFiles.listSidecar(dir)

  private def cachedDelta(path: String, stamp: Long): Option[DataFrame] = {
    val files = sidecarDataFiles(path)
    if (files.isEmpty) {
      // a buildIndex/compactLayout fold can remove the sidecar WITHOUT
      // advancing the stamp — evict here like cachedTombstones does, or the
      // stale persisted frame stays pinned in executor storage until the
      // next stamp-advancing write (resource leak, not a wrong result)
      deltaCache.keys.filter(_._1 == path).foreach { k =>
        deltaCache.remove(k).foreach(_.unpersist(false))
      }
      None
    }
    else Some(deltaCache.getOrElseUpdate((path, stamp), {
      deltaCache.keys.filter(k => k._1 == path && k._2 != stamp).foreach { k =>
        deltaCache.remove(k).foreach(_.unpersist(false))
      }
      val raw = spark.read.parquet(files: _*)
      // `version` lets tombstones shadow superseded delta rows. A delta
      // written before versions were carried can never be the target of a
      // tombstone (the mutation-maintenance paths refuse to run over a
      // versionless delta and stale instead), so MaxValue — never shadowed
      // — is exact for it, not a guess
      val ver = if (raw.columns.contains("version")) col("version")
        else lit(Long.MaxValue)
      val df = raw.select(col("id"), col("vector"), ver.as("version"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once, off the per-request path
      df
    }))
  }

  /** The delta's id/vector columns only — the exact-scan merge input. */
  private def cachedDeltaVectors(path: String, stamp: Long,
      layoutPath: String): Option[DataFrame] =
    cachedDelta(path, stamp).map(d =>
      applyTombstones(layoutPath, stamp)(d).select(col("id"), col("vector")))

  /** Tombstone sidecar of an index layout: `(id, ver)` rows appended by
    * update/delete batches, underscore-prefixed so the layout readers never
    * scan it as data — the LSM shape (layout = sorted runs, tombstones =
    * delete markers) that keeps every indexed tier SERVING through
    * mutations instead of staling to an exact scan (the reference serves
    * HNSW through deletes the same way — hnsw.go markDeleted). A layout row
    * is shadowed iff some tombstone for its id carries a LATER version
    * (row.version < tomb ver): an update's own re-appended row (version ==
    * tomb ver) survives, every older incarnation dies. buildIndex's
    * mode-overwrite rewrite and compactLayout's dir swap fold the sidecar
    * away with the rows it shadowed.
    */
  private def tombstonesPath(layoutPath: String) = s"$layoutPath/_tombstones"

  // aggregated (id -> max ver) tombstone frame, cached per (sidecar path,
  // layout stamp) — read once per mutation batch, not once per request
  private val tombCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Option[DataFrame]]

  private def cachedTombstones(layoutPath: String, stamp: Long): Option[DataFrame] = {
    val tp = tombstonesPath(layoutPath)
    // the committed-file set is re-listed on EVERY call, not cached:
    // buildIndex and compactLayout fold the sidecar away WITHOUT advancing
    // the stamp (no store write happened), so a cached non-empty entry
    // under the same stamp would keep excluding ids the rebuilt layout
    // legitimately serves — for the versionless graph adjacency that is a
    // wrong result, not a slow one. Zero committed files (absent dir, OR a
    // dir holding only a racing append's `_temporary` staging — see
    // sidecarDataFiles) reads as "no tombstones": the uncommitted delete
    // isn't visible yet by snapshot semantics.
    val files = sidecarDataFiles(tp)
    if (files.isEmpty) {
      tombCache.keys.filter(_._1 == tp).foreach { k =>
        tombCache.remove(k).foreach(_.foreach(_.unpersist(false)))
      }
      return None
    }
    tombCache.getOrElseUpdate((tp, stamp), {
      tombCache.keys.filter(k => k._1 == tp && k._2 != stamp).foreach { k =>
        tombCache.remove(k).foreach(_.foreach(_.unpersist(false)))
      }
      val df = spark.read.parquet(files: _*)
        .groupBy(col("id")).agg(max(col("ver")).as("__tomb_ver"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once, off the per-request path
      Some(df)
    })
  }

  /** Drop tombstone-shadowed rows from a layout frame. The tombstone set is
    * mutation-batch-sized (folded at buildIndex/compactLayout), so the
    * exclusion is a broadcast left-join — no corpus shuffle, and it runs
    * BEFORE scoring, so top-k depth needs no widening on these tiers.
    */
  private def applyTombstones(layoutPath: String, stamp: Long)(layout: DataFrame): DataFrame =
    cachedTombstones(layoutPath, stamp) match {
      case None => layout
      case Some(t) =>
        layout.join(broadcast(t), Seq("id"), "left_outer")
          .filter(col("__tomb_ver").isNull || col("version") >= col("__tomb_ver"))
          .drop("__tomb_ver")
    }

  /** Driver-resident eligible-id sets for the zero-job FILTERED point serve,
    * cached per (collection, layout stamp, canonical predicate text). The
    * set is the predicate's survivors over the live LWW corpus — computed by
    * ONE bounded Spark job on first use, then every repeated filter at the
    * same stamp serves without a job (the cell-cache economics applied to
    * predicates). Correct by the same currency argument as the layouts: any
    * write advances the stamp, so a stale set can never serve. `None` is
    * memoized for sets above the budget — those requests take the batch
    * layout path (in-beam filtered, job-priced) instead of ever truncating.
    */
  private val eligSetCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), Option[Set[Any]]]

  // knobs read per search with a default: an unset key read through
  // getOption builds and catches a config-not-found error on every call
  private def maxLocalEligibleIds: Int =
    spark.conf.get("spark.graft.maxLocalEligibleIds", "100000").toInt

  private def localEligibleSet(coll: String, stamp: Long, pred: Column,
      corpus: => DataFrame): Option[Set[Any]] = {
    // Column.toString renders the expression tree — a stable cache key for
    // structurally identical predicates (distinct-but-equivalent predicates
    // merely cache twice, never serve wrong)
    val predKey = pred.toString
    eligSetCache.keys.filter(k => k._1 == coll && k._2 != stamp)
      .foreach(eligSetCache.remove)
    eligSetCache.getOrElseUpdate((coll, stamp, predKey), {
      val bound = maxLocalEligibleIds
      val rows = corpus.filter(pred).select(col("id"))
        .limit(bound + 1).collect()
      if (rows.length > bound) None
      else Some(rows.iterator.map(r => r.get(0): Any).toSet)
    })
  }

  /** The serving bound for graph-tier tombstones: hit filtering widens the
    * per-cell top-k by the tombstone count, so an unfolded sidecar must not
    * grow the beams without limit — past the bound, searches fall back to
    * the live corpus (correct, unpruned) until the next buildIndex folds.
    */
  private def maxServedTombstones: Int =
    spark.conf.get("spark.graft.maxServedTombstones", "1024").toInt

  /** Crash-tolerant marker-file IO (ControlFs-routed): writes go through
    * tmp + atomic rename (a reader never observes a half-written file),
    * reads tolerate corrupt content (a crash mid-write of a RECOVERY file
    * must degrade to "marker absent" — fall back / rebuild — never wedge
    * the path that exists to survive crashes).
    */
  private def atomicWrite(p: String, content: String): Unit =
    cfs.atomicWrite(p, content)

  private def readLongSafe(p: String): Option[Long] =
    cfs.readLongSafe(p)

  /** The materialized index layout at `path`, if present AND current (no
    * writes since buildIndex) — otherwise None and the caller recomputes
    * over the live corpus (index staleness never causes wrong results).
    */
  /** Plan-handle cache for layout frames, keyed by (path, stamp): the
    * `spark.read.parquet` listing + footer-read (~100+ ms) was re-paid per
    * REQUEST on every layout-served search — with the DocStore twin, the
    * dominant fixed cost in the MaxSim wire p50. Handle only (no persist,
    * zero executor memory); maintained appends advance the stamp and
    * rebuilds change the generation path, so the key rotates and older
    * handles for the path evict exactly like the delta/tombstone caches.
    */
  private val layoutFrameCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), DataFrame]

  private def currentLayout(coll: String, path: String): Option[(DataFrame, Long)] =
    currentLayoutStamp(coll, path).map(stamp => (layoutFrame(path, stamp), stamp))

  /** The tombstone-applied frame of the layout at `path` as of `stamp`:
    * the stamp identifies the LAYOUT BUILD the frame reads — cache keys
    * derive from it, never from a re-read of the live store version (a
    * write racing the search must not poison the cache under a new key).
    * Tombstone exclusion applies here, centrally: every quantized tier's
    * layout-served search sees only live rows. Built only when a request
    * runs a Spark plan over the layout — the zero-job local serves need
    * the stamp alone.
    */
  private def layoutFrame(path: String, stamp: Long): DataFrame = {
    val frame = layoutFrameCache.getOrElseUpdate((path, stamp), {
      // evict by generation STEM, not exact path: a rebuild flips to a
      // `_g<n+1>` dir, so same-path eviction alone would strand one
      // handle (with its full file listing) per rebuild per tier
      val stem = graft.operators.LocalCellCache.genStem(path)
      layoutFrameCache.keys.filter(k =>
          graft.operators.LocalCellCache.genStem(k._1) == stem && k != ((path, stamp)))
        .foreach(layoutFrameCache.remove)
      spark.read.parquet(path)
    })
    applyTombstones(path, stamp)(frame)
  }

  /** Currency check WITHOUT constructing the layout DataFrame:
    * `spark.read.parquet` eagerly lists files and reads footers for schema
    * inference — ~100+ ms on a dir-partitioned layout — which the serving
    * paths that only need the stamp (the graph tier passes a PATH to its
    * search functions) must not pay per request.
    */
  private def currentLayoutStamp(coll: String, path: String): Option[Long] =
    readLongSafe(s"$root/$coll/index/layout_version")
      .filter(stamp => stamp == store.currentVersion(coll) && cfs.exists(path))

  // ---- collection DDL (POST/GET/DELETE /v1/collections) ----

  /** Returns false (with no error) when the collection already exists. */
  def createCollection(config: CollectionConfig): Boolean = {
    val created = catalog.create(config)
    if (created) store.init(config.name)
    created
  }

  def getCollection(name: String): Option[CollectionConfig] = catalog.get(name)

  def listCollections(): Seq[String] = catalog.list()

  def dropCollection(name: String): Boolean = {
    runtime.remove(name); indexes.remove(name)
    // the version counter resets if the collection is recreated, so caches
    // keyed on the old incarnation must not survive the drop
    cache.clear()
    GraphAnn.GraphCache.invalidate(s"$root/$name/")
    graft.operators.LocalIvfServe.dropCells(s"$root/$name/")
    graft.operators.LocalPqServe.dropCells(s"$root/$name/")
    graft.core.LocalPointReader.invalidateUnder(s"$root/$name/")
    layoutFrameCache.keys.filter(_._1.startsWith(s"$root/$name/"))
      .foreach(layoutFrameCache.remove)
    store.invalidateFrames(name)
    deltaCache.keys.filter(_._1.startsWith(s"$root/$name/")).foreach { k =>
      deltaCache.remove(k).foreach(_.unpersist(false))
    }
    tombCache.keys.filter(_._1.startsWith(s"$root/$name/")).foreach { k =>
      tombCache.remove(k).foreach(_.foreach(_.unpersist(false)))
    }
    versionedDeltaMemo.keys.filter(_.startsWith(s"$root/$name/"))
      .foreach(versionedDeltaMemo.remove)
    eligSetCache.keys.filter(_._1 == name).foreach(eligSetCache.remove)
    // (coll, version, doc)-keyed token vectors: a recreated collection's
    // counter resets, so a reused id could hit the dead incarnation's
    // vectors at a matching stamp
    maxSimDocCache.synchronized {
      val it = maxSimDocCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == name) {
          maxSimDocCacheBytes -= docBytes(e.getValue); it.remove()
        }
      }
    }
    catalog.drop(name)
  }

  private def configOf(name: String): CollectionConfig =
    catalog.get(name).getOrElse(
      throw new NoSuchElementException(s"collection '$name' not found"))

  // ---- document CRUD (POST/GET/DELETE .../documents) ----

  def upsertDocument(coll: String, doc: Document): Unit =
    batchUpsertDocuments(coll, Seq(doc))

  /** All-or-nothing batch upsert with dimension and finiteness validation
    * (`document.go:280-285`); docs with `embedText` resolved through the
    * embedding provider (`document.go:54-68`).
    *
    * When the collection has a CURRENT index layout, the write routes
    * through the same append+tombstone+stamp maintenance the streaming
    * ingest uses, so REST point writes keep every tier serving (the
    * reference's always-online index, `hnsw.go:59-82` Add/AddBatch go
    * straight into live hnswlib) instead of staling
    * the layout until the next buildIndex. In-batch duplicate ids collapse
    * driver-side to the LAST occurrence first — the store's own
    * sequential-put winner (`document.go:294-303`) — so the maintained
    * path's version-equal layout rows can never tie. The existing-id probe
    * is a zero-job driver-local point read: a LIVE id needs a tombstone to
    * shadow its older layout row, while an absent-or-deleted id is already
    * covered (a delete while the layout was current wrote its own sidecar
    * entry; a staling delete would have left the layout stale and this
    * path untaken). The probe is version-fenced inside `ingestBatchIndexed`
    * against writers racing between probe and commit.
    */
  def batchUpsertDocuments(coll: String, docs: Seq[Document]): Unit = {
    val cfg = configOf(coll)
    require(docs.nonEmpty, "empty batch")
    // all-or-nothing validation (document.go:280-285), before either write
    // path: the collection's dimension, and finite components — a NaN or
    // ±Inf row would poison every distance it takes part in
    docs.foreach { d =>
      if (d.vector == null || d.vector.length != cfg.dimension)
        throw new IllegalArgumentException(s"document '${d.id}': vector dimension " +
          s"${Option(d.vector).map(_.length).getOrElse(0)} != collection dimension ${cfg.dimension}")
      require(d.vector.forall(f => !f.isNaN && !f.isInfinite),
        s"document '${d.id}' has a non-finite vector component")
    }
    // a multivector collection's rows MUST carry the doc-key param — a plain
    // single-vector upsert would plant rows MaxSim search can't attribute to
    // any document (hard error, the no-silent-fallback rule)
    require(!isMultiVector(cfg) || docs.forall(_.params.contains(MultiVectorDocKey)),
      s"'$coll' is a multivector collection — write through " +
        "upsertMultiVector/batchUpsertMultiVector")
    val maintained = tierLayout(coll, Tier(cfg.indexType))
      .exists(p => currentLayoutStamp(coll, p).isDefined)
    if (!maintained) { store.upsert(coll, docs, cfg.dimension); return }
    val collapsed =
      if (docs.map(_.id).distinct.size == docs.size) docs
      else docs.zipWithIndex.groupBy(_._1.id).valuesIterator
        .map(_.maxBy(_._2)._1).toSeq
    // probe-version read FIRST: the fence must catch a writer landing
    // between this read and the point reads below. Projected existence
    // probe — no vector/params decode, ~10× cheaper than getMany.
    val v0 = store.currentVersion(coll)
    val overlap = store.liveIds(coll, collapsed.map(_.id)).nonEmpty
    import spark.implicits._
    // by-name: the driver-sized path never materializes this plan
    ingestBatchIndexed(coll, spark.createDataset(collapsed).toDF(),
      uniqueIdsKnown = true, overlapProbe = Some((v0, overlap)),
      driverRows = Some(collapsed))
  }

  /** Upsert with server-side embedding (params embedding=true path). */
  def upsertWithEmbedding(coll: String, id: String, text: String,
      params: Map[String, String] = Map.empty): Unit = {
    val cfg = configOf(coll)
    val provider = embedder.getOrElse(
      throw new IllegalStateException("no embedding provider configured"))
    require(text != null && text.nonEmpty, "missing text for embedding") // document.go:58-61
    val v = provider.embed(text)
    require(v.length == cfg.dimension,
      s"provider dimension ${v.length} != collection dimension ${cfg.dimension}")
    // through the batch path so an indexed collection stays maintained
    batchUpsertDocuments(coll, Seq(Document(id, v, params)))
  }

  /** Deleted/tombstoned ids read as absent (divergence fix, SURVEY §7.4).
    * Serves from driver-local footer-pruned parquet reads (zero Spark
    * jobs); any IO race falls back to the Spark plan inside `getFast`.
    */
  def getDocument(coll: String, id: String): Option[Document] = {
    configOf(coll)
    store.getFast(coll, id)
  }

  /** Batch point fetch for the serving path (documents/search metadata
    * join): LWW winners for `ids`, absent/tombstoned omitted. Zero Spark
    * jobs on the happy path (`DocStore.getMany`).
    */
  def fetchDocuments(coll: String, ids: Seq[String]): Map[String, Document] = {
    configOf(coll)
    store.getMany(coll, ids)
  }

  def deleteDocument(coll: String, id: String): Unit =
    deleteDocuments(coll, Seq(id))

  /** Batch delete that keeps the index layouts SERVING: the store append is
    * the same LWW tombstone as before, and — when the layout is current — a
    * `(id, v)` row lands in the layout's `_tombstones` sidecar and the
    * stamp advances, so searches keep their pruned/indexed plans and merely
    * exclude the shadowed rows at read time (the reference serves HNSW
    * through deletes the same way: `hnsw.go:84-90`,
    * `hnswalg.h:925-943` markDeleted). Without a current layout this
    * degrades to the plain staling delete. Duplicate ids in one batch are
    * fine (max-per-id tombstone aggregation); deleting absent ids appends
    * tombstones with nothing to shadow — harmless, same as the store.
    */
  def deleteDocuments(coll: String, ids: Seq[String]): Unit = {
    val cfg = configOf(coll)
    val genAtStart = layoutGen(coll) // fence: see the stamp condition below
    val layoutOpt = tierLayout(coll, Tier(cfg.indexType))
    val wasCurrent = layoutOpt.exists(p => currentLayoutStamp(coll, p).isDefined)
    // delete-through-delta needs versioned delta rows (see ingest's guard)
    val versionedDelta = cfg.indexType != IndexType.Hnsw || hasVersionedDelta(coll)
    val v = store.deleteVersioned(coll, ids, cfg.dimension)
    if (wasCurrent && versionedDelta) {
      // driver-sized deletes write their sidecar run locally (zero jobs)
      if (ids.size <= LocalRunWriter.MaxLocalRows) {
        val distinct = ids.distinct
        registerTombstoneRun(coll, cfg, LocalRunWriter.writeTombstoneRun(
          tombstonesPath(layoutOpt.get), distinct, v), distinct, v)
      } else {
        import spark.implicits._
        ids.distinct.toDF("id").withColumn("ver", lit(v))
          .write.mode("append").parquet(tombstonesPath(layoutOpt.get))
      }
      // advance the stamps only while ours is still the newest write, no
      // compaction is in flight, AND the generation we wrote the sidecar
      // into is still current (a flip mid-delete folded the layout WITHOUT
      // our shadows — stamping would serve superseded incarnations) — the
      // same never-lie guards as ingest
      if (store.currentVersion(coll) == v &&
          !cfs.exists(compactIntentPath(coll)) &&
          layoutGen(coll) == genAtStart)
        atomicWrite(s"$root/$coll/index/layout_version", v.toString)
      maybeFoldTombstones(coll, cfg, layoutOpt.get)
    }
  }

  /** Current collection contents as a DataFrame (LWW-resolved). */
  def documents(coll: String): DataFrame = {
    configOf(coll)
    store.read(coll)
  }

  def compact(coll: String): Unit = { configOf(coll); store.compact(coll) }

  /** Micro-batch upsert that MAINTAINS the partitioned index layout
    * incrementally — the streaming-index path for ivf_flat, ivfpq, and opq
    * collections: instead of every write staling the layout (full
    * re-assign/re-encode on the next search), an INSERT-ONLY batch is
    * assigned/encoded with the EXISTING model (codegen kernels, batch-sized
    * work) and appended to the partitioned layout, then the layout stamp
    * advances to the new write version — searches stay physically
    * partition-pruned with no full re-assignment per batch. (Quantized
    * tiers keep their trained codebooks: standard practice — codebook
    * drift is a periodic buildIndex, not a per-batch retrain.)
    *
    * Falls back to a plain (layout-staling, always-correct) upsert when the
    * index type has no partitioned layout, the index isn't built/current,
    * or the batch touches existing ids (an update's OLD layout row would
    * ghost — re-resolution would cost the partition pruning this path
    * exists for).
    * `assumeNewIds = true` skips the existence anti-join AND the in-batch
    * duplicate check for pure-insert pipelines (event streams with fresh,
    * unique ids) — the streaming caller's contract. Otherwise a batch with
    * duplicate ids falls back too (the store resolves in-batch duplicates by
    * arrival order, which a second evaluation of a nondeterministic source
    * cannot reproduce). Single streaming writer per collection assumed (the
    * foreachBatch contract); a racing writer merely stales the layout — the
    * stamp only ever advances to THIS batch's own committed version, and
    * only while it is still the newest, so staleness checks make every
    * interleaving fall back, never lie.
    *
    * `batchId` makes replays idempotent (foreachBatch is at-least-once; the
    * store upsert is LWW-idempotent but a parquet layout append is NOT):
    * a ledger file records the last FULLY-applied (streamId, batchId) —
    * replays at or below it are skipped outright — and an intent marker
    * brackets the layout append, so a replay of a crash-interrupted batch
    * (which may have committed layout rows without reaching the ledger)
    * re-upserts the store but leaves the layout stamp behind: the layout
    * reads as stale and searches fall back to the live corpus (correct,
    * unpruned) instead of ever serving duplicate layout rows.
    *
    * Batch ids increase monotonically only WITHIN one checkpoint (Structured
    * Streaming's contract), so the ledger also records `streamId` (the
    * checkpoint identity): a new stream restarting at batch 0 must never
    * read as "already applied". Ledger/intent writes go through tmp+atomic
    * rename and tolerate corrupt content (a crash mid-write of the recovery
    * files themselves must not wedge recovery: corrupt ledger reads as
    * absent, a present-but-unreadable intent still forces the conservative
    * staling path).
    *
    * `uniqueIdsKnown = true` skips the in-batch duplicate check ONLY (the
    * overlap probe and tombstone sidecar still run) — for driver-built
    * batches already collapsed to one row per id. `overlapProbe` replaces
    * the existing-id log join with a caller-side answer `(versionAtProbe,
    * sawOverlap)` (the REST point-write path probes via zero-job
    * driver-local reads): the answer is trusted only when this batch
    * commits at `versionAtProbe + 1` — an interleaved writer could have
    * inserted a probed id after the probe looked, so any version gap
    * over-tombstones the whole batch instead (tombstones with nothing to
    * shadow are harmless; a missed shadow would serve two incarnations).
    * `driverRows` passes the batch ALSO as a driver Seq (must be the same
    * rows as `batch`): the store commit takes the Seq path (local run
    * writer for small batches — no Spark job), and on the hnsw tier the
    * delta append and tombstones write locally too, making the whole
    * maintained point write job-free.
    */
  def ingestBatchIndexed(coll: String, batchThunk: => DataFrame,
      assumeNewIds: Boolean = false, batchId: Option[Long] = None,
      streamId: String = "default",
      uniqueIdsKnown: Boolean = false,
      overlapProbe: Option[(Long, Boolean)] = None,
      driverRows: Option[Seq[Document]] = None): Unit = {
    val cfg = configOf(coll)
    val indexDir = s"$root/$coll/index"
    if (batchId.isDefined) cfs.mkdirs(indexDir)
    val ledgerPath = s"$indexDir/layout_last_batch"
    val intentPath = s"$indexDir/layout_batch_intent"
    // (streamId, batchId), or None when absent/corrupt
    def readLedger(p: String): Option[(String, Long)] =
      cfs.readLinesSafe(p).flatMap(lines =>
        scala.util.Try((lines(0), lines(1).trim.toLong)).toOption)
    // ledger is written LAST, so ledger >= batchId FOR THIS STREAM ⇒ the
    // whole batch (store commit included) already landed — replay is a no-op
    if (batchId.exists(bid => readLedger(ledgerPath)
        .exists { case (sid, last) => sid == streamId && last >= bid })) return
    // Every tier with a layout maintains it through its built index's
    // encoder (`Tier`). The quantized flat tiers (sq/bq) maintain too:
    // their models are FIXED at buildIndex, so encoding the batch with the
    // loaded model appends exactly the rows a full re-encode would produce — searches keep scanning codes instead
    // of falling back to re-encoding the whole live corpus after every
    // ingest batch. The GRAPH tier maintains via a DELTA SIDECAR: new rows
    // can't be appended into persisted adjacency, so they land as plain
    // (id, vector) rows under `_delta` (hidden from the graph reader like
    // `_route`); searches beam the graph AND exact-scan the small delta,
    // merging top-k — the LSM shape (graph = sorted runs, delta =
    // memtable), folded back in at the next buildIndex. A 100 TB graph
    // layout thus absorbs streaming inserts without a rebuild per batch.
    // ONE evaluation of the caller's plan feeds everything below — the
    // store commit, the duplicate check, the overlap probe, the layout
    // encode, and the tombstone ids. Without the cache, a
    // nondeterministically re-evaluated source could commit one id set to
    // the store and append/shadow a DIFFERENT one: an id committed but
    // never appended (or appended but never shadowed) would be served
    // stale from the layout while the store holds its newer incarnation.
    // LAZY: the driver-sized point-write path (driverRows + uniqueIdsKnown
    // + overlapProbe) never touches the plan at all — materializing and
    // registering a 1-row DataFrame with the cache manager cost ~20 ms per
    // REST write for nothing (measured, WriteProfile)
    var batchCached: DataFrame = null
    def batch: DataFrame = {
      if (batchCached == null) batchCached = { val b = batchThunk; b.cache(); b }
      batchCached
    }
    try {
      // generation fence: the layout paths below resolve the CURRENT
      // generation; a compaction/build flipping generations mid-batch folds
      // the layout WITHOUT this batch's appended rows/shadows, so every
      // stamp advance below also requires the generation to be unchanged —
      // an append that raced into a superseded generation stales (fallback)
      // instead of certifying a row-missing layout
      val genAtStart = layoutGen(coll)
      val tier = Tier(cfg.indexType)
      val layoutOpt = tierLayout(coll, tier)
      // stamp check only — no schema inference. mrl and hnsw have no model
      // to load, so their layouts are maintainable from the first
      // buildIndex on
      val index = layoutOpt.filter(p => currentLayoutStamp(coll, p).isDefined)
        .flatMap(_ => builtIndex(coll, cfg, tier))
      val maintainable = index.isDefined
      // in-batch duplicate ids → stale path: the store resolves them by
      // arrival order, which a second evaluation of a nondeterministic
      // source cannot reproduce, and same-version layout rows cannot be
      // disambiguated by the tombstone rule either
      val uniqueInBatch = maintainable && (assumeNewIds || uniqueIdsKnown ||
        batch.select(col("id")).groupBy(col("id")).count()
          .filter(col("count") > 1).isEmpty)
      // a batch touching EXISTING ids is maintained too — via the tombstone
      // sidecar: the batch's rows append exactly like inserts, and a
      // tombstone (id, v) shadows every OLDER incarnation of each touched id
      // (an id new to the store gets a tombstone with nothing to shadow —
      // harmless, and cheaper than computing the precise overlap set).
      // assumeNewIds pipelines skip both the join and the sidecar entirely.
      // The overlap probe joins the raw LOG, not the LWW view: "ever seen"
      // is a superset of "live" (extra tombstones for deleted-then-reborn
      // ids are harmless) and it skips the per-batch window shuffle the LWW
      // resolution costs over the whole corpus.
      // (must run BEFORE the store commit below — afterwards every batch id
      // is in the log and the join is vacuously non-empty)
      val overlapViaLog = overlapProbe.isEmpty && uniqueInBatch && !assumeNewIds &&
        !batch.select(col("id")).join(store.log(coll).select(col("id")), "id").isEmpty
      // ANY lingering intent marker means some previous attempt (this stream,
      // a replaced checkpoint's stream, or an unreadable one) crashed inside
      // the append window and may have committed layout rows — appending would
      // risk duplicate ids in the layout, so take the staling path instead
      // (the re-upsert below bumps the store version past any stamp the
      // crashed attempt could have written)
      val replayAfterPartialAppend = batchId.isDefined && cfs.exists(intentPath)
      // v is OUR batch's committed version — stamping any later version would
      // mark the layout current while missing an interleaved writer's rows.
      // With driverRows the commit goes through the Seq path (the local run
      // writer for small batches): same rows, same version protocol.
      val v = driverRows match {
        case Some(docs) => store.upsert(coll, docs, cfg.dimension)
        case None => store.upsertDfVersioned(coll, batch)
      }
      // resolve the overlap answer now that our commit version is known: a
      // caller-side probe is authoritative only when nothing interleaved
      // between the probe and this commit (versions are +1-per-write, so
      // v == versionAtProbe + 1 ⇔ no interleaved writer)
      val needTombstones = uniqueInBatch && !assumeNewIds && (overlapProbe match {
        case Some((v0, saw)) => saw || v != v0 + 1
        case None => overlapViaLog
      })
      // a legacy versionless (or unreadable) delta blocks the ENTIRE hnsw
      // maintained path, not just update batches: an insert append would mix
      // versioned rows into the versionless dir — the single-footer schema
      // probes could then misclassify the dir and legacy rows would read
      // null versions (unshadowable, and an NPE for the delta readers) —
      // and an update could not shadow the legacy rows at all. The batch
      // still lands via the staling path, never an ingest failure. Blocking
      // the append here is also what keeps every delta dir
      // schema-homogeneous, which is what makes the footer probe sound.
      val legacyDeltaBlocks = uniqueInBatch &&
        tier == Tier.Hnsw && !hasVersionedDelta(coll)
      def settleLedger(): Unit = batchId.foreach { bid =>
        atomicWrite(ledgerPath, s"$streamId\n$bid")
        cfs.deleteIfExists(intentPath)
      }
      if (!uniqueInBatch || legacyDeltaBlocks || replayAfterPartialAppend) {
        // layout stale; searches fall back (correct, slower)
        settleLedger()
        return
      }
      batchId.foreach(bid => atomicWrite(intentPath, s"$streamId\n$bid"))
      val layoutPath = layoutOpt.get
      // the graph tier appends to its `_delta` sidecar, not the adjacency
      val appendPath = if (tier == Tier.Hnsw) s"$layoutPath/_delta" else layoutPath
      val localDocs = driverRows.filter(_.size <= LocalRunWriter.MaxLocalRows)
      // quantized/clustered tiers: a driver-sized batch encodes ON THE
      // DRIVER (LocalEncode — bit-identical twins of the codegen kernels;
      // the models are tiny and already loaded) and appends via the local
      // run writer — the same zero-job path the hnsw branch below takes.
      val localCode = index.collect { case c: CodeIndex if localDocs.isDefined => c }
      if (localDocs.isDefined && tier == Tier.Hnsw) {
        // ZERO-JOB append for driver-sized hnsw batches (the REST point
        // write): the graph tier's "encode" is a plain (id, vector,
        // version) projection, so the delta rows and tombstones land via
        // the local run writer — store commit, delta append, and shadows
        // all come from the SAME driver Seq (no plan evaluation at all,
        // the strongest form of the single-evaluation rule above). Write
        // ordering and stamp guards are identical to the Spark branch.
        val docs = driverRows.get
        val delta = docs.map(d => (d.id, d.vector.toSeq))
        GraphAnn.registerDeltaRun(LocalRunWriter.writeDeltaRun(appendPath, delta, v), delta, v)
        if (needTombstones) {
          val ids = docs.map(_.id)
          registerTombstoneRun(coll, cfg,
            LocalRunWriter.writeTombstoneRun(tombstonesPath(layoutPath), ids, v), ids, v)
        }
      } else if (localCode.isDefined) {
        // same write ordering as the Spark branch: layout rows first, then
        // the shadows, both before any stamp advance (a crash between them
        // leaves the stamps behind → stale → fallback, never a lie). The
        // rows are exactly what the Spark branch's encode would append
        // (same columns, same order; `LocalEncodeSpec` pins bit identity,
        // the TombstoneSpec REST cases pin results ≡ rebuild end-to-end)
        val rows = localDocs.get.zipWithIndex.map { case (d, i) =>
          val (cid, extra) = localCode.get.localRow(d.vector)
          LocalRunWriter.LayoutRow(d.id, d.vector.toSeq, d.params, i.toLong, cid, extra)
        }
        // the written runs are held decoded by the driver serve that reads
        // them, so the next search decodes none of them
        LocalRunWriter.writeLayoutRuns(layoutPath, rows, v).foreach { case (f, rs) =>
          cellServe(localCode.get).foreach(_.registerLayoutRun(f, rs, v))
        }
        if (needTombstones) {
          val ids = localDocs.get.map(_.id)
          registerTombstoneRun(coll, cfg,
            LocalRunWriter.writeTombstoneRun(tombstonesPath(layoutPath), ids, v), ids, v)
        }
      } else {
      // mirror upsertDf's stamping so layout rows carry the store schema
      // (insert-only + unique ids ⇒ seq never decides a winner)
      val stamped = batch.select(col("id"), col("vector"), col("params"))
        .withColumn("version", lit(v))
        .withColumn("seq", monotonically_increasing_id())
        .withColumn("is_deleted", lit(false))
      val encoded = index.get.encode(stamped).cache()
      try {
        if (tier.clustered)
          encoded.write.mode("append").partitionBy("cluster_id").parquet(appendPath)
        else
          encoded.write.mode("append").parquet(appendPath)
        // update batches: tombstone every touched id at THIS batch's version —
        // the appended rows (version == v) survive the shadow rule, every
        // older incarnation of the ids dies at read time. Written before the
        // stamp advance: a stamp written first would open a window where a
        // concurrent search reads the layout as CURRENT without the shadows
        // and serves superseded incarnations beside the new ones. Crash
        // after this write is harmless (stamps still old → stale →
        // fallback); duplicate tombstone rows from a replay are harmless
        // too (max-per-id aggregation).
        // ids come from the CACHED encoded frame, not a re-evaluation of the
        // caller's plan: a nondeterministically re-evaluated source could
        // otherwise tombstone a different id set than was committed and
        // appended — an id in the appended rows but not in the re-evaluation
        // would get no shadow and serve two incarnations
        if (needTombstones)
          encoded.select(col("id")).withColumn("ver", lit(v))
            .write.mode("append").parquet(tombstonesPath(layoutPath))
      } finally encoded.unpersist(blocking = false)
      }
      // advance the stamp only if our write is still the newest (a racer
      // leaves the stamp behind → stale → fallback; the appended rows are
      // still consistent), no compaction is in flight, AND the generation
      // we appended into is still current. The intent marker catches an
      // append racing into a LIVE fold's read→flip window; the generation
      // fence catches the residual interleaving the marker alone cannot —
      // a fold that completed (marker already cleared) between our path
      // capture and this stamp: our rows live only in the generation it
      // retired, so certifying the folded generation would serve a layout
      // missing this batch. Gen unchanged ⇒ no flip since our capture ⇒
      // our appended files are in the CURRENT dir.
      if (store.currentVersion(coll) == v &&
          !cfs.exists(compactIntentPath(coll)) &&
          layoutGen(coll) == genAtStart)
        atomicWrite(s"$root/$coll/index/layout_version", v.toString)
      // size-triggered delta compaction (the LSM fold policy): once the hnsw
      // delta sidecar holds >= `deltaCompactRows` rows, fold it into fresh
      // adjacency RIGHT HERE — a stream that never sees a manual buildIndex
      // still bounds its exact-scan share. Cost is amortized: one rebuild per
      // `deltaCompactRows` streamed rows. Crash-safety is the existing
      // protocol's: a crash mid-rebuild leaves the intent marker, the replay
      // stales the layout, and searches fall back until the next successful
      // build. (The count job runs only when the knob is configured.)
      if (tier == Tier.Hnsw)
        cfg.params.get("deltaCompactRows").map(_.toLong).foreach { limit =>
          require(limit > 0, s"deltaCompactRows must be positive, got $limit")
          val deltaFiles = sidecarDataFiles(hnswDeltaPath(coll))
          if (deltaFiles.nonEmpty &&
              spark.read.parquet(deltaFiles: _*).count() >= limit)
            buildIndex(coll)
        }
      settleLedger()
      // small-files compaction for the APPENDED tiers (ivf/pq/opq/sq/bq): each
      // streamed batch adds ~one file per write task, so a long stream turns
      // the layout into thousands of tiny parquet files (listing + footer
      // overhead per search). Once the layout holds >= `layoutCompactFiles`
      // data files, rewrite it coalesced — a pure byte rewrite keyed off the
      // file listing, no re-encode, no retrain. Runs AFTER the ledger settles:
      // a crash mid-compaction leaves the batch fully applied and the layout
      // merely stale (searches fall back to the live corpus until the next
      // buildIndex), never partially served.
      if (tier != Tier.Hnsw)
        cfg.params.get("layoutCompactFiles").map(_.toInt).foreach { limit =>
          require(limit > 0, s"layoutCompactFiles must be positive, got $limit")
          if (countLayoutDataFiles(layoutPath) >= limit) compactLayout(coll)
        }
      maybeFoldTombstones(coll, cfg, layoutPath)
    } finally {
      if (batchCached != null) batchCached.unpersist(blocking = false)
    }
  }

  /** Size-triggered tombstone fold (the `tombstoneCompactRows` knob): once
    * a layout's tombstone sidecar accumulates `limit` rows, fold the
    * shadowed rows away — compactLayout's exclusion-then-rewrite for the
    * appended code tiers, a full buildIndex for the graph tier (its
    * adjacency cannot be row-filtered in place). Bounds both the per-search
    * exclusion join and the graph tier's tombstone-widened beams; a stream
    * of updates/deletes that never sees a manual buildIndex stays bounded.
    */
  private def maybeFoldTombstones(coll: String, cfg: CollectionConfig,
      layoutPath: String): Unit =
    cfg.params.get("tombstoneCompactRows").map(_.toLong).foreach { limit =>
      require(limit > 0, s"tombstoneCompactRows must be positive, got $limit")
      val tombFiles = sidecarDataFiles(tombstonesPath(layoutPath))
      if (tombFiles.nonEmpty &&
          spark.read.parquet(tombFiles: _*).count() >= limit) {
        if (cfg.indexType == IndexType.Hnsw) buildIndex(coll)
        else compactLayout(coll)
      }
    }

  /** Whether the hnsw `_delta` sidecar carries write versions in EVERY
    * data file. Absent = true (the first maintained append creates a
    * versioned dir); any versionless footer (a pre-versions legacy dir,
    * or one MIXED by appends that predate this guard) or an unreadable
    * one (crash-torn) = false, which blocks ALL hnsw layout maintenance —
    * the update/delete shadow paths (legacy rows could not be shadowed)
    * and insert appends (mixing schemas would let null versions NPE the
    * delta readers). The per-file driver-side footer reads (not one
    * sampled footer, which misclassifies a mixed dir) are memoized
    * positively: a fully-versioned dir can never regress because every
    * append is guarded by this very probe, while a negative stays live so
    * a buildIndex fold (which deletes the dir) flips it back through the
    * absent case. A negative is remediated by buildIndex: the rebuild
    * reads the store's LWW view (never the delta — its rows were
    * store-committed first) and overwrites the layout dir, deleting the
    * delta with it.
    */
  private def hasVersionedDelta(coll: String): Boolean = {
    val dirStr = hnswDeltaPath(coll)
    if (!cfs.exists(dirStr)) return true
    versionedDeltaMemo.get(dirStr).getOrElse {
      val ok = scala.util.Try {
        // the shared run-listing convention — drifting from the point
        // reader's definition of "data file" would make this probe and the
        // serving reads disagree about what a run is
        graft.core.LocalPointReader.listRuns(dirStr).forall { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f),
            spark.sessionState.newHadoopConf())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFileMetaData.getSchema.containsField("version")
          finally r.close()
        }
      }.getOrElse(false)
      if (ok) versionedDeltaMemo.put(dirStr, true)
      ok
    }
  }
  private val versionedDeltaMemo =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Number of part files under a layout dir (recursive; `_`-prefixed
    * sidecars and markers excluded — the same set Spark's reader lists).
    */
  private def countLayoutDataFiles(layoutPath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(layoutPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return 0
    val base = fs.makeQualified(p).toUri.getPath
    var n = 0
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      // segments BELOW the layout dir only — a `_` elsewhere in the root
      // path must not hide real data files
      val rel = f.getPath.toUri.getPath.stripPrefix(base).split('/')
      if (f.getPath.getName.startsWith("part-") &&
          !rel.dropRight(1).exists(_.startsWith("_"))) n += 1
    }
    n
  }

  /** Rewrite an appended index layout (ivf_flat / ivfpq / opq / sq / bq)
    * coalesced — the LSM "fold the small runs" pass for the streamed code
    * layouts. Reads the layout's OWN rows (a current layout's rows are
    * exactly what re-encoding the corpus with the frozen model would
    * produce, so this is a byte rewrite: cheaper, and bit-identical by
    * construction), writes them to a sibling tmp dir with one file per
    * cluster (clustered tiers) or a size-derived file count (flat code
    * tiers), then swaps dirs.
    *
    * Crash protocol: the layout stamp is INVALIDATED first, so every crash
    * window — mid-write, between delete and rename, before re-stamp — reads
    * as "layout stale" and searches fall back to the live corpus. Only
    * after the swap completes, and only if no writer interleaved, is the
    * stamp restored. (buildIndex doesn't need this because it normally runs
    * when the stamp is already stale; compaction runs precisely when the
    * layout is CURRENT.) The dir swap itself is rename-based — atomic on
    * HDFS/POSIX; on object stores the same stale-until-restamped protocol
    * makes a torn swap read as stale, never as current-but-partial (see
    * AtomicFiles' contract).
    *
    * Returns false (no-op) when the collection has no appended layout, the
    * index isn't built, or the layout is already stale (the next buildIndex
    * rewrites it anyway).
    */
  def compactLayout(coll: String): Boolean = {
    val cfg = configOf(coll)
    val t = Tier(cfg.indexType)
    // flat has no layout; hnsw folds via deltaCompactRows
    if (t == Tier.Hnsw) return false
    val layoutPath = tierLayout(coll, t).getOrElse(return false)
    val (clustered, tier) = (t.clustered, t.key.get)
    val stamp = store.currentVersion(coll)
    if (currentLayoutStamp(coll, layoutPath).isEmpty) return false
    val gen = layoutGen(coll)
    val stampPath = s"$root/$coll/index/layout_version"
    val hp = new org.apache.hadoop.fs.Path(layoutPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    // intent marker FIRST (before the layout read): a maintained append
    // racing into our read→flip window must decline to stamp — its rows
    // land only in the generation being folded away (the generation
    // fence in the append paths catches the same race from the other
    // side). Cleared in the finally; a crash leaves it behind, which
    // merely stales subsequent maintained writes until the next
    // buildIndex clears it.
    atomicWrite(compactIntentPath(coll), stamp.toString)
    try {
      // NO stale window: the current generation keeps serving every
      // in-flight and newly-planned scan while the fold writes the NEXT
      // generation (the old delete+rename-in-place swap destroyed files
      // under running scans — the concurrency soak caught it)
      val next = tierGenPath(coll, tier, gen + 1)
      // fold the tombstone sidecar: rewrite only unshadowed rows — the
      // compacted generation is then exactly what re-encoding the live
      // corpus with the frozen model would produce; the sidecar retires
      // with its generation at the flip
      val rows = applyTombstones(layoutPath, stamp)(
        spark.read.parquet(layoutPath))
      if (clustered)
        // hash-repartition on cluster_id: each cluster lands wholly in one
        // task ⇒ exactly one file per cluster directory
        rows.repartition(col("cluster_id"))
          .write.mode("overwrite").partitionBy("cluster_id").parquet(next)
      else {
        // flat code layouts: file count from resident bytes, one file per
        // target-sized chunk (same sizing rule as the scan side's
        // maxPartitionBytes)
        val bytes = fs.getContentSummary(hp).getLength
        val targetBytes = spark.sessionState.conf.filesMaxPartitionBytes
        val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        rows.repartition(nFiles).write.mode("overwrite").parquet(next)
      }
      // THE flip: readers resolve the folded generation from here on;
      // the superseded one is GC'd a cycle later (flipLayoutGen)
      flipLayoutGen(coll, tier, gen)
      // a writer interleaved with the fold? its rows live only in the
      // retired generation — the folded one must not serve as current
      // (stale the stamp; searches fall back until the next buildIndex)
      if (store.currentVersion(coll) != stamp)
        cfs.deleteIfExists(stampPath)
      else builtIndex(coll, cfg, t).foreach(preloadCells(coll, _, next, stamp))
      true
    } finally cfs.deleteIfExists(compactIntentPath(coll))
  }

  // ---- runtime search params (POST .../documents/setparams) ----

  def setParams(coll: String, params: Map[String, Int]): Unit = {
    val cfg = configOf(coll)
    require(params.nonEmpty, "empty params") // handlers_test.go:604
    val t = Tier(cfg.indexType)
    params.foreach { case (k, v) =>
      if (k == "maxsimCandM")
        require(isMultiVector(cfg), "maxsimCandM is only valid for multivector collections")
      else if (Tier.runtimeKeys(k))
        require(t.params(k), s"$k not valid for ${cfg.indexType.name}")
      else throw new IllegalArgumentException(s"unknown search param '$k'") // ivf.go:399-401
      k match {
        case "nprobe" =>
          // bounded by the REAL nlist: a fresh engine loads the model from
          // its snapshot instead of accepting anything until the first search
          val nlist = builtIndex(coll, cfg, t)
            .collect { case c: CellIndex => c.coarse.nlist }.getOrElse(Int.MaxValue)
          require(v > 0 && v <= nlist, s"nprobe must be in [1, $nlist], got $v") // ivf.go:407-413
        case "routeNprobe" =>
          val nl = cfg.params.get("routeNlist").map(_.toInt).getOrElse(
            throw new IllegalArgumentException(
              "routeNprobe requires a collection created with routeNlist (routed graph layout)"))
          require(v > 0 && v <= nl, s"routeNprobe must be in [1, $nl], got $v")
        case _ => require(v > 0, s"$k must be positive, got $v")
      }
    }
    val merged = runtime.updateWith(coll)(old =>
      Some(old.getOrElse(storedParams(coll)) ++ params)).get
    cfs.mkdirs(s"$root/$coll/index")
    atomicWrite(paramsPath(coll), merged.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    paramsEpoch.incrementAndGet()
  }

  /** The collection's runtime params: set through `setParams` by this
    * engine or, after a reopen, read back from the collection's control
    * file.
    */
  def getParams(coll: String): Map[String, Int] =
    runtime.getOrElseUpdate(coll, storedParams(coll))

  private def paramsPath(coll: String) = s"$root/$coll/index/runtime_params"

  // a corrupt line reads as absent: the key falls back to its default
  private def storedParams(coll: String): Map[String, Int] =
    cfs.readLinesSafe(paramsPath(coll)).getOrElse(Vector.empty).flatMap { line =>
      line.split('=') match {
        case Array(k, v) => v.trim.toIntOption.map(k.trim -> _)
        case _ => None
      }
    }.toMap

  // ---- index build (POST .../buildindex) ----

  /** Actually trains (IVF coarse quantizer via distributed KMeans, PQ/OPQ
    * codebooks, SQ/BQ ranges; flat, the hnsw graph and the mrl prefix need
    * no training) — fixing the reference's buildindex-batch-upserts
    * quirk (`handlers.go:176`).
    */
  def buildIndex(coll: String, nlist: Int = 100): Unit = {
    val cfg = configOf(coll)
    // multivector serving contract: MaxSim point serves fetch candidate
    // docs' token rows via driver-local prefix-range reads; compacting the
    // store to key-sorted runs with DISJOINT id ranges at build time (the
    // sorted-SSTable shape) puts each doc's token rows contiguous in one
    // file, so the fetch costs 1-2 footer-pruned opens instead of one per
    // ingest run — build time is when the serving layout gets optimized,
    // same as the layout rewrite below
    if (cfg.params.get("multivector").exists(_.toBoolean)) {
      // file count ∝ corpus bytes (~0.5 GB each): MaxSim candidates are
      // RANDOM docs, so every compacted file gets probed — the per-open
      // reader-setup cost (~10 ms) times the file count is the serve
      // floor, and a fixed count of small files just multiplies opens
      val files = math.max(1L,
        (store.dataDirBytes(coll) + (1L << 29) - 1) >> 29).toInt
      store.compact(coll, clusterById = true, files = files)
    }
    // capture the stamp BEFORE reading the corpus: a write interleaving with
    // the long train/materialize below bumps the counter past this stamp, so
    // currentLayout sees the layout as stale and falls back to the live
    // corpus — the layout can never be marked current while missing a write
    val stamp = store.currentVersion(coll)
    // full rewrite ⇒ the NEXT layout generation: the current generation
    // keeps serving in-flight scans through the whole build and is GC'd a
    // cycle after the flip (see layoutGenFile's contract)
    val gen = layoutGen(coll)
    def nextPath(tier: String): String = tierGenPath(coll, tier, gen + 1)
    def flip(tier: String): Unit = {
      flipLayoutGen(coll, tier, gen)
      // a rebuild changes answers without a store write: results cached
      // against the superseded index must miss
      paramsEpoch.incrementAndGet()
    }
    def stampLayout(): Unit = {
      // a crashed compaction leaves its intent marker behind (harmless —
      // the un-flipped generation it was writing is simply orphaned); a
      // full rebuild supersedes whatever that compaction was doing
      cfs.deleteIfExists(compactIntentPath(coll))
      atomicWrite(s"$root/$coll/index/layout_version", stamp.toString)
    }
    Tier(cfg.indexType) match {
      case t: CodeTier[_] =>
        val corpus = store.read(coll)
        val index = t.train(corpus, nlist, cfg)
        indexes(coll) = index
        val tier = t.key.get
        index.save(snapshotPath(coll, tier)) // S8 snapshot
        // materialize the encoded layout: clustered tiers' searches become
        // physically partition-pruned scans of only the probed cluster
        // directories; code tiers scan codes, not vectors. Written uncached:
        // the plan keeps AQE's partition coalescing, so the layout holds
        // about one file per cell, not one per (task, cell)
        val w = index.encode(corpus).write.mode("overwrite")
        (if (t.clustered) w.partitionBy("cluster_id") else w).parquet(nextPath(tier))
        flip(tier)
        stampLayout()
        preloadCells(coll, index, nextPath(tier), stamp)
      case Tier.Hnsw =>
        // materialize the per-partition HNSW graphs THEMSELVES (adjacency
        // export — the reference persists its hnswlib index the same way):
        // searches reconstruct from stored links instead of re-running beam
        // insertion, and the executor GraphCache makes even reconstruction a
        // once-per-layout cost. A `routeNlist` collection param builds the
        // ROUTED layout instead: k-means cells + centroid sidecar, so
        // searches with the `routeNprobe` runtime param beam through only
        // the nearest cells (the coarse routing a 10⁴-partition corpus
        // needs).
        val hm = cfg.params.get("M").map(_.toInt).getOrElse(16)
        val hefc = cfg.params.get("efConstruction").map(_.toInt).getOrElse(200)
        // levelMult: HNSW level multiplier (default 1/ln M; 0 = flat NSW).
        // A BUILD-time knob — it shapes the persisted adjacency, so it lives
        // on the collection, not in setparams.
        val hlm = cfg.params.get("levelMult").map(_.toDouble).getOrElse(Double.NaN)
        require(hlm.isNaN || hlm >= 0.0, s"levelMult must be >= 0, got $hlm")
        cfg.params.get("routeNlist").map(_.toInt) match {
          case Some(nl) =>
            // routeMaxCellRows: skew guard — oversized router cells split
            // into sub-centroids so one dense region cannot serialize the
            // whole build into a single giant NSW-insertion task
            val cellCap = cfg.params.get("routeMaxCellRows").map(_.toLong).getOrElse(0L)
            GraphAnn.buildRoutedLayout(store.read(coll), nextPath("hnsw"),
              cfg.spaceType, nlist = nl, m = hm, efConstruction = hefc,
              levelMult = hlm, maxCellRows = cellCap)
          case None =>
            GraphAnn.buildLayout(store.read(coll), nextPath("hnsw"),
              cfg.spaceType, m = hm, efConstruction = hefc, levelMult = hlm)
        }
        // fresh adjacency in a fresh generation (the superseded generation
        // retires its `_delta`/`_tombstones` sidecars with it — their rows
        // are in the corpus the build just read): flip, then advance the
        // graph epoch so executor caches of the OLD adjacency are superseded
        flip("hnsw")
        atomicWrite(hnswEpochPath(coll), stamp.toString)
        stampLayout()
        // the routed layout's cells serve on the driver: load them now
        if (cfg.params.contains("routeNlist") &&
            currentLayoutStamp(coll, nextPath("hnsw")).contains(stamp))
          GraphAnn.preloadLocal(nextPath("hnsw"), stamp, cfg.spaceType)
      case Tier.Flat => () // flat: nothing to train
    }
  }

  /** The zero-job cell serve that reads `index`'s layout, if any. */
  private def cellServe(index: LayoutEncoder): Option[graft.operators.LocalCellServe] =
    index match {
      case c: CellIndex => Some(if (c.pq.isDefined) graft.operators.LocalPqServe
        else graft.operators.LocalIvfServe)
      case _ => None
    }

  /** Hold a `_tombstones` run just written for `coll` decoded, in the
    * driver serve that reads its layout.
    */
  private def registerTombstoneRun(coll: String, cfg: CollectionConfig, f: String,
      ids: Seq[String], ver: Long): Unit = {
    val t = Tier(cfg.indexType)
    if (t == Tier.Hnsw) GraphAnn.registerTombstoneRun(f, ids, ver)
    else builtIndex(coll, cfg, t).flatMap(cellServe).foreach(_.registerTombstoneRun(f, ids, ver))
  }

  /** Load the driver serve's cells of the layout generation at `path`,
    * just stamped current at `stamp`, so the first searches decode nothing.
    * A write since the stamp leaves the layout stale, and nothing is loaded.
    */
  private def preloadCells(coll: String, index: LayoutEncoder, path: String,
      stamp: Long): Unit =
    index match {
      case c: CellIndex if currentLayoutStamp(coll, path).contains(stamp) =>
        cellServe(c).foreach(_.preload(path, stamp, c.coarse.nlist))
      case _ => ()
    }

  // ---- search (POST .../vectors/search, .../documents/search) ----

  /** Batch vector search: top-k ids+distances per query (SURVEY §3.1).
    * Dispatches on the collection's tier: flat → exact; ivf_flat/ivfpq/opq
    * → nprobe-pruned cells; sq/bq/mrl → code scan + exact re-rank; hnsw →
    * the persisted NSW/HNSW graph (`GraphAnn`, recall knob efsearch). A
    * request the driver serves (`searchHits`) is one local frame over its
    * rows; only a declined request plans the tier's Spark search.
    */
  def searchVectors(coll: String, queries: Seq[(String, Array[Float])], k: Int): DataFrame =
    vectorsFrame(configOf(coll), coll, queries, k)

  /** DataFrame-in/DataFrame-out batch KNN — the KNN-JOIN surface: queries
    * stay distributed end to end, so a 10⁸-row query set never touches the
    * driver. `queries` needs (query_id, query_vec ARRAY<FLOAT>). Dispatch:
    * ivf_flat → `IvfIndex.searchDistributed` (codegen probe lists, equi-join
    * on cluster_id); ivfpq → `IvfPq.searchDistributed` (codegen probe lists
    * AND executor-side ADC tables, exact re-rank — no driver table loop);
    * flat/hnsw → their batch paths, which collect the query set, guarded by
    * `spark.graft.maxCollectQueries` (default 100k) — route bigger joins to
    * an ivf_flat/ivfpq collection.
    */
  def searchVectorsDf(coll: String, queries: DataFrame, k: Int): DataFrame = {
    val cfg = configOf(coll)
    Tier(cfg.indexType) match {
      case t: CodeTier[_] =>
        // the flat-scan code tiers (sq/bq/mrl) ride queries as a broadcast
        // frame — not a driver collect, but a broadcast is still
        // driver-materialized and capped by Spark, so the same row bound
        // applies
        if (!t.clustered) guardQuerySetSize(queries, cfg)
        val index = builtIndex(coll, cfg, t).getOrElse(notBuilt(coll))
        // the current layout, else a live re-encode — both produce
        // identical results; they differ only in how much work the plan
        // skips. Lazy corpus: the layout-served branch must not pay the
        // store's parquet listing + schema inference
        val encoded = currentLayout(coll, tierLayout(coll, t).get).map(_._1)
          .getOrElse(index.encode(store.read(coll)))
        index.search(encoded, queries, k, getParams(coll), distributed = true)
      case _ =>
        // flat/hnsw query paths collect the query set; fail fast with a
        // routing hint instead of letting a 10⁸-row frame OOM the driver
        guardQuerySetSize(queries, cfg)
        val collected = queries
          .select(col("query_id").cast("string"), col("query_vec").cast("array<float>"))
          .collect()
          .map(r => (r.getString(0), r.getAs[scala.collection.Seq[Float]](1).toArray))
        // cast query_id back to the caller's type: the result schema of one
        // API must not depend on the collection's index type
        vectorsFrame(cfg, coll, collected.toSeq, k)
          .withColumn("query_id",
            col("query_id").cast(queries.schema("query_id").dataType))
    }
  }

  /** `searchVectors` on a resolved config: the driver rows wrapped in one
    * local frame, or the tier's Spark plan when the row search declines.
    */
  private def vectorsFrame(cfg: CollectionConfig, coll: String,
      queries: Seq[(String, Array[Float])], k: Int): DataFrame =
    hitsOn(cfg, coll, queries, k, None) match {
      case Right(hits) => spark.createDataFrame(java.util.Arrays.asList(
        hits.map(h => Row(h.queryId, h.id, h.distance, h.rank)): _*), Engine.HitSchema)
      case Left(_) => searchOn(cfg, coll, queries, k)
    }

  /** The engine's point search as DRIVER ROWS — the reference's in-process
    * `SearchResult` (PAPER.md §1.1): the tier's local serve answers from
    * driver-held cells and no Catalyst plan sits between the index and the
    * caller, or the search names why it declined (`Decline`) and the caller
    * takes the distributed plan. Rows come k per query in (distance, id)
    * order, queries in input order, exactly the rows the distributed plan
    * returns. Every search surface validates here, once: the collection's
    * dimension, k ≥ 1, and finite query components.
    */
  private[graft] def searchHits(coll: String, queries: Seq[(String, Array[Float])],
      k: Int, eligible: Option[Column] = None): Either[Decline, Seq[SearchHit]] =
    hitsOn(configOf(coll), coll, queries, k, eligible)

  private def hitsOn(cfg: CollectionConfig, coll: String,
      queries: Seq[(String, Array[Float])], k: Int,
      eligible: Option[Column]): Either[Decline, Seq[SearchHit]] = {
    require(k >= 1, s"k must be >= 1, got $k")
    queries.foreach { case (qid, v) =>
      require(v.length == cfg.dimension,
        s"query '$qid' dimension ${v.length} != collection dimension ${cfg.dimension}")
      require(v.forall(f => !f.isNaN && !f.isInfinite),
        s"query '$qid' has a non-finite component")
    }
    val res = Tier(cfg.indexType) match {
      case t: CodeTier[_] =>
        builtIndex(coll, cfg, t).getOrElse(notBuilt(coll)) match {
          // TRUE point requests over a current layout serve from
          // driver-cached cells — ZERO Spark jobs, warm or cold. Results ≡
          // the distributed search by construction: same probe, same
          // kernels, same (distance, id) order, cells holding the rows of
          // the SAME tombstone-applied frame, decoded on the driver at the
          // stamp. ivf_flat cells hold vectors; ivfpq/opq cells hold codes
          // (LocalPqServe ADC shortlist — opq's in rotated space — then the
          // exact re-rank through the local point reads).
          case c: CellIndex =>
            val path = tierLayout(coll, t).get
            val nprobe = c.nprobe(getParams(coll))
            localRoute(currentLayoutStamp(coll, path), coll, queries, eligible) {
              (stamp, elig) => chunk => c.pq match {
                case Some(pq) => localPqSearch(coll, path, stamp, pq, chunk, k, nprobe,
                  elig, chunk.map { case (qid, v) => (qid, c.rotate(v)) })
                case None => graft.operators.LocalIvfServe.searchPointLocalRows(path,
                  stamp, c.coarse, chunk.map { case (qid, v) => (qid: Any, v) },
                  k, nprobe, elig).flatMap(stringHits)
              }
            }
          case _ => Left(Decline.NoLocalServe)
        }
      case Tier.Hnsw => graphHits(cfg, coll, queries, k, eligible)
      case Tier.Flat => Left(Decline.NoLocalServe)
    }
    res match {
      case Right(_) => localServed.incrementAndGet()
      case Left(d) => localDeclined(d).incrementAndGet()
    }
    res
  }

  /** Routed-graph point requests beam on driver-cached cell graphs — a warm
    * query launches ZERO Spark jobs. Results ≡ `GraphAnn.searchFromLayout`
    * at equal knobs: same reconstruction, same beams, same (distance, id)
    * merge; delta rows exact-scanned with the kernels' arithmetic and
    * merged the same way. Filtered requests beam in-beam-filtered with full
    * fan-out (`searchPointLocal` mirrors `searchFromLayout`'s eligibleIds
    * semantics bit for bit). Unrouted layouts have no driver serve.
    */
  private def graphHits(cfg: CollectionConfig, coll: String,
      queries: Seq[(String, Array[Float])], k: Int,
      eligible: Option[Column]): Either[Decline, Seq[SearchHit]] = {
    val routeP = getParams(coll).get("routeNprobe")
      .getOrElse(return Left(Decline.NoLocalServe))
    val lp = tierLayout(coll, Tier.Hnsw).get
    val stamp = currentLayoutStamp(coll, lp).getOrElse(return Left(Decline.StaleLayout))
    // tombstoned nodes stay in the adjacency but never surface: the depth
    // widens by the tombstone count, then trims back to k — past
    // `maxServedTombstones` the widening would bloat every beam
    val tombMap = GraphAnn.localTombstones(lp, stamp)
    if (tombMap.size > maxServedTombstones) return Left(Decline.TombstonesOverBudget)
    // cache under the GRAPH EPOCH, not the store version: streaming delta
    // appends re-stamp the layout without touching the adjacency
    val epoch = readLongSafe(hnswEpochPath(coll)).getOrElse(stamp)
    val kEff = math.min(k.toLong + tombMap.size, Int.MaxValue.toLong).toInt
    val efEff = math.max(getParams(coll).getOrElse("efsearch", 40), kEff)
    localRoute(Some(stamp), coll, queries, eligible) { (stamp, elig) =>
      val delta = GraphAnn.localDeltaRows(s"$lp/_delta", stamp)
        .filter { case (id, _, ver) => tombMap.get(id).forall(_ <= ver) }
        .filter { case (id, _, _) => elig.forall(_.contains(id)) }
        .map { case (id, vec, _) => (id, vec) }
      chunk => stringHits(GraphAnn.searchPointLocalRows(spark, lp,
        chunk.map { case (qid, v) => (qid: Any, v) }, kEff, cfg.spaceType,
        ef = efEff, routeNprobe = routeP, cacheKey = Some((lp, epoch)),
        deltaRows = delta, excludeIds = tombMap.keySet, eligible = elig)
        // exclusion ran BEFORE ranking, so ranks are contiguous over valid
        // hits — the widened depth just trims back
        .filter(_._4 <= k))
    }
  }

  /** Driver (qid, id, distance, rnk) rows as hits. Engine collections key
    * documents by string id, so any other decoded id type declines.
    */
  private def stringHits(rows: Seq[(Any, Any, Double, Long)]): Either[Decline, Seq[SearchHit]] =
    if (rows.exists(r => !r._2.isInstanceOf[String])) Left(Decline.UnsupportedIdType)
    else Right(rows.map(r =>
      SearchHit(r._1.asInstanceOf[String], r._2.asInstanceOf[String], r._3, r._4)))

  // local-serve outcomes and result-cache lookups, reported by `/v1/metrics`
  private val localServed = new java.util.concurrent.atomic.AtomicLong(0)
  private val localDeclined =
    Decline.all.map(_ -> new java.util.concurrent.atomic.AtomicLong(0)).toMap
  private val cacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  private val cacheMisses = new java.util.concurrent.atomic.AtomicLong(0)

  private[graft] def searchMetrics: Map[String, Long] = Map(
    "search_local_served" -> localServed.get(),
    "result_cache_hits" -> cacheHits.get(),
    "result_cache_misses" -> cacheMisses.get()) ++
    localDeclined.map { case (d, n) => s"search_local_declined_${d.key}" -> n.get() }

  /** Point-serve chunk size: the per-call bound of the zero-job serves.
    * Batches above it AUTO-SPLIT into cap-sized chunks over the same held
    * cells (chunk 2+ is cache-warm — the split costs driver loops, not
    * jobs) up to `maxLocalServeBatch`, past which the distributed plan is
    * the right tool anyway. Pre-r11, a 17-query point batch silently fell
    * off the fast path (VERDICT-r10 watch item 2).
    */
  private val LocalServeChunk = 16
  private def maxLocalServeBatch: Int =
    spark.conf.get("spark.graft.maxLocalServeBatch", "1024").toInt

  /** Serve every chunk and concatenate the rows, SHORT-CIRCUITING on the
    * first decline: once any chunk declines the whole request re-runs
    * distributed, so serving the remaining chunks only to discard them is
    * pure waste. Per-query results are independent, so the concatenation
    * is row-identical to one oversized call (and to the distributed plan).
    */
  private def serveChunked[T, D, R](queries: Seq[T])(
      serve: Seq[T] => Either[D, Seq[R]]): Either[D, Seq[R]] = {
    val acc = Seq.newBuilder[R]
    val it = queries.grouped(LocalServeChunk)
    while (it.hasNext) serve(it.next()) match {
      case Right(rows) => acc ++= rows
      case Left(d) => return Left(d)
    }
    Right(acc.result())
  }

  /** Shared local-route guard of the driver-served tiers: current layout
    * (its stamp), point-request size (chunk-split up to
    * `maxLocalServeBatch`), unique qids (the window plans merge a
    * duplicated id's rows into ONE k-row group; a per-query local loop
    * would emit k rows per entry — the knnAggFused rule), and a filter's
    * survivor set within the driver budget (cached per (coll, stamp,
    * predicate); an over-budget set declines, never truncates). `serve`
    * gets the stamp and the survivor set once and returns the per-chunk
    * serve; the first decline anywhere declines the WHOLE request.
    */
  private def localRoute(stamp: Option[Long], coll: String,
      queries: Seq[(String, Array[Float])], eligible: Option[Column])(
      serve: (Long, Option[Set[Any]]) => Seq[(String, Array[Float])] => Either[Decline, Seq[SearchHit]])
      : Either[Decline, Seq[SearchHit]] = {
    val s = stamp.getOrElse(return Left(Decline.StaleLayout))
    if (queries.size > maxLocalServeBatch) return Left(Decline.OverBatch)
    if (queries.map(_._1).distinct.size != queries.size) return Left(Decline.DuplicateQids)
    val elig = eligible match {
      case None => None
      case Some(p) => Some(localEligibleSet(coll, s, p, store.read(coll))
        .getOrElse(return Left(Decline.EligibleOverBudget)))
    }
    serveChunked(queries)(serve(s, elig))
  }

  /** Zero-job IVFPQ point search: `LocalPqServe` ADC shortlist over
    * driver-cached code cells, then the exact re-rank the distributed
    * `IvfPq.search(rerankVecCol = vector)` runs — true vectors fetched
    * through the zero-job `getMany` point reads, exact distance via the
    * same `VecKernels` arithmetic, (exact asc, id asc UTF-8) rank, top-k.
    * The re-rank result depends only on the shortlist SET, so equality with
    * the distributed plan needs only shortlist-set + scoring parity
    * (`LocalPqParitySpec`). Declines on an oversized cell or a shortlisted
    * id the point reads cannot resolve (a concurrent delete racing the
    * request; the distributed plan re-plans instead).
    */
  private def localPqSearch(coll: String, path: String,
      stamp: Long, pq: graft.operators.IvfPq.Model, queries: Seq[(String, Array[Float])],
      k: Int, nprobe: Int, eligible: Option[Set[Any]],
      shortQueries: Seq[(String, Array[Float])]): Either[Decline, Seq[SearchHit]] = {
    // `shortQueries` = queries in INDEX space (OPQ shortlists in rotated
    // space, re-ranks original)
    val short = graft.operators.LocalPqServe.adcShortlistLocalRows(path,
      stamp, pq, shortQueries.map { case (q, v) => (q: Any, v) },
      graft.operators.IvfPq.shortlistDepth(k, graft.operators.IvfPq.DefaultRerankFactor),
      nprobe, eligible) match {
      case Right(rows) => rows
      case Left(d) => return Left(d)
    }
    val ids = short.map(r => String.valueOf(r._2)).distinct
    // AT the layout stamp: skips the second counter read (one LIST per
    // request on a remote root) and reads a snapshot consistent with the
    // shortlist even against a racing writer
    val docs = store.getManyAt(coll, ids, stamp)
    if (!ids.forall(docs.contains)) return Left(Decline.UnresolvedShortlist)
    val byQid = short.groupBy(_._1.toString)
    val out = Seq.newBuilder[SearchHit]
    for ((qid, qv) <- queries) {
      val ranked = byQid.getOrElse(qid, Seq.empty)
        .map { case (_, id, _, _) =>
          val sid = String.valueOf(id)
          (sid, graft.kernels.VecKernels.dist(qv, docs(sid).vector, pq.space))
        }
        .sortWith((a, b) => a._2 < b._2 ||
          (a._2 == b._2 && graft.operators.GraphAnn.idLt(a._1, b._1)))
        .take(k)
      ranked.zipWithIndex.foreach { case ((id, d), r) =>
        out += SearchHit(qid, id, d, (r + 1).toLong)
      }
    }
    Right(out.result())
  }

  /** The collection's CURRENT index-layout directory (generation-resolved),
    * if its tier materializes one — the path tests/tools must use instead
    * of assuming the generation-0 name (every full rewrite flips to a new
    * generation dir).
    */
  def layoutDir(coll: String): Option[String] =
    tierLayout(coll, Tier(configOf(coll).indexType))

  /** The built index of `coll`'s tier: the cached one, else recovered from
    * its snapshot (SURVEY S7/S8) — or, on the model-free tiers, from the
    * config once a layout dir exists (probed through `cfs`, so a non-local
    * root answers too). None = never built: the code tiers' searches raise
    * notBuilt instead of silently serving re-encodes of the live corpus.
    */
  private def builtIndex[I <: LayoutEncoder](coll: String, cfg: CollectionConfig,
      t: Tier[I]): Option[I] =
    indexes.get(coll).map(_.asInstanceOf[I]).orElse {
      val loaded = t.key.flatMap(key => t.load(snapshotPath(coll, key), cfg).orElse(
        if (cfs.exists(tierGenPath(coll, key, layoutGen(coll)))) t.modelFree(cfg) else None))
      loaded.foreach(indexes(coll) = _)
      loaded
    }

  private def snapshotPath(coll: String, key: String) = s"$root/$coll/index/$key.snapshot"

  private def notBuilt(coll: String): Nothing = throw new Engine.NotBuilt(coll)

  /** Fail fast above the configurable query-row bound for paths that must
    * materialize the query set driver-side (collect or broadcast).
    */
  private def guardQuerySetSize(queries: DataFrame, cfg: CollectionConfig): Unit = {
    val maxCollect = spark.conf.get("spark.graft.maxCollectQueries", "100000").toLong
    // a bound at or above Int.MaxValue-1 can't overflow limit(): collect
    // returns a JVM array, so counts beyond Int.MaxValue are moot anyway
    val probe =
      if (maxCollect >= Int.MaxValue - 1L) Int.MaxValue else (maxCollect + 1).toInt
    if (queries.limit(probe).count() > maxCollect)
      throw new IllegalArgumentException(
        s"query set exceeds $maxCollect rows — too large for the " +
          s"${cfg.indexType.name} batch path (it materializes queries on the " +
          "driver); route the join to an ivf_flat, ivfpq, or opq collection, " +
          "or raise spark.graft.maxCollectQueries")
  }

  // The DECLINED path: the tier's Spark search over the current layout (or
  // the live corpus when the layout is stale). The store frame is read at
  // most once and only by the branches that touch it — constructing it
  // costs a parquet listing + schema inference.
  //
  // `eligible`: a metadata predicate composed into EVERY tier without
  // giving up its layout — quantized/ivf tiers semi-join their code tables
  // against the predicate-filtered ids (the sq_knn_filtered composition),
  // the graph tier runs the in-beam filter over the persisted adjacency
  // (NswIndex.searchFiltered), flat filters the scan. Pre-eligibility, a
  // filtered request re-encoded/re-assigned/rebuilt over the filtered
  // corpus every time — correct, but a full fallback per request.
  private def searchOn(cfg: CollectionConfig, coll: String,
      queries: Seq[(String, Array[Float])], k: Int,
      eligible: Option[Column] = None): DataFrame = {
    import spark.implicits._
    lazy val corpus = store.read(coll)
    // eligible ids off the live store (LWW-folded): when the layout is
    // CURRENT its id set equals the store's, so a semi-join restricts the
    // layout to exactly the predicate's survivors
    // NOTE: the eligible-id subtree is re-evaluated by every job that uses
    // it (e.g. the hnsw graph job AND its delta job) — a conscious trade:
    // caching a per-request frame inside a method that RETURNS a lazy
    // DataFrame has no safe unpersist point. A broadcast-threshold
    // collect-once variant is the optimization if profiles show the store
    // scan dominating filtered serving.
    lazy val eligIds = eligible.map(p => corpus.filter(p).select(col("id")))
    def restrict(df: DataFrame): DataFrame =
      eligIds.map(e => df.join(e, Seq("id"), "left_semi")).getOrElse(df)
    // fallback corpus for stale layouts: the old pre-filtered behavior
    def corpusEff: DataFrame = eligible.map(p => corpus.filter(p)).getOrElse(corpus)
    val qDf = queries.toDF("query_id", "query_vec")
      .withColumn("query_vec", col("query_vec").cast("array<float>"))
    Tier(cfg.indexType) match {
      case t: CodeTier[_] =>
        val index = builtIndex(coll, cfg, t).getOrElse(notBuilt(coll))
        val path = tierLayout(coll, t).get
        // prefer the layout materialized at buildIndex (partition-pruned or
        // codes-only, no per-search re-encoding); re-encode the live corpus
        // only when it changed since
        val encoded = currentLayoutStamp(coll, path)
          .map(s => restrict(layoutFrame(path, s)))
          .getOrElse(index.encode(corpusEff))
        index.search(encoded, qDf, k, getParams(coll), distributed = false)
      case Tier.Hnsw =>
        // graph-ANN tier: per-partition NSW/HNSW beam search over the
        // persisted adjacency (`GraphAnn`); efsearch IS the beam width,
        // exactly the reference's knob (hnsw.go:171-204). Graphs stay
        // pinned per layout: executors cache reconstructed cells
        // (`GraphAnn.GraphCache`, keyed by layout path and graph epoch);
        // only the live-corpus fallback builds graphs per batch of queries.
        val ef = getParams(coll).getOrElse("efsearch", 40)
        // one generation for the whole request
        val lp = tierLayout(coll, Tier.Hnsw).get
        // prefer the PERSISTED graph layout (adjacency reload + executor
        // cache — no beam re-insertion); fall back to building over the
        // live corpus when stale. User M/efConstruction are honored at
        // build (the reference accepts then silently drops them,
        // collection.go:64-67 + hnsw.go:25-39 — §7.4).
        val layout = currentLayoutStamp(coll, lp)
        // live-corpus fallback (stale layout, or a tombstone sidecar too
        // large to serve through — see below)
        def liveGraphSearch(): DataFrame =
          GraphAnn.search(corpusEff, qDf, k, cfg.spaceType, ef = ef,
            m = cfg.params.get("M").map(_.toInt).getOrElse(16),
            efConstruction = cfg.params.get("efConstruction").map(_.toInt).getOrElse(200),
            levelMult = cfg.params.get("levelMult").map(_.toDouble).getOrElse(Double.NaN))
        // update/delete tombstones: adjacency nodes ALWAYS predate the
        // sidecar (buildIndex folds it away), so graph hits are excluded by
        // id alone; delta rows carry versions, so only shadowed incarnations
        // die. The requested depth widens by the tombstone count (≤
        // |tombstones| shadowed nodes can displace a valid one per cell),
        // then trims back to k — past `maxServedTombstones` the widening
        // would bloat every beam, so searches take the live fallback until
        // the next fold instead (correct, unpruned — the pre-change
        // behavior for ALL mutations).
        val tombMap = layout.map(stamp =>
          GraphAnn.localTombstones(lp, stamp)).getOrElse(Map.empty)
        layout match {
          case Some(_) if tombMap.size > maxServedTombstones =>
            liveGraphSearch()
          case Some(stamp) =>
            // routeNprobe (setparams; only settable on routeNlist-built
            // collections) narrows the beam to the query's nearest cells;
            // the stale-layout fallback above ignores it — full fan-out is
            // a recall superset, never a correctness change. A routed
            // unfiltered request reaches this plan only when the driver
            // serve declined it (a batch over `maxLocalServeBatch`, or
            // duplicate qids).
            val routeP = getParams(coll).get("routeNprobe")
            // cache under the GRAPH EPOCH, not the store version: streaming
            // delta appends advance layout_version (the layout IS current)
            // without touching the adjacency, so per-batch re-stamps must
            // not evict executor graph caches or re-shuffle the layout RDD
            val epoch = readLongSafe(
              hnswEpochPath(coll)).getOrElse(stamp)
            val exIds: Set[Any] = tombMap.keySet
            val kEff = math.min(k.toLong + tombMap.size, Int.MaxValue.toLong).toInt
            val efEff = math.max(ef, kEff)
            // filtered requests run FULL fan-out (routeNprobe dropped):
            // routing prunes cells by vector geometry, but eligibility can
            // be uncorrelated with geometry — a selective predicate whose
            // survivors live outside the probed cells would return
            // under-k/zero hits the pre-eligibility fallback (full live
            // rebuild) never missed. Full fan-out over the persisted layout
            // is a recall superset at in-beam cost.
            val graphHits = GraphAnn.searchFromLayout(spark, lp, qDf, kEff,
              cfg.spaceType, ef = efEff,
              cacheKey = Some((lp, epoch)),
              routeNprobe = if (eligible.isDefined) None else routeP,
              excludeIds = exIds, eligibleIds = eligIds)
            // streaming-insert delta: rows ingested since buildIndex live
            // as (id, vector, version) under `_delta` — exact-scan them
            // (exact ≥ graph recall for those rows), tombstone-filtered,
            // and merge top-k. The delta is micro-batch-sized by
            // construction and cached per (path, stamp) so steady serving
            // never re-reads it; buildIndex folds it back into the
            // adjacency.
            cachedDeltaVectors(s"$lp/_delta", stamp, lp) match {
              case Some(delta) =>
                // delta rows are filtered by eligibility BEFORE the exact
                // scan — post-rank filtering could drop eligible rows that
                // ranked below ineligible ones inside the delta's own top-k
                val deltaHits = ExactKnn.knn(restrict(delta), qDf, k, cfg.spaceType)
                graft.functions.vfn.topKHits(
                  graphHits.select(col("query_id"), col("id"), col("distance"))
                    .union(deltaHits.select(col("query_id"), col("id"), col("distance"))),
                  col("distance"), "query_id", "id", k)
              case None =>
                if (kEff == k) graphHits else graft.functions.vfn.topKHits(
                  graphHits.select(col("query_id"), col("id"), col("distance")),
                  col("distance"), "query_id", "id", k)
            }
          case _ => liveGraphSearch()
        }
      case Tier.Flat =>
        ExactKnn.knn(corpusEff, qDf, k, cfg.spaceType)
    }
  }

  /** One query's hits: the driver rows, or — declined — the collected
    * distributed plan, in rank order.
    */
  private def pointHits(cfg: CollectionConfig, coll: String, query: Array[Float],
      k: Int, eligible: Option[Column]): Seq[SearchHit] = {
    val queries = Seq(("q", query))
    hitsOn(cfg, coll, queries, k, eligible) match {
      case Right(hits) => hits
      case Left(_) => collectHits(searchOn(cfg, coll, queries, k, eligible))
    }
  }

  private def collectHits(df: DataFrame): Seq[SearchHit] =
    df.select(col("query_id"), col("id"), col("distance"), col("rnk"))
      .collect()
      .map(r => SearchHit(r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_.rank).toSeq

  /** One unfiltered query through the result cache — what the REST
    * `vectors/search` and `documents/search` routes answer (the reference
    * LRU-caches both, `handlers.go:36-74`). Keyed on (collection, store
    * version, params epoch, query bits, k): any write, setParams or index
    * build misses. The DataFrame `searchVectors` stays uncached.
    */
  private[graft] def searchCached(coll: String, query: Array[Float], k: Int): Seq[SearchHit] = {
    val cfg = configOf(coll)
    val key = cache.key(coll, store.currentVersion(coll), paramsEpoch.get(), query, k)
    cache.get(key) match {
      case Some(hits) =>
        cacheHits.incrementAndGet()
        hits
      case None =>
        cacheMisses.incrementAndGet()
        val hits = pointHits(cfg, coll, query, k, None)
        cache.put(key, hits)
        hits
    }
  }

  /** Search + metadata fetch + metadata filter. `filter` is a real predicate
    * over the params map (e.g. `col("params")("tag") === "x"`). Pre-filter
    * shrinks the corpus before KNN; post-filter searches 2×k then filters
    * (`docs/design.md:58` heuristic). Zero hits → error (`document.go:222-225`).
    */
  def searchDocuments(coll: String, query: Array[Float], k: Int,
      filter: Option[Column] = None, preFilter: Boolean = true): Seq[SearchHit] = {
    val out = filter match {
      case None => searchCached(coll, query, k)
      case Some(pred) if preFilter =>
        // the predicate travels SEPARATELY from the corpus so every tier
        // keeps its layout serving (semi-join / in-beam eligibility);
        // pre-eligibility this passed corpus.filter(pred) and every tier
        // re-encoded or rebuilt over the filtered corpus per request
        pointHits(configOf(coll), coll, query, k, Some(pred))
      case Some(pred) =>
        // re-rank after the filter join so ranks are contiguous 1..k (the
        // pre-filter path and the reference's positional results), not the
        // surviving subset of the 2k-wide ranks (e.g. 2,5,9)
        val wide = vectorsFrame(configOf(coll), coll, Seq(("q", query)), 2 * k)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("rnk"))
        collectHits(wide.join(store.read(coll).filter(pred).select(col("id")), "id")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .orderBy(col("rnk")).limit(k))
    }
    if (out.isEmpty)
      throw new NoSuchElementException("no satisfied results found") // document.go:222-225
    out
  }

  // ---- multi-vector (late-interaction / ColBERT MaxSim) collections ----
  //
  // A multi-vector collection (created with params multivector=true) stores
  // one ROW PER TOKEN VECTOR: token row id = "<docId>\u0001<tokIdx>", params
  // carry the parent doc id + token index + the doc's token count. The token
  // rows are ordinary collection rows, so EVERY existing tier serves them —
  // buildIndex trains/materializes over token vectors unchanged, point
  // writes stay maintained, tombstones shadow per token row. Search is
  // ColBERT MaxSim (Khattab & Zaharia 2020): per-query-token ANN shortlists
  // through the collection's own index tier union into a (query, doc)
  // candidate set; exact MaxSim re-ranks only the shortlisted docs' tokens
  // (`LateInteraction.maxSimShortlisted` — two equi-joins, never all-pairs).
  // The reference's search-then-fetch (`internal/db/document.go:228-239`)
  // generalized to multi-vector documents.

  /** Separator between doc id and token index inside a token row id; doc
    * ids (and caller query ids) must not contain it.
    */
  final val MultiVectorSep = "\u0001"
  /** Params key: the token row's parent document id. */
  final val MultiVectorDocKey = "__doc"
  /** Params key: the token's index within its document. */
  final val MultiVectorTokKey = "__tok"
  /** Params key: the document's token count — lets an UPDATE with fewer
    * tokens trim the stale tail rows via zero-job point reads (token 0
    * always exists, so its `__ntok` is the stored count).
    */
  final val MultiVectorNtokKey = "__ntok"

  private[api] def isMultiVector(cfg: CollectionConfig): Boolean =
    cfg.params.get("multivector").exists(_.toBoolean)

  private def tokRowId(docId: String, i: Int) = s"$docId$MultiVectorSep$i"

  def upsertMultiVector(coll: String, docId: String,
      tokens: Seq[Array[Float]]): Unit =
    batchUpsertMultiVector(coll, Seq((docId, tokens)))

  /** Batch upsert of multi-vector documents. Updates are exact: the new
    * token rows shadow the old ones through the ordinary LWW/tombstone
    * machinery, and a doc shrinking from `oldN` to `newN` tokens gets its
    * tail rows `[newN, oldN)` deleted (driver point-read of token 0's
    * `__ntok` — no scan), so a shorter re-upsert never serves stale tokens.
    */
  def batchUpsertMultiVector(coll: String,
      docs: Seq[(String, Seq[Array[Float]])]): Unit = {
    val cfg = configOf(coll)
    require(isMultiVector(cfg),
      s"'$coll' is not a multivector collection (create with multivector=true)")
    require(docs.nonEmpty, "empty batch")
    docs.foreach { case (d, toks) =>
      require(d != null && d.nonEmpty && !d.contains(MultiVectorSep),
        s"invalid multivector doc id '$d'")
      require(toks.nonEmpty, s"document '$d' has no token vectors")
    }
    // stale-tail trim BEFORE the upsert would lose tokens if the upsert
    // then failed; compute the stale ids now (old counts), delete after
    val stale = docs.flatMap { case (d, toks) =>
      store.getFast(coll, tokRowId(d, 0))
        .flatMap(_.params.get(MultiVectorNtokKey)).map(_.toInt).toSeq
        .flatMap(oldN => (toks.size until oldN).map(tokRowId(d, _)))
    }
    val rows = docs.flatMap { case (d, toks) =>
      toks.zipWithIndex.map { case (v, i) =>
        Document(tokRowId(d, i), v, Map(
          MultiVectorDocKey -> d,
          MultiVectorTokKey -> i.toString,
          MultiVectorNtokKey -> toks.size.toString))
      }
    }
    batchUpsertDocuments(coll, rows)
    if (stale.nonEmpty) deleteDocuments(coll, stale)
  }

  /** Delete every token row of a multi-vector document (count from token
    * 0's `__ntok`; absent doc → 404 semantics like the document routes).
    */
  def deleteMultiVector(coll: String, docId: String): Unit = {
    val cfg = configOf(coll)
    require(isMultiVector(cfg),
      s"'$coll' is not a multivector collection (create with multivector=true)")
    store.getFast(coll, tokRowId(docId, 0))
      .flatMap(_.params.get(MultiVectorNtokKey)).map(_.toInt) match {
      case Some(n) => deleteDocuments(coll, (0 until n).map(tokRowId(docId, _)))
      case None => throw new NoSuchElementException(
        s"multivector document '$docId' not found")
    }
  }

  /** The (query, doc) candidate pairs MaxSim will exactly re-rank: every
    * query token fetches its top-`maxsimCandM` token rows through the
    * collection's OWN index tier (`searchVectorsDf` — distributed on
    * ivf-family tiers), and a doc is a candidate if ANY of its tokens
    * shortlists for ANY of the query's tokens. Deterministic given a fixed
    * index build, so the oracle replay recomputes exactly the pair set the
    * search used. Exposed (not private) because the correctness gate
    * exports it as the candidate-restricted oracle input.
    */
  def maxSimCandidates(coll: String,
      queries: Seq[(String, Seq[Array[Float]])]): DataFrame = {
    val cfg = validateMaxSimQueries(coll, queries)
    val m = getParams(coll).getOrElse("maxsimCandM", 16)
    import spark.implicits._
    val qtokDf = queries.flatMap { case (qid, toks) =>
      toks.zipWithIndex.map { case (v, i) =>
        (s"$qid$MultiVectorSep$i", v.toSeq) }
    }.toDF("query_id", "query_vec")
    searchVectorsDf(coll, qtokDf, m)
      .select(
        substring_index(col("query_id"), MultiVectorSep, 1).as("qid"),
        substring_index(col("id"), MultiVectorSep, 1).as("doc_id"))
      .distinct()
  }

  /** MaxSim top-k docs per query: (qid, doc_id, rnk), ranked by
    * score(q, d) = Σ_t max_{v∈d} ⟨q_t, v⟩ desc with doc-id tie-break —
    * exact over the shortlisted candidate docs' tokens (result quality is
    * the shortlist generator's recall, gated like the ANN tiers gate
    * theirs). Metric coupling, stated: candidates rank by the collection's
    * space while MaxSim scores by inner product — equivalent neighborhoods
    * for l2 on normalized embeddings (l2 = 2 − 2·ip) and for ip/cos;
    * hamming optimizes an unrelated neighborhood and is rejected.
    */
  def searchMaxSim(coll: String,
      queries: Seq[(String, Seq[Array[Float]])], k: Int): DataFrame =
    maxSimLocal(coll, queries, k) match {
      case Some(rows) => spark.createDataFrame(java.util.Arrays.asList(
        rows.map(r => Row(r._1, r._2, r._3)): _*), Engine.MaxSimSchema)
      case None => searchMaxSimDistributed(coll, queries, k)
    }

  /** The zero-job MaxSim serve over the whole request, or None when any
    * chunk misses a precondition (the distributed plan then serves it).
    */
  private def maxSimLocal(coll: String,
      queries: Seq[(String, Seq[Array[Float]])], k: Int): Option[Seq[(String, String, Long)]] = {
    val cfg = validateMaxSimQueries(coll, queries)
    require(cfg.spaceType != SpaceType.Hamming,
      "maxsim scores by inner product; a hamming-space shortlist optimizes " +
        "an unrelated neighborhood — create the collection with l2, ip, or cos")
    // batches past the 16-query local cap AUTO-SPLIT into cap-sized chunks
    // (per-query scores are independent and 0.0-padding is an exact
    // identity, so the concatenation is row-identical to one call); any
    // chunk's precondition miss falls the WHOLE request back to the
    // distributed plan. Same gate shape as localRoute: distinct qids,
    // bounded total.
    val localServable = queries.size <= maxLocalServeBatch &&
      queries.map(_._1).distinct.size == queries.size
    if (!localServable) None
    else serveChunked(queries)(chunk => searchMaxSimLocal(coll, cfg, chunk, k).toRight(()))
      .toOption
  }

  /** `searchMaxSim` as driver rows (qid, doc_id, rnk) — the
    * multivectors/search answer; only a declined request plans (and
    * collects) the distributed MaxSim.
    */
  private[graft] def searchMaxSimRows(coll: String,
      queries: Seq[(String, Seq[Array[Float]])], k: Int): Seq[(String, String, Long)] =
    maxSimLocal(coll, queries, k).getOrElse(
      searchMaxSimDistributed(coll, queries, k).collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))))

  /** Driver-resident candidate token-vector cache for the zero-job MaxSim
    * serve — the ColBERT doc-embedding cache with the engine's standard
    * stamp discipline: keys carry the STORE VERSION the vectors were read
    * at, so any write rotates every key (stale entries age out by LRU,
    * never serve). Byte-budgeted (`graft.maxsim.docCacheBytes`, default
    * 256 MiB) because at corpus scale only the hot working set fits; a
    * miss pays the zero-job point read it always paid. This exists because
    * the candidate FETCH — not shortlists or scoring — was the measured
    * ~80% of the r11 52 ms serve p50 (parquet-mr reader setup + drain per
    * request; see MaxSimProfile), and a steady serving loop re-fetches the
    * same hot docs every request.
    */
  private val maxSimDocCacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  private val maxSimDocCacheMisses = new java.util.concurrent.atomic.AtomicLong(0)
  private var maxSimDocCacheBytes = 0L
  private val maxSimDocCache =
    new java.util.LinkedHashMap[(String, Long, String), Array[Array[Float]]](
      1024, 0.75f, true) // access-order: LRU
  private def maxSimDocCacheBudget: Long =
    java.lang.Long.getLong("graft.maxsim.docCacheBytes", 256L << 20)
  private def docBytes(vs: Array[Array[Float]]): Long =
    vs.foldLeft(64L)((a, v) => a + 24L + v.length * 4L)
  private def docCacheGet(coll: String, ver: Long,
      docs: Iterable[String]): Map[String, Array[Array[Float]]] =
    maxSimDocCache.synchronized {
      val out = Map.newBuilder[String, Array[Array[Float]]]
      docs.foreach { d =>
        val v = maxSimDocCache.get((coll, ver, d))
        if (v != null) { out += d -> v; maxSimDocCacheHits.incrementAndGet() }
        else maxSimDocCacheMisses.incrementAndGet()
      }
      out.result()
    }
  private def docCachePut(coll: String, ver: Long,
      read: Map[String, Array[Array[Float]]]): Unit =
    maxSimDocCache.synchronized {
      read.foreach { case (d, vs) =>
        if (maxSimDocCache.put((coll, ver, d), vs) == null)
          maxSimDocCacheBytes += docBytes(vs)
      }
      val it = maxSimDocCache.entrySet().iterator()
      while (maxSimDocCacheBytes > maxSimDocCacheBudget && it.hasNext) {
        val e = it.next() // eldest-first (access order)
        maxSimDocCacheBytes -= docBytes(e.getValue)
        it.remove()
      }
    }
  private[graft] def maxSimDocCacheMetrics: Map[String, Long] = Map(
    "maxsim_doc_cache_hits" -> maxSimDocCacheHits.get(),
    "maxsim_doc_cache_misses" -> maxSimDocCacheMisses.get(),
    "maxsim_doc_cache_bytes" -> maxSimDocCache.synchronized(maxSimDocCacheBytes),
    "maxsim_doc_cache_entries" -> maxSimDocCache.synchronized(maxSimDocCache.size.toLong),
    "maxsim_doc_cache_max_bytes" -> maxSimDocCacheBudget)

  /** ZERO-JOB MaxSim point serving: for small query sets on an ivf_flat
    * multivector collection with a current layout, the whole request runs
    * on the driver and answers (qid, doc_id, rnk) rows — per-token
    * shortlists from `LocalIvfServe` (same cells, same kernels, same ranks
    * as `IvfIndex.searchDistributed`), candidate docs' token vectors
    * through the zero-job `getMany` point reads, and
    * the exact MaxSim score as the SAME fixed-order add chain over
    * per-token maxes the distributed `rankTail` builds (sim through the
    * identical `VecKernels.negDot` accumulation, missing tokens +0.0 in
    * order, (score desc, doc asc UTF-8) rank). `MaxSimParitySpec` gates
    * result equality against `searchMaxSimDistributed` across ties,
    * updates, and deletes; any precondition miss (big query set, other
    * tier, stale layout, dup qids, oversized cell) returns None and the
    * distributed plan serves — never a silent semantic fork.
    */
  private[graft] def searchMaxSimLocal(coll: String, cfg: CollectionConfig,
      queries: Seq[(String, Seq[Array[Float]])], k: Int): Option[Seq[(String, String, Long)]] = {
    if (cfg.indexType != IndexType.IvfFlat) return None
    if (queries.size > 16) return None
    // duplicate qids conflate in the distributed groupBy into ONE row set;
    // the per-query loop below would emit them twice — route to the one shape
    if (queries.map(_._1).distinct.size != queries.size) return None
    val tokQs: Seq[(Any, Array[Float])] = queries.flatMap { case (qid, toks) =>
      toks.zipWithIndex.map { case (v, i) => (s"$qid$MultiVectorSep$i": Any, v) }
    }
    if (tokQs.size > 256) return None
    val lp = tierLayout(coll, Tier.IvfFlat).get
    val stamp = currentLayoutStamp(coll, lp).getOrElse(return None)
    val index = builtIndex(coll, cfg, Tier.IvfFlat).getOrElse(return None)
    val m = getParams(coll).getOrElse("maxsimCandM", 16)
    val nprobe = index.nprobe(getParams(coll))
    val short = graft.operators.LocalIvfServe.searchPointLocalRowsNtok(
      lp, stamp, index.coarse, tokQs, m, nprobe, maxQueries = 256).toOption
    if (short.isEmpty) return None
    def before(s: String): String = {
      val i = s.indexOf(MultiVectorSep)
      if (i < 0) s else s.substring(0, i)
    }
    // (qid -> candidate docs), the distinct union over the query's tokens —
    // exactly maxSimCandidates' pair set
    val pairs: Map[String, Seq[String]] = short.get
      .map { case (qtokId, tokRowId0, _, _, _) =>
        (before(qtokId.toString), before(String.valueOf(tokRowId0)))
      }.distinct.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2) }
    // each candidate doc's token COUNT rides the shortlist itself (every
    // token row's params carry __ntok, and the cells cache it) — the old
    // token-0 pre-read pass was the measured majority of the 52 ms r11
    // serve p50 (see MaxSimProfile). Max across a doc's matched rows is
    // defense-in-depth (shadowing makes them identical); a missing count
    // (-1, a foreign row) falls back to the distributed plan, never a
    // silent short score.
    val ntokOf: Map[String, Int] = short.get
      .map { case (_, rowId, _, _, n) => before(String.valueOf(rowId)) -> n }
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).max }
    if (ntokOf.values.exists(_ <= 0)) return None
    val allDocs = pairs.values.flatten.toSet
    // candidate token vectors: stamp-keyed cache first (vectors at a given
    // store version are immutable; any write rotates the key), then ONE
    // zero-job batch point read for the misses — AT the stamp, so a write
    // racing this serve reads a consistent snapshot of exactly the layout's
    // version
    val cached = docCacheGet(coll, stamp, allDocs)
    val missing = allDocs.filterNot(cached.contains)
    val readVecs: Map[String, Array[Array[Float]]] =
      if (missing.isEmpty) Map.empty
      else {
        val tokIds = missing.toSeq.flatMap(d =>
          (0 until ntokOf(d)).map(i => tokRowId(d, i)))
        store.getManyAt(coll, tokIds, stamp).values
          .groupBy(d => before(d.id))
          .map { case (d, rs) =>
            d -> rs.toArray
              .sortBy(_.params.get(MultiVectorTokKey).map(_.toInt).getOrElse(0))
              .map(_.vector)
          }
      }
    if (readVecs.nonEmpty) docCachePut(coll, stamp, readVecs)
    val docVecs: Map[String, Array[Array[Float]]] = cached ++ readVecs
    val nTokens = queries.map(_._2.size).max
    val out = Seq.newBuilder[(String, String, Long)]
    for ((qid, toks) <- queries) {
      val scored = pairs.getOrElse(qid, Nil).flatMap { d =>
        // a doc deleted between shortlist and fetch has no token rows and
        // drops out — the distributed inner join does the same
        docVecs.get(d).filter(_.nonEmpty).map { dvs =>
          var s = 0.0
          var i = 0
          while (i < nTokens) {
            if (i < toks.size) {
              var mx = Double.NegativeInfinity
              var j = 0
              while (j < dvs.length) {
                val sim = -graft.kernels.VecKernels.negDot(toks(i), dvs(j))
                if (sim > mx) mx = sim
                j += 1
              }
              s += mx
            } else s += 0.0
            i += 1
          }
          (d, s)
        }
      }
      val ranked = scored.sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && graft.operators.GraphAnn.idLt(a._1, b._1))).take(k)
      ranked.zipWithIndex.foreach { case ((d, _), r) =>
        out += ((qid, d, (r + 1).toLong))
      }
    }
    Some(out.result())
  }

  /** The distributed MaxSim plan (the batch/KNN-join shape; also the
    * fallback for every local-precondition miss).
    */
  private[graft] def searchMaxSimDistributed(coll: String,
      queries: Seq[(String, Seq[Array[Float]])], k: Int): DataFrame = {
    validateMaxSimQueries(coll, queries)
    val nTokens = queries.map(_._2.size).max
    val cand = maxSimCandidates(coll, queries)
    // token rows only (a multivector collection rejects plain upserts, so
    // the doc-key filter is belt-and-braces against hand-written rows)
    val corpusToks = documents(coll)
      .filter(col("params")(MultiVectorDocKey).isNotNull)
      .select(col("params")(MultiVectorDocKey).as("doc_id"),
        col("vector").as("dv"))
    import spark.implicits._
    val qtoks = queries.flatMap { case (qid, toks) =>
      toks.zipWithIndex.map { case (v, i) => (qid, i, v.toSeq) }
    }.toDF("qid", "tok", "qv")
      .withColumn("qv", col("qv").cast("array<float>"))
    graft.operators.LateInteraction.maxSimShortlisted(
      cand, corpusToks, qtoks, k, nTokens,
      corpusDoc = "doc_id", corpusVec = "dv",
      queryId = "qid", queryTok = "tok", queryVec = "qv",
      // queries arrive as a driver Seq here, so the candidate-pair frame is
      // bounded by |queries|·T·maxsimCandM — broadcast it and the corpus
      // token scan never shuffles (see maxSimShortlisted's param doc)
      broadcastShortlist = true)
  }

  private def validateMaxSimQueries(coll: String,
      queries: Seq[(String, Seq[Array[Float]])]): CollectionConfig = {
    val cfg = configOf(coll)
    require(isMultiVector(cfg),
      s"'$coll' is not a multivector collection (create with multivector=true)")
    require(queries.nonEmpty, "empty query set")
    queries.foreach { case (qid, toks) =>
      require(qid != null && !qid.contains(MultiVectorSep),
        s"invalid query id '$qid'")
      require(toks.nonEmpty, s"query '$qid' has no token vectors")
      toks.foreach(t => require(t.length == cfg.dimension,
        s"query '$qid' token dimension ${t.length} != collection dimension ${cfg.dimension}"))
    }
    cfg
  }

  /** Cache stats for tests/ops. */
  def cacheSize: Int = cache.size
}

object Engine {
  import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

  /** The point-search result schema: one row per hit. */
  private[api] val HitSchema = StructType(Seq(
    StructField("query_id", StringType),
    StructField("id", StringType),
    StructField("distance", DoubleType),
    StructField("rnk", LongType)))

  /** The MaxSim result schema: one row per ranked document. */
  private[api] val MaxSimSchema = StructType(Seq(
    StructField("qid", StringType),
    StructField("doc_id", StringType),
    StructField("rnk", LongType)))

  /** A search on a code tier whose index was never built: the caller's
    * request is premature (the REST layer answers 400), unlike an
    * `IllegalStateException` from an internal fault.
    */
  final class NotBuilt(coll: String)
      extends IllegalStateException(s"index for '$coll' not built — call buildIndex")
}
