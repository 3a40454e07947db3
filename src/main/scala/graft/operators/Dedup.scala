package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines: exact (hash-group),
  * MinHash+LSH (shingle → minhash → band → bucket-join → exact verify),
  * SimHash (64-bit, chunk-banded hamming), and rolling-hash fingerprints.
  *
  * Scale design: nothing here compares all pairs. MinHash signatures are one
  * map-side-combined aggregation over exploded shingles; candidate
  * generation is an equi-join on (band, band_hash) — only colliding docs
  * meet; exact Jaccard verification touches candidate pairs only. SimHash
  * bands 4×16 bits the same way. All hashing is xxhash64 (codegen'd, seeded,
  * deterministic).
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup: survivor (min id) per distinct text digest. The group key
    * is the digest, not the text — constant-width shuffle rows.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact-dedup pre-pass for the LSH pipelines: `(__rep, __mid)` membership
    * (representative = min id per digest group). A web-scale corpus has
    * clusters of millions of byte-identical documents; collapsing them BEFORE
    * any bucket self-join is what keeps candidate generation linear — one
    * such cluster would otherwise land in one LSH bucket and emit O(n²)
    * candidate pairs. The 128-bit digest makes false merges negligible.
    *
    * Callers `.cache()` this frame (it feeds 2-3 joins per pipeline) and
    * MUST release it via `released(...)` once the pipeline's result is
    * materialized: `Dataset.persist` registers the relation in the session
    * CacheManager, which holds it until an explicit unpersist — LRU only
    * rotates blocks between memory and disk, and ContextCleaner never fires
    * while the CacheManager still references the plan.
    */
  /** Duplicate-group membership `(__rep, __mid)`, or None when every digest
    * group is a singleton — and, crucially, restricted to groups of size ≥ 2:
    * a near-duplicate-free corpus (the COMMON case for an incremental batch)
    * yields a frame of just the duplicated rows, not one row per document.
    * Downstream consumers therefore join the corpus against a frame that is
    * tiny when dups are rare (broadcast joins, no corpus shuffle) and only
    * degrades to shuffle joins when dup groups are genuinely massive — which
    * is exactly when the pre-pass is earning its keep. Detection is one
    * aggregate over the digest groupBy (the shuffle the pre-pass pays
    * anyway); `None` lets callers skip the rep/expand machinery entirely.
    */
  private def membershipIfDups(df: DataFrame, idCol: String,
      keyExpr: Column): Option[DataFrame] = {
    val withKey = df.select(keyExpr.as("__gkey"), col(idCol).as("__mid"))
    val dupReps = withKey.groupBy(col("__gkey"))
      .agg(min(col("__mid")).as("__rep"), count(lit(1)).as("__gn"))
      .filter(col("__gn") > 1).select(col("__gkey"), col("__rep"))
    // ONE forcing job: build the membership frame directly and decide on
    // its count — the earlier two-step (cache the corpus-sized digest
    // groups, isEmpty them, then build + count the membership) paid an
    // extra driver job and held a corpus-sized cache between them; the
    // digest pass itself runs either way, and the join's probe side is the
    // same scan the aggregation consumed.
    val m = withKey.join(dupReps, "__gkey")
      .select(col("__rep"), col("__mid")).cache()
    if (m.count() == 0L) { m.unpersist(); None } else Some(m)
  }

  /** Eagerly materialize a pipeline's (small, threshold-filtered) result and
    * RELEASE the corpus-scale caches that fed it. Without this every
    * invocation leaks an exploded-shingle-sized cached relation into the
    * session CacheManager for the session's lifetime (explicit unpersist is
    * the ONLY release path for cached relations; r4's shared-session bench
    * degraded 10-80× per query from exactly that accumulation).
    *
    * `localCheckpoint` stores just the result rows and cuts the lineage, so
    * the caches are safe to drop immediately; its blocks are reclaimed by
    * ContextCleaner once the result frame is unreachable — unlike
    * CacheManager entries. Trade-off (deliberate): localCheckpoint blocks
    * are not recomputable after executor loss — a consumer re-runs the
    * pipeline call instead, the right recovery unit for a terminal
    * pair-set this small.
    */
  private def released(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    caches.foreach(_.unpersist(false))
    out
  }

  /** All ids that belong to a dup group but are not its representative —
    * the set a representative-only scan must EXCLUDE (tiny when dups are
    * rare, so the exclusion is a broadcast anti-join, not a corpus shuffle).
    */
  private def dupNonReps(dupMembers: DataFrame, as: String): DataFrame =
    dupMembers.filter(col("__rep") =!= col("__mid")).select(col("__mid").as(as))

  /** Expand representative-level candidate pairs back to member-level pairs
    * (cross-group) plus all within-group pairs. `dupMembers` holds ONLY the
    * duplicated groups, so the expansion joins are left joins against a tiny
    * frame (a rep with no dup group expands to itself via coalesce). Output
    * size is exactly the contract's pair set — the quadratic part, if any,
    * is genuinely required output, never intermediate candidate state.
    */
  private def expandPairs(repPairs: DataFrame, dupMembers: DataFrame): DataFrame =
    expandCross(repPairs, dupMembers, Nil)
      .union(withinGroupPairs(dupMembers))
      .distinct()

  /** Cross-group half of the expansion, payload-preserving: each member
    * pair inherits its rep pair's `payload` columns verbatim (identical
    * texts/vectors ⇒ identical pairwise measures). This is the
    * invariant-critical coalesce/least/greatest algebra — every pipeline
    * that expands rep pairs MUST route through here rather than re-rolling
    * it (simhash, embedding, char-gram, and the plain pair expansion all
    * do).
    */
  private def expandCross(repPairs: DataFrame, dupMembers: DataFrame,
      payload: Seq[String]): DataFrame = {
    val p = payload.map(col)
    repPairs
      .join(dupMembers.as("ma"), col("ia") === col("ma.__rep"), "left")
      .join(dupMembers.as("mb"), col("ib") === col("mb.__rep"), "left")
      .select(coalesce(col("ma.__mid"), col("ia")).as("__ea") +:
        coalesce(col("mb.__mid"), col("ib")).as("__eb") +: p: _*)
      .select(least(col("__ea"), col("__eb")).as("ia") +:
        greatest(col("__ea"), col("__eb")).as("ib") +: p: _*)
  }

  /** All within-group member pairs (ia < ib); `keepRep` retains the group
    * representative for callers that join per-rep payload back on.
    */
  private def withinGroupPairs(dupMembers: DataFrame,
      keepRep: Boolean = false): DataFrame = {
    val base = dupMembers.as("x")
      .join(dupMembers.as("y"),
        col("x.__rep") === col("y.__rep") && col("x.__mid") < col("y.__mid"))
    if (keepRep)
      base.select(col("x.__mid").as("ia"), col("y.__mid").as("ib"),
        col("x.__rep").as("__rep"))
    else base.select(col("x.__mid").as("ia"), col("y.__mid").as("ib"))
  }

  /** Distinct word n-gram shingles per doc: (id, s). Docs shorter than n
    * tokens contribute their whole text as one shingle.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val toks = split(col(textCol), " ")
    // codegen NGrams kernel (vfn.ngrams) — the gram build is the dominant
    // map cost of every shingle pipeline; the HOF formulation it replaces
    // re-walked an interpreted lambda per gram
    val grams = graft.functions.vfn.ngrams(toks, n)
    val safe = when(size(toks) >= n, grams).otherwise(array(col(textCol)))
    widened(df).select(col(idCol).as("__did"), explode(array_distinct(safe)).as("s"))
  }

  /** The explode + per-shingle hashing above `shingles` is the pipeline's
    * dominant MAP cost, and its parallelism is inherited from the SCAN —
    * a corpus packed into few parquet files (one splittable file at small
    * SF; the common small-file case of any ingest) would run it nearly
    * single-threaded. Round-robin repartition to the cluster's parallelism
    * BEFORE exploding when the scan is narrower than that; the explicit
    * partition count keeps AQE from coalescing the (tiny pre-explode) map
    * side back down. A 100 TB scan already yields thousands of partitions,
    * so this is a no-op exactly when the input is already wide.
    */
  private[graft] def widened(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // The decision must come from the UNEXECUTED plan: `Dataset.rdd` under
    // AQE finalizes the adaptive plan, which MATERIALIZES every upstream
    // shuffle stage just to read a partition count — a derived input (e.g.
    // the partner join inside incrementalNearDup) would run its whole
    // upstream job once for the count and again for the real query.
    //
    // SHUFFLE exchanges are the one trustworthy signal: any ShuffleExchange
    // in the plan re-partitions downstream work to the session's shuffle
    // parallelism, so those inputs are left alone. A BroadcastExchange is
    // NOT enough (e.g. the partner semi-join against a tiny collision set:
    // the probe side keeps its narrow scan partitioning — measured 8× at
    // 10× state when this case was mis-classified), so a shuffle-free plan
    // takes its width from the FileSourceScan leaves' ACTUAL split counts
    // (driver-side file-split arithmetic, no job) — which also catches an
    // unsplittable big input (one 100 GB gzip = 1 split regardless of
    // estimated bytes). Plans with no file leaves at all (local relations,
    // cached frames — small inputs) conservatively count as narrow: one
    // round-robin shuffle of a tiny pre-explode projection is noise, while
    // under-parallel shingle hashing measured 5-10×.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = df.queryExecution.sparkPlan
    val hasShuffle = plan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    if (hasShuffle) df
    else {
      val width = plan.collectLeaves().map {
        case f: FileSourceScanExec =>
          scala.util.Try(f.inputRDDs().map(_.getNumPartitions).sum).getOrElse(0)
        // checkpointed/RDD-backed leaves (localCheckpoint results): the
        // partition count is a plain field read, no job
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          scala.util.Try(r.inputRDDs().map(_.getNumPartitions).sum).getOrElse(0)
        case _ => 0
      }.sum
      if (width >= target) df else df.repartition(target)
    }
  }

  /** MinHash signatures: numHashes column-wise mins — one aggregation with
    * map-side partial combine. Each shingle string is hashed ONCE; the
    * numHashes permutation hashes are seeded re-hashes of that 8-byte base
    * (variable-length string hashing is the expensive part, so this is
    * ~numHashes× cheaper than hashing the string per permutation).
    *
    * Also carries the shingle-set size as `__n`: the exact-Jaccard verify
    * stage needs per-doc sizes over the SAME frame, and emitting the count
    * from this aggregation lets that stage reuse this shuffle
    * (ReusedExchange) instead of re-scanning and re-aggregating the exploded
    * shingles.
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val based = sh.withColumn("__h", xxhash64(col("s")))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("__h"))).as(s"h$i")) :+ count(lit(1)).as("__n")
    based.groupBy(col("__did")).agg(aggs.head, aggs.tail: _*)
  }

  /** Defensive hot-bucket cap: drop bucket keys whose row count exceeds
    * `maxBucket`, logging how much was dropped. After the exact-dedup
    * pre-pass an over-cap bucket means a pathological cluster of
    * near-identical-but-distinct documents; a dropped bucket's qualifying
    * pairs can still surface through the other bands/tables. The cap bounds
    * the self-join at `maxBucket²` pairs per bucket no matter how adversarial
    * the corpus — AQE skew-splitting parallelizes a hot bucket but cannot
    * shrink its pair count; only the cap can.
    *
    * Single-pass: a window count over the bucket key (one shuffle, shared
    * with the downstream bucket join) instead of a groupBy+anti-join, and
    * the dropped-row accounting rides as an `observe` metric logged on query
    * completion — an eager stats action here would execute the whole
    * upstream pipeline (shingles, signatures) a second time.
    */
  private[operators] def capBuckets(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    if (maxBucket == Int.MaxValue) return rows
    ensureCapListener(rows.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    rows
      .withColumn("__bn", count(lit(1)).over(w))
      .observe(s"graft_cap_buckets_${capObsId.incrementAndGet()}",
        sum(when(col("__bn") > maxBucket, 1L).otherwise(0L)).as("dropped_rows"),
        max(col("__bn")).as("max_bucket"))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
  }

  /** Vector dimensionality for LSH plane generation: the caller-supplied
    * value when positive (no driver job at plan time), else one bounded
    * lookup on the `__v` column — 0 on an empty frame so callers take their
    * graceful no-pair path instead of throwing NoSuchElementException.
    */
  private def inferDim(vecs: DataFrame, given: Int): Int =
    if (given > 0) given
    else vecs.select(size(col("__v"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  private val capObsId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val capListenerSessions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()
  private def ensureCapListener(spark: SparkSession): Unit =
    if (capListenerSessions.add(spark))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_cap_buckets") && !row.isNullAt(0) && row.getLong(0) > 0)
              log.warn(s"capBuckets: dropped ${row.getLong(0)} rows in over-cap " +
                s"buckets (largest bucket ${row.getLong(1)}); their pairs may " +
                "still surface via other bands/signatures")
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
      })

  /** LSH candidate pairs: docs whose signatures collide in ≥1 band.
    * P(candidate) = 1 − (1 − j^rowsPerBand)^bands — with 21×3 a j=0.8 pair
    * is missed with prob ~3e-7.
    */
  /** (did, band, bh) banded signature rows — the bucket keys of the LSH
    * join, shared by the self-join (near-dup) and A×B (decontamination)
    * candidate generators.
    */
  private def bandedRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(lit(b) +: hs: _*).as("bh"))
    }
    sigs.select(col("__did"), explode(array(bandCols: _*)).as("e"))
      .select(col("__did"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** `(did, band, bh)` banded signature rows straight from texts — the
    * persisted STATE of the incremental/streaming dedup path (what a new
    * batch's bands equi-join against).
    */
  def signatureBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 63, bands: Int = 21): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // per-row signature kernel — bit-identical band values (DedupSpec gates
    // kernel ≡ aggregation), so previously persisted band state stays valid
    bandedRows(minHashSigRows(df, idCol, textCol, shingleN, numHashes),
        bands, numHashes / bands)
      .select(col("__did"), col("band"), col("bh"))
  }

  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // The banded rows are SELF-joined, and the two join sides are separate
    // subtrees in the physical plan: exchange reuse does not deduplicate
    // them, and AQE submits both sides' shuffle stages CONCURRENTLY — so
    // without an explicit materialization the whole upstream pipeline
    // (scan → shingles → 63-hash signature aggregation → banding → cap
    // window) runs twice, racing on the same cores (measured: the two sig
    // aggregations were the two largest stages of minhash_pairs, ~30 s of
    // task time at sf0.1). Persist + force ONCE, join from the cache —
    // which the join reads WITHOUT new exchanges: the cap window already
    // hash-partitioned the rows on (band, bh), and the cached plan's
    // partitioning satisfies the join's required distribution on both
    // sides. The cache is banded-row-sized (bands rows/doc of
    // (id, band, hash)) — linear in the corpus, MEMORY_AND_DISK spills at
    // scale. The eager checkpoint is deliberate (r13 A/B): handing the lazy
    // join frame downstream saved one job but carried the full lineage into
    // every later consumer's plan and measured ~25% slower.
    val exploded = capBuckets(bandedRows(sigs, bands, rowsPerBand),
      Seq("band", "bh"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exploded.count() // force: a lazy cache is RACED by the two join stages
    released(exploded.as("a").join(exploded.as("b"), Seq("band", "bh"))
      .filter(col("a.__did") < col("b.__did"))
      .select(col("a.__did").as("ia"), col("b.__did").as("ib"))
      .distinct(), exploded)
  }

  /** Cross-corpus near-duplicates — the DECONTAMINATION pass every training
    * pipeline runs against its eval/test sets: documents of `corpus` whose
    * exact n-gram Jaccard against any document of `ref` meets the threshold.
    * Same bucketed shape as `minHashLshPairs`, but candidates come from an
    * A×B band equi-join (never a self-join): only cross-corpus collisions
    * meet, each side independently capped. Output: (ia = corpus id,
    * ib = ref id, jaccard).
    */
  def crossCorpusNearDup(corpus: DataFrame, corpusId: String, corpusText: String,
      ref: DataFrame, refId: String, refText: String,
      shingleN: Int = 3, numHashes: Int = 63, bands: Int = 21,
      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rpb = numHashes / bands
    // per-row signature kernels (no shingle explode, no 64-column hash
    // aggregate). The signatures feed banding AND the sizes joins — with
    // the kernel the duplicate computation is a cheap map pass, so they are
    // deliberately NOT persisted: a persist+force barrier was measured
    // SLOWER at sf0.1 than letting the consumers recompute the map (the
    // pre-kernel shape, where the duplicate was an explode + 64-column
    // aggregate, did need it).
    val sigsA = minHashSigRows(corpus, corpusId, corpusText, shingleN, numHashes)
    val sigsB = minHashSigRows(ref, refId, refText, shingleN, numHashes)
    val bA = capBuckets(bandedRows(sigsA, bands, rpb), Seq("band", "bh"), maxBucket)
    val bB = capBuckets(bandedRows(sigsB, bands, rpb), Seq("band", "bh"), maxBucket)
    val cand = bA.as("a").join(bB.as("b"), Seq("band", "bh"))
      .select(col("a.__did").as("ia"), col("b.__did").as("ib"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand.count() // force: the id restrictions and the verify join fan out
    // exact cross-corpus Jaccard over candidate pairs only: each side's
    // verify shingles are built AFTER a semi-join of the DOCS to the
    // candidate ids (the gram explode never touches non-candidates). Sizes
    // come from the SAME candidate-restricted shingle streams (distinct
    // grams per doc ≡ the kernel's __n, DedupSpec-gated): the r12 shape
    // joined sizes off the signature kernels, which re-ran the full MinHash
    // map over BOTH WHOLE corpus sides just to size the handful of
    // candidate docs — at scale that is a second full-corpus pass; the
    // aggregation here is candidate-proportional with map-side combine.
    // The duplicated candidate-explode (each sh frame feeds the intersect
    // join AND its sizes agg) is the embed-LSH trade again: a cheap
    // restricted map duplicated beats a forcing barrier.
    val shA = shingles(corpus.join(
        cand.select(col("ia").as(corpusId)).distinct(), Seq(corpusId), "left_semi"),
      corpusId, corpusText, shingleN)
    val shB = shingles(ref.join(
        cand.select(col("ib").as(refId)).distinct(), Seq(refId), "left_semi"),
      refId, refText, shingleN)
    val sizesA = shA.groupBy(col("__did")).agg(count(lit(1)).as("na"))
      .select(col("__did").as("ia"), col("na"))
    val sizesB = shB.groupBy(col("__did")).agg(count(lit(1)).as("nb"))
      .select(col("__did").as("ib"), col("nb"))
    released(cand
      .join(shA.as("ta"), col("ia") === col("ta.__did"))
      .join(shB.as("tb"), col("ib") === col("tb.__did") && col("ta.s") === col("tb.s"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
      .join(sizesA, "ia")
      .join(sizesB, "ib")
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("ia"), col("ib"), col("jaccard")), cand)
  }

  /** Incremental near-dup for a STREAMING corpus: dedups an arriving batch
    * against everything ingested before it WITHOUT touching the old corpus'
    * texts — the accumulated state is the banded signature table
    * (`(did, band, bh)`, ~`bands` rows/doc), which is what `streamDedupInto`
    * persists per batch.
    *
    * Per batch: (1) full self-dedup of the batch (the stock oracle-gated
    * pipeline); (2) batch bands ⋈ stored bands — an equi-join against state
    * that is LINEAR in corpus size and never re-shingles it; (3) exact
    * verify of cross candidates by re-shingling ONLY the candidate partner
    * docs (fetched from `storedTexts` by id — the few docs that actually
    * collided, not the corpus). Identical docs across batches collide in
    * every band, so cross pairs subsume the exact-dup case. Output pair ids
    * are (batch id, stored id) for cross pairs; `newBands` is the state
    * increment the caller persists.
    */
  /** Returns (pairs, newBands, release): `pairs` is materialized (its
    * corpus-scale caches already dropped); `newBands` stays LAZY (one
    * per-row kernel map over the batch) — consumers that never write the
    * state increment (a pure dedup check) never pay its build. Call
    * `release()` after consuming (or deciding to skip) `newBands` to drop
    * the batch shingle cache; a later `newBands` consumption still works —
    * it never depended on that cache.
    */
  def incrementalNearDup(batch: DataFrame, idCol: String, textCol: String,
      storedBands: Option[DataFrame], storedTexts: Option[DataFrame],
      shingleN: Int = 3, numHashes: Int = 63, bands: Int = 21,
      threshold: Double = 0.8, maxBucket: Int = 100000)
      : (DataFrame, DataFrame, () => Unit) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(storedBands.isEmpty == storedTexts.isEmpty,
      "storedBands and storedTexts must be supplied together")
    val rpb = numHashes / bands
    val shN = shingles(batch, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-row signature kernel (bit-identical band values — DedupSpec gates
    // kernel ≡ aggregation), so previously persisted band state stays
    // valid; the old formulation aggregated the shingle cache through a
    // 64-column hash aggregate + its exchange per batch. The shingle cache
    // stays for what still needs grams: the cross-verify intersection and
    // the sizes aggregation.
    val bandedN = bandedRows(
        minHashSigRows(batch, idCol, textCol, shingleN, numHashes), bands, rpb)
      .select(col("__did"), col("band"), col("bh"))
    val within = minHashLshPairs(batch, idCol, textCol, shingleN, numHashes,
      bands, threshold, maxBucket)
    val (pairs, crossCaches) = (storedBands, storedTexts) match {
      case (Some(sb), Some(texts)) =>
        val cand = capBuckets(bandedN, Seq("band", "bh"), maxBucket).as("a")
          .join(capBuckets(sb.select(col("__did"), col("band"), col("bh")),
            Seq("band", "bh"), maxBucket).as("b"), Seq("band", "bh"))
          .select(col("a.__did").as("ia"), col("b.__did").as("ib"))
          .distinct()
        // partner shingles: only docs that collided — a semi-join-sized
        // re-shingle, not a corpus re-scan
        val partners = texts
          .join(cand.select(col("ib").as(idCol)).distinct(), Seq(idCol), "left_semi")
        val shP = shingles(partners, idCol, textCol, shingleN)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sizesN = shN.groupBy(col("__did")).agg(count(lit(1)).as("n"))
        val sizesP = shP.groupBy(col("__did")).agg(count(lit(1)).as("n"))
        val cross = cand
          .join(shN.as("ta"), col("ia") === col("ta.__did"))
          .join(shP.as("tb"), col("ib") === col("tb.__did") && col("ta.s") === col("tb.s"))
          .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
          .join(sizesN.select(col("__did").as("ia"), col("n").as("na")), "ia")
          .join(sizesP.select(col("__did").as("ib"), col("n").as("nb")), "ib")
          .withColumn("jaccard",
            col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select(col("ia"), col("ib"), col("jaccard"))
        (within.union(cross), Seq(shP))
      case _ => (within, Seq.empty[DataFrame])
    }
    // pairs materialize now (threshold-filtered — small) and drop the
    // partner-shingle cache; bandedN stays lazy over the still-cached shN,
    // which the caller releases once the state increment is written
    val pairsOut = released(pairs, crossCaches: _*)
    (pairsOut, bandedN, () => shN.unpersist(false))
  }

  /** Exact Jaccard over candidate pairs only (shingle-set intersection via
    * join — never materializes non-candidate pairs). Pass `sizesOpt` when
    * per-doc shingle-set sizes already exist upstream (they ride the
    * signature aggregation) so this stage reuses that shuffle instead of
    * re-aggregating `sh`.
    */
  def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double,
      sizesOpt: Option[DataFrame] = None,
      alsoRelease: Seq[DataFrame] = Nil): DataFrame = {
    // verification touches ONLY docs that appear in ≥1 candidate pair — at
    // constant dup density that set is a small fraction of the corpus, so
    // the shingle frame is semi-joined down BEFORE the persist and the
    // intersection self-join: the cached bytes and both join inputs scale
    // with the CANDIDATE set, not the corpus (the 1000×-doc ScaleBench run
    // found the corpus-wide persist + self-join spilling past the host
    // disk at ~2.4e8 shingle rows). Candidate-id sets are near-always small
    // enough to broadcast, so the restriction adds no shuffle; exactness is
    // untouched (non-candidate docs can't contribute to any output row).
    // cand is consumed twice (the id restriction + the verification joins)
    // and its lineage is the banded generation — cache the (small) pair set
    // so banding runs once
    val (candP, candIds) = forcedCand(cand)
    val shP = sh.join(candIds, Seq("__did"), "left_semi")
    verifyCore(candP, shP, threshold, sizesOpt, alsoRelease)
  }

  /** `verifyJaccard` with the candidate-id restriction applied to the DOCS,
    * before any shingle explode: the gram construction — the pipeline's
    * dominant map cost — runs over candidate documents only, instead of
    * exploding the whole corpus and semi-joining the gram stream down.
    */
  private def verifyJaccardOnDocs(cand: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, shingleN: Int, threshold: Double,
      sizesOpt: Option[DataFrame] = None,
      alsoRelease: Seq[DataFrame] = Nil): DataFrame = {
    val (candP, candIds) = forcedCand(cand)
    val candDocs = docs.join(candIds.select(col("__did").as(idCol)),
      Seq(idCol), "left_semi")
    verifyCore(candP, shingles(candDocs, idCol, textCol, shingleN),
      threshold, sizesOpt, alsoRelease)
  }

  /** Persist + force the (candidate-set-sized) pair frame and derive its
    * distinct id set — every verify variant fans out from these two.
    */
  private def forcedCand(cand: DataFrame): (DataFrame, DataFrame) = {
    val candP = cand.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candP.count() // force: the id-restriction and verify joins fan out below
    val candIds = candP.select(col("ia").as("__did"))
      .union(candP.select(col("ib").as("__did"))).distinct()
    (candP, candIds)
  }

  private def verifyCore(candP: DataFrame, sh: DataFrame, threshold: Double,
      sizesOpt: Option[DataFrame], alsoRelease: Seq[DataFrame]): DataFrame = {
    // the (restricted) shingle frame is scanned 2-3× here (both sides of
    // the intersection self-join + the sizes fallback) and its lineage
    // carries the gram-construction map cost — persist so that cost is
    // paid once, and FORCE the cache before the fan-out: AQE submits the
    // self-join sides concurrently, and concurrent first readers of a lazy
    // cache each recompute the full lineage. `released` materializes the
    // (tiny) verified pair set and drops the caches.
    val shP = sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    shP.count()
    val sizes = sizesOpt.getOrElse(
      shP.groupBy(col("__did")).agg(count(lit(1)).as("n")))
    val inter = candP
      .join(shP.as("ta"), col("ia") === col("ta.__did"))
      .join(shP.as("tb"), col("ib") === col("tb.__did") && col("ta.s") === col("tb.s"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("c"))
    released(inter
      .join(sizes.select(col("__did").as("ia"), col("n").as("na")), "ia")
      .join(sizes.select(col("__did").as("ib"), col("n").as("nb")), "ib")
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("ia"), col("ib"), col("jaccard")),
      shP +: candP +: alsoRelease: _*)
  }

  /** Full MinHash+LSH near-dup pipeline: pairs with exact n-gram Jaccard ≥
    * threshold, found via banding (not all-pairs).
    *
    * Scale shape: an exact-dedup pre-pass collapses byte-identical documents
    * to one representative BEFORE signatures/banding, so a cluster of 10⁶
    * identical docs contributes one row to the bucket self-join instead of a
    * 10¹²-pair explosion; `maxBucket` caps whatever pathological
    * near-identical clusters survive the pre-pass. With
    * `expandDuplicates = true` (the default) representative pairs are
    * expanded back to all member pairs (identical members ⇒ identical shingle
    * sets ⇒ identical Jaccard), so the output is exactly the brute-force
    * contract. Pass `expandDuplicates = false` for cluster-style consumers
    * that only need one pair per distinct-text group (connectedComponents
    * plus the membership edges reconstructs the same components).
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 63, bands: Int = 21,
      threshold: Double = 0.8, maxBucket: Int = 100000,
      expandDuplicates: Boolean = true): DataFrame = {
    val m = membershipIfDups(df, idCol, md5(col(textCol).cast("binary")))
    // the result is already materialized (verifyJaccard is the terminal
    // stage), so the membership cache can be dropped immediately
    val out = minHashLshPairsWith(df, m, idCol, textCol, shingleN, numHashes,
      bands, threshold, maxBucket, expandDuplicates)
    m.foreach(_.unpersist(false))
    out
  }

  /** Core pipeline with the dup-group membership frame supplied (cached, or
    * None when the corpus is duplicate-free) by the caller — the digest
    * groupBy is a full corpus shuffle, so consumers that need membership
    * twice (pairs + member edges) must not recompute it. With `m = None` the
    * corpus IS its own representative set: no reps join, no pair expansion.
    * With dups, the representative scan EXCLUDES the non-rep dup members via
    * an anti-join against the tiny dup frame (broadcast when dups are rare).
    */
  private def minHashLshPairsWith(df: DataFrame, m: Option[DataFrame], idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int, expandDuplicates: Boolean): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val reps = m.fold(df)(mm => df.join(dupNonReps(mm, idCol), Seq(idCol), "left_anti"))
    m match {
      case Some(mm) if expandDuplicates =>
        // in-row signature kernel: no shingle explode, no 64-column hash
        // aggregate, no signature exchange (see minHashSigRows). The
        // candidate checkpoint stays EAGER: an r13 A/B that fed the lazy
        // band-join frame straight into verify's forcedCand barrier (one
        // job fewer) measured consistently SLOWER at 32 cores (5.2 → 6.5 s
        // across three alternating pairs) — the un-truncated lineage rides
        // into every downstream consumer's plan and the extra driver
        // planning work costs more than the saved job; the checkpoint's
        // 8-line plan is what keeps the 3 verify-side consumers cheap.
        val repCand = lshCandidates(
          minHashSigRows(reps, idCol, textCol, shingleN, numHashes),
          bands, numHashes / bands, maxBucket)
        // verification shingles the FULL corpus (restricted to candidate
        // ids pre-explode), so expanded member pairs score with their own
        // (identical) shingle sets
        verifyJaccardOnDocs(expandPairs(repCand, mm), df, idCol, textCol,
          shingleN, threshold)
      case _ =>
        // the signatures feed banding AND the sizes join — persist, but do
        // NOT force: the banded-row cache build inside lshCandidates is the
        // signatures' FIRST and (within that job) ONLY reader, so its
        // forcing count fills this cache as a side effect; the sizes join
        // later reads the already-materialized blocks. The separate count
        // this replaces was one more full-barrier job per query for
        // nothing.
        val repSigs = minHashSigRows(reps, idCol, textCol, shingleN, numHashes)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val repCand = lshCandidates(repSigs, bands, numHashes / bands, maxBucket)
        verifyJaccardOnDocs(repCand, reps, idCol, textCol, shingleN, threshold,
          sizesOpt = Some(repSigs.select(col("__did"), col("__n").as("n"))),
          alsoRelease = Seq(repSigs))
    }
  }

  /** Per-row MinHash signatures straight from the texts — the same
    * `(__did, h0..h{k-1}, __n)` frame `minHashSignatures` aggregates out of
    * exploded shingles, produced by ONE codegen map pass (`MinHashSig`
    * kernel): no gram explode, no 64-column hash aggregate, no exchange.
    * Signature values and distinct-shingle counts are bit-identical (same
    * XXH64 seed chain, exact string distinctness, same short-doc whole-text
    * fallback), gated by DedupSpec's row≡aggregation property.
    */
  private[graft] def minHashSigRows(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int): DataFrame = {
    val sig = graft.functions.vfn.minhashSig(
      split(col(textCol), " "), shingleN, numHashes)
    // null-text docs emit NO signature row, on purpose: the explode +
    // aggregation formulation this kernel replaced falls back to one null
    // shingle (`shingles`' `array(text)`) and emits a degenerate `__n = 1`
    // row, which would band every null doc into one shared bucket. A null
    // text has no content to match, so dropping it loses no pair.
    widened(df.where(col(textCol).isNotNull))
      .select(col(idCol).as("__did"), sig.as("__s"))
      .select(col("__did") +:
        (0 until numHashes).map(i =>
          col("__s").getField("sigs").getItem(i).as(s"h$i")) :+
        col("__s").getField("n").as("__n"): _*)
  }

  /** Duplicate-cluster edges at scale: representative-level near-dup pairs ∪
    * exact-duplicate membership edges — linear in corpus size even when dup
    * groups are huge; `connectedComponents` over these edges yields the same
    * components as over the fully-expanded pair set. One membership pass
    * feeds both branches.
    */
  def minHashLshClusterEdges(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 63, bands: Int = 21,
      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame = {
    val m = membershipIfDups(df, idCol, md5(col(textCol).cast("binary")))
    val repPairs = minHashLshPairsWith(df, m, idCol, textCol, shingleN,
        numHashes, bands, threshold, maxBucket, expandDuplicates = false)
      .select(col("ia"), col("ib"))
    m match {
      case None => repPairs // duplicate-free: no membership edges to add
      case Some(mm) =>
        val memberEdges = mm.filter(col("__rep") =!= col("__mid"))
          .select(col("__rep").as("ia"), col("__mid").as("ib"))
        released(repPairs.union(memberEdges), mm)
    }
  }

  /** SemDeDup semantic pruning (Abbas et al. 2023, arXiv:2303.09540) in its
    * production shape: k-means-cluster the embedding space, generate
    * near-dup candidate pairs only WITHIN a cluster (equi-join on
    * `cluster_id` — never a corpus cross join), resolve the ≥-threshold
    * pair graph to connected components, and keep exactly one exemplar per
    * component — the member LEAST cosine-similar to its cluster centroid
    * (the paper's "low" policy: prototypical near-copies are pruned, the
    * outlier carrying the most signal survives). Every input row comes
    * back as (id, component, keep 0/1); singletons keep themselves.
    *
    * Scale contract: pair work is Σ cᵢ² over cluster sizes, so k is THE
    * knob — hold k ∝ corpus/target-cluster-size (the paper runs 50k
    * clusters at LAION scale) and per-cluster size stays flat, making
    * total pair work grow LINEARLY with the corpus. A fixed k under a
    * growing corpus grows pair work quadratically (ScaleBench's
    * semdedup section measures exactly that contrast). The k-row
    * centroid frame stays broadcast; components run through the hybrid
    * union-find / iterated-join CC.
    */
  def semanticPrune(corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, simThreshold: Double): DataFrame =
    semanticPrune(corpus, idCol, vecCol,
      IvfIndex.train(corpus, vecCol, nlist = nClusters), simThreshold)

  /** Within-cluster pair-join parallelism: the a-side is sliced by id hash
    * and the b-side replicated once per slice, so one cluster's c² pair
    * work spreads over this many tasks instead of one.
    */
  private val PairSlices = 16L

  /** `semanticPrune` over a pre-trained quantizer — build and prune cost
    * separate (the trainer is reusable across corpus versions).
    */
  def semanticPrune(corpus: DataFrame, idCol: String, vecCol: String,
      model: IvfIndex.Model, simThreshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.vfn
    val spark = corpus.sparkSession
    import spark.implicits._
    // the O(n·k·d) assignment argmin feeds three consumers (both pair
    // sides and the final labeling) — persist it once instead of paying
    // the argmin per consumer; released after the output materializes. A
    // standing deployment materializes the assigned layout to storage
    // instead (`IvfIndex.write`) and amortizes it across corpus versions.
    val assigned = IvfIndex.assign(corpus, vecCol, model)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SLICED self-join: joining on cluster_id alone gives at most one task
    // per cluster — a big cluster serializes its c² pair work on one core
    // (and AQE's input-size coalescing makes it worse: the join EXPANDS
    // after the shuffle read, so small map outputs get coalesced into a
    // few giant tasks; measured 2 tasks for a 24-cluster corpus). Slicing
    // the a-side by id hash and replicating the b-side once per slice
    // keys the shuffle on (cluster_id, slice): pair work is unchanged,
    // max task cost drops ×SliceFactor, and every (x, y) pair still meets
    // exactly once — through x's slice.
    val a = assigned.select(col("cluster_id"), col(idCol).as("ia"),
        col(vecCol).as("va"))
      .withColumn("__slice", pmod(xxhash64(col("ia")), lit(PairSlices)))
    val b = assigned.select(col("cluster_id"), col(idCol).as("ib"),
        col(vecCol).as("vb"))
      .withColumn("__slice", explode(sequence(lit(0L), lit(PairSlices - 1L))))
    val edges = a.join(b, Seq("cluster_id", "__slice"))
      .filter(col("ia") < col("ib"))
      .filter(lit(1.0) - vfn.cosDist(col("va"), col("vb")) >= simThreshold)
      .select(col("ia"), col("ib"))
    val comp = connectedComponents(edges)
      .select(col("node").as(idCol), col("component"))
    val cents = model.centroids.toSeq.map(_.toSeq).zipWithIndex
      .map { case (cv, i) => (i, cv) }.toDF("cluster_id", "__cv")
      .select(col("cluster_id"), col("__cv").cast("array<float>").as("__cv"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__csim").asc, col(idCol).asc)
    released(assigned.join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .join(broadcast(cents), Seq("cluster_id"))
      .withColumn("__csim", lit(1.0) - vfn.cosDist(col(vecCol), col("__cv")))
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select(col(idCol), col("component"), col("keep")), assigned)
  }

  /** Embedding-cosine near-dup pairs at scale: random-hyperplane LSH bucket
    * collisions generate candidates (no all-pairs), exact cosine similarity
    * verifies — the scale path the all-pairs `embed_neardup` baseline
    * validates. Multi-probe on one side widens recall like AnnLsh.search.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
      simThreshold: Double, numTables: Int = 8, nbits: Int = 6,
      seed: Long = 42L, maxBucket: Int = 100000,
      expandDuplicates: Boolean = true, dim: Int = -1): DataFrame = {
    import graft.functions.vfn
    val all = df.select(col(idCol).as("__did"), col(vecCol).as("__v"))
    val d = inferDim(all, dim)
    if (d <= 0) // empty input: no pairs, id types preserved
      return all.select(col("__did").as("ia"), col("__did").as("ib"),
        lit(1.0).as("sim")).limit(0)
    // exact-dup pre-pass on the vector digest (md5 of the JSON form — only a
    // grouping key, never compared across engines); None ⇒ duplicate-free
    // corpus, whole rep/expand machinery skipped
    val m = membershipIfDups(df, idCol, md5(to_json(struct(col(vecCol)))))
    val reps = m.fold(all)(mm => all.join(dupNonReps(mm, "__did"), Seq("__did"), "left_anti"))
    // shares AnnLsh's hyperplane/signature/multi-probe machinery — one LSH
    // implementation, two call sites (KNN and near-dup). The plain and
    // multi-probed join sides each compute the hyperplane projections —
    // deliberately NOT persisted+forced: the projections are numTables dot
    // products per vector (a cheap map), and the forcing barrier was
    // measured consistently SLOWER at sf0.1 than the duplicate pass (the
    // same trade as the cross-corpus signature kernels). Re-confirmed by an
    // r13 same-window A/B at both widths: without barrier 2.65 s @32c /
    // 2.83 s @8c, with 3.29 / 2.78 — the r12 driver's 0.87× was host noise
    // (the r13 quiet-window full run has this query at 1.77 s vs r11's
    // 2.50).
    val pl = AnnLsh.planesFor(d, numTables, nbits, seed)
    val sigs = capBuckets(
      AnnLsh.signaturesFor(reps, "__v", Seq("__did", "__v"), pl),
      Seq("__table", "__bucket"), maxBucket)
    val probed = AnnLsh.multiProbe(sigs, nbits)
    val repPairs = sigs.as("x").join(probed.as("y"), Seq("__table", "__bucket"))
      .filter(col("x.__did") < col("y.__did"))
      .select(col("x.__did").as("ia"), col("y.__did").as("ib"),
        col("x.__v").as("va"), col("y.__v").as("vb"))
      .distinct()
    val pairs = m match {
      case Some(mm) if expandDuplicates =>
        // sim is symmetric — no vector swap needed in the cross expansion
        val cross = expandCross(repPairs, mm, Seq("va", "vb"))
        val within = withinGroupPairs(mm)
          .join(all.as("bv"), col("ia") === col("bv.__did"))
          .select(col("ia"), col("ib"),
            col("bv.__v").as("va"), col("bv.__v").as("vb"))
        cross.union(within).distinct()
      case _ => repPairs
    }
    val out = pairs
      .withColumn("sim", lit(1.0) - vfn.cosDist(col("va"), col("vb")))
      .filter(col("sim") >= simThreshold)
      .select(col("ia"), col("ib"), col("sim"))
    released(out, m.toSeq: _*)
  }

  /** Cross-corpus SEMANTIC leakage scan at scale: training vectors whose
    * cosine similarity against any eval/reference vector meets the
    * threshold — the embedding-space counterpart of `crossCorpusNearDup`
    * (n-gram decontamination misses paraphrases; embeddings don't).
    * Random-hyperplane LSH bucket collisions generate candidates (A×B
    * band join, never a self-join — no within-corpus pairs arise), exact
    * cosine verifies. Multi-probe on the eval side widens recall; recall
    * is gated in spec against the brute-force cross join (`embed_leakage`
    * is the oracled exactness baseline).
    *
    * No exact-dup pre-pass: the self-join quadratic (a 10⁶-identical
    * cluster meeting ITSELF) cannot arise in A×B — identical train vectors
    * each meeting an eval match is output-proportional, and hot buckets
    * are capped per side. Output: (ia = train id, ib = eval id, sim).
    */
  def crossEmbeddingLeakage(train: DataFrame, trainId: String, trainVec: String,
      ref: DataFrame, refId: String, refVec: String, simThreshold: Double,
      numTables: Int = 8, nbits: Int = 6, seed: Long = 42L,
      maxBucket: Int = 100000, dim: Int = -1): DataFrame = {
    import graft.functions.vfn
    val a = train.select(col(trainId).as("__did"), col(trainVec).as("__v"))
    val b = ref.select(col(refId).as("__did"), col(refVec).as("__v"))
    val d = inferDim(a, dim)
    if (d <= 0) // empty train side: no leakage pairs, both id types preserved
      return a.select(col("__did").as("ia")).limit(0)
        .crossJoin(b.select(col("__did").as("ib")).limit(0))
        .withColumn("sim", lit(1.0))
    val pl = AnnLsh.planesFor(d, numTables, nbits, seed)
    val sa = capBuckets(AnnLsh.signaturesFor(a, "__v", Seq("__did", "__v"), pl),
      Seq("__table", "__bucket"), maxBucket)
    val sb = capBuckets(AnnLsh.signaturesFor(b, "__v", Seq("__did", "__v"), pl),
      Seq("__table", "__bucket"), maxBucket)
    AnnLsh.multiProbe(sb, nbits).as("y")
      .join(sa.as("x"), Seq("__table", "__bucket"))
      .select(col("x.__did").as("ia"), col("y.__did").as("ib"),
        col("x.__v").as("va"), col("y.__v").as("vb"))
      .distinct()
      .withColumn("sim", lit(1.0) - vfn.cosDist(col("va"), col("vb")))
      .filter(col("sim") >= simThreshold)
      .select(col("ia"), col("ib"), col("sim"))
  }

  /** 60-bit SimHash per doc: sign of per-bit vote sums over token hashes.
    * The per-token hash is the 15-nibble prefix of md5 (not xxhash64): md5 is
    * the one hash both Spark and external SQL engines share, which makes the
    * whole pipeline oracle-replayable (bit j of a token's hash = bit (j mod 4)
    * of hex nibble (j div 4)). 60 vs 64 bits costs nothing measurable in
    * near-dup precision.
    */
  val SimHashBits = 60

  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // per-row SimHash60 kernel: one codegen map pass computing the md5-nibble
    // bit votes and the sign reduction in-row — value-identical to the
    // explode + 60-sum aggregation it replaces (the 60-bit value packs md5
    // hex nibble d at bits (14−d)·4..(14−d)·4+3, exactly the formulation the
    // oracle replays), with no token explode and no signature exchange.
    // widened: the per-token md5 map cost must not inherit a narrow
    // small-file scan's parallelism (see `widened`). Null-text docs emit no
    // row — the explode+aggregate row set (they'd otherwise share one
    // degenerate NULL-signature bucket in every chunk)
    widened(df.where(col(textCol).isNotNull)).select(col(idCol).as("__did"),
      graft.functions.vfn.simhash60(split(col(textCol), " ")).as("simhash"))

  /** SimHash near-dup pairs: banded on 4×15-bit chunks (a pair within
    * hamming distance 3 must agree on ≥1 chunk — pigeonhole), verified with
    * bit_count(xor) ≤ maxHamming. Banding is LOSSLESS for maxHamming ≤ 3, so
    * the result is identical to the all-pairs scan an oracle runs.
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000,
      expandDuplicates: Boolean = true): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding is only lossless for maxHamming <= 3")
    val m = membershipIfDups(df, idCol, md5(col(textCol).cast("binary")))
    val reps = m.fold(df)(mm => df.join(dupNonReps(mm, idCol), Seq(idCol), "left_anti"))
    val sigs = simHash(reps, idCol, textCol)
    // persist + FORCE the chunked signatures before the self-join: the two
    // join sides are separate plan subtrees whose shuffle stages AQE submits
    // concurrently, so without this the whole per-token md5 + 60-vote-sum
    // aggregation runs twice, racing on the same cores (measured as the two
    // largest stages of simhash_pairs at sf0.1). Cache is 4 rows/doc of
    // (id, simhash, chunk, cv) — linear, MEMORY_AND_DISK spills at scale.
    val chunks = capBuckets(
      sigs.select(col("__did"), col("simhash"),
          explode(expr("transform(sequence(0, 3), c -> " +
            "struct(c AS chunk, shiftright(simhash, c * 15) & 32767 AS cv))")).as("e"))
        .select(col("__did"), col("simhash"), col("e.chunk").as("chunk"), col("e.cv").as("cv")),
      Seq("chunk", "cv"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunks.count()
    val repPairs = chunks.as("a").join(chunks.as("b"), Seq("chunk", "cv"))
      .filter(col("a.__did") < col("b.__did"))
      .select(col("a.__did").as("ia"), col("b.__did").as("ib"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("ia"), col("ib"), col("hamming"))
    m match {
      case Some(mm) if expandDuplicates =>
        // cross-group member pairs inherit the rep pair's hamming (identical
        // texts ⇒ identical signatures); within-group pairs are hamming 0.
        // Left joins against the dup-only frame: singleton reps coalesce to
        // themselves.
        val cross = expandCross(repPairs, mm, Seq("hamming"))
        val within = withinGroupPairs(mm).withColumn("hamming", lit(0L))
        released(cross.union(within).distinct(), mm, chunks)
      case Some(mm) => released(repPairs, mm, chunks) // reps derive from mm's anti-join
      case None => released(repPairs, chunks)
    }
  }

  /** Duplicate-cluster resolution: connected components over near-dup pairs.
    * Output: (node, component) where component = smallest member id, i.e.
    * the survivor a keep-one-per-cluster policy retains.
    *
    * Hybrid (like the quantizer trainer): a bounded pair set resolves with
    * driver-side union-find in one pass (union-find tolerates duplicate and
    * undirected edges, so no union/distinct pre-shuffle). A pair set past
    * the bound, or with an id type the driver cannot order like Spark does,
    * runs `connectedComponentsStars`, whose round count grows with log² of
    * the node count rather than with the graph's diameter.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val cached = pairs.select(col("ia"), col("ib")).cache()
    val edgeCount = cached.count()
    // the local path must be generic over the id type: the engine uses string
    // doc ids, testdata uses longs — a hard getLong would make behavior (CCE
    // vs success) depend on edge COUNT, since only small sets take this path
    val idType = cached.schema.head.dataType
    val localOrd: Option[Ordering[Any]] = idType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType =>
        Some(Ordering.by((x: Any) => x.asInstanceOf[Number].longValue))
      case org.apache.spark.sql.types.StringType =>
        // UTF8String binary order, NOT String.compareTo (UTF-16 code units):
        // the star rounds' least()/min() compare UTF-8 bytes, and the
        // elected component label must not depend on which path ran
        Some(Ordering.by((x: Any) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String])))
      case _ => None // exotic id type: the star rounds handle it via least()
    }
    localOrd match {
      case Some(ord) if edgeCount <= 1000000L => unionFindComponents(cached, ord)
      case _ => try connectedComponentsStars(cached) finally cached.unpersist()
    }
  }

  /** `connectedComponents`' driver branch over the cached (ia, ib) pairs,
    * which it releases; `ord` must order ids the way Spark's min() does.
    */
  private def unionFindComponents(cached: DataFrame, ord: Ordering[Any]): DataFrame = {
    val idType = cached.schema.head.dataType
    val localEdges = cached.collect().map(r => (r.get(0), r.get(1)))
    cached.unpersist()
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    localEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb) // min label wins
    }
    val nodes = localEdges.flatMap(e => Seq(e._1, e._2)).distinct
    val rows: java.util.List[org.apache.spark.sql.Row] =
      nodes.map(n => org.apache.spark.sql.Row(n, find(n))).toSeq.asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    cached.sparkSession.createDataFrame(rows, schema)
  }

  /** Connected components via alternating large-star/small-star rounds
    * (the MapReduce CC algorithm with O(log²·n) round convergence): a path
    * graph of 10⁵ nodes, which min-label propagation would need 10⁵ rounds
    * for, contracts in ~log² rounds.
    *
    * Each round is two rounds of (groupBy-min + join) over the edge set —
    * all shuffles on node id, no driver-side graph. Output: (node,
    * component) with component = min member id, matching
    * `connectedComponents`' union-find branch.
    */
  def connectedComponentsStars(pairs: DataFrame, maxRounds: Int = 40): DataFrame = {
    // canonical undirected edges
    val canon = pairs
      .select(least(col("ia"), col("ib")).as("u"), greatest(col("ia"), col("ib")).as("v"))
    // remember every node up front, a self-loop's included: star rounds
    // contract edges away, and a node left without an edge must still get a
    // label row
    val allNodes = canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node"))).distinct().cache()
    allNodes.count()
    var edges = canon.filter(col("u") =!= col("v")).distinct().cache()

    // large-star: every neighbor LARGER than u links to min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = nbr.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      nbr.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: direct edges high→low; every low neighbor (and u) links to
    // the minimum low neighbor
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("hi"), least(col("u"), col("v")).as("lo"))
      val mins = dir.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val linked = dir.join(mins, "hi")
        .select(col("lo").as("u"), col("m").as("v"))
        .union(mins.select(col("m").as("u"), col("hi").as("v")))
      linked
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def checksum(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free (ANSI mode rejects a
      // plain sum of hashes); edges are distinct so xor cannot cancel dups
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var round = 0
    var converged = false
    var sig = checksum(edges)
    while (!converged && round < maxRounds) {
      // localCheckpoint TRUNCATES the lineage: each round's plan references
      // the previous round's frame several times (unions/self-joins), so an
      // un-truncated logical plan grows exponentially with rounds and OOMs
      // the driver on plan strings alone by round ~15
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = checksum(next)
      edges.unpersist()
      edges = next
      converged = nextSig == sig
      sig = nextSig
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star rounds did not converge in $maxRounds rounds — refusing to " +
          "return a partially-contracted forest")
    // fixpoint is a star forest: every edge is (root, member) with root = min
    // (min-agg is a no-op at a true fixpoint; defensive against ties)
    val labels = edges.groupBy(col("v").as("node")).agg(min(col("u")).as("component"))
    val roots = allNodes.join(labels, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    released(labels.union(roots), allNodes)
  }

  /** Document fingerprint: lexicographic-min md5 over word 5-gram shingles
    * (winnowing-style digest; exact dups — and near-dups sharing the minimal
    * shingle — collide). md5 (vs xxhash64) keeps the digest replayable by
    * any SQL engine; the min is over fixed-width lowercase hex, so
    * lexicographic order is consistent everywhere.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String, n: Int = 5): DataFrame =
    shingles(df, idCol, textCol, n)
      .groupBy(col("__did"))
      .agg(min(md5(col("s").cast("binary"))).as("fingerprint"))

  /** Character-level long-substring dedup (the ExactSubstr construction of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — public literature): all doc pairs sharing at least one
    * `gramLen`-character substring, with the count of DISTINCT shared
    * grams. Catches verbatim boilerplate/quotation overlap that token-level
    * shingles dilute. Docs shorter than `gramLen` emit nothing.
    *
    * Scale: the same two defenses as the MinHash pipeline — (1) the
    * exact-dup pre-pass collapses byte-identical clusters BEFORE the gram
    * join (a 10⁶-identical-doc cluster contributes ONE doc to the join;
    * its quadratic pair set is emitted directly from group membership,
    * which is required output, not intermediate state); (2) gram
    * construction is a stride-1 sliding window — linear in corpus chars —
    * and the equi-join key (40 raw chars) is high-cardinality, so bucket
    * skew is boilerplate-driven and surfaces in counts rather than
    * exploding candidates. Output: (ia, ib, n_shared).
    *
    * `hashedJoinKey`: shuffle xxhash64(gram) instead of the raw gram
    * string — the gram rows are corpus-chars-sized (≈ text bytes × 1 row
    * per char), so at 10⁹+ gram rows the raw-string shuffle (~48 B/row
    * twice, self-join) exceeds a host's spill disk where the 8-byte hash
    * fits comfortably (the 1000×-doc ScaleBench row found exactly this:
    * the exact-string join died on spill space at ~1.3e9 gram rows). The
    * trade, stated: a 64-bit collision between two DIFFERENT grams of two
    * docs inflates that pair's n_shared by 1 (probability ≈ g²/2⁶⁵ per
    * doc-pair gram universe — ~1e-7 at a million distinct grams), and a
    * collision is the only way a pair can appear with zero truly-shared
    * grams. The default stays the exact string join (the oracle-gated
    * declared form); big-corpus callers opt in.
    *
    * `sampleShift`: keep only grams whose xxhash64 has `sampleShift` low
    * zero bits (rate p = 2^-shift) — the gram-SAMPLING analog of the
    * suffix-array dedup literature's seed sampling, cutting shuffle bytes
    * ∝ p. Detection stays probabilistically complete for LONG overlaps:
    * two docs sharing a run of gramLen+k chars share k+1 consecutive
    * grams, every doc samples the SAME grams (the predicate is a pure
    * hash of gram content), so the overlap is missed only if all k+1
    * grams miss the sample — P(miss) = (1-p)^(k+1) (~1.7e-4 for k = 64 at
    * p = 1/8; DedupSpec gates this). With sampling, n_shared counts
    * SAMPLED shared grams (≈ p × the exact count); pairs sharing fewer
    * than ~1/p gram positions may drop out — by construction this is the
    * long-overlap detector, not the near-dup scorer (minhash covers
    * that). Default 0 = exact (the declared oracle form).
    */
  def charGramPairs(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int, hashedJoinKey: Boolean = false,
      sampleShift: Int = 0): DataFrame = {
    require(gramLen >= 2, s"gramLen must be >= 2, got $gramLen")
    require(sampleShift >= 0 && sampleShift < 32,
      s"sampleShift must be in [0, 32), got $sampleShift")
    val base = widened(df)
      .select(col(idCol).as("__did"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= gramLen)
    val mmOpt = membershipIfDups(base, "__did", md5(col("__t")))
    val reps = mmOpt match {
      case Some(mm) => base.join(dupNonReps(mm, "__did"), Seq("__did"), "left_anti")
      case None => base
    }
    // codegen CharGrams kernel: the transform(sequence, i -> substring(...))
    // form re-walks the string from byte 0 per gram (UTF-8 char addressing)
    // — O(chars²) per doc, measured as substr_dedup's dominant stage
    val gramCol = explode(array_distinct(
      graft.functions.vfn.charGrams(col("__t"), gramLen))).as("__g")
    val occ = reps.select(col("__did"), gramCol)
    // the sampling predicate runs BEFORE the persist/shuffle — cached and
    // exchanged bytes scale with p, which is the entire point
    val sampled = if (sampleShift == 0) occ
      else occ.filter(
        xxhash64(col("__g")).bitwiseAND(lit((1L << sampleShift) - 1)) === 0L)
    // hash-partition by the join key BEFORE the persist (guide §2.4: two
    // operations keyed the same way share one exchange): the self-join's
    // required distribution is then satisfied by the cache's own
    // partitioning, so the join adds NO exchange — the gram stream (corpus-
    // chars-sized, the pipeline's largest frame) is shuffled once in the
    // cache build instead of twice more by the join's a/b sides (measured
    // at sf0.1: two 28 MB exchanges of 1.29M gram rows each, gone). The
    // partition count is the session shuffle width — scale-adaptive, not
    // local-tuned.
    val grams = sampled
      .select(col("__did"),
        (if (hashedJoinKey) xxhash64(col("__g")) else col("__g")).as("s"))
      .repartition(col("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // force: AQE submits the self-join sides' shuffle stages concurrently,
    // and concurrent first readers of a lazy cache each recompute the full
    // sliding-window gram explode (measured as the two largest stages of
    // substr_dedup at sf0.1 — the persist alone did not deduplicate them);
    // with the keyed cache the force rides the one exchange the build pays
    // anyway. (r13 A/B, this host, quiet windows: WITH force 2.48/2.57 s
    // @32c, 2.30 s @8c; WITHOUT 2.62/3.62 s @32c, 1.89/2.78 s @8c — the
    // lazy-cache fill is raced by the join's two readers and the timings
    // swing ±45%; the barrier costs nothing stable and removes the race.)
    grams.count()
    val repPairs = grams.as("a").join(grams.as("b"), "s")
      .filter(col("a.__did") < col("b.__did"))
      .groupBy(col("a.__did").as("ia"), col("b.__did").as("ib"))
      .agg(count(lit(1)).as("n_shared"))
    mmOpt match {
      case Some(mm) =>
        // cross-group: identical texts have identical gram sets, so every
        // member pair inherits its rep pair's count verbatim
        val cross = expandCross(repPairs, mm, Seq("n_shared"))
        // within-group: a pair of identical docs shares ALL of the doc's
        // distinct grams
        val gramCounts = grams.groupBy(col("__did"))
          .agg(count(lit(1)).as("n_shared"))
        val within = withinGroupPairs(mm, keepRep = true)
          .join(gramCounts, col("__rep") === gramCounts("__did"))
          .select(col("ia"), col("ib"), col("n_shared"))
        released(cross.union(within), grams, mm)
      case None => released(repPairs, grams)
    }
  }

  /** Passage-level boilerplate SCRUB — the transform that REMOVES
    * cross-document duplicated passages from each doc's text (the
    * RefinedWeb/CCNet line-dedup shape, on fixed `n`-token passages since
    * the corpus has no line structure; `passage_dedup` only DETECTS them).
    * A passage is scrubbed when it appears verbatim in ≥ `minDocs` distinct
    * docs; the ≤ n−1 tail tokens past the last full passage can never be a
    * shared passage and are kept verbatim. Output: (id, clean_text) for
    * every input doc — docs that were entirely boilerplate come back empty.
    *
    * Scale: three linear shuffles — the distinct-doc count per passage
    * (two-phase aggregate on the passage key), the anti-join of passage
    * occurrences against the duplicated set (same key, exchange reused),
    * and the per-doc reassembly groupBy. No pair enumeration anywhere: a
    * passage shared by 10⁶ docs costs 10⁶ occurrence rows, not 10¹² pairs,
    * so the exact-dup pre-pass the pair pipelines need is unnecessary here.
    */
  def passageScrub(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"passage length must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val prep = widened(df)
      .select(col(idCol).as("__did"), split(col(textCol), " ").as("__toks"))
    // the gram kernel — the dominant map cost of every shingle pipeline —
    // runs on the occurrence lineage ONLY; the reassembly side derives the
    // tail boundary arithmetically (full chunks = size div n)
    val occ = prep.select(col("__did"),
      posexplode(graft.functions.vfn.ngrams(col("__toks"), n, stride = n))
        .as(Seq("pos", "chunk")))
    // distinct-doc counts from in-row-distinct passages: one (chunk, count)
    // aggregation with map-side combine — count(per-doc-distinct rows) ==
    // countDistinct(doc), without the two-phase distinct aggregate and with
    // the doc id never entering the exchange (same shape as Boilerplate's
    // df pass)
    val dup = prep.select(explode(array_distinct(
        graft.functions.vfn.ngrams(col("__toks"), n, stride = n))).as("chunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("chunk"))
    val kept = occ.join(dup, Seq("chunk"), "left_anti")
      .groupBy(col("__did"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("chunk")))),
        x => x("chunk")).as("__kept"))
    val nFull = expr(s"size(__toks) div $n").cast("int")
    prep
      .join(kept, Seq("__did"), "left_outer")
      .select(col("__did"),
        array_join(
          concat(
            coalesce(col("__kept"), typedlit(Seq.empty[String])),
            slice(col("__toks"), nFull * lit(n) + lit(1),
              size(col("__toks")) - nFull * lit(n))),
          " ").as("clean_text"))
  }

  /** The keep-one-per-cluster curation DECISION: given the corpus and the
    * near-dup component labels (`connectedComponents` output — clustered
    * docs only), mark exactly one survivor per cluster — the best-scoring
    * member by `scoreCol` (exact ordering, ties to the smallest id), the
    * policy every dedup pipeline applies after clustering (keep the
    * longest/highest-quality copy, drop the rest). Docs absent from the
    * label frame are singletons: their own component, always kept.
    *
    * Output: all of `df`'s columns + `component` + `keep` (1/0 long).
    *
    * Scale: one equi-join on id (the label frame is one row per CLUSTERED
    * doc — duplicate-graph-sized, not corpus-sized) and one per-component
    * window; component cardinality ≈ corpus size (singletons dominate), so
    * the window shuffle is no hotter than any group-by-key pass, and each
    * partition's heap state is one row per component.
    */
  def resolveKeepBest(df: DataFrame, idCol: String, scoreCol: String,
      clusterLabels: DataFrame): DataFrame = {
    val labels = clusterLabels.select(col("node").as(idCol), col("component"))
    val labeled = df.join(labels, Seq(idCol), "left_outer")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labeled.withColumn("keep",
      when(row_number().over(w) === 1, 1L).otherwise(0L))
  }
}
