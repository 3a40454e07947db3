package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, slice}

import graft.core.{CollectionConfig, IndexType, ModelStore, SpaceType}
import graft.core.LocalRunWriter.{BytesCol, FloatsCol, IntsCol, LayoutCol}
import graft.kernels.QuantKernels
import graft.operators.{BinaryQuant, IvfIndex, IvfPq, LocalEncode, Matryoshka, Opq, ScalarQuant}

/** What a maintained append needs of a built tier: the Spark encoder that
  * turns store rows into the tier's layout (or, for hnsw, delta) rows.
  */
private[api] trait LayoutEncoder {
  def encode(df: DataFrame): DataFrame
}

/** A built code tier of one collection: its trained model (none on mrl)
  * bound to the collection's config, which is fixed for the collection's
  * lifetime. Engine caches one per collection.
  */
private[api] abstract class CodeIndex extends LayoutEncoder {
  /** Driver twin of `encode` for one vector — `LocalEncode`'s bit-identical
    * row encoders: (cluster_id, extra layout columns in `encode`'s order).
    */
  def localRow(v: Array[Float]): (Option[Int], Seq[(String, LayoutCol)])
  /** Spark search over encoded rows. `distributed` selects the collect-free
    * KNN-join plan (`searchVectorsDf`) on the tiers that have one.
    */
  def search(encoded: DataFrame, queries: DataFrame, k: Int,
      params: Map[String, Int], distributed: Boolean): DataFrame
  /** Persist the model (SURVEY S8); model-free tiers write nothing. */
  def save(path: String): Unit = ()
}

/** The cell-served family (ivf_flat, ivfpq, opq): a coarse quantizer whose
  * cells the zero-job point serves read from the driver cache.
  */
private[api] abstract class CellIndex extends CodeIndex {
  def coarse: IvfIndex.Model
  /** The PQ model of the code-cell serve; None = ivf_flat's vector cells. */
  def pq: Option[IvfPq.Model] = None
  /** Query transform into the PQ shortlist space (OPQ's rotation). */
  def rotate(v: Array[Float]): Array[Float] = v
  def nprobe(params: Map[String, Int]): Int =
    params.getOrElse("nprobe", math.min(10, coarse.nlist))
}

/** One entry per `IndexType` — the per-tier facts Engine reads after one
  * lookup, the way the reference dispatches once through its `VectorIndex`
  * interface (`internal/index/index.go:22-52`).
  *
  *  - `key`: the layout-dir stem (`<key>_layout[_g<n>]`) and snapshot name
  *    (`<key>.snapshot`) — the names every store was written with; None =
  *    flat, no layout.
  *  - `clustered`: the layout is partitioned by `cluster_id`.
  *  - `params`: the runtime keys `setParams` accepts for the tier.
  */
private[api] sealed abstract class Tier[+I <: LayoutEncoder](
    val key: Option[String], val clustered: Boolean, val params: Set[String]) {
  /** The built index from the model snapshot at `path`. */
  def load(path: String, cfg: CollectionConfig): Option[I] = None
  /** Model-free tiers (hnsw, mrl) are built once a layout dir exists; their
    * index comes from the config alone.
    */
  def modelFree(cfg: CollectionConfig): Option[I] = None
}

/** A tier with a code layout built by `train` (all but flat and hnsw). */
private[api] sealed abstract class CodeTier[+I <: CodeIndex](
    key: String, clustered: Boolean, knob: String)
    extends Tier[I](Some(key), clustered, Set(knob)) {
  /** Train on the live corpus (`nlist` = requested cell count). */
  def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig): I
}

private[api] object Tier {

  def apply(it: IndexType): Tier[LayoutEncoder] = it match {
    case IndexType.Flat => Flat
    case IndexType.Hnsw => Hnsw
    case IndexType.IvfFlat => IvfFlat
    case IndexType.IvfPq => IvfPqTier
    case IndexType.Opq => OpqTier
    case IndexType.Sq => Sq
    case IndexType.Bq => Bq
    case IndexType.Mrl => Mrl
  }

  /** Every runtime key some tier accepts (any other key is unknown). */
  val runtimeKeys: Set[String] = IndexType.all.flatMap(apply(_).params).toSet

  object Flat extends Tier[Nothing](None, false, Set.empty)

  object Hnsw extends Tier[LayoutEncoder](Some("hnsw"), false, Set("efsearch", "routeNprobe")) {
    // the graph tier appends (id, vector, version) rows to its `_delta`
    // sidecar: the version lets a later tombstone shadow superseded
    // incarnations (update-through-delta)
    private val delta = new LayoutEncoder {
      def encode(df: DataFrame): DataFrame =
        df.select(col("id"), col("vector"), col("version"))
    }
    override def modelFree(cfg: CollectionConfig): Option[LayoutEncoder] = Some(delta)
  }

  private def requireNonEmpty(corpus: DataFrame, what: String): Unit =
    require(corpus.limit(1).count() >= 1, s"cannot $what an index on an empty collection")

  /** Cell count: the requested nlist, at most one cell per row. */
  private def cells(corpus: DataFrame, nlist: Int): Int = {
    val k = math.min(nlist.toLong, corpus.count()).toInt
    require(k >= 1, "cannot train an index on an empty collection")
    k
  }

  // l2, ip, and cos (normalized-residual tables) have proper ADC
  // formulations; hamming has none — hard error instead of a silently
  // wrong ranking (the no-silent-fallback rule, SURVEY F5)
  private def requireAdcSpace(name: String, cfg: CollectionConfig): Unit =
    require(cfg.spaceType == SpaceType.L2 || cfg.spaceType == SpaceType.Ip
        || cfg.spaceType == SpaceType.Cos,
      s"$name supports l2, ip, and cos spaces, got ${cfg.spaceType.name}")

  final class IvfFlatIndex(val coarse: IvfIndex.Model) extends CellIndex {
    def encode(df: DataFrame): DataFrame = IvfIndex.assign(df, "vector", coarse)
    def localRow(v: Array[Float]) = (Some(LocalEncode.ivfAssign(v, coarse)), Nil)
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      if (distributed) IvfIndex.searchDistributed(encoded, queries, coarse, k, nprobe(params))
      else IvfIndex.search(encoded, queries, coarse, k, nprobe(params))
    override def save(path: String): Unit = ModelStore.saveIvf(path, coarse)
  }

  object IvfFlat extends CodeTier[IvfFlatIndex]("ivf", true, "nprobe") {
    override def load(path: String, cfg: CollectionConfig) =
      ModelStore.loadIvf(path).map(new IvfFlatIndex(_))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) =
      new IvfFlatIndex(IvfIndex.train(corpus, "vector", cells(corpus, nlist), cfg.spaceType))
  }

  final class PqIndex(m: IvfPq.Model) extends CellIndex {
    def coarse: IvfIndex.Model = m.coarse
    override def pq: Option[IvfPq.Model] = Some(m)
    def encode(df: DataFrame): DataFrame = IvfPq.encode(df, "vector", m)
    def localRow(v: Array[Float]) = {
      val (cid, codes) = LocalEncode.pqRow(v, m)
      (Some(cid), Seq("codes" -> IntsCol(codes)))
    }
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      if (distributed) IvfPq.searchDistributed(encoded, queries, m, k, nprobe(params),
        rerankVecCol = Some("vector"))
      else IvfPq.search(encoded, queries, m, k, nprobe(params), rerankVecCol = Some("vector"))
    override def save(path: String): Unit = ModelStore.savePq(path, m)
  }

  object IvfPqTier extends CodeTier[PqIndex]("pq", true, "nprobe") {
    override def load(path: String, cfg: CollectionConfig) =
      ModelStore.loadPq(path).map(new PqIndex(_))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) = {
      requireAdcSpace("ivfpq", cfg)
      val m = cfg.params.get("m").map(_.toInt).getOrElse(8) // const.go:33-36
      new PqIndex(IvfPq.train(corpus, "vector", cells(corpus, nlist), m = m,
        space = cfg.spaceType))
    }
  }

  final class OpqIndex(m: Opq.Model) extends CellIndex {
    def coarse: IvfIndex.Model = m.pq.coarse
    override def pq: Option[IvfPq.Model] = Some(m.pq)
    // the kernel the codegen MatVecMul calls: the zero-job serve shortlists
    // in rotated space, then re-ranks in ORIGINAL space (Opq.search's shape)
    override def rotate(v: Array[Float]): Array[Float] = QuantKernels.matVecMul(v, m.rotation)
    def encode(df: DataFrame): DataFrame = Opq.encode(df, "vector", m)
    def localRow(v: Array[Float]) = {
      val (rvec, cid, codes) = LocalEncode.opqRow(v, m)
      (Some(cid), Seq("__rvec" -> FloatsCol(rvec), "codes" -> IntsCol(codes)))
    }
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      if (distributed) Opq.searchDistributed(encoded, queries, m, k, nprobe(params))
      else Opq.search(encoded, queries, m, k, nprobe(params))
    override def save(path: String): Unit = ModelStore.saveOpq(path, m)
  }

  object OpqTier extends CodeTier[OpqIndex]("opq", true, "nprobe") {
    override def load(path: String, cfg: CollectionConfig) =
      ModelStore.loadOpq(path).map(new OpqIndex(_))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) = {
      requireAdcSpace("opq", cfg)
      val m = cfg.params.get("m").map(_.toInt).getOrElse(8)
      // opq_full_cov=true: every Procrustes step aggregates the
      // cross-covariance over the WHOLE corpus (treeAggregate) instead of
      // the bounded driver sample — for corpora whose training distribution
      // a sample can't represent
      new OpqIndex(Opq.train(corpus, "vector", cells(corpus, nlist), m = m,
        space = cfg.spaceType,
        rotationFullCovariance = cfg.params.get("opq_full_cov").exists(_.toBoolean)))
    }
  }

  /** The flat-scan code tiers (sq, bq, mrl): a codes-only shortlist scan,
    * then an exact re-rank of `rerankFactor`·k candidates.
    */
  abstract class ScanIndex(rerankFactor: Int) extends CodeIndex {
    def factor(params: Map[String, Int]): Int = params.getOrElse("rerankFactor", rerankFactor)
  }

  final class SqIndex(m: ScalarQuant.Model) extends ScanIndex(4) {
    def encode(df: DataFrame): DataFrame = ScalarQuant.encode(df, "vector", m)
    def localRow(v: Array[Float]) = (None, Seq("sq_code" -> BytesCol(LocalEncode.sqRow(v, m))))
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      ScalarQuant.search(encoded, queries, m, k, rerankVecCol = Some("vector"),
        rerankFactor = factor(params))
    override def save(path: String): Unit = ModelStore.saveSq(path, m)
  }

  object Sq extends CodeTier[SqIndex]("sq", false, "rerankFactor") {
    override def load(path: String, cfg: CollectionConfig) =
      ModelStore.loadSq(path).map(new SqIndex(_))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) = {
      require(cfg.spaceType == SpaceType.L2,
        s"sq supports only the l2 space, got ${cfg.spaceType.name}") // no silent fallback
      requireNonEmpty(corpus, "train")
      new SqIndex(ScalarQuant.train(corpus, "vector"))
    }
  }

  // BQ serves every space: the Hamming shortlist is metric-agnostic
  // candidate generation; the exact re-rank carries cfg.spaceType
  final class BqIndex(m: BinaryQuant.Model, space: SpaceType) extends ScanIndex(8) {
    def encode(df: DataFrame): DataFrame = BinaryQuant.encode(df, "vector", m)
    def localRow(v: Array[Float]) = (None, Seq("bq_code" -> BytesCol(LocalEncode.bqRow(v, m))))
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      BinaryQuant.search(encoded, queries, m, k, space, rerankVecCol = Some("vector"),
        rerankFactor = factor(params))
    override def save(path: String): Unit = ModelStore.saveBq(path, m)
  }

  object Bq extends CodeTier[BqIndex]("bq", false, "rerankFactor") {
    override def load(path: String, cfg: CollectionConfig) =
      ModelStore.loadBq(path).map(new BqIndex(_, cfg.spaceType))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) = {
      requireNonEmpty(corpus, "train")
      new BqIndex(BinaryQuant.train(corpus, "vector"), cfg.spaceType)
    }
  }

  /** Matryoshka prefix tier (arXiv:2205.13147): NO trained model — the
    * "encode" materializes the dimension prefix as its own column, so
    * shortlist scans read prefixDim/dimension of the vector bytes (parquet
    * column pruning); the exact re-rank reads the full vector column of the
    * same layout. Every space works: the shortlist runs the SAME metric
    * over the prefix, the re-rank is exact in cfg.spaceType.
    */
  final class MrlIndex(cfg: CollectionConfig) extends ScanIndex(4) {
    // `prefixDim` collection param, default ¼ of the dimension (min 1) —
    // validated against the dimension here (create accepts params
    // unvalidated, reference parity)
    private val pd = {
      val pd = cfg.params.get("prefixDim").map(_.toInt)
        .getOrElse(math.max(1, cfg.dimension / 4))
      require(pd >= 1 && pd <= cfg.dimension,
        s"prefixDim must be in [1, ${cfg.dimension}], got $pd")
      pd
    }
    def encode(df: DataFrame): DataFrame =
      df.withColumn("mrl_prefix", slice(col("vector").cast("array<float>"), 1, pd))
    // driver twin of encode: `slice(v, 1, pd)` over a float array IS
    // `v.take(pd)` — the same leading floats, bit for bit
    def localRow(v: Array[Float]) = (None, Seq("mrl_prefix" -> FloatsCol(v.take(pd))))
    def search(encoded: DataFrame, queries: DataFrame, k: Int,
        params: Map[String, Int], distributed: Boolean): DataFrame =
      Matryoshka.searchEncoded(encoded, queries, pd, k, cfg.spaceType,
        shortlistFactor = factor(params))
  }

  object Mrl extends CodeTier[MrlIndex]("mrl", false, "rerankFactor") {
    // built-then-STALED keeps the layout dir (staling deletes only the
    // stamp) and serves through the live-corpus fallback like every tier;
    // never-built raises the same notBuilt the model tiers raise via their
    // missing snapshots — no silent worse-than-flat re-slices
    override def modelFree(cfg: CollectionConfig) = Some(new MrlIndex(cfg))
    def train(corpus: DataFrame, nlist: Int, cfg: CollectionConfig) = {
      val index = new MrlIndex(cfg)
      requireNonEmpty(corpus, "build")
      index
    }
  }
}
