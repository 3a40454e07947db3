package graft.core

/** Core data model, re-expressed from the reference's collection/document
  * abstractions (see SURVEY.md §1; reference `internal/db/collection.go:12-17`
  * and `internal/db/document.go:12-17`). String ids are first-class — the
  * reference's numeric-label mapping (`internal/index/utils.go:18-43`) is a
  * collision-prone quirk we intentionally do not replicate.
  */

/** Distance space (reference `internal/index/const.go:3-8`). */
sealed abstract class SpaceType(val name: String) extends Serializable
object SpaceType {
  case object L2 extends SpaceType("l2")           // squared euclidean (no sqrt)
  case object Ip extends SpaceType("ip")           // negative inner product
  case object Cos extends SpaceType("cos")         // 1 - cosine similarity
  case object Hamming extends SpaceType("hamming") // element-wise != count

  val all: Seq[SpaceType] = Seq(L2, Ip, Cos, Hamming)
  def parse(s: String): SpaceType =
    all.find(_.name == s.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"unknown space type '$s' (expected one of ${all.map(_.name).mkString(", ")})"))
}

/** Index algorithm (reference `internal/index/const.go:10-15`, plus four
  * tiers beyond the reference: `opq` — learned-rotation IVFPQ — `sq` —
  * SQ8 scalar quantization — `bq` — 1-bit binary quantization — and `mrl`
  * — the Matryoshka prefix funnel).
  */
sealed abstract class IndexType(val name: String) extends Serializable
object IndexType {
  case object Flat extends IndexType("flat")
  case object Hnsw extends IndexType("hnsw")   // persisted NSW/HNSW graph (GraphAnn)
  case object IvfFlat extends IndexType("ivf_flat")
  case object IvfPq extends IndexType("ivfpq")
  case object Opq extends IndexType("opq")     // beyond reference: rotated IVFPQ
  case object Sq extends IndexType("sq")       // beyond reference: SQ8 flat
  case object Bq extends IndexType("bq")       // beyond reference: 1-bit sign codes
  case object Mrl extends IndexType("mrl")     // beyond reference: Matryoshka prefix funnel

  val all: Seq[IndexType] = Seq(Flat, Hnsw, IvfFlat, IvfPq, Opq, Sq, Bq, Mrl)
  def parse(s: String): IndexType =
    all.find(_.name == s.toLowerCase).getOrElse(
      throw new IllegalArgumentException(
        s"unknown index type '$s' (expected one of ${all.map(_.name).mkString(", ")})"))
}

/** Collection DDL record (reference `internal/db/collection.go:12-17` +
  * `IndexConfig` `internal/index/index.go:8-13`). Unlike the reference
  * (`collection.go:64-67` silently drops user HNSW params), params are kept
  * and validated.
  */
case class CollectionConfig(
    name: String,
    dimension: Int,
    indexType: IndexType = IndexType.Hnsw, // reference default, collection.go:45-47
    spaceType: SpaceType = SpaceType.L2,   // reference default, collection.go:63
    params: Map[String, String] = Map.empty,
    metadata: Map[String, String] = Map.empty) {
  require(dimension > 0, s"dimension must be positive, got $dimension")
}

/** Client-facing record (reference `internal/db/document.go:12-17`). The
  * engine currency is DataFrame rows with this shape plus LWW bookkeeping
  * columns (version, is_deleted).
  */
case class Document(
    id: String,
    vector: Array[Float],
    params: Map[String, String] = Map.empty)

/** One KNN hit; batch-first: a set of queries in, top-k rows per query out
  * (reference returns parallel arrays, `internal/index/index.go:16-19`).
  */
case class SearchHit(queryId: String, id: String, distance: Double, rank: Long)

/** Why a point search declined its driver-row serve (the request then
  * takes the distributed plan). `key` names the reason's `/v1/metrics`
  * counter, `search_local_declined_<key>`.
  */
sealed abstract class Decline(val key: String)

object Decline {
  /** The layout is missing or older than the store (a write since the build). */
  case object StaleLayout extends Decline("stale_layout")
  /** More queries than `spark.graft.maxLocalServeBatch`. */
  case object OverBatch extends Decline("over_batch")
  /** A query id repeats: the distributed plans merge its rows into one group. */
  case object DuplicateQids extends Decline("duplicate_qids")
  /** The filter's survivor set is over `spark.graft.maxLocalEligibleIds`. */
  case object EligibleOverBudget extends Decline("eligible_over_budget")
  /** A probed cell's files cannot fit the driver cell budget. */
  case object OversizedCell extends Decline("oversized_cell")
  /** A shortlisted id has no row at the layout's stamp (a racing delete). */
  case object UnresolvedShortlist extends Decline("unresolved_shortlist")
  /** The layout's ids are of a type the driver decode does not map. */
  case object UnsupportedIdType extends Decline("unsupported_id_type")
  /** The graph layout's tombstone sidecar is over `spark.graft.maxServedTombstones`. */
  case object TombstonesOverBudget extends Decline("tombstones_over_budget")
  /** The tier has no driver serve (flat, sq, bq, mrl, unrouted hnsw). */
  case object NoLocalServe extends Decline("no_local_serve")

  val all: Seq[Decline] = Seq(StaleLayout, OverBatch, DuplicateQids,
    EligibleOverBudget, OversizedCell, UnresolvedShortlist, UnsupportedIdType,
    TombstonesOverBudget, NoLocalServe)
}
