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
