package graft.operators

/** Drops the process-wide serving caches (graph, IVF and PQ cells, point
  * reader blooms and run metadata), so that a new Engine over an existing
  * data root starts as cold as a restarted server. Lives in the program's
  * package because the hooks are package-private; it is compiled into the
  * benchmark harness only.
  */
object ColdStart {
  def dropServingCaches(): Unit = {
    GraphAnn.GraphCache.clear()
    LocalIvfServe.clearCells()
    LocalPqServe.clearCells()
    graft.core.LocalPointReader.invalidateUnder("")
  }
}
