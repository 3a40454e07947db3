package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.Json._

/** batch_pipeline: twelve `SparkEntry.queries` over the generated
  * `inputs/sf` tables.
  *
  * Every query run starts in a fresh `spark.newSession()`: the queries
  * memoize trained models and spilled encodings per session (`QueryMemo`),
  * so a fresh session makes each run do the same, cold work. The timed
  * passes (a fixed number, sized from the time) run each query once,
  * writing its output as parquet; with the oracle-input tables the oracles
  * read and the oracle SQL, the last pass's outputs feed the DuckDB replay
  * in `run.py`. The traced run then runs each query twice more, drained to
  * the noop sink: once untraced and once traced (a span per query, with the
  * Spark jobs it ran as children), alternating which goes first; the
  * difference is the tracing overhead.
  */
object Batch {
  val Queries: Seq[String] = Seq(
    "knn_fetch_join", "ivf_knn_probe", "pq_knn", "graph_knn_routed", "nn_join", "embed_neardup",
    "minhash_pairs", "substr_dedup", "decontam_pairs",
    "bpe_encode_ids", "tfidf_top_terms", "image_features")
  // pace assumed when sizing the timed phase: one cold pass over the twelve
  // queries takes about this long on a 4-core host
  final val PassS = 30.0

  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def run(work: String, seconds: Double, trace: Boolean): Value = {
    val t0 = System.nanoTime()
    val load0 = Main.loadAvg1
    val spark = Main.session(work)
    val meter = new SparkMeter(spark)
    val sessionS = Main.secondsSince(t0)
    val canary0 = Main.canaryMs(spark)
    val sf = s"$work/inputs/sf"
    val outDir = s"$work/out"
    val out = mutable.LinkedHashMap.empty[String, Value]
    out("session_s") = Num(sessionS)
    out("setup_s") = Num(sessionS)
    var failed = 0
    var attempted = 0
    val errors = ArrayBuffer.empty[String]
    def guarded(what: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
      }
    }

    /** One query in a fresh session; ms. Its output goes to parquet under
      * `dir`, or to the noop sink when `dir` is null. Traced: a span with
      * the query's Spark jobs as children.
      */
    def runQuery(q: String, tracer: Tracer, dir: String): Double = {
      val fresh = spark.newSession()
      isolate(fresh)
      meter.drain(); meter.takeJobs()
      val id = tracer.peekId
      val s = System.nanoTime()
      tracer.span(s"query.$q", 0)(guarded(q) {
        val w = SparkEntry.queries(q)(fresh, sf).write.mode("overwrite")
        if (dir == null) w.format("noop").save() else w.parquet(s"$dir/$q")
      })
      val ms = (System.nanoTime() - s) / 1e6
      if (tracer.enabled) {
        meter.drain()
        meter.takeJobs().foreach { case (a, b) => tracer.add("spark.job", a, b, id, 0) }
      }
      ms
    }

    // timed passes, untraced: a fixed number, so every run does the same work
    val m0 = meter.snapshot(); meter.takeJobs()
    val gc0 = Main.gcSeconds
    val cpu0 = Main.processCpuNs
    val t2 = System.nanoTime()
    val passes = Seq.fill(math.max(1, math.round(seconds / PassS).toInt)) {
      Queries.map(runQuery(_, new Tracer(false), outDir))
    }
    val timedWall = Main.secondsSince(t2)
    val spark0 = SparkMeter.delta(m0, meter.snapshot())
    out("timed") = Obj.of(
      "wall_s" -> Num(timedWall),
      "cpu_s" -> Num((Main.processCpuNs - cpu0) / 1e9),
      "gc_s" -> Num(Main.gcSeconds - gc0),
      "passes" -> Arr(passes.map(p => Obj(Queries.zip(p).map { case (q, t) => q -> (Num(t): Value) }.toMap))),
      "spark" -> spark0,
      "jobs" -> SparkMeter.intervals(meter.takeJobs()))
    out("live_heap_mb") = Num(Main.liveHeapMb)

    // the tables the oracles of these queries read, and the oracles
    val ta = System.nanoTime()
    val oracles = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val auxDir = Paths.get(s"$work/out_aux").toAbsolutePath.toString
    SparkEntry.oracleInputs.filter { case (n, _) => oracles.values.exists(_.contains(s"{AUX}/$n")) }
      .foreach { case (n, fn) =>
        isolate(spark)
        guarded(s"aux $n")(fn(spark, sf).write.mode("overwrite").parquet(s"$auxDir/$n"))
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), graft.core.Json.write(
      Obj(oracles.map { case (k, v) => k -> (Str(v.replace("{AUX}", auxDir)): Value) })))
    out("aux_s") = Num(Main.secondsSince(ta))

    if (trace) {
      // each query twice more, untraced and traced, each in its fresh
      // session, alternating which goes first, so that JIT and page-cache
      // warm-up favour neither copy across the queries
      val tracer = new Tracer(true)
      val gc1 = Main.gcSeconds
      val perQuery = Queries.zipWithIndex.map { case (q, i) =>
        def traced(): (Double, Value) = {
          val before = meter.snapshot()
          val ms = runQuery(q, tracer, null)
          (ms, SparkMeter.delta(before, meter.snapshot()))
        }
        def untraced(): Double = runQuery(q, new Tracer(false), null)
        val (u, (t, d)) =
          if (i % 2 == 0) { val u = untraced(); (u, traced()) }
          else { val t = traced(); (untraced(), t) }
        q -> Obj.of("ms" -> Num(t), "untraced_ms" -> Num(u), "spark" -> d)
      }
      out("traced") = Obj.of(
        "gc_s" -> Num(Main.gcSeconds - gc1),
        "queries" -> Obj(perQuery.toMap),
        "spans" -> tracer.json)
    }
    val canary1 = Main.canaryMs(spark)
    out("host") = Main.host(Seq(canary0, canary1), Seq(load0, Main.loadAvg1), Main.gcSeconds)
    out("attempted") = Num(attempted)
    out("failed") = Num(failed)
    out("errors") = Arr(errors.toSeq.map(Str(_)))
    spark.stop()
    Obj(out.toMap)
  }

}
