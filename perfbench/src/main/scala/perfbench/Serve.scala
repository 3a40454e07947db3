package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.{Engine, Server}
import graft.core.{Document, Json}
import graft.core.Json._

/** The REST serving workload.
  *
  * Set-up: three collections (routed hnsw, ivf_flat, ivfpq) ingested over
  * REST in 1,000-doc batches and built. Then two timed phases of half the
  * time each: a read phase (vectors/search, documents/search and GET with
  * Zipf-drawn query vectors, so the result cache is used) and a mixed phase
  * (bursts of single-doc writes, never-repeated searches and a
  * read-your-write GET). Last, a cold reopen of the data root (recovery),
  * a durability check and the space used.
  *
  * The op streams come from `inputs/ops_read.i32` and `inputs/ops_mixed.i32`,
  * records of four ints (kind, collection, arg, varg). Every response is
  * checked against the benchmark's own copy of the live set.
  */
object Serve {
  final case class Tier(name: String, create: Map[String, String],
      params: Map[String, Int], exactDistances: Boolean)

  val Tiers: Vector[Tier] = Vector(
    Tier("hnsw", Map("routeNlist" -> "32"), Map("routeNprobe" -> 2), exactDistances = true),
    Tier("ivf_flat", Map.empty, Map("nprobe" -> 4), exactDistances = true),
    Tier("ivfpq", Map.empty, Map("nprobe" -> 4), exactDistances = false))

  final val Search = 0
  final val Fetch = 1
  final val Get = 2
  final val Upsert = 3
  final val Delete = 4
  final val K = 10
  // pace assumed when sizing the timed phases (see ServeRun.serve)
  final val ReadOpsPerS = 8.0
  final val BurstS = 3.0
  final val BurstOps = 21

  val OpNames: Vector[String] = Vector("search", "fetch", "get", "write", "write")

  def docId(i: Int): String = s"d$i"

  /** The benchmark's copy of one collection: doc index → vector and tag. */
  final class Live {
    val vecs = ArrayBuffer.empty[Array[Float]]
    val tags = ArrayBuffer.empty[String]
    def set(i: Int, v: Array[Float], tag: String): Unit = {
      while (vecs.size <= i) { vecs += null; tags += null }
      vecs(i) = v; tags(i) = tag
    }
    def del(i: Int): Unit = { vecs(i) = null; tags(i) = null }
    def vec(i: Int): Array[Float] = if (i < vecs.size) vecs(i) else null

    /** Exact L2 top-K doc indexes over the live set, nearest first. */
    def topK(q: Array[Float]): Array[Int] = {
      val bestD = Array.fill(K)(Double.MaxValue)
      val bestI = Array.fill(K)(-1)
      var i = 0
      while (i < vecs.size) {
        val v = vecs(i)
        if (v != null) {
          val d = dist(q, v)
          if (d < bestD(K - 1)) {
            var j = K - 1
            while (j > 0 && bestD(j - 1) > d) { bestD(j) = bestD(j - 1); bestI(j) = bestI(j - 1); j -= 1 }
            bestD(j) = d; bestI(j) = i
          }
        }
        i += 1
      }
      bestI.filter(_ >= 0)
    }
  }

  def dist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  def vecJson(v: Array[Float]): String = {
    val sb = new java.lang.StringBuilder(v.length * 12)
    sb.append('[')
    var i = 0
    while (i < v.length) { if (i > 0) sb.append(','); sb.append(v(i)); i += 1 }
    sb.append(']').toString
  }

  def docJson(id: String, v: Array[Float], tag: String): String =
    s"""{"id":"$id","vector":${vecJson(v)},"parameters":{"tag":"$tag"}}"""

  def userBytes(id: String, dim: Int, tag: String): Long =
    id.length + 4L * dim + "tag".length + tag.length

  /** Bytes and regular files under a directory. */
  def dirUsage(root: String): (Long, Long) = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), p: Path) => (b + Files.size(p), n + 1) }
    finally s.close()
  }

  def run(work: String, seconds: Double, trace: Boolean): Value = {
    val t0 = System.nanoTime()
    val load0 = Main.loadAvg1
    val m = Main.meta(work)
    val dim = m("dim").asInt
    val inputs = s"$work/inputs"
    val spark = Main.session(work)
    val meter = new SparkMeter(spark)
    val sessionS = Main.secondsSince(t0)
    val canary0 = Main.canaryMs(spark)
    val corpus = Main.readFloats(s"$inputs/corpus.f32", dim)
    val tags = Main.readInts(s"$inputs/tags.i32")
    val pool = Main.readFloats(s"$inputs/pool.f32", dim)
    val wvecs = Main.readFloats(s"$inputs/wvecs.f32", dim)
    val mqueries = Main.readFloats(s"$inputs/queries.f32", dim)
    val run = new ServeRun(spark, meter, work, dim, corpus, tags, pool, wvecs, mqueries)
    val out = mutable.LinkedHashMap.empty[String, Value]
    out("session_s") = Num(sessionS)
    run.serve(Main.readInts(s"$inputs/ops_read.i32"), Main.readInts(s"$inputs/ops_mixed.i32"),
      seconds, trace, out)
    out("setup_s") = Num(sessionS + out("ingest_s").asDouble + out("warmup_s").asDouble)
    val canary1 = Main.canaryMs(spark)
    out("host") = Main.host(Seq(canary0, canary1), Seq(load0, Main.loadAvg1), Main.gcSeconds)
    spark.stop()
    Obj(out.toMap)
  }
}

/** One serving run: the engine and server under test, the client, the
  * live-set copies and the recorded samples.
  */
final class ServeRun(
    spark: SparkSession, meter: SparkMeter, work: String, dim: Int,
    corpus: Array[Array[Float]], tags: Array[Int], pool: Array[Array[Float]],
    wvecs: Array[Array[Float]], mqueries: Array[Array[Float]]) {
  import Serve._

  val root = s"$work/data"
  var engine = new Engine(spark, root)
  var server = new Server(engine)
  var http = new Http(server.start())
  val live: Vector[Live] = Tiers.map(_ => new Live)

  // recorded per segment (reset between the untraced and traced halves)
  var lat = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  var recallSum: Array[Double] = Array.fill(Tiers.size)(0.0)
  var recallN: Array[Int] = Array.fill(Tiers.size)(0)
  var tierSearches: Array[Int] = Array.fill(Tiers.size)(0)
  var lookups = 0
  var fetchFirst = 0
  var fetchRepeat = 0
  var reqBytes = 0L
  var respBytes = 0L
  var restCalls = 0L
  var writtenUserBytes = 0L
  var checkNs = 0L
  // traced minus untraced ms of the tracing-overhead probes
  var overheadMs = ArrayBuffer.empty[Double]
  // documents/search keys seen since each collection's last write
  val seen: Vector[mutable.HashSet[Int]] = Tiers.map(_ => mutable.HashSet.empty[Int])
  // doc indexes written in the timed phase, per collection
  val written: Vector[mutable.HashSet[Int]] = Tiers.map(_ => mutable.HashSet.empty[Int])
  var tracer = new Tracer(false)
  var opIndex = 0
  var collIndex = 0

  def resetSegment(): Unit = {
    lat = mutable.LinkedHashMap.empty
    recallSum = Array.fill(Tiers.size)(0.0); recallN = Array.fill(Tiers.size)(0)
    tierSearches = Array.fill(Tiers.size)(0)
    lookups = 0; fetchFirst = 0; fetchRepeat = 0
    reqBytes = 0L; respBytes = 0L; restCalls = 0L; writtenUserBytes = 0L; checkNs = 0L
    overheadMs = ArrayBuffer.empty
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg
  }

  def expect(ok: Boolean, msg: => String): Boolean = { if (!ok) fail(msg); ok }

  /** A REST call outside the timed phase; any status but 200 is a gate
    * failure.
    */
  def admin(method: String, path: String, body: String = null): String = {
    attempted += 1
    val (code, resp) = http.call(method, path, body)
    expect(code == 200, s"$method $path -> $code $resp")
    resp
  }

  def metricsSnapshot(): Value = Json.parse(http.call("GET", "/v1/metrics")._2)

  /** A REST call as the traced run makes every one: a `<layer>.<kind>`
    * span with the Spark jobs the call ran as children, then `Json.parse` of
    * the request body and `Json.writeTo` of the response value, timed as
    * `<json>.parse` and `<json>.emit` spans. Untraced it is the plain call.
    */
  def call(layer: String, json: String, kind: String, method: String, path: String,
      body: String): (Int, String) = {
    val id = tracer.peekId
    val r = tracer.span(s"$layer.$kind", opIndex)(http.call(method, path, body))
    if (tracer.enabled) {
      attachJobs(id)
      if (body != null) tracer.span(s"$json.parse", opIndex)(Json.parse(body))
      if (r._2.nonEmpty) {
        val parsed = Json.parse(r._2)
        tracer.span(s"$json.emit", opIndex)(Json.writeTo(parsed, new java.lang.StringBuilder(r._2.length)))
      }
    }
    r
  }

  /** Timed REST call: latency into `lat(kind)`, bytes into the wire totals. */
  def rest(kind: String, method: String, path: String, body: String): (Int, String) = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = call("rest", "json", kind, method, path, body)
    lat.getOrElseUpdate(s"$kind.${Tiers(collIndex).name}", ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    restCalls += 1; reqBytes += http.reqBytes; respBytes += http.respBytes
    r
  }

  /** Tracing overhead of one read-only REST vectors/search: the same call
    * made untraced and traced, alternating which goes first, each checked.
    * Records traced minus untraced wall time. Its spans are named `probe.*`,
    * so they stay out of the other per-layer figures.
    */
  def overheadProbe(c: Int, q: Array[Float]): Unit = {
    val path = s"/v1/collections/${Tiers(c).name}/vectors/search"
    val on = tracer
    def once(t: Tracer): Double = {
      attempted += 1
      tierSearches(c) += 1
      tracer = t
      val t0 = System.nanoTime()
      val (code, body) = try call("probe", "probe.json", "search", "POST", path, searchBody(q)) finally tracer = on
      val ms = (System.nanoTime() - t0) / 1e6
      checked {
        if (expect(code == 200, s"probe search ${Tiers(c).name} -> $code $body")) {
          val o = Json.parse(body).asObj
          checkHits(c, q, o("ids").asArr.map(_.asStr), o("distances").asArr.map(_.asDouble), "probe search")
        }
      }
      ms
    }
    val off = new Tracer(false)
    overheadMs += (if (opIndex % 2 == 0) { val u = once(off); once(on) - u } else { val t = once(on); t - once(off) })
  }

  /** Direct Engine call, traced as its own span. */
  def direct[T](name: String)(body: => T): T = {
    val id = tracer.peekId
    val r = tracer.span(name, opIndex)(body)
    attachJobs(id)
    r
  }

  def attachJobs(parent: Int): Unit = if (tracer.enabled) {
    meter.drain()
    meter.takeJobs().foreach { case (a, b) => tracer.add("spark.job", a, b, parent, opIndex) }
  }

  def checked[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  // ---- set-up ----

  def createAll(): Unit = Tiers.foreach { t =>
    val ps = t.create.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    admin("POST", "/v1/collections",
      s"""{"name":"${t.name}","dimension":$dim,"index_type":"${t.name}","parameters":{$ps}}""")
  }

  /** Bulk-load the corpus over REST in `chunk`-doc batches, build every tier
    * and set its search params. Returns (load seconds, per-tier build
    * seconds, Spark jobs the builds ran).
    */
  def loadAndBuild(chunk: Int): (Double, Seq[Double], Long) = {
    var loadNs = 0L
    val builds = ArrayBuffer.empty[Double]
    var buildJobs = 0L
    Tiers.indices.foreach { c =>
      val t = Tiers(c)
      corpus.indices.grouped(chunk).foreach { ids =>
        val body = ids.map(i => docJson(docId(i), corpus(i), s"t${tags(i)}")).mkString("""{"documents":[""", ",", "]}")
        val t0 = System.nanoTime()
        admin("POST", s"/v1/collections/${t.name}/documents/batchupsert", body)
        loadNs += System.nanoTime() - t0
      }
      corpus.indices.foreach(i => live(c).set(i, corpus(i), s"t${tags(i)}"))
      val j0 = meter.snapshot()("jobs")
      val t0 = System.nanoTime()
      admin("POST", s"/v1/collections/${t.name}/buildindex", "{}")
      builds += Main.secondsSince(t0)
      buildJobs += meter.snapshot()("jobs") - j0
      val ps = t.params.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      admin("POST", s"/v1/collections/${t.name}/documents/setparams", s"""{"parameters":{$ps}}""")
    }
    (loadNs / 1e9 + builds.sum, builds.toSeq, buildJobs)
  }

  def warmUp(): Unit = Tiers.foreach { t =>
    pool.take(4).foreach(q => admin("POST", s"/v1/collections/${t.name}/vectors/search", searchBody(q)))
  }

  // ---- the op loop ----

  def searchBody(q: Array[Float]): String = s"""{"vector":${vecJson(q)},"limit":$K}"""

  def checkHits(c: Int, q: Array[Float], ids: Seq[String], dists: Seq[Double], what: String): Unit = {
    val l = live(c)
    val exact = l.topK(q)
    if (!expect(ids.size == exact.length, s"$what ${Tiers(c).name}: ${ids.size} hits, want ${exact.length}")) return
    val idx = ids.map(s => if (s.startsWith("d")) s.substring(1).toIntOption.getOrElse(-1) else -1)
    idx.zip(dists).foreach { case (i, d) =>
      val v = if (i >= 0) l.vec(i) else null
      if (expect(v != null, s"$what ${Tiers(c).name}: hit d$i is not live") && Tiers(c).exactDistances) {
        val e = dist(q, v)
        expect(math.abs(d - e) <= 1e-3 * math.max(1.0, e), s"$what ${Tiers(c).name}: d$i distance $d, want $e")
      }
    }
    expect(dists.zip(dists.drop(1)).forall { case (a, b) => a <= b + 1e-6 }, s"$what ${Tiers(c).name}: distances not ascending")
    val ex = exact.toSet
    recallSum(c) += idx.count(ex.contains).toDouble / exact.length
    recallN(c) += 1
  }

  def checkDoc(c: Int, i: Int, o: Map[String, Value], what: String): Unit = {
    val want = live(c).vec(i)
    if (!expect(want != null, s"$what ${Tiers(c).name}: d$i is not live")) return
    val got = o("vector").asArr.map(_.asDouble.toFloat)
    expect(got.length == want.length && got.indices.forall(k => got(k) == want(k)),
      s"$what ${Tiers(c).name}: d$i vector differs from the last acknowledged write")
    val tag = o.get("parameters").map(_.asObj.get("tag").map(_.asStr).orNull).orNull
    expect(tag == live(c).tags(i), s"$what ${Tiers(c).name}: d$i tag $tag, want ${live(c).tags(i)}")
  }

  def checkDocument(c: Int, i: Int, d: Document, what: String): Unit =
    checkDoc(c, i, Map("vector" -> Arr(d.vector.toSeq.map(x => Num(x.toDouble))),
      "parameters" -> Obj(d.params.map { case (k, v) => k -> (Str(v): Value) })), what)

  def parseIdx(id: String): Int = id.substring(1).toInt

  /** Run ops from `from` up to `until` (exclusive), stopping early only at
    * `deadline` (nanoTime); returns the index of the next op.
    */
  def loop(ops: Array[Int], from: Int, until: Int, deadline: Long, mixed: Boolean): Int = {
    var r = from
    var nWrites = 0
    var nFetch = 0
    while (r < until && System.nanoTime() < deadline) {
      val kind = ops(4 * r); val c = ops(4 * r + 1); val arg = ops(4 * r + 2); val varg = ops(4 * r + 3)
      val coll = Tiers(c).name
      opIndex = r
      collIndex = c
      val traced = tracer.enabled
      tracer.span(s"op.${OpNames(kind)}", r) {
        kind match {
          case Serve.Search =>
            val q = if (mixed) mqueries(arg) else pool(arg)
            tierSearches(c) += 1
            def viaRest(): Unit = {
              val (code, body) = rest("search", "POST", s"/v1/collections/$coll/vectors/search", searchBody(q))
              checked {
                if (expect(code == 200, s"search $coll -> $code $body")) {
                  val o = Json.parse(body).asObj
                  checkHits(c, q, o("ids").asArr.map(_.asStr), o("distances").asArr.map(_.asDouble), "search")
                }
              }
            }
            def viaEngine(): Unit = direct("engine.search") {
              engine.searchVectors(coll, Seq(("q", q)), K).collect()
            }
            if (traced && r % 2 == 1) { viaEngine(); tierSearches(c) += 1; viaRest() }
            else if (traced) { viaRest(); viaEngine(); tierSearches(c) += 1 }
            else viaRest()
            if (traced && !mixed) overheadProbe(c, q)
          case Serve.Fetch =>
            val q = pool(arg)
            tierSearches(c) += 1; lookups += 1
            val repeat = !seen(c).add(arg)
            if (repeat) fetchRepeat += 1 else fetchFirst += 1
            nFetch += 1
            if (traced && nFetch % 2 == 0) {
              val hits = direct("engine.search_then_fetch") {
                val h = direct(if (repeat) "engine.search_docs_repeat" else "engine.search_docs_first") {
                  engine.searchDocuments(coll, q, K)
                }
                val docs = direct("engine.fetch")(engine.fetchDocuments(coll, h.map(_.id)))
                (h, docs)
              }
              checked {
                checkHits(c, q, hits._1.map(_.id), hits._1.map(_.distance), "search_docs")
                hits._1.foreach(h => hits._2.get(h.id) match {
                  case Some(d) => checkDocument(c, parseIdx(h.id), d, "fetch")
                  case None => fail(s"fetch $coll: hit ${h.id} not fetched")
                })
              }
            } else {
              val (code, body) = rest("fetch", "POST", s"/v1/collections/$coll/documents/search", searchBody(q))
              checked {
                if (expect(code == 200, s"documents/search $coll -> $code $body")) {
                  val o = Json.parse(body).asObj
                  val docs = o("documents").asArr.map(_.asObj)
                  checkHits(c, q, docs.map(_("id").asStr), o("distances").asArr.map(_.asDouble), "documents/search")
                  docs.foreach(d => checkDoc(c, parseIdx(d("id").asStr), d, "documents/search"))
                }
              }
            }
          case Serve.Get =>
            lookups += 1
            val want = live(c).vec(arg)
            def viaRest(): Unit = {
              val (code, body) = rest("get", "GET", s"/v1/collections/$coll/documents/${docId(arg)}", null)
              checked {
                if (want == null) expect(code == 404, s"get $coll d$arg -> $code, want 404 (deleted)")
                else if (expect(code == 200, s"get $coll d$arg -> $code $body"))
                  checkDoc(c, arg, Json.parse(body).asObj, "get")
              }
            }
            def viaEngine(): Unit = {
              val d = direct("engine.get")(engine.getDocument(coll, docId(arg)))
              checked {
                if (want == null) expect(d.isEmpty, s"engine get $coll d$arg: deleted doc returned")
                else d match {
                  case Some(doc) => checkDocument(c, arg, doc, "engine get")
                  case None => fail(s"engine get $coll d$arg: missing")
                }
              }
            }
            if (traced && r % 2 == 1) { viaEngine(); lookups += 1; viaRest() }
            else if (traced) { viaRest(); viaEngine(); lookups += 1 }
            else viaRest()
          case Serve.Upsert | Serve.Delete =>
            nWrites += 1
            val id = docId(arg)
            val viaEngine = traced && nWrites % 2 == 0
            val ok =
              if (kind == Serve.Upsert) {
                val v = wvecs(varg); val tag = s"w${varg % 64}"
                val ok =
                  if (viaEngine) { direct("engine.upsert")(engine.upsertDocument(coll, Document(id, v, Map("tag" -> tag)))); true }
                  else {
                    val (code, body) = rest("write", "POST", s"/v1/collections/$coll/documents", docJson(id, v, tag))
                    expect(code == 200, s"upsert $coll $id -> $code $body")
                  }
                if (ok) { live(c).set(arg, v, tag); writtenUserBytes += userBytes(id, dim, tag) }
                ok
              } else {
                val ok =
                  if (viaEngine) { direct("engine.delete")(engine.deleteDocument(coll, id)); true }
                  else {
                    val (code, body) = rest("write", "DELETE", s"/v1/collections/$coll/documents/$id", null)
                    expect(code == 200, s"delete $coll $id -> $code $body")
                  }
                if (ok) { live(c).del(arg); writtenUserBytes += id.length }
                ok
              }
            if (viaEngine) attempted += 1
            if (ok) { written(c) += arg; seen(c).clear() }
        }
      }
      r += 1
    }
    r
  }

  // ---- workloads ----

  def latencies: Value = Obj(lat.map { case (k, v) => k -> Main.nums(v) }.toMap)

  /** Everything one timed segment recorded. */
  def segment(t0: Long, m0: Value, s0: Map[String, Long], gc0: Double, cpu0: Long, du0: Long): Value = {
    val wall = Main.secondsSince(t0)
    val s1 = meter.snapshot()
    val jobs = meter.takeJobs()
    val (du1, files1) = Serve.dirUsage(root)
    Obj.of(
      "wall_s" -> Num(wall),
      "check_s" -> Num(checkNs / 1e9),
      "cpu_s" -> Num((Main.processCpuNs - cpu0) / 1e9),
      "latency_ms" -> latencies,
      "recall_sum" -> Main.nums(recallSum), "recall_n" -> Main.nums(recallN.map(_.toDouble)),
      "tier_searches" -> Main.nums(tierSearches.map(_.toDouble)),
      "lookups" -> Num(lookups),
      "fetch_first" -> Num(fetchFirst), "fetch_repeat" -> Num(fetchRepeat),
      "rest_calls" -> Num(restCalls.toDouble),
      "req_bytes" -> Num(reqBytes.toDouble), "resp_bytes" -> Num(respBytes.toDouble),
      "written_user_bytes" -> Num(writtenUserBytes.toDouble),
      "store_bytes_before" -> Num(du0.toDouble),
      "store_bytes" -> Num(du1.toDouble), "store_files" -> Num(files1.toDouble),
      "metrics_before" -> m0, "metrics_after" -> metricsSnapshot(),
      "spark" -> SparkMeter.delta(s0, s1),
      "jobs" -> SparkMeter.intervals(jobs),
      "gc_s" -> Num(Main.gcSeconds - gc0),
      "cache_size" -> Num(engine.cacheSize),
      "overhead_ms" -> Main.nums(overheadMs),
      "spans" -> tracer.json)
  }

  /** One timed phase of a fixed number of ops, so that every run does the
    * same work whatever its pace: untraced, or (trace) an untraced first
    * half and a traced second half, so the traced run also yields the
    * tracing overhead. A phase still running after `limitS` seconds stops
    * early (recorded as `<phase>_ops_run` short of `<phase>_ops`). Records
    * land in `out` as `<phase>_timed` and `<phase>_traced`.
    */
  def phase(name: String, ops: Array[Int], count: Int, limitS: Double, trace: Boolean,
      mixed: Boolean, out: mutable.Map[String, Value]): Unit = {
    val halves = if (trace) Seq(false, true) else Seq(false)
    val total = math.min(count, ops.length / 4)
    val deadline = System.nanoTime() + (limitS * 1e9).toLong
    var next = 0
    halves.zipWithIndex.foreach { case (tr, h) =>
      resetSegment()
      tracer = new Tracer(tr)
      val m0 = metricsSnapshot()
      val s0 = meter.snapshot(); meter.takeJobs()
      val gc0 = Main.gcSeconds
      val cpu0 = Main.processCpuNs
      val du0 = Serve.dirUsage(root)._1
      val t0 = System.nanoTime()
      next = loop(ops, next, total * (h + 1) / halves.size, deadline, mixed)
      out(s"${name}_${if (tr) "traced" else "timed"}") = segment(t0, m0, s0, gc0, cpu0, du0)
    }
    out(s"${name}_ops") = Num(total)
    out(s"${name}_ops_run") = Num(next)
  }

  def serve(readOps: Array[Int], mixedOps: Array[Int], seconds: Double, trace: Boolean,
      out: mutable.Map[String, Value]): Unit = {
    createAll()
    val t0 = System.nanoTime()
    val (loadS, builds, buildJobs) = loadAndBuild(1000)
    out("ingest_s") = Num(Main.secondsSince(t0))
    out("build_s") = Main.nums(builds)
    out("build_jobs") = Num(buildJobs.toDouble)
    out("bulk_s") = Num(loadS - builds.sum)
    out("bulk_docs") = Num(corpus.length.toDouble * Tiers.size)
    val t1 = System.nanoTime()
    warmUp()
    out("warmup_s") = Num(Main.secondsSince(t1))
    // each phase's op count is sized to take about half the time on a
    // 4-core host: ~8 read ops/s, ~3 s per mixed-phase burst
    val readOpsN = 20 * math.max(1, math.round(seconds / 2 * ReadOpsPerS / 20).toInt)
    val bursts = math.max(1, math.round(seconds / 2 / BurstS).toInt)
    phase("read", readOps, readOpsN, 3 * seconds / 2, trace, mixed = false, out)
    phase("mixed", mixedOps, bursts * BurstOps, 3 * seconds / 2, trace, mixed = true, out)
    out("live_heap_mb") = Num(Main.liveHeapMb)
    recoverAndCheck(out)
    out("attempted") = Num(attempted.toDouble)
    out("failed") = Num(failed.toDouble)
    out("errors") = Arr(errors.toSeq.map(Str(_)))
  }

  /** Recovery: stop the server, drop the process-wide serving caches, open
    * a new Engine and Server over the same data root and time them to the
    * first successful search. Then check that every acknowledged write
    * reads back its last value, every acknowledged delete is 404, and
    * measure the space used.
    */
  def recoverAndCheck(out: mutable.Map[String, Value]): Unit = {
    http.close()
    server.stop()
    val t0 = System.nanoTime()
    graft.operators.ColdStart.dropServingCaches()
    engine = new Engine(spark, root)
    server = new Server(engine)
    http = new Http(server.start())
    val (code, body) = http.call("POST", s"/v1/collections/${Tiers(0).name}/vectors/search", searchBody(pool(0)))
    out("recover_s") = Num(Main.secondsSince(t0))
    attempted += 1
    expect(code == 200, s"first search after reopen -> $code $body")
    var checkedIds = 0
    Tiers.indices.foreach { c =>
      written(c).toSeq.sorted.foreach { i =>
        attempted += 1; checkedIds += 1
        val (code, body) = http.call("GET", s"/v1/collections/${Tiers(c).name}/documents/${docId(i)}")
        if (live(c).vec(i) == null) expect(code == 404, s"durability ${Tiers(c).name} d$i -> $code, want 404")
        else if (expect(code == 200, s"durability ${Tiers(c).name} d$i -> $code"))
          checkDoc(c, i, Json.parse(body).asObj, "durability")
      }
    }
    out("durability_checked") = Num(checkedIds)
    val liveBytes = Tiers.indices.map { c =>
      live(c).vecs.indices.filter(i => live(c).vec(i) != null)
        .map(i => Serve.userBytes(docId(i), dim, live(c).tags(i))).sum
    }.sum
    out("space_amp") = Num(Serve.dirUsage(root)._1.toDouble / liveBytes)
    http.close()
    server.stop()
  }
}
