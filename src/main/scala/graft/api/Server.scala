package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.core._
import graft.core.Json

/** REST wire-parity shim over the Engine: the reference's route table and
  * JSON shapes (`internal/server/server.go:25-38`, `types.go`, response
  * bodies per `handlers.go`) on the JDK's built-in HttpServer — a client of
  * the reference can point at this server unchanged.
  *
  * Routes:
  *   GET  /                                       → {"status":"ok"}
  *   POST /v1/collections                          create (dup → 200 message)
  *   GET|DELETE /v1/collections/{name}             get (404) / delete (200 empty)
  *   GET  /v1/collections                          {"collections":[...],"count":n}
  *   POST /v1/collections/{name}/buildindex        (we actually TRAIN — §7.4 fix)
  *   POST /v1/collections/{name}/documents         upsert → doc echo
  *   GET|DELETE /v1/collections/{name}/documents/{id}
  *   POST /v1/collections/{name}/documents/batchupsert
  *   POST /v1/collections/{name}/documents/setparams
  *   POST /v1/collections/{name}/vectors/search    → {"ids":[],"distances":[]}
  *   POST /v1/collections/{name}/documents/search  → {"documents":[...],"distances":[...]}
  */
class Server(engine: Engine, port: Int = 0) {
  import Json._

  // TCP_NODELAY on the built-in HttpServer (read from this property at its
  // class init): headers and body go out in separate writes, and with Nagle
  // on, the second write stalls behind the peer's delayed ACK — a fixed
  // ~40 ms tax on EVERY response that dwarfed the zero-job serve itself
  // (the r10 rest-minus-engine gap). Must be set before the first
  // HttpServer class load; idempotent thereafter.
  Server.ensureNoDelay()

  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  http.setExecutor(null) // serial, matching single-process reference semantics
  http.createContext("/", handle _)

  def start(): Int = { http.start(); http.getAddress.getPort }
  def stop(): Unit = http.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    val segs = path.split("/").filter(_.nonEmpty).toList
    try {
      // a declared oversized body is refused before any of it is read
      val declared = ex.getRequestHeaders.getFirst("Content-Length")
      if (declared != null && declared.toLongOption.exists(_ > Server.MaxBodyBytes))
        throw new Server.BodyTooLarge
      (method, segs) match {
        case ("GET", Nil) => reply(ex, 200, Obj.of("status" -> Str("ok")))
        case ("POST", List("v1", "collections")) => createCollection(ex)
        case ("GET", List("v1", "collections")) => listCollections(ex)
        case ("GET", List("v1", "collections", name)) => getCollection(ex, name)
        case ("DELETE", List("v1", "collections", name)) => deleteCollection(ex, name)
        case ("POST", List("v1", "collections", name, "buildindex")) => buildIndex(ex, name)
        case ("POST", List("v1", "collections", name, "documents")) => upsertDoc(ex, name)
        case ("POST", List("v1", "collections", name, "documents", "batchupsert")) =>
          batchUpsert(ex, name)
        case ("POST", List("v1", "collections", name, "documents", "setparams")) =>
          setParams(ex, name)
        case ("POST", List("v1", "collections", name, "documents", "search")) =>
          searchDocuments(ex, name)
        case ("POST", List("v1", "collections", name, "vectors", "search")) =>
          searchVectors(ex, name)
        case ("GET", List("v1", "collections", name, "documents", id)) => getDoc(ex, name, id)
        case ("DELETE", List("v1", "collections", name, "documents", id)) =>
          deleteDoc(ex, name, id)
        // beyond the reference's table: multi-vector (ColBERT MaxSim)
        // documents — one bag of token vectors per doc, served through the
        // collection's own index tier (Engine.searchMaxSim)
        case ("POST", List("v1", "collections", name, "multivectors")) =>
          upsertMultiVector(ex, name)
        case ("POST", List("v1", "collections", name, "multivectors", "batchupsert")) =>
          batchUpsertMultiVector(ex, name)
        case ("POST", List("v1", "collections", name, "multivectors", "search")) =>
          searchMultiVectors(ex, name)
        case ("DELETE", List("v1", "collections", name, "multivectors", id)) =>
          deleteMultiVector(ex, name, id)
        // beyond the reference's table: serving observability — the
        // driver-local cell cache's residency/hit-rate counters plus the
        // point reader's bloom ledger (run opens vs bloom-pruned skips,
        // bloom residency vs budget)
        case ("GET", List("v1", "metrics")) =>
          reply(ex, 200, Obj((graft.operators.GraphAnn.localServeMetrics ++
            graft.operators.LocalIvfServe.metrics ++
            graft.operators.LocalPqServe.metrics ++
            graft.core.LocalPointReader.metrics ++
            engine.maxSimDocCacheMetrics)
            .map { case (k, v) => k -> (Num(v.toDouble): Value) }))
        case _ => reply(ex, 404, err("route not found"))
      }
    } catch {
      case e: Server.BodyTooLarge => reply(ex, 413, err(e.getMessage))
      case e: NoSuchElementException => reply(ex, 404, err(e.getMessage))
      case e: IllegalArgumentException => reply(ex, 400, err(e.getMessage))
      case e: Exception => reply(ex, 500, err(String.valueOf(e.getMessage)))
    }
  }

  private def err(msg: String): Obj = Obj.of("error" -> Str(msg))

  /** Required body field: missing → 400 bad-request. (A bare `o(key)` throws
    * NoSuchElementException, which the handler reserves for collection/
    * document lookups and maps to 404 — wrong wire code for a malformed body.)
    */
  private def req(o: Map[String, Value], key: String): Value =
    o.getOrElse(key,
      throw new IllegalArgumentException(s"missing required field '$key'"))

  private def body(ex: HttpExchange): Value = {
    // bounded read (a chunked body declares no length): one byte past the
    // cap is enough to refuse it without buffering the rest
    val bytes = ex.getRequestBody.readNBytes(Server.MaxBodyBytes + 1)
    if (bytes.length > Server.MaxBodyBytes) throw new Server.BodyTooLarge
    val raw = new String(bytes, StandardCharsets.UTF_8)
    try parse(raw)
    catch { case e: Exception =>
      throw new IllegalArgumentException(s"invalid json: ${e.getMessage}")
    }
  }

  private def reply(ex: HttpExchange, code: Int, v: Value): Unit = {
    // one streamed emit (Json.writeTo) → one byte[] → one write: the
    // per-node string-concat writer allocated the response several times
    // over on vector-echo bodies
    val sb = new java.lang.StringBuilder(512)
    writeTo(v, sb)
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def replyEmpty(ex: HttpExchange, code: Int): Unit = {
    ex.sendResponseHeaders(code, -1); ex.close() // c.Status(http.StatusOK) parity
  }

  private def vectorOf(v: Value): Array[Float] =
    v.asArr.map(_.asDouble.toFloat).toArray

  private def paramsOf(v: Option[Value]): Map[String, String] =
    v.map(_.asObj.map { case (k, vv) =>
      k -> (vv match { case Str(s) => s; case other => write(other) })
    }).getOrElse(Map.empty)

  // ---- collections ----

  private def createCollection(ex: HttpExchange): Unit = {
    val o = body(ex).asObj
    val name = req(o, "name").asStr
    val dim = req(o, "dimension").asInt
    val cfg = CollectionConfig(
      name, dim,
      o.get("index_type").map(v => IndexType.parse(v.asStr)).getOrElse(IndexType.Hnsw),
      o.get("space_type").map(v => SpaceType.parse(v.asStr)).getOrElse(SpaceType.L2),
      paramsOf(o.get("parameters")))
    if (!engine.createCollection(cfg))
      reply(ex, 200, Obj.of("message" -> Str(s"collection $name already exists"))) // handlers.go:90-93
    else
      reply(ex, 200, Obj.of("name" -> Str(name), "dimension" -> Num(dim),
        "metadata" -> Obj(cfg.metadata.map { case (k, v) => k -> Str(v) })))
  }

  private def getCollection(ex: HttpExchange, name: String): Unit =
    engine.getCollection(name) match {
      case Some(c) => reply(ex, 200, Obj.of("name" -> Str(c.name),
        "dimension" -> Num(c.dimension),
        "metadata" -> Obj(c.metadata.map { case (k, v) => k -> Str(v) })))
      case None => reply(ex, 404, err("collection not found"))
    }

  private def deleteCollection(ex: HttpExchange, name: String): Unit =
    if (engine.dropCollection(name)) replyEmpty(ex, 200)
    else reply(ex, 404, err("collection not found"))

  private def listCollections(ex: HttpExchange): Unit = {
    val names = engine.listCollections()
    reply(ex, 200, Obj.of(
      "collections" -> Arr(names.map(Str(_))),
      "count" -> Num(names.size)))
  }

  private def buildIndex(ex: HttpExchange, name: String): Unit = {
    // reference quirk: this endpoint batch-upserts (`handlers.go:176`); we
    // accept the same body AND actually train afterwards (§7.4 fix)
    val o = body(ex).asObj
    o.get("documents").foreach(ds => doBatchUpsert(name, ds))
    engine.buildIndex(name)
    replyEmpty(ex, 200)
  }

  // ---- documents ----

  private def docJson(d: Document, extra: (String, Value)*): Obj = Obj(
    Map[String, Value](
      "id" -> Str(d.id),
      "vector" -> Arr(d.vector.toSeq.map(f => Num(f.toDouble))),
      "parameters" -> Obj(d.params.map { case (k, v) => k -> Str(v) }),
      "dimension" -> Num(d.vector.length)) ++ extra)

  private def upsertDoc(ex: HttpExchange, name: String): Unit = {
    val o = body(ex).asObj
    val doc = Document(req(o, "id").asStr, vectorOf(req(o, "vector")), paramsOf(o.get("parameters")))
    engine.upsertDocument(name, doc)
    reply(ex, 200, docJson(doc))
  }

  private def doBatchUpsert(name: String, ds: Value): Unit = {
    val docs = ds.asArr.map { dv =>
      val o = dv.asObj
      Document(req(o, "id").asStr, vectorOf(req(o, "vector")), paramsOf(o.get("parameters")))
    }
    engine.batchUpsertDocuments(name, docs)
  }

  private def batchUpsert(ex: HttpExchange, name: String): Unit = {
    doBatchUpsert(name, req(body(ex).asObj, "documents"))
    replyEmpty(ex, 200)
  }

  private def getDoc(ex: HttpExchange, name: String, id: String): Unit =
    engine.getDocument(name, id) match {
      case Some(d) => reply(ex, 200, docJson(d))
      case None => reply(ex, 404, err("document not found"))
    }

  private def deleteDoc(ex: HttpExchange, name: String, id: String): Unit =
    engine.getDocument(name, id) match {
      case Some(_) => engine.deleteDocument(name, id); replyEmpty(ex, 200)
      case None => reply(ex, 404, err("document not found")) // handlers.go:242
    }

  private def setParams(ex: HttpExchange, name: String): Unit = {
    val ps = req(body(ex).asObj, "parameters").asObj.map { case (k, v) => k -> v.asInt }
    engine.setParams(name, ps)
    replyEmpty(ex, 200)
  }

  // ---- search ----

  private def searchVectors(ex: HttpExchange, name: String): Unit = {
    val o = body(ex).asObj
    val vec = vectorOf(req(o, "vector"))
    val limit = o.get("limit").orElse(o.get("top_k")).map(_.asInt).getOrElse(10)
    // rank-sort DRIVER-side: .orderBy over the serving path's local result
    // relation would plan a Sort node Catalyst can't collapse, turning the
    // zero-job point-serve response into one Spark job per request
    val hits = engine.searchVectors(name, Seq(("q", vec)), limit)
      .collect()
      .sortBy(r => r.getLong(r.fieldIndex("rnk")))
      .map(r => (r.getString(r.fieldIndex("id")), r.getDouble(r.fieldIndex("distance"))))
    reply(ex, 200, Obj.of(
      "ids" -> Arr(hits.toSeq.map(h => Str(h._1))),
      "distances" -> Arr(hits.toSeq.map(h => Num(h._2)))))
  }

  // ---- multi-vector (MaxSim) documents ----

  private def vectorsOf(v: Value): Seq[Array[Float]] = v.asArr.map(vectorOf)

  private def upsertMultiVector(ex: HttpExchange, name: String): Unit = {
    val o = body(ex).asObj
    val id = req(o, "id").asStr
    val vecs = vectorsOf(req(o, "vectors"))
    engine.upsertMultiVector(name, id, vecs)
    reply(ex, 200, Obj.of("id" -> Str(id), "num_vectors" -> Num(vecs.size)))
  }

  private def batchUpsertMultiVector(ex: HttpExchange, name: String): Unit = {
    val docs = req(body(ex).asObj, "documents").asArr.map { dv =>
      val o = dv.asObj
      (req(o, "id").asStr, vectorsOf(req(o, "vectors")))
    }
    engine.batchUpsertMultiVector(name, docs)
    replyEmpty(ex, 200)
  }

  private def deleteMultiVector(ex: HttpExchange, name: String, id: String): Unit = {
    engine.deleteMultiVector(name, id) // absent doc → NoSuchElement → 404
    replyEmpty(ex, 200)
  }

  private def searchMultiVectors(ex: HttpExchange, name: String): Unit = {
    val o = body(ex).asObj
    val vecs = vectorsOf(req(o, "vectors"))
    val limit = o.get("limit").orElse(o.get("top_k")).map(_.asInt).getOrElse(10)
    // rank-sort driver-side, same reasoning as searchVectors
    val hits = engine.searchMaxSim(name, Seq(("q", vecs)), limit)
      .collect()
      .sortBy(_.getLong(2))
      .map(r => (r.getString(1), r.getLong(2)))
    if (hits.isEmpty) // document.go:222-225 parity with the search routes
      throw new NoSuchElementException("no satisfied results found")
    reply(ex, 200, Obj.of(
      "ids" -> Arr(hits.toSeq.map(h => Str(h._1))),
      "ranks" -> Arr(hits.toSeq.map(h => Num(h._2.toDouble)))))
  }

  private def searchDocuments(ex: HttpExchange, name: String): Unit = {
    val o = body(ex).asObj
    val vec = vectorOf(req(o, "vector"))
    val limit = o.get("limit").map(_.asInt).getOrElse(10)
    // `include_vectors` (beyond the reference's fields, default TRUE for
    // wire parity — handlers.go:284-301 echoes each hit's vector): false
    // drops the vector/dimension echo, the dominant response bytes when
    // the caller only wants ids + metadata + distances
    val includeVectors = o.get("include_vectors") match {
      case Some(Bool(b)) => b
      case _ => true
    }
    // the reference ACCEPTS filter and ignores it (`document.go:171`); we
    // honor it as equality predicates over params (§7.4 fix)
    val filter = o.get("filter").map(_.asObj).filter(_.nonEmpty).map { f =>
      f.map { case (k, v) =>
        org.apache.spark.sql.functions.col("params")(k) ===
          (v match { case Str(s) => s; case other => write(other) })
      }.reduce(_ && _)
    }
    val hits = engine.searchDocuments(name, vec, limit, filter)
    // fetch all hit documents in ONE batch point-read (the reference's
    // per-hit GetDocument loop is the N+1 shape SURVEY J1 exists to avoid);
    // driver-local footer-pruned parquet reads — no Spark job per request
    val fetched = engine.fetchDocuments(name, hits.map(_.id))
    val docs = hits.flatMap(h => fetched.get(h.id).map { d =>
      if (includeVectors) docJson(d, "distance" -> Num(h.distance))
      else Obj.of(
        "id" -> Str(d.id),
        "parameters" -> Obj(d.params.map { case (k, v) => k -> Str(v) }),
        "distance" -> Num(h.distance))
    })
    reply(ex, 200, Obj.of(
      "documents" -> Arr(docs),
      "distances" -> Arr(hits.map(h => Num(h.distance)))))
  }
}

object Server {
  /** Request-body cap, bytes: far above a 1,000-document batchupsert
    * (~1 MB at 64 dims); a larger body gets a 413 instead of being
    * buffered whole on the heap.
    */
  val MaxBodyBytes: Int = 64 << 20

  private[api] final class BodyTooLarge
      extends Exception(s"request body exceeds $MaxBodyBytes bytes")

  /** `sun.net.httpserver.nodelay` is read ONCE at the HttpServer
    * implementation's class initialization — set it before any server in
    * this JVM is created. Without it, the two-write response (headers,
    * then body) interacts with Nagle + the client's delayed ACK into a
    * fixed ~40 ms floor per request on loopback.
    */
  private lazy val noDelaySet: Unit = {
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
  }
  private[api] def ensureNoDelay(): Unit = noDelaySet
}
