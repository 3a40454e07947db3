package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.api.{Engine, Server}
import graft.core.Json
import graft.core.{IndexType, SpaceType}

/** e2e HTTP wire-parity tests over real sockets — the scenarios of the
  * reference's `internal/server/handlers_test.go` (create/dup/get/list/
  * delete, upsert/get/delete doc, search with exact distances, setparams
  * validation) against the JDK-HttpServer shim.
  */
class ServerSpec extends SparkSpec {

  private lazy val (server, port, root) = {
    val root = Files.createTempDirectory("server").toString
    val s = new Server(new Engine(spark, root))
    val p = s.start()
    (s, p, root)
  }
  private val client = HttpClient.newHttpClient()

  private def req(method: String, path: String, body: String = ""): (Int, Json.Value) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val r = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
    }
    val resp = client.send(r.build(), HttpResponse.BodyHandlers.ofString())
    val parsed = if (resp.body().nonEmpty) Json.parse(resp.body()) else Json.Null
    (resp.statusCode(), parsed)
  }

  test("health check: GET / -> {status: ok} (handlers.go:30-34)") {
    val (code, v) = req("GET", "/")
    assert(code === 200 && v.asObj("status").asStr === "ok")
  }

  test("collection lifecycle over the wire (handlers_test.go create/get/list/delete)") {
    val (c1, v1) = req("POST", "/v1/collections",
      """{"name":"docs3","dimension":3,"index_type":"flat"}""")
    assert(c1 === 200 && v1.asObj("name").asStr === "docs3")
    // duplicate → 200 with message, not error (handlers.go:90-93)
    val (c2, v2) = req("POST", "/v1/collections",
      """{"name":"docs3","dimension":3}""")
    assert(c2 === 200 && v2.asObj.contains("message"))

    val (c3, v3) = req("GET", "/v1/collections/docs3")
    assert(c3 === 200 && v3.asObj("dimension").asInt === 3)
    val (c4, v4) = req("GET", "/v1/collections")
    assert(c4 === 200 && v4.asObj("count").asInt === 1)
    assert(req("GET", "/v1/collections/nope")._1 === 404)
    assert(req("DELETE", "/v1/collections/docs3")._1 === 200)
    assert(req("GET", "/v1/collections/docs3")._1 === 404)
  }

  test("F-3 e2e: upsert docs, search documents with exact distances [0, 27]") {
    req("POST", "/v1/collections", """{"name":"e2e","dimension":3,"index_type":"flat"}""")
    val (cu, vu) = req("POST", "/v1/collections/e2e/documents",
      """{"id":"1","vector":[1,2,3],"parameters":{"tag":"test1"}}""")
    assert(cu === 200 && vu.asObj("dimension").asInt === 3)
    req("POST", "/v1/collections/e2e/documents/batchupsert",
      """{"documents":[{"id":"2","vector":[4,5,6],"parameters":{"tag":"test2"}}]}""")

    val (cs, vs) = req("POST", "/v1/collections/e2e/documents/search",
      """{"vector":[1,2,3],"limit":2}""")
    assert(cs === 200)
    val dists = vs.asObj("distances").asArr.map(_.asDouble)
    assert(dists === Seq(0.0, 27.0)) // distance_test.go:26-33
    val ids = vs.asObj("documents").asArr.map(_.asObj("id").asStr)
    assert(ids === Seq("1", "2"))
    // default shape echoes each hit's vector (handlers.go:284-301 parity)
    assert(vs.asObj("documents").asArr.head.asObj("vector").asArr
      .map(_.asDouble) === Seq(1.0, 2.0, 3.0))

    // include_vectors=false: same hits/metadata/distances, NO vector echo
    val (cn, vn) = req("POST", "/v1/collections/e2e/documents/search",
      """{"vector":[1,2,3],"limit":2,"include_vectors":false}""")
    assert(cn === 200)
    val slim = vn.asObj("documents").asArr.map(_.asObj)
    assert(slim.map(_("id").asStr) === Seq("1", "2"))
    assert(slim.forall(!_.contains("vector")), "vector echo must be dropped")
    assert(slim.head("parameters").asObj("tag").asStr === "test1")
    assert(vn.asObj("distances").asArr.map(_.asDouble) === Seq(0.0, 27.0))

    // filter honored (reference ignores it — §7.4 fix)
    val (cf, vf) = req("POST", "/v1/collections/e2e/documents/search",
      """{"vector":[1,2,3],"limit":2,"filter":{"tag":"test2"}}""")
    assert(cf === 200)
    assert(vf.asObj("documents").asArr.map(_.asObj("id").asStr) === Seq("2"))

    // vectors/search wire shape {ids, distances}
    val (cv, vv) = req("POST", "/v1/collections/e2e/vectors/search",
      """{"vector":[1,2,3],"limit":2}""")
    assert(cv === 200 && vv.asObj("ids").asArr.map(_.asStr) === Seq("1", "2"))
  }

  test("document get/delete + error codes over the wire") {
    req("POST", "/v1/collections", """{"name":"dd","dimension":2,"index_type":"flat"}""")
    req("POST", "/v1/collections/dd/documents", """{"id":"x","vector":[1,0]}""")
    assert(req("GET", "/v1/collections/dd/documents/x")._1 === 200)
    assert(req("DELETE", "/v1/collections/dd/documents/x")._1 === 200)
    assert(req("GET", "/v1/collections/dd/documents/x")._1 === 404)
    assert(req("DELETE", "/v1/collections/dd/documents/x")._1 === 404)
    // wrong dimension → 400; bad json → 400
    assert(req("POST", "/v1/collections/dd/documents",
      """{"id":"y","vector":[1,2,3]}""")._1 === 400)
    assert(req("POST", "/v1/collections/dd/documents", "{nope")._1 === 400)
  }

  test("setparams validation over the wire (F-7 / handlers_test.go:604)") {
    req("POST", "/v1/collections", """{"name":"hn","dimension":2,"index_type":"hnsw"}""")
    assert(req("POST", "/v1/collections/hn/documents/setparams",
      """{"parameters":{"efsearch":128}}""")._1 === 200)
    assert(req("POST", "/v1/collections/hn/documents/setparams",
      """{"parameters":{}}""")._1 === 400)
    assert(req("POST", "/v1/collections/hn/documents/setparams",
      """{"parameters":{"nprobe":5}}""")._1 === 400)
  }

  test("routed hnsw over the wire: routeNlist collection param + routeNprobe setparams knob") {
    assert(req("POST", "/v1/collections",
      """{"name":"rt","dimension":2,"index_type":"hnsw","parameters":{"routeNlist":"4"}}""")._1 === 200)
    val docs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 0 else 100
      s"""{"id":"$i","vector":[${base + i % 7},$base]}"""
    }.mkString("[", ",", "]")
    assert(req("POST", "/v1/collections/rt/buildindex",
      s"""{"documents":$docs}""")._1 === 200)
    assert(req("POST", "/v1/collections/rt/documents/setparams",
      """{"parameters":{"routeNprobe":1}}""")._1 === 200)
    val (cs, vs) = req("POST", "/v1/collections/rt/vectors/search",
      """{"vector":[103,100],"limit":1}""")
    assert(cs === 200)
    val hit = vs.asObj("ids").asArr.head.asStr.toInt
    assert(hit % 2 == 1, s"routed wire search left the query's cluster: id $hit")
    // validation over the wire: beyond routeNlist → 400; non-routed coll → 400
    assert(req("POST", "/v1/collections/rt/documents/setparams",
      """{"parameters":{"routeNprobe":9}}""")._1 === 400)
    req("POST", "/v1/collections", """{"name":"rt2","dimension":2,"index_type":"hnsw"}""")
    assert(req("POST", "/v1/collections/rt2/documents/setparams",
      """{"parameters":{"routeNprobe":1}}""")._1 === 400)
  }

  test("mrl tier over the wire: prefixDim collection param + rerankFactor knob") {
    assert(req("POST", "/v1/collections",
      """{"name":"mrlw","dimension":4,"index_type":"mrl","parameters":{"prefixDim":"2"}}""")._1 === 200)
    val docs = (0 until 30).map(i =>
      s"""{"id":"$i","vector":[$i,${i % 5},0,0]}""").mkString("[", ",", "]")
    assert(req("POST", "/v1/collections/mrlw/buildindex",
      s"""{"documents":$docs}""")._1 === 200)
    assert(req("POST", "/v1/collections/mrlw/documents/setparams",
      """{"parameters":{"rerankFactor":8}}""")._1 === 200)
    val (cs, vs) = req("POST", "/v1/collections/mrlw/vectors/search",
      """{"vector":[7,2,0,0],"limit":1}""")
    assert(cs === 200)
    assert(vs.asObj("ids").asArr.head.asStr === "7",
      s"mrl wire search missed the exact match: $vs")
    // validation over the wire: nprobe is not an mrl knob
    assert(req("POST", "/v1/collections/mrlw/documents/setparams",
      """{"parameters":{"nprobe":2}}""")._1 === 400)
  }

  test("GET /v1/metrics reports the serving-cache counters and the point-reader bloom ledger; gauges move under load") {
    val (code, v) = req("GET", "/v1/metrics")
    assert(code === 200)
    val o = v.asObj
    for (k <- Seq("local_serve_cells", "local_serve_bytes", "local_serve_max_bytes",
        "local_serve_loads", "local_serve_hits", "local_serve_misses",
        "local_serve_evictions", "point_run_opens", "point_runs_bloom_pruned",
        "point_blooms", "point_bloom_bytes", "point_bloom_max_bytes"))
      assert(o.contains(k), s"metrics missing $k: $o")
    assert(o("local_serve_max_bytes").asDouble > 0)
    assert(o("point_bloom_max_bytes").asDouble > 0)
    for (k <- Seq("point_runs_resident", "point_resident_bytes",
        "point_resident_max_bytes", "point_resident_hits"))
      assert(o.contains(k), s"metrics missing $k: $o")
    assert(o("point_resident_max_bytes").asDouble > 0)
    // each upsert writes an immutable run and registers it resident, so
    // warm GETs open no file; a COLD read (the reader's memo dropped, as
    // a restarted server has it) must open the runs from disk
    req("POST", "/v1/collections", """{"name":"met","dimension":2,"index_type":"flat"}""")
    for (i <- 0 until 3)
      req("POST", "/v1/collections/met/documents",
        s"""{"id":"m$i","vector":[$i,0]}""")
    graft.core.LocalPointReader.invalidateUnder(s"$root/met/")
    val opens0 = req("GET", "/v1/metrics")._2.asObj("point_run_opens").asDouble
    assert(req("GET", "/v1/collections/met/documents/m0")._1 === 200)
    val o2 = req("GET", "/v1/metrics")._2.asObj
    assert(o2("point_run_opens").asDouble > opens0,
      s"a cold point read must move the run-open counter: $o2")
    for (i <- 0 until 3)
      assert(req("GET", s"/v1/collections/met/documents/m$i")._1 === 200)
    val o3 = req("GET", "/v1/metrics")._2.asObj
    assert(o3("point_resident_hits").asDouble > o2("point_resident_hits").asDouble,
      s"warm point reads must be resident hits: $o3")
    assert(o3("point_run_opens").asDouble === o2("point_run_opens").asDouble,
      s"warm point reads must open no file: $o3")
    assert(o3("point_runs_resident").asDouble > 0 && o3("point_resident_bytes").asDouble > 0,
      s"the residency ledger must show the runs read: $o3")
    assert(o3("point_resident_bytes").asDouble <= o3("point_resident_max_bytes").asDouble)
  }

  test("an oversized request body gets 413 without being read") {
    // a raw socket declares a body one byte over the cap and sends none of
    // it: the server must answer from the header alone
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      out.write(("POST /v1/collections/big/documents/batchupsert HTTP/1.1\r\n" +
        "Host: 127.0.0.1\r\nContent-Type: application/json\r\n" +
        s"Content-Length: ${Server.MaxBodyBytes.toLong + 1}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.flush()
      val status = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, java.nio.charset.StandardCharsets.US_ASCII)).readLine()
      assert(status != null && status.startsWith("HTTP/1.1 413"), s"got: $status")
    } finally sock.close()
    assert(Server.MaxBodyBytes >= (64 << 20), "the cap must stay far above batch bodies")
    // the server keeps serving, and a body under the cap is accepted
    assert(req("GET", "/")._1 === 200)
    assert(req("POST", "/v1/collections",
      """{"name":"capok","dimension":2,"index_type":"flat"}""")._1 === 200)
  }

  test("multivector routes over the wire: upsert / batch / maxsim search / delete") {
    assert(req("POST", "/v1/collections",
      """{"name":"mvw","dimension":3,"index_type":"ivf_flat",
        |"parameters":{"multivector":"true"}}""".stripMargin)._1 === 200)
    val (cu, vu) = req("POST", "/v1/collections/mvw/multivectors",
      """{"id":"d0","vectors":[[1,0,0],[0.9,0.1,0]]}""")
    assert(cu === 200 && vu.asObj("num_vectors").asInt === 2)
    assert(req("POST", "/v1/collections/mvw/multivectors/batchupsert",
      """{"documents":[
        |{"id":"d1","vectors":[[0,1,0],[0,0.9,0.1]]},
        |{"id":"d2","vectors":[[0,0,1]]}]}""".stripMargin)._1 === 200)
    assert(req("POST", "/v1/collections/mvw/buildindex", "{}")._1 === 200)
    val (cs, vs) = req("POST", "/v1/collections/mvw/multivectors/search",
      """{"vectors":[[1,0,0],[0.9,0.1,0]],"limit":2}""")
    assert(cs === 200)
    val ids = vs.asObj("ids").asArr.map(_.asStr)
    assert(ids.head === "d0" && ids.size === 2)
    assert(vs.asObj("ranks").asArr.map(_.asInt) === Seq(1, 2))
    // plain doc upsert into a multivector collection → 400
    assert(req("POST", "/v1/collections/mvw/documents",
      """{"id":"x","vector":[1,0,0]}""")._1 === 400)
    assert(req("DELETE", "/v1/collections/mvw/multivectors/d0")._1 === 200)
    assert(req("DELETE", "/v1/collections/mvw/multivectors/nope")._1 === 404)
    val (cs2, vs2) = req("POST", "/v1/collections/mvw/multivectors/search",
      """{"vectors":[[1,0,0]],"limit":3}""")
    assert(cs2 === 200 && !vs2.asObj("ids").asArr.map(_.asStr).contains("d0"))
  }

  test("multivectors/search serves warm requests under the documented wire budget") {
    // budget: 2 s p50 warm — maxsim is a BATCH route (Spark jobs per
    // request: shortlist + shortlisted re-rank), so its floor is the
    // multi-job Spark dispatch (~100 ms/job quiet-host), not the ms-scale
    // zero-job point-serve rows; 2 s keeps the gate meaningful (a plan
    // regression to corpus-wide all-pairs or a lost candidate restriction
    // blows past it) while absorbing shared-host noise. RecallBench's
    // rest_maxsim_multivector row records the real p50/p95 each round.
    assert(req("POST", "/v1/collections",
      """{"name":"mvlat","dimension":4,"index_type":"ivf_flat",
        |"parameters":{"multivector":"true"}}""".stripMargin)._1 === 200)
    val docs = (0 until 40).map { i =>
      val toks = (0 to i % 3).map(t => Seq(i * 0.1f, t * 1f, (i % 7) * 1f, 0f))
      s"""{"id":"d$i","vectors":[${toks.map(_.mkString("[", ",", "]")).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    assert(req("POST", "/v1/collections/mvlat/multivectors/batchupsert",
      s"""{"documents":$docs}""")._1 === 200)
    assert(req("POST", "/v1/collections/mvlat/buildindex", "{}")._1 === 200)
    def search(i: Int): Double = {
      val t0 = System.nanoTime()
      val (c, _) = req("POST", "/v1/collections/mvlat/multivectors/search",
        s"""{"vectors":[[${i * 0.1f},0,1,0],[${i * 0.1f},1,0,0]],"limit":5}""")
      assert(c === 200)
      (System.nanoTime() - t0) / 1e6
    }
    (0 until 3).foreach(search) // warm: plans, code-gen, shuffle files
    val lat = (0 until 9).map(search).sorted
    val p50 = lat(lat.size / 2)
    assert(p50 < 2000.0, f"warm maxsim wire p50 $p50%.0f ms exceeds the 2 s budget")
  }

  test("buildindex endpoint: accepts reference body AND actually trains (§7.4)") {
    req("POST", "/v1/collections", """{"name":"iv","dimension":2,"index_type":"ivf_flat"}""")
    val docs = (0 until 30).map { i =>
      val base = if (i % 2 == 0) 0 else 10
      s"""{"id":"$i","vector":[$base,${i % 3}]}"""
    }.mkString("[", ",", "]")
    assert(req("POST", "/v1/collections/iv/buildindex", s"""{"documents":$docs}""")._1 === 200)
    val (cs, vs) = req("POST", "/v1/collections/iv/vectors/search",
      """{"vector":[0,0],"limit":3}""")
    assert(cs === 200 && vs.asObj("ids").asArr.nonEmpty)
  }
}
