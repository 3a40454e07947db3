package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.core.{DocStore, Document, LocalPointReader}

import org.apache.spark.sql.functions._

/** The driver-local point reader must be indistinguishable from the Spark
  * LWW plan (`DocStore.get` / `latestWins`) on every store state the write
  * paths can produce: multi-batch overwrites, tombstones, resurrections,
  * DataFrame-batch seq ordering, compaction (clustered and not), nulls in
  * params values. The serving path (`getFast`/`getMany`) routes through it.
  * Both of its read paths are held to that: resident runs (registered by
  * the writer or decoded on first touch) and the bloom + filtered read of
  * runs it does not hold.
  */
class LocalPointReaderSpec extends SparkSpec {

  // every getMany in this suite must exercise the LOCAL path — a reader
  // defect may not hide behind the always-correct Spark fallback
  System.setProperty("graft.pointreader.strict", "true")

  private val dim = 4
  private def freshStore(): (DocStore, String) = {
    val dir = Files.createTempDirectory("lpr").toString
    (new DocStore(spark, dir), dir)
  }
  private def doc(id: String, x: Float, tag: String = "t") =
    Document(id, Array(x, x + 1, x + 2, x + 3), Map("tag" -> tag, "src" -> id))

  private def hits(): Long = LocalPointReader.metrics("point_resident_hits")

  /** Resident reads ≡ filtered reads ≡ Spark LWW, on `getMany` and on the
    * `liveIds` existence probe. Resident passes: as the store stands (runs
    * its writers registered, others decoded on this first touch), after
    * the filtered pass evicted everything (runs decoded from their files),
    * and once more warm — hash probes only, when `fits` (every run fits
    * the bound at once; a scan over more runs than fit evicts each run
    * before its next use).
    */
  private def assertAgree(s: DocStore, name: String, ids: Seq[String],
      fits: Boolean = true): Unit = {
    def read() = (s.getMany(name, ids), s.liveIds(name, ids))
    val current = read()
    val filtered = LocalPointReader.withResidentMaxBytes(0L)(read())
    val decoded = read()
    val hits0 = hits()
    val warm = read()
    if (fits) assert(hits() > hits0, "the resident path served nothing")
    for (((fast, live), path) <- Seq(current -> "current", filtered -> "filtered",
        decoded -> "decoded", warm -> "warm")) ids.foreach { id =>
      val slow = s.get(name, id)
      (slow, fast.get(id)) match {
        case (None, None) => ()
        case (Some(a), Some(b)) =>
          assert(a.id === b.id, s"$path: id mismatch for $id")
          assert(a.vector.toSeq === b.vector.toSeq, s"$path: vector mismatch for $id")
          assert(a.params === b.params, s"$path: params mismatch for $id")
        case other => fail(s"$path: presence mismatch for $id: $other")
      }
      // the existence probe must agree with the full read on every id —
      // same LWW, same tombstone handling
      assert(live.contains(id) === fast.contains(id), s"$path: liveIds mismatch for $id")
    }
  }

  test("bloom-pruned probes agree across many runs (updates, deletes, absents)") {
    val (s, _) = freshStore(); s.init("m")
    // 40 single-doc batches → 40 immutable run files: the shape where
    // bloom pruning decides which runs are opened at all
    for (i <- 0 until 40) s.upsert("m", Seq(doc(s"id$i", i.toFloat)), dim)
    for (i <- 0 until 10) s.upsert("m", Seq(doc(s"id$i", 100f + i, "v2")), dim)
    s.delete("m", Seq("id5", "id20"), dim)
    val probe = (0 until 45).map(i => s"id$i") // 40-44 absent
    assertAgree(s, "m", probe)
    val expectLive = (0 until 40).map(i => s"id$i").filterNot(Set("id5", "id20")).toSet
    assert(s.liveIds("m", probe) === expectLive)
    // compaction swaps the run set under the memoized blooms — the new
    // files get fresh blooms, results unchanged
    s.compact("m", clusterById = true)
    assertAgree(s, "m", probe)
    assert(s.liveIds("m", probe) === expectLive)
  }

  test("collection-drop invalidation releases every bloom under the prefix") {
    val (s, root) = freshStore(); s.init("d")
    for (i <- 0 until 12) s.upsert("d", Seq(doc(s"id$i", i.toFloat)), dim)
    val (r, rBytes) = LocalPointReader.residentStats(s"$root/")
    assert(r === 12 && rBytes > 0L, "the writes should have registered 12 resident runs")
    // with nothing resident, the probe takes the bloom path
    LocalPointReader.withResidentMaxBytes(0L) {
      s.getMany("d", (0 until 12).map(i => s"id$i")) // builds the run blooms
    }
    val (n, bytes) = LocalPointReader.bloomStats(s"$root/")
    assert(n > 0, "probe should have built per-run blooms")
    assert(bytes > 0L)
    s.getMany("d", (0 until 12).map(i => s"id$i")) // decodes the runs again
    assert(LocalPointReader.residentStats(s"$root/")._1 === 12)
    LocalPointReader.invalidateUnder(s"$root/")
    assert(LocalPointReader.bloomStats(s"$root/") === ((0, 0L)),
      "invalidateUnder must release every bloom (and its budget bytes) under the prefix")
    assert(LocalPointReader.residentStats(s"$root/") === ((0, 0L)),
      "invalidateUnder must release every resident run under the prefix")
    // a fresh probe after invalidation rebuilds and still agrees
    assertAgree(s, "d", (0 until 12).map(i => s"id$i"))
  }

  test("local reads ≡ Spark LWW across overwrites, deletes, resurrection") {
    val (s, _) = freshStore(); s.init("c")
    s.upsert("c", Seq(doc("a", 1f, "v1"), doc("b", 2f), doc("c", 3f)), dim)
    s.upsert("c", Seq(doc("a", 9f, "v2"), doc("d", 4f)), dim) // overwrite a
    s.delete("c", Seq("b"), dim)                              // tombstone b
    s.delete("c", Seq("d"), dim)
    s.upsert("c", Seq(doc("d", 7f, "back")), dim)             // resurrect d
    assertAgree(s, "c", Seq("a", "b", "c", "d", "missing"))
    // winner content sanity, not just agreement
    val a = s.getFast("c", "a").get
    assert(a.vector(0) === 9f && a.params("tag") === "v2")
    assert(s.getFast("c", "b") === None)
    assert(s.getFast("c", "d").get.params("tag") === "back")
  }

  test("in-batch duplicate ids resolve to the LAST occurrence, both paths") {
    val (s, _) = freshStore(); s.init("c")
    s.upsert("c", Seq(doc("x", 1f, "first"), doc("x", 2f, "second"),
      doc("x", 3f, "third")), dim)
    assert(s.getFast("c", "x").get.params("tag") === "third")
    assertAgree(s, "c", Seq("x"))
  }

  test("DataFrame batches (streaming shape) agree, incl. null param values") {
    val (s, _) = freshStore(); s.init("c")
    val rows = (0 until 50).map(i =>
      (s"id$i", Array.fill(dim)(i.toFloat), Map("k" -> (if (i % 7 == 0) null else s"v$i"))))
    val df = spark.createDataFrame(rows).toDF("id", "vector", "params")
      .withColumn("vector", col("vector").cast("array<float>"))
    s.upsertDf("c", df)
    // second DF batch overwrites the odd ids
    val df2 = spark.createDataFrame(rows.filter(_._1.drop(2).toInt % 2 == 1)
      .map { case (id, v, _) => (id, v.map(_ + 100f), Map("k" -> "new")) })
      .toDF("id", "vector", "params")
      .withColumn("vector", col("vector").cast("array<float>"))
    s.upsertDf("c", df2)
    assertAgree(s, "c", (0 until 50).map(i => s"id$i") :+ "nope")
    assert(s.getFast("c", "id3").get.params("k") === "new")
    assert(s.getFast("c", "id0").get.params("k") === null)
  }

  test("compaction (plain and clustered) keeps both paths agreeing") {
    val (s, _) = freshStore(); s.init("c")
    (0 until 8).foreach { b =>
      s.upsert("c", (0 until 20).map(i => doc(s"k${(b * 7 + i) % 40}", b * 100 + i)), dim)
    }
    s.delete("c", Seq("k1", "k2"), dim)
    val ids = (0 until 40).map(i => s"k$i")
    assertAgree(s, "c", ids)
    s.compact("c")
    assertAgree(s, "c", ids)
    s.upsert("c", Seq(doc("k1", 5f, "post-compact")), dim)
    s.compact("c", clusterById = true, files = 4)
    assertAgree(s, "c", ids)
    assert(s.getFast("c", "k1").get.params("tag") === "post-compact")
  }

  test("resident and non-resident runs mix; resident bytes never exceed the bound") {
    val (s, root) = freshStore(); s.init("b")
    s.upsert("b", Seq(doc("probe", 0f)), dim)
    val one = LocalPointReader.residentStats(s"$root/")._2 // one 1-doc run
    assert(one > 0L)
    // room for ~12 one-doc runs; one run may take a quarter of it, so the
    // 60-doc batches below are never admitted
    val bound = 12 * one
    def within(): Unit = {
      val held = LocalPointReader.metrics("point_resident_bytes")
      assert(held <= bound, s"resident bytes $held over the bound $bound")
    }
    val opens0 = LocalPointReader.metrics("point_run_opens")
    LocalPointReader.withResidentMaxBytes(bound) {
      within()
      for (i <- 0 until 30) { s.upsert("b", Seq(doc(s"s$i", i.toFloat)), dim); within() }
      s.upsert("b", (0 until 60).map(i => doc(s"big$i", 50f + i)), dim); within()
      s.upsert("b", (0 until 60).map(i => doc(s"big$i", 80f + i, "v2")), dim); within()
      s.delete("b", Seq("s3", "big7"), dim); within()
      for (i <- 0 until 5) s.upsert("b", Seq(doc(s"s$i", 200f + i, "v3")), dim)
      within()
      val ids = (0 until 30).map(i => s"s$i") ++ (0 until 60).map(i => s"big$i") :+ "none"
      assertAgree(s, "b", ids, fits = false); within()
      val (held, _) = LocalPointReader.residentStats(s"$root/")
      val runs = LocalPointReader.listRuns(s"$root/b/data").size
      assert(held > 0 && held < runs, s"expected a mix: $held of $runs runs resident")
      // a point read touches only its bloom-positive runs, which then stay
      // resident: the repeat is served from memory
      s.getFast("b", "s4")
      val hits0 = hits()
      assert(s.getFast("b", "s4").get.params("tag") === "v3")
      assert(hits() > hits0, "a repeated point read must be a resident hit")
      // compaction output too large to admit, then small runs on top
      s.compact("b", clusterById = true, files = 4)
      s.upsert("b", Seq(doc("s1", 300f, "v4"), doc("fresh", 301f)), dim)
      s.delete("b", Seq("big9"), dim)
      assertAgree(s, "b", ids :+ "fresh", fits = false); within()
    }
    assert(LocalPointReader.metrics("point_run_opens") > opens0,
      "the runs too large to admit must have been read from disk")
    assert(s.getFast("b", "big7") === None && s.getFast("b", "big9") === None)
    assert(s.getFast("b", "s1").get.params("tag") === "v4")
    assert(s.getFast("b", "big8").get.params("tag") === "v2")
  }

  test("a registered run above the committed version counter is never served") {
    val (s, root) = freshStore(); s.init("u")
    s.upsert("u", Seq(doc("a", 1f, "committed")), dim)
    val v = s.currentVersion("u")
    // an in-flight (or crashed) batch: published and registered, but the
    // counter never committed its version
    val phantom = graft.core.LocalRunWriter.writeStoreRun(s"$root/u/data",
      Seq(("a", Seq(9f, 9f, 9f, 9f), Map("tag" -> "phantom"), false),
        ("p", Seq(1f, 1f, 1f, 1f), Map.empty[String, String], false)), v + 3)
    assert(LocalPointReader.residentStats(phantom)._1 === 1,
      "the writer should have registered the uncommitted run")
    assert(s.getFast("u", "a").get.params("tag") === "committed")
    assert(s.getMany("u", Seq("a", "p")).keySet === Set("a"))
    assert(s.liveIds("u", Seq("a", "p")) === Set("a"))
    assertAgree(s, "u", Seq("a", "p"))
  }

  test("drop + recreate reusing run paths serves the new incarnation") {
    val dir = Files.createTempDirectory("lpr-recreate").toString
    val engine = new graft.api.Engine(spark, dir)
    val cfg = graft.core.CollectionConfig("c", dim, graft.core.IndexType.Flat)
    engine.createCollection(cfg)
    engine.upsertDocument("c", doc("a", 1f, "old"))
    assert(engine.getDocument("c", "a").get.params("tag") === "old")
    val oldRuns = LocalPointReader.listRuns(s"$dir/c/data")
    assert(oldRuns.size === 1)
    engine.dropCollection("c")
    engine.createCollection(cfg)
    engine.upsertDocument("c", doc("a", 2f, "new"))
    // the new incarnation's run takes the old run's path
    val newRuns = LocalPointReader.listRuns(s"$dir/c/data")
    assert(newRuns.size === 1)
    Files.move(java.nio.file.Paths.get(newRuns.head), java.nio.file.Paths.get(oldRuns.head))
    val got = engine.getDocument("c", "a").get
    assert(got.params("tag") === "new" && got.vector(0) === 2f,
      "a resident copy of the dropped incarnation's run was served")
  }

  test("empty/missing dirs read as absent without error") {
    val (s, _) = freshStore(); s.init("c")
    assert(s.getMany("c", Seq("a", "b")) === Map.empty)
    assert(LocalPointReader.readDocs("/nonexistent/dir", Set("a")) === Map.empty)
    assert(s.getMany("c", Nil) === Map.empty)
  }

  test("engine surface: getDocument and fetchDocuments run job-free reads") {
    val dir = Files.createTempDirectory("lpr-engine").toString
    val engine = new graft.api.Engine(spark, dir)
    engine.createCollection(graft.core.CollectionConfig("c", dim, graft.core.IndexType.Flat))
    engine.upsertDocument("c", doc("a", 1f))
    engine.upsertDocument("c", doc("b", 2f))
    engine.deleteDocument("c", "b")
    // job ids are assigned monotonically at submission, so bracketing the
    // reads between two named sentinel jobs makes the assertion exact: a job
    // launched by the reads would get an id strictly between the sentinels',
    // regardless of listener-event delivery timing (earlier write jobs can
    // still be in flight when the listener registers)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")))
    }
    def sentinel(group: String): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!seen.asScala.exists(_._2 == group) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.asScala.exists(_._2 == group), s"sentinel $group never observed")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel("lpr-sentinel-a")
      val got = engine.getDocument("c", "a")
      val many = engine.fetchDocuments("c", Seq("a", "b"))
      assert(got.get.vector(0) === 1f)
      assert(many.keySet === Set("a"))
      sentinel("lpr-sentinel-b")
      // one sentinel may run SEVERAL jobs (AQE) — the gap to assert empty is
      // (last job of A, first job of B); B's events arriving (global FIFO)
      // implies every earlier start event has been delivered
      val idA = seen.asScala.filter(_._2 == "lpr-sentinel-a").map(_._1).max
      val idB = seen.asScala.filter(_._2 == "lpr-sentinel-b").map(_._1).min
      val between = seen.asScala.map(_._1).filter(j => j > idA && j < idB)
      assert(between.isEmpty,
        s"point reads must not launch Spark jobs, saw ids $between")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
