package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup family: MinHash+LSH vs brute-force Jaccard, SimHash on perturbed
  * dups, fingerprint collision for exact dups.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("minhash+lsh pairs == brute-force 3-gram jaccard pairs on sf0.001") {
    val got = Dedup.minHashLshPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    // brute force: all-pairs exact jaccard via the same shingle sets
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val cand = sh.as("a").join(sh.as("b"), col("a.s") === col("b.s"))
      .filter(col("a.__did") < col("b.__did"))
      .select(col("a.__did").as("ia"), col("b.__did").as("ib")).distinct()
    val want = Dedup.verifyJaccard(cand, sh, 0.8)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture should contain near-dup pairs")
    assert(got === want)
  }

  test("cross-corpus decontamination == brute-force cross jaccard; no self-pairs leak") {
    // "train" corpus contains verbatim + lightly-edited copies of "eval" docs
    val eval = (0 until 20).map(i =>
      (i.toLong, s"eval document $i with some shared tokens alpha beta gamma delta " +
        s"epsilon zeta eta theta unique$i"))
      .toDF("doc_id", "text")
    val train = ((100 until 160).map(i =>
      (i.toLong, s"clean train doc $i nothing in common here payload row$i")) ++
      Seq((200L, eval.filter(col("doc_id") === 3).select("text").first().getString(0)),
        (201L, "eval document 7 with some shared tokens alpha beta gamma delta " +
          "epsilon zeta eta theta unique7 EDITED")))
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDup(train, "doc_id", "text",
        eval, "doc_id", "text", threshold = 0.5)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    // brute force over the same shingle sets
    val shA = Dedup.shingles(train, "doc_id", "text", 3)
    val shB = Dedup.shingles(eval, "doc_id", "text", 3)
    val sizesA = shA.groupBy("__did").count().select(col("__did").as("ia"), col("count").as("na"))
    val sizesB = shB.groupBy("__did").count().select(col("__did").as("ib"), col("count").as("nb"))
    val want = shA.as("a").join(shB.as("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.__did").as("ia"), col("b.__did").as("ib")).count()
      .join(sizesA, "ia").join(sizesB, "ib")
      .filter(col("count").cast("double") /
        (col("na") + col("nb") - col("count")).cast("double") >= 0.5)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(got === want, "bucketed cross-corpus pairs diverged from brute force")
    assert(got.contains((200L, 3L)), "verbatim contamination not detected")
    assert(got.contains((201L, 7L)), "edited contamination not detected")
    assert(got.forall { case (ia, _) => ia >= 100L }, "self-side pair leaked")
  }

  test("simhash: near-identical docs within hamming 3; unrelated docs far") {
    val base = "the quick brown fox jumps over the lazy dog while the sun sets slowly " +
      "behind the tall green hills and the river flows gently through the quiet valley " +
      "as birds sing their evening songs in the cool autumn air"
    val data = Seq(
      (1L, base),
      (2L, base.replace("autumn", "winter")),
      (3L, "completely different content about spark shuffles and parquet files in a warehouse"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(data, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) <= 3)
    assert(ham(sigs(1L), sigs(3L)) > 10)
    val pairs = Dedup.simHashPairs(data, "doc_id", "text")
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("fingerprint: identical texts collide; exact-dup pairs share fingerprints on sf0.001") {
    val data = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val fps = Dedup.fingerprint(data, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("embedding near-dup via LSH buckets ⊆ brute force, recall >= 0.9 (sf0.001)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val threshold = 0.4
    val exact = emb.as("a").join(emb.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", lit(1.0) -
        graft.functions.vfn.cosDist(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain near pairs at this threshold")
    val lsh = graft.operators.Dedup
      .embeddingNearDupLsh(emb, "vec_id", "embedding", threshold)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, f"LSH near-dup recall $recall%.3f < 0.9")
  }

  test("declared embed_neardup (LSH form) == all-pairs exact baseline at all three SFs") {
    // the declared query surface is the bucketed form; the DuckDB oracle is
    // the cross join — this gate proves set equality (recall 1.0 AND zero
    // false positives) at the verify scale AND the bench scale, so the
    // driver hash gate holds and the bench measures the same result set
    for (dir <- Seq(sf0001, sf001, sf01)) {
      val got = SparkEntry.queries("embed_neardup")(spark, dir)
        .as[(Long, Long)].collect().toSet
      val want = graft.queries.VectorQueries.embedNearDupExact(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, s"fixture at $dir should contain near pairs")
      assert(got === want, s"declared LSH form must equal exact baseline at $dir")
    }
  }

  test("embeddingNearDupLsh / crossEmbeddingLeakage: empty input yields empty pairs, no throw") {
    val empty = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 0)
    val nd = Dedup.embeddingNearDupLsh(empty, "vec_id", "embedding", 0.4)
    assert(nd.columns.toSeq === Seq("ia", "ib", "sim"))
    assert(nd.count() === 0)
    val some = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val lk = Dedup.crossEmbeddingLeakage(empty, "vec_id", "embedding",
      some, "vec_id", "embedding", 0.4)
    assert(lk.columns.toSeq === Seq("ia", "ib", "sim"))
    assert(lk.count() === 0)
  }

  test("cross-corpus embedding leakage via LSH ⊆ brute force, recall >= 0.9 (sf0.001)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val train = emb.filter(col("vec_id") >= 100)
    val eval = emb.filter(col("vec_id") < 100)
    val threshold = 0.4
    val exact = train.as("a").crossJoin(eval.as("b"))
      .withColumn("sim", lit(1.0) -
        graft.functions.vfn.cosDist(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= threshold)
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
      .as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain cross-split near pairs")
    val lsh = Dedup.crossEmbeddingLeakage(train, "vec_id", "embedding",
        eval, "vec_id", "embedding", threshold)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, f"cross-corpus LSH recall $recall%.3f < 0.9")
    // orientation: ia always train-side, ib always eval-side
    assert(lsh.forall { case (ia, ib) => ia >= 100 && ib < 100 })
  }

  test("connected components: chains and separate clusters resolve to min labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), // chain -> all label 1
      (10L, 11L),                   // pair -> label 10
      (20L, 22L), (21L, 22L))       // star -> label 20
      .toDF("ia", "ib")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("stars CC: adversarial 1e5-node path graph converges in bounded rounds") {
    // min-label propagation would need 1e5 rounds here; large-star/small-star
    // contracts the path in O(log²) rounds
    val path = spark.range(99999)
      .select(col("id").as("ia"), (col("id") + 1).as("ib"))
    val labels = Dedup.connectedComponentsStars(path, maxRounds = 30)
    assert(labels.count() === 100000L)
    assert(labels.filter(col("component") =!= 0L).count() === 0L,
      "every path node must resolve to component 0")
  }

  test("connected components: a 30-node path with decimal(20,0) ids resolves to the min id") {
    // decimal ids skip the driver union-find, so the distributed branch runs
    // (min-label propagation would need 29 rounds here, one per hop);
    // the ids sit past Long.MaxValue, where a decimal id is the honest type
    val base = new java.math.BigDecimal("10000000000000000000")
    val path = spark.range(29).select(
      (lit(base) + col("id")).cast("decimal(20,0)").as("ia"),
      (lit(base) + col("id") + 1).cast("decimal(20,0)").as("ib"))
    val got = Dedup.connectedComponents(path)
    assert(got.schema("component").dataType ===
      org.apache.spark.sql.types.DecimalType(20, 0))
    val labels = got.as[(java.math.BigDecimal, java.math.BigDecimal)].collect()
      .map { case (n, c) => (n.toBigInteger, c.toBigInteger) }
    val min = base.toBigInteger
    assert(labels.map(_._1).toSet ===
      (0 to 29).map(i => min.add(java.math.BigInteger.valueOf(i))).toSet)
    assert(labels.length === 30 && labels.forall(_._2 == min),
      s"every path node must resolve to the min id: ${labels.toSeq}")
  }

  test("stars CC ≡ hybrid CC on random graphs (same labels)") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 2000)
      .map(_ => (rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter(e => e._1 != e._2).toDF("ia", "ib")
    val a = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toSet
    val b = Dedup.connectedComponentsStars(edges).as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("expansion parity: duplicate texts expand to the brute-force pair set") {
    val common = (1 to 32).map(i => s"w$i").mkString(" ")
    val textA = common + " alpha"
    val textB = common + " beta" // 3 of 31 shingles differ -> jaccard 28/34 ~ 0.82
    val data = Seq(
      (1L, textA), (2L, textA), (3L, textA),
      (4L, textB), (5L, textB),
      (6L, "entirely unrelated content about something else completely different"))
      .toDF("doc_id", "text")
    val got = Dedup.minHashLshPairs(data, "doc_id", "text", threshold = 0.8)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    val sh = Dedup.shingles(data, "doc_id", "text", 3)
    val cand = sh.as("a").join(sh.as("b"), col("a.s") === col("b.s"))
      .filter(col("a.__did") < col("b.__did"))
      .select(col("a.__did").as("ia"), col("b.__did").as("ib")).distinct()
    val want = Dedup.verifyJaccard(cand, sh, 0.8)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(want.contains((1L, 2L)) && want.contains((1L, 4L)) && want.contains((4L, 5L)))
    assert(got === want)
  }

  test("hot-bucket safety: 10k identical docs stay linear via the cluster-edge path") {
    val common = (1 to 32).map(i => s"w$i").mkString(" ")
    val dupText = "this exact document is repeated ten thousand times across the corpus " +
      "as byte identical spam which must not explode candidate generation"
    val rows = (0L until 10000L).map(i => (i, dupText)) ++
      Seq((20001L, common + " alpha"), (20002L, common + " beta"))
    val df = rows.toDF("doc_id", "text")
    val edges = Dedup.minHashLshClusterEdges(df, "doc_id", "text")
    val n = edges.count()
    // 9999 membership edges + 1 representative near-dup pair — NOT ~5*10^7
    assert(n === 10000L, s"cluster edges should be linear in corpus size, got $n")
    val comps = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps(9999L) === 0L && comps(1L) === 0L)
    assert(comps(20002L) === 20001L)
  }

  test("bucket cap: over-cap buckets are dropped from candidate generation") {
    val sigs = (1 to 20).map(i => (i.toLong, 7L, 8L, 9L)).toDF("__did", "h0", "h1", "h2")
    assert(Dedup.lshCandidates(sigs, 1, 3, maxBucket = 5).count() === 0L)
    assert(Dedup.lshCandidates(sigs, 1, 3, maxBucket = 100).count() === 190L)
  }

  test("exact dedup survivors: one keep_id per distinct text") {
    val data = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(data, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("charGramPairs: shared-substring pairs with exact distinct-gram counts") {
    // L=10. Docs 1/2 share the run " abcdefghijklm " (15 chars incl. both
    // flanking spaces → 6 distinct 10-grams); doc 3 is unrelated; doc 4 is
    // too short to emit grams.
    val data = Seq(
      (1L, "xx abcdefghijklm yy"),
      (2L, "zz abcdefghijklm qq"),
      (3L, "completely different content"),
      (4L, "tiny")).toDF("doc_id", "text")
    val got = Dedup.charGramPairs(data, "doc_id", "text", gramLen = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 6L)))
    // the big-corpus hashed-join-key mode is pair/count-identical here
    // (collisions are the only divergence and need 2^-64 luck)
    val hashed = Dedup.charGramPairs(data, "doc_id", "text", gramLen = 10,
        hashedJoinKey = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(hashed === got)
  }

  test("charGramPairs: exact-dup groups expand with verbatim counts") {
    // Docs 10/11 identical (dup group, 31 chars → 22 distinct 10-grams);
    // doc 12 shares a 12-char run with both (3 shared grams). The rep-level
    // pair (10, 12) must expand to (11, 12) with the SAME count, plus the
    // within-group pair (10, 11) with the doc's own gram count.
    val t = "shared-run-0123456789 tail-abcd" // 31 chars
    val data = Seq((10L, t), (11L, t), (12L, "pp shared-run-01 qq zz"))
      .toDF("doc_id", "text")
    val got = Dedup.charGramPairs(data, "doc_id", "text", gramLen = 10)
      .as[(Long, Long, Long)].collect().toSet
    val brute = {
      def grams(s: String) = s.sliding(10).toSet
      val m = Map(10L -> t, 11L -> t, 12L -> "pp shared-run-01 qq zz")
      (for {
        a <- m.keys; b <- m.keys if a < b
        c = (grams(m(a)) intersect grams(m(b))).size if c > 0
      } yield (a, b, c.toLong)).toSet
    }
    assert(got === brute)
    assert(got.contains((10L, 11L, 22L))) // within-group pair, full gram count
    assert(got.exists { case (a, b, c) => a == 11L && b == 12L &&
      c == got.collectFirst { case (10L, 12L, n) => n }.get }) // expansion copies count
  }

  test("charGramPairs sampling: p=1/8 gram sampling still catches every " +
      "planted >=104-char overlap; counts/pairs are a subset of exact") {
    // 50 doc pairs, each sharing a distinct random 104-char run (= 65
    // consecutive 40-grams). At sampleShift=3 each gram survives w.p. 1/8
    // deterministically by content hash, so a planted pair is lost only if
    // all 65 grams miss — (7/8)^65 ≈ 1.7e-4; the fixture is fixed-seed, so
    // the assertion is deterministic.
    val rnd = new scala.util.Random(7)
    def rs(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val rows = (0 until 50).flatMap { i =>
      val shared = rs(104)
      Seq((2L * i, rs(30) + shared + rs(30)), (2L * i + 1, rs(30) + shared + rs(30)))
    }
    val df = rows.toDF("doc_id", "text")
    val exact = Dedup.charGramPairs(df, "doc_id", "text", gramLen = 40)
      .as[(Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    val sampled = Dedup.charGramPairs(df, "doc_id", "text", gramLen = 40,
        hashedJoinKey = true, sampleShift = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    (0 until 50).foreach { i =>
      assert(sampled.contains((2L * i, 2L * i + 1)), s"planted pair $i lost by sampling")
    }
    sampled.foreach { case (k, c) =>
      assert(exact.contains(k), s"sampled pair $k not in exact output")
      assert(c <= exact(k), s"sampled count exceeds exact for $k")
    }
    // the sample actually thinned the gram stream (~p of the exact mass)
    assert(sampled.values.sum * 4 < exact.values.sum,
      s"sampling removed too little: ${sampled.values.sum} vs ${exact.values.sum}")
  }

  test("passageScrub removes shared passages, keeps tails, empties boilerplate docs") {
    // n=3 passages; docs 1 and 2 share their first passage verbatim,
    // doc 3 is entirely that shared passage, doc 4 is short (< n tokens)
    val data = Seq(
      (1L, "a b c d e f tail1"),   // passages: "a b c", "d e f"; tail "tail1"
      (2L, "a b c x y z"),          // passages: "a b c", "x y z"
      (3L, "a b c"),                // one passage, fully boilerplate
      (4L, "u v")).toDF("doc_id", "text")
    val got = Dedup.passageScrub(data, "doc_id", "text", n = 3)
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "d e f tail1", // shared passage cut, unique passage + tail kept
      2L -> "x y z",
      3L -> "",            // entirely boilerplate
      4L -> "u v"))        // short doc: no passages, text is all tail
  }

  test("leakage-safe split: every near-dup cluster lands entirely on one side") {
    import graft.queries.DedupQueries
    val split = DedupQueries.leakageSafeSplit(spark, sf0001).cache()
    // the leakage property itself: one distinct split value per cluster rep
    val mixed = split.groupBy("rep").agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count()
    assert(mixed === 0, s"$mixed clusters straddle the split boundary")
    // clustered docs exist at this sf and inherit their rep, singletons
    // keep their own id — and every doc gets exactly one row
    val clustered = split.filter(col("rep") =!= col("doc_id")).count()
    assert(clustered > 0, "test data has no near-dup clusters — property vacuous")
    val total = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(split.count() === total)
    // proportions stay near 80/10/10 (hash quality over reps)
    val train = split.filter(col("split") === "train").count().toDouble / total
    assert(train > 0.7 && train < 0.9, s"train fraction $train off 0.8")
    split.unpersist()
  }

  test("semanticPrune: keep least-prototypical per component; pair join is sliced") {
    import scala.jdk.CollectionConverters._
    import graft.core.SpaceType
    import graft.operators.IvfIndex
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // two well-separated clusters; in each, a near-dup pair (one member
      // exactly on the centroid, one slightly off) plus a singleton — the
      // off-centroid member must be the keeper (SemDeDup "low" policy)
      val df = Seq(
        (1L, Seq(10f, 0f)), (2L, Seq(9.9f, 0.1f)), (3L, Seq(10f, 3f)),
        (11L, Seq(-10f, 0f)), (12L, Seq(-9.9f, -0.1f)), (13L, Seq(-10f, -4f)))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>"))
      val model = IvfIndex.Model(Array(Array(10f, 0f), Array(-10f, 0f)), SpaceType.L2)
      val got = Dedup.semanticPrune(df, "vec_id", "embedding", model, 0.99)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set(
        (1L, 1L, 0L), (2L, 1L, 1L), (3L, 3L, 1L),
        (11L, 11L, 0L), (12L, 11L, 1L), (13L, 13L, 1L)))
      // the scale fix: candidate pairs must join on (cluster_id, __slice) —
      // keyed on cluster_id alone, AQE's input-size coalescing serializes a
      // giant cluster's c² pair work on one task (SCALE_r07 semdedup note)
      val deadline = System.nanoTime() + 30_000_000_000L
      def sliced = plans.asScala.exists(_.contains("__slice"))
      while (!sliced && System.nanoTime() < deadline) Thread.sleep(50)
      assert(sliced, "no executed plan joined on __slice — the sliced pair join regressed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cluster_cap_sample: kept = min(cap, size) smallest digests per cluster; rnk a permutation") {
    val rows = graft.queries.VectorQueries.clusterCapSample(spark, sf0001).collect()
    val total = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(rows.length.toLong === total, "every vector gets exactly one row")
    def dig(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val cap = math.min(25, rs.length)
      val kept = rs.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
      assert(kept.size === cap, s"cluster $cid kept ${kept.size}, want $cap")
      val want = rs.map(_.getLong(0)).sortBy(id => (dig(id), id)).take(cap).toSet
      assert(kept === want, s"cluster $cid kept set is not the smallest digests")
      assert(rs.map(_.getLong(2)).sorted.toSeq === (1L to rs.length).toSeq,
        s"cluster $cid rnk is not a 1..n permutation")
    }
    // the cap binds somewhere at this sf (10 centroids × 500 vectors)
    assert(rows.count(_.getLong(3) == 0L) > 0, "cap never bound — property vacuous")
  }

  test("MinHashSig kernel == explode+aggregate signatures, incl. counts " +
      "(short docs, repeated shingles, multi-byte, empty/double-space texts)") {
    val tricky = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma alpha beta gamma alpha beta gamma"), // dup shingles
      (3L, "one two"),                       // < n tokens: whole-text shingle
      (4L, ""),                              // empty text
      (5L, "a  b c"),                        // double space = empty token
      (6L, "emoji 😃 café 中文 tokens here"),
      (7L, "trailing space "),
      (8L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (9L, null))                            // null text
      .toDF("doc_id", "text")
    val corpora = Seq(tricky, docs.limit(300))
    corpora.foreach { d =>
      val n = 3; val k = 9
      val want = Dedup.minHashSignatures(Dedup.shingles(d, "doc_id", "text", n), k)
      val got = Dedup.minHashSigRows(d, "doc_id", "text", n, k)
      val cols = col("__did") +: (0 until k).map(i => col(s"h$i")) :+ col("__n")
      val nullDocs: Set[Any] = d.filter(col("text").isNull).select("doc_id").collect()
        .map(_.get(0)).toSet
      val gotRows = got.select(cols: _*).collect().map(_.toSeq)
      val wantRows = want.select(cols: _*).collect().map(_.toSeq)
      // a null text: the reference falls back to one null shingle and emits
      // a degenerate __n = 1 row; the kernel drops that doc on purpose
      nullDocs.foreach { id =>
        assert(wantRows.filter(_.head == id).map(_.last) === Seq(1L), s"reference row of doc $id")
      }
      assert(!gotRows.exists(r => nullDocs(r.head)),
        s"kernel emitted a row for a null-text doc ($nullDocs)")
      assert(gotRows.toSet === wantRows.filterNot(r => nullDocs(r.head)).toSet)
    }
  }

  test("SimHash60 kernel == explode+vote-aggregate signatures") {
    val d = docs.limit(300)
    // the pre-kernel formulation, inline: per-token md5-nibble votes
    val tok = d.select(col("doc_id").as("__did"),
      explode(split(col("text"), " ")).as("t"))
      .withColumn("__h",
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until Dedup.SimHashBits).map { j =>
      val shift = (14 - j / 4) * 4 + (j % 4)
      sum(when(expr(s"shiftright(__h, $shift) & 1") === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy(col("__did")).agg(votes.head, votes.tail: _*)
    val sig = (0 until Dedup.SimHashBits).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val want = agg.select(col("__did"), sig.as("simhash"))
      .as[(Long, Long)].collect().toSet
    val got = Dedup.simHash(d, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(got === want)
  }

  test("CharGrams kernel == transform+substring windows on multi-byte text") {
    val d = Seq(
      (1L, "abcdefghij"),
      (2L, "café au lait 中文字符 😃 end"),
      (3L, "short"),                          // below gram length
      (4L, "exactly-8!")).toDF("id", "t")
    for (n <- Seq(4, 8)) {
      val want = d.select(col("id"), expr(
        s"transform(sequence(1, length(t) - ${n - 1}), i -> substring(t, i, $n))")
        .as("g")).as[(Long, Seq[String])].collect().toMap
      val got = d.select(col("id"),
          graft.functions.vfn.charGrams(col("t"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      // transform(sequence(1, m)) yields NULL array when m < 1 (empty range
      // is sequence's 1-element [1] only at m = 1)... compare per id on the
      // kernel's domain: strings long enough for at least one gram
      d.select(col("id"), length(col("t")).as("len")).collect().foreach { r =>
        val id = r.getLong(0)
        if (r.getInt(1) >= n) assert(got(id) === want(id), s"id=$id n=$n")
        else assert(got(id) === Seq.empty, s"id=$id n=$n short-string")
      }
    }
  }

  test("resolveKeepBest: one survivor per cluster by (score desc, id asc); singletons kept") {
    // cluster {1,2,3}: 2 has the best score; {5,6}: tied scores → smaller id
    val docs = Seq(
      (1L, 10L), (2L, 50L), (3L, 30L), (4L, 7L), (5L, 20L), (6L, 20L))
      .toDF("doc_id", "score")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("node", "component")
    val got = Dedup.resolveKeepBest(docs, "doc_id", "score", labels)
      .select("doc_id", "component", "keep")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 0L),
      (4L, 4L, 1L),               // singleton: own component, kept
      (5L, 5L, 1L), (6L, 5L, 0L)))
  }
}
