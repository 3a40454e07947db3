package graft

import org.apache.spark.sql.functions._

import graft.operators.RangeJoin
import graft.queries.CorpusStatsQueries

/** Semantics gates for the corpus-statistics operators (the Verify hash gate
  * covers DuckDB parity; these pin intended behavior against brute-force
  * Scala recounts, and the RangeJoin operator against a cross-join oracle).
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("RangeJoin.intervalPoint ≡ cross-join filter, each pair exactly once") {
    // adversarial values: negatives, bin-boundary hits, zero-width intervals
    val intervals = Seq(
      (1L, -25L, -5L), (2L, -10L, 10L), (3L, 0L, 0L), (4L, 7L, 99L),
      (5L, 100L, 100L), (6L, -100L, 100L)).toDF("iid", "lo", "hi")
    val points = Seq(-100L, -25L, -10L, -1L, 0L, 1L, 9L, 10L, 50L, 100L)
      .toDF("pt")
    val got = RangeJoin.intervalPoint(intervals, "lo", "hi", points, "pt", 10L)
      .select("iid", "pt").as[(Long, Long)].collect().sorted
    val want = (for {
      r <- Seq((1L, -25L, -5L), (2L, -10L, 10L), (3L, 0L, 0L), (4L, 7L, 99L),
        (5L, 100L, 100L), (6L, -100L, 100L))
      p <- Seq(-100L, -25L, -10L, -1L, 0L, 1L, 9L, 10L, 50L, 100L)
      if p >= r._2 && p <= r._3
    } yield (r._1, p)).sorted
    assert(got.toSeq === want, "binned join must equal the cross-join filter")
    assert(got.length === got.distinct.length, "no pair may meet twice")
  }

  test("RangeJoin.intervalPoint is exact beyond 2^53 (raw-nanosecond range)") {
    // double arithmetic rounds longs above 2^53 (~9.0e15): a Divide-based
    // bin id would place these in the wrong bin and silently drop pairs.
    // 4e18 ≈ raw nanosecond epoch scale; offsets straddle a bin boundary
    // at width 1000 (base is a multiple of 1000).
    val base = 4000000000000000000L
    val intervals = Seq(
      (1L, base - 3L, base + 3L),        // straddles the boundary
      (2L, base + 1L, base + 999L),      // inside one bin
      (3L, base - 2000L, base - 1001L)). // entirely one bin below
      toDF("iid", "lo", "hi")
    val points = Seq(base - 1500L, base - 3L, base - 1L, base, base + 3L,
      base + 4L, base + 999L, base + 1000L).toDF("pt")
    val got = RangeJoin.intervalPoint(intervals, "lo", "hi", points, "pt", 1000L)
      .select("iid", "pt").as[(Long, Long)].collect().sorted
    val want = (for {
      r <- Seq((1L, base - 3L, base + 3L), (2L, base + 1L, base + 999L),
        (3L, base - 2000L, base - 1001L))
      p <- Seq(base - 1500L, base - 3L, base - 1L, base, base + 3L,
        base + 4L, base + 999L, base + 1000L)
      if p >= r._2 && p <= r._3
    } yield (r._1, p)).sorted
    assert(got.toSeq === want,
      "bin ids must stay exact in long arithmetic above 2^53")
  }

  test("concurrent_events ≡ per-event brute-force neighbor count") {
    val got = CorpusStatsQueries.concurrentEvents(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val ts = graft.core.Tables.events(spark, sf0001)
      .select(col("event_id"), expr("ts div 1000")).as[(Long, Long)].collect()
    val want = ts.map { case (id, t) =>
      id -> (ts.count { case (_, u) => math.abs(u - t) <= 5000000L } - 1L)
    }.toMap
    assert(got === want)
  }

  test("tfidf_top_terms: per-doc top-5 matches a brute-force recount") {
    val rows = CorpusStatsQueries.tfidfTopTerms(spark, sf0001)
      .select("doc_id", "term", "tf", "df", "rnk")
      .as[(Long, String, Long, Long, Long)].collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val n = docs.length.toLong
    val tf = docs.flatMap { case (id, t) =>
      t.split(" ", -1).groupBy(identity).map { case (w, g) => (id, w, g.length.toLong) }
    }
    val df = tf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val want = tf.groupBy(_._1).toSeq.flatMap { case (id, ts) =>
      ts.sortBy { case (_, w, c) => (-c.toDouble * n / df(w), w) }
        .take(5).zipWithIndex
        .map { case ((_, w, c), i) => (id, w, c, df(w), (i + 1).toLong) }
    }.toSet
    assert(rows.length === want.size)
    assert(rows.toSet === want)
  }

  test("token_quantiles: ranks select the exact k-th smallest") {
    val rows = CorpusStatsQueries.tokenQuantiles(spark, sf0001)
      .as[(String, String, Long)].collect()
    val bySource = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"), size(split(col("text"), " ")).as("n"))
      .as[(String, Int)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted).toMap
    val want = for {
      (src, ns) <- bySource.toSeq
      (label, q) <- Seq(("p50", 50), ("p90", 90), ("p99", 99))
    } yield (src, label, ns((ns.length * q + 99) / 100 - 1).toLong)
    assert(rows.sorted === want.sorted.toArray.toSeq)
    // every (source, label) appears exactly once
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length)
  }

  test("boilerplate scrub ⊥ coverage: kept + covered = n_tok; clean docs round-trip") {
    val cov = CorpusStatsQueries.boilerplateCoverage(spark, sf0001)
      .select("doc_id", "n_tok", "n_covered").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val scrub = CorpusStatsQueries.boilerplateScrub(spark, sf0001)
      .select("doc_id", "clean_text", "n_kept").as[(Long, String, Long)].collect()
    assert(scrub.length === cov.size, "scrub must emit every document")
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    scrub.foreach { case (id, clean, kept) =>
      val (nTok, nCov) = cov(id)
      assert(kept + nCov === nTok, s"doc $id: kept $kept + covered $nCov != $nTok")
      if (nCov == 0)
        assert(clean === texts(id), s"doc $id: zero-coverage doc must round-trip")
      else {
        // every kept token must appear in the original, count-bounded
        val orig = texts(id).split(" ").groupBy(identity).view.mapValues(_.length)
        val keptToks = if (clean.isEmpty) Array.empty[String] else clean.split(" ")
        assert(keptToks.length.toLong === kept)
        keptToks.groupBy(identity).foreach { case (w, g) =>
          assert(orig.getOrElse(w, 0) >= g.length,
            s"doc $id: scrubbed text invented token '$w'")
        }
      }
    }
    // the operator actually fires on this corpus (non-vacuous): at least
    // one document must have covered positions
    assert(cov.values.exists(_._2 > 0),
      "no document had any boilerplate — gate is vacuous")
  }

  test("gram_stats kernel: counts match brute force incl. edges") {
    import org.apache.spark.sql.graft.{Bridge, GramStats}
    val df = Seq(
      "a b a b a",              // 3-grams: aba, bab, aba → dup
      "x",                      // shorter than n
      "",                       // one empty token
      "the the the the",        // max repetition
      "émoji ünïcode chars ok"  // non-ascii numChars
    ).toDF("t")
    def stats(n: Int) = df.select(
      Bridge.column(GramStats(Bridge.expression(split(col("t"), " ")), n)).as("g"))
      .select("g.n_grams", "g.n_dup", "g.max_freq", "g.sum_len")
      .as[(Long, Long, Long, Long)].collect()
    val got3 = stats(3)
    val want3 = Seq("a b a b a", "x", "", "the the the the", "émoji ünïcode chars ok")
      .map { s =>
        val t = s.split(" ", -1)
        val g = t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
        val counts = g.groupBy(identity).values.map(_.length).toSeq
        (g.length.toLong, (g.length - counts.length).toLong,
          if (counts.isEmpty) 0L else counts.max.toLong,
          t.map(_.length.toLong).sum)
      }
    assert(got3.toSeq === want3)
    // n=1: max token multiplicity (the quality_rules signal)
    assert(stats(1).map(_._3).toSeq === Seq(3L, 1L, 1L, 4L, 1L))
  }

  test("kmv sketch: partition-invariant, exhaustive below k, ~accurate above") {
    import org.apache.spark.sql.graft.{Bridge, KmvDistinct}
    def sketch(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .groupBy(col("g"))
      .agg(Bridge.column(KmvDistinct(Bridge.expression(col("v")), k)
        .toAggregateExpression()).as("sk"))
      .select(col("g"), col("sk.n_minima"), col("sk.kth_min"), col("sk.est"))
    // 10k values with duplicates across one group
    val vals = (0 until 10000).map(i => ("a", s"v${i % 3137}")).toDF("g", "v")
    val one = sketch(vals.repartition(1), 256).collect().head
    val many = sketch(vals.repartition(13), 256).collect().head
    assert(one === many, "merge across partitions must be exact")
    val est = one.getDouble(3)
    assert(math.abs(est - 3137) / 3137 < 0.25,
      s"estimate $est too far from true 3137 at k=256")
    // below k the sketch is exhaustive: est exactly the distinct count
    val small = sketch(vals.filter(col("v").isin((0 until 100).map(i => s"v$i"): _*))
      .repartition(7), 256).collect().head
    assert(small.getLong(1) === 100L && small.getDouble(3) === 100.0)
  }

  test("kmv overlap: Jaccard estimate tracks ground truth; merge-invariant") {
    import org.apache.spark.sql.graft.{Bridge, KmvMinima}
    // two synthetic value sets with known Jaccard: |A|=|B|=4000, overlap
    // 2000 → J = 2000/6000 = 1/3
    val a = (0 until 4000).map(i => ("A", s"v$i"))
    val b = (2000 until 6000).map(i => ("B", s"v$i"))
    val df = (a ++ b).toDF("g", "v")
    def sketches(parts: Int) = df.repartition(parts)
      .groupBy(col("g"))
      .agg(Bridge.column(KmvMinima(Bridge.expression(col("v")), 256)
        .toAggregateExpression()).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val s1 = sketches(1); val s13 = sketches(13)
    assert(s1 === s13, "minima sketch must be partition-invariant")
    // ascending, distinct, bounded
    assert(s1("A").length === 256 && s1("A") === s1("A").distinct.sorted)
    // theta-sketch Jaccard on the minima
    val u = (s1("A") ++ s1("B")).distinct.sorted.take(256)
    val theta = u.last
    val inter = s1("A").toSet.intersect(s1("B").toSet).count(_ <= theta)
    val est = inter.toDouble / u.length
    assert(math.abs(est - 1.0 / 3) < 0.12, s"J estimate $est vs 1/3")
  }

  test("kmv_overlap query: estimates track per-pair ground truth at sf0.001") {
    val rows = CorpusStatsQueries.kmvOverlap(spark, sf0001)
      .as[(String, String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // ground truth per pair from the raw bigram sets
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("source", "text").as[(String, String)].collect()
    val sets = docs.groupBy(_._1).view.mapValues(_.flatMap { case (_, t) =>
      val w = t.split(" ", -1)
      if (w.length < 2) Array.empty[String]
      else w.sliding(2).map(_.mkString(" ")).toArray
    }.toSet).toMap
    rows.foreach { case (sa, sb, usz, isz, est) =>
      assert(est === isz.toDouble / usz)
      val (ta, tb) = (sets(sa), sets(sb))
      val truth = ta.intersect(tb).size.toDouble / ta.union(tb).size
      // k=256 sketch over small per-source sets is near-exhaustive here
      assert(math.abs(est - truth) < 0.15, s"($sa,$sb): $est vs $truth")
    }
  }

  test("rare_bigrams: novelty ratio matches a brute-force recount") {
    val rows = CorpusStatsQueries.rareBigrams(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val grams = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> w.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toArray.distinct
    }.filter(_._2.nonEmpty)
    val df = grams.flatMap(_._2).groupBy(identity).view.mapValues(_.length).toMap
    val want = grams.map { case (id, gs) =>
      val rare = gs.count(df(_) == 1).toLong
      (id, gs.length.toLong, rare, rare.toDouble / gs.length)
    }.toSet
    assert(rows.toSet === want)
  }

  test("ccnet_buckets: exact per-language tercile counts, buckets ordered by fit") {
    val rows = CorpusStatsQueries.ccnetBuckets(spark, sf001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val n = rs.length
      val byB = rs.groupBy(_.getString(3)).view.mapValues(_.length).toMap
      assert(byB.getOrElse("head", 0) === n / 3, s"$lang head count")
      assert(byB.getOrElse("middle", 0) === 2 * n / 3 - n / 3, s"$lang middle count")
      assert(byB.getOrElse("tail", 0) === n - 2 * n / 3, s"$lang tail count")
      def fits(b: String) = rs.filter(_.getString(3) == b).map(_.getDouble(2))
      // bucket boundaries respect the fit ordering (ties may straddle only
      // via the doc_id tie-break, so >= — never a strict inversion)
      for ((hi, lo) <- Seq(("head", "middle"), ("middle", "tail")))
        if (fits(hi).nonEmpty && fits(lo).nonEmpty)
          assert(fits(hi).min >= fits(lo).max,
            s"$lang: $hi fits must dominate $lo")
    }
  }

  test("lm_score: micro-averaged bigram fit matches a brute-force recount") {
    val rows = CorpusStatsQueries.lmScore(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val occ = docs.flatMap { case (id, t) =>
      t.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(w => (id, w.mkString(" "), w(0))).toArray
    }
    val bc = occ.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pc = occ.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val want = occ.groupBy(_._1).map { case (id, os) =>
      val num = os.map(o => bc(o._2)).sum
      val den = os.map(o => pc(o._3)).sum
      (id, num, den, num.toDouble / den.toDouble)
    }.toSet
    assert(rows.toSet === want && want.nonEmpty)
  }

  test("count-min sketch: overestimates only, exact for isolated buckets") {
    import spark.implicits._
    import graft.operators.CountMin
    // skewed stream: token "hot" 1000×, 50 singletons
    val stream = (Seq.fill(1000)("hot") ++ (0 until 50).map(i => s"cold-$i"))
      .toDF("v")
    val counters = CountMin.sketch(stream, "v")
    val items = ("hot" +: (0 until 50).map(i => s"cold-$i")).toDF("v")
    val est = CountMin.estimates(counters, items, "v")
      .as[(String, Long)].collect().toMap
    assert(est("hot") >= 1000L) // never underestimates
    assert((0 until 50).forall(i => est(s"cold-$i") >= 1L))
    // ε·N bound with d=4, w=256: gross overestimates mean broken hashing
    assert(est("hot") <= 1000L + 1050 / 2, s"hot est ${est("hot")}")
    // absent item: min over its buckets is bounded by collisions, and an
    // all-empty-bucket item reads 0
    val ghost = CountMin.estimates(counters, Seq("never-seen").toDF("v"), "v")
      .as[(String, Long)].collect().head._2
    assert(ghost >= 0L && ghost <= 1050L)
  }

  test("count-min sketch: counter matrix is partition-invariant") {
    import spark.implicits._
    import graft.operators.CountMin
    val data = (0 until 2000).map(i => s"tok-${i % 37}")
    val one = CountMin.sketch(data.toDF("v").coalesce(1), "v")
      .as[(Int, Int, Long)].collect().toSet
    val many = CountMin.sketch(data.toDF("v").repartition(13), "v")
      .as[(Int, Int, Long)].collect().toSet
    assert(one === many)
  }

  test("bpe_encode_ids ≡ word-by-word re-assembly; null text emits zero tokens") {
    val dir = java.nio.file.Files.createTempDirectory("bpe-ids").toString
    val docs = Seq[(Long, String)]((1L, "low lower newest"), (2L, null),
      (3L, "widest low low"), (4L, ""), (5L, "new  est"))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = CorpusStatsQueries.bpeEncodeIds(spark, dir)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // the oracle's assembly: each document's words in order, each word's
    // ids in order, positions counted across the document from 0
    val wordIds = CorpusStatsQueries.bpeWordIdsAux(spark, dir).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val want = docs.filter(_._2 != null).flatMap { case (d, text) =>
      text.split(" ", -1).toSeq.flatMap(wordIds).zipWithIndex
        .map { case (tok, pos) => (d, pos.toLong, tok) }
    }.sorted
    assert(got === want)
    assert(!got.exists(_._1 == 2L), "a null-text document must emit no tokens")
  }
}
