package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Bpe, RangeJoin}

/** Corpus-statistics operators for training-data curation at scale:
  * TF-IDF term ranking, exact order-statistics (percentile_disc-style
  * quantiles without a global sort), cross-document novelty scoring, and a
  * binned temporal range join for burst detection.
  *
  * Oracle determinism: every emitted float is the result of EXACTLY ONE
  * IEEE-754 double operation on integer inputs (a single divide) — no
  * float summation order, no libm (`ln`/`exp`) whose last-ulp behavior can
  * differ between engines. Ranks/ties always break on an integer or string
  * column.
  */
object CorpusStatsQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  /** events with `ts` normalized to int64 nanos (Tables.events handles the
    * driver's parquet encodings); all ts math is exact long arithmetic and
    * `ts div 1000` is the µs clock DuckDB shares.
    */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  private def toks: Column = split(col("text"), " ")

  // ---- TF-IDF term ranking ----------------------------------------------

  /** Top-5 terms per document by tf·(N/df) — the rational-idf form of
    * TF-IDF (monotone in the classic tf·log(N/df) for fixed tf; chosen so
    * the score is ONE exact double division of integers and replays
    * bit-for-bit in SQL — `ln` would hand the hash gate to libm rounding).
    *
    * Scale: explode → (doc,term) count → term-keyed df aggregation →
    * term-keyed join back → per-doc top-k window. Two shuffles (term, doc);
    * df is a map-side-combinable count; no global sort, no collect. At
    * 100 TB the term join key can be xxhash64(term) to keep shuffle rows
    * narrow; kept as the raw term here for oracle replayability.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nDocs = d.agg(count(lit(1)).as("n"))
    val tf = d.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk"))
  }

  val tfidfTopTermsSql: String =
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
      |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (
      |  SELECT doc_id, term, tf, df,
      |    CAST(tf * n AS DOUBLE) / df AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf * n AS DOUBLE) / df DESC, term ASC) AS rnk
      |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
      |SELECT doc_id, term, tf, df, score, rnk FROM s WHERE rnk <= 5""".stripMargin

  // ---- exact per-group quantiles (percentile_disc semantics) -------------

  /** Exact p50/p90/p99 of per-document token counts, per source — the
    * discrete quantile (k-th smallest with k = ⌈q·n⌉, computed in INTEGER
    * arithmetic: `(n·qnum + 99) div 100`, so no float-times-count rounding
    * ambiguity between engines).
    *
    * Two-pass histogram form: pass 1 compacts rows to a per-source VALUE
    * histogram (map-side-combinable groupBy — the shuffle carries one row
    * per distinct token count, not per document); pass 2 runs the rank
    * selection over the cumulative histogram. The value whose cumulative
    * range [cum−c+1, cum] contains rank k IS the k-th smallest, so this is
    * bit-identical to sorting the group — but the per-source window now
    * sorts distinct VALUES (bounded by value cardinality: token counts of
    * real documents span ~1e5 distinct values no matter how many documents
    * exist), so a 100×-document source never outgrows a partition spill
    * the way the row-sort form could.
    */
  def tokenQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = docs(spark, dir)
      .select(col("source"), size(toks).cast("long").as("n_tok"))
      .groupBy(col("source"), col("n_tok")).agg(count(lit(1)).as("c"))
    val part = Window.partitionBy(col("source"))
    val w = part.orderBy(col("n_tok").asc)
    val qs = Seq(("p50", 50), ("p90", 90), ("p99", 99))
    val qdf = broadcast(spark.createDataFrame(qs).toDF("label", "qnum"))
    hist.withColumn("cum", sum(col("c")).over(w))
      .withColumn("cnt", sum(col("c")).over(part))
      .crossJoin(qdf)
      .withColumn("thr", expr("(cnt * qnum + 99) div 100"))
      .filter(col("cum") >= col("thr") && col("cum") - col("c") < col("thr"))
      .select(col("source"), col("label"), col("n_tok").as("v"))
  }

  val tokenQuantilesSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY len(string_split(text, ' ')) ASC, doc_id ASC) AS rnk,
      |    count(*) OVER (PARTITION BY source) AS cnt
      |  FROM documents),
      |q(label, qnum) AS (VALUES ('p50', 50), ('p90', 90), ('p99', 99))
      |SELECT source, label, n_tok AS v
      |FROM t CROSS JOIN q
      |WHERE rnk = (cnt * qnum + 99) // 100""".stripMargin

  // ---- cross-document novelty -------------------------------------------

  /** Per-document novelty: how many of the doc's distinct bigrams appear in
    * NO other document (corpus df = 1). The complement of repetition_stats
    * (within-doc duplication) and decontam (cross-corpus overlap): a
    * rare-n-gram ratio is the standard cheap proxy for "does this doc add
    * new content to the corpus". Ratio = one exact double division.
    *
    * Scale: same two-shuffle shape as TF-IDF (bigram-keyed df, doc-keyed
    * recount); df=1 detection is a map-side-combinable count.
    */
  def rareBigrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.vfn.ngrams(toks, 2))).as("bigram"))
    val df_ = grams.groupBy(col("bigram")).agg(count(lit(1)).as("df"))
    grams.join(df_, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("novelty", col("n_rare").cast("double") / col("n_bigrams"))
  }

  val rareBigramsSql: String =
    """WITH g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(text, ' ')) - 1),
      |    i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')))) AS bigram
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |d AS (SELECT bigram, count(*) AS df FROM g GROUP BY 1)
      |SELECT g.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
      |    AS novelty
      |FROM g JOIN d USING (bigram)
      |GROUP BY g.doc_id""".stripMargin

  // ---- cross-document boilerplate coverage --------------------------------

  private val BoilerN = 3     // gram length
  private val BoilerDf = 2    // boilerplate = gram in ≥ this many docs of one source

  /** Per-document boilerplate coverage: the fraction of a document's token
    * positions covered by word 3-grams that appear in ≥ 2 DISTINCT documents
    * of the same source — the per-domain repeated-template detector of the
    * CCNet/Dolma curation recipes (headers, footers, nav text repeat across
    * a site's pages; prose doesn't). The complement of `rare_bigrams`
    * (which scores novelty corpus-wide): this localizes WHICH positions are
    * templated so a scrub step can cut them. Core + scale story in
    * `operators/Boilerplate.scala`; ScaleBench times it on the replicated
    * corpus.
    */
  def boilerplateCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.coverage(docs(spark, dir), "doc_id", "text",
      "source", n = BoilerN, minDf = BoilerDf)

  /** The removal transform over the same detection — rebuild each document
    * from its uncovered positions (`Boilerplate.scrub`); the clean-text
    * column is exact string algebra (order-preserving position sort), so
    * the hash gate covers the reconstruction itself.
    */
  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.scrub(docs(spark, dir), "doc_id", "text",
      "source", n = BoilerN, minDf = BoilerDf)

  // ---- paragraph-level boilerplate ----------------------------------------

  /** Every 8th token boundary becomes a newline — a deterministic
    * MULTI-LINE twin of the documents table (the driver corpus is
    * single-line; real corpora carry paragraph structure). Both engines
    * compute the identical string, so the paragraph queries hash-gate the
    * line-aware pipeline end-to-end.
    */
  private val MlBreak = 8

  private def mlDocs(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("__w"))
      .withColumn("__s", array_join(transform(col("__w"), (x, i) =>
        concat(x, when(pmod(i + 1, lit(MlBreak)) === 0, lit("\n"))
          .otherwise(lit(" ")))), ""))
      .select(col("doc_id"), col("source"),
        expr("substring(__s, 1, length(__s) - 1)").as("text"))

  private val mlDocsSql: String =
    s"""SELECT doc_id, source, left(s, length(s) - 1) AS text FROM (
       |  SELECT doc_id, source, array_to_string(
       |    [w[i] || CASE WHEN i % $MlBreak = 0 THEN chr(10) ELSE ' ' END
       |     for i in range(1, len(w) + 1)], '') AS s
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents))""".stripMargin

  /** Paragraph-aware coverage over the multi-line twin: grams never straddle
    * newlines; totals sum over paragraphs (`Boilerplate.paraCoverage`).
    */
  def boilerplateParaCoverage(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.paraCoverage(mlDocs(spark, dir), "doc_id",
      "text", "source", n = BoilerN, minDf = BoilerDf)

  /** Paragraph-PRESERVING scrub: clean text keeps its newline structure
    * (fully-templated paragraphs come back as empty lines); the hash gate
    * covers the whole reconstruction including paragraph order.
    */
  def boilerplateParaScrub(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.paraScrub(mlDocs(spark, dir), "doc_id",
      "text", "source", n = BoilerN, minDf = BoilerDf)

  /** Shared paragraph CTE chain: ml corpus → paragraphs → per-para tokens →
    * positional grams → per-(source, gram) doc frequency.
    */
  private val paraGramCtes: String =
    s"""ml AS ($mlDocsSql),
       |pr0 AS (SELECT doc_id, source, string_split(text, chr(10)) AS ps FROM ml),
       |pr AS (SELECT doc_id, source, unnest(range(1, len(ps) + 1)) AS pi, ps FROM pr0),
       |pw AS (SELECT doc_id, source, pi, string_split(ps[pi], ' ') AS w FROM pr),
       |occ AS (SELECT doc_id, source, pi,
       |          unnest(range(1, len(w) - ${BoilerN - 2})) AS i, w
       |        FROM pw),
       |g AS (SELECT doc_id, source, pi, i,
       |        array_to_string(w[i:i + ${BoilerN - 1}], ' ') AS gram
       |      FROM occ),
       |boiler AS (
       |  SELECT source, gram FROM (
       |    SELECT source, gram, count(DISTINCT doc_id) AS df
       |    FROM g GROUP BY 1, 2) WHERE df >= $BoilerDf)""".stripMargin

  val boilerplateParaCoverageSql: String =
    s"""WITH $paraGramCtes,
       |pexp AS (
       |  SELECT g.doc_id, g.pi, unnest(range(g.i, g.i + $BoilerN)) AS p
       |  FROM g JOIN boiler ON g.source = boiler.source AND g.gram = boiler.gram),
       |cov AS (
       |  SELECT doc_id, count(*) AS n_covered
       |  FROM (SELECT DISTINCT doc_id, pi, p FROM pexp) GROUP BY 1),
       |nt AS (SELECT doc_id, CAST(sum(len(w)) AS BIGINT) AS n_tok FROM pw GROUP BY 1)
       |SELECT nt.doc_id, n_tok,
       |  CAST(coalesce(cov.n_covered, 0) AS BIGINT) AS n_covered,
       |  CAST(coalesce(cov.n_covered, 0) AS DOUBLE) / n_tok AS coverage
       |FROM nt LEFT JOIN cov USING (doc_id)""".stripMargin

  val boilerplateParaScrubSql: String =
    s"""WITH $paraGramCtes,
       |cov AS (
       |  SELECT DISTINCT doc_id, pi, p FROM (
       |    SELECT g.doc_id, g.pi, unnest(range(g.i, g.i + $BoilerN)) AS p
       |    FROM g JOIN boiler ON g.source = boiler.source AND g.gram = boiler.gram)),
       |tok AS (
       |  SELECT doc_id, pi, unnest(range(1, len(w) + 1)) AS p, w FROM pw),
       |kept AS (
       |  SELECT tok.doc_id, tok.pi, tok.p, tok.w[tok.p] AS tk
       |  FROM (SELECT doc_id, pi, p, w FROM tok) tok
       |  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.pi = cov.pi AND tok.p = cov.p),
       |cpara AS (
       |  SELECT doc_id, pi, string_agg(tk, ' ' ORDER BY p) AS ct, count(*) AS nk
       |  FROM kept GROUP BY 1, 2),
       |cp2 AS (
       |  SELECT pw.doc_id, pw.pi, coalesce(cpara.ct, '') AS ct,
       |    coalesce(cpara.nk, 0) AS nk
       |  FROM pw LEFT JOIN cpara USING (doc_id, pi))
       |SELECT doc_id, string_agg(ct, chr(10) ORDER BY pi) AS clean_text,
       |  CAST(sum(nk) AS BIGINT) AS n_kept
       |FROM cp2 GROUP BY 1""".stripMargin

  val boilerplateScrubSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
       |           FROM documents),
       |occ AS (
       |  SELECT doc_id, source, unnest(range(1, len(w) - ${BoilerN - 2})) AS i, w
       |  FROM t),
       |g AS (SELECT doc_id, source, i,
       |        array_to_string(w[i:i + ${BoilerN - 1}], ' ') AS gram
       |      FROM occ),
       |boiler AS (
       |  SELECT source, gram FROM (
       |    SELECT source, gram, count(DISTINCT doc_id) AS df
       |    FROM g GROUP BY 1, 2) WHERE df >= $BoilerDf),
       |cov AS (
       |  SELECT DISTINCT doc_id, p FROM (
       |    SELECT g.doc_id, unnest(range(g.i, g.i + $BoilerN)) AS p
       |    FROM g JOIN boiler ON g.source = boiler.source AND g.gram = boiler.gram)),
       |tok AS (
       |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS p, w FROM t),
       |kept AS (
       |  SELECT tok.doc_id, tok.p, tok.w[tok.p] AS tk
       |  FROM (SELECT doc_id, p, w FROM tok) tok
       |  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p),
       |agg AS (
       |  SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS clean_text,
       |    count(*) AS n_kept
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
       |  CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
       |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin

  val boilerplateCoverageSql: String =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
       |           FROM documents),
       |occ AS (
       |  SELECT doc_id, source, unnest(range(1, len(w) - ${BoilerN - 2})) AS i, w
       |  FROM t),
       |g AS (SELECT doc_id, source, i,
       |        array_to_string(w[i:i + ${BoilerN - 1}], ' ') AS gram
       |      FROM occ),
       |boiler AS (
       |  SELECT source, gram FROM (
       |    SELECT source, gram, count(DISTINCT doc_id) AS df
       |    FROM g GROUP BY 1, 2) WHERE df >= $BoilerDf),
       |pexp AS (
       |  SELECT g.doc_id, unnest(range(g.i, g.i + $BoilerN)) AS p
       |  FROM g JOIN boiler ON g.source = boiler.source AND g.gram = boiler.gram),
       |cov AS (
       |  SELECT doc_id, count(*) AS n_covered
       |  FROM (SELECT DISTINCT doc_id, p FROM pexp) GROUP BY 1)
       |SELECT t.doc_id, len(w) AS n_tok,
       |  coalesce(cov.n_covered, 0) AS n_covered,
       |  CAST(coalesce(cov.n_covered, 0) AS DOUBLE) / len(w) AS coverage
       |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin

  // ---- Count-Min frequency sketch ----------------------------------------

  private val CmsTopN = 20

  /** Token frequencies estimated through a 4×256 Count-Min sketch, for the
    * corpus' top-20 exact-frequency tokens (exact counts ride along for
    * the error audit). The counter matrix is a (row, bucket) groupBy —
    * constant width at any corpus size — and the md5-nibble row hashes
    * make the whole sketch ORACLE-REPLAYABLE (see `CountMin`); the
    * overestimate bound is spec-gated.
    */
  def cmsTokenFreq(spark: SparkSession, dir: String): DataFrame = {
    val toksDf = docs(spark, dir).select(explode(toks).as("token"))
    val counters = graft.operators.CountMin.sketch(toksDf, "token")
    val top = toksDf.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token").asc).limit(CmsTopN)
    graft.operators.CountMin.estimates(counters, top, "token")
      .join(top, "token")
      .select(col("token"), col("n_exact"), col("est"))
  }

  /** Replays the sketch exactly: same two-nibble row buckets, same exact
    * integer counters, same min-over-rows estimate.
    */
  val cmsTokenFreqSql: String = {
    // bucket for row r (r is a COLUMN here): md5 hex chars 2r+1, 2r+2
    val bucket =
      """((strpos('0123456789abcdef', substr(md5(token), 2 * r + 1, 1)) - 1) * 16
        | + (strpos('0123456789abcdef', substr(md5(token), 2 * r + 2, 1)) - 1))""".stripMargin
    s"""WITH t AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |e AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM t GROUP BY 1
       |  ORDER BY n_exact DESC, token ASC LIMIT $CmsTopN),
       |r4 AS (SELECT unnest([0, 1, 2, 3]) AS r),
       |m AS (
       |  SELECT r, $bucket AS bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM t CROSS JOIN r4 GROUP BY 1, 2),
       |q AS (SELECT token, r, $bucket AS bucket FROM e CROSS JOIN r4)
       |SELECT q.token, e.n_exact,
       |  CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS est
       |FROM q
       |JOIN e ON e.token = q.token
       |LEFT JOIN m ON m.r = q.r AND m.bucket = q.bucket
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- KMV distinct-count sketch ----------------------------------------

  private val KmvK = 256

  /** Per-source distinct-bigram cardinality via the KMV sketch — the
    * mergeable-sketch alternative to exact `countDistinct`: map tasks ship
    * ≤ k longs per group to the shuffle instead of every distinct value
    * (at 100 TB an exact distinct over n-grams IS the job; the sketch makes
    * it a constant-width aggregation). The md5-based hash makes the sketch
    * DETERMINISTIC AND REPLAYABLE: the oracle reproduces the exact k-th
    * minimum and the exact estimate, so even the approximate operator gets
    * a full hash gate — accuracy itself is spec-gated in CorpusStatsSpec.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, KmvDistinct}
    val grams = docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("source"),
        explode(graft.functions.vfn.ngrams(toks, 2)).as("bigram"))
    grams.groupBy(col("source"))
      .agg(Bridge.column(
        KmvDistinct(Bridge.expression(col("bigram")), KmvK)
          .toAggregateExpression()).as("sk"))
      .select(col("source"), col("sk.n_minima").as("n_minima"),
        col("sk.kth_min").as("kth_min"), col("sk.est").as("est"))
  }

  /** Replays the sketch exactly: same 60-bit md5-prefix hash (15-nibble
    * positional sum), same k minima over DISTINCT hashes, same estimator
    * arithmetic (255·2⁶⁰ is exact in double, one division).
    */
  val kmvDistinctSql: String = {
    val nib = (0 until 15).map { d =>
      val w = java.math.BigInteger.valueOf(16L).pow(14 - d)
      s"(strpos('0123456789abcdef', substr(md5(bigram), ${d + 1}, 1)) - 1) * $w"
    }.mkString(" +\n      ")
    s"""WITH g AS (
       |  SELECT DISTINCT source, unnest(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - 1),
       |    i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |h AS (
       |  SELECT DISTINCT source, CAST($nib AS BIGINT) AS h FROM g),
       |r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM h),
       |k AS (
       |  SELECT source,
       |    least(max(cnt), $KmvK) AS n_minima,
       |    max(CASE WHEN rn <= $KmvK THEN h END) AS kth_min,
       |    max(cnt) AS cnt
       |  FROM r GROUP BY source)
       |SELECT source,
       |  CAST(n_minima AS BIGINT) AS n_minima,
       |  CAST(kth_min AS BIGINT) AS kth_min,
       |  CASE WHEN cnt < $KmvK THEN CAST(n_minima AS DOUBLE)
       |       ELSE ${(KmvK - 1).toDouble} * 1152921504606846976.0
       |            / CAST(kth_min AS DOUBLE) END AS est
       |FROM k""".stripMargin
  }

  // ---- KMV theta-sketch set algebra (cross-source overlap) ---------------

  /** Pairwise cross-source overlap via theta-sketch set algebra on the raw
    * KMV minima: per-source `kmv_minima` sketches (one constant-width array
    * per source), then EVERY pairwise Jaccard/union/intersection estimate
    * as plain array expressions over the tiny sketch frame. This is the
    * 100 TB corpus-comparison shape: the corpus is read ONCE for the
    * sketches; the O(sources²) pair algebra runs on ≤ k longs per source,
    * never touching the data again (an exact pairwise Jaccard would rescan
    * the corpus per pair). Estimator: U = k smallest of A ∪ B (θ = max U);
    * jaccard ≈ |{h ∈ A∩B : h ≤ θ}| / |U| — one exact int division, so the
    * whole thing (hash, minima, set ops, estimate) replays in DuckDB
    * bit-for-bit. Accuracy + merge invariance are spec-gated.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.{Bridge, KmvMinima}
    val grams = docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("source"),
        explode(graft.functions.vfn.ngrams(toks, 2)).as("bigram"))
    val sk = grams.groupBy(col("source"))
      .agg(Bridge.column(
        KmvMinima(Bridge.expression(col("bigram")), KmvK)
          .toAggregateExpression()).as("mins"))
    val a = sk.select(col("source").as("source_a"), col("mins").as("__ma"))
    val b = sk.select(col("source").as("source_b"), col("mins").as("__mb"))
    a.join(b, col("source_a") < col("source_b"))
      .withColumn("__u",
        slice(array_sort(array_union(col("__ma"), col("__mb"))), 1, KmvK))
      .withColumn("__theta", element_at(col("__u"), size(col("__u"))))
      .withColumn("union_size", size(col("__u")).cast("long"))
      .withColumn("inter_size",
        size(filter(array_intersect(col("__ma"), col("__mb")),
          h => h <= col("__theta"))).cast("long"))
      .select(col("source_a"), col("source_b"), col("union_size"),
        col("inter_size"),
        (col("inter_size").cast("double") / col("union_size").cast("double"))
          .as("jaccard_est"))
  }

  /** Replays the sketch sets and the pair algebra exactly: same 60-bit
    * hash, same per-source k minima, same union-top-k/θ/intersection
    * construction, same single division.
    */
  val kmvOverlapSql: String = {
    val nib = (0 until 15).map { d =>
      val w = java.math.BigInteger.valueOf(16L).pow(14 - d)
      s"(strpos('0123456789abcdef', substr(md5(bigram), ${d + 1}, 1)) - 1) * $w"
    }.mkString(" +\n      ")
    s"""WITH g AS (
       |  SELECT DISTINCT source, unnest(list_transform(
       |    generate_series(1, len(string_split(text, ' ')) - 1),
       |    i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS bigram
       |  FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |h AS (
       |  SELECT DISTINCT source, CAST($nib AS BIGINT) AS h FROM g),
       |r AS (
       |  SELECT source, h,
       |    row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
       |  FROM h),
       |s AS (SELECT source, h FROM r WHERE rn <= $KmvK),
       |p AS (
       |  SELECT a.source AS sa, b.source AS sb
       |  FROM (SELECT DISTINCT source FROM s) a
       |  JOIN (SELECT DISTINCT source FROM s) b ON a.source < b.source),
       |uh AS (
       |  SELECT DISTINCT p.sa, p.sb, s.h
       |  FROM p JOIN s ON s.source = p.sa OR s.source = p.sb),
       |ur AS (
       |  SELECT sa, sb, h,
       |    row_number() OVER (PARTITION BY sa, sb ORDER BY h ASC) AS rn
       |  FROM uh),
       |uk AS (
       |  SELECT sa, sb, max(h) AS theta, count(*) AS usz
       |  FROM ur WHERE rn <= $KmvK GROUP BY 1, 2),
       |ix AS (
       |  SELECT a.source AS sa, b.source AS sb, a.h
       |  FROM s a JOIN s b ON a.source < b.source AND a.h = b.h)
       |SELECT uk.sa AS source_a, uk.sb AS source_b,
       |  CAST(uk.usz AS BIGINT) AS union_size,
       |  CAST(coalesce(sum(CASE WHEN ix.h <= uk.theta THEN 1 ELSE 0 END), 0)
       |    AS BIGINT) AS inter_size,
       |  CAST(coalesce(sum(CASE WHEN ix.h <= uk.theta THEN 1 ELSE 0 END), 0)
       |    AS DOUBLE) / CAST(uk.usz AS DOUBLE) AS jaccard_est
       |FROM uk LEFT JOIN ix ON uk.sa = ix.sa AND uk.sb = ix.sb
       |GROUP BY uk.sa, uk.sb, uk.usz, uk.theta""".stripMargin
  }

  // ---- binned temporal range join (burst detection) ----------------------

  private val BurstWindowUs = 5000000L // ±5 s

  /** Per-event activity burst: how many OTHER events (any user) fall within
    * ±5 s — a keyless temporal band self-join, the query shape Spark would
    * otherwise plan as a cartesian product. Routed through the binned
    * `RangeJoin` operator: intervals [ts−5s, ts+5s] explode into ≤ 2 bins
    * of width 10 s, points land in one bin, the equi-join meets every
    * qualifying pair exactly once. Self-match is kept through the join (so
    * every event survives the groupBy) and subtracted from the count.
    */
  def concurrentEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"))
    val intervals = ev.select(col("event_id"),
      (col("ts_us") - BurstWindowUs).as("lo"),
      (col("ts_us") + BurstWindowUs).as("hi"))
    val points = ev.select(col("ts_us").as("pt"))
    RangeJoin.intervalPoint(intervals, "lo", "hi", points, "pt",
        binWidth = 2 * BurstWindowUs)
      .groupBy(col("event_id"))
      .agg((count(lit(1)) - 1).as("n_near"))
  }

  val concurrentEventsSql: String =
    s"""SELECT a.event_id, count(*) - 1 AS n_near
       |FROM events a JOIN events b
       |  ON epoch_us(b.ts) BETWEEN epoch_us(a.ts) - $BurstWindowUs
       |                        AND epoch_us(a.ts) + $BurstWindowUs
       |GROUP BY a.event_id""".stripMargin

  // ---- n-gram LM corpus-fit scoring ---------------------------------------

  /** Per-doc bigram language-model fit — the CCNet/Gopher "LM quality
    * score" shape in hash-replayable form. A bigram MLE model assigns each
    * occurrence P(w2|w1) = c(w1w2)/c(w1·); instead of the libm-bound mean
    * of log-probs (perplexity), score MICRO-averaged: fit = Σc(w1w2) /
    * Σc(w1·) over the doc's bigram occurrences — two exact BIGINT sums and
    * ONE IEEE double division. High = the doc's transitions are common
    * corpus-wide (conformant/boilerplate-leaning), low = novel text. The
    * occurrence-frequency complement of `rare_bigrams` (distinct-df
    * novelty).
    *
    * Scale: bigram-keyed count + prefix-keyed count (two constant-width
    * aggregations over the exploded stream), two equi-joins back onto the
    * occurrences, one doc-keyed sum — all linear, no pair enumeration;
    * codegen NGrams kernel builds the grams.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.vfn
    val occ = docs(spark, dir)
      .filter(size(toks) >= 2)
      .select(col("doc_id"), explode(vfn.ngrams(toks, 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val bgCount = occ.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val pfCount = occ.groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
    occ.join(bgCount, Seq("bg")).join(pfCount, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_bg")).as("fit_num"), sum(col("c_w1")).as("fit_den"))
      .withColumn("fit",
        col("fit_num").cast("double") / col("fit_den").cast("double"))
  }

  /** Same counts; bigram construction replayed with list_transform. Tokens
    * never contain spaces (the tokenizer split on them), so
    * substring_index(bg, ' ', 1) ≡ the first token on both engines.
    */
  val lmScoreSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |occ AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(tk) - 1),
      |    i -> array_to_string(tk[i:i+1], ' '))) AS bg
      |  FROM t WHERE len(tk) >= 2),
      |o AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM occ),
      |bc AS (SELECT bg, count(*) AS c_bg FROM o GROUP BY bg),
      |pc AS (SELECT w1, count(*) AS c_w1 FROM o GROUP BY w1)
      |SELECT doc_id,
      |  CAST(sum(c_bg) AS BIGINT) AS fit_num,
      |  CAST(sum(c_w1) AS BIGINT) AS fit_den,
      |  CAST(sum(c_bg) AS DOUBLE) / CAST(sum(c_w1) AS DOUBLE) AS fit
      |FROM o JOIN bc USING (bg) JOIN pc USING (w1)
      |GROUP BY doc_id""".stripMargin

  // ---- CCNet-style LM-fit bucketing ---------------------------------------

  /** CCNet's perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359):
    * per language, split the corpus into head / middle / tail TERCILES of
    * language-model fit — the mixture knob CCNet pipelines expose ("train
    * on head+middle, drop tail"). The tercile machinery is the production
    * operator `Selection.scoreTerciles` (exact integer rank algebra, one
    * group-partitioned window — see its Scaladoc for the rank-free
    * extreme-cardinality variant); the score is `lm_score`'s micro-averaged
    * bigram fit (higher = more corpus-conformant ≈ lower perplexity, ONE
    * IEEE division of exact BIGINT sums — bit-identical on every engine),
    * built ON that query's definition so the two cannot drift.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val lang = docs(spark, dir).select(col("doc_id"), col("lang"))
    val scored = lmScore(spark, dir).select(col("doc_id"), col("fit"))
      .join(lang, "doc_id")
    graft.operators.Selection.scoreTerciles(scored, "lang", "fit", "doc_id")
      .select(col("doc_id"), col("lang"), col("fit"), col("bucket"))
  }

  /** Oracle: the `lm_score` oracle AS a CTE plus the same windows — one
    * definition of the fit score for both queries.
    */
  val ccnetBucketsSql: String =
    s"""WITH fit AS ($lmScoreSql),
       |j AS (SELECT d.doc_id, d.lang, f.fit
       |      FROM documents d JOIN fit f ON d.doc_id = f.doc_id),
       |r AS (SELECT doc_id, lang, fit,
       |        row_number() OVER (PARTITION BY lang
       |          ORDER BY fit DESC, doc_id ASC) AS rnk,
       |        count(*) OVER (PARTITION BY lang) AS n
       |      FROM j)
       |SELECT doc_id, lang, fit,
       |  CASE WHEN rnk * 3 <= n THEN 'head'
       |       WHEN rnk * 3 <= 2 * n THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM r""".stripMargin

  // ---- BPE tokenizer training + corpus token accounting -------------------

  /** Merge count for the declared queries: enough rounds to exercise
    * multi-level merges (merged symbols re-merging) on this corpus while
    * keeping the aux state export small (rounds × word types).
    */
  private val BpeNumMerges = 32

  /** Train once per (session, dir): the merge table AND the per-round
    * word-table states both feed a declared query / aux export, and
    * retraining is pure waste (Verify runs every entry; Bench twice).
    * Driver-local values memoized — no session-bound DataFrames inside.
    */
  private def bpeArtifacts(spark: SparkSession, dir: String)
      : (Vector[Bpe.Merge], Vector[Bpe.StateRow]) =
    QueryMemo.cached(spark, dir, "bpe_artifacts") {
      val table = Bpe.collectWordTable(
        Bpe.wordCounts(docs(spark, dir), "text"), maxWordTypes = 1 << 20)
      Bpe.trainLocal(table, BpeNumMerges, recordStates = true)
    }

  /** BPE tokenizer training (Sennrich arXiv:1508.07909; see `Bpe`): the
    * learned merge table. Oracle: DuckDB re-derives EVERY merge decision —
    * it recounts adjacent-pair frequencies from the exported per-round word
    * states and takes the argmax under the documented (cnt DESC, lsym, rsym)
    * tie-break; the state transition itself is gated by BpeSpec against an
    * independent naive implementation (the established aux-replay split:
    * Spark computes the iterate, the oracle re-verifies each decision).
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeArtifacts(spark, dir)
    spark.createDataFrame(merges)
      .select(col("rank").cast("long").as("rank"), col("lsym"), col("rsym"))
  }

  val bpeTrainSql: String =
    """WITH pos AS (SELECT round, freq, syms, unnest(range(1, len(syms))) AS i
      |             FROM read_parquet('{AUX}/bpe_states/*.parquet')),
      |pairs AS (SELECT round, syms[i] AS lsym, syms[i+1] AS rsym,
      |            SUM(freq) AS cnt
      |          FROM pos GROUP BY 1, 2, 3),
      |best AS (SELECT round, lsym, rsym,
      |           row_number() OVER (PARTITION BY round
      |             ORDER BY cnt DESC, lsym ASC, rsym ASC) AS rn
      |         FROM pairs)
      |SELECT CAST(round AS BIGINT) AS rank, lsym, rsym FROM best WHERE rn = 1""".stripMargin

  /** Aux: per-round pre-merge word-table states (round, syms, freq). */
  def bpeStatesAux(spark: SparkSession, dir: String): DataFrame = {
    val (_, states) = bpeArtifacts(spark, dir)
    spark.createDataFrame(states)
      .select(col("round").cast("long").as("round"), col("syms"), col("freq"))
  }

  /** Byte-level twin of `bpeArtifacts`: seeds from UTF-8 bytes through
    * GPT-2's byte↔printable-unicode bijection (`Bpe.byteToChar`) — the
    * production tokenizer recipe for arbitrary text. Same trainer, same
    * state-export contract; only the seed alphabet differs.
    */
  private def bpeArtifactsBytes(spark: SparkSession, dir: String)
      : (Vector[Bpe.Merge], Vector[Bpe.StateRow]) =
    QueryMemo.cached(spark, dir, "bpe_artifacts_bytes") {
      val table = Bpe.collectWordTable(
        Bpe.wordCounts(docs(spark, dir), "text"), maxWordTypes = 1 << 20)
      Bpe.trainLocal(table, BpeNumMerges, recordStates = true, byteLevel = true)
    }

  /** Byte-level BPE training (GPT-2 byte vocabulary). Oracle: identical
    * state-replay to `bpe_train` — DuckDB recounts pairs from the exported
    * byte-level states and re-derives every merge decision; the exported
    * symbols are already mapped printable chars, so the oracle needs no
    * knowledge of the byte bijection (the seeding itself — UTF-8 bytes →
    * mapped chars, exact decode round-trip on emoji/multi-byte text, and
    * byte≡char merge agreement on printable-ASCII corpora — is BpeSpec-gated).
    */
  def bpeTrainBytes(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeArtifactsBytes(spark, dir)
    spark.createDataFrame(merges)
      .select(col("rank").cast("long").as("rank"), col("lsym"), col("rsym"))
  }

  val bpeTrainBytesSql: String =
    """WITH pos AS (SELECT round, freq, syms, unnest(range(1, len(syms))) AS i
      |             FROM read_parquet('{AUX}/bpe_states_bytes/*.parquet')),
      |pairs AS (SELECT round, syms[i] AS lsym, syms[i+1] AS rsym,
      |            SUM(freq) AS cnt
      |          FROM pos GROUP BY 1, 2, 3),
      |best AS (SELECT round, lsym, rsym,
      |           row_number() OVER (PARTITION BY round
      |             ORDER BY cnt DESC, lsym ASC, rsym ASC) AS rn
      |         FROM pairs)
      |SELECT CAST(round AS BIGINT) AS rank, lsym, rsym FROM best WHERE rn = 1""".stripMargin

  /** Aux: byte-level per-round pre-merge states. */
  def bpeStatesBytesAux(spark: SparkSession, dir: String): DataFrame = {
    val (_, states) = bpeArtifactsBytes(spark, dir)
    spark.createDataFrame(states)
      .select(col("round").cast("long").as("round"), col("syms"), col("freq"))
  }

  /** Aux: distributed per-distinct-word encode under the trained merges
    * (word, n_toks) — the word-level table both the `bpe_token_stats` query
    * and its oracle aggregate from (per-word encode equivalence to the
    * training fixpoint is BpeSpec-gated).
    */
  def bpeWordTokensAux(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeArtifacts(spark, dir)
    Bpe.encodeWordsDf(Bpe.wordCounts(docs(spark, dir), "text"), "word", merges)
      .select(col("word"), size(col("toks")).cast("long").as("n_toks"))
  }

  /** Token-ID vocabulary of the trained char-level BPE, GPT-2's assignment
    * recipe: the initial alphabet (round-0 distinct symbols, sorted — every
    * corpus char + the end-of-word marker) takes ids 0..A-1, then each
    * merge's output symbol takes the next id in rank order. On the rare
    * merged-string/alphabet collision (the documented string-concat
    * ambiguity) the FIRST assignment wins — deterministic either way.
    */
  private def bpeVocab(spark: SparkSession, dir: String): Map[String, Long] =
    QueryMemo.cached(spark, dir, "bpe_vocab") {
      val (merges, states) = bpeArtifacts(spark, dir)
      val alphabet = states.filter(_.round == 0).flatMap(_.syms).distinct.sorted
      val vb = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      alphabet.zipWithIndex.foreach { case (s, i) => vb(s) = i.toLong }
      var next = alphabet.size.toLong
      merges.foreach { m =>
        val tok = m.lsym + m.rsym
        if (!vb.contains(tok)) { vb(tok) = next; next += 1 }
      }
      vb.toMap
    }

  /** Aux: per-distinct-word token-ID lists (word, ids) under the trained
    * merges + vocabulary — the table both `bpe_encode_ids` and its oracle
    * assemble documents from (per-word encode ≡ training fixpoint is
    * BpeSpec-gated; the id assignment is the documented vocab recipe).
    */
  def bpeWordIdsAux(spark: SparkSession, dir: String): DataFrame = {
    val (merges, _) = bpeArtifacts(spark, dir)
    val vocab = bpeVocab(spark, dir)
    val vb = typedLit(vocab)
    Bpe.encodeWordsDf(Bpe.wordCounts(docs(spark, dir), "text"), "word", merges)
      .select(col("word"),
        transform(col("toks"), t => element_at(vb, t)).as("ids"))
  }

  /** Per-document token-ID sequences — what a training pipeline actually
    * ships to the model: (doc_id, pos, token_id), pos 0-based over the
    * document's flattened word encodings in word order. Scale: corpus
    * explode → broadcast join against the word-type id table → one
    * per-document window for the global position (the token_pack family's
    * shuffle shape); the per-word merge loop never touches the corpus.
    * Oracle: DuckDB re-assembles every document from the words and the
    * exported word→ids table and recomputes the ordered flatten — the
    * ASSEMBLY (word order, intra-word order, global positions) is what the
    * hash gates; the per-word encode rides aux exactly like
    * `bpe_token_stats`.
    */
  def bpeEncodeIds(spark: SparkSession, dir: String): DataFrame = {
    // The word→ids table is collected ONCE (the same driver-resident
    // footprint the broadcast hash join this replaces had to build) and the
    // document's token stream is assembled IN-ROW: flatten the per-word id
    // lists in word order and posexplode — the exploded position IS the
    // window's row_number-1, since both enumerate (wpos asc, tpos asc). The
    // corpus-token-sized exchange + sort the per-doc window needed are gone
    // (measured at sf0.1: a 10.4 MB / 938k-row single-task exchange and its
    // sort stage, ~1.1 s of the query). Missing words (impossible — the
    // table derives from this corpus' own word counts) would drop here
    // exactly as the old inner join dropped them.
    val wordIds = bpeWordIdsAux(spark, dir).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val bc = spark.sparkContext.broadcast(wordIds)
    // null text emits zero tokens — the row set of the posexplode(split)
    // formulation this replaced (split(NULL) is NULL, exploding to nothing)
    val enc = udf((text: String) =>
      if (text == null) Seq.empty[Long]
      else text.split(" ", -1).toSeq.flatMap(w => bc.value.getOrElse(w, Seq.empty)))
    docs(spark, dir)
      .select(col("doc_id"), posexplode(enc(col("text"))).as(Seq("pos", "token_id")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("token_id").cast("long").as("token_id"))
  }

  val bpeEncodeIdsSql: String =
    """WITH w AS (
      |  SELECT doc_id, i AS wpos, string_split(text, ' ')[i] AS word
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
      |        FROM documents)),
      |j AS (SELECT w.doc_id, w.wpos, a.ids
      |      FROM w JOIN read_parquet('{AUX}/bpe_word_ids/*.parquet') a
      |        ON w.word = a.word),
      |t AS (SELECT doc_id, wpos, ti AS tpos, ids[ti] AS token_id
      |      FROM (SELECT doc_id, wpos, ids,
      |              unnest(generate_series(1, len(ids))) AS ti
      |            FROM j))
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, tpos) - 1 AS BIGINT) AS pos,
      |  CAST(token_id AS BIGINT) AS token_id
      |FROM t""".stripMargin

  /** Corpus token accounting under the trained BPE: per-document whitespace
    * word count and BPE token count — the sizing pass a pipeline runs before
    * packing/budgeting. Scale: corpus explode → broadcast join against the
    * word-type encode table → per-doc agg; the per-word merge loop runs only
    * on the type table, never the corpus.
    */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), explode(toks).as("word"))
      .join(broadcast(bpeWordTokensAux(spark, dir)), "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_toks")).cast("long").as("n_tokens"))

  val bpeTokenStatsSql: String =
    """SELECT d.doc_id,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(SUM(w.n_toks) AS BIGINT) AS n_tokens
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |      FROM documents) d
      |JOIN read_parquet('{AUX}/bpe_word_tokens/*.parquet') w ON d.word = w.word
      |GROUP BY d.doc_id""".stripMargin

  val oracleInputs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_states" -> (bpeStatesAux(_, _)),
    "bpe_states_bytes" -> (bpeStatesBytesAux(_, _)),
    "bpe_word_ids" -> (bpeWordIdsAux(_, _)),
    "bpe_word_tokens" -> (bpeWordTokensAux(_, _)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_train" -> (bpeTrain(_, _)),
    "bpe_train_bytes" -> (bpeTrainBytes(_, _)),
    "bpe_token_stats" -> (bpeTokenStats(_, _)),
    "bpe_encode_ids" -> (bpeEncodeIds(_, _)),
    "lm_score" -> (lmScore(_, _)),
    "ccnet_buckets" -> (ccnetBuckets(_, _)),
    "tfidf_top_terms" -> (tfidfTopTerms(_, _)),
    "token_quantiles" -> (tokenQuantiles(_, _)),
    "rare_bigrams" -> (rareBigrams(_, _)),
    "boilerplate_coverage" -> (boilerplateCoverage(_, _)),
    "boilerplate_scrub" -> (boilerplateScrub(_, _)),
    "boilerplate_para_coverage" -> (boilerplateParaCoverage(_, _)),
    "boilerplate_para_scrub" -> (boilerplateParaScrub(_, _)),
    "kmv_distinct" -> (kmvDistinct(_, _)),
    "cms_token_freq" -> (cmsTokenFreq(_, _)),
    "kmv_overlap" -> (kmvOverlap(_, _)),
    "concurrent_events" -> (concurrentEvents(_, _)))

  val oracles: Map[String, String] = Map(
    "bpe_train" -> bpeTrainSql,
    "bpe_train_bytes" -> bpeTrainBytesSql,
    "bpe_encode_ids" -> bpeEncodeIdsSql,
    "bpe_token_stats" -> bpeTokenStatsSql,
    "lm_score" -> lmScoreSql,
    "ccnet_buckets" -> ccnetBucketsSql,
    "tfidf_top_terms" -> tfidfTopTermsSql,
    "token_quantiles" -> tokenQuantilesSql,
    "rare_bigrams" -> rareBigramsSql,
    "boilerplate_coverage" -> boilerplateCoverageSql,
    "boilerplate_scrub" -> boilerplateScrubSql,
    "boilerplate_para_coverage" -> boilerplateParaCoverageSql,
    "boilerplate_para_scrub" -> boilerplateParaScrubSql,
    "kmv_distinct" -> kmvDistinctSql,
    "cms_token_freq" -> cmsTokenFreqSql,
    "kmv_overlap" -> kmvOverlapSql,
    "concurrent_events" -> concurrentEventsSql)
}
