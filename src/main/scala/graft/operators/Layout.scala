package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Z-order (Morton-curve) data layout — multi-dimensional clustering for
  * scan pruning, the columnar-era successor of the reference's sorted-run
  * LSM layout (sorted SSTables prune by ONE key; a space-filling curve
  * clusters by SEVERAL at once — Delta/Iceberg's OPTIMIZE ZORDER is the
  * public reference shape).
  *
  * Why it matters at 100 TB: parquet skips row groups via column min/max
  * stats, but stats only prune if writes CLUSTER the filtered columns.
  * Range-partitioning + sorting by the interleaved-bit key gives every file
  * a compact rectangle in (c1, c2) space, so a selective predicate on
  * EITHER z-column (or both) touches a small fraction of files — without
  * duplicating the data per sort key.
  *
  * Everything is exact integer arithmetic on native columns (shifts, masks,
  * ors, integral division — fully codegen, no UDF), so the key is
  * engine-replayable and the same construction is emitted as ANSI SQL for
  * the oracle gate.
  */
object Layout {

  /** Bits kept per dimension; 2 dims × 16 bits fill 32 bits of the key —
    * plenty of resolution for file-level clustering (a 100 TB table has
    * ~10⁶ files; 2³² cells ≫ that).
    */
  val BitsPerDim = 16

  /** Spread the low 16 bits of `x` so bit i lands at position 2i (the
    * classic mask-shift cascade; every step is exact long arithmetic).
    */
  private def spread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  private def spread16Sql(x: String): String = {
    val a = s"($x & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val c = s"(($b | ($b << 4)) & 252645135)"
    val d = s"(($c | ($c << 2)) & 858993459)"
    s"(($d | ($d << 1)) & 1431655765)"
  }

  /** Overflow-free divisor mapping the domain [min, max] into [0, 65535]:
    * (v−min) div ((span div 65536) + 1) — never multiplies, and
    * (D div (D div 65536 + 1)) < 65536 for every D ≥ 0. The span is
    * computed in BigInt: a full-range SIGNED domain (e.g. raw xxhash64
    * ids, min ≈ −2⁶³) overflows `max − min` in long arithmetic, which
    * would produce a zero/negative divisor (ANSI divide-by-zero at best,
    * silently garbage keys at worst). Domains whose span itself exceeds
    * int64 are pre-halved — see `normCol`.
    */
  private[operators] def span(min: Long, max: Long): BigInt =
    BigInt(max) - BigInt(min)

  /** Divisor mapping [min, max] into [0, 2^bits−1] — same construction for
    * any per-dimension resolution.
    */
  private[operators] def normDivisorB(min: Long, max: Long, bits: Int): Long = {
    val s = span(min, max)
    // CEILING halving: (max>>1 − min>>1) can reach ⌈span/2⌉ when the span
    // is odd, and the <2^bits bound needs divisor ≥ floor(maxInput/2^bits)+1
    val halved = if (s > Long.MaxValue) (s + 1) / 2 else s
    (halved / (1L << bits) + 1).toLong
  }

  /** Exact integral division (Column `/` is double division — silently
    * lossy past 2^53; same fix as RangeJoin.floorDiv). Operands here are
    * non-negative, so IntegralDivide IS the floor.
    */
  private def idiv(c: Column, d: Long): Column =
    Bridge.column(new IntegralDivide(
      Bridge.expression(c), Bridge.expression(lit(d))))

  /** (v − min) needs the same care: when the span exceeds int64, both v
    * and min are arithmetic-shifted right first (floor halving — monotone,
    * exact), after which the difference and the divisor both fit. The
    * halved path costs one bit of resolution out of 63 — irrelevant at 16
    * output bits.
    */
  private def normCol(v: Column, min: Long, max: Long,
      bits: Int = BitsPerDim): Column =
    if (span(min, max) > Long.MaxValue)
      idiv(shiftright(v, 1) - lit(min >> 1), normDivisorB(min, max, bits))
    else idiv(v - lit(min), normDivisorB(min, max, bits))

  /** The 2-D Morton key of (c1, c2) over the given inclusive domains:
    * interleaved bits, c1 on even positions. Inputs must be integral.
    */
  def zkey2(c1: Column, d1: (Long, Long), c2: Column, d2: (Long, Long)): Column =
    spread16(normCol(c1, d1._1, d1._2))
      .bitwiseOR(shiftleft(spread16(normCol(c2, d2._1, d2._2)), 1))

  /** SQL variant with the domain endpoints as SQL EXPRESSIONS (e.g. columns
    * of a min/max CTE) instead of precomputed constants — the oracle's
    * replay computes the domain in the same query. The divisor formula is
    * the Scala one verbatim; `//` floors and every operand is non-negative.
    */
  def zkey2SqlDyn(c1: String, min1: String, max1: String,
      c2: String, min2: String, max2: String): String = {
    def norm(v: String, mn: String, mx: String) =
      s"(($v - $mn) // ((($mx - $mn) // 65536) + 1))"
    s"(${spread16Sql(norm(c1, min1, max1))} | " +
      s"(${spread16Sql(norm(c2, min2, max2))} << 1))"
  }

  /** Per-dimension resolution for an n-dim key: 16 bits up to 3 dims, then
    * shrink so the whole key stays inside 60 bits (positive long with
    * headroom). 4 dims × 15 bits = 60; 6 dims × 10 = 60. File-level
    * clustering needs far fewer cells than any of these provide.
    */
  private[operators] def bitsFor(n: Int): Int = {
    require(n >= 2 && n <= 6, s"z-order supports 2..6 dimensions, got $n")
    math.min(BitsPerDim, 60 / n)
  }

  /** The n-dim Morton key: bit i of (normalized) dimension d lands at key
    * position i·n + d — dimension 0 on the lowest stride, matching
    * `zkey2`'s (c1 even, c2 odd) layout exactly at n = 2. The generic
    * bit-gather is a flat OR of b shift/mask terms per dimension (all
    * exact long arithmetic, fully codegen); the 2-D cascade in `spread16`
    * is just the strength-reduced special case.
    */
  def zkeyN(dims: Seq[(Column, (Long, Long))]): Column = {
    val n = dims.size
    val b = bitsFor(n)
    dims.zipWithIndex.map { case ((c, (mn, mx)), d) =>
      val x = normCol(c, mn, mx, b)
      (0 until b).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * n + d)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
  }

  /** The n-dim key as DuckDB SQL with domain endpoints as SQL expressions
    * (columns of a min/max CTE) — the oracle computes domains in-query.
    */
  def zkeyNSqlDyn(dims: Seq[(String, String, String)]): String = {
    val n = dims.size
    val b = bitsFor(n)
    val cells = 1L << b
    dims.zipWithIndex.map { case ((v, mn, mx), d) =>
      val x = s"(($v - $mn) // ((($mx - $mn) // $cells) + 1))"
      (0 until b).map { i =>
        s"((($x >> $i) & 1) << ${i * n + d})"
      }.mkString("(", " | ", ")")
    }.mkString("(", " | ", ")")
  }

  /** Z-order `df` by two integral columns: one tiny agg pass computes the
    * domains, then range-partition + in-partition sort by the Morton key.
    * `files` bounds the output width (at real scale: size so each file is
    * ~0.5–1 GB). The returned frame is what a writer should persist; the
    * key column is dropped — it is derivable, not data.
    *
    * Scale: the domain agg is a full-scan-but-tiny-result pass (min/max
    * combine map-side); the layout itself is ONE range shuffle — the same
    * cost as any global sort, amortized over every pruned read after it.
    */
  def zorder2(df: DataFrame, col1: String, col2: String, files: Int): DataFrame = {
    val Seq(d1, d2) = zDomains(df, Seq(col1, col2))
    val k = zkey2(col(col1).cast("long"), d1, col(col2).cast("long"), d2)
    df.withColumn("__zkey", k)
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** Z-order by 2..6 integral columns — the n-dim generalization of
    * `zorder2` (same single domain-agg pass + one range shuffle; the key is
    * `zkeyN`). More dimensions trade per-dimension resolution for
    * multi-column pruning: each file becomes a compact n-orthotope, so a
    * selective predicate on ANY keyed column (or several) prunes.
    */
  def zorderN(df: DataFrame, cols: Seq[String], files: Int): DataFrame = {
    require(cols.size >= 2 && cols.size <= 6,
      s"zorderN supports 2..6 columns, got ${cols.size}")
    val doms = zDomains(df, cols)
    val dims = cols.zip(doms).map { case (c, dom) => (col(c).cast("long"), dom) }
    df.withColumn("__zkey", zkeyN(dims))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
  }

  /** One-pass per-dimension domain (min, max) plus NULL audit for z-order
    * keys. CONTRACT: every z-column must be non-NULL on every row — a NULL
    * in any dimension makes the interleaved key NULL, which would silently
    * range-partition all such rows into one hotspot file and drop them from
    * every min/max-pruned read. Fail loudly, per column, instead.
    */
  private def zDomains(df: DataFrame, cols: Seq[String]): Seq[(Long, Long)] = {
    val aggs = count(lit(1)) +: cols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long")), count(col(c))))
    val r = df.agg(aggs.head, aggs.tail: _*).first()
    val total = r.getLong(0)
    require(total > 0, "z-order on an empty frame")
    cols.zipWithIndex.map { case (c, i) =>
      val (mi, ma, cnt) = (1 + 3 * i, 2 + 3 * i, 3 + 3 * i)
      require(r.getLong(cnt) == total,
        s"z-order column '$c' has ${total - r.getLong(cnt)} NULL row(s); " +
          "z-columns must be non-NULL in every dimension")
      require(!r.isNullAt(mi) && !r.isNullAt(ma),
        s"z-order column '$c' has no non-NULL values")
      (r.getLong(mi), r.getLong(ma))
    }
  }
}
