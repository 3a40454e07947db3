package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order layout: Morton-code arithmetic on crafted points, wide-domain
  * safety (the exact-integral-division contract), and the actual clustering
  * benefit — a 2-D box predicate touches far fewer files after zorder2 than
  * under hash layout.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def keyOf(v1: Long, d1: (Long, Long), v2: Long, d2: (Long, Long)): Long =
    Seq((v1, v2)).toDF("a", "b")
      .select(Layout.zkey2(col("a"), d1, col("b"), d2).as("k"))
      .first().getLong(0)

  test("morton interleave: known codes on an exact 16-bit domain") {
    val d = (0L, 65535L) // divisor 1: values pass through untouched
    assert(keyOf(0, d, 0, d) === 0L)
    assert(keyOf(1, d, 0, d) === 1L) // x bit 0 → key bit 0
    assert(keyOf(0, d, 1, d) === 2L) // y bit 0 → key bit 1
    assert(keyOf(3, d, 5, d) === 39L) // x=011,y=101 → 100111
    assert(keyOf(65535, d, 65535, d) === 0xFFFFFFFFL)
  }

  test("locality: adjacent values differ in low key bits, distant in high") {
    val d = (0L, 65535L)
    val base = keyOf(1000, d, 2000, d)
    assert((keyOf(1001, d, 2000, d) ^ base) < 16L)
    assert((keyOf(33768, d, 2000, d) ^ base) >= (1L << 30))
  }

  test("wide int64 domains (nanosecond-scale) normalize without overflow") {
    val d = (0L, 1700000000000000000L) // ~2^60.6 span
    val lo = keyOf(0L, d, 0L, d)
    val hi = keyOf(1700000000000000000L, d, 1700000000000000000L, d)
    assert(lo === 0L)
    // top of the domain maps to the top normalized cell on both axes
    assert(hi === 0xFFFFFFFFL)
    // monotone along each axis
    val mid = keyOf(850000000000000000L, d, 0L, d)
    assert(mid > lo && mid < hi)
  }

  test("full signed int64 domain (span > Long.MaxValue) takes the halved path safely") {
    val d = (Long.MinValue, Long.MaxValue) // span 2^64−1: max−min overflows long
    val lo = keyOf(Long.MinValue, d, Long.MinValue, d)
    val hi = keyOf(Long.MaxValue, d, Long.MaxValue, d)
    assert(lo === 0L)
    assert(hi === 0xFFFFFFFFL) // top cell, never wrapped past 16 bits
    val mid = keyOf(0L, d, Long.MinValue, d)
    assert(mid > lo && mid < hi)
    // odd-span worst case: normalized value must stay < 65536 (a wrap would
    // send the domain top to cell 0 and break monotonicity at the boundary)
    assert(keyOf(Long.MaxValue, d, Long.MinValue, d) <
      keyOf(Long.MaxValue, d, Long.MaxValue, d))
  }

  test("constant dimension degrades to a plain sort on the other") {
    val d = (0L, 65535L)
    // max == min → that axis normalizes to 0 → key is the other axis alone
    assert(keyOf(123, d, 7L, (7L, 7L)) === keyOf(123, d, 0L, d))
  }

  test("zorder2 clusters a 2-D box into few files; hash layout does not") {
    val n = 40000
    val rows = (0 until n).map { i =>
      val r = new scala.util.Random(i).nextLong()
      (i.toLong, math.abs(r) % 1000L, math.abs(r / 7) % 1000000L)
    }
    val df = rows.toDF("id", "ua", "tb")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val files = 16
    Layout.zorder2(df, "ua", "tb", files)
      .write.mode("overwrite").parquet(s"$dir/z")
    df.repartition(files).write.mode("overwrite").parquet(s"$dir/h")
    def touched(path: String): Long =
      spark.read.parquet(path)
        .filter(col("ua").between(100, 160) && col("tb").between(100000, 160000))
        .select(input_file_name()).distinct().count()
    val matches = spark.read.parquet(s"$dir/z")
      .filter(col("ua").between(100, 160) && col("tb").between(100000, 160000)).count()
    assert(matches > 0, "box must be non-empty for the test to mean anything")
    val zt = touched(s"$dir/z"); val ht = touched(s"$dir/h")
    // hash layout smears the box over every file; z-order confines it
    assert(ht === files.toLong)
    assert(zt <= files / 4, s"z-ordered box touched $zt of $files files")
  }

  test("zkeyN at n=2 is bit-identical to zkey2 (generic gather ≡ cascade)") {
    val rnd = new scala.util.Random(7)
    val d1 = (-500L, 12345678L); val d2 = (0L, 999999L)
    val pts = (0 until 200).map { _ =>
      (d1._1 + math.abs(rnd.nextLong()) % (d1._2 - d1._1 + 1),
        math.abs(rnd.nextLong()) % (d2._2 + 1))
    }
    val df = pts.toDF("a", "b")
    val mismatches = df.select(
      Layout.zkey2(col("a"), d1, col("b"), d2).as("k2"),
      Layout.zkeyN(Seq((col("a"), d1), (col("b"), d2))).as("kn"))
      .filter(col("k2") =!= col("kn")).count()
    assert(mismatches === 0L)
  }

  test("zkeyN 3-D known codes on an exact-bit domain") {
    val d = (0L, 65535L) // divisor 1 at 16 bits/dim
    def key3(a: Long, b: Long, c: Long): Long =
      Seq((a, b, c)).toDF("a", "b", "c")
        .select(Layout.zkeyN(Seq(
          (col("a"), d), (col("b"), d), (col("c"), d))).as("k"))
        .first().getLong(0)
    assert(key3(0, 0, 0) === 0L)
    assert(key3(1, 0, 0) === 1L) // dim0 bit0 → key bit 0
    assert(key3(0, 1, 0) === 2L) // dim1 bit0 → key bit 1
    assert(key3(0, 0, 1) === 4L) // dim2 bit0 → key bit 2
    assert(key3(2, 0, 0) === 8L) // dim0 bit1 → key bit 3
    // x=1,y=1,z=1 → bits 0,1,2 set
    assert(key3(1, 1, 1) === 7L)
    // full domain top: 48 bits set
    assert(key3(65535, 65535, 65535) === (1L << 48) - 1)
  }

  test("zorderN 3-D layout prunes a box on any single keyed column") {
    val n = 40000
    val rows = (0 until n).map { i =>
      val r = new scala.util.Random(i + 1).nextLong()
      (i.toLong, math.abs(r) % 1024L, math.abs(r / 7) % 1024L,
        math.abs(r / 13) % 1024L)
    }
    val df = rows.toDF("id", "a", "b", "c")
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder3").toString
    val files = 27
    Layout.zorderN(df, Seq("a", "b", "c"), files)
      .write.mode("overwrite").parquet(s"$dir/z")
    df.repartition(files).write.mode("overwrite").parquet(s"$dir/h")
    // 27 files ≈ 4.75 boundary bits of the z-key, shared across 3 dims →
    // ~1.6 bits (~3×) of pruning per single dimension, less when range
    // boundaries straddle bit cells — so a tight range on ONE dim prunes
    // ~⅓–⅔ of files, and constraining TWO dims compounds to ~1/5–1/9
    def touched(path: String, p: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(p)
        .select(input_file_name()).distinct().count()
    val oneDim = col("a") <= 63
    val twoDim = col("a") <= 63 && col("b") <= 63
    assert(spark.read.parquet(s"$dir/z").filter(twoDim).count() > 0)
    assert(touched(s"$dir/h", oneDim) === files.toLong)
    assert(touched(s"$dir/h", twoDim) === files.toLong)
    assert(touched(s"$dir/z", oneDim) <= 2 * files / 3,
      s"3-D z-ordered single-dim box touched ${touched(s"$dir/z", oneDim)} of $files files")
    assert(touched(s"$dir/z", twoDim) <= files / 3,
      s"3-D z-ordered two-dim box touched ${touched(s"$dir/z", twoDim)} of $files files")
  }

  test("zorderN preserves the data exactly") {
    val df = (0 until 5000).map(i =>
      (i.toLong, (i * 37 % 100).toLong, (i * 91 % 1000).toLong, (i * 13 % 50).toLong))
      .toDF("id", "a", "b", "c")
    val back = Layout.zorderN(df, Seq("a", "b", "c"), 8)
    assert(back.columns.toSeq === df.columns.toSeq)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }

  test("z-order rejects NULLs in ANY keyed dimension with a clear per-column error") {
    // per-row NULL in a later dimension: would otherwise NPE opaquely or
    // silently co-locate all NULL rows in one range — must fail loudly
    val withNull = Seq((1L, Some(10L), Some(5L)), (2L, Some(20L), None),
      (3L, Some(30L), Some(7L))).toDF("id", "a", "b")
    val e1 = intercept[IllegalArgumentException] {
      Layout.zorderN(withNull, Seq("a", "b"), 2)
    }
    assert(e1.getMessage.contains("'b'") && e1.getMessage.contains("NULL"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.zorder2(withNull, "a", "b", 2)
    }
    assert(e2.getMessage.contains("'b'") && e2.getMessage.contains("NULL"))
    // empty frame still rejected
    intercept[IllegalArgumentException] {
      Layout.zorderN(withNull.filter(col("id") < 0), Seq("a", "b"), 2)
    }
  }

  test("zorder2 preserves the data exactly (layout is value-invariant)") {
    val df = (0 until 5000).map(i => (i.toLong, (i * 37 % 100).toLong, (i * 91 % 1000).toLong))
      .toDF("id", "a", "b")
    val back = Layout.zorder2(df, "a", "b", 8)
    assert(back.columns.toSeq === df.columns.toSeq)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
