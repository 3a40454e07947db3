package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.core.{DocStore, LocalPointReader, LocalRunWriter}

/** The driver-local run writer must be READ-INDISTINGUISHABLE from a
  * Spark-written twin: same Catalyst schema, same values, through both the
  * Spark scan and the driver-local point reader — including the awkward
  * rows (null vector/params tombstones, empty collections, null map
  * values, unicode). A mixed directory (one Spark run + one local run)
  * must read as the union.
  */
class LocalRunWriterSpec extends SparkSpec {

  // the AUTHORITATIVE store schema (required id/version/seq/is_deleted,
  // non-null vector elements) — the twin must carry production runs'
  // parquet repetition levels, not an all-optional lookalike, or a
  // required-field divergence in a mixed dir would pass undetected
  private val storeSchema =
    new DocStore(spark, Files.createTempDirectory("lrw-store").toString).schema(3)

  private val rows: Seq[(String, Seq[Float], Map[String, String], Boolean)] = Seq(
    ("a", Seq(1f, 2.5f, -3f), Map("k" -> "v", "k2" -> "v2"), false),
    ("béta💡", Seq(0.25f), Map("uni" -> "välue"), false),
    ("tomb", null, null, true),                        // delete row shape
    ("empty", Seq.empty[Float], Map.empty[String, String], false),
    ("nullval", Seq(7f), Map("k" -> null), false))

  test("store run: spark-read equivalence vs a Spark-written twin; local point reads") {
    val sparkDir = Files.createTempDirectory("lrw-spark").toString
    val localDir = Files.createTempDirectory("lrw-local").toString
    val sparkRows = rows.zipWithIndex.map { case ((id, v, p, d), i) =>
      Row(id, v, p, 7L, i.toLong, d)
    }
    spark.createDataFrame(sparkRows.asJava, storeSchema)
      .write.mode("append").parquet(sparkDir)
    LocalRunWriter.writeStoreRun(localDir, rows, version = 7L)

    val a = spark.read.parquet(sparkDir)
    val b = spark.read.parquet(localDir)
    assert(a.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      b.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      "local run's Catalyst schema diverged from the Spark twin")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0),
        Option(r.getSeq[Float](1)).map(_.toList),
        Option(r.getMap[String, String](2)).map(_.toMap),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    assert(canon(a) === canon(b), "local run rows diverged from the Spark twin")

    // the driver-local reader consumes local runs like any other — served
    // from the rows the writer registered, decoded from the file on first
    // touch, and by a filtered read, all three alike
    def readAll() = LocalPointReader.readDocs(localDir,
      Set("a", "béta💡", "tomb", "empty", "nullval", "absent"))
    val registered = readAll()
    LocalPointReader.invalidateUnder(localDir)
    val decoded = readAll()
    val filtered = LocalPointReader.withResidentMaxBytes(0L)(readAll())
    for (got <- Seq(registered, decoded, filtered)) {
      assert(got.keySet === Set("a", "béta💡", "empty", "nullval"))
      assert(got("a").vector.toSeq === Seq(1f, 2.5f, -3f))
      assert(got("a").params === Map("k" -> "v", "k2" -> "v2"))
      assert(got("empty").vector.toSeq === Seq.empty)
      assert(got("nullval").params === Map("k" -> null))
    }

    // a MIXED dir reads as the union (Spark samples one footer; both
    // writers' schemas must agree)
    val mixed = Files.createTempDirectory("lrw-mixed").toString
    spark.createDataFrame(sparkRows.asJava, storeSchema)
      .write.mode("append").parquet(mixed)
    LocalRunWriter.writeStoreRun(mixed,
      Seq(("x", Seq(9f), Map.empty[String, String], false)), version = 8L)
    assert(spark.read.parquet(mixed).count() === rows.size + 1L)
    assert(LocalPointReader.readDocs(mixed, Set("x"))("x").vector.toSeq === Seq(9f))
  }

  test("delta and tombstone runs: spark-read equivalence vs Spark-written twins") {
    import spark.implicits._
    val d1 = Files.createTempDirectory("lrw-d1").toString
    val d2 = Files.createTempDirectory("lrw-d2").toString
    Seq(("a", Seq(1f, 2f), 5L), ("b", Seq(3f), 5L))
      .toDF("id", "vector", "version")
      .select(col("id"), col("vector").cast("array<float>"), col("version"))
      .write.mode("append").parquet(d1)
    LocalRunWriter.writeDeltaRun(d2, Seq(("a", Seq(1f, 2f)), ("b", Seq(3f))), 5L)
    val x = spark.read.parquet(d1).orderBy("id").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toList, r.getLong(2)))
    val y = spark.read.parquet(d2).orderBy("id").collect()
      .map(r => (r.getString(0), r.getSeq[Float](1).toList, r.getLong(2)))
    assert(x === y)

    val t1 = Files.createTempDirectory("lrw-t1").toString
    val t2 = Files.createTempDirectory("lrw-t2").toString
    Seq("a", "b").toDF("id").withColumn("ver", lit(9L))
      .write.mode("append").parquet(t1)
    LocalRunWriter.writeTombstoneRun(t2, Seq("a", "b"), 9L)
    val p = spark.read.parquet(t1).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val q = spark.read.parquet(t2).orderBy("id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(p === q)
    // sidecar consumers aggregate max(ver) per id — a mixed sidecar works
    LocalRunWriter.writeTombstoneRun(t1, Seq("c"), 10L)
    assert(spark.read.parquet(t1).count() === 3L)
  }

  test("layout runs: clustered + flat, spark-read equivalence and mixed dirs") {
    import spark.implicits._
    import LocalRunWriter.{BytesCol, FloatsCol, IntsCol, LayoutRow}

    // clustered tier shape (the opq layout: __rvec + codes, cluster_id
    // partition dirs) — Spark twin written exactly like the maintained
    // ingest's Spark branch
    val s1 = Files.createTempDirectory("lrw-lay-spark").toString
    val l1 = Files.createTempDirectory("lrw-lay-local").toString
    Seq(
      ("a", Seq(1f, 2f), Map("k" -> "v"), 7L, 0L, false, Seq(0.5f, -1f), Seq(3, 1), 2),
      ("b", Seq(3f, 4f), Map.empty[String, String], 7L, 1L, false, Seq(2f, 2f), Seq(0, 2), 0))
      .toDF("id", "vector", "params", "version", "seq", "is_deleted", "__rvec", "codes", "cluster_id")
      .select(col("id"), col("vector").cast("array<float>"), col("params"),
        col("version"), col("seq"), col("is_deleted"),
        col("__rvec").cast("array<float>"), col("codes"), col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(s1)
    LocalRunWriter.writeLayoutRuns(l1, Seq(
      LayoutRow("a", Seq(1f, 2f), Map("k" -> "v"), 0L, Some(2),
        Seq("__rvec" -> FloatsCol(Array(0.5f, -1f)), "codes" -> IntsCol(Array(3, 1)))),
      LayoutRow("b", Seq(3f, 4f), Map.empty, 1L, Some(0),
        Seq("__rvec" -> FloatsCol(Array(2f, 2f)), "codes" -> IntsCol(Array(0, 2))))),
      version = 7L)
    val ca = spark.read.parquet(s1)
    val cb = spark.read.parquet(l1)
    assert(ca.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      cb.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      "clustered layout run's Catalyst schema diverged from the Spark twin")
    def canonC(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "vector", "params", "version", "seq", "is_deleted",
        "__rvec", "codes", "cluster_id").collect()
        .map(r => (r.getString(0), r.getSeq[Float](1).toList,
          r.getMap[String, String](2).toMap, r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getSeq[Float](6).toList, r.getSeq[Int](7).toList,
          r.getInt(8))).sortBy(_._1)
    assert(canonC(ca) === canonC(cb), "clustered layout rows diverged")
    // a MIXED partition dir (Spark build + local append) reads as the union
    LocalRunWriter.writeLayoutRuns(s1, Seq(
      LayoutRow("c", Seq(5f, 6f), Map.empty, 0L, Some(2),
        Seq("__rvec" -> FloatsCol(Array(9f, 9f)), "codes" -> IntsCol(Array(1, 1))))),
      version = 8L)
    val mixed = spark.read.parquet(s1)
    assert(mixed.count() === 3L)
    assert(mixed.filter(col("cluster_id") === 2).count() === 2L)

    // flat tier shape (the sq layout: sq_code BINARY, no partitions)
    val s2 = Files.createTempDirectory("lrw-sq-spark").toString
    Seq(("a", Seq(1f), Map.empty[String, String], 3L, 0L, false, Array[Byte](0, 127, -1)))
      .toDF("id", "vector", "params", "version", "seq", "is_deleted", "sq_code")
      .select(col("id"), col("vector").cast("array<float>"), col("params"),
        col("version"), col("seq"), col("is_deleted"), col("sq_code"))
      .write.mode("append").parquet(s2)
    LocalRunWriter.writeLayoutRuns(s2, Seq(
      LayoutRow("b", Seq(2f), Map.empty, 0L, None,
        Seq("sq_code" -> BytesCol(Array[Byte](5, -128, 64))))), version = 4L)
    val flat = spark.read.parquet(s2).orderBy("id").collect()
    assert(flat.length === 2)
    assert(flat(0).getAs[Array[Byte]]("sq_code").toSeq === Seq[Byte](0, 127, -1))
    assert(flat(1).getAs[Array[Byte]]("sq_code").toSeq === Seq[Byte](5, -128, 64))
    assert(flat(1).getLong(flat(1).fieldIndex("version")) === 4L)
  }
}
