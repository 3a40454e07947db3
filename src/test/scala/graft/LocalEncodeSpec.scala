package graft

import org.apache.spark.sql.functions._

import graft.operators.{BinaryQuant, IvfIndex, IvfPq, LocalEncode, Opq, ScalarQuant}

/** `LocalEncode` must be BIT-IDENTICAL to the executed codegen encode
  * kernels — it is what lets a driver-sized maintained point write append
  * layout rows without a Spark job while staying indistinguishable from the
  * Spark-encoded twin. Each case runs the real DataFrame encode (the
  * maintained-ingest Spark branch's exact call) over adversarial vectors —
  * negatives, zeros (the cos zero-norm contract), subnormals, exact
  * centroid ties — and compares every output to the driver twin to the
  * last bit (floats via floatToRawIntBits).
  */
class LocalEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val rnd = new scala.util.Random(42)

  private def vecs: Seq[Array[Float]] = {
    val random = (0 until 64).map(_ => Array.fill(dim)(rnd.nextFloat() * 20f - 10f))
    val adversarial = Seq(
      Array.fill(dim)(0f),                       // zero vector (cos zero-norm)
      Array.fill(dim)(1e-40f),                   // subnormals
      Array.fill(dim)(-3.5f),
      Array.tabulate(dim)(i => if (i % 2 == 0) Float.MinPositiveValue else -1f),
      Array.tabulate(dim)(_.toFloat),            // exactly on a centroid below
      Array.fill(dim)(2.5f))                     // equidistant tie bait
    random ++ adversarial
  }

  private def df(vs: Seq[Array[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toString, v.toSeq) }.toDF("id", "vector")

  // deliberately includes DUPLICATE centroids so the first-minimum
  // tie-break is exercised, plus a centroid exactly equal to a test vector
  private val centroids: Array[Array[Float]] = Array(
    Array.tabulate(dim)(_.toFloat),
    Array.fill(dim)(5f),
    Array.fill(dim)(5f),
    Array.fill(dim)(-5f))

  test("ivf assign: driver twin ≡ NearestCentroid kernel") {
    for (space <- Seq(graft.core.SpaceType.L2, graft.core.SpaceType.Cos)) {
      val m = IvfIndex.Model(centroids, space)
      val vs = vecs
      val got = IvfIndex.assign(df(vs), "vector", m)
        .select("id", "cluster_id").collect()
        .map(r => (r.getString(0).toInt, r.getInt(1))).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        assert(got(i) === LocalEncode.ivfAssign(v, m),
          s"cluster_id diverged at vector $i (${v.toSeq})")
      }
    }
  }

  private def pqModel(space: graft.core.SpaceType): IvfPq.Model = {
    val m = 2; val subDim = dim / m; val k = 4
    val books = Array.tabulate(m, k, subDim)((j, c, t) =>
      (math.sin(j * 31 + c * 7 + t).toFloat * 2f))
    // a duplicated codeword per subspace forces the tie-break
    books.foreach(b => b(k - 1) = b(0).clone())
    IvfPq.Model(IvfIndex.Model(centroids, space), books, m, subDim)
  }

  test("pq codes: driver twin ≡ PqEncodeCodes kernel (l2, ip, cos)") {
    for (space <- Seq(graft.core.SpaceType.L2, graft.core.SpaceType.Ip,
        graft.core.SpaceType.Cos)) {
      val m = pqModel(space)
      val vs = vecs
      val got = IvfPq.encode(df(vs), "vector", m)
        .select("id", "cluster_id", "codes").collect()
        .map(r => (r.getString(0).toInt,
          (r.getInt(1), r.getSeq[Int](2).toArray))).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val (cid, codes) = LocalEncode.pqRow(v, m)
        assert(got(i)._1 === cid, s"[$space] cluster_id diverged at vector $i")
        assert(got(i)._2.toSeq === codes.toSeq, s"[$space] codes diverged at vector $i")
      }
    }
  }

  test("opq row: driver twin ≡ MatVecMul + PQ kernels, __rvec bit-exact") {
    // a non-trivial rotation (not orthonormal — irrelevant for bit identity)
    val rot = Array.tabulate(dim, dim)((r, c) => math.cos(r * 3 + c).toFloat)
    for (space <- Seq(graft.core.SpaceType.L2, graft.core.SpaceType.Cos)) {
      val m = Opq.Model(rot, pqModel(space), Array.empty)
      val vs = vecs
      val got = Opq.encode(df(vs), "vector", m)
        .select("id", "cluster_id", "codes", "__rvec").collect()
        .map(r => (r.getString(0).toInt,
          (r.getInt(1), r.getSeq[Int](2).toArray, r.getSeq[Float](3).toArray))).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val (rvec, cid, codes) = LocalEncode.opqRow(v, m)
        assert(got(i)._1 === cid, s"[$space] cluster_id diverged at vector $i")
        assert(got(i)._2.toSeq === codes.toSeq, s"[$space] codes diverged at vector $i")
        assert(got(i)._3.map(java.lang.Float.floatToRawIntBits).toSeq ===
          rvec.map(java.lang.Float.floatToRawIntBits).toSeq,
          s"[$space] __rvec diverged at vector $i")
      }
    }
  }

  test("sq code: driver twin ≡ SqEncode kernel (incl. constant dims)") {
    // dim 0 constant (range 0 → scale 0, code 0); mins include negatives
    val mins = Array.tabulate(dim)(i => if (i == 0) 2f else -10f + i)
    val maxs = Array.tabulate(dim)(i => if (i == 0) 2f else 10f - i * 0.5f)
    val m = ScalarQuant.Model(mins, maxs)
    val vs = vecs
    val got = ScalarQuant.encode(df(vs), "vector", m)
      .select("id", "sq_code").collect()
      .map(r => (r.getString(0).toInt, r.getAs[Array[Byte]](1))).toMap
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i).toSeq === LocalEncode.sqRow(v, m).toSeq,
        s"sq_code diverged at vector $i")
    }
  }

  test("mrl prefix: PRODUCTION layout rows (Spark build AND driver point write) ≡ take(pd), bit-exact") {
    import graft.api.Engine
    import graft.core.{CollectionConfig, Document, IndexType}
    val pd = 3
    val root = java.nio.file.Files.createTempDirectory("le-mrl").toString
    val e = new Engine(spark, root)
    e.createCollection(CollectionConfig("m", dim, IndexType.Mrl,
      params = Map("prefixDim" -> pd.toString)))
    val vs = vecs
    e.batchUpsertDocuments("m",
      vs.zipWithIndex.map { case (v, i) => Document(i.toString, v) })
    e.buildIndex("m") // Spark branch: the mrl tier's slice column
    // driver point write: the mrl tier's take(pd) row twin appends this row
    val pw = Array.tabulate(dim)(i => if (i % 2 == 0) 1e-40f else -0f)
    e.batchUpsertDocuments("m", Seq(Document("pw", pw)))
    val got = spark.read.parquet(e.layoutDir("m").get)
      .select(col("id"), col("mrl_prefix")).collect()
      .map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Float]](1).toArray).toMap
    (vs.zipWithIndex.map { case (v, i) => (i.toString, v) } :+ (("pw", pw)))
      .foreach { case (id, v) =>
        val want = v.take(pd)
        assert(got(id).length === want.length, s"prefix width diverged at $id")
        got(id).zip(want).zipWithIndex.foreach { case ((a, b), j) =>
          assert(java.lang.Float.floatToRawIntBits(a) ===
            java.lang.Float.floatToRawIntBits(b),
            s"prefix bit diverged at doc $id dim $j")
        }
      }
  }

  test("bq code: driver twin ≡ BqEncode kernel (incl. pad bits, boundary equality)") {
    // thresholds EQUAL to several test values: x > thr is strict, equality
    // must encode as 0 on both paths
    val m = BinaryQuant.Model(Array.tabulate(dim)(i => if (i % 3 == 0) 2.5f else 0f))
    val vs = vecs
    val got = BinaryQuant.encode(df(vs), "vector", m)
      .select("id", "bq_code").collect()
      .map(r => (r.getString(0).toInt, r.getAs[Array[Byte]](1))).toMap
    vs.zipWithIndex.foreach { case (v, i) =>
      assert(got(i).toSeq === LocalEncode.bqRow(v, m).toSeq,
        s"bq_code diverged at vector $i")
    }
  }
}
