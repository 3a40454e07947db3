package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core._

/** Latency profile of the zero-job MaxSim serve (VERDICT r11 #3) —
  * replicates RecallBench's serve_mv setup (sf0.01 embeddings, 4 tokens/doc,
  * nlist 16, nprobe 4, maxsimCandM 16), times `Engine.searchMaxSim` per
  * query and prints the p50/p95. For a per-layer split of a serving run use
  * the benchmark's trace mode (`perfbench/run.py --trace 1`, engine spans).
  *
  *   sbt -batch 'Test/runMain graft.tools.MaxSimProfile'
  */
object MaxSimProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[8]")
      .appName("maxsim-profile")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("maxsim-prof").toString
    val engine = new graft.api.Engine(spark, root)
    engine.createCollection(CollectionConfig("mv", 64, IndexType.IvfFlat,
      SpaceType.L2, params = Map("multivector" -> "true")))
    val T = 4
    val docs = emb.collect().map(r => Document(r.getLong(0).toString,
      r.getAs[scala.collection.Seq[Float]](1).toArray))
    val mvDocs = docs.grouped(T).zipWithIndex
      .map { case (g, i) => (s"d$i", g.map(_.vector).toSeq) }.toSeq
    println(s"[prof] ${mvDocs.size} docs x $T tokens")
    engine.batchUpsertMultiVector("mv", mvDocs)
    engine.buildIndex("mv", nlist = 16)
    engine.setParams("mv", Map("nprobe" -> 4, "maxsimCandM" -> 16))
    val qs = mvDocs.take(20).map(_._2)
    qs.zipWithIndex.foreach { case (q, i) =>
      engine.searchMaxSim("mv", Seq((s"w$i", q)), 10).collect()
    } // warm
    System.err.println("[prof] ---- timed ----")
    val times = qs.zipWithIndex.map { case (q, i) =>
      val t0 = System.nanoTime()
      engine.searchMaxSim("mv", Seq((s"q$i", q)), 10).collect()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    println(f"[prof] p50 ${times(times.size / 2)}%.1f ms  p95 ${times(18)}%.1f ms")
    // micro: the candidate-fetch cost in isolation (real token ids)
    val sample = mvDocs.take(40).flatMap { case (d, toks) =>
      toks.indices.map(i => s"$d\u0001$i")
    }
    (1 to 3).foreach { _ =>
      val t0 = System.nanoTime()
      val got = engine.fetchDocuments("mv", sample)
      System.err.println(f"[micro] getMany ${sample.size} token ids -> ${got.size} rows ${(System.nanoTime() - t0) / 1e6}%.2f ms")
    }
    spark.stop()
  }
}
