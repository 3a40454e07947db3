package perfbench

import java.lang.management.ManagementFactory
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Json
import graft.core.Json._

/** Benchmark harness JVM. `run.py` generates the inputs, starts this main
  * and turns the raw record it writes into the result line:
  *
  *   perfbench.Main <serve|batch_pipeline> <workDir> <seconds> <trace>
  *
  * It reads `<workDir>/inputs`, runs set-up, the timed phases and the
  * correctness gates, and writes `<workDir>/raw.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, work, seconds, trace) = args
    // exit explicitly: the server's and Spark's non-daemon threads would
    // keep a failed run's JVM alive
    val code =
      try {
        val out = workload match {
          case "serve" => Serve.run(work, seconds.toDouble, trace == "1")
          case "batch_pipeline" => Batch.run(work, seconds.toDouble, trace == "1")
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        Files.writeString(Paths.get(work, "raw.json"), Json.write(out))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Local Spark session; scratch and warehouse directories under `dir`. */
  def session(dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def readFloats(path: String, dim: Int): Array[Array[Float]] = {
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)
    val fb = bb.asFloatBuffer()
    Array.fill(fb.remaining() / dim) { val v = new Array[Float](dim); fb.get(v); v }
  }

  def readInts(path: String): Array[Int] = {
    val ib = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    val a = new Array[Int](ib.remaining()); ib.get(a); a
  }

  def meta(work: String): Map[String, Value] =
    Json.parse(Files.readString(Paths.get(work, "inputs", "meta.json"))).asObj

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed all-core Spark job (the `graft.Bench` canary): timed at the start
    * and end of a run, it tells host contention apart from a plan change.
    */
  def canaryMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 16000000L, 1L, cpus)
      .selectExpr("sum(pmod(id * 2654435761 + 17, 1048576))").collect()
    (System.nanoTime() - t0) / 1e6
  }

  def loadAvg1: Double = scala.util.Try(
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
  ).getOrElse(-1.0)

  /** Host-noise record shared by every workload. */
  def host(canary: Seq[Double], load: Seq[Double], gcS: Double): Value = Obj.of(
    "nproc" -> Num(cpus),
    "loadavg1" -> Arr(load.map(Num(_))),
    "canary_ms" -> Arr(canary.map(Num(_))),
    "jvm_heap_flags" -> Arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq.map(Str(_))),
    "jvm_gc_s" -> Num(gcS))

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def nums(xs: Iterable[Double]): Value = Arr(xs.toSeq.map(Num(_)))
}
