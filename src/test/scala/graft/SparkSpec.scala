package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite (lazy, reused). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
  def sf01 = "/root/testdata/sf0.1"

  /** A fresh engine/store root. Plain local tmp dir by default; with
    * `-Dgraft.testfs=graftfs` every root routes through the non-local
    * Hadoop test scheme instead — the ControlFs-port matrix run (the same
    * specs, control plane on a non-`file:` FileSystem).
    */
  def testRoot(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    sys.props.get("graft.testfs").fold(dir)(scheme => s"$scheme://$dir")
  }

  /** ControlFs of a spec root/path — for spec-side probes of control files
    * that must work under both plain and scheme'd roots.
    */
  def cfsOf(path: String): graft.core.ControlFs =
    graft.core.ControlFs.forRoot(path)

  /** `body`'s result and the number of Spark jobs started while it ran
    * (the listener bus is drained before and after, so earlier jobs'
    * events are not counted and the body's own are).
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s result and the number of Catalyst query executions (Dataset
    * actions: collect, count, write, ...) this session finished while it
    * ran, failed ones included. Drained like `jobsDuring`. A plan that runs
    * no Spark job — a collect over a local relation — still counts.
    */
  def queryExecutionsDuring[T](body: => T): (T, Int) = {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        runs.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        runs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      (out, runs.get())
    } finally spark.listenerManager.unregister(listener)
  }

  /** `body` run twice: under whole-stage codegen with generated code only
    * (a compile failure fails instead of falling back to interpreted eval),
    * then interpreted (`NO_CODEGEN`). Callers feed a non-local input (e.g. a
    * cached frame): a projection over a `LocalRelation` is folded on the
    * driver by the interpreted evaluator whatever the settings.
    */
  def codegenAndInterpreted[T](body: => T): (T, T) = {
    val conf = spark.conf
    def under(settings: (String, String)*): T = {
      val saved = settings.map { case (k, _) => k -> conf.getOption(k) }
      settings.foreach { case (k, v) => conf.set(k, v) }
      try body
      finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
    (under("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false"),
      under("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
