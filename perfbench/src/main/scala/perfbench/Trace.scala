package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.core.Json._

/** In-memory span recorder for the traced run. One span per call the
  * benchmark makes into a module: name, start and end (System.nanoTime),
  * its own id, its parent's id (0 = none) and the request id shared by one
  * request's spans. Spans are written out only when the run ends. When
  * disabled, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[(String, Long, Long, Int, Int, Int)]
  private var stack: List[Int] = Nil

  def span[T](name: String, req: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = Tracer.ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += ((name, t0, System.nanoTime(), id, parent, req))
      }
    }

  /** Id the next span will get: lets a caller parent spans recorded later
    * (Spark jobs) to a span that is still open.
    */
  def peekId: Int = Tracer.ids.get()

  def add(name: String, t0: Long, t1: Long, parent: Int, req: Int): Unit =
    if (enabled) spans += ((name, t0, t1, Tracer.ids.getAndIncrement(), parent, req))

  def json: Value = Arr(spans.toSeq.map { case (n, a, b, id, p, r) =>
    Arr(Seq(Str(n), Num(a.toDouble), Num(b.toDouble), Num(id), Num(p), Num(r)))
  })
}

object Tracer {
  // span ids are unique across the tracers of one process, so the spans of
  // several traced segments can be analysed together
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1)
}

/** SparkListener registered by the benchmark: scheduler totals (jobs,
  * stages, tasks, task time, shuffle and spill bytes) and one interval per
  * finished job, on the System.nanoTime clock. Listener events arrive
  * asynchronously; `snapshot` drains the listener bus first.
  */
final class SparkMeter(spark: SparkSession) extends SparkListener {
  val jobs, stages, tasks, taskMs, shuffleBytes, spillBytes = new AtomicLong
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val ended = new ConcurrentLinkedQueue[(Long, Long)]
  // job event times are wall-clock ms; map them onto the nanoTime clock
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); starts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(starts.remove(e.jobId)).getOrElse(e.time)
    ended.add((s * 1000000L + offsetNs, e.time * 1000000L + offsetNs))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def drain(): Unit = org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)

  /** Job intervals finished since the last call (after a drain). */
  def takeJobs(): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    var j = ended.poll()
    while (j != null) { out += j; j = ended.poll() }
    out.toSeq
  }

  /** Counter values after draining the bus, keyed by metric name. */
  def snapshot(): Map[String, Long] = {
    drain()
    Map("jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "task_ms" -> taskMs.get, "shuffle_bytes" -> shuffleBytes.get,
      "spill_bytes" -> spillBytes.get)
  }
}

object SparkMeter {
  def delta(a: Map[String, Long], b: Map[String, Long]): Value =
    Obj(b.map { case (k, v) => k -> (Num((v - a(k)).toDouble): Value) })

  def intervals(js: Seq[(Long, Long)]): Value =
    Arr(js.map { case (a, b) => Arr(Seq(Num(a.toDouble), Num(b.toDouble))) })
}
