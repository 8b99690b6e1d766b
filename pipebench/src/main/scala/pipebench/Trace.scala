package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span tracer. A span has a name, start, end and parent; all
  * spans of one request or query share a group id. Spans are kept in
  * memory and written out once, when the run ends. A tracer starts
  * disabled; disabled, it costs one branch per call. */
final class Tracer {
  @volatile var enabled = false

  import Tracer.Span

  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Times `body` as a span named `name`; `group` defaults to the
    * enclosing span's group. */
  def span[T](name: String, group: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val g = Option(group).orElse(outer.headOption.map(_._2)).getOrElse("")
      stack.set((id, g) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, outer.headOption.map(_._1).getOrElse(0), g, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  /** Adds `v` to the counter `name` (recorded at layer boundaries). */
  def count(name: String, v: Double): Unit =
    if (enabled) counts.merge(name, v, (a: Double, b: Double) => a + b)

  /** Drops every span and counter recorded so far (set-up runs traced
    * code paths too; the measured part starts from zero). */
  def reset(): Unit = { done.clear(); counts.clear() }

  def counter(name: String): Double = counts.getOrDefault(name, 0.0)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Total seconds per span name. */
  def total(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Self seconds per span name: duration minus the time its children
    * cover (children of one span never overlap: a thread runs one at a
    * time). */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeTo(file: java.io.File): Unit = {
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      Bench.toJson(scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent,
        "group" -> s.group, "name" -> s.name,
        "start_s" -> (s.startNs - base) / 1e9, "end_s" -> (s.endNs - base) / 1e9))
    }
    java.nio.file.Files.write(file.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, group: String, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Spark-runtime counters from job, stage and task events. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong()
  // nanosecond / byte accumulators
  val schedDelayMs, runMs, cpuNs, gcMs, inputBytes, outputBytes,
    shuffleWrite, shuffleRead, spill = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      schedDelayMs.addAndGet(math.max(0L, delay))
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Current values, with times in seconds. */
  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.scheduler_delay_s" -> schedDelayMs.get / 1e3,
    "spark.executor_run_s" -> runMs.get / 1e3,
    "spark.executor_cpu_s" -> cpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.input_bytes" -> inputBytes.get.toDouble,
    "spark.output_bytes" -> outputBytes.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble)
}

object SparkCounters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
