package pipebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** State shared by a workload run: the session, the tracer, the Spark
  * counters, and the check and operation ledger. `traced` asks for the
  * per-layer metrics. */
final class Ctx(val workDir: File, val seed: Long, val seconds: Double, val traced: Boolean) {
  val tracer = new Tracer
  var spark: SparkSession = _
  val counters = new SparkCounters
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
  val inputs = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failedOps = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) failures += s"$name: $detail"
  }

  /** Spark counters after every event so far has been delivered. */
  def sparkNow(): Map[String, Double] = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    counters.snapshot
  }

  /** Runs the measured part untraced. In a traced run it then runs the
    * part once more with the tracer on and adds, per end-to-end metric,
    * `trace.overhead.<metric>`: traced minus untraced (the second run also
    * gains from the JVM's further warming, which lowers the difference).
    * Returns the untraced run's end-to-end metrics and the last run's result. */
  def measure[T](part: => (Map[String, Double], T)): (Map[String, Double], T) = {
    val (e2e, first) = part
    if (!traced) (e2e, first)
    else {
      tracer.reset()
      tracer.enabled = true
      val (t, last) = part
      val overhead = e2e.map { case (k, v) => s"trace.overhead.$k" -> (t(k) - v) }
      // set-up runs no traced code: tracing adds nothing to it
      (e2e ++ overhead + ("trace.overhead.setup_s" -> 0.0), last)
    }
  }

  /** Forces `df` at a layer boundary when tracing (persist + count, timed
    * as span `name`); without tracing it returns `df` untouched, so the
    * untraced plan is the plain pipeline. */
  def boundary(name: String, df: DataFrame, count: String = null): DataFrame =
    if (!tracer.enabled) df
    else tracer.span(name) {
      val p = df.persist()
      val n = p.count()
      if (count != null) tracer.count(count, n.toDouble)
      p
    }
}

object Bench {

  /** A fresh session from the engine's own builder. */
  def startSession(): SparkSession = graft.core.GraftSession.builder("pipebench").getOrCreate()

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def toJson(value: Any): String = mapper.writeValueAsString(value)

  def writeJson(file: File, value: Any): Unit = mapper.writeValue(file, value)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection, in MiB: the least of three
    * readings, since `System.gc()` is only a request and Spark's cleaner
    * frees broadcast and shuffle state asynchronously after a collection. */
  def heapRetainedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
  }

  /** Files under `dir` (recursively) whose names end with `suffix`. */
  def files(dir: File, suffix: String): Seq[File] =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
      if (f.isDirectory) files(f, suffix) else if (f.getName.endsWith(suffix)) Seq(f) else Nil
    }

  /** Order-independent digest of a frame: the sum of per-row 64-bit
    * hashes, with doubles rounded to 9 significant digits so a different
    * summation order inside an aggregate cannot change it. */
  def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          format_string("%.9g", col(s"`${f.name}`").cast("double"))
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val row = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)))
      .collect()(0)
    (row.getLong(0), row.getDecimal(1).remainder(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue)
  }

  /** Repeats set-up `times` times and keeps the last session; returns the
    * median set-up seconds. A set-up starts a fresh session from the
    * engine's builder and runs the session's first job, a small one. */
  def setUp(ctx: Ctx, times: Int): Double = {
    val secs = (1 to times).map { _ =>
      if (ctx.spark != null) stopSession(ctx.spark)
      val (_, s) = timed {
        ctx.spark = startSession()
        ctx.spark.range(0, 1L << 16, 1, ctx.spark.sparkContext.defaultParallelism).selectExpr("sum(id)").collect()
      }
      s
    }
    ctx.inputs("setup_runs_s") = secs
    ctx.spark.sparkContext.addSparkListener(ctx.counters)
    ctx.tracer.reset()
    median(secs)
  }
}
