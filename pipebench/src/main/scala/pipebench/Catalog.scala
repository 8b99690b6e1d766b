package pipebench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Workload `catalog`: a fixed slice of the declared-query catalog,
  * served by a closed loop of clients sharing one session. An operation
  * is one catalog query. */
object Catalog {

  type Query = (SparkSession, String) => DataFrame

  /** The eleven query objects, by name. */
  val Objects: Seq[(String, Map[String, Query])] = Seq(
    "CoreQueries" -> graft.queries.CoreQueries.queries,
    "VectorQueries" -> graft.queries.VectorQueries.queries,
    "LlmQueries" -> graft.queries.LlmQueries.queries,
    "RefineQueries" -> graft.queries.RefineQueries.queries,
    "AnalyticsQueries" -> graft.queries.AnalyticsQueries.queries,
    "MiningQueries" -> graft.queries.MiningQueries.queries,
    "SketchQueries" -> graft.queries.SketchQueries.queries,
    "ProfileQueries" -> graft.queries.ProfileQueries.queries,
    "CurationQueries" -> graft.queries.CurationQueries.queries,
    "OpsQueries" -> graft.queries.OpsQueries.queries,
    "SelectionQueries" -> graft.queries.SelectionQueries.queries)

  /** Scale of the generated tables (lineitem = 60,000 rows). */
  val Sf = 0.01
  /** Clients sharing the session. */
  val Clients = 2

  /** The slice: the query names listed in `file`. */
  def slice(file: File): Seq[String] =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(file).get("queries")
      .elements().asScala.map(_.asText).toSeq

  final case class Exec(query: String, seconds: Double, rows: Long, digest: Long)

  /** Runs `names` once with `clients` threads pulling from one queue.
    * Returns the executions and the pass wall time. */
  def pass(ctx: Ctx, dir: String, names: Seq[String], clients: Int, tag: String,
      operations: Boolean = true): (Seq[Exec], Double) = {
    val all = graft.SparkEntry.queries
    val objectOf = Objects.flatMap { case (o, qs) => qs.keys.map(_ -> o) }.toMap
    val todo = new ConcurrentLinkedQueue[String](names.asJava)
    val done = new ConcurrentLinkedQueue[Exec]()
    val tr = ctx.tracer
    def client(): Unit = {
      var q = todo.poll()
      while (q != null) {
        val name = q
        try {
          val t0 = System.nanoTime()
          val (rows, dig) = tr.span(s"queries.${objectOf(name)}", group = s"$tag:$name") {
            val df = tr.span("core.plan") {
              val df = all(name)(ctx.spark, dir)
              if (tr.enabled) df.queryExecution.executedPlan
              df
            }
            Bench.digest(df)
          }
          done.add(Exec(name, (System.nanoTime() - t0) / 1e9, rows, dig))
        } catch {
          case e: Throwable =>
            ctx.synchronized { if (operations) ctx.failedOps += 1; ctx.failures += s"query $name: $e" }
        }
        if (operations) ctx.synchronized { ctx.attempted += 1 }
        q = todo.poll()
      }
    }
    val (_, wall) = Bench.timed {
      val threads = (1 to clients).map(i => new Thread(() => client(), s"pipebench-client-$i"))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    (done.asScala.toSeq, wall)
  }

  def run(ctx: Ctx, configFile: File): (Map[String, Double], Map[String, Long]) = {
    val queries = slice(configFile)
    val missing = queries.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown catalog queries: $missing")
    val dataDir = new File(ctx.workDir, "tables")
    ctx.spark = Bench.startSession() // set-up stops it and starts the sessions it times
    val sizes = Tpch.generate(ctx.spark, dataDir, ctx.seed, Sf)
    val dir = dataDir.getPath
    ctx.inputs ++= Seq("sf" -> Sf, "clients" -> Clients, "queries" -> queries.size,
      "bytes" -> Tpch.Tables.map(t => new File(dataDir, s"$t.parquet").length).sum) ++
      sizes.map { case (t, n) => s"rows.$t" -> n }

    // no warm-up: the slice's first pass after set-up is the measured
    // one, artifact builds included, like a service's first requests
    // after a restart
    val setup = Bench.setUp(ctx, 5)
    graft.core.ArtifactRegistry.resetTimings()
    val tr = ctx.tracer

    // one pass of the slice takes about half a minute on a 4-core host
    val nPasses = math.max(1, math.round(ctx.seconds / 30).toInt)
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val (e2e, (passes, sparkDelta)) = ctx.measure {
      val spark0 = ctx.sparkNow()
      val passes = (0 until nPasses).map(i => pass(ctx, dir, queries, Clients, s"p$i"))
      val sparkDelta = SparkCounters.delta(ctx.sparkNow(), spark0)
      execs ++= passes.flatMap(_._1)
      (Map("heap_retained_mb" -> Bench.heapRetainedMb(),
        "pass_s" -> Bench.median(passes.map(_._2)),
        "op_p50_ms" -> Bench.median(passes.flatMap(_._1.map(_.seconds * 1000))),
        "ops_per_s" -> passes.map(_._1.size).sum / passes.map(_._2).sum), (passes, sparkDelta))
    }
    val n = passes.size.toDouble
    val layers = if (!ctx.traced) Map.empty[String, Double] else
      Objects.map { case (o, _) => s"queries.${o}_s" -> tr.total(s"queries.$o") / n }.toMap ++ Map(
        "core.plan_s" -> tr.total("core.plan") / n,
        "core.artifact_build_s" -> graft.core.ArtifactRegistry.buildSeconds.values.sum) ++
        sparkDelta.map { case (k, v) => k -> v / n }

    // checks: every execution of a query returns the same row count; a
    // query without an oracle must also return the same digest when run
    // again (outside the timed part)
    val rowsOnly = queries.filterNot(graft.SparkEntry.oracleSql.contains)
    val again = pass(ctx, dir, rowsOnly, 1, "check", operations = false)._1
    val byQuery = execs.toSeq.groupBy(_.query)
    queries.foreach { q =>
      val es = byQuery.getOrElse(q, Nil)
      ctx.check("catalog.rows_stable", es.nonEmpty && es.map(_.rows).distinct.size == 1,
        s"$q rows ${es.map(_.rows)}")
    }
    rowsOnly.foreach { q =>
      val digests = (byQuery.getOrElse(q, Nil) ++ again.filter(_.query == q)).map(_.digest)
      ctx.check("catalog.rows_only_digest_stable", digests.size >= 2 && digests.distinct.size == 1,
        s"$q digests ${digests.distinct}")
    }
    val counts = byQuery.map { case (q, es) => q -> es.head.rows }
    ctx.inputs("query_median_s") = byQuery.map { case (q, es) => q -> Bench.median(es.map(_.seconds)) }

    (layers ++ e2e + ("setup_s" -> setup), counts)
  }
}
