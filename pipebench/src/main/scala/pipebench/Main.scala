package pipebench

import java.io.File

/** Entry point: runs one workload and writes its result file.
  *
  * {{{
  * Main --workload <refine_corpus|index_search|catalog> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  *      [--catalog <catalog.json>]
  * }}}
  *
  * With `--trace 1` the measured part runs untraced and then traced (see
  * [[Ctx.measure]]); the result then also carries the per-layer metrics
  * and, per end-to-end metric, traced minus untraced.
  *
  * `--workload train` runs the refine and index warm-ups once on small
  * inputs; the build records the classes it loads (most of those every
  * workload loads) as the JVM's class-data archive. */
object Main {

  /** One run of a workload, with the session state it ended in. */
  final case class Run(ctx: Ctx, metrics: Map[String, Double], counts: Map[String, Long],
      stealPct: Double, conf: Map[String, String])

  private def runOnce(args: Map[String, String], traced: Boolean, work: File): Run = {
    graft.core.Fs.rmTree(work)
    work.mkdirs()
    val ctx = new Ctx(work, args("seed").toLong, args("seconds").toDouble, traced)
    val steal0 = graft.core.Calib.stealStat()
    val t0 = System.nanoTime()
    var counts = Map.empty[String, Long]
    val metrics = try args("workload") match {
      case "refine_corpus" => RefineCorpus.run(ctx)
      case "index_search" => IndexSearch.run(ctx)
      case "catalog" =>
        val (m, c) = Catalog.run(ctx, new File(args("catalog")))
        counts = c
        m
      case "train" =>
        Seq[Ctx => Unit](RefineCorpus.train, IndexSearch.train).foreach { t =>
          Option(ctx.spark).foreach(Bench.stopSession)
          t(ctx)
        }
        Map.empty[String, Double]
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        ctx.failedOps += 1
        ctx.failures += s"workload aborted: $e"
        e.printStackTrace()
        Map.empty[String, Double]
    }
    ctx.inputs("workload_wall_s") = (System.nanoTime() - t0) / 1e9
    val steal = graft.core.Calib.stealPct(steal0, graft.core.Calib.stealStat())
    val conf = Option(ctx.spark).map(_.conf.getAll).getOrElse(Map.empty[String, String])
    Option(ctx.spark).foreach(Bench.stopSession)
    Run(ctx, metrics, counts, steal, conf)
  }

  /** Exits explicitly, so a thread left behind by a stopped session cannot
    * keep the JVM alive. */
  def main(argv: Array[String]): Unit = {
    val code = try { runMain(argv); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def runMain(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(args("work"))
    val trace = args.getOrElse("trace", "0") == "1"
    val run = runOnce(args, trace, new File(work, "run"))
    if (trace) run.ctx.tracer.writeTo(new File(work, "spans.jsonl"))
    val result = scala.collection.immutable.ListMap(
      "workload" -> args("workload"),
      "seed" -> run.ctx.seed,
      "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "steal_pct" -> run.stealPct,
      "attempted" -> run.ctx.attempted,
      "failed" -> run.ctx.failedOps,
      "checks" -> run.ctx.checks,
      "failures" -> run.ctx.failures.take(50),
      "metrics" -> run.metrics,
      "inputs" -> run.ctx.inputs,
      "conf" -> scala.collection.immutable.TreeMap(run.conf.toSeq: _*),
      "catalog_counts" -> run.counts,
      "oracle_sql" -> run.counts.keys.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap)
    Bench.writeJson(new File(args("out")), result)
  }
}
