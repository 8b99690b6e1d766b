package pipebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Chunker, Elbow, Embedder, Similarity, ToyTextEncoder}
import graft.sources.Sinks

/** Workload `index_search`: chunk, embed and write a vector table from a
  * long-document corpus, then serve single search requests from one
  * client (the reference's rag_search: encode, exact top-k by cosine,
  * elbow cut, join back to the chunk text) and batched top-k searches.
  * An operation is one search request. */
object IndexSearch {

  val K = 15
  val BatchSize = 64
  val Builds = 5
  val MinRequests = 16
  val MinBatches = 8
  val Docs = 300
  val Encoder = ToyTextEncoder(dim = 64)
  val Table = "pipebench_vectors"
  /** Bucket count of the vector table: the sink's scale knob, sized to a
    * corpus of a few thousand chunks rather than the 256-partition
    * production default. */
  val Buckets = 8

  /** Chunk → embed → vector-table write. */
  def build(ctx: Ctx, docsPath: String, table: String): Unit = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath)
    val chunks = ctx.boundary("operators.chunk",
      Chunker.explodeChunks(docs, col("text"), 800, 100)
        .select((col("doc_id") * 1000 + col("chunk_index")).as("id"), col("chunk")), "operators.chunks")
    val vecs = ctx.boundary("operators.embed", Embedder.embedText(chunks, col("id"), col("chunk"), Encoder))
    ctx.tracer.span("sources.vector_write") {
      Sinks.writeVectorTable(vecs.join(chunks, "id"), table, "id", Buckets)
    }
    Seq(chunks, vecs).foreach(_.unpersist(blocking = true))
  }

  def queryFrame(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    Seq(Tuple1(Encoder.encodeBatch(Array(text))(0).toSeq)).toDF("qv")
  }

  /** One request: rows of (id, score, rank, chunk) in rank order. */
  def search(ctx: Ctx, vectors: DataFrame, text: String): Array[(Long, Double, Int, String)] = {
    val tr = ctx.tracer
    val df = tr.span("core.plan") {
      val top = Similarity.topKByCosine(vectors, col("id"), col("embedding"), queryFrame(ctx.spark, text), K)
      val cut = Elbow.cut(top.withColumn("dist", lit(1.0) - col("score")), col("dist"), col("id"))
      val res = cut.join(vectors.select("id", "chunk"), "id")
        .select(col("id"), col("score"), col("rank"), col("chunk")).orderBy("rank")
      if (tr.enabled) res.queryExecution.executedPlan
      res
    }
    tr.span("operators.search_exec") {
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getString(3)))
    }
  }

  def batch(ctx: Ctx, vectors: DataFrame, texts: Seq[String], base: Long): Array[(Long, Long, Double, Int)] = {
    val spark = ctx.spark
    import spark.implicits._
    val q = texts.zipWithIndex.map { case (t, i) => (-(base + i + 1), Encoder.encodeBatch(Array(t))(0).toSeq) }
      .toDF("qid", "qv")
    ctx.tracer.span("operators.batch_exec") {
      Similarity.batchTopKByCosine(vectors, col("id"), col("embedding"), q, K).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    }
  }

  /** Brute force in this process, with the kernel's arithmetic: float inputs
    * widened to double, one left-to-right pass for dot and both norms. */
  def bruteForce(corpus: Array[(Long, Array[Float])], text: String): Seq[(Long, Double)] = {
    val q = Encoder.encodeBatch(Array(text))(0)
    corpus.flatMap { case (id, v) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) {
        val x = v(i).toDouble; val y = q(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) None else Some(id -> dot / (math.sqrt(na) * math.sqrt(nb)))
    }.sortBy { case (id, s) => (-s, id) }.take(K).toSeq
  }

  /** Warm-up: two builds of `docsPath` (build times still fall after the
    * first), then two requests and one batch against the result. */
  def warmUp(ctx: Ctx, docsPath: String, queries: Seq[String]): Unit = {
    (1 to 2).foreach(_ => build(ctx, docsPath, "pipebench_warm"))
    val warm = Sinks.readTable(ctx.spark, "pipebench_warm")
    queries.take(2).foreach(q => search(ctx, warm, q))
    batch(ctx, warm, queries.take(BatchSize), 0)
    ()
  }

  /** The warm-up over 20 documents, in a fresh session: loads the classes
    * a run uses. */
  def train(ctx: Ctx): Unit = {
    ctx.spark = Bench.startSession()
    val spark = ctx.spark
    import spark.implicits._
    val path = new File(ctx.workDir, "train_docs.parquet").getPath
    Gen.longDocs(ctx.seed, 20).toDF("doc_id", "text").coalesce(1).write.parquet(path)
    warmUp(ctx, path, Gen.queryTexts(ctx.seed, BatchSize))
  }

  /** What the measured part saw, for the checks and the per-layer metrics. */
  private final case class Measured(builds: Seq[Double], reqMs: Seq[Double],
      perReq: Seq[(Double, Double, Double, Double)], sample: Seq[(String, Array[(Long, Double, Int, String)])],
      batchS: Seq[Double], batchSample: Seq[(Seq[String], Long, Array[(Long, Long, Double, Int)])],
      sparkDelta: Map[String, Double])

  def run(ctx: Ctx): Map[String, Double] = {
    val docs = Gen.longDocs(ctx.seed, Docs)
    val queries = Gen.queryTexts(ctx.seed, 4096)
    val docsPath = new File(ctx.workDir, "docs.parquet").getPath
    ctx.inputs ++= Seq("docs" -> docs.size, "doc_chars" -> docs.map(_._2.length.toLong).sum,
      "query_pool" -> queries.size)

    val setup = Bench.setUp(ctx, 5)
    val spark = ctx.spark
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(docsPath)
    // warm-up, untimed: a build of the corpus and a few searches compile
    // every code path the measured part takes
    warmUp(ctx, docsPath, queries)
    val tr = ctx.tracer
    // single requests, one client, closed loop, then batches: counts set
    // by --seconds, not by a deadline, so every run measures the same work
    val nRequests = math.max(MinRequests, math.round(ctx.seconds).toInt)
    val nBatches = math.max(MinBatches, math.round(ctx.seconds * 0.6).toInt)
    val (e2e, m) = ctx.measure {
      val counters0 = ctx.sparkNow()
      // build several times, for a median
      val builds = (1 to Builds).map(_ => Bench.timed(tr.span("index.build")(build(ctx, docsPath, Table)))._2)
      val vectors = Sinks.readTable(spark, Table)

      val reqMs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val perReq = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
      val sample = scala.collection.mutable.ArrayBuffer.empty[(String, Array[(Long, Double, Int, String)])]
      (0 until nRequests).foreach { i =>
        val q = queries(i % queries.size)
        val c0 = if (tr.enabled) ctx.sparkNow() else Map.empty[String, Double]
        val plan0 = tr.total("core.plan"); val exec0 = tr.total("operators.search_exec")
        val (res, s) = try Bench.timed(tr.span("search", group = s"q$i")(search(ctx, vectors, q)))
        catch { case e: Exception => ctx.failedOps += 1; ctx.failures += s"search $i: $e"; (Array.empty[(Long, Double, Int, String)], 0.0) }
        ctx.attempted += 1
        if (res.nonEmpty) reqMs += s * 1000
        if (tr.enabled) {
          val c = SparkCounters.delta(ctx.sparkNow(), c0)
          perReq += ((tr.total("core.plan") - plan0, tr.total("operators.search_exec") - exec0,
            c("spark.jobs"), c("spark.tasks")))
          tr.count("operators.elbow_kept", res.length.toDouble)
        }
        if (i % 10 == 0) sample += q -> res
      }

      val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
      val batchSample = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], Long, Array[(Long, Long, Double, Int)])]
      (0 until nBatches).foreach { b =>
        val texts = (0 until BatchSize).map(j => queries((b * BatchSize + j + 17) % queries.size))
        val (res, s) = Bench.timed(batch(ctx, vectors, texts, b.toLong * BatchSize))
        batchS += s
        if (b < 3) batchSample += ((texts, b.toLong * BatchSize, res))
      }
      val sparkDelta = SparkCounters.delta(ctx.sparkNow(), counters0)
      (Map("heap_retained_mb" -> Bench.heapRetainedMb(), "pass_s" -> Bench.median(builds),
        "op_p50_ms" -> Bench.median(reqMs.toSeq), "ops_per_s" -> BatchSize / Bench.median(batchS.toSeq)),
        Measured(builds, reqMs.toSeq, perReq.toSeq, sample.toSeq, batchS.toSeq, batchSample.toSeq, sparkDelta))
    }
    val vectors = Sinks.readTable(spark, Table)
    val corpus = vectors.select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    ctx.inputs ++= Seq("chunks" -> corpus.length, "build_times_s" -> m.builds,
      "requests" -> m.reqMs.size, "batch_times_s" -> m.batchS)

    // checks, outside the timed parts
    m.sample.foreach { case (q, res) =>
      val expect = bruteForce(corpus, q)
      val got = res.map(r => r._1 -> r._2).toSeq
      ctx.check("search.topk_equals_bruteforce",
        got.nonEmpty && got == expect.take(got.size) && res.map(_._3).toSeq == (1 to got.size),
        s"query '$q': got ${got.take(3)} expected ${expect.take(3)}")
    }
    m.batchSample.foreach { case (texts, base, res) =>
      val byQ = res.groupBy(_._1)
      texts.zipWithIndex.foreach { case (t, j) =>
        val got = byQ.getOrElse(-(base + j + 1), Array.empty).sortBy(_._4).map(r => r._2 -> r._3).toSeq
        ctx.check("search.batch_equals_single", got == bruteForce(corpus, t), s"batch query '$t'")
      }
    }
    val first = m.batchSample.head._1.head
    val single = search(ctx, vectors, first).map(r => r._1 -> r._2).toSeq
    ctx.check("search.single_prefix_of_bruteforce",
      single == bruteForce(corpus, first).take(single.size), "single request vs brute force")
    val longest = vectors.agg(max(length(col("chunk")))).collect()(0).getInt(0)
    ctx.check("index.chunks_at_most_800", longest <= 800, s"longest chunk $longest chars")

    if (!ctx.traced) e2e + ("setup_s" -> setup)
    else {
      val nb = m.builds.size.toDouble
      val warehouse = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, Table)
      val texts = docs.map(_._2)
      def us(body: => Unit): Double = {
        body
        Bench.median((1 to 3).map(_ => Bench.timed(body)._2 * 1e6))
      }
      val chunkTexts = texts.flatMap(t => Chunker.recursiveSplit(t, 800, 100)).toArray
      e2e ++ m.sparkDelta ++ Map(
        "setup_s" -> setup,
        "operators.chunk_s" -> tr.total("operators.chunk") / nb,
        "operators.chunks" -> corpus.length.toDouble,
        "operators.chunk_us" -> us(texts.foreach(t => Chunker.recursiveSplit(t, 800, 100))) / texts.size,
        "operators.embed_s" -> tr.total("operators.embed") / nb,
        "operators.embed_us" -> us(Encoder.encodeBatch(chunkTexts)) / chunkTexts.length,
        "sources.vector_write_s" -> tr.total("sources.vector_write") / nb,
        "sources.vector_files" -> Bench.files(warehouse, ".parquet").size.toDouble,
        "sources.vector_bytes" -> Bench.files(warehouse, ".parquet").map(_.length).sum.toDouble,
        "core.plan_ms" -> Bench.median(m.perReq.map(_._1 * 1000)),
        "operators.search_exec_ms" -> Bench.median(m.perReq.map(_._2 * 1000)),
        "spark.jobs_per_search" -> Bench.median(m.perReq.map(_._3)),
        "spark.tasks_per_search" -> Bench.median(m.perReq.map(_._4)),
        "operators.batch_exec_s" -> Bench.median(m.batchS),
        "operators.elbow_kept_frac" -> tr.counter("operators.elbow_kept") / (nRequests * K.toDouble))
    }
  }
}
