package pipebench

import java.io.File
import java.nio.charset.{CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.convert.{CsvConverter, JsonConverter, OdsDecoder, SpreadsheetConverter, XlsxDecoder}
import graft.extract.{HtmlExtractor, PdfExtractor}
import graft.operators.{Embedder, ThemeTagger, ToyTextEncoder}
import graft.refine.{Anonymizer, FailSoft, RefinePipeline}
import graft.sources.{FileCorpus, Sinks}

/** Workload `refine_corpus`: the refine half of the pipeline over a
  * generated raw-file corpus. One pass = scan and sidecar association,
  * per-file conversion of the structured members, bulk extraction of the
  * HTML/PDF members under FailSoft, dedupe, enrich, embed and theme-tag,
  * tag merge-back, anonymize, parquet write. An operation is one member. */
object RefineCorpus {

  val Themes = Seq(
    "agriculture fisheries forestry and food", "economy and finance",
    "education culture and sport", "energy", "environment",
    "government and public sector", "health", "international issues",
    "justice legal system and public safety", "population and society",
    "regions and cities", "science and technology", "transport")

  val Bulk = Seq("html", "pdf")
  val Structured = Seq("csv", "json", "xlsx", "ods")
  val Encoder = ToyTextEncoder(dim = 64)
  /** Rough length of one pass on a 4-core host; `--seconds` / this sets
    * the measured pass count (at least one). */
  val PassSeconds = 10.0

  private def strictUtf8(b: Array[Byte]): String =
    StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
      .decode(java.nio.ByteBuffer.wrap(b)).toString

  /** HTML extraction under FailSoft: bytes that are not UTF-8 are refused
    * with an error instead of failing the stage. */
  private val htmlGuarded = udf { (b: Array[Byte]) =>
    FailSoft.guarded[Array[Byte]](x => HtmlExtractor.extractText(strictUtf8(x)))(b)
  }

  private val memberId = regexp_extract(col("data_path"), "m(\\d+)\\.[a-z]+$", 1).cast("long")

  private val metaSchema = "title string, license string, lang string, tags array<string>, source string"

  final case class PassOut(seconds: Double, fileMs: Seq[Double], refusedStructured: Set[Long],
      tables: Map[String, Long], failed: Int)

  def themes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Themes.zip(Encoder.encodeBatch(Themes.toArray)).map { case (l, v) => (l, v.toSeq) }
      .toDF("label", "theme_vec")
  }

  private def localFile(uri: String): File = new File(new java.net.URI(uri))

  /** One pass over `corpus`, writing under `out`. */
  def pass(ctx: Ctx, corpus: File, out: File): PassOut = {
    val spark = ctx.spark
    val tr = ctx.tracer
    graft.core.Fs.rmTree(out)
    val t0 = System.nanoTime()

    // sources: binary scan + sidecar association
    val (files, pairs) = tr.span("sources.scan") {
      val files = ctx.boundary("sources.scan.files", FileCorpus.scan(spark, corpus.getPath), "sources.files_listed")
      val pairs = ctx.boundary("sources.scan.pairs",
        FileCorpus.associateMetadata(files, Bulk ++ Structured), "sources.meta_pairs")
      (files, pairs)
    }

    // convert: structured members, one converter call per file
    val structured = pairs.filter(col("ext").isin(Structured: _*))
      .select(memberId.as("member_id"), col("ext"), col("data_path"))
      .orderBy("member_id").collect()
    val fileMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val refused = scala.collection.mutable.Set.empty[Long]
    val tables = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var failed = 0
    structured.foreach { r =>
      val (id, ext, path) = (r.getLong(0), r.getString(1), r.getString(2))
      val jobs0 = if (tr.enabled) ctx.sparkNow()("spark.jobs") else 0.0
      val (_, s) = Bench.timed(tr.span("convert.file", group = s"m$id") {
        try {
          val converted: Seq[(String, DataFrame)] = ext match {
            case "csv" => Seq("" -> CsvConverter.convert(spark, path))
            case "json" =>
              val text = new String(java.nio.file.Files.readAllBytes(localFile(path).toPath), StandardCharsets.UTF_8)
              if (JsonConverter.toRecords(text).isEmpty) Nil
              else Seq("" -> JsonConverter.convert(spark, Seq(text)))
            case _ => SpreadsheetConverter.convert(spark, java.nio.file.Files.readAllBytes(localFile(path).toPath))
          }
          if (converted.isEmpty) refused += id
          converted.foreach { case (sheet, df) =>
            val name = if (sheet.isEmpty) f"m$id%06d" else f"m$id%06d.$sheet"
            tr.span("sources.write") { Sinks.writePartitioned(df, new File(out, s"tables/$name").getPath, Nil) }
            tables(name) = id
          }
        } catch {
          case e: Exception =>
            failed += 1
            ctx.failures += s"convert m$id ($ext): $e"
        }
      })
      fileMs += s * 1000
      if (tr.enabled) {
        tr.count("convert.files", 1)
        tr.count("convert.jobs", ctx.sparkNow()("spark.jobs") - jobs0)
      }
    }
    if (tr.enabled) tr.count("convert.refused", refused.size.toDouble)

    // extract: HTML and PDF members in bulk
    val extracted = tr.span("extract") {
      val metas = files.filter(FileCorpus.isMetadataFile(col("path")))
        .select(col("path").as("meta_path"),
          from_json(col("content").cast("string"), org.apache.spark.sql.types.DataType.fromDDL(metaSchema)).as("meta"))
      val bulk = pairs.filter(col("ext").isin(Bulk: _*))
        .join(files.select(col("path").as("data_path"), col("content")), "data_path")
        .join(metas, "meta_path")
        .select(memberId.as("member_id"), col("ext"), col("content"), col("meta.title").as("title"),
          col("meta.license").as("license"), coalesce(col("meta.lang"), lit("")).as("lang"),
          coalesce(col("meta.tags"), array().cast("array<string>")).as("tags"))
      val html = bulk.filter(col("ext") === "html")
        .withColumn("__g", htmlGuarded(col("content")))
        .withColumn("text", col("__g._1")).withColumn("text_error", col("__g._2")).drop("__g")
      val pdf = PdfExtractor.withExtractedText(bulk.filter(col("ext") === "pdf"), "content")
        .withColumn("text_error", lit(null).cast("string"))
      // two sinks (records, quarantine) read the extraction: keep it once
      html.unionByName(pdf).drop("content").persist()
    }
    if (tr.enabled) tr.span("extract.force") {
      tr.count("extract.docs", extracted.count().toDouble)
      tr.count("extract.ocr_fallbacks",
        extracted.filter(col("ext") === "pdf" && col("text").rlike("^\\[ocr:[0-9a-f]{8}\\]$")).count().toDouble)
    }
    val isRefused = col("text_error").isNotNull || col("text").isNull || length(col("text")) === 0

    // refine: dedupe, enrich
    val valid = extracted.filter(!isRefused)
    val deduped = ctx.boundary("refine.dedupe",
      RefinePipeline.dedupe(valid, col("text"), col("member_id")), "refine.dedupe_kept")
    val enriched = ctx.boundary("refine.enrich",
      RefinePipeline.enrich(deduped, col("text"), col("lang"), col("license")), "refine.gate_kept")

    // operators: embed + theme-tag, then merge-back and anonymize
    val vecs = ctx.boundary("operators.tag_embed",
      Embedder.embedText(enriched, col("member_id"), col("text"), Encoder))
    val tags = ctx.boundary("operators.tag",
      ThemeTagger.tag(vecs, col("id"), col("embedding"), themes(spark), col("label"), col("theme_vec")),
      "operators.tagged")
    val merged = RefinePipeline.mergeTags(enriched, col("member_id"), col("tags"),
      tags.select(col("id").as("key"), col("labels").as("pred")))
    val anon = ctx.boundary("refine.anonymize", RefinePipeline.anonymize(merged, col("text")))
    val records = anon.select(col("member_id"), col("identifier"), col("ext"), col("title"),
      col("lang_final"), col("license"), col("word_count"), col("token_count"), col("tags"),
      col("anon_text"))

    // sources: the refined records and the quarantine of refused members
    tr.span("sources.write") {
      Sinks.writePartitioned(records, new File(out, "records").getPath, Seq("lang_final"))
      Sinks.writePartitioned(extracted.filter(isRefused).select(col("member_id"), col("ext"),
        coalesce(col("text_error"), lit("empty text")).as("error")), new File(out, "quarantine").getPath, Nil)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    if (tr.enabled) {
      tr.count("extract.refused", extracted.filter(isRefused).count().toDouble)
      tr.count("refine.failsoft_errors", extracted.filter(col("text_error").isNotNull).count().toDouble)
      tr.count("extract.valid", extracted.filter(!isRefused).count().toDouble)
    }
    Seq(extracted, deduped, enriched, vecs, tags, anon, files, pairs).foreach(_.unpersist(blocking = true))
    PassOut(seconds, fileMs.toSeq, refused.toSet, tables.toMap, failed)
  }

  /** Single-thread kernel timings (µs per file) on the generated inputs. */
  def kernels(corpus: File, manifest: Seq[Gen.Member]): Map[String, Double] = {
    def bytes(m: Gen.Member) = java.nio.file.Files.readAllBytes(new File(corpus, m.path).toPath)
    def perFile(ext: String, limit: Int)(k: Array[Byte] => Any): Double = {
      val ins = manifest.filter(m => m.ext == ext && m.kind == "unique").take(limit).map(bytes)
      ins.foreach(k) // warm
      val runs = (1 to 3).map { _ =>
        val (_, s) = Bench.timed(ins.foreach(k)); s * 1e6 / ins.size
      }
      Bench.median(runs)
    }
    Map(
      "convert.xlsx_decode_us" -> perFile("xlsx", 50)(XlsxDecoder.decode),
      "convert.ods_decode_us" -> perFile("ods", 50)(OdsDecoder.decode),
      "extract.html_us" -> perFile("html", 200)(b => HtmlExtractor.extractText(new String(b, StandardCharsets.UTF_8))),
      "extract.pdf_us" -> perFile("pdf", 200)(b => PdfExtractor.extractWithOcrFallback(b)))
  }

  /** Checks one pass's output against the manifest; returns the number
    * of masked emails and phone numbers in it. */
  def checkPass(ctx: Ctx, out: File, p: PassOut, manifest: Seq[Gen.Member]): Double = {
    val spark = ctx.spark
    val records = spark.read.parquet(new File(out, "records").getPath)
    val quarantine = spark.read.parquet(new File(out, "quarantine").getPath)
    val keptIds = records.select("member_id").collect().map(_.getLong(0)).toSet
    val refusedBulk = quarantine.select("member_id").collect().map(_.getLong(0)).toSet
    val uniquesBulk = manifest.filter(m => m.kind == "unique" && Bulk.contains(m.ext))
    val corrupt = manifest.filter(_.kind == "corrupt")
    ctx.check("refine.kept_equals_unique", keptIds == uniquesBulk.map(_.id).toSet,
      s"kept ${keptIds.size}, planted unique ${uniquesBulk.size}")
    ctx.check("refine.refused_equals_corrupt",
      (refusedBulk ++ p.refusedStructured) == corrupt.map(_.id).toSet,
      s"refused ${(refusedBulk ++ p.refusedStructured).toSeq.sorted.take(10)}, corrupt ${corrupt.map(_.id).sorted.take(10)}")
    // the email mask itself has an email's shape: drop masks, then match
    val unmasked = regexp_replace(regexp_replace(col("anon_text"), "xxx@xxx\\.xx", ""), "xx-xxxx-xxxx", "")
    val pii = records.agg(
      sum(when(unmasked.rlike(Anonymizer.EmailRegex) || unmasked.rlike(Anonymizer.PhoneRegex), 1).otherwise(0)),
      sum((length(col("anon_text")) - length(regexp_replace(col("anon_text"), "xxx@xxx\\.xx", ""))) / 10),
      sum((length(col("anon_text")) - length(regexp_replace(col("anon_text"), "xx-xxxx-xxxx", ""))) / 12))
      .collect()(0)
    val (emails, phones) = (uniquesBulk.map(_.emails).sum.toLong, uniquesBulk.map(_.phones).sum.toLong)
    ctx.check("refine.no_pii_survives", pii.getLong(0) == 0L, s"${pii.getLong(0)} records still match")
    ctx.check("refine.masked_counts", pii.getDouble(1).toLong == emails && pii.getDouble(2).toLong == phones,
      s"masked ${pii.getDouble(1)}/${pii.getDouble(2)}, planted $emails/$phones")
    val structured = manifest.filter(m => m.kind == "unique" && Structured.contains(m.ext))
    ctx.check("convert.tables_written", p.tables.values.toSet == structured.map(_.id).toSet,
      s"${p.tables.size} tables for ${structured.size} members")
    val byId = structured.map(m => m.id -> m).toMap
    p.tables.foreach { case (name, id) =>
      val df = spark.read.parquet(new File(out, s"tables/$name").getPath)
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      val m = byId(id)
      ctx.check("convert.rows_and_types", df.count() == m.rows && types == m.types,
        s"$name: ${df.count()} rows $types, expected ${m.rows} ${m.types}")
    }
    pii.getDouble(1) + pii.getDouble(2)
  }

  /** One pass over a small corpus of every member shape, in a fresh
    * session: loads the classes a run uses. */
  def train(ctx: Ctx): Unit = {
    val dir = new File(ctx.workDir, "train")
    Gen.refineCorpus(dir, ctx.seed, Gen.TrainSpec)
    ctx.spark = Bench.startSession()
    pass(ctx, dir, new File(ctx.workDir, "train_out"))
    ()
  }

  def run(ctx: Ctx): Map[String, Double] = {
    val corpus = new File(ctx.workDir, "corpus")
    val manifest = Gen.refineCorpus(corpus, ctx.seed, Gen.RefineSpec)
    Bench.writeJson(new File(ctx.workDir, "manifest.json"), manifest)
    ctx.inputs ++= Seq("members" -> manifest.size,
      "bytes" -> manifest.map(m => new File(corpus, m.path).length).sum,
      "html" -> manifest.count(_.ext == "html"), "pdf" -> manifest.count(_.ext == "pdf"),
      "structured" -> manifest.count(m => Structured.contains(m.ext)),
      "duplicates" -> manifest.count(_.kind == "duplicate"), "corrupt" -> manifest.count(_.kind == "corrupt"),
      "pii_members" -> manifest.count(m => m.kind == "unique" && m.emails + m.phones > 0))

    val setup = Bench.setUp(ctx, 5)
    // warm-up, untimed: one pass compiles every code path the measured
    // passes take. Its output joins the digest check.
    val digests = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def digest(out: File) = digests += Bench.digest(ctx.spark.read.parquet(new File(out, "records").getPath))
    val warmOut = new File(ctx.workDir, "warm_out")
    pass(ctx, corpus, warmOut)
    digest(warmOut)
    val out = new File(ctx.workDir, "out")
    // a fixed pass count (not a deadline), so every run measures the same
    // work and retains the same state
    val nPasses = math.max(1, math.round(ctx.seconds / PassSeconds).toInt)
    val (e2e, (passes, sparkDelta)) = ctx.measure {
      var sparkDelta = Map.empty[String, Double]
      val passes = (1 to nPasses).map { _ =>
        val c0 = ctx.sparkNow()
        val p = pass(ctx, corpus, out)
        sparkDelta = SparkCounters.delta(ctx.sparkNow(), c0).map { case (k, v) => k -> (v + sparkDelta.getOrElse(k, 0.0)) }
        ctx.attempted += manifest.size
        ctx.failedOps += p.failed
        digest(out) // outside the timed pass
        p
      }
      val passS = Bench.median(passes.map(_.seconds))
      (Map("heap_retained_mb" -> Bench.heapRetainedMb(), "pass_s" -> passS,
        "op_p50_ms" -> Bench.median(passes.flatMap(_.fileMs)), "ops_per_s" -> manifest.size / passS),
        (passes, sparkDelta))
    }
    ctx.inputs("pass_times_s") = passes.map(_.seconds)
    ctx.check("refine.digest_stable", digests.distinct.size == 1, s"digests ${digests.distinct}")
    // equal digests make the last pass's output stand for every pass
    val masked = checkPass(ctx, out, passes.last, manifest)
    if (!ctx.traced) e2e + ("setup_s" -> setup)
    else {
      val tr = ctx.tracer
      val n = passes.size.toDouble
      val self = tr.selfSeconds
      def per(name: String) = tr.total(name) / n
      val extractValid = tr.counter("extract.valid")
      e2e ++ kernels(corpus, manifest) ++ Map(
        "setup_s" -> setup,
        "sources.scan_s" -> per("sources.scan"),
        "sources.files_listed" -> tr.counter("sources.files_listed") / n,
        "sources.meta_pairs" -> tr.counter("sources.meta_pairs") / n,
        // conversion self time: the table writes nested in it count as sources.write
        "convert.busy_s" -> self.getOrElse("convert.file", 0.0) / n,
        "convert.files" -> tr.counter("convert.files") / n,
        "convert.rows" -> passes.last.tables.keys.toSeq.map(t => ctx.spark.read.parquet(new File(out, s"tables/$t").getPath).count()).sum.toDouble,
        "convert.refused" -> tr.counter("convert.refused") / n,
        "convert.jobs_per_file" -> tr.counter("convert.jobs") / math.max(1.0, tr.counter("convert.files")),
        "extract.busy_s" -> per("extract.force"),
        "extract.docs" -> tr.counter("extract.docs") / n,
        "extract.refused" -> tr.counter("extract.refused") / n,
        "extract.ocr_fallbacks" -> tr.counter("extract.ocr_fallbacks") / n,
        "refine.dedupe_s" -> per("refine.dedupe"),
        "refine.dedupe_kept_frac" -> tr.counter("refine.dedupe_kept") / math.max(1.0, extractValid),
        "refine.enrich_s" -> per("refine.enrich"),
        "refine.gate_kept_frac" -> tr.counter("refine.gate_kept") / math.max(1.0, tr.counter("refine.dedupe_kept")),
        "refine.anonymize_s" -> per("refine.anonymize"),
        "refine.pii_masked" -> masked,
        "refine.failsoft_errors" -> tr.counter("refine.failsoft_errors") / n,
        "operators.tag_embed_s" -> per("operators.tag_embed"),
        "operators.tag_s" -> per("operators.tag"),
        "operators.tagged_frac" -> tr.counter("operators.tagged") / math.max(1.0, tr.counter("refine.gate_kept")),
        "sources.write_s" -> per("sources.write"),
        "sources.files_written" -> Bench.files(out, ".parquet").size.toDouble,
        "sources.bytes_written" -> Bench.files(out, ".parquet").map(_.length).sum.toDouble) ++
        sparkDelta.map { case (k, v) => k -> v / n }
    }
  }
}
