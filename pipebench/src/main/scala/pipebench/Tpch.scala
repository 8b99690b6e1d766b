package pipebench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the catalog's star schema (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings): same table names, column names, types and value domains
  * as the fixtures the catalog is written against, one parquet file per
  * table. Row counts scale with `sf` (lineitem = 6,000,000 × sf).
  *
  * Spark's `rand(seed)` is a function of (seed, partition index, row
  * position), and every range here has a fixed partition count, so a
  * seed always yields the same tables. */
object Tpch {

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val DocVocab: Vector[String] = ("query row stream the spark line small fast group customer " +
    "batch sort value hash filter big data part column order scan a slow agg key window " +
    "table merge vector join").split(" ").toVector

  private def pick(values: Seq[String], r: org.apache.spark.sql.Column) =
    element_at(array(values.map(lit): _*), (r * values.size).cast("int") + 1)

  private def day(start: String, span: Int, r: org.apache.spark.sql.Column) =
    date_add(lit(start).cast("date"), (r * span).cast("int")).cast("timestamp_ntz")

  /** Writes `name.parquet` (a single file) under `dir`. */
  private def save(df: DataFrame, dir: File, name: String): Unit = {
    val tmp = new File(dir, s".$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = new File(dir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.core.Fs.rmTree(tmp)
  }

  /** Generates every table; returns name -> row count. */
  def generate(spark: SparkSession, dir: File, seed: Long, sf: Double): Map[String, Long] = {
    dir.mkdirs()
    val n = Map(
      "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
      "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
      "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
      "documents" -> math.max(500L, (50000 * sf).toLong),
      "embeddings" -> math.max(500L, (20000 * sf).toLong))
    var s = seed * 1000
    def r() = { s += 1; rand(s) }
    def range(k: String) = spark.range(0, n(k), 1, 4)

    save(spark.range(0, 5, 1, 1).select(col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), col("id") / 5.0).as("r_name")),
      dir, "region")
    save(spark.range(0, 25, 1, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")),
      dir, "nation")
    save(range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (r() * 25).cast("int").as("c_nationkey"),
      round(r() * 10999.65 - 999.85, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), r()).as("c_mktsegment")),
      dir, "customer")
    save(range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (r() * 25).cast("int").as("s_nationkey"),
      round(r() * 10999.65 - 999.85, 2).as("s_acctbal")),
      dir, "supplier")
    save(range("part").select(col("id").as("p_partkey"),
      concat(pick(Seq("large", "hot", "blue", "old", "cold", "red", "small", "green"), r()), lit(" "),
        pick(Seq("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"), r())).as("p_name"),
      concat(lit("Brand#"), ((r() * 25).cast("int") + 1)).as("p_brand"),
      pick(Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"), r()).as("p_type"),
      ((r() * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")),
      dir, "part")
    save(range("orders").select(col("id").as("o_orderkey"),
      (r() * n("customer")).cast("long").as("o_custkey"),
      pick(Seq("O", "F", "P"), r()).as("o_orderstatus"),
      round(r() * 498991.27 + 1001.91, 2).as("o_totalprice"),
      day("1995-01-01", 2404, r()).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r()).as("o_orderpriority")),
      dir, "orders")
    val qty = (floor(r() * 50) + 1).cast("double")
    save(range("lineitem").select(
      (r() * n("orders")).cast("long").as("l_orderkey"),
      (r() * n("part")).cast("long").as("l_partkey"),
      (r() * n("supplier")).cast("long").as("l_suppkey"),
      ((r() * 7).cast("int") + 1).as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (r() * 1199.99 + 900.0), 2).as("l_extendedprice"),
      round(r() * 0.1, 2).as("l_discount"),
      round(r() * 0.08, 2).as("l_tax"),
      pick(Seq("N", "R", "A"), r()).as("l_returnflag"),
      pick(Seq("F", "O"), r()).as("l_linestatus"),
      day("1995-01-02", 2498, r()).as("l_shipdate")),
      dir, "lineitem")
    // events: ts ascends with event_id across 30 days
    val step = 30L * 86400L * 1000000L / n("events")
    save(range("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * step + (r() * step).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      (r() * 1500).cast("long").as("user_id"),
      pick(Seq("signup", "purchase", "view", "click", "error"), r()).as("event_type"),
      round(-log(lit(1.0) - r()) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), (r() * 100).cast("int"), lit("}")).as("props")),
      dir, "events")

    // documents and embeddings are small: built in this process
    val dr = new SplittableRandom(seed ^ 0xD0C5L)
    val langs = Vector("en", "en", "en", "zh", "es", "fr", "de")
    val docs = (0L until n("documents")).map { i =>
      val text = (0 until 8 + dr.nextInt(93)).map(_ => DocVocab(dr.nextInt(DocVocab.size))).mkString(" ")
      (i, text, langs(dr.nextInt(langs.size)), s"src${i % 20}")
    }
    // one exact duplicate per 500 documents, marked like the fixtures' own
    val withDups = docs.map { case (i, t, l, src) =>
      val text = if (i % 500 == 499) docs((i - 1).toInt)._2 + " dup" else t
      Row(i, text, l, src, text.length.toLong)
    }
    save(spark.createDataFrame(java.util.Arrays.asList(withDups: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))), dir, "documents")
    val er = new SplittableRandom(seed ^ 0xE3BL)
    val embs = (0L until n("embeddings")).map { i =>
      val v = Array.fill(64)(er.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i, v.map(x => (x / norm).toFloat).toSeq, er.nextInt(10))
    }
    save(spark.createDataFrame(java.util.Arrays.asList(embs: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))), dir, "embeddings")
    n ++ Map("region" -> 5L, "nation" -> 25L)
  }
}
