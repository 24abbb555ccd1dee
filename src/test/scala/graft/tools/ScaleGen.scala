package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale-series generator for the sf1.0 sweep (round-9 verdict
  * #1): produces tables with the SAME schema and value domains as the
  * driver's TESTDATA parquet (probed from /root/testdata/sf0.1 — langs,
  * sources, segment/priority/flag vocabularies, numeric ranges, ~2%
  * planted near-dup and ~0.16% exact-dup document rates), at any size
  * multiplier, WITHOUT touching /root/testdata. Everything derives
  * row-locally from xxhash64(id, salt), so
  *  - generation is one `spark.range` scan per table (no shuffle, no
  *    driver data, any parallelism), and
  *  - the series is SUBSET-STABLE: the m=1 tables are literally the
  *    first rows of the m=10 tables, which makes cross-SF timing ratios
  *    attributable to volume, not distribution drift.
  * The sweep measures scaling EXPONENTS between two generated sizes, so
  * what matters is that both sizes come from the same distribution —
  * which this guarantees by construction. NOT part of the shipped
  * library (test tree, dev tooling).
  *
  * Usage: Test/runMain graft.tools.ScaleGen <outDir> <multiplier>
  * (multiplier 1.0 == the sf0.1 gate scale: 600k lineitem, 5k docs)
  */
object ScaleGen {

  private val vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "a", "the", "join", "vector", "customer", "view", "click")

  private def vocabLit = array(vocab.map(lit): _*)

  /** Uniform integer in [0, n) from the row's id and a salt. */
  private def h(idCol: String, salt: Int, n: Long) =
    pmod(xxhash64(col(idCol), lit(salt)), lit(n))

  def documents(spark: SparkSession, n: Long): DataFrame = {
    // Heaps-law long tail — LOAD-BEARING for the scale sweep: with a
    // fixed vocabulary, per-gram document frequency grows linearly with
    // the corpus and every df-bounded index (containment buckets,
    // jaccard bands) does quadratically more in-bucket work — a regime
    // NO real corpus exhibits (vocabulary grows ~n^0.7, Heaps 1978; the
    // first sweep run measured exactly this artifact: avg gram df
    // 5.3→52 across 10×, alpha 1.87 on dedup_containment). 35% of word
    // positions draw from a tail whose size scales as (total words)^0.7
    // so the gram df distribution stays scale-stable like real text.
    val tailSize = math.max(1000L, math.round(math.pow(n * 37.0, 0.7)))
    spark.range(0, n, 1, 32).toDF("doc_id")
      // exact dups (~0.16%) and near-dups (~2%) point at an earlier BASE
      // doc; text is a pure function of the base id, so the copy is
      // computed row-locally without reading the neighbor's row.
      .withColumn("bid",
        when(col("doc_id") % 625 === 2, col("doc_id") - 2)
          .when(col("doc_id") % 50 === 1, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("len", lit(15) + h("bid", 1, 45))
      .withColumn("text", concat(
        array_join(transform(sequence(lit(0), col("len") - 1),
          i => when(pmod(xxhash64(col("bid"), lit(400) + i), lit(100)) < 65,
            element_at(vocabLit,
              (pmod(xxhash64(col("bid"), lit(100) + i), lit(32)) + 1).cast("int")))
            .otherwise(concat(lit("w"),
              pmod(xxhash64(col("bid"), lit(500) + i), lit(tailSize))))), " "),
        // near-dups differ from their base by ONE appended word
        when(col("doc_id") % 50 === 1 && col("doc_id") % 625 =!= 2, lit(" extra"))
          .otherwise(lit(""))))
      .withColumn("u", h("doc_id", 2, 100))
      .withColumn("lang",
        when(col("u") < 41, "en").when(col("u") < 56, "de")
          .when(col("u") < 71, "fr").when(col("u") < 86, "es").otherwise("zh"))
      .withColumn("source", concat(lit("src"), h("doc_id", 3, 20)))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    spark.range(0, n, 1, 32).toDF("vec_id")
      .withColumn("bid",
        when(col("vec_id") % 40 === 1, col("vec_id") - 1).otherwise(col("vec_id")))
      // base components uniform in [-1, 1]; near-dups add a ±0.001
      // per-dimension jitter so cosine stays ≈ 1 but bits differ
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(col("bid"), lit(200) + j), lit(2001)) - 1000).cast("double") / 1000.0 +
          when(col("vec_id") =!= col("bid"),
            (pmod(xxhash64(col("vec_id"), lit(300) + j), lit(21)) - 10).cast("double") / 10000.0)
            .otherwise(lit(0.0))).cast("float")))
      .withColumn("label", h("vec_id", 4, 10).cast("int"))
      .select("vec_id", "embedding", "label")
  }

  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nParts: Long,
               nSupps: Long): DataFrame = {
    spark.range(0, n, 1, 32).toDF("id")
      .select(
        h("id", 10, nOrders).as("l_orderkey"),
        h("id", 11, nParts).as("l_partkey"),
        h("id", 12, nSupps).as("l_suppkey"),
        (h("id", 13, 7) + 1).cast("int").as("l_linenumber"),
        (h("id", 14, 50) + 1).cast("double").as("l_quantity"),
        (lit(900.0) + h("id", 15, 10410000).cast("double") / 100.0).as("l_extendedprice"),
        (h("id", 16, 11).cast("double") / 100.0).as("l_discount"),
        (h("id", 17, 9).cast("double") / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h("id", 18, 3) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (h("id", 19, 2) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(788918400L) + h("id", 20, 2160) * 86400L).as("l_shipdate"))
  }

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame = {
    spark.range(0, n, 1, 32).toDF("o_orderkey")
      .select(col("o_orderkey"),
        h("o_orderkey", 30, nCust).as("o_custkey"),
        element_at(array(lit("O"), lit("P"), lit("F")),
          (h("o_orderkey", 31, 3) + 1).cast("int")).as("o_orderstatus"),
        (lit(1000.0) + h("o_orderkey", 32, 49900000).cast("double") / 100.0).as("o_totalprice"),
        timestamp_seconds(lit(788918400L) + h("o_orderkey", 33, 2400) * 86400L).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (h("o_orderkey", 34, 5) + 1).cast("int")).as("o_orderpriority"))
  }

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 32).toDF("c_custkey")
      .select(col("c_custkey"),
        format_string("Customer#%09d", col("c_custkey")).as("c_name"),
        h("c_custkey", 40, 25).cast("int").as("c_nationkey"),
        (lit(-999.0) + h("c_custkey", 41, 1099900).cast("double") / 100.0).as("c_acctbal"),
        element_at(array(lit("MACHINERY"), lit("AUTOMOBILE"), lit("HOUSEHOLD"),
          lit("BUILDING"), lit("FURNITURE")),
          (h("c_custkey", 42, 5) + 1).cast("int")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 32).toDF("s_suppkey")
      .select(col("s_suppkey"),
        format_string("Supplier#%09d", col("s_suppkey")).as("s_name"),
        h("s_suppkey", 50, 25).cast("int").as("s_nationkey"),
        (lit(-999.0) + h("s_suppkey", 51, 1099900).cast("double") / 100.0).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame = {
    val adjs = array(Seq("large", "hot", "blue", "old", "cold", "red",
      "dim", "new").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "plate", "screw", "wheel",
      "case").map(lit): _*)
    spark.range(0, n, 1, 32).toDF("p_partkey")
      .select(col("p_partkey"),
        concat(element_at(adjs, (h("p_partkey", 60, 8) + 1).cast("int")), lit(" "),
          element_at(nouns, (h("p_partkey", 61, 6) + 1).cast("int"))).as("p_name"),
        concat(lit("Brand#"), h("p_partkey", 62, 25) + 1).as("p_brand"),
        element_at(array(lit("ECONOMY"), lit("LARGE"), lit("MEDIUM"),
          lit("PROMO"), lit("SMALL"), lit("STANDARD")),
          (h("p_partkey", 63, 6) + 1).cast("int")).as("p_type"),
        (h("p_partkey", 64, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + h("p_partkey", 65, 1000).cast("double") / 10.0).as("p_retailprice"))
  }

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame =
    spark.range(0, n, 1, 32).toDF("event_id")
      .select(col("event_id"),
        timestamp_seconds(lit(1704067200L) + h("event_id", 70, 2592000)).as("ts"),
        h("event_id", 71, nUsers).as("user_id"),
        element_at(array(lit("purchase"), lit("signup"), lit("click"),
          lit("error"), lit("view")),
          (h("event_id", 72, 5) + 1).cast("int")).as("event_type"),
        (h("event_id", 73, 56021).cast("double") / 100.0).as("value"),
        format_string("{\"k\": %d}", h("event_id", 74, 100)).as("props"))

  def generate(spark: SparkSession, outDir: String, m: Double): Unit = {
    def rows(base: Long): Long = math.max(1L, math.round(base * m))
    val nCust = rows(15000); val nParts = rows(20000); val nSupps = rows(1000)
    val nOrders = rows(150000)
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name -> $outDir/$name.parquet")
    }
    write("documents", documents(spark, rows(5000)))
    write("embeddings", embeddings(spark, rows(2000)))
    write("lineitem", lineitem(spark, rows(600000), nOrders, nParts, nSupps))
    write("orders", orders(spark, nOrders, nCust))
    write("customer", customer(spark, nCust))
    write("supplier", supplier(spark, nSupps))
    write("part", part(spark, nParts))
    write("events", events(spark, rows(100000), rows(1500)))
    // fixed dims: identical content at every scale, same as TPC-H
    write("nation", spark.range(0, 25, 1, 1).toDF("k")
      .select(col("k").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("k")).as("n_name"),
        (col("k") % 5).cast("int").as("n_regionkey")))
    write("region", spark.range(0, 5, 1, 1).toDF("k")
      .select(col("k").cast("int").as("r_regionkey"),
        element_at(array(lit("AFRICA"), lit("AMERICA"), lit("ASIA"),
          lit("EUROPE"), lit("MIDDLE EAST")), (col("k") + 1).cast("int")).as("r_name")))
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, mult) = args.take(2)
    val spark = graft.GraftSession.build("scale-gen")
    generate(spark, outDir, mult.toDouble)
    spark.stop()
  }
}
