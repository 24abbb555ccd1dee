package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.functions.VectorAvg
import graft.operators.AsOfJoin

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("E10 boundary: session_window merges an event landing EXACTLY at last+gap") {
    // sf0.1 certified this for real (user 511, consecutive events
    // 1800 s apart merged into one session); pin it so the oracle's
    // strictly-greater split rule can never silently drift back to >=
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 1000L), (1L, 2800L), (1L, 4601L)).toDF("user_id", "s")
      .select(col("user_id"), timestamp_seconds(col("s")).as("tss"))
      .groupBy(col("user_id"), session_window(col("tss"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("n")).collect().map(_.getLong(0)).sorted.toSeq
    // 1000 and 2800 (= +1800, touching) merge; 4601 (= +1801) does not
    assert(df == Seq(1L, 2L), df.toString)
  }

  test("R14: inline relations — createDataset, toDF, SQL VALUES") {
    val ds = Seq((1, "a"), (2, "b")).toDS()
    assert(ds.count() == 2)
    val viaSql = spark.sql("SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(id, name)")
    assert(viaSql.where($"name" === "b").head.getInt(0) == 2)
  }

  test("as-of join picks the latest right row at or before each left ts") {
    val left = Seq((1L, 10L, 100L), (1L, 20L, 101L), (2L, 5L, 102L))
      .toDF("user_id", "sec", "event_id")
    val right = Seq((1L, 8L, 1.5), (1L, 15L, 2.5), (1L, 20L, 3.5), (3L, 1L, 9.9))
      .toDF("user_id", "sec", "view_value")
    val out = AsOfJoin.asof(left, right, "user_id", "sec", Seq("view_value"))
      .orderBy("user_id", "sec").collect()
    // (1,10)→1.5 (latest ≤10); (1,20)→3.5 (equal ts included); (2,5)→null
    assert(out(0).getAs[Double]("view_value") == 1.5)
    assert(out(1).getAs[Double]("view_value") == 3.5)
    assert(out(2).isNullAt(out(2).fieldIndex("view_value")))
  }

  test("as-of join returns NULL when the latest right row's payload value is NULL") {
    val left = Seq((1L, 25L, 100L)).toDF("user_id", "sec", "event_id")
    val right = Seq((1L, 10L, Some(1.5)), (1L, 20L, None))
      .toDF("user_id", "sec", "vv")
    val got = AsOfJoin.asof(left, right, "user_id", "sec", Seq("vv")).collect().head
    // latest right row at ts=20 has NULL vv: must NOT resurrect 1.5
    assert(got.isNullAt(got.fieldIndex("vv")), got.toString)
  }

  test("custom AsOfJoinExec physical operator agrees with the composed as-of join") {
    val ev = graft.Tables(spark, sf0001).events
      .select(col("user_id"), expr("ts div 1000000000").as("sec"),
        col("event_id"), col("event_type"), col("value"))
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("sec"), col("event_id"))
    val right = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("sec").as("vs"), col("value").as("vv"))
      .groupBy("user_id", "vs").agg(max("vv").as("vv"))
      .withColumnRenamed("vs", "sec")
    val a = AsOfJoin.asof(left, right, "user_id", "sec", Seq("vv"))
      .orderBy("user_id", "sec", "event_id").collect()
    val b = AsOfJoin.asofPhysical(left, right, "user_id", "sec", Seq("vv"))
      .orderBy("user_id", "sec", "event_id").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // and the plan really uses the custom node
    val plan = AsOfJoin.asofPhysical(left, right, "user_id", "sec", Seq("vv"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
  }

  test("X3: typed VectorAvg aggregator computes element-wise means with partial agg") {
    // the empty vector must not count toward the mean (it carries no
    // elements; counting it would bias every component toward zero)
    val emb = Seq((7, Array(1f, 3f)), (7, Array(3f, 5f)), (7, Array.empty[Float]),
        (8, Array(10f, 10f)))
      .toDF("label", "embedding")
    val out = emb.groupBy("label").agg(VectorAvg.of(col("embedding")).as("centroid"))
      .orderBy("label").collect()
    assert(out(0).getAs[scala.collection.Seq[Float]]("centroid").toSeq == Seq(2f, 4f))
    assert(out(1).getAs[scala.collection.Seq[Float]]("centroid").toSeq == Seq(10f, 10f))
  }

  test("runtime bloom filter join (Impala runtime-filter parity)") {
    SparkSpec.withConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
        "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
        // tiny test tables: drop the probe-side size gate and forbid
        // broadcast so the rule (which skips broadcast joins) can fire
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      val o = spark.read.parquet(s"$sf0001/orders.parquet")
        .filter(col("o_totalprice") > 450000.0)
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      // the probe side gets a might_contain(bloom) filter pushed in
      assert(plan.contains("might_contain") || plan.contains("bloom"),
        s"no runtime bloom filter in plan:\n${plan.take(2000)}")
      assert(j.count() > 0)
    }
  }

  test("TABLESAMPLE: seeded sample is deterministic and near the target fraction") {
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    val n = o.count()
    // drive the registered query itself so the spec tracks its params
    val q = graft.operators.FunctionQueries2.queries("rel_tablesample")
    val s1 = q(spark, sf0001).count()
    val s2 = q(spark, sf0001).count()
    assert(s1 == s2)
    assert(s1 > n / 20 && s1 < n / 5, s"sampled $s1 of $n")
  }

  test("S7: bucketed tables join without a shuffle exchange") {
    val wh = tempDir("graft_wh")
    try SparkSpec.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      val customer = spark.read.parquet(s"$sf0001/customer.parquet")
      orders.write.mode(SaveMode.Overwrite)
        .bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      customer.write.mode(SaveMode.Overwrite)
        .bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")
      val j = spark.table("orders_b")
        .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(j.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
