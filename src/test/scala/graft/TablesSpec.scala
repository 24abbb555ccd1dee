package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables`' schema catalog and input-spread gate: a hit runs no Spark
  * job, and a rewritten file, a flipped schema conf or a missing path
  * is never answered from the cache. */
class TablesSpec extends SparkSpec {

  /** A fresh dir holding a copy of one sf0.001 table file. */
  private def copyOf(table: String): String = {
    val d = tempDir("tables_spec")
    copyInto(d, table)
    d
  }

  private def copyInto(dir: String, table: String): Unit =
    Files.copy(Paths.get(sf0001, s"$table.parquet"), Paths.get(dir, s"$table.parquet"))

  test("Tables: the first read under a new key infers in one job, the next read runs none") {
    val dir = copyOf("lineitem")
    val (first, firstJobs) = jobsDuring(Tables(spark, dir).lineitem)
    val (second, secondJobs) = jobsDuring(Tables(spark, dir).lineitem)
    assert(firstJobs == 1, s"first read ran $firstJobs jobs")
    assert(secondJobs == 0, s"second read ran $secondJobs jobs")
    assert(first.schema == second.schema)
    assert(first.count() == second.count())
  }

  test("Tables: a table rewritten in place is read with its new schema and rows") {
    val dir = copyOf("region")
    val before = Tables(spark, dir).region
    assert(before.columns.contains("r_name") && before.count() == 5)
    val path = s"$dir/region.parquet"
    Fs.rm(spark, path)
    Fs.writeSingleFile(spark.range(7).selectExpr("id AS k", "id * 2 AS v"), path)
    val after = Tables(spark, dir).region
    assert(after.columns.toSeq == Seq("k", "v"))
    assert(after.count() == 7)
  }

  test("Tables: a schema conf flip is part of the key (binaryAsString)") {
    val dir = tempDir("tables_spec")
    // written by parquet-hadoop, not Spark: a Spark-written file carries
    // its Catalyst schema in the footer, which inference prefers over
    // binaryAsString
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/documents.parquet"))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
    try (0 until 3).foreach(i => w.write(new SimpleGroupFactory(schema).newGroup().append("b", s"v$i")))
    finally w.close()
    def bType(asString: Boolean) =
      SparkSpec.withConf("spark.sql.parquet.binaryAsString" -> asString.toString) {
        Tables(spark, dir).documents.schema("b").dataType
      }
    assert(bType(asString = false) == BinaryType)
    assert(bType(asString = true) == StringType)
    assert(bType(asString = false) == BinaryType)
  }

  test("Tables: a missing path throws Spark's PATH_NOT_FOUND and caches nothing") {
    val dir = tempDir("tables_spec")
    val e = intercept[AnalysisException](Tables(spark, dir).region)
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    copyInto(dir, "region")
    assert(Tables(spark, dir).region.count() == 5)
  }

  test("Tables: rewriting a table from 1 file to defaultParallelism files turns the spread off") {
    val dir = tempDir("tables_spec")
    val path = s"$dir/orders.parquet"
    val orders = Tables(spark, sf0001).orders
    def spreads = Tables(spark, dir).ordersSpread.queryExecution.logical
      .collectFirst { case r: Repartition => r }.isDefined
    orders.repartition(1).write.parquet(path)
    assert(spreads, "a 1-file table must be spread")
    orders.repartition(spark.sparkContext.defaultParallelism).write.mode("overwrite").parquet(path)
    assert(!spreads, "a table with a file per core must not be spread")
  }

  test("Lru: past its bound it drops the least recently used entry, not the oldest") {
    val m = Lru[String, Int](2)
    m.put("a", 1); m.put("b", 2)
    m.get("a")
    m.put("c", 3)
    assert(m.containsKey("a") && !m.containsKey("b") && m.containsKey("c") && m.size == 2)
  }
}
