package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The per-query step every registry loop runs. */
class RunStepSpec extends SparkSpec {

  test("RunStep: a failed prepare or cleanup is printed with the query's name, the next query runs, and each query ends swept") {
    val names = Seq("run_step_a", "run_step_b")
    def failing(what: String): Map[String, Fixtures.Hook] = names.map(n =>
      n -> ((_: SparkSession, _: String) => throw new IllegalStateException(s"$what hook of $n"))).toMap
    val step = new RunStep(failing("prepare"), failing("cleanup"))
    val err = new java.io.ByteArrayOutputStream
    val ran = Console.withErr(err) {
      names.map { name =>
        val (rdd, df) = step(spark, sf0001, name) {
          val rdd = spark.range(10).rdd.persist()
          val df = spark.range(5).toDF("id").cache()
          rdd.count(); df.count()
          (rdd, df)
        }
        assert(rdd.getStorageLevel == StorageLevel.NONE && spark.sparkContext.getPersistentRDDs.isEmpty,
          s"$name left persisted RDDs")
        assert(df.storageLevel == StorageLevel.NONE, s"$name left a cached plan")
        name
      }
    }
    assert(ran == names)
    val printed = err.toString
    for (n <- names; what <- Seq("prepare", "cleanup"))
      assert(printed.contains(s"[run] $n fixture $what failed") && printed.contains(s"$what hook of $n"), printed)
  }
}
