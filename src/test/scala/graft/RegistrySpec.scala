package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  private def module(qs: Seq[String], os: Seq[String] = Nil, ts: Seq[String] = Nil): QueryModule =
    new QueryModule {
      val queries: Map[String, Q] =
        qs.map(n => n -> ((_: SparkSession, _: String) => (null: DataFrame))).toMap
      val oracles: Map[String, String] = os.map(n => n -> s"SELECT '$n'").toMap
      override val tmp: Map[String, Seq[TmpPath]] = ts.map(n => n -> Seq(new TmpPath(n))).toMap
    }

  test("registry: a query name declared by two modules throws instead of keeping one") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a", "dup")), module(Seq("b", "dup"))))
    }
    assert(e.getMessage.endsWith(": dup"), e.getMessage)
  }

  test("registry: oracle SQL for a name no module declares throws") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a"), Seq("a")), module(Seq("b"), Seq("orphan"))))
    }
    assert(e.getMessage.contains("orphan"), e.getMessage)
  }

  test("registry: a /tmp path declared for a name no module declares throws") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a"), ts = Seq("a")), module(Seq("b"), ts = Seq("gone"))))
    }
    assert(e.getMessage.endsWith(": gone"), e.getMessage)
  }
}
