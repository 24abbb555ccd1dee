package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {
  private def module(qs: Seq[String], os: Seq[String] = Nil, ts: Seq[String] = Nil,
      rs: Seq[String] = Nil): QueryModule =
    new QueryModule {
      val queries: Map[String, Q] =
        qs.map(n => n -> ((_: SparkSession, _: String) => (null: DataFrame))).toMap
      val oracles: Map[String, String] = os.map(n => n -> s"SELECT '$n'").toMap
      override val rowsOnly: Map[String, String] = rs.map(n => n -> s"seeded-rng: $n").toMap
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

  test("registry: a query with neither oracle SQL nor a rows-only reason throws") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a", "b"), os = Seq("a")), module(Seq("c"), rs = Seq("c"))))
    }
    assert(e.getMessage == "requirement failed: neither oracle SQL nor a rows-only reason: b", e.getMessage)
  }

  test("registry: a query with both oracle SQL and a rows-only reason throws") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a", "b"), os = Seq("a", "b"), rs = Seq("b"))))
    }
    assert(e.getMessage == "requirement failed: both oracle SQL and a rows-only reason: b", e.getMessage)
  }

  test("registry: a rows-only reason for a name no module declares throws") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merge(Seq(module(Seq("a"), rs = Seq("a", "gone"))))
    }
    assert(e.getMessage == "requirement failed: rows-only reasons for no registered query: gone", e.getMessage)
  }

  test("registry: the live registry has 30 rows-only queries, every other query has an oracle") {
    val (queries, oracles, rowsOnly) = (SparkEntry.queries, SparkEntry.oracleSql, SparkEntry.rowsOnly)
    assert(queries.size - oracles.size == 30)
    assert(rowsOnly.size == 30)
    assert(queries.keySet -- rowsOnly.keySet == oracles.keySet)
  }

  test("registry: every query Bench always prints is a registered query") {
    val unknown = Bench.headline -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"Bench.headline names no registered query: ${unknown.toSeq.sorted.mkString(", ")}")
  }
}
