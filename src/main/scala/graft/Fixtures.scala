package graft

import org.apache.spark.sql.SparkSession

/** Per-query /tmp hooks for bench loops, derived from each module's
  * [[QueryModule.tmp]] declarations.
  *
  * Bench, the benchmark harness and the dev tools call [[prepare]]
  * before a query's iterations and [[cleanup]] after them. Two
  * problems, one mechanism:
  *
  * 1. Fixture writes inside timed iterations. A [[Fixture]] is a query
  *    INPUT — the measured plan is its read path — so [[prepare]]
  *    builds the query's fixtures untimed, and the query's own
  *    `ensure` calls then hit the per-JVM memo.
  * 2. Accumulated /tmp writeback. Each query's written state left in
  *    /tmp bleeds its page-cache writeback into whichever queries run
  *    next. [[cleanup]] drops every per-JVM path the query declared right after
  *    its iterations — deleting dirty pages also cancels their pending
  *    writeback. A fixture several queries read is rebuilt, untimed, by
  *    the next one's [[prepare]].
  *
  * Verify calls neither: its queries build their fixtures on first use,
  * and it drops the per-JVM paths once its results are written.
  */
object Fixtures {
  type Hook = (SparkSession, String) => Unit

  /** Untimed build of each query's write-once inputs. */
  val prepare: Map[String, Hook] = SparkEntry.tmpPaths.flatMap { case (name, paths) =>
    val fixtures = paths.collect { case f: Fixture => f }
    if (fixtures.isEmpty) None
    else Some(name -> ((s: SparkSession, d: String) => fixtures.foreach(_.ensure(s, d))))
  }

  /** Deletion of the per-JVM paths the query reads or writes under
    * /tmp. Static paths stay, as in Verify: the DuckDB oracle reads them
    * after the writing JVM exits, so a bench run beside a replay must
    * not delete them. */
  val cleanup: Map[String, Hook] = SparkEntry.tmpPaths.map { case (name, paths) =>
    name -> ((s: SparkSession, d: String) => paths.filter(_.perJvm).foreach(_.drop(s, d)))
  }
}
