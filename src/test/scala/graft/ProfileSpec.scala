package graft

import graft.tools.Profile

/** The whole-registry profile's record of one query at sf0.001. */
class ProfileSpec extends SparkSpec {

  private def profiled(name: String): Profile.Record = {
    val p = new Profile(spark)
    try p.query(sf0001, name) match {
      case r: Profile.Record => r
      case f => fail(s"$name: $f")
    } finally p.close()
  }

  test("Profile: a sorting broadcast-join query records its jobs, one-partition sort, broadcast builds and stage tasks") {
    val r = profiled("q12_priority_by_linestatus")
    assert(r.jobs >= 1)
    assert(r.ranges.contains("ENSURE_REQUIREMENTS:1"), r.ranges)
    assert(r.broadcasts.nonEmpty, r.planFinal)
    assert(r.broadcasts.forall(b => b.dataSizeBytes > 0 && Seq(b.collectMs, b.buildMs, b.broadcastMs).forall(_ >= 0)),
      r.broadcasts)
    assert(r.stages.nonEmpty && r.stages.map(_.tasks).sum == r.tasks, r.stages)
    assert(r.planFinal.contains("isFinalPlan=true"), r.planFinal)
  }

  test("Profile: corpus_clean's record carries the corpus_gates observed metrics") {
    val m = profiled("corpus_clean").observed.getOrElse("corpus_gates", fail("no corpus_gates"))
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
    val drops = Seq("dropped_len", "dropped_words", "dropped_stop", "dropped_lang").map(m).sum
    assert(m("kept") > 0 && m("after_dedup") == m("kept") + drops, m)
  }
}
