package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev-only scale sweep (round-9 verdict #1): run the most shuffle-heavy
  * queries at several generated scales and FIT the per-query scaling
  * exponent, so the suite's 100 TB claims rest on measured curvature,
  * not plan-shape argument alone. For timings t_i at multipliers m_i,
  * alpha = log(t_hi/t_lo) / log(m_hi/m_lo) between the two largest
  * scales (the smaller scales are reported for curvature context);
  * alpha ≈ 1 is linear scaling, alpha >> 1 is the super-linear smoking
  * gun the sweep exists to catch. NOT part of the shipped library.
  *
  * Usage: Test/runMain graft.tools.ScaleSweep <m1>=<dir1> <m2>=<dir2> ...
  * Env: SPARK_GRAFT_ONLY (regex), SPARK_GRAFT_ITERS (default 2),
  *      SPARK_GRAFT_CPUS (default: every core).
  * Writes scale_sweep.json in the cwd.
  */
object ScaleSweep {

  /** The shuffle-heaviest families per the round-8 bench, plus the CC
    * family and the three biggest TPC-DS shapes (verdict #1's list). */
  private val defaultQueries = Seq(
    "dedup_containment", "dedup_cross_source", "split_leakage_safe",
    "pipe_exact_substr", "pipe_overlap_frac",
    "corpus_clean_neardup", "dedup_cluster_cc", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "ds_q14_cross_items",
    "ds_q23_frequent_items", "ds_q36_margin_rank", "q18_large_volume",
    "events_sessionize", "sim_ivf_topk",
    // round-10: API-DEFAULT variants (no sizing flags — these measure
    // what a plain-API caller gets since the adaptive flip became the
    // default) plus the previously-unswept hot families (verdict #6).
    // The REGISTERED dedup_embed_cosine / dedup_semantic entries pin
    // explicit 6-bit / 16-cell shapes for DuckDB oracle replay and are
    // quadratic by construction (measured alpha 1.91 / 1.59 in the r9
    // sweep) — excluded from the default set; probe them via
    // SPARK_GRAFT_ONLY when re-demonstrating the pathology.
    "dedup_embed_cosine_default", "dedup_semantic_default",
    "sim_hard_negatives_default",
    "pipe_bpe_tokenize", "pipe_unigram_tokenize", "dedup_lines",
    // round-11: the TPC-DS heavy-tail trio (verdict #2) + the two
    // batch-7 shapes — the planner stress-tests must scale like the
    // plans argue (q64 one fact pass, q72 two, q95 one)
    "ds_q64_rebuy_chain", "ds_q72_inventory_gap", "ds_q95_double_exists",
    "ds_q45_disjunct_exists", "ds_q70_rollup_rank",
    // round-15: the R19 full-fact external sort — expected alpha ~1
    // (n log n: range exchange + per-partition sorts)
    "rel_sort_external")

  /** Sweep-only variants calling the library API with NO sizing flags:
    * verifies the round-10 adaptive defaults hold the measured-linear
    * behavior without any caller opt-in. */
  private val extraQueries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    Map(
      "dedup_embed_cosine_default" -> ((s, dir) =>
        Similarity.embedDedup(s, graft.Tables(s, dir).embeddings, 0.3)
          .orderBy("vec_id")),
      "dedup_semantic_default" -> ((s, dir) =>
        Similarity.semanticDedup(s, graft.Tables(s, dir).embeddings, 0.3)
          .orderBy("vec_id")),
      "sim_hard_negatives_default" -> ((s, dir) =>
        Similarity.hardNegatives(s, graft.Tables(s, dir).embeddings, 5)
          .orderBy("anchor", "rk")))
  }

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val scales = args.map { a =>
      val Array(m, dir) = a.split("=", 2); (m.toDouble, dir)
    }.sortBy(_._1)
    require(scales.length >= 2, "need at least two <mult>=<dir> args")
    val cpus = graft.GraftSession.cpus
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val spark = graft.GraftSession.build("scale-sweep")
    graft.SparkEntry.entry(spark).count() // session warmup, untimed
    val queries = defaultQueries
      .filter(q => only.forall(_.findFirstIn(q).isDefined))
      .flatMap(q => graft.SparkEntry.queries.get(q).orElse(extraQueries.get(q)).map(q -> _))
    // query-major order: each query's scale series runs back to back on
    // an identically-warm session, so the RATIO between scales is clean
    // even when absolute numbers carry co-tenant noise.
    val results = queries.map { case (name, fn) =>
      val times = scales.map { case (m, dir) =>
        val ts = graft.RunStep(spark, dir, name) {
          (1 to iters).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              System.err.println(s"[sweep] $name@$m FAILED: ${String.valueOf(e.getMessage).take(200)}")
              None
            }
          }
        }
        // min over iters: co-tenant stalls only ever ADD time, so the
        // min is the best estimate of the query's intrinsic cost
        if (name == "dedup_cluster_cc") // r12 drift diagnosis: attribute
          println(s"[sweep] cc m=$m (rounds, residual)=${graft.pipeline.Cluster.lastStats}")
        (m, if (ts.isEmpty) -1.0 else ts.min)
      }
      val ok = times.filter(_._2 > 0)
      val alpha =
        if (ok.length >= 2) {
          val (mLo, tLo) = ok(ok.length - 2); val (mHi, tHi) = ok.last
          math.log(tHi / tLo) / math.log(mHi / mLo)
        } else Double.NaN
      println(s"[sweep] $name  " +
        times.map { case (m, t) => s"m=$m:${if (t < 0) "FAIL" else fmt(t) + "s"}" }.mkString("  ") +
        s"  alpha=${fmt(alpha)}")
      (name, times, alpha)
    }
    val json = results.map { case (name, times, alpha) =>
      s""""$name":{"times":{${times.map { case (m, t) => s""""$m":${fmt(t)}""" }.mkString(",")}},"alpha":${fmt(alpha)}}"""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_sweep.json"),
      (s"""{"iters":$iters,"cpus":"$cpus","scales":${scales.map(_._1).mkString("[", ",", "]")},""" +
        s""""queries":$json}""").getBytes("UTF-8"))
    println("[sweep] wrote scale_sweep.json")
    spark.stop()
  }
}
