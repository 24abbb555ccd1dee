package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Each query is fully evaluated through the
  * `noop` sink — `count()` would let Catalyst prune unreferenced
  * projections, under-measuring select-heavy queries — and run once
  * untimed (warm-up) then SPARK_GRAFT_ITERS times (default 3) keeping
  * the median, so neither cold state nor one co-tenant hiccup
  * masquerades as a regression; `min_times` + per-iteration `iter_load1m`
  * in bench_full make residual noise machine-attributable.
  *
  * Output contract: ONE compact JSON line on stdout whose `queries` map
  * carries the headline (TPC-H + flagship pipeline) timings. The full
  * per-query map for all ~130 queries is written to `bench_full.json` —
  * the harness that reads stdout captures only the last ~2000 chars of
  * output, and a 130-entry map cannot fit in that window.
  *
  * Failure semantics: `failed` lists only queries whose EVERY iteration
  * threw; a query that failed some-but-not-all iterations appears in
  * `flaky` (with its successful-iteration median still reported), so
  * downstream consumers can tell broken from flaky. All-failed queries
  * are omitted from the `queries` map rather than carrying a -1 sentinel.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_ITERS,
  * SPARK_GRAFT_ONLY (regex over query names, for local iteration).
  */
object Bench {
  /** Queries ALWAYS reported inline on stdout: the TPC-H/TPC-DS
    * headliners plus one flagship per pipeline family. The printed set
    * is this list UNION the top-10 most expensive queries of the
    * current run — a hand-picked list alone let sim_ivf_topk (#2 in
    * the whole suite) and ds_q4_growth_ratio (#3) go unheadlined for
    * six rounds. Everything still RUNS and counts toward `value`; this
    * only bounds the printed map's size. RegistrySpec checks that every
    * name here is a registered query, so a rename cannot drop one from
    * the printed set unnoticed. */
  private[graft] val headline: Set[String] = Set(
    "q01_pricing_summary", "q03_shipping_priority", "q04_order_priority",
    "q05_local_supplier",
    "q06_forecast_revenue", "q07_volume_shipping", "q08_market_share",
    "q09_product_profit", "q10_returned_items", "q13_customer_distribution",
    "q15_top_supplier", "q16_supplier_count", "q17_small_quantity",
    "q18_large_volume", "q19_discount_revenue", "q21_multi_supplier_orders",
    "q22_dormant_customers", "ds_q59_yoy_nation", "ds_q67_rollup_topn",
    "ds_q49_return_rank", "ds_q23_frequent_items", "ds_q14_cross_items",
    "ds_cte_chain", "ds_except_set", "ds_q4_growth_ratio",
    "corpus_clean_neardup", "dedup_ngram_jaccard", "dedup_embed_cosine",
    "dedup_minhash_lsh", "dedup_cluster_cc", "dedup_semantic",
    "dedup_incremental_lsh", "text_gopher_rules", "ds_q47_moving_avg",
    "sim_lsh_topk", "sim_ivf_topk", "sim_ivf_persisted", "sim_pq_topk",
    "sim_quantize_int8", "corpus_clean", "text_quality", "pipe_chunking",
    "stats_table", "asof_join_events", "events_sessionize",
    "win_topn_per_group", "layout_zorder",
    "src_nested_parquet", "src_avro_roundtrip", "src_iceberg_roundtrip",
    // round-8 families, pinned for round-over-round tracking
    "ds_q5_channel_rollup", "ds_q17_stats_chain", "ds_q65_cheap_items",
    "ds_q75_yoy_decline", "ds_q97_purchase_overlap", "text_c4_rules",
    "pipe_temperature_mix", "sim_pq_persisted", "agg_sketch_str",
    "dedup_incremental_indexed",
    "ds_q6_above_avg_price", "ds_q9_quantity_buckets", "ds_q62_ship_latency",
    "ds_q90_time_ratio", "ds_q85_return_profile", "pipe_epoch_upsample",
    // round-11 heavy-tail shapes, pinned for round-over-round tracking
    "ds_q64_rebuy_chain", "ds_q72_inventory_gap", "ds_q95_double_exists",
    "ds_q70_rollup_rank", "src_hudi_ro", "src_mixed_formats",
    "src_iceberg_merge",
    // round-8 continuation families
    "ds_q32_excess_discount", "ds_q2_wow_pivot", "ds_q44_best_worst",
    "ds_q38_customer_overlap", "ds_q94_unreturned_orders",
    "dedup_lines", "dedup_containment", "pipe_unigram_tokenize",
    "mm_image_phash", "text_heavy_hitters", "split_leakage_audit",
    "src_iceberg_cdc", "src_iceberg_partitions", "m5_dynamic_overwrite",
    "asof_join_forward", "events_interarrival",
    // round-8 third-session families
    "text_gopher_repetition", "pipe_pack_bfd", "corpus_data_card",
    "pipe_overlap_frac", "src_iceberg_incremental", "events_transitions",
    "events_session_native", "sample_weighted", "split_leakage_safe",
    // round-9 families
    "sim_hard_negatives", "corpus_version_diff", "pipe_token_fertility",
    "text_vocab_growth")

  // Locale.ROOT: the default-locale format would emit comma decimals
  // ("1,234") under e.g. a de_DE JVM, corrupting the JSON contract.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val spark = GraftSession.build("graft-bench")
    // Warm up the session once (codegen compiler, shuffle machinery,
    // file-source listing) so first-query numbers measure the query,
    // not JVM startup.
    SparkEntry.entry(spark).count()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    // Join-operator signature of a query's (pre-AQE) physical plan:
    // a 6.4x regression on untouched code (q03, round 6) was
    // undiagnosable from the artifact because nothing recorded whether
    // a join's build side flipped broadcast <-> shuffle between
    // rounds. Planning only — the query is not executed again.
    def joinSig(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[String] =
      try fn(spark, sfDir).queryExecution.sparkPlan.collect {
        case p if p.nodeName.contains("Join") => p.nodeName
      } catch { case _: Throwable => Nil }
    val runs = selected.map { case (name, fn) =>
      RunStep.around(spark, sfDir, name) {
        // One UNTIMED warm-up iteration (r9 verdict #4): a cold first
        // iteration (file listing, codegen, page cache) in the median
        // window of 3 swung medians up to 15x off steady state. A
        // warm-up failure is reported by the timed loop, identically.
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
        // The 1-minute load average at each iteration's start, sampled
        // with its time so iter_load1m stays aligned with iter_times when
        // an iteration fails: a slow iteration under high load is
        // co-tenant contamination, not a regression (r9 #4, r10 review).
        val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        var err: String = null
        (1 to iters).map { _ =>
          val load = osBean.getSystemLoadAverage
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (load, Some((System.nanoTime() - t0) / 1e9))
          } catch { case e: Throwable =>
            if (err == null) {
              err = String.valueOf(e.getMessage).take(200)
              System.err.println(s"[bench] $name FAILED: $err")
            }
            (load, None)
          }
        }
      } { samples =>
        // Iterations share a warm cache (persist() is part of a query's
        // plan); the step's sweep has cleared it. The join signature is
        // planned now, before the step's cleanup deletes the inputs of a
        // fixture-backed query, for headliners and anything >= 0.8 s
        // (every query a dynamic top-10 could select).
        val times = samples.flatMap(_._2)
        val median =
          if (times.isEmpty) None else Some(times.sorted.apply(times.length / 2))
        val joins =
          if (median.exists(m => m >= 0.8 || headline.contains(name))) joinSig(fn) else Nil
        (name, median, times, joins, samples.collect { case (l, Some(_)) => l })
      }
    }
    val failed = runs.collect { case (n, None, _, _, _) => n }
    val flaky = runs.collect { case (n, Some(_), ts, _, _) if ts.length < iters => n }
    val ok = runs.collect { case (n, Some(t), _, _, _) => n -> t }
    val total = ok.map(_._2).sum
    def mapJson(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def listJson(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-iteration times (in run order) for every query: a slow median
    // with iter1 slow / iter2-3 fast is a cold-state signature (cache,
    // file listing, JIT); all-iterations-slow is sustained plan cost.
    // The round-4/5 local-vs-driver divergence on ds_cte_chain was
    // undiagnosable from a median alone — this makes the artifact
    // self-explaining.
    val iterJson = runs.collect { case (n, _, ts, _, _) if ts.nonEmpty =>
      "\"" + n + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Per-iteration load1m, aligned with iter_times: contamination is
    // machine-attributable per iteration, not just at exit (r9 #4).
    val loadJson = runs.collect { case (n, _, _, _, ls) if ls.nonEmpty =>
      "\"" + n + "\":" + ls.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // min alongside median: the min of warm iterations is the best
    // steady-state estimate on a noisy box — a median far above its own
    // min flags co-tenant interference in the artifact itself.
    val minJson = runs.collect { case (n, _, ts, _, _) if ts.nonEmpty =>
      "\"" + n + "\":" + fmt(ts.min)
    }.mkString("{", ",", "}")
    // Join-operator signatures (headliners + anything >= 0.8 s): a
    // round-over-round diff of these shows broadcast <-> shuffle plan
    // flips directly in the artifact.
    val plansJson = runs.collect { case (n, _, _, js, _) if js.nonEmpty =>
      "\"" + n + "\":" + js.map("\"" + _ + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${mapJson(ok)},""" +
        s""""min_times":$minJson,"iter_times":$iterJson,"iter_load1m":$loadJson,"plans":$plansJson,""" +
        s""""ok_iters":${ok.map { case (k, _) => "\"" + k + "\":" + runs.find(_._1 == k).get._3.length }.mkString("{", ",", "}")},""" +
        s""""failed":${listJson(failed)},"flaky":${listJson(flaky)},"iters":$iters,"warmup":1,"cpus":"$cpus","sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      full.getBytes("UTF-8"))
    // Per-round ARCHIVED copy (r9 verdict #5): bench_full.json is a
    // single mutable path any later Bench invocation clobbers — the r9
    // driver record was lost to exactly that. The archive name comes
    // from SPARK_GRAFT_ROUND when the driver exports it, else from the
    // newest CORRECTNESS_r{N}.json + 1 (the artifact the PREVIOUS round
    // closed with, so an unset env still stamps the current round).
    // Archive protection (r13 verdict #2 — a 2-query SPARK_GRAFT_ONLY
    // A/B run clobbered the r12 archive): a FILTERED run never
    // archives (it is not a round record; A/B output belongs in
    // bench_control_*.json), and a full run never overwrites an
    // existing archive that covers MORE queries than it does.
    val roundTag = sys.env.get("SPARK_GRAFT_ROUND").map(r => s"r$r")
      .getOrElse {
        val pat = "CORRECTNESS_r(\\d+)\\.json".r
        val prev = Option(new java.io.File(".").list()).toSeq.flatten.collect {
          case pat(n) => n.toInt
        }
        s"r${if (prev.isEmpty) 0 else prev.max + 1}"
      }
    // APPEND-ONLY: an existing archive is NEVER overwritten (the r12
    // archive died to a tag collision — r13's close and r14's runs
    // both compute "r14"); later full runs of the same tag get lettered
    // suffixes (r14b, r14c, …). The highest-lettered file is the
    // round's final record.
    val archive0 = s"bench_full_$roundTag.json"
    val archive =
      if (only.nonEmpty) archive0
      else (Iterator(archive0) ++ ('b' to 'z').iterator.map(c =>
        s"bench_full_$roundTag$c.json"))
        .find(n => !java.nio.file.Files.exists(java.nio.file.Paths.get(n)))
        // never fall back to overwriting: exhausted suffixes (26 full
        // runs under one tag) fail loudly — the guarantee is APPEND-ONLY
        .getOrElse(sys.error(s"all archive slots bench_full_$roundTag" +
          "[b-z].json exist — refusing to overwrite (append-only archives); " +
          "set SPARK_GRAFT_ROUND to a fresh tag"))
    if (only.nonEmpty)
      System.err.println(s"[bench] filtered run (SPARK_GRAFT_ONLY set): NOT archiving to $archive")
    else
      java.nio.file.Files.write(java.nio.file.Paths.get(archive),
        full.getBytes("UTF-8"))
    // Self-selecting headline set: static list UNION this run's top-10
    // by median, so no expensive query can go untracked again.
    val top10 = ok.sortBy(-_._2).take(10).map(_._1).toSet
    val head = ok.filter { case (k, _) => headline.contains(k) || top10.contains(k) }
    // 1-minute load average at exit: timings on this box swing 10×+ with
    // co-tenant load (q18 1.6s idle vs 28s in the round-2 harness run) —
    // record the context so a noisy run is attributable.
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${mapJson(head)},""" +
        s""""nq":${ok.length},"failed":${listJson(failed)},"flaky":${listJson(flaky)},""" +
        s""""iters":$iters,"warmup":1,"load1m":${fmt(load)},"full":"bench_full.json",""" +
        s""""archive":"$archive","sf":"$sfDir"}""")
    spark.stop()
  }
}
