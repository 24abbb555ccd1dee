package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Extensibility surface — the Spark-native equivalent of the reference
  * engine's builtin/UDF registry (apache-impala-4.1.0/be/src/exprs/,
  * fe/.../catalog/BuiltinsDb.java): custom codegen'd expressions
  * registered into the SQL function registry once, when the session is
  * built (`spark.sql.extensions=graft.plans.GraftExtensions`, which
  * `graft.GraftSession.build` sets), together with the `JaccardPrefilter`
  * optimizer rule, the `AsOfJoinStrategy` planner strategy and the
  * `SmallSort` query-stage preparation rule (AQE applies it to the
  * initial plan and again at every re-plan).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => JaccardPrefilter)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectQueryStagePrepRule(_ => SmallSort)
  }
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  /** Arity-checked builder: surplus args must not be silently dropped
    * (`fnv_hash(a, b)` hashing only `a` would be a silent wrong answer)
    * and missing args get a readable error, not an index exception. */
  private def arity(name: String, n: Int)(f: Seq[Expression] => Expression): Builder =
    es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${es.length}")
      f(es)
    }

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("fnv_hash", info("fnv_hash", "fnv_hash(str) - FNV-1 64-bit hash"),
      arity("fnv_hash", 1)(es => FnvHash64(es.head))),
    ("murmur_hash", info("murmur_hash", "murmur_hash(str) - MurmurHash2 64-bit hash"),
      arity("murmur_hash", 1)(es => MurmurHash2_64(es.head))),
    ("simhash64", info("simhash64", "simhash64(tokens) - SimHash signature"),
      arity("simhash64", 1)(es => SimHash64(es.head))),
    ("fingerprint64", info("fingerprint64", "fingerprint64(str) - rolling-hash doc fingerprint"),
      arity("fingerprint64", 1)(es => Fingerprint64(es.head))),
    ("minhash_sig", info("minhash_sig", "minhash_sig(hashes, perms) - fused MinHash signature"),
      arity("minhash_sig", 2)(es => MinHashSig(es(0), es(1)))),
    ("hashed_shingles", info("hashed_shingles", "hashed_shingles(text, k) - sorted distinct k-word shingle hashes"),
      arity("hashed_shingles", 2)(es => HashedShingles(es(0), es(1)))),
    ("jaccard_sorted", info("jaccard_sorted", "jaccard_sorted(a, b) - Jaccard of sorted long arrays"),
      arity("jaccard_sorted", 2)(es => JaccardSorted(es(0), es(1)))),
    ("cosine_sim", info("cosine_sim", "cosine_sim(a, b) - cosine similarity of float vectors"),
      arity("cosine_sim", 2)(es => CosineSimilarity(es(0), es(1)))),
    ("rhp_bucket", info("rhp_bucket", "rhp_bucket(vec, nplanes) - random-hyperplane LSH bucket"),
      arity("rhp_bucket", 2)(es => RhpBucket(es(0), es(1)))),
    ("kll_quantile", info("kll_quantile", "kll_quantile(sketch, rank) - quantile estimate from a KLL sketch"),
      arity("kll_quantile", 2)(es => KllQuantileAt(es(0), es(1)))),
    ("kll_rank", info("kll_rank", "kll_rank(sketch, v) - normalized rank of v in a KLL sketch"),
      arity("kll_rank", 2)(es => KllRankOf(es(0), es(1)))),
    ("kll_n", info("kll_n", "kll_n(sketch) - stream length of a KLL sketch"),
      arity("kll_n", 1)(es => KllN(es.head))),
    ("kll_cdf", info("kll_cdf", "kll_cdf(sketch, splits) - CDF estimates at split points"),
      arity("kll_cdf", 2)(es => KllCdf(es(0), es(1)))),
    ("kll_pmf", info("kll_pmf", "kll_pmf(sketch, splits) - PMF mass between split points"),
      arity("kll_pmf", 2)(es => KllPmf(es(0), es(1)))),
    ("kll_quantiles", info("kll_quantiles", "kll_quantiles(sketch, ranks) - quantile estimates at ranks"),
      arity("kll_quantiles", 2)(es => KllQuantiles(es(0), es(1)))),
    ("theta_estimate", info("theta_estimate", "theta_estimate(sketch) - distinct estimate from a theta sketch"),
      arity("theta_estimate", 1)(es => ThetaEstimate(es.head))),
    ("theta_union_est", info("theta_union_est", "theta_union_est(a, b) - distinct estimate of A ∪ B"),
      arity("theta_union_est", 2)(es => ThetaUnionEst(es(0), es(1)))),
    ("theta_intersect_est", info("theta_intersect_est", "theta_intersect_est(a, b) - distinct estimate of A ∩ B"),
      arity("theta_intersect_est", 2)(es => ThetaIntersectEst(es(0), es(1)))),
    ("theta_anotb_est", info("theta_anotb_est", "theta_anotb_est(a, b) - distinct estimate of A \\ B"),
      arity("theta_anotb_est", 2)(es => ThetaANotBEst(es(0), es(1)))),
    ("theta_union_f", info("theta_union_f", "theta_union_f(a, b) - serialized union sketch of A ∪ B"),
      arity("theta_union_f", 2)(es => ThetaUnionF(es(0), es(1)))),
    ("theta_intersect_f", info("theta_intersect_f", "theta_intersect_f(a, b) - serialized intersection sketch of A ∩ B"),
      arity("theta_intersect_f", 2)(es => ThetaIntersectF(es(0), es(1)))),
    ("theta_exclude_f", info("theta_exclude_f", "theta_exclude_f(a, b) - serialized sketch of A \\ B"),
      arity("theta_exclude_f", 2)(es => ThetaExcludeF(es(0), es(1)))),
    ("hll_bounds", info("hll_bounds", "hll_bounds(sketch, kappa) - 'est,lo,hi' bounds string of an HLL sketch"),
      arity("hll_bounds", 2)(es => HllBoundsStr(es(0), es(1)))),
    ("hll_stringify", info("hll_stringify", "hll_stringify(sketch) - HLL sketch summary string"),
      arity("hll_stringify", 1)(es => HllStringify(es.head))),
    ("cpc_stringify", info("cpc_stringify", "cpc_stringify(sketch) - CPC sketch summary string"),
      arity("cpc_stringify", 1)(es => CpcStringify(es.head))),
    ("theta_stringify", info("theta_stringify", "theta_stringify(sketch) - theta sketch summary string"),
      arity("theta_stringify", 1)(es => ThetaStringify(es.head))),
    ("kll_stringify", info("kll_stringify", "kll_stringify(sketch) - KLL sketch summary string"),
      arity("kll_stringify", 1)(es => KllStringify(es.head))),
    ("iceberg_bucket", info("iceberg_bucket", "iceberg_bucket(v, n) - Iceberg bucket partition transform"),
      arity("iceberg_bucket", 2)(es => IcebergBucket(es(0), es(1)))),
    ("iceberg_truncate", info("iceberg_truncate", "iceberg_truncate(v, w) - Iceberg truncate partition transform"),
      arity("iceberg_truncate", 2)(es => IcebergTruncate(es(0), es(1)))),
    ("cpc_estimate", info("cpc_estimate", "cpc_estimate(sketch) - distinct estimate from a CPC sketch"),
      arity("cpc_estimate", 1)(es => CpcEstimate(es.head))),
    ("cpc_union_est", info("cpc_union_est", "cpc_union_est(a, b) - distinct estimate of A ∪ B from CPC sketches"),
      arity("cpc_union_est", 2)(es => CpcUnionEst(es(0), es(1)))),
    ("jaro_sim", info("jaro_sim", "jaro_sim(s1, s2) - Jaro similarity in [0,1]"),
      arity("jaro_sim", 2)(es => JaroSimilarity(es(0), es(1)))),
    ("jaro_winkler_sim", info("jaro_winkler_sim", "jaro_winkler_sim(s1, s2) - Jaro-Winkler similarity"),
      arity("jaro_winkler_sim", 2)(es => JaroWinklerSimilarity(es(0), es(1)))),
    ("damerau_levenshtein", info("damerau_levenshtein", "damerau_levenshtein(s1, s2) - restricted (OSA) Damerau-Levenshtein distance, reference parity"),
      arity("damerau_levenshtein", 2)(es => DamerauLevenshtein(es(0), es(1)))),
    ("damerau_levenshtein_full", info("damerau_levenshtein_full", "damerau_levenshtein_full(s1, s2) - unrestricted Lowrance-Wagner Damerau-Levenshtein distance"),
      arity("damerau_levenshtein_full", 2)(es => DamerauLevenshteinFull(es(0), es(1)))),
    ("zorder64", info("zorder64", "zorder64(a, b) - 64-bit Morton (Z-order) clustering key"),
      arity("zorder64", 2)(es => ZOrder64(es(0), es(1)))),
    ("l2_normalize", info("l2_normalize", "l2_normalize(vec) - unit-norm float vector"),
      arity("l2_normalize", 1)(es => L2Normalize(es.head))),
    ("pq_encode", info("pq_encode", "pq_encode(vec, codebook, K) - product-quantization codes"),
      arity("pq_encode", 3)(es => PqEncode(es(0), es(1), es(2)))),
    ("bpe_encode", info("bpe_encode", "bpe_encode(word, merges) - BPE tokens under rank-ordered merges"),
      arity("bpe_encode", 2)(es => BpeEncode(es(0), es(1)))),
    ("unigram_encode", info("unigram_encode", "unigram_encode(word, vocab) - Viterbi min-cost pieces under a scored unigram vocab"),
      arity("unigram_encode", 2)(es => UnigramEncode(es(0), es(1)))),
    ("bpe_encode_all", info("bpe_encode_all", "bpe_encode_all(words, merges) - BPE tokens for every word, one merge-table resolve per row"),
      arity("bpe_encode_all", 2)(es => BpeEncodeAll(es(0), es(1)))),
    ("unigram_encode_all", info("unigram_encode_all", "unigram_encode_all(words, vocab) - Viterbi pieces for every word, one vocab resolve per row"),
      arity("unigram_encode_all", 2)(es => UnigramEncodeAll(es(0), es(1)))),
    ("intersect_count_sorted", info("intersect_count_sorted", "intersect_count_sorted(a, b) - |A∩B| of two sorted bigint arrays"),
      arity("intersect_count_sorted", 2)(es => IntersectCountSorted(es(0), es(1)))),
    ("pq_dtab", info("pq_dtab", "pq_dtab(vec, codebook, K) - per-query ADC distance table"),
      arity("pq_dtab", 3)(es => PqDtab(es(0), es(1), es(2)))),
    ("pq_adc_score", info("pq_adc_score", "pq_adc_score(codes, dtab, K) - ADC table-lookup distance"),
      arity("pq_adc_score", 3)(es => PqAdcScore(es(0), es(1), es(2)))),
    ("gopher_rep_stats", info("gopher_rep_stats", "gopher_rep_stats(words) - Gopher repetition statistics struct"),
      arity("gopher_rep_stats", 1)(es => GopherRepStats(es.head))),
    ("dup_stats", info("dup_stats", "dup_stats(arr) - duplicate-element stats of a string array"),
      arity("dup_stats", 1)(es => DupStats(es.head))),
    ("reflow_paragraphs", info("reflow_paragraphs", "reflow_paragraphs(text, wordsPerLine, linesPerPara) - fixed-width line/paragraph reflow"),
      arity("reflow_paragraphs", 3)(es => ReflowParagraphs(es(0), es(1), es(2)))),
    ("pair_expand", info("pair_expand", "pair_expand(ids) - all (a, b) pairs with a before b of a sorted id list"),
      arity("pair_expand", 1)(es => PairExpand(es.head))),
    ("bounded_set", info("bounded_set", "bounded_set(x, cap) - the cap smallest distinct bigints, sorted"),
      arity("bounded_set", 2)(es =>
        BoundedSetAgg(es(0), es(1)).toAggregateExpression())),
    ("sniff_format", info("sniff_format", "sniff_format(bin) - container format from magic numbers"),
      arity("sniff_format", 1)(es => SniffFormat(es.head))),
    ("byte_entropy", info("byte_entropy", "byte_entropy(bin) - Shannon entropy in bits/byte"),
      arity("byte_entropy", 1)(es => ByteEntropy(es.head))),
    ("byte_histogram16", info("byte_histogram16", "byte_histogram16(bin) - 16-bin byte histogram"),
      arity("byte_histogram16", 1)(es => ByteHistogram16(es.head))),
  )

  /** The one call for a session graft did not build (idempotent):
    * functions into the registry, `JaccardPrefilter` via
    * `experimental.extraOptimizations`, `AsOfJoinStrategy` via
    * `experimental.extraStrategies`. Sessions from `GraftSession.build`
    * already have all three and must not call it — on them it would
    * run the rule in a second optimizer batch. `SmallSort` is not
    * installed here: query-stage rules are read from the session's
    * extensions when its state is built, and Spark has no experimental
    * hook for them, so a foreign session keeps Spark's sampled sort. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      reg.registerFunction(FunctionIdentifier(name), inf, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(JaccardPrefilter))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ JaccardPrefilter
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
