package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Dataset-splitting operators for training pipelines (SURVEY.md §2
  * P19/P20). A training corpus needs reproducible membership: a doc's
  * split must not change when the corpus is re-partitioned, re-ordered,
  * or incrementally grown — so the assignment is a pure function of the
  * stable key (md5 of doc_id), never of rand()/partition position.
  * That also makes the exact split oracle-checkable in any engine with
  * md5. Stratified sampling keeps per-stratum rates without a global
  * shuffle: Bernoulli per row, rate looked up by stratum.
  */
object Splits extends graft.QueryModule {

  /** split_train_test: deterministic 80/20 assignment. The 0..255
    * bucket comes from the first two hex chars of md5(doc_id) — the
    * engine-portable form of hash-mod-256 (Spark's hash() and DuckDB's
    * hash() disagree; md5 is bit-identical everywhere). */
  def trainTest(docs: DataFrame, trainBuckets: Int = 204): DataFrame = {
    val bucket =
      (expr("instr('0123456789abcdef', substring(md5(cast(cast(doc_id AS string) AS binary)), 1, 1))") - 1) * 16 +
        (expr("instr('0123456789abcdef', substring(md5(cast(cast(doc_id AS string) AS binary)), 2, 1))") - 1)
    docs.select(col("doc_id"),
      bucket.cast("long").as("bucket"),
      when(bucket < trainBuckets, "train").otherwise("test").as("split"))
  }

  /** sample_stratified (P20): per-stratum Bernoulli rates via the SAME
    * pure doc_id membership hash as [[mixture]], with the seed folded
    * in mod 2^32 so different seeds draw different (still
    * deterministic) samples. Replaces `sampleBy`, whose per-partition
    * RNG re-draws the sample whenever the corpus repartitions — at
    * 100 TB that makes the "same" sample unreproducible across runs;
    * the hash is repartition-stable, incrementally stable, and exact
    * integer arithmetic any engine replays (oracle-exact since r7). */
  def stratified(docs: DataFrame, fractions: Map[String, Double], seed: Long): DataFrame = {
    val f = typedlit(fractions)
    docs.filter(membershipU(seed) < coalesce(element_at(f, col("lang")), lit(0.0)))
  }

  /** P29 mixture sampling — the data-mixing step of a training run:
    * given target proportions per stratum (lang), downsample each
    * stratum so the OUTPUT matches the target mixture at the largest
    * size the corpus supports (M* = min over strata of n_l / p_l; the
    * binding stratum keeps 100%). Membership is a pure function of
    * doc_id (Knuth multiplicative hash, exact integer arithmetic any
    * engine can replay), so the sample is reproducible under
    * re-partitioning and incrementally stable — and oracle-exact.
    * Scale shape: one aggregate over the stratum column (5 rows out),
    * broadcast back onto the fact scan; the corpus itself is never
    * shuffled. */
  def mixture(docs: DataFrame, weights: Seq[(String, Double)]): DataFrame = {
    val w = docs.sparkSession.createDataFrame(weights).toDF("lang", "p")
    val n = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val mStar = n.join(w, "lang")
      .agg(min(col("n_lang").cast("double") / col("p")).as("m_star"))
    val keep = n.join(w, "lang").crossJoin(broadcast(mStar))
      .select(col("lang"),
        least(lit(1.0), col("p") * col("m_star") / col("n_lang").cast("double")).as("keep_frac"))
    docs.join(broadcast(keep), Seq("lang"))
      .filter(membershipU < col("keep_frac"))
  }

  /** P45b temperature-scaled source mixing (the multilingual-sampling
    * rule of XLM-R / mC4: Conneau et al. 2020 §3.1, q_l ∝ p_l^α) —
    * the data-DERIVED companion to [[mixture]], which takes its target
    * proportions as input. Here the targets come from the corpus
    * itself: raising per-stratum mass to α < 1 flattens the
    * distribution so low-resource strata keep a larger relative share.
    *
    * Exactness: the one genuinely-floating step (p_l^α over 5 strata)
    * is quantized to a 1e6 fixed-point grid immediately (the P36/P40
    * floored-quantization precedent — ulp noise can't survive the
    * grid), and everything after — share normalization, the budget
    * targets, per-stratum keep fractions in ppm, and the Knuth-hash
    * membership comparison — is pure BIGINT/DECIMAL arithmetic both
    * engines replay bit-for-bit. Membership reuses the repartition-
    * stable doc_id hash, compared in INTEGER space (k·1e6 <
    * ppm·2^32), so no double ever decides a row.
    *
    * Scale shape: one 5-row aggregate over the stratum column,
    * broadcast back onto the scan; the corpus itself is never
    * shuffled. Budget is a fraction (num/den) of the corpus so the
    * operator is SF-invariant. */
  def temperatureMix(docs: DataFrame, alpha: Double = 0.3,
                     budgetNum: Long = 3, budgetDen: Long = 5): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val withTot = counts.crossJoin(broadcast(
      counts.agg(sum(col("n_lang")).as("n_total"))))
    // q_fp = round(1e6 · (n_l/N)^α); Z = Σ q_fp; target_l = ⌊B·q_fp/Z⌋;
    // keep_ppm = min(1e6, ⌊target·1e6/n_l⌋). All BIGINT after the grid.
    val qfp = withTot.withColumn("q_fp",
      floor(pow(col("n_lang").cast("double") / col("n_total").cast("double"), alpha)
        * 1e6 + 0.5).cast("long"))
    val keep = qfp.crossJoin(broadcast(qfp.agg(sum(col("q_fp")).as("z"))))
      // `div` (integral division), NOT `/`: Column./ is always double
      // division in Spark, and a double here would un-exact the grid.
      .withColumn("budget", expr(s"n_total * $budgetNum div $budgetDen"))
      .withColumn("target_l", expr("budget * q_fp div z"))
      .withColumn("keep_ppm",
        least(lit(1000000L), expr("target_l * 1000000 div n_lang")))
      .select("lang", "keep_ppm")
    val kInt = expr(
      "CAST(CAST((doc_id % 4294967296) AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS BIGINT)")
    docs.join(broadcast(keep), Seq("lang"))
      .filter(kInt * 1000000L < col("keep_ppm") * 4294967296L)
      .select(col("doc_id"), col("lang"), col("keep_ppm"))
  }

  /** P46 epoch-weighted upsampling — the UPSAMPLING complement to
    * [[mixture]]/[[temperatureMix]] (both only downsample): training
    * recipes express per-source weights as EPOCHS, which may exceed 1
    * (e.g. the LLaMA pre-training table, Touvron et al. 2023 §2.1:
    * Wikipedia 2.45 epochs, C4 1.06). A doc with target epochs e
    * yields ⌊e⌋ full copies plus one more iff its membership hash
    * clears frac(e) — so expected copies per doc is exactly e, and
    * membership is the repartition-stable Knuth hash compared in
    * integer space (centi-epoch fixed point), making the emitted
    * multiset bit-reproducible in any engine.
    *
    * Scale shape: a broadcast join against the per-stratum epoch spec
    * and a row-local `explode(sequence(...))` — no shuffle at any
    * scale; output size is Σ e_l·n_l by construction. */
  def epochUpsample(docs: DataFrame, epochsCenti: Seq[(String, Long)]): DataFrame = {
    require(epochsCenti.forall(_._2 >= 0), "epochs must be non-negative")
    val spec = docs.sparkSession.createDataFrame(epochsCenti).toDF("lang", "e_cp")
    val kInt = expr(
      "CAST(CAST((doc_id % 4294967296) AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS BIGINT)")
    docs.join(broadcast(spec), Seq("lang"))
      .withColumn("n_copies",
        expr("e_cp div 100") +
          when(kInt * 100L < (col("e_cp") % 100L) * 4294967296L, 1L).otherwise(0L))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"), col("n_copies"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
  }

  /** P54: SPLIT LEAKAGE AUDIT — the eval-integrity check every
    * training pipeline should run after splitting: a near-duplicate
    * pair straddling train/test inflates held-out metrics (the test
    * doc is effectively memorized). Candidates come from the SHARED
    * minhash-LSH band machinery (Dedup.minhashCandidates — bounded
    * buckets, never doc×doc); each surviving pair is labeled with both
    * sides' deterministic split and a leak verdict. The deliverable is
    * the leaking pairs themselves, jaccard-heaviest first — the list a
    * pipeline owner quarantines. */
  def splitLeakage(docs: DataFrame, minJaccard: Double = 0.1): DataFrame = {
    val s = trainTest(docs).select(col("doc_id"), col("split"))
    graft.pipeline.Dedup.minhashCandidates(docs, minJaccard = minJaccard)
      .join(s.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(s.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leak"))
  }

  /** Knuth multiplicative membership hash, u ∈ [0, 1). The product is
    * taken in DECIMAL(38,0): `doc_id * 2654435761` in BIGINT silently
    * wraps negative for doc_id ≳ 3.47e9 (Spark) or raises an overflow
    * error (DuckDB) — at 100 TB corpus sizes those ids exist, and a
    * wrapped-negative u would make every such row unconditionally pass
    * the `u < keep_frac` filter, silently skewing the mixture. The
    * doc_id is first reduced mod 2^32 (the product only matters mod
    * 2^32), keeping the decimal multiply within 2^64 — exact in both
    * engines, and bit-identical to the old formula wherever the old one
    * didn't overflow. */
  /** P60: LEAKAGE-SAFE train/test split — the FIX for what the P54
    * audit measures: near-dup twins straddling a per-document split
    * inflate held-out metrics, so the assignment unit must be the
    * near-dup CLUSTER, not the document. Candidates come from the
    * shared minhash band machinery (exact-Jaccard verified), close
    * transitively through P21 connected components, and every member
    * splits by the md5 bucket of its cluster REPRESENTATIVE (min
    * doc_id) — a pair that shares a verified edge can never land on
    * both sides. Composition of three oracle-replayable pieces, so the
    * whole split is itself oracle-exact.
    *
    * Scale shape: inherited — banded candidates (bounded buckets), CC
    * contraction, and a label join touching only edge endpoints; the
    * md5 assignment is row-local. */
  def leakageSafeSplit(docs: DataFrame, minJaccard: Double = 0.1,
                       trainBuckets: Int = 204): DataFrame = {
    val pairs = Dedup.minhashCandidates(docs, minJaccard = minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val labels = Cluster.connectedComponents(pairs)
    val withRep = docs.select(col("doc_id"))
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val b =
      (expr("instr('0123456789abcdef', substring(md5(cast(cast(cluster_id AS string) AS binary)), 1, 1))") - 1) * 16 +
        (expr("instr('0123456789abcdef', substring(md5(cast(cast(cluster_id AS string) AS binary)), 2, 1))") - 1)
    withRep.select(col("doc_id"), col("cluster_id"),
      b.cast("long").as("bucket"),
      when(b < trainBuckets, "train").otherwise("test").as("split"))
  }

  /** P59: WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006, A-ES): draw k docs with inclusion probability
    * proportional to a per-doc weight — the quality-weighted subcorpus
    * draw (sample harder from what the quality model likes) that
    * uniform sampling (P20) and per-stratum mixing (P29/P45b) can't
    * express. Each doc gets the key ln(u)/w (order-equivalent to the
    * paper's u^(1/w)); the k LARGEST keys are the sample. u comes from
    * the seeded Knuth membership hash — a pure function of (doc_id,
    * seed), so the draw is deterministic, repartition-stable, and
    * incrementally stable (new docs never change existing keys, they
    * only compete at the boundary).
    *
    * Scale shape: key is row-local scan work; the cut is a global
    * TopN — TakeOrderedAndProject, never a full sort. Rows-only (the
    * ln is IEEE floating point; engines may differ in the last ulp at
    * rank boundaries) + A-ES property specs. */
  def weightedSample(docs: DataFrame, weight: Column, k: Int,
                     seed: Long = 17L): DataFrame = {
    // u is shifted into (0, 1]: membershipU lands on exactly 0 for ids
    // whose Knuth hash is 0 mod 2^32, and ln(0)/w = -Infinity would
    // permanently exclude that doc from EVERY draw regardless of weight
    // (ADVICE r8). (hash+1)/2^32 keeps the shift exact in double
    // (hash+1 <= 2^32 fits the 53-bit mantissa) and ln finite; u = 1
    // gives key 0, the legitimate maximum. Note doc_ids congruent mod
    // 2^32 share a u (the hash folds through doc_id % 2^32), so their
    // draws are correlated — irrelevant below 4.3e9 docs, documented
    // for corpora beyond it.
    docs.select(col("doc_id"), weight.cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("es_key",
        log(membershipU(seed) + lit(1.0 / 4294967296.0)) / col("w"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  private[graft] def membershipU: Column = membershipU(0L)

  /** Seeded variant: the seed shifts the id stream mod 2^32 before the
    * multiply — (x % m + s) stays under 2^33, so the sum is exact in
    * BIGINT and the decimal product stays within 2^64 as before.
    * Seed 0 is bit-identical to the unseeded form. */
  private[graft] def membershipU(seed: Long): Column =
    expr(s"CAST(CAST((doc_id % 4294967296 + ${java.lang.Long.remainderUnsigned(seed, 4294967296L)}) % 4294967296" +
      " AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS DOUBLE)") /
      lit(4294967296.0)

  val queries: Map[String, Q] = Map(
    // P19: oracle-exact — the assignment is pure md5 arithmetic.
    "split_train_test" -> ((spark, dir) => {
      trainTest(Tables(spark, dir).documents).orderBy("doc_id")
    }),
    "split_leakage_audit" -> ((spark, dir) => {
      splitLeakage(Tables(spark, dir).documents)
        .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(200)
    }),
    // P29: oracle-exact — counts, thresholds, and membership are pure
    // arithmetic both engines replay bit-identically.
    "pipe_mixture" -> ((spark, dir) => {
      val target = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)
      mixture(Tables(spark, dir).documents, target)
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    // P45b: oracle-exact — the α-power is grid-quantized per stratum
    // (5 values), everything downstream is integer arithmetic.
    "pipe_temperature_mix" -> ((spark, dir) =>
      temperatureMix(Tables(spark, dir).documents).orderBy("doc_id")),
    // P46: oracle-exact — copies are pure integer arithmetic on the
    // centi-epoch spec + Knuth-hash membership.
    "pipe_epoch_upsample" -> ((spark, dir) =>
      epochUpsample(Tables(spark, dir).documents,
        Seq("en" -> 245L, "de" -> 106L, "fr" -> 100L, "es" -> 64L, "zh" -> 30L))
        .orderBy("doc_id", "copy")),
    // P20: oracle-exact since r7 — membership is the seeded Knuth
    // hash, pure integer arithmetic in both engines. Aggregated so
    // the row count is stable for the driver's rows>0 smoke.
    "sample_stratified" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val langs = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.25)
      stratified(t.documents, langs, seed = 42L)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),
    // P59 rows-only: the A-ES key is floating-point ln — engines may
    // disagree in the last ulp exactly at rank boundaries.
    "sample_weighted" -> ((spark, dir) =>
      weightedSample(Tables(spark, dir).documents, col("n_chars"), k = 100)
        .orderBy("doc_id")),
    // r17: input spread measured and REJECTED — interleaved A/B at
    // cpus=32 lost 0.70× (bench_control_r17_batch2_32.json): the
    // spread ships whole document payloads through an extra exchange
    // before the minhash shrinks them (§2.3). Bare scan stays.
    "split_leakage_safe" -> ((spark, dir) =>
      leakageSafeSplit(Tables(spark, dir).documents).orderBy("doc_id")),
  )

  override val rowsOnly: Map[String, String] = Map(
    "sample_weighted" -> ("seeded-rng: A-ES weighted reservoir keys are engine-local — no replay " +
      "exists; distribution spec"),
  )

  val oracles: Map[String, String] = Map(
    // Full replay of the temperature pipeline: DuckDB's power() runs on
    // the same 5 (n_l, N) pairs, lands on the same 1e6 grid, and every
    // later step is BIGINT (// is DuckDB's integral division). The
    // membership product is HUGEINT-exact.
    "pipe_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY lang),
        |tot AS (SELECT sum(n_lang)::BIGINT AS n_total FROM counts),
        |qf AS (
        |  SELECT lang, n_lang,
        |    CAST(floor(power(CAST(n_lang AS DOUBLE) / CAST(n_total AS DOUBLE), 0.3)
        |               * 1e6 + 0.5) AS BIGINT) AS q_fp, n_total
        |  FROM counts, tot),
        |z AS (SELECT sum(q_fp)::BIGINT AS z FROM qf),
        |keepf AS (
        |  SELECT lang,
        |    least(1000000,
        |      ((n_total * 3 // 5) * q_fp // z) * 1000000 // n_lang) AS keep_ppm
        |  FROM qf, z)
        |SELECT doc_id, lang, keep_ppm
        |FROM documents JOIN keepf USING (lang)
        |WHERE CAST((CAST(doc_id % 4294967296 AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)
        |      * 1000000 < keep_ppm * 4294967296
        |ORDER BY doc_id""".stripMargin,
    // Copies replayed exactly: integer centi-epoch split + the HUGEINT
    // membership product, fanned out with generate_series.
    "pipe_epoch_upsample" ->
      """WITH spec AS (
        |  SELECT * FROM (VALUES ('en', 245), ('de', 106), ('fr', 100),
        |                        ('es', 64), ('zh', 30)) AS t(lang, e_cp)),
        |n AS (
        |  SELECT doc_id, d.lang,
        |    (e_cp // 100) + CASE WHEN
        |      CAST((CAST(doc_id % 4294967296 AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT)
        |        * 100 < (e_cp % 100) * 4294967296 THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN spec ON d.lang = spec.lang)
        |SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
        |       CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy
        |FROM n WHERE n_copies > 0
        |ORDER BY doc_id, copy""".stripMargin,
    // P54 composes two vetted replays: the minhash candidate+verify
    // chain and the md5-bucket split assignment.
    "split_leakage_audit" -> {
      import graft.operators.DuckHashSql._
      val splitOf = (c: String) =>
        s"""CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 16
           |        + (strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), 2, 1)) - 1) < 204
           |     THEN 'train' ELSE 'test' END""".stripMargin
      s"""WITH ${minhashCtes("documents")},
         |ver AS (
         |  SELECT doc_a, doc_b, jaccard FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("a.su", "b.su")} AS jaccard
         |    FROM mpairs JOIN msh a ON mpairs.doc_a = a.doc_id
         |                JOIN msh b ON mpairs.doc_b = b.doc_id)
         |  WHERE jaccard >= 0.1)
         |SELECT doc_a, doc_b, jaccard,
         |  ${splitOf("doc_a")} AS split_a,
         |  ${splitOf("doc_b")} AS split_b,
         |  ${splitOf("doc_a")} <> ${splitOf("doc_b")} AS leak
         |FROM ver
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200""".stripMargin
    },

    // P60: the vetted minhash pair replay, transitive closure as a
    // recursive reachability CTE (the P32 device), and the md5 bucket
    // computed over the CLUSTER representative instead of the doc.
    "split_leakage_safe" -> {
      import graft.operators.DuckHashSql._
      val bucketOf = (c: String) =>
        s"""((strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), 1, 1)) - 1) * 16
           | + (strpos('0123456789abcdef', substring(md5(CAST($c AS VARCHAR)), 2, 1)) - 1))""".stripMargin
      s"""WITH ${minhashCtes("documents")},
         |ver AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b, ${jaccardSql("a.su", "b.su")} AS jaccard
         |    FROM mpairs JOIN msh a ON mpairs.doc_a = a.doc_id
         |                JOIN msh b ON mpairs.doc_b = b.doc_id)
         |  WHERE jaccard >= 0.1),
         |sym AS (SELECT doc_a AS s, doc_b AS d FROM ver
         |        UNION SELECT doc_b, doc_a FROM ver),
         |rch AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT s, s FROM sym
         |    UNION
         |    SELECT sym.s, r.m FROM r JOIN sym ON r.id = sym.d)
         |  SELECT id, min(m) AS cluster_id FROM r GROUP BY id),
         |rep AS (
         |  SELECT d.doc_id, coalesce(rch.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN rch ON d.doc_id = rch.id)
         |SELECT doc_id, cluster_id,
         |  CAST(${bucketOf("cluster_id")} AS BIGINT) AS bucket,
         |  CASE WHEN ${bucketOf("cluster_id")} < 204 THEN 'train' ELSE 'test' END AS split
         |FROM rep ORDER BY doc_id""".stripMargin
    },

    "split_train_test" ->
      """SELECT doc_id,
        |  CAST((strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket,
        |  CASE WHEN (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 204
        |       THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "pipe_mixture" ->
      """WITH w AS (
        |  SELECT * FROM (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.15),
        |                        ('es', 0.1), ('zh', 0.05)) AS t(lang, p)),
        |n AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |m AS (SELECT min(CAST(n_lang AS DOUBLE) / p) AS m_star FROM n JOIN w USING (lang)),
        |k AS (SELECT lang, least(1.0, p * m_star / CAST(n_lang AS DOUBLE)) AS keep_frac
        |      FROM n JOIN w USING (lang) CROSS JOIN m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN k USING (lang)
        |WHERE CAST(CAST(d.doc_id % 4294967296 AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS DOUBLE)
        |      / 4294967296.0 < keep_frac
        |ORDER BY d.doc_id""".stripMargin,

    // seeded Knuth membership (seed 42 folded in mod 2^32) — the same
    // exact-integer replay as pipe_mixture
    "sample_stratified" ->
      """WITH f AS (
        |  SELECT * FROM (VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25),
        |                        ('es', 0.25), ('zh', 0.25)) AS t(lang, p))
        |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled
        |FROM documents d JOIN f USING (lang)
        |WHERE CAST(CAST((d.doc_id % 4294967296 + 42) % 4294967296 AS DECIMAL(38,0))
        |        * 2654435761 % 4294967296 AS DOUBLE) / 4294967296.0 < p
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
  )
}
