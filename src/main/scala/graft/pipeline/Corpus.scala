package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** End-to-end corpus cleaning — the composition a training-data
  * pipeline actually runs, as one operator: exact-dedup (keep first),
  * quality gate (length / word-count / stopword ratios), language
  * allowlist, and optionally MinHash near-dup removal. Each stage is
  * scan-bound or bucket-bound; the composition introduces no extra
  * shuffles beyond its stages (predicates fuse into one pass over the
  * deduped relation).
  */
object Corpus extends graft.QueryModule {

  case class QualityGate(minChars: Long = 60, minWords: Long = 10,
                         maxStopRatio: Double = 0.5)

  /** Keep-list of documents surviving dedup + quality + language gates.
    * Returns the kept rows of `docs` (all original columns). */
  def clean(docs: DataFrame, gate: QualityGate = QualityGate(),
            langs: Seq[String] = Seq("en", "de", "fr", "es", "zh"),
            nearDup: Boolean = false): DataFrame = {
    val deduped = Dedup.exactKeepFirst(docs)
    val w = Dedup.tokens(col("text"))
    val nWords = size(w).cast("long")
    val nStop = size(filter(w, t => t === "the" || t === "a")).cast("long")
    val lenOk = length(col("text")) >= gate.minChars
    val wordsOk = nWords >= gate.minWords
    val stopOk = nStop.cast("double") / nWords <= gate.maxStopRatio
    val langOk = col("lang").isin(langs: _*)
    val gated = deduped
      // no silent drops: per-gate attrition rides the job as observed
      // metrics (first-failing-gate attribution, so the counts add up)
      .observe("corpus_gates",
        count(lit(1)).as("after_dedup"),
        sum(when(!lenOk, 1L).otherwise(0L)).as("dropped_len"),
        sum(when(lenOk && !wordsOk, 1L).otherwise(0L)).as("dropped_words"),
        sum(when(lenOk && wordsOk && !stopOk, 1L).otherwise(0L)).as("dropped_stop"),
        sum(when(lenOk && wordsOk && stopOk && !langOk, 1L).otherwise(0L)).as("dropped_lang"),
        sum(when(lenOk && wordsOk && stopOk && langOk, 1L).otherwise(0L)).as("kept"))
      .filter(lenOk && wordsOk && stopOk && langOk)
    if (!nearDup) gated
    else {
      // `gated` feeds BOTH the candidate generator and the anti-join
      // probe side; without a persist the dedup window + quality gates
      // execute twice (the minhash cache inside Dedup only covers the
      // shingle projection). Slot-replacing persist, same discipline as
      // Dedup: a long-lived session never pins more than the last call.
      val g = Dedup.cacheReplacing(gated, gatedSlot)
      // drop the higher-id doc of every verified near-dup pair
      val drop = Dedup.minhashCandidates(g, minJaccard = 0.6)
        .select(col("doc_b").as("doc_id")).distinct()
      g.join(drop, Seq("doc_id"), "left_anti")
    }
  }

  private val gatedSlot =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** P57: corpus DATA CARD (Gebru et al. 2021 "Datasheets for
    * Datasets"; Pushkarna et al. 2022 "Data Cards") — the per-(source,
    * lang) + rollup summary a corpus release ships: document / token /
    * character volumes, exact-duplicate rate, and the keep rate under
    * the P15 quality gate, with parts-per-million rates in INTEGER
    * division so every figure replays exactly.
    *
    * Scale shape (§5.9): per-doc flags are one scan plus ONE shuffle on
    * the text hash (the duplicate flag is "not my md5 group's keeper" —
    * the P2 window); the rollup runs over the (source, lang) GRAIN
    * pre-aggregate, so Expand multiplies a |sources|×|langs| grain, not
    * the corpus. */
  def dataCard(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Dedup.tokens(col("text"))
    val nWords = size(w).cast("long")
    val nStop = size(filter(w, t => t === "the" || t === "a")).cast("long")
    val keep = length(col("text")) >= 60 && nWords >= 10 &&
      nStop.cast("double") / nWords <= 0.5
    val dupW = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
    val perDoc = docs.select(col("source"), col("lang"),
      nWords.as("n_tok"), length(col("text")).cast("long").as("n_ch"),
      keep.as("keep"), (row_number().over(dupW) > 1).as("is_dup"))
    val grain = perDoc.groupBy("source", "lang").agg(
      count(lit(1)).as("docs"), sum(col("n_tok")).as("toks"),
      sum(col("n_ch")).as("chs"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"),
      sum(when(col("is_dup"), 1L).otherwise(0L)).as("dups"))
    grain.rollup("source", "lang")
      .agg(sum(col("docs")).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("chs")).as("n_chars"), sum(col("keeps")).as("n_keep"),
        sum(col("dups")).as("n_dup"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("n_keep"), col("n_dup"),
        expr("n_keep * 1000000 DIV n_docs").as("keep_ppm"),
        expr("n_dup * 1000000 DIV n_docs").as("dup_ppm"))
  }

  /** P62: corpus VERSION DIFF — the release-to-release changelog a
    * corpus owner publishes alongside the data card (and the input to
    * "what changed since the model was last trained"): classify every
    * doc_id across two corpus snapshots as added / removed / modified /
    * unchanged by content hash. One full-outer equi-join on the id key
    * plus a row-local md5 compare — the canonical snapshot-diff shape;
    * at 100 TB both sides bucket by doc_id and no content ever moves,
    * only 16-byte hashes. Returns the changed rows (added/removed/
    * modified) — the unchanged mass stays where it is, summarized by
    * the caller's aggregate if wanted. */
  def versionDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text").cast("binary")).as("h1"))
    val b = v2.select(col("doc_id"), md5(col("text").cast("binary")).as("h2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") =!= col("h2"), "modified")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  val queries: Map[String, Q] = Map(
    "corpus_clean" -> ((spark, dir) => {
      clean(Tables(spark, dir).documents)
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")
    }),
    // r16 input spread (Tables.documentsSpread): the near-dup gate's
    // shingle pipeline dominates — interleaved A/B 1.16×
    // (bench_control_r16c.json); the other corpus entries measured
    // flat-or-worse and keep the bare scan.
    "corpus_clean_neardup" -> ((spark, dir) => {
      clean(Tables(spark, dir).documentsSpread, nearDup = true)
        .select("doc_id").orderBy("doc_id")
    }),
    "corpus_data_card" -> ((spark, dir) =>
      dataCard(Tables(spark, dir).documents).orderBy("source", "lang")),
    // P62: the two "versions" are deterministic carve-outs of the one
    // documents table — v1 drops ids ≡3 (mod 10), v2 drops ≡7 and
    // revises ≡5 — so the diff has all three change kinds and DuckDB
    // replays it exactly.
    "corpus_version_diff" -> ((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val v1 = docs.filter(col("doc_id") % 10 =!= 3)
      val v2 = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      versionDiff(v1, v2).orderBy("doc_id")
    }),

    // P30: the WHOLE training-data path as one composed job — clean
    // (exact dedup + quality + language gates) → decontaminate
    // (drop the carved-out benchmark docs and every doc sharing an
    // 8-gram with them; gram equi-join, never doc×doc) → mixture-sample
    // to target language proportions (pure-function membership) →
    // overlapping chunking → per-language corpus stats. Every stage is
    // scan-bound, bucket-bound, or a broadcast of a 5-row aggregate;
    // the composition adds NO shuffle of its own (chunking carries
    // lang, so the final stats aggregate is the only new exchange).
    // Oracle-exact end-to-end: DuckDB replays the same five stages on
    // the same parquet.
    "pipe_end_to_end" -> ((spark, dir) => {
      val docs = Tables(spark, dir).documents
      val cleaned = clean(docs)
      val contaminated = Curation.contamination(docs)
      val decont = cleaned
        .filter(col("doc_id") % 97 =!= 0) // the carved-out benchmark rows
        .join(contaminated, Seq("doc_id"), "left_anti")
        // mixture reads its input twice (stratum counts + membership
        // join) — persist so clean→decontaminate runs once, not twice
        // (Bench/Verify sweep persisted blocks between queries)
        .persist()
      val target = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)
      val mixed = Splits.mixture(decont, target)
      // chunk inline with lang CARRIED (Curation.chunkDocuments drops
      // it): a chunk→lang rejoin on doc_id would re-execute the whole
      // clean→decontaminate→mixture upstream a second time. Chunking
      // is a row-local explode, so keeping the column is free
      // (4.6 s before the carry + persist fixes, 2.1 s after, sf0.1).
      mixed.select(col("doc_id"), col("lang"), Dedup.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 1)
        .select(col("doc_id"), col("lang"),
          explode(expr("sequence(0, size(w) - 1, 6)")).as("start"), col("w"))
        .select(col("doc_id"), col("lang"),
          size(expr("slice(w, start + 1, 8)")).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("lang")
    }),
  )

  val oracles: Map[String, String] = Map(
    // P57: identical quality-gate predicates as corpus_clean, the P2
    // window for the duplicate flag, ROLLUP + integer ppm division.
    "corpus_data_card" ->
      """WITH per AS (
        |  SELECT source, lang,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(length(text) AS BIGINT) AS n_ch,
        |    (length(text) >= 60
        |     AND len(regexp_split_to_array(trim(lower(text)), '\s+')) >= 10
        |     AND CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |          w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |         / len(regexp_split_to_array(trim(lower(text)), '\s+')) <= 0.5) AS keep,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1 AS is_dup
        |  FROM documents)
        |SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_ch) AS BIGINT) AS n_chars,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(count(*) AS BIGINT) AS keep_ppm,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(count(*) AS BIGINT) AS dup_ppm
        |FROM per GROUP BY ROLLUP(source, lang)
        |ORDER BY source, lang""".stripMargin,

    // P62: the same carve-outs, full-outer id join, md5 compare.
    "corpus_version_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, md5(text) AS h1 FROM documents WHERE doc_id % 10 <> 3),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 10 = 5 THEN text || ' rev2' ELSE text END) AS h2
        |  FROM documents WHERE doc_id % 10 <> 7)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'modified'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN h1 <> h2 THEN 'modified'
        |       ELSE 'unchanged' END <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    // near-dup variant is rows-only (minhash); the deterministic gates
    // are fully mirrorable:
    "corpus_clean" ->
      """WITH deduped AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |feat AS (
        |  SELECT doc_id, lang, source, n_chars, length(text) AS len,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM deduped)
        |SELECT doc_id, lang, source, n_chars FROM feat
        |WHERE len >= 60 AND n_words >= 10
        |  AND CAST(n_stop AS DOUBLE) / n_words <= 0.5
        |  AND lang IN ('en', 'de', 'fr', 'es', 'zh')
        |ORDER BY doc_id""".stripMargin,

    // same clean gates, then the minhash-LSH near-dup pass replayed
    // bit-for-bit (DuckHashSql.minhashCtes): drop the higher-id doc of
    // every verified >= 0.6-Jaccard pair, like Corpus.clean(nearDup).
    "corpus_clean_neardup" -> {
      import graft.operators.DuckHashSql._
      s"""WITH deduped AS (
         |  SELECT doc_id, text, lang FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |feat AS (
         |  SELECT doc_id, lang, text, length(text) AS len,
         |    CAST(len(regexp_split_to_array(trim(lower(text)), '${"\\s+"}')) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '${"\\s+"}'),
         |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
         |  FROM deduped),
         |gated AS (
         |  SELECT doc_id, text FROM feat
         |  WHERE len >= 60 AND n_words >= 10
         |    AND CAST(n_stop AS DOUBLE) / n_words <= 0.5
         |    AND lang IN ('en', 'de', 'fr', 'es', 'zh')),
         |${minhashCtes("gated")},
         |drops AS (
         |  SELECT DISTINCT doc_b AS doc_id
         |  FROM mpairs JOIN msh a ON mpairs.doc_a = a.doc_id
         |              JOIN msh b ON mpairs.doc_b = b.doc_id
         |  WHERE ${jaccardSql("a.su", "b.su")} >= 0.6)
         |SELECT doc_id FROM gated
         |WHERE doc_id NOT IN (SELECT doc_id FROM drops) ORDER BY doc_id""".stripMargin
    },

    "pipe_end_to_end" ->
      """WITH deduped AS (
        |  SELECT doc_id, text, lang FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |feat AS (
        |  SELECT doc_id, lang, text, length(text) AS len,
        |    CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |         w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
        |  FROM deduped),
        |cleaned AS (
        |  SELECT doc_id, lang, text FROM feat
        |  WHERE len >= 60 AND n_words >= 10
        |    AND CAST(n_stop AS DOUBLE) / n_words <= 0.5
        |    AND lang IN ('en', 'de', 'fr', 'es', 'zh')),
        |wsrc AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |okg AS (SELECT * FROM wsrc WHERE len(ws) >= 8),
        |bench AS (
        |  SELECT DISTINCT list_aggregate(ws[1:8], 'string_agg', ' ') AS g
        |  FROM okg WHERE doc_id % 97 = 0),
        |grams AS (
        |  SELECT doc_id,
        |         unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ') for i in generate_series(1, len(ws) - 7)]) AS g
        |  FROM okg WHERE doc_id % 97 <> 0),
        |contaminated AS (SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)),
        |decont AS (
        |  SELECT * FROM cleaned
        |  WHERE doc_id % 97 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |n AS (SELECT lang, count(*) AS n_lang FROM decont GROUP BY lang),
        |wts AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.2), ('fr', 0.15),
        |                              ('es', 0.1), ('zh', 0.05)) AS t(lang, p)),
        |m AS (SELECT min(CAST(n_lang AS DOUBLE) / p) AS m_star FROM n JOIN wts USING (lang)),
        |k AS (SELECT lang, least(1.0, p * m_star / CAST(n_lang AS DOUBLE)) AS keep_frac
        |      FROM n JOIN wts USING (lang) CROSS JOIN m),
        |mixed AS (
        |  SELECT d.doc_id, d.lang, d.text FROM decont d JOIN k USING (lang)
        |  WHERE CAST(CAST(d.doc_id % 4294967296 AS DECIMAL(38,0)) * 2654435761 % 4294967296 AS DOUBLE)
        |        / 4294967296.0 < keep_frac),
        |cw AS (
        |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS ws FROM mixed
        |  WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 1),
        |chunks AS (
        |  SELECT doc_id, lang, ws, unnest(generate_series(0, len(ws) - 1, 6)) AS start FROM cw)
        |SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
        |  CAST(SUM(len(ws[start + 1 : start + 8])) AS BIGINT) AS sum_tokens
        |FROM chunks GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
