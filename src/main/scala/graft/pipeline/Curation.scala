package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between ingest and tokenization (SURVEY.md §2 P22–P25): PII
  * redaction, boilerplate/repetition scoring, benchmark-contamination
  * detection, and fixed-window sequence packing. All four are per-row
  * column algebra or bucketed equi-joins — no all-pairs work anywhere —
  * so they scan-scale to 100 TB the same way the P9–P12 text family
  * does.
  */
object Curation extends graft.QueryModule {

  private def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** P22: PII redaction. Class-based regex scrub (emails, phone-shaped
    * numbers, SSN-shaped ids) with per-class match counts, so the
    * pipeline can both clean and audit. The demo input derives
    * PII-shaped text deterministically from the customer table (the
    * corpus documents are synthetic words with no PII to find). */
  def piiScrub(df: DataFrame, textCol: Column): DataFrame = {
    val email = "[a-zA-Z0-9#._-]+@[a-zA-Z0-9.-]+"
    val phone = "555-[0-9]{4,8}"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    df.select(col("*"),
      regexp_count(textCol, lit(email)).cast("long").as("n_email"),
      regexp_count(textCol, lit(phone)).cast("long").as("n_phone"),
      regexp_count(textCol, lit(ssn)).cast("long").as("n_ssn"),
      regexp_replace(regexp_replace(regexp_replace(textCol,
        email, "<EMAIL>"), phone, "<PHONE>"), ssn, "<ID>").as("scrubbed"))
  }

  /** P23: repetition score — 1 − distinct/total word-3-grams. High
    * values flag boilerplate and degenerate (looping) text; the n-gram
    * work is a per-row array expression, never a join. */
  def repetitionScore(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))").as("g3"))
      .select(col("doc_id"),
        size(col("g3")).cast("long").as("n_grams"),
        size(array_distinct(col("g3"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
  }

  /** P24: benchmark-contamination check. The benchmark set's signature
    * 8-grams (here: the opening 8-gram of every doc_id ≡ 0 mod 97 doc)
    * are matched against EVERY 8-gram of the remaining corpus via an
    * equi-join on the gram — the scale path for decontamination: grams
    * explode per-row, the join shuffles on the gram key (or broadcasts:
    * a benchmark suite is bounded), and no pairwise doc×doc comparison
    * ever materializes. */
  def contamination(docs: DataFrame): DataFrame = {
    val withWords = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
    val benchGrams = withWords.filter(col("doc_id") % 97 === 0)
      .select(concat_ws(" ", slice(col("w"), 1, 8)).as("g"))
      .distinct()
    withWords.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w) - 7), i -> concat_ws(' ', slice(w, i, 8)))")).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
      .orderBy("doc_id")
  }

  /** P58: GRADED n-gram overlap decontamination (Brown et al. 2020
    * Appendix C; Dodge et al. 2021 §4.2) — P24 flags any doc sharing
    * ONE benchmark 8-gram; published pipelines instead grade each doc
    * by the FRACTION of its 8-gram positions that are
    * benchmark-tainted and drop above a threshold, so a glancing
    * quotation survives while a pasted test set does not. Same scale
    * shape as P24: grams explode per row, ONE equi-join on the gram
    * key (left-semi keeps each tainted position), a per-doc count —
    * never doc×doc. The fraction is integer ppm and the keep verdict
    * an integer comparison (`n_hit·100 <= n_grams·thrPct`,
    * at-threshold kept), so DuckDB replays every row. */
  def overlapFraction(docs: DataFrame, thrPct: Int = 20): DataFrame = {
    val withWords = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
    val benchGrams = withWords.filter(col("doc_id") % 97 === 0)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 7), i -> concat_ws(' ', slice(w, i, 8)))")).as("g"))
      .distinct()
    val corpus = withWords.filter(col("doc_id") % 97 =!= 0)
    val hits = corpus
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> concat_ws(' ', slice(w, i, 8)))")).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpus.select(col("doc_id"), (size(col("w")) - 7).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_ppm", expr("n_hit * 1000000 DIV n_grams"))
      .withColumn("keep", col("n_hit") * 100 <= col("n_grams") * thrPct)
  }

  /** P25: fixed-window sequence packing (pretraining style): documents
    * are concatenated in stable doc_id order within a shard and cut
    * every `ctx` tokens; a doc's pack is determined by its start
    * offset. Pure running-sum window math per shard — shards are
    * independent, so packing parallelizes across the cluster and is
    * reproducible under any physical row order. */
  def packSequences(docs: DataFrame, ctx: Int = 512, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = size(words(col("text"))).cast("long")
    val shard = (col("doc_id") % shards).cast("long")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), shard.as("shard"), tok.as("n_tok"))
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("pack_id", (col("start_off") / ctx).cast("long"))
  }

  /** P56: truncation-free BEST-FIT-DECREASING packing (Ding et al.
    * 2024, "Fewer Truncations Improve Language Modeling"): documents
    * are placed WHOLE into fixed-capacity context bins — P25's
    * concat-and-cut splits roughly one document per window boundary,
    * and the paper shows those truncations measurably hurt the trained
    * model. Only documents LONGER than the context are split (into
    * ctx-token pieces; the sole unavoidable truncation), then each
    * shard packs its pieces by Best-Fit-Decreasing: sort by
    * (tokens desc, doc_id, piece), place each into the bin whose
    * remaining capacity is the TIGHTEST fit (ties → lowest bin id),
    * opening a new bin when none fits. A TreeMap keyed on remaining
    * capacity makes each placement O(log bins).
    *
    * Scale shape: BFD is inherently sequential, so the parallel unit is
    * the shard (the P25 device) — shards pack independently in one
    * `flatMapGroups` pass, deterministic under any physical row order
    * (the in-shard sort is total). `shards` scales with the corpus so a
    * shard's (doc_id, tokens) pairs fit one executor; packing quality
    * degrades only marginally with more shards (the paper packs within
    * bounded chunks for the same reason). Rows-only: a sequential
    * argmin loop has no single-SQL DuckDB replay; the packing
    * invariants are spec-pinned instead. */
  def packBestFit(docs: DataFrame, ctx: Int = 512, shards: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pieces = docs
      .select(col("doc_id").cast("long").as("doc_id"),
        size(words(col("text"))).cast("int").as("n_tok"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, int((n_tok - 1) / $ctx)), i -> least(n_tok - i * $ctx, $ctx))"))
        .as(Seq("piece", "p_tok")))
    pieces.withColumn("shard", pmod(col("doc_id"), lit(shards)).cast("int"))
      .select(col("doc_id"), col("piece").cast("int"), col("p_tok").cast("int"), col("shard"))
      .as[(Long, Int, Int, Int)]
      .groupByKey(_._4)
      .flatMapGroups { (shard, it) =>
        val ds = it.toArray.sortBy(d => (-d._3, d._1, d._2))
        // remaining capacity -> bin ids at that remainder (tightest-fit
        // lookup = ceilingEntry; lowest id on ties = TreeSet.first)
        val byRem = new java.util.TreeMap[Int, java.util.TreeSet[Int]]()
        def index(r: Int, b: Int): Unit = if (r > 0) {
          var s = byRem.get(r)
          if (s == null) { s = new java.util.TreeSet[Int](); byRem.put(r, s) }
          s.add(b); ()
        }
        var nBins = 0
        ds.iterator.map { case (docId, piece, pTok, _) =>
          val e = byRem.ceilingEntry(pTok)
          val bin = if (e == null) { val b = nBins; nBins += 1; index(ctx - pTok, b); b }
          else {
            val b = e.getValue.first()
            e.getValue.remove(b)
            if (e.getValue.isEmpty) byRem.remove(e.getKey)
            index(e.getKey - pTok, b)
            b
          }
          (docId, piece, pTok, shard, bin.toLong)
        }
      }
      .toDF("doc_id", "piece", "n_tok", "shard", "bin_id")
  }

  /** P26: overlapping context-window chunking — each document is cut
    * into windows of `chunkTokens` tokens starting every `stride`
    * tokens (overlap = chunkTokens − stride), the standard prep for
    * fixed-context training and for embedding long docs. Per-row
    * explode of O(n/stride) start offsets + array slice — row-local,
    * no shuffle at all until a downstream op asks for one. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 8, stride: Int = 6): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, size(w) - 1, $stride)")).as("start"))
      .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_idx"),
        expr(s"slice(w, start + 1, $chunkTokens)").as("ck"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ck")).cast("long").as("n_tokens"),
        concat_ws(" ", col("ck")).as("chunk_text"))

  /** P39: per-source frequency cap (the C4/FineWeb "domain cap"): keep
    * at most `k` documents per source, preferring higher quality — the
    * anti-spam curation step that stops one domain from dominating the
    * training mixture. Quality is an integer alpha-ratio score in basis
    * points ((n_alpha·10000) DIV n_chars), so the per-source ranking is
    * fully deterministic under the (q_fp desc, doc_id) tie-break and
    * DuckDB-replayable.
    *
    * Scale shape: a salted two-phase top-k. Phase 1 ranks within
    * (source, doc_id % salt) and discards everything ranked > k there —
    * a doc outside its salt bucket's top-k cannot be in the source's
    * top-k — so the phase-2 per-source window sees at most salt·k rows
    * no matter how skewed the domain (the exact failure mode domain
    * caps exist for: ONE spam domain holding 10% of a 100 TB crawl
    * would otherwise serialize into a single window partition). The
    * corpus shuffles once on (source, salt); survivors (≤ |sources|·k
    * rows) broadcast-join back so every doc carries its verdict. */
  def sourceCap(docs: DataFrame, k: Int = 50, salt: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs.select(col("doc_id"), col("source"),
      expr("""(CAST(length(regexp_replace(lower(text), '[^a-z]', '')) AS BIGINT) * 10000)
             |  DIV greatest(length(text), 1)""".stripMargin).as("q_fp"))
    val w1 = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(salt.toLong)))
      .orderBy(col("q_fp").desc, col("doc_id"))
    val cand = q.withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= k).drop("rn1")
    val w2 = Window.partitionBy("source").orderBy(col("q_fp").desc, col("doc_id"))
    val kept = cand.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("rn").cast("long").as("src_rank"))
    q.join(broadcast(kept), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("q_fp"),
        col("src_rank"), col("src_rank").isNotNull.as("kept"))
  }

  // ---- queries()/oracle entries -------------------------------------

  /** P35: exact-substring dedup — the ExactSubstr operator of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better") re-expressed Spark-first at k-token granularity: any
    * k-token window occurring more than once corpus-wide keeps only its
    * globally-first occurrence (ordered by doc_id, then position);
    * every other occurrence becomes a drop span, overlapping spans
    * merge implicitly through the per-token coverage test, and each doc
    * is rebuilt from its surviving tokens. Catches the cross-document
    * boilerplate (headers, licenses, templates) that document-level
    * dedup (P1/P2) and near-dup (P3–P5) both miss.
    *
    * Scale shape: grams explode per row and shuffle ONCE on the gram
    * key (the contamination pattern — never doc×doc); the rank-over-
    * gram window is bounded by each gram's own occurrence count; drop
    * spans come back as ONE bounded list per affected doc; rebuild is
    * row-local. The paper's suffix array finds duplicates of ANY
    * length >= 50 tokens; the fixed-k gram formulation trades that
    * generality for a single-shuffle distributed plan (a run of >= k
    * duplicated tokens is still fully removed — its k-windows all
    * collide). */
  def exactSubstrDedup(docs: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withW = docs.select(col("doc_id"), words(col("text")).as("w"))
    val grams = withW.filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${k - 1}), i -> xxhash64(concat_ws(' ', slice(w, i, $k))))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
    val firstWin = Window.partitionBy("g").orderBy("doc_id", "pos")
    val drops = grams.withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") > 1)
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("dps"))
    withW.join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w"), col("dps"),
        expr(s"filter(sequence(1, size(w)), j -> dps IS NULL OR NOT exists(dps, p -> p <= j AND j < p + $k))")
          .as("keep_idx"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
        size(col("keep_idx")).cast("long").as("n_kept"),
        expr("concat_ws(' ', transform(keep_idx, j -> element_at(w, j)))").as("clean_text"))
  }

  /** P36: DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023): select raw-corpus documents that look like a target
    * distribution by importance weight under two bag-of-hashed-ngrams
    * models. Features are hashed uni+bigrams (the paper's
    * construction); the target model trains on weak-label "good" docs
    * (the P34 rule gates — the same bootstrap production pipelines use
    * when no curated target corpus is at hand), the raw model on the
    * whole corpus; each doc's log importance weight is the sum of its
    * features' log-probability ratios, and the operator keeps the
    * top-k (the paper's deterministic top-k variant; Gumbel-noised
    * resampling differs only by adding a seeded perturbation to the
    * same ranking key).
    *
    * Numerics are integer-exact after ONE quantization: the per-bucket
    * log-ratio λ_b = floor((ln(p̂_b) − ln(q̂_b))·scale + 0.5) is the
    * only double step (computed once per bucket, never per doc), every
    * per-doc score is a long sum of λ over the doc's own features, and
    * the top-k cut is on (score, doc_id) — so the selected set is
    * identical under any shuffle order and fully DuckDB-replayable.
    *
    * Scale shape (the P31/P34 pattern): training is one groupBy
    * bounded by the feature dimension (D rows out of the shuffle); the
    * λ vector folds into ONE map row crossJoin-broadcast everywhere;
    * scoring is a row-local fold; the global top-k threshold is a
    * TakeOrderedAndProject (per-partition top-k, k rows to the driver
    * stage) broadcast back as one row. Zero corpus-wide shuffles. */
  private val dsirCountsSlot =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]
  private val dsirScoredSlot =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]

  def dsirSelect(spark: SparkSession, docs: DataFrame, k: Int = 100,
                 dim: Int = 1024, alpha: Double = 0.5, scale: Long = 10000L): DataFrame = {
    val ws = words(col("text"))
    val base = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"),
        filter(ws, w => length(w) > 0).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("good",
        col("len") >= 60 && col("n_tok") >= 10 &&
          size(filter(col("toks"), w => w === "the" || w === "a")).cast("double") /
            col("n_tok") <= 0.5)
      .withColumn("buckets", expr(
        s"""concat(
           |  transform(toks, t -> pmod(fnv_hash(t), ${dim}L)),
           |  CASE WHEN size(toks) >= 2 THEN
           |    transform(sequence(1, size(toks) - 1),
           |      i -> pmod(fnv_hash(concat_ws(' ', element_at(toks, i), element_at(toks, i + 1))), ${dim}L))
           |  ELSE CAST(array() AS ARRAY<BIGINT>) END)""".stripMargin))
    // counts is re-read by totals, lam and (through them) wrow — without
    // a cache each of those plans re-runs the corpus-wide tokenize+hash
    // training scan (6 corpus scans total; 16 s at sf0.1). The cached
    // relation is bounded by the D-bucket domain.
    val counts = graft.CacheSlot.replace(
      base.select(col("good"), explode(col("buckets")).as("b"))
        .groupBy("b").agg(
          sum(when(col("good"), 1L).otherwise(0L)).as("cp"),
          count(lit(1)).as("cq")),
      dsirCountsSlot)
    val totals = counts.agg(sum("cp").as("tp"), sum("cq").as("tq"))
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        floor((log((col("cp") + alpha) / (col("tp") + alpha * dim))
             - log((col("cq") + alpha) / (col("tq") + alpha * dim))) * scale + 0.5)
          .cast("long").as("lam"))
    val wrow = lam.agg(
      map_from_entries(array_sort(collect_list(struct(col("b"), col("lam"))))).as("lmap"))
    // scored feeds both the top-k threshold and the final output —
    // cache the 2-longs-per-doc relation so the scoring scan runs once
    val scored = graft.CacheSlot.replace(
      base.crossJoin(broadcast(wrow))
        .select(col("doc_id"),
          expr("aggregate(buckets, CAST(0 AS BIGINT), (acc, b) -> acc + coalesce(lmap[b], CAST(0 AS BIGINT)))")
            .as("score_fp")),
      dsirScoredSlot)
    val kth = scored.orderBy(col("score_fp").desc, col("doc_id")).limit(k)
      .orderBy(col("score_fp"), col("doc_id").desc).limit(1)
      .select(col("score_fp").as("thr_s"), col("doc_id").as("thr_d"))
    scored.crossJoin(broadcast(kth))
      .select(col("doc_id"), col("score_fp"),
        round(col("score_fp").cast("double") / scale, 4).as("logw"),
        (col("score_fp") > col("thr_s") ||
          (col("score_fp") === col("thr_s") && col("doc_id") <= col("thr_d"))).as("selected"))
  }

  val queries: Map[String, Q] = Map(
    "pipe_pii_scrub" -> ((spark, dir) => {
      val t = Tables(spark, dir)
      val src = t.customer.filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          concat(col("c_name"), lit(" contact "), lower(col("c_name")), lit("@example.com tel 555-0"),
            col("c_custkey"), lit(" id 123-45-6789")).as("txt"))
      piiScrub(src, col("txt")).drop("txt").orderBy("c_custkey")
    }),
    // r16 input spread (Tables.documentsSpread): these four are
    // dominated by row-local gram/array algebra — interleaved A/B wins
    // 1.1–1.8× (bench_control_r16b/c.json); the pack/chunk/dsir/cap
    // entries measured flat-or-worse and keep the bare scan.
    "pipe_repetition" -> ((spark, dir) =>
      repetitionScore(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_contamination" -> ((spark, dir) =>
      contamination(Tables(spark, dir).documentsSpread)),
    "pipe_overlap_frac" -> ((spark, dir) =>
      overlapFraction(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_pack_sequences" -> ((spark, dir) =>
      packSequences(Tables(spark, dir).documents).orderBy("doc_id")),
    "pipe_pack_bfd" -> ((spark, dir) =>
      packBestFit(Tables(spark, dir).documents).orderBy("doc_id", "piece")),
    "pipe_chunking" -> ((spark, dir) =>
      chunkDocuments(Tables(spark, dir).documents).orderBy("doc_id", "chunk_idx")),
    "pipe_exact_substr" -> ((spark, dir) =>
      exactSubstrDedup(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_dsir_select" -> ((spark, dir) =>
      dsirSelect(spark, Tables(spark, dir).documents).orderBy("doc_id")),
    "pipe_source_cap" -> ((spark, dir) =>
      sourceCap(Tables(spark, dir).documents).orderBy("doc_id")),
  )

  override val rowsOnly: Map[String, String] = Map(
    "pipe_pack_bfd" -> ("sequential-argmin: best-fit-decreasing packing is order-dependent — no " +
      "replay exists; capacity/coverage spec"),
  )

  val oracles: Map[String, String] = Map(
    // full replay: FNV-hashed uni+bigram buckets, conditional counts,
    // the one floored log-ratio quantization per bucket, integer score
    // sums, rank-based top-k — numerically identical because every
    // per-doc quantity is a long (DuckHashSql.fnv64 replays the hash).
    "pipe_dsir_select" -> {
      import graft.operators.DuckHashSql
      val bucket = s"((((${DuckHashSql.fnv64("t", "length(t)")}) % 1024) + 1024) % 1024)"
      s"""WITH tok AS (
         |  SELECT doc_id, length(text) AS len,
         |    list_filter(regexp_split_to_array(trim(lower(text)), '${"\\s+"}'), w -> len(w) > 0) AS toks
         |  FROM documents),
         |lab AS (
         |  SELECT doc_id, toks,
         |    (len >= 60 AND len(toks) >= 10 AND
         |     CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS DOUBLE)
         |       / len(toks) <= 0.5) AS good
         |  FROM tok),
         |grams AS (
         |  SELECT doc_id, good, unnest(toks) AS t FROM lab
         |  UNION ALL
         |  SELECT doc_id, good, unnest(CASE WHEN len(toks) >= 2
         |    THEN [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]
         |    ELSE []::VARCHAR[] END) AS t FROM lab),
         |feat AS (SELECT doc_id, good, $bucket AS b FROM grams),
         |counts AS (
         |  SELECT b, sum(CASE WHEN good THEN 1 ELSE 0 END)::BIGINT AS cp,
         |         count(*)::BIGINT AS cq
         |  FROM feat GROUP BY b),
         |tot AS (SELECT sum(cp)::BIGINT AS tp, sum(cq)::BIGINT AS tq FROM counts),
         |lam AS (
         |  SELECT b, CAST(floor((ln((cp + 0.5) / (tp + 0.5 * 1024))
         |                      - ln((cq + 0.5) / (tq + 0.5 * 1024))) * 10000 + 0.5) AS BIGINT) AS lam
         |  FROM counts, tot),
         |sc AS (
         |  SELECT f.doc_id, sum(l.lam)::BIGINT AS score_fp
         |  FROM feat f JOIN lam l USING (b) GROUP BY f.doc_id),
         |scored AS (
         |  SELECT lab.doc_id, coalesce(sc.score_fp, 0)::BIGINT AS score_fp
         |  FROM lab LEFT JOIN sc ON lab.doc_id = sc.doc_id),
         |rk AS (
         |  SELECT doc_id, score_fp,
         |    row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rn
         |  FROM scored)
         |SELECT doc_id, score_fp, round(score_fp / 10000.0, 4) AS logw, rn <= 100 AS selected
         |FROM rk ORDER BY doc_id""".stripMargin
    },

    // full replay: gram fingerprints via the complete XXH64 string
    // algorithm (DuckHashSql.xxh64StrSql — Spark's xxhash64, seed 42),
    // global first-occurrence rank, per-token span-coverage rebuild.
    "pipe_exact_substr" -> {
      import graft.operators.DuckHashSql
      s"""WITH ww AS (
         |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '${"\\s+"}') AS w
         |  FROM documents),
         |gsrc AS (
         |  SELECT doc_id, w, unnest(range(1, len(w) - 8)) AS gi
         |  FROM ww WHERE len(w) >= 10),
         |grams AS (
         |  SELECT doc_id, gi::BIGINT AS pos,
         |    ${DuckHashSql.xxh64StrSql("array_to_string(w[gi:gi+9], ' ')")} AS g
         |  FROM gsrc),
         |rnk AS (
         |  SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |  FROM grams),
         |drops AS (
         |  SELECT doc_id, list_sort(list(pos)) AS dps FROM rnk WHERE rn > 1 GROUP BY doc_id),
         |fin AS (
         |  SELECT ww.doc_id, w,
         |    CASE WHEN dps IS NULL THEN range(1, len(w)+1)
         |         ELSE list_filter(range(1, len(w)+1), j ->
         |                len(list_filter(dps, p -> p <= j AND j < p + 10)) = 0) END AS keep_idx
         |  FROM ww LEFT JOIN drops ON ww.doc_id = drops.doc_id)
         |SELECT doc_id, len(w)::BIGINT AS n_tok, len(keep_idx)::BIGINT AS n_kept,
         |  coalesce(array_to_string(list_transform(keep_idx, j -> w[j]), ' '), '') AS clean_text
         |FROM fin ORDER BY doc_id""".stripMargin
    },

    // the salted prefilter is semantically transparent (it only drops
    // rows that cannot be in the source top-k), so the oracle is the
    // plain single-window form.
    "pipe_source_cap" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    (CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) * 10000)
        |      // greatest(length(text), 1) AS q_fp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, q_fp,
        |    row_number() OVER (PARTITION BY source ORDER BY q_fp DESC, doc_id) AS rn
        |  FROM q)
        |SELECT doc_id, source, q_fp,
        |  CASE WHEN rn <= 50 THEN CAST(rn AS BIGINT) END AS src_rank,
        |  rn <= 50 AS kept
        |FROM r ORDER BY doc_id""".stripMargin,

    "pipe_pii_scrub" ->
      """WITH src AS (
        |  SELECT c_custkey,
        |         c_name || ' contact ' || lower(c_name) || '@example.com tel 555-0' || CAST(c_custkey AS VARCHAR) || ' id 123-45-6789' AS txt
        |  FROM customer WHERE c_custkey < 500)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(txt, '[a-zA-Z0-9#._-]+@[a-zA-Z0-9.-]+')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(txt, '555-[0-9]{4,8}')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(txt, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
        |  regexp_replace(regexp_replace(regexp_replace(txt,
        |    '[a-zA-Z0-9#._-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4,8}', '<PHONE>', 'g'),
        |    '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<ID>', 'g') AS scrubbed
        |FROM src ORDER BY c_custkey""".stripMargin,

    "pipe_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         [list_aggregate(ws[i:i+2], 'string_agg', ' ') for i in generate_series(1, len(ws) - 2)] AS g3
        |  FROM w WHERE len(ws) >= 3)
        |SELECT doc_id,
        |  CAST(len(g3) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6) AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    "pipe_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |ok AS (SELECT * FROM w WHERE len(ws) >= 8),
        |bench AS (
        |  SELECT DISTINCT list_aggregate(ws[1:8], 'string_agg', ' ') AS g
        |  FROM ok WHERE doc_id % 97 = 0),
        |grams AS (
        |  SELECT doc_id,
        |         unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ') for i in generate_series(1, len(ws) - 7)]) AS g
        |  FROM ok WHERE doc_id % 97 <> 0)
        |SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)
        |ORDER BY doc_id""".stripMargin,

    // P58: full-gram benchmark set (unlike P24's first-8-token
    // signatures), position-counted hits, integer ppm + threshold.
    "pipe_overlap_frac" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |ok AS (SELECT * FROM w WHERE len(ws) >= 8),
        |bench AS (
        |  SELECT DISTINCT unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ')
        |    for i in generate_series(1, len(ws) - 7)]) AS g
        |  FROM ok WHERE doc_id % 97 = 0),
        |grams AS (
        |  SELECT doc_id,
        |         unnest([list_aggregate(ws[i:i+7], 'string_agg', ' ')
        |           for i in generate_series(1, len(ws) - 7)]) AS g
        |  FROM ok WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |  FROM grams JOIN bench USING (g) GROUP BY doc_id),
        |base AS (
        |  SELECT doc_id, CAST(len(ws) - 7 AS BIGINT) AS n_grams
        |  FROM ok WHERE doc_id % 97 <> 0)
        |SELECT b.doc_id, b.n_grams, coalesce(h.n_hit, 0) AS n_hit,
        |  coalesce(h.n_hit, 0) * 1000000 // b.n_grams AS overlap_ppm,
        |  coalesce(h.n_hit, 0) * 100 <= b.n_grams * 20 AS keep
        |FROM base b LEFT JOIN hits h USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    "pipe_pack_sequences" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, shard, n_tok,
        |  CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS start_off,
        |  CAST(floor(CAST(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS DOUBLE) / 512) AS BIGINT) AS pack_id
        |FROM base ORDER BY doc_id""".stripMargin,

    "pipe_chunking" ->
      """WITH w AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE len(string_split_regex(trim(lower(text)), '\s+')) >= 1),
        |starts AS (
        |  SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, 6)) AS start FROM w)
        |SELECT doc_id,
        |  CAST(start // 6 AS BIGINT) AS chunk_idx,
        |  CAST(len(ws[start + 1 : start + 8]) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[start + 1 : start + 8], ' ') AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_idx""".stripMargin,
  )
}
