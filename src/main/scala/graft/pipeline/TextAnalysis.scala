package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheSlot, Tables}

/** Text analysis for training-data pipelines (SURVEY.md §2 P9–P12):
  * language ID (marker-word scoring), quality scoring (length/alpha/
  * stopword ratios), token counting (whitespace + BPE-ish regex), and
  * rolling-hash document fingerprints. Everything is per-row builtin
  * column algebra — embarrassingly parallel, scan-bound at 100 TB.
  */
object TextAnalysis extends graft.QueryModule {

  private def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  private def countIn(ws: Column, set: Seq[String]): Column =
    size(filter(ws, w => set.map(s => w === s).reduce(_ || _))).cast("long")

  /** Marker-word language scores; argmax with a fixed priority order.
    * (n-gram-frequency heuristic reduced to marker tokens — deterministic
    * and SQL-mirrorable; swap the marker table for real profiles.) */
  def languageId(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    val sEn = countIn(w, Seq("the", "a"))
    val sDe = countIn(w, Seq("der", "die", "das"))
    val sFr = countIn(w, Seq("le", "la", "les"))
    val sEs = countIn(w, Seq("el", "los", "las"))
    val sZh = countIn(w, Seq("的", "了"))
    docs.select(col("doc_id"), col("lang"),
      sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"), sZh.as("s_zh"))
      .withColumn("lang_pred",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es"), col("s_zh")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es"), col("s_zh")), "de")
          .when(col("s_fr") >= greatest(col("s_es"), col("s_zh")), "fr")
          .when(col("s_es") >= col("s_zh"), "es")
          .otherwise("zh"))
  }

  /** Length / alphabetic / stopword quality features + a blended score. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val text = col("text")
    val w = words(text)
    val nWords = size(w).cast("long")
    val nChars = length(text).cast("long")
    val nNonSpace = length(regexp_replace(text, "\\s", "")).cast("long")
    val nAlpha = length(regexp_replace(lower(text), "[^a-z]", "")).cast("long")
    val nStop = countIn(w, Seq("the", "a"))
    docs.select(col("doc_id"), nChars.as("n_chars_m"), nWords.as("n_words"),
        nNonSpace.as("n_nonspace"), nAlpha.as("n_alpha"), nStop.as("n_stop"))
      .withColumn("avg_word_len",
        round(col("n_nonspace").cast("double") / col("n_words"), 4))
      .withColumn("alpha_ratio",
        round(col("n_alpha").cast("double") / col("n_chars_m"), 4))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_words"), 4))
  }

  /** Whitespace and BPE-ish regex token counts. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val lower_ = lower(col("text"))
    docs.select(col("doc_id"),
      size(split(trim(lower_), "\\s+")).cast("long").as("n_ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .cast("long").as("n_re_tokens"))
  }

  /** Rolling-hash fingerprint + simhash per doc (custom codegen exprs). */
  def fingerprints(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("fingerprint64", col("text")).as("fp64"),
      call_function("simhash64", words(col("text"))).as("simhash"))
  }

  /** P31: language-model quality scoring, CCNet-style — the standard
    * corpus-filtering signal a rule-based quality score (P10) can't
    * give: docs whose token distribution diverges from the corpus get
    * high cross-entropy (boilerplate, gibberish, wrong-language text).
    * CCNet uses a pretrained KenLM; self-contained twin: an add-alpha
    * unigram LM TRAINED ON THE CORPUS ITSELF with a bounded top-V
    * vocabulary (everything else is OOV mass).
    *
    * Scale shape (the IVF-assignment pattern): training is one
    * vocabulary-bounded groupBy + a global TopN; the vocab folds into
    * ONE map row (O(V) bytes) crossJoin-broadcast to every partition;
    * each doc computes -mean ln P(w) with a sequential higher-order
    * fold over its own tokens. ZERO corpus-wide shuffles — at 100 TB
    * the scoring pass is scan-bound, exactly like P9–P12. */
  def lmScore(docs: DataFrame, vocabSize: Int = 100, alpha: Double = 0.5): DataFrame = {
    val toks = filter(words(col("text")), w => length(w) > 0)
    val tokDocs = docs.select(col("doc_id"), toks.as("toks"))
    val vocab = tokDocs.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(vocabSize)
    // denominator uses the FULL corpus token count (OOV included) plus
    // alpha*(V+1) smoothing mass — one single-row aggregate
    val totals = tokDocs.agg(sum(size(col("toks"))).cast("double").as("t_total"))
    val vrow = vocab
      .agg(map_from_entries(array_sort(collect_list(struct(col("word"), col("c"))))).as("vmap"))
      .crossJoin(totals)
    val denom = s"(t_total + $alpha * ${vocabSize + 1})"
    tokDocs.crossJoin(broadcast(vrow))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
        expr(
          s"""aggregate(toks, CAST(0.0 AS DOUBLE),
             |  (acc, w) -> acc - ln((coalesce(CAST(vmap[w] AS DOUBLE), 0.0) + $alpha) / $denom))"""
            .stripMargin).as("nll_sum"))
      .select(col("doc_id"), col("n_tok"),
        round(col("nll_sum") / greatest(col("n_tok"), lit(1L)), 4).as("ce"))
  }

  /** P34: discriminative quality classifier — the third member of the
    * quality family (P10 rule gates, P31 LM perplexity, P34 learned).
    * Production pipelines (CCNet, LLaMA) train a linear classifier
    * (fasttext) on weak labels and filter on its score; self-contained
    * twin: a Rocchio / nearest-centroid classifier in hashed-token
    * space, trained on THIS corpus with the P10-style rule gates as the
    * weak labels — the standard weak-supervision bootstrap.
    *
    * Scale shape (the P31 pattern): training is one groupBy bounded by
    * the feature dimension (D=4096 rows out of the shuffle), the weight
    * vector folds into ONE map row crossJoin-broadcast everywhere, and
    * scoring is a row-local integer fold over each doc's own buckets —
    * zero corpus-wide shuffles.
    *
    * Numerics are integer-exact end to end so the result is identical
    * under any shuffle order AND in the DuckDB oracle: per-doc tf
    * contribution is iv = 1e6 DIV n_tok (integer), the class-balanced
    * weight w_j = B*sum_good(iv) - G*sum_bad(iv) is a sum of longs, the
    * per-doc raw score is a long sum of w over token buckets, and ONE
    * long->double conversion at the end produces the reported score.
    * (|w| <= n_docs^2 * 1e7 bounds the long at the demo corpus sizes; a
    * 1e9-doc deployment would drop the G*B class balancing into double
    * averages and lose the exact oracle, not the algorithm.) */
  def qualityClassifier(spark: SparkSession, docs: DataFrame, dim: Int = 4096): DataFrame = {
    val ws = words(col("text"))
    val base = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"),
      ws.as("toks"), size(ws).cast("long").as("n_tok"),
      countIn(ws, Seq("the", "a")).as("n_stop"))
      .withColumn("good",
        col("len") >= 60 && col("n_tok") >= 10 &&
          col("n_stop").cast("double") / col("n_tok") <= 0.5)
      .withColumn("iv", expr("1000000 DIV n_tok"))
      .withColumn("buckets",
        expr(s"transform(toks, t -> pmod(fnv_hash(t), ${dim}L))"))
    val counts = base.agg(
      sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
      sum(when(!col("good"), 1L).otherwise(0L)).as("n_bad"))
    val train = base.select(col("good"), col("iv"), explode(col("buckets")).as("b"))
      .crossJoin(broadcast(counts))
      .groupBy("b")
      .agg(sum(when(col("good"), greatest(col("n_bad"), lit(1L)) * col("iv"))
        .otherwise(-greatest(col("n_good"), lit(1L)) * col("iv"))).as("w"))
    val wrow = train.agg(
      map_from_entries(array_sort(collect_list(struct(col("b"), col("w"))))).as("wmap"))
    base.crossJoin(broadcast(wrow))
      .select(col("doc_id"), col("iv"),
        expr("aggregate(buckets, CAST(0 AS BIGINT), (acc, b) -> acc + coalesce(wmap[b], CAST(0 AS BIGINT)))")
          .as("raw"))
      .select(col("doc_id"),
        round(col("raw").cast("double") * col("iv").cast("double") / 1.0e12, 6).as("score"),
        (col("raw") > 0L).as("keep"))
  }

  /** P40: CCNet-style perplexity bucketing (Wenzek et al. 2020) — the
    * selection step CCNet runs after language ID: score every document
    * under a language model trained on a TARGET corpus (CCNet uses
    * Wikipedia; here the weak-label "good" docs, the same bootstrap the
    * P34 classifier and P36 DSIR use), then split the corpus into
    * head / middle / tail perplexity thirds. Head ≈ target-like text,
    * tail ≈ noise; pipelines train on head+middle or reweight by
    * bucket.
    *
    * The model is a smoothed bigram LM over hashed buckets: per-bigram
    * cost = ln(cu(h(w1)) + αD) − ln(cb(h(w1 w2)) + α), clamped at 0
    * (hash collisions can push the ratio past probability 1). Numerics
    * follow the P36 recipe — each per-bucket log term is quantized ONCE
    * (floor(ln·scale + 0.5) as long, never per doc), per-doc NLL is a
    * long sum, and the per-token score is integer division — so scores
    * are shuffle-order-independent and DuckDB replays them exactly.
    * Bucket thresholds are the n/3 and 2n/3 order statistics of the
    * quantized score, computed from the score HISTOGRAM (bounded: the
    * score domain is quantized), folded in one row — no corpus-wide
    * sort, no unpartitioned window.
    *
    * Scale shape: training groupBys are bounded by the 2·D bucket
    * domain; both cost maps fold into ONE broadcast row; scoring is a
    * row-local fold; the histogram shuffle carries one row per distinct
    * score; thresholds broadcast back as one row. Zero corpus-wide
    * shuffles. */
  private val pplSlot = new java.util.concurrent.atomic.AtomicReference[DataFrame]

  def perplexityBuckets(spark: SparkSession, docs: DataFrame, dim: Int = 1024,
                        alpha: Double = 0.5, scale: Long = 10000L): DataFrame = {
    val ws = words(col("text"))
    val a0 = math.floor(math.log(alpha) * scale + 0.5).toLong
    val b0 = math.floor(math.log(alpha * dim) * scale + 0.5).toLong
    val base = docs.select(col("doc_id"), length(col("text")).cast("long").as("len"),
        filter(ws, w => length(w) > 0).as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok") >= 2)
      .withColumn("good",
        col("len") >= 60 && col("n_tok") >= 10 &&
          size(filter(col("toks"), w => w === "the" || w === "a")).cast("double") /
            col("n_tok") <= 0.5)
      .withColumn("hu", expr(
        s"transform(slice(toks, 1, size(toks) - 1), t -> pmod(fnv_hash(t), ${dim}L))"))
      .withColumn("hb", expr(
        s"""transform(sequence(1, size(toks) - 1),
           |  i -> pmod(fnv_hash(concat_ws(' ', element_at(toks, i), element_at(toks, i + 1))), ${dim}L))""".stripMargin))
    // unigram and bigram counts in ONE tagged aggregation (one training
    // scan, one bucket-bounded shuffle), folded into both cost maps in
    // one pass over the <= 2·dim count rows
    val counts = base.filter(col("good")).select(explode(concat(
        expr("transform(hu, b -> named_struct('t', 0, 'b', b))"),
        expr("transform(hb, b -> named_struct('t', 1, 'b', b))"))).as("f"))
      .groupBy(col("f.t").as("t"), col("f.b").as("b")).agg(count(lit(1)).as("c"))
    val wrow = counts.agg(
      map_from_entries(array_sort(collect_list(when(col("t") === 0,
        struct(col("b"), floor(log(col("c") + alpha * dim) * scale + 0.5).cast("long")))))).as("bmap"),
      map_from_entries(array_sort(collect_list(when(col("t") === 1,
        struct(col("b"), floor(log(col("c") + alpha) * scale + 0.5).cast("long")))))).as("amap"))
    // scored feeds BOTH the threshold histogram and the final output —
    // persist it (3 longs per doc, far smaller than the corpus) so the
    // tokenize+hash+fold scan runs once, slot-replaced per §5.12
    val scored = CacheSlot.replace(base.crossJoin(broadcast(wrow))
      .select(col("doc_id"), (col("n_tok") - 1).as("n_big"),
        expr(
          s"""CAST(aggregate(sequence(1, CAST(n_tok AS INT) - 1), CAST(0 AS BIGINT),
             |  (acc, i) -> acc + greatest(
             |    coalesce(bmap[element_at(hu, i)], ${b0}L) -
             |    coalesce(amap[element_at(hb, i)], ${a0}L), CAST(0 AS BIGINT))) AS BIGINT)""".stripMargin)
          .as("nll_fp"))
      .withColumn("ppl_bp", expr(s"(nll_fp * 10000) DIV (${scale}L * n_big)")),
      pplSlot)
    val thr = scored.groupBy("ppl_bp").agg(count(lit(1)).as("cnt"))
      .agg(sort_array(collect_list(struct(col("ppl_bp").as("p"), col("cnt").as("c")))).as("hs"))
      .select(expr(
        """aggregate(hs,
          |  named_struct('cum', CAST(0 AS BIGINT),
          |    'n1', (aggregate(hs, CAST(0 AS BIGINT), (a, h) -> a + h.c) + 2) DIV 3,
          |    'n2', (2 * aggregate(hs, CAST(0 AS BIGINT), (a, h) -> a + h.c) + 2) DIV 3,
          |    't1', CAST(NULL AS BIGINT), 't2', CAST(NULL AS BIGINT)),
          |  (acc, h) -> named_struct('cum', acc.cum + h.c, 'n1', acc.n1, 'n2', acc.n2,
          |    't1', IF(acc.t1 IS NULL AND acc.cum + h.c >= acc.n1, h.p, acc.t1),
          |    't2', IF(acc.t2 IS NULL AND acc.cum + h.c >= acc.n2, h.p, acc.t2)),
          |  acc -> named_struct('t1', acc.t1, 't2', acc.t2))""".stripMargin).as("t"))
      .select(col("t.t1").as("t1"), col("t.t2").as("t2"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_big"), col("nll_fp"), col("ppl_bp"),
        when(col("ppl_bp") <= col("t1"), "head")
          .when(col("ppl_bp") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** P41: tf-idf keyword extraction — top-k terms per document by
    * tf·idf, the classic signal for topic tagging, per-domain content
    * profiling, and building doc-level keyword indexes over a training
    * corpus. idf is quantized ONCE per term (floor(ln((n+1)/(df+1))·1e4
    * + 0.5) as long — the P36 recipe), scores are long products, and
    * the per-doc cut is (score desc, term asc) — deterministic and
    * DuckDB-replayable.
    *
    * Scale shape: per-doc term frequencies are computed ROW-LOCALLY
    * (sort the token array once, O(n log n), then run-length the
    * sorted runs) — the corpus token stream is never shuffled for tf.
    * df is one vocabulary-bounded aggregation (map-side partials
    * bound each partition's contribution by its own vocab), and idf
    * attaches via an equi-join on the term — NOT a broadcast map,
    * because a 100 TB corpus's vocabulary does not fit on one
    * executor. The final top-k is a per-doc collect bounded by the
    * doc's own distinct-term count. */
  def tfidfTerms(docs: DataFrame, k: Int = 5): DataFrame = {
    val ws = words(col("text"))
    val base = docs.select(col("doc_id"), filter(ws, w => length(w) > 0).as("toks"))
      .filter(size(col("toks")) >= 1)
    val tf = base
      .withColumn("sorted", array_sort(col("toks")))
      .withColumn("starts", expr(
        "filter(sequence(1, size(sorted)), i -> i = 1 OR element_at(sorted, i) <> element_at(sorted, i - 1))"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(starts)), j -> named_struct(
          |  'term', element_at(sorted, element_at(starts, j)),
          |  'tf', CAST(IF(j < size(starts), element_at(starts, j + 1), size(sorted) + 1)
          |             - element_at(starts, j) AS BIGINT)))""".stripMargin)).as("e"))
      .select(col("doc_id"), col("e.term").as("term"), col("e.tf").as("tf"))
    val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nrow = base.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfx, Seq("term"))
      .crossJoin(broadcast(nrow))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * floor(log((col("n") + 1.0) / (col("df") + 1.0)) * 10000 + 0.5).cast("long"))
          .as("score_fp"))
    scored.groupBy("doc_id")
      .agg(expr(s"""slice(array_sort(collect_list(named_struct(
        |  'ns', -score_fp, 'term', term, 'tf', tf, 'df', df, 'score_fp', score_fp))), 1, $k)""".stripMargin)
        .as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("doc_id"), (col("p") + 1).cast("long").as("rk"),
        col("e.term").as("term"), col("e.tf").as("tf"), col("e.df").as("df"),
        col("e.score_fp").as("score_fp"))
  }

  /** P42: the published Gopher document-quality ruleset (Rae et al.
    * 2021, §A1.1) as per-rule verdicts + a combined keep flag. Every
    * rule is evaluated in INTEGER space (`10*symbols <= words`, never
    * `symbols/words <= 0.1`): ratio thresholds on doubles are
    * engine-dependent at the boundary, integer comparisons are exact in
    * any engine — which is what makes this row-exact against the DuckDB
    * oracle. Per-row column algebra only: scan-bound, embarrassingly
    * parallel at 100 TB.
    *
    * Rules: word count in [50, 100000]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' and '...') <= 0.1; >= 80% of words
    * contain an alphabetic char; <= 90% of lines bullet-led; <= 30% of
    * lines ellipsis-ended (Rae et al. A1.1 removes only documents with
    * MORE than 90%/30%, so exactly-at-threshold is kept); >= 2 distinct
    * members of the 8-stopword set.
    */
  def gopherRules(docs: DataFrame): DataFrame = {
    val text = col("text")
    val w = words(text)
    val lines = split(text, "\n")
    val nWords = size(w).cast("long")
    // words() partitions the non-space text, so sum(word lengths) ==
    // count of non-space chars — one regexp instead of a lambda fold.
    val sumWordLen = length(regexp_replace(text, "\\s", "")).cast("long")
    val nAlphaWords = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
    val stopSet = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStopKinds =
      stopSet.map(s => when(array_contains(w, s), 1L).otherwise(lit(0L))).reduce(_ + _)
    val nHash = (length(text) - length(translate(text, "#", ""))).cast("long")
    val nEllipsis =
      ((length(text) - length(expr("replace(text, '...', '')"))) / 3).cast("long")
    val nLines = size(lines).cast("long")
    val bulletLed = Seq("• ", "- ", "* ")
    val nBullet = size(filter(lines, l =>
      bulletLed.map(p => ltrim(l).startsWith(p)).reduce(_ || _))).cast("long")
    val nEllLine = size(filter(lines, l => rtrim(l).endsWith("..."))).cast("long")
    docs.select(col("doc_id"), nWords.as("n_words"), sumWordLen.as("sum_word_len"),
        nAlphaWords.as("n_alpha_words"), nStopKinds.as("n_stop_kinds"),
        (nHash + nEllipsis).as("n_symbols"), nLines.as("n_lines"),
        nBullet.as("n_bullet_lines"), nEllLine.as("n_ellipsis_lines"))
      .withColumn("r_word_count", col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_word_len",
        col("sum_word_len") >= col("n_words") * 3 &&
          col("sum_word_len") <= col("n_words") * 10)
      .withColumn("r_symbol_ratio", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("r_alpha_words", col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("r_bullet", col("n_bullet_lines") * 10 <= col("n_lines") * 9)
      .withColumn("r_ellipsis", col("n_ellipsis_lines") * 10 <= col("n_lines") * 3)
      .withColumn("r_stop_words", col("n_stop_kinds") >= 2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
          col("r_alpha_words") && col("r_bullet") && col("r_ellipsis") &&
          col("r_stop_words"))
  }

  /** P45: the C4 cleaning ruleset (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning...", §2.2), the companion to P42's
    * Gopher rules — C4 is LINE-oriented where Gopher is ratio-oriented.
    * Line filters (a line survives if it ends in a terminal punctuation
    * mark `.` `!` `?` `"`, has >= 5 whitespace words, and does not
    * mention "javascript"); page filters (>= 3 sentences counted as
    * terminal marks in the ORIGINAL text, no "lorem ipsum", no `{`, no
    * word from the bad-word list — a fixed 3-token stand-in here for
    * the paper's external blocklist). The paper's remaining rule, exact
    * three-sentence-span dedup, is the P35 exact-substring operator.
    *
    * Everything is counting, membership, and string equality — no
    * ratios, no doubles — so DuckDB replays every verdict bit-for-bit.
    * Per-row column algebra only: scan-bound at 100 TB.
    */
  def c4Rules(docs: DataFrame): DataFrame = {
    val text = col("text")
    val lines = split(text, "\n")
    val lineWords = (l: Column) => filter(split(trim(l), "\\s+"), w => length(w) > 0)
    val keptLines = filter(lines, l =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(lineWords(l)) >= 5 &&
        !contains(lower(l), lit("javascript")))
    val w = words(text)
    val badWords = Seq("badword", "slur", "obscenity")
    val nSentences =
      (length(text) - length(translate(text, ".!?", ""))).cast("long")
    docs.select(col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(keptLines).cast("long").as("n_kept_lines"),
        nSentences.as("n_sentences"),
        contains(lower(text), lit("lorem ipsum")).as("has_lorem"),
        contains(text, lit("{")).as("has_brace"),
        badWords.map(b => array_contains(w, b)).reduce(_ || _).as("has_badword"),
        concat_ws("\n", keptLines).as("clean_text"))
      .withColumn("keep",
        col("n_sentences") >= 3 && !col("has_lorem") && !col("has_brace") &&
          !col("has_badword"))
  }

  /** Reflow a single-space-separated document into fixed-width lines
    * and paragraphs (`wordsPerLine` words per line joined by `\n`,
    * `linesPerPara` lines per paragraph joined by `\n\n`) — the P48
    * reflow adapter extended one grain up, so the synthetic corpus
    * (which carries no newlines) exercises the line/paragraph rules of
    * [[gopherRepetition]]. Deterministic string algebra both engines
    * replay identically; the operator itself works on real newlines. */
  def reflowParagraphs(docs: DataFrame, wordsPerLine: Int = 3,
                       linesPerPara: Int = 4): DataFrame = {
    // compiled one-pass reflow (graft.functions.ReflowImpl): the
    // equivalent nested transform/slice/array_join composition runs
    // interpreted and recomputes the line array once per paragraph —
    // ~0.5 ms/row, the dominant cost of the whole P53 query before
    docs.select(col("doc_id"),
      call_function("reflow_paragraphs", col("text"),
        lit(wordsPerLine), lit(linesPerPara)).as("text"))
  }

  /** P53: the Gopher REPETITION ruleset (Rae et al. 2021 §A1.1,
    * Table A1) — the other half of the published filter, complementing
    * P42's quality rules (word counts, ratios, stopwords). A document
    * is removed when too much of it is self-repetition:
    *
    *   - duplicate line / paragraph FRACTION > 0.30 (lines and
    *     paragraphs beyond the first occurrence of their text);
    *   - duplicate line / paragraph CHARACTER fraction > 0.20 (chars in
    *     those repeated occurrences over all line/paragraph chars);
    *   - top 2-/3-/4-gram character fraction > 0.20 / 0.18 / 0.16
    *     (chars across every occurrence of the single most frequent
    *     n-gram; count ties break to earliest first occurrence);
    *   - duplicate 5..10-gram character fraction > 0.15 / 0.14 / 0.13 /
    *     0.12 / 0.11 / 0.10 — character COVERAGE of positions spanned
    *     by any n-gram occurring twice or more, each position counted
    *     once (the paper's definition; occurrences×length would
    *     double-count overlapping repeats).
    *
    * Every verdict is an integer comparison (`chars·100 <= thr·total`),
    * never a double ratio, and exactly-at-threshold documents are KEPT
    * (Rae et al. remove strictly-greater — the ADVICE r7 boundary
    * convention P42 follows). Gram statistics come from ONE compiled
    * row-local expression pass ([[graft.functions.RepStatsImpl]]);
    * line/paragraph stats are bounded array algebra. Per-row, scan-
    * bound, zero shuffles at any corpus size. */
  def gopherRepetition(spark: SparkSession, docs: DataFrame): DataFrame = {
    val text = col("text")
    // All three statistic families are compiled single-pass expressions
    // (graft.functions.RepStatsImpl / DupStatsImpl): the builtin
    // filter/aggregate/array_distinct composition runs INTERPRETED per
    // array element, and each struct materializes in its own projection
    // so the 13 field reads never re-run a pass (7.9 s → sub-second at
    // sf0.1 — the §5 rule-13 lesson, third sighting).
    val withSt = docs.select(col("doc_id"),
      call_function("dup_stats", split(text, "\n")).as("lst"),
      call_function("dup_stats", split(text, "\n\n")).as("pst"),
      call_function("gopher_rep_stats", words(text)).as("st"))
    val base = withSt.select(col("doc_id"),
      col("lst.n").as("n_lines"), col("lst.n_dup").as("n_dup_lines"),
      col("lst.chars").as("line_chars"), col("lst.dup_chars").as("dup_line_chars"),
      col("pst.n").as("n_paras"), col("pst.n_dup").as("n_dup_paras"),
      col("pst.chars").as("para_chars"), col("pst.dup_chars").as("dup_para_chars"),
      col("st.total_chars").as("total_chars"),
      col("st.top2_occ").as("top2_occ"), col("st.top2_chars").as("top2_chars"),
      col("st.top3_occ").as("top3_occ"), col("st.top3_chars").as("top3_chars"),
      col("st.top4_occ").as("top4_occ"), col("st.top4_chars").as("top4_chars"),
      col("st.dup5_chars").as("dup5_chars"), col("st.dup6_chars").as("dup6_chars"),
      col("st.dup7_chars").as("dup7_chars"), col("st.dup8_chars").as("dup8_chars"),
      col("st.dup9_chars").as("dup9_chars"), col("st.dup10_chars").as("dup10_chars"))
    val ruled = base
      .withColumn("r_dup_line", col("n_dup_lines") * 10 <= col("n_lines") * 3)
      .withColumn("r_dup_para", col("n_dup_paras") * 10 <= col("n_paras") * 3)
      .withColumn("r_dup_line_char", col("dup_line_chars") * 5 <= col("line_chars"))
      .withColumn("r_dup_para_char", col("dup_para_chars") * 5 <= col("para_chars"))
      .withColumn("r_top2", col("top2_chars") * 100 <= col("total_chars") * 20)
      .withColumn("r_top3", col("top3_chars") * 100 <= col("total_chars") * 18)
      .withColumn("r_top4", col("top4_chars") * 100 <= col("total_chars") * 16)
      .withColumn("r_dup5", col("dup5_chars") * 100 <= col("total_chars") * 15)
      .withColumn("r_dup6", col("dup6_chars") * 100 <= col("total_chars") * 14)
      .withColumn("r_dup7", col("dup7_chars") * 100 <= col("total_chars") * 13)
      .withColumn("r_dup8", col("dup8_chars") * 100 <= col("total_chars") * 12)
      .withColumn("r_dup9", col("dup9_chars") * 100 <= col("total_chars") * 11)
      .withColumn("r_dup10", col("dup10_chars") * 100 <= col("total_chars") * 10)
    ruled.withColumn("keep",
      Seq("r_dup_line", "r_dup_para", "r_dup_line_char", "r_dup_para_char",
        "r_top2", "r_top3", "r_top4", "r_dup5", "r_dup6", "r_dup7", "r_dup8",
        "r_dup9", "r_dup10").map(col).reduce(_ && _))
  }

  // ---- queries()/oracle entries -------------------------------------

  /** P64: VOCABULARY GROWTH audit (Heaps 1978; Baeza-Yates &
    * Ribeiro-Neto 1999 §6.3): distinct word-bigram vocabulary V(n) at
    * nested deterministic corpus samples (doc_id % 16 == 0 ⊂ % 4 == 0
    * ⊂ all), with the fitted Heaps exponent beta = Δlog V / Δlog n
    * between consecutive levels. This is the capacity-planning input
    * for every df-bounded structure in the library (containment
    * inverted index, LSH bands, heavy-hitter sketches): the round-9
    * scale sweep measured exactly why it matters — a corpus whose
    * vocabulary does NOT grow (beta → 0) drives per-gram df ∝ n and
    * df-bounded index work quadratic (SURVEY §6.9), and beta tells an
    * operator that BEFORE it builds the index. Nesting makes levels
    * comparable; counts are exact longs from ONE gram shuffle
    * (per-gram conditional partials, no per-level re-scan), beta
    * rounds to 6 like every transcendental on the oracle surface. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', slice(w, i, 2)))")).as("g"))
    val perGram = grams.groupBy("g").agg(
      sum(when(col("doc_id") % 16 === 0, 1L).otherwise(0L)).as("t16"),
      sum(when(col("doc_id") % 4 === 0, 1L).otherwise(0L)).as("t4"),
      count(lit(1)).as("t1"))
    val one = perGram.agg(
      sum(col("t16")).as("tok16"),
      sum(when(col("t16") > 0, 1L).otherwise(0L)).as("v16"),
      sum(col("t4")).as("tok4"),
      sum(when(col("t4") > 0, 1L).otherwise(0L)).as("v4"),
      sum(col("t1")).as("tok1"), count(lit(1)).as("v1"))
    one.select(explode(array(
        struct(lit(16L).as("sample_denom"), col("tok16").as("n_tokens"),
          col("v16").as("n_vocab"), lit(null).cast("double").as("beta")),
        // beta only when the PREDECESSOR level is non-empty: a corpus
        // with no %16 docs (or all <2-word ones) would otherwise emit
        // Inf/Inf = NaN — a meaningless number where "level empty"
        // should read as NULL, like the no-predecessor first level
        // (round-10 ADVICE). Mirrored in the DuckDB oracle.
        struct(lit(4L).as("sample_denom"), col("tok4").as("n_tokens"),
          col("v4").as("n_vocab"),
          when(col("v16") > 0 && col("tok16") > 0,
            round(log(col("v4").cast("double") / col("v16")) /
              log(col("tok4").cast("double") / col("tok16")), 6)).as("beta")),
        struct(lit(1L).as("sample_denom"), col("tok1").as("n_tokens"),
          col("v1").as("n_vocab"),
          when(col("v4") > 0 && col("tok4") > 0,
            round(log(col("v1").cast("double") / col("v4")) /
              log(col("tok1").cast("double") / col("tok4")), 6)).as("beta")))).as("r"))
      .select(col("r.sample_denom"), col("r.n_tokens"), col("r.n_vocab"), col("r.beta"))
  }

  val queries: Map[String, Q] = Map(
    // r16 input spread (Tables.documentsSpread): row-local tokenize/
    // regex work dominates these — interleaved A/B wins 1.15–2.4×
    // (bench_control_r16c.json); text_tokens/text_c4_rules and the
    // aggregate-bound text queries measured flat-or-worse and keep the
    // bare scan.
    "text_vocab_growth" -> ((spark, dir) =>
      vocabGrowth(Tables(spark, dir).documentsSpread).orderBy("sample_denom")),
    "text_langid" -> ((spark, dir) =>
      languageId(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "text_quality" -> ((spark, dir) =>
      qualityScore(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "text_tokens" -> ((spark, dir) =>
      tokenCounts(Tables(spark, dir).documents).orderBy("doc_id")),
    "text_fingerprint" -> ((spark, dir) =>
      fingerprints(spark, Tables(spark, dir).documents).orderBy("doc_id")),
    // Misra–Gries vocabulary heavy hitters: k-counter partial summaries
    // per partition, O(k·partitions) shuffle instead of the whole
    // vocabulary. Counts are lower bounds and merge-order dependent →
    // rows-only; the guarantee (every word with freq > n/(k+1) present)
    // is asserted in PipelineSpec.
    "text_lm_perplexity" -> ((spark, dir) =>
      lmScore(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "text_quality_classifier" -> ((spark, dir) =>
      qualityClassifier(spark, Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "text_ppl_buckets" -> ((spark, dir) =>
      perplexityBuckets(spark, Tables(spark, dir).documents).orderBy("doc_id")),
    "text_tfidf_terms" -> ((spark, dir) =>
      tfidfTerms(Tables(spark, dir).documents).orderBy("doc_id", "rk")),
    "text_gopher_rules" -> ((spark, dir) =>
      gopherRules(Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "text_c4_rules" -> ((spark, dir) =>
      c4Rules(Tables(spark, dir).documents).orderBy("doc_id")),
    // P53: the synthetic corpus has no newlines, so the reflow adapter
    // (3-word lines, 4-line paragraphs) gives the line/paragraph rules
    // real grain; gram rules see the unchanged token stream.
    "text_gopher_repetition" -> ((spark, dir) =>
      gopherRepetition(spark, reflowParagraphs(Tables(spark, dir).documentsSpread))
        .orderBy("doc_id")),
    // P18, oracle-exact since r8 via the classic TWO-PASS exact heavy
    // hitter algorithm: pass 1 folds a Misra–Gries summary (k=40
    // counters, O(k) per partition) whose guarantee — every word with
    // frequency > n/(k+1) survives — makes the candidate set
    // recall-complete; pass 2 recounts ONLY the ≤k candidates (equi-
    // join on the broadcast candidate list) and the exact integer
    // threshold freq·(k+1) > total keeps precisely the true heavy
    // hitters. The output is therefore EXACT — DuckDB replays it as a
    // plain GROUP BY + HAVING — while the corpus passes never shuffle
    // more than k counters per partition.
    "text_heavy_hitters" -> ((spark, dir) => {
      import graft.functions.HeavyHitters
      val k = 40
      val toks = Tables(spark, dir).documents
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val cand = toks
        .agg(HeavyHitters.of(col("word"), k).as("cands"), count(lit(1)).as("total"))
        // summary entries are "word:lowerBound" — strip the count tail
        .select(explode(col("cands")).as("entry"), col("total"))
        .select(regexp_replace(col("entry"), ":[0-9]+$", "").as("word"), col("total"))
      toks.join(broadcast(cand), Seq("word"))
        .groupBy("word", "total").agg(count(lit(1)).as("freq"))
        .filter(col("freq") * (k + 1) > col("total"))
        .select(col("word"), col("freq"), col("total"))
        .orderBy(col("freq").desc, col("word"))
    }),
  )

  private val wsSql = """regexp_split_to_array(trim(lower(text)), '\s+')"""

  val oracles: Map[String, String] = Map(
    // P64: exact long counts per nested sample from one conditional
    // aggregation; beta is the only transcendental — ln ratio, round 6.
    "text_vocab_growth" ->
      s"""WITH tok AS (
         |  SELECT doc_id, $wsSql AS w FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
         |  FROM tok WHERE len(w) >= 2),
         |per AS (
         |  SELECT g,
         |    CAST(sum(CASE WHEN doc_id % 16 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t16,
         |    CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t4,
         |    CAST(count(*) AS BIGINT) AS t1
         |  FROM grams GROUP BY g),
         |one AS (
         |  SELECT CAST(sum(t16) AS BIGINT) AS tok16,
         |         CAST(sum(CASE WHEN t16 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v16,
         |         CAST(sum(t4) AS BIGINT) AS tok4,
         |         CAST(sum(CASE WHEN t4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
         |         CAST(sum(t1) AS BIGINT) AS tok1,
         |         CAST(count(*) AS BIGINT) AS v1
         |  FROM per)
         |SELECT CAST(16 AS BIGINT) AS sample_denom, tok16 AS n_tokens,
         |       v16 AS n_vocab, CAST(NULL AS DOUBLE) AS beta FROM one
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), tok4, v4,
         |       CASE WHEN v16 > 0 AND tok16 > 0 THEN
         |         round(ln(CAST(v4 AS DOUBLE) / v16) / ln(CAST(tok4 AS DOUBLE) / tok16), 6)
         |       END
         |FROM one
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), tok1, v1,
         |       CASE WHEN v4 > 0 AND tok4 > 0 THEN
         |         round(ln(CAST(v1 AS DOUBLE) / v4) / ln(CAST(tok1 AS DOUBLE) / tok4), 6)
         |       END
         |FROM one
         |ORDER BY sample_denom""".stripMargin,

    // integer-exact end to end (long tf units, long weights, long raw
    // scores, one double conversion at the end), so DuckDB replays it
    // with plain GROUP BY sums — only the bucket ids need the FNV
    // replay (DuckHashSql.fnv64).
    "text_quality_classifier" -> {
      import graft.operators.DuckHashSql
      val bucket = s"((((${DuckHashSql.fnv64("t", "length(t)")}) % 4096) + 4096) % 4096)"
      s"""WITH feat AS (
         |  SELECT doc_id, length(text) AS len,
         |    regexp_split_to_array(trim(lower(text)), '${"\\s+"}') AS toks
         |  FROM documents),
         |lab AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tok,
         |    (len >= 60 AND len(toks) >= 10 AND
         |     CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS DOUBLE)
         |       / len(toks) <= 0.5) AS good,
         |    1000000 // len(toks) AS iv,
         |    list_transform(toks, t -> $bucket) AS bl
         |  FROM feat),
         |counts AS (
         |  SELECT sum(CASE WHEN good THEN 1 ELSE 0 END)::BIGINT AS n_good,
         |         sum(CASE WHEN NOT good THEN 1 ELSE 0 END)::BIGINT AS n_bad FROM lab),
         |train AS (
         |  SELECT b, sum(CASE WHEN good THEN greatest(n_bad, 1) * iv
         |                     ELSE -greatest(n_good, 1) * iv END)::BIGINT AS w
         |  FROM (SELECT good, iv, unnest(bl) AS b FROM lab), counts
         |  GROUP BY b),
         |scored AS (
         |  SELECT doc_id, iv, sum(coalesce(w, 0))::BIGINT AS raw
         |  FROM (SELECT doc_id, iv, unnest(bl) AS b FROM lab) u
         |  LEFT JOIN train ON u.b = train.b
         |  GROUP BY doc_id, iv)
         |SELECT doc_id, round(raw::DOUBLE * iv::DOUBLE / 1e12, 6) AS score, raw > 0 AS keep
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    // full replay: per-doc term counts, df, the one floored ln
    // quantization per term, long tf·idf products, (score desc, term)
    // per-doc top-k. The Spark side's row-local run-length tf and
    // equi-join idf are semantically plain GROUP BYs to the oracle.
    "text_tfidf_terms" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter($wsSql, w -> len(w) > 0) AS toks
         |  FROM documents),
         |base AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= 1),
         |tf AS (
         |  SELECT doc_id, t AS term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM base) GROUP BY doc_id, t),
         |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
         |tot AS (SELECT count(*)::BIGINT AS n FROM base),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         |    tf.tf * CAST(floor(ln((n + 1.0) / (dfx.df + 1.0)) * 10000 + 0.5) AS BIGINT) AS score_fp
         |  FROM tf JOIN dfx USING (term) CROSS JOIN tot),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_fp DESC, term) AS rk
         |  FROM sc)
         |SELECT doc_id, rk::BIGINT AS rk, term, tf, df, score_fp
         |FROM rk WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    // full replay of the CCNet bucketing: FNV-hashed unigram/bigram
    // buckets, good-only training counts, one floored ln-quantization
    // per bucket (ulp noise absorbed by the 1e4 grid, the P36
    // precedent), clamped long cost sums, integer per-token score, and
    // histogram-derived n/3 / 2n/3 thresholds.
    "text_ppl_buckets" -> {
      import graft.operators.DuckHashSql
      val a0 = math.floor(math.log(0.5) * 10000 + 0.5).toLong
      val b0 = math.floor(math.log(0.5 * 1024) * 10000 + 0.5).toLong
      val bucket = (e: String) =>
        s"((((${DuckHashSql.fnv64(e, s"length($e)")}) % 1024) + 1024) % 1024)"
      s"""WITH tok AS (
         |  SELECT doc_id, length(text) AS len,
         |    list_filter(regexp_split_to_array(trim(lower(text)), '${"\\s+"}'), w -> len(w) > 0) AS toks
         |  FROM documents),
         |base AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS n_tok,
         |    (len >= 60 AND len(toks) >= 10 AND
         |     CAST(len(list_filter(toks, w -> w = 'the' OR w = 'a')) AS DOUBLE)
         |       / len(toks) <= 0.5) AS good
         |  FROM tok WHERE len(toks) >= 2),
         |big0 AS (
         |  SELECT doc_id, good, toks[i] AS u, toks[i] || ' ' || toks[i+1] AS bg
         |  FROM (SELECT doc_id, good, toks, unnest(range(1, len(toks))) AS i FROM base)),
         |big AS (
         |  SELECT doc_id, good, ${bucket("u")} AS hu, ${bucket("bg")} AS hb FROM big0),
         |bm AS (
         |  SELECT hu AS b, CAST(floor(ln(count(*) + 512.0) * 10000 + 0.5) AS BIGINT) AS v
         |  FROM big WHERE good GROUP BY hu),
         |am AS (
         |  SELECT hb AS b, CAST(floor(ln(count(*) + 0.5) * 10000 + 0.5) AS BIGINT) AS v
         |  FROM big WHERE good GROUP BY hb),
         |sc AS (
         |  SELECT big.doc_id,
         |    sum(greatest(coalesce(bm.v, $b0) - coalesce(am.v, $a0), 0))::BIGINT AS nll_fp
         |  FROM big LEFT JOIN bm ON big.hu = bm.b LEFT JOIN am ON big.hb = am.b
         |  GROUP BY big.doc_id),
         |scored AS (
         |  SELECT b.doc_id, (b.n_tok - 1)::BIGINT AS n_big, s.nll_fp,
         |    (s.nll_fp * 10000) // (10000 * (b.n_tok - 1)) AS ppl_bp
         |  FROM base b JOIN sc s USING (doc_id)),
         |tot AS (SELECT count(*)::BIGINT AS n FROM scored),
         |hist AS (SELECT ppl_bp, count(*)::BIGINT AS c FROM scored GROUP BY ppl_bp),
         |cum AS (SELECT ppl_bp, CAST(sum(c) OVER (ORDER BY ppl_bp) AS BIGINT) AS cum FROM hist),
         |thr AS (
         |  SELECT min(CASE WHEN cum >= (n + 2) // 3 THEN ppl_bp END) AS t1,
         |         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN ppl_bp END) AS t2
         |  FROM cum, tot)
         |SELECT doc_id, n_big, nll_fp, ppl_bp,
         |  CASE WHEN ppl_bp <= t1 THEN 'head'
         |       WHEN ppl_bp <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM scored, thr ORDER BY doc_id""".stripMargin
    },
    // winnowing fingerprint + simhash replayed bit-for-bit in DuckDB
    // via generated HUGEINT arithmetic (DuckHashSql).
    "text_fingerprint" -> {
      import graft.operators.DuckHashSql._
      s"""WITH s AS (SELECT doc_id, text, ${simhash64U(tokensSql("text"))} AS sigu FROM documents)
         |SELECT doc_id, ${fingerprint64("text", "length(text)")} AS fp64,
         |  ${toSignedBigint("sigu")} AS simhash
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "text_langid" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter($wsSql, w -> w = 'the' OR w = 'a')) AS BIGINT) AS s_en,
         |    CAST(len(list_filter($wsSql, w -> w = 'der' OR w = 'die' OR w = 'das')) AS BIGINT) AS s_de,
         |    CAST(len(list_filter($wsSql, w -> w = 'le' OR w = 'la' OR w = 'les')) AS BIGINT) AS s_fr,
         |    CAST(len(list_filter($wsSql, w -> w = 'el' OR w = 'los' OR w = 'las')) AS BIGINT) AS s_es,
         |    CAST(len(list_filter($wsSql, w -> w = '的' OR w = '了')) AS BIGINT) AS s_zh
         |  FROM documents)
         |SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
         |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es, s_zh) THEN 'en'
         |       WHEN s_de >= greatest(s_fr, s_es, s_zh) THEN 'de'
         |       WHEN s_fr >= greatest(s_es, s_zh) THEN 'fr'
         |       WHEN s_es >= s_zh THEN 'es'
         |       ELSE 'zh' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(length(text) AS BIGINT) AS n_chars_m,
         |    CAST(len($wsSql) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |    CAST(len(list_filter($wsSql, w -> w = 'the' OR w = 'a')) AS BIGINT) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_chars_m, n_words, n_nonspace, n_alpha, n_stop,
         |  round(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS avg_word_len,
         |  round(CAST(n_alpha AS DOUBLE) / n_chars_m, 4) AS alpha_ratio,
         |  round(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio
         |FROM base ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($wsSql) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // text_fingerprint: custom exprs → rows-only + spec.

    // DuckDB mirrors the whole LM: same tokenization, same top-100
    // vocab (count desc, word tie-break), same add-0.5 smoothing over
    // t_total + 0.5*101. Per-doc sums run in different orders in the
    // two engines (fold vs hash-agg) — round(,4) absorbs the ~1e-13
    // double-association noise.
    "text_lm_perplexity" ->
      s"""WITH tok AS (
         |  SELECT doc_id, list_filter($wsSql, w -> len(w) > 0) AS toks
         |  FROM documents),
         |flat AS (SELECT doc_id, unnest(toks) AS word FROM tok),
         |vocab AS (
         |  SELECT word, count(*) AS c FROM flat
         |  GROUP BY word ORDER BY c DESC, word LIMIT 100),
         |tot AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS t_total FROM tok),
         |scored AS (
         |  SELECT f.doc_id,
         |    -ln((coalesce(CAST(v.c AS DOUBLE), 0.0) + 0.5) / (tot.t_total + 0.5 * 101)) AS nll
         |  FROM flat f LEFT JOIN vocab v USING (word) CROSS JOIN tot),
         |agg AS (SELECT doc_id, sum(nll) AS nll_sum FROM scored GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
         |  round(coalesce(a.nll_sum, 0.0) / greatest(len(t.toks), 1), 4) AS ce
         |FROM tok t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // P18's two-pass exact output is plain relational algebra to an
    // engine that can afford the full count: GROUP BY + HAVING with
    // the same integer threshold.
    "text_heavy_hitters" ->
      s"""WITH tok AS (
        |  SELECT unnest($wsSql) AS word FROM documents),
        |t2 AS (SELECT word FROM tok WHERE length(word) > 0),
        |tot AS (SELECT count(*) AS total FROM t2)
        |SELECT word, count(*) AS freq, (SELECT total FROM tot) AS total
        |FROM t2 GROUP BY word
        |HAVING count(*) * 41 > (SELECT total FROM tot)
        |ORDER BY freq DESC, word""".stripMargin,

    // C4 rules are counting + membership only — no doubles anywhere —
    // so DuckDB mirrors each verdict and the reassembled clean_text
    // literally (list_filter over the same line split, joined with the
    // same separator).
    "text_c4_rules" ->
      s"""WITH g AS (
         |  SELECT doc_id, text,
         |    string_split(text, chr(10)) AS lines,
         |    list_filter(string_split(text, chr(10)), l ->
         |      right(rtrim(l), 1) IN ('.', '!', '?', '"')
         |      AND len(list_filter(regexp_split_to_array(trim(l), '\\s+'), w -> len(w) > 0)) >= 5
         |      AND NOT contains(lower(l), 'javascript')) AS kept
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
         |  CAST(length(text) - length(replace(replace(replace(text, '.', ''), '!', ''), '?', '')) AS BIGINT) AS n_sentences,
         |  contains(lower(text), 'lorem ipsum') AS has_lorem,
         |  contains(text, '{') AS has_brace,
         |  (list_contains($wsSql, 'badword') OR list_contains($wsSql, 'slur')
         |   OR list_contains($wsSql, 'obscenity')) AS has_badword,
         |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
         |  (length(text) - length(replace(replace(replace(text, '.', ''), '!', ''), '?', '')) >= 3
         |   AND NOT contains(lower(text), 'lorem ipsum')
         |   AND NOT contains(text, '{')
         |   AND NOT (list_contains($wsSql, 'badword') OR list_contains($wsSql, 'slur')
         |            OR list_contains($wsSql, 'obscenity'))) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    // Gopher rules are integer-exact by construction (no ratio ever
    // materializes as a double), so DuckDB mirrors every count and
    // comparison literally. DuckDB permits lateral alias references in
    // one SELECT, so the rule columns feed `keep` directly.
    "text_gopher_rules" ->
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CAST(len($wsSql) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS sum_word_len,
         |    CAST(len(list_filter($wsSql, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha_words,
         |    CAST(list_contains($wsSql, 'the')::INT + list_contains($wsSql, 'be')::INT +
         |         list_contains($wsSql, 'to')::INT + list_contains($wsSql, 'of')::INT +
         |         list_contains($wsSql, 'and')::INT + list_contains($wsSql, 'that')::INT +
         |         list_contains($wsSql, 'have')::INT + list_contains($wsSql, 'with')::INT
         |         AS BIGINT) AS n_stop_kinds,
         |    CAST(length(text) - length(replace(text, '#', ''))
         |         + (length(text) - length(replace(text, '...', ''))) // 3
         |         AS BIGINT) AS n_symbols,
         |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(string_split(text, chr(10)), l ->
         |      starts_with(ltrim(l), '• ') OR starts_with(ltrim(l), '- ') OR
         |      starts_with(ltrim(l), '* '))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(string_split(text, chr(10)), l ->
         |      ends_with(rtrim(l), '...'))) AS BIGINT) AS n_ellipsis_lines
         |  FROM documents)
         |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stop_kinds,
         |  n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines,
         |  (n_words >= 50 AND n_words <= 100000) AS r_word_count,
         |  (sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10) AS r_mean_word_len,
         |  (n_symbols * 10 <= n_words) AS r_symbol_ratio,
         |  (n_alpha_words * 5 >= n_words * 4) AS r_alpha_words,
         |  (n_bullet_lines * 10 <= n_lines * 9) AS r_bullet,
         |  (n_ellipsis_lines * 10 <= n_lines * 3) AS r_ellipsis,
         |  (n_stop_kinds >= 2) AS r_stop_words,
         |  (r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_alpha_words
         |   AND r_bullet AND r_ellipsis AND r_stop_words) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    // P53: every statistic is an integer, so DuckDB replays the whole
    // ruleset — the reflow (P48's list-comprehension device, one grain
    // up for paragraphs), line/paragraph duplicate counts via
    // list_distinct, per-n gram CTEs (mode by count desc / first
    // position asc, duplicate coverage as a DISTINCT position set),
    // and the literal integer threshold comparisons.
    "text_gopher_repetition" -> {
      val topThr = Map(2 -> 20, 3 -> 18, 4 -> 16)
      val dupThr = Map(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
      def gramCte(n: Int): String =
        s"""g$n AS (SELECT doc_id, unnest([{'i': i,
           |    'g': array_to_string(w[i:i+${n - 1}], ' '),
           |    'gc': length(array_to_string(w[i:i+${n - 1}], ''))}
           |  for i in range(1, len(w)-$n+2)]) AS u FROM tok)""".stripMargin
      val topCtes = topThr.keys.toSeq.sorted.map { n =>
        s"""${gramCte(n)},
           |c$n AS (SELECT doc_id, u.g AS g, count(*) AS cnt, min(u.i) AS fp,
           |    min(u.gc) AS gc FROM g$n GROUP BY doc_id, u.g),
           |t$n AS (SELECT doc_id, CAST(cnt AS BIGINT) AS occ,
           |    CAST(cnt * gc AS BIGINT) AS chars FROM (
           |  SELECT doc_id, cnt, gc,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, fp ASC) AS rn
           |  FROM c$n) WHERE rn = 1)""".stripMargin
      }
      val dupCtes = dupThr.keys.toSeq.sorted.map { n =>
        s"""${gramCte(n)},
           |c$n AS (SELECT doc_id, u.g AS g, count(*) AS cnt
           |  FROM g$n GROUP BY doc_id, u.g),
           |cov$n AS (SELECT DISTINCT a.doc_id AS doc_id, a.u.i + o.off AS pos
           |  FROM g$n a JOIN c$n ON a.doc_id = c$n.doc_id AND a.u.g = c$n.g
           |    AND c$n.cnt >= 2
           |  CROSS JOIN (SELECT unnest(range(0, $n)) AS off) o),
           |d$n AS (SELECT c.doc_id, CAST(sum(length(t.w[c.pos])) AS BIGINT) AS chars
           |  FROM cov$n c JOIN tok t USING (doc_id) GROUP BY c.doc_id)""".stripMargin
      }
      val topSel = topThr.keys.toSeq.sorted.map(n =>
        s"coalesce(t$n.occ, 0) AS top${n}_occ, coalesce(t$n.chars, 0) AS top${n}_chars").mkString(",\n  ")
      val dupSel = dupThr.keys.toSeq.sorted.map(n =>
        s"coalesce(d$n.chars, 0) AS dup${n}_chars").mkString(",\n  ")
      val joins = (topThr.keys.toSeq.sorted.map(n => s"LEFT JOIN t$n USING (doc_id)") ++
        dupThr.keys.toSeq.sorted.map(n => s"LEFT JOIN d$n USING (doc_id)")).mkString("\n")
      val topRules = topThr.toSeq.sorted.map { case (n, t) =>
        s"top${n}_chars * 100 <= total_chars * $t AS r_top$n" }.mkString(",\n  ")
      val dupRules = dupThr.toSeq.sorted.map { case (n, t) =>
        s"dup${n}_chars * 100 <= total_chars * $t AS r_dup$n" }.mkString(",\n  ")
      val allRules = Seq("r_dup_line", "r_dup_para", "r_dup_line_char", "r_dup_para_char") ++
        topThr.keys.toSeq.sorted.map(n => s"r_top$n") ++
        dupThr.keys.toSeq.sorted.map(n => s"r_dup$n")
      s"""WITH reflowed AS (
         |  SELECT doc_id, array_to_string(paras, chr(10) || chr(10)) AS text,
         |    lines, paras FROM (
         |    SELECT doc_id, lines,
         |      [array_to_string(lines[(j*4+1):(j*4+4)], chr(10))
         |       for j in range(0, greatest(CAST(ceil(len(lines)/4.0) AS INT), 1))] AS paras
         |    FROM (
         |      SELECT doc_id,
         |        [array_to_string(words[(i*3+1):(i*3+3)], ' ')
         |         for i in range(0, greatest(CAST(ceil(len(words)/3.0) AS INT), 1))] AS lines
         |      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)))),
         |tok AS (
         |  SELECT doc_id, $wsSql AS w,
         |    CAST(length(array_to_string($wsSql, '')) AS BIGINT) AS total_chars
         |  FROM reflowed),
         |lp AS (
         |  SELECT doc_id,
         |    list_filter(lines, x -> length(x) > 0) AS fl,
         |    list_filter(paras, x -> length(x) > 0) AS fp
         |  FROM reflowed),
         |lstats AS (
         |  SELECT doc_id,
         |    CAST(len(fl) AS BIGINT) AS n_lines,
         |    CAST(len(fl) - len(list_distinct(fl)) AS BIGINT) AS n_dup_lines,
         |    CAST(length(array_to_string(fl, '')) AS BIGINT) AS line_chars,
         |    CAST(length(array_to_string(fl, ''))
         |      - length(array_to_string(list_distinct(fl), '')) AS BIGINT) AS dup_line_chars,
         |    CAST(len(fp) AS BIGINT) AS n_paras,
         |    CAST(len(fp) - len(list_distinct(fp)) AS BIGINT) AS n_dup_paras,
         |    CAST(length(array_to_string(fp, '')) AS BIGINT) AS para_chars,
         |    CAST(length(array_to_string(fp, ''))
         |      - length(array_to_string(list_distinct(fp), '')) AS BIGINT) AS dup_para_chars
         |  FROM lp),
         |${topCtes.mkString(",\n")},
         |${dupCtes.mkString(",\n")},
         |vals AS (
         |  SELECT l.doc_id, l.n_lines, l.n_dup_lines, l.line_chars, l.dup_line_chars,
         |  l.n_paras, l.n_dup_paras, l.para_chars, l.dup_para_chars,
         |  t.total_chars,
         |  $topSel,
         |  $dupSel
         |FROM lstats l JOIN tok t USING (doc_id)
         |$joins)
         |SELECT *,
         |  n_dup_lines * 10 <= n_lines * 3 AS r_dup_line,
         |  n_dup_paras * 10 <= n_paras * 3 AS r_dup_para,
         |  dup_line_chars * 5 <= line_chars AS r_dup_line_char,
         |  dup_para_chars * 5 <= para_chars AS r_dup_para_char,
         |  $topRules,
         |  $dupRules,
         |  (${allRules.mkString(" AND ")}) AS keep
         |FROM vals ORDER BY doc_id""".stripMargin
    },
  )
}
