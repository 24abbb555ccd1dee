package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** P38: trained BPE tokenizer (Sennrich et al. 2016) — the real version
  * of P11's "BPE-ish regex" count: learn the merge table from the
  * corpus, then tokenize every document with it. A training-data
  * pipeline needs this twice — to build the tokenizer's vocabulary and
  * to count the tokens that billing/mixture math runs on.
  *
  * Scale shape (the PQ lesson, twice over): TRAINING runs on a bounded
  * deterministic sample (published practice — tokenizers train on a
  * corpus slice, not the corpus), so every per-rank pair count is a
  * sample-sized shuffle and the argmax is a 1-row TopN; the merge table
  * is O(numMerges) and folds into ONE broadcast row. ENCODING — the
  * per-corpus-word hot path — is the compiled `bpe_encode` expression
  * (graft.functions.BpeImpl), not a higher-order lambda chain: per-rank
  * left-to-right merge passes run as JVM loops inside codegen.
  *
  * Training is exact integer logic with lexicographic tie-breaks, so
  * the merge table is identical under any partitioning (asserted in
  * PipelineSpec); it is still declared rows-only because DuckDB cannot
  * replay an iterative argmax-and-rewrite loop in one SQL statement.
  */
object Tokenizer extends graft.QueryModule {

  private def words(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Learn `numMerges` BPE merges from the first `sampleDocs` docs.
    * Returns (rank, a, b) — rank-ordered merge rules. The sample's
    * word-frequency table reduces distributed (explode + groupBy,
    * sample-sized); the iterative argmax-and-rewrite loop itself runs
    * as ONE executor task over that bounded table
    * ([[graft.functions.BpeTrain]]) — BPE training is sequential in
    * rank, so a DataFrame round per merge only buys 2 job launches per
    * rank (the original form spent 16 rounds × ~100 ms of launch +
    * localCheckpoint overhead on 256 docs). Pair counts are sums and
    * the (count desc, lexicographic) tie-break is total, so the merge
    * table is identical under any partitioning (spec-asserted). */
  def trainMerges(spark: SparkSession, docs: DataFrame,
                  numMerges: Int = 16, sampleDocs: Int = 256): DataFrame = {
    import spark.implicits._
    docs.orderBy("doc_id").limit(sampleDocs)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .as[(String, Long)]
      .repartition(1)
      .mapPartitions { it =>
        graft.functions.BpeTrain.train(it.toArray, numMerges)
          .iterator.zipWithIndex.map { case ((a, b), r) => (r.toLong, a, b) }
      }
      .toDF("rank", "a", "b")
  }

  /** Tokenize the corpus with merges trained on its own sample: per doc,
    * word count, BPE token count, and the first words' tokens as an
    * audit column (`|`-joined so merged tokens are visible). */
  def bpeTokenize(spark: SparkSession, docs: DataFrame,
                  numMerges: Int = 16, sampleDocs: Int = 256): DataFrame = {
    val mrow = trainMerges(spark, docs, numMerges, sampleDocs)
      .agg(array_sort(collect_list(struct(col("rank"), col("a"), col("b")))).as("ms"))
      .select(expr("transform(ms, m -> named_struct('a', m.a, 'b', m.b))").as("merges"))
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .crossJoin(broadcast(mrow))
      .select(col("doc_id"), col("ws"),
        expr("bpe_encode_all(ws, merges)").as("toks"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)").as("n_bpe"),
        expr("concat_ws(' ', transform(slice(toks, 1, 3), t -> array_join(t, '|')))").as("bpe_head"))
  }

  /** P50: unigram-LM tokenizer (Kudo 2018, SentencePiece's model) —
    * vocabulary from bounded-sample substring counts with ML piece
    * scores in integer micro-nats, decoding by Viterbi min-cost
    * segmentation (graft.functions.UnigramImpl — a compiled
    * expression, the BPE/PQ hot-path rule). Same fold shape as BPE:
    * the vocab is one broadcast row; the corpus pass is row-local. */
  def trainUnigram(spark: SparkSession, docs: DataFrame, vocabSize: Int = 96,
                   maxPieceLen: Int = 4, sampleDocs: Int = 256): DataFrame = {
    import spark.implicits._
    docs.orderBy("doc_id").limit(sampleDocs)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .as[(String, Long)]
      .repartition(1)
      .mapPartitions { it =>
        graft.functions.UnigramTrain.train(it.toArray, vocabSize, maxPieceLen).iterator
      }
      .toDF("piece", "cost")
  }

  /** Tokenize the corpus under its own sample-trained unigram vocab:
    * per doc, word count, piece count, and the first words' pieces as
    * an audit column. */
  def unigramTokenize(spark: SparkSession, docs: DataFrame, vocabSize: Int = 96,
                      maxPieceLen: Int = 4, sampleDocs: Int = 256): DataFrame = {
    val vrow = trainUnigram(spark, docs, vocabSize, maxPieceLen, sampleDocs)
      .agg(array_sort(collect_list(struct(col("piece"), col("cost")))).as("vocab"))
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .crossJoin(broadcast(vrow))
      .select(col("doc_id"), col("ws"),
        expr("unigram_encode_all(ws, vocab)").as("toks"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)").as("n_pieces"),
        expr("concat_ws(' ', transform(slice(toks, 1, 3), t -> array_join(t, '|')))").as("piece_head"))
  }

  /** P38b: BPE tokenization under a PINNED analytic merge table — the
    * 36 rules (c, c) for c ∈ [a-z0-9], every rank. Each rule touches
    * only runs of its OWN character and a merged "cc" symbol can never
    * match another rule, so the rules are independent and the result
    * is a closed form: one left-to-right greedy pass pairing doubled
    * ASCII chars — exactly what a regex engine's leftmost
    * non-overlapping scan of `(aa|bb|…|99)` computes, which DuckDB
    * (RE2 — no backreferences, hence the literal alternation) replays
    * exactly. This moves the BPE ENCODER rows-only → oracle-exact (the
    * P63b pinned-device route): the encoder still runs the real
    * rank-ordered merge loop over all 36 rules — it must DISCOVER the
    * pairing — only the table is analytic. Train-time behavior stays
    * covered by pipe_bpe_merges/pipe_bpe_tokenize (an iterative
    * argmax-rewrite loop has no single-SQL replay; that boundary is
    * unchanged). */
  def bpeTokenizePinned(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val cs = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    val mrow = cs.zipWithIndex.map { case (c, r) => (r.toLong, c, c) }
      .toDF("rank", "a", "b")
      .agg(array_sort(collect_list(struct(col("rank"), col("a"), col("b")))).as("ms"))
      .select(expr("transform(ms, m -> named_struct('a', m.a, 'b', m.b))").as("merges"))
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .crossJoin(broadcast(mrow))
      .select(col("doc_id"), col("ws"),
        expr("bpe_encode_all(ws, merges)").as("toks"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)").as("n_bpe"),
        expr("CAST(aggregate(ws, 0, (acc, w) -> acc + length(w)) AS BIGINT)" +
          " - CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)").as("n_merges"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> greatest(acc, size(t))) AS BIGINT)")
          .as("max_word_tokens"))
  }

  /** P63: tokenizer FERTILITY audit (Rust et al. 2021 "How Good is Your
    * Tokenizer?"): per language, how efficiently the sample-trained
    * unigram vocab encodes the corpus — fertility (pieces per word, the
    * paper's headline metric; 1.0 = every word is one piece),
    * continued-word rate (words split into >1 piece), and chars per
    * piece (compression). A tokenizer trained on skewed data shows
    * inflated fertility on the under-represented languages — the audit
    * that catches it BEFORE a training run wastes context length on
    * fragment soup. All ratios in integer ppm over long sums, so the
    * numbers are bit-stable at any partitioning; rows-only like every
    * consumer of the sample-trained vocab (the P50 precedent).
    * Scale shape: the vocab is one broadcast row, the corpus pass is
    * row-local, and the only exchange is the ≤|langs| aggregate. */
  def tokenFertility(spark: SparkSession, docs: DataFrame, vocabSize: Int = 96,
                     maxPieceLen: Int = 4, sampleDocs: Int = 256): DataFrame = {
    val vrow = trainUnigram(spark, docs, vocabSize, maxPieceLen, sampleDocs)
      .agg(array_sort(collect_list(struct(col("piece"), col("cost")))).as("vocab"))
    fertilityAgg(docs, vrow)
  }

  /** P63b: fertility under a PINNED analytic vocab — every character of
    * the corpus (cost 300) plus every adjacent character BIGRAM of
    * every corpus word (cost 450 < 2×300). Viterbi therefore packs each
    * word into as many bigrams as possible: cost(L chars, k bigrams) =
    * 300·L − 150·k is minimized at k = ⌊L/2⌋, so a word of length L
    * segments into EXACTLY ⌈L/2⌉ pieces — a closed form DuckDB can
    * replay, which moves the fertility audit rows-only → oracle-exact
    * (the r9 verdict's P50 pinned-device route). The encoder still runs
    * the real DP (it must DISCOVER the pairing); only the vocab is
    * analytic. Same scale shape: the vocab row is built by two bounded
    * distinct-aggregates over the corpus and broadcast once. */
  def tokenFertilityPinned(spark: SparkSession, docs: DataFrame): DataFrame = {
    fertilityAgg(docs, pinnedCharBigramVocab(docs))
  }

  /** The P63b pinned analytic vocab shared by the fertility audit and
    * the P50b segmentation oracle: every corpus char at 300 micro-nats,
    * every corpus bigram at 450 — two bounded distinct-aggregates,
    * broadcast as one row. */
  private def pinnedCharBigramVocab(docs: DataFrame): DataFrame = {
    // Distinct the WORDS first (Heaps law: far fewer types than
    // tokens), then explode chars+bigrams of the distinct words only —
    // identical vocab (a piece exists iff some word contains it), but
    // the piece explode runs over ~1% of the rows. Construction over
    // the full corpus — not the encode — was the r13 pinned-vs-trained
    // constant factor (the trained twin trains on a 256-doc sample):
    // per-token piece explode measured 0.6–0.7 s at sf0.1, this form
    // 0.2–0.3 s. Both distincts map-side combine, so the shuffles stay
    // at vocabulary scale at any corpus size.
    // sequence(1, len-1) DESCENDS for len=1 (round-9 trap) → CASE len>=2
    docs.select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .distinct()
      .select(explode(expr(
        "concat(split(w, ''), CASE WHEN length(w) >= 2 THEN " +
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) " +
          "ELSE CAST(array() AS array<string>) END)")).as("piece"))
      .filter(length(col("piece")) > 0)
      .distinct()
      .select(col("piece"),
        when(length(col("piece")) === 1, lit(300L)).otherwise(lit(450L)).as("cost"))
      .agg(array_sort(collect_list(struct(col("piece"), col("cost")))).as("vocab"))
  }

  /** P50b: unigram tokenization under the PINNED vocab — the P63b
    * closed form extended from COUNTS to the SEGMENTATION itself.
    * Under chars=300/bigrams=450 the Viterbi recurrence ties odd
    * positions between (bigram, char) endings, and the DP's
    * ascending-split strict-< tie-break keeps the SMALLEST split point
    * (the bigram), so backtracking is bigram-first all the way down:
    * an odd-length word's single char provably lands at the FRONT —
    * w segments as [w₁] ++ bigrams for odd |w|, all-bigrams for even.
    * DuckDB replays the pieces THEMSELVES (1-based slicing), so the
    * oracle certifies every piece of every word of every doc — not
    * just counts. The encoder still runs the real DP (it must DISCOVER
    * the pairing); only the vocab is analytic. Train-time unigram
    * stays rows-only (pipe_unigram_tokenize): EM-trained float scores
    * have no single-SQL replay — that boundary is unchanged. */
  def unigramTokenizePinned(spark: SparkSession, docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .crossJoin(broadcast(pinnedCharBigramVocab(docs)))
      .select(col("doc_id"), col("ws"),
        expr("unigram_encode_all(ws, vocab)").as("toks"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)").as("n_pieces"),
        expr("concat_ws(' ', transform(toks, t -> array_join(t, '|')))").as("seg"))
  }

  private def fertilityAgg(docs: DataFrame, vrow: DataFrame): DataFrame = {
    docs.select(col("lang"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .crossJoin(broadcast(vrow))
      // ONE vocab resolve per row (unigram_encode_all), not one per
      // word inside each aggregate lambda — the per-word cache probe
      // is a full-vocab byte-compare (r13 pinned constant factor)
      .select(col("lang"), col("ws"),
        expr("unigram_encode_all(ws, vocab)").as("toks"))
      .select(col("lang"),
        size(col("ws")).cast("long").as("n_words"),
        expr("CAST(aggregate(ws, 0, (acc, w) -> acc + length(w)) AS BIGINT)").as("n_chars"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + size(t)) AS BIGINT)")
          .as("n_pieces"),
        expr("CAST(aggregate(toks, 0, (acc, t) -> acc + IF(size(t) > 1, 1, 0)) AS BIGINT)")
          .as("n_split"))
      .groupBy("lang")
      .agg(sum(col("n_words")).as("n_words"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_pieces")).as("n_pieces"), sum(col("n_split")).as("n_split"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
        expr("n_pieces * 1000000 DIV n_words").as("fertility_ppm"),
        expr("n_split * 1000000 DIV n_words").as("split_word_ppm"),
        expr("n_chars * 1000000 DIV n_pieces").as("chars_per_piece_ppm"))
  }

  // ---- queries()/oracle entries -------------------------------------

  val queries: Map[String, Q] = Map(
    // deterministic integer training + compiled encode; rows-only (an
    // iterative argmax-rewrite loop has no single-SQL DuckDB replay) +
    // PipelineSpec pinned-merge/round-trip/repartition-stability specs.
    // r16 input spread (Tables.documentsSpread): the batch-encode pass
    // (broadcast vocab, row-local DP over every doc) is the cost —
    // interleaved A/B wins 1.3–2.2× (bench_control_r16c.json;
    // fertility_pinned shares the fertility operator measured at 2.2×).
    // pipe_bpe_merges is training-aggregate-bound and keeps the bare
    // scan.
    "pipe_bpe_tokenize" -> ((spark, dir) =>
      bpeTokenize(spark, Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_bpe_merges" -> ((spark, dir) =>
      trainMerges(spark, Tables(spark, dir).documents).orderBy("rank")),
    "pipe_unigram_tokenize" -> ((spark, dir) =>
      unigramTokenize(spark, Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_token_fertility" -> ((spark, dir) =>
      tokenFertility(spark, Tables(spark, dir).documentsSpread).orderBy("lang")),
    "pipe_token_fertility_pinned" -> ((spark, dir) =>
      tokenFertilityPinned(spark, Tables(spark, dir).documentsSpread).orderBy("lang")),
    "pipe_bpe_tokenize_pinned" -> ((spark, dir) =>
      bpeTokenizePinned(spark, Tables(spark, dir).documentsSpread).orderBy("doc_id")),
    "pipe_unigram_tokenize_pinned" -> ((spark, dir) =>
      unigramTokenizePinned(spark, Tables(spark, dir).documentsSpread).orderBy("doc_id")),
  )

  /** The pinned merge table's closed form as a DuckDB regex: doubled
    * ASCII pairs, leftmost non-overlapping (RE2 has no backreferences,
    * hence the 36-way literal alternation). */
  private val DoubledPat: String =
    (('a' to 'z') ++ ('0' to '9')).map(c => s"$c$c").mkString("(", "|", ")")

  override val rowsOnly: Map[String, String] = Map(
    "pipe_bpe_merges" -> ("sequential-argmin: BPE TRAINING = sequential argmax merge loop — no " +
      "single-SQL replay exists; pinned-merges spec"),
    "pipe_bpe_tokenize" -> ("sequential-argmin: tokenization under the TRAINED merge list — " +
      "training unreplayable; pinned-table twin pipe_bpe_tokenize_pinned IS oracle-exact"),
    "pipe_token_fertility" -> ("float-centroid: fertility under the TRAINED unigram vocab — " +
      "training unreplayable; pinned-vocab twin pipe_token_fertility_pinned IS oracle-exact"),
    "pipe_unigram_tokenize" -> ("float-centroid: unigram EM training (float likelihood loop) — " +
      "training unreplayable; pinned-vocab twin pipe_unigram_tokenize_pinned IS oracle-exact " +
      "(piece-for-piece, P50b)"),
  )

  val oracles: Map[String, String] = Map(
    // closed-form replay of the pinned char+bigram vocab: every word of
    // length L Viterbi-segments into ceil(L/2) pieces (see
    // tokenFertilityPinned) — the per-language sums and ppm ratios are
    // exact integer arithmetic in both engines.
    "pipe_token_fertility_pinned" ->
      """WITH w AS (
        |  SELECT lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum([length(x) for x in ws]) AS BIGINT) AS n_chars,
        |    CAST(list_sum([(length(x) + 1) // 2 for x in ws]) AS BIGINT) AS n_pieces,
        |    CAST(list_sum([CASE WHEN length(x) >= 3 THEN 1 ELSE 0 END for x in ws]) AS BIGINT) AS n_split
        |  FROM w WHERE len(ws) >= 1
        |), g AS (
        |  SELECT lang, sum(n_words) AS n_words, sum(n_chars) AS n_chars,
        |         sum(n_pieces) AS n_pieces, sum(n_split) AS n_split
        |  FROM s GROUP BY lang
        |)
        |SELECT lang, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_pieces AS BIGINT) AS n_pieces,
        |  CAST(n_pieces * 1000000 // n_words AS BIGINT) AS fertility_ppm,
        |  CAST(n_split * 1000000 // n_words AS BIGINT) AS split_word_ppm,
        |  CAST(n_chars * 1000000 // n_pieces AS BIGINT) AS chars_per_piece_ppm
        |FROM g ORDER BY lang""".stripMargin,
    // closed-form replay of the pinned doubled-char merge table: per
    // word, merges = greedy leftmost non-overlapping doubled-ASCII
    // pairs; tokens = length - merges (see bpeTokenizePinned)
    "pipe_bpe_tokenize_pinned" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         |  FROM documents
         |), t AS (
         |  SELECT doc_id, ws,
         |    [length(x) - len(regexp_extract_all(x, '$DoubledPat'))
         |     for x in ws] AS tc
         |  FROM w
         |)
         |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
         |  CAST(list_sum(tc) AS BIGINT) AS n_bpe,
         |  CAST(list_sum([length(x) for x in ws]) - list_sum(tc) AS BIGINT)
         |    AS n_merges,
         |  CAST(list_max(tc) AS BIGINT) AS max_word_tokens
         |FROM t ORDER BY doc_id""".stripMargin,
    // P50b: the pinned Viterbi's pieces themselves — odd words are
    // [first char] ++ bigrams, even words all-bigrams (the bigram-first
    // backtrack; 1-based inclusive slicing both engines)
    "pipe_unigram_tokenize_pinned" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, ws,
        |    list_transform(ws, x -> CASE WHEN length(x) % 2 = 1 THEN
        |        list_prepend(x[1:1],
        |          [x[2*i : 2*i+1] for i in range(1, (length(x)-1)//2 + 1)])
        |      ELSE [x[2*i-1 : 2*i] for i in range(1, length(x)//2 + 1)]
        |      END) AS pieces
        |  FROM w
        |)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(list_sum([len(p) for p in pieces]) AS BIGINT) AS n_pieces,
        |  array_to_string([array_to_string(p, '|') for p in pieces], ' ') AS seg
        |FROM t ORDER BY doc_id""".stripMargin,
  )
}
