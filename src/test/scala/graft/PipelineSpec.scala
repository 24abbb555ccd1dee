package graft

import org.apache.spark.sql.functions._
import graft.pipeline.{Curation, Dedup, Multimodal, Similarity, Splits, TextAnalysis}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source").withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup groups duplicates and keeps the lowest doc_id") {
    val docs = docsDf(
      (1L, "alpha beta gamma", "s1"),
      (2L, "alpha beta gamma", "s1"),
      (3L, "something else entirely", "s2"))
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("keep_doc_id") == 1L)
    assert(Dedup.exactKeepFirst(docs).select("doc_id").as[Long].collect().sorted
      .sameElements(Array(1L, 3L)))
  }

  test("minhash LSH finds near-duplicate pairs without an all-pairs join") {
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet green hills near the old stone bridge"
    val docs = docsDf(
      (1L, base, "s1"),
      (2L, base.replace("quiet", "silent"), "s1"), // near-dup: 1 token changed
      (3L, "completely different words about database engines and query plans running fast", "s2"))
    val pairs = Dedup.minhashCandidates(docs, minJaccard = 0.3).collect()
    assert(pairs.exists(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
    assert(!pairs.exists(r => r.getAs[Long]("doc_b") == 3L || r.getAs[Long]("doc_a") == 3L))
  }

  test("minhash LSH surfaces bucket truncation via observed metrics") {
    // 5 identical docs, maxBucket=3: every band bucket holds 5 ids →
    // each counts as truncated; the observe() metric must report it
    val docs = docsDf((1L to 5L).map(i => (i, "same words in every document", "s1")): _*)
    val m = observed("minhash_lsh_buckets") {
      Dedup.minhashCandidates(docs, maxBucket = 3, minJaccard = 0.1).collect()
    }
    assert(m.getAs[Long]("truncated_buckets") > 0, m.toString)
    assert(m.getAs[Int]("max_bucket_size") == 5, m.toString)
  }

  test("ngram jaccard pairs stay within source buckets and respect the threshold") {
    val docs = docsDf(
      (1L, "a b c d e f g h", "s1"),
      (2L, "a b c d e f g x", "s1"),
      (3L, "a b c d e f g h", "s2")) // same text, different bucket → never paired
    val pairs = Dedup.ngramJaccardPairs(docs, 0.1).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 1L && pairs.head.getAs[Long]("doc_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.4)
  }

  test("simhash buckets: identical docs share bucket") {
    val docs = docsDf((1L, "same text here", "s1"), (2L, "same text here", "s1"),
      (3L, "other words entirely different", "s2"))
    val rows = Dedup.simhashBuckets(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bucket")).toMap
    assert(rows(1L) == rows(2L))
  }

  test("brute-force top-k: parallel vector ranks first, k respected") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(2f, 0f, 0f), 0),  // parallel to query 0 → cos 1
      (2L, Array(0f, 1f, 0f), 0),
      (3L, Array(-1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(spark, emb.filter($"vec_id" === 0), emb, 2)
      .orderBy("rk").collect()
    assert(top.length == 2)
    assert(top(0).getAs[Long]("c_id") == 1L && top(0).getAs[Double]("cos") == 1.0)
  }

  test("LSH top-k recalls a usable fraction of brute-force neighbors at sf0.001") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(spark, queries, emb, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(spark, queries, emb, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.1, s"recall=$recall")
  }

  test("IVF top-k recalls a usable fraction of brute-force neighbors at sf0.001") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(spark, queries, emb, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, queries, emb, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // every IVF hit is a real corpus neighbor, and recall is usable
    assert(ivf.nonEmpty)
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.1, s"recall=$recall")
  }

  test("persisted IVF index: serving matches inline IVF, postings scan is partition-pruned") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = tempDir("graft_ivf_idx")
    try {
      Similarity.ivfIndexWrite(spark, emb, dir)
      // postings laid out one directory per cell — the serving-time
      // pruning unit; partitionBy must not have re-shuffled rows away
      // from their assigned cell
      val cellDirs = new java.io.File(s"$dir/postings").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length > 1 && cellDirs.length <= 16, cellDirs.length.toString)
      val served = Similarity.ivfIndexQuery(spark, dir, queries, 5)
      val got = served.select("q_id", "c_id").as[(Long, Long)].collect().toSet
      // identical parameters, identical seeding -> the persisted path
      // must return exactly the inline path's neighbors
      val inline = Similarity.ivfTopK(spark, queries, emb, 5)
        .select("q_id", "c_id").as[(Long, Long)].collect().toSet
      assert(got == inline, s"persisted != inline: ${(got -- inline) ++ (inline -- got)}")
      // the probed-cells join must prune postings PARTITIONS at scan
      // time (dynamic partition pruning), not read every cell directory
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2500))
      // incremental append: an exact twin of query vector 0 lands in
      // vector 0's own probe cell, so it must surface as the new top-1
      // (cos 1.0 beats every distinct neighbor; id tie-break n/a)
      val twin = emb.filter($"vec_id" === 0L)
        .select(lit(900000L).as("vec_id"), $"embedding", $"label")
      Similarity.ivfIndexAppend(spark, dir, twin)
      val after = Similarity.ivfIndexQuery(spark, dir, queries, 5)
        .filter($"q_id" === 0L && $"rk" === 1L)
        .select("c_id", "cos").as[(Long, Double)].collect()
      assert(after.sameElements(Array((900000L, 1.0))), after.toList.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pinned-quantizer IVF equals the persisted-index serve over the same frozen centroids") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = tempDir("graft_ivf_pin")
    try {
      // persist the PINNED quantizer as a real index: the oracle-exact
      // query entry and production ivfIndexQuery serving must be the
      // same computation once the centroid tables agree
      val cent = Similarity.pinnedCentroids().toDF("cell", "cvec")
      cent.coalesce(1).write.parquet(s"$dir/centroids")
      Similarity.assignCells(emb, cent)
        .select($"vec_id", $"embedding", $"cell")
        .write.partitionBy("cell").parquet(s"$dir/postings")
      val served = Similarity.ivfIndexQuery(spark, dir, queries, 5)
        .select("q_id", "c_id", "cos", "rk").as[(Long, Long, Double, Long)].collect().toSet
      val pinned = Similarity.ivfTopKPinned(spark, queries, emb, 5)
        .select("q_id", "c_id", "cos", "rk").as[(Long, Long, Double, Long)].collect().toSet
      assert(served == pinned, s"diff=${(served -- pinned) ++ (pinned -- served)}")
      assert(pinned.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pinned-codebook PQ equals the persisted-index serve over the same frozen codebook") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = tempDir("graft_pq_pin")
    try {
      val cb = Similarity.pinnedCodebook().toDF("m", "code", "cvec")
      cb.coalesce(1).write.parquet(s"$dir/codebook")
      // pqIndexAppend encodes against the STORED codebook — populating
      // the corpus through it proves append-time codes and pinned-query
      // codes are one computation
      Similarity.pqIndexAppend(spark, dir, emb)
      val served = Similarity.pqIndexQuery(spark, dir, queries, 5)
        .select("q_id", "c_id", "dist", "rk").as[(Long, Long, Double, Long)].collect().toSet
      val pinned = Similarity.pqTopKPinned(spark, queries, emb, 5)
        .select("q_id", "c_id", "dist", "rk").as[(Long, Long, Double, Long)].collect().toSet
      assert(served == pinned, s"diff=${(served -- pinned) ++ (pinned -- served)}")
      assert(pinned.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("pinned-quantizer SemDeDup: one rep per cluster (least-centroid-similar); an exact twin collapses") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // a planted exact duplicate of vector 0: identical embedding →
    // identical argmax cell, cosine 1.0 edge, same cluster; equal ccos
    // ties the struct-min to the lowest id, so 0 keeps and the twin drops
    val twin = emb.filter($"vec_id" === 0L)
      .select(lit(900000L).as("vec_id"), $"embedding", $"label")
    val out = Similarity.semanticDedupPinned(spark, emb.unionByName(twin), 0.3)
      .select("vec_id", "cluster_id", "ccos", "keep")
      .as[(Long, Long, Double, Boolean)].collect()
    val byCluster = out.groupBy(_._2)
    // exactly one representative per cluster, and it is the (ccos,
    // vec_id)-minimal member (the paper's diversity rule)
    byCluster.foreach { case (cid, ms) =>
      val keeps = ms.filter(_._4)
      assert(keeps.length == 1, s"cluster $cid keeps ${keeps.length}")
      val want = ms.map(m => (m._3, m._1)).min
      assert((keeps.head._3, keeps.head._1) == want, s"cluster $cid rep mismatch")
    }
    val zeroCluster = out.find(_._1 == 0L).get._2
    val twinRow = out.find(_._1 == 900000L).get
    assert(twinRow._2 == zeroCluster && !twinRow._4, twinRow.toString)
    assert(out.find(_._1 == 0L).get._4)
  }

  test("PQ top-k: ADC ranking recalls brute-force neighbors; encode plan is corpus-shuffle-free") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(spark, queries, emb, 5)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(spark, queries, emb, 5)
    val got = pq.select("q_id", "c_id").as[(Long, Long)].collect().toSet
    // exactly k results per query, deterministic ranking
    val perQ = pq.groupBy("q_id").count().as[(Long, Long)].collect().toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == 5L))
    // a misaligned ADC table (dead-code codebook hole) would surface as
    // null distances — every score must be a real lookup sum
    assert(pq.filter($"dist".isNull).count() == 0)
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall=$recall") // quantized scan, not exact — but usable
    // the corpus-side encode is row-local: between the embeddings scan
    // and the broadcast-join there must be NO Exchange (the IVF lesson)
    val plan = pq.queryExecution.sparkPlan.toString
    val corpusScans = "Scan parquet".r.findAllIn(plan).size
    assert(corpusScans >= 1, plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("persisted PQ index: serving matches inline ranks, append finds the new vector") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = tempDir("graft_pq_idx")
    try {
      Similarity.pqIndexWrite(spark, emb, dir)
      // the codebook table is bounded (M*K rows) and dense: every
      // (m, code) slot present — a hole would misalign ADC lookups
      val cb = spark.read.parquet(s"$dir/codebook")
      assert(cb.count() == 8L * 32L, cb.count().toString)
      // identical training + shared ADC scan -> the persisted path must
      // return exactly the inline path's (q_id, c_id, rk) triples
      val served = Similarity.pqIndexQuery(spark, dir, queries, 5)
      val got = served.select("q_id", "c_id", "rk").as[(Long, Long, Long)].collect().toSet
      val inline = Similarity.pqTopK(spark, queries, emb, 5)
        .select("q_id", "c_id", "rk").as[(Long, Long, Long)].collect().toSet
      assert(got == inline, s"persisted != inline: ${(got -- inline) ++ (inline -- got)}")
      // the corpus side of the served scan is the stored codes table
      // (the bounded query side still reads its own vectors)
      val servedPlan = served.queryExecution.sparkPlan.toString
      assert(servedPlan.contains("pq_codes"), servedPlan.take(1200))
      // append: an exact twin of query vector 0 encodes to vector 0's
      // own codes against the frozen codebook -> ADC distance 0 beats
      // every distinct neighbor, new top-1
      val twin = emb.filter($"vec_id" === 0L)
        .select(lit(900000L).as("vec_id"), $"embedding", $"label")
      Similarity.pqIndexAppend(spark, dir, twin)
      val after = Similarity.pqIndexQuery(spark, dir, queries, 5)
        .filter($"q_id" === 0L && $"rk" === 1L)
        .select("c_id").as[Long].collect()
      assert(after.sameElements(Array(900000L)), after.toList.toString)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("LM perplexity: corpus-typical docs score lower cross-entropy than gibberish") {
    // train-on-self: 8 docs of common words + 1 gibberish doc. The LM
    // must rank the gibberish doc's cross-entropy strictly highest, and
    // common-word docs must sit below the OOV floor -ln(alpha/denom).
    val docs = docsDf(
      (1L, "the cat sat on the mat and the dog sat too", "s1"),
      (2L, "the dog ran to the cat and the mat", "s1"),
      (3L, "a cat and a dog sat on a mat", "s1"),
      (4L, "the cat and the dog ran on the mat", "s1"),
      (5L, "the mat sat under the cat and the dog", "s1"),
      (6L, "a dog ran to a cat on a mat", "s1"),
      (7L, "the cat ran and the dog sat", "s1"),
      (8L, "xqzv wfjk pzlm qvtx zzyw", "junk"))
    val scored = TextAnalysis.lmScore(docs, vocabSize = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("ce")).toMap
    assert(scored.size == 8)
    val junkCe = scored(8L)
    scored.filterNot(_._1 == 8L).foreach { case (id, ce) =>
      assert(ce < junkCe, s"doc $id ce=$ce not below gibberish ce=$junkCe")
    }
    // scoring is row-local: no shuffle may touch the corpus between the
    // docs scan and the per-doc fold (same audit shape as IVF assign)
    val plan = TextAnalysis.lmScore(docs, vocabSize = 10)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("leakage-safe split: no verified near-dup pair ever straddles the split") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val split = Splits.leakageSafeSplit(docs)
    // zero leaks BY CONSTRUCTION: every verified pair shares a cluster,
    // hence a representative, hence a side — assert it end-to-end
    val pairs = graft.pipeline.Dedup.minhashCandidates(docs, minJaccard = 0.1)
      .select(col("doc_a"), col("doc_b"))
    val leaks = pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(leaks.count() == 0)
    // the per-DOC split genuinely leaks on the same corpus (the P54
    // finding this operator fixes) — if not, the assertion above is vacuous
    val naive = Splits.trainTest(docs)
    val naiveLeaks = pairs
      .join(naive.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(naive.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
    assert(naiveLeaks.count() > 0, "corpus has no straddling twins; test is vacuous")
    // every doc appears exactly once, and singleton docs keep their own id
    assert(split.count() == docs.count())
    assert(split.filter(col("cluster_id") === col("doc_id")).count() > 0)
  }

  test("weighted sampling: exact A-ES replay, weight monotonicity, incremental stability") {
    import org.apache.spark.sql.functions.{length => slen}
    // heavy docs (long text) vs light docs (short text), weight = length
    def mk(id: Long, len: Int) = (id, "x" * len, "s1")
    val heavy = (1L to 100L).map(mk(_, 1000))
    val light = (101L to 200L).map(mk(_, 10))
    val docs = docsDf((heavy ++ light): _*)
    val picked = Splits.weightedSample(docs, slen(col("text")), k = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // exact replay of the A-ES keys in plain Scala: u from the seeded
    // Knuth hash, key = ln(u)/w, top-50 by (key desc, doc_id)
    def key(id: Long, w: Double, seed: Long = 17L): Double = {
      // +1 shifts u into (0,1] — mirrors weightedSample's ln(0) guard
      val u = (((id % 4294967296L + seed % 4294967296L) % 4294967296L *
        2654435761L % 4294967296L) + 1L).toDouble / 4294967296.0
      math.log(u) / w
    }
    val expected = (heavy.map(d => (d._1, 1000.0)) ++ light.map(d => (d._1, 10.0)))
      .map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(50).map(_._1).toSet
    assert(picked == expected, s"picked=$picked")
    // inclusion probability follows weight: the heavy group dominates
    assert(picked.count(_ <= 100L) > picked.count(_ > 100L), picked.toString)
    // deterministic under physical layout
    val again = Splits.weightedSample(docs.repartition(7), slen(col("text")), k = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == picked)
    // incrementally stable: appending docs never changes existing keys —
    // survivors of the grown corpus that are old docs were all picked before
    val grown = docsDf((heavy ++ light ++ (201L to 260L).map(mk(_, 1000))): _*)
    val picked2 = Splits.weightedSample(grown, slen(col("text")), k = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert((picked2.filter(_ <= 200L) -- picked).isEmpty, s"$picked2 vs $picked")
    // ln(0) guard (ADVICE r8): id 2^32-17 hashes to exactly 0 mod 2^32
    // under seed 17 (2654435761 is odd hence invertible, so hash = 0 iff
    // id+17 ≡ 0). Before the (0,1] shift its key was ln(0)/w = -Inf —
    // excluded from every draw regardless of weight. With a dominant
    // weight it must now be drawable.
    val zid = 4294967296L - 17L
    val zdocs = docsDf(((heavy ++ light) :+ mk(zid, 100000)): _*)
    val picked3 = Splits.weightedSample(zdocs, slen(col("text")), k = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(picked3.contains(zid),
      s"zero-u doc $zid with dominant weight was not drawn: $picked3")
  }

  test("overlap fraction: graded taint, threshold flip, clean docs zero") {
    // doc 0 (id 97·0 ≡ 0) is the "benchmark"; others are corpus
    val bench = (1 to 12).map(i => s"b$i").mkString(" ") // 12 tokens → 5 grams
    val docs = docsDf(
      (0L, bench, "s1"),
      // 8 of its 13 gram positions replicate benchmark grams: the
      // pasted span b1..b12 contributes 5 tainted positions... compute
      // exactly below from the operator's own counts
      (1L, "x1 x2 x3 x4 " + bench + " y1 y2 y3 y4", "s1"),
      (2L, (1 to 20).map(i => s"c$i").mkString(" "), "s1"), // clean
      (3L, "w1 " + bench.split(" ").take(8).mkString(" ") + " w2 w3 w4", "s1"))
    val out = Curation.overlapFraction(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit"), r.getAs[Boolean]("keep"))).toMap
    // doc 1: 20 tokens → 13 positions; the 5 positions aligned inside
    // the pasted benchmark span hit; 5/13 > 20% → dropped
    assert(out(1L) == ((13L, 5L, false)), out.toString)
    // doc 2: clean → zero hits, kept
    assert(out(2L) == ((13L, 0L, true)), out.toString)
    // doc 3: 12 tokens → 5 positions, exactly ONE hit (the b1..b8
    // gram); 1·100 = 5·20 — EXACTLY at threshold, kept
    assert(out(3L) == ((5L, 1L, true)), out.toString)
  }

  test("best-fit packing: exact BFD bins, capacity bound, oversize split, repartition-stable") {
    def mkDoc(id: Long, tokens: Int) = (id, Seq.fill(tokens)("w").mkString(" "), "s1")
    // hand instance, ctx=10, one shard: sizes [6,5,4,3,2] BFD-pack into
    // exactly 2 full bins — 6 opens b0(rem 4); 5 opens b1(rem 5); 4
    // best-fits b0 (rem 4 beats rem 5); 3 and 2 fill b1. Zero padding.
    val hand = Curation.packBestFit(
      docsDf(mkDoc(1L, 6), mkDoc(2L, 5), mkDoc(3L, 4), mkDoc(4L, 3), mkDoc(5L, 2)),
      ctx = 10, shards = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin_id")).toMap
    assert(hand == Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L, 5L -> 1L), s"$hand")
    // an arrival-order first-fit of the same sizes in id order would
    // open 3 bins once 4 arrives after 6+5; BFD's sort avoids it
    assert(hand.values.toSet.size == 2)
    // oversize docs split into ctx pieces, short remainder last — the
    // paper's only truncation case
    val big = Curation.packBestFit(docsDf(mkDoc(7L, 25)), ctx = 10, shards = 1)
      .orderBy("piece").collect()
      .map(r => (r.getAs[Int]("piece"), r.getAs[Int]("n_tok")))
    assert(big.toSeq == Seq((0, 10), (1, 10), (2, 5)), big.toSeq.toString)
    // real corpus: no bin over capacity, bin count at the lower bound
    // per shard would need fractional splits — assert ≥ ceil and ≤ 2×
    val docs = (1L to 200L).map(i => mkDoc(i, 1 + (i % 37).toInt))
    val packed = Curation.packBestFit(docsDf(docs: _*), ctx = 64, shards = 4)
    val fills = packed.groupBy("shard", "bin_id")
      .agg(sum("n_tok").as("fill")).collect()
    assert(fills.forall(_.getAs[Long]("fill") <= 64L))
    val byShard = packed.groupBy("shard")
      .agg(sum("n_tok").as("tok"), countDistinct("bin_id").as("bins")).collect()
    byShard.foreach { r =>
      val lb = (r.getAs[Long]("tok") + 63) / 64
      assert(r.getAs[Long]("bins") >= lb && r.getAs[Long]("bins") <= 2 * lb, r.toString)
    }
    // deterministic under physical row order
    val a = packed.orderBy("doc_id", "piece").collect().map(_.toSeq)
    val b = Curation.packBestFit(docsDf(docs: _*).repartition(7), ctx = 64, shards = 4)
      .orderBy("doc_id", "piece").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("exact-substring dedup: later occurrences drop, first survives, short docs untouched") {
    val dup = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"  // exactly k=10 tokens
    val dup2 = "kilo lima mike november oscar papa quebec romeo sierra tango"
    val docs = docsDf(
      (1L, s"unique opening words here then $dup", "s1"),          // first occurrence — keeps all
      (2L, s"totally different start yet $dup and a tail", "s1"),  // later occurrence — loses the 10
      (3L, s"$dup2 $dup2", "s1"),                                  // within-doc repeat — second copy drops
      (4L, "short doc below gram size", "s2"))                     // < k tokens — untouched
    val out = Curation.exactSubstrDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tok"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
    assert(out(1L)._1 == out(1L)._2, s"first occurrence must keep everything: ${out(1L)}")
    assert(out(2L)._2 == out(2L)._1 - 10, s"doc 2 must lose exactly the duplicated 10-gram: ${out(2L)}")
    assert(!out(2L)._3.contains("alpha") && out(2L)._3.startsWith("totally different start yet"))
    // doc 3: the gram at pos 11 duplicates pos 1; the straddling grams
    // (pos 2..10) occur once each, so exactly the second copy drops
    assert(out(3L) == ((20L, 10L, dup2)), s"within-doc repeat: ${out(3L)}")
    assert(out(4L)._1 == out(4L)._2 && out(4L)._3 == "short doc below gram size")
  }

  test("DSIR selection: exactly k kept, target-like docs outrank, repartition-stable, broadcast-scored") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Curation.dsirSelect(spark, docs, k = 50)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("score_fp"), r.getAs[Boolean]("selected"))).toMap
    assert(rows.size == docs.count())
    assert(rows.values.count(_._2) == 50, "top-k cut must keep exactly k docs")
    // selected = the top-k of the (score, doc_id) order — no selected
    // doc may rank below an unselected one
    val minSel = rows.collect { case (id, (s, true)) => (s, -id) }.min
    val maxUnsel = rows.collect { case (id, (s, false)) => (s, -id) }.max
    assert(minSel._1 > maxUnsel._1 ||
      (minSel._1 == maxUnsel._1 && -minSel._2 < -maxUnsel._2))
    // importance weights train TOWARD the weak-label target, so the
    // mean score over weak-good docs must exceed the mean over weak-bad
    val ws = split(trim(lower(col("text"))), "\\s+")
    val lab = docs.select(col("doc_id"),
      (length(col("text")) >= 60 && size(ws) >= 10 &&
        size(filter(ws, w => w === "the" || w === "a")).cast("double") / size(ws) <= 0.5).as("good"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("good")).toMap
    val (g, b) = rows.toSeq.partition(kv => lab(kv._1))
    assert(g.nonEmpty && b.nonEmpty)
    def mean(xs: Seq[(Long, (Long, Boolean))]) = xs.map(_._2._1.toDouble).sum / xs.size
    assert(mean(g) > mean(b), s"no separation: good=${mean(g)} bad=${mean(b)}")
    // integer-exact scoring + (score, doc_id) cut => identical under
    // any partitioning
    val re = Curation.dsirSelect(spark, docs.repartition(7), k = 50)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_fp"), r.getAs[Boolean]("selected"))).toMap
    assert(re == rows)
    // scoring is row-local against broadcast rows — the corpus is never
    // shuffled between scan and fold (P31/P34 audit shape)
    val plan = out.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("quality classifier: separates the weak-label classes, repartition-stable, broadcast-scored") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = TextAnalysis.qualityClassifier(spark, docs)
    val rows = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Double]("score"), r.getAs[Boolean]("keep"))).toMap
    assert(rows.size == docs.count())
    // the Rocchio weights are built FROM the weak labels, so the mean
    // score over weak-good docs must exceed the mean over weak-bad
    val ws = split(trim(lower(col("text"))), "\\s+")
    val lab = docs.select(col("doc_id"),
      (length(col("text")) >= 60 && size(ws) >= 10 &&
        size(filter(ws, w => w === "the" || w === "a")).cast("double") / size(ws) <= 0.5).as("good"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("good")).toMap
    val (goodScores, badScores) = rows.toSeq.partition(kv => lab(kv._1))
    assert(goodScores.nonEmpty && badScores.nonEmpty)
    def mean(xs: Seq[(Long, (Double, Boolean))]) = xs.map(_._2._1).sum / xs.size
    assert(mean(goodScores) > mean(badScores),
      s"no separation: good=${mean(goodScores)} bad=${mean(badScores)}")
    // integer-exact scoring => identical under any partitioning
    val re = TextAnalysis.qualityClassifier(spark, docs.repartition(7))
      .collect().map(r =>
        r.getAs[Long]("doc_id") -> (r.getAs[Double]("score"), r.getAs[Boolean]("keep"))).toMap
    assert(re == rows)
    // scoring is row-local against the ONE broadcast weight row — the
    // corpus is not shuffled between scan and fold (P31's audit shape)
    val plan = out.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("embedDedup: planted duplicates collapse to one kept representative per cluster") {
    // sf0.001 embeddings + exact copies of vecs 0..4 under new ids:
    // cos(copy, original) = 1 >= tau, so each copy must land in its
    // original's cluster with keep=false (the original has the lower id
    // and is the cluster min). Untouched vectors keep themselves unless
    // they near-dup something organically — keep iff cluster_id==vec_id
    // must hold for EVERY row either way.
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val maxId = emb.agg(max($"vec_id")).as[Long].head()
    val copies = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + lit(maxId + 1)).as("vec_id"), $"label", $"embedding")
    val out = Similarity.embedDedup(spark, emb.union(copies), 0.9).collect()
    assert(out.length == emb.count() + 5)
    out.foreach { r =>
      assert(r.getAs[Boolean]("keep") == (r.getAs[Long]("cluster_id") == r.getAs[Long]("vec_id")))
    }
    val byId = out.map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    (0L until 5L).foreach { i =>
      val (origCluster, _) = byId(i)
      val (copyCluster, copyKeep) = byId(maxId + 1 + i)
      assert(copyCluster == origCluster, s"copy of $i not in original's cluster")
      assert(!copyKeep, s"copy of $i kept despite duplicating vec $i")
    }
    // exactly one kept representative per cluster, and it is the min id
    out.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
      val kept = rows.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id"))
      assert(kept.sameElements(Array(cid)), s"cluster $cid kept ${kept.toList}")
      assert(rows.map(_.getAs[Long]("vec_id")).min == cid)
    }
  }

  test("BPE tokenizer: pinned merges on a known corpus, encoder matches, round-trip, stable") {
    import graft.pipeline.Tokenizer
    // word freqs: abab×3, cd×2 → pair counts r0: (a,b)=6, (b,a)=3, (c,d)=2
    // → merge0 (a,b); r1: (ab,ab)=3, (c,d)=2 → merge1 (ab,ab); r2 (c,d)
    val docs = docsDf((1L, "abab abab cd", "s1"), (2L, "abab cd", "s1"))
    val merges = Tokenizer.trainMerges(spark, docs, numMerges = 3)
      .orderBy("rank").collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    assert(merges.sameElements(Array(("a", "b"), ("ab", "ab"), ("c", "d"))), merges.toList.toString)
    // compiled encoder applies the same rules left-to-right
    val enc = docsDf((1L, "ababcd", "s1")).select(
      expr("""bpe_encode('ababcd', array(named_struct('a','a','b','b'),
             |  named_struct('a','ab','b','ab'), named_struct('a','c','b','d')))""".stripMargin).as("t"))
      .collect().head.getSeq[String](0)
    assert(enc == Seq("abab", "cd"), enc.toString)
    // real corpus: round-trip (concat of a word's tokens = the word),
    // compression (tokens ≤ codepoints), and audit column present
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Tokenizer.bpeTokenize(spark, corpus, numMerges = 8)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe"), r.getAs[String]("bpe_head"))).toMap
    assert(rows.size == corpus.count())
    val chars = corpus.select(col("doc_id"),
      size(split(regexp_replace(trim(lower(col("text"))), "\\s+", ""), "")).cast("long").as("n_cp"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_cp")).toMap
    rows.foreach { case (id, (nw, nb, head)) =>
      assert(nb >= nw, s"doc $id: fewer tokens than words")
      assert(nb <= chars(id), s"doc $id: more tokens than codepoints")
      assert(head.nonEmpty)
    }
    // deterministic integer training: identical merges from a
    // repartitioned sample
    val merges2 = Tokenizer.trainMerges(spark, docs.repartition(5), numMerges = 3)
      .orderBy("rank").collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    assert(merges2.sameElements(Array(("a", "b"), ("ab", "ab"), ("c", "d"))))
  }

  test("unigram tokenizer: Viterbi picks min-cost pieces, round-trips words, stable under repartition") {
    import graft.pipeline.Tokenizer
    // 'ab' dominates the sample, so it enters the vocab and beats the
    // char-by-char path; 'xyz' words segment to single chars
    val docs = docsDf(
      (1L, "abab abab abab cd", "s1"), (2L, "abab ab cd", "s1"),
      (3L, "abab abab xyz", "s1"))
    val vocab = Tokenizer.trainUnigram(spark, docs, vocabSize = 8, maxPieceLen = 2)
      .collect().map(r => r.getAs[String]("piece") -> r.getAs[Long]("cost")).toMap
    assert(vocab.contains("ab") && vocab.contains("a") && vocab.contains("b"))
    assert(vocab("ab") < vocab("x")) // frequent piece is cheaper
    // Viterbi via the expression: "abab" -> [ab, ab], never 4 chars
    val seg = docs.sparkSession.sql(
      s"""SELECT unigram_encode('abab', array(${vocab.toSeq.sortBy(_._1).map {
        case (p, c) => s"named_struct('piece', '$p', 'cost', ${c}L)" }.mkString(",")})) AS t""")
      .collect().head.getSeq[String](0)
    assert(seg == Seq("ab", "ab"))
    // corpus pass: every word's pieces concatenate back to the word
    // (round trip) and piece counts are between words and codepoints
    val out = Tokenizer.unigramTokenize(spark, docs, vocabSize = 8, maxPieceLen = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"), r.getAs[String]("piece_head"))).toMap
    // vocab is 7 single chars + 1 multi slot ('ab'), so: 3x abab -> 2
    // pieces each, cd -> [c, d]
    assert(out(1L)._1 == 4L && out(1L)._2 == 8L)
    assert(out.values.forall { case (nw, np, _) => np >= nw })
    assert(out(1L)._3.startsWith("ab|ab"))
    // deterministic integer training: identical vocab from a
    // repartitioned sample
    val v2 = Tokenizer.trainUnigram(spark, docs.repartition(5), vocabSize = 8, maxPieceLen = 2)
      .collect().map(r => r.getAs[String]("piece") -> r.getAs[Long]("cost")).toMap
    assert(v2 == vocab)
    // unknown characters never fail: an all-OOV word segments to chars
    val oov = docs.sparkSession.sql(
      s"""SELECT unigram_encode('QQ', array(named_struct('piece', 'a', 'cost', 1L))) AS t""")
      .collect().head.getSeq[String](0)
    assert(oov == Seq("Q", "Q"))
  }

  test("sourceCap: at most k kept per source by quality rank, tie-break on doc_id, salt-transparent") {
    // source A: docs 1/4/6 tie at q_fp = 12*10000 DIV 14 = 8571 -> doc_id
    // breaks the tie; 2/5 at 4285; 3 at 0. k=2 keeps exactly {1, 4}.
    val docs = docsDf(
      (1L, "aaaa bbbb cccc", "A"), (2L, "aa11 bb22 cc33", "A"),
      (3L, "1111 2222 3333", "A"), (4L, "aaaa bbbb dddd", "A"),
      (5L, "a1a1 b2b2 c3c3", "A"), (6L, "aaaa aaaa aaaa", "A"),
      (7L, "hello world", "B"))
    val out = Curation.sourceCap(docs, k = 2, salt = 4)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("src_rank")).map(_.toLong), r.getAs[Boolean]("kept"))).toMap
    assert(out(1L) == (Some(1L), true) && out(4L) == (Some(2L), true))
    assert(Seq(2L, 3L, 5L, 6L).forall(id => out(id) == (None, false)))
    assert(out(7L) == (Some(1L), true)) // under-capacity source keeps all
    // the salted prefilter is semantically transparent: degenerate
    // salt=1 (single bucket = plain window) gives the identical verdict
    val one = Curation.sourceCap(docs.repartition(5), k = 2, salt = 1)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("src_rank")).map(_.toLong), r.getAs[Boolean]("kept"))).toMap
    assert(one == out)
  }

  test("perplexityBuckets: target-like docs score below gibberish, buckets ordered, stable") {
    val pat = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val good = s"$pat $pat" // 20 tokens, >= 60 chars, no stopwords -> trains the LM
    val docs = docsDf(
      (1L, good, "s"), (2L, good, "s"), (3L, good, "s"),
      (4L, "alpha beta gamma delta epsilon zeta", "s"), // seen bigrams, not in training (< 60 chars)
      (5L, "zz1 qq2 xx3 yy4 ww5", "s"),                 // unseen bigrams
      (6L, "mm7 nn8 oo9 pp0 rr1", "s"))
    val out = TextAnalysis.perplexityBuckets(spark, docs).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ppl_bp"), r.getAs[String]("bucket"))).toMap
    assert(out.size == 6)
    // every pattern doc scores strictly below every gibberish doc
    for (p <- Seq(1L, 2L, 3L, 4L); g <- Seq(5L, 6L))
      assert(out(p)._1 < out(g)._1, s"doc $p vs $g: $out")
    assert(Seq(5L, 6L).forall(id => out(id)._2 == "tail"))
    assert(out(1L)._2 == "head")
    // bucket assignment is monotone in the score
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    for (a <- out.values; b <- out.values if a._1 < b._1)
      assert(rank(a._2) <= rank(b._2), s"$a vs $b")
    // integer pipeline -> identical output under any partitioning
    val re = TextAnalysis.perplexityBuckets(spark, docs.repartition(7)).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ppl_bp"), r.getAs[String]("bucket"))).toMap
    assert(re == out)
  }

  test("tfidfTerms: run-length tf matches, rare terms outrank common, ties on term, stable") {
    // "rare" appears once in doc 1 only (df=1); "common" in all 3 docs
    // (df=3 -> idf_fp = floor(ln(4/4)*1e4+0.5) = 0 -> score 0)
    val docs = docsDf(
      (1L, "common rare common zeta zeta zeta", "s"),
      (2L, "common beta beta", "s"),
      (3L, "common gamma", "s"))
    val out = TextAnalysis.tfidfTerms(docs, k = 3).orderBy("doc_id", "rk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Long]("score_fp")))
      .toMap
    val idf1 = math.floor(math.log(4.0 / 2.0) * 10000 + 0.5).toLong // df=1
    assert(out((1L, 1L)) == ("zeta", 3L, 1L, 3 * idf1))  // tf=3 run-length over the sorted array
    assert(out((1L, 2L)) == ("rare", 1L, 1L, idf1))
    assert(out((1L, 3L)) == ("common", 2L, 3L, 0L))      // idf(df=n) = ln(1) = 0
    assert(out((3L, 1L)) == ("gamma", 1L, 1L, idf1))
    assert(out((3L, 2L)) == ("common", 1L, 3L, 0L))
    // deterministic under partitioning
    val re = TextAnalysis.tfidfTerms(docs.repartition(5), k = 3).orderBy("doc_id", "rk").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Long]("score_fp")))
      .toMap
    assert(re == out)
  }

  test("semanticDedup: planted duplicates collapse in-cell, diverse rep kept, equi-join only") {
    // exact copies of vecs 0..4: identical embeddings assign to the
    // same cell, cos(copy, orig) = 1 >= eps, and the (ccos, vec_id)
    // rep rule keeps the ORIGINAL (equal ccos -> lower id wins)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val maxId = emb.agg(max($"vec_id")).as[Long].head()
    val copies = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + lit(maxId + 1)).as("vec_id"), $"label", $"embedding")
    val out = Similarity.semanticDedup(spark, emb.union(copies), 0.95)
    val plan = out.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
    val rows = out.collect()
    assert(rows.length == emb.count() + 5)
    val byId = rows.map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[Double]("ccos"), r.getAs[Boolean]("keep"))).toMap
    (0L until 5L).foreach { i =>
      val (origCluster, origCcos, _) = byId(i)
      val (copyCluster, copyCcos, copyKeep) = byId(maxId + 1 + i)
      assert(copyCluster == origCluster, s"copy of $i not grouped with original")
      assert(copyCcos == origCcos)
      assert(!copyKeep, s"copy of $i kept over the lower-id original")
    }
    // exactly one representative per duplicate group, and it is the
    // group's (ccos, vec_id) minimum — the paper's diversity-keeping rule
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rs) =>
      val kept = rs.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id"))
      val expect = rs.map(r => (r.getAs[Double]("ccos"), r.getAs[Long]("vec_id"))).min._2
      assert(kept.sameElements(Array(expect)), s"cluster $cid kept ${kept.toList}, want $expect")
    }
    // corpus-adaptive cells (cells0 = 0): identical vectors still assign
    // to the same cell at any cell count, so the planted-duplicate
    // guarantee is depth-independent — the same property that makes
    // deeper LSH tables recall-safe for dedup
    val auto = Similarity.semanticDedup(spark, emb.union(copies), 0.95, cells0 = 0)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    (0L until 5L).foreach { i =>
      assert(auto(maxId + 1 + i)._1 == auto(i)._1, s"auto cells: copy of $i not grouped")
      assert(!auto(maxId + 1 + i)._2, s"auto cells: copy of $i kept")
    }
  }

  test("cosinePairs: candidates from LSH buckets, subset of exact pairs, no cartesian") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = Similarity.cosinePairs(spark, emb, 0.3)
    // never all-pairs: the candidate join must be an equi-join, not a
    // label-only (or cartesian) product
    val plan = pairs.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(1200))
    val got = pairs.select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect()
    // exact ground truth via the brute path (test-only; small sf)
    val a = emb.select($"label", $"vec_id".as("vec_a"), $"embedding".as("e_a"))
    val b = emb.select($"label", $"vec_id".as("vec_b"), $"embedding".as("e_b"))
    val exact = a.join(b, Seq("label")).filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", round(Similarity.cosine($"e_a", $"e_b"), 6).as("cos"))
      .filter($"cos" >= 0.3)
      .select("vec_a", "vec_b", "cos").as[(Long, Long, Double)].collect()
    val exactKeys = exact.map(t => (t._1, t._2)).toSet
    assert(got.nonEmpty)
    got.foreach { t => assert(exactKeys.contains((t._1, t._2)), s"false positive $t") }
    val recall = got.length.toDouble / exact.length
    assert(recall >= 0.1, s"recall=$recall (${got.length}/${exact.length})")
  }

  test("embedDedup edges: bucket equi-join, no cartesian, every edge is a real near-dup") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val edges = Similarity.embedDedupEdges(spark, emb, 0.3)
    val plan = edges.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(1200))
    // soundness: every emitted edge really has cosine >= threshold
    // (completeness is approximate by design — LSH may miss pairs)
    val e = edges.as[(Long, Long)].collect()
    val byId = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    e.foreach { case (x, y) =>
      assert(x < y, s"unordered edge ($x,$y)")
      assert(cos(byId(x), byId(y)) >= 0.3 - 1e-9, s"edge ($x,$y) below threshold")
    }
  }

  test("Misra-Gries heavy hitters: guarantee holds against exact counts") {
    import graft.functions.HeavyHitters
    val k = 10
    val words = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(trim(lower($"text")), "\\s+")).as("word"))
      .filter(length($"word") > 0)
    val n = words.count()
    val exact = words.groupBy("word").count().as[(String, Long)].collect().toMap
    val hh = words.agg(HeavyHitters.of($"word", k).as("hh"))
      .select(explode($"hh").as("e")).as[String].collect()
      .map { s => val i = s.lastIndexOf(':'); (s.substring(0, i), s.substring(i + 1).toLong) }
    // every true heavy hitter (freq > n/(k+1)) must be reported
    val mustHave = exact.filter(_._2 > n / (k + 1)).keySet
    val reported = hh.map(_._1).toSet
    assert(mustHave.subsetOf(reported), s"missing: ${mustHave -- reported}")
    // reported counts are lower bounds within n/(k+1) of the truth
    hh.foreach { case (w, c) =>
      val t = exact(w)
      assert(c <= t && c >= t - n / (k + 1), s"$w: reported $c, true $t")
    }
  }

  test("corpus cleaner reports per-gate attrition via observed metrics") {
    import graft.pipeline.Corpus
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    var kept = 0L
    val m = observed("corpus_gates") { kept = Corpus.clean(docs).count() }
    val drops = Seq("dropped_len", "dropped_words", "dropped_stop", "dropped_lang")
      .map(m.getAs[Long]).sum
    // first-failing-gate attribution: kept + drops == rows after dedup
    assert(m.getAs[Long]("kept") == kept, m.toString)
    assert(m.getAs[Long]("after_dedup") == kept + drops, m.toString)
  }

  test("binary triage: magic-number sniffing and entropy pin known values") {
    import graft.functions.BinImpl
    // direct impl checks on known byte arrays
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, 1, 2)
    assert(BinImpl.sniffFormat(png).toString == "png")
    assert(BinImpl.sniffFormat("RIFFxxxxWAVEdata".getBytes("ISO-8859-1")).toString == "wav")
    assert(BinImpl.sniffFormat("%PDF-1.7".getBytes).toString == "pdf")
    assert(BinImpl.sniffFormat("hello".getBytes).toString == "unknown")
    assert(BinImpl.byteEntropy(Array.fill[Byte](100)(7)) == 0.0)
    val uniform = (0 until 256).map(_.toByte).toArray
    assert(math.abs(BinImpl.byteEntropy(uniform) - 8.0) < 1e-9)
    val hist = BinImpl.byteHistogram16(uniform)
    assert(hist.forall(f => math.abs(f - 1.0 / 16) < 1e-12))
    // and through the SQL surface over the media table
    val feats = Multimodal.binaryFeatures(spark,
      spark.read.parquet(s"$sf0001/documents.parquet").limit(60))
    val rows = feats.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (m, f) = (r.getAs[String]("modality"), r.getAs[String]("format"))
      if (m == "image") assert(f == "png", r.toString)
      else if (m == "audio") assert(f == "wav", r.toString)
      else assert(f == "unknown", r.toString)
      val e = r.getAs[Double]("entropy")
      assert(e >= 0.0 && e <= 8.0)
    }
  }

  test("label centroids are element-wise exact means") {
    val emb = Seq(
      (0L, Array(1f, 3f), 7), (1L, Array(3f, 5f), 7)
    ).toDF("vec_id", "embedding", "label")
    val c = Similarity.labelCentroids(emb).orderBy("pos").collect()
    assert(c.map(_.getAs[Double]("c")).sameElements(Array(2.0, 4.0)))
  }

  test("text quality/tokens/langid produce the hand-computed values") {
    val docs = docsDf((1L, "The cat sat on a mat", "s1"))
    val q = TextAnalysis.qualityScore(docs).collect().head
    assert(q.getAs[Long]("n_words") == 6)
    assert(q.getAs[Long]("n_stop") == 2) // 'the' (lowered), 'a'
    val t = TextAnalysis.tokenCounts(docs).collect().head
    assert(t.getAs[Long]("n_ws_tokens") == 6)
    val l = TextAnalysis.languageId(docs).collect().head
    assert(l.getAs[String]("lang_pred") == "en")
  }

  test("connected components: chains, cliques, isolated parts resolve exactly") {
    import graft.pipeline.Cluster
    // one 6-node chain (diameter 5 — exercises pointer jumping), one
    // triangle, one disjoint edge; min id labels each component
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // chain
      (20L, 21L), (21L, 22L), (20L, 22L),                         // triangle
      (30L, 31L)                                                  // pair
    ).toDF("a", "b")
    val got = Cluster.connectedComponents(edges).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    val want = (10L to 15L).map(_ -> 10L).toMap ++
      (20L to 22L).map(_ -> 20L).toMap ++ Map(30L -> 30L, 31L -> 30L)
    assert(got == want)
  }

  test("connected components: reliable-checkpoint path writes per-round labels") {
    import graft.pipeline.Cluster
    val dir = tempDir("graft_cc_chk")
    try SparkSpec.withConf("spark.graft.checkpointDir" -> dir) {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("a", "b")
      val got = Cluster.connectedComponents(edges).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L, 10L -> 9L))
      // the gate actually engaged: checkpoint files exist under the dir
      def countFiles(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
      assert(countFiles(new java.io.File(dir)) > 0,
        s"no checkpoint files written under $dir")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("connected components: near-dup pairs from minhash cluster transitively") {
    import graft.pipeline.Cluster
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet green hills near the old stone bridge"
    // 1~2 and 2~3 are near-dups; 1~3 may or may not surface directly —
    // the cluster must contain all three either way. 4 is unrelated.
    val docs = docsDf(
      (1L, base, "s1"),
      (2L, base.replace("quiet", "silent"), "s1"),
      (3L, base.replace("quiet", "silent").replace("rain", "snow"), "s1"),
      (4L, "completely different words about database engines and query plans running fast", "s2"))
    val pairs = Dedup.minhashCandidates(docs, minJaccard = 0.3)
      .select("doc_a", "doc_b")
    val cc = Cluster.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cc.keySet == Set(1L, 2L, 3L))
    assert(cc.values.toSet == Set(1L))
  }

  test("P38b property: the pinned merge table reduces to ONE greedy leftmost doubled-pair pass") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.Parameters
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData
    // the oracle's closed form is sound only if the REAL rank-ordered
    // 36-rule merge loop equals a single greedy leftmost pass pairing
    // doubled [a-z0-9] chars — the independence argument (each rule
    // touches only its own character's runs; merged symbols never
    // re-match), verified here token-for-token on adversarial words
    val cs = ('a' to 'z') ++ ('0' to '9')
    val merges = ArrayData.toArrayData(cs.map(c => InternalRow(
      UTF8String.fromString(c.toString), UTF8String.fromString(c.toString))).toArray)
    def closedTokens(w: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val c = w(i)
        val mergeable = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
        if (mergeable && i + 1 < w.length && w(i + 1) == c) {
          out += s"$c$c"; i += 2
        } else { out += c.toString; i += 1 }
      }
      out.toSeq
    }
    // bias toward doubles/runs; include chars OUTSIDE the table
    // (uppercase, 'ß') which must never merge
    val gen = Gen.listOf(Gen.frequency(
      5 -> Gen.oneOf('a', 'b', '0'), 2 -> Gen.alphaLowerChar,
      1 -> Gen.const('Z'), 1 -> Gen.const('ß'))).map(_.mkString)
    val prop = Prop.forAll(gen) { w =>
      val got = graft.functions.BpeImpl.encode(UTF8String.fromString(w), merges)
      val toks = (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString)
      Prop(toks == closedTokens(w))
    }
    val res = org.scalacheck.Test.check(
      Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
  }

  test("P21: round count follows the documented log step; contraction keeps the residual ∝ blocks, not ∝ n") {
    import graft.pipeline.Cluster
    // consecutive-id chains spanning B 4096-id blocks: phase 0 must
    // contract each block locally (residual node count ∝ B, never ∝ n
    // — residual ∝ n would be the contraction-skew failure mode), and
    // phase 1's pointer jumping must converge in O(log₂ B) rounds (the
    // r11→r12 sweep-drift diagnosis: an extra round at a power-of-2
    // residual boundary is THIS step function, not a regression).
    // (a) CONSECUTIVE-id chains: phase 0 contracts whole 4096-id
    // blocks (and, with fewer partitions than blocks, co-resident
    // adjacent blocks too) — residual node count must be ∝ B, never
    // ∝ n, and rounds bounded by log₂ B + slack.
    def runDense(blocks: Int): (Int, Long) = {
      val n = 4096L * blocks
      val edges = spark.range(1, n)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val got = Cluster.connectedComponents(edges)
      assert(got.filter(col("cluster_id") =!= 1L).count() == 0)
      assert(got.count() == n)
      Cluster.lastStats
    }
    val (r1, n1) = runDense(1)
    val (r64, n64) = runDense(64)
    assert(r1 <= 2, s"B=1 rounds=$r1")
    assert(r64 <= 9, s"B=64 rounds=$r64") // log2(64)=6 + bounded slack
    assert(n1 <= 16L, s"B=1 residual=$n1")
    assert(n64 <= 8L * 64, s"B=64 residual=$n64")
    // (b) SPACED chains (nodes 4096 apart — every node its own block,
    // so phase 0 cannot contract beyond partition co-residence):
    // phase 1 must solve a residual ∝ L, and the pointer-jump round
    // count must follow the log step — 16× the chain buys at most
    // log₂ 16 + 2 extra rounds. THIS is the sweep-drift attribution:
    // rounds growing like log L is the documented step function;
    // rounds growing like L would be the regression.
    // At fixture scale AQE coalesces the phase-0 repartition into ONE
    // partition and the local union-find solves everything (rounds=0
    // — measured here, and the r11→r12 sweep-drift explanation: below
    // the advisory-size boundary phase 1 barely runs and times are
    // flat; past it real partitioning engages and the log-step rounds
    // appear). Pin the step function with coalescing OFF so phase 1
    // genuinely runs over a residual ∝ L.
    def runSpaced(len: Int): Int = {
      val edges = spark.range(0, len.toLong)
        .select((col("id") * 4096L).as("a"), ((col("id") + 1) * 4096L).as("b"))
      val got = Cluster.connectedComponents(edges)
      assert(got.filter(col("cluster_id") =!= 0L).count() == 0)
      assert(got.count() == len + 1L)
      Cluster.lastStats._1
    }
    SparkSpec.withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val s64 = runSpaced(64)
      val s1024 = runSpaced(1024)
      assert(s64 <= 9, s"L=64 rounds=$s64")       // log2(64)=6 + slack
      assert(s1024 <= 13, s"L=1024 rounds=$s1024") // log2(1024)=10 + slack
      assert(s1024 - s64 <= 6, s"L=64:$s64 -> L=1024:$s1024")
      assert(s1024 >= 1, s"4 partitions cannot fully contract a spaced " +
        s"1024-chain, rounds=$s1024")
    }
  }

  test("stratified sample respects per-stratum fractions and a fixed seed") {
    import graft.pipeline.Splits
    val docs = (1L to 2000L).map(i => (i, s"text $i", "s1")).toDF("doc_id", "text", "source")
      .withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val fr = Map("en" -> 0.5, "de" -> 0.1)
    val s1 = Splits.stratified(docs, fr, seed = 7L)
    val counts = s1.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    // 1000 per stratum; Bernoulli bounds are loose but damning if crossed
    assert(counts("en") > 350 && counts("en") < 650, counts.toString)
    assert(counts("de") > 30 && counts("de") < 200, counts.toString)
    // fixed seed + same plan → same sample
    assert(s1.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Splits.stratified(docs, fr, seed = 7L).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq)
    // membership is a pure function of doc_id — REPARTITION-stable
    // (sampleBy's per-partition RNG failed this; the Knuth hash holds)
    assert(s1.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Splits.stratified(docs.repartition(13), fr, seed = 7L)
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq)
    // a different seed draws a different sample
    assert(s1.collect().map(_.getAs[Long]("doc_id")).toSet !=
      Splits.stratified(docs, fr, seed = 8L).collect().map(_.getAs[Long]("doc_id")).toSet)
  }

  test("train/test split is a pure function of doc_id with ~80/20 mass") {
    import graft.pipeline.Splits
    val docs = (1L to 2000L).map(i => (i, s"text $i", "s1")).toDF("doc_id", "text", "source")
    val out = Splits.trainTest(docs)
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("bucket"), r.getAs[String]("split"))).toMap
    // repartitioning must not move anyone (pure function of the key)
    val re = Splits.trainTest(docs.repartition(13)).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("bucket"), r.getAs[String]("split"))).toMap
    assert(byId == re)
    assert(byId.values.forall { case (b, s) => b >= 0 && b < 256 && (s == "train") == (b < 204) })
    val trainFrac = byId.values.count(_._2 == "train").toDouble / byId.size
    assert(trainFrac > 0.75 && trainFrac < 0.85, trainFrac.toString)
  }

  test("multimodal: stubbed decode is deterministic, batched, partition-preserving") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema.fieldNames.toSet == Set("id", "modality", "payload", "meta"))
    val f1 = Multimodal.documentFeatures(spark, docs).orderBy("id").limit(3).collect()
    val f2 = Multimodal.documentFeatures(spark, docs).orderBy("id").limit(3).collect()
    assert(f1.zip(f2).forall { case (a, b) =>
      a.getAs[Seq[Float]]("features") == b.getAs[Seq[Float]]("features") })
    import spark.implicits._
    val ds = media.as[Multimodal.MediaItem]
    assert(Multimodal.extractFeatures(ds, 8).rdd.getNumPartitions == ds.rdd.getNumPartitions)
  }

  test("mixture sampling hits the target proportions and is repartition-stable") {
    import graft.pipeline.Splits
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val target = Seq("en" -> 0.5, "de" -> 0.2, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.05)
    val out = Splits.mixture(docs, target)
    val counts = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    // each stratum within 20% relative of its target share (Bernoulli
    // noise at sf0.001 sizes; the hash is uniform, not exact-count)
    for ((lang, p) <- target if counts.contains(lang)) {
      val share = counts(lang) / total
      assert(math.abs(share - p) / p < 0.2, s"$lang share $share vs target $p ($counts)")
    }
    // membership is a pure function of doc_id: identical under repartition
    val a = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Splits.mixture(docs.repartition(13), target)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
    // the binding stratum (smallest n/p) keeps all its rows
    val nByLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = target.minBy { case (l, p) => nByLang.getOrElse(l, 0L) / p }._1
    assert(counts(binding) == nByLang(binding), s"binding stratum $binding was downsampled")
  }

  test("mixture membership hash stays in [0,1) for doc_id beyond the BIGINT-overflow bound") {
    // doc_id * 2654435761 wraps Long negative from doc_id ~ 3.47e9;
    // the decimal-reduced form must keep u well-defined up there
    val huge = spark.range(1000).selectExpr("id + CAST(8589934592 AS BIGINT) AS doc_id") // 2^33
    val us = huge.select(Splits.membershipU.as("u")).collect().map(_.getDouble(0))
    assert(us.forall(u => u >= 0.0 && u < 1.0), s"u out of range: ${us.filter(u => u < 0 || u >= 1).take(3).mkString(",")}")
    assert(us.distinct.length > 900, "membership hash lost uniformity at large ids")
    // and below the bound it is bit-identical to the historical formula
    val small = spark.range(1000).selectExpr("id * 7919 AS doc_id")
    val both = small.select(Splits.membershipU.as("u"),
      (expr("CAST(doc_id * 2654435761 % 4294967296 AS DOUBLE)") / lit(4294967296.0)).as("v"))
      .collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("multimodal: real PNG decode recovers pinned pixel statistics") {
    import Multimodal.{MediaItem, MediaMeta}
    // hand-built 2×2: red, green, blue, white — known means and
    // luminance bins (76→bin1, 149→bin2, 29→bin0, 255→bin3)
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val png = out.toByteArray
    val f = Multimodal.decodeImage(png, 16).get
    assert(f(0) == 2f && f(1) == 2f)
    assert(f(2) == 0.5f && f(3) == 0.5f && f(4) == 0.5f) // (255+255)/4/255
    assert(f(5) == 0.25f && f(6) == 0.25f && f(7) == 0.25f && f(8) == 0.25f)
    assert((9 until 16).forall(f(_) == 0f)) // zero padding to dim
    // same values through the distributed Dataset path
    val ds = Seq(MediaItem(1L, "image", png, MediaMeta(2, 2, 0))).toDS()
    val feats = Multimodal.extractFeatures(ds, dim = 9).collect().head
    assert(feats.features.toSeq == f.take(9).toSeq)
    // pngPayload round trip: generator output is decodable and sized right
    val gen = Multimodal.decodeImage(Multimodal.pngPayload(42L, 4, 4), 9).get
    assert(gen(0) == 4f && gen(1) == 4f)
    // corrupt payload degrades to the stub instead of failing the task
    val bad = Seq(MediaItem(2L, "image", Array[Byte](1, 2, 3), MediaMeta(0, 0, 0))).toDS()
    assert(Multimodal.extractFeatures(bad, dim = 4).collect().head.features.length == 4)
    // valid PNG magic + corrupt body THROWS inside ImageIO (not null);
    // must still degrade to the stub, not fail the task
    val truncated = png.take(24) ++ Array[Byte](9, 9, 9, 9)
    val badBody = Seq(MediaItem(3L, "image", truncated, MediaMeta(0, 0, 0))).toDS()
    assert(Multimodal.extractFeatures(badBody, dim = 4).collect().head.features.length == 4)
  }

  test("multimodal: nearest-neighbor resize maps exact source pixels and round-trips") {
    import Multimodal.{MediaItem, MediaMeta}
    // 4×4 with a distinct color per quadrant: nearest-neighbor 2×2 must
    // pick pixels (0,0) (2,0) (0,2) (2,2) — the quadrant corners
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val q = Array(0xff0000, 0x00ff00, 0x0000ff, 0xffffff)
    for (y <- 0 until 4; x <- 0 until 4)
      img.setRGB(x, y, q((y / 2) * 2 + (x / 2)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val ds = Seq(MediaItem(1L, "image", out.toByteArray, MediaMeta(4, 4, 0))).toDS()
    val r = Multimodal.resizeImages(ds, 2, 2).collect().head
    assert(r.origW == 4 && r.origH == 4 && r.w == 2 && r.h == 2 && r.outBytes > 0)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth == 2 && back.getHeight == 2)
    val got = for (y <- 0 until 2; x <- 0 until 2) yield back.getRGB(x, y) & 0xffffff
    assert(got == Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff), got.map(_.toHexString))
    // upscale hits each source pixel an integral number of times
    val up = Multimodal.resizeImages(ds, 4, 4).collect().head
    val upImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up.payload))
    assert((upImg.getRGB(0, 0) & 0xffffff) == 0xff0000 &&
      (upImg.getRGB(3, 3) & 0xffffff) == 0xffffff)
    // corrupt payload degrades to the sentinel row, not a task failure
    val bad = Seq(MediaItem(2L, "image", Array[Byte](9, 9, 9), MediaMeta(0, 0, 0))).toDS()
    val s = Multimodal.resizeImages(bad, 2, 2).collect().head
    assert(s.origW == -1 && s.outBytes == 0)
  }

  test("multimodal: perceptual hashes match on identical images, stay close under a pixel flip, split on unrelated") {
    import Multimodal.{MediaItem, MediaMeta}
    def item(id: Long, payload: Array[Byte]) = MediaItem(id, "image", payload, MediaMeta(8, 8, 0))
    val base = Multimodal.pngPayload(7L, 8, 8)
    // perturbed copy: decode, flip ONE pixel, re-encode
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    img.setRGB(0, 0, img.getRGB(0, 0) ^ 0x000040)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val ds = Seq(
      item(1L, base), item(2L, base),                           // exact twins
      item(3L, out.toByteArray),                                // near-dup
      item(4L, Multimodal.pngPayload(99L, 8, 8)),               // unrelated
      item(5L, Array[Byte](1, 2, 3))                            // corrupt
    ).toDS()
    val hs = Multimodal.imageHashes(ds).collect().map(h => h.id -> h).toMap
    assert(hs(1L).ok && hs(1L).ahash == hs(2L).ahash && hs(1L).dhash == hs(2L).dhash)
    assert(!hs(5L).ok) // corrupt degrades, never fails the task
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L).ahash, hs(3L).ahash) <= 8)   // one-pixel flip stays near
    assert(ham(hs(1L).ahash, hs(4L).ahash) > 8)    // unrelated image splits
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.imageHashes(ds).toDF(), maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("ham_a")).toMap
    assert(pairs((1L, 2L)) == 0L)          // exact twins at hamming 0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near-dups found
    assert(pairs.keySet.forall { case (a, b) => a != 4L && b != 4L }) // unrelated excluded
  }

  test("multimodal: audio frames pin exact integer energy, crossings, and silence verdicts") {
    import Multimodal.{MediaItem, MediaMeta}
    // 80 samples mono PCM16 LE @ 8kHz: 40 of silence, then 40
    // alternating +/-16384 — with frameSamples=40 that is one silent
    // frame and one loud frame with a crossing at every step
    val pcm = new Array[Byte](160)
    for (i <- 40 until 80) {
      val s: Short = if (i % 2 == 0) 16384 else -16384
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 80L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val ds = Seq(MediaItem(1L, "audio", out.toByteArray, MediaMeta(0, 0, 80)),
      MediaItem(2L, "audio", Array[Byte](3, 1, 4), MediaMeta(0, 0, 0))).toDS()
    val fr = Multimodal.audioFrames(ds, frameSamples = 40).collect()
      .groupBy(_.id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    val f = fr(1L)
    assert(f.length == 2)
    assert(f(0).energy == 0L && f(0).zc == 0 && f(0).silent)
    assert(f(1).energy == 40L * 16384L * 16384L) // exact integer sum of squares
    assert(f(1).zc == 39 && !f(1).silent)
    // corrupt payload degrades to the sentinel frame
    assert(fr(2L).head.frame_idx == -1 && fr(2L).head.silent)
  }

  test("multimodal: real WAV decode recovers pinned signal statistics") {
    import Multimodal.{MediaItem, MediaMeta}
    // hand-built 4-sample mono PCM16 @ 8kHz: [0, 16384, -16384, 0]
    // → rms = sqrt((0 + .25 + .25 + 0)/4) = sqrt(.125), peak = .5,
    //   zero crossings: 16384→-16384 and -16384→0 ⇒ zcr = 2/4
    val pcm = Array[Short](0, 16384, -16384, 0)
    val bytes = new Array[Byte](8)
    pcm.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte; bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, 4L)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val f = Multimodal.decodeAudio(out.toByteArray, 8).get
    assert(f(0) == 8000f && f(1) == 1f && f(2) == 4f) // rate, channels, frames
    assert(f(3) == 4f / 8000f)                        // duration
    assert(math.abs(f(4) - math.sqrt(0.125)) < 1e-6)  // rms
    assert(f(5) == 0.5f)                              // peak
    assert(f(6) == 0.5f && f(7) == 0f)                // zcr, mean
    // wavPayload round trip through the distributed Dataset path
    val ds = Seq(MediaItem(7L, "audio", Multimodal.wavPayload(7L, 160, 16000),
      MediaMeta(0, 0, 16000))).toDS()
    val feats = Multimodal.extractFeatures(ds, dim = 8).collect().head
    assert(feats.features(0) == 16000f && feats.features(2) == 160f)
    // corrupt-body WAV (valid RIFF/WAVE magic, truncated) degrades to
    // the stub instead of failing the task
    val corrupt = out.toByteArray.take(30)
    val bad = Seq(MediaItem(8L, "audio", corrupt, MediaMeta(0, 0, 0))).toDS()
    assert(Multimodal.extractFeatures(bad, dim = 4).collect().head.features.length == 4)
  }

  test("multimodal: real MJPEG-AVI decode recovers pinned container + pixel stats") {
    import Multimodal.{MediaItem, MediaMeta}
    // hand-built container, independent of aviPayload's builders: RIFF/
    // AVI with an avih (16×16 @ 25fps) and two solid-color JPEG frames
    // (mid-gray 128 then white 255) — solid colors survive JPEG's DCT
    // near-exactly, so luminance and motion pin within tolerance
    def u32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String) = s.getBytes("ISO-8859-1")
    def chunk(id: String, d: Array[Byte]) =
      cc(id) ++ u32(d.length.toLong) ++ d ++ (if (d.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(kind: String, d: Array[Byte]) = cc("LIST") ++ u32(d.length + 4L) ++ cc(kind) ++ d
    def solidJpeg(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", o); o.toByteArray
    }
    val avih = chunk("avih", u32(40000L) ++ Array.fill(7)(u32(0L)).flatten ++
      u32(16L) ++ u32(16L) ++ u32(0L) ++ u32(0L) ++ u32(0L) ++ u32(0L))
    val movi = list("movi", chunk("00dc", solidJpeg(0x808080)) ++ chunk("00dc", solidJpeg(0xffffff)))
    val body = cc("AVI ") ++ list("hdrl", avih) ++ movi
    val avi = cc("RIFF") ++ u32(body.length.toLong) ++ body
    val f = Multimodal.decodeVideo(avi, 9).get
    assert(f(0) == 2f && f(1) == 16f && f(2) == 16f && f(3) == 25f)
    assert(math.abs(f(4) - (128.0 / 255 + 1.0) / 2) < 0.02) // mean luminance
    assert(math.abs(f(5) - (1.0 - 128.0 / 255)) < 0.03)     // motion |Δlum|
    assert(math.abs(f(6) - f(7)) < 0.02 && math.abs(f(7) - f(8)) < 0.02) // gray: R≈G≈B
    // aviPayload round trip through the distributed Dataset path
    val ds = Seq(MediaItem(9L, "video", Multimodal.aviPayload(9L, nFrames = 3, w = 8, h = 8),
      MediaMeta(8, 8, 0))).toDS()
    val feats = Multimodal.extractFeatures(ds, dim = 9).collect().head
    assert(feats.features(0) == 3f && feats.features(1) == 8f && feats.features(3) == 25f)
    // corrupt payload (bad magic / truncated movi) degrades to the
    // fallback instead of failing the task
    val bad = Seq(MediaItem(10L, "video", avi.take(40), MediaMeta(0, 0, 0))).toDS()
    assert(Multimodal.extractFeatures(bad, dim = 4).collect().head.features.length == 4)
  }

  test("gopher rules: each rule flips at its published integer-exact boundary") {
    def rules(id: Long, text: String) =
      TextAnalysis.gopherRules(docsDf((id, text, "s1"))).collect().head
    // 50 words, mean len in [3,10], two stopword kinds, clean — keeps
    val good = rules(1L, "the of " + Seq.fill(48)("word").mkString(" "))
    assert(good.getAs[Boolean]("keep"), s"expected keep: $good")
    // 49 words: word-count lower bound is inclusive at 50
    assert(!rules(2L, "the of " + Seq.fill(47)("word").mkString(" "))
      .getAs[Boolean]("r_word_count"))
    // mean word length exactly 3.0 passes (inclusive); one char fewer fails
    val atMean = rules(3L, Seq.fill(50)("abc").mkString(" "))
    assert(atMean.getAs[Boolean]("r_mean_word_len"))
    val below = rules(4L, "of " + Seq.fill(49)("abc").mkString(" "))
    assert(below.getAs[Long]("sum_word_len") == 149L)
    assert(!below.getAs[Boolean]("r_mean_word_len"))
    // 6 '#' symbols among 56 words: 60 > 56 fails the 0.1 ratio
    val sym = rules(5L, "the of " + Seq.fill(48)("word").mkString(" ") + " # # # # # #")
    assert(sym.getAs[Long]("n_symbols") == 6L && !sym.getAs[Boolean]("r_symbol_ratio"))
    // 40 alpha words + 11 numeric: 40*5 < 51*4 fails the 80% bound
    val alpha = rules(6L, (Seq.fill(40)("word") ++ Seq.fill(11)("123")).mkString(" "))
    assert(!alpha.getAs[Boolean]("r_alpha_words"))
    // Rae et al. A1.1 removes only MORE than 90%/30%: exactly-at-threshold kept.
    // 9 of 10 lines bullet-led: 90 <= 90 keeps; 10 of 10: 100 > 90 fails.
    val atBullet = (Seq.fill(9)("- item") :+ "plain").mkString("\n")
    assert(rules(7L, atBullet).getAs[Boolean]("r_bullet"))
    assert(!rules(7L, Seq.fill(10)("- item").mkString("\n")).getAs[Boolean]("r_bullet"))
    // 3 of 10 ellipsis-ended: 30 <= 30 keeps; 4 of 10: 40 > 30 fails.
    val atEll = (Seq.fill(3)("trailing...") ++ Seq.fill(7)("plain")).mkString("\n")
    assert(rules(8L, atEll).getAs[Boolean]("r_ellipsis"))
    val overEll = (Seq.fill(4)("trailing...") ++ Seq.fill(6)("plain")).mkString("\n")
    assert(!rules(8L, overEll).getAs[Boolean]("r_ellipsis"))
    // one stopword kind only
    assert(!rules(9L, "the " + Seq.fill(50)("word").mkString(" "))
      .getAs[Boolean]("r_stop_words"))
  }

  test("gopher repetition: coverage semantics, tie-breaks, and boundary flips") {
    def rep(id: Long, text: String) =
      TextAnalysis.gopherRepetition(spark, docsDf((id, text, "s1"))).collect().head
    // structural stats on a small doc (too short to pass the top-3/4
    // fractions — a single 4-gram is 27% of 15 words, which is exactly
    // why Gopher pairs these with the 50-word minimum in P42)
    val good = rep(1L, "aa bb cc dd ee\nff gg hh ii jj\n\nkk ll mm nn oo")
    assert(good.getAs[Long]("n_lines") == 3L && good.getAs[Long]("n_paras") == 2L)
    assert(good.getAs[Long]("n_dup_lines") == 0L && good.getAs[Long]("dup5_chars") == 0L)
    assert(good.getAs[Long]("top2_occ") == 1L && good.getAs[Boolean]("r_top2"), s"$good")
    // a LONG diverse doc keeps under every rule
    val long = rep(9L, (1 to 60).map(i => f"w$i%03d").mkString(" "))
    assert(long.getAs[Boolean]("keep"), s"$long")
    // pure repetition fails both the top-gram and dup-coverage families
    val spam = rep(2L, Seq.fill(30)("spam").mkString(" "))
    assert(spam.getAs[Long]("top2_occ") == 29L)
    assert(spam.getAs[Long]("top2_chars") == 29L * 8)
    assert(spam.getAs[Long]("dup5_chars") == spam.getAs[Long]("total_chars"))
    assert(!spam.getAs[Boolean]("r_top2") && !spam.getAs[Boolean]("r_dup5") &&
      !spam.getAs[Boolean]("keep"))
    // exactly-at-threshold kept (Rae et al. remove strictly-greater):
    // top 2-gram "abc de" = 5 of 25 chars = 0.20 exactly
    val at = rep(3L, "abc de aa bb cc dd ee ff gg hh ii jj")
    assert(at.getAs[Long]("top2_chars") == 5L && at.getAs[Long]("total_chars") == 25L)
    assert(at.getAs[Boolean]("r_top2"))
    // one char more: 6 of 26 > 0.20 rejects
    assert(!rep(4L, "abcd de aa bb cc dd ee ff gg hh ii jj").getAs[Boolean]("r_top2"))
    // count ties break to the EARLIEST first occurrence: "aaa bb" (pos 0,
    // 5 chars) beats "bb cc" (pos 1, 4 chars), both occurring twice
    val tie = rep(5L, "aaa bb cc aaa bb cc")
    assert(tie.getAs[Long]("top2_occ") == 2L && tie.getAs[Long]("top2_chars") == 10L)
    // duplicate-gram coverage counts each position ONCE: a 5-cycle ×3
    // has 11 duplicated 5-grams spanning all 15 one-char tokens — the
    // coverage is 15 chars, not 11·5
    val cyc = rep(6L, Seq.fill(3)("a b c d e").mkString(" "))
    assert(cyc.getAs[Long]("dup5_chars") == 15L && cyc.getAs[Long]("total_chars") == 15L)
    // line/paragraph duplicate fractions and char fractions
    val ld = rep(7L, "aa bb\ncc dd\n\naa bb\ncc dd\n\nee ff")
    assert(ld.getAs[Long]("n_lines") == 5L && ld.getAs[Long]("n_dup_lines") == 2L)
    assert(ld.getAs[Long]("line_chars") == 25L && ld.getAs[Long]("dup_line_chars") == 10L)
    assert(ld.getAs[Long]("n_paras") == 3L && ld.getAs[Long]("n_dup_paras") == 1L)
    assert(ld.getAs[Long]("dup_para_chars") == 11L)
    assert(!ld.getAs[Boolean]("r_dup_line") && !ld.getAs[Boolean]("r_dup_para") &&
      !ld.getAs[Boolean]("r_dup_line_char") && !ld.getAs[Boolean]("r_dup_para_char"))
    // reflow adapter: 3-word lines, 4-line paragraphs, replayable joins
    val re = TextAnalysis.reflowParagraphs(
      docsDf((8L, (1 to 15).map(i => s"w$i").mkString(" "), "s1")))
      .collect().head.getAs[String]("text")
    assert(re == "w1 w2 w3\nw4 w5 w6\nw7 w8 w9\nw10 w11 w12\n\nw13 w14 w15")
  }

  test("c4 rules: line retention and page verdicts flip at published boundaries") {
    def rules(id: Long, text: String) =
      TextAnalysis.c4Rules(docsDf((id, text, "s1"))).collect().head
    // a surviving line: >= 5 words AND terminal punctuation
    val keptLine = "one two three four five."
    val doc = rules(1L, Seq(keptLine, "one two three four.", // 4 words: dropped
      "one two three four five",                             // no terminal: dropped
      "uses javascript one two three four.",                 // javascript: dropped
      "she said \"yes indeed it works\"").mkString("\n"))    // quote-terminal: kept
    assert(doc.getAs[Long]("n_lines") == 5L)
    assert(doc.getAs[Long]("n_kept_lines") == 2L)
    assert(doc.getAs[String]("clean_text") ==
      keptLine + "\nshe said \"yes indeed it works\"")
    // page keep needs >= 3 sentences (terminal marks in ORIGINAL text)
    assert(rules(2L, "a b. c d! e f?").getAs[Boolean]("keep"))
    assert(!rules(3L, "a b. c d!").getAs[Boolean]("keep"))
    // each page-level veto fires alone
    assert(!rules(4L, "ok. ok! ok? but Lorem Ipsum appears").getAs[Boolean]("keep"))
    assert(rules(4L, "ok. ok! ok? but Lorem Ipsum appears").getAs[Boolean]("has_lorem"))
    assert(!rules(5L, "ok. ok! ok? code { follows").getAs[Boolean]("keep"))
    assert(!rules(6L, "ok. ok! ok? with badword present").getAs[Boolean]("keep"))
    // bad-word match is whole-word: substring hits don't veto
    assert(rules(7L, "ok. ok! ok? notbadwordhere is fine").getAs[Boolean]("keep"))
  }

  test("temperature mix: integer-exact replay and low-resource flattening") {
    import spark.implicits._
    // 90/10 corpus: alpha=0.3 must keep a LARGER fraction of the
    // low-resource stratum than of the high-resource one.
    val docs = ((0L until 90L).map(i => (i, "en")) ++ (90L until 100L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val out = Splits.temperatureMix(docs).collect()
    val ppm = out.map(r => r.getAs[String]("lang") -> r.getAs[Long]("keep_ppm")).toMap
    // replay the whole arithmetic in Scala (same grid, same int divs)
    def qfp(n: Long) = math.floor(math.pow(n / 100.0, 0.3) * 1e6 + 0.5).toLong
    val (qEn, qDe) = (qfp(90), qfp(10)); val z = qEn + qDe; val budget = 100L * 3 / 5
    def expPpm(q: Long, n: Long) = math.min(1000000L, budget * q / z * 1000000L / n)
    assert(ppm("en") == expPpm(qEn, 90) && ppm("de") == expPpm(qDe, 10),
      s"ppm=$ppm expected en=${expPpm(qEn, 90)} de=${expPpm(qDe, 10)}")
    assert(ppm("de") > ppm("en"), s"flattening violated: $ppm")
    // membership replay: EXACTLY the docs whose Knuth hash clears the
    // per-stratum ppm bar are kept — repartition-stable by construction
    def kept(id: Long, p: Long) =
      (BigInt(id % 4294967296L) * 2654435761L % 4294967296L) * 1000000L < BigInt(p) * 4294967296L
    val expected = (0L until 100L).filter(i => kept(i, if (i < 90) ppm("en") else ppm("de"))).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == expected)
  }

  test("epoch upsampling: per-doc copy counts replay exactly and average to the target epochs") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, if (i < 100) "en" else "de"))
      .toDF("doc_id", "lang")
    // en: 2.45 epochs -> 2 or 3 copies; de: 0.30 -> 0 or 1
    val out = Splits.epochUpsample(docs, Seq("en" -> 245L, "de" -> 30L)).collect()
    def frac(id: Long, fracCp: Long) =
      (BigInt(id % 4294967296L) * 2654435761L % 4294967296L) * 100L < BigInt(fracCp) * 4294967296L
    val copies = out.groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.length).toMap
    (0L until 200L).foreach { i =>
      val (full, fr) = if (i < 100) (2L, 45L) else (0L, 30L)
      val expected = full + (if (frac(i, fr)) 1 else 0)
      assert(copies.getOrElse(i, 0) == expected, s"doc $i: ${copies.get(i)} vs $expected")
    }
    // every copy index 0..n-1 present exactly once
    val en7 = out.filter(_.getAs[Long]("doc_id") == 7L).map(_.getAs[Long]("copy")).sorted
    assert(en7.sameElements(0L until en7.length))
  }

  test("persisted LSH index: indexed gate verdicts == inline, append closes the ingest loop") {
    val corpus = (0L until 40L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f", "s1"))
    val docs = docsDf(corpus: _*)
    val batch = docsDf(
      (100L, corpus(7)._2, "s1"),                 // exact twin of corpus 7
      (101L, "zq1 zq2 zq3 zq4 zq5 zq6", "s1"))    // novel
    val dir = tempDir("graft_lsh_idx")
    try {
      Dedup.lshIndexWrite(docs, dir)
      def verdicts(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "is_novel", "dup_of")
          .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_novel"),
            if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      val indexed = verdicts(Dedup.incrementalLshGateIndexed(spark, dir, batch))
      val inline = verdicts(Dedup.incrementalLshGate(
        docsDf((corpus :+ (100L, corpus(7)._2, "s1") :+
          (101L, "zq1 zq2 zq3 zq4 zq5 zq6", "s1")): _*), col("doc_id") >= 100L))
      assert(indexed == inline, s"indexed=$indexed inline=$inline")
      // ingest loop: append the admitted (novel) doc, then a re-arrival
      // of the same novel text must now be flagged dup-of-101
      Dedup.lshIndexAppend(batch.filter(col("doc_id") === 101L), dir)
      val rearrival = docsDf((200L, "zq1 zq2 zq3 zq4 zq5 zq6", "s1"))
      val again = Dedup.incrementalLshGateIndexed(spark, dir, rearrival).collect().head
      assert(!again.getAs[Boolean]("is_novel") && again.getAs[Long]("dup_of") == 101L &&
        again.getAs[Double]("best_jaccard") == 1.0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("incremental LSH gate: exact twin flagged against corpus, novel passes, equi-join only") {
    // corpus docs use disjoint vocabularies -> cross-doc jaccard 0, so
    // the only verified match for the planted twin is its original
    val corpus = (0L until 40L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f", "s1"))
    val twin = (100L, corpus(7)._2, "s1")          // exact copy of doc 7
    val novel = (101L, "zq1 zq2 zq3 zq4 zq5 zq6", "s1")
    val docs = docsDf((corpus :+ twin :+ novel): _*)
    val gate = Dedup.incrementalLshGate(docs, col("doc_id") >= 100L)
    val plan = gate.queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(1200))
    val rows = gate.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(100L, 101L)) // one verdict per batch doc, corpus untouched
    val t = rows(100L)
    assert(!t.getAs[Boolean]("is_novel") && t.getAs[Long]("dup_of") == 7L &&
      t.getAs[Double]("best_jaccard") == 1.0 && t.getAs[Long]("n_matches") == 1L)
    val n = rows(101L)
    assert(n.getAs[Boolean]("is_novel") && n.isNullAt(n.fieldIndex("dup_of")) &&
      n.getAs[Long]("n_matches") == 0L)
  }

  test("containment pairs surface small-doc-inside-big-doc that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 80).map(i => s"w$i").mkString(" ")
    val docs = docsDf(
      (1L, small, "s1"),                 // contained verbatim in doc 2
      (2L, s"$small $filler", "s1"),     // big doc: small + 80 unique words
      (3L, "totally unrelated content with different words entirely", "s2"))
    val out = Dedup.containmentPairs(docs, minContainmentTenths = 8, maxDf = 50).collect()
    assert(out.length == 1)
    val p = out.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Double]("cont_a") == 1.0) // every small-doc shingle is in the big doc
    assert(p.getAs[Double]("cont_b") < 0.5)  // while Jaccard-style symmetric overlap is low
    // stop-gram filter: a phrase shared by MORE than maxDf docs is
    // evidence-free boilerplate and generates no candidates
    val many = docsDf((1L to 20L).map(i =>
      (i, s"shared common phrase unique$i word$i token$i", s"s$i")): _*)
    assert(Dedup.containmentPairs(many, minContainmentTenths = 1, maxDf = 10).isEmpty)
  }

  test("containment pairs match a brute-force all-pairs oracle on random corpora") {
    // 40 docs over a tiny vocab (dense shingle collisions), maxDf high
    // enough that no stop-gram filtering hides pairs — the operator's
    // verdicts must then equal the naive O(n^2) computation exactly.
    val rnd = new scala.util.Random(1234)
    val vocab = Array("aa", "bb", "cc", "dd", "ee")
    val docs = docsDf((1L to 40L).map { i =>
      val n = 5 + rnd.nextInt(10)
      (i, (1 to n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "), "s")
    }: _*)
    val got = Dedup.containmentPairs(docs, minContainmentTenths = 8, maxDf = 1000)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("common_shingles")).toMap
    // brute force on the driver over the same hashed shingle sets
    val sh = docs.select(col("doc_id"), Dedup.hashedShingles(col("text")).as("sh"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      inter = (sh(a) & sh(b)).size
      if inter * 10 >= sh(a).size * 8 || inter * 10 >= sh(b).size * 8
    } yield (a, b) -> inter.toLong).toMap
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty) // the corpus actually exercises the verdicts
  }

  test("line dedup matches a brute-force oracle on random lined corpora") {
    val rnd = new scala.util.Random(99)
    val lines = Array("common header", "common footer", "x1", "x2", "x3", "x4", "x5", "x6")
    val corpus = (1L to 25L).map { i =>
      val n = 1 + rnd.nextInt(5)
      i -> (1 to n).map(_ => lines(rnd.nextInt(lines.length))).mkString("\n")
    }
    val docs = corpus.toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, minDocs = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))).toMap
    // brute force: count distinct docs per line, strike hot ones in place
    val byLine = corpus.flatMap { case (id, t) => t.split("\n").map(_ -> id) }
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
    val hot = byLine.filter(_._2 >= 5).keySet
    corpus.foreach { case (id, t) =>
      val kept = t.split("\n").filterNot(hot)
      assert(got(id)._1 == kept.mkString("\n"), s"doc $id")
      assert(got(id)._2 == t.split("\n").count(hot))
    }
    assert(hot.nonEmpty) // the threshold actually fires on this corpus
  }

  test("line dedup strikes boilerplate lines recurring across docs, keeps order, and never drops a doc") {
    // "cookie banner" recurs in 3 docs -> boilerplate; unique lines stay.
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nmore text"),
      (2L, "cookie banner\nreal content two"),
      (3L, "intro line\ncookie banner\noutro line"),
      (4L, "cookie banner"), // only boilerplate -> becomes empty, still present
      (5L, "standalone doc with one line")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, minDocs = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L)) // no doc vanishes
    assert(out(1L).getAs[String]("clean_text") == "real content one\nmore text")
    assert(out(1L).getAs[Long]("n_removed") == 1L)
    assert(out(3L).getAs[String]("clean_text") == "intro line\noutro line") // order kept
    assert(out(4L).getAs[String]("clean_text") == "" &&
      out(4L).getAs[Long]("n_removed") == 1L)
    assert(out(5L).getAs[String]("clean_text") == "standalone doc with one line" &&
      out(5L).getAs[Long]("n_removed") == 0L)
    // below threshold: a line shared by only 2 docs survives
    val two = Dedup.lineDedup(docs.filter(col("doc_id") <= 2), minDocs = 3).collect()
    assert(two.forall(_.getAs[Long]("n_removed") == 0L))
  }

  test("reflowLines chunks words into fixed-width lines and round-trips content") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "x")).toDF("doc_id", "text")
    val out = Dedup.reflowLines(docs, wordsPerLine = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out(1L) == "a b c\nd e f\ng") // last line short, nothing lost
    assert(out(2L) == "x")
  }

  test("hard negatives: label-crossing only, planted cross-label twin ranks first, no cartesian") {
    // sf0.001 embeddings + an exact COPY of vec 0 under a label no
    // organic vector carries: cos(copy, 0) = 1, labels differ, so the
    // copy must be vec 0's rank-1 hard negative (and vice versa).
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val maxId = emb.agg(max($"vec_id")).as[Long].head()
    val twin = emb.filter($"vec_id" === 0)
      .select(lit(maxId + 1).as("vec_id"), lit(99).as("label"), $"embedding")
    val df = Similarity.hardNegatives(spark, emb.union(twin), k = 5)
    // candidates must come from the LSH bucket equi-join, never a
    // cross/nested-loop join of anchors x corpus
    val bad = df.queryExecution.sparkPlan.collect {
      case p if p.nodeName.contains("Cartesian") ||
        p.nodeName.contains("BroadcastNestedLoop") => p.nodeName
    }
    assert(bad.isEmpty, s"non-equi join in hard-negative plan: $bad")
    val out = df.collect()
    val labelOf = emb.union(twin).select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    out.foreach { r =>
      assert(labelOf(r.getAs[Long]("anchor")) != r.getAs[Int]("n_label"),
        s"negative shares the anchor's label: $r")
    }
    // ranks are dense from 1 per anchor
    out.groupBy(_.getAs[Long]("anchor")).foreach { case (a, rows) =>
      val rks = rows.map(_.getAs[Long]("rk")).sorted
      assert(rks.sameElements(1L to rks.length), s"anchor $a ranks ${rks.toList}")
    }
    val byAnchor = out.groupBy(_.getAs[Long]("anchor"))
    def rank1(a: Long) = byAnchor(a).find(_.getAs[Long]("rk") == 1L).get
    assert(rank1(0L).getAs[Long]("negative") == maxId + 1)
    assert(rank1(0L).getAs[Double]("cos") == 1.0)
    assert(rank1(maxId + 1).getAs[Long]("negative") == 0L)
  }

  test("auto-sized LSH tables: population-stable sizing, floor and cap pinned") {
    // pop-4 sizing (skew-aware: per-bucket pair work is quadratic and
    // RHP buckets are skewed, so the target is deliberately small)
    assert(Similarity.autoBitsPerTable(2000L, 4) == 9)
    assert(Similarity.autoBitsPerTable(200L, 4) == 6)
    assert(Similarity.autoBitsPerTable(50L, 4) == 4)    // floor: recall at tiny n
    assert(Similarity.autoBitsPerTable(20000L, 4) == 13)
    assert(Similarity.autoBitsPerTable(1000000000000L, 4) == 16) // cap: 4 tables x 16 = 64-bit sig
    // shift-wrap guard (ADVICE r10): for tables <= 2 the signature cap
    // alone would admit >= 32 bits, where the Int mask (1 << bits) - 1
    // wraps to 0 and collapses every vector into one bucket — cap 30.
    assert(Similarity.autoBitsPerTable(Long.MaxValue, 1) == 30)
    assert(Similarity.autoBitsPerTable(Long.MaxValue, 2) == 30)
    // expected bucket population stays <= targetPop wherever the cap allows
    Seq(1000L, 50000L, 200000L).foreach { n =>
      val bits = Similarity.autoBitsPerTable(n, 4)
      assert(n.toDouble / (1L << bits) <= 4.0 * 2, s"n=$n bits=$bits")
    }
    // bitsPerTable=0 (auto) on sf0.001 == the explicit value it resolves to
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    val resolved = Similarity.autoBitsPerTable(emb.count(), 4)
    val auto = Similarity.embedDedup(spark, emb, 0.9, bitsPerTable = 0)
      .collect().map(_.toString).sorted
    val explicit = Similarity.embedDedup(spark, emb, 0.9, bitsPerTable = resolved)
      .collect().map(_.toString).sorted
    assert(auto.sameElements(explicit))
  }

  test("vocab growth: beta 0 for a frozen vocabulary, 1 for linear growth, nested levels") {
    // 16 docs, identical bigram -> vocabulary frozen, beta exactly 0
    val frozen = docsDf((0L to 15L).map(i => (i, "a b", "s1")): _*)
    val f = TextAnalysis.vocabGrowth(frozen).collect()
      .map(r => r.getAs[Long]("sample_denom") -> r).toMap
    assert(f(16L).getAs[Long]("n_tokens") == 1L && f(16L).getAs[Long]("n_vocab") == 1L)
    assert(f(16L).isNullAt(f(16L).fieldIndex("beta"))) // first level has no predecessor
    assert(f(4L).getAs[Long]("n_tokens") == 4L && f(4L).getAs[Long]("n_vocab") == 1L)
    assert(f(1L).getAs[Long]("n_tokens") == 16L && f(1L).getAs[Long]("n_vocab") == 1L)
    assert(f(4L).getAs[Double]("beta") == 0.0 && f(1L).getAs[Double]("beta") == 0.0)
    // every doc a UNIQUE bigram -> vocabulary grows with tokens, beta exactly 1
    val linear = docsDf((0L to 15L).map(i => (i, s"w$i x$i", "s1")): _*)
    val l = TextAnalysis.vocabGrowth(linear).collect()
      .map(r => r.getAs[Long]("sample_denom") -> r).toMap
    assert(l(16L).getAs[Long]("n_vocab") == 1L)
    assert(l(4L).getAs[Long]("n_vocab") == 4L && l(4L).getAs[Double]("beta") == 1.0)
    assert(l(1L).getAs[Long]("n_vocab") == 16L && l(1L).getAs[Double]("beta") == 1.0)
    // nesting invariant holds on arbitrary text too
    val mixed = docsDf((0L to 31L).map(i => (i, s"the quick w$i fox ${i % 3}", "s1")): _*)
    val m = TextAnalysis.vocabGrowth(mixed).collect()
      .map(r => r.getAs[Long]("sample_denom") -> r).toMap
    assert(m(16L).getAs[Long]("n_vocab") <= m(4L).getAs[Long]("n_vocab"))
    assert(m(4L).getAs[Long]("n_vocab") <= m(1L).getAs[Long]("n_vocab"))
    assert(m(16L).getAs[Long]("n_tokens") <= m(4L).getAs[Long]("n_tokens"))
    // empty predecessor level (no doc_id % 16 == 0 docs) -> beta NULL,
    // not NaN (ADVICE r10): "level empty" must read as absent, like
    // the no-predecessor first level.
    val sparse = docsDf((1L to 7L).map(i => (i, s"w$i x$i", "s1")): _*)
    val sp = TextAnalysis.vocabGrowth(sparse).collect()
      .map(r => r.getAs[Long]("sample_denom") -> r).toMap
    assert(sp(16L).getAs[Long]("n_tokens") == 0L)
    assert(sp(4L).isNullAt(sp(4L).fieldIndex("beta")))
    assert(!sp(1L).isNullAt(sp(1L).fieldIndex("beta"))) // %4 level non-empty
  }

  test("version diff classifies added, removed and modified docs; unchanged rows absent") {
    import graft.pipeline.Corpus
    val v1 = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("doc_id", "text")
    val v2 = Seq((2L, "two CHANGED"), (3L, "three"), (4L, "four")).toDF("doc_id", "text")
    val out = Corpus.versionDiff(v1, v2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(out == Map(1L -> "removed", 2L -> "modified", 4L -> "added"))
  }

  test("token fertility: exact on single-char words, invariants and stability on mixed corpus") {
    import graft.pipeline.Tokenizer
    // single-char words are ALWAYS in-vocab as whole pieces, so
    // fertility is exactly 1 piece/word, nothing splits, and chars per
    // piece is exactly 1 — pinned without depending on what the
    // sample-trained vocab learned
    val single = (1L to 8L).map(i => (i, "a b c a b c", "s1"))
    val outS = Tokenizer.tokenFertility(spark, docsDf(single: _*)).collect()
    assert(outS.length == 1)
    assert(outS.head.getAs[Long]("fertility_ppm") == 1000000L, outS.head.toString)
    assert(outS.head.getAs[Long]("split_word_ppm") == 0L)
    assert(outS.head.getAs[Long]("chars_per_piece_ppm") == 1000000L)
    // mixed corpus: each word is at least one piece (fertility >= 1),
    // split rate is a proper fraction, and the numbers are partition-
    // invariant (integer sums, broadcast vocab)
    val mixed = docsDf(
      (1L, "streaming shuffle partitions broadcast", "s1"),
      (2L, "catalyst codegen whole stage", "s1"),
      (3L, "streaming shuffle again and again", "s2"))
    val a = Tokenizer.tokenFertility(spark, mixed).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L, r.toString)
      val split = r.getAs[Long]("split_word_ppm")
      assert(split >= 0L && split <= 1000000L, r.toString)
      assert(r.getAs[Long]("n_pieces") >= r.getAs[Long]("n_words"))
    }
    val b = Tokenizer.tokenFertility(spark, mixed.repartition(7)).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
  }

  test("pinned-vocab fertility: Viterbi packs bigrams, word of length L = ceil(L/2) pieces") {
    import graft.pipeline.Tokenizer
    // word lengths 1..5 → pieces 1,1,2,2,3 (the closed form the DuckDB
    // oracle replays); the encoder must DISCOVER the pairing via DP —
    // the vocab only makes the optimum analytic
    val docs = docsDf((1L, "a bc def ghij klmno", "s1"))
    val out = Tokenizer.tokenFertilityPinned(spark, docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_words") == 5L)
    assert(r.getAs[Long]("n_pieces") == (1L + 1L + 2L + 2L + 3L), r.toString)
    // split words are exactly those of length >= 3
    assert(r.getAs[Long]("split_word_ppm") == 3L * 1000000L / 5L, r.toString)
    // partition-invariance (broadcast vocab, integer sums)
    val again = Tokenizer.tokenFertilityPinned(spark, docs.repartition(5)).collect()
    assert(again.head.toString == r.toString)
  }

  test("pinned-vocab unigram SEGMENTATION: odd words lead with their single char, bigrams follow") {
    import graft.pipeline.Tokenizer
    // the closed form the oracle replays piece-for-piece: the DP's
    // ascending-split strict-< tie-break backtracks bigram-FIRST, so
    // the odd word's lone char provably lands at the FRONT
    val docs = docsDf((1L, "a bc def ghij klmno", "s1"))
    val r = Tokenizer.unigramTokenizePinned(spark, docs).collect().head
    assert(r.getAs[Long]("n_words") == 5L)
    assert(r.getAs[Long]("n_pieces") == 9L)
    assert(r.getAs[String]("seg") == "a bc d|ef gh|ij k|lm|no", r.toString)
    // partition-invariance
    val again = Tokenizer.unigramTokenizePinned(spark, docs.repartition(5))
      .collect().head
    assert(again.getAs[String]("seg") == r.getAs[String]("seg"))
  }
}
