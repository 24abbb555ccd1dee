package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over embedding columns (SURVEY.md §2 P6–P8, P14).
  *
  * Baseline: brute-force cosine top-k — correct, O(|Q|·n), fine when the
  * query set is bounded. Scale path: random-hyperplane LSH bucketing
  * (multi-table) so each probe only scans its buckets — the 100 TB
  * variant of the same API. Cosine is a custom codegen Expression
  * (graft.functions.CosineSimilarity) accumulating in double.
  */
object Similarity extends graft.QueryModule {

  // Slot-replacing persists (§5 rule 12) for the multi-consumer
  // subtrees below: semanticDedup's assignment (feeds both edge sides,
  // the label join and the rep choice — 5 recomputes of the scan +
  // centroid argmax without it) and embedDedup's bucketed signatures.
  private val semSlot = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private val embedSlot = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
  private val hardNegSlot = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Corpus-adaptive LSH table sizing — the 100 TB dial for every
    * RHP-bucket consumer in this file. With FIXED bits the bucket count
    * is constant, so expected per-bucket population grows ∝ corpus and
    * the candidate join does ∝ n²/buckets work (the round-9 sf1 sweep
    * measured it: dedup_embed_cosine 3.2→20.2 s across 10× under the
    * 6-bit default). Sizing bits so expected population stays ≈
    * `targetPop` keeps candidate work ∝ n · targetPop — linear.
    *
    * targetPop defaults SMALL (4): per-bucket pair work is C(pop, 2)
    * and RHP buckets over real embeddings are SKEWED (hyperplane signs
    * correlate across dimensions), so the mean hides heavy buckets
    * where the quadratic bites — measured at m=31.6 of the sf1 sweep:
    * expected-pop-32 sizing (11 bits at 63k vectors) ran 45 s where
    * pop-4 sizing (13–15 bits) runs 3–5.5 s. Depth does not cost dedup
    * recall: a true near-duplicate pair agrees on (almost) every
    * hyperplane, so it collides in every table at ANY depth — deeper
    * tables only shed the mid-similarity collisions the verify step
    * would discard anyway. Floor 4 bits, cap so `tables` buckets still
    * pack one 64-bit signature AND so the bucket mask never reaches the
    * 32-bit shift-wrap (1 << 32 == 1 in Int arithmetic — a >=32-bit
    * mask would silently collapse every vector into bucket 0, the
    * exact cartesian this sizing exists to prevent; reachable for
    * tables <= 2 at ~8.6e9 vectors without the cap).
    *
    * This is the DEFAULT since round 10 (bitsPerTable = 0 on every
    * consumer); the oracle-checked query entries pin the explicit 6 so
    * the DuckDB replay (fixed-shape SQL) stays bit-identical, and the
    * auto == explicit equivalence is a PipelineSpec property. */
  private[graft] def autoBitsPerTable(n: Long, tables: Int,
                                      targetPop: Int = 4): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetPop)) / math.log(2.0)).toInt
    math.min(math.min(30, 64 / tables), math.max(4, needed))
  }

  /** Corpus row count for the adaptive sizers, WITHOUT an extra scan
    * job when avoidable: callers that already know n thread it in
    * (`known >= 0`); otherwise Catalyst's computed statistics answer
    * when they carry an exact row count (ANALYZEd tables / CBO);
    * `count()` is the last resort — and runs at most once per operator
    * invocation, never per consumer of the sized plan. */
  private[graft] def corpusRows(emb: DataFrame, known: Long): Long =
    if (known >= 0L) known
    else {
      // Catalyst's rowCount is EXACT only on count-preserving shapes
      // (Project over a leaf with ANALYZEd stats); under CBO a Filter/
      // Join above the leaf propagates a selectivity ESTIMATE that can
      // be off by orders of magnitude — feeding that to the bit sizer
      // would silently mis-size every LSH consumer (too many bits kills
      // recall, too few restores the quadratic). Anything non-trivial
      // pays the one count() instead.
      val plan = emb.queryExecution.optimizedPlan
      val countPreserving = plan.collectFirst {
        case n if !n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project] &&
                  n.children.nonEmpty => n
      }.isEmpty
      plan.stats.rowCount match {
        case Some(rc) if countPreserving => rc.toLong
        case _                           => emb.count()
      }
    }

  /** Resolve the effective per-table bit width: explicit wins;
    * 0 (the API default) sizes from the corpus via
    * [[autoBitsPerTable]]. */
  private def resolveBits(emb: DataFrame, tables: Int, bitsPerTable: Int,
                          n: Long): Int =
    if (bitsPerTable == 0) autoBitsPerTable(corpusRows(emb, n), tables)
    else bitsPerTable

  /** Brute-force top-k neighbors for each query vector. */
  def bruteForceTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
                     k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val scored = q.crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Multi-table random-hyperplane LSH top-k: one signature, sliced
    * into `tables` bucket tables; candidates share any table bucket.
    * Per-probe work drops from n to ~n/2^bits per table. Approximate:
    * may miss neighbors whose hash differs in all tables.
    * bitsPerTable 0 (default) = corpus-adaptive ([[autoBitsPerTable]]);
    * pass `n` when the corpus count is already known to skip the
    * sizing scan. */
  def lshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
              k: Int, tables: Int = 4, bitsPerTable: Int = 0,
              n: Long = -1L): DataFrame = {
    val bits = resolveBits(corpus, tables, bitsPerTable, n)
    require(tables * bits <= 64,
      s"lshTopK: tables*bitsPerTable must fit one 64-bit signature (got ${tables * bits})")
    def buckets(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val sig = call_function("rhp_bucket", col("embedding"), lit(tables * bits))
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs), sig.as("sig"))
        .select(col(idAs), col(vecAs),
          posexplode(array((0 until tables).map(t =>
            shiftrightunsigned(col("sig"), t * bits)
              .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("tbl", "bucket")))
    }
    val q = buckets(queries, "q_id", "q_vec")
    val c = buckets(corpus, "c_id", "c_vec")
    val cand = q.join(c, Seq("tbl", "bucket")).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("q_vec"), col("c_vec")).distinct()
    val scored = cand.select(col("q_id"), col("c_id"),
      round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** IVF (inverted-file) ANN — the other classic scale path next to
    * LSH: a small coarse quantizer (k-means-lite centroids, Lloyd
    * iterations as pure DataFrame ops), corpus bucketed by nearest
    * cell, probes scan only their nProbe nearest cells. Per-probe work
    * drops from n to ~n·nProbe/cells. Centroids are O(cells·dim) —
    * bounded, so the broadcast is scale-safe. Assignment is ROW-LOCAL:
    * the centroid set folds into one array<struct<cell,cvec>> row,
    * broadcast to every corpus partition, and each row computes its
    * argmax cell with a higher-order `aggregate` (the quantizeInt8
    * pattern) — zero corpus-wide exchanges per assignment, where a
    * crossJoin + groupBy(vec_id) argmax would shuffle the full corpus
    * once per Lloyd iteration plus once for the final index. At 100 TB
    * of embeddings that difference is the index build. Approximate:
    * neighbors hiding in unprobed cells are missed. */

  /** Bounded centroid frame (cell, cvec) → ONE row holding the cells
    * sorted by cell id (ascending, so argmax ties resolve to the lowest
    * cell — max_by(cell, struct(cos, -cell)) parity). The global
    * collect_list aggregate shuffles ≤ `cells` rows, not the corpus. */
  private def centArray(c: DataFrame): DataFrame =
    c.agg(array_sort(collect_list(struct(col("cell"), col("cvec")))).as("cents"))

  /** Nearest-cell assignment: corpus ⨯ broadcast(single-row centroid
    * array), argmax computed per row. No shuffle touches the corpus —
    * audited by PlanAuditSpec (the streamed side of the join is
    * Exchange-free). Strict `>` keeps the first (lowest) cell on ties
    * because the array is sorted by cell. */
  private[graft] def assignCells(corpus: DataFrame, cent: DataFrame): DataFrame = {
    corpus.crossJoin(broadcast(centArray(cent)))
      .select(col("vec_id"), col("embedding"),
        expr(
          """aggregate(
            |  transform(cents, s -> named_struct(
            |    'cos', cosine_sim(embedding, s.cvec), 'cell', s.cell)),
            |  named_struct('cos', CAST(-1e9 AS DOUBLE), 'cell', CAST(-1 AS BIGINT)),
            |  (acc, x) -> IF(x.cos > acc.cos, x, acc)).cell""".stripMargin).as("cell"))
  }

  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
              k: Int, cells: Int = 16, nProbe: Int = 4, lloydIters: Int = 1): DataFrame = {
    require(nProbe <= cells, s"ivfTopK: nProbe ($nProbe) must be <= cells ($cells)")
    import graft.functions.VectorAvg
    // deterministic seeds: the `cells` lowest vec_ids (tiny frame, so
    // the unpartitioned row_number window is over <= `cells` rows)
    var cent = corpus.orderBy("vec_id").limit(cells)
      .select((row_number().over(Window.orderBy("vec_id")) - 1).cast("long").as("cell"),
        col("embedding").as("cvec"))
    // Lloyd re-estimation: assignment carries the embedding through, so
    // the per-cell mean is ONE bounded shuffle (≤ cells groups, partial
    // aggregation map-side) with no join back to the corpus.
    var i = 0
    while (i < lloydIters) {
      cent = assignCells(corpus, cent)
        .groupBy("cell").agg(VectorAvg.of(col("embedding")).as("cvec"))
      i += 1
    }
    ivfServe(queries, corpus, cent, k, nProbe)
  }

  /** The IVF SERVE path shared by the trained ([[ivfTopK]]) and pinned
    * ([[ivfTopKPinned]]) quantizers: row-local corpus assignment,
    * row-local nProbe probe selection against the broadcast centroid
    * row, one cell equi-join, exact-cosine rank. */
  private def ivfServe(queries: DataFrame, corpus: DataFrame, cent: DataFrame,
                       k: Int, nProbe: Int): DataFrame = {
    val indexed = assignCells(corpus, cent)
      .select(col("cell"), col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    // Probe cells row-locally too: score all centroids per query row,
    // sort (negated cos → descending, cell breaks ties low-first),
    // keep nProbe, explode. No per-query window needed.
    val probes = queries.crossJoin(broadcast(centArray(cent)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(expr(
          s"""slice(
             |  array_sort(transform(cents, s -> named_struct(
             |    'neg_cos', -cosine_sim(embedding, s.cvec), 'cell', s.cell))),
             |  1, $nProbe)""".stripMargin).getField("cell")).as("cell"))
    val scored = probes.join(indexed, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id")
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  // ---- P8c/P33c: pinned-quantizer oracle variants -------------------
  //
  // The P38b/P63b "pinned analytic table" device applied to ANN.
  // Production ANN serves against a FROZEN quantizer (ivfIndexQuery /
  // pqIndexQuery read centroids and codebooks written once); what keeps
  // the trained entries rows-only is ONLY that float Lloyd means have
  // no single-SQL replay. Freezing the quantizer as an analytic literal
  // table removes exactly that piece, so the ENTIRE serve path —
  // row-local argmax assignment, probe selection, cell equi-join /
  // ADC table lookups, exact ranking — is replayed bit-for-bit by the
  // DuckDB oracle. Components come from the same splitmix64 stream
  // device as the LSH hyperplanes (disjoint seed spaces) and are
  // float32-rounded exactly as the FLOAT-typed kernels see them.

  /** Raw splitmix64 components of the pinned IVF centroids — the same
    * integers are baked into the DuckDB oracle literal, and BOTH
    * engines derive the float32 component as (int → double) / 2^63 →
    * float, so the tables are bit-identical by construction. */
  private[graft] def pinnedCentInts(cells: Int = 16, dim: Int = 64): Seq[(Long, Seq[Long])] =
    (0 until cells).map { c =>
      (c.toLong, (0 until dim).map(i =>
        graft.functions.HashImpl.splitmix64(900000019L * (c + 1) + i)))
    }

  private[graft] def pinnedCentroids(cells: Int = 16, dim: Int = 64): Seq[(Long, Seq[Float])] =
    pinnedCentInts(cells, dim).map { case (c, is) =>
      (c, is.map(v => (v.toDouble / 9.223372036854776e18).toFloat))
    }

  /** P8c: IVF top-k against the pinned coarse quantizer — identical
    * plan shape to [[ivfIndexQuery]] serving (broadcast bounded
    * centroids, zero corpus-wide exchanges before the one cell
    * equi-join); oracle-exact where the trained twin is rows-only. */
  def ivfTopKPinned(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
                    k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val cent = pinnedCentroids().toDF("cell", "cvec")
    ivfServe(queries, corpus, cent, k, nProbe)
  }

  /** Raw splitmix64 components of the pinned PQ codebook (M=8
    * subspaces × K=32 codes × 8 dims) — same literal-int contract as
    * [[pinnedCentInts]]. */
  private[graft] def pinnedCbInts(subspaces: Int = 8, codes: Int = 32,
                                  subDim: Int = 8): Seq[(Int, Int, Seq[Long])] =
    for (m <- 0 until subspaces; c <- 0 until codes) yield {
      (m, c, (0 until subDim).map(j =>
        graft.functions.HashImpl.splitmix64(777000077L * (m * codes + c + 1) + j)))
    }

  private[graft] def pinnedCodebook(): Seq[(Int, Int, Seq[Float])] =
    pinnedCbInts().map { case (m, c, is) =>
      (m, c, is.map(v => (v.toDouble / 9.223372036854776e18).toFloat))
    }

  /** P33c: PQ ADC top-k against the pinned codebook — the exhaustive
    * compressed-domain scan of [[pqTopK]] with the training replaced by
    * the frozen codebook (what [[pqIndexQuery]] does with the persisted
    * one); encode, distance tables and the ordered ADC sum all replay
    * in SQL, so this entry is oracle-exact. */
  def pqTopKPinned(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
                   k: Int): DataFrame = {
    import spark.implicits._
    val K = 32
    val cb = pinnedCodebook().toDF("m", "code", "cvec")
    val encoded = corpus.crossJoin(broadcast(cbRow(cb)))
      .select(col("vec_id").as("c_id"),
        call_function("pq_encode", col("embedding"), col("cb"), lit(K)).as("pq_codes"))
    pqAdcScan(queries, encoded, cb, K, k)
  }

  // ---- P44: persisted IVF index (build once, serve many) -----------

  /** The persisted IVF index, a write-once query input. */
  val ivfIndex = new graft.Fixture("ivf_index")((spark, dir, p) =>
    ivfIndexWrite(spark, Tables(spark, dir).embeddings, p))

  /** P44: the IVF index as TABLES — the build-once/serve-many split
    * [[ivfTopK]] (which rebuilds its index per call) deliberately
    * skips. Two parquet relations:
    *
    *   indexDir/centroids  (cell, cvec)          — bounded (= cells rows)
    *   indexDir/postings   partitionBy(cell): (vec_id, embedding, cell)
    *
    * Postings are HIVE-PARTITIONED by cell, so serving reads only the
    * probed cells' directories — partition pruning does at the file
    * level what ivfTopK's cell equi-join does at the shuffle level,
    * and at 100 TB "read nProbe/cells of the corpus" IS the index.
    * Training and assignment reuse the ivfTopK path: bounded centroid
    * shuffles, row-local argmax, zero corpus-wide exchanges; the
    * corpus is written once, re-shuffled never (partitionBy hashes
    * rows to their cell directory during the write). */
  def ivfIndexWrite(spark: SparkSession, corpus: DataFrame, indexDir: String,
                    cells: Int = 16, lloydIters: Int = 1): Unit = {
    import graft.functions.VectorAvg
    var cent = corpus.orderBy("vec_id").limit(cells)
      .select((row_number().over(Window.orderBy("vec_id")) - 1).cast("long").as("cell"),
        col("embedding").as("cvec"))
    var i = 0
    while (i < lloydIters) {
      cent = assignCells(corpus, cent)
        .groupBy("cell").agg(VectorAvg.of(col("embedding")).as("cvec"))
      i += 1
    }
    cent.select("cell", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    assignCells(corpus, cent)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/postings")
  }

  /** Incremental index maintenance: append a new batch WITHOUT touching
    * existing postings — new vectors assign to the EXISTING centroids
    * row-locally and their rows land as new files inside the cell
    * directories (`append` + `partitionBy` never rewrites a partition).
    * This is the ANN twin of the P43 ingest gate: per batch the work is
    * batch-sized, never corpus-sized. Centroid drift under sustained
    * ingest is the documented rebuild trigger (the IVF literature's
    * re-train cadence), not something append papers over. */
  def ivfIndexAppend(spark: SparkSession, indexDir: String, newVecs: DataFrame): Unit = {
    val cent = spark.read.parquet(s"$indexDir/centroids")
    assignCells(newVecs, cent)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexDir/postings")
  }

  /** Serve top-k from a persisted index: probe cells chosen row-locally
    * against the broadcast centroid table, then ONE equi-join on cell
    * against the partitioned postings — the selective query-side
    * predicate lets dynamic partition pruning drop unprobed cell
    * directories at scan time (asserted by PipelineSpec). */
  def ivfIndexQuery(spark: SparkSession, indexDir: String, queries: DataFrame,
                    k: Int, nProbe: Int = 4): DataFrame = {
    val cent = spark.read.parquet(s"$indexDir/centroids")
    val postings = spark.read.parquet(s"$indexDir/postings")
    val probes = queries.crossJoin(broadcast(centArray(cent)))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(expr(
          s"""slice(
             |  array_sort(transform(cents, s -> named_struct(
             |    'neg_cos', -cosine_sim(embedding, s.cvec), 'cell', s.cell))),
             |  1, $nProbe)""".stripMargin).getField("cell")).as("cell"))
    val scored = probes
      .join(postings.select(col("cell"), col("vec_id").as("c_id"),
        col("embedding").as("c_vec")), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .dropDuplicates("q_id", "c_id")
      .select(col("q_id"), col("c_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Product-quantization ANN (PQ with asymmetric-distance scoring, the
    * published ADC scan): embeddings are normalized row-locally, split
    * into `subspaces` subvectors, and each subvector is replaced by the
    * id of its nearest codebook centroid — so a 64-dim float vector
    * (256 B) becomes `subspaces` small ints (8 B at M=8), the memory/IO
    * lever that makes exhaustive scans feasible at 100 TB. Queries
    * score candidates through a per-query lookup table (distance from
    * the query's subvector to every centroid) — scoring is table adds,
    * never float-vector math.
    *
    * Scale shape mirrors the IVF lessons: codebooks train on a BOUNDED
    * deterministic sample (the standard practice — PQ training needs a
    * learning set, not the corpus), so every training shuffle is
    * sample-sized; corpus encoding is ROW-LOCAL against the broadcast
    * codebook (nested higher-order argmin, zero corpus exchanges); the
    * ADC scan joins the bounded query set by broadcast. On normalized
    * vectors squared L2 is 2−2·cos, so ascending distance ranks like
    * descending cosine and recall is measured against the exact cosine
    * top-k. Approximate: quantization error can swap near-ties. */
  def pqTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
             k: Int, subspaces: Int = 8, codes: Int = 32,
             trainSample: Int = 2048, lloydIters: Int = 2): DataFrame = {
    val K = codes
    val cb = pqTrainCodebook(corpus, subspaces, K, trainSample, lloydIters)
    // --- encode the FULL corpus: all M codes in one compiled row-local
    // pass (pq_encode normalizes + argmins in a codegen expression —
    // Spark's higher-order lambdas are interpreted per element, which
    // made this exact plan ~2000 interpreted calls per corpus row) ---
    val encoded = corpus.crossJoin(broadcast(cbRow(cb)))
      .select(col("vec_id").as("c_id"),
        call_function("pq_encode", col("embedding"), col("cb"), lit(K)).as("pq_codes"))
    pqAdcScan(queries, encoded, cb, K, k)
  }

  /** PQ codebook training, shared verbatim by the inline [[pqTopK]] and
    * the persisted [[pqIndexWrite]] so their codebooks are the same
    * computation: bounded normalized sample, codegen pq_* expressions,
    * dense-codebook Lloyd (a dead code keeps its previous centroid —
    * ADC indexes the sorted codebook positionally as m*K + code, so a
    * dropped row would silently misalign every lookup after it).
    * Returns (m: int, code: int, cvec). */
  private def pqTrainCodebook(corpus: DataFrame, subspaces: Int, codes: Int,
                              trainSample: Int, lloydIters: Int): DataFrame = {
    import graft.functions.VectorAvg
    require(trainSample >= codes,
      s"pq train: trainSample ($trainSample) must cover the codebook ($codes)")
    val M = subspaces; val K = codes
    val sample = corpus.orderBy("vec_id").limit(trainSample)
      .select(col("vec_id"), call_function("l2_normalize", col("embedding")).as("nv"))
    val svExpr = expr(s"slice(nv, m * (size(nv) DIV $M) + 1, size(nv) DIV $M)")
    // seeds: per subspace, the K lowest vec_ids' subvectors
    val seedW = Window.partitionBy("m").orderBy("vec_id")
    var cb = sample
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("nv"))
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= K)
      .select(col("m"), (col("rn") - 1).as("code"), svExpr.as("cvec"))
    var i = 0
    while (i < lloydIters) { // Lloyd on the sample: shuffle <= sample*M rows
      // assignment reuses the compiled pq_encode on the wide row (the
      // input is already unit-norm; re-normalizing is a no-op), then
      // explodes codes positionally: position IS the subspace
      val means = sample.crossJoin(broadcast(cbRow(cb)))
        .select(col("nv"),
          posexplode(call_function("pq_encode", col("nv"), col("cb"), lit(K)))
            .as(Seq("m", "code")))
        .select(col("m"), col("code"), svExpr.as("sv"))
        .groupBy("m", "code").agg(VectorAvg.of(col("sv")).as("mean"))
      cb = cb.join(means, Seq("m", "code"), "left")
        .select(col("m"), col("code"), coalesce(col("mean"), col("cvec")).as("cvec"))
      i += 1
    }
    cb
  }

  /** One-row broadcast codebook, sorted (m, code) so struct index =
    * m*K + code. */
  private def cbRow(c: DataFrame): DataFrame =
    c.agg(array_sort(collect_list(struct(col("m"), col("code"), col("cvec")))).as("cb"))

  /** The ADC scan shared by inline and persisted serving: per-query
    * distance table over the broadcast codebook, score = sum of M
    * table lookups (ascending L2^2 = descending cos on normalized
    * vectors), bounded query set joined by broadcast. */
  private def pqAdcScan(queries: DataFrame, encoded: DataFrame, cb: DataFrame,
                        K: Int, k: Int): DataFrame = {
    val qTabs = queries.crossJoin(broadcast(cbRow(cb)))
      .select(col("vec_id").as("q_id"),
        call_function("pq_dtab", col("embedding"), col("cb"), lit(K)).as("dtab"))
    val scored = encoded.crossJoin(broadcast(qTabs))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(call_function("pq_adc_score", col("pq_codes"), col("dtab"), lit(K)), 6).as("dist"))
    val w = Window.partitionBy("q_id").orderBy(col("dist").asc, col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  // ---- P33b: persisted PQ index (build once, serve many) -----------

  /** The persisted PQ index, a write-once query input. */
  val pqIndex = new graft.Fixture("pq_index")((spark, dir, p) =>
    pqIndexWrite(spark, Tables(spark, dir).embeddings, p))

  /** P33b: the PQ index as TABLES — [[pqTopK]] retrains codebooks and
    * re-encodes the corpus per call; a production ADC scan trains and
    * encodes ONCE and serves many (the build-once/serve-many split P44
    * gave IVF). Two parquet relations:
    *
    *   indexDir/codebook  (m, code, cvec)       — bounded (M*K rows)
    *   indexDir/pq_codes  (c_id, pq_codes)      — the compressed corpus
    *
    * The corpus is encoded against the codebook READ BACK from disk,
    * so the stored codes are exactly what future appends and queries
    * will see — no trained-but-unwritten state. At 100 TB the
    * pq_codes table is the ~32x-smaller scan (M small ints per
    * vector), which is the entire point of PQ. */
  def pqIndexWrite(spark: SparkSession, corpus: DataFrame, indexDir: String,
                   subspaces: Int = 8, codes: Int = 32,
                   trainSample: Int = 2048, lloydIters: Int = 2): Unit = {
    pqTrainCodebook(corpus, subspaces, codes, trainSample, lloydIters)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    val cb = spark.read.parquet(s"$indexDir/codebook")
    corpus.crossJoin(broadcast(cbRow(cb)))
      .select(col("vec_id").as("c_id"),
        call_function("pq_encode", col("embedding"), col("cb"), lit(codes)).as("pq_codes"))
      .write.mode("overwrite").parquet(s"$indexDir/pq_codes")
  }

  /** Incremental maintenance: encode a new batch against the FROZEN
    * codebook and append its codes — per batch the work is batch-sized,
    * never corpus-sized (the ivfIndexAppend contract). Codebook drift
    * under sustained ingest is the documented retrain trigger. */
  def pqIndexAppend(spark: SparkSession, indexDir: String, newVecs: DataFrame): Unit = {
    val cb = spark.read.parquet(s"$indexDir/codebook")
    val K = pqCodesOf(cb)
    newVecs.crossJoin(broadcast(cbRow(cb)))
      .select(col("vec_id").as("c_id"),
        call_function("pq_encode", col("embedding"), col("cb"), lit(K)).as("pq_codes"))
      .write.mode("append").parquet(s"$indexDir/pq_codes")
  }

  /** Serve top-k from the persisted tables: the ADC scan reads the
    * stored codes — identical scoring math to [[pqTopK]] (shared
    * [[pqAdcScan]]), so persisted == inline ranks when built from the
    * same corpus (spec-pinned). */
  def pqIndexQuery(spark: SparkSession, indexDir: String, queries: DataFrame,
                   k: Int): DataFrame = {
    val cb = spark.read.parquet(s"$indexDir/codebook")
    val encoded = spark.read.parquet(s"$indexDir/pq_codes")
    pqAdcScan(queries, encoded, cb, pqCodesOf(cb), k)
  }

  /** K recovered from the bounded codebook table itself (max code + 1)
    * — the index stays self-describing, no side-channel metadata. */
  private def pqCodesOf(cb: DataFrame): Int =
    cb.agg(max(col("code"))).head.getInt(0) + 1

  /** Near-duplicate pairs by cosine threshold. Candidates come from an
    * equi-join on (label, lsh table, bucket) using the same
    * random-hyperplane signatures as [[lshTopK]] — label alone is NOT a
    * bucket (with O(1) labels, a per-label self-join is all-pairs on
    * the corpus: O(n²/L)). Approximate like all LSH: a pair whose
    * signatures differ in every table is missed; high-cosine pairs
    * collide in ≥1 table with high probability. */
  def cosinePairs(spark: SparkSession, emb: DataFrame, minCos: Double,
                  tables: Int = 4, bitsPerTable: Int = 0,
                  n: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, tables, bitsPerTable, n)
    require(tables * bits <= 64,
      s"cosinePairs: tables*bitsPerTable must fit one 64-bit signature (got ${tables * bits})")
    def side(idAs: String, vecAs: String): DataFrame = {
      val sig = call_function("rhp_bucket", col("embedding"), lit(tables * bits))
      emb.select(col("label"), col("vec_id").as(idAs), col("embedding").as(vecAs), sig.as("sig"))
        .select(col("label"), col(idAs), col(vecAs),
          posexplode(array((0 until tables).map(t =>
            shiftrightunsigned(col("sig"), t * bits)
              .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("tbl", "bucket")))
    }
    side("vec_a", "e_a").join(side("vec_b", "e_b"), Seq("label", "tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("label", "vec_a", "vec_b")
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(cosine(col("e_a"), col("e_b")), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Embedding-cosine near-duplicate DEDUP (SURVEY.md §2 P32) — the
    * embedding-space member of the dedup family (P1–P5 work in token
    * space; this one catches paraphrases that share meaning but few
    * shingles). Candidates come from the same multi-table
    * random-hyperplane buckets as [[lshTopK]], GLOBAL (no label key —
    * near-dups must be found across labels); each candidate pair is
    * verified cosine >= minCos; verified pairs become edges and
    * [[Cluster.connectedComponents]] transitively closes them so every
    * near-dup group keeps exactly one representative, the min vec_id.
    * Scale shape: candidate generation is a bucket equi-join (never
    * all-pairs), CC contracts partition-locally before its O(log n)
    * fixpoint, and the label join-back touches only edge endpoints.
    * Approximate like all LSH: a pair colliding in no table is missed.
    */
  def embedDedup(spark: SparkSession, emb: DataFrame, minCos: Double,
                 tables: Int = 4, bitsPerTable: Int = 0,
                 n: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, tables, bitsPerTable, n)
    val clusters = Cluster.connectedComponents(
      embedDedupEdges(spark, emb, minCos, tables, bits))
      .withColumnRenamed("id", "vec_id")
    emb.join(clusters, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .withColumn("keep", col("cluster_id") === col("vec_id"))
  }

  /** Verified near-dup edge list for [[embedDedup]] — exposed so the
    * plan audit can assert the candidate join is a bucket equi-join
    * (no cartesian) independent of the CC fixpoint that consumes it. */
  private[graft] def embedDedupEdges(spark: SparkSession, emb: DataFrame, minCos: Double,
                                     tables: Int = 4, bitsPerTable: Int = 0,
                                     n: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, tables, bitsPerTable, n)
    require(tables * bits <= 64,
      s"embedDedup: tables*bitsPerTable must fit one 64-bit signature (got ${tables * bits})")
    // one bucketed-signature computation, consumed by both join sides
    val bucketed = Dedup.cacheReplacing({
      val sig = call_function("rhp_bucket", col("embedding"), lit(tables * bits))
      emb.select(col("vec_id"), col("embedding"), sig.as("sig"))
        .select(col("vec_id"), col("embedding"),
          posexplode(array((0 until tables).map(t =>
            shiftrightunsigned(col("sig"), t * bits)
              .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("tbl", "bucket")))
    }, embedSlot)
    def side(idAs: String, vecAs: String): DataFrame =
      bucketed.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        col("tbl"), col("bucket"))
    side("vec_a", "e_a").join(side("vec_b", "e_b"), Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // a pair may collide in several tables — verify once
      .filter(cosine(col("e_a"), col("e_b")) >= minCos)
      .select(col("vec_a"), col("vec_b"))
  }

  /** P61: HARD-NEGATIVE mining for contrastive training (Karpukhin et
    * al. 2020 DPR; Xiong et al. 2021 ANCE): for each anchor, the top-k
    * candidates most similar in embedding space whose LABEL differs —
    * "hard" because these are exactly the pairs a contrastive model
    * must learn to push apart, and training on them beats in-batch
    * random negatives (the ANCE result). Retrieval is ANN, not
    * brute-force (the ANCE recipe): candidates come from the same
    * multi-table RHP-LSH bucket join as [[embedDedupEdges]] — an
    * equi-join on (table, bucket), never anchors × corpus — then
    * exact-cosine scored and ranked per anchor. Deterministic end to
    * end (splitmix64 hyperplanes), so the DuckDB oracle replays the
    * candidate set bit-for-bit. At 100 TB the bucket join's per-bucket
    * population is the knob (more tables/bits), the same dial every
    * LSH consumer in this file shares. */
  def hardNegatives(spark: SparkSession, emb: DataFrame, k: Int,
                    tables: Int = 4, bitsPerTable: Int = 0,
                    n: Long = -1L): DataFrame = {
    val bits = resolveBits(emb, tables, bitsPerTable, n)
    val sig = call_function("rhp_bucket", col("embedding"), lit(tables * bits))
    // slot-persisted: the bucketed signatures feed BOTH sides of the
    // candidate join — without the cache the scan + signature pass runs
    // twice (the embedDedupEdges discipline)
    val bucketed = Dedup.cacheReplacing(
      emb.select(col("vec_id"), col("label"), col("embedding"), sig.as("sig"))
        .select(col("vec_id"), col("label"), col("embedding"),
          posexplode(array((0 until tables).map(t =>
            shiftrightunsigned(col("sig"), t * bits)
              .bitwiseAND(lit((1L << bits) - 1))): _*)).as(Seq("tbl", "bucket"))),
      hardNegSlot)
    val cand = bucketed.select(col("vec_id").as("anchor"), col("label").as("a_label"),
        col("embedding").as("a_vec"), col("tbl"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("negative"), col("label").as("n_label"),
        col("embedding").as("n_vec"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("a_label") =!= col("n_label"))
      .dropDuplicates("anchor", "negative") // a pair may collide in several tables
    val w = Window.partitionBy("anchor").orderBy(col("cos").desc, col("negative"))
    cand.select(col("anchor"), col("negative"), col("n_label"),
        round(cosine(col("a_vec"), col("n_vec")), 6).as("cos"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** P37: SemDeDup — semantic deduplication by cluster-then-prune
    * (Abbas et al. 2023): k-means-cluster the embeddings with the same
    * coarse quantizer as [[ivfTopK]], compare pairs only WITHIN a
    * cluster, connect pairs with cosine >= eps into duplicate groups,
    * and keep ONE representative per group — the member LEAST similar
    * to its cluster centroid (the paper's choice: pruning toward
    * low-centroid-similarity keeps the diverse outliers and drops the
    * redundant core). Complements [[embedDedup]] (P32): LSH buckets
    * catch pairs that agree on random hyperplanes; SemDeDup scopes the
    * quadratic verification to semantically coherent regions, which is
    * what makes ε as low as "same meaning" affordable.
    *
    * Scale shape: centroid training and assignment are the IVF path
    * (bounded broadcast, row-local argmax, zero corpus exchanges); the
    * pair join is an equi-join on the cell key, so per-cell work is
    * bounded by that cell's own population — the paper runs cluster
    * counts proportional to corpus size (110k clusters for LAION) to
    * keep cells small, and `cells` is that knob here; duplicate groups
    * close transitively through [[Cluster.connectedComponents]]
    * (partition-local contraction first). Approximate: near-dups split
    * across two cells are missed — the price of never comparing across
    * clusters. Float centroids make results sample-dependent → rows-only
    * + property specs, like IVF/PQ. */
  def semanticDedup(spark: SparkSession, emb: DataFrame, eps: Double,
                    cells0: Int = 0, lloydIters: Int = 1,
                    n: Long = -1L): DataFrame = {
    import graft.functions.VectorAvg
    // cells0 = 0 → corpus-adaptive cell count: with FIXED cells the
    // per-cell population grows ∝ corpus and the in-cell pair join does
    // quadratically more work — the m=31.6 sweep measured it (alpha
    // 1.59, 2.6→16.2 s across 3.16×), and it is the same failure class
    // as fixed LSH bits ([[autoBitsPerTable]]). The paper itself runs
    // cluster counts proportional to corpus size (110k clusters for
    // LAION); ~256 expected members per cell keeps pair work ∝ n·256
    // while the centroid table stays broadcastable far beyond any
    // single-batch corpus (1B vectors → 4M cells ≈ 1 GB — at that
    // point shard the batch, the knob the scaladoc above documents).
    val cells = if (cells0 == 0) math.max(16, math.ceil(corpusRows(emb, n) / 256.0).toInt)
                else cells0
    var cent = emb.orderBy("vec_id").limit(cells)
      .select((row_number().over(Window.orderBy("vec_id")) - 1).cast("long").as("cell"),
        col("embedding").as("cvec"))
    var i = 0
    while (i < lloydIters) {
      cent = assignCells(emb, cent)
        .groupBy("cell").agg(VectorAvg.of(col("embedding")).as("cvec"))
      i += 1
    }
    semanticDedupFrom(emb, cent, eps)
  }

  /** P37b: SemDeDup under the PINNED quantizer (r13, the P8c device
    * for cluster-then-prune): the trained entry is rows-only ONLY
    * because float k-means centroids have no SQL replay — against the
    * frozen [[pinnedCentroids]] table every step is replayable
    * (argmax assignment, within-cell exact-cosine edges, recursive-CTE
    * components, the (ccos, vec_id) struct-min representative), so
    * the ENTIRE paper algorithm is oracle-exact end to end. */
  def semanticDedupPinned(spark: SparkSession, emb: DataFrame,
                          eps: Double): DataFrame = {
    import spark.implicits._
    semanticDedupFrom(emb, pinnedCentroids().toDF("cell", "cvec"), eps)
  }

  /** The cluster-then-prune tail shared by the trained and pinned
    * quantizers: assignment, within-cell pair verify, per-cell CC,
    * least-centroid-similar representative. */
  private def semanticDedupFrom(emb: DataFrame, cent: DataFrame,
                                eps: Double): DataFrame = {
    val assigned = Dedup.cacheReplacing(
      assignCells(emb, cent)
        .join(broadcast(cent), Seq("cell"))
        .select(col("cell"), col("vec_id"), col("embedding"),
          round(cosine(col("embedding"), col("cvec")), 6).as("ccos")), semSlot)
    val edges = assigned.select(col("cell"), col("vec_id").as("vec_a"), col("embedding").as("e_a"))
      .join(assigned.select(col("cell"), col("vec_id").as("vec_b"), col("embedding").as("e_b")),
        Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(cosine(col("e_a"), col("e_b")), 6) >= eps)
      .select(col("cell"), col("vec_a"), col("vec_b"))
    // edges exist only WITHIN a cell, so no component spans cells: the
    // one-shuffle within-key union-find replaces the generic iterative
    // CC (round 8 — identical labels, ~10 fewer jobs per call)
    val comp = Cluster.connectedComponentsWithin(edges, "cell", "vec_a", "vec_b")
      .withColumnRenamed("id", "vec_id")
    val labeled = assigned.join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("ccos"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
    // representative = min (ccos, vec_id) struct — lexicographic, so
    // equal-ccos ties (exact duplicate vectors) resolve to the lowest id
    val reps = labeled.groupBy("cluster_id")
      .agg(min(struct(col("ccos"), col("vec_id"))).as("m"))
      .select(col("cluster_id"), col("m.vec_id").as("rep"))
    labeled.join(reps, Seq("cluster_id"))
      .select(col("vec_id"), col("cell"), col("cluster_id"), col("ccos"),
        (col("vec_id") === col("rep")).as("keep"))
  }

  /** Element-wise centroid per label via posexplode + exact avg —
    * distributed long-form (no collect, no driver loop). The 6-decimal
    * rounding is floor(x·1e6 + 0.5)/1e6, NOT round(): the exact decimal
    * mean can land on a `…5` tie at the 7th digit (sum/200 does at
    * sf0.1), where Spark's BigDecimal HALF_UP and DuckDB's double
    * rounding disagree by one ulp — the floor formula is plain double
    * arithmetic, bit-identical in both engines (the quantizeInt8
    * pattern). */
  def labelCentroids(emb: DataFrame): DataFrame = {
    import graft.operators.Exact
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(Exact.davg(col("v").cast("double")).as("c"))
      .select(col("label"), col("pos"), (floor(col("c") * 1e6 + 0.5) / 1e6).as("c"))
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * memory/IO lever for ANN at 100 TB (float32 → int8 with one
    * per-vector scale). Rounding is floor(v + 0.5): `round()`'s
    * half-even vs half-up conventions differ across engines, floor is
    * bit-exact in both. Per-row column algebra only; the result here
    * projects audit scalars (scale + quantized checksums) because
    * array columns don't survive the oracle's frame compare. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"),
        greatest(
          expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"),
          lit(1e-12)).as("scale"),
        col("embedding"))
      .select(col("vec_id"), col("scale"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT))").as("q"))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("q_sum"),
        expr("aggregate(q, CAST(-128 AS BIGINT), (acc, x) -> greatest(acc, x))").as("q_max"),
        expr("aggregate(q, CAST(128 AS BIGINT), (acc, x) -> least(acc, x))").as("q_min"))

  // ---- queries()/oracle entries -------------------------------------

  val queries: Map[String, Q] = Map(
    "sim_brute_topk" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      bruteForceTopK(spark, emb.filter(col("vec_id") < 10), emb, 5)
        .select("q_id", "c_id", "cos", "rk").orderBy("q_id", "rk")
    }),
    // Oracle replay is fixed-shape SQL, so the oracle-checked entries
    // below pin the explicit 6-bit/16-cell layout; the API DEFAULT is
    // corpus-adaptive (bitsPerTable/cells = 0 → auto) since round 10 —
    // auto == explicit equivalence is a PipelineSpec property.
    "sim_lsh_topk" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      lshTopK(spark, emb.filter(col("vec_id") < 10), emb, 5, bitsPerTable = 6)
        .select("q_id", "c_id", "cos", "rk").orderBy("q_id", "rk")
    }),
    "sim_ivf_topk" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      ivfTopK(spark, emb.filter(col("vec_id") < 10), emb, 5)
        .select("q_id", "c_id", "cos", "rk").orderBy("q_id", "rk")
    }),
    "sim_ivf_topk_pinned" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      ivfTopKPinned(spark, emb.filter(col("vec_id") < 10), emb, 5)
        .select("q_id", "c_id", "cos", "rk").orderBy("q_id", "rk")
    }),
    "sim_pq_topk_pinned" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      pqTopKPinned(spark, emb.filter(col("vec_id") < 10), emb, 5)
        .select("q_id", "c_id", "dist", "rk").orderBy("q_id", "rk")
    }),
    // float centroids -> rows-only (the IVF/PQ precedent); recall and
    // partition-pruning are asserted in PipelineSpec.
    "sim_ivf_persisted" -> ((spark, dir) => {
      val p = ivfIndex.ensure(spark, dir)
      ivfIndexQuery(spark, p,
        Tables(spark, dir).embeddings.filter(col("vec_id") < 10), 5)
        .select("q_id", "c_id", "cos", "rk").orderBy("q_id", "rk")
    }),
    // r17: corpus-side input spread measured and REJECTED — interleaved
    // A/B at cpus=32 lost 0.74× (bench_control_r17_batch2_32.json).
    // Unlike sim_hard_negatives (hash sketches), the spread here ships
    // every full float embedding through an extra exchange before
    // pq_encode shrinks it 32× — the §2.3 heavy-payload rule. Bare.
    "sim_pq_topk" -> ((spark, dir) => {
      val emb = Tables(spark, dir).embeddings
      pqTopK(spark, emb.filter(col("vec_id") < 10), emb, 5)
        .select("q_id", "c_id", "dist", "rk").orderBy("q_id", "rk")
    }),
    // float codebooks -> rows-only (the IVF/PQ precedent); persisted ==
    // inline ranks and append-then-query are asserted in PipelineSpec.
    "sim_pq_persisted" -> ((spark, dir) => {
      val p = pqIndex.ensure(spark, dir)
      pqIndexQuery(spark, p,
        Tables(spark, dir).embeddings.filter(col("vec_id") < 10), 5)
        .select("q_id", "c_id", "dist", "rk").orderBy("q_id", "rk")
    }),
    "sim_cosine_pairs" -> ((spark, dir) => {
      cosinePairs(spark, Tables(spark, dir).embeddings, 0.3, bitsPerTable = 6)
        .orderBy(col("cos").desc, col("vec_a"), col("vec_b")).limit(200)
    }),
    "sim_label_centroid" -> ((spark, dir) => {
      labelCentroids(Tables(spark, dir).embeddings).orderBy("label", "pos")
    }),
    // r17 input spread: same shape as sim_hard_negatives (multi-table
    // LSH hash + per-pair dot products on the scan side), whose
    // interleaved A/B won 1.9× under the spread; measured for THIS
    // entry in bench_control_r17_batch*.json
    "dedup_embed_cosine" -> ((spark, dir) => {
      embedDedup(spark, Tables(spark, dir).embeddingsSpread, 0.3, bitsPerTable = 6)
        .orderBy("vec_id")
    }),
    "sim_quantize_int8" -> ((spark, dir) => {
      quantizeInt8(Tables(spark, dir).embeddings).orderBy("vec_id")
    }),
    // r16 input spread (Tables.embeddingsSpread): the multi-table LSH
    // hash + per-pair dot products dominate — interleaved A/B 1.9×
    // (bench_control_r16c.json); the other sim entries measured
    // flat-or-worse and keep the bare scan.
    "sim_hard_negatives" -> ((spark, dir) => {
      hardNegatives(spark, Tables(spark, dir).embeddingsSpread, 5, bitsPerTable = 6)
        .orderBy("anchor", "rk")
    }),
    // float k-means centroids → sample-dependent clusters: rows-only +
    // PipelineSpec properties (planted-duplicate collapse, rep choice,
    // equi-join plan audit), the IVF/PQ precedent.
    "dedup_semantic" -> ((spark, dir) => {
      semanticDedup(spark, Tables(spark, dir).embeddings, 0.3, cells0 = 16)
        .orderBy("vec_id")
    }),
    // P37b: SemDeDup against the pinned quantizer — oracle-exact
    "dedup_semantic_pinned" -> ((spark, dir) => {
      semanticDedupPinned(spark, Tables(spark, dir).embeddings, 0.3)
        .orderBy("vec_id")
    }),
  )

  /** DuckDB literal of the pinned centroid table: the raw splitmix64
    * ints, re-derived to float32 with the same two IEEE ops Spark
    * runs — CAST(int AS DOUBLE) / 2^63, rounded to FLOAT. */
  private def centLiteralCte: String = {
    val rows = pinnedCentInts().map { case (c, is) =>
      s"($c, ${is.mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""cent AS (
       |  SELECT t.cell, list_transform(t.ci,
       |    px -> CAST(CAST(px AS DOUBLE) / 9223372036854775808.0 AS FLOAT)) AS cvec
       |  FROM (VALUES
       |    $rows) AS t(cell, ci))""".stripMargin
  }

  /** DuckDB literal of the pinned PQ codebook (same int contract). */
  private def cbLiteralCte: String = {
    val rows = pinnedCbInts().map { case (m, c, is) =>
      s"($m, $c, ${is.mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""cbr AS (
       |  SELECT t.m, t.code, list_transform(t.ci,
       |    px -> CAST(CAST(px AS DOUBLE) / 9223372036854775808.0 AS FLOAT)) AS cvec
       |  FROM (VALUES
       |    $rows) AS t(m, code, ci))""".stripMargin
  }

  override val rowsOnly: Map[String, String] = Map(
    "dedup_semantic" -> ("float-centroid: k-means TRAINING (IEEE reduction order) — no replay of " +
      "training exists; planted-collapse spec; pinned-cell twin dedup_semantic_pinned IS " +
      "oracle-exact + g10-certified"),
    "sim_ivf_persisted" -> ("float-centroid: IVF centroids are float k-means TRAINING output — " +
      "training unreplayable; recall spec; pinned-quantizer twin sim_ivf_topk_pinned IS " +
      "oracle-exact + spec-pinned equal to this serve path over the frozen tables"),
    "sim_ivf_topk" -> ("float-centroid: IVF probe against trained float centroids — training " +
      "unreplayable; pinned-quantizer twin sim_ivf_topk_pinned IS oracle-exact (P8c)"),
    "sim_pq_persisted" -> ("float-centroid: PQ codebooks are float k-means TRAINING output — " +
      "training unreplayable; recall spec; pinned-codebook twin sim_pq_topk_pinned IS " +
      "oracle-exact + spec-pinned equal to this serve path"),
    "sim_pq_topk" -> ("float-centroid: PQ ADC scan under trained codebooks — training " +
      "unreplayable; pinned-codebook twin sim_pq_topk_pinned IS oracle-exact (P33c)"),
  )

  val oracles: Map[String, String] = Map(
    // DuckDB computes the same double-accumulated cosine once FLOAT[] is
    // cast to DOUBLE[]; rank ties broken by c_id after rounding to 6.
    "sim_brute_topk" ->
      """SELECT q_id, c_id, cos, rk FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                 CAST(c.embedding AS DOUBLE[])), 6) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                            CAST(c.embedding AS DOUBLE[])), 6) DESC,
        |               c.vec_id) AS rk
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10)
        |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
    // P8c: the pinned-quantizer serve path replayed end-to-end —
    // centroid table from the literal ints, VectorImpl.cosine's exact
    // fold (cosineExactSql), assignment argmax = rank by (cos DESC,
    // cell) like the strict-> fold over the cell-sorted array, probe
    // selection the same, then the identical scored-rank tail as
    // sim_brute_topk.
    "sim_ivf_topk_pinned" -> {
      import graft.operators.DuckHashSql._
      s"""WITH $centLiteralCte,
         |ccs AS (
         |  SELECT e.vec_id, c.cell,
         |    ${cosineExactSql("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (
         |  SELECT vec_id AS c_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS arn
         |    FROM ccs)
         |  WHERE arn = 1),
         |prb AS (
         |  SELECT vec_id AS q_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS prn
         |    FROM ccs WHERE vec_id < 10)
         |  WHERE prn <= 4),
         |cand AS (
         |  SELECT DISTINCT p.q_id, a.c_id
         |  FROM prb p JOIN asg a USING (cell) WHERE p.q_id <> a.c_id),
         |scored AS (
         |  SELECT cand.q_id, cand.c_id,
         |    round(${cosineExactSql("q.embedding", "c.embedding")}, 6) AS cos
         |  FROM cand JOIN embeddings q ON cand.q_id = q.vec_id
         |            JOIN embeddings c ON cand.c_id = c.vec_id)
         |SELECT q_id, c_id, cos, rk FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
    },
    // P33c: the pinned-codebook ADC scan replayed — PqImpl.normalized
    // keeps doubles (ordered ss fold, 1/max(sqrt,1e-12), v*inv), encode
    // argmin is strict-< over ascending codes (rank by d, code), the
    // query distance table is the same formula on the query rows, and
    // the ADC score is the M-ascending ordered fold of table lookups.
    "sim_pq_topk_pinned" -> {
      s"""WITH $cbLiteralCte,
         |nrm AS (
         |  SELECT vec_id, list_transform(embedding, nx -> CAST(nx AS DOUBLE) * ninv) AS nv
         |  FROM (
         |    SELECT vec_id, embedding,
         |      1.0 / greatest(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |        list_transform(range(1, len(embedding)+1),
         |          ni -> CAST(embedding[ni] AS DOUBLE) * CAST(embedding[ni] AS DOUBLE))),
         |        (na, nx2) -> na + nx2)), 1e-12) AS ninv
         |    FROM embeddings)),
         |dst AS (
         |  SELECT n.vec_id, c.m, c.code,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, 9),
         |        dj -> (n.nv[c.m*8 + dj] - CAST(c.cvec[dj] AS DOUBLE))
         |            * (n.nv[c.m*8 + dj] - CAST(c.cvec[dj] AS DOUBLE)))),
         |      (da, dx) -> da + dx) AS d
         |  FROM nrm n CROSS JOIN cbr c),
         |enc AS (
         |  SELECT vec_id AS c_id, m, code FROM (
         |    SELECT vec_id, m, code,
         |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS ern
         |    FROM dst)
         |  WHERE ern = 1),
         |qdt AS (SELECT vec_id AS q_id, m, code, d FROM dst WHERE vec_id < 10),
         |sc AS (
         |  SELECT q_id, c_id,
         |    round(list_reduce(list_prepend(0.0::DOUBLE, list(d ORDER BY m)),
         |      (sa, sx) -> sa + sx), 6) AS dist
         |  FROM (SELECT qd.q_id, en.c_id, qd.m, qd.d
         |        FROM enc en JOIN qdt qd ON en.m = qd.m AND en.code = qd.code)
         |  GROUP BY q_id, c_id)
         |SELECT q_id, c_id, dist, rk FROM (
         |  SELECT q_id, c_id, dist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, c_id) AS rk
         |  FROM sc WHERE q_id <> c_id)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
    },
    // P37b: the whole SemDeDup algorithm replayed against the pinned
    // quantizer — argmax assignment (the P8c device), within-cell
    // exact-cosine edges, recursive-CTE components (the
    // dedup_embed_cosine device, per-cell by construction), and the
    // (ccos, vec_id) struct-min representative as a rank.
    "dedup_semantic_pinned" -> {
      import graft.operators.DuckHashSql._
      s"""WITH $centLiteralCte,
         |ccs AS (
         |  SELECT e.vec_id, c.cell,
         |    ${cosineExactSql("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (
         |  SELECT vec_id, cell, round(cos, 6) AS ccos FROM (
         |    SELECT vec_id, cell, cos,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS arn
         |    FROM ccs)
         |  WHERE arn = 1),
         |edges AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON a.vec_id = ea.vec_id
         |  JOIN embeddings eb ON b.vec_id = eb.vec_id
         |  WHERE round(${cosineExactSql("ea.embedding", "eb.embedding")}, 6) >= 0.3),
         |sym AS (SELECT va AS s, vb AS d FROM edges UNION SELECT vb, va FROM edges),
         |rch AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT s, s FROM sym
         |    UNION
         |    SELECT sym.s, r.m FROM r JOIN sym ON r.id = sym.d)
         |  SELECT id, min(m) AS cluster_id FROM r GROUP BY id),
         |lab AS (
         |  SELECT a.vec_id, a.cell, a.ccos,
         |    coalesce(rch.cluster_id, a.vec_id) AS cluster_id
         |  FROM asg a LEFT JOIN rch ON a.vec_id = rch.id),
         |reps AS (
         |  SELECT cluster_id, vec_id AS rep FROM (
         |    SELECT cluster_id, vec_id,
         |      row_number() OVER (PARTITION BY cluster_id ORDER BY ccos, vec_id) AS rrn
         |    FROM lab)
         |  WHERE rrn = 1)
         |SELECT l.vec_id, CAST(l.cell AS BIGINT) AS cell, l.cluster_id,
         |  l.ccos, l.vec_id = r.rep AS keep
         |FROM lab l JOIN reps r USING (cluster_id) ORDER BY l.vec_id""".stripMargin
    },
    // lsh/cosine_pairs/embed_dedup: the rhp_bucket signature IS
    // SQL-replayable — hyperplane components are splitmix64 constants,
    // baked into a literal matrix (DuckHashSql.rhpSigSql), and the
    // cosine fold order is replicated exactly (cosineExactSql), so the
    // candidate sets match bit-for-bit.
    "sim_lsh_topk" -> {
      import graft.operators.DuckHashSql._
      s"""WITH ${rhpBucketCtes("embeddings", Seq("embedding"))},
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
         |  FROM rbkt q JOIN rbkt c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |    AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10),
         |scored AS (
         |  SELECT q_id, c_id, round(${cosineExactSql("q.embedding", "c.embedding")}, 6) AS cos
         |  FROM cand JOIN embeddings q ON cand.q_id = q.vec_id
         |            JOIN embeddings c ON cand.c_id = c.vec_id)
         |SELECT q_id, c_id, cos, rk FROM (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
    },
    "sim_cosine_pairs" -> {
      import graft.operators.DuckHashSql._
      s"""WITH ${rhpBucketCtes("embeddings", Seq("label", "embedding"))},
         |cand AS (
         |  SELECT DISTINCT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM rbkt a JOIN rbkt b ON a.label = b.label AND a.tbl = b.tbl
         |    AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT cand.label, vec_a, vec_b,
         |    round(${cosineExactSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM cand JOIN embeddings a ON cand.vec_a = a.vec_id
         |            JOIN embeddings b ON cand.vec_b = b.vec_id)
         |SELECT label, vec_a, vec_b, cos FROM scored WHERE cos >= 0.3
         |ORDER BY cos DESC, vec_a, vec_b LIMIT 200""".stripMargin
    },
    // P61: same LSH candidate machinery, constrained to label-crossing
    // pairs, exact-cosine ranked per anchor — replays bit-for-bit.
    "sim_hard_negatives" -> {
      import graft.operators.DuckHashSql._
      s"""WITH ${rhpBucketCtes("embeddings", Seq("label", "embedding"))},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor, b.vec_id AS negative, b.label AS n_label
         |  FROM rbkt a JOIN rbkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.label <> b.label),
         |scored AS (
         |  SELECT anchor, negative, n_label,
         |    round(${cosineExactSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM cand JOIN embeddings a ON cand.anchor = a.vec_id
         |            JOIN embeddings b ON cand.negative = b.vec_id)
         |SELECT anchor, negative, n_label, cos, rk FROM (
         |  SELECT anchor, negative, n_label, cos,
         |    row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, negative) AS rk
         |  FROM scored)
         |WHERE rk <= 5 ORDER BY anchor, rk""".stripMargin
    },
    // same candidates globally (no label key), unrounded >= 0.3 edge
    // verification, then connected components as a recursive
    // reachability CTE (min reachable id = cluster id).
    "dedup_embed_cosine" -> {
      import graft.operators.DuckHashSql._
      s"""WITH ${rhpBucketCtes("embeddings", Seq("embedding"))},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         |  FROM rbkt a JOIN rbkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id),
         |edges AS (
         |  SELECT va, vb
         |  FROM cand JOIN embeddings a ON cand.va = a.vec_id
         |            JOIN embeddings b ON cand.vb = b.vec_id
         |  WHERE ${cosineExactSql("a.embedding", "b.embedding")} >= 0.3),
         |sym AS (SELECT va AS s, vb AS d FROM edges UNION SELECT vb, va FROM edges),
         |rch AS (
         |  WITH RECURSIVE r(id, m) AS (
         |    SELECT s, s FROM sym
         |    UNION
         |    SELECT sym.s, r.m FROM r JOIN sym ON r.id = sym.d)
         |  SELECT id, min(m) AS cluster_id FROM r GROUP BY id)
         |SELECT e.vec_id, e.label, coalesce(rch.cluster_id, e.vec_id) AS cluster_id,
         |  coalesce(rch.cluster_id, e.vec_id) = e.vec_id AS keep
         |FROM embeddings e LEFT JOIN rch ON e.vec_id = rch.id
         |ORDER BY e.vec_id""".stripMargin
    },

    // Exact decimal avg (Exact.davg) is engine-portable, and DuckDB's
    // zipped unnests replay posexplode: pos from range(len) is 0-based
    // like posexplode, cast back to INT to match Spark's pos type.
    "sim_label_centroid" ->
      """WITH e AS (
        |  SELECT label,
        |         unnest(range(len(embedding))) AS pos,
        |         unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings)
        |SELECT label, CAST(pos AS INTEGER) AS pos,
        |  floor(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(v) * 1000000 + 0.5)
        |    / 1000000 AS c
        |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "sim_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]), 1e-12) AS scale,
        |    embedding
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, scale,
        |    [CAST(floor(CAST(x AS DOUBLE) / scale * 127.0 + 0.5) AS BIGINT) for x in embedding] AS qv
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  CAST(list_min(qv) AS BIGINT) AS q_min
        |FROM q ORDER BY vec_id""".stripMargin,
  )

  override val tmp: Map[String, Seq[graft.TmpPath]] = Map(
    "sim_ivf_persisted" -> Seq(ivfIndex),
    "sim_pq_persisted" -> Seq(pqIndex),
  )
}
