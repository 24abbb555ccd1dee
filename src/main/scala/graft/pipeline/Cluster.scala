package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Near-duplicate CLUSTERING (SURVEY.md §2 P21): pair lists from
  * MinHash/SimHash say "a~b", but a corpus cleaner needs whole groups —
  * the transitive closure — to keep exactly one representative per
  * group. That is connected components over the candidate-pair graph.
  *
  * Algorithm: min-label propagation with pointer jumping (the
  * Shiloach–Vishkin shortcutting step, same device as Kiveris et al.'s
  * "Connected Components in MapReduce and Beyond" star operations):
  * each round every node adopts the smallest label in its closed
  * neighborhood AND then shortcuts to its label's label. Neighbor
  * propagation alone needs diameter rounds (a 10⁶-long chain at 100 TB
  * would mean 10⁶ shuffles); the shortcut halves remaining path lengths,
  * so convergence is O(log n) rounds of a constant number of shuffles.
  * There is no per-node driver work and no collect of node data. Each
  * round runs exactly ONE job: the materialization that caches next
  * round's labels also counts moved labels into an accumulator, so
  * convergence detection costs no separate action — the unavoidable
  * price of an iterative fixpoint (one action per round) is paid once,
  * not twice.
  */
object Cluster extends graft.QueryModule {

  /** Diagnostics of the LAST [[connectedComponents]] call on this JVM:
    * (label rounds run, contracted-graph node count). Dev/spec-only —
    * the round-count step function (rounds ≈ log₂ of the residual
    * chain length, the pointer-jump contract) is pinned in
    * PipelineSpec so an exponent drift in the scale sweep can be
    * attributed: an extra round at a power-of-2 boundary is the
    * DOCUMENTED log step; anything beyond it is a regression. */
  @volatile private[graft] var lastStats: (Int, Long) = (0, 0L)

  /** Connected components of an undirected edge list.
    *
    * Runs in two phases. Phase 0 (round 6) CONTRACTS the graph without
    * any label rounds: edges are range-partitioned by source id and
    * each partition runs an in-memory union-find over its local edges
    * (one `mapPartitions`, no driver data). Every node maps to a local
    * root (the min id of its local component); a node seen in several
    * partitions stitches its local roots together, so the residual
    * graph the iterative phase must solve has one node per local
    * component and one edge per border node — for graphs with id
    * locality (doc-id chains, temporal neighbors) that is orders of
    * magnitude smaller than the input, and for adversarially random
    * graphs it degrades gracefully to the uncontracted size. This is
    * the local-contraction step of the MapReduce-CC literature
    * (Kiveris et al.'s "large-star" locality idea applied
    * partition-wise); per-partition memory is bounded by the
    * partition's own edge set, the same bound the shuffle already
    * imposes.
    *
    * Phase 1 is min-label propagation with pointer jumping over the
    * CONTRACTED graph (details below); node labels then come back via
    * one broadcast-sized join, with isolated local roots (components
    * entirely inside one partition) short-circuiting to themselves.
    *
    * @param edges two-column DataFrame (src, dst), any long-typed ids
    * @return (id, cluster_id) with cluster_id = min id in the component;
    *         includes every endpoint (callers union isolated nodes).
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val Seq(srcC, dstC) = edges.columns.take(2).toSeq
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Reliable-checkpoint gate for real clusters: cached-only lineage
    // truncation blocks recovery if an executor holding the blocks dies,
    // so a deployment sets spark.graft.checkpointDir (or the
    // SPARK_GRAFT_CHECKPOINT_DIR env) to an HDFS/object-store path and
    // each round's labels are written there. Local mode leaves it unset.
    val chkDir = spark.conf.getOption("spark.graft.checkpointDir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
    chkDir.foreach { d => if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d) }
    val labelSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("label", LongType, nullable = false)))
    val sym = edges.select(col(srcC).cast("long").as("a"), col(dstC).cast("long").as("b"))
      .union(edges.select(col(dstC).cast("long").as("a"), col(srcC).cast("long").as("b")))
      .distinct()
    // ---- Phase 0: partition-local contraction (no label rounds) ----
    // Id-BLOCK partitioning (hash of id DIV 4096) gives id-adjacent
    // edges (chains, temporal neighbors) the same co-location a range
    // partition would — a 4096-id block's edges land together, only
    // block-boundary nodes stitch in phase 1 — WITHOUT
    // repartitionByRange's extra range-sampling job per call (round 8:
    // the CC constant is per-round jobs, and the sampler was a whole
    // hidden pass over the edge list). The union-find then collapses
    // each partition's subgraph in one pass. Output: every node of the
    // partition labeled with its LOCAL root = min id of its local
    // component (min-root unions make the root the min).
    //
    // Scaling step function (r12 diagnosis of the r11 sweep drift,
    // alpha 1.05 → 1.144 at the largest point): below AQE's
    // advisory-size boundary the coalescer folds this repartition into
    // very FEW partitions, the union-find solves (nearly) everything
    // locally and phase 1 runs ~0 rounds — times sit flat at fixed
    // overhead. Past the boundary real partitioning engages and the
    // round count follows the documented log₂(residual) pointer-jump
    // step. Both regimes are the intended design (fewer partitions =
    // MORE contraction, never less); the visible sweep "knee" is the
    // regime change plus one log step, not super-linear per-round
    // work. PipelineSpec pins both regimes: residual ∝ blocks (never
    // ∝ n) and rounds ≤ log₂(residual) + slack with coalescing off.
    val localRdd = sym.repartition(expr("a DIV 4096")).rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r).longValue() != r) r = parent.get(r).longValue()
        var c = x0 // path compression
        while (c != r) { val n = parent.get(c).longValue(); parent.put(c, r); c = n }
        r
      }
      it.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      parent.keySet().forEach(k => out += Row(k.longValue(), find(k.longValue())))
      out.iterator
    }
    val local = spark.createDataFrame(localRdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lroot", LongType, nullable = false))))
    // ONE aggregation yields both the node -> root map and the residual
    // graph: a node seen in several partitions proves its local roots
    // are one component, so roots sharing a node become edges. A node's
    // distinct lroots is bounded by the partition count, never by data.
    val grouped = local.groupBy("id")
      .agg(min(col("lroot")).as("root"), collect_set(col("lroot")).as("lroots"))
      .persist(lvl)
    val cEdges = grouped.filter(size(col("lroots")) > 1)
      .select(col("root").as("a"), explode(col("lroots")).as("b"))
      .filter(col("a") =!= col("b"))
    // ---- Phase 1: label propagation over the CONTRACTED graph ----
    val symC = cEdges
      .union(cEdges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(lvl)
    var labels = symC.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(lvl)
    var prevRdd: org.apache.spark.rdd.RDD[Row] = null
    var iter = 0
    // Empty contracted graph (every component contained in one
    // partition — common once phase 0 co-locates id blocks): skip the
    // label loop entirely instead of paying one full round to discover
    // there is nothing to move. The isEmpty probe reads the already-
    // persisted symC, so it is one cheap action, not a recompute.
    var changed = if (symC.isEmpty) 0L else 1L
    // Row count of the CURRENT labels, counted for free by the same
    // accumulator pass that counts moved labels (0 when the contracted
    // graph is empty; -1 = never materialized). Retries can only
    // OVER-count, which merely skips the broadcast below — safe.
    var labelRows = if (changed == 0L) 0L else -1L
    while (iter < maxIters && changed > 0) {
      // 1. closed neighborhood: own label ∪ labels flowing over edges.
      // The self rows carry the previous label in `own` (exactly one
      // self row per id), so the convergence count needs no extra join.
      val viaEdges = symC.join(labels.withColumnRenamed("id", "a"), "a")
        .select(col("b").as("id"), col("label"), lit(null).cast("long").as("own"))
      val self = labels.withColumn("own", col("label"))
      val hop = viaEdges.union(self).groupBy("id")
        .agg(min(col("label")).as("label"), max(col("own")).as("old"))
      // 2. pointer jump: label := label(label). Labels always point
      // within the component (they only ever arrive over edges), so the
      // shortcut is safe; it is what turns O(diameter) into O(log n).
      // (A double jump — jump(jump(hop)) — was measured at sf0.1 and
      // REGRESSED 4.6→6.0 s: the extra self-join per round costs more
      // than the saved rounds at these graph sizes; rounds are already
      // few and the per-round constant, not the round count, dominates.)
      val jumped = hop.alias("x")
        .join(hop.select(col("id").as("label"), col("label").as("ll")).alias("y"),
          Seq("label"), "left")
        .select(col("x.id").as("id"), least(col("label"), col("ll")).as("label"),
          col("x.old").as("old"))
      // 3. materialize ONE job per round: the map counts moved labels
      // into an accumulator while producing next round's rows, replacing
      // the former two-job shape (eager localCheckpoint + a separate
      // join-and-count convergence action). Task retries can only
      // over-count the accumulator, never report 0 when labels moved, so
      // the convergence test (changed == 0) stays sound. The RDD round
      // trip also truncates the logical plan — `hop` appears twice in
      // the jump join, so without truncation the plan doubles per round
      // (2^rounds nodes: at sf0.1 the plan string passed 2 GB and OOM'd
      // the driver).
      val acc = sc.longAccumulator(s"cc_moved_round_$iter")
      val rowAcc = sc.longAccumulator(s"cc_rows_round_$iter")
      val rdd = jumped.rdd.mapPartitions { it =>
        it.map { r =>
          val lbl = r.getLong(1)
          if (r.isNullAt(2) || r.getLong(2) != lbl) acc.add(1L)
          rowAcc.add(1L)
          Row(r.getLong(0), lbl)
        }
      }
      rdd.persist(lvl)
      if (chkDir.isDefined) rdd.checkpoint() // written from the persisted blocks
      rdd.foreach(_ => ()) // the round's single action
      changed = acc.value
      labelRows = rowAcc.value
      labels.unpersist(false)
      if (prevRdd != null) prevRdd.unpersist(false)
      prevRdd = rdd
      labels = spark.createDataFrame(rdd, labelSchema)
      iter += 1
    }
    // A silent partial fixpoint would yield plausible-but-wrong clusters.
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds ($changed labels still moving)")
    lastStats = (iter, labelRows)
    // ---- join node labels back through their local roots ----
    // Isolated roots (components entirely inside one partition) never
    // entered the contracted graph: their root IS the component min —
    // coalesce short-circuits them.
    // The label side is the CONTRACTED graph's node set (border nodes
    // only) — RDD-backed, so Catalyst assumes it huge and would shuffle
    // the full node map to sort-merge against it. The accumulator count
    // makes its true size known for free: broadcast when it fits (the
    // overwhelmingly common case once phase 0 contracts id-local
    // components), falling back to the shuffle join for adversarial
    // graphs whose border set is genuinely large (r8 verdict #7).
    val labelSide = labels.select(col("id").as("root"), col("label"))
    val joined = grouped.select(col("id"), col("root"))
      .join(if (labelRows >= 0 && labelRows <= 2000000L) broadcast(labelSide)
            else labelSide,
        Seq("root"), "left")
      .select(col("id"), coalesce(col("label"), col("root")).as("label"))
    // materialize the result so every upstream persist can be released
    // before returning (the same no-leak discipline as the loop rounds);
    // the reliable-checkpoint gate covers the FINAL labels too — with
    // full phase-0 contraction the loop may never checkpoint anything,
    // and the long lineage to truncate is this join's
    val outAcc = sc.longAccumulator("cc_out_rows")
    val outRdd = joined.rdd.map { r => outAcc.add(1L); Row(r.getLong(0), r.getLong(1)) }
    outRdd.persist(lvl)
    if (chkDir.isDefined) outRdd.checkpoint()
    outRdd.foreach(_ => ())
    grouped.unpersist(false)
    symC.unpersist(false)
    labels.unpersist(false)
    if (prevRdd != null) prevRdd.unpersist(false)
    val result = spark.createDataFrame(outRdd, labelSchema)
      .withColumnRenamed("label", "cluster_id")
    // The result is RDD-backed, so every CALLER's label join-back (P32's
    // emb ⋈ clusters, P60's split assignment, P55's rollup) would plan
    // sort-merge and shuffle the full corpus against it. The output row
    // count is known for free from the materialization pass: hint
    // broadcast when it fits — CC output is edge ENDPOINTS only, tiny
    // relative to the corpus unless the graph is duplicate-saturated
    // (then the gate leaves the shuffle join in place). Accumulator
    // retries only over-count, which only skips the hint — safe.
    if (outAcc.value <= 2000000L) broadcast(result) else result
  }

  /** Connected components of an edge list whose components are
    * PROVABLY contained within one `key` group — e.g. SemDeDup's
    * in-cell pairs, where every edge joins two members of the same
    * cell, so no component can span cells. That structural guarantee
    * collapses CC to ONE hash shuffle on the key plus one
    * partition-local union-find: within a partition union-find IS
    * exact CC, and since all of a component's edges carry the same key
    * they land in the same partition (several keys sharing a partition
    * is harmless — union-find never merges unconnected nodes). No
    * iterative phase, no convergence question. Per-partition memory is
    * bounded by its groups' edge sets — the same bound the upstream
    * in-group pair join already imposes; at 100 TB the group size IS
    * the knob (SemDeDup's `cells`), exactly as for the pair join
    * itself. Callers whose edges lack such a key use
    * [[connectedComponents]].
    *
    * @return (id, cluster_id = min id in the component), every endpoint. */
  def connectedComponentsWithin(edges: DataFrame, keyCol: String,
                                srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = edges.sparkSession
    val rdd = edges
      .select(col(keyCol), col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .repartition(col(keyCol)).rdd.mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x0: Long): Long = {
          var r = x0
          while (parent.get(r).longValue() != r) r = parent.get(r).longValue()
          var c = x0 // path compression
          while (c != r) { val n = parent.get(c).longValue(); parent.put(c, r); c = n }
          r
        }
        it.foreach { row =>
          val a = row.getLong(1); val b = row.getLong(2)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        parent.keySet().forEach(k => out += Row(k.longValue(), find(k.longValue())))
        out.iterator
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false))))
  }

  val queries: Map[String, Q] = Map(
    // P21, oracle-exact: CC over CHAIN edges linking each doc to the
    // next doc_id within its (lang, source) shard. Chains force real
    // multi-round propagation — the min label must traverse the chain
    // (with shortcutting: in log₂(len) rounds), not arrive in one hop as
    // it would from star edges — while the ground truth stays
    // SQL-expressible: cluster_id = min(doc_id) over the shard. The
    // near-dup graph (minhashCandidates pairs) runs through the same
    // function in PipelineSpec — no SQL oracle there (xxhash64 input).
    "dedup_cluster_cc" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(spark, dir).documents
      val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
      val chain = docs
        .select(col("doc_id"), lag(col("doc_id"), 1).over(w).as("prev_id"))
        .filter(col("prev_id").isNotNull)
      connectedComponents(chain.select(col("prev_id"), col("doc_id")))
        .orderBy("id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "dedup_cluster_cc" ->
      """WITH g AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY lang, source) AS cluster_id,
        |         count(*) OVER (PARTITION BY lang, source) AS n
        |  FROM documents)
        |SELECT doc_id AS id, cluster_id FROM g WHERE n > 1 ORDER BY id""".stripMargin,
  )
}
