package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components over DUPLICATE edges — the scale
  * re-expression of the reference's incremental in-memory transitive closure
  * (bakdata/dedupe `common/dedupe/clustering/TransitiveClosure.java:52-140`,
  * whose id->cluster map grows unboundedly on the heap).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
  * rounds even on path graphs, each round two shuffles (groupBy min +
  * join). Cluster id = min member id: deterministic and order-independent,
  * unlike the reference's counter ids (`ClusterIdGenerators.java:36-59`,
  * SURVEY.md §7.5 risk 1).
  *
  * Each round ends in `localCheckpoint()` to cut the lineage (a fixpoint
  * loop would otherwise grow an unbounded plan).
  */
object ConnectedComponents {

  /** @param edges DataFrame with two columns (src, dst) of one orderable
    *              type (long or string). Self-loops ignored.
    * @param maxIter round budget; a loop that has not converged after it
    *        throws (naming the rounds run) rather than return a partial
    *        assignment
    * @param minIter rounds to run before paying for convergence checks.
    *        The signature agg is one cheap job; computing it from round 1
    *        lets dense dedup graphs (near-cliques collapse to a star in one
    *        alternating round) exit after 2 rounds instead of paying an
    *        extra ~6-shuffle round to discover convergence later
    * @return DataFrame (id, cluster_id) for every node incident to an edge;
    *         callers union isolated records back as singletons.
    */
  def run(edges: DataFrame, maxIter: Int = 30, minIter: Int = 1): DataFrame = {
    val spark = edges.sparkSession
    // AQE off for the duration of the fixpoint loop: each round is a chain
    // of tiny shuffles, and AQE turns every one into its own stage-job
    // (observed ~8 extra driver-latency-bound jobs per round). Skew is
    // handled by the large-star/small-star decomposition itself (high-degree
    // nodes shed neighbors to their minimum each round), so AQE's skew
    // splitting buys nothing here. Restored afterwards.
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val aqeWas = spark.conf.get(aqeKey, "true")
    val partsWas = spark.conf.get(partsKey)
    spark.conf.set(aqeKey, "false")
    try runLoop(edges, maxIter, minIter)
    finally {
      spark.conf.set(aqeKey, aqeWas)
      spark.conf.set(partsKey, partsWas)
    }
  }

  private def runLoop(edges: DataFrame, maxIter: Int, minIter: Int): DataFrame = {
    val spark = edges.sparkSession
    val Seq(srcC, dstC) = edges.columns.toSeq.take(2)
    // canonical undirected edge set, u > v convention dropped; keep (u, v) pairs u != v
    //
    // Per-round plan truncation: each round references the previous round's
    // frame twice, so the logical TREE is 2^k-sized after k rounds (plans
    // hang in stringification/analysis long before data size matters).
    // `rebaseOnRdd` rebases the round on its execution RDD — a one-node
    // LogicalRDD plan — and the RDD is persisted so the round computes
    // once; unlike per-round localCheckpoint this adds NO extra jobs.
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.storage.StorageLevel
    val (e0, rdd0) = GraftColumnBridge.rebaseOnRdd(
      edges
        .select(col(srcC).as("u"), col(dstC).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    rdd0.persist(StorageLevel.MEMORY_AND_DISK)
    // Size the LOOP's shuffles to the edge set, not the session default:
    // each round is a chain of shuffles over a frame that is usually tiny
    // relative to the session's shuffle.partitions (a 5k-edge set at 32
    // partitions = 8 rounds x ~10 stages x 32 near-empty tasks — profiled
    // as pure scheduling overhead, run time 7x the CPU time). One
    // materializing count on the already-persisted round-0 RDD picks
    // ~20k edges/partition, floored at 1 and capped at the session value
    // so huge edge sets keep full parallelism (restored by run()).
    val n0 = e0.count()
    val partsWas = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.max(1L, math.min(partsWas.toLong, n0 / 20000L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    var e = e0
    var eRdd: org.apache.spark.rdd.RDD[_] = rdd0

    var converged = false
    var iter = 0
    // convergence signature of the current edge set; carried across
    // iterations so each round pays ONE aggregate action, not two
    def sigOf(df: DataFrame) = df.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(cast(u as string), cast(v as string)))"), lit(0L)).as("h"))
      .head()
    var prevSig: org.apache.spark.sql.Row = null
    while (!converged && iter < maxIter) {
      // ---- large-star: for each u, connect every neighbor v > u to
      //      m = min(N(u) ∪ {u})
      val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u").agg(min(col("v")).as("_mv"))
        .select(col("u"), least(col("u"), col("_mv")).as("m"))
      // no distinct here: duplicate (u, m) rows are harmless to the
      // small-star min-aggregations and the final distinct — dropping the
      // dedup saves one shuffle per round
      val large = adj.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))

      // ---- small-star: for each u over neighbors v <= u (v < u since no
      //      self-loops), connect them all (and u) to m = min(N<(u) ∪ {u})
      val adj2 = large.unionAll(large.select(col("v").as("u"), col("u").as("v")))
      val smallNbr = adj2.where(col("v") < col("u"))
      val smins = smallNbr.groupBy("u").agg(min(col("v")).as("m"))
      val small0 = smallNbr.join(smins, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(smins.select(col("u").as("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("v"), greatest(col("a"), col("b")).as("u"))
        .select(col("u"), col("v"))
        .distinct()
      val (small, smallRdd) = GraftColumnBridge.rebaseOnRdd(small0)
      smallRdd.persist(StorageLevel.MEMORY_AND_DISK)

      if (iter >= minIter - 1) {
        val sig = sigOf(small) // materializes this round's RDD cache
        converged = sig == prevSig
        prevSig = sig
      }
      eRdd.unpersist(false)
      e = small
      eRdd = smallRdd
      iter += 1
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] rounds=$iter converged=$converged")
    if (!converged) {
      eRdd.unpersist(false)
      throw new IllegalStateException(
        s"connected components did not converge in $iter rounds (maxIter=$maxIter)")
    }

    // The final round's RDD must stay persisted until the CALLER materializes
    // the assignment (the result below is lazy), so it can't be released
    // here. Bound the leak to one live RDD per context instead: the next
    // run() in the same SparkContext unpersists the previous run's final
    // RDD (its lineage stays recomputable, so a still-cached consumer frame
    // remains correct, just slower on a cold re-read).
    val prevFinal = lastFinal.put(spark.sparkContext.applicationId, eRdd)
    if ((prevFinal ne null) && (prevFinal ne eRdd))
      scala.util.Try(prevFinal.unpersist(false))

    // after convergence e is a star forest: (bigger -> component min)
    val members = e.select(col("u").as("id"), col("v").as("cluster_id"))
    val roots = e.select(col("v").as("id"), col("v").as("cluster_id")).distinct()
    members.unionAll(roots)
      .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** Last fixpoint-final RDD per SparkContext — see the release note in
    * [[runLoop]].
    */
  private val lastFinal =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.rdd.RDD[_]]()

  /** Incremental re-clustering: union the previous assignment (as
    * member->cluster_id star edges) with the new DUPLICATE edges before CC —
    * previously-emitted clusters stay connected, so their ids remain stable
    * unless new evidence merges them. This is the batch re-expression of the
    * reference's ConsistentClustering guarantee
    * (`common/dedupe/clustering/ConsistentClustering.java:60-116`,
    * SURVEY.md §2.5): never split an already-emitted cluster.
    */
  def incrementalAssign(records: DataFrame, idCol: String,
                        prevAssign: DataFrame, newEdges: DataFrame): DataFrame = {
    val prevEdges = prevAssign
      .select(col("id").as("src"), col("cluster_id").as("dst"))
      .where(col("src") =!= col("dst"))
    val Seq(s, d) = newEdges.columns.toSeq.take(2)
    assignAll(records, idCol,
      newEdges.select(col(s).as("src"), col(d).as("dst")).unionAll(prevEdges))
  }

  /** Daily-increment delta re-clustering — [[incrementalAssign]] restricted
    * to the TOUCHED neighborhood, the shape a 100 TB corpus runs per batch:
    * CC never re-walks the standing graph, and the standing assignment
    * table is NEVER shuffled (gated by PlanSpec) — it streams map-side
    * through broadcast joins against delta-sized frames.
    *
    *  1. affected = standing clusters containing any new-edge endpoint
    *     (tiny: bounded by the batch's candidate fan-out);
    *  2. the delta subgraph = affected clusters' member->cluster star
    *     edges + the new verified edges; CC runs on THAT (delta-sized);
    *  3. stable-id remap: a delta component takes the MINIMUM standing
    *     cluster id among its members when one exists (previously-emitted
    *     ids survive; a merge keeps the smaller of the merged ids — the
    *     reference's ConsistentClustering guarantee,
    *     `common/dedupe/clustering/ConsistentClustering.java:60-116`, even
    *     when a new record's raw id undercuts the old cluster id), else
    *     its min member id (brand-new cluster);
    *  4. untouched standing rows pass through unchanged (broadcast
    *     anti-join — map-side).
    *
    * @param prevAssign standing (id, cluster_id) assignment
    * @param newIds     batch record ids (absent from prevAssign)
    * @param newEdges   verified duplicate pairs with >= 1 batch endpoint
    * @return (id, cluster_id, status) over batch ∪ corpus —
    *         status: 'batch' (new record), 'stable' (standing id kept),
    *         'merged' (standing cluster absorbed into a smaller id)
    */
  def incrementalAssignDelta(prevAssign: DataFrame, newIds: DataFrame,
                             newEdges: DataFrame): DataFrame = {
    val Seq(c1, c2) = newEdges.columns.toSeq.take(2)
    val edges = newEdges.select(col(c1).as("src"), col(c2).as("dst"))
    val endpoints = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
    // standing-table discipline: every join against prevAssign broadcasts
    // the OTHER (delta-sized) side, so the big table only streams
    val aff = broadcast(
      prevAssign.join(broadcast(endpoints), Seq("id")).select(col("cluster_id")).distinct())
    val affMembers = prevAssign.join(aff, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"))
    val star = affMembers.where(col("id") =!= col("cluster_id"))
      .select(col("id").as("src"), col("cluster_id").as("dst"))
    val nodes = newIds.select(col("id")).unionAll(affMembers.select(col("id")))
    val sub = assignAll(nodes, "id", star.unionAll(edges))
      .select(col("id"), col("cluster_id").as("cc_id"))
    // previous cluster ids of delta members (inner: batch ids drop out) —
    // broadcast the delta side, stream the standing table
    val subPrev = broadcast(sub)
      .join(prevAssign.select(col("id"), col("cluster_id").as("prev_cid")), Seq("id"))
    val remap = subPrev.groupBy(col("cc_id")).agg(min(col("prev_cid")).as("stable_id"))
    val delta = sub
      .join(broadcast(remap), Seq("cc_id"), "left")
      .join(broadcast(subPrev.select(col("id"), col("prev_cid"))), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("stable_id"), col("cc_id")).as("cluster_id"),
        when(col("prev_cid").isNull, "batch")
          .when(coalesce(col("stable_id"), col("cc_id")) === col("prev_cid"), "stable")
          .otherwise("merged").as("status"))
    val untouched = prevAssign.join(aff, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"), lit("stable").as("status"))
    delta.unionByName(untouched)
  }

  /** Assignment for all records: CC over edges, singletons map to
    * themselves — clusters partition the dataset, matching the reference's
    * contract (`Cluster.java:38-44`, SURVEY.md §7.1.3).
    */
  def assignAll(records: DataFrame, idCol: String, edges: DataFrame): DataFrame = {
    val assigned = run(edges)
    // fresh aliases on the way out: the output must not re-expose the input
    // relation's attributes (self-join ambiguity when callers join the
    // assignment back to the same records)
    records.select(col(idCol).as("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id").as("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      .toDF("id", "cluster_id")
  }
}
