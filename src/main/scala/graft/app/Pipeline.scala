package graft.app

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.block.Blocking
import graft.classify.Classifier
import graft.cluster.{ConnectedComponents, Refine}
import graft.fuse.Fusion
import graft.model.{Classification, DedupConfig, ImageRecord}
import graft.sig.Signatures
import graft.similarity.Sims

/** The full dedup pipeline over an image+caption table — the batch
  * re-expression of the reference's 4-stage flow
  * (records -> blocking -> classification -> clustering(+refine) -> fusion,
  * `OnlinePairBasedDuplicateDetection.java:81-93`,
  * `FusingOnlineDeduplication.java:48-80`) as Dataset transforms.
  *
  * Scale discipline (100 TB):
  *  - the binary payload never shuffles: stage 1 projects features
  *    (normalized caption, shingles, signatures) and everything downstream
  *    moves only ids + small features; bytes re-join once at fusion,
  *    id-partitioned;
  *  - blocking unions 5 passes (MinHash/LSH, SimHash blocks, phash blocks,
  *    substring containment, exact content hash) and dedups candidate
  *    pairs BEFORE verification;
  *  - verification is one codegen'd projection (rule cascade);
  *  - CC is O(log n) rounds of sort-merge joins; refine touches only
  *    clustered rows via cogroup.
  */
object Pipeline {

  /** Per-record features: everything verification needs, no payload. */
  final case class Feat(id: String, norm: String, shs: Seq[String],
                        phash: Long, simhash: Long, chash: String)

  final case class ScoredEdge(id1: String, id2: String, classification: String,
                              confidence: Double, explanation: String)

  final case class Member(cluster_id: String, id: String, norm: String,
                          shs: Seq[Int], phash: Long, simhash: Long)

  final case class EdgeW(cluster_id: String, id1: String, id2: String, w: Double)

  final case class Canonical(cluster_id: String, n_members: Long, image_id: String,
                             caption: String, fmt: String, w: Int, h: Int,
                             phash: Long, fuse_errors: Seq[String])

  /** Stage 1: feature projection (column-pruned: bytes read once for the
    * content hash, never again). Shingles are carried as 32-bit truncated
    * xxhash64 values, not strings — Jaccard on hashed shingles is identical
    * modulo rare truncation collisions (±1/|union| per collision), at half
    * the verify-shuffle bytes of the 64-bit form, which is the pipeline's
    * largest memory-traffic item and what DRAM bandwidth caps at high core
    * counts (the md5-based hash60 is only needed where a DuckDB oracle must
    * mirror the hash; the in-memory test oracle shares fastHash32).
    */
  def features(images: DataFrame, cfg: DedupConfig): DataFrame = {
    val norm = Signatures.normalizeCol(col("caption"))
    images.select(
      col("image_id").as("id"),
      norm.as("norm"),
      col("phash"),
      md5(col("bytes")).as("chash"))
      .withColumn("shs", Signatures.hashedShingles32Col(col("norm"), cfg.shingleK))
      .withColumn("simhash", Signatures.simHashFastCol(col("norm"), cfg.simhashBits))
  }

  /** Stage 2: multi-pass blocking — union of candidate passes, deduplicated
    * before the expensive verify (ref cross-pass `.distinct()` placement,
    * SURVEY.md §4).
    */
  def candidates(feats: DataFrame, cfg: DedupConfig): DataFrame = {
    val cap = Some(cfg.maxBucketSize)
    // the three hash-keyed passes (LSH bands, simhash blocks, phash blocks)
    // share one keyed union -> ONE groupBy shuffle -> one pairing, instead
    // of one shuffle+distinct per pass; keys are pass-prefixed so buckets
    // never mix across passes. Identical pair set, 3x fewer stage barriers.
    val keyed = Blocking.keyedUnion(feats, cfg)
    val hashed = Blocking.pairsFromKeys(keyed, cap)
    val sub = Blocking.substringPairs(feats, "id", "norm", cfg.shingleK + 3, cap)
    // exact-content buckets star to their min id: same clusters, n-1 edges
    // per bucket instead of C(n,2) (a 2500-copy cluster: 2.5k vs 3.1M pairs)
    val exact = Blocking.starPairsFromKeys(
      feats.select(col("id"), col("chash").as("key")))
    hashed.unionAll(sub).unionAll(exact)
      .dropDuplicates("id1", "id2")
  }

  /** Stage 3: pairwise verification — the reference's ordered rule cascade
    * as one projection. Rules (first decisive wins):
    *  1. positive: identical content hash => DUPLICATE @ 1.0
    *  2. positive: substring containment  => DUPLICATE @ 0.95
    *  3. negative: tiny caption overlap AND far hashes => NON_DUPLICATE
    *  4. default threshold rule on weightedAverage{2*jaccard(shingles),
    *     1*hammingSim(phash), 1*hammingSim(simhash)} @ cfg threshold
    *     (shape of `PersonClassifier.java:43-57`).
    */
  def classified(feats: DataFrame, cands: DataFrame, cfg: DedupConfig): Dataset[ScoredEdge] = {
    val f1 = feats.select(col("id").as("id1"), col("norm").as("norm1"),
      col("shs").as("shs1"), col("phash").as("ph1"), col("simhash").as("sh1"),
      col("chash").as("ch1"))
    val f2 = feats.select(col("id").as("id2"), col("norm").as("norm2"),
      col("shs").as("shs2"), col("phash").as("ph2"), col("simhash").as("sh2"),
      col("chash").as("ch2"))
    val paired = cands.join(f1, Seq("id1")).join(f2, Seq("id2"))

    // materialize each expensive measure exactly ONCE behind a projection
    // boundary — the CASE WHEN cascade references them repeatedly, and
    // CollapseProject would otherwise inline (re-evaluate) the array
    // intersection per reference (measured 3.5x slower)
    val jac0 = graft.functions.SortedIntersect.jaccardSortedInt(col("shs1"), col("shs2"))
    val phSim0 = Sims.hammingSim(64)(col("ph1"), col("ph2"))
    val shSim0 = Sims.hammingSim(cfg.simhashBits)(col("sh1"), col("sh2"))
    val contains0 = (length(col("norm1")) <= length(col("norm2")) &&
      expr("instr(norm2, norm1) > 0") && length(col("norm1")) >= cfg.shingleK) ||
      (length(col("norm2")) < length(col("norm1")) &&
        expr("instr(norm1, norm2) > 0") && length(col("norm2")) >= cfg.shingleK)
    val sims = paired.select(col("id1"), col("id2"),
      (col("ch1") === col("ch2")).as("chEq"),
      jac0.as("jac"), phSim0.as("phsim"), shSim0.as("shsim"),
      contains0.as("contains"))

    val jac = col("jac"); val phSim = col("phsim"); val shSim = col("shsim")
    val combined = Sims.weightedAverage(Seq(
      2.0 -> ((_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column) => jac),
      1.0 -> ((_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column) => phSim),
      1.0 -> ((_: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column) => shSim)))(lit(0), lit(0))

    val cascade = Classifier.cascade(
      Classifier.positiveRule("exact-bytes", col("chEq").cast("double")),
      Classifier.positiveRule("substring", when(col("contains"), 0.95).otherwise(0.0)),
      Classifier.negativeRule("disjoint",
        when(jac < 0.05 && phSim < 0.7 && shSim < 0.7, 1.0).otherwise(0.0)),
      Classifier.thresholdRule("weighted-default", combined, cfg.jaccardThreshold))

    import feats.sparkSession.implicits._
    Classifier.classify(sims, cascade)
      .select(col("id1"), col("id2"), col("classification"),
        coalesce(col("confidence"), lit(0.0)).as("confidence"), col("explanation"))
      .as[ScoredEdge]
  }

  /** Stage 4: transitive clustering over DUPLICATE edges only
    * (ref `TransitiveClosure.java:72-79`). Record universe comes from the
    * (persisted, payload-free) feature table.
    */
  def cluster(feats: DataFrame, scored: Dataset[ScoredEdge]): DataFrame = {
    val dupEdges = scored.where(col("classification") === Classification.Duplicate)
      .select(col("id1"), col("id2"))
    ConnectedComponents.assignAll(feats, "id", dupEdges)
  }

  /** Stage 5: precision refinement — per-cluster exact/greedy re-partition
    * (ref `RefineClusterImpl`), run in a cogroup over (members, scored
    * edges); clusters above `maxRefineSize` pass through (guard, SURVEY.md
    * §7.5 risk 3). Splits only — never merges (§7.1.5).
    */
  /** @param splitCounter optional accumulator counting split clusters —
    *        the report-only analog of the reference's ClusterSplitHandler
    *        veto callback (`core/dedupe/clustering/ClusterSplitHandler
    *        .java:37-69`; SURVEY.md §2.5: splits logged to metrics)
    */
  def refine(assign: DataFrame, feats: DataFrame, scored: Dataset[ScoredEdge],
             cfg: DedupConfig, maxRefineSize: Int = 300,
             splitCounter: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = assign.sparkSession
    import spark.implicits._

    // name-based using-joins only: assign's lineage contains feats/scored,
    // so dataset-tagged references would be ambiguous self-joins
    val members = assign.join(feats, Seq("id"))
      .select(col("cluster_id"), col("id"), col("norm"), col("shs"),
        col("phash"), col("simhash"))
      .as[Member]

    val edges = scored.toDF().withColumnRenamed("id1", "id")
      .join(assign, Seq("id"))
      .select(col("cluster_id"), col("id").as("id1"), col("id2"),
        when(col("classification") === Classification.Duplicate, col("confidence"))
          .when(col("classification") === Classification.NonDuplicate, -col("confidence"))
          .otherwise(0.0).as("w"))
      .as[EdgeW]

    members.groupByKey(_.cluster_id)
      .cogroup(edges.groupByKey(_.cluster_id)) { (cid, ms, es) =>
        val mem = ms.toArray.sortBy(_.id)
        if (mem.length <= 2 || mem.length > maxRefineSize) {
          mem.iterator.map(m => (m.id, cid))
        } else {
          val idx = mem.iterator.map(_.id).zipWithIndex.toMap
          val known = es.flatMap { e =>
            for (i <- idx.get(e.id1); j <- idx.get(e.id2)) yield Refine.WEdge.of(i, j, e.w)
          }.toList
          def classify(i: Int, j: Int): Double = {
            val a = mem(i); val b = mem(j)
            val jac = {
              val s1 = a.shs.toSet; val s2 = b.shs.toSet
              val u = (s1 ++ s2).size
              if (u == 0) 1.0 else (s1 & s2).size.toDouble / u
            }
            val ph = 1.0 - Signatures.hamming(a.phash, b.phash) / 64.0
            val sh = 1.0 - Signatures.hamming(a.simhash, b.simhash) / cfg.simhashBits.toDouble
            val s = (2 * jac + ph + sh) / 4
            // signed threshold weight, mirroring scaleAtThreshold
            val t = cfg.jaccardThreshold
            if (s >= t) (s - t) / (1 - t) else -(t - s) / t
          }
          val seed = Signatures.hash60(cid) // deterministic per cluster
          val labels = Refine.refineCluster(mem.length, known, classify,
            cfg.maxSmallClusterSize, seed)
          // new cluster id = min member id per sub-cluster (deterministic)
          val byLabel = mem.indices.groupBy(labels(_))
          if (byLabel.size > 1) splitCounter.foreach(_.add(1))
          byLabel.iterator.flatMap { case (_, is) =>
            val newId = is.map(mem(_).id).min
            is.iterator.map(i => (mem(i).id, newId))
          }
        }
      }
      .toDF("id", "cluster_id")
  }

  /** Payload-free fusion row: the binary `bytes` column never enters the
    * fusion shuffle (SURVEY.md §7.5 risk 4) — the canonical points at its
    * representative row; bytes re-join by id only if a caller needs them.
    */
  final case class FuseRec(image_id: String, caption: String, fmt: String,
                           w: Int, h: Int, phash: Long)

  /** Stage 6: conflict-resolution fusion — one canonical record per cluster
    * via the Merge DSL in mapGroups; singletons pass through
    * (ref `ConflictResolutionFusion.java:77-79`).
    */
  def fuse(images: DataFrame, assign: DataFrame): Dataset[Canonical] = {
    val spark = images.sparkSession
    import spark.implicits._
    import Fusion._

    val merge = Merge[FuseRec](Seq(
      FieldMerge[FuseRec, String]("image_id", _.image_id, (r, v) => r.copy(image_id = v),
        andThen(min[String], first)),
      FieldMerge[FuseRec, String]("caption", _.caption, (r, v) => r.copy(caption = v),
        andThen(longest, andThen(mostFrequent[String], first))),
      FieldMerge[FuseRec, String]("fmt", _.fmt, (r, v) => r.copy(fmt = v),
        andThen(mostFrequent[String], first))))

    val slim = images.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash")).as[FuseRec]
    val asg = assign.toDF("fid", "cluster_id")

    slim.joinWith(asg, col("image_id") === col("fid"))
      .map { case (rec, a) => (a.getString(1), rec) }
      .groupByKey(_._1)
      .mapGroups { (cid, it) =>
        val mem = it.map(_._2).toArray.sortBy(_.image_id)
        val annotated = mem.map(r => Annotated(r, "src", 1.0, 0L)).toSeq
        val (fusedRec, errors) = merge.fuse(annotated)
        Canonical(cid, mem.length.toLong, fusedRec.image_id, fusedRec.caption,
          fusedRec.fmt, fusedRec.w, fusedRec.h, fusedRec.phash, errors)
      }
  }

  /** Full run: returns (assignments, canonicals). Stages persist at
    * boundaries (the in-memory stand-in for per-stage Iceberg checkpoints;
    * `runCheckpointed` writes real parquet checkpoints).
    */
  def run(spark: SparkSession, images: Dataset[ImageRecord], cfg: DedupConfig)
      : (DataFrame, Dataset[Canonical]) = {
    // the source scan is read once: payload-free projection persisted (the
    // in-memory stand-in for a per-stage checkpoint table); bytes are only
    // read in the feature projection (for the content hash) and never again
    val df = images.toDF()
    val feats = features(df, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the feature stage ONCE before fanning out: the blocking
    // union scans `feats` from ~6 branches concurrently, and concurrent
    // first-computes of a lazily-persisted frame each recompute every
    // partition before the cache fills (measured ~3x the whole stage)
    feats.count()
    val slim = df.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash")).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candidates(feats, cfg)
    val scored = classified(feats, cands, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val assign0 = cluster(feats, scored)
    val assign = refine(assign0, feats, scored, cfg)
    val canon = fuse(slim, assign)
    (assign, canon)
  }
}
