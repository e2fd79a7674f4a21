package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-stage checkpointing with lineage + metrics — the resumability story
  * of the north_rule. Each stage writes its output as a parquet table (the
  * sandbox stand-in for an Iceberg table; swap `parquet` for
  * `writeTo(...).append()` on a real catalog) plus a `_metrics.json`
  * sidecar carrying per-output-file row counts (lineage: which file of
  * which stage holds how many rows) and stage wall time.
  *
  * `stage(name)(compute)` is skip-if-complete: a re-run after a crash
  * resumes from the last completed stage — no recomputation of finished
  * work (verified by the resume spec). A stage is complete only when BOTH
  * the parquet `_SUCCESS` marker AND the metrics sidecar exist — a crash
  * between the two re-runs the stage rather than leaving it permanently
  * metricless.
  */
final class Checkpoints(spark: SparkSession, workDir: String) {

  private def path(name: String) = s"$workDir/$name"
  private def metricsPath(name: String) = s"$workDir/${name}_metrics.json"

  def isComplete(name: String): Boolean =
    Files.exists(Paths.get(path(name), "_SUCCESS")) &&
      Files.exists(Paths.get(metricsPath(name)))

  /** Read a completed stage's table directly — the RESUME entry point.
    * Fails on a stage that is not complete (see [[isComplete]]), so a
    * resume never reads a half-written table.
    * For a stage written with `partitionBy`, a filter on the partition
    * column prunes at the scan: a 100 TB resume that needs one bucket
    * reads one directory, not the whole checkpoint (PlanSpec-gated).
    */
  def load(name: String): DataFrame = {
    require(isComplete(name),
      s"checkpoint stage '$name' under $workDir is incomplete (no _SUCCESS or metrics sidecar)")
    spark.read.parquet(path(name))
  }

  /** Compute-or-load a stage. On compute: write parquet, then ONE read-back
    * job derives the row total and per-file lineage (the files ARE the
    * stage's produced output units — unlike spark_partition_id over a
    * re-read, which reflects reader split packing).
    *
    * @param partitionBy optional hive-style partition columns for the
    *        stage table — the TB-scale storage posture: resume reads
    *        filtered on these columns scan only matching partitions
    *        instead of the whole table. Lineage metrics count per FILE,
    *        so partition dirs stay fully accounted.
    */
  def stage(name: String, partitionBy: Seq[String] = Nil)
           (compute: => DataFrame): DataFrame = {
    if (!isComplete(name)) {
      val t0 = System.nanoTime()
      val df = compute
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(path(name))
      val wallSec = (System.nanoTime() - t0) / 1e9
      val perFile = spark.read.parquet(path(name))
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows"))
        .collect()
        .map(r => (r.getString(0).split('/').last, r.getLong(1)))
        .sortBy(_._1)
      val total = perFile.map(_._2).sum
      val filesJson = perFile
        .map { case (f, n) => s"""{"file":"$f","rows":$n}""" }
        .mkString("[", ",", "]")
      Files.createDirectories(Paths.get(workDir))
      Files.writeString(Paths.get(metricsPath(name)),
        s"""{"stage":"$name","rows":$total,"wall_sec":$wallSec,"files":$filesJson}""")
    }
    spark.read.parquet(path(name))
  }

  def metrics(name: String): Option[String] =
    if (Files.exists(Paths.get(metricsPath(name)))) Some(Files.readString(Paths.get(metricsPath(name))))
    else None

  /** Write an arbitrary metrics sidecar (used for blocking-skew stats). */
  def writeMetrics(name: String, json: String): Unit = {
    Files.createDirectories(Paths.get(workDir))
    Files.writeString(Paths.get(metricsPath(name)), json)
  }
}

object Checkpoints {

  /** Per-blocking-pass skew report: buckets the cap dropped and the pairs
    * that forfeits (SURVEY.md §7.5 risk 2 — "dropped pairs counted in
    * metrics"). One JSON array entry per pass.
    */
  def skewMetricsJson(feats: DataFrame, cfg: graft.model.DedupConfig): String = {
    import graft.block.Blocking
    import graft.sig.Signatures
    // the stats run over the SAME long keys the pipeline blocks on
    // (Blocking.keyedUnion's three namespaces), so the sidecar reports the
    // real buckets, not a parallel reconstruction
    val sig = Signatures.minHashFromIntHashesCol(col("shs"), cfg)
    val passes = Seq(
      "lsh" -> feats.select(col("id"),
        explode(Signatures.bandHashKeysCol(sig, cfg.bands)).as("key")),
      "simhash" -> feats.select(col("id"),
        explode(Blocking.packedBitBlockKeys(col("simhash"),
          cfg.simhashBits / cfg.simhashBandBits, cfg.simhashBits, 1L)).as("key")),
      "phash" -> feats.select(col("id"),
        explode(Blocking.packedBitBlockKeys(col("phash"), cfg.phashBlocks, 64, 2L)).as("key")))
    passes.map { case (name, keyed) =>
      val r = Blocking.bucketStats(keyed, cfg.maxBucketSize).head()
      s"""{"pass":"$name","n_buckets":${r.getLong(0)},"n_dropped_buckets":${r.getLong(1)},""" +
        s""""pairs_dropped":${r.getLong(2)},"max_bucket":${r.getLong(3)}}"""
    }.mkString("[", ",", "]")
  }

  /** Full pipeline with per-stage checkpoints: resumable end-to-end run.
    * Stages: features, candidates (+skew sidecar), scored, assign_tc,
    * assign_refined, canonical.
    */
  def runCheckpointed(spark: SparkSession, images: DataFrame, workDir: String,
                      cfg: graft.model.DedupConfig): DataFrame = {
    import spark.implicits._
    val cp = new Checkpoints(spark, workDir)
    val feats = cp.stage("01_features")(Pipeline.features(images, cfg))
    val cands = cp.stage("02_candidates")(Pipeline.candidates(feats, cfg))
    if (cp.metrics("02_candidates_skew").isEmpty)
      cp.writeMetrics("02_candidates_skew", skewMetricsJson(feats, cfg))
    val scoredDf = cp.stage("03_scored") {
      Pipeline.classified(feats, cands, cfg).toDF()
    }
    val scored = scoredDf.as[Pipeline.ScoredEdge]
    // assignment tables carry a 16-way id-hash partition column: the
    // tables a daily increment resumes AGAINST get the partition-pruned
    // read path (Checkpoints.load + a pb filter scans one directory).
    // pb is dropped from the in-pipeline frames — downstream stages see
    // the unchanged (id, cluster_id) shape.
    def withPb(df: DataFrame): DataFrame =
      df.withColumn("pb", pmod(xxhash64(col("id")), lit(16)).cast("int"))
    val assign0 = cp.stage("04_assign_tc", partitionBy = Seq("pb"))(
      withPb(Pipeline.cluster(feats, scored))).drop("pb")
    // ClusterSplitHandler contract (ref core/.../ClusterSplitHandler.java:
    // 37-69; SURVEY.md §2.5): splits are observable in metrics. The counter
    // only accumulates when the stage actually computes, so the sidecar is
    // written exactly then (a resumed run keeps the original sidecar).
    val refineComputed = !cp.isComplete("05_assign_refined")
    val splits = spark.sparkContext.longAccumulator("n_split_clusters")
    val assign = cp.stage("05_assign_refined", partitionBy = Seq("pb"))(
      withPb(Pipeline.refine(assign0, feats, scored, cfg, splitCounter = Some(splits))))
      .drop("pb")
    if (refineComputed)
      cp.writeMetrics("05_assign_refined_splits",
        s"""{"stage":"05_assign_refined","n_split_clusters":${splits.value}}""")
    val slim = images.select(col("image_id"), col("caption"), col("fmt"),
      col("w"), col("h"), col("phash"))
    cp.stage("06_canonical")(Pipeline.fuse(slim, assign).toDF())
  }
}
