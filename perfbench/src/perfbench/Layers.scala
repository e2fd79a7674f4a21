package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.app.{Checkpoints, Pipeline}
import perfbench.Main._

/** The traced run: every layer called once from outside the program, each
  * call inside a [[Tracer]] span whose name is also the Spark job
  * description, so [[LayerListener]] charges executor time, shuffle and
  * spill to the layer. Pipeline layers are persisted and counted at each
  * boundary, so each layer's jobs run inside its own span. Checks and
  * counts the benchmark adds run in measurement spans, which are not layers.
  */
object Layers {

  /** `problems` fail the run; `notes` report known divergences. */
  final case class Result(metrics: Seq[(String, Double)], attempted: Int, errors: Seq[String],
                          problems: Seq[String], notes: Seq[String], traceFile: String)

  val pipelineLayers: Seq[String] = Seq("sig.features", "block.candidates", "classify.verify",
    "cluster.cc", "cluster.refine", "fuse.canonical")
  val families: Seq[String] = Seq("ann", "dd", "ds", "emb", "ev", "sim", "ta", "chain", "tpch")
  /** Spans that call a layer of the program; executor CPU outside them (and
    * outside measurement spans) is unattributed.
    */
  val layerSpans: Set[String] =
    (pipelineLayers ++ families.map(f => s"catalog.$f") ++ Seq("app.checkpointed", "app.resume")).toSet
  /** Stages of the checkpointed wiring that must equal the same stages of
    * the in-memory layer wiring. From refine on the two may differ: refine's
    * greedy split depends on the order its rows arrive in.
    */
  val gatedStages: Seq[String] = allStages.take(4)

  private val skewEntry =
    """"pass":"(\w+)","n_buckets":(\d+),"n_dropped_buckets":(\d+),"pairs_dropped":(\d+)""".r
  private val sidecarWall = """"wall_sec":([0-9.eE+-]+)""".r

  def walk(spark: SparkSession, c: Conf, wl: Workload, runId: String): Result = {
    val sc = spark.sparkContext
    val m = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val problems = mutable.ArrayBuffer.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // inputs the workload itself did not generate (untraced)
    val corpus = new Corpus(s"${c.work}/corpus", c.rows, c.seed)
    if (!new File(corpus.images).isDirectory) corpus.write(spark)
    val catalog = wl match { case k: Catalog => k; case _ => new Catalog(c) }

    val listener = new LayerListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(runId, sc)
    val measureSpans = mutable.Set.empty[String]
    def measure[T](name: String)(body: => T): T = { measureSpans += name; tracer.span(name)(body) }
    // the checkpointed wiring's tables, kept until the pipeline walk compares them
    val ckptDir = s"${c.work}/ckpt-trace"
    val t0 = System.nanoTime()
    def attempt(name: String)(body: => Unit): Unit = {
      attempted += 1
      try body
      catch { case NonFatal(e) => errors += s"$name: ${e.toString.take(300)}"; dropPersisted(spark) }
    }
    def persisted(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

    def pipeline(): Unit = attempt("pipeline") {
      val df = corpus.read(spark).toDF()
      val splits = sc.longAccumulator("refine_splits")
      def layer(name: String)(f: => DataFrame): DataFrame = tracer.span(name) {
        val out = persisted(f)
        m(s"$name.rows_out") = out.count().toDouble
        out
      }
      val (feats, cands, scored, assign0, assign, canon) = tracer.span("pipeline") {
        val feats = layer("sig.features")(Pipeline.features(df, cfg))
        val cands = layer("block.candidates")(Pipeline.candidates(feats, cfg))
        val scored = layer("classify.verify")(Pipeline.classified(feats, cands, cfg).toDF())
        import spark.implicits._
        val scoredDs = scored.as[Pipeline.ScoredEdge]
        val assign0 = layer("cluster.cc")(Pipeline.cluster(feats, scoredDs))
        val assign = layer("cluster.refine")(
          Pipeline.refine(assign0, feats, scoredDs, cfg, splitCounter = Some(splits)))
        val slim = df.select(col("image_id"), col("caption"), col("fmt"), col("w"), col("h"),
          col("phash"))
        val canon = layer("fuse.canonical")(Pipeline.fuse(slim, assign).toDF())
        (feats, cands, scored, assign0, assign, canon)
      }
      // the checkpointed wiring (walked before this one) must agree on the
      // gated stages; canonical rows that differ are counted, not failed
      if (new File(s"$ckptDir/06_canonical").isDirectory) measure("pipeline.check") {
        gatedStages.zip(Seq(feats, cands, scored, assign0)).foreach { case (s, d) =>
          val (ck, mem) = (fingerprint(spark.read.parquet(s"$ckptDir/$s").drop("pb")), fingerprint(d))
          if (ck != mem) problems += s"checkpointed $s $ck != in-memory wiring's $mem"
        }
        val ck = spark.read.parquet(s"$ckptDir/06_canonical")
        val diff = canon.exceptAll(ck).count() + ck.exceptAll(canon).count()
        m("app.canonical_diff_rows") = diff.toDouble
        if (diff > 0) notes += s"checkpointed canonical differs from the in-memory wiring's in $diff rows"
      }
      m("trace.pipeline.wall_s") = tracer.wall("pipeline")
      m("cluster.refine_splits") = splits.value.toDouble
      m("pipeline.cached_mb") = persistedMb(spark)
      measure("block.skew") {
        val json = Checkpoints.skewMetricsJson(feats, cfg)
        skewEntry.findAllMatchIn(json).foreach { e =>
          m(s"block.${e.group(1)}.buckets_dropped") = e.group(3).toDouble
          m(s"block.${e.group(1)}.pairs_dropped") = e.group(4).toDouble
        }
      }
      measure("classify.yield") {
        val dup = scored.where(col("classification") === graft.model.Classification.Duplicate).count()
        m("classify.dup_edges") = dup.toDouble
        m("classify.candidate_pairs") = m("block.candidates.rows_out")
        m("classify.dup_yield") = dup.toDouble / math.max(1.0, m("block.candidates.rows_out"))
      }
      measure("cluster.sizes") {
        val r = assign.groupBy("cluster_id").count().agg(count(lit(1)), max("count")).head()
        m("cluster.clusters") = r.getLong(0).toDouble
        m("cluster.max_cluster") = r.getLong(1).toDouble
      }
      measure("pipeline.quality") {
        val gold = spark.read.parquet(corpus.gold)
        val q = pairQuality(assign, gold)
        m("pipeline.dup_recall") = q.recall
        m("pipeline.dup_precision") = q.precision
        m("pipeline.small_cluster_recall") = q.smallRecall
        m("pipeline.cc_dup_recall") = pairQuality(assign0, gold).recall
      }
      dropPersisted(spark)
    }

    def app(): Unit = attempt("app") {
      val images = corpus.read(spark).toDF()
      def sidecarWallS(stage: String): Double =
        sidecarWall.findFirstMatchIn(Files.readString(Paths.get(s"$ckptDir/${stage}_metrics.json")))
          .map(_.group(1).toDouble).getOrElse(Double.NaN)
      def canonical = spark.read.parquet(s"$ckptDir/06_canonical")
      val (full, resumed) = tracer.span("app") {
        tracer.span("app.checkpointed")(Checkpoints.runCheckpointed(spark, images, ckptDir, cfg).count())
        allStages.foreach { s =>
          m(s"app.ckpt.$s.wall_s") = sidecarWallS(s)
          m(s"app.ckpt.$s.mb") = dirBytes(new File(s"$ckptDir/$s")) / 1e6
        }
        m("app.store_ratio") = dirBytes(new File(ckptDir)).toDouble / dirBytes(new File(corpus.images))
        val full = measure("app.check")(fingerprint(canonical))
        crash(ckptDir)
        tracer.span("app.resume")(Checkpoints.runCheckpointed(spark, images, ckptDir, cfg).count())
        resumedStages.foreach(s => m(s"app.resume.$s.wall_s") = sidecarWallS(s))
        (full, measure("app.check")(fingerprint(canonical)))
      }
      if (full != resumed) problems += s"resumed canonical $resumed != uninterrupted $full"
      m("app.checkpointed.wall_s") = tracer.wall("app.checkpointed")
      m("app.resume.wall_s") = tracer.wall("app.resume")
      dropPersisted(spark)
    }

    def catalogWalk(): Unit = attempt("catalog") {
      val shared = tracer.span("catalog")(catalog.pass(spark, c.catalog, Some(tracer)))
      dropPersisted(spark)
      val walls = shared.map(_._2)
      m("catalog.wall_s") = walls.sum
      m("catalog.query_p50_s") = Main.median(walls)
      m("catalog.query_p88_s") = Main.percentile(walls, 88)
      // each query alone in a fresh session: what QueryCache sharing saves
      val alone = measure("querycache.alone") {
        catalog.queries.map { q =>
          val s = spark.newSession()
          val t = System.nanoTime()
          graft.SparkEntry.queries(q)(s, c.catalog).count()
          dropPersisted(spark)
          (System.nanoTime() - t) / 1e9
        }.sum
      }
      m("querycache.saved_s") = alone - walls.sum
      families.foreach { f =>
        m(s"catalog.$f.wall_s") = shared.filter(r => family(r._1) == f).map(_._2).sum
      }
    }

    // the workload's own section runs last, right after one untraced
    // operation, so both see the same JIT state: their difference is the
    // tracing overhead. app runs before pipeline, which compares with it.
    val (others, own) = wl match {
      case _: Batch => (Seq(app _, catalogWalk _), pipeline _)
      case _ => (Seq(app _, pipeline _), catalogWalk _)
    }
    others.foreach(_())
    var base = Double.NaN
    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    attempt("untraced") { base = wl.op(spark, 0).wallS }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    own()

    org.apache.spark.ListenerDrain(sc)
    sc.removeSparkListener(listener)
    Main.deleteTree(new File(ckptDir))
    val totals = listener.snapshot
    def tot(name: String): LayerTotals = totals.getOrElse(name, new LayerTotals)
    pipelineLayers.foreach { l =>
      val t = tot(l)
      val wall = tracer.wall(l)
      m(s"$l.wall_s") = wall
      m(s"$l.exec_cpu_s") = t.cpuNs.get / 1e9
      m(s"$l.idle_core_s") = wall * c.cores - t.runMs.get / 1e3
      m(s"$l.shuffle_write_mb") = t.shuffleWrite.get / 1e6
      m(s"$l.shuffle_read_mb") = t.shuffleRead.get / 1e6
      m(s"$l.spill_mb") = t.spill.get / 1e6
      m(s"$l.jobs") = t.jobs.get.toDouble
    }
    families.foreach { f =>
      val t = tot(s"catalog.$f")
      m(s"catalog.$f.exec_cpu_s") = t.cpuNs.get / 1e9
      m(s"catalog.$f.idle_core_s") = m.getOrElse(s"catalog.$f.wall_s", 0.0) * c.cores - t.runMs.get / 1e3
    }
    // share of executor CPU outside every layer span, measurement spans left out
    def cpuOf(p: String => Boolean): Double =
      totals.collect { case (k, t) if p(k) => t.cpuNs.get.toDouble }.sum
    val cpuAll = cpuOf(k => !measureSpans(k))
    m("trace.unattributed_cpu_share") =
      if (cpuAll > 0) cpuOf(k => !measureSpans(k) && !layerSpans(k)) / cpuAll else 0.0
    m("trace.overhead_s") = (wl match {
      case _: Batch => tracer.wall("pipeline")
      case _ => tracer.wall("catalog")
    }) - base

    val traceFile = s"${c.work}/trace.json"
    Files.writeString(Paths.get(traceFile),
      s"""{"run":${Json.str(runId)},"spans":${tracer.json(t0)}}""")
    Result(m.toSeq, attempted, errors.toSeq, problems.toSeq, notes.toSeq, traceFile)
  }
}
