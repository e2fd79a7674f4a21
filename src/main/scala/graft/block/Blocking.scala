package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.DedupConfig
import graft.sig.Signatures

/** Candidate selection (blocking) — replaces the reference's only join
  * strategy, the in-memory multi-pass sorted-neighborhood index
  * (bakdata/dedupe `common/.../OnlineSortedNeighborhoodMethod.java:64-189`),
  * with shuffle-friendly key-equality blocking passes.
  *
  * Each pass produces canonical candidate pairs (id1 < id2); the union of
  * passes is deduplicated BEFORE expensive verification — same placement as
  * the reference's cross-pass `.distinct()`
  * (`OnlineSortedNeighborhoodMethod.java:81`, SURVEY.md §4).
  *
  * Scale notes (100 TB): every pass is `explode -> shuffle on key ->
  * within-bucket pairing`; the quadratic within-bucket cost is bounded by
  * `maxBucketSize` (pathological keys are dropped and counted — salting
  * cannot help a key whose *pairing* is quadratic; AQE handles residual
  * shuffle skew). Only ids and small keys shuffle — never payloads.
  */
object Blocking {

  /** Canonical pairing from an (id, key) inverted index: self-join on key,
    * id1 < id2, de-duplicated across keys/passes.
    *
    * @param keyed DataFrame with columns (id, key)
    * @param maxBucketSize drop keys whose bucket exceeds this (skew guard);
    *                      None = unbounded (used by oracle-mirrored queries)
    */
  def pairsFromKeys(keyed: DataFrame, maxBucketSize: Option[Int] = None): DataFrame =
    bucketPairRows(keyed, maxBucketSize).distinct()

  /** Like [[pairsFromKeys]], but emits per-pair SHARED-KEY COUNTS
    * (id1, id2, n_shared) instead of the distinct pair set — the
    * partial-overlap strength signal (shared winnowing fingerprints,
    * shared chunks). Same single-shuffle bucket shape, same cap
    * semantics; a pair contributes one count per capped bucket it
    * co-occurs in, rolled up by a partial-combined aggregate.
    */
  def pairsFromKeysCounted(keyed: DataFrame,
                           maxBucketSize: Option[Int] = None): DataFrame =
    bucketPairRows(keyed, maxBucketSize)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_shared"))

  /** Shared bucket/pair-expansion core of [[pairsFromKeys]] (distinct) and
    * [[pairsFromKeysCounted]] (count roll-up): one (id1, id2) row per
    * co-occurrence of a pair inside a capped key bucket.
    *
    * ONE shuffle: group ids per key, pair within the bucket. (A self-join
    * on key computes the same pair set but costs a count shuffle for the
    * cap plus a join shuffle; measured ~2x slower.) Buckets above the cap
    * are dropped whole — their pairing cost is quadratic and their
    * selectivity is near zero (skew guard; SURVEY.md §7.5 risk 2).
    */
  private def bucketPairRows(keyed: DataFrame,
                             maxBucketSize: Option[Int]): DataFrame =
    pairRowsFromBuckets(
      keyed.groupBy("key").agg(collect_list(col("id")).as("ids")), maxBucketSize)

  /** Pair expansion over a PRE-GROUPED bucket frame (key, ids) — for
    * callers that already hold the buckets (e.g. because per-id counts are
    * derived from the same grouped frame; one shuffle feeds both).
    */
  def pairRowsFromBuckets(buckets: DataFrame,
                          maxBucketSize: Option[Int]): DataFrame = {
    val capped = maxBucketSize match {
      case Some(cap) => size(col("ids")).between(2, cap)
      case None => size(col("ids")) >= 2
    }
    val ids = col("ids")
    val isLongId = buckets.schema("ids").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    // pair expansion: i<j index pairs, canonicalized (min, max) — matching
    // the oracle's `a.doc_id < b.doc_id`. Long ids (every corpus-scale
    // caller) go through the codegen'd native kernel; the HOF chain below
    // computes the same pairs for other id types but evaluates INTERPRETED
    // (Catalyst never codegens higher-order functions), which at millions
    // of within-bucket pairs dominates the blocking stage.
    val pairs =
      if (isLongId) graft.functions.SigExprs.pairLongIds(ids)
      else flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), greatest(size(ids) - i - 1, lit(0))), y =>
          struct(least(x, y).as("id1"), greatest(x, y).as("id2")))))
    val expanded = buckets
      .where(capped)
      .select(explode(pairs).as("p"))
      .select(col("p.id1"), col("p.id2"))
    // the native kernel already drops id1 == id2 pairs
    if (isLongId) expanded else expanded.where(col("id1") =!= col("id2"))
  }

  /** Skew observability: per-pass bucket statistics — how many keys, how
    * many buckets the cap drops, and how many within-bucket pairs that
    * forfeits (the "dropped pairs counted in metrics" requirement;
    * SURVEY.md §7.5 risk 2).
    */
  def bucketStats(keyed: DataFrame, cap: Int): DataFrame =
    keyed.groupBy("key").agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_dropped_buckets"),
        sum(when(col("n") > cap, (col("n") * (col("n") - 1) / 2).cast("long")).otherwise(0L))
          .as("pairs_dropped"),
        max(col("n")).as("max_bucket"))

  /** Star pairing for keys whose equality PROVES duplication (exact content
    * hash): emit (min_id, other) per bucket instead of all C(n,2) pairs —
    * transitive closure yields the identical cluster from n-1 edges. A
    * 2500-copy bucket costs 2499 pairs instead of 3.1M. Only valid when
    * verification cannot reject a bucket pair.
    */
  def starPairsFromKeys(keyed: DataFrame): DataFrame =
    keyed.groupBy("key")
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(col("rep"), explode(col("ids")).as("other"))
      .where(col("rep") =!= col("other"))
      .select(col("rep").as("id1"), col("other").as("id2"))
      .distinct()

  /** Packed bit-block keys as pure Column arithmetic: key for block i of
    * hash h is `(tag << 62) | (i << 52) | ((h >>> i*per) & mask)` — exact
    * (injective per pass), no hashing, no strings. Requires per <= 52 and
    * tag in 1..3 (tag 0 is the hashed-LSH-key namespace).
    */
  def packedBitBlockKeys(hCol: Column, blocks: Int, totalBits: Int, tag: Long): Column = {
    val per = totalBits / blocks
    require(per <= 52 && tag >= 1 && tag <= 3, s"packed key layout overflow: per=$per tag=$tag")
    val mask = (1L << per) - 1
    array((0 until blocks).map { i =>
      lit((tag << 62) | (i.toLong << 52))
        .bitwiseOR(shiftrightunsigned(hCol, i * per).bitwiseAND(lit(mask)))
    }: _*)
  }

  /** Union of the three hash-keyed blocking passes as ONE (id, key) index
    * with 8-byte LONG keys: hashed LSH band keys (58-bit, high tag bits 0),
    * packed simhash blocks (tag 1), packed phash blocks (tag 2) — the
    * namespaces are disjoint by construction, so buckets never mix across
    * passes. One downstream groupBy pairs all three passes in a single
    * shuffle, moving 8 bytes per key instead of a ~30-char string.
    */
  def keyedUnion(feats: DataFrame, cfg: DedupConfig): DataFrame = {
    val sig = Signatures.minHashFromIntHashesCol(col("shs"), cfg)
    val lsh = feats.select(col("id"),
      explode(Signatures.bandHashKeysCol(sig, cfg.bands)).as("key"))
    val sim = feats.select(col("id"),
      explode(packedBitBlockKeys(col("simhash"),
        cfg.simhashBits / cfg.simhashBandBits, cfg.simhashBits, 1L)).as("key"))
    val ph = feats.select(col("id"),
      explode(packedBitBlockKeys(col("phash"), cfg.phashBlocks, 64, 2L)).as("key"))
    lsh.unionAll(sim).unionAll(ph)
  }

  /** MinHash/LSH blocking pass over a HASHED shingle-array column
    * (array<long> of hash60 values — see Pipeline.features).
    * records(idCol, shinglesCol) -> canonical candidate pairs.
    * Cost model: numHashes mins per record (map-side), `bands` keys shuffled
    * per record, no payload movement.
    */
  def lshPairs(records: DataFrame, idCol: String, shinglesCol: String,
               cfg: DedupConfig, cap: Option[Int] = None): DataFrame = {
    val sig = Signatures.minHashFromHashesCol(col(shinglesCol), cfg)
    val keyed = records
      .select(col(idCol).as("id"), explode(Signatures.bandKeysCol(sig, cfg.bands)).as("key"))
    pairsFromKeys(keyed, cap)
  }

  /** Bit-block (pigeonhole) blocking pass for Hamming-close 64-bit hashes
    * (phash / simhash): two hashes within Hamming distance blocks-1 share at
    * least one identical block key.
    */
  def bitBlockPairs(records: DataFrame, idCol: String, hashCol: String,
                    blocks: Int, totalBits: Int, cap: Option[Int] = None): DataFrame = {
    val keyed = records.select(
      col(idCol).as("id"),
      explode(Signatures.bitBlockKeysCol(col(hashCol), blocks, totalBits)).as("key"))
    pairsFromKeys(keyed, cap)
  }

  /** Sorted-neighborhood pass, offline semantics: order all records by
    * (key, id) and pair each record with its w-1 predecessors — the
    * reference's offline guarantee of w-1 comparisons/record
    * (`OnlineSortedNeighborhoodMethod.java:57-58`). Null keys are skipped,
    * as in the reference (:122-124).
    *
    * This oracle-facing variant uses a global window (single-partition
    * sort) — correct at test scale; `snmPairsScalable` is the
    * range-partitioned scale path.
    */
  def snmPairs(records: DataFrame, idCol: String, keyCol: Column, window: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (window < 2) return snmPairsScalable(records, idCol, keyCol, window)
    val w = Window.orderBy(col("key"), col("id"))
    val base = records.select(col(idCol).as("id"), keyCol.as("key")).where(col("key").isNotNull)
    val withLags = (1 until window).foldLeft(base) { (df, i) =>
      df.withColumn(s"_p$i", lag(col("id"), i).over(w))
    }
    val pairs = (1 until window).map { i =>
      withLags.select(col("id"), col(s"_p$i").as("other")).where(col("other").isNotNull)
    }.reduce(_ unionAll _)
    pairs.select(
        least(col("id"), col("other")).as("id1"),
        greatest(col("id"), col("other")).as("id2"))
      .distinct()
  }

  /** Scale path for SNM — identical pair set to [[snmPairs]], no
    * single-partition WindowExec anywhere in the plan:
    *
    *  1. distributed sort by (key, id): `repartitionByRange` +
    *     `sortWithinPartitions` (Spark's normal parallel sort);
    *  2. global rank without a global window: `zipWithIndex` (partition
    *     sizes are counted once; ranks = partition offset + local index —
    *     one extra lightweight job, no data movement);
    *  3. each row probes its (window-1) successors by rank: explode the
    *     target ranks, equi-join on rank (shuffle hash/sort-merge join —
    *     fully parallel).
    *
    * The id keeps its original type, so callers' oracle type parity is
    * unchanged. Self-pairs are impossible (probed ranks differ from own).
    */
  def snmPairsScalable(records: DataFrame, idCol: String, keyCol: Column,
                       window: Int, numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = records.sparkSession
    // degenerate window: w-1 = 0 comparisons per record — return an empty
    // pair frame instead of letting sequence(rn+1, rn+0) run DESCENDING
    // (which would probe self + successor and fabricate pairs)
    if (window < 2) {
      val idField = records.select(col(idCol)).schema.head
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(Seq(idField.copy(name = "id1"), idField.copy(name = "id2"))))
    }
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val base = records.select(col(idCol).as("id"), keyCol.as("key"))
      .where(col("key").isNotNull)
      .repartitionByRange(parts, col("key"), col("id"))
      .sortWithinPartitions(col("key"), col("id"))
    val idField = base.schema("id")
    val indexed = spark.createDataFrame(
      base.select(col("id")).rdd.zipWithIndex.map { case (r, i) => Row(r.get(0), i) },
      StructType(Seq(idField.copy(name = "id"), StructField("rn", LongType, nullable = false))))
    val probes = indexed.select(col("id").as("other"),
      explode(sequence(col("rn") + 1, col("rn") + (window - 1))).as("rn"))
    indexed.join(probes, Seq("rn"))
      .select(least(col("id"), col("other")).as("id1"),
        greatest(col("id"), col("other")).as("id2"))
      .distinct()
  }

  /** Substring-containment pass: pairs (A, B) where A's normalized text is a
    * verbatim substring of B's (the north_star's "suffix-array substring
    * pass" for caption-substring duplicates). Distributed form: index B by
    * its byte windows, probe with a prefix of A, verify containment — the
    * inverted-index equivalent of a suffix scan, expressible as joins so
    * Catalyst plans the shuffle.
    *
    * Probe keys come in two tiers, both xxhash64 of a prefix of A:
    *  - A of length >= 4k probes with its first 4k bytes, matched against
    *    B's 4k-byte windows;
    *  - A of length k..4k-1 probes with its first k bytes, matched against
    *    B's k-byte windows (texts shorter than k never probe).
    * If A ⊆ B then every prefix of A occurs in B, so either tier finds every
    * containing B; the longer prefix only prunes non-containing candidates
    * before the text joins and `instr`. On a 20000-row ImageGen corpus
    * (30-word caption vocabulary, k = 8) the first 8 bytes fall into 794
    * keys and the probe join emitted 6,423,798 (probe, doc) rows for 3,673
    * pairs; the 32-byte prefix emits 9,263 rows for the same pairs. A
    * longer prefix would move more captions into the unselective short
    * tier.
    *
    * The skew cap still counts FIRST-k buckets for every probe, whatever
    * its tier: a probe whose first k bytes are shared by more than `cap`
    * probes is dropped, exactly as the DuckDB oracle's surviving-key CTE
    * (`okk` in `Queries.ddSubstringSql`) does. So the pair set is the
    * same as with a single k-byte key; 4k is derived from k, not an option.
    */
  def substringPairs(records: DataFrame, idCol: String, normCol: String, k: Int,
                     cap: Option[Int] = None,
                     maxCollectedKeys: Int = 16000000): DataFrame = {
    // keys are xxhash64 of the prefix/window, not the string: the index
    // has ~|text| windows per record, so hashing cuts the key bytes and
    // replaces string-compare joins with long joins. A hash collision
    // (within or across tiers) only adds a candidate; the containment
    // verify below is exact, so results are unchanged.
    val norm = col(normCol)
    val wideK = 4 * k
    def prefixKey(w: Int) = Signatures.fastHashCol(substring(norm, 1, w))
    val wide = length(norm) >= wideK
    val probe0 = records.where(length(norm) >= k).select(
      col(idCol).as("pid"),
      prefixKey(k).as("kkey"),
      when(wide, prefixKey(wideK)).otherwise(prefixKey(k)).as("key"),
      wide.as("wide"))
    // skew guard: a first-k key probed by more than `cap` records makes the
    // bucket join quadratic — drop it (counted by callers via metrics)
    val probe = cap match {
      case Some(c) =>
        val counts = probe0.groupBy("kkey").agg(count(lit(1)).as("_n"))
        probe0.join(counts.where(col("_n") <= c), Seq("kkey")).drop("_n")
      case None => probe0
    }
    // The index is (iid, key) ONLY — carrying the text through the
    // exploded rows multiplies the materialized bytes by the text length
    // (measured 10 s -> ~2 s at sf0.1). Texts re-attach by id AFTER the key
    // join, on the (much smaller) candidate set.
    // The index side never materializes the ~|corpus|·|text| exploded
    // window rows: each tier's probe-key set is collected sorted to the
    // driver and pushed INTO a native expression (KeysInSortedSet) that
    // intersects each document's sorted window hashes with it in a merge
    // scan — each document emits only its MATCHING keys, so the explode
    // and the join machinery never see the non-matches (measured 9.7 s ->
    // ~2 s at sf0.1). This is the broadcast-build side of a hash join
    // expressed as an expression; a tier with no probe keys is not hashed.
    //
    // Driver-memory guard: the collect is bounded by `maxCollectedKeys`
    // (LIMIT max+1 — ONE job detects overflow AND fetches the set, and the
    // driver never holds more than max+1 keys). Past the bound — a 10^12-
    // row corpus with a large short-text fraction would be ~TBs of keys —
    // the pass switches to the fully-distributed inverted-index join: every
    // window of both tiers explodes and shuffle-joins against the probe
    // keys. Same pair set (gated by PlanSpec "substring fallback" pair-set
    // equality), no driver state; it trades the merge-scan pruning for
    // shuffle, which is the right trade only when the build side stops
    // fitting.
    val probeKeyRows = probe.select(col("wide"), col("key")).distinct()
      .limit(maxCollectedKeys + 1).collect()
    val collected = probeKeyRows.length <= maxCollectedKeys
    val index = if (collected) {
      def keysOf(w: Boolean) =
        probeKeyRows.filter(_.getBoolean(0) == w).map(_.getLong(1)).sorted
      val matched = Seq(k -> keysOf(false), wideK -> keysOf(true)).collect {
        case (w, keys) if keys.nonEmpty => graft.functions.GraftColumnBridgeOps
          .keysInSortedSet(Signatures.hashedShinglesCol(norm, w), keys)
      }
      records.select(col(idCol).as("iid"),
        explode(matched.reduceOption(concat(_, _))
          .getOrElse(typedLit(Array.empty[Long]))).as("key"))
    } else {
      records.select(col(idCol).as("iid"),
        explode(concat(Signatures.hashedShinglesCol(norm, k),
          Signatures.hashedShinglesCol(norm, wideK))).as("key"))
    }
    val probeIds = probe.select(col("pid"), col("key"))
    val candIds = (if (collected) broadcast(probeIds) else probeIds)
      .join(index, Seq("key"))
      .where(col("pid") =!= col("iid"))
      .select(col("pid"), col("iid"))
    candIds
      .join(records.select(col(idCol).as("pid"), col(normCol).as("ptext")), Seq("pid"))
      .join(records.select(col(idCol).as("iid"), col(normCol).as("itext")), Seq("iid"))
      .where(length(col("ptext")) <= length(col("itext")) &&
        expr("instr(itext, ptext) > 0"))
      .select(
        least(col("pid"), col("iid")).as("id1"),
        greatest(col("pid"), col("iid")).as("id2"))
      .distinct()
  }
}
