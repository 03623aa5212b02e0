package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftConfig
import graft.model.{EntityRecord, Turn}

/** End-to-end KG construction: transcripts -> mentions -> blocked candidate
  * join -> fused scoring -> decisions -> canonicalization -> triples.
  * One declarative Catalyst plan per stage; stages optionally checkpointed
  * for resume (north_rule).
  *
  * Spark restatement of the reference's per-request flow (SURVEY.md §3.1):
  * boundaries that were HTTP/bolt/native-thread hops become shuffles chosen
  * by Catalyst/AQE; the whole-corpus batch replaces record-at-a-time calls.
  */
object KgPipeline {

  final case class Outputs(
      mentions: DataFrame,
      decisions: DataFrame,
      components: DataFrame,
      triples: DataFrame,
      decisionStats: DataFrame,
      cached: Seq[DataFrame] = Nil) {
    /** Unpersist every frame this run cached — outputs AND the internal
      * stage caches (entities/entityB/mentionsPrep/mentionB). The caller
      * owns the run: long-lived sessions running many pipelines must call
      * this or cached frames accumulate across runs. A caller that replaces
      * an output with a derived copy (SparkEntry's memo checkpoints them)
      * still releases THIS run, then frees the copies itself. */
    def release(): Unit =
      (Seq(mentions, decisions, components, triples, decisionStats) ++ cached)
        .foreach(_.unpersist(false))
  }

  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      dict: Seq[EntityRecord],
      cfg: GraftConfig = GraftConfig.default,
      checkpointRoot: Option[String] = None,
      runId: String = "run_0"): Outputs = {

    val cp = new Checkpoints(spark, checkpointRoot, runId)
    // every frame cached below registers here and travels out via
    // Outputs.cached, so callers can release the whole run
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame]()

    val entities = EntityStore.prepare(spark, dict, cfg).cache()
    cached += entities
    // entity-side blocking index: only the blocked (beyond-broadcast) tier
    // needs it — materialized on first use, so the broadcast-sweep tier
    // never pays its ~10 tiny-data shuffle stages
    var entityBMemo: Option[DataFrame] = None
    def entityB: DataFrame = entityBMemo.getOrElse {
      val b = Blocking.entityBlocks(entities, cfg).cache()
      entityBMemo = Some(b); cached += b
      b
    }

    val mentions = cp.stage("mentions") {
      MentionStage.detect(spark, turns, dict).toDF()
    }.persist() // reused by blocking, scoring prep, count

    val decisions = cp.stage("decisions") {
      val mentionsPrep = Scorer.prepareMentions(mentions, cfg)
        .select(Scorer.mentionPrepCols.map(col): _*).cache()
      cached += mentionsPrep
      val decided =
        decideTier(spark, mentions, mentionsPrep, entities, entityB, dict.size.toLong, cfg)
      cached ++= decided.cached
      decided.value
    }.persist() // reused by components, triples, stats

    val components = cp.stage("components") {
      // dup edges: driver-side exact pairs for small dictionaries (shared
      // verbatim with the oracle; O(|dict|^2) cheap bounds is driver-cheap
      // to ~2k entities), blocked entity self-join beyond that — the cap is
      // tighter than the sweep tier's because this path is single-threaded
      val edges =
        if (dict.size.toLong <= math.min(cfg.broadcastSweepMaxDict, 2000L)) {
          import spark.implicits._
          graft.core.Candidates.dupEdges(graft.core.Candidates.prep(dict, cfg), cfg)
            .toDF("src", "dst")
        } else Scorer.entityDupEdges(entityB, entities, cfg)
      val vertices = entities.select(col("id"))
        .union(decisions.filter(col("resolved_id").isNotNull).select(col("resolved_id").as("id")))
        .distinct()
      ConnectedComponents.run(vertices, edges)
    }

    val triples = cp.stage("triples") {
      TripleEmitter.all(entities, decisions, components)
    }

    Outputs(mentions, decisions, components, triples, decisionStats(decisions),
      cached.toSeq)
  }

  /** Tiered decision stage (shared by batch and streaming):
    *
    *  - dict <= cfg.broadcastSweepMaxDict: EXACT broadcast sweep — one
    *    map-only pass over mentions against the broadcast dictionary with
    *    branch-and-bound pruning. No candidate shuffle exists, so no hot
    *    key can exist either: a mention corpus where one entity dominates
    *    50% of turns costs exactly the same as a uniform one. Bit-exact vs
    *    the brute-force oracle.
    *  - larger dictionaries: blocked candidate join (full-surface/n-gram/
    *    type/LSH keys), hot-key salting from a sketch pre-pass, then the
    *    broadcast scorer restricted to the blocked seeds (sweep off) —
    *    recall is the P/R-gated approximation, cost stays O(pairs).
    *
    * The decisions are lazy; the frames persisted to build them (the
    * blocked tier's mentionB) come back in `cached` for the caller to
    * release after the decisions are materialized. */
  def decideTier(
      spark: SparkSession,
      mentions: DataFrame,
      mentionsPrep: DataFrame,
      entities: DataFrame,
      entityB: => DataFrame,
      dictSize: Long,
      cfg: GraftConfig): Cached[DataFrame] =
    if (dictSize <= cfg.broadcastSweepMaxDict) {
      Cached(Scorer.decideBest(spark, mentionsPrep, None, entities, cfg), Nil)
    } else {
      val mentionB = Blocking.mentionBlocks(mentionsPrep, cfg).persist()
      // mention-side hot keys: > ~1% of mentions sharing one key => salt
      val mentionCount = math.max(mentions.count(), 1L)
      val hot = Blocking.hotKeySketch(mentionB, math.max(mentionCount / 100, 100L))
      val nPart = autoShufflePartitions(spark, mentionCount, cfg)
      // candidateSets, not candidatePairs: the key-join fan-out aggregates
      // straight to per-mention sets (map-side dedup) — one pair-scale
      // exchange instead of two, no pair-multiset sort (the 4M-turn spill
      // driver; decisions bit-identical, the scorer is order-insensitive)
      val pairs = Blocking.candidateSets(spark, mentionB, entityB, cfg, hot,
        numPartitions = Some(nPart))
      Cached(Scorer.decideBest(spark, mentionsPrep, Some(pairs), entities, cfg, sweep = false,
        numPartitions = Some(nPart)), Seq(mentionB))
    }

  /** Shuffle width for the blocked tier's scoring join, derived from corpus
    * size instead of `spark.sql.shuffle.partitions`: each task's working set
    * is ~cfg.estMentionBytes per mention (prepped struct + candidate list +
    * row overhead), so partitions = max(defaultParallelism, mention bytes /
    * cfg.targetSliceBytes). The default config must not OOM where a knob
    * setting succeeds: round 3's 102.5k x 1M cell died at partitions=cores
    * and completed at 160 (BASELINE.md corpus axis) — this computes ~250
    * there with no caller involvement. Overshooting is AQE-compatible (AQE
    * coalesces small partitions; the explicit repartition-by-num in
    * decideBest is never coalesced below the requested width). */
  def autoShufflePartitions(spark: SparkSession, mentionCount: Long, cfg: GraftConfig): Int = {
    val byBytes = mentionCount * cfg.estMentionBytes / cfg.targetSliceBytes + 1L
    math.min(math.max(spark.sparkContext.defaultParallelism.toLong, byBytes), 1 << 20).toInt
  }

  /** Decision-rate stats (reference get_decision_statistics,
    * /root/reference/services/disambiguation.py:487-509): total counts plus
    * counts/rates over the trailing `recentN` decisions — the reference's
    * "last 1000 history rows" window (:490), made deterministic by the total
    * order (conv_id, turn_idx, offset) in place of wall-clock timestamps.
    * The limit is a TakeOrdered (top-1000 global), cheap at any scale. */
  def decisionStats(decisions: DataFrame, recentN: Int = 1000): DataFrame = {
    val all = decisions.groupBy("decision").agg(count(lit(1)).as("n"))
    val recent = decisions
      .orderBy(col("conv_id").desc, col("turn_idx").desc, col("offset").desc)
      .limit(recentN)
    val recentCounts = recent.groupBy("decision").agg(count(lit(1)).as("n_recent"))
    val recentTotal = recent.agg(count(lit(1)).as("recent_total"))
    all.join(recentCounts, Seq("decision"), "left_outer")
      .withColumn("n_recent", coalesce(col("n_recent"), lit(0L)))
      .crossJoin(broadcast(recentTotal))
      .withColumn("recent_rate", col("n_recent") / col("recent_total"))
      .select("decision", "n", "n_recent", "recent_rate")
  }
}
