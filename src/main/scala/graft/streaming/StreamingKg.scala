package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.core.GraftConfig
import graft.model.{EntityRecord, Turn}
import graft.pipeline.{Blocking, EntityStore, MentionStage, Scorer}

/** Structured Streaming surface: transcripts as an unbounded stream.
  *
  * The reference is strictly request/response (SURVEY.md §2.8) — its only
  * incremental behavior is the single-vector index append
  * (/root/reference/services/vectorization.py:691-732). This module is the
  * engine's streaming generalization: the same per-batch semantics as the
  * batch pipeline (shared MentionStage/Blocking/Scorer code), applied to
  * micro-batches via foreachBatch, plus event-time windowed stats with a
  * watermark and a stateful per-conversation operator.
  *
  * Canonicalization (CC over merge edges) is deliberately batch-only: it is
  * a global fixpoint; streaming emits per-batch decisions and a periodic
  * batch job canonicalizes — the standard lambda split.
  */
object StreamingKg {

  /** Per micro-batch: detect mentions, block, score, decide — identical
    * code path to the batch pipeline — written under
    * `outPath/batch_id=<id>`, keyed on the foreachBatch batchId and
    * OVERWRITTEN per batch: a micro-batch retry or restart-after-failure
    * replays into the same directory instead of appending duplicates, so
    * the sink is idempotent (effective exactly-once on top of the stream's
    * checkpointed offsets). Readers see batch_id as a partition column. */
  def decisionsStream(
      spark: SparkSession,
      turns: Dataset[Turn],
      dict: Seq[EntityRecord],
      cfg: GraftConfig,
      outPath: String,
      checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] = {
    val entities = EntityStore.prepare(spark, dict, cfg).cache()
    lazy val entityB = Blocking.entityBlocks(entities, cfg).cache()
    turns.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        val mentions = MentionStage.detect(spark, batch.as[Turn], dict).toDF()
        val mentionsPrep = Scorer.prepareMentions(mentions, cfg)
          .select(Scorer.mentionPrepCols.map(col): _*)
        // per-batch caches (the blocked tier persists mentionB) are released
        // after the sink write — an unbounded stream must not accumulate one
        // cached frame per micro-batch; entities/entityB live for the
        // stream's lifetime by design (dictionary-sized)
        val decided = graft.pipeline.KgPipeline
          .decideTier(spark, mentions, mentionsPrep, entities, entityB, dict.size.toLong, cfg)
        decided.value.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        decided.release()
      }
  }

  /** Event-time windowed mention-rate stats: turns per (window, role) with
    * a watermark bounding state. */
  def turnRate(turns: Dataset[Turn], watermark: String = "10 minutes",
               window_ : String = "5 minutes"): DataFrame =
    turns.toDF()
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("role"))
      .agg(count(lit(1)).as("n_turns"))

  /** State for first-mention tracking: surfaces already seen per conv. */
  final case class ConvState(seen: Set[String])
  final case class FirstMention(conv_id: String, turn_idx: Int, surface: String)

  /** Stateful per-conversation operator: emits each dictionary surface the
    * first time a conversation mentions it (flatMapGroupsWithState custom
    * state).
    *
    * `stateTimeout = Some(gap)` BOUNDS the state for unbounded production
    * streams: a watermark on ts plus EventTimeTimeout expire a
    * conversation's seen-set once the watermark passes its last event time
    * + gap — an idle conversation costs nothing forever, and a re-mention
    * after expiry re-emits (by design: expiry IS forgetting). The default
    * None keeps NoTimeout for finite-input queries (Trigger.AvailableNow),
    * where expiry semantics would only make output depend on batch
    * boundaries. */
  def firstMentions(
      spark: SparkSession,
      turns: Dataset[Turn],
      dict: Seq[EntityRecord],
      stateTimeout: Option[String] = None,
      watermarkDelay: String = "1 second"): Dataset[FirstMention] = {
    import spark.implicits._
    val idx = graft.core.MentionDetector.buildIndex(dict)
    val bc = spark.sparkContext.broadcast(idx)
    val src = stateTimeout match {
      case Some(_) => turns.withWatermark("ts", watermarkDelay).as[Turn]
      case None    => turns
    }
    val timeoutConf =
      if (stateTimeout.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (convId: String, batch: Iterator[Turn], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            // watermark passed last-event + gap with no new data: drop the
            // seen-set (bounded state); nothing to emit
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.map(_.seen).getOrElse(Set.empty[String])
            val turnsSeq = batch.toSeq
            val out = turnsSeq.sortBy(_.turn_idx).flatMap { t =>
              graft.core.MentionDetector.detect(t, bc.value).flatMap { m =>
                val key = m.surface.toLowerCase
                if (seen.contains(key)) None
                else { seen += key; Some(FirstMention(convId, t.turn_idx, m.surface)) }
              }
            }
            state.update(ConvState(seen))
            stateTimeout.foreach { gap =>
              val maxTs = turnsSeq.iterator.map(_.ts.getTime).max
              state.setTimeoutTimestamp(maxTs, gap)
            }
            out.iterator
          }
        })
  }
}
