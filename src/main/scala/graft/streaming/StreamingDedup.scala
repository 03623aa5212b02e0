package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.operators.Dedup

/** Streaming incremental near-dup dedup: the two batch headliners composed —
  * `Dedup.incrementalLsh` wired into a foreachBatch sink that maintains the
  * parquet LSH signature index across micro-batches. This is the shape a
  * continuous-ingest corpus pipeline runs: every arriving document batch is
  * deduped against everything already kept (and against itself) at
  * O(batch × bucket-mates) cost, and then BECOMES part of the index.
  *
  * Persistent state under `indexPath` (it IS the dedup index, so it grows
  * with the corpus by design):
  *   - `banded/batch_id=<id>/`  — the batch's banded minhash signatures
  *     (what candidate generation bucket-joins);
  *   - `sets/batch_id=<id>/`    — the batch's shingle sets (what the exact
  *     jaccard verify step reads for candidate members; pruned by a
  *     broadcast semi-join, so only bucket-mates' sets are ever scanned).
  * Verified pairs land under `outPath/batch_id=<id>/`.
  *
  * All three sinks are keyed on the foreachBatch batchId and OVERWRITTEN per
  * batch (same idempotency discipline as StreamingKg.decisionsStream), and
  * the index read EXCLUDES the current batchId partition — a replayed batch
  * that already appended its own signatures before crashing would otherwise
  * see itself as "old" (incrementalLsh treats both-sides ids as old) and
  * silently drop its new×new pairs. With the exclusion, replaying any batch
  * reproduces its outputs exactly (gated in StreamingDedupSpec).
  *
  * df-cap semantics: `maxDf` is applied per BATCH (each batch's shingle
  * sets are computed from that batch alone). A corpus-global df cap is
  * inherently a batch job — a stream cannot know a shingle's final df — so
  * callers wanting capped semantics run the periodic batch dedup with the
  * cap and keep the stream uncapped (the default), where streamed cumulative
  * pairs equal the batch `minhashLsh` pairs exactly (spec-gated).
  */
object StreamingDedup {

  /** The per-batch body — public because it is also the direct drive for
    * crash-replay tests and batch-mode harnesses (IncBench's streamed row):
    * calling it with a fresh batchId IS one micro-batch of the stream. */
  def processBatch(batch: DataFrame, batchId: Long,
                                      tau: Double, numHashes: Int, bands: Int,
                                      shingleN: Int, maxDf: Long,
                                      indexPath: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    val cached = scala.collection.mutable.Buffer[DataFrame]()
    try {
      val batchSets = Dedup
        .shingleSets(batch.select("doc_id", "text"), shingleN, maxDf).persist()
      cached += batchSets
      // the index as of BEFORE this batch: all batch_id partitions except
      // this one (idempotent replay — see class doc). First batch: empty
      // frames with the live schema.
      def readIndexPart(sub: String, template: DataFrame): DataFrame = {
        val p = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasParts = fs.exists(p) &&
          fs.listStatus(p).exists(_.getPath.getName.startsWith("batch_id="))
        if (hasParts)
          spark.read.option("basePath", p.toString).parquet(p.toString)
            .filter(col("batch_id") =!= batchId).drop("batch_id")
        else template.limit(0)
      }
      val batchBanded = Dedup.bandedSignatures(batchSets, numHashes, bands)
      val oldSets = readIndexPart("sets", batchSets)
      val oldBanded = readIndexPart("banded", batchBanded)
      val pairs = Dedup.incrementalLsh(oldSets, batchSets, tau, numHashes, bands,
        indexBanded = Some(oldBanded))
      cached ++= pairs.cached
      pairs.value.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      // only after the pairs landed does the batch join the index (a crash
      // in between replays the batch against the same pre-batch index)
      batchBanded.write.mode("overwrite")
        .parquet(s"$indexPath/banded/batch_id=$batchId")
      batchSets.write.mode("overwrite")
        .parquet(s"$indexPath/sets/batch_id=$batchId")
    } finally cached.foreach(_.unpersist(false))
  }

  /** Streamed pairs: see class doc. `docs` is a streaming frame carrying
    * (doc_id, text). */
  def pairsStream(docs: DataFrame, tau: Double,
                  indexPath: String, outPath: String, checkpoint: String,
                  numHashes: Int = 64, bands: Int = 16,
                  shingleN: Int = 3,
                  maxDf: Long = Long.MaxValue): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, tau, numHashes, bands, shingleN, maxDf,
          indexPath, outPath)
      }
}
