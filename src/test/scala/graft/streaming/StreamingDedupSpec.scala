package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Streamed incremental dedup == batch dedup: cumulative pairs across
  * micro-batches must equal one batch `minhashLsh` over the same corpus
  * (cross-batch near-dups included), and replaying a micro-batch must
  * reproduce its output exactly (the index read excludes the batch's own
  * partition).
  *
  * Batching discipline: one query RUN per chunk against a shared checkpoint
  * (the StreamingKgSpec timeout-test pattern) — MemoryStream +
  * Trigger.AvailableNow folds every pending addData into ONE micro-batch,
  * which would silently test nothing cross-batch. The run-per-chunk loop
  * yields real consecutive batch ids 0..k-1. */
class StreamingDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 60 deterministic 15-word docs + a near-dup clone (one extra token,
    * 3-gram jaccard ~0.87) of every 5th at id+1000. Clones sit at the tail
    * of the sequence, so sequential micro-batch chunks put most clones in a
    * LATER batch than their original — the cross-batch case is the point. */
  def mkDocs: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"w$i")
    val base = (0L until 60L).map { i =>
      (i, (0 until 15).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    base ++ base.filter(_._1 % 5 == 0).map { case (i, t) => (i + 1000L, t + " zz") }
  }

  private def chunksOf(docs: Seq[(Long, String)]): Seq[Seq[(Long, String)]] =
    docs.grouped((docs.size + 2) / 3).toSeq

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** Run the stream chunk-by-chunk (one query run per chunk, shared
    * checkpoint => batch ids 0..n-1); returns (outPath, indexPath). */
  private def runStream(docs: Seq[(Long, String)], tag: String): (String, String) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory(s"sdedup-$tag-out").toString + "/pairs"
    val idx = Files.createTempDirectory(s"sdedup-$tag-idx").toString + "/index"
    val ckpt = Files.createTempDirectory(s"sdedup-$tag-ckpt").toString
    val source = MemoryStream[(Long, String)]
    chunksOf(docs).foreach { chunk =>
      source.addData(chunk)
      StreamingDedup.pairsStream(
          source.toDS().toDF("doc_id", "text"), 0.6, idx, out, ckpt)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    (out, idx)
  }

  test("streamed cumulative pairs equal batch minhashLsh (cross-batch dups included)") {
    import spark.implicits._
    val docs = mkDocs
    val (out, idx) = runStream(docs, "eq")

    // the stream really ran as multiple batches: the INDEX has one
    // partition per micro-batch (pairs rows alone can't show this — only
    // the clone-carrying final batch emits any)
    val idxParts = new java.io.File(s"$idx/sets").list()
      .count(_.startsWith("batch_id="))
    assert(idxParts >= 3, s"expected >=3 micro-batch index partitions, got $idxParts")

    val streamed = pairSet(spark.read.parquet(out))
    val batch = pairSet(Dedup.minhashLsh(
      Dedup.shingleSets(docs.toDF("doc_id", "text"), 3, Long.MaxValue), 0.6).value)
    assert(batch.nonEmpty)
    // …and at least one planted pair crosses a chunk boundary
    val chunkOf = chunksOf(docs).zipWithIndex
      .flatMap { case (c, i) => c.map(d => d._1 -> i) }.toMap
    assert(batch.exists { case (a, b, _) => chunkOf(a) != chunkOf(b) })
    assert(streamed == batch,
      s"missing=${batch.diff(streamed).take(5)} extra=${streamed.diff(batch).take(5)}")
  }

  test("replaying a micro-batch reproduces its pairs exactly (self-exclusion from the index)") {
    import spark.implicits._
    val docs = mkDocs
    val (out, idx) = runStream(docs, "replay")
    val lastId = spark.read.parquet(out)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("batch_id").cast("long")))
      .head.getLong(0)
    assert(lastId >= 1, s"expected multiple micro-batches, got max id $lastId")
    def lastOut() = pairSet(spark.read.parquet(s"$out/batch_id=$lastId"))
    val before = lastOut()
    assert(before.nonEmpty)
    // cross-batch pairs must be present in the last batch's output (its
    // docs' originals arrived in earlier batches)
    val lastChunk = chunksOf(docs).last
    val lastIds = lastChunk.map(_._1).toSet
    assert(before.exists { case (a, b, _) => lastIds(b) && !lastIds(a) },
      s"no cross-batch pair in $before")
    // a crash-retry re-runs the SAME batch after its index partitions may
    // already exist — the body must exclude them and reproduce the output
    StreamingDedup.processBatch(lastChunk.toDF("doc_id", "text"), lastId,
      0.6, 64, 16, 3, Long.MaxValue, idx, out)
    assert(lastOut() == before)
  }
}
