package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a pretraining-data pipeline needs after
  * dedup/quality filtering: sequence packing, deterministic dataset
  * splitting, and vocabulary statistics. All pure Catalyst (codegen'd, no
  * UDFs) with line-for-line ANSI-SQL twins for the DuckDB gate.
  */
object Corpus {

  /** Merge rounds between bpeMerges' vocabulary checkpoints. */
  private val BpeCheckpointEvery = 3

  /** Greedy sequence packing by running token count: documents are laid
    * out in (strata, doc_id) order and cut into fixed-size token blocks —
    * block_id = floor(exclusive-cumsum / blockSize), the streaming-concat
    * packing used for pretraining batches. The cumulative sum runs per
    * stratum (e.g. language), so strata pack in parallel and the global
    * sort a corpus-wide cumsum would need never happens; at 100 TB the
    * stratum key would also carry a shard component (e.g. hash(doc_id)
    * bucket) to bound any one window partition. floor() on both engines —
    * a bare BIGINT cast would truncate in Spark but ROUND in DuckDB. */
  def packBlocks(docs: DataFrame, blockSize: Long,
                 strataCol: String = "lang"): DataFrame = {
    val w = Window.partitionBy(strataCol).orderBy("doc_id")
    docs.select(col(strataCol), col("doc_id"),
        size(TextOps.bpeTokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("block_id",
        floor((col("cum") - col("n_tokens")) / lit(blockSize.toDouble)))
      .select(strataCol, "doc_id", "n_tokens", "block_id")
  }

  /** Shared split-hash residue: pmod keeps the residue in [0, 100) for
    * NEGATIVE ids too (Spark's % is sign-preserving, so a bare % would
    * classify every negative-id doc as < rate — always-train / always-kept).
    * The SQL twins spell the same thing as ((x % 100) + 100) % 100. The
    * multiplier is small enough that id*48271 never overflows int64 for
    * realistic ids, |id| < 1.9e14 (overflow WRAPS in Spark but ERRORS in
    * DuckDB, so the twin would diverge — that bound is the contract). */
  private[graft] def splitResidue(id: Column): Column =
    pmod(id * lit(48271L), lit(100L))

  /** Deterministic train/val split by arithmetic hash of the id: the same
    * doc lands in the same split on any engine, any run, any partitioning.
    * Per-stratum counts verify the ratio held. */
  def hashSplit(docs: DataFrame, trainPct: Int = 90,
                strataCol: String = "lang"): DataFrame =
    docs.select(col(strataCol), col("doc_id"),
        when(splitResidue(col("doc_id")) < trainPct, lit("train"))
          .otherwise(lit("val")).as("split"))

  def splitCounts(docs: DataFrame, trainPct: Int = 90,
                  strataCol: String = "lang"): DataFrame =
    hashSplit(docs, trainPct, strataCol)
      .groupBy(strataCol, "split").agg(count(lit(1)).as("n"))

  /** Deterministic stratified corpus mixing: keep `rates(stratum)` percent
    * of each stratum's documents (data-mixing weights, e.g. upsample rare
    * languages / downsample boilerplate sources) using the same
    * multiplicative-hash residue as the train/val split — engine-
    * independent, rerun-stable, and a pure filter that pushes to the scan
    * (no sampling state, no shuffle). Unlisted strata keep `defaultRate`. */
  def sampleMix(docs: DataFrame, rates: Map[String, Int], defaultRate: Int = 10,
                strataCol: String = "lang"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(col(strataCol) === s, lit(r)).otherwise(acc)
    }
    docs.filter(splitResidue(col("doc_id")) < rate)
      .select(col("doc_id"), col(strataCol))
  }

  /** Top-k ADJACENT token pairs — the greedy-merge primitive of BPE/WordPiece
    * tokenizer training (each training round merges the most frequent
    * adjacent pair; this is that round's counting step, runnable per round
    * over the full corpus). Pure Catalyst: zip each token array with its
    * own tail, explode, count — map-side partial agg, one small-row shuffle,
    * TakeOrdered for the head; deterministic ties (count desc, pair asc).
    * `cjk` switches to the CJK-aware grain like `topTerms`. */
  def topPairs(docs: DataFrame, k: Int, cjk: Boolean = false): DataFrame = {
    val toks =
      if (cjk) TextOps.cjkTokens(lower(col("text"))) else TextOps.words(lower(col("text")))
    docs.select(toks.as("ws"))
      .select(explode(zip_with(
        slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
        slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(k)
  }

  /** ITERATIVE BPE trainer (Sennrich et al. 2016): `rounds` greedy merge
    * rounds, each = count adjacent symbol pairs over the word-FREQUENCY
    * table, pick the most frequent pair (count DESC, lhs ASC, rhs ASC —
    * fully deterministic ties), apply the merge, repeat. `topPairs` is one
    * counting round over raw tokens; this is the actual training loop.
    *
    * The at-scale shape is the classic one: ONE corpus pass builds the
    * (word, freq) vocabulary — the only corpus-scale job — and every merge
    * round then runs over the vocabulary, orders of magnitude smaller.
    * Words are carried in a wrapped symbol spelling, each symbol enclosed
    * in '|' ("abc" -> "|a||b||c|"), so applying merge (l, r) is ONE
    * non-UDF string replace of "|l||r|" with "|lr|": left-to-right
    * non-overlapping replacement IS greedy BPE merge order ("|a||a||a|"
    * merges to "|aa||a|"), and the spelling is identical in DuckDB, which
    * lets the twin unroll k rounds exactly. Words are ASCII [a-z]+ runs
    * (symbol set disjoint from the separator by construction). Per round:
    * one narrow projection + one pair-count aggregate (map-side combined,
    * vocab-scale) + a 1-row driver argmax + one replace projection; each
    * vocabulary generation is checkpointed (severing the k-round lineage)
    * and the superseded one freed — the PageRank/CC loop discipline.
    *
    * Returns (merge_round, lhs, rhs, cnt) — the learned merge table, the
    * artifact a tokenizer trainer actually emits. Stops early if no pair
    * remains. */
  def bpeMerges(docs: DataFrame, rounds: Int): DataFrame = {
    import graft.pipeline.ConnectedComponents.releaseResult
    val spark = docs.sparkSession
    import spark.implicits._
    var wf = docs
      .select(explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(regexp_replace(col("word"), "(.)", "|$1|").as("w"), col("freq"))
      .localCheckpoint(true)
    // `wf` alternates between the last eager checkpoint and a lazy chain of
    // replace projections on top of it: each round only ADDS one narrow
    // projection, so the chain stays shallow and re-running it from the
    // checkpoint is vocab-scale ALU — a checkpoint (one materialization job
    // + stored blocks) every round bought nothing but the job overhead
    // (measured: the per-round jobs, not the aggregate, dominated the wall
    // at bench scale). Checkpoint every BpeCheckpointEvery merges instead;
    // the release discipline (free the superseded generation) is unchanged.
    var lastCp = wf
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var done = false
    for (r <- 1 to rounds if !done) {
      val ts = split(expr("substring(w, 2, length(w) - 2)"), "\\|\\|")
      val top = wf
        .select(explode(zip_with(
          slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
          slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"), col("freq"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, rr, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, l, rr, c))
        wf = wf.select(replace(col("w"), lit(s"|$l||$rr|"), lit(s"|$l$rr|")).as("w"),
          col("freq"))
        if (r % BpeCheckpointEvery == 0 && r < rounds) {
          val c2 = wf.localCheckpoint(true)
          releaseResult(lastCp)
          lastCp = c2
          wf = c2
        }
      }
    }
    releaseResult(lastCp)
    merges.toSeq.toDF("merge_round", "lhs", "rhs", "cnt")
  }

  /** Corpus vocabulary head: top-k terms of the lowercased text with
    * deterministic ties (count desc, term asc). `cjk` switches the term
    * grain to the CJK-aware tokenizer (per-Han-char terms — whitespace
    * terms on unsegmented zh are whole sentences, a useless vocabulary).
    * Map-side partial agg + a 16-byte-row shuffle; the limit is a
    * TakeOrdered. */
  def topTerms(docs: DataFrame, k: Int, cjk: Boolean = false): DataFrame = {
    val terms =
      if (cjk) TextOps.cjkTokens(lower(col("text"))) else TextOps.words(lower(col("text")))
    docs.select(explode(terms).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)
  }
}
