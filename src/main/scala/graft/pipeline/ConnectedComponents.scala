package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation with
  * lineage checkpoints (no GraphFrames jar in the sandbox; SURVEY.md §7.4).
  *
  * labels(id) starts as id; each round every vertex takes the min of its own
  * label and its neighbors' labels; converged when no label changes. Rounds
  * = graph diameter, which for entity-dedup graphs is tiny (dup clusters are
  * near-cliques). localCheckpoint every CheckpointEvery rounds truncates
  * the lineage so plans don't grow exponentially — the standard alternating
  * small-star/large-star optimization is unnecessary at these diameters but
  * the checkpoint discipline is the same.
  *
  * Input edges (src, dst) strings; returns (id, component) with component =
  * lexicographic min id of the component.
  */
object ConnectedComponents {

  /** Rounds between lineage-severing checkpoints of the distributed loop. */
  private val CheckpointEvery = 3

  /** Size-adaptive entry point. The canonicalization graph is dictionary-
    * scale (entity ids + created-surface ids), NOT corpus-scale — at any
    * transcript volume it stays orders of magnitude below the corpus — so
    * below `driverThreshold` rows the component labeling runs as a single
    * driver-local union-find (two jobs total) instead of an iterative
    * join loop (dozens of barrier-synced jobs whose fixed latency dominates
    * and does not parallelize). The distributed loop remains the fallback
    * for genuinely huge dictionaries. */
  def run(vertices: DataFrame, edges: DataFrame, maxIter: Int = 20,
          driverThreshold: Long = defaultDriverThreshold): DataFrame = {
    val vs = vertices.select(col("id")).persist()
    val es = edges.select(col("src"), col("dst")).persist()
    val size = vs.count() + es.count()
    val out =
      if (size <= driverThreshold) runDriver(vs, es)
      else runDistributed(vs, es, maxIter)
    // runDriver has collected; runDistributed caches its labels — either
    // way the inputs are no longer needed (a cache miss just recomputes)
    vs.unpersist(false)
    es.unpersist(false)
    out
  }

  /** Driver fast-path ceiling derived from the actual driver heap: ~2M rows
    * per 8 GiB (strings + Row boxing + the union-find map comfortably fit),
    * capped at 2M — collecting 5M rows onto an 8g driver risked OOM near the
    * old constant threshold. */
  def defaultDriverThreshold: Long =
    math.min(2000000L, Runtime.getRuntime.maxMemory() / 4096)

  private def runDriver(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val vs = vertices.collect().map(_.getString(0))
    val es = edges.collect().map(r => (r.getString(0), r.getString(1)))
    graft.core.UnionFind.components(vs, es).toSeq.sortBy(_._1)
      .toDF("id", "component")
  }

  /** The RDD physically backing a localCheckpoint'd frame (its analyzed
    * plan is a LogicalRDD over the checkpointed rows). DataFrame.unpersist
    * is a no-op on checkpointed frames — only CacheManager entries are
    * evicted — so freeing the MEMORY_AND_DISK checkpoint blocks needs the
    * RDD itself. None for non-checkpoint plans. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  def runDistributed(vertices: DataFrame, edges: DataFrame, maxIter: Int = 20,
                     onRounds: Int => Unit = _ => ()): DataFrame = {
    // SEVER the input lineage before iterating (localCheckpoint, not cache):
    // caching truncates execution but NOT analysis — every round's plan
    // still embeds the producer's full logical plan (scoring UDFs, blocking
    // joins, ...), and the union in the loop doubles those embeddings per
    // round, so driver-side re-analysis grew 2^k with real pipeline inputs
    // (measured: rounds of 4.7s -> 16s -> 24s at 17k vertices where the
    // same loop over LocalTableScan inputs takes 3s total — CcBench found
    // this; after severing, rounds are flat ~1s). The per-round
    // CheckpointEvery discipline below bounds the loop's OWN growth.
    val bidir = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = vertices.select(col("id"), col("id").as("component")).localCheckpoint(true)
    // checkpoint blocks the CURRENT labels lineage may still reach (eager
    // checkpoints sever everything before them, so each new checkpoint
    // makes the previous generation's blocks unreachable and freeable —
    // a long-lived driver cycling many CC runs must not wait for RDD GC)
    var liveCp: List[org.apache.spark.rdd.RDD[_]] = checkpointRdd(labels).toList
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val viaNeighbors = bidir
        .join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.select("id", "component").union(viaNeighbors)
        .groupBy("id").agg(min("component").as("component"))
      val atBoundary = (iter + 1) % CheckpointEvery == 0
      val stepped = if (atBoundary) next.localCheckpoint(true) else next.cache()
      val changed = stepped.join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old")).limit(1).count()
      labels.unpersist(false) // frees cache()'d rounds; no-op on checkpoints
      labels = stepped
      if (atBoundary) {
        // the new EAGER checkpoint is materialized (the changed-count above
        // forced it) with truncated lineage, so no later round can recompute
        // through the previous generation's checkpoint blocks — free them
        liveCp.foreach(_.unpersist(false))
        liveCp = checkpointRdd(stepped).toList
      }
      converged = changed == 0
      iter += 1
    }
    onRounds(iter)
    // sever the result's lineage so bidir and the last in-loop checkpoint
    // can be freed NOW (a cache()'d final round still references both for
    // eviction-recompute; an extra copy of the small label frame is cheaper
    // than leaking corpus-scale checkpoint blocks until RDD GC)
    val out = labels.localCheckpoint(true)
    labels.unpersist(false)
    liveCp.foreach(_.unpersist(false))
    checkpointRdd(bidir).foreach(_.unpersist(false))
    out
  }

  /** Free the MEMORY_AND_DISK blocks behind a frame produced by the
    * distributed path (or any frame derived from one): the result of
    * runDistributed is localCheckpoint-backed, and DataFrame.unpersist is a
    * NO-OP on checkpointed frames — the blocks ARE the data, only the
    * ContextCleaner's RDD GC would eventually reclaim them. Call when the
    * frame (and everything derived from it that isn't independently
    * materialized) will never be read again — the blocks cannot be
    * recomputed (lineage was severed on purpose). Walks the analyzed plan
    * so persisted derivatives release their checkpoint leaves too; a no-op
    * on frames with no LogicalRDD leaf (driver-path results, plain plans). */
  def releaseResult(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(false))
}
