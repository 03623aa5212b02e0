package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the physical plans the 100TB story depends on are
  * asserted, not just eyeballed — predicate pushdown reaching the parquet
  * scan, column pruning in ReadSchema, broadcast joins on dimension sides,
  * whole-stage codegen over the column math. Runs against the sf0.001
  * driver tables (read-only). */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("s3_filter_type: the lang predicate is pushed into the parquet scan") {
    val p = plan("s3_filter_type")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(lang,en)"), p.take(2000))
  }

  test("s1_scan_order: column pruning — the wide text column never leaves the scan") {
    val p = plan("s1_scan_order")
    val read = p.linesIterator.find(_.startsWith("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("n_chars") && !read.contains("text"), read)
  }

  test("s7_onehop_join: the dimension side is broadcast, not shuffled") {
    val p = plan("s7_onehop_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q1_pricing_summary: map-side partial aggregation before one exchange") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p.take(2000))
    // partial (map-side) combine runs before the shuffle: only pre-agged
    // rows cross the exchange
    assert(p.contains("partial_sum"), p.take(2000))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, "expected exactly one exchange")
  }

  test("corpus_pack_blocks: per-stratum window, no global sort — one hash exchange") {
    val p = plan("corpus_pack_blocks")
    assert(p.contains("Window"), p.take(2000))
    // a corpus-wide cumsum would need a single-partition global sort
    // (Exchange SinglePartition / rangepartitioning); per-stratum packing
    // hash-partitions by lang instead
    assert(!p.contains("SinglePartition"), "global single-partition exchange found")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1, "expected exactly one exchange")
    assert(p.contains("hashpartitioning(lang"), p.take(2000))
  }

  test("j5_multijoin_revenue: small dims broadcast; fact join keys pushed as IsNotNull") {
    val p = plan("j5_multijoin_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull("))
  }

  test("kg_onehop: the pred=same_as filter prunes partitions of the triples sink") {
    // the triples table is written partitionBy(pred) — the single-predicate
    // traversal must read ONLY the same_as partition, the property the
    // 100TB per-predicate query story rests on
    val p = plan("kg_onehop")
    val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters")).getOrElse("")
    assert(pf.contains("pred") && pf.contains("same_as"),
      s"expected pred=same_as in PartitionFilters, got: $pf\n${p.take(2000)}")
  }

  test("broadcast-sweep decide tier is MAP-ONLY: zero exchanges scan-to-decisions") {
    // the sweep tier's claim is that no shuffle exists between the mentions
    // scan and the decisions projection (no candidate pair join, no
    // mentions self-join): assert zero Exchange operators in the plan
    import graft.core.GraftConfig
    import graft.fixtures.Synth
    import graft.pipeline.{KgPipeline, MentionStage, Scorer, TranscriptSource, EntityStore}
    val cfg = GraftConfig.default
    val spec = Synth.Spec(nConv = 5, turnsPerConv = 4)
    val dict = Synth.dictionary(spec)
    val turns = TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict))
    // materialized mentions table, exactly as the pipeline persists it (the
    // one exchange upstream of here is MentionStage's deterministic conv_id
    // repartition, part of the mention CONTRACT, not of the decide stage)
    val mentions = MentionStage.detect(spark, turns, dict).toDF().persist()
    mentions.count()
    val mentionsPrep = Scorer.prepareMentions(mentions, cfg)
      .select(Scorer.mentionPrepCols.map(org.apache.spark.sql.functions.col): _*)
    val entities = EntityStore.prepare(spark, dict, cfg)
    val decisions = Scorer.decideBest(spark, mentionsPrep, None, entities, cfg)
    val p = decisions.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // the formatted explain re-prints the cached mentions InMemoryRelation's
    // OWN plan (which legitimately contains detect's conv_id repartition);
    // the gate is the operators ABOVE the InMemoryTableScan — the decide
    // stage itself
    val decideStage = p.linesIterator.takeWhile(!_.contains("InMemoryRelation")).toSeq
    assert(decideStage.exists(_.contains("InMemoryTableScan")),
      s"expected the decide plan to read the cached mentions:\n${p.take(3000)}")
    assert(!decideStage.exists(_.contains("Exchange")),
      s"sweep tier must not shuffle:\n${decideStage.mkString("\n")}")
  }

  test("dedup_kept_docs: the drop side broadcasts into a LeftAnti join — no corpus shuffle") {
    // the drop list is dup-graph-sized (cluster non-reps); the kept corpus
    // must be a scan + broadcast anti-join, never a corpus-keyed exchange
    val p = plan("dedup_kept_docs")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"drop side should broadcast:\n${p.take(3000)}")
  }

  test("j6_bucketed_onehop: co-located bucketed join — zero exchanges even without broadcast") {
    // broadcast off: the gate is that BUCKETING (not broadcast) removes the
    // shuffle — the layout that survives when the dimension side outgrows
    // executor memory
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = SparkEntry.queries("j6_bucketed_onehop")(spark, sfDir)
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n${p.take(3000)}")
      // and it computes the same rows as the shuffled/broadcast spelling
      val a = q.collect().map(_.toSeq).toSet
      val b = SparkEntry.queries("s7_onehop_join")(spark, sfDir)
        .collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("ev_asof_join: ONE key exchange, no inequality-join plan") {
    // the as-of join's whole claim: union + window = one hashpartitioning
    // exchange on the key; the naive `l.key = r.key AND r.ts <= l.ts` +
    // argmax spelling plans as BroadcastNestedLoop/Cartesian and dies at
    // scale (the window sort shows up inside the same exchange)
    val p = plan("ev_asof_join")
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of join regressed to an inequality join:\n${p.take(3000)}")
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one exchange:\n${p.take(3000)}")
    assert(p.contains("hashpartitioning(_k"), p.take(2000))
  }

  test("ev_range_join_sql: the optimizer rule rewrites the naive SQL to the bucketed join") {
    // the user writes a plain equi-key + BETWEEN interval join; the plan
    // must carry the rule's bucket attribute in the join keys — proof the
    // rewrite FIRED on the production query, not just the spec fixture
    // (semantics are gated by the driver hash vs DuckDB's naive join)
    val p = plan("ev_range_join_sql")
    assert(p.contains(graft.plans.RangeJoinRewrite.bucketName),
      s"RangeJoinRewrite did not fire:\n${p.take(3000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the INTERVAL spelling over the raw NTZ timestamp column fires too
    // (TimestampAddInterval micros + explicit-zone cast path)
    val pts = plan("ev_range_join_sql_ts")
    assert(pts.contains(graft.plans.RangeJoinRewrite.bucketName),
      s"RangeJoinRewrite did not fire on the INTERVAL spelling:\n${pts.take(3000)}")
  }

  test("ev_sessions: the per-session aggregate reuses the window's key exchange") {
    // groupBy(user_id, session_idx) clusters a SUPERSET of the window's
    // partition key, so hashpartitioning(user_id) already satisfies it —
    // the whole operator must run on one shuffle
    val p = plan("ev_sessions")
    assert(p.contains("Window"), p.take(2000))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"expected exactly one exchange (aggregate must reuse the window's):\n${p.take(3000)}")
  }

  test("kg_twohop_type: the dictionary-sized type side broadcasts") {
    val p = plan("kg_twohop_type")
    assert(p.contains("BroadcastHashJoin"),
      s"type side should broadcast, mentions side must not move:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("blocked tier: every pair-DAG exchange runs at the DERIVED width (the 8g-OOM gate)") {
    // the candidate join's reduce side + the distinct + the cands groupBy +
    // the scoring join must all hash-partition at autoShufflePartitions(n),
    // NOT at spark.sql.shuffle.partitions (=2 in this suite): width pinned
    // by explicit repartition-by-num, which AQE never coalesces below
    import graft.core.GraftConfig
    import graft.fixtures.Synth
    import graft.pipeline.{KgPipeline, MentionStage, Scorer, TranscriptSource, EntityStore, Blocking}
    import org.apache.spark.sql.functions.col
    // estMentionBytes inflated so the fixture-scale corpus derives a width
    // (97) that can't be confused with defaults (2) or parallelism (2)
    val cfg = GraftConfig.default.copy(
      broadcastSweepMaxDict = 0L, estMentionBytes = 32L << 20, targetSliceBytes = 32L << 20)
    val spec = Synth.Spec(nConv = 8, turnsPerConv = 4)
    val dict = Synth.dictionary(spec)
    val turns = TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict))
    val mentions = MentionStage.detect(spark, turns, dict).toDF().persist()
    val nMentions = mentions.count()
    val expected = KgPipeline.autoShufflePartitions(spark, nMentions, cfg)
    assert(expected > 2, s"fixture derived width $expected too small to discriminate")
    val mentionsPrep = Scorer.prepareMentions(mentions, cfg)
      .select(Scorer.mentionPrepCols.map(col): _*)
    val entities = EntityStore.prepare(spark, dict, cfg)
    val decided = KgPipeline.decideTier(spark, mentions, mentionsPrep, entities,
      Blocking.entityBlocks(entities, cfg), dict.size.toLong, cfg)
    val p = decided.value.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // every repartition-by-num operator in the plan carries the derived width
    val reparts = s"REPARTITION_BY_NUM".r.findAllIn(p).size
    assert(reparts >= 4, s"expected the 4 pinned exchanges (2 join inputs, distinct, cands/ment), got $reparts:\n${p.take(3000)}")
    assert(p.contains(s"hashpartitioning(mention_id"), p.take(2000))
    assert(p.contains(s", $expected)"),
      s"expected derived width $expected in partitioning:\n${p.take(3000)}")
    // and no pinned exchange regressed to the session default
    assert(!"hashpartitioning\\([^)]*, 2\\), REPARTITION_BY_NUM".r.findFirstIn(p).isDefined,
      "a pinned exchange fell back to spark.sql.shuffle.partitions")
    decided.release()
    mentions.unpersist()
  }

  test("blocked-tier indexes: one shuffle per index, at most two for the dup-edge pairs") {
    // each index is ONE key-grouped aggregation; the per-channel
    // distinct/groupBy/join chains it replaced must not creep back
    import graft.core.GraftConfig
    import graft.fixtures.Synth
    import graft.pipeline.{Blocking, EntityStore, MentionStage, Scorer, TranscriptSource}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    val cfg = GraftConfig.default
    val spec = Synth.Spec(nConv = 5, turnsPerConv = 4)
    val dict = Synth.dictionary(spec)
    val turns = TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict))
    val entities = EntityStore.prepare(spark, dict, cfg).cache()
    val prep = Scorer.prepareMentions(MentionStage.detect(spark, turns, dict).toDF(), cfg)
      .select(Scorer.mentionPrepCols.map(col): _*).cache()
    prep.count()
    // shuffle exchanges of the final (post-AQE) plan, cached inputs excluded
    val plans = new AdaptiveSparkPlanHelper {}
    def shuffles(df: DataFrame): Int = {
      df.collect()
      plans.collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec => s }.size
    }
    val entityB = Blocking.entityBlocks(entities, cfg)
    assert(shuffles(entityB) == 1, entityB.queryExecution.executedPlan.toString)
    entityB.cache().count()
    val mentionB = Blocking.mentionBlocks(prep, cfg)
    assert(shuffles(mentionB) == 1, mentionB.queryExecution.executedPlan.toString)
    // the dictionary side of the edge filter broadcasts, so every shuffle
    // left in the plan belongs to the candidate pairs
    val edges = Scorer.entityDupEdges(entityB, entities, cfg)
    assert(shuffles(edges) <= 2, edges.queryExecution.executedPlan.toString)
    Seq(entityB, prep, entities).foreach(_.unpersist())
  }
}
