package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftConfig, TextSim}

/** Blocking-key candidate generation — the engine's analog of the
  * reference's cheap FAISS retrieval stage before the expensive 4-way scorer
  * (/root/reference/services/vectorization.py:627-628; SURVEY.md J1, §4).
  *
  * Keys per surface: the full lowercased surface (guarantees recall for
  * exact-surface mentions) plus its char n-grams. Scale controls:
  *  - n-grams whose entity-side document frequency exceeds cfg.blockMaxDf
  *    are dropped from the index (all cost, no selectivity) — the
  *    full-surface key keeps recall;
  *  - hot keys on the mention side (e.g. one entity mentioned in 40% of
  *    turns) are SALTED: the entity side of the join is replicated
  *    cfg.saltBuckets ways for those keys, the mention side picks a salt
  *    from a hash of mention_id, spreading one hot key over R reducers.
  *    AQE skew-join remains on as backstop.
  */
object Blocking {

  def blockKeysUdf(cfg: GraftConfig) = udf { surface: String =>
    if (surface == null) Array.empty[String]
    else (surface.toLowerCase.trim +: TextSim.blockingGrams(surface, cfg.blockNgramSize)).distinct
  }

  def lshKeysUdf(cfg: GraftConfig) = udf { emb: Seq[Float] =>
    if (emb == null || emb.isEmpty) Array.empty[String]
    else TextSim.lshKeys(emb.toArray, cfg.lshTables, cfg.lshBits)
  }

  /** Distinct lowercased word tokens of a scoring text, prefixed so the
    * key space never collides with char n-grams. mentionTokens (CJK-aware,
    * Latin-identical): zh scoring texts contribute per-character keys —
    * high-df chars fall to the df cap, rare chars keep the deterministic
    * recall floor the channel exists for. */
  val ctxTokensUdf = udf { x1: String =>
    if (x1 == null) Array.empty[String]
    else TextSim.mentionTokens(x1.toLowerCase).distinct.map("w:" + _)
  }

  /** (key, entity_id, channel) blocking index over four channels:
    *  - "lex": full surface + char n-grams of name/aliases (lexical recall);
    *  - "type": "t:<type>" (the reference's type branch scores every
    *    same-type entity, disambiguation.py:175-197);
    *  - "lsh": embedding sign-LSH buckets (the FAISS-retrieval analog);
    *  - "ctx": word tokens of the scoring text (X1). This channel is the
    *    DETERMINISTIC recall floor for context-similar pairs with zero name
    *    overlap: any pair reaching the decision band without name
    *    similarity needs TF-cosine >= ~0.5 (the weight algebra: final >=
    *    lowThreshold with fuzz=lev=0 forces ce >= (low - bgeW)/ceW), which
    *    means multiple shared tokens — at least one of which is rare enough
    *    to survive the df cap. Sign-LSH alone is probabilistic at these
    *    cosines (recall ~50% per pair at 4x12); the token channel closes
    *    that hole exactly (measured: 17/13312 forced-tier decision
    *    divergences -> 0, app.ChannelRecall).
    *
    * ONE key-grouped pass: all channels' (channel, key, id) rows are
    * unioned and aggregated by (channel, key) into the key's id set and row
    * count — one exchange for the whole index — and every cap is decided
    * from that aggregate:
    *  - lex, ctx: at most cfg.blockMaxDf distinct ids (more is all cost, no
    *    selectivity); full-surface rows are exempt, which keeps
    *    exact-surface recall;
    *  - type: at most min(typeBlockMaxEntities, blockJoinMaxDf) rows (the
    *    join drops keys above blockJoinMaxDf anyway; the cap keeps
    *    mega-types off the quadratic path);
    *  - lsh: uncapped.
    * The full surface has two spellings: blockKeysUdf's Java trim strips
    * every char <= U+0020 and its key counts toward df; the exempt row's
    * Spark trim strips only U+0020. Surfaces padded with tabs or newlines
    * get both keys.
    * The channel column is for recall ACCOUNTING (PipelineSpec's
    * per-channel breakdown); candidatePairs dedups pairs across channels.
    * `entities` must be EntityStore.prepare-d (has x1, emb). */
  def entityBlocks(entities: DataFrame, cfg: GraftConfig): DataFrame = {
    def rows(df: DataFrame, channel: String, key: Column, exempt: Boolean = false) =
      df.select(lit(channel).as("channel"), key.as("key"), col("id"), lit(exempt).as("exempt"))
    val surfaces = entities
      .select(col("id"), explode(concat(array(col("name")), col("aliases"))).as("surface"))
    val typeCap = math.min(cfg.typeBlockMaxEntities, cfg.blockJoinMaxDf)
    val keep = when(col("channel") === "type", col("n") <= typeCap)
      .when(col("channel") === "lsh", lit(true))
      .otherwise(size(col("ids")) <= cfg.blockMaxDf)
    Seq(
      rows(surfaces, "lex", explode(blockKeysUdf(cfg)(col("surface")))),
      rows(surfaces, "lex", lower(trim(col("surface"))), exempt = true),
      rows(entities.filter(col("entity_type").isNotNull), "type",
        concat(lit("t:"), col("entity_type"))),
      rows(entities, "lsh", explode(lshKeysUdf(cfg)(col("emb")))),
      rows(entities, "ctx", explode(ctxTokensUdf(col("x1"))))
    ).reduce(_ union _)
      .groupBy("channel", "key")
      .agg(
        collect_set(when(!col("exempt"), col("id"))).as("ids"),
        collect_set(when(col("exempt"), col("id"))).as("exempt_ids"),
        count(lit(1)).as("n"))
      .select(col("key"),
        explode(when(keep, array_union(col("ids"), col("exempt_ids")))
          .otherwise(col("exempt_ids"))).as("id"),
        col("channel"))
  }

  /** (mention_id, key, channel): the same four channels on the mention side,
    * uncapped, with the same key spellings; one distinct over their union.
    * `mentionsPrep` must carry surface, mention_type, m_x1 and m_emb
    * (Scorer.prepareMentions output). */
  def mentionBlocks(mentionsPrep: DataFrame, cfg: GraftConfig): DataFrame = {
    def rows(df: DataFrame, channel: String, key: Column) =
      df.select(col("mention_id"), key.as("key"), lit(channel).as("channel"))
    Seq(
      rows(mentionsPrep, "lex", explode(blockKeysUdf(cfg)(col("surface")))),
      rows(mentionsPrep.filter(col("mention_type").isNotNull), "type",
        concat(lit("t:"), col("mention_type"))),
      rows(mentionsPrep, "lsh", explode(lshKeysUdf(cfg)(col("m_emb")))),
      rows(mentionsPrep, "ctx", explode(ctxTokensUdf(col("m_x1"))))
    ).reduce(_ union _).distinct()
  }

  /** Distinct (mention_id, entity_id) candidate pairs via the key equi-join,
    * with hot-key salting. `hotKeys` comes from a mention-side frequency
    * pre-pass; pass empty to disable salting.
    *
    * This is the ACCOUNTING surface (per-channel recall breakdowns, P/R
    * referees, specs). The pipeline itself consumes `candidateSets`, which
    * skips the explicit distinct: a whole pair-multiset exchange + sort
    * removed (the round-4 4M-turn spill driver). */
  def candidatePairs(
      spark: SparkSession,
      mentionB: DataFrame,
      entityB0: DataFrame,
      cfg: GraftConfig,
      hotKeys: Set[String],
      skippedKeys: Option[org.apache.spark.util.LongAccumulator] = None,
      numPartitions: Option[Int] = None): DataFrame = {
    val raw = rawPairs(spark, mentionB, entityB0, cfg, hotKeys, skippedKeys, numPartitions)
    def byKey(df: DataFrame, cols: Column*): DataFrame =
      numPartitions.map(n => df.repartition(n, cols: _*)).getOrElse(df)
    byKey(raw, col("mention_id"), col("id")).distinct()
  }

  /** Per-mention candidate SETS — the pipeline's pair surface: the key-join
    * fan-out flows straight into ONE mention_id-keyed aggregation whose
    * map-side partial collect_set dedups pairs before they hit the wire.
    * Equivalent to candidatePairs + groupBy/collect_list (the scorer is
    * order-insensitive: it converts cands to a Set and argmaxes with a
    * deterministic id tie-break), but with one fewer pair-scale shuffle AND
    * no pair-multiset sort: at 4M turns the removed exchange was tens of GB
    * of spill (BASELINE.md single-node envelope — aggregate scratch disk
    * was the only resource left failing). */
  def candidateSets(
      spark: SparkSession,
      mentionB: DataFrame,
      entityB0: DataFrame,
      cfg: GraftConfig,
      hotKeys: Set[String],
      skippedKeys: Option[org.apache.spark.util.LongAccumulator] = None,
      numPartitions: Option[Int] = None): DataFrame = {
    val raw = rawPairs(spark, mentionB, entityB0, cfg, hotKeys, skippedKeys, numPartitions)
    def byKey(df: DataFrame, cols: Column*): DataFrame =
      numPartitions.map(n => df.repartition(n, cols: _*)).getOrElse(df)
    byKey(raw, col("mention_id"))
      .groupBy("mention_id").agg(collect_set(col("id")).as("cands"))
  }

  /** Un-deduped (mention_id, id) key-join fan-out shared by the two pair
    * surfaces above (join-input widths pinned, fan-out caps + salting
    * applied; NO final repartition/distinct — the caller chooses its
    * aggregation grain). */
  private def rawPairs(
      spark: SparkSession,
      mentionB: DataFrame,
      entityB0: DataFrame,
      cfg: GraftConfig,
      hotKeys: Set[String],
      skippedKeys: Option[org.apache.spark.util.LongAccumulator] = None,
      numPartitions: Option[Int] = None): DataFrame = {
    // numPartitions pins the width of EVERY shuffle in the pair DAG (the
    // key join's reduce side holds the mention x entity fan-out — tens of
    // millions of pairs per 1M mentions — and feeds the distinct's sorter;
    // at partitions=cores those slices blew the 8g heap where the SAME run
    // at 160 completed, BASELINE.md corpus axis). Explicit repartition by
    // the operation's own clustering columns replaces the exchange
    // EnsureRequirements would insert anyway — same shuffle count, derived
    // width, AQE never coalesces below it.
    def byKey(df: DataFrame, cols: Column*): DataFrame =
      numPartitions.map(n => df.repartition(n, cols: _*)).getOrElse(df)
    // entity-side join fan-out cap (cfg.blockJoinMaxDf): a key shared by
    // hundreds+ of entities turns the equi-join quadratic-shaped
    // (|mentions with key| x df pairs) for near-zero selectivity; dropped
    // keys are counted ONCE PER KEY in "graft.blocking.skipped_join_keys"
    // (no silent caps; the UDF runs on the key-level aggregate, so the
    // count is keys — stage retries can still re-add, the standard Spark
    // accumulator-in-transformation caveat). The cap applies to every
    // channel, including type keys below cfg.typeBlockMaxEntities and
    // full-surface keys above blockJoinMaxDf collisions — see the knob docs
    // in GraftConfig; the recall effect is measured by the mega-dict P/R
    // referee (0.998-1.0 precision, >= 0.99998 recall at 15k-102k entities).
    val skipped = skippedKeys.getOrElse(
      spark.sparkContext.longAccumulator("graft.blocking.skipped_join_keys"))
    // asNondeterministic: tells the optimizer never to duplicate/re-evaluate
    // this call within a plan (counts are UI diagnostics, never gated on;
    // recomputation across actions can still re-add — the standard caveat)
    val keepKey = udf((kdf: Long) => {
      if (kdf > cfg.blockJoinMaxDf) { skipped.add(1L); false } else true
    }).asNondeterministic()
    val keptKeys = entityB0.groupBy("key").agg(count(lit(1)).as("kdf"))
      .filter(keepKey(col("kdf"))).select("key")
    val entityB = entityB0.join(keptKeys, "key")
      .select(entityB0.columns.toIndexedSeq.map(col): _*)
    if (hotKeys.isEmpty) {
      byKey(mentionB, col("key")).join(byKey(entityB, col("key")), "key")
        .select("mention_id", "id")
    } else {
      val hot = spark.sparkContext.broadcast(hotKeys)
      val isHot = udf((k: String) => hot.value.contains(k))
      // salt replication must scale with the cluster, not a constant: a hot
      // key salted R ways can never exceed R-core parallelism, so R follows
      // defaultParallelism (= executor cores on a real cluster)
      val r = math.max(cfg.saltBuckets, spark.sparkContext.defaultParallelism)
      val mSalted = mentionB.withColumn("salt",
        when(isHot(col("key")), pmod(xxhash64(col("mention_id")), lit(r))).otherwise(lit(0L)))
      val allSalts = typedLit[Seq[Long]](0L until r.toLong)
      val eSalted = entityB.withColumn("salt",
        explode(when(isHot(col("key")), allSalts).otherwise(typedLit[Seq[Long]](Seq(0L)))))
      byKey(mSalted, col("key"), col("salt"))
        .join(byKey(eSalted, col("key"), col("salt")), Seq("key", "salt"))
        .select("mention_id", "id")
    }
  }

  /** Mention-side hot-key sketch: keys occurring more than `threshold`
    * times. A cheap count pre-pass (map-side partial agg). */
  def hotKeySketch(mentionB: DataFrame, threshold: Long): Set[String] = {
    import mentionB.sparkSession.implicits._
    mentionB.groupBy("key").agg(count(lit(1)).as("n"))
      .filter(col("n") > threshold)
      .select($"key".as[String])
      .collect().toSet
  }
}
