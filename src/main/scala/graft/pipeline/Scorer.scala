package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GraftConfig, Scoring, TextSim}

/** Candidate-pair scoring + per-mention decision.
  *
  * One fused UDF computes all five scores in a single pass over the alias
  * cross-product (reference scatters this across four methods,
  * /root/reference/services/disambiguation.py:259-379). Top-1 per mention =
  * window row_number over (final desc, entity id asc) — the reference's
  * candidates.sort + [0] (disambiguation.py:146-149) with a deterministic
  * tiebreak. Decision thresholds are plain when/otherwise column logic.
  *
  * Hot-path design: everything derivable from ONE side (embedding, TF
  * vector of the scoring text) is computed once per mention / per entity
  * and carried as columns; the per-pair UDF only does merge-join TF cosine,
  * embedding cosine, and the short name/alias edit-distance cross-products.
  * Each side is packed into a single struct column so the pair scorer is a
  * 2-arg Row UDF (beyond Spark's 10-arg scalar UDF limit otherwise).
  */
object Scorer {

  /** Struct column packing one scoring side; field order is the contract
    * with `sideFromRow`. */
  private def sideStruct(
      name: Column, aliases: Column, stype: Column,
      tfTokens: Column, tfCounts: Column, tfNorm: Column, emb: Column): Column =
    struct(
      name.as("name"), aliases.as("aliases"), stype.as("stype"),
      tfTokens.as("tf_tokens"), tfCounts.as("tf_counts"), tfNorm.as("tf_norm"),
      emb.as("emb"))

  private def sideFromRow(r: Row): (String, Seq[String], Option[String], TextSim.TfVec, Array[Float]) = {
    val aliases = r.getSeq[String](1)
    val tf = TextSim.TfVec(
      r.getSeq[Long](3).toArray, r.getSeq[Int](4).toArray, r.getDouble(5))
    val emb = r.getSeq[Float](6)
    (r.getString(0),
      if (aliases == null) Nil else aliases,
      Option(r.getString(2)),
      tf,
      if (emb == null) Array.empty[Float] else emb.toArray)
  }

  /** struct(bge, ce, fuzz, lev, final) over two packed sides. */
  def pairScoreUdf(cfg: GraftConfig) = udf { (a: Row, b: Row) =>
    val (nameA, aliasesA, typeA, tfA, embA) = sideFromRow(a)
    val (nameB, aliasesB, typeB, tfB, embB) = sideFromRow(b)
    Scoring.pairScorePrepped(
      nameA, aliasesA, typeA, tfA, embA,
      nameB, aliasesB, typeB, tfB, embB, cfg)
  }

  private val tfUdf = udf((x: String) => {
    val tf = TextSim.tfVector(x)
    (tf.tokens, tf.counts, tf.norm)
  })

  /** Adds x1-derived columns tf_tokens/tf_counts/tf_norm via ONE
    * struct-returning UDF evaluation per row (a UDF per field would
    * tokenize+sort the text three times). */
  private def withTf(df: DataFrame, x1: Column): DataFrame =
    df.withColumn("__tf", tfUdf(x1))
      .withColumn("tf_tokens", col("__tf._1"))
      .withColumn("tf_counts", col("__tf._2"))
      .withColumn("tf_norm", col("__tf._3"))
      .drop("__tf")

  /** mention df columns: mention_id, surface, mention_type, context.
    * Derived here: m_x1 (the mention's scoring text: surface + context,
    * mentions carry no aliases/attributes), m_emb, and the TF vector. */
  def prepareMentions(mentions: DataFrame, cfg: GraftConfig): DataFrame = {
    val dim = cfg.embeddingDim
    val x1 = udf((surface: String, context: String) =>
      Scoring.scoringText(surface, Nil, Option(context)))
    val emb = udf((x: String) => TextSim.embed(x, dim))
    withTf(
      mentions.withColumn("m_x1", x1(col("surface"), col("context"))),
      col("m_x1"))
      .withColumn("m_emb", emb(col("m_x1")))
  }

  /** Columns a prepared-mentions frame must carry into scorePairs /
    * decideBest. conv_id/turn_idx/offset ride along so the decision stage
    * can project decisions WITHOUT re-joining the mentions table — in the
    * broadcast-sweep tier that join was the only exchange left between the
    * mentions scan and the decisions projection, and at transcript scale a
    * corpus-sized self-join shuffle is pure waste. */
  val mentionPrepCols: Seq[String] =
    Seq("mention_id", "conv_id", "turn_idx", "offset", "surface", "mention_type",
      "m_x1", "m_emb", "tf_tokens", "tf_counts", "tf_norm")

  /** Adds TF columns to an EntityStore.prepare-d entity frame. */
  def prepareEntities(entities: DataFrame): DataFrame = withTf(entities, col("x1"))

  /** Score all candidate pairs. `entities` must be EntityStore.prepare-d
    * (has x1, emb). broadcastEntities: hint when the dictionary fits on
    * executors (the common KG case — dictionaries are MBs, mentions are TBs). */
  def scorePairs(
      pairs: DataFrame,
      mentionsPrep: DataFrame,
      entities: DataFrame,
      cfg: GraftConfig,
      broadcastEntities: Boolean = true): DataFrame = {
    val ment = mentionsPrep.select(
      col("mention_id"), col("surface"),
      sideStruct(col("surface"), array().cast("array<string>"), col("mention_type"),
        col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("m_emb")).as("m_side"))
    val ent = prepareEntities(entities).select(
      col("id"),
      sideStruct(col("name"), col("aliases"), col("entity_type"),
        col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("emb")).as("e_side"))
    val entSide = if (broadcastEntities) broadcast(ent) else ent
    val score = pairScoreUdf(cfg)
    pairs
      .join(ment, "mention_id")
      .join(entSide, "id")
      .withColumn("s", score(col("m_side"), col("e_side")))
      .select(
        col("mention_id"), col("surface"), col("id").as("entity_id"),
        col("s.bge_score").as("bge_score"),
        col("s.cross_encoder_score").as("cross_encoder_score"),
        col("s.fuzz_score").as("fuzz_score"),
        col("s.levenshtein_score").as("levenshtein_score"),
        col("s.final_score").as("final_score"))
  }

  /** One scoring side, driver/broadcast-resident. The TF vector is wrapped
    * ONCE here — the sweep touches every (mention, entity) pair, so a
    * per-pair TfVec wrapper would be hundreds of millions of allocations
    * at corpus scale. etypeOpt likewise pre-lifted. */
  final case class EntSide(
      id: String, name: String, aliases: Seq[String], etype: String,
      tf: TextSim.TfVec, emb: Array[Float]) {
    val etypeOpt: Option[String] = Option(etype)
    // squared L2 norm hoisted out of the per-pair cosine (the sweep computes
    // one cosine per (mention, entity); the entity-side norm is invariant)
    val embSq: Double = TextSim.sqNorm(emb)
  }

  /** Dictionary as a broadcastable prepped-side array, SORTED BY ID so every
    * sweep below is deterministic (dictionary-scale: MBs, per north_star
    * "broadcast dictionaries"). */
  def entitySides(entities: DataFrame): Array[EntSide] =
    prepareEntities(entities).select(
        col("id"), col("name"), col("aliases"), col("entity_type"),
        col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("emb"))
      .collect().map { r =>
        EntSide(
          r.getString(0),
          r.getString(1),
          Option(r.getSeq[String](2)).getOrElse(Nil),
          r.getString(3),
          TextSim.TfVec(r.getSeq[Long](4).toArray, r.getSeq[Int](5).toArray, r.getDouble(6)),
          r.getSeq[Float](7).toArray)
      }.sortBy(_.id)

  /** Fused score-and-argmax, EXACT vs the brute-force oracle: per mention,
    * fully score the blocked candidates (they seed a high best quickly),
    * then sweep the remaining broadcast dictionary under a branch-and-bound
    * upper bound — fuzz and lev are both <= 1, so
    *   final <= (w_bge*bge + w_ce*ce + w_fuzz + w_lev) * typeMult
    * with bge/ce/typeMult computed exactly (they are the cheap components:
    * one dim-D dot product and one primitive TF merge-join). Only candidates
    * whose bound can still beat the current best pay the expensive
    * name/alias edit-distance cross-products, so the sweep costs O(|dict|)
    * cheap flops per mention and a handful of full scores — this IS the
    * reference's exact retrieval (FAISS IndexFlatIP scans every vector,
    * vectorization.py:516-519) rather than an approximation of it. The
    * blocked join remains the recall filter for beyond-broadcast
    * dictionaries, where the sweep is skipped (pass sweep=false).
    *
    * Candidate rows stay (mention_id, entity_id) ids-only, the fat mention
    * side is materialized once per mention instead of once per pair, and
    * the top-1 shuffle disappears (vs the row-per-pair join + window). */
  /** Index of id in the id-sorted sides array, or -1. */
  private def findById(dict: Array[EntSide], id: String): Int = {
    var lo = 0; var hi = dict.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = dict(mid).id.compareTo(id)
      if (c == 0) return mid
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  def bestCandidateUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[EntSide]],
      cfg: GraftConfig,
      sweep: Boolean = true) = udf { (m: Row, cands: Seq[String]) =>
    val (surface, _, mType, tfM, embM) = sideFromRow(m)
    val dict = bc.value
    // mention-side squared norm, computed once per mention: with it and the
    // entity-side embSq, each pair's cosine is one dot loop instead of three
    // fused multiply-adds per element — bit-identical (same ascending sums,
    // same dot/sqrt(na*nb) expression) whenever the dims match, which the
    // fixed embeddingDim guarantees; the guard keeps odd-length inputs on
    // the original spelling
    val mSq = TextSim.sqNorm(embM)
    def bgeOf(e: EntSide): Double =
      if (embM.length == e.emb.length) TextSim.cosinePrenorm(embM, e.emb, mSq, e.embSq)
      else TextSim.cosine(embM, e.emb)
    var bestId: String = null
    var best: graft.model.EntityScore = null
    def consider(e: EntSide): Unit = {
      val s = Scoring.pairScorePrepped(
        surface, Nil, mType, tfM, embM,
        e.name, e.aliases, e.etypeOpt, e.tf, e.emb, cfg)
      if (best == null || s.final_score > best.final_score ||
          (s.final_score == best.final_score && e.id < bestId)) {
        best = s; bestId = e.id
      }
    }
    val candSet = if (cands == null) Set.empty[String] else cands.toSet
    val maxRest = cfg.fuzzWeight + cfg.levenshteinWeight
    if (candSet.nonEmpty) {
      // Bound-ordered candidate pass, same branch-and-bound rule as the
      // sweep below: the cheap exact components (embedding cosine, TF
      // cosine, type multiplier) cap the final score; only candidates whose
      // cap can still beat the current best pay the edit-distance
      // cross-products. The argmax (max final, tie -> min id) is
      // order-independent, so pruning is exact — this is what keeps the
      // blocked tier affordable when ctx/alias keys seed hundreds of
      // candidates per mention at mega-dictionary scale.
      val bounded = candSet.iterator.flatMap { id =>
        val i = findById(dict, id)
        if (i < 0) Iterator.empty
        else {
          val e = dict(i)
          val bge = bgeOf(e)
          val ce = TextSim.tfCosine(tfM, e.tf)
          val mult = Scoring.typeMultiplier(mType, e.etypeOpt, cfg)
          Iterator.single(
            ((cfg.bgeWeight * bge + cfg.crossEncoderWeight * ce + maxRest) * mult, i))
        }
      }.toArray
      // bound desc, id asc: once a bound falls below the running best no
      // later candidate can win (or tie with a smaller id)
      scala.util.Sorting.stableSort(bounded, (x: (Double, Int), y: (Double, Int)) =>
        x._1 > y._1 || (x._1 == y._1 && dict(x._2).id < dict(y._2).id))
      var k = 0
      var belowBest = false
      while (k < bounded.length && !belowBest) {
        val (b, i) = bounded(k)
        if (best == null || b > best.final_score ||
            (b == best.final_score && dict(i).id < bestId)) consider(dict(i))
        else if (b < best.final_score) belowBest = true
        k += 1
      }
    }
    if (sweep) {
      dict.foreach { e =>
        if (!candSet.contains(e.id)) {
          val bge = bgeOf(e)
          val ce = TextSim.tfCosine(tfM, e.tf)
          val mult = Scoring.typeMultiplier(mType, e.etypeOpt, cfg)
          val bound =
            (cfg.bgeWeight * bge + cfg.crossEncoderWeight * ce + maxRest) * mult
          if (best == null || bound > best.final_score ||
              (bound == best.final_score && e.id < bestId)) consider(e)
        }
      }
    }
    if (best == null) null
    else (bestId, best.bge_score, best.cross_encoder_score,
      best.fuzz_score, best.levenshtein_score, best.final_score)
  }

  /** Decide every mention via the broadcast scorer.
    *
    * `pairs`: Some((mention_id, id) ids-only blocked candidates) seeds the
    * scorer and — with sweep=false — bounds it (the beyond-broadcast scale
    * tier, recall gated by P/R tests). None = pure exact sweep: a MAP-ONLY
    * pass — mentionsPrep carries conv/turn/offset/surface through, so the
    * decisions projection needs NO join back to the mentions table: zero
    * exchanges between the mentions scan and the decisions output (the
    * plan-gated "map-only" claim), with no candidate shuffle and no hot
    * keys at all. The right plan whenever the dictionary is
    * broadcast-resident, since the bound-pruned sweep subsumes whatever a
    * blocking join would seed. */
  def decideBest(
      spark: SparkSession,
      mentionsPrep: DataFrame,
      pairs: Option[DataFrame],
      entities: DataFrame,
      cfg: GraftConfig,
      sweep: Boolean = true,
      numPartitions: Option[Int] = None): DataFrame = {
    val bc = spark.sparkContext.broadcast(entitySides(entities))
    def packSide(df: DataFrame, keepCands: Boolean = false): DataFrame = {
      val base = Seq(
        col("mention_id"), col("conv_id"), col("turn_idx"), col("offset"), col("surface"),
        sideStruct(col("surface"), array().cast("array<string>"), col("mention_type"),
          col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("m_emb")).as("m_side"))
      val cols = if (keepCands) base :+ col("cands") else base
      df.select(cols: _*)
    }
    // left join: a mention with no blocked candidates still gets the exact
    // bound-pruned dictionary sweep (empty-dictionary corpora fall through
    // to the create-with-confidence-1.0 branch below)
    val withCands = pairs match {
      case Some(p) =>
        // BLOCKED tier: the join SHIPS THE RAW TEXT, not the prepped side.
        // The tf arrays + embedding are ~3 KB per mention vs ~0.4 KB for
        // (surface, mention_type, m_x1) — at millions of mentions the fat
        // spelling's shuffle bytes and sorter pages were the single-node
        // envelope (BASELINE.md: 4M turns died on aggregate memory at 32
        // threads and on spill disk at 16). tf/embedding are pure functions
        // of m_x1, so they are re-derived AFTER the shuffle — one extra
        // ~10 µs map per mention buys a ~4x lighter exchange; values are
        // bit-identical (same code path as prepareMentions).
        // numPartitions pins the width on BOTH inputs (co-partitioned,
        // AQE never coalesces an explicit repartition-by-num).
        val skinny = mentionsPrep.select(
          col("mention_id"), col("conv_id"), col("turn_idx"), col("offset"),
          col("surface"), col("mention_type"), col("m_x1"))
        val ment = numPartitions match {
          case Some(n) => skinny.repartition(n, col("mention_id"))
          case None    => skinny
        }
        // pre-grouped (Blocking.candidateSets — the pipeline path: already
        // one cands array per mention, partitioned by mention_id at the
        // derived width) vs raw (mention_id, id) pairs from callers that
        // bring candidatePairs output; the scorer is order-insensitive
        // (cands -> Set), so the two spellings decide identically. The
        // dispatch is on the schema, so each shape is VALIDATED: a frame
        // that carries both spellings (or neither) is a caller bug that
        // must fail here, not silently join un-grouped rows downstream.
        val cands =
          if (p.columns.contains("cands")) {
            require(
              p.schema("cands").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
                !p.columns.contains("id"),
              s"pre-grouped pairs must be (mention_id, cands:array) with no raw id column, got ${p.schema.simpleString}")
            p
          } else {
            require(p.columns.contains("id"),
              s"pairs must be raw (mention_id, id) rows or pre-grouped (mention_id, cands), got ${p.schema.simpleString}")
            val p2 = numPartitions match {
              case Some(n) => p.repartition(n, col("mention_id"))
              case None    => p
            }
            p2.groupBy("mention_id").agg(collect_list(col("id")).as("cands"))
          }
        val joined = ment.join(cands, Seq("mention_id"), "left_outer")
        val emb = udf((x: String) => TextSim.embed(x, cfg.embeddingDim))
        packSide(
          withTf(joined, col("m_x1")).withColumn("m_emb", emb(col("m_x1"))),
          keepCands = true)
      case None =>
        // SWEEP tier: map-only, zero exchanges — the prepped side is already
        // on the mention row; re-deriving would be pure waste
        packSide(mentionsPrep).withColumn("cands", lit(null).cast("array<string>"))
    }
    val bestU = bestCandidateUdf(bc, cfg, sweep = sweep || pairs.isEmpty)
    // field access on a null struct yields null, so an empty-dictionary
    // sweep (b null) flows through as a null best_id row
    val best = withCands
      .withColumn("b", bestU(col("m_side"), col("cands")))
      .select(col("mention_id"), col("conv_id"), col("turn_idx"), col("offset"),
        col("surface"), col("b._1").as("best_id"),
        col("b._2").as("bge_score"), col("b._3").as("cross_encoder_score"),
        col("b._4").as("fuzz_score"), col("b._5").as("levenshtein_score"),
        col("b._6").as("final_score"))
    decideFromBest(best, cfg)
  }

  /** Threshold decisions projected over per-mention best rows (best_id null
    * for candidate-less mentions: create-with-confidence-1.0, reference
    * disambiguation.py:126-135). Pure projection — no join, no shuffle.
    * `best_id` is retained in the output (the pre-decision argmax entity):
    * the forced-decision surface re-derives the midpoint branch from it. */
  def decideFromBest(best: DataFrame, cfg: GraftConfig): DataFrame = {
    val createdId = udf((surface: String) => Scoring.createdId(surface))
    best.withColumn("decision",
        when(col("best_id").isNull, lit(graft.model.Decisions.Create))
          .when(col("final_score") >= cfg.highThreshold, lit(graft.model.Decisions.Merge))
          .when(col("final_score") <= cfg.lowThreshold, lit(graft.model.Decisions.Create))
          .otherwise(
            if (cfg.forceDecision)
              when(col("final_score") > cfg.midThreshold, lit(graft.model.Decisions.Merge))
                .otherwise(lit(graft.model.Decisions.Create))
            else lit(graft.model.Decisions.Ambiguous)))
      .withColumn("match_id",
        when(col("decision") === graft.model.Decisions.Merge, col("best_id")))
      .withColumn("resolved_id",
        when(col("decision") === graft.model.Decisions.Merge, col("best_id"))
          .when(col("decision") === graft.model.Decisions.Create, createdId(col("surface"))))
      .withColumn("bge_score", coalesce(col("bge_score"), lit(0.0)))
      .withColumn("cross_encoder_score", coalesce(col("cross_encoder_score"), lit(0.0)))
      .withColumn("fuzz_score", coalesce(col("fuzz_score"), lit(0.0)))
      .withColumn("levenshtein_score", coalesce(col("levenshtein_score"), lit(0.0)))
      .withColumn("final_score", coalesce(col("final_score"), lit(1.0)))
  }

  /** Per-mention top-k candidates via the reference retrieval semantics
    * (core.Candidates.matchCandidates: vector over-fetch + F2 type-branch
    * cosine floor + F4 first-wins name dedup on the merge path + truncate +
    * 1-based merge-order rank) against the broadcast prepped dictionary.
    * One narrow map over
    * mentions — no pair shuffle, no window — replacing the row-per-pair
    * scorePairs+topK path that copied the fat mention struct once per pair. */
  def topKBroadcast(
      spark: SparkSession,
      mentionsPrep: DataFrame,
      dict: IndexedSeq[graft.core.Candidates.PreppedEntity],
      cfg: GraftConfig): DataFrame = {
    val bc = spark.sparkContext.broadcast(dict)
    val u = udf { m: Row =>
      val (surface, _, mType, tfM, embM) = sideFromRow(m)
      graft.core.Candidates.matchCandidates(surface, Nil, mType, tfM, embM, bc.value, cfg)
        .map(r => (r.entityId, r.rank, r.score.final_score))
    }
    mentionsPrep.select(
        col("mention_id"),
        sideStruct(col("surface"), array().cast("array<string>"), col("mention_type"),
          col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("m_emb")).as("m_side"))
      .withColumn("c", explode(u(col("m_side"))))
      .select(col("mention_id"), col("c._1").as("entity_id"),
        col("c._2").as("rank"), col("c._3").as("final_score"))
  }

  /** Per-mention top-k candidates with 1-based rank over pre-scored pairs
    * (the blocked-join scale path for beyond-broadcast dictionaries). */
  def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("mention_id")
      .orderBy(col("final_score").desc, col("entity_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Dictionary self-dedup edges: blocked entity pairs scoring >= HIGH.
    *
    * Candidate pairs: ONE key-grouped pass over the entity index gives each
    * non-null key's sorted id set and row count kdf; keys with
    * 1 < kdf <= cfg.blockJoinMaxDf (the mention-entity join's ceiling, so
    * one knob governs both) emit every src < dst pair, then one distinct:
    * two exchanges. A key shared by hundreds of entities adds df^2/2 pairs
    * for almost no signal: a same_as pair at HIGH is also held by rarer
    * surface/n-gram keys (name similarity) or ctx/LSH keys (near-identical
    * text). Keys over the ceiling are counted ONCE PER KEY in the named
    * accumulator "graft.dupedges.skipped_keys" (no silent caps; stage
    * retries re-add); app.MegaDictBench's triple P/R referee measures the
    * recall effect — 1.0000/1.0000 at a 15k-entity dictionary.
    *
    * Bound-then-score: the cheap exact components cap the final at
    * (w_bge*bge + w_ce*ce + w_fuzz + w_lev) * typeMult (fuzz/lev <= 1), so a
    * pair whose cap is below HIGH can never be a same_as edge — in
    * particular every type-MISMATCHED pair caps at 0.1 < HIGH. The expensive
    * alias-cross-product edit distances run only on survivors. At
    * mega-dictionary scale (alias surfaces colliding tens-deep, e.g.
    * abbreviation keys) the blocked pairs are dominated by cross-type and
    * low-cosine pairs, and this bound is what keeps the components stage
    * from being the pipeline's top cost (measured 34s -> sub-second wall at
    * a 15k-entity dictionary). Exact: bound >= final always. */
  def entityDupEdges(entityB: DataFrame, entities: DataFrame, cfg: GraftConfig): DataFrame = {
    val skipped = entityB.sparkSession.sparkContext
      .longAccumulator("graft.dupedges.skipped_keys")
    val keepKey = udf((kdf: Long) => {
      if (kdf > cfg.blockJoinMaxDf) { skipped.add(1L); false } else kdf > 1
    }).asNondeterministic()
    // ids arrive sorted by Spark's string order, so i < j is src < dst
    val ordered = udf((ids: Seq[String]) =>
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j)))
    val pairs = entityB.filter(col("key").isNotNull)
      .groupBy("key")
      .agg(count(lit(1)).as("kdf"), sort_array(collect_set(col("id"))).as("ids"))
      .filter(keepKey(col("kdf")))
      .select(explode(ordered(col("ids"))).as("p"))
      .select(col("p._1").as("src"), col("p._2").as("dst"))
      .distinct()
    val ent = prepareEntities(entities).select(
      col("id"),
      sideStruct(col("name"), col("aliases"), col("entity_type"),
        col("tf_tokens"), col("tf_counts"), col("tf_norm"), col("emb")).as("side"))
    val isEdge = udf { (x: Row, y: Row) =>
      val (nameA, aliasesA, typeA, tfA, embA) = sideFromRow(x)
      val (nameB, aliasesB, typeB, tfB, embB) = sideFromRow(y)
      val mult = Scoring.typeMultiplier(typeA, typeB, cfg)
      val bound = (cfg.bgeWeight * TextSim.cosine(embA, embB) +
        cfg.crossEncoderWeight * TextSim.tfCosine(tfA, tfB) +
        cfg.fuzzWeight + cfg.levenshteinWeight) * mult
      bound >= cfg.highThreshold && Scoring.pairScorePrepped(
        nameA, aliasesA, typeA, tfA, embA,
        nameB, aliasesB, typeB, tfB, embB, cfg).final_score >= cfg.highThreshold
    }
    pairs
      .join(broadcast(ent.select(col("id").as("src"), col("side").as("a_side"))), "src")
      .join(broadcast(ent.select(col("id").as("dst"), col("side").as("b_side"))), "dst")
      .filter(isEdge(col("a_side"), col("b_side")))
      .select("src", "dst")
  }
}
