package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-hop read queries over the triple store — the traversals one step
  * beyond the reference's 1-hop neighborhood read (neo4j_database.py's
  * single-relation expansions; here as relational plans over the (subj,
  * pred, obj) frame, which is how a Spark-native KG serves them at 100 TB:
  * Cypher hops become self-joins whose join sides are pred-partition-pruned
  * scans, broadcast when dictionary-sized).
  */
object GraphOps {

  /** Iterations between the PageRank loops' lineage-severing checkpoints. */
  private val PrCheckpointEvery = 4

  /** Co-mention pairs: entities mentioned in the same transcript turn — a
    * 2-hop traversal through the turn hub node (entity <- turn -> entity),
    * the edge-induction step entity-linking pipelines feed into co-occurrence
    * graphs. Self-join of the `mentions` edge list on the turn id with a
    * canonical a < b orientation; the shuffle key is the TURN, so the pair
    * blow-up per turn is bounded by mentions-per-turn squared (single-digit
    * in transcripts — the hub bound), never corpus-scale. Returns
    * (entity_a, entity_b, n_turns) with n_turns the co-mention support. */
  def coMentions(triples: DataFrame): DataFrame = {
    val m = triples.filter(col("pred") === "mentions")
      .select(col("subj").as("turn"), col("obj").as("ent"))
    m.as("a").join(m.as("b"),
        col("a.turn") === col("b.turn") && col("a.ent") < col("b.ent"))
      .groupBy(col("a.ent").as("entity_a"), col("b.ent").as("entity_b"))
      .agg(count(lit(1)).as("n_turns"))
  }

  /** Co-mention LIFT: exact integer association strength for every
    * co-mention pair — `lift = P(a,b) / (P(a)·P(b))` over turns, emitted as
    * parts-per-million computed entirely in int64:
    *
    *   lift_ppm = (c_ab * n_turns * 1000000) div (c_a * c_b)
    *
    * Support counts alone rank hub entities first; lift corrects for the
    * marginals, surfacing pairs that co-occur MORE than their individual
    * frequencies predict — the statistical edge-weighting step between raw
    * co-occurrence and a weighted KG edge. Float PMI (a log of this ratio,
    * monotone in it) can never be hash-gated across engines; the integer
    * ppm spelling is exact and order-isomorphic to PMI for ranking.
    *
    * Plan: `pairs` (the co-mention frame — bounded by mentions-per-turn²,
    * never corpus-scale) joins two BROADCAST dictionary-sized marginal
    * frames and one broadcast single-row total; no new shuffle beyond the
    * marginal aggregate. Arithmetic is ANSI int64 — an overflow is LOUD,
    * and the bound is c_ab·n_turns·1e6 ≤ n_turns²·1e6, safe to ~3M turns
    * per corpus slice; beyond that, compute lift per time/shard slice (it
    * is a ratio — scale-invariant under uniform slicing). */
  def comentionLift(triples: DataFrame, pairs: DataFrame): DataFrame = {
    val m = triples.filter(col("pred") === "mentions")
      .select(col("subj").as("turn"), col("obj").as("ent"))
    // the per-entity marginal feeds BOTH broadcast sides below — left lazy,
    // the mentions-scale aggregate ran twice per call. One eager
    // checkpoint (entity-dictionary-scale rows, bounded) computes it once
    val c = m.groupBy("ent").agg(count(lit(1)).as("c")).localCheckpoint(true)
    val n = m.select(countDistinct(col("turn")).as("n_turns"))
    pairs.withColumnRenamed("n_turns", "c_ab")
      .join(broadcast(c.select(col("ent").as("entity_a"), col("c").as("c_a"))), "entity_a")
      .join(broadcast(c.select(col("ent").as("entity_b"), col("c").as("c_b"))), "entity_b")
      .crossJoin(broadcast(n))
      .withColumn("lift_ppm", expr("(c_ab * n_turns * 1000000) div (c_a * c_b)"))
      .select("entity_a", "entity_b", "c_ab", "c_a", "c_b", "n_turns", "lift_ppm")
  }

  /** Turn -> entity -> type: 2-hop resolution of every mention edge through
    * the entity's `type` edge, aggregated to per-type mention volume. The
    * type side is dictionary-sized (one edge per known entity), so it
    * BROADCASTS — the mentions side never moves for the join; the only
    * exchange is the final per-type aggregate (partial map-side combine
    * makes it |types| rows). Mentions of created (non-dictionary) entities
    * have no type edge and drop out — inner-join semantics, the "resolved
    * against the ontology" read. */
  def twoHopTypes(triples: DataFrame): DataFrame = {
    val m = triples.filter(col("pred") === "mentions")
      .select(col("subj").as("turn"), col("obj").as("ent"))
    val t = triples.filter(col("pred") === "type")
      .select(col("subj").as("ent"), col("obj").as("entity_type"))
    m.join(broadcast(t), "ent")
      .groupBy("entity_type")
      .agg(
        count(lit(1)).as("n_mentions"),
        countDistinct(col("turn")).as("n_turns"))
  }

  /** Directed co-mention edge list (both orientations of every undirected
    * co-mention pair): the symmetric graph pageRankFp and other iterative
    * algorithms run on. Distinct (src, dst) — support counts live in
    * `coMentions`; the traversal layer is unweighted. */
  def comentionEdges(triples: DataFrame): DataFrame = {
    val m = triples.filter(col("pred") === "mentions")
      .select(col("subj").as("turn"), col("obj").as("ent"))
    m.as("a").join(m.as("b"),
        col("a.turn") === col("b.turn") && col("a.ent") =!= col("b.ent"))
      .select(col("a.ent").as("src"), col("b.ent").as("dst"))
      .distinct()
  }

  /** Entity-pair similarity by co-mention NEIGHBORHOOD overlap: jaccard of
    * the two entities' neighbor sets, for pairs sharing at least one
    * neighbor — the "related entities" read one hop beyond direct
    * co-occurrence (two drugs never co-mentioned but prescribed alongside
    * the same diseases). Node similarity IS a set-similarity join, so this
    * delegates to the dedup layer's `jaccardPairs` with (entity, neighbor)
    * standing in for (doc, shingle): same neighbor-blocked join, same
    * bigint-division bit-parity with the SQL twin. Hub neighbors play the
    * role hot shingles do there — at web scale, cap or df-filter them
    * exactly as `shingleSets(maxDf)` does (a neighbor shared by k entities
    * contributes k² blocked pairs). */
  def neighborSimilarity(und: DataFrame, tau: Double,
                         maxDegree: Option[Long] = None): DataFrame = {
    val nbrs0 = und.select(col("a").as("doc_id"), col("b").as("shingle"))
      .unionByName(und.select(col("b").as("doc_id"), col("a").as("shingle")))
    // the hub cap (opt-in, for web-scale graphs): a neighbor appearing in k
    // entities' sets contributes k² blocked pairs, so neighbors above
    // maxDegree are dropped FROM THE SETS — the identical df-cap semantics
    // (and window spelling) as Dedup.shingleSets(maxDf); an approximation
    // the caller names, reported sizes stay exact over the capped sets
    val nbrs = maxDegree.map { m =>
      nbrs0.withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
        .filter(col("df") <= m).drop("df")
    }.getOrElse(nbrs0)
    Dedup.jaccardPairs(nbrs, tau)
      .select(col("doc_a").as("entity_a"), col("doc_b").as("entity_b"), col("jaccard"))
  }

  /** Per-entity triangle counts over an undirected (a < b) edge list —
    * the clustering-structure read (how interlocked is an entity's
    * co-mention neighborhood). Degree-ordered counting, the standard
    * scale spelling: every edge is oriented from its lower-(deg, id)
    * endpoint to the higher one, wedges are built only among each node's
    * out-neighbors, and a wedge closes iff its (lower, higher) pair is
    * itself an oriented edge. The orientation bounds per-node out-degree
    * by O(sqrt(edges)) on any graph (arboricity bound), so the wedge
    * self-join never explodes on hub nodes the way a naive
    * neighbors-of-neighbors join does — the difference between feasible
    * and not at web scale. Output: (ent, n_triangles), one row per entity
    * that closes at least one triangle; the set of triangles (and so every
    * count) is independent of the orientation, which is why the DuckDB
    * twin can use plain id-ordered a<b<c enumeration. */
  /** Degree-ordered orientation of an undirected (a < b) edge list:
    * (src, dst, deg_dst) with src the lower-(deg, id) endpoint — the
    * invariant that bounds per-node out-degree by O(sqrt(edges)) and so
    * wedge enumeration by arboricity. Exposed so scale harnesses can
    * account the wedge-join row count the bound predicts
    * (Σ_src C(outdeg(src), 2)) against the measured wall. */
  def orientEdges(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("ent"))
      .unionByName(und.select(col("b").as("ent")))
      .groupBy("ent").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): src = lower endpoint; carry the dst's rank so
    // wedge endpoints can be ordered without re-joining degrees
    val withDeg = und
      .join(deg.select(col("ent").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("ent").as("b"), col("deg").as("deg_b")), "b")
    val aLower = (col("deg_a") < col("deg_b")) ||
      (col("deg_a") === col("deg_b") && col("a") < col("b"))
    withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"),
      when(aLower, col("deg_b")).otherwise(col("deg_a")).as("deg_dst"))
  }

  def triangleCounts(und: DataFrame): DataFrame = {
    import graft.pipeline.ConnectedComponents.releaseResult
    // the oriented edge list feeds BOTH wedge sides and the closing join —
    // left lazy, the degree aggregate + orientation joins ran three times
    // per call (edge-scale each). One eager checkpoint computes it once;
    // its blocks are freed once the (node-scale) counts are materialized,
    // so the operator is eager like kCore/bfsDistances
    val oriented = orientEdges(und).localCheckpoint(true)
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("deg_dst").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("deg_dst").as("dw"))
    val wedges = e1.join(e2, "src")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val triangles = wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select(col("src").as("x"), col("v").as("y"), col("w").as("z"))
    val out = triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("ent"))
      .groupBy("ent").agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(true)
    releaseResult(oriented)
    out
  }

  /** PageRank in 64-bit FIXED-POINT arithmetic — every operation is an
    * int64 multiply / integer division / sum, so the result is bit-exact
    * on ANY engine, any partitioning, any addition order (float PageRank
    * differs in the last ulps between engines because double addition is
    * not associative; an integer sum is). Ranks carry `scale` units of
    * probability mass (default 1e12 — 12 significant digits, and the
    * overflow headroom is wide: total mass is ~scale, so the worst
    * 85×sum term stays below 1e14 « 2^63). Damping 0.85 and teleport
    * 0.15/N are exact integer spellings:
    *
    *   r0(v)   = scale div N
    *   tele    = (15 * (scale div N)) div 100
    *   r_k+1(v)= tele + (85 * Σ_{u→v} (r_k(u) div deg(u))) div 100
    *
    * `edges` must be a DIRECTED edge list where every node appears as BOTH
    * src and dst (symmetric graphs — comentionEdges — satisfy this
    * trivially): src-side guarantees no dangling mass, dst-side guarantees
    * every node's rank survives the per-iteration aggregate. Truncation is
    * the only mass leak (≤ deg ulps per node per round, bounded and
    * deterministic). Fixed `iterations` (not convergence-
    * tested): deterministic cost, and the K-step rank is itself a
    * well-defined centrality. Each iteration is ONE join of the edge list
    * with the (node-sized) rank frame plus one dst-keyed aggregate — at
    * 100 TB the edge list partitioning is reused across iterations and
    * the rank frame is the only thing that changes. Lineage is severed
    * every PrCheckpointEvery rounds (localCheckpoint; same discipline as
    * ConnectedComponents — an unsevered K-iteration plan re-analyzes
    * exponentially on real pipeline inputs). */
  def pageRankFp(edges: DataFrame, iterations: Int,
                 scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // the degree aggregate is EDGE-SCALE and was re-run per reference (the
    // node count, the eDeg invariant join, the rank-init frame) — persist
    // it for the setup's lifetime; released after the loop returns
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val n = deg.count()
    require(n > 0, "pageRankFp: empty edge list")
    val r0 = scale / n
    // the LOOP INVARIANT, built once: (src, dst, deg) pre-partitioned on
    // src and checkpointed. Every iteration joins it with the node-sized
    // rank frame on src — the edge side never moves again (its
    // hashpartitioning survives the checkpoint), so each round costs one
    // EDGE-SCALE exchange: the dst-keyed contribution aggregate, which IS
    // PageRank's irreducible shuffle (the rank frame does reshuffle to src
    // partitioning inside the loop join, but that exchange is node-sized).
    // Joining deg inside the loop instead re-shuffled the full edge list
    // twice per round (measured 2.2x slower at 19M edges).
    val eDeg = e.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .localCheckpoint(true)
    val out = prFixpointLoop(eDeg, "rank div deg",
      deg.select(col("src").as("ent"), lit(r0).as("rank")),
      lit((15L * r0) / 100L), iterations, PrCheckpointEvery)
    deg.unpersist(false)
    out
  }

  /** THE fixed-point loop under all four PageRank variants: per iteration,
    * join the checkpointed edge invariant `eInv` with the node-sized rank
    * frame on src, emit `contrib` per edge, aggregate by dst, apply the
    * teleport + 85% step. The variants differ only in three hooks:
    *
    *  - `teleCol`: the per-node teleport term — a constant for the
    *    global/weighted/directed variants, seed-gated for personalized
    *    (may reference any column the node frame carries);
    *  - `nodes`: an optional checkpointed node frame (ent + flag columns).
    *    When present, each round LEFT-joins the contribution sums onto it
    *    (coalesced to 0), so sources with no in-edges survive and the row
    *    set is the node set; without it the aggregate's key set is the row
    *    set (the symmetric-graph contract, where both are equal);
    *  - `danglingShare`: an optional per-iteration hook computing the
    *    dangling-mass share from the CURRENT rank frame (one node-scale
    *    aggregate collected driver-side — the standard treatment, exact in
    *    integer arithmetic); its result is added to every node's in-mass.
    *
    * Checkpoint discipline (the CC/ConnectedComponents block pattern): each
    * eager localCheckpoint severs the lineage reaching the previous
    * generation so its MEMORY_AND_DISK blocks are freed IN-LOOP
    * (DataFrame.unpersist is a no-op on checkpointed frames). Rounds
    * checkpoint every `checkpointEvery` iterations — except with a
    * dangling hook, where the rank frame is read twice per round (the
    * driver-side sum, then the join) and is materialized every round so
    * the plan never runs twice. The final node-sized copy severs the
    * result's lineage so `eInv`, `nodes`, and the last in-loop generation
    * are freed NOW rather than leak until RDD GC. */
  private def prFixpointLoop(eInv: DataFrame, contrib: String,
                             ranks0: DataFrame, teleCol: Column,
                             iterations: Int, checkpointEvery: Int,
                             nodes: Option[DataFrame] = None,
                             danglingShare: Option[DataFrame => Long] = None): DataFrame = {
    import graft.pipeline.ConnectedComponents.releaseResult
    var ranks = ranks0
    var liveCp: List[DataFrame] = Nil
    def checkpoint(): Unit = {
      val c = ranks.localCheckpoint(true)
      liveCp.foreach(releaseResult)
      liveCp = List(c)
      ranks = c
    }
    for (i <- 1 to iterations) {
      if (danglingShare.nonEmpty) checkpoint()
      val extra = danglingShare.map(_(ranks)).getOrElse(0L)
      val contribs = eInv
        .join(ranks.select(col("ent").as("src"), col("rank")), "src")
        .select(col("dst").as("ent"), expr(contrib).as("c"))
      val sums = contribs.groupBy("ent").agg(sum(col("c")).as("s"))
      ranks = nodes match {
        case Some(nf) =>
          nf.join(sums, Seq("ent"), "left")
            .withColumn("in_mass", coalesce(col("s"), lit(0L)) + lit(extra))
            .select(nf.columns.map(col) :+
              (teleCol + expr("(85 * in_mass) div 100")).as("rank"): _*)
        case None =>
          sums.select(col("ent"), (teleCol + expr("(85 * s) div 100")).as("rank"))
      }
      // with a dangling hook the NEXT iteration's top-of-loop checkpoint
      // already materializes this generation exactly once — the periodic
      // end-of-iteration checkpoint would materialize the node frame a
      // second time per round for nothing (r7 ADVICE)
      if (danglingShare.isEmpty && i % checkpointEvery == 0 && i < iterations)
        checkpoint()
    }
    val out = ranks.select(col("ent"), col("rank").as("rank_fp"))
      .localCheckpoint(true)
    liveCp.foreach(releaseResult)
    releaseResult(eInv)
    nodes.foreach(releaseResult)
    out
  }

  /** WEIGHTED fixed-point PageRank: rank flows in proportion to edge
    * weight instead of splitting evenly — the centrality that reads
    * co-mention SUPPORT (a pair seen in 50 turns pulls 50x the rank of a
    * pair seen once). Exact integer recurrence:
    *
    *   r_k+1(v) = tele + (85 * Σ_{u→v} ((r_k(u) * w(u,v)) div wsum(u))) div 100
    *
    * With all weights equal this is EXACTLY pageRankFp — (r * w) div (deg * w)
    * == r div deg only when w is constant per src, which uniform weights
    * satisfy; the w == 1 case is spec-gated bit-for-bit. Same symmetric
    * contract, loop shape and cost as pageRankFp: the (src, dst, w, wsum)
    * invariant checkpointed once, one edge-scale exchange per iteration,
    * superseded rank generations freed in-loop. Overflow bound: r_k * w
    * must fit int64 — with the default scale, max weight ~9e6 (a co-mention
    * support far beyond any real corpus slice); ANSI arithmetic makes a
    * violation LOUD, never silent. */
  def pageRankWeightedFp(edges: DataFrame, iterations: Int,
                         scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
    // edge-scale aggregate, referenced three times (count, invariant join,
    // rank init) — persisted for the setup, released after the loop
    val wsum = e.groupBy("src").agg(sum(col("w")).as("wsum")).persist()
    val n = wsum.count()
    require(n > 0, "pageRankWeightedFp: empty edge list")
    val r0 = scale / n
    val eW = e.join(wsum, "src")
      .select(col("src"), col("dst"), col("w"), col("wsum"))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .localCheckpoint(true)
    val out = prFixpointLoop(eW, "(rank * w) div wsum",
      wsum.select(col("src").as("ent"), lit(r0).as("rank")),
      lit((15L * r0) / 100L), iterations, PrCheckpointEvery)
    wsum.unpersist(false)
    out
  }

  /** k-core decomposition by iterative peeling: repeatedly remove nodes of
    * degree < k (SIMULTANEOUSLY — each round's degrees come from the
    * previous round's edge set) until nothing changes; what survives is
    * the maximal subgraph where every node keeps >= k neighbors. The
    * dense-subgraph / noise-pruning read over a co-mention graph: entities
    * that stay k-connected after all weakly-attached nodes cascade away.
    *
    * Input is the symmetric directed edge list (both orientations, the
    * pageRankFp convention), so out-degree IS degree. Per round: one
    * edge-scale aggregate + two semi-joins against the node-scale keep
    * set (broadcast while dictionary-sized, SMJ beyond); each generation
    * localCheckpointed (truncating the growing loop lineage) and the
    * superseded one freed, the CC discipline. Peeling only removes edges,
    * so an unchanged edge COUNT is an unchanged edge SET — the driver-side
    * convergence test is one long per round. Rounds are bounded by the
    * peel depth (how long a chain of "removing him drops her under k"
    * cascades run), not edge volume — single digits on real graphs.
    *
    * Returns (ent, core_deg): the k-core's nodes with their in-core
    * degree (all >= k by construction). Deterministic: the fixpoint is
    * unique (the k-core is), independent of partitioning. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100,
            onRounds: Int => Unit = _ => ()): DataFrame = {
    import graft.pipeline.ConnectedComponents.releaseResult
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var nEdges = e.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val keep = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val next = e
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(true)
      val n = next.count()
      if (n == nEdges) {
        releaseResult(next)
        converged = true
      } else {
        releaseResult(e)
        e = next
        nEdges = n
      }
    }
    onRounds(iter)
    val out = e.groupBy(col("src").as("ent"))
      .agg(count(lit(1)).as("core_deg"))
      .localCheckpoint(true)
    releaseResult(e)
    out
  }

  /** PERSONALIZED PageRank in the same int64 fixed-point spelling: teleport
    * mass flows only to the `seeds` set, so ranks measure proximity TO the
    * seeds — the "entities related to X" KG read (a global rank says how
    * central a node is; a personalized rank says how reachable it is from
    * the query entities). Exact integer recurrence:
    *
    *   r0(v)    = scale div |S|  if v ∈ S else 0
    *   tele(v)  = (15 * (scale div |S|)) div 100  if v ∈ S else 0
    *   r_k+1(v) = tele(v) + (85 * Σ_{u→v} (r_k(u) div deg(u))) div 100
    *
    * With seeds = ALL nodes this is exactly `pageRankFp` (same r0, same
    * tele on every node, same recurrence) — spec-gated bit-for-bit. Same
    * symmetric contract as pageRankFp (every node appears as both src and
    * dst; co-mention graphs satisfy it); nodes unreachable from the seeds
    * hold rank 0 and stay in the output — the row set is the node set,
    * deterministic. Runs `prFixpointLoop` with a seed-flagged node frame
    * and a seed-gated teleport column: the (src, dst, deg) invariant
    * checkpointed once, one edge-scale exchange per iteration, node-scale
    * everything else; superseded rank generations freed in-loop. */
  def personalizedPageRankFp(edges: DataFrame, seeds: DataFrame,
                             iterations: Int,
                             scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // edge-scale aggregate, referenced by the node frame AND the invariant
    // join — persisted for the setup, released after the loop
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val s = seeds.select(col("ent")).distinct()
    val nS = s.count()
    require(nS > 0, "personalizedPageRankFp: empty seed set")
    val r0 = scale / nS
    val tele = (15L * r0) / 100L
    // node frame with its seed flag, partitioned on ent and checkpointed
    // once — every iteration's left join reuses it (seeds outside the graph
    // would silently receive no teleport, so they are required absent)
    val nodes = deg.select(col("src").as("ent"))
      .join(s.withColumn("is_seed", lit(true)), Seq("ent"), "left")
      .select(col("ent"), coalesce(col("is_seed"), lit(false)).as("is_seed"))
      .repartition(col("ent")).sortWithinPartitions("ent")
      .localCheckpoint(true)
    val eDeg = e.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    val out = prFixpointLoop(eDeg, "rank div deg",
      nodes.select(col("ent"), col("is_seed"),
        when(col("is_seed"), lit(r0)).otherwise(lit(0L)).as("rank")),
      when(col("is_seed"), lit(tele)).otherwise(lit(0L)),
      iterations, PrCheckpointEvery, nodes = Some(nodes))
    deg.unpersist(false)
    out
  }

  /** PageRank over a DIRECTED edge list with dangling-node mass — the
    * general form `pageRankFp`'s symmetric contract cannot serve: real
    * link / mention graphs are directed with sinks (no out-edges, their
    * rank mass must be redistributed) and sources (no in-edges, they must
    * survive the per-iteration aggregate). Same int64 fixed-point spelling,
    * so the result is bit-exact on any engine / partitioning / addition
    * order:
    *
    *   r0(v)    = scale div N
    *   tele     = (15 * (scale div N)) div 100
    *   dshare_k = (Σ_{u dangling} r_k(u)) div N
    *   r_k+1(v) = tele + (85 * (Σ_{u→v} (r_k(u) div deg(u)) + dshare_k)) div 100
    *
    * The dangling sum is a node-scale aggregate collected per iteration
    * (one long to the driver — the standard dangling-mass treatment, exact
    * in integer arithmetic; overflow headroom: total mass ≈ scale, so the
    * 85× term stays below 1e14 « 2^63). Source nodes survive via the left
    * join with the node frame (contribution coalesced to 0). On a
    * symmetric edge list the dangling set is empty, dshare is 0, and the
    * ranks equal `pageRankFp`'s bit-for-bit.
    *
    * Cost per iteration: the edge-scale contribution aggregate (PageRank's
    * irreducible shuffle) plus node-scale work (rank-frame join, dangling
    * filter, node left join). Runs `prFixpointLoop` with a has-out-flagged
    * node frame and the dangling hook: the (src, dst, deg) invariant and
    * the ent-partitioned node frame are built and checkpointed ONCE; the
    * hook makes the loop checkpoint each iteration's rank frame eagerly
    * (it is read twice — dangling sum, then next round) and free the
    * superseded generation in-loop. */
  def pageRankDirected(edges: DataFrame, iterations: Int,
                       scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // edge-scale aggregate, referenced by the node frame AND the invariant
    // join — persisted for the setup, released after the loop
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    // node frame with its has-out-edges flag, pre-partitioned on ent and
    // checkpointed once: every iteration's left join and dangling filter
    // reuse it (and its partitioning) without recomputing the distinct
    val nodes = e.select(col("src").as("ent"))
      .unionByName(e.select(col("dst").as("ent"))).distinct()
      .join(deg.withColumnRenamed("src", "ent"), Seq("ent"), "left")
      .select(col("ent"), col("deg").isNotNull.as("has_out"))
      .repartition(col("ent")).sortWithinPartitions("ent")
      .localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pageRankDirected: empty edge list")
    val r0 = scale / n
    val tele = (15L * r0) / 100L
    val eDeg = e.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .repartition(col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    val out = prFixpointLoop(eDeg, "rank div deg",
      nodes.select(col("ent"), col("has_out"), lit(r0).as("rank")),
      lit(tele), iterations, checkpointEvery = 1, nodes = Some(nodes),
      danglingShare = Some(r => r.filter(!col("has_out"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("d"))
        .head.getLong(0) / n))
    deg.unpersist(false)
    out
  }

  /** TransE-style NEGATIVE SAMPLING over the mention graph — the
    * training-data op a KG-embedding pipeline runs on every epoch's
    * positives: for each (turn, entity) mention edge, `k` corrupted tails
    * drawn DETERMINISTICALLY from the entity pool, in the FILTERED setting
    * (a corruption that is itself a positive, or equals the true tail, is
    * dropped — the standard evaluation protocol, Bordes et al. 2013).
    *
    * Determinism is the whole design: the j-th corruption of a positive is
    * entity[(h(subj|obj) * 48271 + j * 1009) mod N] where h is the first
    * 10 hex chars of md5 (40 bits, so the 48271 product stays far inside
    * int64 under ANSI) — the same multiplicative-residue discipline as
    * `Corpus.hashSplit`, and every piece (md5, hex parse, mod) has an
    * identical DuckDB spelling, so the gate is hash-exact.
    *
    * Plan shape at 100 TB: the positives are a scan; the entity pool is
    * dictionary-sized by construction (it IS the entity dictionary), so
    * its global row_number window and the nidx lookup both stay broadcast;
    * the filtered-setting anti-join is the one positives-sized exchange.
    *
    * `maxPool` is the LOUD-FAILURE guard for that construction: the dense
    * entity index is a GLOBAL unpartitioned window, which is a single-task
    * sort if the distinct-tail pool ever outgrows driver/broadcast scale.
    * The function accepts any triple frame, so a caller feeding general
    * positives (unbounded tail domain) must not silently serialize — the
    * pool count is already materialized for the modulus, so the guard is
    * free, and it fails with the fix spelled out rather than degrading.
    * Returns (subj, obj, j, obj_neg). */
  def negativeSamples(triples: DataFrame, k: Int,
                      maxPool: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = triples.filter(col("pred") === "mentions").select("subj", "obj")
    // the dense entity index is referenced twice (the pool count for the
    // modulus, then the broadcast lookup join) — left lazy, the
    // corpus-scale positives distinct and the global window ran twice per
    // call. One eager checkpoint computes it once; the blocks are
    // dictionary-scale by the maxPool contract below (bounded), so they
    // may live for the session like the other dictionary-sized artifacts
    val ents = pos.select(col("obj").as("ent")).distinct()
      .withColumn("eidx", row_number().over(Window.orderBy("ent")).cast("long") - 1L)
      .localCheckpoint(true)
    val n = ents.count()
    require(n > 1, s"negativeSamples: need >= 2 entities, got $n")
    require(n <= maxPool,
      s"negativeSamples: entity pool has $n distinct tails > maxPool=$maxPool. " +
        "The dense index is a global window + broadcast lookup — correct only " +
        "for a dictionary-sized pool. For an unbounded tail domain, pre-restrict " +
        "the pool (or raise maxPool deliberately with the memory math done).")
    val hkey = conv(substring(md5(concat(col("subj"), lit("|"), col("obj"))), 1, 10),
      16, 10).cast("long")
    pos.withColumn("hkey", hkey)
      .withColumn("j", explode(sequence(lit(1L), lit(k.toLong))))
      .withColumn("nidx", pmod(col("hkey") * 48271L + col("j") * 1009L, lit(n)))
      .join(broadcast(ents), col("nidx") === col("eidx"))
      .select(col("subj"), col("obj"), col("j"), col("ent").as("obj_neg"))
      .filter(col("obj_neg") =!= col("obj"))
      .join(pos.select(col("subj"), col("obj").as("obj_neg")),
        Seq("subj", "obj_neg"), "left_anti")
      .select("subj", "obj", "j", "obj_neg")
  }

  /** BFS hop distances from a seed set — the "how far is every entity from
    * X" KG read (multi-hop reachability with the hop count kept, where
    * `kg_onehop` stops at one hop and PageRank forgets distance entirely).
    * Classic frontier expansion: round d joins the edge frame to the
    * current frontier and anti-joins everything already visited, so each
    * node is labeled exactly once, with its MINIMUM distance — BFS levels
    * are unique, so the result is deterministic regardless of partitioning.
    *
    * Per round: one edge-scale equi-join keyed on src (the frontier side is
    * node-scale — broadcast while small, SMJ beyond) + one node-scale
    * anti-join. The edge frame is checkpointed ONCE and reused by every
    * round; frontier generations are checkpointed (truncating loop lineage)
    * and freed one round after they stop being joined — the CC/PageRank
    * block discipline. Rounds are bounded by min(maxDepth, graph diameter);
    * the loop exits early on an empty frontier, so a reachable component
    * never pays for the cap.
    *
    * Returns (ent, dist): every node within `maxDepth` hops of a seed,
    * seeds at 0. Unreached nodes are absent (the caller left-joins the node
    * frame if it wants nulls). At 100 TB the frontier is the working set —
    * node-scale, never edge-scale — and the edge invariant is scanned once
    * per round, the same irreducible cost as one PageRank iteration. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    import graft.pipeline.ConnectedComponents.releaseResult
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).sortWithinPartitions("src")
      .localCheckpoint(true)
    var visited = seeds.select(col("ent")).distinct()
      .select(col("ent"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var frontier = visited
    var d = 0
    var done = false
    while (!done && d < maxDepth) {
      d += 1
      val next = e.join(frontier.select(col("ent").as("src")), Seq("src"))
        .select(col("dst").as("ent")).distinct()
        .join(visited.select("ent"), Seq("ent"), "left_anti")
        .select(col("ent"), lit(d.toLong).as("dist"))
        .localCheckpoint(true)
      // the previous frontier's blocks fed this round's join and were folded
      // into `visited` last round; both uses are done once `next` materializes
      if (frontier ne visited) releaseResult(frontier)
      frontier = visited
      if (next.isEmpty) {
        releaseResult(next)
        done = true
      } else {
        val nv = visited.unionByName(next).localCheckpoint(true)
        releaseResult(visited)
        visited = nv
        frontier = next
      }
    }
    if (frontier ne visited) releaseResult(frontier)
    releaseResult(e)
    visited
  }
}
