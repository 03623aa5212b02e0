package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Candidates, GraftConfig, Scoring}
import graft.fixtures.Synth
import graft.operators.{Dedup, GraphOps, Multimodal, Similarity, TextStats, Timeseries}
import graft.pipeline.{ConnectedComponents, KgPipeline, Scorer, TranscriptSource, TripleEmitter}
import graft.SessionMemo.{Held, memo}

/** Driver contract (SURVEY.md §7; see Verify/Bench).
  *
  * Two query families:
  *  - kg_*: the KG-construction pipeline (the north_rule core) over the
  *    deterministic synthetic transcript corpus (BASELINE.json input_hint
  *    shape; no external data). Not ANSI-SQL-expressible (fused scorer,
  *    iterative CC) => rows-only driver check; deep correctness is the
  *    oracle P/R gate in `sbt test` (PipelineSpec/OracleSpec).
  *  - everything else: training-data-pipeline + relational operators over
  *    the driver's parquet tables, each with an exact DuckDB oracle twin.
  *    Numeric discipline so the hash compare is exact: ratios are single
  *    IEEE divisions of exact integers; double sums go through DECIMAL;
  *    dot products are sequential folds on both engines.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------------------ KG

  /** Synthetic-corpus size scales with the sf dir: sf0.001 -> 100 convs
    * (driver smoke), sf0.01 -> 1k convs / 10k turns (correctness gate),
    * sf0.1 -> 10k convs / 100k turns (bench: large enough that sustained
    * pipeline throughput, not session fixed cost, dominates). */
  private[graft] def specFor(sfDir: String): Synth.Spec = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    Synth.Spec(nConv = math.max(100, (sf * 100000).toInt))
  }

  /** Pred-partitioned triples sink on disk, written once per session and
    * sf into a directory the session's memo owns; both 1-hop queries read
    * it back so the partition-pruned scan is real. */
  private def triplesSink(s: SparkSession, dir: String): String =
    memo(s, "triples:" + dir)(Held.tmpDir("graft_triples_") { path =>
      TripleEmitter.write(kg(s, dir).triples, path); path
    })

  /** Co-mention pairs (entity_a < entity_b, n_turns), memoized per
    * (session, dir): the turn-hub self-join feeds four graph queries
    * (comention, triangles, entity_sim, relatedEntities), and operators
    * like triangleCounts reference their edge input several times — an
    * unmemoized frame re-ran the self-join per lineage reference (measured
    * 12.9 s kg_triangles at sf0.1; ~1 s on the persisted pairs). */
  private def comentionPairs(s: SparkSession, dir: String): DataFrame =
    // eager localCheckpoint, NOT persist+count: under persist the frame
    // keeps its full logical lineage (the whole kg pipeline), and the
    // nine graph queries reading this memo re-ANALYZE that giant subtree
    // several times each (both union orientations, join sides…) — with
    // tiny data the driver-side planning was the dominant wall (guide
    // §7.3; kg_triangles 7.8 s warm for 88 output rows). The checkpoint
    // turns every reference into an ExistingRDD scan; rows unchanged.
    memo(s, "comention:" + dir)(Held.checkpoint(
      GraphOps.coMentions(kg(s, dir).triples.select("subj", "pred", "obj"))))

  /** Compacted twin of the triples sink, built once per (session, sf):
    * the bin-packed, subj-sorted rewrite TripleEmitter.compact produces.
    * The gate reads THIS store against the same golden-oracle twin as the
    * live sink — content preservation under re-layout is the property. */
  private def compactedSink(s: SparkSession, dir: String): String = {
    val src = triplesSink(s, dir)
    memo(s, "compacted:" + dir)(Held.tmpDir("graft_compacted_") { out =>
      TripleEmitter.compact(s, src, out); out
    })
  }

  /** Incrementally-compacted twin of the triples sink, built once per
    * (session, sf): the live store is COPIED to a work dir (the in-place
    * swap must not disturb the memoized live sink other queries read), then
    * ONLY the preds whose file count exceeds the per-store median are
    * compacted-and-swapped (TripleEmitter.compactIncremental) — a genuinely
    * MIXED store: hot partitions re-packed, cold partitions byte-untouched
    * (file identity verified by the operator and required here). The gate
    * reads the mixed store against the same golden twin as the live sink. */
  private def incCompactedSink(s: SparkSession, dir: String): String = {
    val src = triplesSink(s, dir)
    memo(s, "inccompact:" + dir)(Held.tmpDir("graft_inccompact_") { root =>
      // the store sits one level down: compactIncremental stages beside it
      val out = root + "/store"
      val conf = s.sparkContext.hadoopConfiguration
      val srcP = new org.apache.hadoop.fs.Path(src)
      val fs = srcP.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, srcP, fs, new org.apache.hadoop.fs.Path(out),
        false, conf)
      val counts = TripleEmitter.partitionFileCounts(s, out).values.toSeq.sorted
      // midrange threshold: min <= thr < max whenever counts differ, so the
      // hot set (> thr) and the cold set (<= thr) are BOTH nonempty — a
      // median can coincide with max (sf0.001 does) and leave nothing hot
      val thr = (counts.head + counts.last) / 2
      val stats = TripleEmitter.compactIncremental(s, out, thr)
      require(stats.predsCompacted.nonEmpty && stats.predsUntouched.nonEmpty,
        s"incremental-compaction fixture must be MIXED, got $stats")
      require(stats.untouchedPreserved,
        s"untouched partitions were rewritten: $stats")
      out
    })
  }

  /** A pipeline run held by the memo with its five outputs replaced by
    * eager localCheckpoints, NOT persists. A persisted frame keeps its full
    * logical lineage — the whole pipeline plan — and every kg_* query
    * referencing the memo re-ANALYZES that giant subtree per reference;
    * with bench-scale data the driver-side planning was the dominant wall
    * of the graph-query family (guide §7.3: kg_pagerank_directed 4.2 s of
    * which < 0.5 s compute). Checkpoints turn each reference into an
    * ExistingRDD scan. decisionStats is re-derived from the CHECKPOINTED
    * decisions so its lineage collapses too. Release frees the run itself
    * (its persisted outputs and internal stage caches) and the RDD blocks
    * of the checkpoints, including a distributed components result's own. */
  private def checkpointed(run: KgPipeline.Outputs): Held[KgPipeline.Outputs] = {
    val decisions = run.decisions.localCheckpoint(true)
    val out = KgPipeline.Outputs(
      run.mentions.localCheckpoint(true), decisions,
      run.components.localCheckpoint(true), run.triples.localCheckpoint(true),
      // decisionStats stays LAZY: derived from the checkpointed decisions its
      // lineage is one ExistingRDD scan deep (nothing left to re-plan), and
      // an eager checkpoint here put its TakeOrdered + aggregate jobs inside
      // every timed kg() build (bench kg_cold/kg_warm) for a frame only the
      // kg_decision_stats query reads
      KgPipeline.decisionStats(decisions), run.cached)
    Held(out, () => {
      run.release()
      Seq(run.components, out.mentions, out.decisions, out.components, out.triples)
        .foreach(ConnectedComponents.releaseResult)
    })
  }

  /** One pipeline run per (session, sfDir), outputs checkpointed so each
    * kg_* query reads memoized results instead of recomputing — or even
    * re-planning — the DAG. */
  private[graft] def kg(spark: SparkSession, sfDir: String): KgPipeline.Outputs =
    memo(spark, "kg:" + sfDir) {
      val spec = specFor(sfDir)
      val dict = Synth.dictionary(spec)
      val turns = TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict))
      checkpointed(KgPipeline.run(spark, turns, dict, GraftConfig.default))
    }

  /** Drop one sfDir's memoized pipeline run and free EVERY frame it cached.
    * Bench uses this to time a warm second run honestly. */
  private[graft] def clearKg(spark: SparkSession, sfDir: String): Unit =
    SessionMemo.clear(spark, "kg:" + sfDir)

  /** Drop every memo `spark` holds — kg runs, operator frames, sink
    * directories, catalog tables — and free what each stored. Long-lived
    * drivers must call this before stopping a session, with the session's
    * query threads quiesced (see SessionMemo). */
  private[graft] def clearSession(spark: SparkSession): Unit =
    SessionMemo.clearSession(spark)

  /** zh-mixed corpus scale: smaller than the Latin corpus (it gates the CJK
    * mention semantics, not throughput) but still sf-scaled. */
  private[graft] def zhSpecFor(sfDir: String): Synth.Spec = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    Synth.Spec(nConv = math.max(60, (sf * 20000).toInt))
  }

  /** zh/en mixed pipeline run (unsegmented Chinese mentions — the corpus
    * shape of the reference's own seed data), memoized like `kg`. */
  private[graft] def kgZh(spark: SparkSession, sfDir: String): KgPipeline.Outputs =
    memo(spark, "kg_zh:" + sfDir) {
      val spec = zhSpecFor(sfDir)
      val dict = Synth.zhDictionary(spec)
      val turns = TranscriptSource.fromSeq(spark, Synth.zhTranscripts(spec, dict))
      checkpointed(KgPipeline.run(spark, turns, dict, GraftConfig.default))
    }

  /** Flagship: end-to-end KG triples on a small fixed corpus. */
  def entry(spark: SparkSession): DataFrame =
    kg(spark, "sf0.001").triples

  // ------------------------------------------------- shared column helpers

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  private def docsPlusExactCopies(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select("doc_id", "text")
    d.union(d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  /** Copies with a +1000001 id offset: 1000001·48271 ≡ 71 (mod 100), so a
    * copy's split-hash residue differs from its original's by 71 and some
    * copies land across the train/val boundary — the planted contamination
    * the decontamination query must catch (the +1000000 variant above
    * shifts the residue by 0 and never crosses). */
  private def docsPlusShiftedCopies(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents").select("doc_id", "text")
    d.union(d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
  }

  /** Shingle sets are an explode + groupBy + join; both dedup queries walk
    * them several times (sizes + two join sides + signatures), so the frame
    * is memoized per (session, dir) and persisted — recomputing it 3-4x per
    * query was the dominant cost of round 1's dedup benches. */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    memo(s, "sets:" + dir)(
      Held.persist(Dedup.shingleSets(tbl(s, dir, "documents"), n = 3, maxDf = 50L)))

  /** MinHash-LSH verified pairs, memoized per (session, dir): the result is
    * materialized eagerly so the frames the operator persisted can be
    * released immediately (otherwise one bucket-scale frame per call stays
    * cached for the session); repeat queries then read the tiny
    * checkpointed pair frame. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, "lsh_pairs:" + dir) {
      // 128/32 pinned HERE (not the 64/16 default): this surface is gated by
      // an exact-equality DuckDB twin, and 128 hashes square the per-pair
      // band-miss probability (j=0.80 -> ~5e-8 vs 2.2e-4 at 64) so a future
      // corpus with pairs near the tau cutoff cannot flake the gate; the
      // cheaper default stays for bench/scale paths (Dedup class doc math)
      // eager localCheckpoint (not persist+count): five queries reference
      // this memo and re-analyzed the full signature/verify lineage each
      // time under persist (guide §7.3, same move as comentionPairs)
      val lsh = Dedup.minhashLsh(shingleSets(s, dir), 0.6, numHashes = 128, bands = 32)
      val out = Held.checkpoint(lsh.value)
      lsh.release()
      out
    }

  /** Incremental-dedup pairs, memoized per (session, dir). Exercises the
    * full production shape end to end: the kept corpus (a deterministic
    * 80% split-hash side of the documents table) has its banded signature
    * INDEX written to parquet and read back — the persistent artifact a
    * per-crawl-drop pipeline keeps between batches — and the "new batch"
    * (the other 20%) computes only its own signatures and bucket-joins the
    * index. 128/32 pinned for the same gate-immunity math as
    * `minhashPairs`. Same eager-materialize + release treatment; the index
    * directory lives as long as the memo entry. */
  private def incrementalPairs(s: SparkSession, dir: String): DataFrame =
    memo(s, "inc_pairs:" + dir) {
      val sets = shingleSets(s, dir)
      val isOld = graft.operators.Corpus.splitResidue(col("doc_id")) < 80
      val oldSets = sets.filter(isOld)
      val newSets = sets.filter(!isOld)
      val index = Held.tmpDir("graft_lsh_index_") { idxPath =>
        Dedup.bandedSignatures(oldSets, 128, 32)
          .write.mode("overwrite").parquet(idxPath)
        idxPath
      }
      val lsh = Dedup.incrementalLsh(oldSets, newSets, 0.6,
        numHashes = 128, bands = 32,
        indexBanded = Some(s.read.parquet(index.value)))
      val out = Held.checkpoint(lsh.value)
      lsh.release()
      Held(out.value, () => { out.release(); index.release() })
    }

  /** Prepped embeddings (double cast + l2 norm) are memoized per
    * (session, dir) and persisted, same treatment as shingleSets: four
    * ann/dedup queries otherwise rescan and re-norm the embeddings table
    * (round-2's dedup_embed_cosine regression was exactly this recompute). */
  private def prepEmb(s: SparkSession, dir: String): DataFrame =
    memo(s, "emb:" + dir)(Held.persist(Similarity.prep(tbl(s, dir, "embeddings"))))

  /** IVF index (Lloyd model + cell-assigned corpus) memoized per
    * (session, dir): the model build walks the corpus iters+1 times, and
    * three driver queries (ivf_topk, ivf_recall twice) would otherwise each
    * rebuild it from scratch. The assigned frame is persisted — it IS the
    * index. */
  private def ivfIndex(s: SparkSession, dir: String): (Array[(Int, Array[Double])], DataFrame) =
    memo(s, "ivf:" + dir) {
      val corpus = prepEmb(s, dir)
      val model = Similarity.kmeans(corpus, 8, 3)
      val assigned = Held.persist(Similarity.ivfAssign(corpus, model))
      Held((model, assigned.value), assigned.release)
    }

  /** Engine-derived auxiliary dumps for twins that re-derive a gated result
    * from a model artifact (Verify writes them to the `{AUX}` dir): the IVF
    * centroid table (cell, c). The ann_ivf_topk twin re-derives EVERYTHING
    * downstream of the model — every corpus vector's cell assignment, each
    * query's 2 probed cells (both via the same sequential-fold squared-L2
    * the engine uses), and the in-cell cosine top-k — so the probe/assign/
    * rank logic is fully gated; the model itself is additionally
    * quality-gated by ann_ivf_recall's exact brute-force twin. */
  private[graft] def dumpAux(s: SparkSession, dir: String, auxDir: String): Unit = {
    import s.implicits._
    val (model, _) = ivfIndex(s, dir)
    s.createDataset(model.toSeq.map { case (cell, c) => (cell, c.toSeq) })
      .toDF("cell", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$auxDir/ivf_centroids")
  }

  /** Bucketed twin tables of events/customer (BucketedStore), written once
    * per (session, sf): both sides bucketBy the join key into the same
    * bucket count so the recurring 1-hop join is co-located — zero
    * exchanges at query time (plan-gated in PlanSpec). Returns the table
    * name suffix, unique to the entry's directory so sessions sharing a
    * catalog never collide; release drops both tables, then the data. */
  private def bucketedOnehopTables(s: SparkSession, dir: String): String =
    memo(s, "bucketed:" + dir) {
      val files = Held.tmpDir("graft_bucketed_") { root =>
        val tag = new java.io.File(root).getName.stripPrefix("graft_bucketed_")
        graft.pipeline.BucketedStore.writeBucketed(
          tbl(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
          s"graft_ev_$tag", s"$root/events", "user_id", 8)
        graft.pipeline.BucketedStore.writeBucketed(
          tbl(s, dir, "customer").select("c_custkey", "c_name"),
          s"graft_cust_$tag", s"$root/customer", "c_custkey", 8)
        tag
      }
      val tag = files.value
      Held(tag, () => {
        Seq(s"graft_ev_$tag", s"graft_cust_$tag").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
        files.release()
      })
    }

  /** zh/mixed documents-table size, sf-scaled like the other fixtures. */
  private[graft] def zhDocCountFor(sfDir: String): Int = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1).toDouble).getOrElse(0.001)
    math.max(80, (sf * 4000).toInt)
  }

  /** zh/en mixed documents table (Synth.zhDocuments — deterministic,
    * driver-sized LocalTableScan; the oracle twins read the identical rows
    * from the {ORA}/fixtures_zh_docs dump Verify writes). */
  private def zhDocsTbl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Synth.zhDocuments(zhDocCountFor(dir)).toDF("doc_id", "lang", "text")
  }

  /** Planted-PII documents table (Synth.piiDocuments — deterministic,
    * driver-sized; twins read the identical rows from the
    * {ORA}/fixtures_pii_docs dump Verify writes). */
  private def piiDocsTbl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Synth.piiDocuments(zhDocCountFor(dir)).toDF("doc_id", "text")
  }

  /** Perturbed probe vectors planted from the corpus (vec_id%10==0):
    * probe = [v1+0.05, v2..v64], probe_id = vec_id+100000. Memoized +
    * persisted per (session, dir) like prepEmb. */
  private def plantedProbes(s: SparkSession, dir: String): DataFrame =
    memo(s, "probes:" + dir) {
      val e = tbl(s, dir, "embeddings").filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          Similarity.dvec(col("embedding")).as("v0"))
        .select(col("vec_id"),
          concat(array(element_at(col("v0"), 1) + lit(0.05)), slice(col("v0"), 2, 63)).as("v"))
      Held.persist(e.withColumn("nrm", Similarity.l2norm(col("v"))))
    }

  /** X13 similarity-details + X14 reasoning projection over a decisions
    * frame (reference disambiguation.py:439-463 and :388-407) — shared
    * templates + config-interpolated thresholds via the Scoring accessors,
    * language-switched by cfg.reasoningLang; this surface can never drift
    * from the decision logic or from the oracle/API twins. */
  private def explainedFrame(decisions: DataFrame, cfg: GraftConfig): DataFrame =
    decisions.select(col("mention_id"), col("decision"),
      format_string(Scoring.detailsTemplate(cfg),
        col("bge_score"), col("cross_encoder_score"), col("fuzz_score"),
        col("levenshtein_score"), col("final_score")).as("similarity_details"),
      when(col("decision") === "merge",
          format_string(Scoring.mergeReasonTemplate(cfg),
            col("final_score"), lit(cfg.highThreshold), col("match_id")))
        .when(col("decision") === "create",
          format_string(Scoring.createReasonTemplate(cfg),
            col("final_score"), lit(cfg.lowThreshold)))
        .otherwise(format_string(Scoring.ambiguousReasonTemplate(cfg),
          col("final_score"))).as("reasoning"))

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- KG pipeline (north_rule core; rows-only driver check)
    // bare graph surface (props map is driver-hash-unfriendly; the flat
    // kg_onehop_props query gates the props content)
    "kg_triples" -> ((s, dir) => kg(s, dir).triples.select("subj", "pred", "obj")),
    // the compacted store must carry byte-identical content under its
    // bin-packed subj-sorted re-layout — same oracle twin as kg_triples
    "kg_triples_compacted" -> ((s, dir) =>
      s.read.parquet(compactedSink(s, dir)).select("subj", "pred", "obj")),
    // the MIXED store after incremental compact-then-swap (hot preds
    // re-packed in place, cold preds byte-untouched) must still carry the
    // exact live content — same golden twin again
    "kg_triples_compacted_inc" -> ((s, dir) =>
      s.read.parquet(incCompactedSink(s, dir)).select("subj", "pred", "obj")),
    "kg_decisions" -> ((s, dir) => kg(s, dir).decisions
      .select("mention_id", "surface", "decision", "match_id", "resolved_id", "final_score")),
    "kg_mentions" -> ((s, dir) => kg(s, dir).mentions
      .select("mention_id", "conv_id", "turn_idx", "surface", "offset")),
    "kg_components" -> ((s, dir) => kg(s, dir).components),
    "kg_decision_stats" -> ((s, dir) => kg(s, dir).decisionStats),
    "kg_candidates_topk" -> ((s, dir) => {
      // match-candidates surface (reference POST /match-candidates) with the
      // reference's exact retrieval merge: vector over-fetch + F2 type-branch
      // cosine floor + F4 first-wins name dedup (merge path only) + truncate,
      // rank assigned in merge order — no final-score re-sort
      // (core.Candidates, shared with the oracle). Broadcast-dictionary map
      // over mentions — no pair shuffle, no window.
      val out = kg(s, dir)
      val cfg = GraftConfig.default
      val dict = Candidates.prep(Synth.dictionary(specFor(dir)), cfg)
      val mentionsPrep = Scorer.prepareMentions(out.mentions, cfg)
        .select(Scorer.mentionPrepCols.map(col): _*)
      Scorer.topKBroadcast(s, mentionsPrep, dict, cfg)
    }),

    // 1-hop traversal over the engine's OWN pred-partitioned triples table
    // (reference get_related_entities, neo4j_database.py:437-471): filter on
    // the partition column pred => partition-pruned scan, then an equi-join
    // rehydrates the neighbor entity (broadcast: dictionary-sized).
    "kg_onehop" -> ((s, dir) => {
      import s.implicits._
      val ents = s.createDataset(Synth.dictionary(specFor(dir))).toDF()
        .select(col("id"), col("name").as("obj_name"))
      s.read.parquet(triplesSink(s, dir)).filter(col("pred") === "same_as")
        .join(broadcast(ents), col("obj") === col("id"))
        .select("subj", "pred", "obj", "obj_name")
    }),

    // 1-hop over the `mentions` edges INCLUDING their edge properties
    // (reference relationships carry arbitrary props, neo4j_database.py:
    // 411-417, surfaced by get_related_entities :437-471): props["n"] is
    // the per-turn mention multiplicity. Partition-pruned like kg_onehop.
    "kg_onehop_props" -> ((s, dir) =>
      s.read.parquet(triplesSink(s, dir)).filter(col("pred") === "mentions")
        .select(col("subj"), col("obj"),
          element_at(col("props"), "n").cast("long").as("n_mentions"))),

    // X11 force_decision=true surface (reference disambiguation.py:403-407):
    // the ambiguous band resolves at the midpoint. Re-derived from the SAME
    // per-mention best (best_id rides on the decisions frame) through the
    // identical decideFromBest projection the pipeline runs — no second
    // scoring pass.
    "kg_decisions_forced" -> ((s, dir) =>
      Scorer.decideFromBest(
          kg(s, dir).decisions.select(
            "mention_id", "conv_id", "turn_idx", "offset", "surface", "best_id",
            "bge_score", "cross_encoder_score", "fuzz_score", "levenshtein_score",
            "final_score"),
          GraftConfig.default.copy(forceDecision = true))
        .select("mention_id", "decision", "match_id", "resolved_id", "final_score")),

    // X13 similarity-details + X14 reasoning text over the decisions
    // (reference similarity_details disambiguation.py:439-463 and the
    // reasoning templates :388-407 — engine uses stable English templates,
    // a documented divergence from the Chinese originals). Shared templates
    // + config-interpolated thresholds: this text can never drift from the
    // decision logic or from the oracle/API twins.
    "kg_decisions_explained" -> ((s, dir) =>
      explainedFrame(kg(s, dir).decisions, GraftConfig.default)),
    // X13/X14 with the reference's OWN output language: the zh pipeline's
    // decisions rendered through the engine-authored zh template set
    // (cfg.reasoningLang = "zh"; closes the round-4 "English templates"
    // divergence as a config flip — golden-oracle twin shares the
    // accessors, so the text can never drift)
    "kg_decisions_explained_zh" -> ((s, dir) =>
      explainedFrame(kgZh(s, dir).decisions,
        GraftConfig.default.copy(reasoningLang = "zh"))),

    // ---- zh-mixed pipeline surfaces (round-4: CJK mention detection — the
    // reference corpus's primary language; unsegmented inline mentions).
    // Oracle twins read the zh golden-oracle parquet Verify dumps, so all
    // three are full rows+schema+hash gates.
    "kg_mentions_zh" -> ((s, dir) => kgZh(s, dir).mentions
      .select("mention_id", "conv_id", "turn_idx", "surface", "offset")),
    "kg_decisions_zh" -> ((s, dir) => kgZh(s, dir).decisions
      .select("mention_id", "surface", "decision", "match_id", "resolved_id", "final_score")),
    "kg_triples_zh" -> ((s, dir) => kgZh(s, dir).triples.select("subj", "pred", "obj")),

    // ---- scans / filters / joins / windows (SURVEY §2.1-2.6 analogs)
    "s1_scan_order" -> ((s, dir) => tbl(s, dir, "documents")
      .select("doc_id", "source", "n_chars")
      .orderBy(col("n_chars").desc, col("doc_id"))),
    "s2_point_lookup" -> ((s, dir) => tbl(s, dir, "documents")
      .filter(col("doc_id").isin(7L, 42L, 123L))
      .select("doc_id", "lang", "n_chars")),
    "s3_filter_type" -> ((s, dir) => tbl(s, dir, "documents")
      .filter(col("lang") === "en").select("doc_id", "lang", "n_chars")),
    // S5 merge-upsert emulated as keep-latest rewrite (Iceberg MERGE INTO
    // at scale; union + row_number here — SURVEY.md S5)
    "s5_upsert_keeplatest" -> ((s, dir) => {
      val base = tbl(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), lit(0L).as("ver"))
      val updates = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), (col("n_chars") + 8L).as("n_chars"), lit(1L).as("ver"))
      Dedup.firstWins(base.union(updates), Seq("doc_id"), Seq(col("ver").desc))
    }),
    "s4_substring_search" -> ((s, dir) => tbl(s, dir, "documents")
      .filter(col("text").contains("spark")).select("doc_id", "n_chars")
      .orderBy("doc_id").limit(100)),
    // S4 alias branch (reference neo4j_database.py:240-259): name CONTAINS q
    // OR any(alias IN aliases WHERE alias CONTAINS q), ORDER BY name LIMIT n.
    // exists() is the higher-order-function path; q='1' only ever occurs in
    // abbreviation ALIASES (names carry no digits), so the alias arm is the
    // one doing the work. Deterministic tiebreak: id after name.
    "s4_alias_search" -> ((s, dir) => {
      import s.implicits._
      val q = "1"
      s.createDataset(Synth.dictionary(specFor(dir))).toDF()
        .filter(col("name").contains(q) ||
          exists(col("aliases"), a => a.contains(q)))
        .orderBy(col("name"), col("id")).limit(20)
        .select("id", "name", "entity_type")
    }),
    // typed variant of the alias search (reference neo4j_database.py:240-259
    // carries an optional type filter): same contains-predicate, plus
    // entity_type equality.
    "s4_alias_search_typed" -> ((s, dir) => {
      import s.implicits._
      val q = "1"
      s.createDataset(Synth.dictionary(specFor(dir))).toDF()
        .filter(col("entity_type") === "disease" &&
          (col("name").contains(q) || exists(col("aliases"), a => a.contains(q))))
        .orderBy(col("name"), col("id")).limit(20)
        .select("id", "name", "entity_type")
    }),
    "s7_onehop_join" -> ((s, dir) => tbl(s, dir, "events")
      .filter(col("event_type") === "error")
      .join(broadcast(tbl(s, dir, "customer")),
        col("user_id") === col("c_custkey"))
      .select("event_id", "user_id", "c_name", "value")),
    // same 1-hop semantics through BUCKETED tables (SURVEY §4 co-located
    // join): both sides bucketBy the key, so when the dimension outgrows
    // broadcast the join still needs no exchange — the 100TB recurring-join
    // layout. Same oracle as s7; the zero-exchange plan is gated in
    // PlanSpec with broadcast disabled.
    "j6_bucketed_onehop" -> ((s, dir) => {
      val tag = bucketedOnehopTables(s, dir)
      s.table(s"graft_ev_$tag").filter(col("event_type") === "error")
        .join(s.table(s"graft_cust_$tag"), col("user_id") === col("c_custkey"))
        .select("event_id", "user_id", "c_name", "value")
    }),
    "s9_history_topn" -> ((s, dir) => tbl(s, dir, "events")
      .orderBy(col("ts").desc, col("event_id")).limit(50)
      .select("event_id", "event_type", "value")),

    // ---- event-time operators (operators/Timeseries): the two stream-table
    // primitives Spark lacks as built-ins, spelled scale-first. The as-of
    // join (each click -> the latest prior view by the same user) runs as
    // ONE key exchange + sort via union + last(ignoreNulls) — never an
    // inequality join; DuckDB's native ASOF JOIN is the independent twin.
    "ev_asof_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      Timeseries.asofJoin(
          ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view")
            .select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("view_event_id"),
          col("asof_value").as("view_value"),
          (Timeseries.epochMs(col("ts")) - Timeseries.epochMs(col("asof_ts"))).as("lag_ms"))
    }),
    // LEFT as-of variant: clicks BEFORE the user's first view are kept with
    // null view columns (the enrichment spelling; DuckDB ASOF LEFT JOIN is
    // the independent twin). Same one-exchange plan minus the match filter.
    "ev_asof_left" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      Timeseries.asofJoinLeft(
          ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view")
            .select("user_id", "ts", "event_id", "value"),
          "user_id", "ts", Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("view_event_id"),
          col("asof_value").as("view_value"),
          (Timeseries.epochMs(col("ts")) - Timeseries.epochMs(col("asof_ts"))).as("lag_ms"))
    }),
    // range (interval) join: for each click, the views by the same user in
    // the preceding hour (bounds inclusive, micros precision), aggregated
    // to count + lag extrema. The engine runs the BUCKETED spelling (one
    // (key, bucket) exchange per side, left at most doubled — never an
    // inequality SMJ filter, never a BroadcastNestedLoop; plan-gated in
    // the spec); the twin is DuckDB's plain inequality join — a genuinely
    // independent spelling of the same semantics.
    "ev_range_join" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      Timeseries.rangeJoin(
          ev.filter(col("event_type") === "click")
            .select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "view")
            .select("user_id", "ts", "value"),
          "user_id", "ts", -3600000L, 0L, Seq("value"))
        .groupBy(col("event_id"), col("user_id"))
        .agg(
          count(lit(1)).as("n_views"),
          min(Timeseries.epochMs(col("ts")) - Timeseries.epochMs(col("r_ts"))).as("min_lag_ms"),
          max(Timeseries.epochMs(col("ts")) - Timeseries.epochMs(col("r_ts"))).as("max_lag_ms"))
    }),
    // the SAME interval join written as the NAIVE SQL a user would type —
    // the RangeJoinRewrite optimizer rule (registered on the live session)
    // rewrites it to the bucketed plan automatically; the twin is the same
    // naive SQL in DuckDB, so this gate certifies the REWRITE preserves
    // semantics exactly (firing is separately plan-gated in
    // RangeJoinRewriteSpec)
    "ev_range_join_sql" -> ((s, dir) => {
      graft.plans.RangeJoinRewrite.register(s)
      tbl(s, dir, "events").createOrReplaceTempView("events_rjs")
      s.sql("""
        SELECT c.event_id, c.user_id, count(*) AS n_views,
               min(unix_millis(CAST(c.ts AS TIMESTAMP)) - unix_millis(CAST(v.ts AS TIMESTAMP))) AS min_lag_ms,
               max(unix_millis(CAST(c.ts AS TIMESTAMP)) - unix_millis(CAST(v.ts AS TIMESTAMP))) AS max_lag_ms
        FROM (SELECT event_id, user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tus, ts
              FROM events_rjs WHERE event_type = 'click') c
        JOIN (SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) AS tus, ts
              FROM events_rjs WHERE event_type = 'view') v
          ON c.user_id = v.user_id
         AND v.tus >= c.tus - 3600000000
         AND v.tus <= c.tus
        GROUP BY c.event_id, c.user_id""")
    }),
    // the INTERVAL spelling over the raw NTZ timestamp column — the SQL a
    // user actually types; the rule's timestamp path (TimestampAddInterval
    // micros + explicit-zone NTZ cast) must preserve semantics exactly
    "ev_range_join_sql_ts" -> ((s, dir) => {
      graft.plans.RangeJoinRewrite.register(s)
      tbl(s, dir, "events").createOrReplaceTempView("events_rjt")
      s.sql("""
        SELECT c.event_id, c.user_id, count(*) AS n_views,
               min(unix_millis(CAST(c.ts AS TIMESTAMP)) - unix_millis(CAST(v.ts AS TIMESTAMP))) AS min_lag_ms,
               max(unix_millis(CAST(c.ts AS TIMESTAMP)) - unix_millis(CAST(v.ts AS TIMESTAMP))) AS max_lag_ms
        FROM (SELECT event_id, user_id, ts FROM events_rjt WHERE event_type = 'click') c
        JOIN (SELECT user_id, ts FROM events_rjt WHERE event_type = 'view') v
          ON c.user_id = v.user_id
         AND v.ts BETWEEN c.ts - INTERVAL '1' HOUR AND c.ts
        GROUP BY c.event_id, c.user_id""")
    }),
    // gap sessionization (8h gap: the fixture's median per-user gap is
    // ~7.3h, so both continue and break branches carry real volume); the
    // per-session aggregate reuses the window's key exchange — one shuffle
    // total, plan-gated in PlanSpec
    "ev_sessions" -> ((s, dir) =>
      Timeseries.sessionStats(
        tbl(s, dir, "events"), "user_id", "ts", "event_id", 28800L, "value")),
    // tumbling-window rollup: date_trunc is the shared spelling (both
    // engines truncate the same UTC instant), decimal value sums for
    // addition-order independence — one map-side-combined exchange
    "ev_hourly_rollup" -> ((s, dir) => tbl(s, dir, "events")
      .groupBy(col("event_type"),
        Timeseries.epochMs(date_trunc("hour", col("ts"))).as("hour_ms"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))),
    // EXACT rank-based quartiles (discrete: the element at rank
    // ceil(q*n), no interpolation — interpolated quantiles are float
    // arithmetic that differs in the last ulps across engines and can
    // never be hash-gated; the discrete spelling is bit-stable and is
    // spelled identically in the twin). One window pass per type; ties on
    // value break by event_id so the ranked order itself is total. Scale
    // note: the per-type window is a per-key sort — exact quantiles at
    // 100 TB would use approx_percentile (t-digest) or a two-pass
    // count+range-select; THIS spelling is the exact-parity gate, and its
    // per-key sort bound is the hottest event_type's row count.
    "ev_value_quartiles" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("q",
          when(col("rn") === ceil(col("n") * 0.25), lit("p25"))
            .when(col("rn") === ceil(col("n") * 0.50), lit("p50"))
            .when(col("rn") === ceil(col("n") * 0.75), lit("p75")))
        .filter(col("q").isNotNull)
        .select(col("event_type"), col("q"), col("value"))
    }),

    // ---- 2-hop graph reads (operators/GraphOps) over the triple store,
    // twinned against the GOLDEN-oracle triples dump (independent compute
    // path end to end: pure-Scala oracle emits the edges, DuckDB does the
    // traversal)
    "kg_comention" -> ((s, dir) => comentionPairs(s, dir)),
    // exact integer lift (ppm) over the co-mention pairs: the statistical
    // edge-weighting read — pairs that co-occur more than their marginals
    // predict. All int64 (float PMI is monotone in it but can't be
    // hash-gated); marginals broadcast, pairs reuse the memoized frame.
    "kg_comention_lift" -> ((s, dir) =>
      GraphOps.comentionLift(
        kg(s, dir).triples.select("subj", "pred", "obj"),
        comentionPairs(s, dir))),
    "kg_twohop_type" -> ((s, dir) =>
      GraphOps.twoHopTypes(kg(s, dir).triples.select("subj", "pred", "obj"))),
    // TransE-style filtered negative sampling (k=3) over the mention
    // edges: the deterministic modular-residue corruption makes the
    // training-data draw itself hash-gateable — md5 hex parse, 48271
    // residue, and the filtered anti-join all have identical DuckDB
    // spellings
    "kg_negatives" -> ((s, dir) =>
      GraphOps.negativeSamples(kg(s, dir).triples.select("subj", "pred", "obj"), 3)),
    // fixed-point PageRank (3 iterations) over the co-mention graph: every
    // op is int64, so the DuckDB twin — the same three iterations unrolled
    // as SQL over the golden-oracle triples — must agree BIT-EXACTLY, not
    // approximately (float PageRank can never be hash-gated across engines).
    // Edges derive from the persisted pairs memo (both orientations).
    "kg_pagerank" -> ((s, dir) => {
      val p = comentionPairs(s, dir)
      GraphOps.pageRankFp(
        p.select(col("entity_a").as("src"), col("entity_b").as("dst"))
          .unionByName(p.select(col("entity_b").as("src"), col("entity_a").as("dst"))), 3)
    }),
    // WEIGHTED PageRank (3 iterations): rank flows in proportion to
    // co-mention SUPPORT (n_turns) instead of splitting evenly — the
    // centrality that distinguishes a 50-turn association from a
    // single-turn one. (r*w) div wsum keeps every op int64 => the
    // SQL-unrolled twin must agree bit-exactly.
    "kg_pagerank_weighted" -> ((s, dir) => {
      val p = comentionPairs(s, dir)
      GraphOps.pageRankWeightedFp(
        p.select(col("entity_a").as("src"), col("entity_b").as("dst"),
            col("n_turns").as("w"))
          .unionByName(p.select(col("entity_b").as("src"),
            col("entity_a").as("dst"), col("n_turns").as("w"))), 3)
    }),
    // PERSONALIZED PageRank (3 iterations) from the 3 lexicographically
    // smallest entities in the co-mention graph — proximity-to-seeds, the
    // "related to X" read. Same int64 fixed-point arithmetic, so the
    // SQL-unrolled twin must agree bit-exactly; unreached nodes stay at
    // rank 0 (the row set is the node set — deterministic).
    "kg_ppr" -> ((s, dir) => {
      val p = comentionPairs(s, dir)
      val edges = p.select(col("entity_a").as("src"), col("entity_b").as("dst"))
        .unionByName(p.select(col("entity_b").as("src"), col("entity_a").as("dst")))
      val seeds = edges.select(col("src").as("ent")).distinct()
        .orderBy("ent").limit(3)
      GraphOps.personalizedPageRankFp(edges, seeds, 3)
    }),
    // BFS hop distance (<= 4 hops) from the same 3 seed entities over the
    // co-mention graph: multi-hop reachability WITH the hop count — the
    // "how far is every entity from X" read kg_onehop and PageRank both
    // lose. BFS levels are unique, so the engine's frontier loop and the
    // twin's recursive CTE (min over all <=4-hop walks) must agree exactly.
    "kg_bfs_dist" -> ((s, dir) => {
      val p = comentionPairs(s, dir)
      val edges = p.select(col("entity_a").as("src"), col("entity_b").as("dst"))
        .unionByName(p.select(col("entity_b").as("src"), col("entity_a").as("dst")))
      val seeds = edges.select(col("src").as("ent")).distinct()
        .orderBy("ent").limit(3)
      GraphOps.bfsDistances(edges, seeds, 4)
    }),
    // k-core (k=4) of the co-mention graph: entities that stay 4-connected
    // after weakly-attached nodes cascade away — the dense-subgraph prune.
    // The engine peels to the FIXPOINT (data-independent code, data-
    // dependent round count); the twin unrolls 6 peel rounds — peeling is
    // idempotent past convergence (3 rounds at this sf), so any unroll
    // >= convergence is exact.
    "kg_kcore" -> ((s, dir) => {
      val p = comentionPairs(s, dir)
      GraphOps.kCore(
        p.select(col("entity_a").as("src"), col("entity_b").as("dst"))
          .unionByName(p.select(col("entity_b").as("src"), col("entity_a").as("dst"))), 4)
    }),
    // DIRECTED PageRank with dangling-node mass over the turn -> entity
    // mention graph — a real directed graph exercising BOTH shapes the
    // symmetric operator cannot serve: every entity is a sink (no
    // out-edges; its mass redistributes) and every turn is a source (no
    // in-edges; it must survive each aggregate). 3 iterations, int64
    // fixed-point => BIT-EXACT vs the SQL-unrolled twin over the
    // golden-oracle triples.
    "kg_pagerank_directed" -> ((s, dir) =>
      GraphOps.pageRankDirected(
        kg(s, dir).triples.filter(col("pred") === "mentions")
          .select(col("subj").as("src"), col("obj").as("dst")), 3)),
    // degree-ordered triangle counting (clustering structure); the twin
    // enumerates id-ordered a<b<c triangles — orientation-independence of
    // the triangle set is part of what the gate checks
    "kg_triangles" -> ((s, dir) =>
      GraphOps.triangleCounts(comentionPairs(s, dir)
        .select(col("entity_a").as("a"), col("entity_b").as("b")))),
    // neighborhood-overlap similarity (related entities one hop beyond
    // co-occurrence) — the dedup layer's jaccard join over neighbor sets
    "kg_entity_sim" -> ((s, dir) =>
      GraphOps.neighborSimilarity(comentionPairs(s, dir)
        .select(col("entity_a").as("a"), col("entity_b").as("b")), 0.25)),
    "a1_count_tables" -> ((s, dir) =>
      tbl(s, dir, "documents").agg(lit("documents").as("tbl"), count(lit(1)).as("n"))
        .union(tbl(s, dir, "events").agg(lit("events").as("tbl"), count(lit(1)).as("n")))
        .union(tbl(s, dir, "embeddings").agg(lit("embeddings").as("tbl"), count(lit(1)).as("n")))),
    "a3_groupby_count" -> ((s, dir) => tbl(s, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))),
    // A6 index stats analog: the "vector index" is just the embeddings table
    "a6_index_stats" -> ((s, dir) => tbl(s, dir, "embeddings")
      .agg(count(lit(1)).as("entity_count"),
        max(size(col("embedding"))).cast("long").as("dimension"),
        countDistinct(col("label")).as("n_labels"))),
    "a4_event_rates" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(ev.agg(count(lit(1)).as("total"))))
        .select(col("event_type"), col("n"), (col("n") / col("total")).as("rate"))
    }),
    "f4_dedup_firstwins" -> ((s, dir) =>
      Dedup.firstWins(tbl(s, dir, "events"),
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_type", "event_id")),
    "w2_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id"))
      tbl(s, dir, "events").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rnk").cast("long").as("rnk"))
    }),
    "x7_levenshtein" -> ((s, dir) => tbl(s, dir, "nation")
      .crossJoin(broadcast(tbl(s, dir, "region")))
      .select(col("n_name"), col("r_name"),
        levenshtein(col("n_name"), col("r_name")).cast("long").as("lev"),
        (lit(1.0) - levenshtein(col("n_name"), col("r_name")) /
          greatest(length(col("n_name")), length(col("r_name")))).as("lev_ratio"))),
    "q1_pricing_summary" -> ((s, dir) => tbl(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", col("sum_qty") / col("count_order"))),
    "j5_multijoin_revenue" -> ((s, dir) => tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))),

    // ---- dedup family
    "dedup_exact" -> ((s, dir) => Dedup.exact(docsPlusExactCopies(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.jaccardPairs(shingleSets(s, dir), 0.6)),
    "dedup_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir)),
    // incremental dedup: new-batch (20% split) vs kept-corpus (80%) + vs
    // itself via the parquet-persisted banded signature index — old×old
    // pairs are structurally never emitted. Twin: the exhaustive jaccard
    // join restricted to pairs touching at least one new doc.
    "dedup_incremental" -> ((s, dir) => incrementalPairs(s, dir)),
    // signatures over the corpus-plus-exact-copies so near-dup pairs exist;
    // the pairs query below re-derives candidates from these very
    // signatures. md5-derived bits (round 7) => the twin recomputes the
    // full signature + band keys from the corpus — a direct hash gate
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashSignatures(docsPlusExactCopies(s, dir))),
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.simhashSignatures(docsPlusExactCopies(s, dir)), 3)
        .withColumn("hamming", col("hamming").cast("long"))),
    // transitive near-dup clustering over the verified minhash pairs (the
    // keep-one-representative step; CC machinery, driver tier at dup-graph
    // scale). Twin: recursive-CTE reachability over the {OUT} pairs dump.
    "dedup_clusters" -> ((s, dir) => Dedup.clusterReps(minhashPairs(s, dir))),
    // the DROP materialization: documents minus non-representative cluster
    // members — the kept corpus an actual dedup pipeline writes out.
    // Twin: anti-join over the hash-gated {OUT}/dedup_clusters dump.
    "dedup_kept_docs" -> ((s, dir) =>
      Dedup.keepRepresentatives(
          tbl(s, dir, "documents").select("doc_id", "n_chars"),
          Dedup.clusterReps(minhashPairs(s, dir)))),
    // the CAPSTONE composition a pretraining corpus-prep pipeline runs
    // end-to-end: quality filter -> language tag -> exact-dup drop
    // (keep min-id per md5 group) -> near-dup drop (cluster non-reps).
    // Every stage is an already-gated operator; the composition is one
    // declarative plan (scan-shaped filters + dup-graph-sized anti joins).
    "corpus_clean" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val q = TextStats.quality(docs).filter(col("keep"))
        .select("doc_id", "n_words")
      val lang = TextStats.langId(docs).select(col("doc_id"), col("predicted_lang"))
      val exactReps = Dedup.exact(docs).select(col("rep_id").as("doc_id"))
      val cleaned = Dedup.keepRepresentatives(
        q.join(lang, "doc_id").join(exactReps, Seq("doc_id"), "left_semi"),
        Dedup.clusterReps(minhashPairs(s, dir)))
      cleaned.select("doc_id", "predicted_lang", "n_words")
    }),
    // the capstone plus the Gopher repetition stage — the full modern
    // pretraining filter chain (quality -> langid -> exact-dup -> near-dup
    // -> repetition). Twin recomposes the two already-hash-gated {OUT}
    // dumps, so this gate checks the COMPOSITION, the established
    // dedup_kept_docs pattern. Still one declarative plan: the repetition
    // keep is scan-shaped and semi-joins the cleaned id set.
    "corpus_clean_rep" -> ((s, dir) => {
      val rep = TextStats.repetitionStats(tbl(s, dir, "documents"))
        .filter(col("keep")).select("doc_id")
      queries("corpus_clean")(s, dir).join(rep, Seq("doc_id"), "left_semi")
    }),
    // capstone v3 — the COMPLETE modern pretraining filter chain: quality
    // -> langid -> exact-dup -> near-dup -> repetition -> full Gopher
    // signal set -> SemDeDup semantic prune (vec_id == doc_id in the
    // fixtures, so the embedding-space decision lands back on documents).
    // Twin recomposes three already-hash-gated {OUT} dumps; still one
    // declarative plan engine-side (two more scan-shaped semi-joins).
    "corpus_clean_v3" -> ((s, dir) => {
      val gop = TextStats.gopherStats(tbl(s, dir, "documents"), minStop = 1)
        .filter(col("keep")).select("doc_id")
      val sem = queries("dedup_semantic")(s, dir)
        .filter(col("kept")).select(col("vec_id").as("doc_id"))
      queries("corpus_clean_rep")(s, dir)
        .join(gop, Seq("doc_id"), "left_semi")
        .join(sem, Seq("doc_id"), "left_semi")
    }),
    // SemDeDup cluster-then-prune semantic dedup over the embedding corpus
    // plus the planted probes (so true semantic near-dups exist): reuses
    // THE memoized IVF quantizer (same {AUX}-dumped centroid model the
    // ann_ivf_topk twin re-derives from), enumerates pairs within cells
    // only, keeps min-id reps. Twin re-derives assignment, in-cell cosine
    // pairs, recursive-CTE clusters, and the kept flag end to end.
    "dedup_semantic" -> ((s, dir) => {
      val (model, cells) = ivfIndex(s, dir)
      val probes = Similarity.ivfAssign(plantedProbes(s, dir), model)
      Similarity.semanticDedup(cells.unionByName(probes), 0.99)
    }),
    "dedup_embed_cosine" -> ((s, dir) =>
      Similarity.cosineNearDup(prepEmb(s, dir), plantedProbes(s, dir), 0.99)),
    // corpus-SELF near-dup via sign-LSH buckets + exact-cosine verify (the
    // quadratic-free 100TB shape; the probe variant above broadcasts a small
    // query side instead). Corpus = embeddings ∪ planted perturbed probes so
    // true near-dup pairs exist; oracle twin is the exhaustive a<b join.
    "dedup_embed_lsh" -> ((s, dir) =>
      Similarity.lshNearDupPairs(prepEmb(s, dir).union(plantedProbes(s, dir)), 0.99)),

    // ---- similarity search
    "ann_brute_topk" -> ((s, dir) => {
      val corpus = prepEmb(s, dir)
      Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 10), 5)
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      val (model, cells) = ivfIndex(s, dir)
      Similarity.ivfTopKAssigned(cells, model, prepEmb(s, dir).filter(col("vec_id") < 10), 5)
    }),
    // recall@5 of the IVF approximation against its exact brute-force twin,
    // per query vector — the quality gate for the approximate path
    "ann_ivf_recall" -> ((s, dir) => {
      val corpus = prepEmb(s, dir)
      val q = corpus.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(corpus, q, 5).select(col("qid"), col("vec_id"))
      val (model, cells) = ivfIndex(s, dir)
      val ivf = Similarity.ivfTopKAssigned(cells, model, q, 5)
        .select(col("qid").as("iq"), col("vec_id").as("iv"))
      brute.join(ivf, col("qid") === col("iq") && col("vec_id") === col("iv"), "left_outer")
        .groupBy("qid").agg((count(col("iv")) / lit(5.0)).as("recall_at_5"))
    }),

    // ---- text analysis
    "text_token_count" -> ((s, dir) => TextStats.tokenCounts(tbl(s, dir, "documents"))),
    "text_quality" -> ((s, dir) => TextStats.quality(tbl(s, dir, "documents"))),
    "text_langid" -> ((s, dir) => TextStats.langId(tbl(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) => TextStats.contentFingerprint(tbl(s, dir, "documents"))),
    // Gopher repetition filters, exact-integer spelling; the twin computes
    // the top bigram relationally (group + window) where the engine folds a
    // sorted array — two independent spellings of (count DESC, gram ASC)
    "text_repetition" -> ((s, dir) => TextStats.repetitionStats(tbl(s, dir, "documents"))),
    // the REMAINING Gopher quality signals (mean-word-length band,
    // symbol-to-word ratio, bullet/ellipsis line fractions, stop-word
    // presence) — completes Rae et al. §A1.1 next to text_quality and
    // text_repetition; all-int64 cross-multiplied keep arms. minStop = 1
    // here: the synthetic vocabulary carries only one of the paper's 8
    // function words, and 1 is the setting where the signal discriminates
    // (382 keep / 118 drop at sf0.01 — both arms live); the paper's 2-of-8
    // default presumes natural English and is spec-gated separately
    "text_gopher" -> ((s, dir) =>
      TextStats.gopherStats(tbl(s, dir, "documents"), minStop = 1)),
    // PII scrub over the planted fixture: counts + the redacted text itself
    // are hashed (regexes shared verbatim with the RE2 twin, the cjkPattern
    // discipline)
    "text_pii_scrub" -> ((s, dir) => TextStats.piiScrub(piiDocsTbl(s, dir))),
    "text_winnow_fp" -> ((s, dir) => TextStats.winnowFingerprint(tbl(s, dir, "documents"))),
    // per-doc positional gram hashes — the {OUT} dump whose DuckDB windowed
    // re-derivation gates text_winnow_fp; with the 40-bit md5 spelling
    // (round 7) the dump is ALSO directly gated: the twin recomputes every
    // (pos, hash) from the documents table itself
    "text_gram_hashes" -> ((s, dir) => TextStats.gramHashFrame(tbl(s, dir, "documents"))),

    // ---- zh/mixed text-operator gates (round-5: the KG pipeline was CJK-
    // capable since r4 but the text OPERATORS tokenized whitespace-only, so
    // unsegmented zh — the reference's own corpus language — degraded
    // silently: one giant token per sentence run. These four run the
    // CJK-aware tokenizer (TextOps.cjkPattern, shared verbatim with the
    // DuckDB twins as a RE2 literal) over the zh/en mixed documents fixture.
    "text_token_count_zh" -> ((s, dir) => TextStats.tokenCounts(zhDocsTbl(s, dir))),
    "text_quality_zh" -> ((s, dir) =>
      TextStats.quality(zhDocsTbl(s, dir), cjk = true, stopList = TextStats.zhStopchars)),
    "corpus_top_terms_zh" -> ((s, dir) =>
      graft.operators.Corpus.topTerms(zhDocsTbl(s, dir), 50, cjk = true)),
    // char-3-gram jaccard over the CJK tokens: the planted zh near-dup
    // pairs are invisible to whitespace shingles (each doc is ~3 giant
    // tokens) and ~0.9 jaccard at char grain
    "dedup_ngram_jaccard_zh" -> ((s, dir) =>
      Dedup.jaccardPairs(
        Dedup.shingleSets(zhDocsTbl(s, dir), n = 3, maxDf = 100L, cjk = true), 0.5)),

    // ---- corpus preparation (pretraining-batch shaping)
    "corpus_pack_blocks" -> ((s, dir) =>
      graft.operators.Corpus.packBlocks(tbl(s, dir, "documents"), 256L)),
    "corpus_split_counts" -> ((s, dir) =>
      graft.operators.Corpus.splitCounts(tbl(s, dir, "documents"))),
    "corpus_top_terms" -> ((s, dir) =>
      graft.operators.Corpus.topTerms(tbl(s, dir, "documents"), 100)),
    // the BPE/WordPiece greedy-merge counting step: most frequent adjacent
    // token pairs (one tokenizer-training round over the full corpus)
    "corpus_top_pairs" -> ((s, dir) =>
      graft.operators.Corpus.topPairs(tbl(s, dir, "documents"), 50)),
    // the full iterative BPE TRAINING loop (6 greedy merge rounds over the
    // word-frequency table, merges applied between rounds); the twin
    // unrolls the identical 6 rounds in SQL — deterministic tie-breaks
    // make the whole merge table hash-gateable
    "corpus_bpe_merges" -> ((s, dir) =>
      graft.operators.Corpus.bpeMerges(tbl(s, dir, "documents"), 6)),
    // deterministic data-mixing sample: per-language keep rates (upsample
    // de, downsample fr, default 10%) via the split-hash residue — a pure
    // scan-pushed filter, rerun-stable on any engine
    "corpus_sample_mix" -> ((s, dir) =>
      graft.operators.Corpus.sampleMix(tbl(s, dir, "documents"),
        Map("en" -> 50, "de" -> 100, "fr" -> 25))),
    // train->benchmark decontamination over winnow fingerprints; input
    // plants split-crossing exact copies (see docsPlusShiftedCopies)
    "text_contamination" -> ((s, dir) =>
      TextStats.contaminationPairs(docsPlusShiftedCopies(s, dir))),

    // ---- multimodal plumbing: REAL container parsing for all three
    // families — ImageIO decode for image rows, AudioSystem (RIFF/WAVE
    // header) parse for audio rows, and an ISO-BMFF box walk (mvhd/tkhd/
    // stsz/mdat) for video rows. Every fixture encodes text-derived
    // parameters (dims; sample rate + frame count; timescale + frame
    // sizes), so the oracle predicts them from the text column while the
    // engine must recover them from the container bytes. n_bytes is
    // excluded from the gated projection — a PNG/WAV/BMFF payload's
    // encoded length is not SQL-expressible (it still rides on
    // MediaFeatures, spec-checked).
    "mm_decode" -> ((s, dir) => {
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.fromDocuments(tbl(s, dir, "documents")))
        .toDF().select("doc_id", "mime", "width", "height", "n_frames",
          "sample_rate", "duration_ms")
    }),
    // REAL image resize (fit-within-16 box): targets are integer arithmetic
    // the twin predicts from the text-derived dims; the engine's reported
    // new dims come from DECODING its own re-encoded payload, so the gate
    // fails if the raster written is not the raster promised
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resizeImages(Multimodal.fromDocuments(tbl(s, dir, "documents")), 16)
        .toDF().select("doc_id", "width", "height", "new_width", "new_height")
    }),
    // video frame decimation (every 4th 64-byte frame of the stub payload):
    // the sampling structure (which frames, what sizes) is the SQL-gated
    // part; frame checksums are spec-pinned (byte folds of multi-byte text
    // are not SQL-expressible)
    "mm_frame_sample" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.fromDocuments(tbl(s, dir, "documents")))
        .toDF().select("doc_id", "frame_idx", "n_bytes")
    })
  )

  // -------------------------------------------------------------- oracleSql

  /** DuckDB twins.
    *
    * Three path tokens are substituted by Verify at dump time (the SQL is
    * driver-executed later against the same filesystem):
    *  - `{ORA}`: the golden-oracle parquet dir (pure-Scala reference math,
    *    materialized by Verify next to its output dir) — gives the kg_*
    *    north-star queries real rows+schema+hash gates instead of rows-only;
    *  - `{OUT}`: Verify's own output dir, for twins that verify a derived
    *    quantity over an engine dump (IVF recall vs the exact twin;
    *    simhash banded pairs re-derived from the dumped signatures;
    *    winnow summaries re-derived from the dumped gram hashes);
    *  - `{AUX}`: engine-derived model artifacts (SparkEntry.dumpAux) that
    *    are inputs, not outputs — the IVF centroid table, from which the
    *    ann_ivf_topk twin re-derives assignment, probing, and top-k.
    * Every query has a twin: the last two rows-only surfaces (simhash
    * signatures, positional gram hashes) moved from murmur to the portable
    * md5 spelling in round 7, so DuckDB recomputes them from the corpus
    * directly. */
  def oracleSql: Map[String, String] = {
    val jaccardSql =
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
        |                               for i in generate_series(1, len(ws)-2)])) AS shingle
        |  FROM w),
        |dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
        |s AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle) WHERE df <= 50),
        |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
        |i AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cnt
        |  FROM s a JOIN s b USING (shingle)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cnt / (sa.sz + sb.sz - cnt) AS jaccard
        |FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        |WHERE cnt / (sa.sz + sb.sz - cnt) >= 0.6""".stripMargin

    val langHits = TextStats.langMarkers.map { case (lang, ms) =>
      val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(ws, x -> list_contains($lst, x)))::BIGINT AS hits_$lang"
    }.mkString(",\n         ")
    val langs = TextStats.langMarkers.map(_._1)
    val langCase = langs.map { lang =>
      val earlier = langs.takeWhile(_ != lang).map(m => s"hits_$lang > hits_$m")
      val later = langs.dropWhile(_ != lang).drop(1).map(m => s"hits_$lang >= hits_$m")
      val conds = (s"hits_$lang > 0" +: (earlier ++ later)).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    val stopList = TextStats.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

    Map(
      "s1_scan_order" ->
        "SELECT doc_id, source, n_chars FROM documents ORDER BY n_chars DESC, doc_id",
      "s2_point_lookup" ->
        "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id IN (7, 42, 123)",
      "s3_filter_type" ->
        "SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'",
      "s5_upsert_keeplatest" ->
        ("SELECT doc_id, n_chars, ver FROM (" +
          "SELECT doc_id, n_chars, ver, " +
          "row_number() OVER (PARTITION BY doc_id ORDER BY ver DESC) AS rn FROM (" +
          "SELECT doc_id, n_chars, 0::BIGINT AS ver FROM documents " +
          "UNION ALL SELECT doc_id, n_chars + 8, 1::BIGINT FROM documents WHERE doc_id % 10 = 0" +
          ")) WHERE rn = 1"),
      "s4_substring_search" ->
        "SELECT doc_id, n_chars FROM documents WHERE text LIKE '%spark%' ORDER BY doc_id LIMIT 100",
      "s7_onehop_join" ->
        ("SELECT event_id, user_id, c_name, value FROM events " +
          "JOIN customer ON user_id = c_custkey WHERE event_type = 'error'"),
      "j6_bucketed_onehop" ->
        ("SELECT event_id, user_id, c_name, value FROM events " +
          "JOIN customer ON user_id = c_custkey WHERE event_type = 'error'"),
      "s9_history_topn" ->
        "SELECT event_id, event_type, value FROM events ORDER BY ts DESC, event_id LIMIT 50",
      // independent spelling: DuckDB's NATIVE ASOF JOIN operator vs the
      // engine's union+window plan (ties impossible: per-user event
      // timestamps are distinct in the fixture, and the engine side is
      // deterministic under ties regardless via the payload sort key)
      "ev_asof_join" ->
        ("SELECT l.event_id, l.user_id, r.event_id AS view_event_id, " +
          "r.value AS view_value, epoch_ms(l.ts) - epoch_ms(r.ts) AS lag_ms " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
          "ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
          "ON l.user_id = r.user_id AND l.ts >= r.ts"),
      "ev_asof_left" ->
        ("SELECT l.event_id, l.user_id, r.event_id AS view_event_id, " +
          "r.value AS view_value, epoch_ms(l.ts) - epoch_ms(r.ts) AS lag_ms " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
          "ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
          "ON l.user_id = r.user_id AND l.ts >= r.ts"),
      // independent spelling: plain inequality join (DuckDB handles the
      // small scale fine) vs the engine's bucketed equi-join + exact filter
      "ev_range_join" ->
        ("SELECT l.event_id, l.user_id, count(*) AS n_views, " +
          "min(epoch_ms(l.ts) - epoch_ms(r.ts)) AS min_lag_ms, " +
          "max(epoch_ms(l.ts) - epoch_ms(r.ts)) AS max_lag_ms " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
          "JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
          "ON l.user_id = r.user_id " +
          "AND r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts " +
          "GROUP BY 1, 2"),
      // the naive-SQL spelling the optimizer rule rewrites engine-side;
      // here it IS the naive plan — micros-grain literal bounds, same
      // window as ev_range_join
      "ev_range_join_sql" ->
        ("SELECT c.event_id, c.user_id, count(*) AS n_views, " +
          "min(epoch_ms(c.ts) - epoch_ms(v.ts)) AS min_lag_ms, " +
          "max(epoch_ms(c.ts) - epoch_ms(v.ts)) AS max_lag_ms " +
          "FROM (SELECT event_id, user_id, epoch_us(ts) AS tus, ts " +
          "      FROM events WHERE event_type = 'click') c " +
          "JOIN (SELECT user_id, epoch_us(ts) AS tus, ts " +
          "      FROM events WHERE event_type = 'view') v " +
          "ON c.user_id = v.user_id " +
          "AND v.tus >= c.tus - 3600000000 " +
          "AND v.tus <= c.tus " +
          "GROUP BY 1, 2"),
      // the INTERVAL spelling (timestamp-domain rule path); DuckDB runs the
      // same naive SQL natively
      "ev_range_join_sql_ts" ->
        ("SELECT c.event_id, c.user_id, count(*) AS n_views, " +
          "min(epoch_ms(c.ts) - epoch_ms(v.ts)) AS min_lag_ms, " +
          "max(epoch_ms(c.ts) - epoch_ms(v.ts)) AS max_lag_ms " +
          "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c " +
          "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v " +
          "ON c.user_id = v.user_id " +
          "AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts " +
          "GROUP BY 1, 2"),
      "ev_hourly_rollup" ->
        ("SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS hour_ms, " +
          "count(*) AS n, " +
          "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value " +
          "FROM events GROUP BY 1, 2"),
      "ev_value_quartiles" ->
        ("""WITH r AS (
          |  SELECT event_type, value, event_id,
          |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n
          |  FROM events)
          |SELECT event_type,
          |  CASE WHEN rn = ceil(n * 0.25) THEN 'p25'
          |       WHEN rn = ceil(n * 0.50) THEN 'p50'
          |       WHEN rn = ceil(n * 0.75) THEN 'p75' END AS q,
          |  value
          |FROM r
          |WHERE rn = ceil(n * 0.25) OR rn = ceil(n * 0.50) OR rn = ceil(n * 0.75)""").stripMargin,
      // session_idx cast: DuckDB types a window sum over INT as HUGEINT,
      // which the type-sensitive hash compare would reject even with equal
      // values; BIGINT matches the engine column. (Audit note: the other
      // twins' window sums / `//` divisions are all already ::BIGINT-cast —
      // corpus_pack_blocks, kg_pagerank, mm_decode, dedup_simhash_pairs.)
      "ev_sessions" ->
        ("""WITH o AS (
          |  SELECT user_id, ts, event_id, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 28800000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (
          |  SELECT user_id, ts, event_id, value,
          |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          |  FROM o)
          |SELECT user_id, session_idx, count(*) AS n_events,
          |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM s GROUP BY 1, 2""").stripMargin,
      "kg_comention" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions')
          |SELECT a.ent AS entity_a, b.ent AS entity_b, count(*) AS n_turns
          |FROM m a JOIN m b ON a.turn = b.turn AND a.ent < b.ent
          |GROUP BY 1, 2""").stripMargin,
      // lift in integer ppm: every operand BIGINT, `//` floor division —
      // bit-exact across engines (a float PMI could never be)
      "kg_comention_lift" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |p AS (SELECT a.ent AS entity_a, b.ent AS entity_b, count(*) AS c_ab
          |      FROM m a JOIN m b ON a.turn = b.turn AND a.ent < b.ent
          |      GROUP BY 1, 2),
          |c AS (SELECT ent, count(*) AS c FROM m GROUP BY 1),
          |n AS (SELECT count(DISTINCT turn) AS n_turns FROM m)
          |SELECT p.entity_a, p.entity_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
          |  n.n_turns,
          |  CAST((p.c_ab * n.n_turns * 1000000) // (ca.c * cb.c) AS BIGINT) AS lift_ppm
          |FROM p JOIN c ca ON ca.ent = p.entity_a
          |       JOIN c cb ON cb.ent = p.entity_b CROSS JOIN n""").stripMargin,
      "kg_pagerank" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |e AS (
          |  SELECT DISTINCT a.ent AS src, b.ent AS dst
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent <> b.ent),
          |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
          |c AS (SELECT 1000000000000 // count(*) AS r0,
          |             (15 * (1000000000000 // count(*))) // 100 AS tele FROM d),
          |r0 AS (SELECT src AS ent, (SELECT r0 FROM c) AS rank FROM d),
          |r1 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum(r.rank // d.deg)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r0 r ON r.ent = e.src GROUP BY e.dst),
          |r2 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum(r.rank // d.deg)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r1 r ON r.ent = e.src GROUP BY e.dst),
          |r3 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum(r.rank // d.deg)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r2 r ON r.ent = e.src GROUP BY e.dst)
          |SELECT ent, CAST(rank AS BIGINT) AS rank_fp FROM r3""").stripMargin,
      // filtered negative sampling: identical md5-hex residue arithmetic
      // ('0x' || hex-substr casts to BIGINT in DuckDB; conv(,16,10) in
      // Spark), identical dense entity indexing (row_number over ent ASC),
      // identical filtered setting (self + existing-positive corruptions
      // dropped)
      "kg_negatives" ->
        ("""WITH pos AS (
          |  SELECT subj, obj
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |ents AS (SELECT ent, row_number() OVER (ORDER BY ent) - 1 AS eidx
          |         FROM (SELECT DISTINCT obj AS ent FROM pos)),
          |nn AS (SELECT count(*) AS n FROM ents),
          |w AS (SELECT subj, obj,
          |        CAST('0x' || substr(md5(subj || '|' || obj), 1, 10) AS BIGINT) AS hkey
          |      FROM pos),
          |jj AS (SELECT subj, obj, hkey, unnest(generate_series(1, 3)) AS j FROM w),
          |c AS (SELECT subj, obj, CAST(j AS BIGINT) AS j,
          |        (hkey * 48271 + j * 1009) % (SELECT n FROM nn) AS nidx
          |      FROM jj)
          |SELECT c.subj, c.obj, c.j, e.ent AS obj_neg
          |FROM c JOIN ents e ON e.eidx = c.nidx
          |WHERE e.ent <> c.obj
          |  AND NOT EXISTS (SELECT 1 FROM pos p
          |                  WHERE p.subj = c.subj AND p.obj = e.ent)""").stripMargin,
      // weighted PageRank, 3 iterations unrolled: contributions scale by
      // the co-mention support w over the src's weight total — all-integer
      // ((r*w) // wsum), so equality is exact
      "kg_pagerank_weighted" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |e AS (
          |  SELECT a.ent AS src, b.ent AS dst, count(*) AS w
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent <> b.ent
          |  GROUP BY 1, 2),
          |d AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
          |c AS (SELECT 1000000000000 // count(*) AS r0,
          |             (15 * (1000000000000 // count(*))) // 100 AS tele FROM d),
          |r0 AS (SELECT src AS ent, (SELECT r0 FROM c) AS rank FROM d),
          |r1 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum((r.rank * e.w) // d.wsum)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r0 r ON r.ent = e.src GROUP BY e.dst),
          |r2 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum((r.rank * e.w) // d.wsum)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r1 r ON r.ent = e.src GROUP BY e.dst),
          |r3 AS (SELECT e.dst AS ent,
          |         (SELECT tele FROM c) + (85 * sum((r.rank * e.w) // d.wsum)) // 100 AS rank
          |       FROM e JOIN d USING (src) JOIN r2 r ON r.ent = e.src GROUP BY e.dst)
          |SELECT ent, CAST(rank AS BIGINT) AS rank_fp FROM r3""").stripMargin,
      // k-core by 6 unrolled peel rounds (fixpoint at round 3 for this
      // corpus; extra rounds are no-ops because peeling is idempotent past
      // convergence) — each round keeps edges whose BOTH endpoints had
      // degree >= 4 in the previous round, the same simultaneous semantics
      // the engine loop implements. The twin ASSERTS its own unroll depth
      // sufficed: peeling only removes edges, so |e5| == |e6| iff the
      // fixpoint was reached within the unroll — if not, a poison row
      // makes the gate fail READABLY as a twin-depth limit, not as a
      // mysterious engine diff.
      "kg_kcore" -> {
        val peel = (1 to 6).map { i =>
          s"""e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  WHERE e.src IN (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 4)
             |    AND e.dst IN (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 4))""".stripMargin
        }.mkString(",\n")
        s"""WITH m AS (
           |  SELECT subj AS turn, obj AS ent
           |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
           |e0 AS (
           |  SELECT DISTINCT a.ent AS src, b.ent AS dst
           |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent <> b.ent),
           |$peel
           |SELECT src AS ent, count(*) AS core_deg FROM e6 GROUP BY 1
           |UNION ALL
           |SELECT 'TWIN_UNROLL_TOO_SHALLOW_NOT_CONVERGED', -1::BIGINT
           |WHERE (SELECT count(*) FROM e5) <> (SELECT count(*) FROM e6)""".stripMargin
      },
      // BFS distances by recursive CTE: UNION (not UNION ALL) bounds the
      // walk state at nodes x depths, and min(dist) over all <=4-hop walks
      // IS the BFS level — an independent spelling of the engine's
      // frontier-expansion loop. Same 3 lexicographic seeds as kg_ppr.
      "kg_bfs_dist" ->
        ("""WITH RECURSIVE m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |e AS (
          |  SELECT DISTINCT a.ent AS src, b.ent AS dst
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent <> b.ent),
          |seeds AS (SELECT DISTINCT src AS ent FROM e ORDER BY ent LIMIT 3),
          |walk(ent, dist) AS (
          |  SELECT ent, 0 AS dist FROM seeds
          |  UNION
          |  SELECT e.dst AS ent, w.dist + 1 AS dist
          |  FROM walk w JOIN e ON e.src = w.ent WHERE w.dist < 4)
          |SELECT ent, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY ent""").stripMargin,
      // personalized PageRank, 3 iterations unrolled: teleport only to the
      // 3 smallest entity ids; every op integer => exact. Non-seed nodes
      // start (and may stay) at 0; the LEFT joins keep the full node set.
      "kg_ppr" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |e AS (
          |  SELECT DISTINCT a.ent AS src, b.ent AS dst
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent <> b.ent),
          |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
          |seeds AS (SELECT DISTINCT src AS ent FROM e ORDER BY ent LIMIT 3),
          |c AS (SELECT 1000000000000 // count(*) AS r0,
          |             (15 * (1000000000000 // count(*))) // 100 AS tele FROM seeds),
          |n0 AS (SELECT src AS ent,
          |         src IN (SELECT ent FROM seeds) AS is_seed FROM d),
          |r0t AS (SELECT ent,
          |          CASE WHEN is_seed THEN (SELECT r0 FROM c) ELSE 0 END AS rank
          |        FROM n0),
          |s1 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r0t r ON r.ent = e.src GROUP BY e.dst),
          |r1 AS (SELECT n0.ent,
          |         (CASE WHEN n0.is_seed THEN (SELECT tele FROM c) ELSE 0 END)
          |           + (85 * coalesce(s1.s, 0)) // 100 AS rank
          |       FROM n0 LEFT JOIN s1 USING (ent)),
          |s2 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r1 r ON r.ent = e.src GROUP BY e.dst),
          |r2 AS (SELECT n0.ent,
          |         (CASE WHEN n0.is_seed THEN (SELECT tele FROM c) ELSE 0 END)
          |           + (85 * coalesce(s2.s, 0)) // 100 AS rank
          |       FROM n0 LEFT JOIN s2 USING (ent)),
          |s3 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r2 r ON r.ent = e.src GROUP BY e.dst),
          |r3 AS (SELECT n0.ent,
          |         (CASE WHEN n0.is_seed THEN (SELECT tele FROM c) ELSE 0 END)
          |           + (85 * coalesce(s3.s, 0)) // 100 AS rank
          |       FROM n0 LEFT JOIN s3 USING (ent))
          |SELECT ent, CAST(rank AS BIGINT) AS rank_fp FROM r3""").stripMargin,
      // directed PageRank with dangling mass, 3 iterations unrolled: nodes =
      // turns ∪ entities; entities are dangling (their summed rank, divided
      // by N, joins the 85% term); turns have no in-edges (LEFT join keeps
      // them at tele + 85*dshare). All-integer => exact; final CAST because
      // DuckDB types sums/`//` as HUGEINT.
      "kg_pagerank_directed" ->
        ("""WITH e AS (
          |  SELECT subj AS src, obj AS dst
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |nodes AS (SELECT src AS ent FROM e UNION SELECT dst FROM e),
          |c AS (SELECT count(*) AS n, 1000000000000 // count(*) AS r0,
          |             (15 * (1000000000000 // count(*))) // 100 AS tele FROM nodes),
          |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
          |r0t AS (SELECT ent, (SELECT r0 FROM c) AS rank FROM nodes),
          |ds1 AS (SELECT coalesce(sum(rank), 0) // (SELECT n FROM c) AS dshare
          |        FROM r0t LEFT JOIN d ON r0t.ent = d.src WHERE d.src IS NULL),
          |s1 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r0t r ON r.ent = e.src GROUP BY e.dst),
          |r1 AS (SELECT nodes.ent, (SELECT tele FROM c)
          |         + (85 * (coalesce(s1.s, 0) + (SELECT dshare FROM ds1))) // 100 AS rank
          |       FROM nodes LEFT JOIN s1 USING (ent)),
          |ds2 AS (SELECT coalesce(sum(rank), 0) // (SELECT n FROM c) AS dshare
          |        FROM r1 LEFT JOIN d ON r1.ent = d.src WHERE d.src IS NULL),
          |s2 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r1 r ON r.ent = e.src GROUP BY e.dst),
          |r2 AS (SELECT nodes.ent, (SELECT tele FROM c)
          |         + (85 * (coalesce(s2.s, 0) + (SELECT dshare FROM ds2))) // 100 AS rank
          |       FROM nodes LEFT JOIN s2 USING (ent)),
          |ds3 AS (SELECT coalesce(sum(rank), 0) // (SELECT n FROM c) AS dshare
          |        FROM r2 LEFT JOIN d ON r2.ent = d.src WHERE d.src IS NULL),
          |s3 AS (SELECT e.dst AS ent, sum(r.rank // d.deg) AS s
          |       FROM e JOIN d USING (src) JOIN r2 r ON r.ent = e.src GROUP BY e.dst),
          |r3 AS (SELECT nodes.ent, (SELECT tele FROM c)
          |         + (85 * (coalesce(s3.s, 0) + (SELECT dshare FROM ds3))) // 100 AS rank
          |       FROM nodes LEFT JOIN s3 USING (ent))
          |SELECT ent, CAST(rank AS BIGINT) AS rank_fp FROM r3""").stripMargin,
      "kg_entity_sim" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |und AS (
          |  SELECT DISTINCT a.ent AS a, b.ent AS b
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent < b.ent),
          |nb AS (SELECT a AS ent, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
          |sz AS (SELECT ent, count(*) AS sz FROM nb GROUP BY ent),
          |i AS (
          |  SELECT x.ent AS ea, y.ent AS eb, count(*) AS cnt
          |  FROM nb x JOIN nb y ON x.nbr = y.nbr AND x.ent < y.ent
          |  GROUP BY 1, 2)
          |SELECT ea AS entity_a, eb AS entity_b,
          |       cnt / (sa.sz + sb.sz - cnt) AS jaccard
          |FROM i JOIN sz sa ON sa.ent = ea JOIN sz sb ON sb.ent = eb
          |WHERE cnt / (sa.sz + sb.sz - cnt) >= 0.25""").stripMargin,
      "kg_triangles" ->
        ("""WITH m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions'),
          |und AS (
          |  SELECT DISTINCT a.ent AS a, b.ent AS b
          |  FROM m a JOIN m b ON a.turn = b.turn AND a.ent < b.ent),
          |tri AS (
          |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
          |  FROM und e1
          |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
          |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
          |corners AS (
          |  SELECT x AS ent FROM tri
          |  UNION ALL SELECT y FROM tri
          |  UNION ALL SELECT z FROM tri)
          |SELECT ent, count(*) AS n_triangles FROM corners GROUP BY ent""").stripMargin,
      "kg_twohop_type" ->
        ("""WITH t AS (
          |  SELECT subj AS ent, obj AS entity_type
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'type'),
          |m AS (
          |  SELECT subj AS turn, obj AS ent
          |  FROM read_parquet('{ORA}/kg_triples/*.parquet') WHERE pred = 'mentions')
          |SELECT entity_type, count(*) AS n_mentions, count(DISTINCT turn) AS n_turns
          |FROM m JOIN t USING (ent) GROUP BY 1""").stripMargin,
      "a1_count_tables" ->
        ("SELECT 'documents' AS tbl, count(*) AS n FROM documents " +
          "UNION ALL SELECT 'events', count(*) FROM events " +
          "UNION ALL SELECT 'embeddings', count(*) FROM embeddings"),
      "a3_groupby_count" ->
        "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
      "a6_index_stats" ->
        ("SELECT count(*) AS entity_count, max(len(embedding))::BIGINT AS dimension, " +
          "count(DISTINCT label) AS n_labels FROM embeddings"),
      "a4_event_rates" ->
        ("SELECT event_type, count(*) AS n, " +
          "count(*) / (SELECT count(*) FROM events) AS rate FROM events GROUP BY event_type"),
      "f4_dedup_firstwins" ->
        ("SELECT user_id, event_type, event_id FROM (" +
          "SELECT user_id, event_type, event_id, " +
          "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn " +
          "FROM events) WHERE rn = 1"),
      "w2_topk_per_group" ->
        ("SELECT event_type, event_id, value, rnk FROM (" +
          "SELECT event_type, event_id, value, " +
          "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk " +
          "FROM events) WHERE rnk <= 3"),
      "x7_levenshtein" ->
        ("SELECT n_name, r_name, levenshtein(n_name, r_name)::BIGINT AS lev, " +
          "1.0 - levenshtein(n_name, r_name) / greatest(length(n_name), length(r_name)) AS lev_ratio " +
          "FROM nation CROSS JOIN region"),
      "q1_pricing_summary" ->
        ("SELECT l_returnflag, l_linestatus, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty, " +
          "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price, " +
          "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price, " +
          "count(*) AS count_order, " +
          "CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
      "j5_multijoin_revenue" ->
        ("SELECT n_name, " +
          "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue, " +
          "count(*) AS n " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey " +
          "GROUP BY n_name"),
      "dedup_exact" ->
        ("SELECT md5(text) AS text_md5, min(doc_id) AS rep_id, count(*) AS n_dups FROM (" +
          "SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0" +
          ") GROUP BY md5(text)"),
      "dedup_ngram_jaccard" -> jaccardSql,
      "dedup_minhash_lsh" -> jaccardSql, // LSH recall is 1 at tau=0.6 on this corpus
      // the exhaustive pair set minus both-old pairs (non-negative doc_ids
      // make the bare % the same residue as the engine's pmod)
      "dedup_incremental" ->
        (s"SELECT doc_a, doc_b, jaccard FROM ($jaccardSql) " +
          "WHERE NOT ((doc_a * 48271) % 100 < 80 AND (doc_b * 48271) % 100 < 80)"),
      // independent re-derivation of the transitive clusters: recursive-CTE
      // reachability over the (already hash-gated) engine pair dump, rep =
      // min reachable id — gates the CC clustering logic itself
      "dedup_clusters" ->
        """WITH RECURSIVE e AS (
          |  SELECT doc_a AS a, doc_b AS b FROM read_parquet('{OUT}/dedup_minhash_lsh/*.parquet')
          |  UNION
          |  SELECT doc_b, doc_a FROM read_parquet('{OUT}/dedup_minhash_lsh/*.parquet')),
          |reach(a, b) AS (
          |  SELECT a, b FROM e
          |  UNION
          |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
          |SELECT a AS doc_id, least(a, min(b)) AS rep_id FROM reach GROUP BY a""".stripMargin,
      "dedup_kept_docs" ->
        ("SELECT doc_id, n_chars FROM documents WHERE doc_id NOT IN (" +
          "SELECT doc_id FROM read_parquet('{OUT}/dedup_clusters/*.parquet') " +
          "WHERE doc_id <> rep_id)"),
      // capstone composition: quality keep + langid + exact-rep semi +
      // near-dup anti, recomposed stage-by-stage from the gated twins
      "corpus_clean" ->
        (s"""WITH w AS (SELECT doc_id, text,
            |  list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
            |f AS (SELECT doc_id,
            |  length(text)::BIGINT AS n_chars,
            |  len(ws)::BIGINT AS n_words,
            |  list_sum([length(x)::BIGINT for x in ws])::BIGINT AS sum_len,
            |  length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::BIGINT AS n_punct
            |  FROM w),
            |keepers AS (SELECT doc_id, n_words FROM f
            |  WHERE n_words >= 5 AND sum_len / n_words <= 12.0 AND n_punct / n_chars <= 0.2),
            |wl AS (SELECT doc_id,
            |  list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws FROM documents),
            |h AS (SELECT doc_id,
            |         $langHits
            |      FROM wl),
            |lang AS (SELECT doc_id, $langCase AS predicted_lang FROM h),
            |exact_reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
            |near_drop AS (SELECT doc_id FROM read_parquet('{OUT}/dedup_clusters/*.parquet')
            |              WHERE doc_id <> rep_id)
            |SELECT k.doc_id, l.predicted_lang, k.n_words
            |FROM keepers k JOIN lang l USING (doc_id)
            |WHERE k.doc_id IN (SELECT doc_id FROM exact_reps)
            |  AND k.doc_id NOT IN (SELECT doc_id FROM near_drop)""".stripMargin),
      "corpus_clean_rep" ->
        """SELECT c.* FROM read_parquet('{OUT}/corpus_clean/*.parquet') c
          |WHERE c.doc_id IN (SELECT doc_id
          |                   FROM read_parquet('{OUT}/text_repetition/*.parquet')
          |                   WHERE keep)""".stripMargin,
      "dedup_embed_cosine" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
          |p AS (SELECT vec_id + 100000 AS probe_id,
          |             list_concat([v[1] + 0.05], v[2:64]) AS pv
          |      FROM e WHERE vec_id % 10 = 0),
          |pn AS (SELECT probe_id, pv, sqrt(list_sum([x*x for x in pv])) AS pnrm FROM p)
          |SELECT probe_id, vec_id,
          |       list_sum([pv[i]*v[i] for i in generate_series(1, len(v))]) / (pnrm*nrm) AS cosine
          |FROM pn, n
          |WHERE vec_id <> probe_id
          |  AND list_sum([pv[i]*v[i] for i in generate_series(1, len(v))]) / (pnrm*nrm) >= 0.99""".stripMargin,
      "dedup_embed_lsh" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |p AS (SELECT vec_id + 100000 AS vec_id,
          |             list_concat([v[1] + 0.05], v[2:64]) AS v
          |      FROM e WHERE vec_id % 10 = 0),
          |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM u)
          |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |       list_sum([a.v[i]*b.v[i] for i in generate_series(1, len(a.v))]) / (a.nrm*b.nrm) AS cosine
          |FROM n a JOIN n b ON a.vec_id < b.vec_id
          |WHERE list_sum([a.v[i]*b.v[i] for i in generate_series(1, len(a.v))]) / (a.nrm*b.nrm) >= 0.99""".stripMargin,
      // IVF top-k re-derived end-to-end from the dumped centroid model
      // ({AUX}/ivf_centroids): assignment of every corpus vector (argmin of
      // the sequential-fold squared L2 — ties to the lowest cell, exactly
      // nearestCell's strict-less scan), each query's nprobe=2 cells (same
      // ordering — nearestCells' (d2, cell) sort), then exact cosine + rank
      // within the probed cells. Direct rows+schema+hash gate; quality vs
      // brute force is ann_ivf_recall's separate gate.
      "ann_ivf_topk" ->
        """WITH cent AS (SELECT cell, c FROM read_parquet('{AUX}/ivf_centroids/*.parquet')),
          |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
          |dist AS (SELECT vec_id, cell,
          |           list_sum([(v[i]-c[i])*(v[i]-c[i]) for i in generate_series(1, len(v))]) AS d2
          |         FROM n, cent),
          |assign AS (SELECT vec_id, cell FROM (
          |             SELECT vec_id, cell,
          |               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          |             FROM dist) WHERE rn = 1),
          |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
          |qd AS (SELECT qid, cell,
          |         list_sum([(qv[i]-c[i])*(qv[i]-c[i]) for i in generate_series(1, len(qv))]) AS d2
          |       FROM q, cent),
          |probes AS (SELECT qid, cell FROM (
          |             SELECT qid, cell,
          |               row_number() OVER (PARTITION BY qid ORDER BY d2, cell) AS rn
          |             FROM qd) WHERE rn <= 2),
          |cand AS (SELECT p.qid, a.vec_id FROM probes p JOIN assign a USING (cell)),
          |scored AS (SELECT cand.qid, cand.vec_id,
          |             list_sum([q.qv[i]*n.v[i] for i in generate_series(1, len(n.v))]) / (q.qn*n.nrm) AS cosine
          |           FROM cand JOIN q ON cand.qid = q.qid JOIN n ON cand.vec_id = n.vec_id
          |           WHERE cand.vec_id <> cand.qid),
          |r AS (SELECT qid, vec_id, cosine,
          |        row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
          |      FROM scored)
          |SELECT qid, vec_id, rnk, cosine FROM r WHERE rnk <= 5""".stripMargin,
      "ann_brute_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
          |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
          |c AS (SELECT qid, vec_id,
          |             list_sum([qv[i]*v[i] for i in generate_series(1, len(v))]) / (qn*nrm) AS cosine
          |      FROM q, n WHERE vec_id <> qid),
          |r AS (SELECT qid, vec_id, cosine,
          |             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
          |      FROM c)
          |SELECT qid, vec_id, rnk, cosine FROM r WHERE rnk <= 5""".stripMargin,
      "text_token_count" ->
        ("SELECT doc_id, length(text)::BIGINT AS n_chars, " +
          "len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_ws_tokens, " +
          s"len(regexp_extract_all(lower(text), '${graft.operators.TextOps.bpePattern}'))::BIGINT AS n_bpe_tokens, " +
          s"len(regexp_extract_all(text, '${graft.operators.TextOps.cjkPatternSql}'))::BIGINT AS n_cjk_tokens " +
          "FROM documents"),
      "text_token_count_zh" ->
        ("SELECT doc_id, length(text)::BIGINT AS n_chars, " +
          "len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_ws_tokens, " +
          s"len(regexp_extract_all(lower(text), '${graft.operators.TextOps.bpePattern}'))::BIGINT AS n_bpe_tokens, " +
          s"len(regexp_extract_all(text, '${graft.operators.TextOps.cjkPatternSql}'))::BIGINT AS n_cjk_tokens " +
          "FROM read_parquet('{ORA}/fixtures_zh_docs/*.parquet')"),
      "text_quality_zh" -> {
        val zhStop = TextStats.zhStopchars.map(w => s"'$w'").mkString("[", ", ", "]")
        val cjk = graft.operators.TextOps.cjkPatternSql
        s"""WITH w AS (SELECT doc_id, text,
           |  regexp_extract_all(text, '$cjk') AS ws
           |  FROM read_parquet('{ORA}/fixtures_zh_docs/*.parquet')),
           |f AS (SELECT doc_id,
           |  length(text)::BIGINT AS n_chars,
           |  len(ws)::BIGINT AS n_words,
           |  list_sum([length(x)::BIGINT for x in ws])::BIGINT AS sum_len,
           |  length(regexp_replace(lower(text), '[a-z0-9 \\x{4e00}-\\x{9fff}]', '', 'g'))::BIGINT AS n_punct,
           |  len(list_filter(ws, x -> list_contains($zhStop, x)))::BIGINT AS n_stop FROM w)
           |SELECT doc_id, n_chars, n_words,
           |  sum_len / n_words AS avg_word_len,
           |  n_punct / n_chars AS punct_ratio,
           |  n_stop / n_words AS stopword_ratio,
           |  (n_words >= 5 AND sum_len / n_words <= 12.0 AND n_punct / n_chars <= 0.2) AS keep
           |FROM f""".stripMargin
      },
      "corpus_top_terms_zh" ->
        (s"SELECT term, count(*) AS n FROM (" +
          s"SELECT unnest(regexp_extract_all(lower(text), '${graft.operators.TextOps.cjkPatternSql}')) AS term " +
          "FROM read_parquet('{ORA}/fixtures_zh_docs/*.parquet')) " +
          "GROUP BY term ORDER BY n DESC, term LIMIT 50"),
      "dedup_ngram_jaccard_zh" ->
        s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '${graft.operators.TextOps.cjkPatternSql}') AS ws
           |  FROM read_parquet('{ORA}/fixtures_zh_docs/*.parquet')),
           |sh AS (
           |  SELECT doc_id,
           |         unnest(list_distinct([array_to_string(ws[i:i+2], ' ')
           |                               for i in generate_series(1, len(ws)-2)])) AS shingle
           |  FROM w),
           |dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
           |s AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfc USING (shingle) WHERE df <= 100),
           |sz AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
           |i AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cnt
           |  FROM s a JOIN s b USING (shingle)
           |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, cnt / (sa.sz + sb.sz - cnt) AS jaccard
           |FROM i JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |WHERE cnt / (sa.sz + sb.sz - cnt) >= 0.5""".stripMargin,
      "text_quality" ->
        ("""WITH w AS (SELECT doc_id, text,
           |  list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents),
           |f AS (SELECT doc_id,
           |  length(text)::BIGINT AS n_chars,
           |  len(ws)::BIGINT AS n_words,
           |  list_sum([length(x)::BIGINT for x in ws])::BIGINT AS sum_len,
           |  length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::BIGINT AS n_punct,
           |""".stripMargin +
          s"  len(list_filter(ws, x -> list_contains($stopList, x)))::BIGINT AS n_stop FROM w)\n" +
          """SELECT doc_id, n_chars, n_words,
            |  sum_len / n_words AS avg_word_len,
            |  n_punct / n_chars AS punct_ratio,
            |  n_stop / n_words AS stopword_ratio,
            |  (n_words >= 5 AND sum_len / n_words <= 12.0 AND n_punct / n_chars <= 0.2) AS keep
            |FROM f""".stripMargin),
      "text_langid" ->
        (s"""WITH w AS (SELECT doc_id,
            |  list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws FROM documents),
            |h AS (SELECT doc_id,
            |         $langHits
            |      FROM w)
            |SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, hits_zh,
            |       $langCase AS predicted_lang
            |FROM h""".stripMargin),
      "corpus_pack_blocks" ->
        (s"""WITH t AS (SELECT lang, doc_id,
            |  len(regexp_extract_all(lower(text), '${graft.operators.TextOps.bpePattern}'))::BIGINT AS n_tokens
            |  FROM documents),
            |c AS (SELECT lang, doc_id, n_tokens,
            |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)::BIGINT AS cum FROM t)
            |SELECT lang, doc_id, n_tokens,
            |       floor((cum - n_tokens) / 256.0)::BIGINT AS block_id
            |FROM c""".stripMargin),
      // (((x % 100) + 100) % 100: the SQL spelling of Spark's pmod — sign-
      // safe for negative doc_ids, identical to a bare % for non-negative)
      "corpus_split_counts" ->
        ("SELECT lang, CASE WHEN (((doc_id * 48271) % 100) + 100) % 100 < 90 THEN 'train' ELSE 'val' END AS split, " +
          "count(*) AS n FROM documents GROUP BY 1, 2"),
      "corpus_top_terms" ->
        ("SELECT term, count(*) AS n FROM (" +
          "SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term " +
          "FROM documents) GROUP BY term ORDER BY n DESC, term LIMIT 100"),
      "corpus_top_pairs" ->
        ("SELECT pair, count(*) AS n FROM (" +
          "SELECT unnest([ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws)-1)]) AS pair " +
          "FROM (SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws " +
          "FROM documents)) GROUP BY pair ORDER BY n DESC, pair LIMIT 50"),
      // the BPE training loop, 6 rounds unrolled: identical wrapped-symbol
      // spelling ("abc" -> "|a||b||c|"), identical pair counting over the
      // word-frequency table, identical (cnt DESC, lhs, rhs) argmax, and
      // replace()'s left-to-right non-overlapping semantics match the
      // engine's greedy merge on both engines
      "corpus_bpe_merges" -> {
        val round = (i: Int) =>
          s"""t$i AS (SELECT string_split(substr(w, 2, length(w) - 2), '||') AS ts, freq
             |       FROM wf${i - 1}),
             |p$i AS (SELECT string_split(pair, ' ')[1] AS lhs,
             |              string_split(pair, ' ')[2] AS rhs, sum(freq) AS cnt
             |       FROM (SELECT unnest([ts[k] || ' ' || ts[k+1]
             |                            for k in generate_series(1, len(ts)-1)]) AS pair,
             |                    freq
             |             FROM t$i)
             |       GROUP BY 1, 2),
             |m$i AS (SELECT lhs, rhs, cnt FROM p$i ORDER BY cnt DESC, lhs, rhs LIMIT 1),
             |wf$i AS (SELECT replace(w, '|' || m.lhs || '||' || m.rhs || '|',
             |                        '|' || m.lhs || m.rhs || '|') AS w, freq
             |        FROM wf${i - 1}, m$i m)""".stripMargin
        val rounds = (1 to 6).map(round).mkString(",\n")
        val out = (1 to 6).map(i =>
          s"SELECT $i::BIGINT AS merge_round, lhs, rhs, CAST(cnt AS BIGINT) AS cnt FROM m$i")
          .mkString("\nUNION ALL\n")
        s"""WITH words AS (
           |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
           |  FROM documents),
           |wf0 AS (SELECT regexp_replace(word, '(.)', '|\\1|', 'g') AS w,
           |               count(*) AS freq
           |        FROM words GROUP BY 1),
           |$rounds
           |$out""".stripMargin
      },
      // SemDeDup re-derived end to end from the dumped quantizer model:
      // every vector's cell (argmin d2, ties to the lowest cell — the
      // ann_ivf_topk spelling), in-cell cosine pairs at tau, recursive-CTE
      // transitive clusters, kept = not a non-min member
      "dedup_semantic" ->
        """WITH RECURSIVE cent AS (SELECT cell, c FROM read_parquet('{AUX}/ivf_centroids/*.parquet')),
          |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |p AS (SELECT vec_id + 100000 AS vec_id,
          |             list_concat([v[1] + 0.05], v[2:64]) AS v
          |      FROM e WHERE vec_id % 10 = 0),
          |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM u),
          |dist AS (SELECT vec_id, cell,
          |           list_sum([(v[i]-c[i])*(v[i]-c[i]) for i in generate_series(1, len(v))]) AS d2
          |         FROM n, cent),
          |assign AS (SELECT vec_id, cell FROM (
          |             SELECT vec_id, cell,
          |               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
          |             FROM dist) WHERE rn = 1),
          |a AS (SELECT n.vec_id, n.v, n.nrm, assign.cell
          |      FROM n JOIN assign USING (vec_id)),
          |pr AS (SELECT x.vec_id AS pa, y.vec_id AS pb
          |       FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
          |       WHERE list_sum([x.v[i]*y.v[i] for i in generate_series(1, len(x.v))])
          |               / (x.nrm * y.nrm) >= 0.99),
          |e2 AS (SELECT pa AS s, pb AS d FROM pr UNION SELECT pb, pa FROM pr),
          |reach(s, d) AS (
          |  SELECT s, d FROM e2
          |  UNION
          |  SELECT r.s, e2.d FROM reach r JOIN e2 ON r.d = e2.s),
          |nonreps AS (SELECT s AS vec_id FROM reach GROUP BY s
          |            HAVING least(s, min(d)) <> s)
          |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
          |       a.vec_id NOT IN (SELECT vec_id FROM nonreps) AS kept
          |FROM a""".stripMargin,
      "corpus_sample_mix" ->
        ("SELECT doc_id, lang FROM documents WHERE (((doc_id * 48271) % 100) + 100) % 100 < " +
          "CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 100 WHEN 'fr' THEN 25 ELSE 10 END"),
      // independent winnow re-derivation (same windowed-min the
      // text_winnow_fp twin uses) over the gram-hash dump, with the shifted
      // copies synthesized by id arithmetic (same text => same hashes),
      // then split + df-cap + overlap join
      "text_contamination" ->
        """WITH g0 AS (SELECT doc_id, pos, h FROM read_parquet('{OUT}/text_gram_hashes/*.parquet')),
          |g AS (SELECT * FROM g0
          |      UNION ALL
          |      SELECT doc_id + 1000001, pos, h FROM g0 WHERE doc_id % 20 = 0),
          |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
          |w AS (SELECT g.doc_id, g.pos, cnt.n,
          |        min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
          |      FROM g JOIN cnt USING (doc_id)),
          |sel AS (
          |  SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE n > 4 AND pos + 4 <= n
          |  UNION
          |  SELECT g.doc_id, min(h) FROM g JOIN cnt USING (doc_id) WHERE n <= 4 GROUP BY g.doc_id),
          |sp AS (SELECT doc_id, fp,
          |         CASE WHEN (((doc_id * 48271) % 100) + 100) % 100 < 90 THEN 'train' ELSE 'val' END AS split
          |       FROM sel),
          |dfc AS (SELECT fp, count(*) AS df FROM sp GROUP BY fp),
          |cap AS (SELECT sp.doc_id, sp.fp, sp.split FROM sp JOIN dfc USING (fp) WHERE df <= 100)
          |SELECT t.doc_id AS train_doc, v.doc_id AS val_doc, count(*) AS shared_fps
          |FROM cap t JOIN cap v USING (fp)
          |WHERE t.split = 'train' AND v.split = 'val'
          |GROUP BY 1, 2
          |HAVING count(*) >= 3""".stripMargin,
      "text_fingerprint" ->
        "SELECT doc_id, md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fingerprint FROM documents",
      // PII scrub twin: identical regexes, identical email-first order, and
      // the phone count taken over the email-redacted text, same as the
      // engine
      "text_pii_scrub" -> {
        val em = graft.operators.TextOps.emailPattern
        val ph = graft.operators.TextOps.phonePattern
        s"""WITH d AS (SELECT doc_id, text,
           |  regexp_replace(text, '$em', '<email>', 'g') AS no_email
           |  FROM read_parquet('{ORA}/fixtures_pii_docs/*.parquet'))
           |SELECT doc_id,
           |  len(regexp_extract_all(text, '$em'))::BIGINT AS n_emails,
           |  len(regexp_extract_all(no_email, '$ph'))::BIGINT AS n_phones,
           |  regexp_replace(no_email, '$ph', '<phone>', 'g') AS redacted
           |FROM d""".stripMargin
      },
      // Gopher repetition filters: the relational spelling of the engine's
      // sorted-array fold — unnest bigrams, group, pick (count DESC, gram
      // ASC) rank 1 per doc. list_sum is NULL on empty lists and DuckDB
      // widens sums to HUGEINT: coalesce + ::BIGINT on every sum (the
      // ev_sessions lesson). Docs with < 2 words left-join to no top gram
      // -> (0, '', 0), the engine's fold-zero exactly.
      "text_repetition" ->
        (s"""WITH w AS (
          |  SELECT doc_id,
          |    list_filter(regexp_split_to_array(lower(text), '${graft.operators.TextOps.wsRunPattern}'), x -> x <> '') AS ws,
          |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
          |                x -> x <> '') AS ls
          |  FROM documents),
          |g AS (SELECT doc_id,
          |        unnest([ws[i] || ' ' || ws[i+1] for i in generate_series(1, len(ws)-1)]) AS gram
          |      FROM w),
          |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
          |top AS (SELECT doc_id, gram, c,
          |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
          |        FROM gc)
          |SELECT w.doc_id,
          |  len(ws)::BIGINT AS n_words,
          |  (len(ws) - len(list_distinct(ws)))::BIGINT AS dup_words,
          |  coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS word_chars,
          |  (coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
          |    - coalesce(list_sum(list_transform(list_distinct(ws), x -> length(x))), 0))::BIGINT
          |    AS dup_word_chars,
          |  len(ls)::BIGINT AS n_lines,
          |  (len(ls) - len(list_distinct(ls)))::BIGINT AS dup_lines,
          |  coalesce(list_sum(list_transform(ls, x -> length(x))), 0)::BIGINT AS line_chars,
          |  (coalesce(list_sum(list_transform(ls, x -> length(x))), 0)
          |    - coalesce(list_sum(list_transform(list_distinct(ls), x -> length(x))), 0))::BIGINT
          |    AS dup_line_chars,
          |  greatest(len(ws) - 1, 0)::BIGINT AS n_grams,
          |  coalesce(t.c, 0)::BIGINT AS top_gram_n,
          |  coalesce(t.gram, '') AS top_gram,
          |  (coalesce(t.c, 0) * length(coalesce(t.gram, '')))::BIGINT AS top_gram_chars,
          |  ((len(ws) - len(list_distinct(ws))) * 100 <= len(ws) * 55
          |    AND coalesce(t.c, 0) <= 2) AS keep
          |FROM w LEFT JOIN top t ON t.doc_id = w.doc_id AND t.rn = 1""").stripMargin,
      // the remaining Gopher signals: same word/line grains as
      // text_repetition's twin (explicit ws-run class; trimmed non-empty
      // line splits), symbol counts via replace-diff + regex runs, keep
      // arms as cross-multiplied integers
      "text_gopher" -> {
        val stop = TextStats.gopherStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH w AS (
           |  SELECT doc_id, text,
           |    list_filter(regexp_split_to_array(lower(text), '${graft.operators.TextOps.wsRunPattern}'), x -> x <> '') AS ws,
           |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
           |                x -> x <> '') AS ls
           |  FROM documents),
           |f AS (SELECT doc_id,
           |  len(ws)::BIGINT AS n_words,
           |  coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::BIGINT AS word_chars,
           |  (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
           |  len(regexp_extract_all(text, '\\.\\.\\.|…'))::BIGINT AS n_ellipsis,
           |  len(ls)::BIGINT AS n_lines,
           |  len(list_filter(ls, x -> starts_with(x, '-') OR starts_with(x, '*')
           |                        OR starts_with(x, '•')))::BIGINT AS n_bullet_lines,
           |  len(list_filter(ls, x -> ends_with(x, '...') OR ends_with(x, '…')))::BIGINT
           |    AS n_ellipsis_lines,
           |  len(list_filter($stop, s -> list_contains(ws, s)))::BIGINT AS n_stop_distinct
           |  FROM w)
           |SELECT *,
           |  (n_words * 3 <= word_chars AND word_chars <= n_words * 10
           |   AND (n_hash + n_ellipsis) * 10 <= n_words
           |   AND n_bullet_lines * 10 <= n_lines * 9
           |   AND n_ellipsis_lines * 10 <= n_lines * 3
           |   AND n_stop_distinct >= 1) AS keep
           |FROM f""".stripMargin
      },
      "corpus_clean_v3" ->
        """SELECT c.* FROM read_parquet('{OUT}/corpus_clean_rep/*.parquet') c
          |WHERE c.doc_id IN (SELECT doc_id
          |                   FROM read_parquet('{OUT}/text_gopher/*.parquet') WHERE keep)
          |  AND c.doc_id IN (SELECT vec_id
          |                   FROM read_parquet('{OUT}/dedup_semantic/*.parquet') WHERE kept)""".stripMargin,
      // ---- golden-oracle twins (pure-Scala reference math, materialized by
      // Verify as parquet; see the {ORA} token contract above)
      "kg_mentions" ->
        "SELECT * FROM read_parquet('{ORA}/kg_mentions/*.parquet')",
      "kg_decisions" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decisions/*.parquet')",
      "kg_components" ->
        "SELECT * FROM read_parquet('{ORA}/kg_components/*.parquet')",
      "kg_triples" ->
        "SELECT * FROM read_parquet('{ORA}/kg_triples/*.parquet')",
      "kg_triples_compacted" ->
        "SELECT * FROM read_parquet('{ORA}/kg_triples/*.parquet')",
      "kg_triples_compacted_inc" ->
        "SELECT * FROM read_parquet('{ORA}/kg_triples/*.parquet')",
      "kg_decision_stats" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decision_stats/*.parquet')",
      "kg_candidates_topk" ->
        "SELECT * FROM read_parquet('{ORA}/kg_candidates_topk/*.parquet')",
      "kg_decisions_explained" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decisions_explained/*.parquet')",
      "kg_decisions_explained_zh" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decisions_explained_zh/*.parquet')",
      "kg_onehop" ->
        ("SELECT t.subj, t.pred, t.obj, e.name AS obj_name " +
          "FROM read_parquet('{ORA}/kg_triples/*.parquet') t " +
          "JOIN read_parquet('{ORA}/fixtures_entities/*.parquet') e ON t.obj = e.id " +
          "WHERE t.pred = 'same_as'"),
      "kg_onehop_props" ->
        "SELECT subj, obj, n_mentions FROM read_parquet('{ORA}/kg_mention_props/*.parquet')",
      "kg_decisions_forced" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decisions_forced/*.parquet')",
      "kg_mentions_zh" ->
        "SELECT * FROM read_parquet('{ORA}/kg_mentions_zh/*.parquet')",
      "kg_decisions_zh" ->
        "SELECT * FROM read_parquet('{ORA}/kg_decisions_zh/*.parquet')",
      "kg_triples_zh" ->
        "SELECT * FROM read_parquet('{ORA}/kg_triples_zh/*.parquet')",
      "s4_alias_search" ->
        ("SELECT id, name, entity_type FROM read_parquet('{ORA}/fixtures_entities/*.parquet') " +
          "WHERE contains(name, '1') OR len(list_filter(aliases, a -> contains(a, '1'))) > 0 " +
          "ORDER BY name, id LIMIT 20"),
      "s4_alias_search_typed" ->
        ("SELECT id, name, entity_type FROM read_parquet('{ORA}/fixtures_entities/*.parquet') " +
          "WHERE entity_type = 'disease' " +
          "AND (contains(name, '1') OR len(list_filter(aliases, a -> contains(a, '1'))) > 0) " +
          "ORDER BY name, id LIMIT 20"),
      // direct re-derivation of the positional gram-hash dump from the
      // corpus itself: every 8-char gram of the lowercased text, 0-based
      // positions, 40-bit md5 hashes — the engine's exact spelling
      "text_gram_hashes" ->
        """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
          |g AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 7)) AS i
          |      FROM d WHERE length(t) >= 8)
          |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
          |       CAST('0x' || substr(md5(substr(t, i, 8)), 1, 10) AS BIGINT) AS h
          |FROM g""".stripMargin,
      "text_winnow_fp" ->
        """WITH g AS (SELECT doc_id, pos, h FROM read_parquet('{OUT}/text_gram_hashes/*.parquet')),
          |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
          |w AS (SELECT g.doc_id, g.pos, cnt.n,
          |        min(h) OVER (PARTITION BY g.doc_id ORDER BY g.pos
          |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
          |      FROM g JOIN cnt USING (doc_id)),
          |sel AS (
          |  SELECT doc_id, wmin FROM w WHERE n > 4 AND pos + 4 <= n
          |  UNION ALL
          |  SELECT g.doc_id, min(h) FROM g JOIN cnt USING (doc_id) WHERE n <= 4 GROUP BY g.doc_id)
          |SELECT d.doc_id,
          |       count(DISTINCT s.wmin) AS n_fps,
          |       min(s.wmin) AS fp_min,
          |       max(s.wmin) AS fp_max
          |FROM documents d LEFT JOIN sel s USING (doc_id)
          |GROUP BY d.doc_id""".stripMargin,
      // full independent re-derivation of the simhash signatures: per-token
      // 64 bits from the two 32-bit md5 halves, vote sums, majority bits,
      // signed 64-bit assembly, 16-bit band keys. Zero-token docs emit
      // signature 0 (the engine's empty fold). All sums CAST from HUGEINT.
      "dedup_simhash" ->
        """WITH d AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
          |tok AS (
          |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
          |  FROM d),
          |h AS (SELECT doc_id,
          |        CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) AS hi,
          |        CAST('0x' || substr(md5(t), 9, 8) AS BIGINT) AS lo FROM tok),
          |b AS (SELECT doc_id, unnest(generate_series(0, 63)) AS bit, hi, lo FROM h),
          |v AS (SELECT doc_id, bit,
          |        2 * sum(CASE WHEN bit < 32 THEN (lo >> bit) & 1
          |                     ELSE (hi >> (bit - 32)) & 1 END) - count(*) AS vote
          |      FROM b GROUP BY 1, 2),
          |halves AS (SELECT doc_id,
          |        CAST(sum(CASE WHEN vote > 0 AND bit < 32
          |                      THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS lo,
          |        CAST(sum(CASE WHEN vote > 0 AND bit >= 32
          |                      THEN (1::BIGINT << (bit - 32)) ELSE 0 END) AS BIGINT) AS hi
          |      FROM v GROUP BY 1),
          |sig AS (
          |  SELECT doc_id,
          |    (hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
          |      * 4294967296 + lo AS simhash, hi, lo
          |  FROM halves
          |  UNION ALL
          |  SELECT doc_id, 0, 0, 0 FROM d
          |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) = 0)
          |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash,
          |  lo & 65535 AS band0, (lo >> 16) & 65535 AS band1,
          |  hi & 65535 AS band2, (hi >> 16) & 65535 AS band3
          |FROM sig""".stripMargin,
      "dedup_simhash_pairs" ->
        """WITH s AS (SELECT * FROM read_parquet('{OUT}/dedup_simhash/*.parquet'))
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
          |FROM s a JOIN s b
          |  ON a.doc_id < b.doc_id
          | AND (a.band0 = b.band0 OR a.band1 = b.band1
          |      OR a.band2 = b.band2 OR a.band3 = b.band3)
          |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
      "ann_ivf_recall" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm FROM e),
          |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
          |c AS (SELECT qid, vec_id,
          |             list_sum([qv[i]*v[i] for i in generate_series(1, len(v))]) / (qn*nrm) AS cosine
          |      FROM q, n WHERE vec_id <> qid),
          |r AS (SELECT qid, vec_id,
          |             row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rnk
          |      FROM c),
          |brute AS (SELECT qid, vec_id FROM r WHERE rnk <= 5),
          |ivf AS (SELECT qid, vec_id FROM read_parquet('{OUT}/ann_ivf_topk/*.parquet'))
          |SELECT b.qid, count(i.vec_id) / 5.0 AS recall_at_5
          |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.vec_id = i.vec_id
          |GROUP BY b.qid""".stripMargin,
      // audio rows: width/height 0, n_frames = the synthesized PCM frame
      // count, sample_rate/duration_ms from the synthesis params — the
      // engine must recover all three by parsing the RIFF/WAVE header.
      // video rows: dims from tkhd (image formulas), n_frames = the stsz
      // sample count (ceil of text bytes / 64), duration = frames x 33 ms
      // from mvhd — recovered by the ISO-BMFF box walk
      "mm_decode" ->
        """SELECT doc_id,
          |  CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
          |  (CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + ascii(substr(text, 1, 1)) % 64 END)::BIGINT AS width,
          |  (CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + ascii(substr(text, 2, 1)) % 64 END)::BIGINT AS height,
          |  (CASE doc_id % 3 WHEN 0 THEN 1
          |        WHEN 1 THEN (ascii(substr(text, 2, 1)) % 64 + 1) * 100
          |        ELSE (octet_length(encode(text)) + 63) // 64 END)::BIGINT AS n_frames,
          |  (CASE WHEN doc_id % 3 = 1 THEN 8000 + (ascii(substr(text, 1, 1)) % 64) * 250 ELSE 0 END)::BIGINT AS sample_rate,
          |  (CASE doc_id % 3
          |        WHEN 1 THEN ((ascii(substr(text, 2, 1)) % 64 + 1) * 100000) // (8000 + (ascii(substr(text, 1, 1)) % 64) * 250)
          |        WHEN 2 THEN ((octet_length(encode(text)) + 63) // 64) * 33
          |        ELSE 0 END)::BIGINT AS duration_ms
          |FROM documents""".stripMargin,
      "mm_resize" ->
        """WITH i AS (SELECT doc_id,
          |  (1 + ascii(substr(text, 1, 1)) % 64)::BIGINT AS width,
          |  (1 + ascii(substr(text, 2, 1)) % 64)::BIGINT AS height
          |  FROM documents WHERE doc_id % 3 = 0)
          |SELECT doc_id, width, height,
          |  (CASE WHEN greatest(width, height) <= 16 THEN width
          |        ELSE greatest(1, width * 16 // greatest(width, height)) END)::BIGINT AS new_width,
          |  (CASE WHEN greatest(width, height) <= 16 THEN height
          |        ELSE greatest(1, height * 16 // greatest(width, height)) END)::BIGINT AS new_height
          |FROM i""".stripMargin,
      "mm_frame_sample" ->
        """WITH v AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS nb
          |           FROM documents WHERE doc_id % 3 = 2),
          |f AS (SELECT doc_id, nb,
          |        unnest(generate_series(0, ((nb + 63) // 64) - 1, 4)) AS frame_idx
          |      FROM v)
          |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
          |       least(64, nb - frame_idx * 64)::BIGINT AS n_bytes
          |FROM f""".stripMargin
    )
  }
}
