package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.fixtures.Synth
import graft.model.Triple
import graft.oracle.Oracle

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val cfg = GraftConfig.default
  val spec = Synth.Spec(nConv = 30, turnsPerConv = 8)
  lazy val dict = Synth.dictionary(spec)
  lazy val turns = Synth.transcripts(spec, dict)
  lazy val golden = Oracle.run(turns, dict, cfg)

  def runPipeline(partitions: Int): Set[Triple] = {
    import spark.implicits._
    val out = KgPipeline.run(spark,
      TranscriptSource.fromSeq(spark, turns, partitions), dict, cfg)
    out.triples.select("subj", "pred", "obj").as[Triple].collect().toSet
  }

  test("engine triples match golden oracle at P/R >= 0.95 (north_rule)") {
    val engine = runPipeline(4)
    val (p, r) = Oracle.precisionRecall(engine, golden.triples)
    withClue(f"P=$p%.4f R=$r%.4f missing=${golden.triples.diff(engine).take(3)} extra=${engine.diff(golden.triples).take(3)}") {
      assert(p >= 0.95 && r >= 0.95)
    }
  }

  test("triples are identical across parallelism levels (partition-count independence)") {
    assert(runPipeline(2) == runPipeline(13))
  }

  test("row-per-pair blocked scoring (beyond-broadcast top-k path) agrees with the broadcast scorer") {
    import org.apache.spark.sql.functions._
    val out = KgPipeline.run(spark, TranscriptSource.fromSeq(spark, turns), dict, cfg)
    val entities = EntityStore.prepare(spark, dict, cfg).cache()
    val entityB = Blocking.entityBlocks(entities, cfg)
    val mentionsPrep = Scorer.prepareMentions(out.mentions, cfg)
      .select(Scorer.mentionPrepCols.map(col): _*).cache()
    val mentionB = Blocking.mentionBlocks(mentionsPrep, cfg)
    val pairs = Blocking.candidatePairs(spark, mentionB, entityB, cfg, Set.empty).cache()
    // row-per-pair join + window top-1
    val top1 = Scorer.topK(Scorer.scorePairs(pairs, mentionsPrep, entities, cfg), 1)
      .select("mention_id", "entity_id", "final_score").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    // fused broadcast scorer on the same seeds (no sweep)
    val best = Scorer.decideBest(spark, mentionsPrep, Some(pairs), entities,
        cfg, sweep = false)
      .filter(col("match_id").isNotNull || col("decision") =!= "create")
      .select("mention_id", "final_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(top1.nonEmpty)
    best.foreach { case (mid, f) =>
      assert(top1.contains(mid) && top1(mid)._2 == f, s"$mid: $f vs ${top1.get(mid)}")
    }
  }

  test("forced blocked-join tier (mega-dict scale path) holds P/R >= 0.999 vs the oracle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // broadcastSweepMaxDict=0 forces the lex/type/lsh/ctx candidate join +
    // salting path the pipeline uses beyond broadcast-resident dictionaries.
    // The ctx (df-capped token) channel is the deterministic recall floor
    // for context-similar zero-name-overlap pairs — before it, 17/13312
    // decisions diverged at sf0.01 (app.ChannelRecall); with it, 0.
    val cfgB = cfg.copy(broadcastSweepMaxDict = 0L)
    val out = KgPipeline.run(spark,
      TranscriptSource.fromSeq(spark, turns), dict, cfgB)
    val engine = out.triples.select("subj", "pred", "obj").as[Triple].collect().toSet
    val (p, r) = Oracle.precisionRecall(engine, golden.triples)
    withClue(f"P=$p%.4f R=$r%.4f") { assert(p >= 0.999 && r >= 0.999) }
    // per-channel contribution accounting: every channel must be live
    // (a dead channel means a recall hole waiting for the corpus shape
    // that needs it)
    val entities = EntityStore.prepare(spark, dict, cfgB)
    val entityB = Blocking.entityBlocks(entities, cfgB)
    val mentionsPrep = Scorer.prepareMentions(out.mentions, cfgB)
      .select(Scorer.mentionPrepCols.map(col): _*)
    val mentionB = Blocking.mentionBlocks(mentionsPrep, cfgB)
    val perChannel = mentionB.toDF("mention_id", "key", "mchan")
      .join(entityB.toDF("key", "id", "echan"), "key")
      .select("mention_id", "id", "echan").distinct()
      .groupBy("echan").agg(count(lit(1)).as("pairs"))
      .collect().map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    info(s"candidate pairs per channel: $perChannel")
    assert(Set("lex", "type", "lsh", "ctx").subsetOf(perChannel.keySet),
      s"dead blocking channel: $perChannel")
  }

  test("blocked-tier shuffle width derives from corpus size (8g-OOM knob made automatic)") {
    // small corpora: stay at cluster parallelism, no extra partitions
    // (1k mentions derive byBytes=1 under ANY session's core count — the
    // suite-shared getOrCreate session's master depends on suite order)
    assert(KgPipeline.autoShufflePartitions(spark, 1000L, cfg)
      == spark.sparkContext.defaultParallelism)
    // round-3's OOM cell (~1M mentions) must derive at least the 160
    // partitions that made it complete on an 8g heap (BASELINE.md)
    assert(KgPipeline.autoShufflePartitions(spark, 1000000L, cfg) >= 160)
    // monotone and bounded
    assert(KgPipeline.autoShufflePartitions(spark, 100000000L, cfg)
      >= KgPipeline.autoShufflePartitions(spark, 1000000L, cfg))
    assert(KgPipeline.autoShufflePartitions(spark, Long.MaxValue / (64 << 20), cfg) <= (1 << 20))
  }

  test("decisions cover all three branches and stats match the oracle") {
    import spark.implicits._
    val out = KgPipeline.run(spark, TranscriptSource.fromSeq(spark, turns), dict, cfg)
    val stats = out.decisionStats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val goldenStats = golden.decisions.groupBy(_.decision).view.mapValues(_.size.toLong).toMap
    // per-mention decisions may diverge on blocking-recall misses; the
    // distribution must stay within the same P/R tolerance
    val total = golden.decisions.size.toDouble
    for (k <- goldenStats.keySet ++ stats.keySet) {
      val d = math.abs(stats.getOrElse(k, 0L) - goldenStats.getOrElse(k, 0L))
      withClue(s"decision $k engine=${stats.get(k)} oracle=${goldenStats.get(k)}") {
        assert(d / total <= 0.05)
      }
    }
    assert(stats.keySet == Set("merge", "create", "ambiguous"))
  }

  test("checkpoint-resume: rerun skips completed stages; partial delete resumes byte-identically") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cp").toString
    def run() = KgPipeline.run(spark, TranscriptSource.fromSeq(spark, turns), dict, cfg,
      checkpointRoot = Some(root), runId = "t1")
    val first = run()
    val t1 = first.triples.select("subj", "pred", "obj").as[Triple].collect().toSet
    val cp = new Checkpoints(spark, Some(root), "t1")
    assert(Seq("mentions", "decisions", "components", "triples").forall(cp.isDone))
    // full rerun: resume everything
    val t2 = run().triples.select("subj", "pred", "obj").as[Triple].collect().toSet
    assert(t2 == t1)
    // kill-after-stage-2 simulation: downstream outputs lost, upstream kept
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/components")).deleteRecursively()
    new Directory(new java.io.File(s"$root/triples")).deleteRecursively()
    Files.deleteIfExists(java.nio.file.Paths.get(s"$root/components.manifest.json"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$root/triples.manifest.json"))
    val t3 = run().triples.select("subj", "pred", "obj").as[Triple].collect().toSet
    assert(t3 == t1)
  }

  test("cache hygiene: Outputs.release() leaves no new persistent RDDs behind") {
    // forced blocked tier so the run caches the full set: entities, entityB,
    // mentionsPrep, mentionB, plus the five persisted outputs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = KgPipeline.run(spark, TranscriptSource.fromSeq(spark, turns), dict,
      cfg.copy(broadcastSweepMaxDict = 0L))
    out.triples.count() // materialize so the caches actually fill
    assert(spark.sparkContext.getPersistentRDDs.size > before.size,
      "expected the run to register cached frames")
    out.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      s"leaked caches: ${spark.sparkContext.getPersistentRDDs.keySet.diff(before)}")
  }

  test("manifest carries per-partition lineage") {
    val root = Files.createTempDirectory("graft_cp2").toString
    KgPipeline.run(spark, TranscriptSource.fromSeq(spark, turns), dict, cfg,
      checkpointRoot = Some(root), runId = "t2")
    // an empty stage still gets a manifest, with rows 0
    new Checkpoints(spark, Some(root), "t2").stage("empty")(spark.range(0).toDF())
    def manifest(stage: String) =
      Files.readString(java.nio.file.Paths.get(s"$root/$stage.manifest.json"))
    val m = manifest("mentions")
    assert(m.contains("\"done\":true"))
    assert(m.contains("\"partitions\":[{\"file\":"))
    assert(m.contains("\"run_id\":\"t2\""))
    val rowsField = "\"rows\":(\\d+)".r
    Seq("mentions", "decisions", "components", "triples", "empty").foreach { stage =>
      val text = manifest(stage)
      val (top, parts) = text.splitAt(text.indexOf("\"partitions\":"))
      val rows = rowsField.findFirstMatchIn(top).map(_.group(1).toLong)
      val perFile = rowsField.findAllMatchIn(parts).map(_.group(1).toLong).sum
      val counted = spark.read.parquet(s"$root/$stage").count()
      assert(rows.contains(perFile) && perFile == counted,
        s"$stage: rows=$rows per-file sum=$perFile count=$counted")
    }
    assert(rowsField.findFirstMatchIn(manifest("empty")).map(_.group(1)).contains("0"))
  }
}
