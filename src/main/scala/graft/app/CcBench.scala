package graft.app

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.fixtures.Synth
import graft.pipeline.{Blocking, ConnectedComponents, EntityStore, KgPipeline,
  MentionStage, Scorer, TranscriptSource}

/** Distributed connected-components evidence (round-4): in every measured
  * pipeline the canonicalization graph sits below the driver union-find
  * ceiling, so `ConnectedComponents.runDistributed` — the path the 100 TB
  * story leans on — was spec-tested for agreement but never TIMED at scale.
  * This bench forces it on the mega-dictionary corpus and attributes wall
  * per stage, so BASELINE.md can record that the distributed loop's cost is
  * sub-dominant to scoring (rounds ~ dup-cluster diameter, tiny).
  *
  * Also cross-checks the distributed labels against the driver union-find
  * on the same edges — byte-equal labeling, not just row counts.
  *
  * Usage: runMain graft.app.CcBench [cores] [nConv] [nDictBase]
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val cores = args.lift(0).map(_.toInt).getOrElse(32)
    val nConv = args.lift(1).map(_.toInt).getOrElse(10000)
    val nDict = args.lift(2).map(_.toInt).getOrElse(100000)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-ccbench-$nDict")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // GRAFT_PROFILE=1: per-stage wall + task time (same listener as
    // ScalingBench) to attribute the CC loop's cost per round
    if (sys.env.get("GRAFT_PROFILE").contains("1")) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
          System.err.println(f"[stage ${si.stageId}%4d] tasks=${si.numTasks}%4d wall=${wall / 1000.0}%7.2fs taskTime=${si.taskMetrics.executorRunTime / 1000.0}%8.2fs ${si.name.takeWhile(_ != '\n').take(70)}")
        }
      })
    }

    val cfg = GraftConfig.default
    val dict = Synth.megaDictionary(nDict)
    val spec = Synth.Spec(nConv = nConv)
    val inputPath = s"/tmp/graft-megadict-$nConv-$nDict/transcripts"
    if (!new java.io.File(inputPath).exists()) {
      TranscriptSource.write(
        TranscriptSource.fromSeq(spark, Synth.transcripts(spec, dict)), inputPath)
    }
    val turns = TranscriptSource.read(spark, inputPath)
    val nTurns = turns.count() // warm FS cache, excluded

    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }

    // scoring stage (the cost CC must stay sub-dominant to): same blocked
    // tier the pipeline runs at this dictionary size
    val entities = EntityStore.prepare(spark, dict, cfg).cache()
    val mentions = MentionStage.detect(spark, turns, dict).toDF().persist()
    val mentionsPrep = Scorer.prepareMentions(mentions, cfg)
      .select(Scorer.mentionPrepCols.map(col): _*).cache()
    val entityB = Blocking.entityBlocks(entities, cfg).cache()
    val decided = KgPipeline.decideTier(spark, mentions, mentionsPrep, entities,
      entityB, dict.size.toLong, cfg)
    val decisions = decided.value.persist()
    val (nDecisions, tScore) = timed(decisions.count())
    decided.release()

    val edges = Scorer.entityDupEdges(entityB, entities, cfg).persist()
    val (nEdges, tEdges) = timed(edges.count())
    val vertices = entities.select(col("id"))
      .union(decisions.filter(col("resolved_id").isNotNull)
        .select(col("resolved_id").as("id")))
      .distinct().persist()
    val nVertices = vertices.count()

    // forced distributed min-label loop (driver threshold bypassed)
    var rounds = -1
    val (nLabels, tCc) = timed {
      ConnectedComponents.runDistributed(vertices, edges, onRounds = rounds = _).count()
    }

    // referee: driver union-find over the same graph must label identically
    val distLabels = ConnectedComponents.runDistributed(vertices, edges)
    val driverLabels = {
      import spark.implicits._
      val vs = vertices.collect().map(_.getString(0))
      val es = edges.collect().map(r => (r.getString(0), r.getString(1)))
      graft.core.UnionFind.components(vs, es).toSeq.toDF("id", "component")
    }
    val disagree = distLabels.toDF("id", "c_a")
      .join(driverLabels.toDF("id", "c_b"), "id")
      .filter(col("c_a") =!= col("c_b")).count()

    println(f"""{"bench":"cc_distributed","cores":$cores,"dict_entities":${dict.size},"turns":$nTurns,"vertices":$nVertices,"edges":$nEdges,"decisions":$nDecisions,"score_sec":$tScore%.2f,"edges_sec":$tEdges%.2f,"cc_sec":$tCc%.2f,"cc_rounds":$rounds,"cc_labels":$nLabels,"cc_vs_score":${tCc / tScore}%.4f,"driver_disagreements":$disagree}""")
    spark.stop()
  }
}
