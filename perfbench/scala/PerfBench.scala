package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Candidates, GraftConfig}
import graft.fixtures.Synth
import graft.model.{EntityRecord, Turn}
import graft.oracle.Oracle
import graft.pipeline._

/** The JVM half of the repository benchmark (see perfbench/README.md).
  *
  * Usage: PerfBench <kg_mentions|kg_blocked> <seed> <seconds> <trace 0|1> <workDir> <cores>
  *
  * A closed loop with one client and one operation in flight; an operation
  * is one full KG build, from reading the transcript parquet to the written
  * pred-partitioned triple sink. Inputs are made from the seed and written
  * before anything is timed. The loop runs one cold build, then a fixed
  * number of warm builds derived from `seconds`, and checks every build's
  * triples against the referee after the loop. Writes
  * `<workDir>/result.json` for run.py.
  */
object PerfBench {

  type Triples = Set[(String, String, String)]

  /** Sizing: one run, with set-up, cold build and referee, must stay far
    * inside the per-run budget on a 4-core host (README.md, "Sizing"). */
  val MentionConvs = 1000 // x 10 turns, 50-entity dictionary
  val BlockedConvs = 150 // x 10 turns
  val BlockedEntities = 150 // megaDictionary base entities, + every 40th duplicated
  val SetupReps = 3
  /** Warm builds per run: round(seconds / nominal build wall), at least
    * MinWarmOps. A fixed count, not "until `seconds` have passed": warm
    * builds keep getting faster for several builds (JIT), so a time-bounded
    * loop would give faster runs more, and faster, samples. */
  val MentionNominalS = 2.4
  val BlockedNominalS = 6.0
  val MinWarmOps = 2
  val MinTracedOps = 2
  /** The blocked tier approximates the exact sweep (bit-exact with the
    * oracle); the repository's triple P/R gate (BASELINE north rule) is
    * 0.95 on both. */
  val BlockedGate = 0.95
  /** The traced decomposition's span walls must sum to within this share of
    * the untraced warm_s (the warm_s bound in BENCHMARK.json). */
  val DriftBound = 0.25

  val SpanNames = Seq("TranscriptSource.read", "EntityStore.prepare", "MentionStage.detect",
    "Scorer.prepareMentions", "Blocking.mentionBlocks", "Blocking.hotKeySketch",
    "Blocking.entityBlocks", "Blocking.candidateSets", "Scorer.decideBest",
    "Scorer.entityDupEdges", "ConnectedComponents.run", "TripleEmitter.write",
    "Checkpoints.stage")
  val Counts = Seq("MentionStage.detect.rows", "Blocking.pairs_per_mention",
    "Blocking.hot_keys", "ConnectedComponents.run.rows", "TripleEmitter.write.files")
  val Quantities = Seq("wall_s", "task_s", "idle_share", "shuffle_mb", "spill_mb", "skew",
    "codegen_s")
  /** Every span quantity and count, for both workloads: a span a workload
    * never calls reports 0 (Blocking.* on kg_mentions). */
  val LayerNames: Seq[String] = SpanNames.flatMap(s => Quantities.map(q => s"$s.$q")) ++ Counts

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, coresS) = args
    require(Set("kg_mentions", "kg_blocked")(workload), s"unknown workload $workload")
    val trace = traceS == "1"
    val cores = coresS.toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val listener = new SpanListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val kg = new KgWorkload(spark, workload == "kg_blocked", seedS.toLong, workDir)
    val setupReps = (0 until SetupReps).map(_ => timed(kg.setup())._1)
    val loop = new Loop(spark, kg, listener, cores, trace)
    val nominal = if (workload == "kg_blocked") BlockedNominalS else MentionNominalS
    loop.run(math.max(MinWarmOps, math.round(secondsS.toDouble / nominal).toInt))
    val result = Map[String, Any](
      "workload" -> workload, "session_start_s" -> sessionS, "setup_reps_s" -> setupReps,
      // JVM and session start happen once per run; input generation,
      // writing and the read-back are repeated and their median taken
      "setup_s" -> (sessionS + med(setupReps))) ++ loop.report() ++ kg.referee(loop)
    Files.writeString(Paths.get(s"$workDir/result.json"), Json(result))
    spark.stop()
  }

  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** Executor storage still held by cached or checkpointed RDDs, in MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** CPU seconds this JVM has used, all threads. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Old-generation heap in use right after a full collection, in MB: the
    * pool's collection usage, not its current usage, which also counts
    * whatever other threads allocated since. */
  def heapAfterGcMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage))
    old.map(_.getUsed).getOrElse(
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

import PerfBench._

/** The closed loop: one cold build, then warm builds. A traced run
  * alternates untraced and traced warm builds so both see the same ambient
  * load; its cold build is traced, which is where codegen shows. */
final class Loop(spark: SparkSession, kg: KgWorkload, listener: SpanListener, cores: Int,
                 trace: Boolean) {
  val sinks = mutable.ArrayBuffer[String]()
  val warm = mutable.ArrayBuffer[Double]()
  val tracedWalls = mutable.ArrayBuffer[Double]()
  val tracedSpanTotals = mutable.ArrayBuffer[Double]()
  val spanSamples = mutable.ArrayBuffer[Map[String, Double]]()
  var coldSpans = Map.empty[String, Double]
  var cold = 0.0
  var retainedMb = 0.0
  var heapPeakMb = 0.0

  private def one(i: Int, traced: Boolean): (Double, Option[Spans]) = {
    val spans = if (traced) Some(new Spans(spark.sparkContext, listener, cores)) else None
    val cpu0 = processCpuS()
    val (wall, sink) = timed(kg.op(i, spans))
    println(f"[perfbench] build $i%d traced=$traced%s wall=$wall%.3f s " +
      f"cpu=${processCpuS() - cpu0}%.3f s ${spans.getOrElse("")}")
    kg.release()
    sinks += sink
    retainedMb = math.max(retainedMb, storageMb(spark))
    heapPeakMb = math.max(heapPeakMb, heapAfterGcMb())
    (wall, spans)
  }

  def run(warmBuilds: Int): Unit = {
    val (c, coldTrace) = one(0, trace)
    cold = c
    coldTrace.foreach(s => coldSpans = s.quantities())
    var i = 1
    while (warm.size < warmBuilds || (trace && tracedWalls.size < MinTracedOps)) {
      val (wall, spans) = one(i, trace && i % 2 == 0)
      spans match {
        case Some(s) =>
          tracedWalls += wall
          tracedSpanTotals += s.totalWallS
          spanSamples += s.quantities()
        case None => warm += wall
      }
      i += 1
    }
  }

  def warmS: Double = med(warm.toSeq)

  /** The traced decomposition has drifted from the pipeline when its span
    * walls no longer add up to the untraced build's wall. */
  def drifted: Boolean = trace && math.abs(med(tracedSpanTotals.toSeq) / warmS - 1.0) > DriftBound

  def report(): Map[String, Any] = {
    val base = Map[String, Any](
      "cold_s" -> cold, "warm_s" -> warmS, "warm_samples_s" -> warm.toSeq,
      "n_ops" -> warm.size, "retained_mb" -> retainedMb, "heap_peak_mb" -> heapPeakMb)
    if (!trace) base
    else {
      // medians over the traced warm builds, except codegen, which is the
      // cold build's: warm builds compile almost nothing, and cold_s is
      // where the compile time is paid
      val layer = LayerNames.map { n =>
        n -> (if (n.endsWith(".codegen_s")) coldSpans.getOrElse(n, 0.0)
              else med(spanSamples.toSeq.map(_.getOrElse(n, 0.0))))
      }.toMap
      base ++ Map(
        "per_layer" -> (layer ++ Map(
          "session.retained_mb" -> retainedMb,
          "trace.overhead_share" -> (med(tracedWalls.toSeq) / warmS - 1.0))),
        "traced_walls_s" -> tracedWalls.toSeq,
        "traced_span_totals_s" -> tracedSpanTotals.toSeq)
    }
  }
}

/** Inputs, one build, and the referee of both workloads: the brute-force
  * oracle on the same inputs, to which the exact sweep tier (kg_mentions)
  * must be equal and the blocked tier (kg_blocked) must agree at the P/R
  * gate. */
final class KgWorkload(spark: SparkSession, blocked: Boolean, seed: Long, workDir: String) {
  import spark.implicits._

  private val cores = spark.sparkContext.defaultParallelism
  private val input = s"$workDir/transcripts"
  private var dict: Seq[EntityRecord] = Nil
  private var turns: Seq[Turn] = Nil
  private var cfg = GraftConfig.default
  private var live: Seq[DataFrame] = Nil

  /** Generate every input, write it, read it back once. The dictionary is
    * the repository's default fixture for the workload (its size and
    * ambiguity define the workload); the transcripts, which carry all the
    * mention volume, come from the seed. */
  def setup(): Unit = {
    dict = if (blocked) Synth.megaDictionary(BlockedEntities) else Synth.dictionary(Synth.Spec())
    // the blocked tier is selected through the public knob: a dictionary
    // above broadcastSweepMaxDict takes it
    if (blocked) cfg = GraftConfig.default.copy(broadcastSweepMaxDict = dict.size - 1L)
    turns = Synth.transcripts(
      Synth.Spec(nConv = if (blocked) BlockedConvs else MentionConvs, seed = seed), dict)
    TranscriptSource.write(TranscriptSource.fromSeq(spark, turns), input)
    spark.read.parquet(input).count()
  }

  private def checkpointRoot(sink: String): Option[String] =
    if (blocked) Some(sink + "_checkpoints") else None

  /** One build; returns its sink. Traced when `spans` is given. */
  def op(i: Int, spans: Option[Spans]): String = {
    val sink = s"$workDir/sink_$i"
    spans match {
      case None =>
        val out = KgPipeline.run(spark, TranscriptSource.read(spark, input), dict, cfg,
          checkpointRoot(sink), s"run_$i")
        TripleEmitter.write(out.triples, sink)
        live = Seq(out.mentions, out.decisions, out.components, out.triples,
          out.decisionStats) ++ out.cached
      case Some(s) => tracedBuild(s, sink, i)
    }
    sink
  }

  /** KgPipeline.run's layers called one by one in its order, each output
    * materialized inside its own span. The referee holds it to the same
    * triples as the untraced builds. */
  private def tracedBuild(s: Spans, sink: String, i: Int): Unit = {
    val held = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { held += df; df }
    val cpRoot = checkpointRoot(sink)
    val cp = new Checkpoints(spark, cpRoot, s"run_$i")
    def stage(name: String, df: DataFrame): DataFrame =
      if (cpRoot.isEmpty) df else keep(s("Checkpoints.stage")(cp.stage(name)(df)).persist())

    val turnsDs = s("TranscriptSource.read") {
      val t = TranscriptSource.read(spark, input).persist(); keep(t.toDF()); t.count(); t
    }
    val entities = s("EntityStore.prepare") {
      val e = keep(EntityStore.prepare(spark, dict, cfg).cache()); e.count(); e
    }
    val mentions = stage("mentions", s("MentionStage.detect") {
      val m = keep(MentionStage.detect(spark, turnsDs, dict).toDF().persist())
      s.count("MentionStage.detect.rows", m.count().toDouble); m
    })
    val prep = s("Scorer.prepareMentions") {
      val p = keep(Scorer.prepareMentions(mentions, cfg)
        .select(Scorer.mentionPrepCols.map(col): _*).cache())
      p.count(); p
    }
    lazy val entityB = s("Blocking.entityBlocks") {
      val b = keep(Blocking.entityBlocks(entities, cfg).cache()); b.count(); b
    }
    val decisions = stage("decisions",
      if (dict.size <= cfg.broadcastSweepMaxDict) s("Scorer.decideBest") {
        val d = keep(Scorer.decideBest(spark, prep, None, entities, cfg).persist()); d.count(); d
      } else {
        val mentionB = s("Blocking.mentionBlocks") {
          val b = keep(Blocking.mentionBlocks(prep, cfg).persist()); b.count(); b
        }
        val mentionCount = math.max(mentions.count(), 1L)
        val hot = s("Blocking.hotKeySketch")(
          Blocking.hotKeySketch(mentionB, math.max(mentionCount / 100, 100L)))
        s.count("Blocking.hot_keys", hot.size.toDouble)
        val nPart = KgPipeline.autoShufflePartitions(spark, mentionCount, cfg)
        val eb = entityB
        val pairs = s("Blocking.candidateSets") {
          val p = keep(Blocking.candidateSets(spark, mentionB, eb, cfg, hot,
            numPartitions = Some(nPart)).persist())
          val n = p.agg(sum(size(col("cands")))).head().getLong(0)
          s.count("Blocking.pairs_per_mention", n.toDouble / mentionCount); p
        }
        s("Scorer.decideBest") {
          val d = keep(Scorer.decideBest(spark, prep, Some(pairs), entities, cfg, sweep = false,
            numPartitions = Some(nPart)).persist())
          d.count(); d
        }
      })
    // one span for both dup-edge paths: the driver-side exact pairs below
    // KgPipeline's 2000-entity cap, the blocked self-join above it
    val edges = s("Scorer.entityDupEdges") {
      val e =
        if (dict.size.toLong <= math.min(cfg.broadcastSweepMaxDict, 2000L))
          Candidates.dupEdges(Candidates.prep(dict, cfg), cfg).toDF("src", "dst")
        else Scorer.entityDupEdges(entityB, entities, cfg)
      keep(e.persist()); e.count(); e
    }
    val components = stage("components", s("ConnectedComponents.run") {
      val vertices = entities.select(col("id"))
        .union(decisions.filter(col("resolved_id").isNotNull).select(col("resolved_id").as("id")))
        .distinct()
      val c = keep(ConnectedComponents.run(vertices, edges).persist())
      s.count("ConnectedComponents.run.rows", c.count().toDouble); c
    })
    val all = TripleEmitter.all(entities, decisions, components)
    val triples =
      if (cpRoot.isEmpty) all else s("Checkpoints.stage")(cp.stage("triples")(all))
    s("TripleEmitter.write")(TripleEmitter.write(triples, sink))
    s.count("TripleEmitter.write.files", Files.walk(Paths.get(sink)).iterator().asScala
      .count(_.toString.endsWith(".parquet")).toDouble)
    live = held.toSeq
  }

  /** Free what the last build cached; runs outside the timed region. */
  def release(): Unit = {
    live.foreach { df => df.unpersist(false); ConnectedComponents.releaseResult(df) }
    live = Nil
  }

  private def triplesAt(sink: String): Triples =
    spark.read.parquet(sink).select("subj", "pred", "obj").as[(String, String, String)]
      .collect().toSet

  /** Oracle.run sharded by conversation over the cores. The union of the
    * shards' triples is the single run's triple set: each mention is scored
    * against the whole dictionary on its own, same_as edges come from the
    * dictionary alone, and a created id depends only on its surface. */
  private def oracleTriples(): Triples = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val shards = turns.groupBy(t => math.floorMod(t.conv_id.hashCode, cores)).values.toSeq
    val runs = shards.map(sh => Future(Oracle.run(sh, dict, GraftConfig.default).triples))
    Await.result(Future.sequence(runs), Duration.Inf).flatten
      .map(t => (t.subj, t.pred, t.obj)).toSet
  }

  /** Every build must give the same triples (determinism) and match the
    * oracle exactly (kg_mentions) or within the P/R gate (kg_blocked).
    * A traced run whose decomposition drifted fails one more operation. */
  def referee(loop: Loop): Map[String, Any] = {
    val (refS, reference) = timed(oracleTriples())
    val builds = loop.sinks.toSeq.map { sink =>
      val got = triplesAt(sink)
      deleteTree(sink)
      checkpointRoot(sink).foreach(deleteTree)
      got
    }
    val prs = builds.map(Oracle.precisionRecall(_, reference))
    val failed = builds.zip(prs).count { case (got, (p, r)) =>
      got != builds.head ||
        (if (blocked) p < BlockedGate || r < BlockedGate else got != reference)
    } + (if (loop.drifted) 1 else 0)
    Map("attempted" -> builds.size, "failed" -> failed, "drifted" -> loop.drifted,
      "triple_precision" -> prs.map(_._1).min, "triple_recall" -> prs.map(_._2).min,
      "triples" -> builds.head.size, "reference_triples" -> reference.size,
      "triples_per_s" -> builds.head.size / loop.warmS, "referee_s" -> refS,
      "dict_entities" -> dict.size, "turns" -> turns.size)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => other.toString // Int, Long, Boolean
  }
}
