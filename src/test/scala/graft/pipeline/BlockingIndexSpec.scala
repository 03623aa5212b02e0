package graft.pipeline

import java.util.Locale

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftConfig, Scoring, TextSim}
import graft.model.{EntityRecord, Mention}

/** Differential test of the blocked tier's indexes: `entityBlocks`,
  * `mentionBlocks`, `entityDupEdges` and `candidateSets` must equal a
  * pure-Scala statement of the channel rules on generated dictionaries and
  * mentions, row for row, under configs where every cap bites. The skipped-key
  * accumulators must count each dropped key exactly once. */
class BlockingIndexSpec extends AnyFunSuite {
  import BlockingIndexSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Cases = 14

  test("entity/mention indexes, dup edges and candidate sets equal the pure-Scala channel rules") {
    val acc = new AccListener(spark)
    spark.sparkContext.addSparkListener(acc)
    try (0 until Cases).foreach { i =>
      val c = caseGen.pureApply(Gen.Parameters.default.withSize(30), Seed(7919L * i + 1))
      withClue(s"case $i: cfg=${c.cfg} dict=${c.dict} mentions=${c.mentions}\n") {
        check(c, acc, hotAll = i % 2 == 1)
      }
    } finally spark.sparkContext.removeSparkListener(acc)
  }

  private def check(c: Case, acc: AccListener, hotAll: Boolean): Unit = {
    import spark.implicits._
    val cfg = c.cfg
    val entities = EntityStore.prepare(spark, c.dict, cfg).cache()
    val ents = entities.select("id", "name", "aliases", "entity_type", "x1", "emb").collect()
      .map(r => Ent(r.getString(0), r.getString(1), r.getSeq[String](2),
        Option(r.getString(3)), r.getString(4), r.getSeq[Float](5).toArray)).toSeq
    val prep = Scorer.prepareMentions(c.mentions.toDF(), cfg)
      .select(Scorer.mentionPrepCols.map(col): _*).cache()
    val ments = prep.select("mention_id", "surface", "mention_type", "m_x1", "m_emb").collect()
      .map(r => Ment(r.getString(0), r.getString(1), Option(r.getString(2)), r.getString(3),
        r.getSeq[Float](4).toArray)).toSeq

    val entityB = Blocking.entityBlocks(entities, cfg).cache()
    val gotE = entityB.select("key", "id", "channel").as[(String, String, String)].collect().toSeq
    val wantE = Ref.entityBlocks(ents, cfg)
    assert(gotE.sorted == wantE.sorted, "entityBlocks")

    val mentionB = Blocking.mentionBlocks(prep, cfg).cache()
    val gotM = mentionB.select("mention_id", "key", "channel").as[(String, String, String)]
      .collect().toSeq
    val wantM = Ref.mentionBlocks(ments, cfg)
    assert(gotM.sorted == wantM.sorted, "mentionBlocks")

    val wantSkipped = Ref.hotEntityKeys(wantE, cfg).size.toLong
    // a threshold no pair can miss turns the edge set into the candidate
    // pair set; the default one exercises the bound-then-score filter
    Seq(cfg.copy(highThreshold = -10.0), cfg).foreach { dcfg =>
      acc.reset()
      val got = Scorer.entityDupEdges(entityB, entities, dcfg)
        .as[(String, String)].collect().toSeq
      assert(got.sorted == Ref.dupEdges(ents, wantE, dcfg).sorted,
        s"entityDupEdges at highThreshold=${dcfg.highThreshold}")
      assert(acc.drained(DupEdgesAcc) == wantSkipped,
        s"graft.dupedges.skipped_keys at highThreshold=${dcfg.highThreshold}")
    }

    val skipped = spark.sparkContext.longAccumulator("spec.skipped_join_keys")
    acc.reset()
    val hot = if (hotAll) wantM.map(_._2).toSet else Set.empty[String]
    val sets = Blocking.candidateSets(spark, mentionB, entityB, cfg, hot, Some(skipped))
      .as[(String, Seq[String])].collect().toSeq
    assert(sets.map(_._1).distinct.size == sets.size, "one candidate set per mention")
    assert(sets.map { case (m, cs) => m -> cs.sorted }.toMap ==
      Ref.candidateSets(wantM, wantE, cfg), "candidateSets")
    assert(skipped.value == wantSkipped, "graft.blocking.skipped_join_keys")
    // the listener reads the driver-side value back: it measures what it claims
    assert(acc.drained("spec.skipped_join_keys") == skipped.value)

    Seq(entities, prep, entityB, mentionB).foreach(_.unpersist(true))
  }
}

object BlockingIndexSpec {

  final case class Case(dict: Seq[EntityRecord], mentions: Seq[Mention], cfg: GraftConfig)
  final case class Ent(
      id: String, name: String, aliases: Seq[String], etype: Option[String], x1: String,
      emb: Array[Float])
  final case class Ment(
      mid: String, surface: String, mtype: Option[String], x1: String, emb: Array[Float])

  val DupEdgesAcc = "graft.dupedges.skipped_keys"

  // a small vocabulary so n-grams, context tokens and whole surfaces collide
  // across entities, across scripts and across types
  private val words = Gen.oneOf("acme", "Acme", "corp", "alpha", "ALPHA", "beta", "Éclair",
    "北京", "银行", "中国银行", "数据", "ab", "t:org", "w:acme")
  private val pad = Gen.oneOf("", "", " ", "  ", "\t", "\n", " \t\n", "　")
  private val surface: Gen[String] = for {
    n <- Gen.choose(1, 3)
    ws <- Gen.listOfN(n, words)
    sep <- Gen.oneOf(" ", "", "\t")
    l <- pad
    r <- pad
  } yield l + ws.mkString(sep) + r
  private val etype = Gen.frequency(2 -> Gen.const(None),
    3 -> Gen.oneOf("person", "org", "place").map(Some(_)))
  private val text = Gen.listOf(words).map(_.take(6).mkString(" "))

  private def entity(idPool: Int, names: Seq[String]): Gen[EntityRecord] = for {
    id <- Gen.choose(0, idPool).map("e" + _)
    name <- if (names.isEmpty) surface else Gen.frequency(2 -> surface, 1 -> Gen.oneOf(names))
    na <- Gen.frequency(2 -> Gen.const(0), 3 -> Gen.choose(1, 3))
    aliases <- Gen.listOfN(na, surface)
    t <- etype
    defn <- Gen.option(text)
  } yield EntityRecord(id, name, t, aliases, defn, Map.empty, None, None)

  private def entities(n: Int): Gen[Seq[EntityRecord]] =
    (0 until n).foldLeft(Gen.const(Vector.empty[EntityRecord])) { (acc, _) =>
      acc.flatMap(es => entity(n, es.map(_.name)).map(es :+ _))
    }

  private def mention(i: Int, names: Seq[String]): Gen[Mention] = for {
    s <- Gen.frequency(3 -> Gen.oneOf(names), 1 -> surface)
    t <- etype
    ctx <- text
  } yield Mention(s"m$i", "c0", i, s, 0, t, ctx)

  val caseGen: Gen[Case] = for {
    ne <- Gen.choose(4, 14)
    dict <- entities(ne)
    nm <- Gen.choose(3, 12)
    surfaces = dict.flatMap(e => e.name +: e.aliases)
    ms <- Gen.sequence[Seq[Mention], Mention]((0 until nm).map(mention(_, surfaces)))
    maxDf <- Gen.choose(2L, 5L)
    joinMaxDf <- Gen.choose(2L, 4L)
    typeMax <- Gen.choose(1L, 3L)
    ngram <- Gen.choose(2, 3)
    lshBits <- Gen.oneOf(1, 2, 12)
  } yield Case(dict, ms, GraftConfig.default.copy(blockMaxDf = maxDf,
    blockJoinMaxDf = joinMaxDf, typeBlockMaxEntities = typeMax, blockNgramSize = ngram,
    lshBits = lshBits))

  /** The channel rules, stated over driver-side rows. */
  object Ref {
    // Java trim (every char <= U+0020) inside the key UDF; Spark's trim only
    // strips U+0020 from the full-surface row
    def blockKeys(s: String, cfg: GraftConfig): Seq[String] =
      (s.toLowerCase.trim +: TextSim.blockingGrams(s, cfg.blockNgramSize).toSeq).distinct
    def sparkTrimLower(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse.toLowerCase(Locale.ROOT)
    def lshKeys(emb: Array[Float], cfg: GraftConfig): Seq[String] =
      if (emb.isEmpty) Nil else TextSim.lshKeys(emb, cfg.lshTables, cfg.lshBits).toSeq
    def ctxKeys(x1: String): Seq[String] =
      TextSim.mentionTokens(x1.toLowerCase).toSeq.map("w:" + _)

    /** Distinct (key, id) rows whose key has at most `max` distinct ids. */
    private def dfCapped(rows: Seq[(String, String)], max: Long): Seq[(String, String)] = {
      val d = rows.distinct
      val df = d.groupBy(_._1).map { case (k, v) => k -> v.size }
      d.filter(r => df(r._1) <= max)
    }

    def entityBlocks(es: Seq[Ent], cfg: GraftConfig): Seq[(String, String, String)] = {
      val surfaces = es.flatMap(e => (e.name +: e.aliases).map(_ -> e.id))
      val grams = surfaces.flatMap { case (s, id) => blockKeys(s, cfg).map(_ -> id) }
      val full = surfaces.map { case (s, id) => sparkTrimLower(s) -> id }
      val lex = (dfCapped(grams, cfg.blockMaxDf) ++ full).distinct
      val typed = es.flatMap(e => e.etype.map(t => ("t:" + t) -> e.id))
      val tn = typed.groupBy(_._1).map { case (k, v) => k -> v.size }
      val typeCap = math.min(cfg.typeBlockMaxEntities, cfg.blockJoinMaxDf)
      val types = typed.filter(r => tn(r._1) <= typeCap).distinct
      val lsh = es.flatMap(e => lshKeys(e.emb, cfg).map(_ -> e.id)).distinct
      val ctx = dfCapped(es.flatMap(e => ctxKeys(e.x1).map(_ -> e.id)), cfg.blockMaxDf)
      Seq("lex" -> lex, "type" -> types, "lsh" -> lsh, "ctx" -> ctx).flatMap {
        case (ch, rows) => rows.map { case (k, id) => (k, id, ch) }
      }
    }

    def mentionBlocks(ms: Seq[Ment], cfg: GraftConfig): Seq[(String, String, String)] = {
      def rows(ch: String)(keys: Ment => Seq[String]) =
        ms.flatMap(m => keys(m).map(k => (m.mid, k, ch))).distinct
      rows("lex")(m => blockKeys(m.surface, cfg)) ++
        rows("type")(_.mtype.map("t:" + _).toSeq) ++
        rows("lsh")(m => lshKeys(m.emb, cfg)) ++
        rows("ctx")(m => ctxKeys(m.x1))
    }

    /** Keys (across channels) carrying more than blockJoinMaxDf index rows. */
    def hotEntityKeys(eb: Seq[(String, String, String)], cfg: GraftConfig): Set[String] =
      eb.groupBy(_._1).collect { case (k, v) if v.size > cfg.blockJoinMaxDf => k }.toSet

    def dupEdges(es: Seq[Ent], eb: Seq[(String, String, String)], cfg: GraftConfig)
        : Seq[(String, String)] = {
      val pairs = eb.groupBy(_._1).values
        .filter(v => v.size > 1 && v.size <= cfg.blockJoinMaxDf)
        .flatMap { v =>
          val ids = v.map(_._2).distinct
          for (a <- ids; b <- ids if a < b) yield (a, b)
        }.toSeq.distinct
      val byId = es.groupBy(_.id)
      // the dictionary may repeat an id: each (src row, dst row) is judged
      for ((s, d) <- pairs; a <- byId(s); b <- byId(d) if isEdge(a, b, cfg)) yield (s, d)
    }

    private def isEdge(a: Ent, b: Ent, cfg: GraftConfig): Boolean = {
      val (tfA, tfB) = (TextSim.tfVector(a.x1), TextSim.tfVector(b.x1))
      val mult = Scoring.typeMultiplier(a.etype, b.etype, cfg)
      val bound = (cfg.bgeWeight * TextSim.cosine(a.emb, b.emb) +
        cfg.crossEncoderWeight * TextSim.tfCosine(tfA, tfB) +
        cfg.fuzzWeight + cfg.levenshteinWeight) * mult
      bound >= cfg.highThreshold && Scoring.pairScorePrepped(
        a.name, a.aliases, a.etype, tfA, a.emb,
        b.name, b.aliases, b.etype, tfB, b.emb, cfg).final_score >= cfg.highThreshold
    }

    def candidateSets(
        mb: Seq[(String, String, String)], eb: Seq[(String, String, String)],
        cfg: GraftConfig): Map[String, Seq[String]] = {
      val hot = hotEntityKeys(eb, cfg)
      val idsByKey = eb.filterNot(r => hot(r._1)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      mb.flatMap { case (m, k, _) => idsByKey.getOrElse(k, Nil).map(m -> _) }
        .groupBy(_._1).map { case (m, v) => m -> v.map(_._2).distinct.sorted }
    }
  }

  /** Sums the task-side updates of named accumulators. `drained` runs a
    * marker job and waits for its end event: the listener bus delivers
    * events in order, so every earlier task's updates are in by then. */
  final class AccListener(spark: SparkSession) extends SparkListener {
    private val sums = mutable.Map[String, Long]()
    private val markerJobs = mutable.Set[Int]()
    private var markerEnded = false
    private val Marker = "blocking-index-spec-marker"

    def reset(): Unit = synchronized { sums.clear() }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      e.taskInfo.accumulables.foreach { a =>
        (a.name, a.update) match {
          case (Some(n), Some(v: Long)) => sums(n) = sums.getOrElse(n, 0L) + v
          case _ =>
        }
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == Marker))
        markerJobs += e.jobId
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs(e.jobId)) { markerEnded = true; notifyAll() }
    }

    def drained(name: String): Long = {
      synchronized { markerEnded = false }
      val sc = spark.sparkContext
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      synchronized {
        val deadline = System.currentTimeMillis() + 60000L
        while (!markerEnded && System.currentTimeMillis() < deadline) wait(1000L)
        assert(markerEnded, "listener bus did not drain")
        sums.getOrElse(name, 0L)
      }
    }
  }
}
