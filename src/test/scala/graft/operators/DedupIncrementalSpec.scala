package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (batch-vs-corpus) MinHash-LSH dedup semantics: a brute-force
  * jaccard model decides every expected pair; the operator must emit exactly
  * the >= tau pairs touching at least one new doc — old×old near-dups exist
  * in the fixture ON PURPOSE and must never appear. Also pins the parquet
  * signature-index round trip (the production path: the corpus side is a
  * scan, not a recompute) and idempotent re-submission of an indexed doc.
  */
class DedupIncrementalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 40-word texts; a near-dup differs in ONE word => 3-shingle jaccard
  // ~0.85 (35 shared / 41 union), far above tau=0.6 and high enough that
  // the fixed murmur hash family's 16 bands recall every planted pair
  // (deterministic: the hashes are seeded constants, not RNG draws).
  private def words(seed: Int): Array[String] =
    Array.tabulate(40)(i => s"w${seed}_$i")
  private def text(seed: Int): String = words(seed).mkString(" ")
  private def nearDup(seed: Int): String =
    (words(seed).dropRight(1) :+ "CHANGED").mkString(" ")

  // old corpus: 1 & 2 are an old-old near-dup pair (must NOT be emitted);
  // 3 stands alone. new batch: 101 near-dups old 3 (old-new pair), 102 &
  // 103 near-dup each other (new-new), 104 unrelated, and old id 3 is
  // RE-SUBMITTED verbatim (idempotency: treated as old, so (3, 101) must
  // not double and 3 must not pair with itself).
  private val oldRows = Seq(
    (1L, text(1)), (2L, nearDup(1)), (3L, text(3)))
  private val newRows = Seq(
    (101L, nearDup(3)), (102L, text(5)), (103L, nearDup(5)),
    (104L, text(9)), (3L, text(3)))

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def sets(rows: Seq[(Long, String)]): DataFrame =
    Dedup.shingleSets(df(rows), 3, 1000L)

  /** Brute-force model over the union corpus (old wins on duplicate ids). */
  private def brute: Map[(Long, Long), Double] = {
    val docs = (oldRows ++ newRows.filterNot(n => oldRows.exists(_._1 == n._1))).toMap
    val oldIds = oldRows.map(_._1).toSet ++ newRows.filter(n => oldRows.exists(_._1 == n._1)).map(_._1)
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ")
      (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    }
    (for {
      (a, ta) <- docs.toSeq; (b, tb) <- docs.toSeq
      if a < b && !(oldIds(a) && oldIds(b))
      sa = shingles(ta); sb = shingles(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.6
    } yield (a, b) -> j).toMap
  }

  private def collectPairs(out: DataFrame): Map[(Long, Long), Double] =
    out.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap

  test("incrementalLsh: exactly the brute-force >=tau pairs touching a new doc") {
    val out = collectPairs(Dedup.incrementalLsh(sets(oldRows), sets(newRows), 0.6).value)
    assert(out.keySet == brute.keySet, s"engine=${out.keySet}\nbrute=${brute.keySet}")
    out.foreach { case (k, j) => assert(math.abs(j - brute(k)) < 1e-12, s"$k: $j vs ${brute(k)}") }
    // the planted pins spelled out
    assert(!out.contains((1L, 2L)), "old-old pair must be structurally impossible")
    assert(out.contains((3L, 101L)), "old-new pair must be found")
    assert(out.contains((102L, 103L)), "new-new pair must be found")
    assert(!out.keySet.exists { case (a, b) => a == b }, "no self pairs")
  }

  test("parquet signature-index round trip equals the in-memory index path") {
    val oldS = sets(oldRows); val newS = sets(newRows)
    val idxPath = "/tmp/graft_test_lsh_index"
    Dedup.bandedSignatures(oldS, 64, 16).write.mode("overwrite").parquet(idxPath)
    val viaDisk = collectPairs(Dedup.incrementalLsh(oldS, newS, 0.6,
      indexBanded = Some(spark.read.parquet(idxPath))).value)
    val inMem = collectPairs(Dedup.incrementalLsh(oldS, newS, 0.6).value)
    assert(viaDisk == inMem && viaDisk.nonEmpty)
  }

  test("equals full-corpus minhashLsh minus old-x-old, and is repartition-stable") {
    val allSets = sets(oldRows ++ newRows.filterNot(n => oldRows.exists(_._1 == n._1)))
    val oldIds = oldRows.map(_._1).toSet
    val full = collectPairs(Dedup.minhashLsh(allSets, 0.6).value)
      .filterNot { case ((a, b), _) => oldIds(a) && oldIds(b) }
    val inc = collectPairs(Dedup.incrementalLsh(
      sets(oldRows).repartition(7), sets(newRows).repartition(3), 0.6).value)
    assert(inc == full && inc.nonEmpty)
  }

  test("plan: with a parquet index the corpus side is a SCAN — one signature pass only") {
    import org.apache.spark.sql.execution.ExplainMode
    val idxPath = "/tmp/graft_test_lsh_index_plan"
    Dedup.bandedSignatures(sets(oldRows), 64, 16)
      .write.mode("overwrite").parquet(idxPath)
    def sigAggMentions(idx: Option[DataFrame]): (Int, String) = {
      val p = Dedup.incrementalLsh(sets(oldRows), sets(newRows), 0.6, indexBanded = idx)
        .value.queryExecution.explainString(ExplainMode.fromString("formatted"))
      ("minhashsigagg".r.findAllIn(p.toLowerCase).size, p)
    }
    // plan-text mentions count LINEAGE references (the lazy candidate frame
    // is referenced several times pre-materialization), so the gate is
    // COMPARATIVE: swapping the old side's signature recompute for the
    // parquet index must strictly reduce the aggregation mentions (the old
    // chain vanishes from every reference) and the index file must be
    // scanned
    val (withIdx, p) = sigAggMentions(Some(spark.read.parquet(idxPath)))
    val (without, _) = sigAggMentions(None)
    assert(p.contains(idxPath.split("/").last), s"index scan missing:\n${p.take(2000)}")
    assert(withIdx < without && withIdx > 0,
      s"expected fewer signature chains with a parquet index: $withIdx vs $without")
  }
}
