package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A long-lived session keeps executor storage flat: after every driver
  * query has run, clearSession must leave no cached or checkpointed RDD,
  * no sink directory and no catalog table behind, and a second sweep over
  * the emptied session must reproduce the first one's row counts. */
class SessionLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The sf0.001 driver tables PlanSpec reads. */
  private val sfDir = new PlanSpec().sfDir
  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))

  /** The sink directories memo entries create under the temp dir. */
  private def sinkDirs(): Set[String] =
    tmp.listFiles().filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(_.getName).toSet

  private def sweep(): Map[String, Long] =
    SparkEntry.queries.map { case (name, fn) => name -> fn(spark, sfDir).count() }

  /** Stored RDDs by id, with the head of each one's plan-text name. */
  private def storedRdds(): Map[Int, String] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> i.name.take(200)).toMap

  private def sessionTables(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq
      .filter(n => n.startsWith("graft_ev_") || n.startsWith("graft_cust_"))

  private def assertEmptied(storedBefore: Map[Int, String], tmpBefore: Set[String]): Unit = {
    assert(storedRdds() -- storedBefore.keys == Map.empty, "RDDs left in storage")
    assert(sinkDirs() -- tmpBefore == Set.empty, "sink directories left")
    assert(sessionTables().isEmpty, "catalog tables left")
    assert(SessionMemo.names(spark).isEmpty)
  }

  test("clearSession after a full query sweep frees storage, sinks and tables; a second sweep matches") {
    // start from an empty memo: earlier suites may have queried this session
    SparkEntry.clearSession(spark)
    val storedBefore = storedRdds()
    val tmpBefore = sinkDirs()

    val first = sweep()
    SparkEntry.clearSession(spark)
    assertEmptied(storedBefore, tmpBefore)

    val second = sweep()
    SparkEntry.clearSession(spark)
    assertEmptied(storedBefore, tmpBefore)
    assert(second == first)
  }
}
