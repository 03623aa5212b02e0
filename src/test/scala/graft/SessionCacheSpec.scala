package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SessionMemo.Held

/** clearSession eviction semantics under concurrent insertion: entries a
  * query thread races in WHILE eviction runs must not leak — once the
  * caller quiesces and clears once more, every frame is unpersisted and the
  * session holds no entry (round-4 advisory: a single keySet snapshot
  * missed them and leaked the persisted frame for the session's lifetime). */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("clearSession drains entries inserted concurrently; all frames unpersisted") {
    val dfs = (1 to 40).map(_ => spark.range(3).toDF().persist(StorageLevel.MEMORY_ONLY))
    dfs.foreach(_.count())
    val inserter = new Thread(() => dfs.zipWithIndex.foreach { case (df, i) =>
      SessionMemo.memo(spark, s"race$i")(Held(df, () => df.unpersist(false)))
      if (i % 8 == 0) Thread.sleep(1)
    })
    inserter.start()
    // eviction racing the inserts: each call releases what it sees
    (1 to 5).foreach { _ => SparkEntry.clearSession(spark); Thread.sleep(2) }
    inserter.join()
    // caller contract: quiesce, then one final clearSession removes the rest
    SparkEntry.clearSession(spark)
    assert(SessionMemo.names(spark).isEmpty)
    dfs.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
  }
}
