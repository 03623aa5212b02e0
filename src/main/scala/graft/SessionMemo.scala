package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.ConnectedComponents

/** The one owner of session-scoped state: every frame, sink directory or
  * catalog table a driver query memoizes for the life of a session is an
  * entry here, keyed on the session object and a name, and carries the
  * release its build chose next to its value (`Held`). `clear` removes one
  * entry and runs its release; `clearSession` does so for every entry of a
  * session.
  *
  * Builds run outside the map: `memo` inserts a cell with putIfAbsent and
  * forces it afterwards, so a build may itself call `memo` (the triples sink
  * builds the kg run, the LSH pairs build the shingle sets) without
  * re-entering the map's update lock. Concurrent callers of one key block on
  * its cell and share one build; a build that throws leaves no entry.
  *
  * Eviction removes the entries it sees in one pass and releases each
  * (waiting for a build in flight). An entry a query thread inserts while
  * `clearSession` runs stays registered, so the caller's contract is to
  * quiesce the session's query threads and clear once more before
  * SparkSession.stop. */
private[graft] object SessionMemo {

  /** A memoized value and the action that frees what its build stored. */
  final case class Held[+A](value: A, release: () => Unit)

  object Held {
    /** `df` persisted; released by unpersist. */
    def persist(df: DataFrame): Held[DataFrame] = {
      val p = df.persist()
      Held(p, () => p.unpersist(false))
    }

    /** `df` eagerly local-checkpointed. unpersist is a no-op on a
      * checkpoint, so release frees its RDD blocks instead. */
    def checkpoint(df: DataFrame): Held[DataFrame] = {
      val c = df.localCheckpoint(true)
      Held(c, () => ConnectedComponents.releaseResult(c))
    }

    /** A fresh directory `<java.io.tmpdir>/<prefix><random>` filled by
      * `write`; released (or on a failed write, removed) by deleting it. */
    def tmpDir[A](prefix: String)(write: String => A): Held[A] = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
      val delete = () => { org.apache.hadoop.fs.FileUtil.fullyDelete(dir); () }
      try Held(write(dir.getPath), delete)
      catch { case e: Throwable => delete(); throw e }
    }
  }

  private final case class Key(session: SparkSession, name: String)

  private final class Cell(build: => Held[Any]) {
    private var held: Option[Held[Any]] = None
    def get: Held[Any] = synchronized {
      held.getOrElse { val h = build; held = Some(h); h }
    }
  }

  private val entries = new ConcurrentHashMap[Key, Cell]()

  /** The value memoized under (`spark`, `name`), built on first use. */
  def memo[A](spark: SparkSession, name: String)(build: => Held[A]): A = {
    val key = Key(spark, name)
    val fresh = new Cell(build)
    val cell = Option(entries.putIfAbsent(key, fresh)).getOrElse(fresh)
    try cell.get.value.asInstanceOf[A]
    catch { case e: Throwable => entries.remove(key, cell); throw e }
  }

  /** Drop one entry and free what it stored; a no-op if absent. */
  def clear(spark: SparkSession, name: String): Unit =
    Option(entries.remove(Key(spark, name))).foreach(_.get.release())

  /** Drop and free every entry of `spark`. */
  def clearSession(spark: SparkSession): Unit =
    names(spark).foreach(clear(spark, _))

  /** Names of the entries `spark` holds now. */
  def names(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.collect { case Key(s, n) if s eq spark => n }.toSeq
  }
}
