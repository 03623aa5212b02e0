package graft.pipeline

import org.apache.spark.sql.DataFrame

/** An operator's result together with every frame the operator persisted
  * to build it. The caller owns those frames: release them once the result
  * is materialized (or written), or keep them for as long as the result is
  * read lazily. */
final case class Cached[+A](value: A, cached: Seq[DataFrame]) {
  def release(): Unit = cached.foreach(_.unpersist(false))
}
