package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Task-level totals of one span, summed over every job it ran. */
final class SpanTasks {
  var shuffleBytes = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
}

/** Attributes every task to the span that caused it. The key is a local
  * property, not the job group: Spark's broadcast exchanges overwrite the
  * job group in their own threads but inherit local properties, so a
  * broadcast build still lands in the span that asked for it. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, SpanTasks]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .foreach(span => e.stageIds.foreach(stageSpan.put(_, span)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val t = tasks.computeIfAbsent(span, _ => new SpanTasks)
      t.synchronized {
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.taskRunMs += m.executorRunTime
      }
    }
  }

  /** Take and reset the totals recorded so far. */
  def drain(): Map[String, SpanTasks] = {
    val out = tasks.asScala.toMap
    tasks.clear()
    stageSpan.clear()
    out
  }
}

/** One operation's spans: name -> summed quantities. A span name used twice
  * in one operation (Checkpoints.stage runs once per pipeline stage) sums. */
final class Spans(sc: SparkContext, listener: SpanListener, cores: Int) {
  private val wallNs = mutable.LinkedHashMap[String, Long]()
  private val codegenNs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val counts = mutable.LinkedHashMap[String, Double]()

  def apply[T](name: String)(body: => T): T = {
    sc.setJobGroup(name, name)
    sc.setLocalProperty(Spans.Key, name)
    val c0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    try body
    finally {
      wallNs(name) = wallNs.getOrElse(name, 0L) + (System.nanoTime() - t0)
      codegenNs(name) += CodeGenerator.compileTime - c0
      sc.setLocalProperty(Spans.Key, null)
      sc.clearJobGroup()
    }
  }

  def count(name: String, v: Double): Unit = counts(name) = v

  def totalWallS: Double = wallNs.values.sum / 1e9

  override def toString: String =
    wallNs.map { case (n, ns) => f"$n=${ns / 1e9}%.3f" }.mkString(" ")

  /** Per-span quantities of this operation, keyed `<span>.<quantity>`. */
  def quantities(): Map[String, Double] = {
    BusDrain(sc)
    val tasks = listener.drain()
    val spans = wallNs.keys.map { name =>
      val wall = wallNs(name) / 1e9
      val t = tasks.getOrElse(name, new SpanTasks)
      val taskS = t.taskRunMs.sum / 1e3
      val sorted = t.taskRunMs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      name -> Map(
        "wall_s" -> wall,
        "task_s" -> taskS,
        "idle_share" -> (if (wall > 0) 1.0 - taskS / (wall * cores) else 0.0),
        "shuffle_mb" -> t.shuffleBytes / 1048576.0,
        "spill_mb" -> t.spillBytes / 1048576.0,
        "skew" -> (if (median > 0) sorted.last.toDouble / median else if (sorted.nonEmpty) 1.0 else 0.0),
        "codegen_s" -> codegenNs(name) / 1e9)
    }
    spans.flatMap { case (s, qs) => qs.map { case (q, v) => s"$s.$q" -> v } }.toMap ++ counts
  }
}

object Spans {
  val Key = "perfbench.span"
}
