package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Batch-style checkpoint-resume (north_rule): each stage materializes its
  * output parquet plus a manifest recording completion + row count + per-
  * partition lineage. A rerun skips stages whose manifest says done —
  * kill-after-stage-N resumes with byte-identical results (outputs are
  * deterministic).
  *
  * The reference's only persistence lifecycle is the FAISS index save/load
  * (/root/reference/services/vectorization.py:536-591); this generalizes it
  * to every stage.
  */
final class Checkpoints(spark: SparkSession, root: Option[String], runId: String) {

  def stageDir(name: String): String = s"${root.get}/$name"
  private def manifestPath(name: String) = Paths.get(s"${root.get}/$name.manifest.json")

  def isDone(name: String): Boolean =
    root.isDefined && Files.exists(manifestPath(name))

  /** Run (or resume) a stage. With no checkpoint root, just computes. */
  def stage(name: String)(compute: => DataFrame): DataFrame = root match {
    case None => compute
    case Some(_) =>
      if (isDone(name)) {
        spark.read.parquet(stageDir(name))
      } else {
        val df = compute
        df.write.mode(SaveMode.Overwrite).parquet(stageDir(name))
        val back = spark.read.parquet(stageDir(name))
        // per-partition lineage: rows per parquet file of this stage output;
        // their sum is the stage's row count, so no second scan counts it
        val counts = back
          .select(org.apache.spark.sql.functions.input_file_name().as("file"))
          .groupBy("file").count()
          .collect()
        val perFile = counts
          .map(r => s"""{"file":${jsonStr(r.getString(0))},"rows":${r.getLong(1)}}""")
          .mkString("[", ",", "]")
        val manifest =
          s"""{"stage":${jsonStr(name)},"run_id":${jsonStr(runId)},"rows":${counts.map(_.getLong(1)).sum},
             |"schema":${jsonStr(back.schema.treeString)},"partitions":$perFile,"done":true}""".stripMargin
        Files.createDirectories(manifestPath(name).getParent)
        Files.writeString(manifestPath(name), manifest)
        back
      }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
