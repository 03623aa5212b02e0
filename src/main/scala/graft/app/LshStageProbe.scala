package graft.app

import org.apache.spark.sql.SparkSession
import graft.operators.Dedup

/** Stage-by-stage timing of the MinHash-LSH dedup path (guide §1: attribute
  * before optimizing) — shingle sets, banded signatures, candidate buckets,
  * verify — each isolated with a noop sink over the same warm inputs.
  *
  * Usage: runjava graft.app.LshStageProbe [sfDir] [cpus] [numHashes] [bands]
  */
object LshStageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(1).getOrElse("32")
    val numHashes = args.lift(2).map(_.toInt).getOrElse(128)
    val bands = args.lift(3).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[lsh] $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    var sets: org.apache.spark.sql.DataFrame = null
    t("shingleSets (build+persist)") {
      sets = Dedup.shingleSets(docs, 3, 50L).persist()
      sets.count()
    }
    (1 to 2).foreach { i =>
      t(s"bandedSignatures r$i") { noop(Dedup.bandedSignatures(sets, numHashes, bands)) }
    }
    var cand: org.apache.spark.sql.DataFrame = null
    t("candidates (banded+bucket)") {
      cand = Dedup.minhashCandidates(sets, numHashes, bands).persist()
      cand.count()
    }
    t("verify (jaccardForPairs)") { noop(Dedup.jaccardForPairs(sets, cand, 0.6)) }
    t("full minhashLsh") {
      val lsh = Dedup.minhashLsh(sets, 0.6, numHashes, bands)
      noop(lsh.value)
      lsh.release()
    }
    spark.stop()
  }
}
