package graft.app

import org.apache.spark.sql.SparkSession

/** Measurement-only standalone reproduction of Bench's dedup_heavy phase
  * (fresh JVM, no prior sweep): boilerplate corpus, persisted warm shingle
  * sets, alternating exhaustive/LSH runs. Attributes a slow in-bench draw
  * to JVM/heap context vs the operators themselves.
  */
object HeavyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = args.headOption.map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val boiler = graft.operators.Dedup.cloneBoilerplate(docs, copies = 399, every = 20)
    val bs = graft.operators.Dedup.shingleSets(boiler, 3, 450L).persist()
    println(s"[heavy] set_rows=${bs.count()}")
    def t1(f: => Long): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    (1 to rounds).foreach { r =>
      val te = t1(graft.operators.Dedup.jaccardPairs(bs, 0.6).count())
      val lsh = graft.operators.Dedup.minhashLsh(bs, 0.6, 64, 16)
      val tl = t1(lsh.value.count())
      lsh.release()
      println(f"[heavy] round $r ex=$te%.2f lsh=$tl%.2f x=${te / tl}%.2f")
    }
    spark.stop()
  }
}
