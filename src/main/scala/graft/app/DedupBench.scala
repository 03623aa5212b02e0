package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup

/** Iteration harness for the minhash-LSH vs exhaustive-jaccard crossover.
  *
  * Three corpora:
  *  - plain: the sf documents table (organic near-dups only);
  *  - heavy: cloneHeavy near-dup families — true pairs dominate, so the
  *    verify step IS the work and exhaustive legitimately wins;
  *  - boiler: cloneBoilerplate template families LARGER than the default
  *    df cap — shared shingles, no true pairs. Detecting dups across such
  *    families requires raising maxDf (else their shingles are dropped and
  *    big-family dups are invisible), and at that setting the exhaustive
  *    join pays df^2 per boilerplate shingle while LSH stays linear: the
  *    structural crossover the 100TB story rests on.
  *
  * args: [sfDir] [copies] [cores]
  */
object DedupBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(199)
    val cores = args.lift(2).getOrElse("32")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def bench(label: String, corpus: DataFrame, maxDf: Long,
              numHashes: Int, bands: Int): Unit = {
      val sets = Dedup.shingleSets(corpus, 3, maxDf).persist()
      val nDocs = corpus.count()
      val nSets = sets.count() // materialize before timing
      val (nEx, tEx) = time(Dedup.jaccardPairs(sets, 0.6).count())
      val lsh = Dedup.minhashLsh(sets, 0.6, numHashes, bands)
      val (nLsh, tLsh) = time(lsh.value.count())
      lsh.release()
      println(f"$label: docs=$nDocs setRows=$nSets maxDf=$maxDf h=$numHashes/b=$bands " +
        f"exhaustive=${tEx}%.2fs ($nEx pairs) lsh=${tLsh}%.2fs ($nLsh pairs) " +
        f"speedup=${tEx / tLsh}%.2fx equal=${nEx == nLsh}")
      sets.unpersist(false)
    }

    bench("plain", docs, 50L, 128, 32)
    bench("heavy(x39)", Dedup.cloneHeavy(docs, 39, every = 10), 50L, 128, 32)
    bench(s"boiler(x$copies)", Dedup.cloneBoilerplate(docs, copies, every = 20),
      copies + 51L, 64, 16)
    spark.stop()
  }
}
