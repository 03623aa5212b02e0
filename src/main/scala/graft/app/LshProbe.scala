package graft.app
import org.apache.spark.sql.SparkSession
import graft.operators.Dedup
/** Diagnostic: cost split of the dedup family on the sf0.1 corpus —
  * candidates vs verify, and the numHashes/bands sweep (same rows-per-band
  * keeps the per-band collision probability; fewer bands cut the signature
  * ALU + banding shuffle linearly at a bounded recall cost). */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions","32")
      .config("spark.ui.enabled","false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[T](n:String)(f: =>T):T={val t0=System.nanoTime();val r=f;println(f"[t] $n%-26s ${(System.nanoTime()-t0)/1e9}%6.2fs");r}
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val sets = Dedup.shingleSets(docs, 3, 50L).persist()
    t("sets.count")(sets.count())
    for ((h, b) <- Seq((128, 32), (64, 16), (32, 8))) {
      val cand = t(s"candidates h=$h b=$b")(
        Dedup.minhashCandidates(sets, h, b).persist())
      val n = t(s"  cand.count h=$h")(cand.count())
      val v = t(s"  verify h=$h")(Dedup.jaccardForPairs(sets, cand, 0.6).count())
      println(s"  pairs=$v candidates=$n")
      cand.unpersist(true)
    }
    t("jaccardPairs (exhaustive)")(Dedup.jaccardPairs(sets, 0.6).count())
    val lsh = Dedup.minhashLsh(sets, 0.6)
    t("minhashLsh default warm")(lsh.value.count())
    lsh.release()
    spark.stop()
  }
}
