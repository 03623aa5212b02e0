package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

import graft.pipeline.Cached

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five families, cheapest-first, each a declarative Catalyst plan:
  *  - exact:       hash-groupBy on md5(text) — one shuffle on a 16-byte key
  *                 (never on the full text: at 100 TB the key bytes ARE the
  *                 shuffle cost).
  *  - ngramJaccard: exact set-similarity self-join blocked by shingle.
  *                 Hot (low-selectivity) shingles are df-capped OUT OF THE
  *                 SETS (idf-style), which bounds the worst blocking bucket
  *                 at scale and keeps the semantics reproducible in plain SQL
  *                 for the oracle.
  *  - minhashLsh:  minhashes via the 2-universal combine h1+(i+1)*h2 —
  *                 TWO murmur evaluations per shingle plus H cheap ALU
  *                 combines (the inner loop is still O(|sh|*H) multiply-adds;
  *                 the combine saves the H-2 hash evaluations, not the loop),
  *                 default 64 hashes = 16 bands x 4 rows, bucket join, then
  *                 exact-jaccard verification of candidates. Verified output
  *                 equals the exhaustive join wherever band recall is 1;
  *                 the honest miss math (p_band = j^rows, miss =
  *                 (1-p_band)^bands): the driver hash gate runs at sf0.01,
  *                 whose lowest pair sits at j = 0.90 -> miss 3.9e-8/pair;
  *                 sf0.1's lowest pair (j = 0.80) misses at 2.2e-4/pair
  *                 (one-in-~4500 bench runs would drop one of 256 pairs —
  *                 the bench counts, it does not hash-compare). Doubling
  *                 back to 128/32 squares the per-pair miss for 2x the
  *                 signature cost — the candidate stage scales linearly in H
  *                 (measured 3.2s @128 vs 1.35s @64 at sf0.1). Callers
  *                 should persist `sets` — the signature and verify stages
  *                 each walk it.
  *  - simhash:     64-bit token-hash sign-aggregate; near-dups via 4x16-bit
  *                 band pigeonhole (hamming<=3 guarantees a shared band).
  *  - embedding:   cosine near-dup over double-cast vectors; sequential
  *                 fold dot product so the bits match the SQL oracle.
  *
  * All shuffles key on ids/hashes, never payloads; every join side that is
  * provably small (bucket pair lists, planted probes) is broadcast by AQE.
  */
object Dedup {

  /** Exact duplicate groups keyed by md5(text): representative = min id. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** First-wins dedup: keep the first row per key in (orderCols) order —
    * the reference's dedup-by-name first-wins (SURVEY.md F4) generalized. */
  def firstWins(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** (doc_id, shingle) rows: distinct word n-gram shingles per doc, with
    * shingles of corpus document frequency > maxDf removed from the sets
    * (both selectivity control and idf semantics; the SQL oracle applies
    * the identical filter).
    *
    * Shingle generation is a scalar UDF rather than the equivalent Catalyst
    * sequence/slice/concat_ws chain, and the df cap is a window count rather
    * than a groupBy + join back: measured 9x faster end-to-end at sf0.1
    * (8.8s -> 1.0s) with bit-identical output — the codegen'd array chain
    * allocates a slice per position, and the join shuffled the exploded
    * shingle strings twice where the window shuffles them once. */
  def shingleSets(docs: DataFrame, n: Int, maxDf: Long,
                  idCol: String = "doc_id", textCol: String = "text",
                  cjk: Boolean = false): DataFrame = {
    // `cjk`: tokenize via the shared CJK-aware regex (one token per Han
    // char, non-Han runs split on spaces — TextOps.cjkPattern, identical in
    // the DuckDB twin) so unsegmented zh shingles are char n-grams instead
    // of one giant whitespace "token" per sentence run
    val shingleUdf = udf { text: String =>
      val ws =
        if (text == null) Array.empty[String]
        else if (cjk) TextOps.cjkTokenize(text)
        else text.split(" ").filter(_.nonEmpty)
      if (ws.length < n) Array.empty[String]
      else Array.tabulate(ws.length - n + 1)(i => ws.slice(i, i + n).mkString(" ")).distinct
    }
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(shingleUdf(col(textCol))).as("shingle"))
    // shingles are distinct per doc, so count(*) per shingle == document freq
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= maxDf).select("doc_id", "shingle")
  }

  /** Exact jaccard >= tau pairs over shingle sets (doc_a < doc_b).
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|) — one bigint division, bit-identical
    * to the SQL oracle. */
  def jaccardPairs(sets: DataFrame, tau: Double): DataFrame = {
    val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sets.toDF("doc_a", "shingle")
      .join(sets.toDF("doc_b", "shingle"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Platform-stable 64-bit string hash (two murmur32 lanes). */
  def hash64(s: String, seed: Int): Long = {
    val h1 = MurmurHash3.stringHash(s, seed)
    val h2 = MurmurHash3.stringHash(s, seed ^ 0x5bd1e995)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Lowercase MD5 hex of the UTF-8 bytes — the PORTABLE hash spelling for
    * fingerprints that must reproduce across engines and languages (every
    * SQL engine ships md5(); murmur implementations differ between
    * libraries). MessageDigest instances are not thread-safe, so one is
    * held per thread. */
  private val md5Tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private def md5Bytes(s: String): Array[Byte] = {
    val d = md5Tl.get()
    d.reset()
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private val hexDigits = "0123456789abcdef".toCharArray
  def md5Hex(s: String): String = {
    val b = md5Bytes(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** First 40 bits of the digest as a non-negative Long, assembled straight
    * from the first 5 digest BYTES — bit-identical to parsing the first 10
    * hex chars (hex-prefix == byte-prefix), so it still matches the SQL twin
    * spelling CAST('0x' || substr(md5(x), 1, 10) AS BIGINT) exactly (and
    * Spark's conv(substr(md5(x),1,10),16,10)) while skipping the hex string
    * round-trip entirely; 40 bits keeps *48271-style residue arithmetic
    * ANSI-safe in int64. */
  private[operators] def first40(d: Array[Byte]): Long =
    ((d(0) & 0xffL) << 32) | ((d(1) & 0xffL) << 24) | ((d(2) & 0xffL) << 16) |
      ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)

  def md5Hash40(s: String): Long = first40(md5Bytes(s))

  /** The two 32-bit halves of md5's first 64 bits, each as a non-negative
    * Long (hi = digest bytes 0-3 == hex chars 1-8, lo = bytes 4-7 == chars
    * 9-16, assembled from the bytes directly) — the cross-engine-safe
    * carrier for a conceptual unsigned 64-bit hash: both halves stay far
    * inside int64, so no engine's signed arithmetic can overflow or
    * sign-surprise while re-deriving bit b (b < 32 from lo, else hi). */
  def md5Halves(s: String): (Long, Long) = {
    val d = md5Bytes(s)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL),
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL))
  }

  /** `md5Hash40` of every k-char gram of `s` — equals
    * `Array.tabulate(s.length-k+1)(i => md5Hash40(s.substring(i, i+k)))`
    * with the per-gram substring + getBytes + digest allocation eliminated:
    * the string is UTF-8-encoded ONCE, each gram's bytes are a slice of
    * that encoding (valid for surrogate-free strings, where UTF-8 is
    * per-char concatenation; any surrogate falls back to the substring
    * path, whose unpaired-half replacement encoding a slice cannot
    * reproduce), and the digest lands in a reused 16-byte buffer. This is
    * the interior of every winnowing / decontamination fingerprint pass —
    * one digest per char position, so the per-call constant IS the
    * operator's CPU at corpus scale. */
  def gramHash40s(s: String, k: Int): Array[Long] = {
    val n = s.length - k + 1
    val out = new Array[Long](n)
    var hasSurrogate = false
    var i = 0
    while (i < s.length && !hasSurrogate) {
      if (Character.isSurrogate(s.charAt(i))) hasSurrogate = true
      i += 1
    }
    if (hasSurrogate) {
      var j = 0
      while (j < n) { out(j) = md5Hash40(s.substring(j, j + k)); j += 1 }
    } else {
      val offs = new Array[Int](s.length + 1)
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        val w = if (c < 0x80) 1 else if (c < 0x800) 2 else 3
        offs(i + 1) = offs(i) + w
        i += 1
      }
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = md5Tl.get()
      val buf = new Array[Byte](16)
      var j = 0
      while (j < n) {
        d.reset()
        d.update(bytes, offs(j), offs(j + k) - offs(j))
        d.digest(buf, 0, 16)
        out(j) = first40(buf)
        j += 1
      }
    }
    out
  }

  /** The two per-shingle hash lanes feeding the 2-universal combine. */
  def shingleHashes(s: String): (Long, Long) =
    (hash64(s, 0x2545f491), hash64(s, 0x1b873593) | 1L) // odd h2 => full-period

  /** MinHash signature via the 2-universal combination sig_i = h1 + (i+1)*h2:
    * each shingle is murmur-hashed exactly twice, then folded into all H
    * lanes with one multiply-add each (O(|sh|*H) ALU, O(|sh|) hashing). */
  def minhashSig(shingles: Seq[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val it = shingles.iterator
    while (it.hasNext) {
      val (h1, h2) = shingleHashes(it.next())
      foldLanes(sig, h1, h2)
    }
    sig
  }

  private[operators] def foldLanes(sig: Array[Long], h1: Long, h2: Long): Unit = {
    var h = h1
    var i = 0
    while (i < sig.length) {
      h += h2
      if (h < sig(i)) sig(i) = h
      i += 1
    }
  }

  /** Typed aggregator folding pre-hashed (h1, h2) shingle lanes directly
    * into the minhash signature. Per-lane min is commutative/associative, so
    * the result is bit-identical at any partitioning — and Spark runs it
    * with MAP-SIDE PARTIAL aggregation: each map partition ships one
    * partially-folded H-lane signature per doc across the shuffle instead of
    * a collect_list of every shingle hash pair (the round-2 fixed cost). */
  final class MinhashSigAgg(numHashes: Int)
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), Array[Long], Seq[Long]] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    def reduce(sig: Array[Long], in: (Long, Long)): Array[Long] = {
      foldLanes(sig, in._1, in._2); sig
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    def finish(sig: Array[Long]): Seq[Long] = sig.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Banded minhash signatures: (doc_id, band_idx, bucket) — one row per
    * document per band. This frame IS the LSH signature index: written to
    * parquet it becomes the persistent side of incremental dedup (a new
    * batch computes only its OWN signatures and bucket-joins against it —
    * the corpus is never re-shingled, never re-paired). Shingles are
    * murmur-hashed to their two (h1, h2) lanes BEFORE the per-doc
    * aggregation, so the signature shuffle moves (after the map-side
    * partial fold) one H-lane signature per doc per map partition instead
    * of 16 bytes per shingle — at corpus scale the shuffle bytes ARE the
    * cost of this stage. */
  def bandedSignatures(sets: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val hashPair = udf((s: String) => shingleHashes(s))
    val sigAgg = udaf(new MinhashSigAgg(numHashes))
    val bandHash = udf((sig: Seq[Long]) =>
      Array.tabulate(bands) { b =>
        val h = sig.slice(b * rows, (b + 1) * rows)
          .foldLeft(1125899906842597L)((acc, x) => acc * 31 + x)
        (b, h)
      })
    sets
      .select(col("doc_id"), hashPair(col("shingle")).as("hp"))
      .groupBy("doc_id").agg(sigAgg(col("hp._1"), col("hp._2")).as("sig"))
      .withColumn("band", explode(bandHash(col("sig"))))
      .select(col("doc_id"), col("band._1").as("band_idx"), col("band._2").as("bucket"))
  }

  /** LSH candidate pairs: band the signatures, bucket-join, emit distinct
    * (doc_a < doc_b) pairs. Buckets are tiny (near-dup clusters), so the
    * per-bucket pair expansion is safe; the signature fold is ONE
    * aggregation (MinhashSigAgg, map-side combined) and the groupBy on
    * (band, bucket-hash) is the only other shuffle. Degenerate buckets above
    * `maxBucket` members (e.g. thousands of boilerplate docs sharing a band)
    * are SKIPPED rather than expanded quadratically in one task — identical
    * docs are already covered by exact dedup, and at the default 4096 the
    * cap is unreachable on non-pathological corpora. The skip is NOT silent:
    * every skipped bucket increments `skipped` (minhashLsh registers a named
    * accumulator visible in the Spark UI / metrics). */
  def minhashCandidates(sets: DataFrame, numHashes: Int, bands: Int,
                        maxBucket: Int = 4096,
                        skipped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val banded = bandedSignatures(sets, numHashes, bands)
    val pairsInBucket = udf((ids: Seq[Long]) => {
      val s = ids.distinct.sorted
      for { i <- s.indices; j <- (i + 1) until s.size } yield (s(i), s(j))
    })
    val keepBucket = udf((n: Int) => {
      if (n > maxBucket) { skipped.foreach(_.add(1L)); false } else n > 1
    }).asNondeterministic()
    banded.groupBy("band_idx", "bucket").agg(collect_list("doc_id").as("ids"))
      .filter(keepBucket(size(col("ids"))))
      .select(explode(pairsInBucket(col("ids"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct()
  }

  /** Exact jaccard computed ONLY for the given candidate pairs — the
    * verify step of LSH-then-verify. The corpus-wide sets are pruned ONCE
    * to the docs that appear in any candidate pair (a broadcast semi-join:
    * the candidate doc-id list is LSH-bucket-sized, not corpus-sized), so
    * the pair joins and the size aggregation run over candidate docs only —
    * work scales with |candidates|, not with the corpus. */
  def jaccardForPairs(sets: DataFrame, cand: DataFrame, tau: Double): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val pruned = sets.join(broadcast(candDocs), "doc_id")
    // doc_id-pruning keeps every shingle of a kept doc, so per-doc sizes
    // computed from the pruned frame equal the corpus-wide ones
    val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(pruned.toDF("doc_a", "shingle"), "doc_a")
      .join(pruned.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("doc_a", "sz_a"), "doc_a")
      .join(sizes.toDF("doc_b", "sz_b"), "doc_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash-LSH near-dup pairs with exact-jaccard verification of the
    * LSH candidates: the LSH-candidate ∩ (jaccard >= tau) set. Equals the
    * exhaustive join wherever band recall is 1 (see class doc). Two frames
    * are persisted and returned in `cached` with the lazy pair frame: the
    * candidates (the verify step reads them three times — doc-id prune
    * twice, intersection join once — and recomputing them re-runs the whole
    * signature/banding chain each time) and the candidate-pruned verify
    * corpus. The caller releases both once the pairs are materialized; one
    * bucket-scale frame per call otherwise stays cached for the session.
    * Skipped degenerate buckets are counted in the named accumulator
    * "graft.minhash.skipped_buckets" (no silent caps). */
  def minhashLsh(sets: DataFrame, tau: Double, numHashes: Int = 64, bands: Int = 16,
                 maxBucket: Int = 4096): Cached[DataFrame] = {
    val acc = sets.sparkSession.sparkContext
      .longAccumulator("graft.minhash.skipped_buckets")
    val cand = minhashCandidates(sets, numHashes, bands, maxBucket, Some(acc)).persist()
    // prune the corpus-scale sets to candidate members ONCE and persist the
    // (candidate-doc-sized) result: jaccardForPairs walks its `sets` input
    // three times (sizes + both intersection sides), and unpersisted, each
    // walk re-ran the broadcast prune over the FULL sets frame — three
    // corpus-scale passes for a verify step whose work should scale with
    // |candidates| (the incrementalLsh discipline, now shared). Doc-level
    // pruning keeps every shingle of a kept doc, so sizes and intersections
    // are unchanged.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val verifySets = sets.join(broadcast(candDocs), "doc_id").persist()
    Cached(jaccardForPairs(verifySets, cand, tau), Seq(cand, verifySets))
  }

  /** Incremental LSH candidates: pairs touching AT LEAST ONE new document.
    * `indexBanded` is the kept corpus's signature index (bandedSignatures,
    * typically read back from parquet); `newBanded` is the incoming batch's
    * — built with the SAME (numHashes, bands) family, which the hash math
    * requires and the caller owns. Both sides union into one (band_idx,
    * bucket) groupBy; inside a bucket, pairs with two old members are
    * FILTERED IN THE EMIT UDF (the corpus was already deduped against
    * itself — re-verifying old×old would make every batch cost
    * O(corpus²/buckets) instead of O(batch)). A doc id present on BOTH
    * sides is treated as old (idempotent re-submission of an indexed doc
    * pairs it with nothing twice). Bucket caps and the skip accumulator
    * work exactly as in `minhashCandidates`; old-heavy degenerate buckets
    * are the common web case (boilerplate families live in the index), so
    * the cap bounds each batch's worst bucket by maxBucket·|new∩bucket|,
    * not maxBucket². */
  def incrementalCandidates(indexBanded: DataFrame, newBanded: DataFrame,
                            maxBucket: Int = 4096,
                            skipped: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    // THE scale move: prune the corpus-sized index to buckets the batch
    // actually touches BEFORE anything shuffles. Buckets with no new
    // member cannot emit a pair (the emit UDF requires a new side), so the
    // semi-join changes nothing semantically but turns the bucket groupBy
    // from an O(index) shuffle into an O(batch × bucket-mates) one —
    // without it, a 0.25% batch still paid a full-corpus exchange
    // (measured 1.33× vs full re-dedup; 11.6× after). AQE broadcasts the
    // touched-bucket list when the batch is small; a huge batch degrades
    // gracefully to a shuffle join, which is fair — the work really is
    // corpus-shaped then.
    val touched = newBanded.select("band_idx", "bucket").distinct()
    val idxPruned = indexBanded
      .join(touched, Seq("band_idx", "bucket"), "left_semi")
    val tagged = idxPruned.select(col("doc_id"), col("band_idx"), col("bucket"), lit(false).as("is_new"))
      .unionByName(newBanded.select(col("doc_id"), col("band_idx"), col("bucket"), lit(true).as("is_new")))
    val pairsInBucket = udf((members: Seq[Row]) => {
      // old wins on duplicate ids (idempotent re-submission: is_new is the
      // AND of the flags seen); sorted ids give doc_a < doc_b orientation
      val byId = scala.collection.mutable.LinkedHashMap[Long, Boolean]()
      members.foreach { r =>
        val id = r.getLong(0); val isNew = r.getBoolean(1)
        byId(id) = byId.getOrElse(id, true) && isNew
      }
      val s = byId.toSeq.sortBy(_._1)
      for {
        i <- s.indices; j <- (i + 1) until s.size
        if s(i)._2 || s(j)._2
      } yield (s(i)._1, s(j)._1)
    })
    val keepBucket = udf((n: Int) => {
      if (n > maxBucket) { skipped.foreach(_.add(1L)); false } else n > 1
    }).asNondeterministic()
    tagged.groupBy("band_idx", "bucket")
      .agg(collect_list(struct(col("doc_id"), col("is_new"))).as("members"))
      .filter(keepBucket(size(col("members"))))
      .select(explode(pairsInBucket(col("members"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct()
  }

  /** Incremental MinHash-LSH near-dup pairs: the incoming batch vs the
    * kept corpus AND vs itself, never corpus×corpus — the O(batch) path a
    * production training pipeline runs per crawl drop. Emits exactly the
    * LSH-candidate ∩ (jaccard >= tau) pairs among {new×old, new×new};
    * equals the exhaustive cross-join wherever band recall is 1 (same
    * math as `minhashLsh`). `oldSets`/`newSets` are the shingle-set frames
    * (the verify step needs real sets; at scale the old side is pruned to
    * candidate members by the broadcast semi-join inside
    * `jaccardForPairs`, so only bucket-mates' sets are ever read).
    * `indexBanded` defaults to deriving from oldSets; pass a parquet-read
    * index to skip the corpus signature pass entirely.
    *
    * Unlike `minhashLsh`, the candidate frame is materialized EAGERLY
    * (count before the verify plan is built): the verify step references
    * it from several broadcast subtrees, and broadcast exchanges execute
    * as independent jobs that each re-ran the whole candidate chain when
    * it was only lazily persisted — measured 10.7 s fused vs 6.5 s staged
    * on the 5.1M-row boilerplate corpus. The three frames this operator
    * persists (batch signatures, candidates, pruned verify corpus) come
    * back in `cached`; callers release them after materializing the
    * result. */
  def incrementalLsh(oldSets: DataFrame, newSets: DataFrame, tau: Double,
                     numHashes: Int = 64, bands: Int = 16,
                     maxBucket: Int = 4096,
                     indexBanded: Option[DataFrame] = None): Cached[DataFrame] = {
    val spark = newSets.sparkSession
    val acc = spark.sparkContext.longAccumulator("graft.minhash.incremental_skipped_buckets")
    val idx = indexBanded.getOrElse(bandedSignatures(oldSets, numHashes, bands))
    // the batch signatures feed incrementalCandidates TWICE (the touched-
    // bucket prune and the tagged union) — unpersisted, the whole batch
    // signature aggregation ran twice per call; persist it for the
    // candidate derivation and return it with the other frames
    val newBanded = bandedSignatures(newSets, numHashes, bands).persist()
    val cand = incrementalCandidates(idx, newBanded, maxBucket, Some(acc)).persist()
    cand.count()
    // the verify corpus: one set per candidate doc, OLD WINS on an id
    // present on both sides (a re-submitted doc keeps its indexed text as
    // identity — its new-side rows would otherwise double its shingles and
    // shift every jaccard it takes part in). Pruning to candidate members
    // FIRST keeps the anti-join bucket-scale: candDocs is broadcast and the
    // dedup join never touches the corpus-sized frames. The pruned union is
    // candidate-doc-sized and persisted: jaccardForPairs walks its `sets`
    // argument three times (sizes + both intersection sides), which
    // re-scanned the corpus-sized inputs each time when left lazy.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val oldPruned = oldSets.join(broadcast(candDocs), "doc_id")
    val newPruned = newSets.join(broadcast(candDocs), "doc_id")
      .join(oldPruned.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    val verifySets = oldPruned.unionByName(newPruned).persist()
    Cached(jaccardForPairs(verifySets, cand, tau), Seq(newBanded, cand, verifySets))
  }

  /** Near-dup CLUSTERS over verified pairs — the step an actual corpus
    * dedup ends with: pairs only say "these two are dups"; dropping
    * duplicates needs one REPRESENTATIVE per transitive cluster (a~b, b~c
    * => keep one of {a,b,c}). Connected components over the pair graph
    * (graft.pipeline.ConnectedComponents — driver union-find at dup-graph
    * scale, distributed min-label loop beyond), representative = MIN doc_id
    * in the cluster. Ids travel as zero-padded strings so the component
    * labeling's lexicographic min IS the numeric min — which holds ONLY for
    * NON-NEGATIVE ids ("-5" sorts before "-19" but 5 < 19), so the padding
    * expression itself raise_error's on any negative id (row-level, inside
    * the pass that needs the padded value anyway — no extra job over the
    * upstream pair DAG, which an eager probe would re-run for uncached
    * inputs) rather than silently electing a wrong representative. Returns
    * (doc_id, rep_id) for every doc that appears in some pair; docs in no
    * pair are trivially their own representative and are omitted (the
    * caller's anti-join keeps them). */
  def clusterReps(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, format_string, lit, raise_error, when}
    val pad = (c: Column) => when(c < 0, raise_error(concat(
        lit("clusterReps requires non-negative doc ids (zero-padded " +
          "lexicographic min == numeric min only holds for ids >= 0), got "),
        c.cast("string"))))
      .otherwise(format_string("%020d", c))
    val edges = pairs.select(pad(col("doc_a")).as("src"), pad(col("doc_b")).as("dst"))
    val vertices = pairs.select(col("doc_a").as("d"))
      .union(pairs.select(col("doc_b").as("d")))
      .distinct().select(pad(col("d")).as("id"))
    graft.pipeline.ConnectedComponents.run(vertices, edges)
      .select(col("id").cast("long").as("doc_id"),
        col("component").cast("long").as("rep_id"))
  }

  /** The DROP step a corpus dedup actually ends with: keep every document
    * that is NOT a non-representative member of a near-dup cluster (docs in
    * no pair are trivially their own representative and pass through).
    * One left-anti join keyed by doc_id against the (doc_id, rep_id)
    * cluster labels — the drop side is dup-graph-sized, so at corpus scale
    * AQE broadcasts it and the kept set is a scan-shaped filter. */
  def keepRepresentatives(docs: DataFrame, reps: DataFrame,
                          idCol: String = "doc_id"): DataFrame =
    docs.join(
      reps.filter(col("doc_id") =!= col("rep_id")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Heavy-duplication corpus variant: every doc with id % `every` == 0 is
    * cloned `copies` times, each clone appending one distinguishing token —
    * clone families share all original shingles (pairwise jaccard ~ m/(m+2),
    * >= 0.9 for realistic doc lengths), so the exhaustive shingle-bucket
    * join pays ~df^2 rows per family shingle while LSH pays the family's
    * true pairs once. The crossover demo corpus (BENCH dedup_heavy). */
  def cloneHeavy(docs: DataFrame, copies: Int, every: Int = 10,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val clones = docs.filter(col(idCol) % every === 0)
      .select(col(idCol), col(textCol), explode(sequence(lit(1), lit(copies))).as("i"))
      .select((col(idCol) + col("i") * 10000000L).as(idCol),
        concat(col(textCol), lit(" clonemark"), col("i")).as(textCol))
    docs.select(col(idCol), col(textCol)).union(clones)
  }

  /** Boilerplate-family corpus variant: every doc with id % `every` == 0
    * spawns `copies` pseudo-docs that keep the doc's first third of words
    * (a shared boilerplate prefix — those shingles reach df ~ copies) and
    * fill the remainder with clone-unique tokens, so pairwise jaccard
    * within a family is ~0.2: far below dedup thresholds, NO true pairs.
    * This is the template/boilerplate shape of real web corpora, and the
    * regime where the exhaustive shingle-bucket join pays df^2 rows per
    * boilerplate shingle for zero output while LSH's signatures stay
    * linear — the structural crossover (BENCH dedup_heavy). */
  def cloneBoilerplate(docs: DataFrame, copies: Int, every: Int = 10,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val mk = udf((id: Long, text: String, i: Int) => {
      val ws = (if (text == null) "" else text).split(" ").filter(_.nonEmpty)
      val k = math.max(3, ws.length / 3)
      val filler = Array.tabulate(math.max(ws.length - k, 4))(j => s"q${id}c${i}t$j")
      (ws.take(k) ++ filler).mkString(" ")
    })
    val clones = docs.filter(col(idCol) % every === 0)
      .select(col(idCol), col(textCol), explode(sequence(lit(1), lit(copies))).as("i"))
      .select((col(idCol) + col("i") * 10000000L).as(idCol),
        mk(col(idCol), col(textCol), col("i")).as(textCol))
    docs.select(col(idCol), col(textCol)).union(clones)
  }

  /** 64-bit SimHash over whitespace tokens (counted, not distinct).
    *
    * Per-token bits come from the two 32-bit MD5 halves (bit b < 32 from
    * lo, else hi — `md5Halves`), NOT murmur: the portable spelling lets the
    * DuckDB twin recompute the ENTIRE signature independently from the
    * corpus (vote sums, majority bits, band keys), so the dump is directly
    * rows+schema+hash gated instead of only transitively via the banded
    * pairs. MD5 costs real ALU per token — the round-7 hex-formatting
    * spelling of md5Halves made hashing THE bottleneck of this pass (6×
    * wall, BENCH_r07) — so the digest longs are now assembled straight
    * from the digest bytes and each DISTINCT token is hashed once, its
    * vote weighted by its count (bag semantics unchanged: +-count ==
    * count separate +-1 votes); engine-portable fingerprints remain the
    * standard trade for corpus-dedup artifacts shared across toolchains. */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    val counts = new java.util.HashMap[String, Integer]()
    tokens.foreach(t => counts.merge(t, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b)))
    counts.forEach { (t, nBoxed) =>
      val n = nBoxed.intValue()
      val (hi, lo) = md5Halves(t)
      var b = 0
      while (b < 32) {
        if (((lo >>> b) & 1L) == 1L) acc(b) += n else acc(b) -= n
        b += 1
      }
      while (b < 64) {
        if (((hi >>> (b - 32)) & 1L) == 1L) acc(b) += n else acc(b) -= n
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Per-doc simhash + 4x16-bit band keys (pigeonhole: hamming<=3 pairs
    * share at least one band). */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = udf((text: String) =>
      simhash64(if (text == null) Nil else text.split(" ").filter(_.nonEmpty).toSeq))
    val bandCols = (0 until 4).map(b =>
      (shiftright(col("simhash"), b * 16) bitwiseAND lit(0xffffL)).as(s"band$b"))
    docs.select(col(idCol).as("doc_id"), sh(col(textCol)).as("simhash"))
      .select(col("doc_id") +: col("simhash") +: bandCols: _*)
  }

  /** Near-dup pairs with hamming(simhash) <= maxHamming, banded join. */
  def simhashPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band_idx"), col(s"band$b").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band_idx"), col("bk.key"))
    val cand = banded.toDF("doc_a", "sim_a", "band_idx", "key")
      .join(banded.toDF("doc_b", "sim_b", "band_idx", "key"), Seq("band_idx", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
    cand.withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }
}
