package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query wall times plus the
  * north-star KG throughput and the north_rule scaling evidence.
  *
  * KG throughput is reported twice:
  *  - cold: first run in the JVM (codegen + dictionary fixed costs included);
  *  - warm: a second run of the full pipeline after `clearKg` dropped every
  *    cached stage — same work, JVM/codegen warm. This is the sustained
  *    number comparable with BASELINE.md.
  *
  * Scaling (north_rule: efficiency >= 0.8 from N to 4N executors): the same
  * kg job re-run in fresh Spark contexts at local[1/4/8/32], reading a
  * pre-written parquet corpus of >= 1.6M turns (driver-side fixture
  * generation excluded — it is serial and identical at every core count, so
  * including it would only dilute the signal; the corpus floor keeps parallel
  * work, not session fixed cost, dominant). Each core count runs
  * SPARK_GRAFT_SCALE_RUNS times (default 3) and the JSON reports the MEDIAN
  * plus min/max spread — this shared VM shows up to ~25% run-to-run
  * variance, and a single-shot efficiency number is indistinguishable from
  * wall-clock luck (round-2 lesson). Round-6 protocol: each core count's
  * round is accepted only if its min-max spread is < 1.5x; wider rounds are
  * discarded (kept in the JSON as provenance with their per-run 1-min
  * loadavg) and re-measured up to twice, and a core count that never meets
  * the bar ships flagged "contended": true. efficiency(N->4N) =
  * tps_median(4N) / (4 * tps_median(N)). The host VM is linear only to ~8
  * threads (~14.5 effective cores; pure-ALU ceiling 8->32 = 0.47 —
  * BASELINE.md "host envelope"), so 1->4 is the in-envelope pair and 8->32
  * is reported against that ceiling.
  *
  * dedup_heavy: the minhash-LSH crossover evidence — a boilerplate-family
  * corpus (template families of 400 docs sharing prefix shingles, pairwise
  * jaccard ~0.2, NO true pairs) where the exhaustive shingle-bucket join
  * pays df^2 rows per boilerplate shingle and LSH stays linear. Both
  * operators must return identical pair counts. Round-5 evidence protocol
  * (the r4 artifact showed 0.777x where BASELINE claimed 2.5x — a cache-
  * state ambiguity, resolved by measuring, not averaging): both paths read
  * the SAME pre-materialized persisted shingle-set frame (memo_state
  * "sets_persisted_warm" in the JSON), run ALTERNATING exhaustive/LSH for
  * `SPARK_GRAFT_HEAVY_RUNS` (default 3) rounds, and the speedup is the
  * ratio of MEDIANS with every per-run time reported alongside. Round-7
  * protocol: the scaling section's contention-acceptance rule applies here
  * too — a round ships only if both paths' min-max spreads are < 1.5x,
  * wider rounds are kept as provenance and re-measured (<= 2 retries), a
  * never-settling metric ships flagged "contended", and loadavg is stamped
  * per alternating pair. The per-query sweep likewise records a loadavg
  * stamp per query ("query_load_1m" in the full document, [min, med, max]
  * as "q_load" in the compact line) so unchanged-query wall deltas are
  * attributable to VM contention rather than argued from plausibility.
  *
  * Query failures are NOT swallowed: they surface in an "errors" object and
  * on stderr (a broken query must never read as a fast success).
  *
  * Output contract: the LAST stdout line is a COMPACT JSON object (metric/
  * value/unit/queries/sf plus abbreviated headline fields) sized to survive
  * the driver's 2000-char stdout-tail capture intact (build.sbt turns the
  * sbt "[success]" trailer off for the same reason). The FULL document —
  * per-run spreads, error texts, retry provenance — is printed first and
  * written to /tmp/graft_bench.json.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    // r6 lesson: one fatal stage error can poison EVERY later session in
    // this JVM. Spark handles a DAGScheduler crash with stopInNewThread();
    // if that thread itself dies before SparkContext.clearActiveContext(),
    // the stopped context stays REGISTERED, and SparkContext.getOrCreate
    // (unlike SparkSession's builder) returns the registered context
    // without checking isStopped — so builder.getOrCreate hands back a
    // session wrapping the corpse and every call fails with "Cannot call
    // methods on a stopped SparkContext". Observed once: a single
    // [INTERNAL_ERROR] at local[8] run 3 killed all 8 remaining scaling
    // runs (the whole local[32] round → eff_8_32 = -1). The hatch below
    // detects a stopped-but-registered context and evicts it through the
    // companion's private[spark] accessors (public at the bytecode level,
    // so plain reflection reaches them).
    def clearStoppedContext(): Unit =
      try {
        val comp = Class.forName("org.apache.spark.SparkContext$")
        val module = comp.getField("MODULE$").get(null)
        val active = comp.getMethod("getActive").invoke(module)
          .asInstanceOf[Option[org.apache.spark.SparkContext]]
        if (active.exists(_.isStopped)) {
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          comp.getMethod("clearActiveContext").invoke(module)
          System.err.println("[bench] evicted a stopped-but-registered SparkContext")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] clearStoppedContext: ${e.getMessage}")
      }

    def newSession(cores: String): SparkSession = {
      def build(): SparkSession = {
        clearStoppedContext()
        SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.skewJoin.enabled", "true")
          .getOrCreate()
      }
      // the async stop may not have flagged the corpse yet when the hatch
      // looks — rebuild with backoff rather than trusting one draw
      var s = build()
      var waits = 0
      while (s.sparkContext.isStopped && waits < 3) {
        waits += 1
        Thread.sleep(1000L * waits)
        s = build()
      }
      s.sparkContext.setLogLevel("WARN")
      s
    }

    var spark = newSession(cpus)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    def timedKg(s: SparkSession): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = SparkEntry.kg(s, sfDir).triples.count()
      (n, (System.nanoTime() - t0) / 1e9)
    }

    // north-star: KG pipeline end-to-end (mentions -> blocked scoring ->
    // decisions -> CC -> triples), materialized by the triples count
    val (nTriples, kgCold) = timedKg(spark)

    // diagnostic mode: cold/warm kg only, skipping the query loop — for
    // attributing warm-throughput movement to the pipeline vs to heap/cache
    // pressure left behind by the 70+-query sweep
    if (sys.env.contains("SPARK_GRAFT_KG_ONLY")) {
      SparkEntry.clearKg(spark, sfDir)
      val (_, w) = timedKg(spark)
      println(f"""{"kg_triples":$nTriples,"kg_cold":$kgCold%.2f,"kg_warm":$w%.2f,"kg_tps":${nTriples / w}%.0f}""")
      spark.stop(); return
    }

    // shared contention-evidence machinery (r6 directive: the acceptance
    // protocol that fixed scaling_tps now also covers dedup_heavy, and the
    // per-query sweep carries a loadavg stamp so a wall-time delta on an
    // unchanged query is attributable to VM contention after the fact
    // instead of riding on "probably contention")
    val SPREAD_MAX = 1.5
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val retries = scala.collection.mutable.LinkedHashMap[String, String]()
    val queryLoads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      queryLoads(name) = loadavg()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] query $name FAILED: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
        // fail-soft for the sweep, not just per query: a fatal stage error
        // stops the context, and without a rebuild every later query would
        // inherit the corpse. Memos are per-session-keyed, so the fresh
        // session re-derives cleanly (later timings run colder — honest).
        if (spark.sparkContext.isStopped) {
          System.err.println(s"[bench] session died during $name — rebuilding")
          spark = newSession(cpus)
        }
      }
      name -> (System.nanoTime() - t0) / 1e9
    }

    // warm second run: caches dropped, JVM/codegen hot => sustained tps.
    // clearSession, not just clearKg: the 70+-query sweep leaves operator
    // memos (shingle sets, LSH pairs, embeddings, checkpoint blocks) whose
    // storage pressure evicts/thrashes the warm run's own caching in the 8g
    // heap — measured 15.5 s "warm" with leftovers vs 6.5 s clean (the
    // number claims sustained PIPELINE throughput, so the pipeline must be
    // what it measures)
    SparkEntry.clearSession(spark)
    val (_, kgWarm) = timedKg(spark)

    // minhash-LSH crossover on the boilerplate-family corpus (see scaladoc):
    // families of 400 need maxDf >= 400 to be dedupable AT ALL, and at that
    // df the exhaustive join's per-shingle pair blowup is quadratic in the
    // family size while LSH signatures stay linear in set rows
    var heavyJson = "{}"
    var heavyCompact = "{}"
    // cleanup in finally: a failure mid-measurement must not leave the
    // boilerplate shingle sets / LSH candidates cached through the scaling
    // section that follows in this session
    var bsets: Option[org.apache.spark.sql.DataFrame] = None
    var lsh: Option[graft.pipeline.Cached[org.apache.spark.sql.DataFrame]] = None
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val boiler = graft.operators.Dedup.cloneBoilerplate(docs, copies = 399, every = 20)
      val bs = graft.operators.Dedup.shingleSets(boiler, 3, 450L).persist()
      bsets = Some(bs)
      val nBoiler = bs.count() // materialize outside the timers
      def t1[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
      }
      // evidence protocol (scaladoc): shared warm input, alternating runs,
      // medians — per-run times all reported so variance is auditable.
      // r6 directive: the scaling section's contention-acceptance rule now
      // covers this metric too (its artifact draws were the one place VM
      // contention could still ship unreadably — 1.74x in BENCH_r06 vs a
      // 2.15-2.38x clean band). A ROUND of alternating runs is accepted
      // only if BOTH paths' min-max spreads are under SPREAD_MAX; a wider
      // round is kept as provenance and re-measured (up to 2 extra rounds);
      // if none settles, the tightest ships flagged "contended": true.
      // loadavg is sampled before every alternating pair.
      val heavyRuns = sys.env.getOrElse("SPARK_GRAFT_HEAVY_RUNS", "3").toInt
      final case class HeavyRound(ex: Seq[Double], lsh: Seq[Double],
                                  loads: Seq[Double], nEx: Long, nLsh: Long) {
        private def sp(xs: Seq[Double]): Double =
          if (xs.isEmpty) -1.0 else xs.max / xs.min
        def exSpread: Double = sp(ex)
        def lshSpread: Double = sp(lsh)
        def spread: Double = math.max(exSpread, lshSpread)
        def clean: Boolean =
          ex.size >= 2 && lsh.size >= 2 && spread <= SPREAD_MAX
      }
      def oneHeavyRound(): HeavyRound = {
        var nEx = -1L; var nLsh = -1L
        val exT = scala.collection.mutable.ArrayBuffer[Double]()
        val lshT = scala.collection.mutable.ArrayBuffer[Double]()
        val loads = scala.collection.mutable.ArrayBuffer[Double]()
        (1 to heavyRuns).foreach { _ =>
          loads += loadavg()
          val (ne, te) = t1(graft.operators.Dedup.jaccardPairs(bs, 0.6).count())
          nEx = ne; exT += te
          val (nl, tl) = t1 {
            val r = graft.operators.Dedup.minhashLsh(bs, 0.6, 64, 16)
            lsh = Some(r)
            r.value.count()
          }
          nLsh = nl; lshT += tl
          lsh.foreach(_.release()) // each run re-derives its own candidates
          lsh = None
        }
        HeavyRound(exT.toSeq, lshT.toSeq, loads.toSeq, nEx, nLsh)
      }
      var hRounds = List(oneHeavyRound())
      while (!hRounds.head.clean && hRounds.size <= 2) {
        System.err.println(f"[bench] dedup_heavy spread ${hRounds.head.spread}%.2fx" +
          f" > $SPREAD_MAX — contended round, re-measuring")
        hRounds = oneHeavyRound() :: hRounds
      }
      val hBest = hRounds
        .sortBy(r => if (r.ex.size < 2 || r.lsh.size < 2) Double.MaxValue else r.spread)
        .head
      val hContended = !hBest.clean
      val (mEx, mLsh) = (median(hBest.ex), median(hBest.lsh))
      val (nEx, nLsh) = (hBest.nEx, hBest.nLsh)
      def runsJson(xs: Seq[Double]) = xs.map(t => f"$t%.2f").mkString("[", ",", "]")
      val hDisc = hRounds.filterNot(_ eq hBest) match {
        case Nil => ""
        case ds => ","+"\"discarded_rounds\":" + ds.map(d =>
          f"""{"ex_sec":${median(d.ex)}%.2f,"lsh_sec":${median(d.lsh)}%.2f,"spread":${d.spread}%.2f,"load_1m":${runsJson(d.loads)}}"""
        ).mkString("[", ",", "]")
      }
      heavyJson = f"""{"set_rows":$nBoiler,"memo_state":"sets_persisted_warm","runs":$heavyRuns,"exhaustive_sec":$mEx%.3f,"lsh_sec":$mLsh%.3f,"ex_runs":${runsJson(hBest.ex)},"lsh_runs":${runsJson(hBest.lsh)},"ex_spread":${hBest.exSpread}%.2f,"lsh_spread":${hBest.lshSpread}%.2f,"contended":$hContended,"load_1m":${runsJson(hBest.loads)},"exhaustive_pairs":$nEx,"lsh_pairs":$nLsh,"lsh_speedup":${mEx / mLsh}%.3f,"equal":${nEx == nLsh}$hDisc}"""
      // abbreviated keys: the compact line's budget is the driver tail (the
      // full names live in the file document above); contention surfaces
      // compactly only when present
      val hContPart = if (hContended) ""","cont":true""" else ""
      heavyCompact = f"""{"memo":"warm_sets","ex":$mEx%.2f,"lsh":$mLsh%.2f,"x":${mEx / mLsh}%.2f,"equal":${nEx == nLsh}$hContPart}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] dedup_heavy FAILED: ${e.getMessage}")
      errors("dedup_heavy") = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
    } finally {
      lsh.foreach(_.release())
      bsets.foreach(_.unpersist(false))
    }

    // scaling corpus: parquet-fed, >= 1.6M turns (see scaladoc); generated
    // once with the main session, reused byte-identically per core count.
    // The floor matters: per-run serial costs (session, codegen, driver
    // collects, ~40 stage barriers) are ~8% of the local[1] wall at 800k
    // turns — enough to drag measured 1->4 efficiency to ~0.79 even when
    // the parallel work itself scales at ~0.9; at 1.6M they are ~4%.
    val scaleConvs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONVS", "160000").toInt
    val scaleSpec = graft.fixtures.Synth.Spec(
      nConv = math.max(SparkEntry.specFor(sfDir).nConv, scaleConvs))
    val scalePath = s"/tmp/graft_bench_scale_${scaleSpec.nConv}"
    if (!new java.io.File(scalePath).exists()) {
      val dict = graft.fixtures.Synth.dictionary(scaleSpec)
      graft.pipeline.TranscriptSource.write(
        graft.pipeline.TranscriptSource.fromSeq(
          spark, graft.fixtures.Synth.transcripts(scaleSpec, dict)), scalePath)
    }
    SparkEntry.clearSession(spark)
    spark.stop()

    // scaling runs in fresh contexts (one JVM, sequential, exclusive);
    // 1->4 is the host's linear region (the pair that can evidence >= 0.8),
    // 8->32 is reported against the host's own 0.47 ALU ceiling. Each core
    // count runs `nRuns` times; the MEDIAN goes into the efficiency math and
    // min/max record the spread (single shots on this VM are noise).
    // Fail-soft: a broken run must not cost the whole bench line.
    // Each run gets ONE retry: at 1.6M turns × 32 threads in an 8g heap,
    // cached corpus-scale blocks get evicted under memory pressure, and
    // Spark's eviction/read-lock race occasionally kills a stage with
    // "Block rdd_X_N does not exist" (observed ~1/12 runs). A retry keeps
    // the median over the full nRuns; recovered flakes are recorded under
    // `retries` in the JSON so they never pass silently.
    // the ≥0.8 criterion rides on the 1→4 pair, and local_1 shows ±20%
    // run-to-run spread on this VM — at 3 runs the median's own noise makes
    // the threshold a coin flip (measured 0.778 / 0.846 / 0.949 across
    // same-code invocations). The evidence pair gets 5 runs; the
    // informational 8/32 counts stay at 3. SPARK_GRAFT_SCALE_RUNS, when
    // set, applies to every core count.
    val nRunsEnv = sys.env.get("SPARK_GRAFT_SCALE_RUNS").map(_.toInt)
    def nRunsFor(c: Int): Int =
      nRunsEnv.getOrElse(if (c == 1 || c == 4) 5 else 3)
    // r5 lesson (the dedup_heavy lesson recurring on a different metric):
    // the driver's one artifact recorded a local_32 round with a 2.5x
    // min-max spread — two contended draws — and the resulting eff_8_32
    // (0.277) sat below even the measured memory-bandwidth ceiling, i.e.
    // the artifact was readable only as noise. Protocol fix, not averaging:
    // the bench SELF-DIAGNOSES contention. Each core count's round of runs
    // is accepted only if its min-max spread is under SPREAD_MAX (1.5x);
    // a wider round is discarded (kept verbatim in the JSON as provenance)
    // and re-measured, up to 2 extra rounds. If every round is wide, the
    // tightest one is used and the core count is flagged "contended": true.
    // /proc/loadavg (1-min field) is sampled before every run so a
    // contaminated draw is attributable after the fact. (SPREAD_MAX and
    // loadavg() are hoisted above the query sweep — shared with
    // dedup_heavy and the per-query load stamps.)
    val scalingCores = Seq(1, 4, 8, 32)
    final case class ScaleRound(runs: Seq[Double], loads: Seq[Double]) {
      def spread: Double = if (runs.isEmpty) -1.0 else runs.max / runs.min
    }
    val scaling = scala.collection.mutable.LinkedHashMap[Int, ScaleRound]()
    val scalingDiscarded = scala.collection.mutable.LinkedHashMap[Int, Seq[ScaleRound]]()
    val scalingContended = scala.collection.mutable.LinkedHashSet[Int]()
    scalingCores.foreach { c =>
      def once(): Double = {
        val s = newSession(c.toString)
        try {
          val turns = graft.pipeline.TranscriptSource.read(s, scalePath)
          val dict = graft.fixtures.Synth.dictionary(scaleSpec)
          val t0 = System.nanoTime()
          val out = graft.pipeline.KgPipeline
            .run(s, turns, dict, graft.core.GraftConfig.default)
          val n = out.triples.count()
          val tps = n / ((System.nanoTime() - t0) / 1e9)
          out.release()
          tps
        } finally s.stop()
      }
      def oneRound(round: Int): ScaleRound = {
        val loads = scala.collection.mutable.ArrayBuffer[Double]()
        val runs = (1 to nRunsFor(c)).flatMap { i =>
          loads += loadavg()
          (1 to 2).view.map { attempt =>
            try Some(once())
            catch { case e: Throwable =>
              val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
              System.err.println(
                s"[bench] scaling local[$c] round $round run $i attempt $attempt FAILED: $msg")
              // contract: `retries` holds RECOVERED flakes only. A run whose
              // retry also fails is a hard error — both attempts move to
              // `errors` so n_retries never counts an unrecovered run
              val key = s"scaling_local_${c}_r${round}_run${i}_attempt1"
              if (attempt == 2) {
                errors(key) = retries.remove(key).getOrElse("?")
                errors(s"scaling_local_${c}_r${round}_run${i}_attempt2") = msg
              } else retries(key) = msg
              None
            }
          }.collectFirst { case Some(tps) => tps }
        }
        ScaleRound(runs, loads.toSeq)
      }
      // acceptance needs BOTH a tight spread AND >= 2 surviving runs: a
      // round where all but one run failed has spread 1.0 by construction
      // and must not outrank real multi-run rounds (its "median" is a
      // single draw — the weakest possible evidence, not the tightest)
      def clean(r: ScaleRound): Boolean =
        r.runs.size >= 2 && r.spread <= SPREAD_MAX
      var rounds = List(oneRound(1))
      while (rounds.head.runs.nonEmpty && !clean(rounds.head)
          && rounds.size <= 2) {
        System.err.println(f"[bench] scaling local[$c] spread " +
          f"${rounds.head.spread}%.2fx (runs=${rounds.head.runs.size}) " +
          f"not clean — contended/degraded round, re-measuring")
        rounds = oneRound(rounds.size + 1) :: rounds
      }
      // single-run rounds sort behind every multi-run round regardless of
      // their degenerate 1.0 spread
      val best = rounds.filter(_.runs.nonEmpty)
        .sortBy(r => if (r.runs.size < 2) Double.MaxValue else r.spread)
        .headOption
      best.foreach { b =>
        scaling(c) = b
        if (!clean(b)) scalingContended += c
        val discarded = rounds.filter(_.runs.nonEmpty).filterNot(_ eq b)
        if (discarded.nonEmpty) scalingDiscarded(c) = discarded
      }
    }
    def eff(a: Int, b: Int): Double =
      if (scaling.contains(a) && scaling.contains(b))
        median(scaling(b).runs) / ((b / a) * median(scaling(a).runs))
      else -1.0

    def jq(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    // 3-decimal query times in the FULL document: sub-ms precision is noise
    // here, and the full Double repr doubled the JSON line's size
    val qs = results.map { case (k, v) => jq(k) + ":" + f"$v%.3f" }.mkString("{", ",", "}")
    // the per-query loadavg stamps (sampled immediately before each query)
    // and their [min, median, max] summary for the compact line
    val qLoadMap = queryLoads.map { case (k, v) => jq(k) + ":" + f"$v%.2f" }.mkString("{", ",", "}")
    val qLoadVals = queryLoads.values.toSeq.sorted
    val qLoadSummary =
      if (qLoadVals.isEmpty) "[]"
      else f"[${qLoadVals.min}%.1f,${median(qLoadVals)}%.1f,${qLoadVals.max}%.1f]"
    val errJson = errors.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    val retryJson = retries.map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    def loadsJson(ls: Seq[Double]) = ls.map(l => f"$l%.2f").mkString("[", ",", "]")
    val scalingJson = scaling.map { case (c, r) =>
      val disc = scalingDiscarded.get(c).map { ds =>
        "," + "\"discarded_rounds\":" + ds.map(d =>
          f"""{"median":${median(d.runs)}%.1f,"spread":${d.spread}%.2f,"load_1m":${loadsJson(d.loads)}}"""
        ).mkString("[", ",", "]")
      }.getOrElse("")
      f""""local_$c":{"median":${median(r.runs)}%.1f,"min":${r.runs.min}%.1f,"max":${r.runs.max}%.1f,"runs":${r.runs.size},"spread":${r.spread}%.2f,"contended":${scalingContended.contains(c)},"load_1m":${loadsJson(r.loads)}$disc}"""
    }.mkString("{", ",", "}")
    val total = kgCold + results.map(_._2).sum
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_load_1m":$qLoadMap,"sf":"$sfDir","n_errors":${errors.size},"errors":$errJson,"n_retries":${retries.size},"retries":$retryJson,"kg_triples":$nTriples,"kg_wall_cold_sec":$kgCold%.3f,"kg_wall_warm_sec":$kgWarm%.3f,"kg_triples_per_sec":${nTriples / kgWarm}%.1f,"kg_triples_per_sec_cold":${nTriples / kgCold}%.1f,"dedup_heavy":$heavyJson,"scaling_turns":${scaleSpec.nConv * scaleSpec.turnsPerConv},"scaling_tps":$scalingJson,"scaling_efficiency_1_4":${eff(1, 4)}%.3f,"scaling_efficiency_8_32":${eff(8, 32)}%.3f}"""
    // full document: printed first (humans, logs) and written to the file
    // (the durable machine-readable copy)
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/graft_bench.json"), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] bench-json file dump failed: ${e.getMessage}")
    }
    // COMPACT line LAST: the driver captures a 2000-char stdout tail and
    // parses its last line — rounds 3 AND 4 shipped "parsed": null because
    // the full line outgrew that window. This line keeps the contract
    // fields (metric/value/unit/queries/sf) with 2-decimal times, medians
    // only for scaling, error NAMES only — and a loud stderr warning if it
    // ever approaches the budget again.
    // error/retry detail only when present (the healthy line stays lean;
    // full texts are always in the file)
    val errPart =
      if (errors.isEmpty && retries.isEmpty) ""
      else s""","error_queries":${errors.keys.take(5).map(jq).mkString("[", ",", "]")},"n_retries":${retries.size}"""
    val scalingC = scaling.map { case (c, r) =>
      f""""$c":${median(r.runs)}%.0f""" }.mkString("{", ",", "}")
    // contended core counts surface in the compact line too: an efficiency
    // number whose inputs never met the spread bar must not read as clean
    val contendedPart =
      if (scalingContended.isEmpty) ""
      else s""","scaling_contended":${scalingContended.mkString("[", ",", "]")}"""
    def compactLine(qEntries: Seq[(String, Double)], omitted: Int): String = {
      val qsC = qEntries.map { case (k, v) => jq(k) + ":" + f"$v%.2f" }.mkString("{", ",", "}")
      val omitPart = if (omitted == 0) "" else s""","q_omitted":$omitted"""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qsC$omitPart,"q_load":$qLoadSummary,"sf":"$sfDir","n_errors":${errors.size}$errPart,"kg_triples":$nTriples,"kg_cold":$kgCold%.2f,"kg_warm":$kgWarm%.2f,"kg_tps":${nTriples / kgWarm}%.0f,"dedup_heavy":$heavyCompact,"scaling_tps":$scalingC$contendedPart,"eff_1_4":${eff(1, 4)}%.3f,"eff_8_32":${eff(8, 32)}%.3f}"""
    }
    // the query set has outgrown a full per-query listing (69+ names at 2
    // decimals is ~2020 chars alone), so the compact line lists the SLOWEST
    // queries that fit a hard 1880-char budget (2000-char tail, minus
    // newline and slack for stray trailing log lines) and counts the rest
    // in q_omitted — the full per-query map is always in the file document
    // and the full stdout line above. Slowest-first because the fast tail
    // carries no information the total doesn't.
    val bySlowest = results.sortBy(-_._2)
    var compact = compactLine(bySlowest, 0)
    if (compact.length > 1880) {
      // fixed cost of the empty-queries line, then greedily add entries
      val base = compactLine(Nil, results.size).length
      var budget = 1880 - base
      val keep = bySlowest.takeWhile { case (k, v) =>
        // cost from the ACTUALLY formatted value — a fixed 6-char assumption
        // undercounts any query at >= 1000 s and could blow the budget
        val cost = k.length + 3 + f"$v%.2f".length + 1 // "name":12.34,
        if (budget - cost >= 0) { budget -= cost; true } else false
      }
      compact = compactLine(keep.sortBy(_._1), results.size - keep.size)
    }
    if (compact.length > 1950)
      System.err.println(s"[bench] WARNING compact JSON line ${compact.length} chars" +
        " — exceeds the 2000-char driver tail budget, trim fields")
    println(compact)
    if (errors.nonEmpty) System.err.println(s"[bench] ${errors.size} queries failed")
  }
}
