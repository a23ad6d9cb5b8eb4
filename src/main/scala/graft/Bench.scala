package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** BASELINE.md row parser, shared semantics with dev/bench_gate.py's
    * `load_baseline` — keep the two in lockstep.
    *
    * A baseline row is EXACTLY a two-cell line `| qNNN_name | 1.23 |`;
    * later rows win (re-baselines append a fresh row with a provenance
    * note). The match is LINE-ANCHORED on purpose (VERDICT r17): the
    * adjudication/forensics tables also lead with a query cell followed
    * by a numeric column (a REPS floor or a full-suite reading — NOT a
    * baseline), and the old unanchored prefix match consumed those as
    * re-baselines, silently corrupting 23 of 246 gate rows in both
    * directions. Extra cells make a row unparseable as a baseline. */
  def parseBaseline(src: String): Map[String, Double] = {
    val row = """(?m)^\|\s*(q\w+)\s*\|\s*([0-9]+(?:\.[0-9]+)?)\s*\|\s*$""".r
    row.findAllMatchIn(src).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SessionTuning.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen paths once so per-query numbers are stable,
    // then run in sorted order (Map iteration order is not deterministic).
    // Each query runs `reps` times and reports the MIN: a single pass is
    // at the mercy of host contention (a contended run once read 3-8x
    // slow across queries untouched by any code change) — min-of-n is
    // the standard noise floor estimator for wall-clock benchmarks.
    //
    // The reps are INTERLEAVED (pass 1 over the whole suite, then pass
    // 2, ...), not back-to-back per query: a multi-minute host
    // contention spike covers an alphabetically contiguous stretch of
    // queries, and back-to-back reps put EVERY sample of those queries
    // inside the spike (round 5's driver run recorded q43–q48 at
    // 6–18× their uncontended cost that way). With interleaving the
    // spike must recur at the same suite offset in every pass to
    // survive the min.
    // default 3 (round 15, VERDICT r14 item 7): min-of-2 kept
    // manufacturing 1.2-1.5x phantom bands that burned an adjudication
    // cycle each round; the third pass costs ~2 min on the batch half
    // (stream replays already floor at >=3 samples) and cuts that toil
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated subset (iterating on one operator's perf)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // optional tier for LOCAL iteration (VERDICT r13 item 6): the q2xx
    // streaming replays are >60% of full-suite wall-time at FIXED
    // harness latency each — `batch` skips them while iterating on the
    // batch core. A tiered run is treated as a subset run everywhere
    // below (no bench_latest/bench_history write), so committed
    // artifacts and driver rounds stay full-suite and comparable.
    val tier = sys.env.get("SPARK_GRAFT_BENCH_TIER")
    val tierOnly: Option[Set[String]] = tier match {
      case Some("batch") => Some(SparkEntry.queries.keySet
        .filterNot(_.matches("q2\\d{2}.*")).toSet)
      case Some("stream") => Some(SparkEntry.queries.keySet
        .filter(_.matches("q2\\d{2}.*")).toSet)
      case _ => None
    }
    val subset: Option[Set[String]] = (only, tierOnly) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    spark.catalog.clearCache()
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
    // the first queries of pass 1 run on a cold JVM and their JIT debt
    // leaks into pass 2's scheduling (r11 verdict: q01/q02/q05/q07/q08
    // sat at 1.3-1.5x purely from suite position) — one UNTIMED warmup
    // pass over the head of the suite before any timed sample
    // (methodology note in BASELINE.md §Round 12)
    ordered.take(12).foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
    def sampleOne(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, (Boolean, Double)) = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // operators cache intermediates (tf, postings, signatures) —
      // release them OUTSIDE the timed region so every sample is a
      // cold run (and repeated invocations don't pin executor
      // storage) without billing the eviction to the query
      spark.catalog.clearCache()
      name -> (ok, elapsed)
    }
    // the q2xx streaming replays embed fixed harness latency (staged
    // slice commits + processAllAvailable) that makes 2-rep ratios
    // noisy (VERDICT r12 item 6: q204's reps differed 2.2x in one run)
    // — they always get ≥3 samples; min-of-3 is a stable floor there
    val streamReps = math.max(0, 3 - reps)
    val samples = (1 to reps).flatMap { _ =>
      ordered.map { case (name, fn) => sampleOne(name, fn) }
    } ++ (1 to streamReps).flatMap { _ =>
      ordered.collect { case (name, fn) if name.matches("q2\\d{2}.*") =>
        sampleOne(name, fn)
      }
    }
    val results = ordered.map { case (name, _) =>
      // a failing query must read as a FAILURE (-1), not as its
      // time-to-exception masquerading as a speedup
      val succeeded = samples.collect { case (`name`, (true, t)) => t }
      name -> (if (succeeded.nonEmpty) succeeded.min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // ---- contention self-diagnosis -------------------------------------
    // Two driver rounds in a row produced artifacts whose >2x rows were
    // host-contention spikes, not query cost (VERDICT r7/r8: the judge's
    // clean re-measure made every outlier vanish). The artifact now
    // carries everything needed to adjudicate that WITHOUT a re-run:
    //   samples   — every rep's wall-clock (min hides a spike; the
    //               spread exposes it: a contended min has sibling
    //               samples 3-8x apart),
    //   median_inflation — suite-median of min/baseline over queries
    //               with a BASELINE.md row (the re-run rule's test
    //               statistic: flag >2x rows only when this is <1.5),
    //   contended — the rule's verdict, precomputed.
    // dev/bench_gate.py applies the same rule to any artifact.
    val sampleJson = ordered.map { case (name, _) =>
      val all = samples.collect { case (`name`, (ok, t)) => if (ok) t else -1.0 }
      s"\"" + name + "\":" + all.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val baseline: Map[String, Double] = {
      val f = new java.io.File(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE_MD", "BASELINE.md"))
      if (!f.isFile) Map.empty
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try parseBaseline(src.mkString) finally src.close()
      }
    }
    val inflations = results.collect {
      case (n, v) if v > 0 && baseline.get(n).exists(_ > 0) => v / baseline(n)
    }.sorted
    val medianInfl =
      if (inflations.isEmpty) -1.0
      else if (inflations.size % 2 == 1) inflations(inflations.size / 2)
      // even count: midpoint of the middle two (match statistics.median
      // in dev/bench_gate.py so artifact and gate agree on the verdict)
      else (inflations(inflations.size / 2 - 1) + inflations(inflations.size / 2)) / 2.0
    val contended = medianInfl >= 1.5
    // ---- self-adjudication ---------------------------------------------
    // Three rounds running, every >2x flag in a full-suite artifact has
    // resolved via a MANUAL same-host subset re-measure (q90/q145/q91/
    // q92/q94/q111/q05 — all suite-context JIT/GC noise). Do that
    // re-measure HERE, in the same JVM, right after the main passes
    // while the host state that produced the flag still holds: re-run
    // each >2x row 4 more times back-to-back and embed the floor, so
    // the artifact is SELF-adjudicating and the driver never needs a
    // second run to classify a flag (dev/bench_gate.py consumes it).
    // Subset runs skip this (they ARE the manual re-measure); a
    // contended run skips it too (nothing measured under contention is
    // evidence). Cost bound: ≤ 8 flags × 4 reps.
    val adjudicated: Seq[(String, Double)] =
      if (subset.nonEmpty || contended) Seq.empty
      else results.collect {
        // carry the inflation so the ≤8 cap keeps the WORST offenders,
        // not the alphabetically-first ones. Trigger at >=1.5x (round
        // 20): the forensics protocol's own threshold — r19 shipped
        // q187 at 1.51x with `adjudicated` empty because this trigger
        // sat at the gate's 2x, leaving the 1.5-2x band to a manual
        // next-round floor run
        case (n, v) if v > 0 && baseline.get(n).exists(b => b > 0 && v / b >= 1.5) =>
          n -> (v / baseline(n))
      }.sortBy(-_._2).take(8).map { case (n, _) =>
        val fn = SparkEntry.queries(n)
        val floors = (1 to 4).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
          val e = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          if (ok) e else Double.MaxValue
        }
        n -> floors.min
      }
    val adjJson = adjudicated
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""samples":$sampleJson,"reps":$reps,"median_inflation":$medianInfl,""" +
      s""""contended":$contended,"adjudicated":$adjJson,"sf":"$sfDir"}"""
    println(json)
    // also write the FULL per-query JSON to a file: the driver's stdout
    // tail capture truncates a third of the suite (BENCH_r06 lost
    // q01–q32) — the committed file is the complete artifact. A SUBSET
    // run must NOT clobber it (its "total" would be the subset's): only
    // write the default artifact for full-suite runs; subset runs write
    // only when SPARK_GRAFT_BENCH_OUT names a file explicitly.
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (subset.isEmpty) Some("bench_latest.json") else None)
    outFile.foreach { f =>
      try {
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.println(json) finally w.close()
      } catch { case _: Throwable => } // bench result on stdout regardless
    }
    // full-suite runs ALSO append to an immutable per-round history:
    // bench_latest.json is overwritten each run, so round-over-round
    // comparison was losing every sample the driver's tail truncated
    // (BENCH_r09 → only 40/181 rows recoverable). One JSONL line per
    // full run, timestamped, committed with the repo.
    if (subset.isEmpty) {
      try {
        val w = new java.io.PrintWriter(new java.io.FileWriter(
          "bench_history.jsonl", /* append = */ true))
        try w.println(s"""{"ts":${System.currentTimeMillis / 1000},""" +
          json.substring(1)) finally w.close()
      } catch { case _: Throwable => }
    }
    // LAST line = a compact self-contained summary (≤ ~1.2 KB): the
    // driver captures only the final ~1.8 KB of stdout, so the full
    // 15 KB JSON above can never be tail-parsed (BENCH_r10's "parsed"
    // was null). This line always fits, so the driver artifact is
    // parseable on its own; per-query detail lives in the files above.
    // Locale.ROOT formatting: the f-interpolator uses the JVM default
    // locale, and a comma decimal separator (de_DE, fr_FR hosts) would
    // make this machine-parsed line invalid JSON — the exact failure
    // the line exists to prevent
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val worst = results.collect {
      case (n, v) if v > 0 && baseline.get(n).exists(_ > 0) =>
        (n, v, v / baseline(n))
    }.sortBy(-_._3).take(6)
      .map { case (n, v, i) =>
        "\"" + n + "\":[" + num(v, 3) + "," + num(i, 2) + "]"
      }.mkString("{", ",", "}")
    // the 15 slowest per-query mins, as a "queries" map in the driver's
    // full-artifact shape (VERDICT r20 item 2): the tail-captured line
    // then carries enough per-query signal for PERF to diff a geomean;
    // the complete 252-row map stays in bench_latest.json/history
    val topQs = results.filter(_._2 > 0).sortBy(-_._2).take(15)
      .map { case (n, v) => "\"" + n + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":$nFailed,"reps":$reps,""" +
      s""""queries":$topQs,""" +
      s""""median_inflation":${num(medianInfl, 4)},"contended":$contended,""" +
      s""""adjudicated":$adjJson,"worst_vs_baseline":$worst,""" +
      s""""full":"bench_latest.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
