package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warmup pass (table counts) absorbs JVM/codegen/session startup so
  * the first measured query isn't charged for it.
  *
  * Focused re-measure mode (the BENCH_NOTES steady-state methodology):
  * `args(0)` = comma-separated query-name filter, `args(1)` = in-JVM
  * rounds (default 1). Each round's per-query seconds, jobs and shuffle
  * write go to stderr; the JSON line reports the per-query min across
  * rounds PLUS the raw round-1 map (`"round1"`) — round 1 of a fresh JVM
  * carries the once-per-JVM standing-artifact builds, and that cost
  * split belongs in machine-readable records, not stderr prose. No args
  * = the driver's full single-round contract, unchanged.
  *
  * Every run is measured through one [[QueryProbe]]: beside the wall
  * seconds, the main line carries per-query `task_sec`, `jobs` and
  * `shuffle_write_mb`, each the min across runs — the load-independent
  * measures a wall-clock claim needs.
  *
  * Self-adjudication: if `BENCH_BANDS.json` exists (checked in from
  * idle-box runs — see scripts/make_bench_bands.py), every record
  * compares each row against its idle band, LOAD-CORRECTED by the
  * ratio of this run's calibration spin to the bands' idle spin, and
  * reports the out-of-band rows in the JSON (`"band_breaches"`). Two
  * rounds running, the official record landed in a co-load window and
  * the adjudication had to be reconstructed from prose after the fact;
  * with the bands in-repo the record adjudicates itself.
  */
object Bench {

  /** Machine-load calibration: wall time of a FIXED single-threaded
    * integer workload (xorshift64*, constant iteration count), min of 3
    * reps. The workload is branchless arithmetic on one register — its
    * idle-machine time is a stable per-machine constant, so an elevated
    * reading means the machine was loaded, not that any query regressed.
    * Taken at record start AND end, it lets a stretched bench record
    * self-identify as a load window (the BENCH_NOTES 2-40x family)
    * instead of requiring an idle re-measure to tell load from
    * regression. The result of the arithmetic is returned-through so the
    * JIT cannot elide the loop. */
  private[graft] def calibrationSpinMs(): Double = {
    def once(): (Double, Long) = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 150000000) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        acc += x * 0x2545F4914F6CDD1DL
        i += 1
      }
      ((System.nanoTime() - t0) / 1e6, acc)
    }
    val reps = Seq.fill(3)(once())
    // fold the accumulator into a side effect the optimizer must honor
    if (reps.map(_._2).sum == 42L) System.err.print("")
    reps.map(_._1).min
  }

  /** Render a calibration fragment. The FULL mid-spin list is a main-line
    * field; the trailer variant caps it to the [[MidSpinTopK]] highest
    * spins plus a count — calib_mid_ms grows one entry per 50 queries, so
    * an uncapped trailer copy re-opens the r20 overflow at a ~550-query
    * inventory (r21 ADVICE). Pure so BenchSpec pins the worst case. */
  private[graft] val MidSpinTopK = 4
  private[graft] def calibFragment(startMs: Double, endMs: Double,
      midSpins: Seq[(Int, Double)], capped: Boolean): String = {
    val kept = if (capped) midSpins.sortBy(-_._2).take(MidSpinTopK).sortBy(_._1)
      else midSpins
    val mid = if (kept.isEmpty) "" else kept
      .map { case (i, ms) => f"[$i,$ms%.1f]" }
      .mkString(""","calib_mid_ms":[""", ",", "]")
    val midN = if (capped && midSpins.nonEmpty) s""","calib_mid_n":${midSpins.size}""" else ""
    f""""calib_start_ms":$startMs%.1f,"calib_end_ms":$endMs%.1f$mid$midN"""
  }

  /** The short trailer record (the ONLY line surviving the harness's
    * ~2000-char stdout window when the full-map line is truncated away).
    * Pure so BenchSpec can pin the worst-case length law: EVERY
    * variable-size field is capped — top-10 query map, top-5 breach map
    * + count (the r20 driver record shipped `parsed: null` because the
    * trailer carried the FULL breach map and 20+ co-load entries blew
    * the window), failed-query sample + count. `topQs` must already be
    * the rendered top-10 map; `calib` the rendered calib fragment;
    * `bandTrailer` the [[BenchBands.Report.trailerFragment]]. */
  private[graft] def trailerLine(total: Double, nQueries: Int, calib: String,
      bandTrailer: String, failed: Seq[String], topQs: String,
      sfDir: String): String = {
    // capped like the breach map: a run with dozens of failures must
    // still yield a parseable trailer — the count is the
    // machine-readable fact, the names a sample
    val failedSorted = failed.distinct.sorted
    val failedTrailer = s""","failed_n":${failedSorted.size},"failed":[${
      failedSorted.take(5).map("\"" + _ + "\"").mkString(",")}]"""
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":$nQueries,$calib$bandTrailer$failedTrailer,"queries":$topQs,"note":"top10 of $nQueries; full map on previous line","sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // a typo'd name must not silently bench an empty set and record a
    // bogus {} baseline — the lookup fails naming the unknown queries
    val selected = args.lift(0).fold(SparkEntry.queries.toSeq)(f =>
      SparkEntry.lookup(f.split(",").toSeq.distinct)).sortBy(_._1)
    val rounds = args.lift(1).map { s =>
      try s.toInt catch {
        case _: NumberFormatException =>
          sys.error(s"rounds argument must be an integer, got: '$s'")
      }
    }.getOrElse(1)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    val calibStartMs = calibrationSpinMs()

    // per-run jobs, shuffle bytes and executor task-time: the r21
    // scaling block showed 8-core ≈ 32-core TOTALS because sf0.1 is
    // driver/overhead-bound — task-time separates "serial code" from
    // "small data", and jobs / shuffle bytes do not move with machine load
    val probe = new QueryProbe(spark.sparkContext)

    // warmup: touch every table + exercise codegen once
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count()
    }

    var failed = List.empty[String]
    // returns (ok flag, reading of this run)
    def timeOnce(name: String, fn: QueryDef.Run): (Boolean, QueryProbe.Reading) = probe.measure {
      // FULL materialization via the noop sink, not count(): under
      // count() Catalyst prunes every row-count-preserving tail — a
      // left join against a provably-unique aggregate vanishes
      // entirely (decontaminate measured 0.4s FLAT from x1 to x100 on
      // the scale harness before this was caught), and sorts/projects
      // are skipped. The noop sink consumes every column of every row,
      // which is what the baseline engines measure. Round-15 action
      // change — BENCH series before/after are not level-comparable.
      // a broken query must not silently "bench": scream, remember, move on
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        true
      } catch {
        case t: Throwable =>
          System.err.println(s"[bench] FAIL $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
          failed ::= name
          false
      }
    }
    // mid-run calibration spins (one every ~50 queries, full-run mode):
    // the r20 driver record proved a mid-run load burst defeats
    // two-endpoint correction (the burst subsided before the end spin,
    // so max(start,end) under-corrected the rows it hit and the record
    // named 20+ bogus breaches). Each row is adjudicated against the
    // max of its two BRACKETING spins (BenchBands.rowSpin), so a burst
    // is charged to the rows it covered and nothing else. The spins run
    // BETWEEN query timings and are never charged to any row.
    val midSpins = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val perRound = (1 to rounds).map { r =>
      selected.zipWithIndex.map { case ((name, fn), i) =>
        if (rounds == 1 && r == 1 && i > 0 && i % 50 == 0)
          midSpins += ((i, calibrationSpinMs()))
        val (ok1, run1) = timeOnce(name, fn)
        // A slow first reading may just have paid for a cold page cache,
        // first-run codegen, or concurrent machine load (BENCH_r01 recorded
        // 26s for a query that steadily runs in 3.7s; BENCH_r05's q22/q23
        // "regressions" were 1.5s first-run codegen readings sitting under
        // the old 2s threshold). Re-run once and report the min: both runs
        // do identical distributed work, so min = least-noise estimate.
        // (Focused multi-round mode reports each round raw: the rounds
        // themselves are the repetition.)
        val run = if (rounds == 1 && run1.wallSec > 1.0) {
          val (_, run2) = timeOnce(name, fn)
          if (run2.wallSec < run1.wallSec) run2 else run1
        } else run1
        val tag = if (rounds == 1) "" else s" round=$r"
        System.err.println(f"[bench] $name%-28s ${run.wallSec}%8.2fs jobs=${run.jobs}%-4d " +
          f"shufW=${run.shuffleWriteBytes / 1e6}%.1fMB${if (ok1) "" else "  FAILED"}$tag")
        name -> run
      }
    }
    probe.close()
    // per-query min across rounds of each measure: the same least-noise
    // estimator the wall seconds use
    def minOf(f: QueryProbe.Reading => Double): Seq[(String, Double)] =
      perRound.transpose.map(rs => rs.head._1 -> rs.map(r => f(r._2)).min)
    val results = minOf(_.wallSec)
    def jsonMap(kvs: Seq[(String, Double)], fmt: String = "%.3f"): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + fmt.format(v) }.mkString("{", ",", "}")
    // layout queries register catalog tables + temp dirs; a long bench
    // session must not accrete them (cleanup is idempotent; the next
    // call re-prepares)
    graft.queries.Layout.cleanup(spark)
    val calibEndMs = calibrationSpinMs()
    // main line carries every mid spin; the trailer copy is capped
    // (top-MidSpinTopK by ms + count) so a bigger inventory cannot
    // re-overflow the stdout window through this field (r21 ADVICE)
    val calib = calibFragment(calibStartMs, calibEndMs, midSpins.toSeq, capped = false)
    val calibTrailer = calibFragment(calibStartMs, calibEndMs, midSpins.toSeq, capped = true)
    // multi-round mode: round 1 of a fresh JVM pays the once-per-JVM
    // standing-artifact builds (Models store) — record it raw so the
    // standing-build/steady split is machine-readable (the r17
    // dedup_cc_delta adjudication needed exactly this number and it
    // only existed on stderr)
    val round1 = if (rounds <= 1) "" else
      s""","round1":${jsonMap(perRound.head.map { case (k, v) => k -> v.wallSec })}"""
    // self-adjudication against the checked-in idle bands, each row
    // corrected by its BRACKETING calibration spins (start / every-50 /
    // end) — a driver record that lands in a co-load window names its
    // own out-of-band rows instead of leaving a bare total for post-hoc
    // reconstruction, and a mid-run burst corrects only the rows it
    // actually covered
    val spins = (-1, calibStartMs) +: midSpins.toSeq :+ (selected.size, calibEndMs)
    val (bandMain, bandTrailer) = BenchBands.report(results, spins)
    val qs = jsonMap(results)
    val total = results.map(_._2).sum
    // a failed query's elapsed-until-throw seconds land in the map like
    // any reading; without a machine-readable flag a record from a
    // broken run is indistinguishable from a healthy one (and could be
    // merged into BENCH_BANDS as a bogus fast band) — name the failures
    // in the JSON, not just stderr/exit code
    val failedJson = s""","failed":[${failed.distinct.sorted.map("\"" + _ + "\"").mkString(",")}]"""
    def secMap(m: Map[String, Double]): String = jsonMap(m.toSeq.sortBy(_._1))
    // per-query executor task-time, jobs and shuffle write (full maps,
    // main line only)
    val probeJson = s""","task_sec":${jsonMap(minOf(_.taskSec))}""" +
      s""","jobs":${jsonMap(minOf(_.jobs.toDouble), "%.0f")}""" +
      s""","shuffle_write_mb":${jsonMap(minOf(_.shuffleWriteBytes / 1e6), "%.1f")}"""
    // stream-family cost split (r21 verdict item 1): cumulative staging
    // wall per gate row (StageCache — includes cache-hit fingerprint
    // walks) and standing-artifact prep wall (StreamPlans) — main line
    // only, so the capped trailer is untouched
    val stageSec = graft.queries.StageCache.stagingSec
    val prepSec = results.flatMap { case (k, _) =>
      graft.queries.StreamPlans.prepSecOf(k).map(k -> _) }.toMap
    val streamSplit =
      (if (stageSec.isEmpty) "" else s""","stream_stage_sec":${secMap(stageSec)}""") +
      (if (prepSec.isEmpty) "" else s""","stream_prep_sec":${secMap(prepSec)}""")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec",$calib$round1$bandMain$failedJson$probeJson$streamSplit,"queries":$qs,"sf":"$sfDir"}""")
    // The harness that invokes this main keeps only the LAST ~2000 chars of
    // stdout; the full per-query line above is longer than that window, so
    // its head (and the opening brace) can be truncated away. Repeat the
    // headline totals plus the 10 most expensive queries in a short trailer
    // line sized to fit the window intact: every variable-size field on it
    // is capped (top-10 queries, top-5 breaches + count — the r20 driver
    // record shipped unparseable because the trailer embedded the FULL
    // breach map and 20+ co-load breaches blew the window; BenchSpec pins
    // the worst-case trailer length now).
    val topQs = jsonMap(results.sortBy(-_._2).take(10))
    println(trailerLine(total, results.size, calibTrailer, bandTrailer, failed, topQs, sfDir))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
