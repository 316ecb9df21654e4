package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.timestamp_micros
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.InMemoryQueueRegistry

/** Relative-performance harness — the hermetic counterpart of the
  * reference's pt.* tooling (reference DataGenerator.scala:27-95,
  * DataConsumer.scala:25-99, FileSourceConsumer.scala:25-60,
  * DataValidator.scala:40-49), collapsed into one main: generate csv
  * files, drain them through the push-based graft-files source AND
  * Spark's built-in file-listing source with IDENTICAL pipelines
  * (schema, maxFilesPerTrigger, csv sink, checkpointing), validate both
  * outputs row-for-row, and print one JSON line with both wall-clocks.
  *
  * The reference publishes no absolute numbers — its perf story IS this
  * relative comparison (SURVEY §6), which is why the harness ships as a
  * first-class main here. The built-in source re-LISTS the input
  * directory every trigger (O(files) per trigger, the cost that grows
  * with backlog); the push-based source discovers files from queue
  * announcements (O(new files)), which is the reference's reason to
  * exist.
  */
object PerfHarness {

  val harnessSchema: StructType = StructType(Seq(
    StructField("valString", StringType),
    StructField("valBoolean", BooleanType),
    StructField("valDouble", DoubleType),
    StructField("valInt", IntegerType),
    StructField("valPartition", StringType)))

  final case class Result(
      graftSec: Double, fileSourceSec: Double,
      graftIncSec: Double, fileSourceIncSec: Double,
      graftIncRounds: Seq[Double], fileSourceIncRounds: Seq[Double],
      rows: Long, valid: Boolean)

  /** Nearest-rank percentile over the per-round samples (tail-latency
    * observability, mirroring the reference's RocksDB histograms —
    * RocksDB.scala:334-381 publishes p50/p95 per commit phase). */
  def percentile(samples: Seq[Double], q: Double): Double = {
    require(samples.nonEmpty, s"percentile(q=$q) of zero samples is undefined")
    val sorted = samples.sorted
    sorted(math.min(sorted.size - 1, math.max(0, math.ceil(q * sorted.size).toInt - 1)))
  }

  /** Deterministic csv fixture: files `startFile until startFile+nFiles`
    * of `rowsPerFile` rows, ids contiguous across calls. */
  private def generate(dir: Path, startFile: Int, nFiles: Int, rowsPerFile: Int): Seq[String] = {
    (startFile until startFile + nFiles).map { f =>
      val p = dir.resolve(f"data$f%05d.csv")
      val sb = new StringBuilder
      var r = 0
      while (r < rowsPerFile) {
        val i = f * rowsPerFile + r
        sb.append(s"s$i,${i % 2 == 0},${i * 0.5},$i,p${f % 4}\n")
        r += 1
      }
      Files.write(p, sb.toString.getBytes("UTF-8"))
      "file:" + p.toString
    }
  }

  /** Announce `paths` on the in-memory queue `queue`. */
  private def announce(queue: String, paths: Seq[String]): Unit = {
    val q = InMemoryQueueRegistry.queue(queue)
    paths.foreach(p => q.send(s"""{"path":"$p","timestampMs":${System.currentTimeMillis()}}"""))
  }

  /** The push side: csv files announced on `queue`, read by graft-files. */
  private def pushSource(spark: SparkSession, queue: String, mfpt: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("graft-files").schema(harnessSchema)
      .option("fileFormat", "csv").option("queueName", queue)
      .option("queueFetchWaitTimeoutSeconds", "5")
    mfpt.foreach(m => reader.option("maxFilesPerTrigger", m.toString))
    reader.load()
  }

  /** The listing side: Spark's built-in csv source over `dir`. */
  private def listingSource(spark: SparkSession, dir: Path, mfpt: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("csv").schema(harnessSchema)
    mfpt.foreach(m => reader.option("maxFilesPerTrigger", m.toString))
    reader.load(dir.toString)
  }

  /** Drain `src` with one AvailableNow query into the csv sink `out` on
    * checkpoint `cp`; returns the wall seconds, the source's resolution
    * included. A restart on the same checkpoint resumes where the last
    * drain stopped. */
  private def drain(out: Path, cp: Path, src: => DataFrame): Double = {
    val t0 = System.nanoTime()
    src.writeStream.format("csv")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up of BOTH paths under `root`: the first streaming
    * query in a JVM pays one-time costs (codegen, sink committers,
    * state-store classes) that would otherwise bias whichever side runs
    * first. */
  private def warmUp(spark: SparkSession, root: Path): Unit = {
    val warmDir = Files.createDirectory(root.resolve("warm"))
    val queue = s"pt-warm-${System.nanoTime()}"
    announce(queue, generate(warmDir, 0, 1, 1))
    try drain(root.resolve("warmOutG"), root.resolve("warmCpG"), pushSource(spark, queue, None))
    finally InMemoryQueueRegistry.remove(queue)
    drain(root.resolve("warmOutF"), root.resolve("warmCpF"), listingSource(spark, warmDir, None))
  }

  def run(spark: SparkSession, nFiles: Int, rowsPerFile: Int): Result = TempDirs.using { dirs =>
    val root = Paths.get(dirs.create("graft-pt"))
    val dataDir = Files.createDirectory(root.resolve("data"))
    val paths = generate(dataDir, 0, nFiles, rowsPerFile)
    warmUp(spark, root)

    val mfpt = Some(5000)
    // push-based: the backlog is announced up front, AvailableNow drains it
    val queueName = s"pt-${System.nanoTime()}"
    def drainBoth(): (Double, Double) = (
      drain(root.resolve("outGraft"), root.resolve("cpGraft"), pushSource(spark, queueName, mfpt)),
      // baseline: Spark's built-in csv stream source, identical pipeline
      drain(root.resolve("outFile"), root.resolve("cpFile"), listingSource(spark, dataDir, mfpt)))
    try {
      announce(queueName, paths)
      val (graftSec, fileSec) = drainBoth()

      // incremental phase — where push-based discovery earns its keep: a few
      // NEW files land in the now-large directory each round. The push source
      // processes O(new) per drain; the listing source re-LISTS the whole
      // directory (O(total files)) before finding them. Checkpoints carry
      // over, so each drain is exactly the steady-state trigger cost.
      // 10 rounds: enough per-trigger samples for a meaningful p95 (the
      // tail claim) while keeping the listing side's O(backlog) cost sane
      val rounds = 10
      val newPerRound = 8
      // untimed settling round first: streaming recovery replays the LAST
      // committed batch's getBatch on every query start, so without this the
      // first timed round would be charged O(last bulk chunk) restart work —
      // a cost that varies with backlog%maxFilesPerTrigger, not with the
      // discovery mechanism under test. After settling, every timed round
      // restarts from a constant 8-file batch on both sides.
      announce(queueName, generate(dataDir, nFiles, newPerRound, rowsPerFile))
      drainBoth()
      val incRounds = (0 until rounds).map { r =>
        announce(queueName,
          generate(dataDir, nFiles + (r + 1) * newPerRound, newPerRound, rowsPerFile))
        drainBoth()
      }
      val (graftIncRounds, fileIncRounds) = incRounds.unzip

      // validator: both sinks hold exactly the generated rows (settling
      // round included: its files flow through both pipelines too)
      val expected = (nFiles + (rounds + 1) * newPerRound).toLong * rowsPerFile
      def sink(p: Path) = spark.read.schema(harnessSchema).csv(p.toString)
      val (gCnt, fCnt) = (sink(root.resolve("outGraft")).count(), sink(root.resolve("outFile")).count())
      val gSum = sink(root.resolve("outGraft")).agg(org.apache.spark.sql.functions.sum("valInt")).head.getLong(0)
      val fSum = sink(root.resolve("outFile")).agg(org.apache.spark.sql.functions.sum("valInt")).head.getLong(0)
      val checkSum = expected * (expected - 1) / 2
      Result(graftSec, fileSec, graftIncRounds.sum, fileIncRounds.sum,
        graftIncRounds, fileIncRounds, expected,
        valid = gCnt == expected && fCnt == expected && gSum == checkSum && fSum == checkSum)
    } finally InMemoryQueueRegistry.remove(queueName)
  }

  /** Backlog-size sweep: same pipeline at several directory sizes, so the
    * O(all files)-per-trigger listing cost visibly diverges from the
    * O(new files) push cost. Tiny rows keep data volume out of the
    * picture — the independent variable is FILE COUNT, the quantity a
    * listing source pays for on every trigger. Emits one JSON line with
    * the full series; per-trigger incremental cost is inc_sec/5 rounds. */
  def soak(spark: SparkSession, backlogs: Seq[Int], rowsPerFile: Int): String = {
    val series = backlogs.map { n =>
      val r = run(spark, n, rowsPerFile)
      def p(xs: Seq[Double], q: Double) = f"${percentile(xs, q)}%.3f"
      System.err.println(f"[soak] backlog=$n%6d graft_inc=${r.graftIncSec}%6.2fs " +
        f"(p50=${p(r.graftIncRounds, 0.5)} p95=${p(r.graftIncRounds, 0.95)}) " +
        f"file_inc=${r.fileSourceIncSec}%6.2fs " +
        f"(p50=${p(r.fileSourceIncRounds, 0.5)} p95=${p(r.fileSourceIncRounds, 0.95)}) " +
        f"valid=${r.valid}")
      s"""{"backlog_files":$n,"graft_bulk_sec":${r.graftSec},""" +
        s""""file_source_bulk_sec":${r.fileSourceSec},"graft_inc_sec":${r.graftIncSec},""" +
        s""""file_source_inc_sec":${r.fileSourceIncSec},""" +
        s""""graft_inc_p50_sec":${p(r.graftIncRounds, 0.5)},""" +
        s""""graft_inc_p95_sec":${p(r.graftIncRounds, 0.95)},""" +
        s""""file_source_inc_p50_sec":${p(r.fileSourceIncRounds, 0.5)},""" +
        s""""file_source_inc_p95_sec":${p(r.fileSourceIncRounds, 0.95)},""" +
        s""""graft_inc_rounds_sec":[${r.graftIncRounds.map(x => f"$x%.3f").mkString(",")}],""" +
        s""""file_source_inc_rounds_sec":[${r.fileSourceIncRounds.map(x => f"$x%.3f").mkString(",")}],""" +
        s""""valid":${r.valid}}"""
    }
    s"""{"metric":"perf_soak","rows_per_file":$rowsPerFile,"inc_rounds":10,""" +
      s""""new_files_per_round":8,"series":[${series.mkString(",")}]}"""
  }

  /** Layout-cache soak under session churn — the `prepared` cache's
    * hazard case (one JVM, many short-lived sessions, as a long-lived
    * driver serving interactive users churns them). Each of `sessions`
    * sibling sessions runs the three cached-layout queries `rounds`
    * times. The very first call in the JVM pays the one-time rewrite;
    * every LATER session's first call must hit the content-keyed cache
    * (its key has no session identity and `_SUCCESS` revalidation is a
    * handful of stat calls), so `later_first` times should sit in the
    * steady band, not the build band — that separation is the measured
    * claim. Row counts are asserted identical across every session and
    * round: a rebuild would still be correct, a torn root would not. */
  def layoutSoak(spark: SparkSession, sfDir: String, sessions: Int, rounds: Int): String = {
    val names = Seq("q49_compact_small_files", "q50_zorder_cluster", "q52_dpp_prune")
    val qs = graft.queries.Layout.rows.map(d => d.name -> d.run).toMap
    val counts = scala.collection.mutable.Map[String, Long]()
    var valid = true
    // per query: (session index, round index, seconds)
    val samples = scala.collection.mutable.ArrayBuffer[(String, Int, Int, Double)]()
    (1 to sessions).foreach { si =>
      val s = if (si == 1) spark else spark.newSession()
      for (n <- names; r <- 1 to rounds) {
        val t0 = System.nanoTime()
        val c = qs(n)(s, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (counts.getOrElseUpdate(n, c) != c) valid = false
        samples += ((n, si, r, dt))
      }
      System.err.println(f"[layout-soak] session $si%2d: " +
        names.map(n => f"$n=${samples.collect { case (`n`, `si`, _, t) => t }.min}%.2fs").mkString(" "))
    }
    val perQuery = names.map { n =>
      val firstBuild = samples.collectFirst { case (`n`, 1, 1, t) => t }.get
      val laterFirsts = samples.collect { case (`n`, si, 1, t) if si > 1 => t }.toSeq
      val steady = samples.collect { case (`n`, _, r, t) if r > 1 => t }.toSeq
      s""""$n":{"first_build_sec":${f"$firstBuild%.3f"},""" +
        s""""later_first_p95_sec":${f"${percentile(laterFirsts, 0.95)}%.3f"},""" +
        s""""steady_p50_sec":${f"${percentile(steady, 0.5)}%.3f"}}"""
    }
    s"""{"metric":"layout_soak","sf":"$sfDir","sessions":$sessions,"rounds":$rounds,""" +
      s""""queries":{${perQuery.mkString(",")}},"valid":$valid}"""
  }

  /** Bulk-replay decomposition (the 48k-crossover adjudication): drain
    * the SAME pre-generated backlog once per `maxFilesPerTrigger`
    * setting, push source vs listing source. If the push side's bulk
    * gap closes as triggers get bigger, the gap is per-trigger fixed
    * cost (query planning and the sink commit of each micro-batch;
    * `getBatch` stats the batch's files on the driver and starts no
    * listing job), not per-file work — and a bulk-replay user can turn
    * the same knob the reference documents (DataConsumer.scala:28
    * precedent). Each config validates row counts. */
  def bulkSweep(spark: SparkSession, nFiles: Int, rowsPerFile: Int,
      mfpts: Seq[Int]): String = TempDirs.using { dirs =>
    val root = Paths.get(dirs.create("graft-bulk"))
    val dataDir = Files.createDirectory(root.resolve("data"))
    val paths = generate(dataDir, 0, nFiles, rowsPerFile)
    val expected = nFiles.toLong * rowsPerFile
    // one-time JVM warmup (codegen, committers) so config 1 isn't biased
    warmUp(spark, root)
    val series = mfpts.map { mfpt =>
      val tag = s"m$mfpt"
      val queueName = s"bulk-$tag-${System.nanoTime()}"
      val (graftSec, fileSec) = try {
        announce(queueName, paths)
        (drain(root.resolve(s"outG$tag"), root.resolve(s"cpG$tag"),
          pushSource(spark, queueName, Some(mfpt))),
          drain(root.resolve(s"outF$tag"), root.resolve(s"cpF$tag"),
            listingSource(spark, dataDir, Some(mfpt))))
      } finally InMemoryQueueRegistry.remove(queueName)
      def cnt(p: Path) = spark.read.schema(harnessSchema).csv(p.toString).count()
      val valid = cnt(root.resolve(s"outG$tag")) == expected &&
        cnt(root.resolve(s"outF$tag")) == expected
      System.err.println(f"[bulk] mfpt=$mfpt%6d triggers=${(nFiles + mfpt - 1) / mfpt}%3d " +
        f"graft=$graftSec%7.2fs file=$fileSec%7.2fs ratio=${graftSec / fileSec}%.2f valid=$valid")
      s"""{"max_files_per_trigger":$mfpt,"triggers":${(nFiles + mfpt - 1) / mfpt},""" +
        s""""graft_bulk_sec":${f"$graftSec%.2f"},"file_source_bulk_sec":${f"$fileSec%.2f"},""" +
        s""""valid":$valid}"""
    }
    s"""{"metric":"bulk_sweep","backlog_files":$nFiles,"rows_per_file":$rowsPerFile,""" +
      s""""series":[${series.mkString(",")}]}"""
  }

  // ----------------------- scale mode: MEASURED scaling exponents
  // The 100 TB claims for the data-curation operators rest on plan-shape
  // arguments; this mode replaces argument with measurement: synthesize
  // statistically self-similar corpora at several multiples of the sf0.1
  // size, run each headline op at every scale, record wall seconds +
  // shuffle bytes (+ CC rounds), and fit the log-log slope. Near-linear
  // (slope <= ~1.2) is the pass bar; a bend names the op to fix.

  /** 30 hot "stopword" tokens (the fixture's vocabulary style). */
  private val HotVocab: Array[String] =
    ("batch part spark line column order small sort fast value scan a hash " +
      "slow group agg filter query table stream big merge join the data " +
      "customer row window key vector").split(" ")

  /** Deterministic, distributed, statistically SELF-SIMILAR corpus at
    * `nDocs` documents / `nVecs` embeddings, schema-identical to the
    * driver fixtures (Tables.assertFixtureSchema passes).
    *
    * Shape choices, each pinned to a scaling property:
    *  - token mixture: 35% mass on 30 hot tokens, 65% on a tail whose
    *    vocabulary grows with the corpus (Heaps-style, ~2000*sqrt(K) for
    *    scale K) — so per-shingle document frequency grows with N for
    *    hot shingles (the real ultra-common-shingle hazard the dfCap
    *    knob exists for) while tail shingles stay discriminative;
    *  - near-dup planting at a FIXED per-doc rate (2% of docs are a
    *    1-token mutation of their block base; every 5th block adds a
    *    second mutated member) — component count scales linearly,
    *    component diameter stays <= 2, so CC round count must NOT grow
    *    with scale (a measured claim, not an assumed one);
    *  - doc length 8..96 tokens (fixture mean ~50), lang/source
    *    distributions as in the fixture;
    *  - embeddings: 10 Gaussian label clusters in 64-d (the fixture's
    *    label structure), so IVF partitions stay balanced at any scale.
    */
  private[graft] def synthCorpus(spark: SparkSession, dir: Path,
      nDocs: Long, nVecs: Long): Unit = {
    import spark.implicits._
    val hot = HotVocab
    val scaleK = math.max(1.0, nDocs / 5000.0)
    val tailV = (2000 * math.sqrt(scaleK)).toInt
    val docParts = math.max(8, math.min(256, (nDocs / 20000L).toInt))
    spark.range(0L, nDocs, 1L, docParts).map { idBoxed =>
      val id: Long = idBoxed
      val block = id / 50
      val off = (id % 50).toInt
      val isNear = off == 1 || (off == 2 && block % 5 == 0)
      val baseId = if (isNear) block * 50 else id
      val rnd = new java.util.Random(baseId * 0x9E3779B97F4A7C15L + 1234567)
      val nTok = 8 + rnd.nextInt(89)
      val toks = Array.fill(nTok) {
        if (rnd.nextDouble() < 0.35) hot(rnd.nextInt(hot.length))
        else s"w${rnd.nextInt(tailV)}"
      }
      // distinct 1-token mutation per planted member: changes <=3 shingles,
      // so docs of >=29 tokens stay above the 0.8-jaccard edge threshold
      if (isNear) toks((off - 1) % nTok) = s"mut$id"
      val text = toks.mkString(" ")
      val lang = { val r = rnd.nextDouble()
        if (r < 0.40) "en" else if (r < 0.55) "de"
        else if (r < 0.70) "zh" else if (r < 0.85) "fr" else "es" }
      (id, text, lang, s"src${rnd.nextInt(20)}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val vecParts = math.max(8, math.min(256, (nVecs / 20000L).toInt))
    spark.range(0L, nVecs, 1L, vecParts).map { idBoxed =>
      val id: Long = idBoxed
      val label = (id % 10).toInt
      val crnd = new java.util.Random(900017L + label)
      val center = Array.fill(64)(crnd.nextGaussian())
      val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 7)
      val v = Array.tabulate(64)(i => (center(i) + 0.6 * rnd.nextGaussian()).toFloat)
      (id, v, label)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // events: USER COUNT scales with the corpus while events-per-user
    // (~20), the type alphabet (5), and the calendar window (30 days)
    // stay fixed — so per-user journey length, the types² transition
    // frame, and the types×days daily frame are all scale-invariant,
    // which is exactly the self-similarity the event-time operators'
    // K-bounded-state claims are measured against. ts is fixture-shaped
    // (parquet timestamp[us]; GraftSession pins UTC).
    val nEvents = nDocs * 4
    val nUsers = math.max(1L, nDocs / 5)
    val types = Array("view", "click", "cart", "purchase", "error")
    val evParts = math.max(8, math.min(256, (nEvents / 20000L).toInt))
    val baseUs = 1767225600000000L // 2026-01-01T00:00:00Z
    spark.range(0L, nEvents, 1L, evParts).map { idBoxed =>
      val id: Long = idBoxed
      val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 99)
      val user = id % nUsers
      val t = { val r = rnd.nextDouble()
        if (r < 0.45) "view" else if (r < 0.70) "click"
        else if (r < 0.85) "cart" else if (r < 0.97) "purchase" else "error" }
      val tsUs = baseUs + (rnd.nextInt(30).toLong * 86400L +
        rnd.nextInt(86400).toLong) * 1000000L
      val value = math.abs(types.indexOf(t) * 10.0 + 5.0 * rnd.nextGaussian())
      (id, tsUs, user, t, value, s"""{"k":${rnd.nextInt(8)}}""")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Least-squares slope of ln(y) on ln(x) — the scaling exponent. */
  private[graft] def logLogSlope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val (lx, ly) = (xs.map(math.log), ys.map(math.log))
    val (mx, my) = (lx.sum / lx.size, ly.sum / ly.size)
    val num = lx.zip(ly).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = lx.map(a => (a - mx) * (a - mx)).sum
    num / den
  }

  /** Per-corpus precomputed pair-list parquet for the `pagerank_iters`
    * scale arm (kernel paid once, outside the measured reps). */
  private val prPairsCache = scala.collection.mutable.Map.empty[String, String]

  /** Run the headline curation ops at each scale; returns the JSON record.
    * Wall time is the min of `reps` in-JVM reps (steady-state discipline:
    * rep 1 pays codegen + Models train-once; the claim under test is the
    * standing cost). Shuffle bytes are each rep's [[QueryProbe]] reading:
    * per-stage task metrics across ALL jobs an op runs. Every temp dir the
    * run mints (corpora, per-rep cluster-map outputs, the per-corpus pair
    * parquet) is deleted when it returns. */
  def scaleRun(spark: SparkSession, scales: Seq[Int], opNames: Seq[String],
      reps: Int): String = TempDirs.using { dirs =>
    // scale-only comparison arms that are deliberately NOT gate queries
    val qs = SparkEntry.lookup(opNames, Map[String, QueryDef.Run](
      "dedup_cc_uncapped" -> ((s, d) => graft.operators.Dedup.dedupClustersUncapped(s, d)),
      // the PRODUCTION decontamination regime: eval pinned at the x1
      // slice (doc_id < 5000, the scale corpus's base size) while the
      // corpus grows with K — the gate arm's %10 slice grows eval WITH
      // the corpus, which bakes a Σ df_bench·df_corpus quadratic into
      // the slope by construction (r15 verdict, What's wrong #1)
      "decon_fixed_eval" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        graft.operators.Curation.decontaminateWith(s, d,
          col("doc_id") % 10 === 7 && col("doc_id") < 5000L)
      }),
      "decon_fixed_eval_bloom" -> ((s, d) => {
        import org.apache.spark.sql.functions.col
        graft.operators.Curation.decontaminateBloomWith(s, d,
          col("doc_id") % 10 === 7 && col("doc_id") < 5000L)
      }),
      // the standing-index BUILD (LSH kernel + parquet commit) measured
      // uncached — the ingest-time cost every cluster-map consumer
      // amortizes; writes to a fresh dir per rep so the Models store
      // never short-circuits the measurement
      "cluster_map_build" -> ((s, d) => {
        val out = dirs.create("graft-cmb")
        graft.operators.Dedup.dedupClustersLsh(s, d)
          .write.mode("overwrite").parquet(s"$out/cc.parquet")
        s.read.parquet(s"$out/cc.parquet")
      }),
      // the rank ITERATIONS in isolation: the pair kernel (the gate
      // row's dominant cost) is precomputed to parquet once per corpus,
      // so this arm's wall/shuffle is the 4-iteration join+agg loop the
      // src-partitioned edge persist is supposed to cheapen — the gate
      // row would bury that delta under the kernel's bytes
      "pagerank_iters" -> ((s, d) => {
        val pairsPath = prPairsCache.getOrElseUpdate(d, {
          val out = dirs.create("graft-pr-pairs")
          graft.operators.Dedup.dedupNgramJaccardCapped(s, d,
              graft.operators.Dedup.CcDfCap)
            .select("a_id", "b_id")
            .write.mode("overwrite").parquet(s"$out/pairs.parquet")
          s"$out/pairs.parquet"
        })
        graft.operators.Graph.pagerankOn(
          s.read.parquet(pairsPath), graft.operators.Graph.PrIters)
      }))).toMap
    val probe = new QueryProbe(spark.sparkContext)
    try {
      val baseDocs = 5000L; val baseVecs = 2000L
      val perScale = scales.map { k =>
        val dir = Paths.get(dirs.create(f"graft-scale-x$k%03d"))
        val t0 = System.nanoTime()
        synthCorpus(spark, dir, baseDocs * k, baseVecs * k)
        val genSec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scale] x$k corpus: ${baseDocs * k} docs, ${baseVecs * k} vecs in $genSec%.1fs")
        val ops = opNames.map { name =>
          // self-similarity row count, taken ONCE untimed before the
          // reps (it is part of the record, not of the measurement)
          val rows = qs(name)(spark, dir.toString).count()
          val samples = (1 to reps).map { rep =>
            // operators may persist/localCheckpoint internally; a later rep
            // silently reusing rep 1's cached frames would report near-zero
            // shuffle and a fantasy wall time — every rep starts cache-cold
            // (codegen/JIT/Models-store warmth is what min-of-reps keeps)
            spark.catalog.clearCache()
            // noop sink = full materialization: count() lets Catalyst
            // prune row-count-preserving tails (see Bench.timeOnce)
            val (_, r) = probe.measure(qs(name)(spark, dir.toString)
              .write.mode("overwrite").format("noop").save())
            val rounds = if (name == "dedup_cc") graft.operators.Dedup.lastCcRounds else -1
            System.err.println(f"[scale] x$k $name%-18s rep$rep ${r.wallSec}%8.2fs rows=$rows " +
              f"shufW=${r.shuffleWriteBytes / 1e6}%.1fMB shufR=${r.shuffleReadBytes / 1e6}%.1fMB" +
              (if (rounds >= 0) s" ccRounds=$rounds" else ""))
            (r.wallSec, r.shuffleWriteBytes, r.shuffleReadBytes, rows, rounds)
          }
          val best = samples.minBy(_._1)
          name -> best
        }
        (k, genSec, ops)
      }
      val opJson = opNames.map { name =>
        val series = perScale.map { case (k, _, ops) => k -> ops.find(_._1 == name).get._2 }
        val xs = series.map(_._1.toDouble)
        val walls = series.map(_._2._1)
        val shufW = series.map(_._2._2.toDouble)
        val slopeWall = logLogSlope(xs, walls)
        val slopeShuf =
          if (shufW.forall(_ > 0)) logLogSlope(xs, shufW) else Double.NaN
        // the smallest scale is dominated by fixed per-job overheads
        // (scheduling, driver actions), which flattens the full fit; the
        // top-decade slope between the two LARGEST scales is the honest
        // asymptotic signal — report both
        def topSlope(ys: Seq[Double]): Double =
          logLogSlope(xs.takeRight(2), ys.takeRight(2))
        val rounds = series.map(_._2._5)
        s""""$name":{"wall_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
          s""""shuffle_write_mb":[${shufW.map(b => f"${b / 1e6}%.1f").mkString(",")}],""" +
          s""""shuffle_read_mb":[${series.map(_._2._3 / 1e6).map(b => f"$b%.1f").mkString(",")}],""" +
          s""""rows":[${series.map(_._2._4).mkString(",")}],""" +
          (if (rounds.exists(_ >= 0)) s""""cc_rounds":[${rounds.mkString(",")}],""" else "") +
          s""""slope_wall":${f"$slopeWall%.2f"},"slope_wall_top":${f"${topSlope(walls)}%.2f"},""" +
          s""""slope_shuffle":${if (slopeShuf.isNaN) "null" else f"$slopeShuf%.2f"},""" +
          s""""slope_shuffle_top":${if (shufW.takeRight(2).forall(_ > 0)) f"${topSlope(shufW)}%.2f" else "null"}}"""
      }
      // shuffle bytes depend on the partition count, which the mains tie
      // to the core count: a record names both so runs compare like for like
      s"""{"metric":"scale_exponents","scales":[${scales.mkString(",")}],""" +
        s""""cores":${GraftSession.cpus},""" +
        s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
        s""""base_docs":5000,"base_vecs":2000,"reps":$reps,""" +
        s""""gen_sec":[${perScale.map(p => f"${p._2}%.1f").mkString(",")}],""" +
        s""""ops":{${opJson.mkString(",")}}}"""
    } finally {
      probe.close()
      // the pair cache's entries point into this run's dirs, deleted
      // when it returns
      prPairsCache.clear()
    }
  }

  // ----------------------- ccsoak mode: multi-delta incremental CC
  /** Production incremental clustering is not ONE delta: a standing
    * corpus absorbs a STREAM of ingest batches, each merged by
    * [[graft.operators.Dedup.ccFixpointDelta]]. This mode applies
    * `nDeltas` successive deltas of `deltaFrac`·base docs each and,
    * after EVERY delta:
    *
    *  (a) asserts the component-local merge equals the from-scratch
    *      full LSH rebuild over the union corpus (row-exact, both
    *      directions — `require`s, so a divergence kills the soak);
    *  (b) records the delta pipeline's wall + shuffle bytes — the
    *      100 TB claim under test is that per-delta cost tracks the
    *      DELTA (flat series), not the growing standing mass;
    *  (c) maintains the standing artifacts the way an ingest would:
    *      shingle/band tables append one generation per delta and
    *      COMPACT back to a single generation once the generation
    *      count passes `CompactAfter` (the per-batch-dir GC the
    *      streaming row's scaladoc promises), pair list appends, map
    *      swaps — artifact file counts are recorded per delta, so
    *      unbounded small-file growth is measured, not assumed.
    *
    * The rebuild check (a) runs OUTSIDE the timed window; the timed
    * window covers exactly what an ingest pays: delta shingle/sign/
    * band, bucket-restricted candidates, verify, component-local
    * merge, artifact commit (including any compaction — amortized GC
    * is part of the standing cost, so it is timed). */
  private val CompactAfter = 4
  def ccSoakRun(spark: SparkSession, nBase: Long, nDeltas: Int,
      deltaFrac: Double): String = TempDirs.using { dirs =>
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.operators.Dedup
    val nDelta = math.max(1L, (nBase * deltaFrac).toLong)
    val nTotal = nBase + nDelta * nDeltas
    val dir = Paths.get(dirs.create("graft-ccsoak"))
    synthCorpus(spark, dir, nTotal, 2000)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val root = dirs.create("graft-ccsoak-art")
    def parquetFiles(sub: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      val f = new java.io.File(s"$root/$sub")
      if (f.exists()) walk(f) else 0
    }
    def gens(sub: String): Seq[java.io.File] =
      Option(new java.io.File(s"$root/$sub").listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isDirectory).toSeq
    // a failed swap must fail HERE, not as a path-not-found mid-soak
    def swap(from: String, to: String): Unit =
      require(new java.io.File(from).renameTo(new java.io.File(to)),
        s"artifact swap failed: rename $from -> $to")
    // standing init: the artifacts a prior ingest committed
    Dedup.docShinglesOf(docs.filter(col("doc_id") < nBase)).persist()
      .write.parquet(s"$root/sh/gen=0")
    val sh0 = spark.read.parquet(s"$root/sh/gen=0")
    Dedup.lshBands(Dedup.lshSignatures(sh0)).write.parquet(s"$root/bands/gen=0")
    val bands0 = spark.read.parquet(s"$root/bands/gen=0")
    Dedup.lshVerify(Dedup.lshCandidates(bands0), sh0)
      .select(col("a_id"), col("b_id")).write.parquet(s"$root/pairs")
    Dedup.ccFixpoint(spark.read.parquet(s"$root/pairs"))
      .write.parquet(s"$root/map")
    val probe = new QueryProbe(spark.sparkContext)
    try {
      val recs = (1 to nDeltas).map { i =>
        val start = nBase + (i - 1) * nDelta
        val end = start + nDelta
        spark.catalog.clearCache()
        // ---- timed ingest window ----
        val ((freshEdges, compacted), window) = probe.measure {
          Dedup.docShinglesOf(
              docs.filter(col("doc_id") >= start && col("doc_id") < end)).persist()
            .write.parquet(s"$root/sh/gen=$i")
          val deltaSh = spark.read.parquet(s"$root/sh/gen=$i")
          Dedup.lshBands(Dedup.lshSignatures(deltaSh))
            .write.parquet(s"$root/bands/gen=$i")
          val deltaKeys = spark.read.parquet(s"$root/bands/gen=$i")
            .select(col("band_idx"), col("band_key")).distinct()
          val touched = spark.read.parquet(s"$root/bands")
            .select(col("doc_id"), col("band_idx"), col("band_key"))
            .join(broadcast(deltaKeys), Seq("band_idx", "band_key"), "leftsemi")
          val allSh = spark.read.parquet(s"$root/sh").select(col("doc_id"), col("sh"))
          val fresh = Dedup.lshVerify(
              Dedup.lshCandidates(touched)
                .filter(col("a_id") >= start || col("b_id") >= start),
              allSh)
            .select(col("a_id"), col("b_id")).persist()
          val freshEdges = fresh.count()
          val merged = Dedup.ccFixpointDelta(
            spark.read.parquet(s"$root/map"),
            spark.read.parquet(s"$root/pairs"), fresh)
          merged.write.parquet(s"$root/map.next")
          fresh.write.mode("append").parquet(s"$root/pairs")
          fresh.unpersist()
          TempDirs.delete(new java.io.File(s"$root/map"))
          swap(s"$root/map.next", s"$root/map")
          // amortized compaction: bound the generation count (and with it
          // the artifact file count) regardless of how many deltas arrive
          var compacted = false
          Seq("sh", "bands").foreach { sub =>
            if (gens(sub).size > CompactAfter) {
              compacted = true
              val all = spark.read.parquet(s"$root/$sub")
                .drop("gen").repartition(spark.sparkContext.defaultParallelism)
              all.write.parquet(s"$root/$sub.next/gen=0")
              TempDirs.delete(new java.io.File(s"$root/$sub"))
              swap(s"$root/$sub.next", s"$root/$sub")
            }
          }
          (freshEdges, compacted)
        }
        val sec = window.wallSec
        // ---- untimed: full-rebuild equality check ----
        val unionSh = Dedup.docShinglesOf(docs.filter(col("doc_id") < end))
          .persist()
        val rebuild = Dedup.ccFixpoint(
          Dedup.lshVerify(
              Dedup.lshCandidates(Dedup.lshBands(Dedup.lshSignatures(unionSh))),
              unionSh)
            .select(col("a_id"), col("b_id")))
        val mergedBack = spark.read.parquet(s"$root/map")
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
        val d1 = mergedBack.except(rebuild).count()
        val d2 = rebuild.except(mergedBack).count()
        // except is SET semantics: a merged map with duplicated doc_id
        // rows of identical values would still pass both excepts — pin
        // the row counts too so rebuild_equal means bag equality
        val mapRows = mergedBack.count()
        val rebuildRows = rebuild.count()
        unionSh.unpersist()
        require(d1 == 0 && d2 == 0 && mapRows == rebuildRows,
          s"ccsoak delta $i: merged map diverged from full rebuild " +
            s"(merged-only=$d1, rebuild-only=$d2, " +
            s"rows merged=$mapRows rebuild=$rebuildRows)")
        System.err.println(f"[ccsoak] delta $i%2d wall=$sec%6.2fs " +
          f"shufW=${window.shuffleWriteBytes / 1e6}%8.1fMB fresh=$freshEdges%6d " +
          f"map=$mapRows%7d files(sh=${parquetFiles("sh")}," +
          f"bands=${parquetFiles("bands")},pairs=${parquetFiles("pairs")})" +
          (if (compacted) " COMPACTED" else ""))
        (i, sec, window.shuffleWriteBytes, freshEdges, mapRows, compacted,
          parquetFiles("sh") + parquetFiles("bands") + parquetFiles("pairs"))
      }
      val walls = recs.map(_._2)
      s"""{"metric":"cc_multi_delta_soak","base_docs":$nBase,""" +
        s""""delta_docs":$nDelta,"n_deltas":$nDeltas,""" +
        s""""wall_sec":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
        s""""shuffle_write_mb":[${recs.map(_._3 / 1e6).map(b => f"$b%.1f").mkString(",")}],""" +
        s""""fresh_edges":[${recs.map(_._4).mkString(",")}],""" +
        s""""map_rows":[${recs.map(_._5).mkString(",")}],""" +
        s""""artifact_files":[${recs.map(_._7).mkString(",")}],""" +
        s""""compactions":${recs.count(_._6)},""" +
        s""""rebuild_equal":true,""" +
        s""""wall_last_over_first":${f"${walls.last / walls.head}%.2f"}}"""
    } finally probe.close()
  }

  /** args: [nFiles] [rowsPerFile], defaults 200 x 1000;
    * or: soak [n1,n2,...] [rowsPerFile] (defaults 1000,4000,12000 x 10);
    * or: layout [sessions] [rounds] [sfDir] (defaults 8 x 3 on sf0.1);
    * or: scale [k1,k2,...] [op1,op2,...] [reps] (defaults 1,10,100 x
    *     dedup_cc,dedup_minhash_lsh,heavy_hitters,budget_select,ann_topk_ivf x 2);
    * or: bulk [nFiles] [rowsPerFile] [mfpt1,mfpt2,...] (defaults
    *     48000 x 10 x 5000,16000,48000);
    * or: ccsoak [baseDocs] [nDeltas] [deltaFrac] (defaults
    *     50000 x 8 x 0.05 — multi-delta incremental-CC soak). */
  /** Print a validated mode's JSON line; exit 1 when any of its series
    * failed validation, as the default mode does, so a wrong drain is never
    * read as a timing. */
  private def emit(json: String): Unit = {
    println(json)
    if (json.contains(""""valid":false""")) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    val soakMode = args.headOption.contains("soak")
    val layoutMode = args.headOption.contains("layout")
    val scaleMode = args.headOption.contains("scale")
    val bulkMode = args.headOption.contains("bulk")
    val ccSoakMode = args.headOption.contains("ccsoak")
    val anyMode = soakMode || layoutMode || scaleMode || bulkMode || ccSoakMode
    val nFiles = if (anyMode) 0 else args.headOption.map(_.toInt).getOrElse(200)
    val rowsPerFile = if (anyMode) 0 else args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (layoutMode) {
        val sessions = args.lift(1).map(_.toInt).getOrElse(8)
        val rounds = args.lift(2).map(_.toInt).getOrElse(3)
        val sfDir = args.lift(3)
          .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse("/root/testdata/sf0.1")
        emit(layoutSoak(spark, sfDir, sessions, rounds))
      } else if (scaleMode) {
        // SPARK_GRAFT_FORCE_SMJ=1 pins every equi-join to the shuffle
        // regime (no planner or AQE broadcast). The fixture corpora are
        // small enough that Spark broadcasts frames that at production
        // scale exceed any broadcast threshold (a rank/cluster frame is
        // O(duplicate mass)) — this knob lets an arm measure the join
        // shape those rows would actually run at 100 TB, the same
        // regime-forcing idea as StreamingLmRegimeSpec.
        if (sys.env.get("SPARK_GRAFT_FORCE_SMJ").contains("1")) {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          System.err.println("[scale] FORCE_SMJ: broadcast joins disabled for this run")
        }
        val scales = args.lift(1).getOrElse("1,10,100").split(",").toSeq.map(_.trim.toInt)
        val ops = args.lift(2).map(_.split(",").toSeq.map(_.trim)).getOrElse(Seq(
          "dedup_cc", "dedup_minhash_lsh", "heavy_hitters", "budget_select", "ann_topk_ivf"))
        val reps = args.lift(3).map(_.toInt).getOrElse(2)
        println(scaleRun(spark, scales, ops, reps))
      } else if (soakMode) {
        val backlogs = args.lift(1).getOrElse("1000,4000,12000")
          .split(",").toSeq.map(_.trim.toInt)
        val rows = args.lift(2).map(_.toInt).getOrElse(10)
        emit(soak(spark, backlogs, rows))
      } else if (bulkMode) {
        val n = args.lift(1).map(_.toInt).getOrElse(48000)
        val rows = args.lift(2).map(_.toInt).getOrElse(10)
        val mfpts = args.lift(3).getOrElse("5000,16000,48000")
          .split(",").toSeq.map(_.trim.toInt)
        emit(bulkSweep(spark, n, rows, mfpts))
      } else if (ccSoakMode) {
        val nBase = args.lift(1).map(_.toLong).getOrElse(50000L)
        val nDeltas = args.lift(2).map(_.toInt).getOrElse(8)
        val frac = args.lift(3).map(_.toDouble).getOrElse(0.05)
        println(ccSoakRun(spark, nBase, nDeltas, frac))
      } else {
        val r = run(spark, nFiles, rowsPerFile)
        // one JSON line, same contract style as Bench
        println(s"""{"metric":"perf_harness","graft_sec":${r.graftSec},""" +
          s""""file_source_sec":${r.fileSourceSec},"graft_inc_sec":${r.graftIncSec},""" +
          s""""file_source_inc_sec":${r.fileSourceIncSec},"rows":${r.rows},"valid":${r.valid}}""")
        if (!r.valid) sys.exit(1)
      }
    } finally spark.stop()
  }
}
