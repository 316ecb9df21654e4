package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.QueryDef
import graft.functions.Parity
import StreamRun.Feed

/** Round-2 streaming surface over the `graft-files` source: session
  * windows, stream-stream interval join, and custom session state via
  * flatMapGroupsWithState. Same harness discipline as [[Streaming]]:
  * every query runs a real micro-batch pipeline end-to-end and lands in a
  * memory sink the DuckDB oracle can hash-check against the static table.
  */
object Streaming2 {
  private val CUTOFF = 2000L
  /** Session gap: events are sparse (~1 per user per 11 h), so a 12 h gap
    * actually merges events (688 sessions from 2000 rows at sf0.01) —
    * a 30 min gap would make every session a singleton and test nothing. */
  private val GapHours = 12

  /** Same fixture-generation contract as [[Streaming.eventsSchema]]:
    * events.ts is parquet timestamp[us] / TIMESTAMP_NTZ. */
  private val eventsSchema = Streaming.eventsSchema


  // ------------------------------------------------------ session window
  /** Native session windows (merging state windows) per user with a
    * watermark; a far-future sentinel in a later micro-batch pushes the
    * watermark past every real session so append mode emits them all.
    * session_window merges an event iff its gap to the previous is
    * STRICTLY below the gap duration — the oracle's islands start at
    * gap >= 12 h to match. */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 4) { StreamRun(s, "stream_session_window") { run =>
    import s.implicits._
    val stage = Streaming.stageEvents(s, dir, run.gate, nFiles = 2)
    val nReal = StreamRun.parquetFiles(stage).length
    // sentinel: year 2100, its own later micro-batch (timestampMs orders it)
    val sentStage = Streaming.sentinelEventsDir(s, run.gate, userId = 0L)
    // the AvailableNow run drains ALL announced files (real + sentinel)
    // before batch 0: batch 1 is then exactly the oldest-timestamped real files, batch 2
    // the sentinel — no queue-timing window where a late real file lands
    // after the sentinel has advanced the watermark (the r12 flake)
    val sessions = run.source(eventsSchema,
        Seq(Feed(stage), Feed(sentStage, StreamRun.at(2000L))),
        "maxFilesPerTrigger" -> nReal.toString)
      .withColumn("event_ts", Streaming.eventTs)
      .withWatermark("event_ts", "1 minute")
      .groupBy($"user_id", session_window($"event_ts", s"$GapHours hours"))
      .agg(count(lit(1)).as("n"))
    run.memory(sessions, "append")
      .filter(year($"session_window.start") < 2099) // drop the sentinel's
      .select($"user_id",
        date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss").as("win_start"),
        $"n")
      .orderBy($"user_id", $"win_start")
  }}
  /** Oracle sessionization shared by the session rows: each sliced event's
    * `(user_id, ts_us, sess)`, where a user's session number steps at
    * every gap of at least [[GapHours]] (and at their first event). */
  private val SessionsSql: String =
    s"""SELECT user_id, ts_us,
       |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
       |  FROM (
       |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |      CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
       |        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
       |           >= CAST($GapHours AS BIGINT)*3600*1000000 THEN 1 ELSE 0 END AS ns
       |    FROM events WHERE event_id < $CUTOFF)""".stripMargin
  val streamSessionWindowSql: String =
    s"""SELECT user_id,
       |  strftime(make_timestamp(MIN(ts_us)), '%Y-%m-%d %H:%M:%S') AS win_start,
       |  COUNT(*) AS n
       |FROM ($SessionsSql)
       |GROUP BY user_id, sess ORDER BY user_id, win_start""".stripMargin

  // -------------------------------------------------- stream-stream join
  /** Watermarked stream-stream interval join: purchases joined to the
    * same user's clicks from the preceding 6 hours. Two independent
    * streaming sources (separate queues over the same staged files), a
    * user_id equi-key plus an event-time range — the state-store join
    * shape that runs unbounded at scale because both sides expire state
    * past the watermark + interval. Inner joins emit as matches arrive,
    * so no sentinel is needed. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 4) { StreamRun(s, "stream_stream_join") { run =>
    import s.implicits._
    val stage = Streaming.stageEvents(s, dir, run.gate, nFiles = 2)
    // two queues over the same staged files; each side admits its whole
    // announced set in batch 1, so neither watermark can advance past
    // rows still in flight on the other side
    val purchases = run.source(eventsSchema, Seq(Feed(stage)))
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("p_id"),
        Streaming.eventTs.as("p_ts"))
      .withWatermark("p_ts", "1 minute")
    val clicks = run.source(eventsSchema, Seq(Feed(stage)))
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("c_id"),
        Streaming.eventTs.as("c_ts"))
      .withWatermark("c_ts", "1 minute")
    val pairs = purchases.join(clicks,
        expr(s"p_user = c_user AND c_ts >= p_ts - INTERVAL $GapHours HOURS AND c_ts <= p_ts"))
      .select($"p_id", $"c_id", $"p_user".as("user_id"))
    run.memory(pairs, "append").orderBy($"p_id", $"c_id")
  }}
  val streamStreamJoinSql: String =
    s"""SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
       |FROM (SELECT * FROM events WHERE event_id < $CUTOFF AND event_type = 'purchase') p
       |JOIN (SELECT * FROM events WHERE event_id < $CUTOFF AND event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - CAST($GapHours AS BIGINT)*3600*1000000
       |                        AND epoch_us(p.ts)
       |ORDER BY p_id, c_id""".stripMargin

  // ------------------------------------- flatMapGroupsWithState sessions
  /** Custom sessionization state machine via flatMapGroupsWithState —
    * the arbitrary-state operator the built-in session_window cannot
    * generalize beyond (per-group logic is arbitrary Scala over the
    * group's events). Emits one row per closed session; the single
    * micro-batch (no trigger cap) keeps emission deterministic for the
    * hash gate, while GraftStatefulStreamingSpec covers the cross-batch
    * state path. */
  def streamMgwsSession(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 4) { StreamRun(s, "stream_mgws_session") { run =>
    import s.implicits._
    val stage = Streaming.stageEvents(s, dir, run.gate, nFiles = 2)
    val gapUs = GapHours.toLong * 3600L * 1000000L
    val sessionize = (user: Long, it: Iterator[(Long, Long, Long)],
        state: GroupState[Long]) => {
      val evs = it.toArray.sortBy(e => (e._2, e._1)) // (event_id, ts_us, user)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      var sessId = 0L; var n = 0L; var start = 0L; var last = Long.MinValue
      for ((_, tsUs, _) <- evs) {
        if (last == Long.MinValue || tsUs - last >= gapUs) {
          if (n > 0) out += ((user, sessId, n, last - start))
          sessId += 1; n = 0L; start = tsUs
        }
        n += 1; last = tsUs
      }
      if (n > 0) out += ((user, sessId, n, last - start))
      out.iterator
    }
    // the per-batch sessionizer needs every event in ONE batch: the run
    // drains the full announced set before batch 0 (not on timing)
    val sessions = run.source(eventsSchema, Seq(Feed(stage)))
      .select($"event_id", unix_micros(Streaming.eventTs).as("ts_us"), $"user_id")
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(sessionize)
      .toDF("user_id", "session_id", "n_events", "duration_us")
    run.memory(sessions, "append").orderBy($"user_id", $"session_id")
  }}
  val streamMgwsSessionSql: String =
    s"""SELECT user_id, CAST(sess AS BIGINT) AS session_id, COUNT(*) AS n_events,
       |  MAX(ts_us) - MIN(ts_us) AS duration_us
       |FROM ($SessionsSql)
       |GROUP BY user_id, sess ORDER BY user_id, session_id""".stripMargin

  // ------------------------------------------- stream-incremental dedup
  /** Same corpus-bounding discipline as the events CUTOFF: at sf0.01 the
    * whole table rides (500 docs); at sf0.1 the gate streams a 2000-doc
    * slice — the pipeline shape is what's under test, not table size. */
  private val DocCutoff = 2000L

  /** The standing-corpus shingle-set index (docs < DocCutoff, doc_id %
    * 5 != 0) as a train-once [[graft.operators.Models]] artifact —
    * shared by the incremental-dedup and novelty rows. The parquet leaf
    * doubles as the cache boundary [[graft.operators.Dedup.docShinglesOf]]
    * requires before exploding. */
  private def shingleIdxDir(s: SparkSession, dir: String,
      corpus: DataFrame): String =
    graft.operators.Models.root(
        s"stream-shingle-idx|$dir|lt$DocCutoff|mod5ne0" +
          s"|sh=${graft.operators.Dedup.ShingleSize}" +
          s"|in=${graft.operators.Models.inputFingerprint(s"$dir/documents.parquet")}") { out =>
      graft.operators.Dedup.docShinglesOf(corpus.filter(col("doc_id") % 5 =!= 0))
        .write.mode("overwrite").parquet(out)
    }

  /** The arriving slice (docs < DocCutoff, doc_id % 5 == 0) staged as 4
    * files -> 2 micro-batches at maxFilesPerTrigger=2; shared by the
    * incremental-dedup and novelty rows. */
  private def stageDeltaDocs(s: SparkSession, dir: String, gate: String,
      corpus: DataFrame): String =
    StageCache.dir(gate,
        s"$dir|docs|lt$DocCutoff|mod5eq0|hash:4:doc_id", Seq(s"$dir/documents.parquet")) { out =>
      corpus.filter(col("doc_id") % 5 === 0)
        .repartition(4, col("doc_id"))
        .write.mode("overwrite").parquet(out)
    }

  /** Continuous-ingest dedup: NEW documents arrive through the connector
    * and each micro-batch is deduplicated against the STANDING corpus's
    * shingle index — the streaming form of
    * [[graft.operators.Dedup2.dedupIncremental]], and the shape a 100 TB
    * pipeline actually runs (the corpus index is materialized once; only
    * the arriving delta re-shingles, per batch, forever).
    *
    * Mechanics: foreachBatch drives the shared batch verdict logic —
    * multi-level aggregation + window rank are illegal inside a single
    * streaming query but fine per micro-batch — and appends verdicts to a
    * parquet sink. A doc's verdict depends only on (doc, standing index),
    * so micro-batch slicing cannot change the result set: the gate
    * hash-compares the streamed verdicts against the BATCH oracle SQL,
    * proving stream/batch parity end-to-end (maxFilesPerTrigger=2 forces
    * a genuinely multi-batch run).
    *
    * Shuffle partitions are sized to the micro-batch (8), not the
    * session default: foreachBatch keeps no streaming state, and a
    * bounded per-trigger delta never needs full-corpus parallelism —
    * per-task scheduling constants dominate otherwise. At production
    * scale this is the same knob, sized to maxFilesPerTrigger. */
  def streamIncrementalDedup(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 8) { StreamRun(s, "stream_incremental_dedup") { run =>
    import s.implicits._
    StreamPlans.resetIngest(run.gate)
    // corpus bounded like every streaming gate (the CUTOFF discipline):
    // the point is the pipeline shape, not re-shingling the whole table
    val corpus = Tables.documents(s, dir).filter($"doc_id" < DocCutoff)
    // delta slice staged as 4 files -> 2 micro-batches at maxFilesPerTrigger=2
    val stage = stageDeltaDocs(s, dir, run.gate, corpus)

    // standing-corpus shingle index: a TRAIN-ONCE Models artifact (r22 —
    // production: a standing table on storage; until r22 it was
    // re-shingled per invocation). The parquet leaf is also the cache
    // boundary that stops the tokenizer from fusing into the shingle
    // lambda (see Dedup.docShinglesOf); the session pin amortizes the
    // read across micro-batches.
    val prepT0 = System.nanoTime()
    val baseSets = s.read.parquet(shingleIdxDir(s, dir, corpus)).persist()
    baseSets.count() // materialize before the stream races it
    StreamPlans.recordPrep(run.gate, (System.nanoTime() - prepT0) / 1e9)
    val baseEx = graft.operators.Dedup2.explodeSets(baseSets)
    val outDir = run.tempDir("out")
    val delta = run.source(Streaming.docsSchema, Seq(Feed(stage)), "maxFilesPerTrigger" -> "2")
    try run.foreachBatch(delta) { (batch, id) =>
      val ingestT0 = System.nanoTime()
      val bytes0 = StreamPlans.dirBytes(outDir)
      val deltaSets = graft.operators.Dedup.docShinglesOf(batch).persist()
      try {
        val ex = graft.operators.Dedup2.explodeSets(deltaSets)
          .select(col("doc_id").as("d_id"), col("sz").as("sz_d"), col("s"))
        val verdicts =
          graft.operators.Dedup2.incrementalVerdicts(batch.select("doc_id"), ex, baseEx)
        // the per-batch transform is the interesting plan here, and it is
        // invisible to lastExecution (which sees only the source scan)
        StreamPlans.capturePlan(run.gate, verdicts)
        verdicts.write.mode("append").parquet(outDir)
        // one verdict row per ARRIVING doc: appends track the batch,
        // never the standing corpus (asserted by StateInvarianceSpec)
        StreamPlans.recordIngest(run.gate, id,
          StreamPlans.dirBytes(outDir) - bytes0,
          (System.nanoTime() - ingestT0) / 1e9)
      } finally deltaSets.unpersist()
    } finally baseSets.unpersist()
    s.read.parquet(outDir).orderBy($"doc_id")
  }}
  /** The batch operator's oracle over the same bounded corpus slice:
    * stream/batch parity IS the gate. */
  val streamIncrementalDedupSql: String =
    graft.operators.Dedup2.dedupIncrementalSqlWhere(s"doc_id < $DocCutoff")

  // ---------------------------------------------- novelty at ingest
  /** Streaming n-gram novelty: NEW documents arrive through the
    * connector and each micro-batch scores its documents' novelty —
    * the fraction of a document's distinct shingles absent from the
    * STANDING corpus's shingle index — the data-ordering signal
    * ([[graft.operators.Curation3.ngramNovelty]] is the whole-corpus
    * batch form) computed where it is actually needed: at ingest, per
    * arriving document, against the index that already exists.
    *
    * A document's score depends only on (document, standing index), so
    * micro-batch slicing cannot change the result set (the
    * [[streamIncrementalDedup]] batch-invariance discipline;
    * maxFilesPerTrigger=2 forces a genuinely multi-batch run), and the
    * gate hash-compares the streamed scores against batch oracle SQL
    * over the same slice. At 100 TB this is the steady-state shape: the
    * standing index is a materialized table, only the arriving delta
    * re-shingles — and the per-batch meet NEVER moves the index: the
    * batch's distinct shingles broadcast INTO a semi-join against the
    * standing scan, and the delta-bounded "known" subset broadcasts
    * back into the per-doc aggregate (zero shuffle of the corpus side
    * per batch; round-18 respell, before/after in BENCH_NOTES). */
  def streamNgramNovelty(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 8) { StreamRun(s, "stream_ngram_novelty") { run =>
    import s.implicits._
    val corpus = Tables.documents(s, dir).filter($"doc_id" < DocCutoff)
    val stage = stageDeltaDocs(s, dir, run.gate, corpus)

    // standing-corpus distinct-shingle index: a TRAIN-ONCE Models
    // artifact derived from the shared shingle-set artifact (r22;
    // production: a standing table on storage — until r22 both were
    // rebuilt per invocation)
    val prepT0 = System.nanoTime()
    val distDir = graft.operators.Models.root(
        s"stream-shingle-distinct|$dir|lt$DocCutoff|mod5ne0" +
          s"|sh=${graft.operators.Dedup.ShingleSize}" +
          s"|in=${graft.operators.Models.inputFingerprint(s"$dir/documents.parquet")}") { out =>
      graft.operators.Dedup2.explodeSets(
          s.read.parquet(shingleIdxDir(s, dir, corpus)))
        .select($"s").distinct()
        .write.mode("overwrite").parquet(out)
    }
    val baseShingles = s.read.parquet(distDir).persist()
    baseShingles.count() // materialize the pin before the stream races it
    StreamPlans.recordPrep(run.gate, (System.nanoTime() - prepT0) / 1e9)

    val outDir = run.tempDir("out")
    val delta = run.source(Streaming.docsSchema, Seq(Feed(stage)), "maxFilesPerTrigger" -> "2")
    try run.foreachBatch(delta) { (batch, _) =>
      val deltaSets = graft.operators.Dedup.docShinglesOf(batch).persist()
      try {
        // no eager count (the stream_kmv_distinct rationale): the
        // persist boundary blocks tokenizer fusing by itself, and both
        // consumers (the broadcast batch-shingle set and the scored
        // aggregate) materialize inside the one write action below,
        // filling the cache on first touch
        val deltaEx = graft.operators.Dedup2.explodeSets(deltaSets)
        // the standing set is CORPUS-sized and the batch is bounded:
        // never shuffle (or broadcast) the corpus side per batch.
        // Semi-join the standing scan against the BROADCAST batch
        // shingle set — the delta-bounded "known" subset — and
        // broadcast that back into the per-doc novelty aggregate, so
        // each micro-batch costs one columnar scan of the standing
        // set and zero shuffles of it (the stream_cc_delta
        // batch-touched-bucket discipline applied to novelty)
        val deltaS = deltaEx.select(col("s")).distinct()
        val known = baseShingles
          .join(broadcast(deltaS), Seq("s"), "leftsemi")
          .withColumn("known", lit(1))
        val scored = deltaEx
          .join(broadcast(known), Seq("s"), "left")
          .groupBy(col("doc_id"))
          .agg(
            (sum(when(col("known").isNull, 1L).otherwise(0L)).cast("double")
              / count(lit(1))).as("novelty"),
            count(lit(1)).as("n_shingles"))
        StreamPlans.capturePlan(run.gate, scored)
        scored.write.mode("append").parquet(outDir)
      } finally deltaSets.unpersist()
    } finally baseShingles.unpersist()
    s.read.parquet(outDir).orderBy($"doc_id")
  }}
  /** Batch oracle over the same slice: delta docs' shingles LEFT-joined
    * against the standing corpus's distinct shingle set. */
  val streamNgramNoveltySql: String =
    s"""WITH ${graft.operators.Dedup.shingleCteSql(s"doc_id < $DocCutoff")},
       |base AS (SELECT DISTINCT s FROM ex WHERE doc_id % 5 <> 0)
       |SELECT e.doc_id,
       |  CAST(SUM(CASE WHEN b.s IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS novelty,
       |  COUNT(*) AS n_shingles
       |FROM ex e LEFT JOIN base b ON e.s = b.s
       |WHERE e.doc_id % 5 = 0
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  /** Full documents table staged as 3 hash-partitioned files and read
    * 1 per trigger (the 3-micro-batch feed shared by the
    * chunk/cascade/kmv rows). */
  private def docs3(s: SparkSession, dir: String, run: StreamRun): DataFrame = {
    val stage = StageCache.dir(run.gate, s"$dir|docs|hash:3:doc_id",
        Seq(s"$dir/documents.parquet")) { out =>
      Tables.documents(s, dir).repartition(3, col("doc_id"))
        .write.mode("overwrite").parquet(out)
    }
    run.source(Streaming.docsSchema, Seq(Feed(stage)), "maxFilesPerTrigger" -> "1")
  }

  // ---------------------------------------------------- chunk at ingest
  /** Streaming RAG chunking: documents arrive through the push-based
    * source (3 staged files, 1 per trigger ⇒ 3 micro-batches) and are
    * chunked by the SAME narrow-map expressions as the batch operator
    * ([[graft.operators.PipelineOps.chunkDocuments]]). The pipeline is
    * stateless — no watermark, no state store — so exactly-once chunk
    * delivery reduces entirely to the source's admission control, and
    * the accumulated sink must hash-equal batch chunking of the same
    * table: the gate row shares `chunk_documents`' DuckDB oracle. This
    * is the shape chunking deploys as at 100 TB — chunk-at-ingest on
    * the stream, each document chunked exactly once as it lands, not a
    * second full-corpus pass after the fact. */
  def streamChunkDocuments(s: SparkSession, dir: String): DataFrame =
      StreamRun(s, "stream_chunk_documents") { run =>
    import s.implicits._
    val chunks = graft.operators.PipelineOps.chunks(docs3(s, dir, run))
    run.memory(chunks, "append").orderBy($"doc_id", $"chunk_id")
  }

  // ------------------------------------------- attrition at ingest
  /** Streaming quality-filter cascade: documents arrive through the push
    * source (3 staged files, 1 per trigger ⇒ 3 micro-batches); each
    * micro-batch runs the SAME verdict logic as the batch operator
    * ([[graft.operators.Curation.cascadeVerdictAgg]]) and appends its
    * per-rule aggregates; the final report merges them (count/sum/min
    * are associative, so batch slicing cannot change the table) and must
    * hash-equal the batch cascade of the same corpus — the gate row
    * shares `filter_cascade`'s DuckDB oracle. This is the attrition
    * accounting a production ingest pipeline keeps LIVE: the report is
    * incrementally maintained as data lands, not recomputed. Per-batch
    * output is batch-id-addressed and overwritten (the idempotent-sink
    * pattern `ScalePatternsSpec` pins), so a retried micro-batch cannot
    * double-count its slice. */
  def streamFilterCascade(s: SparkSession, dir: String): DataFrame =
      StreamRun(s, "stream_filter_cascade") { run =>
    import s.implicits._
    val outDir = run.tempDir("out")
    run.foreachBatch(docs3(s, dir, run)) { (batch, id) =>
      val agg = graft.operators.Curation.cascadeVerdictAgg(batch)
      StreamPlans.capturePlan(run.gate, agg)
      // batch-id-addressed + overwrite: a retried micro-batch replaces
      // its own directory instead of double-counting the attrition
      agg.write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }
    val merged = s.read.parquet(outDir).groupBy($"rule")
      .agg(sum($"n_docs").as("n_docs"), sum($"n_chars").as("n_chars"),
        min($"first_doc").as("first_doc"))
    graft.operators.Curation.cascadeReport(merged)
  }

  // ------------------------------------------ mergeable sketch at ingest
  /** Streaming KMV distinct-estimation: documents arrive through the
    * push source (3 staged files, 1 per trigger ⇒ 3 micro-batches), each
    * micro-batch reduces its slice to per-source KMV sketches (≤ K rows
    * per source — the [[graft.operators.Sketches]] sketch), and the
    * final estimate comes from the MERGED sketch. This is the live form
    * of cardinality accounting a 100 TB ingest keeps: per-batch state is
    * bounded at K×#sources rows regardless of corpus size, and the merge
    * (K smallest of the distinct union) is associative, commutative AND
    * idempotent — so micro-batch slicing cannot change the result (the
    * batch-invariance law every streaming gate here pins), and a retried
    * batch's re-appended sketch dedupes away instead of corrupting the
    * estimate. The oracle replays the same sketch over the whole corpus
    * in DuckDB, bit-for-bit (md5-prefix hashes — the Sketches trick). */
  def streamKmvDistinct(s: SparkSession, dir: String): DataFrame =
      Streaming.withStateShuffle(s, 8) { StreamRun(s, "stream_kmv_distinct") { run =>
    import s.implicits._
    import graft.operators.{Dedup, Sketches}
    StreamPlans.resetIngest(run.gate)
    val outDir = run.tempDir("out")
    val K = Sketches.K
    run.foreachBatch(docs3(s, dir, run)) { (batch, id) =>
      val ingestT0 = System.nanoTime()
      val bytes0 = StreamPlans.dirBytes(outDir)
      val sets = Dedup.docShinglesOf(batch).persist()
      try {
        // no eager count: the persist boundary alone is the
        // anti-fusing barrier docShinglesOf requires (InMemoryRelation
        // enters the plan at analysis, materialized or not), and the
        // sketch write below is the batch's one consumer — the old
        // count was one extra full job per micro-batch
        // md5-prefix 32-bit hash of the shingle STRING — must match
        // Sketches.sourceHashes so the merged sketch replays in DuckDB
        val hashed = sets.select(col("doc_id"), explode(col("sh")).as("sg"))
          .join(batch.select(col("doc_id"), col("source")), "doc_id")
          .select(col("source"),
            Parity.md5Key(col("sg"), 8).as("h"))
          .distinct()
        val w = Window.partitionBy(col("source")).orderBy(col("h"))
        val sketch = hashed.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= K).select(col("source"), col("h"))
        StreamPlans.capturePlan(run.gate, sketch)
        sketch.write.mode("append").parquet(outDir)
        // the sketch invariant: each batch appends <= K x #sources
        // rows no matter how big the batch — SKETCH-bounded, not
        // batch- or history-proportional (StateInvarianceSpec pins it)
        StreamPlans.recordIngest(run.gate, id,
          StreamPlans.dirBytes(outDir) - bytes0,
          (System.nanoTime() - ingestT0) / 1e9)
      } finally sets.unpersist()
    }
    // merge: K smallest of the distinct union of the per-batch sketches
    val w = Window.partitionBy($"source").orderBy($"h")
    s.read.parquet(outDir).distinct()
      .withColumn("rk", row_number().over(w)).filter($"rk" <= K)
      .groupBy($"source")
      .agg(count(lit(1)).as("sketch_n"),
        max(when($"rk" === K, $"h")).as("kth"))
      .withColumn("est_distinct",
        when($"sketch_n" >= K, expr(s"(${K - 1} * 4294967296) div kth"))
          .otherwise($"sketch_n"))
      .select($"source", $"sketch_n", $"est_distinct")
      .orderBy($"source")
  }}
  /** Batch replay: the same K-smallest sketch per source over the whole
    * corpus — equal to the streamed merge because KMV merge is exactly
    * "K smallest of the distinct union". */
  val streamKmvDistinctSql: String = {
    val K = graft.operators.Sketches.K
    s"""WITH ${graft.operators.Dedup.shingleCteSql("")},
       |sh32 AS (
       |  SELECT DISTINCT d.source, ${Parity.md5KeySql("e.s", 8)} AS h
       |  FROM ex e JOIN documents d ON e.doc_id = d.doc_id),
       |rk AS (
       |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk FROM sh32),
       |st AS (
       |  SELECT source, COUNT(*) FILTER (WHERE rk <= $K) AS sketch_n,
       |    MAX(CASE WHEN rk = $K THEN h END) AS kth
       |  FROM rk GROUP BY source)
       |SELECT source, CAST(sketch_n AS BIGINT) AS sketch_n,
       |  CAST(CASE WHEN sketch_n >= $K THEN (${K - 1} * 4294967296) // kth
       |       ELSE sketch_n END AS BIGINT) AS est_distinct
       |FROM st ORDER BY source""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("stream_kmv_distinct", streamKmvDistinct _, streamKmvDistinctSql),
    QueryDef("stream_session_window", streamSessionWindow _, streamSessionWindowSql),
    QueryDef("stream_stream_join", streamStreamJoin _, streamStreamJoinSql),
    QueryDef("stream_mgws_session", streamMgwsSession _, streamMgwsSessionSql),
    QueryDef("stream_incremental_dedup", streamIncrementalDedup _, streamIncrementalDedupSql),
    QueryDef("stream_ngram_novelty", streamNgramNovelty _, streamNgramNoveltySql),
    // stateless parity: the stream must land exactly the batch chunker's
    // rows, so it shares chunk_documents' oracle verbatim
    QueryDef("stream_chunk_documents", streamChunkDocuments _,
      graft.operators.PipelineOps.chunkDocumentsSql),
    // merged per-batch aggregates must equal the batch cascade exactly
    // (associative merge), so it shares filter_cascade's oracle verbatim
    QueryDef("stream_filter_cascade", streamFilterCascade _,
      graft.operators.Curation.filterCascadeSql),
  )
}
