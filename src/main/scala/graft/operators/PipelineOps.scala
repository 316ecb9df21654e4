package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.functions.Parity.{md5Key, md5KeySql, normalizedSql, tokens, tokensSql}
import graft.queries.Tables

/** Training-data pipeline operators beyond dedup/similarity: deterministic
  * train/val splitting, sequence packing, tf-idf term ranking, PII
  * redaction, and embedding quantization.
  *
  * Scale notes, per operator:
  *  - split: a pure map over md5(doc_id) — embarrassingly parallel, no
  *    shuffle, and stable under re-runs / re-partitioning (the split of a
  *    document never depends on which other documents are present).
  *  - packing: a global prefix sum. A naive `Window.orderBy(doc_id)`
  *    funnels the whole corpus through ONE task; instead this runs the
  *    classic two-phase scan — per-range-partition running sums in
  *    parallel, then a tiny per-partition-totals pass (#partitions rows)
  *    computes the offsets that make them global.
  *  - tf-idf: two hash aggregations (term frequency, document frequency)
  *    plus an equi-join on term. Document-frequency skew (stopwords) is
  *    the known hazard at 100 TB; the df side is term-level (vocabulary-
  *    sized, zipf-bounded) so the join broadcasts once vocab << corpus.
  *  - redaction: a pure regexp map, codegen'd, no shuffle.
  *  - quantization: a pure per-vector map (min/max + transform), no
  *    shuffle; int8 output shrinks the shuffle/storage footprint of every
  *    downstream consumer by 4x, which is the point of the operator.
  */
object PipelineOps {
  // ------------------------------------------------------- train/val split
  /** Deterministic 90/10 split on md5(doc_id): the first 4 hex digits form
    * a uniform 16-bit bucket; bucket %% 100 < 90 ⇒ train. Content-
    * independent, so re-ingesting a changed document never flips its
    * split (no train/val leakage across dataset versions). */
  def splitTrainVal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("bucket",
        pmod(md5Key($"doc_id", 4), lit(100L)))
      .withColumn("split", when($"bucket" < 90, "train").otherwise("val"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"),
        min($"doc_id").as("first_doc"))
      .orderBy($"split")
  }
  val splitTrainValSql: String =
    s"""SELECT CASE WHEN ${md5KeySql("doc_id", 4)} % 100 < 90
      |            THEN 'train' ELSE 'val' END AS split,
      |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars, MIN(doc_id) AS first_doc
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  // ------------------------------------------------------ prefix sum
  /** The distributed prefix sum of the `ntok` column in `order`, shared
    * by [[packSequences]], [[budgetSelect]] and the shard planners: range
    * partition on `order`, cumsum inside each partition in parallel, then
    * lift to global with per-partition offsets (a #partitions-row
    * aggregate, broadcast back). `finish` receives every row with its
    * inclusive global running sum `cum`. The scan width follows the
    * cluster, not a constant: the result is partition-count-invariant.
    *
    * One lifecycle: the partial sums are persisted, because both the
    * offsets pass and the final join read them and the range partitioner
    * samples its boundaries per evaluation (a recompute could re-draw them
    * and skew pid against the offsets table); `finish`'s result is then
    * forced into an eager local checkpoint while that cache is live, and
    * the cache is released before return. */
  private[graft] def prefixSum(docs: DataFrame, order: Column*)(
      finish: DataFrame => DataFrame): DataFrame = {
    val nPart = math.max(2, docs.sparkSession.sparkContext.defaultParallelism)
    val wIn = Window.partitionBy(col("pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = docs.repartitionByRange(nPart, order: _*)
      .withColumn("pid", spark_partition_id())
      .withColumn("local_cum", sum(col("ntok")).over(wIn)).persist()
    try {
      // per-partition totals -> exclusive prefix = global offset of each pid
      val wOff = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
      val offsets = withLocal.groupBy(col("pid")).agg(sum(col("ntok")).as("ptot"))
        .withColumn("offset", coalesce(sum(col("ptot")).over(wOff), lit(0L)))
        .select(col("pid"), col("offset"))
      finish(withLocal.join(broadcast(offsets), "pid")
          .withColumn("cum", col("local_cum") + col("offset")))
        .localCheckpoint(true)
    } finally withLocal.unpersist()
  }

  // ------------------------------------------------------ sequence packing
  /** Pack the doc_id-ordered token stream into fixed 2048-token context
    * windows: each document belongs to the window its first token falls
    * in. Needs the global prefix sum of token counts ([[prefixSum]] over
    * doc_id). Output is per-pack stats. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ctx = 2048L
    prefixSum(Tables.documents(s, d)
        .select($"doc_id", size(tokens($"text")).cast("long").as("ntok")), $"doc_id") {
      _.withColumn("pack_id", expr(s"(cum - ntok) div $ctx"))
        .groupBy($"pack_id")
        .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"),
          min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
        .orderBy($"pack_id")
    }
  }
  val packSequencesSql: String =
    raw"""SELECT pack_id, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM (
         |  SELECT doc_id, ntok, (CAST(cum AS BIGINT) - ntok) // 2048 AS pack_id
         |  FROM (
         |    SELECT doc_id, ntok, SUM(ntok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |    FROM (SELECT doc_id,
         |            CAST(len(${tokensSql("text")}) AS BIGINT) AS ntok
         |          FROM documents)))
         |GROUP BY pack_id ORDER BY pack_id""".stripMargin

  // ------------------------------------------- token-budget selection
  /** Quality-ordered corpus selection under a global token budget: "take
    * the best documents until [[BudgetTokens]] tokens" — the curation
    * step that turns a scored crawl into a right-sized training mix.
    * Quality here is the distinct-token count (an exact integer, so both
    * engines rank identically; a model-based scorer would slot into the
    * same column), ties broken by doc_id.
    *
    * The cutoff needs the GLOBAL running token sum in quality order —
    * the same prefix-sum problem as [[packSequences]], solved the same
    * scalable way but over a DIFFERENT sort key: range-partition by
    * (quality DESC, doc_id), cumsum within each partition in parallel,
    * lift to global with the #partitions-row offsets table, then the
    * budget test is a pure map. No global single-task sort anywhere; at
    * 100 TB the selection costs one range shuffle of (id, two longs). */
  private[graft] val BudgetTokens = 10000L
  def budgetSelect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    prefixSum(Tables.documents(s, d)
        .select($"doc_id",
          size(array_distinct(tokens($"text"))).cast("long").as("quality"),
          size(tokens($"text")).cast("long").as("ntok")),
        $"quality".desc, $"doc_id") {
      _.filter($"cum" <= BudgetTokens)
        .select($"doc_id", $"quality", $"ntok", $"cum")
        .orderBy($"cum")
    }
  }
  val budgetSelectSql: String =
    raw"""SELECT doc_id, quality, ntok, CAST(cum AS BIGINT) AS cum
         |FROM (
         |  SELECT doc_id, quality, ntok,
         |    SUM(ntok) OVER (ORDER BY quality DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM (SELECT doc_id,
         |          CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS quality,
         |          CAST(len(${tokensSql("text")}) AS BIGINT) AS ntok
         |        FROM documents))
         |WHERE cum <= $BudgetTokens ORDER BY cum""".stripMargin

  // ------------------------------------------------------------- tf-idf
  /** Top-3 terms per document by tf-idf. Since the corpus size N is a
    * constant per query, ranking by tf/df is ranking by tf-idf (any
    * monotone idf); the exact integer ratio avoids engine-specific
    * log(double) last-ulp drift. Ties break on the term itself. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Par.spread(Tables.documents(s, d), $"doc_id")
      .select($"doc_id", explode(tokens(lower($"text"))).as("term"))
      .filter($"term" =!= "")
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy($"doc_id")
      .orderBy(($"tf".cast("double") / $"df").desc, $"term".asc)
    tf.join(df, "term")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"doc_id", $"rk", $"term", $"tf", $"df")
      .orderBy($"doc_id", $"rk")
  }
  val tfidfTopTermsSql: String =
    raw"""WITH terms AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS term
         |    FROM documents) WHERE term <> ''
         |), tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
         |), df AS (
         |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
         |)
         |SELECT doc_id, rk, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
         |FROM (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rk
         |  FROM tf JOIN df USING (term))
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // --------------------------------------------------------- PII redaction
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val DigitRunRe = "\\d{3,}"

  /** Scrub emails and long digit runs (id/phone-shaped) from text; report
    * how many of each were removed. Pure codegen'd regexp map — the shape
    * that runs at ingest over the full corpus. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        regexp_replace(regexp_replace($"text", EmailRe, "<EMAIL>"), DigitRunRe, "<NUM>")
          .as("clean_text"),
        (size(split($"text", EmailRe, -1)) - 1).as("n_emails"),
        (size(split($"text", DigitRunRe, -1)) - 1).as("n_digit_runs"))
      .orderBy($"doc_id")
  }
  val piiRedactSql: String =
    raw"""SELECT doc_id,
         |  regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\d{3,}', '<NUM>', 'g') AS clean_text,
         |  len(regexp_split_to_array(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_emails,
         |  len(regexp_split_to_array(text, '\d{3,}')) - 1 AS n_digit_runs
         |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- int8 quantization
  /** Per-vector min/max scalar quantization of embeddings to int8 range
    * [0, 255]: q = round((x - mn) * 255 / (mx - mn)). mn/mx ride as
    * materialized attributes so the lambda does not recompute the
    * array_min per element. Degenerate (constant) vectors quantize to 0.
    * The gate projects the quantized vector as a CSV string (`q_csv`):
    * the driver's comparator sorts result columns with pandas, which
    * cannot hash array cells — semantics are unchanged (the string is a
    * bijection of the int array). */
  def embQuantizeInt8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .withColumn("mn", array_min($"embedding").cast("double"))
      .withColumn("mx", array_max($"embedding").cast("double"))
      .select($"vec_id", $"mn", $"mx",
        array_join(transform($"embedding", x =>
          when($"mx" === $"mn", lit(0))
            .otherwise(round((x.cast("double") - $"mn") * 255 / ($"mx" - $"mn")).cast("int"))
            .cast("string")), ",")
          .as("q_csv"))
      .orderBy($"vec_id")
  }
  val embQuantizeInt8Sql: String =
    """SELECT vec_id, mn, mx,
      |  array_to_string(list_transform(embedding, x -> CASE WHEN mx = mn THEN 0
      |    ELSE CAST(round((CAST(x AS DOUBLE) - mn) * 255 / (mx - mn)) AS INTEGER) END), ',') AS q_csv
      |FROM (SELECT vec_id, embedding,
      |        CAST(list_min(embedding) AS DOUBLE) AS mn,
      |        CAST(list_max(embedding) AS DOUBLE) AS mx
      |      FROM embeddings)
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ source mixing
  /** Deterministic weighted mixture sampling — the "data mixing" step of
    * a training pipeline: each source gets a sampling weight (here a
    * fixed function of the source id: 25/50/75/100%), and a document
    * survives iff its content-independent md5 bucket clears the source's
    * threshold. Pure map + one aggregate; re-runs and re-partitions
    * cannot change which documents are sampled, so mixtures are
    * reproducible across dataset versions. */
  def mixWeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucket =
      pmod(md5Key($"doc_id", 4), lit(100L))
    // digitless source names extract '' -> null cast; define them as weight
    // (0 % 4 + 1) * 25 instead of silently never sampling. The digit run is
    // capped at 18 chars BEFORE the cast (18 digits always fit in a signed
    // 64-bit int): an overflowing run would go null under Spark's cast but
    // 0 under DuckDB's TRY_CAST+COALESCE — capping makes both engines see
    // the same in-range number, so the parity is by construction, not luck
    val thresh =
      (pmod(substring(coalesce(nullif(regexp_extract($"source", "(\\d+)", 1), lit("")),
        lit("0")), 1, 18).cast("long"), lit(4L)) + 1) * 25L
    Tables.documents(s, d)
      .withColumn("keep", bucket < thresh)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_sampled"),
        sum(when($"keep", $"n_chars").otherwise(0L)).as("chars_sampled"))
      .orderBy($"source")
  }
  val mixWeightedSampleSql: String =
    raw"""SELECT source, COUNT(*) AS n_total,
         |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         |  CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_sampled
         |FROM (SELECT source, n_chars,
         |        ${md5KeySql("doc_id", 4)} % 100
         |          < (TRY_CAST(substring(COALESCE(NULLIF(regexp_extract(source, '(\d+)', 1), ''), '0'), 1, 18) AS BIGINT) % 4 + 1) * 25 AS keep
         |      FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------- corpus stats
  /** Per-source corpus health report — the summary a pipeline operator
    * watches after each ingest: volume, token mass, exact-dup pressure
    * (docs minus distinct texts), language spread. One hash aggregate;
    * count_distinct over full text uses the same 32-byte sha2 shuffle
    * trick as exact dedup so text bodies never shuffle. */
  def corpusStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source", $"lang", $"n_chars",
        sha2($"text", 256).as("th"),
        size(tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ntok").as("n_tokens"),
        sum($"n_chars").as("n_chars"),
        (count(lit(1)) - countDistinct($"th")).as("n_exact_dups"),
        countDistinct($"lang").as("n_langs"))
      .orderBy($"source")
  }
  val corpusStatsSql: String =
    raw"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  COUNT(*) - COUNT(DISTINCT text) AS n_exact_dups,
         |  COUNT(DISTINCT lang) AS n_langs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------ training order
  private val OrderSeed = "epoch1"
  private val NShards = 8

  /** Deterministic training-order layout: every document hashes (with an
    * epoch seed) to a 60-bit key; the key's low bits pick one of
    * [[NShards]] shards and the key orders documents WITHIN each shard.
    * That is exactly how shuffled training shards are laid out at scale —
    * and deliberately NOT a global row_number, which would funnel the
    * corpus through one window task. Per-shard windows run in parallel;
    * changing the seed reshuffles everything reproducibly.
    *
    * Output: doc pointer, shard, position-in-shard — the manifest a data
    * loader consumes. */
  def trainOrder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val key = md5Key(concat(lit(OrderSeed + ":"), $"doc_id".cast("string")), 15)
    Tables.documents(s, d)
      .select($"doc_id", $"source", key.as("k"))
      .withColumn("shard", pmod($"k", lit(NShards.toLong)))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shard").orderBy($"k", $"doc_id")))
      .select($"doc_id", $"source", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }
  val trainOrderSql: String =
    s"""SELECT doc_id, source, shard, CAST(pos AS INT) AS pos FROM (
       |  SELECT doc_id, source, k % $NShards AS shard,
       |    ROW_NUMBER() OVER (PARTITION BY k % $NShards ORDER BY k, doc_id) AS pos
       |  FROM (SELECT doc_id, source,
       |          ${md5KeySql(s"concat('$OrderSeed:', CAST(doc_id AS VARCHAR))", 15)} AS k
       |        FROM documents))
       |ORDER BY shard, pos""".stripMargin

  // ------------------------------------------------------ RAG chunking
  /** Fixed-window document chunking with overlap — the retrieval-corpus
    * preparation step (RAG indexes, context-window packing, embedding
    * inputs all consume chunks, not documents). Window 200 chars, step
    * 150 (50-char overlap so no boundary sentence is lost to both
    * neighbors); chunk ids derive arithmetically from the start offset,
    * so they are stable under any recomputation.
    *
    * Scale: the entire operator is a narrow map — `sequence` builds each
    * doc's start offsets, `explode` fans them out, `substr` slices; no
    * shuffle anywhere (the gate's ORDER BY is presentation only), all
    * codegen'd builtins, so it pipelines at scan speed over 100 TB and
    * the output partitioning simply inherits the input's. The classic
    * failure spelling — collecting texts to a driver-side chunker or a
    * per-row UDF returning Seq — loses both codegen and the ability to
    * push the explode below later projections. */
  private[graft] val ChunkWindow = 200
  private[graft] val ChunkStep = 150 // = window - overlap(50)
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    chunks(Tables.documents(s, d)).orderBy(col("doc_id"), col("chunk_id"))

  /** The chunking map over `(doc_id, text)` rows; shared with the
    * streaming twin. */
  private[graft] def chunks(docs: DataFrame): DataFrame = {
    val (text, start) = (col("text"), col("start"))
    docs
      .select(col("doc_id"), text,
        explode(sequence(lit(1), greatest(length(text), lit(1)), lit(ChunkStep)))
          .as("start"))
      .select(col("doc_id"),
        ((start - 1) / ChunkStep).cast("long").as("chunk_id"),
        start.cast("long").as("char_start"),
        text.substr(start, lit(ChunkWindow)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
  }
  val chunkDocumentsSql: String =
    s"""SELECT doc_id,
       |  CAST((t.gs - 1) / $ChunkStep AS BIGINT) AS chunk_id,
       |  CAST(t.gs AS BIGINT) AS char_start,
       |  substr(text, CAST(t.gs AS INTEGER), $ChunkWindow) AS chunk_text,
       |  CAST(length(substr(text, CAST(t.gs AS INTEGER), $ChunkWindow)) AS BIGINT) AS chunk_len
       |FROM documents,
       |  UNNEST(generate_series(1, greatest(length(text), 1), $ChunkStep)) AS t(gs)
       |ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------ stratified sampling
  /** Exact-N-per-stratum deterministic sample: the top [[StratumN]] rows
    * of each event_type ordered by md5(event_id) — a content-stable
    * pseudo-random order, so the sample never changes across re-runs or
    * repartitioning (eval sets and human-review draws must be
    * reproducible).
    *
    * Scale: a single `Window.partitionBy(stratum)` is the trap spelling
    * — with few strata it funnels each stratum's ENTIRE data through one
    * task (same hazard q48 demonstrates for joins). This runs the
    * salted two-phase top-N instead: phase 1 takes top-N per
    * (stratum, salt) over [[StratumSalts]] salts — parallelism ×salts,
    * every true top-N row is necessarily in its own bucket's top-N —
    * then phase 2's window sees only salts×N candidate rows per
    * stratum, a constant, regardless of corpus size. */
  private[graft] val StratumN = 20
  private[graft] val StratumSalts = 16
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select($"event_type", $"event_id", md5($"event_id".cast("string")).as("h"))
    val phase1 = Window
      .partitionBy($"event_type", pmod(xxhash64($"event_id"), lit(StratumSalts.toLong)))
      .orderBy($"h", $"event_id")
    val candidates = ev
      .withColumn("rn1", row_number().over(phase1))
      .filter($"rn1" <= StratumN).drop("rn1")
    val phase2 = Window.partitionBy($"event_type").orderBy($"h", $"event_id")
    candidates
      .withColumn("sample_rank", row_number().over(phase2).cast("long"))
      .filter($"sample_rank" <= StratumN)
      .select($"event_type", $"sample_rank", $"event_id", $"h")
      .orderBy($"event_type", $"sample_rank")
  }
  val stratifiedSampleSql: String =
    s"""SELECT event_type, CAST(rn AS BIGINT) AS sample_rank, event_id, h
       |FROM (SELECT event_type, event_id, md5(CAST(event_id AS VARCHAR)) AS h,
       |        row_number() OVER (PARTITION BY event_type
       |          ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
       |      FROM events)
       |WHERE rn <= $StratumN ORDER BY event_type, sample_rank""".stripMargin

  // ------------------------------------------------ split leakage audit
  /** Train/val split-leakage audit: documents whose normalized text is
    * byte-identical on BOTH sides of the [[splitTrainVal]] boundary — the
    * dataset-hygiene check a pipeline runs after every re-ingest, because
    * a duplicated document whose copies hash to different splits silently
    * leaks val into train. Reports one row per leaked content group:
    * representative doc_id, members on each side.
    *
    * GATE STAGING (same discipline as `dedup_embedding_cosine_gate`): the
    * synthetic corpus has zero exact-duplicate texts, so the raw-corpus
    * report is empty and would prove nothing. The operator therefore runs
    * on the corpus plus deterministic copies (doc_id + 1,000,000 of ids
    * < 60); each copy lands in whatever split its NEW id hashes to, so
    * ~18% of groups straddle the boundary — a non-vacuous expected set
    * the oracle replays exactly.
    *
    * Scale shape: one hash aggregation keyed by the 64-bit content
    * fingerprint (8-byte shuffle key, never the text; the oracle groups
    * by the normalized string itself, so a fingerprint collision would
    * surface as a gate mismatch — same argument as
    * `text_fingerprint_groups`). The split flag is a pure map. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"text")
    val staged = docs.unionByName(
      docs.filter($"doc_id" < 60).select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    val bucket = pmod(md5Key($"doc_id", 4), lit(100L))
    staged
      .withColumn("is_train", bucket < 90)
      .groupBy(graft.functions.TextFunctions.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("rep_id"),
        sum(when($"is_train", 1L).otherwise(0L)).as("n_train"),
        sum(when(!$"is_train", 1L).otherwise(0L)).as("n_val"))
      .filter($"n_train" > 0 && $"n_val" > 0)
      .select($"rep_id", $"n_train", $"n_val")
      .orderBy($"rep_id")
  }
  val splitLeakageSql: String =
    raw"""WITH staged AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 60
         |), flagged AS (
         |  SELECT doc_id, text,
         |    ${md5KeySql("doc_id", 4)} % 100 < 90 AS is_train
         |  FROM staged
         |), grouped AS (
         |  SELECT MIN(doc_id) AS rep_id,
         |    CAST(SUM(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(SUM(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_val
         |  FROM flagged
         |  GROUP BY ${normalizedSql("text")})
         |SELECT rep_id, n_train, n_val FROM grouped
         |WHERE n_train > 0 AND n_val > 0 ORDER BY rep_id""".stripMargin

  // -------------------------------------------- domain soft-cap sampling
  /** Temperature-style domain rebalancing: any language ("domain") with
    * more than [[DomainCap]] documents is downsampled with acceptance
    * rate sqrt([[DomainCap]] / count) — i.e. p_keep proportional to
    * count^(alpha-1) with alpha = 0.5, the soft cap that flattens
    * over-represented domains without truncating them to an exact quota.
    * Acceptance is deterministic per document (md5 bucket of doc_id, the
    * same content-stable trick as [[splitTrainVal]]): a document's fate
    * never depends on which other documents share its partition, so
    * re-runs and repartitioning reproduce the identical sample.
    *
    * Output is the attrition report per domain: incoming docs, kept docs,
    * kept chars, first kept doc (null when a domain keeps nothing).
    *
    * Scale shape: one tiny per-domain count (hash agg, domain-sized
    * output) broadcast back onto the corpus, then a pure map filter and a
    * second domain-sized hash agg — the corpus itself never shuffles.
    * The rate is sqrt of one IEEE division of exact integers (both
    * exactly rounded), so the accept decision is bit-identical across
    * engines. */
  private[graft] val DomainCap = 100
  def domainCapSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n_in"))
    // ONE verdict pass: the accept flag and the report ride the same
    // conditional aggregation, so the corpus is scanned exactly twice
    // (tiny counts agg + this) — no post-filter regroup, no report-side
    // re-join, and a domain that keeps nothing still reports (its
    // conditional aggregates go to 0/NULL naturally)
    val accept =
      md5Key($"doc_id", 4).cast("double") / 65536.0 <
        least(lit(1.0), sqrt(lit(DomainCap.toDouble) / $"n_in"))
    docs.join(broadcast(counts), "lang")
      .groupBy($"lang", $"n_in")
      .agg(sum(when(accept, 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(accept, $"n_chars")), lit(0L)).as("chars_kept"),
        min(when(accept, $"doc_id")).as("first_kept"))
      .select($"lang", $"n_in", $"n_kept", $"chars_kept", $"first_kept")
      .orderBy($"lang")
  }
  val domainCapSampleSql: String =
    s"""WITH counts AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_in FROM documents GROUP BY lang
       |), flagged AS (
       |  SELECT d.lang, c.n_in, d.doc_id, d.n_chars,
       |    CAST(${md5KeySql("d.doc_id", 4)} AS DOUBLE) / 65536.0
       |      < least(1.0, sqrt($DomainCap.0 / c.n_in)) AS accept
       |  FROM documents d JOIN counts c ON d.lang = c.lang)
       |SELECT lang, n_in,
       |  CAST(SUM(CASE WHEN accept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(COALESCE(SUM(CASE WHEN accept THEN n_chars END), 0) AS BIGINT) AS chars_kept,
       |  MIN(CASE WHEN accept THEN doc_id END) AS first_kept
       |FROM flagged GROUP BY lang, n_in
       |ORDER BY lang""".stripMargin

  // ----------------------------------------------------------------
  val rows: Seq[QueryDef] = Seq(
    QueryDef("split_leakage", splitLeakage _, splitLeakageSql),
    QueryDef("domain_cap_sample", domainCapSample _, domainCapSampleSql),
    QueryDef("budget_select", budgetSelect _, budgetSelectSql),
    QueryDef("chunk_documents", chunkDocuments _, chunkDocumentsSql),
    QueryDef("stratified_sample", stratifiedSample _, stratifiedSampleSql),
    QueryDef("split_train_val", splitTrainVal _, splitTrainValSql),
    QueryDef("pack_sequences", packSequences _, packSequencesSql),
    QueryDef("tfidf_top_terms", tfidfTopTerms _, tfidfTopTermsSql),
    QueryDef("pii_redact", piiRedact _, piiRedactSql),
    QueryDef("emb_quantize_int8", embQuantizeInt8 _, embQuantizeInt8Sql),
    QueryDef("mix_weighted_sample", mixWeightedSample _, mixWeightedSampleSql),
    QueryDef("corpus_stats", corpusStats _, corpusStatsSql),
    QueryDef("train_order", trainOrder _, trainOrderSql),
  )
}
