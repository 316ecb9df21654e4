package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{dotSql, md5Key, md5KeySql, tokens, tokensSql}
import graft.queries.Tables

/** Embedding-space corpus curation — the quality/selection steps a
  * training pipeline runs over the embedding table after dedup:
  * outlier removal (drop vectors far from their group's centroid — the
  * mislabeled/garbage-text detector) and diversity sampling (a coreset
  * that covers every region of embedding space instead of oversampling
  * the dense core).
  *
  * Both are engine-exact by construction. The outlier distance is
  * computed entirely in fixed-point integers (quantize once, then only
  * integer +/×), so Spark and DuckDB agree bit-for-bit with no float
  * rounding seam; the outlier RULE is rank-based (top 1/20 by distance
  * within the group, integer-division ceiling), never a float threshold
  * a last-ulp could flip. The diversity sample reuses the IVF coarse
  * quantizer's md5-ranked centroid sample and 6dp-rounded assignment
  * ([[Similarity.ivfCentroids]]/[[Similarity.ivfAssign]]), the same
  * deterministic spellings the ANN rows already hash-gate.
  */
object Curation7 {

  /** Fixed-point scale for outlier distances. With |x| <= ~0.6 (observed
    * embedding range), |fx| <= ~2.5e3; delta = fx·n − Σfx is bounded by
    * 2·2.5e3·n, so Σ_dim delta² fits i64 for group sizes up to ~6e4 —
    * far above any per-label slice the gate or bench stages. At cluster
    * scale the same shape holds per GROUP (the stats frame is
    * K·dim rows broadcast); a corpus whose single group exceeds ~6e4
    * vectors should raise the quantizer scale check in the spec. */
  private[graft] val OutlierQ = 4096.0

  /** Outlier fraction: top 1/OutlierDen per group by centroid distance. */
  private[graft] val OutlierDen = 20

  /** Diversity sample size (and the per-cell cap: one cell can supply at
    * most the whole sample when every other cell is empty). */
  private[graft] val DiversityK = 200


  // ------------------------------------------------ embedding outliers
  /** Per-label centroid-distance outliers (`emb_outlier`): for each
    * label group, the squared distance of every vector to the group
    * centroid, and a flag on the top 1/20 by distance — the vectors
    * least like their group, i.e. the mislabel/garbage candidates an
    * embedding-quality pass would drop before training.
    *
    * Engine-exactness: quantize each coordinate ONCE (fx = round(x·Q)),
    * then d2n = Σ_pos (fx·n − Σfx)² is pure integer arithmetic — it
    * equals n²·Q²·‖x − μ‖² exactly, so ranking by d2n ranks by true
    * centroid distance with zero float divergence between engines. The
    * flag is rank-based with an integer-division ceiling, not a float
    * threshold.
    *
    * Scale shape: one narrow explode (map), a (label,pos) aggregate of
    * K·dim rows broadcast back onto the exploded stream (map-side
    * join), a per-vector partial-aggregated sum (exploded rows of one
    * vector are co-located, so the combine is local), and a window over
    * labels. The only data-sized shuffles key on vec_id and label. */
  def embOutlier(s: SparkSession, d: String): DataFrame =
    embOutlierOf(Tables.embeddings(s, d))

  /** The kernel over an explicit embeddings frame (`vec_id, embedding,
    * label`) — lets the headroom spec inject a group that exceeds the
    * i64 bound without a fixture. */
  private[graft] def embOutlierOf(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val ex = Par.spread(emb, $"vec_id")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"vec_id", $"label", $"pos",
        round($"x".cast("double") * OutlierQ).cast("long").as("fx"))
    // persisted: the guard action below materializes the K·dim-row frame
    // once; the broadcast side of the final join then reads the cache
    // instead of re-running the explode+aggregate
    val stats = ex.groupBy($"label", $"pos")
      .agg(count(lit(1)).as("n"), sum($"fx").as("s"), max(abs($"fx")).as("mfx"))
      .persist()
    // i64 headroom guard: per position |delta| = |fx·n − Σfx| <= 2·mfx·n,
    // so d2n <= Σ_pos (2·mfx·n)². Assert that bound (computed in double —
    // it only guards, it never enters the result) stays under 2^63 with a
    // 2% margin for every label, failing LOUDLY instead of silently
    // wrapping d2n. The stats frame is K·dim rows, so the check is one
    // extra narrow job over an already-tiny aggregate.
    val worst = stats.groupBy($"label")
      .agg(sum(pow($"mfx".cast("double") * 2.0 * $"n", 2.0)).as("bound"),
        max($"n").as("n"))
      .orderBy($"bound".desc).limit(1).collect()
    worst.headOption.filter(_.getDouble(1) >= 9.0e18).foreach { r =>
      throw new IllegalStateException(
        s"emb_outlier fixed-point headroom exceeded: label=${r.get(0)} " +
          s"(n=${r.getLong(2)}) has Σ(2·mfx·n)² = ${r.getDouble(1)} >= 2^63·0.98 " +
          s"at Q=$OutlierQ — d2n would overflow i64. Shrink the group, lower " +
          "the quantizer scale, or raise dims-per-pass.")
    }
    val d2 = ex.join(broadcast(stats.drop("mfx")), Seq("label", "pos"))
      .withColumn("delta", $"fx" * $"n" - $"s")
      .groupBy($"vec_id", $"label")
      .agg(sum($"delta" * $"delta").as("d2n"), max($"n").as("n"))
    d2
      .withColumn("rk", row_number().over(
        Window.partitionBy($"label").orderBy($"d2n".desc, $"vec_id")))
      // integer ceiling: outliers per group = ceil(n / OutlierDen);
      // operands are non-negative, so div == floor (the ADVICE-pinned
      // div-vs-// seam only opens on negatives)
      .withColumn("is_outlier",
        $"rk" <= expr(s"(n + ${OutlierDen - 1}) div $OutlierDen"))
      .select($"vec_id", $"label", $"d2n", $"is_outlier")
      .orderBy($"vec_id")
  }
  val embOutlierSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, label, CAST(gs - 1 AS BIGINT) AS pos,
       |    CAST(round(CAST(embedding[gs] AS DOUBLE) * $OutlierQ) AS BIGINT) AS fx
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(gs)
       |), st AS (
       |  SELECT label, pos, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(fx) AS BIGINT) AS s
       |  FROM ex GROUP BY label, pos
       |), dd AS (
       |  SELECT e.vec_id, e.label,
       |    CAST(SUM((e.fx * st.n - st.s) * (e.fx * st.n - st.s)) AS BIGINT) AS d2n,
       |    MAX(st.n) AS n
       |  FROM ex e JOIN st ON e.label = st.label AND e.pos = st.pos
       |  GROUP BY e.vec_id, e.label
       |)
       |SELECT vec_id, label, d2n,
       |  (ROW_NUMBER() OVER (PARTITION BY label ORDER BY d2n DESC, vec_id)
       |     <= (n + ${OutlierDen - 1}) // $OutlierDen) AS is_outlier
       |FROM dd ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ diversity sampling
  /** Embedding-space diversity sample (`diversity_sample`): assign every
    * vector to its nearest IVF coarse cell (the md5-ranked 16-centroid
    * sample + 6dp-rounded cosine argmax the ANN rows share), rank within
    * each cell by consistent hash, then take cells ROUND-ROBIN until K —
    * so every populated region of embedding space contributes before any
    * region contributes twice. A uniform sample oversamples the dense
    * core; this is the coreset a curation pipeline feeds to eval or
    * distillation when it wants coverage.
    *
    * Scale shape: assignment is a broadcast-16-centroid argmax (one
    * window keyed on vec_id); the per-cell ranking is a BOUNDED
    * imperative aggregate ([[graft.functions.TopKMinAgg]]) — 16 groups ×
    * ≤K entries of map-side-combined state, NOT a window over 16
    * skew-heavy partitions; the round-robin is a TakeOrderedAndProject
    * over ≤ 16·K pre-trimmed rows. Output ≤ K rows at any corpus size,
    * and no stage's state exceeds cells × K. */
  def diversitySample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Similarity.ivfAssign(
        Similarity.ivfCentroids(s, d), Similarity.normedEmb(s, d), "vec_id", 1)
      .select($"vec_id", $"cid")
    // per-cell K smallest (hk, vec_id): bounded-state aggregate, then
    // posexplode recovers the within-cell rank (pos is 0-based)
    val ranked = cells
      .groupBy($"cid")
      .agg(graft.functions.TopKMinAgg.topkMin(md5Key($"vec_id", 8), $"vec_id", DiversityK).as("top"))
      .select($"cid", posexplode($"top").as(Seq("p", "kv")))
      .select($"kv.id".as("vec_id"), $"cid", ($"p" + 1).cast("long").as("rn"))
    ranked.orderBy($"rn", $"cid", $"vec_id").limit(DiversityK)
      .select($"vec_id", $"cid", $"rn")
      .orderBy($"vec_id")
  }
  /** Oracle replays the IVF assignment (same CTEs as `ann_topk_ivf`),
    * ranks within cell by the same md5 hash key, and round-robins. */
  val diversitySampleSql: String = {
    s"""WITH ${Similarity.ivfCentroidsSql("TRUE")}, asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        ROUND(${dotSql("e.embedding", "c.cv")} / (e.vn * c.cn), 6) DESC, c.cid) AS crank
       |    FROM emb e CROSS JOIN cent c)
       |  WHERE crank = 1
       |), ranked AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY ${md5KeySql("vec_id", 8)}, vec_id) AS rn
       |  FROM asg
       |)
       |SELECT vec_id, cid, rn FROM (
       |  SELECT * FROM ranked WHERE rn <= $DiversityK
       |  ORDER BY rn, cid, vec_id LIMIT $DiversityK)
       |ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------- cross-corpus priority dedup
  /** Cross-corpus priority dedup (`dedup_cross_corpus`): when several
    * sources carry near-duplicate copies of a document, keep the copy
    * from the MOST TRUSTED source (priority = the numeric rank in the
    * source name — lower is more curated, the books-over-web rule every
    * multi-source ingest applies) and account per source for what
    * happened: kept, ceded to a higher-priority source, or dropped as a
    * same-source duplicate. `dedup_keep_canonical` answers "which copy
    * survives by content quality"; this row answers the ingest-merge
    * question "which SOURCE owns the canonical copy", the accounting a
    * crawl-vs-licensed merge needs before deleting anything.
    *
    * Scale shape: the near-dup clustering is the shared CC kernel
    * ([[Dedup.dedupClusters]], pointer-doubling, df-capped); survivor
    * selection adds ONE window keyed on cluster_id (well-distributed —
    * clusters are tiny by construction) and one sources-sized
    * aggregate. */
  def dedupCrossCorpus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source")
    val clusters = Dedup.clusterMap(s, d).select($"doc_id", $"cluster_id")
    val asg = docs.join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", $"source",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"),
        // guarded like epoch_plan's spelling: a digit-less source yields
        // prio 0 on BOTH engines (unguarded, DuckDB CASTs '' and crashes
        // while Spark yields NULL — and the two engines then disagree on
        // NULL ordering); substring(1,18) bounds the digits below i64
        substring(coalesce(nullif(regexp_extract($"source", "(\\d+)", 1), lit("")),
          lit("0")), 1, 18).cast("long").as("prio"))
    val w = Window.partitionBy($"cluster_id").orderBy($"prio", $"doc_id")
    val ranked = asg
      .withColumn("keep", row_number().over(w) === 1)
      .withColumn("keep_src", first($"source").over(w))
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
        sum(when(!$"keep" && $"keep_src" =!= $"source", 1L).otherwise(0L)).as("n_ceded"),
        sum(when(!$"keep" && $"keep_src" === $"source", 1L).otherwise(0L)).as("n_dropped_same"))
      .orderBy($"source")
  }
  val dedupCrossCorpusSql: String =
    s"""WITH RECURSIVE ${Dedup.CcCteSql},
       |asg AS (
       |  SELECT d.doc_id, d.source, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
       |    CAST(substring(COALESCE(NULLIF(regexp_extract(d.source, '([0-9]+)', 1), ''), '0'), 1, 18) AS BIGINT) AS prio
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
       |), ranked AS (
       |  SELECT source,
       |    (ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) = 1) AS keep,
       |    FIRST_VALUE(source) OVER (PARTITION BY cluster_id ORDER BY prio, doc_id) AS keep_src
       |  FROM asg
       |)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN NOT keep AND keep_src <> source THEN 1 ELSE 0 END) AS BIGINT) AS n_ceded,
       |  CAST(SUM(CASE WHEN NOT keep AND keep_src = source THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_same
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------- contrastive pair mining
  /** Contrastive training-pair mining (`contrastive_pairs`): positives
    * are the VERIFIED near-duplicate pairs (the exact-Jaccard pair list
    * every dedup row shares — the same signal SimCSE-style pipelines
    * mine); each anchor also gets one deterministic hard-ish negative:
    * its successor on the md5-hash ring over all documents — a uniform
    * draw that is reproducible run-to-run (no RNG), with successors
    * that are true near-dup partners of the anchor excluded by an
    * anti-join against the verified pair list.
    *
    * Scale shape: the ring successor is NOT a global window — documents
    * range-partition on the hash key, `lead` runs per partition, and
    * partition tails stitch through a partitions-sized head table
    * (window over ≤ nPart rows, broadcast back) — the
    * [[PipelineOps.budgetSelect]] boundary-exchange discipline applied
    * to lead(). Positives come from the banded-LSH-verifiable pair
    * kernel; nothing here is all-pairs. */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // positives via the banded-LSH candidate path, NOT the exact
    // all-shared-shingle kernel: at J >= 0.8 both emit the same verified
    // pair list (shared oracle, miss probability ~3.6e-15), but the
    // exact kernel's pair fan-out MEASURED super-linear on the scale
    // harness (shuffle slope 2.72 top-decade, 6 GB at x100) while the
    // LSH path holds slope ~1 — the same reason dedup_cc_lsh exists
    // checkpointed: the pair list feeds three consumers (the pos rows,
    // the anchor set, and the symmetric exclusion list) — without the
    // pin the whole LSH kernel would re-run per consumer (measured
    // 6.6 s -> the kernel's own band once pinned). LAZY since r22 (the
    // ccFixpoint discipline): all three consumers live in the ONE final
    // output plan, so the checkpoint materializes once inside that
    // action — the eager variant paid a separate pre-AQE
    // materialization wave (and is the r14 x100 SMJ-zip hazard).
    // Unordered kernel: pos is re-sorted by the output's orderBy.
    val pos = Dedup.ccCheckpoint(
      Dedup.minhashLshPairs(s, d).select($"a_id", $"b_id"))
    val nPart = math.max(2, s.sparkContext.defaultParallelism)
    val ring = Tables.documents(s, d).select($"doc_id", md5Key($"doc_id", 8).as("hkey"))
      .repartitionByRange(nPart, $"hkey", $"doc_id")
      .withColumn("pid", spark_partition_id())
    val wIn = Window.partitionBy($"pid").orderBy($"hkey", $"doc_id")
    // persisted: the range partitioner samples boundaries per evaluation;
    // the head table must see the same pid assignment the final join does
    val withNext = ring.withColumn("nxt", lead($"doc_id", 1).over(wIn)).persist()
    try {
      // one row per NONEMPTY partition: its first doc in ring order; the
      // successor of partition i's tail is the next nonempty partition's
      // head, wrapping to the global head — a <= nPart-row frame, so the
      // unpartitioned windows here are K-bounded by construction
      val heads = withNext.groupBy($"pid")
        .agg(min(struct($"hkey", $"doc_id")).as("h"))
        .select($"pid", $"h.doc_id".as("head_id"))
      val wPid = Window.orderBy($"pid")
      val wAll = wPid.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val succ = heads
        .withColumn("tail_succ",
          coalesce(lead($"head_id", 1).over(wPid), first($"head_id").over(wAll)))
        .select($"pid", $"tail_succ")
      val ringNext = withNext.join(broadcast(succ), "pid")
        .select($"doc_id", coalesce($"nxt", $"tail_succ").as("successor"))
      val anchors = pos.select($"a_id".as("anchor_id"))
        .union(pos.select($"b_id")).distinct()
      val sym = pos.select($"a_id".as("anchor_id"), $"b_id".as("successor"))
        .union(pos.select($"b_id", $"a_id"))
      val neg = anchors.join(ringNext, $"anchor_id" === $"doc_id")
        .select($"anchor_id", $"successor")
        .join(sym, Seq("anchor_id", "successor"), "left_anti")
      pos.select(lit("pos").as("kind"), $"a_id".as("anchor_id"), $"b_id".as("partner_id"))
        .unionByName(neg.select(lit("neg").as("kind"), $"anchor_id",
          $"successor".as("partner_id")))
        .orderBy($"kind", $"anchor_id", $"partner_id")
    } finally withNext.unpersist()
  }
  val contrastivePairsSql: String =
    s"""WITH ${Dedup.ShingleCteSql},
       |p AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*)::DOUBLE / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= ${Dedup.JaccardThreshold}
       |), ring AS (
       |  SELECT doc_id, ${md5KeySql("doc_id", 8)} AS hkey FROM documents
       |), nxt AS (
       |  SELECT doc_id,
       |    COALESCE(LEAD(doc_id) OVER (ORDER BY hkey, doc_id),
       |      (SELECT doc_id FROM ring ORDER BY hkey, doc_id LIMIT 1)) AS successor
       |  FROM ring
       |), anchors AS (
       |  SELECT a_id AS anchor_id FROM p UNION SELECT b_id FROM p
       |), neg AS (
       |  SELECT a.anchor_id, n.successor FROM anchors a JOIN nxt n ON a.anchor_id = n.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p
       |    WHERE (p.a_id = a.anchor_id AND p.b_id = n.successor)
       |       OR (p.a_id = n.successor AND p.b_id = a.anchor_id))
       |)
       |SELECT kind, anchor_id, partner_id FROM (
       |  SELECT 'pos' AS kind, a_id AS anchor_id, b_id AS partner_id FROM p
       |  UNION ALL
       |  SELECT 'neg', anchor_id, successor FROM neg)
       |ORDER BY kind, anchor_id, partner_id""".stripMargin

  // --------------------------------------- JL random projection audit
  /** Target dimension of the Johnson-Lindenstrauss sketch. */
  private[graft] val JlDim = 16

  /** Deterministic random-projection audit (`emb_random_projection`):
    * project every embedding 64-d → 16-d through a Rademacher (±1) sign
    * matrix derived from md5 parity — the JL sketch an ANN tier uses to
    * cut memory 4× before the PQ stage — and report the distortion
    * histogram: ‖proj‖²/(k/d·‖x‖²) in 10%-wide ppm buckets. JL says the
    * mass concentrates at ratio 1; a fat tail means the sketch is too
    * small for the corpus and downstream recall will sag. PCA
    * (`emb_top_pc`/`emb_pca_project`) is the data-dependent reduction;
    * this is its data-INDEPENDENT sibling — no training pass, any new
    * vector projects with the same hash matrix forever.
    *
    * Engine-exact: coordinates quantize once (fx = round(x·Q)); each
    * projection coordinate is an exact ±fx integer sum; the ratio is
    * ONE non-negative integer division to ppm. The sign matrix is a
    * k·d-row broadcast frame (constant size), the per-vector sums are
    * map-side partial — one narrow shuffle keyed on vec_id. */
  def embRandomProjection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val signs = broadcast(
      s.range(0, JlDim.toLong * 64)
        .select(($"id" / 64).cast("int").as("k"), ($"id" % 64).cast("int").as("pos"))
        .select($"k", $"pos",
          (lit(1) - lit(2) *
            (md5Key(concat($"k".cast("string"), lit(":"), $"pos".cast("string")), 8) % 2)).as("sgn")))
    val ex = Par.spread(Tables.embeddings(s, d), $"vec_id")
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"vec_id", $"pos",
        round($"x".cast("double") * OutlierQ).cast("long").as("fx"))
    val proj = ex.join(signs, Seq("pos"))
      .groupBy($"vec_id", $"k")
      .agg(sum($"sgn" * $"fx").as("p"), sum($"fx" * $"fx").as("n2k"))
    // n2k is Σfx² replicated per k (constant across k); sum(p²) over k
    // against JlDim·Σfx² gives the JL distortion ratio in ppm
    proj.groupBy($"vec_id")
      .agg(sum($"p" * $"p").as("p2"), max($"n2k").as("n2"))
      .withColumn("ratio_ppm", expr(s"(p2 * 1000000) div ($JlDim * n2)"))
      .withColumn("bucket", expr("ratio_ppm div 100000"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy($"bucket")
  }
  val embRandomProjectionSql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, CAST(gs - 1 AS INT) AS pos,
       |    CAST(round(CAST(embedding[gs] AS DOUBLE) * $OutlierQ) AS BIGINT) AS fx
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(gs)
       |), signs AS (
       |  SELECT k, pos,
       |    1 - 2 * (${md5KeySql("k || ':' || pos", 8)} % 2) AS sgn
       |  FROM (SELECT unnest(range($JlDim)) AS k), (SELECT unnest(range(64)) AS pos)
       |), proj AS (
       |  SELECT e.vec_id, s.k,
       |    CAST(SUM(s.sgn * e.fx) AS BIGINT) AS p,
       |    CAST(SUM(e.fx * e.fx) AS BIGINT) AS n2k
       |  FROM ex e JOIN signs s USING (pos)
       |  GROUP BY e.vec_id, s.k
       |), r AS (
       |  SELECT vec_id,
       |    (CAST(SUM(p * p) AS BIGINT) * 1000000) // ($JlDim * MAX(n2k)) AS ratio_ppm
       |  FROM proj GROUP BY vec_id
       |)
       |SELECT ratio_ppm // 100000 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs
       |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin

  // ------------------------------------------------ epoch planning
  /** Token budget the epoch plan allocates (a recipe constant, not a
    * corpus-derived quantity). */
  private[graft] val EpochBudgetTokens = 2000000L

  /** Per-source epoch plan (`epoch_plan`): the data-recipe table every
    * multi-source training run starts from — each source's share of a
    * fixed token budget (shares from the source's priority digit, the
    * [[PipelineOps]] weighting convention), how many FULL passes over
    * the source that buys (repeat factor), and the token remainder the
    * final partial pass must sample. Over-epoching (repeat factor
    * beyond a handful) is the overfit signal a recipe review checks.
    *
    * Integer-exact end to end: shares and budgets divide with `div` on
    * non-negative longs. One map-side-combined aggregate per source +
    * a sources-sized window — nothing corpus-shaped after the first
    * aggregate. */
  def epochPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perSrc = Tables.documents(s, d)
      .select($"source", size(tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_tokens"))
      .withColumn("share",
        pmod(substring(coalesce(nullif(regexp_extract($"source", "(\\d+)", 1), lit("")),
          lit("0")), 1, 18).cast("long"), lit(4L)) + 1)
    // Σshares over the sources-sized frame: K-bounded unpartitioned window
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSrc
      .withColumn("share_total", sum($"share").over(wAll))
      .withColumn("target_tokens", expr(s"($EpochBudgetTokens * share) div share_total"))
      .withColumn("n_full_epochs", expr("target_tokens div sum_tokens"))
      .withColumn("remainder_tokens", expr("target_tokens - n_full_epochs * sum_tokens"))
      .select($"source", $"n_docs", $"sum_tokens", $"share",
        $"target_tokens", $"n_full_epochs", $"remainder_tokens")
      .orderBy($"source")
  }
  val epochPlanSql: String =
    s"""WITH perSrc AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(${tokensSql("text")})) AS BIGINT) AS sum_tokens,
       |    (CAST(substring(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)', 1), ''), '0'), 1, 18) AS BIGINT) % 4) + 1 AS share
       |  FROM documents GROUP BY source
       |), t AS (
       |  SELECT *, CAST(SUM(share) OVER () AS BIGINT) AS share_total FROM perSrc
       |)
       |SELECT source, n_docs, sum_tokens, share,
       |  ($EpochBudgetTokens * share) // share_total AS target_tokens,
       |  (($EpochBudgetTokens * share) // share_total) // sum_tokens AS n_full_epochs,
       |  ($EpochBudgetTokens * share) // share_total
       |    - ((($EpochBudgetTokens * share) // share_total) // sum_tokens) * sum_tokens AS remainder_tokens
       |FROM t ORDER BY source""".stripMargin

  // ------------------------------------------- doc/vector coverage audit
  /** Documents↔embeddings integrity audit (`emb_coverage_audit`): per
    * source, how many documents have a vector, how many are missing one
    * (coverage ppm), plus one `_orphan_vectors` row for embeddings with
    * no owning document — the referential-integrity dashboard an
    * embedding-backed pipeline checks before trusting any ANN result
    * (a silent encoder backlog shows up here first).
    *
    * Scale shape: one equi left join keyed on the id + one anti join,
    * both shuffle-partitioned on the id; aggregates are sources-sized. */
  def embCoverageAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source")
    val vecIds = Tables.embeddings(s, d).select($"vec_id")
    val cov = docs.join(vecIds, $"doc_id" === $"vec_id", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"vec_id".isNotNull, 1L).otherwise(0L)).as("n_with_vec"))
      .withColumn("n_missing", $"n_docs" - $"n_with_vec")
      .withColumn("coverage_ppm", expr("(n_with_vec * 1000000) div n_docs"))
    val orphans = vecIds.join(docs.select($"doc_id"), $"vec_id" === $"doc_id", "left_anti")
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("_orphan_vectors").as("source"), $"n_docs",
        lit(0L).as("n_with_vec"), lit(0L).as("n_missing"), lit(0L).as("coverage_ppm"))
    cov.unionByName(orphans).orderBy($"source")
  }
  val embCoverageAuditSql: String =
    s"""SELECT source, n_docs, n_with_vec, n_missing, coverage_ppm FROM (
       |  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_vec,
       |    CAST(COUNT(*) - SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       |    (CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |      // COUNT(*) AS coverage_ppm
       |  FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
       |  GROUP BY d.source
       |  UNION ALL
       |  SELECT '_orphan_vectors', CAST(COUNT(*) AS BIGINT), 0, 0, 0
       |  FROM embeddings e WHERE NOT EXISTS (
       |    SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
       |ORDER BY source""".stripMargin

  // ------------------------------------------------ shard planning
  /** Target tokens per output shard (a writer constant). */
  private[graft] val ShardTokens = 4096L

  /** Uniform-shard write plan (`shard_plan`): assign every document to
    * an output shard by its START offset in the corpus-wide token
    * prefix sum (shard = offset div ShardTokens) and report each
    * shard's population — how a 100 TB corpus becomes evenly-sized
    * training files with no small-file tail and no doc split across
    * shards. Shard sizes deviate from the target by at most one
    * document's tokens, and the assignment is reproducible (pure
    * function of the doc_id order).
    *
    * Scale shape: the prefix sum is NOT a global window — range
    * partition on doc_id, per-partition cumsum, partitions-sized offset
    * table broadcast back (the [[PipelineOps.budgetSelect]]
    * discipline); the shard report is one aggregate keyed on shard_id. */
  /** The distributed shard report over a `(doc_id, ntok)` frame —
    * [[PipelineOps.prefixSum]] over doc_id; shared by [[shardPlan]], the
    * composed [[pipelineShards]] and `mm_shard_pack`. */
  private[graft] def shardReport(docs: DataFrame, unitBudget: Long = ShardTokens): DataFrame =
    PipelineOps.prefixSum(docs, col("doc_id")) { withCum =>
      shardStats(withCum
        .withColumn("start_off", col("cum") - col("ntok"))
        .withColumn("shard_id", expr(s"start_off div $unitBudget")))
    }

  /** Per-shard population of a `(shard_id, doc_id, ntok)` manifest,
    * ordered by shard; the streaming manifest rows read theirs back
    * through the same aggregate. */
  private[graft] def shardStats(manifest: DataFrame): DataFrame =
    manifest.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))

  /** DuckDB twin of [[shardReport]] over `docs`, a FROM clause of
    * `(doc_id, ntok)` rows. */
  private[graft] def shardReportSql(docs: String, unitBudget: Long = ShardTokens): String =
    s"""SELECT start_off // $unitBudget AS shard_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS sum_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM (
       |  SELECT doc_id, ntok,
       |    CAST(SUM(ntok) OVER (ORDER BY doc_id) AS BIGINT) - ntok AS start_off
       |  FROM $docs)
       |GROUP BY 1 ORDER BY shard_id""".stripMargin

  def shardPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shardReport(Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("ntok")))
  }
  val shardPlanSql: String = shardReportSql(
    s"(SELECT doc_id, CAST(len(${tokensSql("text")}) AS BIGINT) AS ntok FROM documents)")

  // ------------------------------------------- length outlier trimming
  /** Percent of corpus mass trimmed at each length tail. */
  private[graft] val TrimPct = 5L

  /** Data-derived length trimming (`length_outlier_trim`): drop the
    * documents whose length sits fully inside the bottom or top
    * [[TrimPct]]% of the corpus length distribution — the data-derived
    * version of a fixed min/max length filter (truncation artifacts and
    * concatenation monsters move with the corpus; hard-coded cutoffs
    * don't). The rule is RANK-based on a value histogram: a length
    * bucket is cut only when ALL its documents lie inside a tail, so
    * the decision is integer-exact with no quantile interpolation and
    * no per-doc tie-breaking — the engine-parity discipline the
    * advisors pinned for every threshold rule here.
    *
    * Scale shape: the histogram is one map-side-combined aggregate over
    * the BOUNDED length domain (rows ≤ max document length — a
    * constant, not corpus-sized), its cumulative window is K-bounded,
    * and the verdicts broadcast back onto the corpus. Nothing sorts or
    * windows corpus-sized data. */
  /** The per-length-value trim verdict frame `(n_chars, cut_short,
    * cut_long)` — bounded by the length domain, broadcastable. Shared by
    * [[lengthOutlierTrim]] and the composed [[pipelineShards]]. */
  private[graft] def lengthVerdicts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val hist = docs.groupBy($"n_chars").agg(count(lit(1)).as("c"))
    val wVal = Window.orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cum", sum($"c").over(wVal))
      .withColumn("n", sum($"c").over(wAll))
      .withColumn("cut_short", $"cum" <= expr(s"(n * $TrimPct) div 100"))
      .withColumn("cut_long", ($"n" - $"cum" + $"c") <= expr(s"(n * $TrimPct) div 100"))
      .select($"n_chars", $"cut_short", $"cut_long")
  }

  def lengthOutlierTrim(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"n_chars")
    docs.join(broadcast(lengthVerdicts(docs)), Seq("n_chars"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!$"cut_short" && !$"cut_long", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"cut_short", 1L).otherwise(0L)).as("n_cut_short"),
        sum(when($"cut_long", 1L).otherwise(0L)).as("n_cut_long"),
        sum(when(!$"cut_short" && !$"cut_long", $"n_chars").otherwise(0L)).as("chars_kept"))
      .orderBy($"source")
  }
  /** DuckDB CTEs `hist`, `v` and `verdicts`: the twin of
    * [[lengthVerdicts]] over the whole documents table. */
  private val LengthVerdictsCteSql: String =
    s"""hist AS (
       |  SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY n_chars
       |), v AS (
       |  SELECT n_chars,
       |    CAST(SUM(c) OVER (ORDER BY n_chars) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER () AS BIGINT) AS n, c
       |  FROM hist
       |), verdicts AS (
       |  SELECT n_chars,
       |    cum <= (n * $TrimPct) // 100 AS cut_short,
       |    (n - cum + c) <= (n * $TrimPct) // 100 AS cut_long
       |  FROM v
       |)""".stripMargin
  val lengthOutlierTrimSql: String =
    s"""WITH $LengthVerdictsCteSql
       |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN NOT cut_short AND NOT cut_long THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN cut_short THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_short,
       |  CAST(SUM(CASE WHEN cut_long THEN 1 ELSE 0 END) AS BIGINT) AS n_cut_long,
       |  CAST(SUM(CASE WHEN NOT cut_short AND NOT cut_long THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_kept
       |FROM documents d JOIN verdicts USING (n_chars)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------------------------- vocabulary growth curve
  /** Number of checkpoints on the growth curve. */
  private[graft] val GrowthSteps = 8L

  /** Heaps-law vocabulary growth audit (`vocab_growth_curve`): distinct
    * token count after each eighth of the corpus (in doc_id order) — the
    * corpus-health curve. Healthy natural text grows vocabulary like
    * N^β (β≈0.5); a curve that flattens early means templated/duplicated
    * content, one that stays linear means OCR noise or ID-like junk
    * minting a new "word" every document.
    *
    * Computed in ONE pass, not eight: a token's contribution to the
    * curve is exactly its FIRST-appearance document, so
    * groupBy(token).min(doc_id), bucket by corpus eighth, and a
    * cumulative sum over the 8-row histogram reproduce all eight
    * prefix-distinct counts. The only corpus-sized shuffle keys on the
    * token; the crossJoin attaches a ONE-row doc-count aggregate
    * (constant broadcast by construction). */
  def vocabGrowthCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val nd = docs.agg((max($"doc_id") + 1).as("nd"))
    val firstSeen = docs
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"tok").agg(min($"doc_id").as("first_doc"))
    val wVal = Window.orderBy($"checkpoint")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = firstSeen.crossJoin(broadcast(nd))
      .withColumn("checkpoint", expr(s"(first_doc * $GrowthSteps) div nd"))
      .groupBy($"checkpoint")
      .agg(count(lit(1)).as("new_tokens"))
    // fixed 8-row spine: an eighth that introduced no new vocabulary is
    // the SIGNAL (saturation), so it must appear as an explicit 0 row
    s.range(0, GrowthSteps).select($"id".as("checkpoint"))
      .join(hist, Seq("checkpoint"), "left")
      .withColumn("new_tokens", coalesce($"new_tokens", lit(0L)))
      .withColumn("cum_tokens", sum($"new_tokens").over(wVal))
      .orderBy($"checkpoint")
  }
  val vocabGrowthCurveSql: String =
    raw"""WITH fs AS (
         |  SELECT tok, MIN(doc_id) AS first_doc
         |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS tok
         |        FROM documents)
         |  GROUP BY tok
         |), nd AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
         |h AS (
         |  SELECT (first_doc * ${GrowthSteps}) // nd.nd AS checkpoint,
         |    CAST(COUNT(*) AS BIGINT) AS new_tokens
         |  FROM fs CROSS JOIN nd GROUP BY 1
         |), spine AS (SELECT unnest(range(${GrowthSteps})) AS checkpoint)
         |SELECT s.checkpoint, COALESCE(h.new_tokens, 0) AS new_tokens,
         |  CAST(SUM(COALESCE(h.new_tokens, 0)) OVER (ORDER BY s.checkpoint) AS BIGINT) AS cum_tokens
         |FROM spine s LEFT JOIN h ON s.checkpoint = h.checkpoint
         |ORDER BY s.checkpoint""".stripMargin

  // ------------------------------------------- composed shard pipeline
  /** Composed curation-to-writer pipeline (`pipeline_shards`): the
    * round-14 capstone DAG — data-derived length trim
    * ([[lengthVerdicts]]) ∘ near-dup canonical survivor selection
    * ([[Dedup.dedupKeepCanonical]], the CC-cluster longest-copy rule) ∘
    * uniform-shard planning ([[shardReport]]) — i.e. "clean it, dedup
    * it, and tell me exactly which training files to write", one plan,
    * no intermediate materialization. Complements `pipeline_e2e` (which
    * composes cascade ∘ exact-dedup ∘ decontaminate into per-source
    * stats): this one ends at the WRITER, producing the shard manifest
    * for the surviving corpus.
    *
    * Scale shape is the union of its parts, all measured: trim verdicts
    * are a bounded-histogram broadcast, survivor selection rides the CC
    * kernel, sharding is the boundary-exchange prefix sum. */
  def pipelineShards(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"n_chars",
        size(tokens($"text")).cast("long").as("ntok"))
    val kept = docs.join(broadcast(lengthVerdicts(docs)), Seq("n_chars"))
      .filter(!$"cut_short" && !$"cut_long")
    val canon = Dedup.dedupKeepCanonical(s, d).filter($"keep").select($"doc_id")
    shardReport(kept.join(canon, Seq("doc_id")).select($"doc_id", $"ntok"))
  }
  val pipelineShardsSql: String =
    raw"""WITH RECURSIVE ${Dedup.CcCteSql},
         |cc AS (
         |  SELECT doc_id, cluster_id FROM lab
         |), alldocs AS (
         |  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id, d.n_chars
         |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
         |), canon AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM alldocs)
         |  WHERE rn = 1
         |), $LengthVerdictsCteSql, kept AS (
         |  SELECT d.doc_id,
         |    CAST(len(${tokensSql("d.text")}) AS BIGINT) AS ntok
         |  FROM documents d
         |  JOIN verdicts ON d.n_chars = verdicts.n_chars
         |  JOIN canon ON d.doc_id = canon.doc_id
         |  WHERE NOT cut_short AND NOT cut_long
         |)
         |${shardReportSql("kept")}""".stripMargin

  // ------------------------------------------------ embedding drift score
  /** Embedding drift quantification (`emb_drift_score`): per label, the
    * L1 distance between the centroid of the REFERENCE slice (even
    * vec_ids — yesterday's snapshot stand-in) and the CURRENT slice
    * (odd vec_ids), reported as an exact integer fraction
    * `l1_num / (l1_den · Q)`: l1_num = Σ_dim |s_ref·n_cur − s_cur·n_ref|
    * over quantized coordinate sums, l1_den = n_ref·n_cur. This is the
    * READ side of the drift alarm `stream_emb_drift` maintains — a
    * cross-multiplied integer form, so no division ever happens before
    * the comparison and both engines agree bit-for-bit.
    *
    * Scale shape: two interleaved slices of one scan, one (label, pos,
    * slice) aggregate of 2·K·dim rows, and a K·dim-bounded reshape —
    * nothing corpus-sized after the first aggregate. */
  def embDriftScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = Par.spread(Tables.embeddings(s, d), $"vec_id")
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "x")))
      .select($"label", $"pos", ($"vec_id" % 2 === 0).as("is_ref"),
        round($"x".cast("double") * OutlierQ).cast("long").as("fx"))
    val g = ex.groupBy($"label", $"pos")
      .agg(sum(when($"is_ref", $"fx").otherwise(0L)).as("s_ref"),
        sum(when(!$"is_ref", $"fx").otherwise(0L)).as("s_cur"),
        sum(when($"is_ref", 1L).otherwise(0L)).as("n_ref"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("n_cur"))
    g.groupBy($"label")
      .agg(max($"n_ref").as("n_ref"), max($"n_cur").as("n_cur"),
        sum(abs($"s_ref" * $"n_cur" - $"s_cur" * $"n_ref")).as("l1_num"))
      .withColumn("l1_den", $"n_ref" * $"n_cur")
      .select($"label", $"n_ref", $"n_cur", $"l1_num", $"l1_den")
      .orderBy($"label")
  }
  val embDriftScoreSql: String =
    s"""WITH ex AS (
       |  SELECT label, CAST(gs - 1 AS BIGINT) AS pos, vec_id % 2 = 0 AS is_ref,
       |    CAST(round(CAST(embedding[gs] AS DOUBLE) * $OutlierQ) AS BIGINT) AS fx
       |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(gs)
       |), g AS (
       |  SELECT label, pos,
       |    CAST(SUM(CASE WHEN is_ref THEN fx ELSE 0 END) AS BIGINT) AS s_ref,
       |    CAST(SUM(CASE WHEN NOT is_ref THEN fx ELSE 0 END) AS BIGINT) AS s_cur,
       |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
       |  FROM ex GROUP BY label, pos
       |)
       |SELECT label, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
       |  CAST(SUM(abs(s_ref * n_cur - s_cur * n_ref)) AS BIGINT) AS l1_num,
       |  MAX(n_ref) * MAX(n_cur) AS l1_den
       |FROM g GROUP BY label ORDER BY label""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("emb_drift_score", embDriftScore _, embDriftScoreSql),
    QueryDef("pipeline_shards", pipelineShards _, pipelineShardsSql),
    QueryDef("vocab_growth_curve", vocabGrowthCurve _, vocabGrowthCurveSql),
    QueryDef("length_outlier_trim", lengthOutlierTrim _, lengthOutlierTrimSql),
    QueryDef("emb_coverage_audit", embCoverageAudit _, embCoverageAuditSql),
    QueryDef("shard_plan", shardPlan _, shardPlanSql),
    QueryDef("emb_random_projection", embRandomProjection _, embRandomProjectionSql),
    QueryDef("epoch_plan", epochPlan _, epochPlanSql),
    QueryDef("contrastive_pairs", contrastivePairs _, contrastivePairsSql),
    QueryDef("emb_outlier", embOutlier _, embOutlierSql),
    QueryDef("diversity_sample", diversitySample _, diversitySampleSql),
    QueryDef("dedup_cross_corpus", dedupCrossCorpus _, dedupCrossCorpusSql),
  )
}
