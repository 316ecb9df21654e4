package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{cosineSql, md5Key, md5KeySql, tokens, tokensSql}
import graft.functions.VectorOps
import graft.queries.Tables

/** Second-generation dedup operators: segment-level boilerplate removal
  * (the line-level dedup of RefinedWeb/CCNet, adapted to this corpus's
  * newline-free text), incremental-ingest dedup (new batch vs existing
  * corpus), and SemDedup-style semantic dedup bounded by k-means
  * clusters. All fully DuckDB-oracle-checked — including the embedded
  * Lloyd loop, replayed via [[Clustering.lloydSql]].
  */
object Dedup2 {

  // ------------------------------------------------ segment-level dedup
  private val SegLen = 4   // tokens per non-overlapping segment
  private val HotDf = 2    // segments in >= HotDf distinct docs are boilerplate

  /** Cross-document boilerplate removal: split every document into
    * non-overlapping [[SegLen]]-token segments, count each segment's
    * distinct-document frequency corpus-wide, and strip segments occurring
    * in >= [[HotDf]] documents (headers, footers, license blurbs — text
    * whose EXACT form repeats across documents). Outputs per-doc segment
    * counts and the cleaned text with survivors rejoined in order.
    *
    * Scale shape: the frequency count shuffles 8-byte keys only; the hot
    * set (boilerplate is rare by volume) broadcasts back against the
    * segment stream, so document text moves exactly once — into the
    * per-doc reassembly shuffle, which is keyed by doc_id and therefore
    * embarrassingly parallel. No self-join, no all-pairs anything. */
  def dedupSegments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val segs = Tables.documents(s, d)
      .select($"doc_id", tokens($"text").as("t"))
      .select($"doc_id", posexplode(
        // Column./ is double division — floor+cast back for sequence()'s
        // integral bound
        transform(sequence(lit(0), floor((size($"t") - 1) / SegLen).cast("int")),
          i => array_join(slice($"t", i * SegLen + 1, lit(SegLen)), " ")))
        .as(Seq("idx", "seg")))
      // 60-bit key: the cross-corpus shuffle carries 8 bytes per
      // segment, never the text
      .withColumn("k", md5Key($"seg", 15))
    val hot = segs.groupBy($"k")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= HotDf)
      .select($"k", lit(true).as("hot"))
    segs.join(broadcast(hot), Seq("k"), "left")
      .withColumn("drop", coalesce($"hot", lit(false)))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when($"drop", 1L).otherwise(0L)).as("n_dropped"),
        coalesce(array_join(transform(
          array_sort(collect_list(when(!$"drop", struct($"idx", $"seg")))),
          x => x("seg")), " "), lit("")).as("clean_text"))
      .orderBy($"doc_id")
  }
  val dedupSegmentsSql: String =
    raw"""WITH toks AS (
         |  SELECT doc_id, ${tokensSql("text")} AS t FROM documents
         |), segs AS (
         |  SELECT doc_id, s.idx, s.seg,
         |    ${md5KeySql("s.seg", 15)} AS k
         |  FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(0, (len(t) - 1) // $SegLen + 1),
         |        i -> struct_pack(idx := i,
         |               seg := array_to_string(t[i*$SegLen+1 : i*$SegLen+$SegLen], ' ')))) AS s
         |    FROM toks)
         |), hot AS (
         |  SELECT k FROM segs GROUP BY k HAVING COUNT(DISTINCT doc_id) >= $HotDf
         |)
         |SELECT doc_id, COUNT(*) AS n_segments,
         |  CAST(SUM(CASE WHEN hot.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  COALESCE(string_agg(CASE WHEN hot.k IS NULL THEN seg END, ' ' ORDER BY idx), '')
         |    AS clean_text
         |FROM segs LEFT JOIN hot ON segs.k = hot.k
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ incremental dedup
  /** Incremental-ingest dedup — the shape a production pipeline actually
    * runs: a NEW batch (here the deterministic doc_id % 5 == 0 slice)
    * checked against the EXISTING corpus, never corpus-vs-corpus. Every
    * delta document gets a verdict: admitted, or rejected with its
    * best-matching base document and exact 3-gram Jaccard (>= 0.8).
    *
    * Scale shape: in production the base side is a shingle index
    * materialized ONCE (exactly [[Dedup.docShingles]]'s output persisted
    * to a table) and only the delta re-shingles per batch; the meet is an
    * equi-join on the 64-bit shingle hash. The delta side carries NO
    * broadcast hint on purpose: a typical ingest batch is broadcast-sized
    * and AQE promotes the join at runtime, but a bulk backfill batch can
    * be TBs — an explicit hint would bypass the size threshold and OOM,
    * while the hint-free plan degrades to a shuffle join instead.
    * Verification counts shared shingles per candidate pair, exact
    * integer ratios all the way (engine-identical doubles). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Dedup.docShingles(s, d)
    try {
      val ex = explodeSets(docs)
      val delta = ex.filter($"doc_id" % 5 === 0)
        .select($"doc_id".as("d_id"), $"sz".as("sz_d"), $"s")
      val base = ex.filter($"doc_id" % 5 =!= 0)
      val out = incrementalVerdicts(
          Tables.documents(s, d).filter($"doc_id" % 5 === 0).select($"doc_id"),
          delta, base)
        .orderBy($"doc_id")
        .persist()
      out.count() // materialize (delta-sized) before the shingle cache drops
      out
    } finally docs.unpersist()
  }

  /** Exploded 64-bit-hashed shingles `(doc_id, sz, s)` of a (persisted)
    * shingle-set frame. */
  private[graft] def explodeSets(sets: DataFrame): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    sets.select($"doc_id", size($"sh").as("sz"), explode($"sh").as("s0"))
      .select($"doc_id", $"sz", xxhash64($"s0").as("s"))
  }

  /** Per-delta-doc verdicts against a standing shingle index — the meet
    * of [[dedupIncremental]], factored out so the STREAMING ingest path
    * can run it per micro-batch (graft.queries.Streaming2's
    * stream_incremental_dedup drives this from foreachBatch). A doc's
    * verdict depends only on (doc, standing index), so batch slicing
    * cannot change results — which is exactly what lets the streaming
    * gate share the batch oracle. `deltaEx`: (d_id, sz_d, s);
    * `baseEx`: (doc_id, sz, s); `deltaIds`: one row per delta doc. */
  private[graft] def incrementalVerdicts(
      deltaIds: DataFrame, deltaEx: DataFrame, baseEx: DataFrame): DataFrame = {
    val s = deltaIds.sparkSession
    import s.implicits._
    val best = deltaEx.join(baseEx, "s")
      .groupBy($"d_id", $"doc_id".as("b_id"), $"sz_d", $"sz".as("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", $"inter".cast("double") / ($"sz_d" + $"sz_b" - $"inter"))
      .filter($"jaccard" >= Dedup.JaccardThreshold)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"d_id")
          .orderBy($"jaccard".desc, $"b_id")))
      .filter($"rn" === 1)
      .select($"d_id", $"b_id", $"jaccard")
    deltaIds.join(best, $"doc_id" === $"d_id", "left")
      .select($"doc_id", $"d_id".isNull.as("admitted"),
        $"b_id".as("matched_base"), $"jaccard")
  }
  /** Oracle for [[dedupIncremental]] over the documents satisfying
    * `pred`. */
  def dedupIncrementalSqlWhere(pred: String): String =
    s"""WITH ${Dedup.shingleCteSql(pred)},
       |cand AS (
       |  SELECT d.doc_id AS d_id, b.doc_id AS b_id,
       |    COUNT(*)::DOUBLE / (ANY_VALUE(d.sz) + ANY_VALUE(b.sz) - COUNT(*)) AS jaccard
       |  FROM ex d JOIN ex b ON d.s = b.s
       |  WHERE d.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
       |  GROUP BY d.doc_id, b.doc_id
       |  HAVING COUNT(*)::DOUBLE / (ANY_VALUE(d.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= ${Dedup.JaccardThreshold}
       |), best AS (
       |  SELECT d_id, b_id, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY d_id ORDER BY jaccard DESC, b_id) AS rn
       |  FROM cand)
       |SELECT doc.doc_id, b.d_id IS NULL AS admitted, b.b_id AS matched_base, b.jaccard
       |FROM documents doc
       |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON doc.doc_id = b.d_id
       |WHERE doc.doc_id % 5 = 0 AND $pred
       |ORDER BY doc.doc_id""".stripMargin
  val dedupIncrementalSql: String = dedupIncrementalSqlWhere("TRUE")

  // ----------------------------------------------------------- SemDedup
  /** Production threshold is ~0.95+; the synthetic fixture's vectors are
    * near-orthogonal (max pairwise cosine ~0.51), so the gate runs at a
    * fixture-aggressive 0.35 to exercise the drop path. */
  private val SemTheta = 0.35

  /** SemDedup (semantic dedup): cluster embeddings with the deterministic
    * Lloyd loop from [[Clustering]], then compare pairs ONLY within a
    * cluster and drop every vector that has a lower-id neighbor with
    * cosine >= theta. The clustering bounds the pairwise work to
    * sum_k(n_k²) instead of n² — the property that makes semantic dedup
    * tractable at corpus scale (with K scaled so n/K stays bounded, e.g.
    * K ~ n/10k; the loop shape is unchanged). Cosine is 6dp-rounded
    * before the threshold so the verdict is engine-independent.
    *
    * Output: every vector with its cluster and keep verdict — the frame a
    * pipeline would semi-join its corpus against. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupOn(s, Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))

  private[operators] def semDedupOn(s: SparkSession, embIn: DataFrame): DataFrame = {
    import s.implicits._
    val emb = embIn.persist()
    try {
      var centroids: Array[Array[Float]] = emb.orderBy($"vec_id").limit(Clustering.K)
        .collect().map(_.getSeq[Float](1).toArray)
      for (_ <- 0 until Clustering.Iters) {
        centroids = Clustering.updated(Clustering.assign(emb, centroids), centroids)
      }
      val assigned = Clustering.assign(emb, centroids)
        .withColumn("vn", VectorOps.normf($"embedding"))
        .select($"vec_id", $"embedding", $"vn", $"cluster")
        .persist()
      try {
        val dropped = assigned.as("a")
          .join(assigned.as("b"),
            $"a.cluster" === $"b.cluster" && $"a.vec_id" < $"b.vec_id")
          .filter(round(VectorOps.dotf($"a.embedding", $"b.embedding")
            / ($"a.vn" * $"b.vn"), 6) >= SemTheta)
          .select($"b.vec_id".as("vec_id")).distinct()
          .withColumn("dup", lit(true))
        val out = assigned.join(dropped, Seq("vec_id"), "left")
          .select($"vec_id", $"cluster",
            coalesce(!$"dup", lit(true)).as("is_kept"))
          .orderBy($"vec_id")
          .persist()
        out.count() // materialize the verdicts before the inputs uncache
        out
      } finally assigned.unpersist()
    } finally emb.unpersist()
  }
  val semDedupSql: String = {
    import Clustering.lloydSql
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |${lloydSql(Clustering.K, Clustering.Iters, 64, "")},
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM fin a JOIN fin b ON a.k = b.k AND a.vec_id < b.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= $SemTheta
       |)
       |SELECT f.vec_id, f.k AS cluster, dr.vec_id IS NULL AS is_kept
       |FROM fin f LEFT JOIN dropped dr ON f.vec_id = dr.vec_id
       |ORDER BY f.vec_id""".stripMargin
  }

  // ------------------------------------------- SemDedup, bounded cells
  /** Cell-size bound for [[semDedupBounded]]: recursive splitting stops
    * once every cell holds <= this many vectors, so within-cell pairwise
    * work is <= n * SemTarget however large the corpus. Larger than any
    * fixture (200 / 2000 embeddings), so the fixture path is a single
    * cell and the oracle is plain global pairwise — the splitting levels
    * are exercised and law-pinned on a planted 5000-vector corpus in
    * `ScaleHarnessSpec`. */
  private[operators] val SemTarget = 2000
  private[operators] val SemSubK = 16

  /** SemDedup with MEASURED-linear clustering (semdedup_bounded): the
    * round-14 scale harness caught the Lloyd-based [[semDedup]]'s
    * fixed-K clustering at ~315 s / quadratic wall on a 100x corpus —
    * sum n_k² with n_k ~ n/K grows as n²/K when K is a constant (the
    * scaladoc's "scale K with n" was an argument, not code). This
    * operator implements the bound: recursively split every oversized
    * cell around [[SemSubK]] md5-sampled members of THAT cell (nearest
    * sub-centroid by 6dp-rounded cosine, deterministic tie-break) until
    * all cells hold <= [[SemTarget]] vectors — log_SubK(n/Target)
    * levels, each one a constant number of shuffles over n rows, no
    * driver-side member lists (the only per-level action is the scalar
    * max-cell-size termination check). Then the SemDedup drop rule
    * runs within cells: a vector with a lower-id cell-mate at cosine
    * >= theta is dropped. Work: O(n log n) split + O(n * SemTarget)
    * verify. Cell ids are split-path hashes (not stable labels), so the
    * output carries only the verdict. */
  def semDedupBounded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = boundedCells(s, d).persist()
    try {
      val dropped = out.as("a")
        .join(out.as("b"), $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
        .filter(round(VectorOps.dotf($"a.embedding", $"b.embedding")
          / ($"a.vn" * $"b.vn"), 6) >= SemTheta)
        .select($"b.vec_id".as("vec_id")).distinct()
        .withColumn("dup", lit(true))
      val res = out.join(dropped, Seq("vec_id"), "left")
        .select($"vec_id", coalesce(!$"dup", lit(true)).as("is_kept"))
        .orderBy($"vec_id")
        .persist()
      res.count()
      res
    } finally out.unpersist()
  }

  /** The recursive splitter: (vec_id, embedding, vn, cell) with every
    * cell <= [[SemTarget]]. Exposed for the planted-law spec. */
  private[graft] def boundedCells(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    var cur = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      .withColumn("vn", VectorOps.normf($"embedding"))
      .withColumn("cell", lit(0L))
      .persist()
    cur.count()
    def maxCell(df: DataFrame): Long =
      Option(df.groupBy($"cell").agg(count(lit(1)).as("n"))
        .agg(max($"n")).first().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    var level = 0
    var mx = maxCell(cur)
    while (mx > SemTarget && level < 12) {
      val sizes = cur.groupBy($"cell").agg(count(lit(1)).as("cn_sz"))
      val tagged = cur.join(sizes, "cell")
      val small = tagged.filter($"cn_sz" <= SemTarget)
        .select($"vec_id", $"embedding", $"vn", $"cell")
      val big = tagged.filter($"cn_sz" > SemTarget)
        .select($"vec_id", $"embedding", $"vn", $"cell")
      // SubK sub-centroids PER oversized cell: md5-ranked members of that
      // cell — a window, never a driver collect (oversized-cell count
      // grows with n; nothing here is driver-sized)
      val wr = Window.partitionBy($"cell").orderBy(md5Key($"vec_id", 8), $"vec_id")
      val cents = big.withColumn("rk", row_number().over(wr)).filter($"rk" <= SemSubK)
        .select($"cell", $"rk".as("sub"), $"embedding".as("cv"), $"vn".as("cn"))
      val wbest = Window.partitionBy($"cell", $"vec_id").orderBy($"csim".desc, $"sub")
      val reassigned = big.join(cents, "cell")
        .withColumn("csim", round(VectorOps.dotf($"embedding", $"cv") / ($"vn" * $"cn"), 6))
        .withColumn("best", row_number().over(wbest))
        .filter($"best" === 1)
        .select($"vec_id", $"embedding", $"vn",
          xxhash64($"cell", $"sub").as("cell"))
      val next = small.unionByName(reassigned)
        // lineage truncation: the loop would otherwise stack a growing
        // join/window chain per level (the dedupClusters localCheckpoint
        // rationale); LAZY so the termination aggregate is the level's
        // one materializing action
        .localCheckpoint(false)
      val prevCur = cur
      mx = maxCell(next)
      prevCur.unpersist()
      cur = next
      level += 1
    }
    cur
  }
  /** Fixture corpora are below [[SemTarget]], so zero split levels run
    * and the verdict is plain global pairwise at theta. */
  val semDedupBoundedSql: String = {
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
       |  WHERE round(${cosineSql("a.embedding", "b.embedding")}, 6) >= $SemTheta
       |)
       |SELECT e.vec_id, dr.vec_id IS NULL AS is_kept
       |FROM emb e LEFT JOIN dropped dr ON e.vec_id = dr.vec_id
       |ORDER BY e.vec_id""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("dedup_segments", dedupSegments _, dedupSegmentsSql),
    QueryDef("dedup_incremental", dedupIncremental _, dedupIncrementalSql),
    QueryDef("semdedup", semDedup _, semDedupSql),
    QueryDef("semdedup_bounded", semDedupBounded _, semDedupBoundedSql),
  )
}
