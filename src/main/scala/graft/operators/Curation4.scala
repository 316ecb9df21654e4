package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.functions.Parity.{cosineSql, tokens, tokensSql}
import graft.queries.Tables

/** Round-13 pipeline additions, part 2: snapshot delta computation,
  * cross-source duplication accounting, contrastive hard-negative
  * mining, and length-bucketed padding analysis.
  *
  * House rules as everywhere: keyed joins only (no all-pairs over the
  * corpus), fingerprints shuffle instead of text bodies, integer/exact
  * arithmetic wherever a float aggregate could drift between engines,
  * every query hash-gated against a DuckDB oracle.
  */
object Curation4 {

  // ------------------------------------------------------ corpus delta
  /** Snapshot diff — the nightly-ingest bookkeeping step: given two
    * corpus snapshots, report every document that was added, removed,
    * or changed between them. At 100 TB this is THE cheap alternative
    * to reprocessing: downstream dedup/index maintenance runs on the
    * delta, not the corpus.
    *
    * The two snapshots are derived deterministically from the fixture
    * (`old` drops doc_id%10==7, `new` drops doc_id%10==3 and revises
    * doc_id%10==5) so the diff exercises all three verdicts with a
    * DuckDB-replayable definition.
    *
    * Scale shape: content fingerprints (md5, computed AT THE SCAN) are
    * what shuffles — 32 bytes per doc, never the text body — through
    * one doc_id-keyed full-outer join. Verdict is a codegen'd CASE; the
    * `unchanged` mass (the overwhelming majority at scale) is dropped
    * before the result materializes. */
  def corpusDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val old = docs.filter($"doc_id" % 10 =!= 7)
      .select($"doc_id", md5($"text").as("fp_old"))
    val neu = docs.filter($"doc_id" % 10 =!= 3)
      .select($"doc_id",
        md5(when($"doc_id" % 10 === 5, concat($"text", lit(" [rev2]")))
          .otherwise($"text")).as("fp_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .withColumn("verdict",
        when($"fp_old".isNull, lit("added"))
          .when($"fp_new".isNull, lit("removed"))
          .when($"fp_old" =!= $"fp_new", lit("changed"))
          .otherwise(lit("unchanged")))
      .filter($"verdict" =!= "unchanged")
      .select($"doc_id", $"verdict")
      .orderBy($"doc_id")
  }
  val corpusDeltaSql: String =
    """WITH o AS (
      |  SELECT doc_id, md5(text) AS fp_old FROM documents WHERE doc_id % 10 <> 7
      |), n AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END) AS fp_new
      |  FROM documents WHERE doc_id % 10 <> 3
      |), diff AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.fp_old <> n.fp_new THEN 'changed'
      |         ELSE 'unchanged' END AS verdict
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id, verdict FROM diff WHERE verdict <> 'unchanged'
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- dup source matrix
  /** Cross-source duplication matrix: for every unordered pair of
    * sources, how many near-dup pairs (the Jaccard ≥ 0.8 kernel) span
    * them — the provenance report that tells a curation team WHICH
    * feeds copy from which (and how much of the dedup pressure is
    * intra-source vs syndication).
    *
    * Scale shape: the candidate-pair frame is the already-thresholded
    * Jaccard output (tiny relative to the corpus); the two doc→source
    * attachments are doc_id-keyed equi-joins (AQE broadcasts the pair
    * side when it is small — asserted in the spec); the final aggregate
    * groups on source pairs, a dimension-sized key space. `max_jaccard`
    * (order-independent, unlike a float sum) is the only float, and the
    * ratio itself is a deterministic IEEE division both engines compute
    * identically. */
  def dupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.dedupNgramJaccard(s, d)
    val src = Tables.documents(s, d).select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("a_id"), $"source".as("src_a")), "a_id")
      .join(src.select($"doc_id".as("b_id"), $"source".as("src_b")), "b_id")
      .groupBy(least($"src_a", $"src_b").as("source_a"),
        greatest($"src_a", $"src_b").as("source_b"))
      .agg(count(lit(1)).as("n_pairs"), round(max($"jaccard"), 6).as("max_jaccard"))
      .orderBy($"source_a", $"source_b")
  }
  val dupSourceMatrixSql: String =
    s"""WITH ${Dedup.ShingleCteSql},
       |pr AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |    COUNT(*)::DOUBLE / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) AS jaccard
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*)::DOUBLE / (ANY_VALUE(a.sz) + ANY_VALUE(b.sz) - COUNT(*)) >= ${Dedup.JaccardThreshold})
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  COUNT(*) AS n_pairs, ROUND(MAX(pr.jaccard), 6) AS max_jaccard
       |FROM pr
       |JOIN documents da ON pr.a_id = da.doc_id
       |JOIN documents db ON pr.b_id = db.doc_id
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------- hard negatives
  /** Contrastive hard-negative mining: for each probe vector, the top-3
    * most-similar corpus vectors carrying a DIFFERENT label — the
    * training-pair construction step for contrastive/embedding-model
    * fine-tuning (easy negatives are useless; the hard ones sit right
    * at the decision boundary).
    *
    * Scale shape: identical to [[Similarity.annTopKBrute]] — the probe
    * set is bounded by construction (64 rows) and broadcast, so the
    * corpus is scanned once with no shuffle of the big side; norms are
    * computed once per vector before the join; ranking is a per-probe
    * window over the label-filtered candidates (the filter runs inside
    * the scan-side codegen, before the window shuffle). */
  def annHardNegatives(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Par.spread(
      Tables.embeddings(s, d).select($"vec_id", $"embedding", $"label"), $"vec_id")
      .withColumn("vn", Similarity.norm($"embedding"))
    val probes = emb.orderBy($"vec_id").limit(Similarity.NProbes)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        $"vn".as("qn"), $"label".as("qlabel"))
    val scored = emb.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"query_id" && $"label" =!= $"qlabel")
      .withColumn("sim", round(Similarity.dot($"qv", $"embedding") / ($"vn" * $"qn"), 6))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"rank", $"vec_id".as("neighbor_id"),
        $"label".as("neg_label"), $"sim")
      .orderBy($"query_id", $"rank")
  }
  val annHardNegativesSql: String =
    s"""WITH probes AS (
       |  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel FROM embeddings
       |  ORDER BY vec_id LIMIT ${Similarity.NProbes}
       |), scored AS (
       |  SELECT p.query_id, e.vec_id, e.label,
       |    ROUND(${cosineSql("e.embedding", "p.qv")}, 6) AS sim
       |  FROM embeddings e CROSS JOIN probes p
       |  WHERE e.vec_id <> p.query_id AND e.label <> p.qlabel
       |), ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, label AS neg_label, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, neg_label, sim FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------- length-bucket packing
  /** Power-of-two bucket caps; documents longer than the last cap are
    * truncated to it (the training-time behavior). */
  private[graft] val BucketCaps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L)
  private[graft] val MaxCap = 4096L

  /** Length-bucketed batching report — the OTHER packing discipline
    * (vs [[PipelineOps.packSequences]]'s concat-packing): pad each
    * document up to its power-of-two bucket cap, batch within buckets,
    * and measure the padding waste per bucket. The report drives the
    * bucket-boundary choice for any training job that can't concat
    * across document boundaries.
    *
    * Scale shape: one narrow projection (token count only) through one
    * hash aggregate with ≤ 9 groups — map-side combined, effectively
    * shuffle-free. `efficiency_ppm` is pure 64-bit integer arithmetic
    * (micro-units, floor division), exact in any engine. */
  def lengthBucketPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(size(tokens($"text")).cast("long").as("ntok"))
    val cap: Column = BucketCaps.foldRight(lit(MaxCap): Column) {
      (c, acc) => when($"ntok" <= c, lit(c)).otherwise(acc)
    }
    docs.withColumn("cap", cap)
      .withColumn("kept", least($"ntok", $"cap"))
      .groupBy($"cap")
      .agg(count(lit(1)).as("n_docs"),
        sum($"kept").as("n_tokens_kept"),
        sum($"cap" - $"kept").as("n_pad_slots"))
      .withColumn("efficiency_ppm",
        expr("(n_tokens_kept * 1000000) div (n_docs * cap)"))
      .orderBy($"cap")
  }
  val lengthBucketPackSql: String = {
    val caseCap = BucketCaps.map(c => s"WHEN ntok <= $c THEN $c")
      .mkString("CASE ", " ", s" ELSE $MaxCap END")
    raw"""SELECT cap, COUNT(*) AS n_docs,
         |  CAST(SUM(kept) AS BIGINT) AS n_tokens_kept,
         |  CAST(SUM(cap - kept) AS BIGINT) AS n_pad_slots,
         |  (CAST(SUM(kept) AS BIGINT) * 1000000) // (COUNT(*) * cap) AS efficiency_ppm
         |FROM (
         |  SELECT cap, LEAST(ntok, cap) AS kept FROM (
         |    SELECT ntok, $caseCap AS cap FROM (
         |      SELECT CAST(len(${tokensSql("text")}) AS BIGINT) AS ntok
         |      FROM documents)))
         |GROUP BY cap ORDER BY cap""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("corpus_delta", corpusDelta _, corpusDeltaSql),
    QueryDef("dup_source_matrix", dupSourceMatrix _, dupSourceMatrixSql),
    QueryDef("ann_hard_negatives", annHardNegatives _, annHardNegativesSql),
    QueryDef("length_bucket_pack", lengthBucketPack _, lengthBucketPackSql),
  )
}
