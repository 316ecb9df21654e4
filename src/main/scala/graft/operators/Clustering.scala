package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.functions.Parity.dotSql
import graft.functions.VectorOps
import graft.queries.Tables

/** K-means clustering over the embeddings table (Lloyd's algorithm),
  * built for determinism and scale:
  *
  *  - Assignment is pure codegen: per centroid, score = |c|² − 2·x·c
  *    (the |x|² term is constant under argmin) via the native
  *    [[VectorOps.dotf]] kernel against a broadcast literal centroid;
  *    argmin = array_min over (score, k) structs, ties to the lowest k.
  *    No UDF, no driver loop over rows — one narrow map per iteration.
  *  - Centroid update is a (cluster, dim) hash aggregate over FIXED-POINT
  *    coordinates: each x quantizes to round(x·2²⁰) (exact — a ×2²⁰ is an
  *    exponent shift, so the double is exact and only `round` discretizes),
  *    sums as BIGINT (exact, order-free), and divides back once in double.
  *    The new centroids therefore do not depend on partitioning or
  *    aggregation order (a plain double mean would drift run-to-run and
  *    break the gate's hash check), and every arithmetic step is a single
  *    IEEE operation both engines perform identically — which is what lets
  *    an ITERATIVE clustering loop be DuckDB-oracle-checked at all.
  *  - WCSS totals the same way: per-row dist² rounds to integer
  *    micro-units, sums exactly, divides once.
  *  - Only K×D numbers ever reach the driver per iteration.
  *
  * At 100 TB the same loop holds: the scan dominates, each iteration is
  * one map + one shuffle on (cluster, dim) — K·D groups — and the
  * centroid table stays driver-sized. Init is the K lowest vec_ids
  * (deterministic; k-means|| would replace it at real scale without
  * changing the iteration shape).
  */
object Clustering {
  private[operators] val K = 10
  private[operators] val Iters = 3
  /** 2^20: quantization step for exact fixed-point centroid sums. */
  private val Q = 1048576.0
  /** Micro-units for exact WCSS totals. */
  private val Micro = 1e6

  private def norm2(c: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
    acc
  }

  /** Adds `cluster` (argmin centroid) and `score` (|c|² − 2·x·c). */
  private[operators] def assign(emb: DataFrame, centroids: Array[Array[Float]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, k) =>
      struct(
        (lit(norm2(c)) - lit(2.0) * VectorOps.dotf(col("embedding"), lit(c))).as("s"),
        lit(k).as("k"))
    }
    emb.withColumn("best", array_min(array(scored: _*)))
      .withColumn("cluster", col("best.k"))
      .withColumn("score", col("best.s"))
      .drop("best")
  }

  /** One Lloyd update: fixed-point (cluster, dim) means; clusters absent
    * from the assignment keep their previous centroid. */
  private[operators] def updated(assigned: DataFrame, centroids: Array[Array[Float]]): Array[Array[Float]] = {
    import assigned.sparkSession.implicits._
    val means = assigned
      .select($"cluster", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"cluster", $"pos")
      .agg((sum(round($"x".cast("double") * Q).cast("long")).cast("double")
        / (count(lit(1)) * Q)).cast("float").as("m"))
      .collect()
    val next = centroids.map(_.clone())
    means.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getFloat(2))
    next
  }

  /** Exact micro-unit sum of the per-row squared distance, as a double. */
  private def wcssAgg = (sum(round((VectorOps.dotf(col("embedding"), col("embedding"))
    + col("score")) * Micro).cast("long")).cast("double") / Micro)

  /** Final per-cluster stats: size and exact (micro-summed) WCSS. */
  def embKmeans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding").persist()
    try {
      var centroids: Array[Array[Float]] = emb.orderBy($"vec_id").limit(K)
        .collect().map(_.getSeq[Float](1).toArray)
      for (_ <- 0 until Iters) {
        centroids = updated(assign(emb, centroids), centroids)
      }
      // the result is K rows — land it on the driver so the scan cache can
      // be dropped before this frame leaves the operator
      val rows = assign(emb, centroids)
        .groupBy($"cluster")
        .agg(count(lit(1)).as("n_vecs"), wcssAgg.as("wcss"))
        .orderBy($"cluster")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
      s.createDataFrame(rows).toDF("cluster", "n_vecs", "wcss")
    } finally emb.unpersist()
  }

  /** WCSS against the deterministic init centroids (spec baseline). */
  def initialWcss(s: SparkSession, d: String): Double = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val init = emb.orderBy($"vec_id").limit(K).collect().map(_.getSeq[Float](1).toArray)
    assign(emb, init).agg(wcssAgg).head.getDouble(0)
  }

  // ------------------------------------------------------ oracle SQL
  /** CTE chain replaying `iters` fixed-point Lloyd rounds over `emb$tag`
    * (columns vec_id, embedding), ending in centroid table `cent${iters}$tag`
    * and assignment view `fin$tag` (vec_id, embedding, k, s). */
  private[operators] def lloydSql(k: Int, iters: Int, dim: Int, tag: String): String = {
    def assignSql(cent: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, embedding, k, s FROM (
         |    SELECT e.vec_id, e.embedding, c.k,
         |      ${dotSql("c.cv", "c.cv")} - 2.0 * ${dotSql("e.embedding", "c.cv")} AS s,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${dotSql("c.cv", "c.cv")} - 2.0 * ${dotSql("e.embedding", "c.cv")}, c.k) AS rn
         |    FROM emb$tag e CROSS JOIN $cent c)
         |  WHERE rn = 1)""".stripMargin
    val init =
      s"""cent0$tag AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS k, embedding AS cv
         |  FROM emb$tag ORDER BY vec_id LIMIT $k)""".stripMargin
    val rounds = (1 to iters).map { it =>
      s"""${assignSql(s"cent${it - 1}$tag", s"asg$it$tag")},
         |upd$it$tag AS (
         |  SELECT k, list(m ORDER BY pos) AS cv FROM (
         |    SELECT k, pos,
         |      CAST(CAST(sum(q) AS DOUBLE) / (count(*) * $Q) AS REAL) AS m
         |    FROM (
         |      SELECT a.k, i.pos,
         |        CAST(round(CAST(a.embedding[i.pos] AS DOUBLE) * $Q) AS BIGINT) AS q
         |      FROM asg$it$tag a CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS pos) i)
         |    GROUP BY k, pos)
         |  GROUP BY k),
         |cent$it$tag AS (
         |  SELECT c.k, COALESCE(u.cv, c.cv) AS cv
         |  FROM cent${it - 1}$tag c LEFT JOIN upd$it$tag u USING (k))""".stripMargin
    }
    (init +: rounds).mkString(",\n") + ",\n" + assignSql(s"cent$iters$tag", s"fin$tag")
  }

  private def wcssSql(row: String) =
    s"CAST(sum(CAST(round((${dotSql(s"$row.embedding", s"$row.embedding")} + $row.s) * ${Micro}) AS BIGINT)) AS DOUBLE) / ${Micro}"

  val embKmeansSql: String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |${lloydSql(K, Iters, 64, "")}
       |SELECT f.k AS cluster, count(*) AS n_vecs,
       |  ${wcssSql("f")} AS wcss
       |FROM fin f GROUP BY f.k ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- PQ
  private val PqM = 4          // subspaces
  private val PqSub = 16       // dims per subspace (4 x 16 = 64)
  private val PqK = 16         // codes per subspace (4-bit codes)
  private val PqIters = 2

  /** Product quantization: an independent K-code codebook per subspace,
    * trained with the same deterministic Lloyd loop as [[embKmeans]]
    * (codegen'd assignment, fixed-point-exact centroid updates). A 64-dim
    * float vector compresses to M=4 4-bit codes — 256 B → 2 B, the
    * memory step that lets IVF-PQ indexes hold billions of vectors in
    * RAM at 100 TB corpus scale. Output: per-subspace code usage and
    * exact total squared reconstruction error (the codebook quality
    * metric), plus the compression ratio.
    *
    * Training cost per subspace-iteration is one scan + one (cluster,
    * dim) aggregate, all subspaces sharing the persisted base; only
    * M·K·PqSub floats reach the driver. */
  def embPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding").persist()
    try {
      embPqOn(s, d, emb)
    } finally emb.unpersist()
  }

  /** All-subspace PQ assignment in ONE pass: adds `best`, an array of
    * [[PqM]] tiny {s, k} structs — each subspace's argmin score and
    * code. The subspaces are independent, so scoring them in a single
    * projection does the work of M scans in one, and the per-subspace
    * arithmetic is exactly [[assign]]'s, so results are bit-identical
    * to the per-subspace loop. Only ~M·12 bytes ride along per row (a
    * first cut carried the sliced sub-vectors in the array too — the
    * allocation cost more than the scans it saved). */
  private def assignAllPq(emb: DataFrame, books: Array[Array[Array[Float]]]): DataFrame = {
    val elems = (0 until PqM).map { m =>
      val sub = slice(col("embedding"), m * PqSub + 1, PqSub)
      val scored = books(m).zipWithIndex.map { case (c, k) =>
        struct((lit(norm2(c)) - lit(2.0) * VectorOps.dotf(sub, lit(c))).as("s"),
          lit(k).as("k"))
      }
      array_min(array(scored: _*))
    }
    emb.withColumn("best", array(elems: _*))
  }

  /** The PQ training loop, shared by [[embPq]] and [[annTopKPq]]:
    * init = the PqK lowest vec_ids sliced per subspace driver-side
    * (identical floats to slicing in a projection first), then
    * [[PqIters]] Lloyd rounds where ONE posexplode of the full vector
    * updates ALL M codebooks (dimension p belongs to subspace p/PqSub;
    * one (m, cluster, pos) fixed-point aggregate, M·K·PqSub floats to
    * the driver, one job per iteration). */
  private[operators] def trainPqBooks(emb: DataFrame): Array[Array[Array[Float]]] = {
    val init = emb.orderBy(col("vec_id")).limit(PqK)
      .collect().map(_.getSeq[Float](1).toArray)
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(PqM)(m => init.map(_.slice(m * PqSub, (m + 1) * PqSub)))
    for (_ <- 0 until PqIters) {
      val means = assignAllPq(emb, books)
        .select(col("best"), posexplode(col("embedding")).as(Seq("p", "x")))
        .select((col("p") / PqSub).cast("int").as("m"),
          element_at(col("best"), (col("p") / PqSub).cast("int") + 1).getField("k").as("cluster"),
          (col("p") % PqSub).as("pos"), col("x"))
        .groupBy(col("m"), col("cluster"), col("pos"))
        .agg((sum(round(col("x").cast("double") * Q).cast("long")).cast("double")
          / (count(lit(1)) * Q)).cast("float").as("mn"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getFloat(3))
      books = next
    }
    books
  }

  /** Input key for the trained PQ codebooks of data dir `d`: path +
    * hyperparams + a fingerprint of the embeddings files themselves, so
    * regenerated data under the same path retrains instead of serving a
    * stale book. */
  private[operators] def pqBooksKey(d: String): String =
    s"pq-books|$d|M=$PqM,K=$PqK,sub=$PqSub,iters=$PqIters" +
      s"|in=${Models.inputFingerprint(s"$d/embeddings.parquet")}"

  /** The trained codebooks for `d`, through the train-once store:
    * first call runs [[trainPqBooks]] and commits the M·K codewords as
    * parquet; later calls (same JVM, artifact still committed) reuse the
    * deserialized copy with ZERO Lloyd jobs ([[Models]]; law pinned in
    * `ModelsSpec`). Training is deterministic, so a reloaded book is
    * bit-identical and the gate row stays hash-green. */
  private[operators] def pqBooks(s: SparkSession, d: String, emb: DataFrame): Array[Array[Array[Float]]] =
    Models.artifact[Array[Array[Array[Float]]]](pqBooksKey(d)) { dir =>
      val trained = trainPqBooks(emb)
      val rows = for (m <- 0 until PqM; k <- 0 until PqK) yield (m, k, trained(m)(k).toSeq)
      s.createDataFrame(rows.toSeq).toDF("m", "k", "cv")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    } { dir =>
      val books = Array.fill(PqM, PqK)(Array.empty[Float])
      s.read.parquet(dir).collect().foreach { r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
      }
      books
    }

  private def embPqOn(s: SparkSession, d: String, emb: DataFrame): DataFrame = {
    import s.implicits._
    val books = pqBooks(s, d, emb)
    // final stats: one aggregate, no explode — per subspace, distinct
    // codes used plus the exact micro-unit reconstruction-error sum
    val aggCols = (0 until PqM).flatMap { m =>
      val sub = slice($"embedding", m * PqSub + 1, PqSub)
      val err = round((VectorOps.dotf(sub, sub) + $"best" (m).getField("s")) * Micro)
        .cast("long")
      Seq(countDistinct($"best" (m).getField("k")).as(s"cd$m"), sum(err).as(s"w$m"))
    } :+ count(lit(1)).as("n")
    val r = assignAllPq(emb, books).agg(aggCols.head, aggCols.tail: _*).head()
    val stats = (0 until PqM).map { m =>
      (m, r.getLong(2 * m), r.getLong(2 * m + 1).toDouble / Micro, r.getLong(2 * PqM))
    }
    // 64 B of float32 per subspace vs one 4-bit code = 128x
    val compression = (PqSub * 4.0) / 0.5
    s.createDataFrame(stats).toDF("subspace", "codes_used", "sq_err", "n_vecs")
      .withColumn("compression_x", lit(compression))
      .orderBy($"subspace")
  }

  // ------------------------------------------------------ PQ-ADC search
  /** Asymmetric-distance (ADC) approximate top-K search over the PQ
    * codes — the missing fourth ANN variant (brute = exactness oracle,
    * LSH and IVF = bucketing scale paths, PQ-ADC = the memory scale
    * path). The corpus is represented ONLY by its M 4-bit codes; per
    * probe, an M×K table of subspace distances to every codebook entry
    * is computed once driver-side (M·K doubles — the whole point: the
    * probe never touches a corpus float), and each vector's distance is
    * the sum of M table lookups on its codes. This is how a
    * billion-vector index answers queries from RAM at 100 TB corpus
    * scale: 2 B per vector instead of 256 B.
    *
    * Plan shape: one encode projection over the corpus (the codegen'd
    * [[assignAllPq]] argmin), a broadcast of the [[Similarity.NProbes]]
    * probe rows carrying their literal distance tables, per-row scoring
    * as M `element_at` lookups + a fixed-order sum (all codegen'd), and
    * the same bounded per-probe window as the other ANN variants. The
    * arithmetic is the assignment scoring's (|c|² − 2·q·c per subspace,
    * left-to-right double sums), so DuckDB replays it bit-for-bit:
    * same Lloyd CTEs as `emb_pq`, then table-join scoring — the row is
    * hash-gated like the other ANN variants, no rows-only escape. */
  def annTopKPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Par.spread(Tables.embeddings(s, d).select($"vec_id", $"embedding"), $"vec_id")
      .persist()
    try {
      val books = pqBooks(s, d, emb)
      val encoded = assignAllPq(emb, books)
        .select($"vec_id",
          array((0 until PqM).map(m => $"best" (m).getField("k")): _*).as("codes"))
      val probeRows = emb.orderBy($"vec_id").limit(Similarity.NProbes).collect()
        .map { r =>
          val v = r.getSeq[Float](1).toArray
          val dtab: Seq[Seq[Double]] = (0 until PqM).map { m =>
            val sub = v.slice(m * PqSub, (m + 1) * PqSub)
            (0 until PqK).map(k => norm2(books(m)(k)) - 2.0 * dotArr(sub, books(m)(k)))
          }
          (r.getLong(0), dtab)
        }.toSeq
      val probes = s.createDataFrame(probeRows).toDF("query_id", "dtab")
      val scored = encoded.crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("adc", round(
          (0 until PqM).map(m =>
            element_at(element_at($"dtab", m + 1), $"codes" (m) + 1)).reduce(_ + _), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"adc", $"vec_id")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"query_id", $"rank", $"vec_id".as("neighbor_id"), $"adc")
        .orderBy($"query_id", $"rank")
    } finally emb.unpersist()
  }

  private def dotArr(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** The per-subspace Lloyd CTE chains of the PQ codebooks (final
    * assignments `fin<m>`, centroids `cent<PqIters><m>`), shared by the
    * PQ oracles. */
  private val PqLloydCtesSql: String = (0 until PqM).map { m =>
    s"""emb$m AS (SELECT vec_id, embedding[${m * PqSub + 1}:${(m + 1) * PqSub}] AS embedding
       |  FROM embeddings),
       |${lloydSql(PqK, PqIters, PqSub, m.toString)}""".stripMargin
  }.mkString(",\n")

  val annTopKPqSql: String = {
    val dtabs = (0 until PqM).map { m =>
      val sub = s"p.embedding[${m * PqSub + 1}:${(m + 1) * PqSub}]"
      s"""dt$m AS (
         |  SELECT p.query_id, c.k,
         |    ${dotSql("c.cv", "c.cv")} - 2.0 * ${dotSql(sub, "c.cv")} AS d
         |  FROM probes p CROSS JOIN cent$PqIters$m c)""".stripMargin
    }
    val codeJoins = (1 until PqM).map(m => s"JOIN fin$m f$m USING (vec_id)").mkString(" ")
    val dtJoins = (0 until PqM)
      .map(m => s"JOIN dt$m d$m ON d$m.query_id = p.query_id AND d$m.k = v.k$m").mkString("\n  ")
    val sum = (1 until PqM).foldLeft("d0.d")((acc, m) => s"($acc + d$m.d)")
    s"""WITH $PqLloydCtesSql,
       |probes AS (
       |  SELECT vec_id AS query_id, embedding FROM embeddings ORDER BY vec_id
       |  LIMIT ${Similarity.NProbes}),
       |${dtabs.mkString(",\n")},
       |codes AS (
       |  SELECT vec_id, ${(0 until PqM).map(m => s"f$m.k AS k$m").mkString(", ")}
       |  FROM fin0 f0 $codeJoins),
       |scored AS (
       |  SELECT p.query_id, v.vec_id, ROUND($sum, 6) AS adc
       |  FROM codes v CROSS JOIN probes p
       |  $dtJoins
       |  WHERE v.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id AS neighbor_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, adc FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  val embPqSql: String = {
    val selects = (0 until PqM).map { m =>
      s"""SELECT $m AS subspace, count(DISTINCT f.k) AS codes_used,
         |  ${wcssSql("f")} AS sq_err,
         |  count(*) AS n_vecs, CAST(128.0 AS DOUBLE) AS compression_x
         |FROM fin$m f""".stripMargin
    }
    s"WITH $PqLloydCtesSql\n" +
      selects.mkString("\nUNION ALL\n") + "\nORDER BY subspace"
  }

  // ------------------------------------------------- per-source centroids
  /** Per-source mean embedding ("domain embedding profiles"): the corpus
    * fingerprint a curation pipeline tracks per data source — drift in a
    * source's centroid between ingests flags a content change upstream
    * before any downstream metric moves. Output is one (source, dim)
    * row per centroid coordinate, so the gate hashes scalars (no array
    * cells).
    *
    * Scale shape: one doc↔embedding equi-join, a posexplode (pure map,
    * ×dim fan-out of 8-byte values), and one (source, dim)-keyed hash
    * agg — map-side combined, output is |sources|·dim rows. The mean
    * uses the same 2^20 fixed-point sum as the Lloyd loops, so it is one
    * identical IEEE division on both engines. */
  def sourceCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source")
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    docs.join(emb, $"doc_id" === $"vec_id")
      .select($"source", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"source", $"pos".cast("long").as("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(round($"x".cast("double") * Q).cast("long")).cast("double")
          / (count(lit(1)) * Q)).as("mean_val"))
      .orderBy($"source", $"pos")
  }
  val sourceCentroidsSql: String =
    s"""WITH j AS (
       |  SELECT d.source, e.embedding FROM documents d
       |  JOIN embeddings e ON d.doc_id = e.vec_id
       |), x AS (
       |  SELECT source, CAST(gs - 1 AS BIGINT) AS pos,
       |    CAST(round(CAST(embedding[gs] AS DOUBLE) * $Q) AS BIGINT) AS fx
       |  FROM j, UNNEST(generate_series(1, len(embedding))) AS u(gs))
       |SELECT source, pos, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(CAST(SUM(fx) AS BIGINT) AS DOUBLE) / (COUNT(*) * $Q) AS mean_val
       |FROM x GROUP BY source, pos ORDER BY source, pos""".stripMargin

  // ------------------------------------------------ power iteration
  /** Power-iteration rounds for [[embTopPc]]. */
  private[graft] val PcIters = 6

  /** Dominant principal direction of the (uncentered) embedding matrix
    * via distributed power iteration (`emb_top_pc`) — the top
    * right-singular vector, the one-vector summary behind whitening,
    * drift dashboards, and "is one axis eating the variance" checks.
    * (Centering composes by running it after `emb_standardize`.)
    *
    * Each of the [[PcIters]] fixed rounds computes w = Xᵀ(Xv) with NO
    * per-row state and NO big shuffle: `s = <x, v>` is a narrow
    * per-row fold (v is a 64-double literal baked into the plan),
    * `w_j = Σ x_j·s` is a 64-group aggregate with map-side partials,
    * and the 64-row result collects to the driver (the Lloyd-class
    * K-bounded coordination every iterative kernel here uses), which
    * L1-normalizes and bakes the next v. Cost per round = one scan;
    * the whole operator is PcIters scans — at 100 TB you'd run it on
    * the standing sample or fold rounds into one pass per epoch.
    *
    * Cross-engine exactness (the trick that lets an ITERATIVE spectral
    * method be hash-gated): every float enters as the same parquet
    * bits, every multiply is one correctly-rounded IEEE op in an
    * identical left-to-right order, and every value that crosses rows
    * is floor-quantized to integer micros FIRST — so all sums are
    * exact 64-bit adds and no engine ever sees the other's
    * accumulation order. L1 (not L2) normalization keeps the norm an
    * exact integer too. Magnitude audit: |x|≤1, |v|≤1 ⇒ s_micro ≤
    * 64e6, c ≤ 64e6, w ≤ n·64e6 — exact doubles up to n ≈ 1.4e8 rows;
    * beyond that the units drop to millis (same discipline, documented
    * here rather than hidden). */
  /** The converged `(component, v_micro, l1_w)` table, trained once per
    * (data, iters) into the Models store — the direction is an INDEX
    * artifact like the IVF centroids: every consumer ([[embTopPc]],
    * `emb_pca_project`) reloads it without re-running the six scans. */
  private[graft] def topPcTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Models.root(s"top-pc|$d|iters=$PcIters" +
        s"|in=${Models.inputFingerprint(s"$d/embeddings.parquet")}") { out =>
      val emb = Par.spread(Tables.embeddings(s, d).select($"vec_id", $"embedding"), $"vec_id")
      val dim = 64
      var vm = Array.fill(dim)(1000000L)
      var l1 = 0L
      for (_ <- 1 to PcIters) {
        val v = vm.map(_.toDouble / 1000000.0)
        val vLit = typedlit(v)
        // Σ_k floor(x_k · v_k · 1e6): per-element micro quantization, then
        // an exact long fold — order-free by construction
        val sm = aggregate(
          zip_with($"embedding", vLit, (x, y) =>
            floor(x.cast("double") * y * lit(1000000.0)).cast("long")),
          lit(0L), (a, c) => a + c)
        val w = emb
          .select($"embedding", sm.as("sm"))
          .select(posexplode($"embedding").as(Seq("j", "x")), $"sm")
          .select($"j",
            floor($"x".cast("double") * $"sm".cast("double")).cast("long").as("c"))
          .groupBy($"j").agg(sum($"c").as("w"))
          .orderBy($"j").collect()
        val wv = (0 until dim).map { j => w.find(_.getInt(0) == j).map(_.getLong(1)).getOrElse(0L) }
        l1 = wv.map(math.abs).sum
        vm = wv.map(wj => math.floor(wj.toDouble / l1.toDouble * 1000000.0).toLong).toArray
      }
      val rows = vm.zipWithIndex.map { case (m, j) => (j.toLong, m, l1) }
      s.createDataset(rows.toSeq).toDF("component", "v_micro", "l1_w")
        .coalesce(1).write.mode("overwrite").parquet(out)
    }
    s.read.parquet(dir)
  }

  def embTopPc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    topPcTable(s, d).orderBy($"component")
  }
  /** DuckDB replica of [[embTopPc]]: the same [[PcIters]] rounds
    * unrolled as CTE stages — identical per-op IEEE arithmetic, identical
    * micro quantization, so the iterative spectral kernel hash-matches. */
  val embTopPcSql: String = {
    val dim = 64
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, CAST(t.j AS INT) AS j,
         |    CAST(embedding[CAST(t.j AS INT) + 1] AS DOUBLE) AS x
         |  FROM embeddings, range($dim) t(j)
         |), v0 AS MATERIALIZED (SELECT CAST(t.j AS INT) AS j, CAST(1000000 AS BIGINT) AS vm
         |          FROM range($dim) t(j))"""
    val iters = (1 to PcIters).map { t =>
      s""",
         |s$t AS MATERIALIZED (
         |  SELECT vec_id,
         |    SUM(CAST(FLOOR(e.x * (CAST(v.vm AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT)) AS sm
         |  FROM e JOIN v${t - 1} v USING (j) GROUP BY vec_id),
         |w$t AS MATERIALIZED (
         |  SELECT e.j, SUM(CAST(FLOOR(e.x * CAST(s.sm AS DOUBLE)) AS BIGINT)) AS w
         |  FROM e JOIN s$t s USING (vec_id) GROUP BY e.j),
         |v$t AS MATERIALIZED (
         |  SELECT j, CAST(FLOOR((CAST(w AS DOUBLE)
         |    / CAST(SUM(ABS(w)) OVER () AS DOUBLE)) * 1000000.0) AS BIGINT) AS vm
         |  FROM w$t)"""
    }.mkString
    val tail =
      s"""
         |SELECT CAST(j AS BIGINT) AS component, vm AS v_micro,
         |  (SELECT CAST(SUM(ABS(w)) AS BIGINT) FROM w$PcIters) AS l1_w
         |FROM v$PcIters ORDER BY component"""
    (head + iters + tail).stripMargin
  }

  /** Projection onto the standing top principal direction
    * (`emb_pca_project`): per-probe 1-D coordinates plus the global
    * variance-explained ratio — the "is one axis eating the variance"
    * readout, and the proof that [[topPcTable]] is a reusable index
    * artifact (this operator runs ZERO power-iteration scans; it
    * reloads the trained direction from the Models store).
    *
    * One scan computes both per-row micro projections t = ⌊x·v·10⁶⌋
    * (element-quantized fold, order-free) and micro norms; t² sums in
    * DECIMAL(38,0); the variance-explained ppm is one floor'd double
    * DAG over three exact integers (Cauchy-Schwarz bounds it ≤ 1e6,
    * law-pinned). The probe rows are the canonical 64 smallest
    * vec_ids; the one-row totals frame crossJoins in (bounded,
    * whitelisted). */
  def embPcaProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vm = topPcTable(s, d).orderBy($"component").collect().map(_.getLong(1))
    val v = vm.map(_.toDouble / 1000000.0)
    val v2 = vm.map { m =>
      val x = m.toDouble / 1000000.0
      math.floor(x * x * 1000000.0).toLong
    }.sum
    val vLit = typedlit(v)
    val emb = Par.spread(Tables.embeddings(s, d).select($"vec_id", $"embedding"), $"vec_id")
    val t = aggregate(
      zip_with($"embedding", vLit, (x, y) =>
        floor(x.cast("double") * y * lit(1000000.0)).cast("long")),
      lit(0L), (a, c) => a + c)
    val n2 = aggregate(
      transform($"embedding", x =>
        floor(x.cast("double") * x.cast("double") * lit(1000000.0)).cast("long")),
      lit(0L), (a, c) => a + c)
    val scored = emb.select($"vec_id", t.as("t"), n2.as("n2"))
    val totals = scored.agg(
      sum(($"t" * $"t").cast(DecimalType(38, 0))).as("tt"),
      sum($"n2").as("nn"))
      .select(floor(expr(
        s"(CAST(tt AS DOUBLE) * 1000000.0) / (CAST($v2 AS DOUBLE) * CAST(nn AS DOUBLE))"))
        .cast("long").as("ve_ppm"))
    scored.orderBy($"vec_id").limit(64)
      .crossJoin(broadcast(totals))
      .select($"vec_id", $"t".as("proj_micro"), $"ve_ppm")
      .orderBy($"vec_id")
  }
  /** DuckDB replica: the trained direction replayed via [[embTopPcSql]],
    * then the identical projection arithmetic. */
  val embPcaProjectSql: String =
    // MATERIALIZED: pc nests the whole unrolled power iteration and is
    // referenced twice; without the hint DuckDB's CTE inlining re-expands
    // the iteration tree per reference and planning blows up
    s"""WITH pc AS MATERIALIZED (SELECT component AS j, v_micro AS vm FROM ($embTopPcSql)),
       |e AS MATERIALIZED (
       |  SELECT vec_id, CAST(t.j AS INT) AS j,
       |    CAST(embedding[CAST(t.j AS INT) + 1] AS DOUBLE) AS x
       |  FROM embeddings, range(64) t(j)
       |), tn AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    SUM(CAST(FLOOR(e.x * (CAST(p.vm AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT)) AS t,
       |    SUM(CAST(FLOOR(e.x * e.x * 1000000.0) AS BIGINT)) AS n2
       |  FROM e JOIN pc p USING (j) GROUP BY e.vec_id
       |), vv AS (
       |  SELECT SUM(CAST(FLOOR((CAST(vm AS DOUBLE) / 1000000.0)
       |    * (CAST(vm AS DOUBLE) / 1000000.0) * 1000000.0) AS BIGINT)) AS v2 FROM pc
       |), ve AS (
       |  SELECT CAST(FLOOR((CAST(SUM(t * t) AS DOUBLE) * 1000000.0)
       |    / (CAST((SELECT v2 FROM vv) AS DOUBLE) * CAST(CAST(SUM(n2) AS BIGINT) AS DOUBLE))) AS BIGINT) AS ve_ppm
       |  FROM tn)
       |SELECT vec_id, CAST(t AS BIGINT) AS proj_micro,
       |  (SELECT ve_ppm FROM ve) AS ve_ppm
       |FROM tn
       |WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 64)
       |ORDER BY vec_id""".stripMargin

  /** Full DuckDB replicas of both Lloyd loops: fixed-point arithmetic
    * makes every step a single identical IEEE operation on both engines,
    * so even iterative clustering is hash-gated. */
  val rows: Seq[QueryDef] = Seq(
    QueryDef("emb_pca_project", embPcaProject _, embPcaProjectSql),
    QueryDef("emb_top_pc", embTopPc _, embTopPcSql),
    QueryDef("source_centroids", sourceCentroids _, sourceCentroidsSql),
    QueryDef("emb_kmeans", embKmeans _, embKmeansSql),
    QueryDef("emb_pq", embPq _, embPqSql),
    QueryDef("ann_topk_pq", annTopKPq _, annTopKPqSql),
  )
}
