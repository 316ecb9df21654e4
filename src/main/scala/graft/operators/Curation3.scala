package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.queries.Tables

/** Round-13 curation additions: containment dedup, n-gram novelty
  * scoring, per-dimension embedding standardization, and
  * temperature-scaled source mixing.
  *
  * Same house rules as every operator module: bucketed/keyed joins only
  * (no all-pairs), exact decimal/integer arithmetic wherever a double
  * aggregate could drift across engines, every query hash-checked
  * against a DuckDB oracle.
  */
object Curation3 {
  /** Shingle-exploded corpus behind the [[Dedup.docShingles]] cache
    * discipline: persist the shingle-set frame, materialize it, and
    * LEAVE it cached — the cache is logical-plan-keyed, so every
    * shingle operator over the same dir shares one materialization, and
    * the returned (lazy) frame still has its cache boundary when the
    * caller finally executes it. The first r13 spelling unpersisted in
    * a `finally` that ran when the frame was BUILT, not when it was
    * executed, which put the tokenize-per-shingle fusion trap (8 s/pass
    * at sf0.1, see [[Dedup.docShinglesOf]]) right back into the executed
    * plan. */
  private def shingleEx(s: SparkSession, d: String): DataFrame = {
    val sets = Dedup.docShinglesOf(Tables.documents(s, d)).persist()
    sets.count() // materialize behind the cache boundary
    Dedup2.explodeSets(sets)
  }

  // ------------------------------------------------- containment dedup
  /** Containment threshold: |A∩B| / |A| ≥ 0.9 flags A as (near-)contained
    * in B. */
  private[graft] val ContainmentMin = 0.9

  /** Sub-document duplication: ordered pairs (a, b) where ≥90% of a's
    * shingles also appear in b — the asymmetric relation that catches a
    * document pasted INSIDE a larger one, which symmetric Jaccard
    * misses entirely (a 200-word doc inside a 2000-word doc has
    * jaccard ≈ 0.1 but containment ≈ 1.0). Standard in crawl curation
    * (quoted/syndicated content).
    *
    * Scale shape: identical to the Jaccard kernel — one equi-join on the
    * 64-bit shingle hash (shuffle on the hash key, hot shingles bounded
    * by the same df-cap reasoning), then a per-pair aggregate; only the
    * normalization differs (|A| instead of |A∪B|). No all-pairs anywhere.
    * Reference scope anchor: the reference delegates all row-level
    * relational work to the engine (README.md overview); this is an
    * extension operator over the fixture corpus. */
  def dedupContainment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = shingleEx(s, d)
    ex.as("a").join(ex.as("b"), $"a.s" === $"b.s" && $"a.doc_id" =!= $"b.doc_id")
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), $"a.sz".as("sz_a"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", $"inter".cast("double") / $"sz_a")
      .filter($"containment" >= ContainmentMin)
      .select($"a_id", $"b_id", $"containment")
      .orderBy($"a_id", $"b_id")
  }
  val dedupContainmentSql: String =
    s"""WITH ${Dedup.ShingleCteSql}
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |  COUNT(*)::DOUBLE / ANY_VALUE(a.sz) AS containment
       |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING COUNT(*)::DOUBLE / ANY_VALUE(a.sz) >= $ContainmentMin
       |ORDER BY a_id, b_id""".stripMargin

  // --------------------------------------------------- n-gram novelty
  /** Ordered-corpus novelty scoring: for each document, the fraction of
    * its distinct shingles whose FIRST owner (minimum doc_id over the
    * corpus) is the document itself. The curation signal for
    * dedup-aware data ordering: low-novelty documents late in the
    * corpus are mostly restatements of earlier text.
    *
    * Scale shape: the first-owner table is a shingle-keyed MIN aggregate
    * (map-side combined — the shingle dictionary, the same cardinality
    * every fuzzy-dedup kernel here already shuffles), joined back on the
    * shingle hash, then a per-doc aggregate. Two keyed shuffles, no
    * all-pairs, no window over the whole corpus. */
  def ngramNovelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ex = shingleEx(s, d)
    val firstOwner = ex.groupBy($"s").agg(min($"doc_id").as("first_doc"))
    ex.join(firstOwner, "s")
      .groupBy($"doc_id")
      .agg(
        (sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("novelty"),
        count(lit(1)).as("n_shingles"))
      .orderBy($"doc_id")
  }
  val ngramNoveltySql: String =
    s"""WITH ${Dedup.ShingleCteSql},
       |fo AS (SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY s)
       |SELECT e.doc_id,
       |  CAST(SUM(CASE WHEN fo.first_doc = e.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*) AS novelty,
       |  COUNT(*) AS n_shingles
       |FROM ex e JOIN fo ON e.s = fo.s
       |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin

  // --------------------------------------- per-dim standardization
  /** Per-dimension z-score standardization of the embedding corpus —
    * the preprocessing step in front of clustering/ANN when dimensions
    * carry different scales. Output is the standardized vector as a CSV
    * of round(z·10⁴) integers (the [[PipelineOps.embQuantizeInt8]]
    * serialization discipline: integer cells, so no cross-engine float
    * FORMATTING in the hash).
    *
    * Numeric discipline (the repo's decimal house rule, applied twice):
    * per-dimension Σx and Σx² go through exact DECIMAL sums — the
    * per-element double squares are IEEE-identical on both engines, the
    * decimal sums are order-independent, and every later step (μ, σ, z)
    * is a scalar IEEE op on identical inputs. A double Σ would be
    * summation-order-dependent and could flip a round() boundary.
    *
    * Scale shape: posexplode → one D-row aggregate keyed on dimension
    * (map-side combined, D=64 rows out), broadcast-joined back, then one
    * per-vector regroup. One corpus-scale shuffle on vec_id; the stats
    * frame is dimension-sized. */
  def embStandardize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(28, 12)
    val ex = Tables.embeddings(s, d)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "x")))
      .withColumn("xd", $"x".cast("double"))
    val stats = ex.groupBy($"pos").agg(
        (sum($"xd".cast(D)).cast("double") / count(lit(1))).as("mu"),
        (sum(($"xd" * $"xd").cast(D)).cast("double") / count(lit(1))).as("ex2"))
      .withColumn("sigma", sqrt(greatest($"ex2" - $"mu" * $"mu", lit(0.0))))
      .select($"pos", $"mu", $"sigma")
    ex.join(broadcast(stats), "pos")
      .withColumn("qz",
        when($"sigma" === 0.0, lit(0L))
          .otherwise(round(($"xd" - $"mu") / $"sigma" * 10000).cast("long")))
      .groupBy($"vec_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct($"pos", $"qz"))),
          e => e.getField("qz").cast("string")), ",").as("z_csv"))
      .orderBy($"vec_id")
  }
  val embStandardizeSql: String =
    """WITH ex AS (
      |  SELECT vec_id, u.ord - 1 AS pos, CAST(embedding[u.ord] AS DOUBLE) AS xd
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(ord)
      |), stats AS (
      |  SELECT pos,
      |    CAST(SUM(CAST(xd AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu,
      |    CAST(SUM(CAST(xd * xd AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS ex2
      |  FROM ex GROUP BY pos
      |), st AS (
      |  SELECT pos, mu, sqrt(greatest(ex2 - mu * mu, 0.0)) AS sigma FROM stats
      |)
      |SELECT e.vec_id,
      |  array_to_string(list(
      |    CAST(CASE WHEN st.sigma = 0.0 THEN 0
      |              ELSE CAST(round((e.xd - st.mu) / st.sigma * 10000) AS BIGINT)
      |         END AS VARCHAR) ORDER BY e.pos), ',') AS z_csv
      |FROM ex e JOIN st ON e.pos = st.pos
      |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin

  // ------------------------------------- temperature-scaled mixing
  /** Sampling budget (documents) allocated across sources. */
  private[graft] val MixBudget = 200L
  /** Weight quantization: sqrt weights scaled to integer micro-units so
    * ALL downstream allocation arithmetic is exact 64-bit integer math. */
  private val WScale = 1000000L

  /** Temperature-scaled source mixing (T5/multilingual-style): source i
    * with cᵢ total chars gets weight wᵢ ∝ cᵢ^0.5 — α = 0.5 upweights
    * small sources against the head. The budget of [[MixBudget]]
    * documents is allocated by largest remainder over the integerized
    * weights, so the allocation sums to the budget exactly and every
    * step after the sqrt is exact integer arithmetic (sqrt is
    * IEEE-correctly-rounded, hence bit-identical across engines — the
    * reason α is 0.5 and not an arbitrary pow(), which IEEE does not
    * pin down).
    *
    * Scale shape: one per-source aggregate (map-side combined, #sources
    * rows out) and window passes over the #sources-row frame — corpus
    * touched exactly once. */
  def mixTemperatureSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perSource = Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
      .withColumn("w", round(sqrt($"chars".cast("double")) * WScale).cast("long"))
    val all = Window.partitionBy() // #sources rows: single-partition by design
    val ranked = perSource
      .withColumn("w_tot", sum($"w").over(all))
      .withColumn("fl", expr(s"($MixBudget * w) div w_tot"))
      .withColumn("rem", $"w" * MixBudget - $"fl" * $"w_tot")
      .withColumn("leftover", lit(MixBudget) - sum($"fl").over(all))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy($"rem".desc, $"source")))
    ranked
      .select($"source", $"n_docs", $"chars",
        ($"fl" + when($"rk" <= $"leftover", 1L).otherwise(0L)).as("alloc"))
      .orderBy($"source")
  }
  val mixTemperatureSampleSql: String =
    s"""WITH per_source AS (
       |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars,
       |    CAST(round(sqrt(CAST(SUM(n_chars) AS DOUBLE)) * $WScale) AS BIGINT) AS w
       |  FROM documents GROUP BY source
       |), ranked AS (
       |  SELECT *,
       |    SUM(w) OVER () AS w_tot,
       |    ($MixBudget * w) // SUM(w) OVER () AS fl,
       |    w * $MixBudget - (($MixBudget * w) // SUM(w) OVER ()) * SUM(w) OVER () AS rem
       |  FROM per_source
       |), final AS (
       |  SELECT *,
       |    $MixBudget - SUM(fl) OVER () AS leftover,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
       |  FROM ranked)
       |SELECT source, n_docs, chars,
       |  CAST(fl + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM final ORDER BY source""".stripMargin

  val rows: Seq[QueryDef] = Seq(
    QueryDef("dedup_containment", dedupContainment _, dedupContainmentSql),
    QueryDef("ngram_novelty", ngramNovelty _, ngramNoveltySql),
    QueryDef("emb_standardize", embStandardize _, embStandardizeSql),
    QueryDef("mix_temperature_sample", mixTemperatureSample _, mixTemperatureSampleSql),
  )
}
