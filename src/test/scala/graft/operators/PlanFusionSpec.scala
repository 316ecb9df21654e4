package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Law test for the tokenizer-fusion trap: when a higher-order-function
  * lambda body references the token array, CollapseProject / column
  * pruning can inline the tokenizer (`split`) INTO the lambda, so the
  * text is re-split once per shingle/n-gram instead of once per row —
  * a silent O(tokens) → O(tokens · grams) blowup (plan-verified 3.4×
  * end-to-end on the streaming-incremental-dedup gate when it hit
  * [[graft.operators.Dedup.docShinglesOf]]).
  *
  * This spec renders the OPTIMIZED plan of every tokenizing gate query
  * and asserts no `StringSplit` survives inside any `LambdaFunction`
  * body, so a refactor that drops a cache boundary or re-shapes a
  * projection fails here instead of shipping a per-gram re-tokenize.
  */
class PlanFusionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def splitsInsideLambdas(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreach { node =>
      node.expressions.foreach { e =>
        e.foreach {
          case lf: LambdaFunction =>
            lf.function.foreach { case _: StringSplit => n += 1; case _ => }
          case _ =>
        }
      }
    }
    n
  }

  // Every gate query that tokenizes free text (batch paths only; the
  // streaming variants reuse the same builders via foreachBatch).
  private val tokenizingQueries = Seq(
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_cc", "dedup_keep_canonical",
    "dedup_segments", "dedup_incremental",
    "dedup_substrings", "decontaminate", "dsir_resample", "text_cooccur",
    "text_repetition", "text_quality", "text_lang_id", "text_token_count",
    "text_fingerprint_groups", "text_perplexity", "tfidf_top_terms",
    "pii_redact", "corpus_stats", "top_ngrams", "filter_cascade",
    "doc_dup_frac", "budget_select", "split_leakage")

  test("no tokenizer is fused into a lambda body in any text query plan") {
    val offenders = tokenizingQueries.flatMap { name =>
      val fn = graft.SparkEntry.queries.getOrElse(
        name, fail(s"gate query $name disappeared from SparkEntry.queries"))
      val n = splitsInsideLambdas(fn(spark, sf).queryExecution.optimizedPlan)
      if (n > 0) Some(s"$name: $n split() call(s) inside lambda bodies") else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
