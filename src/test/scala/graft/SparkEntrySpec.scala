package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {
  private def row(name: String): QueryDef =
    QueryDef(name, (_: SparkSession, _: String) => (null: DataFrame), s"SELECT '$name'")

  test("registryOf: a name in two modules fails and names every duplicate") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registryOf(Seq(row("a"), row("b"), row("c")), Seq(row("d")), Seq(row("c"), row("a")))
    }
    assert(e.getMessage.endsWith("names defined more than once: a, c"), e.getMessage)
  }

  test("registryOf: a name defined twice inside one module fails") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registryOf(Seq(row("a"), row("b"), row("a")), Seq(row("c")))
    }
    assert(e.getMessage.endsWith("names defined more than once: a"), e.getMessage)
  }

  test("every noOracle row is bound by a row that has oracle SQL") {
    val bounds = SparkEntry.registry.values.collect {
      case QueryDef(name, _, QueryDef.NoOracle(boundBy)) => name -> boundBy
    }.toMap
    assert(bounds == Map(
      "q42_approx_sketches" -> "q42_sketch_bound",
      "q51_approx_quantiles" -> "q51_quantile_bound"))
    bounds.foreach { case (name, boundBy) =>
      assert(SparkEntry.oracleSql.contains(boundBy), s"$name is bound by $boundBy, which has no SQL")
    }
  }

  test("lookup: resolves names in order and fails listing every unknown name") {
    assert(SparkEntry.lookup(Seq("q02_filter_project", "q01_pricing_summary")).map(_._1) ==
      Seq("q02_filter_project", "q01_pricing_summary"))
    val extra: QueryDef.Run = (_, _) => null
    assert(SparkEntry.lookup(Seq("arm", "q01_pricing_summary"), Map("arm" -> extra)).head._2 eq extra)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.lookup(Seq("q01_pricing_summary", "nope_b", "nope_a", "nope_b"))
    }
    assert(e.getMessage.contains("unknown query name(s): nope_a, nope_b; known: "), e.getMessage)
  }
}
