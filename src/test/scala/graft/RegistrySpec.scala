package graft

import graft.queries._

/** The query registry: each name declared once, an iteration order fixed
  * by the key set, and the always-train twin rule. */
class RegistrySpec extends SparkSpec {
  private def specs = SparkEntry.registry.specs
  private def twins = specs.collect { case QuerySpec(n, _, Twin(of)) => n -> of }

  test("a registry with a repeated name or a dangling twin throws") {
    val q = QuerySpec("q", (s, _) => s.range(1).toDF(), Gate("g"))
    val dup = intercept[IllegalArgumentException] {
      new Registry(Seq(q, q.copy(check = Oracle("SELECT 0 AS id"))))
    }
    assert(dup.getMessage.contains("more than once: q"), dup.getMessage)
    intercept[IllegalArgumentException] {
      new Registry(Seq(q, q.copy(name = "q_mine", check = Twin("absent"))))
    }
  }

  test("queries iterate in an order that depends on the key set alone") {
    // Bench warms up on the first key and then walks the map in order
    assert(SparkEntry.queries.isInstanceOf[scala.collection.immutable.HashMap[_, _]])
    assert(SparkEntry.queries.size == specs.size)
    assert(new Registry(specs.reverse).queries.keys.toSeq ==
      SparkEntry.queries.keys.toSeq)
  }

  test("every twin names an oracled original; every always-train _mine query is a twin") {
    val checks = specs.map(s => s.name -> s.check).toMap
    assert(twins.nonEmpty)
    twins.foreach { case (n, of) =>
      assert(checks(of).isInstanceOf[Oracle], s"$n twins $of: ${checks(of)}")
      assert(SparkEntry.oracleSql.get(n) == SparkEntry.oracleSql.get(of), n)
    }
    // bitext_mine mines translation pairs: an operator of its own, not a twin
    val mines = checks.keySet.filter(_.endsWith("_mine")) - "bitext_mine"
    val notTwins = mines.filterNot(n => checks(n).isInstanceOf[Twin])
    assert(notTwins.isEmpty, s"_mine queries not declared as twins: $notTwins")
  }

  test("each twin returns the same rows as its original") {
    twins.foreach { case (n, of) =>
      val twin = SparkEntry.queries(n)(spark, sf)
      val orig = SparkEntry.queries(of)(spark, sf)
      assert(twin.schema == orig.schema, n)
      assert(twin.exceptAll(orig).isEmpty && orig.exceptAll(twin).isEmpty, n)
    }
  }
}
