package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry refuses what a Map merge would silently drop: a
  * duplicate query key (across or within modules), a duplicate oracle
  * key, and an oracle with no query.
  */
class RegistrySpec extends AnyFunSuite {

  private val q: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  private class Fake(val defs: Seq[(String, (SparkSession, String) => DataFrame)],
      val oracles: Seq[(String, String)]) extends QueryModule

  private object FakeA extends Fake(Seq("a1" -> q, "shared" -> q),
    Seq("a1" -> "SELECT 1"))
  private object FakeB extends Fake(Seq("b1" -> q, "shared" -> q), Nil)
  private object FakeDup extends Fake(Seq("d1" -> q, "d1" -> q), Nil)
  private object FakeOrphan extends Fake(Seq("o1" -> q),
    Seq("o1" -> "SELECT 1", "ghost" -> "SELECT 2"))
  private object FakeDupOracle extends Fake(Seq("x1" -> q),
    Seq("x1" -> "SELECT 1", "x1" -> "SELECT 2"))

  private def refusal(modules: QueryModule*): String =
    intercept[IllegalArgumentException](SparkEntry.registry(modules)).getMessage

  test("a query key defined in two modules refuses, naming the key and both modules") {
    val m = refusal(FakeA, FakeB)
    assert(m.contains("`shared`") && m.contains("FakeA") && m.contains("FakeB"), m)
  }

  test("a query key defined twice in one module refuses") {
    val m = refusal(FakeA, FakeDup)
    assert(m.contains("`d1`") && m.contains("FakeDup"), m)
  }

  test("duplicate oracle keys and oracles with no query refuse") {
    val d = refusal(FakeDupOracle)
    assert(d.contains("oracle key `x1`") && d.contains("FakeDupOracle"), d)
    val o = refusal(FakeA, FakeOrphan)
    assert(o.contains("`ghost`") && o.contains("FakeOrphan") && o.contains("no query"), o)
  }

  test("distinct modules merge; the shipped registry has an oracle per query") {
    val (qs, os) = SparkEntry.registry(Seq(FakeA,
      new Fake(Seq("o1" -> q), Seq("o1" -> "SELECT 1"))))
    assert(qs.keySet == Set("a1", "shared", "o1") && os.keySet == Set("a1", "o1"))
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
