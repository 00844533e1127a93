package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the one list of queries: names are unique,
  * every record carries an oracle, the driver maps and the bench sweep
  * derive from it, and a hand-kept name list that drifts from it fails
  * by name. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.registry.map(_.name)

  test("two records with one name are rejected by name") {
    val q = SparkEntry.registry.head
    val other = SparkEntry.registry(1)
    val e = intercept[IllegalArgumentException](
      SparkEntry.index(Seq(q, other, q.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(q.name) && !e.getMessage.contains(other.name), e.getMessage)
  }

  test("the registry holds 220 distinct names, each with a non-blank oracle") {
    assert(names.size === 220)
    assert(names.distinct.size === names.size)
    val blank = SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"no oracle: ${blank.mkString(", ")}")
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.oracleSql === SparkEntry.registry.map(q => q.name -> q.oracle).toMap)
  }

  test("Bench sweeps the registry in order minus the pair family, then the family") {
    val family = Bench.pairFamily
    assert(family.nonEmpty && family.forall(names.contains),
      s"unregistered: ${family.filterNot(names.contains).mkString(", ")}")
    assert(Bench.soloRows ++ family === names.filterNot(family.contains) ++ family)
  }

  test("a lookup of unregistered names fails naming every one of them") {
    assert(SparkEntry.lookup(Seq(names(2), names(0))).map(_.name) === Seq(names(2), names(0)))
    val e = intercept[IllegalArgumentException](
      SparkEntry.lookup(Seq(names.head, "no_such_query", "dedup_renamed")))
    assert(e.getMessage.contains("no_such_query") && e.getMessage.contains("dedup_renamed"),
      e.getMessage)
  }
}
