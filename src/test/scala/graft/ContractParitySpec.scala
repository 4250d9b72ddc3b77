package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract registry shape: each query is one `Q` record, so a
  * builder cannot lack its oracle SQL. The key-parity test guards the
  * `SparkEntry.queries`/`oracleSql` views against drifting apart (a
  * missing oracle silently downgrades a query to the rows-only check).
  * What can also go wrong is a name declared twice across the family
  * registries, which those name-keyed views would silently collapse to
  * one entry. */
class ContractParitySpec extends AnyFunSuite {

  test("queries and oracleSql cover exactly the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val noOracle = q -- o
    val orphaned = o -- q
    assert(noOracle.isEmpty,
      s"queries with NO oracle (rows-only check): ${noOracle.toSeq.sorted}")
    assert(orphaned.isEmpty,
      s"oracles with no query: ${orphaned.toSeq.sorted}")
  }

  test("each of the 334 query names is declared exactly once across the family registries") {
    val names = SparkEntry.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    assert(dups.isEmpty, s"names declared more than once: ${dups.toSeq.sorted}")
    assert(names.size == 334, s"${names.size} query records, expected 334")
    assert(SparkEntry.queries.size == names.size &&
      SparkEntry.oracleSql.size == names.size)
  }

  test("every query name is a well-formed q_* slug") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-slug query names: ${bad.toSeq.sorted}")
  }
}
