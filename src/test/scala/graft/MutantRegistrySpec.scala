package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.MutantQueries.Planted
import graft.plans.Mutate

/** MUTCHECK's registry stays runnable without a MUTCHECK run: no Spark
  * jobs, only the entries themselves.
  */
class MutantRegistrySpec extends AnyFunSuite {
  val entries = MutantQueries.entries
  val planted = entries.collect { case p: Planted => p }

  test("every mutant names a real key with an oracle") {
    for (e <- entries) {
      assert(SparkEntry.queries.contains(e.key), e.key)
      assert(SparkEntry.oracleSql.contains(e.key), e.key)
    }
  }

  test("(key, class) is unique, so no output overwrites another") {
    val dups = entries.groupBy(e => (e.key, e.clazz)).collect { case (kc, es) if es.size > 1 => kc }
    assert(dups.isEmpty)
  }

  test("each fixture is clean or an EdgeFixtures variant MUTCHECK generates") {
    for (e <- entries)
      assert(Set("clean", "nulls", "ties", "dupkeys")(e.fixture), s"${e.outName}: ${e.fixture}")
  }

  test("every Mutate operator is used, and every planted entry names one") {
    assert(planted.map(_.op).toSet === Mutate.ops.keySet)
    assert(planted.forall(_.site >= 0))
    // and the operator stands for the entry's defect class
    for (p <- planted) assert(Mutate.ops(p.op)(p.clazz), s"${p.outName}: ${p.op} does not stand for ${p.clazz}")
  }
}
