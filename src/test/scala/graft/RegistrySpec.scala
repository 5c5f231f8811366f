package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry` merges the modules' maps with `++`, which is
  * right-biased: a query name reused by a later module would silently
  * replace the earlier query (and its oracle) instead of failing.
  */
class RegistrySpec extends AnyFunSuite {
  private val modules = SparkEntry.modules

  test("no query name is registered by two modules") {
    val dups = modules.flatMap(_.queries.keys)
      .groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    assert(modules.map(_.queries.size).sum == SparkEntry.queries.size)
    assert(modules.map(_.oracles.size).sum == SparkEntry.oracleSql.size)
  }

  test("every oracle belongs to a query its own module registers") {
    modules.foreach { m =>
      val foreign = m.oracles.keySet -- m.queries.keySet
      assert(foreign.isEmpty, s"${m.getClass.getSimpleName} oracles for another " +
        s"module's queries: ${foreign.toSeq.sorted.mkString(", ")}")
    }
  }
}
