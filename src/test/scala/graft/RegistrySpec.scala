package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.rows.{Registry, Row}

/** The row registry: one declaration per row, each with its oracle, in
  * the family file its name prefix names. */
class RegistrySpec extends AnyFunSuite {

  private def row(name: String): Row =
    Row(name, (_, _) => fail("run invoked"), "SELECT 1")

  test("a registry with a duplicate name fails and names the duplicate") {
    val e = intercept[IllegalArgumentException] {
      Registry.byName(Seq(row("dam_a"), row("ev_b"), row("dam_a")))
    }
    assert(e.getMessage.contains("dam_a"))
    assert(!e.getMessage.contains("ev_b"))
  }

  test("looking a plan up never builds its oracle") {
    val lazyRow = Row("ev_lazy", (_, _) => fail("run invoked"),
      throw new AssertionError("oracle built"))
    assert(Registry.byName(Seq(lazyRow))("ev_lazy").run != null)
    intercept[AssertionError](lazyRow.oracleSql)
  }

  test("every row has a non-empty oracle") {
    for ((_, rows) <- Registry.families; r <- rows)
      assert(r.oracleSql.trim.nonEmpty, r.name)
  }

  test("queries and oracleSql cover the same 195 rows") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 195)
  }

  test("each row's name carries the prefix of the family file declaring it") {
    for ((prefix, rows) <- Registry.families) {
      assert(rows.nonEmpty, prefix)
      for (r <- rows) assert(r.name.startsWith(prefix), s"${r.name} under $prefix")
    }
  }
}
