package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's one entry list: every entry carries its own
  * oracle, names are unique, and the entry filter rejects names it
  * does not know. None of these checks needs a Spark session. */
class EntryRegistrySpec extends AnyFunSuite {
  import SparkEntry.{Entry, entries, oracleSql, queries, registry, selected}

  test("the registry declares 252 entries") {
    assert(entries.size == 252)
  }

  test("queries and oracleSql have the same keys") {
    assert(queries.keySet == oracleSql.keySet)
    assert(queries.keySet == entries.map(_.name).toSet)
  }

  test("every entry has a non-blank oracle") {
    val blank = entries.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"entries with a blank oracle: $blank")
  }

  test("building the registry from a list with a repeated name throws") {
    val e = Entry("a", (s, _) => s.emptyDataFrame, "SELECT 1")
    val err = intercept[IllegalArgumentException] {
      registry(Seq(e, Entry("b", e.build, "SELECT 2"), e.copy(oracle = "SELECT 3")))
    }
    assert(err.getMessage.endsWith("declared more than once: a"), err.getMessage)
    assert(registry(Seq(e)) == Seq(e))
  }

  test("selected returns exactly the named entries, in name order") {
    assert(selected(None).map(_.name) == entries.map(_.name).sorted)
    val got = selected(Some(" q_topk,ii_field_values ,, q_topk"))
    assert(got.map(_.name) == Seq("ii_field_values", "q_topk"))
    assert(got.forall(e => e.oracle == oracleSql(e.name)))
  }

  test("selected throws on an unknown name, naming every unknown one") {
    val err = intercept[IllegalArgumentException] {
      selected(Some("q_topk,q_tpok,ii_feild_values"))
    }
    assert(err.getMessage.contains("ii_feild_values, q_tpok"), err.getMessage)
    intercept[IllegalArgumentException](selected(Some(" , ")))
  }
}
