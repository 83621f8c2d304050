package graft

import CatalogSweep.queries

/** Smoke: every catalog query plans and executes on sf0.001, returns
  * rows, and gives only hints Spark can apply. The queries run once, in
  * [[CatalogSweep]]. (Value-level correctness is the DuckDB oracle gate —
  * scripts/check.py — not this suite.)
  */
class CatalogSpec extends SparkSpec {

  test("catalog names are unique and documented") {
    assert(graft.queries.Catalog.byName.size === queries.size)
    queries.foreach(q => assert(q.doc.nonEmpty, s"${q.name} missing doc"))
  }

  test("entry query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no oracle line starts with || (stripMargin would eat one pipe)") {
    // SparkEntry.oracleSql applies .stripMargin: a line whose first
    // non-blank characters are `||` silently becomes `|` and the oracle
    // breaks with a confusing binder error. Concatenate with concat(...)
    // or keep the operator at the end of the previous line.
    queries.flatMap(q => q.oracle.map(q.name -> _)).foreach {
      case (name, sql) =>
        sql.linesIterator.zipWithIndex.foreach { case (line, i) =>
          assert(!line.trim.startsWith("||"),
            s"$name oracle line ${i + 1} starts with || — stripMargin trap")
        }
    }
  }

  queries.foreach { q =>
    test(s"runs: ${q.name}") {
      val r = CatalogSweep(q.name)
      r.error.foreach(e => throw e)
      assert(r.plans.exists(_.columns > 0))
      assert(r.rows.exists(_ > 0), s"${q.name} returned 0 rows at sf0.001")
      assert(r.hintErrors.isEmpty, s"— ${q.name} gave a hint Spark cannot apply")
    }
  }
}
