package graft

import graft.queries.Catalog

/** Smoke: every catalog query plans and executes on sf0.001, and the ones
  * that must be non-empty are. (Value-level correctness is the DuckDB
  * oracle gate — scripts/check.py — not this suite.)
  */
class CatalogSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // Queries whose result can legitimately be empty at sf0.001 (near-dup
  // pair mining on a 50-doc corpus).
  private val mayBeEmpty = Set(
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "join_theta_regex", "set_anti_membership",
    "text_ngram_phrases", "pipe_pos_pattern")

  test("catalog names are unique and documented") {
    assert(Catalog.byName.size === Catalog.all.size)
    Catalog.all.foreach(q => assert(q.doc.nonEmpty, s"${q.name} missing doc"))
  }

  test("entry query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no oracle line starts with || (stripMargin would eat one pipe)") {
    // SparkEntry.oracleSql applies .stripMargin: a line whose first
    // non-blank characters are `||` silently becomes `|` and the oracle
    // breaks with a confusing binder error. Concatenate with concat(...)
    // or keep the operator at the end of the previous line.
    Catalog.all.flatMap(q => q.oracle.map(q.name -> _)).foreach {
      case (name, sql) =>
        sql.linesIterator.zipWithIndex.foreach { case (line, i) =>
          assert(!line.trim.startsWith("||"),
            s"$name oracle line ${i + 1} starts with || — stripMargin trap")
        }
    }
  }

  // Each query on a session of its own: a query must not depend on what
  // earlier queries installed in or left behind in the session.
  Catalog.all.foreach { q =>
    test(s"runs: ${q.name}") {
      val df = q.spark(spark.newSession(), sfDir)
      assert(df.schema.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows at sf0.001")
    }
  }
}
