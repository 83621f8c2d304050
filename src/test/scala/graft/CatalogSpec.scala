package graft

import graft.queries.Catalog
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import scala.jdk.CollectionConverters._

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

  /** Messages Spark's HintErrorLogger logs while `body` runs. Spark
    * logs there, and then ignores the hint, when a join hint cannot be
    * applied (say, broadcast on the preserved side of an outer join). */
  private def hintErrors(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("hint-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try body finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  // Each query on a session of its own: a query must not depend on what
  // earlier queries installed in or left behind in the session. Every
  // hint a query gives must be one Spark can apply.
  Catalog.all.foreach { q =>
    test(s"runs: ${q.name}") {
      val hints = hintErrors {
        val df = q.spark(spark.newSession(), sfDir)
        assert(df.schema.nonEmpty)
        // Plan the whole result: count() prunes the columns a writer
        // would read, which can drop a join and the hint on it.
        df.queryExecution.executedPlan
        val n = df.count()
        if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows at sf0.001")
      }
      assert(hints.isEmpty, s"— ${q.name} gave a hint Spark cannot apply")
    }
  }
}
