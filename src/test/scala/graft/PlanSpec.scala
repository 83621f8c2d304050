package graft

import graft.queries.Catalog
import org.apache.spark.sql.catalyst.expressions._

/** Physical-plan shape regressions — the properties that make the catalog
  * hold up at 100 TB, asserted so a future edit can't silently trade them
  * away:
  *
  *  - small dims/lexicons broadcast (no shuffle of the fact side);
  *  - no cartesian product on fact × fact anywhere in the catalog;
  *  - filters reach the parquet scan (PushedFilters);
  *  - projections prune the scan (ReadSchema carries only used columns).
  *
  * Plans are built against sf0.001 (plan shape, not data, is under test).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Catalog.byName(name).spark(spark, dir)
      .queryExecution.executedPlan.toString

  test("small-dim joins broadcast") {
    assert(plan("join_multiway_broadcast").contains("BroadcastHashJoin"))
    assert(plan("join_lexicon_equality").contains("BroadcastHashJoin"))
    assert(plan("src_catalog_geocode").contains("BroadcastHashJoin"))
    assert(plan("text_embedding_lookup").contains("BroadcastHashJoin"))
  }

  test("KNN forecast is a broadcast cross join, never a shuffled cartesian") {
    val p = plan("ml_knn_forecast")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("exhibition_day interval join broadcasts the tiny dim") {
    val p = plan("view_exhibition_day")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  /** Maximal subtrees of a lambda body that do not depend on the lambda's
    * variables, are not a bare column or constant, and tokenize or
    * case-fold text: an interpreted `transform` body re-runs such a
    * subtree for every element instead of once per row. */
  private def invariantTokenizers(e: Expression): Seq[Expression] = {
    def tokenizer(x: Expression): Boolean = x match {
      case _: StringSplit | _: Lower | _: Upper => true
      case _ => x.getClass.getSimpleName.startsWith("RegExp")
    }
    e match {
      case _: Attribute | _: Literal => Nil
      case _ if !e.exists(_.isInstanceOf[NamedLambdaVariable]) =>
        if (!e.foldable && e.exists(tokenizer)) Seq(e) else Nil
      case _ => e.children.flatMap(invariantTokenizers)
    }
  }

  test("no cartesian products in any catalog plan") {
    // The dedup/similarity self-joins must stay keyed (band/bucket
    // equi-joins); pattern cross joins must broadcast their 2-row dim.
    // The two driver-fit ML stages execute eagerly at plan-build time, so
    // they are exercised implicitly (their final frames are tiny).
    // The same sweep checks that no lambda body tokenizes its row's text:
    // the token array is projected once, before the lambda indexes it.
    val tokenizing = Catalog.all.flatMap { q =>
      val plan = Catalog.byName(q.name).spark(spark, dir)
        .queryExecution.executedPlan
      assert(!plan.toString.contains("CartesianProduct"),
        s"${q.name} contains a cartesian product")
      val found = PlanBudget.allNodes(plan).flatMap(_.expressions)
        .flatMap(_.collect { case h: HigherOrderFunction => h })
        .flatMap(_.functions.collect { case l: LambdaFunction => l.function })
        .flatMap(invariantTokenizers)
      if (found.isEmpty) None else Some(s"${q.name}: ${found.head.sql}")
    }
    assert(tokenizing.isEmpty,
      "tokenizer evaluated per element inside a lambda:\n" +
        tokenizing.mkString("\n"))
  }

  test("filters are pushed down to the parquet scan") {
    val p = plan("join_fkey_violations")
    assert(p.contains("PushedFilters: [") && p.contains("IsNotNull"),
      s"expected pushed filters in:\n$p")
  }

  test("projections prune the scan schema") {
    // set_union_all touches only the nationkey columns; a scan that still
    // reads the wide comment/address columns would be a pruning break.
    val p = plan("set_union_all")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("c_comment") && !p.contains("c_address"),
      s"unpruned customer scan in:\n$p")
  }
}
