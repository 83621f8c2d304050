package graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{MapGroupsExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.functions.JaroGuardedCmp
import graft.queries.Catalog

/** Physical-plan shape assertions for the round-7 operators — each
  * pins the structural claim its Scaladoc/SCALE.md row makes. Plans are
  * inspected as typed nodes through `PlanBudget.allNodes`, which
  * descends through the AQE wrapper and its query stages.
  */
class R7PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Every node of the query's final adaptive plan. */
  private def plan(name: String): Seq[SparkPlan] = {
    val df = Catalog.byName(name).spark(spark, sfDir)
    df.collect() // materialize so AQE finalizes the plan
    PlanBudget.allNodes(df.queryExecution.executedPlan)
  }

  private def names(es: Seq[Expression]): Seq[String] =
    es.flatMap(_.references.map(_.name))

  test("join_phonetic_soundex is a hash equi-join, not a nested loop") {
    val p = plan("join_phonetic_soundex")
    assert(p.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "phonetic blocking must plan as a broadcast HASH join on the block key")
    assert(!p.exists {
      case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => true
      case _ => false
    }, "no nested-loop/cartesian allowed — blocking is the whole point")
  }

  test("ml_hmm_viterbi streams a single user-keyed secondary-sorted fold") {
    val p = plan("ml_hmm_viterbi")
    // r9 form: flatMapSortedGroups = MapGroups over the user-keyed
    // exchange with a (key, us, event_id) secondary sort — the spillable
    // streaming fold, NOT a collected array.
    val folds = p.collect { case m: MapGroupsExec => m }
    assert(folds.size == 1,
      "the fold must stream through MapGroups (flatMapSortedGroups)")
    val key = folds.head.groupingAttributes.map(_.name)
    assert(p.exists {
      case s: SortExec => s.sortOrder.map(_.child).take(key.size + 1)
        .collect { case a: Attribute => a.name } == key :+ "us"
      case _ => false
    }, "rows must be secondary-sorted inside the user partition")
    assert(!p.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[CollectList])),
      "no collected per-user array anywhere in the plan")
    // one hash exchange for the grouping + one range exchange for the
    // final total ORDER BY — nothing else.
    val exchanges = p.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.size == 2 && exchanges.exists {
      case h: HashPartitioning => names(h.expressions) == key
      case _ => false
    } && exchanges.exists(_.isInstanceOf[RangePartitioning]),
      s"expected one user-key hash + one range exchange, got $exchanges")
  }

  test("pipe_sequence_pack windows are shard-partitioned, never global") {
    val ws = plan("pipe_sequence_pack").collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "the running offset is a window")
    assert(ws.forall(w => names(w.partitionSpec).contains("shard")),
      "the running offset must partition by shard — no global window " +
        s"allowed, got ${ws.map(_.partitionSpec)}")
  }

  test("ml_ridge_crossval is join-free: one grouped aggregate + window") {
    assert(!plan("ml_ridge_crossval").exists(_.isInstanceOf[BaseJoinExec]),
      "CV must come from sufficient-statistic algebra, not per-fold joins")
  }

  test("window_zscore_anomaly carries no join and one series partitioning") {
    val p = plan("window_zscore_anomaly")
    assert(!p.exists(_.isInstanceOf[BaseJoinExec]), "rolling z is window-only")
    val ws = p.collect { case w: WindowExec => w }
    assert(ws.nonEmpty &&
      ws.forall(w => names(w.partitionSpec).contains("event_type")),
      s"windows must partition by series key, got ${ws.map(_.partitionSpec)}")
  }

  test("jaro queries run the guarded/pruned forms") {
    assert(plan("join_jaro_prefilter").flatMap(_.expressions).exists(
      _.exists { case j: JaroGuardedCmp => !j.strict; case _ => false }),
      "the bound rule must have rewritten the bare threshold")
  }
}
