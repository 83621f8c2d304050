package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Per-query physical-plan exchange budget — the shuffle-count ratchet.
  *
  * The bench gate catches a query getting SLOWER; nothing so far caught a
  * query getting WIDER — an edit that leaves results identical and adds a
  * whole extra shuffle hides inside local-mode timing noise at sf0.1, then
  * costs a full corpus repartition at 100 TB. This module counts the
  * scale-relevant physical shapes of every catalog query's pre-execution
  * plan and pins them against a checked-in budget
  * (`docs/PLAN_BUDGET.json`):
  *
  *  - `sh` = [[ShuffleExchangeLike]] nodes (every one is a corpus-sized
  *    repartition at scale; ReusedExchange deliberately counts 0 — reuse
  *    is the optimization we WANT),
  *  - `bc` = [[BroadcastExchangeLike]] nodes (cheap but driver-memory
  *    bound; a budget regression here usually means a join flipped sides),
  *  - `cp` = [[CartesianProductExec]], `nl` =
  *    [[BroadcastNestedLoopJoinExec]] — the O(n·m) shapes; allowed only on
  *    the whitelist in `PlanBudgetSpec`, each entry carrying its proven
  *    small-side bound.
  *
  * `PlanBudgetSpec` reads the counts at sf0.001 from the test gate's one
  * catalog sweep (`CatalogSweep`, which builds each query as
  * [[forCatalog]] does) and fails any query that EXCEEDS its budget
  * (fewer is fine — improvements just make the ratchet refresh tighter). Refresh after a deliberate plan change with
  * `scripts/run_main.sh graft.PlanBudgetProbe` and review the diff like a
  * lockfile.
  */
object PlanBudget {

  final case class Counts(sh: Int, bc: Int, cp: Int, nl: Int) {
    def json: String = s"[$sh,$bc,$cp,$nl]"
    def exceeds(b: Counts): Boolean =
      sh > b.sh || bc > b.bc || cp > b.cp || nl > b.nl
  }

  /** Every physical node reachable from `root` — the one executed-plan
    * walker. Descends through the AQE wrapper (pre-execution
    * `executedPlan` = the initial plan, exchanges already inserted by
    * EnsureRequirements; after execution, the final plan), through the
    * query stages of a final plan (a `QueryStageExec` is a leaf to plain
    * TreeNode traversal), into cached-relation plans (each distinct
    * relation expanded once — a twice-scanned persist is one plan, not
    * two), and into subquery plans (scalar subqueries, DPP filters).
    * A cache a builder materialized before the query runs holds its
    * exchanges inside query stages, so [[count]] sees them too.
    */
  def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seenCaches = new java.util.IdentityHashMap[AnyRef, AnyRef]()
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p.foreach { n =>
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec
            if seenCaches.put(m.relation, m.relation) == null =>
          walk(m.relation.cachedPlan)
        case _ => ()
      }
      n.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  def count(root: SparkPlan): Counts = {
    val ns = allNodes(root)
    Counts(
      ns.count { case _: ShuffleExchangeLike => true; case _ => false },
      ns.count { case _: BroadcastExchangeLike => true; case _ => false },
      ns.count { case _: CartesianProductExec => true; case _ => false },
      ns.count { case _: BroadcastNestedLoopJoinExec => true; case _ => false })
  }

  /** A new session of `spark` with the plan-affecting confs the checked-in
    * budget was recorded under: a query built on it plans the same
    * whatever earlier queries set or installed in a session. Cached data
    * is shared between sessions, so a caller that builds several queries
    * releases [[graft.core.CacheLedger]] after each. */
  def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  /** Build every catalog query at `dir`, each on its own [[session]], and
    * count its plan shapes. */
  def forCatalog(spark: SparkSession, dir: String): Seq[(String, Counts)] =
    graft.queries.Catalog.all.map { q =>
      val c = count(q.spark(session(spark), dir).queryExecution.executedPlan)
      graft.core.CacheLedger.release()
      q.name -> c
    }.sortBy(_._1)

  private val entryRe =
    """"([a-z0-9_]+)":\[(\d+),(\d+),(\d+),(\d+)\]""".r

  /** No-dependency parse of the budget file (house style — see
    * Bench.parseBaseline). Missing file → empty map; the spec refuses an
    * empty budget loudly.
    */
  def parse(path: String): Map[String, Counts] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else
      entryRe
        .findAllMatchIn(Files.readString(p))
        .map(m =>
          m.group(1) -> Counts(m.group(2).toInt, m.group(3).toInt,
            m.group(4).toInt, m.group(5).toInt))
        .toMap
  }

  def render(dir: String, counts: Seq[(String, Counts)]): String = {
    val body = counts
      .map { case (n, c) => s""""$n":${c.json}""" }
      .mkString(",\n")
    s"""{"what":"per-query physical-plan exchange budget at sf0.001: [shuffles, broadcasts, cartesian, broadcast-nested-loop]; PlanBudgetSpec fails any query exceeding its row; refresh via scripts/run_main.sh graft.PlanBudgetProbe",
"dir":"$dir",
"n":${counts.size},
"counts":{
$body}}
"""
  }
}

/** `runMain graft.PlanBudgetProbe [sfDir] [outFile]` — regenerate the
  * checked-in budget after a DELIBERATE plan change. Uses the same session
  * shape as SparkSpec (local[4], 4 shuffle partitions) and builds each
  * query on a [[PlanBudget.session]], as the spec's sweep does, so the
  * spec's counts match bit-for-bit.
  */
object PlanBudgetProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "docs/PLAN_BUDGET.json"
    val spark = graft.core.Tables.localSession("4").getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")
    val counts = PlanBudget.forCatalog(spark, dir)
    Files.writeString(Paths.get(out), PlanBudget.render(dir, counts))
    val tot = counts.map(_._2)
    println(
      s"""{"queries":${counts.size},"shuffles":${tot.map(_.sh).sum},""" +
        s""""broadcasts":${tot.map(_.bc).sum},"cartesian":${tot
            .map(_.cp)
            .sum},"nested_loop":${tot.map(_.nl).sum},"out":"$out"}""")
    spark.stop()
  }
}
