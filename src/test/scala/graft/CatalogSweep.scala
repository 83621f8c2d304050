package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.Observation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.{count, lit}
import scala.jdk.CollectionConverters._

import graft.queries.{Catalog, Q}

/** Every catalog query, built, planned and executed once per test JVM.
  *
  * The catalog-wide suites (CatalogSpec, CodegenStrictSpec,
  * UnpartitionedWindowSpec, PlanSpec, PlanBudgetSpec) assert on the
  * [[Record]] each query leaves here; none of them builds a catalog
  * query itself. A build runs the builder's eager persists, counts and
  * writes, so one shared pass replaces six builds and two executions
  * per query.
  *
  * Each query runs on a session of its own ([[PlanBudget.session]]: the
  * confs the checked-in plan budget was recorded under), so it cannot
  * depend on what earlier queries installed in or left behind in a
  * session, and with whole-stage-codegen fallback off, so a generated
  * class that fails to compile throws instead of quietly demoting its
  * stage to interpreted evaluation. Plan facts are read from the
  * query's own `QueryExecution` before it executes; the one execution
  * writes the whole result to the `noop` sink (a `count()` would prune
  * the columns a writer reads, which can drop a join and the hint on
  * it) and counts its rows with an [[Observation]]. The ledger is
  * released after each query, as the catalog drivers do.
  */
object CatalogSweep {

  private val dir = "/root/testdata/sf0.001"

  /** The fixture directory every query is built against. */
  def fixtures: String = dir

  /** The catalog, for suites that read its names, docs or oracles. */
  def queries: Seq[Q] = Catalog.all

  /** What a query's plans show, read before it executes.
    *
    * @param columns          columns of the result
    * @param analyzedWindows  unpartitioned `Window` nodes in the analyzed
    *                         plan (before cached data is substituted)
    * @param optimizedWindows the same in the optimized plan
    * @param budget           [[PlanBudget.count]] of the initial
    *                         executed plan
    * @param tokenizers       lambda-invariant subtrees that tokenize or
    *                         case-fold text inside a lambda body, as SQL
    * @param scanRoots        root paths of every file scan, as local paths
    * @param initial          the initial executed plan, as text
    */
  final case class Plans(
      columns: Int,
      analyzedWindows: Int,
      optimizedWindows: Int,
      budget: PlanBudget.Counts,
      tokenizers: Seq[String],
      scanRoots: Seq[String],
      initial: String)

  /** One query's outcome: `plans` is None when it did not build or plan,
    * `rows` is None when it did not run, and `error` says why. */
  final case class Record(
      hintErrors: Seq[String],
      plans: Option[Plans],
      rows: Option[Long],
      error: Option[Throwable])

  private lazy val records: Map[String, Record] =
    queries.map(q => q.name -> sweep(q)).toMap

  def apply(name: String): Record = records(name)

  /** Queries whose build, plan or execution threw, in catalog order. */
  def failures: Seq[(String, Throwable)] =
    queries.flatMap(q => records(q.name).error.map(q.name -> _))

  /** `name`'s plan facts; throws its error when it did not plan. */
  def plansOf(name: String): Plans = {
    val r = records(name)
    r.plans.getOrElse(throw r.error.get)
  }

  /** Every query's plan facts, in catalog order. */
  def plans: Seq[(String, Plans)] = queries.map(q => q.name -> plansOf(q.name))

  private def sweep(q: Q): Record = {
    val s = PlanBudget.session(SparkSpec.session)
    s.conf.set("spark.sql.codegen.fallback", "false")
    var plans = Option.empty[Plans]
    var rows = Option.empty[Long]
    val (error, hints) = hintErrors {
      try {
        val df = q.spark(s, dir)
        val qe = df.queryExecution
        val plan = qe.executedPlan
        plans = Some(Plans(df.schema.size, windows(qe.analyzed),
          windows(qe.optimizedPlan), PlanBudget.count(plan), tokenizers(plan),
          scanRoots(plan), plan.toString))
        val n = Observation()
        df.observe(n, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        rows = Some(n.get("n").asInstanceOf[Long])
        None
      } catch { case e: Throwable => Some(e) }
    }
    graft.core.CacheLedger.release()
    Record(hints, plans, rows, error)
  }

  private def windows(plan: LogicalPlan): Int =
    plan.collect { case w: Window if w.partitionSpec.isEmpty => w }.size

  private def scanRoots(plan: SparkPlan): Seq[String] =
    PlanBudget.allNodes(plan)
      .collect { case f: FileSourceScanExec => f.relation.location.rootPaths }
      .flatten.map(_.toUri.getPath).distinct

  private def tokenizers(plan: SparkPlan): Seq[String] =
    PlanBudget.allNodes(plan).flatMap(_.expressions)
      .flatMap(_.collect { case h: HigherOrderFunction => h })
      .flatMap(_.functions.collect { case l: LambdaFunction => l.function })
      .flatMap(invariantTokenizers).map(_.sql)

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

  /** `body`'s result and the messages Spark's HintErrorLogger logged
    * while it ran. Spark logs there, and then ignores the hint, when a
    * join hint cannot be applied (say, broadcast on the preserved side of
    * an outer join). */
  private def hintErrors[A](body: => A): (A, Seq[String]) = {
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
    val a = try body finally { logger.removeAppender(appender); appender.stop() }
    (a, seen.asScala.toSeq)
  }
}
