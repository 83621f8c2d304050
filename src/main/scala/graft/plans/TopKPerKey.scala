package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Whole-operator custom plan: bounded top-k per key.
  *
  * The declarative form — `row_number() OVER (PARTITION BY key ORDER BY o)
  * <= k` — plans as Window, which SORTS every key group in full
  * (O(n log n) per partition, spillable sort of the whole input) and only
  * then discards everything past rank k. For small k over huge groups
  * (reference shape: latest-2 reservations per category,
  * src/gomus/events.py:40-129) the sort is almost entirely wasted work.
  *
  * This operator keeps a bounded binary heap per key instead:
  *
  *  - `TopKPerKeyExec(partial = true)` runs BEFORE the shuffle and caps
  *    every (partition, key) at k rows — map-side pre-reduction, so the
  *    exchange moves O(partitions × keys × k) rows, not the full input
  *    (the same reason hash aggregation does partial combine).
  *  - The exchange is requested declaratively: the final exec's
  *    `requiredChildDistribution` is ClusteredDistribution(keys), and
  *    EnsureRequirements inserts the hash exchange — the operator
  *    composes with AQE like any built-in.
  *  - `TopKPerKeyExec(partial = false)` merges the per-partition
  *    survivors into the true per-key top k. Correct because topk is an
  *    idempotent, merge-decomposable reduction: topk(A ∪ B) =
  *    topk(topk(A) ∪ topk(B)).
  *
  * Memory is O(keys-per-partition × k) rows — the operator's documented
  * contract (same class of bound as hash aggregation state). Ordering
  * must be TOTAL (caller includes a unique tiebreak) for deterministic
  * results, same as every catalog window.
  *
  * Installed from `graft.functions.GraftFunctions.strategies` by
  * `GraftFunctions.register` (experimental.extraStrategies) and by
  * `GraftExtensions` (injectPlannerStrategy) — the SparkSessionExtensions
  * route.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Fused top-k-per-key + within-group PAIR enumeration (r15).
  *
  * The LSH family pairs candidates by self-joining a TopKPerKey-capped
  * frame — both join forms pay twice (BHJ rebuilds the whole capped
  * pipeline as its broadcast side; shuffle_hash re-reads the exchange
  * and hash-builds per partition), and the declarative no-join
  * alternative (`groupBy(keys).agg(collect_list)` + explode) plans as
  * ObjectHashAggregate, which FALLS BACK TO SORT-BASED aggregation past
  * 128 distinct keys per task — a full sort of the capped frame where
  * the join had a hash probe (measured: ml_link_prediction 2.2 → 4.8 s).
  *
  * This node keeps TopKPerKey's exact bounded-heap mechanics (map-side
  * partial cap, one declaratively-requested hash exchange, final merge)
  * and emits each key's C(≤k, 2) strict-upper-triangle pairs straight
  * from the merged heaps — no join, no aggregate, no broadcast, no
  * sort of anything bigger than one k-row group. Memory stays
  * O(keys-per-partition × k) rows, identical to TopKPerKeyExec.
  *
  * Child contract (arranged by `TopK.pairsPerKey`): key columns, the
  * selection-order columns, and the flat payload columns, whose FIRST
  * is the id the old join compared with `<` and which is unique within
  * a key group. Output: the payload columns twice, prefixed `x_` and
  * `y_` — one row per pair with x_id < y_id (pairs are emitted in
  * ascending payload order, so the set equals the equi-join with an
  * `<` predicate; null-key rows are dropped by the public face,
  * matching equi-join null semantics).
  */
case class TopKPairsPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    payload: Seq[Attribute],
    xy: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = xy
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(xy)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPairsPerKey =
    copy(child = newChild)
}

/** Public face: `TopK.perKey(df, keys, order, k)` — the order list is
  * (column, ascending) pairs and MUST be total (include a unique
  * tiebreak). `df`'s session must have graft installed (`Q.spark`,
  * `GraftFunctions.register` or `GraftExtensions`); without
  * [[TopKStrategy]] the planner fails with "No plan for TopKPerKey". */
object TopK {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Descending}
  import org.apache.spark.sql.functions.{col, struct}

  def perKey(df: DataFrame, keyCols: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val node = TopKPerKey(
      keyCols.map(UnresolvedAttribute(_)),
      order.map { case (c, asc) =>
        SortOrder(UnresolvedAttribute(c), if (asc) Ascending else Descending)
      },
      k, df.queryExecution.logical)
    org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession, node)
  }

  /** Within-group pairs of the top-k rows per key (see
    * [[TopKPairsPerKey]]). `order` selects the k survivors exactly like
    * [[perKey]] (total order required); `payload` columns ride each
    * pair side FLAT, prefixed `x_` / `y_`, and their FIRST column must
    * be the unique-within-group id the replaced join compared with `<`
    * (pairs satisfy x_id < y_id). */
  def pairsPerKey(df: DataFrame, keyCols: Seq[String],
      order: Seq[(String, Boolean)], payload: Seq[String],
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val extraCols = (order.map(_._1) ++ payload)
      .filterNot(keyCols.contains).distinct
    val packed = df
      .filter(keyCols.map(col(_).isNotNull)
        .reduce((a: Column, b: Column) => a && b))
      .select((keyCols ++ extraCols).map(col): _*)
    val analyzed = packed.queryExecution.analyzed
    val byName = analyzed.output.map(a => a.name -> a).toMap
    val payloadAttrs = payload.map(byName(_))
    val xy = payloadAttrs.map(a =>
        AttributeReference("x_" + a.name, a.dataType, a.nullable)()) ++
      payloadAttrs.map(a =>
        AttributeReference("y_" + a.name, a.dataType, a.nullable)())
    val node = TopKPairsPerKey(
      keyCols.map(byName(_)),
      order.map { case (c, asc) =>
        SortOrder(byName(c), if (asc) Ascending else Descending)
      },
      k, payloadAttrs, xy, analyzed)
    org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession, node)
  }
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true,
        planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, partial) :: Nil
    case TopKPairsPerKey(keys, order, k, payload, xy, child) =>
      val partial = TopKPerKeyExec(keys, order, k, partial = true,
        planLater(child))
      TopKPairsExec(keys, order, k, payload, xy, partial) :: Nil
    case _ => Nil
  }
}

/** The per-partition grouped-heap build under both TopK execs: one
  * bounded heap per key, holding that key's best `k` rows (copies) seen
  * in this partition. Each heap is a max-heap on the ordering: its head is
  * the WORST retained row, evicted when a better one arrives (for
  * `orderBy(x.desc)`, "better" = larger x; LazilyGeneratedOrdering already
  * encodes the direction, so worst = max under it). */
private object GroupedTopK {
  def heaps(rows: Iterator[InternalRow], keys: Seq[Expression],
      order: Seq[SortOrder], k: Int, childOutput: Seq[Attribute])
      : Iterator[scala.collection.mutable.PriorityQueue[InternalRow]] = {
    val keyProj = UnsafeProjection.create(keys, childOutput)
    val rowOrd = new LazilyGeneratedOrdering(order, childOutput)
    val heaps = new java.util.HashMap[UnsafeRow,
      scala.collection.mutable.PriorityQueue[InternalRow]]()
    rows.foreach { row =>
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = scala.collection.mutable.PriorityQueue.empty(rowOrd)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < k) heap.enqueue(row.copy())
      else if (rowOrd.compare(row, heap.head) < 0) {
        heap.dequeue()
        heap.enqueue(row.copy())
      }
    }
    import scala.jdk.CollectionConverters._
    heaps.values().iterator().asScala
  }
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    child.execute().mapPartitions({ rows =>
      GroupedTopK.heaps(rows, keyExprs, sortOrder, limit, childOutput)
        .flatMap(_.iterator)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Final stage of [[TopKPairsPerKey]]: merge the map-side capped heaps
  * into the true per-key top k (same mechanics as
  * `TopKPerKeyExec(partial = false)`), then emit each key's
  * strict-upper-triangle pairs in ascending `_item` order. */
case class TopKPairsExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    payload: Seq[Attribute],
    xy: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = xy
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(xy)
  override def outputPartitioning: Partitioning =
    org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(
      child.outputPartitioning.numPartitions)

  // EXPLICIT partition count: the exchange's input is the narrow capped
  // frame, but this stage's OUTPUT is the pair fan-out (up to C(k,2)
  // rows per group) plus whatever partial aggregation sits above it —
  // AQE's byte heuristic sees only the tiny input and coalesces the
  // stage to a handful of tasks (r14 Finding C's lesson, same fix as
  // QueryBase.sortedByKeys: dedup_audio_fingerprint ×10 cold read
  // 24.7 s coalesced vs 19.6 s for the old parallel-probe BHJ). The
  // count follows the session's shuffle-partition setting — the
  // cluster-tuned value, not a local constant.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys,
      requiredNumPartitions = Some(conf.numShufflePartitions)) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    val payloadExprs: Seq[Expression] = payload
    val xyOut = xy
    child.execute().mapPartitions({ rows =>
      val heaps =
        GroupedTopK.heaps(rows, keyExprs, sortOrder, limit, childOutput)
      // Emission sorts each ≤k group ascending by the payload columns —
      // first payload column = the id the replaced join compared with
      // `<`, unique within a group — so pair (i, j) with i < j is
      // exactly x_id < y_id. Per GROUP: one sort of ≤k rows and ≤k
      // payload projections; per PAIR: two pointer sets on a reused
      // JoinedRow plus one FLAT result projection — the same emission
      // discipline as the non-codegen hash-join paths (an earlier form
      // re-encoded both sides as a nested struct per pair, and at
      // ~C(32,2) pairs per hot fingerprint that struct write dominated
      // the whole stage: audio ×10 cold 24.7 vs 19.6 s).
      val payloadProj = UnsafeProjection.create(payloadExprs, childOutput)
      val emitOrd = new LazilyGeneratedOrdering(
        payloadExprs.map(e => SortOrder(e,
          org.apache.spark.sql.catalyst.expressions.Ascending)), childOutput)
      val resultProj = UnsafeProjection.create(
        org.apache.spark.sql.types.StructType(
          xyOut.map(a => org.apache.spark.sql.types.StructField(
            a.name, a.dataType, a.nullable))))
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      heaps.flatMap { heap =>
        val arr = heap.toArray.sortWith((a, b) => emitOrd.compare(a, b) < 0)
          .map(r => payloadProj(r).copy())
        val n = arr.length
        Iterator.range(0, n - 1).flatMap { i =>
          joined.withLeft(arr(i))
          Iterator.range(i + 1, n).map { j =>
            resultProj(joined.withRight(arr(j)))
          }
        }
      }
    }, preservesPartitioning = false)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPairsExec =
    copy(child = newChild)
}
