package graft.tools

/** Registry-wide physical-plan sweep for the two join shapes that do
  * not survive a 100× scale-up: CartesianProduct (|A|×|B| work with
  * full materialization) and BroadcastNestedLoopJoin over an UNBOUNDED
  * build side (broadcasting a relation that grows with the data OOMs
  * the driver first, the executors second). Prints, per offending
  * query, the node lines so each occurrence can be adjudicated: a BNLJ
  * whose build side is a grouping-free aggregate or a LIMIT is the
  * scale-SAFE scalar-broadcast pattern (1..k rows by construction) and
  * gets allowlisted in PlanGuardSpec; anything else is a regression.
  *
  * Clean queries print `ok <query> shuffles=N`, the main-tree shuffle
  * count ([[shuffleExchanges]]) that PlanGuardSpec budgets pin. Plans
  * come from the static [[graft.Session.plans]] session.
  *
  * Run: {{{ sbt -batch "runMain graft.tools.PlanScan /root/testdata/sf0.001" }}}
  * Shuffle counts for chosen queries (to pin a budget):
  * {{{ sbt -batch "runMain graft.tools.PlanScan <sfDir>" | grep -E ' (q_kcore|q_hits) ' }}}
  */
object PlanScan {

  /** Count of shuffle exchanges in a plan tree; BroadcastExchange
    * intentionally excluded — broadcast is the shape we WANT for dim
    * joins. Deliberately MAIN-TREE-ONLY (unlike the safety sweeps
    * below): the pinned budgets are defined on the driving plan, and
    * a scalar subquery's internal exchange executes once against
    * subquery-sized data. Callers must hand a NON-adaptive plan
    * (AQE's wrapper node hides the physical tree from collect). */
  def shuffleExchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    plan.collect { case _: ShuffleExchangeExec => 1 }.sum
  }

  /** Unique-key column per fixture table: an equality or small
    * literal-range predicate on one of these bounds the scan's output
    * independent of corpus size (the ANN/eval queries select their
    * probe sets as fixed key prefixes — `vec_id < 20` is ≤20 rows at
    * every scale factor because the key is dense-unique from 0). */
  private val uniqueKeyOf = Map(
    "embeddings.parquet" -> "vec_id", "documents.parquet" -> "doc_id",
    "customer.parquet" -> "c_custkey", "orders.parquet" -> "o_orderkey",
    "part.parquet" -> "p_partkey", "supplier.parquet" -> "s_suppkey",
    "nation.parquet" -> "n_nationkey", "region.parquet" -> "r_regionkey")

  /** Enumeration dimensions: constant-cardinality at every TPC-H scale
    * factor (region = 5, nation = 25) — a full scan of one is bounded. */
  private val constantDims = Set("region.parquet", "nation.parquet")

  /** The fixture table name a file scan reads, from its location. */
  private def scanTable(
      scan: org.apache.spark.sql.execution.FileSourceScanExec): String =
    scan.relation.location.rootPaths.headOption
      .map(_.getName).getOrElse("")

  /** True iff the scan's pushed data filters pin its unique key to a
    * constant set: equality/IN (≤ a handful of rows) or a `< n` /
    * `<= n` prefix with small literal n. */
  private def keyBoundedScan(
      scan: org.apache.spark.sql.execution.FileSourceScanExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    val key = uniqueKeyOf.getOrElse(scanTable(scan), return false)
    def isKey(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == key
      case _ => false
    }
    def small(l: Any): Boolean = l match {
      case n: Number => n.longValue >= 0 && n.longValue <= 100000L
      case _ => false
    }
    scan.dataFilters.exists {
      case EqualTo(a, _: Literal) if isKey(a) => true
      case EqualTo(_: Literal, b) if isKey(b) => true
      case In(a, vs) if isKey(a) && vs.forall(_.isInstanceOf[Literal]) => true
      case LessThan(a, Literal(v, _)) if isKey(a) => small(v)
      case LessThanOrEqual(a, Literal(v, _)) if isKey(a) => small(v)
      case GreaterThan(Literal(v, _), b) if isKey(b) => small(v)
      case GreaterThanOrEqual(Literal(v, _), b) if isKey(b) => small(v)
      case _ => false
    }
  }

  /** A grouping-free aggregate emits ONE row, but that row is only a
    * scale-independent BOUND if no aggregate function accumulates the
    * input into its output — collect_list/collect_set (and the listagg
    * family) produce a single row whose payload is corpus-sized, which
    * OOMs a broadcast build exactly like an unbounded relation. */
  private def accumulatesInput(fns: Seq[Any]): Boolean =
    fns.exists { f =>
      val n = f.getClass.getSimpleName
      n.contains("Collect") || n.contains("ListAgg")
    }

  /** Conservative proof that a physical subtree's output cardinality
    * is independent of the data scale — the soundness condition for a
    * nested-loop broadcast side. True iff every path from the root to
    * a leaf passes through a bound: a grouping-free aggregate (≤1 row),
    * a TOTAL-row limit/top-k, or a constant relation (literal local table,
    * literal range). Grouped aggregates, joins, unions, generators and
    * all row-preserving unary nodes propagate their children's bound;
    * a file/JDBC/stream scan reached without a bound above it means
    * the subtree grows with the corpus → false. Used by PlanGuardSpec
    * to adjudicate every BroadcastNestedLoopJoin in the registry. */
  def boundedOutput(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate._
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def ungroupedBound(a: BaseAggregateExec): Boolean =
      a.groupingExpressions.isEmpty &&
        !accumulatesInput(a.aggregateExpressions.map(_.aggregateFunction))
    p match {
      case a: HashAggregateExec => ungroupedBound(a) || boundedOutput(a.child)
      case a: ObjectHashAggregateExec =>
        ungroupedBound(a) || boundedOutput(a.child)
      case a: SortAggregateExec => ungroupedBound(a) || boundedOutput(a.child)
      // GlobalLimit/CollectLimit/TakeOrdered cap TOTAL rows; a bare
      // LocalLimit does NOT (it caps rows PER PARTITION, and partition
      // count grows with the corpus — LimitPushDown pushes LocalLimit
      // below joins while the global cap stays above, so certifying it
      // here would bless k × num_splits broadcast rows)
      case _: TakeOrderedAndProjectExec | _: CollectLimitExec |
           _: GlobalLimitExec => true
      case _: LocalTableScanExec | _: RangeExec => true // constant relations
      case r: ReusedExchangeExec => boundedOutput(r.child)
      case j: BaseJoinExec => boundedOutput(j.left) && boundedOutput(j.right)
      case f: FileSourceScanExec =>
        constantDims(scanTable(f)) || keyBoundedScan(f)
      case _: LeafExecNode => false // file/JDBC/stream scan: grows with data
      case other => other.children.forall(boundedOutput)
    }
  }

  /** All BroadcastNestedLoopJoin build sides in `plan` that fail
    * [[boundedOutput]], as printable snippets; empty = scale-safe.
    * SAFETY sweeps traverse WITH subqueries: `collect` alone never
    * descends into the physical subquery trees hanging off
    * expressions, so an unbounded join hidden inside a scalar/IN
    * subquery would otherwise escape the registry-wide guard. */
  def unboundedNestedLoops(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    plan.collectWithSubqueries {
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }
        if (boundedOutput(build)) None
        else Some(s"${j.joinType} build=${j.buildSide}:\n" +
          build.toString.linesIterator.take(12).mkString("\n"))
    }.flatten
  }

  /** CartesianProduct nodes in `plan` (subquery trees included —
    * see [[unboundedNestedLoops]]) — never acceptable at scale. */
  def cartesians(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    plan.collectWithSubqueries { case _: CartesianProductExec => 1 }.sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // static plans: AQE's wrapper node hides the tree from collect
    val spark = graft.Session.plans(adaptive = false)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val cart = cartesians(plan)
        val nlj = unboundedNestedLoops(plan)
        if (cart > 0 || nlj.nonEmpty)
          println(s"UNSAFE $name :: cartesians=$cart ${nlj.mkString(" | ")}")
        else
          println(s"ok $name shuffles=${shuffleExchanges(plan)}")
      } catch {
        case e: Throwable => println(s"ERR $name ${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        try { graft.Caches.drain(); spark.catalog.clearCache() } catch { case _: Throwable => }
      }
    }
    spark.stop()
  }
}
