package graft.plans

import graft.sources.SqlBackend

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

/** Logical leaf carrying a complete generated SQL string destined for the
  * backend — the analog of the reference's `SqlAstPlanNode` extension node
  * (`src/node.rs:22-33`) that replaces the largest convertible subtree.
  *
  * `sliceGen` defers the window-slice RANGE PROBES (COUNT/MIN/MAX +
  * quantile seeks against the live backend, see
  * `SqlPushdownRule.windowSlices`) out of the optimizer: planning — and
  * therefore EXPLAIN and every re-plan of a reused DataFrame — only
  * decides STRUCTURAL sliceability; the probes run when the physical node
  * first needs the slice list (execution, or a test inspecting
  * `PushedSqlExec.slices`). Unsliceable queries share the [[PushedSqlQuery.noSlices]]
  * constant, which display checks compare by reference.
  *
  * `sliceGen` rides a SECOND parameter list (with [[org.apache.spark.sql.catalyst.trees.TreeNode.otherCopyArgs]]
  * feeding makeCopy): closures compare by reference, so a product-field
  * thunk would defeat case-class equality — two logically identical pushed
  * plans (same sql + backend, whose sliceGen is derived deterministically
  * from them) must still compare equal under canonicalization/sameResult
  * for ReuseExchange/ReuseSubquery to dedup them (r14 advisory).
  *
  * `estRows` is the fetch-budget estimate of the subtree this leaf
  * replaced (None = unestimable). The pushdown rule runs to a fixed point,
  * so a later pass weighs a parent over this leaf by the same estimate it
  * declined the parent on, instead of treating the leaf as unknown. */
case class PushedSqlQuery(output: Seq[Attribute], sql: String,
    backend: SqlBackend)(
    val sliceGen: () => Seq[String] = PushedSqlQuery.noSlices,
    val estRows: Option[BigInt] = None)
    extends LeafNode {
  override def otherCopyArgs: Seq[AnyRef] = sliceGen :: estRows :: Nil
  /** LeafNode's default THROWS — without this, any residual Spark operator
    * above the pushed leaf (e.g. a join with a non-graft table) crashes in
    * physical planning when JoinSelection asks for stats. The backend can't
    * estimate the result, so report the conservative default (which also
    * keeps the planner from auto-broadcasting a federated result of
    * unknown size; the reference likewise stubs statistics,
    * `src/physical_plan.rs:96-100`). */
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def simpleString(maxFields: Int): String =
    s"PushedSqlQuery [${sql.take(120)}…] backend=${backend.name}" +
      (if (sliceGen ne PushedSqlQuery.noSlices) " sliceable" else "")
}

object PushedSqlQuery {
  /** The shared no-op slice generator: single-stream execution. */
  val noSlices: () => Seq[String] = () => Nil
}

/** Physical node executing the whole generated query on the backend — the
  * analog of `DatabaseExec` (`src/physical_plan.rs:28-132`): the plan
  * fragment above this node runs in Spark; everything below was fused into
  * one SQL statement answered by the external store. When the pushdown
  * rule proved the query STRUCTURALLY sliceable (window-partition
  * alignment), forcing [[slices]] runs the deferred range probes and — if
  * they yield ≥ 2 disjoint queries whose UNION ALL equals `sql` — the read
  * executes as an N-partition parallel scan instead of one stream; a probe
  * that fails or finds no rows degrades to the single stream. */
case class PushedSqlExec(output: Seq[Attribute], sql: String,
    backend: SqlBackend)(
    val sliceGen: () => Seq[String] = PushedSqlQuery.noSlices)
    extends LeafExecNode {
  override def otherCopyArgs: Seq[AnyRef] = sliceGen :: Nil
  /** Probes run at FIRST FORCE (doExecute, or test inspection) — never at
    * planning/EXPLAIN — and are memoized per execution instance, so one
    * execution probes at most once. */
  lazy val slices: Seq[String] = sliceGen()
  override protected def doExecute(): RDD[InternalRow] =
    backend.executeSqlsToRdd(if (slices.size > 1) slices else Seq(sql), schema)
  override def simpleString(maxFields: Int): String =
    s"PushedSqlExec [${sql.take(120)}…] backend=${backend.name}" +
      (if (sliceGen ne PushedSqlQuery.noSlices) " sliceable" else "")
}

/** Strategy planning the extension leaf — analog of the reference's
  * `ExtensionPlanner` inside `SqlDatabaseQueryPlanner`
  * (`src/physical_plan.rs:161-215`). */
object PushedSqlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PushedSqlQuery =>
      PushedSqlExec(p.output, p.sql, p.backend)(p.sliceGen) :: Nil
    case _ => Nil
  }
}
