package graft.plans

import graft.sources.{GraftScan, KeyRanges, SqlBackend}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Greedy largest-convertible-subtree pushdown — the Spark re-build of the
  * reference's `QueryPushdownOptimizerRule` (`src/optimizer.rs:16-39`):
  * try to convert the *entire* plan to backend SQL; on failure recurse into
  * children, so the largest fully-convertible subtree over graft-sqldb
  * relations is replaced by one [[PushedSqlQuery]] leaf and only the
  * remainder executes in Spark (`optimizer.rs:28-32`).
  *
  * Leaves must all be graft-sqldb scans of the *same* backend; each leaf
  * renders as the scan's own negotiated SQL (pruned columns + pushed
  * filters + limit), so column/filter pushdown composes with whole-query
  * fusion instead of being lost (the reference recovers its connector by
  * downcasting the scan's TableSource, `src/parser.rs:96-109,404-419` —
  * here the scan object itself carries the SQL). A [[PushedSqlQuery]] of
  * the same backend is a leaf too, read as a derived table: the optimizer
  * runs this rule over each subquery plan before the outer plan, so a
  * subquery may arrive already fused.
  *
  * This rule is the only way a join or an aggregate reaches the backend:
  * the DSv2 scan takes projection, filters, limit, top-N, offset and
  * runtime filters, nothing more. The rule runs in one placement,
  * `extraOptimizations` ([[GraftExtensions.install]]), after V2 scan
  * pushdown and dynamic pruning, so its leaves are
  * `DataSourceV2ScanRelation`s. For `scanPreferred` (remote) backends
  * every Aggregate, Join or subquery above the scans fuses within the
  * fetch budget. Only a bare Project/Filter/Sort/Limit chain over one
  * scan, or a Union with such a branch, keeps the partitioned read
  * ([[scanChain]]).
  */
object SqlPushdownRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    attempt(rewriteFullJoins(plan))

  /** FULL-join decomposition for scan-preferred (remote JDBC) backends:
    *
    *   A FULL JOIN B  =  (A LEFT JOIN B)  ∪ALL  (NULLs ++ (B ANTI A))
    *
    * Its job is making a federated FULL join expressible on dialects
    * WITHOUT native FULL JOIN (Derby): the anti branch renders as one
    * NOT-EXISTS query. Both branches fuse within the fetch budget. */
  private def rewriteFullJoins(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.{FullOuter, LeftAnti, LeftOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, Project, Union}
    plan.transformUpWithSubqueries {
      case j @ Join(l, r, FullOuter, Some(cond), hint) if cond.deterministic &&
          backendOf(j).exists(b =>
            b.dialect.fullSqlGen && b.dialect.scanPreferred) =>
        val leftJoin = Join(l, r, LeftOuter, Some(cond), hint)
        val nulls = l.output.map(a => Alias(Literal(null, a.dataType), a.name)())
        val anti = Project(nulls ++ r.output,
          Join(r, l, LeftAnti, Some(cond), JoinHint.NONE))
        // Union resolves output to the head child's attribute ids (the
        // original join's), nullability widened by the NULL branch
        Union(Seq(leftJoin, anti))
    }
  }

  /** The single graft backend behind every leaf of `p`, if there is one. */
  private def backendOf(p: LogicalPlan): Option[SqlBackend] = {
    val leaves = (p +: p.subqueriesAll).flatMap(_.collectLeaves())
    val infos = leaves.flatMap(leafOf)
    if (infos.nonEmpty && infos.size == leaves.size &&
      infos.forall(_._1 eq infos.head._1)) Some(infos.head._1)
    else None
  }

  private def attempt(p: LogicalPlan): LogicalPlan = p match {
    case _: PushedSqlQuery => p
    // the optimizer's wrapper around a subquery plan has no SQL form; its
    // child is the query to try
    case s: org.apache.spark.sql.catalyst.plans.logical.Subquery =>
      s.withNewChildren(Seq(attempt(s.child)))
    case _ =>
      convert(p).getOrElse(p.withNewChildren(p.children.map(attempt)))
  }

  /** A pushable leaf: (backend, FROM-fragment). The scan's own negotiated
    * SQL, or an already fused query's SQL, becomes the leaf subquery. */
  private def leafOf(p: LogicalPlan): Option[(graft.sources.SqlBackend, String)] = p match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case g: GraftScan => Some((g.backend, s"(${g.renderedSql})"))
      case _ => None
    }
    case q: PushedSqlQuery => Some((q.backend, s"(${q.sql})"))
    case _ => None
  }

  /** True when the subtree is only Project/Filter/Limit over one relation —
    * exactly the surface the DSv2 scan already negotiates (prune + filter +
    * limit pushdown). Fusing such a subtree into a [[PushedSqlQuery]] buys
    * no extra pushdown but DOWNGRADES the scan: a PushedSqlQuery leaf is a
    * whole-query fetch with no partitioned parallel read, no catalog
    * statistics, and no runtime (dynamic-pruning) filtering — all of which
    * the DSv2 path provides. At scale the partitioned read wins, so these
    * subtrees stay on the scan path. (Residual filters the scan could not
    * render re-evaluate in Spark — cheap relative to a single-stream
    * whole-table fetch.) */
  private def dsv2AlreadyExpresses(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, Project}
    p match {
      case Project(_, c) => dsv2AlreadyExpresses(c)
      case Filter(_, c) => dsv2AlreadyExpresses(c)
      case GlobalLimit(_, c) => dsv2AlreadyExpresses(c)
      case LocalLimit(_, c) => dsv2AlreadyExpresses(c)
      case _: DataSourceV2ScanRelation => true
      case _ => false
    }
  }

  /** True when no expression in `e` holds an EXISTS / IN / scalar subquery
    * (a dynamic-pruning subquery is the scan's runtime filter and does not
    * count). */
  private def noSubqueryExpr(e: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.{Exists, InSubquery, ScalarSubquery}
    !e.exists(_.exists {
      case _: Exists | _: InSubquery | _: ScalarSubquery => true
      case _ => false
    })
  }

  /** True when the subtree is only Project/Filter/Sort/Limit/Offset (no
    * subquery expressions) over one scan, or a Union with such a branch.
    * Its rows are the scan's own rows, so fusing buys no reduction and
    * would trade the partitioned parallel read (and its runtime filters)
    * for a single stream. A Union with ANY such branch must not fuse whole
    * either; the recursion in [[attempt]] still fuses its other branches
    * one by one. Every other node left above a scan at this point —
    * Aggregate, Join, semi/anti join, subquery — is one the scan
    * declined. */
  private def scanChain(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case Project(l, c) if noSubqueryExpr(l) => scanChain(c)
      case Filter(cond, c) if noSubqueryExpr(Seq(cond)) => scanChain(c)
      case GlobalLimit(_, c) => scanChain(c)
      case LocalLimit(_, c) => scanChain(c)
      case o: Offset => scanChain(o.child)
      case Sort(_, _, c, _) => scanChain(c)
      case SubqueryAlias(_, c) => scanChain(c)
      case Union(children, false, false) => children.exists(scanChain)
      case _: DataSourceV2ScanRelation => true
      case _ => false
    }
  }

  /** `p` with its dynamic-pruning predicates dropped. They are runtime
    * filters planted on a join's scan side; a fused query runs that join
    * in the backend, so the hint prunes nothing there and has no SQL
    * form. */
  private def withoutPruningHints(p: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{And, DynamicPruning}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    p.transformUpWithSubqueries {
      case Filter(cond, child) if cond.exists(_.isInstanceOf[DynamicPruning]) =>
        splitConjunctivePredicates(cond).filterNot(_.isInstanceOf[DynamicPruning])
          .reduceOption(And).fold(child)(Filter(_, child))
    }
  }

  /** Root chain is only NON-REDUCING nodes (projections, aliases, global
    * sorts) over a Window (or its group-limit hint): full-cardinality
    * output, nothing reducing — Sort included, or `window().orderBy()`
    * would slip a full-table fusion past the gate (round-12 review). */
  private def bareWindowRoot(p: LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort, SubqueryAlias, Window, WindowGroupLimit}
    p match {
      case Project(_, c) => bareWindowRoot(c)
      case SubqueryAlias(_, c) => bareWindowRoot(c)
      case Sort(_, _, c, _) => bareWindowRoot(c)
      case _: Window => true
      case _: WindowGroupLimit => true
      case _ => false
    }
  }

  /** Known backend-catalog row count of one pushable leaf (the scan's own
    * estimate caps it at a pushed LIMIT), None when the backend has no
    * statistics for it. */
  private def leafRows(p: LogicalPlan): Option[Long] = p match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case g: GraftScan =>
        val s = g.estimateStatistics()
        if (s.numRows().isPresent) Some(s.numRows().getAsLong) else None
      case _ => None
    }
    case _ => None
  }

  /** Output-row ESTIMATE of a convertible subtree from backend catalog
    * statistics, with the standard size-only heuristics: filters and
    * windows keep their child's estimate (no selectivity/NDV info),
    * grouped aggregates keep their child's (reduction unprovable without
    * NDV — the gate refuses to gamble a single-stream fetch on it),
    * global aggregates are 1, conditioned joins take the FK-join
    * heuristic max(|l|, |r|), condition-free joins multiply. The join
    * heuristic means this is a best-effort cost model, NOT a strict
    * bound: a many-to-many equi-join multiplies matches and can exceed
    * the estimate arbitrarily — the same blind spot every stats-only
    * planner has without NDV/histogram data, accepted here because the
    * strict alternative (multiplying conditioned joins too) would veto
    * virtually every multi-table fusion the gate exists to permit.
    * A leaf fused in an earlier pass gives the estimate of the subtree it
    * replaced. None as soon as any leaf or node is unestimable — the
    * caller then falls back to the structural gates alone. */
  private def estimateRows(p: LogicalPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
    import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical._
    def est(q: LogicalPlan): Option[BigInt] = q match {
      case leaf: DataSourceV2ScanRelation => leafRows(leaf).map(BigInt(_))
      case fused: PushedSqlQuery => fused.estRows
      case Project(_, c) => est(c)
      case SubqueryAlias(_, c) => est(c)
      case Filter(_, c) => est(c)
      case Sort(_, _, c, _) => est(c)
      case w: Window => est(w.child)
      case wg: WindowGroupLimit => est(wg.child)
      case GlobalLimit(IntegerLiteral(n), c) => est(c).map(_.min(BigInt(n)))
      case LocalLimit(IntegerLiteral(n), c) => est(c).map(_.min(BigInt(n)))
      case o: Offset => est(o.child)
      case Aggregate(g, _, c, _) =>
        if (g.isEmpty) Some(BigInt(1)) else est(c)
      case Distinct(c) => est(c)
      case Deduplicate(_, c) => est(c)
      case Join(l, _, LeftSemi | LeftAnti | _: ExistenceJoin, _, _) => est(l)
      case Join(l, r, _, Some(_), _) =>
        for (a <- est(l); b <- est(r)) yield a.max(b)
      case Join(l, r, _, None, _) =>
        for (a <- est(l); b <- est(r)) yield a * b
      case Union(cs, _, _) =>
        cs.foldLeft(Option(BigInt(0))) { (acc, c) =>
          for (a <- acc; b <- est(c)) yield a + b
        }
      case Intersect(l, r, _) =>
        for (a <- est(l); b <- est(r)) yield a.min(b)
      case Except(l, _, _) => est(l)
      case _ => None
    }
    est(p)
  }

  /** Statistics-gated push-vs-pull — the reference's aspirational cost
    * model ("offline/online gathering of statistics … choosing when to
    * read & compute on DF vs on the DB", `README.md:23`, stubbed there to
    * defaults, `src/physical_plan.rs:96-100`) made operational. A fused
    * query fetches its result through ONE stream; when the estimated
    * result is large, that stream — not the compute — is the bottleneck,
    * and the partitioned scan path + distributed compute wins even though
    * the subtree re-shuffles in Spark. Budget in rows
    * (`spark.graft.fusion.maxFetchRows`, default 5M ≈ seconds of
    * single-stream fetch); unknown estimates keep the structural
    * decision — the grammar gates are already conservative. */
  private def fitsFetchBudget(estimate: Option[BigInt]): Boolean = {
    val raw = conf.getConfString("spark.graft.fusion.maxFetchRows", "5000000")
    val budget =
      try BigInt(raw.trim)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.fusion.maxFetchRows must be a plain integer row count, got '$raw'")
      }
    require(budget >= 0,
      s"spark.graft.fusion.maxFetchRows must be non-negative, got '$raw'")
    estimate.forall(_ <= budget)
  }

  private def convert(p: LogicalPlan): Option[LogicalPlan] = {
    if (dsv2AlreadyExpresses(p)) return None
    // include plans nested in subquery EXPRESSIONS (EXISTS / IN / scalar):
    // they are not plan children, but SqlGen renders them into the same
    // SQL string, so their leaves must satisfy the same single-backend rule
    val leaves = (p +: p.subqueriesAll).flatMap(_.collectLeaves())
    val infos = leaves.flatMap(leafOf)
    // every leaf is a graft relation on one shared backend, else not convertible
    if (infos.isEmpty || infos.size != leaves.size) return None
    val backend: SqlBackend = infos.head._1
    if (!infos.forall(_._1 eq backend)) return None
    // dialects the generator can't target at all keep scan-level pushdown
    // only (unrecognized JDBC drivers)
    if (!backend.dialect.fullSqlGen) return None
    // remote backends with partitioned scan reads: leave the scan what
    // it expresses, a bare chain over one scan (see scanChain); fusion
    // there would downgrade a parallel read to a single-stream fetch.
    // Same economics for a BARE window root: its output cardinality is
    // its full input, so fusing ships every row through one stream AND
    // serializes the window compute backend-side — strictly worse at
    // scale than the partitioned scan + Spark's distributed window.
    // Window fusion stays worthwhile exactly when something REDUCING
    // (rank filter, limit, aggregate) sits above — and then THAT node
    // roots the attempted subtree, so this gate never fires for it
    // (attempt() walks top-down). Last, the statistics gate (see
    // fitsFetchBudget): even a reducing, grammar-eligible subtree stays
    // on the partitioned scan path when catalog stats bound its result
    // above the single-stream fetch budget.
    lazy val rows = estimateRows(p)
    if (backend.dialect.scanPreferred &&
        (scanChain(p) || bareWindowRoot(p) || !fitsFetchBudget(rows))) return None

    val resolver: SqlGen.TableResolver = pl => leafOf(pl).map(_._2)
    val fused = withoutPruningHints(p)

    SqlGen(fused, resolver, backend.dialect).toOption.map { sql =>
      // a fused WINDOW query over a scan-preferred backend may still get
      // a partitioned parallel read: N disjoint slice queries whose
      // union is the result (see windowSlices). The leaf keeps the
      // budget estimate for later passes over its parent.
      if (backend.dialect.scanPreferred) {
        val sliceGen =
          windowSlices(fused, resolver, backend).getOrElse(PushedSqlQuery.noSlices)
        PushedSqlQuery(p.output, sql, backend)(sliceGen, rows)
      } else PushedSqlQuery(p.output, sql, backend)()
    }
  }

  /** Partitioned parallel reads for FUSED window queries — the capability
    * the single-stream fusion tier traded away, recovered exactly where it
    * is sound: when every window in the fused subtree partitions by one
    * common column that traces UNALIASED to a base-table column on a
    * join-sliceable side, slicing that column into disjoint ranges and
    * running the WHOLE fused query once per range unions to exactly the
    * single-stream result — each window partition (one column value) lies
    * entirely inside one slice, filters and projections distribute over
    * row-disjoint inputs, and a conditioned INNER/LEFT/RIGHT join
    * distributes over slices of its preserved/driving side: each slice of
    * that side joins the whole other side, and no row of the other side is
    * NULL-extended once per slice.
    *
    * Declines (returns Nil → single stream, today's behavior) when:
    * subquery expressions are present; any node outside
    * {Project, Filter, SubqueryAlias, Window, WindowGroupLimit,
    * conditioned Inner/Left/Right Join, leaf} appears (a global Sort,
    * Limit, Aggregate, or set-op does NOT distribute over slices); no
    * common bare partition column exists; the column is non-integral or
    * aliased anywhere on its path; or the probe finds no rows.
    *
    * Range construction is the scan's ([[KeyRanges]]) over the leaf's
    * negotiated SQL, split [[WindowSliceParts]] ways: slice 0 is
    * `col < q1 OR col IS NULL` and the last slice `col >= q_last`, so
    * every value (including NULL window partitions and values outside the
    * probed span) lands in exactly one slice by construction. */
  private def windowSlices(p: LogicalPlan, resolver: SqlGen.TableResolver,
      backend: SqlBackend): Option[() => Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, RightOuter}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Project, SubqueryAlias, Window, WindowGroupLimit}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

    if (p.subqueriesAll.nonEmpty) return None

    val partitionSpecs = scala.collection.mutable.ArrayBuffer.empty[Seq[Expression]]
    def allowed(q: LogicalPlan): Boolean = q match {
      case Project(_, c) => allowed(c)
      case Filter(_, c) => allowed(c)
      case SubqueryAlias(_, c) => allowed(c)
      case w: Window => partitionSpecs += w.partitionSpec; allowed(w.child)
      case wg: WindowGroupLimit => partitionSpecs += wg.partitionSpec; allowed(wg.child)
      case Join(l, r, Inner | LeftOuter | RightOuter, Some(_), _) =>
        allowed(l) && allowed(r)
      case _: DataSourceV2ScanRelation => true
      case _ => false
    }
    if (!allowed(p) || partitionSpecs.isEmpty) return None
    // common BARE partition columns across every window (an aliased or
    // computed partition key has a different ExprId than any leaf output
    // and drops out here — exactly the unaliased-trace requirement)
    val common = partitionSpecs
      .map(_.collect { case a: AttributeReference => a.exprId }.toSet)
      .reduce(_ intersect _)
    if (common.isEmpty) return None

    /** Join-side validity of the path from `q` down to `leaf`: at every
      * join, slicing is sound only on the driving/preserved side. */
    def sliceableSide(q: LogicalPlan, leaf: LogicalPlan): Boolean = {
      def contains(x: LogicalPlan): Boolean = x.collectLeaves().exists(_ eq leaf)
      q match {
        case Project(_, c) => sliceableSide(c, leaf)
        case Filter(_, c) => sliceableSide(c, leaf)
        case SubqueryAlias(_, c) => sliceableSide(c, leaf)
        case w: Window => sliceableSide(w.child, leaf)
        case wg: WindowGroupLimit => sliceableSide(wg.child, leaf)
        case Join(l, r, jt, _, _) =>
          if (contains(l)) (jt == Inner || jt == LeftOuter) && sliceableSide(l, leaf)
          else (jt == Inner || jt == RightOuter) && sliceableSide(r, leaf)
        case _ => q eq leaf
      }
    }

    val target = p.collectLeaves().iterator.flatMap { leaf =>
      leaf.output.collectFirst {
        case a: AttributeReference if common.contains(a.exprId) &&
            (a.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }) && sliceableSide(p, leaf) => (leaf, a)
      }
    }.nextOption()
    val (leaf, attr) = target.getOrElse(return None)

    // Structurally sliceable. EVERYTHING live — the COUNT/MIN/MAX probe,
    // the sparse-key quantile seeks — is DEFERRED into the returned thunk
    // so the optimizer (and thus EXPLAIN / every re-plan of a reused
    // DataFrame) never queries the backend; PushedSqlExec forces it at
    // execution, memoized per execution instance. Inside the probe half a
    // failure returns Nil = single-stream degradation, today's behavior,
    // decided where the read actually happens.
    val frag = leafOf(leaf).map(_._2).getOrElse(return None)
    Some(() => probeSlices(p, resolver, backend, leaf, attr, frag))
  }

  /** Slices per sliced fused window query. */
  private val WindowSliceParts = 4

  /** Execution-time half of [[windowSlices]]: the live range probes and
    * slice-SQL rendering, run when [[PushedSqlExec]] first forces its
    * slice list. Nil = degrade to the single stream, also when a probe
    * fails. */
  private def probeSlices(p: LogicalPlan, resolver: SqlGen.TableResolver,
      backend: SqlBackend, leaf: LogicalPlan,
      attr: org.apache.spark.sql.catalyst.expressions.AttributeReference,
      frag: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression, GreaterThanOrEqual, IsNull, LessThan, Literal, Or}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

    // the probes read the base table's FROM fragment (the scan's
    // negotiated subquery, aliased for dialects that require one)
    val d = backend.dialect
    val cuts =
      try KeyRanges.cuts(backend, s"$frag ${d.quote("__graft_slice_probe")}", Nil,
        d.quote(attr.name), WindowSliceParts)
      catch { case _: Exception => return Nil }
    if (cuts.isEmpty) return Nil

    def lit(v: BigInt): Literal = attr.dataType match {
      case LongType => Literal(v.toLong)
      case IntegerType => Literal(v.toInt)
      case ShortType => Literal(v.toShort)
      case ByteType => Literal(v.toByte)
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    val preds: Seq[Expression] = KeyRanges.edges(cuts).zipWithIndex.map {
      case ((from, until), i) =>
        val range = (from.map(f => GreaterThanOrEqual(attr, lit(f))) ++
          until.map(u => LessThan(attr, lit(u)))).reduce[Expression](And)
        if (i == 0) Or(range, IsNull(attr)) else range
    }
    preds.map { pred =>
      val sliced = p.transformUp { case l if l eq leaf => Filter(pred, l) }
      // any unrenderable slice: single stream
      SqlGen(sliced, resolver, d).getOrElse(return Nil)
    }
  }
}


/** Installs the graft rules and strategy on a session — the analog of
  * `make_rdbms_context` registering planner + optimizer rule
  * (`src/lib.rs:22-32`). The rules go in `extraOptimizations`, which run
  * after V2 scan pushdown; installing twice is a no-op. */
object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    MaterializedViews.install(spark)
    if (!spark.experimental.extraOptimizations.contains(SqlPushdownRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SqlPushdownRule
    if (!spark.experimental.extraStrategies.contains(PushedSqlStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PushedSqlStrategy
  }
}
