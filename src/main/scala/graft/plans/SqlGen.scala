package graft.plans

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.catalyst.expressions.{Left => _, Right => _, _}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types._

import graft.sources.FilterSql

/** LogicalPlan → SQL-text generator — the Spark analog of the reference's
  * `logical_plan_to_ast` / `expr_to_sql` (`src/parser.rs:28-548,945-1095`),
  * which rewrites a DataFusion plan into a SQL AST executed wholesale on the
  * external database. Differences learned from the reference's graveyard
  * (`README.md:40-87`):
  *
  *  - we consume *analyzed* (not optimized) plans, so no alias-resolution
  *    pattern matching like the reference's fused 4-node collapse
  *    (`parser.rs:40-181`) is needed;
  *  - literals are rendered dialect-correctly up front — no regex repair
  *    pass (`fix_query`, `physical_plan.rs:275-294`);
  *  - every intermediate column is renamed to a unique `c<exprId>`, which
  *    makes self-joins and alias shadowing unambiguous by construction
  *    (the reference's outer-alias resolution bug class).
  *
  * Unsupported nodes return Left — the pushdown rule (M4) treats that as
  * "keep this subtree in Spark", mirroring the reference's greedy
  * largest-convertible-subtree recursion (`optimizer.rs:28-32`).
  */
object SqlGen {

  /** Backend SQL dialect. Ansi (double quotes) fits DuckDB/Postgres
    * backends; Spark uses backticks (round-trip tests run this one).
    * Open (not sealed): JDBC backends contribute dialects (e.g.
    * [[graft.sources.DerbyDialect]]) without touching the generator —
    * the reference hard-wires one dialect (Postgres `expr_to_sql`,
    * `src/parser.rs:945-1095`); the hooks here are the divergences real
    * backends actually have. */
  trait Dialect {
    def quote(n: String): String
    /** Trailing row-selection clause. `limit` already EXCLUDES the offset
      * rows (the scan deducts a pushed offset), so LIMIT-l-OFFSET-o and
      * OFFSET-o-FETCH-l render the same selection. */
    def limitOffset(limit: Option[Long], offset: Option[Long]): String =
      limit.map(n => s" LIMIT $n").getOrElse("") +
        offset.map(n => s" OFFSET $n").getOrElse("")
    /** TRUE/FALSE as standalone predicates (dialects without standalone
      * boolean literals override with tautologies). */
    def trueLit: String = "TRUE"
    def falseLit: String = "FALSE"
    /** Whether the backend parses `IS NOT DISTINCT FROM`; when false the
      * null-safe-equality filter stays a Spark residual. */
    def supportsNullSafeEq: Boolean = true
    /** Temporal literals (ANSI typed-literal form by default; Derby only
      * parses the constructor-function form). `ts` is a UTC wall-clock
      * `yyyy-MM-dd HH:mm:ss.SSSSSS` string; `d` an ISO date. */
    def timestampLit(ts: String): String = s"TIMESTAMP '$ts'"
    def dateLit(d: String): String = s"DATE '$d'"
    /** Regex-match rendering, or None to keep the predicate in Spark.
      * Deliberately conservative: regex LANGUAGES diverge across engines
      * (Java vs RE2 vs POSIX), so only a dialect whose engine matches
      * Spark's semantics should render this (the reference pushed `~`
      * to Postgres unconditionally, `src/parser.rs:654-688` — trading
      * correctness on exotic patterns for coverage). */
    def regexpMatch(subject: String, pattern: String): Option[String] = None
    /** Whether [[SqlGen]] may target this dialect for whole-plan fusion
      * (the generator emits ANSI plus a few portable idioms; dialects that
      * diverge further keep scan-level pushdown only: projection, filters,
      * limit, top-N and offset). */
    def fullSqlGen: Boolean = true
    /** DDL column type for CREATE TABLE; None = not creatable on this
      * backend — callers must reject, not guess. No default mapping: type
      * spellings are where dialects diverge hardest (Spark's STRING is a
      * syntax error on Postgres), so every dialect that supports DDL
      * enumerates its own. */
    def typeName(dt: DataType): Option[String] = None
    /** CAST target type, or None to keep the cast in Spark. NOT the same
      * set as [[typeName]]: a type can be creatable but not a legal cast
      * target (Derby forbids numeric→VARCHAR). The V2 renderer enforces
      * that only casts Spark deems lossless (canUpCast) reach this hook —
      * ANSI mode offers every cast, semantics-divergent ones included.
      * [[SqlGen]] spells its own CAST targets with it too, where it names
      * the type ([[castAllowed]] decides which casts render there). */
    def castTypeName(dt: DataType): Option[String] = typeName(dt)
    /** Remainder rendering; None = residual (Derby spells it MOD() with
      * integer-only, differently-signed semantics — not worth guessing). */
    def remainder(l: String, r: String): Option[String] = Some(s"($l % $r)")

    // ---- whole-plan fusion capability gates (each "false"/None keeps the
    // construct — and therefore the subtree containing it — in Spark; the
    // generator emits ANSI-plus-portable-idioms and these hooks are the
    // divergences probed against real backends) ----

    /** FULL OUTER JOIN (Derby has no FULL join at all). */
    def supportsFullJoin: Boolean = true
    /** Aggregate FILTER (WHERE …) clause. */
    def supportsAggFilter: Boolean = true
    /** Window functions with PARTITION BY / ORDER BY (Derby implements
      * only a bare ROW_NUMBER() OVER (); see [[orderedRowNumberIdiom]] for
      * the one shape that still renders there). */
    def supportsWindowFunctions: Boolean = true
    /** Whether an UN-partitioned `ROW_NUMBER() OVER (ORDER BY …)` may
      * render as the ordered-subquery pagination idiom
      * `SELECT *, ROW_NUMBER() OVER () FROM (… ORDER BY …) t` on a dialect
      * whose only window support is the bare form (Derby — probed 10.16:
      * any PARTITION BY or in-OVER ORDER BY is a syntax error, while the
      * idiom returns subquery order). The guarantee is the backend's
      * materialization behavior, not the SQL standard, so only dialects
      * whose engine demonstrably preserves derived-table order (live-spec
      * pinned for Derby in DerbyFusionSpec) may opt in. Consulted ONLY
      * when [[supportsWindowFunctions]] is false. */
    def orderedRowNumberIdiom: Boolean = false
    /** ANSI INTERVAL literals and date/time ± interval arithmetic (Derby
      * has no interval types whatsoever). */
    def supportsIntervals: Boolean = true
    /** TRY_CAST spelling (DuckDB/Spark yes; Derby and Postgres no). */
    def supportsTryCast: Boolean = true
    /** Per-function availability, consulted with the SQL spelling the
      * generator emits (e.g. "ROUND", "STDDEV_SAMP"). Backends with gaps
      * override with their probed surface. */
    def supportsFunction(name: String): Boolean = true
    /** Rendering of a scalar call the generator emits as `NAME(args…)`
      * (pre-rendered arguments); None keeps it in Spark. Dialects that
      * spell a function differently rewrite it here (Postgres has no
      * YEAR/MONTH/DAY). */
    def functionCall(name: String, args: Seq[String]): Option[String] =
      if (supportsFunction(name)) Some(s"$name(${args.mkString(", ")})") else None
    /** Whether CAST(from AS to) parses AND preserves Spark's semantics on
      * this backend (Derby rejects string→numeric outright; its DECIMAL
      * ceiling is 31). */
    def castAllowed(from: DataType, to: DataType): Boolean = true
    /** SUM/AVG argument rewrites for dialects whose aggregates keep the
      * argument's type instead of widening like Spark (Derby AVG(INT)
      * truncates, SUM(INT) overflows at 2^31). None = the aggregate has no
      * faithful rendering on this backend and stays in Spark. */
    def sumArg(arg: String, dt: DataType): Option[String] = Some(arg)
    def avgArg(arg: String, dt: DataType): Option[String] = Some(arg)
    /** LISTAGG rendering (C13's string-concatenation aggregate; the
      * reference's Postgres target spells it string_agg). Inputs are
      * pre-rendered SQL; `order` items carry direction + null ordering.
      * Default is the STRING_AGG(x, sep ORDER BY …) spelling shared by
      * DuckDB and Postgres; Spark overrides with LISTAGG … WITHIN GROUP;
      * Derby 10.16 has neither spelling (probed) and returns None. */
    def listAgg(distinct: Boolean, arg: String, delim: String,
        order: Seq[String]): Option[String] = {
      val d = if (distinct) "DISTINCT " else ""
      val o = if (order.isEmpty) "" else s" ORDER BY ${order.mkString(", ")}"
      Some(s"STRING_AGG($d$arg, $delim$o)")
    }
    /** True for remote backends whose DSv2 scan path (partitioned parallel
      * reads, runtime filtering, statistics) should keep a bare
      * project/filter/sort/limit chain over one scan; joins, aggregates,
      * subqueries and set ops above the scans fuse within the fetch
      * budget. The in-process view backend keeps false: its "fetch" is a
      * local exchange, so fusion is pure win. */
    def scanPreferred: Boolean = false
  }
  case object Ansi extends Dialect {
    def quote(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""
  }
  case object SparkSqlDialect extends Dialect {
    def quote(n: String): String = "`" + n.replace("`", "``") + "`"
    // the backend IS Spark — identical regex engine, safe to push
    override def regexpMatch(subject: String, pattern: String): Option[String] =
      Some(s"($subject RLIKE $pattern)")
    // ...and identical DDL: Spark's own type spellings round-trip exactly
    override def typeName(dt: DataType): Option[String] = Some(dt.sql)
    override def listAgg(distinct: Boolean, arg: String, delim: String,
        order: Seq[String]): Option[String] = {
      val d = if (distinct) "DISTINCT " else ""
      val wg = if (order.isEmpty) "" else s" WITHIN GROUP (ORDER BY ${order.mkString(", ")})"
      Some(s"LISTAGG($d$arg, $delim)$wg")
    }
  }

  final case class Unsupported(what: String) {
    override def toString: String = s"unsupported: $what"
  }
  private type Res[A] = Either[Unsupported, A]

  /** How a leaf relation maps to a table name in the target dialect.
    * Returns None when the leaf is not a pushable table. */
  type TableResolver = LogicalPlan => Option[String]

  /** Default resolver: temp-view leaves keep their view name via
    * SubqueryAlias over a View/leaf relation. A SubqueryAlias over a
    * computed subtree (df.alias(...)) is NOT a table — treating it as one
    * would silently drop the subtree. */
  val viewResolver: TableResolver = {
    case SubqueryAlias(ident, child) if child.isInstanceOf[LeafNode] ||
        child.isInstanceOf[View] => Some(ident.name)
    case _ => None
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  def apply(plan: LogicalPlan, resolve: TableResolver = viewResolver,
      dialect: Dialect = Ansi): Res[String] = {
    currentDialect.set(dialect)
    currentResolver.set(resolve)
    gen(plan, resolve).map { inner =>
      // top level: restore user-facing attribute names (disambiguated)
      val items = plan.output.zip(outputNames(plan.output)).map {
        case (a, n) => s"${ref(a)} AS ${quote(n)}"
      }
      s"SELECT ${items.mkString(", ")} FROM ($inner) gq_out"
    }
  }

  /** The column names a generated query exposes for `output`: each
    * attribute's own name, a repeat suffixed `_<n>`. A leaf that is itself
    * a generated query is read back under the same names. */
  def outputNames(output: Seq[Attribute]): Seq[String] = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    output.map { a =>
      val n = seen.getOrElse(a.name, 0)
      seen(a.name) = n + 1
      if (n == 0) a.name else s"${a.name}_$n"
    }
  }

  private var aliasCounter = new java.util.concurrent.atomic.AtomicLong()
  private def nextAlias(): String = s"gq_${aliasCounter.incrementAndGet()}"

  private val currentDialect = new ThreadLocal[Dialect] {
    override def initialValue(): Dialect = Ansi
  }
  // expr() needs the resolver to render subquery expressions (EXISTS /
  // IN (subquery) / scalar subquery) whose operand is a plan, not an expr
  private val currentResolver = new ThreadLocal[TableResolver] {
    override def initialValue(): TableResolver = viewResolver
  }
  private def quote(n: String): String = currentDialect.get.quote(n)
  private def ref(a: Attribute): String = quote(s"c${a.exprId.id}")

  // ---------------- plans ----------------

  private def gen(plan: LogicalPlan, R: TableResolver): Res[String] = plan match {
    case p if R(p).isDefined =>
      // resolver returns a table name, or a parenthesized SQL fragment
      // (a DSv2 scan's own negotiated SQL, or an already fused query)
      // used verbatim
      val t = R(p).get
      val from = if (t.startsWith("(")) s"$t ${nextAlias()}" else quote(t)
      val cols = p.output.zip(outputNames(p.output)).map {
        case (a, n) => s"${quote(n)} AS ${ref(a)}"
      }
      val sel = if (cols.isEmpty) "1 AS gq_dummy" else cols.mkString(", ")
      Right(s"SELECT $sel FROM $from")

    case Project(list, child) =>
      // the analyzer can emit the same attribute twice (e.g. window
      // extraction re-appends partition columns): dedupe by exprId so the
      // subquery never exposes duplicate column names
      val distinctList = list.foldLeft(Vector.empty[NamedExpression]) {
        (acc, e) => if (acc.exists(_.exprId == e.exprId)) acc else acc :+ e
      }
      for {
        c <- gen(child, R)
        items <- sequence(distinctList.map(namedItem))
      } yield {
        // zero-column projection (e.g. under COUNT(*)): keep row count
        // with a constant column
        val sel = if (items.isEmpty) "1 AS gq_dummy" else items.mkString(", ")
        s"SELECT $sel FROM ($c) ${nextAlias()}"
      }

    case Filter(cond, child) =>
      for {
        c <- gen(child, R)
        w <- expr(cond)
      } yield s"SELECT * FROM ($c) ${nextAlias()} WHERE $w"

    case Aggregate(grouping, aggExprs, child, _) =>
      if (grouping.exists(g => g.isInstanceOf[GroupingSets] || g.isInstanceOf[Rollup] || g.isInstanceOf[Cube]))
        Left(Unsupported("grouping sets / rollup / cube pushdown"))
      else
        for {
          c <- gen(child, R)
          items <- sequence(aggExprs.map(namedItem))
          keys <- sequence(grouping.map(expr))
        } yield {
          val gb = if (keys.isEmpty) "" else s" GROUP BY ${keys.mkString(", ")}"
          // The optimizer can prune every output expr (COUNT(*) above a
          // subquery needs only cardinality). Grouped: one constant column
          // per group. UNGROUPED: must still emit exactly ONE row (a
          // global aggregate's cardinality) — COUNT(*) does that for any
          // child, including an empty one; a bare constant would emit one
          // row per child row.
          val sel =
            if (items.nonEmpty) items.mkString(", ")
            else if (keys.nonEmpty) "1 AS gq_dummy"
            else "COUNT(*) AS gq_dummy"
          s"SELECT $sel FROM ($c) ${nextAlias()}$gb"
        }

    case Sort(order, true, child, _) =>
      for {
        c <- gen(child, R)
        os <- sequence(order.map(sortItem))
      } yield s"SELECT * FROM ($c) ${nextAlias()} ORDER BY ${os.mkString(", ")}"

    case GlobalLimit(IntegerLiteral(n), child) =>
      // analyzed limit is GlobalLimit(LocalLimit(child)); collapse both.
      // The row-selection clause is dialect-owned (Derby spells it
      // OFFSET…FETCH, not LIMIT).
      val inner = child match {
        case LocalLimit(IntegerLiteral(_), c) => c
        case c => c
      }
      gen(inner, R).map(c => s"SELECT * FROM ($c) ${nextAlias()}" +
        currentDialect.get.limitOffset(Some(n), None))

    case Offset(IntegerLiteral(n), child) =>
      gen(child, R).map(c => s"SELECT * FROM ($c) ${nextAlias()}" +
        currentDialect.get.limitOffset(None, Some(n)))

    case Distinct(child) =>
      gen(child, R).map(c => s"SELECT DISTINCT * FROM ($c) ${nextAlias()}")

    case Deduplicate(keys, child) if keys.map(_.exprId).toSet == child.output.map(_.exprId).toSet =>
      gen(child, R).map(c => s"SELECT DISTINCT * FROM ($c) ${nextAlias()}")

    // Spark plans a single-column NOT IN as a null-aware anti join: keep
    // a left row iff `a = b` is FALSE for every right row, i.e. the
    // condition `a = b OR isnull(a = b)` is never TRUE. That is exactly
    // `a NOT IN (SELECT b …)` under three-valued logic — an empty right
    // side keeps every row, a NULL on either side keeps none — and
    // backends run NOT IN as one hashed subplan where the NOT EXISTS form
    // below re-evaluates the OR for every pair.
    case Join(left, right, LeftAnti, Some(cond), _)
        if notInKeys(cond, left, right).isDefined =>
      val (a, b) = notInKeys(cond, left, right).get
      for {
        l <- gen(left, R)
        r <- gen(right, R)
        as <- expr(a)
        bs <- expr(b)
      } yield s"SELECT * FROM ($l) ${nextAlias()} WHERE $as NOT IN " +
        s"(SELECT $bs FROM ($r) ${nextAlias()})"

    // Semi/anti joins render as (NOT) EXISTS — the reference *rejects*
    // these join types outright (`src/parser.rs:1180-1190`); rendering them
    // pushes a subtree it cannot. Output is the left side only, so the
    // right side becomes a correlated subquery with the join condition as
    // its predicate — the unique `c<exprId>` renaming makes the outer
    // references unambiguous by construction. NULL semantics line up
    // exactly: LeftAnti keeps a row iff no right row satisfies the
    // condition, which is NOT EXISTS verbatim (incl. null-aware conditions
    // the single-key NOT IN arm above does not take).
    case Join(left, right, jt @ (LeftSemi | LeftAnti), condition, _) =>
      for {
        l <- gen(left, R)
        r <- gen(right, R)
        w <- condition match {
          case Some(c) => expr(c).map(s => s" WHERE $s")
          case None => Right("")
        }
      } yield {
        val not = if (jt == LeftAnti) "NOT " else ""
        s"SELECT * FROM ($l) ${nextAlias()} WHERE ${not}EXISTS (SELECT 1 FROM ($r) ${nextAlias()}$w)"
      }

    case j @ Join(left, right, joinType, condition, _) =>
      val kw = joinType match {
        case Inner => "JOIN"
        case LeftOuter => "LEFT OUTER JOIN"
        case RightOuter => "RIGHT OUTER JOIN"
        case FullOuter if currentDialect.get.supportsFullJoin => "FULL OUTER JOIN"
        case FullOuter => return Left(Unsupported("FULL JOIN on this dialect"))
        case Cross => "CROSS JOIN"
        case other => return Left(Unsupported(s"join type $other"))
      }
      for {
        l <- gen(left, R)
        r <- gen(right, R)
        on <- condition match {
          case Some(c) => expr(c).map(w => s" ON $w")
          case None if joinType == Cross => Right("")
          // tautology via the dialect (Derby pre-10.7 had no TRUE literal)
          case None => Right(s" ON ${currentDialect.get.trueLit}")
        }
      } yield s"SELECT * FROM ($l) ${nextAlias()} $kw ($r) ${nextAlias()}$on"

    case Union(children, false, false) =>
      sequence(children.map(gen(_, R))).map { cs =>
        // positional UNION ALL: rename every branch to the first branch's ids
        val first = children.head.output
        val branches = children.zip(cs).map { case (ch, sql) =>
          val items = ch.output.zip(first).map { case (a, f) => s"${ref(a)} AS ${ref(f)}" }
          s"SELECT ${items.mkString(", ")} FROM ($sql) ${nextAlias()}"
        }
        branches.mkString(" UNION ALL ")
      }

    case Intersect(left, right, false) =>
      setOp(left, right, "INTERSECT", R)
    case Except(left, right, false) =>
      setOp(left, right, "EXCEPT", R)

    case SubqueryAlias(_, child) => gen(child, R)

    // Spark's top-k-per-group rewrite (InferWindowGroupLimit) plants this
    // pre-pruning hint BELOW an intact Window + rank-filter pair; the
    // rendered SQL keeps that full pair, so the hint itself is a no-op
    // for generation — render through to the child. (Correctness doesn't
    // depend on the hint; it only reduces rows feeding the Window, which
    // the backend's own optimizer is free to do again.)
    case wgl: WindowGroupLimit => gen(wgl.child, R)

    case Window(winExprs, partSpec, ordSpec, child, _) =>
      // Window output = child.output ++ window columns; partition/order/
      // frame live inside each WindowExpression's WindowSpecDefinition.
      // Attrs the child already exposes are covered by `*`.
      val childIds = child.output.map(_.exprId).toSet
      val newExprs = winExprs.filterNot {
        case a: AttributeReference => childIds.contains(a.exprId)
        case _ => false
      }
      val dial = currentDialect.get
      // the analyzer re-appends child attrs to windowExpressions; if that
      // is ALL of them, the wrapper would render "SELECT *,  FROM (...)"
      if (newExprs.isEmpty) gen(child, R)
      else if (!dial.supportsWindowFunctions && dial.orderedRowNumberIdiom &&
          partSpec.isEmpty && ordSpec.nonEmpty &&
          newExprs.forall {
            case Alias(WindowExpression(_: RowNumber, _), _) => true
            case _ => false
          })
        // the pagination idiom: number rows of an ORDERED derived table
        // with the bare ROW_NUMBER the dialect does have — semantically
        // Spark's row_number() OVER (ORDER BY …) without PARTITION BY
        // (ties numbered arbitrarily in both engines)
        for {
          c <- gen(child, R)
          os <- sequence(ordSpec.map(sortItem))
        } yield {
          val items = newExprs.map(e =>
            s"ROW_NUMBER() OVER () AS ${quote(s"c${e.exprId.id}")}")
          // the star must be alias-qualified: Derby rejects a bare
          // `SELECT *, expr` select list (probed 10.16)
          val ordered = nextAlias()
          s"SELECT $ordered.*, ${items.mkString(", ")} FROM (SELECT * FROM ($c) " +
            s"${nextAlias()} ORDER BY ${os.mkString(", ")}) $ordered"
        }
      else for {
        c <- gen(child, R)
        items <- sequence(newExprs.map(namedItem))
      } yield s"SELECT *, ${items.mkString(", ")} FROM ($c) ${nextAlias()}"

    case other => Left(Unsupported(s"plan node ${other.nodeName}"))
  }

  /** (left key, right key) of a null-aware anti-join condition
    * `a = b OR isnull(a = b)` (either operand order, either side order),
    * when `a` reads only the left side and `b` only the right. */
  private def notInKeys(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression)] = {
    val eq = cond match {
      case Or(e: EqualTo, IsNull(n)) if e.semanticEquals(n) => Some(e)
      case Or(IsNull(n), e: EqualTo) if e.semanticEquals(n) => Some(e)
      case _ => None
    }
    def reads(e: Expression, side: LogicalPlan) =
      e.deterministic && e.references.subsetOf(side.outputSet)
    eq.flatMap { case EqualTo(x, y) =>
      if (reads(x, left) && reads(y, right)) Some((x, y))
      else if (reads(y, left) && reads(x, right)) Some((y, x))
      else None
    }
  }

  private def setOp(left: LogicalPlan, right: LogicalPlan, kw: String,
      R: TableResolver): Res[String] =
    for {
      l <- gen(left, R)
      r <- gen(right, R)
    } yield {
      val items = right.output.zip(left.output)
        .map { case (a, f) => s"${ref(a)} AS ${ref(f)}" }
      s"SELECT * FROM ($l) ${nextAlias()} $kw SELECT ${items.mkString(", ")} FROM ($r) ${nextAlias()}"
    }

  private def namedItem(e: NamedExpression): Res[String] = e match {
    case a: AttributeReference => Right(s"${ref(a)} AS ${ref(a)}")
    case Alias(child, _) => expr(child).map(s => s"$s AS ${quote(s"c${e.exprId.id}")}")
    case other => Left(Unsupported(s"named expression ${other.getClass.getSimpleName}"))
  }

  private def sortItem(s: SortOrder): Res[String] =
    expr(s.child).map { c =>
      val dir = if (s.direction == Ascending) "ASC" else "DESC"
      val nulls = s.nullOrdering match {
        case NullsFirst => " NULLS FIRST"
        case NullsLast => " NULLS LAST"
      }
      s"$c $dir$nulls"
    }

  // ---------------- expressions ----------------

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Long, LongType) => Some(v)
      case _ => None
    }
  }

  private def sequence[A](xs: Seq[Res[A]]): Res[Seq[A]] =
    xs.foldRight(Right(Nil): Res[List[A]]) { (x, acc) =>
      for { h <- x; t <- acc } yield h :: t
    }

  def expr(e: Expression): Res[String] = e match {
    case a: AttributeReference => Right(ref(a))
    case Alias(child, _) => expr(child)
    case l: Literal => literal(l)

    // null-safe equality, before the generic arm (the reference enumerated
    // IsDistinctFrom, `src/parser.rs:676`). Dialects without the IS NOT
    // DISTINCT FROM spelling (Derby) get the CASE expansion — unlike the
    // tempting `(a = b OR (a IS NULL AND b IS NULL))`, it is faithful in
    // VALUE position too (yields false, never NULL, when exactly one side
    // is NULL — Spark's <=> semantics). This matters beyond style: Spark
    // rewrites EXCEPT/INTERSECT into null-safe-eq anti/semi joins, so this
    // rendering is what lets set ops fuse into one backend query.
    case EqualNullSafe(l, r) =>
      for { ls <- expr(l); rs <- expr(r) } yield
        if (currentDialect.get.supportsNullSafeEq)
          s"($ls IS NOT DISTINCT FROM $rs)"
        else
          s"((CASE WHEN $ls IS NULL AND $rs IS NULL THEN 1 " +
            s"WHEN $ls IS NULL OR $rs IS NULL THEN 0 " +
            s"WHEN $ls = $rs THEN 1 ELSE 0 END) = 1)"

    // regex match through the dialect hook (only rendered where the
    // backend's regex ENGINE matches Spark's — see Dialect.regexpMatch)
    case RLike(l, r) =>
      for {
        ls <- expr(l); rs <- expr(r)
        out <- currentDialect.get.regexpMatch(ls, rs)
          .toRight(Unsupported("regex match on this dialect"))
      } yield out

    case b: BinaryOperator =>
      val op = b match {
        case _: EqualTo => "="
        case _: LessThan => "<"
        case _: LessThanOrEqual => "<="
        case _: GreaterThan => ">"
        case _: GreaterThanOrEqual => ">="
        case _: Add => "+"
        case _: Subtract => "-"
        case _: Multiply => "*"
        case _: Divide => "/"
        case r: Remainder =>
          // the % spelling is dialect-owned (Derby has none) — route
          // through the same hook the V2 predicate path uses
          return (for {
            l <- expr(r.left); rs <- expr(r.right)
            out <- currentDialect.get.remainder(l, rs)
              .toRight(Unsupported("remainder on this dialect"))
          } yield out)
        case _: And => "AND"
        case _: Or => "OR"
        // infix &/| parse identically in Spark, DuckDB and Postgres; XOR
        // does not (`^` vs `xor()` vs `#`) and stays in Spark
        case _: BitwiseAnd => "&"
        case _: BitwiseOr => "|"
        case other => return Left(Unsupported(s"operator ${other.sqlOperator}"))
      }
      for { l <- expr(b.left); r <- expr(b.right) } yield s"($l $op $r)"

    case BitwiseNot(c) => expr(c).map(s => s"(~ $s)")

    case Not(EqualTo(l, r)) =>
      for { ls <- expr(l); rs <- expr(r) } yield s"($ls <> $rs)"
    case Not(child) => expr(child).map(c => s"(NOT $c)")
    case IsNull(c) => expr(c).map(s => s"($s IS NULL)")
    case IsNotNull(c) => expr(c).map(s => s"($s IS NOT NULL)")
    case In(value, list) =>
      for {
        v <- expr(value)
        items <- sequence(list.map(expr))
      } yield s"($v IN (${items.mkString(", ")}))"
    case InSet(value, hset) =>
      expr(value).map { v =>
        val items = hset.toSeq.map(x => scalarToSql(x)).sorted
        s"($v IN (${items.mkString(", ")}))"
      }
    case Like(l, r, '\\') =>
      for { ls <- expr(l); rs <- expr(r) } yield s"($ls LIKE $rs)"
    // the optimizer turns `LIKE 'p%'` into StartsWith (and `'%p'`, `'%p%'`
    // into EndsWith / Contains); back to LIKE only for a literal free of
    // LIKE metacharacters, whose escape syntax differs across backends
    // (binary collation only: a collated StartsWith compares differently)
    case StartsWith(l, Literal(v: org.apache.spark.unsafe.types.UTF8String, _))
        if likeSafe(l, v) => likeLiteral(l, s"$v%")
    case EndsWith(l, Literal(v: org.apache.spark.unsafe.types.UTF8String, _))
        if likeSafe(l, v) => likeLiteral(l, s"%$v")
    case Contains(l, Literal(v: org.apache.spark.unsafe.types.UTF8String, _))
        if likeSafe(l, v) => likeLiteral(l, s"%$v%")
    case CaseWhen(branches, elseValue) =>
      for {
        bs <- sequence(branches.map { case (c, v) =>
          for { cs <- expr(c); vs <- expr(v) } yield s"WHEN $cs THEN $vs"
        })
        el <- elseValue.map(expr(_).map(s => s" ELSE $s")).getOrElse(Right(""))
      } yield s"(CASE ${bs.mkString(" ")}$el END)"
    // Interval-to-interval casts have no dialect-shared type name. A
    // WIDENING cast (target field span covers the source's) is a no-op on
    // the value, so it is elided; a NARROWING cast truncates in Spark
    // (CAST(INTERVAL '1 05:00:00' DAY TO SECOND AS INTERVAL DAY) drops the
    // hours) and eliding it would be a mistranslation — those refuse via
    // the generic Cast case below (Unsupported type name → stays in Spark).
    case Cast(child, t: DayTimeIntervalType, _, _)
        if (child.dataType match {
          case s: DayTimeIntervalType =>
            t.startField <= s.startField && t.endField >= s.endField
          case _ => false
        }) => expr(child)
    case Cast(child, t: YearMonthIntervalType, _, _)
        if (child.dataType match {
          case s: YearMonthIntervalType =>
            t.startField <= s.startField && t.endField >= s.endField
          case _ => false
        }) => expr(child)

    case Cast(child, dt, _, evalMode) =>
      // TRY mode must render TRY_CAST (NULL on failure) — a plain CAST
      // would turn Spark's try_cast semantics into a backend error
      val kw = if (evalMode == EvalMode.TRY) "TRY_CAST" else "CAST"
      if (evalMode == EvalMode.TRY && !currentDialect.get.supportsTryCast)
        Left(Unsupported("TRY_CAST on this dialect"))
      else if (!currentDialect.get.castAllowed(child.dataType, dt))
        // backend cast matrices are narrower than the spelling (Derby
        // rejects string→numeric, caps DECIMAL at 31) — a disallowed pair
        // would error at runtime, so it stays a Spark residual instead
        Left(Unsupported(
          s"cast ${child.dataType.simpleString}→${dt.simpleString} on this dialect"))
      else for {
        c <- expr(child)
        t <- sqlType(dt)
      } yield s"$kw($c AS $t)"

    case r: RuntimeReplaceable => expr(r.replacement)

    // date/time ± interval arithmetic (reference renders year-month
    // interval literals, `src/parser.rs:645-647`; the full arithmetic
    // surface here). All four "+interval" nodes and both timestamp/date
    // differences share infix +/- in Spark, DuckDB, and Postgres —
    // dialects without interval types (Derby) keep the whole family local.
    case (_: TimestampAddInterval | _: TimestampAddYMInterval |
          _: DateAddYMInterval | _: DateAddInterval | _: SubtractTimestamps |
          _: SubtractDates) if !currentDialect.get.supportsIntervals =>
      Left(Unsupported("interval arithmetic on this dialect"))
    case TimestampAddInterval(start, interval, _) =>
      for { s <- expr(start); i <- expr(interval) } yield s"($s + $i)"
    case TimestampAddYMInterval(ts, interval, _) =>
      for { s <- expr(ts); i <- expr(interval) } yield s"($s + $i)"
    case DateAddYMInterval(d, interval) =>
      for { s <- expr(d); i <- expr(interval) } yield s"($s + $i)"
    case DateAddInterval(d, interval, _, _) =>
      for { s <- expr(d); i <- expr(interval) } yield s"($s + $i)"
    case SubtractTimestamps(l, r, _, _) =>
      for { ls <- expr(l); rs <- expr(r) } yield s"($ls - $rs)"
    case SubtractDates(l, r, _) =>
      for { ls <- expr(l); rs <- expr(r) } yield s"($ls - $rs)"
    case UnaryMinus(c, _) => expr(c).map(s => s"(- $s)")

    // subquery expressions — the reference translated exactly these three
    // (EXISTS parser.rs:912-923, IN-subquery 924-935, scalar 936-939);
    // correlated forms are left in Spark (outer refs have no SQL rendering
    // here), matching the reference's own limitation (README.md:49,75-86)
    case ex: Exists if ex.outerAttrs.isEmpty =>
      gen(ex.plan, currentResolver.get).map(s => s"EXISTS ($s)")
    case InSubquery(values, lq: ListQuery) if lq.outerAttrs.isEmpty =>
      for {
        vs <- sequence(values.map(expr))
        s <- gen(lq.plan, currentResolver.get)
      } yield {
        val v = if (vs.length == 1) vs.head else vs.mkString("(", ", ", ")")
        s"($v IN ($s))"
      }
    case sq: ScalarSubquery if sq.outerAttrs.isEmpty =>
      gen(sq.plan, currentResolver.get).map(s => s"($s)")

    // window functions (reference surface parser.rs:251,893 — enumerated
    // but todo!() there; full rendering here). Ranking/offset functions
    // take no frame clause in ANSI SQL, so their implicit Catalyst frame
    // is dropped; aggregate window functions keep an explicit frame.
    case WindowExpression(_, _) if !currentDialect.get.supportsWindowFunctions =>
      Left(Unsupported("window functions on this dialect"))
    case WindowExpression(fn, spec) =>
      val (fnSql, frameAllowed) = fn match {
        case _: RowNumber => (Right("ROW_NUMBER()"): Res[String], false)
        case _: Rank => (Right("RANK()"): Res[String], false)
        case _: DenseRank => (Right("DENSE_RANK()"): Res[String], false)
        case NTile(IntegerLiteral(n)) => (Right(s"NTILE($n)"): Res[String], false)
        case Lag(in, IntegerLiteral(off), d, ignoreNulls) =>
          (offsetFn("LAG", in, off, d, ignoreNulls), false)
        case Lead(in, IntegerLiteral(off), d, ignoreNulls) =>
          (offsetFn("LEAD", in, off, d, ignoreNulls), false)
        case ae: AggregateExpression => (expr(ae), true)
        case other => (Left(Unsupported(s"window function ${other.prettyName}")): Res[String], false)
      }
      // Spark's ranking functions are int; Postgres returns them as bigint
      // (OID 20), which the result decoder rejects
      val intRank = fn match {
        case _: RowNumber | _: Rank | _: DenseRank => true
        case _ => false
      }
      for {
        f <- fnSql
        s <- windowSpec(spec, frameAllowed)
      } yield if (intRank) s"CAST($f OVER ($s) AS INTEGER)" else s"$f OVER ($s)"

    case ae: AggregateExpression =>
      val dial = currentDialect.get
      val d = if (ae.isDistinct) "DISTINCT " else ""
      val base: Res[String] = ae.aggregateFunction match {
        // try_sum / try_avg (EvalMode.TRY inside NumericEvalContext) return
        // NULL where these would error — no shared SQL form, stay in Spark
        case Sum(c, ctx) if ctx.evalMode != EvalMode.TRY =>
          for {
            s <- expr(c)
            // dialect rewrite: Spark widens SUM(INT)→LONG / AVG(INT)→DOUBLE,
            // Derby keeps the argument type (truncating AVG, overflowing
            // SUM) — the hook casts the ARGUMENT so both engines accumulate
            // in the same type, or declines when no faithful form exists
            a <- dial.sumArg(s, c.dataType)
              .toRight(Unsupported(s"SUM over ${c.dataType.simpleString} on this dialect"))
          } yield s"SUM($d$a)"
        case Average(c, mode) if mode != EvalMode.TRY =>
          for {
            s <- expr(c)
            a <- dial.avgArg(s, c.dataType)
              .toRight(Unsupported(s"AVG over ${c.dataType.simpleString} on this dialect"))
          } yield s"AVG($d$a)"
        case Min(c) => expr(c).map(s => s"MIN($d$s)")
        case Max(c) => expr(c).map(s => s"MAX($d$s)")
        case Count(Seq(Literal(1, IntegerType))) => Right("COUNT(*)")
        case Count(cs) => sequence(cs.map(expr)).map(ss => s"COUNT($d${ss.mkString(", ")})")
        // statistical aggregates (reference surface parser.rs:879-891,
        // enumerated todo!() there) — names shared by Spark/DuckDB/Postgres
        // and (minus CORR/COVAR) Derby 10.16, hence the per-name gate
        case StddevSamp(c, _) => fnCall("STDDEV_SAMP", c)
        case StddevPop(c, _) => fnCall("STDDEV_POP", c)
        case VarianceSamp(c, _) => fnCall("VAR_SAMP", c)
        case VariancePop(c, _) => fnCall("VAR_POP", c)
        case Corr(l, r, _) => fnCall("CORR", l, r)
        case CovSample(l, r, _) => fnCall("COVAR_SAMP", l, r)
        case CovPopulation(l, r, _) => fnCall("COVAR_POP", l, r)
        case la: ListAgg =>
          for {
            a <- expr(la.child)
            dl <- expr(la.delimiter)
            os <- sequence(la.orderExpressions.map(sortItem))
            out <- dial.listAgg(ae.isDistinct, a, dl, os)
              .toRight(Unsupported("LISTAGG on this dialect"))
          } yield out
        case other => Left(Unsupported(s"aggregate ${other.prettyName}"))
      }
      // agg FILTER (WHERE pred) — shared by Spark, DuckDB, and Postgres
      // (not Derby); dropping it would silently widen the aggregate's input
      ae.filter match {
        case None => base
        case Some(_) if !dial.supportsAggFilter =>
          Left(Unsupported("aggregate FILTER on this dialect"))
        case Some(f) =>
          for { b <- base; fs <- expr(f) } yield s"$b FILTER (WHERE $fs)"
      }

    // common scalar functions shared by Spark and the target dialects —
    // each rendering routes through the per-name dialect gate (Derby's
    // probed surface lacks ROUND/POWER/REPLACE/SUBSTRING/INSTR/LPAD/RPAD/
    // LEAST/GREATEST/DATE_TRUNC; gated names stay Spark residuals there)
    case Upper(c) => fnCall("UPPER", c)
    case Lower(c) => fnCall("LOWER", c)
    case Length(c) => fnCall("LENGTH", c)
    case Abs(c, _) => fnCall("ABS", c)
    case Sqrt(c) => fnCall("SQRT", c)
    case Ceil(c) => fnCall("CEIL", c)
    case Floor(c) => fnCall("FLOOR", c)
    case Year(c) => fnCall("YEAR", c)
    case Month(c) => fnCall("MONTH", c)
    case DayOfMonth(c) => fnCall("DAY", c)
    case Round(c, IntegerLiteral(n), _) =>
      expr(c).flatMap(s => call("ROUND", Seq(s, n.toString)))
    case Substring(str, pos, len) => fnCall("SUBSTRING", str, pos, len)
    // Spark's concat is NULL-propagating; so is infix `||` on every ANSI
    // backend, while CONCAT() skips NULLs on DuckDB/Postgres — so the
    // function spelling is only safe when the backend IS Spark
    case Concat(cs) if cs.nonEmpty =>
      sequence(cs.map(expr)).map { ss =>
        if (currentDialect.get == SparkSqlDialect) s"CONCAT(${ss.mkString(", ")})"
        else ss.mkString("(", " || ", ")")
      }
    case Coalesce(cs) => fnCall("COALESCE", cs: _*)
    case StringTrim(c, None) => fnCall("TRIM", c)
    case StringReplace(c, find, rep) => fnCall("REPLACE", c, find, rep)
    case StringInstr(str, sub) => fnCall("INSTR", str, sub)
    case StringTrimLeft(c, None) => fnCall("LTRIM", c)
    case StringTrimRight(c, None) => fnCall("RTRIM", c)
    case StringLPad(str, len, pad) => fnCall("LPAD", str, len, pad)
    case StringRPad(str, len, pad) => fnCall("RPAD", str, len, pad)
    case Least(cs) => fnCall("LEAST", cs: _*)
    case Greatest(cs) => fnCall("GREATEST", cs: _*)
    case Pow(l, r) => fnCall("POWER", l, r)
    case Log(c) => fnCall("LN", c) // Spark's Log IS natural log
    case Exp(c) => fnCall("EXP", c)
    case Signum(c) => fnCall("SIGN", c)
    case Sin(c) => fnCall("SIN", c)
    case Cos(c) => fnCall("COS", c)
    case Tan(c) => fnCall("TAN", c)
    case Asin(c) => fnCall("ASIN", c)
    case Acos(c) => fnCall("ACOS", c)
    case Atan(c) => fnCall("ATAN", c)
    case Atan2(l, r) => fnCall("ATAN2", l, r)
    // DATE_TRUNC(part, x): identical argument order in Spark and
    // DuckDB/Postgres, but only the FULL part names are shared — Spark
    // also accepts aliases (DD/MM/HH/YY/MON) that backends reject, so
    // anything off the whitelist stays in Spark (reference C9 surface,
    // parser.rs:768-806)
    case TruncTimestamp(Literal(fmt: org.apache.spark.unsafe.types.UTF8String, _), c, _)
        if SharedTruncParts.contains(fmt.toString.toLowerCase) =>
      expr(c).flatMap(s => call("DATE_TRUNC", Seq(sqlString(fmt.toString.toLowerCase), s)))

    // ---- array/struct/JSON access (SURVEY C12) — Spark-dialect only.
    // Indexing bases (0 vs 1), out-of-bounds behavior (NULL vs error) and
    // JSON-path semantics all diverge across engines, so these render only
    // when the backend IS Spark (the federation double); other dialects
    // keep them as Spark-side residuals, which is always correct. ----
    case GetStructField(child, _, Some(name)) if currentDialect.get == SparkSqlDialect =>
      expr(child).map(s => s"$s.${quote(name)}")
    case GetArrayItem(arr, idx, _) if currentDialect.get == SparkSqlDialect =>
      for { a <- expr(arr); i <- expr(idx) } yield s"$a[$i]"
    case ElementAt(arr, idx, _, _) if currentDialect.get == SparkSqlDialect =>
      for { a <- expr(arr); i <- expr(idx) } yield s"ELEMENT_AT($a, $i)"
    case Size(c, _) if currentDialect.get == SparkSqlDialect =>
      expr(c).map(s => s"SIZE($s)")
    case ArrayContains(arr, v) if currentDialect.get == SparkSqlDialect =>
      for { a <- expr(arr); x <- expr(v) } yield s"ARRAY_CONTAINS($a, $x)"
    case GetJsonObject(json, path) if currentDialect.get == SparkSqlDialect =>
      for { j <- expr(json); p <- expr(path) } yield s"GET_JSON_OBJECT($j, $p)"

    case other => Left(Unsupported(s"expression ${other.getClass.getSimpleName}"))
  }

  /** `NAME(args…)` as the dialect spells it, or declined by its gate. */
  private def fnCall(name: String, args: Expression*): Res[String] =
    sequence(args.map(expr)).flatMap(call(name, _))

  private def call(name: String, args: Seq[String]): Res[String] =
    currentDialect.get.functionCall(name, args)
      .toRight(Unsupported(s"function $name on this dialect"))

  /** LAG/LEAD(input [, offset [, default]]) [IGNORE NULLS]; a NULL default
    * is omitted. IGNORE NULLS is shared Spark/DuckDB/Postgres-15+ syntax. */
  private def offsetFn(kw: String, in: Expression, off: Long,
      default: Expression, ignoreNulls: Boolean): Res[String] =
    for {
      i <- expr(in)
      d <- default match {
        case Literal(null, _) => Right("")
        case d => expr(d).map(s => s", $s")
      }
    } yield s"$kw($i, $off$d)" + (if (ignoreNulls) " IGNORE NULLS" else "")

  private def windowSpec(spec: WindowSpecDefinition,
      frameAllowed: Boolean): Res[String] =
    for {
      parts <- sequence(spec.partitionSpec.map(expr))
      orders <- sequence(spec.orderSpec.map(sortItem))
      frame <- spec.frameSpecification match {
        case _ if !frameAllowed => Right("")
        case UnspecifiedFrame => Right("")
        case SpecifiedWindowFrame(ft, lower, upper) =>
          val kw = ft match { case RowFrame => "ROWS"; case RangeFrame => "RANGE" }
          for { lo <- frameBound(lower, isLower = true)
                hi <- frameBound(upper, isLower = false) }
            yield s" $kw BETWEEN $lo AND $hi"
      }
    } yield {
      val p = if (parts.isEmpty) "" else s"PARTITION BY ${parts.mkString(", ")}"
      val o = if (orders.isEmpty) "" else s"ORDER BY ${orders.mkString(", ")}"
      (Seq(p, o).filter(_.nonEmpty).mkString(" ")) + frame
    }

  /** Catalyst frame boundaries: negative literals = PRECEDING. */
  private def frameBound(e: Expression, isLower: Boolean): Res[String] = e match {
    case UnboundedPreceding => Right("UNBOUNDED PRECEDING")
    case UnboundedFollowing => Right("UNBOUNDED FOLLOWING")
    case CurrentRow => Right("CURRENT ROW")
    case IntegerLiteral(n) if n < 0 => Right(s"${-n} PRECEDING")
    case IntegerLiteral(n) => Right(s"$n FOLLOWING")
    case other => Left(Unsupported(s"frame bound ${other.getClass.getSimpleName}"))
  }

  private val SharedTruncParts = Set("year", "quarter", "month", "week",
    "day", "hour", "minute", "second", "millisecond", "microsecond")

  private def scalarToSql(v: Any): String = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => sqlString(s.toString)
    case other => String.valueOf(other)
  }

  private def sqlString(s: String): String = "'" + s.replace("'", "''") + "'"

  private def likeSafe(subject: Expression,
      v: org.apache.spark.unsafe.types.UTF8String): Boolean =
    subject.dataType == StringType && FilterSql.likeSafe(v.toString)

  private def likeLiteral(subject: Expression, pattern: String): Res[String] =
    expr(subject).map(s => s"($s LIKE ${sqlString(pattern)})")

  private def literal(l: Literal): Res[String] = (l.value, l.dataType) match {
    // typed where the dialect can name the type: a bare NULL in a SELECT
    // list does not parse on Derby (and loses its type everywhere), which
    // matters for the FULL-join decomposition's NULL-extended columns
    case (null, dt) => Right(currentDialect.get.typeName(dt)
      .map(t => s"CAST(NULL AS $t)").getOrElse("NULL"))
    case (v: Boolean, BooleanType) => Right(if (v) "TRUE" else "FALSE")
    case (v, ByteType | ShortType | IntegerType | LongType) => Right(v.toString)
    case (v: Float, FloatType) if v.isNaN || v.isInfinite =>
      Left(Unsupported("non-finite float literal")) // bare NaN/Infinity doesn't parse
    case (v: Double, DoubleType) if v.isNaN || v.isInfinite =>
      Left(Unsupported("non-finite double literal"))
    case (v: Float, FloatType) => Right(v.toString)
    case (v: Double, DoubleType) => Right(v.toString)
    case (v: Decimal, _: DecimalType) => Right(v.toString)
    case (v: org.apache.spark.unsafe.types.UTF8String, _: StringType)
        if v.toString.contains("\\") =>
      // the Spark dialect interprets backslash escapes, ANSI doesn't —
      // no single rendering is correct for both, so keep it local
      Left(Unsupported("backslash in string literal"))
    case (v: org.apache.spark.unsafe.types.UTF8String, _: StringType) =>
      Right(sqlString(v.toString))
    case (micros: Long, TimestampType) =>
      val inst = Instant.EPOCH.plusSeconds(Math.floorDiv(micros, 1000000L))
        .plusNanos(Math.floorMod(micros, 1000000L) * 1000L)
      // dialect-owned spelling: Derby only parses the constructor form
      Right(currentDialect.get.timestampLit(tsFmt.format(inst)))
    case (days: Int, DateType) =>
      Right(currentDialect.get.dateLit(LocalDate.ofEpochDay(days.toLong).toString))
    // interval literals (reference `src/parser.rs:645-647` renders the
    // year-month case; day-time + calendar added here). The single-unit
    // quoted form INTERVAL '<n>' <unit> parses in Spark (typed interval),
    // DuckDB, and Postgres alike — but not on interval-less dialects.
    case (_, _: YearMonthIntervalType | _: DayTimeIntervalType |
             CalendarIntervalType) if !currentDialect.get.supportsIntervals =>
      Left(Unsupported("interval literal on this dialect"))
    case (months: Int, _: YearMonthIntervalType) =>
      Right(s"INTERVAL '$months' MONTH")
    case (micros: Long, _: DayTimeIntervalType) =>
      val secs = java.math.BigDecimal.valueOf(micros, 6).stripTrailingZeros
      Right(s"INTERVAL '${secs.toPlainString}' SECOND")
    case (iv: org.apache.spark.unsafe.types.CalendarInterval, CalendarIntervalType) =>
      // multi-unit quoted string — shared Spark/DuckDB/Postgres syntax
      val parts = Seq(
        if (iv.months != 0) Some(s"${iv.months} months") else None,
        if (iv.days != 0) Some(s"${iv.days} days") else None,
        if (iv.microseconds != 0)
          Some(s"${java.math.BigDecimal.valueOf(iv.microseconds, 6).stripTrailingZeros.toPlainString} seconds")
        else None).flatten
      Right(s"INTERVAL '${if (parts.isEmpty) "0 seconds" else parts.mkString(" ")}'")
    case (v, dt) => Left(Unsupported(s"literal $v: ${dt.simpleString}"))
  }

  /** CAST target spelling: the dialect's own name for a type the
    * generator can cast to (Postgres has no DOUBLE, only DOUBLE
    * PRECISION), else the shared spelling below. */
  private def sqlType(dt: DataType): Res[String] = (dt match {
    case BooleanType => Right("BOOLEAN")
    case ShortType => Right("SMALLINT")
    case IntegerType => Right("INTEGER")
    case LongType => Right("BIGINT")
    case FloatType => Right("REAL")
    case DoubleType => Right("DOUBLE")
    // DuckDB and Postgres accept bare VARCHAR and treat STRING as unknown;
    // Spark's parser wants a length, and its dialect spells STRING
    case _: StringType => Right("VARCHAR")
    case DateType => Right("DATE")
    case TimestampType => Right("TIMESTAMP")
    case d: DecimalType => Right(s"DECIMAL(${d.precision}, ${d.scale})")
    case other => Left(Unsupported(s"cast to ${other.simpleString}"))
  }).map(shared => currentDialect.get.castTypeName(dt).getOrElse(shared))
}
