package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for SQL backends — the Spark-idiomatic re-build
  * of the reference's `PostgresTableProvider` scan path
  * (`src/sqldb/postgres/table_provider.rs:79-159`):
  *
  *  - column pruning   → `SupportsPushDownRequiredColumns` (reference:
  *    projection indices → SELECT list, `table_provider.rs:87-98`)
  *  - filter pushdown  → `SupportsPushDownV2Filters` with capability
  *    negotiation (arithmetic/CAST/function predicates beyond the
  *    reference's classifier, `table_provider.rs:241-306`); unsupported
  *    predicates stay in Spark as residuals
  *  - limit pushdown   → `SupportsPushDownLimit` (`table_provider.rs:110-113`),
  *    plus complete top-N/offset. Joins and aggregates are not the scan's:
  *    they reach the backend only through whole-subtree fusion
  *    ([[graft.plans.SqlPushdownRule]])
  *  - partitioned read → key-range or COUNT+OFFSET/FETCH splits, one SQL
  *    query per partition (reference `table_provider.rs:123-156`; its
  *    fixed 4-way split is an option here)
  *
  * Partitions carry SQL text only (never rows); each `PartitionReader`
  * drains its partition query through a `SqlConnection` (reference
  * `PostgresExec::execute`, `table_provider.rs:219-233`). A production JDBC
  * connection streams on the executor, so result size is bounded by
  * executor memory, not driver memory; the in-process test double instead
  * prefetches per-partition results on the driver at reader-factory time
  * (see [[ViewBackendConnection]] — its backend shares the engine's task
  * scheduler, and a task-side fetch would deadlock local mode).
  */
class GraftSqlTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-sqldb"

  /** `url` selects the production JDBC backend; `pgwire`
    * ("host:port/database") the native Postgres-wire backend; `dir` the
    * in-process parquet-view double (tests / local benchmarking). */
  private def backend(options: CaseInsensitiveStringMap): SqlBackend =
    (Option(options.get("url")), Option(options.get("pgwire"))) match {
      case (Some(u), _) => JdbcBackend.forUrl(u)
      case (None, Some(a)) => PgWireBackend.forAddress(a)
      case _ => SparkViewBackend.forDir(options.get("dir"))
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    backend(options).schema(options.get("table"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftSqlTable(opts.get("table"), backend(opts), schema,
      math.max(1, opts.getInt("partitions", 4)))
  }
}

class GraftSqlTable(val tableName: String, val backend: SqlBackend,
    tableSchema: StructType, numPartitions: Int) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-sqldb.$tableName"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableName, backend, tableSchema, numPartitions)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    // `upsertKeys` (comma-separated) switches the write to key-matched
    // MERGE semantics — see [[GraftMergeBatchWrite]]
    new GraftWriteBuilder(tableName, backend, info.schema(),
      Option(info.options.get("upsertKeys")), info.queryId())
}

class GraftScanBuilder(private val table: String, private val backend: SqlBackend,
    full: StructType, numPartitions: Int) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownV2Filters
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset {

  private var required: StructType = full
  private var pushedV2: Array[Predicate] = Array.empty
  private var pushedV2Sql: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var orderBy: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Capability negotiation over V2 predicates (Spark prefers V1
    * `SupportsPushDownFilters` when a source implements both, so ONLY the
    * V2 interface is implemented here): a predicate is pushed iff it
    * renders to the backend dialect via [[V2PredicateSql]]; everything
    * else is returned as a residual for Spark to re-evaluate (exactness
    * contract as in the reference: pushed predicates are NOT re-checked).
    * The V2 surface reaches past V1 source filters to expression
    * predicates — arithmetic, CAST, a whitelisted function set; the
    * reference's classifier stopped at columns/literals/binary-ops
    * (`table_provider.rs:241-306`). */
  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val rendered = predicates.map(p => p -> V2PredicateSql.render(p, backend.dialect))
    pushedV2 = rendered.collect { case (p, Some(_)) => p }
    pushedV2Sql = rendered.collect { case (_, Some(sql)) => sql }.toSeq
    rendered.collect { case (p, None) => p } // residuals
  }
  override def pushedPredicates(): Array[Predicate] = pushedV2

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  /** ORDER BY + LIMIT answered entirely by the backend (the query shape a
    * federation layer wins biggest on: n rows cross the wire instead of
    * the table). Complete pushdown — the scan collapses to one partition
    * whose single backend query carries the full ORDER BY, so the global
    * order is the backend's and Spark drops its own TopK. Declined when
    * any sort key is more than a plain column (no shared rendering). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val rendered = orders.toSeq.map { so =>
      so.expression() match {
        case f: NamedReference if f.fieldNames.length == 1 =>
          val dir = if (so.direction() == SortDirection.ASCENDING) "ASC" else "DESC"
          val nulls = if (so.nullOrdering() == NullOrdering.NULLS_FIRST)
            "NULLS FIRST" else "NULLS LAST"
          Some(s"${backend.dialect.quote(f.fieldNames()(0))} $dir $nulls")
        case _ => None
      }
    }
    if (rendered.exists(_.isEmpty)) false
    else {
      orderBy = rendered.flatten
      limit = Some(l)
      true
    }
  }
  override def isPartiallyPushed(): Boolean = false

  /** OFFSET composes with LIMIT/top-N in the same backend query. The limit
    * Spark passed to pushLimit/pushTopN INCLUDES the offset rows (it is
    * the total prefix the source must order), so a pushed offset deducts
    * itself from the pushed limit — the same contract Spark's own JDBC
    * scan builder implements. */
  override def pushOffset(o: Int): Boolean = {
    offset = Some(o)
    limit = limit.map(l => math.max(0, l - o))
    true
  }

  override def build(): Scan =
    new GraftScan(table, backend, required, limit, numPartitions,
      orderBy, offset, pushedV2Sql, pushedV2.toSeq)
}

/** V2 expression → backend SQL — the one scan-filter form: the
  * `SupportsPushDownV2Filters` static predicates and the
  * `SupportsRuntimeV2Filtering` dynamic-pruning predicates both render
  * here, including expression filters (arithmetic, casts, a conservative
  * function set). The reference's classifier stopped at columns/literals/
  * binary-ops/cast (`table_provider.rs:241-306`). Conservative by
  * construction: any unrecognized name declines (residual in Spark), and
  * functions are whitelisted to spellings the target dialects share. */
object V2PredicateSql {
  import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expression => V2Expr, GeneralScalarExpression, Literal => V2Literal}
  import graft.plans.SqlGen.Dialect

  def render(e: V2Expr, d: Dialect): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 =>
      Some(d.quote(f.fieldNames()(0)))
    case l: V2Literal[_] =>
      // V2 literals carry Catalyst-internal values (UTF8String, day counts)
      val external = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(l.dataType)(l.value)
      FilterSql.literal(external, d)
    case c: V2Cast =>
      // Two gates. (1) LOSSLESS only: under ANSI mode (Spark 4's default)
      // V2ExpressionBuilder offers EVERY cast, including ones whose
      // runtime semantics diverge across engines (boolean→int spellings,
      // string→numeric parse rules, overflow behavior) — only casts Spark
      // deems an upcast are semantics-free enough to hand to a foreign
      // engine. (2) castTypeName, not typeName: legal CAST targets are a
      // narrower set than creatable DDL types (Derby forbids
      // numeric→VARCHAR). A null source type (2-arg connector Cast)
      // declines.
      for {
        in <- render(c.expression(), d)
        from <- Option(c.expressionDataType())
        if org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, c.dataType())
        t <- d.castTypeName(c.dataType())
      } yield s"CAST($in AS $t)"
    case g: GeneralScalarExpression => g.name() match {
      case "%" if g.children().length == 2 =>
        for {
          l <- render(g.children()(0), d); r <- render(g.children()(1), d)
          out <- d.remainder(l, r)
        } yield out
      case op @ ("=" | "<" | "<=" | ">" | ">=" | "<>" |
                 "+" | "-" | "*" | "/") if g.children().length == 2 =>
        binary(g, d, op)
      case "!=" => binary(g, d, "<>")
      case "AND" => binary(g, d, "AND")
      case "OR" => binary(g, d, "OR")
      case "-" if g.children().length == 1 =>
        render(g.children()(0), d).map(s => s"(- $s)")
      case "NOT" if g.children().length == 1 =>
        render(g.children()(0), d).map(s => s"(NOT $s)")
      case "IS_NULL" if g.children().length == 1 =>
        render(g.children()(0), d).map(s => s"($s IS NULL)")
      case "IS_NOT_NULL" if g.children().length == 1 =>
        render(g.children()(0), d).map(s => s"($s IS NOT NULL)")
      case "<=>" if d.supportsNullSafeEq && g.children().length == 2 =>
        for {
          l <- render(g.children()(0), d); r <- render(g.children()(1), d)
        } yield s"($l IS NOT DISTINCT FROM $r)"
      // `IN ()` is not SQL; Catalyst's In over an empty list is false
      // (runtime pruning can legitimately produce an empty key set)
      case "IN" if g.children().length == 1 =>
        render(g.children()(0), d).map(_ => d.falseLit)
      case "IN" =>
        val rendered = g.children().toSeq.map(render(_, d))
        if (rendered.exists(_.isEmpty)) None
        else Some(s"(${rendered.head.get} IN (${rendered.tail.flatten.mkString(", ")}))")
      // string-prefix predicates render as LIKE only when the literal is
      // free of LIKE metacharacters (escape syntax is dialect-divergent;
      // the pattern stays a Spark residual instead of guessing it)
      case "STARTS_WITH" => like(g, d, v => v + "%")
      case "ENDS_WITH" => like(g, d, v => "%" + v)
      case "CONTAINS" => like(g, d, v => "%" + v + "%")
      // scalar functions every target dialect spells identically
      case fn @ ("ABS" | "UPPER" | "LOWER" | "COALESCE" | "SQRT" | "FLOOR" | "CEIL") =>
        val rendered = g.children().toSeq.map(render(_, d))
        if (rendered.isEmpty || rendered.exists(_.isEmpty)) None
        else Some(s"$fn(${rendered.flatten.mkString(", ")})")
      case _ => None
    }
    case _ => None
  }

  private def like(g: GeneralScalarExpression, d: Dialect,
      pattern: String => String): Option[String] = g.children() match {
    case Array(col, l: V2Literal[_]) =>
      val v = String.valueOf(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(l.dataType)(l.value))
      if (!FilterSql.likeSafe(v)) None
      else render(col, d).map(c =>
        s"$c LIKE '${pattern(v).replace("'", "''")}'")
    case _ => None
  }

  private def binary(g: GeneralScalarExpression, d: Dialect, op: String): Option[String] =
    if (g.children().length != 2) None
    else for {
      l <- render(g.children()(0), d)
      r <- render(g.children()(1), d)
    } yield s"($l $op $r)"
}

class GraftScan(val table: String, val backend: SqlBackend,
    val required: StructType,
    val limit: Option[Int], numPartitions: Int,
    val orderBy: Seq[String] = Nil, val offset: Option[Int] = None,
    val preRendered: Seq[String] = Nil,
    pushed: Seq[Predicate] = Nil)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required

  /** The static predicates this scan absorbed, when they are ALL it
    * absorbed: None once a limit/offset/top-N or runtime filter was
    * pushed too. Column pruning changes no row
    * semantics and does not count. [[graft.plans.MvRewriteRule]] re-applies
    * these predicates when it serves the query from a view instead of
    * this scan; any other absorbed state would be silently dropped. */
  def staticPredicates: Option[Seq[Predicate]] =
    if (runtimeFilters.isEmpty && limit.isEmpty && offset.isEmpty &&
        orderBy.isEmpty) Some(pushed)
    else None

  // ---- statistics (SupportsReportStatistics) ----
  // Sourced from the backend's CATALOG stats (no per-query probe), so
  // Catalyst's join planning sees a real size for federated tables and
  // auto-broadcasts small ones — without this, a DSv2 relation defaults to
  // sizeInBytes=Long.MaxValue and a small remote dimension can never be
  // the build side. The estimate ignores pushed filters (a safe upper
  // bound; V2 stats are consulted after pushdown, so there is no
  // double-discounting) and caps at a pushed LIMIT.
  override def estimateStatistics(): Statistics = {
    val rows = (backend.estimatedRowCount(table), limit) match {
      case (Some(n), Some(l)) => Some(n min l.toLong)
      case (Some(n), None) => Some(n)
      case (None, Some(l)) => Some(l.toLong)
      case _ => None
    }
    val width = math.max(1,
      (if (required.isEmpty) 1 else required.defaultSize))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rows.map(n => java.util.OptionalLong.of(n * width))
          .getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  // ---- runtime filtering (SupportsRuntimeV2Filtering) ----
  // Dynamic-pruning filters (the IN-set of join keys observed on the other
  // side of a join at run time) arrive as V2 predicates and render through
  // [[V2PredicateSql]], like the static ones, so the remote scan reads only
  // the keys the join can match — the federated analog of dynamic
  // partition pruning. Dropping a filter is always safe here: the values
  // come from the join's build side and the join itself re-checks
  // equality, so pushing is purely an optimization. Kept as (order-
  // insensitive key, rendered SQL) pairs in arrival order.
  private var runtimeFilters = Vector.empty[(String, String)]

  /** Upper bound on a runtime IN-list rendered into backend SQL — beyond
    * this the predicate text itself becomes the bottleneck (parse cost on
    * the backend, statement size limits) and scanning wins. */
  private val MaxRuntimeInValues = 1000

  override def filterAttributes(): Array[NamedReference] =
    // only the scan's OUTPUT columns: Spark resolves these refs against the
    // pruned read schema. Top-N/offset scans expose none: with
    // isPartiallyPushed()=false Spark has
    // deleted its own Sort/Limit/Offset, so the backend query's result IS
    // the final answer — a runtime filter rendered into its WHERE clause
    // would run before the ORDER BY/LIMIT and change which rows enter the
    // top-N (a join above a fully-pushed `orderBy(c).limit(5)` with DPP
    // would silently return rows beyond the true top 5).
    if (orderBy.nonEmpty || limit.isDefined || offset.isDefined) Array.empty
    else required.fieldNames
      .map(n => org.apache.spark.sql.connector.expressions.Expressions.column(n))

  /** Order-insensitive identity of a runtime filter: an IN list's value
    * order is not semantic, and can differ across deliveries. */
  private def runtimeKey(p: Predicate, sql: String): String = p.name() match {
    case "IN" =>
      val cs = p.children()
      s"${cs.head} IN " + cs.tail.map(String.valueOf).sorted.mkString("[", ",", "]")
    case _ => sql
  }

  override def filter(runtime: Array[Predicate]): Unit = {
    // IDEMPOTENT by filter identity: AQE re-evaluates runtime filters once
    // per BatchScanExec copy, delivering the same predicate repeatedly.
    // Re-planning on every delivery would mint fresh partition fetch ids
    // after a reader factory already prefetched the previous generation —
    // tasks would then miss the prefetch buffer and enter the task-side
    // fetch path, which can starve the local scheduler (see
    // ViewBackendConnection). Only a genuinely NEW predicate re-plans.
    // Defense-in-depth mirror of filterAttributes(): never accept a
    // delivery that would land a WHERE clause before a pushed top-N/
    // offset (Spark shouldn't send one — the attribute list is empty —
    // but a dropped runtime filter is always safe, a misplaced one is
    // silently wrong).
    if (orderBy.nonEmpty || limit.isDefined || offset.isDefined) return
    val ok = runtime.toSeq
      .filterNot(p => p.name() == "IN" && p.children().length - 1 > MaxRuntimeInValues)
      .flatMap(p => V2PredicateSql.render(p, backend.dialect).map(sql => runtimeKey(p, sql) -> sql))
    if (ok.nonEmpty) synchronized {
      val existing = runtimeFilters.map(_._1).toSet
      val fresh = ok.filterNot(f => existing.contains(f._1)).distinctBy(_._1)
      if (fresh.nonEmpty) {
        runtimeFilters ++= fresh
        // the superseded generation's prefetches will never be read — let
        // the registry reclaim them
        Option(plannedCache).foreach(_.foreach {
          case gp: GraftInputPartition => FetchRegistry.release(gp.fetchId)
        })
        plannedCache = null // re-plan partitions under the narrowed predicate
      }
    }
  }

  /** The SQL this scan sends (modulo partition ranges) — surfaced in
    * explain output like the reference's generated scan SQL. */
  def renderedSql: String = baseSql

  override def description(): String =
    s"GraftSqlScan(${backend.name}) [$renderedSql]"

  private def q(n: String): String = backend.dialect.quote(n)

  private def baseSql: String = sqlWith(None)

  /** The pushed + runtime filters, rendered together — the probes and every
    * partition query share one rendering pass, so bounds/counts cannot
    * drift from the data the partition predicates see. A def (not a lazy
    * val): runtime filters can arrive after the first rendering, and the
    * rendering itself is deterministic string work. */
  private def renderedFilters: Seq[String] =
    preRendered ++ runtimeFilters.map(_._2)

  /** Render the scan SQL, optionally AND-ing one extra predicate into the
    * WHERE clause (used by the range split — the predicate references the
    * table's key column directly, so it works even when the key is pruned
    * from the projection). */
  private def sqlWith(extra: Option[String]): String = {
    val cols =
      if (required.isEmpty) "1" // COUNT(*)-only scans prune every column
      else required.fieldNames.map(q).mkString(", ")
    val preds = renderedFilters ++ extra
    val where = if (preds.isEmpty) "" else " WHERE " + preds.mkString(" AND ")
    val order = if (orderBy.isEmpty) "" else " ORDER BY " + orderBy.mkString(", ")
    val sel = backend.dialect.limitOffset(limit.map(_.toLong), offset.map(_.toLong))
    s"SELECT $cols FROM ${q(table)}$where$order$sel"
  }

  /** The split column: a declared single-column integral unique key of the
    * scanned table. */
  private def rangeKey: Option[String] = backend.uniqueKey(table) match {
    case Some(Seq(k)) =>
      backend.schema(table).fields.find(_.name == k).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                  org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType) =>
          Some(k)
        case _ => None
      }
    case _ => None
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = planned

  // cached so Spark's repeated planInputPartitions calls and the reader
  // factory's prefetch see the SAME partitions (stable fetch ids);
  // invalidated by `filter` when a runtime predicate narrows the scan
  @volatile private var plannedCache: Array[InputPartition] = _
  private def planned: Array[InputPartition] = {
    val cached = plannedCache
    if (cached != null) cached
    else synchronized {
      if (plannedCache == null) plannedCache = planPartitions()
      plannedCache
    }
  }

  private def planPartitions(): Array[InputPartition] = {
    // Split strategy, in preference order — every branch is exactly-once,
    // and the planning round-trips (scalar probes) are the only backend
    // work before execution (partitions carry SQL text, never rows;
    // reference `PostgresExec::execute` likewise defers each fetch):
    //
    //  1. Declared single integral unique key → disjoint key ranges
    //     ([[KeyRanges]]: the strategy of Spark's own JDBC partitioning,
    //     with probed quantile cuts for sparse keys): index-friendly range
    //     seeks on a real RDBMS, no backend sorts.
    //  2. Composite / non-integral key → COUNT probe + key-ordered
    //     LIMIT/OFFSET ranges (the reference's split, made deterministic:
    //     its unordered LIMIT/OFFSET can duplicate or drop rows). Costs
    //     one backend sort per partition query.
    //  3. Single partition (explicit limit, numPartitions <= 1, or empty).
    lazy val probeWhere =
      if (renderedFilters.isEmpty) ""
      else " WHERE " + renderedFilters.mkString(" AND ")
    val sqls: Seq[String] =
      // top-N / offset scans are single-partition by construction: the
      // global ORDER BY/OFFSET only means anything in one backend query
      if (numPartitions <= 1 || limit.isDefined || offset.isDefined ||
          orderBy.nonEmpty) Seq(baseSql)
      else rangeKey match {
        case Some(k) =>
          // the probe shares the pushed filters, so the bounds (and hence
          // the ranges) reflect the filtered data, not the whole table
          val cuts = KeyRanges.cuts(backend, q(table), renderedFilters, q(k), numPartitions)
          if (cuts.isEmpty) Seq(baseSql)
          else KeyRanges.edges(cuts).zipWithIndex.map { case ((from, until), i) =>
            val range = (from.map(f => s"${q(k)} >= $f") ++
              until.map(u => s"${q(k)} < $u")).mkString(" AND ")
            // SQL UNIQUE permits NULLs and a NULL key matches no range
            // predicate — partition 0 sweeps them up
            val nulls = if (i == 0) s" OR ${q(k)} IS NULL" else ""
            sqlWith(Some(s"($range$nulls)"))
          }
        case None =>
          // Number, not getLong: COUNT's result type is dialect-specific
          // (Derby says INTEGER, most others BIGINT)
          val n = backend.executeSql(
            s"SELECT COUNT(*) FROM ${q(table)}$probeWhere")
            .head.get(0).asInstanceOf[Number].longValue
          if (n == 0) Seq(baseSql)
          else {
            val per = (n + numPartitions - 1) / numPartitions
            // ORDER BY must sit on the SAME query level as the row
            // selection — an ORDER BY inside a derived table is not
            // guaranteed to survive to the outer OFFSET/FETCH, and N
            // independently-unordered windows drop/duplicate rows. The
            // outer level only sees the projected columns, so the sort
            // key is the unique key IF fully projected, else EVERY
            // projected column (ties are then byte-identical rows, which
            // are interchangeable across windows — the multiset union
            // stays exact).
            val projected = required.fieldNames.toSet
            val orderCols = backend.uniqueKey(table)
              .filter(_.forall(projected.contains))
              .getOrElse(required.fieldNames.toSeq)
            if (orderCols.isEmpty) Seq(baseSql) // no columns: single stream
            else {
              val order = " ORDER BY " + orderCols.map(q).mkString(", ")
              (0L until numPartitions.toLong)
                .filter(i => i * per < n)
                .map(i => s"SELECT * FROM ($baseSql) graft_part$order" +
                  backend.dialect.limitOffset(Some(per), Some(i * per)))
            }
          }
      }
    val parts = sqls.map(sql =>
      GraftInputPartition(FetchRegistry.nextId(), sql, required): InputPartition)
      .toArray
    // Runtime-filter re-planning can run AFTER a reader factory was vended
    // (Spark consults createReaderFactory during physical planning, e.g.
    // for columnar checks, which is where the in-process double issues its
    // driver-side prefetches). A re-plan mints fresh fetch ids, so the new
    // generation must be prefetched too — still on the driver, still
    // before any task launches — or tasks would miss the prefetch buffer
    // and enter the deadlock-prone task-side fetch path.
    if (factoryVended) {
      val conn = backend.connection
      parts.foreach {
        case gp: GraftInputPartition => conn.prefetch(gp.fetchId, gp.sql, gp.schema)
      }
      conn.awaitPrefetched()
    }
    parts
  }

  @volatile private var factoryVended = false

  override def createReaderFactory(): PartitionReaderFactory = {
    factoryVended = true
    // Driver-side prefetch hook, issued AFTER partition planning but BEFORE
    // the engine job submits any task: in-process backends (the test
    // double) answer queries with Spark jobs on the engine's own scheduler,
    // and a fetch issued from a running task would deadlock local mode —
    // blocked scan tasks hold every slot the backend job needs. Production
    // JDBC connections leave prefetch a no-op and stream executor-side.
    val conn = backend.connection
    planned.foreach {
      case gp: GraftInputPartition => conn.prefetch(gp.fetchId, gp.sql, gp.schema)
    }
    conn.awaitPrefetched()
    new GraftReaderFactory(conn)
  }
}

/** The one key-range splitter, shared by the partitioned scan
  * ([[GraftScan]]) and the sliced fused window query
  * (`graft.plans.SqlPushdownRule.windowSlices`): disjoint ranges of one
  * integral column whose union covers every row exactly once.
  *
  * DENSE keys (value span within 10× the row count) take a single
  * COUNT/MIN/MAX probe and uniform value strides — Spark's own JDBC
  * strategy, and the reference's spirit. SPARSE keys are where that
  * strategy collapses: a table keyed by, say, snowflake ids spanning
  * 2^40 values piles every row into one or two strides and leaves the
  * rest empty. Those instead probe the ACTUAL key quantiles — one
  * `ORDER BY k OFFSET i·per FETCH 1` per interior boundary, an index
  * seek on any real RDBMS's unique key — at the price of parts-1 scalar
  * probes. Duplicate quantiles (heavy values) collapse a cut, never split
  * one value across ranges.
  *
  * Probe failures propagate; each caller owns its failure policy. */
object KeyRanges {

  /** Ascending interior cut points for `key` (a quoted column) over
    * `from` (a FROM item) under the conjunction `where`. Empty when the
    * probe finds no non-NULL key or the span admits one range only: the
    * caller then reads one stream. */
  def cuts(backend: SqlBackend, from: String, where: Seq[String], key: String,
      parts: Int): Seq[BigInt] = {
    def whereSql(ps: Seq[String]) = if (ps.isEmpty) "" else " WHERE " + ps.mkString(" AND ")
    val bounds = backend.executeSql(
      s"SELECT COUNT($key), MIN($key), MAX($key) FROM $from${whereSql(where)}").head
    if (bounds.isNullAt(1)) return Nil // empty (or all-NULL keys)
    // BigInt arithmetic: hi - lo on sentinel-valued Long keys overflows
    // and would silently plan zero ranges
    val n = BigInt(bounds.get(0).asInstanceOf[Number].longValue)
    val lo = BigInt(bounds.get(1).asInstanceOf[Number].longValue)
    val hi = BigInt(bounds.get(2).asInstanceOf[Number].longValue)
    if ((hi - lo + 1) <= n * 10) {
      val stride = ((hi - lo) / parts + 1) max BigInt(1)
      val nParts = (((hi - lo) / stride) + 1).toInt
      (1 until nParts).map(i => lo + stride * i)
    } else {
      val per = (n + parts - 1) / parts
      // probes exclude NULL keys explicitly: COUNT(k) counted only
      // non-nulls, and dialects disagree on where NULLs sort
      val pw = whereSql(where :+ s"$key IS NOT NULL")
      (1 until parts).map(i => BigInt(i) * per).filter(_ < n).map { off =>
        BigInt(backend.executeSql(s"SELECT $key FROM $from$pw ORDER BY $key" +
          backend.dialect.limitOffset(Some(1L), Some(off.toLong)))
          .head.get(0).asInstanceOf[Number].longValue)
      }.distinct
    }
  }

  /** Each range as (inclusive lower, exclusive upper) bounds, with
    * UNBOUNDED outer edges: the first range takes everything below the
    * first cut, the last everything at or above the last cut, so values
    * outside the probed span (and runtime-narrowed data) still land in
    * exactly one range. NULL keys match no range; the caller adds them to
    * range 0. */
  def edges(cuts: Seq[BigInt]): Seq[(Option[BigInt], Option[BigInt])] =
    ((None +: cuts.map(Option(_))) :+ None).sliding(2)
      .map(pair => (pair.head, pair.last)).toSeq
}

/** One partition = one backend SQL query. Rows are fetched by the reader on
  * the task at read time — never materialized at planning or carried in the
  * serialized partition. `fetchId` keys the driver-prefetch handoff for
  * in-process backends ([[FetchRegistry]]). */
case class GraftInputPartition(fetchId: Long, sql: String, schema: StructType)
    extends InputPartition

class GraftReaderFactory(connection: SqlConnection)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      private val serializer = ExpressionEncoder(RowEncoder.encoderFor(gp.schema))
        .createSerializer()
      // lazy: the backend round-trip happens on first next(), on the task
      private var it: Iterator[Row] = _
      private var current: InternalRow = _
      override def next(): Boolean = {
        if (it == null) it = connection.fetch(gp.fetchId, gp.sql, gp.schema)
        if (it.hasNext) { current = serializer(it.next()).copy(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** Literal rendering and the LIKE guard shared by [[V2PredicateSql]],
  * the fusion generator and the INSERT writer — the literal half of the
  * reference's `expr_to_sql` (`src/parser.rs:945-1095`): None = not
  * renderable = keep in Spark. */
object FilterSql {
  import graft.plans.SqlGen.Dialect

  /** Scalar value → SQL literal; None = no portable rendering (keep the
    * predicate in Spark / reject the row). Shared by filter pushdown and
    * the INSERT writer; temporal forms come from the dialect (Derby has no
    * ANSI typed literals). */
  def literal(v: Any, d: Dialect): Option[String] = v match {
      case null => Some("NULL")
      // backslashes are interpreted as escapes by the Spark dialect but
      // not by ANSI backends; refusing keeps the filter as a Spark
      // residual instead of an Exact-pushed wrong answer (same guard
      // style as likeSafe)
      case s: String if s.contains("\\") => None
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case s: org.apache.spark.unsafe.types.UTF8String if s.toString.contains("\\") => None
      case s: org.apache.spark.unsafe.types.UTF8String =>
        Some("'" + s.toString.replace("'", "''") + "'")
      case b: Boolean => Some(if (b) "TRUE" else "FALSE")
      // non-finite floats have no portable SQL literal (bare NaN/Infinity
      // doesn't parse); keep those predicates in Spark
      case f: Float if f.isNaN || f.isInfinite => None
      case d: Double if d.isNaN || d.isInfinite => None
      case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
        Some(n.toString)
      case dec: java.math.BigDecimal => Some(dec.toPlainString)
      case dec: scala.math.BigDecimal => Some(dec.bigDecimal.toPlainString)
      // rendered as UTC wall-clock: both our sessions and the backend
      // double pin spark.sql.session.timeZone=UTC (and build.sbt pins the
      // JVM tz), so the literal round-trips exactly
      case t: java.sql.Timestamp => Some(d.timestampLit(utcWallClock(t.toInstant)))
      case t: java.time.Instant => Some(d.timestampLit(utcWallClock(t)))
      // TimestampNTZ external type: already a wall-clock, no zone shift
      case t: java.time.LocalDateTime => Some(d.timestampLit(ntzFmt.format(t)))
      case dt: java.sql.Date => Some(d.dateLit(dt.toString))
      case dt: java.time.LocalDate => Some(d.dateLit(dt.toString))
      case _ => None
    }

  private[graft] def likeSafe(s: String): Boolean =
    !s.exists(c => c == '%' || c == '_' || c == '\\' || c == '\'')

  private val utcFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(java.time.ZoneOffset.UTC)
  private def utcWallClock(i: java.time.Instant): String = utcFmt.format(i)
  private val ntzFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
}
