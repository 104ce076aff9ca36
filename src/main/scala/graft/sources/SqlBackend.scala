package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Connection-agnostic SQL backend — the Spark analog of the reference's
  * `DatabaseConnector`/`DatabaseConnection` traits (`src/sqldb/mod.rs:34-71`):
  * the engine talks to the external store exclusively through SQL text plus
  * result rows, so any RDBMS (the reference uses Postgres via binary COPY,
  * `src/sqldb/postgres/mod.rs:24-190`) can sit behind it.
  */
trait SqlBackend extends Serializable {
  /** Backend name for explain output. */
  def name: String
  /** Identifier quoting of the backend's dialect. */
  def dialect: graft.plans.SqlGen.Dialect
  /** Available table names (the catalog surface, analog of
    * `load_catalog`, `src/sqldb/postgres/mod.rs:67-125`). A backend may
    * serve a discovery-time snapshot, kept until [[refresh]]. */
  def tables: Seq[String]
  /** Existence check that also sees tables created AFTER discovery (DDL
    * through [[executeUpdate]], or by another client), even where `tables`
    * is a snapshot. */
  def tableExists(table: String): Boolean = tables.contains(table)
  /** Drop whatever catalog metadata the backend keeps (table list,
    * schemas, row-count estimates), so the next lookup reads the backend
    * again. Called for Spark's `REFRESH TABLE` and for `SHOW TABLES`;
    * backends that keep nothing leave the default. */
  def refresh(): Unit = {}
  /** Tables DDL must not touch (the double's read-only parquet views); a
    * real RDBMS backend owns all its tables and protects none. */
  def protectedTables: Seq[String] = Nil
  def schema(table: String): StructType
  /** Primary/unique key of a table if the backend's catalog knows one —
    * lets the partition-split ORDER BY use a single key column instead of
    * every projected column (a real RDBMS catalog exposes this via
    * information_schema, which the reference already reads for schemas,
    * `src/sqldb/postgres/mod.rs:67-125`). */
  def uniqueKey(table: String): Option[Seq[String]] = None
  /** Catalog-level row-count estimate, if the backend's catalog keeps
    * statistics (a real RDBMS serves this from planner stats such as
    * `pg_class.reltuples` — metadata, not a table scan; the reference
    * already reads the same catalog surface for schemas,
    * `src/sqldb/postgres/mod.rs:67-125`). None = no stats → the scan
    * reports unknown and Spark falls back to its defaults. */
  def estimatedRowCount(table: String): Option[Long] = None
  /** Driver-side query returning materialized rows (used for partition
    * planning probes and small result fetches). */
  def executeSql(sql: String): Seq[Row]
  /** Driver-side DDL/DML execution (CREATE/DROP/INSERT) — the write half
    * of the JDBC-parity surface the reference's stated model targets
    * (`README.md:4`; the reference itself never built sinks). Backends
    * that are read-only may leave the default. */
  def executeUpdate(sql: String): Unit =
    throw new UnsupportedOperationException(s"$name is read-only")
  /** Whether task-side connections may open write transactions
    * ([[SqlConnection.beginWrite]]) — the executor-side INSERT streaming
    * path. In-process doubles whose backend shares the engine's scheduler
    * must leave this false (a backend call from a running task deadlocks
    * local mode; see [[ViewBackendConnection]]), falling back to the
    * driver-funnel write at global commit. */
  def supportsTaskSideWrites: Boolean = false
  /** Whether the backend parses ANSI `MERGE INTO` (SQL:2003). Backends
    * without it (the in-process double — Spark SQL has no MERGE for v1
    * tables) get upsert via the staged overwrite-merge emulation in
    * [[GraftMergeBatchWrite]]. */
  def supportsMerge: Boolean = false
  /** A task-side connection handle for partition readers. MUST be
    * serializable by configuration only (connection string / dir) — never
    * by materialized data: it ships inside every InputPartition. */
  def connection: SqlConnection
  /** Whole-query execution returning a distributed handle — the analog of
    * `DatabaseExec` streaming Arrow batches (`src/physical_plan.rs:28-132`):
    * N disjoint backend queries (one fused query, or the slices the
    * pushdown rule cut from it, [[graft.plans.SqlPushdownRule]]) as one
    * N-partition read. Each task opens its own connection through
    * [[connection]] and streams one query, exactly the partitioned-scan
    * execution model. */
  def executeSqlsToRdd(sqls: Seq[String], expected: StructType): RDD[InternalRow] = {
    require(sqls.nonEmpty, "executeSqlsToRdd needs at least one query")
    val conn = connection
    SparkSession.active.sparkContext.parallelize(sqls, sqls.size).mapPartitions { it =>
      val ser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(expected))
        .createSerializer()
      it.flatMap(q => conn.fetch(0L, q, expected).map(r => ser(r).copy()))
    }
  }
}

/** Executor-side connection contract — the analog of the reference spawning
  * a backend connection inside each partition's execute
  * (`PostgresExec::execute`, `src/sqldb/postgres/table_provider.rs:219-233`;
  * connection spawn `src/sqldb/postgres/mod.rs:133-168`). `fetch` runs on
  * the TASK, at read time: partition planning never materializes rows, so
  * the driver holds SQL strings only, regardless of result size. A
  * production JDBC implementation opens its connection in `fetch` and
  * streams the ResultSet, leaving `prefetch` the default no-op.
  *
  * `prefetch` exists for IN-PROCESS doubles that answer queries with Spark
  * jobs on the engine's own scheduler: a fetch issued from a running task
  * deadlocks local mode (every slot is held by a scan task blocked on the
  * fetch whose backend job needs a slot), so such backends start and await
  * their partition queries on the DRIVER — after partition planning, before
  * the engine job submits tasks — and `fetch` then drains the buffered
  * result. */
trait SqlConnection extends Serializable {
  def fetch(id: Long, sql: String, schema: StructType): Iterator[Row]
  /** Driver-side hook called once per partition before tasks launch. */
  def prefetch(id: Long, sql: String, schema: StructType): Unit = {}
  /** Driver-side barrier: returns once every `prefetch` issued through this
    * connection instance has completed. */
  def awaitPrefetched(): Unit = {}
  /** Open a write transaction ON THE TASK — the executor-side INSERT
    * streaming path (backends advertising
    * [[SqlBackend.supportsTaskSideWrites]]). Statements executed through
    * the returned handle become durable only at its `commit()`, giving
    * per-task atomicity under Spark's commit protocol: a failed or
    * speculative task rolls back, and its rows never existed. */
  def beginWrite(): WriteTxn =
    throw new UnsupportedOperationException("backend has no task-side write path")

  /** Optional task-side BINARY bulk-ingest channel (`COPY … FROM STDIN
    * (FORMAT BINARY)` on Postgres-family backends): rows stream as framed
    * wire bytes instead of rendered INSERT literals — the actual
    * bulk-load path at scale. `None` (the default) sends the caller to
    * the INSERT streaming path; implementations keep the same per-task
    * transaction contract as [[beginWrite]]. */
  def copyWrite(table: String, schema: StructType,
      dialect: graft.plans.SqlGen.Dialect): Option[CopyWriteChannel] = None
}

/** One task's open binary-ingest channel: encode onto `out`, then exactly
  * one of commit/rollback, exactly once — both release the connection.
  * `uuidCols` reports which StringType columns the BACKEND types as uuid
  * (they must ship as 16 raw bytes, not text). */
trait CopyWriteChannel {
  def out: java.io.OutputStream
  def uuidCols: Set[String]
  def commit(): Unit
  def rollback(): Unit
}

/** One task's backend write transaction (task-side only — never
  * serialized). Exactly one of commit/rollback is called, exactly once;
  * both release the underlying connection. */
trait WriteTxn {
  def executeUpdate(sql: String): Unit
  def commit(): Unit
  def rollback(): Unit
}

/** JVM-local handoff between driver-side prefetch and task-side read for
  * in-process backends (local mode: same JVM by construction). Entries are
  * kept in an LRU — NOT consumed on read — so re-executing the same plan
  * (second action on a DataFrame reuses the cached physical scan and its
  * fetch ids) hits the buffer again instead of falling back to a task-side
  * fetch that could starve the shared scheduler. Eviction only ever
  * touches entries that HAVE been read at least once: an unread prefetch
  * belongs to an in-flight query, and evicting it would silently
  * reintroduce the task-side-fetch hazard for scans wider than the cap —
  * so the map can grow past the cap transiently, bounded by the partition
  * count of in-flight queries. */
private[sources] object FetchRegistry {
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  // read-entry retention size (cap × per-partition result is the
  // steady-state driver-memory exposure)
  private val MaxEntries = 64
  private val consumed = new java.util.HashSet[Long]()
  private val m = new java.util.LinkedHashMap[Long, java.util.concurrent.Future[Seq[Row]]](
      32, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Long, java.util.concurrent.Future[Seq[Row]]]): Boolean = false
  }
  private def evictReadOverflow(): Unit = {
    val it = m.entrySet().iterator()
    while (m.size() > MaxEntries && it.hasNext) {
      val e = it.next()
      if (consumed.contains(e.getKey)) { consumed.remove(e.getKey); it.remove() }
    }
  }
  def nextId(): Long = ids.incrementAndGet()
  /** Idempotent: Spark consults the reader factory more than once per plan
    * (columnar checks, AQE re-planning); only the first offer submits. */
  def putIfAbsent(id: Long, f: () => java.util.concurrent.Future[Seq[Row]]): Unit =
    m.synchronized {
      if (!m.containsKey(id)) { m.put(id, f()); evictReadOverflow() }
    }
  /** Peek without marking read (the await barrier). */
  def get(id: Long): Option[java.util.concurrent.Future[Seq[Row]]] =
    m.synchronized { Option(m.get(id)) }
  /** Read for consumption: marks the entry evictable. */
  def consume(id: Long): Option[java.util.concurrent.Future[Seq[Row]]] =
    m.synchronized {
      val f = Option(m.get(id))
      if (f.isDefined) { consumed.add(id); evictReadOverflow() }
      f
    }
  /** Mark an entry that will never be read (a superseded partition
    * generation after runtime-filter re-planning) evictable, so orphaned
    * prefetch results don't pin driver memory for the JVM lifetime. */
  def release(id: Long): Unit =
    m.synchronized {
      if (m.containsKey(id)) { consumed.add(id); evictReadOverflow() }
    }
}

/** Test double standing in for a remote RDBMS: a *separate* SparkSession
  * (isolated catalog state, `newSession`) with the scale-dir parquet files
  * registered as views. The only interface between the engine under test
  * and this backend is SQL text + rows — the same contract a Postgres
  * backend would have (no live RDBMS exists in this environment; a
  * production impl would be a thin JDBC wrapper with identical surface).
  */
object SparkViewBackend {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, SparkViewBackend]()
  /** One backend per dir — multiple table providers over the same "database"
    * share the connection-equivalent, so the pushdown rule can fuse
    * multi-table subtrees (same-backend check). */
  def forDir(dir: String): SparkViewBackend =
    cache.computeIfAbsent(dir, d => new SparkViewBackend(d))

  /** Primary keys of the test-double catalog (what a real backend would
    * serve from information_schema key_column_usage). lineitem's key is
    * composite; events/documents/embeddings carry synthetic ids. */
  val uniqueKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Driver-side threads answering the double's fetches (the "server" end
    * of the fake wire). Daemon + unbounded: each fetch is one short-lived
    * backend query; concurrency is bounded by the scan's partition count. */
  private[sources] lazy val fetchService =
    java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-backend-fetch")
        t.setDaemon(true)
        t
      })
}

/** The test double's "connection". The double answers queries with Spark
  * jobs on the engine's own local scheduler, so partition queries are
  * started AND awaited on the driver (`prefetch`/`awaitPrefetched`, called
  * by the scan's reader factory before any engine task launches) — a fetch
  * issued from inside a running task would deadlock: blocked scan tasks
  * hold every slot the backend's job needs. Task-side `fetch` then drains
  * the buffered result through the JVM-local [[FetchRegistry]] (same JVM in
  * local mode — the registry is the stand-in for the server side of a real
  * backend's wire). The last-resort path (registry evicted, e.g. a stage
  * retry long after execution) re-runs the query on a service thread and
  * can stall if every slot is simultaneously blocked — acceptable for the
  * double; a JDBC backend never enters it. */
case class ViewBackendConnection(dir: String) extends SqlConnection {
  // driver-only bookkeeping of this instance's prefetches; deliberately
  // rebuilt empty after serialization to tasks
  @transient private lazy val issued = new scala.collection.mutable.ArrayBuffer[Long]

  private def submit(sql: String): java.util.concurrent.Future[Seq[Row]] = {
    val backend = SparkViewBackend.forDir(dir)
    SparkViewBackend.fetchService
      .submit(new java.util.concurrent.Callable[Seq[Row]] {
        override def call(): Seq[Row] = backend.executeSql(sql)
      })
  }

  override def prefetch(id: Long, sql: String, schema: StructType): Unit = {
    FetchRegistry.putIfAbsent(id, () => submit(sql))
    issued.synchronized { issued += id }
  }

  override def awaitPrefetched(): Unit =
    issued.synchronized { issued.toSeq }
      .foreach(id => FetchRegistry.get(id).foreach(_.get()))

  override def fetch(id: Long, sql: String, schema: StructType): Iterator[Row] =
    FetchRegistry.consume(id)
      .getOrElse(submit(sql)) // evicted: documented last-resort re-run
      .get().iterator
}

class SparkViewBackend(dir: String) extends SqlBackend {
  // `dir` is the only state; the backend session is reconstructed lazily

  override def name: String = s"spark-view($dir)"
  override def dialect: graft.plans.SqlGen.Dialect = graft.plans.SqlGen.SparkSqlDialect

  // rebuilt if the underlying context was stopped: backends are cached
  // per dir for the JVM lifetime, which can outlive the SparkSession
  // active at first use (test suites, session restarts)
  @transient private var cachedSession: SparkSession = _
  private def session: SparkSession = synchronized {
    if (cachedSession == null || cachedSession.sparkContext.isStopped) {
      val s = SparkSession.active.newSession()
      graft.Tables.names.foreach { t =>
        graft.Tables.load(s, dir, t).createOrReplaceTempView(t)
      }
      cachedSession = s
    }
    cachedSession
  }

  override def tables: Seq[String] = graft.Tables.names
  override def tableExists(table: String): Boolean =
    graft.Tables.names.contains(table) || session.catalog.tableExists(table)
  override def protectedTables: Seq[String] = graft.Tables.names
  override def schema(table: String): StructType = session.table(table).schema
  override def uniqueKey(table: String): Option[Seq[String]] =
    SparkViewBackend.uniqueKeys.get(table)
  /** Memoized per-table counts — the double's stand-in for catalog planner
    * stats (`pg_class.reltuples`); parquet answers the one-time count from
    * row-group metadata, so this is the same no-table-scan class of lookup
    * a real backend's stats query would be. */
  @transient private lazy val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  override def estimatedRowCount(table: String): Option[Long] =
    Some(rowCounts.computeIfAbsent(table, t => session.table(t).count()))
  /** Count of driver-side SQL executions — observability hook asserted by
    * FederationSpec to prove partition planning fetches no rows. */
  val sqlExecCount = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Rolling log of executed SQL — lets specs assert what actually reached
    * the backend (e.g. a runtime IN filter from dynamic pruning). */
  val sqlLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  override def executeSql(sql: String): Seq[Row] = {
    sqlExecCount.incrementAndGet()
    sqlLog.add(sql)
    val s = session
    // Task threads (read-time fetches) have no active-session thread-local,
    // and driver threads have the ENGINE's session active — pin the
    // backend's own session for the duration of its query and restore,
    // so physical-plan construction resolves the right session in both
    // contexts without leaking it to the caller's thread.
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try s.sql(sql).collect().toSeq
    finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }
  /** Driver-routed for the in-process double: the "connection" serializes
    * as the dir string only and re-resolves this backend through the
    * per-JVM registry. Partition queries run at driver prefetch time (see
    * [[ViewBackendConnection]] for the scheduler-deadlock reasoning); a
    * JDBC backend swaps in a socket here and streams executor-side. */
  override def connection: SqlConnection = ViewBackendConnection(dir)
  /** DDL/DML route through the same SQL surface; the backend session's
    * catalog (temp warehouse) hosts writable tables alongside the
    * read-only parquet views. Any update invalidates the memoized catalog
    * statistics — a table grown past the broadcast threshold must not
    * keep auto-broadcasting on a stale estimate. */
  override def executeUpdate(sql: String): Unit = {
    executeSql(sql)
    rowCounts.clear()
  }
  /** The query runs as the backend session's own plan, never as a task-
    * side fetch (see [[ViewBackendConnection]]). It is always one query:
    * only `scanPreferred` backends get window slices. */
  override def executeSqlsToRdd(sqls: Seq[String], expected: StructType): RDD[InternalRow] = {
    require(sqls.size == 1, s"the view backend runs one query, got ${sqls.size}")
    val df = session.sql(sqls.head)
    // types, not just arity: InternalRows decoded against a mismatched
    // schema read wrong offsets/widths — silent corruption, not an error
    require(df.schema.map(_.dataType) == expected.map(_.dataType),
      s"backend schema ${df.schema.map(_.dataType).mkString(",")} != " +
        s"expected ${expected.map(_.dataType).mkString(",")} for: ${sqls.head}")
    df.queryExecution.toRdd
  }
}
