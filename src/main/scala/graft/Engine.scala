package graft

import org.apache.spark.sql.SparkSession

/** The session factory: every entry point (Bench, Verify, PlanDump,
  * PlanAudit) builds its session here, so the config they run under is
  * defined once. Builds the session, registers the SQL surface of the
  * native functions and, with `federation`, installs the pushdown rules
  * and strategy and the `graft_db` catalog (the analog of the reference's
  * `make_rdbms_context` + `load_catalog`, `src/lib.rs:22-32`,
  * `src/sqldb/postgres/mod.rs:67-125`).
  *
  * `federation = false` is the plain session the oracle-checked entries
  * run under. The rules then stay out of the session; the entries that
  * need them scope them to a child session (`GraftExtensions.newSession`,
  * `MaterializedViews.install`).
  *
  * A user of the reference switches to this engine with:
  * {{{
  *   val spark = Engine.create()
  *   Engine.attach(spark, "/data/tables")   // parquet dir -> temp views
  *   spark.sql("SELECT ... FROM lineitem JOIN orders ON ...")
  * }}}
  */
object Engine {

  /** Session defaults that embody the scale design (SCALE.md): AQE on for
    * runtime coalescing/skew handling, shuffle partitions sized to cores
    * (not the 200 default), UTC so timestamp semantics match the oracle.
    * `federation` installs the graft rules as `extraOptimizations`, which
    * run after V2 scan pushdown and fuse whatever the scan left;
    * [[graft.plans.GraftExtensions]] puts them in the operator-optimization
    * batch, before it, where the MV rewrite over filtered federated bases
    * needs them.
    *
    * Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`)
    * holds [[CodegenCacheEntries]] classes instead of its default 100. The
    * cache is keyed on (context class loader, generated source), and in
    * local mode executor tasks compile under a different loader than the
    * planning thread, so one generated class can take two entries. A
    * composed op such as `e2e_crawl_to_chunks` then needs more entries
    * than the default holds: each repeat of an identical op evicted classes the next one
    * needed and recompiled them in Janino, which the JIT then compiled
    * again. This is a static conf that `CodeGenerator` reads once, when
    * the JVM's first generated class is compiled; it takes effect only if
    * this session is built before any codegen in the JVM, as Bench,
    * Verify, PlanDump, PlanAudit and the benchmark harness do. A session
    * that already exists (`getOrCreate` returns it) keeps its cache size. */
  def create(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      federation: Boolean = true): SparkSession = {
    val cores = master match {
      case Engine.LocalN(n) => n.toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    // SQL-surface registration of the native expressions (dot_i8,
    // cosine_f32, minhash_sig, …): a spark.sql user gets the full
    // function set without touching the Column API
    graft.functions.GraftFunctions.register(spark)
    if (federation) {
      graft.plans.GraftExtensions.install(spark)
      // 3-level catalog surface: graft_db.main.<table> resolves once a
      // backing dir is attached (catalog plugins instantiate lazily, so
      // registering the conf up front costs nothing until first use)
      spark.conf.set("spark.sql.catalog.graft_db",
        classOf[graft.sources.GraftCatalog].getName)
      // DSv2 join pushdown (SupportsPushDownJoin): whole equi-joins over
      // same-backend scans — and the aggregate/top-N above them — run as
      // one backend query. Off by default in Spark; the engine's scans
      // negotiate it safely, so the engine turns it on.
      spark.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    }
    spark
  }

  private val LocalN = """local\[(\d+)\]""".r

  /** Compiled-class cache size: covers a warm composed crawl op with both
    * loaders' copies of its classes (see [[create]]). */
  val CodegenCacheEntries = 1000

  /** Register every table under `dir` as a temp view (parquet footers are
    * the schema source — no information_schema round trip needed) and
    * point the graft_db catalog at the same dir, so both unqualified
    * (`lineitem`) and catalog-qualified (`graft_db.main.lineitem`) names
    * resolve. */
  def attach(spark: SparkSession, dir: String): Unit = {
    Tables.registerAll(spark, dir)
    spark.conf.set("graft.catalog.dir", dir)
  }

  /** Point the graft_db catalog at a live JDBC database instead of a
    * parquet dir — `graft_db.main.<table>` then resolves through
    * [[graft.sources.JdbcBackend]] with the full pushdown surface
    * (projection/filter/top-N/aggregate/join) and the executor-side
    * transactional write path.
    *
    * Session-conf based, so it only affects catalogs registered WITHOUT
    * their own `dir`/`url` option (such as the one [[create]] registers):
    * a catalog explicitly bound via `spark.sql.catalog.<name>.dir` keeps
    * its binding — per-catalog options always win over session confs
    * (see [[graft.sources.GraftCatalog]] resolution order). */
  def attachJdbc(spark: SparkSession, url: String): Unit =
    spark.conf.set("graft.catalog.url", url)
}
