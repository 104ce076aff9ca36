package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.pgwire.MiniPgServer
import graft.plans.{GraftExtensions, PushedSqlExec, PushedSqlQuery}
import graft.sources.{PgWire, PgWireBackend}

/** PARTITIONED window fusion on the Postgres dialect, end-to-end over a
  * REAL loopback socket (round-11 verdict task 3): the reference left
  * windows `todo!()` (`parser.rs:251,893`), Derby can only parse the
  * bare-row_number idiom (`DerbyFusionSpec` proves the declining gate),
  * and this spec closes the remaining cell — a window-CAPABLE dialect
  * receives the full `OVER (PARTITION BY … ORDER BY …)` rendering as ONE
  * fused wire query and returns correct rows.
  *
  * The backend under test is the main-code native-wire stack
  * ([[PgWire]] + [[PgWireBackend]] — the reference's own no-driver
  * architecture), against [[MiniPgServer]]'s query-capable hook: SQL
  * text travels the actual v3 protocol and is executed by a DELEGATE
  * Spark session configured with ANSI double-quoted identifiers (the
  * quoting Postgres and the generator share), standing in for the
  * Postgres executor this sandbox doesn't have. What the fake does NOT
  * fake: the wire framing, the catalog discovery queries, the dialect
  * rendering, the fusion decision, or the result decoding — each is the
  * production code path.
  *
  * Scheduler note: the delegate shares the test JVM's SparkContext, so a
  * query it runs needs a free task slot while engine tasks block on the
  * socket. Fused queries hold exactly ONE task; the scan-path test caps
  * its partitions at 2 (< local[4]) — a REAL server has no such
  * coupling. */
class PgWindowFusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val delegate: SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    s.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    import s.implicits._
    (1 to 40).map(i => (i, i % 5, i * 10.0, i % 3))
      .toDF("id", "dept", "sal", "bonus").createOrReplaceTempView("emp")
    Seq((0, "eng"), (1, "ops"), (2, "fin"))
      .toDF("id", "dname").createOrReplaceTempView("dep")
    // sparse window-partition keys (snowflake-ish span ≫ 10× rows): the
    // slicer must probe quantiles, not stride the value span
    (1 to 40).map(i => (i, (i % 5 + 1) * 1000000000L, i * 1.5))
      .toDF("id", "grp", "v").createOrReplaceTempView("sparse")
    // every discoverable wire type in one table, nulls planted per column
    s.sql("""CREATE OR REPLACE TEMP VIEW typed AS
      SELECT CAST(id AS INT) AS i,
             id * 1000000007 AS l,
             CASE WHEN id % 5 = 0 THEN NULL ELSE id % 3 = 0 END AS b,
             CAST(id % 7 AS SMALLINT) AS s,
             CAST(CAST(id AS REAL) / 3.0E0 AS REAL) AS f,
             CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS DOUBLE) / 7.0E0 END AS d,
             CAST(id AS DECIMAL(12,3)) * 1.001 AS m,
             CASE WHEN id % 11 = 0 THEN NULL ELSE concat('t-', CAST(id AS STRING)) END AS t,
             DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS dt
      FROM range(1, 41)""")
    s
  }

  private def pgTypeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case StringType => "text"
    case DateType => "date"
    case d: DecimalType => "numeric"
    case other => fail(s"no pg type for $other")
  }

  private def oidFor(dt: DataType): Int = dt match {
    case BooleanType => PgWire.Oid.Bool
    case ShortType => PgWire.Oid.Int2
    case IntegerType => PgWire.Oid.Int4
    case LongType => PgWire.Oid.Int8
    case FloatType => PgWire.Oid.Float4
    case DoubleType => PgWire.Oid.Float8
    case StringType => PgWire.Oid.Text
    case DateType => PgWire.Oid.Date
    case _: DecimalType => PgWire.Oid.Numeric
    case other => fail(s"no oid for $other")
  }

  private def render(v: Any): String = v match {
    case b: Boolean => if (b) "t" else "f"
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }

  /** The wire double over [[delegate]]: `tables` is the catalog it
    * serves, and `catalogReads` counts the information_schema queries it
    * answers, under "tables" and "columns:<table>". */
  private final class PgDouble(@volatile var tables: Seq[String]) {
    val srv = new MiniPgServer
    val catalogReads = scala.collection.concurrent.TrieMap.empty[String, Int]
    def reads(key: String): Int = catalogReads.getOrElse(key, 0)
    private def count(key: String): Unit =
      catalogReads.updateWith(key)(n => Some(n.getOrElse(0) + 1))
    private val counts = Map("emp" -> 40L, "dep" -> 3L) // precomputed: no delegate job
    srv.queryExecutor = sql => {
      val tableRe = "\"table_name\" = '([^']+)'".r
      val relRe = "\"relname\" = '([^']+)'".r
      if (sql.contains("\"information_schema\".\"tables\"")) {
        count("tables")
        Some(MiniPgServer.QueryResult(
          Seq(("table_name", PgWire.Oid.Varchar)),
          tables.map(n => Seq(Some(n)))))
      } else if (sql.contains("\"information_schema\".\"columns\"")) {
        val t = tableRe.findFirstMatchIn(sql).get.group(1)
        count(s"columns:$t")
        val sch = delegate.table(t).schema
        Some(MiniPgServer.QueryResult(
          Seq(("column_name", PgWire.Oid.Varchar), ("data_type", PgWire.Oid.Varchar),
            ("numeric_precision", PgWire.Oid.Int4), ("numeric_scale", PgWire.Oid.Int4),
            ("is_nullable", PgWire.Oid.Varchar), ("ordinal_position", PgWire.Oid.Int4)),
          sch.fields.zipWithIndex.map { case (f, i) =>
            val (p, s) = f.dataType match {
              case d: DecimalType => (Some(d.precision.toString), Some(d.scale.toString))
              case _ => (None, None)
            }
            Seq(Some(f.name), Some(pgTypeName(f.dataType)), p, s,
              Some(if (f.nullable) "YES" else "NO"), Some((i + 1).toString))
          }))
      } else if (sql.contains("\"pg_class\"")) {
        val t = relRe.findFirstMatchIn(sql).get.group(1)
        Some(MiniPgServer.QueryResult(Seq(("reltuples", PgWire.Oid.Float4)),
          counts.get(t).map(c => Seq(Some(c.toString))).toSeq))
      } else {
        // real SQL through the delegate (active-session pinning per
        // SparkViewBackend.executeSql — server threads have none)
        val prev = SparkSession.getActiveSession
        SparkSession.setActiveSession(delegate)
        try {
          val df = delegate.sql(sql)
          val sch = df.schema
          val rows = df.collect()
          Some(MiniPgServer.QueryResult(
            sch.fields.map(f => (f.name, oidFor(f.dataType))).toSeq,
            rows.toSeq.map(r => sch.fields.indices.map(i =>
              if (r.isNullAt(i)) None else Some(render(r.get(i)))))))
        } finally prev match {
          case Some(p) => SparkSession.setActiveSession(p)
          case None => SparkSession.clearActiveSession()
        }
      }
    }
    // binary COPY serving: the client's default read path issues
    // `COPY (sql) TO STDOUT (FORMAT binary)`; the delegate executes the
    // inner SQL and the PRODUCTION encoder frames the payload — so the
    // client's decoder is exercised against independently-encoded bytes
    srv.copyOutExecutor = inner => {
      val prev = SparkSession.getActiveSession
      SparkSession.setActiveSession(delegate)
      try {
        val df = delegate.sql(inner)
        Some(graft.sources.PgCopyEncoder.bytes(df.collect().toSeq, df.schema))
      } finally prev match {
        case Some(p) => SparkSession.setActiveSession(p)
        case None => SparkSession.clearActiveSession()
      }
    }
  }

  private lazy val server: MiniPgServer =
    new PgDouble(Seq("dep", "emp", "sparse", "typed")).srv

  private def remote(table: String): DataFrame = {
    GraftExtensions.install(spark)
    spark.read.format("graft-sqldb")
      .option("pgwire", s"127.0.0.1:${server.port}/testdb")
      .option("table", table)
      .option("partitions", "2") // < local[4]: see the scheduler note
      .load()
  }

  private def pushed(df: DataFrame): Seq[PushedSqlExec] =
    df.queryExecution.executedPlan.collect { case p: PushedSqlExec => p }
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  private lazy val localEmp = {
    val s = spark
    import s.implicits._
    (1 to 40).map(i => (i, i % 5, i * 10.0, i % 3)).toDF("id", "dept", "sal", "bonus")
  }

  test("catalog discovery and schema come over the wire") {
    val b = PgWireBackend.forAddress(s"127.0.0.1:${server.port}/testdb")
    assert(b.tables == Seq("dep", "emp", "sparse", "typed"))
    assert(b.schema("emp").fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", IntegerType), ("dept", IntegerType),
        ("sal", DoubleType), ("bonus", IntegerType)))
    assert(b.estimatedRowCount("emp").contains(40L))
  }

  test("partitioned row_number window fuses into ONE leaf read as N sliced wire queries") {
    val w = Window.partitionBy("dept").orderBy(desc("sal"))
    val df = remote("emp")
      .select(col("id"), col("dept"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty, "the window subtree must fuse whole")
    assert(p.head.sql.contains("ROW_NUMBER() OVER (PARTITION BY"),
      s"partitioned OVER must render:\n${p.head.sql}")
    // the window's PARTITION BY (dept, integral, unaliased) aligns, so the
    // fused query gets a PARTITIONED parallel read: N disjoint slices
    // (dept spans 0..4, default 4 strides of 2 → 3 slices)
    assert(p.head.slices.size == 3,
      s"expected 3 slice queries:\n${p.head.slices.mkString("\n")}")
    assert(p.head.slices.forall(_.contains("ROW_NUMBER() OVER (PARTITION BY")))
    assert(p.head.slices.exists(_.contains("IS NULL")),
      "slice 0 must sweep NULL partition keys")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    // EVERY slice traveled the actual wire protocol (logged at execution)
    // wrapped in the COPY statement of the binary read path — and the
    // single-stream form did NOT
    p.head.slices.foreach(s => assert(server.eventLog.exists(q =>
      q.startsWith("COPY (") && q.contains(s)),
      s"slice must ride the wire via binary COPY:\n$s"))
    assert(!server.eventLog.exists(q => q.contains(p.head.sql)),
      "the single-stream form must not execute when slices ran")
    val want = localEmp
      .select(col("id"), col("dept"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == want && got.size == 10) // 5 depts × top-2: union ≡ single stream
  }

  test("sparse partition keys slice by probed quantiles, not value strides") {
    // grp spans 1e9..5e9 over 40 rows — uniform strides of that span would
    // pile every row into one or two slices; the quantile path probes the
    // ACTUAL values (ORDER BY grp LIMIT 1 OFFSET i·per) and slices between
    // them: 4 parts over 5 heavy values → distinct cuts, ≥ 2 real slices.
    // The slices run one by one from the driver: as many engine tasks as
    // local[4] has slots would block on their sockets while the delegate
    // needs a slot (see the header note).
    val w = Window.partitionBy("grp").orderBy(desc("v"))
    val df = remote("sparse")
      .select(col("id"), col("grp"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
    val p = pushed(df)
    assert(p.size == 1)
    assert(p.head.slices.size >= 2,
      s"sparse keys must still slice:\n${p.head.slices.mkString("\n")}")
    val got = p.head.slices.flatMap(p.head.backend.executeSql)
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    // the quantile probes traveled the wire (OFFSET index seeks)
    assert(server.eventLog.exists(q =>
      q.contains("ORDER BY \"grp\"") && q.contains("OFFSET")),
      "quantile probe must run on the backend")
    val local = delegate.table("sparse")
    val want = {
      val prev = org.apache.spark.sql.SparkSession.getActiveSession
      org.apache.spark.sql.SparkSession.setActiveSession(delegate)
      try local.select(col("id"), col("grp"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      finally prev match {
        case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
        case None => org.apache.spark.sql.SparkSession.clearActiveSession()
      }
    }
    assert(got == want && got.size == 10) // 5 groups × top-2: union ≡ single stream
  }

  test("slice range probes are deferred out of planning: EXPLAIN issues no backend SQL (r14)") {
    val w = Window.partitionBy("dept").orderBy(desc("sal"))
    val df = remote("emp")
      .select(col("id"), col("dept"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
    val before = server.eventLog.size
    // planning + EXPLAIN text — neither may run the COUNT/MIN/MAX probe
    val p = df.queryExecution.executedPlan
      .collect { case x: PushedSqlExec => x }
    assert(p.size == 1)
    df.explain() // formatted plan render
    val planned = server.eventLog.drop(before)
    assert(!planned.exists(q => q.contains("COUNT(") || q.contains("MIN(")),
      s"planning/EXPLAIN must not probe the backend: $planned")
    // the node still advertises structural sliceability without probing
    assert(p.head.simpleString(10).contains("sliceable"))
    // forcing the slice list runs the probe exactly once (memoized)
    assert(p.head.slices.size == 3)
    assert(p.head.slices eq p.head.slices, "slice list must be memoized")
    val probed = server.eventLog.drop(before)
    assert(probed.exists(q => q.contains("COUNT(") && q.contains("MIN(")),
      "forcing slices must run the range probe")
  }

  test("window slicing declines when the partition key does not align") {
    // (a) partition key is on the NON-preserved side of the join path /
    //     non-integral: the window-above-join shape partitions by dname
    //     (string, from dep) — fused, but single-stream
    val e = remote("emp"); val d = remote("dep")
    val w = Window.partitionBy("dname").orderBy(desc("sal"))
    val joined = e.join(d, e("dept") === d("id"))
      .select(col("dname"), col("sal"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
    val pj = pushed(joined)
    assert(pj.size == 1 && pj.head.slices.isEmpty,
      s"misaligned partition key must stay single-stream:\n${pj.head.slices}")
    // (b) a COMPUTED partition key (aliased expression) never aligns
    val wExpr = Window.partitionBy((col("dept") % 2).as("parity")).orderBy("id")
    val dfExpr = remote("emp")
      .select(col("id"), row_number().over(wExpr).as("rn"))
      .filter(col("rn") <= 1)
    val pe = pushed(dfExpr)
    assert(pe.size == 1 && pe.head.slices.isEmpty,
      "computed partition keys must decline slicing")
  }

  test("rank and framed running sum fuse with explicit frames under a reducing filter") {
    val wRank = Window.partitionBy("dept").orderBy(desc("sal"))
    val wSum = Window.partitionBy("dept").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def shaped(src: org.apache.spark.sql.DataFrame) = src.select(
      col("id"), rank().over(wRank).as("rk"), sum("sal").over(wSum).as("running"))
      .filter(col("rk") <= 3) // the reducer that makes fusion pay at scale
    val df = shaped(remote("emp"))
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty,
      df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("RANK() OVER (PARTITION BY"), p.head.sql)
    assert(p.head.sql.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"),
      s"aggregate window must keep its explicit frame:\n${p.head.sql}")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    val want = shaped(localEmp)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got == want && got.size == 15) // 5 depts × top-3
  }

  test("a BARE window keeps the partitioned scan (full-cardinality fusion declined)") {
    // output rows == input rows: fusing would ship the whole table
    // through ONE stream and serialize the window backend-side — the
    // scan path + Spark's distributed window is the 100 TB plan
    val w = Window.partitionBy("dept").orderBy("id")
    val df = remote("emp").select(
      col("id"), sum("sal").over(w).as("dept_running"))
      .orderBy("id") // a global sort is NON-reducing: must not re-enable fusion
    assert(pushed(df).isEmpty,
      "bare window must not fuse:\n" + df.queryExecution.executedPlan)
    // the window forces an exchange, so AQE wraps the physical plan and
    // hides BatchScanExec until execution — assert the scan path at the
    // optimized-logical level instead
    val scanRelations = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scanRelations.nonEmpty, "the partitioned scan must survive:\n" +
      df.queryExecution.optimizedPlan)
    val got = df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    val want = localEmp.select(
      col("id"), sum("sal").over(w).as("dept_running"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(got == want && got.size == 40)
  }

  test("window above a join fuses whole") {
    val e = remote("emp"); val d = remote("dep")
    val w = Window.partitionBy("dname").orderBy(desc("sal"))
    val df = e.join(d, e("dept") === d("id"))
      .select(col("dname"), col("sal"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty,
      df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("OVER (PARTITION BY"), p.head.sql)
    // depts 0,1,2 have names; top sal per dname: dept d ∈ {0,1,2} max id
    // with id%5==d → ids 40 (eng), 36 (ops), 37 (fin)
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("eng", 400.0), ("ops", 360.0), ("fin", 370.0)))
  }

  test("offset and ntile window functions fuse (lag ignore-nulls, lead default, dense_rank)") {
    val wOrd = Window.partitionBy("dept").orderBy("id")
    val df = remote("emp").select(
      col("id"),
      lag(col("sal"), 1).over(wOrd).as("prev_sal"),
      lead(col("sal"), 2, -1.0).over(wOrd).as("next2"),
      dense_rank().over(Window.partitionBy("dept").orderBy(desc("bonus"))).as("dr"),
      ntile(4).over(wOrd).as("quartile"))
      .filter(col("quartile") <= 2) // reducer: bare windows stay on the scan path
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty,
      df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("LAG(") && p.head.sql.contains("LEAD(") &&
      p.head.sql.contains("DENSE_RANK()") && p.head.sql.contains("NTILE(4)"),
      p.head.sql)
    val got = df.collect().map(r => (r.getInt(0),
      if (r.isNullAt(1)) null else r.getDouble(1),
      r.getDouble(2), r.getInt(3), r.getInt(4))).toSet
    val want = localEmp.select(
      col("id"),
      lag(col("sal"), 1).over(wOrd).as("prev_sal"),
      lead(col("sal"), 2, -1.0).over(wOrd).as("next2"),
      dense_rank().over(Window.partitionBy("dept").orderBy(desc("bonus"))).as("dr"),
      ntile(4).over(wOrd).as("quartile"))
      .filter(col("quartile") <= 2)
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getDouble(1),
        r.getDouble(2), r.getInt(3), r.getInt(4))).toSet
    assert(got == want && got.nonEmpty && got.size < 40)
  }

  test("statistics gate: a result-bound above the fetch budget declines fusion") {
    // semi join: outside the scan grammar → structurally fusable; its
    // catalog-stats bound is |emp| = 40 rows (reltuples over the wire)
    def shaped() = {
      val e = remote("emp"); val d = remote("dep")
      e.join(d, e("dept") === d("id"), "leftsemi").select("id", "sal")
    }
    val want = (1 to 40).filter(i => i % 5 <= 2).map(i => (i, i * 10.0)).toSet
    spark.conf.set("spark.graft.fusion.maxFetchRows", "10")
    try {
      val df = shaped()
      assert(pushed(df).isEmpty,
        "40-row bound > 10-row budget must keep the scan path:\n" +
          df.queryExecution.optimizedPlan)
      val scanRelations = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }
      assert(scanRelations.nonEmpty)
      assert(df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet == want)
      // a GLOBAL aggregate above the same subtree bounds to 1 row — the
      // gate is an estimator, not an off switch: this fuses even at 10
      val agg = {
        val e = remote("emp"); val d = remote("dep")
        e.join(d, e("dept") === d("id"), "leftsemi")
          .agg(sum("sal").as("total"))
      }
      assert(pushed(agg).size == 1,
        agg.queryExecution.executedPlan.toString)
      assert(agg.collect().head.getDouble(0) ==
        (1 to 40).filter(i => i % 5 <= 2).map(i => i * 10.0).sum)
      // the 3-row grouped aggregate over dep fits and fuses on its own; the
      // optimizer re-runs the rule to a fixed point, so the 40-row join
      // above it meets that fused leaf on the next pass and must weigh it
      // by its estimate, not as unknown, or it fuses whole
      val overFused = {
        val e = remote("emp")
        val d = remote("dep").groupBy("id").agg(count(lit(1)).as("n"))
        e.join(d, e("dept") === d("id")).select(e("id"), col("n"))
      }
      val plan = overFused.queryExecution.optimizedPlan
      assert(plan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.size == 1, s"emp must keep its partitioned scan:\n$plan")
      assert(plan.collect { case q: PushedSqlQuery => q.sql.contains("JOIN") } == Seq(false),
        s"only the aggregate fuses:\n$plan")
      assert(overFused.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
        (1 to 40).filter(i => i % 5 <= 2).map(i => (i, 1L)).toSet)
    } finally spark.conf.unset("spark.graft.fusion.maxFetchRows")
    // default budget (5M): the same semi join fuses into one wire query
    val fused = shaped()
    assert(pushed(fused).size == 1,
      fused.queryExecution.executedPlan.toString)
    assert(fused.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet == want)
  }

  test("the 3-level catalog resolves tables through the wire backend") {
    spark.conf.set("spark.sql.catalog.pgwire_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pgwire_cat.pgwire",
      s"127.0.0.1:${server.port}/testdb")
    spark.conf.set("spark.sql.catalog.pgwire_cat.partitions", "2")
    val n = spark.sql("SELECT count(*) AS n FROM pgwire_cat.main.emp")
      .collect().head.getLong(0)
    assert(n == 40)
    val filtered = spark.sql(
      "SELECT id FROM pgwire_cat.main.emp WHERE dept = 1 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(filtered == (1 to 40).filter(_ % 5 == 1))
  }

  test("plain scan keeps the partitioned parallel read over the wire") {
    val df = remote("emp").filter(col("dept") === 2).select("id", "sal")
    assert(pushed(df).isEmpty, "scan-expressible shapes stay on the scan path")
    assert(scans(df).nonEmpty)
    val got = df.collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    val want = (1 to 40).filter(_ % 5 == 2).map(i => (i, i * 10.0)).toSet
    assert(got == want)
  }

  test("NoticeResponse chatter interleaved with rows is skipped (client_min_messages quirk)") {
    server.noticeEveryNRows = 3
    try {
      val got = remote("emp").select("id", "sal").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == (1 to 40).map(i => (i, i * 10.0)).toSet)
    } finally server.noticeEveryNRows = 0
  }

  test("binary COPY read ≡ local Spark across the discoverable type matrix") {
    // the scan's byte-framed COPY read equals the delegate's own local
    // answer — nulls included
    def collect(df: DataFrame): Seq[Seq[Any]] = df.collect()
      .map(r => (0 until 9).map(i => r.get(i)).toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])
    val viaBinary = collect(remote("typed"))
    assert(server.eventLog.exists(_.startsWith("COPY (")),
      "the read must issue a COPY statement")
    assert(viaBinary == collect(delegate.table("typed")),
      "binary path must equal local execution")
    assert(viaBinary.size == 40)
  }

  test("executeSql decodes probe rows through binary COPY as oidType promises") {
    import graft.sources.PgCopyEncoder
    import org.apache.spark.sql.Row
    // what the server sends: int8, a numeric with more fractional digits
    // than the probe schema's Decimal(38,4), timestamptz, uuid, and a
    // column that is NULL in every row
    val wire = StructType(Seq(StructField("n", LongType),
      StructField("m", DecimalType(20, 5)), StructField("ts", TimestampType),
      StructField("u", StringType), StructField("z", LongType)))
    val ts = java.sql.Timestamp.valueOf("2024-02-29 23:59:58.123456")
    val u = "123e4567-e89b-12d3-a456-426614174000"
    val sent = Seq(
      Row(1234567890123L, new java.math.BigDecimal("1.23465"), ts, u, null),
      Row(-7L, new java.math.BigDecimal("-2.00005"), null, null, null))
    server.copyOut.put("COPY (SELECT probe_matrix) TO STDOUT (FORMAT binary)",
      PgCopyEncoder.bytes(sent, wire, uuidCols = Set("u")))
    val old = server.queryExecutor
    server.queryExecutor = sql =>
      if (sql.contains("__graft_probe") && sql.contains("SELECT probe_matrix"))
        Some(MiniPgServer.QueryResult(Seq(("n", PgWire.Oid.Int8),
          ("m", PgWire.Oid.Numeric), ("ts", PgWire.Oid.Timestamptz),
          ("u", PgWire.Oid.Uuid), ("z", PgWire.Oid.Int8)), Nil))
      else old(sql)
    val before = server.eventLog.size
    val got = try PgWireBackend.forAddress(s"127.0.0.1:${server.port}/testdb")
      .executeSql("SELECT probe_matrix")
      finally server.queryExecutor = old
    // numeric lands at scale 4, rounded HALF_UP (HALF_EVEN would give
    // 1.2346 and -2.0000)
    assert(got == Seq(
      Row(1234567890123L, new java.math.BigDecimal("1.2347"), ts, u, null),
      Row(-7L, new java.math.BigDecimal("-2.0001"), null, null, null)))
    assert(got.head.get(1).asInstanceOf[java.math.BigDecimal].scale == 4)
    // one probe, then the COPY; the statement itself never runs as text
    val sent2 = server.eventLog.drop(before)
    assert(sent2.count(_.contains("__graft_probe")) == 1, sent2)
    assert(sent2.contains("COPY (SELECT probe_matrix) TO STDOUT (FORMAT binary)"), sent2)
    assert(!sent2.contains("SELECT probe_matrix"), sent2)
  }

  test("binary COPY decodes arrays and intervals") {
    import graft.sources.{PgCopyEncoder, PgWireTaskConnection}
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("xs", ArrayType(LongType)),
      StructField("grid", ArrayType(ArrayType(IntegerType))),
      StructField("dur", DayTimeIntervalType())))
    val rows = Seq(
      Row(Seq(1L, 2L, 3L), Seq(Seq(1, 2), Seq(3, 4)), java.time.Duration.ofHours(5)),
      Row(Seq.empty[Long], Seq(Seq(7, null), Seq(9, 10)),
        java.time.Duration.ofDays(2).plusSeconds(90)),
      Row(null, null, null))
    server.copyOut.put("COPY (SELECT array_fixture) TO STDOUT (FORMAT binary)",
      PgCopyEncoder.bytes(rows, schema))
    // the binary read's RowDescription probe: int8[], int4[], interval
    // (types the wire type check leaves to the decoder)
    val old = server.queryExecutor
    server.queryExecutor = sql =>
      if (sql.contains("__graft_probe") && sql.contains("SELECT array_fixture"))
        Some(MiniPgServer.QueryResult(
          Seq(("xs", 1016), ("grid", 1007), ("dur", 1186)), Nil))
      else old(sql)
    val conn = PgWireTaskConnection(s"127.0.0.1:${server.port}/testdb")
    val got = try conn.fetch(0L, "SELECT array_fixture", schema).toVector
      finally server.queryExecutor = old
    assert(got.size == 3)
    assert(got(0).getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(got(0).getSeq[Seq[Int]](1).map(_.toSeq) == Seq(Seq(1, 2), Seq(3, 4)))
    assert(got(0).get(2) == java.time.Duration.ofHours(5))
    assert(got(1).getSeq[Long](0).isEmpty)
    assert(got(1).getSeq[Seq[Any]](1).map(_.toSeq) == Seq(Seq(7, null), Seq(9, 10)))
    assert(got(1).get(2) == java.time.Duration.ofDays(2).plusSeconds(90))
    assert(got(2).isNullAt(0) && got(2).isNullAt(1) && got(2).isNullAt(2))
  }

  test("uuid columns are detected by the LIMIT-0 probe and decoded from 16 wire bytes") {
    import graft.sources.{PgCopyEncoder, PgWireTaskConnection}
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("u", StringType), StructField("n", IntegerType)))
    val u1 = "123e4567-e89b-12d3-a456-426614174000"
    val rows = Seq(Row(u1, 1), Row(null, 2))
    server.copyOut.put("COPY (SELECT uuid_fixture) TO STDOUT (FORMAT binary)",
      PgCopyEncoder.bytes(rows, schema, uuidCols = Set("u")))
    val old = server.queryExecutor
    server.queryExecutor = sql =>
      if (sql.contains("__graft_probe") && sql.contains("SELECT uuid_fixture"))
        Some(MiniPgServer.QueryResult(
          Seq(("u", PgWire.Oid.Uuid), ("n", PgWire.Oid.Int4)), Nil))
      else old(sql)
    try {
      val got = PgWireTaskConnection(s"127.0.0.1:${server.port}/testdb")
        .fetch(0L, "SELECT uuid_fixture", schema).toVector
      assert(got == Vector(Row(u1, 1), Row(null, 2)))
    } finally server.queryExecutor = old
  }

  test("NoticeResponse chatter BETWEEN CopyData frames is skipped (mid-COPY quirk)") {
    server.noticeEveryNRows = 2 // every 2nd 7-byte frame on the COPY path
    try {
      val got = remote("emp").select("id", "sal").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toSet
      assert(got == (1 to 40).map(i => (i, i * 10.0)).toSet)
    } finally server.noticeEveryNRows = 0
  }

  test("an auth-demanding server outside the supported challenges is refused loudly, not hung") {
    // cleartext (code 3) is the remaining refusal arm now that md5 and
    // SCRAM are spoken (r14)
    val authSrv = new MiniPgServer
    authSrv.demandCleartext = true
    try {
      val e = intercept[java.io.IOException] {
        PgWire.withSession("127.0.0.1", authSrv.port, "testdb")(_.query("SELECT 1"))
      }
      assert(e.getMessage.contains("requires authentication"), e.getMessage)
    } finally authSrv.stop()
  }

  // ---- catalog kept per backend: each test gets its own double (and its
  // own address, so its own backend and catalog instance) ----

  private def catalogOn(d: PgDouble, name: String): String = {
    GraftExtensions.install(spark)
    spark.conf.set(s"spark.sql.catalog.$name", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.pgwire", s"127.0.0.1:${d.srv.port}/$name")
    spark.conf.set(s"spark.sql.catalog.$name.partitions", "2") // see the scheduler note
    name
  }

  private def deptCounts(cat: String): Set[(String, Long)] = spark.sql(
    s"""SELECT d.dname, count(*) AS n FROM $cat.main.emp e
       |JOIN $cat.main.dep d ON e.dept = d.id GROUP BY d.dname""".stripMargin)
    .collect().map(r => (r.getString(0), r.getLong(1))).toSet

  private val wantDeptCounts = Set(("eng", 8L), ("ops", 8L), ("fin", 8L))

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("the wire catalog is discovered once: repeated queries read no information_schema") {
    val d = new PgDouble(Seq("dep", "emp"))
    try {
      val cat = catalogOn(d, "pg_meta_once")
      (1 to 5).foreach(_ => assert(deptCounts(cat) == wantDeptCounts))
      assert(d.reads("tables") == 1, d.catalogReads)
      assert(d.reads("columns:emp") == 1 && d.reads("columns:dep") == 1, d.catalogReads)
    } finally d.srv.stop()
  }

  test("REFRESH TABLE and SHOW TABLES make the wire catalog read again") {
    val d = new PgDouble(Seq("dep", "emp"))
    try {
      val cat = catalogOn(d, "pg_meta_refresh")
      assert(deptCounts(cat) == wantDeptCounts)
      spark.sql(s"REFRESH TABLE $cat.main.emp")
      assert(deptCounts(cat) == wantDeptCounts)
      assert(d.reads("tables") == 2, d.catalogReads)
      assert(d.reads("columns:emp") == 2 && d.reads("columns:dep") == 2, d.catalogReads)
      val listed = spark.sql(s"SHOW TABLES IN $cat.main").collect().map(_.getString(1)).toSet
      assert(listed == Set("dep", "emp"))
      assert(d.reads("tables") == 3, d.catalogReads)
    } finally d.srv.stop()
  }

  test("a table created after discovery resolves on its first reference") {
    val d = new PgDouble(Seq("dep", "emp"))
    try {
      val cat = catalogOn(d, "pg_meta_late")
      assert(deptCounts(cat) == wantDeptCounts)
      locally {
        val s = delegate
        import s.implicits._
        Seq(1, 2, 3).toDF("k").createOrReplaceTempView("late")
      }
      d.tables = d.tables :+ "late"
      assert(spark.sql(s"SELECT sum(k) FROM $cat.main.late").collect().head.getLong(0) == 6L)
      assert(d.reads("tables") == 2, "a miss re-reads the list once: " + d.catalogReads)
      // a name the backend does not have is still not found
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT * FROM $cat.main.nowhere").collect()
      }
      assert(e.getMessage.contains("nowhere"), e.getMessage)
    } finally d.srv.stop()
  }

  test("a same-width type change fails the read naming REFRESH TABLE, then reads right after it") {
    def plant(bonus: String): Unit = delegate.sql(
      s"""CREATE OR REPLACE TEMP VIEW drift AS
         |SELECT CAST(id AS INT) AS id, $bonus AS bonus FROM range(1, 11)""".stripMargin)
    plant("CAST(id % 3 AS INT)")
    val d = new PgDouble(Seq("drift"))
    try {
      val cat = catalogOn(d, "pg_meta_drift")
      def read() = spark.sql(s"SELECT id, bonus FROM $cat.main.drift ORDER BY id").collect()
      assert(read().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
        (1 to 10).map(i => (i, i % 3)))
      // int4 -> float4: 4 wire bytes either way, so only the type check
      // stands between the kept IntegerType schema and wrong values
      plant("CAST(id % 3 AS REAL) + CAST(0.25 AS REAL)")
      val e = intercept[Exception](read())
      assert(messages(e).exists(m => m != null && m.contains("'bonus'") &&
        m.contains("REFRESH TABLE")), messages(e).mkString("\n"))
      spark.sql(s"REFRESH TABLE $cat.main.drift")
      assert(read().map(r => (r.getInt(0), r.getFloat(1))).toSeq ==
        (1 to 10).map(i => (i, i % 3 + 0.25f)))
    } finally d.srv.stop()
  }

  test("the wire type check accepts exactly the type OIDs each binary reader decodes") {
    import graft.sources.PgWireTaskConnection.checkWireTypes
    import PgWire.Oid._
    val cases: Seq[(DataType, Int, Boolean)] = Seq(
      (BooleanType, Bool, true), (BooleanType, Int2, false),
      (ShortType, Int2, true), (ShortType, Int4, false),
      (IntegerType, Int4, true), (IntegerType, Float4, false), (IntegerType, Int8, false),
      (LongType, Int8, true), (LongType, Timestamp, false), (LongType, Float8, false),
      (FloatType, Float4, true), (FloatType, Int4, false),
      (DoubleType, Float8, true), (DoubleType, Int8, false), (DoubleType, Numeric, false),
      (DecimalType(12, 2), Numeric, true), (DecimalType(12, 2), Float8, false),
      (StringType, Text, true), (StringType, Varchar, true), (StringType, Bpchar, true),
      (StringType, Uuid, true), (StringType, Bytea, false), (StringType, Int4, false),
      (BinaryType, Bytea, true), (BinaryType, Text, false),
      (DateType, Date, true), (DateType, Int4, false),
      (TimestampType, Timestamptz, true), (TimestampType, Timestamp, true),
      (TimestampNTZType, Timestamp, true), (TimestampNTZType, Timestamptz, true),
      (TimestampType, Int8, false), (TimestampNTZType, Float8, false))
    cases.foreach { case (dt, oid, accepted) =>
      val schema = StructType(Seq(StructField("c", dt)))
      val fields = Seq(PgWire.Field("c", oid))
      if (accepted) checkWireTypes(fields, schema, "q")
      else {
        val e = intercept[IllegalStateException](checkWireTypes(fields, schema, "q"))
        assert(e.getMessage.contains("'c'") && e.getMessage.contains(s"oid $oid") &&
          e.getMessage.contains(dt.simpleString) && e.getMessage.contains("REFRESH TABLE"),
          e.getMessage)
      }
    }
    // types with no entry are left to the decoder
    Seq(ArrayType(LongType), DayTimeIntervalType(),
      StructType(Seq(StructField("x", IntegerType)))).foreach { dt =>
      checkWireTypes(Seq(PgWire.Field("c", 1016)), StructType(Seq(StructField("c", dt))), "q")
    }
    val e = intercept[IllegalArgumentException](checkWireTypes(
      Seq(PgWire.Field("a", Int4)), StructType(Seq(StructField("a", IntegerType),
        StructField("b", IntegerType))), "q"))
    assert(e.getMessage.contains("width 1 != expected 2"), e.getMessage)
  }
}
