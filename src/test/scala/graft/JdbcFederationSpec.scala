package graft

import java.sql.DriverManager

import graft.sources.{DerbyDialect, GraftScan, JdbcBackend, JdbcTaskConnection, WroteCount}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The production JDBC backend against a REAL database: embedded Derby
  * (in-memory, ships with the Spark distribution). Everything the
  * federation layer negotiates — discovery, pushdown rendering in the
  * Derby dialect, PK-range partition splits, task-side streaming reads,
  * and the executor-side transactional write path — runs against an
  * actual SQL engine here, not the in-process double. */
class JdbcFederationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Url = {
    System.setProperty("derby.system.home", "/tmp/derby")
    val url = "jdbc:derby:memory:graftjdbc"
    val c = DriverManager.getConnection(url + ";create=true")
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE "acct" ("id" INTEGER NOT NULL PRIMARY KEY,
        | "name" VARCHAR(32), "bal" DOUBLE, "flag" BOOLEAN)""".stripMargin)
    val ins = (1 to 100).map { i =>
      val name = if (i % 10 == 0) "NULL" else s"'acct_$i'"
      s"($i, $name, ${i * 1.5}, ${if (i % 2 == 0) "TRUE" else "FALSE"})"
    }.mkString(", ")
    st.executeUpdate(s"""INSERT INTO "acct" VALUES $ins""")
    st.executeUpdate(s"""INSERT INTO "acct" VALUES (101, NULL, NULL, NULL)""")
    c.close()
    url
  }

  private def remote(table: String): DataFrame =
    spark.read.format("graft-sqldb")
      .option("url", Url)
      .option("table", table)
      .load()

  private def graftScan(df: DataFrame): GraftScan = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        b.scan.asInstanceOf[GraftScan]
    }
    assert(scans.nonEmpty, "no graft scan in plan:\n" + df.queryExecution.executedPlan)
    scans.head
  }

  /** The one fused backend query `df` executes; no graft scan may be left
    * beside it. */
  private def fused(df: DataFrame): graft.plans.PushedSqlExec = {
    val plan = df.queryExecution.executedPlan
    val pushed = plan.collect { case p: graft.plans.PushedSqlExec => p }
    assert(pushed.size == 1 && plan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
    }.isEmpty, "expected one fused backend query:\n" + plan)
    pushed.head
  }

  private def backend = JdbcBackend.forUrl(Url)

  test("catalog discovery: tables, schema, primary key from JDBC metadata") {
    assert(backend.tables.contains("acct"))
    assert(backend.tableExists("acct") && !backend.tableExists("nope"))
    val s = backend.schema("acct")
    assert(s.fieldNames.toSeq == Seq("id", "name", "bal", "flag"))
    assert(s("id").dataType == IntegerType && !s("id").nullable)
    assert(s("name").dataType == StringType && s("name").nullable)
    assert(s("bal").dataType == DoubleType)
    assert(s("flag").dataType == BooleanType)
    assert(backend.uniqueKey("acct").contains(Seq("id")))
  }

  test("end-to-end read returns every row with correct values and NULLs") {
    val rows = remote("acct").collect()
    assert(rows.length == 101)
    val r7 = rows.find(_.getInt(0) == 7).get
    assert(r7.getString(1) == "acct_7" && r7.getDouble(2) == 10.5 && !r7.getBoolean(3))
    val r101 = rows.find(_.getInt(0) == 101).get
    assert(r101.isNullAt(1) && r101.isNullAt(2) && r101.isNullAt(3))
  }

  test("integral-PK scan splits into range partitions; union covers all rows once") {
    val df = remote("acct")
    val parts = graftScan(df).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.length > 1)
    // unbounded outer edges: the first range has no lower bound, the last
    // no upper bound, every other range both
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.sql.contains("\"id\" >=") == (i > 0), p.sql)
      assert(p.sql.contains("\"id\" <") == (i < parts.length - 1), p.sql)
    }
    assert(df.rdd.getNumPartitions == parts.length)
    assert(df.select(sum("id")).collect().head.getLong(0) == (1 to 101).sum.toLong)
  }

  test("filters render in the Derby dialect; unsupported stay residual but answer right") {
    val df = remote("acct").filter(col("bal") > 30.0 && col("name").startsWith("acct"))
    val scan = graftScan(df)
    assert(scan.renderedSql.contains("\"bal\" > 30.0"), scan.renderedSql)
    assert(scan.renderedSql.contains("LIKE 'acct%'"), scan.renderedSql)
    // i in 21..100 (bal = 1.5*i > 30), minus the NULL-named multiples of 10
    assert(df.count() == 72)

    // a prefix containing the LIKE metachar `_` must stay residual (escape
    // syntax is dialect-divergent) and still answer correctly
    val meta = remote("acct").filter(col("name").startsWith("acct_2"))
    assert(!graftScan(meta).renderedSql.contains("LIKE"), graftScan(meta).renderedSql)
    assert(meta.count() == 10) // acct_2 and acct_21..acct_29

    // null-safe equality has no Derby rendering -> residual, still correct
    val ns = remote("acct").filter(col("name") <=> lit(null: String))
    assert(!graftScan(ns).renderedSql.contains("DISTINCT"),
      graftScan(ns).renderedSql)
    assert(ns.count() == 11) // ids 10,20,...,100 and 101

    // temporal literal rendering goes through the dialect (Derby has no
    // ANSI typed literals — constructor-function form instead)
    val d = backend.dialect
    val day = new org.apache.spark.sql.connector.expressions.Literal[Int] {
      override def value: Int = java.time.LocalDate.parse("2026-01-02").toEpochDay.toInt
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.DateType
    }
    assert(graft.sources.V2PredicateSql.render(
      new org.apache.spark.sql.connector.expressions.filter.Predicate(">",
        Array(org.apache.spark.sql.connector.expressions.Expressions.column("c"), day)), d)
      .contains("(\"c\" > DATE('2026-01-02'))"))
  }

  test("V2 expression predicates reach Derby (ABS, arithmetic)") {
    val df = remote("acct").filter(abs(col("bal") - 75.0) < 15.0)
    val sql = graftScan(df).renderedSql
    assert(sql.contains("ABS("), sql)
    // bal = 1.5*i, |1.5i - 75| < 15  =>  40 < i < 60  =>  41..59
    assert(df.count() == 19)

    // Derby has no % operator: a modulo predicate must stay a Spark
    // residual (pushing it would make the scan throw at execution)
    val mod = remote("acct").filter(col("id") % 2 === 0)
    assert(!graftScan(mod).renderedSql.contains("%"), graftScan(mod).renderedSql)
    assert(mod.count() == 50)

    // Derby forbids numeric→VARCHAR CAST: the string-cast predicate
    // (a legal Spark upcast) must stay residual too
    val cast = remote("acct").filter(col("id").cast("string") === "7")
    assert(!graftScan(cast).renderedSql.contains("VARCHAR"), graftScan(cast).renderedSql)
    assert(cast.count() == 1)

    // a numeric-widening CAST is Derby-legal and may push
    val up = remote("acct").filter(col("id").cast("bigint") > 95L)
    assert(up.count() == 6)

    // non-upcast casts (offered by ANSI-mode translation) must stay
    // residual: boolean->int is Derby-illegal and semantics-divergent
    val bc = remote("acct").filter(col("flag").cast("int") === 1)
    assert(!graftScan(bc).renderedSql.contains("CAST(\"flag\""),
      graftScan(bc).renderedSql)
    assert(bc.count() == 50)

    // decimal targets past Derby's precision-31 ceiling must stay residual
    val bigDec = remote("acct").filter(col("id").cast("decimal(38,0)") === java.math.BigDecimal.valueOf(7))
    assert(!graftScan(bigDec).renderedSql.contains("DECIMAL(38"),
      graftScan(bigDec).renderedSql)
    assert(bigDec.count() == 1)
  }

  test("top-N pushes as Derby OFFSET/FETCH; Spark's own sort is dropped") {
    val df = remote("acct").orderBy(col("bal").desc).limit(3)
    val sql = graftScan(df).renderedSql
    assert(sql.contains("ORDER BY \"bal\" DESC"), sql)
    assert(sql.contains("FETCH NEXT 3 ROWS ONLY"), sql)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(100, 99, 98))
  }

  test("aggregate pushdown: whole GROUP BY answered by Derby") {
    graft.plans.GraftExtensions.install(spark)
    val df = remote("acct").groupBy("flag").agg(count(lit(1)).as("n"))
    val sql = fused(df).sql
    assert(sql.contains("COUNT(*)") && sql.contains("GROUP BY"), sql)
    val got = df.collect().map(r =>
      (if (r.isNullAt(0)) None else Some(r.getBoolean(0))) -> r.getLong(1)).toMap
    assert(got == Map(Some(true) -> 50L, Some(false) -> 50L, None -> 1L))
  }

  test("statistical aggregates push to the backend where the dialect has them") {
    // Derby 10.16 has the STDDEV/VAR family (probed) but not CORR/COVAR —
    // the per-name dialect gate decides per aggregate
    graft.plans.GraftExtensions.install(spark)
    val df = remote("acct").agg(stddev_samp(col("bal")).as("sd"),
      var_pop(col("bal")).as("vp"))
    val sql = fused(df).sql
    assert(sql.contains("STDDEV_SAMP(") && sql.contains("VAR_POP("), sql)
    val want = spark.range(1, 101).select((col("id") * 1.5).as("bal"))
      .agg(stddev_samp(col("bal")), var_pop(col("bal"))).collect().head
    val got = df.collect().head
    // Derby's accumulation order differs — compare to relative 1e-9
    assert(math.abs(got.getDouble(0) - want.getDouble(0)) < 1e-9 * want.getDouble(0))
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-9 * want.getDouble(1))

    // CORR is off Derby's surface: the aggregate must stay in Spark (the
    // scan fetches the bare column, no pushed CORR), and still answer
    // correctly. (Plan-string check: this plan shuffles, so AQE wraps it
    // and the scan node is not collectible pre-execution.)
    val dfc = remote("acct").agg(corr(col("bal"), col("bal")).as("c"))
    val plan = dfc.queryExecution.executedPlan.toString
    assert(!plan.contains("CORR(") && plan.contains("SELECT \"bal\" FROM \"acct\""), plan)
    assert(math.abs(dfc.collect().head.getDouble(0) - 1.0) < 1e-12)
  }

  test("executor-side write: commit messages carry counts, rows are durable per task") {
    backend.executeUpdate(
      """CREATE TABLE "sink" ("k" INTEGER, "v" VARCHAR(32672))""")
    try {
      assert(backend.supportsTaskSideWrites)
      // unit-level: the streaming writer's commit message must carry NO
      // tuple text — only the count travels to the driver
      val schema = StructType(Seq(
        StructField("k", IntegerType), StructField("v", StringType)))
      val factory = graft.sources.GraftWriterFactory("sink", schema, backend)
      val writer = factory.createWriter(0, 0L)
      val ser = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()
      (1 to 1234).foreach(i => writer.write(ser(Row(i, s"v_$i")).copy()))
      val msg = writer.commit()
      assert(msg.isInstanceOf[WroteCount], s"streaming path leaked tuples: $msg")
      assert(msg.asInstanceOf[WroteCount].rows == 1234L)
      // rows are already durable (per-task transaction committed)
      assert(backend.executeSql("""SELECT COUNT(*) FROM "sink"""")
        .head.get(0).asInstanceOf[Number].longValue == 1234L)

      // abort path: nothing from a rolled-back writer may be durable
      val w2 = factory.createWriter(1, 1L)
      (1 to 600).foreach(i => w2.write(ser(Row(-i, "doomed")).copy())) // >1 batch flushed
      w2.abort()
      assert(backend.executeSql("""SELECT COUNT(*) FROM "sink" WHERE "k" < 0""")
        .head.get(0).asInstanceOf[Number].longValue == 0L)
    } finally backend.executeUpdate("""DROP TABLE "sink"""")
  }

  test("DataFrame append + read-back round-trip through the JDBC sink") {
    backend.executeUpdate(
      """CREATE TABLE "rt" ("id" BIGINT NOT NULL PRIMARY KEY, "score" DOUBLE)""")
    try {
      import spark.implicits._
      val df = spark.range(0, 500).select(col("id"),
        (col("id") * 2.5).as("score"))
      df.write.format("graft-sqldb").option("url", Url)
        .option("table", "rt").mode("append").save()
      val back = remote("rt")
      assert(back.count() == 500)
      assert(back.agg(sum("score")).collect().head.getDouble(0) ==
        (0L until 500L).map(_ * 2.5).sum)
      assert(back.rdd.getNumPartitions > 1) // PK range split on read-back
    } finally backend.executeUpdate("""DROP TABLE "rt"""")
  }

  test("decimal column write + read-back round-trip preserves type and value") {
    // closes the reference's type matrix end-to-end (NUMERIC ↔ Decimal,
    // `datatypes.rs:160-162`): discovery maps Derby DECIMAL(12,2) →
    // DecimalType(12,2), the INSERT renders exact decimal literals, and
    // the read decodes getBigDecimal — no double hop anywhere
    backend.executeUpdate(
      """CREATE TABLE "money" ("id" INTEGER NOT NULL PRIMARY KEY, "amt" DECIMAL(12,2))""")
    try {
      val rows = (1 to 200).map(i =>
        org.apache.spark.sql.Row(i, new java.math.BigDecimal(s"$i.${10 + i % 90}")))
      val schema = StructType(Seq(StructField("id", IntegerType, false),
        StructField("amt", DecimalType(12, 2))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), schema)
      df.write.format("graft-sqldb").option("url", Url)
        .option("table", "money").mode("append").save()
      val back = remote("money")
      assert(back.schema("amt").dataType == DecimalType(12, 2))
      // exact sum in decimal — any literal-rendering or decode drift fails
      val want = rows.map(_.get(1).asInstanceOf[java.math.BigDecimal])
        .reduce(_ add _)
      assert(back.agg(sum(col("amt"))).collect().head
        .getDecimal(0).compareTo(want) == 0)
      val r7 = back.filter(col("id") === 7).collect().head
      assert(r7.getDecimal(1).compareTo(new java.math.BigDecimal("7.17")) == 0)
    } finally backend.executeUpdate("""DROP TABLE "money"""")
  }

  test("timestamp_ntz column writes through the JDBC sink as the wall-clock") {
    // NTZ ↔ backend TIMESTAMP (zoneless) is the lossless direction of the
    // temporal matrix: the INSERT literal must be the LocalDateTime
    // verbatim — a session-zone shift anywhere would move the wall-clock.
    // Discovery reads Derby TIMESTAMP back as TimestampType under the
    // pinned UTC session, so the instant must equal the wall-clock @ UTC.
    backend.executeUpdate(
      """CREATE TABLE "ntz" ("id" INTEGER NOT NULL PRIMARY KEY, "at" TIMESTAMP)""")
    try {
      val t1 = java.time.LocalDateTime.of(2024, 6, 1, 12, 34, 56, 123456000)
      val t2 = java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59, 999999000)
      val schema = StructType(Seq(StructField("id", IntegerType, false),
        StructField("at", TimestampNTZType)))
      val rows = Seq(org.apache.spark.sql.Row(1, t1),
        org.apache.spark.sql.Row(2, t2), org.apache.spark.sql.Row(3, null))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.format("graft-sqldb").option("url", Url)
        .option("table", "ntz").mode("append").save()
      val got = remote("ntz").orderBy("id").collect()
      assert(got(0).getAs[java.sql.Timestamp](1).toInstant ===
        t1.toInstant(java.time.ZoneOffset.UTC))
      assert(got(1).getAs[java.sql.Timestamp](1).toInstant ===
        t2.toInstant(java.time.ZoneOffset.UTC))
      assert(got(2).isNullAt(1))
    } finally backend.executeUpdate("""DROP TABLE "ntz"""")
  }

  test("composite-PK table splits via outer-level ORDER BY + OFFSET/FETCH, exactly once") {
    backend.executeUpdate(
      """CREATE TABLE "cpk" ("a" INTEGER NOT NULL, "b" INTEGER NOT NULL,
        | "v" DOUBLE, PRIMARY KEY ("a", "b"))""".stripMargin)
    try {
      (0 until 10).foreach { a =>
        backend.executeUpdate(s"""INSERT INTO "cpk" VALUES ${
          (0 until 20).map(b => s"($a, $b, ${a * 100.0 + b})").mkString(", ")}""")
      }
      val df = remote("cpk")
      val parts = graftScan(df).planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition])
      assert(parts.length > 1)
      // the sort must sit on the SAME level as OFFSET/FETCH (an ORDER BY
      // inside a derived table is not guaranteed to survive it)
      parts.foreach { p =>
        assert(p.sql.contains("graft_part ORDER BY"), p.sql)
        assert(p.sql.contains("OFFSET") || p.sql.contains("FETCH"), p.sql)
      }
      val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
      val want = (for (a <- 0 until 10; b <- 0 until 20) yield (a, b, a * 100.0 + b)).sorted
      assert(got == want)
    } finally backend.executeUpdate("""DROP TABLE "cpk"""")
  }

  test("metadata lookups escape LIKE metacharacters in table names") {
    // "s_k" must not merge columns with (or match existence of) "sak"
    backend.executeUpdate("""CREATE TABLE "s_k" ("x" INTEGER)""")
    backend.executeUpdate("""CREATE TABLE "sak" ("y" DOUBLE, "z" DOUBLE)""")
    try {
      assert(backend.schema("s_k").fieldNames.toSeq == Seq("x"))
      assert(backend.tableExists("s_k"))
      backend.executeUpdate("""DROP TABLE "s_k"""")
      assert(!backend.tableExists("s_k"), "pattern matched a different table")
    } finally backend.executeUpdate("""DROP TABLE "sak"""")
  }

  test("join fusion: the whole join (and the aggregate above it) runs in Derby") {
    graft.plans.GraftExtensions.install(spark)
    backend.executeUpdate(
      """CREATE TABLE "bonus" ("id" INTEGER NOT NULL PRIMARY KEY, "extra" DOUBLE)""")
    (1 to 50).grouped(25).foreach { g =>
      backend.executeUpdate(
        s"""INSERT INTO "bonus" VALUES ${g.map(i => s"($i, ${i * 0.25})").mkString(", ")}""")
    }
    // plain join: ONE backend query joins the two scans' subqueries
    // ("id" collides across sides — exercises the aliasing)
    val acct = remote("acct")
    val bonus = remote("bonus")
    val joined = acct.join(bonus, acct("id") === bonus("id"))
    assert(fused(joined).sql.contains(" JOIN "), fused(joined).sql)
    assert(joined.count() == 50)

    // join + filter + aggregate: one Derby query answers all of it
    val agg = acct.join(bonus, acct("id") === bonus("id"))
      .filter(col("bal") > 10.0)
      .groupBy("flag").agg(count(lit(1)).as("n"))
    val sql = fused(agg).sql
    assert(sql.contains(" JOIN ") && sql.contains("GROUP BY"), sql)
    val got = agg.collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    // ids 7..50 (bal=1.5*i>10 => i>=7), evens have flag=true
    val want = (7 to 50).groupBy(_ % 2 == 0).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)

    // left join NULL-extends the right side without corrupting decode
    val left = acct.join(bonus, acct("id") === bonus("id"), "left")
    assert(left.count() == 101)
    assert(left.filter(col("extra").isNull).count() == 51)

    // top-N above the join: ORDER BY + FETCH land in the SAME backend
    // query as the join
    val top = acct.join(bonus, acct("id") === bonus("id"))
      .orderBy(col("extra").desc).limit(4)
    val topSql = fused(top).sql
    assert(topSql.contains(" JOIN "), topSql)
    assert(topSql.contains("ORDER BY"), topSql)
    assert(topSql.contains("FETCH NEXT 4 ROWS ONLY"), topSql)
    assert(top.select("extra").collect().map(_.getDouble(0)).toSeq ==
      Seq(12.5, 12.25, 12.0, 11.75))

    // a RIGHT join keeps every right row exactly once
    val right = acct.join(bonus, acct("id") === bonus("id"), "right")
    assert(right.count() == 50)
    assert(fused(right).sql.contains("RIGHT OUTER JOIN"), fused(right).sql)
    val rIds = right.select(bonus("id")).collect().map(_.getInt(0)).sorted.toSeq
    assert(rIds == (1 to 50), "right join dropped/duplicated rows")

    // 3-table chain: both joins in one backend query
    backend.executeUpdate(
      """CREATE TABLE "tier" ("id" INTEGER NOT NULL PRIMARY KEY, "t" INTEGER)""")
    try {
      backend.executeUpdate(s"""INSERT INTO "tier" VALUES ${
        (1 to 30).map(i => s"($i, ${i % 3})").mkString(", ")}""")
      val tier = remote("tier")
      val chain = acct.join(bonus, acct("id") === bonus("id"))
        .join(tier, bonus("id") === tier("id"))
      val chainSql = fused(chain).sql
      assert(chainSql.sliding(6).count(_ == " JOIN ") == 2, chainSql)
      assert(chain.count() == 30)
      val ids = chain.select(acct("id")).collect().map(_.getInt(0)).sorted.toSeq
      assert(ids == (1 to 30).toSeq)
    } finally backend.executeUpdate("""DROP TABLE "tier"""")
  }

  test("FULL joins decompose into a LEFT join plus a NOT-EXISTS anti join on Derby") {
    // FULL = (A LEFT JOIN B) ∪ALL (NULLs ++ (B ANTI A)), on a backend
    // (Derby) that has no FULL JOIN of its own: the anti branch renders
    // as NOT EXISTS
    backend.executeUpdate(
      """CREATE TABLE "fl" ("id" INTEGER NOT NULL PRIMARY KEY, "lv" DOUBLE)""")
    backend.executeUpdate(
      """CREATE TABLE "fr" ("rid" INTEGER NOT NULL PRIMARY KEY, "rv" DOUBLE)""")
    val s = TestSpark.spark.newSession()
    graft.plans.GraftExtensions.install(s)
    try {
      backend.executeUpdate(s"""INSERT INTO "fl" VALUES ${
        (1 to 100).map(i => s"($i, ${i * 1.0})").mkString(", ")}""")
      backend.executeUpdate(s"""INSERT INTO "fr" VALUES ${
        (51 to 150).map(i => s"($i, ${i * 2.0})").mkString(", ")}""")
      def rd(t: String) = s.read.format("graft-sqldb")
        .option("url", Url).option("table", t).load()
      val l = rd("fl"); val r = rd("fr")
      val df = l.join(r, l("id") === r("rid"), "full")

      // the optimized plan holds the decomposition, not a FULL join
      assert(!df.queryExecution.optimizedPlan.toString.contains("FullOuter"),
        df.queryExecution.optimizedPlan.toString)
      // the anti branch renders as NOT EXISTS with typed NULLs for the
      // left columns
      val pushed = df.queryExecution.executedPlan.collect {
        case p: graft.plans.PushedSqlExec => p
      }
      assert(pushed.exists(p => p.sql.contains("NOT EXISTS") &&
        p.sql.contains("CAST(NULL AS")), df.queryExecution.executedPlan.toString)

      // the branches union to the full-join truth:
      // matched 51..100, left-only 1..50, right-only 101..150
      val rows = df.select(l("id"), r("rid")).collect()
        .map(x => (if (x.isNullAt(0)) -1 else x.getInt(0),
          if (x.isNullAt(1)) -1 else x.getInt(1))).sorted.toSeq
      val want = ((1 to 50).map(i => (i, -1)) ++
        (51 to 100).map(i => (i, i)) ++
        (101 to 150).map(i => (-1, i))).sorted
      assert(rows == want, "partition union differs from FULL join semantics")
    } finally {
      backend.executeUpdate("""DROP TABLE "fl"""")
      backend.executeUpdate("""DROP TABLE "fr"""")
    }
  }

  test("a join over KEYLESS tables with duplicate rows fuses multiset-exact") {
    // no PK anywhere, and duplicate rows on purpose: the fused join must
    // keep every copy
    graft.plans.GraftExtensions.install(spark)
    backend.executeUpdate("""CREATE TABLE "nk" ("id" INTEGER NOT NULL, "w" DOUBLE)""")
    backend.executeUpdate("""CREATE TABLE "nkdim" ("id" INTEGER NOT NULL, "lab" VARCHAR(8))""")
    try {
      backend.executeUpdate(s"""INSERT INTO "nk" VALUES ${
        ((1 to 40) ++ Seq(5, 5, 17)).map(i => s"($i, ${i * 0.5})").mkString(", ")}""")
      backend.executeUpdate(s"""INSERT INTO "nkdim" VALUES ${
        (1 to 40).map(i => s"($i, 'd_$i')").mkString(", ")}""")
      val nk = remote("nk")
      val dim = remote("nkdim")
      val j = nk.join(dim, nk("id") === dim("id"))
      assert(fused(j).sql.contains(" JOIN "), fused(j).sql)
      // multiset-exact union: the duplicated ids join once per copy
      val got = j.select(nk("id"), col("lab")).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
      val want = ((1 to 40) ++ Seq(5, 5, 17)).sorted.map(i => (i, s"d_$i")).toSeq
      assert(got == want)
    } finally {
      backend.executeUpdate("""DROP TABLE "nk"""")
      backend.executeUpdate("""DROP TABLE "nkdim"""")
    }
  }

  test("sparse skewed integral key splits by probed quantiles, not value stride") {
    // snowflake-id shape: 100 keys near 1 and 100 keys near 10^10 — a
    // uniform value stride piles every row into the two edge partitions
    // and plans the rest empty; quantile probing balances them
    backend.executeUpdate(
      """CREATE TABLE "sparse" ("id" BIGINT NOT NULL PRIMARY KEY, "v" INTEGER)""")
    try {
      backend.executeUpdate(s"""INSERT INTO "sparse" VALUES ${
        ((1L to 100L) ++ (10000000001L to 10000000100L))
          .map(i => s"($i, ${i % 97})").mkString(", ")}""")
      val df = remote("sparse")
      val parts = graftScan(df).planInputPartitions()
        .map(_.asInstanceOf[graft.sources.GraftInputPartition])
      assert(parts.length > 1, "sparse key did not split")
      // execute each partition's SQL directly: disjoint, covering, and
      // BALANCED — no partition may hold the majority of the rows
      val perPart = parts.map(p => backend.executeSql(p.sql).length)
      assert(perPart.sum == 200,
        s"partition union lost/duplicated rows: ${perPart.toSeq}")
      assert(perPart.max <= 120,
        s"quantile split left a skewed partition: ${perPart.toSeq}")
      val ids = df.collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == ((1L to 100L) ++ (10000000001L to 10000000100L)))
    } finally backend.executeUpdate("""DROP TABLE "sparse"""")
  }

  test("task-side fetch decodes in batches: boundary crossings, exact multiple, empty") {
    backend.executeUpdate("""CREATE TABLE "batchy" ("id" INTEGER NOT NULL, "v" DOUBLE)""")
    try {
      // 2600 rows: two full 1024-blocks + a 552 tail
      (1 to 2600).grouped(250).foreach { g =>
        backend.executeUpdate(s"""INSERT INTO "batchy" VALUES ${
          g.map(i => s"($i, ${i * 0.25})").mkString(", ")}""")
      }
      val schema = backend.schema("batchy")
      def fetchAll(sql: String): Seq[org.apache.spark.sql.Row] =
        JdbcTaskConnection(Url).fetch(0L, sql, schema).toSeq
      val rows = fetchAll("""SELECT "id", "v" FROM "batchy" ORDER BY "id"""")
      assert(rows.length == 2600)
      assert(rows.map(_.getInt(0)) == (1 to 2600))
      assert(rows(1023).getDouble(1) == 1024 * 0.25) // last row of block 1
      assert(rows(1024).getDouble(1) == 1025 * 0.25) // first row of block 2
      // exact multiple of the block size: the extra fill sees a clean end
      val exact = fetchAll(
        """SELECT "id", "v" FROM "batchy" WHERE "id" <= 2048 ORDER BY "id"""")
      assert(exact.length == 2048 && exact.last.getInt(0) == 2048)
      // empty result closes without serving anything
      assert(fetchAll("""SELECT "id", "v" FROM "batchy" WHERE "id" < 0""").isEmpty)
      // end-to-end through the scan (keyless table → window fallback):
      // every row exactly once, correct values
      val df = remote("batchy")
      assert(df.count() == 2600)
      assert(df.agg(sum(col("v"))).collect().head.getDouble(0) ==
        (1 to 2600).map(_ * 0.25).sum)
    } finally backend.executeUpdate("""DROP TABLE "batchy"""")
  }

  test("exactly-once sink: replayed micro-batches land once; a stream flows through it") {
    backend.executeUpdate("""CREATE TABLE "eo_sink" ("k" BIGINT, "n" BIGINT)""")
    try {
      import TestSpark.spark.implicits._
      val write = graft.streaming.ExactlyOnceSink(Url, "eo_sink") _
      def b(rows: (Long, Long)*) = rows.toDF("k", "n")
      def landed(): Seq[(Long, Long)] =
        backend.executeSql("""SELECT "k", "n" FROM "eo_sink"""")
          .map(r => (r.get(0).asInstanceOf[Number].longValue,
            r.get(1).asInstanceOf[Number].longValue)).sorted
      write(b(1L -> 10L, 2L -> 20L), 0L)
      write(b(1L -> 10L, 2L -> 20L), 0L) // foreachBatch retry: same id
      assert(landed() == Seq(1L -> 10L, 2L -> 20L),
        "replayed batch double-landed")
      write(b(3L -> 30L), 1L)
      write(b(3L -> 30L), 1L) // replay of the second batch
      write(b(1L -> 10L, 2L -> 20L), 0L) // late replay of the FIRST batch
      assert(landed() == Seq(1L -> 10L, 2L -> 20L, 3L -> 30L))
      // an actual stream drives the same body end-to-end
      import org.apache.spark.sql.streaming.Trigger
      val q = spark.readStream.format("rate")
        .option("rowsPerSecond", "200").load()
        .select((col("value") % 5).as("k"), lit(1L).as("n"))
        .writeStream.trigger(Trigger.ProcessingTime(200))
        .foreachBatch(write)
        .start()
      try {
        val deadline = System.currentTimeMillis() + 30000
        var n = 0L
        while (n <= 3 && System.currentTimeMillis() < deadline) {
          Thread.sleep(500)
          n = backend.executeSql("""SELECT COUNT(*) FROM "eo_sink"""")
            .head.get(0).asInstanceOf[Number].longValue
        }
        assert(n > 3, "stream produced no rows through the exactly-once sink")
      } finally q.stop()
      // marker table recorded every published batch id exactly once
      val ids = backend.executeSql(
        """SELECT "batch_id", COUNT(*) FROM "eo_sink__batches" GROUP BY "batch_id"""")
        .map(r => r.get(1).asInstanceOf[Number].longValue)
      assert(ids.nonEmpty && ids.forall(_ == 1L))
    } finally {
      backend.executeUpdate("""DROP TABLE "eo_sink"""")
      backend.executeUpdate("""DROP TABLE "eo_sink__staging"""")
      backend.executeUpdate("""DROP TABLE "eo_sink__batches"""")
    }
  }

  test("exactly-once sink crash windows: staged-unpublished, publish race, task-retry dups") {
    backend.executeUpdate("""CREATE TABLE "eo_crash" ("k" BIGINT, "n" BIGINT)""")
    try {
      import TestSpark.spark.implicits._
      val sink = graft.streaming.ExactlyOnceSink
      val write = sink(Url, "eo_crash") _
      def b(rows: (Long, Long)*) = rows.toDF("k", "n")
      def targetRows(): Seq[(Long, Long)] =
        backend.executeSql("""SELECT "k", "n" FROM "eo_crash"""")
          .map(r => (r.get(0).asInstanceOf[Number].longValue,
            r.get(1).asInstanceOf[Number].longValue)).sorted
      def stagingCount(): Long =
        backend.executeSql("""SELECT COUNT(*) FROM "eo_crash__staging"""")
          .head.get(0).asInstanceOf[Number].longValue
      def markerCount(id: Long): Long =
        backend.executeSql(
          s"""SELECT COUNT(*) FROM "eo_crash__batches" WHERE "batch_id" = $id""")
          .head.get(0).asInstanceOf[Number].longValue

      // window (a): batch 1 lands in staging, crash BEFORE publish — the
      // replay of the same id must put exactly one copy in the target
      write(b(1L -> 10L), 0L) // normal batch 0 bootstraps the side tables
      b(2L -> 20L).write.format("graft-sqldb").option("url", Url)
        .option("table", "eo_crash__staging").mode("append").save()
      assert(stagingCount() == 1 && markerCount(1L) == 0,
        "crash simulation precondition: staged but unpublished")
      write(b(2L -> 20L), 1L) // the replay
      assert(targetRows() == Seq(1L -> 10L, 2L -> 20L),
        "staged-but-unpublished crash replay lost or doubled the batch")
      assert(markerCount(1L) == 1)

      // window (b): two CONCURRENT publishes of one id — the loser must
      // hit the marker-PK branch, roll back whole, and swallow only
      // after confirming the winner's marker row
      backend.executeUpdate("""DELETE FROM "eo_crash__staging"""")
      backend.executeUpdate("""INSERT INTO "eo_crash__staging" VALUES (3, 30)""")
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val racers = Seq.fill(2)(new Thread(() =>
        try sink.publish(backend, "eo_crash", "eo_crash__staging",
          "eo_crash__batches", 2L)
        catch { case t: Throwable => errs.add(t) }))
      racers.foreach(_.start()); racers.foreach(_.join())
      assert(errs.isEmpty,
        s"publish race leaked an error: ${Option(errs.peek()).map(_.toString)}")
      assert(targetRows().count(_ == (3L, 30L)) == 1,
        "concurrent publishes duplicated the batch")
      assert(markerCount(2L) == 1)

      // window (c): a task that committed its backend transaction but
      // died unreported re-attempts and double-lands its partition —
      // the count verification must truncate and re-land
      var landings = 0
      sink.landVerified(backend, "eo_crash__staging", 2L, () => {
        landings += 1
        val times = if (landings == 1) 2 else 1 // first attempt: retry dup
        (1 to times).foreach(_ => backend.executeUpdate(
          """INSERT INTO "eo_crash__staging" VALUES (4, 40), (5, 50)"""))
      })
      assert(landings == 2, "staging surplus from a task retry went undetected")
      assert(stagingCount() == 2, "re-land left the duplicated partition")

      // persistent duplication gives up loudly instead of publishing it
      val ex = intercept[IllegalStateException] {
        sink.landVerified(backend, "eo_crash__staging", 1L, () =>
          backend.executeUpdate(
            """INSERT INTO "eo_crash__staging" VALUES (6, 60), (6, 60)"""))
      }
      assert(ex.getMessage.contains("task-retry"))
    } finally {
      backend.executeUpdate("""DROP TABLE "eo_crash"""")
      backend.executeUpdate("""DROP TABLE "eo_crash__staging"""")
      backend.executeUpdate("""DROP TABLE "eo_crash__batches"""")
    }
  }

  test("overwrite mode truncates then writes; append keeps existing rows") {
    backend.executeUpdate(
      """CREATE TABLE "ow" ("id" BIGINT)""")
    try {
      def write(n: Int, mode: String): Unit =
        spark.range(0, n).toDF("id").write.format("graft-sqldb")
          .option("url", Url).option("table", "ow").mode(mode).save()
      def count(): Long = backend.executeSql("""SELECT COUNT(*) FROM "ow"""")
        .head.get(0).asInstanceOf[Number].longValue
      write(100, "append"); assert(count() == 100)
      write(50, "append"); assert(count() == 150)
      write(30, "overwrite"); assert(count() == 30) // truncate-then-write
    } finally backend.executeUpdate("""DROP TABLE "ow"""")
  }

  test("a streaming query lands in the JDBC backend via foreachBatch + the federated sink") {
    backend.executeUpdate(
      """CREATE TABLE "stream_sink" ("k" BIGINT, "n" BIGINT)""")
    try {
      import org.apache.spark.sql.streaming.Trigger
      val stream = spark.readStream.format("rate")
        .option("rowsPerSecond", "500").load()
        .select((col("value") % 10).as("k"))
      val q = stream.writeStream
        .trigger(Trigger.ProcessingTime(200))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.groupBy("k").agg(count(lit(1)).as("n"))
            .write.format("graft-sqldb").option("url", Url)
            .option("table", "stream_sink").mode("append").save()
        }
        .start()
      try {
        // wait until at least one non-empty micro-batch has committed
        val deadline = System.currentTimeMillis() + 30000
        var rows = 0L
        while (rows == 0 && System.currentTimeMillis() < deadline) {
          Thread.sleep(500)
          rows = backend.executeSql("""SELECT COUNT(*) FROM "stream_sink"""")
            .head.get(0).asInstanceOf[Number].longValue
        }
        assert(rows > 0, "no streaming micro-batch reached the JDBC sink")
      } finally q.stop()
      // every landed group key is one of the 10 the stream can produce
      val keys = backend.executeSql("""SELECT DISTINCT "k" FROM "stream_sink"""")
        .map(_.get(0).asInstanceOf[Number].longValue)
      assert(keys.nonEmpty && keys.forall(k => k >= 0 && k < 10))
    } finally backend.executeUpdate("""DROP TABLE "stream_sink"""")
  }

  test("catalog plugin CREATE/DROP TABLE renders Derby DDL types") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft_jdbc", "graft.sources.GraftCatalog")
    s.conf.set("graft.catalog.url", Url)
    s.sql("""CREATE TABLE graft_jdbc.main.ddl_t (a INT NOT NULL, b STRING, c TIMESTAMP)""")
    try {
      val sch = backend.schema("ddl_t")
      assert(sch("a").dataType == IntegerType && !sch("a").nullable)
      assert(sch("b").dataType == StringType)
      assert(sch("c").dataType == TimestampType)
      s.sql("INSERT INTO graft_jdbc.main.ddl_t VALUES (1, 'x', TIMESTAMP '2026-01-02 03:04:05')")
      val got = s.sql("SELECT a, b FROM graft_jdbc.main.ddl_t").collect()
      assert(got.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x")))
    } finally s.sql("DROP TABLE graft_jdbc.main.ddl_t")
    assert(!backend.tableExists("ddl_t"))
  }
}
