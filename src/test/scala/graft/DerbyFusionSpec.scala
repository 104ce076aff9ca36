package graft

import java.sql.DriverManager

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GraftExtensions, PushedSqlExec}

/** Whole-plan fusion against a LIVE embedded Derby backend — the only way a
  * join or an aggregate reaches it (the DSv2 scan takes neither): equi-
  * and semi/anti joins (rendered as (NOT) EXISTS) with any aggregate above
  * them collapse into ONE backend query, a bare chain over one scan keeps
  * the partitioned parallel scan path, and constructs Derby lacks (FULL
  * JOIN, ROUND) stay in Spark. The reference REJECTS semi/anti outright
  * (`src/parser.rs:1180-1190`) — this surface is beyond-reference.
  *
  * Every rendering decision here was probed against embedded Derby 10.16
  * first (see DerbyDialect's scaladoc): what fuses parses, what can't parse
  * declines at PLAN time. */
class DerbyFusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val Url = {
    System.setProperty("derby.system.home", "/tmp/derby")
    val url = "jdbc:derby:memory:graftfusion"
    val c = DriverManager.getConnection(url + ";create=true")
    val st = c.createStatement()
    st.executeUpdate(
      """CREATE TABLE "emp" ("id" INTEGER NOT NULL PRIMARY KEY,
        | "dept" INTEGER, "sal" DOUBLE, "bonus" INTEGER)""".stripMargin)
    st.executeUpdate(
      """CREATE TABLE "dep" ("id" INTEGER NOT NULL PRIMARY KEY,
        | "dname" VARCHAR(20))""".stripMargin)
    val emps = (1 to 40).map(i =>
      s"($i, ${i % 5}, ${i * 10.0}, ${i % 3})").mkString(", ")
    st.executeUpdate(s"""INSERT INTO "emp" VALUES $emps""")
    st.executeUpdate(
      """INSERT INTO "dep" VALUES (0,'eng'), (1,'ops'), (2,'fin')""")
    c.close()
    url
  }

  private def remote(table: String): DataFrame = {
    GraftExtensions.install(spark)
    spark.read.format("graft-sqldb").option("url", Url)
      .option("table", table).load()
  }

  private def pushed(df: DataFrame): Seq[PushedSqlExec] =
    df.queryExecution.executedPlan.collect { case p: PushedSqlExec => p }
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }

  test("semi join fuses into one backend EXISTS query") {
    val e = remote("emp"); val d = remote("dep")
    val df = e.join(d, e("dept") === d("id") && d("dname") =!= lit("fin"), "leftsemi")
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty, "both sides must fuse — no residual scan")
    assert(p.head.sql.contains("EXISTS"))
    // depts 0,1 qualify → ids with id%5 ∈ {0,1}
    assert(df.collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 40).filter(i => i % 5 <= 1).toSeq)
  }

  test("anti join + aggregate above it fuse into ONE backend query") {
    val e = remote("emp"); val d = remote("dep")
    val df = e.join(d, e("dept") === d("id"), "leftanti")
      .agg(count(lit(1)).as("n"))
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty)
    assert(p.head.sql.contains("NOT EXISTS") && p.head.sql.contains("COUNT(*)"))
    // depts 3,4 have no "dep" row → 16 of 40 employees unmatched
    assert(df.collect().head.getLong(0) == 16L)
  }

  test("fused AVG over INT casts the argument (Derby AVG(INT) truncates)") {
    val e = remote("emp"); val d = remote("dep")
    val df = e.join(d, e("dept") === d("id"), "leftsemi")
      .agg(avg(col("bonus")).as("a"), sum(col("bonus")).as("s"))
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("AVG(CAST(") && p.head.sql.contains("SUM(CAST("))
    val row = df.collect().head
    val hits = (1 to 40).filter(i => i % 5 <= 2).map(_ % 3)
    assert(row.getDouble(0) == hits.sum.toDouble / hits.size) // non-truncated
    assert(row.getLong(1) == hits.sum.toLong)
  }

  test("COUNT(DISTINCT) directly over a table fuses into one backend query") {
    val df = remote("emp").agg(countDistinct(col("dept")).as("n"))
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("COUNT(DISTINCT"), p.head.sql)
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("FULL OUTER stays in Spark (Derby has no FULL JOIN) and is correct") {
    val l = remote("emp").select(col("dept").as("d1")).distinct()
    val r = remote("dep").select(col("id").as("d2"))
    val df = l.join(r, col("d1") === col("d2"), "full")
    assert(pushed(df).size < 2 || !pushed(df).exists(_.sql.contains("FULL")),
      "FULL JOIN must not render for Derby")
    val rows = df.collect()
    assert(rows.length == 5) // depts 0..4 on left; 0,1,2 on right — matched
    assert(rows.count(_.isNullAt(1)) == 2) // 3,4 NULL-extended
  }

  private val salByDname = Map(
    "eng" -> (1 to 40).filter(_ % 5 == 0).map(_ * 10.0).sum,
    "ops" -> (1 to 40).filter(_ % 5 == 1).map(_ * 10.0).sum,
    "fin" -> (1 to 40).filter(_ % 5 == 2).map(_ * 10.0).sum)

  test("scan-expressible shapes keep the partitioned scan path, not fusion") {
    // a filter + projection over one table is what the DSv2 scan still
    // expresses, so nothing is left to fuse
    val df = remote("emp").filter(col("dept") === 2 && col("sal") > 100.0)
      .select("id", "sal")
    assert(pushed(df).isEmpty,
      "a bare chain over one scan belongs to the DSv2 scan path:\n" +
        df.queryExecution.executedPlan)
    assert(scans(df).nonEmpty, df.queryExecution.executedPlan.toString)
    val want = (1 to 40).filter(i => i % 5 == 2 && i * 10.0 > 100.0)
      .map(i => i -> i * 10.0).toSet
    assert(df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toSet == want)
  }

  test("a join + aggregate the scan declined fuses into one backend query") {
    // the scan takes no join and no aggregate, so both are left over the
    // two scans and fuse whole
    val e = remote("emp"); val d = remote("dep")
    val df = e.join(d, e("dept") === d("id"))
      .groupBy(col("dname")).agg(sum(col("sal")).as("s"))
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains(" JOIN ") && p.head.sql.contains("GROUP BY"), p.head.sql)
    assert(df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap == salByDname)
  }

  test("an aggregate over an expression the scan declined fuses into one query") {
    // the scan takes no aggregate, so SUM(sal * (1 - bonus)) stays above
    // the scan; the rule fuses it
    val df = remote("emp").groupBy(col("dept"))
      .agg(sum(col("sal") * (lit(1) - col("bonus"))).as("s"))
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains("GROUP BY"), p.head.sql)
    val want = (1 to 40).groupBy(_ % 5).map { case (k, is) =>
      k -> is.map(i => i * 10.0 * (1 - i % 3)).sum
    }
    assert(df.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap == want)
  }

  test("a same-backend join carrying a dynamic-pruning filter fuses without it") {
    // the aggregated side keeps its HAVING-style filter in Spark, which is
    // what makes dynamic pruning plant a runtime filter on the dep scan
    def query(s: org.apache.spark.sql.SparkSession) = {
      def rd(t: String) = s.read.format("graft-sqldb").option("url", Url)
        .option("table", t).load()
      val e = rd("emp"); val d = rd("dep")
      val heavy = e.groupBy(col("dept")).agg(sum(col("sal")).as("s"))
        .filter(col("s") > 1500.0)
      d.join(heavy, d("id") === heavy("dept")).select(d("id"), col("dname"), col("s"))
    }
    // a session without the graft rules shows the filter the rule meets
    TestSpark.spark
    val plain = query(spark.newSession()).queryExecution.optimizedPlan
    assert(plain.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))),
      "no dynamic-pruning filter was planted:\n" + plain)
    GraftExtensions.install(spark)
    val df = query(spark)
    val p = pushed(df)
    assert(p.size == 1 && scans(df).isEmpty, df.queryExecution.executedPlan.toString)
    assert(p.head.sql.contains(" JOIN ") && !p.head.sql.contains("DynamicPruning"), p.head.sql)
    // dept sums: 0 → 1800, 1 → 1480, 2 → 1560; dep has ids 0..2
    assert(df.collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).sorted.toSeq ==
      Seq((0, "eng", 1800.0), (2, "fin", 1560.0)))
  }

  test("NOT IN fuses as NOT IN and matches local Spark with NULL keys and an empty side") {
    val c = DriverManager.getConnection(Url)
    try {
      val st = c.createStatement()
      st.executeUpdate("""CREATE TABLE "nl" ("id" INTEGER NOT NULL PRIMARY KEY, "k" INTEGER)""")
      Seq("nr", "nr_null", "ne").foreach(t => st.executeUpdate(s"""CREATE TABLE "$t" ("k" INTEGER)"""))
      st.executeUpdate("""INSERT INTO "nl" VALUES (1, 1), (2, 2), (3, NULL), (4, 4), (5, 5)""")
      st.executeUpdate("""INSERT INTO "nr" VALUES (1), (4)""")
      st.executeUpdate("""INSERT INTO "nr_null" VALUES (1), (NULL)""")
    } finally c.close()
    val s = spark
    import s.implicits._
    Seq[(Int, Option[Int])]((1, Some(1)), (2, Some(2)), (3, None), (4, Some(4)), (5, Some(5)))
      .toDF("id", "k").createOrReplaceTempView("loc_nl")
    remote("nl").createOrReplaceTempView("fed_nl")
    val rights = Map("nr" -> Seq(Some(1), Some(4)), "nr_null" -> Seq(Some(1), None),
      "ne" -> Seq.empty[Option[Int]])
    val q = "SELECT id FROM %s WHERE k NOT IN (SELECT k FROM %s)"
    val kept = rights.map { case (t, rows) =>
      remote(t).createOrReplaceTempView("fed_r")
      rows.toDF("k").createOrReplaceTempView("loc_r")
      val df = spark.sql(q.format("fed_nl", "fed_r"))
      val p = pushed(df)
      assert(p.size == 1 && scans(df).isEmpty, df.queryExecution.executedPlan.toString)
      assert(p.head.sql.contains("NOT IN") && !p.head.sql.contains("EXISTS"), p.head.sql)
      val got = df.collect().map(_.getInt(0)).sorted.toSeq
      val local = spark.sql(q.format("loc_nl", "loc_r")).collect().map(_.getInt(0)).sorted.toSeq
      assert(got == local, s"$t: Derby NOT IN $got vs local Spark $local")
      t -> got
    }
    // a NULL on the right drops every row; an empty right side keeps the
    // NULL-keyed row too
    assert(kept == Map("nr" -> Seq(2, 5), "nr_null" -> Seq(), "ne" -> Seq(1, 2, 3, 4, 5)))
  }

  test("a gated function above a fusable subtree leaves only that step in Spark") {
    val e = remote("emp"); val d = remote("dep")
    val df = e.join(d, e("dept") === d("id"), "leftsemi")
      .select(round(col("sal"), -1).as("r")) // ROUND: not on Derby's surface
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(!p.head.sql.contains("ROUND"), "ROUND must stay a Spark residual")
    assert(df.collect().map(_.getDouble(0)).sum ==
      (1 to 40).filter(i => i % 5 <= 2).map(i => math.round(i * 10.0 / 10) * 10.0).sum)
  }

  test("un-partitioned row_number fuses via the ordered-subquery idiom") {
    import org.apache.spark.sql.expressions.{Window => W}
    // top-k-by-salary: the classic pagination shape. Derby has no
    // OVER (ORDER BY …) — probed 10.16 — but its bare ROW_NUMBER() OVER ()
    // numbers a derived table in its ORDER BY order, which is exactly this
    // window's semantics. The whole subtree must land as ONE backend query.
    val df = remote("emp")
      .withColumn("rn", row_number().over(W.orderBy(desc("sal"), asc("id"))))
      .filter(col("rn") <= 3)
      .select(col("id"), col("sal"), col("rn"))
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty, "the window subtree must fuse whole")
    assert(p.head.sql.contains("ROW_NUMBER() OVER ()"), p.head.sql)
    assert(p.head.sql.contains("ORDER BY"), p.head.sql)
    assert(!p.head.sql.contains("OVER (ORDER"), "in-OVER ordering cannot parse on Derby")
    // ids 40,39,38 have the top salaries (sal = id*10.0)
    assert(df.collect().map(r => (r.getInt(0), r.getInt(2))).sortBy(_._2).toSeq ===
      Seq((40, 1), (39, 2), (38, 3)))
  }

  test("partitioned / non-row_number windows decline fusion and stay correct in Spark") {
    import org.apache.spark.sql.expressions.{Window => W}
    // PARTITION BY is a Derby syntax error — the dialect gate must keep
    // the window in Spark (scan-level pushdown still feeds it)
    val part = remote("emp")
      .withColumn("rn", row_number().over(W.partitionBy("dept").orderBy(desc("sal"))))
      .filter(col("rn") === 1)
      .select(col("dept"), col("id"))
    assert(pushed(part).isEmpty,
      "partitioned window must not render for Derby:\n" +
        part.queryExecution.executedPlan)
    // per dept d ∈ 0..4 the max-sal employee is the largest id ≡ d (mod 5)
    assert(part.collect().map(r => (r.getInt(0), r.getInt(1))).sortBy(_._1).toSeq ===
      Seq((0, 40), (1, 36), (2, 37), (3, 38), (4, 39)))

    // RANK over an ordered window: Derby has no RANK at all → decline
    val rk = remote("emp")
      .withColumn("r", rank().over(W.orderBy(desc("sal"))))
      .filter(col("r") <= 2)
    assert(pushed(rk).isEmpty,
      "rank() must not render for Derby:\n" + rk.queryExecution.executedPlan)
    assert(rk.collect().map(_.getInt(0)).sorted.toSeq === Seq(39, 40))
  }

  test("EXCEPT fuses into one backend query (as the optimizer's anti join)") {
    // Spark rewrites EXCEPT → Distinct + null-safe-eq LeftAnti before the
    // fusion rule runs, so the backend receives NOT EXISTS with the CASE
    // expansion of <=> (Derby has no IS NOT DISTINCT FROM) plus GROUP BY —
    // one query either way, which is the property that matters
    val df = remote("emp").select(col("dept"))
      .except(remote("dep").select(col("id")))
    val p = pushed(df)
    assert(p.size == 1, df.queryExecution.executedPlan.toString)
    assert(scans(df).isEmpty)
    assert(p.head.sql.contains("NOT EXISTS") && p.head.sql.contains("CASE WHEN"))
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
  }
}
