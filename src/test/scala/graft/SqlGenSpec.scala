package graft

import graft.plans.SqlGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip property: for plans over registered views, the generated SQL
  * re-executed by Spark must produce exactly the original result (the local
  * stand-in for the DuckDB/Postgres side of the federation path — dialect
  * is ANSI intersection). Mirrors the reference's intended-but-never-built
  * verification for `logical_plan_to_ast` (its tests only print,
  * `tests/tpch.rs:33-44`). */
class SqlGenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def roundTrip(df: DataFrame, ordered: Boolean = false): Unit = {
    val sql = SqlGen(df.queryExecution.analyzed, dialect = SqlGen.SparkSqlDialect) match {
      case Right(s) => s
      case Left(u) => fail(s"SqlGen failed: $u")
    }
    val regenerated = spark.sql(sql)
    assert(regenerated.columns.toSeq == df.columns.toSeq, s"columns for\n$sql")
    val a = df.collect().map(_.toString).toSeq
    val b = regenerated.collect().map(_.toString).toSeq
    if (ordered) assert(a == b, s"ordered rows differ for\n$sql")
    else assert(a.sorted == b.sorted, s"rows differ for\n$sql")
  }

  private def t(name: String): DataFrame = {
    Tables.registerAll(spark, TestSpark.Sf0001)
    spark.table(name)
  }

  test("project + filter + arithmetic + alias") {
    roundTrip(t("lineitem")
      .filter(col("l_quantity") > 30 && col("l_discount") <= 0.05)
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net")))
  }

  test("aggregate with group by, avg/sum/min/max/count + distinct") {
    roundTrip(t("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum("l_quantity").as("sq"), avg("l_discount").as("ad"),
        min("l_extendedprice").as("mn"), max("l_extendedprice").as("mx"),
        count(lit(1)).as("n"), countDistinct(col("l_suppkey")).as("nd")))
  }

  test("global aggregate without grouping") {
    roundTrip(t("orders").agg(sum("o_totalprice").as("total")))
  }

  test("inner join + filter + order + limit") {
    roundTrip(t("nation")
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") =!= "ASIA")
      .select(col("r_name"), col("n_name"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").desc_nulls_last)
      .limit(12), ordered = true)
  }

  test("left outer join keeps unmatched rows") {
    roundTrip(t("customer")
      .join(t("orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("o_orderkey")))
  }

  test("self-join with renamed columns is unambiguous") {
    val n = t("nation")
    val n2 = n.select(col("n_nationkey").as("k2"), col("n_name").as("name2"))
    roundTrip(n.join(n2, col("n_regionkey") === (col("k2") % 5))
      .select(col("n_name"), col("name2")))
  }

  test("case/cast/in/like/between expression battery") {
    roundTrip(t("part").select(
      col("p_partkey"),
      when(col("p_type").like("PROMO%"), lit("promo")).otherwise(lit("other")).as("kind"),
      col("p_size").cast("bigint").as("szl"),
      col("p_size").isin(1, 5, 10).as("inlist"),
      col("p_retailprice").between(100.0, 500.0).as("mid"),
      upper(col("p_brand")).as("ub"),
      substring(col("p_name"), 1, 4).as("pfx"),
      round(col("p_retailprice"), 1).as("rp")))
  }

  test("timestamp literal filter") {
    roundTrip(t("orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
  }

  test("distinct and set operations") {
    roundTrip(t("orders").select("o_orderstatus").distinct())
    roundTrip(t("customer").select(col("c_nationkey").as("nk"))
      .unionAll(t("supplier").select(col("s_nationkey"))))
    roundTrip(t("customer").select(col("c_nationkey").as("nk"))
      .intersect(t("supplier").select(col("s_nationkey").as("nk"))))
    roundTrip(t("nation").select(col("n_nationkey").as("nk"))
      .except(t("supplier").select(col("s_nationkey").as("nk"))))
  }

  test("offset + limit") {
    roundTrip(t("orders").orderBy(col("o_orderkey")).offset(5).limit(7), ordered = true)
  }

  test("unsupported nodes are reported, not mistranslated") {
    val df = t("orders").select(explode(array(col("o_orderkey"), col("o_custkey"))).as("k"))
    assert(SqlGen(df.queryExecution.analyzed).isLeft)
  }

  test("window: rank, row_number, dense_rank per group") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    roundTrip(t("orders").select(col("o_orderkey"), col("o_custkey"),
      row_number().over(w).as("rn"), rank().over(w).as("rk"),
      dense_rank().over(w).as("drk")))
  }

  test("window: running sum with an explicit rows frame and lag") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    roundTrip(t("orders").select(col("o_orderkey"),
      sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run"),
      lag(col("o_totalprice"), 1).over(w).as("prev"),
      avg(col("o_totalprice")).over(w.rowsBetween(-3, 0)).as("ma4")))
  }

  test("statistical aggregates and string/date scalar functions") {
    roundTrip(t("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(stddev(col("l_quantity")).as("sd"), stddev_pop(col("l_quantity")).as("sdp"),
        var_samp(col("l_discount")).as("vs"), var_pop(col("l_discount")).as("vp"),
        corr(col("l_quantity"), col("l_extendedprice")).as("cr"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv")))
    roundTrip(t("orders").select(
      trim(col("o_orderpriority")).as("tp"),
      expr("replace(o_orderpriority, '-', '_')").as("rp"),
      expr("instr(o_orderpriority, 'URGENT')").as("ix"),
      date_trunc("month", col("o_orderdate")).as("mo")))
  }

  test("aggregate FILTER clause is rendered, not dropped") {
    roundTrip(t("lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("all_q"),
        expr("sum(l_quantity) FILTER (WHERE l_discount > 0.05)").as("disc_q")))
  }

  test("lag IGNORE NULLS is rendered; date_trunc alias parts stay in Spark") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"), col("l_linenumber"))
    roundTrip(t("lineitem").limit(200).select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
      expr("lag(CASE WHEN l_quantity > 1 THEN l_quantity END) IGNORE NULLS OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber)").as("prev_q")))
    val aliased = t("orders").select(date_trunc("mon", col("o_orderdate")).as("m"))
    assert(SqlGen(aliased.queryExecution.analyzed).isLeft)
  }

  test("try_sum stays in Spark (no shared SQL form)") {
    val df = t("lineitem").groupBy(col("l_returnflag"))
      .agg(expr("try_sum(l_quantity)").as("ts"))
    assert(SqlGen(df.queryExecution.analyzed).isLeft)
  }

  test("window: global aggregate window without partition") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    roundTrip(t("orders").limit(100).select(col("o_orderkey"),
      sum(col("o_totalprice")).over(w).as("tot")))
  }

  test("try_cast renders TRY_CAST, cast renders CAST") {
    val df = t("orders").select(
      col("o_orderstatus").try_cast("int").as("bad"),
      col("o_orderkey").cast("string").as("ok"))
    val sql = SqlGen(df.queryExecution.analyzed,
      dialect = SqlGen.SparkSqlDialect).toOption.get
    assert(sql.contains("TRY_CAST("))
    roundTrip(df)
  }

  test("uncorrelated EXISTS subquery") {
    t("nation"); t("region")
    roundTrip(spark.sql(
      """SELECT n_name FROM nation
        |WHERE EXISTS (SELECT 1 FROM region WHERE r_name = 'ASIA')""".stripMargin))
  }

  test("uncorrelated IN and NOT IN subquery") {
    t("nation"); t("region")
    roundTrip(spark.sql(
      """SELECT n_name FROM nation
        |WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name <> 'ASIA')
        |  AND n_nationkey NOT IN (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')""".stripMargin))
  }

  test("uncorrelated scalar subquery") {
    t("orders")
    roundTrip(spark.sql(
      """SELECT o_orderkey FROM orders
        |WHERE o_totalprice > 2 * (SELECT AVG(o_totalprice) FROM orders)""".stripMargin))
  }

  test("correlated subquery stays in Spark (Left), not mistranslated") {
    t("orders")
    val df = spark.sql(
      """SELECT o_orderkey FROM orders o
        |WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    assert(SqlGen(df.queryExecution.analyzed).isLeft)
  }

  test("left semi join renders EXISTS") {
    val df = t("customer")
      .join(t("orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
    val sql = SqlGen(df.queryExecution.analyzed,
      dialect = SqlGen.SparkSqlDialect).toOption.get
    assert(sql.toUpperCase.contains("EXISTS"), sql)
    assert(!sql.toUpperCase.contains("NOT EXISTS"), sql)
    roundTrip(df)
  }

  test("listagg renders WITHIN GROUP on Spark, STRING_AGG on Ansi, declines on Derby") {
    Tables.registerAll(spark, TestSpark.Sf0001)
    val df = spark.sql(
      "SELECT n_regionkey, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names " +
        "FROM nation GROUP BY n_regionkey")
    val sparkSql = SqlGen(df.queryExecution.analyzed,
      dialect = SqlGen.SparkSqlDialect).toOption.get
    assert(sparkSql.contains("LISTAGG(") && sparkSql.contains("WITHIN GROUP"), sparkSql)
    roundTrip(df)
    // DuckDB/Postgres spelling
    val ansiSql = SqlGen(df.queryExecution.analyzed, dialect = SqlGen.Ansi).toOption.get
    assert(ansiSql.contains("STRING_AGG(") && ansiSql.contains("ORDER BY"), ansiSql)
    // Derby 10.16 has neither spelling — the subtree must stay in Spark
    assert(SqlGen(df.queryExecution.analyzed,
      dialect = graft.sources.DerbyDialect).isLeft)
  }

  test("left anti join renders NOT EXISTS") {
    val df = t("customer")
      .join(t("orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal"))
    val sql = SqlGen(df.queryExecution.analyzed,
      dialect = SqlGen.SparkSqlDialect).toOption.get
    assert(sql.toUpperCase.contains("NOT EXISTS"), sql)
    roundTrip(df)
  }

  test("single-key null-aware anti join renders NOT IN (golden)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, IsNull, Or}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation}
    import org.apache.spark.sql.types.IntegerType
    val a = AttributeReference("a", IntegerType)()
    val b = AttributeReference("b", IntegerType)()
    val l = LocalRelation(a); val r = LocalRelation(b)
    val resolver: SqlGen.TableResolver =
      p => if (p eq l) Some("lt") else if (p eq r) Some("rt") else None
    def norm(sql: String) = sql.replace(s"\"c${a.exprId.id}\"", "A")
      .replace(s"\"c${b.exprId.id}\"", "B").replaceAll("gq_\\d+", "gq")
    val want = """SELECT A AS "a" FROM (SELECT * FROM (SELECT "a" AS A FROM "lt") gq """ +
      """WHERE A NOT IN (SELECT B FROM (SELECT "b" AS B FROM "rt") gq)) gq_out"""
    // Spark's NOT IN condition, in either OR order and either key order
    val eq = EqualTo(a, b); val flipped = EqualTo(b, a)
    for (cond <- Seq(Or(eq, IsNull(eq)), Or(IsNull(eq), eq), Or(flipped, IsNull(flipped))))
      SqlGen(Join(l, r, LeftAnti, Some(cond), JoinHint.NONE), resolver) match {
        case Right(sql) => assert(norm(sql) == want, sql)
        case Left(u) => fail(u.toString)
      }
    // any other anti-join condition keeps the NOT EXISTS form
    val plain = SqlGen(Join(l, r, LeftAnti, Some(eq), JoinHint.NONE), resolver)
    assert(plain.exists(s => s.contains("NOT EXISTS") && !s.contains("NOT IN")), plain)
  }

  test("NOT IN rendering keeps the anti join's rows: NULL keys either side, empty right") {
    import spark.implicits._
    Seq[(Int, Option[Int])]((1, Some(1)), (2, Some(2)), (3, None), (4, Some(4)))
      .toDF("id", "a").createOrReplaceTempView("nin_l")
    val rights = Map(
      "nin_r_plain" -> Seq(Some(1), Some(4)),
      "nin_r_null" -> Seq(Some(1), None),
      "nin_r_empty" -> Seq.empty[Option[Int]])
    rights.foreach { case (name, rows) => rows.toDF("b").createOrReplaceTempView(name) }
    val kept = rights.keys.map { name =>
      val l = spark.table("nin_l"); val r = spark.table(name)
      val eq = l("a") === r("b")
      val df = l.join(r, eq || eq.isNull, "left_anti")
      val sql = SqlGen(df.queryExecution.analyzed,
        dialect = SqlGen.SparkSqlDialect).toOption.get
      assert(sql.contains("NOT IN"), sql)
      roundTrip(df)
      name -> df.count()
    }.toMap
    // a NULL key on the left never survives a non-empty right side, a NULL
    // on the right drops every row, and an empty right side keeps them all
    assert(kept == Map("nin_r_plain" -> 1L, "nin_r_null" -> 0L, "nin_r_empty" -> 4L))
  }

  test("startsWith/endsWith/contains render as LIKE; LIKE metacharacters stay in Spark") {
    val df = t("part").select(col("p_partkey"),
      col("p_type").startsWith("PROMO").as("sw"),
      col("p_type").endsWith("TIN").as("ew"),
      col("p_name").contains("green").as("ct"))
    val sql = SqlGen(df.queryExecution.analyzed, dialect = SqlGen.Ansi).toOption.get
    assert(sql.contains("LIKE 'PROMO%'") && sql.contains("LIKE '%TIN'") &&
      sql.contains("LIKE '%green%'"), sql)
    roundTrip(df)
    assert(SqlGen(t("part").filter(col("p_type").startsWith("PRO_"))
      .queryExecution.analyzed).isLeft)
  }

  test("date + year-month interval arithmetic renders infix +") {
    roundTrip(t("orders").select(col("o_orderkey"),
      (col("o_orderdate") + expr("INTERVAL '3' MONTH")).as("plus3m")))
  }

  test("timestamp minus day-time interval and timestamp difference render") {
    roundTrip(t("events").select(col("event_id"),
      (col("ts") - expr("INTERVAL '30' MINUTE")).as("t2"),
      ((col("ts") - expr("TIMESTAMP '2024-01-01 00:00:00'")) >
        expr("INTERVAL '45' SECOND")).as("gt")))
  }

  test("extended math/string scalar battery round-trips") {
    roundTrip(t("orders").limit(200).select(
      col("o_orderkey"),
      pow(col("o_totalprice"), 0.5).as("p"),
      log(col("o_totalprice")).as("ln_v"),
      exp(col("o_totalprice") / 100000).as("e"),
      signum(col("o_totalprice") - 150000).as("sg"),
      sin(col("o_totalprice") / 1000).as("sn"),
      atan2(col("o_totalprice"), col("o_custkey") + 1).as("a2"),
      acos(col("o_totalprice") % 1).as("ac"),
      least(col("o_orderkey"), col("o_custkey")).as("lst"),
      greatest(col("o_orderkey"), col("o_custkey"), lit(7L)).as("grt"),
      lpad(col("o_orderstatus"), 3, "*").as("lp"),
      rpad(col("o_orderpriority"), 12, ".").as("rp"),
      ltrim(col("o_orderstatus")).as("lt"),
      rtrim(col("o_orderpriority")).as("rt")))
  }

  test("ungrouped aggregate pruned to zero exprs still emits exactly one row") {
    t("orders")
    // the optimizer prunes the inner SUM away (COUNT(*) needs only
    // cardinality), leaving Aggregate [] [] — which must render as a
    // 1-row global aggregate, not a per-row constant
    roundTrip(spark.sql(
      "SELECT COUNT(*) AS n FROM (SELECT SUM(o_totalprice) AS s FROM orders) sub"))
  }

  test("narrowing interval cast refuses (truncation has no shared rendering)") {
    val df = t("events").select(
      expr("CAST(ts - TIMESTAMP '2024-01-01 00:00:00' AS INTERVAL DAY)").as("d"))
    assert(SqlGen(df.queryExecution.analyzed).isLeft,
      "narrowing DAY TO SECOND -> DAY cast must stay in Spark")
  }

  test("interval comparison predicate pushes down (s23b shape)") {
    roundTrip(t("events")
      .filter((col("ts") - expr("TIMESTAMP '2024-01-01 00:00:00'")) >
        expr("INTERVAL '30' MINUTE"))
      .select(col("event_id"), col("ts")))
  }

  test("null-safe equality renders IS NOT DISTINCT FROM (join + predicate forms)") {
    roundTrip(t("nation")
      .join(t("region"), col("n_regionkey") <=> col("r_regionkey"))
      .select(col("n_name"), col("r_name")))
    roundTrip(t("customer")
      .select(col("c_custkey"), (col("c_nationkey") <=> lit(3)).as("is3")))
  }

  test("bitwise and/or/not render infix; xor stays in Spark") {
    roundTrip(t("orders").select(col("o_orderkey"),
      (col("o_orderkey").bitwiseAND(lit(255L))).as("lo"),
      (col("o_custkey").bitwiseOR(lit(1L))).as("odd"),
      expr("~ o_orderkey").as("inv")))
    val xor = t("orders").select(col("o_orderkey").bitwiseXOR(lit(5L)).as("x"))
    assert(SqlGen(xor.queryExecution.analyzed,
      dialect = SqlGen.SparkSqlDialect).isLeft,
      "XOR spelling is dialect-divergent and must stay in Spark")
  }

  test("regex match renders RLIKE on the Spark dialect, refuses on Ansi") {
    roundTrip(t("customer")
      .filter(col("c_name").rlike("[0-9]{2}$"))
      .select(col("c_custkey"), col("c_name")))
    val df = t("customer").filter(col("c_name").rlike("[0-9]{2}$"))
      .select(col("c_custkey"))
    assert(SqlGen(df.queryExecution.analyzed, dialect = SqlGen.Ansi).isLeft,
      "regex engines diverge across backends; Ansi must refuse")
  }

  test("array/struct/json access renders on the Spark dialect, refuses on Ansi") {
    // documents carries props (json string) and the events table arrays —
    // use inline data to exercise struct + array + json access in one plan
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (named_struct('a', 1, 'b', 'x'), array(10, 20, 30), '{"k": 7}'),
        |  (named_struct('a', 2, 'b', 'y'), array(40, 50), '{"k": 8}')
        |  AS t(s, arr, js)""".stripMargin)
    df.createOrReplaceTempView("c12_t")
    roundTrip(spark.table("c12_t").select(
      col("s.a").as("sa"),
      col("arr")(0).as("first"),
      element_at(col("arr"), 2).as("second"),
      size(col("arr")).as("n"),
      array_contains(col("arr"), 40).as("has40"),
      get_json_object(col("js"), "$.k").as("k")))
    // indexing bases and JSON-path semantics diverge across engines:
    // Ansi must refuse every one of these
    val probe = spark.table("c12_t").select(col("arr")(0).as("first"))
    assert(SqlGen(probe.queryExecution.analyzed, dialect = SqlGen.Ansi).isLeft)
  }

  test("concat renders NULL-propagating form per dialect") {
    roundTrip(t("nation").select(
      concat(col("n_name"), lit("_"), col("n_regionkey")).as("c")))
    // Ansi spelling is infix || (CONCAT() skips NULLs on DuckDB/Postgres,
    // which would diverge from Spark's NULL-propagating concat)
    val df = t("nation").select(concat(col("n_name"), lit("x")).as("c"))
    SqlGen(df.queryExecution.analyzed, dialect = SqlGen.Ansi) match {
      case Right(sql) => assert(sql.contains("||"), sql)
      case Left(u) => fail(u.toString)
    }
  }
}
