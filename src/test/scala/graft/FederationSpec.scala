package graft

import graft.plans.{GraftExtensions, PushedSqlExec, PushedSqlQuery}
import graft.sources.GraftScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Federation path: DSv2 scans with pushdown negotiation + the greedy
  * whole-subtree SQL pushdown rule, against the SparkViewBackend double. */
class FederationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def remote(table: String): DataFrame =
    spark.read.format("graft-sqldb")
      .option("dir", TestSpark.Sf0001)
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

  /** The one fused backend query `df` executes (subqueries included); no
    * graft scan may be left beside it. */
  private def fused(df: DataFrame): PushedSqlExec = {
    val nodes = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) { case x => x }
    val pushed = nodes.collect { case x: PushedSqlExec => x }
    val scans = nodes.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
    }
    assert(pushed.size == 1 && scans.isEmpty,
      "expected one fused backend query:\n" + df.queryExecution.executedPlan)
    pushed.head
  }

  test("DSv2 read returns the same rows as a direct parquet read") {
    val got = remote("nation").collect().map(_.toString).sorted.toSeq
    val want = Tables.load(spark, TestSpark.Sf0001, "nation")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("array-typed columns ride the DSv2 scan end-to-end") {
    // embeddings.embedding is ArrayType(FloatType) — arrays must survive
    // schema negotiation, the task-side row fetch, and the scan's row
    // encoder (round 10 opened array columns in JDBC discovery too)
    val df = remote("embeddings").select("vec_id", "embedding")
    val got = df.collect()
    assert(got.length == Tables.load(spark, TestSpark.Sf0001, "embeddings").count())
    val first = got.minBy(_.getLong(0))
    val want = Tables.load(spark, TestSpark.Sf0001, "embeddings")
      .select("vec_id", "embedding").orderBy("vec_id").head()
    assert(first.getAs[scala.collection.Seq[Float]](1).toSeq ==
      want.getAs[scala.collection.Seq[Float]](1).toSeq)
    // projection still prunes around the array column
    assert(graftScan(df).renderedSql.contains("`vec_id`, `embedding`"))
  }

  test("column pruning reaches the backend SQL") {
    val df = remote("customer").select("c_custkey", "c_acctbal")
    val scan = graftScan(df)
    assert(scan.renderedSql.contains("`c_custkey`, `c_acctbal`"))
    assert(!scan.renderedSql.contains("c_name"))
    assert(df.count() == 150)
  }

  test("supported filters are pushed, unsupported stay as Spark residuals") {
    val df = remote("part")
      .filter(col("p_size") > 10 && col("p_brand").startsWith("Brand#1"))
    val scan = graftScan(df)
    assert(scan.renderedSql.contains("`p_size` > 10"))
    assert(scan.renderedSql.contains("LIKE 'Brand#1%'"))
    val want = Tables.load(spark, TestSpark.Sf0001, "part")
      .filter(col("p_size") > 10 && col("p_brand").startsWith("Brand#1")).count()
    assert(df.count() == want)

    // sqrt IS renderable since the V2-predicate path (whitelisted function)
    val df2 = remote("part").filter(sqrt(col("p_size")) > 3)
    assert(graftScan(df2).renderedSql.toUpperCase.contains("SQRT"))
    val want2 = Tables.load(spark, TestSpark.Sf0001, "part")
      .filter(sqrt(col("p_size")) > 3).count()
    assert(df2.count() == want2)

    // a non-whitelisted function must NOT appear in backend SQL, result still right
    val df3 = remote("part").filter(crc32(col("p_name")) % 2 === 0)
    assert(!graftScan(df3).renderedSql.toUpperCase.contains("CRC32"),
      graftScan(df3).renderedSql)
    val want3 = Tables.load(spark, TestSpark.Sf0001, "part")
      .filter(crc32(col("p_name")) % 2 === 0).count()
    assert(df3.count() == want3)
  }

  test("V2 predicates push expression filters past the V1 surface") {
    // arithmetic inside the predicate: V1 source filters can't express
    // this; the V2 path renders it into the backend WHERE clause
    val df = remote("lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .filter(col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 50000.0)
    val scan = graftScan(df)
    assert(scan.renderedSql.contains("`l_extendedprice` *"), scan.renderedSql)
    val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .filter(col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 50000.0)
      .count()
    assert(df.count() == want && want > 0)

    // CAST renders through the dialect's type map
    val cast = remote("orders").select("o_orderkey")
      .filter(col("o_orderkey").cast("string") === "7")
    assert(graftScan(cast).renderedSql.contains("CAST("), graftScan(cast).renderedSql)
    assert(cast.count() == 1)

    // unknown functions stay residual and still answer
    val residual = remote("part").select("p_partkey", "p_name")
      .filter(sha2(col("p_name"), 256).startsWith("a"))
    assert(!graftScan(residual).renderedSql.toLowerCase.contains("sha2"),
      graftScan(residual).renderedSql)
    val wantResidual = Tables.load(spark, TestSpark.Sf0001, "part")
      .filter(sha2(col("p_name"), 256).startsWith("a")).count()
    assert(residual.count() == wantResidual)
  }

  test("limit pushdown reaches the backend SQL") {
    val df = remote("orders").limit(7)
    assert(graftScan(df).renderedSql.endsWith("LIMIT 7"))
    assert(df.count() == 7)
  }

  test("scan splits into LIMIT/OFFSET partitions covering all rows exactly once") {
    val df = remote("lineitem")
    assert(df.rdd.getNumPartitions == 4)
    // no row lost or duplicated across the offset ranges: full multiset match
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .collect().map(_.toString).sorted.toSeq
    assert(got.size == want.size)
    assert(got == want)
  }

  test("partition planning sends only the COUNT probe; rows move at execution") {
    val backend = graft.sources.SparkViewBackend.forDir(TestSpark.Sf0001)
    // drive the Batch API directly: Spark's planner consults the reader
    // factory during physical planning, so an end-to-end window could not
    // separate the planning probe from the execution-time prefetch
    val table = new graft.sources.GraftSqlTable("orders", backend,
      backend.schema("orders"), 4)
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[GraftScan]
    val before = backend.sqlExecCount.get()
    val parts = scan.toBatch.planInputPartitions()
    assert(backend.sqlExecCount.get() - before == 1,
      "planning must issue only the scalar bounds/count probe")
    assert(parts.length == 4)
    // the serialized partition is SQL-only — no row payload field exists,
    // and its size is bytes, not data: prove it by serializing
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      parts.foreach(oos.writeObject); oos.close(); bos.size()
    }
    assert(bytes < 64 * 1024, s"partitions serialize to $bytes bytes — rows leaked in?")
    // reader-factory creation performs the per-partition fetches (driver
    // prefetch for the in-process double; executor-side for JDBC)
    val mid = backend.sqlExecCount.get()
    scan.toBatch.createReaderFactory()
    assert(backend.sqlExecCount.get() - mid == 4,
      "expected one prefetch per partition at reader-factory time")
    // and the full read still answers correctly end to end
    assert(remote("orders").count() == 1500)
  }

  test("integral-key tables split by key-range predicates: no sorts, no offsets") {
    val df = remote("orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    val parts = graftScan(df).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.length > 1)
    // unbounded outer edges: the first range has no lower bound (and
    // takes NULL keys), the last no upper bound, every other range both
    parts.zipWithIndex.foreach { case (p, i) =>
      assert(p.sql.contains("`o_orderkey` >=") == (i > 0), p.sql)
      assert(p.sql.contains("`o_orderkey` <") == (i < parts.length - 1), p.sql)
      assert(p.sql.contains("`o_orderkey` IS NULL") == (i == 0), p.sql)
      assert(!p.sql.contains("ORDER BY") && !p.sql.contains("OFFSET"), p.sql)
    }
    // disjoint ranges cover everything exactly once
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("composite-key tables fall back to key-ordered LIMIT/OFFSET ranges") {
    val parts = graftScan(remote("lineitem")).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.GraftInputPartition])
    assert(parts.length > 1)
    parts.foreach { p =>
      assert(p.sql.contains("ORDER BY `l_orderkey`, `l_linenumber`"), p.sql)
      assert(p.sql.contains("OFFSET"), p.sql)
    }
  }

  test("aggregate pushdown: whole GROUP BY answered by the backend") {
    GraftExtensions.install(spark)
    val df = remote("lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
        max(col("l_extendedprice")).as("mx"))
    val sql = fused(df).sql
    assert(sql.contains("GROUP BY"), sql)
    assert(sql.contains("COUNT(*)"), sql)
    assert(sql.contains("SUM("), sql)
    assert(sql.contains("(`l_quantity` > 10.0)"), sql) // the scan's own filter
    // no Spark-side hash aggregate remains (complete pushdown)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), plan)
    val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"),
        max(col("l_extendedprice")).as("mx"))
      .collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }

  test("unsupported aggregate (avg distinct over expression) stays in Spark") {
    // the contract under test is the SCAN level: the scan takes no
    // aggregate, so without the fusion rule a HashAggregate must remain.
    // Whether the rule is installed on the shared session depends on
    // which suites ran first, so it is suspended for the probe's scope.
    val prevOpt = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prevOpt.filterNot(_ == graft.plans.SqlPushdownRule)
    try {
      val df = remote("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity") * 2).as("a"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), "expression-agg must stay in Spark")
      val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
        .groupBy(col("l_returnflag")).agg(avg(col("l_quantity") * 2).as("a"))
        .collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == want)
    } finally spark.experimental.extraOptimizations = prevOpt
  }

  test("fusion over an aggregated scan references the aliased agg columns") {
    GraftExtensions.install(spark)
    val df = remote("lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_returnflag"))
    val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_returnflag"))
      .collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("whole-query pushdown fuses a join+aggregate subtree into one backend SQL") {
    GraftExtensions.install(spark)
    val df = remote("nation")
      .join(remote("region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") =!= "EUROPE")
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
    val pushed = df.queryExecution.optimizedPlan.collect {
      case p: PushedSqlQuery => p
    }
    assert(pushed.size == 1, "expected one fused PushedSqlQuery leaf:\n" +
      df.queryExecution.optimizedPlan)
    assert(pushed.head.sql.toUpperCase.contains("GROUP BY"))
    assert(pushed.head.sql.toUpperCase.contains("JOIN"))

    val want = {
      val n = Tables.load(spark, TestSpark.Sf0001, "nation")
      val r = Tables.load(spark, TestSpark.Sf0001, "region")
      n.join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") =!= "EUROPE")
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))
        .collect().map(_.toString).sorted.toSeq
    }
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }

  test("PushedSqlQuery identity ignores its slice thunk, and tree copies carry it") {
    GraftExtensions.install(spark)
    val df = remote("nation")
      .join(remote("region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(count(lit(1)).as("n_nations"))
    val pushed = df.queryExecution.optimizedPlan.collect { case p: PushedSqlQuery => p }
    assert(pushed.size == 1, df.queryExecution.optimizedPlan.toString)
    // sliceGen is NOT part of plan identity: two logically identical
    // pushed plans must compare equal (and sameResult) even when their
    // slice thunks are distinct closures — otherwise ReuseExchange/
    // ReuseSubquery can never dedup a pushed subtree
    val p = pushed.head
    val qa = PushedSqlQuery(p.output, p.sql, p.backend)(() => Seq("x"))
    val qb = PushedSqlQuery(p.output, p.sql, p.backend)(() => Seq("y"))
    assert(qa == qb, "closures in a product field defeat plan equality")
    assert(qa.sameResult(qb))
    // …while tree copies (transform/withNewChildren paths) still carry
    // the thunk through otherCopyArgs
    val copied = qa.makeCopy(Array(qa.output, qa.sql, qa.backend))
      .asInstanceOf[PushedSqlQuery]
    assert(copied.sliceGen() == Seq("x"))
  }

  test("concurrent federated queries complete without starving the scheduler") {
    // two engine queries race: each factory's driver-side prefetch must
    // finish even while the other query's scan tasks occupy slots (no
    // circular wait: blocked tasks only ever wait on already-submitted
    // backend jobs, which have strict FIFO priority for free slots)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map { i =>
      Future {
        if (i % 2 == 0) remote("orders").count()
        else remote("customer").join(remote("nation"),
          col("c_nationkey") === col("n_nationkey")).count()
      }
    }
    val results = Await.result(Future.sequence(fs), 120.seconds)
    assert(results == Seq(150L, 1500L, 150L, 1500L))
  }

  test("a scan wider than the prefetch-registry cap still reads every row") {
    // 100 partitions > the registry's read-entry retention (64): unread
    // prefetches must never be evicted, so no partition falls back to the
    // task-side fetch path
    val df = spark.read.format("graft-sqldb")
      .option("dir", TestSpark.Sf0001)
      .option("table", "orders")
      .option("partitions", "100")
      .load()
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("semi-join subtree fuses into backend SQL as EXISTS") {
    GraftExtensions.install(spark)
    val df = remote("customer")
      .join(remote("orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
    val pushed = df.queryExecution.optimizedPlan.collect {
      case p: PushedSqlQuery => p
    }
    assert(pushed.size == 1, "expected one fused PushedSqlQuery leaf:\n" +
      df.queryExecution.optimizedPlan)
    assert(pushed.head.sql.toUpperCase.contains("EXISTS"), pushed.head.sql)
    val want = {
      val c = Tables.load(spark, TestSpark.Sf0001, "customer")
      val o = Tables.load(spark, TestSpark.Sf0001, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey")).collect().map(_.toString).sorted.toSeq
    }
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }

  test("correlated scalar subquery fuses after Catalyst decorrelates it") {
    // the reference cannot push correlated subqueries at all (README.md:
    // 49,75-86); here the pushdown rule runs post-optimizer, where
    // Catalyst has already decorrelated the subquery into a join +
    // aggregate — which SqlGen can render, so the WHOLE query fuses
    GraftExtensions.install(spark)
    remote("orders").createOrReplaceTempView("fed_orders")
    val df = spark.sql(
      """SELECT o_orderkey FROM fed_orders o
        |WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice) FROM fed_orders o2
        |                            WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    val pushed = df.queryExecution.optimizedPlan.collect {
      case p: PushedSqlQuery => p
    }
    assert(pushed.nonEmpty,
      "decorrelated subquery did not fuse:\n" + df.queryExecution.optimizedPlan)
    val want = {
      val o = Tables.load(spark, TestSpark.Sf0001, "orders")
      o.createOrReplaceTempView("loc_orders")
      spark.sql(
        """SELECT o_orderkey FROM loc_orders o
          |WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice) FROM loc_orders o2
          |                            WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }

  test("scalar subquery over a DIFFERENT backend blocks fusion of the outer filter") {
    GraftExtensions.install(spark)
    remote("nation").createOrReplaceTempView("fed_nation")
    spark.read.format("graft-sqldb")
      .option("dir", "/root/testdata/sf0.01") // distinct dir -> distinct backend
      .option("table", "region").load()
      .createOrReplaceTempView("fed_region_other")
    val df = spark.sql(
      """SELECT n_name FROM fed_nation
        |WHERE n_regionkey < (SELECT max(r_regionkey) FROM fed_region_other)""".stripMargin)
    val pushed = df.queryExecution.optimizedPlan.collect { case p: PushedSqlQuery => p }
    // no single fused SQL string may span both backends: any pushed
    // fragment must not embed the other backend's table or its aggregate
    // ("region" alone would false-positive on the n_regionkey column)
    assert(!pushed.exists(p => p.sql.contains("`region`") ||
        p.sql.toUpperCase.contains("MAX(")),
      "cross-backend subquery was fused:\n" + pushed.map(_.sql).mkString("\n"))
    // semantics still correct via Spark-side subquery execution
    val n = Tables.load(spark, TestSpark.Sf0001, "nation")
    val r01 = Tables.load(spark, "/root/testdata/sf0.01", "region")
    val maxKey = r01.agg(max("r_regionkey")).collect()(0)
      .getAs[Number](0).longValue()
    val want = n.filter(col("n_regionkey") < maxKey).select("n_name")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(df.collect().map(_.getString(0)).sorted.toSeq == want)
  }

  test("a residual Spark join above a pushed leaf plans and answers correctly") {
    GraftExtensions.install(spark)
    // graft side fuses into a PushedSqlQuery; the local parquet side stays
    // in Spark, so JoinSelection must ask the leaf for stats (a LeafNode
    // without computeStats throws here)
    val fused = remote("nation").filter(col("n_regionkey") === 0)
    val local = Tables.load(spark, TestSpark.Sf0001, "region")
    val df = fused.join(local, col("n_regionkey") === col("r_regionkey"))
      .select("n_name", "r_name")
    val want = Tables.load(spark, TestSpark.Sf0001, "nation")
      .filter(col("n_regionkey") === 0)
      .join(local, col("n_regionkey") === col("r_regionkey"))
      .select("n_name", "r_name")
      .collect().map(_.toString).sorted.toSeq
    assert(df.collect().map(_.toString).sorted.toSeq == want)
  }

  test("backslash and NaN literals stay as Spark residuals, not pushed SQL") {
    val df = remote("nation").filter(col("n_name") === "A\\tB")
    // neither the DSv2 scan's negotiated SQL nor a fused PushedSqlQuery
    // may embed the backslash literal — it must remain a Spark Filter
    val pushedSqls = df.queryExecution.optimizedPlan.collect {
      case p: PushedSqlQuery => p.sql
    }
    assert(pushedSqls.forall(s => !s.contains("A\\tB")),
      s"backslash literal was pushed: $pushedSqls")
    assert(df.queryExecution.executedPlan.toString.contains("Filter"),
      "expected a residual Spark Filter")
    assert(df.count() == 0L) // executes correctly rather than erroring
    val rows = remote("lineitem").filter(col("l_discount") === Double.NaN).count()
    assert(rows == 0L) // must execute (residual filter), not crash on bad SQL
  }

  // walk across adaptive/query-stage boundaries so assertions see the
  // final physical operators (same pattern as CoLocationSpec)
  private def finalNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("ORDER BY + LIMIT pushes as a complete backend top-N") {
    val df = remote("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5)
    val scan = graftScan(df)
    assert(scan.renderedSql.contains(
      "ORDER BY `o_totalprice` DESC NULLS LAST, `o_orderkey` ASC NULLS FIRST"),
      scan.renderedSql)
    assert(scan.renderedSql.endsWith("LIMIT 5"), scan.renderedSql)
    // complete pushdown: 5 rows cross the wire and Spark keeps no TopK
    assert(scan.planInputPartitions().length == 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("TakeOrderedAndProject"), plan)
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
  }

  test("OFFSET composes with the pushed top-N in one backend query") {
    val df = remote("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(3).limit(4)
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(3).limit(4).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want)
    val scan = graftScan(df)
    assert(scan.renderedSql.contains("OFFSET 3"), scan.renderedSql)
  }

  test("top-N over an expression sort key declines the scan push, still answers") {
    val df = remote("orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy((col("o_totalprice") * -1).asc)
      .limit(5)
    // the SCAN must not claim an expression sort (pushTopN declines);
    // the whole-subtree fusion rule may still render it as one backend
    // SQL — that path re-renders the expression itself, which is exact
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        b.scan.asInstanceOf[GraftScan]
    }
    scans.foreach(s => assert(!s.renderedSql.contains("ORDER BY"), s.renderedSql))
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy((col("o_totalprice") * -1).asc)
      .limit(5).collect().map(_.getLong(0)).toSeq
    assert(df.collect().map(_.getLong(0)).toSeq == want)
  }

  test("scan reports catalog statistics (row count + size) to Catalyst") {
    val df = remote("nation")
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r
    }.head
    val st = rel.stats
    assert(st.rowCount.contains(BigInt(25)), st.toString)
    assert(st.sizeInBytes > 0 && st.sizeInBytes < (1L << 20), st.toString)
  }

  test("catalog statistics let Catalyst auto-broadcast a small federated dimension") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // 10 KB threshold: the parquet fact (115 KB) cannot broadcast, so a
    // broadcast join can only appear if the DSv2 side reports its true
    // (tiny) size — without SupportsReportStatistics a V2 relation
    // defaults to sizeInBytes=MAX and this plans as a sort-merge join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
    try {
      val fact = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      val dim = remote("supplier")
      val joined = fact.join(dim, col("l_suppkey") === col("s_suppkey"))
      val want = fact.join(Tables.load(spark, TestSpark.Sf0001, "supplier"),
        col("l_suppkey") === col("s_suppkey")).count()
      assert(joined.count() == want)
      assert(finalNodes(joined).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        joined.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("dynamic pruning pushes a runtime IN filter into the backend SQL") {
    import scala.jdk.CollectionConverters._
    val backend = graft.sources.SparkViewBackend.forDir(TestSpark.Sf0001)
    val confs = Seq(
      // force the benefit heuristic: the double has no partition metadata,
      // so make DPP unconditional for this query shape
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      backend.sqlLog.clear()
      val fact = remote("lineitem").select("l_orderkey", "l_quantity")
      val dim = Tables.load(spark, TestSpark.Sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity").as("sq"))
      val got = joined.collect().head.getDouble(0)
      val inQueries = backend.sqlLog.asScala.filter(_.contains("`l_orderkey` IN ("))
      assert(inQueries.nonEmpty,
        "no runtime IN filter reached the backend:\n" +
          backend.sqlLog.asScala.mkString("\n"))
      val want = Tables.load(spark, TestSpark.Sf0001, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity")).collect().head.getDouble(0)
      assert(math.abs(got - want) < 1e-6)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("s34 bench entry drives the runtime IN filter into the backend SQL") {
    // the BENCH-visible twin of the DPP spec above: the driver-oracle
    // entry itself (own session, conf-forced benefit heuristic) must
    // reach the backend with a pruned fact query
    import scala.jdk.CollectionConverters._
    val backend = graft.sources.SparkViewBackend.forDir(TestSpark.Sf0001)
    backend.sqlLog.clear()
    val df = SparkEntry.queries("s34_runtime_pruned_join")(spark, TestSpark.Sf0001)
    val rows = df.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "1-URGENT")
    assert(backend.sqlLog.asScala.exists(_.contains("`l_orderkey` IN (")),
      "no runtime IN filter reached the backend:\n" +
        backend.sqlLog.asScala.mkString("\n"))
  }

  test("dynamic pruning over an empty build side sends the false literal to the backend") {
    import scala.jdk.CollectionConverters._
    val backend = graft.sources.SparkViewBackend.forDir(TestSpark.Sf0001)
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000",
      // adaptive execution would see the empty broadcast and drop the join
      // (and with it the pruned scan) before any runtime filter is handed over
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      backend.sqlLog.clear()
      val fact = remote("lineitem").select("l_orderkey", "l_quantity")
      // no order has this priority: the runtime IN arrives with no values
      val dim = Tables.load(spark, TestSpark.Sf0001, "orders")
        .filter(col("o_orderpriority") === "9-NONE")
        .select("o_orderkey")
      val rows = fact.join(dim, col("l_orderkey") === col("o_orderkey")).collect()
      assert(rows.isEmpty)
      val pruned = backend.sqlLog.asScala
        .filter(s => s.contains("`lineitem`") && s.matches("(?s).* WHERE .*\\bFALSE\\b.*"))
      assert(pruned.nonEmpty, "the empty runtime IN did not reach the backend as FALSE:\n" +
        backend.sqlLog.asScala.mkString("\n"))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime filters are refused on a fully-pushed top-N scan (DPP cannot change the top-N)") {
    import scala.jdk.CollectionConverters._
    val backend = graft.sources.SparkViewBackend.forDir(TestSpark.Sf0001)
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10000")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      backend.sqlLog.clear()
      // top-5 most expensive orders, fully pushed (ORDER BY + LIMIT in the
      // backend query, Spark's own TopK deleted), then joined to a filtered
      // dimension: a DPP IN filter rendered into the scan's WHERE would run
      // BEFORE the top-N and return rows beyond the true top 5
      val top = remote("orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
      val dim = Tables.load(spark, TestSpark.Sf0001, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val got = top.join(dim, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      val want = Tables.load(spark, TestSpark.Sf0001, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(5)
        .join(dim, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want)
      // and no runtime IN predicate may have reached the ordered backend query
      val tainted = backend.sqlLog.asScala
        .filter(s => s.contains("ORDER BY") && s.contains("`o_custkey` IN ("))
      assert(tainted.isEmpty, "runtime filter leaked into a top-N backend query:\n" +
        tainted.mkString("\n"))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("AVG over a double column pushes as a complete backend aggregate") {
    GraftExtensions.install(spark)
    val df = remote("orders").groupBy("o_orderpriority")
      .agg(avg("o_totalprice").as("ap"), count(lit(1)).as("n"))
    val sql = fused(df).sql
    assert(sql.contains("AVG("), sql)
    assert(sql.contains("GROUP BY"), sql)
    val want = Tables.load(spark, TestSpark.Sf0001, "orders")
      .groupBy("o_orderpriority").agg(avg("o_totalprice").as("ap"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, k) }
    // AVG over an integer column fuses too (the dialect owns the
    // argument's widening) and answers like Spark's own
    val intAvg = remote("orders").groupBy("o_orderpriority")
      .agg(avg("o_custkey").as("ac"))
    val intWant = Tables.load(spark, TestSpark.Sf0001, "orders")
      .groupBy("o_orderpriority").agg(avg("o_custkey").as("ac"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val intGot = intAvg.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(intGot.keySet == intWant.keySet)
    intGot.foreach { case (k, v) => assert(math.abs(v - intWant(k)) < 1e-9, k) }
  }

  test("a same-backend join collapses into one fused backend query on the double too") {
    GraftExtensions.install(spark)
    val n = remote("nation")
    val r = remote("region")
    val joined = n.join(r, n("n_regionkey") === r("r_regionkey"))
      .select("n_name", "r_name")
    val sql = fused(joined).sql
    assert(sql.contains(" JOIN "), sql)
    val got = joined.collect().map(_.toString).sorted.toSeq
    val want = Tables.load(spark, TestSpark.Sf0001, "nation")
      .join(Tables.load(spark, TestSpark.Sf0001, "region"), col("n_regionkey") === col("r_regionkey"))
      .select("n_name", "r_name").collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  test("an IN or scalar subquery the scan declined fuses with its outer query into one backend query") {
    // the subquery plan is optimized, and fused, in its own run before
    // the outer plan; the outer fusion then reads it as a derived table
    GraftExtensions.install(spark)
    remote("orders").createOrReplaceTempView("fed_sq_orders")
    remote("customer").createOrReplaceTempView("fed_sq_customer")
    Tables.load(spark, TestSpark.Sf0001, "orders").createOrReplaceTempView("loc_sq_orders")
    Tables.load(spark, TestSpark.Sf0001, "customer").createOrReplaceTempView("loc_sq_customer")
    val queries = Seq(
      """SELECT o_orderpriority, COUNT(*) AS n FROM %1$s_orders
        |WHERE o_custkey IN (SELECT c_custkey FROM %1$s_customer GROUP BY c_custkey
        |                    HAVING SUM(c_acctbal * 2) > 5000)
        |GROUP BY o_orderpriority""".stripMargin,
      """SELECT o_orderpriority, COUNT(*) AS n FROM %1$s_orders
        |GROUP BY o_orderpriority
        |HAVING AVG(o_custkey) > (SELECT AVG(c_nationkey) FROM %1$s_customer)""".stripMargin)
    queries.foreach { q =>
      val df = spark.sql(q.format("fed_sq"))
      val sql = fused(df).sql
      // the subquery's table and the outer one, in the same statement
      assert(sql.contains("FROM `customer`") && sql.contains("FROM `orders`"), sql)
      val want = spark.sql(q.format("loc_sq")).collect().map(_.toString).sorted.toSeq
      assert(want.nonEmpty)
      assert(df.collect().map(_.toString).sorted.toSeq == want)
    }
  }

  test("null-safe join condition fuses into one backend query") {
    GraftExtensions.install(spark)
    val df = remote("nation")
      .join(remote("region"), col("n_regionkey") <=> col("r_regionkey"))
      .select(col("n_name"), col("r_name"))
    val pushed = df.queryExecution.optimizedPlan.collect { case p: PushedSqlQuery => p }
    assert(pushed.size == 1, df.queryExecution.optimizedPlan.toString)
    assert(pushed.head.sql.contains("IS NOT DISTINCT FROM"), pushed.head.sql)
    assert(df.count() == 25)
  }

  test("partially convertible plans push the largest subtree and keep the rest in Spark") {
    GraftExtensions.install(spark)
    // window function on top is not SQL-generatable -> stays in Spark;
    // the join below it must still fuse
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("r_name")).orderBy(col("n_name"))
    val df = remote("nation")
      .join(remote("region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"), row_number().over(w).as("rn"))
    val pushed = df.queryExecution.optimizedPlan.collect { case p: PushedSqlQuery => p }
    assert(pushed.size == 1)
    val rows = df.collect()
    assert(rows.length == 25)
    assert(rows.map(_.getInt(2)).max > 1)
  }
}
