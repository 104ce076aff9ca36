package graft

import graft.plans.{GraftExtensions, MaterializedViews}
import graft.sources.GraftScan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Materialized-view roll-up rewrite: positive cases must SCAN THE VIEW
  * (not just return correct rows — a dead rewrite returns correct rows
  * too), negative cases must keep scanning the base table. */
class MaterializedViewSpec extends AnyFunSuite {

  // the rewrite rule is session-scoped; keep it off the shared session so
  // other suites' aggregates are never rewritten under them
  private lazy val spark: SparkSession = {
    val s = TestSpark.spark.newSession()
    MaterializedViews.install(s)
    s
  }
  private lazy val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")

  private def discPrice =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  private lazy val mv = MaterializedViews.ensure(spark, "spec_li", li,
    dims = Seq("l_returnflag", "l_linestatus"),
    measures = Seq(
      "qty" -> col("l_quantity"),
      "price" -> col("l_extendedprice"),
      "disc_price" -> discPrice))

  // read paths from the optimized LOGICAL plan: the physical tree hides
  // its file scans behind AdaptiveSparkPlanExec until execution
  private def scannedPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def scansView(df: DataFrame): Boolean = {
    val ps = scannedPaths(df)
    ps.nonEmpty && ps.forall(_.contains("graft-mv"))
  }

  private def assertSameAsBase(df: DataFrame, base: => DataFrame): Unit = {
    val got = df.collect().map(_.toString).sorted.toSeq
    val want = base.collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }

  /** The same query text against a session WITHOUT the rewrite rule. A
    * FRESH session, not the shared one: suites that call
    * GraftExtensions.install on TestSpark.spark leave MvRewriteRule in
    * its extraOptimizations, and the view registry is global — the shared
    * session's "baseline" could then itself be served from the view,
    * turning every equality here into view-vs-view. The assert keeps that
    * failure mode loud. */
  private def baseline(q: DataFrame => DataFrame): DataFrame = {
    val s = TestSpark.spark.newSession() // fresh (empty) extraOptimizations
    val df = q(Tables.load(s, TestSpark.Sf0001, "lineitem"))
    assert(!scansView(df), "baseline itself was served from the view")
    df
  }

  test("roll-up over fewer dims scans the view and matches the base") {
    mv
    def q(t: DataFrame): DataFrame = t
      .groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        count(lit(1)).as("n"))
    val df = q(li)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    assertSameAsBase(df, baseline(q))
  }

  test("dimension-only filter is applied against the view") {
    mv
    def q(t: DataFrame): DataFrame = t
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(sum(discPrice).as("sum_disc_price"), count(lit(1)).as("n"))
    val df = q(li)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    assertSameAsBase(df, baseline(q))
  }

  test("AVG derives as SUM/SUM with matching null semantics") {
    mv
    def q(t: DataFrame): DataFrame = t
      .groupBy("l_returnflag", "l_linestatus")
      .agg(avg("l_extendedprice").as("avg_price"),
        avg("l_quantity").as("avg_qty"))
    val df = q(li)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    // the view's sums are already double: the rewrite adds no no-op cast
    // (the rule runs after the batch that would simplify one)
    val noOpCasts = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType == c.dataType => c
    }))
    assert(noOpCasts.isEmpty, noOpCasts)
    // doubles: compare at oracle precision (re-associated sums)
    val got = df.collect().map(r => (r.getString(0), r.getString(1),
      math.round(r.getDouble(2) * 1e6), math.round(r.getDouble(3) * 1e6)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = baseline(q).collect().map(r => (r.getString(0), r.getString(1),
      math.round(r.getDouble(2) * 1e6), math.round(r.getDouble(3) * 1e6)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want)
  }

  test("ungrouped COUNT over a fully-filtered view is 0, not NULL") {
    mv
    val df = li.filter(col("l_linestatus") === "NO_SUCH_STATUS")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    val row = df.collect().head
    assert(row.getLong(0) == 0L)
    assert(row.isNullAt(1)) // empty SUM stays NULL (matches base semantics)
  }

  test("grouping column appears in output with its original exprId intact") {
    mv
    // ORDER BY above the aggregate references the pre-rewrite attribute;
    // resolution after rewrite proves the exprIds were preserved
    val df = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_extendedprice").as("s"))
      .orderBy(col("l_returnflag").desc, col("l_linestatus"))
      .limit(5)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    assert(df.collect().length == 5)
  }

  test("negative: filter on a non-dimension column keeps the base scan") {
    mv
    val df = li.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    assert(!scansView(df), df.queryExecution.executedPlan.toString)
  }

  test("negative: non-dimension group-by keeps the base scan") {
    mv
    val df = li.groupBy("l_suppkey").agg(sum("l_quantity").as("s"))
    assert(!scansView(df), df.queryExecution.executedPlan.toString)
  }

  test("negative: unrecorded measure expression keeps the base scan") {
    mv
    val df = li.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice") * col("l_tax")).as("s"))
    assert(!scansView(df), df.queryExecution.executedPlan.toString)
  }

  test("negative: DISTINCT aggregate keeps the base scan") {
    mv
    val df = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_quantity")).as("n"))
    assert(!scansView(df), df.queryExecution.executedPlan.toString)
  }

  test("negative: dropped view no longer rewrites") {
    mv
    MaterializedViews.ensure(spark, "spec_drop_me", li,
      dims = Seq("l_returnflag"), measures = Seq("qty" -> col("l_quantity")))
    MaterializedViews.drop("spec_drop_me")
    // spec_li remains registered, so this still rewrites — but through
    // the surviving def, proving drop() removed only its own name
    val df = li.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
    assert(scansView(df))
  }

  test("SUM over a decimal measure restores the exact query type") {
    // SUM widens decimals per level: stored sum is DECIMAL(28,4), the
    // re-sum is DECIMAL(38,4), and the rewrite must cast back to the
    // query's own SUM type for an exprId+type-identical output
    val dec = col("l_extendedprice").cast("decimal(18,4)")
    MaterializedViews.ensure(spark, "spec_dec", li,
      dims = Seq("l_returnflag"), measures = Seq("money" -> dec))
    def q(t: DataFrame): DataFrame = t.groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("s"))
    val df = q(li)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    assert(df.schema("s").dataType ==
      org.apache.spark.sql.types.DecimalType(28, 4))
    assertSameAsBase(df, baseline(q)) // decimal sums are exact — hash-equal
    MaterializedViews.drop("spec_dec")
  }

  test("COUNT of a NULL literal stays correct under the rewrite") {
    mv
    def q(t: DataFrame): DataFrame = t.groupBy("l_returnflag")
      .agg(count(lit(null)).as("n_null"), count(lit(1)).as("n"))
    assertSameAsBase(q(li), baseline(q)) // n_null must be 0, never cnt
  }

  test("exprKey separates cast from try_cast and exotic literals are stable") {
    val df = li.select(
      col("l_quantity").cast("decimal(18,4)").as("c"),
      col("l_quantity").try_cast("decimal(18,4)").as("t"))
    val Seq(cK, tK) = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
      .projectList.map {
        case a: org.apache.spark.sql.catalyst.expressions.Alias =>
          MaterializedViews.exprKey(a.child)
      }
    assert(cK != tK, s"cast/try_cast keys collide: $cK")
    // array-backed literal values must render stably, not as object refs
    val arr = org.apache.spark.sql.catalyst.expressions.Literal
      .create(Array(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    assert(MaterializedViews.exprKey(arr) == MaterializedViews.exprKey(arr.copy()))
    assert(!MaterializedViews.exprKey(arr).contains("@"))
  }

  test("stream maintenance folds batches incrementally and skips replays") {
    import TestSpark.spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_smv_spec").toString
    val dims = Seq("k")
    val measures = Seq("v" -> col("v"))
    def b(rows: (String, Double)*) = rows.toDF("k", "v")
    MaterializedViews.mergeBatch(b("a" -> 1.0, "b" -> 2.0), 0L, path, dims, measures)
    MaterializedViews.mergeBatch(b("a" -> 3.0, "c" -> 4.0), 1L, path, dims, measures)
    // a REPLAYED batch (foreachBatch retry semantics) must not double-count
    MaterializedViews.mergeBatch(b("a" -> 3.0, "c" -> 4.0), 1L, path, dims, measures)
    MaterializedViews.mergeBatch(b("a" -> 0.5), 2L, path, dims, measures)
    val got = MaterializedViews.readView(TestSpark.spark, path)
      .orderBy("k")
      .select("k", "cnt", "sum_v", "cnt_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      ("a", 3L, 4.5, 3L, 0.5, 3.0),
      ("b", 1L, 2.0, 1L, 2.0, 2.0),
      ("c", 1L, 4.0, 1L, 4.0, 4.0)))
    // GC keeps only current + previous snapshot versions
    val vs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("v")).sorted.toSeq
    assert(vs == Seq("v1", "v2"), vs.toString)
  }

  test("stream-maintained rollup equals the batch aggregate of all events") {
    val got = graft.streaming.EventStreams
      .streamMvRollup(TestSpark.spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getLong(3))).toSeq
    val want = Tables.load(TestSpark.spark, TestSpark.Sf0001, "events")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("value").as("s"),
        count(col("value")).as("cv"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getLong(3))).toSeq
    assert(got == want)
  }

  test("oracle entry mv_rollup matches a DuckDB-equivalent plain aggregate") {
    val fn = MaterializedViews.entries.toMap.apply("mv_rollup")
    val df = fn(TestSpark.spark, TestSpark.Sf0001)
    assert(scansView(df), df.queryExecution.executedPlan.toString)
    def q(t: DataFrame): DataFrame = t
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        sum(discPrice).as("sum_disc_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
    val got = df.collect().map(r => (r.getString(0), r.getString(1),
      math.round(r.getDouble(2) * 1e6), math.round(r.getDouble(3) * 1e6),
      math.round(r.getDouble(4) * 1e6), r.getDouble(5), r.getDouble(6),
      r.getLong(7))).toSeq
    val want = baseline(q).collect().map(r => (r.getString(0), r.getString(1),
      math.round(r.getDouble(2) * 1e6), math.round(r.getDouble(3) * 1e6),
      math.round(r.getDouble(4) * 1e6), r.getDouble(5), r.getDouble(6),
      r.getLong(7))).toSeq
    assert(got == want)
  }

  test("ensureIncremental folds only appended files; any other change recomputes") {
    import graft.plans.MaterializedViews.{ensureIncremental => inc}
    val tbl = java.nio.file.Files.createTempDirectory("graft_incr").toString + "/itbl"
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_orderkey")
    li.filter(col("l_orderkey") % 4 =!= 0).write.parquet(tbl)
    def base = spark.read.parquet(tbl)
    val dims = Seq("l_returnflag", "l_linestatus")
    val ms = Seq("qty" -> col("l_quantity"),
      "money" -> col("l_extendedprice").cast("decimal(18,4)"))
    try {
      val (d1, how1) = inc(spark, "spec_incr", base, dims, ms)
      assert(how1 == "full", "first ensure must be a full compute")
      // the base GROWS: new files only
      li.filter(col("l_orderkey") % 4 === 0).write.mode("append").parquet(tbl)
      val (d2, how2) = inc(spark, "spec_incr", base, dims, ms)
      assert(how2 == "incremental", "append-only growth must fold")
      assert(d2.mvPath != d1.mvPath)
      // folded view == full aggregate over the whole base, types included
      val got = spark.read.parquet(d2.mvPath)
        .orderBy(dims.map(col): _*)
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty", "cnt_qty",
          "min_qty", "max_qty", "sum_money")
        .collect().map(_.toString).toSeq
      val want = base.groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"),
          count(col("l_quantity")).as("cnt_qty"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("sum_money"))
        .orderBy(dims.map(col): _*)
        .collect().map(_.toString).toSeq
      assert(got == want, "folded snapshot diverges from a full recompute")
      // sum-of-sums must NOT widen the stored decimal past the full type
      assert(spark.read.parquet(d2.mvPath).schema("sum_money").dataType ==
        org.apache.spark.sql.types.DecimalType(28, 4))
      // the folded view serves the rewrite like any other
      val q = base.groupBy("l_returnflag")
        .agg(sum("l_quantity").as("s"), count(lit(1)).as("n"))
      assert(scansView(q), q.queryExecution.optimizedPlan.toString)
      // unchanged base → same fingerprint, same path, nothing recomputed
      val (d3, how3) = inc(spark, "spec_incr", base, dims, ms)
      assert(how3 == "reuse" && d3.mvPath == d2.mvPath)
      // a DELETED file breaks the additions-only premise: MIN/MAX cannot
      // un-see rows, so this must take the full path
      val victim = new java.io.File(tbl).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      val (d4, how4) = inc(spark, "spec_incr", base, dims, ms)
      assert(how4 == "full" && d4.mvPath != d2.mvPath)
    } finally MaterializedViews.drop("spec_incr")
  }

  test("a compacted (rewritten-in-place) base forces a full rebuild, not a stale serve") {
    // Layout.compact — the engine's own lakehouse cadence — replaces every
    // base file with the SAME rows in new files; the incremental premise
    // ("the base only grew") is false and the per-file fingerprint must
    // retire the old snapshot and rebuild, even though no row changed
    import graft.plans.MaterializedViews.{ensureIncremental => inc}
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val tbl = root + "/ctbl"
    Tables.load(spark, TestSpark.Sf0001, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_quantity")
      .repartition(4).write.parquet(tbl)
    def base = spark.read.parquet(tbl)
    val dims = Seq("l_returnflag", "l_linestatus")
    val ms = Seq("qty" -> col("l_quantity"))
    try {
      val (d1, how1) = inc(spark, "spec_compact", base, dims, ms)
      assert(how1 == "full")
      // compact to a scratch dir, then swap the files into the base path
      val packed = root + "/packed"
      graft.ops.Layout.compact(spark, tbl, packed, targetBytes = 1L << 30)
      new java.io.File(tbl).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
      new java.io.File(packed).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(tbl, s"compact-$i.parquet"))
        }
      val (d2, how2) = inc(spark, "spec_compact", base, dims, ms)
      assert(how2 == "full", "a rewritten base must take the full path")
      assert(d2.mvPath != d1.mvPath, "compacted base reused the stale snapshot")
      // the rebuilt view equals a fresh aggregate of the compacted base
      val got = spark.read.parquet(d2.mvPath)
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty")
        .collect().map(_.toString).sorted.toSeq
      val want = base.groupBy(dims.map(col): _*)
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .select("l_returnflag", "l_linestatus", "cnt", "sum_qty")
        .collect().map(_.toString).sorted.toSeq
      assert(got == want, "rebuilt view diverges from the compacted base")
      // and the rewrite serves from the NEW snapshot
      val q = base.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      assert(scansView(q), q.queryExecution.optimizedPlan.toString)
      assert(scannedPaths(q).forall(_.contains(d2.mvPath.split('/').last)),
        "rewrite still points at the retired snapshot")
    } finally MaterializedViews.drop("spec_compact")
  }

  // ---- federated (DSv2) bases ------------------------------------------

  private def fedLineitem(s: SparkSession): DataFrame =
    s.read.format("graft-sqldb").option("dir", TestSpark.Sf0001)
      .option("table", "lineitem").load()

  /** The graft scans left in the optimized plan. */
  private def graftScans(df: DataFrame): Seq[GraftScan] =
    df.queryExecution.optimizedPlan.collect {
      case s: DataSourceV2ScanRelation => s.scan
    }.collect { case g: GraftScan => g }

  /** Rounded so the view's re-summed partials and the base's sums agree. */
  private def rounded(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => math.round(d * 1e4).toString
      case v => String.valueOf(v)
    }.mkString(",")).sorted.toSeq

  test("federated base: FILTERED roll-up rewrites to the view after scan pushdown") {
    // the graft rules run after V2 scan pushdown: the dim filter is
    // absorbed into the scan, and the rewrite reads it back from there.
    // The expression measure keeps the aggregate itself out of the scan.
    val s = TestSpark.spark.newSession()
    GraftExtensions.install(s)
    val fed = fedLineitem(s)
    MaterializedViews.ensure(s, "spec_fed", fed,
      dims = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("qty" -> col("l_quantity"), "disc_price" -> discPrice))
    try {
      def q(t: DataFrame): DataFrame = t
        .filter(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("s"), sum(discPrice).as("d"),
          count(lit(1)).as("n"))
      val df = q(fed)
      assert(scansView(df), df.queryExecution.optimizedPlan.toString)
      // the backend is a view over the same parquet files the baseline reads
      assert(rounded(df) == rounded(baseline(q)))
    } finally MaterializedViews.drop("spec_fed")
  }

  test("federated base: post-pushdown roll-ups rewrite with or without an absorbed dim filter") {
    val s = TestSpark.spark.newSession()
    MaterializedViews.install(s)
    val fed = fedLineitem(s)
    MaterializedViews.ensure(s, "spec_fed_post", fed,
      dims = Seq("l_returnflag"),
      measures = Seq("disc_price" -> discPrice))
    try {
      def q(t: DataFrame): DataFrame =
        t.groupBy("l_returnflag").agg(sum(discPrice).as("s"))
      val df = q(fed)
      assert(scansView(df), df.queryExecution.optimizedPlan.toString)
      assert(rounded(df) == rounded(baseline(q)))

      def qf(t: DataFrame): DataFrame = t
        .filter(col("l_returnflag") === "R")
        .groupBy("l_returnflag").agg(sum(discPrice).as("s"))
      val dff = qf(fed)
      assert(scansView(dff), dff.queryExecution.optimizedPlan.toString)
      assert(rounded(dff) == rounded(baseline(qf)))
      assert(rounded(dff).size == 1)
    } finally MaterializedViews.drop("spec_fed_post")
  }

  test("federated base: a scan that absorbed what the view cannot answer declines") {
    // each query below leaves its federated scan holding state the view
    // does not record; the rewrite must decline and answer from the base
    val s = TestSpark.spark.newSession()
    MaterializedViews.install(s)
    val fed = fedLineitem(s)
    MaterializedViews.ensure(s, "spec_fed_decline", fed,
      dims = Seq("l_returnflag", "l_linenumber"),
      measures = Seq("disc_price" -> discPrice))
    def declines(q: DataFrame => DataFrame, absorbed: GraftScan => Boolean): Unit = {
      val df = q(fed)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!scansView(df), plan)
      assert(graftScans(df).exists(absorbed), s"the scan did not absorb it:\n$plan")
      assert(rounded(df) == rounded(baseline(q)))
    }
    def filtered(g: GraftScan) = g.preRendered.nonEmpty
    try {
      // a non-dimension predicate
      declines(_.filter(col("l_quantity") > 30)
        .groupBy("l_returnflag").agg(sum(discPrice).as("s")), filtered)
      // a dim predicate Spark cannot convert back from its pushed form
      declines(_.filter(upper(col("l_returnflag")) === "R")
        .groupBy("l_returnflag").agg(sum(discPrice).as("s")), filtered)
      // a dim predicate holding a Cast (int + bigint widens the column)
      declines(_.filter(col("l_linenumber") + lit(1L) > 3)
        .groupBy("l_returnflag").agg(sum(discPrice).as("s")),
        g => g.preRendered.exists(_.contains("CAST")))
      // a top-N: the aggregate above it sees only the first 50 rows
      declines(_.orderBy("l_orderkey", "l_linenumber").limit(50)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"), sum(discPrice).as("s")),
        _.limit.contains(50))
      // a nested aggregate: the scan takes no aggregate, the optimizer
      // prunes the SUM nothing reads, and the view answers the inner
      // group-by over its two dims
      def nested(t: DataFrame): DataFrame = t.groupBy("l_returnflag", "l_linenumber")
        .agg(sum("l_quantity").as("q"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val df = nested(fed)
      assert(scansView(df), df.queryExecution.optimizedPlan.toString)
      assert(rounded(df) == rounded(baseline(nested)))
    } finally MaterializedViews.drop("spec_fed_decline")
  }

  test("federated base: a plain-column SUM roll-up is served by the view") {
    // the scan takes no aggregate, so the Aggregate node the rewrite
    // matches is still in the plan with the graft rules installed
    val s = TestSpark.spark.newSession()
    GraftExtensions.install(s)
    val fed = fedLineitem(s)
    MaterializedViews.ensure(s, "spec_fed_sum", fed,
      dims = Seq("l_returnflag", "l_linestatus"),
      measures = Seq("qty" -> col("l_quantity")))
    try {
      def q(t: DataFrame): DataFrame =
        t.groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      val df = q(fed)
      assert(scansView(df), df.queryExecution.optimizedPlan.toString)
      assert(graftScans(df).isEmpty, df.queryExecution.optimizedPlan.toString)
      assert(rounded(df) == rounded(baseline(q)))
    } finally MaterializedViews.drop("spec_fed_sum")
  }

  test("oracle entry mv_rollup_fed serves from the view and matches the parquet baseline") {
    val fn = MaterializedViews.entries.toMap.apply("mv_rollup_fed")
    val df = fn(TestSpark.spark, TestSpark.Sf0001)
    assert(scansView(df), df.queryExecution.optimizedPlan.toString)
    def q(t: DataFrame): DataFrame = t
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        sum(discPrice).as("sum_disc_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
    def canon(d: DataFrame) = d.collect().map(r => (r.getString(0), r.getString(1),
      math.round(r.getDouble(2) * 1e6), math.round(r.getDouble(3) * 1e6),
      math.round(r.getDouble(4) * 1e6), r.getDouble(5), r.getDouble(6),
      r.getLong(7))).toSeq
    assert(canon(df) == canon(baseline(q)))
  }
}
