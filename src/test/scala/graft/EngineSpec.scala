package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one-call bootstrap must yield a session that answers corpus SQL and
  * carries the pushdown rule. (Reuses the shared test session's JVM; the
  * builder returns the existing session with configs applied, which is
  * exactly the getOrCreate contract users hit.) */
class EngineSpec extends AnyFunSuite {

  test("Engine.create + attach answers SQL over the registered catalog") {
    val spark = Engine.create(master = "local[4]")
    Engine.attach(spark, TestSpark.Sf0001)
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > 0").collect()(0).getLong(0)
    assert(n > 0)
    assert(spark.experimental.extraOptimizations.contains(graft.plans.SqlPushdownRule))
  }

  test("attach also wires the catalog-qualified namespace") {
    val spark = Engine.create(master = "local[4]")
    Engine.attach(spark, TestSpark.Sf0001)
    val n = spark.sql(
      "SELECT COUNT(*) AS n FROM graft_db.main.region").collect()(0).getLong(0)
    assert(n == 5)
  }

  test("the product-default config answers a catalog join+aggregate correctly") {
    // s31's shape under Engine.create's defaults: DSv2 join pushdown ON
    // (the engine enables it) coexisting with the whole-plan SqlPushdownRule
    val spark = Engine.create(master = "local[4]")
    Engine.attach(spark, TestSpark.Sf0001)
    assert(spark.conf.get("spark.sql.optimizer.datasourceV2JoinPushdown") == "true")
    val got = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM graft_db.main.lineitem JOIN graft_db.main.orders
        |  ON l_orderkey = o_orderkey
        |WHERE l_shipdate > TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val li = Tables.load(spark, TestSpark.Sf0001, "lineitem")
    val o = Tables.load(spark, TestSpark.Sf0001, "orders")
    import org.apache.spark.sql.functions._
    val want = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("Engine.create(federation = false) is the plain session config, in a fresh JVM") {
    // a fresh JVM, as for Bench/Verify/PlanDump/PlanAudit: in this one the
    // shared test session (which other specs extend) would be returned; the
    // compiled-class cache size is a static conf, so only a JVM whose first
    // session is Engine.create's shows it
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.EngineContractMain")
    val out = new StringBuilder
    val err = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), l => err.append(l).append('\n')))
    assert(code == 0, err.takeRight(4000).toString)
    val Contract = """contract:([^=]+)=(.*)""".r
    val got = out.toString.linesIterator.collect { case Contract(k, v) => k -> v }.toMap
    assert(got == Map(
      "shuffle.partitions" -> "3",
      "adaptive.enabled" -> "true",
      "session.timeZone" -> "UTC",
      "ui.enabled" -> "false",
      "extraOptimizations" -> "",
      "extraStrategies" -> "",
      "sql.extensions" -> "None",
      "catalog.graft_db" -> "None",
      "codegen.cache.maxEntries" -> Engine.CodegenCacheEntries.toString,
      "codegen.compiles.warm_run" -> "0"), out.toString)
  }

  test("src/main builds sessions only through Engine.create and GraftExtensions.newSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    def hits(f: Path, needle: String) = Files.readAllLines(f).asScala.zipWithIndex
      .collect { case (l, i) if l.contains(needle) => (f.getFileName.toString, i + 1, l.trim) }
    val builders = files.flatMap(hits(_, "SparkSession.builder(")).filterNot {
      case (file, _, line) => file == "Engine.scala" ||
        line == "SparkSession.builder().withExtensions(new GraftExtensions).create()"
    }
    assert(builders.isEmpty, s"build sessions through Engine.create: $builders")
    val slots = files.flatMap(f =>
      hits(f, "setDefaultSession") ++ hits(f, "clearDefaultSession"))
    assert(slots.isEmpty, s"no code may swap the default session: $slots")
  }
}

/** Child-JVM side of the session-contract test: prints what a fresh
  * `Engine.create("local[3]", federation = false)` session carries, and
  * how many classes a warm run of an identical composed op compiles
  * (every one should come from the compiled-class cache). */
object EngineContractMain {
  def main(args: Array[String]): Unit = {
    val spark = Engine.create("local[3]", federation = false)
    def show(k: String, v: Any): Unit = println(s"contract:$k=$v")
    show("shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    show("adaptive.enabled", spark.conf.get("spark.sql.adaptive.enabled"))
    show("session.timeZone", spark.conf.get("spark.sql.session.timeZone"))
    show("ui.enabled", spark.sparkContext.getConf.get("spark.ui.enabled", "true"))
    show("extraOptimizations", spark.experimental.extraOptimizations.mkString(","))
    show("extraStrategies", spark.experimental.extraStrategies.mkString(","))
    show("sql.extensions", spark.conf.getOption("spark.sql.extensions"))
    show("catalog.graft_db", spark.conf.getOption("spark.sql.catalog.graft_db"))
    show("codegen.cache.maxEntries", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    // the crawl op as the benchmark repeats it: the persisted
    // intermediates are dropped between runs, so each run plans afresh
    val op = SparkEntry.queries("e2e_crawl_to_chunks")
    def compiles(): Long = {
      val compileCount =
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compileCount.getCount
      op(spark, TestSpark.Sf0001).collect()
      spark.sharedState.cacheManager.clearCache()
      compileCount.getCount - before
    }
    // AQE numbers codegen stages in the order its query stages finish, so
    // a warm run can meet a new numbering (a new class source) once; a
    // cache too small for the op recompiles on every run. So the contract
    // is the fewest compiles over warm runs 3 to 5.
    compiles(); compiles()
    show("codegen.compiles.warm_run", Seq.fill(3)(compiles()).min)
    spark.stop()
  }
}
