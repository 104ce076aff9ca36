package graft

import graft.plans.{GraftExtensions, PushedSqlQuery}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Production wiring: the extensions class must work through
  * `SparkSession.builder.withExtensions` (the `spark.sql.extensions`
  * config path), not only via the runtime `install` helper. */
class ExtensionsSpec extends AnyFunSuite {

  private def nationRegion(spark: SparkSession) = {
    def table(t: String) = spark.read.format("graft-sqldb")
      .option("dir", TestSpark.Sf0001).option("table", t).load()
    table("nation").join(table("region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")
  }

  private def pushedQueries(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect { case p: PushedSqlQuery => p }

  test("GraftExtensions injects rule + strategy at session build time") {
    val base = TestSpark.spark // ensure a SparkContext exists
    // create() builds a genuinely new session on the same context, with
    // the extensions applied, whatever sessions already exist
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    assert(spark ne base)
    val joined = nationRegion(spark)
    val pushed = pushedQueries(joined)
    assert(pushed.size == 1, joined.queryExecution.optimizedPlan.toString)
    assert(joined.count() == 25)

    // sliceGen is NOT part of plan identity (r14 advisory): two logically
    // identical pushed plans must compare equal (and sameResult) even
    // when their slice thunks are distinct closures — otherwise
    // ReuseExchange/ReuseSubquery can never dedup a pushed subtree
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

  test("GraftExtensions.newSession leaves the default and active sessions in place") {
    val base = TestSpark.spark
    // a driver thread's usual state: both slots hold the engine session
    SparkSession.setActiveSession(base)
    val default = SparkSession.getDefaultSession
    assert(default.isDefined)
    val s = GraftExtensions.newSession()
    assert(s ne base)
    assert(SparkSession.getDefaultSession == default)
    assert(SparkSession.getActiveSession.contains(base))
    // its children inherit the build-time rules
    assert(pushedQueries(nationRegion(s.newSession())).size == 1)
  }
}
