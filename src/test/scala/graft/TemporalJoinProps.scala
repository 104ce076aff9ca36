package graft

import graft.ops.TemporalJoins
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests: the distributed temporal joins must agree with a
  * brute-force in-memory reference on arbitrary event sets — including
  * simultaneous timestamps, sparse keys, and band-boundary gaps. */
object TemporalJoinProps extends Properties("TemporalJoins") {

  /** A session of its own with the interpreted fallback off, at both the
    * expression factories and whole-stage codegen: a class the generated
    * code cannot compile against fails the property instead of running
    * interpreted. */
  private lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  /** Runs a property with [[spark]] active: the expression factories read
    * the active session's conf. */
  private def strict[A](body: => A): A = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try body
    finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Public: the generated serializer calls its accessors, and Janino
    * cannot call them on a private nested class. */
  case class Ev(id: Long, user: Long, sec: Long, value: Double)

  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(0, 40)
    evs <- Gen.listOfN(n, for {
      user <- Gen.choose(0L, 3L)
      sec <- Gen.choose(0L, 500L)
      v <- Gen.choose(0.0, 100.0)
    } yield (user, sec, v))
  } yield evs.zipWithIndex.map { case ((u, s, v), i) => Ev(i.toLong, u, s, v) }

  private def toDF(evs: List[Ev]) = {
    import spark.implicits._
    evs.toDF("id", "user", "sec", "value")
      .select(col("id"), col("user"),
        timestamp_seconds(col("sec")).as("ts"), col("value"))
  }

  property("asofBackward equals brute-force latest-at-or-before") =
    forAll(genEvents, genEvents) { (ls, rs) => strict {
      val left = toDF(ls)
      val right = toDF(rs).select(col("user"), col("ts"), col("value"))
      val got = TemporalJoins.asofBackward(
          left, right, Seq("user"), "ts", "ts",
          payload = Seq("value" -> "rv"), matchTimeAs = "rts")
        .select("id", "rv")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      val expected = ls.map { l =>
        val cands = rs.filter(r => r.user == l.user && r.sec <= l.sec)
        // deterministic tie-break mirrors the op: latest ts, then payload
        // struct order = (ts, value) — i.e. max value among ties
        val best = cands.sortBy(r => (r.sec, r.value)).lastOption
        l.id -> best.map(_.value)
      }.toMap
      got == expected
    } }

  property("timeBandPairs equals brute-force gap filter") =
    forAll(genEvents, Gen.oneOf(30L, 60L, 97L)) { (evs, band) => strict {
      val got = TemporalJoins.timeBandPairs(
          toDF(evs), Seq("user"), "ts", "id", band)
        .select("id_a", "id_b", "gap_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expected = (for {
        a <- evs; b <- evs
        if a.user == b.user
        gap = b.sec - a.sec
        if gap >= 1 && gap <= band
      } yield (a.id, b.id, gap)).toSet
      got == expected
    } }
}
