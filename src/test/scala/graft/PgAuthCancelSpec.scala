package graft

import graft.pgwire.MiniPgServer
import graft.sources.{PgWire, PgWireBackend, PgWireTaskConnection}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 client-parity residuals on the native wire client: md5
  * password auth (pre-v14 servers / password_encryption=md5 — the
  * reference gets it free from its client library) and the CancelRequest
  * side-channel (socket close alone leaves a runaway fused query
  * executing server-side until its next write). */
class PgAuthCancelSpec extends AnyFunSuite {

  private def oneRowServer(): MiniPgServer = {
    val srv = new MiniPgServer
    srv.queryExecutor = _ => Some(MiniPgServer.QueryResult(
      Seq(("one", PgWire.Oid.Int4)), Seq(Seq(Some("1")))))
    srv
  }

  test("md5: correct password authenticates against the server-side verifier") {
    val srv = oneRowServer()
    srv.md5 = Some("s3cret-pw")
    try {
      val (fields, rows) = PgWire.withSession("127.0.0.1", srv.port, "testdb",
        password = Some("s3cret-pw"))(_.query("SELECT 1"))
      assert(fields.map(_.name) == Seq("one"))
      assert(rows.map(_.toSeq) == Vector(Seq(Some("1"))))
    } finally srv.stop()
  }

  test("md5: the digest binds the USER — a different role fails verification") {
    // same password, different user → different inner hash; the server
    // (which verifies against the startup packet's user) must refuse
    val srv = oneRowServer()
    srv.md5 = Some("s3cret-pw")
    try {
      PgWire.withSession("127.0.0.1", srv.port, "testdb", user = "graft",
        password = Some("s3cret-pw"))(_.query("SELECT 1")) // sanity: passes
      val e = intercept[java.io.IOException] {
        new PgWire.Session("127.0.0.1", srv.port, "testdb", "other",
          Some("s3cret-pw"))
      }
      assert(e.getMessage.contains("password authentication failed"), e.getMessage)
    } finally srv.stop()
  }

  test("md5: wrong password is refused with the server's message") {
    val srv = oneRowServer()
    srv.md5 = Some("s3cret-pw")
    try {
      val e = intercept[java.io.IOException] {
        PgWire.withSession("127.0.0.1", srv.port, "testdb",
          password = Some("wrong"))(_.query("SELECT 1"))
      }
      assert(e.getMessage.contains("password authentication failed"), e.getMessage)
    } finally srv.stop()
  }

  test("md5: a demand with no configured password is refused loudly, not hung") {
    val srv = oneRowServer()
    srv.md5 = Some("s3cret-pw")
    try {
      val e = intercept[java.io.IOException] {
        PgWire.withSession("127.0.0.1", srv.port, "testdb")(_.query("SELECT 1"))
      }
      assert(e.getMessage.contains("no password is configured"), e.getMessage)
    } finally srv.stop()
  }

  private def awaitCancelLogged(srv: MiniPgServer, from: Int): Seq[String] = {
    // the cancel connection is served on its own thread — poll briefly
    val deadline = System.nanoTime() + 5_000_000_000L
    while (System.nanoTime() < deadline) {
      val cancels = srv.eventLog.drop(from).filter(_.startsWith("CANCEL"))
      if (cancels.nonEmpty) return cancels
      Thread.sleep(20)
    }
    srv.eventLog.drop(from).filter(_.startsWith("CANCEL"))
  }

  test("cancel(): fires a CancelRequest carrying the session's BackendKeyData") {
    val srv = new MiniPgServer
    srv.queryExecutor = _ => Some(MiniPgServer.QueryResult(
      Seq(("n", PgWire.Oid.Int4)), (1 to 50).map(i => Seq(Some(i.toString)))))
    srv.rowDelayMs = 5 // a deliberately slow query
    try {
      val session = new PgWire.Session("127.0.0.1", srv.port, "testdb", "graft")
      val before = srv.eventLog.size
      val it = session.queryStream("SELECT slow")(_ => ())
      assert(it.hasNext) // at least one row arrived; the query is running
      session.cancel()   // the side-channel, while the stream is mid-flight
      val cancels = awaitCancelLogged(srv, before)
      assert(cancels.nonEmpty, s"no CancelRequest logged: ${srv.eventLog}")
      assert(cancels.head.contains("MATCH"),
        s"cancel must echo the BackendKeyData secret: ${cancels.head}")
      session.close()
    } finally srv.stop()
  }

  test("a task abandoning the stream cancels server-side; a drained task does not") {
    val spark = TestSpark.spark
    SparkSession.setActiveSession(spark)
    val srv = new MiniPgServer
    val schema = StructType(Seq(StructField("n", IntegerType)))
    // the read's LIMIT-0 probe, then its binary COPY of 200 rows
    srv.queryExecutor = _ => Some(MiniPgServer.QueryResult(Seq(("n", PgWire.Oid.Int4)), Nil))
    srv.copyOutExecutor = _ => Some(graft.sources.PgCopyEncoder.bytes(
      (1 to 200).map(i => org.apache.spark.sql.Row(i)), schema))
    try {
      val backend = PgWireBackend.forAddress(s"127.0.0.1:${srv.port}/testdb")
      // drained: full collect → NO cancel
      val before1 = srv.eventLog.size
      val all = backend.executeSqlsToRdd(Seq("SELECT all_rows"), schema).collect()
      assert(all.length == 200)
      assert(srv.eventLog.drop(before1).exists(_.startsWith("COPY (SELECT all_rows)")))
      Thread.sleep(100)
      assert(!srv.eventLog.drop(before1).exists(_.startsWith("CANCEL")),
        "a fully-drained stream must not fire a cancel")
      // abandoned: take(1) ends the task mid-stream → CancelRequest
      val before2 = srv.eventLog.size
      val one = backend.executeSqlsToRdd(Seq("SELECT all_rows"), schema).take(1)
      assert(one.length == 1)
      val cancels = awaitCancelLogged(srv, before2)
      assert(cancels.nonEmpty && cancels.head.contains("MATCH"),
        s"abandoned stream must cancel server-side: ${srv.eventLog.drop(before2)}")
    } finally srv.stop()
  }
}
