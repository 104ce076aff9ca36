package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import graft.sources.{PgCopyDecoder, PgWire}

/** Splits each federated query's fetch into backend, wire and decode time
  * by replaying the SQL the plan pushed to Postgres, piece by piece:
  *  - backend: the pushed SQL under `EXPLAIN (ANALYZE, TIMING OFF)` (planning +
  *    execution time as Postgres reports them);
  *  - wire: `PgWire.Session.copyOut` of the binary COPY, drained without
  *    decoding, minus the backend time;
  *  - decode: `PgCopyDecoder.rows` over the captured bytes. */
object FederationProbe {
  private val ExecTime = "\"Execution Time\":\\s*([0-9.]+)".r
  private val PlanTime = "\"Planning Time\":\\s*([0-9.]+)".r

  /** `host:port/database?user=name` */
  def parse(address: String): (String, Int, String, String) = {
    val Array(base, query) = address.split("\\?", 2)
    val Array(hostPort, db) = base.split("/", 2)
    val Array(host, port) = hostPort.split(":", 2)
    (host, port.toInt, db, query.stripPrefix("user="))
  }

  def withSession[A](address: String)(f: PgWire.Session => A): A = {
    val (h, p, d, u) = parse(address)
    PgWire.withSession(h, p, d, u)(f)
  }

  /** `pg_stat_database.sessions` of the benchmark database. */
  def sessions(address: String): Long = withSession(address) { s =>
    s.query("SELECT sessions FROM pg_stat_database WHERE datname = current_database()")
      ._2.head.head.get.toLong
  }

  def run(r: Harness.Run): Unit = {
    val address = r.pg.get
    val perQuery = r.shapes.toSeq.sortBy(_._1).map { case (name, shape) =>
      var backend, wire, decode, firstRow = 0.0
      var bytes, fetched = 0L
      shape.pushed.foreach { case (sql, schema) =>
        withSession(address) { s =>
          r.tracer.span("sources.backend_exec") {
            val plan = s.query(s"EXPLAIN (ANALYZE, TIMING OFF, FORMAT JSON) $sql")._2
              .flatMap(_.head).mkString("\n")
            backend += Seq(ExecTime, PlanTime).flatMap(
              _.findFirstMatchIn(plan).map(_.group(1).toDouble / 1e3)).sum
          }
          val buf = new ByteArrayOutputStream()
          val (t0, t1, t2) = r.tracer.span("sources.wire") {
            val t0 = System.nanoTime()
            val in = s.copyOut(s"COPY ($sql) TO STDOUT (FORMAT binary)")
            val chunk = new Array[Byte](1 << 16)
            var n = in.read(chunk)
            val t1 = System.nanoTime()
            while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
            (t0, t1, System.nanoTime())
          }
          firstRow += (t1 - t0) / 1e9
          wire += (t2 - t0) / 1e9
          bytes += buf.size()
          val captured = buf.toByteArray
          val t3 = System.nanoTime()
          r.tracer.span("sources.decode") {
            val it = PgCopyDecoder.rows(new ByteArrayInputStream(captured), schema)
            while (it.hasNext) { it.next(); fetched += 1 }
          }
          decode += (System.nanoTime() - t3) / 1e9
        }
      }
      name -> Map("backend_exec_s" -> backend,
        "wire_s" -> math.max(wire - backend, 0.0), "decode_s" -> decode,
        "first_row_s" -> firstRow, "wire_bytes" -> bytes,
        "rows_fetched" -> fetched, "pushed_queries" -> shape.pushed.size)
    }
    r.probes("federation") = perQuery.toMap
  }
}
