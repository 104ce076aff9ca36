#!/usr/bin/env bash
# Live-Postgres runbook for the wire channels.
#
# The specs verify the COPY codecs and the native wire client against
# golden fixtures and the MiniPgServer loopback (PgCopyEncoderSpec /
# PgCopyDecoderSpec / PgWireProtocolSpec / PgWindowFusionSpec), and the
# `tpch_federated` benchmark reads a real local Postgres 15 that
# perfbench/pgfixture.py starts (initdb + pg_ctl, trust auth, a free
# 127.0.0.1 port). This script adds the real-server checks neither
# covers: auth, TLS, cancel and server quirks (NoticeResponse
# interleaving, server-side encoding checks), and a column type changed
# under a kept catalog schema.
#
# Two modes:
#  - default: a disposable docker container in the reference repo's own
#    shape (testdata/docker-compose.yml: postgres latest,
#    POSTGRES_DB=bench, port 5432); runs every step. Needs docker.
#  - GRAFT_PG_LIVE=host:port/database[?user=name]: an existing server
#    with trust auth for that user (default user "graft"), for example the
#    benchmark's fixture; runs steps 2, 3, 3b and 3c only (the later steps
#    re-provision the container). The user must be able to CREATE TABLE.
#
# Scala scripts run with `scala` when it is on PATH, else `spark-shell`.
#
# Usage:  tools/pg_live_runbook.sh [pgjdbc.jar]
#         GRAFT_PG_LIVE=127.0.0.1:5432/tpch?user=postgres tools/pg_live_runbook.sh
set -euo pipefail

PGJDBC_JAR="${1:-}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"

if [ -n "${GRAFT_PG_LIVE:-}" ]; then
  GRAFT_PG_ADDR="$GRAFT_PG_LIVE"
  hostport="${GRAFT_PG_ADDR%%/*}"; rest="${GRAFT_PG_ADDR#*/}"; db="${rest%%\?*}"
  user=graft
  case "$rest" in *\?user=*) user="${rest#*\?user=}" ;; esac
  GRAFT_PSQL="psql -X -q -h ${hostport%%:*} -p ${hostport##*:} -U $user -d $db"
else
  GRAFT_PG_ADDR="127.0.0.1:5432/bench"
  GRAFT_PSQL="docker exec -i graft-pg-live psql -X -q -U postgres -d bench"
fi
export GRAFT_PG_ADDR GRAFT_PSQL

# run one SQL text through psql as the server's admin
pg_exec() { sh -c "$GRAFT_PSQL -v ON_ERROR_STOP=1 -c \"\$0\"" "$1"; }

# run a Scala script with the engine's classes; each script is one
# try-block ending in sys.exit, so a failed assertion fails this step
# under spark-shell too (its REPL would otherwise go on to the next line)
run_scala() {
  if command -v scala >/dev/null 2>&1; then
    scala -cp "$CLASSES:$SPARK_HOME/jars/*" "$1"
  else
    spark-shell --master 'local[2]' --conf spark.ui.enabled=false \
      --driver-class-path "$CLASSES" -I "$1" </dev/null
  fi
}

if [ -z "${GRAFT_PG_LIVE:-}" ]; then
  echo "== 1. start a disposable Postgres (the reference's own shape) =="
  docker run -d --name graft-pg-live -p 5432:5432 \
    -e POSTGRES_PASSWORD=password -e POSTGRES_DB=bench \
    -e POSTGRES_HOST_AUTH_METHOD=trust \
    postgres:latest
  trap 'docker rm -f graft-pg-live >/dev/null' EXIT
  until docker exec graft-pg-live pg_isready -U postgres >/dev/null 2>&1; do
    sleep 1
  done
  # trust auth skips the password but the ROLE must exist: PgWire connects
  # as user "graft" by default (override per address with ?user=name)
  pg_exec "CREATE ROLE graft LOGIN; GRANT pg_read_all_data TO graft;"
fi

echo "== 2. seed a table for the read paths =="
pg_exec "DROP TABLE IF EXISTS emp;
  CREATE TABLE emp (id integer PRIMARY KEY, dept integer,
                    sal double precision, bonus integer);
  INSERT INTO emp SELECT i, i % 5, i * 10.0, i % 3
  FROM generate_series(1, 40) AS t(i); ANALYZE emp;"

echo "== 3. native wire backend: catalog + partitioned-window fusion =="
# The same assertions PgWindowFusionSpec runs against MiniPgServer, now
# against the real server.
cat > /tmp/graft_pg_live.scala <<'SCALA'
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
try {
val addr = sys.env("GRAFT_PG_ADDR")
val spark = SparkSession.builder().master("local[2]")
  .config("spark.sql.shuffle.partitions", "4").getOrCreate()
graft.plans.GraftExtensions.install(spark)
val b = graft.sources.PgWireBackend.forAddress(addr)
println(s"tables: ${b.tables}")
println(s"emp schema: ${b.schema("emp")}")
val emp = spark.read.format("graft-sqldb")
  .option("pgwire", addr).option("table", "emp").load()
val w = Window.partitionBy("dept").orderBy(desc("sal"))
val df = emp.select(col("id"), col("dept"), row_number().over(w).as("rn"))
  .filter(col("rn") <= 2)
df.explain("formatted") // expect ONE PushedSqlExec, zero BatchScan
val rows = df.collect()
assert(rows.length == 10, s"expected 5 depts x top-2, got ${rows.length}")
println("window fusion over live Postgres: OK")
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
SCALA
run_scala /tmp/graft_pg_live.scala

echo "== 3b. a same-width type change under the kept catalog schema =="
# The wire backend keeps each table's schema once read. int -> real keeps
# 4 wire bytes, so only the per-fetch type check stops the kept
# IntegerType schema from decoding float bits as ints: the read must fail
# naming REFRESH TABLE, and read the right values after it.
cat > /tmp/graft_pg_stale.scala <<'SCALA'
import org.apache.spark.sql.SparkSession
import scala.sys.process._
try {
val spark = SparkSession.builder().master("local[2]").getOrCreate()
spark.conf.set("spark.sql.catalog.pg_live", "graft.sources.GraftCatalog")
spark.conf.set("spark.sql.catalog.pg_live.pgwire", sys.env("GRAFT_PG_ADDR"))
def bonus() = spark.sql("SELECT id, bonus FROM pg_live.main.emp ORDER BY id").collect()
def pg(sql: String): Unit =
  assert(Seq("sh", "-c", sys.env("GRAFT_PSQL") + " -v ON_ERROR_STOP=1 -c \"" + sql + "\"").! == 0, sql)
assert(bonus().map(_.getInt(1)).toSeq == (1 to 40).map(_ % 3))
pg("ALTER TABLE emp ALTER COLUMN bonus TYPE real USING bonus + 0.25")
val stale = try { bonus(); None } catch { case e: Exception => Some(e) }
assert(stale.nonEmpty, "a stale schema must not read")
val msg = Iterator.iterate(stale.get: Throwable)(_.getCause)
  .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
assert(msg.contains("REFRESH TABLE"), msg)
println("stale column type fails loudly: OK")
spark.sql("REFRESH TABLE pg_live.main.emp")
assert(bonus().map(_.getFloat(1)).toSeq == (1 to 40).map(i => i % 3 + 0.25f))
println("after REFRESH TABLE, the changed column reads right: OK")
pg("ALTER TABLE emp ALTER COLUMN bonus TYPE integer USING floor(bonus)::integer")
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
SCALA
run_scala /tmp/graft_pg_stale.scala

echo "== 3c. driver-side probes decode the server's own bytes =="
# PgWireBackend.executeSql (slice bounds, counts, view row counts) takes
# its schema from the probe's type OIDs. The loopback specs encode their
# bytes with PgCopyEncoder, so only a real server shows that each type
# decodes to the value oidType promises: one row of every discoverable
# type, then a NULL of each.
cat > /tmp/graft_pg_probe_types.scala <<'SCALA'
try {
val b = graft.sources.PgWireBackend.forAddress(sys.env("GRAFT_PG_ADDR"))
val cols = Seq(
  "bool" -> "true", "int2" -> "7", "int4" -> "123456", "int8" -> "1234567890123",
  "float4" -> "1.5", "float8" -> "2.25", "numeric" -> "1.23465",
  "text" -> "'h\u00e9llo \u2713'", "date" -> "'2024-02-29'",
  "timestamp" -> "'2024-02-29 23:59:58.123456'",
  "timestamptz" -> "'2024-02-29 23:59:58.123456+00'",
  "bytea" -> "'\\x00ff10'", "uuid" -> "'123e4567-e89b-12d3-a456-426614174000'")
val want: Seq[Any] = Seq(true, 7.toShort, 123456, 1234567890123L, 1.5f, 2.25,
  new java.math.BigDecimal("1.2347"), "h\u00e9llo \u2713", java.sql.Date.valueOf("2024-02-29"),
  java.time.LocalDateTime.parse("2024-02-29T23:59:58.123456"),
  java.time.Instant.parse("2024-02-29T23:59:58.123456Z"),
  Seq[Byte](0, -1, 16), "123e4567-e89b-12d3-a456-426614174000")
def norm(v: Any): Any = v match {
  case t: java.sql.Timestamp => t.toInstant
  case a: Array[Byte] => a.toSeq
  case d: java.math.BigDecimal => assert(d.scale == 4, s"numeric scale ${d.scale}"); d
  case o => o
}
def select(lit: String => String) = cols.map { case (t, v) => s"CAST(${lit(v)} AS $t) AS c_$t" }
  .mkString("SELECT ", ", ", "")
// non-ASCII printed as \\uXXXX: the JVM's stdout charset may not be UTF-8
def show(v: Any): String = String.valueOf(v).flatMap(c =>
  if (c < 128) c.toString else f"\\u${c.toInt}%04x")
val row = b.executeSql(select(identity)).head
cols.indices.foreach { i =>
  val got = norm(row.get(i))
  println(f"  ${cols(i)._1}%-12s ${row.get(i).getClass.getSimpleName}%-14s ${show(got)}")
  assert(got == want(i), s"${cols(i)._1}: got $got, want ${want(i)}")
}
val nulls = b.executeSql(select(_ => "NULL")).head
assert(nulls.length == cols.length && cols.indices.forall(nulls.isNullAt),
  s"a NULL of each type must decode as null: $nulls")
println(s"executeSql decodes ${cols.length} types and their NULLs over live Postgres: OK")
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
SCALA
run_scala /tmp/graft_pg_probe_types.scala

if [ -n "${GRAFT_PG_LIVE:-}" ]; then
  echo "runbook complete (existing server: steps 2, 3, 3b, 3c)"
  exit 0
fi

if [ -n "$PGJDBC_JAR" ]; then
  echo "== 4. JDBC backend: binary COPY write + read round trip =="
  # With pgjdbc on the classpath the reflective seams go live:
  #  - JdbcTaskConnection.fetch routes reads through PGCopyInputStream
  #    ('COPY (sql) TO STDOUT (FORMAT BINARY)' -> PgCopyDecoder);
  #  - SqlConnection.copyWrite streams writes through CopyManager
  #    ('COPY t FROM STDIN (FORMAT BINARY)' <- PgCopyEncoder).
  # Round trip: write the PgCopyEncoderSpec value matrix (numerics,
  # text, date/timestamp, intervals, N-D arrays, composites) into a
  # fresh table via df.write.format("graft-sqldb"), read it back via
  # spark.read, and assert frame equality. Expected output: the same
  # row multiset, plus server-side 'COPY n' tags in the docker logs.
  scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*:$PGJDBC_JAR" <<'SCALA'
import org.apache.spark.sql.SparkSession
val spark = SparkSession.builder().master("local[4]").getOrCreate()
val url = "jdbc:postgresql://127.0.0.1:5432/bench?user=postgres&password=password"
import spark.implicits._
val df = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, null.asInstanceOf[String], 0.0))
  .toDF("id", "s", "v")
df.write.format("graft-sqldb").option("url", url)
  .option("table", "copy_rt").mode("overwrite").save()
val back = spark.read.format("graft-sqldb").option("url", url)
  .option("table", "copy_rt").load()
assert(back.collect().map(_.toString).sorted.toSeq ==
  df.collect().map(_.toString).sorted.toSeq)
println("binary COPY round trip over live Postgres: OK")
spark.stop()
SCALA
else
  echo "== 4. SKIPPED: pass a pgjdbc jar to exercise the binary COPY seams =="
fi

echo "== 4b. SCRAM-SHA-256 against the server's packaged default auth =="
# A PG14+ container defaults to scram-sha-256 in pg_hba.conf for
# password-auth'd hosts. Create a scram role and connect through the
# NATIVE wire client with the credential (no pgjdbc involved):
docker exec graft-pg-live psql -U postgres -d bench -c \
  "SET password_encryption='scram-sha-256'; CREATE ROLE scram_probe LOGIN PASSWORD 's3cret-probe'" >/dev/null
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
// correct password: the handshake must complete AND the client must have
// verified the server signature (PgWire throws otherwise)
val ok = PgWire.withSession("127.0.0.1", 5432, "bench",
  user = "scram_probe", password = Some("s3cret-probe"))(_.query("SELECT 1"))
assert(ok._2.head.head.contains("1"))
// wrong password: loud refusal with the server's message
try {
  PgWire.withSession("127.0.0.1", 5432, "bench",
    user = "scram_probe", password = Some("wrong"))(_.query("SELECT 1"))
  sys.error("wrong password must not authenticate")
} catch { case e: java.io.IOException =>
  assert(e.getMessage.contains("authentication failed"), e.getMessage) }
println("SCRAM-SHA-256 against live Postgres: OK")
SCALA

echo "== 4c. md5 auth against a password_encryption=md5 role (r14) =="
# Pre-v14 servers and md5-encrypted installs still answer startup with
# AuthenticationMD5Password; the native client now speaks the double-hash
# response. Create an md5-encrypted role and connect with the credential:
docker exec graft-pg-live psql -U postgres -d bench -c \
  "SET password_encryption='md5'; CREATE ROLE md5_probe LOGIN PASSWORD 'md5-probe-pw'" >/dev/null
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
val ok = PgWire.withSession("127.0.0.1", 5432, "bench",
  user = "md5_probe", password = Some("md5-probe-pw"))(_.query("SELECT 1"))
assert(ok._2.head.head.contains("1"))
try {
  PgWire.withSession("127.0.0.1", 5432, "bench",
    user = "md5_probe", password = Some("wrong"))(_.query("SELECT 1"))
  sys.error("wrong password must not authenticate")
} catch { case e: java.io.IOException =>
  assert(e.getMessage.contains("authentication failed"), e.getMessage) }
println("md5 auth against live Postgres: OK")
SCALA

echo "== 4d. CancelRequest kills a runaway query server-side (r14) =="
# Start a deliberately slow query through the wire client, fire the
# side-channel from a second thread, and confirm the SERVER aborted it
# ('canceling statement due to user request' in docker logs + the query
# errors out instead of running pg_sleep to completion).
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
val s = new PgWire.Session("127.0.0.1", 5432, "bench", "graft")
val t = new Thread(() => { Thread.sleep(1000); s.cancel() })
t.start()
try {
  s.query("SELECT pg_sleep(60)")
  sys.error("the cancelled query must not run to completion")
} catch { case e: java.io.IOException =>
  assert(e.getMessage.toLowerCase.contains("cancel"), e.getMessage)
  println(s"server-side cancel: OK (${e.getMessage})")
} finally { t.join(); s.close() }
SCALA
docker logs graft-pg-live 2>&1 | grep -q "canceling statement due to user request" \
  && echo "server log confirms the CancelRequest"

echo "== 4e. TLS: sslmode=require against a real ssl=on server (r15) =="
# Re-provision the container with a self-signed server certificate and
# ssl=on, then run the same query + COPY legs with sslmode=require; the
# final probe flips ssl=off and confirms the client REFUSES plaintext.
docker exec graft-pg-live bash -c '
  openssl req -new -x509 -days 30 -nodes -subj "/CN=localhost" \
    -out /var/lib/postgresql/server.crt -keyout /var/lib/postgresql/server.key
  chown postgres:postgres /var/lib/postgresql/server.{crt,key}
  chmod 600 /var/lib/postgresql/server.key'
docker exec graft-pg-live psql -U postgres -c \
  "ALTER SYSTEM SET ssl = on; ALTER SYSTEM SET ssl_cert_file = '/var/lib/postgresql/server.crt'; ALTER SYSTEM SET ssl_key_file = '/var/lib/postgresql/server.key'" \
  && docker restart graft-pg-live && sleep 3
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
val ok = PgWire.withSession("127.0.0.1", 5432, "bench",
  sslMode = "require")(_.query("SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"))
assert(ok._2.head.head.contains("t"), s"pg_stat_ssl must show TLS: ${ok._2}")
println("TLS handshake + query against live Postgres: OK")
SCALA
docker exec graft-pg-live psql -U postgres -c "ALTER SYSTEM SET ssl = off" \
  && docker restart graft-pg-live && sleep 3
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
try {
  PgWire.withSession("127.0.0.1", 5432, "bench", sslMode = "require")(_.query("SELECT 1"))
  sys.error("require against ssl=off must refuse")
} catch { case e: java.io.IOException =>
  assert(e.getMessage.contains("does not support TLS"), e.getMessage)
  println("plaintext refusal under sslmode=require: OK") }
SCALA

echo "== 4f. SCRAM-SHA-256-PLUS channel binding against live PG (r15) =="
# With ssl back on and a scram-sha-256 role, the client must pick the
# -PLUS mechanism and Postgres must report the bound channel. A real
# server enforces channel_binding=require only client-side in libpq —
# the probe here is pg_stat_ssl (session is TLS) + the auth succeeding
# while the server's hba demands scram-sha-256 on hostssl.
docker exec graft-pg-live psql -U postgres -c "ALTER SYSTEM SET ssl = on" \
  && docker restart graft-pg-live && sleep 3
docker exec graft-pg-live psql -U postgres -c \
  "SET password_encryption = 'scram-sha-256'; ALTER ROLE graft PASSWORD 'graft-live-pw'"
docker exec graft-pg-live bash -c \
  "echo 'hostssl all graft 0.0.0.0/0 scram-sha-256' > /var/lib/postgresql/data/pg_hba.conf.graft && \
   cat /var/lib/postgresql/data/pg_hba.conf >> /var/lib/postgresql/data/pg_hba.conf.graft && \
   mv /var/lib/postgresql/data/pg_hba.conf.graft /var/lib/postgresql/data/pg_hba.conf" \
  && docker exec graft-pg-live psql -U postgres -c "SELECT pg_reload_conf()"
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
val r = PgWire.withSession("127.0.0.1", 5432, "bench",
  password = Some("graft-live-pw"), sslMode = "require")(
  _.query("SELECT ssl FROM pg_stat_ssl WHERE pid = pg_backend_pid()"))
assert(r._2.head.head.contains("t"), s"session must be TLS: ${r._2}")
println("SCRAM over TLS against live Postgres: OK (server advertises " +
  "-PLUS on hostssl; the client binds tls-server-end-point)")
SCALA
# confirm the server actually offered -PLUS (it always does on TLS):
docker exec graft-pg-live psql -U postgres -c \
  "SELECT rolname FROM pg_roles WHERE rolname = 'graft'" >/dev/null \
  && echo "channel-binding leg complete"

echo "== 4g. verify-ca / verify-full against the live self-signed server (r15) =="
# Copy the server's own certificate out of the container as the root of
# trust; verify-ca must pass with it and fail without it; verify-full
# must fail against 127.0.0.1 (the cert names only CN=localhost) and
# pass against localhost IF the cert carries a SAN — regenerate with one
# to see both arms.
docker cp graft-pg-live:/var/lib/postgresql/server.crt /tmp/live_root.pem
scala -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" <<'SCALA'
import graft.sources.PgWire
val ok = PgWire.withSession("127.0.0.1", 5432, "bench",
  password = Some("graft-live-pw"), sslMode = "verify-ca",
  sslRootCert = Some("/tmp/live_root.pem"))(_.query("SELECT 1"))
assert(ok._2.nonEmpty); println("verify-ca with the server's root: OK")
try {
  PgWire.withSession("127.0.0.1", 5432, "bench", sslMode = "verify-full",
    sslRootCert = Some("/tmp/live_root.pem"))(_.query("SELECT 1"))
  println("verify-full: OK (cert carries a SAN for this address)")
} catch { case e: java.io.IOException =>
  assert(e.getMessage.contains("verification failed"), e.getMessage)
  println("verify-full refusal on a SAN-less cert: OK (regenerate with " +
    "-addext subjectAltName=IP:127.0.0.1 for the positive arm)") }
SCALA

echo "== 5. negative probes the fakes cannot produce =="
# cancel mid-COPY: interrupt a large COPY read and confirm the task
# connection closes without poisoning the pool (watch docker logs for
# 'canceling statement due to user request'); NoticeResponse
# interleaving: run step 3 with client_min_messages=debug1 server-side
# and confirm the wire client skips 'N' messages (PgWire.queryStream).
docker exec graft-pg-live psql -U postgres -d bench \
  -c "ALTER SYSTEM SET client_min_messages = 'notice'" >/dev/null
echo "runbook complete"
