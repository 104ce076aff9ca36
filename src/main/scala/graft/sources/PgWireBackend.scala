package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.plans.SqlGen.Dialect

/** Native Postgres-wire backend: the [[SqlBackend]] that talks v3
  * protocol directly through [[PgWire]] — no JDBC driver. This is the
  * architecture of the reference engine itself, which spawns its own
  * Postgres connections (`/root/reference/src/sqldb/postgres/mod.rs:133-168`)
  * and reads the catalog with hand-written information_schema SQL
  * (`mod.rs:67-125`); the JDBC backend is the driver-portable
  * alternative, this one is the Postgres-exact path and the one a
  * no-extra-jars deployment uses.
  *
  * Read-only by design: the write tier (INSERT streaming, binary COPY,
  * MERGE) lives on the JDBC backend where transactions are managed; a
  * wire-native write path would re-implement that machinery for no
  * pushdown gain. Everything the READ surface negotiates — scan-level
  * pushdown, partitioned parallel fetch, whole-plan fusion including
  * partitioned windows (`supportsWindowFunctions` on
  * [[PostgresDialect]]) — works over this backend and is protocol-tested
  * against the loopback server in `PgWindowFusionSpec`.
  *
  * Scale shape: `fetch` opens its socket ON THE TASK and streams binary
  * COPY through [[PgCopyDecoder]], so result size is bounded by executor
  * memory (the same executor-side model as `JdbcTaskConnection`); the
  * driver only ever runs scalar planning probes, read the same way.
  * Every typed value this backend returns is decoded by
  * [[PgCopyDecoder]]; only the catalog reads take simple-query text.
  *
  * Catalog: the table list, each table's columns and its row-count
  * estimate are read once and kept for the backend's lifetime, as the
  * reference's `load_catalog` reads information_schema once at start, so
  * analysing a query resolves its tables without a wire round trip. Only
  * fetches, planning probes and re-discovery open sessions (one each; the
  * protocol is one-query-in-flight, and a pooled deployment would wrap
  * `PgWire.withSession`). Staleness contract: a table created after
  * discovery resolves on its first reference ([[tableExists]] re-reads the
  * list once on a miss); a changed column needs [[refresh]] (`REFRESH
  * TABLE`, or `SHOW TABLES`); a column whose wire type no longer matches
  * the kept schema fails the read loudly
  * ([[PgWireTaskConnection.checkWireTypes]]) instead of decoding wrong
  * values. */
object PgWireBackend {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, PgWireBackend]()

  /** `address` = "host:port/database[?user=name]" (user defaults to
    * "graft"; trust auth still requires the ROLE to exist server-side —
    * see tools/pg_live_runbook.sh). One backend per address, so every
    * table of one database shares a backend identity (the pushdown
    * rule's same-backend fusion check is reference equality). */
  def forAddress(address: String): PgWireBackend =
    cache.computeIfAbsent(address, a => new PgWireBackend(a))

  private[sources] def parse(address: String): (String, Int, String, String) = {
    val (base, user) = address.split("\\?", 2) match {
      case Array(b, q) => q.split("=", 2) match {
        case Array("user", u) if u.nonEmpty => (b, u)
        case _ => throw new IllegalArgumentException(
          s"pgwire address query part must be ?user=<name>, got: $address")
      }
      case Array(b) => (b, "graft")
    }
    base.split("/", 2) match {
      case Array(hp, db) => hp.split(":", 2) match {
        case Array(h, p) => (h, p.toInt, db, user)
        case _ => throw new IllegalArgumentException(
          s"pgwire address must be host:port/database[?user=name], got: $address")
      }
      case _ => throw new IllegalArgumentException(
        s"pgwire address must be host:port/database[?user=name], got: $address")
    }
  }

  /** information_schema `data_type` → Spark type. Same conversion table
    * as the reference (`datatypes.rs:141-176`) with the JdbcBackend's
    * documented divergences (uuid → String, interval/exotics → loud
    * decline); unconstrained NUMERIC defaults to Decimal(38,4) like the
    * reference's `datatypes.rs:160-162`. */
  private[graft] def sparkType(dataType: String, precision: Option[Int],
      scale: Option[Int]): DataType = dataType.toLowerCase match {
    case "boolean" => BooleanType
    case "smallint" => ShortType
    case "integer" => IntegerType
    case "bigint" => LongType
    case "real" => FloatType
    case "double precision" => DoubleType
    case "numeric" | "decimal" => (precision, scale) match {
      case (Some(p), Some(s))
          if p >= 1 && p <= DecimalType.MAX_PRECISION && s >= 0 && s <= p =>
        DecimalType(p, s)
      case _ => DecimalType(38, 4)
    }
    case "text" | "character varying" | "character" | "uuid" => StringType
    case "date" => DateType
    case "timestamp without time zone" => TimestampNTZType
    case "timestamp with time zone" => TimestampType
    case "bytea" => BinaryType
    case other => throw new IllegalArgumentException(
      s"pgwire: unmapped information_schema type '$other' — project it " +
        "away or cast it backend-side")
  }

  /** RowDescription type OID → Spark type, for queries whose schema the
    * caller didn't impose (driver-side probes). */
  private[graft] def oidType(oid: Int): DataType = {
    import PgWire.Oid._
    oid match {
      case Bool => BooleanType
      case Int2 => ShortType
      case Int4 => IntegerType
      case Int8 => LongType
      case Float4 => FloatType
      case Float8 => DoubleType
      case Numeric => DecimalType(38, 4)
      case Text | Varchar | Bpchar | Uuid => StringType
      case Date => DateType
      case Timestamp => TimestampNTZType
      case Timestamptz => TimestampType
      case Bytea => BinaryType
      case other => throw new IllegalArgumentException(
        s"pgwire: unmapped result type oid $other")
    }
  }
}

class PgWireBackend private (val address: String) extends SqlBackend {
  import PgWireBackend._

  private val (host, port, database, user) = PgWireBackend.parse(address)

  override def name: String = s"pgwire://$address"
  override def dialect: Dialect = PostgresDialect

  private def withSession[A](f: PgWire.Session => A): A =
    PgWire.withSession(host, port, database, user, PgWire.configuredPassword)(f)

  /** Catalog reads (information_schema, pg_class): raw text cells over one
    * simple query; typed values go through [[executeSql]]. */
  private def q(sql: String): (Seq[PgWire.Field], Vector[Array[Option[String]]]) =
    withSession(_.query(sql))

  /** Discovery-time table list; null until read, and again after
    * [[refresh]]. */
  @transient private lazy val tableList =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]]()
  @transient private lazy val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Catalog discovery via hand-written information_schema SQL — the
    * reference's own approach (`mod.rs:67-125`); the JDBC backend's
    * DatabaseMetaData portability layer doesn't exist on a raw wire. */
  private def discoverTables(): Seq[String] = {
    val names = q("""SELECT "table_name" FROM "information_schema"."tables" WHERE "table_schema" = 'public' ORDER BY "table_name"""")
      ._2.flatMap(_.head).toSeq
    tableList.set(names)
    names
  }

  override def tables: Seq[String] =
    Option(tableList.get).getOrElse(discoverTables())

  /** A miss re-reads the list once, so a table created after discovery
    * resolves on its first reference. */
  override def tableExists(table: String): Boolean = {
    val known = tableList.get
    (known != null && known.contains(table)) || discoverTables().contains(table)
  }

  override def schema(table: String): StructType =
    schemaCache.computeIfAbsent(table, t => {
      val lit = t.replace("'", "''")
      val rows = q(
        s"""SELECT "column_name", "data_type", "numeric_precision", "numeric_scale", "is_nullable", "ordinal_position"
           |FROM "information_schema"."columns" WHERE "table_schema" = 'public' AND "table_name" = '$lit'
           |ORDER BY "ordinal_position"""".stripMargin)._2
      require(rows.nonEmpty, s"no such table in $name: $t")
      StructType(rows.map { r =>
        StructField(r(0).get,
          sparkType(r(1).get, r(2).map(_.toInt), r(3).map(_.toInt)),
          nullable = !r(4).contains("NO"))
      }.toSeq)
    })

  /** Planner-stats estimate from pg_class.reltuples — metadata, not a
    * scan; -1 means never analyzed (no stats). Kept per table like the
    * schema (the same staleness tradeoff as SparkViewBackend.rowCounts):
    * the optimizer consults this once per graft leaf per subtree level,
    * and an unmemoized lookup would pay a synchronous wire round-trip at
    * every one of them. */
  @transient private lazy val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Long]]()
  override def estimatedRowCount(table: String): Option[Long] =
    rowCountCache.computeIfAbsent(table, t =>
      try {
        val lit = t.replace("'", "''")
        q(s"""SELECT "reltuples" FROM "pg_class" WHERE "relname" = '$lit'""")
          ._2.headOption.flatMap(_.head).map(_.toDouble.toLong).filter(_ >= 0)
      } catch { case _: Exception => None }) // no pg_catalog on minimal fakes

  override def refresh(): Unit = {
    tableList.set(null)
    schemaCache.clear()
    rowCountCache.clear()
  }

  /** Driver-side probes (slice bounds, counts, view row counts) read the
    * way a task fetch does, on one session: the schema comes from the
    * LIMIT-0 probe's type OIDs ([[oidType]]). */
  override def executeSql(sql: String): Seq[Row] =
    withSession(PgWireTaskConnection.copyRead(_, sql, None).toVector)

  override def connection: SqlConnection = PgWireTaskConnection(address)
}

/** Task-side wire connection: `fetch` opens a socket ON THE TASK and reads
  * via `COPY (sql) TO STDOUT (FORMAT binary)` decoded straight through
  * [[PgCopyDecoder]]: the reference's core read architecture
  * (`binary_reader.rs:24-209` + `mod.rs:133-168`), with no per-value text
  * parse and exact float/numeric round-trips. The session closes with the
  * stream's end or the task, whichever comes first, so partial reads under
  * a Spark-side limit don't leak sockets. */
case class PgWireTaskConnection(address: String) extends SqlConnection {
  override def fetch(id: Long, sql: String, schema: StructType): Iterator[Row] = {
    val (host, port, db, user) = PgWireBackend.parse(address)
    val session = new PgWire.Session(host, port, db, user,
      PgWire.configuredPassword)
    val exhausted = new java.util.concurrent.atomic.AtomicBoolean(false)
    // task end with the stream NOT drained = kill / timeout / abandoning
    // limit: fire the protocol's CancelRequest side-channel so the server
    // stops executing the (possibly fused) query, THEN close the socket —
    // close alone leaves a runaway query running until its next write
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit] { _ =>
        if (!exhausted.get()) session.cancel()
        session.close()
      })
    val rows = PgWireTaskConnection.copyRead(session, sql, Some(schema))
    new Iterator[Row] {
      override def hasNext: Boolean = {
        val h = rows.hasNext
        if (!h && exhausted.compareAndSet(false, true)) session.close()
        h
      }
      override def next(): Row = rows.next()
    }
  }
}

object PgWireTaskConnection {
  /** Binary COPY read of `sql` on an open session. A LIMIT-0
    * RowDescription probe on the same session runs first: it gives the
    * result schema when the caller imposes none ([[PgWireBackend.oidType]]),
    * checks the result's width and each column's type OID against an
    * imposed one ([[checkWireTypes]]), and names the uuid columns, which
    * are StringType Spark-side but ship as 16 raw bytes (like the JDBC
    * path's Describe probe). */
  private[sources] def copyRead(session: PgWire.Session, sql: String,
      expected: Option[StructType]): Iterator[Row] = {
    val fs = session.fields(s"""SELECT * FROM ($sql) "__graft_probe" LIMIT 0""")
    val schema = expected match {
      case Some(s) => checkWireTypes(fs, s, sql); s
      case None => StructType(fs.map(f =>
        StructField(f.name, PgWireBackend.oidType(f.typeOid))))
    }
    val uuidCols = fs.iterator.zip(schema.fields.iterator).collect {
      case (f, sf) if f.typeOid == PgWire.Oid.Uuid => sf.name
    }.toSet
    PgCopyDecoder.rows(session.copyOut(s"COPY ($sql) TO STDOUT (FORMAT binary)"),
      schema, uuidCols)
  }

  /** The RowDescription type OIDs that the [[PgCopyDecoder]] reader of a
    * Spark type decodes; None for types with no entry (arrays, records,
    * intervals, time), which stay unchecked. Both timestamp OIDs carry 8
    * bytes of microseconds from 2000-01-01, and the dialect casts either
    * Spark timestamp type to `TIMESTAMP`, so either reader takes either. */
  private def wireOids(dt: DataType): Option[Set[Int]] = {
    import PgWire.Oid._
    dt match {
      case BooleanType => Some(Set(Bool))
      case ShortType => Some(Set(Int2))
      case IntegerType => Some(Set(Int4))
      case LongType => Some(Set(Int8))
      case FloatType => Some(Set(Float4))
      case DoubleType => Some(Set(Float8))
      case _: DecimalType => Some(Set(Numeric))
      case StringType => Some(Set(Text, Varchar, Bpchar, Uuid))
      case BinaryType => Some(Set(Bytea))
      case DateType => Some(Set(Date))
      case TimestampType | TimestampNTZType => Some(Set(Timestamp, Timestamptz))
      case _ => None
    }
  }

  /** Width and per-column type check of a probed result against the
    * plan's schema. The decoder's fixed-width length checks cannot see a
    * same-width change (int4 → float4, int8 → timestamp), so a schema
    * kept from before such a change would decode wrong values silently;
    * this fails the read instead and names the way out. */
  private[graft] def checkWireTypes(fields: Seq[PgWire.Field],
      schema: StructType, sql: String): Unit = {
    require(fields.size == schema.size,
      s"pgwire result width ${fields.size} != expected ${schema.size} for: $sql")
    fields.lazyZip(schema.fields).foreach { (f, sf) =>
      wireOids(sf.dataType).foreach { ok =>
        if (!ok.contains(f.typeOid)) throw new IllegalStateException(
          s"pgwire column '${sf.name}' arrives as type oid ${f.typeOid}, but the " +
            s"plan expects ${sf.dataType.simpleString}. If the table changed after " +
            "its schema was read, run REFRESH TABLE on it and re-plan; otherwise " +
            s"the backend computes this column in another type than Spark: $sql")
      }
    }
  }
}
