package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, Types}

import org.apache.spark.TaskContext
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.plans.SqlGen.Dialect

/** Derby's SQL surface, the dialect divergences that matter for pushdown:
  * ANSI double-quote identifiers, `OFFSET … ROWS FETCH NEXT … ROWS ONLY`
  * instead of LIMIT/OFFSET, constructor-form temporal literals, no
  * `IS NOT DISTINCT FROM`, no FULL JOIN / windows / intervals / agg
  * FILTER, and a reduced function set. Whole-plan fusion IS enabled
  * (`fullSqlGen = true`) behind those capability gates — every hook below
  * was probed against embedded Derby 10.16, so what renders parses, and
  * what doesn't parse declines at plan time (stays a Spark residual)
  * instead of erroring at run time. With `scanPreferred = true` a bare
  * project/filter/sort/limit chain over one table keeps the partitioned
  * parallel scan; joins and aggregates fuse within the fetch budget. */
case object DerbyDialect extends Dialect {
  def quote(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""
  override def limitOffset(limit: Option[Long], offset: Option[Long]): String =
    offset.map(o => s" OFFSET $o ROWS").getOrElse("") +
      limit.map(n => s" FETCH NEXT $n ROWS ONLY").getOrElse("")
  override def trueLit: String = "(1=1)"
  override def falseLit: String = "(1=0)"
  override def supportsNullSafeEq: Boolean = false
  override def fullSqlGen: Boolean = true
  override def scanPreferred: Boolean = true
  override def supportsFullJoin: Boolean = false
  override def supportsAggFilter: Boolean = false
  override def supportsWindowFunctions: Boolean = false
  // probed 10.16: bare ROW_NUMBER() OVER () works and follows a derived
  // table's ORDER BY; OVER (ORDER BY …) is "Feature not implemented" and
  // OVER (PARTITION BY …) a syntax error — so exactly the un-partitioned
  // row_number shape renders, via the ordered-subquery idiom
  override def orderedRowNumberIdiom: Boolean = true
  override def supportsIntervals: Boolean = false
  override def supportsTryCast: Boolean = false
  /** Probed allowlist (embedded Derby 10.16): notably ABSENT are ROUND,
    * POWER, REPLACE, SUBSTRING (Derby spells SUBSTR), INSTR (LOCATE),
    * LPAD/RPAD, LEAST/GREATEST, DATE_TRUNC, CORR, COVAR_SAMP/POP. */
  private val fns = Set("ABS", "UPPER", "LOWER", "LENGTH", "SQRT", "CEIL",
    "FLOOR", "YEAR", "MONTH", "DAY", "COALESCE", "TRIM", "LTRIM", "RTRIM",
    "LN", "EXP", "SIGN", "SIN", "COS", "TAN", "ASIN", "ACOS", "ATAN",
    "ATAN2", "STDDEV_SAMP", "STDDEV_POP", "VAR_SAMP", "VAR_POP")
  override def supportsFunction(name: String): Boolean = fns(name)
  /** Derby's cast matrix, restricted to pairs that also preserve Spark's
    * semantics: numeric↔numeric (DECIMAL ≤ 31 digits) and temporal↔
    * temporal. String sources are out (Derby rejects string→numeric and
    * its string→temporal parse rules differ); string/binary targets are
    * out (bare VARCHAR needs a length). */
  override def castAllowed(from: DataType, to: DataType): Boolean = {
    def numeric(dt: DataType) = dt match {
      case ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case d: DecimalType => d.precision <= 31
      case _ => false
    }
    def temporal(dt: DataType) =
      dt == DateType || dt == TimestampType || dt == TimestampNTZType
    (numeric(from) && numeric(to)) || (temporal(from) && temporal(to))
  }
  /** Spark widens SUM(INT)→LONG and AVG(INT)→DOUBLE; Derby keeps the
    * argument type (AVG(INT) TRUNCATES — probed). Casting the argument
    * makes both engines accumulate in the same type. Decimal AVG declines:
    * Derby's result scale rule is undocumented, and a scale mismatch would
    * silently truncate. */
  override def sumArg(arg: String, dt: DataType): Option[String] = dt match {
    case ShortType | IntegerType | LongType => Some(s"CAST($arg AS BIGINT)")
    case FloatType => Some(s"CAST($arg AS DOUBLE)")
    case DoubleType => Some(arg)
    // Spark's sum(decimal(p,s)) is decimal(p+10,s); Derby promotes to its
    // 31-digit ceiling, so the widened precision must still fit
    case d: DecimalType if d.precision + 10 <= 31 => Some(arg)
    case _ => None
  }
  override def avgArg(arg: String, dt: DataType): Option[String] = dt match {
    case ShortType | IntegerType | LongType | FloatType =>
      Some(s"CAST($arg AS DOUBLE)")
    case DoubleType => Some(arg)
    case _ => None
  }
  override def timestampLit(ts: String): String = s"TIMESTAMP('$ts')"
  override def dateLit(d: String): String = s"DATE('$d')"
  // no LISTAGG or STRING_AGG spelling at all in 10.16 (probed)
  override def listAgg(distinct: Boolean, arg: String, delim: String,
      order: Seq[String]): Option[String] = None
  // Derby's CAST compatibility matrix forbids numeric→VARCHAR: a cast
  // target may only render when EVERY source Spark would upcast from is
  // legal for it on Derby. Spark upcasts any atomic to string, so
  // StringType MUST be excluded even though it is DDL-creatable.
  override def castTypeName(dt: DataType): Option[String] = dt match {
    case ShortType | IntegerType | LongType | FloatType | DoubleType |
         TimestampType => typeName(dt)
    // Derby's DECIMAL tops out at precision 31 (Spark's at 38)
    case d: DecimalType if d.precision <= 31 => typeName(d)
    case _ => None
  }
  override def remainder(l: String, r: String): Option[String] = None // no % operator
  override def typeName(dt: DataType): Option[String] = dt match {
    case StringType => Some("VARCHAR(32672)") // Derby's VARCHAR max
    case BooleanType => Some("BOOLEAN")
    case ShortType => Some("SMALLINT")
    case IntegerType => Some("INTEGER")
    case LongType => Some("BIGINT")
    case FloatType => Some("REAL")
    case DoubleType => Some("DOUBLE")
    case DateType => Some("DATE")
    // both Spark timestamp flavors land in Derby's zoneless TIMESTAMP;
    // NTZ is the lossless direction (wall-clock in, wall-clock out), TZ
    // relies on the pinned UTC session (build.sbt/session config)
    case TimestampType | TimestampNTZType => Some("TIMESTAMP")
    case d: DecimalType => Some(s"DECIMAL(${d.precision},${d.scale})")
    case BinaryType => Some("VARCHAR (32672) FOR BIT DATA")
    case _ => None // ByteType too: Derby has no TINYINT and SMALLINT would
                   // silently widen the round-tripped schema
  }
}

/** Default dialect for UNRECOGNIZED JDBC drivers: ANSI double-quote
  * rendering for the scan-level surface (projection/filter/limit — every
  * piece is plain ANSI and failures are loud), but no whole-plan fusion
  * (so joins and aggregates run in Spark), no null-safe-eq, no DDL/CAST
  * type names. Known-compatible drivers opt
  * in to more via their own dialect ([[DerbyDialect]], [[PostgresDialect]]). */
case object ConservativeAnsiDialect extends Dialect {
  def quote(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""
  override def fullSqlGen: Boolean = false
  override def supportsNullSafeEq: Boolean = false
}

/** The production remote backend: any JDBC database behind the
  * [[SqlBackend]]/[[SqlConnection]] traits — the role the reference's
  * `PostgresConnection` plays over binary COPY
  * (`/root/reference/src/sqldb/postgres/mod.rs:24-190`). Differences are
  * all Spark-idiomatic consequences of the trait contracts:
  *
  *  - catalog discovery reads `DatabaseMetaData` (tables, columns,
  *    primary keys) instead of hand-written information_schema SQL
  *    (`mod.rs:67-125`) — same data, driver-portable;
  *  - `fetch` runs ON THE TASK and streams the ResultSet row-by-row
  *    (fetch-size hinted), so result size is bounded by executor memory,
  *    never driver memory — the executor-side execution model of
  *    `PostgresExec::execute` (`table_provider.rs:219-233`);
  *  - `beginWrite` opens a task-side autoCommit=false connection: the
  *    executor-side INSERT streaming path ([[StreamingSqlWriter]]).
  *
  * Connections are opened per call (embedded Derby makes that free; a
  * networked production deployment would put a pool behind `connect()` —
  * the single seam where one would go). Instances are cached per URL so
  * every table of one database shares a backend identity (the pushdown
  * rule's same-backend fusion check is reference equality).
  */
object JdbcBackend {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, JdbcBackend]()
  def forUrl(url: String): JdbcBackend =
    cache.computeIfAbsent(url, u => new JdbcBackend(u))

  private[sources] def dialectFor(url: String): Dialect =
    if (url.startsWith("jdbc:derby:")) DerbyDialect
    else if (url.startsWith("jdbc:postgresql:")) PostgresDialect
    // unknown drivers get ANSI scan-level pushdown ONLY: whole-plan fusion
    // and null-safe-eq rendering are opt-in per recognized dialect — an
    // unrecognized driver must not land in the most aggressive tier by
    // accident (e.g. MySQL's backtick quoting would mis-parse every query)
    else ConservativeAnsiDialect

  /** JDBC metadata type → Spark type. Unmapped types fail discovery loudly
    * (a silently-skipped column would make `SELECT *` lie). `typeName` is
    * the driver's TYPE_NAME — needed where a backend hides a real type
    * behind Types.OTHER (Postgres uuid).
    *
    * Covers the reference's conversion table (`datatypes.rs:141-176`)
    * with these DELIBERATE divergences — the one place they are listed;
    * `PostgresDialectSpec` asserts a verdict per row:
    *  - uuid → String (text form round-trips; the reference punted to
    *    Binary with a TODO, `datatypes.rs:172`)
    *  - interval → loud decline (the reference guessed
    *    `Interval(DayTime)` with a TODO; Spark's CalendarInterval is not
    *    a first-class row value on enough of the surface to serve it
    *    honestly — cast backend-side to text or seconds instead)
    *  - ARRAY of a reference-enumerated element (`datatypes.rs:28-80`
    *    lists `BOOL/INT2..FLOAT8/TIMESTAMP _ARRAY → List<T>`) →
    *    `ArrayType(element)`; arrays of any other element, and inet /
    *    name / oid / other exotic OTHER names → loud decline, the
    *    reference's own policy for types off its match
    *    (`datatypes.rs:94`, its commented-out rows) */
  private[graft] def sparkType(jdbcType: Int, precision: Int, scale: Int,
      typeName: String = ""): DataType =
    jdbcType match {
      case Types.BIT | Types.BOOLEAN => BooleanType
      case Types.TINYINT => ByteType
      case Types.SMALLINT => ShortType
      case Types.INTEGER => IntegerType
      case Types.BIGINT => LongType
      case Types.REAL => FloatType
      case Types.FLOAT | Types.DOUBLE => DoubleType
      case Types.DECIMAL | Types.NUMERIC =>
        // an unconstrained Postgres NUMERIC reports no precision — the
        // reference defaults it to Decimal(38,4) (`datatypes.rs:160-162`);
        // same fallback for any bounds Spark's DecimalType can't carry
        if (precision >= 1 && precision <= DecimalType.MAX_PRECISION &&
            scale >= 0 && scale <= precision) DecimalType(precision, scale)
        else DecimalType(38, 4)
      case Types.CHAR | Types.VARCHAR | Types.LONGVARCHAR | Types.CLOB => StringType
      case Types.DATE => DateType
      case Types.TIME => TimeType(math.min(math.max(scale, 0), 6))
      case Types.TIMESTAMP => TimestampType
      case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY | Types.BLOB => BinaryType
      // Postgres surfaces uuid as OTHER/"uuid"; its text form round-trips
      // (the reference punted to Binary with a TODO, `datatypes.rs:170`)
      case Types.OTHER if typeName.equalsIgnoreCase("uuid") => StringType
      case Types.ARRAY => arrayElementType(typeName) match {
        case Some(et) => ArrayType(et)
        case None => throw new IllegalArgumentException(
          s"array column type '$typeName' not supported by the federation " +
            "layer — project it away or cast it backend-side")
      }
      case other => throw new IllegalArgumentException(
        s"unmapped JDBC type $other '$typeName' (java.sql.Types)")
    }

  /** Array element type from the driver's TYPE_NAME: pgjdbc reports an
    * array column as `_<elem>` (Postgres catalog convention); other
    * drivers report `<elem>[]` or `<ELEM> ARRAY`. Only the element set
    * the reference enumerates (`datatypes.rs:28-80`) plus text/date/
    * numeric maps — anything else declines at discovery. */
  private[graft] def arrayElementType(typeName: String): Option[DataType] = {
    val t = typeName.trim.toLowerCase
    val elem =
      if (t.startsWith("_")) t.drop(1)
      else if (t.endsWith("[]")) t.dropRight(2).trim
      else if (t.endsWith(" array")) t.dropRight(6).trim
      else t
    elem match {
      case "bool" | "boolean" => Some(BooleanType)
      case "int2" | "smallint" => Some(ShortType)
      case "int4" | "int" | "integer" => Some(IntegerType)
      case "int8" | "bigint" => Some(LongType)
      case "float4" | "real" => Some(FloatType)
      case "float8" | "double precision" | "double" => Some(DoubleType)
      case "text" | "varchar" | "bpchar" | "char" | "character varying" => Some(StringType)
      case "date" => Some(DateType)
      case "timestamp" | "timestamptz" => Some(TimestampType)
      // unconstrained elements: same default the reference applies to
      // bare NUMERIC (`datatypes.rs:160-162`)
      case "numeric" | "decimal" => Some(DecimalType(38, 4))
      case _ => None
    }
  }

  /** Element normalizer for the ResultSet array path: drivers box array
    * elements inconsistently (pgjdbc hands int2[] back as Integer[]), so
    * each element is coerced to the exact external type the row encoder
    * accepts for the declared element DataType. */
  private def elementConverter(et: DataType): AnyRef => Any = et match {
    case BooleanType => { case b: java.lang.Boolean => b.booleanValue(); case v => v }
    case ShortType => { case n: java.lang.Number => n.shortValue(); case v => v }
    case IntegerType => { case n: java.lang.Number => n.intValue(); case v => v }
    case LongType => { case n: java.lang.Number => n.longValue(); case v => v }
    case FloatType => { case n: java.lang.Number => n.floatValue(); case v => v }
    case DoubleType => { case n: java.lang.Number => n.doubleValue(); case v => v }
    case StringType => v => v.toString
    case d: DecimalType => {
      case bd: java.math.BigDecimal => bd.setScale(d.scale, java.math.RoundingMode.HALF_UP)
      case n: java.lang.Number =>
        new java.math.BigDecimal(n.toString).setScale(d.scale, java.math.RoundingMode.HALF_UP)
      case v => v
    }
    case _ => v => v // Date / Timestamp already arrive as java.sql externals
  }

  /** Rows decoded per fill of the task-side batch buffer (and the JDBC
    * fetchSize, so the driver's own wire blocks align with it). The
    * reference's binary COPY reader batched 65,536 rows
    * (`binary_reader.rs:24-209`); JDBC rows are already materialized
    * objects, so a smaller block bounds memory on wide rows while still
    * amortizing the per-row iterator machinery. */
  private[sources] val BatchRows = 1024

  /** Schema-compiled column decoders: ONE per-column closure chosen at
    * schema time instead of a dataType pattern-match per CELL — the
    * row-decode hot path does width × rows virtual calls and nothing
    * else. This is the JDBC-shaped analog of the reference's per-type
    * wire readers (`binary_reader.rs:351-487`), which likewise dispatch
    * once per column, then decode values in a tight loop. */
  private[graft] def decoders(
      schema: StructType): Array[(ResultSet, Int) => Any] =
    schema.fields.map { f =>
      f.dataType match {
        case BooleanType => (rs: ResultSet, i: Int) => rs.getBoolean(i)
        case ByteType => (rs: ResultSet, i: Int) => rs.getByte(i)
        case ShortType => (rs: ResultSet, i: Int) => rs.getShort(i)
        case IntegerType => (rs: ResultSet, i: Int) => rs.getInt(i)
        case LongType => (rs: ResultSet, i: Int) => rs.getLong(i)
        case FloatType => (rs: ResultSet, i: Int) => rs.getFloat(i)
        case DoubleType => (rs: ResultSet, i: Int) => rs.getDouble(i)
        case _: DecimalType => (rs: ResultSet, i: Int) => rs.getBigDecimal(i)
        case StringType => (rs: ResultSet, i: Int) => rs.getString(i)
        case DateType => (rs: ResultSet, i: Int) => rs.getDate(i)
        case _: TimeType => (rs: ResultSet, i: Int) =>
          rs.getObject(i, classOf[java.time.LocalTime])
        case TimestampType => (rs: ResultSet, i: Int) => rs.getTimestamp(i)
        // NTZ: take the zoneless wall-clock directly — getTimestamp would
        // route through the JVM default zone's calendar first
        case TimestampNTZType => (rs: ResultSet, i: Int) => {
          val t = rs.getTimestamp(i)
          if (t == null) null else t.toLocalDateTime
        }
        case BinaryType => (rs: ResultSet, i: Int) => rs.getBytes(i)
        case ArrayType(et, _) =>
          val conv = elementConverter(et)
          (rs: ResultSet, i: Int) => {
            val a = rs.getArray(i)
            if (a == null) null
            else {
              try {
                // drivers return boxed Object[]; a primitive array would mean
                // no SQL NULL elements, so box it through the generic path
                val objs: Array[AnyRef] = a.getArray match {
                  case arr: Array[AnyRef] => arr
                  case arr: Array[_] => arr.map(_.asInstanceOf[AnyRef])
                }
                scala.collection.immutable.ArraySeq.unsafeWrapArray(
                  objs.map(v => if (v == null) null else conv(v)))
              } finally {
                // LOB-backed drivers hold server-side resources per getArray
                // until freed; optional per JDBC, so a driver that doesn't
                // support it is fine to ignore
                try a.free()
                catch { case _: java.sql.SQLFeatureNotSupportedException => }
              }
            }
          }
        case other => throw new IllegalArgumentException(
          s"unreadable column type $other")
      }
    }

  /** One ResultSet row → Row through pre-compiled decoders. */
  private[graft] def decodeRow(rs: ResultSet,
      ds: Array[(ResultSet, Int) => Any]): Row = {
    val vals = new Array[Any](ds.length)
    var i = 0
    while (i < ds.length) {
      val v = ds(i)(rs, i + 1)
      vals(i) = if (rs.wasNull()) null else v
      i += 1
    }
    Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
  }
}

class JdbcBackend private (val url: String) extends SqlBackend {

  // strip both Derby-style ';attr=...' attributes and query-param URLs
  // ('?user=x&password=y') — credentials must not leak into error
  // messages or logs through the backend's display name
  override def name: String = s"jdbc(${url.takeWhile(c => c != ';' && c != '?')})"
  override def dialect: Dialect = JdbcBackend.dialectFor(url)

  private def connect(): Connection = DriverManager.getConnection(url)

  private def withConn[A](f: Connection => A): A = {
    val c = connect()
    try f(c) finally c.close()
  }

  /** JDBC metadata `table` arguments are LIKE patterns: `_`/`%` in a real
    * table name can match OTHER tables — schema("t_a") would merge the
    * columns of "t_a" AND "tba" into one corrupt StructType. Escaping via
    * `getSearchStringEscape` is not reliable (Derby returns the empty
    * string — no escape at all), so every lookup post-filters its result
    * rows on EXACT `TABLE_NAME` equality; the escape, when the driver has
    * one, merely narrows the fetch. */
  private def escapePattern(c: Connection, name: String): String = {
    val esc = c.getMetaData.getSearchStringEscape
    if (esc == null || esc.isEmpty) name
    else name.replace(esc, esc + esc)
      .replace("_", esc + "_")
      .replace("%", esc + "%")
  }

  override def tables: Seq[String] = withConn { c =>
    val rs = c.getMetaData.getTables(null, c.getSchema, "%", Array("TABLE"))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rs.next()) out += rs.getString("TABLE_NAME")
    out.toSeq
  }

  override def tableExists(table: String): Boolean = withConn { c =>
    val rs = c.getMetaData.getTables(null, c.getSchema,
      escapePattern(c, table), Array("TABLE"))
    var found = false
    while (!found && rs.next()) found = rs.getString("TABLE_NAME") == table
    found
  }

  override def schema(table: String): StructType = withConn { c =>
    val rs = c.getMetaData.getColumns(null, c.getSchema,
      escapePattern(c, table), "%")
    val fields = scala.collection.mutable.ArrayBuffer.empty[(Int, StructField)]
    while (rs.next()) {
      if (rs.getString("TABLE_NAME") == table) { // exact, not LIKE-matched
        val dt = JdbcBackend.sparkType(rs.getInt("DATA_TYPE"),
          rs.getInt("COLUMN_SIZE"), rs.getInt("DECIMAL_DIGITS"),
          String.valueOf(rs.getString("TYPE_NAME")))
        fields += ((rs.getInt("ORDINAL_POSITION"),
          StructField(rs.getString("COLUMN_NAME"), dt,
            rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls)))
      }
    }
    require(fields.nonEmpty, s"no such table in ${name}: $table")
    StructType(fields.sortBy(_._1).map(_._2).toSeq)
  }

  override def uniqueKey(table: String): Option[Seq[String]] = withConn { c =>
    val rs = c.getMetaData.getPrimaryKeys(null, c.getSchema, table)
    val cols = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
    while (rs.next()) cols += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
    if (cols.isEmpty) None else Some(cols.sortBy(_._1).map(_._2).toSeq)
  }

  override def executeSql(sql: String): Seq[Row] = withConn { c =>
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val schema = StructType((1 to md.getColumnCount).map { i =>
        StructField(md.getColumnLabel(i), JdbcBackend.sparkType(
          md.getColumnType(i), md.getPrecision(i), md.getScale(i),
          String.valueOf(md.getColumnTypeName(i))))
      })
      val ds = JdbcBackend.decoders(schema)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (rs.next()) out += JdbcBackend.decodeRow(rs, ds)
      out.toSeq
    } finally st.close()
  }

  override def executeUpdate(sql: String): Unit = withConn { c =>
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  override def supportsTaskSideWrites: Boolean = true
  /** MERGE is rendered only for dialects known to parse it (Derby 10.11+,
    * Postgres 15+); an unrecognized driver gets the emulated
    * overwrite-merge instead of a statement that may not exist there. */
  override def supportsMerge: Boolean =
    dialect == DerbyDialect || dialect == PostgresDialect
  override def connection: SqlConnection = JdbcTaskConnection(url)
}

/** Task-side JDBC connection: `fetch` opens a connection ON THE TASK and
  * streams the ResultSet (driver holds SQL text only). The connection
  * closes with the ResultSet — or with the task, whichever comes first
  * (completion listener), so partial reads under a Spark-side limit don't
  * leak connections.
  *
  * The decode is BATCHED: rows are pulled in [[JdbcBackend.BatchRows]]
  * blocks through schema-compiled [[JdbcBackend.decoders]] into a
  * reusable buffer, with the JDBC fetchSize aligned to the block so the
  * driver's wire round-trips amortize the same way. Pushdown minimizes
  * what ships; this path is for the rows that DO ship — the reference's
  * answer there is decoding Postgres binary COPY straight into 65,536-row
  * columnar batches (`binary_reader.rs:24-209`). A `jdbc:postgresql:`
  * URL goes further: [[fetch]] routes through pgjdbc's copy API (`COPY
  * (sql) TO STDOUT (FORMAT BINARY)`) and decodes the wire directly via
  * [[PgCopyDecoder]] — same Row contract, no ResultSet materialization.
  * The pgjdbc classes are reached reflectively (the driver isn't on this
  * sandbox's classpath; the decoder itself is fixture-tested in
  * `PgCopyDecoderSpec`), and their absence falls back to the ResultSet
  * loop below. */
case class JdbcTaskConnection(url: String) extends SqlConnection {

  override def fetch(id: Long, sql: String, schema: StructType): Iterator[Row] =
    if (url.startsWith("jdbc:postgresql:"))
      copyFetch(sql, schema).getOrElse(resultSetFetch(sql, schema))
    else resultSetFetch(sql, schema)

  /** Binary-COPY fast path. Returns None (→ ResultSet fallback) only when
    * pgjdbc itself is absent; once the stream is open, failures propagate —
    * silently re-running the query over the slow path would double-execute
    * it. Lifecycle mirrors [[resultSetFetch]]: the connection closes with
    * the stream's end or the task, whichever first. */
  private def copyFetch(sql: String, schema: StructType): Option[Iterator[Row]] = {
    val pgStreamCls =
      try Class.forName("org.postgresql.copy.PGCopyInputStream")
      catch { case _: ClassNotFoundException => return None }
    val baseConnCls = Class.forName("org.postgresql.core.BaseConnection")
    val conn = DriverManager.getConnection(url)
    try {
      // uuid columns travel as 16 raw bytes, not text: learn which
      // StringType columns those are from a Describe-only metadata probe
      val uuidCols: Set[String] = JdbcTaskConnection.uuidColumns(conn, sql)
      val copySql = s"COPY ($sql) TO STDOUT (FORMAT BINARY)"
      val in = pgStreamCls
        .getConstructor(baseConnCls, classOf[String])
        .newInstance(conn.unwrap(baseConnCls.asInstanceOf[Class[AnyRef]]), copySql)
        .asInstanceOf[java.io.InputStream]
      var closed = false
      def closeAll(): Unit = if (!closed) {
        closed = true
        try in.close() finally conn.close()
      }
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
      val rows = PgCopyDecoder.rows(in, schema, uuidCols)
      Some(new Iterator[Row] {
        override def hasNext: Boolean = {
          val h = rows.hasNext
          if (!h) closeAll() // wire trailer seen: release the connection now
          h
        }
        override def next(): Row = rows.next()
      })
    } catch { case t: Throwable =>
      try conn.close() catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
  }

  private def resultSetFetch(sql: String, schema: StructType): Iterator[Row] = {
    val conn = DriverManager.getConnection(url)
    // a failing executeQuery must not leak the connection: the completion
    // listener is only registered once the query has succeeded
    val rs = try {
      val stmt = conn.createStatement()
      stmt.setFetchSize(JdbcBackend.BatchRows)
      stmt.executeQuery(sql)
    } catch { case t: Throwable => try conn.close() catch { case _: Throwable => }; throw t }
    val stmt = rs.getStatement
    var closed = false
    def closeAll(): Unit = if (!closed) {
      closed = true
      try rs.close() finally { try stmt.close() finally conn.close() }
    }
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
    val ds = JdbcBackend.decoders(schema)
    new Iterator[Row] {
      private val buf = new Array[Row](JdbcBackend.BatchRows)
      private var n = 0
      private var pos = 0
      private var drained = false
      private def fill(): Unit = if (pos >= n && !drained) {
        pos = 0
        n = 0
        while (n < buf.length && rs.next()) {
          buf(n) = JdbcBackend.decodeRow(rs, ds)
          n += 1
        }
        // a short fill means the ResultSet is done: release the
        // connection NOW — the buffered tail serves without it, so the
        // backend's connection slot frees up to a block earlier than the
        // consumer finishes
        if (n < buf.length) { drained = true; closeAll() }
      }
      override def hasNext: Boolean = { fill(); pos < n }
      override def next(): Row = {
        fill()
        if (pos >= n) throw new NoSuchElementException("drained ResultSet")
        val r = buf(pos)
        buf(pos) = null // no liveness past handoff: the block is reused
        pos += 1
        r
      }
    }
  }

  /** Binary-COPY bulk-ingest channel, the write-side mirror of
    * [[copyFetch]]: `COPY table (cols) FROM STDIN (FORMAT BINARY)` through
    * pgjdbc's `PGCopyOutputStream`, fed by [[PgCopyEncoder]], inside a
    * task-side autoCommit=false transaction (same per-task atomicity as
    * the INSERT path). Reflective for the same reason as the read side —
    * pgjdbc isn't on this sandbox's classpath; its absence, or a
    * non-Postgres URL, returns None → INSERT streaming fallback. */
  override def copyWrite(table: String, schema: StructType,
      dialect: graft.plans.SqlGen.Dialect): Option[CopyWriteChannel] = {
    if (!url.startsWith("jdbc:postgresql:")) return None
    // every column must be wire-encodable BEFORE anything opens: a throw
    // after the COPY stream exists would leak the connection, and the
    // INSERT path may well handle the schema (it gates separately)
    if (!PgCopyEncoder.supports(schema)) return None
    val pgStreamCls =
      try Class.forName("org.postgresql.copy.PGCopyOutputStream")
      catch { case _: ClassNotFoundException => return None }
    val pgConnCls = Class.forName("org.postgresql.PGConnection")
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      // which StringType columns are uuid on the backend: Describe-only
      // metadata probe, nothing executes (shared with copyFetch)
      val colList = schema.fieldNames.map(dialect.quote).mkString(", ")
      val uuids: Set[String] = JdbcTaskConnection.uuidColumns(conn,
        s"SELECT $colList FROM ${dialect.quote(table)}")
      val copySql =
        s"COPY ${dialect.quote(table)} ($colList) FROM STDIN (FORMAT BINARY)"
      val stream = pgStreamCls
        .getConstructor(pgConnCls, classOf[String])
        .newInstance(conn.unwrap(pgConnCls.asInstanceOf[Class[AnyRef]]), copySql)
        .asInstanceOf[java.io.OutputStream]
      Some(new CopyWriteChannel {
        private var done = false
        override val out: java.io.OutputStream = stream
        override val uuidCols: Set[String] = uuids
        override def commit(): Unit = if (!done) {
          done = true
          // closing the copy stream sends CopyDone; the transaction commit
          // follows ONLY if the close succeeded — committing after a failed
          // close could make the rows durable while the task reports
          // failure, and Spark's retry would then duplicate them
          try stream.close()
          catch { case t: Throwable =>
            try conn.rollback() catch { case s: Throwable => t.addSuppressed(s) }
            finally { try conn.close() catch { case s: Throwable => t.addSuppressed(s) } }
            throw t
          }
          try conn.commit() finally conn.close()
        }
        override def rollback(): Unit = if (!done) {
          done = true
          // ending the COPY then rolling back undoes it transactionally;
          // if the stream refuses to close, closing the connection aborts
          // the COPY at the protocol level anyway
          try stream.close() catch { case _: Exception => }
          try conn.rollback() finally conn.close()
        }
      })
    } catch { case t: Throwable =>
      try conn.close() catch { case s: Throwable => t.addSuppressed(s) }
      throw t
    }
  }

  override def beginWrite(): WriteTxn = {
    val conn = DriverManager.getConnection(url)
    conn.setAutoCommit(false)
    new WriteTxn {
      // released exactly once: a failed commit rolls back BEFORE closing
      // (closing a connection with an active transaction throws on Derby,
      // masking the real failure), and the writer's ensuing abort() must
      // not touch the already-released connection
      private var done = false
      override def executeUpdate(sql: String): Unit = {
        val st = conn.createStatement()
        try st.executeUpdate(sql) finally st.close()
      }
      override def commit(): Unit = if (!done) {
        done = true
        try conn.commit()
        catch {
          case t: Throwable =>
            try conn.rollback() catch { case s: Throwable => t.addSuppressed(s) }
            throw t
        } finally conn.close()
      }
      override def rollback(): Unit = if (!done) {
        done = true
        try conn.rollback() finally conn.close()
      }
    }
  }
}

object JdbcTaskConnection {
  /** Which columns of `sql`'s projection the backend types as uuid — a
    * Describe-only metadata probe (prepareStatement + getMetaData executes
    * nothing). SHARED by the COPY read and write paths: uuid columns ship
    * as 16 raw wire bytes, and the two sides diverging on which columns
    * those are would be framing corruption, not a clean error. */
  private[sources] def uuidColumns(conn: java.sql.Connection,
      sql: String): Set[String] = {
    val ps = conn.prepareStatement(sql)
    try {
      val md = ps.getMetaData
      if (md == null) Set.empty
      else (1 to md.getColumnCount)
        .filter(i => "uuid".equalsIgnoreCase(md.getColumnTypeName(i)))
        .map(md.getColumnLabel(_)).toSet
    } finally ps.close()
  }
}
