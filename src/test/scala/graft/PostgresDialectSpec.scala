package graft

import graft.plans.SqlGen
import graft.sources.{ConservativeAnsiDialect, DerbyDialect, JdbcBackend, PostgresDialect, V2PredicateSql}
import org.apache.spark.sql.connector.expressions.{Cast => V2Cast, Expressions, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Rendering tests for the Postgres dialect — the backend the reference
  * engine targets (`src/sqldb/postgres/mod.rs`). No live server exists in
  * the sandbox, so every JdbcFederationSpec pushdown scenario is covered
  * here at the SQL-TEXT level: the same V2PredicateSql /
  * SqlGen surfaces the scan builder drives, pointed at [[PostgresDialect]],
  * asserting the exact SQL a Postgres server would receive. */
class PostgresDialectSpec extends AnyFunSuite {
  private val d = PostgresDialect
  private def colRef(n: String) = Expressions.column(n)
  // LiteralValue is private[sql]; the renderer matches the public
  // Literal interface, so the spec hands it exactly that
  private def lit[T](v: T, dt: DataType): V2Literal[T] = new V2Literal[T] {
    override def value: T = v
    override def dataType: DataType = dt
  }
  private def pred(name: String,
      cs: org.apache.spark.sql.connector.expressions.Expression*) =
    new Predicate(name, cs.toArray)
  private def str(v: String) =
    lit(org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType)
  private def date(v: String) =
    lit(java.time.LocalDate.parse(v).toEpochDay.toInt, DateType)

  test("dialectFor routes postgresql URLs; unknown drivers get the conservative tier") {
    assert(JdbcBackend.forUrl("jdbc:postgresql://host/db").dialect == PostgresDialect)
    assert(JdbcBackend.forUrl("jdbc:derby:memory:x").dialect == DerbyDialect)
    val unknown = JdbcBackend.forUrl("jdbc:mysql://host/db").dialect
    assert(unknown == ConservativeAnsiDialect)
    assert(!unknown.fullSqlGen && !unknown.supportsNullSafeEq)
    assert(d.fullSqlGen) // Postgres IS a whole-plan SqlGen target
  }

  test("query-param credentials never reach the backend display name") {
    assert(JdbcBackend.forUrl("jdbc:postgresql://h/db?user=u&password=s3cret").name ==
      "jdbc(jdbc:postgresql://h/db)")
  }

  // ---- scenario: "filters render in the dialect" (JdbcFederationSpec) ----

  test("scan filters: comparisons, LIKE prefixes, IN, temporal literals") {
    assert(V2PredicateSql.render(pred(">", colRef("bal"), lit(30.0, DoubleType)), d)
      .contains("(\"bal\" > 30.0)"))
    assert(V2PredicateSql.render(pred("STARTS_WITH", colRef("name"), str("acct")), d)
      .contains("\"name\" LIKE 'acct%'"))
    // LIKE metachars stay residual (same guard as every dialect)
    assert(V2PredicateSql.render(pred("STARTS_WITH", colRef("name"), str("acct_2")), d).isEmpty)
    assert(V2PredicateSql.render(pred("IN", colRef("id"),
      lit(1, IntegerType), lit(2, IntegerType), lit(3, IntegerType)), d)
      .contains("(\"id\" IN (1, 2, 3))"))
    // dynamic pruning over an empty build side: `IN ()` is not SQL
    assert(V2PredicateSql.render(pred("IN", colRef("id")), d).contains("FALSE"))
    // ANSI typed temporal literals are native Postgres
    assert(V2PredicateSql.render(pred(">", colRef("c"), date("2026-01-02")), d)
      .contains("(\"c\" > DATE '2026-01-02')"))
    assert(V2PredicateSql.render(pred("=", colRef("t"),
      lit(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(
        java.sql.Timestamp.valueOf("2026-01-02 03:04:05")), TimestampType)), d).get
      .contains("TIMESTAMP '2026-01-02 03:04:05.000000'"))
  }

  test("null-safe equality renders (Postgres parses IS NOT DISTINCT FROM)") {
    val ns = pred("<=>", colRef("name"), str("x"))
    assert(V2PredicateSql.render(ns, d)
      .contains("(\"name\" IS NOT DISTINCT FROM 'x')"))
    // ...while Derby and unknown drivers keep it residual
    assert(V2PredicateSql.render(ns, DerbyDialect).isEmpty)
    assert(V2PredicateSql.render(ns, ConservativeAnsiDialect).isEmpty)
  }

  // ---- scenario: "V2 expression predicates reach the backend" ----

  test("V2 predicates: ABS/arithmetic, remainder, upcast CAST, wide decimals") {
    val absPred = new Predicate("<",
      Array(new org.apache.spark.sql.connector.expressions.GeneralScalarExpression(
        "ABS", Array(colRef("bal"))), lit(15.0, DoubleType)))
    assert(V2PredicateSql.render(absPred, d).contains("(ABS(\"bal\") < 15.0)"))

    // Postgres HAS the % operator (Derby declines this same predicate)
    val mod = new Predicate("=", Array(
      new org.apache.spark.sql.connector.expressions.GeneralScalarExpression(
        "%", Array(colRef("id"), lit(2, IntegerType))),
      lit(0, IntegerType)))
    assert(V2PredicateSql.render(mod, d).contains("((\"id\" % 2) = 0)"))
    assert(V2PredicateSql.render(mod, DerbyDialect).isEmpty)

    // lossless upcast renders with the Postgres type spelling
    val up = new Predicate(">", Array(
      new V2Cast(colRef("id"), IntegerType, LongType), lit(95L, LongType)))
    assert(V2PredicateSql.render(up, d).exists(_.contains("CAST(\"id\" AS BIGINT)")))

    // int → string is a Spark upcast and a legal, equivalent Postgres cast
    val toText = new Predicate("=", Array(
      new V2Cast(colRef("id"), IntegerType, StringType),
      lit(org.apache.spark.unsafe.types.UTF8String.fromString("7"), StringType)))
    assert(V2PredicateSql.render(toText, d).exists(_.contains("CAST(\"id\" AS TEXT)")))

    // decimal(38) exceeds Derby's 31-digit ceiling but not Postgres' 1000
    val dec = new V2Cast(colRef("id"), IntegerType, DecimalType(38, 0))
    assert(V2PredicateSql.render(dec, d).contains("CAST(\"id\" AS NUMERIC(38,0))"))
    assert(V2PredicateSql.render(dec, DerbyDialect).isEmpty)

    // string → binary upcast must stay residual: CAST(text AS BYTEA)
    // parses a bytea literal on Postgres, not Spark's UTF-8 bytes
    val toBytes = new V2Cast(colRef("name"), StringType, BinaryType)
    assert(V2PredicateSql.render(toBytes, d).isEmpty)
  }

  // ---- scenario: "top-N pushes" — row-selection clause rendering ----

  test("limit/offset renders the native Postgres clause") {
    assert(d.limitOffset(Some(3L), None) == " LIMIT 3")
    assert(d.limitOffset(Some(3L), Some(2L)) == " LIMIT 3 OFFSET 2")
    assert(d.limitOffset(None, Some(7L)) == " OFFSET 7")
  }

  // ---- regex pushdown: reference parser.rs:668-676 pushed `~` blindly;
  // here only the Java↔ARE shared-semantics subset renders ----

  test("RLIKE renders as ~ with (?p) for shared-subset patterns only") {
    def re(p: String): Option[String] =
      d.regexpMatch("\"name\"", "'" + p.replace("'", "''") + "'")
    assert(re("^ac[ct]+r?").contains("(\"name\" ~ '(?p)^ac[ct]+r?')"))
    assert(re("a.c|x\\d{2,3}").contains("(\"name\" ~ '(?p)a.c|x\\d{2,3}')"))
    assert(re("(?:ab)+\\.$?").isEmpty) // $ diverges on trailing newline
    assert(re("colou?r").isDefined)
    assert(re("it's").contains("(\"name\" ~ '(?p)it''s')")) // quote round-trip
    // each of these smuggles an engine divergence — all must decline
    assert(re("end$").isEmpty)            // Java: also before final \n
    assert(re("\\bword\\b").isEmpty)      // ARE: \b is backspace
    assert(re("(?i)abc").isEmpty)         // inline flags
    assert(re("(?=x)y").isEmpty)          // lookahead
    assert(re("[[:alpha:]]+").isEmpty)    // POSIX class: Java lacks it
    assert(re("(a)\\1").isEmpty)          // backreference
    assert(re("\\p{L}+").isEmpty)         // Java-only property class
    assert(re("\\yx").isEmpty)            // ARE-only boundary
    assert(re("trailing\\").isEmpty)      // dangling escape
    // negated bracket class: Java's [^a] matches \n, (?p) brackets don't
    assert(re("a[^bc]d").isEmpty)
    assert(re("[^x]").isEmpty)
    // ARE POSIX bracket constructs Java parses as nested classes
    assert(re("[[.a.]]x").isEmpty)    // collating element
    assert(re("[[=a=]]x").isEmpty)    // equivalence class
    assert(re("a[[b]c]").isEmpty)     // any "[[": conservative decline
    assert(re("x[\\^a]y").isDefined)      // escaped ^ inside class: literal
    assert(re("x[a^]y").isDefined)        // non-leading ^ in class: literal
    // a computed (non-literal) pattern cannot be vetted
    assert(d.regexpMatch("\"name\"", "\"pat\"").isEmpty)
  }

  test("whole-plan SqlGen targets Postgres: RLIKE pushes inside a fused query") {
    val spark = TestSpark.spark
    Tables.registerAll(spark, TestSpark.Sf0001)
    val plan = spark.table("nation")
      .filter(col("n_name").rlike("^A[LR]")).select(col("n_name"))
      .queryExecution.analyzed
    SqlGen(plan, dialect = d) match {
      case Right(sql) => assert(sql.contains("~ '(?p)^A[LR]'"), sql)
      case Left(u) => fail(s"SqlGen declined: $u")
    }
    // an unvettable pattern keeps the whole subtree in Spark
    val bad = spark.table("nation").filter(col("n_name").rlike("A$"))
      .queryExecution.analyzed
    assert(SqlGen(bad, dialect = d).isLeft)
  }

  // ---- scenario: "catalog DDL renders dialect types" ----

  test("DDL type map mirrors the reference's table, inverted") {
    assert(d.typeName(StringType).contains("TEXT"))
    assert(d.typeName(DoubleType).contains("DOUBLE PRECISION"))
    assert(d.typeName(FloatType).contains("REAL"))
    assert(d.typeName(DecimalType(38, 4)).contains("NUMERIC(38,4)"))
    assert(d.typeName(BinaryType).contains("BYTEA"))
    assert(d.typeName(TimestampType).contains("TIMESTAMP"))
    assert(d.typeName(BooleanType).contains("BOOLEAN"))
    assert(d.typeName(LongType).contains("BIGINT"))
    // no TINYINT on Postgres; arrays/maps fail loudly upstream
    assert(d.typeName(ByteType).isEmpty)
    assert(d.typeName(ArrayType(IntegerType)).isEmpty)
    assert(d.castTypeName(BinaryType).isEmpty) // bytea cast diverges
  }

  // ---- discovery-side type map (reference datatypes.rs:141-176) ----

  test("JDBC discovery maps NUMERIC defaults, TIME, uuid, and array elements") {
    import java.sql.Types
    // constrained NUMERIC keeps its bounds; unconstrained → Decimal(38,4)
    assert(JdbcBackend.sparkType(Types.NUMERIC, 18, 4) == DecimalType(18, 4))
    assert(JdbcBackend.sparkType(Types.NUMERIC, 0, 0) == DecimalType(38, 4))
    assert(JdbcBackend.sparkType(Types.NUMERIC, 131089, 0) == DecimalType(38, 4))
    assert(JdbcBackend.sparkType(Types.TIME, 8, 0) == TimeType(0))
    assert(JdbcBackend.sparkType(Types.OTHER, 0, 0, "uuid") == StringType)
    // the reference-enumerated _ARRAY set (`datatypes.rs:28-80`) maps to
    // ArrayType(element) across the driver naming conventions
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_int4") == ArrayType(IntegerType))
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_bool") == ArrayType(BooleanType))
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_timestamp") == ArrayType(TimestampType))
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "int8[]") == ArrayType(LongType))
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "INTEGER ARRAY") == ArrayType(IntegerType))
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_numeric") == ArrayType(DecimalType(38, 4)))
    // an element off the enumerated set still declines loudly by name
    val e = intercept[IllegalArgumentException] {
      JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_inet")
    }
    assert(e.getMessage.contains("array column type '_inet'"))
  }

  test("ResultSet array decode normalizes driver boxing per element type") {
    import java.sql.ResultSet
    // pgjdbc-shaped fake: a one-column ResultSet whose getArray returns a
    // java.sql.Array of Integer[] under a declared ShortType element (the
    // documented boxing mismatch), plus NULL element and NULL column cases
    def sqlArray(elems: Array[AnyRef]): java.sql.Array =
      java.lang.reflect.Proxy.newProxyInstance(
        getClass.getClassLoader, Array(classOf[java.sql.Array]),
        (_, m, _) => m.getName match {
          case "getArray" => elems
          case "free" => null
          case n => throw new UnsupportedOperationException(n)
        }).asInstanceOf[java.sql.Array]
    def rsOf(value: java.sql.Array): ResultSet =
      java.lang.reflect.Proxy.newProxyInstance(
        getClass.getClassLoader, Array(classOf[ResultSet]),
        (_, m, _) => m.getName match {
          case "getArray" => value
          case "wasNull" => java.lang.Boolean.valueOf(value == null)
          case n => throw new UnsupportedOperationException(n)
        }).asInstanceOf[ResultSet]

    val schema = StructType(Seq(StructField("xs", ArrayType(ShortType))))
    val ds = JdbcBackend.decoders(schema)
    val boxed = sqlArray(Array[AnyRef](
      java.lang.Integer.valueOf(7), null, java.lang.Integer.valueOf(-2)))
    val row = JdbcBackend.decodeRow(rsOf(boxed), ds)
    assert(row.getAs[Seq[Any]](0) === Seq(7.toShort, null, (-2).toShort))
    assert(JdbcBackend.decodeRow(rsOf(null), ds).isNullAt(0))
    // decimal elements rescale to the declared element scale
    val dec = JdbcBackend.decoders(
      StructType(Seq(StructField("ns", ArrayType(DecimalType(38, 4))))))
    val decRow = JdbcBackend.decodeRow(
      rsOf(sqlArray(Array[AnyRef](new java.math.BigDecimal("1.5")))), dec)
    assert(decRow.getAs[Seq[java.math.BigDecimal]](0) ===
      Seq(new java.math.BigDecimal("1.5000")))
  }

  test("the FULL reference conversion table carries an explicit verdict per row") {
    import java.sql.Types
    // reference datatypes.rs:141-176 row by row, as pgjdbc surfaces each
    // (JDBC code + TYPE_NAME). Verdict = a Spark type, or a LOUD decline
    // at discovery — never a silent skip. Deliberate divergences are
    // documented on JdbcBackend.sparkType's scaladoc.
    val mapped = Seq(
      ("smallint / int2", Types.SMALLINT, 5, 0, "int2", ShortType),
      ("integer / int4", Types.INTEGER, 10, 0, "int4", IntegerType),
      ("bigint / int8", Types.BIGINT, 19, 0, "int8", LongType),
      ("boolean (pgjdbc: BIT)", Types.BIT, 1, 0, "bool", BooleanType),
      ("\"char\" / character", Types.CHAR, 1, 0, "bpchar", StringType),
      ("character varying", Types.VARCHAR, 255, 0, "varchar", StringType),
      ("text", Types.VARCHAR, 2147483647, 0, "text", StringType),
      ("bytea", Types.BINARY, 2147483647, 0, "bytea", BinaryType),
      ("date", Types.DATE, 13, 0, "date", DateType),
      ("double precision", Types.DOUBLE, 17, 17, "float8", DoubleType),
      ("real", Types.REAL, 8, 8, "float4", FloatType),
      ("numeric unconstrained", Types.NUMERIC, 0, 0, "numeric",
        DecimalType(38, 4)), // the reference's own default, datatypes.rs:160-162
      ("numeric(18,4)", Types.NUMERIC, 18, 4, "numeric", DecimalType(18, 4)),
      ("time [without time zone]", Types.TIME, 8, 0, "time", TimeType(0)),
      ("time(6)", Types.TIME, 15, 6, "time", TimeType(6)),
      ("timestamp [without time zone]", Types.TIMESTAMP, 29, 6,
        "timestamp", TimestampType), // µs precision, like the reference
      ("timestamp with time zone", Types.TIMESTAMP, 35, 6,
        "timestamptz", TimestampType),
      ("uuid", Types.OTHER, 0, 0, "uuid", StringType))
    mapped.foreach { case (row, code, p, s, tn, want) =>
      assert(JdbcBackend.sparkType(code, p, s, tn) == want, row)
    }
    // the reference's enumerated _ARRAY rows (`datatypes.rs:28-80`) now
    // map instead of declining
    assert(JdbcBackend.sparkType(Types.ARRAY, 0, 0, "_float8") == ArrayType(DoubleType))
    // loud declines: the reference's commented-out rows (anyarray,
    // inet, name, oid) plus interval, where it guessed a unit with a TODO
    Seq(("anyarray", Types.ARRAY, "anyarray"),
      ("inet", Types.OTHER, "inet"),
      ("name", Types.OTHER, "name"),
      ("oid", Types.OTHER, "oid"),
      ("interval", Types.OTHER, "interval")).foreach { case (row, code, tn) =>
      val e = intercept[IllegalArgumentException](
        JdbcBackend.sparkType(code, 0, 0, tn))
      assert(e.getMessage.contains(tn), s"$row decline does not name '$tn'")
    }
    // TOTALITY over the whole java.sql.Types surface: every constant gets
    // a verdict — a non-null Spark type or an IllegalArgumentException
    // carrying the offending name — never null, never a different crash
    val allCodes = classOf[Types].getFields
      .filter(f => java.lang.reflect.Modifier.isStatic(f.getModifiers) &&
        f.getType == java.lang.Integer.TYPE)
      .map(f => f.getName -> f.getInt(null)).toSeq
    assert(allCodes.size > 30, "reflection found too few Types constants")
    allCodes.foreach { case (name, code) =>
      try assert(JdbcBackend.sparkType(code, 10, 2, name.toLowerCase) != null,
        s"$name mapped to null")
      catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage != null && e.getMessage.nonEmpty,
            s"$name: decline without a message")
      }
    }
  }

  // ---- scenario: "fused SQL only calls what Postgres 15 has" ----

  /** Calls Postgres 15 has natively, probed on 15.18 with arguments of the
    * types the generator passes, plus the keywords the rewrites use. */
  private val PgNative = Set("UPPER", "LOWER", "LENGTH", "ABS", "SQRT", "CEIL",
    "FLOOR", "SUBSTRING", "COALESCE", "TRIM", "REPLACE", "LTRIM", "RTRIM",
    "LPAD", "RPAD", "LEAST", "GREATEST", "POWER", "LN", "EXP", "SIGN", "SIN",
    "COS", "TAN", "ASIN", "ACOS", "ATAN", "ATAN2", "DATE_TRUNC", "STDDEV_SAMP",
    "STDDEV_POP", "VAR_SAMP", "VAR_POP", "CORR", "COVAR_SAMP", "COVAR_POP",
    "CAST", "EXTRACT")

  private lazy val fnInput = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(("ab", 1.5, 2.0, 3, java.sql.Date.valueOf("2024-05-06"),
      java.sql.Timestamp.valueOf("2024-05-06 07:08:09")))
      .toDF("s", "x", "y", "i", "d", "t")
  }
  private val fnResolver: SqlGen.TableResolver = {
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some("t")
    case _ => None
  }

  test("every function name SqlGen emits is native on Postgres 15 or declined/rewritten") {
    val s = col("s"); val x = col("x"); val y = col("y"); val dt = col("d")
    // (name the generator emits, a column that makes it emit the name,
    // whether it is an aggregate, verdict on Postgres 15)
    val table: Seq[(String, org.apache.spark.sql.Column, Boolean, String)] = Seq(
      ("UPPER", upper(s), false, "native"),
      ("LOWER", lower(s), false, "native"),
      ("LENGTH", length(s), false, "native"),
      ("ABS", abs(x), false, "native"),
      ("SQRT", sqrt(x), false, "native"),
      ("CEIL", ceil(x), false, "native"),
      ("FLOOR", floor(x), false, "native"),
      ("YEAR", year(dt), false, "rewritten"),
      ("MONTH", month(dt), false, "rewritten"),
      ("DAY", dayofmonth(dt), false, "rewritten"),
      ("ROUND", round(x, 1), false, "declined"),
      ("SUBSTRING", substring(s, 1, 1), false, "native"),
      ("COALESCE", coalesce(s, functions.lit("z")), false, "native"),
      ("TRIM", trim(s), false, "native"),
      ("REPLACE", expr("replace(s, 'a', 'b')"), false, "native"),
      ("INSTR", instr(s, "b"), false, "declined"),
      ("LTRIM", ltrim(s), false, "native"),
      ("RTRIM", rtrim(s), false, "native"),
      ("LPAD", lpad(s, 4, "x"), false, "native"),
      ("RPAD", rpad(s, 4, "x"), false, "native"),
      ("LEAST", least(x, y), false, "native"),
      ("GREATEST", greatest(x, y), false, "native"),
      ("POWER", pow(x, y), false, "native"),
      ("LN", log(x), false, "native"),
      ("EXP", exp(x), false, "native"),
      ("SIGN", signum(x), false, "native"),
      ("SIN", sin(x), false, "native"),
      ("COS", cos(x), false, "native"),
      ("TAN", tan(x), false, "native"),
      ("ASIN", asin(x), false, "native"),
      ("ACOS", acos(x), false, "native"),
      ("ATAN", atan(x), false, "native"),
      ("ATAN2", atan2(x, y), false, "native"),
      ("DATE_TRUNC", date_trunc("month", col("t")), false, "native"),
      ("STDDEV_SAMP", stddev_samp(x), true, "native"),
      ("STDDEV_POP", stddev_pop(x), true, "native"),
      ("VAR_SAMP", var_samp(x), true, "native"),
      ("VAR_POP", var_pop(x), true, "native"),
      ("CORR", corr(x, y), true, "native"),
      ("COVAR_SAMP", covar_samp(x, y), true, "native"),
      ("COVAR_POP", covar_pop(x, y), true, "native"))
    val call = """\b([A-Z_][A-Z_0-9]*)\(""".r
    table.foreach { case (name, c, isAgg, verdict) =>
      val df = if (isAgg) fnInput.agg(c.as("o")) else fnInput.select(c.as("o"))
      val got = SqlGen(df.queryExecution.analyzed, fnResolver, d)
      if (verdict == "declined") assert(got.isLeft, s"$name must stay in Spark: $got")
      else {
        val sql = got.fold(u => fail(s"$name: $u"), identity)
        val called = call.findAllMatchIn(sql).map(_.group(1)).toSet
        assert(called.subsetOf(PgNative),
          s"$name renders calls Postgres 15 lacks: ${called -- PgNative}\n$sql")
        assert(called.contains(name) == (verdict == "native"), s"$name ($verdict): $sql")
      }
    }
    // the table covers every name the generator routes through the
    // dialect's function gate
    val gen = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/plans/SqlGen.scala")), "UTF-8")
    val emitted = """(?:fnCall|call)\("([A-Z_0-9]+)"""".r
      .findAllMatchIn(gen).map(_.group(1)).toSet
    assert(emitted.nonEmpty && emitted == table.map(_._1).toSet,
      s"untested: ${emitted -- table.map(_._1)}; stale: ${table.map(_._1).toSet -- emitted}")
  }

  test("YEAR/MONTH/DAY render as EXTRACT cast back to INTEGER") {
    val df = fnInput.select(year(col("d")).as("y"), month(col("t")).as("m"),
      dayofmonth(col("d")).as("dd"))
    val sql = SqlGen(df.queryExecution.analyzed, fnResolver, d)
      .fold(u => fail(u.toString), identity)
    Seq("YEAR", "MONTH", "DAY").foreach { f =>
      assert(sql.contains(s"CAST(EXTRACT($f FROM "), sql)
      assert(!sql.contains(s"$f("), sql)
    }
  }

  test("fused CASTs use Postgres type names: DOUBLE PRECISION, never bare DOUBLE") {
    val df = fnInput.select((col("x") * col("i")).as("o"))
    val sql = SqlGen(df.queryExecution.analyzed, fnResolver, d)
      .fold(u => fail(u.toString), identity)
    assert(sql.contains("AS DOUBLE PRECISION)") && !sql.contains("AS DOUBLE)"), sql)
  }

  test("ranking windows cast back to INTEGER: Postgres returns them as bigint") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("i")).orderBy(col("x"))
    val df = fnInput.select(row_number().over(w).as("rn"), rank().over(w).as("rk"),
      dense_rank().over(w).as("drk"), ntile(2).over(w).as("nt"))
    val sql = SqlGen(df.queryExecution.analyzed, fnResolver, d)
      .fold(u => fail(u.toString), identity)
    Seq("ROW_NUMBER()", "RANK()", "DENSE_RANK()").foreach { f =>
      assert(sql.contains(s"CAST($f OVER (PARTITION BY"), sql)
    }
    assert(sql.split("AS INTEGER\\)").length == 4, sql)
    // NTILE is already integer on Postgres
    assert(!sql.contains("CAST(NTILE"), sql)
  }
}
