package graft.sources

import org.apache.spark.sql.types._

import graft.plans.SqlGen.Dialect

/** Postgres dialect for the JDBC backend — the backend the reference
  * engine exclusively targets (`/root/reference/src/sqldb/postgres/mod.rs:24-190`).
  * No live server exists in this sandbox; everything here is rendering +
  * type-map logic, unit-tested in `PostgresDialectSpec` against the SQL
  * text each pushdown scenario produces.
  *
  * Dialect facts (vs the hooks' ANSI defaults):
  *  - `LIMIT n OFFSET m`, TRUE/FALSE literals, `IS NOT DISTINCT FROM`,
  *    `%` remainder, and ANSI typed temporal literals are all native —
  *    the inherited defaults are already Postgres-correct.
  *  - Whole-plan fusion is ON: SqlGen's output is "ANSI plus portable
  *    idioms", and Postgres (with DuckDB) is one of the two engines that
  *    surface was written against.
  *  - Regex CAN push (`~`), but only for patterns inside the Java↔ARE
  *    shared-semantics subset ([[PgRegex]]) and only with `(?p)` partial
  *    newline-sensitivity prepended, which pins Postgres' `.` to Java's
  *    no-match-on-newline default. Negated bracket classes are DECLINED:
  *    Java's `[^a]` does match newline while `(?p)` stops brackets-with-^
  *    from matching it, so no prefix aligns them. The reference pushed `~`
  *    unconditionally (`src/parser.rs:668-676`), accepting wrong answers
  *    on exotic patterns; the subset gate keeps pushdown exact.
  *  - The DDL type map mirrors the reference's conversion table
  *    (`src/sqldb/postgres/datatypes.rs:141-176`) inverted to
  *    Spark-type → Postgres-type. Arrays/maps/structs return None —
  *    unsupported-with-loud-failure at the caller, same policy the
  *    reference applies to types off its match (`datatypes.rs:94`).
  */
case object PostgresDialect extends Dialect {
  def quote(n: String): String = "\"" + n.replace("\"", "\"\"") + "\""

  /** A remote backend: a bare chain over one scan keeps the partitioned
    * parallel read; whole-plan fusion handles the rest (joins, aggregates,
    * semi/anti, set ops, windows under a reducer…). */
  override def scanPreferred: Boolean = true
  /** Postgres has no TRY_CAST spelling. */
  override def supportsTryCast: Boolean = false
  /** Gaps in the generator's emitted-name surface: INSTR does not exist
    * (Postgres spells it strpos with swapped args) and ROUND(double, n)
    * has no two-argument double overload (numeric only — rendering it
    * would be a runtime error). YEAR/MONTH/DAY are rewritten
    * ([[functionCall]]); everything else the generator emits is native
    * (`PostgresDialectSpec` checks the whole list). */
  override def supportsFunction(name: String): Boolean =
    name != "INSTR" && name != "ROUND"
  /** No YEAR/MONTH/DAY functions exist on Postgres; EXTRACT is the native
    * spelling. It returns NUMERIC, so the cast restores Spark's INT. */
  override def functionCall(name: String, args: Seq[String]): Option[String] =
    name match {
      case "YEAR" | "MONTH" | "DAY" =>
        Some(s"CAST(EXTRACT($name FROM ${args.head}) AS INTEGER)")
      case _ => super.functionCall(name, args)
    }
  /** AVG over integer types yields NUMERIC on Postgres but DOUBLE on
    * Spark; casting the argument aligns both the wire type and the
    * accumulation semantics. */
  override def avgArg(arg: String, dt: DataType): Option[String] = dt match {
    case ShortType | IntegerType | LongType | FloatType =>
      Some(s"CAST($arg AS DOUBLE PRECISION)")
    case other => super.avgArg(arg, other)
  }

  /** `(?p)` = partial newline-sensitivity: `.` stops matching newline
    * (Java's default) while `^`/`$` keep anchoring at string boundaries
    * only (also Java's default — full `(?n)` would move them to every
    * line). NOTE `(?p)` also stops NEGATED BRACKET classes from matching
    * newline, which Java's `[^a]` DOES match — that's why
    * [[PgRegex.sharedSemantics]] declines `[^…]` outright rather than
    * relying on this prefix. Only vets LITERAL patterns: a computed
    * pattern expression can't be checked against the shared subset. */
  override def regexpMatch(subject: String, pattern: String): Option[String] =
    if (pattern.length >= 2 && pattern.head == '\'' && pattern.last == '\'') {
      val raw = pattern.substring(1, pattern.length - 1).replace("''", "'")
      if (PgRegex.sharedSemantics(raw))
        Some(s"($subject ~ '(?p)${raw.replace("'", "''")}')")
      else None
    } else None

  override def typeName(dt: DataType): Option[String] = dt match {
    case StringType => Some("TEXT")
    case BooleanType => Some("BOOLEAN")
    case ShortType => Some("SMALLINT")
    case IntegerType => Some("INTEGER")
    case LongType => Some("BIGINT")
    case FloatType => Some("REAL")
    case DoubleType => Some("DOUBLE PRECISION")
    case DateType => Some("DATE")
    // Postgres TIMESTAMP is zoneless: the exact type NTZ models; TZ
    // works under the pinned UTC session (same note as Derby)
    case TimestampType | TimestampNTZType => Some("TIMESTAMP")
    // Postgres NUMERIC takes any Spark precision (its ceiling is 1000
    // digits vs Spark's 38 — no Derby-style cap needed)
    case d: DecimalType => Some(s"NUMERIC(${d.precision},${d.scale})")
    case BinaryType => Some("BYTEA")
    case _: TimeType => Some("TIME")
    // ByteType: Postgres has no TINYINT and SMALLINT would silently widen
    // the round-tripped schema (same reasoning as Derby). Arrays et al.:
    // None → callers fail loudly instead of guessing.
    case _ => None
  }

  /** CAST targets: creatable types minus BYTEA — `CAST(text AS BYTEA)`
    * parses the string as a bytea LITERAL (hex/escape format) on Postgres
    * but yields the UTF-8 bytes on Spark, so that upcast must stay a Spark
    * residual. Everything else in [[typeName]] has matching cast semantics
    * for the lossless-upcast inputs the V2 renderer restricts itself to. */
  override def castTypeName(dt: DataType): Option[String] = dt match {
    case BinaryType => None
    case other => typeName(other)
  }
}

/** The Java-regex ↔ Postgres-ARE shared-semantics subset. Conservative by
  * construction: anything not provably identical in both engines declines
  * (the predicate then stays a Spark residual — correct, just unpushed).
  *
  * Allowed: plain characters, `.`, positive bracket classes, `^`,
  * alternation, greedy/non-greedy quantifiers (`* + ? {m,n}`), plain and
  * `(?:` groups, class shorthands `\d \s \w` (+negations), and escaped
  * metacharacters.
  *
  * Declined, with the divergence each would smuggle in:
  *  - `$`            Java also matches before a FINAL trailing newline;
  *                   Postgres `(?p)` anchors at end-of-string only
  *  - `[^…]`         negated bracket class: Java's `[^a]` matches newline
  *                   but `(?p)` makes Postgres' never match it (and
  *                   WITHOUT `(?p)` the `.` semantics break instead, so
  *                   no prefix fixes both) — decline
  *  - `\b`           word boundary in Java, BACKSPACE in ARE (`\y` is
  *                   ARE's boundary — spelled differently, so neither pushes)
  *  - `\A \z \Z \y \m \M`, backreferences `\1`…  — one engine only
  *  - `(?=  (?!  (?<`  lookaround: Java yes, ARE no
  *  - `(?i` & friends  inline flags: different scoping rules
  *  - `[[:alpha:]]`  POSIX classes: ARE yes, Java no
  *  - `\Q \E \p{…} \uXXXX \xNN \cX` Java-only escape forms
  */
private[sources] object PgRegex {
  def sharedSemantics(p: String): Boolean = {
    // "[[" opens ARE's POSIX bracket constructs — character classes
    // [[:alpha:]], collating elements [[.x.]], equivalence classes
    // [[=a=]] — none of which Java regex has (it parses a nested class
    // instead). A literal '[' inside a plain class is rare enough that
    // declining every "[[" is cheap conservatism, not lost coverage.
    if (p.contains("[[")) return false
    var i = 0
    while (i < p.length) {
      p.charAt(i) match {
        case '$' => return false
        case '\\' =>
          if (i + 1 >= p.length) return false
          val c = p.charAt(i + 1)
          val classShorthand = "dswDSW".contains(c)
          val controlEscape = "nrtf".contains(c) // same chars both engines
          // \ + non-alphanumeric is "that character, literally" in ARE and
          // Java alike; \ + any OTHER alphanumeric is engine-specific
          val literalEscape = !c.isLetterOrDigit
          if (!(classShorthand || controlEscape || literalEscape)) return false
          i += 2
        case '(' =>
          // plain groups and (?: agree; every other (?… construct diverges
          if (i + 1 < p.length && p.charAt(i + 1) == '?' &&
              (i + 2 >= p.length || p.charAt(i + 2) != ':')) return false
          i += 1
        case '[' =>
          // this '[' is unescaped (the '\\' arm consumes escaped pairs),
          // so it opens a bracket class; '^' right after it negates it
          if (i + 1 < p.length && p.charAt(i + 1) == '^') return false
          i += 1
        case _ => i += 1
      }
    }
    true
  }
}
