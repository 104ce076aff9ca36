package graft.plans

import java.io.File
import java.security.MessageDigest

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, Cast, Coalesce, Divide, Expression, Literal, NamedExpression, PlanExpression, V2ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.sources.{GraftScan, GraftSqlTable, SqlBackend}

/** Aggregate materialized views with transparent roll-up rewrite — the
  * classic OLAP accelerant (the reference's RDBMS targets ship it as
  * CREATE MATERIALIZED VIEW; Spark has no built-in equivalent, so this is
  * a custom `Rule[LogicalPlan]` per the brief's extension ladder).
  *
  * A view pre-aggregates a base file-source table by a dimension set,
  * storing per measure the four derivable partials (SUM/COUNT/MIN/MAX)
  * plus COUNT(*). [[MvRewriteRule]] then rewrites any query aggregate
  * over the SAME base whose group-by columns are a subset of the view's
  * dimensions, whose filters touch only dimensions, and whose aggregates
  * are derivable (SUM→SUM of sums, COUNT→SUM of counts, MIN/MAX→MIN/MAX,
  * AVG→SUM/SUM) into a roll-up over the view scan.
  *
  * The 100 TB story: a fact table at that scale is ~10^12 rows; a
  * dimensional roll-up is bounded by the dimension-value cross product
  * (here |returnflag|×|linestatus| = 3×2 = 6 rows at ANY
  * fact scale), so every matching dashboard/report query drops from a
  * full parquet scan + shuffle to a sub-second scan of kilobytes. The
  * rewrite is correctness-preserving by construction (partial aggregates
  * re-aggregate associatively); anything outside the derivable surface —
  * non-dimension filters, DISTINCT, measure expressions the view never
  * recorded — declines and runs against the base table unchanged.
  *
  * Staleness contract (same as every MV system): the view is a snapshot;
  * [[MaterializedViews.ensure]] fingerprints the base files (path, size,
  * mtime) into the view location, so a changed base auto-invalidates at
  * the next ensure(); writes to the base between ensure() calls are the
  * user's refresh responsibility. */
final case class MvDef(
    name: String,
    basePaths: Set[String],
    dims: Set[String],
    /** normalized measure-expression key → measure alias `k`; the view
      * stores sum_k / cnt_k / min_k / max_k for each. */
    measureKeys: Map[String, String],
    mvPath: String)

object MaterializedViews {

  private val defs = TrieMap.empty[String, MvDef] // keyed by mvPath
  private val relCache = TrieMap.empty[(SparkSession, String), LogicalRelation]

  private[plans] def isEmpty: Boolean = defs.isEmpty
  /** Matching views, coarsest (fewest dimensions → fewest rows) first, so
    * when several subsume a query the cheapest wins; name-tiebroken for
    * run-to-run plan determinism (TrieMap iteration order is not). */
  private[plans] def candidatesFor(paths: Set[String]): Seq[MvDef] =
    defs.values.filter(_.basePaths == paths).toSeq
      .sortBy(d => (d.dims.size, d.name))

  /** Structural expression key, exprId-free: two expressions over the same
    * base relation get equal keys iff they are the same tree over the same
    * column names. Order-sensitive on purpose — a commuted operand order
    * declines the rewrite (safe) rather than risking a false match. Keys
    * are computed from OPTIMIZED expressions on both sides, so constant
    * folding (e.g. a cast-wrapped literal) normalizes identically at
    * record time and match time. */
  private[graft] def exprKey(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case al: Alias => exprKey(al.child)
    // Literal.sql is a stable rendering even for array/binary-backed
    // values (String.valueOf would print object identities)
    case l: Literal => l.sql + ":" + l.dataType.simpleString
    case c: Cast =>
      // target type AND eval mode are part of the semantics: try_cast
      // and ansi cast differ exactly where a rewrite must not equate them
      s"Cast[${c.dataType.simpleString},${c.evalMode}](${exprKey(c.child)})"
    case _ =>
      // dataType in the key guards same-named operators whose semantics
      // ride on a type parameter rather than on children
      e.getClass.getSimpleName + ":" + e.dataType.simpleString +
        e.children.map(exprKey).mkString("(", ",", ")")
  }

  /** Identity string for a FEDERATED base table: backend name (stable per
    * dir/url — instances are cached on it) + table. Plays the role file
    * rootPaths play for parquet bases in [[MvDef.basePaths]]. */
  private[plans] def fedIdentity(backend: SqlBackend, table: String): String =
    s"graft-sqldb:${backend.name}#$table"

  private def relationPaths(p: LogicalPlan): Option[Set[String]] = p match {
    case s: SubqueryAlias => relationPaths(s.child)
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }
    case _ => fedLeaf(p).map { case (b, t) => Set(fedIdentity(b, t)) }
  }

  /** The federated leaf's backend+table, when the base is one. ensure()
    * reads the ANALYZED plan, so this is always the unpushed relation. */
  private def fedLeaf(p: LogicalPlan): Option[(SqlBackend, String)] = p match {
    case s: SubqueryAlias => fedLeaf(s.child)
    case DataSourceV2Relation(t: GraftSqlTable, _, _, _, _, _) =>
      Some((t.backend, t.tableName))
    case _ => None
  }

  /** Fingerprint of the base table's files — (path, length, mtime) per
    * file — plus the view definition. Lands in the view's storage path, so
    * re-ensure() over changed data computes a fresh view instead of
    * serving a stale one. */
  /** SHA-256 over (path, length, mtime) of every file under `paths`
    * (recursive, name-sorted) — the shared change-detection walk for
    * derived-data stores (this MV store, `Layout.ensureZOrdered`).
    * Per-FILE on purpose: a directory's own length/mtime is filesystem-
    * dependent and an in-place file rewrite may not bump it. */
  private[graft] def filesFingerprint(paths: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = md.update(s.getBytes("UTF-8"))
    def feedFile(f: File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(feedFile)
      else feed(s"${f.getPath}:${f.length}:${f.lastModified};")
    paths.sorted.foreach { p =>
      feed(p)
      val f = new File(p.stripPrefix("file:"))
      if (f.exists) feedFile(f)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Collision-free key for a parameter string embedded in a persistent
    * name (r15 advisory: 32-bit `hashCode` keys can collide two configs
    * onto one cached path). SHA-256; callers choose the prefix width —
    * 8 bytes (64-bit) for fixture salts, 12 (96-bit, the r14 advisory
    * fix's chosen margin) for streaming staging/database keys. */
  private[graft] def stringFingerprint(s: String, nBytes: Int = 8): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s.getBytes("UTF-8"))
    md.digest().take(nBytes).map("%02x".format(_)).mkString
  }

  private def fingerprint(basePaths: Set[String], dims: Seq[String],
      measureKeys: Seq[(String, String)], baseVersion: String = ""): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def feed(s: String): Unit = md.update(s.getBytes("UTF-8"))
    feed(filesFingerprint(basePaths.toSeq))
    feed(baseVersion)
    dims.foreach(feed)
    measureKeys.foreach { case (k, v) => feed(s"$k=$v;") }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Create (or reuse, when the fingerprinted parquet already exists) a
    * materialized view and register it for rewrite. `base` must be a
    * plain file-source table scan; `measures` are (alias, expression)
    * pairs over the base columns. Idempotent across JVMs: the view path
    * encodes the definition + base-file fingerprint, and an existing
    * `_SUCCESS` marker skips recompute. */
  def ensure(spark: SparkSession, name: String, base: DataFrame,
      dims: Seq[String], measures: Seq[(String, Column)]): MvDef = synchronized {
    require(dims.nonEmpty && measures.nonEmpty, "need dims and measures")
    val reserved = Set("cnt") ++ measures.flatMap { case (k, _) =>
      Seq(s"sum_$k", s"cnt_$k", s"min_$k", s"max_$k") }
    require(dims.forall(d => !reserved.contains(d)),
      s"dimension names collide with derived measure columns: $reserved")
    val analyzed = base.queryExecution.analyzed
    val basePaths = relationPaths(analyzed).getOrElse(
      throw new IllegalArgumentException(
        "materialized-view base must be a plain file-source or graft-sqldb table scan"))
    // a federated base has no files to fingerprint; a COUNT(*) probe is
    // the change signal instead (one scalar query at ensure() time).
    // Weaker than the per-file walk — a same-cardinality mutation goes
    // undetected until the user re-ensures — which is the classic manual-
    // refresh MV contract every RDBMS ships.
    val baseVersion = fedLeaf(analyzed) match {
      case Some((backend, t)) =>
        "rows=" + backend.executeSql(
          s"SELECT COUNT(*) FROM ${backend.dialect.quote(t)}")
          .head.get(0).toString
      case None => ""
    }
    // measure keys from the OPTIMIZED projection — the same constant
    // folding the rewrite rule sees at match time
    val measureKeys: Seq[(String, String)] =
      base.select(measures.map { case (k, c) => c.as(k) }: _*)
        .queryExecution.optimizedPlan match {
        case Project(pl, _) => pl.map {
          case al: Alias => exprKey(al.child) -> al.name
          case other => exprKey(other) -> other.name
        }
        case other => throw new IllegalStateException(
          s"unexpected measure plan shape: ${other.nodeName}")
      }
    val fp = fingerprint(basePaths, dims, measureKeys, baseVersion)
    val mvPath = new File(new File(
      sys.props("java.io.tmpdir"), "graft-mv"), s"$name-$fp").getPath
    if (!new File(mvPath, "_SUCCESS").exists()) {
      val aggCols = count(lit(1)).as("cnt") +: measures.flatMap { case (k, c) =>
        Seq(sum(c).as(s"sum_$k"), count(c).as(s"cnt_$k"),
          min(c).as(s"min_$k"), max(c).as(s"max_$k")) }
      base.groupBy(dims.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .write.mode("overwrite").parquet(mvPath)
    }
    // record the per-file base manifest so a later ensureIncremental can
    // prove "the base only grew" and fold instead of recomputing
    if (fedLeaf(analyzed).isEmpty) writeManifest(mvPath, manifestOf(basePaths))
    // a re-ensure over changed base data gets a new fingerprint: retire
    // same-name defs pointing at older snapshots of the same base
    defs.filterInPlace((_, d) => !(d.name == name && d.basePaths == basePaths &&
      d.mvPath != mvPath))
    val d = MvDef(name, basePaths, dims.toSet, measureKeys.toMap, mvPath)
    defs.put(mvPath, d)
    d
  }

  /** Drop a view from the rewrite registry (its parquet stays on disk). */
  def drop(name: String): Unit =
    defs.filterInPlace((_, d) => d.name != name)

  // ---- incremental refresh ---------------------------------------------

  /** Per-file manifest of a file-backed base: path → (length, mtime).
    * The unit of incremental refresh — a re-ensure whose manifest only
    * GREW folds the added files instead of recomputing the base. */
  private def manifestOf(basePaths: Set[String]): Map[String, (Long, Long)] = {
    // DATA files only (Spark's own FileIndex rule): _SUCCESS and .crc
    // markers are rewritten by every append and would make append-only
    // growth look like mutation
    def data(f: File): Boolean =
      !f.getName.startsWith("_") && !f.getName.startsWith(".")
    def walk(f: File): Seq[File] =
      if (f.isDirectory)
        f.listFiles().filter(data).sortBy(_.getName).toSeq.flatMap(walk)
      else Seq(f)
    basePaths.toSeq.sorted.flatMap { p =>
      val f = new File(p.stripPrefix("file:"))
      if (f.exists) walk(f) else Nil
    }.map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  private def writeManifest(mvPath: String,
      m: Map[String, (Long, Long)]): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mvPath, "_BASE_MANIFEST"), // _-prefix: the
      // parquet reader's FileIndex skips it, so it can live in the view dir
      m.toSeq.sorted.map { case (p, (l, t)) => s"$l\t$t\t$p" }.mkString("\n"))

  private def readManifest(mvPath: String): Option[Map[String, (Long, Long)]] = {
    val f = new File(mvPath, "_BASE_MANIFEST")
    if (!f.exists) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split('\n').filter(_.nonEmpty).map { line =>
        val Array(l, t, p) = line.split('\t')
        p -> (l.toLong, t.toLong)
      }.toMap)
  }

  /** Refresh `name` INCREMENTALLY when the base only GREW: aggregate just
    * the added files and fold their partials into the previous snapshot —
    * the same associative re-aggregation the streaming maintainer runs —
    * for cost O(|added data| + |view|) instead of O(|base|). At 100 TB
    * this is the difference between a nightly append re-reading a year of
    * history and re-reading one day. Any other change — modified or
    * deleted files, a different definition, a federated base, no prior
    * view — falls back to [[ensure]]'s full recompute: MIN/MAX partials
    * cannot un-see removed rows, so additions are exactly the safe
    * surface. Returns the def and which path ran ("full" | "incremental"
    * | "reuse"), so callers and tests observe the decision instead of
    * trusting it. */
  def ensureIncremental(spark: SparkSession, name: String, base: DataFrame,
      dims: Seq[String], measures: Seq[(String, Column)])
      : (MvDef, String) = synchronized {
    val analyzed = base.queryExecution.analyzed
    val filePaths = relationPaths(analyzed).filter(_ => fedLeaf(analyzed).isEmpty)
    val prev = defs.values.find(d => d.name == name &&
      filePaths.contains(d.basePaths) && d.dims == dims.toSet)
    val current = filePaths.map(manifestOf)
    (filePaths, prev, prev.flatMap(d => readManifest(d.mvPath)), current) match {
      case (Some(paths), Some(old), Some(recorded), Some(cur))
          if recorded.forall { case (p, lm) => cur.get(p).contains(lm) } =>
        val added = (cur.keySet -- recorded.keySet).toSeq.sorted
        if (added.isEmpty) {
          // unchanged base — but a changed DEFINITION (different measure
          // set) still full-recomputes under a new fingerprint inside
          // ensure(); label by what actually happened, not the premise
          val d = ensure(spark, name, base, dims, measures)
          (d, if (d.mvPath == old.mvPath) "reuse" else "full")
        }
        else {
          // the definition part of the key must match too, else fall back
          val d = incrementalFold(spark, name, base, old, added, paths,
            cur, dims, measures)
          d.map((_, "incremental"))
            .getOrElse((ensure(spark, name, base, dims, measures), "full"))
        }
      case _ => (ensure(spark, name, base, dims, measures), "full")
    }
  }

  private def incrementalFold(spark: SparkSession, name: String,
      base: DataFrame, old: MvDef, addedFiles: Seq[String],
      basePaths: Set[String], manifest: Map[String, (Long, Long)],
      dims: Seq[String], measures: Seq[(String, Column)]): Option[MvDef] = {
    // same key derivation as ensure(): a changed measure set must not
    // silently fold into a view recording different partials
    val measureKeys: Seq[(String, String)] =
      base.select(measures.map { case (k, c) => c.as(k) }: _*)
        .queryExecution.optimizedPlan match {
        case Project(pl, _) => pl.map {
          case al: Alias => exprKey(al.child) -> al.name
          case other => exprKey(other) -> other.name
        }
        case _ => return None
      }
    if (measureKeys.toMap != old.measureKeys) return None
    val fp = fingerprint(basePaths, dims, measureKeys)
    val mvPath = new File(new File(
      sys.props("java.io.tmpdir"), "graft-mv"), s"$name-$fp").getPath
    if (!new File(mvPath, "_SUCCESS").exists()) {
      val aggCols = count(lit(1)).as("cnt") +: measures.flatMap { case (k, c) =>
        Seq(sum(c).as(s"sum_$k"), count(c).as(s"cnt_$k"),
          min(c).as(s"min_$k"), max(c).as(s"max_$k")) }
      val partial = spark.read.schema(base.schema)
        .parquet(addedFiles: _*)
        .groupBy(dims.map(col): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      val reAgg = sum(col("cnt")).as("cnt") +: measures.flatMap {
        case (k, _) => Seq(
          sum(col(s"sum_$k")).as(s"sum_$k"),
          sum(col(s"cnt_$k")).as(s"cnt_$k"),
          min(col(s"min_$k")).as(s"min_$k"),
          max(col(s"max_$k")).as(s"max_$k"))
      }
      // fold, then pin every partial back to the type a FULL recompute
      // yields (sum-of-sums re-widens decimals; the folded VALUE equals
      // the full sum, so the cast is value-safe exactly when the full
      // recompute is)
      val folded = spark.read.parquet(old.mvPath)
        .unionByName(partial)
        .groupBy(dims.map(col): _*)
        .agg(reAgg.head, reAgg.tail: _*)
        .select(dims.map(col) ++ partial.schema.fields
          .filterNot(f => dims.contains(f.name))
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      folded.write.mode("overwrite").parquet(mvPath)
    }
    writeManifest(mvPath, manifest)
    defs.filterInPlace((_, d) => !(d.name == name && d.basePaths == basePaths &&
      d.mvPath != mvPath))
    val d = MvDef(name, basePaths, dims.toSet, measureKeys.toMap, mvPath)
    defs.put(mvPath, d)
    Some(d)
  }

  /** A fresh-exprId copy of the view's relation for splicing into a query
    * plan (two rewrites in one plan must not share attribute ids). */
  private[plans] def freshRelation(spark: SparkSession,
      mvPath: String): LogicalRelation = {
    val base = relCache.getOrElseUpdate((spark, mvPath),
      spark.read.parquet(mvPath).queryExecution.analyzed match {
        case l: LogicalRelation => l
        case other => throw new IllegalStateException(
          s"unexpected view plan: ${other.nodeName}")
      })
    base.newInstance()
  }

  /** Runtime installation on an existing session (the rewrite half of
    * [[GraftExtensions.install]]). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(MvRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ MvRewriteRule

  // ---- streaming maintenance -------------------------------------------

  /** Maintain a roll-up view from a STREAM: each micro-batch's partial
    * aggregate folds into a versioned parquet snapshot (read current →
    * union → re-aggregate → write next version → atomically advance a
    * CURRENT marker). The snapshot is dimension-bounded, so the per-batch
    * rewrite is O(|dims cross product| + |batch|) regardless of how much
    * history the view summarizes — the Kappa-style serving pattern: the
    * stream folds forever, batch queries read kilobytes.
    *
    * Restart-safe: the marker records the last folded batch id, and a
    * replayed micro-batch (foreachBatch retries after failure/restart)
    * is skipped instead of double-counted. The marker advances by
    * tmp-file rename AFTER the snapshot write succeeds, so a crash
    * between the two leaves the previous consistent version current. */
  def maintainStream(stream: DataFrame, viewPath: String, dims: Seq[String],
      measures: Seq[(String, Column)])
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        mergeBatch(batch, id, viewPath, dims, measures)
      }
      .start()

  private[graft] def mergeBatch(batch: DataFrame, id: Long, viewPath: String,
      dims: Seq[String], measures: Seq[(String, Column)]): Unit = synchronized {
    val dir = new File(viewPath)
    dir.mkdirs()
    val marker = new File(dir, "CURRENT")
    val (curVer, lastBatch): (Long, Long) =
      if (marker.exists) {
        val Array(v, b) = new String(
          java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
          .trim.split(' ')
        (v.toLong, b.toLong)
      } else (-1L, -1L)
    if (id <= lastBatch) return // replayed batch — already folded
    val aggCols = count(lit(1)).as("cnt") +: measures.flatMap { case (k, c) =>
      Seq(sum(c).as(s"sum_$k"), count(c).as(s"cnt_$k"),
        min(c).as(s"min_$k"), max(c).as(s"max_$k")) }
    val partial = batch.groupBy(dims.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    val merged =
      if (curVer < 0) partial
      else {
        val reAgg = sum(col("cnt")).as("cnt") +: measures.flatMap {
          case (k, _) => Seq(
            sum(col(s"sum_$k")).as(s"sum_$k"),
            sum(col(s"cnt_$k")).as(s"cnt_$k"),
            min(col(s"min_$k")).as(s"min_$k"),
            max(col(s"max_$k")).as(s"max_$k"))
        }
        batch.sparkSession.read.parquet(s"$viewPath/v$curVer")
          .unionByName(partial)
          .groupBy(dims.map(col): _*)
          .agg(reAgg.head, reAgg.tail: _*)
      }
    val nextVer = curVer + 1
    merged.write.mode("overwrite").parquet(s"$viewPath/v$nextVer")
    val tmp = new File(dir, s".CURRENT.$nextVer.tmp")
    java.nio.file.Files.write(tmp.toPath, s"$nextVer $id".getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, marker.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // GC: keep current + previous (a reader may hold the prior version)
    val old = new File(dir, s"v${nextVer - 2}")
    if (nextVer >= 2 && old.exists)
      old.listFiles().foreach(_.delete())
    if (nextVer >= 2) old.delete()
  }

  /** Read the current snapshot of a stream-maintained view. */
  def readView(spark: SparkSession, viewPath: String): DataFrame = {
    val marker = new File(viewPath, "CURRENT")
    require(marker.exists, s"no CURRENT marker under $viewPath")
    val ver = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      .trim.split(' ')(0)
    spark.read.parquet(s"$viewPath/v$ver")
  }

  // ---- driver-oracle entries -------------------------------------------

  private def discPrice: Column =
    col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** The oracle entry runs the query against the BASE table; the installed
    * rewrite serves it from the 42-row view. `MaterializedViewSpec` pins
    * that the plan actually scans the view — without that, a silently
    * dead rewrite would still pass this oracle. */
  private def rollupQuery(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.avg
    li.filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_extendedprice")).as("avg_price"),
        sum(discPrice).as("sum_disc_price"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // the SAME query without the rewrite rule — its bench delta against
    // mv_rollup is the measured value of the view, and its oracle row
    // keeps the pair honest (identical results, different plans)
    "mv_rollup_base" -> ((spark: SparkSession, dir: String) =>
      rollupQuery(graft.Tables.load(spark, dir, "lineitem"))),
    "mv_rollup" -> ((spark0: SparkSession, dir: String) => {
      val spark = spark0.newSession() // scope the rewrite rule to the entry
      install(spark)
      val li = graft.Tables.load(spark, dir, "lineitem")
      ensure(spark, "li_pricing", li,
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          "qty" -> col("l_quantity"),
          "price" -> col("l_extendedprice"),
          "disc_price" -> discPrice))
      rollupQuery(li)
    }),
    // the SAME roll-up over a FEDERATED base (graft-sqldb): the rewrite
    // runs after V2 scan pushdown and reads the dim filter back out of the
    // scan that absorbed it. The pushdown rule is installed too, so the
    // view itself is built by one backend GROUP BY (a partitioned scan
    // would sum the doubles in a different order). At 100 TB the delta is
    // even starker than the parquet pair's: the base query ships the
    // backend's aggregate over the wire every run, the view serves 6 rows
    // from local kilobytes.
    "mv_rollup_fed" -> ((spark0: SparkSession, dir: String) => {
      val spark = spark0.newSession() // scope the graft rules to the entry
      GraftExtensions.install(spark)
      val li = spark.read.format("graft-sqldb").option("dir", dir)
        .option("table", "lineitem").load()
      ensure(spark, "li_pricing_fed", li,
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          "qty" -> col("l_quantity"),
          "price" -> col("l_extendedprice"),
          "disc_price" -> discPrice))
      rollupQuery(li)
    }))


  private val rollupOracleSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       SUM(l_quantity) AS sum_qty,
      |       AVG(l_extendedprice) AS avg_price,
      |       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
      |       MIN(l_quantity) AS min_qty,
      |       MAX(l_quantity) AS max_qty,
      |       COUNT(*) AS n
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // all three entries share one oracle text: identical results, different
  // plans — the differ proves the rewrite changes nothing but the scan
  val oracle: Seq[(String, String)] = Seq(
    "mv_rollup_base" -> rollupOracleSql,
    "mv_rollup" -> rollupOracleSql,
    "mv_rollup_fed" -> rollupOracleSql)
}

/** Rewrites derivable aggregates over a registered base table into
  * roll-ups over the materialized view. Declines (leaves the plan
  * untouched) on anything outside the provably-derivable surface. */
object MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MaterializedViews.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }

  /** Aggregate(child = [attr-only Project | deterministic Filter |
    * SubqueryAlias]* over a base relation) → filters + base identity.
    *
    * The rule runs in `extraOptimizations`, after V2 scan pushdown, so
    * there are two leaf forms. Over a file-source [[LogicalRelation]] every
    * filter in the query is still a visible Filter node. A federated
    * [[DataSourceV2ScanRelation]] may have absorbed some of them: its
    * [[GraftScan]] hands back the static predicates it pushed, which join
    * the visible ones, so the dims-only check below sees the complete
    * predicate set either way. The aggregate itself is always a visible
    * node here: the scan never absorbs one (joins and aggregates reach a
    * backend only by fusion, which runs after this rule). The scan
    * declines when it absorbed anything besides predicates (limit/offset/
    * top-N, runtime filter), and so does any absorbed predicate that does
    * not convert back ([[absorbed]]): dropping one would silently widen
    * the result. */
  private def destructure(p: LogicalPlan,
      filters: List[Expression]): Option[(List[Expression], Set[String])] =
    p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        destructure(c, filters)
      case Filter(cond, c) if cond.deterministic &&
          cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty =>
        destructure(c, cond :: filters)
      case s: SubqueryAlias => destructure(s.child, filters)
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        Some((filters,
          l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths
            .map(_.toString).toSet))
      case s: DataSourceV2ScanRelation => s.scan match {
        case g: GraftScan => g.staticPredicates.map { ps =>
          val pushed = ps.map(absorbed(_, s.relation.output).getOrElse(return None))
          (pushed.toList ++ filters, Set(MaterializedViews.fedIdentity(g.backend, g.table)))
        }
        case _ => None
      }
      case _ => None
    }

  /** A predicate a federated scan absorbed, back in Catalyst form over the
    * relation's full output (the scan's own output is pruned). None when
    * Spark cannot convert it, or when it holds a Cast: the rebuilt cast's
    * ANSI flag need not match the query's. */
  private def absorbed(p: Predicate, output: Seq[Attribute]): Option[Expression] =
    V2ExpressionUtils.toCatalyst(p).map(_.transform {
      case u: UnresolvedAttribute =>
        output.find(a => u.nameParts == Seq(a.name)).getOrElse(return None)
    }).filter(e => e.resolved && !e.exists(_.isInstanceOf[Cast]))

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (filters, paths) = destructure(agg.child, Nil).getOrElse(return None)
    val candidates = MaterializedViews.candidatesFor(paths)
    if (candidates.isEmpty) return None
    candidates.view.flatMap(tryOne(agg, filters, _)).headOption
  }

  private def tryOne(agg: Aggregate, filters: List[Expression],
      mv: MvDef): Option[LogicalPlan] = {
    // group-by columns must be plain dimension attributes
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if mv.dims.contains(a.name) => a
      case _ => return None
    }
    val groupNames = groupAttrs.map(_.name).toSet
    // filters may touch dimensions only (a filter on a measure would need
    // pre-aggregation rows the view no longer has)
    if (!filters.forall(_.references.forall(a => mv.dims.contains(a.name))))
      return None

    val spark = SparkSession.active
    val mvRel = MaterializedViews.freshRelation(spark, mv.mvPath)
    val mvAttr: Map[String, Attribute] = mvRel.output.map(a => a.name -> a).toMap
    // the view must carry every referenced column (schema drift guard)
    def attr(name: String): Option[Attribute] = mvAttr.get(name)

    def sumOf(a: Attribute): Expression =
      Sum(a).toAggregateExpression()
    // no later optimizer batch strips a no-op cast, so emit none
    def asDouble(e: Expression): Expression =
      if (e.dataType == DoubleType) e else Cast(e, DoubleType)
    def measureOf(e: Expression): Option[String] =
      mv.measureKeys.get(MaterializedViews.exprKey(e))
    // an ungrouped COUNT over an empty (or fully filtered) view must be 0,
    // not the NULL an empty SUM yields
    def countGuard(e: Expression): Expression =
      if (agg.groupingExpressions.isEmpty) Coalesce(Seq(e, Literal(0L))) else e

    def rewriteAggExpr(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null && !ae.isDistinct =>
          // COUNT(*) / COUNT(lit): non-null literal only — COUNT(NULL)
          // is identically 0, not the row count
          attr("cnt").map(a => countGuard(sumOf(a)))
        case Count(Seq(e)) if !ae.isDistinct =>
          measureOf(e).flatMap(k => attr(s"cnt_$k")).map(a => countGuard(sumOf(a)))
        case s: Sum if !ae.isDistinct =>
          measureOf(s.child).flatMap(k => attr(s"sum_$k")).flatMap { a =>
            // re-summing keeps the eval context (ANSI overflow etc.); cast
            // recovers the exact query type where SUM widens per level
            // (decimal); totals fit by the query's own type contract
            val re = s.withNewChildren(Seq(a))
              .asInstanceOf[Sum].toAggregateExpression()
            if (re.dataType == ae.dataType) Some(re)
            else if (Cast.canCast(re.dataType, ae.dataType))
              Some(Cast(re, ae.dataType))
            else None
          }
        case m: Min => // DISTINCT is a no-op for MIN/MAX
          measureOf(m.child).flatMap(k => attr(s"min_$k"))
            .map(a => Min(a).toAggregateExpression())
        case m: Max =>
          measureOf(m.child).flatMap(k => attr(s"max_$k"))
            .map(a => Max(a).toAggregateExpression())
        case a: Average if !ae.isDistinct && ae.dataType == DoubleType =>
          // AVG(double) = SUM(sum_k)/SUM(cnt_k); null semantics line up:
          // a group with no non-null measure has sum_k NULL → NULL, and
          // cnt_k > 0 whenever sum_k is non-null (no 0-divisor case)
          measureOf(a.child).flatMap { k =>
            (attr(s"sum_$k"), attr(s"cnt_$k")) match {
              case (Some(s), Some(c)) =>
                Some(Divide(asDouble(sumOf(s)), asDouble(sumOf(c))))
              case _ => None
            }
          }
        case _ => None
      }
    }

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAggExpr(ae)
      case a: AttributeReference if groupNames.contains(a.name) =>
        attr(a.name)
      case _: AttributeReference => None
      case l: Literal => Some(l)
      case _ if !e.deterministic => None
      case _ =>
        val kids = e.children.map(rewriteExpr)
        if (kids.forall(_.isDefined)) Some(e.withNewChildren(kids.map(_.get)))
        else None
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupNames.contains(a.name) =>
        attr(a.name) match {
          case Some(ma) => Alias(ma, a.name)(exprId = a.exprId)
          case None => return None
        }
      case al: Alias =>
        rewriteExpr(al.child) match {
          case Some(e) => Alias(e, al.name)(exprId = al.exprId)
          case None => return None
        }
      case _ => return None
    }
    // output contract: same exprIds and types as the plan we replace
    if (newAggExprs.map(_.dataType) != agg.aggregateExpressions.map(_.dataType))
      return None
    val newGroup = groupAttrs.map(a => attr(a.name) match {
      case Some(ma) => ma
      case None => return None
    })
    val newFilters = filters.map { f =>
      f.transform { case a: AttributeReference => mvAttr(a.name) }
    }
    // explicit pruning Project: this rule runs after ColumnPruning, so
    // nothing downstream would otherwise narrow the view scan
    val needed = AttributeSet(newAggExprs.flatMap(_.references) ++
      newFilters.flatMap(_.references) ++ newGroup)
    val pruned = Project(mvRel.output.filter(needed.contains), mvRel)
    val filtered = newFilters.foldLeft(pruned: LogicalPlan)(
      (p, c) => Filter(c, p))
    val out = Aggregate(newGroup, newAggExprs, filtered)
    if (out.resolved) Some(out) else None
  }
}
