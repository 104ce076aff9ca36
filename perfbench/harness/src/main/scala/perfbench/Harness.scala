package perfbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{StructField, StructType}

import graft.{Engine, SparkEntry}
import graft.plans.PushedSqlExec
import graft.sources.GraftScan

/** The benchmark's JVM side: one closed-loop client over one workload.
  *
  * Invoked by `perfbench/run.py` as `perfbench.Harness key=value ...`
  * (`mode=oracle out=<file>` instead writes every op's oracle SQL):
  *  - `workload`: tpch_local | tpch_federated | crawl_to_chunks
  *  - `seed`, `seconds` (busy seconds of timed ops), `trace` (0|1)
  *  - `data`: the parquet dir; `pg`: the pgwire address (federated only)
  *  - `out`: where `result.json`, `spans.jsonl` and one parquet dump per
  *    distinct op result are written
  *  - `known`: a file of `name<TAB>hash` results already verified, which
  *    are not dumped again.
  *
  * Set-up (session, attach / catalog, fixture staging) runs once, then one
  * warm-up pass; the timed loop follows. Every op's result is collected,
  * hashed, and dumped once per distinct hash so the caller can check it
  * against DuckDB. A traced run alternates traced and untraced passes (the
  * seed picks which parity is traced; the difference is the tracing
  * overhead). A traced op records spans and, with listeners attached for
  * that op only, Spark/streaming counters and codegen errors. After the
  * loop, layer probes split an op into its parts. */
object Harness extends AdaptiveSparkPlanHelper {
  val TpchQueries: Seq[String] = Seq("s01_pricing_summary", "s02_shipping_priority",
    "s03_local_supplier_volume", "s04_forecast_revenue", "s05_volume_shipping",
    "s06_market_share", "s07_returned_items", "s08_customer_distribution",
    "s09_promo_effect", "s10_large_orders", "s11_global_sales",
    "s12_order_priority", "s13_parts_not_shipped", "s14_small_qty_revenue")
  val TpchTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val CrawlOps: Seq[String] = Seq("e2e_crawl_to_chunks", "stream_crawl_chunks")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = osBean.getProcessCpuTime
  private def now(): Double = System.nanoTime() / 1e9

  final case class OpRecord(idx: Int, name: String, traced: Boolean,
      latencyS: Double, cpuS: Double, stealTicks: Long, rows: Long, hash: String,
      error: Option[String], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val cfg = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    if (cfg.get("mode").contains("oracle")) {
      // the DuckDB oracle SQL of every op, for the caller's output check
      val w = new java.io.PrintWriter(cfg("out"), "UTF-8")
      try w.println(Json((TpchQueries ++ CrawlOps).map(n =>
        n -> SparkEntry.oracleSql(n)).toMap)) finally w.close()
      sys.exit(0)
    }
    val workload = cfg("workload")
    val seed = cfg("seed").toLong
    val seconds = cfg("seconds").toDouble
    val traced = cfg("trace") == "1"
    val data = cfg("data")
    val out = cfg("out")
    val pg = cfg.get("pg")
    val known = cfg.get("known").map(new java.io.File(_)).filter(_.exists).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.split("\t")).collect {
        case Array(n, h) => s"$n/$h"
      }.toSet finally src.close()
    }.getOrElse(Set.empty[String])
    new java.io.File(out, "dumps").mkdirs()
    val mainStartMs = System.currentTimeMillis()
    val run = new Run(workload, seed, seconds, traced, data, out, pg, known)
    var code = 0
    try run.go(mainStartMs)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally run.stop()
    // non-daemon Spark/Derby threads would keep the JVM alive
    sys.exit(code)
  }

  /** SQL text of a Corpus oracle query, retargeted at the federated
    * catalog (`FROM lineitem` -> `FROM graft_db.main.lineitem`). */
  def federatedSql(name: String): String = {
    val sql = graft.queries.Corpus.oracleSql.toMap.apply(name)
    val tables = TpchTables.mkString("|")
    sql.replaceAll(s"\\b(FROM|JOIN)(\\s+)($tables)\\b", "$1$2graft_db.main.$3")
  }

  /** Pushed (backend) queries and local scans of an executed plan. */
  final case class PlanShape(pushed: Seq[(String, StructType)], graftScans: Int,
      fusedQueries: Int, localScans: Int)

  def planShape(plan: SparkPlan): PlanShape = {
    def schemaOf(p: SparkPlan) =
      StructType(p.output.map(a => StructField(a.name, a.dataType, a.nullable)))
    val nodes = collectWithSubqueries(plan) { case p => p }
    val fused = nodes.collect { case p: PushedSqlExec => (p.sql, schemaOf(p)) }
    val scans = nodes.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
        (b.scan.asInstanceOf[GraftScan].renderedSql, schemaOf(b))
    }
    val local = nodes.count {
      case _: FileSourceScanExec => true
      case b: BatchScanExec => !b.scan.isInstanceOf[GraftScan]
      case _ => false
    }
    PlanShape((fused ++ scans).distinct, scans.size, fused.size, local)
  }

  def hashRows(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Hypervisor steal over all CPUs since boot, in clock ticks
    * (`/proc/stat`): time the host ran something else while this VM's CPUs
    * had work. */
  def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
  }

  def loadavg(): Seq[Double] = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split(" ").take(3).toSeq.map(_.toDouble)
    finally src.close()
  }

  /** The fixed-work single-thread calibration probe `graft.Bench` records:
    * a sort of 4M longs. A reading far above its quiet value marks a
    * contended run. */
  def sortProbe(): Double = {
    val a = new Array[Long](4 << 20)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) {
      x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x; i += 1
    }
    val t0 = System.nanoTime()
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e9
  }

  /** Resident-set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      data: String, out: String, val pg: Option[String],
      known: Set[String]) {
    require(Set("tpch_local", "tpch_federated", "crawl_to_chunks")(workload),
      s"unknown workload $workload")
    val tracer = new Tracer(traced)
    var spark: SparkSession = _
    val sparkStats = new SparkStats
    val streamStats = new StreamStats
    // attached in every run, so traced and untraced runs log alike
    val codegen: CodegenCounter = CodegenCounter.attach()
    val ops = ArrayBuffer.empty[OpRecord]
    val dumped = mutable.Set.empty[String]
    val dumps = ArrayBuffer.empty[Map[String, Any]]
    val shapes = mutable.Map.empty[String, PlanShape]
    val probes = mutable.Map.empty[String, Any]
    val isTpch = workload.startsWith("tpch")

    /** Op order: TPC-H queries in a seed-permuted order; the crawl forms
      * alternate, the seed choosing which goes first. */
    val order: Seq[String] =
      if (isTpch) new scala.util.Random(seed).shuffle(TpchQueries)
      else if (seed % 2 == 0) CrawlOps else CrawlOps.reverse

    def timed[A](body: => A): (A, Double) = {
      val t0 = now(); val a = body; (a, now() - t0)
    }

    def setUp(): Map[String, Double] = {
      tracer.opId = -1L
      val m = mutable.Map.empty[String, Double]
      val (s, createS) = timed(tracer.span("engine.create") {
        Engine.create("local[4]", Some(4))
      })
      spark = s
      m("engine.create_s") = createS
      spark.sparkContext.setLogLevel("WARN")
      workload match {
        case "tpch_federated" =>
          m("catalog.resolve_s") = timed(tracer.span("catalog.resolve") {
            spark.conf.set("graft.catalog.pgwire", pg.get)
            spark.sql("SHOW TABLES IN graft_db.main").collect()
            TpchTables.foreach(t => spark.table(s"graft_db.main.$t").schema)
          })._2
        case _ =>
          m("tables.attach_s") = timed(tracer.span("tables.attach") {
            Engine.attach(spark, data)
          })._2
      }
      if (workload == "crawl_to_chunks") {
        m("fixture.warc_drop_s") = timed(tracer.span("fixture.warc_drop") {
          graft.sources.WarcIngest.ensureWarcDrop(spark, data)
        })._2
      }
      m.toMap
    }

    def buildOp(name: String): DataFrame = workload match {
      case "tpch_federated" => spark.sql(federatedSql(name))
      case _ => SparkEntry.queries(name)(spark, data)
    }

    /** One op: build the DataFrame, force the planning phases in order
      * (each its own span), collect the result. Building the streaming
      * crawl op runs the whole stream, so that span is `streaming.run`. */
    def runOp(name: String, idx: Int, record: Boolean,
        spans: Boolean = true): Option[OpRecord] = {
      val useSpans = record && spans && traced
      val t = if (useSpans) tracer else new Tracer(false)
      tracer.opId = idx
      val cg0 = codegen.errors.get
      if (useSpans) {
        // listeners only on traced ops, so untraced ops pay none of their cost
        sparkStats.snapshot(); streamStats.snapshot()
        spark.sparkContext.addSparkListener(sparkStats)
        spark.streams.addListener(streamStats)
      }
      val c0 = cpuNs()
      val s0 = stealTicks()
      val t0 = now()
      val res = try {
        Right(t.span("op") {
          val first = if (name == "stream_crawl_chunks") "streaming.run" else "plans.analyze"
          val df = t.span(first) { buildOp(name) }
          t.span("plans.optimize") { df.queryExecution.optimizedPlan }
          t.span("plans.physical") { df.queryExecution.executedPlan }
          (df, t.span("spark.execute") { df.collect() })
        })
      } catch { case e: Throwable => Left(e) }
      val lat = now() - t0
      val steal = stealTicks() - s0
      val cpu = (cpuNs() - c0) / 1e9
      if (record && isTpch)
        res.foreach { case (df, _) => shapes(name) = planShape(df.queryExecution.executedPlan) }
      if (!record) {
        res.left.foreach(e => throw e)
        spark.sharedState.cacheManager.clearCache()
        return None
      }
      val layers = mutable.Map.empty[String, Double]
      if (useSpans) {
        org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(sparkStats)
        spark.streams.removeListener(streamStats)
        layers ++= sparkStats.snapshot()
        if (name == "stream_crawl_chunks") layers ++= streamStats.snapshot()
        layers("codegen.fallbacks") = (codegen.errors.get - cg0).toDouble
        layers("cache.leftover") = spark.sparkContext.getPersistentRDDs.size.toDouble
        shapes.get(name).foreach { s =>
          layers("plans.pushed_scans") = (s.graftScans + s.fusedQueries).toDouble
          layers("plans.local_scans") = s.localScans.toDouble
          layers("plans.fused") =
            if (s.fusedQueries == 1 && s.graftScans == 0) 1.0 else 0.0
        }
      }
      // persisted intermediates are dropped between ops, outside the timing
      spark.sharedState.cacheManager.clearCache()
      val rec = res match {
        case Right((df, rows)) =>
          val schema = df.schema
          val h = hashRows(rows)
          if (!known(s"$name/$h") && dumped.add(s"$name/$h")) {
            val path = s"$out/dumps/${name}_$h"
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(path)
            dumps += Map("name" -> name, "hash" -> h, "path" -> path,
              "rows" -> rows.length.toLong)
          }
          if (name == "e2e_crawl_to_chunks") layers("stage.chunks_out") = rows.length.toDouble
          if (name == "stream_crawl_chunks") layers("sink.rows_written") = rows.length.toDouble
          OpRecord(idx, name, useSpans, lat, cpu, steal, rows.length.toLong, h, None,
            layers.toMap)
        case Left(e) =>
          System.err.println(s"[perfbench] op $name failed: $e")
          OpRecord(idx, name, useSpans, lat, cpu, steal, 0L, "", Some(e.toString),
            layers.toMap)
      }
      ops += rec
      Some(rec)
    }

    def go(mainStartMs: Long): Unit = {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val setup = setUp()
      val (_, warmupS) = timed(tracer.span("warmup") {
        order.foreach(n => runOp(n, -1, record = false))
      })
      val firstOpMs = System.currentTimeMillis()
      val firstOpSteal = stealTicks()
      // the timed closed loop: passes over the op order until `seconds` of
      // busy op time. Passes complete, so every op kind has as many samples,
      // equally warm; only an untraced TPC-H run (14 ops a pass) stops at the
      // op that reaches `seconds`, once its first pass is done. A traced run
      // alternates traced and untraced whole passes, at least one of each;
      // the seed picks whether the first pass is traced, so neither kind
      // always runs nearer warm-up.
      val tracedParity = new scala.util.Random(seed).nextInt(2)
      var busy = 0.0
      var i = 0
      val sessions0 =
        if (traced && pg.nonEmpty) FederationProbe.sessions(pg.get) else 0L
      val loopT0 = now()
      var pass = 0
      while (busy < seconds || (traced && pass < 2)) {
        order.foreach { name =>
          if (traced || !isTpch || pass == 0 || busy < seconds) {
            busy += runOp(name, i, record = true, spans = pass % 2 == tracedParity).get.latencyS
            i += 1
          }
        }
        pass += 1
      }
      val loopWall = now() - loopT0
      val peak = peakRssMb()
      if (traced && pg.nonEmpty) {
        Thread.sleep(500) // let exiting backends flush their session counts
        probes("sources.sessions") = FederationProbe.sessions(pg.get) - sessions0 - 1
      }
      if (traced) probe()
      val result = Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "jvm_start_ms" -> jvmStartMs, "main_start_ms" -> mainStartMs,
        "first_op_ms" -> firstOpMs, "first_op_steal" -> firstOpSteal,
        "setup" -> setup,
        "warmup_s" -> warmupS,
        "busy_s" -> busy, "loop_wall_s" -> loopWall, "peak_rss_mb" -> peak,
        "ops" -> ops.map(o => Map("idx" -> o.idx, "name" -> o.name,
          "traced" -> o.traced, "latency_s" -> o.latencyS, "cpu_s" -> o.cpuS,
          "steal_ticks" -> o.stealTicks,
          "rows" -> o.rows, "hash" -> o.hash, "error" -> o.error,
          "layers" -> o.layers)),
        "dumps" -> dumps, "probes" -> probes,
        "context" -> Map("loadavg" -> loadavg(), "sort_probe_s" -> sortProbe()))
      tracer.write(s"$out/spans.jsonl")
      val w = new java.io.PrintWriter(s"$out/result.json", "UTF-8")
      try w.println(Json(result)) finally w.close()
    }

    /** Layer probes, after the timed loop (never inside an op's timing). */
    def probe(): Unit = {
      tracer.opId = -2L
      workload match {
        case "tpch_federated" => FederationProbe.run(this)
        case "crawl_to_chunks" => crawlProbe()
        case _ =>
      }
      // SqlGen over each query's optimized plan (federated and local)
      if (isTpch) {
        val t = TpchQueries.map { n =>
          val plan = buildOp(n).queryExecution.optimizedPlan
          timed(tracer.span("plans.sqlgen") { graft.plans.SqlGen(plan) })._2
        }
        probes("plans.sqlgen_s") = t.sum / t.size
      }
    }

    /** Split the batch crawl op into ingest, extract+gate, curate and chunk
      * time: force the parse, then the extraction + URL gate over it
      * ([[graft.ops.PerfbenchCrawlProbe]], a copy of `crawlToChunks`'s
      * prefix), then the `Curation.curateToChunks` call the op makes on the
      * planted docs (chunking included), then `Chunking.chunk` alone over
      * the docs that call keeps. The curated rows must equal the timed batch
      * op's result, so a drifted prefix copy fails the run. */
    def crawlProbe(): Unit = {
      def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val drop = graft.sources.WarcIngest.ensureWarcDrop(spark, data)
      val ((valid, quarantined), ingestS) = timed(tracer.span("ingest.parse") {
        val (v, q) = graft.sources.WarcIngest.readWithQuarantine(spark, drop)
        probes("ingest.valid_docs") = v.count().toDouble
        probes("ingest.quarantined") = q.count().toDouble
        (v, q)
      })
      probes("ingest.parse_s") = ingestS
      val (crawled, gateS) = timed(tracer.span("stage.extract_gate") {
        val c = graft.ops.PerfbenchCrawlProbe.crawled(valid).persist()
        c.count(); c
      })
      probes("stage.extract_gate_s") = gateS
      val planted = graft.ops.Curation.withPlantedDups(crawled)
      val curatedDf = graft.ops.Curation.curateToChunks(planted)
      val (curated, curateS) = timed(tracer.span("stage.curate") {
        curatedDf.collect()
      })
      graft.ops.Curation.releaseCache()
      probes("stage.curate_s") = curateS
      val sorted = curated.sortBy(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")))
      val batch = ops.filter(o => o.name == "e2e_crawl_to_chunks" && o.error.isEmpty)
      require(batch.nonEmpty && batch.forall(_.hash == hashRows(sorted)),
        "the probe's crawl prefix no longer matches Curation.crawlToChunks: " +
        s"${sorted.length} curated rows vs ${batch.map(_.rows).mkString(",")} " +
        "from the batch op")
      val keptIds = spark.createDataFrame(
        curated.map(_.getAs[Long]("doc_id")).distinct.toSeq.map(Tuple1(_)))
        .toDF("doc_id")
      val chunkIn = planted.join(keptIds, Seq("doc_id"), "left_semi").persist()
      chunkIn.count()
      probes("stage.chunk_s") = timed(tracer.span("stage.chunk") {
        force(graft.ops.Chunking.chunk(chunkIn, keep = Seq("lang")))
      })._2
      chunkIn.unpersist()
      // survivors of the quality gate and both dedup passes, every split
      // (the accounting variant; not timed)
      val kept = graft.ops.Curation.curate(planted).collect()
        .map(r => r.getAs[Long]("n_docs")).sum.toDouble
      graft.ops.Curation.releaseCache()
      probes("dedup.kept_ratio") = kept / math.max(planted.count().toDouble, 1.0)
      crawled.unpersist()
      valid.unpersist(); quarantined.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }

    def stop(): Unit = if (spark != null) {
      try graft.ops.Curation.releaseCache() catch { case _: Throwable => }
      spark.stop()
    }
  }
}
