package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One event for typed stateful processing. */
case class StreamEvent(user_id: Long, ts: Timestamp, event_id: Long)

/** One closed session. */
case class UserSession(user_id: Long, session_id: Long,
    events_in_session: Long, session_start: Timestamp)

/** Structured Streaming operators over the events table.
  *
  * The reference has no streaming surface at all (SURVEY.md §1.1 — its only
  * "stream" is an async batch channel); this is the Spark-native extension:
  * the same parquet data driven through `readStream` so the identical
  * aggregation can serve both batch and streaming (verified against the
  * same DuckDB oracle as the batch corpus queries S23a/S23b).
  *
  * Scale notes: windowed aggregation state is keyed by (window, event_type)
  * — bounded by time range, not input size; sessionization state is keyed
  * by user. In production both take a watermark to bound state (shown here
  * with `withWatermark`); the memory sink + `processAllAvailable` is the
  * local test harness only.
  */
object EventStreams {

  private val sinkCounter = new AtomicInteger(0)

  /** Collision-free key for persistent names derived from a source dir
    * (r14/r15 advisory: a 32-bit `hashCode` can collide two dirs onto
    * one staging path / database / view dir). Delegates to the ONE
    * SHA-256 keying helper at the r14 fix's chosen 96-bit width (r16
    * review: the first delegation draft silently halved it). */
  private[streaming] def dirKey(s: String): String =
    graft.plans.MaterializedViews.stringFingerprint(s, nBytes = 12)

  /** Stage `<dir>/<table>.parquet` into a per-table directory the
    * file-stream source can monitor (hard link — no data copy), with the
    * stale-inode guard. Returns the staged directory path. */
  private def stageTableDir(dir: String, table: String): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    val stage = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_${table}_${dirKey(dir)}")
    java.nio.file.Files.createDirectories(stage)
    val dst = stage.resolve(s"$table.parquet")
    // re-stage if the source file was replaced since last staged: a hard
    // link shares the inode, so size/mtime diverging means dst points at
    // a STALE old inode and would silently serve outdated events
    val stale = java.nio.file.Files.exists(dst) && {
      val (ss, ds) = (java.nio.file.Files.size(src), java.nio.file.Files.size(dst))
      val (sm, dm) = (java.nio.file.Files.getLastModifiedTime(src),
        java.nio.file.Files.getLastModifiedTime(dst))
      ss != ds || sm != dm
    }
    if (stale) java.nio.file.Files.delete(dst)
    if (!java.nio.file.Files.exists(dst)) {
      try java.nio.file.Files.createLink(dst, src)
      catch {
        case _: Exception =>
          // copy fallback (link refused, e.g. cross-device): carry src's
          // mtime over, or the staleness check above would flag the copy
          // stale on every call and re-stage it forever
          java.nio.file.Files.copy(src, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.Files.getLastModifiedTime(src))
      }
    }
    stage
  }

  private def eventStream(spark: SparkSession, dir: String): DataFrame = {
    // Era-check the source once per file version (same loud-failure guard
    // as the batch path — a silent unit mismatch here corrupts every
    // window/session/join interval downstream, which is exactly the
    // round-9 failure class). Also sets the legacy nanosAsLong conf for
    // old INT64-nanos files before any read below.
    graft.Tables.loadEvents(spark, dir)
    // The file-stream source requires a directory to monitor; the testdata
    // keeps one parquet file per table in a shared dir, so stage a per-table
    // directory the source can list.
    val stage = stageTableDir(dir, "events")
    // The file-stream source requires an explicit schema, but nothing says
    // it must be hard-coded: derive it from the staged file's own footer
    // (one batch-read of metadata), then normalize ts exactly like the
    // batch loader — so a data-format rotation is absorbed in one place
    // (Tables.tsToTimestamp) instead of silently corrupting time.
    val rawSchema = spark.read.parquet(stage.toString).schema
    spark.readStream.schema(rawSchema).parquet(stage.toString)
      .withColumn("ts", graft.Tables.tsToTimestamp(rawSchema("ts").dataType))
  }

  /** The documents table as a file stream — the arrival shape of a crawl
    * pipeline (new document files landing in a directory). */
  private def documentStream(spark: SparkSession, dir: String): DataFrame = {
    val stage = stageTableDir(dir, "documents")
    val rawSchema = spark.read.parquet(stage.toString).schema
    spark.readStream.schema(rawSchema).parquet(stage.toString)
  }

  /** Run a bounded streaming query to completion into a memory sink and
    * return the materialized result. */
  private def runToTable(df: DataFrame, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    // State-store cost is per partition per micro-batch (a versioned
    // commit each), so streaming queries size their state partitioning to
    // stream volume instead of inheriting the batch shuffle width.
    // Config experiment (stream_enrich_join, sf0.1, local[32], min-of-2):
    // 32 partitions 6.7 s, RocksDB@32 6.3 s, 8 partitions 2.8 s,
    // 8+RocksDB 3.1 s, 4 partitions 2.25 s — partition fixed costs
    // dominate and the default in-memory provider beats RocksDB at this
    // state size. Production sizes this to key cardinality/throughput via
    // graft.streaming.statePartitions (state partitioning is fixed at
    // first checkpoint, so it must be chosen for peak, not current, load).
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.conf.getOption("graft.streaming.statePartitions").getOrElse("8"))
    try {
      val name = s"graft_stream_${sinkCounter.incrementAndGet()}"
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Sliding-window counts (1 h window, 15 min slide): each event lands in
    * 4 overlapping windows — Spark expands map-side, state is one row per
    * (open window × type), bounded by the watermark horizon × overlap
    * factor. Complete mode so the bounded run emits every window. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    runToTable(agg, OutputMode.Complete())
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("win_start", "event_type")
  }

  /** Hourly tumbling-window counts — streaming twin of batch S23a.
    * Complete mode so the bounded run emits every window. */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    runToTable(agg, OutputMode.Complete())
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total"))
      .orderBy("hour_start", "event_type")
  }

  /** 30-minute-gap sessionization via `flatMapGroupsWithState` — streaming
    * twin of batch S23b (session_id is the 1-based ordinal per user).
    *
    * NoTimeout + Append is correct for this bounded replay (all of a user's
    * events arrive in one batch); a production continuous run would use
    * `GroupStateTimeout.EventTimeTimeout` + watermark to close sessions on
    * event-time expiry instead of at batch end. */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Long = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val events = eventStream(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id")).as[StreamEvent]

    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

    def fn(userId: Long, evs: Iterator[StreamEvent],
        state: GroupState[Long]): Iterator[UserSession] = {
      val sorted = evs.toVector.sortBy(e => (micros(e.ts), e.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val out = Vector.newBuilder[UserSession]
        var sessionId = 0L
        var start = sorted.head.ts
        var count = 0L
        var prevMicros = Long.MinValue
        for (e <- sorted) {
          val m = micros(e.ts)
          if (prevMicros == Long.MinValue || m - prevMicros > gapMicros) {
            if (count > 0) out += UserSession(userId, sessionId, count, start)
            sessionId += 1
            start = e.ts
            count = 0
          }
          count += 1
          prevMicros = m
        }
        if (count > 0) out += UserSession(userId, sessionId, count, start)
        out.result().iterator
      }
    }

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
    runToTable(sessions.toDF(), OutputMode.Append())
      // second-truncated to match the oracle's engine-neutral precision
      // (source physical encodings differ in sub-second precision across
      // driver regens; see s23bSessionsSql note).
      .select(col("user_id"), col("session_id"), col("events_in_session"),
        date_trunc("second", col("session_start")).as("session_start"))
      .orderBy("user_id", "session_id")
      .limit(500)
  }

  /** Open-session state for the event-time-timeout path. All-primitive
    * (micros longs) so the state encoder stays flat. */
  case class SessState(closed: Long, startMicros: Long, lastMicros: Long,
      count: Long)

  private def tsOfMicros(m: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(m, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }

  /** Production-shaped sessionization: unbounded input, state bounded by
    * watermark + `GroupStateTimeout.EventTimeTimeout`. A user's open
    * session closes either by an in-batch gap or when the watermark passes
    * `last event + gap` (the timeout), so state cannot grow with stragglers
    * that never return. Only *closed* sessions are emitted (Append mode);
    * an open session at end-of-stream stays unemitted, exactly like a
    * still-active user on a live pipeline.
    *
    * Takes the (already watermarked) streaming Dataset so tests control the
    * source and batch boundaries. */
  def sessionizeEventTime(events: org.apache.spark.sql.Dataset[StreamEvent],
      gapMinutes: Long = 30): org.apache.spark.sql.Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L

    def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

    def fn(uid: Long, evs: Iterator[StreamEvent],
        state: GroupState[SessState]): Iterator[UserSession] = {
      val out = Vector.newBuilder[UserSession]
      var st: Option[SessState] = state.getOption
      if (state.hasTimedOut) {
        // watermark passed last-event + gap: close the open session but keep
        // a count==0 marker so the user's session ordinal survives a return.
        // This is O(distinct users) state by design (a few longs per user)
        // - correct per-user ordinals are impossible with less; drop the
        // ordinal requirement and the marker can be removed entirely
        st.filter(_.count > 0).foreach { s =>
          out += UserSession(uid, s.closed + 1, s.count, tsOfMicros(s.startMicros))
          state.update(SessState(s.closed + 1, 0L, 0L, 0L))
        }
      } else {
        val sorted = evs.toVector.sortBy(e => (micros(e.ts), e.event_id))
        for (e <- sorted) {
          val m = micros(e.ts)
          st match {
            case Some(s) if s.count > 0 && m > s.lastMicros && m - s.lastMicros > gapMicros =>
              out += UserSession(uid, s.closed + 1, s.count, tsOfMicros(s.startMicros))
              st = Some(SessState(s.closed + 1, m, m, 1L))
            case Some(s) if s.count > 0 =>
              // a late-but-in-watermark event (m <= lastMicros, possible
              // across micro-batches) must not REGRESS lastMicros — that
              // would pull the timeout earlier and split the session; it
              // extends the span backward instead
              st = Some(s.copy(startMicros = math.min(s.startMicros, m),
                lastMicros = math.max(s.lastMicros, m), count = s.count + 1))
            case Some(marker) => // count==0: resume after a timed-out session
              st = Some(SessState(marker.closed, m, m, 1L))
            case None =>
              st = Some(SessState(0L, m, m, 1L))
          }
        }
        st.filter(_.count > 0).foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMicros / 1000 + gapMinutes * 60000L)
        }
      }
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Streaming exact deduplication with watermark-bounded state:
    * `dropDuplicatesWithinWatermark` keeps one row per (user_id,
    * event_type) while holding each key in the state store only until the
    * watermark passes its event time + delay — the streaming form of
    * [[graft.ops.Dedup.exact]], and the state-bounding discipline that
    * matters at scale (a plain streaming dropDuplicates pins every key
    * seen, forever). Only the key columns are emitted: which duplicate
    * arrives first is scheduling-dependent, the surviving key set is not.
    *
    * In this bounded replay the whole file arrives in one micro-batch, so
    * the result equals the batch DISTINCT (the oracle); on an unbounded
    * stream, re-occurrences farther apart than the delay re-emit — the
    * documented approximation that buys bounded state. */
  def dedupKeys(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToTable(deduped, OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  /** Stream-stream interval join: each purchase joined to the same user's
    * clicks in the preceding 30 minutes, both sides watermarked so join
    * state is evicted once the watermark passes the interval — the
    * bounded-state formulation of a temporal enrichment join (batch twin:
    * TemporalJoins.timeBandPairs / corpus s29).
    *
    * Times are second-truncated *before* the join so the range predicate is
    * exact across engines (source timestamps carry sub-µs noise), and the
    * truncated column is also the watermark column, which Structured
    * Streaming requires for state cleanup on both sides. */
  def purchaseClickJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventStream(spark, dir)
      .withColumn("ts2", date_trunc("second", col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts2").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts2").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("""user_id = c_user AND
              c_ts >= p_ts - interval 30 minutes AND c_ts < p_ts"""))
    runToTable(joined, OutputMode.Append())
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        ((unix_micros(col("p_ts")) - unix_micros(col("c_ts"))) / 1000000L)
          .cast("long").as("gap_s"))
      .orderBy("purchase_id", "click_id")
  }

  /** Stream-maintained roll-up view (the streaming half of the
    * materialized-view surface): the event stream folds into a versioned
    * per-event-type summary snapshot via
    * [[graft.plans.MaterializedViews.maintainStream]]; the entry returns
    * the final snapshot, which must equal the batch aggregate of every
    * event — proving the incremental partial-merge arithmetic. The view
    * path fingerprints the source file, so a changed sf dir folds fresh
    * while a re-run over the same data is a no-op (replayed batch ids are
    * skipped, not double-counted). */
  def streamMvRollup(spark: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    val fp = dirKey(dir + java.nio.file.Files.size(src) +
      java.nio.file.Files.getLastModifiedTime(src))
    val viewPath = new java.io.File(new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-smv"), s"events-$fp").getPath
    val q = graft.plans.MaterializedViews.maintainStream(
      eventStream(spark, dir).select(col("event_type"), col("value")),
      viewPath, dims = Seq("event_type"), measures = Seq("v" -> col("value")))
    try q.processAllAvailable() finally q.stop()
    graft.plans.MaterializedViews.readView(spark, viewPath)
      .orderBy("event_type")
  }

  /** Streaming chunking — the pipeline-tier twin of [[graft.ops.Chunking]]:
    * documents arriving as a file stream are windowed into training chunks
    * incrementally. Chunking is STATELESS (a per-document explode), so the
    * streaming plan is the batch plan run per micro-batch: no state store,
    * no watermark, Append mode — at scale this is the always-on ingest
    * chunker that keeps up with a crawl by partition parallelism alone,
    * and the bounded replay must equal batch chunking exactly (it shares
    * `text_chunk`'s DuckDB oracle). */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    runToTable(graft.ops.Chunking.chunk(documentStream(spark, dir)),
      OutputMode.Append)
      .orderBy("doc_id", "chunk_id")

  /** Streaming sentence segmentation (r15) — the always-on twin of
    * `text_sentences`, the [[chunkDocuments]] contract verbatim: a
    * stateless per-document regexp extraction + explode (no state store,
    * no watermark), so the bounded replay equals the batch entry and
    * SHARES its oracle. The plant rides the stream the same way the
    * batch entry plants the static table. */
  def sentenceDocuments(spark: SparkSession, dir: String): DataFrame =
    runToTable(graft.ops.TextAnalysis.sentences(
      graft.ops.TextAnalysis.plantSentences(documentStream(spark, dir))),
      OutputMode.Append)
      .orderBy("doc_id", "sent_pos")

  /** Streaming incremental dedup — the always-on ingest twin of the batch
    * `dedup_incremental` entry: documents arriving as a file stream are
    * deduped against a STATIC prior-corpus snapshot. The bloom sketch is
    * built ONCE from the snapshot (distributed partial+final; only the
    * sketch is collected) and enters the streaming plan as a foldable
    * binary literal — a micro-batch re-plans per batch and cannot carry a
    * scalar subquery — so the probe stays a map-side codegen'd filter in
    * every batch; bloom-negatives bypass the stream-static anti-join
    * entirely, and only suspects join the snapshot's 32-byte hash column.
    * Same planted construction as the batch entry (every third document a
    * verbatim re-crawl, the rest genuinely new), so the bounded replay
    * shares its oracle and must equal the batch result exactly. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang")
    val bloom = graft.ops.Dedup.snapshotBloomBytes(snapshot)
    val stream = documentStream(spark, dir).select("doc_id", "text", "lang")
    val deduped = graft.ops.Dedup.suspectSplitDedup(
      graft.ops.Dedup.plantedIncrementalBatch(stream), snapshot,
      graft.functions.GraftFunctions.might_contain(lit(bloom), xxhash64(col("text"))))
    runToTable(deduped, OutputMode.Append())
      .select("doc_id", "lang").orderBy("doc_id")
  }

  /** Streaming postings maintenance — the always-on arrival twin of the
    * persisted lexical index: document files land as a stream and every
    * micro-batch appends ONE O(batch) epoch through
    * [[graft.ops.Search.appendPostingsBatch]], whose deterministic batch
    * tag + atomic marker commit make at-least-once foreachBatch delivery
    * exactly-once in index contents (redelivery skipped, zombie races
    * settled by the marker hard-link; one index dir per logical stream —
    * see its scaladoc). The probe after the bounded replay must equal
    * `keywordTopK` over the whole corpus — it shares the scan entry's
    * oracle, so a lost epoch, a double-landed batch, or a broken tf
    * pre-aggregation hash-mismatches at the gate.
    *
    * The index dir is fixed per source dir and WIPED at entry start
    * (each invocation is a fresh logical stream with a fresh checkpoint,
    * so stale tags from a previous run must not gate its batches) —
    * repeated invocations reuse one directory instead of leaking a
    * corpus-scale index into tmpdir per run. Entries run serially
    * (Verify/Bench); concurrent invocations would need per-run dirs. */
  def streamPostings(spark: SparkSession, dir: String): DataFrame = {
    val idxDir = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_postidx_${dirKey(dir)}")
    wipe(idxDir)
    val stream = documentStream(spark, dir).select("doc_id", "text")
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        graft.ops.Search.appendPostingsBatch(batch.toDF(), idxDir.toString, bid)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    graft.ops.Search.queryPostingsIndex(spark, idxDir.toString,
      graft.ops.Search.CorpusTerms)
  }

  private def wipe(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete()
  }

  /** Streaming importance scoring — the online serving twin of the
    * persisted DSIR model: the model is ensured ONCE (fingerprint-staged
    * ≤1024-row weight table), then documents arriving as a file stream
    * score against it as a pure stateless map per micro-batch — no state
    * store, no watermark, Append mode; at scale this is the always-on
    * crawl scorer, batch-sized work per batch. The bounded replay over
    * the whole corpus must equal the batch `sample_importance` rows
    * exactly (same model corpus, same target), so it SHARES that oracle. */
  def importanceScoring(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ops.Sampling.ensureImportanceModel(spark, dir)
    val stream = documentStream(spark, dir).select("doc_id", "text")
    runToTable(
      graft.ops.Sampling.scoreWithModelUnordered(stream, model),
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming quality-classifier scoring — the online form of the
    * persisted hashed-ngram classifier ([[graft.ops.QualityClf]]): the
    * ≤1024-row model is ensured ONCE, the spam planting rule applies as
    * a stateless per-batch map (the fixture travels with the stream the
    * way the batch entry plants it), and each micro-batch scores as a
    * pure map — no state store, no watermark, Append mode; at scale this
    * is the always-on model-based crawl filter. The bounded replay over
    * the whole corpus must equal the batch `text_quality_clf` rows
    * exactly (same planted labels, same slice, same model), so it
    * SHARES that oracle. */
  def qualityClfScoring(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ops.QualityClf.ensureModel(spark, dir)
    val stream = graft.ops.QualityClf.plantSpam(
      documentStream(spark, dir).select("doc_id", "text"))
    runToTable(
      graft.ops.QualityClf.scoreWithModelUnordered(stream, model),
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming fluency scoring against the persisted bigram LM — the
    * [[importanceScoring]] contract verbatim: the model is ensured ONCE
    * (fingerprint-staged, epoch-committed), each micro-batch scores as a
    * pure stateless map — no state store, no watermark, Append mode; at
    * scale this is the always-on CCNet-style crawl filter. The bounded
    * replay over the whole corpus must equal the batch `text_fluency`
    * rows exactly (same reference slice, same model), so it SHARES that
    * oracle. */
  def fluencyScoring(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.ops.Fluency.ensureLmModel(spark, dir)
    val stream = documentStream(spark, dir).select("doc_id", "text")
    runToTable(
      graft.ops.Fluency.scoreWithLmUnordered(stream, model),
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming HTML extraction — the always-on shape of
    * `text_extract_html`: each micro-batch maps crawl markup to prose
    * with the codegen'd [[graft.functions.HtmlToText]] — stateless, no
    * watermark, Append mode. The bounded replay wraps the SAME page
    * template around the corpus, so it shares the batch oracle. */
  def htmlExtraction(spark: SparkSession, dir: String): DataFrame = {
    // the SHARED page template (r13) — one literal for the batch entry,
    // the crawl whole-path gate, and this twin, so none can drift
    val stream = documentStream(spark, dir).select(col("doc_id"),
      expr(graft.ops.TextAnalysis.htmlPageTemplateExpr).as("html"))
    runToTable(
      stream.select(col("doc_id"),
        graft.functions.GraftFunctions.html_to_text(col("html")).as("text")),
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming language-ID twin — the always-on crawl arm of
    * [[graft.ops.TextAnalysis.languageId]]: the scoring is map-only
    * column expressions, so it applies unchanged inside an Append-mode
    * file stream (no state store, no watermark — langid keeps up with a
    * crawl by partition parallelism alone). The bounded replay plants the
    * SAME CJK-family paragraphs as the batch entry, so the ja/ko/zh arms
    * fire in motion; shares `text_langid`'s oracle verbatim. */
  def langidScoring(spark: SparkSession, dir: String): DataFrame = {
    val planted = documentStream(spark, dir).select(col("doc_id"), col("lang"),
      when(col("doc_id") % 17 === 0, lit(graft.ops.TextAnalysis.JaSnippet))
        .when(col("doc_id") % 19 === 0, lit(graft.ops.TextAnalysis.KoSnippet))
        .when(col("doc_id") % 23 === 0, lit(graft.ops.TextAnalysis.ZhSnippet))
        .otherwise(col("text")).as("text"))
    runToTable(graft.ops.TextAnalysis.languageIdCols(planted), OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming JSONL ingestion — the always-on twin of
    * [[graft.sources.JsonlIngest]]: drop files land in a directory, the
    * file stream parses them PERMISSIVE under the same imposed schema,
    * and BOTH channels (parsed fields + the corrupt-record column) flow
    * to the sink; the valid/quarantine split is the consumer's batch
    * query over the sink table (filtering the corrupt column inside the
    * streaming plan is restricted by Spark, and at scale the sink IS a
    * bronze table both channels read). Stateless per-line parse: no
    * state store, no watermark — ingest keeps up with a crawl by
    * partition parallelism alone. The bounded replay's valid channel
    * shares `ingest_jsonl`'s oracle. */
  def ingestJsonl(spark: SparkSession, dir: String): DataFrame =
    streamedDropSink(spark, dir)
      .filter(col("_corrupt_record").isNull)
      .select("doc_id", "lang").orderBy("doc_id")

  /** Streaming triage twin: the same bronze-sink read, quarantine
    * channel classified by the BATCH classifier
    * ([[graft.sources.JsonlIngest.classifyQuarantine]] is map-side, so
    * it applies unchanged to the sink table — one definition, two
    * arrival modes). Shares `ingest_jsonl_triage`'s oracle. */
  def ingestJsonlTriage(spark: SparkSession, dir: String): DataFrame = {
    val quarantine = streamedDropSink(spark, dir)
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    graft.sources.JsonlIngest.classifyQuarantine(quarantine).orderBy("raw")
  }

  /** One PERMISSIVE parse definition for both streaming ingest entries
    * (valid + triage): the bronze sink both channels read — parse
    * options diverging between the twins would silently split their
    * contracts. */
  private def streamedDropSink(spark: SparkSession, dir: String): DataFrame = {
    val drop = graft.sources.JsonlIngest.ensureJsonlDrop(spark, dir)
    val parsed = spark.readStream
      .schema(graft.sources.JsonlIngest.corruptSchema)
      .options(graft.sources.JsonlIngest.readOptions)
      .json(drop)
    runToTable(parsed, OutputMode.Append())
  }

  /** Streaming CSV ingestion (r15) — the CSV drop's always-on twin,
    * the [[ingestJsonl]] contract verbatim: same imposed schema, same
    * PERMISSIVE parse with escape = quote (RFC 4180 doubled quotes),
    * stateless per-line, both channels through one bronze sink. The
    * bounded replay's valid channel shares `ingest_csv`'s oracle. */
  def ingestCsv(spark: SparkSession, dir: String): DataFrame =
    streamedCsvDropSink(spark, dir)
      .filter(col("_corrupt_record").isNull)
      .select("doc_id", "text", "lang").orderBy("doc_id")

  /** Streaming CSV triage twin — the BATCH classifier over the bronze
    * sink's quarantine channel (map-side, one definition, two arrival
    * modes). Shares `ingest_csv_triage`'s oracle. */
  def ingestCsvTriage(spark: SparkSession, dir: String): DataFrame = {
    val quarantine = streamedCsvDropSink(spark, dir)
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    graft.sources.CsvIngest.classifyQuarantine(quarantine).orderBy("raw")
  }

  /** One PERMISSIVE CSV parse definition for both streaming entries —
    * the schema and options are [[graft.sources.CsvIngest]]'s OWN shared
    * values, not a mirror (a mirror is a drift channel: an option change
    * applied to the batch reader alone would silently split twins that
    * share an oracle). */
  private def streamedCsvDropSink(spark: SparkSession, dir: String): DataFrame = {
    val drop = graft.sources.CsvIngest.ensureCsvDrop(spark, dir)
    val parsed = spark.readStream
      .schema(graft.sources.CsvIngest.corruptSchema)
      .options(graft.sources.CsvIngest.readOptions)
      .csv(drop)
    runToTable(parsed, OutputMode.Append())
  }

  /** Streaming crawl→chunks COMPOSITION — the always-on form of the batch
    * whole-path gate `e2e_crawl_to_chunks`: WARC archives LAND as files
    * in a monitored drop directory (`binaryFile` file-stream source) and
    * each micro-batch runs the SHARED crawl pipeline
    * ([[graft.sources.WarcIngest.parseRows]] → the channel split →
    * [[graft.ops.Curation.crawlToChunks]]: framing triage, HTML
    * extraction, the two-fetch URL-dedup gate, planted-dup curation,
    * chunk windows) and APPENDS its chunk rows through
    * [[ExactlyOnceSink]] into a federated table — the at-least-once
    * foreachBatch replay made exactly-once by the staging-swap + batch-id
    * marker, so a restart re-delivering a micro-batch cannot double the
    * training corpus.
    *
    * Scope per micro-batch (the streaming analog of a watermark): URL
    * refetches collapse and near-dups resolve WITHIN an arrival window —
    * a crawl frontier emits a page's fetch variants together, which the
    * bounded replay models as one batch. Cross-window dedup is the
    * incremental-index tier's job (`stream_incr_dedup`), deliberately
    * composable upstream of this sink. The bounded replay (every archive
    * present at start = one micro-batch) therefore equals the batch gate
    * row-for-row and SHARES its oracle — drift in any stage of the
    * composition, or a lost/doubled epoch in the sink, hash-mismatches
    * at the gate. */
  /** Streaming BPE token accounting — the always-on crawl arm of
    * `text_tokens_bpe` and the serving split of the stored merge table
    * (the [[importanceScoring]]/[[fluencyScoring]] contract verbatim):
    * the model is ensured ONCE (fingerprint-staged ≤ 40-row merge
    * table), each micro-batch counts subwords as a pure stateless map —
    * no state store, no watermark, Append mode. At scale this is the
    * crawl-side budget meter: every arriving document priced in the
    * tokenizer's own units before mixing/packing decisions. Bounded
    * replay over the corpus equals the batch entry, so it SHARES its
    * oracle. */
  def bpeTokenScoring(spark: SparkSession, dir: String): DataFrame = {
    val merges = graft.ops.Bpe.loadMerges(spark,
      graft.ops.Bpe.ensureModel(spark, dir))
    val stream = documentStream(spark, dir).select("doc_id", "text")
    runToTable(
      stream.select(col("doc_id"),
        graft.ops.Bpe.bpe_tokens(col("text"), merges).as("n_bpe"),
        graft.functions.GraftFunctions.seg_count(col("text")).as("n_ws")),
      OutputMode.Append())
      .orderBy("doc_id")
  }

  /** The binaryFile source's FIXED schema (its four columns never vary)
    * — declared statically so the stream needs no batch directory
    * listing just to recover it. */
  private[graft] val BinaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  def crawlChunks(spark: SparkSession, dir: String): DataFrame = {
    val drop = graft.sources.WarcIngest.ensureWarcDrop(spark, dir)
    // collision-free per-source database key (r14 advisory: a 32-bit
    // dir.hashCode could collide two source dirs onto one database, and
    // the drop/recreate below would clobber the other run's sink)
    val key = dirKey(dir)
    val url = s"jdbc:derby:memory:graft_crawl_$key;create=true"
    val backend = graft.sources.JdbcBackend.forUrl(url)
    // fresh logical stream per invocation: drop sink + marker + staging so
    // a previous run's batch ids cannot gate this run's micro-batches
    // (batch ids are only unique per checkpoint — the ExactlyOnceSink
    // contract, stated on its scaladoc)
    Seq("crawl_chunks", "crawl_chunks__staging", "crawl_chunks__batches")
      .foreach { t =>
        try backend.executeUpdate(s"""DROP TABLE "$t"""")
        catch { case _: Exception => () }
      }
    backend.executeUpdate(
      """CREATE TABLE "crawl_chunks" ("doc_id" BIGINT, "lang" VARCHAR(16), """ +
        """"chunk_id" BIGINT, "chunk_start" BIGINT, "chunk_tokens" BIGINT, """ +
        """"chunk_text" VARCHAR(4000))""")
    val stream = spark.readStream.format("binaryFile").schema(BinaryFileSchema)
      .option("pathGlobFilter", "*.warc").load(drop)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        landCrawlBatch(url, "crawl_chunks")(batch.toDF(), bid)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.read.format("graft-sqldb").option("url", url)
      .option("table", "crawl_chunks").load()
      .orderBy("doc_id", "chunk_id")
  }

  /** One crawl micro-batch: parse → the shared crawl pipeline → the
    * exactly-once sink into `table` at `url`. The batch-scoped caches (the
    * parsed rows, and [[graft.ops.Curation]]'s extracted-prose, kept-set
    * and signature slots) are released once the sink has landed, so a
    * long-running stream pins nothing per micro-batch. */
  private[graft] def landCrawlBatch(url: String, table: String)(
      batch: DataFrame, bid: Long): Unit = {
    val rows = graft.sources.WarcIngest.parseRows(batch)
    try {
      val (valid, _) = graft.sources.WarcIngest.channels(rows)
      ExactlyOnceSink(url, table)(graft.ops.Curation.crawlToChunks(valid), bid)
    } finally {
      // what reads the rows goes first, so no unpersist re-caches a
      // relation about to be dropped
      graft.ops.Curation.releaseCache()
      rows.unpersist(blocking = false)
    }
  }

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "stream_hourly" -> ((s, d) => hourlyCounts(s, d)),
    "stream_sliding" -> ((s, d) => slidingCounts(s, d)),
    "stream_sessions" -> ((s, d) => sessionize(s, d)),
    "stream_enrich_join" -> ((s, d) => purchaseClickJoin(s, d)),
    "stream_dedup" -> ((s, d) => dedupKeys(s, d)),
    "stream_mv_rollup" -> ((s, d) => streamMvRollup(s, d)),
    "stream_chunk" -> ((s, d) => chunkDocuments(s, d)),
    "stream_sentences" -> ((s, d) => sentenceDocuments(s, d)),
    "stream_incr_dedup" -> ((s, d) => incrementalDedup(s, d)),
    "stream_ingest_jsonl" -> ((s, d) => ingestJsonl(s, d)),
    "stream_ingest_triage" -> ((s, d) => ingestJsonlTriage(s, d)),
    "stream_ingest_csv" -> ((s, d) => ingestCsv(s, d)),
    "stream_ingest_csv_triage" -> ((s, d) => ingestCsvTriage(s, d)),
    "stream_postings" -> ((s, d) => streamPostings(s, d)),
    "stream_importance" -> ((s, d) => importanceScoring(s, d)),
    "stream_quality_clf" -> ((s, d) => qualityClfScoring(s, d)),
    "stream_fluency" -> ((s, d) => fluencyScoring(s, d)),
    "stream_extract_html" -> ((s, d) => htmlExtraction(s, d)),
    "stream_langid" -> ((s, d) => langidScoring(s, d)),
    "stream_crawl_chunks" -> ((s, d) => crawlChunks(s, d)),
    "stream_tokens_bpe" -> ((s, d) => bpeTokenScoring(s, d)),
  )

  /** The streaming results must equal the batch corpus oracles. */
  val oracle: Seq[(String, String)] = Seq(
    "stream_mv_rollup" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |       SUM(value) AS sum_v, COUNT(value) AS cnt_v,
        |       MIN(value) AS min_v, MAX(value) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "stream_hourly" ->
      """SELECT DATE_TRUNC('HOUR', ts) AS hour_start, event_type,
        |       COUNT(*) AS n, SUM(value) AS total
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    // Spark's sliding windows are epoch-aligned at the slide interval, so
    // the window-starts containing an event ts are exactly
    // time_bucket(15min, ts) - k*15min for k = 0..3 (ts - smallest start
    // < 60 min always; [start, end) semantics hold for all four).
    "stream_sliding" ->
      """SELECT win_start, event_type, COUNT(*) AS n, SUM(value) AS total
        |FROM (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS win_start,
        |         event_type, value
        |  FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) ks
        |) expanded
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // Shared with batch S23b so the typing fixes (BIGINT session_id,
    // second-truncated session_start) can't drift between the two entries.
    "stream_sessions" -> graft.queries.Corpus.s23bSessionsSql,
    // stateless per-document explode: the bounded streaming replay equals
    // batch chunking, so the oracle IS the batch entry's (shared by
    // reference — any chunking-semantics change moves both or neither)
    "stream_chunk" -> graft.ops.Chunking.oracle.toMap.apply("text_chunk"),
    // stateless per-document extraction: bounded replay ≡ the batch entry
    "stream_sentences" ->
      graft.ops.TextAnalysis.oracle.toMap.apply("text_sentences"),
    // bounded replay = one micro-batch, so watermark-scoped dedup equals
    // the global DISTINCT
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // bounded replay over the whole table = the batch construction, so the
    // oracle IS the batch entry's (shared by reference — semantics drift
    // would move both or neither)
    "stream_incr_dedup" ->
      graft.ops.Dedup.oracle.toMap.apply("dedup_incremental"),
    // stateless per-line parse: bounded streaming replay ≡ the batch read
    "stream_ingest_jsonl" ->
      graft.sources.JsonlIngest.oracle.toMap.apply("ingest_jsonl"),
    "stream_ingest_triage" ->
      graft.sources.JsonlIngest.oracle.toMap.apply("ingest_jsonl_triage"),
    // the CSV drop's twins: stateless per-line parse, bounded replay ≡
    // the batch read → both share the batch oracles
    "stream_ingest_csv" ->
      graft.sources.CsvIngest.oracle.toMap.apply("ingest_csv"),
    "stream_ingest_csv_triage" ->
      graft.sources.CsvIngest.oracle.toMap.apply("ingest_csv_triage"),
    // bounded replay appends every document exactly once, so the probe
    // equals keywordTopK over the whole corpus -- the SAME SQL as the
    // scan entry (shared by reference: scoring drift moves all three of
    // scan / batch index / stream index, or none)
    "stream_postings" -> graft.ops.Search.KeywordTopkSql,
    // stateless map against the ensured model over the SAME corpus, so
    // the bounded replay equals the batch scoring rows exactly
    "stream_importance" ->
      graft.ops.Sampling.oracle.toMap.apply("sample_importance"),
    // stateless map against the ensured classifier over the SAME planted
    // corpus -> shares the batch oracle
    "stream_quality_clf" ->
      graft.ops.QualityClf.oracle.toMap.apply("text_quality_clf"),
    // same contract as stream_importance: a stateless map against the
    // ensured bigram LM over the SAME corpus -> shares the batch oracle
    "stream_fluency" ->
      graft.ops.Fluency.oracle.toMap.apply("text_fluency"),
    // stateless map over the same planted template -> the batch oracle
    "stream_extract_html" ->
      graft.ops.TextAnalysis.oracle.toMap.apply("text_extract_html"),
    // stateless map over the same planted CJK paragraphs -> the batch oracle
    "stream_langid" ->
      graft.ops.TextAnalysis.oracle.toMap.apply("text_langid"),
    // the COMPOSED crawl path on the bounded replay (one micro-batch =
    // the whole drop) equals the batch whole-path gate row-for-row, so
    // it shares that oracle — any stage drift OR a lost/doubled epoch in
    // the exactly-once sink hash-mismatches here
    "stream_crawl_chunks" ->
      graft.ops.Curation.oracle.toMap.apply("e2e_crawl_to_chunks"),
    // stateless map against the ensured merge table over the SAME corpus
    // -> the batch oracle (the stored-model twin contract)
    "stream_tokens_bpe" ->
      graft.ops.Bpe.oracle.toMap.apply("text_tokens_bpe"),
    "stream_enrich_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |       date_diff('second', c.ts, p.ts) AS gap_s
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND date_diff('second', c.ts, p.ts) BETWEEN 1 AND 1800
        |ORDER BY purchase_id, click_id""".stripMargin,
  )
}
