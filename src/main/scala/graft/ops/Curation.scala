package graft.ops

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation — the COMPOSED form of the pipeline
  * the individual oracle entries pin piecewise: quality gate
  * ([[TextAnalysis.qualityScores]] thresholds) → exact dedup keep-first
  * (content-hash groupBy, [[Dedup.exact]]'s mechanics) → MinHash-LSH
  * near-dedup keep-first ([[Dedup.minHashPairs]]'s banded pipeline) →
  * deterministic train/val/test split ([[Sampling.deterministicSplit]])
  * → bounded per-(lang, split) accounting. A user of the reference
  * curating a pretraining corpus runs exactly this chain; the composite
  * entry proves the pieces compose into ONE declarative plan, not five
  * jobs.
  *
  * Near-dedup keep-first rule: a document is dropped iff it is
  * similar (est_jaccard ≥ threshold) to ANY lower-id document — i.e.
  * every pair (doc_a < doc_b) removes doc_b. Deterministic, one
  * semi-join, and engine-independent (no union-find tie-breaks to
  * disagree on); dropped docs are counted in their OWN (lang, split)
  * bucket as `near_dups_removed`, so corpus accounting still sums to
  * the gated total.
  *
  * Scale shape: the gate is map-only and fuses into the scan; the exact
  * dedup is one shuffle on a 32-byte content hash (never the text) with
  * partial-aggregating `min_by`; the near-dup stage shuffles banded
  * (id, band, hash) triples and signature rows, never text (the
  * [[Dedup.minHashPairs]] discipline); the removal is a left-anti join
  * on ids; the split is a pure map on the kept id; the accounting
  * aggregate is bounded by |langs| × 3. Nothing is driver-side,
  * all-pairs, or text-keyed.
  *
  * The synthetic corpus has no exact or near duplicates (verified in
  * [[Dedup.withPlantedNearDups]]), so the entry plants BOTH kinds —
  * exact copies under +1_000_000, truncated near-copies under
  * +2_000_000; the exact stage must remove precisely the former
  * (`dups_removed`) and the near stage the latter (`near_dups_removed`),
  * or the entry is vacuous. */
object Curation {

  // Cache discipline: curate() is lazy (both consumers of the persisted
  // kept-set live inside the ONE returned plan, so the earliest safe
  // unpersist is after the caller's action — outside this function).
  // Bench/test sessions invoke curate repeatedly; without a bound each
  // call would pin another copy of the kept set for the session's
  // lifetime. Each call therefore releases the previous call's cache, so
  // at most one curated kept-set is pinned at any time, and
  // [[releaseCache]] lets a caller drop even that once its action is done.
  // The release comes BEFORE the call persists its own: Spark finds a
  // cache by its plan, and a repeat call persists the same plans, so a
  // release after the persist dropped the new cache too.
  /** Fluency keep threshold for the cascade, in score ppm — a fixed
    * integer against [[Fluency]]'s exact-integer score (the corpus
    * distribution spans ~28k–44k ppm with median ~35.6k, so ~25–30% of
    * documents fall below; CCNet drops by perplexity percentile, and a
    * production run would calibrate this constant per reference LM the
    * same way). */
  private[ops] val CascadeFluencyMinPpm = 34000L
  /** Cascade repetition thresholds: the Gopher-style dup-token bound is
    * LOOSENED vs the standalone entry's 30 (the synthetic corpus draws
    * from a small vocabulary, so a 30% dup bound marks 85% of documents
    * — a cascade where one gate devours the corpus exercises nothing
    * downstream); 65 marks the genuinely dup-heavy tail (~15%). The
    * top-bigram bound stays at the published 18. */
  private[ops] val CascadeDupTokenPctMax = 65
  private[ops] val CascadeTopBigramPctMax = 18

  /** The relations one call persisted, newest first, so each is released
    * before the relations it reads (unpersisting a relation re-caches any
    * cached relation that still reads it). */
  private final class Slot {
    private[this] var held: List[DataFrame] = Nil
    def hold(df: DataFrame): DataFrame = synchronized { held = df :: held; df }
    def release(): Unit = synchronized {
      held.foreach(_.unpersist(blocking = false))
      held = Nil
    }
  }
  // (declared ahead of `val oracle`, which reads them at object init)
  // the kept set and the near-dup stage's MinHash signatures over it
  private[this] val keptSlot = new Slot
  // (r20) the crawl composition's extracted prose, which the kept set reads
  private[this] val extractedSlot = new Slot
  def releaseCache(): Unit = {
    keptSlot.release()
    extractedSlot.release()
  }

  /** ENTRY scaffolding (the production pipeline curates real data with
    * real duplicates): every document gets an exact copy under
    * `doc_id + 1_000_000` AND a near-copy (last ~10% of characters
    * dropped — [[Dedup.withPlantedNearDups]]'s perturbation) under
    * `doc_id + 2_000_000`. */
  def withPlantedDups(docs: DataFrame): DataFrame =
    // single-pass fan-out (r20): the old 3-branch unionAll re-derived the
    // source subtree once PER BRANCH — three scans (three WARC/JSONL
    // parses in the e2e compositions) to emit rows one pass produces. The
    // generator emits only a variant TAG (exact copy / exact copy+1M /
    // 0.9-truncated+2M) and the source columns pass through beside it, so
    // column pruning still reaches the source; every consumer aggregates
    // or re-sorts, so branch order was never observable (oracle-checked).
    docs.select(col("doc_id"), col("text"), col("lang"),
      explode(typedlit(Seq(0L, 1L, 2L))).as("__v"))
      .select(
        (col("doc_id") + col("__v") * 1000000L).as("doc_id"),
        when(col("__v") === 2L, expr(
          "substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))"))
          .otherwise(col("text")).as("text"),
        col("lang"))

  /** The shared front half of the pipeline: gate → exact keep-first dedup
    * → near-dup marking. Returns the persisted kept set (doc_id, lang,
    * text, n_tokens, quality_score, n_copies) and the marked-for-removal
    * near-dup ids. */
  private def gateAndDedup(docs: DataFrame, minTokens: Int, maxTokens: Int,
      minQuality: Double, nearBands: Int, nearThreshold: Double)
      : (DataFrame, DataFrame) = {
    val gated = TextAnalysis.qualityScores(
      docs.select(col("doc_id"), col("text"), col("lang")),
      keep = Seq("lang", "text"))
      .filter(col("n_tokens").between(minTokens, maxTokens) &&
        col("quality_score") >= minQuality)
      .select(col("doc_id"), col("lang"), col("text"),
        col("n_tokens"), col("quality_score"))
    keptSlot.release()
    // exact keep-first: text rides inside the min_by struct (identical
    // within a hash group) so the near-dup stage can shingle it without
    // a join back to the source
    val kept = keptSlot.hold(gated
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(
        min_by(struct(col("doc_id"), col("lang"), col("text"),
          col("n_tokens"), col("quality_score")), col("doc_id")).as("r"),
        count(lit(1)).as("n_copies"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.text").as("text"), col("r.n_tokens").as("n_tokens"),
        col("r.quality_score").as("quality_score"), col("n_copies"))
      // consumed twice (near-dup mining shingles the text, the second
      // consumer aggregates or chunks): without this, the quality gate +
      // hash dedup shuffle — the expensive half at corpus scale —
      // recomputes for each consumer
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // near-dup keep-first: every LSH pair (doc_a < doc_b) marks doc_b
    val (pairs, sigs) = Dedup.minHashPairsOwned(kept, nearBands, nearThreshold)
    keptSlot.hold(sigs)
    (kept, pairs.select(col("doc_b").as("doc_id")).distinct())
  }

  def curate(docs: DataFrame, minTokens: Int = 20, maxTokens: Int = 2000,
      minQuality: Double = 0.5, nearBands: Int = 16,
      nearThreshold: Double = 0.5): DataFrame = {
    val (kept, removed) = gateAndDedup(
      docs, minTokens, maxTokens, minQuality, nearBands, nearThreshold)
    val flagged = Sampling.deterministicSplit(
      kept.select("doc_id", "lang", "n_tokens", "quality_score", "n_copies"))
      .join(removed.withColumn("is_removed", lit(1)), Seq("doc_id"), "left_outer")
    flagged
      .groupBy(col("lang"), col("split"))
      .agg(
        count(when(col("is_removed").isNull, 1)).as("n_docs"),
        sum(when(col("is_removed").isNull, col("n_copies") - 1)).as("dups_removed"),
        count(col("is_removed")).as("near_dups_removed"),
        sum(when(col("is_removed").isNull, col("n_tokens"))).as("sum_tokens"),
        round(avg(when(col("is_removed").isNull, col("quality_score"))), 6)
          .as("avg_quality"))
      .orderBy("lang", "split")
  }

  /** The pipeline's OUTPUT artifact, not just its accounting: the
    * surviving train-split documents exploded into training windows.
    * Same chain as [[curate]] (gate → exact keep-first → near-dup
    * removal → deterministic split), then the train slice flows through
    * [[Chunking.chunk]] with `lang` carried per window — the exact rows a
    * trainer's data loader reads. One declarative plan end-to-end; the
    * removal is a broadcast-able left-anti join on ids, the split and the
    * chunker are map-side, so the back half adds ZERO wide stages beyond
    * curate's own. */
  def curateToChunks(docs: DataFrame, minTokens: Int = 20,
      maxTokens: Int = 2000, minQuality: Double = 0.5, nearBands: Int = 16,
      nearThreshold: Double = 0.5, chunkTokens: Int = 32,
      stride: Int = 24): DataFrame = {
    val (kept, removed) = gateAndDedup(
      docs, minTokens, maxTokens, minQuality, nearBands, nearThreshold)
    val train = Sampling.deterministicSplit(kept)
      .where(col("split") === "train")
      .join(removed, Seq("doc_id"), "left_anti")
    Chunking.chunk(train, chunkTokens = chunkTokens, stride = stride,
      keep = Seq("lang"))
  }

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "curate_corpus" -> ((s, d) =>
      curate(withPlantedDups(Tables.load(s, d, "documents")))),
    "curate_to_chunks" -> ((s, d) =>
      curateToChunks(withPlantedDups(Tables.load(s, d, "documents")))
        .orderBy("doc_id", "chunk_id")),
    // raw drop bytes to trainer rows, one declarative plan: the JSONL
    // valid channel (corrupt lines quarantined upstream) feeds the same
    // planted-dup curation + chunking as curate_to_chunks
    "e2e_drop_to_chunks" -> ((s, d) => {
      val (valid, _) = graft.sources.JsonlIngest.readWithQuarantine(
        s, graft.sources.JsonlIngest.ensureJsonlDrop(s, d))
      curateToChunks(withPlantedDups(valid.select("doc_id", "text", "lang")))
        .orderBy("doc_id", "chunk_id")
    }),
    // the CRAWL arrival shape under one oracle: WARC archive bytes
    // (framing damage quarantined) → the planted page template → HTML
    // extraction → a two-fetch log collapsed by URL-level dedup (the gate
    // REQUIRES both fetches to land on one key: a normalizer drift
    // empties the pipeline loudly instead of passing vacuously) → the
    // same planted-dup curation (quality gate, exact + near dedup, split)
    // → chunk windows. Each stage reuses the exact rule its own oracle
    // entry pins, so the composition catches cross-stage drift.
    "e2e_crawl_to_chunks" -> ((s, d) => {
      val (valid, _) = graft.sources.WarcIngest.readWithQuarantine(
        s, graft.sources.WarcIngest.ensureWarcDrop(s, d))
      crawlToChunks(valid).orderBy("doc_id", "chunk_id")
    }),
    // r17: the filter cascade — per-document votes from all four gates
    // plus the composed keep and first-fail attribution (strongest form:
    // every document's every vote is under the hash). r18: the entry
    // runs the FUSED single-pass form; the four-frame reference plan
    // stays as [[cascadeDecisions]], vote-equality spec-pinned
    "curate_cascade" -> ((s, d) => cascadeDecisionsFused(s, d).orderBy("doc_id")),
    // r17: the cascade's accounting — per-reason drop counts + per-gate
    // independent failure counts, one row (the FineWeb-style report)
    "curate_cascade_counts" -> ((s, d) => cascadeCountsFused(s, d)))

  /** The crawl composition AFTER ingestion — the planted page template →
    * HTML extraction → the two-fetch URL-dedup gate → the same planted-dup
    * curation → chunk windows. ONE definition shared by the batch
    * whole-path entry above and the streaming crawl twin's micro-batches
    * ([[graft.streaming.EventStreams.crawlChunks]]), so the always-on
    * form cannot drift from the oracle-pinned batch stages. */
  def crawlToChunks(valid: DataFrame): DataFrame = {
    releaseCache()
    val extracted = extractedSlot.hold(valid
      .select(col("doc_id"), col("lang"),
        expr(TextAnalysis.htmlPageTemplateExpr).as("html"))
      .select(col("doc_id"), col("lang"),
        graft.functions.GraftFunctions.html_to_text(col("html")).as("text"))
      // r20: consumed twice (the URL-dedup gate below and the curated
      // join side) — and the WARC source behind `valid` is an archive
      // parse (a per-archive flatMap), so each re-derivation re-parses
      // whole archives. Persist the parsed PROSE (doc_id, lang, text):
      // one parse per action instead of one per consumer.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keepers = Urls.fetchLog(extracted)
      .groupBy(graft.functions.GraftFunctions.url_normalize(col("url")).as("url_norm"))
      .agg(count(lit(1)).as("n_fetches"), min(col("fetch_id")).as("keeper"))
      .filter(col("n_fetches") === 2) // both fetch variants MUST collapse
      .select(col("keeper").as("doc_id"))
    val crawled = extracted.join(keepers, Seq("doc_id"))
    curateToChunks(withPlantedDups(crawled.select("doc_id", "text", "lang")))
  }

  /** DuckDB mirror: quality metrics per PLANTED document (near-copies
    * have their own truncated text, so metrics are computed on the
    * planted union, not joined from the source), the same gate,
    * keep-first via `arg_min` per text (the engine hashes the text first
    * — SHA-256-collision-equivalent), the identical minhash signature
    * chain over the kept docs ([[HashOracleSql.minhashPairCtes]]), the
    * same drop-doc_b rule, the same split arithmetic as the
    * `sample_split` oracle, and every SUM cast back to BIGINT (DuckDB
    * sums to HUGEINT, the round-1 incident class). */
  /** Shared oracle preamble: planted union → quality gate → keep-first →
    * minhash pair mining → removal set. Both composed entries build on
    * exactly these CTEs, so the two oracles cannot drift apart. */
  private def plantedKeptCtes: String = plantedKeptCtesFrom("documents")

  /** The same preamble rooted at an arbitrary (doc_id, text, lang)
    * relation — the raw-drop end-to-end entry splices it after the JSONL
    * parse CTEs. `withHead` = false omits the leading WITH so the caller
    * can prepend its own CTE chain. */
  private[ops] def plantedKeptCtesFrom(src: String,
      withHead: Boolean = true): String =
    s"""${if (withHead) "WITH " else ""}p AS (
       |  SELECT doc_id, text, lang FROM $src
       |  UNION ALL
       |  SELECT doc_id + 1000000, text, lang FROM $src
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |         substring(text, 1, greatest(CAST(trunc(length(text) * 0.9) AS INT), 1)),
       |         lang
       |  FROM $src),
       |q AS (${TextAnalysis.textQualityOracleSqlFrom("p")}),
       |g AS (
       |  SELECT p.doc_id, p.lang, p.text, q.n_tokens, q.quality_score
       |  FROM p JOIN q USING (doc_id)
       |  WHERE q.n_tokens BETWEEN 20 AND 2000 AND q.quality_score >= 0.5),
       |k AS (
       |  SELECT MIN(doc_id) AS doc_id,
       |         arg_min(lang, doc_id) AS lang,
       |         text,
       |         arg_min(n_tokens, doc_id) AS n_tokens,
       |         arg_min(quality_score, doc_id) AS quality_score,
       |         COUNT(*) AS n_copies
       |  FROM g GROUP BY text),
       |${HashOracleSql.minhashPairCtes("k")},
       |removed AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)""".stripMargin

  /** The accounting tail of the curate oracle (split assignment + the
    * per-(lang, split) rollup) — shared with the classifier-composed
    * form (`curate_clf_corpus`), so the two cannot drift. */
  private[ops] val curateAccountingTailSql: String =
    """s AS (
      |  SELECT k.*, removed.doc_id IS NOT NULL AS is_removed,
      |         CASE WHEN ((k.doc_id % 1000003) * 2654435761) % 1000 < 800 THEN 'train'
      |              WHEN ((k.doc_id % 1000003) * 2654435761) % 1000 < 900 THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM k LEFT JOIN removed USING (doc_id))
      |SELECT lang, split,
      |       COUNT(*) FILTER (WHERE NOT is_removed) AS n_docs,
      |       CAST(SUM(n_copies - 1) FILTER (WHERE NOT is_removed) AS BIGINT) AS dups_removed,
      |       COUNT(*) FILTER (WHERE is_removed) AS near_dups_removed,
      |       CAST(SUM(n_tokens) FILTER (WHERE NOT is_removed) AS BIGINT) AS sum_tokens,
      |       ROUND(AVG(quality_score) FILTER (WHERE NOT is_removed), 6) AS avg_quality
      |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin

  val oracle: Seq[(String, String)] = Seq(
    "curate_corpus" ->
      s"""$plantedKeptCtes,
         |$curateAccountingTailSql""".stripMargin,
    // the same kept set, train slice only, exploded into the text_chunk
    // windows with lang carried per row
    "curate_to_chunks" ->
      s"""$plantedKeptCtes,
         |$chunksFromKeptSql""".stripMargin,
    // the WHOLE path under one oracle: raw JSONL drop bytes -> PERMISSIVE
    // parse (corrupt lines excluded exactly as ingest_jsonl) -> the
    // planted-dup curation preamble rooted at the parsed rows -> train
    // slice -> chunk windows. Any drift in ingest, gating, dedup, split,
    // or chunking hash-mismatches here even if each piece's own entry
    // still passes.
    "e2e_drop_to_chunks" ->
      s"""${graft.sources.JsonlIngest.linesCte},
         |parsed AS (
         |  SELECT CAST(json_extract(line, '$$.doc_id') AS BIGINT) AS doc_id,
         |         json_extract_string(line, '$$.text') AS text,
         |         json_extract_string(line, '$$.lang') AS lang
         |  FROM lines WHERE ${graft.sources.JsonlIngest.parseable}),
         |${plantedKeptCtesFrom("parsed", withHead = false)},
         |$chunksFromKeptSql""".stripMargin,
    // WARC valid channel (ingest_warc's rule) → the html-extraction rule
    // (text_extract_html's expected form) → the dedup_url fixture's two
    // fetches, collapsed to one key with n_fetches = 2 REQUIRED → the
    // shared curation preamble → the shared chunk tail
    // the four gate emulations — each generated by THE builder its
    // standalone oracle uses — joined into one votes relation
    "curate_cascade" ->
      s"""WITH $cascadeVotesCtes
         |SELECT doc_id, clf_keep, fluency_keep, repetition_keep,
         |       contamination_keep, keep, drop_reason
         |FROM decided ORDER BY doc_id""".stripMargin,
    "curate_cascade_counts" ->
      s"""WITH $cascadeVotesCtes
         |SELECT COUNT(*) AS n_docs,
         |       COUNT(*) FILTER (WHERE keep) AS n_kept,
         |       COUNT(*) FILTER (WHERE keep IS NULL) AS n_undecided,
         |       COUNT(*) FILTER (WHERE drop_reason = 'clf') AS drop_clf,
         |       COUNT(*) FILTER (WHERE drop_reason = 'fluency') AS drop_fluency,
         |       COUNT(*) FILTER (WHERE drop_reason = 'repetition') AS drop_repetition,
         |       COUNT(*) FILTER (WHERE drop_reason = 'contamination') AS drop_contamination,
         |       COUNT(*) FILTER (WHERE clf_keep = FALSE) AS fail_clf,
         |       COUNT(*) FILTER (WHERE fluency_keep = FALSE) AS fail_fluency,
         |       COUNT(*) FILTER (WHERE repetition_keep = FALSE) AS fail_repetition,
         |       COUNT(*) FILTER (WHERE contamination_keep = FALSE) AS fail_contamination,
         |       TRUE AS gates_all_active
         |FROM decided""".stripMargin,
    "e2e_crawl_to_chunks" ->
      s"""WITH crawl AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
         |extracted AS (
         |  SELECT doc_id, lang,
         |         ${TextAnalysis.htmlExtractedSql("text")} AS text
         |  FROM crawl),
         |fetches AS (
         |  SELECT doc_id AS fetch_id, doc_id,
         |         'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url_norm
         |  FROM extracted
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS fetch_id, doc_id,
         |         'http://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url_norm
         |  FROM extracted),
         |keepers AS (
         |  SELECT MIN(fetch_id) AS doc_id
         |  FROM fetches GROUP BY url_norm HAVING COUNT(*) = 2),
         |crawled AS (
         |  SELECT e.doc_id, e.text, e.lang
         |  FROM extracted e JOIN keepers USING (doc_id)),
         |${plantedKeptCtesFrom("crawled", withHead = false)},
         |$chunksFromKeptSql""".stripMargin)

  // ------------------------------------------------- the filter cascade

  /** The FineWeb/CCNet-style filter CASCADE (r16 verdict #5): the four
    * model/metric gates the suite pins piecewise — the quality
    * classifier, the reference-LM fluency score, the Gopher-style
    * repetition metrics, and benchmark contamination — composed into ONE
    * keep decision per document with first-failing-gate attribution.
    * Input is the spam-planted corpus ([[QualityClf.plantSpam]] — the
    * classifier needs its planted labels; every other gate sees the SAME
    * text, so the stages cannot quietly run on different corpora).
    *
    * Vote semantics are Kleene (engine-independent): a gate that cannot
    * score a document (no classifier features, no bigram for the LM)
    * abstains with NULL — `keep` is then NULL unless some other gate
    * already voted FALSE; `drop_reason` names the FIRST gate that voted
    * FALSE in cascade order (clf → fluency → repetition → contamination
    * — cheap-model-first, the production short-circuit order), never an
    * abstention.
    *
    * Scale shape: classifier training is the ONE bounded ≤1024-row
    * aggregate + bounded collect; LM scoring is a pure map over the
    * stored model's plan-literal arrays; repetition is the corpus-linear
    * bigram partial+final; contamination is a broadcast semi-join. The
    * four vote frames join back on doc_id — hash exchanges on the key,
    * text never joins. */
  def cascadeDecisions(s: SparkSession, d: String): DataFrame = {
    val planted = QualityClf.plantSpam(Tables.load(s, d, "documents"))
    val clf = QualityClf.trainAndScoreUnordered(planted)
      .select(col("doc_id"), col("keep").as("clf_keep"))
    val flu = Fluency.scoreWithLmUnordered(planted, Fluency.ensureLmModel(s, d))
      .select(col("doc_id"),
        (col("fluency_ppm") >= CascadeFluencyMinPpm).as("fluency_keep"))
    val rep = TextAnalysis.repetitionMetricsUnordered(planted,
        topBigramPctMax = CascadeTopBigramPctMax,
        dupTokenPctMax = CascadeDupTokenPctMax)
      .select(col("doc_id"), (!col("is_repetitive")).as("repetition_keep"))
    // the contamination fixture rule (text_contamination's — ONE shared
    // definition), applied to the cascade's OWN corpus: every 50th
    // document's 30% prefix is the "benchmark", so those documents must
    // come back flagged
    val cont = TextAnalysis.contaminationUnordered(planted,
        TextAnalysis.contaminationBenchmark(planted))
      .select(col("doc_id"), lit(false).as("contamination_keep"))
    planted.select("doc_id")
      .join(clf, Seq("doc_id"), "left")
      .join(flu, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("clf_keep"), col("fluency_keep"),
        col("repetition_keep"),
        coalesce(col("contamination_keep"), lit(true)).as("contamination_keep"))
      .withColumn("keep",
        col("clf_keep") && col("fluency_keep") &&
          col("repetition_keep") && col("contamination_keep"))
      .withColumn("drop_reason",
        when(col("clf_keep") === false, "clf")
          .when(col("fluency_keep") === false, "fluency")
          .when(col("repetition_keep") === false, "repetition")
          .when(col("contamination_keep") === false, "contamination"))
  }

  /** The SINGLE-PASS cascade (r17 verdict #3): the same four votes as
    * [[cascadeDecisions]], computed by ONE codegen'd expression over ONE
    * corpus scan. Every gate's scoring tail was already a pure map — the
    * classifier over its plan-literal weights, the LM over its stored
    * arrays, repetition over the row-local bigram expression — and the
    * one join (benchmark contamination) becomes a map-side binary-search
    * probe against the collected benchmark shingle set (a benchmark
    * suite is BOUNDED — a few MB of shingles at production scale — which
    * is what made it broadcast-able before and plan-literal now). The
    * per-row cost fuses too: [[graft.functions.CascadeVotes]] segments
    * the text ONCE and runs all four gates' integer arithmetic in tight
    * loops, where the column-composed form re-tokenized per gate and
    * paid interpreted higher-order functions. At 100 TB this is 4
    * corpus scans → 1 (plus the bounded classifier-training aggregate),
    * with the per-row CPU of roughly ONE gate. Vote-for-vote equality
    * with the four-frame reference form is spec-pinned (CascadeSpec)
    * and the gate oracle is UNCHANGED.
    *
    * Benchmark sizing (r18 advice #3): the shingle set rides the plan as
    * a literal only up to [[CascadePlanLiteralMax]] (2^20 longs = 8 MB —
    * a per-executor DESERIALIZATION cost a broadcast amortizes); above
    * it the contamination gate switches to a real broadcast join over
    * the exploded shingles while the other three gates stay fused in the
    * one-scan expression (4 scans → 2, never 4). The two forms are
    * vote-for-vote equal (CascadeSpec pins the switch with
    * `planLiteralMax = 0`). */
  def cascadeDecisionsFused(s: SparkSession, d: String): DataFrame =
    cascadeDecisionsFusedBounded(s, d, CascadePlanLiteralMax)

  /** Plan-literal ceiling for the fused cascade's benchmark shingle set:
    * past 2^20 longs the literal's per-task-binary serialization cost
    * exceeds what a broadcast join amortizes (r18 advice — the old 2^22
    * bound allowed 32 MB task binaries). */
  private[ops] val CascadePlanLiteralMax = 1 << 20

  private[ops] def cascadeDecisionsFusedBounded(s: SparkSession, d: String,
      planLiteralMax: Int): DataFrame = {
    val planted = QualityClf.plantSpam(Tables.load(s, d, "documents"))
    // bounded prep (plan-build time, the stored-model cadence): the
    // classifier's ≤1024-row counts collect, the LM's ≤17408-row load,
    // and the benchmark's distinct shingle hashes
    val (w, thr) = QualityClf.trainedParams(planted)
    val (uni, bi, tot) = Fluency.lmParams(s, Fluency.ensureLmModel(s, d))
    val benchDf = Dedup.shingleHashes(TextAnalysis.contaminationBenchmark(planted))
      .select(explode(col("shingles")).as("sh")).distinct()
    // bounded probe: collect AT MOST planLiteralMax+1 rows to pick the
    // form — the oversized set itself never materializes on the driver
    val benchProbe = benchDf.limit(planLiteralMax + 1).collect()
    def votesCol(bench: Array[Long]) = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CascadeVotes(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        w, thr, uni, bi, tot, bench,
        CascadeTopBigramPctMax, CascadeDupTokenPctMax))
    def decide(voted: DataFrame) = voted
      .withColumn("keep",
        col("clf_keep") && col("fluency_keep") &&
          col("repetition_keep") && col("contamination_keep"))
      .withColumn("drop_reason",
        when(col("clf_keep") === false, "clf")
          .when(col("fluency_keep") === false, "fluency")
          .when(col("repetition_keep") === false, "repetition")
          .when(col("contamination_keep") === false, "contamination"))
    if (benchProbe.length <= planLiteralMax) {
      val bench = benchProbe.map(_.getLong(0)).sorted
      decide(planted.select(col("doc_id"), votesCol(bench).as("v"))
        .select(col("doc_id"),
          col("v.clf_keep").as("clf_keep"),
          (col("v.fluency_ppm") >= CascadeFluencyMinPpm).as("fluency_keep"),
          col("v.repetition_keep").as("repetition_keep"),
          // no shared shingle → keep; no shingles at all → abstain-to-keep
          // (the left-join-absent rows of the four-frame form)
          coalesce(col("v.cov") === 0, lit(true)).as("contamination_keep")))
    } else {
      // broadcast form: the three map-side gates stay in the fused
      // expression (empty bench → cov unused); contamination = one
      // exploded-shingle scan broadcast-joined against the benchmark
      // set. Docs without shingles never match → abstain-to-keep, the
      // same coalesce semantics as the literal form's NULL cov.
      val contaminated = Dedup.shingleHashes(planted)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .join(broadcast(benchDf), Seq("sh"))
        .select("doc_id").distinct()
        .withColumn("__contam", lit(true))
      decide(planted.select(col("doc_id"), votesCol(Array.emptyLongArray).as("v"))
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("v.clf_keep").as("clf_keep"),
          (col("v.fluency_ppm") >= CascadeFluencyMinPpm).as("fluency_keep"),
          col("v.repetition_keep").as("repetition_keep"),
          coalesce(!col("__contam"), lit(true)).as("contamination_keep")))
    }
  }

  /** The cascade's ACCOUNTING — per-reason drop counts (first-fail
    * attribution) plus per-gate independent failure counts, one row.
    * Any cross-stage drift (a gate silently moving its rule) moves one
    * of these integers. */
  def cascadeCounts(s: SparkSession, d: String): DataFrame =
    countsOf(cascadeDecisions(s, d))

  /** [[cascadeCounts]] over the fused single-pass votes. */
  def cascadeCountsFused(s: SparkSession, d: String): DataFrame =
    countsOf(cascadeDecisionsFused(s, d))

  private def countsOf(decided: DataFrame): DataFrame =
    decided.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("keep") === true, 1)).as("n_kept"),
      count(when(col("keep").isNull, 1)).as("n_undecided"),
      count(when(col("drop_reason") === "clf", 1)).as("drop_clf"),
      count(when(col("drop_reason") === "fluency", 1)).as("drop_fluency"),
      count(when(col("drop_reason") === "repetition", 1)).as("drop_repetition"),
      count(when(col("drop_reason") === "contamination", 1)).as("drop_contamination"),
      count(when(col("clf_keep") === false, 1)).as("fail_clf"),
      count(when(col("fluency_keep") === false, 1)).as("fail_fluency"),
      count(when(col("repetition_keep") === false, 1)).as("fail_repetition"),
      count(when(col("contamination_keep") === false, 1)).as("fail_contamination"),
      // non-vacuousness pin (r17 advisory): the ENGINE computes this from
      // the data while the oracle pins a literal TRUE — if a regenerated
      // fixture's score distribution drifts a threshold
      // ([[CascadeFluencyMinPpm]], [[CascadeDupTokenPctMax]]) to where a
      // gate stops failing anyone, the verify gate hash-mismatches here
      // instead of the gate going quietly dead until a unit spec notices
      (count(when(col("clf_keep") === false, 1)) > 0 &&
        count(when(col("fluency_keep") === false, 1)) > 0 &&
        count(when(col("repetition_keep") === false, 1)) > 0 &&
        count(when(col("contamination_keep") === false, 1)) > 0)
        .as("gates_all_active"))

  /** The shared cascade-vote CTE chain: the classifier's model CTEs, the
    * fluency scoring CTEs, the repetition CTEs at the cascade
    * thresholds, and the contamination CTEs — each THE SAME builder its
    * standalone oracle uses — rooted at the clf oracle's `planted`
    * relation, joined into one votes relation `v`. */
  private def cascadeVotesCtes: String =
    s"""${QualityClf.clfModelCtes},
       |${QualityClf.scoreSqlFrom("feat")},
       |${Fluency.scoreCtes("planted")},
       |${TextAnalysis.repetitionCtes("planted",
            topBigramPctMax = CascadeTopBigramPctMax,
            dupTokenPctMax = CascadeDupTokenPctMax)},
       |${HashOracleSql.contaminationCtes("planted")},
       |v AS (
       |  SELECT p.doc_id,
       |         s.score >= ${QualityClf.thrSql} AS clf_keep,
       |         f.fluency_ppm >= $CascadeFluencyMinPpm AS fluency_keep,
       |         NOT r.is_repetitive AS repetition_keep,
       |         c.doc_id IS NULL AS contamination_keep
       |  FROM planted p
       |  LEFT JOIN score s USING (doc_id)
       |  LEFT JOIN flu f USING (doc_id)
       |  LEFT JOIN rep r USING (doc_id)
       |  LEFT JOIN cont c USING (doc_id)),
       |decided AS (
       |  SELECT doc_id, clf_keep, fluency_keep, repetition_keep,
       |         contamination_keep,
       |         clf_keep AND fluency_keep AND repetition_keep
       |           AND contamination_keep AS keep,
       |         CASE WHEN clf_keep = FALSE THEN 'clf'
       |              WHEN fluency_keep = FALSE THEN 'fluency'
       |              WHEN repetition_keep = FALSE THEN 'repetition'
       |              WHEN contamination_keep = FALSE THEN 'contamination'
       |         END AS drop_reason
       |  FROM v)""".stripMargin

  private def chunksFromKeptSql: String =
    ("""train AS (
      |  SELECT k.doc_id, k.lang, k.text
      |  FROM k LEFT JOIN removed USING (doc_id)
      |  WHERE removed.doc_id IS NULL
      |    AND ((k.doc_id % 1000003) * 2654435761) % 1000 < 800),
      |tok AS (
      |  SELECT doc_id, lang,
      |         """ + Tokens.duckToks("text") + """ AS t
      |  FROM train)
      |SELECT doc_id, lang,
      |       CAST(s // 24 AS BIGINT) AS chunk_id,
      |       CAST(s AS BIGINT) AS chunk_start,
      |       CAST(least(32, n - s) AS BIGINT) AS chunk_tokens,
      |       array_to_string(t[s + 1 : least(s + 32, n)], ' ') AS chunk_text
      |FROM (SELECT doc_id, lang, t, len(t) AS n,
      |             unnest(generate_series(0, len(t) - 1, 24)) AS s
      |      FROM tok WHERE len(t) > 0)
      |ORDER BY doc_id, chunk_id""").stripMargin
}
