package graft.ops

import graft.Tables
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline.
  * Beyond-reference surface (the reference engine is TPC-H-relational only;
  * SURVEY.md §7.2 M5 declares these as north-star extensions).
  *
  * Scale design (100 TB):
  *  - Exact dedup groups by a 256-bit content hash, never by the raw text —
  *    the shuffle carries 32 bytes + counts per row, not document bodies.
  *  - Near-dup never compares all pairs: candidates come from LSH bucket
  *    joins (MinHash bands / SimHash chunks / hyperplane buckets), which is
  *    a plain shuffle-on-key join — linear in data + collisions, not O(n²).
  *  - Hot shingles (stop-shingles shared by a large fraction of documents)
  *    are dropped by a document-frequency cutoff before the pair join, the
  *    standard skew guard for similarity self-joins.
  *
  * Cache lifecycle: the pipelines persist(MEMORY_AND_DISK) their compact
  * multi-use intermediates (signatures, exploded index, buckets) and
  * return LAZY DataFrames whose lineage runs through those caches, so the
  * op cannot unpersist them itself. Callers that run many pipelines in one
  * session (Bench, Verify, PlanAudit here) call
  * `spark.sharedState.cacheManager.clearCache()` between queries; a
  * long-lived service should do the same after consuming each result.
  */
object Dedup {

  /** Exact duplicate groups by full-content hash.
    * Output: keep_id (min doc_id of the group), n_copies. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** Tokenize + hash word shingles: (doc_id, shingles: array<long>).
    * One native single-pass expression (WordShingleHashes) — no token or
    * shingle strings are materialized, so the sketch pipelines work on
    * longs end-to-end. */
  def shingleHashes(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .withColumn("shingles", word_shingles(col("text"), n))
      .filter(col("shingles").isNotNull)
      .select(col("doc_id"), col("shingles"))

  /** The synthetic corpus has no natural near-duplicates (verified: zero
    * exact dups, near-random text), so the near-dup pipelines are exercised
    * on `docs ∪ perturbed(docs)`: every document gets a deterministic
    * near-copy (last ~10% of characters dropped) with doc_id + 1_000_000.
    * Each pipeline must rediscover exactly these planted pairs plus any
    * genuine ones — making the result deterministic and self-checking. */
  def withPlantedNearDups(docs: DataFrame): DataFrame =
    // single-pass fan-out (r20): original + perturbed twin from ONE
    // evaluation of each source row — the unionAll form scanned the source
    // once per branch. The generator emits only a variant TAG and the
    // source columns pass through beside it (an inline(array(struct…))
    // form blocked column pruning: consumers reading (doc_id, text) pulled
    // lang/source/n_chars through the scan too). Consumers aggregate/join/
    // sort, so branch order was never observable (oracle-checked).
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
      col("n_chars"), explode(typedlit(Seq(0L, 1L))).as("__v"))
      .select(
        (col("doc_id") + col("__v") * 1000000L).as("doc_id"),
        when(col("__v") === 0L, col("text"))
          .otherwise(expr(
            "substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))"))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))

  /** (doc_id, sig) → one row per LSH band, keyed by xxhash64 of the band's
    * signature slice; the banding used by [[minHashPairs]] and the
    * persisted incremental index ([[buildMinhashIndex]]/[[probeMinhashIndex]]
    * MUST band identically or probes would miss snapshot candidates). */
  private def bandKeys(sigs: DataFrame, bands: Int): DataFrame = {
    val rows = 64 / bands
    sigs.select(
      col("doc_id"),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $rows + 1, $rows)))"))
        .as(Seq("band", "band_hash")))
  }

  /** (doc_id, text) → (doc_id, sig): the 64-slot MinHash signature used by
    * the pair pipeline and the incremental index. */
  private def minhashSigs(docs: DataFrame): DataFrame =
    shingleHashes(docs)
      .withColumn("sig", minhash_sig(col("shingles")))
      .filter(col("sig").isNotNull)
      .select("doc_id", "sig")

  /** MinHash + LSH banding near-dup pairs.
    * numHashes=64 split into `bands` bands of 64/bands rows; two documents
    * become candidates iff some band agrees (bucket join on (band, hash));
    * candidates are then scored by signature agreement (Jaccard estimate)
    * and thresholded. Output: doc_a < doc_b, est_jaccard. The persisted
    * signature rows stay cached until the session's cache is cleared; a
    * caller that runs repeatedly in one session uses [[minHashPairsOwned]]
    * and releases them. */
  def minHashPairs(docs: DataFrame, bands: Int = 16, threshold: Double = 0.5): DataFrame =
    minHashPairsOwned(docs, bands, threshold)._1

  /** [[minHashPairs]] plus the persisted signature rows it reads 3×: the
    * caller owns that cache and unpersists it after its last action over
    * the pairs. */
  private[ops] def minHashPairsOwned(docs: DataFrame, bands: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val numHashes = 64
    // a non-divisor would silently drop signature rows; bands > 64 would
    // make every band hash the empty slice — i.e. a full cross join
    require(bands > 0 && numHashes % bands == 0,
      s"bands must divide $numHashes, got $bands")
    val sigs = minhashSigs(docs)
      // consumed 3× (banding + two pair join-backs): persist the compact
      // (id, 64-long sig) rows instead of re-running the text hashing
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate generation carries only (doc_id, band, band_hash) through
    // the shuffle — signatures join back in AFTER pair dedup, so the wide
    // sig arrays are never part of the self-join payload
    val banded = bandKeys(sigs, bands)
    val candidates = banded.select(col("doc_id").as("doc_a"), col("band"), col("band_hash"))
      .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val pairs = candidates
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard", // r19: native slot-agreement count (the
        // zip_with + aggregate lambda chain evaluated interpreted per pair)
        graft.functions.GraftFunctions.sig_agreement(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")
    (pairs, sigs)
  }

  /** SimHash near-dup pairs. 64-bit signature; candidate generation by the
    * pigeonhole trick: split the signature into 4 16-bit chunks — any pair
    * with Hamming distance ≤ 3 must agree on at least one whole chunk, so a
    * bucket join on (chunk_index, chunk_value) finds all of them without a
    * cross join. Output: doc_a < doc_b, hamming. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = shingleHashes(docs)
      .withColumn("sh", simhash64(col("shingles")))
      .filter(col("sh").isNotNull)
      .select("doc_id", "sh")
      // both self-join sides re-derive from here: persist two longs per doc
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hamming64Pairs(sigs, maxHamming)
  }

  /** Hamming-ball pair join over any 64-bit signature frame (doc_id, sh):
    * pigeonhole candidate generation — split into ⌈(maxHamming+1)⌉ = 4
    * 16-bit chunks, bucket-join on (chunk_idx, chunk_val), verify with
    * exact bit_count ≤ maxHamming. Shared by [[simHashPairs]] (text
    * SimHash) and [[ImageDedup.imagePairs]] (perceptual dHash) — the two
    * callers band identically, never all-pairs. Requires maxHamming ≤ 3
    * (4 chunks guarantee recall only up to 3 differing bits). */
  private[ops] def hamming64Pairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole banding is exact only for maxHamming <= 3, got $maxHamming")
    val chunked = sigs.select(col("doc_id"), col("sh"),
      posexplode(expr("transform(sequence(0, 3), c -> (shiftright(sh, c * 16) & 65535))"))
        .as(Seq("chunk_idx", "chunk_val")))
    val a = chunked.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("chunk_idx"), col("chunk_val"))
    val b = chunked.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("chunk_idx"), col("chunk_val"))
    a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram Jaccard similarity via a prefix-filtered inverted index
    * (the SSJoin/PPJoin candidate bound — Chaudhuri et al. ICDE'06, Xiao et
    * al. WWW'08): explode distinct shingles, drop stop-shingles (df > maxDf
    * — the skew guard), rank each document's shingles rarest-first under
    * the GLOBAL (df, sh) total order, and self-join only each document's
    * first `size - ceil(t·size) + 1` shingles. Candidates are then verified
    * exactly with `array_intersect` against the full per-document sets.
    *
    * Exactness: J(a,b) ≥ t implies |a∩b| ≥ t/(1+t)·(|a|+|b|) ≥ t·|a| (using
    * |b| ≥ |a∩b|), so the smallest shared shingle in the global order
    * cannot sit in either document's `ceil(t·|size|) − 1`-long suffix —
    * the prefix join finds every qualifying pair, no false negatives.
    *
    * Scale rationale (100 TB): the pair-join volume drops from Σ df² to
    * Σ df_prefix² (≈ t²·Σ df² for uniform sets — 4× fewer at t = 0.5, far
    * more on boilerplate-heavy corpora where hot-but-under-cutoff shingles
    * dominate and land in suffixes), and the per-pair COUNT aggregate over
    * the join output disappears entirely — verification is a map over
    * candidate pairs joined to the compact per-doc set arrays.
    * Output: doc_a < doc_b, jaccard. */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    // the exploded index feeds the df aggregate and the anti-join probe
    // side. NOT persisted (r13): the df aggregate's shuffle files are
    // shared by every downstream consumer via ReusedExchange, and the
    // probe side only re-runs the map-side scan→hash→explode chain — a
    // 2M-row MEMORY_AND_DISK materialization bought nothing on a quiet
    // host and was the entry's biggest variance amplifier under load
    val exploded = shingleHashes(docs)
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("sh"))
    // document frequency per shingle: partial-aggregated groupBy (map-side
    // combine), consumed by the stop-shingle cutoff and the global prefix
    // order
    val dfs = exploded.groupBy("sh").agg(count(lit(1)).as("df"))
    // stop-shingle removal: the hot set (df > maxDf) is small by
    // construction — broadcast anti-join BEFORE any shuffle on `sh`, so
    // the equi-join below never sees the skewed keys (per-key volume is
    // then bounded by maxDf)
    val hot = dfs.filter(col("df") > maxDf).select("sh")
    val rare = exploded.join(broadcast(hot), Seq("sh"), "left_anti")
    // ONE aggregate builds both the prefix source and the verification
    // sets: per doc, shingles sorted rarest-first under the global
    // (df, sh) total order — via the primitive-buffer SortedSetByKey
    // aggregate (r13: the collect_list(struct) + interpreted sort_array +
    // lambda chain was the dominant cold/contended-pass weight). Sizing
    // uses the SAME post-cutoff sets the intersection uses — sizing by
    // the full set while intersecting only rare shingles would
    // underestimate Jaccard for boilerplate-heavy docs (two identical
    // docs sharing 90% hot shingles must score 1.0).
    val sets = rare.join(dfs, Seq("sh"))
      .groupBy("doc_id")
      .agg(graft.functions.GraftFunctions
        .sorted_set_by_key(col("df"), col("sh")).as("set"))
      .withColumn("set_size", size(col("set")).cast("long"))
      // consumed three times (prefix + both verification join-backs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ALL candidate-bound arithmetic runs in exact LONG arithmetic on a
    // floored scaled threshold tS/1e6 ≤ t: double products like
    // ceil(0.8/1.8 · 63) land on 28.000000000000004 → ceil 29 and silently
    // DROP an exactly-at-threshold pair (the float knife-edge class).
    // Flooring the scale only loosens every bound (a smaller threshold
    // admits more candidates), so the filters stay lossless for the true
    // t; exactness is restored by the verification stage regardless.
    val tS = math.floor(threshold * 1000000).toLong
    // the prefix is the part of the document that CANNOT be entirely
    // skipped by a partner with Jaccard ≥ t (length size − ceil(t·size) + 1,
    // the ceil taken on integers); positions ride along for the positional
    // filter below
    val prefix = sets.select(col("doc_id"), col("set_size"),
      posexplode(slice(col("set"), lit(1),
        expr(s"cast(set_size - ((set_size * $tS + 999999) div 1000000) + 1 as int)")))
        .as(Seq("pos", "sh")))
    // candidate pairs: shared prefix shingle + the length filter
    // (|b| ≥ t·|a| is necessary for J ≥ t when |a| ≥ |b|) + the PPJoin
    // POSITIONAL filter: a shared token at 0-based positions (i, j) caps
    // the overlap at 1 + min(|a|−i−1, |b|−j−1) (every other shared token
    // sits after it in the global order), and J ≥ t needs overlap ≥
    // t/(1+t)·(|a|+|b|) ⟺ overlap·(1e6+tS) ≥ tS·(|a|+|b|) in longs.
    // Lossless: a qualifying pair's EARLIEST shared token has the smallest
    // (i, j), hence the loosest cap — that join row always survives even
    // when later shared-token rows are pruned.
    val cand = prefix.select(col("doc_id").as("doc_a"), col("sh"),
        col("set_size").as("size_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("sh"),
        col("set_size").as("size_b"), col("pos").as("pos_b")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b") &&
        greatest(col("size_a"), col("size_b")) * tS <=
          least(col("size_a"), col("size_b")) * 1000000L &&
        (lit(1) + least(col("size_a") - col("pos_a") - 1,
          col("size_b") - col("pos_b") - 1)) * (1000000L + tS) >=
          lit(tS) * (col("size_a") + col("size_b")))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    // exact verification: a map over candidate pairs joined to the compact
    // per-doc set arrays (PPJoin-style; the pair-count aggregate over the
    // full inverted-index join output is gone)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("set_size").as("size_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b"),
        col("set_size").as("size_b")), Seq("doc_b"))
      .withColumn("n_common", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard", col("n_common") / (col("size_a") + col("size_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Passage-level (substring) duplication — the exact-substring dedup
    * family of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL'22), re-expressed at k-token shingle granularity
    * instead of a suffix array (a distributed suffix array shuffles the
    * corpus ~log n times; shingle-granular detection finds every repeated
    * passage of ≥ k tokens in ONE linear pass, trading only span-boundary
    * precision of < k tokens per end).
    *
    * A k-token shingle is DUPLICATED when it occurs more than once
    * anywhere in the corpus (intra- and inter-document repeats both
    * count). Per document, flagged shingle starts are merged into maximal
    * coverage islands (gaps > k break a span) and reported as
    * (doc_id, total_tokens, dup_spans, dup_tokens) for documents with at
    * least one flagged span — exactly the accounting a span-removal pass
    * needs to decide trim-vs-drop.
    *
    * Scale shape: tokenize + shingle-hash are MAP-SIDE (the shuffle
    * carries (doc_id, pos, 32-byte hash) — never shingle text); the
    * duplicate-key set comes from a partial+final count on the hash (hot
    * boilerplate shingles combine map-side, no skewed single-reducer
    * window); flagging re-joins the position stream to the duplicated
    * keys on the same hash; island merging is a per-document window
    * (state bounded by document length) and the rest is per-doc
    * aggregation. Everything is linear in total tokens — the same
    * shuffle regime as the repetition metrics, and the key is 128-bit
    * (two independent 64-bit streams) so corpus-scale collision
    * probability stays negligible by design (~n²/2^129 ≈ 10^-15 at
    * 10^12 shingles). */
  /** (doc_id, toks) via the shared tokenizer ([[Tokens.seg]] —
    * the same token stream chunking and sampling see). */
  private def spanToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Tokens.seg(col("text")).as("toks"))

  /** (doc_id, pos, sh): every k-token shingle start with its 128-bit
    * content key (struct<h1,h2> — the native
    * [[graft.functions.SpanShingleHashes]] kernel) — map-side; positions
    * + 16-byte keys on the wire, never shingle text. r19: replaced the
    * per-window `unhex(sha2(concat_ws(' ', slice(...)), 256))` chain —
    * an interpreted higher-order transform building a string and a SHA
    * per window — with one tight per-row loop; the key is engine-internal
    * (both engines group on shingle-text equality) and 128 bits keeps
    * corpus-scale collisions negligible (~n²/2^129 ≈ 10^-15 at 10^12
    * shingles) while halving shuffle bytes per key. The kernel tokenizes
    * in-eval (the same pinned segmentation contract), so the repeated sh
    * derivations in the span plans never pay the regex seg chain or
    * materialize a token array; a doc with < k tokens yields null →
    * no rows, exactly the old size(toks) >= k gate. */
  private def spanShinglesFromText(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.GraftFunctions.span_shingles(col("text"), k))
        .as(Seq("pos", "sh")))

  /** Gaps-and-islands over flagged shingle starts: intervals [p, p+k−1]
    * chain while consecutive starts are ≤ k apart → (doc_id, s, e) with
    * covered token range [s, e+k−1]. Per-DOCUMENT window — state bounded
    * by document length. */
  private def spanIslands(flagged: DataFrame, k: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val aggs = Seq(min("pos").as("s"), max("pos").as("e")) ++
      carry.map(c => max(col(c)).as(c))
    flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum("brk").over(w))
      .groupBy("doc_id", "island")
      .agg(aggs.head, aggs.tail: _*)
  }

  def duplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    // r19: total_tokens RIDES the shingle branch via the count-only
    // seg_count kernel — the old third corpus pass (scan → regex seg →
    // size → broadcast join-back) is gone. Output rows are docs with ≥ 1
    // duplicated span, each of which has ≥ 1 shingle row, so carrying the
    // per-doc constant nt through islands (max = the constant) is exactly
    // the old inner join. Column pruning keeps the dup-key aggregate
    // branch free of the count (it reads only sh).
    // two-step select: nt lands in its OWN Project BELOW the Generate —
    // a single select would hand the planner a Project above the explode,
    // evaluating the count once per SHINGLE row instead of once per doc
    val sh = docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions.seg_count(col("text")).as("nt"),
        col("text"))
      .select(col("doc_id"), col("nt"),
        posexplode(graft.functions.GraftFunctions.span_shingles(col("text"), k))
          .as(Seq("pos", "sh")))
      // r20: the sh stream feeds TWO consumers (the duplicate-key count
      // and the flag join-back) — without the persist the whole
      // tokenize+hash pass ran twice per action. The cache holds
      // (doc_id, nt, pos, 16-byte key) — positions and keys, never text —
      // and replaces a full second corpus tokenization; the aggregate
      // stays partial+final and the join stays AQE-skew-splittable, so
      // the hot-shingle skew guards are unchanged.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = sh.groupBy("sh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("sh")
    val flagged = sh.join(dup, Seq("sh")).select("doc_id", "nt", "pos")
    spanIslands(flagged, k, carry = Seq("nt")).groupBy("doc_id")
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("e") - col("s") + k).cast("long").as("dup_tokens"),
        max("nt").as("total_tokens"))
      .select("doc_id", "total_tokens", "dup_spans", "dup_tokens")
      .orderBy("doc_id")
  }

  /** The ARTIFACT half of [[duplicatedSpans]] — Lee et al.'s ExactSubstr
    * removal: every duplicated k-token shingle keeps its CANONICAL first
    * occurrence (minimum (doc_id, pos) corpus-wide — a total order, so
    * the decision is engine-stable) and every other occurrence is
    * removed; removable starts merge into islands per document and the
    * cleaned text is rebuilt from the surviving tokens.
    *
    * Output (one row per input document, ORDER BY doc_id):
    * (doc_id, text, total_tokens, kept_tokens) — text is TOKEN-NORMALIZED
    * (single-space joined; a doc stripped empty yields ""). Retention
    * guarantee is one-sided, as in the byte-range original: all duplicate
    * mass is removed, while a canonical occurrence can still lose tokens
    * to an overlapping removable island's coverage.
    *
    * Scale shape: identical to [[duplicatedSpans]] through the island
    * stage (the canonical pick rides the SAME partial+final aggregate as
    * the duplicate count — min of a (doc_id, pos) struct, skew-safe, no
    * per-shingle window); reconstruction joins the per-doc island LIST
    * (bounded by doc length) back to the token arrays and filters
    * positions with a higher-order expression — document text crosses
    * exactly ONE exchange, as whole rows, never token-exploded. */
  def stripDuplicatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val toks = spanToks(docs)
    // r20: same single-derivation persist as [[duplicatedSpans]] — the sh
    // stream feeds the canon/count aggregate AND the removable join-back
    val sh = spanShinglesFromText(docs, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val agg = sh.groupBy("sh").agg(count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("canon"))
    val removable = sh.join(agg.filter(col("cnt") > 1), Seq("sh"))
      .filter(!(col("doc_id") === col("canon.doc_id") &&
        col("pos") === col("canon.pos")))
      .select("doc_id", "pos")
    val ranges = spanIslands(removable, k)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("ranges"))
    toks.join(ranges, Seq("doc_id"), "left")
      // r19: sort BEFORE the reconstruction map — the range sort's
      // bounds-sampling pass re-executes its child, and the kept-token
      // filter/transform below is the plan's heaviest per-row work; the
      // 1:1 projection preserves the established doc_id order
      .orderBy("doc_id")
      .withColumn("ranges",
        coalesce(col("ranges"), expr("cast(array() as array<struct<s:int,e:int>>)")))
      .withColumn("kept", expr(
        s"""filter(transform(toks, (t, i) -> struct(t as tok, i as idx)),
           |       x -> NOT exists(ranges, r -> x.idx >= r.s AND x.idx <= r.e + ${k - 1}))""".stripMargin))
      .select(col("doc_id"),
        array_join(expr("transform(kept, x -> x.tok)"), " ").as("text"),
        size(col("toks")).cast("long").as("total_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"))
  }

  /** Embedding near-dup via random-hyperplane LSH + cosine verification.
    * `tables` independent hash tables of `bits` hyperplanes each (planes are
    * deterministic from the seed); vectors sharing a bucket in any table are
    * candidates; candidates are verified with the codegen'd cosine kernel.
    * Output: id_a < id_b, cosine. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64, threshold: Double = 0.9,
      tables: Int = 4, bits: Int = 12, seed: Long = 42L): DataFrame = {
    val planes = Lsh.hyperplanes(tables, bits, dim, seed)
    // candidate generation carries only (id, table_idx, bucket) through the
    // ×tables-expanded self-join shuffle; the wide vectors join back AFTER
    // pair dedup (same shuffle-volume discipline as minHashPairs)
    val vecs = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val bucketed = Lsh.bucketize(emb, vecCol, planes)
      .select(col(idCol).as("id"), col("table_idx"), col("bucket"))
      // both self-join sides consume this: persist the three-long rows
      // rather than re-hashing every vector against every plane twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = bucketed.select(col("id").as("id_a"), col("table_idx"), col("bucket"))
    val b = bucketed.select(col("id").as("id_b"), col("table_idx"), col("bucket"))
    a.join(b, Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cosine", cosine_f32(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** Incremental EXACT dedup: the rows of `newBatch` whose content does not
    * already exist in `snapshot` (a prior corpus) — the production shape
    * for continuous ingestion, where each new crawl is deduped against a
    * 100 TB corpus WITHOUT reshuffling that corpus.
    *
    * Scale design: a Bloom filter over the snapshot's 64-bit content
    * hashes is built fully distributed (partial sketches OR-merge; only
    * the final `numBits/8`-byte sketch crosses to the driver, like the
    * ANN centroid sets) and re-enters the plan as a scalar subquery, so
    * the probe is a map-side codegen'd filter over the new batch. Rows
    * the Bloom rejects are DEFINITELY new (no false negatives) and bypass
    * every exchange; only the suspects — true re-crawls plus the fp-rate
    * sliver of fresh rows — enter the exact confirm anti-join on a
    * 256-bit content hash. The anti-join's left side shrinks from |batch|
    * to |dups| + fpp·|batch|; its right side is the snapshot HASH column
    * only (32 bytes/row, never document text), which a production
    * deployment keeps as a hash index bucketed by `__h` (Layout
    * .ensureBucketed) so the confirm join co-locates without a snapshot
    * shuffle. Exactness does not depend on the sketch: a clamped/undersized
    * bloom only sends more rows to the exact confirm.
    *
    * The batch is scanned twice (both sides of the suspect split) — map
    * side only; the alternative, nulling the join key for bloom-negative
    * rows inside ONE anti-join, would funnel every bypass row through the
    * null partition of the exchange (the exact skew this op exists to
    * avoid). */
  def incremental(newBatch: DataFrame, snapshot: DataFrame,
      expectedSnapshotItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_agg, might_contain}
    val bloom = snapshot.agg(bloom_agg(xxhash64(col("text")),
      expectedSnapshotItems, optimalBits(expectedSnapshotItems, fpp)).as("bf"))
    suspectSplitDedup(newBatch, snapshot,
      might_contain(bloom.scalar(), xxhash64(col("text"))))
  }

  /** optimal bits for the target fp rate: n·ln(1/p)/ln²2. Spark clamps to
    * spark.sql.optimizer.runtime.bloomFilter.maxNumBits internally — a
    * clamp raises the realized fp rate (more exact-confirm traffic),
    * never affects the result. */
  private def optimalBits(items: Long, fpp: Double): Long =
    math.max(64L, math.ceil(items *
      math.log(1.0 / fpp) / (math.log(2.0) * math.log(2.0))).toLong)

  /** The suspect-split plan shared by batch and streaming incremental
    * dedup: bloom-negatives bypass every exchange, suspects enter the
    * exact 256-bit-hash anti-join. An UNKNOWN probe (NULL — an empty
    * snapshot yields a NULL sketch, a NULL text a NULL hash) must mean
    * SUSPECT, not silently-dropped: both filter branches discard NULL, so
    * without the coalesce a batch probed against an empty snapshot would
    * vanish instead of surviving whole; routed to the exact anti-join,
    * NULL text keys never match and correctly survive as new. */
  private[graft] def suspectSplitDedup(newBatch: DataFrame, snapshot: DataFrame,
      suspectProbe: org.apache.spark.sql.Column): DataFrame = {
    val probed = newBatch.withColumn("__suspect",
      coalesce(suspectProbe, lit(true)))
    val bypass = probed.filter(!col("__suspect")).drop("__suspect")
    val confirmed = probed.filter(col("__suspect")).drop("__suspect")
      .withColumn("__h", sha2(col("text"), 256))
      .join(snapshot.select(sha2(col("text"), 256).as("__h")), Seq("__h"), "left_anti")
      .drop("__h")
    bypass.unionByName(confirmed)
  }

  /** The planted incremental-crawl construction shared by the batch entry
    * (`dedup_incremental`), the streaming twin (`stream_incr_dedup`), and
    * their COMMON oracle: every third document re-crawled verbatim
    * (id+1M — a dup to drop), the rest genuinely new (id+2M, suffixed
    * text — must survive). One definition so the two entries cannot
    * drift from the oracle they share; works on batch and streaming
    * frames alike (filters/projections only). */
  private[graft] def plantedIncrementalBatch(docs: DataFrame): DataFrame = {
    val recrawl = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"))
    val fresh = docs.filter(col("doc_id") % 3 =!= 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" incremental-crawl")).as("text"), col("lang"))
    recrawl.unionByName(fresh)
  }

  /** Materialize the snapshot bloom as bytes — for plans that cannot carry
    * a scalar subquery (a streaming micro-batch re-plans per batch; the
    * sketch must be a foldable literal there). Same distributed
    * partial+final build; only the final sketch is collected — a bounded
    * driver materialization like the ANN centroid sets. */
  def snapshotBloomBytes(snapshot: DataFrame,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): Array[Byte] = {
    import graft.functions.GraftFunctions.bloom_agg
    snapshot.agg(bloom_agg(xxhash64(col("text")),
        expectedItems, optimalBits(expectedItems, fpp)))
      .head().getAs[Array[Byte]](0)
  }

  // ---- epoch-committed persisted-index layout ----
  //
  // Both persisted indexes (MinHash and embedding-LSH) store EPOCHS:
  //   dir/<table>/ep_<id>/   one parquet dir per build/append/compaction
  //   dir/_committed/<id>    marker, written (atomic rename) AFTER every
  //                          table of the epoch landed; its CONTENT lists
  //                          the epoch ids this epoch SUPERSEDES (empty
  //                          for appends). Readers list markers, subtract
  //                          every superseded id, and read exactly the
  //                          surviving epoch dirs.
  // This makes every multi-file transition crash-consistent WITHOUT a
  // cross-directory atomic rename (which plain filesystems don't have):
  //  - a crash between the two table writes leaves an uncommitted epoch
  //    no probe will ever read (instead of sigs with no band rows — a
  //    silent near-dup miss), and a RETRIED append lands under a fresh
  //    epoch id, so the retry is idempotent-by-invisibility;
  //  - a compaction/rebuild becomes visible at ONE atomic marker rename —
  //    the merged marker supersedes the old epochs, so there is no
  //    crash window where old and merged rows are both live (the
  //    double-count the round-12 review caught in the retract-after-
  //    commit draft);
  //  - supersedes lists carry their TRANSITIVE closure, so reclaiming
  //    superseded markers in any order can never resurrect an ancestor.
  // Data files of superseded/uncommitted epochs are reclaimed by the
  // separate [[reclaimIndexGarbage]] pass (never by the merge itself —
  // an in-flight probe planned against the old epochs must be able to
  // finish its scan).

  private def epochDirs(dir: String, table: String, ids: Seq[String]): Seq[String] =
    ids.map(id => s"$dir/$table/ep_$id")

  /** Live (committed, not superseded) epoch ids, oldest first
    * (lexicographic — ids embed a monotonic counter only within one JVM,
    * so order is advisory). */
  private[graft] def committedEpochs(dir: String): Seq[String] = {
    val d = new java.io.File(dir, "_committed")
    val markers = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filterNot(_.getName.startsWith(".")) // in-flight marker temps
    val superseded = markers.flatMap(readSupersedes).toSet
    markers.map(_.getName).filterNot(superseded).sorted
  }

  private def readSupersedes(f: java.io.File): Seq[String] =
    try java.nio.file.Files.readString(f.toPath)
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    catch { case _: java.io.IOException => Seq.empty }

  private[graft] def commitEpoch(dir: String, id: String,
      supersedes: Seq[String] = Nil): Unit = {
    val d = new java.io.File(dir, "_committed")
    d.mkdirs()
    val f = new java.io.File(d, id)
    if (f.exists())
      throw new IllegalStateException(s"epoch $id already committed in $dir")
    // transitive closure: carry forward what the superseded markers
    // themselves supersede, so no deletion order can resurrect an
    // ancestor whose direct superseder's marker was reclaimed first
    val closure = supersedes.flatMap(s =>
      s +: readSupersedes(new java.io.File(d, s))).distinct
    val tmp = new java.io.File(d, s".tmp-$id")
    java.nio.file.Files.writeString(tmp.toPath, closure.mkString("\n"))
    // publish by HARD LINK, not rename: POSIX rename() silently REPLACES
    // an existing target, so two racing committers of the same id would
    // both "succeed" past the exists() pre-check (check-then-act). link()
    // is atomic and fails EEXIST — exactly one committer wins, the loser
    // gets the same IllegalStateException the pre-check gives, and
    // deterministic-id callers (the streaming batch tags) can rely on it
    // as the duplicate gate under zombie-driver races.
    try java.nio.file.Files.createLink(f.toPath, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(s"epoch $id already committed in $dir")
    } finally java.nio.file.Files.deleteIfExists(tmp.toPath)
  }

  /** Committed epoch ids PLUS every id superseded by a live marker — the
    * set a redelivery gate must consult: a compaction supersedes the
    * per-batch tags but its marker still carries them (transitive
    * closure) until [[reclaimIndexGarbage]], so "was this batch ever
    * landed" survives maintenance. After reclaim the tags are gone —
    * hence reclaim's safety-window contract also requires the owning
    * stream's redelivery horizon to have passed (only the last
    * in-flight micro-batch replays on restart). */
  private[graft] def committedOrSupersededEpochs(dir: String): Set[String] = {
    val d = new java.io.File(dir, "_committed")
    val markers = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filterNot(_.getName.startsWith("."))
    (markers.map(_.getName) ++ markers.flatMap(readSupersedes)).toSet
  }

  private val epochCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def newEpochId(): String =
    // zero-padded counter first so same-JVM epochs sort in commit order;
    // the UUID tail keeps ids unique across JVMs sharing a tmpdir
    f"${epochCounter.getAndIncrement()}%06d_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Union of all committed epochs of one index table. */
  private[graft] def readEpochs(spark: SparkSession, dir: String, table: String): DataFrame = {
    val ids = committedEpochs(dir)
    require(ids.nonEmpty, s"no committed epochs in $dir — build the index first")
    spark.read.parquet(epochDirs(dir, table, ids): _*)
  }

  /** Persisted MinHash near-dup index over a corpus snapshot — the
    * incremental counterpart of [[minHashPairs]]: build once over the
    * corpus, then probe each new crawl against the stored bands without
    * re-signaturing (or even reading) the corpus text. Layout (see the
    * epoch-commit note above): `dir/sigs/ep_*` = (doc_id, sig:
    * array<long>) and `dir/bands/ep_*` = (doc_id, band, band_hash),
    * with `dir/_committed/<id>` markers gating visibility. At 100 TB the
    * bands table is the candidate-join side — [[compactMinhashIndex]]
    * periodically rewrites accrued crawl epochs into one, clustered by
    * (band, band_hash), so probes stay co-located and the file count
    * stays bounded; it holds `bands` longs per document, not signatures
    * or text. */
  def buildMinhashIndex(snapshot: DataFrame, dir: String, bands: Int = 16): Unit = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    // a rebuild into an existing dir replaces it at ONE atomic marker
    // rename: the new epoch supersedes every live one (no dark window,
    // no double-read window); old data reclaims via reclaimIndexGarbage
    val prior = committedEpochs(dir)
    val id = newEpochId()
    val sigs = minhashSigs(snapshot)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.write.mode("overwrite").parquet(s"$dir/sigs/ep_$id")
    bandKeys(sigs, bands).write.mode("overwrite").parquet(s"$dir/bands/ep_$id")
    sigs.unpersist()
    commitEpoch(dir, id, supersedes = prior)
  }

  /** Append accepted documents to a stored MinHash index — the back half
    * of the incremental loop: after [[probeMinhashIndex]] clears a crawl,
    * the accepted docs join the index so the NEXT crawl dedupes against
    * them too. Writes one NEW epoch (signatures + bands) and commits its
    * marker last — history epochs are untouched, O(batch) not O(index)
    * (the same contract as `Layout.appendZOrdered` and
    * `Similarity.appendToKmeansIvfIndex`); a crash mid-append leaves no
    * partially-visible epoch and a retry cannot double-count (see the
    * epoch-commit note). Caller contract: ids must be disjoint from the
    * index (probe ids are by construction — they were accepted as new). */
  def appendToMinhashIndex(accepted: DataFrame, dir: String, bands: Int = 16): Unit = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val id = newEpochId()
    val sigs = minhashSigs(accepted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.write.mode("overwrite").parquet(s"$dir/sigs/ep_$id")
    bandKeys(sigs, bands).write.mode("overwrite").parquet(s"$dir/bands/ep_$id")
    sigs.unpersist()
    commitEpoch(dir, id)
  }

  /** Rewrite all live epochs into ONE — the maintenance pass that keeps
    * a daily-crawl index probe-able: per-crawl appends accrue thousands
    * of small parquet files, the classic small-file scale killer for the
    * probe's bucket join. The rewrite clusters the bands table by
    * (band, band_hash) — the probe join key — so a compacted index also
    * co-locates candidate lookups. Probe results are IDENTICAL before
    * and after (the tables' row sets are unchanged;
    * `IndexMaintenanceSpec` pins this). The merge becomes visible at ONE
    * atomic marker rename (the merged epoch supersedes the old ones), so
    * a crash at ANY point leaves exactly one consistent view — never
    * both generations live. Old data files stay on disk until
    * [[reclaimIndexGarbage]] so probes planned against the previous
    * epoch set can finish their scans. Single-writer: run from the
    * owning maintenance job, not concurrently with appends. Returns the
    * number of epochs merged (0 = nothing to do). */
  def compactMinhashIndex(spark: SparkSession, dir: String): Int =
    compactEpochs(spark, dir, Seq(
      "sigs" -> Seq("doc_id"),
      "bands" -> Seq("band", "band_hash")))

  /** The shared epoch-merge implementation: one shuffle per table,
    * clustered by the table's probe join key, then a single
    * supersedes-commit. */
  private[graft] def compactEpochs(spark: SparkSession, dir: String,
      tables: Seq[(String, Seq[String])]): Int = {
    val ids = committedEpochs(dir)
    if (ids.size <= 1) return 0
    val id = newEpochId()
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    tables.foreach { case (table, keys) =>
      readEpochs(spark, dir, table)
        .repartition(shufflePartitions, keys.map(col): _*)
        .sortWithinPartitions(keys.map(col): _*)
        .write.mode("overwrite").parquet(s"$dir/$table/ep_$id")
    }
    commitEpoch(dir, id, supersedes = ids)
    ids.size
  }

  /** Delete the data of every epoch that is no longer live (superseded
    * by a compaction/rebuild, or never committed — a crashed append),
    * then drop the superseded markers; works on ANY epoch count, so a
    * rebuild's predecessor reclaims even when nothing is left to merge.
    * Returns the number of epoch dirs removed.
    *
    * SAFETY WINDOW: a probe resolves its epoch list at call time and
    * scans lazily — run this only when probes planned before the
    * preceding compaction/rebuild have finished (e.g. the next
    * maintenance window), exactly like any snapshot-expiry pass. Marker
    * reclamation is resurrection-safe in any order because supersedes
    * lists carry their transitive closure. For a STREAM-FED index the
    * window additionally requires the owning stream's redelivery horizon
    * to have passed (a restart replays only its last in-flight
    * micro-batch): reclaim drops the superseded batch tags
    * [[committedOrSupersededEpochs]] gates redelivery on. */
  def reclaimIndexGarbage(dir: String): Int = {
    val live = committedEpochs(dir).toSet
    var removed = 0
    for (table <- Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
         if table.isDirectory && table.getName != "_committed";
         ep <- Option(table.listFiles()).getOrElse(Array.empty)
         if ep.getName.startsWith("ep_") && !live.contains(ep.getName.drop(3))) {
      deleteRecursively(ep)
      removed += 1
    }
    val markerDir = new java.io.File(dir, "_committed")
    Option(markerDir.listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith("."))
      .filterNot(m => live.contains(m.getName))
      .foreach(_.delete())
    removed
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Probe a new batch against a stored MinHash index: banded bucket join
    * against `dir/bands` (candidates only — the new batch's band keys are
    * the ONLY corpus-side shuffle), then signature-agreement verification
    * against `dir/sigs`. Same banding and estimator as [[minHashPairs]],
    * so probing `new` against an index over `snap` returns exactly the
    * cross-(snap, new) slice of `minHashPairs(snap ∪ new)`.
    * Output: (snap_id, new_id, est_jaccard ≥ threshold). */
  def probeMinhashIndex(newBatch: DataFrame, dir: String, bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // same guard as build/append: a non-divisor would silently band over
    // a truncated signature slice and miss index matches
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val spark = newBatch.sparkSession
    // the epoch list is read ONCE here; both tables resolve against the
    // same committed set, so a concurrent append (marker not yet written)
    // is invisible to this probe rather than half-visible
    val idxSigs = readEpochs(spark, dir, "sigs")
    val idxBands = readEpochs(spark, dir, "bands")
    val newSigs = minhashSigs(newBatch)
      // consumed twice (banding + verification join-back).
      // localCheckpoint, NOT persist: an eager checkpoint materializes the
      // compact (id, sig) rows once like a cache would, but its blocks are
      // freed by the ContextCleaner when the returned frame is dropped —
      // persist() pins through the CacheManager until an explicit
      // unpersist, and the advertised many-crawls production loop would
      // accrete one pinned cache per probe with only the global
      // clearCache() nuke as a remedy (round-11 advisory).
      .localCheckpoint()
    val cand = bandKeys(newSigs, bands)
      .select(col("doc_id").as("new_id"), col("band"), col("band_hash"))
      .join(idxBands.select(col("doc_id").as("snap_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select("snap_id", "new_id")
      .dropDuplicates("snap_id", "new_id")
    cand
      .join(idxSigs.select(col("doc_id").as("snap_id"), col("sig").as("sig_a")), Seq("snap_id"))
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("sig_b")), Seq("new_id"))
      .withColumn("est_jaccard", // CAST: bare `/ 64.0` would type as DECIMAL
        expr("CAST(aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) AS DOUBLE) / 64"))
      .filter(col("est_jaccard") >= threshold)
      .select("snap_id", "new_id", "est_jaccard")
      .orderBy("snap_id", "new_id")
  }

  /** Fingerprinted idempotent index location for a testdata corpus: the
    * name keys on the source parquet's (path, length, mtime), so a
    * regenerated corpus gets a fresh index instead of silently probing a
    * stale one (the round-9 failure class). Staged via
    * [[stageAtomically]]: readers in OTHER JVMs sharing the tmpdir only
    * ever see a complete index (round-11 advisory — the object-level
    * `synchronized` these ensure-helpers used before is JVM-local). */
  def ensureMinhashIndex(spark: SparkSession, sfDir: String, bands: Int = 16): String = {
    val dir = fingerprintedDir("graft-mhidx", "documents",
      sfDir + bands, Seq(s"$sfDir/documents.parquet"))
    ensureCommittedIndex(dir)(tmp =>
      buildMinhashIndex(Tables.load(spark, sfDir, "documents"), tmp.getPath, bands))
  }

  /** Fingerprint-keyed fixture dir shared by every ensure-* fixture:
    * `tmpdir/<family>/<name>_<sha256(salt)>_<filesFingerprint(srcs)>`
    * — ONE definition of the stale-fixture keying (parameter salt +
    * source-file content fingerprint), so a keying fix applies to every
    * cached index/drop fixture at once instead of per copy-paste site.
    *
    * [[Tokens.SegV]] rides EVERY salt (r16 review): the minhash/postings/
    * LM/importance/classifier fixtures all derive from the shared
    * segmentation, and a rule bump must retire them — the BPE models'
    * own-salt discipline applied suite-wide. Non-text fixtures (embedding
    * index, raw-byte drops) pay one cheap deterministic rebuild per rule
    * bump, which buys never having to re-audit per-site which families
    * are segmentation-derived. */
  private[graft] def fingerprintedDir(family: String, name: String,
      salt: String, srcs: Seq[String]): java.io.File = {
    val fp = graft.plans.MaterializedViews.stringFingerprint(
      salt + ":" + Tokens.SegV) + "_" +
      graft.plans.MaterializedViews.filesFingerprint(srcs)
    new java.io.File(new java.io.File(
      sys.props("java.io.tmpdir"), family), s"${name}_$fp")
  }

  /** [[stageAtomically]] specialized to epoch-committed indexes: a
    * published dir with NO commit markers (the pre-epoch layout, or one
    * damaged out-of-band) is retired and rebuilt under the current
    * protocol instead of failing every probe against it. */
  private[graft] def ensureCommittedIndex(dir: java.io.File)(
      build: java.io.File => Unit): String = {
    if (dir.exists() && committedEpochs(dir.getPath).isEmpty) deleteRecursively(dir)
    stageAtomically(dir)(build)
  }

  /** Build `stage` into a temp sibling and atomically rename it into
    * place — the cross-process-safe variant of check-then-build: two JVMs
    * racing this helper each build privately; exactly one rename wins
    * (same-directory rename is atomic on POSIX) and the loser discards
    * its build, so no reader — in this JVM or another — can observe a
    * half-written fixture at the published path. Idempotent: an existing
    * published dir short-circuits. */
  private[graft] def stageAtomically(dir: java.io.File)(
      stage: java.io.File => Unit): String = {
    if (!dir.exists()) {
      dir.getParentFile.mkdirs()
      val tmp = new java.io.File(dir.getParentFile,
        dir.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        stage(tmp)
        java.nio.file.Files.move(tmp.toPath, dir.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        // lost the publish race (or a cross-device tmpdir): if the winner's
        // dir is there, our staged copy is redundant — drop it
        case e: java.nio.file.FileSystemException if dir.exists() =>
          deleteRecursively(tmp)
        case e: Throwable =>
          // a failed BUILD must not accrete half-staged junk in the
          // shared tmpdir (round-12 review): drop the temp, rethrow
          deleteRecursively(tmp)
          throw e
      }
    }
    dir.getPath
  }

  /** Persisted hyperplane-LSH index over an embedding snapshot — the
    * vector twin of [[buildMinhashIndex]], closing the incremental story
    * across all three dedup modalities (exact / text-near / vector-near).
    * Layout: `dir/buckets` = (id, table_idx, bucket) and `dir/vecs` =
    * (id, vec). The PLANES are not stored: they are deterministic from
    * (tables, bits, dim, seed) — those parameters are part of the index
    * contract, exactly as the engine's plan-literal planes are
    * ([[Lsh.hyperplanes]]); a probe with different parameters would
    * bucket differently and miss, so pass the build-time values. */
  def buildEmbeddingIndex(snapshot: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64,
      tables: Int = 4, bits: Int = 12, seed: Long = 42L): Unit = {
    val prior = committedEpochs(dir)
    val id = newEpochId()
    writeEmbeddingEpoch(snapshot, dir, id, idCol, vecCol, dim, tables, bits, seed)
    commitEpoch(dir, id, supersedes = prior)
  }

  /** Append accepted vectors to a stored LSH index — the vector twin of
    * [[appendToMinhashIndex]], same epoch-commit crash contract and the
    * same id-disjointness caller contract. The planes are re-derived from
    * the build parameters, so pass the build-time values. */
  def appendToEmbeddingIndex(accepted: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64,
      tables: Int = 4, bits: Int = 12, seed: Long = 42L): Unit = {
    val id = newEpochId()
    writeEmbeddingEpoch(accepted, dir, id, idCol, vecCol, dim, tables, bits, seed)
    commitEpoch(dir, id)
  }

  private def writeEmbeddingEpoch(batch: DataFrame, dir: String, id: String,
      idCol: String, vecCol: String, dim: Int,
      tables: Int, bits: Int, seed: Long): Unit = {
    val planes = Lsh.hyperplanes(tables, bits, dim, seed)
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$dir/vecs/ep_$id")
    Lsh.bucketize(batch, vecCol, planes)
      .select(col(idCol).as("id"), col("table_idx"), col("bucket"))
      .write.mode("overwrite").parquet(s"$dir/buckets/ep_$id")
  }

  /** Epoch compaction for the embedding index — same motivation, crash
    * contract, reclaim split, and single-writer caveat as
    * [[compactMinhashIndex]]; the buckets table re-clusters by
    * (table_idx, bucket), the probe join key. Returns the number of
    * epochs merged (0 = nothing to do). */
  def compactEmbeddingIndex(spark: SparkSession, dir: String): Int =
    compactEpochs(spark, dir, Seq(
      "vecs" -> Seq("id"),
      "buckets" -> Seq("table_idx", "bucket")))

  /** Probe a new vector batch against a stored LSH index: bucket the new
    * batch with the SAME deterministic planes, bucket-join against the
    * stored buckets (three-long rows — the only corpus-side volume), then
    * verify candidates with the codegen'd cosine kernel against stored
    * vectors. Probing `new` against an index over `snap` ≡ the
    * cross-(snap, new) slice of `embeddingNearDupPairs(snap ∪ new)`.
    * Output: (snap_id, new_id, cosine ≥ threshold). */
  def probeEmbeddingIndex(newBatch: DataFrame, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding", dim: Int = 64,
      threshold: Double = 0.9, tables: Int = 4, bits: Int = 12,
      seed: Long = 42L): DataFrame = {
    val spark = newBatch.sparkSession
    val planes = Lsh.hyperplanes(tables, bits, dim, seed)
    val idxBuckets = readEpochs(spark, dir, "buckets")
    val idxVecs = readEpochs(spark, dir, "vecs")
    val newVecs = newBatch.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cand = Lsh.bucketize(newBatch, vecCol, planes)
      .select(col(idCol).as("new_id"), col("table_idx"), col("bucket"))
      .join(idxBuckets.select(col("id").as("snap_id"), col("table_idx"), col("bucket")),
        Seq("table_idx", "bucket"))
      .select("snap_id", "new_id")
      .dropDuplicates("snap_id", "new_id")
    cand
      .join(idxVecs.select(col("id").as("snap_id"), col("vec").as("vec_a")), Seq("snap_id"))
      .join(newVecs.select(col("id").as("new_id"), col("vec").as("vec_b")), Seq("new_id"))
      .withColumn("cosine", cosine_f32(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("snap_id", "new_id", "cosine")
      .orderBy("snap_id", "new_id")
  }

  /** Eval-set leakage guard — the check every train/eval split needs
    * before an eval score means anything: no eval document may be a
    * near-duplicate of any training document, or the eval set measures
    * memorization. Returns the VIOLATING pairs (train_id, eval_id,
    * est_jaccard ≥ threshold) — empty on a clean split. Caller contract:
    * the two frames' doc_ids are disjoint (remap eval ids if needed).
    *
    * Scale shape: one near-dup pair pipeline over train ∪ eval, then two
    * id-set joins against the REDUCED pair list to keep only cross
    * pairs — pair-linear, text never joins. When the training corpus
    * already has a persisted MinHash index (the incremental-crawl loop),
    * skip the union and probe the eval set against it instead —
    * [[probeMinhashIndex]] returns exactly this shape without
    * re-signaturing train (`IndexMaintenanceSpec` pins the equivalence);
    * that is the 100 TB path. */
  def evalLeakage(train: DataFrame, eval: DataFrame,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    // r20: the REDUCED pair list feeds both direction joins (ab, ba) —
    // persist it so the banding self-join + verification stage run once
    // per action, not once per direction
    val pairs = minHashPairs(
      train.select("doc_id", "text").unionAll(eval.select("doc_id", "text")),
      bands, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trainIds = train.select(col("doc_id").as("train_id"))
    val evalIds = eval.select(col("doc_id").as("eval_id"))
    val ab = pairs
      .join(trainIds, col("doc_a") === col("train_id"))
      .join(evalIds, col("doc_b") === col("eval_id"))
    val ba = pairs
      .join(trainIds, col("doc_b") === col("train_id"))
      .join(evalIds, col("doc_a") === col("eval_id"))
    ab.select("train_id", "eval_id", "est_jaccard")
      .unionAll(ba.select("train_id", "eval_id", "est_jaccard"))
      .orderBy("train_id", "eval_id")
  }

  /** Quality-aware keep selection over near-dup pairs — the policy layer
    * between pair discovery and deletion. Near-dup copies are NOT
    * interchangeable (a truncated mirror scores worse than its source);
    * keep-first-by-id silently prefers whichever copy crawled earlier.
    * This picks per pair by a fixed total order: higher quality score,
    * then more tokens (the more complete copy), then smaller id — each
    * tiebreak level is a value both engines already agree on bit-exactly
    * (the rounded quality columns are hash-pinned by `text_quality`), so
    * the decision is engine-reproducible with no float knife edge.
    * Output: (keep_id, drop_id, q_keep, q_drop); feed `drop_id`s to the
    * deletion set, or the pairs into [[dedupGroups]] for transitive
    * resolution. Scale: two hash joins of the reduced pair list against
    * the (id, score, tokens) projection — pair-linear, text never joins. */
  def keepBestPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScores(docs)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    val j = pairs
      .join(q.select(col("doc_id").as("doc_a"), col("quality_score").as("q_a"),
        col("n_tokens").as("n_a")), Seq("doc_a"))
      .join(q.select(col("doc_id").as("doc_b"), col("quality_score").as("q_b"),
        col("n_tokens").as("n_b")), Seq("doc_b"))
    val keepA = col("q_a") > col("q_b") ||
      (col("q_a") === col("q_b") && (col("n_a") > col("n_b") ||
        (col("n_a") === col("n_b") && col("doc_a") < col("doc_b"))))
    j.select(
      when(keepA, col("doc_a")).otherwise(col("doc_b")).as("keep_id"),
      when(keepA, col("doc_b")).otherwise(col("doc_a")).as("drop_id"),
      when(keepA, col("q_a")).otherwise(col("q_b")).as("q_keep"),
      when(keepA, col("q_b")).otherwise(col("q_a")).as("q_drop"))
      .orderBy("keep_id", "drop_id")
  }

  /** Group-level canonical selection: exactly ONE survivor per transitive
    * near-dup component, chosen by the same fixed total order as
    * [[keepBestPairs]] (higher quality score, then more tokens, then
    * smaller id). Pairwise keep-best cannot express this on chains — for
    * a~b, b~c with quality b > a > c, the pair verdicts keep b over c and
    * a over nothing, leaving BOTH a and b alive even though they are
    * transitively duplicates; production deletion needs one canonical doc
    * per component. Per-level comparisons reuse values both engines agree
    * on bit-exactly (rounded quality columns are hash-pinned by
    * `text_quality`), so the pick is engine-reproducible.
    *
    * Output: (doc_id, group_id, keep_id, is_keep) for EVERY doc in `docs`
    * — singletons (docs in no pair) keep themselves.
    *
    * Scale: the policy runs on pair MEMBERS only — [[dedupGroups]] labels
    * the member set (edge-linear, O(diameter) rounds), quality scores join
    * member-linear, and the per-group argmax is ONE partial+final
    * `max_by(id, struct(quality, tokens, -id))` hash aggregate whose
    * exchange carries a struct per member, never text and never a
    * corpus-wide window. The corpus rejoins once, as a left join against
    * the (small) member-verdict table, so singleton docs never enter a
    * policy shuffle. */
  def keepBestPerGroup(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val members = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val memberDocs = docs.join(members, Seq("doc_id"), "left_semi")
    val labels = dedupGroups(memberDocs, pairs).select("doc_id", "group_id")
    val q = TextAnalysis.qualityScores(memberDocs)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    // strict total order: -doc_id breaks every remaining tie, so max_by
    // is deterministic (no "first encountered" dependence)
    val best = labels.join(q, Seq("doc_id"))
      .groupBy("group_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_score"), col("n_tokens"),
          (-col("doc_id")).as("neg_id"))).as("keep_id"))
    val verdicts = labels.join(best, Seq("group_id"))
      .select("doc_id", "group_id", "keep_id")
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"),
        coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      .withColumn("is_keep", col("doc_id") === col("keep_id"))
      .orderBy("doc_id")
  }

  /** Ingestion policy head for the incremental loop: given the
    * (snap_id, new_id) near-dup pairs a [[probeMinhashIndex]] probe
    * returned, decide per NEW doc whether to `accept` it (no near-dup in
    * the corpus), `drop` it (its best-matched snapshot copy wins the
    * [[keepBestPairs]] quality→tokens→id total order — on a full tie the
    * snapshot copy wins, since the already-ingested doc has the smaller
    * id), or `supersede` (the new copy is strictly better: append it and
    * tombstone the rival). This is the missing decision between "probe
    * found pairs" and "append the accepted docs" in an always-on crawl
    * loop; keep-first-by-arrival would never upgrade a truncated early
    * crawl to a later complete copy.
    *
    * Output: (new_id, decision, keep_id, rival_id) — one row per new doc;
    * `rival_id` is the best-matched snapshot doc (0 when accepted clean).
    *
    * Scale: snapshot quality is computed ONLY for matched snap ids (semi-
    * join first — never a corpus-wide score pass); the per-new-doc rival
    * pick is one partial+final `max_by` hash aggregate over the reduced
    * pair list; the new batch rejoins once, left. All compared values are
    * hash-pinned bit-exact (`text_quality`), so verdicts cannot drift
    * between engines. */
  def incrKeepBest(snapshot: DataFrame, newBatch: DataFrame,
      pairs: DataFrame): DataFrame = {
    val matchedSnapIds = pairs.select(col("snap_id").as("doc_id")).distinct()
    val qs = TextAnalysis.qualityScores(
        snapshot.join(matchedSnapIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id").as("snap_id"),
        col("quality_score").as("q_s"), col("n_tokens").as("n_s"))
    val qn = TextAnalysis.qualityScores(newBatch)
      .select(col("doc_id").as("new_id"),
        col("quality_score").as("q_n"), col("n_tokens").as("n_n"))
    // rival = the strongest snapshot copy this new doc collides with;
    // -snap_id makes the order strict, so max_by is deterministic
    val best = pairs.select("snap_id", "new_id").join(qs, Seq("snap_id"))
      .groupBy("new_id")
      .agg(max_by(struct(col("snap_id"), col("q_s"), col("n_s")),
        struct(col("q_s"), col("n_s"), (-col("snap_id")).as("neg_id"))).as("b"))
      .select(col("new_id"), col("b.snap_id").as("rival_id"),
        col("b.q_s").as("q_s"), col("b.n_s").as("n_s"))
    val newWins = col("q_n") > col("q_s") ||
      (col("q_n") === col("q_s") && (col("n_n") > col("n_s") ||
        (col("n_n") === col("n_s") && col("new_id") < col("rival_id"))))
    qn.join(best, Seq("new_id"), "left")
      .select(col("new_id"),
        when(col("rival_id").isNull, lit("accept"))
          .when(newWins, lit("supersede"))
          .otherwise(lit("drop")).as("decision"),
        when(col("rival_id").isNull || newWins, col("new_id"))
          .otherwise(col("rival_id")).as("keep_id"),
        coalesce(col("rival_id"), lit(0L)).as("rival_id"))
      .orderBy("new_id")
  }

  /** Fingerprinted idempotent embedding-index location (same staleness
    * contract as [[ensureMinhashIndex]]). The LSH parameters are part of
    * the fingerprint — they ARE the index contract (the planes derive
    * from them), so changed parameters build a fresh index instead of
    * silently probing a stale one with mismatched buckets. */
  def ensureEmbeddingIndex(spark: SparkSession, sfDir: String, dim: Int = 64,
      tables: Int = 4, bits: Int = 12, seed: Long = 42L): String = {
    val dir = fingerprintedDir("graft-embidx", "embeddings",
      sfDir + dim + "_" + tables + "_" + bits + "_" + seed,
      Seq(s"$sfDir/embeddings.parquet"))
    ensureCommittedIndex(dir)(tmp =>
      buildEmbeddingIndex(Tables.load(spark, sfDir, "embeddings"), tmp.getPath,
        dim = dim, tables = tables, bits = bits, seed = seed))
  }

  /** Connected components over near-dup pairs: assigns every document the
    * smallest doc_id reachable through pair edges (transitive closure), so
    * a chain a~b, b~c becomes one keep-group even when a~c was never
    * emitted as a pair. This is min-label propagation — the same algorithm
    * GraphX uses for connectedComponents — and converges in O(component
    * diameter) rounds; near-dup components are shallow (stars/chains), so
    * the bound is small. Each round is one shuffle join + one aggregate;
    * the per-round `count` is a scalar aggregate, not a data collect.
    *
    * Output: (doc_id, group_id, is_keep) for every document in `docs`
    * (singletons keep their own id). */
  /** Which branch the LAST [[dedupGroups]] call on this JVM took
    * ("driver" | "distributed") — observability for the specs that pin
    * the conf-driven crossover actually engaging, not only agreeing. */
  @volatile private[graft] var lastGroupsBranch: String = ""

  def dedupGroups(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", aCol: String = "doc_a", bCol: String = "doc_b",
      maxIter: Int = 20, collectThreshold: Long = -1L): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = docs.sparkSession
    import spark.implicits._
    // -1 = take the deployment-tunable session conf (a driver-memory knob
    // belongs in config, not code): max reduced-edge-list size the driver
    // union-find may collect before the distributed path takes over.
    //
    // DRIVER-MEMORY MODEL (what the knob actually buys): the collect
    // materializes one specialized (Long, Long) tuple per pair (~32 B
    // object) and the union-find map holds ≤ 2 boxed-Long entries per
    // DISTINCT doc id (~100 B each with HashMap overhead) — ~250 B/pair
    // conservatively, all transient. The 250k default therefore bounds
    // the driver cost at ~60 MB worst case; a 10× misconfiguration costs
    // ~600 MB, not an OOM on any reasonably-sized driver. A malformed
    // conf value falls back to the default (a typo'd memory knob must
    // degrade to the SAFE path, not throw from a dedup job).
    val threshold =
      if (collectThreshold >= 0) collectThreshold
      else spark.conf.getOption("graft.dedup.collectThreshold")
        .flatMap(_.trim.toLongOption).getOrElse(250000L)
    // pairs is typically an expensive near-dup pipeline: pin its (small)
    // result once so every consumer reuses it
    val p = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .persist(lvl)
    val nPairs = p.count()

    // The edge list is the already-REDUCED dedup output — tiny relative to
    // the corpus (collecting it is not a corpus collect). Below the
    // threshold, exact union-find on the driver replaces several
    // multi-stage shuffle rounds; above it, distributed min-label
    // propagation (the GraphX connectedComponents algorithm) runs with
    // rounds bounded by component diameter.
    val labels: DataFrame =
      if (nPairs <= threshold) {
        lastGroupsBranch = "driver"
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        // specialized tuples: ~32 B/pair instead of ~120 B boxed Rows —
        // the memory model the conf doc above states
        p.as[(Long, Long)].collect().foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // union by min id so group_id = min of component
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        // only non-roots need explicit labels; roots (and singletons)
        // fall out of the final coalesce(label, doc_id)
        parent.keySet.toSeq.map(k => (k, find(k))).toDF("id", "label")
      } else {
        lastGroupsBranch = "distributed"
        val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
          .unionAll(p.select(col(bCol).as("src"), col(aCol).as("dst")))
          .persist(lvl)
        // localCheckpoint (not persist): each round's result becomes a
        // LogicalRDD LEAF, so the next round's plan is O(1) regardless of
        // iteration count. With persist alone the logical plan still nests
        // the whole history — the jump self-join would DOUBLE it per round,
        // and driver-side analysis grows from ~1 s to ~30 s by round 5
        // (measured at sf0.1). On a fault-tolerant cluster run, swap for
        // reliable `checkpoint()` against the configured checkpoint dir —
        // same lineage truncation, executor-loss-safe.
        // r20: seed labels one propagation round ahead — label₀ =
        // min(self, neighbors) is exactly what round 1 of the loop would
        // compute from label=self (with the round-1 jump a no-op, since
        // every pointer is still the identity), but it costs ONE
        // aggregate over the edge list instead of a join + aggregate +
        // jump self-join + convergence count; shallow components converge
        // one full shuffle round earlier, and the fixpoint (min id per
        // component) is unchanged. Every src appears in the aggregate
        // because edges carry both directions, so the id set is identical
        // to the old distinct().
        var lab = edges
          .groupBy("src")
          .agg(least(col("src"), min(col("dst"))).as("label"))
          .withColumnRenamed("src", "id")
          .localCheckpoint()
        var changed = 1L
        var i = 0
        while (changed > 0 && i < maxIter) {
          val neighborMin = edges
            .join(lab.select(col("id").as("dst"), col("label")), Seq("dst"))
            .groupBy(col("src").as("id"))
            .agg(min("label").as("nlabel"))
          // pointer jump: also adopt the label OF my current label
          // (labels are node ids, so it's a self-join). Plain neighbor
          // propagation moves a min one hop per round — O(diameter), and
          // near-dup chains from sequential pair generators can be tens of
          // hops long. The jump halves the remaining distance each round
          // instead: O(log diameter). Same fixpoint (at convergence every
          // edge and every label pointer is label-constant, so each
          // component is uniformly labeled with its min id).
          val jump = lab.select(col("id").as("label"), col("label").as("jlabel"))
          val updated = lab
            .join(neighborMin, Seq("id"), "left")
            .join(jump, Seq("label"), "left")
            .select(col("id"), col("label").as("old"),
              least(col("label"), coalesce(col("nlabel"), col("label")),
                coalesce(col("jlabel"), col("label"))).as("label"))
            .localCheckpoint() // eager: materializes + truncates lineage
          changed = updated.filter(col("label") =!= col("old")).count()
          lab = updated.select("id", "label")
          i += 1
        }
        if (changed > 0)
          System.err.println(s"[dedupGroups] WARNING: label propagation hit " +
            s"maxIter=$maxIter before convergence — with pointer jumping " +
            s"that bounds component diameter at ~2^$maxIter hops; raise maxIter")
        edges.unpersist()
        // `lab` is the final round's localCheckpoint — a materialized
        // LogicalRDD leaf, so consumers neither recompute the loop nor
        // carry its lineage; the blocks free with the reference
        lab
      }

    // small (collected) label sets broadcast; large ones shuffle-join
    val labelSide = labels.select(col("id").as("doc_id"), col("label"))
    val joined = docs.select(col(idCol).as("doc_id")).join(
      if (nPairs <= threshold) broadcast(labelSide) else labelSide,
      Seq("doc_id"), "left")
    val out = joined
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("group_id"))
      .withColumn("is_keep", col("doc_id") === col("group_id"))
    p.unpersist()
    out
  }

  /** Corpus duplication audit — the dashboard rollup a curation run ends
    * with: per stratum (language), how many documents exist, how many have
    * at least one EXACT twin (same full content), how many sit in at least
    * one NEAR-dup pair (the MinHash-LSH pipeline), and the near-dup rate
    * in integer per-mille. The numbers quantify what dedup would remove
    * per slice BEFORE committing to it — the first question a corpus
    * owner asks of a new crawl.
    *
    * Scale shape: exact membership is a semi-join on the 32-byte content
    * hash against the (hash → count>1) aggregate — text never shuffles;
    * near membership reads the REDUCED pair list (LSH candidates, linear)
    * twice as id-only projections; the final rollup is one partial+final
    * aggregate to |strata| rows. Exactness: per-mille is integer DIV;
    * "exact twin" is content-hash equality (SHA-256 — a collision would
    * misreport, at 2⁻¹²⁸ odds; the oracle groups the text itself, so a
    * collision would surface as a gate mismatch, not hide). */
  def corpusReport(docs: DataFrame, strataCol: String = "lang"): DataFrame = {
    // r20: the pair list feeds both id projections — persist it so the
    // banding + verification pipeline runs once per action, not per side
    val pairs = minHashPairs(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nearIds = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .withColumn("is_near", lit(1L))
    val hashes = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val dupHashes = hashes.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("h")
    val exactIds = hashes.join(dupHashes, Seq("h"), "left_semi")
      .select("doc_id").withColumn("is_exact", lit(1L))
    docs.select(col("doc_id"), col(strataCol))
      .join(nearIds, Seq("doc_id"), "left")
      .join(exactIds, Seq("doc_id"), "left")
      .groupBy(strataCol)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("is_exact"), lit(0L)).as("exact_dup_docs"),
        coalesce(sum("is_near"), lit(0L)).as("near_dup_docs"))
      .withColumn("near_dup_per_mille", expr("near_dup_docs * 1000 DIV n_docs"))
      .orderBy(strataCol)
  }

  // ---- corpus entries (spark, sfDir) => DataFrame ----

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_exact" -> ((s, d) => exact(Tables.load(s, d, "documents"))),
    "dedup_minhash" -> ((s, d) => minHashPairs(withPlantedNearDups(Tables.load(s, d, "documents")))),
    "dedup_simhash" -> ((s, d) => simHashPairs(withPlantedNearDups(Tables.load(s, d, "documents")))),
    // every 13th doc gains a space-free Han run BEFORE the near-dup
    // planting (the 90% truncation then clips it), so the r13 CJK
    // per-character tokenization of WordShingleHashes is hash-checked at
    // the gate: the oracle intersects shingle STRINGS under the same
    // segmentation — a tokenizer drift changes the pair set or a jaccard
    // value and mismatches
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccardPairs(withPlantedNearDups(
      Tables.load(s, d, "documents").withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" 模型训练数据去重与质量控制环节"))).otherwise(col("text")))))),
    // Passage-level: the planted 90%-prefix copies share every k-token
    // shingle of the common prefix, so each (original, copy) pair must
    // surface as one long flagged span in both documents.
    "dedup_spans" -> ((s, d) => duplicatedSpans(withPlantedNearDups(Tables.load(s, d, "documents")))),
    // Artifact twin: originals (lower doc_id = canonical) survive intact;
    // each planted copy is a strict prefix of its original, so its every
    // shingle is non-canonical and the copy strips to (near-)empty.
    "dedup_span_strip" -> ((s, d) => stripDuplicatedSpans(withPlantedNearDups(Tables.load(s, d, "documents")))),
    "dedup_embedding" -> ((s, d) =>
      embeddingNearDupPairs(Similarity.withPlantedNearDupVectors(Tables.load(s, d, "embeddings")))),
    // Transitive closure under the driver oracle: plant two exact copies
    // of every document (+1M, +2M ids) and feed CHAIN pairs only (a→b,
    // b→c via LEAD, never a→c), so grouping a with c requires genuine
    // 2-hop propagation — while the expected groups stay SQL-expressible
    // (MIN(doc_id) per text) for DuckDB. The minhash-pair grouping variant
    // stays spec-covered (OpsSpec chain/star cases).
    "dedup_groups" -> groupsEntry(-1L),
    // collectThreshold=0 forces the DISTRIBUTED min-label-propagation
    // branch — the path that actually runs at 100 TB — under the same
    // oracle as the driver union-find shortcut (chains a→b→c must close
    // transitively in both)
    "dedup_groups_dist" -> groupsEntry(0L),
    // Incremental ingestion: snapshot = the documents table; new crawl =
    // the shared planted construction below. The bloom prefilter is
    // invisible to the oracle: semantics are the exact anti-join.
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text", "lang")
      incremental(plantedIncrementalBatch(docs), docs)
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    // Incremental near-dedup: probe a perturbed re-crawl (the planted
    // near-dup perturbation, id+1M) against a PERSISTED MinHash index of
    // the snapshot — index reuse, not corpus re-signaturing.
    "dedup_incr_minhash" -> ((s, d) => {
      val dir = ensureMinhashIndex(s, d)
      val newBatch = Tables.load(s, d, "documents").select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))").as("text"))
      probeMinhashIndex(newBatch, dir)
    }),
    // Keep policy over the planted near-dup pairs: the perturbed copy
    // (10% shorter) usually scores lower / always has fewer tokens, so
    // the original must win each pair under the fixed total order.
    // Audit rollup over the planted corpus: every planted (orig, copy)
    // pair is a near-dup, so each lang's near_dup_docs must count both
    // sides; exact twins are whatever full-content collisions the
    // corpus + planting genuinely contain (1-char docs truncate to
    // themselves — the oracle derives the same truth from the text).
    "dedup_report" -> ((s, d) =>
      corpusReport(withPlantedNearDups(Tables.load(s, d, "documents")))),
    "dedup_keep_best" -> ((s, d) => {
      val docs = withPlantedNearDups(Tables.load(s, d, "documents"))
      keepBestPairs(docs, minHashPairs(docs))
    }),
    // Group-level canonicalization under the oracle: plant a 3-member
    // CHAIN per doc (original, 0.9-truncated +1M, 0.8-truncated +2M) with
    // chain pairs only (a→b, b→c — resolving c against a needs genuine
    // transitive closure) and quality VARYING inside each group, so the
    // canonical pick must apply the full quality→tokens→id order, not
    // keep-first-by-id. Every 10th doc stays a singleton (no copies, no
    // pairs) to pin the no-policy-shuffle corpus rejoin path.
    "dedup_canonical" -> ((s, d) => {
      val base = Tables.load(s, d, "documents").select("doc_id", "text")
      // single-pass fan-out (r20): the chain (original, 0.9-copy, 0.8-copy)
      // plants from ONE scan — every 10th doc stays a singleton (1-element
      // tag array), the rest fan to 3; the old 3-branch unionAll scanned
      // the table once per branch. Pair edges fan the same way from one
      // scan. Tag-explode keeps column pruning intact.
      val docs = base
        .select(col("doc_id"), col("text"),
          explode(when(col("doc_id") % 10 =!= 0, typedlit(Seq(0L, 1L, 2L)))
            .otherwise(typedlit(Seq(0L)))).as("__v"))
        .select(
          (col("doc_id") + col("__v") * 1000000L).as("doc_id"),
          when(col("__v") === 0L, col("text"))
            .when(col("__v") === 1L, expr(
              "substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))"))
            .otherwise(expr(
              "substring(text, 1, greatest(cast(length(text) * 0.8 as int), 1))"))
            .as("text"))
      val pairs = base.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), explode(typedlit(Seq(0L, 1L))).as("__v"))
        .select(
          (col("doc_id") + col("__v") * 1000000L).as("doc_a"),
          (col("doc_id") + (col("__v") + 1L) * 1000000L).as("doc_b"))
      keepBestPerGroup(docs, pairs)
    }),
    // The policy head over the index probe: every 7th new doc is FRESH
    // unrelated text (no index match → accept; its id token keeps fresh
    // docs distinct, and fresh-vs-fresh pairs fall outside the
    // cross-(snap, new) slice), every 3rd an ENRICHED copy (stopword
    // append → supersedes its source), the rest the standard
    // 0.9-truncation — which lands on EITHER side of the total order
    // (truncation shifts the quality ratios both ways), so the verdict
    // layer is exercised on real comparisons, not a rigged constant. The
    // probe pairs are the SAME construction dedup_incr_minhash pins;
    // only the verdict layer is new.
    "dedup_incr_policy" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val dir = ensureMinhashIndex(s, d)
      val newBatch = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(lit("fresh "), col("doc_id"),
            lit(" alpha beta gamma delta epsilon")))
          .when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" the of and to in")))
          .otherwise(expr(
            "substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))"))
          .as("text"))
      incrKeepBest(docs, newBatch, probeMinhashIndex(newBatch, dir))
    }),
    // Vector twin: probe perturbed embeddings (the planted vector
    // perturbation, id+1M) against a PERSISTED hyperplane-LSH index.
    // Threshold knife edge: the engine compares cosine_f32 >= 0.9, the
    // DuckDB oracle float64 >= 0.9 — row-set agreement relies on the
    // fixture keeping every candidate a margin away from 0.9 in BOTH
    // precisions, which IndexMaintenanceSpec verifies per regenerated
    // corpus (> 1e-4 at sf0.001 and sf0.01) instead of leaving it to luck.
    "dedup_incr_embedding" -> ((s, d) => {
      val dir = ensureEmbeddingIndex(s, d)
      val newBatch = Tables.load(s, d, "embeddings").select(
        (col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 1.02 + 0.001 as float))").as("embedding"))
      probeEmbeddingIndex(newBatch, dir)
    }),
    // The FULL index maintenance loop under the oracle: build over half
    // the corpus, append the other half, compact the two epochs into
    // one, reclaim the dead files — then probe. The result must equal
    // the cross-(corpus, new) slice of the pair chain (the SAME oracle
    // as dedup_incr_minhash), so a compaction that lost, duplicated, or
    // re-banded any row hash-mismatches at the gate, not just in specs.
    "dedup_incr_compacted" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text")
      val dir = fingerprintedDir("graft-mhidx", "compacted",
        d + "incrcompact", Seq(s"$d/documents.parquet"))
      // ensureCommittedIndex, not bare stageAtomically: a published dir
      // whose markers were damaged out-of-band must retire and rebuild
      // (the same self-healing the plain ensure-index entries have)
      ensureCommittedIndex(dir) { tmp =>
        buildMinhashIndex(docs.filter(col("doc_id") % 2 === 0), tmp.getPath)
        appendToMinhashIndex(docs.filter(col("doc_id") % 2 =!= 0), tmp.getPath)
        require(compactMinhashIndex(s, tmp.getPath) == 2, "expected a 2-epoch merge")
        reclaimIndexGarbage(tmp.getPath)
      }
      val newBatch = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))").as("text"))
      probeMinhashIndex(newBatch, dir.getPath)
    }),
    // Vector twin of the maintenance loop: build/append/compact/reclaim
    // on the embedding-LSH index, probed under dedup_incr_embedding's
    // oracle slice.
    "dedup_incr_emb_compacted" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
      val dir = fingerprintedDir("graft-embidx", "compacted",
        d + "incrcompact", Seq(s"$d/embeddings.parquet"))
      ensureCommittedIndex(dir) { tmp =>
        buildEmbeddingIndex(emb.filter(col("vec_id") % 2 === 0), tmp.getPath)
        appendToEmbeddingIndex(emb.filter(col("vec_id") % 2 =!= 0), tmp.getPath)
        require(compactEmbeddingIndex(s, tmp.getPath) == 2, "expected a 2-epoch merge")
        reclaimIndexGarbage(tmp.getPath)
      }
      val newBatch = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> cast(x * 1.02 + 0.001 as float))").as("embedding"))
      probeEmbeddingIndex(newBatch, dir.getPath)
    }),
    // Eval-leakage guard over a real split: eval = the samplePerGroup
    // eval set (remapped +3M so ids are disjoint), train = the rest,
    // plus ONE planted leak — a perturbed copy of the smallest train doc
    // (id +4M) — which the guard MUST surface. Everything is
    // SQL-mirrorable: the eval membership is the sample_per_group
    // window, the leak the standard perturbation, the pairs the minhash
    // chain's cross slice.
    "eval_leakage" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select("doc_id", "text", "lang")
      val evalIds = Sampling.samplePerGroup(docs, "lang").select("doc_id")
      val train = docs.join(evalIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "text")
      val evalNat = docs.join(evalIds, Seq("doc_id"), "left_semi")
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      val leak = train.orderBy("doc_id").limit(1)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          expr("substring(text, 1, greatest(cast(length(text) * 0.9 as int), 1))").as("text"))
      evalLeakage(train, evalNat.unionAll(leak))
    }),
  )

  private def groupsEntry(threshold: Long)
      : (org.apache.spark.sql.SparkSession, String) => DataFrame = (s, d) => {
    val base = Tables.load(s, d, "documents").select("doc_id", "text")
    // single-pass fan-out (r20): three exact copies from one scan
    // (tag-explode — the text column passes through untouched)
    val docs = base
      .select(col("doc_id"), col("text"), explode(typedlit(Seq(0L, 1L, 2L))).as("__v"))
      .select((col("doc_id") + col("__v") * 1000000L).as("doc_id"), col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("text").orderBy("doc_id")
    val pairs = docs
      .withColumn("next_id", lead(col("doc_id"), 1).over(w))
      .filter(col("next_id").isNotNull)
      .select(col("doc_id").as("doc_a"), col("next_id").as("doc_b"))
    dedupGroups(docs, pairs, collectThreshold = threshold).orderBy("doc_id")
  }

  /** DuckDB oracle for every entry — the sketch pipelines (minhash,
    * simhash) use generated SQL that emulates the wrapping 64-bit hash
    * chain in HUGEINT arithmetic (HashOracleSql). */
  val oracle: Seq[(String, String)] = Seq(
    "dedup_minhash" -> HashOracleSql.minhash,
    "dedup_simhash" -> HashOracleSql.simhash,
    "eval_leakage" -> HashOracleSql.evalLeakage,
    // the maintenance loop's probe ≡ the incremental probe's cross
    // slice — one oracle pins both index lifecycles
    "dedup_incr_compacted" -> HashOracleSql.incrMinhash,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // Exact n-gram Jaccard is hash-invariant: the engine intersects hashed
    // shingles, the oracle intersects the shingle STRINGS themselves —
    // identical sets modulo 64-bit collisions (none at this scale, and a
    // collision would surface as a value mismatch here). Mirrors the full
    // pipeline: planted CJK runs (every 13th doc — the r13 per-character
    // segmentation, hash-checked through the string shingles), planted
    // near-dups, distinct 3-token shingles, df>1000 stop-shingle cutoff,
    // post-cutoff set sizes.
    "dedup_ngram_jaccard" ->
      """WITH docs0 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0
        |              THEN text || ' 模型训练数据去重与质量控制环节'
        |              ELSE text END AS text
        |  FROM documents
        |),
        |docs2 AS (
        |  SELECT doc_id, text FROM docs0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         substring(text, 1, greatest(CAST(floor(length(text) * 0.9) AS INT), 1)) AS text
        |  FROM docs0
        |),
        |tok AS (SELECT doc_id,
        |               list_filter(string_split_regex(regexp_replace(lower(text),
        |                 '([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), '\s+'),
        |                 t -> t <> '') AS toks FROM docs2),
        |sh AS (SELECT doc_id,
        |              unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
        |       FROM tok WHERE len(toks) >= 3),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > 1000),
        |rare AS (SELECT sh.* FROM sh ANTI JOIN hot USING (sh)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM rare GROUP BY doc_id),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |           FROM rare a JOIN rare b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_common AS DOUBLE) / (sa.set_size + sb.set_size - n_common) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // mirrors duplicatedSpans: case-SENSITIVE whitespace tokens (exact
    // substring semantics — unlike the lowercased Jaccard shingles),
    // k=8 shingle keys (the hash is engine-internal; equality of the
    // underlying shingle text is what both engines group on), duplicated
    // = COUNT(*) > 1 corpus-wide, then per-doc gaps-and-islands with
    // breaks at start-gaps > k and island length e − s + k
    "dedup_spans" ->
      ("""WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         substring(text, 1, greatest(CAST(floor(length(text) * 0.9) AS INT), 1)) AS text
        |  FROM documents
        |),
        |tok AS (SELECT doc_id, """ + Tokens.duckToks("text") + """ AS toks FROM docs2),
        |sh AS (SELECT doc_id, p - 1 AS pos,
        |              array_to_string(toks[p : p + 7], ' ') AS sh
        |       FROM tok, LATERAL unnest(generate_series(1, len(toks) - 7)) AS g(p)
        |       WHERE len(toks) >= 8),
        |dup AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) > 1),
        |fl AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (sh)),
        |isl AS (SELECT doc_id, pos,
        |               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |                    THEN 0 ELSE 1 END AS brk
        |        FROM fl),
        |isl2 AS (SELECT doc_id, pos,
        |                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                               ROWS UNBOUNDED PRECEDING) AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
        |          FROM isl2 GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_spans,
        |               CAST(SUM(e - s + 8) AS BIGINT) AS dup_tokens
        |        FROM spans GROUP BY doc_id)
        |SELECT a.doc_id, CAST(len(t.toks) AS BIGINT) AS total_tokens,
        |       a.dup_spans, a.dup_tokens
        |FROM agg a JOIN tok t USING (doc_id)
        |ORDER BY a.doc_id""").stripMargin,
    // mirrors stripDuplicatedSpans: the canonical occurrence is rank 1
    // in (doc_id, pos) order per shingle (≡ the engine's min-struct
    // aggregate); removable starts island-merge identically; kept text
    // is rebuilt by anti-joining covered token indices, LEFT-joined so
    // fully-stripped docs still emit with text ''
    "dedup_span_strip" ->
      ("""WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         substring(text, 1, greatest(CAST(floor(length(text) * 0.9) AS INT), 1)) AS text
        |  FROM documents
        |),
        |tok AS (SELECT doc_id, """ + Tokens.duckToks("text") + """ AS toks FROM docs2),
        |sh AS (SELECT doc_id, p - 1 AS pos,
        |              array_to_string(toks[p : p + 7], ' ') AS sh
        |       FROM tok, LATERAL unnest(generate_series(1, len(toks) - 7)) AS g(p)
        |       WHERE len(toks) >= 8),
        |ranked AS (SELECT doc_id, pos,
        |                  ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
        |           FROM sh),
        |rem AS (SELECT doc_id, pos FROM ranked WHERE rn >= 2),
        |isl AS (SELECT doc_id, pos,
        |               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |                    THEN 0 ELSE 1 END AS brk
        |        FROM rem),
        |isl2 AS (SELECT doc_id, pos,
        |                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                               ROWS UNBOUNDED PRECEDING) AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
        |          FROM isl2 GROUP BY doc_id, island),
        |removed AS (SELECT DISTINCT doc_id, u.idx
        |            FROM spans, LATERAL unnest(generate_series(s, e + 7)) AS u(idx)),
        |tokpos AS (SELECT doc_id, g.i AS i, toks[g.i + 1] AS tok
        |           FROM tok, LATERAL unnest(generate_series(0, len(toks) - 1)) AS g(i)),
        |keptagg AS (
        |  SELECT k.doc_id,
        |         array_to_string(list(k.tok ORDER BY k.i), ' ') AS text,
        |         CAST(COUNT(*) AS BIGINT) AS kept_tokens
        |  FROM (SELECT tp.doc_id, tp.i, tp.tok
        |        FROM tokpos tp ANTI JOIN removed r
        |          ON tp.doc_id = r.doc_id AND tp.i = r.idx) k
        |  GROUP BY k.doc_id)
        |SELECT t.doc_id,
        |       COALESCE(ka.text, '') AS text,
        |       CAST(len(t.toks) AS BIGINT) AS total_tokens,
        |       COALESCE(ka.kept_tokens, 0) AS kept_tokens
        |FROM tok t LEFT JOIN keptagg ka USING (doc_id)
        |ORDER BY t.doc_id""").stripMargin,
    // The hyperplane LSH is seeded-deterministic → SQL-expressible: the
    // generated oracle inlines the planes as literals (exact float32
    // values via toDouble) and rebuilds bucketing, the planted
    // perturbation (double math then REAL cast, matching Spark's
    // `cast(x * 1.02 + 0.001 as float)`), candidate join, and the cosine
    // threshold.
    "dedup_embedding" -> {
      val buckets = Lsh.bucketizeSql("emb2",
        Lsh.hyperplanes(tables = 4, bits = 12, dim = 64, seed = 42L))
      s"""WITH emb2 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |         list_transform(embedding,
         |           x -> CAST(x * CAST(1.02 AS DOUBLE) + CAST(0.001 AS DOUBLE) AS REAL)) AS embedding
         |  FROM embeddings
         |),
         |buckets AS (
         |  $buckets
         |),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM buckets a JOIN buckets b ON a.table_idx = b.table_idx AND a.bucket = b.bucket
         |         WHERE a.vec_id < b.vec_id),
         |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM emb2)
         |SELECT id_a, id_b, list_cosine_similarity(va.vec, vb.vec) AS cosine
         |FROM cand
         |JOIN v va ON va.vec_id = id_a
         |JOIN v vb ON vb.vec_id = id_b
         |WHERE list_cosine_similarity(va.vec, vb.vec) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin
    },
    // closure of the planted chains = min doc_id over identical text
    "dedup_groups" -> groupsOracle,
    "dedup_groups_dist" -> groupsOracle,
    // the bloom prefilter is semantics-free: the oracle is the plain
    // exact anti-join of the new crawl against the snapshot
    "dedup_incremental" ->
      """WITH newbatch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text, lang
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text || ' incremental-crawl' AS text, lang
        |  FROM documents WHERE doc_id % 3 <> 0
        |)
        |SELECT doc_id, lang FROM newbatch
        |ANTI JOIN documents USING (text)
        |ORDER BY doc_id""".stripMargin,
    // probing new against an index over snap ≡ the cross-(snap, new)
    // slice of the full pair pipeline over snap ∪ new
    "dedup_incr_minhash" -> HashOracleSql.incrMinhash,
    // pair chain + the SAME quality-score SQL text_quality pins, then the
    // identical CASE cascade — every compared value is already hash-pinned
    // bit-exact by its own entry, so the decision cannot drift
    // the audit rollup: the same pair chain + text-equality exact twins
    // (the engine hashes; SHA-256 collisions would mismatch HERE, so the
    // gate itself is the collision check), lang carried through the
    // planted union
    "dedup_report" -> {
      s"""WITH docs2 AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         substring(text, 1, greatest(CAST(trunc(length(text) * 0.9) AS INT), 1)) AS text,
         |         lang
         |  FROM documents),
         |${HashOracleSql.minhashPairCtes("docs2")},
         |near AS (SELECT DISTINCT doc_id FROM (
         |           SELECT doc_a AS doc_id FROM pairs
         |           UNION ALL SELECT doc_b AS doc_id FROM pairs) _),
         |ex AS (SELECT doc_id FROM (
         |         SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS n
         |         FROM docs2) _ WHERE n > 1)
         |SELECT d.lang, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM ex)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup_docs,
         |       CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM near)
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS near_dup_docs,
         |       CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM near)
         |                     THEN 1 ELSE 0 END) AS BIGINT) * 1000 // COUNT(*)
         |         AS near_dup_per_mille
         |FROM docs2 d GROUP BY d.lang ORDER BY d.lang""".stripMargin
    },
    "dedup_keep_best" -> {
      val qOver = TextAnalysis.textQualityOracleSqlFrom("docs2")
      s"""WITH docs2 AS (${HashOracleSql.plantedDocs}),
         |${HashOracleSql.minhashPairCtes("docs2")},
         |q AS ($qOver)
         |SELECT CASE WHEN ka THEN doc_a ELSE doc_b END AS keep_id,
         |       CASE WHEN ka THEN doc_b ELSE doc_a END AS drop_id,
         |       CASE WHEN ka THEN q_a ELSE q_b END AS q_keep,
         |       CASE WHEN ka THEN q_b ELSE q_a END AS q_drop
         |FROM (
         |  SELECT p.doc_a, p.doc_b,
         |         qa.quality_score AS q_a, qb.quality_score AS q_b,
         |         (qa.quality_score > qb.quality_score OR
         |          (qa.quality_score = qb.quality_score AND
         |           (qa.n_tokens > qb.n_tokens OR
         |            (qa.n_tokens = qb.n_tokens AND p.doc_a < p.doc_b)))) AS ka
         |  FROM pairs p
         |  JOIN q qa ON qa.doc_id = p.doc_a
         |  JOIN q qb ON qb.doc_id = p.doc_b) t
         |ORDER BY keep_id, drop_id""".stripMargin
    },
    // the planted chain groups are {id, id+1M, id+2M} with base ids far
    // below 1M, so `doc_id % 1000000` IS the transitive component label —
    // the closure the engine must compute hop-by-hop is SQL-expressible
    // as the construction's ground truth; the canonical pick replays the
    // identical quality→tokens→id order as a ROW_NUMBER window
    "dedup_canonical" -> {
      val qOver = TextAnalysis.textQualityOracleSqlFrom("docs3")
      s"""WITH docs3 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         substring(text, 1, greatest(CAST(trunc(length(text) * 0.9) AS INT), 1)) AS text
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id,
         |         substring(text, 1, greatest(CAST(trunc(length(text) * 0.8) AS INT), 1)) AS text
         |  FROM documents WHERE doc_id % 10 <> 0
         |),
         |q AS ($qOver),
         |ranked AS (
         |  SELECT doc_id, doc_id % 1000000 AS g,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id % 1000000
         |           ORDER BY quality_score DESC, n_tokens DESC, doc_id ASC) AS rn
         |  FROM q),
         |best AS (SELECT g, doc_id AS keep_id FROM ranked WHERE rn = 1)
         |SELECT d.doc_id, d.doc_id % 1000000 AS group_id,
         |       b.keep_id, d.doc_id = b.keep_id AS is_keep
         |FROM docs3 d JOIN best b ON b.g = d.doc_id % 1000000
         |ORDER BY d.doc_id""".stripMargin
    },
    // the probe pairs replay dedup_incr_minhash's HUGEINT emulation over
    // the enriched-or-truncated batch; the verdict layer replays
    // incrKeepBest's rival pick (ROW_NUMBER per new doc over the same
    // order) and decision CASE on the shared quality SQL
    "dedup_incr_policy" -> {
      val qOver = TextAnalysis.textQualityOracleSqlFrom("docs2")
      s"""WITH docs2 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         CASE WHEN doc_id % 7 = 0
         |              THEN 'fresh ' || CAST(doc_id AS VARCHAR) || ' alpha beta gamma delta epsilon'
         |              WHEN doc_id % 3 = 0 THEN text || ' the of and to in'
         |              ELSE substring(text, 1, greatest(CAST(trunc(length(text) * 0.9) AS INT), 1))
         |         END AS text
         |  FROM documents
         |),
         |${HashOracleSql.minhashPairCtes("docs2")},
         |cross_pairs AS (
         |  SELECT doc_a AS snap_id, doc_b AS new_id FROM pairs
         |  WHERE doc_a < 1000000 AND doc_b >= 1000000),
         |q AS ($qOver),
         |best AS (
         |  SELECT new_id, snap_id, q_s, n_s FROM (
         |    SELECT c.new_id, c.snap_id,
         |           qs.quality_score AS q_s, qs.n_tokens AS n_s,
         |           ROW_NUMBER() OVER (PARTITION BY c.new_id
         |             ORDER BY qs.quality_score DESC, qs.n_tokens DESC,
         |                      c.snap_id ASC) AS rn
         |    FROM cross_pairs c JOIN q qs ON qs.doc_id = c.snap_id) _
         |  WHERE rn = 1)
         |SELECT qn.doc_id AS new_id,
         |       CASE WHEN b.new_id IS NULL THEN 'accept'
         |            WHEN (qn.quality_score > b.q_s OR
         |                  (qn.quality_score = b.q_s AND (qn.n_tokens > b.n_s OR
         |                   (qn.n_tokens = b.n_s AND qn.doc_id < b.snap_id))))
         |            THEN 'supersede' ELSE 'drop' END AS decision,
         |       CASE WHEN b.new_id IS NULL OR (qn.quality_score > b.q_s OR
         |                  (qn.quality_score = b.q_s AND (qn.n_tokens > b.n_s OR
         |                   (qn.n_tokens = b.n_s AND qn.doc_id < b.snap_id))))
         |            THEN qn.doc_id ELSE b.snap_id END AS keep_id,
         |       COALESCE(b.snap_id, 0) AS rival_id
         |FROM q qn LEFT JOIN best b ON b.new_id = qn.doc_id
         |WHERE qn.doc_id >= 1000000
         |ORDER BY new_id""".stripMargin
    },
    // same slice identity for the vector index: the dedup_embedding
    // oracle's construction with the candidate join restricted to
    // cross-(snapshot, new) id ranges
    "dedup_incr_embedding" -> incrEmbeddingOracle,
    // the embedding maintenance loop (build half, append half, compact,
    // reclaim, probe) answers to the SAME slice as the plain incremental
    // probe — one oracle pins both lifecycles, exactly as the minhash
    // twin shares incrMinhash
    "dedup_incr_emb_compacted" -> incrEmbeddingOracle,
  )

  private lazy val incrEmbeddingOracle: String = {
    val buckets = Lsh.bucketizeSql("emb2",
      Lsh.hyperplanes(tables = 4, bits = 12, dim = 64, seed = 42L))
    s"""WITH emb2 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id,
       |         list_transform(embedding,
       |           x -> CAST(x * CAST(1.02 AS DOUBLE) + CAST(0.001 AS DOUBLE) AS REAL)) AS embedding
       |  FROM embeddings
       |),
       |buckets AS (
       |  $buckets
       |),
       |cand AS (SELECT DISTINCT a.vec_id AS snap_id, b.vec_id AS new_id
       |         FROM buckets a JOIN buckets b ON a.table_idx = b.table_idx AND a.bucket = b.bucket
       |         WHERE a.vec_id < 1000000 AND b.vec_id >= 1000000),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM emb2)
       |SELECT snap_id, new_id, list_cosine_similarity(va.vec, vb.vec) AS cosine
       |FROM cand
       |JOIN v va ON va.vec_id = snap_id
       |JOIN v vb ON vb.vec_id = new_id
       |WHERE list_cosine_similarity(va.vec, vb.vec) >= 0.9
       |ORDER BY snap_id, new_id""".stripMargin
  }

  /** Shared by both threshold branches: the oracle doesn't care which
    * closure algorithm ran, only that chains a→b→c collapse to min(id). */
  private def groupsOracle: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents
      |)
      |SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS group_id,
      |       doc_id = MIN(doc_id) OVER (PARTITION BY text) AS is_keep
      |FROM all_docs ORDER BY doc_id""".stripMargin
}
