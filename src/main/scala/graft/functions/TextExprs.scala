package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
// (r20: every kernel in this file now codegens via a static/reference call —
// no CodegenFallback left; each one used to break its WholeStageCodegen span)
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit mixing (splitmix64 finalizer) shared by the text
  * sketch expressions. All seeds are compile-time constants so results are
  * reproducible across partitions, executors, and runs — a hard requirement
  * for dedup at 100 TB where re-computation must agree shard-to-shard. */
object Mix64 {
  final val Golden = 0x9E3779B97F4A7C15L
  @inline def mix(x0: Long): Long = {
    var z = x0
    z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
    z ^= (z >>> 27); z *= 0x94D049BB133111EBL
    z ^= (z >>> 31)
    z
  }
}

/** MinHash signature over a set of element hashes (e.g. shingle hashes).
  *
  * For hash function j (j < numHashes): h_j(x) = mix(x ^ seed_j) with
  * seed_j = seed + (j+1)*Golden; the signature entry is the minimum over the
  * input set. Estimated Jaccard(a, b) ≈ fraction of equal signature slots.
  * Returns null for an empty input set.
  *
  * r20: the loop body lives in a static helper shared by the interpreted
  * eval and `doGenCode` (the NfcNormalize pattern), so the expression no
  * longer breaks the WholeStageCodegen span it sits in. */
object MinHashSignature {
  def sig(xs: ArrayData, numHashes: Int, seed: Long): ArrayData = {
    val n = xs.numElements()
    if (n == 0) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val x = xs.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = Mix64.mix(x ^ (seed + (j + 1) * Mix64.Golden))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

case class MinHashSignature(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {

  require(numHashes > 0, "numHashes must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  // null on EMPTY input (not only on null input)
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any =
    MinHashSignature.sig(in.asInstanceOf[ArrayData], numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${CodeGenerator.javaType(dataType)} $r =
      |  graft.functions.MinHashSignature.sig($c, $numHashes, ${seed}L);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Single-pass word-shingle hasher: walks the [[graft.ops.Tokens]] token
  * boundaries (whitespace runs on the pinned class, each CJK codepoint its
  * own token, on all planes), hashes each lowercased token (FNV-1a 64 over
  * codepoints + mix), and emits one combined hash per n-token window
  * (distinct multiplier per position, mixed). Replaces the `split →
  * transform → concat_ws → slice → xxhash64` pipeline — no intermediate
  * token/shingle strings are materialized, which is the hot path of every
  * sketch-based dedup at corpus scale. The DuckDB oracle emulation
  * (HashOracleSql, `unicode(ch)` per codepoint) mirrors the same rule.
  * Returns null when the text has fewer than n tokens. */
object WordShingleHashes {
  /** Lowercased FNV-1a+mix hash of the token `s[i, e)` — shared with
    * [[CascadeVotes]]. */
  def tokenHash(s: String, i: Int, e: Int): Long = {
    var h = 0xCBF29CE484222325L
    var j = i
    while (j < e) {
      val cp = s.codePointAt(j)
      h ^= Character.toLowerCase(cp).toLong
      h *= 0x100000001B3L
      j += Character.charCount(cp)
    }
    Mix64.mix(h)
  }

  /** Positioned combine of the n token hashes starting at `t(w)`. */
  def window(t: Array[Long], w: Int, n: Int): Long = {
    var h = 0L
    var j = 0
    while (j < n) {
      h = Mix64.mix(h ^ (t(w + j) + (j + 1) * Mix64.Golden))
      j += 1
    }
    h
  }

  def hashes(in: UTF8String, n: Int): ArrayData = {
    val s = in.toString
    val tb = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = graft.ops.Tokens.tokenStart(s, 0)
    while (i < s.length) {
      val e = graft.ops.Tokens.tokenEnd(s, i)
      tb += tokenHash(s, i, e)
      i = graft.ops.Tokens.tokenStart(s, e)
    }
    val t = tb.result()
    if (t.length < n) return null
    val out = new Array[Long](t.length - n + 1)
    var w = 0
    while (w < out.length) { out(w) = window(t, w, n); w += 1 }
    new GenericArrayData(out)
  }
}

case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_shingles"
  // null when the text has fewer than n tokens
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any =
    WordShingleHashes.hashes(in.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${CodeGenerator.javaType(dataType)} $r =
      |  graft.functions.WordShingleHashes.hashes($c, $n);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 128-bit hash per k-token window of an already-segmented token array —
  * the span-dedup shingle key ([[graft.ops.Dedup]] `spanShingles`), replacing
  * the `transform(sequence(...), i -> unhex(sha2(concat_ws(' ', slice(toks,
  * i+1, k)), 256)))` pipeline: that form pays an interpreted higher-order
  * transform, a per-window array slice + space-joined string build, AND a
  * SHA-256 — all to derive a key whose only job is shingle-text EQUALITY
  * (the oracle groups on the text itself; the hash is engine-internal).
  *
  * Here each token is hashed once (two independent 64-bit FNV/xx streams
  * over its UTF-8 bytes, mixed), and each k-window combines the two token
  * streams order-sensitively into (h1, h2) — 128 bits per shingle. Two
  * distinct windows collide only if BOTH streams collide: at 10^12 corpus
  * shingles the expected birthday collisions are ~n²/2^129 ≈ 10^-15, the
  * same "negligible by design" class as the old 256-bit key (whose own
  * margin was overkill by 10^60), while the key itself is half the shuffle
  * bytes (16 vs 32) and the per-window cost drops from ~µs of string+SHA
  * work to a handful of long multiplies. Tokens are CASE-SENSITIVE and
  * hashed as given (exact-substring semantics — unlike the lowercased
  * Jaccard/minhash shingle tier). Returns null when the array has fewer
  * than k tokens. */
object SpanShingleHashes {
  // FNV-1a / xx-style second stream over one token's codepoints —
  // CASE-SENSITIVE (exact-substring semantics, unlike the lowercased
  // Jaccard/minhash tier).
  private final val Fnv1 = 0xCBF29CE484222325L
  private final val Fnv2 = 0x27D4EB2F165667C5L
  private final val P2 = 0xC2B2AE3D27D4EB4FL

  /** Per-token hash streams, shared by both input modes. */
  private final class Acc {
    var t1 = new Array[Long](16)
    var t2 = new Array[Long](16)
    var m = 0
    /** Fold the token `s[i, e)` into both streams. */
    def add(s: String, i: Int, e: Int): Unit = {
      var h1 = Fnv1
      var h2 = Fnv2
      var nCp = 0
      var j = i
      while (j < e) {
        val cp = s.codePointAt(j)
        h1 ^= cp.toLong; h1 *= 0x100000001B3L
        h2 = (h2 ^ cp.toLong) * P2
        nCp += 1
        j += Character.charCount(cp)
      }
      if (m == t1.length) {
        t1 = java.util.Arrays.copyOf(t1, m * 2)
        t2 = java.util.Arrays.copyOf(t2, m * 2)
      }
      t1(m) = Mix64.mix(h1)
      t2(m) = Mix64.mix(h2 ^ nCp)
      m += 1
    }
  }

  private def combine(a: Acc, k: Int): ArrayData = {
    val m = a.m
    if (m < k) return null
    // order-sensitive combine of each k-window, one per stream
    val out = new Array[Any](m - k + 1)
    var w = 0
    while (w <= m - k) {
      var h1 = 0L
      var h2 = 0L
      var j = 0
      while (j < k) {
        h1 = Mix64.mix(h1 ^ (a.t1(w + j) + (j + 1) * Mix64.Golden))
        h2 = Mix64.mix(h2 ^ (a.t2(w + j) + (j + 1) * P2))
        j += 1
      }
      out(w) = org.apache.spark.sql.catalyst.InternalRow(h1, h2)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Hash each token of the [[graft.ops.Tokens]] walk as it streams by. */
  def fromText(in: UTF8String, k: Int): ArrayData = {
    val a = new Acc
    val s = in.toString
    var i = graft.ops.Tokens.tokenStart(s, 0)
    while (i < s.length) {
      val e = graft.ops.Tokens.tokenEnd(s, i)
      a.add(s, i, e)
      i = graft.ops.Tokens.tokenStart(s, e)
    }
    combine(a, k)
  }

  /** Hash pre-segmented tokens with the same per-token fold as
    * [[fromText]], so the two modes agree key-for-key. */
  def fromTokens(toks: ArrayData, k: Int): ArrayData = {
    val a = new Acc
    var ti = 0
    while (ti < toks.numElements()) {
      val s = toks.getUTF8String(ti).toString
      a.add(s, 0, s.length)
      ti += 1
    }
    combine(a, k)
  }
}

case class SpanShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {

  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "span_shingles"
  // null when the input has fewer than k tokens
  override def nullable: Boolean = true

  // StringType input: tokenize in-eval (the [[WordShingleHashes]] move) —
  // the seg → array<string> → per-window chain never materializes tokens.
  // ArrayType(String) input: hash the pre-segmented tokens (callers that
  // already hold the token array, e.g. tests). Both branches hash the
  // SAME per-token codepoint stream, so they agree key-for-key.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string or array<string>, got ${other.simpleString}")
    }

  // def, not val: child.dataType is unresolved at construction time. Not
  // named `fromText`: a class member of that name suppresses the companion's
  // static forwarder that doGenCode's generated Java calls.
  private def isTextInput = child.dataType == StringType

  override def nullSafeEval(in: Any): Any =
    if (isTextInput) SpanShingleHashes.fromText(in.asInstanceOf[UTF8String], k)
    else SpanShingleHashes.fromTokens(in.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper =
      if (isTextInput) "graft.functions.SpanShingleHashes.fromText"
      else "graft.functions.SpanShingleHashes.fromTokens"
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${CodeGenerator.javaType(dataType)} $r = $helper($c, $k);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Token COUNT under the suite segmentation contract ([[graft.ops.Tokens.seg]])
  * — the count-only twin of the in-eval tokenizers: one walk of the
  * [[graft.ops.Tokens]] boundaries, no regex rewrite, no token-array
  * materialization. Replaces `size(Tokens.seg(text))` wherever only the
  * count is consumed (span-dedup totals, BM25 document length, token-mass
  * sampling, BPE whitespace-token accounting). LongType so call sites drop
  * their `.cast("long")` along with the array. Differential-pinned against
  * seg in FunctionsSpec and WhitespaceContractSpec. */
object SegCount {
  def count(in: UTF8String): Long = {
    val s = in.toString
    var n = 0L
    var i = graft.ops.Tokens.tokenStart(s, 0)
    while (i < s.length) {
      n += 1L
      i = graft.ops.Tokens.tokenStart(s, graft.ops.Tokens.tokenEnd(s, i))
    }
    n
  }
}

case class SegCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "seg_count"

  override def nullSafeEval(in: Any): Any =
    SegCount.count(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SegCount.count($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash over a bag of element hashes: each input hash votes ±1 on
  * every bit position; the output bit is 1 iff the vote sum is positive.
  * Near-duplicate documents land within small Hamming distance.
  * Returns null for an empty input set. */
object SimHash64 {
  /** boxed Long so the empty-input case can signal null to both eval paths */
  def hash(xs: ArrayData): java.lang.Long = {
    val n = xs.numElements()
    if (n == 0) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = Mix64.mix(xs.getLong(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  // null on EMPTY input (not only on null input)
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any =
    SimHash64.hash(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      |java.lang.Long $r = graft.functions.SimHash64.hash($c);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003):
  * hash every k-gram of characters, slide a window of w hashes, keep the
  * minimum of each window (rightmost on ties), dedupe consecutive picks.
  * Output is the sorted distinct fingerprint set — stable under content
  * reordering at the edges, so near-identical documents share most
  * fingerprints. Returns null if the text is shorter than k chars. */
object WinnowingFingerprint {
  def fp(in: UTF8String, k: Int, w: Int): ArrayData = {
    val s = in.toString
    val len = s.length
    if (len < k) return null
    val nGrams = len - k + 1
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      // FNV-1a 64-bit over the k-gram, then mixed
      var h = 0xCBF29CE484222325L
      var j = 0
      while (j < k) { h ^= s.charAt(i + j).toLong; h *= 0x100000001B3L; j += 1 }
      grams(i) = Mix64.mix(h)
      i += 1
    }
    val picks = scala.collection.mutable.TreeSet.empty[Long]
    var start = 0
    val lastStart = math.max(0, nGrams - w)
    while (start <= lastStart) {
      val end = math.min(start + w, nGrams)
      var minIdx = start
      var j = start + 1
      while (j < end) { if (grams(j) <= grams(minIdx)) minIdx = j; j += 1 }
      picks += grams(minIdx)
      start += 1
    }
    new GenericArrayData(picks.toArray)
  }
}

case class WinnowingFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k > 0 && w > 0, "k and w must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"
  // null when the text is shorter than k chars
  override def nullable: Boolean = true

  override def nullSafeEval(in: Any): Any =
    WinnowingFingerprint.fp(in.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${CodeGenerator.javaType(dataType)} $r =
      |  graft.functions.WinnowingFingerprint.fp($c, $k, $w);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFC normalization (canonical composition) with an ASCII fast
  * path: `Normalizer.isNormalized` short-circuits the (overwhelmingly
  * common at crawl scale) already-composed case without allocating, so
  * the expression costs one scan of the string unless real decomposed
  * sequences are present. Stays inside whole-stage codegen via a static
  * helper call (no CodegenFallback). */
object NfcNormalize {
  def nfc(in: UTF8String): UTF8String = {
    val s = in.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) in
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(in: Any): Any =
    NfcNormalize.nfc(in.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Crawl-URL canonicalization — the identity key every crawl dedup stack
  * needs in front of URL-level dedup (two fetches of one page must agree
  * on a key before any content-level pass runs). Rules, in order:
  *
  *  1. scheme and host lowercase (RFC 3986 §6.2.2.1 case normalization);
  *  2. default port stripped (http:80, https:443), other ports kept;
  *  3. fragment dropped (never reaches the server);
  *  4. tracking parameters dropped: any key with the `utm_` prefix, and
  *     the click-id family fbclid / gclid / msclkid — `ref` is KEPT:
  *     it is frequently functional (?ref=branch on a code host), and a
  *     URL-level merge of genuinely distinct pages is unrecoverable
  *     downstream, while an unmerged tracking alias still collapses at
  *     the content-hash tier;
  *  5. remaining query parameters sorted lexicographically by their raw
  *     `k=v` token (a total order, so the key is engine- and
  *     arrival-order-stable); an emptied query drops its `?`;
  *  6. an empty path becomes `/` (RFC 3986 §6.2.3).
  *
  * Deliberately NOT handled (documented contract, not an oversight):
  * userinfo (absent from crawlable URLs), percent-encoding case folding,
  * and IDN — each would make the key depend on tables that drift. A
  * string without `://` is returned unchanged (a non-URL key passes
  * through rather than throwing mid-pipeline). Pure per-row function —
  * map-side anywhere, codegen via a static helper like [[NfcNormalize]]. */
object NormalizeUrl {
  private val Tracking = Set("fbclid", "gclid", "msclkid")

  def norm(in: UTF8String): UTF8String = {
    val s = in.toString
    val sep = s.indexOf("://")
    if (sep < 0) return in
    val scheme = s.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
    val rest = s.substring(sep + 3)
    var i = 0
    while (i < rest.length && rest.charAt(i) != '/' &&
      rest.charAt(i) != '?' && rest.charAt(i) != '#') i += 1
    var authority = rest.substring(0, i).toLowerCase(java.util.Locale.ROOT)
    if ((scheme == "http" && authority.endsWith(":80")) ||
      (scheme == "https" && authority.endsWith(":443")))
      authority = authority.substring(0, authority.lastIndexOf(':'))
    val tail = rest.substring(i)
    val hashAt = tail.indexOf('#')
    val noFrag = if (hashAt >= 0) tail.substring(0, hashAt) else tail
    val qAt = noFrag.indexOf('?')
    val path0 = if (qAt >= 0) noFrag.substring(0, qAt) else noFrag
    val path = if (path0.isEmpty) "/" else path0
    val query =
      if (qAt < 0) ""
      else {
        val kept = noFrag.substring(qAt + 1).split('&').toSeq
          .filter(_.nonEmpty)
          .filterNot { p =>
            val k = p.takeWhile(_ != '=').toLowerCase(java.util.Locale.ROOT)
            k.startsWith("utm_") || Tracking.contains(k)
          }
          .sorted
        if (kept.isEmpty) "" else kept.mkString("?", "&", "")
      }
    UTF8String.fromString(scheme + "://" + authority + path + query)
  }
}

case class NormalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_normalize"

  override def nullSafeEval(in: Any): Any =
    NormalizeUrl.norm(in.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeUrl.norm($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** HTML → text extraction — the step between WARC ingestion and every
  * text op: crawl payloads are markup, the pipeline consumes prose. A
  * deterministic, dependency-free extractor (the trafilatura/jusText
  * class of tools is a quality upgrade, not a semantics change):
  *
  *  1. `<script>`/`<style>` blocks removed WITH their content
  *     (case-insensitive, non-greedy across the block);
  *  2. HTML comments removed;
  *  3. every remaining TAG-SHAPED run replaced by one space (so adjacent
  *     text nodes never fuse into a false token) — tag-shaped means `<`
  *     followed by an optional `/` and a name-start character
  *     (letter / `!` / `?`), so prose like `a < b and c > d` or `<3`
  *     passes through as text instead of being swallowed to the next `>`
  *     (real crawl HTML carries unescaped `<` in text constantly);
  *  4. the common entities decoded in ONE left-to-right scan: amp, lt,
  *     gt, quot, apos, nbsp (→ space), plus numeric `&#NNNNNNN;` and hex
  *     `&#xHHHHHH;` forms — printable-ASCII codes to their character,
  *     everything else to a space. One scan means decoding never re-reads
  *     its own output: `&amp;lt;` → `&lt;` as text, `&#38;amp;` →
  *     `&amp;` as text;
  *  5. whitespace runs collapsed to single spaces, ends trimmed.
  *
  * Contract notes: an unclosed trailing `<fragment` is NOT a tag and
  * passes through as text (framing damage belongs to the ingest
  * quarantine, not here); entity decoding happens AFTER tag stripping,
  * so `&lt;script&gt;` in text can never resurrect as markup. Pure
  * per-row function, codegen via a static helper like [[NfcNormalize]]. */
object HtmlToText {
  private val Blocks = java.util.regex.Pattern.compile(
    "(?is)<(script|style)\\b[^>]*>.*?</\\1[" + graft.ops.Tokens.WsClass + "]*>")
  private val Comments = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
  private val Tags = java.util.regex.Pattern.compile("</?[a-zA-Z!?][^>]*>")
  private val Entities = java.util.regex.Pattern.compile(
    "&(amp|lt|gt|quot|apos|nbsp);|&#(\\d{1,7});|&#[xX]([0-9a-fA-F]{1,6});")
  // the pinned whitespace class (Tokens.WsClass): the oracle's expected
  // form collapses with RE2's \s, and Java's would also eat U+000B
  private val Spaces = java.util.regex.Pattern.compile(graft.ops.Tokens.WsRun)

  def extract(in: UTF8String): UTF8String = {
    var s = in.toString
    s = Blocks.matcher(s).replaceAll(" ")
    s = Comments.matcher(s).replaceAll(" ")
    s = Tags.matcher(s).replaceAll(" ")
    val m = Entities.matcher(s)
    val sb = new StringBuffer
    while (m.find()) {
      val rep =
        if (m.group(1) != null) m.group(1) match {
          case "amp" => "&"; case "lt" => "<"; case "gt" => ">"
          case "quot" => "\""; case "apos" => "'"; case _ => " " // nbsp
        }
        else {
          val code =
            if (m.group(2) != null) m.group(2).toLong // ≤ 7 digits
            else java.lang.Long.parseLong(m.group(3), 16) // ≤ 6 hex digits
          if (code >= 32 && code <= 126) code.toChar.toString else " "
        }
      m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    // SPACE-only edge trim (r16 review): after the collapse every
    // pinned-whitespace run IS a single space, so trimming spaces
    // matches DuckDB's trim exactly — Java's String.trim would also
    // strip edge controls (U+000B etc.) the oracle keeps as text
    val collapsed = Spaces.matcher(sb.toString).replaceAll(" ")
    var lo = 0
    var hi = collapsed.length
    while (lo < hi && collapsed.charAt(lo) == ' ') lo += 1
    while (hi > lo && collapsed.charAt(hi - 1) == ' ') hi -= 1
    UTF8String.fromString(collapsed.substring(lo, hi))
  }
}

case class HtmlToText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "html_to_text"

  override def nullSafeEval(in: Any): Any =
    HtmlToText.extract(in.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlToText.extract($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TopBigramCount {
  /** Max multiplicity of an adjacent-token bigram within ONE token
    * array — the Gopher top-bigram-dominance numerator, computed
    * row-local so the repetition metrics need NO shuffle (r17: the
    * previous formulation exploded (doc, gram) pairs into a corpus-wide
    * partial+final count — a token-stream-sized exchange that was the
    * single largest shuffle in the filter cascade). Token arrays are
    * document-sized (the seg output), so the per-row map is bounded by
    * the document itself. */
  private val Space = UTF8String.fromString(" ")

  def topCount(xs: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = xs.numElements()
    if (n < 2) return 0L
    // adjacent pairs keyed in one map; the SPACE joiner is the oracle's
    // own gram spelling (t[i] || ' ' || t[i+1]) and cannot collide
    // across token boundaries because the tokenizer splits ON spaces —
    // no token ever contains one (a NUL joiner would NOT be safe: NUL
    // is not whitespace-classed and can sit inside a token)
    val counts = new java.util.HashMap[UTF8String, Long]()
    var best = 0L
    var i = 0
    while (i < n - 1) {
      val a = if (xs.isNullAt(i)) null else xs.getUTF8String(i)
      val b = if (xs.isNullAt(i + 1)) null else xs.getUTF8String(i + 1)
      // null elements never reach this from Tokens.seg, but the function
      // is exported (GraftFunctions.top_bigram_count): mirror concat_ws's
      // skip-null rule so the retired exploded formulation's gram keys
      // are reproduced exactly on ANY input (r17 review)
      val gram =
        if (a == null && b == null) UTF8String.EMPTY_UTF8
        else if (a == null) b
        else if (b == null) a
        else UTF8String.concat(a, Space, b)
      val c = counts.merge(gram, 1L, (x, y) => x + y)
      if (c > best) best = c
      i += 1
    }
    best
  }
}

/** `top_bigram_n` as a codegen'd row-local expression over the token
  * array (see [[TopBigramCount.topCount]]). Null array -> null (callers
  * coalesce to 0, matching the old join-absent semantics). */
case class TopBigramCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "top_bigram_count"

  override def nullSafeEval(in: Any): Any =
    TopBigramCount.topCount(in.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TopBigramCount.topCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Single-pass quality-metric counters (r19): replaces qualityScores'
  * regex chain — `split(trim(text), ws)` + an interpreted higher-order
  * stopword filter + TWO full-string regexp_replace passes — with one
  * tight codepoint loop. Only the COUNTS go native; every ratio,
  * division, and round(·, 6) stays in the exact same Spark column
  * expressions, so the scores are bit-identical to the column form.
  *
  * Replicated semantics, quirk for quirk (pinned by the differential
  * spec):
  *  - n_chars: codepoint count of the RAW text (Spark `length`);
  *  - tokens: Java `split(trim(text), "[\t\n\f\r ]+", -1)` — trim strips
  *    only 0x20, leading/trailing separator runs yield EMPTY tokens
  *    (limit -1 keeps trailing empties), empty trimmed text is ONE empty
  *    token; n_toks counts them all;
  *  - n_stop: tokens exactly equal (case-sensitive) to one of the 18
  *    pinned stopwords;
  *  - n_punct / n_alpha: codepoints of the raw text in [.,;:!?] /
  *    [A-Za-z] (the two regexp_replace strip-and-length passes). */
object TextStats {
  def stats(in: UTF8String, sw: Array[String]): InternalRow = {
    val s = in.toString
    val len = s.length
    // raw-text counters (one codepoint pass)
    var nChars = 0; var nPunct = 0; var nAlpha = 0
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      nChars += 1
      if (cp == '.' || cp == ',' || cp == ';' || cp == ':' || cp == '!' || cp == '?') nPunct += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) nAlpha += 1
      i += Character.charCount(cp)
    }
    // trim: 0x20 only, both ends (SQL trim)
    var lo = 0
    var hi = len
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    // token segments between whitespace RUNS, Java split(-1) semantics:
    // a leading run yields one leading "" segment, a trailing run one
    // trailing "" segment, an empty trimmed string is one "" segment
    var nToks = 0; var nStop = 0
    def seg(a: Int, b: Int): Unit = {
      nToks += 1
      val l = b - a
      var k = 0
      var hit = false
      while (!hit && k < sw.length) {
        val w = sw(k)
        if (w.length == l && s.regionMatches(a, w, 0, l)) hit = true
        k += 1
      }
      if (hit) nStop += 1
    }
    var p = lo
    var segStart = lo
    while (p < hi) {
      if (graft.ops.Tokens.isWsCp(s.charAt(p))) {
        seg(segStart, p)
        while (p < hi && graft.ops.Tokens.isWsCp(s.charAt(p))) p += 1
        segStart = p
      } else p += 1
    }
    seg(segStart, hi) // final segment ("" after a trailing run / empty text)
    InternalRow(nChars, nToks, nStop, nPunct, nAlpha)
  }
}

case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_toks", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false)))
  override def prettyName: String = "text_stats"

  @transient private lazy val sw: Array[String] = stopwords.toArray

  override def nullSafeEval(in: Any): Any =
    TextStats.stats(in.asInstanceOf[UTF8String], sw)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the stopword array rides as a plan reference object — the generated
    // code stays a single static call (the NfcNormalize pattern)
    val swRef = ctx.addReferenceObj("sw", sw, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.stats($c, $swRef)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 128-bit key per n-id window of a token-id array (r19) — the
  * decontamination probe's join key, replacing
  * `transform(sequence(...), i -> array_join(slice(ids, i+1, n), ' '))`:
  * that form pays an interpreted higher-order transform plus a per-window
  * slice + string build, to derive a key whose only job is window
  * EQUALITY (the id windows never appear in any output — only match
  * counts do). Two windows collide only if two independent 64-bit streams
  * collide (~n²/2^129 — the SpanShingleHashes argument). Returns an EMPTY
  * array when the input has fewer than n ids, mirroring the old
  * `CASE WHEN size(ids) >= n THEN ... ELSE array() END` gate. */
object IdWindowHashes {
  def keys(ids: ArrayData, n: Int, isLong: Boolean): ArrayData = {
    val m = ids.numElements()
    val out =
      if (m < n) new Array[Any](0)
      else {
        val t1 = new Array[Long](m)
        val t2 = new Array[Long](m)
        var i = 0
        while (i < m) {
          val v = if (isLong) ids.getLong(i) else ids.getInt(i).toLong
          t1(i) = Mix64.mix(v ^ 0xCBF29CE484222325L)
          t2(i) = Mix64.mix((v ^ 0x27D4EB2F165667C5L) * 0xC2B2AE3D27D4EB4FL)
          i += 1
        }
        val o = new Array[Any](m - n + 1)
        var w = 0
        while (w <= m - n) {
          var h1 = 0L
          var h2 = 0L
          var j = 0
          while (j < n) {
            h1 = Mix64.mix(h1 ^ (t1(w + j) + (j + 1) * Mix64.Golden))
            h2 = Mix64.mix(h2 ^ (t2(w + j) + (j + 1) * 0xC2B2AE3D27D4EB4FL))
            j += 1
          }
          o(w) = org.apache.spark.sql.catalyst.InternalRow(h1, h2)
          w += 1
        }
        o
      }
    new GenericArrayData(out)
  }
}

case class IdWindowHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n > 0, "n must be positive")
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "id_window_keys"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<int|bigint>, got ${other.simpleString}")
    }

  private def isLong = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(in: Any): Any =
    IdWindowHashes.keys(in.asInstanceOf[ArrayData], n, isLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.IdWindowHashes.keys($c, $n, $isLong)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of equal slots between two equal-length long arrays (r19) — the
  * MinHash signature-agreement kernel: replaces the interpreted
  * `aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, +)`
  * chain in the pair-verification stage with one primitive loop. Null on
  * length mismatch (a truncated signature comparing "equal enough" would
  * be confidently wrong). */
object SigAgreement {
  /** boxed Integer: null signals a length mismatch to both eval paths */
  def agree(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var c = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    java.lang.Integer.valueOf(c)
  }
}

case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agreement"
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<bigint>, got " +
            s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigAgreement.agree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("res")
    nullSafeCodeGen(ctx, ev, (l, r) => s"""
      |java.lang.Integer $res = graft.functions.SigAgreement.agree($l, $r);
      |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res.intValue(); }
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
