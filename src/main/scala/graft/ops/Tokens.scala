package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE shared tokenizer every token-granular op uses — chunking, packing,
  * token-mass sampling, repetition metrics, span dedup, BM25 document
  * length. One definition so the ops cannot desynchronize: a document
  * chunked, sampled, and span-deduplicated must see the SAME token stream,
  * and the DuckDB oracles mirror exactly the [[duckToks]] form.
  *
  * Rule (r13): split on whitespace RUNS, with CJK codepoints first
  * segmented to per-character tokens — Han / Hiragana / Katakana / Hangul
  * script characters each become their own token (the public uniseg /
  * ICU-lite fallback for space-free scripts). Without it a CJK document —
  * which `text_langid` happily detects — degenerates to ONE giant token,
  * silently breaking chunk boundaries, pack budgets, BM25 length
  * normalization, repetition ratios, and span windows for a major slice
  * of any multilingual crawl. Per-CHARACTER segmentation is deliberately
  * language-unconditional: it is the identity on non-CJK text, so no
  * langid gate (and no gate misfire) is involved.
  *
  * Zero-length tokens are dropped by filter (rather than `trim` + split):
  * SQL `trim` strips only spaces, so a trailing tab would otherwise
  * smuggle an empty token into the stream.
  *
  * Expressions that tokenize inside their own eval (word and span
  * shingles, seg_count, cascade_votes, the BPE/Unigram word split via
  * [[segString]]) all walk ONE boundary pair, [[tokenStart]] /
  * [[tokenEnd]]: the same rule as [[seg]], with no regex rewrite, and
  * the walk itself allocates nothing. The HUGEINT oracle emulation in
  * HashOracleSql mirrors it on the DuckDB side. */
private[graft] object Tokens {
  /** Version of the segmentation rule itself — bump on ANY change to
    * [[seg]]/[[segString]] semantics. Folded into stored-model fingerprint
    * salts (the BPE merge tables) so a rule change retrains rather than
    * serving counts from a model trained under the old segmentation.
    * seg2 (r16): whitespace pinned to the explicit Java↔RE2 shared class. */
  private[graft] val SegV = "seg2"

  /** THE whitespace contract of the whole suite, spelled explicitly:
    * RE2's `\s` = `[\t\n\f\r ]`. The three ambient classes all disagree
    * outside it (Java `\s` adds U+000B; `Character.isWhitespace` adds
    * the U+2000 range and friends; RE2 has only these five), so a bare
    * `\s`/isWhitespace on the engine side silently diverges from the
    * DuckDB oracle mirrors on exotic whitespace. Every engine-side
    * whitespace split/collapse uses these; every oracle keeps RE2's
    * `\s`, which IS this class. */
  private[graft] val WsClass = "\\t\\n\\f\\r "
  private[graft] val WsRun = s"[$WsClass]+"

  /** Codepoint predicate of [[WsClass]]. */
  private[graft] def isWsCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' || cp == '\r'

  /** Codepoint predicate of [[CjkJava]] — THE CJK segmentation contract
    * (one Han/Hiragana/Katakana/Hangul codepoint = one token). No
    * codepoint of the four scripts lies below U+1100 (Hangul Jamo), so
    * Latin text skips the script lookup; WhitespaceContractSpec pins the
    * early-out against the plain definition on every codepoint. */
  private[graft] def isCjkCp(cp: Int): Boolean = cp >= 0x1100 && {
    val sc = Character.UnicodeScript.of(cp)
    sc == Character.UnicodeScript.HAN || sc == Character.UnicodeScript.HIRAGANA ||
      sc == Character.UnicodeScript.KATAKANA || sc == Character.UnicodeScript.HANGUL
  }

  /** First token index at or after `i` (`s.length` when none is left).
    * The whitespace class is BMP-only, so one `charAt` per char suffices.
    * With [[tokenEnd]] this is THE in-eval token walk:
    * {{{
    * var i = tokenStart(s, 0)
    * while (i < s.length) {
    *   val e = tokenEnd(s, i) // the token is s[i, e)
    *   i = tokenStart(s, e)
    * }
    * }}} */
  private[graft] def tokenStart(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && isWsCp(s.charAt(j))) j += 1
    j
  }

  /** End of the token starting at non-whitespace index `i`: one CJK
    * codepoint, or a maximal run of non-whitespace non-CJK codepoints. */
  private[graft] def tokenEnd(s: String, i: Int): Int = {
    val first = s.codePointAt(i)
    var e = i + Character.charCount(first)
    if (!isCjkCp(first)) {
      var more = true
      while (more && e < s.length) {
        val cp = s.codePointAt(e)
        if (isWsCp(cp) || isCjkCp(cp)) more = false
        else e += Character.charCount(cp)
      }
    }
    e
  }

  /** Java-regex capture of one CJK codepoint (Unicode script classes). */
  private val CjkJava = "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])"

  /** The shared token stream: array<string> of non-empty tokens. */
  def seg(text: Column): Column =
    filter(split(regexp_replace(text, CjkJava, " $1 "), WsRun),
      t => length(t) > 0)

  /** The DuckDB mirror of [[seg]] — oracle SQL embeds exactly this form
    * (RE2 spells the same script classes \p{Han} etc.; DuckDB string
    * literals keep backslashes verbatim). Centralized so an entry cannot
    * drift from the engine rule. */
  def duckToks(textExpr: String): String =
    s"list_filter(string_split_regex(regexp_replace($textExpr, " +
      """'([\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}])', ' \1 ', 'g'), """ +
      """'\s+'), t -> length(t) > 0)"""

  // ------------------------------------------------- GPT-2 pre-tokenizer

  /** Version of the GPT-2 split rule — folded into gpt2-spec model salts
    * exactly like [[SegV]]. v2: whitespace class pinned to the explicit
    * Java↔RE2 shared subset (r16 review — Java `\s` includes U+000B,
    * RE2's does not, so a bare `\s` silently diverges on vertical tab). */
  private[graft] val Gpt2V = "gpt2v2"

  /** The GPT-2 split uses the suite-wide [[WsClass]] contract (Python —
    * the published pattern's host — would additionally match U+000B and
    * all Unicode spaces; here VT/NBSP/U+2028 are "other" characters on
    * BOTH engines). */
  private val Ws = WsClass

  /** The byte-level-BPE pre-tokenization regex of Radford et al. 2019
    * (public GPT-2 `encoder.py` / tiktoken split pattern): contractions,
    * optionally-space-prefixed letter/digit/other runs, and whitespace
    * runs that DONATE their final character to a following pre-token
    * (`\s+(?!\S)` — here with [[Ws]] spelled out). Java regex supports
    * the lookahead, so the engine runs this form directly. */
  private[graft] val Gpt2Re =
    s"'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^$Ws\\p{L}\\p{N}]+|[$Ws]+(?![^$Ws])|[$Ws]+"

  /** The lookahead-free core of [[Gpt2Re]] — correct only on text whose
    * internal (whitespace, non-whitespace) boundaries were pre-split (see
    * [[duckGpt2Toks]]); shared by the oracle emulation and its property
    * spec. */
  private[graft] val Gpt2Core =
    s"'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^$Ws\\p{L}\\p{N}]+|[$Ws]+"

  /** GPT-2 pre-token stream as a Column — `regexp_extract_all` runs Java
    * regex, so the true lookahead pattern applies directly (codegen'd,
    * map-side). */
  def gpt2Seg(text: Column): Column =
    regexp_extract_all(text, lit(Gpt2Re), lit(0))

  private val Gpt2Pattern = java.util.regex.Pattern.compile(Gpt2Re)

  /** Plain-Scala form of [[gpt2Seg]] for expressions that pre-tokenize
    * inside their own eval (the gpt2-spec BPE counter). */
  private[graft] def gpt2SegString(s: String): Array[String] = {
    val m = Gpt2Pattern.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** The oracle emulation's boundary marker: U+E000, the first
    * private-use codepoint — outside any plausible corpus (r17 review:
    * the previous chr(1) sentinel sat inside the C0 range real crawl
    * bytes do carry). The guard below makes even THAT collision loud. */
  private[graft] val SentinelCp = 0xE000

  /** The DuckDB mirror of [[gpt2Seg]]. RE2 has no lookahead, so the
    * donate-the-last-whitespace rule is emulated EXACTLY by sentinel
    * injection: every (whitespace, non-whitespace) adjacency gets a
    * `chr(0xE000)` boundary marker (regexp_replace with the explicit
    * [[Ws]] classes), the text is split on the marker, and each piece
    * runs the lookahead-free [[Gpt2Core]] — inside a piece a whitespace
    * run is never followed by non-whitespace, so plain `[Ws]+` and the
    * donated-space ` ?` prefixes reproduce the lookahead semantics.
    * Equivalence to [[Gpt2Re]] is property-pinned in Gpt2SplitSpec on
    * random strings incl. U+000B/NBSP. A literal [[SentinelCp]] in the
    * input would add a spurious boundary — instead of diverging
    * SILENTLY, the emulation refuses: DuckDB's error() fires on any
    * input row carrying the sentinel, so the driver's oracle run fails
    * loudly and names the cause (r16 advisory). */
  def duckGpt2Toks(textExpr: String): String = {
    val core = Gpt2Core.replace("'", "''")
    val snt = s"chr($SentinelCp)"
    // bind textExpr ONCE via a single-element lambda (r17 advisory: the
    // guard + replace referenced it twice, so a composite spliced
    // expression would evaluate twice per row) — `__gt` carries the value
    // through both references; `[1]` unwraps the one-element result list
    val guarded =
      s"CASE WHEN contains(__gt, $snt) THEN error(" +
        "'duckGpt2Toks: input contains the U+E000 sentinel codepoint - " +
        "the lookahead emulation would add a spurious pre-token boundary') " +
      s"ELSE regexp_replace(__gt, '([$Ws])([^$Ws])', $snt || '\\1\\2', 'g') END"
    s"list_transform([$textExpr], __gt -> " +
      s"flatten(list_transform(string_split($guarded," +
      s" $snt), seg -> regexp_extract_all(seg, '$core'))))[1]"
  }

  /** Plain-Scala form of [[seg]] (the BPE and Unigram word split): the
    * [[tokenStart]]/[[tokenEnd]] walk, collecting each token. */
  private[graft] def segString(s: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = tokenStart(s, 0)
    while (i < s.length) {
      val e = tokenEnd(s, i)
      out += s.substring(i, e)
      i = tokenStart(s, e)
    }
    out.result()
  }
}
