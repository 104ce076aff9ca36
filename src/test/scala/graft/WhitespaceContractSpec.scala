package graft

import graft.ops.Tokens
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The suite-wide whitespace contract (r16): every engine-side
  * split/collapse uses the explicit class `[\t\n\f\r ]` — RE2's `\s`,
  * which every DuckDB oracle mirror splits on. The three ambient
  * classes disagree OUTSIDE it (Java `\s` adds U+000B;
  * `Character.isWhitespace` adds the U+2000 range and U+3000), so this
  * spec feeds exactly those characters through each consumer and pins
  * that they are treated as TOKEN TEXT, not separators — the behavior
  * the oracles would compute. The corpus carries none of them (checked
  * at r16), so this is the only guard that keeps the class pinned. */
class WhitespaceContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // U+000B (VT): Java \s yes, RE2 no. U+2028/U+3000: isWhitespace yes,
  // RE2 no. U+00A0: neither, included as a control.
  private val Exotic = Seq('\u000b', ' ', '　', ' ')

  private def df(text: String) = {
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
  }

  test("Tokens.seg treats exotic whitespace as token text") {
    Exotic.foreach { c =>
      val toks = df(s"a${c}b c").select(Tokens.seg(col("text")))
        .collect()(0).getSeq[String](0)
      assert(toks == Seq(s"a${c}b", "c"),
        f"seg split on U+${c.toInt}%04X: $toks")
    }
  }

  test("segString matches seg on exotic whitespace") {
    Exotic.foreach { c =>
      val s = s"a${c}b c"
      val fromCol = df(s).select(Tokens.seg(col("text")))
        .collect()(0).getSeq[String](0)
      assert(Tokens.segString(s).toSeq == fromCol)
    }
  }

  test("WordShingleHashes segments identically to Tokens.seg on exotic whitespace") {
    // unigram hash count == seg token count: if the expression's scanner
    // used a different whitespace class, a U+000B doc would shingle a
    // different number of tokens than the oracle emulation hashes
    Exotic.foreach { c =>
      val s = s"a${c}b c d"
      val row = df(s).select(
        size(GraftFunctions.word_shingles(col("text"), 1)).as("n_sh"),
        size(Tokens.seg(col("text"))).as("n_seg")).collect()(0)
      assert(row.getInt(0) == row.getInt(1),
        f"shingle/seg token counts diverge on U+${c.toInt}%04X")
    }
  }

  /** Inputs where the in-eval walk and the regex rule could part ways. */
  private val Edge: Seq[String] =
    Exotic.map(c => s"a${c}b c") ++ Seq(
      "", " \t\n\f\r ", "a", "  lead and trail \t\r\n",
      "\u4e2d\u6587 mixed \u5b57 text", "abc\u5b57def", "\u3042\u30ab\ud55c",
      "x \ud842\udfb7 y", "\ud842\udfb7\ud842\udfb7z\ud840\udc00",
      "lone\ud800high and \udc00low", "a\u000bb\u00a0c\u2028d \u3000e",
      "rep rep rep rep \u5b57 \u5b57 \u5b57", "punct.,;:!?only")

  private def edgeDf = {
    import spark.implicits._
    Edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("the token walk matches the regex Column form Tokens.seg") {
    val rows = edgeDf.select(col("text"), Tokens.seg(col("text")),
        GraftFunctions.seg_count(col("text")),
        GraftFunctions.word_shingles(col("text"), 1)).collect()
    assert(rows.length == Edge.length)
    rows.foreach { r =>
      // the text as Spark holds it: UTF-8 encoding turns a lone
      // surrogate into '?', so compare against the stored string
      val text = r.getString(0)
      val segCol = r.getSeq[String](1)
      assert(Tokens.segString(text).toSeq == segCol, s"segString on '$text'")
      assert(r.getLong(2) == segCol.size, s"seg_count on '$text'")
      val uni = if (r.isNullAt(3)) 0 else r.getSeq[Long](3).size
      assert(uni == segCol.size, s"word_shingles(text, 1) on '$text'")
    }
  }

  test("segString keeps lone surrogates where the Java regex rule does") {
    // in-eval callers only ever see decoded UTF-8, but a direct caller
    // can hand the walk an unpaired surrogate
    val cjk = "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])"
    Edge.foreach { s =>
      val regex = s.replaceAll(cjk, " $1 ").split(Tokens.WsRun).filter(_.nonEmpty)
      assert(Tokens.segString(s).toSeq == regex.toSeq, s"on '$s'")
    }
  }

  test("span_shingles over text equals span_shingles over seg(text)") {
    (1 to 3).foreach { k =>
      val rows = edgeDf.select(
        GraftFunctions.span_shingles(col("text"), k),
        GraftFunctions.span_shingles(Tokens.seg(col("text")), k)).collect()
      rows.zip(Edge).foreach { case (r, s) =>
        assert(r.get(0) == r.get(1), s"k=$k on '$s'")
      }
    }
  }

  test("cascade_votes segments and hashes like the standalone kernels") {
    val (topPct, dupPct) = (18, 65)
    val shingles = edgeDf.select(col("doc_id"), Tokens.seg(col("text")),
        GraftFunctions.word_shingles(col("text"), 3)).collect()
      .map(r => r.getLong(0) -> (r.getSeq[String](1).size,
        if (r.isNullAt(2)) Seq.empty[Long] else r.getSeq[Long](2)))
      .toMap
    // the benchmark set is every trigram the shingle kernel emits, so
    // cov counts exactly the doc's windows iff both hash alike
    val bench = shingles.values.flatMap(_._2).toArray.distinct.sorted
    val votes = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CascadeVotes(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        Array(1L), 1L, Array(1L), Array(1L), 1L, bench, topPct, dupPct))
    val standalone = graft.ops.TextAnalysis.repetitionMetricsUnordered(edgeDf,
        topBigramPctMax = topPct, dupTokenPctMax = dupPct)
      .select("doc_id", "is_repetitive").collect()
      .map(r => r.getLong(0) -> !r.getBoolean(1)).toMap
    val rows = edgeDf.select(col("doc_id"), col("text"), votes.as("v"))
      .select("doc_id", "text", "v.clf_keep", "v.fluency_ppm",
        "v.repetition_keep", "v.cov").collect()
    assert(rows.length == Edge.length)
    rows.foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val (m, tri) = shingles(id)
      assert(r.isNullAt(2) == (m == 0), s"clf abstention on '$text'")
      assert(r.isNullAt(3) == (m < 2), s"fluency abstention on '$text'")
      assert(r.getBoolean(4) == standalone(id), s"repetition vote on '$text'")
      if (m < 3) assert(r.isNullAt(5), s"cov abstention on '$text'")
      else assert(r.getLong(5) == tri.size && tri.size == m - 2, s"cov on '$text'")
    }
    assert(!standalone.values.forall(identity), "no input is repetitive — vacuous")
  }

  test("isCjkCp equals the four-script definition on every codepoint") {
    import Character.UnicodeScript._
    val scripts = Set(HAN, HIRAGANA, KATAKANA, HANGUL)
    val bad = (0 to Character.MAX_CODE_POINT).filter(cp =>
      Tokens.isCjkCp(cp) != scripts.contains(Character.UnicodeScript.of(cp)))
    assert(bad.isEmpty, bad.take(8).map(cp => f"U+$cp%04X"))
  }

  test("src/main segments text only through Tokens") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50)
    val hits = files.filterNot(_.endsWith(Paths.get("ops", "Tokens.scala")))
      .flatMap(f => Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("Character.UnicodeScript") =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      })
    assert(hits.isEmpty, s"script tests belong in Tokens.isCjkCp: $hits")
  }

  test("gpt2 split classifies exotic whitespace as 'other' characters") {
    Exotic.foreach { c =>
      // exact token sequence: the exotic char is its own 'other'-run
      // token between the two letter runs — a regression to a wider
      // whitespace class would instead donate it or emit a ws token
      assert(Tokens.gpt2SegString(s"a${c}b").toSeq ==
        Seq("a", c.toString, "b"),
        f"U+${c.toInt}%04X not an 'other' token")
      // after a space, it absorbs the donated space like any other-run
      assert(Tokens.gpt2SegString(s"a ${c}b").toSeq ==
        Seq("a", s" $c", "b"),
        f"U+${c.toInt}%04X did not take the donated space")
    }
  }

  test("HtmlToText collapses ONLY the pinned class") {
    val row = df("x  \t y \u000b z").select(
      GraftFunctions.html_to_text(col("text"))).collect()(0)
    // runs of [\t ] collapse; the VT survives as text
    assert(row.getString(0) == "x y \u000b z")
  }
}
