package graft

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_f32 matches hand computation and handles zero vectors") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 2f), Array(2f, 4f, 4f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f)),
    ).toDF("a", "b")
    val got = df.select(cosine_f32(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - 1.0) < 1e-12)
    assert(got(3) == 0.0) // zero-norm convention
  }

  test("dot_f32 matches hand computation, null in -> null out") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
    ).toDF("a", "b")
    assert(df.select(dot_f32(col("a"), col("b"))).as[Double].head() == 32.0)
    val withNull = df.select(dot_f32(lit(null).cast("array<float>"), col("b")))
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("dot_i8 is exact over the full tinyint range, null on mismatch") {
    // Seq[Byte] → array<tinyint> (Array[Byte] would encode as BINARY,
    // which dot_i8 rejects at analysis — see the ExpectsInputTypes note)
    val df = Seq(
      (Seq[Byte](127, -127, 1), Seq[Byte](127, 127, -1)),
      (Seq[Byte](1, 2, 3), Seq[Byte](4, 5, 6)),
    ).toDF("a", "b")
    val got = df.select(dot_i8(col("a"), col("b"))).as[Double].collect()
    assert(got(0) == (127 * 127 - 127 * 127 - 1).toDouble)
    assert(got(1) == 32.0)
    val mism = df.select(dot_i8(col("a"), typedlit(Seq[Byte](1, 2))))
      .collect()(0).isNullAt(0)
    assert(mism, "dimension mismatch must be null, not truncated")
    val binErr = intercept[Exception] {
      df.select(dot_i8(lit(Array[Byte](1, 2, 3)), lit(Array[Byte](1, 2, 3))))
        .collect()
    }
    assert(binErr.getMessage != null) // BINARY rejected at analysis
  }

  test("codegen and interpreted paths of cosine agree") {
    val df = Seq((Array(0.3f, -1.2f, 9.4f, 0.01f), Array(-4f, 0.5f, 2.2f, 1f)))
      .toDF("a", "b")
    val cg = df.select(cosine_f32(col("a"), col("b"))).as[Double].head()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = df.select(cosine_f32(col("a"), col("b"))).as[Double].head()
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(cg == interp)
  }

  test("minhash signature is deterministic, has the right arity, estimates jaccard") {
    val a = (1L to 100L).toArray
    val b = (1L to 80L).toArray ++ (201L to 220L).toArray // jaccard = 80/120
    val df = Seq(Tuple1(a), Tuple1(a), Tuple1(b)).toDF("h")
    val sigs = df.select(minhash_sig(col("h"))).as[Seq[Long]].collect()
    assert(sigs(0).length == 64)
    assert(sigs(0) == sigs(1)) // deterministic
    val est = sigs(0).zip(sigs(2)).count { case (x, y) => x == y } / 64.0
    assert(est > 0.4 && est < 0.95, s"jaccard estimate $est should be near 0.67")
  }

  test("minhash of empty set is null") {
    val df = Seq(Tuple1(Array.empty[Long])).toDF("h")
    assert(df.select(minhash_sig(col("h"))).collect()(0).isNullAt(0))
  }

  test("simhash: identical sets equal, near sets close, distant sets far") {
    val a = (1L to 200L).toArray
    val nearA = (1L to 190L).toArray ++ (1001L to 1010L).toArray
    val other = (5001L to 5200L).toArray
    val df = Seq(Tuple1(a), Tuple1(nearA), Tuple1(other)).toDF("h")
    val hs = df.select(simhash64(col("h"))).as[Long].collect()
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hs(0), hs(1)) < hamming(hs(0), hs(2)),
      s"near ${hamming(hs(0), hs(1))} should be < far ${hamming(hs(0), hs(2))}")
  }

  test("winnowing fingerprint: shared content -> shared fingerprints, short text -> null") {
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = t1 + " with an extra tail of words"
    val df = Seq(t1, t2, "short").toDF("text")
    val fps = df.select(winnow_fp(col("text"))).collect()
    val f1 = fps(0).getSeq[Long](0).toSet
    val f2 = fps(1).getSeq[Long](0).toSet
    assert((f1 & f2).size.toDouble / f1.size > 0.8, "prefix-shared docs share most fingerprints")
    assert(fps(2).isNullAt(0)) // len 5 < k=8
  }

  test("SQL registration exposes the functions") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT cosine_f32(array(cast(1 as float)), array(cast(1 as float))) c," +
      " simhash64(array(1L, 2L, 3L)) s").collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L)
  }

  test("SQL registration: nfc_normalize and the bloom pair compose in spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val norm = spark.sql("SELECT nfc_normalize('cafe\u0301') x")
      .collect()(0).getString(0)
    assert(norm == "caf\u00E9")
    Seq("alpha", "beta", "gamma").toDF("w").createOrReplaceTempView("bloom_src")
    val r = spark.sql(
      """SELECT might_contain(
        |         (SELECT bloom_agg(xxhash64(w), 10, 1024) FROM bloom_src),
        |         xxhash64('alpha')) hit,
        |       might_contain(
        |         (SELECT bloom_agg(xxhash64(w), 10, 1024) FROM bloom_src),
        |         xxhash64('definitely-absent-key')) miss""".stripMargin)
      .collect()(0)
    assert(r.getBoolean(0))
    assert(!r.getBoolean(1))
  }

  test("dimension mismatch yields null, not a truncated similarity") {
    val df = Seq((Array(1f, 0f), Array(1f, 9f, 9f, 9f))).toDF("a", "b")
    assert(df.select(cosine_f32(col("a"), col("b"))).collect()(0).isNullAt(0))
    assert(df.select(dot_f32(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("SQL functions honor literal parameters and reject bad arity") {
    graft.functions.GraftFunctions.register(spark)
    // word_shingles(text, 2): 3 tokens -> 2 bigram shingles
    val n = spark.sql("SELECT size(word_shingles('a b c', 2)) n").collect()(0).getInt(0)
    assert(n == 2)
    val err = intercept[Exception] {
      spark.sql("SELECT simhash64(array(1L), 7)").collect()
    }
    assert(err.getMessage.contains("simhash64"))
  }

  test("minHashPairs rejects a bands value that does not divide the signature") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    assertThrows[IllegalArgumentException] {
      graft.ops.Dedup.minHashPairs(docs, bands = 100)
    }
  }

  test("nfc_normalize composes decomposed sequences, identity on ASCII and null") {
    import graft.functions.GraftFunctions.nfc_normalize
    import org.apache.spark.sql.functions._
    val df = Seq(
      Some("cafe\u0301"),     // e + combining acute -> precomposed e-acute
      Some("plain ascii"),     // fast path: already normalized
      Some("A\u030A"),        // A + combining ring -> Angstrom sign
      None).toDF("s")
    val got = df.select(nfc_normalize(col("s"))).as[Option[String]].collect().toSeq
    assert(got == Seq(Some("caf\u00E9"), Some("plain ascii"), Some("\u00C5"), None))
  }

  test("TextAnalysis.normalize: NFC + control->space + whitespace collapse + trim") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a\tb\u0000c"),         // tab and NUL become spaces
      (2L, "  x   y \n z  "),       // runs collapse, ends trim
      (3L, "cafe\u0301 ok"))        // NFC composes
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.normalize(docs)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a b c"), (2L, "x y z"), (3L, "caf\u00E9 ok")))
  }

  test("word_shingles segments CJK per character (r13: shingle tier no longer exits on CJK docs)") {
    import spark.implicits._
    val han = "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u8bad\u7ec3" // 8 Han chars, no spaces
    def nShingles(text: String, n: Int): Int =
      Seq(text).toDF("t").select(word_shingles(col("t"), n).as("sh"))
        .select(size(col("sh"))).as[Int].head()
    // pre-r13 this text was ONE token \u2192 null shingles at n=3; now 8 tokens
    assert(nShingles(han, 3) == 6)
    assert(nShingles(han, 1) == 8)
    // mixed script: latin words stay whole, CJK splits \u2014 "alpha" + 8 + "beta"
    assert(nShingles(s"alpha $han beta", 1) == 10)
    // glued CJK+latin with no space still splits at the script boundary
    assert(nShingles("abc\u673a\u5668def", 1) == 4) // abc, \u673a, \u5668, def
    // and the token hashes agree with the separately-spaced spelling
    val glued = Seq("abc\u673a\u5668def").toDF("t").select(word_shingles(col("t"), 1)).as[Seq[Long]].head()
    val spaced = Seq("abc \u673a \u5668 def").toDF("t").select(word_shingles(col("t"), 1)).as[Seq[Long]].head()
    assert(glued == spaced)
  }

  test("word_shingles is codepoint-aware: supplementary-plane Han segments per character (r14)") {
    import spark.implicits._
    // two CJK ext-B ideographs (U+20000, U+20001 — outside the BMP);
    // pre-r14 their surrogate halves glued into the surrounding word
    val extB = new String(Character.toChars(0x20000)) +
      new String(Character.toChars(0x20001))
    def toks(text: String): Seq[Long] =
      Seq(text).toDF("t").select(word_shingles(col("t"), 1)).as[Seq[Long]].head()
    assert(toks(extB).size == 2, "each supplementary ideograph is its own token")
    assert(toks(s"abc${extB}def").size == 4) // abc, U+20000, U+20001, def
    // glued and spaced spellings hash identically — same contract the
    // BMP test above pins, now on the supplementary plane
    val c0 = new String(Character.toChars(0x20000))
    val c1 = new String(Character.toChars(0x20001))
    assert(toks(s"abc${extB}def") == toks(s"abc $c0 $c1 def"))
    // a NON-CJK supplementary codepoint (emoji) stays inside its word —
    // codepoint awareness must not over-segment
    assert(toks("ab😀cd").size == 1)
  }

  test("minHashPairs finds a CJK near-duplicate pair") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"\u5b57\u7b26${i}\u53f7").mkString("") // long space-free Han text
    val docs = Seq(
      (1L, base),
      (2L, base.substring(0, (base.length * 0.9).toInt)), // 90% prefix twin
      (3L, (1 to 60).map(i => s"\u53e6\u5916${i}\u4e9b").mkString("")))  // unrelated
      .toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.minHashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"CJK twin must be found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("languageId separates the CJK family by script ratios (r13: ja/ko arms)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", graft.ops.TextAnalysis.JaSnippet),
      (2L, "en", graft.ops.TextAnalysis.KoSnippet),
      (3L, "en", graft.ops.TextAnalysis.ZhSnippet),
      (4L, "en", "the quick brown fox and the lazy dog with it all"),
      // kanji-heavy but kana-free text is CHINESE by this rule (kana is
      // the ja discriminator) \u2014 pins the arm order
      (5L, "en", "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u8bad\u7ec3\u6570\u636e\u8d28\u91cf\u63a7\u5236\u73af\u8282\u5341\u5206\u91cd\u8981\u6ca1\u6709\u5047\u540d"))
      .toDF("doc_id", "lang", "text")
    val got = graft.ops.TextAnalysis.languageId(docs)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "ja", 2L -> "ko", 3L -> "zh", 4L -> "en", 5L -> "zh"))
  }

  test("sorted_set_by_key \u2261 transform(sort_array(collect_list(struct)))") {
    import spark.implicits._
    // deterministic pseudo-random pairs: group sizes cross the quicksort
    // cutoff (16) both ways, keys collide (ties break on value), values
    // span negative longs, and nulls are skipped like collect_list
    val rng = new scala.util.Random(20260815L)
    val rows: Seq[(Long, java.lang.Long, Long)] = (1 to 6000).map { i =>
      val g = i % 37
      val key: java.lang.Long = if (i % 211 == 0) null else rng.nextInt(8).toLong
      (g.toLong, key, rng.nextLong())
    } :+ ((99L, java.lang.Long.valueOf(5L), 1L)) // singleton group
    val df = rows.toDF("g", "k", "v")
    val fast = df.groupBy("g").agg(sorted_set_by_key(col("k"), col("v")).as("set"))
    val slow = df.filter(col("k").isNotNull).groupBy("g")
      .agg(expr("transform(sort_array(collect_list(struct(k, v))), r -> r.v)").as("set"))
    val f = fast.as[(Long, Seq[Long])].collect().toMap
    val s = slow.as[(Long, Seq[Long])].collect().toMap
    assert(f.keySet == s.keySet)
    f.keys.foreach(g => assert(f(g) == s(g), s"group $g"))
    // SQL / spark-plan sanity: partial+final planning must not corrupt the
    // buffer across serialize/deserialize \u2014 force a wide shuffle
    val wide = df.repartition(16, col("v"))
      .groupBy("g").agg(sorted_set_by_key(col("k"), col("v")).as("set"))
      .as[(Long, Seq[Long])].collect().toMap
    f.keys.foreach(g => assert(wide(g) == f(g), s"group $g (partial+final)"))
  }

  test("text_stats counters replicate the split/trim/filter/regex column chain (r19 swap)") {
    // the exact 18-word list TextAnalysis pins (private there; the swap
    // contract is the VALUES, so the copy is the assertion)
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
      "is", "it", "that", "for", "on", "with", "as", "at", "by", "be")
    val texts = Seq(
      "", " ", "  ", "\t", " a ", "a\t", "\ta", "the quick, brown fox! it is; fine:",
      "the the THE", "a  b\n\nc", "\u591a byte \u5b57 and ASCII.",
      "x \ud842\udfb7 y", // supplementary-plane codepoint
      "ends with space ", " leading", "tab\tseparated\ttokens",
      "no-stop-words-here", "punct.,;:!?only", "a\fb\rc", "the\u000bvt")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // the pre-r19 column chain, verbatim
    val toks = split(trim(col("text")), "[\t\n\f\r ]+")
    val old = df.select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(toks).as("n_toks"),
      size(filter(toks, t => t.isin(stop.map(lit(_)): _*))).as("n_stop"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("n_punct"),
      length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("n_alpha"))
    val neu = df.select(col("doc_id"), text_stats(col("text"), stop).as("st"))
      .select(col("doc_id"), col("st.n_chars"), col("st.n_toks"),
        col("st.n_stop"), col("st.n_punct"), col("st.n_alpha"))
    val diff = old.exceptAll(neu).union(neu.exceptAll(old))
    assert(diff.count() === 0, s"text_stats diverged: ${diff.collect().mkString(", ")}")
  }

  test("seg_count replicates size(Tokens.seg(text)) on every edge class (r19 swap)") {
    // differential vs the verbatim shared-tokenizer column chain: empty /
    // whitespace-only / exotic-ws / CJK-per-char / supplementary-plane /
    // mixed scripts / null — the exact strings where a hand loop and the
    // regex pipeline could disagree
    val texts = Seq(
      "", " ", "\t\n\f\r ", "a", " a ", "a b  c", "tab\tsep\ttoks",
      "多 byte 字 and ASCII.", // Han chars mid-sentence
      "あカ한", // Hiragana + Katakana + Hangul run: 3 tokens
      "abc字def", // CJK splits a latin run: 3 tokens
      "x 𠮷 y", // supplementary-plane Han codepoint
      "𠮷𠮷", // two supplementary CJK: 2 tokens
      "ends with space ", " leading", "a\fb\rc", "thevt",
      " nbsp is not ws", "punct.,;:!?only")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .unionAll(Seq((999L, null: String)).toDF("doc_id", "text"))
    val old = df.select(col("doc_id"),
      size(graft.ops.Tokens.seg(col("text"))).cast("long").as("n"))
    val neu = df.select(col("doc_id"), seg_count(col("text")).as("n"))
    val diff = old.exceptAll(neu).union(neu.exceptAll(old))
    assert(diff.count() === 0, s"seg_count diverged: ${diff.collect().mkString(", ")}")
  }

  test("span_shingles compiles under CODEGEN_ONLY on string and array<string> input") {
    // no silent interpreted fallback: a compile error in doGenCode (e.g. a
    // missing static helper) must fail the query, not just log
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    // repartition keeps the projection out of ConvertToLocalRelation,
    // which would evaluate it interpreted at optimization time
    val df = s.createDataFrame(Seq(
      Tuple1("alpha beta gamma delta"), Tuple1("one two"),
      Tuple1("\u4e2d\u6587 mixed \u5b57 text with tokens"))).toDF("text").repartition(1)
    val fromText = df.select(span_shingles(col("text"), 3).as("sh"))
    val fromTokens = df.select(span_shingles(split(col("text"), " "), 3).as("sh"))
    for (q <- Seq(fromText, fromTokens)) {
      val rows = q.collect()
      assert(rows.length == 3)
      assert(rows(1).isNullAt(0), "fewer than k tokens is null")
      assert(rows(0).getSeq[AnyRef](0).size == 2)
    }
  }

  test("graft expressions evaluated twice in one stage compile under CODEGEN_ONLY") {
    // Filter isnotnull(f(x)) under Project f(x): one stage evaluates f
    // twice, and with the consume split off both evaluations land in one
    // Java method (Spark also inlines them whenever a split is not
    // possible). Over non-nullable inputs nullSafeCodeGen emits each body
    // unscoped, so a fixed Java local would be defined twice; fallback off
    // turns that compile error into a failure instead of a silent
    // interpreted run. A range input keeps the plan out of the optimizer's
    // local evaluation.
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.splitConsumeFuncByOperator", "false")
    val df = s.range(1, 3).select(
      concat(lit("alpha beta gamma delta "), col("id").cast("string")).as("text"),
      array(col("id"), col("id") + 1).as("hs"),
      array(col("id").cast("tinyint"), lit(3).cast("tinyint")).as("v"),
      array(col("id").cast("float"), lit(0.5f)).as("vf"))
    val exprs = Seq(
      "minhash_sig" -> minhash_sig(col("hs"), 4),
      "simhash64" -> simhash64(col("hs")),
      "sig_agreement" -> sig_agreement(col("hs"), col("hs")),
      "word_shingles" -> word_shingles(col("text"), 2),
      "span_shingles" -> span_shingles(col("text"), 2),
      "span_shingles(tokens)" -> span_shingles(split(col("text"), " "), 2),
      "winnow_fp" -> winnow_fp(col("text"), 4, 2),
      "nearest_centroids" -> nearest_centroids(col("v"), lit(1.0), Seq(7L, 8L),
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      "nearest_centroids_f32" -> nearest_centroids_f32(col("vf"), Seq(7L, 8L),
        Seq(Seq(1f, 0f), Seq(0f, 1f))),
      // Dedup.incremental's probe: a scalar-subquery bloom over a column
      "might_contain" -> might_contain(
        df.agg(bloom_agg(xxhash64(col("text")), 10L, 1024L)).scalar(),
        xxhash64(col("text"))))
    val cascade = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CascadeVotes(
        org.apache.spark.sql.GraftSqlBridge.expression(col("text")),
        Array(1L), 1L, Array(1L), Array(1L), 1L, Array(0L), 18, 65))
    // both take a non-nullable input, so isnotnull would fold away: filter
    // on a value of the result instead
    val nonNullable = Seq(
      "seg_count" -> (seg_count(col("text")), col("o") > 0),
      "cascade_votes" -> (cascade, col("o.clf_keep")))
    (exprs.map { case (name, f) => name -> (f, col("o").isNotNull) } ++ nonNullable)
      .foreach { case (name, (f, keep)) =>
        val q = df.select(f.as("o")).filter(keep)
        assert(q.collect().length == 2, name)
      }
  }

  test("a wrongly typed call fails analysis naming the offending type") {
    val ints = spark.range(1).select(col("id").cast("int").as("i"),
      array(lit(1.0), lit(2.0)).as("v"))
    val bad = Seq(
      "int" -> (() => ints.select(span_shingles(col("i"), 2))),
      "array<double>" -> (() => ints.select(nearest_centroids(col("v"), lit(1.0),
        Seq(7L), Seq(Seq(1.0, 0.0))))))
    bad.foreach { case (typ, q) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](q())
      assert(e.getMessage.contains(s"got $typ"), e.getMessage)
    }
  }
}
