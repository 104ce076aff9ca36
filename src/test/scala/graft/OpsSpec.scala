package graft

import graft.ops.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  // ---- passage-level span dedup ------------------------------------

  private val A8 = "a1 a2 a3 a4 a5 a6 a7 a8"   // one shared 8-token passage
  private val B8 = "b1 b2 b3 b4 b5 b6 b7 b8"   // a second shared passage

  test("duplicatedSpans flags a cross-document repeated passage in both docs") {
    val d = docs(
      1L -> (A8 + " x1 x2"),        // passage at pos 0, 10 tokens total
      2L -> ("y1 y2 " + A8),        // passage at pos 2, 10 tokens total
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9")  // unique — must not appear
    val got = Dedup.duplicatedSpans(d, k = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 10L, 1L, 8L), (2L, 10L, 1L, 8L)))
  }

  test("duplicatedSpans sees a CJK passage per-character (r12 advice: no 1-token degeneration)") {
    // a shared space-free Han passage: under the pure-whitespace rule each
    // doc is ONE token (< k) and the repeat is invisible; per-character
    // segmentation makes it 14 tokens and both docs must flag 14 dup tokens
    val han = "机器学习模型训练数据质量控制" // 14 Han chars, no spaces
    assert(han.length == 14)
    val d = docs(
      1L -> (han + " trailing words here four five six"),
      2L -> ("prefix words " + han),
      3L -> "unique latin only text with eight tokens")
    val got = Dedup.duplicatedSpans(d, k = 8)
      .as[(Long, Long, Long, Long)].collect()
    // doc 1: 14 CJK tokens + 6 latin = 20 total; doc 2: 2 + 14 = 16
    assert(got === Array((1L, 20L, 1L, 14L), (2L, 16L, 1L, 14L)))
  }

  test("chunking a space-free CJK document yields per-character token windows") {
    import graft.ops.Chunking
    val han = (1 to 100).map(i => ('一' + (i % 50)).toChar).mkString // 100 Han chars
    val d = docs(7L -> han)
    val chunks = Chunking.chunk(d, chunkTokens = 32, stride = 24)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_start", "chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    // 100 tokens, stride 24 → starts 0,24,48,72,96 — NOT one giant token
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0L, 0L, 32L), (1L, 24L, 32L), (2L, 48L, 32L), (3L, 72L, 28L), (4L, 96L, 4L)))
    // chunk text is the space-joined per-character stream
    assert(chunks.head._4.split(" ").forall(_.length == 1))
    assert(chunks.head._4.replace(" ", "") == han.substring(0, 32))
  }

  test("duplicatedSpans merges overlapping islands from an intra-doc repeat") {
    // the doc is its own duplicate: shingle pos 0 == pos 8, gap 8 ≤ k
    // → ONE island covering the whole 16-token doc
    val d = docs(1L -> ("p1 p2 p3 p4 p5 p6 p7 p8 " + "p1 p2 p3 p4 p5 p6 p7 p8"))
    val got = Dedup.duplicatedSpans(d, k = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array((1L, 16L, 1L, 16L)))
  }

  test("duplicatedSpans splits islands when the start gap exceeds k") {
    val d = docs(
      1L -> (A8 + " m1 m2 " + B8), // flags at pos 0 and 10: gap 10 > 8 → 2 spans
      2L -> (A8 + " k1 k2"),
      3L -> ("k3 k4 " + B8))
    val got = Dedup.duplicatedSpans(d, k = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(got === Array(
      (1L, 18L, 2L, 16L),   // two 8-token spans, 10-token start gap
      (2L, 10L, 1L, 8L),
      (3L, 10L, 1L, 8L)))
  }

  test("span_shingles keys group windows exactly like the old sha2-of-text key (r19 swap)") {
    // r19 optimization: spanShingles' grouping key moved from
    // unhex(sha2(concat_ws(' ', slice(toks, i+1, k)), 256)) to the native
    // 128-bit SpanShingleHashes kernel. Equivalence contract: two windows
    // share a key IFF their space-joined shingle text is equal. Exercise on
    // a corpus with heavy token reuse (many near-miss windows): the number
    // of distinct native keys must equal the number of distinct joined
    // strings, and per-position keys must co-classify identically.
    import graft.functions.GraftFunctions.span_shingles
    val k = 4
    // heavy token reuse (near-miss windows) + CJK (in-eval per-codepoint
    // segmentation must agree with Tokens.seg) + mixed whitespace
    val vocab = Array("a", "b", "ab", "ba", "aa", "学", "学习", "Aa")
    val rng = new scala.util.Random(7)
    val rows = (1L to 40L).map { id =>
      val n = 4 + rng.nextInt(20)
      val sep = if (id % 3 == 0) "\t" else " "
      id -> Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(sep)
    }
    val d = docs(rows: _*)
    val toks = d.select(col("doc_id"), col("text"), graft.ops.Tokens.seg(col("text")).as("toks"))
    val both = toks
      .select(col("doc_id"), col("text"), col("toks"),
        posexplode(span_shingles(col("toks"), k)).as(Seq("pos", "sh")))
      .withColumn("txt", expr(s"concat_ws(' ', slice(toks, pos + 1, $k))"))
      // the TEXT branch (in-eval tokenization) must agree with the
      // array branch position-for-position
      .withColumn("sh_text", span_shingles(col("text"), k).getItem(col("pos")))
      .select("sh", "sh_text", "txt")
    assert(both.filter(col("sh") =!= col("sh_text")).count() === 0,
      "text-branch and array-branch keys diverged")
    val pairs = both.select("sh", "txt").distinct().collect()
    val byTxt = pairs.groupBy(_.getString(1))
    // every joined-text class maps to exactly one native key and vice versa
    assert(byTxt.values.forall(_.length == 1),
      "one shingle text mapped to two native keys")
    assert(pairs.map(_.get(0)).distinct.length === byTxt.size,
      "two distinct shingle texts collided in the native key")
    // <k tokens → null (no windows), matching the old size(toks) >= k gate
    val short = docs(99L -> "t1 t2 t3")
      .select(span_shingles(graft.ops.Tokens.seg(col("text")), k).as("sh"))
    assert(short.collect().head.isNullAt(0))
  }

  test("duplicatedSpans ignores documents shorter than k tokens") {
    val d = docs(1L -> "s1 s2 s3", 2L -> "s1 s2 s3")
    assert(Dedup.duplicatedSpans(d, k = 8).count() === 0)
  }

  test("stripDuplicatedSpans keeps the canonical first occurrence intact") {
    val d = docs(
      1L -> (A8 + " x1 x2"),   // pos 0 is the corpus-first occurrence
      2L -> ("y1 y2 " + A8),   // non-canonical: its A8 tokens are removed
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9")  // unique: token-normalized, kept
    val got = Dedup.stripDuplicatedSpans(d, k = 8)
      .as[(Long, String, Long, Long)].collect()
    assert(got === Array(
      (1L, A8 + " x1 x2", 10L, 10L),
      (2L, "y1 y2", 10L, 2L),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", 9L, 9L)))
  }

  test("stripDuplicatedSpans removes the second copy of an intra-doc repeat") {
    val d = docs(1L -> ("p1 p2 p3 p4 p5 p6 p7 p8 " + "p1 p2 p3 p4 p5 p6 p7 p8"))
    val got = Dedup.stripDuplicatedSpans(d, k = 8)
      .as[(Long, String, Long, Long)].collect()
    assert(got === Array((1L, "p1 p2 p3 p4 p5 p6 p7 p8", 16L, 8L)))
  }

  test("stripDuplicatedSpans strips a doc that is a pure prefix copy to empty") {
    val d = docs(1L -> (A8 + " z9 z10"), 2L -> A8)
    val got = Dedup.stripDuplicatedSpans(d, k = 8)
      .as[(Long, String, Long, Long)].collect()
    assert(got === Array(
      (1L, A8 + " z9 z10", 10L, 10L),
      (2L, "", 8L, 0L)))
  }

  test("dedupGroups merges chains transitively, keeps singletons") {
    import spark.implicits._
    // chain 1-2, 2-3; star 10-{11,12}; pair 20-21; singleton 30
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val got = Dedup.dedupGroups(docs, pairs)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, g, k) => id -> ((g, k)) }.toMap
    assert(got == Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      10L -> ((10L, true)), 11L -> ((10L, false)), 12L -> ((10L, false)),
      20L -> ((20L, true)), 21L -> ((20L, false)),
      30L -> ((30L, true))))
  }

  test("dedupGroups distributed path (threshold 0) agrees with union-find path") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val local = Dedup.dedupGroups(docs, pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(Dedup.lastGroupsBranch == "driver")
    val dist = Dedup.dedupGroups(docs, pairs, collectThreshold = 0L)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(Dedup.lastGroupsBranch == "distributed")
    assert(dist == local)
  }

  test("graft.dedup.collectThreshold conf engages the distributed branch on the gate corpus") {
    // a forced tiny threshold via the SESSION CONF (the deployment knob,
    // not the test-only parameter) must put the real gate entry's plan on
    // the distributed branch — and a typo'd value must fall back to the
    // safe default instead of throwing from the dedup job
    val fn = SparkEntry.queries("dedup_groups")
    spark.conf.set("graft.dedup.collectThreshold", "0")
    try {
      val rows = fn(spark, TestSpark.Sf0001).collect()
      assert(rows.nonEmpty)
      assert(Dedup.lastGroupsBranch == "distributed",
        "conf-forced tiny threshold must engage the distributed branch")
    } finally spark.conf.unset("graft.dedup.collectThreshold")
    spark.conf.set("graft.dedup.collectThreshold", "not-a-number")
    try {
      fn(spark, TestSpark.Sf0001).collect()
      assert(Dedup.lastGroupsBranch == "driver",
        "malformed conf must degrade to the default (driver) path")
    } finally spark.conf.unset("graft.dedup.collectThreshold")
  }

  test("exact dedup groups identical content, keeps min doc_id") {
    val d = docs(1L -> "aa bb cc", 2L -> "xx yy", 3L -> "aa bb cc", 4L -> "zz")
    val got = Dedup.exact(d).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (4L, 1L)))
  }

  test("corpusReport rolls up exact twins and near-dup membership per stratum") {
    import spark.implicits._
    val tA = (1 to 40).map(i => s"a$i").mkString(" ")
    val tB = (1 to 40).map(i => s"b$i").mkString(" ")
    val tBpre = (1 to 36).map(i => s"b$i").mkString(" ")  // 90% prefix: near, not exact
    val d = Seq(
      (1L, "aa", tA), (2L, "aa", tA),                     // exact twins (near too)
      (5L, "aa", (1 to 10).map(i => s"u$i").mkString(" ")), // unique
      (3L, "bb", tB), (4L, "bb", tBpre))
      .toDF("doc_id", "lang", "text")
    val got = Dedup.corpusReport(d)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("aa", 3L, 2L, 2L, 666L),   // 2 of 3 docs in near pairs -> 666‰
      ("bb", 2L, 0L, 2L, 1000L)))
  }

  test("noveltyMetrics counts corpus-unique shingles per doc, short docs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"c$i").mkString(" ")),   // 8 shingles, all unique
      (2L, (1 to 10).map(i => s"s$i").mkString(" ")),   // identical twins:
      (3L, (1 to 10).map(i => s"s$i").mkString(" ")),   //   every shingle df >= 2
      (4L, "s1 s2 s3 n1 n2 n3"),  // 4 shingles: 1 shared with 2/3, 3 unique
      (5L, "a b"))                // < 3 tokens: no shingles, absent
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.noveltyMetrics(d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 8L, 8L, 1000L),
      (2L, 8L, 0L, 0L),
      (3L, 8L, 0L, 0L),
      (4L, 4L, 3L, 750L)))
  }

  test("keepBestPairs picks by quality, then token count, then min id — orientation-free") {
    import spark.implicits._
    val d = docs(
      1L -> "the cat and the dog sat in the house with a mouse",
      2L -> "the cat and the dog sat in the house",     // truncated copy: fewer tokens
      10L -> "identical text here and there",
      11L -> "identical text here and there")           // full tie -> min id
    val pairs = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBestPairs(d, pairs)
      .select("keep_id", "drop_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (10L, 11L)))
    // the decision reads values, not pair orientation
    val rev = Seq((2L, 1L), (11L, 10L)).toDF("doc_a", "doc_b")
    val got2 = Dedup.keepBestPairs(d, rev)
      .select("keep_id", "drop_id").as[(Long, Long)].collect().toSeq
    assert(got2 == Seq((1L, 2L), (10L, 11L)))
  }

  test("keepBestPerGroup picks ONE canonical doc per transitive group by quality") {
    import spark.implicits._
    val d = docs(
      1L -> "zz qq ww rr tt yy uu ii",              // no stopwords — low quality
      2L -> "the cat and the dog in the house",     // stopword-rich — group best
      3L -> "zz qq ww",
      10L -> "identical text here and there",
      11L -> "identical text here and there",       // full tie -> min id keeps
      30L -> "a lone document")                     // singleton, no pair
    // chain only (1-2, 2-3): electing 2 over 3 requires transitive closure,
    // and the canonical doc is NOT the min id — pairwise keep-best or
    // keep-first-by-id would both get this wrong
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.keepBestPerGroup(d, pairs)
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (id, g, k, keep) => id -> ((g, k, keep)) }.toMap
    assert(got == Map(
      1L -> ((1L, 2L, false)), 2L -> ((1L, 2L, true)), 3L -> ((1L, 2L, false)),
      10L -> ((10L, 10L, true)), 11L -> ((10L, 10L, false)),
      30L -> ((30L, 30L, true))))
  }

  test("incrKeepBest verdicts: accept clean, drop on worse, supersede on better, best rival on multi-match") {
    import spark.implicits._
    val snap = docs(
      1L -> "zz qq ww rr",                             // weak snapshot copy
      2L -> "the cat and the dog sat in the big house")// strong snapshot copy
    val news = docs(
      1001L -> "the cat and the dog in a warm home",   // beats snap 1 -> supersede
      1002L -> "the cat and the dog sat in the",       // truncated vs snap 2 -> drop
      1003L -> "completely unrelated fresh text",      // no pair -> accept
      1004L -> "zz qq")                                // matched to BOTH 1 and 2
    val pairs = Seq((1L, 1001L), (2L, 1002L), (1L, 1004L), (2L, 1004L))
      .toDF("snap_id", "new_id")
    val got = Dedup.incrKeepBest(snap, news, pairs)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1001L, "supersede", 1001L, 1L),
      (1002L, "drop", 2L, 2L),
      (1003L, "accept", 1003L, 0L),
      // rival = the STRONGEST matched snapshot copy (2, not min-id 1)
      (1004L, "drop", 2L, 2L)))
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 55).map(i => s"tok$i").mkString(" ") // drop last 5 tokens
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val d = docs(10L -> base, 20L -> near, 30L -> other)
    val pairs = Dedup.minHashPairs(d, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 20L)))
  }

  test("ngram jaccard computes the exact set similarity") {
    // doc A: tokens t1..t10 -> 8 distinct 3-gram shingles; doc B shares 1..8
    val a = (1 to 10).map(i => s"t$i").mkString(" ")
    val b = (1 to 8).map(i => s"t$i").mkString(" ")
    val d = docs(1L -> a, 2L -> b)
    val got = Dedup.ngramJaccardPairs(d, threshold = 0.1)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    val (da, db, j) = got(0)
    assert((da, db) == (1L, 2L))
    // A has 8 shingles, B has 6, all of B's are in A -> 6/8
    assert(math.abs(j - 6.0 / 8.0) < 1e-12)
  }

  test("ngram jaccard keeps an exactly-at-threshold pair at t = 0.8") {
    // Regression for the float knife-edge in the PPJoin candidate bounds:
    // sizes 35 and 28 with overlap 28 give J = 28/35 = 0.8 exactly, and
    // |a|+|b| = 63 makes ceil(0.8/1.8·63) overshoot in doubles
    // (28.000000000000004 → 29), pruning the pair before verification —
    // the bounds must run in exact integer arithmetic.
    val a = (1 to 37).map(i => s"w$i").mkString(" ") // 35 shingles
    val b = (1 to 30).map(i => s"w$i").mkString(" ") // 28, all shared
    val d = docs(1L -> a, 2L -> b)
    val got = Dedup.ngramJaccardPairs(d, threshold = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 1, s"exactly-at-threshold pair dropped: ${got.toSeq}")
    assert(math.abs(got(0)._3 - 0.8) < 1e-12)
    // and strictly-below-threshold still excludes (the filter is a bound,
    // not a widener): overlap 27 of sizes 35/29 → J = 27/37 < 0.8
    val c = ((1 to 29).map(i => s"w$i") ++ Seq("zz1", "zz2")).mkString(" ")
    val d2 = docs(1L -> a, 3L -> c)
    assert(Dedup.ngramJaccardPairs(d2, threshold = 0.8).count() == 0)
  }

  test("simhash pairs finds case/whitespace variants via chunk pigeonhole") {
    // simhash with maxHamming=3 targets near-identical content; a robust
    // deterministic case is canonicalization variance (case + whitespace),
    // which yields identical shingle sets -> hamming 0
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val variant = (1 to 100).map(i => s"TOK$i").mkString("  ") + " "
    val other = (1 to 100).map(i => s"qq$i").mkString(" ")
    val d = docs(1L -> base, 2L -> variant, 3L -> other)
    val pairs = Dedup.simHashPairs(d).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("brute-force top-k returns exact neighbors in cosine order") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1f)), (3L, Array(0.5f, 0.5f)),
    ).toDF("vec_id", "embedding").withColumn("label", lit(0))
    val got = Similarity.bruteForceTopK(vecs, k = 3, every = 2)
      .as[(Long, Int, Long, Double)].collect()
    // queries: vec_id 0 and 2. For 0: nearest = 1, then 3, then 2.
    val q0 = got.filter(_._1 == 0L).map(_._3).toSeq
    assert(q0 == Seq(1L, 3L, 2L))
    // for 2: nearest = 3, then 1, then 0
    val q2 = got.filter(_._1 == 2L).map(_._3).toSeq
    assert(q2 == Seq(3L, 1L, 0L))
  }

  test("recallPerQuery counts hits per query, integer per-mille, zero on a missed query") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "vec_id")
    val approx = Seq((1L, 10L), (1L, 99L))  // q1 half right, q2 absent
      .toDF("qid", "vec_id")
    val got = Similarity.recallPerQuery(approx, exact)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 500L), (2L, 0L, 0L)))
  }

  test("IVF and LSH top-k recall planted exact duplicates") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val planted = Similarity.withPlantedNearDupVectors(emb)
    // rank-1 neighbor of query q must be its planted near-copy q+1M
    val ivf1 = Similarity.ivfTopK(planted, k = 1)
      .filter(col("qid") < 1000000).as[(Long, Int, Long, Double)].collect()
    assert(ivf1.nonEmpty)
    val okIvf = ivf1.count { case (q, _, n, _) => n == q + 1000000L }
    assert(okIvf.toDouble / ivf1.length >= 0.9, s"IVF recall@1 $okIvf/${ivf1.length}")
    val lsh1 = Similarity.lshTopK(planted, k = 1)
      .filter(col("qid") < 1000000).as[(Long, Int, Long, Double)].collect()
    assert(lsh1.nonEmpty)
    val okLsh = lsh1.count { case (q, _, n, _) => n == q + 1000000L }
    assert(okLsh.toDouble / lsh1.length >= 0.9, s"LSH recall@1 $okLsh/${lsh1.length}")
  }

  test("quantized top-k recalls planted exact duplicates at rank 1") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val planted = Similarity.withPlantedNearDupVectors(emb)
    val got = Similarity.quantizedTopK(planted, k = 1)
      .filter(col("qid") < 1000000).as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    // int8 quantization error (≤ half a step per component) must not
    // displace a planted scaled-copy (cosine ≈ 1) from rank 1
    val ok = got.count { case (q, _, n, _) => n == q + 1000000L }
    assert(ok.toDouble / got.length >= 0.9, s"quantized recall@1 $ok/${got.length}")
    assert(got.forall(_._4 > 0.98), "planted-copy cosine should survive quantization")
  }

  test("IVF×quantized top-k keeps recall: the composed 100 TB configuration") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val planted = Similarity.withPlantedNearDupVectors(emb)
    // the planted scaled-copy (cosine ≈ 1) must survive BOTH the IVF
    // candidate restriction (copy and original land in the same cluster —
    // quantized cosine preserves ≈-colinearity) and int8 scoring
    val got = Similarity.ivfQuantizedTopK(planted, k = 1)
      .filter(col("qid") < 1000000).as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    val ok = got.count { case (q, _, n, _) => n == q + 1000000L }
    assert(ok.toDouble / got.length >= 0.9, s"ivf×quantized recall@1 $ok/${got.length}")

    // Quantization must not meaningfully degrade what the IVF candidate
    // restriction already gives: composed recall@10 vs exact brute force
    // within 5 points of FLOAT IVF's. (Absolute IVF recall is low on this
    // corpus by construction — uniform random vectors have no cluster
    // structure, so nprobe=3 of ~14 centroids caps any IVF variant; real
    // embedding corpora cluster, which is the premise of the index.)
    def recallOf(df: org.apache.spark.sql.DataFrame, truth: Map[Long, Set[Long]]): Double = {
      val approx = df.as[(Long, Int, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
      val rs = truth.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      rs.sum / rs.size
    }
    val truth = Similarity.bruteForceTopK(emb, k = 10)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val floatIvf = recallOf(Similarity.ivfTopK(emb, k = 10), truth)
    val composed = recallOf(Similarity.ivfQuantizedTopK(emb, k = 10), truth)
    assert(composed >= floatIvf - 0.05,
      s"quantization cost too high: composed=$composed, float IVF=$floatIvf")
  }

  test("k-means IVF trains centroids and keeps planted-duplicate recall") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val planted = Similarity.withPlantedNearDupVectors(emb)
    val got = Similarity.kmeansIvfTopK(planted, k = 1)
      .filter(col("qid") < 1000000).as[(Long, Int, Long, Double)].collect()
    assert(got.nonEmpty)
    // a planted scaled-copy (cosine ≈ 1) lands in its original's cluster
    // under ANY centroid set, so trained centroids must keep recall@1
    val ok = got.count { case (q, _, n, _) => n == q + 1000000L }
    assert(ok.toDouble / got.length >= 0.9, s"kmeans recall@1 $ok/${got.length}")

    // training must actually move at least one centroid off its seed:
    // iters=0 (pure seeds) and iters=2 must differ in some assignment-
    // derived ranking, or Lloyd's silently became a no-op
    val seeded = Similarity.kmeansIvfTopK(emb, k = 5, iters = 0)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val trained = Similarity.kmeansIvfTopK(emb, k = 5, iters = 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(seeded != trained,
      "2 Lloyd rounds changed no ranking — training looks like a no-op")
  }

  test("persisted IVF index serves identically and prunes to probed clusters") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    Similarity.buildKmeansIvfIndex(emb, path)
    // queries straight from the index (it stores the quantized vectors)
    val queries = spark.read.parquet(s"$path/assign")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("qvec").as("probe_vec"),
        col("qnorm").as("probe_norm"))
    val served = Similarity.queryKmeansIvfIndex(spark, path, queries)
    val direct = Similarity.kmeansIvfTopK(emb)
    assert(served.collect().map(_.toString).toSeq ==
      direct.collect().map(_.toString).toSeq)
    // the assign scan must carry a partition filter on cluster — probed
    // partitions only, not the whole index
    val plan = served.queryExecution.sparkPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*cluster".r
    assert(pf.findFirstIn(plan).isDefined,
      s"no partition pruning on the index scan:\n$plan")
  }

  test("index append: new vectors are served without retraining; staleness trips at the threshold") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfappend").toString
    Similarity.buildKmeansIvfIndex(emb, path)
    val centsBefore = spark.read.parquet(s"$path/centroids")
      .orderBy("cent_id").collect().map(_.toString).toSeq
    assert(!Similarity.kmeansIvfIndexStale(spark, path))
    // appended vectors: exact COPIES of existing ones under fresh ids —
    // each lands in its twin's cluster and scores cosine 1.0 against it
    val appended = emb.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"),
        col("label"))
    Similarity.appendToKmeansIvfIndex(appended, path)
    // no rebuild: centroids byte-identical, trained marker unchanged
    val centsAfter = spark.read.parquet(s"$path/centroids")
      .orderBy("cent_id").collect().map(_.toString).toSeq
    assert(centsBefore == centsAfter, "append retrained the centroids")
    // queries now see their appended twin as the (tied-)top neighbor
    val queries = spark.read.parquet(s"$path/assign")
      .filter(col("vec_id") % 50 === 0 && col("vec_id") < 5000000L)
      .select(col("vec_id").as("qid"), col("qvec").as("probe_vec"),
        col("qnorm").as("probe_norm"))
    val served = Similarity.queryKmeansIvfIndex(spark, path, queries)
    val twinHits = served
      .filter(col("vec_id") === col("qid") + 5000000L && col("rank") === 1)
      .count()
    // the spilled index stores one row per (vector, slot): count QUERIES
    val nq = queries.select("qid").distinct().count()
    assert(twinHits == nq,
      s"only $twinHits of $nq queries surfaced their appended twin at rank 1")
    // the appended fraction here is 1/50 of the base — far under the
    // default 20% trigger; appending 25% of the base must trip it
    assert(!Similarity.kmeansIvfIndexStale(spark, path))
    val bulk = emb.filter(col("vec_id") % 4 === 1)
      .select((col("vec_id") + 9000000L).as("vec_id"), col("embedding"),
        col("label"))
    Similarity.appendToKmeansIvfIndex(bulk, path)
    assert(Similarity.kmeansIvfIndexStale(spark, path),
      "25% appended rows did not trip the re-train trigger")
  }

  test("spilled IVF recall@10 against brute force stays above the raised floor") {
    // r13: spilled assignment (top-3 centroids per vector) on the maximin
    // seed set; measured 0.81 at nprobe 3 of 16 on this corpus (r12's
    // single-assign stride IVF read 0.62, and maximin WITHOUT spill reads
    // 0.35 — seeding alone cannot fix a near-isotropic corpus, catchment
    // can). Floor set under the measurement with one-hit slack (10
    // queries × 10 slots ⇒ 0.01 granularity).
    val emb = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val r = Similarity.recallAtK(
      Similarity.ivfTopK(emb), Similarity.bruteForceTopK(emb))
    info(f"spilled-IVF recall@10 vs brute force: $r%.3f")
    assert(r >= 0.75, f"recall@10 collapsed: $r%.3f")
  }

  test("kmeans-IVF recall@k against brute force stays above the pinned floor") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val exact = Similarity.bruteForceTopK(emb)
    val ivf = Similarity.kmeansIvfTopK(emb)
    val r = Similarity.recallAtK(ivf, exact)
    info(f"kmeans-IVF recall@10 vs brute force: $r%.3f")
    // floor pinned from measurement (r13: 0.91 with spilled top-3
    // assignment, up from 0.62 single-assign); nprobe=3 of 16 clusters ×
    // spill 3 reads ≈ 46% of the corpus per query — recall well above
    // that catchment is the index actually working
    assert(r >= 0.8, f"recall@10 collapsed: $r%.3f")
    // the persisted index must serve the SAME pipeline (recall identical)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfrecall").toString
    Similarity.buildKmeansIvfIndex(emb, path)
    val queries = spark.read.parquet(s"$path/assign")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("qvec").as("probe_vec"),
        col("qnorm").as("probe_norm"))
    val servedRecall = Similarity.recallAtK(
      Similarity.queryKmeansIvfIndex(spark, path, queries), exact)
    assert(math.abs(servedRecall - r) < 1e-9,
      f"persisted-index recall $servedRecall%.3f != in-memory $r%.3f")
  }

  test("ensureFresh: no-op while fresh, auto-retrains on drift, recall recovers") {
    val emb = Tables.load(spark, TestSpark.Sf0001, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("graft_ivffresh").toString
    // first call on a missing index trains it
    assert(Similarity.ensureFresh(emb, path), "missing index must build")
    def indexQueries() = spark.read.parquet(s"$path/assign")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("qvec").as("probe_vec"),
        col("qnorm").as("probe_norm"))
    val preDrift = Similarity.recallAtK(
      Similarity.queryKmeansIvfIndex(spark, path, indexQueries()),
      Similarity.bruteForceTopK(emb))
    // fresh index: the second call is a metadata-only no-op
    val centsBefore = spark.read.parquet(s"$path/centroids")
      .orderBy("cent_id").collect().map(_.toString).toSeq
    assert(!Similarity.ensureFresh(emb, path), "fresh index must not retrain")
    assert(spark.read.parquet(s"$path/centroids").orderBy("cent_id")
      .collect().map(_.toString).toSeq == centsBefore)
    // drift: append NEGATED vectors (the opposite cosine mode — data the
    // training never saw) at 100% of the trained base, tripping staleness
    val drifted = emb.select((col("vec_id") + 9000000L).as("vec_id"),
      expr("transform(embedding, x -> -x)").as("embedding"), col("label"))
    Similarity.appendToKmeansIvfIndex(drifted, path)
    assert(Similarity.kmeansIvfIndexStale(spark, path))
    val corpus2 = emb.unionByName(drifted)
    // the retrain benefit is measured on the SAME grown corpus: frozen
    // original-trained centroids serving the two-mode data vs retrained
    // ones (pre-drift recall is NOT the bar — the corpus doubled under
    // fixed nprobe/nCentroids, so the probed fraction halved)
    val exact2 = Similarity.bruteForceTopK(corpus2)
    val frozenRecall = Similarity.recallAtK(
      Similarity.queryKmeansIvfIndex(spark, path, indexQueries()), exact2)
    assert(Similarity.ensureFresh(corpus2, path), "stale index must retrain")
    assert(!Similarity.kmeansIvfIndexStale(spark, path),
      "retrain did not reset the staleness baseline")
    val postRetrain = Similarity.recallAtK(
      Similarity.queryKmeansIvfIndex(spark, path, indexQueries()), exact2)
    info(f"recall@10 pre-drift $preDrift%.3f, frozen-on-drifted " +
      f"$frozenRecall%.3f -> post-retrain $postRetrain%.3f")
    // r13: spilled assignment keeps even FROZEN centroids serviceable on
    // drifted data (top-3 cells catch the negated mode), so the
    // frozen-vs-retrained recall gap sits inside this tiny fixture's
    // noise (~0.05 at tens of hit slots). The lifecycle contract — trip,
    // retrain, baseline reset, serve — is asserted exactly above; the
    // recall comparison keeps one-sided noise slack.
    assert(postRetrain >= frozenRecall - 0.1,
      f"retrain collapsed recall: $postRetrain%.3f << $frozenRecall%.3f")
  }

  test("curate_corpus: gate, exact dedup, near dedup, and split compose") {
    val docs = Tables.load(spark, TestSpark.Sf0001, "documents")
    val planted = graft.ops.Curation.withPlantedDups(docs)
    val out = graft.ops.Curation.curate(planted).collect()
    assert(out.nonEmpty)
    // columns: lang, split, n_docs, dups_removed, near_dups_removed,
    //          sum_tokens, avg_quality
    val nKept = out.map(_.getLong(2)).sum
    val exactDups = out.map(_.getLong(3)).sum
    val nearRemoved = out.map(_.getLong(4)).sum
    // independent recomputation of the gate + exact-stage group count
    val gated = graft.ops.TextAnalysis.qualityScores(
        planted.select(col("doc_id"), col("text"), col("lang")),
        keep = Seq("lang", "text"))
      .filter(col("n_tokens").between(20, 2000) && col("quality_score") >= 0.5)
    val gatedGroups = gated.groupBy("text").count()
    val gatedSources = gated.filter(col("doc_id") < 1000000L).count()
    val gatedNear = gated.filter(col("doc_id") >= 2000000L).count()
    // conservation: every exact-stage group is either kept or near-removed
    assert(nKept + nearRemoved == gatedGroups.count(),
      s"kept $nKept + near-removed $nearRemoved != groups ${gatedGroups.count()}")
    // every gated near-copy pairs with its (lower-id) source -> removed;
    // genuine source-source pairs may remove a few sources beyond that
    assert(nearRemoved >= gatedNear,
      s"near-removed $nearRemoved < planted gated near-copies $gatedNear")
    assert(nKept <= gatedSources,
      "a planted near-copy survived the near-dedup stage")
    // exact copies share their source's gate verdict, so each KEPT source
    // accounts for exactly one removed exact copy
    assert(exactDups == nKept, s"dups_removed $exactDups != n_docs $nKept")
    assert(out.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    // quality average is a real number in (0, 1]
    out.foreach(r => assert(r.getDouble(6) > 0 && r.getDouble(6) <= 1.0))
  }

  test("a repeated curate call reads its own cached kept set and signatures") {
    // the harness and the bench repeat identical ops, so each call persists
    // the plans the previous call persisted; releasing the previous call's
    // caches must not drop the new ones
    val planted = graft.ops.Curation.withPlantedDups(
      Tables.load(spark, TestSpark.Sf0001, "documents"))
    def cachedReads(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
      }.distinct.size
    val first = graft.ops.Curation.curate(planted)
    first.collect()
    val second = graft.ops.Curation.curate(planted)
    assert(second.collect().toSeq == first.collect().toSeq)
    // the kept set (read by the split) and the MinHash signatures (read
    // by the pair join-backs)
    assert(cachedReads(second) == 2)
    graft.ops.Curation.releaseCache()
  }

  test("PII scrub counts and redacts emails, IPs, and long digit runs") {
    val d = docs(
      1L -> "mail me at a.b+c@x-corp.io or 192.168.0.1 card 4111111111111111",
      2L -> "no pii here, just 12 words and version 1.2",
      3L -> "two mails x@y.de z@w.fr one ip 10.0.0.255")
    val got = graft.ops.TextAnalysis.scrubPii(d).collect()
    val r1 = got.find(_.getLong(0) == 1L).get
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((1L, 1L, 1L)))
    assert(r1.getString(4) ==
      "mail me at [EMAIL] or [IP] card [ID]")
    val r2 = got.find(_.getLong(0) == 2L).get
    assert((r2.getLong(1), r2.getLong(2), r2.getLong(3)) == ((0L, 0L, 0L)))
    assert(r2.getString(4).contains("version 1.2"), "1.2 is not an IP")
    val r3 = got.find(_.getLong(0) == 3L).get
    assert((r3.getLong(1), r3.getLong(2)) == ((2L, 1L)))
    assert(r3.getString(4) == "two mails [EMAIL] [EMAIL] one ip [IP]")
  }

  test("contamination flags exactly the documents containing benchmark n-grams") {
    // doc 1 quotes the benchmark verbatim mid-document, doc 2 shares a
    // 2-word overlap only (below the 3-gram window), doc 3 is clean
    val bench = docs(100L -> "the quick brown fox jumps")
    val corpus = docs(
      1L -> "prefix words then the quick brown fox jumps and a suffix tail",
      2L -> "quick brown cows sleep deeply under warm skies tonight",
      3L -> "completely unrelated sentence with no shared trigrams at all")
    val got = graft.ops.TextAnalysis.contamination(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "the quick brown fox jumps" = 3 trigrams, all present inside doc 1
    assert(got == Map(1L -> 3L), s"got $got")

    // the entry fixture: every benchmark-source document (doc_id %50 == 0
    // with a >=3-token 30% prefix) must come back flagged
    val entry = graft.ops.TextAnalysis.entries.toMap
      .apply("text_contamination")(spark, TestSpark.Sf0001)
      .collect().map(_.getLong(0)).toSet
    val expected = Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("doc_id") % 50 === 0)
      .filter(size(split(trim(expr(
        "substring(text, 1, greatest(cast(length(text) * 0.3 as int), 1))")), "\\s+")) >= 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.subsetOf(entry),
      s"benchmark sources not all flagged: missing ${expected -- entry}")
  }

  test("per-language top-k quality matches the window formulation") {
    val d = Tables.load(spark, TestSpark.Sf0001, "documents")
    val got = graft.ops.TextAnalysis.topQualityPerLang(d, k = 3)
      .as[(String, Int, Long, Double)].collect().toSeq
    // reference: full window ranking over the same scores
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val want = graft.ops.TextAnalysis.qualityScores(d, keep = Seq("lang"))
      .select(col("lang"), col("doc_id"), col("quality_score"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select("lang", "rank", "doc_id", "quality_score")
      .orderBy("lang", "rank")
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("multimodal decode is deterministic and batch-shaped") {
    val media = Multimodal.asMedia(Tables.load(spark, TestSpark.Sf0001, "documents"))
    val a = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)
    assert(a.length == 500)
    assert(a.zip(b).forall { case (x, y) => x.features.sameElements(y.features) })
    assert(a.forall(_.features.length == 8))
  }

  test("real image payloads decode through javax.imageio; others fall back") {
    // a 20x10 PNG: left half black, right half white -> known features
    val img = new java.awt.image.BufferedImage(20, 10,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 20)
      img.setRGB(x, y, if (x < 10) 0x000000 else 0xFFFFFF)
    val png = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      graft.ops.MediaRecord(1L, png, 999, 999, "png"), // metadata dims lie
      graft.ops.MediaRecord(2L, "not an image".getBytes("UTF-8"), 64, 64, "jpeg"))
      .toDF()
    val got = Multimodal.decodeFeatures(media).collect().sortBy(_.doc_id)

    val real = got(0)
    assert(real.decoded, "PNG payload must take the real codec path")
    // the decoder is authoritative over metadata for decoded images
    assert(real.width == 20 && real.height == 10)
    // quadrants 0/2 are the black half (lum 0), 1/3 the white half (lum 1)
    assert(math.abs(real.features(0) - 0.0f) < 1e-3)
    assert(math.abs(real.features(1) - 1.0f) < 1e-3)
    assert(math.abs(real.features(2) - 0.0f) < 1e-3)
    assert(math.abs(real.features(3) - 1.0f) < 1e-3)
    // mean RGB = 0.5 each; aspect = 10/20
    (4 to 6).foreach(i => assert(math.abs(real.features(i) - 0.5f) < 1e-3))
    assert(math.abs(real.features(7) - 0.5f) < 1e-6)

    val fake = got(1)
    assert(!fake.decoded, "non-image payload must take the digest fallback")
    assert(fake.width == 64 && fake.height == 64)
    assert(fake.features.length == 8)

    // a payload with a valid PNG signature but corrupt body must DEGRADE
    // to the digest, not fail the task (JDK readers throw more than
    // IOException on broken bytes)
    val corrupt = java.util.Arrays.copyOf(png, 40) // truncated mid-header
    val got2 = Multimodal.decodeFeatures(
      Seq(graft.ops.MediaRecord(3L, corrupt, 1, 1, "png")).toDF())
      .collect()
    assert(got2.length == 1 && !got2(0).decoded)
  }

  test("frame sampling emits every stride-th frame") {
    val media = Multimodal.asMedia(docs(7L -> "some text"))
    val frames = Multimodal.frameSample(media, stride = 10)
      .as[(Long, Int, Int)].collect()
    // doc 7: n_frames = 27 -> frames 0,10,20
    assert(frames.map(_._3).toSeq == Seq(0, 10, 20))
  }

  // ---- epoch corpus diff --------------------------------------------

  test("corpusDiff: added/removed/changed exactly, unchanged silent, self-diff empty") {
    val a = docs(1L -> "one", 2L -> "two", 3L -> "three")
    val b = docs(1L -> "one", 3L -> "three REVISED", 4L -> "four")
    val got = graft.ops.Profile.corpusDiff(a, b)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(2L -> "removed", 3L -> "changed", 4L -> "added"), got)
    assert(graft.ops.Profile.corpusDiff(a, a).count() == 0L)
    // identical text under a different id is a remove+add pair, not a
    // move: identity is the id, content equality alone never merges rows
    val moved = docs(9L -> "one")
    val mv = graft.ops.Profile.corpusDiff(docs(1L -> "one"), moved)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(mv == Seq(1L -> "removed", 9L -> "added"), mv)
  }

  // ---- sentence segmentation (r15) -----------------------------------

  test("sentence segmentation: enders, runs, CJK punctuation, enderless tail") {
    import graft.ops.TextAnalysis
    val got = TextAnalysis.sentences(docs(
      1L -> "One. Two!! Three?… wait no tail",
      2L -> "文は二つ。これも文！tail",
      3L -> "no enders at all",
      4L -> "   ",   // whitespace only: the tail trims to blank → no rows
      5L -> ""))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      .sortBy(t => (t._1, t._2))
    // doc 1: '…' is NOT an ender (not in the class), so it glues to the
    // following tail; '!!' is one run
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._3)) ==
      Seq((0L, "One."), (1L, "Two!!"), (2L, "Three?"), (3L, "… wait no tail")))
    assert(got.filter(_._1 == 2L).map(t => (t._2, t._3)) ==
      Seq((0L, "文は二つ。"), (1L, "これも文！"), (2L, "tail")))
    assert(got.filter(_._1 == 3L).map(t => (t._2, t._3)) ==
      Seq((0L, "no enders at all")))
    assert(!got.exists(t => t._1 == 4L || t._1 == 5L),
      "blank/empty docs must produce no sentence rows")
  }

  test("sent_pos is the raw extraction ordinal, stable under the blank filter") {
    import graft.ops.TextAnalysis
    // ' .' extracts as a blank-trimming element? no: ' .' keeps its ender
    // so it trims to '.'; a true blank element needs a whitespace-only
    // ENDERLESS tail, which can only be the LAST element — so positions
    // of kept sentences are always the contiguous raw ordinals except a
    // possibly-dropped final one
    val got = TextAnalysis.sentences(docs(1L -> "a. b?   "))
      .collect().map(r => (r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(got == Seq((0L, "a."), (1L, "b?")))
  }

  test("stripDuplicateSentences keeps canonical first occurrences, rebuilds in order") {
    import graft.ops.TextAnalysis
    val got = TextAnalysis.stripDuplicateSentences(docs(
      1L -> "Shared head. own alpha tail",
      2L -> "Shared head. own beta body! Shared head.",  // cross-doc AND a later repeat
      3L -> "Repeat me. Repeat me. middle bit",          // intra-doc repeat
      4L -> "Shared head."))                             // stripped to nothing
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      .sortBy(_._1)
    assert(got == Seq(
      // doc 1 owns the canonical 'Shared head.' (lowest (doc_id, pos))
      (1L, 2L, "Shared head. own alpha tail"),
      (2L, 1L, "own beta body!"),
      (3L, 2L, "Repeat me. middle bit"),
      // doc 4 lost its only sentence → absent
    ), got)
    spark.sharedState.cacheManager.clearCache()
  }

  test("chunkSentences: boundary assignment, oversized sentences, ordered rebuild") {
    import graft.ops.TextAnalysis
    // capacity 4: s0 (3 tok) → chunk 0; s1 (3 tok, cb=3) → chunk 0 ends?
    // no: chunk_id = ⌊cb/4⌋ → s1 cb=3 → chunk 0; s2 cb=6 → chunk 1 —
    // offset packing, a chunk may RUN PAST capacity but never splits a
    // sentence
    val got = TextAnalysis.chunkSentences(docs(
      1L -> "a b c. d e f. g h i.",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9. tail t"), capacity = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == Seq(
      (1L, 0L, 2L, 6L, "a b c. d e f."),
      (1L, 1L, 1L, 3L, "g h i."),
      // a 9-token sentence at cb=0 forms one OVERSIZED chunk 0; the tail
      // starts at cb=9 → chunk 2 (chunk 1 is legitimately empty — the
      // oversized sentence consumed its token span)
      (2L, 0L, 1L, 9L, "w1 w2 w3 w4 w5 w6 w7 w8 w9."),
      (2L, 2L, 1L, 2L, "tail t")), got)
  }

  test("chunkSentences plans ONE exchange: the rebuild reuses the window partitioning") {
    import graft.ops.TextAnalysis
    val plan = TextAnalysis.chunkSentences(TextAnalysis.plantSentences(
      Tables.load(spark, TestSpark.Sf0001, "documents")))
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 1,
      s"expected exactly 1 hash exchange (doc_id co-locates (doc_id, chunk_id)); got $n:\n" +
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("duplicateSentences: hash-count + reduced join-back equals the direct string group") {
    import graft.ops.TextAnalysis
    val corpus = docs(
      1L -> "Shared boilerplate. Unique alpha text",
      2L -> "Shared boilerplate. Unique beta text",
      3L -> "Shared boilerplate. Shared boilerplate. own tail",
      4L -> "nothing in common here")
    val got = TextAnalysis.duplicateSentences(corpus)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // 3 docs carry it; doc 3 twice → 4 occurrences
    assert(got == Seq(("Shared boilerplate.", 3L, 4L)))
    // the direct (test-scale) string formulation must agree
    val direct = TextAnalysis.sentences(corpus)
      .groupBy("sentence")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(direct == got)
  }
}
