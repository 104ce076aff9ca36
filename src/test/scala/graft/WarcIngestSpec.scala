package graft

import graft.sources.WarcIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

class WarcIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val CRLF = "\r\n"
  private def record(id: String, body: String, lang: String = "en",
      claimedOverride: Option[Int] = None, keep: Option[Int] = None): String = {
    val payload = s"HTTP/1.1 200 OK${CRLF}Content-Type: text/plain; charset=utf-8$CRLF" +
      s"X-Doc-Lang: $lang$CRLF$CRLF$body"
    val kept = keep.map(payload.substring(0, _)).getOrElse(payload)
    s"WARC/1.0${CRLF}WARC-Type: response$CRLF" +
      s"WARC-Target-URI: http://example.com/doc/$id$CRLF" +
      s"Content-Length: ${claimedOverride.getOrElse(payload.length)}$CRLF$CRLF" +
      kept + CRLF + CRLF
  }

  private def parse(archive: String) =
    WarcIngest.parseArchive(
      archive.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  test("well-formed records round-trip bodies byte-exactly, in order") {
    val rows = parse(record("1", "hello crawl world") + record("2", "", "fr"))
    assert(rows.map(r => (r.docId, r.text, r.lang)) ==
      Seq((Some(1L), "hello crawl world", "en"), (Some(2L), "", "fr")))
    assert(rows.forall(_.errorClass.isEmpty))
  }

  test("a truncated payload quarantines WITH its URI and does not consume the records after it") {
    val rows = parse(
      record("1", "first document body") +
        record("2", "damaged document body", keep = Some(10)) + // payload cut, length still claims full
        record("3", "third document body"))
    assert(rows.map(_.errorClass) == Seq("", "truncated", ""))
    assert(rows(1).targetUri == "http://example.com/doc/2") // headers survive payload damage
    assert(rows(2).docId.contains(3L) && rows(2).text == "third document body")
  }

  test("a well-formed payload may contain the record magic and the blank-line sequence") {
    // Content-Length-driven walk: neither the magic nor CRLFCRLF inside a
    // correctly-framed body may split the record (the naive resync-only
    // parser fails exactly here)
    val tricky = s"quote: WARC/1.0$CRLF header-ish$CRLF$CRLF tail"
    val rows = parse(record("7", tricky) + record("8", "after"))
    assert(rows.map(_.errorClass) == Seq("", ""))
    assert(rows(0).text == tricky, rows(0))
    assert(rows(1).docId.contains(8L))
  }

  test("a non-numeric document id is schema_mismatch, not silently dropped") {
    val rows = parse(record("id-9", "vendor drift body"))
    assert(rows.map(r => (r.errorClass, r.targetUri)) ==
      Seq(("schema_mismatch", "http://example.com/doc/id-9")))
  }

  test("overclaimed length at end-of-archive and junk lengths quarantine; leading garbage is skipped") {
    // record claims more bytes than the archive holds (cut-off upload tail)
    val cut = parse(record("1", "ok") + record("2", "tail", claimedOverride = Some(100000)))
    assert(cut.map(_.errorClass) == Seq("", "truncated"))
    // a record boundary preceded by clipped garbage from a previous archive
    val garbage = parse("clipped previous tail bytes" + record("4", "body"))
    assert(garbage.map(r => (r.docId, r.errorClass)) == Seq((Some(4L), "")))
    // unparsable Content-Length
    val junk = parse(
      s"WARC/1.0${CRLF}WARC-Target-URI: http://example.com/doc/5${CRLF}Content-Length: lots$CRLF$CRLF" +
        "x" + CRLF + CRLF + record("6", "fine"))
    assert(junk.map(_.errorClass) == Seq("truncated", ""))
    assert(junk(0).targetUri == "http://example.com/doc/5")
  }

  test("a Content-Length above 2^31 quarantines instead of wrapping to a small positive (r12 advice)") {
    // 2^32 + 2 would .toInt-wrap to 2 — if the wrapped value lined up with
    // a separator the damaged record would parse with a WRONG payload
    // boundary; the range check must quarantine it before narrowing
    val wrapped = parse(
      s"WARC/1.0${CRLF}WARC-Target-URI: http://example.com/doc/9$CRLF" +
        s"Content-Length: ${(1L << 32) + 2}$CRLF${CRLF}xy$CRLF$CRLF" + record("10", "fine"))
    assert(wrapped.map(_.errorClass) == Seq("truncated", ""))
    assert(wrapped(0).targetUri == "http://example.com/doc/9")
    assert(wrapped(1).docId.contains(10L))
    // negative claims are equally out of range
    val neg = parse(record("11", "body", claimedOverride = Some(-4)) + record("12", "ok"))
    assert(neg.map(_.errorClass) == Seq("truncated", ""))
  }

  // ------------------------------------------------- per-record gzip (r15)

  private def gzMember(payload: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    gz.finish(); gz.close()
    bos.toByteArray
  }

  test("gz: per-record members round-trip identically to the plain parse") {
    val records = Seq(record("1", "hello crawl world"),
      record("2", "second body", "fr"), record("3", ""))
    val gz = records.map(gzMember).reduce(_ ++ _)
    val plain = parse(records.mkString)
    val viaGz = WarcIngest.parseAnyArchive(gz)
    assert(viaGz == plain)
    assert(viaGz.map(_.docId) == Seq(Some(1L), Some(2L), Some(3L)))
  }

  test("gz: a flipped CRC trailer quarantines the member WITH its URI; neighbors survive") {
    val m2 = gzMember(record("2", "bit-rotted body"))
    m2(m2.length - 8) = (m2(m2.length - 8) ^ 0xFF).toByte
    val rows = WarcIngest.parseAnyArchive(
      gzMember(record("1", "fine")) ++ m2 ++ gzMember(record("3", "also fine")))
    assert(rows.map(_.errorClass) == Seq("", "gzip_member", ""))
    // the member inflated cleanly, so the URI recovered from the prefix —
    // but its content must NOT be admitted on a failed checksum
    assert(rows(1).targetUri == "http://example.com/doc/2" && rows(1).docId.isEmpty)
    assert(rows(2).docId.contains(3L))
  }

  test("gz: inter-member junk of ANY width is skipped — a magic 1 or 2 bytes ahead is found") {
    // regression (r15 review): the resync scan must start at p+1, not
    // p+magic-width — with 1 or 2 junk bytes between members, a wider
    // skip jumps PAST the next member's magic and silently loses the
    // record with no quarantine row. (Junk at file START instead changes
    // the per-file format sniff, a different path — inter-member junk is
    // the case that reaches gunzipMembers' leading-garbage branch.)
    for (junk <- Seq(Array(0x00.toByte), Array(0x41.toByte, 0x42.toByte),
      Array(0x41.toByte, 0x42.toByte, 0x43.toByte))) {
      val rows = WarcIngest.parseAnyArchive(
        gzMember(record("1", "before junk")) ++ junk ++
          gzMember(record("2", "after junk")) ++
          gzMember(record("3", "third")))
      assert(rows.map(_.docId) == Seq(Some(1L), Some(2L), Some(3L)),
        s"junk width ${junk.length}: lost a member")
      assert(rows(1).text == "after junk")
    }
  }

  test("clipped file start re-dispatches by a windowed magic sniff (gz, zst, plain)") {
    // r15: a transfer that lost its first bytes carries none of the three
    // magics at offset 0 — the dispatcher must sniff a prefix window
    // instead of silently feeding compressed bytes to the plain walk
    val gz = gzMember(record("1", "gz after clip")) ++ gzMember(record("2", "b"))
    val gzRows = WarcIngest.parseAnyArchive(Array(0x41.toByte, 0x42.toByte) ++ gz)
    assert(gzRows.map(_.docId) == Seq(Some(1L), Some(2L)),
      "clipped-start gz archive must recover both members")
    val zst = zstFrame(record("1", "zst after clip")) ++ zstFrame(record("2", "b"))
    val zstRows = WarcIngest.parseAnyArchive(Array(0x00.toByte) ++ zst)
    assert(zstRows.map(_.docId) == Seq(Some(1L), Some(2L)),
      "clipped-start zst archive must recover both frames")
    // a damaged PLAIN file whose early bytes are junk still routes plain
    // (the WARC magic inside the window wins over any compressed sniff)
    val plainRows = WarcIngest.parseAnyArchive(
      ("x" * 7 + record("3", "plain after clip")).getBytes("ISO-8859-1"))
    assert(plainRows.exists(_.docId.contains(3L)),
      "clipped-start plain archive must recover via the WARC magic")
    // r15 review: a plain file behind >window junk that SPELLS a gz magic
    // — the compressed walk recovers nothing intact, so the dispatcher
    // must fall back to the plain walk instead of losing every record
    val junk = new Array[Byte](1500)
    junk(40) = 0x1f.toByte; junk(41) = 0x8b.toByte; junk(42) = 8 // fake gz magic
    val fooled = WarcIngest.parseAnyArchive(
      junk ++ record("4", "plain past the sniff window").getBytes("ISO-8859-1"))
    assert(fooled.exists(r => r.docId.contains(4L) && r.errorClass.isEmpty),
      "false compressed magic in the window must not lose the plain records")
  }

  test("gz: a truncated member resyncs to the next member magic") {
    val m2 = gzMember(record("2", "cut off mid-stream and then some padding to compress"))
    val rows = WarcIngest.parseAnyArchive(
      gzMember(record("1", "fine")) ++ m2.take(m2.length / 2) ++
        gzMember(record("3", "fine after resync")))
    assert(rows.map(_.errorClass) == Seq("", "gzip_member", ""))
    assert(rows(2).docId.contains(3L) && rows(2).text == "fine after resync")
  }

  test("gz: FNAME/FCOMMENT/FEXTRA header fields skip per RFC 1952 (real-tool output)") {
    // hand-build a member with a filename + comment + extra field — the
    // layout `gzip <file>` and warc writers actually emit
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    val body = record("7", "named member").getBytes("ISO-8859-1")
    deflater.setInput(body); deflater.finish()
    val comp = new Array[Byte](body.length + 64)
    val n = deflater.deflate(comp)
    deflater.end()
    val crc = new java.util.zip.CRC32(); crc.update(body)
    val bb = java.nio.ByteBuffer.allocate(10 + 6 + 10 + 8 + n + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(0x1f.toByte); bb.put(0x8b.toByte); bb.put(8.toByte)
    bb.put((4 | 8 | 16).toByte) // FEXTRA | FNAME | FCOMMENT
    bb.putInt(0); bb.put(0.toByte); bb.put(0.toByte) // mtime, xfl, os
    bb.putShort(4.toShort); bb.put("xtra".getBytes) // FEXTRA: len + payload
    bb.put("file.warc".getBytes); bb.put(0.toByte) // FNAME, NUL-terminated
    bb.put("comment".getBytes); bb.put(0.toByte) // FCOMMENT
    bb.put(comp, 0, n)
    bb.putInt(crc.getValue.toInt); bb.putInt(body.length)
    val rows = WarcIngest.parseAnyArchive(bb.array())
    assert(rows.map(r => (r.docId, r.errorClass)) == Seq((Some(7L), "")))
  }

  test("gz: the expansion cap bounds a decompression bomb without OOM") {
    val bomb = gzMember("x" * 1000000) // 1 MB of repetition compresses tiny
    val members = WarcIngest.gunzipMembers(bomb, maxMemberBytes = 1 << 16)
    assert(members.size == 1 && !members.head.intact)
    assert(members.head.bytes.length <= (1 << 16) + 8192) // one buffer over at most
  }

  // ----------------------------------------------------- zstd frames (r15)

  private def zstFrame(payload: String, dict: Option[Array[Byte]] = None,
      checksum: Boolean = true): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    z.setChecksum(checksum)
    dict.foreach(z.setDict)
    z.write(payload.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    z.close()
    bos.toByteArray
  }

  test("zst: per-record frames round-trip identically to the plain parse") {
    val records = Seq(record("1", "hello zstd world"),
      record("2", "second body", "fr"), record("3", ""))
    val zst = records.map(zstFrame(_)).reduce(_ ++ _)
    assert(WarcIngest.parseAnyArchive(zst) == parse(records.mkString))
  }

  test("zst: a flipped trailing checksum quarantines WITH its URI; boundary needs no resync") {
    val f2 = zstFrame(record("2", "bit-rotted body"))
    f2(f2.length - 1) = (f2(f2.length - 1) ^ 0xFF).toByte
    val rows = WarcIngest.parseAnyArchive(
      zstFrame(record("1", "fine")) ++ f2 ++ zstFrame(record("3", "also fine")))
    assert(rows.map(_.errorClass) == Seq("", "zstd_frame", ""))
    assert(rows(1).targetUri == "http://example.com/doc/2" && rows(1).docId.isEmpty)
    assert(rows(2).docId.contains(3L) && rows(2).text == "also fine")
  }

  test("zst: the IIPC shared-dictionary layout — leading skippable ZDICT frame decodes the rest") {
    // train a real ZDICT over repetitive samples; dictionary-compressed
    // frames MUST fail without it and parse with it
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 4096)
    for (i <- 0 until 256)
      trainer.addSample(record(i.toString, s"sample body text $i").getBytes("ISO-8859-1"))
    val dict = trainer.trainSamples()
    val head = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    head.putInt(0x184D2A50); head.putInt(dict.length)
    val archive = head.array() ++ dict ++
      zstFrame(record("7", "dictionary-compressed"), Some(dict)) ++
      zstFrame(record("8", "also dictionary-compressed"), Some(dict))
    val rows = WarcIngest.parseAnyArchive(archive)
    assert(rows.map(r => (r.docId, r.errorClass)) ==
      Seq((Some(7L), ""), (Some(8L), "")))
    // without the dictionary frame the same data frames must NOT decode
    val noDict = WarcIngest.parseAnyArchive(
      zstFrame(record("7", "dictionary-compressed"), Some(dict)))
    assert(noDict.map(_.errorClass) == Seq("zstd_frame"))
  }

  test("zst: a truncated frame resyncs to the next frame magic") {
    val f2 = zstFrame(record("2", "cut off mid-frame with some padding to compress away"))
    val rows = WarcIngest.parseAnyArchive(
      zstFrame(record("1", "fine")) ++ f2.take(f2.length / 2) ++
        zstFrame(record("3", "fine after resync")))
    assert(rows.map(_.errorClass) == Seq("", "zstd_frame", ""))
    assert(rows(2).docId.contains(3L) && rows(2).text == "fine after resync")
  }

  test("zst: the expansion cap bounds a decompression bomb without OOM") {
    val bomb = zstFrame("x" * 1000000)
    val frames = WarcIngest.zstdFrames(bomb, maxFrameBytes = 1 << 16)
    assert(frames.size == 1 && !frames.head.intact)
    assert(frames.head.bytes.length <= (1 << 16) + 8192)
  }

  test("compression is transparent: plain, gz and zst drops yield IDENTICAL channels at the gate") {
    // the three staged drops plant the same content faults over the same
    // corpus; the valid channel AND the overlapping triage classes must
    // agree row-for-row — a reader that dropped, reordered or mutated one
    // record under one compression would diverge here
    val spark2 = spark
    import spark2.implicits._
    val dir = TestSpark.Sf0001
    val (vPlain, _) = WarcIngest.readWithQuarantine(spark,
      WarcIngest.ensureWarcDrop(spark, dir))
    val (vGz, qGz) = WarcIngest.readWithQuarantine(spark,
      WarcIngest.ensureWarcGzDrop(spark, dir))
    val (vZst, qZst) = WarcIngest.readWithQuarantine(spark,
      WarcIngest.ensureWarcZstDrop(spark, dir))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    // plain loses the 97s to payload truncation, gz/zst to compression
    // faults — the surviving valid sets are the same rows
    assert(rows(vGz) == rows(vZst))
    assert(rows(vPlain) == rows(vGz))
    // both compressed triage channels carry the same schema drift set
    def drift(df: org.apache.spark.sql.DataFrame) =
      df.filter($"error_class" === "schema_mismatch")
        .orderBy("target_uri").collect().toSeq
    assert(drift(qGz) == drift(qZst))
  }

  test("a valid row without a doc id fails the action instead of yielding a null doc_id") {
    import spark.implicits._
    val rows = Seq(
      WarcIngest.WarcRow(Some(1L), "kept", "en", "http://example.com/doc/1", ""),
      WarcIngest.WarcRow(None, "orphan", "en", "http://example.com/doc/x", "")).toDF()
    val err = intercept[Exception](WarcIngest.validChannel(rows).collect())
    assert(err.getMessage.contains("without a doc id"), err.getMessage)
    // the same channel over well-formed rows is untouched
    assert(WarcIngest.validChannel(rows.limit(1)).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  /** Round-robin exchanges anywhere in `df`'s physical plan, including
    * inside adaptive plans and the plans of cached relations it reads. */
  private def roundRobins(df: DataFrame): Seq[ShuffleExchangeExec] = {
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
        e +: walk(e.child)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def validRows(df: DataFrame) = df.collect().toSeq
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).sorted

  test("a one-archive drop is spread across defaultParallelism partitions, rows unchanged") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1, "the spread needs a multi-core session")
    val drop = WarcIngest.ensureWarcDrop(spark, TestSpark.Sf0001)
    val archives = new java.io.File(drop).listFiles().filter(_.getName.endsWith(".warc"))
    assert(archives.length == 1)
    val (valid, _) = WarcIngest.readWithQuarantine(spark, drop)
    assert(valid.rdd.getNumPartitions == cores)
    assert(roundRobins(valid).map(_.outputPartitioning.numPartitions) == Seq(cores))
    // the unspread read: the same archive parsed in one pass
    val unspread = WarcIngest.parseAnyArchive(java.nio.file.Files.readAllBytes(archives.head.toPath))
      .filter(_.errorClass.isEmpty)
      .map(r => (r.docId.get, r.text, r.lang, r.targetUri)).sorted
    assert(unspread.nonEmpty)
    assert(validRows(valid) == unspread)
  }

  test("a drop with at least defaultParallelism archives keeps one task per archive, no exchange") {
    val cores = spark.sparkContext.defaultParallelism
    val one = new java.io.File(WarcIngest.ensureWarcDrop(spark, TestSpark.Sf0001), "crawl.warc")
    val dir = java.nio.file.Files.createTempDirectory("warc_many")
    (0 until cores).foreach(i =>
      java.nio.file.Files.copy(one.toPath, dir.resolve(s"crawl_$i.warc")))
    val (valid, _) = WarcIngest.readWithQuarantine(spark, dir.toString)
    assert(roundRobins(valid).isEmpty, valid.queryExecution.executedPlan)
    assert(valid.rdd.getNumPartitions == cores)
    val (single, _) = WarcIngest.readWithQuarantine(spark, one.getParent)
    assert(validRows(valid) == validRows(single).flatMap(Seq.fill(cores)(_)).sorted)
  }
}
