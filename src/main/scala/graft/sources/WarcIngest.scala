package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (ISO 28500 / WARC/1.0) ingestion with a quarantine channel — the
  * arrival format of real web crawls (Common Crawl ships response records
  * exactly like these), one robustness tier below [[JsonlIngest]]: the
  * framing itself can be damaged (a cut-off upload truncates a payload
  * mid-record), so the parser must RESYNC on the record magic and
  * quarantine the damaged record without losing the records after it.
  *
  * Record shape parsed here (the response-record subset a text pipeline
  * consumes): WARC header block (`WARC/1.0` magic + headers, blank-line
  * terminated), a payload of exactly `Content-Length` bytes holding an
  * HTTP response (status line, headers, blank line, body = document
  * text), then the `\r\n\r\n` record separator.
  *
  * Scale shape: WARC files are NOT splittable mid-file (real archives
  * gzip per record; framing is not line-aligned), so the unit of
  * parallelism is the FILE — the crawl convention of ~1 GiB archives
  * means a 100 TB crawl is ~100k files, far above any executor count.
  * The read is `binaryFile` (one row per archive) and the parse is one
  * map-side pass per archive: no shuffle anywhere before the consumer's
  * own plan, unless there are fewer archives than cores (then one
  * round-robin spread, [[WarcIngest.parseRows]]). Memory is bounded by
  * one archive per task (the same bound the per-record-gzip layout
  * imposes on ANY reader). Framing contract:
  * the primary walk is Content-Length-driven (a WELL-FORMED payload may
  * contain anything, including the record magic); only when a record's
  * claimed length does not land on the `\r\n\r\n` separator does the
  * parser fall back to RESYNC — scan forward to the next `WARC/1.0\r\n`
  * magic, quarantine the damaged span, continue. A damaged record whose
  * own payload contains the magic resyncs into that payload and emits
  * garbage quarantine rows until the next true boundary — inherent to
  * magic-scan recovery; real crawls bound it with per-record gzip.
  */
object WarcIngest {

  private val Magic = "WARC/1.0\r\n"
  private val UriPrefix = "http://example.com/doc/"

  /** One parsed record: either a valid document row or a quarantined
    * record with the fault class (headers survive payload damage, so the
    * target URI is always recoverable). */
  private[graft] final case class WarcRow(
      docId: Option[Long], text: String, lang: String,
      targetUri: String, errorClass: String)

  /** Parse one archive's bytes into rows — executor-side, one pass.
    * ISO-8859-1 decode preserves bytes 1:1 so Content-Length validation
    * counts real bytes (the staged corpus is ASCII, where chars == bytes
    * under UTF-8 too). */
  private[graft] def parseArchive(bytes: Array[Byte]): Seq[WarcRow] = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRow]
    var pos = s.indexOf(Magic) // leading garbage (a clipped tail) is skipped
    while (pos >= 0 && pos < s.length) {
      val headerEnd = s.indexOf("\r\n\r\n", pos)
      // a claimed length that is negative or cannot possibly fit this
      // archive is framing damage — range-check BEFORE narrowing so a
      // > 2^31 claim cannot wrap to a small positive and sneak a damaged
      // record past the separator check with a wrong payload boundary
      val claimed =
        if (headerEnd < 0) None
        else header(s.substring(pos, headerEnd), "Content-Length")
          .flatMap(_.toLongOption)
          .filter(n => n >= 0 && n <= s.length.toLong)
      val payloadAt = headerEnd + 4
      // Long arithmetic end-to-end: the narrowing happens only once the
      // separator position is proven in-bounds
      val sepAtL = claimed.map(payloadAt.toLong + _)
      val wellFramed = headerEnd >= 0 && claimed.isDefined &&
        sepAtL.get + 4 <= s.length &&
        s.startsWith("\r\n\r\n", sepAtL.get.toInt) &&
        (sepAtL.get + 4 == s.length || s.startsWith(Magic, sepAtL.get.toInt + 4))
      if (wellFramed) {
        val sepAt = sepAtL.get.toInt
        out += parseWellFramed(s.substring(pos, headerEnd),
          s.substring(payloadAt, sepAt))
        pos = sepAt + 4
      } else {
        // framing damage: quarantine this span, resync to the next magic
        val resync = s.indexOf(Magic, pos + Magic.length)
        val headers =
          if (headerEnd >= 0 && (resync < 0 || headerEnd < resync))
            s.substring(pos, headerEnd)
          else s.substring(pos, if (resync < 0) s.length else resync)
        out += WarcRow(None, "", "",
          header(headers, "WARC-Target-URI").getOrElse(""), "truncated")
        pos = resync
      }
    }
    out.toSeq
  }

  // ------------------------------------------------- per-record gzip layer

  /** One decompressed gzip member: `intact` means the member's own CRC32
    * and ISIZE trailer verified over the inflated bytes — only intact
    * members' content is admitted to the valid channel. A damaged member
    * still carries whatever bytes inflated before the fault, because the
    * WARC headers live at the FRONT of the record and a recoverable
    * target URI turns an anonymous loss into an actionable quarantine
    * row. */
  private[graft] final case class GzMember(bytes: Array[Byte], intact: Boolean)

  /** Expansion cap per member (≈256 MB): a crafted tiny member claiming
    * gigabytes must not OOM the executor — the decompression-bomb guard,
    * same contract as [[graft.ops.Multimodal.MaxDecodePixels]]. */
  private[graft] val MaxMemberBytes: Long = 256L * 1024 * 1024

  /** Walk a multi-member gzip stream (RFC 1952) — the `.warc.gz` layout
    * real crawls ship, ONE record per member, because it makes damage
    * LOCAL: a corrupt member costs that record, not the archive tail.
    *
    * Per member: parse the fixed 10-byte header honoring the optional
    * FEXTRA/FNAME/FCOMMENT/FHCRC fields real gzip tools emit, inflate
    * (raw deflate), then verify the CRC32 + ISIZE trailer over the
    * output. Any fault — bad magic, truncated header or stream, inflate
    * error, trailer mismatch, expansion past [[MaxMemberBytes]] —
    * yields a non-intact member carrying the inflated prefix, then
    * RESYNC: scan forward for the next member magic (1F 8B 08), exactly
    * the record-magic recovery the plain-WARC walk uses. A clean
    * trailer mismatch (the common bit-rot case) costs NO scan — the
    * inflater's consumed count still delimits the member. */
  private[graft] def gunzipMembers(b: Array[Byte],
      maxMemberBytes: Long = MaxMemberBytes): Seq[GzMember] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GzMember]
    // +1, not the magic's width: in the leading-garbage branch `p` is NOT
    // a member start, and the next magic can sit at p+1/p+2 — a wider
    // skip would lose that member with no quarantine row. In the fault
    // branch `p` IS a magic, which the scan from p+1 cannot re-match.
    def resyncFrom(p: Int): Int = {
      var i = math.max(p, 0) + 1
      while (i + 2 < b.length &&
        !(b(i) == 0x1f.toByte && b(i + 1) == 0x8b.toByte && b(i + 2) == 8)) i += 1
      if (i + 2 < b.length) i else b.length
    }
    var o = 0
    while (o + 10 <= b.length) {
      if (!(b(o) == 0x1f.toByte && b(o + 1) == 0x8b.toByte && b(o + 2) == 8)) {
        o = resyncFrom(o) // leading garbage / mid-archive junk
      } else {
        val flags = b(o + 3) & 0xff
        // skip optional header fields in RFC 1952 order
        var d = o + 10
        def skipZString(from: Int): Int = {
          var i = from
          while (i < b.length && b(i) != 0) i += 1
          i + 1
        }
        if ((flags & 4) != 0 && d + 2 <= b.length) // FEXTRA
          d += 2 + ((b(d) & 0xff) | ((b(d + 1) & 0xff) << 8))
        if ((flags & 8) != 0) d = skipZString(d) // FNAME
        if ((flags & 16) != 0) d = skipZString(d) // FCOMMENT
        if ((flags & 2) != 0) d += 2 // FHCRC
        if (d >= b.length) {
          out += GzMember(Array.empty, intact = false)
          o = b.length
        } else {
          val inf = new java.util.zip.Inflater(true)
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var fault = false
          try {
            inf.setInput(b, d, b.length - d)
            while (!inf.finished() && !fault) {
              val n = inf.inflate(tmp)
              if (n > 0) buf.write(tmp, 0, n)
              // 0 without finished = truncated stream (needsInput) or a
              // preset-dictionary demand no gzip stream can make — fault
              else if (!inf.finished()) fault = true
              if (buf.size.toLong > maxMemberBytes) fault = true // bomb guard
            }
          } catch {
            case _: java.util.zip.DataFormatException => fault = true
          }
          if (fault) {
            out += GzMember(buf.toByteArray, intact = false)
            o = resyncFrom(o)
          } else {
            val trailerAt = d + inf.getBytesRead.toInt
            if (trailerAt + 8 > b.length) {
              out += GzMember(buf.toByteArray, intact = false)
              o = b.length // trailer clipped: nothing to resync into
            } else {
              val member = buf.toByteArray
              val crc = new java.util.zip.CRC32()
              crc.update(member)
              def le32(p: Int): Long = (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
                ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
              val intact = le32(trailerAt) == crc.getValue &&
                le32(trailerAt + 4) == (member.length.toLong & 0xffffffffL)
              out += GzMember(member, intact)
              o = trailerAt + 8
            }
          }
          inf.end()
        }
      }
    }
    out.toSeq
  }

  /** Parse a `.warc.gz` archive: intact members parse through the plain
    * walk (one record per member in the crawl convention, but nothing
    * assumes it — a member holding several records parses them all);
    * damaged members are quarantined with a best-effort URI recovered
    * from the inflated prefix (headers live at the record front), and
    * their CONTENT is never admitted — a failed integrity check means
    * nothing in the member is trustworthy. */
  private[graft] def parseGzArchive(bytes: Array[Byte]): Seq[WarcRow] =
    gunzipMembers(bytes).flatMap { m =>
      if (m.intact) parseArchive(m.bytes)
      else {
        val s = new String(m.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        val headerEnd = s.indexOf("\r\n\r\n")
        val headers = if (headerEnd >= 0) s.substring(0, headerEnd) else s
        Seq(WarcRow(None, "", "",
          header(headers, "WARC-Target-URI").getOrElse(""), "gzip_member"))
      }
    }

  // ---------------------------------------------------- zstd frame layer

  /** RFC 8878 magics, little-endian: one data-frame value, sixteen
    * skippable values (low nibble free). The IIPC `.warc.zst` convention
    * compresses one record per data frame and MAY lead with a skippable
    * frame holding a shared ZDICT dictionary (small records compress
    * poorly without one). */
  private val ZstdDataMagic = 0xFD2FB528
  private def zstdSkippable(m: Int): Boolean = (m & 0xFFFFFFF0) == 0x184D2A50
  private val ZdictMagic = 0xEC30A437

  private def le32i(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** One decompressed zstd data frame; same contract as [[GzMember]]:
    * `intact` = the frame decoded to its end (including the optional
    * XXH64 content checksum zstd validates last), non-intact frames
    * carry whatever decoded before the fault — for a corrupt trailing
    * checksum that is the WHOLE record, so the URI recovers. */
  private[graft] final case class ZstFrame(bytes: Array[Byte], intact: Boolean)

  /** Walk a `.warc.zst` archive's frames: skippable frames are skipped
    * by their declared size (a LEADING one whose payload bears the ZDICT
    * magic becomes the decompression dictionary for the data frames, per
    * the IIPC convention); each data frame streams through
    * [[com.github.luben.zstd.ZstdInputStream]] under the same
    * [[MaxMemberBytes]] bomb cap; any fault degrades that frame and
    * RESYNCs to the next recognizable magic. */
  private[graft] def zstdFrames(b: Array[Byte],
      maxFrameBytes: Long = MaxMemberBytes): Seq[ZstFrame] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ZstFrame]
    var dict: Array[Byte] = null
    def resyncFrom(p: Int): Int = {
      var i = math.max(p, 0) + 1
      while (i + 4 <= b.length && {
        val m = le32i(b, i); m != ZstdDataMagic && !zstdSkippable(m)
      }) i += 1
      if (i + 4 <= b.length) i else b.length
    }
    var o = 0
    while (o + 4 <= b.length) {
      val magic = le32i(b, o)
      if (zstdSkippable(magic)) {
        if (o + 8 > b.length) o = b.length
        else {
          val size = le32i(b, o + 4).toLong & 0xffffffffL
          if (o + 8 + size > b.length) o = b.length // clipped skippable
          else {
            // a leading dictionary rides the first skippable frame
            if (dict == null && out.isEmpty && size >= 8 &&
              le32i(b, o + 8) == ZdictMagic)
              dict = java.util.Arrays.copyOfRange(b, o + 8, (o + 8 + size).toInt)
            o = (o + 8 + size).toInt
          }
        }
      } else if (magic == ZstdDataMagic) {
        val remaining = b.length - o
        // frame extent from the block headers (no decompression; on a
        // TRUNCATED frame this walk can misread the following frame's
        // bytes as block headers and return a bogus extent, so the
        // boundary is only trusted below once a decode confirms it);
        // the decoder's input is BOUNDED to this extent because
        // ZstdInputStream otherwise decodes concatenated frames to EOF
        val fsize = com.github.luben.zstd.Zstd
          .findFrameCompressedSize(b, o, remaining)
        val bounded = !com.github.luben.zstd.Zstd.isError(fsize) &&
          fsize > 0 && fsize <= remaining
        val limit = if (bounded) fsize.toInt else remaining
        def decode(src: Array[Byte], off: Int, len: Int): (Array[Byte], Boolean) = {
          val in = new com.github.luben.zstd.ZstdInputStream(
            new java.io.ByteArrayInputStream(src, off, len))
          if (dict != null) in.setDict(dict)
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var fault = false
          try {
            var n = in.read(tmp)
            while (n >= 0 && !fault) {
              if (n > 0) buf.write(tmp, 0, n)
              if (buf.size.toLong > maxFrameBytes) fault = true // bomb guard
              else n = in.read(tmp)
            }
          } catch { case _: java.io.IOException => fault = true }
          finally in.close()
          (buf.toByteArray, !fault)
        }
        val (decoded, ok) = decode(b, o, limit)
        // salvage pass for quarantine triage: zstd validates the content
        // checksum before RELEASING output on small frames, so a
        // bit-rotted trailer yields no bytes at all — re-decode the
        // structurally-bounded frame with the RFC 8878 checksum flag
        // (frame-header-descriptor bit 2) cleared and the 4-byte trailer
        // dropped. Success recovers the record text for URI triage AND
        // proves the boundary; the content stays REFUSED (intact=false —
        // a failed integrity check means nothing in the frame is
        // trustworthy as DATA, but the fault row should name its record).
        val salvage: Option[Array[Byte]] =
          if (ok || !bounded || limit <= 9 || (b(o + 4) & 0x04) == 0) None
          else {
            val copy = java.util.Arrays.copyOfRange(b, o, o + limit - 4)
            copy(4) = (copy(4) & ~0x04).toByte
            val (sBytes, sOk) = decode(copy, 0, copy.length)
            if (sOk) Some(sBytes) else None
          }
        out += ZstFrame(salvage.getOrElse(decoded), intact = ok)
        // the extent is trusted only when a decode (or salvage) ran it
        // clean; otherwise scan for the next recognizable magic
        o = if (bounded && (ok || salvage.isDefined)) o + limit
        else resyncFrom(o)
      } else o = resyncFrom(o)
    }
    out.toSeq
  }

  /** Parse a `.warc.zst` archive — the zstd twin of [[parseGzArchive]],
    * same quarantine contract (best-effort URI from the decoded prefix,
    * content never admitted from a frame that failed to verify). */
  private[graft] def parseZstArchive(bytes: Array[Byte]): Seq[WarcRow] =
    zstdFrames(bytes).flatMap { f =>
      if (f.intact) parseArchive(f.bytes)
      else {
        val s = new String(f.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        val headerEnd = s.indexOf("\r\n\r\n")
        val headers = if (headerEnd >= 0) s.substring(0, headerEnd) else s
        Seq(WarcRow(None, "", "",
          header(headers, "WARC-Target-URI").getOrElse(""), "zstd_frame"))
      }
    }

  /** Sniff-dispatched parse: a gzip magic routes to the member walk, a
    * zstd data/skippable magic to the frame walk, anything else to the
    * plain walk — one code path serves mixed archive directories and
    * the streaming twin unchanged. */
  private[graft] def parseAnyArchive(bytes: Array[Byte]): Seq[WarcRow] = {
    def gzMagicAt(p: Int): Boolean = p + 2 < bytes.length &&
      bytes(p) == 0x1f.toByte && bytes(p + 1) == 0x8b.toByte && bytes(p + 2) == 8
    def zstMagicAt(p: Int): Boolean = p + 4 <= bytes.length && {
      val m = le32i(bytes, p); m == ZstdDataMagic || zstdSkippable(m)
    }
    if (gzMagicAt(0)) parseGzArchive(bytes)
    else if (zstMagicAt(0)) parseZstArchive(bytes)
    else if (new String(bytes, 0, math.min(bytes.length, Magic.length),
      java.nio.charset.StandardCharsets.ISO_8859_1).startsWith(Magic.take(5)))
      parseArchive(bytes)
    else {
      // CLIPPED FILE START (r15): none of the three magics at offset 0 —
      // a transfer that lost its first bytes. Sniff a bounded prefix
      // window and dispatch to whichever layout's magic appears first,
      // preferring the plain WARC magic (its resync recovers the most
      // from a damaged plain file, and compressed archives cannot carry
      // the literal header early outside stored-mode blocks); each
      // walk's own garbage resync then recovers every record after the
      // clip. The window can mis-sniff (junk bytes that happen to spell
      // a compressed magic in front of a plain file whose real header
      // sits past the window — r15 review), so a compressed verdict
      // that recovers ZERO intact records falls back to the plain walk
      // and keeps whichever answer carries intact rows; the richer
      // compressed quarantine (recovered URIs) is kept when neither
      // walk finds anything intact.
      val win = math.min(bytes.length, 1024)
      val warcAt = new String(bytes, 0, win,
        java.nio.charset.StandardCharsets.ISO_8859_1).indexOf(Magic)
      def intact(rows: Seq[WarcRow]): Boolean = rows.exists(_.errorClass.isEmpty)
      if (warcAt >= 0) parseArchive(bytes)
      else {
        val compressed =
          if ((0 until win).exists(gzMagicAt)) Some(parseGzArchive(bytes))
          else if ((0 until win).exists(zstMagicAt)) Some(parseZstArchive(bytes))
          else None
        compressed match {
          case Some(rows) if intact(rows) => rows
          case Some(rows) =>
            val plain = parseArchive(bytes)
            if (intact(plain)) plain else rows
          case None => parseArchive(bytes)
        }
      }
    }
  }

  private def header(block: String, name: String): Option[String] =
    block.linesWithSeparators
      .map(_.stripLineEnd).find(_.toLowerCase.startsWith(name.toLowerCase + ":"))
      .map(_.substring(name.length + 1).trim)

  private def parseWellFramed(headers: String, payload: String): WarcRow = {
    val uri = header(headers, "WARC-Target-URI").getOrElse("")
    val bodyAt = payload.indexOf("\r\n\r\n")
    val httpHeaders = if (bodyAt >= 0) payload.substring(0, bodyAt) else payload
    val body = if (bodyAt >= 0) payload.substring(bodyAt + 4) else ""
    val lang = header(httpHeaders, "X-Doc-Lang").getOrElse("")
    val docId =
      if (uri.startsWith(UriPrefix)) uri.substring(UriPrefix.length).toLongOption
      else None
    docId match {
      case Some(id) => WarcRow(Some(id), body, lang, uri, "")
      case None => WarcRow(None, "", "", uri, "schema_mismatch")
    }
  }

  /** Render one response record (staging side — shared framing constants
    * with the parser so the fixture and the parser can't drift apart). */
  private def renderRecord(docId: String, text: String, lang: String,
      truncatePayload: Boolean): String = {
    val body = s"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n" +
      s"X-Doc-Lang: $lang\r\n\r\n$text"
    val kept = if (truncatePayload) body.substring(0, body.length / 2) else body
    Magic +
      s"WARC-Type: response\r\n" +
      s"WARC-Target-URI: $UriPrefix$docId\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n" + // claimed = UNtruncated length
      kept + "\r\n\r\n"
  }

  /** Stage a deterministic WARC "crawl archive" derived from the sf dir's
    * documents table, with the SAME two planted corruption classes as the
    * JSONL drop —
    *  - every 97th document's payload TRUNCATED to half length while the
    *    header still claims the full Content-Length (a cut-off upload:
    *    framing damage the parser must resync across), and
    *  - every 89th (not also 97th) document's target URI carrying the
    *    STRING id "id-<n>" (vendor drift: a well-framed record whose
    *    identity fails the imposed LongType).
    * Driver-streamed single archive (test scale; the corpus is iterated,
    * never materialized), fingerprinted + atomically published like every
    * staged fixture. */
  def ensureWarcDrop(spark: SparkSession, sfDir: String): String = {
    val dir = graft.ops.Dedup.fingerprintedDir("graft-warc", "documents",
      sfDir + "v1", Seq(s"$sfDir/documents.parquet"))
    graft.ops.Dedup.stageAtomically(dir) { tmp =>
      tmp.mkdirs()
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(tmp, "crawl.warc")))
      try {
        val it = Tables.load(spark, sfDir, "documents")
          .select("doc_id", "text", "lang").orderBy("doc_id").toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          val id = r.getLong(0)
          val idStr = if (id % 97 != 0 && id % 89 == 0) s"id-$id" else id.toString
          out.write(renderRecord(idStr, r.getString(1), r.getString(2),
            truncatePayload = id % 97 == 0)
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
        }
      } finally out.close()
    }
  }

  /** Stage the `.warc.gz` twin of [[ensureWarcDrop]] — the layout real
    * crawls actually ship (one gzip member per record). Planted faults:
    *  - every 97th document's member has its CRC trailer byte flipped —
    *    the bit-rot case: the member inflates cleanly (so the walk needs
    *    no resync and the URI recovers from the prefix) but integrity
    *    fails, and the record must be QUARANTINED, never admitted on a
    *    bad checksum;
    *  - every 89th (not also 97th) document keeps the string-id vendor
    *    drift INSIDE an intact member (content-level faults survive the
    *    compression layer unchanged). */
  def ensureWarcGzDrop(spark: SparkSession, sfDir: String): String = {
    val dir = graft.ops.Dedup.fingerprintedDir("graft-warcgz", "documents",
      sfDir + "v1", Seq(s"$sfDir/documents.parquet"))
    graft.ops.Dedup.stageAtomically(dir) { tmp =>
      tmp.mkdirs()
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(tmp, "crawl.warc.gz")))
      try {
        val it = Tables.load(spark, sfDir, "documents")
          .select("doc_id", "text", "lang").orderBy("doc_id").toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          val id = r.getLong(0)
          val idStr = if (id % 97 != 0 && id % 89 == 0) s"id-$id" else id.toString
          val record = renderRecord(idStr, r.getString(1), r.getString(2),
            truncatePayload = false)
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(record); gz.finish(); gz.close()
          val member = bos.toByteArray
          if (id % 97 == 0) // flip a CRC trailer byte: inflates, fails check
            member(member.length - 8) = (member(member.length - 8) ^ 0xFF).toByte
          out.write(member)
        }
      } finally out.close()
    }
  }

  /** Stage the `.warc.zst` twin (IIPC warc-specifications layout): a
    * LEADING skippable frame carrying a shared ZDICT dictionary trained
    * over the corpus's own records (small records compress poorly
    * without one — the reason the convention exists), then one
    * checksummed data frame per record compressed WITH that dictionary.
    * Training degrades to a dictionary-less archive when the corpus is
    * too small/uniform for ZDICT (the reader handles both layouts).
    * Planted faults mirror the gz drop: every 97th record's trailing
    * checksum byte flipped (decodes fully, fails verification → URI
    * recovers, content refused), every 89th (not 97th) the in-record
    * string-id drift. */
  def ensureWarcZstDrop(spark: SparkSession, sfDir: String): String = {
    val dir = graft.ops.Dedup.fingerprintedDir("graft-warczst", "documents",
      sfDir + "v1", Seq(s"$sfDir/documents.parquet"))
    graft.ops.Dedup.stageAtomically(dir) { tmp =>
      tmp.mkdirs()
      def docs() = Tables.load(spark, sfDir, "documents")
        .select("doc_id", "text", "lang").orderBy("doc_id").toLocalIterator()
      def render(r: org.apache.spark.sql.Row): (Long, Array[Byte]) = {
        val id = r.getLong(0)
        val idStr = if (id % 97 != 0 && id % 89 == 0) s"id-$id" else id.toString
        (id, renderRecord(idStr, r.getString(1), r.getString(2),
          truncatePayload = false)
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      }
      // pass 1: bounded sample feed for the dictionary trainer
      val trainer = new com.github.luben.zstd.ZstdDictTrainer(4 << 20, 16 << 10)
      var sampled = 0
      val it0 = docs()
      while (it0.hasNext && sampled < 1024) {
        trainer.addSample(render(it0.next())._2); sampled += 1
      }
      val dict: Option[Array[Byte]] =
        try Some(trainer.trainSamples())
        catch { case _: com.github.luben.zstd.ZstdException => None }
      // pass 2: dictionary frame (if trained) + one frame per record
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(tmp, "crawl.warc.zst")))
      try {
        dict.foreach { d =>
          val h = java.nio.ByteBuffer.allocate(8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          h.putInt(0x184D2A50); h.putInt(d.length)
          out.write(h.array()); out.write(d)
        }
        val it = docs()
        while (it.hasNext) {
          val (id, record) = render(it.next())
          val bos = new java.io.ByteArrayOutputStream()
          val z = new com.github.luben.zstd.ZstdOutputStream(bos)
          z.setChecksum(true)
          dict.foreach(z.setDict)
          z.write(record); z.close()
          val frame = bos.toByteArray
          if (id % 97 == 0) // flip the checksum's last byte: bit rot
            frame(frame.length - 1) = (frame(frame.length - 1) ^ 0xFF).toByte
          out.write(frame)
        }
      } finally out.close()
    }
  }

  /** Parse every archive under `path`: (valid docs, quarantined records).
    * `binaryFile` read + one flatMap per archive — parallel across
    * archives, and spread across cores when there are fewer archives than
    * cores ([[parseRows]]). Plain, per-record-gzip and zstd-framed
    * archives are sniffed per file, so mixed directories read with one
    * call. */
  def readWithQuarantine(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) =
    parseChannels(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(path))

  /** The channel split over ANY DataFrame bearing archive bytes in a
    * `content` column — shared by the batch read above and the streaming
    * crawl twin's micro-batches, so the two arrival paths cannot drift
    * on framing or triage rules. Both channels read the persisted rows of
    * [[parseRows]]; a caller that must release that cache (a long-running
    * stream, [[graft.streaming.EventStreams.crawlChunks]]) calls
    * [[parseRows]] and [[channels]] itself and unpersists the rows. */
  def parseChannels(archives: DataFrame): (DataFrame, DataFrame) =
    channels(parseRows(archives))

  /** The parsed rows of every archive, persisted: one [[WarcRow]] per
    * record. The caller owns the cache and unpersists it after its last
    * action over either channel.
    *
    * Spread rule: an archive cannot be split, so the parse yields one
    * partition per archive (`binaryFile` reads one row per file). With
    * fewer archives than `defaultParallelism`, every narrow stage after the
    * parse (extraction, gates, hashing) would run as that many tasks while
    * the other cores idle; the rows are then round-robin repartitioned to
    * `defaultParallelism` before the persist. A drop with at least as many
    * archives as cores keeps the one-task-per-archive plan. The partition
    * count comes from the planned RDD, without running a job. */
  private[graft] def parseRows(archives: DataFrame): DataFrame = {
    val spark = archives.sparkSession
    import spark.implicits._
    val parsed = archives
      .select("content").as[Array[Byte]]
      .flatMap(parseAnyArchive _)
      .toDF()
    val cores = spark.sparkContext.defaultParallelism
    val spread =
      if (parsed.rdd.getNumPartitions < cores) parsed.repartition(cores)
      else parsed
    // r20: persist the parsed rows at the object boundary (the JSONL
    // bronze-sink pattern, JsonlIngest.readWithQuarantine) — without it the
    // presentation sort's range-sampling pass, and any consumer touching
    // both channels, re-ran the whole per-archive parse (a serial flatMap
    // over each archive's bytes). The channel split becomes a column
    // filter over the cached rows instead of a second object pipeline.
    spread.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** (valid, quarantine) channels over parsed rows. */
  private[graft] def channels(rows: DataFrame): (DataFrame, DataFrame) = {
    val quarantine = rows.filter(col("errorClass") =!= "")
      .select(col("targetUri").as("target_uri"),
        col("errorClass").as("error_class"))
    (validChannel(rows), quarantine)
  }

  /** The valid channel of parsed rows. The parser quarantines every record
    * without a doc id, so a valid row with a null `docId` is a parser bug:
    * it fails the action instead of leaking a null `doc_id` into the
    * downstream dedup and join keys. */
  private[graft] def validChannel(rows: DataFrame): DataFrame =
    rows.filter(col("errorClass") === "")
      .select(
        when(col("docId").isNull,
          raise_error(lit("WARC parser emitted a valid row without a doc id")))
          .otherwise(col("docId")).as("doc_id"),
        col("text"), col("lang"), col("targetUri").as("target_uri"))

  val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // the valid channel: full text round-trips the HTTP payload, so the
    // oracle hash-checks the body extraction, not just the framing
    "ingest_warc" -> ((s, d) => {
      val (valid, _) = readWithQuarantine(s, ensureWarcDrop(s, d))
      valid.orderBy("doc_id")
    }),
    // the triage channel: per damaged record, the recovered URI and the
    // fault class — truncation must NOT consume the records after it
    // (resync), which the oracle checks by exact row set
    "ingest_warc_triage" -> ((s, d) => {
      val (_, quarantine) = readWithQuarantine(s, ensureWarcDrop(s, d))
      quarantine.orderBy("target_uri")
    }),
    // r15: the per-record-gzip layout real crawls ship — intact members'
    // full text round-trips through inflate + CRC + the plain walk
    "ingest_warc_gz" -> ((s, d) => {
      val (valid, _) = readWithQuarantine(s, ensureWarcGzDrop(s, d))
      valid.orderBy("doc_id")
    }),
    // CRC-flipped members quarantine WITH their recovered URI (bit rot
    // is actionable, not anonymous); vendor drift inside intact members
    // still triages at the content tier
    "ingest_warc_gz_triage" -> ((s, d) => {
      val (_, quarantine) = readWithQuarantine(s, ensureWarcGzDrop(s, d))
      quarantine.orderBy("target_uri")
    }),
    // r15: the zstd-framed twin with the IIPC shared-dictionary layout
    "ingest_warc_zst" -> ((s, d) => {
      val (valid, _) = readWithQuarantine(s, ensureWarcZstDrop(s, d))
      valid.orderBy("doc_id")
    }),
    "ingest_warc_zst_triage" -> ((s, d) => {
      val (_, quarantine) = readWithQuarantine(s, ensureWarcZstDrop(s, d))
      quarantine.orderBy("target_uri")
    }),
  )

  /** The planting rule is pure SQL over documents, so both oracles
    * reconstruct the expected channels without touching the file. */
  val oracle: Seq[(String, String)] = Seq(
    "ingest_warc" ->
      s"""SELECT doc_id, text, lang,
         |       '$UriPrefix' || CAST(doc_id AS VARCHAR) AS target_uri
         |FROM documents
         |WHERE doc_id % 97 != 0 AND doc_id % 89 != 0
         |ORDER BY doc_id""".stripMargin,
    "ingest_warc_triage" ->
      s"""SELECT '$UriPrefix' ||
         |       CASE WHEN doc_id % 97 != 0 AND doc_id % 89 = 0
         |            THEN 'id-' || CAST(doc_id AS VARCHAR)
         |            ELSE CAST(doc_id AS VARCHAR) END AS target_uri,
         |       CASE WHEN doc_id % 97 = 0 THEN 'truncated'
         |            ELSE 'schema_mismatch' END AS error_class
         |FROM documents
         |WHERE doc_id % 97 = 0 OR doc_id % 89 = 0
         |ORDER BY target_uri""".stripMargin,
    // gz: the valid set matches the plain drop's (the two fault classes
    // remove the same docs), which pins that compression adds NOTHING to
    // the content path; triage differs — the 97s are now gzip-layer
    // faults with a recovered numeric URI
    "ingest_warc_gz" ->
      s"""SELECT doc_id, text, lang,
         |       '$UriPrefix' || CAST(doc_id AS VARCHAR) AS target_uri
         |FROM documents
         |WHERE doc_id % 97 != 0 AND doc_id % 89 != 0
         |ORDER BY doc_id""".stripMargin,
    "ingest_warc_gz_triage" ->
      s"""SELECT '$UriPrefix' ||
         |       CASE WHEN doc_id % 97 = 0 THEN CAST(doc_id AS VARCHAR)
         |            ELSE 'id-' || CAST(doc_id AS VARCHAR) END AS target_uri,
         |       CASE WHEN doc_id % 97 = 0 THEN 'gzip_member'
         |            ELSE 'schema_mismatch' END AS error_class
         |FROM documents
         |WHERE doc_id % 97 = 0 OR doc_id % 89 = 0
         |ORDER BY target_uri""".stripMargin,
    // zst: same structure as gz — dictionary compression must add
    // NOTHING to the content path, and the bit-rot class surfaces with
    // recovered URIs under its own fault name
    "ingest_warc_zst" ->
      s"""SELECT doc_id, text, lang,
         |       '$UriPrefix' || CAST(doc_id AS VARCHAR) AS target_uri
         |FROM documents
         |WHERE doc_id % 97 != 0 AND doc_id % 89 != 0
         |ORDER BY doc_id""".stripMargin,
    "ingest_warc_zst_triage" ->
      s"""SELECT '$UriPrefix' ||
         |       CASE WHEN doc_id % 97 = 0 THEN CAST(doc_id AS VARCHAR)
         |            ELSE 'id-' || CAST(doc_id AS VARCHAR) END AS target_uri,
         |       CASE WHEN doc_id % 97 = 0 THEN 'zstd_frame'
         |            ELSE 'schema_mismatch' END AS error_class
         |FROM documents
         |WHERE doc_id % 97 = 0 OR doc_id % 89 = 0
         |ORDER BY target_uri""".stripMargin,
  )
}
