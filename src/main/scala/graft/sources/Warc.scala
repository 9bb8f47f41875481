package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One parsed WARC record (or one isolated parse failure). `payload` is
  * the raw record block — null on error rows; `skipped_bytes` counts the
  * bytes consumed while resynchronizing past a corrupt region. */
case class WarcRecord(
    path: String,
    rec_idx: Int,
    warc_type: String,
    record_id: String,
    target_uri: String,
    warc_date: String,
    content_type: String,
    content_length: Long,
    payload: Array[Byte],
    error: String,
    skipped_bytes: Long)

/** WARC (Web ARChive, ISO 28500) source — the Common-Crawl ingestion
  * format, and the de-facto standard container for LLM pretraining web
  * corpora. The reference ingests documents one file per record via a
  * directory walk (participants/implementations.kt:334-341); a crawl at
  * 100 TB ships instead as ~1 GB WARC segments, each a concatenation of
  * framed records:
  *
  *   WARC/1.0\r\n
  *   WARC-Type: response\r\n
  *   WARC-Record-ID: <urn:...>\r\n
  *   WARC-Date: ...\r\n
  *   WARC-Target-URI: http://...\r\n
  *   Content-Type: text/plain\r\n
  *   Content-Length: N\r\n
  *   \r\n
  *   <N payload bytes>\r\n\r\n
  *
  * `.warc.gz` files are a concatenation of per-record (or per-run) gzip
  * members; `GZIPInputStream` consumes multi-member streams natively.
  *
  * Scale posture: the FILE is the parallelism unit — the `binaryFile`
  * source distributes the listing and ships each segment's bytes straight
  * to one task; records stream out of a per-file iterator (no
  * whole-file record list is ever materialized) and payload bytes never
  * visit the driver. Gzip members are not offset-splittable, which is
  * exactly why crawl archives ship as many ~1 GB segments — at 100 TB
  * that is ~100k files, far above any realistic executor count, so
  * per-file granularity saturates the cluster. Inflation is streamed
  * per MEMBER (Common Crawl writes one member per record): peak task
  * heap is compressed segment + ONE inflated member + a bounded carry
  * for records spanning members — never the whole inflated segment.
  * A single member inflating past `maxMemberBytes` (default 1 GiB) and
  * a record outgrowing `maxCarryBytes` (default 64 MiB) each degrade to
  * one error row, not an OOM. Corrupt regions degrade to `error` rows
  * with resynchronization to the next record marker (the A19 isolation
  * posture): at crawl scale some fraction of any archive IS damaged,
  * and one bad record must cost bytes, not the job.
  */
object Warc {

  private val Crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Lets a per-record GZIPOutputStream be close()d (releasing its native
    * Deflater) without closing the shared shard file stream. */
  private final class CloseShield(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }
  private val VersionPrefix = "WARC/1.".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // ---------------------------------------------------------------- writer

  /** Serialize one record. The parser must invert this exactly. */
  def writeRecord(out: java.io.OutputStream, warcType: String, recordId: String,
      targetUri: String, warcDate: String, contentType: String,
      payload: Array[Byte], versionLine: String = "WARC/1.0"): Unit = {
    val h = new StringBuilder
    h.append(versionLine).append("\r\n")
    h.append("WARC-Type: ").append(warcType).append("\r\n")
    h.append("WARC-Record-ID: ").append(recordId).append("\r\n")
    h.append("WARC-Date: ").append(warcDate).append("\r\n")
    if (targetUri != null) h.append("WARC-Target-URI: ").append(targetUri).append("\r\n")
    h.append("Content-Type: ").append(contentType).append("\r\n")
    h.append("Content-Length: ").append(payload.length).append("\r\n")
    h.append("\r\n")
    out.write(h.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(payload)
    out.write(Crlf); out.write(Crlf)
  }

  // ---------------------------------------------------------------- parser

  private def isGzip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b

  /** Inflate ONE gzip member starting at `pos`, appending to `out`.
    * The member loop is hand-rolled on Inflater (RFC 1952 header/trailer
    * parse + RFC 1951 raw deflate) because JDK GZIPInputStream swallows a
    * malformed next-member header as end-of-stream, silently dropping
    * every later member. Returns the offset just past the member's
    * trailer, -1 when the member is malformed (header, deflate stream,
    * CRC, or length), or -2 when its inflated size exceeds `maxOut`
    * (the cap that turns a pathological member into an error row rather
    * than an executor OOM / 2 GiB array failure). */
  private def parseMember(raw: Array[Byte], pos: Int,
      out: java.io.ByteArrayOutputStream, maxOut: Int = Int.MaxValue - 16): Int = {
    var p = pos
    def u8(i: Int): Int = raw(i) & 0xff
    // RFC 1952 fixed header: magic, CM=8 (deflate), FLG, 4B MTIME, XFL, OS
    if (p + 10 > raw.length || u8(p) != 0x1f || u8(p + 1) != 0x8b || u8(p + 2) != 8)
      return -1
    val flg = u8(p + 3)
    p += 10
    if ((flg & 0x04) != 0) { // FEXTRA: 2B little-endian length + payload
      if (p + 2 > raw.length) return -1
      p += 2 + u8(p) + (u8(p + 1) << 8)
    }
    if ((flg & 0x08) != 0) { // FNAME: zero-terminated
      while (p < raw.length && raw(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x10) != 0) { // FCOMMENT: zero-terminated
      while (p < raw.length && raw(p) != 0) p += 1
      p += 1
    }
    if ((flg & 0x02) != 0) p += 2 // FHCRC
    if (p > raw.length) return -1
    val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
    try {
      inf.setInput(raw, p, raw.length - p)
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](64 * 1024)
      var isize = 0L
      while (!inf.finished()) {
        val n = try inf.inflate(buf) catch {
          case _: java.util.zip.DataFormatException => return -1
        }
        if (n == 0 && !inf.finished()) return -1 // needs input past EOF
        out.write(buf, 0, n); crc.update(buf, 0, n); isize += n
        if (isize > maxOut) return -2
      }
      val trailer = p + inf.getBytesRead.toInt
      if (trailer + 8 > raw.length) return -1
      def le32(i: Int): Long =
        (u8(i).toLong) | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
          (u8(i + 3).toLong << 24)
      if (le32(trailer) != crc.getValue || le32(trailer + 4) != (isize & 0xffffffffL))
        return -1
      trailer + 8
    } finally inf.end()
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Next plausible record start at/after `from`: "WARC/1." at offset 0
    * or preceded by a LF (payload bytes could contain the string mid-line;
    * real readers accept that residual ambiguity). */
  private def nextRecordStart(bytes: Array[Byte], from: Int): Int = {
    var i = from
    while (i >= 0) {
      i = indexOf(bytes, VersionPrefix, i)
      if (i < 0) return -1
      if (i == 0 || bytes(i - 1) == '\n') return i
      i += 1
    }
    -1
  }

  private val HeadSep = "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Outcome of attempting ONE record at `start` in `bytes`. */
  private sealed trait ParseOutcome
  /** A complete record occupying [start, nextPos). */
  private final case class ParsedRec(warcType: String, recordId: String,
      targetUri: String, warcDate: String, contentType: String, clen: Long,
      payload: Array[Byte], nextPos: Int) extends ParseOutcome
  /** Definitely malformed. `resyncPos` = first record marker after start,
    * -1 when none exists in the available bytes. */
  private final case class ParseErr(err: String, resyncPos: Int) extends ParseOutcome
  /** More bytes could complete the record. `reason` is the error name if
    * none will arrive; `knownTotal` = the record's full framed size
    * (header + payload) once the header has parsed, -1 before that. */
  private final case class Incomplete(reason: String, knownTotal: Long) extends ParseOutcome

  /** Attempt one record at `start`; never consumes — callers advance. */
  private def parseOne(bytes: Array[Byte], start: Int): ParseOutcome = {
    val headEnd = indexOf(bytes, HeadSep, start)
    if (headEnd < 0) return Incomplete("no-header-terminator", -1L)
    def err(e: String) = ParseErr(e, nextRecordStart(bytes, start + 1))
    val head = new String(bytes, start, headEnd - start,
      java.nio.charset.StandardCharsets.US_ASCII)
    val lines = head.split("\r\n")
    if (!(lines(0) == "WARC/1.0" || lines(0) == "WARC/1.1"))
      return err("bad-version")
    // header names are case-insensitive (ISO 28500 §4); first wins
    val hdrs = scala.collection.mutable.Map.empty[String, String]
    var malformed: String = null
    lines.iterator.drop(1).foreach { ln =>
      val c = ln.indexOf(':')
      if (c <= 0) { if (malformed == null) malformed = "bad-header-line" }
      else {
        val k = ln.substring(0, c).trim.toLowerCase
        if (!hdrs.contains(k)) hdrs(k) = ln.substring(c + 1).trim
      }
    }
    if (malformed != null) return err(malformed)
    val clen = hdrs.get("content-length").flatMap(s => s.toLongOption)
      .getOrElse(-1L)
    if (clen < 0) return err("bad-content-length")
    val bodyStart = headEnd + 4
    if (bodyStart + clen > bytes.length)
      return Incomplete("truncated", (bodyStart - start).toLong + clen)
    val payload = java.util.Arrays.copyOfRange(bytes, bodyStart,
      bodyStart + clen.toInt)
    ParsedRec(
      hdrs.getOrElse("warc-type", null),
      hdrs.getOrElse("warc-record-id", null),
      hdrs.getOrElse("warc-target-uri", null),
      hdrs.getOrElse("warc-date", null),
      hdrs.getOrElse("content-type", null),
      clen, payload, bodyStart + clen.toInt)
  }

  /** The framing walk shared by the whole-file parse and the byte-range
    * split parse: records whose START offset lies in [startPos,
    * stopBefore) — a record may EXTEND past stopBefore (split overshoot
    * semantics, the classic input-split rule). `atEof` distinguishes a
    * record cut off by the file (`truncated`) from one cut off by the
    * split buffer (`record-too-large` — it exceeds the overshoot the
    * split reader budgeted). */
  private def recordIterator(path: String, bytes: Array[Byte], startPos: Int,
      stopBefore: Int, atEof: Boolean,
      counter: java.util.concurrent.atomic.AtomicInteger): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var pos = startPos
      private def done: Boolean = {
        // trailing CRLF padding between/after records is frame, not data
        while (pos < bytes.length && (bytes(pos) == '\r' || bytes(pos) == '\n')) pos += 1
        pos >= bytes.length || pos >= stopBefore
      }
      override def hasNext: Boolean = !done
      override def next(): WarcRecord = {
        val start = pos
        val idx = counter.getAndIncrement()
        parseOne(bytes, start) match {
          case p: ParsedRec =>
            pos = p.nextPos
            WarcRecord(path, idx, p.warcType, p.recordId, p.targetUri,
              p.warcDate, p.contentType, p.clen, p.payload, null, 0L)
          case ParseErr(e, resync) =>
            pos = if (resync < 0) bytes.length else resync
            WarcRecord(path, idx, null, null, null, null, null, -1L,
              null, e, (pos - start).toLong)
          case Incomplete(reason, _) =>
            // a bogus Content-Length can claim bytes that still hold later
            // records — resync past the marker rather than abandoning them
            val resync = nextRecordStart(bytes, start + 1)
            pos = if (resync < 0) bytes.length else resync
            WarcRecord(path, idx, null, null, null, null, null, -1L,
              null, if (atEof) reason else "record-too-large",
              (pos - start).toLong)
        }
      }
    }

  /** Streaming per-member gzip record iterator — the 100 TB read path.
    * Inflates ONE member at a time, frames its records, emits them, and
    * releases the buffer; only a bounded carry (a record spanning the
    * member boundary, or garbage awaiting a resync marker) survives from
    * one member to the next. Peak heap is O(largest member + carry), not
    * O(inflated segment): at Common Crawl's one-member-per-record
    * convention that is one record, for any segment size.
    *
    * Degradation contract (all error rows, never exceptions or OOM):
    *  - malformed member → the compressed tail is ONE `bad-gzip-member`
    *    row (`bad-gzip` when no member inflated cleanly before it); the
    *    malformed member's partial inflate is discarded with it; members
    *    before it are unaffected;
    *  - a member inflating past `maxMember` → `gzip-member-too-large`
    *    tail row (gzip offers no way to skip an unfinished member);
    *  - a record outgrowing `maxCarry` whose header parsed → ONE
    *    `record-too-large` row accounting its full framed size, then its
    *    remaining payload bytes are SKIPPED across members without
    *    buffering and framing resumes at the next record;
    *  - unframeable garbage outgrowing `maxCarry` → `record-too-large`
    *    row, then marker resync with only a marker-sized tail retained. */
  private final class GzipStreamRecords(path: String, raw: Array[Byte],
      maxCarry: Int, maxMember: Int) extends Iterator[WarcRecord] {
    private val outQ = new scala.collection.mutable.Queue[WarcRecord]()
    private var cpos = 0                              // compressed offset
    private var buf: Array[Byte] = Array.emptyByteArray // unconsumed frame bytes
    private var bpos = 0
    private var idx = 0
    private var cleanBytes = 0L
    private var skipRemaining = 0L                    // too-large payload skip
    private var resyncing = false
    private var membersDone = false
    private var tailErr: (String, Long) = null        // emitted after draining
    private var finished = false

    private def emitErr(e: String, skipped: Long): Unit = {
      outQ.enqueue(WarcRecord(path, idx, null, null, null, null, null, -1L,
        null, e, skipped)); idx += 1
    }
    private def emitRec(p: ParsedRec): Unit = {
      outQ.enqueue(WarcRecord(path, idx, p.warcType, p.recordId, p.targetUri,
        p.warcDate, p.contentType, p.clen, p.payload, null, 0L)); idx += 1
    }
    /** Drop the consumed prefix, retaining only buf[keepFrom..). */
    private def compact(keepFrom: Int): Unit = {
      val keep = buf.length - keepFrom
      if (keep == 0) buf = Array.emptyByteArray
      else {
        val nb = new Array[Byte](keep)
        System.arraycopy(buf, keepFrom, nb, 0, keep)
        buf = nb
      }
      bpos = 0
    }
    /** Inflate the next member onto the carry. False = no more bytes will
      * arrive (clean EOF, or a malformed/oversized member set `tailErr`). */
    private def inflateNext(): Boolean = {
      if (membersDone) return false
      if (cpos >= raw.length) { membersDone = true; return false }
      val member = new java.io.ByteArrayOutputStream(64 * 1024)
      parseMember(raw, cpos, member, maxMember) match {
        case -1 =>
          membersDone = true
          tailErr = (if (cleanBytes == 0) "bad-gzip" else "bad-gzip-member",
            (raw.length - cpos).toLong)
          false
        case -2 =>
          membersDone = true
          tailErr = ("gzip-member-too-large", (raw.length - cpos).toLong)
          false
        case next =>
          val m = member.toByteArray
          cleanBytes += m.length
          if (buf.length - bpos == 0) buf = m
          else {
            val keep = buf.length - bpos
            val nb = new Array[Byte](keep + m.length)
            System.arraycopy(buf, bpos, nb, 0, keep)
            System.arraycopy(m, 0, nb, keep, m.length)
            buf = nb
          }
          bpos = 0
          cpos = next
          true
      }
    }
    /** Keep only a marker-sized tail (a "WARC/1." possibly spanning the
      * member boundary plus its preceding-LF byte), then enter resync. */
    private def keepMarkerTail(): Unit = {
      val keep = math.min(buf.length - bpos, VersionPrefix.length + 1)
      compact(buf.length - keep)
      resyncing = true
    }
    /** Grow the buffer GEOMETRICALLY before a re-parse: each needs-more
      * re-attempt re-scans the accumulated carry from the record start,
      * so appending one small member at a time would make recovery from
      * a large unframed region quadratic in the carry (≈10¹¹ byte
      * compares at a 64 MiB carry of 16 KiB members). Inflating until
      * the unconsumed bytes grow by ≥ half their current size bounds
      * total re-scan work at O(carry) amortized. */
    private def inflateGrow(): Boolean = {
      // never grow past the carry cap: the over-cap branches must get
      // their turn to emit record-too-large instead of the growth
      // silently absorbing an over-budget record
      val target = math.min(maxCarry.toLong + 1,
        (buf.length - bpos).toLong + math.max(64L * 1024,
          (buf.length - bpos).toLong / 2))
      var any = false
      while ((buf.length - bpos).toLong < target && inflateNext()) any = true
      any
    }

    private def fill(): Unit = {
      while (outQ.isEmpty && !finished) {
        if (skipRemaining > 0) {
          val take = math.min(skipRemaining, (buf.length - bpos).toLong)
          bpos += take.toInt; skipRemaining -= take
          if (skipRemaining > 0 && !inflateNext()) skipRemaining = 0
        } else {
          // inter-record CRLF padding is frame, not data
          while (bpos < buf.length && (buf(bpos) == '\r' || buf(bpos) == '\n')) bpos += 1
          if (resyncing) {
            val m = nextRecordStart(buf, bpos)
            if (m >= 0) { bpos = m; resyncing = false }
            else {
              val keep = math.min(buf.length - bpos, VersionPrefix.length + 1)
              compact(buf.length - keep)
              if (!inflateNext()) { bpos = buf.length; resyncing = false }
            }
          } else if (bpos >= buf.length) {
            if (!inflateNext()) {
              if (tailErr != null) { emitErr(tailErr._1, tailErr._2); tailErr = null }
              finished = true
            }
          } else parseOne(buf, bpos) match {
            case p: ParsedRec => emitRec(p); bpos = p.nextPos
            case ParseErr(e, resync) =>
              if (resync >= 0) { emitErr(e, (resync - bpos).toLong); bpos = resync }
              else if (buf.length - bpos > maxCarry) {
                emitErr(e, (buf.length - bpos).toLong)
                keepMarkerTail()
              } else if (!inflateGrow()) {
                emitErr(e, (buf.length - bpos).toLong); bpos = buf.length
              }
            case Incomplete(reason, knownTotal) =>
              if (knownTotal >= 0 && knownTotal > maxCarry) {
                // full size known from the header: account it in one row,
                // then skip the unseen payload bytes without buffering
                emitErr("record-too-large", knownTotal)
                skipRemaining = knownTotal - (buf.length - bpos)
                bpos = buf.length
              } else if (knownTotal < 0 && buf.length - bpos > maxCarry) {
                emitErr("record-too-large", (buf.length - bpos).toLong)
                keepMarkerTail()
              } else if (!inflateGrow()) {
                // end of stream: same recovery as the whole-file walk — a
                // bogus Content-Length must not hide later records
                val resync = nextRecordStart(buf, bpos + 1)
                val stop = if (resync < 0) buf.length else resync
                emitErr(reason, (stop - bpos).toLong); bpos = stop
              }
          }
        }
      }
    }
    override def hasNext: Boolean = {
      if (outQ.isEmpty && !finished) fill()
      outQ.nonEmpty
    }
    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("empty WARC iterator")
      outQ.dequeue()
    }
  }

  /** Stream the records of one (possibly gzipped) WARC file. Corrupt
    * regions produce one error row each and parsing resumes at the next
    * record marker; a gzip member that fails mid-segment costs the
    * compressed tail (one error row), never the members before it; the
    * iterator never throws on malformed input. Gzip inflation is
    * streamed per member (see [[GzipStreamRecords]]) so peak heap is one
    * member + a bounded carry, never the inflated segment. */
  def parseAll(path: String, raw: Array[Byte],
      maxCarryBytes: Int = 64 << 20,
      maxMemberBytes: Int = 1 << 30): Iterator[WarcRecord] = {
    require(maxCarryBytes > 0 && maxMemberBytes > 0,
      "carry and member caps must be positive")
    if (isGzip(raw)) new GzipStreamRecords(path, raw, maxCarryBytes, maxMemberBytes)
    else recordIterator(path, raw, 0, raw.length, atEof = true,
      new java.util.concurrent.atomic.AtomicInteger(0))
  }

  /** Parse the records of ONE byte-range split of a PLAIN (uncompressed)
    * WARC file — the pure kernel behind [[scanSplits]], exposed for
    * property-testing split invariance without a cluster.
    *
    * `buf` holds file bytes [bufStart, bufStart + buf.length); the split
    * owns records whose start offset ∈ [rangeStart, rangeEnd). The first
    * split (rangeStart == 0) starts at offset 0; later splits resync to
    * the first record marker at/after rangeStart (the partial record
    * crossing the boundary belongs to the PREVIOUS split, which parses
    * past its rangeEnd to finish it — so the union over splits is exactly
    * the whole-file record set, each record once). `rec_idx` is the
    * ordinal WITHIN the split. */
  def parseRange(path: String, buf: Array[Byte], bufStart: Long,
      rangeStart: Long, rangeEnd: Long, fileLen: Long): Iterator[WarcRecord] = {
    val searchFrom = (rangeStart - bufStart).toInt
    val startPos =
      if (rangeStart == 0L) 0
      else nextRecordStart(buf, searchFrom) // buf includes rangeStart-1, so
    // a marker exactly at the boundary still sees its preceding LF
    val stopBefore = (rangeEnd - bufStart).toInt
    if (startPos < 0 || startPos >= stopBefore) return Iterator.empty
    val atEof = bufStart + buf.length >= fileLen
    recordIterator(path, buf, startPos, stopBefore, atEof,
      new java.util.concurrent.atomic.AtomicInteger(0))
  }

  // ---------------------------------------------------------------- source

  /** Batch scan: every record of every WARC segment under `dir`.
    * Listing is distributed by the binaryFile source; each file parses
    * in the task that holds its bytes. */
  def scan(spark: SparkSession, dir: String, glob: String = "*.warc*"): Dataset[WarcRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => parseAll(p, bytes) }
  }

  /** Offset-splittable scan for PLAIN WARC: one task per byte range, the
    * scalable read path when archives ship as few HUGE uncompressed
    * files (gzip members are not seekable, so `.gz` segments fall back
    * to one whole-file split each). Each split reads only
    * [rangeStart − 1, rangeEnd + maxRecordBytes) — split size + overshoot
    * of executor memory, never the file — resyncs to the first record
    * marker in its range, and parses records STARTING in the range,
    * running past its end to finish the last one (the input-split rule:
    * every VALID record parses exactly once, property-pinned by
    * WarcSpec). Corruption accounting is best-effort under splitting —
    * a corrupt region surfaces as an error row only when the split that
    * reaches it sequentially still owns it; a region whose start falls
    * just past a boundary has no recognizable marker for the next split
    * to claim, so its bytes skip silently (the inherent limit of marker
    * resync; every Hadoop-style WARC splitter shares it). Whole-file
    * [[scan]] is authoritative for corruption forensics. A record longer
    * than `maxRecordBytes` surfaces as a `record-too-large` error row
    * rather than unbounded task memory. */
  def scanSplits(spark: SparkSession, dir: String, glob: String = "*.warc*",
      splitBytes: Long = 128L << 20, maxRecordBytes: Int = 16 << 20): Dataset[WarcRecord] = {
    import spark.implicits._
    require(splitBytes > 0 && maxRecordBytes > 0 &&
      splitBytes + maxRecordBytes + 1 <= Int.MaxValue,
      "split + overshoot must fit one JVM byte array")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val splits: Seq[(String, Long, Long, Long)] =
      fs.globStatus(new org.apache.hadoop.fs.Path(p, glob)).toSeq.flatMap { st =>
        val path = st.getPath.toString
        val len = st.getLen
        // gzip is never byte-range-splittable: trust neither way on the
        // suffix alone — a large non-".gz" file gets its magic bytes
        // sniffed (splitting a gzip stream would parse garbage silently).
        // The sniff only opens LARGE files that passed the suffix test, so
        // the listing stays one RPC per file for the common crawl layout.
        def gzBySniff: Boolean = {
          val in = fs.open(st.getPath)
          try {
            val b = new Array[Byte](2)
            in.readFully(b); isGzip(b)
          } catch { case _: java.io.IOException => false } finally in.close()
        }
        if (len <= splitBytes || path.endsWith(".gz") || gzBySniff)
          Seq((path, 0L, len, len)) // unsplittable / small: one split
        else (0L until len by splitBytes).map(s =>
          (path, s, math.min(s + splitBytes, len), len))
      }
    val maxRec = maxRecordBytes.toLong
    spark.createDataset(splits)
      .repartition(math.max(splits.size, 1)) // one task per split
      .flatMap { case (path, rangeStart, rangeEnd, fileLen) =>
        val hp = new org.apache.hadoop.fs.Path(path)
        // fresh Configuration: Hadoop confs are not serializable and the
        // default resolves file:// and any fs.defaultFS-configured store
        val tfs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val bufStart = math.max(0L, rangeStart - 1)
        val bufEnd = math.min(fileLen, rangeEnd + maxRec)
        if (bufEnd - bufStart > Int.MaxValue - 16)
          // an unsplittable (gzip) file beyond one JVM byte array: the
          // require() above guards only ranged splits — degrade to an
          // error row instead of a NegativeArraySizeException
          Iterator.single(WarcRecord(path, 0, null, null, null, null, null,
            -1L, null, "file-too-large", fileLen))
        else {
          val buf = new Array[Byte]((bufEnd - bufStart).toInt)
          val in = tfs.open(hp)
          try { in.seek(bufStart); in.readFully(buf) } finally in.close()
          if (rangeStart == 0L && isGzip(buf)) parseAll(path, buf)
          else parseRange(path, buf, bufStart, rangeStart, rangeEnd, fileLen)
        }
      }
  }

  /** Streaming scan — newly-landed crawl segments per micro-batch (the
    * A4 scheduled re-walk shape, same parser). */
  def scanStream(spark: SparkSession, dir: String, glob: String = "*.warc*"): Dataset[WarcRecord] = {
    import spark.implicits._
    DirectoryIngest.scanStream(spark, dir, glob)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => parseAll(p, bytes) }
  }

  // --------------------------------------------------------------- fixture

  /** Deterministic WARC corpus for the ingest query/specs: documents with
    * doc_id % 7 == 0, sharded into 8 segments by (doc_id/7) % 8 — even
    * shards plain `.warc`, odd shards per-record-gzip-member `.warc.gz`.
    * Every doc_id % 70 == 0 record is written with a corrupt version line
    * ("WARC/9.9") so the query exercises resync isolation. Each shard is
    * written by the one task that owns its records (B11 posture);
    * idempotent via marker. */
  def ensureFixture(spark: SparkSession, sfDir: String): String = {
    // keyed on the FULL canonical path, not the basename — two corpora
    // named ".../sf0.01" in different parents must not share a fixture
    val out = java.nio.file.Paths.get(
      s"/tmp/graft_warc_fixture/${Tables.dirCacheKey(sfDir)}")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"),
          ((col("doc_id") / 7).cast("long") % 8).as("shard"))
        .repartition(8, col("shard"))
        // hash-partitioning can co-locate two shards in one task, so sort
        // by (shard, id) and STREAM rows, switching files on shard change
        // — a partition is never materialized (segments outgrow memory
        // long before they outgrow disk)
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          var shard = -1L
          var fos: java.io.BufferedOutputStream = null
          try {
            rows.foreach { r =>
              if (r.getLong(2) != shard) {
                if (fos != null) fos.close()
                shard = r.getLong(2)
                val gz = shard % 2 == 1
                fos = new java.io.BufferedOutputStream(new java.io.FileOutputStream(
                  new java.io.File(outStr,
                    if (gz) s"segment-$shard.warc.gz" else s"segment-$shard.warc")))
              }
              val id = r.getLong(0)
              val payload = r.getString(1)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val target: java.io.OutputStream =
                if (shard % 2 == 1)
                  new java.util.zip.GZIPOutputStream(new CloseShield(fos))
                else fos
              writeRecord(target, "response",
                s"<urn:graft:$id>", s"http://graft.test/doc/$id",
                f"2026-01-${id % 28 + 1}%02dT00:00:00Z",
                "text/plain; charset=utf-8", payload,
                versionLine = if (id % 70 == 0) "WARC/9.9" else "WARC/1.0")
              target match {
                case g: java.util.zip.GZIPOutputStream => g.close()
                case _ =>
              }
            }
          } finally if (fos != null) fos.close()
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }

  /** THE HTML link extraction — parsed `<a>` links from a frame of WARC
    * records: good text/html records only, whole
    * `<a href="…" …>text</a>` tags pulled with codegen regexps (plain
    * text anchors; a nested-markup anchor is out of this extractor's
    * supported shape), hrefs canonicalized (UrlOps). ONE extraction for
    * every consumer — the anchor census (q210), the link-graph queries
    * (q211/q212/q215/q216), and the streaming link-graph sink — so a
    * regex or canonicalization change cannot silently diverge them.
    *
    * Columns: (src, src_host, target_url, dst, dst_host, anchor).
    * src/dst are the page ordinals embedded in canonical URL paths and
    * are NULL when a URI carries none (an off-site or non-page link on
    * a real crawl) — ordinal consumers must filter;
    * [[htmlLinkEdges]] already does. */
  def htmlLinks(records: DataFrame): DataFrame = {
    // a URI without a page ordinal yields regexp_extract = "" — under
    // ANSI that cast would ABORT the whole job (a streaming sink dies on
    // the first external link); NULL is the documented contract instead
    def ordinal(c: Column, pattern: String): Column = {
      val m = regexp_extract(c, pattern, 1)
      when(m === "", lit(null).cast("long")).otherwise(m.cast("long"))
    }
    records
      .filter(col("error").isNull &&
        col("content_type").startsWith("text/html"))
      .select(
        ordinal(col("target_uri"), "/p/([0-9]+)$").as("src"),
        graft.ops.UrlOps.urlHost(col("target_uri")).as("src_host"),
        explode(regexp_extract_all(col("payload").cast("string"),
          lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))).as("tag"))
      .withColumn("target_url", graft.ops.UrlOps.canonicalizeUrl(
        regexp_extract(col("tag"), "<a href=\"([^\"]*)\"", 1)))
      .select(col("src"), col("src_host"), col("target_url"),
        // dst ordinal ANCHORED to the end of the canonical path (`?` starts
        // the query string; canonicalization strips trailing slash and
        // fragments): an unanchored /p/<digits> would mint an edge from any
        // off-site URL that merely CONTAINS the shape (…/p/123/about),
        // cross-host ordinal collisions polluting the link graph
        ordinal(col("target_url"), "/p/([0-9]+)(?:[?]|$)").as("dst"),
        graft.ops.UrlOps.urlHost(col("target_url")).as("dst_host"),
        // capture starts AFTER the attribute-closing '>' (quote, then
        // non-'>' run, then '>'): a legal '>' inside the quoted href value
        // would otherwise leak the rest of the opening tag into the anchor
        regexp_extract(col("tag"), "\"[^>]*>([^<]*)</a>", 1).as("anchor"))
  }

  /** (src, dst) page-ordinal edges for the graph operators — the
    * [[htmlLinks]] projection with NULL ordinals dropped (an off-page
    * link must not mint a null graph node and siphon rank mass). */
  def htmlLinkEdges(records: DataFrame): DataFrame =
    htmlLinks(records)
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"))

  /** Deterministic HTML crawl fixture for the anchor-text query/specs:
    * every doc_id % 5 == 0 document becomes a text/html page at
    * `http://s{d%7}.example/p/{d}` whose body embeds (d % 4) + 1 links.
    * Link j of page d targets t = (d*31 + j*17) % |documents| through a
    * DELIBERATELY messy href — uppercase WWW label, explicit :80 port,
    * trailing slash, utm_* noise params, and (for t % 3 == 0) two real
    * params in unsorted order — so the extractor's canonicalization has
    * genuine work on every edge UrlOps handles. Anchor text is words
    * 3j+1..3j+2 (1-based) of the SOURCE document, so the DuckDB oracle
    * can reconstruct every (source, target, anchor) triple from the
    * documents table arithmetic alone (the q147 fixture posture:
    * construction-known, extraction-verified). 4 plain .warc shards by
    * (d/5) % 4, one owning task each; idempotent via marker. */
  def ensureHtmlFixture(spark: SparkSession, sfDir: String): String = {
    val out = java.nio.file.Paths.get(
      s"/tmp/graft_html_fixture/${Tables.dirCacheKey(sfDir)}")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString
      val nDocs = Tables.documents(spark, sfDir).count()
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"),
          ((col("doc_id") / 5).cast("long") % 4).as("shard"))
        .repartition(4, col("shard"))
        .sortWithinPartitions(col("shard"), col("doc_id"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          var shard = -1L
          var fos: java.io.BufferedOutputStream = null
          try {
            rows.foreach { r =>
              if (r.getLong(2) != shard) {
                if (fos != null) fos.close()
                shard = r.getLong(2)
                fos = new java.io.BufferedOutputStream(new java.io.FileOutputStream(
                  new java.io.File(outStr, s"pages-$shard.warc")))
              }
              val d = r.getLong(0)
              val words = r.getString(1).split(' ')
              val html = new StringBuilder
              html.append("<html><head><title>Doc ").append(d)
                .append("</title></head><body><p>")
                .append(r.getString(1)).append("</p>\n")
              val nLinks = (d % 4) + 1
              var j = 0L
              while (j < nLinks) {
                // link 0 targets a hub (ids 0..9): realistic skewed
                // in-degree so the census aggregates non-trivial fan-in
                val t = if (j == 0) (d / 5) % 10 else (d * 31 + j * 17) % nDocs
                val extra = if (t % 3 == 0) s"&ref=2&aa=1" else ""
                val anchor = words.slice((3 * j).toInt, (3 * j + 2).toInt)
                  .mkString(" ")
                html.append("<a href=\"http://WWW.s").append(t % 7)
                  .append(".example:80/p/").append(t)
                  .append("/?utm_src=fix&utm_c=").append(j).append(extra)
                  .append("\">").append(anchor).append("</a> and more\n")
                j += 1
              }
              html.append("</body></html>")
              writeRecord(fos, "response",
                s"<urn:graft:page:$d>", s"http://s${d % 7}.example/p/$d",
                f"2026-02-${d % 28 + 1}%02dT00:00:00Z",
                "text/html; charset=utf-8",
                html.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          } finally if (fos != null) fos.close()
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }
}
