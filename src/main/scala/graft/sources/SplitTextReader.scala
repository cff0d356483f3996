package graft.sources

import graft.bgzf.{Bgzf, BgzfBlockGuesser, BgzfInputStream, SeekableInput}

/** Splittable line reading over plain or BGZF-compressed text, with *exact*
  * ownership semantics: a line belongs to the split that contains its start
  * position key — the raw byte offset for plain text, the BGZF block start
  * for compressed text. Splits tile the file, every position key lands in
  * exactly one split, so no line is lost or duplicated at any split size.
  *
  * This replaces the Hadoop TextInputFormat + BGZF codec machinery the
  * reference wires for SAM/VCF (SamSource.java:35-87, VcfSource.java:88-129,
  * BGZFSplitCompressionInputStream.java:14-106) — same distribution shape,
  * but ownership is determined by direct inspection (pread of the byte
  * before the split / decompress of the predecessor block) instead of
  * discard-first-line conventions.
  */
object SplitTextReader {

  /** True if `path`-like data is BGZF (sniff the first bytes). */
  def isBgzf(in: SeekableInput): Boolean = {
    val hdr = new Array[Byte](Bgzf.HeaderLength)
    val got = in.preadFully(0, hdr, 0, hdr.length)
    got >= 12 && Bgzf.parseBlockLength(hdr, 0, got) > 0
  }

  /** True if plain gzip (non-BGZF): readable but single-split only
    * (reference BGZFEnhancedGzipCodec.java:44-68 behavior).
    */
  def isPlainGzip(in: SeekableInput): Boolean = {
    val hdr = new Array[Byte](Bgzf.HeaderLength)
    val got = in.preadFully(0, hdr, 0, hdr.length)
    got >= 2 && (hdr(0) & 0xff) == 0x1f && (hdr(1) & 0xff) == 0x8b && !isBgzf(in)
  }

  /** Byte-level walk over the lines owned by split [splitStart, splitEnd):
    * every reader's line source, the `String` views below included, so the
    * ownership, seam and CR rules exist once.
    */
  def cursor(in: SeekableInput, splitStart: Long, splitEnd: Long, bgzf: Boolean): LineCursor =
    if (bgzf) new BgzfLineCursor(bgzfStreamAt(in, splitStart, splitEnd), splitEnd)
    else new PlainLineCursor(in, splitStart, splitEnd)

  /** Iterator over the lines owned by split [splitStart, splitEnd). */
  def lines(in: SeekableInput, splitStart: Long, splitEnd: Long, bgzf: Boolean): Iterator[String] =
    views(cursor(in, splitStart, splitEnd, bgzf))(_.text)

  /** A cursor's lines paired with their OWNERSHIP KEY ([[LineCursor.key]]).
    * Multi-line record formats (FASTQ) read with splitEnd = file size and
    * cut on the key themselves, so a record's trailing lines can be
    * consumed past the split boundary by the split that owns the record's
    * FIRST line.
    */
  def linesWithKeys(c: LineCursor): Iterator[(Long, String)] = views(c)(c => (c.key, c.text))

  /** Every line of a plain-gzip file, the single split such a file has;
    * `start` and `key` are the 1-based line number (no `end`).
    */
  def gzipCursor(in: SeekableInput): LineCursor = new GzipLineCursor(in)

  private def views[T](c: LineCursor)(view: LineCursor => T): Iterator[T] = new Iterator[T] {
    private var ready = c.next()
    def hasNext: Boolean = ready
    def next(): T = { val t = view(c); ready = c.next(); t }
  }

  private def indexOfNewline(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until) { if (b(i) == '\n') return i; i += 1 }
    -1
  }

  // ---- plain text -------------------------------------------------------

  private final class PlainLineCursor(in: SeekableInput, splitStart: Long, splitEnd: Long)
      extends LineCursor {
    def where: String = s"offset $start"

    private val fileSize = in.size
    private var buf = new Array[Byte](64 * 1024)
    private var bufPos = 0L
    private var bufLen = 0
    // first line start at/after splitStart: splitStart itself iff it begins
    // a line (file start or preceded by '\n'); else after the next '\n'
    private var cur: Long =
      if (splitStart == 0 || splitStart >= fileSize) splitStart
      else {
        val b = new Array[Byte](1)
        in.preadFully(splitStart - 1, b, 0, 1)
        if (b(0) == '\n') splitStart
        else { val p = scanForNewline(in, splitStart, fileSize); if (p < 0) fileSize else p }
      }

    private def fill(at: Long): Unit = { bufLen = in.preadFully(at, buf, 0, buf.length); bufPos = at }

    def next(): Boolean = {
      if (cur >= splitEnd || cur >= fileSize) return false
      if (cur < bufPos || cur >= bufPos + bufLen) fill(cur)
      var s = (cur - bufPos).toInt
      var nl = indexOfNewline(buf, s, bufLen)
      var more = nl < 0
      while (more) {
        // the line crosses the buffer end: refill from its start, growing
        // the buffer when the line alone fills it
        val have = bufLen - s
        if (s == 0 && bufLen == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        fill(cur)
        s = 0
        nl = indexOfNewline(buf, have, bufLen)
        more = nl < 0 && bufLen > have
      }
      val e = if (nl >= 0) nl else bufLen // no '\n': the line runs to EOF
      if (nl < 0 && e == s) return false
      set(buf, s, e - s, cur)
      cur = bufPos + e + (if (nl >= 0) 1 else 0)
      end = cur
      true
    }
  }

  private def scanForNewline(in: SeekableInput, from: Long, size: Long): Long = {
    val buf = new Array[Byte](64 * 1024)
    var pos = from
    while (pos < size) {
      val n = in.preadFully(pos, buf, 0, buf.length)
      if (n <= 0) return -1
      val i = indexOfNewline(buf, 0, n)
      if (i >= 0) return pos + i + 1
      pos += n
    }
    -1
  }

  // ---- BGZF text --------------------------------------------------------

  /** Scans the inflated block in place; a line that reaches the block end
    * is gathered into an own buffer, so the stream may advance under it.
    */
  private final class BgzfLineCursor(stream: BgzfInputStream, splitEnd: Long) extends LineCursor {
    private var own = new Array[Byte](256)

    override def key: Long = Bgzf.blockStart(start)
    def where: String = s"virtual offset $start (block ${start >>> 16}, byte ${start & 0xffff})"

    def next(): Boolean = {
      if (stream == null || stream.atEof || stream.blockStartOffset >= splitEnd) return false
      val beg = stream.virtualOffset
      val b = stream.blockBytes
      val p = stream.blockPos
      val nl = indexOfNewline(b, p, stream.blockLimit)
      if (nl >= 0 && nl + 1 < stream.blockLimit) {
        set(b, p, nl - p, beg)
        stream.consume(nl + 1 - p)
      } else {
        var n = 0
        var done = false
        while (!done) {
          val b = stream.blockBytes
          val p = stream.blockPos
          val lim = stream.blockLimit
          val nl = indexOfNewline(b, p, lim)
          val stop = if (nl >= 0) nl else lim
          if (n + stop - p > own.length)
            own = java.util.Arrays.copyOf(own, math.max(own.length * 2, n + stop - p))
          System.arraycopy(b, p, own, n, stop - p)
          n += stop - p
          stream.consume(if (nl >= 0) nl + 1 - p else lim - p)
          done = nl >= 0 || stream.atEof
        }
        set(own, 0, n, beg)
      }
      end = stream.virtualOffset
      true
    }
  }

  /** Stream positioned at the first line the split [splitStart, splitEnd)
    * OWNS (partial head line skipped), or null when the split owns none.
    */
  private def bgzfStreamAt(in: SeekableInput, splitStart: Long, splitEnd: Long): BgzfInputStream = {
    // first block starting at/after splitStart
    val firstBlock = if (splitStart == 0) 0L else BgzfBlockGuesser.nextBlockOffset(in, splitStart)
    if (firstBlock < 0 || firstBlock >= splitEnd) return null
    val stream = new BgzfInputStream(in)
    stream.seekBlock(firstBlock)
    if (stream.atEof) return null

    // does a line start at the very beginning of firstBlock? yes iff file
    // start, or the last *data* byte before firstBlock is '\n'. The
    // predecessor block is inflated directly — NOT probed via
    // BgzfInputStream.read(), whose cursor eagerly advances into the next
    // block after a block's final byte, which made a read()-loop probe
    // return the second-to-last byte and silently drop one line per
    // newline-aligned block seam (exactly what the single-file sink's
    // part merge produces).
    var startsAtBlockBegin = firstBlock == 0
    if (firstBlock > 0) {
      var window = 2L * Bgzf.MaxBlockSize
      var decided = false
      while (!decided) {
        val scanFrom = math.max(0L, firstBlock - window)
        val chainStart =
          if (scanFrom == 0) 0L else BgzfBlockGuesser.nextBlockOffset(in, scanFrom)
        // predecessor block offsets in [chainStart, firstBlock), newest first
        var prevs = List.empty[Long]
        var b = chainStart
        while (b >= 0 && b < firstBlock) { prevs = b :: prevs; b = nextBlockAfter(in, b) }
        // last byte of the most recent non-empty predecessor (empty blocks —
        // e.g. EOF terminators concatenated mid-file — carry no line bytes)
        prevs.iterator.map(off => lastByteOfBlock(in, off)).find(_ >= 0) match {
          case Some(last) => startsAtBlockBegin = last == '\n'; decided = true
          case None if scanFrom == 0 => startsAtBlockBegin = true; decided = true
          case None => window *= 2 // only empty predecessors in window: look further back
        }
      }
    }
    if (!startsAtBlockBegin) {
      // discard the partial line that crosses into this block
      var c = stream.read()
      while (c >= 0 && c != '\n') c = stream.read()
      if (c < 0) return null
    }
    stream
  }

  /** Final uncompressed byte of the block at `blockOff`, or -1 if the block
    * is empty / unreadable. One header pread + one block inflate.
    */
  private def lastByteOfBlock(in: SeekableInput, blockOff: Long): Int = {
    val hdr = new Array[Byte](Bgzf.HeaderLength)
    val got = in.preadFully(blockOff, hdr, 0, Bgzf.HeaderLength)
    if (got < Bgzf.HeaderLength) return -1
    val blockLen = Bgzf.parseBlockLength(hdr, 0, got)
    if (blockLen < 0) return -1
    val comp = new Array[Byte](blockLen)
    if (in.preadFully(blockOff, comp, 0, blockLen) < blockLen) return -1
    val out = new Array[Byte](Bgzf.MaxBlockSize)
    val n = Bgzf.inflateBlock(comp, 0, blockLen, out)
    if (n == 0) -1 else out(n - 1) & 0xff
  }

  private def nextBlockAfter(in: SeekableInput, blockOff: Long): Long = {
    val hdr = new Array[Byte](Bgzf.HeaderLength)
    val got = in.preadFully(blockOff, hdr, 0, hdr.length)
    if (got < hdr.length) return -1
    val len = Bgzf.parseBlockLength(hdr, 0, got)
    if (len < 0) -1 else blockOff + len
  }

  /** Whole-stream sequential lines (plain, bgzf, or plain-gzip fallback). */
  def allLines(in: SeekableInput): Iterator[String] =
    if (isBgzf(in)) lines(in, 0L, Long.MaxValue, bgzf = true)
    else if (isPlainGzip(in)) views(gzipCursor(in))(_.text)
    else lines(in, 0L, Long.MaxValue, bgzf = false)

  // ---- plain gzip -------------------------------------------------------

  /** Inflates the whole stream and cuts it on '\n' only, the rule of the
    * other cursors (a lone '\r' stays inside its line).
    */
  private final class GzipLineCursor(in: SeekableInput) extends LineCursor {
    private val gz = new java.util.zip.GZIPInputStream(new java.io.InputStream {
      private var pos = 0L
      def read(): Int = {
        val b = new Array[Byte](1)
        if (read(b, 0, 1) <= 0) -1 else b(0) & 0xff
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = in.pread(pos, b, off, len)
        if (n > 0) pos += n
        n
      }
    }, 64 * 1024)
    private var buf = new Array[Byte](64 * 1024)
    private var pos = 0 // first unread byte of buf
    private var lim = 0
    private var eof = false

    def next(): Boolean = {
      var nl = indexOfNewline(buf, pos, lim)
      while (nl < 0 && !eof) {
        // keep the partial line at the buffer start, growing the buffer
        // when the line alone fills it, and inflate more after it
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos; pos = 0
        if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        val n = gz.read(buf, lim, buf.length - lim)
        if (n < 0) eof = true
        else { nl = indexOfNewline(buf, lim, lim + n); lim += n }
      }
      val e = if (nl >= 0) nl else lim // no '\n': the line runs to EOF
      if (nl < 0 && e == pos) return false
      set(buf, pos, e - pos, start + 1)
      pos = if (nl >= 0) nl + 1 else lim
      true
    }

    def where: String = s"line $start"
  }
}

/** One line of a split, as bytes. After [[next]] returns true the line is
  * `bytes(off until off + len)` — its '\n' and one trailing '\r' excluded —
  * valid until the next call; `start` is where it begins (the byte offset
  * for plain text, the virtual offset for BGZF) and `end` the offset just
  * past its '\n'.
  */
abstract class LineCursor {
  var bytes: Array[Byte] = Array.emptyByteArray
  var off: Int = 0
  var len: Int = 0
  var start: Long = 0L
  var end: Long = 0L

  /** Moves to the next owned line; false when the split has no more. */
  def next(): Boolean

  /** The line's ownership key: the split whose `[start, end)` holds it owns
    * the line (the byte offset for plain text, the BGZF block start).
    */
  def key: Long = start

  /** Where the line starts, for error messages. */
  def where: String

  def text: String = new String(bytes, off, len, java.nio.charset.StandardCharsets.UTF_8)

  /** At most the first 200 characters of the line, for error messages. */
  def preview: String = LineCursor.preview(new String(bytes, off, math.min(len, 4 * LineCursor.PreviewChars),
    java.nio.charset.StandardCharsets.UTF_8))

  protected final def set(b: Array[Byte], o: Int, n: Int, at: Long): Unit = {
    bytes = b; off = o; start = at
    len = if (n > 0 && b(o + n - 1) == '\r') n - 1 else n
  }
}

object LineCursor {
  private val PreviewChars = 200

  /** At most the first 200 characters of `line`, for error messages. */
  def preview(line: String): String =
    if (line.length > PreviewChars) line.take(PreviewChars) + "…" else line
}
