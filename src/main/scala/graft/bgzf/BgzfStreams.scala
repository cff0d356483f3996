package graft.bgzf

import java.io.{EOFException, InputStream, OutputStream}

/** Minimal positional-read abstraction so the BGZF reader works over local
  * files, Hadoop streams, and in-memory test buffers alike. (The reference
  * has a heavier FileSystemWrapper hierarchy, impl/file/FileSystemWrapper
  * .java:36-49; DSv2 partition readers only ever need pread.)
  */
trait SeekableInput extends AutoCloseable {
  /** Read up to `len` bytes at absolute position `pos`; -1 at EOF. */
  def pread(pos: Long, buf: Array[Byte], off: Int, len: Int): Int
  def size: Long
  def close(): Unit

  /** Read exactly `len` bytes or as many as exist before EOF; returns count. */
  def preadFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    var n = 0
    while (n < len) {
      val got = pread(pos + n, buf, off + n, len - n)
      if (got < 0) return n
      n += got
    }
    n
  }
}

object SeekableInput {
  def ofBytes(bytes: Array[Byte]): SeekableInput = new SeekableInput {
    def pread(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= bytes.length) return -1
      val n = math.min(len, bytes.length - pos.toInt)
      System.arraycopy(bytes, pos.toInt, buf, off, n)
      n
    }
    def size: Long = bytes.length.toLong
    def close(): Unit = ()
  }

  def ofFile(path: java.nio.file.Path): SeekableInput = new SeekableInput {
    private val ch = java.nio.channels.FileChannel.open(path, java.nio.file.StandardOpenOption.READ)
    def pread(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
      ch.read(java.nio.ByteBuffer.wrap(buf, off, len), pos)
    def size: Long = ch.size()
    def close(): Unit = ch.close()
  }
}

/** Streaming BGZF writer. Not thread-safe. Emits complete blocks of at most
  * [[Bgzf.MaxUncompressedPayload]] uncompressed bytes; `close()` flushes the
  * final partial block and (only if `writeEof`) the 28-byte terminator.
  * Headerless part files for the single-file sink set `writeEof = false`
  * (terminator is a separate concat part — reference BamSink.java:62-65).
  */
final class BgzfOutputStream(out: OutputStream, writeEof: Boolean = true,
                             level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION)
    extends OutputStream {
  private val buf = new Array[Byte](Bgzf.MaxUncompressedPayload)
  private var bufLen = 0
  private var compressedWritten = 0L
  private var closed = false
  // one reusable deflater pair per stream — never one per 64 KiB block
  private val compressor = new BgzfBlockCompressor(level)

  /** Virtual offset of the next byte to be written (valid between writes). */
  def virtualOffset: Long = Bgzf.makeVirtualOffset(compressedWritten, bufLen)

  override def write(b: Int): Unit = {
    buf(bufLen) = b.toByte; bufLen += 1
    if (bufLen == buf.length) flushBlock()
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off; var rem = len
    while (rem > 0) {
      val n = math.min(rem, buf.length - bufLen)
      System.arraycopy(b, o, buf, bufLen, n)
      bufLen += n; o += n; rem -= n
      if (bufLen == buf.length) flushBlock()
    }
  }

  private def flushBlock(): Unit = if (bufLen > 0) {
    val block = compressor.compress(buf, 0, bufLen)
    out.write(block)
    compressedWritten += block.length
    bufLen = 0
  }

  override def flush(): Unit = out.flush()

  override def close(): Unit = if (!closed) {
    closed = true
    // `out` must close even when the final flush throws — otherwise an
    // error path leaks the underlying stream/file handle (round-11 advice)
    try {
      flushBlock()
      if (writeEof) out.write(Bgzf.EofBlock)
    } finally {
      try compressor.end() finally out.close()
    }
  }
}

/** Sequential BGZF reader starting at a *block* offset (or a virtual offset
  * via [[seekVirtual]]). Tracks the virtual offset of the next byte so record
  * codecs can label record starts — the invariant the whole split design
  * rests on (reference BamSource.java:141-158).
  */
final class BgzfInputStream(in: SeekableInput) extends InputStream {
  private val comp = new Array[Byte](Bgzf.MaxBlockSize)
  private val ucomp = new Array[Byte](Bgzf.MaxBlockSize)
  // one reusable inflater per stream — never one per 64 KiB block
  private val inflater = new java.util.zip.Inflater(true)
  private var ucompLen = 0
  private var intra = 0
  private var curBlockStart = 0L   // compressed offset of current block
  private var nextBlockStart = 0L  // compressed offset of the block after it
  private var eof = false

  /** Position at the first byte of the block starting at `blockOffset`. */
  def seekBlock(blockOffset: Long): Unit = {
    curBlockStart = blockOffset
    nextBlockStart = blockOffset
    ucompLen = 0; intra = 0; eof = false
    loadNextBlock()
  }

  def seekVirtual(voff: Long): Unit = {
    seekBlock(Bgzf.blockStart(voff))
    val k = Bgzf.intraOffset(voff)
    require(eof && k == 0 || k <= ucompLen, s"virtual offset beyond block: $voff")
    intra = k
    // an offset pointing exactly at end-of-block means start of next block
    if (!eof && intra == ucompLen) loadNextBlock()
  }

  /** Virtual offset of the next byte [[read]] would return. */
  def virtualOffset: Long =
    if (eof) Bgzf.makeVirtualOffset(nextBlockStart, 0)
    else Bgzf.makeVirtualOffset(curBlockStart, intra)

  /** Compressed offset of the block the cursor is in (or file end at EOF). */
  def blockStartOffset: Long = if (eof) nextBlockStart else curBlockStart

  def atEof: Boolean = eof

  /** The inflated current block, for byte scanners: the unread bytes are
    * `blockBytes(blockPos until blockLimit)` (non-empty unless at EOF),
    * valid until the next read, [[consume]] or seek.
    */
  def blockBytes: Array[Byte] = ucomp
  def blockPos: Int = intra
  def blockLimit: Int = ucompLen

  /** Skip `n` unread bytes of the current block (`n <= blockLimit -
    * blockPos`), advancing into the next block at its end as [[read]] does.
    */
  def consume(n: Int): Unit = {
    intra += n
    if (intra == ucompLen && !eof) loadNextBlock()
  }

  private def loadNextBlock(): Unit = {
    var loaded = false
    while (!loaded) {
      val start = nextBlockStart
      val got = in.preadFully(start, comp, 0, Bgzf.HeaderLength)
      if (got == 0) { eof = true; return }
      if (got < Bgzf.HeaderLength) throw new EOFException(s"truncated BGZF header at $start")
      val blockLen = Bgzf.parseBlockLength(comp, 0, got)
      if (blockLen < 0) throw new java.io.IOException(s"not a BGZF block at offset $start")
      val rest = in.preadFully(start + Bgzf.HeaderLength, comp, Bgzf.HeaderLength, blockLen - Bgzf.HeaderLength)
      if (rest < blockLen - Bgzf.HeaderLength) throw new EOFException(s"truncated BGZF block at $start")
      val n = Bgzf.inflateBlock(comp, 0, blockLen, ucomp, inflater)
      curBlockStart = start
      nextBlockStart = start + blockLen
      intra = 0
      if (n == 0) {
        // empty block (e.g. EOF terminator mid-file after concat) — skip it
        ucompLen = 0
      } else {
        ucompLen = n
        loaded = true
      }
    }
  }

  override def read(): Int = {
    if (eof) return -1
    if (intra >= ucompLen) { loadNextBlock(); if (eof) return -1 }
    val b = ucomp(intra) & 0xff
    intra += 1
    if (intra == ucompLen && !eof) loadNextBlock()
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (eof) return -1
    if (intra >= ucompLen) { loadNextBlock(); if (eof) return -1 }
    val n = math.min(len, ucompLen - intra)
    System.arraycopy(ucomp, intra, b, off, n)
    intra += n
    if (intra == ucompLen && !eof) loadNextBlock()
    n
  }

  def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
    var n = 0
    while (n < len) {
      val got = read(b, off + n, len - n)
      if (got < 0) throw new EOFException("EOF inside BGZF record")
      n += got
    }
  }

  override def close(): Unit = {
    inflater.end()
    in.close()
  }
}
