package graft.cram

import graft.bgzf.SeekableInput

/** Indexed-FASTA region reads for CRAM reference-based decode (the
  * reference hands htsjdk a `ReferenceSource` built from the `.fai`-indexed
  * FASTA passed next to the CRAM, CramSource.java:62-66; same sidecar
  * convention here). Only the requested region is read — a slice asks for
  * its own alignment span, so executors never hold a whole genome.
  */
final case class FaiEntry(name: String, length: Long, offset: Long,
                          lineBases: Int, lineWidth: Int)

object Fasta {
  /** Parse `.fai`: name, length, byte offset, bases per line, bytes per line. */
  def parseFai(text: String): IndexedSeq[FaiEntry] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val f = line.split('\t')
      FaiEntry(f(0), f(1).toLong, f(2).toLong, f(3).toInt, f(4).toInt)
    }.toIndexedSeq

  /** Read bases for the 1-based region `[start1, start1+span)` of `contig`,
    * upper-cased, clipped to the contig end. Newlines are skipped via the
    * line geometry, so the read touches only `O(span)` file bytes.
    */
  def region(in: SeekableInput, e: FaiEntry, start1: Int, span: Int): Array[Byte] = {
    val start0 = math.max(0L, start1 - 1L)
    val n = math.max(0L, math.min(span.toLong, e.length - start0)).toInt
    if (n == 0) return Array.emptyByteArray
    val firstLine = start0 / e.lineBases
    val firstCol = (start0 % e.lineBases).toInt
    val lastBase0 = start0 + n - 1
    val lastLine = lastBase0 / e.lineBases
    val rawStart = e.offset + firstLine * e.lineWidth + firstCol
    val rawEnd = e.offset + lastLine * e.lineWidth + (lastBase0 % e.lineBases) + 1
    val raw = new Array[Byte]((rawEnd - rawStart).toInt)
    val got = in.preadFully(rawStart, raw, 0, raw.length)
    require(got == raw.length, s"truncated FASTA read at $rawStart")
    val out = new Array[Byte](n)
    var i = 0
    var o = 0
    while (i < raw.length && o < n) {
      val c = raw(i)
      if (c != '\n' && c != '\r') {
        out(o) = if (c >= 'a' && c <= 'z') (c - 32).toByte else c
        o += 1
      }
      i += 1
    }
    require(o == n, s"FASTA region short: wanted $n bases, got $o")
    out
  }
}

/** Provider of reference bases for slice decode. */
trait CramRefSource {
  /** Bases covering `[start1, start1+span)` of refSeqId `rid`, or `null`
    * when no reference is available (positions then decode as `N` — legal
    * for `RR=false` files, an error surface for ref-required ones only if
    * a record actually touches an uncovered position).
    */
  def region(rid: Int, start1: Int, span: Int): Array[Byte]
}

object NoRefSource extends CramRefSource {
  override def region(rid: Int, start1: Int, span: Int): Array[Byte] = null
}

/** FASTA-backed source; `names` maps the CRAM header's refSeqId order to
  * contig names (the `.fai` is looked up by name, not position, so dict
  * order differences between FASTA and CRAM header are harmless).
  */
final class FastaRefSource(in: SeekableInput, fai: IndexedSeq[FaiEntry],
                           names: Int => String) extends CramRefSource {
  private val byName = fai.map(e => e.name -> e).toMap
  override def region(rid: Int, start1: Int, span: Int): Array[Byte] = {
    val name = names(rid)
    if (name == null) return null
    byName.get(name).map { e =>
      // a short or failed read is a broken fasta input, not a malformed
      // CRAM: no stringency may drop the slice for it
      try Fasta.region(in, e, start1, span)
      catch {
        case ex: Exception => throw new ReferenceRequiredException(
          s"reading reference bases $name:$start1+$span from the fasta failed: ${ex.getMessage}", ex)
      }
    }.orNull
  }
}
