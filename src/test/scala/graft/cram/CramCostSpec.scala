package graft.cram

import org.scalatest.funsuite.AnyFunSuite
import graft.bam.{AlignmentRecord, BamRef, SamHeader}
import graft.bgzf.SeekableInput

/** Attribution of the CRAM READ cost (round-11 verdict follow-up) on the
  * q_cram_cigar_ops workload shape: 151 bp reads, the six mixed cigar
  * shapes, reference-based encode against the 4-periodic FASTA. Measures
  * and prints the decode split — container walk / per-method block
  * decompress (gzip vs rANS) / reference fetch / record assembly — and
  * pins the two facts the round-12 fix rests on:
  *
  *   1. block decompress (the gzip'd series blocks round 11 added) is a
  *      MINOR share of decode: the measured regression was never inflate
  *      CPU, it was the boundary SCAN (`findBoundary`) each range split ran
  *      at ~10 µs/offset because garbage candidates with a plausible
  *      nLandmarks spun thousand-iteration varint loops + multi-KB CRCs;
  *   2. after the landmark sanity bound (CramContainers.tryParseValidated:
  *      landmarks non-decreasing, ≤ dataLength), a full scan across this
  *      workload's own container payloads is cheap and still lands every
  *      true boundary (no false accepts inside payload bytes).
  */
class CramCostSpec extends AnyFunSuite {

  private val header = SamHeader(IndexedSeq(BamRef("chr0", 1000000)))
  private val periodic = "ATGC" * 50

  /** In-memory 4-periodic reference: base at 1-based pos p = ATGC[(p-1)%4]. */
  private object PeriodicRef extends CramRefSource {
    override def region(rid: Int, start1: Int, span: Int): Array[Byte] = {
      val out = new Array[Byte](span)
      var i = 0
      while (i < span) { out(i) = "ATGC".charAt((start1 - 1 + i) % 4).toByte; i += 1 }
      out
    }
  }

  /** The query's six cigar shapes, phase-aligned to the periodic reference
    * (FormatQueries q_cram_cigar_ops): D/N lengths ≡ 0 mod 4, the S shape
    * shifts its phase by the clip length.
    */
  private def mkRecords(n: Int): IndexedSeq[AlignmentRecord] =
    (0 until n).map { i =>
      val shape = i % 6
      val start = (i * 37) % 990000 + 1
      val (cigar, rlen, clipShift) = shape match {
        case 0 => ("151M", 151, 0)
        case 1 => ("10S131M10S", 151, 10)
        case 2 => ("75M4D72M", 147, 0)
        case 3 => ("50M1000N101M", 151, 0)
        case 4 => ("5H146M", 146, 0)
        case _ => ("70M8I73M", 151, 0)
      }
      val phase = Math.floorMod(start - 1 - clipShift, 4)
      AlignmentRecord(s"r$i", 0, "chr0", start, 0, 60, cigar, null, 0, 0,
        periodic.substring(phase, phase + rlen), "*", Map("XO" -> s"i:${i % 100}"))
    }.sortBy(_.start)

  test("read-cost attribution: inflate vs rANS vs assembly (printed split); boundary scan over payloads is clean and cheap") {
    val perContainer = 10000
    val recs = mkRecords(40000)
    // assemble a full in-memory CRAM (what the sink's single-file commit produces)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(CramContainers.encodeFileDefinition())
    bos.write(CramRecordWriter.encodeHeaderContainer(header))
    var counter = 0L
    recs.grouped(perContainer).foreach { g =>
      val enc = CramRecordWriter.encodeContainer(g.toIndexedSeq, header, counter,
        PeriodicRef, gzipLevel = 1)
      bos.write(enc.bytes)
      counter += g.length
    }
    bos.write(CramContainers.encodeEofContainer())
    val bytes = bos.toByteArray
    val in = SeekableInput.ofBytes(bytes)
    val (major, _) = CramContainers.readFileDefinition(in)
    val cs = CramContainers.containers(in).filter(c => !c.isEof && c.nRecords > 0)
    val payloads = cs.map(c => CramRecordCodec.containerPayload(in, c))

    // warm-up (JIT) then measure per-method block decompress
    payloads.foreach { p =>
      var off = 0
      while (off < p.length) off = CramRecordCodec.readBlock(p, off, major)._2
    }
    val methodTime = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    val methodBytes = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    payloads.foreach { p =>
      var off = 0
      while (off < p.length) {
        val m = p(off) & 0xff
        val t0 = System.nanoTime()
        val (blk, next) = CramRecordCodec.readBlock(p, off, major)
        methodTime(m) += (System.nanoTime() - t0) / 1e9
        methodBytes(m) += blk.data.length.toLong
        off = next
      }
    }

    // full decode with a timing ref source
    var refS = 0.0
    val timedRef = new CramRefSource {
      override def region(rid: Int, start1: Int, span: Int): Array[Byte] = {
        val t0 = System.nanoTime()
        val r = PeriodicRef.region(rid, start1, span)
        refS += (System.nanoTime() - t0) / 1e9
        r
      }
    }
    val t0 = System.nanoTime()
    var n = 0
    var aCount = 0L
    payloads.foreach { p =>
      val it = CramRecordCodec.decodeContainer(p, major, header, timedRef).iterator
      while (it.hasNext) {
        val r = it.next()
        n += 1
        if (r.cigar == "151M") aCount += 1
      }
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    val blockS = methodTime.values.sum
    val assemblyS = decodeS - refS - blockS
    val gzipS = methodTime(1)
    info(f"decode ${decodeS}%.3f s for $n records: blocks ${blockS}%.3f s " +
      f"(gzip ${gzipS}%.3f, rans ${methodTime(4)}%.3f), ref ${refS}%.3f s, assembly ~${assemblyS}%.3f s")
    println(f"[cram-read-cost] decode=${decodeS}%.3f blocks=${blockS}%.3f gzip=${gzipS}%.3f " +
      f"rans=${methodTime(4)}%.3f ref=${refS}%.3f assembly=${assemblyS}%.3f records=$n")
    assert(n == 40000)
    assert(aCount == recs.count(_.cigar == "151M").toLong, "decode must reproduce the cigar census")
    // fact 1: the gzip'd series blocks are a minor share of decode CPU —
    // generous 50% ceiling (measured ~7%); a blow-past means an inflate
    // regression, which is a different bug than the one round 12 fixed
    assert(gzipS < decodeS * 0.5, f"gzip inflate ${gzipS}%.3f s should be a minor share of decode ${decodeS}%.3f s")

    // fact 2: boundary scan across this workload's own payload bytes —
    // every split start inside the file must snap to a true container
    // boundary (no false accepts), and the whole-file scan must be cheap
    // (pre-fix this was ~10 µs/offset ≈ 60 s for this file; bound set 20×
    // above the post-fix measurement, far below the pre-fix cost)
    val trueOffsets = cs.map(_.offset).toSet
    val fileSize = bytes.length.toLong
    val t1 = System.nanoTime()
    var probe = CramContainers.FileDefinitionLength.toLong
    while (probe < fileSize) {
      val found = CramContainers.findBoundary(in, probe + 1, fileSize)
      assert(found == fileSize || trueOffsets.contains(found) ||
        cs.exists(c => c.offset + c.totalLength == found), // EOF container offset
        s"boundary scan from ${probe + 1} accepted a non-boundary $found")
      probe = if (found >= fileSize) fileSize else found
    }
    val scanS = (System.nanoTime() - t1) / 1e9
    info(f"boundary scans across all ${cs.size} containers: ${scanS}%.3f s")
    println(f"[cram-read-cost] boundary_scan_s=${scanS}%.3f containers=${cs.size}")
    assert(scanS < 10.0, f"boundary scans took ${scanS}%.1f s — landmark sanity guard regressed")
  }
}
