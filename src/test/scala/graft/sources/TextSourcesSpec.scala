package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.bam.TestReads
import graft.bgzf.{BgzfOutputStream, SeekableInput}
import graft.vcf.{Genotype, Variant, VcfCodec, VcfHeader, VcfSpecWriter}

class SplitTextReaderSpec extends AnyFunSuite {
  private val rng = new scala.util.Random(7)

  private def mkLines(n: Int): Seq[String] =
    (0 until n).map(i => s"line-$i-" + ("x" * rng.nextInt(120)))

  test("plain text: every split size yields exactly the full line set") {
    val lines = mkLines(500)
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    val in = SeekableInput.ofBytes(bytes)
    for (splitSize <- Seq(37, 1000, 8192, bytes.length + 1)) {
      val got = Seq.newBuilder[String]
      var start = 0L
      while (start < bytes.length) {
        val end = math.min(bytes.length.toLong, start + splitSize)
        got ++= SplitTextReader.lines(in, start, end, bgzf = false)
        start = end
      }
      assert(got.result() == lines, s"splitSize=$splitSize")
    }
  }

  test("plain text: no trailing newline on last line") {
    val bytes = "a\nb\nc".getBytes("UTF-8")
    val in = SeekableInput.ofBytes(bytes)
    assert(SplitTextReader.lines(in, 0, bytes.length.toLong, bgzf = false).toSeq == Seq("a", "b", "c"))
  }

  test("bgzf text: every split size yields exactly the full line set") {
    val lines = mkLines(2000)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new BgzfOutputStream(bos)
    out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val file = bos.toByteArray
    val in = SeekableInput.ofBytes(file)
    for (splitSize <- Seq(1000, 9973, 64 * 1024, file.length + 1)) {
      val got = Seq.newBuilder[String]
      var start = 0L
      while (start < file.length) {
        val end = math.min(file.length.toLong, start + splitSize)
        got ++= SplitTextReader.lines(in, start, end, bgzf = true)
        start = end
      }
      assert(got.result() == lines, s"splitSize=$splitSize")
    }
  }

  test("bgzf text: concatenated newline-aligned parts lose no line at any split size") {
    // The single-file sink's merge produces exactly this shape: N independent
    // headerless BGZF streams back to back, every part seam a block boundary
    // whose predecessor block ends with '\n'. Regression: the predecessor
    // probe used BgzfInputStream.read(), whose eager block advance hid the
    // final byte of the predecessor block, so the split starting at a seam
    // skipped its genuine first line (one dropped record per unlucky seam —
    // CORRECTNESS_r02 q_vcf_roundtrip).
    val parts = (0 until 8).map(p => mkLines(120).map(l => s"p$p-$l"))
    val bos = new java.io.ByteArrayOutputStream()
    parts.foreach { ls =>
      val out = new BgzfOutputStream(bos, writeEof = false)
      out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8"))
      out.close()
    }
    bos.write(graft.bgzf.Bgzf.EofBlock)
    val file = bos.toByteArray
    val all = parts.flatten
    val in = SeekableInput.ofBytes(file)
    for (splitSize <- Seq(517, 1000, 4096, 9973, file.length + 1)) {
      val got = Seq.newBuilder[String]
      var start = 0L
      while (start < file.length) {
        val end = math.min(file.length.toLong, start + splitSize)
        got ++= SplitTextReader.lines(in, start, end, bgzf = true)
        start = end
      }
      assert(got.result() == all, s"splitSize=$splitSize")
    }
  }

  test("bgzf text: arbitrary block boundaries (newline-aligned, mid-line, tiny) never lose or duplicate lines") {
    // Simulates foreign writers: blocks cut at ARBITRARY byte positions —
    // some exactly after '\n' (the ownership-decision case), some mid-line,
    // some 1-byte. Built with Bgzf.compressBlock directly so the cut points
    // are ours, not the stream's fixed payload size.
    val rng2 = new scala.util.Random(13)
    val lines = mkLines(400)
    val payload = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < payload.length) {
      val cut = rng2.nextInt(4) match {
        case 0 => // cut exactly after the next newline
          val i = payload.indexOf('\n', off + 1)
          if (i < 0) payload.length else i + 1
        case 1 => off + 1 // single-byte block
        case _ => math.min(payload.length, off + 1 + rng2.nextInt(300))
      }
      bos.write(graft.bgzf.Bgzf.compressBlock(payload, off, cut - off))
      off = cut
    }
    bos.write(graft.bgzf.Bgzf.EofBlock)
    val file = bos.toByteArray
    val in = SeekableInput.ofBytes(file)
    for (splitSize <- Seq(97, 512, 2048, 9973, file.length + 1)) {
      val got = Seq.newBuilder[String]
      var start = 0L
      while (start < file.length) {
        val end = math.min(file.length.toLong, start + splitSize)
        got ++= SplitTextReader.lines(in, start, end, bgzf = true)
        start = end
      }
      assert(got.result() == lines, s"splitSize=$splitSize")
    }
  }

  test("bgzf text: empty predecessor blocks (mid-file EOF terminators) are skipped") {
    // parts concatenated WITH their EOF terminators: predecessor of a seam
    // block is an empty block; ownership must look through it to the last
    // data byte
    val parts = (0 until 4).map(p => (0 until 50).map(i => s"e$p-$i"))
    val bos = new java.io.ByteArrayOutputStream()
    parts.foreach { ls =>
      val out = new BgzfOutputStream(bos, writeEof = true) // EOF block per part
      out.write(ls.mkString("", "\n", "\n").getBytes("UTF-8"))
      out.close()
    }
    val file = bos.toByteArray
    val all = parts.flatten
    val in = SeekableInput.ofBytes(file)
    for (splitSize <- Seq(311, 1024, file.length + 1)) {
      val got = Seq.newBuilder[String]
      var start = 0L
      while (start < file.length) {
        val end = math.min(file.length.toLong, start + splitSize)
        got ++= SplitTextReader.lines(in, start, end, bgzf = true)
        start = end
      }
      assert(got.result() == all, s"splitSize=$splitSize")
    }
  }

  test("cursor: the byte lines equal lines() at every split size, with exact start/end offsets") {
    // newline-aligned and mid-line block cuts, empty mid-file blocks, CRLF
    // and empty lines, and lines longer than a BGZF block and than the
    // plain reader's 64 KiB buffer
    val rng2 = new scala.util.Random(29)
    val texts = (0 until 600).map { i =>
      if (i % 97 == 5) "L" * (70000 + i) else if (i % 41 == 0) "" else mkLines(1).head
    }
    val ends = texts.indices.map(i => if (i % 3 == 0) "\r\n" else "\n")
    val payload = texts.zip(ends).map { case (t, e) => t + e }.mkString.getBytes("UTF-8")
    val want = texts
    val bos = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < payload.length) {
      val cut = rng2.nextInt(4) match {
        case 0 => val i = payload.indexOf('\n', off + 1); if (i < 0) payload.length else i + 1
        case 1 => bos.write(graft.bgzf.Bgzf.EofBlock); math.min(payload.length, off + 1 + rng2.nextInt(40))
        case _ => math.min(payload.length, off + 1 + rng2.nextInt(3000))
      }
      var o = off
      while (o < cut) { // a block holds at most 64 KiB
        val n = math.min(cut - o, 60000)
        bos.write(graft.bgzf.Bgzf.compressBlock(payload, o, n)); o += n
      }
      off = cut
    }
    bos.write(graft.bgzf.Bgzf.EofBlock)
    for ((file, bgzf) <- Seq((bos.toByteArray, true), (payload, false))) {
      val in = SeekableInput.ofBytes(file)
      for (splitSize <- Seq(211, 4096, 65536, file.length + 1)) {
        val got = Seq.newBuilder[(String, Long, Long)]
        var start = 0L
        while (start < file.length) {
          val end = math.min(file.length.toLong, start + splitSize)
          val c = SplitTextReader.cursor(in, start, end, bgzf)
          val mine = Iterator.continually(c.next()).takeWhile(identity).map(_ => (c.text, c.start, c.end)).toVector
          assert(mine.map(_._1) == SplitTextReader.lines(in, start, end, bgzf).toVector, s"split $start")
          got ++= mine
          start = end
        }
        val all = got.result()
        assert(all.map(_._1) == want, s"bgzf=$bgzf splitSize=$splitSize")
        // each line starts at its offset, and ends where the next begins
        all.zip(all.drop(1)).foreach { case (a, b) => assert(a._3 == b._2, s"end of '${a._1.take(20)}'") }
        all.zipWithIndex.filter(_._2 % 7 == 0).foreach { case ((t, at, _), i) =>
          val n = t.getBytes("UTF-8").length
          val bytes = new Array[Byte](n)
          if (bgzf) {
            val s = new graft.bgzf.BgzfInputStream(in)
            s.seekVirtual(at)
            s.readFully(bytes, 0, n)
          } else in.preadFully(at, bytes, 0, n)
          assert(new String(bytes, "UTF-8") == t, s"line $i at $at")
        }
      }
    }
  }
}

class SamVcfSourceSpec extends AnyFunSuite with SparkFixture {

  private def tmpDir(): java.nio.file.Path = {
    val d = Files.createTempDirectory("textsrc")
    d.toFile.deleteOnExit()
    d
  }

  test("SAM: write single-file, read back, round-trips all fields") {
    import spark.implicits._
    val recs = TestReads.mixed(300)
    val dir = tmpDir()
    val out = dir.resolve("t.sam")
    spark.createDataset(recs).toDF()
      .write.format("sam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135").save(out.toString)
    // file starts with header
    val first = Files.readAllLines(out).get(0)
    assert(first.startsWith("@HD"))
    val back = spark.read.format("sam").option("splitSize", 8192).load(out.toString)
      .as[graft.bam.AlignmentRecord].collect()
    assert(back.length == recs.size)
    assert(back.sortBy(r => (r.readName, r.flags)).toSeq == recs.sortBy(r => (r.readName, r.flags)))
  }

  test("SAM: intervals option filters like BAM") {
    import spark.implicits._
    val recs = TestReads.mixed(300)
    val dir = tmpDir()
    val out = dir.resolve("iv.sam")
    spark.createDataset(recs).toDF()
      .write.format("sam").mode("overwrite")
      .option("refs", "chr20:1000000,chr21:1000135").save(out.toString)
    val n = spark.read.format("sam").option("intervals", "chr21:5000-9999").load(out.toString).count()
    val want = recs.count(r => r.contig == "chr21" && r.start <= 9999 && math.max(r.end, r.start) >= 5000)
    assert(n == want)
  }

  private def sampleVariants(n: Int): Seq[Variant] =
    (0 until n).map { i =>
      val ref = "ACT".take(1 + i % 3)
      Variant("chr1", 1000 + i * 10, 1000 + i * 10 + ref.length - 1, if (i % 3 == 0) s"rs$i" else null,
        ref, if (i % 4 == 0) Seq("A", "T") else Seq("G"),
        if (i % 5 == 0) null else java.lang.Double.valueOf(30.0 + i % 50),
        if (i % 2 == 0) Seq("PASS") else Seq("q10"),
        Map("DP" -> (100 + i).toString, "AF" -> "0.5") ++ (if (i % 7 == 0) Map("DB" -> "") else Map.empty),
        Seq(Genotype("s1", "0/1", Map("DP" -> "30", "GQ" -> "99")),
          Genotype("s2", "1/1", Map("DP" -> "28", "GQ" -> "87"))))
    }

  test("VCF codec: line round-trip") {
    sampleVariants(40).foreach { v =>
      val line = VcfSpecWriter.toLine(v)
      val v2 = VcfCodec.fromLine(line, Seq("s1", "s2"))
      assert(v2 == v, s"line: $line")
    }
  }

  test("VCF: single-file plain + bgz round-trips through spark") {
    import spark.implicits._
    val vs = sampleVariants(500)
    val dir = tmpDir()
    for (name <- Seq("t.vcf", "t.vcf.bgz")) {
      val out = dir.resolve(name)
      spark.createDataset(vs).toDF()
        .write.format("vcf").mode("overwrite").save(out.toString)
      val back = spark.read.format("vcf").option("splitSize", 4096).load(out.toString)
        .as[Variant].collect()
      assert(back.length == vs.size, name)
      assert(back.sortBy(_.start).toSeq == vs.sortBy(_.start), name)
    }
    // bgz variant ends with BGZF terminator
    val bytes = Files.readAllBytes(dir.resolve("t.vcf.bgz"))
    assert(bytes.takeRight(28).sameElements(graft.bgzf.Bgzf.EofBlock))
  }

  test("VCF: nested-pruned genotype reads serve the right subfields") {
    // regression: selecting only genotypes.gt makes Catalyst prune the
    // genotype struct to {gt}; the scan must emit structs matching the
    // PRUNED schema, not the full (sample, gt, fields) layout — the old
    // positional getter served `sample` bytes as `gt` here
    import spark.implicits._
    val vs = sampleVariants(50)
    val out = tmpDir().resolve("pruned.vcf")
    spark.createDataset(vs).toDF()
      .write.format("vcf").mode("overwrite").save(out.toString)
    val back = spark.read.format("vcf").load(out.toString)
    val gts = back.selectExpr("genotypes[0].gt AS g").distinct().as[String].collect()
    assert(gts.toSet == Set("0/1"))
    // reordered two-field subset: (fields, sample) in that pruned order
    val pair = back
      .selectExpr("genotypes[1].fields['GQ'] AS q", "genotypes[1].sample AS n")
      .distinct().as[(String, String)].collect()
    assert(pair.toSet == Set(("87", "s2")))
    // full-struct access stays intact
    val full = back.selectExpr("explode(genotypes) AS g")
      .selectExpr("g.sample", "g.gt", "g.fields['DP']").distinct()
      .as[(String, String, String)].collect()
    assert(full.toSet == Set(("s1", "0/1", "30"), ("s2", "1/1", "28")))
  }

  test("VCF: writer resolves genotype subfields by NAME, not position") {
    // a user df may build the genotype struct as (gt, sample, fields) —
    // legal, same names — the writer must not emit the sample as the call
    import spark.implicits._
    val out = tmpDir().resolve("reordered.vcf")
    spark.createDataset(sampleVariants(20)).toDF()
      .selectExpr("contig", "start", "end", "id", "ref", "alt", "qual",
        "filters", "info",
        "transform(genotypes, g -> struct(g.gt AS gt, g.sample AS sample, g.fields AS fields)) AS genotypes")
      .write.format("vcf").mode("overwrite").save(out.toString)
    val back = spark.read.format("vcf").load(out.toString)
      .selectExpr("explode(genotypes) AS g")
      .selectExpr("g.sample", "g.gt").distinct()
      .as[(String, String)].collect().toSet
    assert(back == Set(("s1", "0/1"), ("s2", "1/1")))
  }

  test("VCF: sharded sink writes complete per-shard files, plain and BGZF") {
    import spark.implicits._
    val vs = sampleVariants(400)
    for (suffix <- Seq(".vcf", ".vcf.bgz", ".vcf.gz")) {
      val dir = tmpDir()
      val out = dir.resolve("shards")
      spark.createDataset(vs).toDF().repartition(4)
        .write.format("vcf").mode("overwrite")
        .option("shardSuffix", suffix).save(out.toString)
      val shards = Files.list(out).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
      assert(shards.size == 4, s"$suffix: $shards")
      assert(shards.forall(_.getFileName.toString.endsWith(suffix)), s"$suffix")
      if (suffix != ".vcf") shards.foreach { p =>
        // every BGZF shard is a complete standalone file (terminator present)
        val bytes = Files.readAllBytes(p)
        assert(bytes.takeRight(28).sameElements(graft.bgzf.Bgzf.EofBlock), s"$p")
      }
      val back = spark.read.format("vcf").load(out.toString).as[Variant].collect()
      assert(back.length == vs.size, suffix)
      assert(back.sortBy(_.start).toSeq == vs.sortBy(_.start), suffix)
    }
  }

  test("VCF: plain-gzip fallback reads whole file in one split") {
    import spark.implicits._
    val vs = sampleVariants(100)
    val dir = tmpDir()
    val plain = dir.resolve("t.vcf")
    spark.createDataset(vs).toDF().write.format("vcf").mode("overwrite").save(plain.toString)
    // gzip it (non-BGZF)
    val gz = dir.resolve("t2.vcf.gz")
    val go = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    go.write(Files.readAllBytes(plain)); go.close()
    val back = spark.read.format("vcf").load(gz.toString)
    assert(back.count() == vs.size)
    assert(back.rdd.getNumPartitions == 1) // not splittable
  }

  test("VCF: a lone \\r inside a line reads the same plain, BGZF and gzipped") {
    // the line rule is '\n' only with one trailing '\r' stripped, for every
    // compression: a lone '\r' mid-INFO stays part of the value
    val text = Seq("##fileformat=VCFv4.2", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
      "chr1\t100\ta\tA\tG\t30\tPASS\tDP=5\rX=1;AF=0.5\tGT\t0/1",
      "chr1\t200\tb\tC\tT\t40\tPASS\tDP=7\tGT\t1/1\r",
      "chr1\t300\tc\tG\tA\t50\tPASS\tDP=9\r\tGT\t0/0").mkString("", "\n", "\n").getBytes("UTF-8")
    val dir = tmpDir()
    val plain = dir.resolve("cr.vcf")
    Files.write(plain, text)
    val bgz = dir.resolve("cr.vcf.bgz")
    val bo = new BgzfOutputStream(Files.newOutputStream(bgz))
    bo.write(text); bo.close()
    val gz = dir.resolve("cr.vcf.gz")
    val go = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    go.write(text); go.close()
    def rows(p: java.nio.file.Path) = spark.read.format("vcf").load(p.toString).collect().map(_.toString).toSeq
    val want = rows(plain)
    assert(want.length == 3 && want.head.contains("5\rX"), want)
    assert(rows(bgz) == want)
    assert(rows(gz) == want)
  }

  test("VCF: intervals filter + sharded write") {
    import spark.implicits._
    val vs = sampleVariants(500)
    val dir = tmpDir().resolve("sharded")
    spark.createDataset(vs).toDF().repartition(4)
      .write.format("vcf").mode("overwrite").save(dir.toString)
    val back = spark.read.format("vcf").load(dir.toString)
    assert(back.count() == vs.size)
    val n = spark.read.format("vcf").option("intervals", "chr1:2000-3000").load(dir.toString).count()
    val want = vs.count(v => v.start <= 3000 && v.end >= 2000)
    assert(n == want)
  }
}
