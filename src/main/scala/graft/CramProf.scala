package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc CRAM read-path cost attribution on the q_cram_cigar_ops workload
  * shape (151 bp reads, mixed cigars, reference-based). Writes the same CRAM
  * the query writes, then walks it single-threaded timing each decode layer:
  * container walk, payload IO, per-method block decompress, record assembly
  * (incl. reference fetch, timed separately), and the end-to-end Spark scan.
  *
  * Usage: runMain graft.CramProf /root/testdata/sf0.1
  */
object CramProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the AutoProjection rule (attrKeys derivation lane below) rides the
      // same extensions injection every entry point uses
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = "/tmp/cramprof"
    new java.io.File(dir).mkdirs()
    // same synthetic FASTA the query family uses
    val fasta = writeRefFasta(dir)
    val path = s"$dir/cigar.cram"
    val refs = "chr0:1000000,chr1:1000000,chr2:1000000"

    val shape = ($"l_linenumber" % 6).cast("int")
    val cig = when(shape === 0, "151M").when(shape === 1, "10S131M10S")
      .when(shape === 2, "75M4D72M").when(shape === 3, "50M1000N101M")
      .when(shape === 4, "5H146M").otherwise("70M8I73M")
    val rlen = when(shape === 0, 151).when(shape === 1, 151)
      .when(shape === 2, 147).when(shape === 3, 151)
      .when(shape === 4, 146).otherwise(151)
    val startCol = ((($"l_partkey" * 37) % 990000) + 1).cast("int")
    val phase2 = pmod(startCol - 1 - when(shape === 1, 10).otherwise(0), lit(4))
      .cast("int") + 1
    val reads = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber").as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      startCol.as("start"),
      lit(0).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      cig.as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("ATGC" * 40).substr(phase2, rlen).as("seq"),
      lit("*").as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))

    val tw0 = System.nanoTime()
    reads.repartitionByRange(8, $"contig", $"start")
      .sortWithinPartitions($"contig", $"start")
      .write.format("cram").mode("overwrite").option("compressionLevel", "1")
      .option("records", "true").option("refs", refs)
      .option("fasta", fasta).save(path)
    val twrite = (System.nanoTime() - tw0) / 1e9
    println(f"write_s=$twrite%.2f fileBytes=${new java.io.File(path).length()}")

    // end-to-end Spark scan (the query's read side) — bisect variants
    def scan(tag: String, splitSize: Int)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        val df = spark.read.format("cram").option("records", "true")
          .option("fasta", fasta).option("splitSize", splitSize).load(path)
        val n = f(df)
        println(f"scan[$tag][$r]=${(System.nanoTime() - t0) / 1e9}%.2f n=$n")
      }
    }
    scan("full_agg", 256 * 1024) { df =>
      df.groupBy($"cigar")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum($"end".cast("long")).as("sum_end"),
          sum((length($"seq") - length(replace($"seq", lit("A")))).cast("long")).as("sum_a"))
        .count()
    }
    scan("sum_start_only", 256 * 1024)(df => df.agg(sum($"start".cast("long"))).collect().length.toLong)
    scan("full_agg_1m", 1024 * 1024) { df =>
      df.groupBy($"cigar")
        .agg(count(lit(1)).as("n_reads"),
          sum($"start".cast("long")).as("sum_start"),
          sum($"end".cast("long")).as("sum_end"),
          sum((length($"seq") - length(replace($"seq", lit("A")))).cast("long")).as("sum_a"))
        .count()
    }
    scan("select_all_count", 256 * 1024)(df => df.select($"readName", $"cigar", $"seq", $"qual", $"attributes", $"start").agg(count($"readName")).collect().length.toLong)

    // ---- realistic-entropy projection A/B --------------------------------
    // The cigar fixture's "*" quals make quality blocks tiny; real CRAMs are
    // DOMINATED by per-base qualities and carry long read names. This second
    // fixture gives every read 151 pseudo-random quality chars (16-symbol
    // alphabet via sha2 hex → ~4 bits/base after rANS) and a long
    // instrument-style name, then measures the same scan under projections —
    // the numbers behind the "pruned blocks never inflate" claim.
    val realPath = s"$dir/realistic.cram"
    val qualExpr = translate(
      substring(concat(
        sha2(concat(lit("q"), $"l_orderkey", lit("-"), $"l_linenumber"), 256),
        sha2(concat(lit("r"), $"l_orderkey", lit("-"), $"l_linenumber"), 256),
        sha2(concat(lit("s"), $"l_orderkey", lit("-"), $"l_linenumber"), 256)), 1, 151),
      "0123456789abcdef", "!#$%&'()*+,-./01")
    val realReads = spark.read.parquet(s"$sfDir/lineitem.parquet").select(
      concat(lit("A00627:18:HGW2MDSXX:"), ($"l_linenumber" % 4 + 1).cast("string"),
        lit(":"), ($"l_orderkey" % 2000).cast("string"),
        lit(":"), ($"l_partkey" % 30000).cast("string"),
        lit(":"), ($"l_suppkey" % 40000).cast("string")).as("readName"),
      lit(0).cast("int").as("flags"),
      concat(lit("chr"), ($"l_orderkey" % 3).cast("string")).as("contig"),
      startCol.as("start"),
      lit(0).cast("int").as("end"),
      lit(60).cast("int").as("mapq"),
      lit("151M").as("cigar"),
      lit(null).cast("string").as("mateContig"),
      lit(0).cast("int").as("mateStart"),
      lit(0).cast("int").as("tlen"),
      lit("ATGC" * 40).substr(pmod(startCol - 1, lit(4)).cast("int") + 1, lit(151)).as("seq"),
      qualExpr.as("qual"),
      map(lit("XO"), concat(lit("i:"), ($"l_orderkey" % 100).cast("string")))
        .as("attributes"))
    realReads.repartitionByRange(8, $"contig", $"start")
      .sortWithinPartitions($"contig", $"start")
      .write.format("cram").mode("overwrite").option("compressionLevel", "1")
      .option("records", "true").option("refs", refs)
      .option("fasta", fasta).save(realPath)
    println(s"realisticBytes=${new java.io.File(realPath).length()}")
    def rscan(tag: String, withFasta: Boolean)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        var rd = spark.read.format("cram").option("records", "true")
          .option("splitSize", 256 * 1024)
        if (withFasta) rd = rd.option("fasta", fasta)
        val n = f(rd.load(realPath))
        println(f"rscan[$tag][$r]=${(System.nanoTime() - t0) / 1e9}%.2f n=$n")
      }
    }
    rscan("all_columns", withFasta = true)(df =>
      df.select($"readName", $"cigar", $"seq", $"qual", $"attributes", $"start")
        .agg(count($"readName"), sum(length($"qual").cast("long"))).collect()(0).getLong(1))
    rscan("start_end_only_nofasta", withFasta = false)(df =>
      df.agg(sum($"start".cast("long")), count(lit(1))).collect()(0).getLong(1))
    rscan("name_start", withFasta = false)(df =>
      df.select($"readName", $"start")
        .agg(count($"readName"), sum($"start".cast("long"))).collect()(0).getLong(1))
    rscan("qual_start", withFasta = false)(df =>
      df.select($"qual", $"start")
        .agg(sum(length($"qual").cast("long")), count(lit(1))).collect()(0).getLong(1))

    // ---- attrKeys A/B on a realistic TAG payload -------------------------
    // The realistic fixture above carries one tiny XO tag, so it cannot
    // show what the key-masked attributes decode buys; real aligner output
    // carries ~8 tags dominated by MD strings. Third fixture: same
    // quals/names plus the 8-tag payload the rg_error_rate family uses.
    // Lanes: full map out (escape -> full walk), a two-key rollup with the
    // AutoProjection-derived attrKeys mask, and the same rollup with the
    // rule disabled — the wall-clock behind the "unwanted tag blocks never
    // inflate" claim (AttrAutoProjectionSpec pins the inflation counts).
    val tagPath = s"$dir/tagged.cram"
    val taggedReads = realReads.drop("attributes").withColumn("attributes",
      map(
        lit("RG"), concat(lit("Z:rg"), ($"start" % 4).cast("string")),
        lit("NM"), concat(lit("i:"), ($"start" % 9).cast("string")),
        lit("XC"), when($"start" % 2 === 0, "A:F").otherwise("A:R"),
        lit("AS"), concat(lit("i:"), ($"start" % 60 + 91).cast("string")),
        lit("XS"), concat(lit("i:"), ($"start" % 100).cast("string")),
        lit("MC"), lit("Z:151M"),
        lit("MD"), concat(lit("Z:"), ($"start" % 8).cast("string"),
          lit("A21C9T2G33A11C5T17A9G12C8T"), ($"start" % 50).cast("string")),
        // OQ: original base qualities — the classic FAT tag real pipelines
        // carry (BQSR keeps pre-recalibration quals here); 151 chars at the
        // same ~4-bit/base entropy as the primary quals, so its block is
        // ~45% of the file and the masked decode's skip is visible in wall
        lit("OQ"), concat(lit("Z:"), reverse($"qual")),
        lit("ms"), concat(lit("i:"), ($"start" % 2000 + 4000).cast("string"))))
    taggedReads.repartitionByRange(8, $"contig", $"start")
      .sortWithinPartitions($"contig", $"start")
      .write.format("cram").mode("overwrite").option("compressionLevel", "1")
      .option("records", "true").option("refs", refs)
      .option("fasta", fasta).save(tagPath)
    println(s"taggedBytes=${new java.io.File(tagPath).length()}")
    def tscan(tag: String, auto: Boolean)(f: org.apache.spark.sql.DataFrame => Long): Unit = {
      for (r <- 1 to 3) {
        val t0 = System.nanoTime()
        var rd = spark.read.format("cram").option("records", "true")
          .option("splitSize", 256 * 1024)
        if (!auto) rd = rd.option("autoProjection", "false")
        val n = f(rd.load(tagPath))
        println(f"tscan[$tag][$r]=${(System.nanoTime() - t0) / 1e9}%.2f n=$n")
      }
    }
    def rgNmRollup(df: org.apache.spark.sql.DataFrame): Long =
      df.select(substring(element_at($"attributes", "RG"), 3, 100).as("rg"),
          expr("cast(substring(element_at(attributes,'NM'),3,10) as long)").as("nm"))
        .groupBy($"rg").agg(sum($"nm").as("snm"), count(lit(1)))
        .agg(sum($"snm")).collect()(0).getLong(0)
    tscan("tag_map_full_out", auto = true)(df =>
      df.select($"attributes", $"start")
        .agg(count(when(element_at($"attributes", "MD").isNotNull, 1)), sum(size($"attributes")).cast("long").as("s"))
        .collect()(0).getLong(1))
    tscan("rg_nm_attrkeys_auto", auto = true)(rgNmRollup)
    tscan("rg_nm_full_walk", auto = false)(rgNmRollup)

    spark.stop()

    // single-threaded attribution
    import graft.cram._
    import graft.bam.SamHeader
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val conf = new Configuration()
    val in = graft.sources.HadoopIO.open(new Path(path), conf)
    val header = CramRecordCodec.readSamHeader(in)
    val (major, _) = CramContainers.readFileDefinition(in)

    val t0 = System.nanoTime()
    val cs = CramContainers.containers(in).filter(c => !c.isEof && c.nRecords > 0)
    val tWalk = (System.nanoTime() - t0) / 1e9
    println(f"container_walk_s=$tWalk%.3f nContainers=${cs.size}")

    val t1 = System.nanoTime()
    val payloads = cs.map(c => CramRecordCodec.containerPayload(in, c))
    val tIo = (System.nanoTime() - t1) / 1e9
    println(f"payload_io_s=$tIo%.3f bytes=${payloads.map(_.length.toLong).sum}")

    // per-method block decompress timing: re-walk blocks, timing each method
    val methodTime = new java.util.TreeMap[Int, Double]()
    val methodBytes = new java.util.TreeMap[Int, Long]()
    val methodRaw = new java.util.TreeMap[Int, Long]()
    var tHeaders = 0.0
    payloads.foreach { payload =>
      var p = 0
      while (p < payload.length) {
        val h0 = System.nanoTime()
        val method = payload(p) & 0xff
        var q = p + 2
        val (_, n1) = Itf8.read(payload, q); q += n1
        val (csize, n2) = Itf8.read(payload, q); q += n2
        val (rsize, n3) = Itf8.read(payload, q); q += n3
        tHeaders += (System.nanoTime() - h0) / 1e9
        val b0 = System.nanoTime()
        val (blk, np) = CramRecordCodec.readBlock(payload, p, major)
        val dt = (System.nanoTime() - b0) / 1e9
        methodTime.merge(method, dt, (a, b) => a + b)
        methodBytes.merge(method, csize.toLong, (a, b) => a + b)
        methodRaw.merge(method, blk.data.length.toLong, (a, b) => a + b)
        p = np
      }
    }
    methodTime.forEach { (m, t) =>
      println(f"method_$m%d: decompress_s=$t%.3f packed=${methodBytes.get(m)} raw=${methodRaw.get(m)}")
    }

    // timing ref source wrapper
    val (fin, refSrc0) = {
      val fin = graft.sources.HadoopIO.open(new Path(fasta), conf)
      val fin2 = graft.sources.HadoopIO.open(new Path(fasta + ".fai"), conf)
      val b = new Array[Byte](fin2.size.toInt)
      fin2.preadFully(0, b, 0, b.length)
      fin2.close()
      val fai = Fasta.parseFai(new String(b, "UTF-8"))
      (fin, new FastaRefSource(fin, fai, header.refName))
    }
    var tRef = 0.0
    val refSrc = new CramRefSource {
      override def region(rid: Int, start1: Int, span: Int): Array[Byte] = {
        val t = System.nanoTime()
        val r = refSrc0.region(rid, start1, span)
        tRef += (System.nanoTime() - t) / 1e9
        r
      }
    }

    // full decode (blocks again + assembly + ref)
    val t2 = System.nanoTime()
    var nRec = 0L
    payloads.foreach { payload =>
      nRec += CramRecordCodec.decodeContainer(payload, major, header, refSrc).length
    }
    val tDecode = (System.nanoTime() - t2) / 1e9
    val tBlocks = {
      var s = 0.0
      methodTime.forEach((_, t) => s += t)
      s
    }
    println(f"decode_total_s=$tDecode%.3f records=$nRec")
    println(f"  of which ref_fetch_s=$tRef%.3f block_decompress_s~$tBlocks%.3f (separately measured)")
    println(f"  record_assembly_s~${tDecode - tRef - tBlocks}%.3f")
    fin.close()
    in.close()

    // direct partition-reader timing per 256 KB range (what a Spark task does)
    import graft.sources.cram.{CramRangePartition, CramRecordsPartitionReader}
    import graft.sources.SerializableConf
    import graft.bam.AlignmentRecord
    val sconf = new SerializableConf(conf)
    val fileLen = new java.io.File(path).length()
    val split = 256L * 1024
    var rows = 0L
    var tTotal = 0.0
    var tSetup = 0.0
    var start = 0L
    var nTasks = 0
    while (start < fileLen) {
      val end = math.min(start + split, fileLen)
      val t0 = System.nanoTime()
      val rd = new CramRecordsPartitionReader(CramRangePartition(path, start, end, None),
        graft.sources.ReadsTraversal(None, unplacedUnmapped = false), Some(fasta),
        graft.sources.ReadContext(sconf, graft.sources.Stringency.Strict, -1), AlignmentRecord.schema)
      tSetup += (System.nanoTime() - t0) / 1e9
      while (rd.next()) rows += 1
      rd.close()
      tTotal += (System.nanoTime() - t0) / 1e9
      nTasks += 1
      start = end
    }
    println(f"direct_reader: tasks=$nTasks rows=$rows total_s=$tTotal%.3f setup_s=$tSetup%.3f")

    // bisect the per-task setup: open, file def, sam header, header-end, fasta, boundary
    {
      var tOpen = 0.0; var tDef = 0.0; var tHdr = 0.0; var tFasta = 0.0; var tBound = 0.0
      var start = 0L
      while (start < fileLen) {
        val end = math.min(start + split, fileLen)
        var t = System.nanoTime()
        val inp = graft.sources.HadoopIO.open(new Path(path), conf)
        tOpen += (System.nanoTime() - t) / 1e9; t = System.nanoTime()
        val (mj, _) = CramContainers.readFileDefinition(inp)
        tDef += (System.nanoTime() - t) / 1e9; t = System.nanoTime()
        val hdr = CramRecordCodec.readSamHeader(inp)
        val hc = CramContainers.readContainerHeader(inp, CramContainers.FileDefinitionLength.toLong, inp.size, mj)
        val hEnd = hc.offset + hc.totalLength
        tHdr += (System.nanoTime() - t) / 1e9; t = System.nanoTime()
        val fo = graft.sources.cram.FastaRefs.open(fasta, conf, hdr.refName)
        fo._1.close()
        tFasta += (System.nanoTime() - t) / 1e9; t = System.nanoTime()
        val b = if (start <= CramContainers.FileDefinitionLength) hEnd
                else CramContainers.findBoundary(inp, start, inp.size)
        tBound += (System.nanoTime() - t) / 1e9
        inp.close()
        start = end
      }
      println(f"setup bisect: open=$tOpen%.3f fileDef=$tDef%.3f samHeader=$tHdr%.3f fasta=$tFasta%.3f findBoundary=$tBound%.3f")
    }
  }

  private def writeRefFasta(dir: String): String = {
    val fa = new java.io.File(dir, "ref.fasta")
    if (!fa.exists()) {
      fa.getParentFile.mkdirs()
      val contigLen = 1000000
      val names = Seq("chr0", "chr1", "chr2")
      val lines = (contigLen + 59) / 60
      val block = 6 + contigLen + lines
      val fai = names.zipWithIndex.map { case (n, i) =>
        s"$n\t$contigLen\t${i.toLong * block + 6}\t60\t61\n"
      }.mkString
      java.nio.file.Files.write(new java.io.File(dir, "ref.fasta.fai").toPath,
        fai.getBytes("ASCII"))
      val body = ("ATGC" * (contigLen / 4)).grouped(60).mkString("\n")
      val tmp = new java.io.File(dir, "ref.fasta.tmp")
      java.nio.file.Files.write(tmp.toPath,
        names.map(n => s">$n\n$body\n").mkString.getBytes("ASCII"))
      tmp.renameTo(fa): Unit
    }
    fa.getPath
  }
}
