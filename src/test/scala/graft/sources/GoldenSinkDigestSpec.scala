package graft.sources

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.bam.TestReads
import graft.fastq.FastqRecord
import graft.vcf.{Genotype, Variant}

/** Pins the exact bytes every sink writes: one seeded read / variant /
  * FASTQ / CRAM-spec set goes through every format × {single-file, sharded}
  * × sidecar option, and the SHA-256 of each output file and sidecar must
  * equal the digest recorded in `golden-sink-digests.txt`. A change to the
  * sink machinery (staging, part naming, merge, index co-write) must leave
  * every digest unchanged; a deliberate format change re-records the file.
  */
class GoldenSinkDigestSpec extends AnyFunSuite with SparkFixture {
  import GoldenSinkDigestSpec._

  test("every sink output and sidecar matches its recorded SHA-256") {
    val expected = scala.io.Source.fromResource("golden-sink-digests.txt").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split(" +", 2); k -> v }.toMap
    val got = digests(spark)
    assert(got.keySet == expected.keySet,
      s"output files differ: missing ${(expected.keySet -- got.keySet).toSeq.sorted}, " +
        s"extra ${(got.keySet -- expected.keySet).toSeq.sorted}")
    val diff = got.toSeq.sorted.collect { case (k, v) if expected(k) != v => k }
    assert(diff.isEmpty, s"bytes changed: ${diff.mkString(", ")}")
  }
}

object GoldenSinkDigestSpec {
  private val refs = "chr20:1000000,chr21:2000135"

  private def reads(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(TestReads.mixed(300), 3)).toDF()
  }

  private def variants(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vs = (0 until 400).map { i =>
      val start = 1000 + i * 37
      val sv = i % 41 == 0
      Variant("chr20", start, if (sv) start + 500 else start, if (i % 3 == 0) s"rs$i" else null,
        "A", Seq(if (sv) "<DEL>" else "T"), if (i % 5 == 0) null else java.lang.Double.valueOf(i % 60),
        Seq("PASS"), if (sv) Map("END" -> (start + 500).toString, "SVTYPE" -> "DEL")
          else Map("DP" -> rnd.nextInt(90).toString),
        Seq(Genotype("s1", "0/1", Map("DP" -> rnd.nextInt(40).toString)),
          Genotype("s2", "1/1", Map("DP" -> rnd.nextInt(40).toString))))
    }
    spark.createDataset(spark.sparkContext.parallelize(vs, 3)).toDF()
  }

  private def fastq(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val rs = (0 until 300).map { i =>
      val k = 4 + i % 7
      FastqRecord(f"q$i%04d", if (i % 4 == 0) s"c$i" else null, "ACGTN" * k, ("I#5" * (2 * k)).take(5 * k))
    }
    spark.createDataset(spark.sparkContext.parallelize(rs, 3)).toDF()
  }

  private def containerSpecs(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0, 120, 1, 3).select(
      (col("id") / 40).cast("int").as("ref_seq_id"),
      (col("id") * 100 + 1).cast("int").as("start_pos"),
      lit(90).as("span"),
      (col("id") % 10 + 1).cast("int").as("n_records"),
      ((col("id") % 5) * 8).cast("int").as("data_length"))

  /** (format, output name, options, input) of every pinned write. */
  private def cases(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String, Map[String, String], DataFrame)] = {
    val r = reads(spark); val v = variants(spark); val q = fastq(spark)
    val c = containerSpecs(spark)
    val rf = Map("refs" -> refs)
    Seq(
      ("bam", "plain.bam", rf, r),
      ("bam", "indexed.bam", rf ++ Map("writeSbi" -> "true", "writeBai" -> "true"), r),
      ("bam", "level1.bam", rf ++ Map("compressionLevel" -> "1", "writeSbi" -> "true",
        "sbiGranularity" -> "64"), r),
      ("bam", "bam_shards", rf, r),
      ("bam", "bam_shards_sbi", rf ++ Map("writeSbi" -> "true", "writeBai" -> "true"), r),
      ("sam", "plain.sam", rf, r),
      ("sam", "sam_shards", rf, r),
      ("vcf", "plain.vcf", Map.empty, v),
      ("vcf", "indexed.vcf", Map("writeIdx" -> "true"), v),
      ("vcf", "plain.vcf.bgz", Map.empty, v),
      ("vcf", "indexed.vcf.bgz", Map("writeTbi" -> "true"), v),
      ("vcf", "indexed.vcf.gz", Map("writeTbi" -> "true", "compressionLevel" -> "3"), v),
      ("vcf", "vcf_shards", Map.empty, v),
      ("vcf", "vcf_shards_gz", Map("shardSuffix" -> ".vcf.gz"), v),
      ("vcf", "vcf_shards_bgz", Map("shardSuffix" -> ".vcf.bgz"), v),
      ("fastq", "plain.fastq", Map.empty, q),
      ("fastq", "plain.fq.bgz", Map.empty, q),
      ("fastq", "fastq_shards", Map.empty, q),
      ("fastq", "fastq_shards_gz", Map("shardSuffix" -> ".fastq.gz"), q),
      ("cram", "specs.cram", Map.empty, c),
      ("cram", "indexed_specs.cram", Map("writeCrai" -> "true"), c),
      ("cram", "cram_spec_shards", Map("writeCrai" -> "true"), c),
      ("cram", "records.cram", rf ++ Map("records" -> "true", "recordsPerContainer" -> "100"), r),
      ("cram", "records_noidx.cram", rf ++ Map("records" -> "true", "writeCrai" -> "false"), r),
      ("cram", "records_v31.cram", rf ++ Map("records" -> "true", "version" -> "3.1",
        "recordsPerContainer" -> "150"), r),
      ("cram", "cram_record_shards", rf ++ Map("records" -> "true"), r))
  }

  private def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Writes every case into a fresh directory; returns relative output path
    * → SHA-256 for every visible file the writes left behind.
    */
  def digests(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    val root = Files.createTempDirectory("golden-sinks")
    cases(spark).foreach { case (format, name, opts, df) =>
      df.write.format(format).mode("overwrite").options(opts).save(root.resolve(name).toString)
    }
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    files.filter { p =>
      root.relativize(p).iterator().asScala.forall { seg =>
        val s = seg.toString
        !s.startsWith(".") && !s.startsWith("_")
      }
    }.map(p => root.relativize(p).toString -> sha256(p)).toMap
  }
}
