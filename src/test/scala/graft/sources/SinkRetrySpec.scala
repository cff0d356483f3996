package graft.sources

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.bam.TestReads
import graft.fastq.FastqRecord
import graft.vcf.{Genotype, Variant}

/** A retried task never changes what a sink publishes: for BAM, SAM, VCF,
  * FASTQ and CRAM, single-file and sharded, a write whose input plan throws
  * in the middle of one partition on that task's first attempt must, once
  * Spark has retried the task, leave output files and sidecars
  * byte-identical to a clean write, no `<path>.parts/` staging directory,
  * and no index beside a file the write did not commit. Task retries need
  * a `local[N,maxFailures]` master, which the shared test session is not,
  * so the writes run in a child JVM ([[SinkRetryRun]]) on this classpath.
  */
class SinkRetrySpec extends AnyFunSuite {

  private def visibleFiles(root: Path): Map[String, Array[Byte]] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(root.relativize)
      .filter(_.iterator().asScala.forall { seg => val s = seg.toString; !s.startsWith(".") && !s.startsWith("_") })
      .map(p => p.toString -> Files.readAllBytes(root.resolve(p))).toMap

  test("a task retried after a mid-partition failure writes the clean bytes, every format and sink mode") {
    val root = Files.createTempDirectory("sinkretry")
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), SinkRetryRun.getClass.getName.stripSuffix("$"), root.toString)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, log.takeRight(60).mkString("\n"))
    val failed = log.collect { case l if l.startsWith("retry-case ") =>
      val Array(_, name, n) = l.split(" "); name -> n.toInt }.toMap
    assert(failed.keySet == SinkRetryRun.cases.map(_._1).toSet, log.takeRight(60).mkString("\n"))
    for ((name, _, _) <- SinkRetryRun.cases) {
      assert(failed(name) >= 1, s"$name: no task attempt failed, nothing was retried")
      val clean = visibleFiles(root.resolve("clean"))
        .filter(_._1.startsWith(name)).map { case (k, v) => k -> v.toSeq }
      val retried = visibleFiles(root.resolve("retried"))
        .filter(_._1.startsWith(name)).map { case (k, v) => k -> v.toSeq }
      assert(clean.nonEmpty, name)
      assert(retried.keySet == clean.keySet, s"$name: files ${retried.keySet} vs ${clean.keySet}")
      assert(retried.keySet.forall(k => clean(k) == retried(k)), s"$name: bytes differ")
      // no staging left, and every sidecar sits beside a committed file
      val all = Files.walk(root.resolve("retried")).iterator().asScala.map(_.toString).toSeq
      assert(!all.exists(_.contains(".parts")), s"$name: staging left behind")
      val sidecars = Seq(".bai", ".sbi", ".tbi", ".crai", ".idx")
      retried.keySet.filter(k => sidecars.exists(k.endsWith)).foreach { k =>
        assert(retried.contains(k.substring(0, k.lastIndexOf('.'))), s"$name: $k names no committed file")
      }
    }
  }
}

/** The writes of [[SinkRetrySpec]], run in their own JVM:
  * `SinkRetryRun <dir>` writes every case to `<dir>/clean/<case>` and then,
  * with a failure injected, to `<dir>/retried/<case>`, and prints one
  * `retry-case <case> <injected failures>` line per case.
  */
object SinkRetryRun {
  private val refs = Map("refs" -> "chr20:1000000,chr21:2000135")

  /** (case, format, options); a case name ending in `_shards` is sharded. */
  val cases: Seq[(String, String, Map[String, String])] = Seq(
    ("r.bam", "bam", refs ++ Map("writeSbi" -> "true", "writeBai" -> "true")),
    ("bam_shards", "bam", refs ++ Map("writeSbi" -> "true", "writeBai" -> "true")),
    ("r.sam", "sam", refs),
    ("sam_shards", "sam", refs),
    ("v.vcf.bgz", "vcf", Map("writeTbi" -> "true")),
    ("vcf_shards", "vcf", Map("shardSuffix" -> ".vcf.bgz")),
    ("q.fastq", "fastq", Map.empty),
    ("fastq_shards", "fastq", Map.empty),
    ("r.cram", "cram", refs ++ Map("records" -> "true", "recordsPerContainer" -> "40", "writeCrai" -> "true")),
    ("cram_shards", "cram", refs ++ Map("records" -> "true", "recordsPerContainer" -> "40", "writeCrai" -> "true")))

  /** Failures injected so far (the tasks run in this JVM). */
  private val injected = new AtomicInteger()

  /** Fails the first attempt of the task that meets `poison` in `col`. */
  private def flaky(df: DataFrame, col: String, poison: String): DataFrame = {
    val f = udf { (v: String) =>
      if (v == poison && TaskContext.get().attemptNumber() == 0) {
        injected.incrementAndGet()
        throw new IllegalStateException(s"injected failure at $v")
      }
      v
    }.asNondeterministic()
    df.withColumn(col, f(df(col)))
  }

  private def input(spark: SparkSession, format: String, poison: Boolean): DataFrame = {
    import spark.implicits._
    def p(key: String) = if (poison) key else "-"
    format match {
      case "vcf" =>
        val vs = (0 until 400).map { i =>
          Variant("chr20", 1000 + i * 37, 1000 + i * 37, s"rs$i", "A", Seq("T"),
            java.lang.Double.valueOf(i % 60), Seq("PASS"), Map("DP" -> (i % 90).toString),
            Seq(Genotype("s1", "0/1", Map("DP" -> (i % 40).toString))))
        }
        flaky(spark.createDataset(spark.sparkContext.parallelize(vs, 4)).toDF(), "id", p("rs140"))
      case "fastq" =>
        val rs = (0 until 400).map(i => FastqRecord(f"q$i%04d", null, "ACGTN" * 4, "I#5" * 6 take 20))
        flaky(spark.createDataset(spark.sparkContext.parallelize(rs, 4)).toDF(), "readName", p("q0140"))
      case _ =>
        flaky(spark.createDataset(spark.sparkContext.parallelize(TestReads.mixed(150), 4)).toDF(),
          "readName", p("test-read-060"))
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = Path.of(args(0))
    val spark = SparkSession.builder().master("local[4,3]").appName("sink-retry")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "4").getOrCreate()
    try {
      for ((name, format, opts) <- cases) {
        input(spark, format, poison = false).write.format(format).mode("overwrite").options(opts)
          .save(dir.resolve("clean").resolve(name).toString)
        injected.set(0)
        input(spark, format, poison = true).write.format(format).mode("overwrite").options(opts)
          .save(dir.resolve("retried").resolve(name).toString)
        println(s"retry-case $name ${injected.get}")
      }
    } finally spark.stop()
  }
}
