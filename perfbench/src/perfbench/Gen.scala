package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, row
  * index), so the same seed gives the same rows on any core count.
  *
  * Reads and variants are laid out coordinate-sorted by construction: row
  * `i` lands on contig `i / perContig` at a start that grows with
  * `i % perContig` (one jittered slot per row), so the graft sinks can prove
  * sortedness and co-write `.bai`/`.tbi` without a sort in set-up.
  */
object Gen {
  val Contigs = 24
  val ContigLen = 2000000
  val ReadLen = 151
  val Samples = 16
  /** Dictionary lengths leave room for mates placed past the last slot. */
  val Refs: String = (1 to Contigs).map(c => f"chr$c%02d:${ContigLen + 1000}").mkString(",")
  def contigName(c: Int): String = f"chr${c + 1}%02d"

  /** splitmix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def rnd(seed: Long, i: Long, salt: Int): Long = mix(mix(seed * 31 + salt) ^ i)
  private def below(r: Long, n: Int): Int = java.lang.Math.floorMod(r, n.toLong).toInt

  /** Index permutation for the scrambled parquet copies: a multiplicative
    * step coprime to `n` visits every row once in a seed-dependent order.
    */
  private def scramble(seed: Long, n: Long): Long => Long = {
    var a = (below(mix(seed), (n - 1).toInt.max(1)) + 1).toLong
    while (BigInt(a).gcd(BigInt(n)) != 1) a += 1
    val (step, b) = (a, below(mix(seed + 1), n.toInt.max(1)).toLong)
    i => (i * step + b) % n
  }

  // ---- reads -----------------------------------------------------------

  private val Bases = "ACGT"
  private val Cigars = Array("151M", "120M31S", "70M2D81M")
  private val CigarRefLen = Array(151, 120, 153)

  def read(seed: Long, n: Long, i: Long): Row = {
    val per = n / Contigs
    val c = (i / per).toInt.min(Contigs - 1)
    val k = i - c * per
    val step = (ContigLen / per).toInt.max(1)
    val r0 = rnd(seed, i, 1)
    val start = (1 + k * step + below(r0, step)).toInt
    val cig = if (below(r0 >>> 20, 10) < 8) 0 else 1 + below(r0 >>> 24, 2)
    val end = start + CigarRefLen(cig) - 1
    val r1 = rnd(seed, i, 2)
    val reverse = (r1 & 1) != 0
    val flags = 1 | 2 | (if (reverse) 16 else 0) | (if ((r1 & 2) != 0) 32 else 0) |
      (if ((r1 & 4) != 0) 64 else 128)
    val mateStart = start + 50 + below(r1 >>> 8, 250)
    val tlen0 = mateStart + ReadLen - start
    val seq = new Array[Char](ReadLen)
    val qual = new Array[Char](ReadLen)
    var j = 0
    var bits = rnd(seed, i, 3)
    while (j < ReadLen) {
      if (j % 16 == 0) bits = rnd(seed, i * 16 + j, 4)
      seq(j) = Bases.charAt((bits & 3).toInt)
      qual(j) = ('#' + below(bits >>> 2, 38)).toChar
      bits >>>= 4
      j += 1
    }
    val nm = below(r1 >>> 16, 6)
    val as = ReadLen - 5 * nm
    val md = if (nm == 0) s"${CigarRefLen(cig)}" else s"${below(r1 >>> 24, 100)}A${CigarRefLen(cig) - 1 - below(r1 >>> 24, 100)}"
    // keys in sorted order: the sink writes tags sorted, so a read-back
    // map iterates in this order and row checksums compare byte for byte
    val attrs = ListMap(
      "AS" -> s"i:$as",
      "MD" -> s"Z:$md",
      "NM" -> s"i:$nm",
      "RG" -> s"Z:rg${below(r1 >>> 32, 4)}",
      "XS" -> s"i:${as - below(r1 >>> 40, 30)}")
    Row(f"s${seed & 0xffff}%04xr$i", flags, contigName(c), start, end, below(r0 >>> 32, 61),
      Cigars(cig), contigName(c), mateStart, if (reverse) -tlen0 else tlen0,
      new String(seq), new String(qual), attrs)
  }

  /** `n` reads (a multiple of [[Contigs]]). Sorted order unless `scrambled`. */
  def reads(spark: SparkSession, seed: Long, n: Long, parts: Int, scrambled: Boolean): DataFrame = {
    val idx = if (scrambled) scramble(seed, n) else (i: Long) => i
    val rdd = spark.sparkContext.range(0, n, 1, parts).map(i => read(seed, n, idx(i)))
    spark.createDataFrame(rdd, graft.bam.AlignmentRecord.schema)
  }

  // ---- variants --------------------------------------------------------

  private val Gts = Array("0/0", "0/1", "1/1", "0/0", "0/1", "./.")

  def variant(seed: Long, n: Long, i: Long): Row = {
    val per = n / Contigs
    val c = (i / per).toInt.min(Contigs - 1)
    val k = i - c * per
    val step = (ContigLen / per).toInt.max(1)
    val r0 = rnd(seed, i, 11)
    val start = (1 + k * step + below(r0, step)).toInt
    val refB = below(r0 >>> 32, 4)
    val alt1 = Bases.charAt((refB + 1 + below(r0 >>> 36, 3)) % 4).toString
    val alts = if (below(r0 >>> 40, 10) == 0) Seq(alt1, Bases.charAt((refB + 2) % 4).toString) else Seq(alt1)
    val id = if (below(r0 >>> 44, 4) == 0) s"rs${seed & 0xffff}_$i" else null
    val qual = below(r0 >>> 48, 9999) / 10.0
    val filters = if (below(r0 >>> 52, 10) == 0) Seq("q10") else Seq("PASS")
    val genos = (0 until Samples).map { s =>
      val g = rnd(seed, i * Samples + s, 12)
      val dp = below(g, 60)
      val ad0 = below(g >>> 8, dp + 1)
      Row(f"S${s + 1}%02d", Gts(below(g >>> 16, Gts.length)),
        ListMap("AD" -> s"$ad0,${dp - ad0}", "DP" -> dp.toString,
          "GQ" -> below(g >>> 24, 99).toString,
          "PL" -> s"${below(g >>> 32, 255)},0,${below(g >>> 40, 255)}"))
    }
    val ac = genos.count(_.getString(1) == "0/1") + 2 * genos.count(_.getString(1) == "1/1")
    val info = ListMap("AC" -> ac.toString, "AN" -> (2 * Samples).toString,
      "DP" -> below(r0 >>> 20, 2000).toString)
    Row(contigName(c), start, start, id, Bases.charAt(refB).toString, alts, qual, filters, info, genos)
  }

  def variants(spark: SparkSession, seed: Long, n: Long, parts: Int, scrambled: Boolean): DataFrame = {
    val idx = if (scrambled) scramble(seed, n) else (i: Long) => i
    val rdd = spark.sparkContext.range(0, n, 1, parts).map(i => variant(seed, n, idx(i)))
    spark.createDataFrame(rdd, graft.vcf.Variant.schema)
  }

  // ---- relational tables for the query mix -----------------------------

  /** The four tables the query mix reads, with the column names and types
    * of the TPC-H-shaped test tables (only the columns those queries use).
    */
  def tpch(spark: SparkSession, seed: Long, dir: String, lineitems: Long, parts: Int): Unit = {
    val orders = lineitems / 4
    val nParts = (lineitems / 30).max(1)
    def write(name: String, schema: StructType, rows: Long, f: Long => Row): Unit = {
      val rdd = spark.sparkContext.range(0, rows, 1, parts).map(f)
      spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    write("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType))),
      lineitems, i => {
        val r = rnd(seed, i, 21)
        Row(i / 4, java.lang.Math.floorMod(r, nParts), java.lang.Math.floorMod(r >>> 24, 100L),
          (i % 4).toInt + 1 + below(r >>> 40, 4))
      })
    write("orders", StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType))),
      orders, i => Row(i, java.lang.Math.floorMod(rnd(seed, i, 22), (orders / 10).max(1))))
    write("part", StructType(Seq(StructField("p_partkey", LongType))), nParts, i => Row(i))
    write("nation", StructType(Seq(StructField("n_nationkey", IntegerType))), 25, i => Row(i.toInt))
  }
}
