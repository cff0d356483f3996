package graft.bam

import org.apache.spark.sql.types._

/** The row type every SAM-family source/sink speaks — the 11 mandatory SAM
  * columns plus typed-tag attributes (reference record model: htsjdk
  * SAMRecord, HtsjdkReadsRdd.java:19; field layout BamRecordGuesser.java:80-96).
  *
  * Unlike the reference's opaque htsjdk objects, every column is a plain
  * Catalyst type, so joins/aggregations/windows over reads "just work" and
  * whole-stage codegen applies (SURVEY.md §2.5).
  */
case class AlignmentRecord(
    readName: String,
    flags: Int,
    contig: String,   // null when refID == -1
    start: Int,       // 1-based leftmost mapped base; 0 when unplaced
    end: Int,         // 1-based inclusive alignment end; 0 when no cigar
    mapq: Int,
    cigar: String,    // "*" when absent
    mateContig: String,
    mateStart: Int,
    tlen: Int,
    seq: String,      // "*" when absent
    qual: String,     // phred+33 string; "*" when absent
    attributes: Map[String, String]) // tag -> "T:value" (T = SAM type char)

object AlignmentRecord {
  // All fields nullable so arbitrary computed DataFrames can be written
  // without nullability friction; the sink treats null ints as 0/unset.
  // The attributes map declares valueContainsNull = true for the same
  // reason: a stricter (false) declaration makes Spark's TableOutputResolver
  // wrap every write whose input map is value-nullable (any map() built from
  // computed columns) in an INTERPRETED per-row map rebuild
  // (transform + assertnotnull compensation) — measured as the top CPU frame
  // of the fixture-write stages. Readers never emit null values either way.
  val schema: StructType = StructType(Seq(
    StructField("readName", StringType, nullable = true),
    StructField("flags", IntegerType, nullable = true),
    StructField("contig", StringType, nullable = true),
    StructField("start", IntegerType, nullable = true),
    StructField("end", IntegerType, nullable = true),
    StructField("mapq", IntegerType, nullable = true),
    StructField("cigar", StringType, nullable = true),
    StructField("mateContig", StringType, nullable = true),
    StructField("mateStart", IntegerType, nullable = true),
    StructField("tlen", IntegerType, nullable = true),
    StructField("seq", StringType, nullable = true),
    StructField("qual", StringType, nullable = true),
    StructField("attributes", MapType(StringType, StringType, valueContainsNull = true), nullable = true)))

  // SAM flag bits (spec §1.4)
  val FlagPaired = 0x1
  val FlagUnmapped = 0x4
  val FlagMateUnmapped = 0x8
  val FlagReverse = 0x10
  val FlagFirstOfPair = 0x40
  val FlagSecondOfPair = 0x80
}

/** Reference sequence dictionary entry (SAM @SQ line / BAM binary ref list). */
case class BamRef(name: String, length: Int)

/** SAM header: free text (the @-lines) + the binary reference dictionary.
  * Kept as a small serializable object broadcast to writers / carried by
  * partition readers (replaces the reference's SAMFileHeader side-channel,
  * HtsjdkReadsRdd.java:16-33).
  */
case class SamHeader(text: String, refs: IndexedSeq[BamRef]) {
  @transient lazy val refIndex: Map[String, Int] = refs.iterator.map(_.name).zipWithIndex.toMap
  def refId(contig: String): Int = if (contig == null) -1 else refIndex.getOrElse(contig, -1)
  def refName(id: Int): String = if (id < 0 || id >= refs.length) null else refs(id).name
}

object SamHeader {
  /** Minimal spec-valid header text for a ref dictionary. */
  def defaultText(refs: Seq[BamRef], sortOrder: String = "coordinate"): String = {
    val sb = new StringBuilder
    sb.append(s"@HD\tVN:1.6\tSO:$sortOrder\n")
    refs.foreach(r => sb.append(s"@SQ\tSN:${r.name}\tLN:${r.length}\n"))
    sb.toString
  }

  def apply(refs: Seq[BamRef]): SamHeader = SamHeader(defaultText(refs), refs.toIndexedSeq)

  /** Parse "name:length,name:length" (the `refs` data source option). */
  def parseRefsOption(s: String): IndexedSeq[BamRef] =
    s.split(',').iterator.filter(_.nonEmpty).map { part =>
      val i = part.lastIndexOf(':')
      require(i > 0, s"bad ref spec: $part (want name:length)")
      BamRef(part.substring(0, i), part.substring(i + 1).trim.toInt)
    }.toIndexedSeq

  /** Parse @SQ lines out of header text (used when reading SAM text). */
  def refsFromText(text: String): IndexedSeq[BamRef] =
    text.linesIterator.filter(_.startsWith("@SQ")).map { line =>
      val fields = line.split('\t')
      val sn = fields.collectFirst { case f if f.startsWith("SN:") => f.substring(3) }
      val ln = fields.collectFirst { case f if f.startsWith("LN:") => f.substring(3).toInt }
      BamRef(sn.getOrElse(throw new IllegalArgumentException(s"@SQ without SN: $line")), ln.getOrElse(0))
    }.toIndexedSeq
}

/** The tag text every binary writer checks before it writes a byte of a
  * tag (SAMv1 §1.5): the key is two ASCII characters and an `A` value one
  * ASCII character, so no character is ever cut to its low byte. Also
  * checks the "T:value" shape the writers parse.
  */
object TagText {
  def check(tag: String, typed: String): Unit = {
    require(tag.length == 2 && tag.charAt(0) < 0x80 && tag.charAt(1) < 0x80, s"bad tag name $tag")
    require(typed.length >= 2 && typed.charAt(1) == ':', s"bad typed value '$typed' (want T:value)")
    if (typed.charAt(0) == 'A')
      require(typed.length == 3 && typed.charAt(2) < 0x80,
        s"bad A value in tag $tag: '${typed.substring(2)}' (want one ASCII character)")
  }
}

/** [[AlignmentRecord]] → `InternalRow` projection in a required-schema's
  * column order — shared by every record-producing SAM-family reader (BAM,
  * CRAM records mode), so the column semantics can't drift between formats.
  */
object RecordToRow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  /** Typed-tag column getter: the typed view of `attributes['XX']`, whose
    * wire rendering is "T:value"; the DECLARED column type (tagColumns
    * option) coerces it — integer wire types → long, any numeric → double,
    * everything → its value text. A wire type the declared type can't hold
    * yields null (a `Z` tag read as int), as does an absent tag — never a
    * wrong number.
    */
  private def tagGetter(tag: String, dt: DataType): AlignmentRecord => Any = {
    def wire(r: AlignmentRecord): String =
      if (r.attributes == null) null else r.attributes.getOrElse(tag, null)
    dt match {
      case LongType => r => {
        val v = wire(r)
        if (v == null || v.length < 2) null
        else v.charAt(0) match {
          case 'c' | 'C' | 's' | 'S' | 'i' | 'I' =>
            try java.lang.Long.valueOf(v.substring(2)) catch { case _: NumberFormatException => null }
          case _ => null
        }
      }
      case DoubleType => r => {
        val v = wire(r)
        if (v == null || v.length < 2) null
        else v.charAt(0) match {
          case 'c' | 'C' | 's' | 'S' | 'i' | 'I' | 'f' =>
            try java.lang.Double.valueOf(v.substring(2)) catch { case _: NumberFormatException => null }
          case _ => null
        }
      }
      case StringType => r => {
        val v = wire(r)
        if (v == null || v.length < 2) null else UTF8String.fromString(v.substring(2))
      }
      case other => throw new IllegalArgumentException(s"unsupported tag column type $other")
    }
  }

  /** `attrKeys`: key-masked `attributes` projection — the record's decoded
    * map may carry a SUPERSET (typed-tag columns pick from it too); the
    * emitted map column is filtered back down to exactly these keys.
    */
  def getters(required: StructType, attrKeys: Option[Set[String]] = None)
  : Array[AlignmentRecord => Any] =
    required.fields.map[AlignmentRecord => Any] { f =>
      if (f.name.startsWith("tag_")) tagGetter(f.name.substring(4), f.dataType)
      else if (f.name == "attributes" && attrKeys.isDefined) {
        val ks = attrKeys.get
        r => if (r.attributes == null) null
             else attrsToMapData(r.attributes, ks)
      } else baseGetter(f.name)
    }

  private def attrsToMapData(attrs: Map[String, String], keep: Set[String]): ArrayBasedMapData = {
    var n = 0
    attrs.foreach { case (k, _) => if (keep.contains(k)) n += 1 }
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    attrs.foreach { case (k, v) =>
      if (keep.contains(k)) {
        keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1
      }
    }
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
  }

  private def baseGetter(name: String): AlignmentRecord => Any =
    name match {
      case "readName" => r => if (r.readName == null) null else UTF8String.fromString(r.readName)
      case "flags" => r => r.flags
      case "contig" => r => if (r.contig == null) null else UTF8String.fromString(r.contig)
      case "start" => r => r.start
      case "end" => r => r.end
      case "mapq" => r => r.mapq
      case "cigar" => r => if (r.cigar == null) null else UTF8String.fromString(r.cigar)
      case "mateContig" => r => if (r.mateContig == null) null else UTF8String.fromString(r.mateContig)
      case "mateStart" => r => r.mateStart
      case "tlen" => r => r.tlen
      case "seq" => r => if (r.seq == null) null else UTF8String.fromString(r.seq)
      case "qual" => r => if (r.qual == null) null else UTF8String.fromString(r.qual)
      case "attributes" => r =>
        if (r.attributes == null) null
        else {
          val keys = new Array[Any](r.attributes.size)
          val vals = new Array[Any](r.attributes.size)
          var i = 0
          r.attributes.foreach { case (k, v) =>
            keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1
          }
          new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(vals))
        }
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }

  def toRow(rec: AlignmentRecord, getters: Array[AlignmentRecord => Any]): InternalRow = {
    val vals = new Array[Any](getters.length)
    var i = 0
    while (i < vals.length) { vals(i) = getters(i)(rec); i += 1 }
    new GenericInternalRow(vals)
  }
}
