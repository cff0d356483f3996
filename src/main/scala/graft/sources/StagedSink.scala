package graft.sources

import java.io.OutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** A format's half of the staged sink, built on the driver and shipped to
  * every task. `M` is what one committed part reports to the driver (index
  * samples, sample names, …); commit folds those reports into the sidecars.
  */
trait SinkFormat[M] extends Serializable {
  /** One output file (header + parts + terminator) vs a directory of
    * complete per-partition files.
    */
  def singleFile: Boolean
  /** File extension of a sharded part. */
  def partSuffix: String
  /** Encoder of one part. `out` is the part file; `sidecar(ext)` opens
    * `<part><ext>` next to it (per-shard indexes in sharded mode).
    */
  def openPart(out: OutputStream, sidecar: String => OutputStream): PartEncoder[M]
  /** Single-file mode: bytes before the first part. */
  def headerBytes(parts: Seq[M]): Array[Byte] = Array.emptyByteArray
  /** Single-file mode: bytes after the last part. */
  def terminatorBytes: Array[Byte] = Array.emptyByteArray
  /** Single-file mode: the index sidecars (extension → writer) folded from
    * the committed parts, each paired with the bytes that precede it in
    * the merged file; `dataEnd` is where the terminator starts.
    */
  def indexes(target: Path, parts: Seq[(M, Long)], dataEnd: Long)
      : Seq[(String, OutputStream => Unit)] = Nil
}

trait PartEncoder[M] {
  def write(row: InternalRow): Unit
  /** Flush and close the part; its report to the driver. */
  def finish(): M
  /** Close the part's streams after a failure. */
  def abort(): Unit
  def close(): Unit = ()
}

/** One committed part: its partition, staged file, on-disk length, the
  * format's report and the extensions of the sidecars written next to it.
  */
final case class PartMessage[M](partition: Int, path: String, bytes: Long, report: M,
                                sidecars: Seq[String] = Nil)
  extends WriterCommitMessage

class StagedWriteBuilder(format: RecordFormat, options: Map[String, String], schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this // writes always replace (reference README.md:53)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = {
      val path = options.getOrElse("path",
        throw new IllegalArgumentException(s"${format.name} sink requires a path"))
      // deflate level 0..9 (htsjdk/samtools writer parity); -1 = zlib default
      val level = options.get("compressionlevel").map(_.toInt)
        .getOrElse(java.util.zip.Deflater.DEFAULT_COMPRESSION)
      require(level == -1 || (level >= 0 && level <= 9), s"compressionLevel out of range: $level")
      new StagedBatchWrite(format.sink(path, level, options, schema), path,
        new SerializableConf(SparkSession.active.sessionState.newHadoopConf()))
    }
  }
}

/** The one commit protocol of every sink. Tasks write parts into
  * `<path>.parts/`; nothing outside it changes until job commit, so a
  * failed or aborted job leaves the previous output and its sidecars as
  * they were.
  *
  * Single-file commit merges exactly the committed parts, in partition
  * order, between the format's header and terminator (the reference's
  * Merger geometry, BamSink.java:41-68, Merger.java:17-29), into a staged
  * file; only then is the old target (and every sidecar next to it)
  * removed and the merged file renamed into place. The index sidecars are
  * written last, so their mtime is >= the data file's — readers treat an
  * index older than its data file as stale.
  *
  * Sharded commit renames exactly the committed parts and their per-shard
  * indexes to their final names, deletes everything else staged (a losing
  * attempt's leftovers, a stray file), then renames the staging directory
  * over the old target directory (AnySamSinkMultiple.java:39-73 shape).
  */
final class StagedBatchWrite[M](sink: SinkFormat[M], path: String, conf: SerializableConf)
    extends BatchWrite {
  // from the normalized target: Path drops a trailing slash, so
  // `out/` stages into `out.parts`, never into the target itself
  private val target = new Path(path)
  private val staging = target.suffix(".parts")
  private lazy val fs = target.getFileSystem(conf.conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    fs.delete(staging, true) // leftovers of a crashed earlier job
    fs.mkdirs(staging)
    val (s, dir, c) = (sink, staging.toString, conf)
    (partitionId: Int, taskId: Long) => new StagedDataWriter(s, dir, partitionId, taskId, c)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (sink.singleFile) {
      val parts = messages.toSeq.map(_.asInstanceOf[PartMessage[M]]).sortBy(_.partition)
      val header = sink.headerBytes(parts.map(_.report))
      val terminator = sink.terminatorBytes
      def staged(name: String, bytes: Array[Byte]): Seq[Path] =
        if (bytes.isEmpty) Nil
        else {
          val p = new Path(staging, name)
          val o = fs.create(p, true)
          try o.write(bytes) finally o.close()
          Seq(p)
        }
      val merged = new Path(staging, "_merged")
      HadoopIO.mergeParts(
        staged("_header", header) ++ parts.map(m => new Path(m.path)) ++ staged("_terminator", terminator),
        merged, conf.conf)
      var base = header.length.toLong
      val shifted = parts.map { m => val s = base; base += m.bytes; (m.report, s) }
      fs.delete(target, true)
      HadoopIO.SideFileExts.foreach(ext => fs.delete(target.suffix(ext), false))
      if (!fs.rename(merged, target)) throw new java.io.IOException(s"rename $merged -> $target failed")
      sink.indexes(target, shifted, base).foreach { case (ext, write) =>
        val o = fs.create(target.suffix(ext), true)
        try write(o) finally o.close()
      }
      fs.delete(staging, true)
    } else {
      val published = messages.toSeq.flatMap { m0 =>
        val m = m0.asInstanceOf[PartMessage[M]]
        val name = f"part-${m.partition}%09d${sink.partSuffix}"
        ("" +: m.sidecars).map { ext =>
          val to = new Path(staging, name + ext)
          if (!fs.rename(new Path(m.path + ext), to))
            throw new java.io.IOException(s"rename ${m.path}$ext -> $to failed")
          to.getName
        }
      }.toSet
      fs.listStatus(staging).foreach(st => if (!published(st.getPath.getName)) fs.delete(st.getPath, true))
      fs.delete(target, true)
      if (!fs.rename(staging, target)) throw new java.io.IOException(s"rename $staging -> $target failed")
    }

  /** Killed sibling tasks may still be running. They create files
    * non-recursively, so none can recreate the staging directory once it
    * is gone; a part created while the delete lists the directory makes
    * that delete fail, and the next attempt removes it.
    */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    var attempts = 0
    while (fs.exists(staging) && attempts < 3) { fs.delete(staging, true); attempts += 1 }
  }
}

/** One task attempt's part, named with the attempt id so two attempts of a
  * partition never share a file (sharded commit gives it its final name).
  * Parts and per-shard sidecars are created non-recursively: a task still
  * running after its job aborted fails instead of recreating the deleted
  * staging directory.
  */
final class StagedDataWriter[M](sink: SinkFormat[M], dir: String, partitionId: Int, taskId: Long,
                                conf: SerializableConf) extends DataWriter[InternalRow] {
  private val partPath = new Path(dir, f"part-$partitionId%09d-$taskId")
  private val fs = partPath.getFileSystem(conf.conf)
  private val out = new CountingOutputStream(fs.createFile(partPath).overwrite(true).build())
  private val sidecars = scala.collection.mutable.ArrayBuffer.empty[String]
  private val enc = sink.openPart(out, { ext =>
    sidecars += ext
    fs.createFile(partPath.suffix(ext)).overwrite(true).build()
  })

  override def write(row: InternalRow): Unit = enc.write(row)
  override def commit(): WriterCommitMessage = {
    val report = enc.finish()
    PartMessage(partitionId, partPath.toString, out.count, report, sidecars.toSeq)
  }
  override def abort(): Unit = {
    enc.abort()
    (partPath +: sidecars.toSeq.map(partPath.suffix)).foreach(fs.delete(_, false))
  }
  override def close(): Unit = enc.close()
}

/** Byte counter: offsets and part lengths are exact at write time. */
final class CountingOutputStream(under: OutputStream) extends OutputStream {
  var count = 0L
  override def write(b: Int): Unit = { under.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    under.write(b, off, len); count += len
  }
  override def flush(): Unit = under.flush()
  override def close(): Unit = under.close()
}
