package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.bgzf.SeekableInput

/** Java-serializable Hadoop Configuration wrapper for DSv2 factories
  * (replaces the reference's SerializableHadoopConfiguration,
  * impl/formats/SerializableHadoopConfiguration.java:10-29).
  */
final class SerializableConf(@transient var conf: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = { out.defaultWriteObject(); conf.write(out) }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}

object HadoopIO {

  /** pread-based SeekableInput over any Hadoop FileSystem (local, HDFS,
    * object stores). FSDataInputStream#read(pos,…) is positional and
    * thread-safe, which is what the BGZF reader + guesser share.
    */
  def open(path: Path, conf: Configuration): SeekableInput = {
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    val in = fs.open(path)
    val raw = new SeekableInput {
      def pread(pos: Long, buf: Array[Byte], off: Int, len0: Int): Int =
        if (pos >= len) -1 else in.read(pos, buf, off, len0)
      def size: Long = len
      def close(): Unit = in.close()
    }
    // opt-in background readahead for high-latency stores (the reference's
    // SeekableByteChannelPrefetcher role): set
    // spark.hadoop.graft.io.prefetch.blocksize=<bytes> and every reader
    // gains block-cached prefetch with no per-source plumbing. Off by
    // default — Hadoop's tuned cloud connectors (S3A/GCS) already have
    // readahead, so this targets stores that don't.
    val pfBlock = conf.getInt("graft.io.prefetch.blocksize", 0)
    if (pfBlock > 0 && len > pfBlock) new PrefetchingInput(raw, pfBlock) else raw
  }

  /** Index/sidecar extensions that live NEXT TO data files and must never be
    * read as inputs (graft's own .sbi/.gci co-writes land in the same
    * directory as sharded outputs; standard genomics indexes likewise).
    */
  val SideFileExts = Seq(".sbi", ".gci", ".bai", ".crai", ".tbi", ".idx")
  def isSideFile(name: String): Boolean = SideFileExts.exists(name.endsWith)

  /** Input files of a path that may be a single file or a flat directory:
    * non-hidden entries, index side files skipped, lexicographic name order
    * (reference semantics, HadoopFileSystemWrapper.listDirectory:76-83 +
    * README.md:81-91).
    */
  def listInputFiles(pathStr: String, conf: Configuration): Seq[Path] =
    listInputFilesWithLen(pathStr, conf).map(_._1)

  /** [[listInputFiles]] plus each file's length, FROM THE SAME LISTING —
    * `listStatus`/`getFileStatus` already return lengths, so split-size
    * derivation never re-stats files (at 100k shards a serial re-stat loop
    * is O(files) extra driver RPCs on every scan's planning).
    */
  def listInputFilesWithLen(pathStr: String, conf: Configuration): Seq[(Path, Long)] = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val st = fs.getFileStatus(path)
    if (!st.isDirectory) Seq((path, st.getLen))
    else
      fs.listStatus(path).toSeq
        .filter(s => !s.isDirectory)
        .filter { s =>
          val n = s.getPath.getName
          !n.startsWith(".") && !n.startsWith("_") && !isSideFile(n)
        }
        .sortBy(_.getPath.getName)
        .map(s => (s.getPath, s.getLen))
  }

  /** Fan per-file split planning out on a bounded thread pool. Planning a
    * file does real I/O (header read, index sidecar reads), so at 100k input
    * shards a serial loop is O(files) sequential driver RPCs; the pool bounds
    * concurrency while the result preserves lexicographic file order (the
    * ordering guarantee of multi-file inputs). Shared by the BAM/SAM/VCF/CRAM
    * scans.
    */
  def planFiles[T](files: Seq[Path])(planFile: Path => Seq[T]): Seq[T] =
    if (files.lengthCompare(2) < 0) files.flatMap(planFile)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(16, files.size))
      var failed = true // any non-normal exit (planning failure, interrupt, cancellation) aborts
      try {
        val out = files.map { f =>
          pool.submit(new java.util.concurrent.Callable[Seq[T]] {
            override def call(): Seq[T] = planFile(f)
          })
        }.flatMap { fut =>
          // surface the ORIGINAL planning exception, not Future.get's
          // ExecutionException wrapper — the serial single-file path throws
          // the cause directly and callers match on it
          try fut.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
        failed = false
        out
      } finally {
        // shutdown() alone would let every still-queued planFile keep doing
        // header/index I/O after the first failure — at 100k input files
        // that is minutes of doomed driver work; shutdownNow() cancels the
        // queue and interrupts in-flight tasks so planning aborts promptly
        // on ANY abnormal exit (planFile exception, interrupt, cancellation)
        if (failed) pool.shutdownNow() else pool.shutdown()
      }
    }

  /** Preferred executor hosts per byte range of one file, for DSv2
    * `InputPartition.preferredLocations()` — the reference gets locality
    * for free from Hadoop `getSplits` (FileSplitInputFormat.java:14-62
    * carries block hosts); DSv2 sources must ask for it. ONE
    * `getFileBlockLocations` RPC fetches the whole file's block list; the
    * returned closure then ranks hosts per split locally — top 3 by bytes
    * of the ranges they hold (FileInputFormat's split-host semantics) — so
    * planning stays O(1) filesystem calls per file no matter how many
    * splits tile it. Filesystems that report no topology (object stores)
    * or throw yield empty hints, which Spark treats as "schedule anywhere"
    * — never worse than before.
    */
  def blockHostsFor(fs: FileSystem, file: Path, size: Long): Seq[(Long, Long)] => Array[String] = {
    val blocks =
      try fs.getFileBlockLocations(fs.getFileStatus(file), 0, size)
      catch { case _: Exception => Array.empty[org.apache.hadoop.fs.BlockLocation] }
    (ranges: Seq[(Long, Long)]) =>
      if (blocks == null || blocks.isEmpty) Array.empty[String]
      else {
        val w = scala.collection.mutable.LinkedHashMap[String, Long]()
        ranges.foreach { case (start, end0) =>
          val end = math.min(end0, size)
          blocks.foreach { b =>
            val o = math.min(end, b.getOffset + b.getLength) - math.max(start, b.getOffset)
            if (o > 0) b.getHosts.foreach(h => w.update(h, w.getOrElse(h, 0L) + o))
          }
        }
        w.toSeq.sortBy(-_._2).take(3).map(_._1).toArray
      }
  }

  /** Concatenates `parts`, in the given order, into `target` — exactly the
    * listed files, never whatever else a directory holds.
    *
    * Fast path: `FileSystem.concat` — a metadata-only block concatenation
    * (HDFS-class filesystems), so the merge costs O(parts) RPCs instead of
    * O(bytes) through one driver stream. Filesystems without concat support
    * (local FS, most object stores) throw UnsupportedOperationException
    * before mutating anything, and we fall back to the serial copy the
    * reference uses (HadoopFileSystemWrapper.concat:86-121, Merger.java:17-29).
    * No parts → an empty target.
    */
  def mergeParts(parts: Seq[Path], target: Path, conf: Configuration): Unit = {
    val fs = target.getFileSystem(conf)
    val concatenated = parts.nonEmpty && {
      try {
        if (parts.length > 1) fs.concat(parts.head, parts.tail.toArray)
        fs.delete(target, false)
        if (!fs.rename(parts.head, target))
          throw new java.io.IOException(s"rename ${parts.head} -> $target failed")
        true
      } catch {
        case _: UnsupportedOperationException => false // concat not supported here
      }
    }
    if (!concatenated) {
      val out = fs.create(target, true)
      try {
        val buf = new Array[Byte](1 << 20)
        parts.foreach { p =>
          val in = fs.open(p)
          try {
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        }
      } finally out.close()
    }
  }
}

/** Genomic interval predicates shared by BAM/SAM/VCF readers — the
  * HtsjdkReadsTraversalParameters equivalent (reference
  * HtsjdkReadsTraversalParameters.java:13-30, option-string form).
  */
final case class GenomicInterval(contig: String, start: Int, end: Int) {
  def overlaps(c: String, s: Int, e: Int): Boolean =
    c != null && c == contig && s <= end && e >= start
}

object GenomicInterval {
  /** Parse "chr21:5000-9999,chr20:1-100" (1-based inclusive). */
  def parseList(s: String): Seq[GenomicInterval] =
    s.split(',').iterator.map(_.trim).filter(_.nonEmpty).map { part =>
      val ci = part.lastIndexOf(':')
      require(ci > 0, s"bad interval '$part' (want contig:start-end)")
      val range = part.substring(ci + 1)
      val di = range.indexOf('-')
      require(di > 0, s"bad interval range '$range'")
      GenomicInterval(part.substring(0, ci), range.substring(0, di).toInt, range.substring(di + 1).toInt)
    }.toSeq

  /** Sort + merge overlapping/adjacent intervals (reference
    * BoundedTraversalUtil.prepareQueryIntervals, BoundedTraversalUtil.java:10-27).
    */
  def optimize(intervals: Seq[GenomicInterval]): Seq[GenomicInterval] =
    intervals.groupBy(_.contig).toSeq.sortBy(_._1).flatMap { case (c, is) =>
      val sorted = is.sortBy(_.start)
      val acc = scala.collection.mutable.ArrayBuffer[GenomicInterval]()
      sorted.foreach { iv =>
        if (acc.nonEmpty && iv.start <= acc.last.end + 1)
          acc(acc.length - 1) = acc.last.copy(end = math.max(acc.last.end, iv.end))
        else acc += iv
      }
      acc.toSeq.map(iv => GenomicInterval(c, iv.start, iv.end))
    }
}
