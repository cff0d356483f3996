package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.bam.BamDataSource
import graft.sources.cram.CramDataSource
import graft.sources.fastq.{FastqDataSource, FastqFormat}
import graft.sources.sam.SamDataSource

/** `format("htsjdk")` — auto-dispatch facade over the reads sources: routes
  * to bam/cram/sam by the extension of the path (or of the first input file
  * when the path is a directory), the reference's `SamFormat.fromPath` UX
  * (impl/formats/sam/SamFormat.java:49-56) as one registered source, so
  * mixed-extension tooling can say `spark.read.format("htsjdk").load(dir)`
  * without caring which container format the files use. All options pass
  * through to the resolved source unchanged.
  */
class HtsjdkDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "htsjdk"

  /** Spark calls inferSchema and getTable on the SAME provider instance
    * during one read resolution — cache the dispatch per path so the
    * directory listing (O(files) driver RPCs on a sharded input) happens
    * once here, not once per callback. An AtomicReference makes the
    * benign-race semantics explicit: concurrent planning threads may each
    * resolve once (identical result, last write wins), but no thread can
    * ever observe a torn or stale (path, provider) pair and dispatch a
    * path to the wrong format.
    */
  private val cached = new java.util.concurrent.atomic.AtomicReference[(String, TableProvider)]

  private def resolve(path: String): TableProvider = {
    require(path != null && path.nonEmpty, "htsjdk source requires a path")
    val c = cached.get()
    if (c != null && c._1 == path) return c._2
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = HadoopIO.listInputFiles(path, conf)
    val name = if (files.isEmpty) new org.apache.hadoop.fs.Path(path).getName
      else files.head.getName
    val resolved =
      if (name.endsWith(".bam")) new BamDataSource
      else if (name.endsWith(".sam")) new SamDataSource
      else if (name.endsWith(".cram")) new CramDataSource
      else if (FastqFormat.isFastq(name)) new FastqDataSource
      else throw new IllegalArgumentException(
        s"cannot infer reads format from '$name' (want .bam/.sam/.cram/.fastq); " +
          "use spark.read.format(\"bam\"|\"sam\"|\"cram\"|\"fastq\") directly")
    cached.set((path, resolved))
    resolved
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options.get("path")).inferSchema(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    resolve(properties.get("path")).getTable(schema, partitioning, properties)
}
