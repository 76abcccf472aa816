package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.variant.VariantExpressionEvalUtils
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Driver-side parquet writer for SMALL, DRIVER-LOCAL appends (opt guide
  * §1.2 / §5): the per-append Spark write of a pinned micro-batch frame is
  * a whole job — source task, exchange for partitioned tables, parquet
  * task init, commit-protocol renames — whose fixed cost dwarfs the KBs it
  * writes, and the crawl loops pay it several times PER micro-batch. When
  * the append's plan is provably driver-resident (every leaf a
  * LocalRelation), its rows are written on the driver by Spark's OWN
  * parquet write pieces: the Hadoop conf is prepared by
  * `ParquetUtils.prepareWrite` (write support, timestamp encoding, legacy
  * flag, field ids and the session's codec, as for a job write), each file
  * is written from the plan's InternalRows by `ParquetWriteSupport`, and
  * partition directories are named by FileFormatWriter's rule. A
  * driver-written file is therefore of the same kind as an executor-written
  * one for every type and partition value by construction;
  * DriverWriteParitySpec pins it file-by-file. The one executor writer this
  * cannot reproduce is variant shredding, so schemas with a VARIANT keep the
  * job path. Production-sized appends keep the distributed write: the
  * decision is on BYTES and ROWS (conf `graft.write.driver-max-bytes`,
  * default 8 MB; `graft.write.driver-max-rows`, default 100k), both
  * data-derived, never core-count-tuned.
  */
object DriverParquet {

  /** Is every leaf of this plan a LocalRelation (the pinned batch plane),
    * reached only through driver-safe operators? Such a plan's collect is
    * a small single-task job at most — the cost class the append already
    * pays for its source — so hoisting it to the driver is sound. `Join`
    * and `Generate` can expand their input, which is why [[tryWrite]]'s
    * collect is itself row-bounded.
    */
  def isLocalPlan(p: LogicalPlan): Boolean = p match {
    case _: LocalRelation => true
    case _: Project | _: Filter | _: Repartition | _: SubqueryAlias |
         _: Join | _: Aggregate | _: Union | _: GlobalLimit | _: LocalLimit |
         _: Sort | _: Distinct | _: Generate | _: Window | _: Deduplicate =>
      p.children.forall(isLocalPlan)
    case _ => false
  }

  /** A parquet-mr writer over an NIO file, fed by Spark's write support. */
  private final class RowWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `df`'s rows (its last columns are the partition values named
    * `partDirNames`, the ones before them the data) under `writeDir` in Spark's
    * dynamic-partition layout. File sizing honors BOTH `maxRecordsPerFile`
    * (the TARGET_FILE_SIZE contract) and `advisoryBytes` (the AQE rebalance
    * contract the distributed path keeps: a hot partition value fans out
    * across files instead of concentrating in one — GraftTableSpec pins
    * it). Returns false — having written NOTHING — when the rows exceed
    * `maxRows` or their bytes exceed `maxBytes`, so the caller can fall back
    * to the Spark write; at most `maxRows + 1` rows are ever collected.
    */
  def tryWrite(df: DataFrame, partDirNames: Seq[String],
               writeDir: String, maxRecordsPerFile: Option[Long],
               advisoryBytes: Long, maxBytes: Long, maxRows: Long): Boolean = {
    val sqlConf = df.sparkSession.sessionState.conf
    val schema = df.schema
    val nData = schema.length - partDirNames.length
    val dataSchema = StructType(schema.fields.take(nData))
    if (VariantExpressionEvalUtils.typeContainsVariant(dataSchema)) return false
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    val taken = df.queryExecution.executedPlan.executeTake(cap + 1)
    if (taken.length > cap) return false
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val rows = taken.map {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    }
    if (rows.iterator.map(_.getSizeInBytes.toLong).sum > maxBytes) return false

    // FileFormatWriter's directory rule: name=escaped(cast(value as string))
    val tz = Some(sqlConf.sessionLocalTimeZone)
    val partStrings = partDirNames.indices.map(k =>
      Cast(BoundReference(nData + k, schema(nData + k).dataType, nullable = true), StringType, tz))
    val grouped = mutable.LinkedHashMap[String, mutable.ArrayBuffer[UnsafeRow]]()
    rows.foreach { r =>
      val rel = partDirNames.indices.map { k =>
        ExternalCatalogUtils.getPartitionPathString(
          partDirNames(k), Option(partStrings(k).eval(r)).map(_.toString).orNull)
      }.mkString("/")
      grouped.getOrElseUpdate(rel, mutable.ArrayBuffer[UnsafeRow]()) += r
    }

    val job = Job.getInstance(df.sparkSession.sessionState.newHadoopConf())
    ParquetUtils.prepareWrite(sqlConf, job, dataSchema, new ParquetOptions(Map.empty[String, String], sqlConf))
    val writeConf = job.getConfiguration
    val codec = CompressionCodecName.fromConf(writeConf.get(ParquetOutputFormat.COMPRESSION))
    val dataRow = ProjectingInternalRow(dataSchema, 0 until nData)
    val maxRecs = maxRecordsPerFile.filter(_ > 0).getOrElse(Long.MaxValue)
    // ParquetWriteSupport reads its datetime rebase mode from SQLConf.get
    SQLConf.withExistingConf(sqlConf) {
      grouped.foreach { case (rel, rs) =>
        val dir = if (rel.isEmpty) writeDir else s"$writeDir/$rel"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        // greedy size-bounded chunks: ≥1 row each, cut at either contract
        val chunks = mutable.ArrayBuffer[mutable.ArrayBuffer[UnsafeRow]]()
        var cur = mutable.ArrayBuffer[UnsafeRow]()
        var curBytes = 0L
        rs.foreach { r =>
          val b = r.getSizeInBytes.toLong
          if (cur.nonEmpty && (curBytes + b > advisoryBytes || cur.length >= maxRecs)) {
            chunks += cur; cur = mutable.ArrayBuffer[UnsafeRow](); curBytes = 0L
          }
          cur += r; curBytes += b
        }
        if (cur.nonEmpty) chunks += cur
        chunks.zipWithIndex.foreach { case (chunk, ci) =>
          // NIO output, not a Hadoop Path: this writer only ever targets the
          // driver's local filesystem, and Hadoop's ChecksumFileSystem layer
          // costs ~10x per small file (measured 10.7 vs 1.0 ms/file) writing
          // .crc sidecars every reader and listing filter ignores.
          val file = new LocalOutputFile(java.nio.file.Paths.get(
            s"$dir/part-${"%05d".format(ci)}-${java.util.UUID.randomUUID()}${codec.getExtension}.parquet"))
          val writer = new RowWriterBuilder(file).withConf(writeConf).withCompressionCodec(codec).build()
          try chunk.foreach { r => dataRow.project(r); writer.write(dataRow) }
          finally writer.close()
        }
      }
    }
    true
  }
}
