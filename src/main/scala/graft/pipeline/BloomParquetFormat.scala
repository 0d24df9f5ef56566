package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.FinalizedWriteContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import scala.jdk.CollectionConverters._

/** Spark's Parquet file format, whose writer also puts the reference-format
  * footer bloom (`shaha:bloom_*`, reference parquet.rs:444-461) into each
  * file it writes: the reference builds its bloom in its one writer pass,
  * and so does a hash-db build written through this format — no job reads
  * the `hash` column back to build the blooms.
  *
  * Each bloom is bit-identical to what [[FooterMeta.writeBlooms]] computes
  * for the finished file: sip keys seeded by the file's name, sized for
  * `max(rows, FooterBloom.MinCapacity)` items at `FooterBloom.Fp`, and
  * `bloom_items` = the file's row count. A 0-row file gets no bloom.
  *
  * Use it by class name: `df.write.format(classOf[BloomParquetFormat].getName)`.
  * Every Parquet write option (compression, native bloom filters,
  * `maxRecordsPerFile`, `partitionBy`) works as with `parquet`.
  */
class BloomParquetFormat extends ParquetFileFormat {
  override def prepareWrite(
      sparkSession: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType
  ): OutputWriterFactory = {
    val parquet = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[BloomWriteSupport], classOf[WriteSupport[_]])
    new BloomWriterFactory(parquet)
  }
}

/** Opens each file's writer with the file's name as its bloom seed. */
private final class BloomWriterFactory(parquet: OutputWriterFactory)
    extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    parquet.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = {
    // the writer instantiates and initializes its write support on this
    // thread, inside this call
    BloomWriteSupport.seed.set(new Path(path).getName)
    try parquet.newInstance(path, dataSchema, context)
    finally BloomWriteSupport.seed.remove()
  }
}

/** Spark's Parquet write support plus the footer bloom over `hash`.
  *
  * The bloom's bitmap size depends on the file's row count, which is known
  * only when the file closes, so each row's two SipHash base hashes of
  * `hash` (16 B) are buffered until then: at most 80 MB per open file at
  * `BuildJob.Config`'s default `maxRecordsPerFile` of 5M rows.
  */
class BloomWriteSupport extends ParquetWriteSupport {
  private var keys: (Long, Long, Long, Long) = _
  private var hashOrdinal = -1
  private var base = new Array[Long](1024)
  private var rows = 0

  override def init(configuration: Configuration): WriteSupport.WriteContext = {
    val context = super.init(configuration)
    val seed = BloomWriteSupport.seed.get
    val schema = DataType.fromJson(configuration.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
      .asInstanceOf[StructType]
    hashOrdinal = schema.fields.indexWhere(f => f.name == "hash" && f.dataType == BinaryType)
    if (seed != null) keys = FooterBloom.keysFor(seed)
    context
  }

  override def write(row: InternalRow): Unit = {
    super.write(row)
    if (keys != null && hashOrdinal >= 0 && !row.isNullAt(hashOrdinal)) {
      if (2 * rows + 2 > base.length)
        base = java.util.Arrays.copyOf(base, base.length * 2)
      val framed = FooterBloom.framed(row.getBinary(hashOrdinal))
      base(2 * rows) = FooterBloom.sip(keys, 0, framed)
      base(2 * rows + 1) = FooterBloom.sip(keys, 1, framed)
      rows += 1
    }
  }

  override def finalizeWrite(): FinalizedWriteContext = {
    val kv =
      if (rows == 0) Map.empty[String, String]
      else {
        val bloom = new FooterBloom(new Array[Byte](FooterBloom.bitmapBytes(
          math.max(rows.toLong, FooterBloom.MinCapacity), FooterBloom.Fp)),
          keys, rows.toLong, FooterBloom.kForFp(FooterBloom.Fp))
        var i = 0
        while (i < rows) { bloom.addHashes(base(2 * i), base(2 * i + 1)); i += 1 }
        bloom.toKv.toMap
      }
    base = null
    new FinalizedWriteContext(kv.asJava)
  }
}

private object BloomWriteSupport {
  /** The name of the file whose writer is opening on this thread. */
  val seed = new ThreadLocal[String]
}
