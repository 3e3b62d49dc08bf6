package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 whole-file text source — the reference's F1 scan
  * (one record per file: filename key + entire contents,
  * /root/reference/mr/worker.go:102-109) re-expressed through Spark's
  * connector API instead of an RDD veneer:
  *
  *  - whole files are packed into byte-balanced map tasks
  *    ([[WholeFileScan.pack]]), the paper's 16-64 MB splits sized by
  *    Spark's `spark.sql.files.maxPartitionBytes` and `openCostInBytes`,
  *    so small files do not pay one task launch each;
  *    `maxPartitionBytes = 1` gives the reference's one map task per
  *    file (master.go:129-144);
  *  - `SupportsPushDownRequiredColumns`: a query touching only
  *    (path, length) never reads file bytes — the reader materializes
  *    exactly the pruned columns (asserted in WholeFileSourceSpec);
  *  - executors read their partition's files one at a time (the driver
  *    only lists metadata), so contents never pass through the driver;
  *  - a missing input directory, or a file too large for one record
  *    when contents are read, fails at planning, naming the path.
  *
  * Usage: `spark.read.format("graft.sources.WholeFileSource")
  * .load(dir)`.
  */
class WholeFileSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WholeFileSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new WholeFileTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object WholeFileSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("content", StringType, nullable = true)))
}

private[sources] class WholeFileTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"wholefile($path)"
  override def schema(): StructType = WholeFileSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WholeFileScanBuilder(Option(path).getOrElse(options.get("path")))
}

private[sources] class WholeFileScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WholeFileSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new WholeFileScan(path, required)
}

private[sources] class WholeFileScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = WholeFileScan.list(path)
    if (required.fieldNames.contains("content"))
      files.find(_._2 > WholeFileScan.MaxContentBytes).foreach { case (p, len) =>
        throw new IllegalArgumentException(s"WholeFileSource: $p is $len bytes; a " +
          s"whole-file record holds at most ${WholeFileScan.MaxContentBytes} bytes")
      }
    val conf = SQLConf.get
    val parallelism = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(SparkSession.active.sparkContext.defaultParallelism))
    WholeFileScan.pack(files, conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes, parallelism)
      .map(WholeFilePartition(_): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new WholeFileReaderFactory(required.fieldNames)
}

private[sources] object WholeFileScan {
  /** The most bytes one `UTF8String` (one byte array) can hold. */
  val MaxContentBytes: Long = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong

  /** (absolute path, length) of the non-hidden input files, by name. */
  def list(path: String): IndexedSeq[(String, Long)] = {
    require(path != null, "WholeFileSource needs an input directory: load(dir)")
    val entries = new java.io.File(path).listFiles()
    if (entries == null) throw new java.io.FileNotFoundException(
      s"WholeFileSource: input directory $path is missing, not a directory, or unreadable")
    entries.toIndexedSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .sortBy(_.getName)
      .map(f => f.getAbsolutePath -> f.length())
  }

  /** Whole files into byte-balanced bins, one per map task. A file
    * costs its length plus `openCost`; the bin count is the smallest
    * multiple of `parallelism` (full waves, no straggler wave) whose
    * bins average at most `maxBytes`, capped at one bin per file.
    * Largest file first to the lightest bin (ties: fewer files, lower
    * bin), so the heaviest bin costs at most the lightest plus one
    * file. Bins list files in name order and are ordered by their
    * first file, so `maxBytes = 1` plans one task per file, in order.
    */
  def pack(files: IndexedSeq[(String, Long)], maxBytes: Long, openCost: Long,
      parallelism: Int): Array[Array[(String, Long)]] = {
    if (files.isEmpty) return Array.empty
    val cost = files.map(_._2 + openCost)
    val perWave = BigInt(parallelism) * maxBytes.max(1L)
    val waves = ((BigInt(cost.sum) + perWave - 1) / perWave).max(1)
    val bins = (BigInt(parallelism) * waves).min(files.length).toInt
    val load = new Array[Long](bins)
    val members = Array.fill(bins)(mutable.ArrayBuffer.empty[Int])
    val lightest = mutable.PriorityQueue.from(0 until bins)(
      Ordering.by((b: Int) => (load(b), members(b).length, b)).reverse)
    files.indices.sortBy(i => (-files(i)._2, i)).foreach { i =>
      val b = lightest.dequeue()
      load(b) += cost(i)
      members(b) += i
      lightest.enqueue(b)
    }
    members.map(_.sorted).sortBy(_.head).map(_.map(files).toArray)
  }
}

private[sources] case class WholeFilePartition(files: Array[(String, Long)])
  extends InputPartition

private[sources] class WholeFileReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val files = p.asInstanceOf[WholeFilePartition].files
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < files.length }
      override def get(): InternalRow = {
        val (path, len) = files(i)
        val vals: Array[Any] = cols.map {
          case "path" => UTF8String.fromString(path)
          case "length" => java.lang.Long.valueOf(len)
          case "content" => UTF8String.fromBytes(
            java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
        }
        InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
      override def close(): Unit = ()
    }
  }
}
