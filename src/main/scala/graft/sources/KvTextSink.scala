package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 sink with the reference's text-output contract (F9): one
  * `mr-out-<partition>` file of `"key value"` lines per partition,
  * committed by temp-file + atomic rename
  * (/root/reference/mr/worker.go:72-98 — `ioutil.TempFile` then
  * `os.Rename`). Task attempts write attempt-unique temp files;
  * only the attempt Spark's commit coordinator accepts gets renamed in
  * the driver-side job commit, so stragglers/retries (the reference's
  * backup tasks, master.go:111-127) can never tear or duplicate an
  * output file; job commit and abort delete every `_tmp-*` file left,
  * a killed attempt's included. Lines hold each field's UTF-8 bytes.
  * A directory holds one run's `mr-out-*` set: `append` into one that
  * has them fails at planning; `overwrite` replaces them at job
  * commit, so a failed overwrite leaves the old run in place.
  *
  * Usage: `df.select(key, value).repartition(R, key).write
  * .format("graft.sources.KvTextSink").mode("append").save(dir)`; the
  * output of `MapReduceJob.run` is already R key-hashed partitions and
  * is written as it is.
  */
class KvTextSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvTextSink.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KvSinkTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

object KvTextSink {
  val Schema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("key", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.StringType)))
}

private[sources] class KvSinkTable(path: String) extends Table with SupportsWrite {
  override def name(): String = s"kvtext($path)"
  override def schema(): StructType = KvTextSink.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.length == 2,
      s"KvTextSink expects exactly (key, value); got ${info.schema().simpleString}")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        if (!overwrite) {
          val old = KvBatchWrite.listed(path, "mr-out-")
          if (old.nonEmpty) throw new IllegalStateException(s"KvTextSink: $path already " +
            s"holds ${old.size} mr-out files of another run; write with mode(\"overwrite\") " +
            "to replace them")
        }
        new Write {
          override def toBatch: BatchWrite = new KvBatchWrite(path, overwrite)
        }
      }
    }
  }
}

private[sources] case class KvCommit(tmp: String, target: String)
  extends WriterCommitMessage

private[sources] class KvBatchWrite(path: String, overwrite: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new KvWriterFactory(path)
  // job commit: only coordinator-accepted attempts are renamed —
  // the worker.go:96 os.Rename, moved to the single commit point;
  // an overwrite then drops the old files this run did not replace
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.map { case KvCommit(tmp, target) =>
      Files.move(Paths.get(tmp), Paths.get(target),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING).getFileName
    }.toSet
    if (overwrite) KvBatchWrite.listed(path, "mr-out-")
      .filterNot(p => committed(p.getFileName)).foreach(Files.delete)
    KvBatchWrite.sweepTemps(path)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = KvBatchWrite.sweepTemps(path)
}

private[sources] object KvBatchWrite {
  /** The files in `dir` (if it exists) whose names start with `prefix`. */
  def listed(dir: String, prefix: String): Seq[Path] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toList
      finally s.close()
    }
  }

  /** Uncommitted attempts' temp files, this job's or a killed one's. */
  def sweepTemps(dir: String): Unit = listed(dir, "_tmp-").foreach(Files.deleteIfExists)
}

private[sources] class KvWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val tmp = s"$path/_tmp-$partitionId-$taskId"
      private val out = {
        Files.createDirectories(Paths.get(path))
        new java.io.BufferedOutputStream(Files.newOutputStream(Paths.get(tmp)), 1 << 16)
      }
      // each field's UTF-8 bytes as the row holds them: no decode, no
      // platform-charset re-encode
      private def field(row: InternalRow, i: Int): Unit =
        if (row.isNullAt(i)) out.write("null".getBytes(StandardCharsets.UTF_8))
        else row.getUTF8String(i).writeTo(out)
      override def write(row: InternalRow): Unit = {
        field(row, 0)
        out.write(' ')
        field(row, 1)
        out.write('\n')
      }
      override def commit(): WriterCommitMessage = {
        out.close()
        KvCommit(tmp, s"$path/mr-out-$partitionId")
      }
      override def abort(): Unit = { out.close(); Files.deleteIfExists(Paths.get(tmp)) }
      override def close(): Unit = ()
    }
}
