package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The DataSource V2 skeleton every file reader in this package shares:
  * TableProvider -> Table -> ScanBuilder with column pruning ->
  * Scan/Batch -> ReaderFactory -> PartitionReader. A reader is one
  * [[FileFormat]] (its schema, how one file splits into [[FileChunk]]s,
  * how one chunk decodes into rows) plus a one-line [[FileSource]]
  * subclass that builds the format from the `load` options.
  *
  * Every format lists and opens files the same way, through the Hadoop
  * FileSystem API (like a parquet scan: local files, HDFS and object
  * stores all work, and a chunk carries its file's fully-qualified URI
  * so executors on other hosts open the same filesystem):
  *   - a missing path fails at planning, naming the path;
  *   - a file path is read as given; a directory yields its files whose
  *     names start with neither `_` nor `.` (Hadoop sink artifacts such
  *     as `_SUCCESS` and `.part-*.crc`) and that the format keeps, in
  *     name order;
  *   - executors open a chunk's file with the session's Hadoop conf.
  */
abstract class FileSource(format: CaseInsensitiveStringMap => FileFormat)
    extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    FileTable(format(options), schema, options.get("path"))
  }

  override def supportsExternalMetadata(): Boolean = true
}

/** What one file format adds to the skeleton. `kind` names the format
  * in the table name and in the missing-path error. */
abstract class FileFormat(val kind: String) extends Serializable {
  /** The full schema when the caller gives none. */
  def schema: StructType

  /** The table name the `BatchScan` node prints. */
  def name(path: String): String = s"$kind($path)"

  /** Whether a directory listing keeps the file called `fileName`, on
    * top of the shared `_`/`.` rule. */
  def keep(fileName: String): Boolean = true

  /** Whether a growing directory can be read as a stream. */
  def streaming: Boolean = false

  /** The chunks of one listed file, planned before any task runs; by
    * default the whole file. */
  def split(file: FileStatus, conf: Configuration): Seq[FileChunk] =
    Seq(FileChunk(file.getPath.toString, 0L, file.getLen))

  /** The rows of `chunk`, projected to `required`. `in` is the chunk's
    * file, open at byte 0; the skeleton closes it. `schema` is the
    * table's full schema. */
  def read(chunk: FileChunk, in: FSDataInputStream, schema: StructType,
      required: StructType): Iterator[InternalRow]
}

/** One input partition: `length` bytes of `file` from `offset`. */
case class FileChunk(file: String, offset: Long, length: Long)
    extends InputPartition

private[sources] object FileSource {
  /** The files `path` names, under the listing rule of the skeleton. */
  def list(path: String, format: FileFormat,
      conf: Configuration): Array[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"${format.kind} source: no such path: $path")
    val status = fs.getFileStatus(root)
    if (!status.isDirectory) Array(status)
    else fs.listStatus(root).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".") && format.keep(n)
    }.sortBy(_.getPath.getName)
  }

  /** Opens `file` (a path or URI) through its Hadoop FileSystem. */
  def open(file: String, conf: Configuration): FSDataInputStream = {
    val p = new Path(file)
    p.getFileSystem(conf).open(p)
  }
}

case class FileTable(format: FileFormat, tableSchema: StructType, path: String)
    extends Table with SupportsRead {
  override def schema(): StructType = tableSchema
  override def name(): String = format.name(path)
  override def capabilities(): util.Set[TableCapability] =
    if (format.streaming)
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FileScanBuilder(this)
}

class FileScanBuilder(table: FileTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = table.tableSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = FileScan(table, required)
}

case class FileScan(table: FileTable, required: StructType)
    extends Scan with Batch {
  @transient private lazy val conf = new SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private[sources] def files(): Array[FileStatus] =
    FileSource.list(table.path, table.format, conf.value)

  /** The chunks of `files`, in listing order. */
  private[sources] def chunks(files: Array[FileStatus]): Array[InputPartition] =
    files.flatMap(table.format.split(_, conf.value))

  override def planInputPartitions(): Array[InputPartition] = chunks(files())

  override def createReaderFactory(): PartitionReaderFactory =
    FileReaderFactory(table.format, table.tableSchema, required, conf)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileMicroBatchStream(this)
}

case class FileReaderFactory(format: FileFormat, schema: StructType,
    required: StructType, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val chunk = partition.asInstanceOf[FileChunk]
    val in = FileSource.open(chunk.file, conf.value)
    try new FileReader(format.read(chunk, in, schema, required), in)
    catch { case e: Throwable => in.close(); throw e }
  }
}

/** Serves `rows`; closing it closes the chunk's file. */
class FileReader(rows: Iterator[InternalRow], in: java.io.Closeable)
    extends PartitionReader[InternalRow] {
  private var current: InternalRow = _
  override def next(): Boolean =
    rows.hasNext && { current = rows.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** Streaming side of a file source: monitor a directory and read
  * newly-landed files incrementally. Crawl output is append-only with
  * lexicographically increasing names (the Common Crawl convention —
  * `part-…`, segment timestamps), so the OFFSET is simply the highest
  * file name read: a micro-batch is "every listed file whose name sorts
  * in (start, end]", which makes offsets trivially serializable,
  * replayable from the checkpoint log, and exactly-once at FILE
  * granularity (a file is either fully in a batch or not yet seen — the
  * batch boundary can't split a file). Per-batch work parallelizes
  * exactly like the batch reader. A single file path streams as one
  * batch of that file. */
class FileMicroBatchStream(scan: FileScan) extends MicroBatchStream {
  override def initialOffset(): Offset = FileNameOffset("")
  override def latestOffset(): Offset =
    FileNameOffset(scan.files().lastOption.map(_.getPath.getName).getOrElse(""))
  override def deserializeOffset(json: String): Offset = FileNameOffset(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileNameOffset].watermark
    val e = end.asInstanceOf[FileNameOffset].watermark
    scan.chunks(scan.files().filter { f =>
      val n = f.getPath.getName
      n > s && n <= e
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
}

/** Lexicographic file-name watermark (see [[FileMicroBatchStream]]);
  * the json form is the raw name — opaque to Spark's offset log. */
case class FileNameOffset(watermark: String) extends Offset {
  override def json(): String = watermark
}
