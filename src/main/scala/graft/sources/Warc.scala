package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for WARC / WET archives — the ISO 28500 record
  * format Common Crawl publishes, i.e. the raw-ingest boundary of a
  * web-scale training-data pipeline (the reference's ingest boundary is
  * Osmosis PBF, `etl/osm-load.sh:29`; this is the equivalent boundary
  * for the text-corpus side of SURVEY §6's LLM operators, which all
  * consume the `documents` relation this source produces).
  *
  * Format: records start with `WARC/1.x\r\n`, then `Name: value` header
  * lines, a blank line, `Content-Length` payload bytes, and a
  * `\r\n\r\n` trailer. `.gz` archives are CONCATENATED gzip members
  * (one or more records per member — Common Crawl writes one record
  * per member so byte-range fetch works); `GZIPInputStream` decodes
  * member sequences natively, so both layouts read with one code path.
  *
  * 100 TB shape: a crawl ships as ~10^5 independent ~1 GB .warc.gz
  * files. Per-record gzip members make a single file NON-splittable in
  * the general case (member boundaries aren't discoverable without
  * scanning), so the scale unit is the FILE: one `InputPartition` per
  * file, parallelism = file count — exactly how Common Crawl is laid
  * out to be consumed. Column pruning is real: an unprojected `payload`
  * is `skip`ped in-stream, never allocated, which turns a
  * URL-and-length census over a crawl into a headers-only scan.
  *
  * Usage:
  *   spark.read.format("graft.sources.WarcSource").load(dirOrFile)
  *   graft.sources.Warc.read(spark, path)            // same
  */
class WarcSource extends FileSource(_ => WarcFormat)

object Warc {
  val schema: StructType = StructType(Seq(
    StructField("record_id", StringType),
    StructField("record_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", TimestampType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("payload", BinaryType)))

  /** Reader entry point. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft.sources.WarcSource").load(path)

  /** Streaming entry point: incremental ingest of a growing crawl-dump
    * directory (see [[FileMicroBatchStream]]). */
  def readStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format("graft.sources.WarcSource").load(path)

  /** One serialized record (headers + payload + CRLF trailer),
    * optionally as its own gzip member. */
  private[sources] def recordBytes(typ: String, uri: String, date: String,
      ctype: String, payload: Array[Byte], recId: String,
      gzipMember: Boolean): Array[Byte] = {
    val head = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append(s"WARC-Type: $typ\r\n")
      .append(s"WARC-Record-ID: <urn:uuid:$recId>\r\n")
      .append(s"WARC-Date: $date\r\n")
    if (uri != null) head.append(s"WARC-Target-URI: $uri\r\n")
    head.append(s"Content-Type: $ctype\r\n")
      .append(s"Content-Length: ${payload.length}\r\n")
      .append("\r\n")
    val bytes = head.toString.getBytes("UTF-8") ++ payload ++
      "\r\n\r\n".getBytes("UTF-8")
    if (gzipMember) {
      val gz = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(gz)
      g.write(bytes); g.close()
      gz.toByteArray
    } else bytes
  }

  /** Serialize records as a WET/WARC byte stream — the test/fixture
    * twin of the reader. `gzipPerRecord = true` writes one gzip member
    * per record (the Common Crawl layout); false writes the plain
    * uncompressed stream. Records are (type, uri, dateIso, contentType,
    * payload). */
  def writeRecords(records: Seq[(String, String, String, String, Array[Byte])],
      gzipPerRecord: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.zipWithIndex.foreach { case ((typ, uri, date, ctype, payload), i) =>
      out.write(recordBytes(typ, uri, date, ctype, payload, s"rec-$i",
        gzipPerRecord))
    }
    out.toByteArray
  }

  /** Distributed WET/WARC writer — the export half of the ingest pair
    * (curated corpus back out as crawl-shaped archives): one
    * `part-<pid>.warc[.gz]` file per partition, written straight from
    * the executors with per-record gzip members, so the output obeys
    * the same file-granular parallelism contract the reader plans by.
    * Expected columns: `record_type`, `target_uri`, `warc_date`
    * (timestamp), `content_type`, `payload` (binary); record ids are
    * `<partition>-<row>`, unique without coordination. Sessions run
    * UTC, so `date_format` emits the ISO form the reader parses back
    * losslessly. Local-filesystem sink (this sandbox); production
    * would resolve `dir` through the Hadoop FileSystem API like the
    * readers do. */
  def write(df: DataFrame, dir: String, gzipPerRecord: Boolean = true): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val ext = if (gzipPerRecord) ".warc.gz" else ".warc"
    // WARC-Date hard-codes a 'Z' suffix, so the wall-clock digits MUST
    // be UTC regardless of session timezone: date_format renders in the
    // session zone, so shift the instant with to_utc_timestamp first
    // (ADVICE r12 — correct-by-construction instead of leaning on this
    // repo pinning spark.sql.session.timeZone=UTC).
    val sessionTz =
      df.sparkSession.sessionState.conf.sessionLocalTimeZone
    df.select(
        org.apache.spark.sql.functions.col("record_type"),
        org.apache.spark.sql.functions.col("target_uri"),
        org.apache.spark.sql.functions.date_format(
          org.apache.spark.sql.functions.to_utc_timestamp(
            org.apache.spark.sql.functions.col("warc_date"), sessionTz),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("warc_date"),
        org.apache.spark.sql.functions.col("content_type"),
        org.apache.spark.sql.functions.col("payload"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = java.nio.file.Paths.get(dir, f"part-$pid%05d$ext")
          val out = new java.io.BufferedOutputStream(
            java.nio.file.Files.newOutputStream(f), 1 << 16)
          try {
            var i = 0
            it.foreach { r =>
              out.write(recordBytes(r.getString(0), r.getString(1),
                r.getString(2), r.getString(3),
                r.getAs[Array[Byte]](4), s"$pid-$i", gzipPerRecord))
              i += 1
            }
          } finally out.close()
        }
      }
  }
}

/** The WARC rules of the [[FileSource]] skeleton: one chunk per file
  * (`.gz` files read through `GZIPInputStream`), records parsed by
  * [[WarcRecords]], and a growing directory can be read as a stream
  * (see [[FileMicroBatchStream]]). */
case object WarcFormat extends FileFormat("warc") {
  override def schema: StructType = Warc.schema
  override def streaming: Boolean = true

  override def read(chunk: FileChunk, in: FSDataInputStream,
      schema: StructType, required: StructType): Iterator[InternalRow] = {
    val records = new WarcRecords(chunk.file, new BufferedInputStream(
      if (chunk.file.endsWith(".gz")) new GZIPInputStream(in) else in, 1 << 16),
      required)
    Iterator.continually(records.next()).takeWhile(_ != null)
  }
}

/** Streaming record parser: headers are always parsed (they ARE the
  * record framing); the payload is read only when projected, else
  * skipped in-stream. Never holds more than one record's payload. */
private[sources] class WarcRecords(file: String, in: InputStream,
    required: StructType) {
  private val needPayload = required.fieldNames.contains("payload")

  /** Read one `\r\n`/`\n`-terminated header line as UTF-8; null at EOF. */
  private def readLine(): String = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      if (b != '\r') buf.write(b)
      b = in.read()
    }
    new String(buf.toByteArray, "UTF-8")
  }

  /** The next record as a row; null at EOF, which also closes `in`. */
  def next(): InternalRow = {
    // skip inter-record blank lines until the next version line or EOF
    var line = readLine()
    while (line != null && line.isEmpty) line = readLine()
    if (line == null) { in.close(); return null }
    require(line.startsWith("WARC/"),
      s"malformed WARC record header: '$line' in $file")
    val headers = scala.collection.mutable.LinkedHashMap[String, String]()
    var h = readLine()
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"malformed WARC header line '$h' in $file")
      headers(h.substring(0, i).trim) = h.substring(i + 1).trim
      h = readLine()
    }
    val len = headers.getOrElse("Content-Length",
      throw new IllegalStateException(s"record without Content-Length in $file"))
      .toLong
    require(len >= 0 && len < Int.MaxValue,
      s"unsupported Content-Length $len in $file")
    val payload: Array[Byte] =
      if (needPayload) {
        val p = in.readNBytes(len.toInt)
        if (p.length != len)
          throw new EOFException(s"truncated payload in $file")
        p
      } else { in.skipNBytes(len); null }
    def hv(k: String): String = headers.get(k).orNull
    val values = required.fields.map { f =>
      f.name match {
        case "record_id" => Option(hv("WARC-Record-ID"))
          .map(UTF8String.fromString).orNull
        case "record_type" => Option(hv("WARC-Type"))
          .map(UTF8String.fromString).orNull
        case "target_uri" => Option(hv("WARC-Target-URI"))
          .map(UTF8String.fromString).orNull
        case "warc_date" => Option(hv("WARC-Date")).map(d =>
          DateTimeUtils.stringToTimestampAnsi(UTF8String.fromString(d),
            java.time.ZoneOffset.UTC): Any).orNull
        case "content_type" => Option(hv("Content-Type"))
          .map(UTF8String.fromString).orNull
        case "content_length" => len
        case "headers" =>
          val ks = headers.keys.toArray.map(UTF8String.fromString(_): Any)
          val vs = headers.values.toArray.map(UTF8String.fromString(_): Any)
          ArrayBasedMapData(ks, vs)
        case "payload" => payload
        case other => throw new IllegalStateException(s"unknown column $other")
      }
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }
}
