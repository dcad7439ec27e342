package graft.sources

import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, DateTimeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the pgsnapshot COPY-dump format — the TSV
  * files Osmosis' `--write-pgsql-dump` task produces for the pgsnapshot
  * schema the reference loads (etl/osm-load.sh:29 uses the direct
  * `--write-pgsql` path; the dump files are its offline twin). This is
  * the S1 "custom DSv2 for the ingest boundary" stretch goal (SURVEY
  * §7.3).
  *
  * Format (PostgreSQL COPY text encoding, one entity table per file):
  *   - tab-separated, `\N` for NULL; COPY escapes (`\t \n \r \\ \b \f
  *     \v`, octal `\ooo`, hex `\xhh`) decoded per cell — a tag value
  *     containing a literal tab/newline/backslash round-trips;
  *   - `tags` as hstore text: `"k"=>"v", "k2"=>"v2"`;
  *   - `nodes` as PG array text: `{1,2,3}`;
  *   - geometry as WKT `POINT(lon lat)` / `LINESTRING(lon lat, ...)`
  *     OR PostGIS hex EWKB (what a real `--write-pgsql-dump` emits) —
  *     both byte orders, SRID flag handled.
  *
  * The DSv2 plumbing is the shared [[FileSource]] skeleton, with REAL
  * column pruning (unprojected columns are never parsed, which for this
  * row-oriented text format is the dominant cost) and one input
  * partition per file; [[PgDumpFormat]] is the COPY-specific part.
  *
  * Usage:
  *   spark.read.format("graft.sources.PgSnapshotDumpSource")
  *     .option("entity", "ways").load(path)
  */
class PgSnapshotDumpSource
    extends FileSource(o => PgDumpFormat(o.get("entity")))

object PgSnapshotDump {
  val pointType: StructType = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType)))

  /** Decode PostgreSQL COPY text-format escapes inside one cell
    * (`\t \n \r \b \f \v \\`, octal `\ooo`, hex `\xhh`). Fast path:
    * cells without a backslash (the overwhelming majority) return the
    * same String instance — no allocation. An unrecognized escape
    * keeps the escaped character, matching COPY's reader. */
  def decodeCopyEscapes(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\' || i == s.length - 1) { sb.append(c); i += 1 }
      else {
        val e = s.charAt(i + 1)
        i += 2
        e match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'v' => sb.append('\u000b')
          case '\\' => sb.append('\\')
          case 'x' =>
            var v = 0; var n = 0
            while (n < 2 && i < s.length &&
                Character.digit(s.charAt(i), 16) >= 0) {
              v = v * 16 + Character.digit(s.charAt(i), 16); i += 1; n += 1
            }
            if (n == 0) sb.append('x') else sb.append(v.toChar)
          case o if o >= '0' && o <= '7' =>
            var v = o - '0'; var n = 1
            while (n < 3 && i < s.length &&
                s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; n += 1
            }
            sb.append(v.toChar)
          case other => sb.append(other)
        }
      }
    }
    sb.toString
  }

  def schemaFor(entity: String): StructType = entity match {
    case "nodes" => StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("version", IntegerType),
      StructField("user_id", IntegerType),
      StructField("tstamp", TimestampType),
      StructField("changeset_id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("geom", pointType)))
    case "ways" => StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("version", IntegerType),
      StructField("user_id", IntegerType),
      StructField("tstamp", TimestampType),
      StructField("changeset_id", LongType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("nodes", ArrayType(LongType)),
      StructField("linestring", ArrayType(pointType))))
    case "way_nodes" => StructType(Seq(
      StructField("way_id", LongType, nullable = false),
      StructField("node_id", LongType, nullable = false),
      StructField("sequence_id", IntegerType, nullable = false)))
    case "relations" => StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("version", IntegerType),
      StructField("user_id", IntegerType),
      StructField("tstamp", TimestampType),
      StructField("changeset_id", LongType),
      StructField("tags", MapType(StringType, StringType))))
    case "relation_members" => StructType(Seq(
      StructField("relation_id", LongType, nullable = false),
      StructField("member_id", LongType, nullable = false),
      StructField("member_type", StringType, nullable = false),
      StructField("member_role", StringType, nullable = false),
      StructField("sequence_id", IntegerType, nullable = false)))
    case other => throw new IllegalArgumentException(
      s"unknown entity '$other' (nodes | ways | way_nodes | relations | relation_members)")
  }

  /** Parse one hstore text literal into key/value arrays. */
  def parseHstore(s: String): (Array[UTF8String], Array[UTF8String]) = {
    val ks = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val vs = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val m = java.util.regex.Pattern
      .compile(""""((?:[^"\\]|\\.)*)"=>"((?:[^"\\]|\\.)*)"""").matcher(s)
    while (m.find()) {
      ks += UTF8String.fromString(unescape(m.group(1)))
      vs += UTF8String.fromString(unescape(m.group(2)))
    }
    (ks.toArray, vs.toArray)
  }

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  def parseLongArray(s: String): Array[Long] = {
    val inner = s.stripPrefix("{").stripSuffix("}")
    if (inner.isEmpty) Array.empty
    else inner.split(",").map(_.trim.toLong)
  }

  /** Geometry cells accept BOTH encodings: WKT (`POINT(lon lat)`, our
    * documented fixture form) and the hex EWKB an actual Osmosis
    * `--write-pgsql-dump` emits (PostGIS hex: byte order, type word
    * with the 0x20000000 SRID flag, optional SRID, coords). */
  def parsePoint(s: String): InternalRow =
    if (s.startsWith("POINT(")) {
      val inner = s.stripPrefix("POINT(").stripSuffix(")")
      val Array(lon, lat) = inner.trim.split("\\s+").map(_.toDouble)
      InternalRow(lon, lat)
    } else {
      val r = new EwkbReader(s)
      require(r.geomType == 1, s"expected EWKB Point, got type ${r.geomType}")
      InternalRow(r.readDouble(), r.readDouble())
    }

  def parseLine(s: String): ArrayData =
    if (s.startsWith("LINESTRING(")) {
      val inner = s.stripPrefix("LINESTRING(").stripSuffix(")")
      val pts = inner.split(",").map { p =>
        val Array(lon, lat) = p.trim.split("\\s+").map(_.toDouble)
        InternalRow(lon, lat): Any
      }
      ArrayData.toArrayData(pts)
    } else {
      val r = new EwkbReader(s)
      require(r.geomType == 2, s"expected EWKB LineString, got type ${r.geomType}")
      val n = r.readInt()
      val pts = new Array[Any](n)
      var i = 0
      while (i < n) { pts(i) = InternalRow(r.readDouble(), r.readDouble()); i += 1 }
      ArrayData.toArrayData(pts)
    }

  /** Minimal PostGIS hex-EWKB cursor: handles both byte orders and the
    * SRID flag; Z/M geometries are rejected (OSM is 2D). */
  private[sources] final class EwkbReader(hex: String) {
    private val bytes = new Array[Byte](hex.length / 2)
    locally {
      var i = 0
      while (i < bytes.length) {
        bytes(i) = ((Character.digit(hex.charAt(2 * i), 16) << 4) |
          Character.digit(hex.charAt(2 * i + 1), 16)).toByte
        i += 1
      }
    }
    private var pos = 0
    private val littleEndian = { val b = bytes(0); pos = 1; b == 1 }

    def readInt(): Int = {
      var v = 0
      var i = 0
      while (i < 4) {
        val b = bytes(pos + (if (littleEndian) 3 - i else i)) & 0xFF
        v = (v << 8) | b
        i += 1
      }
      pos += 4
      v
    }

    def readDouble(): Double = {
      var v = 0L
      var i = 0
      while (i < 8) {
        val b = bytes(pos + (if (littleEndian) 7 - i else i)) & 0xFF
        v = (v << 8) | b
        i += 1
      }
      pos += 8
      java.lang.Double.longBitsToDouble(v)
    }

    val geomType: Int = {
      val raw = readInt()
      require((raw & 0xC0000000) == 0, "Z/M EWKB geometries unsupported (OSM is 2D)")
      if ((raw & 0x20000000) != 0) readInt() // skip SRID
      raw & 0x1FFFFFFF
    }
  }
}

/** The COPY rules of the [[FileSource]] skeleton: one chunk per file,
  * read as UTF-8 lines (the encoding [[PgSnapshotDumpWriter]] writes),
  * split on tabs, parsing ONLY the required columns (column pruning pays
  * here — hstore/array parsing dominates). */
case class PgDumpFormat(entity: String) extends FileFormat("pgsnapshot_dump") {
  override def schema: StructType = PgSnapshotDump.schemaFor(entity)

  override def read(chunk: FileChunk, in: FSDataInputStream,
      schema: StructType, required: StructType): Iterator[InternalRow] = {
    val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    // position of each required column in the file's full column order
    val fieldIdx = required.fields.map(f => schema.fieldIndex(f.name))
    Iterator.continually(lines.readLine()).takeWhile(_ != null).map { line =>
      val cells = line.split("\t", -1)
      val values = new Array[Any](required.length)
      var i = 0
      while (i < fieldIdx.length) {
        val cell = cells(fieldIdx(i))
        // \N is the null marker only BEFORE escape decoding (a data cell
        // containing the two chars \N arrives as \\N)
        val raw = if (cell == "\\N") null
          else PgSnapshotDump.decodeCopyEscapes(cell)
        values(i) =
          if (raw == null) null
          else required.fields(i).dataType match {
            case LongType => raw.toLong
            case IntegerType => raw.toInt
            case TimestampType =>
              DateTimeUtils.stringToTimestampAnsi(UTF8String.fromString(raw),
                java.time.ZoneOffset.UTC)
            case MapType(StringType, StringType, _) =>
              val (ks, vs) = PgSnapshotDump.parseHstore(raw)
              ArrayBasedMapData(ks.asInstanceOf[Array[Any]], vs.asInstanceOf[Array[Any]])
            case ArrayType(LongType, _) =>
              ArrayData.toArrayData(PgSnapshotDump.parseLongArray(raw))
            case t if t == PgSnapshotDump.pointType => PgSnapshotDump.parsePoint(raw)
            case ArrayType(e, _) if e == PgSnapshotDump.pointType =>
              PgSnapshotDump.parseLine(raw)
            case StringType => UTF8String.fromString(raw)
            case other => throw new IllegalStateException(s"unhandled type $other")
          }
        i += 1
      }
      InternalRow.fromSeq(values.toIndexedSeq)
    }
  }
}
