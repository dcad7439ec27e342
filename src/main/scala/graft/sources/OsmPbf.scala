package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for OSM PBF (the reference's true ingest input:
  * `osmosis --read-pbf file=… --write-pgsql` — etl/osm-load.sh:29).
  * Closes the S1 "PBF ingest" boundary without any external protobuf
  * dependency: the PBF wire format is hand-decoded (public spec,
  * https://wiki.openstreetmap.org/wiki/PBF_Format — varints, zigzag
  * sints, length-delimited fields, zlib blobs).
  *
  * Scale design: a PBF file is a sequence of INDEPENDENTLY decodable
  * blobs (~8k entities each). [[PbfFormat.split]] seeks through the
  * file reading only the 4-byte+BlobHeader framing (no decompression)
  * to index blob offsets, then hands each OSMData blob to its own
  * partition — scan parallelism is blob-granular exactly like the
  * row-group granularity of a parquet scan, so a planet file spreads
  * across the cluster with zero driver decode work.
  *
  * Entities: `nodes` (plain + dense), `ways`, `way_nodes` (exploded
  * refs), `relations`, `relation_members` — the five pgsnapshot tables
  * (linestring on ways is NULL here: Osmosis derives it during load,
  * our pipelines derive geometry from node joins).
  *
  * Usage:
  *   spark.read.format("graft.sources.OsmPbfSource")
  *     .option("entity", "ways").load(path)
  */
class OsmPbfSource extends FileSource(o => PbfFormat(o.get("entity")))

/** The PBF rules of the [[FileSource]] skeleton: a directory contributes
  * its `.pbf` files, a file splits into one chunk per OSMData blob, and
  * a chunk decodes with [[OsmPbf.decodeBlob]]. */
case class PbfFormat(entity: String) extends FileFormat("osm_pbf") {
  override def schema: StructType = OsmPbf.schemaFor(entity)
  override def name(path: String): String = s"osm_pbf($path/$entity)"
  override def keep(fileName: String): Boolean = fileName.endsWith(".pbf")

  /** Index OSMData blob extents by reading only the framing. A file
    * ends cleanly only at a blob boundary (an empty file has no blobs);
    * a frame cut short or outside the spec's size limits raises
    * [[OsmPbf.PbfFormatException]] with the file and byte offset. */
  override def split(file: FileStatus, conf: Configuration): Seq[FileChunk] = {
    val f = file.getPath
    val fileLen = file.getLen
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(FileSource.open(f.toString, conf)))
    val parts = scala.collection.mutable.ArrayBuffer.empty[FileChunk]
    // a file may end only at a blob boundary: every length read below
    // is checked against the file length before it is trusted
    def corrupt(at: Long, what: String) =
      new OsmPbf.PbfFormatException(s"$f at byte offset $at: $what")
    var offset = 0L
    try {
      while (offset < fileLen) {
        if (fileLen - offset < 4)
          throw corrupt(offset, "file ends inside a BlobHeader length")
        val headerLen = in.readInt()
        if (headerLen < 0 || headerLen > OsmPbf.MaxHeaderBytes)
          throw corrupt(offset, s"BlobHeader length $headerLen " +
            s"outside [0, ${OsmPbf.MaxHeaderBytes}]")
        if (offset + 4 + headerLen > fileLen)
          throw corrupt(offset,
            s"file ends inside a $headerLen-byte BlobHeader")
        val header = new Array[Byte](headerLen)
        in.readFully(header)
        val h = new PbView(header, 0, headerLen)
        var blobType = ""
        var dataSize = 0L
        while (h.hasMore) h.nextField() match {
          case 1 => blobType = h.readString()
          case 3 => dataSize = h.readVarint()
          case _ => h.skip()
        }
        val blobStart = offset + 4 + headerLen
        if (dataSize < 0 || dataSize > OsmPbf.MaxBlobBytes)
          throw corrupt(blobStart, s"Blob length $dataSize " +
            s"outside [0, ${OsmPbf.MaxBlobBytes}]")
        if (blobStart + dataSize > fileLen)
          throw corrupt(blobStart, s"file ends inside a $dataSize-byte " +
            s"$blobType Blob (${fileLen - blobStart} bytes left)")
        if (blobType == "OSMData") {
          parts += FileChunk(f.toString, blobStart, dataSize)
          in.skipNBytes(dataSize)
        } else if (blobType == "OSMHeader") {
          // a conforming reader must REFUSE files whose
          // required_features it does not implement (PBF spec) —
          // silently decoding e.g. historical data would be wrong
          val blob = new Array[Byte](dataSize.toInt)
          in.readFully(blob)
          OsmPbf.checkRequiredFeatures(blob)
        } else in.skipNBytes(dataSize)
        offset = blobStart + dataSize
      }
    } catch {
      // the stream ended before the length the file system reported
      case e: java.io.EOFException =>
        throw corrupt(offset, s"unexpected end of stream (${e.getMessage})")
    } finally in.close()
    parts.toSeq
  }

  /** Decodes one OSMData blob into rows of the requested entity. */
  override def read(chunk: FileChunk, in: FSDataInputStream,
      schema: StructType, required: StructType): Iterator[InternalRow] = {
    val blob = new Array[Byte](chunk.length.toInt)
    in.readFully(chunk.offset, blob)
    OsmPbf.decodeBlob(blob, entity, required).iterator
  }
}

/** Wire-format cursor over a byte slice (protobuf subset: varint,
  * 64/32-bit never used by PBF payloads we read, length-delimited). */
private[sources] final class PbView(buf: Array[Byte], start: Int, len: Int) {
  private var pos = start
  private val end = start + len
  private var lastWire = 0

  def hasMore: Boolean = pos < end

  /** Returns the field number; wire type retained for skip(). */
  def nextField(): Int = {
    val tag = readVarint()
    lastWire = (tag & 7).toInt
    (tag >>> 3).toInt
  }

  def readVarint(): Long = {
    var v = 0L; var shift = 0
    var b = 0
    do {
      b = buf(pos) & 0xFF; pos += 1
      // bytes past bit 63 only sign-extend a 10-byte negative int64;
      // shifting by >=64 would wrap (JVM masks the shift count) and
      // corrupt the value, so ignore their payload bits
      if (shift < 64) v |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  def readSint(): Long = { val v = readVarint(); (v >>> 1) ^ -(v & 1) }

  def readBytesView(): PbView = {
    val n = readVarint().toInt
    val v = new PbView(buf, pos, n)
    pos += n
    v
  }

  def readByteArray(): Array[Byte] = {
    val n = readVarint().toInt
    val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
    pos += n
    a
  }

  def readString(): String = new String(readByteArray(), "UTF-8")

  def packedVarints(): Array[Long] = {
    val v = readBytesView()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (v.hasMore) out += v.readVarint()
    out.toArray
  }

  def packedSints(): Array[Long] = {
    val v = readBytesView()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (v.hasMore) out += v.readSint()
    out.toArray
  }

  def skip(): Unit = lastWire match {
    case 0 => readVarint()
    case 1 => pos += 8
    case 2 => val n = readVarint().toInt; pos += n
    case 5 => pos += 4
    case w => throw new IllegalStateException(s"unsupported wire type $w")
  }
}

object OsmPbf {
  import PgSnapshotDump.pointType

  /** A `.osm.pbf` file whose framing is cut short or out of bounds; the
    * message names the file and the byte offset of the bad frame. */
  class PbfFormatException(msg: String) extends java.io.IOException(msg)

  /** The largest BlobHeader and Blob this reader accepts: the PBF
    * spec's 64 KiB and 32 MiB caps. */
  val MaxHeaderBytes: Int = 64 * 1024
  val MaxBlobBytes: Int = 32 * 1024 * 1024

  /** Same five pgsnapshot entity schemas as the TSV dump reader. */
  def schemaFor(entity: String): StructType = PgSnapshotDump.schemaFor(entity)

  /** Blob -> raw PrimitiveBlock bytes (raw or zlib). */
  private def inflateBlob(blob: Array[Byte]): Array[Byte] = {
    val v = new PbView(blob, 0, blob.length)
    var raw: Array[Byte] = null
    var zlib: Array[Byte] = null
    var rawSize = -1
    while (v.hasMore) v.nextField() match {
      case 1 => raw = v.readByteArray()
      case 2 => rawSize = v.readVarint().toInt
      case 3 => zlib = v.readByteArray()
      case _ => v.skip()
    }
    if (raw != null) raw
    else {
      // raw_size is optional in the spec: when absent, start from a
      // guess and keep inflating until the stream reports finished,
      // growing the buffer as needed — a one-shot inflate() into a
      // guessed buffer would silently truncate the PrimitiveBlock.
      val inf = new java.util.zip.Inflater()
      inf.setInput(zlib)
      var out = new Array[Byte](
        if (rawSize >= 0) math.max(rawSize, 1) else math.max(zlib.length * 4, 1 << 16))
      var n = 0
      while (!inf.finished()) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        val w = inf.inflate(out, n, out.length - n)
        if (w == 0 && inf.needsInput() && !inf.finished())
          throw new java.io.EOFException("truncated zlib stream in PBF blob")
        n += w
      }
      inf.end()
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
  }

  /** The feature set this decoder implements. */
  private[graft] val supportedFeatures = Set("OsmSchema-V0.6", "DenseNodes")

  /** HeaderBlock required_features gate (PBF spec: "A reader must
    * refuse a file with required features it does not support"). */
  private[graft] def checkRequiredFeatures(headerBlob: Array[Byte]): Unit = {
    val block = inflateBlob(headerBlob)
    val v = new PbView(block, 0, block.length)
    while (v.hasMore) v.nextField() match {
      case 4 =>
        val feat = v.readString()
        if (!supportedFeatures(feat))
          throw new UnsupportedOperationException(
            s"PBF file requires feature '$feat' which this reader does not implement " +
              s"(supported: ${supportedFeatures.mkString(", ")})")
      case _ => v.skip()
    }
  }

  private final case class Info(version: Int, timestampMicros: Long,
      changeset: Long, uid: Int)
  private val noInfo = Info(-1, Long.MinValue, -1L, -1)

  private def parseInfo(v: PbView, dateGranularity: Long): Info = {
    var version = -1; var ts = Long.MinValue; var cs = -1L; var uid = -1
    while (v.hasMore) v.nextField() match {
      case 1 => version = v.readVarint().toInt
      case 2 => ts = v.readVarint() * dateGranularity * 1000L // ms -> micros
      case 3 => cs = v.readVarint()
      case 4 => uid = v.readVarint().toInt
      case _ => v.skip()
    }
    Info(version, ts, cs, uid)
  }

  /** Decode one OSMData blob into InternalRows for `entity`, projected
    * to `required`. */
  def decodeBlob(blob: Array[Byte], entity: String,
      required: StructType): Seq[InternalRow] = {
    val block = inflateBlob(blob)
    val v = new PbView(block, 0, block.length)
    var strings = Array.empty[UTF8String]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000L
    val groups = scala.collection.mutable.ArrayBuffer.empty[PbView]
    while (v.hasMore) v.nextField() match {
      case 1 => // stringtable
        val st = v.readBytesView()
        val ss = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
        while (st.hasMore) st.nextField() match {
          case 1 => ss += UTF8String.fromBytes(st.readByteArray())
          case _ => st.skip()
        }
        strings = ss.toArray
      case 2 => groups += v.readBytesView()
      case 17 => granularity = v.readVarint()
      case 18 => dateGranularity = v.readVarint()
      case 19 => latOffset = v.readVarint()
      case 20 => lonOffset = v.readVarint()
      case _ => v.skip()
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]

    def coord(offset: Long, raw: Long): Double =
      1e-9 * (offset + granularity * raw)

    def tagsMap(keys: Array[Long], vals: Array[Long]): ArrayBasedMapData = {
      val ks = new Array[Any](keys.length)
      val vs = new Array[Any](keys.length)
      var i = 0
      while (i < keys.length) {
        ks(i) = strings(keys(i).toInt); vs(i) = strings(vals(i).toInt); i += 1
      }
      new ArrayBasedMapData(ArrayData.toArrayData(ks), ArrayData.toArrayData(vs))
    }

    // assemble a full-schema row then project to `required`
    val fullSchema = schemaFor(entity)
    val projIdx = required.fields.map(f => fullSchema.fieldIndex(f.name))
    def emit(full: Array[Any]): Unit =
      out += InternalRow.fromSeq(projIdx.map(full).toIndexedSeq)

    def infoCols(i: Info): Array[Any] = Array[Any](
      if (i.version >= 0) i.version else null,
      if (i.uid >= 0) i.uid else null,
      if (i.timestampMicros != Long.MinValue) i.timestampMicros else null,
      if (i.changeset >= 0) i.changeset else null)

    groups.foreach { g =>
      while (g.hasMore) g.nextField() match {
        case 1 if entity == "nodes" => // plain Node
          val n = g.readBytesView()
          var id = 0L; var lat = 0L; var lon = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          var info = noInfo
          while (n.hasMore) n.nextField() match {
            case 1 => id = n.readSint()
            case 2 => keys = n.packedVarints()
            case 3 => vals = n.packedVarints()
            case 4 => info = parseInfo(n.readBytesView(), dateGranularity)
            case 8 => lat = n.readSint()
            case 9 => lon = n.readSint()
            case _ => n.skip()
          }
          val ic = infoCols(info)
          emit(Array[Any](id, ic(0), ic(1), ic(2), ic(3),
            tagsMap(keys, vals),
            InternalRow(coord(lonOffset, lon), coord(latOffset, lat))))
        case 2 if entity == "nodes" => // DenseNodes
          val d = g.readBytesView()
          var ids = Array.empty[Long]; var lats = Array.empty[Long]
          var lons = Array.empty[Long]; var kv = Array.empty[Long]
          var dVersions = Array.empty[Long]; var dTs = Array.empty[Long]
          var dCs = Array.empty[Long]; var dUid = Array.empty[Long]
          while (d.hasMore) d.nextField() match {
            case 1 => ids = ids ++ d.packedSints()
            case 5 => // DenseInfo
              val di = d.readBytesView()
              while (di.hasMore) di.nextField() match {
                case 1 => dVersions = dVersions ++ di.packedVarints()
                case 2 => dTs = dTs ++ di.packedSints()
                case 3 => dCs = dCs ++ di.packedSints()
                case 4 => dUid = dUid ++ di.packedSints()
                case _ => di.skip()
              }
            case 8 => lats = lats ++ d.packedSints()
            case 9 => lons = lons ++ d.packedSints()
            case 10 => kv = kv ++ d.packedVarints()
            case _ => d.skip()
          }
          var id = 0L; var lat = 0L; var lon = 0L
          var ts = 0L; var cs = 0L; var kvPos = 0
          var i = 0
          while (i < ids.length) {
            id += ids(i); lat += lats(i); lon += lons(i)
            if (i < dTs.length) ts += dTs(i)
            if (i < dCs.length) cs += dCs(i)
            val ks = scala.collection.mutable.ArrayBuffer.empty[Long]
            val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
            while (kvPos < kv.length && kv(kvPos) != 0) {
              ks += kv(kvPos); vs += kv(kvPos + 1); kvPos += 2
            }
            if (kvPos < kv.length) kvPos += 1 // consume the 0 delimiter
            emit(Array[Any](id,
              if (i < dVersions.length) dVersions(i).toInt else null,
              if (i < dUid.length) dUid(i).toInt else null,
              if (i < dTs.length) ts * dateGranularity * 1000L else null,
              if (i < dCs.length) cs else null,
              tagsMap(ks.toArray, vs.toArray),
              InternalRow(coord(lonOffset, lon), coord(latOffset, lat))))
            i += 1
          }
        case 3 if entity == "ways" || entity == "way_nodes" => // Way
          val w = g.readBytesView()
          var id = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          var refs = Array.empty[Long]
          var info = noInfo
          while (w.hasMore) w.nextField() match {
            case 1 => id = w.readVarint()
            case 2 => keys = keys ++ w.packedVarints()
            case 3 => vals = vals ++ w.packedVarints()
            case 4 => info = parseInfo(w.readBytesView(), dateGranularity)
            case 8 => refs = refs ++ w.packedSints()
            case _ => w.skip()
          }
          var acc = 0L
          val nodeIds = refs.map { d => acc += d; acc }
          if (entity == "ways") {
            val ic = infoCols(info)
            emit(Array[Any](id, ic(0), ic(1), ic(2), ic(3),
              tagsMap(keys, vals),
              ArrayData.toArrayData(nodeIds), null))
          } else {
            var s = 0
            nodeIds.foreach { nid =>
              emit(Array[Any](id, nid, s)); s += 1
            }
          }
        case 4 if entity == "relations" || entity == "relation_members" =>
          val r = g.readBytesView()
          var id = 0L
          var keys = Array.empty[Long]; var vals = Array.empty[Long]
          var roles = Array.empty[Long]; var memids = Array.empty[Long]
          var types = Array.empty[Long]
          var info = noInfo
          while (r.hasMore) r.nextField() match {
            case 1 => id = r.readVarint()
            case 2 => keys = keys ++ r.packedVarints()
            case 3 => vals = vals ++ r.packedVarints()
            case 4 => info = parseInfo(r.readBytesView(), dateGranularity)
            case 8 => roles = roles ++ r.packedVarints()
            case 9 => memids = memids ++ r.packedSints()
            case 10 => types = types ++ r.packedVarints()
            case _ => r.skip()
          }
          if (entity == "relations") {
            val ic = infoCols(info)
            emit(Array[Any](id, ic(0), ic(1), ic(2), ic(3), tagsMap(keys, vals)))
          } else {
            var acc = 0L
            var i = 0
            val typeNames = Array("N", "W", "R").map(UTF8String.fromString)
            while (i < memids.length) {
              acc += memids(i)
              emit(Array[Any](id, acc, typeNames(types(i).toInt),
                strings(roles(i).toInt), i))
              i += 1
            }
          }
        case _ => g.skip()
      }
    }
    out.toSeq
  }
}
