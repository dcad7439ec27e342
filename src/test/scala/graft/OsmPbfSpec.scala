package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The hand-decoded PBF DSv2 source, validated against a synthetic PBF
  * assembled by an independent in-test encoder (varint/zigzag/packed
  * writers + zlib blob framing per the public PBF spec). */
class OsmPbfSpec extends SparkTestBase {

  // ---- minimal protobuf wire encoder --------------------------------
  private def varint(v0: Long): Array[Byte] = {
    var v = v0
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    do {
      val b = (v & 0x7F).toInt
      v = v >>> 7
      out += (if (v != 0) (b | 0x80) else b).toByte
    } while (v != 0)
    out.toArray
  }
  private def zz(v: Long): Long = (v << 1) ^ (v >> 63)
  private def key(num: Int, wire: Int): Array[Byte] = varint((num << 3) | wire)
  private def ld(num: Int, payload: Array[Byte]): Array[Byte] =
    key(num, 2) ++ varint(payload.length) ++ payload
  private def vi(num: Int, v: Long): Array[Byte] = key(num, 0) ++ varint(v)
  private def packedV(num: Int, vs: Seq[Long]): Array[Byte] =
    ld(num, vs.flatMap(varint).toArray)
  private def packedS(num: Int, vs: Seq[Long]): Array[Byte] =
    ld(num, vs.flatMap(v => varint(zz(v))).toArray)
  private def str(num: Int, s: String): Array[Byte] = ld(num, s.getBytes("UTF-8"))

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** One OSMData blob containing dense nodes, two ways, one relation. */
  private def buildPbf(): String = {
    val strings = Seq("", "highway", "residential", "name", "Main",
      "outer", "type", "multipolygon")
    val stringTable = ld(1, strings.flatMap(s => str(1, s)).toArray)

    // DenseNodes: ids 1,2,3 at (lon 19.0+i*1e-5, lat 42.0), node 1 tagged
    val denseInfo =
      packedV(1, Seq(1, 1, 1)) ++       // versions
      packedS(2, Seq(1577836800L, 0, 0)) ++ // ts deltas (2020-01-01 in s, dateGran=1000 -> ms units... see assert)
      packedS(3, Seq(9, 0, 0)) ++        // changeset deltas
      packedS(4, Seq(7, 0, 0))           // uid deltas
    val dense = ld(2,
      packedS(1, Seq(1, 1, 1)) ++
      ld(5, denseInfo) ++
      packedS(8, Seq(420000000L, 0, 0)) ++
      packedS(9, Seq(190000000L, 100L, 100L)) ++
      packedV(10, Seq(1, 2, 0, 0, 0)))   // n1: highway=residential; n2,n3: none

    // Way 101 (highway=residential, name=Main) refs 1,2,3; way 102 refs 2,3
    val way1 = ld(3,
      vi(1, 101) ++ packedV(2, Seq(1, 3)) ++ packedV(3, Seq(2, 4)) ++
      packedS(8, Seq(1, 1, 1)))
    val way2 = ld(3, vi(1, 102) ++ packedS(8, Seq(2, 1)))

    // Relation 201 type=multipolygon, members way 101 (outer), way 102 (outer)
    val rel = ld(4,
      vi(1, 201) ++ packedV(2, Seq(6)) ++ packedV(3, Seq(7)) ++
      packedV(8, Seq(5, 5)) ++ packedS(9, Seq(101, 1)) ++ packedV(10, Seq(1, 1)))

    val group = ld(2, dense ++ way1 ++ way2 ++ rel)
    val block = stringTable ++ group
    val blob = vi(2, block.length) ++ ld(3, deflate(block))
    val header = str(1, "OSMData") ++ vi(3, blob.length)

    // also prepend an OSMHeader blob the reader must skip
    val hBlock = Array.empty[Byte]
    val hBlob = vi(2, hBlock.length) ++ ld(3, deflate(hBlock))
    val hHeader = str(1, "OSMHeader") ++ vi(3, hBlob.length)

    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(hHeader.length); dos.write(hHeader); dos.write(hBlob)
    dos.writeInt(header.length); dos.write(header); dos.write(blob)
    dos.close()

    val f = new java.io.File(
      Files.createTempDirectory("pbf").toFile, "fixture.osm.pbf")
    Files.write(f.toPath, out.toByteArray)
    f.getPath
  }

  private val fmt = "graft.sources.OsmPbfSource"
  private lazy val path = buildPbf()

  test("nodes: dense decode with delta coords, tags, info") {
    val rows = spark.read.format(fmt).option("entity", "nodes").load(path)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val g1 = rows(0).getStruct(rows(0).fieldIndex("geom"))
    assert(math.abs(g1.getDouble(0) - 19.0) < 1e-9)
    assert(math.abs(g1.getDouble(1) - 42.0) < 1e-9)
    val g3 = rows(2).getStruct(rows(2).fieldIndex("geom"))
    assert(math.abs(g3.getDouble(0) - 19.00002) < 1e-9) // two +100-unit deltas
    assert(rows(0).getAs[Map[String, String]]("tags") ===
      Map("highway" -> "residential"))
    assert(rows(1).getAs[Map[String, String]]("tags") === Map.empty)
    assert(rows(0).getInt(rows(0).fieldIndex("version")) === 1)
    assert(rows(0).getLong(rows(0).fieldIndex("changeset_id")) === 9L)
    assert(rows(0).getAs[java.sql.Timestamp]("tstamp").toInstant.getEpochSecond
      === 1577836800L)
  }

  test("ways: varint ids, delta refs, string-table tags") {
    val rows = spark.read.format(fmt).option("entity", "ways").load(path)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(101L, 102L))
    assert(rows(0).getSeq[Long](rows(0).fieldIndex("nodes")) === Seq(1L, 2L, 3L))
    assert(rows(1).getSeq[Long](rows(1).fieldIndex("nodes")) === Seq(2L, 3L))
    assert(rows(0).getAs[Map[String, String]]("tags") ===
      Map("highway" -> "residential", "name" -> "Main"))
  }

  test("way_nodes explode with 0-based sequence; relations + members") {
    val wn = spark.read.format(fmt).option("entity", "way_nodes").load(path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wn === Set((101L, 1L, 0), (101L, 2L, 1), (101L, 3L, 2),
      (102L, 2L, 0), (102L, 3L, 1)))
    val rels = spark.read.format(fmt).option("entity", "relations").load(path)
      .collect()
    assert(rels.length === 1 && rels(0).getLong(0) === 201L)
    assert(rels(0).getAs[Map[String, String]]("tags") ===
      Map("type" -> "multipolygon"))
    val rm = spark.read.format(fmt).option("entity", "relation_members").load(path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getInt(4))).toSet
    assert(rm === Set((201L, 101L, "W", "outer", 0), (201L, 102L, "W", "outer", 1)))
  }

  test("blob without raw_size inflates fully (buffer growth loop)") {
    // raw_size (Blob field 2) is optional in the spec. Build a large,
    // highly compressible block — repeated-delta dense nodes — so the
    // deflated payload is far smaller than the raw block and any
    // one-shot guess-sized inflate would truncate it.
    val n = 20000
    val strings = Seq("")
    val stringTable = ld(1, strings.flatMap(s => str(1, s)).toArray)
    val dense = ld(2,
      packedS(1, 1L +: Seq.fill(n - 1)(1L)) ++
      packedS(8, 420000000L +: Seq.fill(n - 1)(0L)) ++
      packedS(9, 190000000L +: Seq.fill(n - 1)(100L)))
    val block = stringTable ++ ld(2, dense)
    val zlib = deflate(block)
    assert(zlib.length * 4 < block.length, "fixture must force buffer growth")
    val blobNoRawSize = ld(3, zlib) // field 2 (raw_size) deliberately absent
    val rows = sources.OsmPbf.decodeBlob(blobNoRawSize, "nodes",
      sources.OsmPbf.schemaFor("nodes"))
    assert(rows.length === n)
    assert(rows.head.getLong(0) === 1L && rows.last.getLong(0) === n.toLong)
  }

  test("directory of .pbf files reads as their union (multi-file planning)") {
    val dir = Files.createTempDirectory("pbfdir")
    Files.copy(new java.io.File(path).toPath, dir.resolve("a.osm.pbf"))
    Files.copy(new java.io.File(path).toPath, dir.resolve("b.osm.pbf"))
    Files.write(dir.resolve("notes.txt"), "ignored".getBytes) // non-.pbf skipped
    val n = spark.read.format(fmt).option("entity", "nodes")
      .load(dir.toString).count()
    assert(n === 6L) // 3 nodes per file, two files
  }

  test("required_features gate: supported pass, unknown refuse") {
    // HeaderBlock field 4 = required_features
    val ok = str(4, "OsmSchema-V0.6") ++ str(4, "DenseNodes")
    sources.OsmPbf.checkRequiredFeatures(
      vi(2, ok.length) ++ ld(3, deflate(ok)))
    val bad = str(4, "OsmSchema-V0.6") ++ str(4, "HistoricalInformation")
    val e = intercept[UnsupportedOperationException] {
      sources.OsmPbf.checkRequiredFeatures(
        vi(2, bad.length) ++ ld(3, deflate(bad)))
    }
    assert(e.getMessage.contains("HistoricalInformation"))
  }

  test("a file whose header requires unknown features is refused at planning") {
    val feats = str(4, "HistoricalInformation")
    val hBlob = vi(2, feats.length) ++ ld(3, deflate(feats))
    val hHeader = str(1, "OSMHeader") ++ vi(3, hBlob.length)
    val out = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(out)
    dos.writeInt(hHeader.length); dos.write(hHeader); dos.write(hBlob)
    dos.close()
    val f = new java.io.File(
      Files.createTempDirectory("pbfbad").toFile, "bad.osm.pbf")
    Files.write(f.toPath, out.toByteArray)
    val e = intercept[Exception] {
      spark.read.format(fmt).option("entity", "nodes").load(f.getPath).count()
    }
    assert(e.getMessage.contains("HistoricalInformation") ||
      e.getCause != null &&
        e.getCause.getMessage.contains("HistoricalInformation"))
  }

  /** `bytes` written to a fresh temp dir as `name`. */
  private def writePbf(name: String, bytes: Array[Byte]): String = {
    val f = new java.io.File(Files.createTempDirectory("pbfcut").toFile, name)
    Files.write(f.toPath, bytes)
    f.getPath
  }

  /** The error a node scan of `file` raises, within 60 s (a reader
    * that spins at EOF fails the test instead of hanging the suite). */
  private def scanError(file: String): Throwable = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val scan = Future {
      spark.read.format(fmt).option("entity", "nodes").load(file).count()
    }
    Await.ready(scan, scala.concurrent.duration.Duration(60, "s"))
    val err = scan.value.get.failed
    assert(err.isSuccess, s"scan of $file returned ${scan.value.get}")
    err.get
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("a file cut inside a blob fails fast, naming the file and offset") {
    val full = Files.readAllBytes(new java.io.File(path).toPath)
    val cut = writePbf("cut.osm.pbf", full.take(full.length - 10))
    val msg = messages(scanError(cut))
    assert(msg.contains(cut), msg)
    val at = raw"byte offset (\d+)".r.findFirstMatchIn(msg).map(_.group(1).toLong)
    // the OSMData blob starts after the OSMHeader frame and runs past
    // the cut
    assert(at.exists(o => o > 4 && o < full.length - 10), msg)
    assert(msg.contains("file ends inside"), msg)
  }

  test("a 1-byte file fails; an empty file reads 0 rows") {
    val one = writePbf("one.osm.pbf", Array[Byte](0))
    val msg = messages(scanError(one))
    assert(msg.contains(one) && msg.contains("byte offset 0"), msg)
    val empty = writePbf("empty.osm.pbf", Array.empty[Byte])
    assert(spark.read.format(fmt).option("entity", "nodes").load(empty)
      .count() === 0L)
  }

  test("BlobHeader and Blob lengths outside the spec limits are refused") {
    val dos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(dos)
    out.writeInt(64 * 1024 + 1); out.close()
    val big = writePbf("bighdr.osm.pbf", dos.toByteArray ++ new Array[Byte](8))
    assert(messages(scanError(big)).contains("BlobHeader length 65537"))
    val neg = writePbf("neghdr.osm.pbf", Array[Byte](-1, -1, -1, -1, 0, 0))
    assert(messages(scanError(neg)).contains("BlobHeader length -1"))
    val hdr = str(1, "OSMData") ++ vi(3, 32L * 1024 * 1024 + 1)
    val bos = new java.io.ByteArrayOutputStream()
    val o2 = new java.io.DataOutputStream(bos)
    o2.writeInt(hdr.length); o2.write(hdr); o2.close()
    val hugeBlob = writePbf("bigblob.osm.pbf", bos.toByteArray)
    val msg = messages(scanError(hugeBlob))
    assert(msg.contains("Blob length 33554433") &&
      msg.contains(s"byte offset ${4 + hdr.length}"), msg)
  }

  test("pbf feeds the road-graph pipeline end to end") {
    implicit val s = spark
    val nodes = spark.read.format(fmt).option("entity", "nodes").load(path)
    val ways = spark.read.format(fmt).option("entity", "ways").load(path)
    val freq = osm.TagExplore.tagValueCounts(ways, "highway").collect()
    assert(freq.length === 1 && freq(0).getString(0) === "residential")
    assert(nodes.count() === 3)
  }
}
