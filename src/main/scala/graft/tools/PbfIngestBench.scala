package graft.tools

/** Ingest benchmark against the reference's ONE published wall-clock
  * anchor: Osmosis `--read-pbf --write-pgsql` loaded the Montenegro
  * extract (~1.4M nodes, ~160k ways, way_nodes + relations +
  * relation_members) in 160 s (etl/osm-load.sh:32-43, BASELINE.md).
  *
  * This main synthesizes a PBF at that entity scale with an independent
  * wire encoder (same framing the reader's spec tests use), then times
  * `OsmPbfSource` reading ALL FIVE pgsnapshot entities and landing them
  * as parquet — our side of the same boundary (PBF in, queryable tables
  * out). Prints one JSON line.
  */
object PbfIngestBench {

  // ---- minimal protobuf wire encoder (mirrors OsmPbfSpec's) ----------
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
  private def ld(num: Int, p: Array[Byte]): Array[Byte] =
    key(num, 2) ++ varint(p.length) ++ p
  private def vi(num: Int, v: Long): Array[Byte] = key(num, 0) ++ varint(v)
  private def packedV(num: Int, vs: Iterable[Long]): Array[Byte] =
    ld(num, vs.iterator.flatMap(varint).toArray)
  private def packedS(num: Int, vs: Iterable[Long]): Array[Byte] =
    ld(num, vs.iterator.flatMap(v => varint(zz(v))).toArray)
  private def str(num: Int, s: String): Array[Byte] = ld(num, s.getBytes("UTF-8"))
  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length + 1024)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  private val strings = Seq("", "highway", "residential", "primary",
    "name", "Road", "type", "multipolygon", "outer")
  /** Per-blob string table: the 9 fixed strings + `extra` generated
    * names, so payload entropy resembles a real extract (names are the
    * bulk of real PBF string tables) instead of deflating to nothing. */
  private def stringTable(rnd: scala.util.Random, extra: Int): Array[Byte] = {
    val names = Seq.fill(extra)(
      s"${('A' + rnd.nextInt(26)).toChar}${rnd.alphanumeric.take(11).mkString}")
    ld(1, (strings ++ names).flatMap(s => str(1, s)).toArray)
  }

  private def writeBlob(dos: java.io.DataOutputStream, block: Array[Byte]): Unit = {
    val blob = vi(2, block.length) ++ ld(3, deflate(block))
    val header = str(1, "OSMData") ++ vi(3, blob.length)
    dos.writeInt(header.length); dos.write(header); dos.write(blob)
  }

  /** Montenegro-ish synthetic PBF: nNodes dense nodes (every 10th
    * tagged highway, every 10th carrying a distinct generated name),
    * nWays ways of ~10 refs with jittered geometry, nRels relations of
    * 2 way members. Coordinate deltas are seeded-random jitter (~real
    * GPS spread), so the file compresses like a genuine extract rather
    * than collapsing to uniform deltas. */
  def generate(path: String, nNodes: Int, nWays: Int, nRels: Int): Unit = {
    val rnd = new scala.util.Random(4242L)
    val dos = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20))
    val perBlob = 8000
    var id = 0L
    while (id < nNodes) {
      val n = math.min(perBlob, nNodes - id).toInt
      val nNames = (n + 9) / 10
      val ids = Seq.tabulate(n)(i => if (i == 0) id + 1 else 1L)
      // delta-coded jitter: ±50k nano-degree units (~±0.005 deg)
      val lats = Seq.tabulate(n)(i =>
        if (i == 0) 420000000L else rnd.nextInt(100001) - 50000L)
      val lons = Seq.tabulate(n)(i =>
        if (i == 0) 190000000L + id else rnd.nextInt(100001) - 50000L)
      var nameIdx = strings.length.toLong
      val kv = (0 until n).flatMap { i =>
        if ((id + i) % 10 == 0) {
          val e = Seq(1L, 2L, 4L, nameIdx, 0L)
          nameIdx += 1
          e
        } else Seq(0L)
      }
      val dense = ld(2, packedS(1, ids) ++ packedS(8, lats) ++
        packedS(9, lons) ++ packedV(10, kv))
      writeBlob(dos, stringTable(rnd, nNames) ++ ld(2, dense))
      id += n
    }
    val refsPerWay = math.max(nNodes / math.max(nWays, 1), 2)
    var w = 0
    val waysPerBlob = 1000
    while (w < nWays) {
      val n = math.min(waysPerBlob, nWays - w)
      var nameIdx = strings.length.toLong
      val ways = (0 until n).flatMap { i =>
        val wid = 10000000L + w + i
        val base = ((w + i).toLong * refsPerWay) % math.max(nNodes - 12, 1)
        val refs = Seq.tabulate(10)(j =>
          if (j == 0) base + 1 else 1L + rnd.nextInt(3))
        val nm = nameIdx; nameIdx += 1
        ld(3, vi(1, wid) ++ packedV(2, Seq(1L, 4L)) ++
          packedV(3, Seq(if ((w + i) % 2 == 0) 2L else 3L, nm)) ++
          packedS(8, refs))
      }.toArray
      writeBlob(dos, stringTable(rnd, n) ++ ld(2, ways))
      w += n
    }
    val rels = (0 until nRels).flatMap { i =>
      ld(4, vi(1, 20000000L + i) ++ packedV(2, Seq(6L)) ++ packedV(3, Seq(7L)) ++
        packedV(8, Seq(8L, 8L)) ++
        packedS(9, Seq(10000000L + i, 1L)) ++ packedV(10, Seq(1L, 1L)))
    }.toArray
    writeBlob(dos, stringTable(rnd, 0) ++ ld(2, rels))
    dos.close()
  }

  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("pbf-bench").toString
    val pbf = s"$dir/synthetic.osm.pbf"
    val nNodes = sys.env.getOrElse("PBF_NODES", "1400000").toInt
    val nWays = sys.env.getOrElse("PBF_WAYS", "160000").toInt
    val nRels = sys.env.getOrElse("PBF_RELS", "10000").toInt
    val tGen0 = System.nanoTime()
    generate(pbf, nNodes, nWays, nRels)
    val genSec = (System.nanoTime() - tGen0) / 1e9

    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.sparkContext.setLogLevel("ERROR")

    val entities = Seq("nodes", "ways", "way_nodes", "relations",
      "relation_members")
    val t0 = System.nanoTime()
    val counts = entities.map { e =>
      val df = spark.read.format("graft.sources.OsmPbfSource")
        .option("entity", e).load(pbf)
      df.write.mode("overwrite").parquet(s"$dir/$e.parquet")
      e -> spark.read.parquet(s"$dir/$e.parquet").count()
    }
    val ingestSec = (System.nanoTime() - t0) / 1e9
    val cnt = counts.map { case (e, c) => s""""$e":$c""" }.mkString(",")
    println(s"""{"metric":"pbf_ingest","value":$ingestSec,"unit":"sec","gen_sec":$genSec,"counts":{$cnt},"baseline_osmosis_sec":160.171,"file_mb":${new java.io.File(pbf).length() / 1048576.0}}""")
    spark.stop()
  }
}
