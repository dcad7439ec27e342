package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The DSv2 pgsnapshot-dump reader: parsing (hstore, arrays, WKT,
  * NULLs), multi-file partitioning, and real column pruning. */
class PgDumpSourceSpec extends SparkTestBase {

  private val fmt = "graft.sources.PgSnapshotDumpSource"

  private def writeDump(name: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("pgdump").toFile
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    lines.foreach(w.println)
    w.close()
    f.getPath
  }

  test("ways dump: hstore tags, bigint array, WKT linestring, NULLs") {
    val path = writeDump("ways.txt", Seq(
      Seq("101", "1", "7", "2020-05-08 12:00:00", "9",
        """"highway"=>"residential", "maxspeed"=>"50"""",
        "{1,2,3}", "LINESTRING(0 0, 0.01 0, 0.02 0)").mkString("\t"),
      Seq("102", "2", "\\N", "2020-05-08 12:00:01", "9",
        "\\N", "{4,5}", "LINESTRING(1 1, 1 2)").mkString("\t")))
    val df = spark.read.format(fmt).option("entity", "ways").load(path)
    val rows = df.orderBy("id").collect()
    assert(rows.length === 2)
    val r0 = rows(0)
    assert(r0.getLong(0) === 101L)
    assert(r0.getAs[Map[String, String]]("tags") ===
      Map("highway" -> "residential", "maxspeed" -> "50"))
    assert(r0.getSeq[Long](r0.fieldIndex("nodes")) === Seq(1L, 2L, 3L))
    assert(r0.getAs[java.sql.Timestamp]("tstamp").toString === "2020-05-08 12:00:00.0")
    val line = r0.getSeq[org.apache.spark.sql.Row](r0.fieldIndex("linestring"))
    assert(line.map(p => (p.getDouble(0), p.getDouble(1))) ===
      Seq((0.0, 0.0), (0.01, 0.0), (0.02, 0.0)))
    assert(rows(1).isNullAt(rows(1).fieldIndex("tags")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("user_id")))
  }

  test("COPY text escapes decoded per cell (tab/newline/backslash in tags)") {
    // COPY escapes a literal tab as \t, newline as \n, backslash as \\.
    // A backslash in an hstore VALUE is escaped twice (hstore text
    // doubles it, then COPY doubles each '\' again -> 4 in the file);
    // control chars are raw at the hstore layer, so they carry one COPY
    // escape only.
    val hstoreCell =
      """"note"=>"line1\nline2\ttabbed", "path"=>"C:\\\\tmp""""
    val path = writeDump("ways.txt", Seq(
      Seq("201", "1", "1", "2020-01-01 00:00:00", "1", hstoreCell,
        "{1,2}", "LINESTRING(0 0, 1 0)").mkString("\t")))
    val df = spark.read.format(fmt).option("entity", "ways").load(path)
    val tags = df.head.getAs[Map[String, String]]("tags")
    assert(tags("note") === "line1\nline2\ttabbed")
    assert(tags("path") === "C:\\tmp")
    // the octal/hex forms COPY's reader accepts
    import graft.sources.PgSnapshotDump.decodeCopyEscapes
    assert(decodeCopyEscapes("""a\011b""") === "a\tb")
    assert(decodeCopyEscapes("""a\x41b""") === "aAb")
    assert(decodeCopyEscapes("plain") eq "plain") // fast path: same instance
    assert(decodeCopyEscapes("""\N""") === "N")   // post-null-check meaning
  }

  test("hex EWKB geometry cells parse like their WKT equivalents") {
    // real --write-pgsql-dump output carries PostGIS hex EWKB; the three
    // vectors below are POINT(19.26 42.43) in little- and big-endian
    // EWKB (SRID 4326) and LINESTRING(0 0, 0.01 0, 0.02 0) LE
    val ptLE = "0101000020E6100000C3F5285C8F423340D7A3703D0A374540"
    val ptBE = "0020000001000010E64033428F5C28F5C34045370A3D70A3D7"
    val lineLE = "0102000020E610000003000000000000000000000000000000000000007B14AE47E17A843F00000000000000007B14AE47E17A943F0000000000000000"
    val nPath = writeDump("nodes.txt", Seq(
      Seq("1", "1", "1", "2020-01-01 00:00:00", "1", "\\N", ptLE).mkString("\t"),
      Seq("2", "1", "1", "2020-01-01 00:00:00", "1", "\\N", ptBE).mkString("\t")))
    val nodes = spark.read.format(fmt).option("entity", "nodes").load(nPath)
      .orderBy("id").collect()
    Seq(0, 1).foreach { i =>
      val g = nodes(i).getStruct(nodes(i).fieldIndex("geom"))
      assert(g.getDouble(0) === 19.26 && g.getDouble(1) === 42.43)
    }
    val wPath = writeDump("ways.txt", Seq(
      Seq("7", "1", "1", "2020-01-01 00:00:00", "1",
        """"highway"=>"primary"""", "{1,2,3}", lineLE).mkString("\t")))
    val w = spark.read.format(fmt).option("entity", "ways").load(wPath).head
    val line = w.getSeq[org.apache.spark.sql.Row](w.fieldIndex("linestring"))
    assert(line.map(p => (p.getDouble(0), p.getDouble(1))) ===
      Seq((0.0, 0.0), (0.01, 0.0), (0.02, 0.0)))
  }

  test("relations + relation_members TSV entities parse") {
    val rPath = writeDump("relations.txt", Seq(
      Seq("201", "1", "7", "2020-05-08 12:00:00", "9",
        """"type"=>"multipolygon", "leisure"=>"park"""").mkString("\t")))
    val rels = spark.read.format(fmt).option("entity", "relations").load(rPath)
      .collect()
    assert(rels.length === 1 && rels(0).getLong(0) === 201L)
    assert(rels(0).getAs[Map[String, String]]("tags")("leisure") === "park")
    // role is NOT NULL in pgsnapshot — Osmosis writes '' for roleless
    val mPath = writeDump("relation_members.txt", Seq(
      Seq("201", "105", "W", "outer", "0").mkString("\t"),
      Seq("201", "11", "N", "", "1").mkString("\t")))
    val ms = spark.read.format(fmt).option("entity", "relation_members")
      .load(mPath).orderBy("sequence_id").collect()
    assert(ms(0).getString(2) === "W" && ms(0).getString(3) === "outer")
    assert(ms(1).getString(2) === "N" && ms(1).getString(3) === "")
  }

  test("column pruning reaches the scan (only projected columns parsed)") {
    val path = writeDump("ways.txt", Seq(
      Seq("7", "1", "1", "2020-01-01 00:00:00", "1",
        """"highway"=>"primary"""", "{9,8}", "LINESTRING(0 0, 1 0)").mkString("\t")))
    val df = spark.read.format(fmt).option("entity", "ways").load(path)
      .select(element_at(col("tags"), "highway").as("hw"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // DSv2 BatchScan prints the pruned output attribute list
    assert(p.contains("BatchScan") && p.contains("[tags#") &&
      !p.contains("nodes#") && !p.contains("linestring#"),
      s"scan should read only tags:\n$p")
    assert(df.head.getString(0) === "primary")
  }

  test("writer round-trip: adversarial cells survive write -> read exactly") {
    import org.apache.spark.sql.Row
    val schema = sources.PgSnapshotDump.schemaFor("ways")
    val nasty = Map(
      "tab\there" -> "new\nline",
      "back\\slash" -> "quo\"te",
      "looks=>like" -> "\\N",           // the two-char string, NOT null
      "plain" -> "value")
    val ts = java.sql.Timestamp.valueOf("2020-05-08 12:00:00.123456")
    val rows = Seq(
      Row(101L, 1, 7, ts, 9L, nasty, Seq(1L, 2L, 3L),
        Seq(Row(0.0, 0.0), Row(0.01, 42.5))),
      Row(102L, null, null, null, null, null, Seq.empty[Long], null),
      Row(103L, 2, null, ts, 1L, Map.empty[String, String], Seq(7L), null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = java.nio.file.Files.createTempDirectory("dumpw").toString + "/ways"
    sources.PgSnapshotDumpWriter.write(df, "ways", dir)
    val back = spark.read.format(fmt).option("entity", "ways").load(dir)
      .orderBy("id").collect()
    assert(back.length === 3)
    assert(back(0).getAs[Map[String, String]]("tags") === nasty)
    assert(back(0).getAs[java.sql.Timestamp]("tstamp") === ts)
    assert(back(0).getSeq[Long](back(0).fieldIndex("nodes")) === Seq(1L, 2L, 3L))
    val line = back(0).getSeq[Row](back(0).fieldIndex("linestring"))
    assert(line.map(p => (p.getDouble(0), p.getDouble(1))) ===
      Seq((0.0, 0.0), (0.01, 42.5)))
    assert(back(1).isNullAt(back(1).fieldIndex("tags")))
    assert(back(1).isNullAt(back(1).fieldIndex("tstamp")))
    assert(back(1).getSeq[Long](back(1).fieldIndex("nodes")) === Seq.empty)
    assert(back(2).getAs[Map[String, String]]("tags") === Map.empty)
  }

  test("writer round-trip: non-ASCII tag keys and values read back as UTF-8") {
    // the writer's text sink writes UTF-8; a reader that decoded with
    // the JVM default charset failed on these under an ASCII locale
    import org.apache.spark.sql.Row
    val tags = Map("name" -> "Nikšić", "name:sr" -> "Никшић",
      "naïve:東京" -> "café ☕")
    val df = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(101L, 1, 7, null, 9L, tags, Seq(1L, 2L), null)), 1),
      sources.PgSnapshotDump.schemaFor("ways"))
    val dir = Files.createTempDirectory("dumputf8").toString + "/ways"
    sources.PgSnapshotDumpWriter.write(df, "ways", dir)
    val back = spark.read.format(fmt).option("entity", "ways").load(dir)
      .collect()
    assert(back.length === 1)
    assert(back(0).getAs[Map[String, String]]("tags") === tags)
  }

  test("dump round-trips into the road-graph pipeline (nodes + ways dir scan)") {
    val dir = Files.createTempDirectory("pgdump2").toFile
    def put(name: String, lines: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      lines.foreach(w.println); w.close()
    }
    put("part-0.txt", Seq(
      Seq("201", "1", "1", "2020-01-01 00:00:00", "1",
        """"highway"=>"residential"""", "{1,2}", "LINESTRING(0 0, 0.01 0)").mkString("\t")))
    put("part-1.txt", Seq(
      Seq("202", "1", "1", "2020-01-01 00:00:00", "1",
        """"highway"=>"footway"""", "{2,3}", "LINESTRING(0.01 0, 0.02 0)").mkString("\t")))
    val ways = spark.read.format(fmt).option("entity", "ways").load(dir.getPath)
    assert(ways.count() === 2) // one partition per file
    val net = osm.RoadGraph.carNetwork(ways)
    val r = net.collect()
    assert(r.length === 1 && r.head.getAs[Long]("edge_id") === 201L)
    assert(math.abs(r.head.getAs[Double]("length") - 1112.0) < 1.0)
  }
}
