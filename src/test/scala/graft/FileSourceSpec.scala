package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.{FileChunk, Warc}

/** The listing rule the three file sources share (`sources.FileSource`),
  * pinned once per format: a directory reads its data files in name
  * order and skips `_`/`.` files; a missing path fails at planning,
  * naming the path. */
class FileSourceSpec extends SparkTestBase {

  /** One format under test: its source, its options, the extension its
    * data files need, and a data file holding `rowsPerFile` rows. */
  private case class Format(label: String, source: String,
      options: Map[String, String], ext: String, rowsPerFile: Long,
      data: () => Array[Byte])

  private def pbfData(): Array[Byte] = {
    val f = Files.createTempFile("listing", ".osm.pbf")
    tools.PbfIngestBench.generate(f.toString, 5, 0, 0)
    Files.readAllBytes(f)
  }

  private val formats = Seq(
    Format("pbf", "graft.sources.OsmPbfSource", Map("entity" -> "nodes"),
      ".pbf", 5L, () => pbfData()),
    Format("pgsnapshot", "graft.sources.PgSnapshotDumpSource",
      Map("entity" -> "relation_members"), "", 2L,
      () => "201\t105\tW\touter\t0\n201\t11\tN\t\t1\n".getBytes("UTF-8")),
    Format("warc", "graft.sources.WarcSource", Map.empty, "", 3L,
      () => Warc.writeRecords((0 until 3).map(i =>
        ("conversion", s"https://example.org/$i", "2024-03-01T12:00:00Z",
          "text/plain", s"body $i".getBytes("UTF-8"))), gzipPerRecord = false)))

  private def load(f: Format, path: String): DataFrame =
    spark.read.format(f.source).options(f.options).load(path)

  /** The file names of the planned input partitions, in plan order. */
  private def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec =>
      b.scan.toBatch.planInputPartitions().toSeq
        .map(p => new Path(p.asInstanceOf[FileChunk].file).getName).distinct
    }.get

  formats.foreach { f =>
    test(s"${f.label}: a directory reads its data files in name order, " +
        "skipping _SUCCESS, .x.crc and .hidden") {
      val dir = Files.createTempDirectory(s"listing-${f.label}")
      Seq("c", "a", "b").foreach(n => Files.write(dir.resolve(n + f.ext), f.data()))
      // bytes no format parses: reading any of these fails the scan
      Seq("_SUCCESS", ".x.crc", ".hidden").foreach(n =>
        Files.write(dir.resolve(n + f.ext), "junk\tjunk\n".getBytes("UTF-8")))
      val df = load(f, dir.toString)
      assert(plannedFiles(df) === Seq("a", "b", "c").map(_ + f.ext))
      assert(df.count() === 3 * f.rowsPerFile)
    }

    test(s"${f.label}: a missing path fails at planning, naming the path") {
      val missing = Files.createTempDirectory(s"missing-${f.label}")
        .resolve("no-such-dir").toString
      val e = intercept[IllegalArgumentException](load(f, missing).count())
      assert(e.getMessage.contains(s"no such path: $missing"), e.getMessage)
    }
  }
}
