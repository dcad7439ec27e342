package graft.tools

import org.apache.spark.sql.functions._

/** WARC/WET ingest scale witness: generates a synthetic Common-Crawl
  * style archive (many `.wet.gz` files, one gzip member per record)
  * IN PARALLEL with one Spark task per file, then times (a) the
  * headers-only census (payload pruned → skipped in-stream) and (b)
  * the full-payload scan, at two archive sizes. What it asserts:
  * parallelism == file count (the crawl's own scale unit), and both
  * scans grow ~linearly in bytes (exponent ≈ 1): the reader is a
  * streaming pass, not a buffer-the-file pass.
  *
  * Run: `sbt "runMain graft.tools.WarcSmoke [filesLo] [recsPerFile]"`.
  */
object WarcSmoke {
  def main(args: Array[String]): Unit = {
    // lo must already saturate the worker pool (files >= cores), or the
    // hi point just recruits idle cores and the exponent reads ~0
    val filesLo = if (args.nonEmpty) args(0).toInt else 32
    val recsPerFile = if (args.length > 1) args(1).toInt else 10000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    def genArchive(nFiles: Int): (String, Long) = {
      val dir = java.nio.file.Files.createTempDirectory("warcsmoke").toString
      spark.range(nFiles).repartition(nFiles).foreachPartition {
        (it: Iterator[java.lang.Long]) =>
        it.foreach { f =>
          val recs = (0 until recsPerFile).map { i =>
            val body = s"doc $f/$i " + ("lorem ipsum dolor sit amet " * 36)
            ("conversion", s"https://smoke.example/f$f/d$i",
              "2024-03-01T12:00:00Z", "text/plain", body.getBytes("UTF-8"))
          }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"part-$f%05d.wet.gz"),
            graft.sources.Warc.writeRecords(recs, gzipPerRecord = true))
        }
      }
      val bytes = new java.io.File(dir).listFiles().map(_.length()).sum
      (dir, bytes)
    }

    def census(dir: String, nFiles: Int): (Double, Double, Long) = {
      val df = graft.sources.Warc.read(spark, dir)
      require(df.rdd.getNumPartitions == nFiles,
        s"expected $nFiles partitions, got ${df.rdd.getNumPartitions}")
      val t0 = System.nanoTime()
      val h = df.groupBy("record_type")
        .agg(count(lit(1)).as("n"), sum("content_length").as("b")).head()
      val headersSec = (System.nanoTime() - t0) / 1e9
      require(h.getLong(1) == nFiles.toLong * recsPerFile, s"row count $h")
      val t1 = System.nanoTime()
      val p = df.select(sum(length(col("payload")).cast("long"))).head()
      val payloadSec = (System.nanoTime() - t1) / 1e9
      require(p.getLong(0) == h.getLong(2), "payload bytes != content_length sum")
      (headersSec, payloadSec, h.getLong(2))
    }

    // JIT/codegen warmup on a throwaway archive so the lo timing isn't
    // a first-use cliff
    locally {
      val dir = java.nio.file.Files.createTempDirectory("warcwarm").toString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "w.wet.gz"),
        graft.sources.Warc.writeRecords((0 until 100).map(i =>
          ("conversion", s"https://w/$i", "2024-03-01T12:00:00Z",
            "text/plain", "warm".getBytes("UTF-8"))), gzipPerRecord = true))
      graft.sources.Warc.read(spark, dir).agg(count(lit(1)),
        sum(length(col("payload")))).head()
    }

    val (dirLo, gzLo) = genArchive(filesLo)
    val (hLo, pLo, rawLo) = census(dirLo, filesLo)
    val (dirHi, gzHi) = genArchive(filesLo * 4)
    val (hHi, pHi, rawHi) = census(dirHi, filesLo * 4)
    val hExp = math.log(hHi / hLo) / math.log(rawHi.toDouble / rawLo)
    val pExp = math.log(pHi / pLo) / math.log(rawHi.toDouble / rawLo)
    val mbsHeaders = rawHi / 1e6 / hHi
    val mbsPayload = rawHi / 1e6 / pHi
    Seq(dirLo, dirHi).foreach { d =>
      new java.io.File(d).listFiles().foreach(_.delete())
      new java.io.File(d).delete()
    }
    println(s"""{"metric":"warc_smoke","files_lo":$filesLo,""" +
      s""""files_hi":${filesLo * 4},"recs_per_file":$recsPerFile,""" +
      s""""gz_bytes_lo":$gzLo,"gz_bytes_hi":$gzHi,""" +
      s""""raw_bytes_lo":$rawLo,"raw_bytes_hi":$rawHi,""" +
      f""""headers_sec_lo":$hLo%.2f,"headers_sec_hi":$hHi%.2f,""" +
      f""""payload_sec_lo":$pLo%.2f,"payload_sec_hi":$pHi%.2f,""" +
      f""""headers_exponent":$hExp%.3f,"payload_exponent":$pExp%.3f,""" +
      f""""headers_mb_s":$mbsHeaders%.1f,"payload_mb_s":$mbsPayload%.1f}""")
    spark.stop()
  }
}
