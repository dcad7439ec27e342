package graft


/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced through full evaluation
  * with a noop sink (`count()` would let Spark prune result columns and
  * under-measure — VERDICT r1). Failures are reported as negative
  * sentinel timings AND named in an `errors` list so "broken" is never
  * conflated with "fast".
  */
object Bench {
  /** A query's reported time: the min over its successful reps (a failed
    * rep is -1.0), or -1.0 only when every rep failed. The name lands in
    * `errors` on any failure, and `failed_reps` counts them per query. */
  def minOk(times: Seq[Double]): Double =
    times.filter(_ >= 0).minOption.getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    // SPARK_GRAFT_ONLY=<regex> restricts to matching query names (dev
    // iteration on one hot query without the full sweep).
    // SPARK_GRAFT_REPS=<n> runs each query n times and records the MIN —
    // single-shot timings carry first-use codegen compilation and GC
    // noise that has repeatedly read as phantom regressions in
    // round-over-round comparison; min-of-n is the standard answer.
    // Default stays 1 so the driver's numbers remain comparable across
    // rounds.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(1).max(1)
    // host-regime self-description (VERDICT r17 item 3): loadavg before/
    // after, CPU count, and the code-cache setting land in the artifact
    // so round-over-round diffs can tell a degraded host session from a
    // code change without a detached-checkout A/B.
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString("[", ",", "]")
      catch { case _: Throwable => "[]" }
    val loadBefore = loadavg()
    val codeCache = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .find(_.contains("ReservedCodeCacheSize")).getOrElse("default")

    // Untimed JVM/codegen warmup BEFORE the sweep (VERDICT r21 item 7,
    // guide §1 "time the computation"): in a fresh JVM the first query
    // absorbs C2/Janino/parquet-reader/shuffle first-use compilation —
    // measured 70-124 s on the first q_s row of an isolated subset vs
    // 6-9 s warm — and the first STREAMING row absorbs the whole
    // Structured Streaming stack (q_cc_curation_stream, alphabetically
    // the first stream row, read 166 s in the r22 baseline sweep vs
    // 1.2 s isolated min-of-3). That cost has been misattributed to
    // whichever rows run first three rounds running (the r21 q_d_
    // editdist/embedding adjudication). The warmup runs SYNTHETIC
    // plans (not any declared query, so no declared row gets a
    // codegen-cache head start over the others): one batch plan
    // touching parquet scan + hash-agg + broadcast join + window +
    // sort + the noop sink over a parquet file it writes itself from
    // `spark.range` (the fixture's tables are measured data, so the
    // warmup reads none of them), and one 2-row MemoryStream
    // micro-batch through a watermarked stateful op + foreachBatch.
    // The timed protocol is unchanged; SPARK_GRAFT_WARMUP=0 restores the
    // r21-and-earlier cold-JVM behavior; the artifact records which
    // ran ("warmup" field).
    val warmup = sys.env.get("SPARK_GRAFT_WARMUP").forall(_ != "0")
    if (warmup) {
      spark.sparkContext.setJobDescription("bench warmup (untimed)")
      val warmupDir = java.nio.file.Files.createTempDirectory("graft-warmup")
      try {
        import org.apache.spark.sql.functions._
        val synth = warmupDir.resolve("synthetic.parquet").toString
        spark.range(0, 50000, 1, 4)
          .select(col("id"), (col("id") % 997).as("k"),
            (rand(7) * 100).as("q"), (rand(11) * 1000).as("p"))
          .write.mode("overwrite").parquet(synth)
        val agg = spark.read.parquet(synth)
          .groupBy((col("k") % 64).as("g"))
          .agg(sum(col("q")).as("q"),
            avg(col("p")).as("p"), count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("g"), lit(8))).orderBy(col("q"))
        agg.join(broadcast(agg.select(col("g"))), "g")
          .withColumn("rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .orderBy("g")
          .write.format("noop").mode("overwrite").save()
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val ms = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, String)]
        val q = ms.toDF().toDF("id", "ts", "v")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("v")
          .writeStream
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
            df.count(); ()
          })
          .start()
        ms.addData(Seq((1L, new java.sql.Timestamp(0L), "a"),
          (2L, new java.sql.Timestamp(1000L), "a")))
        q.processAllAvailable()
        q.stop()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] warmup failed (ignored): ${e.getMessage}")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(warmupDir.toFile)
      }
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(null)
    }

    var errors = List.empty[String]
    val allTimes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            if (!errors.contains(name)) errors ::= name
            false
          }
        // operators persist self-join inputs internally; drop them between
        // queries so earlier queries' cache doesn't skew later timings
        spark.catalog.clearCache()
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> times
    }
    val results = allTimes.map { case (name, times) => name -> minOk(times) }
    val failedReps = allTimes.map { case (name, ts) => name -> ts.count(_ < 0) }
      .collect { case (k, n) if n > 0 => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      // average the two middle elements for even rep counts — s(size/2)
      // alone is the UPPER median, which at reps=2 reports the max rep
      // and overstates the min/median spread this number witnesses
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // min/median spread across reps: how far the kept min sits from a
    // typical rep — a one-number noise witness for the sweep
    val totalMedian = allTimes.map(_._2.filter(_ >= 0)).filter(_.nonEmpty)
      .map(median).sum
    val loadAfterSweep = loadavg()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum

    // Trigger-loop rows (streaming foreachBatch pipelines over file /
    // memory sources) are dominated by trigger scheduling + sink
    // commits, not data-plane work, and have produced phantom 2-10x
    // single-shot swings three rounds running (VERDICT r20 items 1-2,
    // r21 item 4: ~2 pages of adjudication per round). Re-measure them
    // ISOLATED, min of SPARK_GRAFT_STREAM_REPS (default 3), AFTER the
    // sweep, and emit as a SEPARATE field (`stream_isolated_min`, with
    // the rep count in `stream_isolated_reps`): the sweep's `queries`
    // map keeps the untouched single-shot protocol so the driver's cold
    // totals stay round-over-round comparable, while this field is the
    // number to trust for the streaming rows themselves.
    // SPARK_GRAFT_STREAM_REPS=0 skips.
    val streamRows = Seq("q_e_dedup_stream", "q_e_interval_join",
      "q_e_neardup_stream", "q_cc_wet_stream", "q_cc_curation_stream",
      "q_s_index_stream")
    val streamReps = sys.env.get("SPARK_GRAFT_STREAM_REPS")
      .map(_.toInt).getOrElse(3)
    val streamIsolated =
      if (streamReps <= 0) Map.empty[String, Double]
      else streamRows
        .filter(n => SparkEntry.queries.contains(n) &&
          only.forall(_.findFirstIn(n).isDefined))
        .map { name =>
          val fn = SparkEntry.queries(name)
          val times = (1 to streamReps).map { _ =>
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop")
                      .mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(
                  s"[bench] $name isolated rep FAILED: ${e.getMessage}")
                false
              }
            spark.catalog.clearCache()
            if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          }
          name -> minOk(times)
        }.toMap
    val streamJson = streamIsolated.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v) }
      .mkString("{", ",", "}")

    // PBF ingest vs the reference's ONE published anchor (BASELINE.md:
    // 160 s Osmosis Montenegro load): synthesize the same entity counts,
    // land all five pgsnapshot tables as parquet through OsmPbfSource.
    // SPARK_GRAFT_SKIP_PBF=1 opts out.
    var pbfDir: String = null
    val pbfIngest =
      if (sys.env.contains("SPARK_GRAFT_SKIP_PBF")) -1.0
      else try {
        val dir = java.nio.file.Files.createTempDirectory("pbf-bench").toString
        val pbf = s"$dir/synthetic.osm.pbf"
        tools.PbfIngestBench.generate(pbf, 1400000, 160000, 10000)
        val t0 = System.nanoTime()
        // the five entity loads are INDEPENDENT jobs over the same file:
        // submit them concurrently so each job's task tail back-fills
        // the executors another job frees (guide §2.6 — overlap
        // independent jobs) instead of paying five sequential tails.
        // Work and outputs are identical to the sequential loop.
        // pool sized from the session's cores (VERDICT r21 item 6): on
        // a small master 5 concurrent decode jobs fight for cores
        // instead of back-filling tails; cap in-flight jobs at
        // cores/2, never more than the 5 entities.
        val poolSize = math.min(5, math.max(1, cpus.toInt / 2))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val loads = Seq("nodes", "ways", "way_nodes", "relations",
            "relation_members").map { e =>
            scala.concurrent.Future {
              spark.read.format("graft.sources.OsmPbfSource")
                .option("entity", e).load(pbf)
                .write.mode("overwrite").parquet(s"$dir/$e.parquet")
            }
          }
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(loads),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
        pbfDir = dir
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] pbf_ingest FAILED: ${e.getMessage}")
        errors ::= "pbf_ingest"
        -1.0
      }

    // End-to-end EP3 graph build at the same Montenegro scale — the unit
    // a real user of osm-road-graphs.sql:8-254 times: PBF entities ->
    // car network -> impute -> split -> merge -> directed minimal edge
    // list -> parquet export, one job. Reads the .pbf directly through
    // the DSv2 source (not the parquet landed above) so the number is
    // the full file-to-edge-list wall clock.
    val graphE2e =
      if (pbfDir == null) -1.0
      else try {
        val pbf = s"$pbfDir/synthetic.osm.pbf"
        // localCheckpoint: the split/merge pipeline consumes way_nodes
        // ~5x and ways ~6x — lazy PBF frames would re-inflate and
        // re-decode the whole file per consumer (r21; guide §1.2 /
        // §8: decode the heavy payload once, derive from the
        // materialized copy — which is also what the osmosis anchor
        // itself does: one load into tables, queries read the tables).
        // Still timed: the decode is inside t0, so the number remains
        // the full file-to-edge-list wall clock.
        def entity(e: String) = spark.read
          .format("graft.sources.OsmPbfSource").option("entity", e).load(pbf)
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        val tables = graft.osm.OsmTables(
          entity("nodes"), entity("ways"), entity("way_nodes"))
        val merged = graft.osm.RoadGraph.buildMergedNetwork(tables)
        graft.osm.RoadGraph.minimalDirectedGraph(merged)
          .write.mode("overwrite").parquet(s"$pbfDir/edges.parquet")
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] graph_e2e FAILED: ${e.getMessage}")
        errors ::= "graph_e2e"
        -1.0
      }

    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // median_def records the spread metric's definition IN the artifact
    // (ADVICE r19): r19 switched even-rep medians from upper-median to
    // middle-average, so total_median_sec at reps=2 is not like-for-like
    // with r18-and-earlier artifacts — the tag makes that machine-visible
    // instead of relying on readers knowing the cutover round.
    val hostJson = s"""{"loadavg_before":$loadBefore,"loadavg_after_sweep":$loadAfterSweep,"loadavg_end":${loadavg()},"cpus":"$cpus","code_cache":"$codeCache","total_min_sec":$total,"total_median_sec":$totalMedian,"median_def":"mid_avg_since_r19"}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","warmup":$warmup,"queries":$qs,"failed_reps":$failedReps,"stream_isolated_min":$streamJson,"stream_isolated_reps":$streamReps,"errors":$errJson,"reps":$reps,"host":$hostJson,"pbf_ingest_sec":$pbfIngest,"graph_e2e_sec":$graphE2e,"pbf_baseline_osmosis_sec":160.171,"sf":"$sfDir"}"""
    println(line)
    // LAST stdout line: the COMPLETE per-query map, one bare JSON line
    // (VERDICT r21 item 1 — the r12-r21 1.2 KB truncation meant the
    // driver's per-query diff and scaling block could never fully
    // populate from stdout; the truly fatal part, sbt's "[info] "
    // prefix on forked output, is fixed by `run / outputStrategy :=
    // StdoutOutput` in build.sbt). Values are ms-rounded to keep the
    // line compact (~5 KB); the full-precision map is also committed in
    // the artifact file named below.
    val finalJson = {
      def f3(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val all = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"warmup":$warmup,"queries":$all,"failed_reps":$failedReps,"stream_isolated_min":$streamJson,"stream_isolated_reps":$streamReps,"full_precision_artifact":"BENCH_COLD.json|BENCH_STEADY.json","errors":$errJson,"reps":$reps,"host":$hostJson,"pbf_ingest_sec":${f3(pbfIngest)},"graph_e2e_sec":${f3(graphE2e)},"pbf_baseline_osmosis_sec":160.171,"sf":"$sfDir"}"""
    }
    println(finalJson)
    // the driver's captured stdout tail truncates long runs — also land
    // the complete per-query JSON as a repo artifact for round-over-round
    // comparison (VERDICT r5 item 7). Artifacts are SPLIT BY PROTOCOL
    // (VERDICT r7 item 3 — mixing warm and cold numbers in one path cost
    // a round of attention): reps=1 full sweeps land BENCH_COLD.json
    // (driver-comparable), reps>=2 land BENCH_STEADY.json (min-of-n).
    // Only a FULL sweep at the driver's sf0.1 may claim either default
    // path — a SPARK_GRAFT_ONLY subset or a dev run at another SF would
    // silently clobber the round-over-round record with an incomparable
    // file (ADVICE r6). SPARK_GRAFT_BENCH_OUT still lands any run at an
    // explicit path.
    // Non-32-core sweeps land at a _c<cpus> suffix: the driver's 8-core
    // scaling run used to overwrite the canonical 32-core record
    // (VERDICT r21 item 2, third round of this family). The suffixed
    // names are gitignored so a scaling sweep leaves the tree clean.
    val benchOut = sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse {
      if (only.isEmpty && sfDir.endsWith("sf0.1")) {
        val suffix = if (cpus == "32") "" else s"_c$cpus"
        Some(if (reps == 1) s"BENCH_COLD$suffix.json"
          else s"BENCH_STEADY$suffix.json")
      } else { System.err.println(
        s"[bench] partial/off-sf run (only=${only.nonEmpty}, sf=$sfDir): " +
          "skipping bench artifact; set SPARK_GRAFT_BENCH_OUT to land it")
        None }
    }
    benchOut.foreach { path =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
