package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.{SpanCounters, SpanListener}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.osm.{CompleteGraph, GraphCheck, OsmTables, PoisExtract, RoadGraph, TagExplore}

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main with `key=value` arguments and reads the JSON it writes to `out=`.
  *
  * One session, `local[cores]`, no other thread pool. After an untimed
  * synthetic warm-up, timed passes of the workload run (see the pass
  * loop). With `trace=1` a traced pass sits between two untraced ones: it
  * materializes every pipeline stage and gathers engine counters per span.
  */
object Harness {

  /** One named operation of a pass; its span is the name. */
  type Op = (String, () => Unit)

  trait Workload {
    def ops(traced: Boolean, pass: Int): Seq[Op]
    /** Phase name -> op-name prefixes that make it up. */
    def phases: Seq[(String, Seq[String])]
    def afterPass(pass: Int): Unit = ()
    /** Observed values for the output checks, read after the timed part. */
    def observe(lastPass: Int): Map[String, Any]
    /** Facts a pass recorded (loop rounds and the like). */
    val facts: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  }

  final case class Pass(traced: Boolean, wallS: Double, cpuS: Double,
      heapPeakMb: Double, heapRetainedMb: Double, allocMb: Double,
      ops: Seq[(String, Double)], attempted: Int,
      errors: Seq[String], facts: Map[String, Any],
      spans: Map[String, SpanCounters], driverGapS: Double,
      persistedRdds: Int)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = conf("work")
    val cores = conf("cores").toInt
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val readyMs = System.currentTimeMillis()
    GcWatch.install()

    val w: Workload = conf("workload") match {
      case "etl" => new Etl(spark, conf("pbf"), work)
      case "graph_analytics" => new GraphAnalytics(spark, conf("city"),
        conf("district"), conf("city_sources"), conf("district_sources"))
      case "query_mix" => new QueryMix(spark, conf("data"), work,
        conf("queries").split(",").toSeq)
    }

    def runOps(ops: Seq[Op]): (Seq[(String, Double)], Int, Seq[String]) = {
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      val errors = mutable.ArrayBuffer.empty[String]
      val sc = spark.sparkContext
      ops.foreach { case (name, body) =>
        sc.setLocalProperty(SpanListener.Prop, name)
        val t0 = System.nanoTime()
        try body()
        catch { case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(400)
        }
        times += name -> (System.nanoTime() - t0) / 1e9
      }
      sc.setLocalProperty(SpanListener.Prop, null)
      (times.toSeq, ops.size, errors.toSeq)
    }

    // Untimed warm-up on synthetic plans that are not part of any
    // workload: class loading, the first job, the code generator and the
    // parquet reader and writer start here, not in the first timed op.
    // Each workload's own plans run cold in the timed pass, as they do
    // for a batch job started with spark-submit.
    val warm0 = System.nanoTime()
    val warm = runOps(Seq("warmup.synthetic" -> (() => Warmup.run(spark, s"$work/warmup"))))
    val warmupS = (System.nanoTime() - warm0) / 1e9
    val warmupEndMs = System.currentTimeMillis()
    listener.foreach(_.drain(spark.sparkContext))

    def runPass(tr: Boolean, pass: Int): Pass = {
      System.gc()
      GcWatch.reset()
      w.facts.clear()
      val cpu0 = cpuNs()
      val alloc0 = Alloc.snapshot()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (ops, attempted, errors) = runOps(w.ops(tr, pass))
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuNs() - cpu0) / 1e9
      val allocMb = Alloc.since(alloc0) / 1048576.0
      val wall1 = System.currentTimeMillis()
      val heapPeak = GcWatch.peakAfterFullGc() / 1048576.0
      Thread.sleep(200)
      System.gc()
      val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val (spans, jobs) = listener.map(_.drain(spark.sparkContext))
        .getOrElse((Map.empty[String, SpanCounters], Nil))
      val busy = unionMs(jobs.map { case (a, b) =>
        (math.max(a, wall0), math.min(b, wall1)) }.filter(x => x._2 > x._1))
      val p = Pass(tr, wallS, cpuS, heapPeak, retained, allocMb, ops, attempted,
        errors, w.facts.toMap, spans,
        if (listener.isDefined) math.max(0L, wall1 - wall0 - busy) / 1e3 else 0.0,
        spark.sparkContext.getPersistentRDDs.size)
      w.afterPass(pass)
      p
    }

    // Passes run while the next one is expected to end within `seconds`
    // of measured time, and at least once: a run never measures more
    // than max(seconds, one pass), however fast the passes get. A traced
    // run makes three passes instead: untraced (cold, like an untraced
    // run), traced, untraced; the last two give the tracing overhead.
    val passes = mutable.ArrayBuffer.empty[Pass]
    def measured = passes.map(_.wallS).sum
    if (traced) Seq(false, true, false).foreach(tr => passes += runPass(tr, passes.size + 1))
    else while (passes.isEmpty || measured * (passes.size + 1) / passes.size <= seconds)
      passes += runPass(false, passes.size + 1)
    val obs0 = System.nanoTime()
    val observed =
      try w.observe(passes.size)
      catch { case e: Throwable => Map("observe_error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    val observeS = (System.nanoTime() - obs0) / 1e9
    val rt = ManagementFactory.getRuntimeMXBean
    val out = Map(
      "host" -> Map(
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "master" -> s"local[$cores]",
        "jvm_args" -> rt.getInputArguments.asScala.toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version),
      "setup" -> Map(
        "session_ready_ms" -> readyMs,
        "warmup_s" -> warmupS,
        "warmup_end_ms" -> warmupEndMs,
        "observe_s" -> observeS,
        "warmup_ops" -> warm._2,
        "warmup_failed" -> warm._3.size,
        "warmup_errors" -> warm._3),
      "phases" -> w.phases.map { case (n, ps) => Map("name" -> n, "prefixes" -> ps) },
      "passes" -> passes.map { p => Map(
        "traced" -> p.traced, "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "heap_peak_mb" -> p.heapPeakMb, "heap_retained_mb" -> p.heapRetainedMb,
        "alloc_mb" -> p.allocMb, "attempted" -> p.attempted,
        "failed" -> p.errors.size, "errors" -> p.errors, "facts" -> p.facts,
        "driver_gap_s" -> p.driverGapS, "persisted_rdds_after" -> p.persistedRdds,
        "ops" -> p.ops.map { case (n, s) => Map("op" -> n, "s" -> s) },
        "spans" -> p.spans.map { case (n, c) => n -> Map(
          "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "executor_cpu_s" -> c.executorCpuNs / 1e9,
          "executor_run_s" -> c.executorRunMs / 1e3, "gc_s" -> c.gcMs / 1e3,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3,
          "spill_bytes" -> c.spillBytes, "records_out" -> c.recordsOut,
          "bytes_out" -> c.bytesOut, "tasks_with_rows" -> c.tasksWithRows) })
      }.toSeq,
      "observed" -> observed)
    val f = new java.io.PrintWriter(conf("out"), "UTF-8")
    try f.write(Json(out)) finally f.close()
    spark.stop()
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ------------------------------------------------------------ etl --

  /** The reference pipeline: PBF -> five pgsnapshot tables -> tag
    * exploration, strict directed road graph, complete network, POIs. */
  final class Etl(spark: SparkSession, pbf: String, work: String)
      extends Workload {
    val entities = Seq("nodes", "ways", "way_nodes", "relations", "relation_members")
    private def dir(p: Int) = s"$work/etl/p$p"
    private def load(e: String) =
      spark.read.format("graft.sources.OsmPbfSource").option("entity", e).load(pbf)
    private def chk(df: DataFrame) = df.localCheckpoint(true)
    private def tables(p: Int) = OsmTables(spark.read.parquet(s"${dir(p)}/nodes"),
      spark.read.parquet(s"${dir(p)}/ways"), spark.read.parquet(s"${dir(p)}/way_nodes"))

    val phases = Seq(
      "pbf_ingest_s" -> Seq("sources."),
      "graph_e2e_s" -> Seq("sources.", "osm.graph", "osm.filter", "osm.impute",
        "osm.split", "osm.merge", "osm.export"),
      "etl_s" -> Seq("sources.", "osm."))

    def ops(traced: Boolean, p: Int): Seq[Op] = {
      val d = dir(p)
      lazy val t = tables(p)
      val ingest: Seq[Op] = entities.map(e => s"sources.$e" -> (() => parquet(load(e), s"$d/$e")))
      val graph: Seq[Op] =
        if (!traced) Seq("osm.graph" -> (() => parquet(
          RoadGraph.minimalDirectedGraph(RoadGraph.buildMergedNetwork(t)), s"$d/edges")))
        else {
          var net0, net, ntm, merged: DataFrame = null
          Seq(
            "osm.filter" -> (() => net0 = chk(RoadGraph.excludeModes(RoadGraph.carNetwork(t.ways)))),
            "osm.impute" -> (() => net = chk(RoadGraph.imputeSpeedLimits(net0))),
            "osm.split" -> (() => {
              val shared = RoadGraph.sharedNodes(t.wayNodes, net)
              val lengths = RoadGraph.waysLength(t.wayNodes, net)
              val splits = RoadGraph.splitNodes(t.wayNodes, net, shared, lengths)
              val limits = RoadGraph.mergeLimits(t.wayNodes, splits, shared, lengths)
              ntm = chk(RoadGraph.nodesToMerge(t.wayNodes, net, limits))
            }),
            "osm.merge" -> (() => {
              merged = chk(RoadGraph.mergedNetwork(ntm, t.nodes, net))
              lastMerged = Some(merged)
            }),
            "osm.export" -> (() => parquet(RoadGraph.minimalDirectedGraph(merged), s"$d/edges")))
        }
      val rest: Seq[Op] = Seq(
        "osm.complete" -> (() => parquet(CompleteGraph.build(t.ways), s"$d/complete")),
        "osm.explore" -> (() => Seq(
          "highway" -> TagExplore.tagValueCounts(t.ways, "highway"),
          "amenity" -> TagExplore.tagValueCounts(t.nodes, "amenity"),
          "highway_keys" -> TagExplore.coTagKeyCounts(t.ways, "highway"),
          "highway_kv" -> TagExplore.tagKvCounts(t.ways, "highway"),
          "highway_oneway" -> TagExplore.tagPairCounts(t.ways, "highway", "oneway"),
          "service" -> TagExplore.tagValueCountsWhere(t.ways, "highway", "service", "service"))
          .foreach { case (n, df) => parquet(df, s"$d/explore_$n") }),
        "osm.pois" -> (() => {
          parquet(PoisExtract.poisNodes(t.nodes), s"$d/pois_nodes")
          parquet(PoisExtract.poisWays(t.ways), s"$d/pois_ways")
        }))
      ingest ++ graph ++ rest
    }

    private var lastMerged: Option[DataFrame] = None

    override def afterPass(p: Int): Unit = deleteTree(new java.io.File(dir(p - 1)))

    /** The outputs are parquet files that `run.py` reads itself; only the
      * split-segment count needs the engine, and only a traced pass has
      * the merged network materialized. */
    def observe(p: Int): Map[String, Any] = Map("output_dir" -> dir(p),
      "split_segments" -> lastMerged.map(_.count()))
  }

  // ------------------------------------------------ graph_analytics --

  /** Connected components, PageRank and the multi-source accessibility
    * search, once on a network above the 100k-edge local gate (the
    * distributed loops) and once on a district below it (the local
    * twins). */
  final class GraphAnalytics(spark: SparkSession, city: String, district: String,
      citySources: String, districtSources: String) extends Workload {
    val gate = 100000L
    val maxIterSssp = 100
    val maxIterCc = 50
    private def ids(path: String) = scala.io.Source.fromFile(path).getLines()
      .filter(_.nonEmpty).map(_.trim.toLong).toSeq
    private val nets = Seq(("dist", city, ids(citySources)),
      ("local", district, ids(districtSources)))
    private val edgeCount = nets.map { case (k, p, _) => k -> spark.read.parquet(p).count() }.toMap
    private val results = mutable.Map.empty[String, DataFrame]

    val phases = Seq("graph_dist_s" -> Seq("graphcheck.cc_dist",
      "graphcheck.pagerank_dist", "graphcheck.sssp_dist"),
      "graph_local_s" -> Seq("graphcheck.cc_local",
        "graphcheck.pagerank_local", "graphcheck.sssp_local"))

    def ops(traced: Boolean, p: Int): Seq[Op] = nets.flatMap { case (k, path, srcs) =>
      def edges = spark.read.parquet(path)
      Seq[Op](
        s"graphcheck.cc_$k" -> (() => {
          val (cc, r) = GraphCheck.connectedComponentsWithRounds(edges, maxIterCc)
          noop(cc); facts(s"cc_${k}_rounds") = r; results(s"cc_$k") = cc
        }),
        s"graphcheck.pagerank_$k" -> (() => {
          val pr = GraphCheck.pageRank(edges, 20)
          noop(pr); results(s"pagerank_$k") = pr
          // pageRank reports no rounds; the gate decides which path ran
          facts(s"pagerank_${k}_rounds") = if (edgeCount(k) > gate) 20 else 0
        }),
        s"graphcheck.sssp_$k" -> (() => {
          val (dist, r) = GraphCheck.multiSourceShortestPaths(
            edges.select("start_node", "end_node", "w"), srcs, maxIterSssp)
          noop(dist); facts(s"sssp_${k}_rounds") = r; results(s"sssp_$k") = dist
        }))
    }

    def observe(p: Int): Map[String, Any] = nets.map { case (k, _, _) =>
      def res(n: String) = results.get(s"${n}_$k")
      k -> Map(
        "edges" -> edgeCount(k),
        "components" -> res("cc").map(_.select(countDistinct("component")).first().getLong(0)),
        "graph_nodes" -> res("cc").map(_.count()),
        "pagerank_rows" -> res("pagerank").map(_.count()),
        "reached" -> res("sssp").map(_.count()))
    }.toMap ++ Map("max_iter_sssp" -> maxIterSssp, "max_iter_cc" -> maxIterCc, "gate" -> gate)
  }

  // ------------------------------------------------------ query_mix --

  /** A fixed set of registry queries. Each result is written to parquet,
    * so the files the timed pass wrote are the ones checked against the
    * DuckDB oracles. */
  final class QueryMix(spark: SparkSession, data: String, work: String,
      names: Seq[String]) extends Workload {
    private val registry = SparkEntry.queries
    val phases = Seq("query_mix_s" -> Seq("entry."))
    private def dir(p: Int) = s"$work/results/p$p"

    def ops(traced: Boolean, p: Int): Seq[Op] = names.map(q =>
      s"entry.$q" -> (() => parquet(registry(q)(spark, data), s"${dir(p)}/$q")))

    override def afterPass(p: Int): Unit = deleteTree(new java.io.File(dir(p - 1)))

    def observe(p: Int): Map[String, Any] = {
      val oracle = SparkEntry.oracleSql
      Map("results_dir" -> dir(p),
        "oracle_sql" -> names.map(q => q -> oracle.getOrElse(q, null)).toMap)
    }
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Synthetic warm-up: a parquet round trip, hash aggregate, broadcast
  * join, window and sort into the noop sink, over generated rows. */
object Warmup {
  def run(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    spark.range(0, 50000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), (rand(7) * 100).as("v"),
        concat(lit("s"), (col("id") % 13).cast("string")).as("s"))
      .write.mode("overwrite").parquet(dir)
    val t = spark.read.parquet(dir)
    val agg = t.groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    t.join(broadcast(agg), "k")
      .withColumn("rn", row_number().over(Window.partitionBy("s").orderBy(col("v"))))
      .orderBy("k", "rn")
      .write.format("noop").mode("overwrite").save()
  }
}

/** Peak heap in use after a collection: GC notifications during a pass,
  * plus the full collection that ends it. */
object GcWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = 0L
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, h: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          GcWatch.synchronized { peak = math.max(peak, used) }
        }
    }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peak = 0L }

  def peakAfterFullGc(): Long = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { math.max(peak, used) }
  }
}

/** Bytes allocated by all live threads since a snapshot. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  def since(before: Map[Long, Long]): Long =
    snapshot().map { case (id, b) => b - before.getOrElse(id, 0L) }.sum
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
