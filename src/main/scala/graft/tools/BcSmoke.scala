package graft.tools

import org.apache.spark.sql.functions._

/** Distributed-betweenness scale witness on a graph with a CLOSED-FORM
  * answer: a complete 10-ary tree (bidirectional edges) has exactly one
  * simple path between any two nodes, so from a root source every
  * node's Brandes dependency is just its descendant count, and the
  * total dependency mass is Σ_t (depth(t) − 1). The witness runs the
  * distributed path (the edge count clears the broadcast-local
  * threshold), asserts those two exact numbers, and reports wall time —
  * correctness at scale, not a toy-vs-toy diff.
  *
  * Run: `sbt "runMain graft.tools.BcSmoke [depth]"` (default 6 →
  * 1.11M nodes / 2.22M directed edges).
  */
object BcSmoke {
  def main(args: Array[String]): Unit = {
    val depth = if (args.nonEmpty) args(0).toInt else 6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    // complete 10-ary tree, nodes 0..(10^(d+1)-1)/9 - 1 in level order:
    // node k's children are 10k+1 .. 10k+10
    val levels = (0 to depth).map(l => math.pow(10, l).toLong)
    val n = levels.sum
    val nInternal = levels.dropRight(1).sum // nodes with children
    val down = spark.range(nInternal).select(col("id").as("p"),
        explode(sequence(col("id") * 10 + 1, col("id") * 10 + 10)).as("c"))
    val edges = down.select(col("p").as("start_node"), col("c").as("end_node"))
      .unionByName(down.select(col("c").as("start_node"), col("p").as("end_node")))
      .withColumn("w", lit(1L))
      .localCheckpoint(true)
    require(edges.count() == 2 * (n - 1))

    val t0 = System.nanoTime()
    val bc = graft.osm.GraphCheck.betweennessFromSources(
        edges, Seq(0L), localThreshold = 0)
      .localCheckpoint(true)
    val sec = (System.nanoTime() - t0) / 1e9

    // closed form 1: a child-of-root's dependency counts every target
    // in its own subtree except itself (σ ≡ 1 on a tree, and the child
    // is interior on exactly those paths) → subtree size − 1
    val childSubtree = (0 until depth).map(l => math.pow(10, l).toLong).sum
    val got1 = bc.filter(col("node_id") === 1L).head().getDouble(1)
    require(got1 == (childSubtree - 1).toDouble,
      s"child-of-root dependency $got1 != ${childSubtree - 1}")

    // closed form 2: total dependency mass = Σ_t (depth(t) − 1)
    val totalExpect = (2 to depth).map(l =>
      math.pow(10, l).toLong * (l - 1)).sum.toDouble
    val total = bc.agg(sum(col("betweenness"))).head().getDouble(0)
    require(total == totalExpect, s"total mass $total != $totalExpect")

    // WAVE-BATCHING witness (VERDICT r12 item 8): on a depth-4 tree
    // (11,111 nodes, distributed path forced), 10 sources in ONE wave
    // must cost roughly the same SPARK JOB COUNT as a single source —
    // the serial per-source loop paid ~10x — and the batched result
    // must match the exact local-path answer to 1e-9.
    val nInt4 = (0 until 4).map(l => math.pow(10, l).toLong).sum
    val down4 = spark.range(nInt4).select(col("id").as("p"),
      explode(sequence(col("id") * 10 + 1, col("id") * 10 + 10)).as("c"))
    val edges4 = down4
      .select(col("p").as("start_node"), col("c").as("end_node"))
      .unionByName(
        down4.select(col("c").as("start_node"), col("p").as("end_node")))
      .withColumn("w", lit(1L))
      .localCheckpoint(true)
    val jobCounter = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCounter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async — settle by polling until the counter
    // holds still (job-start events post at submission, so a blocking
    // action's events are all in flight by return)
    def settle(): Long = {
      var last = -1L
      var cur = jobCounter.get()
      while (cur != last) { Thread.sleep(200); last = cur; cur = jobCounter.get() }
      cur
    }
    def countJobs(body: => Unit): Long = {
      val before = settle()
      body
      settle() - before
    }
    val srcs10 = (1L to 10L).toSeq
    val jobs1 = countJobs {
      graft.osm.GraphCheck.betweennessFromSources(edges4, Seq(1L),
        localThreshold = 0).count()
    }
    var bc10: org.apache.spark.sql.DataFrame = null
    val jobs10 = countJobs {
      bc10 = graft.osm.GraphCheck.betweennessFromSources(edges4, srcs10,
        localThreshold = 0).localCheckpoint(true)
    }
    spark.sparkContext.removeSparkListener(listener)
    require(jobs10 <= jobs1 + 10 && jobs10 < 3 * jobs1,
      s"wave batching broken: $jobs10 jobs for 10 sources vs $jobs1 for 1")
    val exact10 = graft.osm.GraphCheck
      .betweennessFromSources(edges4, srcs10) // broadcast-local path
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    bc10.collect().foreach { r =>
      val (nd, v) = (r.getLong(0), r.getDouble(1))
      require(math.abs(v - exact10(nd)) < 1e-9,
        s"batched bc mismatch at node $nd: $v vs ${exact10(nd)}")
    }

    println(s"""{"metric":"bc_smoke","nodes":$n,"edges":${2 * (n - 1)},""" +
      f""""depth":$depth,"sec":$sec%.2f,"child_dep":$got1%.0f,""" +
      f""""total_mass":$total%.0f,"exact_checked":true,""" +
      s""""wave_jobs_1src":$jobs1,"wave_jobs_10src":$jobs10,""" +
      s""""wave_exact_vs_local":true}""")
    spark.stop()
  }
}
