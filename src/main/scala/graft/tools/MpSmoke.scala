package graft.tools

import org.apache.spark.sql.functions._

/** Multipolygon-assembly scale witness: synthesizes millions of
  * multipolygon relations straight from `spark.range` — every outer
  * ring split across three ways with the middle way drawn REVERSED
  * (the stitcher's hard case), every 10th relation carrying a hole —
  * then times `assembleRings` + `multipolygonAreas` at two scales.
  * Integer-grid coordinates make every shoelace term IEEE-exact, so
  * the witness asserts the EXACT total area (16·n − holes), total ring
  * counts, and that all rings close — correctness at scale, not just
  * wall-clock.
  *
  * Run: `sbt "runMain graft.tools.MpSmoke [relationsLo]"`.
  */
object MpSmoke {
  def main(args: Array[String]): Unit = {
    val nLo = if (args.nonEmpty) args(0).toLong else 500000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)

    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.cast("double").as("lon"), y.cast("double").as("lat"))

    // one pathological mega-relation: a giant square ring split into
    // `megaWays` unit-length 2-point ways (side = megaWays/4), placed
    // far from the uniform grid. Its single (relation, role) group is
    // the skew case the O(n) endpoint-indexed stitcher guards: the hot
    // task's work is linear in the member count, so wall-clock stays
    // within the uniform case's band (gate below).
    def megaFixture(megaWays: Long): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, Double) = {
      val s = megaWays / 4
      val x0 = -10 * s; val y0 = -10 * s
      def per(k: org.apache.spark.sql.Column) = {
        // Column `/` is DOUBLE division — cast back for integer side index
        val side = (k / s).cast("long"); val off = k % s
        struct(
          (when(side === 0, lit(x0) + off)
            .when(side === 1, lit(x0 + s))
            .when(side === 2, lit(x0 + s) - off)
            .otherwise(lit(x0))).cast("double").as("lon"),
          (when(side === 0, lit(y0))
            .when(side === 1, lit(y0) + off)
            .when(side === 2, lit(y0 + s))
            .otherwise(lit(y0 + s) - off)).cast("double").as("lat"))
      }
      val relId = -1L
      val ways = spark.range(megaWays).select(
        (lit(2000000000L) + col("id")).as("id"),
        array(per(col("id")), per((col("id") + 1) % megaWays))
          .as("linestring"))
      val members = spark.range(megaWays).select(
        lit(relId).as("relation_id"),
        (lit(2000000000L) + col("id")).as("member_id"),
        lit("W").as("member_type"), lit("outer").as("member_role"),
        col("id").cast("int").as("sequence_id"))
      (members, ways, s.toDouble * s.toDouble)
    }

    def run(n: Long, megaWays: Long = 0L): (Double, Long, Long, Double) = {
      val rels = spark.range(n)
        .select(col("id").as("r"),
          ((col("id") % 1000L) * 10L).as("bx"),
          ((col("id") / 1000L) * 10L).as("by"))
      // outer square (bx,by)..(bx+4,by+4) as 3 ways, middle reversed;
      // hole (1x1) on every 10th relation
      val ways = rels.select(col("r"), explode(array(
          struct((col("r") * 4).as("id"),
            array(pt(col("bx"), col("by")), pt(col("bx") + 4, col("by")))
              .as("linestring")),
          struct((col("r") * 4 + 1).as("id"),
            array(pt(col("bx") + 4, col("by") + 4), pt(col("bx") + 4, col("by")))
              .as("linestring")),
          struct((col("r") * 4 + 2).as("id"),
            array(pt(col("bx") + 4, col("by") + 4), pt(col("bx"), col("by") + 4),
              pt(col("bx"), col("by"))).as("linestring")),
          struct((col("r") * 4 + 3).as("id"),
            when(col("r") % 10 === 0, array(
              pt(col("bx") + 1, col("by") + 1), pt(col("bx") + 2, col("by") + 1),
              pt(col("bx") + 2, col("by") + 2), pt(col("bx") + 1, col("by") + 2),
              pt(col("bx") + 1, col("by") + 1)))
              .otherwise(lit(null)).as("linestring"))
        )).as("w"))
        .select(col("r"), col("w.id").as("id"), col("w.linestring"))
        .filter(col("linestring").isNotNull)
      val members0 = ways.select(
        col("r").as("relation_id"), col("id").as("member_id"),
        lit("W").as("member_type"),
        when(col("id") % 4 === 3, "inner").otherwise("outer").as("member_role"),
        (col("id") % 4).cast("int").as("sequence_id"))
      val waysIn0 = ways.select(col("id"), col("linestring"))
      val (members, waysIn, megaArea) =
        if (megaWays == 0L) (members0, waysIn0, 0.0)
        else {
          val (mm, mw, ma) = megaFixture(megaWays)
          (members0.unionByName(mm), waysIn0.unionByName(mw), ma)
        }
      val nMegaRels = if (megaWays == 0L) 0L else 1L

      val t0 = System.nanoTime()
      val rings = graft.osm.Multipolygon.assembleRings(members, waysIn)
        .localCheckpoint(true)
      val stats = rings.agg(
        count(lit(1)).as("rings"),
        sum(when(col("closed"), 0L).otherwise(1L)).as("open")).head()
      val areas = graft.osm.Multipolygon.multipolygonAreas(members, waysIn)
        .agg(count(lit(1)).as("rels"), sum(col("area_deg2")).as("area")).head()
      val sec = (System.nanoTime() - t0) / 1e9
      require(stats.getLong(1) == 0L, s"open rings: ${stats.getLong(1)}")
      val holes = (n + 9) / 10
      require(stats.getLong(0) == n + holes + nMegaRels,
        s"ring count ${stats.getLong(0)} != ${n + holes + nMegaRels}")
      require(areas.getLong(0) == n + nMegaRels,
        s"relation count ${areas.getLong(0)}")
      val expect = 16.0 * n - 1.0 * holes + megaArea
      require(math.abs(areas.getDouble(1) - expect) < 1e-6,
        s"total area ${areas.getDouble(1)} != $expect")
      (sec, stats.getLong(0), holes, areas.getDouble(1))
    }

    run(10000L) // JIT warmup
    val (secLo, ringsLo, _, _) = run(nLo)
    val (secHi, ringsHi, _, _) = run(nLo * 4)
    val exp = math.log(secHi / secLo) / math.log(4.0)
    // skew gate: the 4n uniform load PLUS one n-way mega-relation
    // (one task stitches the whole thing; 500k ways at the default n)
    // must stay within 2x of the uniform 4n wall-clock — the
    // endpoint-indexed stitcher makes the hot task linear, so the bound
    // holds with a wide margin, and sizing the mega-relation by n keeps
    // the gate scale-free (a multiple of 4, so the square ring closes)
    val megaWays = nLo - nLo % 4
    val (secSkew, _, _, _) = run(nLo * 4, megaWays)
    require(secSkew <= 2.0 * secHi,
      f"skew gate: $secSkew%.2f s > 2x uniform $secHi%.2f s")
    println(s"""{"metric":"mp_smoke","relations_lo":$nLo,""" +
      s""""relations_hi":${nLo * 4},"rings_lo":$ringsLo,"rings_hi":$ringsHi,""" +
      f""""assemble_sec_lo":$secLo%.2f,"assemble_sec_hi":$secHi%.2f,""" +
      f""""exponent":$exp%.3f,"mega_ways":$megaWays,""" +
      f""""assemble_sec_skew":$secSkew%.2f,"skew_gate_2x":true,""" +
      f""""exact_area_checked":true}""")
    spark.stop()
  }
}
