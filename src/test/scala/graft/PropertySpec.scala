package graft

import org.apache.spark.sql.functions._

import graft.sources.PgSnapshotDump

/** Seeded property checks for round-4 primitives: the codegen'd MatVec
  * vs the higher-order-function formulation, COPY-escape decoding,
  * chunking reassembly, and the SimHash pigeonhole bound. */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new scala.util.Random(1234L)

  test("MatVec == aggregate∘zip_with dot for random matrices/vectors") {
    (1 to 5).foreach { _ =>
      val rows = rnd.nextInt(8) + 1
      val dim = rnd.nextInt(16) + 1
      val mat = Seq.fill(rows)(Seq.fill(dim)(rnd.nextDouble() * 10 - 5))
      val vec = Seq.fill(dim)((rnd.nextFloat() * 10 - 5))
      val df = Seq(Tuple1(vec)).toDF("v")
      val viaMatVec = df.select(
        functions.GraftFunctions.matVec(mat, $"v").as("r"))
        .head().getSeq[Double](0)
      val viaHof = df.select(transform(typedlit(mat), p =>
          aggregate(zip_with($"v", p, (x, y) => x.cast("double") * y),
            lit(0.0), (acc, x) => acc + x)).as("r"))
        .head().getSeq[Double](0)
      assert(viaMatVec === viaHof) // bit-identical: same fold order
    }
  }

  test("IntDot == aggregate∘zip_with long dot for random int8 codes") {
    (1 to 5).foreach { _ =>
      val dim = rnd.nextInt(16) + 1
      val a = Seq.fill(dim)(rnd.nextInt(255) - 127)
      val b = Seq.fill(dim)(rnd.nextInt(255) - 127)
      val df = Seq((a, b)).toDF("a", "b")
      val viaExpr = df.select(
        functions.GraftFunctions.intDot($"a", $"b").as("d"))
        .head().getLong(0)
      val viaHof = df.select(aggregate(
          zip_with($"a", $"b", (x, y) => (x * y).cast("long")),
          lit(0L), (acc, x) => acc + x).as("d"))
        .head().getLong(0)
      assert(viaExpr === viaHof)
      assert(viaExpr === a.zip(b).map { case (x, y) => x.toLong * y }.sum)
    }
  }

  test("decodeCopyEscapes inverts COPY encoding for arbitrary strings") {
    def copyEncode(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '\t' => "\\t"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case c => c.toString
    }
    val alphabet = "ab\\ \t\n\r\"xyZ09"
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      assert(PgSnapshotDump.decodeCopyEscapes(copyEncode(s)) === s,
        s"roundtrip failed for ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("chunkByTokens reassembles the token stream, every chunk <= budget") {
    (1 to 5).foreach { _ =>
      val budget = rnd.nextInt(7) + 1
      val texts = Seq.fill(3)(
        Seq.fill(rnd.nextInt(40) + 1)(
          "tok" + rnd.nextInt(1000)).mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = llm.TextAnalysis
        .chunkByTokens(df, "doc_id", $"text", budget)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3)))
      chunks.groupBy(_._1).foreach { case (id, cs) =>
        assert(cs.forall(_._4 <= budget))
        val reassembled = cs.sortBy(_._2).map(_._3).mkString(" ")
        assert(reassembled === texts(id.toInt))
      }
    }
  }

  test("paragraphDedup invariants on random corpora: conservation, subsequence, determinism, idempotence") {
    import graft.llm.Dedup
    val rnd = new scala.util.Random(31L)
    // small vocabulary forces real cross-document chunk collisions
    val vocab = Vector("aa", "bb", "cc", "dd")
    val docs = (0L until 40L).map { i =>
      val n = rnd.nextInt(18) + 1
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", $"text", chunkTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet === docs.map(_._1).toSet, "every document comes back")
    // conservation: kept + dropped == the doc's chunk count
    docs.foreach { case (id, text) =>
      val nChunks = (text.split(" ").length + 2) / 3
      val (_, kept, dropped) = out(id)
      assert(kept + dropped === nChunks, s"doc $id chunk conservation")
    }
    // each clean text is a concatenation of a subset of the doc's
    // in-order chunks
    docs.foreach { case (id, text) =>
      val chunks = text.split(" ").grouped(3).map(_.mkString(" ")).toSeq
      val clean = out(id)._1
      // greedy subsequence check over chunk units
      var rest = clean
      chunks.foreach { c =>
        if (rest == c || rest.startsWith(c + " "))
          rest = rest.stripPrefix(c).stripPrefix(" ")
      }
      assert(rest.isEmpty, s"doc $id: '$clean' not an in-order chunk subset")
    }
    // global: every distinct chunk text survives EXACTLY once
    val keptChunks = out.toSeq.flatMap { case (_, (clean, _, _)) =>
      if (clean.isEmpty) Seq.empty
      else clean.split(" ").grouped(3).map(_.mkString(" ")).toSeq
    }
    assert(keptChunks.distinct.length === keptChunks.length,
      "no chunk text survives twice corpus-wide")
    // idempotence: dedup of the deduped corpus drops nothing
    val again = Dedup.paragraphDedup(
        out.toSeq.map { case (id, (c, _, _)) => (id, c) }
          .filter(_._2.nonEmpty).toDF("doc_id", "text"),
        "doc_id", $"text", chunkTokens = 3)
      .agg(sum($"dropped_chunks")).head().getLong(0)
    assert(again === 0L, "paragraph dedup must be idempotent")
  }

  test("mergeInto invariants on random upserts: key union, source precedence, idempotence") {
    import graft.ops.RelOps
    val rnd = new scala.util.Random(17L)
    val tKeys = (0L until 60L).filter(_ => rnd.nextBoolean())
    val sKeys = (0L until 80L).filter(_ => rnd.nextBoolean())
    val target = tKeys.map(k => (k, s"t$k", k * 1.5)).toDF("k", "tag", "v")
    val source = sKeys.map(k => (k, s"s$k", k * 10.0)).toDF("k", "tag", "v")
    val merged = RelOps.mergeInto(target, source, Seq("k"), Seq("v"))
    val got = merged.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(got.keySet === (tKeys ++ sKeys).toSet, "result keys = key union")
    got.foreach { case (k, (tag, v)) =>
      val inT = tKeys.contains(k); val inS = sKeys.contains(k)
      if (inS) assert(v === k * 10.0, s"source precedence on v for $k")
      else assert(v === k * 1.5)
      if (inT) assert(tag === s"t$k", s"non-update col keeps target for $k")
      else assert(tag === s"s$k")
    }
    // idempotence: merging the same source again changes nothing
    val twice = RelOps.mergeInto(merged, source, Seq("k"), Seq("v"))
    assert(twice.exceptAll(merged).count() === 0L &&
      merged.exceptAll(twice).count() === 0L, "mergeInto idempotent")
  }

  test("array-form split == relational chain on random graphs with in-way repeats") {
    import graft.ops.RelOps
    import graft.osm.RoadGraph
    // small node pool forces shared nodes; ways may revisit a node
    // (duplicate (way, node) pairs) — the trickiest boundary semantic
    val tuples = for {
      w <- 1 to 120
      len = 2 + rnd.nextInt(7)
      (n, s) <- Seq.fill(len)(1 + rnd.nextInt(60)).zipWithIndex
    } yield (w.toLong, n.toLong, s)
    val wn = tuples.toDF("way_id", "node_id", "sequence_id")
      .localCheckpoint(true)
    val net = wn.select(col("way_id").as("edge_id")).distinct()
    val shared = RoadGraph.sharedNodes(wn, net)
    val lengths = RoadGraph.waysLength(wn, net)
    val splits = RoadGraph.splitNodes(wn, net, shared, lengths)
    val limits = RoadGraph.mergeLimits(wn, splits, shared, lengths)
    val ntm = RoadGraph.nodesToMerge(wn, net, limits)
    val segs = ntm.groupBy("way_id", "group_id")
      .agg(array_join(
        RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
        ",").as("nodes_csv"))
      .select("way_id", "nodes_csv")
    val unsplit = wn
      .join(ntm.select("way_id").distinct(), Seq("way_id"), "left_anti")
      .groupBy("way_id")
      .agg(array_join(
        RelOps.orderedListAgg(col("sequence_id"), col("node_id").cast("string")),
        ",").as("nodes_csv"))
    val chain = segs.unionByName(unsplit)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val arr = RoadGraph.splitSegments(wn, "way_id", "node_id",
        col("sequence_id"))
      .select(col("way_id"),
        array_join(transform(col("nodes"), _.cast("string")), ",").as("csv"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(arr.length === chain.length)
    assert(arr === chain)
  }

  test("normalizeUrl is idempotent across generated messy URLs") {
    // idempotence is the property URL-keyed dedup rests on: a key
    // already in canonical form must never move again (otherwise two
    // pipeline stages normalizing at different times disagree)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val urls = Seq.fill(120) {
      val scheme = pick(Seq("http", "HTTP", "https", "HTTPS"))
      val www = pick(Seq("", "www.", "WWW."))
      val host = pick(Seq("Example.COM", "a.b.example.net", "X.org"))
      val port = pick(Seq("", ":443", ":80", ":8080"))
      // "/utm_source=x" path segment and "?xutm_a=1" param contain the
      // substring but are NOT tracking params — the anchored strip must
      // leave them alone (ADVICE r7: the unanchored regex mangled them)
      val path = pick(Seq("", "/", "/Docs/5", "/Docs/5/", "/a/b//",
        "/utm_source=x"))
      val query = pick(Seq("", "?id=3", "?utm_source=x", "?utm_a=1&id=3",
        "?id=3&utm_b=2", "?utm_a=1&utm_b=2", "?xutm_a=1"))
      val frag = pick(Seq("", "#f", "#sec-2"))
      s"$scheme://$www$host$port$path$query$frag"
    }
    val once :: twice :: Nil = urls.toDF("u")
      .select(graft.llm.Curation.normalizeUrl($"u").as("n1"))
      .select($"n1", graft.llm.Curation.normalizeUrl($"n1").as("n2"))
      .collect().toList.map(_.toSeq.map(_.toString)).transpose
    once.zip(twice).zip(urls).foreach { case ((a, b), raw) =>
      assert(a === b, s"not idempotent for $raw")
      assert(!a.contains("#") && !a.toLowerCase.contains("?utm_") &&
        !a.toLowerCase.contains("&utm_"),
        s"fragment/utm param survived in $a")
      if (raw.contains("?xutm_a=1"))
        assert(a.contains("xutm_a=1"), s"non-tracking param mangled: $raw -> $a")
      if (raw.contains("/utm_source=x"))
        assert(a.contains("/utm_source=x"), s"path segment mangled: $raw -> $a")
    }
  }

  test(".osc parse inverts XML serialization for random changesets") {
    import graft.sources.OscChangeset
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    (1 to 25).foreach { _ =>
      val rows = Seq.fill(rnd.nextInt(12) + 1) {
        val action = pick(Seq("C", "M", "D"))
        val dt = pick(Seq("N", "W", "R"))
        val id = rnd.nextInt(1000000).toLong + 1
        val nTags = rnd.nextInt(4)
        val tags = (1 to nTags).map(i =>
          s"k$i" -> pick(Seq("plain", "a&b", "<q>", "x\"y", s"v${rnd.nextInt(99)}"))).toMap
        val refs = if (dt == "W") Seq.fill(rnd.nextInt(5) + 2)(
          rnd.nextInt(100000).toLong + 1) else Seq.empty[Long]
        val (lon, lat) = if (dt == "N")
          (Some(rnd.nextDouble() * 360 - 180), Some(rnd.nextDouble() * 170 - 85))
        else (None, None)
        OscChangeset.OscRow(action, dt, id, rnd.nextInt(50) + 1,
          rnd.nextInt(9999), java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(1590000000L + rnd.nextInt(1000000))),
          rnd.nextInt(100000).toLong, tags, lon, lat, refs)
      }
      val container = Map("C" -> "create", "M" -> "modify", "D" -> "delete")
      val elem = Map("N" -> "node", "W" -> "way", "R" -> "relation")
      val xml = new StringBuilder("<?xml version='1.0' encoding='UTF-8'?>\n")
      xml ++= "<osmChange version=\"0.6\" generator=\"prop-test\">\n"
      rows.foreach { r =>
        val iso = java.time.format.DateTimeFormatter.ISO_INSTANT
          .format(r.tstamp.toInstant)
        val geo = (r.lon, r.lat) match {
          case (Some(lo), Some(la)) => s""" lon="$lo" lat="$la""""
          case _ => ""
        }
        xml ++= s"""<${container(r.action)}><${elem(r.data_type)} id="${r.id}" version="${r.version}" uid="${r.user_id}" changeset="${r.changeset_id}" timestamp="$iso"$geo>"""
        r.node_refs.foreach(n => xml ++= s"""<nd ref="$n"/>""")
        r.tags.foreach { case (k, v) => xml ++= s"""<tag k="${esc(k)}" v="${esc(v)}"/>""" }
        xml ++= s"</${elem(r.data_type)}></${container(r.action)}>\n"
      }
      xml ++= "</osmChange>\n"
      val parsed = OscChangeset.parseBytes(
        xml.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      assert(parsed === rows, s"round-trip mismatch:\n$xml")
    }
  }

  test("simhash banding pigeonhole: pairs within maxDist always share a chunk") {
    // pure bit-level property of the chunk-bounds derivation
    val bits = llm.Dedup.SimhashBits
    (1 to 2000).foreach { _ =>
      val h = rnd.nextLong() & ((1L << bits) - 1)
      val maxDist = rnd.nextInt(8) + 1
      val flips = rnd.shuffle((0 until bits).toList)
        .take(rnd.nextInt(maxDist + 1))
      val h2 = flips.foldLeft(h)((acc, j) => acc ^ (1L << j))
      val numChunks = maxDist + 1
      val bounds = (0 to numChunks).map(i => i * bits / numChunks)
      val shares = (0 until numChunks).exists { i =>
        val lo = bounds(i); val mask = (1L << (bounds(i + 1) - lo)) - 1L
        ((h >> lo) & mask) == ((h2 >> lo) & mask)
      }
      assert(shares, s"pair at distance ${flips.size} shares no chunk (maxDist=$maxDist)")
    }
  }

  test("SSSP (both paths) == Floyd-Warshall on random weighted digraphs") {
    import graft.osm.GraphCheck
    (1 to 5).foreach { _ =>
      val n = 6 + rnd.nextInt(10)
      val edges = (for {
        a <- 0 until n; b <- 0 until n
        if a != b && rnd.nextInt(100) < 25
      } yield (a.toLong, b.toLong, (1 + rnd.nextInt(9)).toLong))
      if (edges.nonEmpty) {
        // driver Floyd-Warshall reference
        val INF = Long.MaxValue / 4
        val d = Array.fill(n, n)(INF)
        (0 until n).foreach(i => d(i)(i) = 0L)
        edges.foreach { case (a, b, w) =>
          d(a.toInt)(b.toInt) = math.min(d(a.toInt)(b.toInt), w) }
        for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
          if (d(i)(k) + d(k)(j) < d(i)(j)) d(i)(j) = d(i)(k) + d(k)(j)
        val src = rnd.nextInt(n).toLong
        val want = (0 until n).filter(d(src.toInt)(_) < INF)
          .map(v => v.toLong -> d(src.toInt)(v)).toMap
        val df = edges.toDF("start_node", "end_node", "w")
        Seq(0L, 100000L).foreach { thr => // distributed and local paths
          val got = GraphCheck.multiSourceShortestPaths(df, Seq(src),
              localThreshold = thr)._1
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got === want, s"n=$n src=$src thr=$thr")
        }
      }
    }
  }

  test("simplifyLine is idempotent; closestPoint distance respects it") {
    import graft.functions.GraftFunctions.{closestPointOnLine, simplifyLine}
    (1 to 15).foreach { _ =>
      val n = 3 + rnd.nextInt(30)
      val pts = (1 to n).map(i =>
        (i * 1.0 + rnd.nextDouble() * 0.5, rnd.nextDouble() * 3.0))
      val eps = 0.1 + rnd.nextDouble() * 0.5
      val df = Seq(Tuple1(pts)).toDF("raw")
        .select(transform($"raw", p =>
          struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("line"))
        .select($"line", simplifyLine($"line", eps).as("s1"))
        .withColumn("s2", simplifyLine($"s1", eps))
      val r = df.head()
      val s1 = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getDouble(1)))
      val s2 = r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => (x.getDouble(0), x.getDouble(1)))
      // idempotence: every vertex a DP pass keeps deviates > eps from
      // the chord that tested it, so a second pass keeps them all
      assert(s1 === s2, s"second DP pass changed the line (eps=$eps)")
      // any probe point's distance to the simplified line exceeds its
      // distance to the original by at most eps (triangle inequality
      // through the DP guarantee)
      val (qx, qy) = (1.0 + rnd.nextDouble() * n, rnd.nextDouble() * 3.0)
      val probe = df.select(
        sqrt(closestPointOnLine($"line", lit(qx), lit(qy)).getField("dist2")),
        sqrt(closestPointOnLine($"s1", lit(qx), lit(qy)).getField("dist2")))
        .head()
      assert(probe.getDouble(1) <= probe.getDouble(0) + eps + 1e-9,
        s"simplified line drifted: ${probe.getDouble(1)} vs ${probe.getDouble(0)} + $eps")
    }
  }

  test("ring stitching inverts random split/reverse/shuffle of random polygons") {
    import graft.osm.{Multipolygon, RelationMember, Point}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      // random star-convex polygon: sorted angles with jittered radii
      val n = 5 + rnd.nextInt(8)
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val ring = angles.map { a =>
        val r = 1.0 + rnd.nextDouble()
        Point(r * math.cos(a), r * math.sin(a))
      }
      val closed = ring :+ ring.head
      // expected area via local shoelace
      val exp = math.abs(closed.sliding(2).map { case Seq(a, b) =>
        a.lon * b.lat - b.lon * a.lat }.sum) / 2
      // split the closed ring into 2..4 chains at random cut points,
      // reverse a random subset, shuffle member order
      val cutsN = 2 + rnd.nextInt(3)
      val cuts = (0 +: Seq.fill(cutsN - 1)(1 + rnd.nextInt(closed.length - 2))
        .distinct.sorted) :+ (closed.length - 1)
      val segs = cuts.sliding(2).collect {
        case Seq(a, b) if b > a => closed.slice(a, b + 1)
      }.toSeq
      val ways = rnd.shuffle(segs.zipWithIndex.map { case (seg, i) =>
        val g = if (rnd.nextBoolean()) seg.reverse else seg
        (100L + i, g)
      })
      val waysDf = ways.toDF("id", "linestring")
      val members = ways.zipWithIndex.map { case ((wid, _), i) =>
        RelationMember(1L, wid, "W", "outer", i) }.toDF()
      val out = Multipolygon.multipolygonAreas(members, waysDf)
        .select(col("n_outer"), col("n_inner"), col("area_deg2"))
        .head()
      assert(out.getLong(0) === 1L, s"trial $trial: expected 1 outer ring")
      assert(out.getLong(1) === 0L)
      assert(math.abs(out.getDouble(2) - exp) < 1e-9,
        s"trial $trial: area ${out.getDouble(2)} != $exp")
    }
  }

  // ---- local twin == distributed loop on dirty inputs: every operator
  //      behind LocalGate, at the default gate and forced distributed

  /** Row multiset of a result, doubles rounded to the 8-place contract
    * of the pageRank pins, arrays sorted. */
  private def rowBag(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double =>
        BigDecimal(d).setScale(8, BigDecimal.RoundingMode.HALF_UP).toString
      case xs: scala.collection.Seq[_] =>
        xs.map(String.valueOf).sorted.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Each gated operator as a function of its `localThreshold`.
    * `e` is `(start_node, end_node, w)`; `labels` is
    * `(node_id, label)`; `src`/`tgt` are graph nodes and `lone` a node
    * without edges. */
  private def gatedOps(e: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame, src: Long, tgt: Long,
      lone: Long): Seq[(String, Long => Any)] = {
    import graft.osm.{Contraction, GraphCheck => G}
    val pairs = e.select("start_node", "end_node")
    Seq(
      "cc" -> (t => rowBag(G.connectedComponents(pairs, localThreshold = t))),
      "sssp" -> (t => rowBag(G.multiSourceShortestPaths(e, Seq(src, lone),
        localThreshold = t)._1)),
      "closeness" -> (t => rowBag(G.closenessFromSources(e, Seq(src, tgt),
        localThreshold = t))),
      "shortestPathTo" -> (t => G.shortestPathTo(e, src, tgt,
        localThreshold = t)),
      "ksp" -> (t => G.kShortestPaths(e, src, tgt, k = 3,
        localThreshold = t)),
      "pagerank" -> (t => rowBag(G.pageRank(pairs, localThreshold = t))),
      "ppr" -> (t => rowBag(G.personalizedPageRank(pairs, Seq(src, lone),
        localThreshold = t))),
      "hits" -> (t => rowBag(G.hits(pairs, localThreshold = t))),
      "scc" -> (t => rowBag(G.stronglyConnectedComponents(pairs,
        localThreshold = t))),
      "lpa" -> (t => rowBag(G.labelPropagation(pairs, rounds = 3, t))),
      "refine" -> (t => rowBag(G.refineCommunitiesRounds(pairs, labels,
        rounds = 2, t))),
      "coarsen" -> (t => rowBag(G.coarsenGraph(pairs, labels, t))),
      "louvain" -> (t => rowBag(G.louvainTwoLevel(pairs, labels,
        level1Rounds = 2, level2Rounds = 2, t))),
      "coreness" -> (t => rowBag(G.coreness(pairs, rounds = 4, t))),
      "contraction" -> { t =>
        val c = Contraction.contractGraph(e.select(
          monotonically_increasing_id().as("edge_id"),
          col("start_node").as("source"), col("end_node").as("target"),
          col("w").cast("double").as("cost")), localThreshold = t)
        (rowBag(c.edges), rowBag(c.vertexAbsorptions))
      })
  }

  private def assertTwinsAgree(e: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame, src: Long, tgt: Long,
      lone: Long, ctx: String, only: Set[String] = Set.empty): Unit = {
    val eChk = e.localCheckpoint(true)
    val lChk = labels.localCheckpoint(true)
    gatedOps(eChk, lChk, src, tgt, lone)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, run) =>
        assert(run(graft.osm.LocalGate.Threshold) === run(0L),
          s"$name: local twin != distributed loop ($ctx)")
      }
  }

  test("gated graph operators: local == distributed on random graphs " +
      "with self-loops, multi-edges and isolated nodes") {
    val r = new scala.util.Random(4242L)
    (1 to 2).foreach { g =>
      val n = 6 + r.nextInt(7) // nodes 1..n, <= 12
      val base = for {
        a <- 1 to n; b <- 1 to n
        if a != b && r.nextInt(100) < 22
      } yield (a.toLong, b.toLong, (1 + r.nextInt(9)).toLong)
      val loops = Seq.fill(2)(1L + r.nextInt(n)).map(v => (v, v, 3L))
      val multi = base.take(3).map { case (a, b, w) => (a, b, w + 2) }
      // n + 1 has only a self-loop; n + 2 has no edge at all
      val edges = base ++ loops ++ multi :+ ((n + 1L, n + 1L, 1L))
      val labels = (1L to n + 2L).map(v => (v, 1L + r.nextInt(3)))
      val (src, tgt) = (edges.head._1, edges.last._1 % n + 1)
      assertTwinsAgree(edges.toDF("start_node", "end_node", "w"),
        labels.toDF("node_id", "label"), src, tgt, lone = n + 2L,
        s"graph $g, n=$n, ${edges.size} edges")
    }
  }

  test("gated graph operators: a NULL endpoint keeps the distributed path") {
    // (1,2),(2,3),(NULL,4),(5,6): CC has 7 rows, the NULL one included;
    // the twins read primitives, so the gate must send this input to
    // the distributed loops
    val e = Seq[(Option[Long], Option[Long], Long)](
      (Some(1L), Some(2L), 1L), (Some(2L), Some(3L), 2L),
      (None, Some(4L), 1L), (Some(5L), Some(6L), 1L))
      .toDF("start_node", "end_node", "w")
    val pairs = e.select("start_node", "end_node")
    val (cc, rounds) = graft.osm.GraphCheck.connectedComponentsWithRounds(pairs)
    assert(rounds > 0, "a NULL endpoint must not take the local path")
    assert(cc.count() === 7L)
    val labels = (1L to 6L).map(v => (v, v % 2)).toDF("node_id", "label")
    assertTwinsAgree(e, labels, src = 1L, tgt = 3L, lone = 9L, "NULL endpoint")
  }

  test("gated graph operators: a node labelled twice keeps the distributed path") {
    import graft.osm.GraphCheck
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (6L, 4L, 1L))
      .toDF("start_node", "end_node", "w")
    // node 3 carries two labels: the distributed label joins fan it out
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (3L, 4L), (4L, 4L),
      (5L, 4L), (6L, 4L)).toDF("node_id", "label")
    val pairs = e.select("start_node", "end_node")
    assert(GraphCheck.refineCommunities(pairs, labels, 0L).count() >
      labels.select("node_id").distinct().count(), "expected fan-out")
    assertTwinsAgree(e, labels, src = 1L, tgt = 6L, lone = 9L,
      "duplicate label", only = Set("refine", "coarsen", "louvain"))
  }

  // ---- the distributed loops on dirty graphs: rows pinned as literals
  //      (those of the loops' earlier two-job-per-round form)

  private case class DirtyGraph(name: String,
      edges: Seq[(Option[Long], Option[Long], Option[Long])], kspTarget: Long,
      ssspRounds: Int, rows: Map[String, Seq[String]])

  /** One edge; `null` marks a NULL field. */
  private def edge(a: Integer, b: Integer, w: Integer) =
    (Option(a).map(_.toLong), Option(b).map(_.toLong), Option(w).map(_.toLong))

  // PageRank and PPR (seeds 1 and the edgeless 9), SSSP from 1 and 9,
  // k = 3 shortest paths from 1, betweenness from 1 and 2; doubles at
  // 8 places (rowBag). `ssspRounds` is the earlier loop's round count:
  // it counted a NULL-distance node as improved whenever it was
  // relaxed, so on the NULL-weight cycle (3 <-> 4, reached only through
  // the NULL edge 2 -> 3) it spun to maxIter = 20.
  private val dirtyGraphs = Seq(
    DirtyGraph("NULL end_node", Seq(edge(1, 2, 1), edge(2, 3, 2),
        edge(2, null, 4), edge(3, 1, 1), edge(3, 4, 3), edge(4, null, 1)),
      kspTarget = 4L, ssspRounds = 5, Map(
        "pagerank" -> Seq("1|0.05690581", "2|0.07837034", "3|0.06330780",
          "4|0.05690581", "null|0.03000000"),
        "ppr" -> Seq("1|0.08860321", "2|0.07531273", "3|0.03200992",
          "4|0.01360321", "9|0.07500000", "null|0E-8"),
        "sssp" -> Seq("1|0", "2|1", "3|3", "4|6", "9|0", "null|5"),
        "ksp" -> Seq("1>2>3>4=6.0"),
        "betweenness" -> Seq("1|0E-8", "2|2.00000000", "3|3.00000000",
          "4|0E-8", "null|0E-8"))),
    DirtyGraph("NULL w", Seq(edge(1, 2, 1), edge(2, 3, null), edge(3, 4, 1),
        edge(1, 4, 5), edge(4, 5, null), edge(5, 6, 2)),
      kspTarget = 2L, ssspRounds = 4, Map(
        "pagerank" -> Seq("1|0.02500000", "2|0.03562500", "3|0.05528125",
          "4|0.08261406", "5|0.09522195", "6|0.10593866"),
        "ppr" -> Seq("1|0.07500000", "2|0.03187500", "3|0.02709375",
          "4|0.05490469", "5|0.04666898", "6|0.03966864", "9|0.07500000"),
        "sssp" -> Seq("1|0", "2|1", "3|null", "4|5", "5|null", "6|null",
          "9|0"),
        "ksp" -> Seq("1>2=1.0"),
        "betweenness" -> Seq("1|0E-8", "2|0E-8", "3|0E-8", "4|0E-8",
          "5|0E-8", "6|0E-8"))),
    DirtyGraph("NULL-weight cycle", Seq(edge(1, 2, 1), edge(2, 3, null),
        edge(3, 4, 2), edge(4, 3, 1), edge(4, 5, 1), edge(1, 6, 3),
        edge(6, 5, 4)),
      kspTarget = 6L, ssspRounds = 20, Map(
        "pagerank" -> Seq("1|0.02500000", "2|0.03562500", "3|0.10318780",
          "4|0.11271500", "5|0.10318780", "6|0.03562500"),
        "ppr" -> Seq("1|0.07500000", "2|0.03187500", "3|0.04243131",
          "4|0.03605053", "5|0.04243131", "6|0.03187500", "9|0.07500000"),
        "sssp" -> Seq("1|0", "2|1", "3|null", "4|null", "5|7", "6|3", "9|0"),
        "ksp" -> Seq("1>6=3.0"),
        "betweenness" -> Seq("1|0E-8", "2|0E-8", "3|0E-8", "4|0E-8",
          "5|0E-8", "6|1.00000000"))),
    DirtyGraph("self-loops and multi-edges", Seq(edge(1, 1, 2),
        edge(1, 2, 3), edge(1, 2, 1), edge(2, 3, 2), edge(2, 3, 2),
        edge(3, 3, 1), edge(3, 1, 4), edge(3, 4, 5)),
      kspTarget = 4L, ssspRounds = 4, Map(
        "pagerank" -> Seq("1|0.12352712", "2|0.10753136", "3|0.17995172",
          "4|0.08851144"),
        "ppr" -> Seq("1|0.14264237", "2|0.08085769", "3|0.09597453",
          "4|0.02721352", "9|0.07500000"),
        "sssp" -> Seq("1|0", "2|1", "3|3", "4|8", "9|0"),
        "ksp" -> Seq("1>2>3>4=8.0"),
        "betweenness" -> Seq("1|0E-8", "2|2.00000000", "3|3.00000000",
          "4|0E-8"))))

  dirtyGraphs.foreach { g =>
    test(s"distributed loops keep their pinned rows on a dirty graph: ${g.name}") {
      import graft.osm.{GraphCheck => G}
      val e = g.edges.toDF("start_node", "end_node", "w").localCheckpoint(true)
      val pairs = e.select("start_node", "end_node")
      val (sssp, rounds) = G.multiSourceShortestPaths(e, Seq(1L, 9L),
        maxIter = 20, localThreshold = 0L)
      val got = Map(
        "pagerank" -> rowBag(G.pageRank(pairs, localThreshold = 0L)),
        "ppr" -> rowBag(G.personalizedPageRank(pairs, Seq(1L, 9L),
          localThreshold = 0L)),
        "sssp" -> rowBag(sssp),
        "ksp" -> G.kShortestPaths(e, 1L, g.kspTarget, k = 3, maxIter = 20,
          localThreshold = 0L).map { case (p, c) => p.mkString(">") + "=" + c },
        "betweenness" -> rowBag(G.betweennessFromSources(e, Seq(1L, 2L),
          maxIter = 20, localThreshold = 0L)))
      got.foreach { case (op, rows) =>
        assert(rows === g.rows(op), s"$op on ${g.name}")
      }
      info(s"sssp rounds: $rounds (pinned ${g.ssspRounds})")
      assert(rounds > 0 && rounds <= g.ssspRounds,
        s"sssp took $rounds rounds (pinned ${g.ssspRounds})")
      if (g.ssspRounds == 20) assert(rounds < 20, "the NULL cycle still spins")
    }
  }

  test("distributed shortestPathTo and kShortestPaths route around NULL weights") {
    import graft.osm.{GraphCheck => G}
    // Expectations by hand. "NULL w": 1>2 (1), 2>3 (NULL), 3>4 (1),
    // 1>4 (5). Node 3 has a NULL distance, so 3>4 offers 4 no real
    // distance: dist(4) = 5, realized only by 1>4. Yen's one spur
    // (from 1 without 1>4) reaches 4 only through 2>3, so k = 3 still
    // returns one path. "NULL-weight cycle": 1>6 (3), 6>5 (4), and the
    // cycle 3 <-> 4 is reached only through the NULL 2>3, so 3 and 4
    // have NULL distances. dist(5) = 7 via 6 (4>5 realizes nothing);
    // both spurs (1 without 1>6, 6 without 6>5) find no real route.
    // Node 4 has no path at all.
    val cases = Seq(("NULL w", 4L, Seq("1>4=5.0")),
      ("NULL-weight cycle", 5L, Seq("1>6>5=7.0")),
      ("NULL-weight cycle", 4L, Seq.empty))
    cases.foreach { case (name, tgt, want) =>
      val e = dirtyGraphs.find(_.name == name).get.edges
        .toDF("start_node", "end_node", "w").localCheckpoint(true)
      def show(p: (Seq[Long], Double)) = p._1.mkString(">") + "=" + p._2
      assert(G.shortestPathTo(e, 1L, tgt, maxIter = 20, localThreshold = 0L)
        .map(show).toSeq === want, s"shortestPathTo 1 -> $tgt on $name")
      assert(G.kShortestPaths(e, 1L, tgt, k = 3, maxIter = 20,
        localThreshold = 0L).map(show) === want, s"ksp 1 -> $tgt on $name")
    }
  }

  test("shortestPathTo ends on a zero-weight predecessor cycle") {
    // Edges 5->3 (1), 5->4 (1), 3->4 (0), 4->3 (0): the local Dijkstra's
    // smaller-predecessor tie rule sets pred(4) = 3 and pred(3) = 4; an
    // unbounded walk back from 4 never reaches 5. walkBack stops after
    // pred.size steps and names the cycle. Returning the right path
    // (distance 1.0) is still open: ROADMAP direction 9.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import graft.osm.{GraphCheck => G}
    val e = Seq((5L, 3L, 1.0), (5L, 4L, 1.0), (3L, 4L, 0.0), (4L, 3L, 0.0))
      .toDF("start_node", "end_node", "w").localCheckpoint(true)
    val run = Future(scala.util.Try(G.shortestPathTo(e, 5L, 4L)))(
      ExecutionContext.global)
    val r = Await.result(run, 120.seconds) // a spinning walk times out here
    val ex = intercept[IllegalStateException](r.get)
    assert(ex.getMessage.contains("5 -> 4") &&
      ex.getMessage.matches(".*cycle through node [34]$"), ex.getMessage)
  }

  test("LocalGate.rows: one probe; None at t <= 0, above t, or on a NULL") {
    import graft.osm.LocalGate
    val five = (1L to 5L).toDF("v").localCheckpoint(true)
    assert(LocalGate.rows(five, 0L).isEmpty)
    assert(LocalGate.rows(five, -1L).isEmpty)
    assert(LocalGate.rows(five, 5L).map(_.map(_.getLong(0)).sorted.toSeq) ===
      Some(Seq(1L, 2L, 3L, 4L, 5L)))
    assert(LocalGate.rows(five, 4L).isEmpty)
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("v").localCheckpoint(true)
    assert(LocalGate.rows(withNull, 3L).isEmpty)
    assert(LocalGate.rows(withNull.na.drop(), 3L).map(_.length) === Some(2))
  }
}
