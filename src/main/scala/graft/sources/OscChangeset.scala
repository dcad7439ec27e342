package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.osm.{OsmModel, OsmTables}

/** OsmChange (`.osc`) replication-diff ingest — the feed that populates
  * the reference's `actions` table between full loads
  * (etl/pgsnapshot_schema_0.6_action.sql:1-5: "actions ... contains the
  * changes ... populated by osmosis during a changeset application").
  *
  * Wire format (public OSM wiki, OsmChange 0.6): an XML document whose
  * `<create>/<modify>/<delete>` containers hold `<node>/<way>/<relation>`
  * elements with entity attributes, `<nd ref>` members and `<tag k v>`
  * children. Parsed with the JDK's StAX streaming reader — no DOM
  * materialization, no external dependency.
  *
  * Scale shape: replication diffs arrive as MANY SMALL sequentially
  * numbered files (minutely/hourly/daily state), so the file is the
  * parallelism unit — `binaryFile` read, one StAX parse per file inside
  * a typed `flatMap`. A single diff is bounded (minutes of edits), so
  * per-file parse is O(small); a backlog of thousands of diffs spreads
  * across the cluster naturally. This mirrors [[OsmPbf]]'s
  * blob-per-partition decision one format over.
  */
object OscChangeset {

  /** One parsed change row: the action-feed triple (action C/M/D,
    * data_type N/W/R, id — pgsnapshot_schema_0.6_action.sql:8-12) plus
    * the entity payload needed to APPLY the change (tags, node coords,
    * way member refs). Relations carry tags only — the road-graph model
    * tracks nodes/ways (SURVEY §1.3). */
  case class OscRow(
      action: String, data_type: String, id: Long, version: Int,
      user_id: Int, tstamp: Timestamp, changeset_id: Long,
      tags: Map[String, String],
      lon: Option[Double], lat: Option[Double], node_refs: Seq[Long])

  /** StAX parse of one OsmChange document. Materializes the rows of ONE
    * diff file (bounded by construction — see scale note above). */
  def parseBytes(bytes: Array[Byte]): Seq[OscRow] = {
    val factory = javax.xml.stream.XMLInputFactory.newInstance()
    // hygiene on untrusted XML: no DTDs, no external entities
    factory.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty("javax.xml.stream.isSupportingExternalEntities", false)
    val r = factory.createXMLStreamReader(new java.io.ByteArrayInputStream(bytes))
    val out = Vector.newBuilder[OscRow]
    var action: String = null // C/M/D from the enclosing container
    // current entity accumulator
    var dt: String = null
    var id = 0L; var version = 0; var userId = 0
    var tstamp: Timestamp = null; var changeset = 0L
    var lon: Option[Double] = None; var lat: Option[Double] = None
    val refs = Seq.newBuilder[Long]
    val tags = Map.newBuilder[String, String]
    def attr(name: String): Option[String] = {
      var i = 0
      var v: String = null
      while (i < r.getAttributeCount && v == null) {
        if (r.getAttributeLocalName(i) == name) v = r.getAttributeValue(i)
        i += 1
      }
      Option(v)
    }
    try {
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "create" => action = "C"
              case "modify" => action = "M"
              case "delete" => action = "D"
              case n @ ("node" | "way" | "relation") =>
                dt = n.substring(0, 1).toUpperCase
                id = attr("id").map(_.toLong).getOrElse(0L)
                version = attr("version").map(_.toInt).getOrElse(0)
                userId = attr("uid").map(_.toInt).getOrElse(0)
                changeset = attr("changeset").map(_.toLong).getOrElse(0L)
                tstamp = attr("timestamp")
                  .map(t => Timestamp.from(java.time.Instant.parse(t)))
                  .getOrElse(new Timestamp(0L))
                lon = attr("lon").map(_.toDouble)
                lat = attr("lat").map(_.toDouble)
                refs.clear(); tags.clear()
              case "nd" => attr("ref").foreach(v => refs += v.toLong)
              case "tag" =>
                for (k <- attr("k"); v <- attr("v")) tags += k -> v
              case _ => // osmChange root, member (relations-only detail)
            }
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "node" | "way" | "relation" =>
                out += OscRow(action, dt, id, version, userId, tstamp,
                  changeset, tags.result(), lon, lat, refs.result())
                dt = null
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  /** Read a directory (or glob) of `.osc` files into the typed change
    * Dataset — one parse task per file. */
  def read(spark: SparkSession, path: String): Dataset[OscRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select("content").as[Array[Byte]]
      .flatMap(parseBytes _)
  }

  /** The reference's action-feed projection (what [[graft.streaming.ActionFeed]]
    * consumes): data_type, action, id. */
  def actions(osc: DataFrame): DataFrame =
    osc.select(col("data_type"), col("action"), col("id"))

  /** Apply a parsed changeset to the base tables — the batch face of
    * `osmosisUpdate()`: delete rows named by D, upsert C/M rows, and
    * recompute the DENORMALIZED way linestrings wherever they could
    * have moved (changed ways, plus ways containing a changed node).
    *
    * Shuffle budget: everything is keyed on entity id — two
    * anti-joins, a union, and one explode/join/re-collect restricted
    * by semi-join to the affected ways. Nothing touches the full
    * way set's geometry except membership tests. */
  def applyTo(spark: SparkSession, tables: OsmTables,
      osc: DataFrame): OsmTables = {
    val nodeChanges = osc.filter(col("data_type") === "N")
    val wayChanges = osc.filter(col("data_type") === "W")

    // --- nodes: drop every changed id, then append C/M rows rebuilt
    //     from the change payload (last-wins per id within one diff is
    //     the OsmChange contract: files are ordered, one action per
    //     entity per diff in practice — enforced by max-version pick)
    val deadNodes = nodeChanges.select(col("id"))
    val newNodes = pickLatest(nodeChanges.filter(col("action") =!= "D"))
      .select(col("id"), col("version"), col("user_id"), col("tstamp"),
        col("changeset_id"), col("tags"),
        struct(col("lon").as("lon"), col("lat").as("lat")).as("geom"))
    val nodes = tables.nodes.join(deadNodes, Seq("id"), "left_anti")
      .unionByName(newNodes)

    // --- ways: same shape; linestring left null here, rebuilt below
    val deadWays = wayChanges.select(col("id"))
    val newWays = pickLatest(wayChanges.filter(col("action") =!= "D"))
      .select(col("id"), col("version"), col("user_id"), col("tstamp"),
        col("changeset_id"), col("tags"), col("node_refs").as("nodes"),
        lit(null).cast(OsmModel.waysSchema("linestring").dataType)
          .as("linestring"))
    val waysMerged = tables.ways.join(deadWays, Seq("id"), "left_anti")
      .unionByName(newWays)

    // --- linestring refresh for ways whose geometry could have moved:
    //     the changed ways themselves plus any way containing a changed
    //     node (a node move drags every linestring through it)
    val touchedWayIds = wayChanges.select(col("id"))
      .unionByName(OsmModel.wayNodesOf(spark, waysMerged)
        .join(nodeChanges.select(col("id")),
          col("node_id") === col("id"), "left_semi")
        .select(col("way_id").as("id")))
      .distinct()
    val stale = waysMerged.join(touchedWayIds, Seq("id"), "left_semi")
    val fresh = OsmModel.linestringsOf(stale, nodes)
    val ways = waysMerged.join(touchedWayIds, Seq("id"), "left_anti")
      .unionByName(stale.drop("linestring")
        .join(fresh, Seq("id"), "left")
        .select(tables.ways.columns.map(col).toSeq: _*))

    // Materialize the post-change snapshot (lineage cut): every
    // downstream consumer — the split chain references ways/way_nodes
    // a dozen times — would otherwise re-embed this whole apply plan
    // per reference, and plan size goes exponential across rebuilds.
    // In a deployment this boundary is a parquet write of the new
    // snapshot (the osmosis transaction commit); localCheckpoint is
    // the in-memory equivalent with the same semantics.
    val nodesM = nodes.localCheckpoint(eager = true)
    val waysM = ways.localCheckpoint(eager = true)
    OsmTables(nodesM, waysM,
      OsmModel.wayNodesOf(spark, waysM).localCheckpoint(eager = true))
  }

  /** Highest-version row per id — makes a multi-action diff (create
    * then modify of the same entity) apply deterministically. */
  private def pickLatest(changes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("data_type"), col("id"))
      .orderBy(col("version").desc, col("tstamp").desc)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
