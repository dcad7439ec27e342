package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.osm.{OsmTables, RoadGraph}

/** Incremental maintenance of derived road-graph tables from the change
  * feed (SURVEY §2.11) — the Spark re-expression of the reference's
  * `actions` table + `osmosisUpdate()` transaction hook
  * (etl/pgsnapshot_schema_0.6_action.sql:1-16,
  * etl/pgsnapshot_schema_0.6.sql:139-144).
  *
  * Model: each micro-batch IS one changeset transaction; the
  * `foreachBatch` body is the `osmosisUpdate` extension point. Derived
  * maintenance is tractable because way-splitting never crosses way
  * boundaries (SURVEY §7.4-8): a changeset invalidates the ways it
  * names, the ways containing its changed nodes, AND the ways sharing
  * any node with a changed way — that last hop is load-bearing, because
  * creating or deleting a way through an existing node flips that
  * node's shared status and moves the split boundaries of every
  * untouched neighbor way through it. Recompute the split chain for
  * that bounded keyset, merge into the materialized output.
  */
object ActionFeed {

  /** Start the feed: one foreachBatch call per changeset micro-batch.
    * `onBatch` receives (actions-batch, batchId) — the osmosisUpdate
    * hook slot (X8). */
  def start(actions: DataFrame, onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    actions.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => onBatch(batch, id) }
      .start()

  /** The bounded invalidation keyset: way ids directly changed (W rows),
    * ways containing any changed node (N rows joined through way_nodes),
    * and ways sharing any node with a changed way (changed ways'
    * way_nodes joined back to all way_nodes on node_id — the
    * shared-status flip hop). Semi-join shaped — no wide shuffle.
    *
    * Soundness for W-deletes: a deleted way's rows are gone from the
    * post-change way_nodes, so pass the UNION of the pre- and
    * post-change way_nodes snapshots as `wayNodes` (extra ids only
    * widen the keyset — rebuild is idempotent per way). */
  def affectedWays(batch: DataFrame, wayNodes: DataFrame): DataFrame = {
    val directWays = batch.filter(col("data_type") === "W")
      .select(col("id").as("way_id"))
    val changedNodes = batch.filter(col("data_type") === "N").select(col("id"))
    // nodes whose shared-status may flip: the changed nodes themselves
    // plus every node of a changed way
    val nodesOfChangedWays = wayNodes
      .join(directWays, Seq("way_id"), "left_semi")
      .select(col("node_id").as("id"))
    val touchedNodes = changedNodes.unionByName(nodesOfChangedWays).distinct()
    val waysViaNodes = wayNodes
      .join(touchedNodes, wayNodes("node_id") === touchedNodes("id"), "left_semi")
      .select("way_id")
    directWays.unionByName(waysViaNodes).distinct()
  }

  /** Recompute the merged-network rows for the affected keyset only:
    * restrict the ways input to the keyset, rerun the split chain
    * (its per-way semantics make the restriction sound), return the
    * replacement rows. The caller merges: delete old rows for these
    * edge_ids, append these. */
  def rebuildAffected(spark: SparkSession, tables: OsmTables,
      affected: DataFrame): DataFrame = {
    val ways = tables.ways.join(affected,
      tables.ways("id") === affected("way_id"), "left_semi")
    // shared-node detection must still see ALL way_nodes (a node shared
    // with an unaffected way still splits) — only the assembled ways are
    // restricted.
    val net = RoadGraph.imputeSpeedLimits(RoadGraph.excludeModes(
      RoadGraph.carNetwork(ways))).localCheckpoint(true)
    val allNet = RoadGraph.imputeSpeedLimits(RoadGraph.excludeModes(
      RoadGraph.carNetwork(tables.ways)))
    RoadGraph.mergedNetwork(RoadGraph.splitChain(tables.wayNodes, net, allNet),
      tables.nodes, net)
  }

  /** Merge semantics for the materialized output (the foreachBatch body
    * of a full deployment): current minus invalidated, plus rebuilt. */
  def applyMerge(current: DataFrame, affected: DataFrame,
      rebuilt: DataFrame): DataFrame = {
    val kept = current.join(affected,
      current("edge_id") === affected("way_id"), "left_anti")
    kept.unionByName(rebuilt)
  }
}
