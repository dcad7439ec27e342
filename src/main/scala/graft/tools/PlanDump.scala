package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry

/** Writes PLANS.md: the final (post-AQE) formatted physical plan of the
  * headline queries at sf0.001 — the evidence trail for the scale
  * properties PlanAuditSpec asserts (broadcasts, pruning, semi/anti
  * operators, codegen spans, no cartesian products).
  */
object PlanDump {
  private val headline = Seq(
    "q_flagship_tag_freq", "q_j1_inner", "q_j3_range", "q_j4_semi",
    "q_j6_anti", "q_j7_grid", "q_j9_asof", "q_a6_ordered_agg",
    "q_a10_median", "q_w5_share", "q_d_exact_dedup", "q_d_minhash_pairs",
    "q_d_simhash_pairs", "q_d_embedding_pairs", "q_d_jaccard_pairs",
    "q_s_cosine_topk", "q_s_ann_lsh", "q_s_ivf_fixed",
    "q_osm_split_scale", "q_osm_split_array", "q_osm_components_scale",
    "q_osm_complete_scale", "q_t_chunks", "q_t_hash_sample",
    "q_t_decontam", "q_a15_rollup", "q_t_tfidf", "q_e_sessions",
    "q_d_neardup_keep", "q_s_quantize", "q_osm_cross_split",
    "q_t_top_ngrams", "q_t_gopher_filter", "q_s_int8_topk",
    "q_t_nfc", "q_a12b_approx_distinct", "q_t_lm_score", "q_t_url_dedup",
    "q_d_dup_passages", "q_geo_dwithin", "q_geo_lcc_project", "q_osc_apply",
    "q_geo_polygon", "q_geo_pip", "q_geo_pip_join", "q_geo_hull",
    "q_geo_nearest", "q_geo_snap", "q_geo_simplify", "q_s_pca_ann",
    "q_t_quality_fit", "q_d_paragraph_dedup", "q_osm_triangles",
    "q_geo_difference", "q_s12_merge", "q_t_pipeline",
    "q_t_heavy_hitters", "q_d_cdc_dedup", "q_s_index_persist",
    // q_s_index_compact, not _delete: delete's row materializes via
    // localCheckpoint (it compares tombstone-serve against
    // compacted-serve inside the builder), so its dumped plan is just
    // a checkpoint scan; compact returns the live DPP'd serve plan
    "q_s_index_compact", "q_osm_contraction", "q_t_decontam_bloom",
    "q_t_pack_slices", "q_t_pack_bins", "q_t_pack_bfd")

  /** Everything at or below this marker in an existing output file is
    * hand-maintained (measured results, commentary) and survives
    * regeneration verbatim. */
  private val HandMarker = "<!-- HAND-MAINTAINED BELOW: preserved by PlanDump -->"

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    // Per-query dumps land in PLANS/<q>.md (r19 rotation: the single-file
    // form had grown to 5.3 MB); PLANS.md keeps only an index plus the
    // hand-maintained notes. Lines are capped — plan STRUCTURE is the
    // evidence, not the literal arrays (PQ codebooks, IVF centroids)
    // some expression trees still carry; the index keeps the full
    // length of each executed plan.
    val lineCap = 1000
    val planDir = Paths.get(out).toAbsolutePath.getParent.resolve("PLANS")
    Files.createDirectories(planDir)
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` at `$sf` (post-AQE final plans).\n")
    sb.append("Scale properties asserted in `PlanAuditSpec`. Per-query dumps live in\n")
    sb.append("`PLANS/<query>.md` (rotated out of this file in r19 — it had grown to\n")
    sb.append("5.3 MB; regenerate with `runMain graft.tools.PlanDump`). Hand-maintained\n")
    sb.append("audit notes and A/B attributions follow below the marker.\n\n")
    sb.append("Headline queries with committed dumps, each with the length in\n")
    sb.append("characters of its final executed plan's `toString`: Spark formats\n")
    sb.append("that string at every execution start and AQE update, so a large\n")
    sb.append("one is a driver cost paid per run, not just a long file.\n\n")
    headline.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize the adaptive plan
      val planChars = df.queryExecution.executedPlan.toString.length
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val capped = plan.split("\n", -1).map { l =>
        if (l.length > lineCap)
          l.substring(0, lineCap) +
            s" …[line truncated by PlanDump, was ${l.length} chars]"
        else l
      }.mkString("\n")
      Files.writeString(planDir.resolve(s"$q.md"),
        s"# $q — final physical plan\n\n```\n$capped```\n")
      sb.append(f"- [$q](PLANS/$q.md) — $planChars%,d chars\n")
      spark.catalog.clearCache()
    }
    sb.append("\n")
    val outPath = Paths.get(out)
    val preserved =
      if (Files.exists(outPath)) {
        val prior = Files.readString(outPath)
        val i = prior.indexOf(HandMarker)
        if (i >= 0) "\n" + prior.substring(i) else ""
      } else ""
    Files.writeString(outPath, sb.toString + preserved)
    println(s"wrote $out")
    spark.stop()
  }
}
