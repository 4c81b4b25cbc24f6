package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans of representative queries to
  * PLANS.md — the evidence trail for the plan-shape claims in
  * DESIGN.md (pushdown, broadcast, codegen expressions, positional
  * joins). Regenerate with: sbt "runMain graft.Plans"
  */
object Plans {
  private val Picks = Seq(
    "q01_pricing_summary" -> "grouped aggregation: predicate pushed to the parquet scan, partial aggregation before the shuffle",
    "q04_hydration_join" -> "top-k then BroadcastHashJoin hydration of three dimension tables",
    "q19_ann_cosine" -> "vector top-k: codegen dot_product/cosine expressions, broadcast query vector, TakeOrderedAndProject",
    "q30_rrf_fusion" -> "rank fusion: lists cut to the 500-row window (TakeOrderedAndProject) before bounded single-partition rank windows, hash aggregation on the id",
    "q52_phrase_search" -> "positional phrase: position-shifted self-join over the (doc, pos, term) stream",
    "q23_embedding_neardup" -> "blocked near-dup: literal-centroid top-m assignment (pure codegen, no assignment join), cluster-id equi-join pair generation — no cartesian product",
    "q25_json_filter" -> "JSON predicate: a single json_num_between expression in the Filter directly over the parquet scan (one parse per row)",
    "q62_rabitq" -> "RaBitQ: cheap estimate+error pass, broadcast kth-lower threshold, exact cosine only for the bounded candidate set",
    "q73_pq_adc" -> "product quantization: ADC scoring of the stored per-subspace codes (code:binary) through literal lookup tables, one element_at per subspace — all codegen array math in one scan, no join, no shuffle before the top-k",
    "q76_contamination" -> "decontamination: corpus-side narrow shingle pass, broadcast eval-set left join, per-doc denominator riding with the rows — no corpus shuffle before the aggregation",
    "q65_repetition" -> "per-document statistic computed within the row (sort + longest-run scan in one expression): narrow scan straight into the top-k, zero shuffles",
    "q77_bloom_prefilter" -> "runtime-filter shape: bloom might_contain applied in the fact scan filter, exact semi-join removes false positives, partial aggregation after",
    "q17_ngram_jaccard" -> "at-rest near-dup: the shingle self-join reads the BUCKETED table twice with no exchange on the probe side (apart from the final ORDER BY's range exchange, the only shuffle carries candidate pairs into the group-by)",
    "q95_filtered_ann" -> "filtered ANN: allowed-set semi-join onto the centroid-partitioned code scan (code:binary columns, partition filters), raw vectors only via the bounded exact-rerank semi-join",
    "q96_vectorset_ann" -> "named-vectorset ANN: two-level partition pruning (vectorset directory, then probed clusters) on the per-set code table",
    "q98_field_filter" -> "structural field filter: the bounded page is collected while the request is built (the paragraph fuzzy-fallback emptiness check), so the returned plan is a LocalTableScan of the page — the field semi-join runs in that build-time job, not in this plan",
    "q133_vectorset_dot" -> "dot-configured vectorset: the SAME two-level pruned code-only scan as cosine — similarity is a config of the scoring expressions, not a different plan",
    "q135_graph_filtered" -> "prefiltered graph search: src StartsWith pushed into the sorted provenance scan, the security prefilter's id set broadcast into one LEFT SEMI join",
    "q136_suggest_filtered" -> "filtered suggest: both sources are bounded pages collected while the request is built, so the merged response is one LocalTableScan — the prefix push-down and the allowed-doc semi-join run in those build-time jobs, not in this plan",
    "q140_find_graph_source" -> "graph-source fusion: the path query's matched provenance list joins keyword+semantic as a third bounded RRF input — three 500-row TakeOrderedAndProject cuts, one fusion aggregation on the id (partial and final HashAggregates, no exchange between them)")

  def main(args: Array[String]): Unit = {
    val spark = Run.session()
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` at sf0.01 on the shared\n")
    sb.append("`graft.Run.session()`, formatted by `Run.explain`. These are the plan\n")
    sb.append("shapes DESIGN.md claims; ScaleDesignSpec pins the critical ones in\n")
    sb.append("CI. Under AQE the plans are pre-execution, so most of them carry\n")
    sb.append("no codegen stage markers.\n")
    Picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(Run.explain(df))
      sb.append("```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${Picks.size} queries)")
    spark.stop()
  }
}
