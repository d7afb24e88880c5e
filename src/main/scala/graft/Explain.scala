package graft

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans for the load-bearing operators —
  * the evidence that filters/pruning reach the scans, joins broadcast
  * where intended, and probes stay inside WholeStageCodegen.
  * Usage: `graft.Explain [sfDir [gate...]]`; gate names after the
  * directory select the dump, the load-bearing list is the default. */
object Explain {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.obs.Session(4)
    def dump(name: String, q: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      println(s"==== $name ====")
      println(q(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    val all = SparkEntry.queries
    val gates = args.drop(1).toSeq
    val unknown = gates.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    val loadBearing = Seq("f1_overlap_join", "f1_overlap_join_part", "j1_sql_rewrite",
        "f2_count_overlaps", "f5_merge", "f9_depth_blocks",
        "f10_lookup_variants", "f10_lookup_extended", "f11_cdna_hgvs",
        "f11_spliced_codon", "f11_csq", "f11_miss_worklist",
        "f11_annotate_e2e", "f11_annotate_default", "f11_hgvsp_indel",
        "f11_sv_consequence", "f11_colocated", "f11_maxaf",
        "f11_existing_multi", "f11_transcript_selection",
        "s4_kv_lookup", "s2_bam_depth", "d_lsh_pairs", "d_jaccard",
        "d_near_dedup_filter", "d_embed_dups", "d_simhash64_pairs", "ann_topk",
        "ann_ivf_topk", "a_q3_top_orders")
    (if (gates.nonEmpty) gates else loadBearing).foreach(n => dump(n, all(n)))
    spark.stop()
  }
}
