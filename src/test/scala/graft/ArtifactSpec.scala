package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Artifact

/** The artifact registry's pricing contract: every shared build has a
  * Bench row, and the row names Bench, perfbench's query pool and the
  * committed digests key on stay put. */
class ArtifactSpec extends AnyFunSuite {

  test("RawBuilds keeps every raw row name") {
    val names = Seq("sketch_cms_raw", "dedup_lsh_pairs_raw",
      "sim_pq_codes_raw", "sim_kcenter_init_raw", "dedup_clusters_raw",
      "dedup_cand_jaccard_raw", "log_qi_profile_raw", "log_qi_class_raw",
      "doc_dsir_raw", "dedup_cascade_att_raw", "mm_neardup_pairs_raw",
      "sketch_cms_merge_raw", "sketch_bloom_merge_raw",
      "text_bigram_lm_raw", "text_perplexity_tiers_raw",
      "log_dense_grid_raw", "text_source_counts_raw", "doc_dup_spans_raw",
      "text_bpe_corpus_raw", "doc_cdc_chunks_sql_raw",
      "doc_cdc_chunks_poly_raw", "sim_index_store_raw",
      "sim_index_vacuum_raw")
    assert(names.distinct.size == 23)
    assert(names.filterNot(RawBuilds.map.contains).isEmpty)
  }

  test("every declared artifact has a <name>_raw row") {
    SparkEntry.queries // starts every query family
    val declared = Artifact.all.map(_.name)
    assert(declared.size >= 23)
    val unpriced = declared.filterNot(n => RawBuilds.map.contains(s"${n}_raw"))
    assert(unpriced.isEmpty, s"artifacts without a Bench row: $unpriced")
    val shadowed = RawBuilds.map.keySet.intersect(SparkEntry.queries.keySet)
    assert(shadowed.isEmpty, s"raw rows shadowing declared queries: $shadowed")
  }
}
