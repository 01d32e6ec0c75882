package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Artifact

/** Raw (non-memoized) builds, timed by Bench as `*_raw` rows. The
  * declared query IS the product surface — a production deployment
  * builds an index/sketch/LM once and queries the artifact — but a
  * benchmark that times only the declared query measures a cache read
  * (bench_detail r7: text_bigram_lm 0.758→0.028 s was a memo hit, not
  * a speedup). So every shared build declared as an [[Artifact]] gets
  * its `<name>_raw` row here by construction, and the full-inventory
  * bench carries the real build cost. The hand-written rows below
  * price builds that are not memos: the shard merges, the tiering
  * pipeline, the BPE corpus, the CDC paths and the persisted-index
  * lifecycle.
  */
object RawBuilds {
  val map: Map[String, (SparkSession, String) => DataFrame] = {
    // starting every query family declares its artifacts; no Spark
    // work runs
    SparkEntry.queries
    Artifact.all.map(a => s"${a.name}_raw" -> a.build).toMap
  } ++ Map(
    // the declared merge queries read the memoized shard tables; these
    // drive the full shard fold + merge (the actual operator)
    "sketch_cms_merge_raw" -> ((s, d) => queries.Sketches.cmsMergeRaw(s, d)),
    "sketch_bloom_merge_raw" -> ((s, d) => queries.Sketches.bloomMergeRaw(s, d)),
    // the declared tier query reads the memoized lmScores table; this
    // drives the full corpus bigram-agg build and rank end-to-end
    "text_perplexity_tiers_raw" -> ((s, d) =>
      queries.PipelineOps.perplexityTiers(queries.PipelineOps.lmScoresRaw(s, d))),
    // the corpus-scale BPE lifecycle: fit 32 merges on the top-512
    // vocabulary sample (the one bounded collect — a tokenizer is fit
    // on a size-capped sample by design), then encode every document
    // distributively with the broadcast rank table
    "text_bpe_corpus_raw" -> ((s, d) =>
      engine.BpeTokenizer.corpusTokenCounts(s, d)),
    // the declared doc_cdc_* trio runs on the engine chunker since
    // r12; this keeps the declarative md5-contract build timed so the
    // engine-vs-contract cost ratio stays visible in bench_detail
    "doc_cdc_chunks_sql_raw" -> ((s, d) =>
      queries.PipelineOps.cdcChunksSqlPath(s, d)),
    // the rolling-hash production path (no md5 per char) — the
    // geometry twin of the md5 rule, invariant-tested not oracled
    "doc_cdc_chunks_poly_raw" -> ((s, d) =>
      queries.PipelineOps.cdcChunksPoly(s, d)),
    // the full persisted-index lifecycle: build + write the
    // cell-partitioned artifact, reload with manifest validation,
    // serve a ~1% query panel top-10 — the serve-tomorrow cost the
    // in-session memo rows can't see
    "sim_index_store_raw" -> ((s, d) => {
      // stable scratch dir, reused across reps (save() overwrites) —
      // a fresh tempdir per rep accumulated unbounded /tmp disk
      // (review r13); one shared derivation with the lifecycle rows
      val dir = queries.Similarity.idxScratch("bench", d)
      engine.AnnIndexStore.save(s, d, dir)
      engine.AnnIndexStore.load(s, dir, verify = true) // footer integrity
      import org.apache.spark.sql.functions.col
      val qs = Tables.t(s, d, "embeddings")
        .select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("q"))
        .filter(col("q_id") % 97 === 0)
      // the stored-quantizer serve path — the only correct one once an
      // index has been appended to
      engine.AnnIndexStore.searchTopKStored(s, dir, qs, 10)
    }),
    // the vacuum-retention lifecycle (r15 verdict ask #3): clone a
    // write-once four-generation fixture, vacuum at keep=2 (retained
    // generation must stay readable, zero data files reclaimed), then
    // at keep=1 (the compact-replaced deltas go) — see the
    // vacuumRetentionRaw scaladoc for the cost shape
    "sim_index_vacuum_raw" -> ((s, d) =>
      queries.Similarity.vacuumRetentionRaw(s, d)))
}
