package graft.operators

import graft.{SparkEntry, TestSpark}
import graft.plans.PlanCensus
import org.scalatest.funsuite.AnyFunSuite

/** Every builder that persists intermediates must release them once its
  * result is materialized (Scoped.materialize): a long-lived session
  * running many queries would otherwise accumulate cache entries until
  * executors OOM. Asserts the invariant directly: no new persistent RDDs
  * survive a pass over the persisting queries — the hand-kept list below
  * plus every query the plan census sees reach a materialize barrier.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("persisting query builders release every cache entry") {
    val persistingQueries = Seq(
      "q22_train_test_split", "q23_timeseries_cv", "q35_minhash_lsh",
      "q36_simhash", "q37_ngram_jaccard", "q38_embedding_neardup",
      "q39_knn_brute", "q40_knn_lsh", "q56_ivf_ann",
      "q61_curation_pipeline", "q72_dedup_clusters",
      // q117 localCheckpoints 21 per-round frames during BPE training and
      // must release every one once the merge table is driver state
      "q117_bpe_train",
      // r8: postings/weighted persist across the frequency-split joins
      "q190_postings_size", "q191_allpairs_cosine",
      // r11: the k-core peel rewraps 16 rounds and must release both
      // final alive frames through the materialize boundary
      "q286_kcore",
      // their materialize barrier and the persists it released went in
      // the barrier audit (plans/barrier_audit.md): a persist left behind
      // would now leak
      "q106_sequence_packing", "q135_equidepth_bins", "q165_length_batching",
      "q204_pq_adc_search", "q205_hard_negatives", "q207_ccnet_buckets",
      "q210_image_phash_dedup", "q211_vocab_growth", "q212_novelty_decay",
      "q213_pmi_collocations", "q221_uniqueness_weights",
      "q319_minhash_recall")
    val queries = (persistingQueries ++
      PlanCensus.queriesReaching("materialize")).distinct
    val before = spark.sparkContext.getPersistentRDDs.keySet
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, TestSpark.Sf001)
        .write.format("noop").mode("overwrite").save()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
  }
}
