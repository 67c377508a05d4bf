package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared SILVER-TABLE registry: every derived table that
  * [[Scoped.shared]] materializes once per session and multiple queries
  * read back. At cluster scale these are the managed intermediate tables
  * between bronze (raw parquet) and the query layer — written once per
  * corpus version, consumed by dozens of jobs, with an owner and a
  * retention policy. In-process they were already built exactly once
  * (string-keyed through Scoped.shared); this registry makes the reuse
  * graph DECLARED rather than implicit: which tables exist, what each
  * holds, who consumes it — auditable in one place, and benchable per
  * table (graft.Bench times each build separately, so the cost of a
  * shared build is attributed to the table instead of to whichever query
  * happened to run first).
  *
  * SilverRegistrySpec closes the loop: after the full query surface runs,
  * every key Scoped.shared actually built must be covered by a
  * declaration here — an undeclared silver table fails CI.
  */
object Silver {

  final case class SilverTable(
      name: String,
      description: String,
      /** query ids (and the helper they reach through, where indirect) */
      consumers: Seq[String],
      /** builds-or-reads the materialized table for an input dir */
      build: (SparkSession, String) => DataFrame)

  val tables: Seq[SilverTable] = Seq(
    SilverTable(
      "daily_bars",
      "per-(ticker,day) OHLCV bars from lineitem-priced events — the gold" +
        " daily table every feature/indicator query starts from",
      Seq("q18", "q19", "q20", "q21", "q22", "q23", "q24", "q25", "q33",
        "q73", "q97", "q102",
        "q80", "q81", "q82", "q83", "q154", "q155", "q176",
        "q218", "q222", "q223", "q231", "q236", "q240", "q241", "q248",
        "q249", "q272", "q274", "q278", "q279", "q282", "q283", "q293",
        "q294", "q295", "q299",
        "via triple_barrier_labels: q219, q220, q221"),
      (s, d) => WindowFeatures.bars(s, d)),
    SilverTable(
      "bars_global_rn",
      "daily_bars with a range-partitioned global row number — the" +
        " shuffle-free global order both split queries consume",
      Seq("q22", "q23"),
      (s, d) => WindowFeatures.withGlobalRn(s, d)),
    SilverTable(
      "minhash_pairs",
      "verified near-dup doc pairs (i < j, jaccard >= 0.5) from the" +
        " banded MinHash pass — the edge list of the whole dedup/graph" +
        " family",
      Seq("q35", "q61", "q114", "q131", "q151", "q160", "q167", "q168",
        "q170", "q201", "q205", "via clusterLabels: q72", "q175", "q195",
        "q200", "q286", "q319"),
      (s, d) => Dedup.nearDupPairs(s, d)),
    SilverTable(
      "word3grams",
      "df-annotated distinct word 3-grams per doc — the shared candidate" +
        " generator of the gram similarity family",
      Seq("q37", "q96", "q163", "q174", "q205", "q232", "q264"),
      (s, d) => Dedup.word3grams(s, d)),
    SilverTable(
      "kmeans_cents",
      "trained k-means codebook (cid, coords), k = clamp(C*ceil(sqrt n)," +
        " MinK, MaxK) — model state consumed by cluster stats, the IVF" +
        " index and SemDeDup",
      Seq("q98", "via cellRanked: q105", "q108", "q258", "q312"),
      (s, d) => Corpus.kmeansCentroids(s, d, Corpus.KmIters)),
    SilverTable(
      "pq_codebooks",
      "per-subspace product-quantization codebooks (m, cid, coords)," +
        " M=4 x k=16 — broadcast model state for PQ encode + ADC search",
      Seq("q204"),
      (s, d) => Similarity.pqCodebooks(s, d)),
    SilverTable(
      "triple_barrier_labels",
      "per-(ticker, entry day) triple-barrier outcome (label, days to" +
        " event, cents) — the financial-ML label table q219 reports and" +
        " meta-labels/uniqueness weights consume",
      Seq("q219", "q220", "q221", "q272"),
      (s, d) => WindowFeatures.tripleBarrier(s, d)),
    SilverTable(
      "lm_doc_bits",
      "per-doc exact integer bits-per-bigram under the reference-slice" +
        " bigram LM (+ milli bits/token) — the scored table the LM filter" +
        " reports on and the CCNet buckets cut",
      Seq("q120", "q207", "q259", "q263"),
      (s, d) => Search.lmAllDocs(s, d)),
    SilverTable(
      "textrank_edges",
      "weighted undirected token co-occurrence edges with per-src" +
        " weighted degree — the graph the TextRank iterations walk",
      Seq("q125"),
      (s, d) => Search.textrankEdges(s, d)),
    SilverTable(
      "word_counts",
      "lowercased whitespace-token corpus frequencies (w, cnt) — the one" +
        " tokenization pass the vocabulary / sketch / tokenizer-training" +
        " family shares (SharedSubtreeSpec promotion, r9 verdict #5)",
      Seq("q58", "q140", "q243", "via wordpieceVocab: q226"),
      (s, d) => TextOps.wordCounts(s, d)),
    SilverTable(
      "daily_events",
      "per-(event_type, day) rollup of the events fact: exact count +" +
        " exact decimal value sum — the daily bars every events-derived" +
        " series and the as-of quote domain start from" +
        " (SharedSubtreeSpec promotion)",
      Seq("q07", "q54", "q62", "q94", "q101", "q158", "q234", "q237"),
      (s, d) => CoreBatch.dailyEvents(s, d)),
    SilverTable(
      "daily_wide_cents",
      "the wide daily reporting table: one exact-cent-sum column per" +
        " event type, zero-filled — materialized once, read by the pivot" +
        " demo and its unpivot inverse (SharedSubtreeSpec promotion)",
      Seq("q71", "q159"),
      (s, d) => Extras.dailyWideCents(s, d)),
    SilverTable(
      "tfidf_postings",
      "tf·idf term postings (doc_id, md5-hashed word-3-gram term, tf) —" +
        " the all-pairs cosine family's corpus rollup (the postings" +
        " index a search layer materializes once, never per query)",
      Seq("q191"),
      (s, d) => Search.tfidfPostings(s, d)),
    SilverTable(
      "query_postings",
      "df-annotated postings slice for the demo query terms (doc_id," +
        " term, tf, df) — the inverted-index fragment both retrieval" +
        " rankers score from (SharedSubtreeSpec promotion)",
      Seq("q84", "q115"),
      (s, d) => Search.queryPostings(s, d)),
    SilverTable(
      "source_tokens",
      "per-source corpus token totals (chars-div-4 proxy) — the" +
        " |sources|-row frame both budget-apportionment queries plan from" +
        " (SharedSubtreeSpec promotion)",
      Seq("q134", "q194"),
      (s, d) => Curation.sourceTokens(s, d)),
    SilverTable(
      "source_word_counts",
      "per-(source, word) exact lowercased-token counts — the" +
        " source-conditioned twin of word_counts; vocabulary-richness" +
        " and dispersion read it (declared at introduction, the" +
        " SharedSubtreeSpec discipline)",
      Seq("q284", "q292"),
      (s, d) => TextOps.sourceWordCounts(s, d)),
    SilverTable(
      "wordpiece_vocab",
      "corpus-trained WordPiece vocabulary (piece, weight): every" +
        " character in start and ## form plus the top-200 multi-char" +
        " substrings by occurrence weight — broadcast tokenizer model" +
        " state",
      Seq("q226"),
      (s, d) => TextOps.wordpieceVocab(s, d)),
    SilverTable(
      "monthly_bars",
      "per-(ticker, month) last fill price in exact cents (same unique" +
        " seq order as daily_bars) — the cross-section grain the alpha" +
        " research family ranks and backtests on",
      Seq("q246", "q247", "q250", "q252", "q254", "q255", "q256", "q260",
        "q262", "q266", "q269", "q280", "q289", "q291", "q297", "q298",
        "q300", "q305", "q306", "q307", "q310", "q313", "q323"),
      (s, d) => CrossSection.mbars(s, d)),
    SilverTable(
      "classified_flow",
      "the chunk-stitched tick tape: global cumulative notional +" +
        " carried tick-rule sign per tick (tkr, day, seq, cents, _pid," +
        " s_filled, cum0, bucket) — the microstructure family's shared" +
        " base, built by the fully-hierarchical segmented scan",
      Seq("q229", "q230", "q238", "q267"),
      (s, d) => Series.flowResolved(s, d)),
    SilverTable(
      "user_scan",
      "the chunk-stitched event tape: global per-user lags (prev_tus," +
        " prev_type, has_prev) + 30-min-gap session ids (sid) + SCD2" +
        " event_type run ids (version) per event, built by the segmented" +
        " scan (Analytics.chunkedUserScan) — the per-user-sequence" +
        " family's shared base; no raw user_id window survives anywhere",
      Seq("q63", "q124", "q139", "q150", "q181", "q184"),
      (s, d) => Analytics.userScan(s, d)),
    SilverTable(
      "gbt_model_store",
      "the session model store: (model_name, artifact bytes) parquet" +
        " rows; every load re-reads serialized bytes through the storage" +
        " boundary",
      Seq("q102", "q113"),
      (s, _) => graft.functions.GbtArtifact.store(s)))

  def names: Seq[String] = tables.map(_.name)

  /** The declared silver table a runtime Scoped.shared key (e.g.
    * "kmeans_cents_5:/dir") belongs to.
    */
  def tableOf(key: String): Option[SilverTable] = {
    val slug = key.takeWhile(_ != ':')
    tables.find(t => slug == t.name || slug.startsWith(t.name + "_"))
  }

  def covers(key: String): Boolean = tableOf(key).nonEmpty
}
