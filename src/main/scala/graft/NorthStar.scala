package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextAnalysis => TA, VectorOps}
import graft.multimodal.Multimodal
import graft.operators.{Classifier, Corpus, Dedup, HeavyHitters, Similarity, TextRank, TopK}

/** North-star extension queries: the LLM-training-data-pipeline surface —
  * text analysis, exact + near dedup (MinHash/LSH, SimHash, n-gram
  * Jaccard), embedding similarity search (brute force + LSH), multimodal
  * metadata — each with a DuckDB oracle reproducing the exact same
  * deterministic hashes/arithmetic (md5-derived 60-bit integers; fixed-
  * order double folds).
  */
object NorthStar {

  private def docs(s: SparkSession, dir: String): DataFrame =
    SparkEntry.t(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    SparkEntry.t(s, dir, "embeddings")

  /** Single source of truth for thresholds used by BOTH the Spark query and
    * its DuckDB oracle — interpolated into the SQL below so the two sides
    * cannot drift (a 0.5-vs-0.4 drift here once passed only because no test
    * pair landed in the gap).
    */
  private val MinhashDupThreshold = 0.5
  private val JaccardDupThreshold = 0.8
  private val EmbNearDupThreshold = 0.4

  /** Mixture-sampling keep rates (q97), shared with the oracle as exact
    * integer thresholds out of 1e6. 'de' is deliberately absent so the
    * default-rate path is exercised by the oracle too.
    */
  private val MixtureRates =
    Map("en" -> 0.9, "fr" -> 0.5, "es" -> 0.5, "zh" -> 0.25)
  private val MixtureDefaultRate = 0.35
  private def mixtureThresholdSql: String =
    "CASE lang " + MixtureRates.toSeq.sortBy(_._1).map { case (l, r) =>
      s"WHEN '$l' THEN ${math.round(r * 1e6)}"
    }.mkString(" ") + s" ELSE ${math.round(MixtureDefaultRate * 1e6)} END"

  /** Semantic-dedup cosine bar: far below the near-dup threshold (the
    * point of SemDeDup — prune REDUNDANT, not identical, vectors), set
    * where it prunes ~1/3 of this isotropic corpus within cells.
    */
  private val SemanticDupThreshold = 0.3

  /** ANN geometry, shared by queries and oracles. 12-bit codes x 4 tables
    * = 2^14 composite (table,bucket) join keys — the shuffle parallelism
    * the candidate joins have at scale. On this synthetic testdata
    * (isotropic vectors, max pairwise cosine ~0.51) the buckets are
    * near-singleton, so the LSH queries legitimately return few rows —
    * recall at this operating point is the trained-IVF path's job (q44).
    */
  private val AnnBits = 12
  private val AnnTables = 4

  /** Degenerate-bucket cap for the embedding near-dup self-join — far above
    * any testdata bucket (max occupancy ~13) so results stay exact, but a
    * boilerplate/zero-vector cluster at scale cannot go quadratic.
    */
  private val AnnBucketCap = 1000

  /** Degenerate-band cap for the MinHash/SimHash candidate joins — same
    * rationale as [[AnnBucketCap]]: far above any testdata band bucket, so
    * CORRECTNESS output is unchanged, but a templated-boilerplate cluster
    * at scale is dropped instead of going quadratic (those clusters are
    * exact-dup-like; [[graft.operators.Dedup.representatives]] +
    * `exactDupGroups` own them).
    */
  private val DedupBucketCap = 1000

  /** IVF quantizer training: Lloyd iterations / sample size — the oracle
    * SQL unrolls exactly [[IvfIters]] iterations, so keep them in sync.
    *
    * MEASURED choice of 0 for this corpus: the synthetic embeddings are
    * isotropic (no cluster structure; max pairwise cosine ~0.51), and a
    * parameter sweep showed k-means contraction strictly HURTS probe
    * recall here — trained 17–21/25 vs data-point seeds 23/25 (sf0.01)
    * and 25/25 (sf0.1) at nProbe=2. The Lloyd machinery is exercised on
    * clustered data (where it wins) by SimilaritySpec; flip this constant
    * on a corpus with real cluster structure.
    */
  private val IvfIters = 0
  private val IvfSample = 256

  /** Fraction of (scorable) docs the calibrated LM gate keeps in q71 —
    * interpolated into the oracle SQL so both engines derive the same
    * rank cutoff.
    */
  private val LmKeepPct = 0.5

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis -------------------------------------------------
    "q19_text_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.bpeishTokenCount(col("text")).as("n_bpeish"),
        TA.punctCount(col("text")).as("n_punct"))
        .orderBy(col("doc_id"))
    }),

    "q20_lang_id" -> ((s, dir) => {
      // LangIdExpr is ONE native expression evaluating its token-array
      // child once per row — no exchange barrier needed (the barrier was
      // for the composed argmax that referenced the array ~15x)
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TA.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    "q21_quality_score" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        round(TA.qualityScore(col("text")), 6).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup ---------------------------------------------------------
    // C4/Gopher corpus quality rules: the published repetition + format
    // filter set as per-doc metrics and pass flags. Flags compare ROUNDED
    // metrics so both engines decide identically at the thresholds.
    "q61_quality_rules" -> ((s, dir) => {
      // ONE native pass per doc (QualityRulesExpr); the repartition is the
      // materialization barrier so the 9-field fan-out + flags below read
      // the struct instead of re-running the pass per field
      docs(s, dir)
        .select(col("doc_id"),
          graft.plans.QualityRulesExpr.rules(col("text")).as("qr"))
        .repartition(col("doc_id"))
        .select(
          col("doc_id"),
          col("qr.n_tokens").as("n_tokens"),
          round(col("qr.dup_line_frac"), 6).as("dup_line_frac"),
          round(col("qr.dup_para_frac"), 6).as("dup_para_frac"),
          round(col("qr.dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("qr.top_bigram_char_frac"), 6).as("top_bigram_char_frac"),
          round(col("qr.symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("qr.bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("qr.ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("qr.alpha_word_frac"), 6).as("alpha_word_frac"))
        .withColumn("passes_repetition",
          col("dup_line_frac") <= TA.DupLineFracMax &&
            col("dup_para_frac") <= TA.DupParaFracMax &&
            col("dup_line_char_frac") <= TA.DupLineCharFracMax &&
            col("top_bigram_char_frac") <= TA.TopBigramCharFracMax)
        .withColumn("passes_format",
          col("symbol_word_ratio") <= TA.SymbolWordRatioMax &&
            col("bullet_line_frac") <= TA.BulletLineFracMax &&
            col("ellipsis_line_frac") <= TA.EllipsisLineFracMax &&
            col("alpha_word_frac") >= TA.AlphaWordFracMin)
        .orderBy(col("doc_id"))
    }),

    "q22_exact_dedup" -> ((s, dir) => {
      Dedup.exactDupGroups(docs(s, dir)).orderBy(col("fingerprint"))
    }),

    "q23_minhash_signatures" -> ((s, dir) => {
      Dedup.signatures(docs(s, dir))
        .select(col("doc_id"), concat_ws(",", col("sig")).as("sig_csv"))
        .orderBy(col("doc_id"))
    }),

    "q24_minhash_dup_pairs" -> ((s, dir) => {
      Dedup.minhashDupPairs(docs(s, dir), MinhashDupThreshold,
        maxBucketSize = DedupBucketCap)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "q25_jaccard_dup_pairs" -> ((s, dir) => {
      Dedup.jaccardDupPairs(docs(s, dir), JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // CORPUS-HEALTH REPORT: per-language near-dup exposure — total docs,
    // docs appearing in ≥ 1 verified near-dup pair, and the rate: the
    // dashboard a curation run reads before choosing dedup thresholds.
    // The pair pipeline is q25's; what's new is only two slim rollups.
    "q112_dup_rate_report" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.jaccardDupPairs(d, JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
      // ONE pass over the pair pipeline: exploding [a_id, b_id] yields the
      // same multiset as the old unionByName of the two projections (so
      // the same set after distinct), but plans the expensive
      // LSH+Jaccard subtree ONCE instead of twice (r21 verdict item 3)
      val involved = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
      d.join(involved.withColumn("dup", lit(1)), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("dup"), lit(0))).cast("long").as("n_dup_docs"))
        .withColumn("dup_rate",
          round(col("n_dup_docs").cast("double") / col("n_docs"), 6))
        .orderBy(col("lang"))
    }),

    // Pair-level survivorship (greedy: drop the larger-id member of each
    // verified near-dup pair). Kept as the cheap single-pass baseline; the
    // PRINCIPLED decision is cluster-level — see q60_dup_clusters /
    // q63_cluster_survivors, which close the chain case (A~B, B~C, A≁C)
    // this query over-drops.
    "q45_dedup_corpus" -> ((s, dir) => {
      val drop = Dedup.jaccardDupPairs(docs(s, dir), JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
        .select(col("b_id").as("doc_id")).distinct()
      docs(s, dir).join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // The curation capstone: the corpus a training pipeline would keep —
    // English, above the quality bar, passing the Gopher repetition +
    // format rules (q61), PII-free (q67's scan as a gate), and not a
    // near-duplicate victim. Composes lang-ID, quality scoring, published
    // quality rules, PII scan, and LSH+Jaccard dedup in one declarative
    // pipeline Catalyst plans end-to-end.
    "q46_curated_corpus" -> ((s, dir) => {
      val drop = Dedup.jaccardDupPairs(docs(s, dir), JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
        .select(col("b_id").as("doc_id")).distinct()
      docs(s, dir)
        .filter(graft.functions.Pii.piiTotal(col("text")) === 0)
        .select(col("doc_id"),
          TA.langIdHeuristic(col("text")).as("lang_pred"),
          round(TA.qualityScore(col("text")), 6).as("quality"),
          graft.plans.QualityRulesExpr.rules(col("text")).as("qr"))
        .repartition(col("doc_id")) // materialize qr once (see q61)
        .filter(col("lang_pred") === "en" && col("quality") >= 0.3 &&
          round(col("qr.dup_line_frac"), 6) <= TA.DupLineFracMax &&
          round(col("qr.dup_para_frac"), 6) <= TA.DupParaFracMax &&
          round(col("qr.dup_line_char_frac"), 6) <= TA.DupLineCharFracMax &&
          round(col("qr.top_bigram_char_frac"), 6) <= TA.TopBigramCharFracMax &&
          round(col("qr.symbol_word_ratio"), 6) <= TA.SymbolWordRatioMax &&
          round(col("qr.bullet_line_frac"), 6) <= TA.BulletLineFracMax &&
          round(col("qr.ellipsis_line_frac"), 6) <= TA.EllipsisLineFracMax &&
          round(col("qr.alpha_word_frac"), 6) >= TA.AlphaWordFracMin)
        .join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // The FULL curation pipeline — q46's capstone plus the CCNet LM gate
    // (the optional second filter stage): English, quality bar, Gopher
    // rules, PII-free, LM log-perplexity at or under the corpus-median
    // threshold, and not a near-dup victim. Every stage's oracle CTE
    // composes into one SQL statement — the whole pipeline is
    // hash-verified end-to-end.
    "q71_curated_lm" -> ((s, dir) => {
      import graft.operators.LmFilter
      val d = docs(s, dir)
      // OVERLAP independent phases (guide §2.6): the near-dup pair
      // pipeline has no dependency on the LM side, but the calibrated
      // threshold must exist before the final plan can even be BUILT —
      // so the pair pin runs on a driver thread while calibration's
      // jobs run on this one, and Spark backfills both job sets onto
      // the same executors. Deterministic either way; the pin is the
      // same frame the final anti-join consumed before.
      val dropF = scala.concurrent.Future {
        Dedup.jaccardDupPairs(d, JaccardDupThreshold,
            maxBucketSize = DedupBucketCap)
          .select(col("b_id").as("doc_id")).distinct()
          .localCheckpoint() // eager: materializes on this thread
      }(scala.concurrent.ExecutionContext.global)
      // CALIBRATED gate (r8): the cutoff is the corpus' own LmKeepPct
      // rank score, not a hardcoded constant — exactly CCNet's
      // per-corpus percentile calibration. Exact rank semantics make the
      // threshold a data value both engines agree on bit-for-bit.
      // localCheckpoint: calibration's two actions + the gate would
      // otherwise run the scoring DAG 3x. LAZY (r22): calibration's
      // count is the first action and materializes it — one fewer
      // driver-paced job, same work.
      val scored = LmFilter.scoreDocs(d).localCheckpoint(false)
      val thr = LmFilter.calibrateThreshold(scored, LmKeepPct)
      val drop = scala.concurrent.Await.result(dropF,
        scala.concurrent.duration.Duration.Inf)
      val lmKeep = scored
        .filter(col("log_ppl") <= thr)
        .select(col("doc_id"))
      d.filter(graft.functions.Pii.piiTotal(col("text")) === 0)
        .select(col("doc_id"),
          TA.langIdHeuristic(col("text")).as("lang_pred"),
          round(TA.qualityScore(col("text")), 6).as("quality"),
          graft.plans.QualityRulesExpr.rules(col("text")).as("qr"))
        .repartition(col("doc_id"))
        .filter(col("lang_pred") === "en" && col("quality") >= 0.3 &&
          round(col("qr.dup_line_frac"), 6) <= TA.DupLineFracMax &&
          round(col("qr.dup_para_frac"), 6) <= TA.DupParaFracMax &&
          round(col("qr.dup_line_char_frac"), 6) <= TA.DupLineCharFracMax &&
          round(col("qr.top_bigram_char_frac"), 6) <= TA.TopBigramCharFracMax &&
          round(col("qr.symbol_word_ratio"), 6) <= TA.SymbolWordRatioMax &&
          round(col("qr.bullet_line_frac"), 6) <= TA.BulletLineFracMax &&
          round(col("qr.ellipsis_line_frac"), 6) <= TA.EllipsisLineFracMax &&
          round(col("qr.alpha_word_frac"), 6) >= TA.AlphaWordFracMin)
        .join(drop, Seq("doc_id"), "left_anti")
        .join(lmKeep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style corpus-level duplicate-segment removal: every 4-token
    // segment hashed corpus-wide, only the globally-first copy of each
    // repeated segment survives, docs reassembled from survivors. Oracle
    // recomputes the same 60-bit md5 segment hashes + first-wins window.
    "q72_segment_dedup" -> ((s, dir) => {
      Dedup.removeDuplicateSegments(docs(s, dir), segTokens = 4)
        .orderBy(col("doc_id"))
    }),

    // Within-doc repetition removal (Gopher cleaning transform): only the
    // first occurrence of each distinct 4-token segment survives INSIDE
    // each doc — entirely row-local, zero shuffle. Oracle replays the
    // same first-occurrence scan with DuckDB list HOFs.
    "q76_repeated_segments" -> ((s, dir) => {
      Dedup.removeRepeatedSegments(docs(s, dir), segTokens = 4)
        .orderBy(col("doc_id"))
    }),

    // CCNet ORDERING end-to-end: dedup segments corpus-wide FIRST, then
    // train + score the LM on the CLEANED text, then gate at the
    // calibrated median — boilerplate must not pollute the LM counts
    // (Wenzek et al. run dedup before the LM for exactly this reason).
    "q77_cleaned_lm" -> ((s, dir) => {
      import graft.operators.LmFilter
      // localCheckpoint (the curateDocBatch pattern): calibration's
      // build-time actions plus the final gate would otherwise re-execute
      // the segment-dedup and scoring DAGs 3-4x (measured 7.8 -> 2.4 s)
      // LAZY pins (r22): calibration's count triggers BOTH — the
      // segment-dedup materializes into `cleaned` and the scoring DAG
      // into `scored` in one cascade, two fewer driver-paced jobs
      val cleaned = Dedup.removeDuplicateSegments(docs(s, dir),
        segTokens = 4, emitCleaned = true)
        .select(col("doc_id"), col("n_removed"), col("cleaned").as("text"))
        .localCheckpoint(false)
      val scored = LmFilter.scoreDocs(cleaned).localCheckpoint(false)
      val thr = LmFilter.calibrateThreshold(scored, LmKeepPct)
      scored.filter(col("log_ppl") <= thr)
        .join(cleaned.select(col("doc_id"), col("n_removed")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_removed"))
        .orderBy(col("doc_id"))
    }),

    // Per-LANGUAGE calibrated LM gate — the full CCNet recipe (per-language
    // score percentiles): one exact rank cutoff per language via grouped
    // histogram narrowing (no task holds a language's scores), then the
    // gate keeps each language's best half. Oracle reproduces the same
    // per-group k-th order statistic in SQL.
    "q75_lm_lang_calibrated" -> ((s, dir) => {
      import graft.operators.LmFilter
      val d = docs(s, dir)
      // lazy pin (the q71/q77 pattern): the per-language calibration
      // and the gate would otherwise each re-run the scoring DAG
      val scored = LmFilter.scoreDocs(d)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .localCheckpoint(false)
      val thr = LmFilter.calibrateThresholds(scored, LmKeepPct, "lang")
      scored.join(broadcast(thr), Seq("lang"))
        .filter(col("log_ppl") <= col("threshold"))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Transitive-closure dedup clusters: distributed connected components
    // (alternating large-star/small-star min-id propagation, O(log n)
    // shuffle rounds of a slim (u, v) edge list) over the verified
    // near-dup pairs. Oracle = DuckDB recursive CTE reachability + min.
    "q60_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardDupPairs(docs(s, dir), JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
      Dedup.dupClusters(pairs).orderBy(col("doc_id"))
    }),

    // Cluster survivorship: keep exactly ONE representative (min id) per
    // near-dup cluster — the decision a real 100 TB curation run ships,
    // replacing q45's greedy pair-drop.
    "q63_cluster_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.jaccardDupPairs(d, JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
      Dedup.clusterSurvivors(d, pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // Exact-substring span dedup: 8-token windows shared across distinct
    // docs (boilerplate segments inside otherwise-unique documents — what
    // a curation run strips rather than dropping whole docs).
    "q64_shared_spans" -> ((s, dir) => {
      Dedup.sharedSpans(docs(s, dir), w = 8, minDocs = 2)
        .orderBy(col("span_hash"))
    }),

    "q26_simhash" -> ((s, dir) => {
      Dedup.simhashed(docs(s, dir)).orderBy(col("doc_id"))
    }),

    // Decontamination: corpus docs sharing any 8-token span with a probe
    // "benchmark" slice (doc_id % 50 == 0) — the train/test-overlap check
    // run before a corpus ships.
    "q66_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminatedDocs(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), w = 8)
        .orderBy(col("doc_id"))
    }),

    // Contamination FRACTION: the graded form of q66 — per corpus doc,
    // the share of its distinct 8-token spans present in the benchmark
    // slice, 0.0 rows included (the GPT-3-style "drop > X% overlap"
    // threshold input, vs q66's drop-on-any-hit).
    "q109_contamination_frac" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationFraction(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0), w = 8)
        .orderBy(col("doc_id"))
    }),

    // BLOOM-prefiltered decontamination: identical exact semantics to
    // q66 (the confirm join removes every bloom false positive — the
    // oracle is the same plain exact SQL), on a different benchmark
    // slice. What changes is the scale regime: the benchmark span set
    // broadcasts as a ~1.2 B/item bloom instead of 8 B/item longs and
    // prunes corpus spans map-side before the join.
    "q93_bloom_decontamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomContaminatedDocs(
        d.filter(col("doc_id") % 40 =!= 0),
        d.filter(col("doc_id") % 40 === 0), w = 8)
        .orderBy(col("doc_id"))
    }),

    // HEAVY-HITTER tokens: per-partition Misra-Gries nomination (bounded
    // k counters, provably a superset of every token at >= minFrac of
    // corpus volume) + one exact confirm pass — output is EXACT, so the
    // oracle is the plain exact GROUP BY the sketch exists to avoid
    // running over a web-scale vocabulary.
    "q92_heavy_tokens" -> ((s, dir) => {
      HeavyHitters.heavyTokens(docs(s, dir), minFrac = 0.02)
    }),

    // TF-IDF top terms per document with the RATIONAL (log-free) RSJ
    // idf — every float op is IEEE-deterministic cross-engine, so the
    // scores hash-compare against DuckDB computing the same expression.
    "q94_tfidf_terms" -> ((s, dir) => {
      TextRank.tfidfTopTerms(docs(s, dir), topK = 3)
    }),

    // BM25 ranked retrieval over a fixed 4-term query: row-local tf/dl,
    // one scalar-stats broadcast, explicit left-to-right score addition
    // (the double sum order is part of the contract), global top-20.
    "q95_bm25_topk" -> ((s, dir) => {
      TextRank.bm25(docs(s, dir),
        terms = Seq("join", "hash", "scan", "slow"), topK = 20)
    }),

    // INDEX-BACKED BM25 retrieval: same contract and bit-identical
    // scores as q95, but candidates come from the materialized
    // (doc_id, token, tf) term index — the full-corpus tokenize+score
    // pass is replaced by a query-term filter over the slim index plus
    // one scalar stats row. score > 0 requires a hit, so the candidate
    // restriction is provably lossless (both queries share ONE oracle).
    "q102_bm25_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      TextRank.bm25FromIndex(TextRank.termIndex(d), TextRank.docLengths(d),
        terms = Seq("join", "hash", "scan", "slow"), topK = 20)
    }),

    // BATCH retrieval: a TABLE of queries scored through the term index
    // in ONE pass — per-query BM25 with token-ascending deterministic
    // double sums and per-query top-k via the bounded aggregate. The
    // oracle replays each query's window-ranked scoring independently.
    "q108_batch_retrieval" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val queries = batchQueries
        .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "token")
      TextRank.bm25BatchFromIndex(
        TextRank.termIndex(d).localCheckpoint(),
        TextRank.docLengths(d).localCheckpoint(), queries, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // GPT-style sequence packing: concatenate all docs' tokens in doc_id
    // order, chunk into 512-token training contexts; one row per
    // (context, doc) overlap. The distributed two-phase prefix sum (no
    // single-partition window) must land the exact same integer offsets
    // as the oracle's plain window cumsum.
    "q96_context_packing" -> ((s, dir) => {
      Corpus.packContexts(docs(s, dir), contextLen = 512)
    }),

    // Epoch-weighted replication: the UPSAMPLING half of the mixture
    // recipe (weights > 1 emit repeat epochs; weight < 1 degenerates to
    // sampling) — same integer md5 determinism as q97, zero shuffle.
    "q113_epoch_replicate" -> ((s, dir) => {
      Corpus.epochReplicate(docs(s, dir),
        Map("en" -> 2.5, "fr" -> 1.25, "zh" -> 0.5))
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }),

    // MATERIALIZED training contexts: q96 maps which docs land in which
    // context; this emits the packed token-id sequences themselves (one
    // row per context, ids comma-joined in stream order) — the terminal
    // artifact a trainer consumes. Same two-phase prefix sum.
    "q110_materialized_contexts" -> ((s, dir) => {
      Corpus.materializeContexts(docs(s, dir), contextLen = 512)
    }),

    // Deterministic domain-mixture sampling: per-language keep rates
    // decided by an integer md5 threshold on doc_id — reproducible
    // run-to-run and engine-to-engine, zero shuffle.
    "q97_mixture_sample" -> ((s, dir) => {
      Corpus.mixtureSample(docs(s, dir), MixtureRates, MixtureDefaultRate)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Per-language LENGTH-CUTOFF gate — the grouped narrowing composed
    // end-to-end (its motivating use case): per-lang p90 token-count
    // cutoffs via groupedQuantilesDiscLong (no per-group funnel at any
    // skew), broadcast back as a filter.
    "q116_length_gate" -> ((s, dir) => {
      val tc = docs(s, dir).select(col("doc_id"), col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n"))
      val cuts = graft.operators.Quantile.groupedQuantilesDiscLong(
        tc, "lang", "n", Seq(0.9))
        .select(col("lang"), col("value").as("cut"))
      tc.join(broadcast(cuts), Seq("lang"))
        .where(col("n") <= col("cut"))
        .select(col("doc_id"), col("lang"), col("n"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-mixture sampling (α-smoothing, α=0.5): keep rates
    // ∝ n^(α−1) from one slim per-source count, smallest source kept
    // whole — the multilingual rebalancing recipe as a deterministic
    // md5-threshold filter. sqrt is correctly rounded in every IEEE
    // engine, so the oracle reproduces the thresholds bit-for-bit.
    "q115_temperature_sample" -> ((s, dir) => {
      Corpus.temperatureSample(docs(s, dir), alpha = 0.5,
        strataCol = "source")
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END MIXTURE RECIPE — the corpus-assembly capstone (q77's
    // counterpart on the assembly side): temperature-sample sources
    // (α=0.5, q115's stage) → epoch-replicate languages (en 2.5×,
    // fr 1.25×, zh 0.5×, q113's stage) → materialize 256-token contexts
    // over the replicated stream in (doc_id, epoch) order (q110's stage)
    // → greedy 2048-token shard assignment (q73's machinery, corpus
    // order). Every stage is individually oracle-green; THIS query pins
    // the cross-operator offset/determinism contract the composition
    // adds: replicated copies pack as distinct stream segments (cid =
    // doc_id·128 + epoch keeps the order total and SQL-replayable), and
    // shard boundaries fall where the single-pass greedy packing of the
    // materialized contexts puts them.
    "q117_mixture_recipe" -> ((s, dir) => {
      val sampled = Corpus.temperatureSample(docs(s, dir), alpha = 0.5,
        strataCol = "source")
      // tokenize+hash each sampled doc ONCE, before replication: every
      // epoch copy has identical token ids, so hashing after the
      // explode (the old shape) paid the md5 pass once per copy —
      // 2–3x the work under this mixture (r22; bit-identical results,
      // the empty-text filter is the one materializeContexts applies)
      val sampledIds = sampled
        .where(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("lang"),
          graft.plans.TextHashExprs.md5Prefix60Array(
            TA.tokens(col("text"))).as("ids"))
      val replicated = Corpus.epochReplicate(sampledIds,
        Map("en" -> 2.5, "fr" -> 1.25, "zh" -> 0.5))
        .withColumn("cid", col("doc_id") * lit(128L) + col("epoch"))
      // pin the packed contexts: assignShards runs two bounded
      // aggregates over them and the final write reads them again —
      // without the pin the explode+pack pipeline runs three times
      // (the q71/q77 localCheckpoint pattern)
      val contexts = Corpus.materializeContextsIds(
        replicated.select(col("cid").as("doc_id"), col("ids")),
        contextLen = 256).localCheckpoint(false)
      graft.ingest.Ingest.assignShards(contexts, "n_tokens", "context_id",
        tokenBudget = 2048L)
        .select(col("context_id"), col("n_tokens"), col("ids_csv"),
          col(graft.ingest.Ingest.ShardCol))
        .orderBy(col("context_id"))
    }),

    // DATA SKIPPING promoted to an oracle query: ingest the events table
    // through ONE clustered ManifestSink.statsAppend — range-repartition
    // by event_id so the commit lands 8 files with disjoint per-file
    // min/max in the manifest — then answer a selective range aggregate
    // through readBackWhere: a METADATA decision that keeps 1-of-8 files
    // before any scan task launches (the METRIC line records
    // files_total/files_read; the plan gate pins the pruned scan).
    // Parity contract: readBackWhere is definitionally equal to the
    // plain filtered read, which is exactly what the oracle computes on
    // the raw table — pruning can only drop files the residual filter
    // would empty anyway. Aggregates are accumulation-order-free
    // (count / integer sum / double min+max) so the hash compare is
    // exact.
    "q118_skipping_read" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q118_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      ManifestSink.readBackWhere(s, tmp, "event_id",
        (3 * n / 8).toDouble, (4 * n / 8 - 1).toDouble)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // IVF index health probe promoted to an oracle query: per-cell
    // occupancy of q44's coarse quantizer over the full corpus — the
    // number an operator reads BEFORE recall degrades (a hot cell is
    // both a recall cliff and a scan straggler; rebalanceIvfPq's
    // trigger). One slim groupBy over the assignment index; the oracle
    // replays the argmax-cosine assignment and counts per cell.
    "q119_ivf_occupancy" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.ivfCentroids(e, nCentroids = 16,
        trainIters = IvfIters, trainSample = IvfSample)
      Similarity.ivfTelemetry(Similarity.ivfIndex(e, cents))
        .orderBy(col("cid"))
    }),

    // Z-ORDER promoted to an oracle query: ingest events as 16 SHUFFLED
    // files (round-robin repartition — every file spans the full
    // event_id AND value domain, so nothing prunes), optimize with
    // zorderBy(event_id, value), then answer one selective range
    // aggregate on EACH column through readBackWhere. After the Morton
    // repack every packed file covers a small (id, value) hyper-
    // rectangle, so BOTH slabs become metadata decisions — the property
    // a lexicographic sort provides for only its leading key. Parity
    // contract as q118: readBackWhere ≡ the plain filtered read, which
    // is what the oracle computes on the raw table; the value-slab
    // bounds use min+k*(max-min)/8 with the same IEEE double expression
    // order on both sides.
    "q120_zorder_read" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val vr = ev.agg(min(col("value")), max(col("value"))).head
      val (vLo, vHi) = (vr.getDouble(0), vr.getDouble(1))
      val w = vHi - vLo
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q120_").toString
      ManifestSink.statsAppend(ev.repartition(16),
        tmp, None, Seq("event_id", "value"))
      val total = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(tmp))
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      }
      ManifestSink.optimize(s, tmp, targetBytes = total / 8 + 1,
        zorderBy = Seq("event_id", "value"), zorderBits = 4)
      def slab(df: DataFrame, src: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .withColumn("src", lit(src))
      slab(ManifestSink.readBackWhere(s, tmp, "event_id",
          (3 * n / 8).toDouble, (4 * n / 8 - 1).toDouble), "id_slab")
        .unionByName(slab(ManifestSink.readBackWhere(s, tmp, "value",
          vLo + 3.0 * w / 8.0, vLo + 4.0 * w / 8.0), "value_slab"))
        .orderBy(col("src"), col("event_type"))
    }),

    // Interval-overlap join, bucketed: left = per-event activity windows
    // [id, id + id%50], right = every-7th event's ±20 audit window. A
    // naive s<=e AND s<=e theta-join plans as BroadcastNestedLoopJoin —
    // quadratic past broadcast size; IntervalJoin explodes each interval
    // to its power-of-two buckets, EQUI-joins on bucket id (hash
    // shuffle, AQE-balanced), and emits each overlapping pair exactly
    // once via the max(start)-bucket ownership rule. Integer-sum
    // aggregates keep the hash compare exact; the pair counts catch any
    // duplicate-emission bug instantly.
    "q121_interval_overlap" -> ((s, dir) => {
      import graft.operators.IntervalJoin
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"))
      val left = ev.select(col("event_id").as("lid"),
        col("event_id").as("ls"),
        (col("event_id") + pmod(col("event_id"), lit(50L))).as("le"))
      val right = ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id").as("rid"),
          (col("event_id") - 20L).as("rs"),
          (col("event_id") + 20L).as("re"),
          col("event_type").as("rtype"))
      IntervalJoin.overlapJoin(left, "ls", "le", right, "rs", "re", 64L)
        .groupBy(col("rtype"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("lid")).as("sum_lid"),
          sum(col("rid")).as("sum_rid"))
        .orderBy(col("rtype"))
    }),

    // Copy-on-write maintenance promoted to an oracle query: ingest
    // events as 8 range-clustered files with stats, DELETE one id slab
    // (drops/rewrites only the 1-2 files whose stats intersect it — a
    // metadata decision, the GDPR-erasure shape), UPDATE another slab in
    // place (value negation, evaluated against the old row), then
    // aggregate the survivors. The oracle replays delete as the
    // complement filter and update as a CASE — readBack after both
    // rewrites must equal the logical result exactly.
    "q123_cow_maintenance" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q123_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      ManifestSink.deleteWhere(s, tmp,
        col("event_id").between(3 * n / 8, 4 * n / 8 - 1))
      ManifestSink.updateWhere(s, tmp,
        col("event_id").between(6 * n / 8, 7 * n / 8 - 1),
        Map("value" -> -col("value")))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Hybrid metadata/scan COUNT (partial aggregate pushdown): files
    // whose stats prove full containment credit their row counts with
    // no scan; only the boundary files the predicate cuts through are
    // read. Three counts — an id slab, a not-null count, and their
    // conjunction — against plain SQL counts.
    "q133_count_pushdown" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      import ManifestSink.SkipPredicate._
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q133_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      val slab = ManifestSink.countWhere(s, tmp,
        NumRange("event_id", (n / 8).toDouble, (5 * n / 8 - 1).toDouble))
      val nn = ManifestSink.countWhere(s, tmp, IsNotNull("value"))
      val both = ManifestSink.countWhere(s, tmp, And(Seq(
        NumRange("event_id", 0, (n / 2 - 1).toDouble),
        IsNotNull("value"))))
      import s.implicits._
      Seq((slab, nn, both)).toDF("n_slab", "n_notnull", "n_and")
    }),

    // CDC incremental read promoted to an oracle query: three appends
    // (event-id thirds), then "everything since the first commit" via
    // readAppendsBetween — a pure metadata decision (the union of the
    // in-range incremental manifests' files; no diffing, no anti-join).
    // The oracle filters the raw table to the last two thirds.
    "q131_cdc_read" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q131_").toString
      for (t <- 0 until 3) // versions 0, 1, 2
        ManifestSink.append(
          ev.where(col("event_id") >= t * n / 3 &&
            col("event_id") < (t + 1) * n / 3), tmp, None)
      ManifestSink.readAppendsBetween(s, tmp, sinceVersion = 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Time travel promoted to an oracle query: the same three appends,
    // read AS OF version 1 — the union of the first two commits, with
    // the third invisible. The oracle filters to the first two thirds.
    "q132_time_travel" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q132_").toString
      for (t <- 0 until 3)
        ManifestSink.append(
          ev.where(col("event_id") >= t * n / 3 &&
            col("event_id") < (t + 1) * n / 3), tmp, None)
      ManifestSink.readVersion(s, tmp, version = 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Metadata-only aggregates: COUNT/MIN/MAX/null-count answered from
    // the manifest's per-file stats lines with ZERO scan tasks — the
    // Delta "stats-only query" fast path. The .get calls are the
    // contract: if any committed file lacked the stats, the query (and
    // the round's correctness gate) fails rather than silently scanning.
    "q129_metadata_agg" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q129_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      val n = ManifestSink.metadataCount(s, tmp).get
      val (loI, hiI) = ManifestSink.metadataMinMax(s, tmp, "event_id").get
      val (loV, hiV) = ManifestSink.metadataMinMax(s, tmp, "value").get
      val nn = ManifestSink.metadataNullCount(s, tmp, "value").get
      import s.implicits._
      Seq((n, loI.toLong, hiI.toLong, loV, hiV, nn))
        .toDF("n", "min_id", "max_id", "min_value", "max_value",
          "null_value")
    }),

    // GDPR-shaped content redaction through copy-on-write: PII-planted
    // documents ingested with stats, then ONE updateWhere whose
    // predicate is the PII scan itself (piiTotal > 0 — an arbitrary
    // Column, not a stats predicate: content-addressed maintenance has
    // no min/max to prune on, but the per-file match-count pass still
    // rewrites only files that contain a hit) and whose SET applies the
    // sequential-adjudication redaction in place. The oracle replays
    // q67's plant+chain and hashes the redacted text — unmatched docs
    // must ride through byte-identical, which md5 proves.
    "q128_pii_redact" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      import graft.functions.Pii
      val aug = piiAugmented(docs(s, dir))
        .select(col("doc_id"), col("aug_text").as("text"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q128_").toString
      ManifestSink.statsAppend(
        aug.repartitionByRange(4, col("doc_id")),
        tmp, None, Seq("doc_id"))
      ManifestSink.updateWhere(s, tmp,
        Pii.piiTotal(col("text")) > 0,
        Map("text" -> Pii.redact(col("text"))))
      ManifestSink.readBack(s, tmp)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // LAKEHOUSE MAINTENANCE CAPSTONE: the full table lifecycle composed
    // end-to-end — clustered stats ingest → MERGE (updates + inserts) →
    // copy-on-write DELETE → Z-order OPTIMIZE → conjunction skipping
    // read — each step a separate atomic snapshot on the same table.
    // This is where cross-feature bugs hide (merge-written stats must
    // survive optimize's re-derivation; delete's rewrites must stay
    // visible through the Morton repack; And-pruning must stay
    // residual-exact on post-maintenance files). The oracle replays the
    // whole lifecycle as CASE + UNION ALL + complement filter + the two
    // slab predicates.
    "q127_lakehouse_capstone" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      import ManifestSink.SkipPredicate
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q127_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      // merge: double every 10th value; insert negated 97ths under
      // fresh ids
      val src = ev.where(pmod(col("event_id"), lit(10L)) === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") * 2).as("value"))
        .unionByName(ev.where(pmod(col("event_id"), lit(97L)) === 0)
          .select((col("event_id") + n).as("event_id"),
            col("event_type"), (-col("value")).as("value")))
      ManifestSink.mergeInto(s, tmp, src, "event_id",
        statsCols = Seq("event_id", "value"))
      // delete one id slab
      ManifestSink.deleteWhere(s, tmp,
        col("event_id").between(3 * n / 8, 4 * n / 8 - 1))
      // Z-order the debris left by merge + delete
      ManifestSink.optimize(s, tmp, targetBytes = 1L << 18,
        zorderBy = Seq("event_id", "value"), zorderBits = 4)
      // conjunction skipping read over the maintained table
      ManifestSink.readBackWherePred(s, tmp, SkipPredicate.And(Seq(
        SkipPredicate.NumRange("event_id", 0, (6 * n / 8 - 1).toDouble),
        SkipPredicate.IsNotNull("value"))))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Metadata-only partition drop promoted to an oracle query: events
    // ingested PARTITIONED by event date, two dates dropped by manifest
    // edit alone — zero data bytes read or written (deleteWhere's
    // copy-on-write would be pure waste: the partition value lives in
    // the directory name, so the manifest simply stops listing those
    // files) — then the survivors aggregate. Oracle: NOT IN on the
    // casted date.
    "q126_partition_drop" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q126_").toString
      ManifestSink.append(ev, tmp, Some("ts"))
      ManifestSink.dropPartitions(s, tmp,
        Seq("2024-01-03", "2024-01-07"))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    // top-200 docs by key ln(u)/w with u the deterministic md5 uniform
    // and w = length(text)+1 — the quality-weighted subsampling
    // primitive. Selection rides the bounded-buffer TopK aggregate (at
    // most k pairs per partition cross the shuffle, no global sort);
    // only (rank, id) is emitted because ln is not correctly-rounded
    // across engines while the selected ids are last-ulp-stable.
    "q125_weighted_sample" -> ((s, dir) => {
      import graft.operators.Corpus
      Corpus.weightedSample(
        docs(s, dir).select(col("doc_id"),
          (length(col("text")) + 1).cast("double").as("w")),
        "w", 200)
    }),

    // MERGE/upsert promoted to an oracle query: ingest events as 8
    // range-clustered files, then one mergeInto whose source doubles
    // every 10th event's value (updates, by key) and adds negated
    // copies of every 97th event under fresh keys beyond max(id)
    // (inserts) — one atomic snapshot, replacements routed to the 8
    // candidate files by the skipping stats, readers never see the
    // deleted-but-not-reinserted middle state. The oracle replays
    // update as CASE and insert as UNION ALL.
    "q124_merge_upsert" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q124_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      val src = ev.where(pmod(col("event_id"), lit(10L)) === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") * 2).as("value"))
        .unionByName(ev.where(pmod(col("event_id"), lit(97L)) === 0)
          .select((col("event_id") + n).as("event_id"),
            col("event_type"), (-col("value")).as("value")))
      ManifestSink.mergeInto(s, tmp, src, "event_id",
        statsCols = Seq("event_id"))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // CDC MERGE: one change batch carrying all three directive kinds —
    // every 13th event deleted (op 'd'), every remaining 10th value
    // doubled (update), negated copies of every 97th inserted under
    // fresh keys — applied by mergeCdc as ONE atomic snapshot; the op
    // column routes rows and never lands. The oracle replays delete as
    // a WHERE complement, update as CASE, insert as UNION ALL.
    "q134_cdc_merge" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q134_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      val dels = ev.where(pmod(col("event_id"), lit(13L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op"))
      val upds = ev.where(pmod(col("event_id"), lit(10L)) === 0 &&
          pmod(col("event_id"), lit(13L)) =!= 0)
        .select(col("event_id"), col("event_type"),
          (col("value") * 2).as("value"), lit("u").as("op"))
      val inss = ev.where(pmod(col("event_id"), lit(97L)) === 0)
        .select((col("event_id") + n).as("event_id"), col("event_type"),
          (-col("value")).as("value"), lit("u").as("op"))
      ManifestSink.mergeCdc(s, tmp,
        dels.unionByName(upds).unionByName(inss), "event_id",
        col("op") === "d", directiveCols = Seq("op"),
        statsCols = Seq("event_id"))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // CDC SEQUENCE: three change batches applied in order — delete all
    // id%7 keys, re-insert the id%14 half at value -5, then delete the
    // id%28 quarter again while doubling id%10 (non-%7) values — so a
    // key transitions absent→present→absent across snapshots; pins the
    // cross-batch delete/re-insert/delete contract a single-batch merge
    // (q134) cannot observe.
    // INCREMENTAL VIEW MAINTENANCE over the change feed — the
    // medallion bronze->silver shape: the silver aggregate
    // (count + sum(value) per event_type) is maintained WITHOUT
    // rescanning bronze, as the v0 aggregate plus SIGNED deltas from
    // readChangesBetween (insert = +1, delete pre-image = -1) across
    // the q138 mor CDC sequence. The oracle aggregates the FINAL state
    // directly — the two agree only if the feed's decomposition is
    // row-exact (every pre-image right, nothing dropped or doubled).
    // SQL SURFACE capstone — the table queried THROUGH `spark.sql`
    // over the graft DataSource (`CREATE TABLE ... USING graft`):
    // committed-snapshot cut, live deletion vectors, and manifest
    // stats skipping all arrive via the source's FileIndex/FileFormat,
    // so a SQL/BI client needs no Scala API — the reference's "query
    // the warehouse normally" surface (readme.md:38-46). Ranged files
    // make the WHERE a file-pruning metadata decision (the plan gate
    // pins the pushed scan); the scattered MOR delete leaves live
    // tombstones in EVERY file that the SQL scan must honor.
    // NATIVE STREAMING PIPE — the medallion bronze->silver copy with
    // BOTH ends on the native surface: `readStream.format("graft")`
    // tails bronze's manifest log and `writeStream.format("graft")`
    // commits each micro-batch atomically into silver (exactly-once
    // by deterministic writeId on the sink side + Spark offset
    // checkpoints on the source side). The oracle recomputes silver
    // from the raw rows, so a dropped, doubled, or torn batch breaks
    // the hash.
    "q150_stream_pipe" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val bronze = java.nio.file.Files
        .createTempDirectory("graft_q150_b_").toString
      val silver = java.nio.file.Files
        .createTempDirectory("graft_q150_s_").toString + "/t"
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q150_ck_").toString
      (0L until 3L).foreach { i =>
        ManifestSink.statsAppend(
          ev.where(pmod(col("event_id"), lit(3L)) === i).coalesce(2),
          bronze, None, Seq("event_id"))
      }
      val q = s.readStream.format("graft").load(bronze)
        .drop("_commit_version")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("statsCols", "event_id")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(silver)
      q.awaitTermination()
      ManifestSink.readBack(s, silver)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("sum_id"),
          round(sum(col("value")), 4).as("sum_val"))
        .orderBy(col("event_type"))
    }),

    // SCHEMA EVOLUTION capstone — ALTER TABLE ADD COLUMNS is a
    // metadata-only `schemaevo` commit, the catalog table resolves
    // the FRESH snapshot (no REFRESH), the widened schema accepts an
    // INSERT INTO ... SELECT from the table itself, and pre-ALTER
    // rows read the new column as null. The oracle recomputes the
    // final state from the raw rows, so a schema line that dropped a
    // row, nulled the wrong side, or double-applied the insert breaks
    // the hash.
    "q151_schema_evolution" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q151_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(4, col("event_id")),
        tmp, None, Seq("event_id"))
      val tbl = "graft_q151_" + java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(s"ALTER TABLE $tbl ADD COLUMNS (flag BIGINT)")
      s.sql(s"""INSERT INTO $tbl
          SELECT event_id + $n, event_type, value, event_id % 7
          FROM $tbl""")
      val out = s.sql(
        s"""SELECT event_type, count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val,
              CAST(sum(flag) AS BIGINT) AS sum_flag
            FROM $tbl GROUP BY event_type ORDER BY event_type""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // PARTITIONED CDC capstone — SQL UPDATE and MERGE INTO against a
    // date-partitioned layout (readme.md:38–43's normal case): the mor
    // UPDATE keeps each changed row in its SOURCE file's partition
    // (directory-derived, O(changed rows) write), the CDC MERGE routes
    // inserted rows into partitions via the source's p_date column,
    // and the final state GROUPs BY the partition value itself — a
    // dropped/nulled partition value breaks the hash, not just a row
    // count.
    "q152_partitioned_cdc" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q152_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, Some("ts"), Seq("event_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q152_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(s"UPDATE $tbl SET value = -value WHERE event_id % 7 = 0")
      val src = s"graft_q152_src_$sfx"
      ev.where(pmod(col("event_id"), lit(11L)) === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") * 3).as("value"), col("ts"),
          to_date(col("ts")).as("p_date"), lit("u").as("op"))
        .unionByName(
          ev.where(pmod(col("event_id"), lit(13L)) === 0 &&
              pmod(col("event_id"), lit(11L)) =!= 0)
            .select(col("event_id"), col("event_type"), col("value"),
              col("ts"), to_date(col("ts")).as("p_date"),
              lit("d").as("op")))
        .createOrReplaceTempView(src)
      s.sql(
        s"""MERGE INTO $tbl t USING $src s ON t.event_id = s.event_id
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      val out = s.sql(
        s"""SELECT CAST(p_date AS STRING) AS day, event_type,
              count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val
            FROM $tbl GROUP BY 1, 2 ORDER BY 1, 2""")
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView(src)
      out
    }),

    // CTAS + atomic INSERT OVERWRITE — the first statements a SQL user
    // issues after SELECT: `CREATE TABLE ... USING graft AS SELECT`
    // lands through the staged commit (one version, read-back parity),
    // INSERT INTO stacks a second, and INSERT OVERWRITE snapshot-
    // replaces the content in ONE commit with history RETAINED — the
    // output's 'pre' phase time-travels to the pre-overwrite state, so
    // a destructive (history-losing) overwrite breaks the hash.
    "q153_ctas_overwrite" -> ((s, dir) => {
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q153_$sfx"
      val evv = s"graft_q153_ev_$sfx"
      ev.createOrReplaceTempView(evv)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q153_").toString + "/t"
      s.sql(s"""CREATE TABLE $tbl USING graft LOCATION '$tmp' AS
          SELECT event_id, event_type, value FROM $evv
          WHERE event_id % 2 = 0""")
      s.sql(s"""INSERT INTO $tbl
          SELECT event_id, event_type, value FROM $evv
          WHERE event_id % 2 = 1 AND event_id % 5 = 0""")
      s.sql(s"""INSERT OVERWRITE $tbl
          SELECT event_id, event_type, value * 2 FROM $evv
          WHERE event_id % 3 = 0""")
      val out = s.sql(
        s"""WITH a AS (
              SELECT 'pre' AS phase, event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl VERSION AS OF 1 GROUP BY event_type),
            f AS (
              SELECT 'final' AS phase, event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl GROUP BY event_type)
            SELECT * FROM a UNION ALL SELECT * FROM f
            ORDER BY phase, event_type""")
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView(evv)
      out
    }),

    // STRING-COLLATION data skipping promoted to an oracle query: the
    // r18 audit found bounds produced in UTF-8 byte order (Spark
    // min/max, parquet footer stats) but compared in UTF-16 code-unit
    // order — the two collations disagree exactly where supplementary-
    // plane characters (every emoji: UTF-16 surrogates D800–DFFF,
    // UTF-8 F0+) interleave with U+E000–FFFF, so a file whose max key
    // carried an emoji wrongly pruned a probe for its U+E000 neighbor
    // and rows silently vanished. This query plants keys in all three
    // classes (BMP 'm' < U+E000 < U+1F600 in the data order), clusters
    // them into range-disjoint files, then answers point probes and an
    // open-top range THROUGH the skipping read + metadata-credited
    // countWhere; DuckDB compares strings as UTF-8 bytes natively, so
    // any collation drift in mayMatch/mustMatch/mergeStats breaks the
    // hash (and under the pre-fix compare this query LOSES rows).
    "q154_utf8_skipping" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      import ManifestSink.SkipPredicate
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val marker = when(pmod(col("doc_id"), lit(3L)) === 0, lit("😀"))
        .when(pmod(col("doc_id"), lit(3L)) === 1, lit(""))
        .otherwise(lit("m"))
      val keyed = d.withColumn("k",
        concat(col("lang"), marker, lit("-"),
          lpad(col("doc_id").cast("string"), 6, "0")))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q154_").toString
      ManifestSink.statsAppend(keyed.repartitionByRange(8, col("k")),
        tmp, None, Seq("k"))
      val probeKeys = keyed.where(col("doc_id") < 30)
        .select(col("k")).collect().map(_.getString(0)).toSeq.sorted
      // metadata-credited tail count: files wholly above the bound
      // count without a scan, the straddling file scans exactly
      val tail = ManifestSink.countWhere(s, tmp,
        SkipPredicate.StrRange("k", Some("en"), None))
      ManifestSink.readBackWherePred(s, tmp,
          SkipPredicate.StrIn("k", probeKeys))
        .select(col("doc_id"), col("lang"), col("k"))
        .withColumn("n_tail", lit(tail))
        .orderBy(col("doc_id"))
    }),

    // PARTITION-SCOPED OVERWRITE promoted to an oracle query — the
    // highest-frequency maintenance verb on the reference's own table
    // shape (a DAY-partitioned time series, readme.md:38–43):
    // "re-backfill one day" must replace EXACTLY that day's files in
    // one atomic partial-snapshot commit, leaving every other
    // partition byte-identical and history reachable. Static spec
    // (`PARTITION (p_date = d0)`) re-backfills the table's first day
    // with doubled even events; dynamic spec (`PARTITION (p_date)`)
    // thins the second day to every 5th event. The output unions the
    // pre-state (VERSION AS OF 0 — proving the overwrites retained
    // history) with the final state of both days; the oracle replays
    // both rewrites from the raw rows, so replacing too much (another
    // day bleeding away), too little (old files surviving in the
    // replaced day), or losing history breaks the hash.
    "q155_partition_overwrite" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q155_").toString
      ManifestSink.statsAppend(ev, tmp, Some("ts"), Seq("event_id"))
      val days = ev.select(to_date(col("ts")).cast("string").as("d"))
        .distinct().orderBy(col("d")).limit(2)
        .collect().map(_.getString(0))
      val (d0, d1) = (days(0), days(1))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q155_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date = '$d0')
            SELECT event_id, event_type, value * 2, ts
            FROM $tbl VERSION AS OF 0
            WHERE p_date = '$d0' AND event_id % 2 = 0""")
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date)
            SELECT event_id, event_type, value, ts, p_date
            FROM $tbl VERSION AS OF 0
            WHERE p_date = '$d1' AND event_id % 5 = 0""")
      val out = s.sql(
        s"""WITH pre AS (
              SELECT 'pre' AS phase, CAST(p_date AS STRING) AS day,
                count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl VERSION AS OF 0
              WHERE p_date IN ('$d0', '$d1') GROUP BY 2),
            fin AS (
              SELECT 'final' AS phase, CAST(p_date AS STRING) AS day,
                count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl
              WHERE p_date IN ('$d0', '$d1') GROUP BY 2)
            SELECT * FROM pre UNION ALL SELECT * FROM fin
            ORDER BY phase, day""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // SUBQUERY-PREDICATE DML promoted to an oracle query — the
    // GDPR-erasure shape: `DELETE FROM t WHERE user_id IN (SELECT
    // ...)` with the deny set derived from the table ITSELF (an
    // uncorrelated self-referencing subquery, evaluated against the
    // pre-delete snapshot). The delete runs merge-on-read (deletion
    // vectors, O(deleted rows)), and the change feed decomposes it:
    // the output unions the feed's exact delete pre-images (through
    // the graft_changes TVF) with the final per-type state, so a
    // wrong subquery plan capture, a mis-scoped dv, or a feed that
    // loses pre-images breaks the hash.
    "q156_subquery_delete" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q156_").toString
      ManifestSink.statsAppend(ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q156_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(
        s"""DELETE FROM $tbl WHERE user_id IN (
              SELECT user_id FROM $tbl
              WHERE event_type = 'purchase' AND user_id % 17 = 0)""")
      val out = s.sql(
        s"""WITH c AS (
              SELECT 'deleted' AS phase, 'all' AS event_type,
                count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM graft_changes('$tmp', 0)
              WHERE _change_type = 'delete'),
            f AS (
              SELECT 'final' AS phase, event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl GROUP BY event_type)
            SELECT * FROM c UNION ALL SELECT * FROM f
            ORDER BY phase, event_type""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // FULL-SYNC MERGE promoted to an oracle query — the
    // source-reloaded-from-scratch replication shape (`WHEN NOT
    // MATCHED BY SOURCE THEN DELETE`): the reloaded source carries
    // the even events doubled plus a band of brand-new keys, so the
    // sync must update every even key, insert the new ones, and
    // DELETE every odd key that vanished upstream — in ONE atomic
    // snapshot. The output carries the three-way counts plus the
    // final per-type state; the oracle replays all four from the raw
    // rows, so a sync that misses vanished keys (the half Delta users
    // hit first when a source reloads) breaks the hash.
    "q157_merge_full_sync" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q157_").toString
      ManifestSink.statsAppend(ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q157_$sfx"
      val srcV = s"graft_q157_src_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW $srcV AS
            SELECT event_id, event_type, value * 2 AS value
            FROM $tbl VERSION AS OF 0 WHERE event_id % 2 = 0
            UNION ALL
            SELECT event_id + $n, event_type, value + 1
            FROM $tbl VERSION AS OF 0 WHERE event_id % 97 = 0""")
      val r = s.sql(
        s"""MERGE INTO $tbl t USING $srcV s ON t.event_id = s.event_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""").head
      val (u, i, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val out = s.sql(
        s"""WITH cnt AS (
              SELECT 'count_updated' AS phase, 'all' AS event_type,
                CAST($u AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_id,
                CAST(0.0 AS DOUBLE) AS sum_val
              UNION ALL
              SELECT 'count_inserted', 'all', CAST($i AS BIGINT),
                CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
              UNION ALL
              SELECT 'count_deleted', 'all', CAST($d AS BIGINT),
                CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
            f AS (
              SELECT 'final' AS phase, event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_id,
                round(sum(value), 4) AS sum_val
              FROM $tbl GROUP BY event_type)
            SELECT * FROM cnt UNION ALL SELECT * FROM f
            ORDER BY phase, event_type""")
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView(srcV)
      out
    }),

    // TWO-LEVEL date/hour PARTITIONING promoted to an oracle query —
    // the routine layout for high-rate event streams: ingest events
    // under p_date=YYYY-MM-DD/p_hour=H directories (one statsAppend
    // with the "ts/hour" spec), re-backfill ONE HOUR of the first day
    // through the hour-scoped INSERT OVERWRITE PARTITION (tripling
    // even events), then aggregate the day BY BOTH levels through the
    // SQL relation (p_hour types INTEGER on every read path). The
    // oracle replays the hour rewrite from the raw rows, so a replace
    // that bleeds into neighboring hours, loses the hour's identity,
    // or mis-derives either directory level breaks the hash.
    "q158_hourly_partitions" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q158_").toString
      ManifestSink.statsAppend(ev, tmp, Some("ts/hour"), Seq("event_id"))
      val d0 = ev.agg(min(to_date(col("ts"))).cast("string"))
        .head.getString(0)
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q158_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date = '$d0', p_hour = '3')
            SELECT event_id, event_type, value * 3, ts
            FROM $tbl VERSION AS OF 0
            WHERE p_date = '$d0' AND p_hour = 3 AND event_id % 2 = 0""")
      val out = s.sql(
        s"""SELECT p_hour, count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val
            FROM $tbl WHERE p_date = '$d0'
            GROUP BY p_hour ORDER BY p_hour""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // CORRELATED subquery DML — the erasure shape users actually
    // write: `DELETE FROM t WHERE EXISTS (SELECT 1 FROM deny d WHERE
    // d.user_id = t.user_id AND d.action = 'erase')`. The deny list
    // carries a user_id column of its OWN plus a mixed action column,
    // so a decorrelating rename (t.user_id -> bare user_id) would
    // silently erase rows the list never named, and the follow-up
    // correlated UPDATE zeroes the kept users' values. Spark's own
    // decorrelation plans both as semi joins inside the dv pass — no
    // driver key collect. The oracle replays the same EXISTS logic in
    // DuckDB over the raw rows.
    "q159_correlated_dml" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q159_").toString
      ManifestSink.statsAppend(ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q159_$sfx"
      val deny = s"graft_q159_deny_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(
        s"""CREATE OR REPLACE TEMP VIEW $deny AS
            SELECT user_id,
              CASE WHEN user_id % 34 = 0 THEN 'erase' ELSE 'keep' END
                AS action
            FROM (SELECT DISTINCT user_id FROM $tbl
                  WHERE user_id % 17 = 0)""")
      val nDel = s.sql(
        s"""DELETE FROM $tbl t WHERE EXISTS
            (SELECT 1 FROM $deny d
             WHERE d.user_id = t.user_id AND d.action = 'erase')""")
        .head.getLong(0)
      val nUpd = s.sql(
        s"""UPDATE $tbl t SET value = 0.0 WHERE EXISTS
            (SELECT 1 FROM $deny d
             WHERE d.user_id = t.user_id AND d.action = 'keep')""")
        .head.getLong(0)
      val out = s.sql(
        s"""SELECT 'dml_counts' AS phase, 'all' AS event_type,
              CAST($nDel AS BIGINT) AS n, CAST($nUpd AS BIGINT) AS sum_id,
              CAST(0.0 AS DOUBLE) AS sum_val
            UNION ALL
            SELECT 'final' AS phase, event_type, count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val
            FROM $tbl GROUP BY event_type
            ORDER BY phase, event_type""")
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView(deny)
      out
    }),

    // COLUMN MAPPING — metadata-only `ALTER TABLE ... RENAME COLUMN`
    // (Delta's column-mapping name mode): two columns rename in O(1)
    // commits (zero files rewritten — data files keep their stable
    // physical names), then SQL INSERT/DELETE/UPDATE and the final
    // aggregate all speak the NEW names across pre- and post-rename
    // files in one scan. The DELETE's predicate on the renamed column
    // exercises the skipping-stats translation (pre-rename stats key
    // on the physical name); the oracle replays every step from the
    // raw documents rows, so a nulled pre-rename column, a missed
    // rename in any write path, or a mistranslated prune breaks the
    // hash.
    "q162_column_mapping" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q162_").toString
      ManifestSink.statsAppend(
        docs.repartitionByRange(8, col("doc_id")), tmp, None,
        Seq("doc_id", "n_chars"), bloomCols = Seq("lang"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q162_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(s"ALTER TABLE $tbl RENAME COLUMN n_chars TO char_count")
      s.sql(s"ALTER TABLE $tbl RENAME COLUMN source TO origin")
      // post-rename INSERT speaks the new names; VERSION AS OF 0
      // reads the PRE-rename schema (positional insert)
      s.sql(
        s"""INSERT INTO $tbl
            SELECT doc_id + 1000000, lang, source, n_chars + 7
            FROM $tbl VERSION AS OF 0 WHERE doc_id % 37 = 0""")
      // DELETE on the renamed column: the prune consults pre-rename
      // stats through the mapping
      s.sql(s"DELETE FROM $tbl WHERE char_count < 120")
      s.sql(
        s"UPDATE $tbl SET origin = 'redacted' WHERE doc_id % 13 = 0")
      val out = s.sql(
        s"""SELECT lang, count(*) AS n,
              CAST(sum(doc_id) AS BIGINT) AS sum_id,
              CAST(sum(char_count) AS BIGINT) AS sum_chars,
              count(DISTINCT origin) AS n_origins
            FROM $tbl GROUP BY lang ORDER BY lang""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // GENERIC PARTITION COLUMNS — the LLM-curation layout: the
    // documents corpus lands partitioned by its OWN lang column
    // (`lang=en/` directories, Delta-style arbitrary partition
    // columns), then gets curated with partition-native verbs: DROP
    // one language, INSERT OVERWRITE another with a filtered reload,
    // UPDATE rows in place (each keeps its language directory), and
    // read back per-language aggregates whose scans partition-prune.
    // The oracle replays every step from the raw documents rows.
    "q161_generic_partitions" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q161_").toString
      ManifestSink.statsAppend(docs.repartition(4), tmp,
        Some("val(lang)"), Seq("doc_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q161_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      // drop the zh partition (decontamination shape)
      ManifestSink.dropPartitions(s, tmp, Seq("zh"))
      // reload en keeping only the longer documents
      s.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (lang = 'en')
            SELECT doc_id, source, n_chars FROM $tbl VERSION AS OF 0
            WHERE lang = 'en' AND n_chars >= 500""")
      // redact one source's rows in place (rows keep their language)
      s.sql(
        s"""UPDATE $tbl SET source = 'redacted'
            WHERE doc_id % 13 = 0""")
      val out = s.sql(
        s"""SELECT lang, count(*) AS n,
              CAST(sum(doc_id) AS BIGINT) AS sum_id,
              CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              count(DISTINCT source) AS n_sources
            FROM $tbl GROUP BY lang ORDER BY lang""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // TYPE WIDENING — `ALTER TABLE ... ALTER COLUMN ... TYPE`: the
    // table starts with INT ids and FLOAT values in the files'
    // physical footers, widens both in two metadata-only commits, then
    // INSERTs rows only the widened types can hold (an id beyond
    // int range) and DELETEs rows living in pre-widen files. The final
    // aggregate scans pre- AND post-widen files in one read — upcast
    // at scan time from the log-resolved schema, no file rewritten.
    // The oracle replays the same arithmetic in DuckDB (value passes
    // through REAL to replicate the float round-trip).
    "q160_type_widening" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id").cast("int").as("id"),
          col("value").cast("float").as("val"),
          col("event_type"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q160_").toString
      ManifestSink.statsAppend(ev.repartitionByRange(8, col("id")),
        tmp, None, Seq("id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q160_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN id TYPE BIGINT")
      s.sql(s"ALTER TABLE $tbl ALTER COLUMN val TYPE DOUBLE")
      s.sql(
        s"""INSERT INTO $tbl
            SELECT id + ${1L << 40}, val * 2, event_type
            FROM $tbl VERSION AS OF 0 WHERE id % 50 = 0""")
      s.sql(s"DELETE FROM $tbl WHERE id % 97 = 0 AND id < ${1L << 40}")
      val out = s.sql(
        s"""SELECT event_type, count(*) AS n,
              CAST(sum(id) AS BIGINT) AS sum_id,
              round(sum(val), 2) AS sum_val
            FROM $tbl GROUP BY event_type ORDER BY event_type""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // SQL DML capstone — the table MAINTAINED through `spark.sql`:
    // `DELETE FROM` (mor dv commit), `UPDATE ... SET` (sidecar
    // rewrite), and a CDC-form `MERGE INTO` (conditional DELETE +
    // UPDATE SET * + INSERT *) all route through the injected
    // GraftDmlRule to the lakehouse write paths — a SQL/BI client can
    // CHANGE the warehouse, not just read it. The oracle recomputes
    // the final state from the raw rows, so a wrong dv, a stale
    // catalog relation after a commit, or a mis-applied merge
    // directive breaks the hash.
    "q149_sql_dml" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q149_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      val sfx = java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val tbl = s"graft_q149_$sfx"
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      s.sql(s"DELETE FROM $tbl WHERE event_id % 9 = 0")
      s.sql(s"UPDATE $tbl SET value = -value WHERE event_id % 7 = 0")
      val src = s"graft_q149_src_$sfx"
      ev.where(pmod(col("event_id"), lit(11L)) === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") * 3).as("value"), lit("u").as("op"))
        .unionByName(
          ev.where(pmod(col("event_id"), lit(13L)) === 0 &&
              pmod(col("event_id"), lit(11L)) =!= 0)
            .select(col("event_id"), col("event_type"), col("value"),
              lit("d").as("op")))
        .createOrReplaceTempView(src)
      s.sql(
        s"""MERGE INTO $tbl t USING $src s ON t.event_id = s.event_id
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      // sql() analyzes eagerly, so the relation below survives the
      // DROP (external table — the data files stay put)
      val out = s.sql(
        s"""SELECT event_type, count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val
            FROM $tbl GROUP BY event_type ORDER BY event_type""")
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView(src)
      out
    }),

    "q145_sql_table" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q145_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(9L)) === 0)
      val tbl = "graft_q145_" + java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      s.sql(s"CREATE TABLE $tbl USING graft LOCATION '$tmp'")
      val out = s.sql(
        s"""SELECT event_type, count(*) AS n,
              CAST(sum(event_id) AS BIGINT) AS sum_id,
              round(sum(value), 4) AS sum_val
            FROM $tbl WHERE event_id < ${4 * n / 8}
            GROUP BY event_type ORDER BY event_type""")
      s.sql(s"DROP TABLE $tbl")
      out
    }),

    // CHECKPOINT WITH RETAINED HISTORY — a long log (12 appends, a mor
    // delete, an explicit checkpoint, then MORE commits past it) read
    // through the checkpointed resolution: `readBack` resolves head
    // state in O(commits since checkpoint) manifest opens, while
    // `readVersion(5)` time-travels BELOW the checkpoint through the
    // retained manifests — the two properties compact() cannot offer
    // together. The oracle recomputes both cuts from the raw rows, so
    // the checkpoint summary must be EXACTLY the effective state
    // (targets + dvs + stats) or one of the two phases diverges.
    "q146_checkpoint" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q146_").toString
      (0L until 12L).foreach { i =>
        ManifestSink.statsAppend(
          ev.where(pmod(col("event_id"), lit(12L)) === i).coalesce(2),
          tmp, None, Seq("event_id"))
      }
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(9L)) === 0)          // v12 (dv-only)
      ManifestSink.checkpoint(s, tmp)                  // 12.checkpoint
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(11L)) === 0)         // v13, past it
      def agg(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("event_id")).cast("long").as("sum_id"),
            round(sum(col("value")), 4).as("sum_val"))
          .select(lit(phase).as("phase"), col("event_type"), col("n"),
            col("sum_id"), col("sum_val"))
      agg(ManifestSink.readVersion(s, tmp, 5L), "asof_v5")
        .unionByName(agg(ManifestSink.readBack(s, tmp), "final"))
        .orderBy(col("phase"), col("event_type"))
    }),

    // TARGETED DV MATERIALIZATION — scattered mor deletes leave HEAVY
    // tombstones in the lower half of a ranged layout (50% dead) and
    // LIGHT ones in the upper half (~1%); `purge(0.8)` rewrites ONLY
    // the under-threshold files (restoring their dv-free read path)
    // while the lightly-tombstoned files keep their dvs — the 100 TB
    // answer to tombstone accumulation without a full-table repack.
    // The oracle recomputes the final state from the raw rows, so the
    // partial snapshot must keep exactly the live rows of BOTH halves.
    "q147_purge" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val half = n / 2
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q147_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id"))
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(2L)) === 0 && col("event_id") < half)
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(101L)) === 0 &&
          col("event_id") >= half)
      ManifestSink.purge(s, tmp, minLiveFraction = 0.8)
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("sum_id"),
          round(sum(col("value")), 4).as("sum_val"))
        .orderBy(col("event_type"))
    }),

    // NATIVE STREAMING SOURCE — the manifest log tailed through
    // `spark.readStream.format("graft")` (offsets ARE versions) with
    // `Trigger.AvailableNow` into a memory sink: three appends arrive
    // as per-version inserts, the mor delete decomposes into row-level
    // delete pre-images, and Spark's own offset checkpoints own the
    // exactly-once contract. The oracle recomputes every change row
    // from the raw data, so a dropped / doubled / mis-versioned batch
    // breaks the hash.
    "q148_stream_source" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q148_").toString
      (0L until 3L).foreach { i =>
        ManifestSink.statsAppend(
          ev.where(pmod(col("event_id"), lit(3L)) === i).coalesce(2),
          tmp, None, Seq("event_id"))
      }
      ManifestSink.deleteWhereMor(s, tmp,
        pmod(col("event_id"), lit(5L)) === 0)          // v3 (dv-only)
      val qn = "graft_q148_" + java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8)
      val sq = s.readStream.format("graft").option("feed", "changes")
        .load(tmp)
        .writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table(qn)
        .groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("sum_id"))
        .orderBy(col("version"), col("change_type"))
    }),

    "q144_incremental_agg" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q144_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      def merge(src: org.apache.spark.sql.DataFrame): Unit =
        ManifestSink.mergeCdc(s, tmp, src, "event_id",
          col("op") === "d", directiveCols = Seq("op"),
          statsCols = Seq("event_id"), mor = true)
      merge(ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(14L)) === 0)
        .select(col("event_id"), col("event_type"),
          lit(-5.0).as("value"), lit("u").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(28L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op"))
        .unionByName(ev.where(pmod(col("event_id"), lit(10L)) === 0 &&
            pmod(col("event_id"), lit(7L)) =!= 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"), lit("u").as("op"))))
      val init = ManifestSink.readVersion(s, tmp, 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n0"), sum(col("value")).as("s0"))
      val deltas = ManifestSink.readChangesBetween(s, tmp, 0L)
        .withColumn("sgn",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("event_type"))
        .agg(sum(col("sgn")).as("dn"),
          sum(col("sgn") * coalesce(col("value"), lit(0.0))).as("ds"))
      init.join(deltas, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n0"), lit(0L)) +
            coalesce(col("dn"), lit(0L))).as("n"),
          round(coalesce(col("s0"), lit(0.0)) +
            coalesce(col("ds"), lit(0.0)), 4).as("sum_val"))
        .orderBy(col("event_type"))
    }),

    // CHANGE DATA FEED for COPY-ON-WRITE commits: with the feed
    // enabled, a COW slab delete and a COW slab update each capture a
    // change-data sidecar at write time (Delta's CDF design — the
    // rewrite already scanned exactly the changed rows), and
    // readChangesBetween decomposes those snapshot versions from the
    // sidecars: v1 = deletes of the [n/8, 2n/8) slab, v2 = pre-image
    // deletes + negated-value inserts of the [6n/8, 7n/8) slab.
    "q143_cow_change_feed" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q143_").toString
      ManifestSink.enableChangeFeed(s, tmp)
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      ManifestSink.deleteWhere(s, tmp,
        col("event_id").between(n / 8, 2 * n / 8 - 1))
      ManifestSink.updateWhere(s, tmp,
        col("event_id").between(6 * n / 8, 7 * n / 8 - 1),
        Map("value" -> -col("value")))
      ManifestSink.readChangesBetween(s, tmp, 0L)
        .groupBy(col("_commit_version").cast("long").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("sum_id"),
          sum(col("value")).as("sum_val"))
        .orderBy(col("version"), col("change_type"))
    }),

    // CHANGE DATA FEED over the q138 CDC sequence: the same three
    // mor merges, then readChangesBetween decomposes every commit into
    // row-level deletes (pre-images from the dv sidecars) and inserts;
    // the per-version aggregates pin both row identity (sum of ids)
    // and pre/post-image VALUES (v3's deletes mix the -5 rows inserted
    // at v2 with original-value rows — a feed that read current file
    // contents wrongly or joined the wrong sidecar gets sum_val wrong).
    "q142_change_feed" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q142_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      def merge(src: org.apache.spark.sql.DataFrame): Unit =
        ManifestSink.mergeCdc(s, tmp, src, "event_id",
          col("op") === "d", directiveCols = Seq("op"),
          statsCols = Seq("event_id"), mor = true)
      merge(ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(14L)) === 0)
        .select(col("event_id"), col("event_type"),
          lit(-5.0).as("value"), lit("u").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(28L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op"))
        .unionByName(ev.where(pmod(col("event_id"), lit(10L)) === 0 &&
            pmod(col("event_id"), lit(7L)) =!= 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"), lit("u").as("op"))))
      ManifestSink.readChangesBetween(s, tmp, 0L)
        .groupBy(col("_commit_version").cast("long").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).cast("long").as("sum_id"),
          sum(col("value")).as("sum_val"))
        .orderBy(col("version"), col("change_type"))
    }),

    // BLOOM FILE INDEX point lookups: doc_ids hash-scattered across 8
    // files make every file's min/max span ~the whole range — the
    // stats-only equality would read the table; the per-file bloom
    // (1 KiB of manifest metadata each) prunes each lookup to the
    // file(s) actually holding the key, a driver-side bit test. Five
    // lookups via StrEq (the build and probe share the same
    // xxhash64-of-string-cast, so numeric keys work).
    "q141_bloom_lookup" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q141_").toString
      ManifestSink.statsAppend(d.repartition(8, col("doc_id")), tmp,
        None, Seq("n_chars"), bloomCols = Seq("doc_id"))
      // ONE read: the IN-list is an Or of equalities, so the pruning
      // unions the per-value bloom verdicts and the residual is the
      // disjunction — files rejecting ALL five keys never open
      ManifestSink.readBackWherePred(s, tmp,
        ManifestSink.SkipPredicate.StrIn("doc_id",
          Seq("3", "17", "29", "41", "53")))
        .orderBy(col("doc_id"))
    }),

    // MERGE-ON-READ UPDATE (DV-backed UPDATE): a slab delete lands as
    // tombstones, then a SCATTERED update (every 7th id — matches all
    // 8 files, the shape that under copy-on-write rewrites the whole
    // table) tombstones the old rows and appends their negated
    // versions in ONE incremental commit, zero file rewrites. The
    // oracle replays delete+update as complement-filter + CASE — the
    // visible rows must equal the COW q123 semantics for this recipe.
    "q140_mor_update" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q140_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      ManifestSink.deleteWhereMor(s, tmp,
        col("event_id").between(3 * n / 8, 4 * n / 8 - 1))
      ManifestSink.updateWhereMor(s, tmp,
        pmod(col("event_id"), lit(7L)) === 0,
        Map("value" -> -col("value")))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // DOMAIN/URL CURATION capstone — the source-level half of the
    // C4/RefinedWeb recipe: synthesize deterministic URLs over the
    // documents table (www prefixes + multi-part ccTLD suffixes so the
    // registrable-domain cut is actually exercised), gate out a
    // blocklist by eTLD+1, then cap each surviving domain at 2 docs by
    // (n_chars desc, doc_id) via the bounded TopK aggregate — no
    // window, so the web's head domain never funnels one task. The
    // oracle replays extraction+gate+cap with row_number in DuckDB.
    "q139_domain_curation" -> ((s, dir) => {
      import graft.operators.Corpus
      val suffixes = array(lit("com"), lit("org"), lit("co.uk"),
        lit("net"), lit("com.au"))
      val url = concat(lit("https://"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit("www."))
          .otherwise(lit("")),
        lit("site"), pmod(col("doc_id"), lit(37L)), lit("."),
        element_at(suffixes,
          (pmod(col("doc_id"), lit(5L)) + 1).cast("int")),
        lit("/"), col("source"), lit("/"), col("doc_id"))
      val withUrl = docs(s, dir).withColumn("url", url)
      val blocked = for {
        site <- Seq("site0", "site17")
        sfx <- Seq("com", "org", "co.uk", "net", "com.au")
      } yield s"$site.$sfx"
      val gated = withUrl.where(
        Corpus.domainNotBlocked(col("url"), blocked))
      Corpus.perDomainCap(gated, "url", cap = 2,
        priority = col("n_chars"))
        .orderBy(col("domain"), col("rank"))
    }),

    // MERGE-ON-READ CDC (deletion vectors) as an oracle query: the
    // EXACT q135 change sequence — delete id%7, re-insert id%14 at -5,
    // delete id%28 + double id%10 — applied with mor=true, so the
    // scattered batch that under COW rewrites all 8 files (q135's
    // documented worst case, the bench's slowest query) commits only
    // position tombstones + insert files. Same oracle SQL as q135: the
    // visible rows must be IDENTICAL under both write modes; the cost
    // profile (O(changed rows), zero rewrites) is the difference the
    // BASELINE ladder documents.
    "q138_mor_cdc" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q138_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      def merge(src: org.apache.spark.sql.DataFrame): Unit =
        ManifestSink.mergeCdc(s, tmp, src, "event_id",
          col("op") === "d", directiveCols = Seq("op"),
          statsCols = Seq("event_id"), mor = true)
      merge(ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(14L)) === 0)
        .select(col("event_id"), col("event_type"),
          lit(-5.0).as("value"), lit("u").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(28L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op"))
        .unionByName(ev.where(pmod(col("event_id"), lit(10L)) === 0 &&
            pmod(col("event_id"), lit(7L)) =!= 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"), lit("u").as("op"))))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // RESTORE as an oracle query: three appends build the table, a
    // fat-finger COW delete wipes two thirds of it, restore(v2) commits
    // the pre-delete file set back as the new head (pure metadata — no
    // data moved, history intact), and a correct targeted delete then
    // lands on top. The final aggregate must equal "all events minus
    // only the targeted slab" — wrong if restore resurrected too little
    // (the bad delete leaks through) or too much (the targeted delete
    // lost). Exercises the retained-manifest model end to end: the bad
    // delete's snapshot stays on disk, hidden by the restore's cut.
    "q137_restore" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val n = ev.agg(max(col("event_id"))).head.getLong(0) + 1
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q137_").toString
      for (t <- 0 until 3)
        ManifestSink.statsAppend(
          ev.where(col("event_id") >= t * n / 3 &&
            col("event_id") < (t + 1) * n / 3),
          tmp, None, Seq("event_id"))
      // the bad delete: wipes [0, 2n/3) — two of the three slabs
      ManifestSink.deleteWhere(s, tmp,
        col("event_id").between(0L, 2 * n / 3 - 1))
      // undo it: metadata-only commit of v2's file set as the new head
      ManifestSink.restore(s, tmp, 2L)
      // the intended, targeted delete lands on the restored state
      ManifestSink.deleteWhere(s, tmp,
        col("event_id").between(n / 3, n / 3 + n / 10))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    "q135_cdc_sequence" -> ((s, dir) => {
      import graft.ingest.ManifestSink
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_q135_").toString
      ManifestSink.statsAppend(
        ev.repartitionByRange(8, col("event_id")),
        tmp, None, Seq("event_id", "value"))
      def merge(src: org.apache.spark.sql.DataFrame): Unit =
        ManifestSink.mergeCdc(s, tmp, src, "event_id",
          col("op") === "d", directiveCols = Seq("op"),
          statsCols = Seq("event_id"))
      merge(ev.where(pmod(col("event_id"), lit(7L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(14L)) === 0)
        .select(col("event_id"), col("event_type"),
          lit(-5.0).as("value"), lit("u").as("op")))
      merge(ev.where(pmod(col("event_id"), lit(28L)) === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          lit("d").as("op"))
        .unionByName(ev.where(pmod(col("event_id"), lit(10L)) === 0 &&
            pmod(col("event_id"), lit(7L)) =!= 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"), lit("u").as("op"))))
      ManifestSink.readBack(s, tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id")).as("sum_id"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Personalized PageRank: teleportation restricted to a seed set
    // (every 20th node of q122's graph) — rank mass concentrates in the
    // seeds' neighborhoods, the related-entity/crawl-frontier expansion
    // primitive; dangling mass follows the same seed distribution so
    // the vector still sums to 1, and non-seed nodes with no in-flow
    // hold exactly zero. Same per-round edge-list shape as q122 plus
    // one node-keyed seed-flag join.
    "q130_personalized_pagerank" -> ((s, dir) => {
      import graft.operators.Graph
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("user_id"))
      val e = ev.select(pmod(col("user_id"), lit(400L)).as("src"),
          pmod(col("event_id") * 31L, lit(400L)).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      val nodes = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
      val seeds = nodes.where(pmod(col("node"), lit(20L)) === 0)
      Graph.personalizedPageRank(e, seeds, iters = 5)
        .orderBy(col("node"))
    }),

    // PageRank over a deterministic event-derived link graph (users →
    // hashed targets): 5 damped power iterations, every round an
    // edge-list equi-join (src-partitioned once, reused) + a map-side-
    // combined groupBy(dst) + ONE driver scalar for the dangling mass —
    // the link-authority prior the CommonCrawl/C4 lineage computes
    // upstream of every text pipeline. The oracle replays all 5 rounds
    // as an unrolled CTE chain with identical IEEE expression order.
    "q122_pagerank" -> ((s, dir) => {
      import graft.operators.Graph
      val ev = SparkEntry.events(s, dir)
        .select(col("event_id"), col("user_id"))
      val e = ev.select(pmod(col("user_id"), lit(400L)).as("src"),
          pmod(col("event_id") * 31L, lit(400L)).as("dst"))
        .where(col("src") =!= col("dst")).distinct()
      Graph.pageRank(e, iters = 5).orderBy(col("node"))
    }),

    // Inverted index with bounded posting lists: exact df and first-20
    // postings in ONE groupBy — postings truncated by the bounded-buffer
    // top-k aggregate (a stopword costs 20 buffer slots per partition,
    // never a corpus-sized group through one task's window sort).
    "q98_inverted_index" -> ((s, dir) => {
      TextRank.invertedIndex(docs(s, dir), minDf = 5, maxPostings = 20)
    }),

    // fastText-style hashing-trick linear classifier: per-doc quality
    // score as ONE row-local HOF aggregate over the token array —
    // integer-only md5 arithmetic, zero shuffle, no broadcast. The
    // md5-derived weights are a deterministic stand-in for a trained
    // model with the same cost shape.
    "q99_hash_classifier" -> ((s, dir) => {
      Classifier.scoreDocs(docs(s, dir), nBuckets = 4096, seed = "w")
        .orderBy(col("doc_id"))
    }),

    // Exact top-k per group via the native bounded-buffer aggregate
    // (TopK.TopKAgg): map-side partial top-k, at most k pairs per group
    // per partition cross the shuffle — no window, no per-group global
    // sort. Top-5 longest documents per language, ties by doc_id.
    // Per-language top vocabulary: exact token counts per (lang, token)
    // then the bounded-buffer TopK aggregate per language — the
    // stopword-list/vocabulary-drift report a multilingual pipeline
    // reads before tokenizer training. No window: a web-scale language's
    // vocabulary never funnels through one task's sort. TopKAgg keys on
    // longs, so the token rides its md5-60 surrogate (ties in count
    // break on the surrogate — deterministic and engine-reproducible,
    // the repo's standard hash-order trick) and the text joins back on
    // the slim (lang, tid) pair.
    "q136_top_tokens_per_lang" -> ((s, dir) => {
      val tid = conv(substring(md5(col("token")), 1, 15), 16, 10)
        .cast("long")
      val counts = docs(s, dir)
        .select(col("lang"), explode(TA.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
        .withColumn("tid", tid)
      val top = counts.groupBy(col("lang"))
        .agg(TopK.topK(col("n"), col("tid"), 10).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("tid"), col("col.score").as("n"))
      top.join(counts.select(col("lang"), col("tid"), col("token")),
          Seq("lang", "tid"))
        .select(col("lang"), col("rank"), col("token"), col("n"))
        .orderBy(col("lang"), col("rank"))
    }),

    "q100_topk_agg" -> ((s, dir) => {
      val base = docs(s, dir).select(col("lang"), col("doc_id"),
        TA.tokenCount(col("text")).cast("long").as("n"))
      base.groupBy(col("lang"))
        .agg(TopK.topK(col("n"), col("doc_id"), 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("doc_id"), col("col.score").as("n_tokens"))
        .orderBy(col("lang"), col("rank"))
    }),

    // PII scan + redaction (graft.functions.Pii): per-class hit counts
    // under sequential adjudication plus the md5 of the fully redacted
    // text. The synthetic documents are PII-free word salad, so the query
    // PLANTS deterministic PII (doc_id-derived emails/IPs/SSNs/cards/
    // phones on modular slices — mirrored verbatim in the oracle SQL) and
    // the hash compare then proves detection, class adjudication, and
    // redaction byte-for-byte.
    "q67_pii_scan" -> ((s, dir) => {
      import graft.functions.Pii
      val aug = piiAugmented(docs(s, dir))
      aug.select(col("doc_id") +: Pii.scanColumns(col("aug_text")) :+
        md5(Pii.redact(col("aug_text"))).as("redacted_md5"): _*)
        .orderBy(col("doc_id"))
    }),

    // Real merge-table BPE tokenization (native BpeTokenizeExpr, priority
    // merge loop; oracle replays the rank-order fold — equivalent on the
    // topologically consistent fixture table): pretoken count, true BPE
    // token count, and the md5 of the full token stream.
    "q69_bpe_tokens" -> ((s, dir) => {
      import graft.functions.Bpe
      val toks = Bpe.tokens(col("text"))
      docs(s, dir).select(col("doc_id"),
        TA.bpeishTokenCount(col("text")).as("n_pretokens"),
        size(toks).as("n_bpe"),
        md5(concat_ws(" ", toks)).as("stream_md5"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM perplexity scoring (graft.operators.LmFilter): a
    // hash-bucketed bigram LM trained corpus-wide in one groupBy, every
    // doc scored by average negative log-prob, thresholded into the
    // passes_lm gate. Oracle reproduces the identical bucket hashes,
    // add-one smoothing, and the rounded-decimal log fold.
    "q68_lm_perplexity" -> ((s, dir) => {
      import graft.operators.LmFilter
      LmFilter.scoreDocs(docs(s, dir))
        .withColumn("passes_lm", col("log_ppl") <= LmFilter.LogPplMax)
        .orderBy(col("doc_id"))
    }),

    // 120-bit wide SimHash pairs — the documented scale lever over q27's
    // 60-bit hash: 4x30-bit pigeonhole blocks cut degenerate candidate
    // growth from ~n^2/2^15 to ~n^2/2^30 per block, still bit-exact in SQL.
    "q65_simhash_wide_pairs" -> ((s, dir) => {
      Dedup.simhashWideDupPairs(docs(s, dir), maxHamming = 3,
        maxBucketSize = DedupBucketCap)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "q27_simhash_dup_pairs" -> ((s, dir) => {
      Dedup.simhashDupPairs(docs(s, dir), maxHamming = 3,
        maxBucketSize = DedupBucketCap)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- similarity search --------------------------------------------
    "q28_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnBruteForce(e, e.filter(col("vec_id") < 5), k = 10)
        .orderBy(col("query_id"), col("rn"))
    }),

    "q29_knn_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLsh(e, e.filter(col("vec_id") < 5), k = 5,
        nPlanes = AnnBits, nTables = AnnTables)
        .orderBy(col("query_id"), col("rn"))
    }),

    "q30_embedding_neardup" -> ((s, dir) => {
      Similarity.nearDupPairs(emb(s, dir), threshold = EmbNearDupThreshold,
        nPlanes = AnnBits, nTables = AnnTables, maxBucketSize = AnnBucketCap)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "q31_vector_stats" -> ((s, dir) => {
      emb(s, dir)
        .select(col("label"),
          VectorOps.norm2(col("embedding")).as("norm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          (sum(col("norm").cast("decimal(18,9)")).cast("double")
            / count(lit(1))).as("avg_norm"))
        .orderBy(col("label"))
    }),

    // ---- multimodal ----------------------------------------------------
    "q32_multimodal_meta" -> ((s, dir) => {
      Multimodal.mediaMetadata(s, docs(s, dir)).orderBy(col("media_id"))
    }),

    // Pivot: day x event-type count matrix (fixed column set; absent
    // cells zero-filled to match the oracle's FILTER counts).
    "q40_pivot_daily_types" -> ((s, dir) => {
      SparkEntry.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy(col("day"))
    }),

    // Multimodal feature extraction: decode + resize + frame-sample +
    // fake embedding in ONE partition-wise pass; probe dims + transforms
    // verified against the md5-arithmetic oracle.
    "q41_media_features" -> ((s, dir) => {
      Multimodal.mediaFeatures(s, docs(s, dir))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("out_w"), col("out_h"), col("n_frames"), col("frame_ids"),
          round(element_at(col("feature"), 1), 6).as("f0"),
          round(element_at(col("feature"), 4), 6).as("f3"),
          round(element_at(col("feature"), 8), 6).as("f7"))
        .orderBy(col("media_id"))
    }),

    // REAL image-header decode: payloads with planted PNG/JPEG headers
    // yield their actual parsed dimensions (probeImage reads IHDR / walks
    // to SOF); unparseable payloads degrade to the deterministic stub.
    // The oracle derives the planted dims from the id formula and the
    // fallback dims from the md5 stub formula — asserting the probe
    // recovered exactly what was planted.
    "q74_media_probe" -> ((s, dir) => {
      Multimodal.decode(Multimodal.plantedMedia(s, docs(s, dir))).toDF()
        .select(col("media_id"), col("format"), col("width"),
          col("height"), col("n_frames"))
        .orderBy(col("media_id"))
    }),

    // REAL PNG PIXEL decode: full PNGs (deflated IDAT, all five scanline
    // filter types) are decoded via Inflater + per-scanline unfilter and
    // reduced to channel stats; the planted pixel rule base_c + x + 2y is
    // closed-form, so the oracle asserts the decode byte-for-byte without
    // touching an image library.
    "q78_pixel_stats" -> ((s, dir) => {
      Multimodal.pixelStats(Multimodal.plantedPixelMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // ADAM7 INTERLACED PNG decode: the q78 fixture re-encoded as the
    // seven-pass progressive layout (byte-distinct files, identical
    // pixels). Hitting q78's closed form from THIS planting proves each
    // pass unfilters as an independent sub-image and every pixel lands
    // on its exact (x0 + c·dx, y0 + r·dy) grid position.
    "q91_png_interlaced" -> ((s, dir) => {
      Multimodal.pixelStats(
        Multimodal.plantedInterlacedPixelMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // REAL WAV/PCM decode: RIFF chunk walk + int16 sample extraction,
    // reduced to per-clip amplitude stats; planted samples follow the
    // closed form base + (i mod 17), so the oracle asserts the decode
    // (incl. exact Σs²) in pure SQL.
    "q79_audio_stats" -> ((s, dir) => {
      Multimodal.audioStats(Multimodal.plantedAudioMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // REAL thumbnail: decode → exact box-filter downsample (8x8 → 4x4)
    // → channel stats. The resized min/max (base+1.5 / base+19.5) differ
    // from the full-resolution ones (base / base+21), so the oracle
    // asserts the box filter arithmetic, not just the decode.
    "q81_thumbnail_stats" -> ((s, dir) => {
      Multimodal.thumbnailStats(
        Multimodal.plantedPixelMedia(s, docs(s, dir)), 4, 4)
        .toDF()
        .orderBy(col("media_id"))
    }),

    // 4:2:0 SUBSAMPLED baseline-JPEG decode — the layout virtually all
    // real-world JPEGs use: 16x16 MCUs of four luma + two chroma blocks,
    // chroma upsampled by replication; neutral flat chroma keeps the
    // luma ladder exact through the full subsampled pipeline.
    "q85_jpeg_420" -> ((s, dir) => {
      Multimodal.jpegColorStats(
        Multimodal.planted420JpegMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // COLOR baseline-JPEG decode: interleaved YCbCr 4:4:4 MCUs with
    // per-component DC predictors + JFIF conversion; neutral planted
    // chroma makes R = G = B = Y exact, so the oracle survives the
    // color matrix while the 3-component path is fully exercised.
    "q84_jpeg_color" -> ((s, dir) => {
      Multimodal.jpegColorStats(
        Multimodal.plantedColorJpegMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // PROGRESSIVE (SOF2) JPEG decode: the q84 color fixture re-encoded
    // as a multi-scan successive-approximation file (DC first pass at
    // Al=1, DC refinement bits, per-component AC scans with EOB runs
    // spanning blocks). Matching q84's closed form against THIS planting
    // proves the Annex-G machinery end to end: the pixel values only
    // come out right if every scan composes correctly.
    "q87_jpeg_progressive" -> ((s, dir) => {
      Multimodal.jpegColorStats(
        Multimodal.plantedProgressiveJpegMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // IMAGE NEAR-DUP over content features — the curation use case the
    // feature seam exists for: visually-identical pairs planted as
    // byte-distinct encodings (PNG vs baseline JPEG of the same pixels)
    // that no byte-level dedup can pair, detected by the LSH near-dup
    // operator over extractStub's content-derived embeddings at cosine
    // threshold 1.0. Exactly one pair per planted doc survives; the
    // closed form is the (2·id, 2·id+1) planting rule itself.
    "q88_image_near_dup" -> ((s, dir) => {
      val feats = Multimodal.extract(
        Multimodal.plantedDualEncodingMedia(s, docs(s, dir)))
        .toDF()
        .select(col("media_id").as("vec_id"),
          transform(col("feature"), x => x.cast("float")).as("embedding"))
      Similarity.nearDupPairs(feats, threshold = 1.0, nPlanes = 8,
        nTables = 2)
        .orderBy(col("a_id"))
    }),

    // PERCEPTUAL IMAGE HASH (dHash) over every doc: decode the planted
    // PNG, box-downsample to the 9x8 grid with exact integer sums, and
    // emit the 64-bit difference hash. The planting repeats the doc id's
    // 7-bit code across the 9 bit positions per code bit, so the oracle
    // is a mask-multiplier sum over the id's bits — every box compare in
    // the decoder must land for any doc to match.
    "q89_image_dhash" -> ((s, dir) => {
      Multimodal.dhashMedia(
        Multimodal.plantedDhashMedia(s, docs(s, dir)))
        .orderBy(col("media_id"))
    }),

    // dHash NEAR-DUP: byte-distinct image pairs whose hashes differ by
    // exactly 2 bits, paired by the generic pigeonhole hamming operator
    // (maxHamming+1 blocks, exact bit_count verify). The 7-bit
    // repetition code keeps cross-doc hamming >= 7, so the pair set is
    // exactly the planting rule.
    "q90_dhash_near_dup" -> ((s, dir) => {
      val hashed = Multimodal.dhashMedia(
        Multimodal.plantedDhashPairMedia(s, docs(s, dir)))
      Dedup.hammingDupPairs(hashed, maxHamming = 4,
        idCol = "media_id", hashCol = "dhash")
        .orderBy(col("a_id"))
    }),

    // VIDEO perceptual near-dup: MJPEG AVIs hash their first movi frame
    // (dhash64's video route), so a clip RE-ENCODED at a different quant
    // table — different bytes, different size — pairs with its original
    // through the same pigeonhole hamming pairer as still images.
    // Planted pairs differ by 2 code bits → hamming exactly 2.
    "q104_video_near_dup" -> ((s, dir) => {
      val hashed = Multimodal.dhashMedia(
        Multimodal.plantedMjpegPairMedia(s, docs(s, dir)))
      Dedup.hammingDupPairs(hashed, maxHamming = 4,
        idCol = "media_id", hashCol = "dhash")
        .orderBy(col("a_id"))
    }),

    // CONTENT-derived embedding for EVERY decodable payload class: one
    // mixed planting (color-JPEG / GIF / WAV / raw text by id mod 4)
    // routes through the feature seam — JPEG and GIF pixels through
    // pixelFeature, WAV samples through audioFeature, and the md5 stub
    // survives ONLY on the text arm. The oracle derives all 8 dims of
    // all four classes from the id formulas (every dim is bit-exact:
    // power-of-two pixel counts and an exactly-dividing sample count
    // keep the means/variances closed-form).
    "q86_content_embed" -> ((s, dir) => {
      Multimodal.extract(Multimodal.plantedContentMedia(s, docs(s, dir)))
        .toDF()
        .select((col("media_id") +:
          (0 until 8).map(d =>
            round(element_at(col("feature"), d + 1), 6).as(s"f$d"))): _*)
        .orderBy(col("media_id"))
    }),

    // REAL MJPEG-in-AVI frame decode: RIFF movi walk → per-frame
    // baseline-JPEG decode → sampled-frame-averaged pixelFeature — video
    // payloads now get CONTENT-derived embeddings like every other
    // decodable class. Planted flat frames at base + 20 + 10·f make the
    // mean, std (0), aspect (0) and bright-fraction dims closed-form.
    "q103_mjpeg_embed" -> ((s, dir) => {
      Multimodal.extract(Multimodal.plantedMjpegMedia(s, docs(s, dir)))
        .toDF()
        .select((Seq(col("media_id"), col("width"), col("height"),
          col("n_frames")) ++
          (0 until 8).map(d =>
            round(element_at(col("feature"), d + 1), 6).as(s"f$d"))): _*)
        .orderBy(col("media_id"))
    }),

    // REAL baseline-JPEG decode: marker walk → canonical Huffman →
    // differential DC across MCUs → dequant → full IDCT; planted
    // coefficients are quant multiples so the decoded grayscale is exact
    // and the oracle is closed-form.
    "q83_jpeg_stats" -> ((s, dir) => {
      Multimodal.jpegStats(Multimodal.plantedJpegMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // REAL GIF/LZW decode: the full pipeline (screen descriptor → global
    // color table → per-frame LZW stream → palette expansion) with the
    // frame count from the actual image descriptors; planted GIFs carry
    // genuine LZW-compressed data with closed-form pixel stats.
    "q82_gif_stats" -> ((s, dir) => {
      Multimodal.gifStats(Multimodal.plantedGifMedia(s, docs(s, dir)))
        .toDF()
        .orderBy(col("media_id"))
    }),

    // REAL AVI video-header probe: RIFF → LIST hdrl → avih gives the
    // true frame count and dimensions (the n_frames a frame-sampling
    // pipeline keys on); planted headers carry closed-form values.
    "q80_video_probe" -> ((s, dir) => {
      Multimodal.decode(Multimodal.plantedVideoMedia(s, docs(s, dir)))
        .toDF()
        .select(col("media_id"), col("format"), col("width"),
          col("height"), col("n_frames"))
        .orderBy(col("media_id"))
    }),

    // Rolling-hash document fingerprint (Rabin–Karp over token hashes):
    // order-sensitive, incrementally maintainable, SQL-reproducible.
    "q38_rolling_fingerprint" -> ((s, dir) => {
      import graft.plans.TextHashExprs
      docs(s, dir).select(col("doc_id"),
        TextHashExprs.rollingHash(
          TextHashExprs.md5Prefix60Array(TA.tokens(col("text"))))
          .as("rhash"))
        .orderBy(col("doc_id"))
    }),

    // KMV distinct sketch (typed Aggregator): deterministic approximate
    // distinct users per event type + the exact count for comparison.
    "q39_kmv_distinct" -> ((s, dir) => {
      import graft.operators.{Dedup, KmvSketch}
      SparkEntry.events(s, dir)
        .select(col("event_type"), col("user_id"),
          Dedup.hash60(col("user_id").cast("string")).as("h"))
        .groupBy(col("event_type"))
        .agg(
          KmvSketch.approxDistinct6(col("h"), 64).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .orderBy(col("event_type"))
    }),

    // Multiprobe ANN: probe the query bucket + all hamming-1 buckets —
    // recall recovery for sign-LSH without extra hash tables.
    "q35_knn_multiprobe" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLshMultiprobe(e, e.filter(col("vec_id") < 5), k = 5,
        nPlanes = AnnBits, nTables = AnnTables)
        .orderBy(col("query_id"), col("rn"))
    }),

    // IVF ANN: TRAINED coarse quantizer (16 cells, 2 Lloyd iterations over
    // a 256-vector sample) + inverted lists + 2-cell probing — the
    // recall-bearing scale path beside sign-LSH.
    "q44_knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnIvf(e, e.filter(col("vec_id") < 5), k = 5,
        nCentroids = 16, nProbe = 2,
        trainIters = IvfIters, trainSample = IvfSample)
        .orderBy(col("query_id"), col("rn"))
    }),

    // Semantic dedup (SemDeDup): IVF cells + within-cell cosine pruning,
    // keep the min id per redundant pair. The oracle replays the cell
    // assignment (argmax cosine, cid tiebreak) and the per-cell pair
    // filter with a NOT IN over dropped ids.
    "q70_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticSurvivors(emb(s, dir),
        threshold = SemanticDupThreshold, nCentroids = 16,
        trainIters = IvfIters, trainSample = IvfSample)
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // IVF-PQ codes (q44's coarse quantizer + residual product
    // quantization, deterministic data-point codebooks): the codes-only
    // relation a 100 TB ANN corpus stores hot — 64 floats become 8 small
    // codes + a cell id. The oracle replays every residual subtraction and
    // per-subvector argmin in SQL.
    "q62_pq_codes" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = Similarity.ivfCentroids(e, nCentroids = 16,
        trainIters = IvfIters, trainSample = IvfSample)
      val cb = Similarity.pqCodebooks(e, cents, nSub = 8, codebookSize = 16,
        seedOffset = 16)
      Similarity.pqIndex(e, cents, cb)
        .select(col("vec_id"), col("cid"),
          concat_ws(",", col("codes")).as("codes_csv"))
        .orderBy(col("vec_id"))
    }),

    // kNN graph: approximate top-3 neighbors for EVERY vector (corpus-vs-
    // corpus — no broadcastable query side). The primitive under semantic
    // clustering and connected-component dedup.
    "q59_knn_graph" -> ((s, dir) => {
      Similarity.knnGraph(emb(s, dir), k = 3,
        nPlanes = AnnBits, nTables = AnnTables, maxBucketSize = AnnBucketCap)
        .orderBy(col("vec_id"), col("rn"))
    }),

    // Incremental near-dedup: candidates touching a NEW ingest batch
    // (new-vs-corpus + new-vs-new) — the per-batch form that avoids the
    // full corpus self-join on every load. Semantics proven equal to the
    // batch recompute restricted to the batch (DedupSpec), which is
    // exactly what the oracle computes.
    "q58_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") % 10 === 0)
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      Dedup.incrementalJaccardDupPairs(batch, corpus, JaccardDupThreshold,
        maxBucketSize = DedupBucketCap)
        .select(col("a_id"), col("b_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- training-data preparation ------------------------------------
    // Deterministic hash sampling: the production method for corpus
    // sampling — NOT rand()-based sampleBy, whose output changes across
    // runs/retries. Keep ~30% per language via the same md5-60-bit hash
    // both engines compute; fully reproducible and cluster-stable.
    "q53_stratified_sample" -> ((s, dir) => {
      docs(s, dir)
        .filter(pmod(Dedup.hash60(concat(lit("smp:"),
          col("doc_id").cast("string"))), lit(10)) < 3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy(col("lang"))
    }),

    // Train/val/test split assignment: salted-hash bucketing into
    // 80/10/10 — deterministic per doc, independent of partitioning, the
    // standard reproducible split for training corpora.
    "q54_dataset_split" -> ((s, dir) => {
      val bucket = pmod(Dedup.hash60(concat(lit("split:"),
        col("doc_id").cast("string"))), lit(100))
      docs(s, dir)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split"), col("lang"))
    }),

    // Per-source deterministic top-k sampling (source-balanced corpus
    // mixing): keep the k hash-smallest docs per source. TWO-PHASE so one
    // giant source never funnels through a single task: local top-k per
    // (source, doc_id mod P) subgroup — P-way parallel and exact, since
    // the global top-k is contained in the union of subgroup top-ks —
    // then the final top-k over the <= P*k survivors per source.
    "q55_source_topk_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 100
      val p = 32
      val h = Dedup.hash60(concat(lit("mix:"), col("doc_id").cast("string")))
      val sub = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(p)))
        .orderBy(col("h"), col("doc_id"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      docs(s, dir).select(col("doc_id"), col("source"), h.as("h"))
        .withColumn("srn", row_number().over(sub)).filter(col("srn") <= k)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("source"), col("doc_id"), col("rn"))
        .orderBy(col("source"), col("rn"))
    }),

    // Token-budget sequence packing (greedy-by-order approximation): per
    // language, docs in id order accumulate token counts; bin = running
    // total div budget. The distributed form of packing documents into
    // fixed-token training sequences. (Exact first-fit packing is
    // inherently sequential; cumulative-quota binning is the scalable
    // standard.) The prefix sum is TWO-PHASE like q48's ranking: id-range
    // chunks accumulate locally and add a per-(lang, chunk) offset from
    // one tiny aggregated pass — no language ever funnels its whole
    // corpus through a single cumsum task.
    "q56_token_packing" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 512L
      // REAL token accounting (r7): counts come from the merge-table BPE
      // tokenizer, not the whitespace approximation — bins now reflect
      // what a training shard would actually cost.
      val base = docs(s, dir)
        .select(col("lang"), col("doc_id"),
          graft.functions.Bpe.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      // deterministic ordered chunking of the id domain
      val maxId = base.agg(max(col("doc_id"))).head().getLong(0)
      val span = math.max(1L, maxId / 32 + 1)
      val chunk = (col("doc_id") / span).cast("long")
      // per-(lang, chunk) totals -> cumulative offset of preceding chunks
      val totals = base.groupBy(col("lang"), chunk.as("chunk"))
        .agg(sum(col("n_tokens")).as("tok")).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val offsets: Map[String, Long] = totals.keys.map { case (lang, c) =>
        s"$lang:$c" -> (0L until c).map(j =>
          totals.getOrElse((lang, j), 0L)).sum
      }.toMap
      val w = Window.partitionBy(col("lang"), col("chunk"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("chunk", chunk)
        .withColumn("cum", sum(col("n_tokens")).over(w)
          + element_at(typedLit(offsets),
            concat(col("lang"), lit(":"), col("chunk").cast("string"))))
        // greatest(...,1): a leading empty doc (cum=0) must not produce
        // bin -1; double division + floor is identical in both engines
        .withColumn("bin",
          floor((greatest(col("cum"), lit(1L)) - 1) / lit(budget.toDouble)))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("lang"), col("bin"))
    }),

    // Deterministic SHUFFLED shard assignment: the production shard
    // writer's i.i.d. mode — docs packed greedily in md5(doc_id) order so
    // every shard is an unbiased corpus sample, yet the assignment is a
    // pure function of the ids (bit-identical across runs and cluster
    // sizes). Oracle recomputes the same hash order + running-sum packing.
    "q73_shuffled_shards" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ingest.Ingest.assignShards(base, "n_tokens", "doc_id",
        tokenBudget = 4096L, shuffled = true)
        .select(col("doc_id"), col("n_tokens"),
          col(graft.ingest.Ingest.ShardCol))
        .orderBy(col("doc_id"))
    }),

    // TRAINED hashing-trick classifier (the path q99's md5 weights stand
    // in for): labels from the corpus's lang column (en vs rest), one
    // deterministic distributed training groupBy -> (bucket, weight)
    // table in exact integer arithmetic, then scoring via the broadcast
    // weight join. The oracle replays training AND scoring.
    "q101_trained_classifier" -> ((s, dir) => {
      val d = docs(s, dir)
      val labeled = d.withColumn("label",
        (col("lang") === "en").cast("long"))
      val w = Classifier.trainWeights(labeled, nBuckets = 1024)
      Classifier.scoreWithWeights(d, w, nBuckets = 1024)
        .orderBy(col("doc_id"))
    }),

    // EXACT corpus quantiles (p50/p90/p99 token-count cutoffs) by
    // value-domain histogram narrowing — no global sort, no single-task
    // percentile buffer; verified against DuckDB's exact quantile_disc.
    "q105_exact_quantiles" -> ((s, dir) => {
      val tc = docs(s, dir).select(
        TA.tokenCount(col("text")).cast("long").as("n"))
      graft.operators.Quantile.quantileFrame(tc, "n",
        Seq(0.5, 0.9, 0.99)).orderBy(col("q"))
    }),

    // Deterministic EXACT-k stratified sampling: k docs per language in
    // md5(doc_id) order — reproducible run-to-run and engine-to-engine,
    // executed with the bounded top-k aggregate so no stratum ever
    // funnels its full row set through one task's sort (the oracle uses
    // the window form, correct at oracle scale).
    "q107_stratified_sample" -> ((s, dir) => {
      val d = docs(s, dir).select(col("lang"), col("doc_id"),
        Dedup.hash60(col("doc_id").cast("string")).as("h"))
      d.groupBy(col("lang"))
        .agg(TopK.topK(-col("h"), col("doc_id"), 20).as("top"))
        .select(col("lang"), explode(col("top")).as("e"))
        .select(col("lang"), col("e.id").as("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Exact quantiles over a DOUBLE column (event values): the
    // order-preserving IEEE bit bijection routes doubles through the
    // integer histogram narrowing and back bit-exactly — the returned
    // cutoffs are actual input elements, matching DuckDB's exact
    // quantile_disc on the same column.
    "q111_double_quantiles" -> ((s, dir) => {
      import s.implicits._
      val ev = SparkEntry.events(s, dir).select(col("value").as("x"))
      graft.operators.Quantile.quantilesDiscDouble(
        ev, "x", Seq(0.5, 0.9, 0.99))
        .toDF("q", "value").orderBy(col("q"))
    }),

    // PER-GROUP exact quantiles (per-language length cutoffs — the
    // calibration shape): one declarative plan whose window partitions
    // hold a group's DISTINCT VALUES, never its rows.
    "q106_grouped_quantiles" -> ((s, dir) => {
      val tc = docs(s, dir).select(col("lang"),
        TA.tokenCount(col("text")).cast("long").as("n"))
      graft.operators.Quantile.groupedQuantilesDisc(
        tc, "lang", "n", Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"), col("q"))
    }),

    // PER-GROUP exact quantiles over a CONTINUOUS double domain — the
    // shape where q106's distinct-value window degenerates (distinct ≈ n):
    // grouped histogram narrowing over the IEEE-754 bijection, every pass
    // a (group, cell) aggregation, result bit-exact per group.
    "q114_grouped_double_quantiles" -> ((s, dir) => {
      val ev = SparkEntry.events(s, dir)
        .select(col("event_type"), col("value"))
      graft.operators.Quantile.groupedQuantilesDiscDouble(
        ev, "event_type", "value", Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    }),

    // As-of join (time-series alignment; no native Spark join type) —
    // verified against DuckDB's native ASOF JOIN. For each purchase, the
    // most recent click at-or-before it per user.
    "q34_asof_join" -> ((s, dir) => {
      val ev = SparkEntry.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value")) // unique per (key, ts)
      graft.operators.AsofJoin.asofJoin(
        purchases, clicks, Seq("user_id"), "ts", Seq("click_value"))
        .orderBy(col("event_id"))
    }))

  // ---- oracle SQL ------------------------------------------------------

  /** Shared DuckDB CTE fragments (must mirror the Spark expressions above
    * operation-for-operation; see Dedup/TextAnalysis scaladoc).
    */
  private val toksCte =
    "toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents)"

  /** q108's fixed query batch: (query_id, ascending term list) — the
    * ascending order IS the summation contract the oracle mirrors.
    */
  private val batchQueries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join"),
    2 -> Seq("scan", "slow"),
    3 -> Seq("hash", "scan", "slow"))

  /** Generated oracle for q108: each query's BM25 replayed independently
    * (same contribution formula as [[bm25OracleSql]], summed in the
    * query's ascending term order), window-ranked per query.
    */
  private val bm25BatchOracleSql: String = {
    val allTerms = batchQueries.flatMap(_._2).distinct.sorted
    val contribCols = allTerms.map(t =>
      s"""((d - df_$t + 0.5) / (df_$t + 0.5))
          * ((CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * (1.2 + 1))
            / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
               + 1.2 * ((1 - 0.75) + 0.75 * (dl / avgdl)))) AS c_$t""")
      .mkString(",\n         ")
    val dfCols = allTerms.map(t =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$t")
      .mkString(",\n         ")
    val perQuery = batchQueries.map { case (qid, ts) =>
      val sumExpr = ts.map(t => s"c_$t").mkString(" + ")
      s"""SELECT $qid AS query_id, doc_id, $sumExpr AS s
          FROM scored WHERE $sumExpr > 0"""
    }.mkString("\n         UNION ALL ")
    s"""WITH $toksCte,
       base AS (SELECT doc_id, t AS toks,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
           AS DOUBLE) AS dl
         FROM toks JOIN documents USING (doc_id)),
       stats AS (SELECT count(*) AS d,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         $dfCols
         FROM base),
       scored AS (SELECT doc_id, $contribCols FROM base, stats),
       ranked AS ($perQuery),
       rr AS (SELECT query_id, doc_id, s,
         row_number() OVER (PARTITION BY query_id
           ORDER BY s DESC, doc_id) AS rn FROM ranked)
       SELECT query_id, CAST(rn AS INT) AS rank, doc_id,
         round(s, 6) AS score
       FROM rr WHERE rn <= 10
       ORDER BY query_id, rank"""
  }

  /** BM25 oracle, shared by q95 (full-scan scoring) and q102 (index-backed
    * retrieval): the indexed path is contractually EXACT-equal — same
    * candidates (score > 0 requires a term hit), same left-to-right
    * double sum — so both queries hash against one SQL.
    */
  private val bm25OracleSql =
    s"""WITH $toksCte,
       base AS (SELECT doc_id, t AS toks,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
           AS DOUBLE) AS dl
         FROM toks JOIN documents USING (doc_id)),
       stats AS (SELECT count(*) AS d,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
         sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_join,
         sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS df_hash,
         sum(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS df_scan,
         sum(CASE WHEN list_contains(toks, 'slow') THEN 1 ELSE 0 END) AS df_slow
         FROM base),
       scored AS (SELECT doc_id, ${Seq("join", "hash", "scan", "slow")
           .map(t => s"""((d - df_$t + 0.5) / (df_$t + 0.5))
            * ((CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) * (1.2 + 1))
              / (CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)
                 + 1.2 * ((1 - 0.75) + 0.75 * (dl / avgdl)))) AS c_$t""")
           .mkString(",\n         ")}
         FROM base, stats)
       SELECT doc_id,
         round(c_join + c_hash + c_scan + c_slow, 6) AS score
       FROM scored
       WHERE c_join + c_hash + c_scan + c_slow > 0
       ORDER BY score DESC, doc_id LIMIT 20"""

  private val shinglesCte =
    """sh AS (SELECT doc_id,
        CASE WHEN len(t) >= 3
          THEN list_distinct(list_transform(generate_series(1, len(t)-2),
                 i -> array_to_string(t[i:i+2], ' ')))
          ELSE [array_to_string(t, ' ')] END AS s
        FROM toks)"""

  private val sigCte =
    """hs AS (SELECT doc_id,
        list_transform(s, sg ->
          CAST(('0x' || substr(md5(sg), 1, 15)) AS BIGINT)) AS hl
        FROM sh),
      sig AS (SELECT doc_id,
        list_transform(generate_series(0, 15), sd ->
          list_min(list_transform(hl, h ->
            ((2*sd + 1) * (h % 2147483648) + 10007*sd) % 2147483647)))
          AS sig
        FROM hs)"""

  private val bandsCte =
    """bands AS (SELECT doc_id, sig,
        unnest(list_transform(generate_series(0, 3), b ->
          md5(array_to_string(sig[b*4+1 : b*4+4], ',') || ':' || CAST(b AS VARCHAR))))
          AS bkey
        FROM sig)"""

  private val candCte =
    """cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  /** Gopher/C4 quality-rule metrics per doc (requires `toks`). The folds
    * the Spark side computes row-locally (sorted run-length aggregates) are
    * computed relationally here via unnest + group-count — same values.
    */
  private val qualityRulesCte =
    """qlines AS (SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
           x -> length(x) > 0) AS ls
       FROM documents),
      qparas AS (SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '\n\s*\n'),
           x -> trim(x)), x -> length(x) > 0) AS ps
       FROM documents),
      qlx AS (SELECT doc_id, unnest(ls) AS l FROM qlines),
      qlc AS (SELECT doc_id, l, count(*) AS c FROM qlx GROUP BY 1, 2),
      qdlc AS (SELECT doc_id,
         coalesce(sum(CASE WHEN c >= 2 THEN c * length(l) ELSE 0 END), 0)
           AS dup_chars,
         coalesce(sum(c * length(l)), 0) AS tot_chars
       FROM qlc GROUP BY 1),
      qbg AS (SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1])) AS g
       FROM toks WHERE len(t) >= 2),
      qbgc AS (SELECT doc_id, max(c * length(g)) AS best FROM (
         SELECT doc_id, g, count(*) AS c FROM qbg GROUP BY 1, 2)
       GROUP BY 1),
      qm AS (SELECT d.doc_id,
         CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE len(t.t) END AS ntok,
         length(d.text) AS nchar,
         len(regexp_extract_all(d.text, '#|\.\.\.')) AS nsym,
         t.t AS t, ql.ls AS ls, qp.ps AS ps,
         coalesce(dl.dup_chars, 0) AS dup_chars,
         coalesce(dl.tot_chars, 0) AS tot_chars,
         coalesce(bb.best, 0) AS best
       FROM documents d
       JOIN toks t USING (doc_id)
       JOIN qlines ql USING (doc_id)
       JOIN qparas qp USING (doc_id)
       LEFT JOIN qdlc dl USING (doc_id)
       LEFT JOIN qbgc bb USING (doc_id)),
      qr AS (SELECT doc_id, ntok,
         round(CASE WHEN len(ls) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls) END, 6)
           AS dup_line_frac,
         round(CASE WHEN len(ps) = 0 THEN 0.0
           ELSE 1.0 - CAST(len(list_distinct(ps)) AS DOUBLE) / len(ps) END, 6)
           AS dup_para_frac,
         round(CASE WHEN tot_chars = 0 THEN 0.0
           ELSE CAST(dup_chars AS DOUBLE) / tot_chars END, 6)
           AS dup_line_char_frac,
         round(CASE WHEN nchar = 0 THEN 0.0
           ELSE CAST(best AS DOUBLE) / nchar END, 6) AS top_bigram_char_frac,
         round(CASE WHEN ntok = 0 THEN 0.0
           ELSE CAST(nsym AS DOUBLE) / ntok END, 6) AS symbol_word_ratio,
         round(CASE WHEN len(ls) = 0 THEN 0.0
           ELSE CAST(len(list_filter(ls, x -> left(x, 1) = '-'
             OR left(x, 1) = '*' OR left(x, 1) = '•')) AS DOUBLE)
             / len(ls) END, 6) AS bullet_line_frac,
         round(CASE WHEN len(ls) = 0 THEN 0.0
           ELSE CAST(len(list_filter(ls, x -> right(x, 3) = '...'))
             AS DOUBLE) / len(ls) END, 6) AS ellipsis_line_frac,
         round(CASE WHEN ntok = 0 THEN 0.0
           ELSE CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
             AS DOUBLE) / ntok END, 6) AS alpha_word_frac
       FROM qm)"""

  import graft.functions.{TextAnalysis => TAC}
  private val rulePassSql =
    s"""dup_line_frac <= ${TAC.DupLineFracMax}
       AND dup_para_frac <= ${TAC.DupParaFracMax}
       AND dup_line_char_frac <= ${TAC.DupLineCharFracMax}
       AND top_bigram_char_frac <= ${TAC.TopBigramCharFracMax}
       AND symbol_word_ratio <= ${TAC.SymbolWordRatioMax}
       AND bullet_line_frac <= ${TAC.BulletLineFracMax}
       AND ellipsis_line_frac <= ${TAC.EllipsisLineFracMax}
       AND alpha_word_frac >= ${TAC.AlphaWordFracMin}"""

  /** Verified-pair + connected-component CTE chain (DuckDB recursive CTE
    * reachability; component rep = min reachable id). Mirror of
    * [[graft.operators.Dedup.dupClusters]] over
    * [[graft.operators.Dedup.jaccardDupPairs]] — the CTE computes full
    * transitive closure, affordable at oracle scale only; the Spark side is
    * the O(log n) star-contraction algorithm.
    */
  private def clusterCte(threshold: Double): String =
    s"""$toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte,
       pairs AS (SELECT a_id, b_id FROM (
           SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id)
         WHERE j >= $threshold),
       e AS (SELECT a_id AS eu, b_id AS ev FROM pairs
             UNION SELECT b_id, a_id FROM pairs),
       nn AS (SELECT DISTINCT eu AS id FROM e),
       reach(id, r) AS (
         SELECT id, id FROM nn
         UNION
         SELECT reach.id, e.ev FROM reach JOIN e ON reach.r = e.eu),
       assign AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)"""

  /** fixed-order double fold dot product of two list columns (1..64). */
  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(generate_series(1, 64),
        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"""

  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  private def cosSql(q: String, c: String): String =
    s"round(${dotSql(q, c)} / (${normSql(q)} * ${normSql(c)}), 6)"

  /** One Lloyd iteration: assign the sample to its max-cosine `$prev`
    * centroid (cid tiebreak), recompute each cell's centroid as the
    * per-dimension mean folded in sample-id order (the same sequential
    * double fold Similarity.knnIvf computes); empty cells keep their
    * previous centroid.
    */
  private def lloydIterSql(prev: String, out: String): String =
    s"""a_$out AS (SELECT sid, sv, cid FROM (
          SELECT s.sid, s.sv, c.cid,
            row_number() OVER (PARTITION BY s.sid
              ORDER BY ${dotSql("s.sv", "c.ce")} /
                (${normSql("s.sv")} * ${normSql("c.ce")}) DESC, c.cid) AS rn
          FROM samp s CROSS JOIN $prev c) WHERE rn = 1),
        g_$out AS (SELECT cid, count(*) AS cnt, list(sv ORDER BY sid) AS vs
          FROM a_$out GROUP BY cid),
        m_$out AS (SELECT cid, list_transform(generate_series(1, 64), i ->
            list_reduce(list_transform(vs, e -> CAST(e[i] AS DOUBLE)),
              (x, y) -> x + y) / cnt) AS ce
          FROM g_$out),
        $out AS (SELECT p.cid, coalesce(m.ce, p.ce) AS ce
          FROM $prev p LEFT JOIN m_$out m USING (cid))"""

  /** Unrolled Lloyd chain: (CTE fragment incl. leading comma — empty for
    * 0 iterations, matching knnIvf(trainIters = 0) — and the name of the
    * final centroid relation).
    */
  private def lloydChainSql(iters: Int): (String, String) =
    if (iters == 0) ("", "seeds")
    else {
      val ctes = (1 to iters).map(i =>
        lloydIterSql(if (i == 1) "seeds" else s"c${i - 1}", s"c$i"))
      (ctes.mkString(",\n", ",\n", ""), s"c$iters")
    }

  /** Per-(row, table) sign-LSH bucket — mirror of HyperplaneBucketsExpr:
    * table `t`'s bucket is the sign-bit integer over planes
    * `t*AnnBits .. t*AnnBits+AnnBits-1`, plane coefficients from the same
    * LCG (global plane index p, dim d: ((p*64+d)*2654435761 mod 2^32)/2^31-1).
    */
  private def bucketSql(v: String, t: String): String =
    s"""list_sum(list_transform(generate_series(0, ${AnnBits - 1}), j ->
        CASE WHEN list_reduce(list_transform(generate_series(1, 64),
          i -> CAST($v[i] AS DOUBLE) *
               (CAST((($t*$AnnBits + j)*64 + (i-1)) * 2654435761 % 4294967296 AS DOUBLE) / 2147483648.0 - 1.0)),
          (x, y) -> x + y) >= 0
        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))"""

  /** (vec_id, t, bucket) for every row x table — the composite LSH key. */
  private val tableBucketsCte =
    s"""tb AS (SELECT vec_id, t, ${bucketSql("embedding", "t")} AS bucket
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${AnnTables - 1})) AS t))"""

  /** Deterministic PII planting for q67 (both sides must build the exact
    * same augmented text; modular slices overlap so some docs carry
    * several classes and doc 0 carries all five).
    */
  private def piiAugmented(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    def pad(m: Int, w: Int) = lpad((id % m).cast("string"), w, "0")
    d.withColumn("aug_text", concat(
      col("text"),
      when(id % 7 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" host 10."), (id % 200).cast("string"),
        lit(".0."), (id % 250).cast("string"))).otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" ssn 123-45-"), pad(10000, 4)))
        .otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" card 4111-1111-1111-"), pad(10000, 4)))
        .otherwise(lit("")),
      when(id % 17 === 0, concat(lit(" call +1-555-"), pad(1000, 3),
        lit("-0199"))).otherwise(lit(""))))
  }

  /** SQL mirror of [[piiAugmented]] as `(doc_id, t0)`. */
  private val piiAugCte =
    """pii0 AS (SELECT doc_id, text
       || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
            || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
       || CASE WHEN doc_id % 5 = 0 THEN ' host 10.'
            || CAST(doc_id % 200 AS VARCHAR) || '.0.'
            || CAST(doc_id % 250 AS VARCHAR) ELSE '' END
       || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       || CASE WHEN doc_id % 13 = 0 THEN ' card 4111-1111-1111-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
       || CASE WHEN doc_id % 17 = 0 THEN ' call +1-555-'
            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
            ELSE '' END AS t0
       FROM documents)"""

  /** The sequential-adjudication chain of [[graft.functions.Pii]] in SQL:
    * step i counts class i on `t(i-1)` and emits `t(i)` with it redacted,
    * exactly the fold [[graft.functions.Pii.scanColumns]] builds — so the
    * two engines claim overlapping candidates identically. Input CTE must
    * provide `(doc_id, t0)`; output CTE `pii` has the per-class counts,
    * `n_pii`, and `redacted`.
    */
  private val piiChainSql: String = {
    val cls = graft.functions.Pii.Classes
    val steps = cls.zipWithIndex.map { case ((name, pat, tok), i) =>
      val carried = cls.take(i).map(c => s"n_${c._1}, ").mkString
      s"""pii${i + 1} AS (SELECT doc_id, $carried
         len(regexp_extract_all(t$i, '$pat')) AS n_$name,
         regexp_replace(t$i, '$pat', '$tok', 'g') AS t${i + 1}
         FROM pii$i)"""
    }
    val total = cls.map(c => s"n_${c._1}").mkString(" + ")
    (steps :+
      s"""pii AS (SELECT doc_id, ${cls.map(c => s"n_${c._1}").mkString(", ")},
         $total AS n_pii, t${cls.size} AS redacted FROM pii${cls.size})""")
      .mkString(",\n")
  }

  /** DuckDB replay of the native BPE tokenizer
    * ([[graft.plans.BpeExpr]]): per pretoken, encode each symbol
    * SELF-DELIMITED as `(sym)` and fold the merge table over the string
    * IN RANK ORDER — one left-to-right non-overlapping `replace` per
    * merge (merges encoded 'a|b'; pattern `(a)(b)` -> `(ab)`). The
    * self-delimited form is load-bearing: with a shared separator
    * (` a b ` style) consecutive occurrences overlap at the shared
    * delimiter and `replace` silently skips every second merge — `(c)(a)
    * (c)(a)` has no shared characters, so one pass merges all
    * occurrences exactly like the merge loop's scan. Equivalent to the
    * Spark side's priority merge loop because [[graft.functions.Bpe
    * .DemoMerges]] is topologically consistent (see BpeExpr scaladoc;
    * BpeSpec fuzz-asserts the equivalence).
    * Emits `bpe(doc_id, toks)` with the final token stream.
    */
  private val bpeCte: String = {
    val mergeList = graft.functions.Bpe.DemoMerges
      .map { case (a, b) => s"'$a|$b'" }.mkString("[", ", ", "]")
    s"""bpe AS (SELECT doc_id,
        flatten(list_transform(
          regexp_extract_all(text, '${TA.BpeishPattern}'),
          w -> string_split(trim(list_reduce(
            [array_to_string(list_transform(
                generate_series(1, length(w)), i -> '(' || w[i] || ')'), '')]
              || $mergeList,
            (acc, m) -> replace(acc,
              '(' || replace(m, '|', ')(') || ')',
              '(' || replace(m, '|', '') || ')')), '()'), ')(')))
        AS toks FROM documents)"""
  }

  /** SQL replay of [[graft.operators.LmFilter.scoreDocs]] (self-scored):
    * token-hash arrays, rolling-hash bigram buckets, the two bucketed
    * count tables, add-one smoothing, and the rounded-then-decimal log
    * fold. Expects `toks`; emits `lmagg(doc_id, n_bigrams, log_ppl)` —
    * log_ppl deliberately UNROUNDED (the decimal sum and IEEE division
    * are bit-identical across engines; an explicit round(x, 6) is not,
    * its tie-breaking differs — one sf0.1 doc proved it).
    */
  /** The LM model+scoring CTE chain over any (doc_id, t) token relation —
    * parameterized so q77 can score RE-TOKENIZED cleaned text with the
    * byte-identical model arithmetic.
    */
  private def lmCtesFrom(toksRel: String): String = {
    val n = graft.operators.LmFilter.DefaultBuckets
    s"""th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM $toksRel),
       bb AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(th) - 1),
             i -> (th[i] * 1000003 + th[i + 1]) % 2147483647 % $n)) AS bgb,
           unnest(list_transform(generate_series(1, len(th) - 1),
             i -> th[i] % $n)) AS ctb
         FROM th WHERE len(th) >= 2),
       mb AS (SELECT bgb, count(*) AS c_bg FROM bb GROUP BY bgb),
       mc AS (SELECT ctb, count(*) AS c_ctx FROM bb GROUP BY ctb),
       sc AS (SELECT doc_id,
           round(ln(CAST(c_bg + 1 AS DOUBLE) / CAST(c_ctx + $n AS DOUBLE)),
             6) AS logp
         FROM bb JOIN mb USING (bgb) JOIN mc USING (ctb)),
       lmagg AS (SELECT doc_id, count(*) AS n_bigrams,
           -(CAST(sum(CAST(logp AS DECIMAL(18,9))) AS DOUBLE)
             / count(*)) AS log_ppl
         FROM sc GROUP BY doc_id)"""
  }

  private val lmCtes: String = lmCtesFrom("toks")

  /** Shared 4-token corpus-level segment-dedup CTE chain (q72 + q77):
    * segment rows, 60-bit hashes, and the first-wins keep/drop marks —
    * ONE copy so the two oracles cannot desynchronize on segmentation or
    * hash semantics.
    */
  private val segDedupCtes: String =
    """segs AS (SELECT doc_id,
           unnest(generate_series(0, CAST(ceil(len(t) / 4.0) AS INT) - 1))
             AS segpos, t
         FROM toks),
       hashed AS (SELECT doc_id, segpos,
           array_to_string(t[segpos*4+1 : segpos*4+4], ' ') AS seg
         FROM segs),
       marked AS (SELECT doc_id, segpos, seg,
           count(*) OVER (PARTITION BY
             CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT)) AS c,
           row_number() OVER (PARTITION BY
             CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT)
             ORDER BY doc_id, segpos) AS rn
         FROM hashed)"""

  private val stopwordSql: Map[String, String] =
    TA.Stopwords.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
    }

  private def hitsSql(l: String): String =
    s"len(list_intersect(list_distinct(t), ${stopwordSql(l)}))"

  def oracles: Map[String, String] = Map(
    "q19_text_stats" ->
      s"""WITH $toksCte
         SELECT doc_id, length(text) AS n_chars,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
           len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS n_punct
         FROM toks JOIN documents USING (doc_id) ORDER BY doc_id""",
    "q20_lang_id" ->
      s"""WITH $toksCte,
         hits AS (SELECT doc_id,
           ${hitsSql("en")} AS s_en, ${hitsSql("es")} AS s_es,
           ${hitsSql("de")} AS s_de, ${hitsSql("fr")} AS s_fr,
           ${hitsSql("zh")} AS s_zh
         FROM toks)
         SELECT doc_id, lang,
           CASE
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred
         FROM hits JOIN documents USING (doc_id) ORDER BY doc_id""",
    "q21_quality_score" ->
      s"""WITH $toksCte,
         m AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS ntok,
           ${hitsSql("en")} AS stop_hits,
           len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS npunct,
           length(text) AS nchar,
           length(regexp_replace(text, '\\s+', '', 'g')) AS nws
         FROM toks JOIN documents USING (doc_id))
         SELECT doc_id, round(
           (CAST(stop_hits AS DOUBLE) / CAST(ntok AS DOUBLE)) * 0.5
           + (CASE WHEN CAST(nws AS DOUBLE) / CAST(ntok AS DOUBLE) BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
           + (0.2 - least(CAST(npunct AS DOUBLE) / CAST(nchar AS DOUBLE) * 2.0, 0.2)),
           6) AS quality
         FROM m ORDER BY doc_id""",
    "q61_quality_rules" ->
      s"""WITH $toksCte, $qualityRulesCte
         SELECT doc_id, ntok AS n_tokens, dup_line_frac, dup_para_frac,
           dup_line_char_frac, top_bigram_char_frac, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           (dup_line_frac <= ${TAC.DupLineFracMax}
             AND dup_para_frac <= ${TAC.DupParaFracMax}
             AND dup_line_char_frac <= ${TAC.DupLineCharFracMax}
             AND top_bigram_char_frac <= ${TAC.TopBigramCharFracMax})
             AS passes_repetition,
           (symbol_word_ratio <= ${TAC.SymbolWordRatioMax}
             AND bullet_line_frac <= ${TAC.BulletLineFracMax}
             AND ellipsis_line_frac <= ${TAC.EllipsisLineFracMax}
             AND alpha_word_frac >= ${TAC.AlphaWordFracMin}) AS passes_format
         FROM qr ORDER BY doc_id""",
    "q22_exact_dedup" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fingerprint""",
    "q23_minhash_signatures" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte
         SELECT doc_id, array_to_string(sig, ',') AS sig_csv
         FROM sig ORDER BY doc_id""",
    "q24_minhash_dup_pairs" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte
         SELECT a_id, b_id,
           CAST(len(list_filter(generate_series(1, 16),
             i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 AS est_jaccard
         FROM cand JOIN sig sa ON sa.doc_id = a_id
                   JOIN sig sb ON sb.doc_id = b_id
         WHERE CAST(len(list_filter(generate_series(1, 16),
             i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 >= $MinhashDupThreshold
         ORDER BY a_id, b_id""",
    "q25_jaccard_dup_pairs" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte
         SELECT a_id, b_id, round(j, 6) AS jaccard FROM (
           SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id)
         WHERE j >= $JaccardDupThreshold ORDER BY a_id, b_id""",
    "q112_dup_rate_report" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte,
         pairs AS (SELECT a_id, b_id FROM (
           SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id)
           WHERE j >= $JaccardDupThreshold),
         inv AS (SELECT DISTINCT doc_id FROM (
           SELECT a_id AS doc_id FROM pairs
           UNION ALL SELECT b_id AS doc_id FROM pairs))
         SELECT d.lang, count(*) AS n_docs,
           count(i.doc_id) AS n_dup_docs,
           round(CAST(count(i.doc_id) AS DOUBLE) / count(*), 6)
             AS dup_rate
         FROM documents d LEFT JOIN inv i USING (doc_id)
         GROUP BY d.lang ORDER BY d.lang""",
    "q46_curated_corpus" ->
      s"""WITH $toksCte, $qualityRulesCte, $shinglesCte, $sigCte, $bandsCte, $candCte,
         pii0 AS (SELECT doc_id, text AS t0 FROM documents),
         $piiChainSql,
         pairs AS (SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id),
         hits AS (SELECT doc_id,
           ${hitsSql("en")} AS s_en, ${hitsSql("es")} AS s_es,
           ${hitsSql("de")} AS s_de, ${hitsSql("fr")} AS s_fr,
           ${hitsSql("zh")} AS s_zh
         FROM toks),
         m AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS ntok,
           ${hitsSql("en")} AS stop_hits,
           len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS npunct,
           length(text) AS nchar,
           length(regexp_replace(text, '\\s+', '', 'g')) AS nws
         FROM toks JOIN documents USING (doc_id)),
         scored AS (SELECT h.doc_id,
           CASE
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred,
           round(
             (CAST(stop_hits AS DOUBLE) / CAST(ntok AS DOUBLE)) * 0.5
             + (CASE WHEN CAST(nws AS DOUBLE) / CAST(ntok AS DOUBLE)
                 BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
             + (0.2 - least(CAST(npunct AS DOUBLE) / CAST(nchar AS DOUBLE) * 2.0, 0.2)),
             6) AS quality
         FROM hits h JOIN m USING (doc_id))
         SELECT s.doc_id, s.lang_pred, s.quality
         FROM scored s JOIN qr USING (doc_id)
         WHERE lang_pred = 'en' AND quality >= 0.3
           AND $rulePassSql
           AND doc_id NOT IN (SELECT doc_id FROM pii WHERE n_pii > 0)
           AND doc_id NOT IN (SELECT b_id FROM pairs WHERE j >= $JaccardDupThreshold)
         ORDER BY doc_id""",
    "q71_curated_lm" ->
      s"""WITH $toksCte, $qualityRulesCte, $shinglesCte, $sigCte, $bandsCte, $candCte,
         pii0 AS (SELECT doc_id, text AS t0 FROM documents),
         $piiChainSql,
         $lmCtes,
         pairs AS (SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id),
         hits AS (SELECT doc_id,
           ${hitsSql("en")} AS s_en, ${hitsSql("es")} AS s_es,
           ${hitsSql("de")} AS s_de, ${hitsSql("fr")} AS s_fr,
           ${hitsSql("zh")} AS s_zh
         FROM toks),
         m AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS ntok,
           ${hitsSql("en")} AS stop_hits,
           len(regexp_extract_all(text, '[.,;:!?''"()\\[\\]{}-]')) AS npunct,
           length(text) AS nchar,
           length(regexp_replace(text, '\\s+', '', 'g')) AS nws
         FROM toks JOIN documents USING (doc_id)),
         scored AS (SELECT h.doc_id,
           CASE
             WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_zh = greatest(s_en, s_es, s_de, s_fr, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred,
           round(
             (CAST(stop_hits AS DOUBLE) / CAST(ntok AS DOUBLE)) * 0.5
             + (CASE WHEN CAST(nws AS DOUBLE) / CAST(ntok AS DOUBLE)
                 BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END)
             + (0.2 - least(CAST(npunct AS DOUBLE) / CAST(nchar AS DOUBLE) * 2.0, 0.2)),
             6) AS quality
         FROM hits h JOIN m USING (doc_id))
         SELECT s.doc_id, s.lang_pred, s.quality
         FROM scored s JOIN qr USING (doc_id)
         WHERE lang_pred = 'en' AND quality >= 0.3
           AND $rulePassSql
           AND doc_id NOT IN (SELECT doc_id FROM pii WHERE n_pii > 0)
           AND doc_id IN (SELECT doc_id FROM lmagg
             WHERE log_ppl <= (SELECT max(log_ppl) FROM (
               SELECT log_ppl FROM lmagg ORDER BY log_ppl
               LIMIT (SELECT CAST(greatest(1, ceil($LmKeepPct * count(*)))
                 AS BIGINT) FROM lmagg))))
           AND doc_id NOT IN (SELECT b_id FROM pairs WHERE j >= $JaccardDupThreshold)
         ORDER BY doc_id""",
    "q77_cleaned_lm" ->
      s"""WITH $toksCte,
         $segDedupCtes,
         cleaned AS (SELECT doc_id,
             coalesce(string_agg(
               CASE WHEN c = 1 OR rn = 1 THEN seg END, ' '
               ORDER BY segpos), '') AS ctext,
             CAST(sum(CASE WHEN c = 1 OR rn = 1 THEN 0 ELSE 1 END)
               AS BIGINT) AS n_removed
           FROM marked GROUP BY doc_id),
         toks2 AS (SELECT doc_id,
             string_split_regex(trim(lower(ctext)), '\\s+') AS t
           FROM cleaned),
         ${lmCtesFrom("toks2")}
         SELECT c.doc_id, c.n_removed
         FROM cleaned c JOIN lmagg USING (doc_id)
         WHERE log_ppl <= (SELECT max(log_ppl) FROM (
           SELECT log_ppl FROM lmagg ORDER BY log_ppl
           LIMIT (SELECT CAST(greatest(1, ceil($LmKeepPct * count(*)))
             AS BIGINT) FROM lmagg)))
         ORDER BY c.doc_id""",
    "q76_repeated_segments" ->
      s"""WITH $toksCte,
         segs AS (SELECT doc_id,
             list_transform(
               generate_series(0, CAST(ceil(len(t) / 4.0) AS INT) - 1),
               i -> array_to_string(t[(i*4+1):(i*4+4)], ' ')) AS segs
           FROM toks),
         ki AS (SELECT doc_id, segs,
             list_filter(generate_series(1, len(segs)),
               i -> coalesce(list_position(segs[1:i-1], segs[i]), 0) = 0)
               AS ki
           FROM segs)
         SELECT doc_id,
           CAST(len(segs) AS BIGINT) AS n_segs,
           CAST(len(ki) AS BIGINT) AS n_kept,
           CAST(len(segs) - len(ki) AS BIGINT) AS n_removed,
           md5(array_to_string(list_transform(ki, i -> segs[i]), ' '))
             AS cleaned_md5
         FROM ki ORDER BY doc_id""",
    "q75_lm_lang_calibrated" ->
      s"""WITH $toksCte,
         $lmCtes,
         sl AS (SELECT l.doc_id, d.lang, l.log_ppl
           FROM lmagg l JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, lang, log_ppl,
             row_number() OVER (PARTITION BY lang ORDER BY log_ppl) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM sl),
         thr AS (SELECT lang, log_ppl AS t FROM r
           WHERE rn = greatest(1, CAST(ceil($LmKeepPct * n) AS BIGINT)))
         SELECT s.doc_id, s.lang FROM sl s JOIN thr USING (lang)
         WHERE s.log_ppl <= thr.t ORDER BY doc_id""",
    "q72_segment_dedup" ->
      s"""WITH $toksCte,
         $segDedupCtes
         SELECT doc_id, count(*) AS n_segs,
           CAST(sum(CASE WHEN c = 1 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN c = 1 OR rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           md5(coalesce(string_agg(
             CASE WHEN c = 1 OR rn = 1 THEN seg END, ' ' ORDER BY segpos),
             '')) AS cleaned_md5
         FROM marked GROUP BY doc_id ORDER BY doc_id""",
    "q45_dedup_corpus" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte,
         pairs AS (SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT b_id FROM pairs WHERE j >= $JaccardDupThreshold)
         ORDER BY doc_id""",
    "q60_dup_clusters" ->
      s"""WITH RECURSIVE ${clusterCte(JaccardDupThreshold)}
         SELECT id AS doc_id, rep AS cluster_rep FROM assign
         ORDER BY doc_id""",
    "q63_cluster_survivors" ->
      s"""WITH RECURSIVE ${clusterCte(JaccardDupThreshold)}
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM assign WHERE id <> rep)
         ORDER BY doc_id""",
    "q64_shared_spans" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM toks),
         wh AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(th) - 7),
             i -> list_reduce(th[i:i+7],
               (x, y) -> (x * 1000003 + y) % 2147483647))) AS span_hash
           FROM th WHERE len(th) >= 8)
         SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_occ
         FROM wh GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 2
         ORDER BY span_hash""",
    "q26_simhash" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS th FROM toks)
         SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), i ->
           CASE WHEN list_sum(list_transform(th, h ->
             CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash
         FROM th ORDER BY doc_id""",
    "q27_simhash_dup_pairs" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS th FROM toks),
         shh AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), i ->
           CASE WHEN list_sum(list_transform(th, h ->
             CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh FROM th),
         blk AS (SELECT doc_id, sh,
           unnest(list_transform(generate_series(0, 3), b ->
             CAST(b AS VARCHAR) || ':' || CAST((sh >> (b*15)) % 32768 AS VARCHAR))) AS bkey
           FROM shh),
         pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.sh, b.sh)) AS hamming
           FROM blk a JOIN blk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         ORDER BY a_id, b_id""",
    "q66_contamination" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM toks),
         wh0 AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(th) - 7),
             i -> list_reduce(th[i:i+7],
               (x, y) -> (x * 1000003 + y) % 2147483647))) AS span_hash
           FROM th WHERE len(th) >= 8),
         wh AS (SELECT DISTINCT doc_id, span_hash FROM wh0),
         p AS (SELECT DISTINCT span_hash FROM wh WHERE doc_id % 50 = 0),
         c AS (SELECT doc_id, span_hash FROM wh WHERE doc_id % 50 <> 0)
         SELECT doc_id, count(*) AS n_shared_spans
         FROM c JOIN p USING (span_hash)
         GROUP BY doc_id ORDER BY doc_id""",
    "q109_contamination_frac" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM toks),
         wh0 AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(th) - 7),
             i -> list_reduce(th[i:i+7],
               (x, y) -> (x * 1000003 + y) % 2147483647))) AS span_hash
           FROM th WHERE len(th) >= 8),
         wh AS (SELECT DISTINCT doc_id, span_hash FROM wh0),
         p AS (SELECT DISTINCT span_hash FROM wh WHERE doc_id % 50 = 0),
         c AS (SELECT doc_id, span_hash FROM wh WHERE doc_id % 50 <> 0),
         tot AS (SELECT doc_id, count(*) AS n_spans FROM c GROUP BY doc_id),
         sh AS (SELECT doc_id, count(*) AS n_shared
           FROM c JOIN p USING (span_hash) GROUP BY doc_id)
         SELECT doc_id, n_spans,
           COALESCE(n_shared, 0) AS n_shared,
           round(CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_spans, 6)
             AS frac
         FROM tot LEFT JOIN sh USING (doc_id)
         ORDER BY doc_id""",
    "q93_bloom_decontamination" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM toks),
         wh0 AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(th) - 7),
             i -> list_reduce(th[i:i+7],
               (x, y) -> (x * 1000003 + y) % 2147483647))) AS span_hash
           FROM th WHERE len(th) >= 8),
         wh AS (SELECT DISTINCT doc_id, span_hash FROM wh0),
         p AS (SELECT DISTINCT span_hash FROM wh WHERE doc_id % 40 = 0),
         c AS (SELECT doc_id, span_hash FROM wh WHERE doc_id % 40 <> 0)
         SELECT doc_id, count(*) AS n_shared_spans
         FROM c JOIN p USING (span_hash)
         GROUP BY doc_id ORDER BY doc_id""",
    "q92_heavy_tokens" ->
      s"""WITH $toksCte,
         tok AS (SELECT unnest(t) AS token FROM toks
           WHERE len(t) > 0),
         tok2 AS (SELECT token FROM tok WHERE token <> ''),
         tot AS (SELECT count(*) AS total FROM tok2),
         cnt AS (SELECT token, count(*) AS n FROM tok2 GROUP BY token)
         SELECT token, n FROM cnt, tot
         WHERE n >= ceil(0.02 * total)
         ORDER BY n DESC, token""",
    "q94_tfidf_terms" ->
      s"""WITH $toksCte,
         tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token <> '' GROUP BY doc_id, token),
         dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         d AS (SELECT count(*) AS nd FROM documents),
         sc AS (SELECT doc_id, token, tf, df,
           tf * ((CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5)) AS score
           FROM tf JOIN dfq USING (token), d),
         rk AS (SELECT doc_id, token, tf, df, score,
           row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, token) AS rnk FROM sc)
         SELECT doc_id, token, tf, df, round(score, 6) AS score, rnk
         FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    "q95_bm25_topk" -> bm25OracleSql,
    "q102_bm25_indexed" -> bm25OracleSql,
    "q108_batch_retrieval" -> bm25BatchOracleSql,
    "q96_context_packing" ->
      s"""WITH $toksCte,
         base AS (SELECT doc_id,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
             AS BIGINT) AS n
           FROM toks JOIN documents USING (doc_id)),
         nz AS (SELECT doc_id, n FROM base WHERE n > 0),
         off AS (SELECT doc_id, n,
           CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start FROM nz),
         ch AS (SELECT doc_id, n, start,
           unnest(generate_series(start // 512, (start + n - 1) // 512))
             AS chunk_id FROM off)
         SELECT chunk_id, doc_id,
           least((chunk_id + 1) * 512, start + n)
             - greatest(chunk_id * 512, start) AS n_tokens
         FROM ch ORDER BY chunk_id, doc_id""",
    "q113_epoch_replicate" ->
      """WITH b AS (SELECT doc_id, lang,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 1000000 AS bucket
         FROM documents),
         n AS (SELECT doc_id, lang,
           (CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 1
              WHEN 'zh' THEN 0 ELSE 1 END)
           + (CASE WHEN bucket < (CASE lang WHEN 'en' THEN 500000
                WHEN 'fr' THEN 250000 WHEN 'zh' THEN 500000
                ELSE 0 END) THEN 1 ELSE 0 END) AS n_copies
         FROM b)
         SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
         FROM (SELECT doc_id, lang,
           unnest(generate_series(0, CAST(n_copies AS INT) - 1)) AS epoch
           FROM n WHERE n_copies > 0)
         ORDER BY doc_id, epoch""",
    "q110_materialized_contexts" ->
      s"""WITH $toksCte,
         nz AS (SELECT doc_id, t FROM toks JOIN documents USING (doc_id)
           WHERE length(trim(text)) > 0),
         n AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM nz),
         off AS (SELECT doc_id, t, n,
           CAST(COALESCE(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start FROM n),
         tok AS (SELECT doc_id, start, t,
           unnest(generate_series(1, CAST(n AS INT))) AS i FROM off),
         ids AS (SELECT start + i - 1 AS pos,
           CAST(('0x' || substr(md5(t[i]), 1, 15)) AS BIGINT) AS tid
           FROM tok)
         SELECT pos // 512 AS context_id,
           count(*) AS n_tokens,
           string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_csv
         FROM ids GROUP BY context_id ORDER BY context_id""",
    "q105_exact_quantiles" ->
      s"""WITH $toksCte,
         base AS (SELECT
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
             AS BIGINT) AS n
           FROM toks JOIN documents USING (doc_id))
         SELECT q, value FROM (
           SELECT CAST(0.5 AS DOUBLE) AS q,
             quantile_disc(n, 0.5) AS value FROM base
           UNION ALL SELECT CAST(0.9 AS DOUBLE),
             quantile_disc(n, 0.9) FROM base
           UNION ALL SELECT CAST(0.99 AS DOUBLE),
             quantile_disc(n, 0.99) FROM base) u
         ORDER BY q""",
    "q107_stratified_sample" ->
      """WITH h AS (SELECT lang, doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS hv
         FROM documents),
         r AS (SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
         FROM h)
         SELECT lang, doc_id FROM r WHERE rn <= 20
         ORDER BY lang, doc_id""",
    "q111_double_quantiles" ->
      """SELECT q, value FROM (
           SELECT CAST(0.5 AS DOUBLE) AS q,
             quantile_disc(value, 0.5) AS value FROM events
           UNION ALL SELECT CAST(0.9 AS DOUBLE),
             quantile_disc(value, 0.9) FROM events
           UNION ALL SELECT CAST(0.99 AS DOUBLE),
             quantile_disc(value, 0.99) FROM events) u
         ORDER BY q""",
    "q106_grouped_quantiles" ->
      s"""WITH $toksCte,
         base AS (SELECT lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
             AS BIGINT) AS n
           FROM toks JOIN documents USING (doc_id))
         SELECT lang, q, value FROM (
           SELECT lang, CAST(0.5 AS DOUBLE) AS q,
             quantile_disc(n, 0.5) AS value FROM base GROUP BY lang
           UNION ALL SELECT lang, CAST(0.9 AS DOUBLE),
             quantile_disc(n, 0.9) FROM base GROUP BY lang
           UNION ALL SELECT lang, CAST(0.99 AS DOUBLE),
             quantile_disc(n, 0.99) FROM base GROUP BY lang) u
         ORDER BY lang, q""",
    "q114_grouped_double_quantiles" ->
      """SELECT event_type, q, value FROM (
           SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
             quantile_disc(value, 0.5) AS value FROM events
             GROUP BY event_type
           UNION ALL SELECT event_type, CAST(0.9 AS DOUBLE),
             quantile_disc(value, 0.9) FROM events GROUP BY event_type
           UNION ALL SELECT event_type, CAST(0.99 AS DOUBLE),
             quantile_disc(value, 0.99) FROM events GROUP BY event_type) u
         ORDER BY event_type, q""",
    "q97_mixture_sample" ->
      s"""SELECT doc_id, lang, source FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 1000000 < ($mixtureThresholdSql)
         ORDER BY doc_id""",
    "q116_length_gate" ->
      s"""WITH $toksCte,
         base AS (SELECT doc_id, lang,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
             AS BIGINT) AS n
           FROM toks JOIN documents USING (doc_id)),
         cuts AS (SELECT lang, quantile_disc(n, 0.9) AS cut
           FROM base GROUP BY lang)
         SELECT b.doc_id, b.lang, b.n FROM base b JOIN cuts USING (lang)
         WHERE b.n <= cut ORDER BY b.doc_id""",
    "q115_temperature_sample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents
           GROUP BY source),
         m AS (SELECT min(n) AS nmin FROM c),
         thr AS (SELECT source,
           CAST(round(1000000 * (sqrt(nmin) / sqrt(n))) AS BIGINT) AS t
           FROM c, m)
         SELECT d.doc_id, d.source, d.lang
         FROM documents d JOIN thr USING (source)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 1000000 < t
         ORDER BY d.doc_id""",
    "q117_mixture_recipe" ->
      s"""WITH $toksCte,
         c AS (SELECT source, count(*) AS n FROM documents
           GROUP BY source),
         m AS (SELECT min(n) AS nmin FROM c),
         thr AS (SELECT source,
           CAST(round(1000000 * (sqrt(nmin) / sqrt(n))) AS BIGINT) AS t
           FROM c, m),
         samp AS (SELECT d.doc_id, d.lang, d.text
           FROM documents d JOIN thr USING (source)
           WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)),
               1, 15)) AS BIGINT) % 1000000 < t),
         rep0 AS (SELECT doc_id, text,
           (CASE lang WHEN 'en' THEN 2 WHEN 'fr' THEN 1
              WHEN 'zh' THEN 0 ELSE 1 END)
           + (CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 1000000
                < (CASE lang WHEN 'en' THEN 500000 WHEN 'fr' THEN 250000
                   WHEN 'zh' THEN 500000 ELSE 0 END) THEN 1 ELSE 0 END)
             AS n_copies FROM samp),
         rep AS (SELECT doc_id,
             doc_id * 128 + unnest(generate_series(0,
               CAST(n_copies AS INT) - 1)) AS cid
           FROM rep0
           WHERE n_copies > 0 AND length(trim(text)) > 0),
         nz AS (SELECT r.cid, t.t, CAST(len(t.t) AS BIGINT) AS n
           FROM rep r JOIN toks t USING (doc_id)),
         off AS (SELECT cid, t, n,
           CAST(COALESCE(sum(n) OVER (ORDER BY cid
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start FROM nz),
         tok AS (SELECT start, t,
           unnest(generate_series(1, CAST(n AS INT))) AS i FROM off),
         ids AS (SELECT start + i - 1 AS pos,
           CAST(('0x' || substr(md5(t[i]), 1, 15)) AS BIGINT) AS tid
           FROM tok),
         ctx AS (SELECT pos // 256 AS context_id, count(*) AS n_tokens,
           string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_csv
           FROM ids GROUP BY context_id),
         sh AS (SELECT context_id, n_tokens, ids_csv,
           sum(n_tokens) OVER (ORDER BY context_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM ctx)
         SELECT context_id, CAST(n_tokens AS BIGINT) AS n_tokens, ids_csv,
           CAST(floor((greatest(cum, 1) - 1) / 2048.0) AS BIGINT) AS shard
         FROM sh ORDER BY context_id""",
    "q118_skipping_read" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM events, b
         WHERE event_id >= 3 * nid // 8 AND event_id < 4 * nid // 8
         GROUP BY event_type ORDER BY event_type""",
    "q120_zorder_read" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         v AS (SELECT min(value) AS vlo, max(value) AS vhi FROM events),
         a AS (SELECT event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             min(value) AS min_value, max(value) AS max_value,
             'id_slab' AS src
           FROM events, b
           WHERE event_id >= 3 * nid // 8 AND event_id < 4 * nid // 8
           GROUP BY event_type),
         c AS (SELECT event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             min(value) AS min_value, max(value) AS max_value,
             'value_slab' AS src
           FROM events, v
           WHERE value >= vlo + 3.0 * (vhi - vlo) / 8.0
             AND value <= vlo + 4.0 * (vhi - vlo) / 8.0
           GROUP BY event_type)
         SELECT * FROM a UNION ALL SELECT * FROM c
         ORDER BY src, event_type""",
    "q133_count_pushdown" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT
           (SELECT count(*) FROM events, b
             WHERE event_id >= nid // 8
               AND event_id <= 5 * nid // 8 - 1) AS n_slab,
           (SELECT count(value) FROM events) AS n_notnull,
           (SELECT count(value) FROM events, b
             WHERE event_id >= 0 AND event_id <= nid // 2 - 1) AS n_and""",
    "q131_cdc_read" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM events, b
         WHERE event_id >= nid // 3
         GROUP BY event_type ORDER BY event_type""",
    "q132_time_travel" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM events, b
         WHERE event_id < 2 * nid // 3
         GROUP BY event_type ORDER BY event_type""",
    "q129_metadata_agg" ->
      """SELECT count(*) AS n,
           CAST(min(event_id) AS BIGINT) AS min_id,
           CAST(max(event_id) AS BIGINT) AS max_id,
           min(value) AS min_value, max(value) AS max_value,
           CAST(count(*) - count(value) AS BIGINT) AS null_value
         FROM events""",
    "q128_pii_redact" ->
      s"""WITH $piiAugCte,
         $piiChainSql
         SELECT doc_id, md5(redacted) AS text_md5
         FROM pii ORDER BY doc_id""",
    "q127_lakehouse_capstone" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         upd AS (SELECT event_id, event_type,
             CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END
               AS value
           FROM events),
         ins AS (SELECT event_id + nid AS event_id, event_type,
             -value AS value
           FROM events, b WHERE event_id % 97 = 0),
         t AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         kept AS (SELECT t.* FROM t, b
           WHERE NOT (event_id >= 3 * nid // 8
                  AND event_id < 4 * nid // 8))
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM kept, b
         WHERE event_id >= 0 AND event_id <= 6 * nid // 8 - 1
           AND value IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "q126_partition_drop" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM events
         WHERE CAST(ts AS DATE) NOT IN
           (DATE '2024-01-03', DATE '2024-01-07')
         GROUP BY event_type ORDER BY event_type""",
    "q125_weighted_sample" ->
      """WITH w AS (SELECT doc_id,
             CAST(length(text) + 1 AS DOUBLE) AS w FROM documents),
         keyed AS (SELECT doc_id,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                 1, 15)) AS BIGINT) % 1000000 + 0.5) / 1000000.0) / w
               AS key
           FROM w WHERE w > 0),
         rk AS (SELECT doc_id,
             row_number() OVER (ORDER BY key DESC, doc_id) AS rank
           FROM keyed)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id
         FROM rk WHERE rank <= 200 ORDER BY rank""",
    "q124_merge_upsert" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         upd AS (SELECT event_id, event_type,
             CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END
               AS value
           FROM events),
         ins AS (SELECT event_id + nid AS event_id, event_type,
             -value AS value
           FROM events, b WHERE event_id % 97 = 0),
         t AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q139_domain_curation" ->
      """WITH d AS (SELECT doc_id, n_chars,
             'site' || CAST(doc_id % 37 AS VARCHAR) || '.' ||
             (CASE doc_id % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
               WHEN 2 THEN 'co.uk' WHEN 3 THEN 'net'
               ELSE 'com.au' END) AS domain
           FROM documents),
         g AS (SELECT * FROM d
           WHERE domain NOT IN (
             'site0.com','site0.org','site0.co.uk','site0.net',
             'site0.com.au','site17.com','site17.org','site17.co.uk',
             'site17.net','site17.com.au')),
         r AS (SELECT domain, doc_id, row_number() OVER (
             PARTITION BY domain ORDER BY n_chars DESC, doc_id)
             AS rank
           FROM g)
         SELECT domain, rank, doc_id FROM r WHERE rank <= 2
         ORDER BY domain, rank""",
    "q138_mor_cdc" ->
      """WITH t AS (SELECT event_id, event_type,
             CASE WHEN event_id % 14 = 0 THEN -5.0
                  WHEN event_id % 10 = 0 THEN value * 2
                  ELSE value END AS value
           FROM events
           WHERE event_id % 28 <> 0
             AND NOT (event_id % 7 = 0 AND event_id % 14 <> 0))
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q144_incremental_agg" ->
      """WITH t AS (SELECT event_id, event_type,
             CASE WHEN event_id % 14 = 0 THEN -5.0
                  WHEN event_id % 10 = 0 THEN value * 2
                  ELSE value END AS value
           FROM events
           WHERE event_id % 28 <> 0
             AND NOT (event_id % 7 = 0 AND event_id % 14 <> 0))
         SELECT event_type, count(*) AS n,
           round(coalesce(sum(value), 0), 4) AS sum_val
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q143_cow_change_feed" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         c AS (
           SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
             count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
             sum(value) AS sum_val
           FROM events, b
           WHERE event_id >= nid // 8 AND event_id < 2 * nid // 8
           UNION ALL
           SELECT 2, 'delete', count(*),
             CAST(sum(event_id) AS BIGINT), sum(value)
           FROM events, b
           WHERE event_id >= 6 * nid // 8 AND event_id < 7 * nid // 8
           UNION ALL
           SELECT 2, 'insert', count(*),
             CAST(sum(event_id) AS BIGINT), sum(-value)
           FROM events, b
           WHERE event_id >= 6 * nid // 8 AND event_id < 7 * nid // 8)
         SELECT * FROM c ORDER BY version, change_type""",
    "q142_change_feed" ->
      """WITH e AS (SELECT event_id, value FROM events),
         c AS (
           SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
             count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
             sum(value) AS sum_val
           FROM e WHERE event_id % 7 = 0
           UNION ALL
           SELECT 2, 'insert', count(*),
             CAST(sum(event_id) AS BIGINT), sum(-5.0)
           FROM e WHERE event_id % 14 = 0
           UNION ALL
           SELECT 3, 'delete', count(*),
             CAST(sum(event_id) AS BIGINT),
             sum(CASE WHEN event_id % 28 = 0 THEN -5.0 ELSE value END)
           FROM e WHERE event_id % 28 = 0
              OR (event_id % 10 = 0 AND event_id % 7 <> 0)
           UNION ALL
           SELECT 3, 'insert', count(*),
             CAST(sum(event_id) AS BIGINT), sum(value * 2)
           FROM e WHERE event_id % 10 = 0 AND event_id % 7 <> 0)
         SELECT * FROM c ORDER BY version, change_type""",
    "q141_bloom_lookup" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN (3, 17, 29, 41, 53) ORDER BY doc_id""",
    "q150_stream_pipe" ->
      """SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q151_schema_evolution" ->
      """WITH base AS (SELECT event_id, event_type, value FROM events),
         b AS (SELECT max(event_id) + 1 AS nid FROM events),
         ins AS (SELECT event_id + nid AS event_id, event_type, value,
             event_id % 7 AS flag
           FROM base, b),
         allr AS (
           SELECT event_id, event_type, value, NULL AS flag FROM base
           UNION ALL SELECT * FROM ins)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val,
           CAST(sum(flag) AS BIGINT) AS sum_flag
         FROM allr GROUP BY event_type ORDER BY event_type""",
    "q152_partitioned_cdc" ->
      """WITH base AS (SELECT event_id, event_type, value, ts FROM events),
         u1 AS (SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN -value ELSE value END
               AS value, ts
           FROM base),
         src AS (
           SELECT event_id, event_type, value * 3 AS value, ts, 'u' AS op
           FROM base WHERE event_id % 11 = 0
           UNION ALL
           SELECT event_id, event_type, value, ts, 'd'
           FROM base WHERE event_id % 13 = 0 AND event_id % 11 <> 0),
         merged AS (
           SELECT t.event_id, t.event_type, t.value, t.ts FROM u1 t
           WHERE NOT EXISTS (
             SELECT 1 FROM src s WHERE s.event_id = t.event_id)
           UNION ALL
           SELECT event_id, event_type, value, ts FROM src WHERE op = 'u')
         SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val
         FROM merged GROUP BY 1, 2 ORDER BY 1, 2""",
    "q153_ctas_overwrite" ->
      """WITH pre AS (
           SELECT event_id, event_type, value FROM events
           WHERE event_id % 2 = 0
           UNION ALL
           SELECT event_id, event_type, value FROM events
           WHERE event_id % 2 = 1 AND event_id % 5 = 0),
         a AS (
           SELECT 'pre' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM pre GROUP BY event_type),
         f AS (
           SELECT 'final' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value * 2), 4) AS sum_val
           FROM events WHERE event_id % 3 = 0 GROUP BY event_type)
         SELECT * FROM a UNION ALL SELECT * FROM f
         ORDER BY phase, event_type""",
    "q154_utf8_skipping" ->
      """WITH keyed AS (
           SELECT doc_id, lang,
             lang || CASE WHEN doc_id % 3 = 0 THEN '😀'
                          WHEN doc_id % 3 = 1 THEN ''
                          ELSE 'm' END
                  || '-' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS k
           FROM documents)
         SELECT doc_id, lang, k,
           (SELECT count(*) FROM keyed WHERE k >= 'en') AS n_tail
         FROM keyed WHERE doc_id < 30 ORDER BY doc_id""",
    "q155_partition_overwrite" ->
      """WITH e AS (
           SELECT event_id, event_type, value,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day
           FROM events),
         ds AS (SELECT DISTINCT day FROM e ORDER BY day LIMIT 2),
         d0 AS (SELECT min(day) AS d FROM ds),
         d1 AS (SELECT max(day) AS d FROM ds),
         pre AS (
           SELECT 'pre' AS phase, day, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM e WHERE day IN (SELECT d FROM d0) OR
                         day IN (SELECT d FROM d1)
           GROUP BY day),
         fin0 AS (
           SELECT 'final' AS phase, day, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value * 2), 4) AS sum_val
           FROM e WHERE day IN (SELECT d FROM d0) AND event_id % 2 = 0
           GROUP BY day),
         fin1 AS (
           SELECT 'final' AS phase, day, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM e WHERE day IN (SELECT d FROM d1) AND event_id % 5 = 0
           GROUP BY day)
         SELECT * FROM pre UNION ALL SELECT * FROM fin0
         UNION ALL SELECT * FROM fin1
         ORDER BY phase, day""",
    "q156_subquery_delete" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, value FROM events),
         deny AS (
           SELECT DISTINCT user_id FROM e
           WHERE event_type = 'purchase' AND user_id % 17 = 0),
         del AS (
           SELECT * FROM e
           WHERE EXISTS (SELECT 1 FROM deny d
                         WHERE d.user_id = e.user_id)),
         kept AS (
           SELECT * FROM e
           WHERE NOT EXISTS (SELECT 1 FROM deny d
                             WHERE d.user_id = e.user_id)),
         c AS (
           SELECT 'deleted' AS phase, 'all' AS event_type,
             count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM del),
         f AS (
           SELECT 'final' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM kept GROUP BY event_type)
         SELECT * FROM c UNION ALL SELECT * FROM f
         ORDER BY phase, event_type""",
    "q157_merge_full_sync" ->
      """WITH e AS (
           SELECT event_id, event_type, value FROM events),
         m AS (SELECT max(event_id) + 1 AS m FROM e),
         srcA AS (
           SELECT event_id, event_type, value * 2 AS value
           FROM e WHERE event_id % 2 = 0),
         srcB AS (
           SELECT event_id + (SELECT m FROM m) AS event_id,
             event_type, value + 1 AS value
           FROM e WHERE event_id % 97 = 0),
         src AS (SELECT * FROM srcA UNION ALL SELECT * FROM srcB),
         cnt AS (
           SELECT 'count_updated' AS phase, 'all' AS event_type,
             (SELECT count(*) FROM srcA) AS n,
             CAST(0 AS BIGINT) AS sum_id,
             CAST(0.0 AS DOUBLE) AS sum_val
           UNION ALL
           SELECT 'count_inserted', 'all',
             (SELECT count(*) FROM srcB), CAST(0 AS BIGINT),
             CAST(0.0 AS DOUBLE)
           UNION ALL
           SELECT 'count_deleted', 'all',
             (SELECT count(*) FROM e WHERE event_id % 2 = 1),
             CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
         f AS (
           SELECT 'final' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM src GROUP BY event_type)
         SELECT * FROM cnt UNION ALL SELECT * FROM f
         ORDER BY phase, event_type""",
    "q158_hourly_partitions" ->
      """WITH e AS (
           SELECT event_id, value, CAST(ts AS DATE) AS day,
             CAST(hour(ts) AS INT) AS p_hour
           FROM events),
         d0 AS (SELECT min(day) AS d FROM e),
         base AS (SELECT * FROM e WHERE day = (SELECT d FROM d0)),
         fin AS (
           SELECT p_hour, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM base WHERE p_hour <> 3 GROUP BY p_hour
           UNION ALL
           SELECT p_hour, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value * 3), 4) AS sum_val
           FROM base WHERE p_hour = 3 AND event_id % 2 = 0
           GROUP BY p_hour)
         SELECT * FROM fin ORDER BY p_hour""",
    "q159_correlated_dml" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, value FROM events),
         deny AS (
           SELECT user_id,
             CASE WHEN user_id % 34 = 0 THEN 'erase' ELSE 'keep' END
               AS action
           FROM (SELECT DISTINCT user_id FROM e WHERE user_id % 17 = 0)),
         erased AS (
           SELECT * FROM e
           WHERE EXISTS (SELECT 1 FROM deny d
                         WHERE d.user_id = e.user_id
                           AND d.action = 'erase')),
         kept AS (
           SELECT event_id, user_id, event_type,
             CASE WHEN EXISTS (SELECT 1 FROM deny d
                               WHERE d.user_id = e.user_id
                                 AND d.action = 'keep')
                  THEN 0.0 ELSE value END AS value,
             CASE WHEN EXISTS (SELECT 1 FROM deny d
                               WHERE d.user_id = e.user_id
                                 AND d.action = 'keep')
                  THEN 1 ELSE 0 END AS updated
           FROM e
           WHERE NOT EXISTS (SELECT 1 FROM deny d
                             WHERE d.user_id = e.user_id
                               AND d.action = 'erase')),
         c AS (
           SELECT 'dml_counts' AS phase, 'all' AS event_type,
             (SELECT count(*) FROM erased) AS n,
             (SELECT CAST(sum(updated) AS BIGINT) FROM kept) AS sum_id,
             CAST(0.0 AS DOUBLE) AS sum_val),
         f AS (
           SELECT 'final' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM kept GROUP BY event_type)
         SELECT * FROM c UNION ALL SELECT * FROM f
         ORDER BY phase, event_type""",
    "q162_column_mapping" ->
      """WITH base AS (
           SELECT doc_id, lang, source, n_chars FROM documents),
         ins AS (
           SELECT * FROM base
           UNION ALL
           SELECT doc_id + 1000000, lang, source, n_chars + 7
           FROM base WHERE doc_id % 37 = 0),
         kept AS (SELECT * FROM ins WHERE n_chars >= 120),
         red AS (
           SELECT doc_id, lang,
             CASE WHEN doc_id % 13 = 0 THEN 'redacted' ELSE source END
               AS origin,
             n_chars
           FROM kept)
         SELECT lang, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT origin) AS n_origins
         FROM red GROUP BY lang ORDER BY lang""",
    "q161_generic_partitions" ->
      """WITH base AS (
           SELECT doc_id, lang, source, n_chars
           FROM documents WHERE lang <> 'zh'),
         curated AS (
           SELECT * FROM base
           WHERE lang <> 'en' OR n_chars >= 500),
         redacted AS (
           SELECT doc_id, lang,
             CASE WHEN doc_id % 13 = 0 THEN 'redacted' ELSE source END
               AS source,
             n_chars
           FROM curated)
         SELECT lang, count(*) AS n,
           CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT source) AS n_sources
         FROM redacted GROUP BY lang ORDER BY lang""",
    "q160_type_widening" ->
      """WITH base AS (
           SELECT CAST(event_id AS INTEGER) AS id,
             CAST(CAST(value AS REAL) AS DOUBLE) AS val,
             event_type
           FROM events),
         widened AS (
           SELECT CAST(id AS BIGINT) AS id, val, event_type FROM base
           UNION ALL
           SELECT CAST(id AS BIGINT) + (CAST(1 AS BIGINT) << 40),
             val * 2, event_type
           FROM base WHERE id % 50 = 0),
         kept AS (
           SELECT * FROM widened
           WHERE NOT (id % 97 = 0 AND id < (CAST(1 AS BIGINT) << 40)))
         SELECT event_type, count(*) AS n,
           CAST(sum(id) AS BIGINT) AS sum_id,
           round(sum(val), 2) AS sum_val
         FROM kept GROUP BY event_type ORDER BY event_type""",
    "q149_sql_dml" ->
      """WITH base AS (SELECT event_id, event_type, value FROM events),
         d1 AS (SELECT * FROM base WHERE event_id % 9 <> 0),
         u1 AS (SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN -value ELSE value END
               AS value
           FROM d1),
         src AS (
           SELECT event_id, event_type, value * 3 AS value, 'u' AS op
           FROM base WHERE event_id % 11 = 0
           UNION ALL
           SELECT event_id, event_type, value, 'd'
           FROM base WHERE event_id % 13 = 0 AND event_id % 11 <> 0),
         merged AS (
           SELECT t.event_id, t.event_type, t.value FROM u1 t
           WHERE NOT EXISTS (
             SELECT 1 FROM src s WHERE s.event_id = t.event_id)
           UNION ALL
           SELECT event_id, event_type, value FROM src WHERE op = 'u')
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val
         FROM merged GROUP BY event_type ORDER BY event_type""",
    "q145_sql_table" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val
         FROM events, b
         WHERE event_id < 4 * nid // 8 AND event_id % 9 <> 0
         GROUP BY event_type ORDER BY event_type""",
    "q146_checkpoint" ->
      """WITH a AS (
           SELECT 'asof_v5' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM events WHERE event_id % 12 <= 5 GROUP BY event_type),
         f AS (
           SELECT 'final' AS phase, event_type, count(*) AS n,
             CAST(sum(event_id) AS BIGINT) AS sum_id,
             round(sum(value), 4) AS sum_val
           FROM events
           WHERE event_id % 9 <> 0 AND event_id % 11 <> 0
           GROUP BY event_type)
         SELECT * FROM a UNION ALL SELECT * FROM f
         ORDER BY phase, event_type""",
    "q147_purge" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(sum(value), 4) AS sum_val
         FROM events, b
         WHERE NOT (event_id % 2 = 0 AND event_id < nid // 2)
           AND NOT (event_id % 101 = 0 AND event_id >= nid // 2)
         GROUP BY event_type ORDER BY event_type""",
    "q148_stream_source" ->
      """WITH c AS (
           SELECT CAST(0 AS BIGINT) AS version, 'insert' AS change_type,
             count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
           FROM events WHERE event_id % 3 = 0
           UNION ALL
           SELECT 1, 'insert', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE event_id % 3 = 1
           UNION ALL
           SELECT 2, 'insert', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE event_id % 3 = 2
           UNION ALL
           SELECT 3, 'delete', count(*), CAST(sum(event_id) AS BIGINT)
           FROM events WHERE event_id % 5 = 0)
         SELECT * FROM c ORDER BY version, change_type""",
    "q140_mor_update" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         t AS (SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN -value ELSE value END
               AS value
           FROM events, b
           WHERE NOT (event_id >= 3 * nid // 8
                  AND event_id < 4 * nid // 8))
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q137_restore" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM events, b
         WHERE event_id NOT BETWEEN nid // 3 AND nid // 3 + nid // 10
         GROUP BY event_type ORDER BY event_type""",
    "q135_cdc_sequence" ->
      """WITH t AS (SELECT event_id, event_type,
             CASE WHEN event_id % 14 = 0 THEN -5.0
                  WHEN event_id % 10 = 0 THEN value * 2
                  ELSE value END AS value
           FROM events
           WHERE event_id % 28 <> 0
             AND NOT (event_id % 7 = 0 AND event_id % 14 <> 0))
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q134_cdc_merge" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         kept AS (SELECT event_id, event_type,
             CASE WHEN event_id % 10 = 0 THEN value * 2 ELSE value END
               AS value
           FROM events WHERE event_id % 13 <> 0),
         ins AS (SELECT event_id + nid AS event_id, event_type,
             -value AS value
           FROM events, b WHERE event_id % 97 = 0),
         t AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q123_cow_maintenance" ->
      """WITH b AS (SELECT max(event_id) + 1 AS nid FROM events),
         t AS (SELECT event_id, event_type,
             CASE WHEN event_id >= 6 * nid // 8
                   AND event_id < 7 * nid // 8
               THEN -value ELSE value END AS value
           FROM events, b
           WHERE NOT (event_id >= 3 * nid // 8
                  AND event_id < 4 * nid // 8))
         SELECT event_type, count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id,
           min(value) AS min_value, max(value) AS max_value
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q130_personalized_pagerank" -> {
      def iter(k: Int): String = {
        val prev = s"r${k - 1}"
        s"""d$k AS (SELECT COALESCE(sum(rank), 0.0) AS dang FROM $prev
           WHERE node NOT IN (SELECT src FROM e)),
         c$k AS (SELECT e.dst AS node, sum(r.rank / deg.deg) AS inflow
           FROM e JOIN $prev r ON e.src = r.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r$k AS (SELECT nd.node,
             CASE WHEN s.node IS NOT NULL
               THEN ((1.0 - 0.85) + 0.85 * d$k.dang) / ns.m
               ELSE 0.0 END
             + 0.85 * COALESCE(c.inflow, 0.0) AS rank
           FROM nodes nd CROSS JOIN ns CROSS JOIN d$k
           LEFT JOIN c$k c ON nd.node = c.node
           LEFT JOIN sd s ON nd.node = s.node)"""
      }
      s"""WITH e AS (SELECT DISTINCT user_id % 400 AS src,
             (event_id * 31) % 400 AS dst FROM events
           WHERE user_id % 400 <> (event_id * 31) % 400),
         nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
           UNION ALL SELECT dst AS node FROM e)),
         sd AS (SELECT node FROM nodes WHERE node % 20 = 0),
         ns AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM sd),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
           FROM e GROUP BY src),
         r0 AS (SELECT nd.node,
             CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.m
               ELSE 0.0 END AS rank
           FROM nodes nd CROSS JOIN ns
           LEFT JOIN sd s ON nd.node = s.node),
         ${(1 to 5).map(iter).mkString(",\n         ")}
         SELECT node, rank FROM r5 ORDER BY node"""
    },
    "q122_pagerank" -> {
      def iter(k: Int): String = {
        val prev = s"r${k - 1}"
        s"""d$k AS (SELECT COALESCE(sum(rank), 0.0) AS dang FROM $prev
           WHERE node NOT IN (SELECT src FROM e)),
         c$k AS (SELECT e.dst AS node, sum(r.rank / deg.deg) AS inflow
           FROM e JOIN $prev r ON e.src = r.node
           JOIN deg ON e.src = deg.src GROUP BY e.dst),
         r$k AS (SELECT nd.node, (1.0 - 0.85) / nn.n
             + 0.85 * (COALESCE(c.inflow, 0.0) + d$k.dang / nn.n) AS rank
           FROM nodes nd CROSS JOIN nn CROSS JOIN d$k
           LEFT JOIN c$k c ON nd.node = c.node)"""
      }
      s"""WITH e AS (SELECT DISTINCT user_id % 400 AS src,
             (event_id * 31) % 400 AS dst FROM events
           WHERE user_id % 400 <> (event_id * 31) % 400),
         nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM e
           UNION ALL SELECT dst AS node FROM e)),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg
           FROM e GROUP BY src),
         r0 AS (SELECT node, 1.0 / nn.n AS rank
           FROM nodes CROSS JOIN nn),
         ${(1 to 5).map(iter).mkString(",\n         ")}
         SELECT node, rank FROM r5 ORDER BY node"""
    },
    "q121_interval_overlap" ->
      """WITH l AS (SELECT event_id AS lid, event_id AS ls,
             event_id + event_id % 50 AS le FROM events),
         r AS (SELECT event_id AS rid, event_id - 20 AS rs,
             event_id + 20 AS re, event_type AS rtype
           FROM events WHERE event_id % 7 = 0)
         SELECT rtype, count(*) AS n_pairs,
           CAST(sum(lid) AS BIGINT) AS sum_lid,
           CAST(sum(rid) AS BIGINT) AS sum_rid
         FROM l JOIN r ON ls <= re AND rs <= le
         GROUP BY rtype ORDER BY rtype""",
    "q119_ivf_occupancy" ->
      s"""WITH seeds AS (SELECT CAST(vec_id AS INT) AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
           FROM embeddings WHERE vec_id < 16),
         samp AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
           WHERE vec_id < $IvfSample)${lloydChainSql(IvfIters)._1},
         cells AS (SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${dotSql("e.embedding", "c.ce")} /
                   (${normSql("e.embedding")} * ${normSql("c.ce")}) DESC,
                 c.cid) AS rn
             FROM embeddings e CROSS JOIN ${lloydChainSql(IvfIters)._2} c)
           WHERE rn = 1)
         SELECT cid, count(*) AS n FROM cells
         GROUP BY cid ORDER BY cid""",
    "q98_inverted_index" ->
      s"""WITH $toksCte,
         pairs0 AS (SELECT doc_id, unnest(t) AS token FROM toks),
         p2 AS (SELECT DISTINCT doc_id, token FROM pairs0
           WHERE token <> ''),
         dfq AS (SELECT token, count(*) AS df FROM p2 GROUP BY token),
         rk AS (SELECT token, doc_id,
           row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
           FROM p2),
         pl AS (SELECT token,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS postings
           FROM rk WHERE rn <= 20 GROUP BY token)
         SELECT token, df, postings FROM dfq JOIN pl USING (token)
         WHERE df >= 5 ORDER BY token""",
    "q99_hash_classifier" ->
      s"""WITH $toksCte,
         sc AS (SELECT doc_id, CAST(COALESCE(list_sum(list_transform(
             list_filter(t, x -> x <> ''),
             x -> CAST(('0x' || substr(md5('w:' || CAST(
                    CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % 4096
                    AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000)), 0)
           AS BIGINT) AS score
           FROM toks)
         SELECT doc_id, score, CAST(score >= 0 AS INT) AS kept
         FROM sc ORDER BY doc_id""",
    "q101_trained_classifier" ->
      s"""WITH $toksCte,
         ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         bk AS (SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 1024
             AS bucket
           FROM ex WHERE tok <> ''),
         lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y
           FROM documents),
         tr AS (SELECT bucket, sum(y) AS pos, sum(1 - y) AS neg
           FROM bk JOIN lab USING (doc_id) GROUP BY bucket),
         wt AS (SELECT bucket, 2000 * pos // (pos + neg) - 1000 AS weight
           FROM tr),
         sc AS (SELECT b.doc_id, sum(w.weight) AS s
           FROM bk b JOIN wt w USING (bucket) GROUP BY b.doc_id)
         SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS score,
           CAST(COALESCE(sc.s, 0) >= 0 AS INT) AS kept
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         ORDER BY d.doc_id""",
    "q136_top_tokens_per_lang" ->
      s"""WITH $toksCte,
         tok AS (SELECT d.lang, unnest(t.t) AS token
           FROM toks t JOIN documents d USING (doc_id)),
         cnt AS (SELECT lang, token, count(*) AS n
           FROM tok WHERE token <> '' GROUP BY 1, 2),
         rk AS (SELECT lang, token, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT))
             AS rank FROM cnt)
         SELECT lang, CAST(rank AS BIGINT) AS rank, token, n
         FROM rk WHERE rank <= 10 ORDER BY lang, rank""",
    "q100_topk_agg" ->
      s"""WITH $toksCte,
         base AS (SELECT lang, doc_id,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END
             AS BIGINT) AS n
           FROM toks JOIN documents USING (doc_id)),
         rk AS (SELECT lang, doc_id, n,
           row_number() OVER (PARTITION BY lang ORDER BY n DESC, doc_id)
             AS rank FROM base)
         SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, n AS n_tokens
         FROM rk WHERE rank <= 5 ORDER BY lang, rank""",
    "q65_simhash_wide_pairs" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id,
           list_transform(t, tok ->
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)) AS th1,
           list_transform(t, tok ->
             CAST(('0x' || substr(md5(tok || '#2'), 1, 15)) AS BIGINT)) AS th2
           FROM toks),
         shh AS (SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(0, 59), i ->
             CASE WHEN list_sum(list_transform(th1, h ->
               CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh1,
           CAST(list_sum(list_transform(generate_series(0, 59), i ->
             CASE WHEN list_sum(list_transform(th2, h ->
               CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh2
           FROM th),
         blk AS (SELECT doc_id, sh1, sh2,
           unnest(['0:' || CAST((sh1 >> 0) % 1073741824 AS VARCHAR),
                   '1:' || CAST((sh1 >> 30) % 1073741824 AS VARCHAR),
                   '2:' || CAST((sh2 >> 0) % 1073741824 AS VARCHAR),
                   '3:' || CAST((sh2 >> 30) % 1073741824 AS VARCHAR)]) AS bkey
           FROM shh),
         pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             bit_count(xor(a.sh1, b.sh1)) + bit_count(xor(a.sh2, b.sh2))
               AS hamming
           FROM blk a JOIN blk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         ORDER BY a_id, b_id""",
    "q28_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
         j AS (SELECT query_id, e.vec_id AS neighbor_id,
             ${cosSql("qv", "e.embedding")} AS cosine
           FROM embeddings e JOIN q ON e.vec_id <> query_id),
         r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn FROM j)
         SELECT query_id, rn, neighbor_id, cosine FROM r
         WHERE rn <= 10 ORDER BY query_id, rn""",
    "q69_bpe_tokens" ->
      s"""WITH $bpeCte
         SELECT doc_id,
           len(regexp_extract_all(text, '${TA.BpeishPattern}'))
             AS n_pretokens,
           len(toks) AS n_bpe,
           md5(array_to_string(toks, ' ')) AS stream_md5
         FROM bpe JOIN documents USING (doc_id) ORDER BY doc_id""",
    "q68_lm_perplexity" ->
      s"""WITH $toksCte,
         $lmCtes
         SELECT doc_id, n_bigrams, log_ppl,
           log_ppl <= ${graft.operators.LmFilter.LogPplMax} AS passes_lm
         FROM lmagg ORDER BY doc_id""",
    "q67_pii_scan" ->
      s"""WITH $piiAugCte,
         $piiChainSql
         SELECT doc_id, n_email, n_ipv4, n_ssn, n_cc, n_phone, n_pii,
           md5(redacted) AS redacted_md5
         FROM pii ORDER BY doc_id""",
    "q29_knn_lsh" ->
      s"""WITH $tableBucketsCte,
         q AS (SELECT vec_id AS query_id, t, bucket FROM tb WHERE vec_id < 5),
         cand AS (SELECT DISTINCT query_id, c.vec_id AS neighbor_id
           FROM tb c JOIN q USING (t, bucket) WHERE c.vec_id <> query_id),
         j AS (SELECT query_id, neighbor_id,
             ${cosSql("qe.embedding", "ce.embedding")} AS cosine
           FROM cand JOIN embeddings qe ON qe.vec_id = query_id
                     JOIN embeddings ce ON ce.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn FROM j)
         SELECT query_id, rn, neighbor_id, cosine FROM r
         WHERE rn <= 5 ORDER BY query_id, rn""",
    "q30_embedding_neardup" ->
      s"""WITH $tableBucketsCte,
         cand AS (SELECT DISTINCT a.vec_id AS a_id, b2.vec_id AS b_id
           FROM tb a JOIN tb b2 USING (t, bucket)
           WHERE a.vec_id < b2.vec_id)
         SELECT a_id, b_id,
           ${cosSql("ea.embedding", "eb.embedding")} AS cosine
         FROM cand JOIN embeddings ea ON ea.vec_id = a_id
                   JOIN embeddings eb ON eb.vec_id = b_id
         WHERE ${cosSql("ea.embedding", "eb.embedding")} >= $EmbNearDupThreshold
         ORDER BY a_id, b_id""",
    "q31_vector_stats" ->
      s"""WITH n AS (SELECT label, ${normSql("embedding")} AS nrm FROM embeddings)
         SELECT label, count(*) AS n,
           CAST(sum(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_norm
         FROM n GROUP BY label ORDER BY label""",
    "q40_pivot_daily_types" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY day""",
    "q41_media_features" ->
      """WITH m AS (SELECT doc_id AS media_id,
           (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
           md5(text) AS h, octet_length(encode(text)) AS nb FROM documents),
         d AS (SELECT media_id, kind,
           CAST(16 + CAST(('0x' || substr(h, 1, 7)) AS BIGINT) % 1024 AS INT) AS width,
           CAST(16 + CAST(('0x' || substr(h, 9, 7)) AS BIGINT) % 1024 AS INT) AS height,
           CAST(1 + nb % 30 AS INT) AS n_frames, h FROM m)
         SELECT media_id, kind, width, height,
           CAST(greatest(1, floor(width * (256.0 / greatest(width, height)))) AS INT) AS out_w,
           CAST(greatest(1, floor(height * (256.0 / greatest(width, height)))) AS INT) AS out_h,
           n_frames,
           array_to_string(list_sort(list_distinct(list_transform(
             generate_series(0, 3), j -> (j * n_frames) // 4))), ',')
             AS frame_ids,
           round(CAST(('0x' || substr(h, 1, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0, 6) AS f0,
           round(CAST(('0x' || substr(h, 13, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0, 6) AS f3,
           round(CAST(('0x' || substr(h, 29, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0, 6) AS f7
         FROM d ORDER BY media_id""",
    "q38_rolling_fingerprint" ->
      s"""WITH $toksCte,
         th AS (SELECT doc_id, list_transform(t, tok ->
           CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 2147483647)
           AS th FROM toks)
         SELECT doc_id,
           list_reduce(th, (x, y) -> (x * 1000003 + y) % 2147483647) AS rhash
         FROM th ORDER BY doc_id""",
    "q39_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
         FROM events),
         r AS (SELECT event_type, hv,
           row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
           count(*) OVER (PARTITION BY event_type) AS nd
         FROM h),
         x AS (SELECT event_type, max(nd) AS nd,
             max(CASE WHEN rn = 64 THEN hv END) AS kth
           FROM r GROUP BY event_type),
         e AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
           FROM events GROUP BY event_type)
         SELECT x.event_type,
           round(CASE WHEN x.nd < 64 THEN CAST(x.nd AS DOUBLE)
             ELSE 63.0 * power(2.0, 60) / CAST(x.kth AS DOUBLE) END, 6)
             AS approx_users,
           e.exact_users
         FROM x JOIN e USING (event_type) ORDER BY event_type""",
    "q70_semantic_dedup" ->
      s"""WITH seeds AS (SELECT CAST(vec_id AS INT) AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
           FROM embeddings WHERE vec_id < 16),
         samp AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
           WHERE vec_id < $IvfSample)${lloydChainSql(IvfIters)._1},
         cells AS (SELECT vec_id, cv, cid FROM (
             SELECT e.vec_id, e.embedding AS cv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${dotSql("e.embedding", "c.ce")} /
                   (${normSql("e.embedding")} * ${normSql("c.ce")}) DESC,
                 c.cid) AS rn
             FROM embeddings e CROSS JOIN ${lloydChainSql(IvfIters)._2} c)
           WHERE rn = 1),
         drop AS (SELECT DISTINCT b.vec_id AS b_id
           FROM cells a JOIN cells b
             ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE ${cosSql("a.cv", "b.cv")} >= $SemanticDupThreshold)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT b_id FROM drop)
         ORDER BY vec_id""",
    "q44_knn_ivf" ->
      s"""WITH seeds AS (SELECT CAST(vec_id AS INT) AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
           FROM embeddings WHERE vec_id < 16),
         samp AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
           WHERE vec_id < $IvfSample)${lloydChainSql(IvfIters)._1},
         cells AS (SELECT vec_id AS neighbor_id, cv, cid FROM (
             SELECT e.vec_id, e.embedding AS cv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${dotSql("e.embedding", "c.ce")} /
                   (${normSql("e.embedding")} * ${normSql("c.ce")}) DESC,
                 c.cid) AS rn
             FROM embeddings e CROSS JOIN ${lloydChainSql(IvfIters)._2} c)
           WHERE rn = 1),
         qp AS (SELECT vec_id AS query_id, qv, cid FROM (
             SELECT e.vec_id, e.embedding AS qv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${dotSql("e.embedding", "c.ce")} /
                   (${normSql("e.embedding")} * ${normSql("c.ce")}) DESC,
                 c.cid) AS rn
             FROM embeddings e CROSS JOIN ${lloydChainSql(IvfIters)._2} c
             WHERE e.vec_id < 5)
           WHERE rn <= 2),
         j AS (SELECT query_id, neighbor_id,
             ${cosSql("qv", "cv")} AS cosine
           FROM cells JOIN qp USING (cid)
           WHERE neighbor_id <> query_id),
         r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn FROM j)
         SELECT query_id, rn, neighbor_id, cosine FROM r
         WHERE rn <= 5 ORDER BY query_id, rn""",
    "q62_pq_codes" ->
      s"""WITH seeds AS (SELECT CAST(vec_id AS INT) AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
           FROM embeddings WHERE vec_id < 16),
         samp AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings
           WHERE vec_id < $IvfSample)${lloydChainSql(IvfIters)._1},
         cells AS (SELECT vec_id, cv, cid FROM (
             SELECT e.vec_id, e.embedding AS cv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${dotSql("e.embedding", "c.ce")} /
                   (${normSql("e.embedding")} * ${normSql("c.ce")}) DESC,
                 c.cid) AS rn
             FROM embeddings e CROSS JOIN ${lloydChainSql(IvfIters)._2} c)
           WHERE rn = 1),
         res AS (SELECT l.vec_id, l.cid,
             list_transform(generate_series(1, 64),
               i -> CAST(l.cv[i] AS DOUBLE) - s.ce[i]) AS r
           FROM cells l JOIN ${lloydChainSql(IvfIters)._2} s USING (cid)),
         ms AS (SELECT unnest(generate_series(0, 7)) AS m),
         rsub AS (SELECT vec_id, cid, m, r[m*8+1 : m*8+8] AS rv
           FROM res CROSS JOIN ms),
         cbk AS (SELECT CAST(vec_id - 16 AS INT) AS cbk_k, m, rv AS cbv
           FROM rsub WHERE vec_id >= 16 AND vec_id < 32),
         dist AS (SELECT t.vec_id, t.m, c.cbk_k,
             list_reduce(list_transform(generate_series(1, 8),
               i -> (t.rv[i] - c.cbv[i]) * (t.rv[i] - c.cbv[i])),
               (x, y) -> x + y) AS d
           FROM rsub t JOIN cbk c USING (m)),
         code AS (SELECT vec_id, m, cbk_k AS code FROM (
             SELECT vec_id, m, cbk_k, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY d, cbk_k) AS rn FROM dist)
           WHERE rn = 1)
         SELECT r.vec_id, r.cid,
           array_to_string(list(c.code ORDER BY c.m), ',') AS codes_csv
         FROM (SELECT DISTINCT vec_id, cid FROM res) r JOIN code c USING (vec_id)
         GROUP BY r.vec_id, r.cid
         ORDER BY r.vec_id""",
    "q35_knn_multiprobe" ->
      s"""WITH $tableBucketsCte,
         q AS (SELECT query_id, t,
             unnest([bucket] || list_transform(
               generate_series(0, ${AnnBits - 1}),
               j -> xor(bucket, CAST(1 AS BIGINT) << j))) AS bucket
           FROM (SELECT vec_id AS query_id, t, bucket FROM tb
                 WHERE vec_id < 5)),
         cand AS (SELECT DISTINCT query_id, c.vec_id AS neighbor_id
           FROM tb c JOIN q USING (t, bucket) WHERE c.vec_id <> query_id),
         j AS (SELECT query_id, neighbor_id,
             ${cosSql("qe.embedding", "ce.embedding")} AS cosine
           FROM cand JOIN embeddings qe ON qe.vec_id = query_id
                     JOIN embeddings ce ON ce.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rn FROM j)
         SELECT query_id, rn, neighbor_id, cosine FROM r
         WHERE rn <= 5 ORDER BY query_id, rn""",
    "q59_knn_graph" ->
      s"""WITH $tableBucketsCte,
         cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           FROM tb a JOIN tb b USING (t, bucket)
           WHERE a.vec_id <> b.vec_id),
         j AS (SELECT a_id, b_id,
             ${cosSql("ea.embedding", "eb.embedding")} AS cosine
           FROM cand JOIN embeddings ea ON ea.vec_id = a_id
                     JOIN embeddings eb ON eb.vec_id = b_id),
         r AS (SELECT a_id, b_id, cosine,
             row_number() OVER (PARTITION BY a_id
               ORDER BY cosine DESC, b_id) AS rn FROM j)
         SELECT a_id AS vec_id, rn, b_id AS neighbor_id, cosine FROM r
         WHERE rn <= 3 ORDER BY vec_id, rn""",
    "q58_incremental_dedup" ->
      s"""WITH $toksCte, $shinglesCte, $sigCte, $bandsCte, $candCte
         SELECT a_id, b_id, round(j, 6) AS jaccard FROM (
           SELECT a_id, b_id,
             CAST(len(list_intersect(ja.s, jb.s)) AS DOUBLE)
               / len(list_distinct(ja.s || jb.s)) AS j
           FROM cand JOIN sh ja ON ja.doc_id = a_id
                     JOIN sh jb ON jb.doc_id = b_id)
         WHERE j >= $JaccardDupThreshold
           AND (a_id % 10 = 0 OR b_id % 10 = 0)
         ORDER BY a_id, b_id""",
    "q53_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled FROM documents
         WHERE CAST(('0x' || substr(md5('smp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 < 3
         GROUP BY lang ORDER BY lang""",
    "q54_dataset_split" ->
      """WITH b AS (SELECT lang,
           CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bk
         FROM documents)
         SELECT CASE WHEN bk < 80 THEN 'train'
                     WHEN bk < 90 THEN 'val' ELSE 'test' END AS split,
           lang, count(*) AS n
         FROM b GROUP BY 1, 2 ORDER BY split, lang""",
    "q55_source_topk_sample" ->
      """SELECT source, doc_id, rn FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY
               CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
               doc_id) AS rn
           FROM documents) WHERE rn <= 100 ORDER BY source, rn""",
    "q56_token_packing" ->
      s"""WITH $bpeCte,
         n AS (SELECT d.lang, d.doc_id, len(b.toks) AS n_tokens
           FROM documents d JOIN bpe b USING (doc_id)),
         c AS (SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM n)
         SELECT lang,
           CAST(floor((greatest(cum, 1) - 1) / 512.0) AS BIGINT) AS bin,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         FROM c GROUP BY 1, 2 ORDER BY lang, bin""",
    "q73_shuffled_shards" ->
      """WITH n AS (SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(lower(text)), '\s+')) END
             AS n_tokens,
           CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
             1, 15)) AS BIGINT) AS k
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM n)
         SELECT doc_id, n_tokens,
           CAST(floor((greatest(cum, 1) - 1) / 4096.0) AS BIGINT) AS shard
         FROM c ORDER BY doc_id""",
    "q34_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, max(value) AS click_value FROM events
           WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT p.event_id, p.user_id, p.ts, c.ts AS asof_ts, c.click_value
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         ORDER BY p.event_id""",
    "q74_media_probe" ->
      """SELECT doc_id AS media_id,
         CASE WHEN doc_id % 4 = 0 THEN 'png'
              WHEN doc_id % 4 = 1 THEN 'jpeg'
              ELSE (['jpeg','png','webp'])[CAST(CAST(('0x' || substr(md5(text), 32, 1)) AS BIGINT) % 3 AS INT) + 1] END AS format,
         CASE WHEN doc_id % 4 = 0 THEN CAST(16 + doc_id % 1024 AS INT)
              WHEN doc_id % 4 = 1 THEN CAST(16 + (3 * doc_id) % 2048 AS INT)
              ELSE CAST(16 + CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) % 1024 AS INT) END AS width,
         CASE WHEN doc_id % 4 = 0 THEN CAST(16 + (7 * doc_id) % 1024 AS INT)
              WHEN doc_id % 4 = 1 THEN CAST(16 + (5 * doc_id) % 2048 AS INT)
              ELSE CAST(16 + CAST(('0x' || substr(md5(text), 9, 7)) AS BIGINT) % 1024 AS INT) END AS height,
         CASE WHEN doc_id % 4 <= 1 THEN 1
              ELSE CAST(1 + octet_length(encode(text)) % 30 AS INT) END AS n_frames
         FROM documents ORDER BY media_id""",
    "q78_pixel_stats" ->
      """SELECT doc_id AS media_id,
         CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(doc_id % 97 + 10.5 AS DOUBLE) AS mean_r,
         CAST((3 * doc_id) % 89 + 10.5 AS DOUBLE) AS mean_g,
         CAST((7 * doc_id) % 83 + 10.5 AS DOUBLE) AS mean_b,
         CAST(doc_id % 97 AS INT) AS min_r,
         CAST(doc_id % 97 + 21 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q91_png_interlaced" ->
      """SELECT doc_id AS media_id,
         CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(doc_id % 97 + 10.5 AS DOUBLE) AS mean_r,
         CAST((3 * doc_id) % 89 + 10.5 AS DOUBLE) AS mean_g,
         CAST((7 * doc_id) % 83 + 10.5 AS DOUBLE) AS mean_b,
         CAST(doc_id % 97 AS INT) AS min_r,
         CAST(doc_id % 97 + 21 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q79_audio_stats" ->
      """SELECT doc_id AS media_id,
         CAST(8000 AS INT) AS sample_rate,
         CAST(1 AS INT) AS n_channels,
         CAST(170 AS BIGINT) AS n_samples,
         CAST(doc_id % 1000 + 8 AS DOUBLE) AS mean_amp,
         CAST(doc_id % 1000 AS INT) AS min_amp,
         CAST(doc_id % 1000 + 16 AS INT) AS max_amp,
         CAST(170 * (doc_id % 1000) * (doc_id % 1000)
           + 2720 * (doc_id % 1000) + 14960 AS BIGINT) AS sum_sq
         FROM documents ORDER BY media_id""",
    "q81_thumbnail_stats" ->
      """SELECT doc_id AS media_id,
         CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
         CAST(doc_id % 97 + 10.5 AS DOUBLE) AS mean_r,
         CAST((3 * doc_id) % 89 + 10.5 AS DOUBLE) AS mean_g,
         CAST((7 * doc_id) % 83 + 10.5 AS DOUBLE) AS mean_b,
         CAST(doc_id % 97 + 1.5 AS DOUBLE) AS min_r,
         CAST(doc_id % 97 + 19.5 AS DOUBLE) AS max_r
         FROM documents ORDER BY media_id""",
    "q85_jpeg_420" ->
      """SELECT doc_id AS media_id,
         CAST(32 AS INT) AS width, CAST(16 AS INT) AS height,
         CAST(doc_id % 100 + 30 AS DOUBLE) AS mean_r,
         CAST(doc_id % 100 + 30 AS DOUBLE) AS mean_g,
         CAST(doc_id % 100 + 30 AS DOUBLE) AS mean_b,
         CAST(doc_id % 100 + 20 AS INT) AS min_r,
         CAST(doc_id % 100 + 40 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q84_jpeg_color" ->
      """SELECT doc_id AS media_id,
         CAST(32 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_r,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_g,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_b,
         CAST(doc_id % 100 + 28 AS INT) AS min_r,
         CAST(doc_id % 100 + 58 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q87_jpeg_progressive" ->
      """SELECT doc_id AS media_id,
         CAST(32 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_r,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_g,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_b,
         CAST(doc_id % 100 + 28 AS INT) AS min_r,
         CAST(doc_id % 100 + 58 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q89_image_dhash" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
         CAST(((doc_id >> 0) & 1) * 72624976668147841
            + ((doc_id >> 1) & 1) * 145249953336295682
            + ((doc_id >> 2) & 1) * 290499906672591364
            + ((doc_id >> 3) & 1) * 580999813345182728
            + ((doc_id >> 4) & 1) * 1161999626690365456
            + ((doc_id >> 5) & 1) * 2323999253380730912
            + ((doc_id >> 6) & 1) * 4647998506761461824 AS BIGINT)
           AS dhash
         FROM documents ORDER BY media_id""",
    "q90_dhash_near_dup" ->
      """SELECT CAST(doc_id * 2 AS BIGINT) AS a_id,
         CAST(doc_id * 2 + 1 AS BIGINT) AS b_id,
         CAST(2 AS INT) AS hamming
         FROM documents WHERE doc_id < 100 ORDER BY a_id""",
    "q104_video_near_dup" ->
      """SELECT CAST(doc_id * 2 AS BIGINT) AS a_id,
         CAST(doc_id * 2 + 1 AS BIGINT) AS b_id,
         CAST(2 AS INT) AS hamming
         FROM documents WHERE doc_id < 100 ORDER BY a_id""",
    "q88_image_near_dup" ->
      """SELECT CAST(doc_id * 2 AS BIGINT) AS a_id,
         CAST(doc_id * 2 + 1 AS BIGINT) AS b_id,
         CAST(1.0 AS DOUBLE) AS cosine
         FROM documents WHERE doc_id < 100 ORDER BY a_id""",
    "q86_content_embed" ->
      """WITH jf AS (SELECT doc_id AS media_id,
           CAST(doc_id % 100 AS DOUBLE) AS b FROM documents
           WHERE doc_id % 4 = 0),
         jpeg AS (SELECT media_id,
           (b + 43.0) / 128.0 - 1.0 AS f0,
           (b + 43.0) / 128.0 - 1.0 AS f1,
           (b + 43.0) / 128.0 - 1.0 AS f2,
           sqrt(125.0) / 128.0 AS f3,
           sqrt(125.0) / 128.0 AS f4,
           sqrt(125.0) / 128.0 AS f5,
           2.0 * 32.0 / 40.0 - 1.0 AS f6,
           (CASE WHEN b + 28 > 128 THEN 64 ELSE 0 END
            + CASE WHEN b + 38 > 128 THEN 64 ELSE 0 END
            + CASE WHEN b + 48 > 128 THEN 64 ELSE 0 END
            + CASE WHEN b + 58 > 128 THEN 64 ELSE 0 END) / 256.0 AS f7
           FROM jf),
         gf AS (SELECT doc_id AS media_id,
           CAST(doc_id % 200 AS DOUBLE) AS b FROM documents
           WHERE doc_id % 4 = 1),
         gif AS (SELECT media_id,
           (b + 7.5) / 128.0 - 1.0 AS f0,
           (b + 7.5) / 128.0 - 1.0 AS f1,
           (b + 7.5) / 128.0 - 1.0 AS f2,
           sqrt(31.25) / 128.0 AS f3,
           sqrt(31.25) / 128.0 AS f4,
           sqrt(31.25) / 128.0 AS f5,
           0.0 AS f6,
           (CASE WHEN b > 128 THEN 16 ELSE 0 END
            + CASE WHEN b + 5 > 128 THEN 16 ELSE 0 END
            + CASE WHEN b + 10 > 128 THEN 16 ELSE 0 END
            + CASE WHEN b + 15 > 128 THEN 16 ELSE 0 END) / 64.0 AS f7
           FROM gf),
         wf AS (SELECT doc_id AS media_id,
           CAST(doc_id % 1000 AS DOUBLE) AS b FROM documents
           WHERE doc_id % 4 = 2),
         wav AS (SELECT media_id,
           (b + 8.0) / 32768.0 AS f0,
           sqrt(24.0) / 32768.0 AS f1,
           (b + 8.0) / 32768.0 AS f2,
           b / 32768.0 AS f3,
           (b + 16.0) / 32768.0 AS f4,
           0.0 AS f5,
           0.125 AS f6,
           170.0 / 8170.0 AS f7
           FROM wf),
         sf AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents
           WHERE doc_id % 4 = 3),
         stub AS (SELECT media_id,
           CAST(('0x' || substr(h, 1, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f0,
           CAST(('0x' || substr(h, 5, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f1,
           CAST(('0x' || substr(h, 9, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f2,
           CAST(('0x' || substr(h, 13, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f3,
           CAST(('0x' || substr(h, 17, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f4,
           CAST(('0x' || substr(h, 21, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f5,
           CAST(('0x' || substr(h, 25, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f6,
           CAST(('0x' || substr(h, 29, 4)) AS BIGINT) / 65536.0 * 2.0 - 1.0 AS f7
           FROM sf),
         u AS (SELECT * FROM jpeg UNION ALL SELECT * FROM gif
           UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM stub)
         SELECT media_id,
           round(f0, 6) AS f0, round(f1, 6) AS f1, round(f2, 6) AS f2,
           round(f3, 6) AS f3, round(f4, 6) AS f4, round(f5, 6) AS f5,
           round(f6, 6) AS f6, round(f7, 6) AS f7
         FROM u ORDER BY media_id""",
    "q103_mjpeg_embed" ->
      """WITH t AS (SELECT doc_id AS media_id,
           CAST(doc_id % 100 AS DOUBLE) AS b,
           CAST(1 + doc_id % 4 AS INT) AS n FROM documents)
         SELECT media_id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           n AS n_frames,
           round((b + 20 + 5 * (n - 1)) / 128.0 - 1.0, 6) AS f0,
           round((b + 20 + 5 * (n - 1)) / 128.0 - 1.0, 6) AS f1,
           round((b + 20 + 5 * (n - 1)) / 128.0 - 1.0, 6) AS f2,
           0.0 AS f3, 0.0 AS f4, 0.0 AS f5, 0.0 AS f6,
           round(CASE WHEN n = 1 THEN 0.0
             WHEN n = 2 THEN (CASE WHEN b >= 99 THEN 1 ELSE 0 END) / 2.0
             WHEN n = 3 THEN ((CASE WHEN b >= 99 THEN 1 ELSE 0 END)
               + (CASE WHEN b >= 89 THEN 1 ELSE 0 END)) / 3.0
             ELSE ((CASE WHEN b >= 99 THEN 1 ELSE 0 END)
               + (CASE WHEN b >= 89 THEN 1 ELSE 0 END)
               + (CASE WHEN b >= 79 THEN 1 ELSE 0 END)) / 4.0 END, 6) AS f7
         FROM t ORDER BY media_id""",
    "q83_jpeg_stats" ->
      """SELECT doc_id AS media_id,
         CAST(32 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(doc_id % 100 + 43 AS DOUBLE) AS mean_g,
         CAST(doc_id % 100 + 28 AS INT) AS min_g,
         CAST(doc_id % 100 + 58 AS INT) AS max_g
         FROM documents ORDER BY media_id""",
    "q82_gif_stats" ->
      """SELECT doc_id AS media_id,
         CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
         CAST(1 + doc_id % 4 AS INT) AS n_frames,
         CAST(doc_id % 200 + 7.5 AS DOUBLE) AS mean_r,
         CAST(doc_id % 200 AS INT) AS min_r,
         CAST(doc_id % 200 + 15 AS INT) AS max_r
         FROM documents ORDER BY media_id""",
    "q80_video_probe" ->
      """SELECT doc_id AS media_id, 'avi' AS format,
         CAST(160 + (11 * doc_id) % 1280 AS INT) AS width,
         CAST(120 + (13 * doc_id) % 720 AS INT) AS height,
         CAST(1 + doc_id % 3000 AS INT) AS n_frames
         FROM documents ORDER BY media_id""",
    "q32_multimodal_meta" ->
      """SELECT doc_id AS media_id,
         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(16 + CAST(('0x' || substr(md5(text), 1, 7)) AS BIGINT) % 1024 AS INT) AS width,
         CAST(16 + CAST(('0x' || substr(md5(text), 9, 7)) AS BIGINT) % 1024 AS INT) AS height,
         CAST(1 + octet_length(encode(text)) % 30 AS INT) AS n_frames,
         (['jpeg','png','webp'])[CAST(CAST(('0x' || substr(md5(text), 32, 1)) AS BIGINT) % 3 AS INT) + 1] AS format
         FROM documents ORDER BY media_id""")
}
