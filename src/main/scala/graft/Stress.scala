package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Ingest, ManifestSink}
import graft.operators.{Dedup, Similarity}

/** Scale-stress harness: replicates the sf0.1 corpus REPL times with
  * per-replica perturbation (every token interleaved with a replica tag →
  * replicas are NOT near-dups of each other; planted near-dup pairs stay
  * near-dups within each replica) and times the heavy operators at
  * 20x-100x the verification scale. This is the evidence that the LSH
  * plans hold as N grows — run with:
  *   SPARK_GRAFT_STRESS_REPL=20 sbt "runMain graft.Stress"
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val repl = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPL", "20").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the dv_vectorized ladder measures the SQL face; the dv scan
      // rewrite (like DML) injects at session build only
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nDocs0 = docs0.count()
    // actual count, not an sf0.1-specific constant: replica vec_id
    // ranges must be disjoint at ANY corpus size or the similarity
    // joins being timed silently join duplicate ids
    val nEmb0 = emb0.count()

    val docs = (0 until repl).map { i =>
      docs0.select(
        (col("doc_id") + lit(i.toLong * nDocs0)).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), "(\\S+)", s"$$1r$i")).as("text"))
    }.reduce(_ unionByName _)
    val emb = (0 until repl).map { i =>
      emb0.select(
        (col("vec_id") + lit(i.toLong * nEmb0)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"),
           x => x + lit(i * 0.001f))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

    // SPARK_GRAFT_STRESS_ONLY=substr[,substr...] runs a subset (repeat a
    // name to measure warm timings)
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").toSeq).getOrElse(Nil)
    def enabled(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    def time(name: String)(df: => DataFrame): Unit = if (enabled(name)) {
      val t0 = System.nanoTime()
      val n = df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS $name%-28s $dt%8.2f s")
    }
    def timeCount(name: String)(df: => DataFrame): Unit = if (enabled(name)) {
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS $name%-28s $dt%8.2f s  rows=$n")
    }
    // diagnostics — ONLY when explicitly named via SPARK_GRAFT_STRESS_ONLY
    // (warm reruns + uncapped ablations; the uncapped variants are the
    // quadratic blowup the production caps exist to avoid, so a default
    // stress run must not pay for them)
    def diag(name: String)(df: => DataFrame): Unit =
      if (only.nonEmpty) timeCount(name)(df)

    // relational core at REPL x sf0.1 (~6M lineitem rows at 10x):
    // pricing-summary agg, fact-fact join + agg, window top-1
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val or0 = spark.read.parquet(s"$sfDir/orders.parquet")
    val li = (0 until repl).map(i => li0.withColumn("l_orderkey",
      col("l_orderkey") + lit(i.toLong * 10000000L))).reduce(_ unionByName _)
    val or = (0 until repl).map(i => or0.withColumn("o_orderkey",
      col("o_orderkey") + lit(i.toLong * 10000000L))).reduce(_ unionByName _)

    println(s"STRESS corpus: ${repl}x -> ${nDocs0 * repl} docs, " +
      s"${nEmb0 * repl} vectors, ~${600000L * repl} lineitem rows")
    timeCount("q1_agg")(
      li.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          count(lit(1)).as("n")))
    timeCount("fact_join_agg")(
      li.join(or, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
          count(lit(1)).as("n")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    timeCount("window_top1")(
      or.withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1))
    time("signatures")(Dedup.signatures(docs))
    // production operating point: slim band shuffle + degenerate-bucket cap
    timeCount("minhash_pairs")(
      Dedup.minhashDupPairs(docs, 0.5, maxBucketSize = 1000))
    diag("minhash_pairs_uncapped")(Dedup.minhashDupPairs(docs, 0.5))
    timeCount("minhash_pairs_precollapse")(
      Dedup.minhashDupPairs(
        Dedup.representatives(docs), 0.5, maxBucketSize = 1000))
    timeCount("jaccard_pairs")(
      Dedup.jaccardDupPairs(docs, 0.8, maxBucketSize = 1000))
    timeCount("simhash_pairs")(
      Dedup.simhashDupPairs(docs, 3, maxBucketSize = 1000))
    timeCount("knn_brute_5q")(Similarity.knnBruteForce(
      emb, emb.filter(col("vec_id") < 5), 10))
    // production ANN geometry: 12-bit codes x 4 tables (2^14 join keys)
    timeCount("knn_lsh_5q")(Similarity.knnLsh(
      emb, emb.filter(col("vec_id") < 5), 10, nPlanes = 12, nTables = 4))
    timeCount("knn_multiprobe_5q")(Similarity.knnLshMultiprobe(
      emb, emb.filter(col("vec_id") < 5), 10, nPlanes = 12, nTables = 4))
    timeCount("embedding_neardup")(
      Similarity.nearDupPairs(emb, 0.9, nPlanes = 12, nTables = 4,
        maxBucketSize = 1000))
    diag("minhash_pairs_capped_rerun")(
      Dedup.minhashDupPairs(docs, 0.5, maxBucketSize = 1000))
    diag("embedding_neardup_uncapped")(
      Similarity.nearDupPairs(emb, 0.9, nPlanes = 12, nTables = 4))
    diag("embedding_neardup_1table")(
      Similarity.nearDupPairs(emb, 0.9, nPlanes = 12, nTables = 1,
        maxBucketSize = 1000))
    diag("embedding_neardup_rerun")(
      Similarity.nearDupPairs(emb, 0.9, nPlanes = 12, nTables = 4,
        maxBucketSize = 1000))
    // round-5 operators at the same scale
    // maxDriverEdges = 0: this ladder measures the DISTRIBUTED star
    // iteration's scale posture — the bounded-driver fast path would
    // shortcut it at this corpus' edge count
    timeCount("dup_clusters")(Dedup.dupClusters(
      Dedup.jaccardDupPairs(docs, 0.8, maxBucketSize = 1000),
      maxDriverEdges = 0L))
    timeCount("shared_spans")(Dedup.sharedSpans(docs, w = 8))
    timeCount("simhash_wide_pairs")(
      Dedup.simhashWideDupPairs(docs, 3, maxBucketSize = 1000))
    timeCount("contamination")(Dedup.contaminatedDocs(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0), w = 8))
    timeCount("quality_rules")(
      docs.select(col("doc_id"),
        graft.plans.QualityRulesExpr.rules(col("text")).as("qr"))
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("qr.*")))
    diag("pq_index")({
      val cents = Similarity.ivfCentroids(emb, 16, 0, 256)
      val cb = Similarity.pqCodebooks(emb, cents, 8, 16, seedOffset = 16)
      Similarity.pqIndex(emb, cents, cb)
    })
    // incremental IVF-PQ index ladder: same fixed-size batch appended
    // first against an EMPTY index, then against the full REPL-scale
    // corpus index — flat timings = per-batch cost tracks the batch, not
    // the index (the rebuild-only alternative re-encodes everything)
    if (enabled("ivfpq_index_batch")) {
      val model = Similarity.trainPqModel(emb, nCentroids = 16, nSub = 8,
        codebookSize = 16)
      val root = java.nio.file.Files
        .createTempDirectory("stress_pqidx_").toString
      val batch = emb.filter(col("vec_id") < 2000)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      def timeBatch(name: String, b: DataFrame): Unit = {
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.indexVecBatch(
          spark, b, model, s"$root/codes", s"$root/adj")
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS $name%-28s $dt%8.2f s")
      }
      timeBatch("ivfpq_index_batch_empty", batch)
      graft.streaming.StreamingIngest.indexVecBatch(
        spark, emb, model, s"$root/codes", s"$root/adj")
      timeBatch("ivfpq_index_batch_full",
        batch.withColumn("vec_id", col("vec_id") + lit(1000000000L)))
    }
    // drifted-stream rebalance ladder: a frozen-model incremental index
    // absorbs 5 batches of vectors all concentrated near ONE corpus
    // vector -> one cell runs hot; rebalanceIvfPq splits/re-encodes only
    // that cell's members. Reported: max-cell occupancy before/after,
    // rebalance wall time vs the reindex-the-world comparator (full
    // re-encode under the new model) it replaces.
    if (enabled("ivfpq_rebalance")) {
      val model = Similarity.trainPqModel(emb, nCentroids = 16, nSub = 8,
        codebookSize = 16)
      val root = java.nio.file.Files
        .createTempDirectory("stress_pqreb_").toString
      graft.streaming.StreamingIngest.indexVecBatch(
        spark, emb, model, s"$root/codes", s"$root/adj")
      val hotVec = emb0.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).toSeq
      // deterministic per-(id, dim) perturbation of the hot vector:
      // +-0.05 per dim on a unit-norm base — a blob with internal
      // structure (splittable), still nearest to vector 0's cell
      def driftBatch(b: Int): DataFrame = spark.range(2000).select(
        (col("id") + lit(2000000000L) + lit(b * 2000L)).as("vec_id"),
        transform(typedlit(hotVec), (x, i) =>
          x + (pmod(col("id") * 31 + i * 17 + lit(b), lit(101)).cast("float")
            - lit(50f)) * lit(0.001f)).as("embedding"))
      val drift = (0 until 5).map(driftBatch)
      drift.foreach { b =>
        graft.streaming.StreamingIngest.indexVecBatch(
          spark, b, model, s"$root/codes", s"$root/adj")
      }
      val allVecs = emb.select("vec_id", "embedding")
        .unionByName(drift.reduce(_ unionByName _)).localCheckpoint()
      val idx = spark.read.parquet(s"$root/codes").localCheckpoint()
      val total = idx.count()
      // 1.5x the balanced mean over 16 cells: catches both the drift
      // pile-up cell and the naturally-heaviest cell of this corpus
      val maxCell = (total * 3 / 32).toInt
      val occB = Similarity.ivfTelemetry(idx)
        .agg(max(col("n"))).head.getLong(0)
      val t0 = System.nanoTime()
      val res = Similarity.rebalanceIvfPq(idx, allVecs, model, maxCell)
      val occAurow = res.index.groupBy("cid").count()
        .orderBy(col("count").desc, col("cid")).head
      val occA = occAurow.getLong(1)
      val occAcid = occAurow.getInt(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS ivfpq_rebalance           $dt%8.2f s  " +
        f"rows=$total max_before=$occB max_after=$occA(cid=$occAcid) " +
        f"cap=$maxCell split=${res.splitCells.mkString("+")}")
      val t1 = System.nanoTime()
      val n2 = Similarity.pqIndexRows(allVecs, res.model).count()
      println(f"STRESS ivfpq_full_reencode       " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  rows=$n2")
    }
    // incremental classifier-training ladder: same fixed-size labeled
    // batch against an empty vs REPL-scale stored contributions relation
    if (enabled("classifier_train_batch")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_clsidx_").toString
      val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("long"))
      val batch = labeled.filter(col("doc_id") < 5000)
        .withColumn("doc_id", col("doc_id") + lit(1000000000L))
      def timeBatch(name: String, b: DataFrame): Unit = {
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.trainDocBatch(
          spark, b, s"$root/contribs", s"$root/adj")
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS $name%-28s $dt%8.2f s")
      }
      timeBatch("classifier_train_empty", batch)
      graft.streaming.StreamingIngest.trainDocBatch(
        spark, labeled, s"$root/contribs", s"$root/adj")
      val t0 = System.nanoTime()
      val w = graft.operators.Classifier.weightsFromContribs(
        graft.streaming.StreamingIngest.readContribs(
          spark, s"$root/contribs", s"$root/adj")).count()
      println(f"STRESS classifier_derive_weights" +
        f" ${(System.nanoTime() - t0) / 1e9}%7.2f s  buckets=$w")
      timeBatch("classifier_train_full",
        batch.withColumn("doc_id", col("doc_id") + lit(1000000000L)))
    }
    // round-7 operators at the same scale
    timeCount("pii_scan")(
      docs.select(col("doc_id") +:
        graft.functions.Pii.scanColumns(col("text")): _*))
    timeCount("lm_perplexity")(
      graft.operators.LmFilter.scoreDocs(docs))
    timeCount("bpe_tokens")(
      docs.select(col("doc_id"),
        size(graft.functions.Bpe.tokens(col("text"))).as("n")))
    // round-8 operators at the same scale
    timeCount("segment_dedup")(
      Dedup.removeDuplicateSegments(docs, segTokens = 4))
    timeCount("repeated_segments")(
      Dedup.removeRepeatedSegments(docs, segTokens = 4))
    diag("segment_dedup_bcast")(
      Dedup.removeDuplicateSegments(docs, segTokens = 4,
        broadcastDups = true))
    timeCount("shuffled_shards")(
      graft.ingest.Ingest.assignShards(
        docs.select(col("doc_id"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_tokens")),
        "n_tokens", "doc_id", tokenBudget = 4096L, shuffled = true))
    timeCount("lm_lang_calibrate")(
      graft.operators.LmFilter.calibrateThresholds(
        graft.operators.LmFilter.scoreDocs(docs)
          .join(docs.select(col("doc_id"),
            (col("doc_id") % 5).as("lang")), Seq("doc_id")),
        0.5, "lang"))
    // hot-group percent_rank: 90 % of rows in one group — the shape the
    // retired per-type window form sorted through ONE task; the
    // bucket-offset decomposition keeps tasks balanced under skew
    timeCount("percent_rank_skew")(
      graft.operators.Ranks.percentRanks(
        docs.select(col("doc_id"),
          when(col("doc_id") % 10 < 9, lit("hot"))
            .otherwise(lit("cold")).as("g"),
          (hash(col("doc_id")).cast("double") / 1e9).as("v")),
        "g", "v", "doc_id"))
    // 90 %-one-language skew: the shape that funneled the hot language's
    // full score column through ONE task under the retired per-group
    // row_number window — grouped narrowing keeps every pass a (group,
    // cell) aggregation regardless of skew
    timeCount("lm_lang_calibrate_skew")(
      graft.operators.LmFilter.calibrateThresholds(
        graft.operators.LmFilter.scoreDocs(docs)
          .join(docs.select(col("doc_id"),
            when(col("doc_id") % 10 < 9, lit("en"))
              .otherwise(lit("de")).as("lang")), Seq("doc_id")),
        0.5, "lang"))
    // round-11 text/corpus operators at the same scale
    timeCount("heavy_tokens")(
      graft.operators.HeavyHitters.heavyTokens(docs, minFrac = 0.001))
    timeCount("tfidf_terms")(
      graft.operators.TextRank.tfidfTopTerms(docs, topK = 3))
    timeCount("inverted_index")(
      graft.operators.TextRank.invertedIndex(docs, minDf = 5,
        maxPostings = 20))
    // planted every-doc stopword: the hottest token an index is queried
    // for. The bounded-buffer aggregate keeps it at maxPostings slots per
    // partition; the retired row_number window form (diag) funnels the
    // full corpus-sized token group through ONE task's sort.
    val stopDocs = docs.withColumn("text",
      concat_ws(" ", col("text"), lit("zzstopword")))
    timeCount("inverted_index_stopword")(
      graft.operators.TextRank.invertedIndex(stopDocs, minDf = 5,
        maxPostings = 20))
    diag("inverted_index_stopword_win")({
      val pairs = stopDocs
        .select(col("doc_id"),
          explode(graft.functions.TextAnalysis.tokens(col("text")))
            .as("token"))
        .where(col("token") =!= "").distinct()
      val dfreq = pairs.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val rnW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("token")).orderBy(col("doc_id"))
      val postings = pairs.withColumn("rn", row_number().over(rnW))
        .where(col("rn") <= 20)
        .groupBy(col("token"))
        .agg(array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      dfreq.where(col("df") >= 5).join(postings, Seq("token"))
    })
    // index-backed vs full-scan BM25 at 20x: the index build (one-time
    // in a deployment) runs EAGERLY outside both timers via
    // localCheckpoint, so bm25_indexed times pure retrieval — the
    // query-term filter over the slim index + one stats row — against
    // the full tokenize-and-score corpus pass
    if (enabled("bm25")) {
      val bmTerms = Seq("join", "hash", "scan", "slow")
      val idx = graft.operators.TextRank.termIndex(docs).localCheckpoint()
      val dls = graft.operators.TextRank.docLengths(docs).localCheckpoint()
      timeCount("bm25_full")(
        graft.operators.TextRank.bm25(docs, bmTerms, topK = 20))
      timeCount("bm25_indexed")(
        graft.operators.TextRank.bm25FromIndex(idx, dls, bmTerms,
          topK = 20))
      // round-12: a 64-query batch through ONE index traversal vs the
      // same 64 queries planned separately (driver-looped) — the
      // amortization the batch operator exists for
      import spark.implicits._
      val batch = (0 until 64).flatMap { qid =>
        Seq((qid, bmTerms(qid % 4)), (qid, bmTerms((qid + 1) % 4)))
      }.toDF("query_id", "token")
      timeCount("bm25_batch_64q")(
        graft.operators.TextRank.bm25BatchFromIndex(idx, dls, batch,
          topK = 10))
      diag("bm25_looped_8q_diag")({
        // 8 separate single-query plans (a 64-loop would dominate the
        // stress run; 8 already shows the per-plan fixed cost)
        (0 until 8).map { qid =>
          graft.operators.TextRank.bm25FromIndex(idx, dls,
            Seq(bmTerms(qid % 4), bmTerms((qid + 1) % 4)).sorted,
            topK = 10).withColumn("query_id", lit(qid))
        }.reduce(_ unionByName _)
      })
    }
    timeCount("pack_contexts")(
      graft.operators.Corpus.packContexts(docs, contextLen = 512))
    timeCount("materialize_contexts")(
      graft.operators.Corpus.materializeContexts(docs, contextLen = 512))
    timeCount("mixture_sample")(
      graft.operators.Corpus.mixtureSample(
        docs.withColumn("lang", (col("doc_id") % 5).cast("string")),
        Map("0" -> 0.9, "1" -> 0.5, "2" -> 0.25), 0.35))
    timeCount("hash_classifier")(
      graft.operators.Classifier.scoreDocs(docs))
    // native bounded-buffer top-k vs the window-rank idiom it replaces
    // (same result set; the window sorts every row of every group)
    val topkBase = docs.select((col("doc_id") % 5).as("g"), col("doc_id"),
      graft.functions.TextAnalysis.tokenCount(col("text"))
        .cast("long").as("n"))
    timeCount("topk_agg")(
      topkBase.groupBy(col("g"))
        .agg(graft.operators.TopK.topK(col("n"), col("doc_id"), 5).as("top"))
        .select(col("g"), explode(col("top"))))
    timeCount("topk_window")({
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("n").desc, col("doc_id"))
      topkBase.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
    })
    diag("topk_agg_rerun")(
      topkBase.groupBy(col("g"))
        .agg(graft.operators.TopK.topK(col("n"), col("doc_id"), 5).as("top"))
        .select(col("g"), explode(col("top"))))
    // round-10: the q77 capstone at ladder scale — segment dedup → LM
    // re-score on the CLEANED text → corpus-calibrated gate, the most
    // expensive bench query. Same localCheckpoint placement as the query
    // (calibration's build actions would otherwise re-run the dedup +
    // scoring DAGs 3-4x).
    if (enabled("cleaned_lm")) {
      val t0 = System.nanoTime()
      val cleaned = Dedup.removeDuplicateSegments(docs, segTokens = 4,
        emitCleaned = true)
        .select(col("doc_id"), col("n_removed"), col("cleaned").as("text"))
        .localCheckpoint()
      val scored = graft.operators.LmFilter.scoreDocs(cleaned)
        .localCheckpoint()
      val thr = graft.operators.LmFilter.calibrateThreshold(scored, 0.5)
      val kept = scored.filter(col("log_ppl") <= thr).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS cleaned_lm            $dt%8.2f s  kept=$kept")
    }
    // round-10: multimodal decode ladder — every doc gets a REAL planted
    // payload (full deflated PNG / PCM WAV) and the partition-wise
    // decode reduces it to stats; measures generate+decode, both
    // map-only, so the ladder should scale linearly with docs
    if (enabled("media")) {
      import graft.multimodal.Multimodal
      timeCount("media_pixel")(
        Multimodal.pixelStats(Multimodal.plantedPixelMedia(spark, docs))
          .toDF())
      timeCount("media_thumb")(
        Multimodal.thumbnailStats(
          Multimodal.plantedPixelMedia(spark, docs), 4, 4).toDF())
      timeCount("media_audio")(
        Multimodal.audioStats(Multimodal.plantedAudioMedia(spark, docs))
          .toDF())
      timeCount("media_jpeg")(
        Multimodal.jpegStats(Multimodal.plantedJpegMedia(spark, docs))
          .toDF())
      timeCount("media_gif")(
        Multimodal.gifStats(Multimodal.plantedGifMedia(spark, docs))
          .toDF())
      // r11: perceptual hash — PNG encode+decode+9x8 box dHash per doc
      timeCount("media_dhash")(
        Multimodal.dhashMedia(Multimodal.plantedDhashMedia(spark, docs)))
      // hamming pairing at corpus scale over NEAR-UNIFORM hashes (the
      // planted-code corpus is 128 distinct values — degenerate for
      // pairing; xxhash64 of the text is the honest blocking shape:
      // 5 x 13-bit blocks, ~n/8192 rows per block value)
      timeCount("dhash_pairs")(
        Dedup.hammingDupPairs(
          docs.select(col("doc_id"), xxhash64(col("text")).as("h")),
          maxHamming = 4, idCol = "doc_id", hashCol = "h",
          maxBucketSize = 1000))
    }
    // round-10: training-shard write — the ATOMIC manifest-log commit
    // path vs the plain directory path at corpus scale (same assignment;
    // the delta is staging + move + log commit)
    if (enabled("sharded_write")) {
      val tokens = docs.select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tokens"))
      val root = java.nio.file.Files
        .createTempDirectory("stress_shards_").toString
      def timeIt(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        println(f"STRESS $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      timeIt("sharded_write_plain")(
        Ingest.ParquetSink.shardedWrite(tokens, s"$root/plain",
          "n_tokens", "doc_id", tokenBudget = 4096L))
      timeIt("sharded_write_manifest")(
        ManifestSink.shardedWrite(tokens, s"$root/ms",
          "n_tokens", "doc_id", tokenBudget = 4096L))
      val (np, nm) = (spark.read.parquet(s"$root/plain").count(),
        ManifestSink.readBack(spark, s"$root/ms").count())
      require(np == nm, s"shard row counts must agree: $np vs $nm")
      println(s"STRESS sharded_write_done rows=$np")
    }
    // nCentroids MUST scale with the corpus (cells ~n/nCentroids; pair
    // cost ~n^2/nCentroids): 256 cells keeps 40k vectors at ~160/cell.
    // The 16-cell diag below is the measured ablation of ignoring that —
    // 2.5k-vector cells -> ~50M in-cell pairs -> 785 s at 20x.
    timeCount("semantic_dedup")(
      Similarity.semanticSurvivors(emb, threshold = 0.3, nCentroids = 256,
        maxCellSize = 100000))
    diag("semantic_dedup_16cells")(
      Similarity.semanticSurvivors(emb, threshold = 0.3, nCentroids = 16,
        maxCellSize = 100000))
    // IVF-PQ RECALL at the shipped stress operating point (nCentroids
    // scaled with the corpus like semantic_dedup; nProbe keeps the same
    // 1/32 probed-cell fraction as q44's 2-of-16 wait — 8/256): recall@10
    // vs brute force over 25 queries, the accuracy/cost trade as a
    // RECORDED number rather than an sf0.1-only spec assertion.
    if (enabled("ivfpq_recall")) {
      val qs = emb.filter(col("vec_id") < 25)
      val brute = Similarity.knnBruteForce(emb, qs, 10)
        .select(col("query_id"), col("neighbor_id")).cache()
      val tot = brute.count()
      def recallRow(tag: String, nProbe: Int, refine: Int,
          iters: Int): Unit = {
        val t0 = System.nanoTime()
        val ivf = Similarity.knnIvfPq(emb, qs, 10, nCentroids = 256,
          nProbe = nProbe, refineFactor = refine, trainIters = iters,
          pqTrainIters = iters)
          .select(col("query_id"), col("neighbor_id"))
        val hit = brute.join(ivf, Seq("query_id", "neighbor_id")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS $tag%-26s $dt%8.2f s  " +
          f"recall=${hit.toDouble / tot}%.4f ($hit/$tot, " +
          f"nCentroids=256 nProbe=$nProbe refine=$refine " +
          f"trainIters=$iters pqTrainIters=$iters)")
      }
      // shipped q62 operating point: nProbe=8 + 4x ADC re-rank saturates
      // recall even with data-point codebooks (trainIters = 0)
      recallRow("ivfpq_recall@10", nProbe = 8, refine = 4, iters = 0)
      brute.unpersist()
      // TRAINING LADDER at a deliberately TIGHT point (nProbe=2, no
      // refine re-rank) where codebook quality is the binding constraint:
      // the measured curve for the Lloyd-rounds lever knnIvfPq's scaladoc
      // promises — trainIters for the IVF coarse quantizer AND
      // pqTrainIters for the per-subspace PQ codebooks. Ground truth must
      // be the DISTINCT base vectors, not the replica corpus: replicas
      // differ by a constant shift far below PQ granularity, so untrained
      // data-point codebooks tie all 19 replicas of a query exactly and
      // the id-ascending tiebreak happens to equal the true cosine order
      // (replica i has the larger id AND the smaller cosine) — an
      // artificial recall=1.0 that Lloyd-averaged entries then 'lose' by
      // breaking the tie (~10/19). Distinct-vector ground truth measures
      // codebook quality, not tie luck.
      val base = emb.filter(col("vec_id") < 2000)
      val bruteBase = Similarity.knnBruteForce(base, qs, 10)
        .select(col("query_id"), col("neighbor_id")).cache()
      val totBase = bruteBase.count()
      for (iters <- Seq(0, 2, 5)) {
        val t0 = System.nanoTime()
        val ivf = Similarity.knnIvfPq(base, qs, 10, nCentroids = 64,
          nProbe = 2, refineFactor = 1, trainIters = iters,
          trainSample = 1024, pqTrainIters = iters, pqTrainSample = 1024)
          .select(col("query_id"), col("neighbor_id"))
        val hit = bruteBase.join(ivf, Seq("query_id", "neighbor_id"))
          .count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS ivfpq_tight@10_t$iters%-14s $dt%8.2f s  " +
          f"recall=${hit.toDouble / totBase}%.4f ($hit/$totBase, " +
          f"base corpus 2000, nCentroids=64 nProbe=2 refine=1 " +
          f"trainIters=$iters pqTrainIters=$iters)")
      }
      // which lever DOES bind at the tight point — widen the probe vs
      // deepen the exact re-rank, one at a time from the t0 baseline
      def leverRow(tag: String, nProbe: Int, refine: Int): Unit = {
        val t0p = System.nanoTime()
        val got = Similarity.knnIvfPq(base, qs, 10, nCentroids = 64,
          nProbe = nProbe, refineFactor = refine, trainIters = 0,
          pqTrainIters = 0)
          .select(col("query_id"), col("neighbor_id"))
        val hitP = bruteBase.join(got, Seq("query_id", "neighbor_id"))
          .count()
        println(f"STRESS $tag%-26s ${(System.nanoTime() - t0p) / 1e9}%8.2f" +
          f" s  recall=${hitP.toDouble / totBase}%.4f ($hitP/$totBase, " +
          f"base corpus 2000, nCentroids=64 nProbe=$nProbe " +
          f"refine=$refine trainIters=0)")
      }
      leverRow("ivfpq_tight@10_probe4", nProbe = 4, refine = 1)
      leverRow("ivfpq_tight@10_refine4", nProbe = 2, refine = 4)
      bruteBase.unpersist()
    }

    // STREAMING CURATION LADDER: feed the replicated corpus through
    // curateDocBatch (the exact function startCurated's foreachBatch
    // runs) in bounded micro-batches against a GROWING corpus, with a
    // mid-ladder crash replay. Proves (a) per-batch cost tracks
    // batch x bucket-occupancy plus one linear corpus-index pass — never
    // corpus^2; (b) the adjudicated-id anti-join makes a replayed batch a
    // no-op at scale, not just in the unit fixture.
    if (enabled("curated")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_curated_").toString
      val corpusDir = s"$root/corpus"
      val victimsDir = s"$root/victims"
      val batches = 10
      val n = nDocs0 * repl
      val per = n / batches
      def batchDf(b: Int) = docs
        .filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.curateDocBatch(
          spark, batchDf(b), corpusDir, Some(victimsDir),
          threshold = 0.8, maxBucketSize = 1000)
        val dt = (System.nanoTime() - t0) / 1e9
        val sz = spark.read.parquet(corpusDir).count()
        println(f"STRESS curated_batch_$b%-14s $dt%8.2f s  corpus=$sz")
        if (b == batches / 2) {
          // crash replay mid-ladder: the previous batch again, verbatim
          val c0 = sz
          val t1 = System.nanoTime()
          graft.streaming.StreamingIngest.curateDocBatch(
            spark, batchDf(b), corpusDir, Some(victimsDir),
            threshold = 0.8, maxBucketSize = 1000)
          val rt = (System.nanoTime() - t1) / 1e9
          val c1 = spark.read.parquet(corpusDir).count()
          require(c1 == c0, s"replay must be a no-op: $c0 -> $c1")
          println(f"STRESS curated_replay       $rt%8.2f s  corpus=$c1 (no-op ok)")
        }
      }
      val victims = spark.read.parquet(victimsDir).count()
      println(s"STRESS curated_done: corpus=" +
        s"${spark.read.parquet(corpusDir).count()} victims=$victims")
    }
    // round-10: the curation ladder THROUGH ManifestSink — per-batch
    // atomic visibility of victim/index/corpus appends; the delta vs the
    // plain 'curated' ladder is the staging+move+commit overhead per
    // batch (three commits instead of three bare parquet appends)
    if (enabled("curated_ms")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_curated_ms_").toString
      val corpusDir = s"$root/corpus"
      val batches = 10
      val n = nDocs0 * repl
      val per = n / batches
      def batchDf(b: Int) = docs
        .filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.curateDocBatch(
          spark, batchDf(b), corpusDir, Some(s"$root/victims"),
          threshold = 0.8, maxBucketSize = 1000,
          sink = Some(ManifestSink))
        val dt = (System.nanoTime() - t0) / 1e9
        val sz = ManifestSink.readBack(spark, corpusDir).count()
        println(f"STRESS curated_ms_batch_$b%-11s $dt%8.2f s  corpus=$sz")
      }
      println(s"STRESS curated_ms_done: corpus=" +
        s"${ManifestSink.readBack(spark, corpusDir).count()} victims=" +
        s"${ManifestSink.readBack(spark, s"$root/victims").count()}")
    }
    // OPTIMIZE ladder: the small-file debris a per-batch ingest
    // accumulates (one parquet file per append) vs the bin-packed state —
    // the measured delta is scan-task fan-out + footer/listing overhead
    if (enabled("optimize_smallfiles")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_opt_").toString
      val dest = s"$root/t"
      val batches = 200
      val per = (nDocs0 * repl) / batches
      (0 until batches).foreach { b =>
        ManifestSink.append(
          docs.filter(col("doc_id") >= b * per &&
            col("doc_id") < (b + 1) * per), dest, None)
      }
      def timeRead(name: String): Unit = {
        val t0 = System.nanoTime()
        val n = ManifestSink.readBack(spark, dest).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS $name%-28s $dt%8.2f s  rows=$n")
      }
      timeRead("optimize_read_before")
      val t0 = System.nanoTime()
      val packed = ManifestSink.optimize(spark, dest)
      println(f"STRESS optimize_run             " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  packed=$packed")
      timeRead("optimize_read_after")
    }
    // manifest-stats data skipping: 50 clustered-id batches; a selective
    // range read prunes to ~1 file by pure metadata vs scanning all
    if (enabled("data_skipping")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_skip_").toString
      val dest = s"$root/t"
      val batches = 50
      val per = (nDocs0 * repl) / batches
      (0 until batches).foreach { b =>
        ManifestSink.statsAppend(
          docs.filter(col("doc_id") >= b * per &&
            col("doc_id") < (b + 1) * per), dest, None, Seq("doc_id"))
      }
      val (lo, hi) = (7.0 * per, 7.0 * per + per / 2)
      def timed(name: String)(df: => DataFrame): Unit = {
        val t0 = System.nanoTime()
        val n = df.count()
        println(f"STRESS $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f" +
          f" s  rows=$n")
      }
      timed("skipping_full_filter")(
        ManifestSink.readBack(spark, dest)
          .where(col("doc_id").cast("double").between(lo, hi)))
      timed("skipping_pruned")(
        ManifestSink.readBackWhere(spark, dest, "doc_id", lo, hi))
    }
    // Z-order OPTIMIZE: shuffled two-column ingest (every file spans both
    // domains — zero pruning), Morton repack, then a slab read on EACH
    // column; the before/after file counts and read times are the payoff
    // (a lexicographic sort would leave the y slab reading everything).
    if (enabled("zorder")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_zorder_").toString
      val dest = s"$root/t"
      val n = (nDocs0 * repl).toLong
      val batches = 20
      val per = n / batches
      val rows = spark.range(n).select(col("id").as("x"),
        pmod(col("id") * 2654435761L, lit(n)).as("y"))
      (0 until batches).foreach { b =>
        // round-robin slices: each batch spans the full x AND y domain
        ManifestSink.statsAppend(
          rows.where(pmod(col("x"), lit(batches.toLong)) === b)
            .coalesce(1),
          dest, None, Seq("x", "y"))
      }
      val total = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(dest))
          .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      }
      val t0 = System.nanoTime()
      val packed = ManifestSink.optimize(spark, dest,
        targetBytes = total / 16 + 1, zorderBy = Seq("x", "y"),
        zorderBits = 5)
      println(f"STRESS zorder_optimize          " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  packed=$packed")
      def slab(name: String, c: String): Unit = {
        val t = System.nanoTime()
        val df = ManifestSink.readBackWhere(spark, dest, c,
          (n / 2).toDouble, (n / 2 + n / 16).toDouble)
        val cnt = df.count()
        println(f"STRESS $name%-28s ${(System.nanoTime() - t) / 1e9}%8.2f" +
          f" s  rows=$cnt files=${df.inputFiles.length}")
      }
      slab("zorder_slab_x", "x")
      slab("zorder_slab_y", "y")
    }
    // Interval-overlap join ladder: n activity windows vs n/8 audit
    // windows — the bucketed equi-join's cost tracks pair output, never
    // the n^2 cross product the naive theta-join would plan.
    if (enabled("interval_join")) {
      val n = (nDocs0 * repl).toLong
      val left = spark.range(n).select(col("id").as("lid"),
        col("id").as("ls"), (col("id") + pmod(col("id"), lit(50L)))
          .as("le"))
      val right = spark.range(n / 8).select(col("id").as("rid"),
        (col("id") * 8 - 20).as("rs"), (col("id") * 8 + 20).as("re"))
      val t0 = System.nanoTime()
      val pairs = graft.operators.IntervalJoin
        .overlapJoin(left, "ls", "le", right, "rs", "re", 64L).count()
      println(f"STRESS interval_join            " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  pairs=$pairs")
    }
    // PageRank ladder: 8 power iterations over a deterministic sparse
    // graph (4 out-edges per node + dangling tail); per-round cost is
    // one co-partitioned join + one agg, so total time ~ iters x edges.
    if (enabled("pagerank")) {
      val n = (nDocs0 * repl).toLong
      val edges = spark.range(4 * n).select(
        pmod(col("id"), lit(n)).as("src"),
        pmod(col("id") * 2654435761L + 12345L, lit(n + n / 4)).as("dst"))
      val t0 = System.nanoTime()
      val pr = graft.operators.Graph.pageRank(edges, iters = 8)
      val top = pr.agg(sum(col("rank")), count(lit(1))).head
      println(f"STRESS pagerank                 " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        f"nodes=${top.getLong(1)} mass=${top.getDouble(0)}%.6f")
    }
    // Copy-on-write delete ladder: 50-file clustered ingest, slab delete
    // — rewrite cost must track the 1-2 candidate files, not the table.
    if (enabled("cow_delete")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_cow_").toString
      val dest = s"$root/t"
      val batches = 50
      val per = (nDocs0 * repl) / batches
      (0 until batches).foreach { b =>
        ManifestSink.statsAppend(
          docs.filter(col("doc_id") >= b * per &&
            col("doc_id") < (b + 1) * per), dest, None, Seq("doc_id"))
      }
      val t0 = System.nanoTime()
      val gone = ManifestSink.deleteWhere(spark, dest,
        col("doc_id").between(7L * per + 10, 8L * per - 10))
      println(f"STRESS cow_delete               " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  deleted=$gone")
      val t1 = System.nanoTime()
      val left = ManifestSink.readBack(spark, dest).count()
      println(f"STRESS cow_readback             " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  rows=$left")
      // merge a CDC-shaped batch into the same table: updates for one
      // slab + inserts beyond the domain — rewrite cost must track the
      // slab's candidate files, never the table
      val srcBatch = docs
        .filter(col("doc_id") >= 20 * per && col("doc_id") < 21 * per)
        .select(col("doc_id"), lit("merged").as("merged_marker"))
        .unionByName(spark.range(500)
          .select((col("id") + 100L * nDocs0 * repl).as("doc_id"),
            lit("fresh").as("merged_marker")))
      val t2 = System.nanoTime()
      val (u, i) = ManifestSink.mergeInto(spark, dest,
        srcBatch.select(col("doc_id"),
          col("merged_marker").as("text")),
        "doc_id", statsCols = Seq("doc_id"))
      println(f"STRESS cow_merge                " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s  updated=$u " +
        f"inserted=$i")
    }
    // Scattered-change ladder: a delete whose keys hit EVERY file — the
    // copy-on-write worst case (rewrites the whole table) vs the
    // merge-on-read deletion-vector path (commits O(deleted rows) of
    // sidecar). Reads after each must agree; optimize materializes the
    // tombstones and restores plain-scan reads.
    if (enabled("mor_delete")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_mor_").toString
      val batches = 50
      val per = (nDocs0 * repl) / batches
      def build(dest: String): Unit =
        (0 until batches).foreach { b =>
          ManifestSink.statsAppend(
            docs.filter(col("doc_id") >= b * per &&
              col("doc_id") < (b + 1) * per), dest, None, Seq("doc_id"))
        }
      val destCow = s"$root/cow"; val destMor = s"$root/mor"
      build(destCow); build(destMor)
      val pred = pmod(col("doc_id"), lit(7L)) === 0
      val t0 = System.nanoTime()
      val goneCow = ManifestSink.deleteWhere(spark, destCow, pred)
      println(f"STRESS mor_ladder_cow_delete    " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  deleted=$goneCow " +
        f"(rewrites ~all $batches files)")
      val t1 = System.nanoTime()
      val goneMor = ManifestSink.deleteWhereMor(spark, destMor, pred)
      println(f"STRESS mor_ladder_mor_delete    " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  deleted=$goneMor " +
        f"(tombstones only, 0 rewrites)")
      require(goneCow == goneMor)
      val t2 = System.nanoTime()
      val nCow = ManifestSink.readBack(spark, destCow).count()
      println(f"STRESS mor_ladder_cow_read      " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s  rows=$nCow")
      val t3 = System.nanoTime()
      val nMor = ManifestSink.readBack(spark, destMor).count()
      println(f"STRESS mor_ladder_mor_read      " +
        f"${(System.nanoTime() - t3) / 1e9}%8.2f s  rows=$nMor " +
        "(anti-join tax)")
      require(nCow == nMor)
      // the change feed decomposes the dv version at O(deleted rows):
      // one sidecar read + a positions join against the marked files
      val tf = System.nanoTime()
      val nCh = ManifestSink.readChangesBetween(spark, destMor,
        batches - 1L).count()
      println(f"STRESS mor_ladder_feed_read     " +
        f"${(System.nanoTime() - tf) / 1e9}%8.2f s  changes=$nCh " +
        "(delete pre-images from the sidecar)")
      require(nCh == goneMor)
      val t4 = System.nanoTime()
      ManifestSink.optimize(spark, destMor, targetBytes = 1L << 30)
      println(f"STRESS mor_ladder_materialize   " +
        f"${(System.nanoTime() - t4) / 1e9}%8.2f s  (optimize applies " +
        "tombstones)")
      val t5 = System.nanoTime()
      val nOpt = ManifestSink.readBack(spark, destMor).count()
      println(f"STRESS mor_ladder_opt_read      " +
        f"${(System.nanoTime() - t5) / 1e9}%8.2f s  rows=$nOpt")
      require(nOpt == nMor)
    }
    // Concurrent-writer liveness: 4 appender threads racing 60 staged
    // atomic commits against an OPTIMIZE loop on the same table — the
    // commit protocol's THROUGHPUT number (commits/sec under
    // contention) and the starvation check (every writer's every batch
    // must land; optimize either absorbs the interleaved appends or
    // aborts and retries, never eats one).
    if (enabled("writer_liveness")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_wl_").toString
      val dest = s"$root/t"
      val nWriters = 4
      val perWriter = 15
      val rowsPer = 1000L
      ManifestSink.statsAppend(
        spark.range(rowsPer).selectExpr("id", "-1L AS writer"),
        dest, None, Seq("id"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val optRuns = new java.util.concurrent.atomic.AtomicLong(0)
      val optLanded = new java.util.concurrent.atomic.AtomicLong(0)
      val writersLive = new java.util.concurrent.atomic.AtomicBoolean(true)
      val t0 = System.nanoTime()
      val writers = (0 until nWriters).map { w =>
        new Thread(() => {
          try {
            for (i <- 0 until perWriter) {
              ManifestSink.statsAppend(
                spark.range(rowsPer).selectExpr(
                  s"id + ${(w.toLong * perWriter + i + 1) * rowsPer} AS id",
                  s"${w}L AS writer"),
                dest, None, Seq("id"))
            }
          } catch { case e: Throwable => errs.add(e) }
        }, s"wl-writer-$w")
      }
      val optimizer = new Thread(() => {
        try {
          while (writersLive.get()) {
            optRuns.incrementAndGet()
            if (ManifestSink.optimize(spark, dest,
                targetBytes = 1L << 30) > 0) optLanded.incrementAndGet()
            Thread.sleep(100)
          }
        } catch { case e: Throwable => errs.add(e) }
      }, "wl-optimizer")
      writers.foreach(_.start()); optimizer.start()
      writers.foreach(_.join())
      writersLive.set(false); optimizer.join()
      val secs = (System.nanoTime() - t0) / 1e9
      require(errs.isEmpty, s"concurrent writers must not fail: $errs")
      // STARVATION CHECK: every writer's every batch landed
      val back = ManifestSink.readBack(spark, dest)
      val total = back.count()
      val expected = rowsPer * (nWriters * perWriter + 1)
      require(total == expected, s"lost commits: $total != $expected")
      val perW = back.groupBy(col("writer")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      (0 until nWriters).foreach(w => require(
        perW.getOrElse(w.toLong, 0L) == rowsPer * perWriter,
        s"writer $w starved: ${perW.get(w.toLong)}"))
      val commits = nWriters * perWriter
      println(f"STRESS writer_liveness            $secs%8.2f s  " +
        f"commits=$commits commits_per_sec=${commits / secs}%.1f " +
        f"optimize_runs=${optRuns.get()} optimize_landed=" +
        f"${optLanded.get()}")
    }
    // Vectorized-dv-scan ladder: a ~1%-tombstoned table must scan
    // within spitting distance of its dv-less twin — the
    // GraftDvScanRule rewrite keeps columnar batches + pushdown and
    // re-applies tombstones as a row_index filter, where the in-format
    // fallback demotes the WHOLE relation to row-based reading.
    if (enabled("dv_vectorized")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_dvvec_").toString
      val batches = 50
      val per = (nDocs0 * repl) / batches
      def build(dest: String): Unit =
        (0 until batches).foreach { b =>
          ManifestSink.statsAppend(
            docs.filter(col("doc_id") >= b * per &&
              col("doc_id") < (b + 1) * per), dest, None, Seq("doc_id"))
        }
      val destPlain = s"$root/plain"; val destDv = s"$root/dv"
      build(destPlain); build(destDv)
      val gone = ManifestSink.deleteWhereMor(spark, destDv,
        pmod(col("doc_id"), lit(100L)) === 0) // ~1%, every file hit
      def findScan(p: org.apache.spark.sql.execution.SparkPlan)
          : Option[Boolean] = p match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => findScan(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => findScan(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          Some(s.supportsColumnar)
        case other =>
          other.children.flatMap(c => findScan(c)).headOption
      }
      def timeScan(name: String, dest: String): Long = {
        // resolve the relation once (resolution + dv sidecar load are
        // per-relation, not per-scan), then time a FRESH aggregation
        // over it — the steady-state scan cost a 100 TB table pays on
        // every query (a fresh plan, so no shuffle-stage reuse)
        val rel = spark.read.format("graft").load(dest)
        def agg() = rel.agg(sum(length(col("text"))).as("bytes"),
          count(lit(1)).as("rows"))
        val t0 = System.nanoTime()
        agg().collect()
        val cold = (System.nanoTime() - t0) / 1e9
        val fresh = agg()
        val t1 = System.nanoTime()
        val r = fresh.collect()(0)
        val warm = (System.nanoTime() - t1) / 1e9
        val columnar =
          findScan(fresh.queryExecution.executedPlan).getOrElse(false)
        println(f"STRESS $name%-28s $warm%8.2f s  (cold $cold%.2f s) " +
          f"rows=${r.getLong(1)} columnar=$columnar")
        r.getLong(1)
      }
      val nPlain = timeScan("dvvec_plain_twin", destPlain)
      val nVec = timeScan("dvvec_dv_vectorized", destDv)
      spark.conf.set("spark.graft.dv.vectorized", "false")
      val nRow = timeScan("dvvec_dv_rowbased", destDv)
      spark.conf.set("spark.graft.dv.vectorized", "true")
      require(nVec == nPlain - gone && nRow == nVec)
    }
    // Purge ladder: a CONCENTRATED mor delete guts 5 of 50 files (60%
    // of their rows); purge(0.9) must rewrite exactly those 5 —
    // restoring the plain-scan read — while the other 45 files keep
    // their bytes. The contrast is the full-table optimize, which
    // repacks everything to achieve the same read cost.
    if (enabled("purge_ladder")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_purge_").toString
      val batches = 50
      val per = (nDocs0 * repl) / batches
      def build(dest: String): Unit =
        (0 until batches).foreach { b =>
          ManifestSink.statsAppend(
            docs.filter(col("doc_id") >= b * per &&
              col("doc_id") < (b + 1) * per), dest, None, Seq("doc_id"))
        }
      val destP = s"$root/p"; val destO = s"$root/o"
      build(destP); build(destO)
      val slab = col("doc_id") >= 7 * per && col("doc_id") < 12 * per &&
        pmod(col("doc_id"), lit(5L)) < 3
      val goneP = ManifestSink.deleteWhereMor(spark, destP, slab)
      val goneO = ManifestSink.deleteWhereMor(spark, destO, slab)
      require(goneP == goneO)
      val t0 = System.nanoTime()
      val nDv = ManifestSink.readBack(spark, destP).count()
      println(f"STRESS purge_ladder_dv_read     " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$nDv " +
        "(tombstone anti-join on every read)")
      val t1 = System.nanoTime()
      val purged = ManifestSink.purge(spark, destP, 0.9)
      println(f"STRESS purge_ladder_purge       " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  files=$purged of " +
        f"$batches (only the gutted files rewrite)")
      val t2 = System.nanoTime()
      val nP = ManifestSink.readBack(spark, destP).count()
      println(f"STRESS purge_ladder_read_after  " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s  rows=$nP " +
        "(plain scan restored)")
      require(nP == nDv)
      val t3 = System.nanoTime()
      ManifestSink.optimize(spark, destO, targetBytes = 1L << 30)
      println(f"STRESS purge_ladder_optimize    " +
        f"${(System.nanoTime() - t3) / 1e9}%8.2f s  (the full-repack " +
        "alternative, same read restoration)")
      require(ManifestSink.readBack(spark, destO).count() == nP)
    }
    // Checkpoint-resolve ladder: a minute-cadence streaming table
    // reaches hundreds of retained versions; every operation's driver
    // cost starts with resolving the log. Without a checkpoint a COLD
    // driver opens O(versions) manifests per operation (the cache only
    // helps repeats within one driver); with the summary it opens
    // O(tail). History stays fully retained — unlike compact, time
    // travel to v1 still works after checkpointing.
    if (enabled("ckpt_resolve")) {
      val saved = ManifestSink.checkpointInterval
      ManifestSink.checkpointInterval = 0
      try {
        val root = java.nio.file.Files
          .createTempDirectory("stress_ckpt_").toString
        val dest = s"$root/t"
        val one = spark.range(1).select(col("id").as("doc_id"),
          lit("x").as("text"))
        def coldResolveSecs(reps: Int): Double = {
          val t0 = System.nanoTime()
          (0 until reps).foreach { _ =>
            ManifestSink.invalidateMfCache()
            ManifestSink.metadataCount(spark, dest)
          }
          (System.nanoTime() - t0) / 1e9 / reps
        }
        def grow(to: Int, from: Int): Unit =
          (from until to).foreach { i =>
            ManifestSink.statsAppend(
              one.select((col("doc_id") + i).as("doc_id"), col("text")),
              dest, None, Seq("doc_id"))
          }
        grow(120, 0)
        val cold120 = coldResolveSecs(10)
        grow(240, 120)
        val cold240 = coldResolveSecs(10)
        val th = System.nanoTime()
        ManifestSink.invalidateMfCache()
        val histN = ManifestSink.history(spark, dest).count()
        val histCold = (System.nanoTime() - th) / 1e9
        println(f"STRESS ckpt_nockpt_resolve      " +
          f"$cold240%8.2f s  per cold op at 240 versions " +
          f"(${cold120}%.2f s at 120 — grows with the log; " +
          f"history($histN rows) $histCold%.2f s cold)")
        ManifestSink.checkpoint(spark, dest)
        val ck240 = coldResolveSecs(10)
        grow(360, 240) // 120 more commits on top of the checkpoint
        val ck360tail = coldResolveSecs(10)
        ManifestSink.checkpoint(spark, dest)
        val ck360 = coldResolveSecs(10)
        println(f"STRESS ckpt_resolve             " +
          f"$ck240%8.2f s  per cold op at the checkpoint " +
          f"(${ck360tail}%.2f s with a 120-commit tail, " +
          f"${ck360}%.2f s re-checkpointed at 360 — FLAT vs versions)")
        // retained history: time travel below both checkpoints
        require(ManifestSink.readVersion(spark, dest, 1).count() == 2)
        require(ManifestSink.readBack(spark, dest).count() == 360)
      } finally ManifestSink.checkpointInterval = saved
    }
    // Bloom-index point-lookup ladder: doc_ids hash-scattered across 50
    // files make every file's min/max span the whole key range — the
    // stats-only equality lookup reads the table; the per-file bloom
    // prunes each lookup to ~1 file via driver-side bit tests. The gap
    // should WIDEN with table size (full scan grows, pruned read
    // doesn't).
    if (enabled("bloom_lookup")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_bloom_").toString
      val dest = s"$root/t"
      val n = nDocs0 * repl
      val t0 = System.nanoTime()
      ManifestSink.statsAppend(
        docs.select(col("doc_id"), col("text"),
          length(col("text")).as("n_chars"))
          .repartition(50, col("doc_id")),
        dest, None, Seq("n_chars"), bloomCols = Seq("doc_id"))
      println(f"STRESS bloom_build              " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n files=50")
      val keys = (1 to 10).map(i => (i.toLong * (n / 11)).toString)
      val t1 = System.nanoTime()
      val hits = keys.map(k => ManifestSink.readBackWherePred(spark,
        dest, ManifestSink.SkipPredicate.StrEq("doc_id", k)).count()).sum
      println(f"STRESS bloom_lookup_x10         " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  hits=$hits " +
        "(bloom-pruned, ~1 file each)")
      // the same 10 keys as ONE StrIn read: one job, pruned to the
      // union of per-key bloom verdicts
      val tIn = System.nanoTime()
      val hitsIn = ManifestSink.readBackWherePred(spark, dest,
        ManifestSink.SkipPredicate.StrIn("doc_id", keys)).count()
      println(f"STRESS bloom_lookup_in10        " +
        f"${(System.nanoTime() - tIn) / 1e9}%8.2f s  hits=$hitsIn " +
        "(one IN-list read)")
      require(hitsIn == hits)
      val t2 = System.nanoTime()
      val hits2 = keys.map(k => ManifestSink.readBackWhere(spark, dest,
        "doc_id", k.toDouble, k.toDouble).count()).sum
      println(f"STRESS bloom_statsonly_x10      " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s  hits=$hits2 " +
        "(min/max cannot prune a scattered key: full scans)")
      require(hits == hits2)
      // merge candidate refinement: a 5-key scattered mor upsert probes
      // the blooms and scans only the files that might hold a key; the
      // same upsert on a bloom-less twin scans every range candidate
      val destNb = s"$root/tnb"
      ManifestSink.statsAppend(
        docs.select(col("doc_id"), col("text"),
          length(col("text")).as("n_chars"))
          .repartition(50, col("doc_id")),
        destNb, None, Seq("n_chars"))
      val upd = {
        import spark.implicits._
        (1 to 5).map(i => (i.toLong * (n / 6), "updated", -1L))
          .toDF("doc_id", "text", "n_chars")
      }
      val t3 = System.nanoTime()
      val rB = ManifestSink.mergeInto(spark, dest, upd, "doc_id",
        statsCols = Seq("n_chars"), mor = true)
      println(f"STRESS bloom_merge_5keys        " +
        f"${(System.nanoTime() - t3) / 1e9}%8.2f s  " +
        f"updated=${rB._1} (bloom-pruned candidates)")
      val t4 = System.nanoTime()
      val rN = ManifestSink.mergeInto(spark, destNb, upd, "doc_id",
        statsCols = Seq("n_chars"), mor = true)
      println(f"STRESS bloom_merge_nobloom      " +
        f"${(System.nanoTime() - t4) / 1e9}%8.2f s  " +
        f"updated=${rN._1} (all range candidates scanned)")
      require(rB == rN)
    }
    // Bloom SIDECAR density rung: ≥200k distinct keys in ONE file —
    // past the old 2^20 inline cap, where the manifest-embedded layout
    // saturated toward fpp→1. The sidecar layout sizes the filter from
    // occupancy (here ≥2^21 bits), builds the words executor-side, and
    // must hold ~1% fpp. Measured by reconstructing the stored filter
    // from its sidecar words (driver bit tests — no per-probe read).
    if (enabled("bloom_dense")) {
      import graft.ingest.ManifestSink
      val root = java.nio.file.Files
        .createTempDirectory("stress_bloom_dense_").toString
      val dest = s"$root/t"
      val nKeys = 250000
      val t0 = System.nanoTime()
      ManifestSink.statsAppend(
        spark.range(nKeys).select(col("id"),
          concat(lit("key_"), col("id")).as("key")).coalesce(1),
        dest, None, Seq("id"), bloomCols = Seq("key"))
      println(f"STRESS bloom_dense_build        " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  " +
        f"keys=$nKeys files=1 (executor-side word build)")
      val mfLines = {
        val f = new java.io.File(s"$dest/_log").listFiles()
          .filter(_.getName.endsWith(".manifest")).head
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toVector finally src.close()
      }
      val sc = mfLines.find(_.startsWith("bloomsc\t")).get.split('\t')
      val (m, k) = (sc(3).toInt, sc(4).toInt)
      require(m >= (1 << 21), s"sizing saturated: m=$m for $nKeys keys")
      val rows = spark.read.parquet(s"$dest/${sc(5)}")
        .where(col("col") === "key")
        .select(col("w"), col("bits")).collect()
      val bits = new Array[Byte](m >> 3)
      rows.foreach { r =>
        val w = r.getInt(0); val bv = r.getLong(1)
        var b = 0
        while (b < 8) {
          bits(w * 8 + b) = ((bv >>> (b * 8)) & 0xffL).toByte
          b += 1
        }
      }
      val bf = ManifestSink.BloomF(m, k, bits)
      val probes = 50000
      val t1 = System.nanoTime()
      val fp = (0 until probes).count(i => bf.mightContain(
        ManifestSink.BloomF.positions(s"no_$i", m, k)))
      println(f"STRESS bloom_dense_fpp          " +
        f"${(System.nanoTime() - t1) / 1e9}%8.2f s  " +
        f"m=$m fpp=${fp.toDouble / probes}%.4f " +
        f"($probes absent-key probes; old cap was 2^20)")
      require(fp <= probes * 3 / 100, s"fpp ${fp.toDouble / probes}")
      // and the read path still answers point lookups through the
      // sidecar: a present key reads the file, an absent key reads none
      val t2 = System.nanoTime()
      require(ManifestSink.readBackWherePred(spark, dest,
        ManifestSink.SkipPredicate.StrEq("key", "key_123456"))
        .count() == 1)
      require(ManifestSink.countWhere(spark, dest,
        ManifestSink.SkipPredicate.StrEq("key", "nope")) == 0L)
      println(f"STRESS bloom_dense_lookup       " +
        f"${(System.nanoTime() - t2) / 1e9}%8.2f s  " +
        "(hit + metadata-only miss)")
    }
    // Same ladder with the PERSISTED band index: per-batch cost should
    // stay flat-ish as the corpus grows (batch bands + slim index join +
    // touched-partner verify), instead of the linear corpus re-index the
    // recompute path pays.
    if (enabled("curated_idx")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_curated_idx_").toString
      val n = nDocs0 * repl
      val batches = 10
      val per = n / batches
      def batchDf(b: Int) = docs
        .filter(col("doc_id") >= b * per && col("doc_id") < (b + 1) * per)
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.curateDocBatch(
          spark, batchDf(b), s"$root/corpus", Some(s"$root/victims"),
          threshold = 0.8, maxBucketSize = 1000,
          indexDir = Some(s"$root/index"))
        val dt = (System.nanoTime() - t0) / 1e9
        val sz = spark.read.parquet(s"$root/corpus").count()
        println(f"STRESS curated_idx_batch_$b%-10s $dt%8.2f s  corpus=$sz")
      }
      println(s"STRESS curated_idx_done: corpus=" +
        s"${spark.read.parquet(s"$root/corpus").count()} victims=" +
        s"${spark.read.parquet(s"$root/victims").count()} index_rows=" +
        s"${spark.read.parquet(s"$root/index").count()}")
    }

    // round-12: STREAMING MEDIA CURATION LADDER — curateMediaBatch
    // through the same 10-batch growing-corpus protocol as 'curated'.
    // Payloads are REAL PNGs whose 9x8 box structure encodes a 64-bit
    // per-id seed, so dHash(image) is a uniform function of the seed and
    // accidental cross-id pairs are ~impossible; one in ten ids per later
    // batch is a RE-ENCODED copy of a batch-0 original (same box
    // structure at 3x3-pixel boxes instead of 2x2 — different bytes,
    // different dimensions, equal dHash: the copy class byte hashes
    // cannot pair), and one in ten is undecodable text (null hash,
    // always survives). Per-batch cost must stay flat: batch-side dhash
    // + slim hamming pairing against STORED 8-byte hashes — the corpus
    // is never re-decoded.
    def mediaLadder(tag: String,
        sink: Option[graft.ingest.Ingest.DestinationSink]): Unit = {
      import spark.implicits._
      import graft.multimodal.Multimodal
      val root = java.nio.file.Files
        .createTempDirectory(s"stress_${tag}_").toString
      val corpusDir = s"$root/corpus"
      val victimsDir = s"$root/victims"
      val batches = 10
      val per = ((nDocs0 * repl) / batches).toInt
      def weyl(x: Long): Long = { // splitmix64 finalizer: id -> seed
        var z = x * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^ (z >>> 31)
      }
      def boxPng(seed: Long, box: Int): Array[Byte] =
        Multimodal.pngPixelBytes(9 * box, 8 * box, (x, y) => {
          val r = y / box
          var m = 128
          for (k <- 0 until (x / box))
            m += (if (((seed >>> ((r * 8 + k) & 63)) & 1) == 1) 6 else -6)
          (m, m, m)
        })
      def mediaBatch(b: Int): DataFrame =
        spark.range(b.toLong * per, (b + 1).toLong * per).as[Long]
          .map { id =>
            if (id % 10 == 7)
              (id, "image", s"undecodable payload $id".getBytes("UTF-8"))
            else if (id % 10 == 3 && id >= per)
              (id, "image", boxPng(weyl(id % per), 3)) // re-encoded copy
            else (id, "image", boxPng(weyl(id), 2))    // original content
          }.toDF("media_id", "kind", "payload")
      def corpusCount(): Long = sink match {
        case Some(s) => s.readBack(spark, corpusDir).count()
        case None    => spark.read.parquet(corpusDir).count()
      }
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.curateMediaBatch(
          spark, mediaBatch(b), corpusDir, Some(victimsDir),
          maxHamming = 4, maxBucketSize = 1000, sink = sink)
        val dt = (System.nanoTime() - t0) / 1e9
        val sz = corpusCount()
        println(f"STRESS ${tag}_batch_$b%-10s $dt%8.2f s  corpus=$sz")
        if (b == batches / 2 && sink.isEmpty) {
          // crash replay mid-ladder: the previous batch again, verbatim
          val c0 = sz
          val t1 = System.nanoTime()
          graft.streaming.StreamingIngest.curateMediaBatch(
            spark, mediaBatch(b), corpusDir, Some(victimsDir),
            maxHamming = 4, maxBucketSize = 1000, sink = sink)
          val rt = (System.nanoTime() - t1) / 1e9
          val c1 = corpusCount()
          require(c1 == c0, s"replay must be a no-op: $c0 -> $c1")
          println(f"STRESS ${tag}_replay     $rt%8.2f s  corpus=$c1 (no-op ok)")
        }
      }
      val victims = sink match {
        case Some(s) => s.readBack(spark, victimsDir).count()
        case None    => spark.read.parquet(victimsDir).count()
      }
      println(s"STRESS ${tag}_done: corpus=${corpusCount()} " +
        s"victims=$victims (expect victims=${(batches - 1) * (per / 10)})")
    }
    if (enabled("curated_media")) mediaLadder("curated_media", None)
    if (enabled("curated_media_ms"))
      mediaLadder("curated_media_ms", Some(ManifestSink))

    // round-12: incremental term-index ladder — per-batch cost is the
    // batch's own tokenize + two slim doc_id anti-joins against stored
    // ids; the persisted index is NEVER re-tokenized, so cost stays
    // flat while the indexed corpus grows 10x
    if (enabled("term_index")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_term_index_").toString
      val batches = 10
      val per = ((nDocs0 * repl) / batches).toInt
      def batchDf(b: Int) = docs
        .filter(col("doc_id") >= b.toLong * per &&
          col("doc_id") < (b + 1).toLong * per)
      (0 until batches).foreach { b =>
        val t0 = System.nanoTime()
        graft.streaming.StreamingIngest.indexDocBatch(
          spark, batchDf(b), s"$root/index", s"$root/dl")
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"STRESS term_index_batch_$b%-12s $dt%8.2f s")
      }
      println(s"STRESS term_index_done: index_rows=" +
        s"${spark.read.parquet(s"$root/index").count()} docs=" +
        s"${spark.read.parquet(s"$root/dl").count()}")
    }

    // round-12: EXACT quantiles by value-domain histogram narrowing —
    // three slim count-aggregate scans, no task ever buffers the corpus.
    // The diag row is the built-in exact percentile: one sort-based
    // aggregation buffer holding EVERY value in a single task (the
    // straggler shape the operator retires; fine at 100k, fatal at 100G).
    if (enabled("quantile")) {
      val tc = docs.select(graft.functions.TextAnalysis
        .tokenCount(col("text")).cast("long").as("n")).localCheckpoint()
      val t0 = System.nanoTime()
      val qv = graft.operators.Quantile.quantilesDisc(
        tc, "n", Seq(0.5, 0.9, 0.99))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"STRESS quantile_histogram        $dt%8.2f s  " +
        qv.map { case (q, v) => s"p${(q * 100).toInt}=$v" }.mkString(" "))
      diag("quantile_buffer_diag")(
        tc.agg(expr("percentile(n, array(0.5, 0.9, 0.99))").as("p")))
      // grouped form: one plan, window partitions hold distinct VALUES
      timeCount("quantile_grouped")(
        graft.operators.Quantile.groupedQuantilesDisc(
          docs.withColumn("lang", (col("doc_id") % 5).cast("string"))
            .select(col("lang"), graft.functions.TextAnalysis
              .tokenCount(col("text")).cast("long").as("n")),
          "lang", "n", Seq(0.5, 0.9, 0.99)))
      // round-14 grouped NARROWING form (continuous/unbounded domains):
      // per-group interval state, (group, cell) aggregation passes
      timeCount("quantile_grouped_narrow")(
        graft.operators.Quantile.groupedQuantilesDiscLong(
          docs.withColumn("lang", (col("doc_id") % 5).cast("string"))
            .select(col("lang"), graft.functions.TextAnalysis
              .tokenCount(col("text")).cast("long").as("n")),
          "lang", "n", Seq(0.5, 0.9, 0.99)))
    }

    // round-12: graded decontamination at 20x — per-doc span totals ride
    // the same frame as the shared-span counts (one extra slim agg over
    // the binary q66 shape)
    timeCount("contamination_frac")(
      graft.operators.Dedup.contaminationFraction(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0), w = 8))

    // FILE-INDEX resolution rung (r17): the manifest's fsize/schemaj
    // lines make building a snapshot's FileIndex + schema a pure LOG
    // read. Contrast: the same 400-file table with those lines
    // STRIPPED (a legacy log) pays one getFileStatus per file — which
    // on the local Hadoop FS forks a process per stat, and on an
    // object store is a HEAD request per file — plus a footer-merge
    // job for the schema.
    if (enabled("fileindex")) {
      import graft.ingest.ManifestSink
      val root = java.nio.file.Files
        .createTempDirectory("stress_fidx_").toString
      val dest = s"$root/t"
      val nFiles = 400
      ManifestSink.statsAppend(
        spark.range(nFiles * 10L).select(col("id"),
          (col("id") % 7).cast("double").as("v"))
          .repartition(nFiles),
        dest, None, Seq("id"))
      def coldResolve(reps: Int): Double = {
        val t0 = System.nanoTime()
        (0 until reps).foreach { _ =>
          ManifestSink.invalidateMfCache()
          val df = spark.read.format("graft").load(dest)
          require(df.inputFiles.length == nFiles)
          require(df.schema.fieldNames.length == 2)
        }
        (System.nanoTime() - t0) / 1e9 / reps
      }
      val withLines = coldResolve(5)
      // strip fsize + schemaj → the legacy fallback path
      new java.io.File(s"$dest/_log").listFiles()
        .filter(_.getName.endsWith(".manifest")).foreach { mf =>
          val lines = java.nio.file.Files.readAllLines(mf.toPath)
          val kept = new java.util.ArrayList[String]()
          lines.forEach(l => if (!l.startsWith("fsize\t") &&
            !l.startsWith("schemaj\t")) kept.add(l))
          java.nio.file.Files.write(mf.toPath, kept)
        }
      val stripped = coldResolve(2)
      println(f"STRESS fileindex_log            " +
        f"$withLines%8.2f s  cold index+schema at $nFiles files " +
        f"from the LOG (fsize+schemaj lines)")
      println(f"STRESS fileindex_stat           " +
        f"$stripped%8.2f s  same table stripped to the legacy path " +
        f"(per-file stat + footer sweep)")
    }
    // ADMISSION-CONTROL DRAIN rung (r19): a reader cold-tailing a
    // table with a YEAR of history starts against a DEEP commit log.
    // `maxVersionsPerTrigger` (default 64) bounds each micro-batch's
    // union width, so per-batch planning cost stays flat no matter
    // how deep the backlog; the uncapped variant plans ONE union over
    // every version — the blowup the default cap exists to avoid.
    // 1,000 one-file commits are forged directly into the log (the
    // rung measures DRAIN cost, not commit cost; the manifest line
    // format is the same one the fileindex rung manipulates).
    if (enabled("draindepth")) {
      import org.apache.spark.sql.streaming.Trigger
      val nCommits = 1000
      val rowsPer = 5L
      val root = java.nio.file.Files
        .createTempDirectory("stress_drain_").toString
      val dest = s"$root/t"
      val stage = s"$root/stage"
      spark.range(nCommits * rowsPer).select(col("id"),
          (col("id") % 97).cast("double").as("v"))
        .repartition(nCommits).write.parquet(stage)
      val hfs = new org.apache.hadoop.fs.Path(dest)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = hfs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).filter(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet")).sortBy(_.getName)
      // an empty round-robin partition writes no file — every ROW
      // landed regardless, so the drained-row invariant below holds
      val nForged = parts.length
      require(nForged >= nCommits - 5, s"staged only $nForged")
      val schemaLine = "schemaj\t" + java.util.Base64.getEncoder
        .encodeToString(
          spark.read.parquet(stage).schema.json.getBytes("UTF-8"))
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$dest/_log"))
      parts.zipWithIndex.foreach { case (p, i) =>
        val rel = f"c$i%04d.parquet"
        hfs.rename(p, new org.apache.hadoop.fs.Path(s"$dest/$rel"))
        val st = hfs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$dest/$rel"))
        val body = Seq(s"writeid\tdrain$i", s"target\t$rel",
          s"fsize\t$rel\t${st.getLen}\t${st.getModificationTime}",
          schemaLine).mkString("\n")
        val tmp = new org.apache.hadoop.fs.Path(s"$dest/_log/.tmp_$i")
        val out = hfs.create(tmp, true)
        out.write(body.getBytes("UTF-8")); out.close()
        hfs.rename(tmp, new org.apache.hadoop.fs.Path(
          f"$dest/_log/$i%012d.manifest"))
      }
      def drain(cap: Int, tag: String): Unit = {
        val ckpt = java.nio.file.Files
          .createTempDirectory("stress_drain_ck_").toString
        var batches = 0
        val rows = spark.sparkContext.longAccumulator("drain_rows")
        val t0 = System.nanoTime()
        val q = spark.readStream.format("graft")
          .option("maxVersionsPerTrigger", cap.toString).load(dest)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, _: Long) =>
            batches += 1
            rows.add(b.count())
          }.start()
        q.awaitTermination()
        val dt = (System.nanoTime() - t0) / 1e9
        require(rows.value == nCommits * rowsPer,
          s"drain lost rows: ${rows.value}")
        println(f"STRESS draindepth_$tag%-16s $dt%8.2f s  " +
          f"batches=$batches commits=$nForged " +
          f"(${dt / batches}%.2f s/batch)")
      }
      drain(64, "cap64")
      // the uncapped union is the blowup itself — run it only when
      // explicitly asked for (SPARK_GRAFT_STRESS_ONLY=draindepth)
      if (only.nonEmpty) drain(nForged + 1, "uncapped")
    }
    // PARTITION-OVERWRITE-AT-DEPTH rung (r20): replacing one day of a
    // YEAR-deep daily layout must cost O(replaced partition), not
    // O(table) — the same day-replace against a 73-day and a 365-day
    // table (same per-day rows) should take the same time and touch
    // the same bytes; the 5x-deeper table must not be ~5x slower.
    if (enabled("partdepth")) {
      def buildAndReplace(nDays: Int): (Double, Long, Long) = {
        val root = java.nio.file.Files
          .createTempDirectory(s"stress_pd${nDays}_").toString
        val dest = s"$root/t"
        val rowsPerDay = 200L
        val base = spark.range(nDays * rowsPerDay).select(
          col("id"),
          (col("id") % 1000).cast("double").as("v"),
          date_add(lit(java.sql.Date.valueOf("2025-01-01")),
            (col("id") % nDays).cast("int")).as("day"))
        ManifestSink.statsAppend(base.repartition(32), dest,
          Some("day"), Seq("id"))
        val repl = spark.range(500).select(
          (col("id") + 10000000L).as("id"),
          lit(1.0).as("v"),
          lit(java.sql.Date.valueOf("2025-01-15")).as("day"))
        def treeBytes(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(treeBytes).sum
          else f.length()
        val preBytes = treeBytes(new java.io.File(dest))
        val preMtimes = new java.io.File(dest).listFiles()
          .filter(_.getName.startsWith("p_date="))
          .flatMap(_.listFiles()).map(f =>
            f.getAbsolutePath -> f.lastModified()).toMap
        val t0 = System.nanoTime()
        val nReplaced = ManifestSink.overwritePartitions(repl, dest,
          "day", values = Seq("2025-01-15"), statsCols = Seq("id"))
        val dt = (System.nanoTime() - t0) / 1e9
        // bytes touched = new bytes on disk + replaced files' bytes;
        // every untouched partition file is byte-identical (mtime)
        val untouched = new java.io.File(dest).listFiles()
          .filter(_.getName.startsWith("p_date="))
          .flatMap(_.listFiles())
          .filter(f => preMtimes.get(f.getAbsolutePath)
            .contains(f.lastModified()))
        require(untouched.size >= (nDays - 1),
          s"expected >=${nDays - 1} untouched files, ${untouched.size}")
        val touchedBytes =
          treeBytes(new java.io.File(dest)) - preBytes
        (dt, nReplaced, touchedBytes.max(1L))
      }
      val (tShallow, nS, bS) = buildAndReplace(73)
      val (tDeep, nD, bD) = buildAndReplace(365)
      println(f"STRESS partdepth_73d    $tShallow%8.2f s  " +
        f"replaced=$nS bytes_delta=$bS")
      println(f"STRESS partdepth_365d   $tDeep%8.2f s  " +
        f"replaced=$nD bytes_delta=$bD " +
        f"(deep/shallow=${tDeep / tShallow}%.2f, table 5x)")
      require(tDeep < tShallow * 3.0,
        s"day-replace latency grew with table depth: $tShallow " +
          s"-> $tDeep")
    }
    // CDF-WIDE-OVERWRITE rung (r20): with the change feed on, a
    // partition overwrite captures pre-images + inserts as a
    // DISTRIBUTED sidecar — more than one part file (= more than one
    // write task), where the old coalesce(1) funneled the biggest
    // commits through a single task.
    if (enabled("cdfwide")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_cdfw_").toString
      val dest = s"$root/t"
      ManifestSink.enableChangeFeed(spark, dest)
      val rows = 2000000L
      val base = spark.range(rows).select(
        col("id"), (col("id") % 9973).cast("double").as("v"),
        lit(java.sql.Date.valueOf("2025-06-01")).as("day"))
      ManifestSink.statsAppend(base.repartition(32), dest,
        Some("day"), Seq("id"))
      val repl = spark.range(rows).select(
        (col("id") + rows).as("id"),
        (col("id") % 7919).cast("double").as("v"),
        lit(java.sql.Date.valueOf("2025-06-01")).as("day"))
        .repartition(32)
      val t0 = System.nanoTime()
      ManifestSink.overwritePartitions(repl, dest, "day",
        values = Seq("2025-06-01"), statsCols = Seq("id"))
      val dt = (System.nanoTime() - t0) / 1e9
      val parts = new java.io.File(s"$dest/_cdf").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(parts > 1,
        s"cdf sidecar funneled through one task: $parts part file(s)")
      val feedRows = ManifestSink.readChangesBetween(spark, dest, 0L)
        .count()
      require(feedRows == rows * 2, s"feed rows: $feedRows")
      println(f"STRESS cdfwide          $dt%8.2f s  " +
        f"sidecar_parts=$parts feed_rows=$feedRows " +
        "(pre-images + inserts, distributed write)")
    }
    // COLUMN-MAPPING rung (r20): RENAME COLUMN must be O(1) in table
    // size (zero data files touched) and the read-side name
    // translation must be free — a full-scan aggregate over the
    // renamed column costs the same as before the rename, and
    // metadata pruning still answers exactly through the mapping.
    if (enabled("cmaprung")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_cmap_").toString
      val dest = s"$root/t"
      val rows = 2000000L
      val base = spark.range(rows).select(
        col("id"), (col("id") % 9973).cast("double").as("v"),
        date_add(lit(java.sql.Date.valueOf("2025-01-01")),
          (col("id") % 365).cast("int")).as("day"))
      // range-partitioned by id: each task's ids are contiguous, so
      // every (task, day) file carries a DISJOINT id range — the
      // skipping check below prunes to ~1/32 of the files
      ManifestSink.statsAppend(
        base.repartitionByRange(32, col("id")), dest,
        Some("day"), Seq("id"))
      def dataFiles(): Seq[java.io.File] =
        new java.io.File(dest).listFiles()
          .filter(_.getName.startsWith("p_date="))
          .flatMap(_.listFiles()).toSeq
      val preMtimes = dataFiles()
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
      val nFiles = preMtimes.size
      def scanSum(c: String): (Double, Long) = {
        def once(): Long = ManifestSink.readBack(spark, dest)
          .agg(sum(col(c))).head.getLong(0)
        once() // warm (codegen + page cache)
        val t0 = System.nanoTime()
        val s = once()
        ((System.nanoTime() - t0) / 1e9, s)
      }
      val (tPre, sumPre) = scanSum("id")
      val tr0 = System.nanoTime()
      ManifestSink.renameColumn(spark, dest, "id", "doc_id")
      val trename = (System.nanoTime() - tr0) / 1e9
      val untouched = dataFiles().count(f =>
        preMtimes.get(f.getAbsolutePath).contains(f.lastModified()))
      require(untouched == nFiles,
        s"rename touched data files: $untouched/$nFiles untouched")
      val (tPost, sumPost) = scanSum("doc_id")
      require(sumPost == sumPre, s"values drifted: $sumPre -> $sumPost")
      // metadata pruning answers through the mapping: stats key on the
      // physical name 'id', the predicate speaks 'doc_id'
      val credit = ManifestSink.countWhere(spark, dest,
        ManifestSink.SkipPredicate.NumRange("doc_id", 0, 49999))
      require(credit == 50000L, s"pruned count: $credit")
      require(tPost < tPre * 2.0 + 0.5,
        s"renamed-column scan slowed: $tPre -> $tPost")
      println(f"STRESS cmaprung         $trename%8.2f s rename " +
        f"(files=$nFiles untouched=$untouched) " +
        f"scan_pre=$tPre%.2f s scan_post=$tPost%.2f s " +
        f"(ratio=${tPost / tPre}%.2f), pruned count exact")
    }
    // DML-WIDTH rung (r21): a COW UPDATE's Spark-job count must be
    // INDEPENDENT of how many files the predicate touches (one
    // distributed rewrite job, not one job per file), and the wide
    // update's wall time must sit far below the narrow update x
    // file-ratio line a serial per-file loop would pay. Result
    // parity is asserted row-for-row against the equivalent
    // expression over the base frame.
    if (enabled("dmlwide")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_dmlw_").toString
      val dest = s"$root/t"
      val rows = 2000000L
      val base = spark.range(rows).select(
        col("id"), (col("id") % 9973).cast("double").as("v"))
      // 200 range-disjoint files: stats prune a 10% id slab to ~20
      ManifestSink.statsAppend(
        base.repartitionByRange(200, col("id")), dest, None, Seq("id"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart)
              : Unit = { jobs.incrementAndGet(); () }
        })
      def upd(hi: Long): (Double, Int, Long) = {
        Thread.sleep(500); jobs.set(0)
        val t0 = System.nanoTime()
        val n = ManifestSink.updateWhere(spark, dest,
          col("id").between(0L, hi), Map("v" -> -col("v")))
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        (dt, jobs.get(), n)
      }
      val (tNarrow, jNarrow, nNarrow) = upd(rows / 10 - 1) // ~20 files
      val (tWide, jWide, nWide) = upd(rows - 1)            // all ~200
      require(nNarrow == rows / 10 && nWide == rows,
        s"dmlwide matched counts: $nNarrow/$nWide")
      require(jWide <= jNarrow + 3,
        s"dmlwide job count grew with touched files: " +
          s"$jNarrow -> $jWide (the per-file-loop signature)")
      require(tWide < tNarrow * 5.0 + 1.0,
        f"dmlwide wall time not flat: $tNarrow%.2f s (~20 files) -> " +
          f"$tWide%.2f s (~200 files)")
      // one rewritten file per touched file (granularity preserved;
      // superseded files stay on disk for time travel — count the
      // live snapshot, not the directory)
      val nFiles = ManifestSink.snapshotHandle(spark, dest)
        .targets.length
      require(nFiles == 200, s"dmlwide file granularity: $nFiles")
      // value parity: [0, rows/10) negated twice = original; the rest
      // negated once
      val expect = base.select(col("id"),
        when(col("id") < rows / 10, col("v"))
          .otherwise(-col("v")).as("v"))
      require(ManifestSink.readBack(spark, dest)
        .except(expect).isEmpty &&
        expect.except(ManifestSink.readBack(spark, dest)).isEmpty,
        "dmlwide rows drifted from the expression-equivalent result")
      println(f"STRESS dmlwide          $tWide%8.2f s wide " +
        f"(~200 files, jobs=$jWide) vs $tNarrow%.2f s narrow " +
        f"(~20 files, jobs=$jNarrow) — job count flat, " +
        "one distributed rewrite")
    }
    // merge job budget: a steady-state CDC merge must run a BOUNDED
    // number of Spark jobs (incl. AQE stage jobs) — the per-commit
    // driver action floor the r21 verdict flagged. The r22 folds put a
    // COW merge at ~10 jobs (lazy source pin + one matched-profile
    // action + rewrite + upsert writes) and a MOR merge at ~9 (lazy
    // position pin + profile + dv + insert writes); the bounds leave
    // ~30% slack for AQE stage-count drift, and trip on any return of
    // the per-action shapes (4-action source profile, separate
    // matched-count passes, dv-sidecar read-back).
    if (enabled("mergejobs")) {
      val root = java.nio.file.Files
        .createTempDirectory("stress_mjob_").toString
      val rows = 1000000L
      val base = spark.range(rows).select(
        col("id"), (col("id") % 9973).cast("double").as("v"))
      Seq(s"$root/cow", s"$root/mor").foreach(d =>
        ManifestSink.statsAppend(
          base.repartitionByRange(8, col("id")), d, None, Seq("id")))
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart)
              : Unit = { jobs.incrementAndGet(); () }
        })
      def oneMerge(dest: String, m: Boolean): (Int, Double) = {
        val src = spark.range(rows)
          .where(pmod(col("id"), lit(101L)) === 0)
          .select(col("id"), lit(-1.0).as("v"),
            when(pmod(col("id"), lit(202L)) === 0, "d")
              .otherwise("u").as("op"))
        Thread.sleep(500); jobs.set(0)
        val t0 = System.nanoTime()
        ManifestSink.mergeCdc(spark, dest, src, "id",
          col("op") === "d", directiveCols = Seq("op"),
          statsCols = Seq("id"), mor = m)
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        (jobs.get(), dt)
      }
      val (jCow, tCow) = oneMerge(s"$root/cow", m = false)
      val (jMor, tMor) = oneMerge(s"$root/mor", m = true)
      require(jCow <= 14,
        s"mergejobs: a steady-state COW merge ran $jCow jobs (> 14) — " +
          "per-commit action count regressed")
      require(jMor <= 13,
        s"mergejobs: a steady-state MOR merge ran $jMor jobs (> 13) — " +
          "per-commit action count regressed")
      println(f"STRESS mergejobs        $tCow%8.2f s cow (jobs=$jCow" +
        f" <= 14), $tMor%.2f s mor (jobs=$jMor <= 13)")
    }
    spark.stop()
  }
}
