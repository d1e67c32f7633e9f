package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Pii, TextAnalysis}
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRow
import graft.operators.{Dedup, LmFilter, Similarity}
import graft.plans.QualityRulesExpr

/** `curate_corpus`: the LLM-data pipeline. Each operation is one stage of
  * a pass; every stage reads the previous stage's output from disk and
  * writes its own, and a pass runs the seven stages in order.
  */
final class CurateCorpus(spark: SparkSession, tracer: Tracer, inDir: String,
    workDir: String, outDir: String) extends Workload {
  import spark.implicits._

  import CurateCorpus.Stages

  private val docsIn = s"$inDir/docs.parquet"
  private val embIn = s"$inDir/emb.parquet"
  private var refDigests = Map.empty[String, Any]
  private val mediaIn = s"$workDir/media.parquet"
  private var nDocs = 0L
  private var nMedia = 0L

  private def digest(path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.select(xxhash64(df.columns.sorted.toSeq.map(col): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Run stage `k` of a pass rooted at `dir`, reading `docs`, `emb` and
    * `media`. Returns the stage's extra fields.
    */
  private def stage(k: Int, dir: String, docs: String, emb: String,
      media: String, traced: Boolean): Map[String, Any] = {
    def in(j: Int) = s"$dir/s$j"
    val name = Stages(k)
    val out = in(k + 1)
    val t0 = System.nanoTime()
    var extra = Map.empty[String, Any]
    name match {
      case "exact_dedup" => tracer.span("Dedup.exactDupGroups", "operators") {
        val d = spark.read.parquet(docs).select("doc_id", "text")
        val keep = Dedup.exactDupGroups(d).select(col("keep_id").as("doc_id"))
        write(d.join(keep, Seq("doc_id"), "left_semi"), out)
      }
      case "minhash_dedup" =>
        tracer.span("Dedup.jaccardDupPairs", "operators") {
          val d = spark.read.parquet(in(k))
          val drop = Dedup.jaccardDupPairs(d, 0.8, maxBucketSize = 1000)
            .select(col("b_id").as("doc_id")).distinct()
          write(d.join(drop, Seq("doc_id"), "left_anti"), out)
        }
      case "quality_filter" =>
        tracer.span("QualityRulesExpr+Pii+langId", "functions") {
          val d = spark.read.parquet(in(k))
          val scored = d.select(col("doc_id"), col("text"),
            QualityRulesExpr.rules(col("text")).as("qr"),
            Pii.piiTotal(col("text")).as("n_pii"),
            TextAnalysis.langIdHeuristic(col("text")).as("lang"))
          write(scored.where(col("n_pii") === 0 && col("lang") =!= "und" &&
            col("qr.n_tokens") >= 5 &&
            col("qr.dup_line_frac") <= TextAnalysis.DupLineFracMax &&
            col("qr.alpha_word_frac") >= TextAnalysis.AlphaWordFracMin)
            .select("doc_id", "text"), out)
        }
      case "segment_dedup" =>
        tracer.span("Dedup.removeDuplicateSegments", "operators") {
          val d = spark.read.parquet(in(k))
          write(Dedup.removeDuplicateSegments(d, segTokens = 4,
            emitCleaned = true)
            .select(col("doc_id"), col("cleaned").as("text"),
              col("n_removed")), out)
        }
      case "lm_gate" => tracer.span("LmFilter.scoreDocs+calibrate", "operators") {
        val d = spark.read.parquet(in(k))
        val scored = LmFilter.scoreDocs(d.select("doc_id", "text"))
          .localCheckpoint()
        val thr = LmFilter.calibrateThreshold(scored, 0.9)
        write(d.join(scored.where(col("log_ppl") <= thr).select("doc_id"),
          Seq("doc_id"), "left_semi"), out)
      }
      case "semantic_dedup" =>
        tracer.span("Similarity.semanticDupPairs", "operators") {
          val e = spark.read.parquet(emb)
          val drop = Similarity.semanticDupPairs(e, 0.95, nCentroids = 16)
            .select(col("b_id").as("vec_id")).distinct()
          write(e.join(drop, Seq("vec_id"), "left_anti"), out)
        }
      case "media" => tracer.span("Multimodal.dhashMedia", "multimodal") {
        val m = spark.read.parquet(media).as[MediaRow]
        val hashed = Multimodal.dhashMedia(m)
          .localCheckpoint()
        val drop = Dedup.hammingDupPairs(hashed, 4, idCol = "media_id",
          hashCol = "dhash").select(col("b_id").as("media_id")).distinct()
        write(hashed.join(drop, Seq("media_id"), "left_anti"), out)
      }
    }
    val callS = (System.nanoTime() - t0) / 1e9
    if (traced && name == "minhash_dedup") {
      // LSH yield, counted outside the timed call
      val d = spark.read.parquet(in(k))
      val cand = Dedup.lshCandidatePairs(Dedup.signatures(d), 1000).count()
      val verified = Dedup.jaccardDupPairs(d, 0.8, maxBucketSize = 1000)
        .count()
      extra ++= Map("lsh_candidates" -> cand, "lsh_verified" -> verified)
    }
    Map("stage" -> name, "call_s" -> callS, "digest" -> digest(out),
      "out_bytes" -> Fs.bytes(out)) ++ extra
  }

  /** One whole pass; returns each stage's output digest. */
  private def pass(dir: String, docs: String, emb: String, media: String)
      : Map[String, Any] =
    Stages.indices.map { k =>
      Stages(k) -> stage(k, dir, docs, emb, media, false)("digest")
    }.toMap

  override def setup(rep: Int): Unit = {
    val docs = spark.read.parquet(docsIn)
    nDocs = docs.count()
    deleteRec(new File(mediaIn))
    // planted media: near-dup PNG pairs for the first 100 docs plus one
    // small PNG per doc, made by the program's own encoders
    val pairs = Multimodal.plantedDhashPairMedia(spark,
      docs.where(col("doc_id") < 100))
    val pixels = Multimodal.plantedPixelMedia(spark,
      docs.select((col("doc_id") + CurateCorpus.MediaIdOffset).as("doc_id")))
    write(pairs.union(pixels).toDF(), mediaIn)
    nMedia = spark.read.parquet(mediaIn).count()
  }

  /** One full pass over the reference corpus (the same for every seed), so
    * the measured passes run warm code; its stage digests are held to the
    * recorded ones.
    */
  override def warmup(): Unit = {
    val warm = s"$workDir/warm"
    deleteRec(new File(warm))
    refDigests = pass(warm, s"$inDir/ref_docs.parquet",
      s"$inDir/ref_emb.parquet", mediaIn)
    deleteRec(new File(warm))
  }

  override def tracedOp(i: Long): Boolean = (i / Stages.size) % 2 == 1

  override def step(i: Long, traced: Boolean): (String, Map[String, Any]) = {
    val p = i / Stages.size
    val k = (i % Stages.size).toInt
    // keep the previous pass's outputs only as long as they are compared
    if (k == 0 && p >= 2) deleteRec(new File(s"$workDir/pass${p - 2}"))
    val x = stage(k, s"$workDir/pass$p", docsIn, embIn, mediaIn, traced)
    if (p == 0) {
      // the first pass's outputs are what the output checks read
      val keep = s"$outDir/pass0/s${k + 1}"
      deleteRec(new File(keep))
      write(spark.read.parquet(s"$workDir/pass$p/s${k + 1}"), keep)
    }
    (Stages(k), x ++ Map("pass" -> p))
  }

  override def finish(outDir: String): Map[String, Any] =
    Map("docs" -> nDocs, "media" -> nMedia,
      "vectors" -> spark.read.parquet(embIn).count(),
      "ref_digests" -> refDigests)

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}

object CurateCorpus {
  val Stages: IndexedSeq[String] = IndexedSeq("exact_dedup", "minhash_dedup",
    "quality_filter", "segment_dedup", "lm_gate", "semantic_dedup", "media")
  val MediaIdOffset = 1000000L
}
