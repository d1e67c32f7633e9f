package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.ManifestSink
import graft.model.Manifest
import graft.streaming.StreamingIngest

class StreamingIngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("utc_offset", DoubleType),
    StructField("location", StringType),
    StructField("temp_c", DoubleType)))

  private val manifestJson =
    """{"project":"t","tasks":[{
        "sources":["**/*.csv"], "dataset":"ds", "table":"st",
        "timePartitioningField":"timestamp",
        "fields":[{"name":"timestamp","type":"timestamp"}]}]}"""

  test("AvailableNow drain loads files exactly once across restarts") {
    val root = tmpDir("stream_")
    val src = new java.io.File(s"$root/in"); src.mkdirs()
    def write(name: String, rows: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(src, name))
      try w.write("timestamp,utc_offset,location,temp_c\n" + rows)
      finally w.close()
    }
    write("a.csv", "2026-01-01 00:00:00,1.0,x,10.5\n2026-01-02 00:00:00,1.0,y,11.5\n")

    val task = Manifest.parse(manifestJson).tasks.head
    val q1 = StreamingIngest.start(spark, task, schema,
      s"$root/in", s"$root/wh", s"$root/ckpt")
    q1.awaitTermination(60000)

    val dest = s"$root/wh/ds/st"
    assert(spark.read.parquet(dest).count() == 2)
    // event-time DAY partitions on disk (ST3: late data lands correctly)
    val parts = new java.io.File(dest).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_spark_metadata").sorted.toSeq
    assert(parts == Seq("p_date=2026-01-01", "p_date=2026-01-02"))

    // restart with one new file: checkpoint (the streaming ledger) must
    // load ONLY the new file — exactly-once per file (ST2)
    write("b.csv", "2026-01-01 12:00:00,2.0,z,12.5\n")
    val q2 = StreamingIngest.start(spark, task, schema,
      s"$root/in", s"$root/wh", s"$root/ckpt")
    q2.awaitTermination(60000)
    val out = spark.read.parquet(dest)
    assert(out.count() == 3)
    // late row joined the existing day partition
    assert(out.filter(col("p_date") === "2026-01-01").count() == 2)
  }

  test("streaming curated ingest: cross-batch near-dups dropped, corpus " +
      "== full-recompute survivors") {
    import spark.implicits._
    val root = tmpDir("curated_")
    val drop = new java.io.File(s"$root/drop"); drop.mkdirs()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    def writeJson(name: String, docs: Seq[(Long, String)]): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(drop, name))
      try docs.foreach { case (id, t) =>
        w.println(s"""{"doc_id":$id,"text":"$t"}""")
      } finally w.close()
    }
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val batch1 = Seq(
      0L -> base,
      1L -> "completely different content about spark engines parquet files and scala pipelines",
      2L -> "yet another unrelated document mentioning warehouses ledgers and streams")
    val batch2 = Seq(
      10L -> ((1 to 29).map(i => s"word$i").mkString(" ") + " changed"),
      11L -> batch1(1)._2, // exact dup of doc 1 (cross-batch)
      12L -> "novel content that only appears in the second batch of the stream",
      13L -> "novel content that only appears in the second batch of the stream")

    writeJson("b1.json", batch1)
    StreamingIngest.startCurated(spark, s"$root/drop", docSchema,
      s"$root/corpus", Some(s"$root/victims"), s"$root/ck")
      .awaitTermination(120000)
    writeJson("b2.json", batch2)
    StreamingIngest.startCurated(spark, s"$root/drop", docSchema,
      s"$root/corpus", Some(s"$root/victims"), s"$root/ck")
      .awaitTermination(120000)

    val kept = spark.read.schema(docSchema).parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    // full recompute over everything that ever arrived
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val fullVictims = graft.operators.Dedup.jaccardDupPairs(all, 0.8)
      .select("b_id").as[Long].collect().toSet
    val fullSurvivors =
      (batch1 ++ batch2).map(_._1).toSet -- fullVictims
    assert(kept == fullSurvivors)
    assert(kept == Set(0L, 1L, 2L, 12L)) // 10 near-0, 11 dup-1, 13 dup-12
    // victim log carries the verified pairs with their jaccard
    val logged = spark.read.parquet(s"$root/victims")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(logged == Set((0L, 10L), (1L, 11L), (12L, 13L)))
  }

  test("curateDocBatch replay is a no-op: at-least-once foreachBatch " +
      "composes to effectively-once output") {
    import spark.implicits._
    val root = tmpDir("replay_")
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val near = (1 to 29).map(i => s"word$i").mkString(" ") + " changed"
    val b1 = Seq(0L -> base,
      1L -> "completely different content about engines and pipelines")
      .toDF("doc_id", "text")
    val b2 = Seq(10L -> near,
      11L -> "novel content only present in the second micro batch")
      .toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"))
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"))
    def corpusIds = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    def victimRows = spark.read.parquet(s"$root/victims").count()
    assert(corpusIds == Set(0L, 1L, 11L)) // 10 near-dups corpus doc 0
    assert(victimRows == 1L)
    // wholesale replay of b2 (crash after checkpoint-uncommitted batch):
    // every doc is already adjudicated -> nothing appends anywhere
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"))
    assert(corpusIds == Set(0L, 1L, 11L))
    assert(victimRows == 1L)
    // replay of b1 (docs all in corpus) is likewise a no-op
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"))
    assert(corpusIds == Set(0L, 1L, 11L))
    assert(victimRows == 1L)
  }

  test("curateDocBatch quality gate: rejected docs never reach corpus, " +
      "victims, or index; replay and resubmission re-reject identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length => slen}
    val root = tmpDir("gated_")
    // gate: token-ish length cutoff (row-deterministic)
    val gate = slen(col("text")) >= 30
    val good = (1 to 30).map(i => s"tok$i").mkString(" ")
    val b1 = Seq(0L -> good, 1L -> "too short").toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"),
      gate = Some(gate))
    def corpusIds = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds == Set(0L)) // short doc gated out
    assert(spark.read.parquet(s"$root/index")
      .select("doc_id").distinct().as[Long].collect().toSet == Set(0L))
    // replay re-rejects identically (doc 1 is not adjudicated anywhere)
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"),
      gate = Some(gate))
    assert(corpusIds == Set(0L))
    // resubmission under a NEW id is still rejected by content
    val b2 = Seq(2L -> "too short",
      3L -> ("novel " + (1 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"),
      gate = Some(gate))
    assert(corpusIds == Set(0L, 3L))
    // near-dup of the gated-IN doc is still deduped as usual
    val b3 = Seq(4L -> (good + " tail")).toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b3, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"),
      gate = Some(gate))
    assert(corpusIds == Set(0L, 3L))
    assert(spark.read.parquet(s"$root/victims")
      .select("b_id").as[Long].collect().toSet == Set(4L))
  }

  test("curateDocBatch with a PERSISTED band index: same corpus as the " +
      "recompute path, index tracks corpus membership, replays are no-ops") {
    import spark.implicits._
    val root = tmpDir("idxcur_")
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val near = (1 to 29).map(i => s"word$i").mkString(" ") + " changed"
    val b1 = Seq(0L -> base,
      1L -> "completely different content about engines and pipelines")
      .toDF("doc_id", "text")
    val b2 = Seq(10L -> near,
      11L -> "novel content only present in the second micro batch")
      .toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame) =
      StreamingIngest.curateDocBatch(spark, b, s"$root/corpus",
        Some(s"$root/victims"), indexDir = Some(s"$root/index"))
    run(b1); run(b2)
    def corpusIds = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    def indexIds = spark.read.parquet(s"$root/index")
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(corpusIds == Set(0L, 1L, 11L)) // same verdicts as unindexed test
    assert(indexIds == corpusIds, "index rows must track corpus membership")
    // index content equals a fresh derivation from the corpus
    val stored = spark.read.parquet(s"$root/index")
      .select("doc_id", "bkey").as[(Long, String)].collect().toSet
    val derived = graft.operators.Dedup
      .bandIndexRows(spark.read.parquet(s"$root/corpus"))
      .as[(Long, String)].collect().toSet
    assert(stored == derived)
    // wholesale replays: no-ops on corpus, victims AND index
    val vRows = spark.read.parquet(s"$root/victims").count()
    val iRows = spark.read.parquet(s"$root/index").count()
    run(b2); run(b1)
    assert(corpusIds == Set(0L, 1L, 11L))
    assert(spark.read.parquet(s"$root/victims").count() == vRows)
    assert(spark.read.parquet(s"$root/index").count() == iRows)
  }

  test("indexed curation crash window: index appended but corpus append " +
      "lost -> replay repairs the corpus without duplicating index rows") {
    import spark.implicits._
    val root = tmpDir("idxcrash_")
    val b1 = Seq(0L -> "an established corpus document about pipelines")
      .toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"))
    // emulate the window: batch 2's survivor index rows landed, corpus
    // append did not (exactly what curateDocBatch writes, stopped between
    // the index and corpus appends)
    val b2 = Seq(20L -> "a fully novel second document about tokenizers")
      .toDF("doc_id", "text")
    graft.operators.Dedup.bandIndexRows(b2)
      .write.mode("append").parquet(s"$root/index")
    val iRows = spark.read.parquet(s"$root/index").count()
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/index"))
    assert(spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(0L, 20L))
    assert(spark.read.parquet(s"$root/index").count() == iRows,
      "replay must not duplicate the already-appended index rows")
  }

  test("curateDocBatch survives a victim-log dir with no committed data " +
      "file (crash during the first log write leaves only _temporary/)") {
    import spark.implicits._
    val root = tmpDir("emptyvlog_")
    // existing dir, hidden debris only — schema inference would throw here;
    // the explicit b_id schema must read it as empty instead
    val vdir = new java.io.File(s"$root/victims")
    assert(new java.io.File(vdir, "_temporary/0").mkdirs())
    val b1 = Seq(0L -> "a perfectly ordinary first document",
      1L -> "a second unrelated document about engines").toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"))
    assert(spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(0L, 1L))
  }

  test("curateDocBatch partial-crash resume: victims logged but survivors " +
      "unappended -> replay appends survivors only, no duplicate log rows") {
    import spark.implicits._
    val root = tmpDir("partial_")
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val near = (1 to 29).map(i => s"word$i").mkString(" ") + " changed"
    val b1 = Seq(0L -> base).toDF("doc_id", "text")
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"))
    val b2 = Seq(10L -> near,
      11L -> "a fully novel survivor document").toDF("doc_id", "text")
    // emulate the crash window: the victim-log append completed, the
    // corpus append did not (exactly what curateDocBatch writes, stopped
    // half-way)
    val corpus = spark.read.parquet(s"$root/corpus")
    graft.operators.Dedup
      .incrementalJaccardDupPairs(b2, corpus, 0.8, 1000)
      .write.mode("append").parquet(s"$root/victims")
    assert(spark.read.parquet(s"$root/victims").count() == 1L)
    // replayed batch: victim 10 filtered (already logged), survivor 11
    // appended exactly once
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"))
    assert(spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(0L, 11L))
    assert(spark.read.parquet(s"$root/victims").count() == 1L)
  }

  test("curated ingest through ManifestSink: batches commit atomically, " +
      "a crash before the corpus commit leaves the pre-batch snapshot, " +
      "replay converges") {
    import spark.implicits._
    import graft.ingest.{Ingest, ManifestSink}
    val root = tmpDir("curatoms_")
    val sink: Option[Ingest.DestinationSink] = Some(ManifestSink)
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val near = (1 to 29).map(i => s"word$i").mkString(" ") + " changed"
    val novel = "novel content only present in the second micro batch"
    val b1 = Seq(0L -> base,
      1L -> "completely different content about engines and pipelines")
      .toDF("doc_id", "text")
    val b2 = Seq(10L -> near, 11L -> novel).toDF("doc_id", "text")
    def corpusIds = ManifestSink.readBack(spark, s"$root/corpus")
      .select("doc_id").as[Long].collect().toSet
    StreamingIngest.curateDocBatch(spark, b1, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/idx"), sink = sink)
    assert(corpusIds == Set(0L, 1L))
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/idx"), sink = sink)
    assert(corpusIds == Set(0L, 1L, 11L)) // 10 near-dups corpus doc 0
    assert(ManifestSink.readBack(spark, s"$root/victims").count() == 1)
    // replay idempotence is preserved through the sink
    StreamingIngest.curateDocBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/idx"), sink = sink)
    assert(corpusIds == Set(0L, 1L, 11L))
    // CRASH between the victim/index appends and the corpus append: the
    // wrapper sink dies exactly where a real driver could. Readers of the
    // corpus must see the unchanged pre-batch snapshot — not a partial
    // batch (the plain path's listing readers see moved files one task at
    // a time).
    object CrashBeforeCorpus extends Ingest.DestinationSink {
      override def append(df: org.apache.spark.sql.DataFrame, dir: String,
          pf: Option[String]): Unit = {
        if (dir.endsWith("/corpus"))
          throw new RuntimeException("simulated crash before corpus commit")
        ManifestSink.append(df, dir, pf)
      }
      override def readBack(s: org.apache.spark.sql.SparkSession,
          dir: String) = ManifestSink.readBack(s, dir)
    }
    val b3 = Seq(20L -> (novel + " extra"), // near-dup of corpus doc 11
      21L -> "completely fresh text unseen anywhere in the stream so far")
      .toDF("doc_id", "text")
    intercept[RuntimeException] {
      StreamingIngest.curateDocBatch(spark, b3, s"$root/corpus",
        Some(s"$root/victims"), indexDir = Some(s"$root/idx"),
        sink = Some(CrashBeforeCorpus))
    }
    assert(corpusIds == Set(0L, 1L, 11L), "pre-batch snapshot must hold")
    assert(ManifestSink.readBack(spark, s"$root/victims").count() == 2,
      "the victim append before the crash committed atomically")
    // moved-but-uncommitted debris (a mid-append crash state) is invisible
    // to manifest readers even though a listing reader would count it
    Seq(99L -> "phantom row from a crashed append").toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/orphan_src")
    val part = new java.io.File(s"$root/orphan_src").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$root/corpus/deadbeef-0.parquet").toPath)
    assert(spark.read.parquet(s"$root/corpus")
      .filter(col("doc_id") === 99L).count() == 1,
      "a listing reader DOES see the debris — that is the open window")
    assert(!corpusIds.contains(99L), "the manifest reader does not")
    // replay with the healthy sink completes the batch: victim-logged 20
    // stays excluded, survivor 21 lands
    StreamingIngest.curateDocBatch(spark, b3, s"$root/corpus",
      Some(s"$root/victims"), indexDir = Some(s"$root/idx"), sink = sink)
    assert(corpusIds == Set(0L, 1L, 11L, 21L))
    assert(ManifestSink.readBack(spark, s"$root/victims").count() == 2)
  }

  test("vector curation step: embedding near-dups dropped against the " +
      "corpus, first batch wins") {
    import spark.implicits._
    val root = tmpDir("vcurated_")
    val dim = 64
    val rnd = new scala.util.Random(7)
    def jitter(v: Array[Float]): Array[Float] =
      v.zipWithIndex.map { case (x, i) => if (i < 2) x + 0.01f else x }
    val bases = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val b1 = (0L until 4L).map(i => (i, bases(i.toInt)))
      .toDF("vec_id", "embedding")
    val novel = Array.fill(dim)(rnd.nextGaussian().toFloat)
    val b2 = Seq((10L, jitter(bases(1))), (11L, novel), (12L, jitter(novel)))
      .toDF("vec_id", "embedding")
    StreamingIngest.curateVectorBatch(spark, b1, s"$root/corpus", None,
      threshold = 0.99, nPlanes = 4, nTables = 3)
    StreamingIngest.curateVectorBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), threshold = 0.99, nPlanes = 4, nTables = 3)
    val kept = spark.read.parquet(s"$root/corpus")
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(0L, 1L, 2L, 3L, 11L)) // 10 dups corpus 1; 12 dups 11
    // the PERSISTED-INDEX path reaches the same corpus, maintains
    // id-consistent index rows, and replays as a no-op
    val iroot = tmpDir("vcurated_idx_")
    def runIdx(b: org.apache.spark.sql.DataFrame) =
      StreamingIngest.curateVectorBatch(spark, b, s"$iroot/corpus",
        Some(s"$iroot/victims"), threshold = 0.99, nPlanes = 4,
        nTables = 3, indexDir = Some(s"$iroot/index"))
    runIdx(b1); runIdx(b2)
    def ikept = spark.read.parquet(s"$iroot/corpus")
      .select("vec_id").as[Long].collect().toSet
    assert(ikept == kept)
    assert(spark.read.parquet(s"$iroot/index")
      .select("id").distinct().as[Long].collect().toSet == kept)
    val iRows = spark.read.parquet(s"$iroot/index").count()
    runIdx(b2)
    assert(ikept == kept)
    assert(spark.read.parquet(s"$iroot/index").count() == iRows)
  }

  test("media curation step: re-encoded image copies dropped by " +
      "perceptual hash, replay is a no-op, undecodable payloads survive") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val root = tmpDir("mcurated_")
    // content C(seed): 18x16 gray boxes rising by 6 per planted bit of
    // the seed's 7-bit code — re-encoding the SAME content as a JPEG
    // yields different bytes, equal dHash
    def png(id: Long, seed: Long): (Long, String, Array[Byte]) =
      (id, "image", Multimodal.pngPixelBytes(18, 16, (x, y) => {
        var m = 128
        for (k <- 0 until (x / 2))
          m += (if (((seed >> (((y / 2) * 8 + k) % 7)) & 1) == 1) 6 else -6)
        (m, m, m)
      }))
    // the same 9x8 box-mean structure RE-ENCODED at different dimensions
    // (27x24, 3x3 boxes) — different bytes, different size, equal dHash:
    // exactly the copy class a byte hash cannot pair
    def reenc(id: Long, seed: Long): (Long, String, Array[Byte]) =
      (id, "image", Multimodal.pngPixelBytes(27, 24, (x, y) => {
        var m = 128
        for (k <- 0 until (x / 3))
          m += (if (((seed >> (((y / 3) * 8 + k) % 7)) & 1) == 1) 6 else -6)
        (m, m, m)
      }))
    val b1 = Seq(png(1L, 5L), png(2L, 9L)).toDF("media_id", "kind", "payload")
    StreamingIngest.curateMediaBatch(spark, b1, s"$root/corpus", None,
      maxHamming = 4)
    // batch 2: 10 = re-encoded copy of 1 (different dims AND bytes, same
    // box-mean structure -> hamming 0), 11 = novel, 12 = undecodable
    val b2 = Seq(reenc(10L, 5L), png(11L, 77L),
      (12L, "image", "not an image".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    StreamingIngest.curateMediaBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), maxHamming = 4)
    def kept = spark.read.parquet(s"$root/corpus")
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 11L, 12L),
      "re-encoded copy dropped; novel + undecodable survive")
    val victims = spark.read.parquet(s"$root/victims")
    assert(victims.select("b_id").as[Long].collect().toSet == Set(10L))
    // replay of batch 2 is a no-op (adjudicated-id anti-join)
    val n = spark.read.parquet(s"$root/corpus").count()
    StreamingIngest.curateMediaBatch(spark, b2, s"$root/corpus",
      Some(s"$root/victims"), maxHamming = 4)
    assert(spark.read.parquet(s"$root/corpus").count() == n)
    // corpus stores the hash alongside the payload; undecodable = null
    val stored = spark.read.parquet(s"$root/corpus")
      .select("media_id", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(stored(12L).isEmpty && stored(1L).nonEmpty)
  }

  test("indexDocBatch: incremental term index equals the batch-built " +
      "one; the crash window repairs on replay; retrieval parity") {
    import spark.implicits._
    import graft.operators.TextRank
    val root = tmpDir("termidx_")
    val b1 = Seq(1L -> "join hash scan", 2L -> "hash hash slow")
      .toDF("doc_id", "text")
    val b2 = Seq(3L -> "scan scan join", 4L -> "").toDF("doc_id", "text")
    StreamingIngest.indexDocBatch(spark, b1, s"$root/index", s"$root/dl")
    StreamingIngest.indexDocBatch(spark, b2, s"$root/index", s"$root/dl")
    val all = b1.unionByName(b2)
    val wantIdx = TextRank.termIndex(all)
      .as[(Long, String, Long)].collect().toSet
    assert(spark.read.parquet(s"$root/index")
      .as[(Long, String, Long)].collect().toSet == wantIdx)
    // dl covers EVERY doc incl. the empty one (the d/avgdl contract)
    assert(spark.read.parquet(s"$root/dl")
      .as[(Long, Double)].collect().toMap ==
      Map(1L -> 3.0, 2L -> 3.0, 3L -> 3.0, 4L -> 0.0))
    // wholesale replay is a no-op
    StreamingIngest.indexDocBatch(spark, b2, s"$root/index", s"$root/dl")
    assert(spark.read.parquet(s"$root/index").count() == wantIdx.size)
    // crash window: index rows landed, dl append did not → the replay
    // skips the present rows and completes the dl append, no dups
    val b3 = Seq(5L -> "slow join").toDF("doc_id", "text")
    TextRank.termIndex(b3).write.mode("append").parquet(s"$root/index")
    StreamingIngest.indexDocBatch(spark, b3, s"$root/index", s"$root/dl")
    assert(spark.read.parquet(s"$root/index")
      .where(col("doc_id") === 5L).count() == 2)
    assert(spark.read.parquet(s"$root/dl")
      .where(col("doc_id") === 5L).count() == 1)
    // retrieval over the STORED relations == the full-corpus scan
    val viaStored = TextRank.bm25FromIndex(
      spark.read.parquet(s"$root/index"),
      spark.read.parquet(s"$root/dl"),
      Seq("join", "hash"), topK = 10).as[(Long, Double)].collect().toSeq
    val viaScan = TextRank.bm25(all.unionByName(b3),
      Seq("join", "hash"), topK = 10)
      .as[(Long, Double)].collect().toSeq
    assert(viaStored == viaScan)
  }

  test("indexVecBatch: incremental IVF-PQ index equals the batch-built " +
      "one; crash window repairs on replay; search parity; model " +
      "round-trips through disk") {
    import spark.implicits._
    import graft.operators.Similarity
    val root = tmpDir("pqidx_")
    val dim = 16
    val rnd = new scala.util.Random(11)
    val all = (0L until 30L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val Array(b1, b2, b3) = Array(
      all.where(col("vec_id") < 10),
      all.where(col("vec_id").between(10, 19)),
      all.where(col("vec_id") >= 20))

    // model trains once, persists, and every batch loads the same one
    val trained = Similarity.trainPqModel(all, nCentroids = 4, nSub = 4,
      codebookSize = 4)
    Similarity.savePqModel(spark, trained, s"$root/model")
    val model = Similarity.loadPqModel(spark, s"$root/model")
    assert(model.cents.map(_._1).toSeq == trained.cents.map(_._1).toSeq)
    assert(model.cents.map(_._2.toSeq).toSeq ==
      trained.cents.map(_._2.toSeq).toSeq)
    assert(model.cb.map(_.map(_.toSeq).toSeq).toSeq ==
      trained.cb.map(_.map(_.toSeq).toSeq).toSeq)

    val (codesDir, adjDir) = (s"$root/codes", s"$root/adj")
    StreamingIngest.indexVecBatch(spark, b1, model, codesDir, adjDir)
    StreamingIngest.indexVecBatch(spark, b2, model, codesDir, adjDir)
    // crash window: codes landed for b3, adjudication append did not
    Similarity.pqIndexRows(b3, model).write.mode("append").parquet(codesDir)
    // replay re-enters b3 (not adjudicated), skips present codes rows,
    // completes adjudication — no dup codes
    StreamingIngest.indexVecBatch(spark, b3, model, codesDir, adjDir)

    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cid"),
        concat_ws(",", col("codes")).as("cs"))
      .as[(Long, Int, String)].collect().toSet
    val stored = StreamingIngest.readPqIndex(spark, codesDir, adjDir)
    val rebuilt = Similarity.pqIndexRows(all, model)
    assert(key(stored) == key(rebuilt))
    assert(stored.count() == 30L) // crash debris did not duplicate
    // wholesale replay is a no-op
    StreamingIngest.indexVecBatch(spark, b2, model, codesDir, adjDir)
    assert(spark.read.parquet(codesDir).count() == 30L)

    // search over the INCREMENTALLY-built index == the one-shot pipeline
    val queries = all.where(col("vec_id") < 3)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val viaStored = norm(Similarity.knnIvfPqOnIndex(
      stored, all, queries, k = 3, model))
    val oneShot = norm(Similarity.knnIvfPq(all, queries, k = 3,
      nCentroids = 4, nSub = 4, codebookSize = 4))
    assert(viaStored == oneShot)
  }

  test("trainDocBatch: incremental classifier contributions equal the " +
      "batch-trained model; crash window repairs; scoring parity") {
    import spark.implicits._
    import graft.operators.Classifier
    val root = tmpDir("clsidx_")
    val mk = (id: Long, y: Int, t: String) => (id, y, t)
    val b1 = Seq(mk(1, 1, "good clean prose"), mk(2, 0, "spam spam buy"))
      .toDF("doc_id", "label", "text")
    val b2 = Seq(mk(3, 1, "clean thoughtful prose"), mk(4, 0, "buy now spam"))
      .toDF("doc_id", "label", "text")
    val b3 = Seq(mk(5, 1, "prose wins"), mk(6, 0, ""))
      .toDF("doc_id", "label", "text")
    val (cDir, aDir) = (s"$root/contribs", s"$root/adj")
    StreamingIngest.trainDocBatch(spark, b1, cDir, aDir, nBuckets = 64)
    StreamingIngest.trainDocBatch(spark, b2, cDir, aDir, nBuckets = 64)
    // crash window: contributions landed for b3, adjudication did not
    Classifier.bucketContribs(b3, nBuckets = 64)
      .write.mode("append").parquet(cDir)
    StreamingIngest.trainDocBatch(spark, b3, cDir, aDir, nBuckets = 64)

    val all = b1.unionByName(b2).unionByName(b3)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long)].collect().toMap
    val incremental = Classifier.weightsFromContribs(
      StreamingIngest.readContribs(spark, cDir, aDir))
    val oneShot = Classifier.trainWeights(all, nBuckets = 64)
    assert(key(incremental.select(col("bucket"), col("weight"))) ==
      key(oneShot.select(col("bucket"), col("weight"))))
    // no dup contributions from the crash debris
    assert(StreamingIngest.readContribs(spark, cDir, aDir)
      .groupBy(col("doc_id"), col("bucket")).count()
      .where(col("count") > 1).count() == 0L)
    // wholesale replay is a no-op
    StreamingIngest.trainDocBatch(spark, b2, cDir, aDir, nBuckets = 64)
    assert(key(Classifier.weightsFromContribs(
      StreamingIngest.readContribs(spark, cDir, aDir))
      .select(col("bucket"), col("weight"))) ==
      key(oneShot.select(col("bucket"), col("weight"))))
    // scoring through the incrementally-derived model == one-shot
    val docsToScore = Seq((10L, "clean prose"), (11L, "buy spam now"))
      .toDF("doc_id", "text")
    val sInc = Classifier.scoreWithWeights(docsToScore, incremental,
      nBuckets = 64).as[(Long, Long, Int)].collect().toSet
    val sOne = Classifier.scoreWithWeights(docsToScore, oneShot,
      nBuckets = 64).as[(Long, Long, Int)].collect().toSet
    assert(sInc == sOne)
    assert(sInc.exists { case (id, s, _) => id == 10L && s > 0 })
    assert(sInc.exists { case (id, s, _) => id == 11L && s < 0 })
  }

  test("FULL PIPELINE: curate -> term-index -> classifier-train composed " +
      "per batch through ManifestSink, crash mid-pipeline repairs on " +
      "replay, optimize compacts without changing reads") {
    import spark.implicits._
    import graft.ingest.ManifestSink
    import graft.operators.{Classifier, TextRank}
    val root = tmpDir("pipeline_")
    val corpusDir = s"$root/corpus"
    val (idxDir, dlDir) = (s"$root/index", s"$root/dl")
    val (cDir, aDir) = (s"$root/contribs", s"$root/cadj")
    val sink = Some(ManifestSink: graft.ingest.Ingest.DestinationSink)

    // label rides the batch: quality raters upstream of curation
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1L),
      (2L, "buy buy buy now now now", 0L),
      (3L, "the quick brown fox jumps over the lazy dog today", 1L))
      .toDF("doc_id", "text", "label")
    val b2 = Seq(
      (4L, "a thoughtful essay on distributed systems", 1L),
      (5L, "the quick brown fox jumps over the lazy dog", 0L), // dup of 1
      (6L, "now buy now buy now spam", 0L))
      .toDF("doc_id", "text", "label")

    // one per-batch function, the composition a foreachBatch would run:
    // curate (near-dup vs corpus), then index + train EXACTLY the
    // survivors of this batch
    def runBatch(b: org.apache.spark.sql.DataFrame): Unit = {
      StreamingIngest.curateDocBatch(spark,
        b.select(col("doc_id"), col("text")), corpusDir,
        Some(s"$root/victims"), threshold = 0.8, sink = sink)
      val corpusIds = ManifestSink.readBack(spark, corpusDir)
        .select(col("doc_id"))
      val survivors = b.join(corpusIds, Seq("doc_id"), "left_semi")
      StreamingIngest.indexDocBatch(spark,
        survivors.select(col("doc_id"), col("text")), idxDir, dlDir,
        sink = sink)
      StreamingIngest.trainDocBatch(spark, survivors, cDir, aDir,
        nBuckets = 64, sink = sink)
    }

    runBatch(b1)
    // crash mid-pipeline on b2: corpus append landed, index/train did NOT
    // (foreachBatch died between stages) — replay must finish the rest
    // without duplicating the curation
    StreamingIngest.curateDocBatch(spark,
      b2.select(col("doc_id"), col("text")), corpusDir,
      Some(s"$root/victims"), threshold = 0.8, sink = sink)
    runBatch(b2) // the replay

    // curation verdicts: 3 is an IN-batch near-dup of 1 (first wins),
    // 5 is a cross-batch near-dup of 1 — both gone
    val kept = ManifestSink.readBack(spark, corpusDir)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 4L, 6L))
    // index/dl/contribs cover exactly the survivors, no crash dups
    val dl = ManifestSink.readBack(spark, dlDir)
    assert(dl.select("doc_id").as[Long].collect().toSet == kept)
    assert(dl.groupBy("doc_id").count().where(col("count") > 1).count() == 0)
    // retrieval over the stored index == full scan over the survivors
    val survivorsDf = b1.unionByName(b2)
      .join(kept.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val viaIdx = TextRank.bm25FromIndex(
      ManifestSink.readBack(spark, idxDir), dl, Seq("buy", "fox"),
      topK = 10).as[(Long, Double)].collect().toSeq
    val viaScan = TextRank.bm25(
      survivorsDf.select(col("doc_id"), col("text")),
      Seq("buy", "fox"), topK = 10).as[(Long, Double)].collect().toSeq
    assert(viaIdx == viaScan)
    // classifier: incremental model == one-shot over the survivors
    val wInc = Classifier.weightsFromContribs(
      StreamingIngest.readContribs(spark, cDir, aDir, sink = sink))
      .as[(Long, Long)].collect().toMap
    val wOne = Classifier.trainWeights(survivorsDf, nBuckets = 64)
      .as[(Long, Long)].collect().toMap
    assert(wInc == wOne)

    // maintenance: optimize the per-batch small files; reads unchanged
    val packed = ManifestSink.optimize(spark, corpusDir,
      targetBytes = 1L << 20)
    assert(packed >= 2)
    assert(ManifestSink.readBack(spark, corpusDir)
      .select("doc_id").as[Long].collect().toSet == kept)
  }

  test("firstSeen: stateful cross-batch dedup emits each key once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val in = MemoryStream[(String, Int)]
    val out = StreamingIngest.firstSeen(
      in.toDS().groupByKey(_._1))
    val q = out.writeStream.format("memory").queryName("first_seen")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("a", 1), ("a", 2), ("b", 3))
      q.processAllAvailable()
      // second batch replays a and adds c — only c comes through
      in.addData(("a", 9), ("c", 4), ("c", 5))
      q.processAllAvailable()
      val rows = spark.table("first_seen").as[(String, Int)]
        .collect().sortBy(_._1)
      assert(rows.toSeq == Seq(("a", 1), ("b", 3), ("c", 4)))
    } finally q.stop()
  }

  test("stream-stream interval join: cross-batch matches emit, the " +
      "window bounds the pairing, and input behind the watermark is " +
      "filtered before it can re-match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val buys = MemoryStream[(String, java.sql.Timestamp)]
    val joined = StreamingIngest.streamIntervalJoin(
      clicks.toDF().toDF("ck", "ct"), "ck", "ct",
      buys.toDF().toDF("bk", "bt"), "bk", "bt",
      delay = "5 minutes", window = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def pairs() = spark.table("attrib")
        .select(col("ck"), col("ct").cast("string"),
          col("bt").cast("string"))
        .as[(String, String, String)].collect().toSeq.sorted

      // batch 1: same-batch match for a; b's click buffers unmatched
      clicks.addData(("a", ts("2026-01-01 10:00:00")),
        ("b", ts("2026-01-01 10:00:00")))
      buys.addData(("a", ts("2026-01-01 10:05:00")))
      q.processAllAvailable()
      assert(pairs() == Seq(
        ("a", "2026-01-01 10:00:00", "2026-01-01 10:05:00")))

      // batch 2: b's conversion arrives later — the buffered click
      // state matches it across batches; a purchase OUTSIDE b's
      // 10-minute window pairs with nothing
      buys.addData(("b", ts("2026-01-01 10:08:00")),
        ("b", ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      assert(pairs() == Seq(
        ("a", "2026-01-01 10:00:00", "2026-01-01 10:05:00"),
        ("b", "2026-01-01 10:00:00", "2026-01-01 10:08:00")))

      // advance both watermarks well past 10:15 (event time 12:00,
      // delay 5 min -> watermark ~11:55), committed by an extra cycle
      clicks.addData(("c", ts("2026-01-01 12:00:00")))
      buys.addData(("c", ts("2026-01-01 12:01:00")))
      q.processAllAvailable()
      clicks.addData(("d", ts("2026-01-01 12:02:00")))
      buys.addData(("d", ts("2026-01-01 12:03:00")))
      q.processAllAvailable()
      val n3 = pairs().size
      assert(n3 == 4) // c and d both matched

      // a VERY late purchase for a (10:06, far behind the ~11:57
      // watermark): filtered at input — no duplicate attribution even
      // though it would satisfy the raw join predicate
      buys.addData(("a", ts("2026-01-01 10:06:00")))
      q.processAllAvailable()
      assert(pairs().size == n3)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unattributed clicks " +
      "emit with NULL right side only after the watermark proves no " +
      "match can arrive; matched clicks never emit a null twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val buys = MemoryStream[(String, java.sql.Timestamp)]
    val joined = StreamingIngest.streamIntervalJoin(
      clicks.toDF().toDF("ck", "ct"), "ck", "ct",
      buys.toDF().toDF("bk", "bt"), "bk", "bt",
      delay = "5 minutes", window = "10 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("attrib_lo")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def rows() = spark.table("attrib_lo")
        .select(col("ck"), col("ct").cast("string"),
          col("bt").cast("string"))
        .as[(String, String, Option[String])].collect().toSeq.sorted

      // a converts in-window; b never converts
      clicks.addData(("a", ts("2026-01-01 10:00:00")),
        ("b", ts("2026-01-01 10:00:00")))
      buys.addData(("a", ts("2026-01-01 10:05:00")))
      q.processAllAvailable()
      // b's null row must NOT emit yet — a match could still arrive
      assert(rows() == Seq(
        ("a", "2026-01-01 10:00:00", Some("2026-01-01 10:05:00"))))

      // advance both watermarks far past b's window end (10:10 + 5 min
      // delay); the committed-watermark lag needs an extra cycle
      clicks.addData(("c", ts("2026-01-01 12:00:00")))
      buys.addData(("c", ts("2026-01-01 12:01:00")))
      q.processAllAvailable()
      clicks.addData(("d", ts("2026-01-01 12:30:00")))
      buys.addData(("d", ts("2026-01-01 12:31:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val r = rows()
      // b now surfaces exactly once, right side NULL; a has no null twin
      assert(r.contains(("b", "2026-01-01 10:00:00", None)), r.toString)
      assert(r.count(_._1 == "b") == 1)
      assert(r.count(_._1 == "a") == 1)
    } finally q.stop()
  }

  test("streaming upsert: each micro-batch merges by key — last write " +
      "wins across batches, replay is a content no-op, and the table " +
      "is always one whole snapshot per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dest = s"${tmpDir("upsert_")}/t"

    val in = MemoryStream[(Long, String)]
    val q = StreamingIngest.upsertStream(
      in.toDF().toDF("id", "v"), dest, "id", statsCols = Seq("id"))
    try {
      def state() = ManifestSink.readBack(spark, dest)
        .as[(Long, String)].collect().toSeq.sorted
      in.addData((1L, "a1"), (2L, "b1"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "a1"), (2L, "b1")))
      // batch 2 overwrites key 2 and inserts 3
      in.addData((2L, "b2"), (3L, "c2"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "a1"), (2L, "b2"), (3L, "c2")))
      // at-least-once replay of batch 2's content: a no-op by value
      ManifestSink.mergeInto(spark, dest,
        Seq((2L, "b2"), (3L, "c2")).toDF("id", "v"), "id",
        statsCols = Seq("id"))
      assert(state() == Seq((1L, "a1"), (2L, "b2"), (3L, "c2")))
    } finally q.stop()
  }

  test("streaming CDC upsert: op='d' rows delete their keys, the op " +
      "column never lands, and a replayed delete batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dest = s"${tmpDir("cdcup_")}/t"

    val in = MemoryStream[(Long, String, String)]
    val q = StreamingIngest.upsertStream(
      in.toDF().toDF("id", "v", "op"), dest, "id",
      statsCols = Seq("id"),
      deleteFilter = Some(col("op") === "d"),
      directiveCols = Seq("op"))
    try {
      def state() = ManifestSink.readBack(spark, dest)
        .as[(Long, String)].collect().toSeq.sorted
      in.addData((1L, "a1", "u"), (2L, "b1", "u"), (3L, "c1", "u"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "a1"), (2L, "b1"), (3L, "c1")))
      assert(ManifestSink.readBack(spark, dest).columns.toSeq
        == Seq("id", "v"))
      // one CDC batch: update 1, delete 2, insert 4, delete a ghost
      in.addData((1L, "a2", "u"), (2L, "", "d"), (4L, "d1", "u"),
        (99L, "", "d"))
      q.processAllAvailable()
      assert(state() == Seq((1L, "a2"), (3L, "c1"), (4L, "d1")))
      // replayed delete: key 2 already gone — content unchanged
      ManifestSink.mergeCdc(spark, dest,
        Seq((2L, "", "d")).toDF("id", "v", "op"), "id",
        col("op") === "d", directiveCols = Seq("op"),
        statsCols = Seq("id"))
      assert(state() == Seq((1L, "a2"), (3L, "c1"), (4L, "d1")))
    } finally q.stop()
  }

  test("streaming upsert fails LOUDLY when the merge does not apply: a " +
      "stale staged attempt fails the batch (checkpoint does not " +
      "advance), and after recover a restarted stream replays it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmpDir("upsertloud_")
    val dest = s"$root/t"
    val ckpt = s"$root/ckpt"

    ManifestSink.append(Seq((1L, "a0")).toDF("id", "v"), dest, None)
    // plant a stale staging dir — the crashed-writer state that made
    // every subsequent merge silently return zeros pre-fix
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$root/.staging_t/deadbeef00000000"))

    val in = MemoryStream[(Long, String)]
    val q = StreamingIngest.upsertStream(
      in.toDF().toDF("id", "v"), dest, "id",
      checkpointDir = Some(ckpt))
    val err = try {
      in.addData((1L, "a1"), (2L, "b1"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(err.getMessage.contains("did NOT merge") ||
      Option(err.getCause).exists(_.getMessage.contains("did NOT merge")),
      err.toString)
    // the batch was NOT lost: table unchanged, checkpoint not advanced
    assert(ManifestSink.readBack(spark, dest)
      .as[(Long, String)].collect().toSeq.sorted == Seq((1L, "a0")))

    // operator remediation: recover sweeps the stale attempt; a
    // restarted stream on the SAME checkpoint replays the failed batch
    ManifestSink.recover(spark, dest, _ => true)
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingIngest.upsertStream(
      in2.toDF().toDF("id", "v"), dest, "id",
      checkpointDir = Some(ckpt))
    try {
      in2.addData((1L, "a1"), (2L, "b1"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(ManifestSink.readBack(spark, dest)
      .as[(Long, String)].collect().toSeq.sorted ==
      Seq((1L, "a1"), (2L, "b1")))
  }

  test("compatibleAppend: the sameOrSuperSet rule at write time — a " +
      "reordered batch is refused before it lands, right-append " +
      "evolution passes") {
    import spark.implicits._
    val dest = s"${tmpDir("compat_")}/t"
    ManifestSink.compatibleAppend(
      Seq((1L, "a")).toDF("id", "v"), dest, None)
    // superset (right-append) passes
    ManifestSink.compatibleAppend(
      Seq((2L, "b", 0.5)).toDF("id", "v", "score"), dest, None)
    // prefix (narrower batch) passes too — reference semantics
    ManifestSink.compatibleAppend(
      Seq(3L).toDF("id"), dest, None)
    // reordered columns refused
    intercept[graft.schema.SchemaEvolution.SchemaMismatchException] {
      ManifestSink.compatibleAppend(
        Seq(("x", 4L)).toDF("v", "id"), dest, None)
    }
    assert(ManifestSink.readBack(spark, dest).count() == 3)
  }

  test("streaming sessionization: session_window state merges " +
      "cross-batch events within the gap, finalizes sessions only once " +
      "the watermark passes their end, and keeps open sessions back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)

    val in = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = in.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("k"), col("session_window.start").cast("string")
        .as("ws"), col("session_window.end").cast("string").as("we"),
        col("n"), col("sv"))
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def done() = spark.table("sessions")
        .as[(String, String, String, Long, Double)]
        .collect().toSeq.sorted

      // batch 1: two a events + one b event, all inside one gap
      in.addData(("a", ts("2026-01-01 10:00:00"), 1.0),
        ("a", ts("2026-01-01 10:02:00"), 2.0),
        ("b", ts("2026-01-01 10:01:00"), 7.0))
      q.processAllAvailable()
      assert(done().isEmpty) // watermark still behind the session ends

      // batch 2: a third a event EXTENDS the open session state
      // (cross-batch merge), and a far-future c event drives the
      // watermark past both sessions' ends
      in.addData(("a", ts("2026-01-01 10:04:00"), 4.0),
        ("c", ts("2026-01-01 10:40:00"), 9.0))
      q.processAllAvailable()
      // one more cycle lets the advanced watermark finalize
      in.addData(("c", ts("2026-01-01 10:41:00"), 1.0))
      q.processAllAvailable()
      val got = done()
      assert(got == Seq(
        ("a", "2026-01-01 10:00:00", "2026-01-01 10:09:00", 3L, 7.0),
        ("b", "2026-01-01 10:01:00", "2026-01-01 10:06:00", 1L, 7.0)))
      // c's session is still open — not emitted
      assert(!got.exists(_._1 == "c"))
    } finally q.stop()
  }

  test("windowed channel stats: tumbling window with watermark (batch-run)") {
    import spark.implicits._
    val df = Seq(
      ("2026-01-01 00:10:00", "a", 1.0),
      ("2026-01-01 00:20:00", "a", 3.0),
      ("2026-01-01 01:10:00", "a", 5.0),
      ("2026-01-01 00:30:00", "b", 7.0))
      .toDF("ts", "k", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = StreamingIngest.windowedChannelStats(df, "ts", "k", "v")
      .select(col("window.start").cast("string").as("ws"), col("k"),
        col("n"), col("sum_value"))
      .orderBy("ws", "k")
      .collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getDouble(3))).toSeq == Seq(
      ("2026-01-01 00:00:00", "a", 2L, 4.0),
      ("2026-01-01 00:00:00", "b", 1L, 7.0),
      ("2026-01-01 01:00:00", "a", 1L, 5.0)))
  }

  test("changesStream: tails the manifest log exactly once across " +
      "restarts, skips layout snapshots without stranding the " +
      "checkpoint below a compaction floor, and refuses content " +
      "rewrites and compacted-away resume points") {
    import spark.implicits._
    val root = tmpDir("cdctail_")
    val dest = s"$root/t"
    val ckpt = s"$root/ckpt"
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()
    def drain(): Seq[Long] =
      StreamingIngest.changesStream(spark, dest, ckpt) { (df, v) =>
        seen += ((v, df.select("id").as[Long].collect().toSet))
      }

    // three appends, then the first drain delivers each exactly once
    for (b <- 0 until 3)
      ManifestSink.append(
        (b * 10L until b * 10L + 3L).map(i => (i, s"b$b"))
          .toDF("id", "v"), dest, None)
    assert(drain() == Seq(0L, 1L, 2L))
    assert(seen.toSeq == Seq(
      (0L, Set(0L, 1L, 2L)), (1L, Set(10L, 11L, 12L)),
      (2L, Set(20L, 21L, 22L))))
    // idempotent: nothing new, nothing re-emitted (the "restart" is a
    // fresh call reading the same durable checkpoint)
    assert(drain().isEmpty && seen.length == 3)

    // a fourth append after the restart arrives once
    ManifestSink.append(Seq((30L, "b3")).toDF("id", "v"), dest, None)
    assert(drain() == Seq(3L))
    assert(seen.last == ((3L, Set(30L))))

    // optimize (layout snapshot v4) mid-stream: no emission, no drop —
    // and compact right after must NOT strand the checkpoint below the
    // new floor (the drain advanced it past the layout version)
    assert(ManifestSink.optimize(spark, dest, targetBytes = 1L << 30) > 0)
    assert(drain().isEmpty)
    ManifestSink.compact(spark, dest)
    assert(drain().isEmpty)
    ManifestSink.append(Seq((40L, "b4")).toDF("id", "v"), dest, None)
    assert(drain().length == 1)
    assert(seen.last._2 == Set(40L))
    assert(seen.length == 5)

    // a content-changing commit in range refuses loudly
    ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(40, 40))
    val err = intercept[IllegalArgumentException] { drain() }
    assert(err.getMessage.contains("content-changing"))

    // a tail resuming from BELOW the surviving floor refuses as
    // compacted-away (a checkpoint from before the compaction)
    val oldCkpt = new java.io.File(s"$root/ckpt_too_old")
    oldCkpt.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/ckpt_too_old/last_version"), "0")
    val err2 = intercept[IllegalArgumentException] {
      StreamingIngest.changesStream(spark, dest,
        s"$root/ckpt_too_old") { (_, _) => () }
    }
    assert(err2.getMessage.contains("compacted away"))
  }

  test("CDC tail checkpoints are versioned files — a crash at any " +
      "point leaves a valid resume point (never the no-checkpoint " +
      "window of delete-then-rename), stale+new pairs resolve to max, " +
      "and legacy single-file checkpoints still read") {
    import spark.implicits._
    val root = tmpDir("cdcckpt_")
    val dest = s"$root/t"
    val ckpt = s"$root/ckpt"
    for (b <- 0 until 3)
      ManifestSink.append(
        Seq((b.toLong, s"b$b")).toDF("id", "v"), dest, None)
    var emitted = Seq.empty[Long]
    StreamingIngest.changesStream(spark, dest, ckpt) { (_, v) =>
      emitted :+= v
    }
    assert(emitted == Seq(0L, 1L, 2L))
    // layout: the durable state is ONE versioned file per advance —
    // after the drain exactly the newest survives, and at no point did
    // an advance pass through a checkpoint-less window (each version's
    // file is created BEFORE older ones are swept)
    val files = new java.io.File(ckpt).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq
    assert(files == Seq("last_version.2"), files.toString)

    // crash shape: the sweep died before removing the superseded file
    // — both coexist; the reader takes the max, so nothing replays
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$ckpt/last_version.1"), "1")
    emitted = Seq.empty
    StreamingIngest.changesStream(spark, dest, ckpt) { (_, v) =>
      emitted :+= v
    }
    assert(emitted.isEmpty)

    // legacy checkpoint (pre-versioned layout): read as the floor and
    // upgraded to a versioned file on the next advance
    val legacyDir = s"$root/ckpt_legacy"
    new java.io.File(legacyDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$legacyDir/last_version"), "1")
    emitted = Seq.empty
    StreamingIngest.changesStream(spark, dest, legacyDir) { (_, v) =>
      emitted :+= v
    }
    assert(emitted == Seq(2L))
    val upgraded = new java.io.File(legacyDir).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq.sorted
    assert(upgraded == Seq("last_version.2"), upgraded.toString)

    // two tails sharing one checkpointDir: no fixed tmp name to race —
    // interleaved drains never lose or double-emit (same durable max)
    ManifestSink.append(Seq((9L, "b3")).toDF("id", "v"), dest, None)
    val seenA = scala.collection.mutable.ArrayBuffer[Long]()
    val seenB = scala.collection.mutable.ArrayBuffer[Long]()
    val tA = new Thread(() => StreamingIngest.changesStream(
      spark, dest, ckpt) { (_, v) => seenA += v })
    val tB = new Thread(() => StreamingIngest.changesStream(
      spark, dest, ckpt) { (_, v) => seenB += v })
    tA.start(); tB.start(); tA.join(); tB.join()
    // at least one tail saw v3; a racing pair may both see it (the
    // documented at-least-once-per-version window) but neither can
    // skip it or regress the checkpoint
    assert((seenA ++ seenB).toSet == Set(3L))
    val after = new java.io.File(ckpt).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq
    assert(after.contains("last_version.3"))
  }

  test("medallion pipeline: upsertStream(mor = true) keeps bronze a " +
      "pure append+dv log, changeFeedStream maintains a silver " +
      "aggregate from signed deltas that equals recomputing from " +
      "scratch") {
    import spark.implicits._
    val root = tmpDir("medallion_")
    val bronze = s"$root/bronze"
    val ckpt = s"$root/ckpt"
    // silver state: count per category, maintained ONLY from deltas
    val silver = scala.collection.mutable.Map[String, Long]()
    def drainIntoSilver(): Unit =
      StreamingIngest.changeFeedStream(spark, bronze, ckpt) { (df, _) =>
        df.select(col("_change_type"), col("cat"))
          .as[(String, String)].collect().foreach { case (ct, cat) =>
            val d = if (ct == "insert") 1L else -1L
            silver(cat) = silver.getOrElse(cat, 0L) + d
          }
      }
    var batchNo = 0
    def run(rows: Seq[(Long, String, String)]): Unit = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      batchNo += 1
      val ms = MemoryStream[(Long, String, String)]
      ms.addData(rows)
      val q = StreamingIngest.upsertStream(
        ms.toDF().toDF("id", "cat", "op"), bronze, "id",
        statsCols = Seq("id"),
        checkpointDir = Some(s"$root/wck_$batchNo"),
        deleteFilter = Some(col("op") === "d"),
        directiveCols = Seq("op"), mor = true)
      q.processAllAvailable(); q.stop()
    }
    // batch 1: inserts across two categories
    run((0L until 30L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", "u")))
    drainIntoSilver()
    assert(silver == Map("a" -> 10L, "b" -> 20L))
    // batch 2: delete some, re-categorize others (delete+insert pairs)
    run(Seq((0L, "", "d"), (3L, "", "d")) ++
      Seq((1L, "a", "u"), (2L, "a", "u")))
    drainIntoSilver()
    assert(silver == Map("a" -> 10L, "b" -> 18L))
    // silver from deltas equals recomputing from the final bronze
    val direct = ManifestSink.readBack(spark, bronze)
      .groupBy(col("cat")).count()
      .as[(String, Long)].collect().toMap
    assert(silver.toMap == direct)
    // bronze stayed a pure append+dv log: every version decomposed
    // (no refusal), and the original files were never rewritten
    assert(ManifestSink.history(spark, bronze)
      .where(col("kind") === "snapshot").count() == 0)
  }

  test("changeFeedStream: tails row-level changes (inserts AND delete " +
      "pre-images) exactly once across restarts, skips optimize, and " +
      "a crash mid-version replays only that version") {
    import spark.implicits._
    val root = tmpDir("cdftail_")
    val dest = s"$root/t"
    val ckpt = s"$root/ckpt"
    val seen = scala.collection.mutable
      .ArrayBuffer[(Long, String, Long, String)]()
    def drain(): Seq[Long] =
      StreamingIngest.changeFeedStream(spark, dest, ckpt) { (df, v) =>
        seen ++= df.select(col("_commit_version"), col("_change_type"),
            col("id"), col("v"))
          .as[(Long, String, Long, String)].collect()
      }

    ManifestSink.statsAppend(
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v"),
      dest, None, Seq("id"))                                  // v0
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(3, 4)) == 2L) // v1
    assert(drain() == Seq(0L, 1L))
    assert(seen.count(_._2 == "insert") == 20)
    assert(seen.filter(_._2 == "delete").map(r => (r._3, r._4))
      .sorted == Seq((3L, "v3"), (4L, "v4")))
    // restart: nothing re-emitted
    assert(drain().isEmpty && seen.length == 22)

    // a mor update arrives as delete pre-image + insert post-image
    seen.clear()
    assert(ManifestSink.updateWhereMor(spark, dest,
      col("id").between(7, 7),
      Map("v" -> lit("NEW"))) == 1L)                          // v2
    assert(drain() == Seq(2L))
    assert(seen.sortBy(_._2) == Seq((2L, "delete", 7L, "v7"),
      (2L, "insert", 7L, "NEW")))

    // optimize mid-stream: checkpoint advances, nothing emitted, and
    // later changes still arrive once
    assert(ManifestSink.optimize(spark, dest,
      targetBytes = 1L << 30) > 0L)                           // v3
    assert(drain().isEmpty)
    seen.clear()
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(10, 10)) == 1L) // v4
    assert(drain() == Seq(4L))
    assert(seen.toSeq == Seq((4L, "delete", 10L, "v10")))

    // crash mid-version: process throws before the checkpoint moves —
    // the retry replays exactly the failed version, nothing else
    seen.clear()
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(11, 12)) == 2L) // v5
    var boom = true
    intercept[RuntimeException] {
      StreamingIngest.changeFeedStream(spark, dest, ckpt) { (_, _) =>
        if (boom) throw new RuntimeException("crash mid-version")
      }
    }
    boom = false
    assert(drain() == Seq(5L))
    assert(seen.map(r => (r._3, r._4)).sorted ==
      Seq((11L, "v11"), (12L, "v12")))
  }

  test("stream admission control: a cold drain of a long log chunks " +
      "into bounded micro-batches (maxVersionsPerTrigger) instead of " +
      "one N-way union, exactly once; the stream schema is " +
      "LOG-resolved (ALTER ADD visible immediately, ALTER DROP " +
      "excluded despite surviving bytes)") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tmpDir("gsrcadm_")
    val dest = s"$root/t"
    for (b <- 0L until 12L)
      ManifestSink.append(Seq((b, s"v$b")).toDF("id", "v"), dest, None)

    val perBatch = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    def drain(ckpt: String, cap: Int): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", cap.toString).load(dest)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            perBatch += df.select(col("_commit_version"))
              .distinct().as[Long].collect().toSeq
            ()
        }.start()
      q.awaitTermination()
    }
    drain(s"$root/ck1", cap = 3)
    // every version delivered exactly once, in bounded chunks
    assert(perBatch.flatten.sorted.toSeq == (0L until 12L))
    val realBatches = perBatch.filter(_.nonEmpty)
    assert(realBatches.length >= 4,
      s"12 versions at cap 3 must chunk, got $perBatch")
    assert(realBatches.forall(_.length <= 3),
      s"a batch admitted more than the cap: $perBatch")

    // the schema is the LOG's, not a footer sweep: an ALTER ADD is
    // visible to a new stream before any file carries the column...
    ManifestSink.alterSchema(spark, dest, cur =>
      org.apache.spark.sql.types.StructType(cur.fields :+
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.DoubleType)))
    ManifestSink.append(Seq((100L, "vx", 1.5)).toDF("id", "v", "w"),
      dest, None)
    val s2 = spark.readStream.format("graft").load(dest)
    assert(s2.schema.fieldNames.toSeq ==
      Seq("id", "v", "w", "_commit_version"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Option[Double])]()
    val q2 = s2.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ck2")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          got ++= df.collect().map(r =>
            (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
          ()
      }.start()
    q2.awaitTermination()
    assert(got.length == 13)
    assert(got.toMap.apply(100L) == Some(1.5))
    assert(got.filter(_._1 < 100L).forall(_._2.isEmpty))

    // ...and an ALTER DROP vanishes even though every footer still
    // carries the column's bytes (a sweep would resurrect it)
    ManifestSink.alterSchema(spark, dest, cur =>
      org.apache.spark.sql.types.StructType(
        cur.fields.filterNot(_.name == "v")))
    assert(spark.readStream.format("graft").load(dest)
      .schema.fieldNames.toSeq == Seq("id", "w", "_commit_version"))
  }

  test("admission control under a processing-time trigger (not just " +
      "AvailableNow): batches stay bounded and drain everything " +
      "exactly once") {
    import spark.implicits._
    val root = tmpDir("gsrcpt_")
    val dest = s"$root/t"
    for (b <- 0L until 10L)
      ManifestSink.append(Seq((b, s"v$b")).toDF("id", "v"), dest, None)
    val perBatch = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "4").load(dest)
      .writeStream
      .option("checkpointLocation", s"$root/ck")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
          perBatch += df.select(col("_commit_version"))
            .distinct().as[Long].collect().toSeq
          ()
      }.start()
    try q.processAllAvailable()
    finally q.stop()
    assert(perBatch.flatten.sorted.toSeq == (0L until 10L))
    val real = perBatch.filter(_.nonEmpty)
    assert(real.length >= 3, s"10 versions at cap 4 must chunk: $perBatch")
    assert(real.forall(_.length <= 4), s"cap exceeded: $perBatch")
  }

  test("readStream.format(\"graft\"): the manifest log as a native " +
      "Structured Streaming source — AvailableNow drains exactly once " +
      "across restarts on Spark's own checkpoint, mid-stream " +
      "optimize+compact emit nothing, the changes feed decomposes mor " +
      "commits row-level, and a non-decomposable commit fails the " +
      "query loudly") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val root = tmpDir("gsrc_")
    val dest = s"$root/t"
    val ckpt = s"$root/ckpt"
    for (b <- 0 until 3)
      ManifestSink.append(
        (b * 10L until b * 10L + 3L).map(i => (i, s"b$b"))
          .toDF("id", "v"), dest, None)

    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(dest)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            out ++= df.select(col("_commit_version"), col("id"))
              .as[(Long, Long)].collect()
            ()
        }.start()
      q.awaitTermination()
    }
    // first drain: all three committed versions, each id tagged with
    // its commit version, exactly once
    drain()
    assert(out.sorted.toSeq ==
      (for (b <- 0L until 3L; i <- 0L until 3L)
        yield (b, b * 10L + i)).sorted)
    // restart on the same checkpoint: nothing re-emitted
    drain()
    assert(out.length == 9)
    // a new commit arrives once, with its version
    ManifestSink.append(Seq((30L, "b3")).toDF("id", "v"), dest, None)
    drain()
    assert(out.length == 10 && out.last == ((3L, 30L)))
    // optimize (layout snapshot) + compact mid-stream: no emission,
    // no drop, and the offset advances past the layout versions
    assert(ManifestSink.optimize(spark, dest,
      targetBytes = 1L << 30) > 0L)
    drain()
    ManifestSink.compact(spark, dest)
    drain()
    assert(out.length == 10)
    ManifestSink.append(Seq((40L, "b4")).toDF("id", "v"), dest, None)
    drain()
    assert(out.length == 11 && out.last._2 == 40L)

    // a content-changing commit fails the appends query LOUDLY (the
    // batch feed's refuse-on-COW contract, surfaced as a stream error)
    ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(40, 40))
    val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { drain() }
    assert(err.getMessage.contains("content-changing"))

    // feed=changes on a mor table: inserts AND delete pre-images,
    // decomposed per version, through the native source
    val dest2 = s"$root/t2"
    val ckpt2 = s"$root/ckpt2"
    ManifestSink.statsAppend(
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      dest2, None, Seq("id"))                                   // v0
    assert(ManifestSink.deleteWhereMor(spark, dest2,
      col("id").between(3, 4)) == 2L)   // v1
    val changes = scala.collection.mutable
      .ArrayBuffer[(Long, String, Long, String)]()
    def drainChanges(): Unit = {
      val q = spark.readStream.format("graft")
        .option("feed", "changes").load(dest2)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt2)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            changes ++= df.select(col("_commit_version"),
                col("_change_type"), col("id"), col("v"))
              .as[(Long, String, Long, String)].collect()
            ()
        }.start()
      q.awaitTermination()
    }
    drainChanges()
    assert(changes.count(_._2 == "insert") == 10)
    assert(changes.filter(_._2 == "delete").map(r => (r._3, r._4))
      .sorted.toSeq == Seq((3L, "v3"), (4L, "v4")))
    // restart: nothing re-emitted; an update decomposes to delete
    // pre-image + insert post-image in one version
    drainChanges()
    assert(changes.length == 12)
    changes.clear()
    assert(ManifestSink.updateWhereMor(spark, dest2,
      col("id").between(7, 7),
      Map("v" -> lit("NEW"))) == 1L)                            // v2
    drainChanges()
    assert(changes.sortBy(_._2).toSeq == Seq(
      (2L, "delete", 7L, "v7"), (2L, "insert", 7L, "NEW")))
  }
}
