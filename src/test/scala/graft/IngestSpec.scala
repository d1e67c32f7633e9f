package graft

import org.apache.spark.sql.functions._

import graft.ingest.{Ingest, ManifestSink, NotificationIngest}
import graft.ledger.Ledger
import graft.model.Manifest

/** End-to-end ingest: fixtures through glob → ledger → sniff → evolve →
  * partitioned write, replay safety, jagged rows.
  */
class IngestSpec extends SparkSpec {

  private val manifestJson =
    """{
      "project": "t",
      "tasks": [{
        "sources": ["**/in/**/*.csv"],
        "dataset": "ds",
        "table": "sensors",
        "fields": [
          {"name": "timestamp",  "type": "timestamp"},
          {"name": "utc_offset", "type": "float"},
          {"name": "location",   "type": "string"}
        ]
      }]
    }"""

  test("ingest end-to-end: evolve, partition, ledger replay, jagged rows") {
    val root = tmpDir("ingest_")
    val src = new java.io.File(s"$root/in/2026")
    src.mkdirs()
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(src, name))
      try w.write(body) finally w.close()
    }
    write("a.csv",
      "timestamp,utc_offset,location,t1\n" +
        "2026-01-01 00:00:00,1.0,x,10.5\n" +
        "2026-01-02 00:00:00,1.0,y,11.5\n")

    val task = Manifest.parse(manifestJson).tasks.head
    // partition field inferred (manifest omits it) via likelyTimestamp
    val r1 = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r1.loadedFiles.length == 1)
    assert(r1.partitionField.contains("timestamp"))
    assert(r1.rows == 2)
    // DAY partition dirs exist (partition pruning surface at scale)
    val partDirs = new java.io.File(r1.destPath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(partDirs.toSeq == Seq("p_date=2026-01-01", "p_date=2026-01-02"))

    // replay: no-op
    val r2 = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r2.loadedFiles.isEmpty && r2.rows == 0)

    // wider + jagged file: v2 column appears; short row null-padded
    // (allowJaggedRows contract, reference BucketToBigQuery.js:336)
    write("b.csv",
      "timestamp,utc_offset,location,t1,t2\n" +
        "2026-01-03 00:00:00,2.0,z,12.5,99.0\n" +
        "2026-01-03 01:00:00,2.0,z,13.5\n")
    val r3 = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r3.loadedFiles.length == 1)
    assert(r3.schema.fieldNames.toSeq ==
      Seq("timestamp", "utc_offset", "location", "t1", "t2"))

    val dest = Ingest.readDest(spark, r1.destPath)
    assert(dest.count() == 4)
    // old rows read as null in the evolved column (mergeSchema)
    assert(dest.filter(col("t2").isNull).count() == 3)
    // jagged short row null-padded, not dropped
    assert(dest.filter(col("t1") === 13.5 && col("t2").isNull).count() == 1)

    // ledger has exactly the two files
    assert(Ledger.importedUris(spark, s"$root/wh/ds/sensors_imported")
      .count() == 2)
  }

  test("maxBadRecords=0: garbage rows fail the load, jagged rows pass") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("strict_")
    val f = new java.io.File(dir, "x.csv")
    val schema = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("v", DoubleType)))
    def write(body: String): Unit = {
      val w = new java.io.PrintWriter(f)
      try w.write(body) finally w.close()
    }
    // jagged short row: fine under allowJaggedRows
    write("timestamp,v\n2026-01-01 00:00:00,1.5\n2026-01-02 00:00:00\n")
    val ok = graft.ingest.Ingest.readCsv(spark, schema,
      Seq(f.getAbsolutePath))
    assert(ok.count() == 2)
    assert(ok.filter(org.apache.spark.sql.functions.col("v").isNull)
      .count() == 1)
    // garbage line (unparseable first field): strict mode must throw
    write("timestamp,v\nTOTAL GARBAGE NOT A ROW\n2026-01-01 00:00:00,1.5\n")
    val e = intercept[Exception] {
      // collect (not count) — count() would prune the guarded column away,
      // exactly like the destination write that materializes every column
      graft.ingest.Ingest.readCsv(spark, schema,
        Seq(f.getAbsolutePath)).collect()
    }
    assert(e.getMessage.contains("maxBadRecords") ||
      Option(e.getCause).exists(_.getMessage.contains("maxBadRecords")))
    // non-strict: garbage row comes through null-padded
    assert(graft.ingest.Ingest.readCsv(spark, schema,
      Seq(f.getAbsolutePath), strict = false).count() == 2)
    // STRUCTURALLY FULL row with an unparseable typed cell: that is real
    // corruption, not jaggedness — must fail even though the FIRST field
    // parses fine (the old first-field-only check let this through)
    write("timestamp,v\n2026-01-01 00:00:00,NOT_A_NUMBER\n")
    val e2 = intercept[Exception] {
      graft.ingest.Ingest.readCsv(spark, schema,
        Seq(f.getAbsolutePath)).collect()
    }
    assert(e2.getMessage.contains("maxBadRecords") ||
      Option(e2.getCause).exists(_.getMessage.contains("maxBadRecords")))
    // EXTRA trailing cells (ignoreUnknownValues contract): every declared
    // field parses — tolerated, not corruption
    write("timestamp,v\n2026-01-01 00:00:00,1.5,EXTRA,MORE\n")
    val extra = graft.ingest.Ingest.readCsv(spark, schema,
      Seq(f.getAbsolutePath)).collect()
    assert(extra.length == 1 && extra.head.getDouble(1) == 1.5)
    // short jagged row whose present cell holds a QUOTED comma: the raw
    // comma count exceeds the schema width, but it is still a short row
    // and must pass under allowJaggedRows
    val schema3 = StructType(Seq(
      StructField("timestamp", TimestampType),
      StructField("name", StringType),
      StructField("v", DoubleType)))
    write("timestamp,name,v\n2026-01-01 00:00:00,\"x,y\"\n")
    val quoted = graft.ingest.Ingest.readCsv(spark, schema3,
      Seq(f.getAbsolutePath)).collect()
    assert(quoted.length == 1 && quoted.head.getString(1) == "x,y"
      && quoted.head.isNullAt(2))
  }

  test("loadTask writes through a pluggable DestinationSink") {
    import graft.ingest.Ingest
    val root = tmpDir("sink_")
    val src = new java.io.File(s"$root/in"); src.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(src, "a.csv"))
    try w.write(
      "timestamp,utc_offset,location\n2026-01-01 00:00:00,1.0,x\n")
    finally w.close()
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val sink = new Ingest.DestinationSink {
      override def append(df: org.apache.spark.sql.DataFrame,
          destPath: String, partitionField: Option[String]): Unit = {
        calls += s"append:$partitionField"
        Ingest.ParquetSink.append(df, destPath, partitionField)
      }
      override def readBack(s: org.apache.spark.sql.SparkSession,
          destPath: String): org.apache.spark.sql.DataFrame = {
        calls += "readBack"
        Ingest.ParquetSink.readBack(s, destPath)
      }
    }
    val task = Manifest.parse(manifestJson).tasks.head
    val r = Ingest.loadTask(spark, task, root, s"$root/wh", sink)
    assert(r.rows == 1)
    assert(calls.toSeq == Seq("append:Some(timestamp)", "readBack"))
  }

  test("crash between dest write and ledger append: replay does not " +
      "duplicate rows (idempotent staged commit)") {
    val root = tmpDir("crash_")
    val src = new java.io.File(s"$root/in"); src.mkdirs()
    def write(name: String, body: String): Unit = {
      val w = new java.io.PrintWriter(new java.io.File(src, name))
      try w.write(body) finally w.close()
    }
    write("a.csv",
      "timestamp,utc_offset,location\n" +
        "2026-01-01 00:00:00,1.0,x\n2026-01-02 00:00:00,1.0,y\n")
    val task = Manifest.parse(manifestJson).tasks.head

    // crash AFTER the destination publish, BEFORE the ledger append — the
    // window the reference mirrors with data LOSS (BucketToBigQuery.js:361)
    object CrashAfterWrite extends Ingest.DestinationSink {
      override def append(df: org.apache.spark.sql.DataFrame, p: String,
          f: Option[String]): Unit = Ingest.ParquetSink.append(df, p, f)
      override def readBack(s: org.apache.spark.sql.SparkSession, p: String) =
        Ingest.ParquetSink.readBack(s, p)
      override def stagedAppend(df: org.apache.spark.sql.DataFrame,
          p: String, f: Option[String], id: String,
          uris: Seq[String]): Unit = {
        Ingest.ParquetSink.stagedAppend(df, p, f, id, uris)
        throw new RuntimeException("simulated crash before ledger append")
      }
      override def recover(s: org.apache.spark.sql.SparkSession, p: String,
          c: Seq[String] => Boolean, minAgeMs: Long): Unit =
        Ingest.ParquetSink.recover(s, p, c, minAgeMs)
      override def finishCommit(s: org.apache.spark.sql.SparkSession,
          p: String, id: String): Unit =
        Ingest.ParquetSink.finishCommit(s, p, id)
    }
    intercept[RuntimeException] {
      Ingest.loadTask(spark, task, root, s"$root/wh", CrashAfterWrite)
    }
    // rows were published (dirty-visible until recovery) but NOT ledgered
    assert(Ledger.importedUris(spark, s"$root/wh/ds/sensors_imported")
      .count() == 0)

    // replay with a healthy sink: rollback + re-publish → exactly one copy
    val r = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r.loadedFiles.length == 1)
    assert(r.rows == 2, "replay after crash must not duplicate rows")
    assert(Ingest.readDest(spark, r.destPath).count() == 2)
    // commit record swept
    assert(!new java.io.File(s"$root/wh/ds/.staging_sensors").exists())

    // crash AFTER the ledger append, BEFORE marker cleanup: the attempt is
    // committed; recovery must roll FORWARD (keep rows), never delete them
    write("b.csv",
      "timestamp,utc_offset,location\n2026-01-03 00:00:00,1.0,z\n")
    object CrashAfterLedger extends Ingest.DestinationSink {
      override def append(df: org.apache.spark.sql.DataFrame, p: String,
          f: Option[String]): Unit = Ingest.ParquetSink.append(df, p, f)
      override def readBack(s: org.apache.spark.sql.SparkSession, p: String) =
        Ingest.ParquetSink.readBack(s, p)
      override def stagedAppend(df: org.apache.spark.sql.DataFrame,
          p: String, f: Option[String], id: String, uris: Seq[String]): Unit =
        Ingest.ParquetSink.stagedAppend(df, p, f, id, uris)
      override def recover(s: org.apache.spark.sql.SparkSession, p: String,
          c: Seq[String] => Boolean, minAgeMs: Long): Unit =
        Ingest.ParquetSink.recover(s, p, c, minAgeMs)
      override def finishCommit(s: org.apache.spark.sql.SparkSession,
          p: String, id: String): Unit =
        throw new RuntimeException("simulated crash before marker cleanup")
    }
    intercept[RuntimeException] {
      Ingest.loadTask(spark, task, root, s"$root/wh", CrashAfterLedger)
    }
    assert(new java.io.File(s"$root/wh/ds/.staging_sensors").exists())
    // replay: no new files; recovery sweeps the committed marker, rows stay
    val r2 = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r2.loadedFiles.isEmpty)
    assert(Ingest.readDest(spark, r.destPath).count() == 3)
    assert(!new java.io.File(s"$root/wh/ds/.staging_sensors").exists())
    assert(Ledger.importedUris(spark, s"$root/wh/ds/sensors_imported")
      .count() == 2)
  }

  test("recover leaves young (possibly in-flight) attempts untouched: " +
      "minAttemptAgeMs guard") {
    import graft.ingest.Ingest
    import spark.implicits._
    val root = tmpDir("inflight_")
    val dest = s"$root/wh/ds/t"
    val df = Seq((1L, "x")).toDF("id", "s")
    Ingest.ParquetSink.stagedAppend(df, dest, None, "w1", Seq("gs://b/a.csv"))
    def published = new java.io.File(dest).listFiles.toSeq
      .map(_.getName).filter(_.startsWith("w1-"))
    val staging = new java.io.File(s"$root/wh/ds/.staging_t")
    assert(published.nonEmpty && staging.exists)
    val hourMs = 3600 * 1000L
    // the attempt is seconds old: with the guard on, recover must treat it
    // as possibly in-flight and leave BOTH the published files and the
    // commit-pending marker alone (the concurrent-writer protection)
    Ingest.ParquetSink.recover(spark, dest, _ => false,
      minAttemptAgeMs = hourMs)
    assert(published.nonEmpty && staging.exists)
    // age every file in the attempt past the guard: now it is by
    // definition crashed -> rolled back (uncommitted) and swept
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 2 * hourMs)
      Option(f.listFiles).foreach(_.foreach(ageTree))
    }
    ageTree(staging)
    Ingest.ParquetSink.recover(spark, dest, _ => false,
      minAttemptAgeMs = hourMs)
    assert(published.isEmpty, "aged uncommitted attempt must roll back")
    assert(!staging.exists)
  }

  test("minAttemptAgeMs must absorb store-vs-driver clock skew: a " +
      "future-stamped mtime keeps the attempt in-flight until the margin " +
      "covers the skew") {
    import graft.ingest.Ingest
    import spark.implicits._
    val root = tmpDir("skew_")
    val dest = s"$root/wh/ds/t"
    Ingest.ParquetSink.stagedAppend(Seq((1L, "x")).toDF("id", "s"),
      dest, None, "w1", Seq("gs://b/a.csv"))
    val staging = new java.io.File(s"$root/wh/ds/.staging_t")
    val hourMs = 3600 * 1000L
    // every file is long dead EXCEPT one whose mtime the "object store"
    // stamped 10 min ahead of the driver clock (skew): now - newestMs is
    // negative, so ANY positive guard treats the attempt as in-flight —
    // the attempt survives sweeps until the skewed stamp falls behind
    // now - minAttemptAgeMs. This is the documented assumption: the
    // margin must exceed worst-case skew, or crashed attempts linger.
    def ageTree(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 2 * hourMs)
      Option(f.listFiles).foreach(_.foreach(ageTree))
    }
    ageTree(staging)
    // skew the manifest (a file recover's listing definitely sees — local
    // ChecksumFileSystem hides .crc shadows)
    val skewed = new java.io.File(
      staging.listFiles.find(_.isDirectory).get, "_graft_manifest")
    assert(skewed.isFile)
    skewed.setLastModified(System.currentTimeMillis() + 10 * 60 * 1000L)
    Ingest.ParquetSink.recover(spark, dest, _ => false,
      minAttemptAgeMs = 1L)
    assert(staging.exists, "skewed-young attempt must be skipped, not swept")
    // guard OFF (0 = strict single-writer cadence) ignores age entirely
    Ingest.ParquetSink.recover(spark, dest, _ => false, minAttemptAgeMs = 0L)
    assert(!staging.exists)
  }

  test("shardedWrite: token budgets bounded, assignment deterministic, " +
      "readback complete, one file per shard") {
    import spark.implicits._
    val root = tmpDir("shards_")
    val rnd = new scala.util.Random(11)
    val docs = (0L until 400L).map(i => (i, 1 + rnd.nextInt(99)))
      .toDF("doc_id", "n_tokens")
    val budget = 512L
    Ingest.ParquetSink.shardedWrite(docs, s"$root/sh1", "n_tokens",
      "doc_id", budget)
    val back = spark.read.parquet(s"$root/sh1")
    // complete: every doc exactly once
    assert(back.count() == 400L)
    assert(back.select("doc_id").distinct().count() == 400L)
    // budget bound: no doc exceeds the budget, so every shard < 2x budget,
    // and every shard but the last is at least half full (greedy packing)
    val fills = back.groupBy("shard")
      .agg(sum("n_tokens").as("tok")).select("shard", "tok")
      .as[(Long, Long)].collect().toMap
    assert(fills.values.forall(_ < 2 * budget), s"overfull shard: $fills")
    val lastShard = fills.keys.max
    assert(fills.filter(_._1 != lastShard).values.forall(_ > budget / 2))
    // shards cover a contiguous range 0..max
    assert(fills.keys.toSeq.sorted == (0L to lastShard))
    // deterministic: an independent rerun assigns identically
    Ingest.ParquetSink.shardedWrite(docs.repartition(7), s"$root/sh2",
      "n_tokens", "doc_id", budget)
    val a1 = back.select("doc_id", "shard").as[(Long, Long)].collect().toSet
    val a2 = spark.read.parquet(s"$root/sh2")
      .select("doc_id", "shard").as[(Long, Long)].collect().toSet
    assert(a1 == a2)
    // exactly the sequential greedy packing
    val seq = docs.orderBy("doc_id").as[(Long, Int)].collect()
      .scanLeft(0L) { case (cum, (_, n)) => cum + n }.drop(1)
      .map(cum => (math.max(cum, 1) - 1) / budget)
    val byId = a1.toSeq.sortBy(_._1).map(_._2)
    assert(byId == seq.toSeq)
    // one data file per shard dir
    val shardDirs = new java.io.File(s"$root/sh1").listFiles
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1,
        s"expected one file in ${d.getName}")
    }
  }

  test("shardedWrite shuffled: i.i.d. packing keeps bounds, stays " +
      "deterministic, and equals greedy packing of the hash-shuffled order") {
    import spark.implicits._
    val root = tmpDir("shufshards_")
    val rnd = new scala.util.Random(13)
    val docs = (0L until 400L).map(i => (i, 1 + rnd.nextInt(99)))
      .toDF("doc_id", "n_tokens")
    val budget = 512L
    Ingest.ParquetSink.shardedWrite(docs, s"$root/sh1", "n_tokens",
      "doc_id", budget, shuffled = true)
    val back = spark.read.parquet(s"$root/sh1")
    assert(back.count() == 400L)
    val fills = back.groupBy("shard")
      .agg(sum("n_tokens").as("tok")).select("shard", "tok")
      .as[(Long, Long)].collect().toMap
    // same packing bounds as ordered mode
    assert(fills.values.forall(_ < 2 * budget), s"overfull shard: $fills")
    assert(fills.keys.toSeq.sorted == (0L to fills.keys.max))
    // deterministic across an independent rerun with different physical
    // partitioning
    Ingest.ParquetSink.shardedWrite(docs.repartition(7), s"$root/sh2",
      "n_tokens", "doc_id", budget, shuffled = true)
    val a1 = back.select("doc_id", "shard").as[(Long, Long)].collect().toSet
    val a2 = spark.read.parquet(s"$root/sh2")
      .select("doc_id", "shard").as[(Long, Long)].collect().toSet
    assert(a1 == a2)
    // EXACTLY the sequential greedy packing of the md5-shuffled sequence
    val hashed = docs.select(col("doc_id"),
        Ingest.shuffleKey(col("doc_id")).as("k"), col("n_tokens"))
      .as[(Long, Long, Int)].collect().sortBy(r => (r._2, r._1))
    val cums = hashed.scanLeft(0L) { case (cum, (_, _, n)) => cum + n }.drop(1)
    val expected = hashed.zip(cums)
      .map { case ((id, _, _), cum) => id -> (math.max(cum, 1) - 1) / budget }
      .toSet
    assert(a1 == expected)
    // it actually shuffles: shard 0 is NOT the first docs of the corpus
    val shard0 = a1.filter(_._2 == 0L).map(_._1)
    assert(shard0.max > 50L, s"shard 0 looks corpus-ordered: $shard0")
    // and each doc's assignment differs from ordered mode somewhere
    val ordered = Ingest.assignShards(docs, "n_tokens", "doc_id", budget)
      .select("doc_id", "shard").as[(Long, Long)].collect().toSet
    assert(a1 != ordered)
  }

  test("shardedWrite: a document larger than the budget gets its own " +
      "shard without failing") {
    import spark.implicits._
    val root = tmpDir("bigdoc_")
    val docs = Seq((0L, 100), (1L, 5000), (2L, 100)).toDF("doc_id", "n_tokens")
    Ingest.ParquetSink.shardedWrite(docs, s"$root/sh", "n_tokens",
      "doc_id", 512L)
    val got = spark.read.parquet(s"$root/sh")
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(got(1L) != got(0L) && got(1L) != got(2L),
      s"oversized doc must sit alone: $got")
  }

  test("ordered view registers in the session catalog as <table>_ordered") {
    import spark.implicits._
    val df = Seq(("2026-01-01 00:00:00", 2.0, 7.5))
      .toDF("timestamp", "utc_offset", "v")
      .withColumn("timestamp", col("timestamp").cast("timestamp"))
    graft.views.Views.registerOrderedView(spark, "sensors", df)
    val out = spark.sql("SELECT * FROM sensors_ordered")
    assert(out.columns.toSeq == Seq("local_time", "v"))
    assert(out.head().getTimestamp(0).toString == "2026-01-01 02:00:00.0")
  }

  test("planTask is a side-effect-free dry run (reference DRY_RUN)") {
    val root = tmpDir("plan_")
    val src = new java.io.File(s"$root/in"); src.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(src, "a.csv"))
    try w.write("timestamp,utc_offset,location,t1\n2026-01-01 00:00:00,1.0,x,9.9\n")
    finally w.close()
    val task = Manifest.parse(manifestJson).tasks.head
    val plan = graft.ingest.Ingest.planTask(spark, task, root, s"$root/wh")
    assert(plan.files.length == 1)
    assert(plan.partitionField.contains("timestamp"))
    assert(plan.schema.fieldNames.toSeq ==
      Seq("timestamp", "utc_offset", "location", "t1"))
    assert(plan.jobId.startsWith("graft__"))
    assert(plan.render.contains("a.csv"))
    // nothing was written: no destination, no ledger
    assert(!new java.io.File(s"$root/wh").exists())
  }

  test("declared-fields-empty manifest: all-sniffed (float) table loads " +
      "UNPARTITIONED instead of failing to_date on a double column") {
    val root = tmpDir("sniffonly_")
    val src = new java.io.File(s"$root/in"); src.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(src, "a.csv"))
    // first column is NAMED like a timestamp but (per the reference's
    // all-sniffed-columns-are-float contract) is typed double — the old
    // inference picked it as partition field and the load threw
    try w.write("timestamp,v1\n1.5,10.0\n2.5,11.0\n")
    finally w.close()
    val task = Manifest.parse(
      """{"project":"t","tasks":[{"sources":["**/in/**/*.csv"],
         "dataset":"ds","table":"sniffed"}]}""".replaceAll("\n", ""))
      .tasks.head
    assert(task.fields.isEmpty)
    val r = Ingest.loadTask(spark, task, root, s"$root/wh")
    assert(r.rows == 2)
    assert(r.partitionField.isEmpty)
    assert(r.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.DoubleType))
    // no partition dirs — plain files only
    assert(!new java.io.File(r.destPath).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("p_date=")))
  }

  test("manifest authentication: parse, gs-style indirection resolve, " +
      "Hadoop conf wiring (reference index.js:27–35)") {
    import graft.model.Authentication
    val root = tmpDir("auth_")
    val keyFile = new java.io.File(root, "key.json")
    val w = new java.io.PrintWriter(keyFile)
    try w.write(
      """{"type":"service_account","project_id":"p1",
         "private_key_id":"kid1","private_key":"PEM","client_email":"sa@p1"}""")
    finally w.close()

    // empty {} authentication ≡ absent (reference deletes it)
    assert(Manifest.parse(
      """{"project":"t","authentication":{},"tasks":[]}""")
      .authentication.isEmpty)

    // keyFilename via a storage URI → fetched and inlined as credentials
    val m = Manifest.parse(
      s"""{"project":"t",
          "authentication":{"keyFilename":"file://${keyFile.getAbsolutePath}",
                            "projectId":"p1"},
          "tasks":[]}""")
    val auth = m.authentication.get
    assert(auth.keyFilename.contains(s"file://${keyFile.getAbsolutePath}"))
    val resolved = Authentication.resolve(spark, auth)
    assert(resolved.keyFilename.isEmpty)
    assert(resolved.credentials.get("client_email") == "sa@p1")

    val conf = new org.apache.hadoop.conf.Configuration(false)
    Authentication.applyTo(resolved, conf)
    assert(conf.get("fs.gs.auth.service.account.email") == "sa@p1")
    assert(conf.get("fs.gs.auth.service.account.private.key") == "PEM")
    assert(conf.get("fs.gs.project.id") == "p1")

    // a LOCAL keyFilename passes through to the connector's keyfile conf
    val local = Authentication.resolve(spark,
      Authentication(Some("/tmp/k.json"), None, Map.empty))
    assert(local.keyFilename.contains("/tmp/k.json"))
    val conf2 = new org.apache.hadoop.conf.Configuration(false)
    Authentication.applyTo(local, conf2)
    assert(conf2.get("fs.gs.auth.service.account.json.keyfile") == "/tmp/k.json")
  }

  test("ledger anti-join never forces a broadcast of the ledger side") {
    import spark.implicits._
    // with auto-broadcast off, a forced hint would still produce a
    // BroadcastExchange; its absence proves the plan lets stats/AQE decide
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cand = Seq("a", "b", "c").toDF("uri")
      val ledger = Seq("b").toDF("uri")
        .withColumn("imported_at", current_timestamp())
      val nf = Ledger.newFiles(cand, ledger)
      assert(nf.as[String].collect().sorted.toSeq == Seq("a", "c"))
      val plan = nf.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"ledger side must not be force-broadcast:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("incompatible headers are a hard error (reference :291)") {
    val root = tmpDir("ingest_bad_")
    val src = new java.io.File(s"$root/in")
    src.mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(src, "bad.csv"))
    try w.write("timestamp,WRONG,location\n2026-01-01 00:00:00,1.0,x\n")
    finally w.close()
    val task = Manifest.parse(manifestJson).tasks.head
    intercept[graft.schema.SchemaEvolution.SchemaMismatchException] {
      Ingest.loadTask(spark, task, root, s"$root/wh")
    }
  }

  private def writeCsv(dir: String, name: String, body: String): Unit = {
    new java.io.File(dir).mkdirs()
    val w = new java.io.PrintWriter(new java.io.File(dir, name))
    try w.write(body) finally w.close()
  }

  test("ledger probe: filterNew equals the newFiles anti-join — " +
      "duplicate candidates, duplicate ledger rows, re-landed URIs, an " +
      "absent ledger — and a 20k-URI listing probe") {
    import spark.implicits._
    val root = tmpDir("ledger_probe_")
    val ledger = s"$root/wh/ds/t_imported"
    def antiJoin(cands: Seq[String]): Seq[String] =
      Ledger.newFiles(cands.toDF("uri"), Ledger.read(spark, ledger))
        .as[String].collect().toSeq.sorted
    def parity(cands: Seq[String]): Seq[String] = {
      val probed = Ledger.filterNew(spark, ledger, cands)
      assert(probed.sorted == antiJoin(cands), s"candidates $cands")
      assert(probed == cands.filter(probed.toSet), "caller order kept")
      probed
    }
    // absent ledger: everything is new, duplicates kept
    assert(parity(Seq("u1", "u2", "u2")) == Seq("u1", "u2", "u2"))
    // duplicate ledger rows: u1 ledgered by two batches
    Ledger.markImported(spark, ledger, Seq("u1", "u3"))
    Ledger.markImported(spark, ledger, Seq("u1"))
    assert(new java.io.File(ledger).listFiles()
      .count(_.getName.endsWith(".parquet")) == 2,
      "one ledger file per batch")
    // duplicate candidates and a re-landed (already ledgered) URI
    assert(parity(Seq("u3", "u2", "u1", "u2", "u4")) ==
      Seq("u2", "u2", "u4"))
    assert(parity(Seq("u1", "u3")).isEmpty)
    // the listing path: 20k candidates against a ledger holding half
    val many = (0 until 20000).map(i => f"gs://b/in/$i%06d.csv")
    Ledger.markImported(spark, ledger, many.filter(_.hashCode % 2 == 0))
    val t0 = System.nanoTime()
    val fresh = Ledger.filterNew(spark, ledger, many)
    val ms = (System.nanoTime() - t0) / 1e6
    println(f"METRIC graft.ledger.probe_ms=$ms%.0f candidates=20000")
    assert(fresh == many.filter(_.hashCode % 2 != 0))
    assert(fresh.sorted == antiJoin(many))
  }

  test("planning a ManifestSink destination ignores stray files: an " +
      "uncommitted parquet file with an extra column leaves the plan " +
      "schema equal to the log schema") {
    import spark.implicits._
    val root = tmpDir("ingest_stray_")
    writeCsv(s"$root/in", "a.csv", "timestamp,utc_offset,location\n" +
      "2026-01-01 00:00:00,1.0,x\n")
    val task = Manifest.parse(manifestJson).tasks.head
    val r1 = Ingest.loadTask(spark, task, root, s"$root/wh",
      ManifestSink)
    val logSchema = ManifestSink.snapshotHandle(spark, r1.destPath)
      .dataSchema
    // a stray writer drops a wider file into the table directory, in
    // the earliest partition — the footer a directory-listing schema
    // inference reads first
    Seq(("2026-01-01 00:00:00", 1.0f, "x", "boom"))
      .toDF("timestamp", "utc_offset", "location", "phantom")
      .write.parquet(s"${r1.destPath}/p_date=1999-01-01")
    val planned = Ingest.destSchema(spark, r1.destPath).get
    assert(planned.fieldNames.toSeq == logSchema.fieldNames.toSeq)
    assert(!planned.fieldNames.contains("phantom"))
    writeCsv(s"$root/in", "b.csv", "timestamp,utc_offset,location\n" +
      "2026-01-02 00:00:00,1.0,y\n")
    val plan = Ingest.planTask(spark, task, root, s"$root/wh")
    assert(plan.schema.fieldNames.toSeq ==
      Seq("timestamp", "utc_offset", "location"))
  }

  test("planning a column-mapped ManifestSink destination uses the " +
      "logical names") {
    val root = tmpDir("ingest_mapped_")
    writeCsv(s"$root/in", "a.csv", "timestamp,utc_offset,location\n" +
      "2026-01-01 00:00:00,1.0,x\n")
    val task = Manifest.parse(manifestJson).tasks.head
    val dest = Ingest.loadTask(spark, task, root, s"$root/wh",
      ManifestSink).destPath
    ManifestSink.renameColumn(spark, dest, "location", "site")
    assert(Ingest.destSchema(spark, dest).get.fieldNames.toSeq ==
      Seq("timestamp", "utc_offset", "site"))
    // a file under the logical header plans and lands as `site`
    writeCsv(s"$root/in", "b.csv", "timestamp,utc_offset,site\n" +
      "2026-01-02 00:00:00,2.0,y\n")
    val r2 = Ingest.loadTask(spark, task, root, s"$root/wh", ManifestSink)
    assert(r2.schema.fieldNames.toSeq ==
      Seq("timestamp", "utc_offset", "site"))
    assert(r2.rows == 2L)
    assert(ManifestSink.readBack(spark, dest).select("site")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("x", "y"))
  }

  test("one notification batch into a ManifestSink destination runs at " +
      "most 5 Spark jobs, plan plus execute") {
    import spark.implicits._
    val root = tmpDir("ingest_jobs_")
    val bucket = s"$root/in"
    val task = Manifest.parse(manifestJson).tasks.head
    def batch(name: String, seq: Long): Ingest.LoadResult = {
      writeCsv(bucket, name, "timestamp,utc_offset,location\n" +
        s"2026-01-0$seq 00:00:00,1.0,x\n2026-01-0$seq 01:00:00,1.0,y\n")
      val json = s"""{"kind":"storage#object","selfLink":"$bucket/$name",""" +
        s""""bucket":"$bucket","name":"$name"}"""
      val notifs = Seq(("OBJECT_FINALIZE", json, seq))
        .toDF("eventType", "json", "seq")
        .withColumn("data", base64(col("json").cast("binary")))
      val plan = NotificationIngest.planNotified(spark, task, notifs,
        s"$root/wh", orderCols = Seq(col("seq")), scheme = "file://")
      Ingest.executePlan(spark, plan, ManifestSink)
    }
    // steady state: the table and the ledger already exist
    batch("a.csv", 1L)
    val group = s"ingest-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one notification batch")
      val r = try batch("b.csv", 2L) finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      assert(r.loadedFiles.length == 1 && r.rows == 4L)
      println(s"METRIC graft.ingest.batch_jobs=${jobs.get()}")
      assert(jobs.get() <= 5, s"${jobs.get()} jobs for one batch")
    } finally sc.removeSparkListener(listener)
  }
}
