package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.ingest.ManifestSink
import graft.ingest.ManifestSink.SkipPredicate

/** The SQL face of a manifest table — `spark.read.format("graft")` and
  * `CREATE TABLE USING graft` must read EXACTLY what the Scala
  * [[ManifestSink.readBack]] reads (committed snapshot cut, deletion
  * vectors applied, superseded manifests ignored), with manifest-stats
  * + bloom skipping visible as file pruning in the physical plan. Plain
  * `spark.read.parquet(dest)` sees superseded and tombstoned files —
  * the wrong-data exposure this source closes.
  */
class GraftSqlSpec extends SparkSpec {

  import spark.implicits._

  /** The scan node's actual file count after execution — the skipping
    * proof (index.inputFiles is deliberately the unpruned set).
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.getOrElse(-1L)
  }

  test("format(\"graft\"): reads the committed snapshot — parity with " +
      "readBack on a table with superseded manifests AND deletion " +
      "vectors; plain spark.read.parquet over the same dir is WRONG") {
    val root = tmpDir("gsql_")
    val dest = s"$root/wh/t"
    for (b <- 0 until 3)
      ManifestSink.statsAppend(
        (b * 100L until b * 100L + 100L).map(i => (i, s"k$i", i % 7))
          .toDF("id", "key", "grp").coalesce(1),
        dest, None, statsCols = Seq("id"), bloomCols = Seq("key"))
    // superseded manifests: optimize rewrites layout, old manifests
    // survive for time travel but must not be double-read
    assert(ManifestSink.optimize(spark, dest, targetBytes = 1L << 20) > 0)
    // live deletion vectors on top
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(50, 149)) == 100L)

    val viaScala = ManifestSink.readBack(spark, dest)
      .orderBy("id").collect().toSeq
    val viaSql = spark.read.format("graft").load(dest)
      .orderBy("id").collect().toSeq
    assert(viaSql == viaScala)
    assert(viaSql.length == 200)

    // the exposure this closes: a plain listing read sees superseded
    // pre-optimize files (double rows) and tombstoned rows
    val plainCount = spark.read.parquet(dest).count()
    assert(plainCount > 200, s"plain read saw $plainCount")
  }

  test("format(\"graft\"): versionAsOf and timestampAsOf match " +
      "readVersion/readAsOf, and junk files in the directory are " +
      "structurally invisible") {
    val root = tmpDir("gsqltt_")
    val dest = s"$root/wh/t"
    for (b <- 0 until 3)
      ManifestSink.append(
        Seq((b.toLong, s"b$b")).toDF("id", "v").coalesce(1), dest, None)
    // an uncommitted straggler (crashed writer's moved file, manual
    // copy, etc.) — visible to a listing read, invisible to the log
    Seq((999L, "junk")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(dest)

    val v1Scala = ManifestSink.readVersion(spark, dest, 1L)
      .orderBy("id").collect().toSeq
    val v1Sql = spark.read.format("graft").option("versionAsOf", 1)
      .load(dest).orderBy("id").collect().toSeq
    assert(v1Sql == v1Scala && v1Sql.length == 2)

    assert(spark.read.format("graft").load(dest).count() == 3)

    val mts = ManifestSink.history(spark, dest).orderBy("version")
      .collect().map(_.getTimestamp(1).getTime)
    val tsSql = spark.read.format("graft")
      .option("timestampAsOf", mts(1)).load(dest)
      .orderBy("id").collect().toSeq
    assert(tsSql == ManifestSink.readAsOf(spark, dest, mts(1))
      .orderBy("id").collect().toSeq)

    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("timestampAsOf", mts(1)).load(dest).collect()
    }
  }

  test("spark.sql over a graft table: stats+bloom skipping prunes the " +
      "scan's files, filters push to parquet, partition pruning " +
      "works, and results match the Scala predicate read") {
    val root = tmpDir("gsqlskip_")
    val dest = s"$root/wh/t"
    // 4 files, disjoint id ranges, bloom'd string keys
    for (b <- 0 until 4)
      ManifestSink.statsAppend(
        (b * 100L until b * 100L + 100L).map(i => (i, s"k$i"))
          .toDF("id", "key").coalesce(1),
        dest, None, statsCols = Seq("id"), bloomCols = Seq("key"))

    spark.sql("DROP TABLE IF EXISTS gt")
    spark.sql(s"CREATE TABLE gt USING graft LOCATION '$dest'")
    try {
      // stats pruning: an id range hits exactly one file
      val q1 = spark.sql("SELECT id, key FROM gt WHERE id BETWEEN 120 AND 180")
      assert(scannedFiles(q1) == 1L)
      assert(q1.count() == 61)
      assert(q1.orderBy("id").collect().toSeq ==
        ManifestSink.readBackWhere(spark, dest, "id", 120, 180)
          .select("id", "key").orderBy("id").collect().toSeq)
      // parquet-side pushdown is in the plan
      assert(q1.queryExecution.executedPlan.toString
        .contains("PushedFilters: ["))

      // bloom pruning: a point lookup on the bloom'd column reads 1 file
      val q2 = spark.sql("SELECT id FROM gt WHERE key = 'k123'")
      assert(scannedFiles(q2) == 1L)
      assert(q2.as[Long].collect().toSeq == Seq(123L))

      // bloom'd IN-list across two files reads exactly those two
      val q3 = spark.sql(
        "SELECT id FROM gt WHERE key IN ('k10', 'k310')")
      assert(scannedFiles(q3) == 2L)
      assert(q3.as[Long].collect().sorted.toSeq == Seq(10L, 310L))

      // a provably-empty range reads zero files
      val q4 = spark.sql("SELECT * FROM gt WHERE id > 5000")
      assert(scannedFiles(q4) == 0L)
    } finally spark.sql("DROP TABLE IF EXISTS gt")

    // partition pruning on a partitioned destination
    val destP = s"$root/wh/p"
    val df = Seq(
      (1L, "2026-01-01T10:00:00"), (2L, "2026-01-02T10:00:00"),
      (3L, "2026-01-03T10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    df.repartition(3, col("id")).write.format("graft")
      .option("partitionField", "ts").mode("append").save(destP)
    val pq = spark.read.format("graft").load(destP)
      .where(col(graft.ingest.Ingest.PartitionCol) === "2026-01-02")
    assert(scannedFiles(pq) <= 1L)
    assert(pq.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("df.write.format(\"graft\"): append commits atomically through " +
      "the manifest log; Overwrite is an atomic snapshot-replace with " +
      "history retained; ErrorIfExists errors on a non-empty table") {
    val root = tmpDir("gsqlw_")
    val dest = s"$root/wh/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(dest)
    Seq((3L, "c")).toDF("id", "v")
      .write.format("graft").mode("append")
      .option("statsCols", "id").save(dest)
    assert(ManifestSink.readBack(spark, dest).count() == 3)
    assert(ManifestSink.history(spark, dest).count() == 2)
    // skipping metadata from the optioned write is live
    assert(ManifestSink.readBackWhere(spark, dest, "id", 3, 3)
      .count() == 1)
    intercept[IllegalArgumentException] {
      Seq((9L, "x")).toDF("id", "v")
        .write.format("graft").mode("errorifexists").save(dest)
    }
    // overwrite: readers flip atomically to the new content...
    Seq((9L, "x")).toDF("id", "v")
      .write.format("graft").mode("overwrite")
      .option("statsCols", "id").save(dest)
    assert(spark.read.format("graft").load(dest)
      .as[(Long, String)].collect().toSeq == Seq((9L, "x")))
    // ...with skipping stats live on the new files and HISTORY intact:
    // the pre-overwrite state stays time-travelable and restorable
    assert(ManifestSink.readBackWhere(spark, dest, "id", 9, 9)
      .count() == 1)
    assert(ManifestSink.readVersion(spark, dest, 1L).count() == 3L)
    ManifestSink.restore(spark, dest,  1L)
    assert(spark.read.format("graft").load(dest).count() == 3L)
  }

  test("legacy logs without fsize lines: the FileIndex bulk-lists " +
      "parent directories instead of one stat per file and reads " +
      "identically (partitioned + flat)") {
    val root = tmpDir("gsqlleg_")
    val dest = s"$root/wh/t"
    val df = (0L until 30L).map(i =>
        (i, s"2026-02-0${i % 3 + 1}T10:00:00", s"v$i"))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    ManifestSink.statsAppend(df.repartition(3, col("id")), dest,
      Some("ts"), statsCols = Seq("id"))
    val expected = spark.read.format("graft").load(dest)
      .orderBy("id").collect().toSeq
    // strip every fsize line — the pre-r17 log format
    val logDir = new java.io.File(s"$dest/_log")
    logDir.listFiles().filter(_.getName.endsWith(".manifest"))
      .foreach { mf =>
        val kept = java.nio.file.Files.readAllLines(mf.toPath)
          .toArray(Array.empty[String])
          .filterNot(_.startsWith("fsize\t"))
        java.nio.file.Files.writeString(mf.toPath, kept.mkString("\n"))
      }
    val got = spark.read.format("graft").load(dest)
      .orderBy("id").collect().toSeq
    assert(got == expected)
    assert(spark.read.format("graft").load(dest)
      .where(col(graft.ingest.Ingest.PartitionCol) === "2026-02-02")
      .count() == 10L)
  }

  test("dv transport: the task-read path (sidecar reads inside tasks, " +
      "no driver funnel) returns the same rows as the broadcast path") {
    val root = tmpDir("gsqldv_")
    val dest = s"$root/wh/t"
    for (b <- 0 until 2)
      ManifestSink.statsAppend(
        (b * 100L until b * 100L + 100L).map(i => (i, s"v$i"))
          .toDF("id", "v").coalesce(1),
        dest, None, statsCols = Seq("id"))
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(40, 59)) == 20L)
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(150, 150)) == 1L)

    val broadcastRows = spark.read.format("graft").load(dest)
      .orderBy("id").collect().toSeq
    val cap = graft.sources.GraftParquetFileFormat.BroadcastDvCap
    graft.sources.GraftParquetFileFormat.BroadcastDvCap = 0L
    try {
      val taskReadRows = spark.read.format("graft").load(dest)
        .orderBy("id").collect().toSeq
      assert(taskReadRows == broadcastRows)
      assert(taskReadRows.length == 179)
    } finally graft.sources.GraftParquetFileFormat.BroadcastDvCap = cap
    assert(broadcastRows == ManifestSink.readBack(spark, dest)
      .orderBy("id").collect().toSeq)
  }
}
