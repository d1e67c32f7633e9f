package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ingest.ManifestSink
import graft.ingest.ManifestSink.SkipPredicate

/** Vectorized scans over dv'd tables ([[graft.sources.GraftDvScanRule]]):
  * a table with live deletion vectors must read through the STOCK
  * vectorized parquet scan (columnar batches, splitting, pushdown) with
  * tombstones applied as a `_metadata.row_index` filter — parity with
  * the in-format row-based path on every transport and layout.
  */
class GraftDvScanSpec extends SparkSpec {

  import spark.implicits._

  private def scan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: FileSourceScanExec => s
    }.get
  }

  private def mkDvTable(dest: String): Unit = {
    for (b <- 0 until 3)
      ManifestSink.statsAppend(
        (b * 100L until b * 100L + 100L).map(i => (i, s"k$i", i % 7))
          .toDF("id", "key", "grp").coalesce(1),
        dest, None, statsCols = Seq("id"), bloomCols = Seq("key"))
    // dvs on files 0 and 1; file 2 stays dv-less
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(40, 59)) == 20L)
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(150, 154)) == 5L)
  }

  test("a dv'd table scans COLUMNAR: the rewrite restores batch " +
      "reading + parquet pushdown, rows match the row-based path on " +
      "both transports") {
    val dest = s"${tmpDir("dvscan_")}/t"
    mkDvTable(dest)

    val df = spark.read.format("graft").load(dest)
    val rows = df.orderBy("id").collect().toSeq
    assert(rows.length == 275)
    assert(!rows.exists(r => {
      val id = r.getLong(0); (id >= 40 && id <= 59) ||
        (id >= 150 && id <= 154)
    }))
    // the scan itself is the stock vectorized format again
    val s = scan(df)
    assert(s.supportsColumnar,
      "dv'd table must scan columnar batches, not row-based")
    // parquet pushdown is back for dv'd files: a data filter reaches
    // the scan's pushed filters
    val q = spark.read.format("graft").load(dest).where(col("id") > 290L)
    assert(scan(q).metadata("PushedFilters").contains("GreaterThan(id"),
      scan(q).metadata("PushedFilters"))
    assert(q.select("id").as[Long].collect().sorted.toSeq ==
      (291L to 299L))

    // parity: vectorized rewrite vs in-format row-based fallback, on
    // the broadcast AND task-read transports
    def allRows() = spark.read.format("graft").load(dest)
      .orderBy("id").collect().toSeq
    val cap = graft.sources.GraftParquetFileFormat.BroadcastDvCap
    try {
      graft.sources.GraftParquetFileFormat.BroadcastDvCap = 0L
      assert(allRows() == rows, "task-read transport must match")
      spark.conf.set("spark.graft.dv.vectorized", "false")
      assert(allRows() == rows, "row-based fallback must match")
      graft.sources.GraftParquetFileFormat.BroadcastDvCap = cap
      assert(allRows() == rows)
    } finally {
      graft.sources.GraftParquetFileFormat.BroadcastDvCap = cap
      spark.conf.set("spark.graft.dv.vectorized", "true")
    }
    // Scala read path agrees too
    assert(ManifestSink.readBack(spark, dest).orderBy("id")
      .collect().toSeq == rows)
  }

  test("an explicit _metadata select on a dv'd table resolves (the " +
      "rewrite steps aside) and still applies the tombstones") {
    val dest = s"${tmpDir("dvscan_meta_")}/t"
    mkDvTable(dest)
    val df = spark.read.format("graft").load(dest)
      .select(col("id"), col("_metadata.file_name").as("fn"))
    val rows = df.collect().toSeq
    assert(rows.length == 275, "dvs must still apply on the fallback")
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(!rows.exists { r =>
      val id = r.getLong(0)
      (id >= 40 && id <= 59) || (id >= 150 && id <= 154)
    })
    // metadata-free queries on the same session keep the fast path
    val fast = spark.read.format("graft").load(dest)
    fast.collect()
    assert(scan(fast).supportsColumnar)
  }

  test("partitioned layout + dvs: partition pruning, columnar scan, " +
      "and tombstone filtering compose") {
    val dest = s"${tmpDir("dvscanp_")}/t"
    val df = (0L until 90L).map(i =>
        (i, s"2026-01-0${i % 3 + 1}T10:00:00", s"v$i"))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    ManifestSink.statsAppend(df.repartition(3, col("id")), dest,
      Some("ts"), statsCols = Seq("id"))
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(0, 9)) == 10L)

    val all = spark.read.format("graft").load(dest)
    assert(all.count() == 80L)
    assert(scan(all).supportsColumnar)
    // partition pruning still happens at the FileIndex
    val pq = spark.read.format("graft").load(dest)
      .where(col(graft.ingest.Ingest.PartitionCol) === "2026-01-02")
    val kept = pq.select("id").as[Long].collect().toSet
    assert(kept.forall(i => i % 3 == 1 && i >= 10))
    assert(kept.size == 27)
  }

  test("SQL DML stays routable on a dv'd catalog table: the rewrite " +
      "exempts DML targets, DELETE/UPDATE/MERGE still resolve the " +
      "graft relation") {
    val dest = s"${tmpDir("dvscandml_")}/t"
    mkDvTable(dest)
    spark.sql(s"CREATE TABLE dvt USING graft LOCATION '$dest'")
    try {
      assert(spark.sql("SELECT count(*) FROM dvt").as[Long].head() ==
        275L)
      assert(spark.sql("DELETE FROM dvt WHERE id = 299")
        .as[Long].head() == 1L)
      assert(spark.sql("UPDATE dvt SET key = 'z' WHERE id = 298")
        .collect().head.getLong(0) == 1L)
      // the post-DML SELECT sees the new snapshot, still columnar
      val after = spark.sql("SELECT * FROM dvt")
      assert(after.count() == 274L)
      assert(scan(after).supportsColumnar)
      assert(spark.sql("SELECT key FROM dvt WHERE id = 298")
        .as[String].head() == "z")
    } finally spark.sql("DROP TABLE IF EXISTS dvt")
  }

  test("self-join of a dv'd table (same DataFrame twice) survives the " +
      "rewrite: attribute dedup and the tombstone filter compose") {
    val dest = s"${tmpDir("dvscansj_")}/t"
    mkDvTable(dest)
    val df = spark.read.format("graft").load(dest)
    val j = df.as("a").join(df.as("b"),
      col("a.id") === col("b.id") + 100L)
      .select(col("a.id").as("aid"), col("b.id").as("bid"))
    val rows = j.collect()
    // live pairs only: both sides' tombstones (40-59, 150-154) apply
    val live = (0L until 300L).filterNot(i =>
      (i >= 40 && i <= 59) || (i >= 150 && i <= 154)).toSet
    val expected = live.filter(i => live.contains(i - 100L)).toSeq.sorted
    assert(rows.map(_.getLong(0)).sorted.toSeq == expected)
    // SQL self-join over the catalog face too
    spark.sql(s"CREATE TABLE dvsj USING graft LOCATION '$dest'")
    try {
      assert(spark.sql(
        """SELECT count(*) FROM dvsj a JOIN dvsj b
           ON a.id = b.id + 100""").as[Long].head() ==
        expected.length.toLong)
    } finally spark.sql("DROP TABLE dvsj")
  }

  test("time travel composes with the rewrite: a pre-delete version " +
      "reads WITHOUT the later tombstones, columnar") {
    val dest = s"${tmpDir("dvscantt_")}/t"
    ManifestSink.statsAppend(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dest, None, statsCols = Seq("id"))
    assert(ManifestSink.deleteWhereMor(spark, dest,
      col("id").between(0, 9)) == 10L)
    val v0 = spark.read.format("graft").option("versionAsOf", "0")
      .load(dest)
    assert(v0.count() == 100L)
    assert(scan(v0).supportsColumnar)
    assert(spark.read.format("graft").load(dest).count() == 90L)
  }
}
