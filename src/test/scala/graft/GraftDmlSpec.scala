package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.ingest.ManifestSink

/** SQL DML on manifest tables: `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * must route through the lakehouse write paths (deletion vectors /
  * sidecar rewrites / atomic merge), return the row counts, refresh the
  * catalog relation so follow-up SELECTs see the new snapshot, and
  * refuse the unsupported shapes LOUDLY. Non-graft tables must be left
  * to Spark's own (v2-only) handling.
  */
class GraftDmlSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(prefix: String): (String, String) = {
    val dest = s"${tmpDir(prefix)}/t"
    val tbl = prefix + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    (dest, tbl)
  }

  test("DELETE FROM: mor by default (dv commit, no rewrites), count " +
      "returned, catalog relation refreshed, cow via conf") {
    val (dest, tbl) = freshTable("dml_del_")
    (0L until 300L).map(i => (i, s"k$i", i % 3)).toDF("id", "key", "grp")
      .repartitionByRange(3, col("id"))
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // warm the catalog relation cache BEFORE the delete — the refresh
      // contract is what keeps this from reading stale state after
      assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").head.getLong(0)
        == 300L)
      val del = spark.sql(
        s"DELETE FROM $tbl WHERE id % 10 = 0 AND id < 150")
      assert(del.columns.toSeq == Seq("deleted_rows"))
      assert(del.head.getLong(0) == 15L)
      // mor: the commit is dv lines, zero data files rewritten
      assert(ManifestSink.history(spark, dest)
        .where(col("version") === 1).head.getAs[String]("kind") == "mor")
      assert(spark.sql(s"SELECT count(*) AS n FROM $tbl").head.getLong(0)
        == 285L)
      assert(spark.table(tbl).where("id % 10 = 0 AND id < 150").count()
        == 0L)
      // parity with the Scala read path
      assert(spark.table(tbl).orderBy("id").collect().toSeq ==
        ManifestSink.readBack(spark, dest).orderBy("id").collect().toSeq)

      // copy-on-write mode: same semantics, no NEW dv lines
      spark.conf.set("spark.graft.dml.mor", "false")
      try {
        val del2 = spark.sql(s"DELETE FROM $tbl WHERE id >= 290")
        assert(del2.head.getLong(0) == 10L)
        assert(spark.table(tbl).count() == 275L)
      } finally spark.conf.unset("spark.graft.dml.mor")
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("UPDATE: SET expressions evaluate against the old row values; " +
      "WHERE-less UPDATE touches every row; counts returned") {
    val (dest, tbl) = freshTable("dml_upd_")
    (0L until 100L).map(i => (i, i * 2.0)).toDF("id", "v")
      .coalesce(2)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      val up = spark.sql(
        s"UPDATE $tbl SET v = v + id WHERE id < 10")
      assert(up.columns.toSeq == Seq("updated_rows"))
      assert(up.head.getLong(0) == 10L)
      val got = spark.table(tbl).where("id < 10")
        .orderBy("id").select("v").as[Double].collect().toSeq
      assert(got == (0 until 10).map(i => i * 2.0 + i))
      assert(spark.table(tbl).where("id >= 10 AND v <> id * 2.0")
        .count() == 0L)
      val all = spark.sql(s"UPDATE $tbl SET v = 0.0")
      assert(all.head.getLong(0) == 100L)
      assert(spark.table(tbl).agg(sum("v")).head.getDouble(0) == 0.0)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("MERGE INTO: upsert star, conditional-delete CDC form, and " +
      "delete-only form — counts and final state exact") {
    val (dest, tbl) = freshTable("dml_mrg_")
    (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // upsert star: update 10 existing keys, insert 5 new
      (40L until 55L).map(i => (i, s"NEW$i")).toDF("id", "v")
        .createOrReplaceTempView("mrg_src1")
      val m1 = spark.sql(
        s"""MERGE INTO $tbl t USING mrg_src1 s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      assert(m1.columns.toSeq ==
        Seq("updated_rows", "inserted_rows", "deleted_rows"))
      val r1 = m1.head
      assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) ==
        ((10L, 5L, 0L)))
      assert(spark.table(tbl).count() == 55L)
      assert(spark.table(tbl).where("id >= 40 AND v NOT LIKE 'NEW%'")
        .count() == 0L)

      // CDC form: op='d' rows delete, others upsert
      Seq((10L, "up10", "u"), (11L, "x", "d"), (60L, "new60", "u"))
        .toDF("id", "v", "op").createOrReplaceTempView("mrg_src2")
      val m2 = spark.sql(
        s"""MERGE INTO $tbl t USING mrg_src2 s ON t.id = s.id
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
      val r2 = m2.head
      assert(r2.getLong(2) == 1L, s"deleted ${r2.getLong(2)}")
      assert(spark.table(tbl).where("id = 11").count() == 0L)
      assert(spark.table(tbl).where("id = 10").select("v")
        .as[String].head() == "up10")
      assert(spark.table(tbl).where("id = 60").count() == 1L)

      // delete-only form
      Seq(0L, 1L, 2L, 999L).toDF("id").createOrReplaceTempView("mrg_src3")
      val m3 = spark.sql(
        s"""MERGE INTO $tbl t USING mrg_src3 s ON t.id = s.id
            WHEN MATCHED THEN DELETE""")
      assert(m3.head.getLong(2) == 3L)
      assert(spark.table(tbl).where("id IN (0, 1, 2)").count() == 0L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("refusals are loud: partition-column predicates, subqueries, " +
      "non-canon merge shapes; the CDC delete filter must be " +
      "source-only; non-graft tables stay Spark's problem") {
    val (dest, tbl) = freshTable("dml_ref_")
    (0L until 40L).map(i => (i, s"2026-01-0${i % 4 + 1}", i * 1.0))
      .toDF("id", "day", "v")
      .pipe(df => ManifestSink.statsAppend(df.repartition(1), dest,
        Some("day"), Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // partitioned layout: predicate on the directory-derived column
      // (the sink materializes `p_date`; `day` stays a data column, so
      // predicates on IT are fine — and the partition column is not)
      val e1 = intercept[AnalysisException](
        spark.sql(s"DELETE FROM $tbl WHERE p_date = DATE '2026-01-02'"))
      assert(e1.getMessage.contains("partition column"), e1.getMessage)
      // update of the partition column
      val e2 = intercept[AnalysisException](
        spark.sql(
          s"UPDATE $tbl SET p_date = DATE '2026-02-01' WHERE id = 1"))
      assert(e2.getMessage.contains("partition"), e2.getMessage)
      // subquery predicates are supported — uncorrelated AND
      // correlated (incl. a correlated SELF-subquery, which reads the
      // statement's pinned pre-delete snapshot)
      assert(spark.sql(s"DELETE FROM $tbl WHERE id IN (SELECT 1)")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"""DELETE FROM $tbl t WHERE EXISTS
            (SELECT 1 FROM $tbl u WHERE u.id = t.id AND u.id = 2)""")
        .head.getLong(0) == 1L)
      // merge keyed on the partition column: the key must live in the
      // data files, and directory-derived p_date does not
      Seq((1L, "2026-01-02", 0.0, java.sql.Date.valueOf("2026-01-02")))
        .toDF("id", "day", "v", "p_date")
        .createOrReplaceTempView("dml_ref_src")
      val e4 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl t USING dml_ref_src s
            ON t.p_date = s.p_date
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *"""))
      assert(e4.getMessage.contains("partition column"), e4.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl")

    val (dest2, tbl2) = freshTable("dml_ref2_")
    (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest2, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl2 USING graft LOCATION '$dest2'")
    try {
      // partial SET in a merge (not star-shaped)
      Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("dml_ref_s2")
      val e5 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl2 t USING dml_ref_s2 s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET v = 'fixed'
            WHEN NOT MATCHED THEN INSERT *"""))
      assert(e5.getMessage.contains("MERGE"), e5.getMessage)
      // UPDATE SET * without INSERT *
      val e6 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl2 t USING dml_ref_s2 s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *"""))
      assert(e6.getMessage.contains("INSERT"), e6.getMessage)
      // the delete filter referencing a target column
      val e7 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl2 t USING dml_ref_s2 s ON t.id = s.id
            WHEN MATCHED AND t.v = 'v1' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *"""))
      assert(e7.getMessage.contains("source columns"), e7.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl2")

    // a non-graft table keeps Spark's own v1-DML refusal — the rule
    // must not hijack it
    val pq = s"${tmpDir("dml_plain_")}/p"
    Seq((1, "a")).toDF("id", "v").write.parquet(pq)
    val ptbl = "dml_plain_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.sql(s"CREATE TABLE $ptbl USING parquet LOCATION '$pq'")
    try {
      val e8 = intercept[Exception](
        spark.sql(s"DELETE FROM $ptbl WHERE id = 1"))
      assert(!e8.getMessage.contains("[graft]"), e8.getMessage)
    } finally spark.sql(s"DROP TABLE $ptbl")
  }

  test("INSERT INTO routes to the atomic manifest append (never a " +
      "direct file write): positional, BY-NAME column list with " +
      "reorder + cast, VALUES; stats columns carry to the new files; " +
      "column-count mismatches refuse") {
    val (dest, tbl) = freshTable("dml_ins_")
    (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      spark.sql(s"INSERT INTO $tbl SELECT id + 100, concat('n', v) " +
        s"FROM $tbl WHERE id < 3")
      assert(spark.table(tbl).count() == 23L)
      // the append COMMITTED: a new manifest version exists and the
      // committed read equals the raw union (nothing stranded outside
      // the log, nothing visible that isn't committed)
      assert(ManifestSink.history(spark, dest).count() == 2L)
      assert(ManifestSink.readBack(spark, dest).count() == 23L)
      // column list: reordered names align by name; int literal casts
      // to the table's long
      spark.sql(s"INSERT INTO $tbl (v, id) VALUES ('x', 500)")
      assert(spark.table(tbl).where("id = 500").select("v")
        .as[String].head() == "x")
      // skipping stats carried: the new files' id ranges prune like
      // the originals (metadata decision — result parity is the check)
      assert(ManifestSink.readBackWhere(spark, dest, "id", 500, 500)
        .count() == 1L)
      val e2 = intercept[AnalysisException](spark.sql(
        s"INSERT INTO $tbl VALUES (1)"))
      assert(e2.getMessage.contains("column"), e2.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl")

    // partitioned layout: inserted rows land in their partition dirs,
    // derived from the inserted partition-column values themselves
    val (dest2, tbl2) = freshTable("dml_insp_")
    (0L until 8L).map(i => (i, s"2026-03-0${i % 2 + 1}", i * 1.0))
      .toDF("id", "day", "v")
      .pipe(df => ManifestSink.statsAppend(df.repartition(1), dest2,
        Some("day"), Seq("id")))
    spark.sql(s"CREATE TABLE $tbl2 USING graft LOCATION '$dest2'")
    try {
      spark.sql(s"INSERT INTO $tbl2 VALUES " +
        "(100, '2026-03-02', 1.5, DATE '2026-03-02')")
      assert(spark.table(tbl2).count() == 9L)
      assert(spark.table(tbl2).where("id = 100")
        .select("p_date").as[java.sql.Date].head() ==
        java.sql.Date.valueOf("2026-03-02"))
      assert(spark.table(tbl2).where(col("p_date").isNull).count() == 0L)
    } finally spark.sql(s"DROP TABLE $tbl2")
  }

  test("partitioned tables: data-column DELETE (mor dvs) and UPDATE " +
      "(mor — updated rows KEEP their source file's partition, " +
      "O(changed rows) write) both work; partition values survive") {
    val (dest, tbl) = freshTable("dml_part_")
    (0L until 40L).map(i => (i, s"2026-01-0${i % 4 + 1}", i * 1.0))
      .toDF("id", "day", "v")
      .pipe(df => ManifestSink.statsAppend(df.repartition(1), dest,
        Some("day"), Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      assert(spark.sql(s"DELETE FROM $tbl WHERE id >= 36").head
        .getLong(0) == 4L)
      assert(spark.sql(s"UPDATE $tbl SET v = v * 10 WHERE id < 4")
        .head.getLong(0) == 4L)
      // mor on a partitioned layout: the UPDATE committed tombstones +
      // partitioned row appends, not a table rewrite
      assert(ManifestSink.history(spark, dest)
        .where(col("kind") === "mor").count() >= 2L)
      // every surviving row still reads its p_date
      assert(spark.table(tbl).where(col("p_date").isNull).count() == 0L)
      assert(spark.table(tbl).count() == 36L)
      assert(spark.table(tbl).where("id < 4").agg(sum("v")).head
        .getDouble(0) == (0 until 4).map(_ * 10.0).sum)
      // updated rows stayed in their partitions: each id keeps the
      // p_date its day value implies
      assert(spark.table(tbl)
        .where(col("p_date") =!= to_date(col("day"))).count() == 0L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("MERGE INTO a date-partitioned table: upserts tombstone in " +
      "place, inserts land in their partition directories, the CDC " +
      "delete form composes — partition values survive end to end") {
    val (dest, tbl) = freshTable("dml_pmrg_")
    (0L until 40L).map(i => (i, s"2026-01-0${i % 4 + 1}", i * 1.0))
      .toDF("id", "day", "v")
      .pipe(df => ManifestSink.statsAppend(df.repartition(1), dest,
        Some("day"), Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // source carries p_date (INSERT * requires every target column):
      // id 3 updates in place, id 100 inserts into 2026-01-05
      Seq(
        (3L, "2026-01-04", 99.0, "2026-01-04"),
        (100L, "2026-01-05", 1.0, "2026-01-05"))
        .toDF("id", "day", "v", "pd")
        .withColumn("p_date", to_date(col("pd"))).drop("pd")
        .createOrReplaceTempView("dml_pmrg_src")
      val r = spark.sql(
        s"""MERGE INTO $tbl t USING dml_pmrg_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""").head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 0L)))
      assert(spark.table(tbl).count() == 41L)
      assert(spark.table(tbl).where("id = 3").select("v", "day")
        .as[(Double, String)].head() == ((99.0, "2026-01-04")))
      // partition routing: the updated and inserted rows read back
      // with their p_date — and it is the DIRECTORY value, not a data
      // column (fresh files land under p_date=...)
      assert(spark.table(tbl).where("id = 3")
        .select(col("p_date").cast("string")).as[String].head()
        == "2026-01-04")
      assert(spark.table(tbl).where("id = 100")
        .select(col("p_date").cast("string")).as[String].head()
        == "2026-01-05")
      assert(spark.table(tbl).where(col("p_date").isNull).count() == 0L)
      // mor default: the merge was tombstones + appends
      assert(ManifestSink.history(spark, dest)
        .where(col("kind") === "mor").count() >= 1L)

      // CDC form: delete id 100 via directive, update id 0
      Seq(
        (100L, "2026-01-05", 0.0, "2026-01-05", "d"),
        (0L, "2026-01-01", -5.0, "2026-01-01", "u"))
        .toDF("id", "day", "v", "pd", "op")
        .withColumn("p_date", to_date(col("pd"))).drop("pd")
        .createOrReplaceTempView("dml_pmrg_cdc")
      val r2 = spark.sql(
        s"""MERGE INTO $tbl t USING dml_pmrg_cdc s ON t.id = s.id
            WHEN MATCHED AND s.op = 'd' THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""").head
      assert((r2.getLong(0), r2.getLong(1), r2.getLong(2))
        == ((1L, 0L, 1L)))
      assert(spark.table(tbl).count() == 40L)
      assert(spark.table(tbl).where("id = 100").count() == 0L)
      assert(spark.table(tbl).where("id = 0").select("v")
        .as[Double].head() == -5.0)
      assert(spark.table(tbl)
        .where(col("p_date") =!= to_date(col("day"))).count() == 0L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("CTAS + INSERT OVERWRITE: CREATE TABLE ... USING graft AS " +
      "SELECT lands through the staged commit (read-back parity, " +
      "appendable); INSERT OVERWRITE atomically snapshot-replaces " +
      "with history retained; a concurrent commit aborts it with " +
      "nothing lost") {
    val tbl = "dml_ctas_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(8)
    spark.sql(s"CREATE TABLE $tbl USING graft AS " +
      "SELECT id, CAST(id * 2 AS DOUBLE) AS v FROM range(10)")
    try {
      val dest = spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl))
        .location.toString
      // parity: the catalog table, the path read, and the Scala read
      // all see the same committed snapshot
      assert(spark.table(tbl).count() == 10L)
      assert(spark.table(tbl).orderBy("id").collect().toSeq ==
        ManifestSink.readBack(spark, dest).orderBy("id")
          .collect().toSeq)
      assert(spark.table(tbl).where("id = 7").select("v")
        .as[Double].head() == 14.0)
      // the CTAS went through the manifest log, not a direct write
      assert(ManifestSink.history(spark, dest).count() == 1L)
      // the table evolves: INSERT INTO appends a new version
      spark.sql(s"INSERT INTO $tbl VALUES (100L, 0.5D)")
      assert(spark.table(tbl).count() == 11L)

      // INSERT OVERWRITE: one snapshot commit replaces the content...
      spark.sql(
        s"INSERT OVERWRITE $tbl SELECT id, 1.0 FROM range(3)")
      assert(spark.table(tbl).orderBy("id").select("id")
        .as[Long].collect().toSeq == Seq(0L, 1L, 2L))
      // ...and history survives: the pre-overwrite state time-travels
      assert(spark.sql(
        s"SELECT count(*) FROM $tbl VERSION AS OF 1")
        .as[Long].head() == 11L)

      // concurrency: a commit landing between the overwrite's capture
      // and its slot claim aborts the overwrite LOUDLY — the staged
      // files roll back, the concurrent append survives
      ManifestSink.onBeforeRewriteCommit = () =>
        ManifestSink.append(Seq((500L, 9.9)).toDF("id", "v"),
          dest, None)
      try {
        val e = intercept[IllegalStateException] {
          spark.sql(s"INSERT OVERWRITE $tbl SELECT id, 2.0 FROM range(5)")
        }
        assert(e.getMessage.contains("aborted"), e.getMessage)
      } finally ManifestSink.onBeforeRewriteCommit = () => ()
      assert(spark.table(tbl).orderBy("id").select("id")
        .as[Long].collect().toSeq == Seq(0L, 1L, 2L, 500L))
      // no stranded staging debris for THIS table
      val destDir = new java.io.File(new java.net.URI(dest).getPath)
      assert(!new java.io.File(destDir.getParentFile,
        s".staging_${destDir.getName}").exists())
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("INSERT OVERWRITE a date-partitioned table: the replacement " +
      "rows land in their partition directories, old partitions " +
      "vanish from the head but survive in history") {
    val (dest, tbl) = freshTable("dml_powr_")
    (0L until 12L).map(i => (i, s"2026-04-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "day", "v")
      .pipe(df => ManifestSink.statsAppend(df.repartition(1), dest,
        Some("day"), Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // replacement covers only two of the three days
      spark.sql(s"""INSERT OVERWRITE $tbl VALUES
          (100L, '2026-04-01', 1.0D, DATE '2026-04-01'),
          (101L, '2026-04-02', 2.0D, DATE '2026-04-02')""")
      val now = spark.table(tbl)
      assert(now.count() == 2L)
      assert(now.select(col("p_date").cast("string")).as[String]
        .collect().sorted.toSeq == Seq("2026-04-01", "2026-04-02"))
      assert(now.where(col("p_date").isNull).count() == 0L)
      // pre-overwrite state reachable: 12 rows across 3 days at v0
      assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 0")
        .as[Long].head() == 12L)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("catalog tables resolve to a FRESH committed snapshot: schema " +
      "evolution does not break reads (the V1 stored-schema pin would " +
      "throw 'user-specified schema doesn't match' forever), and new " +
      "commits are visible without REFRESH TABLE") {
    val (dest, tbl) = freshTable("dml_evo_")
    ManifestSink.statsAppend(
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dest, None, Seq("id"))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      assert(spark.table(tbl).count() == 10L)
      // superset evolution through the Scala API — no REFRESH issued
      ManifestSink.statsAppend(
        (10L until 20L).map(i => (i, s"v$i", i * 2.0))
          .toDF("id", "v", "extra").coalesce(1),
        dest, None, Seq("id"))
      assert(spark.table(tbl).columns.toSeq == Seq("id", "v", "extra"))
      assert(spark.table(tbl).count() == 20L)
      assert(spark.table(tbl).where(col("extra").isNull).count() == 10L)
      // and SQL over the evolved table aggregates correctly
      assert(spark.sql(
        s"SELECT CAST(sum(extra) AS BIGINT) FROM $tbl")
        .head.getLong(0) == (10L until 20L).map(_ * 2).sum)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF on a graft " +
      "catalog table resolve through the snapshot machinery (same cut " +
      "as option(\"versionAsOf\")); non-graft tables stay Spark's") {
    val (dest, tbl) = freshTable("dml_tt_")
    (0L until 10L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    (10L until 20L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    ManifestSink.deleteWhereMor(spark, dest, col("id") < 5)
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 0")
        .head.getLong(0) == 10L)
      assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
        .head.getLong(0) == 20L)
      assert(spark.table(tbl).count() == 15L)
      // TIMESTAMP AS OF keys on manifest commit times (the readAsOf
      // contract) — v1's commit_ts must resolve the pre-delete cut
      val ts1 = ManifestSink.history(spark, dest)
        .where("version = 1").select("commit_ts")
        .as[java.sql.Timestamp].head().getTime
      assert(spark.sql(
        s"""SELECT count(*) FROM $tbl
            TIMESTAMP AS OF CAST(${ts1 / 1000.0} AS TIMESTAMP)""")
        .head.getLong(0) == 20L)
      val e = intercept[AnalysisException](spark.sql(
        s"SELECT count(*) FROM $tbl VERSION AS OF 99"))
      assert(e.getMessage.contains("99"), e.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("DML through a temp view over format(\"graft\") routes to the " +
      "same dest — path-based SQL DML without a catalog table") {
    val dest = s"${tmpDir("dml_path_")}/t"
    (0L until 30L).map(i => (i, i * 10L)).toDF("id", "x").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.read.format("graft").load(dest)
      .createOrReplaceTempView("dml_path_v")
    val del = spark.sql("DELETE FROM dml_path_v WHERE id < 5")
    assert(del.head.getLong(0) == 5L)
    // the view pins its ORIGINAL snapshot (standard DataFrame temp-view
    // semantics); a fresh path read sees the commit
    assert(spark.read.format("graft").load(dest).count() == 25L)
    assert(ManifestSink.readBack(spark, dest).count() == 25L)
  }

  private def dayTable(dest: String): Unit =
    (0L until 90L).map(i =>
        (i, s"v$i", java.sql.Date.valueOf(s"2026-01-0${i % 3 + 1}")))
      .toDF("id", "v", "day")
      .repartitionByRange(6, col("id"))
      .pipe(df => ManifestSink.statsAppend(df, dest, Some("day"),
        Seq("id")))

  test("overwritePartitions: one day replaced atomically, other days' " +
      "files byte-identical, time travel reaches the pre-state, " +
      "static spec truncates, strays/nulls/schema drift refuse") {
    val dest = s"${tmpDir("owp_")}/t"
    dayTable(dest)
    val filesBefore = ManifestSink.readBack(spark, dest)
      .inputFiles.toSet
    def filesOf(day: String): Set[String] =
      filesBefore.filter(_.contains(s"p_date=$day"))
    assert(filesOf("2026-01-02").nonEmpty)

    // dynamic: df touches only day 2 → only day 2 replaces
    val repl = (1000L until 1010L).map(i =>
        (i, s"n$i", java.sql.Date.valueOf("2026-01-02")))
      .toDF("id", "v", "day").coalesce(1)
    val nReplaced = ManifestSink.overwritePartitions(repl, dest, "day",
      statsCols = Seq("id"))
    assert(nReplaced == filesOf("2026-01-02").size.toLong)
    val after = ManifestSink.readBack(spark, dest)
    // day 2 is exactly the new rows; days 1/3 untouched
    assert(after.where("p_date = '2026-01-02'")
      .select("id").as[Long].collect().toSet == (1000L until 1010L).toSet)
    assert(after.where("p_date <> '2026-01-02'").count() == 60L)
    // untouched partitions carry the SAME files (paths identical)
    val afterFiles = after.inputFiles.toSet
    assert(afterFiles.filter(_.contains("p_date=2026-01-01")) ==
      filesOf("2026-01-01"))
    assert(afterFiles.filter(_.contains("p_date=2026-01-03")) ==
      filesOf("2026-01-03"))
    // time travel reaches the pre-overwrite state
    assert(ManifestSink.readVersion(spark, dest, 0)
      .where("p_date = '2026-01-02'").count() == 30L)
    // skipping stats still answer on the new files
    assert(ManifestSink.countWhere(spark, dest,
      ManifestSink.SkipPredicate.NumRange("id", 1000, 2000)) == 10L)

    // static spec with an empty frame truncates exactly that day
    val empty = spark.emptyDataset[(Long, String, java.sql.Date)]
      .toDF("id", "v", "day")
    assert(ManifestSink.overwritePartitions(empty, dest, "day",
      values = Seq("2026-01-03"), statsCols = Seq("id")) > 0L)
    assert(ManifestSink.readBack(spark, dest)
      .where("p_date = '2026-01-03'").count() == 0L)
    assert(ManifestSink.readBack(spark, dest).count() == 40L)

    // static spec: a row OUTSIDE the named partitions refuses loudly
    val stray = Seq((1L, "s", java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "v", "day")
    val e1 = intercept[IllegalArgumentException](
      ManifestSink.overwritePartitions(stray, dest, "day",
        values = Seq("2026-01-02")))
    assert(e1.getMessage.contains("outside"), e1.getMessage)
    // null partition values refuse
    val withNull = Seq((1L, "s", null: java.sql.Date))
      .toDF("id", "v", "day")
    val e2 = intercept[IllegalArgumentException](
      ManifestSink.overwritePartitions(withNull, dest, "day"))
    assert(e2.getMessage.contains("null"), e2.getMessage)
    // schema drift refuses (partition-scoped overwrite cannot fork it)
    val drifted = Seq((1L, java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "day")
    val e3 = intercept[IllegalArgumentException](
      ManifestSink.overwritePartitions(drifted, dest, "day"))
    assert(e3.getMessage.contains("schema"), e3.getMessage)
    // an unpartitioned table refuses
    val flat = s"${tmpDir("owp_flat_")}/t"
    Seq((1L, "x", java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "v", "day")
      .pipe(df => ManifestSink.append(df, flat, None))
    val e4 = intercept[IllegalArgumentException](
      ManifestSink.overwritePartitions(repl, flat, "day"))
    assert(e4.getMessage.contains("partitioned"), e4.getMessage)
  }

  test("overwritePartitions: concurrent append INTO a replaced " +
      "partition aborts and rolls back; one into ANOTHER partition " +
      "absorbs — the write-serializable outcomes") {
    val dest = s"${tmpDir("owp_occ_")}/t"
    dayTable(dest)
    val repl = (2000L until 2005L).map(i =>
        (i, s"n$i", java.sql.Date.valueOf("2026-01-02")))
      .toDF("id", "v", "day").coalesce(1)
    val intruder = Seq((9999L, "w",
        java.sql.Date.valueOf("2026-01-02")))
      .toDF("id", "v", "day")
    ManifestSink.onBeforeRewriteCommit = () =>
      ManifestSink.statsAppend(intruder, dest, Some("day"), Seq("id"))
    try {
      val e = intercept[IllegalStateException](
        ManifestSink.overwritePartitions(repl, dest, "day",
          statsCols = Seq("id")))
      assert(e.getMessage.contains("concurrent"), e.getMessage)
    } finally ManifestSink.onBeforeRewriteCommit = () => ()
    // nothing replaced, the intruder's row survived, no staged debris
    val back = ManifestSink.readBack(spark, dest)
    assert(back.count() == 91L)
    assert(back.where("id = 9999").count() == 1L)
    val sroot = new java.io.File(
      new java.io.File(dest).getParent, ".staging_t")
    assert(!sroot.exists() || sroot.listFiles().isEmpty)

    // an append into day 3 absorbs: the overwrite of day 2 commits and
    // the absorbed rows survive
    val outsider = Seq((8888L, "o",
        java.sql.Date.valueOf("2026-01-03")))
      .toDF("id", "v", "day")
    ManifestSink.onBeforeRewriteCommit = () =>
      ManifestSink.statsAppend(outsider, dest, Some("day"), Seq("id"))
    try {
      assert(ManifestSink.overwritePartitions(repl, dest, "day",
        statsCols = Seq("id")) > 0L)
    } finally ManifestSink.onBeforeRewriteCommit = () => ()
    val fin = ManifestSink.readBack(spark, dest)
    assert(fin.where("p_date = '2026-01-02'")
      .select("id").as[Long].collect().toSet == (2000L until 2005L).toSet)
    assert(fin.where("id = 8888").count() == 1L)
  }

  test("overwritePartitions: change feed decomposes the partition " +
      "overwrite into exact deletes + inserts") {
    val dest = s"${tmpDir("owp_cdf_")}/t"
    ManifestSink.enableChangeFeed(spark, dest)
    dayTable(dest)
    val repl = (3000L until 3003L).map(i =>
        (i, s"n$i", java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "v", "day").coalesce(1)
    ManifestSink.overwritePartitions(repl, dest, "day",
      statsCols = Seq("id"))
    val ch = ManifestSink.readChangesBetween(spark, dest, 0)
    val dels = ch.where("_change_type = 'delete'")
      .select("id").as[Long].collect().toSet
    val ins = ch.where("_change_type = 'insert'")
      .select("id").as[Long].collect().toSet
    assert(dels == (0L until 90L).filter(_ % 3 == 0).toSet)
    assert(ins == (3000L until 3003L).toSet)
  }

  test("change-data sidecars write DISTRIBUTED: a partition overwrite " +
      "commits one cdf line per part file, the feed unions the parts " +
      "(rows identical to the single-part layout), vacuum keeps every " +
      "part, and replay reconstructs the table") {
    val dest = s"${tmpDir("owp_cdfparts_")}/t"
    ManifestSink.enableChangeFeed(spark, dest)
    dayTable(dest) // v0: 90 rows, 3 days, 6 files per day
    val repl = (5000L until 5012L).map(i =>
        (i, s"n$i", java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "v", "day").repartition(4)
    ManifestSink.overwritePartitions(repl, dest, "day",
      statsCols = Seq("id"))
    // the commit carries MULTIPLE cdf lines — the change frame (30
    // pre-images + 12 inserts across 10 input partitions) never
    // funnels through one task/file
    val mf = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dest/_log/000000000001.manifest"))
    val cdfLines = mf.linesIterator.filter(_.startsWith("cdf\t")).toSeq
    assert(cdfLines.size > 1, s"expected multi-part cdf, got:\n$mf")
    // per-line footer row counts sum to the full change frame
    assert(cdfLines.map(_.split('\t')(2).toLong).sum == 42L)
    val ch = ManifestSink.readChangesBetween(spark, dest, 0)
    assert(ch.select("_commit_version").distinct()
      .as[Long].collect().toSeq == Seq(1L))
    assert(ch.where("_change_type = 'delete'")
      .select("id").as[Long].collect().toSet ==
      (0L until 90L).filter(_ % 3 == 0).toSet)
    assert(ch.where("_change_type = 'insert'")
      .select("id").as[Long].collect().toSet ==
      (5000L until 5012L).toSet)
    // vacuum keeps every referenced part; the feed still reads
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dest)).foreach(f =>
      f.setLastModified(System.currentTimeMillis() - 120000))
    ManifestSink.vacuum(spark, dest, retentionMs = 60000)
    assert(ManifestSink.readChangesBetween(spark, dest, 0).count() == 42L)
    // replay the feed over the v0 state == the live table
    var state = ManifestSink.readVersion(spark, dest, 0)
      .select("id").as[Long].collect().toSet
    val rows = ch.select("_change_type", "id")
      .as[(String, Long)].collect().toSeq
    state = state -- rows.filter(_._1 == "delete").map(_._2) ++
      rows.filter(_._1 == "insert").map(_._2)
    assert(state == ManifestSink.readBack(spark, dest)
      .select("id").as[Long].collect().toSet)
  }

  test("INSERT OVERWRITE ... PARTITION: static spec replaces exactly " +
      "one day (value canonicalized), dynamic spec replaces touched " +
      "days, INSERT INTO ... PARTITION still refuses") {
    val (dest, tbl) = freshTable("owp_sql_")
    dayTable(dest)
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      // static: the SELECT omits the partition column ('2026-1-2'
      // canonicalizes to the 2026-01-02 directory)
      val r = spark.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date = '2026-1-2')
            SELECT id + 5000, concat('s', v), day
            FROM $tbl VERSION AS OF 0 WHERE id < 6""")
      assert(r.columns.toSeq == Seq("replaced_files"))
      assert(spark.table(tbl).where("p_date = '2026-01-02'")
        .select("id").as[Long].collect().toSet ==
        (0L until 6L).map(_ + 5000L).toSet)
      assert(spark.table(tbl).where("p_date <> '2026-01-02'")
        .count() == 60L)
      // dynamic: the SELECT carries p_date and touches only day 1
      spark.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date)
            SELECT id, v, day, p_date FROM $tbl VERSION AS OF 0
            WHERE p_date = '2026-01-01' AND id < 9""")
      assert(spark.table(tbl).where("p_date = '2026-01-01'")
        .count() == 3L)
      assert(spark.table(tbl).where("p_date = '2026-01-02'")
        .count() == 6L)
      assert(spark.table(tbl).where("p_date = '2026-01-03'")
        .count() == 30L)
      // INSERT INTO with a static spec still refuses
      val e = intercept[AnalysisException](spark.sql(
        s"""INSERT INTO $tbl PARTITION (p_date = '2026-01-02')
            SELECT id, v, day FROM $tbl WHERE id < 3"""))
      assert(e.getMessage.contains("INSERT OVERWRITE"), e.getMessage)
      // a non-partition column in the spec refuses
      val e2 = intercept[AnalysisException](spark.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (v = 'x')
            SELECT id, day, p_date FROM $tbl WHERE id < 3"""))
      assert(e2.getMessage.contains("partition column"), e2.getMessage)
    } finally spark.sql(s"DROP TABLE $tbl")
  }

  test("overwrite: schema or layout drift refuses without " +
      "overwriteSchema = true; with it the table rebases") {
    val dest = s"${tmpDir("ow_schema_")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .pipe(df => ManifestSink.append(df, dest, None))
    // drifted schema (extra column) refuses
    val drifted = Seq((3L, "c", 1.5)).toDF("id", "v", "w")
    val e1 = intercept[IllegalArgumentException](
      ManifestSink.overwrite(drifted, dest))
    assert(e1.getMessage.contains("overwriteSchema"), e1.getMessage)
    // partitionedness drift refuses too (an overwrite that forgot
    // partitionField must not silently flatten the layout)
    val dest2 = s"${tmpDir("ow_schema2_")}/t"
    Seq((1L, java.sql.Date.valueOf("2026-01-01"))).toDF("id", "day")
      .pipe(df => ManifestSink.append(df, dest2, Some("day")))
    val e2 = intercept[IllegalArgumentException](
      ManifestSink.overwrite(Seq((2L,
          java.sql.Date.valueOf("2026-01-02"))).toDF("id", "day"),
        dest2))
    assert(e2.getMessage.contains("partitioned"), e2.getMessage)
    // explicit opt-in rebases
    ManifestSink.overwrite(drifted, dest, overwriteSchema = true)
    assert(ManifestSink.readBack(spark, dest).columns.toSeq ==
      Seq("id", "v", "w"))
    // matching schema still overwrites without the flag
    ManifestSink.overwrite(Seq((9L, "z", 0.0)).toDF("id", "v", "w"), dest)
    assert(ManifestSink.readBack(spark, dest).count() == 1L)
  }

  test("DELETE/UPDATE with uncorrelated subquery predicates: IN " +
      "(GDPR-erasure shape, mor), NOT IN three-valued null semantics, " +
      "EXISTS; correlated forms and SET subqueries refuse") {
    val (dest, tbl) = freshTable("dml_subq_")
    (0L until 100L).map(i => (i, i % 10, s"v$i"))
      .toDF("id", "uid", "v").coalesce(2)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    Seq((3L, "erase"), (7L, "erase"), (4L, "keep"))
      .toDF("uid", "action").createOrReplaceTempView("dml_subq_deny")
    try {
      // IN subquery, mor: one dv commit, exact rows
      val del = spark.sql(
        s"""DELETE FROM $tbl WHERE uid IN
            (SELECT uid FROM dml_subq_deny WHERE action = 'erase')""")
      assert(del.head.getLong(0) == 20L)
      assert(ManifestSink.history(spark, dest)
        .where(col("version") === 1).head.getAs[String]("kind") == "mor")
      assert(spark.table(tbl).where("uid IN (3, 7)").count() == 0L)
      assert(spark.table(tbl).count() == 80L)

      // UPDATE with an IN subquery
      val up = spark.sql(
        s"""UPDATE $tbl SET v = 'redacted' WHERE uid IN
            (SELECT uid FROM dml_subq_deny WHERE action = 'keep')""")
      assert(up.head.getLong(0) == 10L)
      assert(spark.table(tbl).where("v = 'redacted'").count() == 10L)

      // NOT IN against a set containing NULL deletes NOTHING (standard
      // three-valued logic — silently deleting everything-or-something
      // here is the classic wrong-results trap)
      Seq(Some(1L), None).toDF("uid")
        .createOrReplaceTempView("dml_subq_nulls")
      val del2 = spark.sql(
        s"DELETE FROM $tbl WHERE uid NOT IN (SELECT uid FROM dml_subq_nulls)")
      assert(del2.head.getLong(0) == 0L)
      assert(spark.table(tbl).count() == 80L)

      // constant EXISTS (true) — every row
      val del3 = spark.sql(
        s"""DELETE FROM $tbl WHERE uid = 9 AND EXISTS
            (SELECT 1 FROM dml_subq_deny WHERE action = 'erase')""")
      assert(del3.head.getLong(0) == 10L)

      // SET with a subquery still refuses
      val e2 = intercept[AnalysisException](spark.sql(
        s"""UPDATE $tbl SET v =
            (SELECT max(action) FROM dml_subq_deny) WHERE uid = 1"""))
      assert(e2.getMessage.contains("subquery"), e2.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_subq_deny")
      spark.catalog.dropTempView("dml_subq_nulls")
    }
  }

  test("DELETE/UPDATE with CORRELATED subquery predicates: EXISTS " +
      "with an inner condition (the natural erasure shape), NOT " +
      "EXISTS, correlated IN, correlated UPDATE, same-name inner/" +
      "outer columns stay correlated, cow path agrees with mor") {
    val (dest, tbl) = freshTable("dml_corr_")
    (0L until 100L).map(i => (i, i % 10, s"v$i"))
      .toDF("id", "uid", "v").coalesce(2)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    // deny list carries a uid column of ITS OWN — a decorrelating
    // rename (t.uid -> bare uid) would silently turn d.uid = t.uid
    // into d.uid = d.uid (always true on non-null) and erase rows the
    // list never named
    Seq((3L, "erase"), (7L, "erase"), (4L, "keep"), (7L, "keep"))
      .toDF("uid", "action").createOrReplaceTempView("dml_corr_deny")
    try {
      // correlated EXISTS with an inner condition, mor: dv commit
      val del = spark.sql(
        s"""DELETE FROM $tbl t WHERE EXISTS
            (SELECT 1 FROM dml_corr_deny d
             WHERE d.uid = t.uid AND d.action = 'erase')""")
      assert(del.head.getLong(0) == 20L)
      assert(ManifestSink.history(spark, dest)
        .where(col("version") === 1).head.getAs[String]("kind") == "mor")
      assert(spark.table(tbl).where("uid IN (3, 7)").count() == 0L)
      assert(spark.table(tbl).count() == 80L)

      // correlated UPDATE (EXISTS against the keep rows)
      val up = spark.sql(
        s"""UPDATE $tbl t SET v = 'kept' WHERE EXISTS
            (SELECT 1 FROM dml_corr_deny d
             WHERE d.uid = t.uid AND d.action = 'keep')""")
      assert(up.head.getLong(0) == 10L) // uid 4 (7 already deleted)
      assert(spark.table(tbl).where("v = 'kept'")
        .select("uid").distinct().as[Long].collect().toSeq == Seq(4L))

      // correlated IN: delete ids the deny list names via correlation
      // on uid — only (uid 4) rows whose id is also in 0..9
      val del2 = spark.sql(
        s"""DELETE FROM $tbl t WHERE t.id IN
            (SELECT t.uid FROM dml_corr_deny d WHERE d.uid = t.uid)""")
      assert(del2.head.getLong(0) == 1L) // id 4 (uid 4)
      assert(spark.table(tbl).where("id = 4").count() == 0L)

      // NOT EXISTS (anti shape): count only — uids 0,1,2,5,6,8,9 stay
      assert(spark.table(tbl)
        .where("uid NOT IN (4)").count() == 70L)
      val del3 = spark.sql(
        s"""DELETE FROM $tbl t WHERE NOT EXISTS
            (SELECT 1 FROM dml_corr_deny d WHERE d.uid = t.uid)""")
      assert(del3.head.getLong(0) == 70L)
      assert(spark.table(tbl).count() == 9L) // uid 4 minus id 4

      // cow path: same semantics through the rewrite machinery
      spark.conf.set("spark.graft.dml.mor", "false")
      try {
        val delC = spark.sql(
          s"""DELETE FROM $tbl t WHERE EXISTS
              (SELECT 1 FROM dml_corr_deny d
               WHERE d.uid = t.uid AND d.action = 'keep')""")
        assert(delC.head.getLong(0) == 9L)
        assert(spark.table(tbl).count() == 0L)
      } finally spark.conf.unset("spark.graft.dml.mor")
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_corr_deny")
    }
  }

  test("correlated subquery DML: cow UPDATE (filter-union rewrite) " +
      "and uncorrelated cow delete/update agree with expectations; " +
      "outer references to partition columns refuse") {
    val (dest, tbl) = freshTable("dml_corrcow_")
    (0L until 60L).map(i => (i, i % 6, s"v$i"))
      .toDF("id", "uid", "v").coalesce(2)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    Seq(1L, 4L).toDF("uid").createOrReplaceTempView("dml_corrcow_ids")
    spark.conf.set("spark.graft.dml.mor", "false")
    try {
      // cow correlated UPDATE: matched rows rewritten, others kept
      val up = spark.sql(
        s"""UPDATE $tbl t SET v = concat(v, '!') WHERE EXISTS
            (SELECT 1 FROM dml_corrcow_ids d WHERE d.uid = t.uid)""")
      assert(up.head.getLong(0) == 20L)
      assert(spark.table(tbl).where("v LIKE '%!'").count() == 20L)
      assert(spark.table(tbl).where("uid IN (1,4) AND v NOT LIKE '%!'")
        .count() == 0L)
      assert(spark.table(tbl).count() == 60L)
      // uncorrelated subquery through the cow count pass (the
      // filter-only shape): exact rows
      val del = spark.sql(
        s"DELETE FROM $tbl WHERE uid IN (SELECT uid FROM dml_corrcow_ids)")
      assert(del.head.getLong(0) == 20L)
      assert(spark.table(tbl).count() == 40L)
    } finally {
      spark.conf.unset("spark.graft.dml.mor")
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_corrcow_ids")
    }

    // partitioned table: a correlated outer reference to the partition
    // column refuses (directory-derived values are not in the files)
    val (destP, tblP) = freshTable("dml_corrpart_")
    (0L until 9L).map(i =>
        (i, s"v$i", java.sql.Date.valueOf(s"2026-03-0${i % 3 + 1}")))
      .toDF("id", "v", "day").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, destP, Some("day"),
        Seq("id")))
    spark.sql(s"CREATE TABLE $tblP USING graft LOCATION '$destP'")
    Seq("2026-03-01").toDF("d").createOrReplaceTempView("dml_corrpart_d")
    try {
      val e = intercept[AnalysisException](spark.sql(
        s"""DELETE FROM $tblP t WHERE EXISTS
            (SELECT 1 FROM dml_corrpart_d x
             WHERE x.d = cast(t.p_date AS string))"""))
      assert(e.getMessage.contains("partition column"), e.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tblP")
      spark.catalog.dropTempView("dml_corrpart_d")
    }
  }

  test("MERGE full sync (WHEN NOT MATCHED BY SOURCE THEN DELETE): the " +
      "table becomes exactly the source in one snapshot, counts are " +
      "the three-way outcome, history retained, other BY SOURCE " +
      "shapes refuse") {
    val (dest, tbl) = freshTable("dml_fsync_")
    (0L until 50L).map(i => (i, s"old$i")).toDF("id", "v").coalesce(2)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    (10L until 60L).map(i => (i, s"new$i")).toDF("id", "v")
      .createOrReplaceTempView("dml_fsync_src")
    try {
      val r = spark.sql(
        s"""MERGE INTO $tbl t USING dml_fsync_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(r.columns.toSeq ==
        Seq("updated_rows", "inserted_rows", "deleted_rows"))
      assert(r.head == org.apache.spark.sql.Row(40L, 10L, 10L))
      // the table IS the source now
      assert(spark.table(tbl).orderBy("id")
        .as[(Long, String)].collect().toSeq ==
        (10L until 60L).map(i => (i, s"new$i")))
      // ONE snapshot version; time travel reaches the pre-sync state
      assert(ManifestSink.readVersion(spark, dest, 0).count() == 50L)
      assert(ManifestSink.readVersion(spark, dest, 0)
        .where("v = 'old0'").count() == 1L)

      // BY SOURCE + delete-only matched action refuses
      val e2 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl t USING dml_fsync_src s ON t.id = s.id
            WHEN MATCHED THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN DELETE"""))
      assert(e2.getMessage.contains("UPDATE SET *"), e2.getMessage)
      // BY SOURCE expressions referencing SOURCE columns refuse —
      // Spark's own analyzer scopes the clause to target columns
      // (there is no source row for a vanished key); the routing
      // keeps a target-only guard as defense in depth
      val e3 = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl t USING dml_fsync_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND s.v = 'x' THEN DELETE"""))
      assert(e3.getMessage.contains("cannot be resolved"), e3.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_fsync_src")
    }
  }

  test("incremental full sync: a 1%-delta source leaves every data " +
      "file byte-identical (dv + appends only), an identical source " +
      "commits NOTHING, conditional BY SOURCE delete keeps protected " +
      "rows, BY SOURCE UPDATE soft-deletes, feed replay reconstructs") {
    val (dest, tbl) = freshTable("dml_isync_")
    ManifestSink.enableChangeFeed(spark, dest)
    (0L until 1000L).map(i => (i, s"v$i", "live"))
      .toDF("id", "v", "state")
      .repartitionByRange(8, col("id"))
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    val filesBefore = ManifestSink.readBack(spark, dest)
      .inputFiles.toSet
    val sizesBefore = new java.io.File(dest).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    // 1%-delta source: 5 keys changed, 5 vanished, 5 new
    (0L until 1005L).filterNot(i => i >= 500 && i < 505).map(i =>
        (i, if (i >= 100 && i < 105) s"CHANGED$i" else s"v$i", "live"))
      .toDF("id", "v", "state")
      .createOrReplaceTempView("dml_isync_src")
    try {
      val r = spark.sql(
        s"""MERGE INTO $tbl t USING dml_isync_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(r.head == org.apache.spark.sql.Row(995L, 5L, 5L))
      // every pre-sync data file is still on disk, byte-identical,
      // and still part of the live snapshot (tombstones ride dvs)
      val after = new java.io.File(dest).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      sizesBefore.foreach { case (n, sm) =>
        assert(after.get(n).contains(sm), s"file $n changed: $sm") }
      assert(filesBefore.subsetOf(ManifestSink.readBack(spark, dest)
        .inputFiles.toSet))
      // the table is exactly the source
      assert(spark.table(tbl).count() == 1000L)
      assert(spark.table(tbl).where("v LIKE 'CHANGED%'").count() == 5L)
      assert(spark.table(tbl).where("id >= 500 AND id < 505")
        .count() == 0L)
      assert(spark.table(tbl).where("id >= 1000").count() == 5L)
      // the feed carries ONLY the changes: 5+5 deletes, 5+5 inserts
      val ch = ManifestSink.readChangesBetween(spark, dest, 0L)
      assert(ch.where("_change_type = 'delete'").count() == 10L)
      assert(ch.where("_change_type = 'insert'").count() == 10L)
      // an identical re-sync commits NOTHING (no new version)
      val v1 = ManifestSink.history(spark, dest).count()
      spark.table(tbl).createOrReplaceTempView("dml_isync_same")
      val r2 = spark.sql(
        s"""MERGE INTO $tbl t USING dml_isync_same s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(r2.head == org.apache.spark.sql.Row(0L, 0L, 0L))
      assert(ManifestSink.history(spark, dest).count() == v1)

      // conditional BY SOURCE: protected rows survive a partial feed
      (0L until 100L).map(i => (i, s"v$i", "live"))
        .toDF("id", "v", "state")
        .createOrReplaceTempView("dml_isync_part")
      val r3 = spark.sql(
        s"""MERGE INTO $tbl t USING dml_isync_part s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.id < 200 THEN DELETE""")
      // matched 0..99 (all value-identical — no physical change),
      // vanished-but-protected id >= 200 kept, 100..199 deleted
      assert(r3.head.getLong(0) == 100L)  // updated
      assert(r3.head.getLong(2) == 100L)  // deleted: 100..199
      assert(spark.table(tbl).count() == 900L)
      assert(spark.table(tbl).where("id >= 200").count() == 800L)

      // BY SOURCE UPDATE: soft-delete flagging instead of removal
      val r4 = spark.sql(
        s"""MERGE INTO $tbl t USING dml_isync_part s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.state = 'live'
              THEN UPDATE SET state = 'gone'""")
      assert(r4.head.getLong(0) == 100L + 800L) // matched + soft-deleted
      assert(r4.head.getLong(2) == 0L)
      assert(spark.table(tbl).count() == 900L) // nothing removed
      assert(spark.table(tbl).where("state = 'gone'").count() == 800L)
      assert(spark.table(tbl).where("id < 100 AND state = 'live'")
        .count() == 100L)
      // key/partition SET targets refuse
      val e = intercept[AnalysisException](spark.sql(
        s"""MERGE INTO $tbl t USING dml_isync_part s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET id = -1"""))
      assert(e.getMessage.contains("merge key"), e.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      Seq("dml_isync_src", "dml_isync_same", "dml_isync_part")
        .foreach(spark.catalog.dropTempView)
    }
  }

  test("mergeFullSync (Scala): partitioned target, change feed " +
      "decomposes the sync into exact deletes + inserts, empty " +
      "source empties the table, schema drift refuses") {
    val dest = s"${tmpDir("fsync_sc_")}/t"
    ManifestSink.enableChangeFeed(spark, dest)
    dayTable(dest) // ids 0..89 over 3 day partitions
    val src = (60L until 100L).map(i =>
        (i, s"s$i", java.sql.Date.valueOf(s"2026-01-0${i % 3 + 1}")))
      .toDF("id", "v", "day")
    val out = ManifestSink.mergeFullSync(spark, dest, src, "id",
      Some("day"), Seq("id"))
    assert(out == ManifestSink.MergeOutcome.Merged(30L, 10L, 60L))
    val back = ManifestSink.readBack(spark, dest)
    assert(back.count() == 40L)
    assert(back.select("id").as[Long].collect().toSet ==
      (60L until 100L).toSet)
    // partition layout preserved
    assert(back.inputFiles.forall(_.contains("p_date=")))
    // the feed decomposes: every pre-sync row deletes, every source
    // row inserts, in the same commit version
    val ch = ManifestSink.readChangesBetween(spark, dest, 0)
    assert(ch.where("_change_type = 'delete'")
      .select("id").as[Long].collect().toSet == (0L until 90L).toSet)
    assert(ch.where("_change_type = 'insert'")
      .select("id").as[Long].collect().toSet == (60L until 100L).toSet)
    assert(ch.select("_commit_version").distinct()
      .as[Long].collect().toSeq == Seq(1L))
    // forgetting partitionField on a partitioned table refuses — a
    // sync must not silently flatten the layout
    val eLayout = intercept[IllegalArgumentException](
      ManifestSink.mergeFullSync(spark, dest, src, "id"))
    assert(eLayout.getMessage.contains("partitioned"),
      eLayout.getMessage)
    // empty source = full truncate, counted as deletes
    val empty = spark.emptyDataset[(Long, String, java.sql.Date)]
      .toDF("id", "v", "day")
    assert(ManifestSink.mergeFullSync(spark, dest, empty, "id",
      Some("day"), Seq("id")) ==
      ManifestSink.MergeOutcome.Merged(0L, 0L, 40L))
    assert(ManifestSink.readBack(spark, dest).count() == 0L)
    // schema drift refuses
    val drifted = Seq((1L, java.sql.Date.valueOf("2026-01-01")))
      .toDF("id", "day")
    val e = intercept[IllegalArgumentException](
      ManifestSink.mergeFullSync(spark, dest, drifted, "id",
        Some("day")))
    assert(e.getMessage.contains("schema"), e.getMessage)
  }

  test("two-level date/hour layout through SQL: INSERT INTO routes " +
      "both levels, UPDATE keeps them, MERGE inserts into them, " +
      "INSERT OVERWRITE PARTITION replaces a day or one hour") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val (dest, tbl) = freshTable("dml_2lvl_")
    val rows = for {
      d <- Seq("2026-03-01", "2026-03-02"); h <- Seq(6, 7)
      i <- 0 until 3
    } yield (d.takeRight(2).toLong * 1000 + h * 100 + i, s"v$h$i",
      ts(f"$d $h%02d:15:00"))
    rows.toDF("id", "v", "ts").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, Some("ts/hour"),
        Seq("id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      assert(spark.table(tbl).columns.toSeq
        .takeRight(2) == Seq("p_date", "p_hour"))
      // INSERT INTO supplies both partition columns
      spark.sql(s"""INSERT INTO $tbl VALUES
        (9001, 'ins', TIMESTAMP '2026-03-03 09:00:00',
         DATE '2026-03-03', 9)""")
      assert(spark.sql(s"""SELECT count(*) FROM $tbl
          WHERE p_date = '2026-03-03' AND p_hour = 9""")
        .head.getLong(0) == 1L)
      // GROUP BY both levels
      assert(spark.sql(s"""SELECT p_date, p_hour, count(*) AS n
          FROM $tbl GROUP BY 1, 2""").count() == 5L)
      // UPDATE keeps the two-level partition
      spark.sql(s"UPDATE $tbl SET v = 'upd' WHERE id = 9001")
      assert(spark.sql(s"""SELECT CAST(p_date AS STRING), p_hour
          FROM $tbl WHERE v = 'upd'""").as[(String, Int)]
        .collect().toSeq == Seq(("2026-03-03", 9)))
      // MERGE routes the inserted row into its two-level partition
      Seq((9002L, "mrg", ts("2026-03-04 11:30:00"),
          java.sql.Date.valueOf("2026-03-04"), 11))
        .toDF("id", "v", "ts", "p_date", "p_hour")
        .createOrReplaceTempView("dml_2lvl_src")
      spark.sql(s"""MERGE INTO $tbl t USING dml_2lvl_src s
          ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
      assert(spark.sql(s"""SELECT CAST(p_date AS STRING), p_hour
          FROM $tbl WHERE id = 9002""").as[(String, Int)]
        .collect().toSeq == Seq(("2026-03-04", 11)))
      // hour-scoped static overwrite: exactly (2026-03-01, 7) replaced
      val r = spark.sql(s"""INSERT OVERWRITE $tbl
          PARTITION (p_date = '2026-3-1', p_hour = '07')
          SELECT id, v, ts FROM $tbl VERSION AS OF 0
          WHERE p_hour = 7 AND p_date = '2026-03-01' AND id % 100 = 0""")
      assert(r.head.getLong(0) >= 1L)
      assert(spark.sql(s"""SELECT count(*) FROM $tbl
          WHERE p_date = '2026-03-01' AND p_hour = 7""")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"""SELECT count(*) FROM $tbl
          WHERE p_date = '2026-03-01' AND p_hour = 6""")
        .head.getLong(0) == 3L)
      // day-scoped static overwrite on the hourly layout: the SELECT
      // supplies p_hour, every hour of the day replaces
      spark.sql(s"""INSERT OVERWRITE $tbl PARTITION (p_date = '2026-03-02')
          SELECT id, v, ts, p_hour FROM $tbl VERSION AS OF 0
          WHERE p_date = '2026-03-02' AND id % 3 = 0 AND p_hour = 6""")
      assert(spark.sql(
          s"SELECT count(*) FROM $tbl WHERE p_date = '2026-03-02'")
        .head.getLong(0) == 1L)
      // the spec accepts the layout columns in ANY order — normalized
      // to layout order, so (p_hour, p_date) names the same partition
      spark.sql(s"""INSERT OVERWRITE $tbl
          PARTITION (p_hour = '6', p_date = '2026-03-01')
          SELECT id + 100000, v, ts FROM $tbl VERSION AS OF 0
          WHERE p_hour = 6 AND p_date = '2026-03-01' AND id % 100 = 0""")
      assert(spark.sql(s"""SELECT count(*) FROM $tbl
          WHERE p_date = '2026-03-01' AND p_hour = 6""")
        .head.getLong(0) == 1L)
      // an hour-only spec is NOT a layout prefix — the refusal names
      // the accepted forms
      val ePfx = intercept[AnalysisException](spark.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_hour = '6')
            SELECT id, v, ts, p_date FROM $tbl WHERE id < 0"""))
      assert(ePfx.getMessage.contains("accepted forms"), ePfx.getMessage)
      // out-of-range hour refuses
      val e = intercept[Exception](spark.sql(
        s"""INSERT OVERWRITE $tbl PARTITION (p_date = '2026-03-01',
            p_hour = '29') SELECT id, v, ts FROM $tbl WHERE id < 0"""))
      assert(e.getMessage.contains("hour"), e.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_2lvl_src")
    }
  }

  test("generic partition columns through SQL: a lang-partitioned " +
      "table reads/prunes, INSERT INTO routes values to their dirs, " +
      "INSERT OVERWRITE PARTITION (lang='en') replaces one language, " +
      "UPDATE keeps the partition, MERGE full sync keeps the layout, " +
      "DML on the partition column refuses") {
    val (dest, tbl) = freshTable("dml_gen_")
    Seq((1L, "en", "hello"), (2L, "en", "world"),
        (3L, "de", "hallo"), (4L, "fr", "salut"))
      .toDF("doc_id", "lang", "text")
      .pipe(df => ManifestSink.statsAppend(df.coalesce(1), dest,
        Some("val(lang)"), Seq("doc_id")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    try {
      assert(spark.table(tbl).columns.contains("lang"))
      assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE lang = 'en'")
        .head.getLong(0) == 2L)
      // INSERT INTO routes each row into its language directory (the
      // relation orders data columns first, the partition column last)
      assert(spark.table(tbl).columns.toSeq ==
        Seq("doc_id", "text", "lang"))
      spark.sql(s"INSERT INTO $tbl VALUES (5, 'hola', 'es')")
      assert(new java.io.File(s"$dest/lang=es").exists)
      assert(spark.table(tbl).count() == 5L)
      // INSERT OVERWRITE PARTITION replaces exactly one language
      val r = spark.sql(s"""INSERT OVERWRITE $tbl
          PARTITION (lang = 'en') SELECT 10, 'rewritten'""")
      assert(r.head.getLong(0) >= 1L)
      assert(spark.sql(s"SELECT doc_id FROM $tbl WHERE lang = 'en'")
        .as[Long].collect().toSeq == Seq(10L))
      assert(spark.table(tbl).count() == 4L)
      // UPDATE keeps the row's partition
      spark.sql(s"UPDATE $tbl SET text = 'patched' WHERE doc_id = 3")
      assert(spark.sql(
          s"SELECT lang FROM $tbl WHERE text = 'patched'")
        .as[String].collect().toSeq == Seq("de"))
      // MERGE full sync keeps the generic layout
      Seq((10L, "en", "rewritten"), (3L, "de", "patched"),
          (6L, "pt", "ola"))
        .toDF("doc_id", "lang", "text")
        .createOrReplaceTempView("dml_gen_src")
      val m = spark.sql(
        s"""MERGE INTO $tbl t USING dml_gen_src s ON t.doc_id = s.doc_id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      assert(m.head == org.apache.spark.sql.Row(2L, 1L, 2L))
      assert(spark.table(tbl).orderBy("doc_id")
        .select("doc_id", "lang").as[(Long, String)].collect().toSeq ==
        Seq((3L, "de"), (6L, "pt"), (10L, "en")))
      assert(new java.io.File(s"$dest/lang=pt").exists)
      // SHOW PARTITIONS lists the language identities
      assert(spark.sql(s"SHOW PARTITIONS $tbl")
        .select("partition").as[String].collect().toSet
        .contains("lang=pt"))
      // predicates/SET on the partition column refuse
      val e1 = intercept[AnalysisException](
        spark.sql(s"DELETE FROM $tbl WHERE lang = 'de'"))
      assert(e1.getMessage.contains("partition column"), e1.getMessage)
      val e2 = intercept[AnalysisException](
        spark.sql(s"UPDATE $tbl SET lang = 'xx' WHERE doc_id = 3"))
      assert(e2.getMessage.contains("partition"), e2.getMessage)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("dml_gen_src")
    }
  }

  test("a full sync KEEPS the table's bloom index: the SQL route " +
      "threads the snapshot's bloom columns through, so point-lookup " +
      "skipping survives the sync") {
    val (dest, tbl) = freshTable("fsync_bloom_")
    (0L until 200L).map(i => (i, s"k$i")).toDF("id", "key")
      .repartitionByRange(4, col("id"))
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id"),
        bloomCols = Seq("key")))
    spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
    (0L until 200L).map(i => (i, if (i == 7) "SYNCED" else s"k$i"))
      .toDF("id", "key").repartitionByRange(4, col("id"))
      .createOrReplaceTempView("fsync_bloom_src")
    try {
      spark.sql(
        s"""MERGE INTO $tbl t USING fsync_bloom_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      // the post-sync snapshot still records the bloom column and a
      // point lookup prunes to a strict file subset
      val h = ManifestSink.snapshotHandle(spark, dest)
      assert(h.bloomColumns == Seq("key"),
        s"bloom index lost by the sync: ${h.bloomColumns}")
      val pruned = h.prune(h.targets,
        ManifestSink.SkipPredicate.StrEq("key", "SYNCED"))
      assert(pruned.size < h.targets.size,
        s"bloom pruning inert: ${pruned.size}/${h.targets.size}")
      assert(ManifestSink.readBackWherePred(spark, dest,
        ManifestSink.SkipPredicate.StrEq("key", "SYNCED")).count() == 1L)
    } finally {
      spark.sql(s"DROP TABLE $tbl")
      spark.catalog.dropTempView("fsync_bloom_src")
    }
  }

  test("checkpointDir on maintenance verbs: overwritePartitions and " +
      "mergeSync pin through RELIABLE storage when given a directory " +
      "(checkpoint files on disk), with commits identical to the " +
      "local-blocks default") {
    val root = tmpDir("dml_ckpt_")
    val destA = s"$root/wh/a"
    val destB = s"$root/wh/b"
    val ckpt = s"$root/ckpt"
    def seed(d: String): Unit =
      (0L until 60L).map(i =>
          (i, s"v$i", java.sql.Date.valueOf(s"2026-01-0${i % 3 + 1}")))
        .toDF("id", "v", "day").repartitionByRange(3, col("id"))
        .pipe(df => ManifestSink.statsAppend(df, d, Some("day"),
          Seq("id")))
    seed(destA); seed(destB)
    val repl = (100L until 110L).map(i =>
        (i, s"n$i", java.sql.Date.valueOf("2026-01-02")))
      .toDF("id", "v", "day").coalesce(1)
    // same verb, reliable vs local pinning: same result. The pin
    // parquet must EXIST at commit time (preemption safety) and be
    // SWEPT afterwards (no per-run debris accumulation)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    var sawPin = false
    ManifestSink.onBeforeRewriteCommit = () =>
      sawPin = sawPin || walk(new java.io.File(ckpt)).nonEmpty
    try {
      assert(ManifestSink.overwritePartitions(repl, destA, "day",
        statsCols = Seq("id"), checkpointDir = Some(ckpt)) ==
        ManifestSink.overwritePartitions(repl, destB, "day",
          statsCols = Seq("id")))
    } finally ManifestSink.onBeforeRewriteCommit = () => ()
    assert(sawPin, "no reliable pin files existed at commit time")
    assert(walk(new java.io.File(ckpt)).isEmpty,
      "reliable pin files not swept after the commit")
    def state(d: String) = ManifestSink.readBack(spark, d)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(state(destA) == state(destB))
    // mergeSync with reliable pinning: identical outcome + state
    val src = (0L until 50L).map(i =>
        (i, if (i == 7) "CHANGED" else s"v$i",
          java.sql.Date.valueOf(s"2026-01-0${i % 3 + 1}")))
      .toDF("id", "v", "day")
    val oA = ManifestSink.mergeSync(spark, destA, src, "id",
      Some("day"), Seq("id"), checkpointDir = Some(ckpt))
    val oB = ManifestSink.mergeSync(spark, destB, src, "id",
      Some("day"), Seq("id"))
    assert(oA == oB && oA.applied)
    assert(state(destA) == state(destB))
  }

  test("mergeFullSync: a concurrent commit aborts the sync (staged " +
      "files rolled back, Aborted status — never a silent absorb)") {
    val dest = s"${tmpDir("fsync_occ_")}/t"
    (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    val src = (5L until 25L).map(i => (i, s"n$i")).toDF("id", "v")
    val intruder = Seq((99L, "w")).toDF("id", "v")
    ManifestSink.onBeforeRewriteCommit = () =>
      ManifestSink.statsAppend(intruder, dest, None, Seq("id"))
    try {
      val out = ManifestSink.mergeFullSync(spark, dest, src, "id")
      assert(out == ManifestSink.MergeOutcome.Aborted)
    } finally ManifestSink.onBeforeRewriteCommit = () => ()
    // nothing synced, the intruder's row survived, no staged debris
    val back = ManifestSink.readBack(spark, dest)
    assert(back.count() == 21L)
    assert(back.where("id = 99").count() == 1L)
    val sroot = new java.io.File(
      new java.io.File(dest).getParent, ".staging_t")
    assert(!sroot.exists() || sroot.listFiles().isEmpty)
    // the retry against the advanced log applies
    assert(ManifestSink.mergeFullSync(spark, dest, src, "id") ==
      ManifestSink.MergeOutcome.Merged(15L, 5L, 6L))
    assert(ManifestSink.readBack(spark, dest).count() == 20L)
  }

  test("mergeFullSync: a count that fails after the durable commit " +
      "returns Merged with -1 counts and a flagged metric, and commits " +
      "exactly one version") {
    val dest = s"${tmpDir("fsync_cnt_")}/t"
    (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)
      .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
    // the overlapped count reads the OLD live file, the commit only the
    // source: losing that file fails the count alone
    val victim = ManifestSink.readBack(spark, dest).inputFiles.head
    assert(new java.io.File(new java.net.URI(victim)).delete())
    val versions = ManifestSink.history(spark, dest).count()
    val src = (5L until 25L).map(i => (i, s"n$i")).toDF("id", "v")
    val out = new java.io.ByteArrayOutputStream()
    val res = Console.withOut(out)(
      ManifestSink.mergeFullSync(spark, dest, src, "id"))
    assert(res == ManifestSink.MergeOutcome.Merged(-1L, -1L, -1L))
    assert(out.toString("UTF-8")
      .contains("METRIC graft.merge_full_sync.counts_failed=1"), out)
    assert(ManifestSink.history(spark, dest).count() == versions + 1)
    assert(ManifestSink.readBack(spark, dest).orderBy("id")
      .select("v").as[String].collect().toSeq ==
      (5 until 25).map(i => s"n$i"))
  }

  test("BETWEEN in SQL DELETE/UPDATE (WHERE and SET), mor and cow: " +
      "the runtime-replaceable form reaches the router inlined") {
    for (mor <- Seq("true", "false")) {
      val (dest, tbl) = freshTable("dml_btw_")
      (0L until 100L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(2)
        .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
      spark.conf.set("spark.graft.dml.mor", mor)
      try {
        assert(spark.sql(s"DELETE FROM $tbl WHERE id BETWEEN 10 AND 19")
          .head.getLong(0) == 10L, s"mor=$mor")
        assert(spark.sql(s"UPDATE $tbl SET v = IF(v BETWEEN 20 AND 24, " +
          "500.0, -500.0) WHERE id BETWEEN 15 AND 29").head.getLong(0) ==
          10L, s"mor=$mor")
        assert(spark.table(tbl).count() == 90L)
        assert(spark.table(tbl).where("v = 500.0").select("id").as[Long]
          .collect().sorted.toSeq == (20L until 25L), s"mor=$mor")
        assert(spark.table(tbl).where("v = -500.0").select("id").as[Long]
          .collect().sorted.toSeq == (25L until 30L), s"mor=$mor")
        assert(spark.table(tbl).schema("v").dataType ==
          org.apache.spark.sql.types.DoubleType, s"mor=$mor")
        // inlining would evaluate a non-deterministic input twice
        val e = intercept[AnalysisException](spark.sql(
          s"DELETE FROM $tbl WHERE rand() BETWEEN 0.2 AND 0.4"))
        assert(e.getMessage.contains("non-deterministic"), e.getMessage)
      } finally {
        spark.conf.unset("spark.graft.dml.mor")
        spark.sql(s"DROP TABLE $tbl")
      }
    }
  }

  /** `(files_total, candidates)` from the DML verb's METRIC line. */
  private def dmlCandidates(mor: Boolean)(stmt: => Long): (Long, Int, Int) = {
    val out = new java.io.ByteArrayOutputStream()
    val n = Console.withOut(out)(stmt)
    val kind = if (mor) "mor" else "rewrite"
    val re = s"""METRIC graft\\.$kind\\.files_total=(\\d+) candidates=(\\d+)""".r
    val m = re.findFirstMatchIn(out.toString("UTF-8")).getOrElse(
      fail(s"no graft.$kind candidates line in:\n$out"))
    (n, m.group(1).toInt, m.group(2).toInt)
  }

  test("SQL DELETE/UPDATE prune candidates by stats like SQL reads " +
      "(mor and cow); a predicate that does not convert keeps every " +
      "file a candidate and returns the same counts") {
    val conv = "id >= 120 AND id <= 229 AND other = 'x'"
    val noConv = "CAST(id AS STRING) RLIKE '^(1[2-9]|2[0-2])[0-9]$' " +
      "AND other RLIKE '^x$'"
    for (mor <- Seq(true, false); delete <- Seq(true, false);
         (where, want) <- Seq(conv -> 2, noConv -> 4)) {
      val (dest, tbl) = freshTable("dml_prune_")
      // four files clustered on id: [0,100), [100,200), [200,300), ...
      for (b <- 0 until 4)
        (b * 100L until b * 100L + 100L)
          .map(i => (i, if (i % 2 == 0) "x" else "y", i * 1.0))
          .toDF("id", "other", "v").coalesce(1)
          .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
      spark.conf.set("spark.graft.dml.mor", mor.toString)
      val what = s"mor=$mor delete=$delete where=$where"
      try {
        val (n, total, cands) = dmlCandidates(mor) {
          spark.sql(
            if (delete) s"DELETE FROM $tbl WHERE $where"
            else s"UPDATE $tbl SET v = -1.0 WHERE $where").head.getLong(0)
        }
        assert(n == 55L, what)
        assert(total == 4 && cands == want, s"$what: $total/$cands")
        val left = spark.table(tbl)
        if (delete) assert(left.count() == 345L, what)
        else assert(left.where("v = -1.0").count() == 55L, what)
      } finally {
        spark.conf.unset("spark.graft.dml.mor")
        spark.sql(s"DROP TABLE $tbl")
      }
    }
  }

  test("a NaN in a stats column bounds nothing: its file stays a " +
      "candidate, so SQL DELETE/UPDATE (mor and cow) and reads match " +
      "the unpruned filter") {
    // Spark sorts NaN above every number, so the file's max is NaN;
    // `v > 8` holds for NaN, BETWEEN does not
    for (mor <- Seq(true, false); delete <- Seq(true, false);
         (where, want) <- Seq("v BETWEEN 5 AND 8" -> 1L, "v > 8" -> 3L)) {
      val (dest, tbl) = freshTable("dml_nan_")
      for (rows <- Seq(Seq(0L -> 1.0, 1L -> 7.0, 2L -> Double.NaN),
                       Seq(3L -> 10.0, 4L -> 11.0),
                       Seq(5L -> 2.0, 6L -> 3.0)))
        rows.toDF("id", "v").coalesce(1)
          .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("v")))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
      spark.conf.set("spark.graft.dml.mor", mor.toString)
      val what = s"mor=$mor delete=$delete where=$where"
      try {
        assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE $where")
          .head.getLong(0) == want, what)
        val n = spark.sql(
          if (delete) s"DELETE FROM $tbl WHERE $where"
          else s"UPDATE $tbl SET id = -1 WHERE $where").head.getLong(0)
        assert(n == want, what)
        if (delete) assert(spark.table(tbl).count() == 7L - want, what)
        else assert(spark.table(tbl).where("id = -1").count() == want, what)
      } finally {
        spark.conf.unset("spark.graft.dml.mor")
        spark.sql(s"DROP TABLE $tbl")
      }
    }
  }

  test("DML on a log without schema lines prunes by stats against the " +
      "footer-swept schema the SQL relation uses (mor and cow)") {
    for (mor <- Seq(true, false)) {
      val dest = s"${tmpDir("dml_noschemaj_")}/t"
      for (b <- 0 until 4)
        (b * 100L until b * 100L + 100L).map(i => (i, i * 1.0))
          .toDF("id", "v").coalesce(1)
          .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
      new java.io.File(s"$dest/_log").listFiles()
        .filter(_.getName.endsWith(".manifest")).foreach { mf =>
          val kept = new java.util.ArrayList[String]()
          java.nio.file.Files.readAllLines(mf.toPath).forEach(l =>
            if (!l.startsWith("schemaj\t")) kept.add(l))
          java.nio.file.Files.write(mf.toPath, kept)
        }
      ManifestSink.invalidateMfCache()
      assert(ManifestSink.snapshotHandle(spark, dest).schemaOpt.isEmpty)
      val cond = col("id").between(120, 229)
      val (n, total, cands) = dmlCandidates(mor) {
        if (mor) ManifestSink.deleteWhereMor(spark, dest, cond)
        else ManifestSink.deleteWhere(spark, dest, cond)
      }
      assert(n == 110L && total == 4 && cands == 2, s"mor=$mor: $n $total/$cands")
      assert(ManifestSink.readBack(spark, dest).count() == 290L)
    }
  }

  test("UPDATE SET follows the store-assignment policy: an unsafe type " +
      "pair is refused, an overflow raises even with ANSI mode off " +
      "(mor and cow), and the table is left as it was") {
    for (mor <- Seq("true", "false")) {
      val (dest, tbl) = freshTable("dml_assign_")
      (0L until 10L).map(i => (i, i.toInt)).toDF("id", "n").coalesce(1)
        .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
      spark.conf.set("spark.graft.dml.mor", mor)
      spark.conf.set("spark.sql.ansi.enabled", "false")
      try {
        val e = intercept[AnalysisException](
          spark.sql(s"UPDATE $tbl SET id = 'abc' WHERE id = 3"))
        assert(e.getMessage.contains("storeAssignmentPolicy"), e.getMessage)
        intercept[Exception](
          spark.sql(s"UPDATE $tbl SET n = 3000000000 WHERE id = 3")
            .collect())
        assert(spark.table(tbl).orderBy("id").select("n").as[Int]
          .collect().toSeq == (0 until 10), s"mor=$mor")
        // a safe widening still applies
        assert(spark.sql(s"UPDATE $tbl SET id = 100 WHERE n = 3")
          .head.getLong(0) == 1L, s"mor=$mor")
        assert(spark.table(tbl).where("id = 100").count() == 1L)
      } finally {
        spark.conf.unset("spark.graft.dml.mor")
        spark.conf.unset("spark.sql.ansi.enabled")
        spark.sql(s"DROP TABLE $tbl")
      }
    }
  }

  test("MERGE values follow the store-assignment policy: UPDATE SET * " +
      "/ INSERT * from a DECIMAL source column store DOUBLE into a " +
      "DOUBLE column (sync, upsert and CDC forms), as does a BY SOURCE " +
      "UPDATE SET literal; an unsafe pair is refused in both places") {
    import org.apache.spark.sql.types.DoubleType
    def liveFileTypes(dest: String): Set[String] =
      ManifestSink.readBack(spark, dest).inputFiles.toSet.map { f: String =>
        spark.read.parquet(f).schema("v").dataType.simpleString }
    val forms = Seq(
      "sync" -> """WHEN MATCHED THEN UPDATE SET *
                   WHEN NOT MATCHED THEN INSERT *
                   WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1.0""",
      "upsert" -> """WHEN MATCHED THEN UPDATE SET *
                     WHEN NOT MATCHED THEN INSERT *""",
      "cdc" -> """WHEN MATCHED AND s.op = 'D' THEN DELETE
                  WHEN MATCHED THEN UPDATE SET *
                  WHEN NOT MATCHED THEN INSERT *""")
    for ((form, clauses) <- forms; srcType <- Seq("DOUBLE", "DECIMAL(10, 2)")) {
      val what = s"$form from $srcType"
      val (dest, tbl) = freshTable("dml_merge_assign_")
      (0L until 10L).map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1)
        .pipe(df => ManifestSink.statsAppend(df, dest, None, Seq("id")))
      spark.sql(s"CREATE TABLE $tbl USING graft LOCATION '$dest'")
      def source(vType: String): Unit =
        spark.sql(s"SELECT id, CAST(id + 0.5 AS $vType) AS v, 'U' AS op " +
          "FROM range(5, 15)").createOrReplaceTempView("dml_merge_assign_src")
      def merge(): Unit = spark.sql(s"MERGE INTO $tbl t USING " +
        s"dml_merge_assign_src s ON t.id = s.id $clauses").collect()
      try {
        source(srcType)
        merge()
        assert(liveFileTypes(dest) == Set("double"), what)
        val fresh = spark.read.format("graft").load(dest)
        assert(fresh.schema("v").dataType == DoubleType, what)
        val want = (0L until 15L).map(i => (i,
          if (i >= 5) i + 0.5 else if (form == "sync") -1.0
          else i.toDouble))
        assert(fresh.orderBy("id").as[(Long, Double)].collect().toSeq ==
          want, what)
        // STRING → DOUBLE is not a store assignment ANSI allows, from a
        // source column or as a BY SOURCE SET value
        source("STRING")
        intercept[AnalysisException](merge())
        source("DOUBLE")
        val e = intercept[AnalysisException](spark.sql(
          s"""MERGE INTO $tbl t USING dml_merge_assign_src s ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *
              WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'gone'"""))
        assert(e.getMessage.contains("storeAssignmentPolicy"), e.getMessage)
        assert(spark.table(tbl).orderBy("id").as[(Long, Double)]
          .collect().toSeq == want, what)
        // a user's own CAST is the value the policy judges
        spark.sql(
          s"""MERGE INTO $tbl t USING dml_merge_assign_src s ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *
              WHEN NOT MATCHED BY SOURCE THEN
                UPDATE SET v = CAST('2.5' AS DOUBLE)""").collect()
        assert(spark.table(tbl).where("id < 5").as[(Long, Double)]
          .collect().map(_._2).toSet == Set(2.5), what)
      } finally {
        spark.sql(s"DROP TABLE $tbl")
        spark.catalog.dropTempView("dml_merge_assign_src")
      }
    }
  }

  private implicit class Piper[A](a: A) {
    def pipe[B](f: A => B): B = f(a)
  }
}
