package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.ManifestSink
import graft.ingest.ManifestSink.SkipPredicate

/** COLUMN MAPPING (metadata-only RENAME COLUMN — Delta's column-mapping
  * "name mode" re-expressed for the manifest log): a rename is one
  * `schemaevo` commit; data files keep the column's stable PHYSICAL
  * name (its name at first write) forever, readers scan physical and
  * surface logical, writers map logical frames back to physical, and
  * skipping stats / bloom filters keep their as-written keys with
  * predicates translated at the prune boundary.
  */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private def footerFields(dir: String): Set[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def rec(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) {
          // data dirs only: the log and the dv/cdf/bloom sidecar trees
          // have their own schemas
          val n = st.getPath.getName
          if (n == "_log" || n == "_dv" || n == "_cdf" ||
              n == "_bloom" || n.startsWith(".")) Nil
          else rec(st.getPath)
        } else if (st.getPath.getName.endsWith(".parquet") &&
            !st.getPath.toString.contains("_graft_")) Seq(st.getPath)
        else Nil
      }
    rec(new org.apache.hadoop.fs.Path(dir)).flatMap { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName)
      } finally r.close()
    }.toSet
  }

  test("rename is metadata-only: files keep the physical name, " +
      "reads surface the logical one, appends translate back") {
    val dir = tmpDir("cmap_basic_")
    val df = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("id", "body")
    ManifestSink.statsAppend(df, dir, None, Seq("id", "body"),
      bloomCols = Seq("body"))
    val filesBefore = ManifestSink.snapshotHandle(spark, dir).targets

    val rewritten = ManifestSink.renameColumn(spark, dir, "body", "text")
    assert(rewritten === 0L)
    // zero data files touched: same target list, same bytes
    assert(ManifestSink.snapshotHandle(spark, dir).targets ===
      filesBefore)
    assert(footerFields(dir).contains("body") &&
      !footerFields(dir).contains("text"))

    val back = ManifestSink.readBack(spark, dir)
    assert(back.columns.toSeq === Seq("id", "text"))
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))

    // an append AFTER the rename writes the logical frame, lands
    // physical — all files stay physically consistent
    ManifestSink.statsAppend(Seq((4L, "delta")).toDF("id", "text"),
      dir, None, Seq("id", "text"), bloomCols = Seq("text"))
    assert(footerFields(dir) === Set("id", "body"))
    val all = ManifestSink.readBack(spark, dir)
    assert(all.count() === 4L)
    assert(all.where(col("text") === "delta").count() === 1L)
  }

  test("skipping prunes on the renamed column across both eras " +
      "(stats + bloom), and countWhere credit still works") {
    val dir = tmpDir("cmap_skip_")
    // two pre-rename files with disjoint ranges
    ManifestSink.statsAppend(
      Seq((1L, "a1"), (2L, "a2")).toDF("id", "k"),
      dir, None, Seq("id", "k"), bloomCols = Seq("k"))
    ManifestSink.statsAppend(
      Seq((100L, "b1"), (200L, "b2")).toDF("id", "k"),
      dir, None, Seq("id", "k"), bloomCols = Seq("k"))
    ManifestSink.renameColumn(spark, dir, "k", "key")
    // one post-rename file
    ManifestSink.statsAppend(
      Seq((1000L, "c1"), (2000L, "c2")).toDF("id", "key"),
      dir, None, Seq("id", "key"), bloomCols = Seq("key"))

    // range predicate over the LOGICAL numeric column: correct rows
    val lo = ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.NumRange("id", 0, 10))
    assert(lo.as[(Long, String)].collect().toSet ===
      Set((1L, "a1"), (2L, "a2")))
    // string equality over the RENAMED column probes pre- and
    // post-rename blooms
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("key", "b2")).count() === 1L)
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("key", "c1")).count() === 1L)
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("key", "zz")).count() === 0L)
    // metadata count credit across eras
    assert(ManifestSink.countWhere(spark, dir,
      SkipPredicate.NumRange("id", 0, 5000)) === 6L)
    assert(ManifestSink.countWhere(spark, dir,
      SkipPredicate.IsNotNull("key")) === 6L)
  }

  test("refusals: partition-layout column, existing name, physical " +
      "shadowing on rename/ADD/append") {
    val dir = tmpDir("cmap_refuse_")
    val df = Seq(("2026-01-02T03:04:05", 1L, "x"))
      .toDF("ts", "id", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    ManifestSink.statsAppend(df, dir, Some("ts"), Seq("id"))
    // layout column refuses
    intercept[IllegalArgumentException] {
      ManifestSink.renameColumn(spark, dir, "p_date", "day")
    }
    // existing target name refuses
    intercept[IllegalArgumentException] {
      ManifestSink.renameColumn(spark, dir, "v", "id")
    }
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    // renaming ANOTHER column onto v's physical name refuses
    val e1 = intercept[IllegalArgumentException] {
      ManifestSink.renameColumn(spark, dir, "id", "v")
    }
    assert(e1.getMessage.contains("physical"))
    // ADD COLUMN named like the physical name refuses
    val e2 = intercept[IllegalArgumentException] {
      ManifestSink.alterSchema(spark, dir, cur =>
        cur.add(StructField("v", StringType)))
    }
    assert(e2.getMessage.contains("physical") ||
      e2.getMessage.contains("shadows"))
    // a frame carrying the physical name refuses at write
    val e3 = intercept[Exception] {
      ManifestSink.statsAppend(
        Seq(("2026-01-02T03:04:05", 2L, "y"))
          .toDF("ts", "id", "v")
          .withColumn("ts", col("ts").cast("timestamp")),
        dir, Some("ts"), Seq("id"))
    }
    assert(e3.getMessage.contains("physical"))
  }

  test("chained rename keeps the original physical name; renaming " +
      "back drops the mapping") {
    val dir = tmpDir("cmap_chain_")
    ManifestSink.statsAppend(Seq((1L, "x")).toDF("id", "a"), dir,
      None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "a", "b")
    ManifestSink.renameColumn(spark, dir, "b", "c")
    assert(footerFields(dir) === Set("id", "a"))
    assert(ManifestSink.readBack(spark, dir).columns.toSeq ===
      Seq("id", "c"))
    // rename back to the physical name: identity mapping removed
    ManifestSink.renameColumn(spark, dir, "c", "a")
    val schema = ManifestSink.snapshotHandle(spark, dir).schemaOpt.get
    assert(!schema.fields.exists(_.metadata.contains("graft.physical")))
    assert(ManifestSink.readBack(spark, dir)
      .as[(Long, String)].collect().toSeq === Seq((1L, "x")))
  }

  test("DML after a rename: COW delete, MOR update, MERGE on the " +
      "renamed key — values correct, files stay physical") {
    val dir = tmpDir("cmap_dml_")
    ManifestSink.statsAppend(
      (1L to 10L).map(i => (i, s"doc$i", i * 10)).toDF("id", "name", "n"),
      dir, None, Seq("id", "n"))
    ManifestSink.renameColumn(spark, dir, "n", "score")
    // COW delete on the renamed column
    val del = ManifestSink.deleteWhere(spark, dir,
      col("score").between(0, 25))
    assert(del === 2L) // rows 1, 2
    assert(ManifestSink.readBack(spark, dir).count() === 8L)
    // MOR update of the renamed column
    ManifestSink.updateWhereMor(spark, dir,
      col("score").between(95, 105),
      Map("score" -> lit(999L)))
    val updated = ManifestSink.readBack(spark, dir)
      .where(col("id") === 10L).select("score").as[Long].head()
    assert(updated === 999L)
    // MERGE keyed on a renamed column: rename id too
    ManifestSink.renameColumn(spark, dir, "id", "doc_id")
    val (u, i2) = ManifestSink.mergeInto(spark, dir,
      Seq((3L, "doc3-v2", 33L), (42L, "doc42", 420L))
        .toDF("doc_id", "name", "score"),
      "doc_id")
    assert((u, i2) === (1L, 1L))
    val m = ManifestSink.readBack(spark, dir)
    assert(m.count() === 9L)
    assert(m.where(col("doc_id") === 3L).select("score")
      .as[Long].head() === 33L)
    assert(footerFields(dir) === Set("id", "name", "n"))
  }

  test("change feed spans a rename: all versions surface the CURRENT " +
      "logical names") {
    val dir = tmpDir("cmap_cdf_")
    ManifestSink.statsAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir, None, Seq("id"))
    ManifestSink.enableChangeFeed(spark, dir)
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    ManifestSink.statsAppend(Seq((3L, "c")).toDF("id", "val2"),
      dir, None, Seq("id"))
    ManifestSink.deleteWhere(spark, dir,
      col("id").between(2, 2))
    val feed = ManifestSink.readChangesBetween(spark, dir, 0L)
    assert(feed.columns.contains("val2") && !feed.columns.contains("v"))
    val rows = feed.select("id", "val2", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set((3L, "c", "insert"), (2L, "b", "delete")))
  }

  test("time travel reads the name AS OF the version; RESTORE " +
      "restores the pre-rename schema") {
    val dir = tmpDir("cmap_tt_")
    ManifestSink.statsAppend(Seq((1L, "x")).toDF("id", "orig"), dir,
      None, Seq("id"))
    val v0 = ManifestSink.snapshotHandle(spark, dir).version
    ManifestSink.renameColumn(spark, dir, "orig", "renamed")
    ManifestSink.statsAppend(Seq((2L, "y")).toDF("id", "renamed"), dir,
      None, Seq("id"))
    assert(ManifestSink.readVersion(spark, dir, v0).columns.toSeq ===
      Seq("id", "orig"))
    assert(ManifestSink.readBack(spark, dir).columns.toSeq ===
      Seq("id", "renamed"))
    ManifestSink.restore(spark, dir, v0)
    val back = ManifestSink.readBack(spark, dir)
    assert(back.columns.toSeq === Seq("id", "orig"))
    assert(back.as[(Long, String)].collect().toSeq === Seq((1L, "x")))
  }

  test("SQL face: ALTER TABLE RENAME COLUMN is metadata-only; SELECT, " +
      "WHERE pruning, INSERT, and DESCRIBE speak the logical name") {
    val dir = tmpDir("cmap_sql_")
    spark.sql("DROP TABLE IF EXISTS cmap_t")
    ManifestSink.statsAppend(
      (1L to 6L).map(i => (i, s"w$i")).toDF("id", "w"),
      dir, None, Seq("id", "w"))
    spark.sql(s"CREATE TABLE cmap_t USING graft LOCATION '$dir'")
    val n = spark.sql(
      "ALTER TABLE cmap_t RENAME COLUMN w TO word")
      .collect().head.getLong(0)
    assert(n === 0L)
    assert(footerFields(dir).contains("w"))
    checkAnswer(spark.sql(
      "SELECT word FROM cmap_t WHERE id = 3"), Seq("w3"))
    // filter on the RENAMED column — the scan translates the pushed
    // filter and the FileIndex prunes through the mapping
    checkAnswer(spark.sql(
      "SELECT id FROM cmap_t WHERE word = 'w5'"), Seq(5L))
    spark.sql("INSERT INTO cmap_t VALUES (7, 'w7')")
    checkAnswer(spark.sql(
      "SELECT word FROM cmap_t WHERE id = 7"), Seq("w7"))
    assert(footerFields(dir) === Set("id", "w"))
    // vectorized path intact: no dv files, whole scan columnar
    val plan = spark.sql("SELECT word FROM cmap_t WHERE id > 0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow") ||
      plan.contains("WholeStageCodegen"))
    // DESCRIBE DETAIL speaks logical names for the skipping columns
    val det = spark.sql("DESCRIBE DETAIL cmap_t").head()
    assert(det.getSeq[String](det.fieldIndex("stats_columns")) ===
      Seq("id", "word"))
    spark.sql("DROP TABLE cmap_t")
  }

  test("optimize repacks a mapped table: values and physical names " +
      "survive, stats stay prunable") {
    val dir = tmpDir("cmap_opt_")
    (1 to 4).foreach { k =>
      ManifestSink.statsAppend(
        Seq((k.toLong, s"v$k")).toDF("id", "c"),
        dir, None, Seq("id", "c"))
    }
    ManifestSink.renameColumn(spark, dir, "c", "content")
    val packed = ManifestSink.optimize(spark, dir, minFiles = 2)
    assert(packed > 0L)
    assert(footerFields(dir) === Set("id", "c"))
    val back = ManifestSink.readBack(spark, dir)
    assert(back.columns.toSeq === Seq("id", "content"))
    assert(back.count() === 4L)
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("content", "v2")).count() === 1L)
  }

  test("streaming tail across a rename surfaces the logical name") {
    val dir = tmpDir("cmap_stream_")
    ManifestSink.statsAppend(Seq((1L, "a")).toDF("id", "t"), dir,
      None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "t", "txt")
    ManifestSink.statsAppend(Seq((2L, "b")).toDF("id", "txt"), dir,
      None, Seq("id"))
    val out = tmpDir("cmap_stream_out_")
    val ck = tmpDir("cmap_stream_ck_")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.columns.contains("txt"))
    assert(got.select("id", "txt").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
  }

  private def checkAnswer(df: org.apache.spark.sql.DataFrame,
      expect: Seq[Any]): Unit = {
    val got = df.collect().map(_.get(0)).toSeq
    assert(got === expect, s"got $got, expected $expect")
  }

  test("whole-table overwrite RESETS the mapping: new files carry the " +
      "logical name physically and the log forgets the old one") {
    val dir = tmpDir("cmap_ow_")
    ManifestSink.statsAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir, None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    // an overwrite replaces ALL content — the frame's own (logical)
    // names become the new physical reality (the superseded pre-rename
    // file stays on disk until vacuum, so check COMMITTED footers)
    ManifestSink.overwrite(
      Seq((10L, "x"), (20L, "y")).toDF("id", "val2"),
      dir, None, Seq("id"))
    val committed = ManifestSink.snapshotHandle(spark, dir).targets
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val committedFields = committed.flatMap { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir + "/" + rel), fs.getConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName)
      } finally r.close()
    }.toSet
    assert(committedFields === Set("id", "val2"))
    val schema = ManifestSink.snapshotHandle(spark, dir).schemaOpt.get
    assert(!schema.fields.exists(_.metadata.contains("graft.physical")))
    assert(ManifestSink.readBack(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((10L, "x"), (20L, "y")))
    // and a post-overwrite append under the (now-physical) name works
    ManifestSink.statsAppend(Seq((30L, "z")).toDF("id", "val2"), dir,
      None, Seq("id"))
    assert(ManifestSink.readBack(spark, dir).count() === 3L)
  }

  test("compact and checkpoint carry the mapping: resolution from the " +
      "collapsed log still translates") {
    val dir = tmpDir("cmap_compact_")
    ManifestSink.statsAppend(Seq((1L, "a")).toDF("id", "t"), dir,
      None, Seq("id", "t"))
    ManifestSink.renameColumn(spark, dir, "t", "txt")
    ManifestSink.statsAppend(Seq((2L, "b")).toDF("id", "txt"), dir,
      None, Seq("id", "txt"))
    ManifestSink.compact(spark, dir)
    val back = ManifestSink.readBack(spark, dir)
    assert(back.columns.toSeq === Seq("id", "txt"))
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // post-compact skipping still prunes through the carried mapping
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("txt", "a")).count() === 1L)
    // checkpoint path: force one and resolve through it
    ManifestSink.statsAppend(Seq((3L, "c")).toDF("id", "txt"), dir,
      None, Seq("id", "txt"))
    ManifestSink.checkpoint(spark, dir)
    ManifestSink.statsAppend(Seq((4L, "d")).toDF("id", "txt"), dir,
      None, Seq("id", "txt"))
    assert(ManifestSink.readBack(spark, dir).count() === 4L)
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("txt", "d")).count() === 1L)
  }

  test("MERGE keyed on a renamed bloom-backed column: the key-envelope " +
      "and bloom candidate pruning consult the physical stats") {
    val dir = tmpDir("cmap_mergekey_")
    ManifestSink.statsAppend(
      (1L to 50L).map(i => (s"k$i", i)).toDF("key", "n"),
      dir, None, Seq("key"), bloomCols = Seq("key"))
    ManifestSink.statsAppend(
      (51L to 100L).map(i => (s"k$i", i)).toDF("key", "n"),
      dir, None, Seq("key"), bloomCols = Seq("key"))
    ManifestSink.renameColumn(spark, dir, "key", "doc_key")
    val (u, ins) = ManifestSink.mergeInto(spark, dir,
      Seq(("k7", 700L), ("k77", 7700L), ("k999", 999L))
        .toDF("doc_key", "n"),
      "doc_key")
    assert((u, ins) === (2L, 1L))
    val m = ManifestSink.readBack(spark, dir)
    assert(m.count() === 101L)
    assert(m.where(col("doc_key") === "k7").select("n")
      .as[Long].head() === 700L)
    assert(m.where(col("doc_key") === "k999").count() === 1L)
  }

  test("the mapping metadata never leaks: readBack of a mapped table " +
      "copied into a NEW table reads intact (no bogus mapping in the " +
      "copy's schema line)") {
    val a = tmpDir("cmap_leak_a_")
    val b = tmpDir("cmap_leak_b_")
    ManifestSink.statsAppend(Seq((1L, "x"), (2L, "y")).toDF("id", "v"),
      a, None, Seq("id"))
    ManifestSink.renameColumn(spark, a, "v", "val2")
    val copy = ManifestSink.readBack(spark, a)
    // the surfaced frame carries NO mapping metadata
    assert(!copy.schema.fields.exists(
      _.metadata.contains("graft.physical")))
    ManifestSink.statsAppend(copy, b, None, Seq("id"))
    // the copy's own schema resolution has no mapping, and the column
    // reads back with its values (a leaked mapping would request the
    // nonexistent physical name 'v' and read NULL)
    val sb = ManifestSink.snapshotHandle(spark, b).schemaOpt.get
    assert(!sb.fields.exists(_.metadata.contains("graft.physical")))
    assert(ManifestSink.readBack(spark, b)
      .orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "x"), (2L, "y")))
    // the SQL relation is equally clean (CTAS-style copies)
    spark.sql("DROP TABLE IF EXISTS cmap_leak_t")
    spark.sql(s"CREATE TABLE cmap_leak_t USING graft LOCATION '$a'")
    assert(!spark.table("cmap_leak_t").schema.fields.exists(
      _.metadata.contains("graft.physical")))
    spark.sql("DROP TABLE cmap_leak_t")
  }

  test("renameColumnRewrite on a MAPPED table: the rewrite lands the " +
      "logical names physically and the values survive") {
    val dir = tmpDir("cmap_rwren_")
    ManifestSink.statsAppend(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      dir, None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    // physical rewrite of a DIFFERENT column on the mapped table
    val n = ManifestSink.renameColumnRewrite(spark, dir, "val2", "txt")
    assert(n > 0L)
    val back = ManifestSink.readBack(spark, dir)
    assert(back.columns.toSeq === Seq("id", "txt"))
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // committed files now physically carry the new name and the
    // mapping is gone
    val committed = ManifestSink.snapshotHandle(spark, dir)
    assert(!committed.schemaOpt.get.fields.exists(
      _.metadata.contains("graft.physical")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val fields = committed.targets.flatMap { rel =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir + "/" + rel), fs.getConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName)
      } finally r.close()
    }.toSet
    assert(fields === Set("id", "txt"))
  }

  test("dv-less scans of a mapped table keep the PLAIN scan shape: no " +
      "dv filter, no _metadata materialization") {
    val dir = tmpDir("cmap_planshape_")
    ManifestSink.statsAppend(Seq((1L, "a")).toDF("id", "v"), dir,
      None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    spark.sql("DROP TABLE IF EXISTS cmap_ps_t")
    spark.sql(s"CREATE TABLE cmap_ps_t USING graft LOCATION '$dir'")
    val plan = spark.sql("SELECT val2 FROM cmap_ps_t WHERE id = 1")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("graft_dv_hit"),
      s"dv filter on a dv-less mapped scan:\n$plan")
    assert(spark.sql("SELECT val2 FROM cmap_ps_t WHERE id = 1")
      .head().getString(0) === "a")
    spark.sql("DROP TABLE cmap_ps_t")
  }

  test("schema evolution around a rename: a narrower (prefix) batch " +
      "null-fills, a superset batch adds a fresh column, and both " +
      "translate") {
    val dir = tmpDir("cmap_evo_")
    ManifestSink.statsAppend(
      Seq((1L, "a", 1.0)).toDF("id", "v", "w"), dir, None, Seq("id"))
    ManifestSink.renameColumn(spark, dir, "v", "val2")
    // prefix batch: misses the renamed column entirely
    ManifestSink.statsAppend(Seq(Tuple1(2L)).toDF("id"), dir, None,
      Seq("id"))
    // superset batch: carries a NEW trailing column
    ManifestSink.statsAppend(
      Seq((3L, "c", 3.0, true)).toDF("id", "val2", "w", "flag"),
      dir, None, Seq("id"))
    val back = ManifestSink.readBack(spark, dir).orderBy("id")
    assert(back.columns.toSeq === Seq("id", "val2", "w", "flag"))
    assert(back.select("id", "val2")
      .as[(Long, Option[String])].collect().toSeq ===
      Seq((1L, Some("a")), (2L, None), (3L, Some("c"))))
    assert(back.where(col("flag")).count() === 1L)
  }

  test("purge after a rename writes PHYSICAL names: rewritten " +
      "victims read back intact") {
    val dir = tmpDir("cmap_purge_")
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "body")
    ManifestSink.statsAppend(df.coalesce(1), dir, None,
      Seq("id", "body"))
    // tombstone 15 of 20 rows — live fraction 0.25 < 0.9 → victim
    assert(ManifestSink.deleteWhereMor(spark, dir,
      col("id").between(1, 15)) === 15L)
    ManifestSink.renameColumn(spark, dir, "body", "text")
    assert(ManifestSink.purge(spark, dir, minLiveFraction = 0.9) === 1L)
    // the rewritten file must carry the PHYSICAL name — a purge that
    // writes the logical name leaves a file the physical-schema scan
    // reads as all-null
    assert(footerFields(dir) === Set("id", "body"))
    val back = ManifestSink.readBack(spark, dir).orderBy("id")
    assert(back.columns.toSeq === Seq("id", "text"))
    assert(back.as[(Long, String)].collect().toSeq ===
      (16L to 20L).map(i => (i, s"v$i")))
    // skipping on the renamed column still prunes through the
    // re-derived stats of the purged file
    assert(ManifestSink.readBackWherePred(spark, dir,
      SkipPredicate.StrEq("text", "v18")).count() === 1L)
  }
}
