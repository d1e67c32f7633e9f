package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ledger.Ledger
import graft.model.Task
import graft.schema.SchemaEvolution

/** The ingest pipeline: the reference's whole lifecycle
  * (index.js:15–99 `loadCreatedFiles`) re-expressed as Spark batch ETL.
  *
  * Per task: list+glob candidate files (P2) → anti-join the ledger (J1) →
  * sniff headers (S2) → evolve the destination schema (right-append floats,
  * SO2) → one permissive multi-file CSV read (S3; the multi-URI load job) →
  * append to the DAY-partitioned destination (S4) → append the ledger (S5).
  *
  * Stages up to the read are driver-side planning over file *metadata*; the
  * read/write is the only distributed work. One `csv(paths:_*)` read
  * amortizes scheduling over the whole batch exactly like the reference
  * packs many sourceUris into one load job (BucketToBigQuery.js:340) — and
  * Spark has no 10k-files-per-job limit.
  */
object Ingest {

  /** Recursively list files under `root` and keep those matching any task
    * glob. Listing is a metadata operation (no data read); at cluster scale
    * the listing itself is parallelized by Spark's InMemoryFileIndex when
    * the paths go straight into `spark.read`, but we need the explicit list
    * for the ledger anti-join, mirroring the reference's event-URI stream.
    */
  def listCandidates(
      spark: SparkSession, root: String, globs: Seq[String]): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return Nil
    val it = fs.listFiles(rootPath, /*recursive=*/ true)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      if (Glob.matchesAny(globs, p) ||
          Glob.matchesAny(globs, st.getPath.toString)) out += st.getPath.toString
    }
    out.toSeq.sorted
  }

  /** CSV read with the reference load-job contract
    * (BucketToBigQuery.js:329–349):
    *  - `skipLeadingRows:1`      → header=true
    *  - `allowJaggedRows:true`   → PERMISSIVE mode null-pads short rows
    *  - `allowQuotedNewlines`    → multiLine=true
    *  - `ignoreUnknownValues`    → extra trailing cells tolerated
    *  - `maxBadRecords:0`        → structurally corrupt rows are surfaced
    *    via a corrupt-record column the caller may assert empty.
    */
  def readCsv(
      spark: SparkSession, schema: StructType, uris: Seq[String],
      strict: Boolean = true): DataFrame = {
    val corrupt = "_graft_corrupt"
    val readSchema = StructType(schema.fields :+
      StructField(corrupt, org.apache.spark.sql.types.StringType))
    val df = spark.read
      .schema(readSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("enforceSchema", "true")
      .option("columnNameOfCorruptRecord", corrupt)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(uris: _*)
    if (!strict) df.drop(corrupt)
    else {
      // maxBadRecords:0 contract (reference BucketToBigQuery.js:339) with
      // the allowJaggedRows + ignoreUnknownValues carve-outs: Spark marks
      // short rows, long rows AND garbage rows all as corrupt. A corrupt
      // row is BAD (fails the load) iff
      //  - its first declared field is unparseable — even a short row
      //    must lead with valid data; or
      //  - it is structurally FULL (cell count >= declared fields) AND
      //    some declared field is still null — a type error inside a
      //    complete row is real corruption. A full corrupt row with every
      //    field parsed is the extra-trailing-cells case
      //    (ignoreUnknownValues) and passes.
      // Short rows with parseable leading cells pass (allowJaggedRows).
      // The cell count is a delimiter split of the raw record with quoted
      // sections blanked first, so a quoted comma inside a short jagged
      // row does not inflate the count past the schema width.
      // The raise_error is woven into the FIRST OUTPUT column (a dropped
      // guard column would be pruned away and never evaluate); it fails
      // the load on the first bad row during the single write pass.
      val f0 = schema.fields.head
      val cells = size(split(
        regexp_replace(col(corrupt), "\"[^\"]*\"", "Q"), ","))
      val structurallyFull = cells >= schema.fields.length
      val someFieldNull = schema.fields
        .map(f => col(f.name).isNull)
        .reduce(_ || _)
      val checked = when(
        col(corrupt).isNotNull &&
          (col(f0.name).isNull || (structurallyFull && someFieldNull)),
        raise_error(concat(lit("[graft] maxBadRecords=0: corrupt row: "),
          col(corrupt))).cast(f0.dataType))
        .otherwise(col(f0.name)).as(f0.name)
      df.select(
        checked +: schema.fields.tail.toIndexedSeq.map(f => col(f.name)): _*)
    }
  }

  /** Align a frame to the (possibly wider) destination schema: pad missing
    * trailing columns with typed nulls; never reorder (readme.md:25).
    */
  def alignTo(df: DataFrame, dest: StructType): DataFrame = {
    val have = df.columns.toSet
    val cols = dest.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  private def destExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Current destination schema if the table exists (minus the partition
    * directory column we add on write). A [[ManifestSink]] destination
    * answers from its log — the committed schema under logical names,
    * no listing and no footer job; a plain directory infers it from a
    * footer, which sees every file present, committed or not.
    */
  def destSchema(spark: SparkSession, destPath: String): Option[StructType] =
    if (!destExists(spark, destPath)) None
    else if (ManifestSink.isTable(spark, destPath))
      ManifestSink.planSchema(spark, destPath)
    else Some(StructType(spark.read.parquet(destPath)
      .schema.fields.filterNot(_.name == PartitionCol)))

  /** Name of the derived DAY-partition directory column (the reference uses
    * BigQuery DAY time-partitioning on the field itself,
    * BucketToBigQuery.js:350–354; on parquet we materialize the date).
    */
  val PartitionCol = "p_date"

  /** Second (optional) partition level: the hour-of-day directory
    * column of a `date/hour` layout — the routine shape for high-rate
    * event streams. An INTEGER column (directories render `p_hour=0`
    * .. `p_hour=23`): Spark's partition-value inference types
    * int-looking directory values as integers on every read path, so
    * the int representation is the one that round-trips identically
    * everywhere; ordering is TYPED (numeric), not lexicographic.
    */
  val PartitionHourCol = "p_hour"

  /** Shard directory column written by [[DestinationSink.shardedWrite]]. */
  val ShardCol = "shard"

  /** Deterministic token-budget shard assignment (the two-phase
    * cumulative-offset pattern of q56, generalized): adds [[ShardCol]]
    * such that rows ordered by `orderCol` pack greedily into
    * `tokenBudget`-sized bins. Exactly equal to a sequential single-pass
    * packing, computed with one tiny O(nChunks) driver collect plus one
    * chunk-partitioned window — no global single-task cumsum.
    */
  /** Pseudo-random but fully deterministic packing key for
    * `shuffled = true` shard assignment: a 60-bit md5-derived hash of the
    * order column. Uniform over the key space, so the same range-chunk +
    * per-chunk-window machinery applies unchanged — and a pure function
    * of the doc id, so reruns produce identical shards.
    */
  private[graft] def shuffleKey(orderCol: org.apache.spark.sql.Column) =
    graft.operators.Dedup.hash60(
      concat(lit("shard:"), orderCol.cast("string")))

  def assignShards(df: DataFrame, tokenCol: String, orderCol: String,
      tokenBudget: Long, nChunks: Int = 32,
      shuffled: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokenBudget > 0, "tokenBudget must be positive")
    // i.i.d. shard mode: pack in md5-hash order of the id instead of
    // corpus order, so every shard is an unbiased sample of the corpus
    // (training shards must be i.i.d., not source/time-clustered). The
    // hash is the range/packing key; orderCol stays the tie-break, so
    // assignment remains exactly the sequential greedy packing of the
    // shuffled sequence.
    val work =
      if (shuffled) df.withColumn("__shufkey", shuffleKey(col(orderCol)))
      else df
    val rangeName = if (shuffled) "__shufkey" else orderCol
    val orderCols =
      if (shuffled) Seq(col("__shufkey"), col(orderCol))
      else Seq(col(orderCol))
    val bounds = work.agg(min(col(rangeName)).cast("long"),
      max(col(rangeName)).cast("long")).head()
    if (bounds.isNullAt(0)) return df.withColumn(ShardCol, lit(0L))
    val (minId, maxId) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (maxId - minId) / nChunks + 1)
    def chunkOf(c: org.apache.spark.sql.Column) =
      ((c.cast("long") - minId) / span).cast("long")
    val totals = work.groupBy(chunkOf(col(rangeName)).as("chunk"))
      .agg(sum(col(tokenCol).cast("long")).as("tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val offsets: Map[Long, Long] = totals.keys.map { c =>
      c -> (0L until c).map(j => totals.getOrElse(j, 0L)).sum
    }.toMap
    val w = Window.partitionBy(col("__chunk")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    work.withColumn("__chunk", chunkOf(col(rangeName)))
      .withColumn("__cum", sum(col(tokenCol).cast("long")).over(w)
        + element_at(typedLit(offsets), col("__chunk")))
      .withColumn(ShardCol,
        floor((greatest(col("__cum"), lit(1L)) - 1)
          / lit(tokenBudget.toDouble)).cast("long"))
      .drop("__chunk", "__cum", "__shufkey")
  }

  /** Destination abstraction — the reference's destination is a managed
    * warehouse table (BucketToBigQuery.js:341–354); ours defaults to a
    * DAY-partitioned parquet layout, but a BigQuery-connector, Delta or
    * Iceberg sink drops in here without touching the pipeline: `loadTask`
    * only ever calls [[append]] after planning and [[rowCount]] for the
    * row-count metric.
    */
  trait DestinationSink {
    /** Append `df` to `destPath`, partitioned by `partitionField`'s DAY
      * when present. MUST be atomic-or-append-only per call: the ledger is
      * written only after this returns (ST5 fix).
      */
    def append(df: DataFrame, destPath: String,
        partitionField: Option[String]): Unit
    /** Read the destination back (schema-reconciling across old narrow and
      * new wide files).
      */
    def readBack(spark: SparkSession, destPath: String): DataFrame

    /** Rows in the destination. The default scans [[readBack]]; a sink
      * whose metadata records row counts answers without one.
      */
    def rowCount(spark: SparkSession, destPath: String): Long =
      readBack(spark, destPath).count()

    /** CRASH-IDEMPOTENT append: replaying the same `writeId` after a crash
      * anywhere between this call and [[finishCommit]] must leave the
      * destination with exactly one copy of the rows. Default delegates to
      * the plain append — correct for sinks whose backend is natively
      * idempotent by job id (a BigQuery load job with a fixed jobId, a
      * Delta/Iceberg commit with a txn app id); [[ParquetSink]] overrides
      * with a stage-manifest-publish protocol.
      */
    def stagedAppend(df: DataFrame, destPath: String,
        partitionField: Option[String], writeId: String,
        sourceUris: Seq[String]): Unit =
      append(df, destPath, partitionField)

    /** Roll crashed attempts forward or back before planning a new write.
      * `committed(uris)` answers whether an attempt's source files are all
      * in the ledger (= the attempt committed and only its cleanup was
      * lost).
      *
      * SINGLE-WRITER CONTRACT: recovery cannot distinguish a crashed
      * attempt from a live concurrent one by inspection alone — the
      * reference has the same constraint (one scheduler invocation per
      * bucket, readme.md run cadence). Callers must ensure at most one
      * loader per destination; `minAttemptAgeMs` is the defense-in-depth
      * backstop for imperfect schedulers: attempts whose newest activity
      * is younger than this are SKIPPED (left for the next run) rather
      * than swept, so an overlapping in-flight publish is never deleted
      * mid-write. 0 (the default) sweeps everything — correct under the
      * strict single-writer cadence where any leftover is by definition
      * crashed.
      *
      * CLOCK ASSUMPTION: "age" compares this driver's
      * `System.currentTimeMillis` against FILE mtimes stamped by the
      * store (object stores stamp server-side; directory mtimes are
      * synthetic and not advanced by renames). `minAttemptAgeMs` must
      * therefore exceed the worst-case driver↔store clock skew PLUS the
      * writer's longest heartbeat gap — [[ParquetSink.stagedAppend]]
      * rewrites a `.heartbeat` file every 64 publish renames precisely so
      * that gap is bounded by a few renames, not the whole publish.
      */
    def recover(spark: SparkSession, destPath: String,
        committed: Seq[String] => Boolean,
        minAttemptAgeMs: Long = 0L): Unit = ()

    /** Drop the attempt's commit record once the ledger append succeeded. */
    def finishCommit(spark: SparkSession, destPath: String,
        writeId: String): Unit = ()

    /** TRAINING-SHARD WRITE — the terminal operator of a curation run:
      * pack `df` into token-budget-bounded shards, deterministically, and
      * write one output file per shard (`destPath/shard=NNNNN/`).
      *
      * Shard assignment is the q56 two-phase cumulative pattern: the
      * `orderCol` domain is cut into range chunks, per-chunk token totals
      * (a tiny O(chunks) collect) give each chunk a starting offset, and
      * a per-chunk window cumsum plus that offset yields every row's
      * global cumulative token count — no single-task global cumsum, so
      * the assignment scales to any corpus while staying EXACTLY the
      * sequential greedy packing. `shard = floor((cum-1)/budget)`; when
      * no document exceeds the budget, every shard's total is < 2x budget
      * (a row is packed wholly into the shard its cumulative end falls
      * in), and oversized documents get their own shard(s) rather than
      * failing.
      *
      * DETERMINISM CONTRACT: `orderCol` must be a unique key (doc id);
      * assignment is then a pure function of (orderCol, tokenCol), stable
      * across reruns and cluster sizes — IngestSpec asserts equality of
      * two independent writes. The final exchange hashes on the shard id
      * so each shard is written by one task as one file.
      */
    def shardedWrite(df: DataFrame, destPath: String, tokenCol: String,
        orderCol: String, tokenBudget: Long, nChunks: Int = 32,
        shuffled: Boolean = false): Unit = {
      val sharded = Ingest.assignShards(df, tokenCol, orderCol,
        tokenBudget, nChunks, shuffled)
      // shuffled mode also shuffles WITHIN the shard file (training reads
      // shards sequentially, so in-file order matters as much as shard
      // membership); the key is recomputed — deterministic either way
      val fileOrder =
        if (shuffled)
          Seq(col(Ingest.ShardCol), Ingest.shuffleKey(col(orderCol)),
            col(orderCol))
        else Seq(col(Ingest.ShardCol), col(orderCol))
      sharded
        .repartition(col(Ingest.ShardCol))
        .sortWithinPartitions(fileOrder: _*)
        .write.mode("overwrite").partitionBy(Ingest.ShardCol)
        .parquet(destPath)
      val spark = df.sparkSession
      val stats = spark.read.parquet(destPath)
        .groupBy(col(Ingest.ShardCol))
        .agg(count(lit(1)).as("n"), sum(col(tokenCol)).as("tok"))
        .agg(count(lit(1)), avg(col("tok")), max(col("tok")), sum(col("n")))
        .head()
      println(s"METRIC graft.shards=${stats.getLong(0)} " +
        s"graft.shard_fill_avg=${stats.getDouble(1)} " +
        s"graft.shard_fill_max=${stats.getLong(2)} " +
        s"graft.shard_docs=${stats.getLong(3)} budget=$tokenBudget")
    }
  }

  /** Default sink: DAY-partitioned parquet directories.
    *
    * Parquet has no multi-file transaction, so the crash-idempotent path
    * ([[stagedAppend]]) implements one: write the batch OVERWRITE-mode into
    * a hidden per-writeId staging dir, record a write-ahead manifest
    * (source URIs + target file names) there, then publish by renaming
    * each staged file to a `<writeId>-` prefixed name inside the
    * destination layout. The staging dir doubles as the commit-pending
    * marker until [[finishCommit]] removes it after the ledger append.
    * [[recover]] resolves leftovers: attempt ledgered → roll forward
    * (delete the marker), not ledgered → roll back (delete the published
    * `<writeId>-` files listed in the manifest). Every window is covered:
    *  - crash mid-stage: overwrite-mode restage discards the partial dir;
    *  - crash mid-publish: rollback deletes whatever subset was renamed;
    *  - crash between publish and ledger: rollback, replay re-publishes;
    *  - crash between ledger and cleanup: roll forward, no re-load (the
    *    planner's anti-join already excludes the files).
    * Published-but-unledgered rows are reader-visible until the next run
    * recovers — the documented gap vs a real table format. [[ManifestSink]]
    * CLOSES it through this same trait with an atomic manifest log
    * (readers see only committed file sets); choose it when readers may
    * race the loader, ParquetSink when plain directory-listing
    * compatibility matters.
    * The reference has the MIRROR flaw with loss instead of duplication:
    * it ledgers files before the load job completes
    * (BucketToBigQuery.js:361–374), so a crash in between drops them
    * forever.
    */
  object ParquetSink extends DestinationSink {
    override def append(df: DataFrame, destPath: String,
        partitionField: Option[String]): Unit = {
      val writer = partitionField match {
        case Some(f) =>
          df.withColumn(PartitionCol, to_date(col(f)))
            .write.mode("append").partitionBy(PartitionCol)
        case None => df.write.mode("append")
      }
      writer.parquet(destPath)
    }
    override def readBack(spark: SparkSession, destPath: String): DataFrame =
      spark.read.option("mergeSchema", "true").parquet(destPath)

    private val ManifestFile = "_graft_manifest"

    /** `<parent>/.staging_<table>/<writeId>` — dot-prefixed sibling of the
      * destination, so no parquet read of the warehouse ever lists it.
      */
    private def stagingDir(destPath: String, writeId: String): Path = {
      val dest = new Path(destPath)
      new Path(new Path(dest.getParent, s".staging_${dest.getName}"), writeId)
    }

    private def fsOf(spark: SparkSession, p: Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** One recursive listing, statuses kept: `fs.listFiles` already yields
      * `LocatedFileStatus` with modification times, so callers that need
      * mtimes (recover's in-flight guard) read them here instead of paying
      * an O(files) extra getFileStatus RPC round-trip per attempt.
      */
    private def listFilesRec(fs: org.apache.hadoop.fs.FileSystem,
        dir: Path): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
      val it = fs.listFiles(dir, /*recursive=*/ true)
      val buf =
        scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.LocatedFileStatus]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }

    override def stagedAppend(df: DataFrame, destPath: String,
        partitionField: Option[String], writeId: String,
        sourceUris: Seq[String]): Unit = {
      val spark = df.sparkSession
      val staging = stagingDir(destPath, writeId)
      val fs = fsOf(spark, staging)
      // 1. stage, OVERWRITE mode: a partial dir from a crashed earlier
      //    attempt of this writeId is discarded wholesale
      val writer = partitionField match {
        case Some(f) =>
          df.withColumn(PartitionCol, to_date(col(f)))
            .write.mode("overwrite").partitionBy(PartitionCol)
        case None => df.write.mode("overwrite")
      }
      writer.parquet(staging.toString)
      // 2. write-ahead manifest: source URIs + dest-relative target names,
      //    recorded BEFORE any rename so rollback knows every possible
      //    published path
      val stagingQ = fs.makeQualified(staging).toString
      val staged = listFilesRec(fs, staging).map(_.getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .map(p => fs.makeQualified(p).toString.stripPrefix(stagingQ + "/"))
        .sorted
      val targets = staged.zipWithIndex.map { case (rel, i) =>
        val dir = rel.lastIndexOf('/') match {
          case -1 => ""
          case k  => rel.substring(0, k + 1)
        }
        (rel, s"$dir$writeId-$i.parquet")
      }
      val manifest = (sourceUris.map("uri\t" + _) ++
        targets.map { case (_, t) => "target\t" + t }).mkString("\n")
      val out = fs.create(new Path(staging, ManifestFile), true)
      try out.write(manifest.getBytes("UTF-8")) finally out.close()
      // 3. publish: rename into the destination layout under writeId-
      //    deterministic names (defensive pre-delete — a half-published
      //    attempt this writeId is re-run only after recover() rolled it
      //    back, but renames must never silently no-op)
      val dest = new Path(destPath)
      val heartbeat = new Path(staging, ".heartbeat")
      targets.zipWithIndex.foreach { case ((rel, tgt), i) =>
        // Renames only REMOVE files from the attempt dir, so on object
        // stores (synthetic directory mtimes) a long publish would stop
        // advancing recover()'s freshness signal. Rewriting a heartbeat
        // file every few renames keeps the newest mtime current, so a
        // publish of any length stays inside the in-flight guard.
        if (i % 64 == 0) {
          val hb = fs.create(heartbeat, true)
          try hb.write(i) finally hb.close()
        }
        val target = new Path(dest, tgt)
        fs.mkdirs(target.getParent)
        if (fs.exists(target)) fs.delete(target, false)
        require(fs.rename(new Path(staging, rel), target),
          s"[graft] publish rename failed: $rel -> $target")
      }
      // staging dir (with manifest) survives as the commit-pending marker
    }

    override def recover(spark: SparkSession, destPath: String,
        committed: Seq[String] => Boolean,
        minAttemptAgeMs: Long = 0L): Unit = {
      val dest = new Path(destPath)
      val root = new Path(dest.getParent, s".staging_${dest.getName}")
      val fs = fsOf(spark, root)
      if (!fs.exists(root)) return
      val now = System.currentTimeMillis()
      fs.listStatus(root).filter(_.isDirectory).foreach { st =>
        val attempt = st.getPath
        val mf = new Path(attempt, ManifestFile)
        // in-flight guard (see trait scaladoc): newest activity inside the
        // attempt — a mid-stage writer touches files continuously, so a
        // young mtime anywhere means "possibly alive"; skip, don't sweep
        val newestMs = (st.getModificationTime +:
          listFilesRec(fs, attempt).map(_.getModificationTime)).max
        if (minAttemptAgeMs > 0 && now - newestMs < minAttemptAgeMs) {
          println(s"METRIC graft.recover.skipped_inflight=1 " +
            s"write=${attempt.getName} age_ms=${now - newestMs}")
        } else if (!fs.exists(mf)) {
          // crashed before the manifest: nothing was published
          fs.delete(attempt, true)
        } else {
          val lines = {
            val in = fs.open(mf)
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().toList
            finally in.close()
          }
          val uris = lines.collect { case l if l.startsWith("uri\t") =>
            l.substring(4) }
          val targets = lines.collect { case l if l.startsWith("target\t") =>
            l.substring(7) }
          if (!committed(uris)) {
            // uncommitted: delete whatever subset got published
            targets.foreach(t => fs.delete(new Path(dest, t), false))
            println(s"METRIC graft.recover.rolled_back=1 " +
              s"write=${attempt.getName} files=${targets.length}")
          } else {
            println(s"METRIC graft.recover.rolled_forward=1 " +
              s"write=${attempt.getName}")
          }
          fs.delete(attempt, true)
        }
      }
      // drop the (now empty) staging root so the dataset dir stays clean
      if (fs.listStatus(root).isEmpty) fs.delete(root, true)
    }

    override def finishCommit(spark: SparkSession, destPath: String,
        writeId: String): Unit = {
      val staging = stagingDir(destPath, writeId)
      val fs = fsOf(spark, staging)
      fs.delete(staging, true)
      val root = staging.getParent
      if (fs.exists(root) && fs.listStatus(root).isEmpty)
        fs.delete(root, true)
    }
  }

  final case class LoadResult(
      destPath: String,
      loadedFiles: Seq[String],
      schema: StructType,
      partitionField: Option[String],
      rows: Long)

  /** The planning product — everything `loadTask` decides before touching
    * data. Returned verbatim by [[planTask]] (the reference's DRY_RUN
    * surface, index.js:79-80: print the generated load-job config instead
    * of executing it).
    */
  final case class LoadPlan(
      jobId: String,
      destPath: String,
      ledgerPath: String,
      files: Seq[String],
      schema: StructType,
      partitionField: Option[String]) {
    /** REPLAY-STABLE write identity: a crash-replayed plan over the same
      * still-unledgered file set derives the same id, so the staged-commit
      * protocol can deduplicate it. Derived from dest + sorted file list —
      * NOT from [[jobId]], whose timestamp changes per attempt.
      */
    def writeId: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update((destPath +: files.sorted).mkString("\n").getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    def render: String =
      s"""jobId:     $jobId
         |dest:      $destPath
         |ledger:    $ledgerPath
         |partition: ${partitionField.getOrElse("(none)")}
         |schema:    ${schema.fields.map(f =>
               s"${f.name}:${f.dataType.simpleString}").mkString(", ")}
         |files:     ${files.mkString("\n           ")}""".stripMargin
  }

  /** Deterministic job id: prefix + UTC stamp + task table (24-hour clock;
    * the reference's 12-hour `hh` stamp, BucketToBigQuery.js:225, is a
    * documented quirk we do not reproduce — ids are identifiers, not
    * behavior).
    */
  def jobId(task: Task, prefix: String = "graft__"): String =
    prefix + java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now()) + "_" + task.table

  /** Plan from an explicit candidate list (the shared tail of listing- and
    * notification-driven discovery): ledger-filter, sniff, evolve, infer
    * partition — no data read beyond the 4 KB header probes, no writes.
    */
  def planFromCandidates(
      spark: SparkSession, task: Task,
      candidates: Seq[String], warehouseRoot: String): LoadPlan = {
    val destPath = s"$warehouseRoot/${task.dataset}/${task.table}"
    val ledgerPath = s"$warehouseRoot/${task.dataset}/${task.ledgerTable}"
    val conf = spark.sparkContext.hadoopConfiguration

    // 1. candidates (P2) minus ledger (J1)
    val files = Ledger.filterNew(spark, ledgerPath, candidates)
    if (files.isEmpty)
      return LoadPlan(jobId(task), destPath, ledgerPath, Nil,
        destSchema(spark, destPath).getOrElse(task.declaredSchema), None)

    // 2. sniff (S2) + evolve (SO2): longest of first/last file headers
    val headers = CsvSniffer.longestHeaders(conf, files)
    val base = destSchema(spark, destPath).getOrElse(task.declaredSchema)
    val evolved = SchemaEvolution.sniffedSchema(base, headers)

    // 3. partition field: explicit > inferred over first 5 (F1)
    val partField = SchemaEvolution.effectivePartitionField(
      task.timePartitioningField, task.timePartitioningFieldSet, evolved)
    LoadPlan(jobId(task), destPath, ledgerPath, files, evolved, partField)
  }

  /** Planning only, listing-driven discovery — candidates come from a
    * recursive listing of `sourceRoot` (O(bucket); see
    * [[graft.ingest.NotificationIngest]] for the O(new files) path).
    */
  def planTask(
      spark: SparkSession, task: Task,
      sourceRoot: String, warehouseRoot: String): LoadPlan =
    planFromCandidates(spark, task,
      listCandidates(spark, sourceRoot, task.sources), warehouseRoot)

  /** Execute a plan: one multi-file read, one partitioned append, ledger
    * AFTER the write action returns (fixes reference quirk ST5 where files
    * were ledgered before their load job completed,
    * BucketToBigQuery.js:361–374) — and crash-IDEMPOTENT on top: leftover
    * attempts are rolled forward/back against the ledger before writing,
    * and the write itself goes through the sink's staged-commit protocol
    * keyed by the replay-stable [[LoadPlan.writeId]], so a replay after a
    * crash anywhere in the sequence neither loses nor duplicates rows.
    */
  def executePlan(
      spark: SparkSession, plan: LoadPlan,
      sink: DestinationSink = ParquetSink,
      recoverMinAgeMs: Long = 0L): LoadResult = {
    // 3b. resolve crashed attempts FIRST (even when this run has no new
    // files — a crash after the ledger append still needs its marker swept)
    sink.recover(spark, plan.destPath,
      uris => Ledger.filterNew(spark, plan.ledgerPath, uris).isEmpty,
      recoverMinAgeMs)
    if (plan.files.isEmpty)
      return LoadResult(plan.destPath, Nil, plan.schema, None, 0L)

    // 4. the distributed part: one multi-file read, one staged-idempotent
    //    partitioned publish
    val df = alignTo(readCsv(spark, plan.schema, plan.files), plan.schema)
    sink.stagedAppend(df, plan.destPath, plan.partitionField,
      plan.writeId, plan.files)

    // 5. ledger AFTER the write action returns (ST5), then drop the
    //    commit-pending marker
    Ledger.markImported(spark, plan.ledgerPath, plan.files)
    sink.finishCommit(spark, plan.destPath, plan.writeId)

    val rows = sink.rowCount(spark, plan.destPath)
    // metric log lines, the reference's observability surface
    // (`METRIC B2BQ.*`, index.js:55-98)
    println(s"METRIC graft.files_loaded=${plan.files.length} " +
      s"graft.rows_total=$rows job=${plan.jobId}")
    LoadResult(plan.destPath, plan.files, plan.schema,
      plan.partitionField, rows)
  }

  /** Run one task end-to-end. `sourceRoot` is the storage root the globs
    * apply under; `warehouseRoot` is where `<dataset>/<table>` lives.
    */
  def loadTask(
      spark: SparkSession, task: Task,
      sourceRoot: String, warehouseRoot: String,
      sink: DestinationSink = ParquetSink,
      recoverMinAgeMs: Long = 0L): LoadResult =
    executePlan(spark, planTask(spark, task, sourceRoot, warehouseRoot),
      sink, recoverMinAgeMs)

  /** Read a destination table back, reconciling old narrow files with the
    * evolved wide schema (parquet mergeSchema).
    */
  def readDest(spark: SparkSession, destPath: String): DataFrame =
    ParquetSink.readBack(spark, destPath)
}
