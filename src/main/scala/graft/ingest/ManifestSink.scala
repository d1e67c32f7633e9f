package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Table-format destination sink: a minimal atomic manifest log (the core
  * mechanism of Delta/Iceberg, hand-rolled because no table-format jars
  * ship in this environment) that CLOSES the [[Ingest.ParquetSink]]
  * dirty-read window. ParquetSink's documented gap: between publish and
  * ledger append, published-but-unledgered files are visible to any
  * directory-listing reader. Here readers never list directories — they
  * read exactly the files enumerated by committed manifests under
  * `dest/_log/`, and a write becomes visible in ONE atomic metadata op
  * (temp-write + rename of the manifest file), so a reader sees either
  * none of a batch or all of it, never a partial or uncommitted state.
  *
  * Layout:
  * {{{
  *   dest/_log/000000000000__<writeId>.manifest   // committed versions
  *   dest/[p_date=YYYY-MM-DD/]<writeId>-<i>.parquet
  *   <parent>/.staging_<table>/<writeId>/         // commit-pending marker
  * }}}
  *
  * Protocol (same [[Ingest.DestinationSink]] seam and crash windows as
  * ParquetSink — the pipeline code does not change):
  *  1. stage the batch OVERWRITE-mode into the attempt dir;
  *  2. record the write-ahead manifest (source URIs + target names) in
  *     staging;
  *  3. move data files into the destination layout — INVISIBLE, because
  *     nothing reads unlisted files;
  *  4. COMMIT: write the manifest to `_log/.tmp_<writeId>`, rename to
  *     `<version>__<writeId>.manifest` (rename is atomic on HDFS/local;
  *     an object-store deployment swaps in a putIfAbsent here, exactly
  *     as Delta's LogStore does);
  *  5. ledger append (caller), then [[finishCommit]] drops the staging
  *     marker.
  *
  * [[recover]] is O(crashed attempts), driven by leftover staging dirs:
  * no log entry → delete the moved files named by the write-ahead
  * manifest (nothing was ever visible); log entry but not ledgered →
  * delete the LOG ENTRY first (readers lose the batch in one atomic op),
  * then the files, then staging — replay re-publishes; log entry and
  * ledgered → roll forward, staging only. Version numbers are
  * max-seen + 1 under the trait's single-writer contract; gaps from
  * rolled-back entries are harmless (ordering, not contiguity, is the
  * invariant).
  */
object ManifestSink extends Ingest.DestinationSink {

  private val LogDir = "_log"
  private val WaManifest = "_graft_manifest"

  /** Test seam: runs after [[optimize]]'s bin rewrite, immediately before
    * its snapshot-commit critical section — the window a concurrent append
    * can land in. Production default is a no-op.
    */
  private[graft] var onBeforeOptimizeCommit: () => Unit = () => ()

  /** Test seam: runs after [[rewriteWhere]]'s file rewrites, immediately
    * before its snapshot-commit critical section. Production no-op.
    */
  private[graft] var onBeforeRewriteCommit: () => Unit = () => ()

  /** Per-destination monitor for the version-claim critical section.
    * Local-filesystem rename OVERWRITES an existing target (POSIX
    * rename(2)), so same-JVM concurrent committers must serialize
    * in-process; across JVMs on HDFS the rename-fails-if-exists
    * semantics plus the retry loop carry the contract, and an
    * object-store deployment swaps in putIfAbsent.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The version-claim primitive ([[CommitCoordinator]] — Delta's
    * LogStore seam). Default handles HDFS (atomic rename-if-absent) and
    * local FS (atomic CREATE_NEW); an object-store deployment injects
    * its conditional-put implementation here. Every commit path below
    * claims versions EXCLUSIVELY through this, so two coordinators in
    * two processes serialize on the store's own atomicity, not on the
    * in-process monitor (which remains a same-JVM fast path that avoids
    * wasted claim attempts).
    */
  @volatile var coordinator: CommitCoordinator = new FsCommitCoordinator

  /** Key on the fully-qualified URI so equivalent spellings of one
    * destination (trailing slash, `file:/x` vs `/x`, relative path) share
    * a single monitor — distinct keys would silently defeat the same-JVM
    * serialization above.
    */
  private def commitLock(fs: FileSystem, destPath: String): Object =
    commitLocks.computeIfAbsent(
      fs.makeQualified(new Path(destPath)).toString, _ => new Object)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stagingRoot(destPath: String): Path = {
    val dest = new Path(destPath)
    new Path(dest.getParent, s".staging_${dest.getName}")
  }

  private def stagingDir(destPath: String, writeId: String): Path =
    new Path(stagingRoot(destPath), writeId)

  /** True — with a `graft.<kind>.skipped_pending_attempts` metric —
    * when a staged attempt is pending under `destPath`: every commit
    * path refuses to run over one ([[recover]] first).
    */
  private def pendingAttempt(fs: FileSystem, destPath: String,
      kind: String): Boolean = {
    val sroot = stagingRoot(destPath)
    val pending = fs.exists(sroot) && fs.listStatus(sroot).nonEmpty
    if (pending) println(
      s"METRIC graft.$kind.skipped_pending_attempts=1 dest=$destPath")
    pending
  }

  /** Pin a frame once for a multi-pass maintenance verb: executor
    * block storage by default (fast, but a lost executor restarts the
    * whole verb — never corrupts, the commit is atomic), or RELIABLE
    * storage when `checkpointDir` is given (preemption-safe on lossy
    * clusters, the same option [[graft.operators.Dedup.dupClusters]]
    * grew for the same reason).
    */
  /** Pin a frame's rows before a multi-pass maintenance operation.
    * `checkpointDir` = RELIABLE pinning: the frame materializes as
    * parquet under `dir/pin_<uuid>` (preemption-safe — an executor
    * loss re-reads files instead of recomputing the source plan) and
    * the SECOND element is the cleanup thunk the caller runs after
    * the commit settles — `RDD.checkpoint` files are never deleted by
    * Spark under default confs and the old implementation leaked one
    * full frame copy per maintenance run (it also mutated the global
    * SparkContext checkpoint dir). None = executor-block
    * `localCheckpoint` (fast, not preemption-safe), nothing to clean.
    */
  private def pinFrame(df: DataFrame, checkpointDir: Option[String])
      : (DataFrame, () => Unit) = checkpointDir match {
    case Some(dir) =>
      val spark = df.sparkSession
      val out = new Path(dir, "pin_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(16))
      df.write.mode("overwrite").parquet(out.toString)
      val fs = fsOf(spark, out)
      (spark.read.parquet(out.toString),
        () => try { fs.delete(out, true); () }
          catch { case scala.util.control.NonFatal(_) => () })
    // LAZY local checkpoint: the verb's first aggregate over the pinned
    // frame materializes it — one fewer driver-paced action per verb
    case None => (df.localCheckpoint(false), () => ())
  }

  /** The explicit GENERIC partition spec form: `val(c)` partitions by
    * column `c`'s own values (the `lang=en/`, `source=web/` LLM
    * curation layouts — Delta-style arbitrary partition columns),
    * hive-escaped by the writer. Returns the wrapped column name.
    */
  private[graft] def genericSpecCol(level: String): Option[String] = {
    val l = level.trim
    if (l.length > 5 && l.substring(0, 4).equalsIgnoreCase("val(") &&
        l.endsWith(")"))
      Some(l.substring(4, l.length - 1).trim)
    else None
  }

  /** Is `f` (by the FRAME's schema) a time-flavored column — the kind
    * whose bare-name partitionField spec derives the `p_date[/p_hour]`
    * layout? Timestamps, dates, AND strings derive (a string date
    * column through `to_date` is the long-standing contract); any
    * other type partitions GENERICALLY by its own values, as does the
    * explicit `val(c)` form for any type. A name absent from the
    * frame is time-flavored for compatibility (the SQL faces pass the
    * already-derived `p_date`, which IS in the frame).
    */
  private def timeFlavored(df: DataFrame, f: String): Boolean =
    df.schema.find(_.name.equalsIgnoreCase(f)) match {
      case Some(fd) => fd.dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      }
      case None => true
    }

  /** Derived partition layout of a `partitionField` spec:
    *  - `"f"` where `f` is a timestamp/date column → one level,
    *    `p_date = to_date(f)`;
    *  - `"f"` where `f` is ANY OTHER column → one GENERIC level: the
    *    column's own values are the directory values and the column
    *    name is the directory key (`lang=en/` — the Delta-style
    *    arbitrary partition column; the column moves from the data
    *    files into the layout, exactly like `p_date`);
    *  - `"f/hour()"` → two levels, `p_hour` = hour of `f` (the
    *    date/hour layout routine for high-rate event streams);
    *    `"f/hour"` keeps meaning the same DERIVED form, but refuses
    *    when the frame carries a real column named `hour` — the two
    *    readings produce silently different layouts, so the ambiguous
    *    spelling is an error there (use `"f/hour()"` for the derived
    *    hour);
    *  - `"f/h"`      → two levels with `p_hour` normalized from column
    *    `h`'s own values (the SQL face, where the relation already
    *    exposes both partition columns and `to_date(p_date)` is the
    *    identity). Two-level GENERIC layouts are not supported — the
    *    second level is always the hour.
    * Returns the frame with the directory columns appended plus their
    * names in layout order. The hour level is an INTEGER column
    * (`p_hour=0..23`) — Spark's partition-value inference types
    * int-looking directory values as integers on every read path, so
    * an int column is the representation that round-trips identically
    * everywhere (typed ordering is chronological).
    */
  private[graft] def withPartitionCols(df: DataFrame, field: String)
      : (DataFrame, Seq[String]) = field.split('/') match {
    case Array(f) if genericSpecCol(f).isDefined ||
        !timeFlavored(df, f) =>
      val name = genericSpecCol(f).getOrElse(f)
      val actual = df.schema.fields
        .find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"[graft] partitionField '$field': column '$name' is not " +
            s"in the frame (columns: ${df.columns.mkString(", ")})"))
        .name
      (df, Seq(actual))
    case Array(f) =>
      (df.withColumn(Ingest.PartitionCol, to_date(col(f))),
        Seq(Ingest.PartitionCol))
    case Array(f, h) =>
      if (genericSpecCol(f).isDefined || genericSpecCol(h).isDefined ||
          !timeFlavored(df, f))
        throw new IllegalArgumentException(
          s"[graft] partitionField '$field': two-level layouts " +
            "require a timestamp/date first level (date/hour); a " +
            "generic (val(...)) column partitions single-level")
      if (h.equalsIgnoreCase("hour") &&
          df.columns.exists(_.equalsIgnoreCase("hour")))
        throw new IllegalArgumentException(
          s"[graft] partitionField '$field' is ambiguous: the frame " +
            "has a column named 'hour' AND 'hour' is the derived-hour " +
            "keyword — write \"" + f + "/hour()\" for hour(" + f +
            "), or rename the column to partition by its values")
      val hc =
        if (h.equalsIgnoreCase("hour") || h.equalsIgnoreCase("hour()"))
          hour(col(f))
        else col(h).cast("int")
      (df.withColumn(Ingest.PartitionCol, to_date(col(f)))
        .withColumn(Ingest.PartitionHourCol, hc.cast("int")),
        Seq(Ingest.PartitionCol, Ingest.PartitionHourCol))
    case _ => throw new IllegalArgumentException(
      s"[graft] partitionField '$field': at most two levels " +
        "(\"f\", \"f/hour()\", or \"f/<hour column>\")")
  }

  /** The directory column names a `partitionField` spec produces
    * against a frame (the generic-vs-derived split needs the column's
    * type). The schema-less overload keeps the legacy derived answer
    * for callers that only see the spec string.
    */
  private[graft] def partitionColsOf(field: String, df: DataFrame)
      : Seq[String] = field.split('/') match {
    case Array(f) if genericSpecCol(f).isDefined ||
        !timeFlavored(df, f) =>
      val name = genericSpecCol(f).getOrElse(f)
      Seq(df.schema.fields.find(_.name.equalsIgnoreCase(name))
        .map(_.name).getOrElse(name))
    case _ => partitionColsOf(field)
  }

  /** The directory column names a `partitionField` spec produces,
    * without a frame: `val(c)` → `c`; bare specs → the derived
    * `p_date[/p_hour]`.
    */
  private[graft] def partitionColsOf(field: String): Seq[String] =
    field.split('/') match {
      case Array(f) if genericSpecCol(f).isDefined =>
        Seq(genericSpecCol(f).get)
      case _ =>
        if (field.contains('/')) Seq(Ingest.PartitionCol,
          Ingest.PartitionHourCol)
        else Seq(Ingest.PartitionCol)
    }

  /** The directory keys of a committed layout, in level order, from
    * the first target's path segments (`lang=en/part.parquet` →
    * `Seq("lang")`; unpartitioned → empty). One file is enough: the
    * sink writes one consistent layout per table.
    */
  private def layoutKeysOf(targets: Seq[String]): Seq[String] =
    targets.headOption.toSeq.flatMap(_.split('/').init.toSeq
      .filter(_.contains('=')).map(s => s.substring(0, s.indexOf('='))))

  /** Canonical hour rendering shared by every `date/hour` value
    * parser: hour directories are written from the INT `p_hour`
    * column (`p_hour=7`), so `"07"` and `"7"` name the same
    * directory; non-numeric and out-of-range values refuse loudly.
    */
  private[graft] def canonPartitionHour(h: String, who: String): Int = {
    val n = try h.trim.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"[graft] $who: cannot interpret '$h' as an hour")
    }
    require(n >= 0 && n <= 23, s"[graft] $who: hour '$h' out of range")
    n
  }

  private def logPath(destPath: String): Path =
    new Path(new Path(destPath), LogDir)

  private val CkptSuffix = ".checkpoint"

  /** ONE log-directory listing, split into committed manifests and
    * checkpoint summaries, both in version order. Every resolution path
    * derives from this single `listStatus` — on HDFS a couple of RPCs,
    * on an object store one LIST page per thousand versions.
    */
  private def logListing(fs: FileSystem, destPath: String)
      : (Seq[Path], Seq[Path]) = {
    val lp = logPath(destPath)
    if (!fs.exists(lp)) (Seq.empty, Seq.empty)
    else {
      val all = fs.listStatus(lp).map(_.getPath)
      (all.filter(_.getName.endsWith(".manifest")).sortBy(_.getName).toSeq,
        all.filter(_.getName.endsWith(CkptSuffix)).sortBy(_.getName).toSeq)
    }
  }

  /** Committed manifests in version order. */
  private def manifests(fs: FileSystem, destPath: String): Seq[Path] =
    logListing(fs, destPath)._1

  private def vOfP(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong

  /** CHECKPOINT-ACCELERATED log view (Delta's `_last_checkpoint`
    * design, discovered from the same listing instead of a pointer
    * file): the newest checkpoint summary plus the manifests committed
    * after it. The checkpoint file parses exactly like a snapshot
    * manifest (`snapshot\t1` + target/stats/bloom/dv lines = the
    * EFFECTIVE table state at its version), so every snapshot-cut
    * helper works on this view unchanged and head-state resolution
    * costs O(tail) manifest opens instead of O(versions) — the
    * difference between a minute-cadence streaming table at v5000
    * paying 5000 driver opens per micro-batch and paying ~interval.
    * Superseded manifests are RETAINED (unlike [[compact]]), so time
    * travel, RESTORE, history, and the change feeds — which walk the
    * full `.manifest` listing on purpose — still reach pre-checkpoint
    * versions.
    */
  private def resolvedLog(fs: FileSystem, destPath: String): Seq[Path] = {
    val (mfs, cks) = logListing(fs, destPath)
    if (cks.isEmpty) mfs
    else {
      val maxM = mfs.map(vOfP).maxOption.getOrElse(-1L)
      // a checkpoint only summarizes COMMITTED versions, so its version
      // always has a surviving manifest; one above the head could only
      // arise from manual tampering — ignore it rather than misread
      cks.filter(vOfP(_) <= maxM).maxByOption(vOfP) match {
        case None     => mfs
        case Some(ck) => ck +: mfs.filter(vOfP(_) > vOfP(ck))
      }
    }
  }

  /** One manifest (or checkpoint) body, parsed ONCE into every line
    * group a resolution path consumes — the shared model behind
    * [[readManifest]]/[[writeIdOf]]/[[dvLinesOf]]/… so an operation
    * like `history` opens each manifest one time, not once per line
    * type, and the LRU cache below makes repeat resolutions of an
    * immutable manifest free.
    */
  private[graft] final case class MfData(
      writeIdLine: Option[String], uris: Seq[String],
      targets: Seq[String], snapshot: Boolean, layout: Boolean,
      isRestore: Boolean, checkpointOf: Option[Long],
      statsLines: Seq[String], bloomLines: Seq[String],
      rawDvLines: Seq[String], dvLines: Seq[(String, String, Long)],
      cdfLines: Seq[(String, Long)], writeIdSet: Seq[String],
      sidecarRels: Seq[String], approxBytes: Long,
      schemaLines: Seq[String] = Nil, isSchemaEvo: Boolean = false) {
    /** Bloom-sidecar rels referenced by `bloomsc` lines. */
    def bloomScRels: Seq[String] = bloomLines.flatMap { l =>
      l.split('\t') match {
        case Array("bloomsc", _, _, _, _, rel) => Some(rel)
        case _                                 => None
      }
    }.distinct
  }

  private def parseMf(mf: Path, lines: Seq[String]): MfData = {
    lines.find(_.startsWith("protocol\t")).foreach { l =>
      val v = l.substring(9).trim.toLong
      require(v <= SupportedProtocol,
        s"[graft] manifest $mf requires protocol v$v; this reader " +
          s"supports <= v$SupportedProtocol — upgrade before touching " +
          "this table")
    }
    MfData(
      writeIdLine = lines.collectFirst {
        case l if l.startsWith("writeid\t") => l.substring(8) },
      uris = lines.collect {
        case l if l.startsWith("uri\t") => l.substring(4) },
      targets = lines.collect {
        case l if l.startsWith("target\t") => l.substring(7) },
      snapshot = lines.exists(_.startsWith("snapshot\t")),
      layout = lines.exists(_.startsWith("layout\t")),
      isRestore = lines.exists(_.startsWith("restore\t")),
      checkpointOf = lines.collectFirst {
        case l if l.startsWith("checkpoint\t") => l.substring(11).toLong },
      statsLines = lines.filter(l =>
        l.startsWith("stats\t") || l.startsWith("stats2\t") ||
          l.startsWith("fsize\t") || l.startsWith("nrows\t")),
      bloomLines = lines.filter(l => l.startsWith("bloom\t") ||
        l.startsWith("bloomsc\t")),
      rawDvLines = lines.filter(_.startsWith("dv\t")),
      dvLines = lines.flatMap { l =>
        l.split('\t') match {
          case Array("dv", tgt, rel, n) => Some((tgt, rel, n.toLong))
          case _                        => None
        }
      },
      cdfLines = lines.flatMap { l =>
        l.split('\t') match {
          case Array("cdf", rel, n) => Some((rel, n.toLong))
          case _                    => None
        }
      },
      writeIdSet = lines.collect {
        case l if l.startsWith("writeidset\t") => l.substring(11) },
      sidecarRels = lines.collect {
        case l if l.startsWith("sidecar\t") => l.substring(8) },
      approxBytes = lines.map(_.length.toLong + 16).sum,
      schemaLines = lines.filter(_.startsWith("schemaj\t")),
      isSchemaEvo = lines.exists(_.startsWith("schemaevo\t")))
  }

  /** Byte-bounded LRU cache of parsed manifests keyed by qualified
    * path, validated by (mtime, length): manifests are published
    * atomically and never modified in place, but [[recover]] can roll
    * one back and a later writer can re-claim the SAME version slot
    * with different content — the stat check catches that. Local-fs
    * stats go through java.nio (Hadoop's local getFileStatus forks a
    * process for permissions, see [[listFilesRec]]).
    */
  private val MfCacheCapBytes = 256L << 20
  private val mfCache =
    new java.util.LinkedHashMap[String, (Long, Long, MfData)](
      64, 0.75f, /*accessOrder=*/ true)
  private var mfCacheBytes = 0L

  /** Drop every cached parse — the stress harness uses this to measure
    * COLD-driver resolution cost (a fresh driver has an empty cache;
    * without this, repeat measurements only time cache hits).
    */
  private[graft] def invalidateMfCache(): Unit = mfCache.synchronized {
    mfCache.clear(); mfCacheBytes = 0L
  }

  /** Byte-bounded LRU of fully-loaded SMALL bloom sidecars, keyed by
    * qualified path and validated by (mtime, length). Sidecar files
    * are immutable once committed (vacuum deletes, never rewrites), so
    * a hit is always current; the stat check catches recover's
    * rollback + slot re-claim the same way [[mfCache]] does. Only
    * sidecars ≤ [[BloomScFullLoadMaxBytes]] load whole — a point
    * lookup on a small table then costs zero reads after first touch,
    * while a wide commit's multi-MB sidecar keeps the sparse
    * record-filtered path (per-probe word fetch) where open latency is
    * noise against the data scan.
    */
  private val BloomScFullLoadMaxBytes = 8L << 20
  private val BloomScCacheCapBytes = 64L << 20
  private val bloomScCache = new java.util.LinkedHashMap[
    String, (Long, Long, Long, Map[(String, String), Array[(Int, Long)]])](
    32, 0.75f, /*accessOrder=*/ true)
  private var bloomScCacheBytes = 0L

  private[graft] def invalidateBloomScCache(): Unit =
    bloomScCache.synchronized {
      bloomScCache.clear(); bloomScCacheBytes = 0L
    }

  private def bloomScFullWords(fs: FileSystem, p: Path,
      conf: org.apache.hadoop.conf.Configuration)
      : Option[Map[(String, String), Array[(Int, Long)]]] = {
    val key = fs.makeQualified(p).toString
    val (mt, ln) = mfStat(fs, p)
    if (ln > BloomScFullLoadMaxBytes) return None
    bloomScCache.synchronized {
      val hit = bloomScCache.get(key)
      if (hit != null && hit._1 == mt && hit._2 == ln)
        return Some(hit._4)
    }
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(
        new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
      .withConf(conf)
      .build()
    val buf = scala.collection.mutable.Map.empty[(String, String),
      scala.collection.mutable.ArrayBuffer[(Int, Long)]]
    try {
      var g = reader.read()
      while (g != null) {
        buf.getOrElseUpdate(
          (g.getString("tgt", 0), g.getString("col", 0)),
          scala.collection.mutable.ArrayBuffer.empty)
          .append((g.getInteger("w", 0), g.getLong("bits", 0)))
        g = reader.read()
      }
    } finally reader.close()
    val data = buf.iterator.map { case (k, v) => k -> v.toArray }.toMap
    val approx = data.valuesIterator
      .map(_.length.toLong * 40L + 96L).sum + 256L
    bloomScCache.synchronized {
      val prev = bloomScCache.put(key, (mt, ln, approx, data))
      if (prev != null) bloomScCacheBytes -= prev._3
      bloomScCacheBytes += approx
      val it = bloomScCache.entrySet().iterator()
      while (bloomScCacheBytes > BloomScCacheCapBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          bloomScCacheBytes -= e.getValue._3
          it.remove()
        }
      }
    }
    Some(data)
  }

  private def mfStat(fs: FileSystem, p: Path): (Long, Long) =
    localRoot(fs, p) match {
      case Some(nio) =>
        (java.nio.file.Files.getLastModifiedTime(nio).toMillis,
          java.nio.file.Files.size(nio))
      case None =>
        val st = fs.getFileStatus(p)
        (st.getModificationTime, st.getLen)
    }

  private def mfData(fs: FileSystem, mf: Path): MfData = {
    val key = fs.makeQualified(mf).toString
    val (mt, ln) = mfStat(fs, mf)
    mfCache.synchronized {
      val hit = mfCache.get(key)
      if (hit != null && hit._1 == mt && hit._2 == ln) return hit._3
    }
    val in = fs.open(mf)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val d = parseMf(mf, lines)
    mfCache.synchronized {
      val prev = mfCache.put(key, (mt, ln, d))
      if (prev != null) mfCacheBytes -= prev._3.approxBytes
      mfCacheBytes += d.approxBytes
      val it = mfCache.entrySet().iterator()
      while (mfCacheBytes > MfCacheCapBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) {
          mfCacheBytes -= e.getValue._3.approxBytes
          it.remove()
        }
      }
    }
    d
  }

  /** The committing attempt's writeId. New-format manifests carry it
    * as a `writeid\t` body line — the FILENAME is version-only, which
    * is what makes the cross-process version claim atomic: two writers
    * racing one slot target the SAME name, and [[CommitCoordinator]]'s
    * putIfAbsent picks exactly one winner (a writeId-suffixed name
    * would let both "win" under different names, silently forking the
    * version). Legacy `<version>__<writeId>.manifest` names fall back
    * to filename parsing.
    */
  private def writeIdOf(fs: FileSystem, mf: Path): String = {
    val fromName = mf.getName.stripSuffix(".manifest")
    if (fromName.contains("__")) fromName.split("__").last
    // the protocol gate rides [[mfData]]'s parse, so it covers WRITERS
    // too (and recover): committing alongside a future-format manifest
    // could violate invariants this writer has never heard of
    else mfData(fs, mf).writeIdLine.getOrElse(fromName)
  }

  /** `(source uris, target files, isSnapshot)`. A SNAPSHOT manifest
    * (`snapshot\t1` body line) REPLACES all earlier versions — readers
    * resolve the file set from the latest snapshot plus later
    * incremental manifests ([[readVersion]]). [[compact]] and
    * [[optimize]] write snapshots; appends never do.
    */
  /** Highest manifest format this reader understands. Manifests carry
    * no `protocol` line at v1 (absence = 1); a FUTURE writer that
    * changes line semantics writes `protocol\t<N>` and every reader
    * path refuses rather than misread — Delta's reader-version gate.
    */
  private[graft] val SupportedProtocol = 1L

  private def readManifest(fs: FileSystem, mf: Path)
      : (Seq[String], Seq[String], Boolean) = {
    val d = mfData(fs, mf)
    (d.uris, d.targets, d.snapshot)
  }

  private def writeFile(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** The destination as a java.nio path when it lives on the `file:`
    * scheme, None otherwise — the switch for the local fast paths below.
    */
  private def localRoot(fs: FileSystem, p: Path)
      : Option[java.nio.file.Path] =
    if (fs.getScheme == "file")
      Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
    else None

  /** Recursive file listing as (path, mtimeMs). Goes through the Hadoop
    * FileSystem API — HDFS batches a listing into a few RPCs, object
    * stores into LIST pages — EXCEPT on the `file:` scheme, which gets a
    * java.nio walk: without libhadoop, Hadoop's local FileStatus shells
    * out `ls -ld` PER FILE to load permissions
    * (DeprecatedRawLocalFileStatus.loadPermissionInfo), turning a
    * 1.3k-file staging listing into ~10 s of process forks.
    */
  private def listFilesRec(fs: FileSystem, dir: Path)
      : Seq[(Path, Long, Long)] =
    localRoot(fs, dir) match {
      case Some(root) =>
        if (!java.nio.file.Files.isDirectory(root)) Seq.empty
        else {
          val stream = java.nio.file.Files.walk(root)
          try {
            import scala.jdk.CollectionConverters._
            stream.iterator().asScala
              .filter(p => java.nio.file.Files.isRegularFile(p))
              .map(p => (new Path(p.toUri),
                java.nio.file.Files.getLastModifiedTime(p).toMillis,
                java.nio.file.Files.size(p)))
              .toVector
          } finally stream.close()
        }
      case None =>
        val it = fs.listFiles(dir, /*recursive=*/ true)
        val buf = scala.collection.mutable.ArrayBuffer[(Path, Long, Long)]()
        while (it.hasNext) {
          val st = it.next()
          buf += ((st.getPath, st.getModificationTime, st.getLen))
        }
        buf.toSeq
    }

  /** Plain append = staged protocol under a fresh random id, committed
    * immediately (still atomic-in, per the trait contract).
    */
  override def append(df: DataFrame, destPath: String,
      partitionField: Option[String]): Unit = {
    val id = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    stagedAppend(df, destPath, partitionField, id, Seq.empty)
    finishCommit(df.sparkSession, destPath, id)
  }

  /** Read exactly the committed file set — never a directory listing, so
    * in-flight or rolled-back files are structurally invisible. Every
    * Scala read resolves like the SQL face (`format("graft")`): one
    * [[snapshotHandle]] planned as [[GraftDataSource.relationFor]]'s
    * relation over [[graft.sources.GraftFileIndex]] — file statuses
    * and schema from the log (no stat per file, no footer sweep),
    * partition columns typed by Spark's own partition-value inference,
    * pushed filters pruned by the manifest stats and blooms, deletion
    * vectors applied inside the scan.
    */
  override def readBack(spark: SparkSession, destPath: String): DataFrame =
    readSnapshot(spark, snapshotHandle(spark, destPath))

  /** SNAPSHOT (time-travel) read: the table as of commit `version`
    * (inclusive) — the union of files from manifests with version ≤ N,
    * under the schema and deletion vectors as of that version.
    * [[compact]] collapses history, so after a compaction only the
    * snapshot version and later are reachable; a version below the
    * oldest surviving manifest or above the head refuses.
    */
  def readVersion(spark: SparkSession, destPath: String,
      version: Long): DataFrame =
    readSnapshot(spark,
      snapshotHandle(spark, destPath, versionAsOf = Some(version)))

  private def readSnapshot(spark: SparkSession, h: SnapshotHandle)
      : DataFrame =
    if (h.targets.isEmpty) spark.emptyDataFrame
    else spark.baseRelationToDataFrame(
      graft.sources.GraftDataSource.relationFor(spark, h))

  /** DESCRIBE HISTORY: one row per surviving log version —
    * `(version, commit_ts, kind, n_files, n_rows)`, all from manifest
    * metadata (zero data files read). `kind` is `append` or `snapshot`
    * (compact/optimize/rewrite/merge — versions that REPLACE history);
    * `n_files` is the version's own manifest's file count (for a
    * snapshot, the whole table at that point); `n_rows` comes from the
    * version's recorded per-file row counts ([[fileRowsOf]]) when every
    * listed file has one, null otherwise (legacy commits) — never a
    * scan, never a wrong number. The driver-
    * side cost is O(surviving manifests), the same listing every read
    * already performs.
    */
  def history(spark: SparkSession, destPath: String): DataFrame = {
    import spark.implicits._
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val all = manifests(fs, destPath)
    val rows = all.map { mf =>
      val v = mf.getName.takeWhile(_.isDigit).toLong
      val ts = new java.sql.Timestamp(
        fs.getFileStatus(mf).getModificationTime)
      val (_, targets, snap) = readManifest(fs, mf)
      val rowsByTgt = fileRowsOf(fs, Seq(mf))
      val nRows: Option[Long] =
        if (targets.nonEmpty && targets.forall(rowsByTgt.contains))
          Some(targets.map(rowsByTgt).sum)
        else None
      val kind =
        if (isRestoreManifest(fs, mf)) "restore"
        else if (snap) "snapshot"
        else if (dvLinesOf(fs, mf).nonEmpty) "mor"
        else if (mfData(fs, mf).isSchemaEvo) "schema"
        else "append"
      (v, ts, kind, targets.size, nRows)
    }
    rows.toDF("version", "commit_ts", "kind", "n_files", "n_rows")
  }

  /** TIME TRAVEL by timestamp (Delta's `TIMESTAMP AS OF`): reads the
    * table as of the last version committed at or before `tsMillis`,
    * resolved from the manifest files' filesystem modification times —
    * the same clock Delta itself uses (commit-file mtime), with the
    * same documented caveat that copying a table preserves versions but
    * not commit times. Fails loudly when every surviving commit is
    * later than `tsMillis`: history before the oldest manifest may have
    * been compacted away, and silently returning the oldest state would
    * be indistinguishable from the table's true state at that time
    * (the [[readVersion]] "earliest readable" contract).
    */
  def readAsOf(spark: SparkSession, destPath: String,
      tsMillis: Long): DataFrame =
    readSnapshot(spark,
      snapshotHandle(spark, destPath, timestampAsOf = Some(tsMillis)))

  /** Read-path seam for [[graft.sources.GraftDataSource]]: ONE log
    * resolution captured as an immutable handle — committed file set,
    * effective deletion vectors, and a skip-pruning closure over the
    * stats + bloom metadata — so the SQL surface consumes exactly the
    * snapshot cut every Scala-side read uses, through one listing.
    */
  private[graft] final class SnapshotHandle(
      fs: FileSystem, val destPath: String, mfs: Seq[Path]) {
    /** Resolved head version of this snapshot (max surviving ≤ cut). */
    val version: Long =
      mfs.map(_.getName.takeWhile(_.isDigit).toLong).maxOption
        .getOrElse(-1L)
    val targets: Seq[String] = effectiveTargetsOf(fs, mfs)
    lazy val dvs: Map[String, Seq[(String, Long)]] =
      effectiveDvsOf(fs, mfs)
    private[ManifestSink] lazy val stats = fileStatsOf(fs, mfs)
    private lazy val blooms = bloomIndexOf(org.apache.spark.sql.SparkSession.active, destPath, fs, mfs)
    private lazy val posC = bloomPosCache()
    /** logical → physical names of renamed columns (empty if none). */
    private[ManifestSink] lazy val mapping: Map[String, String] =
      mappingOf(schemaOpt)
    /** Files (from `from`) that may contain a row matching `pred` per
      * the manifest stats and bloom filters — the one file filter of
      * the pruned reads, the SQL scan's listing and the DML verbs.
      */
    def prune(from: Seq[String], pred: SkipPredicate): Seq[String] = {
      // stats/bloom keys are PHYSICAL; predicates arrive logical
      val pPhys = mapPredCols(pred, mapping)
      from.filter(t => mayMatchFile(stats, t, pPhys) &&
        blooms.mayMatch(posC, t, pPhys))
    }
    /** Columns the snapshot records skipping stats for — what a SQL
      * DML rewrite passes as `statsCols` to keep coverage.
      */
    lazy val statsColumns: Seq[String] =
      stats.keys.map(_._2).toSeq.distinct.sorted
    /** Columns any committed file carries a bloom filter for — a SQL
      * INSERT builds filters for the same columns so point-lookup
      * pruning coverage doesn't decay as appends arrive.
      */
    lazy val bloomColumns: Seq[String] =
      blooms.keys.map(_._2).toSeq.distinct.sorted
    /** Per-file (bytes, mtime) recorded at commit — lets the SQL
      * FileIndex materialize without statting data files. Files from
      * pre-fsize commits are absent (callers fall back to one RPC).
      */
    lazy val sizes: Map[String, (Long, Long)] = fileSizesOf(fs, mfs)
    /** Per-file physical row counts recorded at commit
      * ([[fileRowsOf]]); files from pre-`nrows` commits without stats
      * are absent.
      */
    lazy val fileRows: Map[String, Long] = fileRowsOf(fs, mfs)
    /** The live row count from the log alone — recorded per-file
      * counts minus deletion-vector tombstones (exact: the write path
      * only records positions live at write time, so they are
      * disjoint). None when any file lacks a recorded count.
      */
    lazy val liveRows: Option[Long] =
      if (!targets.forall(fileRows.contains)) None
      else {
        val live = targets.toSet
        Some(targets.map(fileRows).sum - dvs.collect {
          case (t, es) if live.contains(t) => es.map(_._2).sum }.sum)
      }
    /** The data-file schema resolved from the log's `schemaj` lines;
      * None = fall back to a footer sweep.
      */
    lazy val schemaOpt: Option[StructType] = effectiveSchemaOf(fs, mfs)
    /** The data-file schema the SQL relation and the DML pruning
      * resolve against: the log's, or — only for logs without usable
      * `schemaj` lines — a mergeSchema footer sweep over the committed
      * files (a Spark job).
      */
    lazy val dataSchema: StructType =
      if (targets.isEmpty) StructType(Nil)
      else schemaOpt.getOrElse(SparkSession.active.read
        .option("mergeSchema", "true")
        .parquet(targets.map(t => new Path(destPath, t).toString): _*)
        .schema)
  }

  /** True when `destPath` holds a manifest log. */
  private[graft] def isTable(spark: SparkSession, destPath: String)
      : Boolean =
    fsOf(spark, new Path(destPath)).exists(logPath(destPath))

  /** The committed schema an ingest plan evolves from: the head
    * snapshot's data schema under LOGICAL names, without the layout
    * (directory) columns — resolved from the log, so uncommitted or
    * superseded files in the directory never reach the plan. None when
    * nothing is committed.
    */
  private[graft] def planSchema(spark: SparkSession, destPath: String)
      : Option[StructType] = {
    val h = snapshotHandle(spark, destPath)
    val layout = (layoutKeysOf(h.targets) :+ Ingest.PartitionCol).toSet
    (if (h.targets.isEmpty) h.schemaOpt else Some(h.dataSchema))
      .map(st => stripPhysical(
        StructType(st.fields.filterNot(f => layout.contains(f.name)))))
      .filter(_.nonEmpty)
  }

  /** Resolve a [[SnapshotHandle]] at the head, at `versionAsOf`, or at
    * `timestampAsOf` (manifest mtimes, the [[readAsOf]] contract) —
    * with the same compacted-away guards as the Scala read paths.
    */
  private[graft] def snapshotHandle(spark: SparkSession,
      destPath: String, versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): SnapshotHandle = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    // head resolution (the hot DSv2 read path) rides the checkpoint;
    // time travel needs the full retained walk for its floor guards
    // and commit-time resolution
    if (versionAsOf.isEmpty && timestampAsOf.isEmpty)
      return new SnapshotHandle(fs, destPath, resolvedLog(fs, destPath))
    val all = manifests(fs, destPath)
    val cut = (versionAsOf, timestampAsOf) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "[graft] snapshotHandle: versionAsOf and timestampAsOf are " +
          "mutually exclusive")
      case (Some(v), None) =>
        if (all.nonEmpty) {
          val vs = all.map(_.getName.takeWhile(_.isDigit).toLong)
          require(v >= vs.min,
            s"[graft] versionAsOf($v): history before v${vs.min} was " +
              s"compacted away; earliest readable snapshot is v${vs.min}")
          require(v <= vs.max,
            s"[graft] versionAsOf($v): the table's latest committed " +
              s"version is v${vs.max} — a beyond-head read would " +
              "silently return head state")
        }
        v
      case (None, Some(ts)) =>
        val stamped = all.map(p =>
          (p.getName.takeWhile(_.isDigit).toLong,
            fs.getFileStatus(p).getModificationTime))
        stamped.filter(_._2 <= ts).map(_._1).maxOption.getOrElse {
          if (all.isEmpty) -1L // no commits: legitimately empty
          else throw new IllegalArgumentException(
            s"[graft] timestampAsOf($ts): every surviving commit is " +
              "later — older history (if any) was compacted away")
        }
      case (None, None) => Long.MaxValue
    }
    // a cut at or past the newest checkpoint resolves through it (the
    // summary IS the state at its version); older cuts walk the full
    // retained log
    val resolved = resolvedLog(fs, destPath)
    val base =
      if (resolved.headOption.exists(p =>
          p.getName.endsWith(CkptSuffix) && vOfP(p) <= cut)) resolved
      else all
    new SnapshotHandle(fs, destPath, base.filter(vOfP(_) <= cut))
  }

  /** The CDC tail's one-poll feed: every APPEND version in
    * `(sinceVersion, head]`, in commit order, as `(version, thunk)` —
    * the thunk reads exactly that version's own target files. LAYOUT
    * snapshots (optimize/compact — `layout\t1` marker) are skipped:
    * they rearrange bytes without changing content, so a tail crossing
    * them neither duplicates nor drops. CONTENT-changing versions in
    * the range (COW rewrites, merges, deletion vectors, partition
    * drops, restores) throw — file membership no longer means "new
    * rows" and a correct tail must re-sync from a full read (the Delta
    * CDF contract). A `sinceVersion` below the surviving floor throws
    * as compacted-away, exactly like [[readAppendsBetween]].
    */
  /** Lowest surviving log version, `-1` when the table has none — the
    * compaction floor the feeds refuse below.
    */
  private[graft] def survivingFloor(spark: SparkSession,
      destPath: String): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return -1L
    manifests(fs, destPath)
      .map(_.getName.takeWhile(_.isDigit).toLong).minOption
      .getOrElse(-1L)
  }

  /** The append tail as `(version, target files)` pairs — the raw
    * form the streaming source batches into ONE scan (a deep-backlog
    * drain must not pay one DataSource resolution per version).
    */
  private[graft] def appendFeedFiles(spark: SparkSession,
      destPath: String, sinceVersion: Long,
      untilVersion: Long = Long.MaxValue)
      : (Seq[(Long, Seq[String])], Long) = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return (Seq.empty, sinceVersion)
    val all = manifests(fs, destPath)
    if (all.isEmpty) return (Seq.empty, sinceVersion)
    def vOf(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong
    val minV = all.map(vOf).min
    require(sinceVersion == -1 || sinceVersion >= minV - 1,
      s"[graft] appendFeed($sinceVersion): history before v$minV was " +
        "compacted away — re-sync the tail from a full readBack")
    def isLayout(mf: Path): Boolean = mfData(fs, mf).layout
    val feed = all
      .filter(p => vOf(p) > sinceVersion && vOf(p) <= untilVersion)
      .sortBy(vOf)
      .flatMap { mf =>
        val v = vOf(mf)
        val (_, targets, snap) = readManifest(fs, mf)
        val hasDv = dvLinesOf(fs, mf).nonEmpty
        if (isLayout(mf)) None // optimize/compact: content unchanged
        else if (snap || hasDv)
          throw new IllegalArgumentException(
            s"[graft] appendFeed: v$v is a content-changing " +
              "commit (rewrite/merge/deletion-vector/restore) — the " +
              "append tail cannot represent it; re-sync from readBack")
        else if (targets.isEmpty) None
        else Some((v, targets))
      }
    (feed, math.max(sinceVersion, all.map(vOf).max))
  }

  private[graft] def appendFeed(spark: SparkSession, destPath: String,
      sinceVersion: Long, untilVersion: Long = Long.MaxValue)
      : (Seq[(Long, () => DataFrame)], Long) = {
    val dest = new Path(destPath)
    val (feed, head) =
      appendFeedFiles(spark, destPath, sinceVersion, untilVersion)
    // per-version frames read under the CURRENT log schema so a
    // consumer unioning across an ALTER COLUMN TYPE widen sees one
    // type per column (legacy logs keep the footer union)
    lazy val rdSchema = logReadSchema(spark, destPath)
    (feed.map { case (v, targets) =>
      (v, () => {
        val rd = logSchemaReader(spark, rdSchema)
        val df = rd.option("basePath", destPath)
          .parquet(targets.map(rel =>
            new Path(dest, rel).toString): _*)
        rdSchema.map(toLogicalDf(df, _)).getOrElse(df)
      })
    }, head)
  }

  /** RESTORE (Delta's `RESTORE TABLE … TO VERSION AS OF`): commit the
    * table state as of `version` as a NEW head version — the write-op
    * other half of time travel, what an operator reaches for right
    * after `history` shows a bad commit. The restore is a SNAPSHOT
    * manifest re-listing version `version`'s file set (with its stats
    * and deletion-vector lines), so:
    *  - `readBack` after restore == `readVersion(version)` — by
    *    construction, the same file list;
    *  - history is NEVER rewritten: the bad versions stay readable, the
    *    restore is one more version on top (its `history` kind is
    *    `restore`), and a second restore can undo the first;
    *  - no data moves or copies — a pure metadata commit, O(surviving
    *    manifests) driver work at any table size;
    *  - the files are guaranteed present: [[vacuum]] only deletes files
    *    referenced by NO surviving manifest, and `version`'s own
    *    manifest survives (restore refuses compacted-away versions,
    *    the [[readVersion]] contract).
    * [[readAppendsBetween]] across the restore refuses loudly — a
    * restore is a snapshot, so file membership no longer means "new
    * rows" (re-sync from a full read, the Delta CDF contract). REFUSES
    * while staged attempts are pending, like [[compact]] — restore is
    * maintenance and holds the single-writer contract. Returns the new
    * head version.
    */
  def restore(spark: SparkSession, destPath: String,
      version: Long): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val sroot = stagingRoot(destPath)
    require(!(fs.exists(sroot) && fs.listStatus(sroot).nonEmpty),
      s"[graft] restore($version): staged attempts are pending under " +
        s"$sroot — run recover/finishCommit first")
    val all = manifests(fs, destPath)
    require(all.nonEmpty,
      s"[graft] restore($version): $destPath has no committed versions")
    def vOf(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong
    val head = all.map(vOf).max
    require(version <= head,
      s"[graft] restore($version): head is v$head")
    val minV = all.map(vOf).min
    require(version >= minV,
      s"[graft] restore($version): history before v$minV was " +
        s"compacted away; earliest restorable version is v$minV")
    val eligible = all.filter(vOf(_) <= version)
    val parsed = eligible.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    val effMfs = if (lastSnap >= 0) eligible.drop(lastSnap) else eligible
    val targets = (if (lastSnap >= 0) parsed.drop(lastSnap) else parsed)
      .flatMap(_._2).distinct
    val restored = targets.toSet
    // carry the restored files' metadata lines (skipping stats +
    // deletion vectors) exactly as they stood at `version` — a dv
    // committed AFTER `version` must not survive the restore, and one
    // committed before it must
    val metaLines = effMfs.flatMap { mf =>
      val d = mfData(fs, mf)
      (d.statsLines ++ d.rawDvLines ++ d.bloomLines).filter { l =>
        val p = l.split('\t')
        p.length >= 2 && restored.contains(p(1))
      }
    }.distinct
    // the restored SCHEMA is the schema as of `version` — a column
    // added after it must not survive the restore
    val schemaRestored =
      effectiveSchemaOf(fs, eligible).map(schemaLineOf).toSeq
    val body = (Seq("writeid\trestore", "snapshot\t1",
      s"restore\t$version") ++
      targets.map("target\t" + _) ++ metaLines ++ schemaRestored)
      .mkString("\n")
    val newV = head + 1
    val lp = logPath(destPath)
    val tmp = new Path(lp, s".tmp_restore_$newV")
    writeFile(fs, tmp, body)
    val fin = new Path(lp, f"$newV%012d.manifest")
    val won = commitLock(fs, destPath).synchronized {
      coordinator.putIfAbsent(fs, tmp, fin)
    }
    if (!won) {
      // lost the version slot to a concurrent writer: clean up the
      // staged tmp (mirroring commitSnapshot's abort path — the old
      // require() stranded it in the log dir) and retry the WHOLE
      // operation at the advanced head. Full re-validation matters:
      // the intervening commit could be a compact that destroyed the
      // history this restore needs, and the retry must refuse then.
      fs.delete(tmp, false)
      println(s"METRIC graft.restore.slot_lost=1 retry_at_head " +
        s"dest=$destPath")
      return restore(spark, destPath, version)
    }
    println(s"METRIC graft.restore.to_version=$version " +
      s"new_version=$newV files=${targets.length} dest=$destPath")
    newV
  }

  /** [[restore]] by TIMESTAMP: restores to the last version committed
    * at or before `tsMillis`, resolved exactly as [[readAsOf]] resolves
    * reads (manifest-file mtimes; fails loudly when every surviving
    * commit is later). Returns the new head version.
    */
  def restoreAsOf(spark: SparkSession, destPath: String,
      tsMillis: Long): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val all = manifests(fs, destPath)
    require(all.nonEmpty,
      s"[graft] restoreAsOf($tsMillis): $destPath has no committed " +
        "versions")
    val stamped = all.map(p =>
      (p.getName.takeWhile(_.isDigit).toLong,
        fs.getFileStatus(p).getModificationTime))
    stamped.filter(_._2 <= tsMillis).map(_._1).maxOption match {
      case Some(v) => restore(spark, destPath, v)
      case None =>
        val earliest = stamped.minBy(_._2)
        throw new IllegalArgumentException(
          s"[graft] restoreAsOf($tsMillis): earliest surviving commit " +
            s"is v${earliest._1} at t=${earliest._2} — older history " +
            "(if any) was compacted away")
    }
  }

  /** ATOMIC OVERWRITE (Delta's `INSERT OVERWRITE` /
    * `mode("overwrite")`): replace the table's CONTENT with `df` in one
    * snapshot commit — the new files stage and move exactly like an
    * append, then one `snapshot` manifest re-lists ONLY them, so
    * readers flip from the old state to the new atomically and history
    * is retained (time travel and [[restore]] still reach the
    * pre-overwrite versions; [[vacuum]]-after-[[compact]] reclaims the
    * replaced bytes). Base-version OCC without absorption: an
    * overwrite conflicts with EVERY concurrent commit — losing the
    * slot rolls the staged files back and throws, never silently
    * erases a concurrent writer's rows. Stats/bloom skipping metadata
    * builds for the new files like [[statsAppend]]. REFUSES while
    * staged attempts are pending (maintenance-grade, like [[restore]]).
    */
  def overwrite(df: DataFrame, destPath: String,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      overwriteSchema: Boolean = false): Unit = {
    val spark = df.sparkSession
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val sroot = stagingRoot(destPath)
    require(!(fs.exists(sroot) && fs.listStatus(sroot).nonEmpty),
      s"[graft] overwrite: staged attempts are pending under $sroot " +
        "— run recover/finishCommit first")
    // an overwrite REPLACES CONTENT, not the table's shape: a writer
    // job with a drifted schema, or one that forgot partitionField on
    // a partitioned table, would otherwise silently rebase the
    // schema/layout for every downstream reader in one commit (the
    // Delta overwrite contract: schema changes need overwriteSchema)
    if (!overwriteSchema && fs.exists(dest)) {
      val old = resolvedLog(fs, destPath)
      val existing = effectiveTargetsOf(fs, old)
      if (existing.nonEmpty) {
        val wasKeys = layoutKeysOf(existing)
        if (wasKeys.nonEmpty != partitionField.isDefined)
          throw new IllegalArgumentException(
            s"[graft] overwrite: table $destPath is " +
              (if (wasKeys.nonEmpty) "partitioned" else "unpartitioned") +
              s" but the overwrite is " +
              (if (partitionField.isDefined) "partitioned"
               else "unpartitioned") +
              " — pass overwriteSchema = true to rebase the layout")
        // same-layout check: a day-only spec on a date/hour table, a
        // generic spec on a date table (or any mismatch) would
        // silently flatten/mix the layout
        val isKeys = partitionField
          .map(f => partitionColsOf(f, df)).getOrElse(Nil)
        if (wasKeys.nonEmpty &&
            wasKeys.map(_.toLowerCase) != isKeys.map(_.toLowerCase))
          throw new IllegalArgumentException(
            s"[graft] overwrite: table $destPath is partitioned by " +
              s"(${wasKeys.mkString("/")}) but partitionField derives " +
              s"(${isKeys.mkString("/")}) — pass overwriteSchema = " +
              "true to rebase it")
      }
      // the schema check applies even to an EMPTY table: a truncating
      // replace deliberately carries the schema forward (an empty
      // table must not forget its shape), so a drifted overwrite must
      // still refuse
      effectiveSchemaOf(fs, old).foreach { cur =>
        // a partitioned stage strips the derived partition columns
        // from the data files — compare what will actually land. The
        // FRAME-AWARE overload: a bare generic spec ("shard") derives
        // the column itself, not p_date (the schema-less overload
        // would strip the wrong column and falsely refuse)
        val strip = partitionField
          .map(f => partitionColsOf(f, df)).getOrElse(Nil)
        val incoming =
          if (strip.isEmpty) df.schema
          else StructType(df.schema.fields.filterNot(f =>
            strip.exists(_.equalsIgnoreCase(f.name))))
        schemaMismatch(cur, incoming).foreach(why =>
          throw new IllegalArgumentException(
            s"[graft] overwrite: incoming schema does not match the " +
              s"table schema ($why) — pass overwriteSchema = true to " +
              "rebase the schema"))
      }
    }
    val base = manifests(fs, destPath)
      .map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val id =
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    stageMoveCommit(spark, destPath, id, Seq.empty,
      statsCols, bloomCols, DefaultBloomBits,
      snapshotBase = Some(base)) { staging =>
      val writer = partitionField match {
        case Some(f) =>
          val (dfp, pcols) = withPartitionCols(df, f)
          dfp.write.mode("overwrite").partitionBy(pcols: _*)
        case None => df.write.mode("overwrite")
      }
      writer.parquet(staging.toString)
    }
    finishCommit(spark, destPath, id)
    println(s"METRIC graft.overwrite.base_version=$base " +
      s"new_version=${base + 1} dest=$destPath")
  }

  /** None when `incoming` carries exactly the table's columns (names
    * case-insensitive, types exact, order-free — parquet column
    * resolution is by name); Some(reason) otherwise.
    */
  private def schemaMismatch(table: StructType,
      incoming: StructType): Option[String] = {
    def m(st: StructType) =
      st.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val (tm, im) = (m(table), m(incoming))
    val missing = tm.keySet -- im.keySet
    val extra = im.keySet -- tm.keySet
    val retyped = (tm.keySet & im.keySet).filter(k => tm(k) != im(k))
    if (missing.isEmpty && extra.isEmpty && retyped.isEmpty) None
    else Some(Seq(
      if (missing.nonEmpty)
        Some(s"missing ${missing.toSeq.sorted.mkString(",")}") else None,
      if (extra.nonEmpty)
        Some(s"extra ${extra.toSeq.sorted.mkString(",")}") else None,
      if (retyped.nonEmpty)
        Some(s"retyped ${retyped.toSeq.sorted.mkString(",")}") else None)
      .flatten.mkString("; "))
  }

  /** PARTITION-SCOPED ATOMIC OVERWRITE — Delta's `replaceWhere` on the
    * partition column / Spark's dynamic partition overwrite, and the
    * engine's `INSERT OVERWRITE ... PARTITION (p_date='...')` face:
    * replace ONLY the named partitions' content with `df` in one
    * snapshot commit. The reference's table shape is literally a
    * DAY-partitioned time series (readme.md:38–43), where
    * "re-backfill one day" is the most common maintenance operation —
    * a whole-table [[overwrite]] for that is a full rewrite plus a
    * conflict with every concurrent writer.
    *
    * `values` empty = DYNAMIC: the partitions touched by `df`'s own
    * rows replace, everything else survives untouched. `values`
    * non-empty = STATIC spec: exactly those partitions replace, and a
    * `df` row landing OUTSIDE them is a loud error (never silently
    * written elsewhere or dropped); an empty `df` truncates the named
    * partitions. Untouched partitions' files are CARRIED — same
    * bytes, same stats/bloom/dv lines — so time travel reaches the
    * pre-overwrite state and the write cost is O(replaced partitions),
    * not O(table). OCC: concurrent pure appends into OTHER partitions
    * absorb (the write-serializable outcome of append-then-overwrite);
    * an append or deletion vector INSIDE a replaced partition aborts
    * loudly after rolling the staged files back. The schema must match
    * the table's (a partition-scoped write can never fork the schema).
    * With the change feed enabled, the commit carries pre-images as
    * deletes plus the new rows as inserts in one sidecar. Returns the
    * number of replaced (old) files.
    */
  def overwritePartitions(df: DataFrame, destPath: String,
      partitionField: String, values: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      checkpointDir: Option[String] = None): Long = {
    val spark = df.sparkSession
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    // pin the incoming rows ONCE: the containment check, the dynamic
    // value derivation, the change-feed images, and the staged write
    // would otherwise each re-execute the source plan (3–4x the cost
    // on the highest-frequency maintenance verb), and a
    // nondeterministic source could diverge between the check and
    // the write
    val (dfP0, pcols) = withPartitionCols(df, partitionField)
    val (dfP, unpin) = pinFrame(dfP0, checkpointDir)
    try {
    val pcol = pcols.head // p_date, or the generic partition column
    val hourly = pcols.length == 2
    // value forms: "d" replaces a whole day — or, on a GENERIC layout,
    // one partition value ("en" of lang=en/); "d/h" replaces one hour
    // of a date/hour layout
    require(values.forall(v =>
        !v.contains("..") && v.split('/').length <= 2 &&
          (hourly || !v.contains('/'))),
      s"[graft] overwritePartitions: values must be '<value>' " +
        s"(or 'date/hour' on an hourly layout): ${values.mkString(",")}")
    def canonHour(h: String): Int =
      canonPartitionHour(h, "overwritePartitions")
    def valuePred(v: String): org.apache.spark.sql.Column =
      v.split('/') match {
        case Array(d) => col(pcol).cast("string") === d
        case Array(d, h) => col(pcol).cast("string") === d &&
          col(Ingest.PartitionHourCol) === canonHour(h)
      }
    // first write on a fresh table: a plain partitioned append (the
    // static-spec row containment still holds below via the same check)
    val isFresh = !fs.exists(dest) || manifests(fs, destPath).isEmpty
    val anyNull = pcols.map(col(_).isNull).reduce(_ || _)
    if (values.nonEmpty) {
      val strays = dfP.where(anyNull ||
        !values.map(valuePred).reduce(_ || _)).count()
      require(strays == 0L,
        s"[graft] overwritePartitions: $strays row(s) fall outside " +
          s"the static partition spec (${values.mkString(",")}) — " +
          "rows are never silently dropped or written elsewhere")
    } else
      require(dfP.where(anyNull).isEmpty,
        "[graft] overwritePartitions: rows with a null partition " +
          "value cannot be routed")
    if (isFresh) {
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        statsAppend(df, destPath, Some(partitionField),
          if (statsCols.nonEmpty) statsCols else bloomCols,
          bloomCols = bloomCols, bloomBits = bloomBits)
      else append(df, destPath, Some(partitionField))
      return 0L
    }
    val sroot = stagingRoot(destPath)
    require(!(fs.exists(sroot) && fs.listStatus(sroot).nonEmpty),
      s"[graft] overwritePartitions: staged attempts are pending " +
        s"under $sroot — run recover/finishCommit first")
    val replacedValues: Seq[String] =
      if (values.nonEmpty) values.distinct.sorted
      else dfP.select(concat_ws("/",
          pcols.map(c => col(c).cast("string")): _*))
        .distinct().collect().map(_.getString(0)).toSeq.sorted
    if (replacedValues.isEmpty) return 0L // dynamic + empty df: no-op
    // the dynamic path derives values from DATA — hold them to the
    // same guard as static specs ('..' must never reach a directory
    // name; date/hour values are to_date/hour-derived and never
    // carry either, so this only ever bites generic layouts)
    require(replacedValues.forall(v => !v.contains("..")),
      s"[graft] overwritePartitions: a derived partition value " +
        s"contains '..': ${replacedValues.filter(_.contains(".."))
          .mkString(",")}")
    // capture the log ONCE (the optimize/rewrite protocol)
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    val tableKeys = layoutKeysOf(targets)
    require(targets.isEmpty ||
        tableKeys.map(_.toLowerCase) == pcols.map(_.toLowerCase),
      s"[graft] overwritePartitions: the table is " +
        (if (tableKeys.isEmpty) "not partitioned"
         else s"partitioned by (${tableKeys.mkString("/")})") +
        s" but partitionField '$partitionField' derives the " +
        s"(${pcols.mkString("/")}) layout")
    effectiveSchemaOf(fs, old).foreach { cur =>
      // the staged files carry df's columns minus the derived
      // partition directory columns
      val incoming = StructType(df.schema.fields.filterNot(f =>
        pcols.exists(_.equalsIgnoreCase(f.name))))
      schemaMismatch(cur, incoming).foreach(why =>
        throw new IllegalArgumentException(
          s"[graft] overwritePartitions: incoming schema does not " +
            s"match the table schema ($why) — a partition-scoped " +
            "overwrite cannot change the schema"))
    }
    // prefixes must match the writer's hive-ESCAPED directory names
    // (a generic value like "a b" lands as "a%20b"). Branch on the
    // LAYOUT, never on the value's shape: a single-level generic
    // value containing '/' (lang = "a/4") must stay ONE value — the
    // old value-shape split misparsed it as a date/hour pair, matched
    // no target, and committed the new rows WITHOUT replacing the
    // partition (silent duplicates)
    def esc(v: String): String = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(v)
    val prefixes = replacedValues.map { v =>
      if (!hourly) s"$pcol=${esc(v)}/"
      else v.split('/') match {
        case Array(d) => s"$pcol=${esc(d)}/"
        case Array(d, h) =>
          s"$pcol=${esc(d)}/${Ingest.PartitionHourCol}=${canonHour(h)}/"
      }
    }
    val replaced = targets.filter(t => prefixes.exists(t.startsWith)).toSet
    val kept = targets.filterNot(replaced)
    // a concurrent pure append absorbs iff it lands OUTSIDE the
    // replaced partitions; an append INTO one is a conflict (this
    // overwrite never saw its rows — replacing them silently would
    // erase a concurrent writer's commit)
    val absorbOk: Seq[Path] => Boolean = newMfs =>
      newMfs.flatMap(readManifest(fs, _)._2)
        .forall(t => !prefixes.exists(t.startsWith))
    replaceContentCommit(spark, destPath, dfP, pcols,
      replaced, kept, old, baseVersion, statsCols, bloomCols,
      bloomBits, absorbOk, Some(prefixes), "ow") match {
      case Some(_) =>
        println(s"METRIC graft.overwrite_partitions.replaced=" +
          s"${replaced.size} values=${replacedValues.mkString(",")} " +
          s"snapshot_version=${baseVersion + 1} dest=$destPath")
        replaced.size.toLong
      case None =>
        throw new IllegalStateException(
          s"[graft] overwritePartitions: lost the commit slot to a " +
            s"concurrent writer inside a replaced partition of " +
            s"$destPath (base v$baseVersion) — staged files rolled " +
            "back; retry against the advanced log")
    }
    } finally unpin() // reliable-pin parquet swept after the commit
  }

  /** Shared snapshot-replace core for [[overwritePartitions]] and
    * [[mergeFullSync]]: stage `dfP` (already carrying the derived
    * partition column when `pcol` is set) into the destination
    * layout with fresh stats/bloom metadata, capture exact change-feed
    * images when the feed is enabled (replaced files' rows as deletes,
    * incoming rows as inserts, one sidecar), and commit ONE snapshot
    * in which `kept` survives verbatim (stats/dv/bloom lines carried).
    * Returns Some(new file count) on commit; None when the OCC slot
    * was lost — staged files are rolled back either way, the caller
    * decides loud-throw vs status.
    */
  private def replaceContentCommit(spark: SparkSession,
      destPath: String, dfP: DataFrame, pcols: Seq[String],
      replaced: Set[String], kept: Seq[String], old: Seq[Path],
      baseVersion: Long, statsCols: Seq[String],
      bloomCols: Seq[String], bloomBits: Int,
      canAbsorb: Seq[Path] => Boolean,
      containPrefixes: Option[Seq[String]],
      widPrefix: String): Option[Long] = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val sroot = stagingRoot(destPath)
    val stats = fileStatsOf(fs, old)
    val statsByTgt: Map[String, Seq[String]] =
      stats.keys.groupBy(_._1).map { case (t, ks) =>
        t -> ks.map(_._2).toSeq.sorted }
    val dvs = effectiveDvsOf(fs, old)
    // COLUMN MAPPING: staged data files and the change-data sidecar
    // carry PHYSICAL names (like every committed file); derived
    // partition columns are never mapped
    val cmap = mappingFor(fs, old)
    val writeId = widPrefix +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val sideMoves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val extraLines = scala.collection.mutable.ArrayBuffer[String]()
    try {
      // CHANGE DATA FEED: pre-images of the replaced files as deletes
      // + the incoming rows as inserts, one sidecar, tagged at write
      // time (the Delta CDF cost model)
      if (changeFeedEnabled(fs, dest)) {
        // dv-aware pre-images: a row already tombstoned by an earlier
        // commit was deleted THEN, not by this replace
        val del =
          if (replaced.isEmpty) None
          else Some(readFilesDv(spark, destPath,
              replaced.toSeq.sorted, dvs, withBase = true)
            .withColumn("_change_type", lit("delete")))
        val ins = dfP.withColumn("_change_type", lit("insert"))
        val frame = del match {
          case Some(d) => d.unionByName(ins, allowMissingColumns = true)
          case None    => ins
        }
        stageCdfParts(spark, fs, staging, toPhysicalDf(frame, cmap),
            writeId, "snapshot replace").foreach { case (part, rel, n) =>
          sideMoves += ((part, rel))
          extraLines += s"cdf\t$rel\t$n"
        }
      }
      // stage the incoming rows in their partition layout
      val dataOut = new Path(staging, "data")
      val dfW = toPhysicalDf(dfP, cmap)
      val writer =
        if (pcols.nonEmpty) dfW.write.partitionBy(pcols: _*)
        else dfW.write
      writer.mode("overwrite").parquet(dataOut.toString)
      val stagedRels = listFilesRec(fs, dataOut)
        .map(_._1)
        .filter(p => !p.getName.startsWith("_") &&
          !p.getName.startsWith("."))
        .map(p => fs.makeQualified(p).toString
          .stripPrefix(fs.makeQualified(dataOut).toString + "/"))
        .sorted
      val relToTarget: Map[String, String] =
        stagedRels.zipWithIndex.map { case (rel, i) =>
          val dir = rel.lastIndexOf('/') match {
            case -1 => ""
            case k  => rel.substring(0, k + 1)
          }
          rel -> s"$dir$writeId-$i.parquet"
        }.toMap
      // every staged file must land INSIDE a replaced partition — the
      // caller's containment check guarantees it for static specs and
      // the value derivation for dynamic ones; verify anyway (a silent
      // stray would survive the next overwrite of its partition)
      containPrefixes.foreach(ps =>
        relToTarget.values.foreach(t => require(
          ps.exists(t.startsWith),
          s"[graft] snapshot replace: staged file $t falls outside " +
            s"the replaced partitions")))
      assertDirValuesRoundTrip(relToTarget.values,
        kept ++ replaced, "snapshot replace")
      val dataCols = dfP.columns.toSeq
        .filterNot(c => pcols.exists(_.equalsIgnoreCase(c)))
      // stats/bloom columns arrive LOGICAL (Scala callers) or
      // PHYSICAL (threaded from SnapshotHandle.statsColumns):
      // normalize to logical for the frame filter, hand the staged
      // (physical) readers physical names
      val p2l = cmap.map(_.swap)
      def normCols(cols: Seq[String]): Seq[String] = physColsOf(
        cols.map(c => p2l.getOrElse(c, c)).filter(c =>
          dataCols.exists(_.equalsIgnoreCase(c))), cmap)
      val sc = normCols(statsCols)
      val bc = normCols(bloomCols)
      val effSc = if (sc.nonEmpty) sc else bc
      if (effSc.nonEmpty && relToTarget.nonEmpty)
        extraLines ++= statsLinesFor(spark, fs, dataOut, relToTarget,
          effSc)
      if (bc.nonEmpty && relToTarget.nonEmpty) {
        val bloomRel = s"$BloomDir/$writeId.parquet"
        val (inline, metas, wordsOpt) =
          bloomWordsFor(spark, fs, dataOut, relToTarget, bc, bloomBits)
        extraLines ++= inline
        extraLines ++= metas.map { case (tgt, c, m, k) =>
          bloomScLine(tgt, c, m, k, bloomRel) }
        wordsOpt.foreach { w =>
          val part = w match {
            case Left(rows) => writeBloomSidecarDriver(fs, staging, rows)
            case Right(wdf) => writeBloomSidecar(fs, staging, wdf)
          }
          sideMoves += ((part, bloomRel))
          extraLines += s"sidecar\t$bloomRel"
        }
      }
      val orderedMoves = relToTarget.toSeq.sortBy(_._2).map {
        case (rel, tgt) => (new Path(dataOut, rel), tgt) }
      moves ++= orderedMoves
      writeFile(fs, new Path(staging, WaManifest),
        (moves ++ sideMoves).map("target\t" + _._2).mkString("\n"))
      (moves ++ sideMoves).foreach { case (part, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part, tgt),
          s"[graft] snapshot replace move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        (moves ++ sideMoves).foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }
    val survivors = kept ++ moves.map(_._2)
    val carriedStats = kept.flatMap { t =>
      statsByTgt.getOrElse(t, Nil).flatMap(c =>
        stats.get((t, c)).map(st => statsLine(t, c, st)))
    }
    onBeforeRewriteCommit()
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors,
        carriedStats ++ dvCarryLines(dvs, kept) ++
          bloomCarryLines(fs, old, kept) ++ extraLines.toSeq,
        old, (moves ++ sideMoves).map(_._2).toSeq,
        canAbsorb = canAbsorb)) None
    else Some(moves.length.toLong)
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column-mapping
    * "name mode"): one `schemaevo` commit changes the column's LOGICAL
    * name and records its stable PHYSICAL name (the name its bytes
    * live under in every data file — its name at first write) in the
    * field's `graft.physical` metadata. No data file is rewritten at
    * any table size; readers scan under the physical schema and
    * surface the logical name; writers map logical frames back to
    * physical before staging; skipping stats and bloom filters keep
    * their as-written (physical) keys with predicates translated at
    * the prune boundary. Chained renames keep the ORIGINAL physical
    * name; renaming back to it drops the mapping. Time travel below
    * the commit reads the old name; RESTORE below it restores the old
    * schema. Partition-layout columns refuse (their values live in
    * directory names). Returns 0 (files rewritten) — use
    * [[renameColumnRewrite]] to physically rewrite instead.
    */
  def renameColumn(spark: SparkSession, destPath: String,
      from: String, to: String): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    require(fs.exists(dest) && manifests(fs, destPath).nonEmpty,
      s"[graft] renameColumn: $destPath has no committed versions")
    val targets = effectiveTargetsOf(fs, resolvedLog(fs, destPath))
    val layoutCols: Seq[String] = targets.headOption.map { t =>
      t.split('/').init.filter(_.contains('=')).map(s =>
        s.substring(0, s.indexOf('='))).toSeq
    }.getOrElse(Nil)
    require(!layoutCols.exists(_.equalsIgnoreCase(from)),
      s"[graft] renameColumn: '$from' is a partition-layout column — " +
        "its values live in directory names; repartition the table " +
        "instead")
    alterSchema(spark, destPath, cur => {
      val i = cur.fieldNames.indexWhere(_.equalsIgnoreCase(from))
      require(i >= 0,
        s"[graft] renameColumn: column '$from' does not exist " +
          s"(columns: ${cur.fieldNames.mkString(", ")})")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"[graft] renameColumn: column '$to' already exists")
      val f = cur.fields(i)
      val phys = physNameOf(f)
      // `to` must not shadow ANOTHER column's physical name: data
      // files and stats lines key on physical names, and an aliased
      // pair would be indistinguishable at scan time
      cur.fields.zipWithIndex.foreach { case (o, j) =>
        require(j == i || !physNameOf(o).equalsIgnoreCase(to),
          s"[graft] renameColumn: '$to' is the physical (file) name " +
            s"of column '${o.name}' — pick a different name")
      }
      val md =
        if (to == phys)
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(PhysicalKey).build()
        else
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, phys)
            .build()
      StructType(cur.fields.updated(i,
        f.copy(name = to, metadata = md)))
    })
    println(s"METRIC graft.rename_column.from=$from to=$to " +
      s"files=0 dest=$destPath")
    0L
  }

  /** RENAME COLUMN as a physical REWRITE commit — the pre-mapping
    * behavior, kept for layout hygiene (a table whose files should
    * carry the new name physically, e.g. before handing the directory
    * to a non-graft reader that resolves columns from footers alone):
    * ONE atomic snapshot-replace of the table content with the column
    * renamed, skipping stats and bloom filters rebuilt under the new
    * name, and history retained (RESTORE reaches the pre-rename
    * state). O(table) by design. Returns the number of files
    * rewritten.
    */
  def renameColumnRewrite(spark: SparkSession, destPath: String,
      from: String, to: String): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    require(fs.exists(dest) && manifests(fs, destPath).nonEmpty,
      s"[graft] renameColumn: $destPath has no committed versions")
    val handle = snapshotHandle(spark, destPath)
    val targets = handle.targets
    val layoutCols: Seq[String] = targets.headOption.map { t =>
      t.split('/').init.filter(_.contains('=')).map(s =>
        s.substring(0, s.indexOf('='))).toSeq
    }.getOrElse(Nil)
    require(!layoutCols.exists(_.equalsIgnoreCase(from)),
      s"[graft] renameColumn: '$from' is a partition-layout column — " +
        "its values live in directory names; repartition the table " +
        "instead")
    val back = readBack(spark, destPath)
    val actualFrom = back.columns.find(_.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"[graft] renameColumn: column '$from' does not exist " +
          s"(columns: ${back.columns.mkString(", ")})"))
    require(!back.columns.exists(_.equalsIgnoreCase(to)),
      s"[graft] renameColumn: column '$to' already exists")
    val renamed = back.withColumnRenamed(actualFrom, to)
    def mv(cols: Seq[String]): Seq[String] =
      cols.map(c => if (c.equalsIgnoreCase(from)) to else c)
    // stats/bloom columns surface as-written (physical) — a mapped
    // table's rewrite rebuilds them under the frame's LOGICAL names
    val p2l = mappingOf(handle.schemaOpt).map(_.swap)
    def logi(cols: Seq[String]): Seq[String] =
      cols.map(c => p2l.getOrElse(c, c))
    val sc = mv(logi(handle.statsColumns))
    val bc = mv(logi(handle.bloomColumns))
    // the rewrite keeps the layout: p_date[/p_hour] specs re-derive
    // through the identity; a generic layout column passes through
    // by value (readBack surfaces it from the directories)
    val spec: Option[String] =
      if (layoutCols.isEmpty) None
      else if (layoutCols.length == 1 &&
          !layoutCols.head.equalsIgnoreCase(Ingest.PartitionCol))
        Some(s"val(${layoutCols.head})")
      else Some(layoutCols.mkString("/"))
    overwrite(renamed, destPath, spec,
      if (sc.nonEmpty) sc else bc, bc, overwriteSchema = true)
    println(s"METRIC graft.rename_column.from=$from to=$to " +
      s"files=${targets.length} dest=$destPath")
    targets.length.toLong
  }

  /** FULL-SYNC MERGE — Delta's `WHEN MATCHED THEN UPDATE SET * WHEN
    * NOT MATCHED THEN INSERT * WHEN NOT MATCHED BY SOURCE THEN
    * DELETE`: after the commit the table's content IS the source (the
    * source-reloaded-from-scratch replication shape), in ONE atomic
    * snapshot — matched keys replaced, unmatched source rows inserted,
    * and target rows whose key VANISHED from the source deleted, so
    * readers never observe a half-synced state. Counts are computed
    * from one slim key-frame join against the captured snapshot
    * (keys only — no wide shuffle), the change feed (when enabled)
    * carries exact pre/post images, and the OCC contract is the
    * overwrite's: a full sync conflicts with EVERY concurrent commit
    * and returns [[MergeOutcome.Aborted]] rather than absorbing.
    * The source must be key-unique (the [[mergeInto]] contract) and
    * schema-compatible (a sync cannot fork the schema).
    */
  def mergeFullSync(spark: SparkSession, destPath: String,
      source: DataFrame, keyCol: String,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      checkpointDir: Option[String] = None): MergeOutcome = {
    require(source.columns.contains(keyCol),
      s"[graft] mergeFullSync: source lacks key column '$keyCol'")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val (src, unpin) = pinFrame(source, checkpointDir)
    try {
    // one source-profile job (count + distinct keys), as in mergeSync
    val prof = src.agg(count(lit(1)),
      countDistinct(col(keyCol)) +
        coalesce(max(when(col(keyCol).isNull, 1L).otherwise(0L)),
          lit(0L))).head
    val nSrc = prof.getLong(0)
    val nKeys = prof.getLong(1)
    require(nKeys == nSrc,
      s"[graft] mergeFullSync: source keys must be unique — " +
        s"$nSrc rows over $nKeys distinct '$keyCol' values")
    val sroot = stagingRoot(destPath)
    if (fs.exists(sroot) && fs.listStatus(sroot).nonEmpty)
      return MergeOutcome.Skipped
    if (!fs.exists(dest) || manifests(fs, destPath).isEmpty) {
      // nothing to sync against: the whole source inserts
      if (nSrc == 0) return MergeOutcome.NoChange("empty source+table")
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        statsAppend(src, destPath, partitionField,
          if (statsCols.nonEmpty) statsCols else bloomCols,
          bloomCols = bloomCols, bloomBits = bloomBits)
      else append(src, destPath, partitionField)
      return MergeOutcome.Merged(0L, nSrc, 0L)
    }
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    val layoutCols = partitionField
      .map(f => partitionColsOf(f, src)).getOrElse(Nil)
    // the sync must keep the table's partition layout: a sync called
    // without partitionField on a partitioned table would silently
    // FLATTEN it (downstream partition-filtered reads change), a
    // day-spec sync of an hourly table would mix granularities, and a
    // generic-layout sync must name the SAME partition column
    val tableKeys = layoutKeysOf(targets)
    if (targets.nonEmpty) {
      require(tableKeys.nonEmpty == partitionField.isDefined,
        s"[graft] mergeFullSync: the table is " +
          (if (tableKeys.nonEmpty) "partitioned" else "unpartitioned") +
          s" but partitionField is " +
          (if (partitionField.isDefined) "set" else "not set") +
          " — a full sync keeps the layout")
      require(tableKeys.isEmpty ||
          layoutCols.map(_.toLowerCase) == tableKeys.map(_.toLowerCase),
        s"[graft] mergeFullSync: the table layout is " +
          s"(${tableKeys.mkString("/")}) but partitionField " +
          s"'${partitionField.getOrElse("")}' derives " +
          s"(${layoutCols.mkString("/")}) — a full sync keeps the " +
          "layout")
    }
    effectiveSchemaOf(fs, old).foreach { cur =>
      val incoming = StructType(src.schema.fields.filterNot(f =>
        layoutCols.exists(_.equalsIgnoreCase(f.name))))
      schemaMismatch(cur, incoming).foreach(why =>
        throw new IllegalArgumentException(
          s"[graft] mergeFullSync: source schema does not match the " +
            s"table schema ($why) — a full sync cannot fork the schema"))
    }
    // counts from key frames only: updated = keys in both, deleted =
    // live target ROWS whose key vanished, inserted = source rows
    // whose key is new. OVERLAPPED (guide §2.6): the count aggregate
    // scans the whole live table but decides nothing — only the
    // returned outcome carries it — while the snapshot-replace write
    // below scans the pinned SOURCE; the two job sets share no data
    // dependency, so the counts run on a driver thread and backfill
    // the same executors. Old data files are never deleted by the
    // commit (the retained-manifest model), so the concurrent read is
    // safe; an aborted commit just discards the counted result.
    val dvsForKeys = effectiveDvsOf(fs, old)
    val countsF: scala.concurrent.Future[(Long, Long)] =
      if (targets.isEmpty) scala.concurrent.Future.successful((0L, 0L))
      else scala.concurrent.Future {
        val tKeys = readFilesDv(spark, destPath, targets, dvsForKeys,
          withBase = false).select(col(keyCol).as("__k"))
        val sKeys = src.select(col(keyCol).as("__k")).distinct()
        val j = tKeys.join(sKeys.withColumn("__s", lit(1)),
            Seq("__k"), "left")
          .agg(
            countDistinct(when(col("__s").isNotNull, col("__k")))
              .as("updated"),
            sum(when(col("__s").isNull, 1L).otherwise(0L))
              .as("deleted"))
          .head
        (j.getLong(0), if (j.isNullAt(1)) 0L else j.getLong(1))
      }(scala.concurrent.ExecutionContext.global)
    def counts(): (Long, Long) = scala.concurrent.Await.result(countsF,
      scala.concurrent.duration.Duration.Inf)
    if (nSrc == 0 && targets.isEmpty)
      return MergeOutcome.NoChange("empty source+table")
    val (dfP, pcols) = partitionField match {
      case Some(f) => withPartitionCols(src, f)
      case None    => (src, Nil)
    }
    val commitRes =
      try replaceContentCommit(spark, destPath, dfP, pcols,
        replaced = targets.toSet, kept = Nil, old, baseVersion,
        statsCols, bloomCols, bloomBits,
        canAbsorb = _ => false, containPrefixes = None, "fs")
      catch {
        case e: Throwable =>
          // drain before the finally-unpin sweeps the pinned source
          try counts() catch { case _: Throwable => () }
          throw e
      }
    commitRes match {
      case Some(_) =>
        // the commit is durable: a failed count must not turn it into
        // an exception (a retry would commit a second version) — the
        // outcome reports -1 counts and the metric line flags it
        scala.util.Try(counts()) match {
          case scala.util.Success((updated, deleted)) =>
            val inserted = nSrc - updated
            println(s"METRIC graft.merge_full_sync.updated=$updated " +
              s"inserted=$inserted deleted=$deleted " +
              s"snapshot_version=${baseVersion + 1} dest=$destPath")
            MergeOutcome.Merged(updated, inserted, deleted)
          case scala.util.Failure(e) =>
            println(s"METRIC graft.merge_full_sync.counts_failed=1 " +
              s"error=${e.getClass.getSimpleName} " +
              s"snapshot_version=${baseVersion + 1} dest=$destPath")
            MergeOutcome.Merged(-1L, -1L, -1L)
        }
      case None =>
        counts() // drain the background job before returning
        println(s"METRIC graft.merge_full_sync.aborted_log_advanced=1 " +
          s"base_version=$baseVersion dest=$destPath")
        MergeOutcome.Aborted
    }
    } finally unpin() // reliable-pin parquet swept after the commit
  }

  /** INCREMENTAL full sync — the same `WHEN MATCHED THEN UPDATE SET *
    * / WHEN NOT MATCHED THEN INSERT * / WHEN NOT MATCHED BY SOURCE
    * ...` outcome as [[mergeFullSync]], committed as dv tombstones +
    * appends instead of a whole-table snapshot replace: ONE full-outer
    * join of the live table against the source on `keyCol` classifies
    * every row, only the rows that actually CHANGED are materialized
    * (value-identical matches — the overwhelming majority of a
    * periodic re-sync — are never tombstoned, rewritten, or fed to the
    * change feed; replaying the feed still reconstructs the table
    * exactly, because an unchanged row needs no feed entry), and the
    * commit is a plain INCREMENTAL manifest, so every untouched data
    * file stays byte-identical on disk. Write cost is O(changed rows)
    * where [[mergeFullSync]] pays O(table); a re-sync of an identical
    * source commits NOTHING ([[MergeOutcome.NoChange]]). Delta rewrites
    * whole files containing changes; the dv form is strictly narrower.
    *
    * The NOT-MATCHED-BY-SOURCE action generalizes Delta's clause
    * forms: `bySourceCond` restricts which vanished-key rows are
    * affected (`AND <cond> THEN ...` — rows failing it are KEPT), and
    * `bySourceSet` switches the action from DELETE to `UPDATE SET ...`
    * (the soft-delete flagging shape); the SET expressions evaluate
    * against the OLD target row and may not touch the key or a
    * partition column. Counts follow Delta: `updated` = matched source
    * keys (even value-identical ones — the skip is physical, not
    * semantic) plus by-source UPDATE rows; `deleted` counts by-source
    * DELETE rows only.
    *
    * Same contracts as [[mergeInto]]: key-unique source, schema
    * compatibility, layout preservation (`partitionField` must match
    * the table's layout; appended rows land in their derived
    * partitions), pending-attempt skip, and OCC abort if the log
    * advanced — but unlike the snapshot replace, the commit here is
    * incremental and could in principle absorb concurrent appends;
    * it still aborts, because a concurrent append may add keys the
    * source lacks, which this sync would have deleted.
    */
  def mergeSync(spark: SparkSession, destPath: String,
      source: DataFrame, keyCol: String,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bySourceCond: Option[Column] = None,
      bySourceSet: Option[Map[String, Column]] = None,
      checkpointDir: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits): MergeOutcome = {
    require(source.columns.contains(keyCol),
      s"[graft] mergeSync: source lacks key column '$keyCol'")
    bySourceSet.foreach(_.keys.foreach { k =>
      require(!k.equalsIgnoreCase(keyCol),
        s"[graft] mergeSync: NOT MATCHED BY SOURCE UPDATE cannot SET " +
          s"the merge key '$k'")
    })
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val unpins = scala.collection.mutable.ArrayBuffer[() => Unit]()
    def pin(df: DataFrame): DataFrame = {
      val (p, u) = pinFrame(df, checkpointDir); unpins += u; p
    }
    val src = pin(source)
    try {
    // one source-profile job (count + distinct keys) — not two
    // driver-paced actions; the any-null indicator restores
    // distinct()'s null-counts-once semantics under countDistinct
    val prof = src.agg(count(lit(1)),
      countDistinct(col(keyCol)) +
        coalesce(max(when(col(keyCol).isNull, 1L).otherwise(0L)),
          lit(0L))).head
    val nSrc = prof.getLong(0)
    val nKeys = prof.getLong(1)
    require(nKeys == nSrc,
      s"[graft] mergeSync: source keys must be unique — " +
        s"$nSrc rows over $nKeys distinct '$keyCol' values")
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "merge_sync"))
      return MergeOutcome.Skipped
    if (!fs.exists(dest) || manifests(fs, destPath).isEmpty) {
      if (nSrc == 0) return MergeOutcome.NoChange("empty source+table")
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        statsAppend(src, destPath, partitionField,
          if (statsCols.nonEmpty) statsCols else bloomCols,
          bloomCols = bloomCols, bloomBits = bloomBits)
      else append(src, destPath, partitionField)
      return MergeOutcome.Merged(0L, nSrc, 0L)
    }
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    val layoutCols = partitionField
      .map(f => partitionColsOf(f, src)).getOrElse(Nil)
    val tableKeys = layoutKeysOf(targets)
    if (targets.nonEmpty) {
      require(tableKeys.nonEmpty == partitionField.isDefined,
        s"[graft] mergeSync: the table is " +
          (if (tableKeys.nonEmpty) "partitioned" else "unpartitioned") +
          s" but partitionField is " +
          (if (partitionField.isDefined) "set" else "not set") +
          " — a sync keeps the layout")
      require(tableKeys.isEmpty ||
          layoutCols.map(_.toLowerCase) == tableKeys.map(_.toLowerCase),
        s"[graft] mergeSync: the table layout is " +
          s"(${tableKeys.mkString("/")}) but partitionField " +
          s"'${partitionField.getOrElse("")}' derives " +
          s"(${layoutCols.mkString("/")}) — a sync keeps the layout")
    }
    effectiveSchemaOf(fs, old).foreach { cur =>
      val incoming = StructType(src.schema.fields.filterNot(f =>
        layoutCols.exists(_.equalsIgnoreCase(f.name))))
      schemaMismatch(cur, incoming).foreach(why =>
        throw new IllegalArgumentException(
          s"[graft] mergeSync: source schema does not match the " +
            s"table schema ($why) — a sync cannot fork the schema"))
    }
    if (targets.isEmpty) {
      if (nSrc == 0) return MergeOutcome.NoChange("empty source+table")
      if (statsCols.nonEmpty || bloomCols.nonEmpty)
        statsAppend(src, destPath, partitionField,
          if (statsCols.nonEmpty) statsCols else bloomCols,
          bloomCols = bloomCols, bloomBits = bloomBits)
      else append(src, destPath, partitionField)
      return MergeOutcome.Merged(0L, nSrc, 0L)
    }
    val stats = fileStatsOf(fs, old)
    val dvs = effectiveDvsOf(fs, old)

    // ONE wide pass: full-outer join of the LIVE table (existing dvs
    // applied — read WITH the partition directory columns, so layout
    // values join the identity test: a row whose key kept its data
    // but MOVED partitions is a change) against the source on the
    // key, keeping ONLY the rows that require physical work —
    // value-identical matches and condition-failing vanished keys
    // drop out before the checkpoint, so the materialized frame is
    // O(changed rows), not O(table)
    val t = readFilesDvMeta(spark, destPath, targets, dvs,
      withBase = true)
    // the source derives its layout columns exactly like a write
    // (p_date from the timestamp, or the generic column as-is)
    val (srcP, pcols) = partitionField match {
      case Some(f) => withPartitionCols(src, f)
      case None    => (src, Seq.empty[String])
    }
    val allCols = t.columns
      .filterNot(c => c == "__graft_fn" || c == "__graft_pos").toSeq
    val dataCols = allCols.filterNot(c =>
      pcols.exists(_.equalsIgnoreCase(c)))
    bySourceSet.foreach(_.keys.foreach { k =>
      require(dataCols.exists(_.equalsIgnoreCase(k)),
        s"[graft] mergeSync: NOT MATCHED BY SOURCE SET column '$k' " +
          s"not in the file schema (${dataCols.mkString(", ")})")
    })
    val s2 = srcP
      .select(allCols.map(c => col(c).as(s"__s_$c")) :+
        lit(1).as("__s"): _*)
    val j = t.join(s2, col(keyCol) === col(s"__s_$keyCol"),
      "full_outer")
    val tOnly = col("__s").isNull && col("__graft_fn").isNotNull
    val sOnly = col("__graft_fn").isNull
    val matched = col("__s").isNotNull && col("__graft_fn").isNotNull
    val same = allCols.map(c => col(c) <=> col(s"__s_$c"))
      .reduce(_ && _)
    val bySrcHit = tOnly &&
      bySourceCond.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    val changed = pin(j
      .where(sOnly || (matched && !same) || bySrcHit))
    // ONE action over the pinned frame: the global change counts AND
    // the per-file tombstone counts (the dv manifest lines) ride one
    // union — the old shape ran the global aggregate, wrote the dv
    // sidecar, then READ IT BACK for the per-file counts (two extra
    // driver-paced jobs at every sync)
    val cntRows = changed.where(col("__graft_fn").isNotNull)
      .groupBy(col("__graft_fn"))
      .agg(count(lit(1)).as("n"))
      .select(col("__graft_fn").as("__f"), col("n"),
        lit(-1L).as("n2"), lit(-1L).as("n3"))
      .unionByName(changed.agg(
          sum(when(sOnly, 1L).otherwise(0L)).as("n"),
          sum(when(col("__s").isNull, 1L).otherwise(0L)).as("n2"),
          count(lit(1)).as("n3"))
        .select(lit(null).cast("string").as("__f"), col("n"),
          col("n2"), col("n3")))
      .collect()
    val cnt = cntRows.find(_.isNullAt(0)).get
    val perName: Map[String, Long] = cntRows.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def agg0(i: Int): Long = if (cnt.isNullAt(i)) 0L else cnt.getLong(i)
    val inserted = agg0(1)
    val bySrcRows = agg0(2)
    val total = agg0(3)
    if (total == 0L) {
      println(s"METRIC graft.merge_sync.no_change=1 " +
        s"src_rows=$nSrc dest=$destPath")
      return MergeOutcome.NoChange("source identical to table")
    }
    val updated = (nSrc - inserted) +
      (if (bySourceSet.isDefined) bySrcRows else 0L)
    val deleted = if (bySourceSet.isDefined) 0L else bySrcRows

    // appends: source values for matched-diff and new keys (layout
    // columns carried through), plus — under the UPDATE action — the
    // vanished-key rows with SET applied against their OLD values
    val srcRows = changed.where(col("__s").isNotNull)
      .select(allCols.map(c => col(s"__s_$c").as(c)): _*)
    val appends = bySourceSet match {
      case Some(set) =>
        srcRows.unionByName(changed.where(tOnly)
          .select(allCols.map(c =>
            set.get(c).orElse(
                set.find(_._1.equalsIgnoreCase(c)).map(_._2))
              .map(_.as(c)).getOrElse(col(c))): _*))
      case None => srcRows
    }
    val tombstones = changed.where(col("__graft_fn").isNotNull)
      .select(col("__graft_fn").as("name"), col("__graft_pos").as("pos"))

    val writeId = "ms" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val dvRel = s"$DvDir/$writeId.parquet"
    val bloomRel = s"$BloomDir/$writeId.parquet"
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    val newBlooms = scala.collection.mutable.ArrayBuffer[String]()
    val insRows = scala.collection.mutable.Map.empty[String, Long]
    var dvLines = Seq.empty[String]
    try {
      val relOfName: Map[String, String] =
        targets.map(rel => fileNameOf(rel) -> rel).toMap
      // per-file tombstone counts rode the change-count action above —
      // an insert-only sync (no tombstones) skips the dv write outright
      if (perName.nonEmpty) {
        val dvOut = new Path(staging, "dv")
        tombstones.orderBy(col("name"), col("pos"))
          .coalesce(1).write.mode("overwrite").parquet(dvOut.toString)
        val dvPart = fs.listStatus(dvOut).map(_.getPath)
          .find(p => p.getName.startsWith("part-") &&
            p.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"[graft] mergeSync: no part file under $dvOut"))
        moves += ((dvPart, dvRel))
        dvLines = perName.toSeq.sortBy(_._1).map { case (n, c) =>
          s"dv\t${relOfName(n)}\t$dvRel\t$c"
        }
      }
      val insOut = new Path(staging, "ins")
      val appendsW = toPhysicalDf(appends, mappingFor(fs, old))
      val writer =
        if (pcols.nonEmpty)
          appendsW.write.mode("overwrite").partitionBy(pcols: _*)
        else appendsW.write.mode("overwrite")
      writer.parquet(insOut.toString)
      val insQ = fs.makeQualified(insOut).toString
      val insStaged = listFilesRec(fs, insOut).map(_._1)
        .filter(p => !p.getName.startsWith("_") &&
          !p.getName.startsWith("."))
        .map(p => fs.makeQualified(p).toString.stripPrefix(insQ + "/"))
        .sorted
      val conf = spark.sessionState.newHadoopConf()
      val insTargets = insStaged.flatMap { rel =>
        val dir = rel.lastIndexOf('/') match {
          case -1 => ""
          case k  => rel.substring(0, k + 1)
        }
        // empty writer tasks leave zero-row parts — skip them (a
        // no-append sync must not commit an empty file per layout dir)
        val n = footerRowCount(conf, new Path(insOut, rel))
        if (n == 0L) None
        else {
          val tgt = s"$dir$writeId-${moves.length}-" +
            s"${insStaged.indexOf(rel)}.parquet"
          insRows(tgt) = n
          Some((rel, tgt))
        }
      }
      if (statsCols.nonEmpty && insTargets.nonEmpty)
        newStats ++= statsLinesFor(spark, fs, insOut,
          insTargets.toMap, physColsOf(statsCols, mappingFor(fs, old)))
      // bloom coverage survives a sync: the appended files get
      // filters for the same columns the table already indexes (the
      // SQL route threads the snapshot's bloomColumns), so equality
      // pruning does not decay as the table churns
      if (bloomCols.nonEmpty && insTargets.nonEmpty) {
        val (inline, metas, wordsOpt) = bloomWordsFor(spark, fs,
          insOut, insTargets.toMap,
          physColsOf(bloomCols, mappingFor(fs, old)), bloomBits)
        newBlooms ++= inline
        newBlooms ++= metas.map { case (tgt, c, m, k) =>
          bloomScLine(tgt, c, m, k, bloomRel) }
        wordsOpt.foreach { w =>
          val part = w match {
            case Left(rows) => writeBloomSidecarDriver(fs, staging, rows)
            case Right(wdf) => writeBloomSidecar(fs, staging, wdf)
          }
          moves += ((part, bloomRel))
          newBlooms += s"sidecar\t$bloomRel"
        }
      }
      assertDirValuesRoundTrip(insTargets.map(_._2), targets,
        "mergeSync")
      insTargets.foreach { case (rel, target) =>
        moves += ((new Path(insOut, rel), target))
      }
      require(moves.nonEmpty, // changed rows imply at least one side
        s"[graft] mergeSync: changed=$total but nothing staged")
      writeFile(fs, new Path(staging, WaManifest),
        moves.map("target\t" + _._2).mkString("\n"))
      moves.foreach { case (part, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part, tgt),
          s"[graft] mergeSync move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        moves.foreach { case (_, tg) =>
          fs.delete(new Path(dest, tg), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }
    val newTgts = moves.map(_._2)
      .filterNot(t => t == dvRel || t == bloomRel).toSeq
    val body = (Seq(s"writeid\t$writeId") ++
      newTgts.map("target\t" + _) ++ newStats ++
      newFileLines(fs, dest, newTgts,
        rowsOfStatsLines(newStats.toSeq) ++ insRows) ++
      newBlooms.toSeq ++ dvLines).mkString("\n")
    val lp = logPath(destPath)
    fs.mkdirs(lp)
    val tmp = new Path(lp, s".tmp_$writeId")
    writeFile(fs, tmp, body)
    val version = baseVersion + 1
    val fin = new Path(lp, f"$version%012d.manifest")
    onBeforeRewriteCommit()
    val committed = commitLock(fs, destPath).synchronized {
      val nowMax = manifests(fs, destPath)
        .map(_.getName.takeWhile(_.isDigit).toLong)
        .maxOption.getOrElse(-1L)
      nowMax == baseVersion && coordinator.putIfAbsent(fs, tmp, fin)
    }
    if (!committed) {
      fs.delete(tmp, false)
      moves.foreach { case (_, tg) =>
        fs.delete(new Path(dest, tg), false) }
      fs.delete(staging, true)
      if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
        fs.delete(sroot, true)
      println(s"METRIC graft.merge_sync.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return MergeOutcome.Aborted
    }
    fs.delete(staging, true)
    if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
      fs.delete(sroot, true)
    println(s"METRIC graft.merge_sync.updated=$updated " +
      s"inserted=$inserted deleted=$deleted changed_rows=$total " +
      s"files_marked=${dvLines.length} rewritten=0 " +
      s"version=$version dest=$destPath")
    MergeOutcome.Merged(updated, inserted, deleted)
    } finally unpins.foreach(u => u()) // reliable-pin parquet swept
  }

  /** CDC-style incremental read (the append-only half of Delta's change
    * data feed): the rows ADDED in versions `(sinceVersion, untilVersion]`
    * — a pure METADATA decision (the union of those incremental
    * manifests' target files; no diffing, no anti-join over table
    * contents), which is what makes "give me everything since my last
    * sync" affordable at any table size. Only APPEND commits can appear
    * in the range: a snapshot commit (compact / optimize / rewrite /
    * merge / partition drop) rewrites history, so file-set membership no
    * longer means "new rows" — the call fails loudly rather than return
    * wrong changes (re-sync from a full read, the Delta CDF contract
    * when history is vacuumed away). Files deduped against
    * `sinceVersion`'s set, so a manifest listed twice never
    * double-counts.
    */
  def readAppendsBetween(spark: SparkSession, destPath: String,
      sinceVersion: Long, untilVersion: Long = Long.MaxValue)
      : DataFrame = {
    require(sinceVersion >= -1,
      s"[graft] readAppendsBetween: sinceVersion >= -1 (-1 = from " +
        s"table creation), got $sinceVersion")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val all = manifests(fs, destPath)
    if (all.isEmpty) return spark.emptyDataFrame
    def vOf(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong
    val minV = all.map(vOf).min
    require(sinceVersion == -1 || sinceVersion >= minV - 1,
      s"[graft] readAppendsBetween($sinceVersion): history before " +
        s"v$minV was compacted away — re-sync from a full readBack")
    val inRange = all.filter(p =>
      vOf(p) > sinceVersion && vOf(p) <= untilVersion)
    inRange.find(p => dvLinesOf(fs, p).nonEmpty).foreach { p =>
      throw new IllegalArgumentException(
        s"[graft] readAppendsBetween: v${vOf(p)} in range carries " +
          "DELETION VECTORS - the range is not pure appends; re-sync " +
          "from a full readBack")
    }
    val parsed = inRange.map(p => (vOf(p), readManifest(fs, p)))
    parsed.find(_._2._3).foreach { case (v, _) =>
      throw new IllegalArgumentException(
        s"[graft] readAppendsBetween: v$v in range is a SNAPSHOT " +
          "(compact/optimize/rewrite) — file membership no longer " +
          "means new rows; re-sync from a full readBack")
    }
    val prior = all.filter(p => vOf(p) <= sinceVersion)
      .flatMap(p => readManifest(fs, p)._2).toSet
    val files = parsed.flatMap(_._2._2).distinct
      .filterNot(prior)
      .map(rel => new Path(dest, rel).toString)
    if (files.isEmpty) return spark.emptyDataFrame
    // a range spanning an ALTER COLUMN TYPE widen mixes physical
    // types — read under the log-resolved schema (upcasts per file);
    // renamed columns scan physical and surface logical
    val logSchema = logReadSchema(spark, destPath)
    val rd = logSchemaReader(spark, logSchema)
    val df = rd.option("basePath", destPath).parquet(files: _*)
    logSchema.map(toLogicalDf(df, _)).getOrElse(df)
  }

  /** ROW-LEVEL CHANGE DATA FEED (Delta's `table_changes`): every
    * committed change in `(sinceVersion, untilVersion]` as data rows
    * plus `_change_type` (`insert` | `delete`) and `_commit_version`.
    * Where [[readAppendsBetween]] serves append-only consumers, this
    * decomposes the MERGE-ON-READ commits too: a version's target
    * files are its inserts; its `dv` lines are its deletes, whose
    * PRE-IMAGES come from one executor-side inner join of the dv'd
    * files (`_metadata.file_name/row_index`) against the commit's own
    * sidecar — exact, because a sidecar records only positions LIVE at
    * commit time and data files are immutable (rewrites change names).
    * An updated row appears as its delete + its insert in the same
    * version. Layout-only snapshots (optimize/compact) change no
    * content and are skipped; content-changing snapshots (COW
    * delete/update/merge, partition drop, restore) refuse loudly —
    * decompose those streams by writing them `mor = true`. Pre-images
    * need the dv'd files still on disk: consume the feed inside the
    * vacuum retention horizon (the Delta CDF contract). Cost:
    * O(changed rows) + manifest listing; zero scan of unchanged files.
    */
  def readChangesBetween(spark: SparkSession, destPath: String,
      sinceVersion: Long, untilVersion: Long = Long.MaxValue)
      : DataFrame = {
    val (feed, _) =
      changeFeed(spark, destPath, sinceVersion, untilVersion)
    val frames = feed.map(_._2())
    if (frames.isEmpty) spark.emptyDataFrame
    else frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[readChangesBetween]] as a per-version feed for the streaming
    * tail (`StreamingIngest.changeFeedStream`): `(version, thunk)` for
    * every content-carrying version in `(since, until]`, in commit
    * order, plus the head version — the [[appendFeed]] shape, with mor
    * commits decomposed instead of refused.
    */
  private[graft] def changeFeed(spark: SparkSession, destPath: String,
      sinceVersion: Long, untilVersion: Long = Long.MaxValue)
      : (Seq[(Long, () => DataFrame)], Long) = {
    require(sinceVersion >= -1,
      s"[graft] changeFeed: sinceVersion >= -1, got $sinceVersion")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return (Seq.empty, sinceVersion)
    val all = manifests(fs, destPath)
    if (all.isEmpty) return (Seq.empty, sinceVersion)
    def vOf(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong
    val minV = all.map(vOf).min
    require(sinceVersion == -1 || sinceVersion >= minV - 1,
      s"[graft] changeFeed($sinceVersion): history before " +
        s"v$minV was compacted away — re-sync from a full readBack")
    def hasLayoutLine(mf: Path): Boolean = mfData(fs, mf).layout
    val inRange = all
      .filter(p => vOf(p) > sinceVersion && vOf(p) <= untilVersion)
      .sortBy(vOf)
    // a feed range spanning an ALTER COLUMN TYPE widen mixes physical
    // types across versions — every version's frame casts to the
    // CURRENT resolved schema, so the union (and the consumer) sees
    // one type per column (the widen itself is feed-invisible: a
    // schemaevo commit carries no content change)
    val harmonizeTo = effectiveSchemaOf(fs, all)
    def harmonize(df0: DataFrame): DataFrame = harmonizeTo match {
      case None => df0
      case Some(s) =>
        // sidecars/files carry PHYSICAL names — surface logical first
        val df = toLogicalDf(df0, s)
        df.select(df.columns.map { c =>
          s.find(_.name.equalsIgnoreCase(c)) match {
            case Some(f) if f.dataType != df.schema(c).dataType =>
              col(c).cast(f.dataType).as(c)
            case _ => col(c)
          }
        }.toSeq: _*)
    }
    val feed = inRange.flatMap { mf =>
      val v = vOf(mf)
      val (_, targets, snap) = readManifest(fs, mf)
      val dvL = dvLinesOf(fs, mf)
      if (snap) {
        val cdfL = cdfLinesOf(fs, mf)
        if (cdfL.nonEmpty)
          // a COW commit on a feed-enabled table: its change-data
          // sidecar IS the decomposition (rows pre-tagged with
          // `_change_type` at write time — Delta's CDF design)
          Some((v, () => harmonize(spark.read
            .parquet(cdfL.map(c =>
              new Path(dest, c._1).toString): _*))
            .withColumn("_commit_version", lit(v))))
        else {
          require(hasLayoutLine(mf) && !isRestoreManifest(fs, mf),
            s"[graft] change feed: v$v is a content-changing " +
              "snapshot (COW delete/update/merge, partition drop, or " +
              "restore) — the feed cannot decompose it into row " +
              "changes; write changes mor = true, enable the feed " +
              "first (enableChangeFeed) so COW commits capture " +
              "change-data sidecars, or re-sync from a full readBack")
          None // optimize/compact: layout only, no content change
        }
      } else if (targets.isEmpty && dvL.isEmpty) None
      else Some((v, () => {
        // data-file reads resolve through the CURRENT log schema when
        // the log has one: a post-widen dv can tombstone rows in files
        // of BOTH eras, whose footers a mergeSchema union would refuse
        def rdFiles = logSchemaReader(spark, harmonizeTo)
        val deletes =
          if (dvL.isEmpty) None
          else {
            val files = dvL.map(_._1).distinct
            val dvRels = dvL.map(_._2).distinct
            val totalDv = dvL.map(_._3).sum
            val dvDf = spark.read
              .schema(DvSidecarSchema)
              .parquet(dvRels.map(r => new Path(dest, r).toString): _*)
              .select(col("name").as("__graft_fn"),
                col("pos").as("__graft_pos"))
            val dvSide =
              if (totalDv <= 2000000L) broadcast(dvDf) else dvDf
            Some(rdFiles
              .option("basePath", destPath)
              .parquet(files.map(rel =>
                new Path(dest, rel).toString): _*)
              .withColumn("__graft_fn", col("_metadata.file_name"))
              .withColumn("__graft_pos", col("_metadata.row_index"))
              .join(dvSide, Seq("__graft_fn", "__graft_pos"))
              .drop("__graft_fn", "__graft_pos")
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
        val inserts =
          if (targets.isEmpty) None
          else Some(rdFiles
            .option("basePath", destPath)
            .parquet(targets.map(rel =>
              new Path(dest, rel).toString): _*)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val joined = Seq(deletes, inserts).flatten
          .reduce(_.unionByName(_, allowMissingColumns = true))
        harmonizeTo.map(toLogicalDf(joined, _)).getOrElse(joined)
      }))
    }
    (feed, math.max(sinceVersion, all.map(vOf).max))
  }

  /** Collapse the committed log into ONE snapshot manifest (the log grows
    * a file per commit; O(commits) driver-side listing cost on every read
    * eventually wants this). Crash-safe without a lock: the snapshot (the
    * union of every committed target, deduped) commits FIRST via the same
    * atomic rename, so a crash mid-cleanup leaves old entries whose files
    * the deduped readBack counts once; re-running compact finishes the
    * cleanup. Compaction REFUSES to run while staged attempts are pending
    * (see body) — recover() resolves attempts by the writeId in manifest
    * FILENAMES, which compaction collapses away; source-URI lines are
    * still carried into the snapshot for audit, but they are not what
    * recovery keys on.
    */
  def compact(spark: SparkSession, destPath: String): Unit = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    // REFUSE while any staged attempt is pending: recover() resolves an
    // attempt by finding the manifest whose filename carries its writeId,
    // and compaction collapses those names away — running it here would
    // make a committed-but-unledgered attempt look 'never committed' and
    // recover would delete files the snapshot still references. Run
    // recover + finishCommit first; compaction is maintenance, not a
    // correctness step, so skipping is always safe.
    if (pendingAttempt(fs, destPath, "compact")) return
    val lp = logPath(destPath)
    // sweep stale .tmp_* debris from crashed commits/compactions (never
    // readable — manifests() filters on the .manifest suffix — but junk
    // accumulates otherwise)
    if (fs.exists(lp))
      fs.listStatus(lp).map(_.getPath)
        .filter(_.getName.startsWith(".tmp_"))
        .foreach(p => fs.delete(p, false))
    val old = manifests(fs, destPath)
    if (old.length <= 1) return
    val parsed = old.map(mf => readManifest(fs, mf))
    // SNAPSHOT CUT — same rule as readVersion/effectiveTargets: a manifest
    // superseded by a later snapshot must be DROPPED, not merged. In
    // optimize's crash-mid-cleanup window (snapshot committed, superseded
    // manifests not yet deleted) unioning ALL manifests would write a new
    // snapshot containing both the replaced small files and their packed
    // replacements — permanently duplicating those rows, where the deduped
    // readBack was still correct because the stale TARGETS differ by name.
    val lastSnap = parsed.lastIndexWhere(_._3)
    val effOld = if (lastSnap >= 0) old.drop(lastSnap) else old
    val effParsed = if (lastSnap >= 0) parsed.drop(lastSnap) else parsed
    val statsCarry = effOld.flatMap(rawStatsLines(fs, _)).distinct
    val dvCarry = effOld.flatMap(rawDvLines(fs, _)).distinct
    val bloomCarry = effOld.flatMap(rawBloomLines(fs, _)).distinct
    val schemaCarry = effectiveSchemaOf(fs, old).map(schemaLineOf).toSeq
    val body = (Seq("writeid\tcompact", "snapshot\t1",
      "layout\t1") ++
      effParsed.flatMap(_._1).distinct.map("uri\t" + _) ++
      effParsed.flatMap(_._2).distinct.map("target\t" + _) ++
      statsCarry ++ dvCarry ++ bloomCarry ++ schemaCarry).mkString("\n")
    val version = old.map(_.getName.takeWhile(_.isDigit).toLong).max + 1
    val tmp = new Path(lp, s".tmp_compact_$version")
    writeFile(fs, tmp, body)
    val fin = new Path(lp, f"$version%012d.manifest")
    commitLock(fs, destPath).synchronized {
      require(coordinator.putIfAbsent(fs, tmp, fin),
        s"[graft] compaction commit failed: $fin already exists?")
    }
    old.foreach(mf => fs.delete(mf, false))
    // every checkpoint summarizes a now-collapsed prefix; the compact
    // snapshot IS the collapsed state, so they are pure debris here
    logListing(fs, destPath)._2.foreach(ck => fs.delete(ck, false))
    println(s"METRIC graft.compacted_manifests=${old.length} " +
      s"snapshot_version=$version")
  }

  /** Auto-checkpoint cadence: after every commit whose version is a
    * multiple of this, the committer writes a checkpoint (best-effort —
    * a checkpoint is derived state; failing to write one never fails
    * the commit). Delta's default cadence. 0 disables.
    */
  @volatile var checkpointInterval: Int = 10

  /** Most distinct partition directories ONE staged commit may create
    * ([[stageMoveCommit]]'s partition-explosion guard): a bare
    * partitionField over a high-cardinality column (epoch millis, raw
    * ids) would otherwise commit a directory per distinct value.
    * Raise for deliberate wide backfills.
    */
  @volatile var MaxStagedDirs: Int = 10000

  /** Write a CHECKPOINT summary of the log at its current head —
    * `_log/<head>.checkpoint`, the full effective table state (file
    * set, stats, bloom, deletion-vector lines) in snapshot-manifest
    * form, plus the historical writeId set for replay checks. Unlike
    * [[compact]] this RETAINS every manifest: head-state resolution
    * becomes O(commits since checkpoint) via [[resolvedLog]], while
    * time travel, RESTORE, `history`, and the change feeds still walk
    * the full retained log. Older checkpoints beyond the newest two
    * are swept (a reader that already listed the log keeps resolving —
    * its parsed state is immutable). Returns the checkpointed version,
    * or -1 when the log is empty.
    */
  def checkpoint(spark: SparkSession, destPath: String): Long =
    checkpointFs(fsOf(spark, new Path(destPath)), destPath)

  private def checkpointFs(fs: FileSystem, destPath: String): Long = {
    val (allMfs, cksBefore) = logListing(fs, destPath)
    if (allMfs.isEmpty) return -1L
    val head = allMfs.map(vOfP).max
    if (cksBefore.exists(vOfP(_) == head)) return head // already current
    // REFUSE while staged attempts are pending — the [[compact]] rule,
    // for the same reason: a committed-but-unledgered append can still
    // be ROLLED BACK by [[recover]], and a checkpoint that summarized
    // it would resurrect the rolled-back files. The staging marker
    // exists from before the log commit until finishCommit, and this
    // check runs AFTER the log capture, so a commit visible in the
    // captured listing with no pending marker is ledger-final.
    if (pendingAttempt(fs, destPath, "checkpoint")) return -1L
    // resolve the effective state THROUGH the prior checkpoint, so each
    // checkpoint costs O(tail), not O(versions)
    val mfs = resolvedLog(fs, destPath)
    val parsed = mfs.map(mfData(fs, _))
    val lastSnap = parsed.lastIndexWhere(_.snapshot)
    val eff = if (lastSnap >= 0) parsed.drop(lastSnap) else parsed
    val targets = eff.flatMap(_.targets).distinct
    val keep = targets.toSet
    val metaLines = eff.flatMap(d =>
      d.statsLines ++ d.bloomLines ++ d.rawDvLines).distinct
      .filter { l =>
        val p = l.split('\t')
        p.length >= 2 && keep.contains(p(1))
      }
    // historical writeIds: the prior checkpoint's set covers versions it
    // summarized; the resolved manifests cover the rest (with no prior
    // checkpoint, `mfs` is the full log)
    val idSet = (parsed.flatMap(_.writeIdSet) ++
      mfs.filter(_.getName.endsWith(".manifest"))
        .map(writeIdOf(fs, _))).distinct.sorted
    // one canonical schema line (resolvable state only — absent when
    // any summarized commit lacked one, preserving the footer fallback)
    val schemaCk = effectiveSchemaOf(fs, mfs).map(schemaLineOf).toSeq
    val body = (Seq("writeid\tckpt", "snapshot\t1",
      s"checkpoint\t$head") ++
      targets.map("target\t" + _) ++ metaLines ++ schemaCk ++
      idSet.map("writeidset\t" + _)).mkString("\n")
    val lp = logPath(destPath)
    val tmp = new Path(lp, s".tmp_ckpt_$head")
    writeFile(fs, tmp, body)
    val fin = new Path(lp, f"$head%012d$CkptSuffix")
    // two racers at one head derive EQUIVALENT content — losing the
    // claim just means the work is already done
    if (!coordinator.putIfAbsent(fs, tmp, fin)) fs.delete(tmp, false)
    logListing(fs, destPath)._2.sortBy(vOfP).dropRight(2)
      .foreach(ck => fs.delete(ck, false))
    println(s"METRIC graft.checkpoint.version=$head " +
      s"resolved_from=${mfs.length} dest=$destPath")
    head
  }

  /** Best-effort auto-checkpoint after a commit of `version`. */
  private def maybeCheckpoint(fs: FileSystem, destPath: String,
      version: Long): Unit = {
    val iv = checkpointInterval
    if (iv > 0 && version > 0 && version % iv == 0) {
      try checkpointFs(fs, destPath)
      catch {
        case scala.util.control.NonFatal(e) =>
          println(s"METRIC graft.checkpoint.failed=1 version=$version " +
            s"dest=$destPath err=${e.getClass.getSimpleName}")
      }
    }
  }

  // ===================== deletion vectors (merge-on-read) ==========
  //
  // A `dv\t<target>\t<dvRel>\t<rows>` manifest line marks `rows`
  // positions of data file `target` as DELETED; the positions live in
  // the parquet SIDECAR `dvRel` (columns `name: string, pos: long`,
  // keyed by the target's unique FILE NAME so readers apply them with a
  // plain executor-side anti-join on `_metadata.file_name/row_index` —
  // no path-encoding mapping, no driver lookup). This is Delta's
  // deletion-vector design: a scattered-key delete/merge commits
  // O(deleted rows) of sidecar instead of rewriting every matched file
  // (copy-on-write), and the tombstones are materialized away by the
  // next OPTIMIZE/rewrite of the file. Invariants:
  //  - dv lines ride the SAME snapshot-cut window as targets: a
  //    snapshot commit (optimize/COW/compact/restore) carries forward
  //    exactly the dv lines of files it did NOT rewrite, so a replaced
  //    file's tombstones die with it;
  //  - the write path only records positions that are LIVE at write
  //    time (existing dvs are applied first), so dv row counts are
  //    disjoint and metadata COUNT can subtract them exactly;
  //  - a stale sidecar entry can never mis-delete: file names embed the
  //    commit's writeId, so a rewritten file has a new name and old
  //    (name, pos) rows match nothing.

  private val DvDir = "_dv"
  private val CdfDir = "_cdf"
  /** Fixed schema of a dv sidecar: reading under it skips the per-read
    * footer-inference job.
    */
  private[graft] val DvSidecarSchema = "name STRING, pos BIGINT"

  /** Enable the CHANGE DATA FEED for COPY-ON-WRITE commits on this
    * table (Delta's `delta.enableChangeDataFeed` property): from now
    * on, COW DELETE/UPDATE/MERGE and partition drops also write a
    * CHANGE-DATA SIDECAR (`_cdf/<writeId>.parquet` — the changed rows
    * tagged `_change_type`, O(changed rows) extra write, Delta's own
    * cost model) referenced by a `cdf` manifest line, and
    * [[readChangesBetween]]/`changeFeedStream` decompose those
    * versions from the sidecar instead of refusing. MOR commits are
    * decomposable natively and never need one. The marker is a plain
    * file outside the log, so it survives compact; versions committed
    * BEFORE enabling still refuse (their changes were never captured).
    */
  def enableChangeFeed(spark: SparkSession, destPath: String): Unit = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    fs.mkdirs(dest)
    writeFile(fs, new Path(dest, "_cdf_enabled"), "1")
  }

  private def changeFeedEnabled(fs: FileSystem, dest: Path): Boolean =
    fs.exists(new Path(dest, "_cdf_enabled"))

  /** `cdf\t<sidecar rel>\t<rows>` lines of one manifest. */
  private def cdfLinesOf(fs: FileSystem, mf: Path)
      : Seq[(String, Long)] = mfData(fs, mf).cdfLines

  /** Stage a change-data frame as a DISTRIBUTED parquet write under
    * `staging/cdf` and return one `(staged part, sidecar rel, rows)`
    * per part file, rows from the part's FOOTER (no second scan).
    * The change frame of a partition overwrite / full sync is on the
    * order of the replaced partitions' rows — funnelling it through
    * `coalesce(1)` would put the table's BIGGEST commits through one
    * task and one file (hours at 100 TB scale, plus single-file size
    * risk), where the manifest format is already line-oriented:
    * readers ([[changeFeed]]) union every `cdf` line of a version, so
    * a version simply carries one line per part. An EMPTY change
    * frame still yields one (zero-row, schema-bearing) part — a
    * feed-enabled snapshot commit without any `cdf` line would make
    * [[changeFeed]] refuse the version as undecomposable.
    */
  private def stageCdfParts(spark: SparkSession, fs: FileSystem,
      staging: Path, frame: DataFrame, writeId: String, who: String)
      : Seq[(Path, String, Long)] = {
    val cdfOut = new Path(staging, "cdf")
    frame.write.mode("overwrite").parquet(cdfOut.toString)
    val parts = fs.listStatus(cdfOut).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    require(parts.nonEmpty,
      s"[graft] $who: no cdf part files under $cdfOut")
    val conf = spark.sessionState.newHadoopConf()
    val all = parts.zipWithIndex.map { case (p, i) =>
      (p, s"$CdfDir/$writeId-$i.parquet", footerRowCount(conf, p))
    }
    // empty tasks write schema-only files — keep one (the feed needs a
    // readable sidecar per version) and drop the rest; unmoved staged
    // parts die with the staging-dir cleanup
    val withRows = all.filter(_._3 > 0L)
    if (withRows.nonEmpty) withRows else all.take(1)
  }

  /** The dv lines of one manifest: `(target rel, dv rel, rows)`. */
  private def dvLinesOf(fs: FileSystem, mf: Path)
      : Seq[(String, String, Long)] = mfData(fs, mf).dvLines

  /** Effective deletion vectors of a CAPTURED log listing under the
    * same snapshot-cut window as [[effectiveTargetsOf]]:
    * `target rel -> Seq((dv rel, rows))`.
    */
  private def effectiveDvsOf(fs: FileSystem, mfs: Seq[Path])
      : Map[String, Seq[(String, Long)]] = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(dvLinesOf(fs, _))
      .groupBy(_._1)
      .map { case (t, es) => t -> es.map(e => (e._2, e._3)) }
  }

  /** Raw `dv\t` lines of one manifest (carried verbatim by [[compact]]
    * for surviving targets, like stats lines).
    */
  private def rawDvLines(fs: FileSystem, mf: Path): Seq[String] =
    mfData(fs, mf).rawDvLines

  private def fileNameOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) rel else rel.substring(i + 1)
  }

  /** The READ schema for the committed files, resolved from the
    * current LOG (`schemaevo` commits rebase it — the type-widening
    * contract: a file written before `ALTER COLUMN ... TYPE` upcasts to
    * the widened type at scan time, where a footer `mergeSchema` union
    * would refuse the int-vs-long conflict outright). A None RESULT
    * (legacy logs without schema lines) falls back to the footer union
    * — those tables cannot have widened (the widen verb itself
    * establishes the log schema), so `mergeSchema` remains sound there.
    */
  private def logReadSchema(spark: SparkSession, destPath: String)
      : Option[StructType] = {
    val fs = fsOf(spark, new Path(destPath))
    effectiveSchemaOf(fs, resolvedLog(fs, destPath))
  }

  /** Refuse NEW partition directories whose value does not ROUND-TRIP
    * partition-type inference: a zero-padded numeric string ("01",
    * "+5") written as a generic partition value reads back as the
    * integer 1/5 through Spark's own partition discovery AND this
    * engine's FileIndex — silent value corruption, and a later write
    * of the canonical form splits the partition (store=01/ next to
    * store=1/). Integral ambiguity is the trap worth a write-time
    * guard; existing committed directories are grandfathered so a
    * legacy table stays maintainable. Derived layouts always pass
    * (ISO dates are not integral; p_hour/shard values are written
    * canonically from INT/LONG columns).
    */
  private def dirOfRel(rel: String): String =
    rel.lastIndexOf('/') match {
      case -1 => ""
      case k  => rel.substring(0, k)
    }

  /** The canonical form partition-type inference would read `v` back
    * as, when it differs from `v` itself: the integral ladder ("01",
    * "+5" → 1, 5), scale<=0 decimals ("1e3" → 1000 — Spark's
    * inference accepts them), and lenient dates ("2026-1-1" →
    * 2026-01-01). None = `v` round-trips (canonical numerics,
    * positive-scale decimals, ISO dates, plain strings).
    */
  private def inferenceCanonical(v: String): Option[String] = {
    import scala.util.Try
    Try(v.toLong).toOption.map(_.toString)
      .orElse(Try(new java.math.BigDecimal(v)).toOption
        .filter(_.scale <= 0).map(_.toBigIntegerExact.toString))
      .orElse(
        if (v.matches("""\d{4}-\d{1,2}-\d{1,2}"""))
          Try(java.sql.Date.valueOf(v)).toOption.map(_.toString)
        else None)
      .filter(_ != v)
  }

  private def assertDirValuesRoundTrip(newRels: Iterable[String],
      existingRels: => Iterable[String], op: String): Unit = {
    val newDirs = newRels.iterator.map(dirOfRel)
      .filter(_.nonEmpty).toSet
    // suspects first (pure string work): the log is consulted ONLY
    // when a non-canonical value actually appears — the common date
    // layouts never pay the existing-dir materialization
    val suspects = newDirs.iterator.map { d =>
      d -> d.split('/').toSeq.filter(_.contains('=')).flatMap { seg =>
        val i = seg.indexOf('=')
        val v = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
        if (v == "__HIVE_DEFAULT_PARTITION__") None
        else inferenceCanonical(v).map(c => (seg.substring(0, i), v, c))
      }
    }.filter(_._2.nonEmpty).toMap
    if (suspects.isEmpty) return
    val existingDirs = existingRels.iterator.map(dirOfRel).toSet
    suspects.foreach { case (d, bad) =>
      if (!existingDirs.contains(d)) bad.foreach { case (k, v, c) =>
        throw new IllegalArgumentException(
          s"[graft] $op: partition value '$v' ($k) would read back " +
            s"as $c under partition-type inference — it does not " +
            "round-trip; prefix the value (e.g. 'k" + v + "') or " +
            s"use its canonical form '$c'")
      }
    }
  }

  /** Reader for committed data files under the LOG-resolved schema:
    * PHYSICAL column names (column mapping), widened types upcast per
    * file, evolved columns null-fill — with the footer `mergeSchema`
    * union as the legacy fallback (pre-schema-line logs cannot have
    * widened or renamed). EVERY maintenance/feed read goes through
    * this one seam; callers surface logical names via [[toLogicalDf]]
    * where the frame leaves the engine.
    */
  private def logSchemaReader(spark: SparkSession,
      logSchema: Option[StructType])
      : org.apache.spark.sql.DataFrameReader = logSchema match {
    case Some(s) => spark.read.schema(physSchemaOf(s))
    case None    => spark.read.option("mergeSchema", "true")
  }

  /** DV-aware file read KEEPING the metadata key columns
    * (`__graft_fn`, `__graft_pos`) — the write paths use them to
    * compute new tombstone positions. Applies every dv in `dvs` via an
    * anti-join on `(file name, row position)`: broadcast when the
    * total tombstone count is small (the manifest knows it without
    * opening a sidecar), shuffle+AQE otherwise. With no dvs the frame
    * still carries the key columns but pays no join. Reads under the
    * LOG-resolved schema ([[logReadSchema]]): widened column types
    * upcast per file, files missing an evolved column read it null,
    * dropped columns stay dropped.
    */
  private def readFilesDvMeta(spark: SparkSession, destPath: String,
      rels: Seq[String], dvs: Map[String, Seq[(String, Long)]],
      withBase: Boolean = true): DataFrame = {
    val dest = new Path(destPath)
    val logSchema = logReadSchema(spark, destPath)
    // scan under PHYSICAL names (what the files carry); renamed
    // columns surface under their logical names after the read
    val rd = logSchemaReader(spark, logSchema)
    val base0 = (if (withBase) rd.option("basePath", destPath) else rd)
      .parquet(rels.map(rel => new Path(dest, rel).toString): _*)
      .withColumn("__graft_fn", col("_metadata.file_name"))
      .withColumn("__graft_pos", col("_metadata.row_index"))
    val base = logSchema.map(toLogicalDf(base0, _)).getOrElse(base0)
    val relSet = rels.toSet
    val relevant = dvs.filter { case (t, _) => relSet.contains(t) }
    if (relevant.isEmpty) base
    else {
      val dvRels = relevant.values.flatten.map(_._1).toSeq.distinct
      val totalDv = relevant.values.flatten.map(_._2).sum
      val dvDf = spark.read
        .schema(DvSidecarSchema)
        .parquet(dvRels.map(r => new Path(dest, r).toString): _*)
        .select(col("name").as("__graft_fn"),
          col("pos").as("__graft_pos"))
      val dvSide =
        if (totalDv <= 2000000L) broadcast(dvDf) else dvDf
      base.join(dvSide, Seq("__graft_fn", "__graft_pos"), "left_anti")
    }
  }

  /** Does a DML predicate carry a subquery (IN/NOT IN/EXISTS/scalar)?
    * The write paths use this to pick the filter-only plan shapes —
    * Spark plans predicate subqueries in FILTER position (semi/anti/
    * existence joins), not inside projections.
    */
  private[graft] def condHasSubquery(cond: Column): Boolean =
    org.apache.spark.sql.graftbridge.Bridge.expression(cond).exists(
      _.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression])

  /** Rebind a CORRELATED subquery's outer references to `df`'s own
    * attribute ids, matched by case-insensitive name. A correlated DML
    * predicate (`DELETE FROM t WHERE EXISTS (SELECT 1 FROM d WHERE
    * d.id = t.id)`) was analyzed against the STATEMENT's target
    * relation; the write machinery re-applies it to fresh scans of the
    * candidate files, whose attribute ids differ — without the rebind
    * the analyzer refuses the orphaned ids. Renaming to bare
    * `UnresolvedAttribute`s instead would be wrong: inside the
    * subquery a bare `id` resolves against the INNER relation first,
    * silently decorrelating `d.id = t.id` into `d.id = d.id`. Spark's
    * own optimizer then decorrelates the rebound predicate into a
    * (broadcastable) semi/anti join per pass — no driver-side key
    * collect, no size cap. Uncorrelated subqueries and plain
    * predicates pass through untouched.
    */
  private def bindOuter(df: DataFrame, cond: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute,
      AttributeReference, OuterReference, SubqueryExpression}
    import org.apache.spark.sql.graftbridge.Bridge
    val e = Bridge.expression(cond)
    val correlated = e.exists {
      case s: SubqueryExpression => s.isCorrelated
      case _ => false
    }
    if (!correlated) return cond
    val out = df.queryExecution.analyzed.output
    def attrFor(a: Attribute): Attribute =
      out.find(o => o.name.equalsIgnoreCase(a.name)).getOrElse(
        throw new IllegalArgumentException(
          s"[graft] DML subquery references outer column '${a.name}' " +
            s"not in the file schema (${out.map(_.name).mkString(", ")})"))
    Bridge.column(e.transform {
      case s: SubqueryExpression if s.isCorrelated =>
        val np = s.plan.transformAllExpressions {
          case OuterReference(a: AttributeReference) =>
            OuterReference(attrFor(a))
        }
        s.withNewPlan(np).withNewOuterAttrs(s.getOuterAttrs.map {
          case a: AttributeReference => attrFor(a)
          case o => o
        })
    })
  }

  /** DV-aware file read with the reader-facing schema (metadata key
    * columns dropped). Falls back to the PLAIN parquet scan — identical
    * plan, zero overhead — whenever none of `rels` carries a dv.
    */
  private def readFilesDv(spark: SparkSession, destPath: String,
      rels: Seq[String], dvs: Map[String, Seq[(String, Long)]],
      withBase: Boolean = true): DataFrame = {
    val dest = new Path(destPath)
    val relSet = rels.toSet
    if (!dvs.exists { case (t, _) => relSet.contains(t) }) {
      val logSchema = logReadSchema(spark, destPath)
      val rd = logSchemaReader(spark, logSchema)
      val df = (if (withBase) rd.option("basePath", destPath) else rd)
        .parquet(rels.map(rel => new Path(dest, rel).toString): _*)
      logSchema.map(toLogicalDf(df, _)).getOrElse(df)
    } else readFilesDvMeta(spark, destPath, rels, dvs, withBase)
      .drop("__graft_fn", "__graft_pos")
  }

  /** Rebuild the raw `dv` manifest lines for the given SURVIVING
    * targets from the effective dv map — what a snapshot commit
    * (optimize / COW rewrite / merge / partition drop) carries forward
    * for the files it did NOT rewrite; a rewritten file's tombstones
    * were applied by the rewrite and die with its old name.
    */
  private def dvCarryLines(dvs: Map[String, Seq[(String, Long)]],
      survivors: Seq[String]): Seq[String] = {
    val keep = survivors.toSet
    dvs.toSeq.filter { case (t, _) => keep.contains(t) }
      .sortBy(_._1)
      .flatMap { case (t, es) =>
        es.map { case (rel, n) => s"dv\t$t\t$rel\t$n" } }
  }

  /** Committed file set under snapshot semantics (latest snapshot + later
    * incrementals), as destination-relative names. The `mfs` overload works
    * on a CAPTURED listing so [[optimize]] can derive every piece of its
    * snapshot from one consistent log state.
    */
  private def effectiveTargets(fs: FileSystem, destPath: String)
      : Seq[String] =
    effectiveTargetsOf(fs, resolvedLog(fs, destPath))

  private def effectiveTargetsOf(fs: FileSystem, mfs: Seq[Path])
      : Seq[String] = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    (if (lastSnap >= 0) parsed.drop(lastSnap) else parsed)
      .flatMap(_._2).distinct
  }

  /** True iff `mf` is a [[restore]] commit (carries a `restore\t` line
    * — a snapshot whose `history` kind reads `restore`).
    */
  private def isRestoreManifest(fs: FileSystem, mf: Path): Boolean =
    mfData(fs, mf).isRestore

  /** Raw stats lines (`stats\t` legacy double min/max, `stats2\t` typed)
    * of one manifest, carried verbatim through [[compact]]'s snapshot.
    */
  private def rawStatsLines(fs: FileSystem, mf: Path): Seq[String] =
    mfData(fs, mf).statsLines

  /** Per-file, per-column skipping stats. `kind` is `num` (min/max are
    * doubles rendered as strings) or `str` (min/max are raw strings —
    * string columns truncated per [[truncMin]]/[[truncMax]], date and
    * timestamp columns as their ISO casts, whose lexicographic order IS
    * chronological order). `None` min/max = the column is all-null in the
    * file. `nulls`/`rows` are -1 when unknown (legacy `stats\t` lines).
    * `maxTrunc` marks a TRUNCATED string max: `max` then holds only a
    * prefix of the true maximum and proves nothing as an upper bound \u2014
    * consumers treat it as +INFINITY in the data order ([[mayMatch]])
    * or refuse the proof outright ([[mustMatch]]).
    */
  private[graft] case class ColStats(kind: String, min: Option[String],
      max: Option[String], nulls: Long, rows: Long,
      maxTrunc: Boolean = false)

  /** String bounds are produced in UTF-8 BYTE order (Spark's UTF8String
    * min/max on the scan path, parquet binary footer stats on the fast
    * path) and the residual filter compares in UTF-8 byte order too \u2014
    * so every bound comparison MUST use the same collation. Java's
    * natural String order is UTF-16 code-unit order, which disagrees
    * exactly where supplementary-plane characters (emoji: surrogate
    * pairs, first unit U+D800\u2013DBFF) interleave with U+E000\u2013FFFF; using
    * it here wrongly pruned files whose keys straddle that boundary.
    */
  private[graft] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def u8StartsWith(s: String, prefix: String): Boolean = {
    val sb = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pb = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    sb.length >= pb.length &&
      java.util.Arrays.equals(sb, 0, pb.length, pb, 0, pb.length)
  }

  /** May the file's TRUE max be >= `v`, given the stored max? Exact
    * max: plain byte compare. Truncated max: the stored prefix P only
    * bounds the true max inside `[P, byte-successor(P))`, so the
    * answer is yes iff `v <= P` or `v` starts with `P` — any `v`
    * above P that does NOT continue P is above every continuation of
    * P too, and the file still prunes (flat +INFINITY would not).
    */
  private def u8MaxGe(st: ColStats, mx: String, v: String): Boolean =
    if (!st.maxTrunc) utf8Cmp(mx, v) >= 0
    else utf8Cmp(v, mx) <= 0 || u8StartsWith(v, mx)

  /** Delta-convention string-bound truncation: a PREFIX is a valid
    * lower bound as-is (in UTF-8 byte order a prefix never sorts above
    * its continuation), but NO padded suffix can make it a valid upper
    * bound in the data order \u2014 the legacy `'\uFFFF'` pad is maximal in
    * UTF-16 yet sorts BELOW every supplementary-plane character as
    * UTF-8 bytes \u2014 so a truncated max is a MARKER ([[ColStats]]
    * `maxTrunc`), not a value. Truncation never splits a surrogate
    * pair: a lone high surrogate UTF-8-encodes as `?`, which would
    * round-trip differently through the manifest than the in-memory
    * bound.
    */
  private val StatsStrCap = 64
  private def truncPrefix(s: String): String = {
    val cut = s.substring(0, StatsStrCap)
    if (Character.isHighSurrogate(cut.charAt(StatsStrCap - 1)))
      cut.substring(0, StatsStrCap - 1)
    else cut
  }
  private def truncMin(s: String): String =
    if (s.length <= StatsStrCap) s else truncPrefix(s)
  /** (bound-or-prefix, truncated?) \u2014 the pair [[statsLine]] encodes. */
  private def truncMax(s: String): (String, Boolean) =
    if (s.length <= StatsStrCap) (s, false) else (truncPrefix(s), true)

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One `stats2` TSV line. Absent (all-null) bounds encode as `-`; a
    * truncated string max encodes as `~` + b64(prefix) — an explicit
    * marker, unambiguous against any data value (b64 never emits `~`).
    */
  private def statsLine(tgt: String, c: String, st: ColStats): String = {
    val mn = st.min.map(b64).getOrElse("-")
    val mx = st.max.map(v => (if (st.maxTrunc) "~" else "") + b64(v))
      .getOrElse("-")
    s"stats2\t$tgt\t$c\t${st.kind}\t$mn\t$mx\t${st.nulls}\t${st.rows}"
  }

  /** Typed per-file stats of every parquet file under `dir`, keyed
    * `(absolute file uri, column)` — ONE distributed aggregate. Numeric
    * and boolean columns aggregate as doubles (`num`); everything else as
    * its string cast (`str`), which for Spark's ISO date/timestamp
    * renderings preserves chronological order under lexicographic
    * compare. String bounds are truncated Delta-style.
    */
  private def fileStatsOfParquet(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Map[(String, String), ColStats] = {
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(dir)
    val kinds = statsCols.map { c =>
      c -> (df.schema(c).dataType match {
        case _: NumericType | BooleanType => "num"
        case _                            => "str"
      })
    }
    val aggs = kinds.flatMap { case (c, kind) =>
      val v = if (kind == "num") col(c).cast("double")
              else col(c).cast("string")
      Seq(min(v), max(v), sum(when(col(c).isNull, 1L).otherwise(0L)))
    } :+ count(lit(1))
    df.select(input_file_name().as("__f") +: statsCols.map(col): _*)
      .groupBy(col("__f")).agg(aggs.head, aggs.tail: _*)
      .collect().flatMap { r =>
        val file = r.getString(0)
        val rows = r.getLong(1 + 3 * statsCols.length)
        kinds.zipWithIndex.map { case ((c, kind), i) =>
          val (mnI, mxI, nI) = (1 + 3 * i, 2 + 3 * i, 3 + 3 * i)
          val (mn, mx, mxT) =
            if (r.isNullAt(mnI)) (None, None, false)
            else if (kind == "num")
              (Some(r.getDouble(mnI).toString),
                Some(r.getDouble(mxI).toString), false)
            else {
              val (mxV, t) = truncMax(r.getString(mxI))
              (Some(truncMin(r.getString(mnI))), Some(mxV), t)
            }
          ((file, c), ColStats(kind, mn, mx, r.getLong(nI), rows, mxT))
        }
      }.toMap
  }

  /** Pure-metadata union of per-file stats (the packed file's range when
    * [[optimize]] concatenates without re-sorting): bounds widen, counts
    * sum; mixed kinds or unknown counts degrade conservatively.
    */
  private def mergeStats(sts: Seq[ColStats]): Option[ColStats] = {
    val kinds = sts.map(_.kind).distinct
    if (kinds.length != 1) None
    else {
      val kind = kinds.head
      // an all-null input (None bounds) adds no bound but its counts
      // sum; string bounds fold in UTF-8 byte order (the data order)
      def bound(bs: Seq[Option[String]], isMin: Boolean): Option[String] = {
        val present = bs.flatten
        if (present.isEmpty) None
        else if (kind == "num") {
          val ds = present.map(_.toDouble)
          // a NaN bound stays NaN: unknown to every consumer
          Some((if (ds.exists(_.isNaN)) Double.NaN
            else if (isMin) ds.min else ds.max).toString)
        } else Some(present.reduce((a, b) =>
          if ((utf8Cmp(a, b) <= 0) == isMin) a else b))
      }
      // merged string max: an exact value covers interval [v, v]; a
      // truncated prefix P covers [P, byte-successor(P)). Take the
      // byte-order max V of all stored values; any truncated input
      // whose prefix does NOT continue into V has its whole interval
      // below-or-at V (its successor sorts <= V), so V stays EXACT —
      // only a truncated prefix OF V can reach beyond it, and then
      // the SHORTEST such prefix's interval covers every candidate.
      def maxBound(ss: Seq[ColStats]): (Option[String], Boolean) = {
        val present = ss.filter(_.max.isDefined)
        if (present.isEmpty) return (None, false)
        if (kind == "num" || present.forall(!_.maxTrunc))
          return (bound(ss.map(_.max), isMin = false), false)
        val v0 = present.map(_.max.get)
          .reduce((a, b) => if (utf8Cmp(a, b) >= 0) a else b)
        val covering = present
          .filter(s => s.maxTrunc && u8StartsWith(v0, s.max.get))
          .map(_.max.get)
        if (covering.isEmpty) (Some(v0), false)
        else (Some(covering.minBy(
          _.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)),
          true)
      }
      val nulls = sts.map(_.nulls)
      val rows = sts.map(_.rows)
      val (mxB, mxT) = maxBound(sts)
      Some(ColStats(kind,
        bound(sts.map(_.min), isMin = true),
        mxB,
        if (nulls.forall(_ >= 0)) nulls.sum else -1L,
        if (rows.forall(_ >= 0)) rows.sum else -1L,
        mxT))
    }
  }

  /** Typed stats of the EFFECTIVE manifests keyed `(target, column)`;
    * both line formats parse (legacy double lines become `num` entries
    * with unknown null/row counts). Same snapshot semantics as
    * [[effectiveTargets]].
    */
  /** One `fsize` TSV line: per-file byte length + mtime, recorded at
    * commit so READERS never stat data files. Rides the statsLines
    * family (same carry through snapshots, compact, checkpoints, and
    * OCC absorption); data files are immutable, so a recorded size is
    * valid for the file's lifetime.
    */
  private def fsizeLine(tgt: String, len: Long, mtime: Long): String =
    s"fsize\t$tgt\t$len\t$mtime"

  /** `fsize` lines for freshly-moved target files: one stat each at
    * WRITE time (amortized forever on the read side).
    */
  private def fsizeLinesForNew(fs: FileSystem, dest: Path,
      tgts: Seq[String]): Seq[String] =
    tgts.flatMap { t =>
      try {
        localRoot(fs, new Path(dest, t)) match {
          case Some(nio) => // local: nio beats the fork-per-stat shell
            Some(fsizeLine(t, java.nio.file.Files.size(nio),
              java.nio.file.Files.getLastModifiedTime(nio).toMillis))
          case None =>
            val st = fs.getFileStatus(new Path(dest, t))
            Some(fsizeLine(t, st.getLen, st.getModificationTime))
        }
      } catch {
        case _: java.io.FileNotFoundException |
            _: java.nio.file.NoSuchFileException => None
      }
    }

  /** One `nrows` TSV line: a file's physical row count (deletion
    * vectors not subtracted), recorded next to its `fsize` line at
    * commit from a footer the commit reads anyway, and carried with it
    * (same statsLines family) — what [[metadataCount]] and
    * [[rowCount]] answer from without a scan.
    */
  private def nrowsLine(tgt: String, n: Long): String =
    s"nrows\t$tgt\t$n"

  /** Per-target row counts carried by `stats2` lines (every stats
    * column records the file's row count).
    */
  private def rowsOfStatsLines(lines: Seq[String]): Map[String, Long] =
    lines.flatMap { l =>
      l.split('\t') match {
        case Array("stats2", tgt, _, _, _, _, _, rows) if rows.toLong >= 0 =>
          Some(tgt -> rows.toLong)
        case _ => None
      }
    }.toMap

  /** The metadata lines of files a commit just moved into `dest`:
    * `fsize` and `nrows` per file plus the commit's `schemaj` line
    * (from the first file — one write job writes one schema). Each
    * file's footer is opened at most once, and not at all when
    * `knownRows` (counts the stats lane already read) covers it and it
    * is not the schema source. A footer that cannot be read leaves
    * that file without a count (readers then scan) or the commit
    * without a schema line (readers sweep footers).
    */
  private def newFileLines(fs: FileSystem, dest: Path, tgts: Seq[String],
      knownRows: Map[String, Long] = Map.empty): Seq[String] = {
    def footer(t: String) =
      try Some(readFooter(fs.getConf, new Path(dest, t)))
      catch { case scala.util.control.NonFatal(_) => None }
    val first = tgts.headOption.flatMap(footer)
    val rows = tgts.zipWithIndex.flatMap { case (t, i) =>
      (if (i == 0) first.map(footerRows)
       else knownRows.get(t).orElse(footer(t).map(footerRows)))
        .map(nrowsLine(t, _))
    }
    val schemaLn = first.flatMap { md =>
      try Some(schemaLineOf(footerSchemaOf(md, fs.getConf)))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    fsizeLinesForNew(fs, dest, tgts) ++ rows ++ schemaLn.toSeq
  }

  /** Per-file physical row counts resolved like [[fileSizesOf]]:
    * `nrows` lines, else the count a `stats2` line records. Files
    * committed with neither are absent.
    */
  private[graft] def fileRowsOf(fs: FileSystem, mfs: Seq[Path])
      : Map[String, Long] = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    val lines = (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(rawStatsLines(fs, _))
    rowsOfStatsLines(lines) ++ lines.flatMap { l =>
      l.split('\t') match {
        case Array("nrows", tgt, n) => Some(tgt -> n.toLong)
        case _ => None
      }
    }
  }

  /** Per-file (bytes, mtime) from the `fsize` lines, resolved like
    * [[fileStatsOf]] (from the last snapshot onward). Files committed
    * before this line existed are simply absent — consumers fall back
    * to a getFileStatus RPC, so mixed logs stay correct. At 100 TB
    * this map is what makes building a snapshot's FileIndex a pure
    * LOG read: no per-file namenode/object-store stat calls on the
    * driver for any file committed with sizes.
    */
  private[graft] def fileSizesOf(fs: FileSystem, mfs: Seq[Path])
      : Map[String, (Long, Long)] = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(rawStatsLines(fs, _))
      .flatMap { l =>
        l.split('\t') match {
          case Array("fsize", tgt, len, mtime) =>
            Some(tgt -> (len.toLong, mtime.toLong))
          case _ => None
        }
      }.toMap
  }

  /** The snapshot's data-file schema from the `schemaj` lines — the
    * UNION of every commit's recorded file schema since the last
    * snapshot, fields in first-appearance order and forced nullable
    * (exactly `mergeSchema` semantics for the prefix/superset
    * evolution contract, where types never change). None when any
    * commit lacks a schema line or two lines disagree on a field's
    * type — the caller then falls back to the footer sweep, so the
    * line is purely an optimization, never a correctness input.
    */
  private[graft] def effectiveSchemaOf(fs: FileSystem, mfs: Seq[Path])
      : Option[StructType] = {
    if (mfs.isEmpty) return None
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    val eff0 = if (lastSnap >= 0) mfs.drop(lastSnap) else mfs
    // an ALTER TABLE schema commit (`schemaevo` marker) REBASES the
    // resolution: its schemaj is authoritative for everything before
    // it (this is also how ALTER upgrades a legacy footer-swept table
    // to log-resolved schemas — the ALTER paid the sweep once)
    val lastEvo = eff0.lastIndexWhere(mf => mfData(fs, mf).isSchemaEvo)
    val (base, eff) =
      if (lastEvo >= 0)
        (mfData(fs, eff0(lastEvo)).schemaLines, eff0.drop(lastEvo + 1))
      else (Nil, eff0)
    // only commits that CARRY data files need a schema line (dv-only
    // mor commits and layout markers add no files)
    val needed = eff.filter(mf => mfData(fs, mf).targets.nonEmpty)
    val lines = needed.map(mf => mfData(fs, mf).schemaLines)
    if (lines.exists(_.isEmpty)) return None
    if (lastEvo >= 0 && base.isEmpty) return None
    // a TARGET-LESS snapshot (a replace that emptied the table) still
    // REDEFINES state: its carried schemaj IS the table schema — an
    // empty table must not forget its shape (schema guards and the
    // next write's validation depend on it). An evo after it rebases
    // as usual; a legacy empty snapshot without the line keeps the
    // old None fallback.
    val snapExtra =
      if (lastSnap >= 0 && lastEvo < 0) {
        val d = mfData(fs, eff0.head)
        if (d.targets.isEmpty) d.schemaLines else Nil
      } else Nil
    val schemas =
      try (base ++ snapExtra ++ lines.flatten).distinct.map { l =>
        org.apache.spark.sql.types.DataType
          .fromJson(unb64(l.substring(8))).asInstanceOf[StructType]
      } catch { case scala.util.control.NonFatal(_) => return None }
    unionSchemas(schemas)
  }

  /** `ALTER TABLE`-style schema evolution as a metadata-only commit:
    * apply `transform` to the CURRENT resolved schema (log-resolved,
    * or the footer sweep for legacy tables — paid once, the commit
    * upgrades them) and commit one `schemaevo` manifest carrying the
    * new schema. No data files are touched: ADDed columns read as
    * null everywhere (the union semantics appends already had),
    * DROPped columns disappear from the resolved schema while the
    * bytes stay in place (re-adding a same-named column resurfaces
    * the old values — the plain-parquet contract, documented). A
    * later RESTORE below this commit restores the pre-ALTER schema.
    * Returns the new schema.
    */
  def alterSchema(spark: SparkSession, destPath: String,
      transform: StructType => StructType): StructType = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val mfs = resolvedLog(fs, destPath)
    require(mfs.nonEmpty,
      s"[graft] alterSchema: $destPath has no committed versions")
    val current = effectiveSchemaOf(fs, mfs).getOrElse {
      val targets = effectiveTargetsOf(fs, mfs)
      require(targets.nonEmpty,
        s"[graft] alterSchema: $destPath has no data files")
      spark.read.option("mergeSchema", "true")
        .parquet(targets.map(t => new Path(dest, t).toString): _*)
        .schema
    }
    val next = transform(current)
    require(next.nonEmpty,
      "[graft] alterSchema: the resulting schema is empty")
    // COLUMN-MAPPING invariants: logical names unique, physical names
    // unique, and no logical name shadowing another field's physical
    // name — data files and stats lines key on physical names, so an
    // aliased pair (e.g. ADDing a column named like a renamed
    // column's file name) would silently read the old bytes
    val lnames = next.fields.map(_.name.toLowerCase)
    require(lnames.distinct.length == lnames.length,
      s"[graft] alterSchema: duplicate column names in " +
        s"(${next.fieldNames.mkString(", ")})")
    val pnames = next.fields.map(f => physNameOf(f).toLowerCase)
    require(pnames.distinct.length == pnames.length,
      "[graft] alterSchema: two columns share a physical (file) name")
    next.fields.foreach { f =>
      next.fields.foreach { o =>
        require((f.name == o.name) ||
            !f.name.equalsIgnoreCase(physNameOf(o)),
          s"[graft] alterSchema: column '${f.name}' shadows the " +
            s"physical (file) name of renamed column '${o.name}' — " +
            "pick a different name")
      }
    }
    val body = Seq("writeid\talter", "schemaevo\t1",
      schemaLineOf(next)).mkString("\n")
    val lp = logPath(destPath)
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      val head = manifests(fs, destPath)
        .map(_.getName.takeWhile(_.isDigit).toLong)
        .maxOption.getOrElse(-1L)
      val tmp = new Path(lp, s".tmp_alter_${head + 1}")
      writeFile(fs, tmp, body)
      val fin = new Path(lp, f"${head + 1}%012d.manifest")
      val won = commitLock(fs, destPath).synchronized {
        coordinator.putIfAbsent(fs, tmp, fin)
      }
      if (won) {
        println(s"METRIC graft.alter_schema.version=${head + 1} " +
          s"cols=${next.length} dest=$destPath")
        maybeCheckpoint(fs, destPath, head + 1)
        return next
      }
      fs.delete(tmp, false)
    }
    throw new IllegalStateException(
      s"[graft] alterSchema: lost the version slot 8 times — " +
        s"concurrent writer storm on $destPath")
  }

  /** `ALTER TABLE ... ALTER COLUMN <c> TYPE <t>` — TYPE WIDENING as a
    * metadata-only `schemaevo` commit (Delta's type-widening feature):
    * the log records the widened type, every reader resolves its scan
    * schema from the LOG (not file footers), and parquet's readers
    * upcast each older file's narrower physical type at scan time
    * (capability pinned by WidenProbeSpec), so no data file is
    * rewritten — the int id column that outgrew its type widens in one
    * O(1) commit at any table size. Admitted promotions are the SAFE
    * (lossless) ones: the integral chain byte→short→int→long,
    * float→double, integral→double, and decimal growth where neither
    * the scale nor the integer capacity (precision − scale) shrinks.
    * Anything else refuses loudly — a narrowing or a cross-kind cast
    * silently corrupts persisted values. Time travel below the commit
    * reads at the PRE-widen type ([[readVersion]] resolves the schema
    * as of its cut), and RESTORE below it restores the old schema with
    * the old file set. Writes after the widen must carry the widened
    * type (the schema guard's usual contract). Returns the new schema.
    */
  def alterColumnType(spark: SparkSession, destPath: String,
      colName: String, newType: org.apache.spark.sql.types.DataType)
      : StructType =
    alterColumnTypes(spark, destPath, Seq(colName -> newType))

  /** [[alterColumnType]] for several columns in ONE atomic `schemaevo`
    * commit — a multi-column `ALTER TABLE ... ALTER COLUMN a TYPE ...,
    * b TYPE ...` must not leave the first widen committed when a later
    * spec refuses (every spec validates before anything lands).
    */
  def alterColumnTypes(spark: SparkSession, destPath: String,
      widens: Seq[(String, org.apache.spark.sql.types.DataType)])
      : StructType = {
    require(widens.nonEmpty, "[graft] alterColumnType: empty spec list")
    alterSchema(spark, destPath, cur => {
      widens.foldLeft(cur) { case (acc, (colName, newType)) =>
        val i = acc.fieldNames.indexWhere(_.equalsIgnoreCase(colName))
        require(i >= 0, s"[graft] alterColumnType: column '$colName' " +
          s"does not exist (columns: ${acc.fieldNames.mkString(", ")})")
        val from = acc.fields(i).dataType
        require(canWiden(from, newType),
          s"[graft] alterColumnType: ${from.simpleString} -> " +
            s"${newType.simpleString} is not a safe widening (allowed: " +
            "byte->short->int->long, float->double, integral->double, " +
            "decimal(p,s) growth with scale and p-s non-decreasing)")
        StructType(acc.fields.updated(i,
          acc.fields(i).copy(dataType = newType)))
      }
    })
  }

  /** Lossless type promotions [[alterColumnType]] admits — each one
    * verified against the parquet readers by WidenProbeSpec.
    */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false // a no-op ALTER is a user mistake
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale &&
          (d2.scale > d1.scale || d2.precision > d1.precision)
      case _ => false
    }
  }

  /** Field-union of file schemas in first-appearance order, all
    * nullable; None on an empty input or a same-name type conflict.
    * COLUMN-MAPPING aware: a field whose name equals an
    * already-unioned field's PHYSICAL name (`graft.physical`
    * metadata) is the SAME column — per-commit schema lines record
    * what the data files carry (physical names), while the rebasing
    * evo/snapshot line (always first in resolution order) carries the
    * logical names and the mapping.
    */
  private def unionSchemas(schemas: Seq[StructType])
      : Option[StructType] = {
    if (schemas.isEmpty) return None
    val out = scala.collection.mutable.LinkedHashMap[String,
      org.apache.spark.sql.types.StructField]()
    schemas.foreach(_.fields.foreach { f =>
      out.get(f.name) match {
        case None =>
          out.values.find(ex =>
            physNameOf(ex) != ex.name && physNameOf(ex) == f.name) match {
            case Some(ex) =>
              if (ex.dataType != f.dataType) return None
            case None => out += f.name -> f.copy(nullable = true)
          }
        case Some(prev) =>
          if (prev.dataType != f.dataType) return None
      }
    })
    Some(StructType(out.values.toSeq))
  }

  private def schemaLineOf(st: StructType): String =
    "schemaj\t" + b64(st.json)

  // ===================== column mapping ============================
  //
  // METADATA-ONLY COLUMN RENAME (Delta's column-mapping "name mode",
  // re-expressed for this log): every column has a stable PHYSICAL
  // name — the name it was FIRST written under — and data files,
  // stats lines, and bloom lines key on it forever. A rename is one
  // `schemaevo` commit that changes the LOGICAL name and records the
  // physical one in the field's metadata (`graft.physical`), so no
  // data file is rewritten at any table size. The translation layer
  // is thin because physical names are original names: a table that
  // never renamed has an EMPTY mapping and every path below is the
  // identity.
  //
  //  - reads: scan under the PHYSICAL schema, rename to logical after
  //    ([[readFilesDvMeta]], the feeds, the SQL scan's FileFormat).
  //  - writes: rename logical frames to physical before staging, so
  //    all files stay physically consistent ([[toPhysicalDf]]).
  //  - skipping: stats/bloom lines key on as-written (physical) names;
  //    predicates arrive logical and translate at the prune boundary
  //    ([[mapPredCols]]), while the residual row filter stays logical.

  /** StructField metadata key carrying a renamed column's stable
    * physical name (the name its bytes live under in data files).
    */
  private[graft] val PhysicalKey = "graft.physical"

  /** The field's physical (file) name: its recorded mapping, or its
    * own name when never renamed.
    */
  private[graft] def physNameOf(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical → physical for the fields whose names differ; empty for
    * tables that never renamed (the no-op fast path everywhere).
    */
  private[graft] def mappingOf(st: StructType): Map[String, String] =
    st.fields.iterator
      .map(f => f.name -> physNameOf(f))
      .filter { case (l, p) => l != p }
      .toMap

  private[graft] def mappingOf(st: Option[StructType])
      : Map[String, String] = st.map(mappingOf).getOrElse(Map.empty)

  /** Drop the mapping metadata from every field. The mapping LIVES in
    * the log's evo/snapshot schema lines; everywhere else it must NOT
    * travel — a surfaced frame whose fields still carry
    * `graft.physical` would write it into a NEW table's parquet
    * footers, and the footer-derived schema line would adopt a bogus
    * mapping (the renamed column then reads NULL there).
    */
  private[graft] def stripPhysical(st: StructType): StructType =
    if (!st.fields.exists(_.metadata.contains(PhysicalKey))) st
    else StructType(st.fields.map { f =>
      if (!f.metadata.contains(PhysicalKey)) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(PhysicalKey).build())
    })

  /** The schema with every field under its PHYSICAL name — what the
    * parquet scan requests. Mapping metadata is STRIPPED: the names
    * are already swapped, and surfaced frames must not carry it (see
    * [[stripPhysical]]).
    */
  private[graft] def physSchemaOf(st: StructType): StructType =
    stripPhysical(StructType(st.fields.map(f =>
      f.copy(name = physNameOf(f)))))

  /** Rename a frame's PHYSICAL columns back to their logical names
    * (post-scan). Only mapped columns present in the frame rename;
    * metadata/partition columns pass through.
    */
  private[graft] def toLogicalDf(df: DataFrame,
      logical: StructType): DataFrame = {
    val m = mappingOf(logical).map(_.swap) // physical -> logical
    if (m.isEmpty) df
    else {
      val present = m.filter { case (p, _) => df.columns.contains(p) }
      if (present.isEmpty) df else df.withColumnsRenamed(present)
    }
  }

  /** Rename a LOGICAL frame's mapped columns to their physical names
    * (pre-write). Partition-layout columns are never mapped (rename
    * refuses them), so `partitionBy` names are unaffected.
    */
  private def toPhysicalDf(df: DataFrame,
      mapping: Map[String, String]): DataFrame = {
    if (mapping.isEmpty) return df
    // a frame column named like a mapped column's PHYSICAL name would
    // silently alias the renamed column's bytes at read time — refuse
    // loudly (write it under the logical name, or rename the column
    // back first)
    mapping.foreach { case (l, p) =>
      if (df.columns.exists(_.equalsIgnoreCase(p)))
        throw new IllegalArgumentException(
          s"[graft] write: frame carries column '$p' — the physical " +
            s"(file) name of renamed column '$l'; write it as '$l', " +
            "or pick a different name for the new column")
    }
    val present = df.columns.flatMap { c =>
      mapping.collectFirst {
        case (l, p) if l.equalsIgnoreCase(c) => c -> p }
    }.toMap
    if (present.isEmpty) df else df.withColumnsRenamed(present)
  }

  /** Translate a column-name list logical → physical. Idempotent:
    * already-physical names (never keys of the mapping) pass through,
    * so a caller echoing [[SnapshotHandle.statsColumns]] (as-written =
    * physical) is safe.
    */
  private def physColsOf(cols: Seq[String],
      mapping: Map[String, String]): Seq[String] =
    if (mapping.isEmpty) cols
    else cols.map(c => mapping.collectFirst {
      case (l, p) if l.equalsIgnoreCase(c) => p }.getOrElse(c))

  /** Translate a [[SkipPredicate]]'s column names logical → physical
    * for the stats/bloom consult. The caller keeps the ORIGINAL
    * (logical) predicate for the residual row filter.
    */
  private def mapPredCols(p: SkipPredicate,
      mapping: Map[String, String]): SkipPredicate = {
    if (mapping.isEmpty) return p
    def f(c: String): String = mapping.collectFirst {
      case (l, ph) if l.equalsIgnoreCase(c) => ph }.getOrElse(c)
    def go(q: SkipPredicate): SkipPredicate = q match {
      case SkipPredicate.And(ps) => SkipPredicate.And(ps.map(go))
      case SkipPredicate.Or(ps)  => SkipPredicate.Or(ps.map(go))
      case SkipPredicate.NumRange(c, lo, hi) =>
        SkipPredicate.NumRange(f(c), lo, hi)
      case SkipPredicate.StrRange(c, lo, hi) =>
        SkipPredicate.StrRange(f(c), lo, hi)
      case SkipPredicate.StrEq(c, v) => SkipPredicate.StrEq(f(c), v)
      case SkipPredicate.IsNull(c)   => SkipPredicate.IsNull(f(c))
      case SkipPredicate.IsNotNull(c) => SkipPredicate.IsNotNull(f(c))
    }
    go(p)
  }

  /** The current logical → physical mapping of a table, resolved from
    * the log; empty when the table never renamed (or has no log
    * schema — pre-schema-line tables cannot have renamed).
    */
  private def mappingFor(fs: FileSystem, mfs: Seq[Path])
      : Map[String, String] = mappingOf(effectiveSchemaOf(fs, mfs))

  /** Schema of one parquet file from its footer ([[readFooter]]) —
    * ~5 ms against `spark.read.parquet(...).schema`'s ~100 ms
    * DataSource resolution, which matters because this runs inside
    * EVERY commit. Spark-written files carry their exact StructType
    * JSON in the footer metadata; the type converter is the fallback
    * for files from other writers.
    */
  private def footerSchemaOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      conf: org.apache.hadoop.conf.Configuration): StructType = {
    val md = footer.getFileMetaData
    Option(md.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap { json =>
        // defense in depth for the column-mapping metadata: a footer
        // NEVER legitimately records `graft.physical` (the mapping
        // lives only in the log's evo/snapshot lines) — a frame that
        // smuggled it in must not poison this commit's schema line
        try Some(stripPhysical(
          org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[StructType]))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      .getOrElse(
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(conf)
          .convert(md.getSchema))
  }

  private def fileStatsOf(fs: FileSystem, mfs: Seq[Path])
      : Map[(String, String), ColStats] = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(rawStatsLines(fs, _))
      .flatMap { l =>
        l.split('\t') match {
          case Array("stats", tgt, c, mn, mx) =>
            Some((tgt, c) -> ColStats("num", Some(mn), Some(mx), -1L, -1L))
          case Array("stats2", tgt, c, kind, mn, mx, nulls, rows) =>
            // `~`-prefixed max = truncation marker; a legacy line's
            // `'￿'`-padded max (pre-marker format) reads back as
            // truncated too — its pad proved nothing in the data
            // order. The legacy cut could SPLIT a surrogate pair at
            // the cap, storing a `?` where the pair's first half was
            // (not a true prefix of the data) — drop the final prefix
            // char as well, which is always a valid shorter prefix
            val (mxV, mxT) =
              if (mx == "-") (None, false)
              else if (mx.startsWith("~")) (Some(unb64(mx.tail)), true)
              else {
                val v = unb64(mx)
                if (v.length > StatsStrCap && v.last == '￿')
                  (Some(v.init.dropRight(1)), true)
                else (Some(v), false)
              }
            Some((tgt, c) -> ColStats(kind,
              if (mn == "-") None else Some(unb64(mn)),
              mxV, nulls.toLong, rows.toLong, mxT))
          case _ => None
        }
      }.toMap
  }

  // ===================== bloom file index ==========================
  //
  // Per-file BLOOM FILTER for equality point lookups (Delta's bloom
  // filter index): min/max stats prune RANGE predicates on clustered
  // columns, but an equality lookup on a high-cardinality UNCLUSTERED
  // column (a key scattered uniformly across files) has every file's
  // range covering every value — stats prune nothing and the lookup
  // scans the table. A `bloom\t<target>\t<col>\t<m>\t<k>\t<b64 bits>`
  // manifest line lets [[readBackWherePred]]/[[countWhere]] and the
  // maintenance candidate pruning skip every file whose filter proves
  // the value absent — O(files) driver-side bit tests instead of a
  // scan, the difference between a point lookup and a table read at
  // 100 TB. Bits are set over `xxhash64(i, CAST(col AS STRING))` for
  // i < k (double-hash positions mod m), computed distributedly at
  // append time and tested driver-side through the SAME Catalyst
  // expression, so build and probe can never disagree on the hash.
  // False positives only cost a conservative read; deleted rows
  // (dvs/COW) leave stale bits, which is the same conservative
  // direction — a bloom NEVER proves presence, only absence.
  // Merge rule: the union's filter is the bitwise OR of the inputs'
  // (same m, k) — [[optimize]]'s concatenation keeps index coverage
  // as pure metadata; re-sorted/rewritten files drop their lines
  // (conservative) until a fresh statsAppend/optimize rebuilds them.

  // sizing: ~10 bits per DISTINCT key (fpp ≈ 1% at k = 5), chosen
  // PER FILE from an approx_count_distinct pass and rounded up to a
  // power of two in [2^13, bloomBits]; a fixed size either wastes
  // manifest bytes on small files or saturates on big ones (a 2^13
  // filter at 10k distinct keys answers "maybe" ~94% of the time —
  // pruning nothing). Power-of-two sizes make filters FOLDABLE:
  // `h mod m_small == (h mod m_large) mod m_large`'s pow2 form means a
  // larger filter ORs down into a smaller one bit-by-bit, so
  // [[optimize]]'s metadata merge works across mixed sizes.
  // cap: with the sidecar layout the bits never ride the manifest, so
  // the ceiling is per-file read cost, not log size — 2^24 bits holds
  // ~1.7M distinct keys/file at ~1% fpp, and the SPARSE word encoding
  // means a small file still stores only its nonzero words
  private[graft] val DefaultBloomBits = 1 << 24
  private[graft] val MinBloomBits = 1 << 13
  private[graft] val BloomBitsPerKey = 10
  private[graft] val BloomK = 5

  private[graft] case class BloomF(m: Int, k: Int, bits: Array[Byte]) {
    def mightContain(positions: Array[Int]): Boolean =
      positions.forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)
  }

  private[graft] object BloomF {
    /** The i-th probe position of value `v` in an m-bit filter —
      * interpreted eval of the SAME `xxhash64(i, v)` expression the
      * distributed build runs under codegen.
      */
    def pos(i: Int, v: String, m: Int): Int = {
      import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
      val h = new XxHash64(Seq(Literal(i), Literal(v)))
        .eval(null).asInstanceOf[Long]
      (((h % m) + m) % m).toInt
    }
    def positions(v: String, m: Int, k: Int): Array[Int] =
      Array.tabulate(k)(i => pos(i, v, m))
  }

  private def bloomLine(tgt: String, c: String, bf: BloomF): String =
    s"bloom\t$tgt\t$c\t${bf.m}\t${bf.k}\t" +
      java.util.Base64.getEncoder.encodeToString(bf.bits)

  private def rawBloomLines(fs: FileSystem, mf: Path): Seq[String] =
    mfData(fs, mf).bloomLines

  // ---- bloom sidecar layout -------------------------------------
  //
  // Inline `bloom\t…\t<b64 bits>` lines put up to 128 KiB of base64
  // in the MANIFEST per file-column: past ~100k distinct keys/file the
  // 2^20-bit cap saturates (fpp degrades toward "maybe" for every
  // probe), and the bits ride every log resolution whether or not a
  // query probes them. The SIDECAR layout (Delta's bloom-filter-index
  // file design) moves the bits to one parquet file per commit —
  // `_bloom/<writeId>.parquet`, rows `(tgt, col, m, k, w, bits)`
  // where `w` indexes 64-bit words and only NONZERO words are stored —
  // and the manifest keeps a slim pointer line per file-column:
  // `bloomsc\t<tgt>\t<col>\t<m>\t<k>\t<sidecar rel>`. Readers fetch
  // exactly the k words a probe needs (parquet-mr record filter on
  // `col IN … AND w IN …`), so a point lookup over a 10k-file table
  // reads KBs of sidecar, not MBs of manifest. Filters can now grow
  // to 2^24 bits (~1.7M keys/file at ~1% fpp). Carry semantics are
  // IDENTICAL to inline lines (`bloomsc` lines ride bloomCarryLines /
  // compact / restore / checkpoint verbatim — the second TSV field is
  // the target, which is all the carry filters key on), and sidecar
  // files are immutable, so a carried pointer stays valid until
  // vacuum sweeps the unreferenced file.

  private val BloomDir = "_bloom"

  private def bloomScLine(tgt: String, c: String, m: Int, k: Int,
      rel: String): String = s"bloomsc\t$tgt\t$c\t$m\t$k\t$rel"

  private[graft] final case class BloomScRef(m: Int, k: Int, rel: String)

  /** Per-file blooms of the EFFECTIVE manifests as a lazy [[BloomIndex]]
    * — inline legacy lines carry their bits; `bloomsc` lines carry
    * pointers the index resolves on demand. Same snapshot-cut window as
    * [[fileStatsOf]].
    */
  private def bloomIndexOf(spark: SparkSession, destPath: String,
      fs: FileSystem, mfs: Seq[Path]): BloomIndex = {
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    val lines = (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(rawBloomLines(fs, _))
    val inline = lines.flatMap { l =>
      l.split('\t') match {
        case Array("bloom", tgt, c, m, k, b64) =>
          Some((tgt, c) -> BloomF(m.toInt, k.toInt,
            java.util.Base64.getDecoder.decode(b64)))
        case _ => None
      }
    }.toMap
    val refs = lines.flatMap { l =>
      l.split('\t') match {
        case Array("bloomsc", tgt, c, m, k, rel) =>
          Some((tgt, c) -> BloomScRef(m.toInt, k.toInt, rel))
        case _ => None
      }
    }.toMap
    new BloomIndex(spark, destPath, fs, inline, refs)
  }

  /** The probe surface over inline and sidecar-backed filters. Sidecar
    * words load LAZILY and SPARSELY: the first probe extracts every
    * equality value in the predicate and fetches all their word
    * positions across every referenced sidecar in one sweep
    * (parquet-mr record filters — no Spark job on the lookup path), so
    * an IN-list over a thousand files costs one small read per commit
    * sidecar, cached for the rest of the pruning loop. A sidecar that
    * fails to read degrades that filter to "maybe" — blooms only ever
    * prove absence.
    */
  private[graft] final class BloomIndex(
      spark: SparkSession, destPath: String, fs: FileSystem,
      inline: Map[(String, String), BloomF],
      refs: Map[(String, String), BloomScRef]) {

    def nonEmpty: Boolean = inline.nonEmpty || refs.nonEmpty
    def contains(key: (String, String)): Boolean =
      inline.contains(key) || refs.contains(key)
    def keys: Iterable[(String, String)] = inline.keys ++ refs.keys
    private[graft] def sidecarRefs: Map[(String, String), BloomScRef] =
      refs
    private[graft] def inlineFilters: Map[(String, String), BloomF] =
      inline

    // sparse loaded words per (tgt, col); missing word = all-zero
    private val words = scala.collection.mutable.Map
      .empty[(String, String), scala.collection.mutable.Map[Int, Long]]
    private val loadedValues =
      scala.collection.mutable.Set.empty[(String, String)]
    private val brokenRels =
      scala.collection.mutable.Set.empty[String]
    private val fullCache = scala.collection.mutable.Map
      .empty[(String, String), Option[BloomF]]

    /** Every `(col, value)` equality a predicate will probe. */
    private def eqValues(pred: SkipPredicate)
        : Seq[(String, String)] = pred match {
      case SkipPredicate.And(ps)     => ps.flatMap(eqValues)
      case SkipPredicate.Or(ps)      => ps.flatMap(eqValues)
      case SkipPredicate.StrEq(c, v) => Seq((c, v))
      case _                         => Nil
    }

    private def ensureValues(vals: Seq[(String, String)]): Unit = {
      val missing = vals.distinct.filterNot(loadedValues)
      if (missing.isEmpty || refs.isEmpty) return
      val colSet = missing.map(_._1).toSet
      val relevant = refs.filter { case ((_, c), _) => colSet.contains(c) }
      loadedValues ++= missing
      if (relevant.isEmpty) return
      val sizes = relevant.values.map(r => (r.m, r.k)).toSet
      val needW = new java.util.HashSet[Integer]()
      missing.foreach { case (_, v) =>
        sizes.foreach { case (m, k) =>
          BloomF.positions(v, m, k).foreach(p => needW.add(p >> 6)) } }
      relevant.values.map(_.rel).toSet
        .foreach((rel: String) => readSidecar(rel, colSet, Some(needW)))
    }

    /** Read sidecar rows for `cols` (and optionally only words in
      * `needW`) into the sparse maps; a read failure marks the rel
      * broken (conservative may-match).
      */
    private def readSidecar(rel: String, cols: Set[String],
        needW: Option[java.util.HashSet[Integer]],
        tgtOnly: Option[String] = None): Unit = {
      if (brokenRels.contains(rel)) return
      try {
        // small sidecars (the latency-sensitive interactive case) load
        // WHOLE through the process-wide immutable-file cache — repeat
        // lookups cost zero reads; big sidecars keep the sparse
        // filtered path where a 50 ms open is noise against the scan
        bloomScFullWords(fs,
            new Path(new Path(destPath), rel),
            spark.sparkContext.hadoopConfiguration) match {
          case Some(full) =>
            full.foreach { case (key, arr) =>
              if (cols.contains(key._2) && tgtOnly.forall(_ == key._1)) {
                val m = words.getOrElseUpdate(key,
                  scala.collection.mutable.Map.empty)
                arr.foreach { case (w, b) => m.update(w, b) }
              }
            }
            return
          case None => ()
        }
        import org.apache.parquet.filter2.predicate.FilterApi
        import org.apache.parquet.filter2.compat.FilterCompat
        import org.apache.parquet.io.api.Binary
        import scala.jdk.CollectionConverters._
        val colsJ: java.util.Set[Binary] =
          cols.map(Binary.fromString).asJava
        var p: org.apache.parquet.filter2.predicate.FilterPredicate =
          FilterApi.in(FilterApi.binaryColumn("col"), colsJ)
        needW.foreach { ws =>
          p = FilterApi.and(p, FilterApi.in(FilterApi.intColumn("w"), ws))
        }
        tgtOnly.foreach { t =>
          p = FilterApi.and(p, FilterApi.eq(
            FilterApi.binaryColumn("tgt"), Binary.fromString(t)))
        }
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new Path(new Path(destPath), rel))
          .withConf(spark.sparkContext.hadoopConfiguration)
          .withFilter(FilterCompat.get(p))
          .build()
        try {
          var g = reader.read()
          while (g != null) {
            val key = (g.getString("tgt", 0), g.getString("col", 0))
            words.getOrElseUpdate(key,
              scala.collection.mutable.Map.empty)
              .update(g.getInteger("w", 0), g.getLong("bits", 0))
            g = reader.read()
          }
        } finally reader.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          brokenRels += rel
          println(s"METRIC graft.bloom.sidecar_read_failed=1 rel=$rel " +
            s"err=${e.getClass.getSimpleName}")
      }
    }

    /** Full bits of one filter — the [[optimize]] metadata-merge path
      * (bounded callers: the files of one pack unit).
      */
    def fullFilter(key: (String, String)): Option[BloomF] =
      fullCache.getOrElseUpdate(key,
        inline.get(key).orElse(refs.get(key).flatMap { r =>
          if (brokenRels.contains(r.rel)) None
          else {
            readSidecar(r.rel, Set(key._2), None, tgtOnly = Some(key._1))
            if (brokenRels.contains(r.rel)) None
            else {
              val wm = words.getOrElse(key,
                scala.collection.mutable.Map.empty[Int, Long])
              val bits = new Array[Byte](r.m >> 3)
              wm.foreach { case (w, bv) =>
                var b = 0
                while (b < 8) {
                  bits(w * 8 + b) = ((bv >>> (b * 8)) & 0xffL).toByte
                  b += 1
                }
              }
              Some(BloomF(r.m, r.k, bits))
            }
          }
        }))

    /** Can the file's filter rule out `pred`? Only equality conjuncts
      * consult it (`StrEq` — the residual casts the column to string
      * exactly as the build did, so numeric keys work too); absent
      * filters and non-equality predicates answer true.
      */
    def mayMatch(posCache: scala.collection.mutable.Map[
        (String, Int, Int), Array[Int]], t: String,
        pred: SkipPredicate): Boolean = {
      if (refs.nonEmpty) ensureValues(eqValues(pred))
      mayMatchRec(posCache, t, pred)
    }

    private def mayMatchRec(posCache: scala.collection.mutable.Map[
        (String, Int, Int), Array[Int]], t: String,
        pred: SkipPredicate): Boolean = pred match {
      case SkipPredicate.And(ps) =>
        ps.forall(p => mayMatchRec(posCache, t, p))
      case SkipPredicate.Or(ps) =>
        ps.exists(p => mayMatchRec(posCache, t, p))
      case SkipPredicate.StrEq(c, v) =>
        inline.get((t, c)) match {
          case Some(bf) =>
            bf.mightContain(posCache.getOrElseUpdate((v, bf.m, bf.k),
              BloomF.positions(v, bf.m, bf.k)))
          case None => refs.get((t, c)) match {
            case None => true
            case Some(r) =>
              if (brokenRels.contains(r.rel)) true
              else {
                val wm = words.getOrElse((t, c),
                  scala.collection.mutable.Map.empty[Int, Long])
                posCache.getOrElseUpdate((v, r.m, r.k),
                  BloomF.positions(v, r.m, r.k)).forall { p =>
                  ((wm.getOrElse(p >> 6, 0L) >>> (p & 63)) & 1L) == 1L
                }
              }
          }
        }
      case _ => true
    }
  }

  /** MERGE candidate refinement against the bloom index. Inline
    * (legacy) filters probe driver-side under a key cap, exactly as
    * before; sidecar-backed filters refine in ONE distributed job —
    * source keys cross the (small, broadcast) per-file filter metadata,
    * probe positions compute under codegen with the SAME
    * `xxhash64(i, v)` the build used, and an inner join against the
    * sidecar word rows keeps a file iff at least one key has all k
    * bits set. No key cap and no driver hashing on this path.
    */
  private def bloomRefineCandidates(spark: SparkSession,
      destPath: String, blooms: BloomIndex, src: DataFrame,
      keyCol: String, keyColPhys: String,
      rangeCandidates: Seq[String], nKeys: Long)
      : Seq[String] = {
    val inline = blooms.inlineFilters
    val refs = blooms.sidecarRefs
    val inlineBacked = rangeCandidates
      .filter(t => inline.contains((t, keyColPhys)))
    val scBacked = rangeCandidates.filter(t =>
      !inline.contains((t, keyColPhys)) && refs.contains((t, keyColPhys)))
    val unbacked = rangeCandidates.filterNot(t =>
      inline.contains((t, keyColPhys)) || refs.contains((t, keyColPhys)))
    val keptInline: Seq[String] =
      if (inlineBacked.isEmpty) Nil
      else if (nKeys > 100000L) inlineBacked // cap: skip, keep all
      else {
        val keys = src.select(col(keyCol).cast("string"))
          .where(col(keyCol).isNotNull)
          .collect().map(_.getString(0))
        val posC = bloomPosCache()
        inlineBacked.filter { t =>
          val bf = inline((t, keyColPhys))
          keys.exists(k => bf.mightContain(
            posC.getOrElseUpdate((k, bf.m, bf.k),
              BloomF.positions(k, bf.m, bf.k))))
        }
      }
    val keptSc: Set[String] =
      if (scBacked.isEmpty) Set.empty
      else {
        import spark.implicits._
        val meta = scBacked.map { t =>
          val r = refs((t, keyColPhys)); (t, r.m, r.k, r.rel)
        }
        val dest = new Path(destPath)
        val rels = meta.map(_._4).distinct
          .map(r => new Path(dest, r).toString)
        val metaDf = meta.map { case (t, m, k, _) => (t, m, k) }
          .toDF("tgt", "__m", "__k")
        val probes = src.select(col(keyCol).cast("string").as("__v"))
          .where(col("__v").isNotNull).distinct()
          .crossJoin(broadcast(metaDf))
          .select(col("tgt"), col("__v"), col("__k"),
            explode(expr("sequence(0, __k - 1)")).as("__i"),
            col("__m"))
          .select(col("tgt"), col("__v"), col("__k"), col("__i"),
            pmod(xxhash64(col("__i"), col("__v")),
              col("__m").cast("long")).as("__p"))
          .select(col("tgt"), col("__v"), col("__k"), col("__i"),
            expr("CAST(shiftright(__p, 6) AS INT)").as("w"),
            expr("CAST(__p % 64 AS INT)").as("__b"))
        val words = spark.read.parquet(rels: _*)
          .where(col("col") === keyColPhys)
          .select(col("tgt"), col("w"), col("bits"))
        probes.join(words, Seq("tgt", "w"))
          .where(expr("(shiftrightunsigned(bits, __b) & 1) = 1"))
          .groupBy(col("tgt"), col("__v"), col("__k"))
          .agg(countDistinct(col("__i")).as("__n"))
          .where(col("__n") === col("__k"))
          .select("tgt").distinct().as[String].collect().toSet
      }
    val keep = unbacked.toSet ++ keptInline ++ keptSc
    rangeCandidates.filter(keep.contains)
  }

  /** Raw bloom lines of the snapshot-cut window restricted to
    * `survivors` — what a snapshot commit carries for the files it did
    * not rewrite (a rewritten file's bits die with its old name).
    */
  private def bloomCarryLines(fs: FileSystem, mfs: Seq[Path],
      survivors: Seq[String]): Seq[String] = {
    val keep = survivors.toSet
    val parsed = mfs.map(mf => readManifest(fs, mf))
    val lastSnap = parsed.lastIndexWhere(_._3)
    (if (lastSnap >= 0) mfs.drop(lastSnap) else mfs)
      .flatMap(rawBloomLines(fs, _)).distinct
      .filter { l =>
        val p = l.split('\t')
        p.length >= 2 && keep.contains(p(1))
      }
  }

  /** EXECUTOR-SIDE bloom build for `bloomCols` over a staged dir —
    * per column: one distributed pass computes per-file 64-bit WORDS
    * at the cap size (`bit_or` of per-probe masks), the driver sizes
    * each file's filter from the cap filter's OCCUPANCY (the standard
    * estimator n ≈ -(m/k)·ln(1 - d/m); the only collect is one row
    * per file), and a second aggregate FOLDS the words down to the
    * per-file size (pow2: word w of the cap array lands at
    * `w mod (m/64)`; bit offsets inside a word never move because
    * 64 divides every m). Nothing larger than a per-file occupancy
    * count crosses collect(); the bits themselves go straight to the
    * sidecar parquet. Returns the per-file-column metadata and the
    * word frame `(tgt, col, m, k, w, bits)` for the caller to write.
    */
  /** Driver-built bloom word rows as a one-partition DataFrame. */
  private def bloomRowsDf(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tgt",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("col",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("bits",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .coalesce(1)
  }

  /** Filters at or below this size inline into the manifest (the r16
    * layout, still first-class): ~21 KB of base64 per file-column
    * buys ZERO-IO probes — for an interactive-sized table the lookup
    * is a driver bit test with no sidecar open at all. Bigger filters
    * go to the sidecar where the manifest-size and driver-funnel
    * arguments dominate.
    */
  private[graft] val BloomInlineMaxBits = 1 << 17

  /** Build the per-file bloom filters of the staged files. Returns
    * (inline `bloom` lines for small filters, sidecar metas for big
    * ones, the sidecar word rows — driver-side for small batches,
    * a distributed frame otherwise).
    */
  private def bloomWordsFor(spark: SparkSession, fs: FileSystem,
      staged: Path, relToTarget: Map[String, String],
      bloomCols: Seq[String], maxBits: Int)
      : (Seq[String], Seq[(String, String, Int, Int)],
        Option[Either[Seq[org.apache.spark.sql.Row], DataFrame]]) = {
    require(maxBits >= MinBloomBits && (maxBits & (maxBits - 1)) == 0 &&
      maxBits <= (1 << 24),
      s"[graft] bloomBits must be a power of two in [2^13, 2^24], " +
        s"got $maxBits")
    val stagedPath = fs.makeQualified(staged).toUri.getPath
    val df = spark.read.parquet(staged.toString)
    val inlineLines = scala.collection.mutable.ArrayBuffer[String]()
    val metas =
      scala.collection.mutable.ArrayBuffer[(String, String, Int, Int)]()
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val driverRows =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    bloomCols.sorted.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"[graft] bloom column '$c' not in staged schema")
      val probes = (0 until BloomK).map(i =>
        pmod(xxhash64(lit(i), col("__v")), lit(maxBits.toLong))
          .cast("long"))
      val capWords = df.select(input_file_name().as("__f"),
          col(c).cast("string").as("__v"))
        .where(col("__v").isNotNull)
        .select(col("__f"), explode(array(probes: _*)).as("__p"))
        .select(col("__f"), expr("shiftright(__p, 6)").cast("int")
          .as("__w"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))")
            .as("__mask"))
        .groupBy(col("__f"), col("__w"))
        .agg(expr("bit_or(__mask)").as("__bits"))
      def sizeOf(occupied: Double): Int = {
        val ndv =
          if (occupied >= maxBits) Long.MaxValue
          else math.max(1L, math.round(
            -(maxBits.toDouble / BloomK) *
              math.log1p(-occupied / maxBits)))
        val want = math.max(MinBloomBits.toLong,
          math.min(maxBits.toLong,
            if (ndv == Long.MaxValue) maxBits.toLong
            else BloomBitsPerKey * ndv))
        var m = MinBloomBits
        while (m < want) m <<= 1
        m
      }
      // SMALL-BATCH FAST PATH: the capWords aggregate is bounded by
      // construction at ≤ maxBits/64 words per file, so below this
      // cap (≤ 32 MB of packed longs) ONE job collects it and the
      // occupancy sizing + modular word fold run on the driver —
      // against the distributed plan's persist + occupancy job +
      // broadcast-join fold + checkpoint, that is 3 fewer Spark jobs
      // and 2 fewer shuffles, the difference between ~0.3 s and
      // ~1.3 s on an interactive-sized append. Wide commits keep the
      // distributed fold (the collect stays executor-side).
      val fastCap = relToTarget.size.toLong * (maxBits / 64) <= (1L << 21)
      if (fastCap) {
        val rows = capWords.collect()
        val byTgt = rows.groupBy(_.getString(0)).toSeq.flatMap {
          case (f, ws) =>
            val rel = new Path(new java.net.URI(f))
              .toUri.getPath.stripPrefix(stagedPath + "/")
            relToTarget.get(rel).map(tgt => (tgt, ws))
        }.sortBy(_._1)
        byTgt.foreach { case (tgt, ws) =>
          val occupied = ws.iterator
            .map(r => java.lang.Long.bitCount(r.getLong(2)).toLong)
            .sum.toDouble
          val m = sizeOf(occupied)
          val nw = m / 64
          val folded = new Array[Long](nw)
          ws.foreach { r =>
            folded(r.getInt(1) % nw) |= r.getLong(2)
          }
          if (m <= BloomInlineMaxBits) {
            // small filter: INLINE in the manifest — the probe is a
            // driver bit test, zero sidecar IO. Position parity with
            // the sidecar fold holds because for pow2 m the word fold
            // `w & (m/64 - 1)` keeping in-word offsets IS the inline
            // probe's `hash mod m` (low log2(m) bits of the hash).
            val bytes = new Array[Byte](m >> 3)
            var i = 0
            while (i < bytes.length) {
              bytes(i) =
                ((folded(i >> 3) >>> ((i & 7) * 8)) & 0xFF).toByte
              i += 1
            }
            inlineLines += bloomLine(tgt, c, BloomF(m, BloomK, bytes))
          } else {
            driverRows ++= folded.iterator.zipWithIndex.collect {
              case (bits, w) if bits != 0L =>
                org.apache.spark.sql.Row(tgt, c, m, BloomK, w, bits)
            }
            metas += ((tgt, c, m, BloomK))
          }
        }
      } else {
        val cached = capWords.persist()
        try {
          val occ = cached.groupBy(col("__f"))
            .agg(expr("sum(bit_count(__bits))").as("__d")).collect()
          val fileMeta: Seq[(String, String, Int)] =
            occ.toSeq.flatMap { r =>
              val rel = new Path(new java.net.URI(r.getString(0)))
                .toUri.getPath.stripPrefix(stagedPath + "/")
              relToTarget.get(rel).map(tgt =>
                (r.getString(0), tgt, sizeOf(r.getLong(1).toDouble)))
            }
          if (fileMeta.nonEmpty) {
            import spark.implicits._
            val metaDf = fileMeta.toDF("__f", "__tgt", "__m")
            val folded = cached.join(broadcast(metaDf), "__f")
              .groupBy(col("__tgt"), col("__m"),
                expr("__w % (__m DIV 64)").cast("int").as("__wf"))
              .agg(expr("bit_or(__bits)").as("__b"))
              .select(col("__tgt").as("tgt"), lit(c).as("col"),
                col("__m").as("m"), lit(BloomK).as("k"),
                col("__wf").as("w"), col("__b").as("bits"))
              .localCheckpoint() // materialize before unpersisting input
            frames += folded
            metas ++= fileMeta.sortBy(_._2)
              .map { case (_, tgt, m) => (tgt, c, m, BloomK) }
          }
        } finally cached.unpersist()
      }
    }
    if (driverRows.nonEmpty && frames.nonEmpty) {
      // mixed fast/distributed columns: fold the driver rows into the
      // distributed frame so ONE sidecar part still covers the commit
      frames += bloomRowsDf(spark, driverRows.toSeq)
      driverRows.clear()
    }
    val words: Option[Either[Seq[org.apache.spark.sql.Row], DataFrame]] =
      if (frames.nonEmpty) Some(Right(frames.reduce(_ unionByName _)))
      else if (driverRows.nonEmpty) Some(Left(driverRows.toSeq))
      else None
    (inlineLines.toSeq, metas.toSeq, words)
  }

  /** Write a word frame as ONE sidecar parquet part under `staging`,
    * returning the staged part path — sorted by `(tgt, col, w)` so
    * parquet-mr row-group stats prune probe reads.
    */
  private def writeBloomSidecar(fs: FileSystem, staging: Path,
      wordsDf: DataFrame): Path = {
    val out = new Path(staging, "bloomsc")
    // one part per commit (the Delta single-part-checkpoint shape):
    // coalesce first so the (tgt, col, w) sort happens inside the one
    // writing task — no global-sort exchange. Size bound: words are
    // SPARSE (≤ min(rows·k, m/64) per file-column), so the sidecar is
    // MBs for any realistic commit; a multi-part layout is the escape
    // hatch if single commits ever carry thousands of dense filters.
    wordsDf.coalesce(1)
      .sortWithinPartitions(col("tgt"), col("col"), col("w"))
      .write.mode("overwrite").parquet(out.toString)
    fs.listStatus(out).map(_.getPath)
      .find(p => p.getName.startsWith("part-") &&
        p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"[graft] bloom sidecar: no part file under $out"))
  }

  /** Sidecar write for the small-batch fast path: the folded words are
    * already ON the driver, so the part file writes through parquet-mr
    * directly — no Spark job at all (the byte layout matches the Spark
    * write: same field names/types, rows sorted by (tgt, col, w) so
    * row-group stats prune probe reads identically).
    */
  private def writeBloomSidecarDriver(fs: FileSystem, staging: Path,
      rows: Seq[org.apache.spark.sql.Row]): Path = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.schema.MessageTypeParser
    val out = new Path(staging, "bloomsc/part-00000.parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message bloomsc {
           required binary tgt (UTF8);
           required binary col (UTF8);
           required int32 m;
           required int32 k;
           required int32 w;
           required int64 bits;
         }""")
    val fact = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(out)
      .withConf(fs.getConf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      rows.sortBy(r => (r.getString(0), r.getString(1), r.getInt(4)))
        .foreach { r =>
          val g = fact.newGroup()
          g.append("tgt", r.getString(0))
          g.append("col", r.getString(1))
          g.append("m", r.getInt(2))
          g.append("k", r.getInt(3))
          g.append("w", r.getInt(4))
          g.append("bits", r.getLong(5))
          writer.write(g)
        }
    } finally writer.close()
    out
  }

  /** Fold a filter down to `m` bits (pow2 modulo refinement): bit `p`
    * maps to `p AND (m-1)`, exactly where a fresh m-bit build would
    * have set it. Identity when sizes already match.
    */
  private def foldBloom(bf: BloomF, m: Int): Array[Byte] =
    if (bf.m == m) bf.bits
    else {
      val out = new Array[Byte](m >> 3)
      var p = 0
      while (p < bf.m) {
        if ((bf.bits(p >> 3) & (1 << (p & 7))) != 0) {
          val q = p & (m - 1)
          out(q >> 3) = (out(q >> 3) | (1 << (q & 7))).toByte
        }
        p += 1
      }
      out
    }

  private def bloomPosCache()
      : scala.collection.mutable.Map[(String, Int, Int), Array[Int]] =
    scala.collection.mutable.Map.empty

  /** File-skipping predicates [[readBackWherePred]] can prune on — the
    * Delta data-skipping predicate classes. Every variant has an exact
    * residual-filter equivalent, so a skipping read ALWAYS returns the
    * same rows as the filtered full read; the stats only decide which
    * files are opened.
    */
  sealed trait SkipPredicate { def column: String }
  object SkipPredicate {
    /** `column` (numeric-castable) in `[lo, hi]`, inclusive. */
    final case class NumRange(column: String, lo: Double, hi: Double)
      extends SkipPredicate
    /** `column` as string in `[lo, hi]` (inclusive, UTF-8 byte order —
      * Spark's own string order; ISO dates/timestamps make it a
      * chronological range). A `None` bound is unbounded on that side:
      * open-top ranges get NO sentinel value, because no string is
      * maximal in UTF-8 order (the legacy `'￿'` pads sort BELOW
      * supplementary-plane characters and mis-pruned emoji keys).
      */
    final case class StrRange(column: String, lo: Option[String],
        hi: Option[String]) extends SkipPredicate
    object StrRange {
      def apply(column: String, lo: String, hi: String): StrRange =
        StrRange(column, Some(lo), Some(hi))
    }
    /** `column` as string equals `value`. */
    final case class StrEq(column: String, value: String)
      extends SkipPredicate
    /** `column IS NULL` — prunes on recorded null counts. */
    final case class IsNull(column: String) extends SkipPredicate
    /** `column IS NOT NULL` — prunes all-null files. */
    final case class IsNotNull(column: String) extends SkipPredicate
    /** Conjunction: a file is read only if EVERY conjunct's stats say
      * it may match — file sets intersect, which is the whole point of
      * Z-ordered layouts (a two-column slab query prunes on both axes
      * at once). `column` reports the first conjunct's (metrics only).
      */
    final case class And(preds: Seq[SkipPredicate]) extends SkipPredicate {
      require(preds.nonEmpty, "[graft] SkipPredicate.And: empty")
      override def column: String = preds.head.column
    }
    /** Disjunction: a file is read if ANY disjunct may match — file
      * sets union. An IN-list over bloom-indexed keys
      * ([[StrIn]] sugars the common case) prunes every file whose
      * filter rejects ALL the values in ONE read.
      */
    final case class Or(preds: Seq[SkipPredicate]) extends SkipPredicate {
      require(preds.nonEmpty, "[graft] SkipPredicate.Or: empty")
      override def column: String = preds.head.column
    }
    /** `column` as string IN `values` — [[Or]] of [[StrEq]]s. */
    def StrIn(column: String, values: Seq[String]): SkipPredicate =
      Or(values.map(StrEq(column, _)))
  }

  /** Can a file with `st` stats PROVE that every row matches `pred`?
    * The dual of [[mayMatch]] — used by [[countWhere]] to credit whole
    * files by metadata. Conservative: unknown counts, truncated string
    * bounds, or any nulls (which never satisfy a value predicate) all
    * answer false and fall back to scanning.
    */
  private def mustMatch(pred: SkipPredicate, st: ColStats): Boolean = {
    def noNulls = st.nulls == 0 && st.rows >= 0
    pred match {
      // cross-column combinations go through mustMatchFile; answering
      // one here against a single column's stats would be wrong
      case SkipPredicate.And(_) | SkipPredicate.Or(_) => false
      case SkipPredicate.NumRange(_, lo, hi) =>
        st.kind == "num" && noNulls &&
          numBounds(st).exists { case (mn, mx) => mn >= lo && mx <= hi }
      case SkipPredicate.StrRange(_, lo, hi) =>
        // a truncated max (maxTrunc) proves no upper bound; a truncated
        // min is still a valid lower bound for mn >= lo (a UTF-8 prefix
        // never sorts above its continuation). Bounds compare as UTF-8
        // bytes — the order they were produced in.
        st.kind == "str" && noNulls && ((st.min, st.max) match {
          case (Some(mn), Some(mx)) =>
            lo.forall(l => utf8Cmp(mn, l) >= 0) &&
              hi.forall(h => !st.maxTrunc && utf8Cmp(mx, h) <= 0)
          case _ => false
        })
      case SkipPredicate.StrEq(_, v) =>
        st.kind == "str" && noNulls && !st.maxTrunc &&
          v.length <= StatsStrCap &&
          st.min.contains(v) && st.max.contains(v)
      case SkipPredicate.IsNull(_) =>
        st.nulls >= 0 && st.rows >= 0 && st.nulls == st.rows
      case SkipPredicate.IsNotNull(_) => noNulls
    }
  }

  private def mustMatchFile(stats: Map[(String, String), ColStats],
      t: String, pred: SkipPredicate): Boolean = pred match {
    case SkipPredicate.And(ps) =>
      ps.forall(p => mustMatchFile(stats, t, p))
    case SkipPredicate.Or(ps) =>
      ps.exists(p => mustMatchFile(stats, t, p))
    case p => stats.get((t, p.column)).exists(st => mustMatch(p, st))
  }

  /** [[mayMatch]] lifted to a whole file: conjunctions consult each
    * conjunct's own column stats; a column with no stats is
    * conservative for that conjunct only.
    */
  private def mayMatchFile(stats: Map[(String, String), ColStats],
      t: String, pred: SkipPredicate): Boolean = pred match {
    case SkipPredicate.And(ps) => ps.forall(p => mayMatchFile(stats, t, p))
    case SkipPredicate.Or(ps)  => ps.exists(p => mayMatchFile(stats, t, p))
    case p => stats.get((t, p.column)) match {
      case Some(st) => mayMatch(p, st)
      case None     => true
    }
  }

  /** Can a file with `st` stats contain a row matching `pred`? Files with
    * no/insufficient stats answer true (read conservatively). Bounds
    * comparisons respect [[truncMin]]/[[truncMax]]: a truncated min is a
    * valid lower bound, a marker-suffixed max a valid upper bound.
    */
  private def mayMatch(pred: SkipPredicate, st: ColStats): Boolean = {
    def allNull = st.min.isEmpty && st.max.isEmpty &&
      st.nulls >= 0 && st.rows >= 0 && st.nulls == st.rows
    pred match {
      case SkipPredicate.And(ps) =>
        ps.forall(p => mayMatch(p, st)) // same-column conjunction;
      // cross-column goes through mayMatchFile
      case SkipPredicate.Or(ps) => ps.exists(p => mayMatch(p, st))
      case SkipPredicate.NumRange(_, lo, hi) =>
        if (st.kind != "num") true
        else (st.min, st.max) match {
          case (Some(_), Some(_)) =>
            numBounds(st).forall { case (mn, mx) => mx >= lo && mn <= hi }
          case _ => !allNull // unknown bounds: only an all-null file is
          // provably rowless under a value predicate
        }
      case SkipPredicate.StrRange(_, lo, hi) =>
        if (st.kind != "str") true
        else (st.min, st.max) match {
          // UTF-8 byte compares (the order the bounds were produced
          // in); a truncated max is +INFINITY in that order — the
          // stored prefix proves nothing about the true maximum
          case (Some(mn), Some(mx)) =>
            lo.forall(l => u8MaxGe(st, mx, l)) &&
              hi.forall(h => utf8Cmp(mn, h) <= 0)
          case _ => !allNull
        }
      case SkipPredicate.StrEq(_, v) =>
        if (st.kind != "str") true
        else (st.min, st.max) match {
          case (Some(mn), Some(mx)) =>
            u8MaxGe(st, mx, v) && utf8Cmp(mn, v) <= 0
          case _ => !allNull
        }
      case SkipPredicate.IsNull(_) =>
        st.nulls < 0 || st.nulls > 0
      case SkipPredicate.IsNotNull(_) =>
        st.nulls < 0 || st.rows < 0 || st.nulls < st.rows
    }
  }

  /** Numeric bounds of `st`; None when absent or NaN. Spark sorts NaN
    * above every number (and `NaN > x` holds), so a min/max aggregate
    * that met one bounds nothing a range compare may rely on.
    */
  private def numBounds(st: ColStats): Option[(Double, Double)] =
    (st.min, st.max) match {
      case (Some(mn), Some(mx)) =>
        val (lo, hi) = (mn.toDouble, mx.toDouble)
        if (lo.isNaN || hi.isNaN) None else Some((lo, hi))
      case _ => None
    }

  /** The exact row filter `pred` stands for (applied as the residual on
    * the pruned read, and definitionally on the full read).
    */
  private def residual(pred: SkipPredicate)
      : org.apache.spark.sql.Column = pred match {
    case SkipPredicate.NumRange(c, lo, hi) =>
      col(c).cast("double").between(lo, hi)
    case SkipPredicate.StrRange(c, lo, hi) =>
      val s = col(c).cast("string")
      (lo.map(s >= _), hi.map(s <= _)) match {
        case (Some(a), Some(b)) => a && b
        case (Some(a), None)    => a
        case (None, Some(b))    => b
        case (None, None)       => s.isNotNull
      }
    case SkipPredicate.StrEq(c, v) => col(c).cast("string") === v
    case SkipPredicate.IsNull(c) => col(c).isNull
    case SkipPredicate.IsNotNull(c) => col(c).isNotNull
    case SkipPredicate.And(ps) => ps.map(residual).reduce(_ && _)
    case SkipPredicate.Or(ps) => ps.map(residual).reduce(_ || _)
  }

  /** [[append]] that also records per-file min/max for `statsCols` in the
    * manifest (one extra distributed aggregate over the staged batch) —
    * the metadata [[readBackWhere]] prunes files with. Stats columns must
    * be numeric-castable DATA columns (partition columns live in the
    * directory name and are pruned by Spark's own partition pruning).
    */
  def statsAppend(df: DataFrame, destPath: String,
      partitionField: Option[String], statsCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      writeId: Option[String] = None): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty — " +
      "use append() when no skipping metadata is wanted")
    // a caller-supplied writeId makes the append IDEMPOTENT by that id
    // (stageMoveCommit's replay no-op) — the streaming sink's
    // exactly-once lever: writeId = f(checkpoint, batchId), so a batch
    // replayed after a crash between commit and Spark's own offset
    // checkpoint commits nothing the second time
    val id = writeId.getOrElse(
      java.util.UUID.randomUUID().toString.replace("-", "").take(16))
    // COLUMN MAPPING: staged files (and their stats/bloom keys) carry
    // PHYSICAL names; no-op for never-renamed tables. Partition
    // columns derive from the LOGICAL frame first (the spec names
    // logical columns), then the data columns map to physical.
    val fs0 = fsOf(df.sparkSession, new Path(destPath))
    val cmap = mappingFor(fs0, resolvedLog(fs0, destPath))
    stageMoveCommit(df.sparkSession, destPath, id, Seq.empty,
      physColsOf(statsCols, cmap),
      physColsOf(bloomCols, cmap), bloomBits) {
      staging =>
        val writer = partitionField match {
          case Some(f) =>
            val (dfp, pcols) = withPartitionCols(df, f)
            toPhysicalDf(dfp, cmap).write.mode("overwrite")
              .partitionBy(pcols: _*)
          case None => toPhysicalDf(df, cmap).write.mode("overwrite")
        }
        writer.parquet(staging.toString)
    }
    finishCommit(df.sparkSession, destPath, id)
  }

  /** DATA-SKIPPING read (Delta's file-stats pruning): the committed rows
    * with `column` in `[lo, hi]`, reading ONLY files whose manifest
    * min/max range intersects it — at 100 TB the difference between a
    * metadata decision and a full scan when the predicate is selective
    * on a clustered column (event time, monotone ids). Files without
    * recorded stats are conservatively read; the residual filter applies
    * either way, so the result ALWAYS equals
    * `readBack(...).where(col(column).between(lo, hi))`.
    */
  def readBackWhere(spark: SparkSession, destPath: String,
      column: String, lo: Double, hi: Double): DataFrame =
    readBackWherePred(spark, destPath,
      SkipPredicate.NumRange(column, lo, hi))

  /** [[readBackWhere]] over the full [[SkipPredicate]] algebra: numeric
    * and string/date ranges, string equality, and null-ness — string
    * bounds and null counts come from the typed `stats2` manifest lines,
    * so a `lang = 'en'` or `ts IS NULL` predicate is a metadata decision,
    * not a scan. Files without applicable stats are read conservatively;
    * the residual filter keeps result parity with the full read.
    */
  def readBackWherePred(spark: SparkSession, destPath: String,
      pred: SkipPredicate): DataFrame = {
    val fs = fsOf(spark, new Path(destPath))
    val snap = new SnapshotHandle(fs, destPath, resolvedLog(fs, destPath))
    val targets = snap.targets
    if (targets.isEmpty) return spark.emptyDataFrame
    val keep = snap.prune(targets, pred)
    println(s"METRIC graft.skipping.files_total=${targets.length} " +
      s"files_read=${keep.length} col=${pred.column} dest=$destPath")
    if (keep.isEmpty)
      return readBack(spark, destPath).where(lit(false))
    // deletion vectors apply to the kept files (stats bounds may cover
    // deleted rows — pruning stays conservative-correct either way)
    readFilesDv(spark, destPath, keep, snap.dvs).where(residual(pred))
  }

  /** HYBRID metadata/scan COUNT (Delta's partial aggregate pushdown):
    * `count(*) WHERE pred`, where a file whose stats PROVE every row
    * matches ([[mustMatch]] — bounds inside the range, zero nulls)
    * contributes its recorded row count with NO scan, a file the stats
    * exclude contributes zero, and only the boundary files the
    * predicate genuinely cuts through are read. On a clustered table a
    * selective range count therefore scans O(1) files regardless of
    * table size — between [[metadataCount]] (no predicate, zero scans)
    * and [[readBackWherePred]] (full row retrieval). Result is always
    * exact: metadata credit requires known row/null counts, everything
    * else falls back to the residual scan.
    */
  def countWhere(spark: SparkSession, destPath: String,
      pred: SkipPredicate): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val mfs = resolvedLog(fs, destPath)
    val targets = effectiveTargetsOf(fs, mfs)
    if (targets.isEmpty) return 0L
    val stats = fileStatsOf(fs, mfs)
    val dvs = effectiveDvsOf(fs, mfs)
    val rowsByTgt = fileRowsOf(fs, mfs)
    def rowsOf(t: String): Option[Long] = rowsByTgt.get(t)
    var credited = 0L
    val scanList = scala.collection.mutable.ArrayBuffer[String]()
    var skipped = 0
    val blooms = bloomIndexOf(spark, destPath, fs, mfs)
    val posC = bloomPosCache()
    val pPhys = mapPredCols(pred, mappingFor(fs, mfs))
    targets.foreach { t =>
      // a file with deletion vectors can still SKIP (pruned = no rows
      // either way) but cannot take metadata credit: its recorded row
      // count includes tombstoned rows
      if (!mayMatchFile(stats, t, pPhys) ||
          !blooms.mayMatch(posC, t, pPhys)) skipped += 1
      else rowsOf(t) match {
        case Some(r) if mustMatchFile(stats, t, pPhys) &&
            !dvs.contains(t) => credited += r
        case _ => scanList += t
      }
    }
    println(s"METRIC graft.countwhere.files_total=${targets.length} " +
      s"skipped=$skipped credited=${targets.length - skipped -
        scanList.length} scanned=${scanList.length} dest=$destPath")
    val scanned =
      if (scanList.isEmpty) 0L
      else readFilesDv(spark, destPath, scanList.toSeq, dvs)
        .where(residual(pred)).count()
    credited + scanned
  }

  /** DATA-FILE compaction (Delta's OPTIMIZE): bin-pack committed files
    * smaller than `targetBytes` into ~`targetBytes` files, per partition
    * directory (a packed file stays in its partition dir — the layout IS
    * the partition column), and commit the rewritten state as ONE atomic
    * SNAPSHOT version. [[compact]] collapses the LOG; this collapses the
    * FILES — the small-file debris a per-batch streaming ingest
    * measurably accumulates (every `curateDocBatch` append is its own
    * parquet file; a reader's scan-task count grows with batch count,
    * not data size).
    *
    * Crash windows ride the existing staged-attempt machinery:
    *  - before the snapshot commit: the staged attempt's write-ahead
    *    manifest names every packed file; [[recover]] finds no log entry
    *    for the writeId and sweeps them — old state untouched;
    *  - after the commit: readers already resolve from the snapshot
    *    (superseded manifests are ignored even before their cleanup,
    *    see [[readVersion]]); [[recover]] rolls the attempt forward.
    * Replaced small files stay on disk, unreferenced, until [[vacuum]]'s
    * retention passes — an in-flight reader holding a pre-optimize file
    * list keeps reading valid files (the Delta VACUUM rationale).
    * History before the snapshot becomes unreachable, as with
    * [[compact]]. Returns the number of files repacked.
    *
    * `clusterBy` (Delta's sort-compaction) changes HOW each partition
    * dir repacks: instead of concatenating small files as-is — which
    * merges their stats into one range spanning everything, destroying
    * [[readBackWherePred]] pruning exactly on the tables where stats
    * mattered — the union of small files is range-repartitioned and
    * sorted by the cluster key(s) and re-split into ~`targetBytes`
    * files, and the packed files' stats are RE-DERIVED from the written
    * data. Post-optimize per-file min/max stay tight and disjoint, so a
    * selective predicate on the cluster key prunes as well after
    * compaction as before.
    *
    * `zorderBy` (Delta's `ZORDER BY`) is the multi-column variant:
    * instead of a lexicographic sort — which keeps only the FIRST key's
    * per-file bounds tight and makes every file span the later keys'
    * full domain — rows sort by a Morton key ([[ZOrder.zkey]]:
    * per-column rank-bucket ids, bits interleaved), so each packed file
    * covers a small hyper-rectangle and [[readBackWherePred]] prunes on
    * ANY of the z columns. Mutually exclusive with `clusterBy`;
    * `zorderBits` buckets per column (`bits × k <= 60`). Costs one
    * `approxQuantile` pass per z column per partition dir on top of the
    * clusterBy path; the key itself is a row-local codegen'd expression.
    */
  def optimize(spark: SparkSession, destPath: String,
      targetBytes: Long = 128L * 1024 * 1024, minFiles: Int = 2,
      clusterBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      zorderBits: Int = 8): Long = {
    require(minFiles >= 2, "minFiles >= 2 (packing one file is a rename)")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "[graft] optimize: clusterBy and zorderBy are mutually exclusive " +
        "sort strategies — pass one")
    val sortKeys = if (zorderBy.nonEmpty) zorderBy else clusterBy
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    if (pendingAttempt(fs, destPath, "optimize")) return 0L
    // capture the log ONCE: every piece of the snapshot (survivors, stats,
    // version) derives from this one listing, and the commit below aborts
    // if the log advanced past it — a concurrent append landing during the
    // (long) bin rewrite would otherwise have its manifest deleted by the
    // cleanup while its files are absent from the snapshot, silently
    // losing committed rows (concurrent appends are explicitly supported
    // by stageMoveCommit's version-retry protocol)
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    if (targets.isEmpty) return 0L
    // tombstones of repacked inputs MATERIALIZE here: the packed file is
    // written from live rows only and carries no dv lines
    val dvs = effectiveDvsOf(fs, old)
    // COLUMN MAPPING: repacked/re-sorted files go back into the table —
    // write them under PHYSICAL names like every committed file
    val cmap = mappingFor(fs, old)

    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val sized = targets.flatMap { rel =>
      val p = new Path(dest, rel)
      if (fs.exists(p)) {
        val len = fs.getFileStatus(p).getLen
        if (len < targetBytes) Some((rel, len)) else None
      } else None
    }
    val sizeOf = sized.toMap
    val byDir = sized.groupBy { case (rel, _) => dirOf(rel) }
      .toSeq.sortBy(_._1)
    // bin-pack per parent dir. Plain mode: first-fit decreasing,
    // deterministic order, each bin concatenates into one file.
    // Clustered mode: ONE unit per dir — the whole dir's small-file set
    // re-sorts together, then re-splits by size.
    final class Bin {
      val files = scala.collection.mutable.ArrayBuffer[String]()
      var used = 0L
    }
    val bins: Seq[Seq[String]] =
      if (sortKeys.nonEmpty)
        byDir.flatMap { case (_, files) =>
          if (files.length < minFiles) None
          else Some(files.map(_._1).sorted.toSeq)
        }
      else byDir.flatMap { case (_, files) =>
        val bs = scala.collection.mutable.ArrayBuffer[Bin]()
        for ((rel, len) <- files.sortBy { case (r, l) => (-l, r) }) {
          bs.find(_.used + len <= targetBytes) match {
            case Some(b) => b.files += rel; b.used += len
            case None =>
              val b = new Bin; b.files += rel; b.used = len; bs += b
          }
        }
        bs.filter(_.files.length >= minFiles).map(_.files.toSeq)
      }
    if (bins.isEmpty) {
      println(s"METRIC graft.optimized_files=0 dest=$destPath")
      return 0L
    }

    val writeId = "opt" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(13)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val statsByTgt: Map[String, Map[String, ColStats]] =
      fileStatsOf(fs, old).groupBy(_._1._1)
        .map { case (t, m) => t -> m.map { case ((_, c), st) => c -> st } }
    val bloomsOld = bloomIndexOf(spark, destPath, fs, old)

    val (packed, packedStats): (Seq[String], Seq[String]) =
      if (sortKeys.isEmpty) {
        val names = bins.zipWithIndex.map { case (bin, i) =>
          val parent = dirOf(bin.head) match {
            case "" => ""
            case d  => d + "/"
          }
          s"$parent$writeId-$i.parquet"
        }
        // write-ahead manifest FIRST: a crash mid-move leaves an attempt
        // with no log entry, and recover() sweeps exactly these names
        writeFile(fs, new Path(staging, WaManifest),
          names.map("target\t" + _).mkString("\n"))
        // a bin whose inputs carry tombstones re-derives its stats from
        // the STAGED data (before the move empties the staging dir) —
        // the pure-metadata merge below would count/bound deleted rows
        val derivedStats =
          scala.collection.mutable.ArrayBuffer[String]()
        bins.zip(names).zipWithIndex.foreach { case ((bin, target), i) =>
          val binOut = new Path(staging, s"bin_$i")
          // no basePath: partition values live in the directory name, not
          // the file, and the packed file goes back into the SAME dir;
          // dv-aware read = tombstone materialization
          toPhysicalDf(
            readFilesDv(spark, destPath, bin, dvs, withBase = false),
            cmap)
            .coalesce(1).write.mode("overwrite").parquet(binOut.toString)
          val part = fs.listStatus(binOut).map(_.getPath)
            .find(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"[graft] optimize: no part file under $binOut"))
          if (bin.exists(dvs.contains)) {
            val perFile =
              bin.map(b => statsByTgt.getOrElse(b, Map.empty))
            val derivable = perFile.flatMap(_.keys).distinct.sorted
              .filter(c => perFile.forall(_.contains(c)))
            // footer pass (statsLinesFor) instead of a data re-read of
            // the staged bin — the same fast lane every other rewrite
            // path uses; the legacy scan remains its internal fallback
            if (derivable.nonEmpty)
              derivedStats ++= statsLinesFor(spark, fs, binOut,
                Map(part.getName -> target), derivable)
          }
          val tgt = new Path(dest, target)
          fs.mkdirs(tgt.getParent)
          require(fs.rename(part, tgt),
            s"[graft] optimize move failed: $tgt")
        }
        // a concatenated file's stats are the pure-metadata merge of its
        // inputs' (only for columns EVERY input has stats for); dv'd
        // bins already re-derived above
        val pStats = bins.zip(names).flatMap { case (bin, tgt) =>
          if (bin.exists(dvs.contains)) Nil
          else {
            val perFile =
              bin.map(b => statsByTgt.getOrElse(b, Map.empty))
            perFile.flatMap(_.keys).distinct.sorted.flatMap { c =>
              val entries = perFile.map(_.get(c))
              if (entries.forall(_.isDefined))
                mergeStats(entries.flatten)
                  .map(st => statsLine(tgt, c, st))
              else None
            }
          }
        }
        // bloom index survives concatenation as pure metadata: the
        // packed file's filter is the bitwise OR of its inputs' (mixed
        // sizes fold down to the smallest first; dv'd inputs only
        // leave stale bits — the conservative direction). The merged
        // bits land in THIS commit's sidecar, never inline.
        val mergedMeta = scala.collection.mutable
          .ArrayBuffer[(String, String, Int, Int)]()
        val mergedRows = scala.collection.mutable
          .ArrayBuffer[(String, String, Int, Int, Int, Long)]()
        if (bloomsOld.nonEmpty) bins.zip(names).foreach {
          case (bin, tgt) =>
            val cols = bloomsOld.keys.filter(k => bin.contains(k._1))
              .map(_._2).toSeq.distinct.sorted
            cols.foreach { c =>
              val bfs = bin.map(b => bloomsOld.fullFilter((b, c)))
              val fl = bfs.flatten
              if (bfs.forall(_.isDefined) &&
                  fl.forall(_.k == fl.head.k)) {
                val m = fl.map(_.m).min
                val bits = new Array[Byte](m >> 3)
                fl.map(foldBloom(_, m)).foreach(fb =>
                  bits.indices.foreach(j =>
                    bits(j) = (bits(j) | fb(j)).toByte))
                mergedMeta += ((tgt, c, m, fl.head.k))
                var w = 0
                while (w < (m >> 6)) {
                  var word = 0L
                  var b = 0
                  while (b < 8) {
                    word |= (bits(w * 8 + b).toLong & 0xffL) << (b * 8)
                    b += 1
                  }
                  if (word != 0L)
                    mergedRows += ((tgt, c, m, fl.head.k, w, word))
                  w += 1
                }
              }
            }
        }
        val pBloomLines: Seq[String] =
          if (mergedMeta.isEmpty) Nil
          else {
            import spark.implicits._
            val rel = s"$BloomDir/$writeId.parquet"
            val part = writeBloomSidecar(fs, staging,
              mergedRows.toSeq.toDF("tgt", "col", "m", "k", "w", "bits"))
            // extend the WA cover to the sidecar before it moves
            writeFile(fs, new Path(staging, WaManifest),
              (names.map("target\t" + _) :+ s"sidecar\t$rel")
                .mkString("\n"))
            val tgtP = new Path(dest, rel)
            fs.mkdirs(tgtP.getParent)
            require(fs.rename(part, tgtP),
              s"[graft] optimize bloom sidecar move failed: $tgtP")
            mergedMeta.toSeq.map { case (tgt, c, m, k) =>
              bloomScLine(tgt, c, m, k, rel) }
          }
        (names, pStats ++ derivedStats.toSeq ++ pBloomLines)
      } else {
        // sort-compaction: stage every unit (range-sorted by the cluster
        // key, split into ~targetBytes files), re-derive stats from the
        // STAGED DATA, then write the WA manifest and move. Staged-only
        // data needs no WA cover — recover() sweeps the attempt dir
        // wholesale when no log entry exists. Units run CONCURRENTLY
        // (bounded pool): each unit is its own Spark job over its own
        // partition dir, and at a many-dir table the per-unit jobs are
        // small — running them serially would leave the cluster idle
        // between job setups. Results are keyed by unit index, so
        // output names and manifest order are completion-order-free.
        def processUnit(rels: Seq[String], u: Int)
            : (Seq[(Path, String)], Seq[String],
               Option[(Seq[(String, String, Int, Int)], DataFrame)]) = {
          val parent = dirOf(rels.head) match {
            case "" => ""
            case d  => d + "/"
          }
          val unitOut = new Path(staging, s"clu_$u")
          val union =
            readFilesDv(spark, destPath, rels, dvs, withBase = false)
          require(sortKeys.forall(union.columns.contains),
            s"[graft] optimize cluster/zorder keys " +
              s"${sortKeys.mkString(",")} must be data columns; file " +
              s"columns are " + union.columns.mkString(","))
          val total = rels.map(sizeOf).sum
          val nOut = math.max(1L,
            (total + targetBytes - 1) / targetBytes).toInt
          var tPh = System.nanoTime()
          def phase(name: String): Unit = {
            val t1 = System.nanoTime()
            println(f"METRIC graft.optimize.${name}_secs=" +
              f"${(t1 - tPh) / 1e9}%.3f unit=$u dest=$destPath")
            tPh = t1
          }
          val sorted =
            if (zorderBy.nonEmpty) {
              // Morton key per unit: cuts from THIS unit's union, so the
              // curve adapts to each partition dir's own value domain
              val zc = ZOrder.cuts(union, zorderBy, zorderBits)
              phase("zorder_cuts")
              union.withColumn(ZOrder.ZCol,
                ZOrder.zkey(union, zc, zorderBits))
                .repartitionByRange(nOut, col(ZOrder.ZCol))
                .sortWithinPartitions(col(ZOrder.ZCol))
                .drop(ZOrder.ZCol)
            } else
              union
                .repartitionByRange(nOut, clusterBy.map(col): _*)
                .sortWithinPartitions(clusterBy.map(col): _*)
          toPhysicalDf(sorted, cmap).write.mode("overwrite")
            .parquet(unitOut.toString)
          phase("sort_write")
          val parts = fs.listStatus(unitOut).map(_.getPath)
            .filter(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(".parquet"))
            .sortBy(_.getName).toSeq
          // re-derive stats for every column any input had stats for,
          // plus the cluster key(s) themselves. Stats keys are
          // PHYSICAL; union surfaces LOGICAL — compare through the
          // mapping and hand the staged (physical) reader physical
          // names
          val p2l = cmap.map(_.swap)
          val statCols = (rels.flatMap(r =>
            statsByTgt.getOrElse(r, Map.empty).keys)
              .map(c => p2l.getOrElse(c, c)) ++ sortKeys)
            .distinct.sorted.filter(union.columns.contains)
          val unitMoves = parts.zipWithIndex.map { case (part, k) =>
            (part, s"$parent$writeId-$u-$k.parquet")
          }
          // footer pass (statsLinesFor) instead of a distributed data
          // re-read of every staged byte — the same fast lane the
          // rewrite/merge/purge paths use; its internal fallback IS
          // the old scan, so the lines match exactly either way
          val unitStats =
            if (statCols.isEmpty) Seq.empty[String]
            else statsLinesFor(spark, fs, unitOut,
              unitMoves.map { case (p, t) => p.getName -> t }.toMap,
              physColsOf(statCols, cmap))
          // point-lookup pruning survives the re-sort: rebuild blooms
          // from the STAGED data for every column any input indexed
          // (a fresh build is exact for the new row layout), into the
          // commit's sidecar
          val unitBloomCols = rels.flatMap(r =>
            bloomsOld.keys.filter(_._1 == r).map(_._2))
            .map(c => p2l.getOrElse(c, c))
            .distinct.sorted.filter(union.columns.contains)
            .map(c => cmap.getOrElse(c, c))
          val (unitInline, unitBlooms)
              : (Seq[String],
                Option[(Seq[(String, String, Int, Int)], DataFrame)]) =
            if (unitBloomCols.isEmpty) (Nil, None)
            else {
              val (inline, metas, wordsOpt) = bloomWordsFor(spark, fs,
                unitOut,
                unitMoves.map { case (p, t) => p.getName -> t }.toMap,
                unitBloomCols, DefaultBloomBits)
              (inline, wordsOpt.map {
                case Right(df)  => (metas, df)
                case Left(rows) => (metas, bloomRowsDf(spark, rows))
              })
            }
          (unitMoves, unitStats ++ unitInline, unitBlooms)
        }
        val unitResults: Seq[(Seq[(Path, String)], Seq[String],
            Option[(Seq[(String, String, Int, Int)], DataFrame)])] =
          if (bins.length <= 1) bins.zipWithIndex.map {
            case (rels, u) => processUnit(rels, u) }
          else {
            import scala.concurrent.{Await, ExecutionContext, Future}
            import scala.concurrent.duration.Duration
            val pool = java.util.concurrent.Executors
              .newFixedThreadPool(math.min(4, bins.length))
            implicit val ec: ExecutionContext =
              ExecutionContext.fromExecutor(pool)
            try Await.result(Future.sequence(bins.zipWithIndex.map {
              case (rels, u) => Future(processUnit(rels, u)) }),
              Duration.Inf)
            finally pool.shutdown()
          }
        val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
        val pStats = scala.collection.mutable.ArrayBuffer[String]()
        unitResults.foreach { case (um, us, _) =>
          moves ++= um; pStats ++= us
        }
        val bloomArts = unitResults.flatMap(_._3)
        val scLine: Option[String] =
          if (bloomArts.isEmpty) None
          else {
            val rel = s"$BloomDir/$writeId.parquet"
            pStats ++= bloomArts.flatMap(_._1).map {
              case (tgt, c, m, k) => bloomScLine(tgt, c, m, k, rel) }
            Some(s"sidecar\t$rel")
          }
        writeFile(fs, new Path(staging, WaManifest),
          (moves.map("target\t" + _._2) ++ scLine.toSeq).mkString("\n"))
        bloomArts.map(_._2).reduceOption(_ unionByName _).foreach { w =>
          val rel = s"$BloomDir/$writeId.parquet"
          val part = writeBloomSidecar(fs, staging, w)
          val tgtP = new Path(dest, rel)
          fs.mkdirs(tgtP.getParent)
          require(fs.rename(part, tgtP),
            s"[graft] optimize bloom sidecar move failed: $tgtP")
        }
        moves.foreach { case (part, target) =>
          val tgt = new Path(dest, target)
          fs.mkdirs(tgt.getParent)
          require(fs.rename(part, tgt),
            s"[graft] optimize move failed: $tgt")
        }
        (moves.map(_._2).toSeq, pStats.toSeq)
      }

    val repacked = bins.flatten.toSet
    val survivors = targets.filterNot(repacked) ++ packed
    // skipping stats survive the rewrite: carried verbatim for files the
    // repack did not touch; same for their deletion vectors (repacked
    // inputs' tombstones were materialized and die with the old names)
    val carriedStats = targets.filterNot(repacked).flatMap { t =>
      statsByTgt.getOrElse(t, Map.empty).toSeq.sortBy(_._1)
        .map { case (c, st) => statsLine(t, c, st) }
    }
    val carriedDvs = dvCarryLines(dvs, targets.filterNot(repacked))
    // filters for untouched files carry as raw lines (inline or
    // sidecar pointers — sidecar files are immutable, so a carried
    // pointer stays valid); packed files' merged/rebuilt filters were
    // already written into this commit's own sidecar inside the
    // branches above and ride in packedStats as `bloomsc` lines
    val carriedBlooms =
      bloomCarryLines(fs, old, targets.filterNot(repacked))
    onBeforeOptimizeCommit()
    // commit through the shared snapshot tail: a concurrent PURE APPEND
    // no longer aborts the whole repack — optimize only rearranges
    // bytes, so ANY append absorbs (its files join the survivor list
    // unpacked, its stats/bloom lines carry) and the commit rebases at
    // the advanced version; snapshots/mor commits still abort.
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors,
        carriedStats ++ packedStats ++ carriedDvs ++
          carriedBlooms,
        old, packed, layout = true, canAbsorb = _ => true)) {
      println(s"METRIC graft.optimize.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    println(s"METRIC graft.optimized_files=${repacked.size} " +
      s"into=${packed.length} dest=$destPath")
    repacked.size.toLong
  }

  /** The DML candidate files of `cond` over a captured snapshot, and
    * the pruning predicate they came from: the conjuncts of `cond` the
    * stats/bloom metadata can decide, converted as the SQL scan
    * converts its pushed filters, against the schema the SQL relation
    * uses. `cond` stays the row filter, so pruning only drops files
    * with no matching row; with nothing convertible (or a schema that
    * does not resolve) every live file is a candidate.
    */
  private def dmlCandidates(spark: SparkSession, snap: SnapshotHandle,
      cond: Column, kind: String): (Seq[String], Option[SkipPredicate]) = {
    val skip = scala.util.Try(snap.dataSchema).toOption.flatMap(s =>
      graft.sources.GraftFilterConversion
        .fromColumn(spark, stripPhysical(s), cond))
    val candidates = skip.fold(snap.targets)(snap.prune(snap.targets, _))
    println(s"METRIC graft.$kind.files_total=${snap.targets.length} " +
      s"candidates=${candidates.length} " +
      s"col=${skip.fold("<expr>")(_.column)} dest=${snap.destPath}")
    (candidates, skip)
  }

  /** COPY-ON-WRITE DELETE (Delta's `DELETE WHERE`): remove every row
    * matching `cond`, rewriting ONLY the files that may contain one —
    * at 100 TB a selective delete (GDPR erasure, a bad batch's id
    * range, a contaminated shard) touches the handful of files the
    * metadata names, not the table. Candidates prune through the
    * skipping stats and blooms by the part of `cond` they can decide
    * ([[dmlCandidates]]); the rest of `cond` (regexes, UDF-free
    * expressions over several columns, subqueries) only filters rows.
    * Files the stats exclude are carried untouched, manifest AND
    * bytes; a candidate whose rows all match is dropped without a
    * write; a candidate with no actual match (stats false positive) is
    * left untouched by the per-file match count. Commits as ONE atomic
    * snapshot under the same captured-log / abort-if-advanced
    * discipline as [[optimize]]; replaced files stay on disk for
    * in-flight readers until [[vacuum]]. Returns the number of rows
    * deleted.
    *
    * `cond` must reference DATA columns of the candidate files (the
    * partition directory column is not stored in the data; a
    * partition-predicate delete wants a metadata-only drop, not this
    * path). Candidates missing a column under `mergeSchema` read it
    * as null — never matched, so schema evolution degrades to
    * untouched, not to data loss.
    */
  def deleteWhere(spark: SparkSession, destPath: String,
      cond: Column): Long =
    rewriteWhere(spark, destPath, cond, None)

  /** MERGE-ON-READ DELETE (Delta's deletion vectors): mark matching
    * rows deleted by committing per-file position tombstones instead of
    * rewriting the matched files. Candidate files prune exactly like
    * [[deleteWhere]]'s; the one distributed pass computes the LIVE
    * matching positions (existing tombstones applied first, so counts
    * stay exact and re-deleting is a no-op),
    * writes them as ONE sidecar parquet under `_dv/`, and commits an
    * incremental manifest of `dv` lines — total write cost
    * O(deleted rows), not O(matched files' bytes). The copy-on-write
    * contrast: a scattered-key delete that touches every file rewrites
    * the whole table under [[deleteWhere]] but commits only tombstones
    * here; reads pay one anti-join on `(file name, row position)` until
    * the next [[optimize]]/rewrite of the file MATERIALIZES the
    * deletes and drops its dv lines. Same refuse-on-pending /
    * abort-on-log-advance protocol as [[mergeInto]]. Returns rows
    * deleted.
    */
  def deleteWhereMor(spark: SparkSession, destPath: String,
      cond: Column): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "mor")) return 0L
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val snap = new SnapshotHandle(fs, destPath, old)
    if (snap.targets.isEmpty) return 0L
    val dvs = snap.dvs
    val (candidates, _) = dmlCandidates(spark, snap, cond, "mor")
    if (candidates.isEmpty) return 0L

    // ONE distributed pass: live matching positions (existing dvs
    // anti-joined away), materialized before any commit decision —
    // LAZY pin, the per-file count action right below materializes it
    val delFrame = readFilesDvMeta(spark, destPath, candidates, dvs)
    val newDv = delFrame
      .where(coalesce(bindOuter(delFrame, cond), lit(false)))
      .select(col("__graft_fn").as("name"), col("__graft_pos").as("pos"))
      .localCheckpoint(false)
    // per-file tombstone counts: bounded by the candidate file count
    val perName: Map[String, Long] = newDv.groupBy(col("name"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perName.values.sum
    if (total == 0L) {
      println(s"METRIC graft.mor.no_matches=1 dest=$destPath")
      return 0L
    }
    val relOfName: Map[String, String] =
      candidates.map(rel => fileNameOf(rel) -> rel).toMap

    val writeId = "dv" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val dvRel = s"$DvDir/$writeId.parquet"
    try {
      // one slim sidecar: (name, pos) sorted for locality
      val dvOut = new Path(staging, "dv")
      newDv.orderBy(col("name"), col("pos"))
        .coalesce(1).write.mode("overwrite").parquet(dvOut.toString)
      val part = fs.listStatus(dvOut).map(_.getPath)
        .find(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"[graft] deleteWhereMor: no part file under $dvOut"))
      // WA manifest names the sidecar so a crash mid-move sweeps it
      writeFile(fs, new Path(staging, WaManifest), s"target\t$dvRel")
      val tgt = new Path(dest, dvRel)
      fs.mkdirs(tgt.getParent)
      require(fs.rename(part, tgt),
        s"[graft] deleteWhereMor move failed: $tgt")
    } catch {
      case e: Throwable =>
        fs.delete(new Path(dest, dvRel), false)
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }

    // commit an INCREMENTAL manifest of dv lines only — no targets, no
    // snapshot: the delete is pure additive metadata
    val body = (s"writeid\t$writeId" +:
      perName.toSeq.sortBy(_._1).map { case (n, cnt) =>
        s"dv\t${relOfName(n)}\t$dvRel\t$cnt"
      }).mkString("\n")
    val lp = logPath(destPath)
    fs.mkdirs(lp)
    val tmp = new Path(lp, s".tmp_$writeId")
    writeFile(fs, tmp, body)
    val version = baseVersion + 1
    val fin = new Path(lp, f"$version%012d.manifest")
    onBeforeRewriteCommit()
    val committed = commitLock(fs, destPath).synchronized {
      val nowMax = manifests(fs, destPath)
        .map(_.getName.takeWhile(_.isDigit).toLong)
        .maxOption.getOrElse(-1L)
      nowMax == baseVersion && coordinator.putIfAbsent(fs, tmp, fin)
    }
    if (!committed) {
      // the log advanced (or the slot was taken): positions computed
      // against a stale state could lose a concurrent rewrite's effect
      fs.delete(tmp, false)
      fs.delete(new Path(dest, dvRel), false)
      fs.delete(staging, true)
      if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
        fs.delete(sroot, true)
      println(s"METRIC graft.mor.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    fs.delete(staging, true)
    if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
      fs.delete(sroot, true)
    maybeCheckpoint(fs, destPath, version)
    println(s"METRIC graft.mor.deleted_rows=$total " +
      s"files_marked=${perName.size} version=$version dest=$destPath")
    total
  }

  /** MERGE-ON-READ UPDATE (Delta's DV-backed `UPDATE`): every row
    * matching `cond` is tombstoned in place (one dv sidecar, like
    * [[deleteWhereMor]]) and its updated version — `set` expressions
    * evaluated against the OLD row, so swaps are well-defined —
    * appends as fresh stats-bearing files, BOTH in ONE incremental
    * manifest. No data file is rewritten: a scattered-key update that
    * touches every file commits O(updated rows), where [[updateWhere]]
    * (copy-on-write) rewrites the whole table; the next
    * [[optimize]]/rewrite of each file materializes its tombstones.
    * Candidate files prune like [[deleteWhere]]'s; existing dvs
    * apply before matching so re-running is idempotent on the visible
    * rows. For a partitioned destination pass `partitionField` (the
    * same contract as [[mergeInto]]) so updated rows land in their
    * event-time partitions; updated rows write with stats for every
    * column the table already records stats on. Returns rows updated.
    */
  def updateWhereMor(spark: SparkSession, destPath: String,
      cond: Column, set: Map[String, Column],
      partitionField: Option[String] = None): Long = {
    require(set.nonEmpty, "[graft] updateWhereMor: empty SET")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "mor")) return 0L
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val snap = new SnapshotHandle(fs, destPath, old)
    val targets = snap.targets
    if (targets.isEmpty) return 0L
    // A partitioned destination stores the partition column in the
    // DIRECTORY NAME, not the data files — candidate files here are
    // read individually (no basePath), so updated rows written without
    // partition awareness would land at the table root with their
    // partition value silently GONE (reads back as null, changing
    // partition-filtered results). With `partitionField` the updated
    // rows RE-DERIVE their partition from the (new) column values —
    // the mergeInto contract. Without it, each updated row KEEPS its
    // source file's partition (parsed from the directory name): the
    // natural SQL UPDATE semantics, where the partition column is not
    // assignable. A partition layout this sink did not write (a
    // foreign `col=` name) still refuses loudly.
    // generic single-column layouts (lang=en/) carry like the derived
    // ones: the key name is recorded so the write-back can rebuild
    // the directory column
    val autoKeys = layoutKeysOf(targets)
    val autoGeneric = autoKeys.length == 1 &&
      !autoKeys.head.equalsIgnoreCase(Ingest.PartitionCol)
    // (autoGeneric implies length == 1, so the depth cap is the whole
    // guard; the mixed/foreign-layout refusal happens below)
    require(autoKeys.length <= 2,
      s"[graft] updateWhereMor: unsupported partition layout " +
        s"(${autoKeys.mkString("/")}) — pass partitionField")
    val autoPdate: Map[String, (String, Option[String])] =
      if (partitionField.nonEmpty) Map.empty
      else {
        val expectFirst =
          if (autoGeneric) autoKeys.headOption.getOrElse("")
          else Ingest.PartitionCol
        val foreign = targets.find(_.split('/').init.exists(seg =>
          seg.contains('=') &&
            !seg.startsWith(expectFirst + "=") &&
            !seg.startsWith(Ingest.PartitionHourCol + "=")))
        require(foreign.isEmpty,
          s"[graft] updateWhereMor: $destPath mixes partition " +
            s"layouts (e.g. '${foreign.getOrElse("")}') — " +
            "pass partitionField so updated rows keep their partition " +
            "values")
        targets.flatMap { rel =>
          val segs = rel.split('/').init
          segs.find(_.startsWith(expectFirst + "="))
            .map { seg =>
              fileNameOf(rel) ->
                (seg.substring(expectFirst.length + 1),
                  segs.find(_.startsWith(Ingest.PartitionHourCol + "="))
                    .map(_.substring(
                      Ingest.PartitionHourCol.length + 1)))
            }
        }.toMap
      }
    // a hybrid layout (some files hourly, some day-only) has no
    // consistent keep-partition semantics — refuse loudly
    require(autoPdate.isEmpty ||
      autoPdate.values.map(_._2.isDefined).toSet.size <= 1,
      s"[graft] updateWhereMor: $destPath mixes day-only and " +
        "date/hour partition dirs — repair the layout first")
    val stats = snap.stats
    val dvs = snap.dvs
    // COLUMN MAPPING: appended rows stage under physical names
    val cmap = snap.mapping
    val p2l = cmap.map(_.swap)
    val (candidates, _) = dmlCandidates(spark, snap, cond, "mor")
    if (candidates.isEmpty) return 0L

    // ONE distributed pass: live matching rows WITH their positions —
    // the positions become tombstones, the data columns (SET exprs
    // applied against the old values) become the appended rows
    val updFrame =
      readFilesDvMeta(spark, destPath, candidates, dvs, withBase = false)
    val matched = updFrame
      .where(coalesce(bindOuter(updFrame, cond), lit(false)))
      .localCheckpoint(false) // lazy: the count below materializes it
    val perName: Map[String, Long] = matched
      .groupBy(col("__graft_fn")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = perName.values.sum
    if (total == 0L) {
      println(s"METRIC graft.mor.no_matches=1 dest=$destPath")
      return 0L
    }
    val dataCols = matched.columns
      .filterNot(c => c == "__graft_fn" || c == "__graft_pos")
    set.keys.foreach(k => require(dataCols.contains(k),
      s"[graft] updateWhereMor: SET column '$k' not in file schema " +
        s"(${dataCols.mkString(", ")}) — UPDATE changes values, not shape"))
    val ups = matched.select(
      (dataCols.map(c => set.getOrElse(c, col(c)).as(c)) ++
        (if (autoPdate.nonEmpty) Seq(col("__graft_fn")) else Nil))
        .toSeq: _*)
    // updated rows keep skipping coverage: stats for every column the
    // table already records (restricted to columns the rows carry).
    // Keys are PHYSICAL; the frame is logical — compare through the
    // mapping, keep the PHYSICAL list (the staged files it reads are
    // physical)
    val tableStatsCols = stats.keys.map(_._2).toSeq.distinct.sorted
      .filter(c => dataCols.contains(p2l.getOrElse(c, c)))
    val relOfName: Map[String, String] =
      candidates.map(rel => fileNameOf(rel) -> rel).toMap

    val writeId = "mu" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val dvRel = s"$DvDir/$writeId.parquet"
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    try {
      val dvOut = new Path(staging, "dv")
      matched
        .select(col("__graft_fn").as("name"), col("__graft_pos").as("pos"))
        .orderBy(col("name"), col("pos"))
        .coalesce(1).write.mode("overwrite").parquet(dvOut.toString)
      val part = fs.listStatus(dvOut).map(_.getPath)
        .find(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"[graft] updateWhereMor: no part file under $dvOut"))
      moves += ((part, dvRel))
      val insOut = new Path(staging, "ins")
      val writer = partitionField match {
        case Some(f) =>
          val (upsP, upsCols) = withPartitionCols(ups, f)
          toPhysicalDf(upsP, cmap).write.mode("overwrite")
            .partitionBy(upsCols: _*)
        case None if autoPdate.nonEmpty =>
          // carry each updated row's SOURCE partition: file name →
          // directory-parsed value(s), joined back (broadcast —
          // bounded by the candidate file count); a date/hour layout
          // carries both levels; a generic layout carries the raw
          // (hive-UNESCAPED — the writer re-escapes) string value
          val hourly = autoPdate.values.exists(_._2.isDefined)
          val pdf = spark.createDataFrame(autoPdate.toSeq.map {
              case (fn, (d, h)) => (fn, d, h.orNull) })
            .toDF("__graft_fn", "__graft_pd", "__graft_ph")
          val joined0 = ups
            .join(broadcast(pdf), Seq("__graft_fn"), "left")
          val (laid, pcols) =
            if (autoGeneric) {
              val k = autoKeys.head
              val unesc = udf((s: String) =>
                if (s == null ||
                    s == "__HIVE_DEFAULT_PARTITION__") null
                else org.apache.spark.sql.catalyst.catalog
                  .ExternalCatalogUtils.unescapePathName(s))
              (joined0.withColumn(k, unesc(col("__graft_pd"))), Seq(k))
            } else {
              val joined = joined0.withColumn(Ingest.PartitionCol,
                expr("try_to_date(__graft_pd)"))
              if (hourly)
                (joined.withColumn(Ingest.PartitionHourCol,
                  col("__graft_ph")),
                  Seq(Ingest.PartitionCol, Ingest.PartitionHourCol))
              else (joined, Seq(Ingest.PartitionCol))
            }
          toPhysicalDf(
            laid.drop("__graft_fn", "__graft_pd", "__graft_ph"), cmap)
            .write.mode("overwrite").partitionBy(pcols: _*)
        case None => toPhysicalDf(ups, cmap).write.mode("overwrite")
      }
      writer.parquet(insOut.toString)
      val insQ = fs.makeQualified(insOut).toString
      val insStaged = listFilesRec(fs, insOut).map(_._1)
        .filter(p => !p.getName.startsWith("_") &&
          !p.getName.startsWith("."))
        .map(p => fs.makeQualified(p).toString.stripPrefix(insQ + "/"))
        .sorted
      val insTargets = insStaged.zipWithIndex.map { case (rel, i) =>
        val dir = rel.lastIndexOf('/') match {
          case -1 => ""
          case k  => rel.substring(0, k + 1)
        }
        (rel, s"$dir$writeId-upd-$i.parquet")
      }
      if (tableStatsCols.nonEmpty)
        newStats ++= statsLinesFor(spark, fs, insOut,
          insTargets.toMap, tableStatsCols)
      insTargets.foreach { case (rel, target) =>
        moves += ((new Path(insOut, rel), target))
      }
      writeFile(fs, new Path(staging, WaManifest),
        moves.map("target\t" + _._2).mkString("\n"))
      moves.foreach { case (part0, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part0, tgt),
          s"[graft] updateWhereMor move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        moves.foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }
    val dvLines = perName.toSeq.sortBy(_._1).map { case (n, cnt) =>
      s"dv\t${relOfName(n)}\t$dvRel\t$cnt"
    }
    val newTgts = moves.map(_._2).filterNot(_ == dvRel).toSeq
    val body = (Seq(s"writeid\t$writeId") ++
      newTgts.map("target\t" + _) ++ newStats ++
      newFileLines(fs, dest, newTgts, rowsOfStatsLines(newStats.toSeq)) ++
      dvLines).mkString("\n")
    val lp = logPath(destPath)
    fs.mkdirs(lp)
    val tmp = new Path(lp, s".tmp_$writeId")
    writeFile(fs, tmp, body)
    val version = baseVersion + 1
    val fin = new Path(lp, f"$version%012d.manifest")
    onBeforeRewriteCommit()
    val committed = commitLock(fs, destPath).synchronized {
      val nowMax = manifests(fs, destPath)
        .map(_.getName.takeWhile(_.isDigit).toLong)
        .maxOption.getOrElse(-1L)
      nowMax == baseVersion && coordinator.putIfAbsent(fs, tmp, fin)
    }
    if (!committed) {
      fs.delete(tmp, false)
      moves.foreach { case (_, t) =>
        fs.delete(new Path(dest, t), false) }
      fs.delete(staging, true)
      if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
        fs.delete(sroot, true)
      println(s"METRIC graft.mor.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    fs.delete(staging, true)
    if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
      fs.delete(sroot, true)
    maybeCheckpoint(fs, destPath, version)
    println(s"METRIC graft.mor.updated_rows=$total " +
      s"files_marked=${perName.size} version=$version dest=$destPath")
    total
  }

  /** COPY-ON-WRITE UPDATE (Delta's `UPDATE SET ... WHERE`): for every
    * row matching `cond`, replace each column in `set` with its new
    * expression (evaluated against the OLD row — a swap
    * `a -> col("b"), b -> col("a")` is well-defined); non-matching rows
    * and stats-excluded files ride through byte-identical. Same
    * candidate pruning, per-file match counting, atomic-snapshot
    * commit, and crash windows as [[deleteWhere]]. Set columns must
    * exist in the file schema (UPDATE changes values, not shape).
    * Returns the number of rows updated.
    */
  def updateWhere(spark: SparkSession, destPath: String,
      cond: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "[graft] updateWhere: empty SET")
    rewriteWhere(spark, destPath, cond, Some(set))
  }

  /** TARGETED DV MATERIALIZATION (Delta's `REORG TABLE … APPLY
    * (PURGE)`): rewrite ONLY the files whose live-row fraction fell
    * below `minLiveFraction`, applying their deletion vectors, and
    * commit as a partial layout snapshot. The policy half of
    * merge-on-read: MOR deletes are O(changed rows) at write time but
    * every read of a dv'd file pays the tombstone anti-join forever —
    * purge decides WHEN to pay the rewrite, per file, without
    * [[optimize]]'s full-table repack. Content is unchanged (a pure
    * layout commit, so the change feeds skip it); lightly-tombstoned
    * files keep their dvs and their bytes untouched; a fully-dead file
    * drops without writing anything; rewritten files get re-derived
    * stats for the columns they already recorded (their old dv and
    * bloom lines die with the old name — blooms rebuild on the next
    * optimize, the conservative direction). A file with dvs but an
    * unknown total row count (stats-less legacy append) cannot prove
    * it is above the threshold and is purged. Concurrent appends and
    * dv commits on untouched files absorb (layout commits conflict
    * with nothing they didn't rewrite); a concurrent dv on a purged
    * file aborts. Returns the number of files materialized (rewritten
    * or dropped).
    */
  def purge(spark: SparkSession, destPath: String,
      minLiveFraction: Double = 0.9): Long = {
    require(minLiveFraction > 0.0 && minLiveFraction <= 1.0,
      s"[graft] purge: minLiveFraction in (0, 1], got $minLiveFraction")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "purge")) return 0L
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(vOfP).maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    val dvs = effectiveDvsOf(fs, old)
      .filter { case (t, _) => targets.contains(t) }
    if (dvs.isEmpty) return 0L
    val stats = fileStatsOf(fs, old)
    val statsByTgt: Map[String, Seq[String]] =
      stats.keys.groupBy(_._1).map { case (t, ks) =>
        t -> ks.map(_._2).toSeq.sorted }
    val rowsByTgt: Map[String, Long] = stats.toSeq.groupBy(_._1._1)
      .flatMap { case (t, es) =>
        es.map(_._2.rows).find(_ >= 0).map(t -> _) }
    val deadOf: Map[String, Long] =
      dvs.map { case (t, es) => t -> es.map(_._2).sum }
    val victims = targets.filter(deadOf.contains).filter { t =>
      rowsByTgt.get(t) match {
        case Some(r) if r > 0 =>
          (r - deadOf(t)).toDouble / r < minLiveFraction
        case _ => true // unknown total: cannot prove it healthy
      }
    }
    println(s"METRIC graft.purge.files_total=${targets.length} " +
      s"dv_files=${dvs.size} victims=${victims.length} " +
      s"min_live=$minLiveFraction dest=$destPath")
    if (victims.isEmpty) return 0L
    // fully-dead files drop with zero IO; the rest rewrite live rows
    val drops = victims.filter(t =>
      rowsByTgt.get(t).exists(r => r > 0 && deadOf(t) >= r)).toSet
    val rewrites = victims.filterNot(drops)

    val writeId = "pg" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    // fully-dead by observation (unknown-count victims whose live read
    // produced nothing) join the drops below
    val emptied = scala.collection.mutable.HashSet[String]()
    try {
      if (rewrites.nonEmpty) {
        // ONE distributed job for EVERY victim — repartition by source
        // file, write partitioned by it, then move each partition's
        // single part into the victim's directory. A per-victim loop
        // would serialize a 1000-victim purge into 1000+ driver-paced
        // jobs; this stays at write + stats, independent of victim
        // count. (Victims read under mergeSchema, so a pre-evolution
        // narrow file rewrites at the union width — null columns cost
        // ~nothing in parquet and read identically.)
        val pgOut = new Path(staging, "pg")
        // COLUMN MAPPING: the surfaced frame carries LOGICAL names —
        // rewritten victims must land under the PHYSICAL names every
        // later scan resolves by
        val cmap = mappingFor(fs, old)
        toPhysicalDf(
          readFilesDvMeta(spark, destPath, rewrites, dvs,
              withBase = false)
            .drop("__graft_pos"), cmap)
          .repartition(col("__graft_fn"))
          .write.partitionBy("__graft_fn")
          .mode("overwrite").parquet(pgOut.toString)
        val stagedOf: Seq[(String, String, String)] =
          rewrites.zipWithIndex.flatMap { case (rel, k) =>
            val dir = s"__graft_fn=${fileNameOf(rel)}"
            val dirP = new Path(pgOut, dir)
            val part =
              if (!fs.exists(dirP)) None
              else fs.listStatus(dirP).map(_.getPath)
                .find(p => p.getName.startsWith("part-") &&
                  p.getName.endsWith(".parquet"))
            part match {
              case None =>
                emptied += rel // no live rows survived
                None
              case Some(p) =>
                val parent = {
                  val i = rel.lastIndexOf('/')
                  if (i < 0) "" else rel.substring(0, i + 1)
                }
                val target = s"$parent$writeId-$k.parquet"
                moves += ((p, target))
                Some((rel, s"$dir/${p.getName}", target))
            }
          }
        // per-file stats, one footer pass per distinct recorded-column
        // set (the rewriteWhere/mergeInto shape — no data re-read)
        stagedOf.groupBy { case (rel, _, _) =>
          statsByTgt.getOrElse(rel, Nil) }
          .toSeq.sortBy(_._2.head._3)
          .foreach { case (cols, group) =>
            if (cols.nonEmpty)
              newStats ++= statsLinesFor(spark, fs, pgOut,
                group.map { case (_, staged, tgt) => staged -> tgt }
                  .toMap,
                cols)
          }
      }
      writeFile(fs, new Path(staging, WaManifest),
        moves.map("target\t" + _._2).mkString("\n"))
      moves.foreach { case (part, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part, tgt),
          s"[graft] purge move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        moves.foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }

    val replaced = victims.toSet
    val kept = targets.filterNot(replaced)
    val survivors = kept ++ moves.map(_._2)
    val carriedStats = kept.flatMap { t =>
      statsByTgt.getOrElse(t, Nil).flatMap(c =>
        stats.get((t, c)).map(st => statsLine(t, c, st)))
    }
    onBeforeRewriteCommit()
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors,
        carriedStats ++ newStats.toSeq ++ dvCarryLines(dvs, kept) ++
          bloomCarryLines(fs, old, kept),
        old, moves.map(_._2).toSeq, layout = true,
        canAbsorb = _ => true)) {
      println(s"METRIC graft.purge.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    println(s"METRIC graft.purge.materialized=${victims.length} " +
      s"rewritten=${moves.length} dropped=${drops.size + emptied.size} " +
      s"snapshot_version=${baseVersion + 1} dest=$destPath")
    victims.length.toLong
  }

  /** Shared copy-on-write core. `set == None` deletes matching rows;
    * `Some(exprs)` rewrites them in place.
    */
  private def rewriteWhere(spark: SparkSession, destPath: String,
      cond: Column, set: Option[Map[String, Column]]): Long = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "rewrite")) return 0L
    // capture the log ONCE — every piece of the snapshot derives from
    // this listing and the commit aborts if it advanced (same protocol
    // as optimize; concurrent appends are supported, not lost)
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val snap = new SnapshotHandle(fs, destPath, old)
    val targets = snap.targets
    if (targets.isEmpty) return 0L
    val stats = snap.stats
    val statsByTgt: Map[String, Seq[String]] =
      stats.keys.groupBy(_._1).map { case (t, ks) =>
        t -> ks.map(_._2).toSeq.sorted }
    // COLUMN MAPPING: rewritten files stage under physical names; the
    // row filter stays logical (the frames surface logical names)
    val cmap = snap.mapping
    val (candidates, skip) = dmlCandidates(spark, snap, cond, "rewrite")
    if (candidates.isEmpty) return 0L

    // ONE distributed pass: per-candidate matched/total LIVE row counts
    // (existing deletion vectors applied first — a tombstoned row must
    // neither match nor count toward the fully-matched drop test; no
    // basePath — rewrites re-write data columns only; a file missing the
    // predicate column reads it as null = never matched)
    val dvs = snap.dvs
    val relOfName: Map[String, String] =
      candidates.map(rel => fileNameOf(rel) -> rel).toMap
    val hasSub = condHasSubquery(cond)
    val countFrame =
      readFilesDvMeta(spark, destPath, candidates, dvs, withBase = false)
    val matchedOf: Map[String, (Long, Long)] =
      if (!hasSub)
        countFrame
          .select(col("__graft_fn").as("__f"), cond.as("__m"))
          .groupBy(col("__f"))
          .agg(sum(when(col("__m"), 1L).otherwise(0L)).as("matched"),
            count(lit(1)).as("rows"))
          .collect()
          .map(r => relOfName(r.getString(0)) ->
            (r.getLong(1), r.getLong(2)))
          .toMap
      else {
        // subquery predicates only plan in FILTER position (Spark
        // rewrites them to semi/anti/existence joins there): matched
        // counts come from one filter-shaped aggregation; per-file
        // LIVE totals come from the manifest row counts minus dv
        // tombstones when every candidate records them (the same
        // metadata purge/countWhere already trust), so the second
        // counting scan only runs for stats-less legacy files
        val mat: Map[String, Long] = countFrame
          .where(coalesce(bindOuter(countFrame, cond), lit(false)))
          .groupBy(col("__graft_fn").as("__f"))
          .agg(count(lit(1)).as("matched"))
          .collect()
          .map(r => relOfName(r.getString(0)) -> r.getLong(1)).toMap
        val rowsByTgt: Map[String, Long] = stats.toSeq.groupBy(_._1._1)
          .flatMap { case (t, es) =>
            es.map(_._2.rows).find(_ >= 0).map(t -> _) }
        val live: Map[String, Long] =
          if (candidates.forall(rowsByTgt.contains)) {
            val dvDead = dvs.map { case (t, es) =>
              t -> es.map(_._2).sum }
            candidates.map(t =>
              t -> (rowsByTgt(t) - dvDead.getOrElse(t, 0L))).toMap
          } else countFrame.groupBy(col("__graft_fn").as("__f"))
            .agg(count(lit(1)).as("rows"))
            .collect()
            .map(r => relOfName(r.getString(0)) -> r.getLong(1)).toMap
        candidates.map(t =>
          t -> (mat.getOrElse(t, 0L), live.getOrElse(t, 0L))).toMap
      }
    val touched = candidates.filter(t => matchedOf.get(t).exists(_._1 > 0))
    val totalMatched = touched.map(t => matchedOf(t)._1).sum
    if (touched.isEmpty) {
      println(s"METRIC graft.rewrite.no_matches=1 " +
        s"candidates=${candidates.length} dest=$destPath")
      return 0L
    }
    // delete drops a fully-matched file without writing anything
    val dropped =
      if (set.isEmpty)
        touched.filter(t => { val (mm, rr) = matchedOf(t); mm == rr })
          .toSet
      else Set.empty[String]
    val rewrites = touched.filterNot(dropped)

    val writeId = "rw" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    // sidecars ride the same WA/move/cleanup protocol but are NOT table
    // targets (kept out of the survivor list)
    val sideMoves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val cdfLine = scala.collection.mutable.ArrayBuffer[String]()
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    // any failure before the commit must sweep the attempt — a leftover
    // staging dir blocks every later rewrite/optimize until recover()
    try {
      // CHANGE DATA FEED (when enabled): capture the changed rows as a
      // sidecar BEFORE the rewrite — pre-images as deletes, updated
      // rows additionally as inserts (SET against the OLD row)
      if (changeFeedEnabled(fs, dest)) {
        val liveFrame =
          readFilesDvMeta(spark, destPath, touched, dvs,
            withBase = false)
        val live = liveFrame
          .where(coalesce(bindOuter(liveFrame, cond), lit(false)))
          .drop("__graft_fn", "__graft_pos")
        val frame = set match {
          case None =>
            live.withColumn("_change_type", lit("delete"))
          case Some(exprs) =>
            live.withColumn("_change_type", lit("delete"))
              .unionByName(live.select(live.columns.map(c =>
                exprs.get(c).map(_.as(c)).getOrElse(col(c))): _*)
                .withColumn("_change_type", lit("insert")))
        }
        stageCdfParts(spark, fs, staging, toPhysicalDf(frame, cmap),
            writeId, "rewriteWhere").foreach { case (part, rel, n) =>
          sideMoves += ((part, rel))
          cdfLine += s"cdf\t$rel\t$n"
        }
      }
      // ONE distributed rewrite job for EVERY touched file — not a
      // sequential per-file loop (an UPDATE touching 10k files must
      // not run 10k back-to-back single-task jobs from the driver):
      // read all touched files with their source-file name, apply the
      // delete/update transform once, hash-repartition on the source
      // file so every output directory holds exactly one part, and
      // write partitioned by it (the same shape as [[purge]]'s victim
      // rewrite). File granularity is preserved — each source file
      // maps to exactly one rewritten file, keeping per-file stats
      // lines and partition parents as before.
      if (rewrites.nonEmpty) {
        // the rewrite MATERIALIZES each file's tombstones: read live
        // rows only, and the new files' dv lines are simply not carried
        val src = readFilesDvMeta(spark, destPath, rewrites, dvs,
          withBase = false).drop("__graft_pos")
        val dataCols = src.columns.filterNot(_ == "__graft_fn")
        val mB = bindOuter(src, cond)
        val out = set match {
          // null predicate values are NOT matches: a three-valued
          // where(!cond) would silently delete null-column rows
          case None => src.where(!coalesce(mB, lit(false)))
          case Some(exprs) =>
            exprs.foreach { case (c, _) =>
              require(dataCols.contains(c),
                s"[graft] updateWhere: SET column '$c' not in the " +
                  s"table (columns: ${dataCols.mkString(",")})")
            }
            if (!hasSub)
              // all new values evaluate against the OLD row: select,
              // not sequential withColumn, so a swap is well-defined
              // (__graft_fn passes through unmapped: SET never names it)
              src.select(src.columns.map { c =>
                exprs.get(c) match {
                  case Some(nv) => when(mB, nv).otherwise(col(c)).as(c)
                  case None     => col(c)
                }
              }: _*)
            else
              // filter-only shape for subquery predicates: matched
              // rows (SET applied against the OLD values) unioned with
              // kept rows — row order within a rewritten file is not
              // part of the contract
              src.where(coalesce(mB, lit(false)))
                .select(src.columns.map(c =>
                  exprs.get(c).map(_.as(c)).getOrElse(col(c))): _*)
                .unionByName(src.where(!coalesce(mB, lit(false))))
        }
        val rwOut = new Path(staging, "rw")
        toPhysicalDf(out, cmap)
          .repartition(col("__graft_fn"))
          .write.partitionBy("__graft_fn")
          .mode("overwrite").parquet(rwOut.toString)
        // per-source bookkeeping: the directory for every rewritten
        // file MUST exist (a delete that empties a file was already
        // dropped above; an update keeps every live row), and holds
        // exactly one part (hash partitioning puts one source file in
        // one task)
        val stagedOf: Seq[(String, String, String)] =
          rewrites.zipWithIndex.map { case (rel, k) =>
            val parent = {
              val i = rel.lastIndexOf('/')
              if (i < 0) "" else rel.substring(0, i + 1)
            }
            val dir = s"__graft_fn=${fileNameOf(rel)}"
            val part = fs.listStatus(new Path(rwOut, dir))
              .map(_.getPath)
              .find(p => p.getName.startsWith("part-") &&
                p.getName.endsWith(".parquet"))
              .getOrElse(throw new IllegalStateException(
                s"[graft] rewriteWhere: no part file under $rwOut/$dir"))
            val target = s"$parent$writeId-$k.parquet"
            moves += ((part, target))
            (rel, s"$dir/${part.getName}", target)
          }
        // per-file stats, grouped by each file's recorded column set
        // (one footer pass per distinct set — normally exactly one)
        stagedOf.groupBy { case (rel, _, _) =>
          statsByTgt.getOrElse(rel, Nil) }
          .toSeq.sortBy(_._2.head._3)
          .foreach { case (statCols, group) =>
            if (statCols.nonEmpty)
              newStats ++= statsLinesFor(spark, fs, rwOut,
                group.map { case (_, staged, tgt) => staged -> tgt }
                  .toMap,
                statCols)
          }
      }
      // write-ahead manifest, then move — recover() sweeps exactly these
      // names if the commit below never lands
      writeFile(fs, new Path(staging, WaManifest),
        (moves ++ sideMoves).map("target\t" + _._2).mkString("\n"))
      (moves ++ sideMoves).foreach { case (part, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part, tgt),
          s"[graft] rewriteWhere move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        (moves ++ sideMoves).foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }

    val replaced = touched.toSet
    val survivors = targets.filterNot(replaced) ++ moves.map(_._2)
    val carriedStats = targets.filterNot(replaced).flatMap { t =>
      statsByTgt.getOrElse(t, Nil).flatMap(c =>
        stats.get((t, c)).map(st => statsLine(t, c, st)))
    }
    val carriedDvs = dvCarryLines(dvs, targets.filterNot(replaced))
    val carriedBlooms =
      bloomCarryLines(fs, old, targets.filterNot(replaced))
    // a concurrent pure append absorbs iff its files' stats PROVE the
    // pruning predicate excludes them (a file with no stats is a
    // conflict) — the write-serializable outcome of delete-after-append;
    // a condition with no convertible part proves nothing and aborts
    val absorbOk: Seq[Path] => Boolean = skip match {
      case Some(p) => newMfs => {
        val absorbStats = fileStatsOf(fs, newMfs)
        val pPhys = mapPredCols(p, cmap)
        newMfs.flatMap(readManifest(fs, _)._2)
          .forall(t => !mayMatchFile(absorbStats, t, pPhys))
      }
      case None => _ => false
    }
    onBeforeRewriteCommit()
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors,
        carriedStats ++ newStats.toSeq ++ carriedDvs ++ carriedBlooms ++
          cdfLine.toSeq,
        old, (moves ++ sideMoves).map(_._2).toSeq,
        canAbsorb = absorbOk)) {
      println(s"METRIC graft.rewrite.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    println(s"METRIC graft.rewrite.matched_rows=$totalMatched " +
      s"rewritten=${rewrites.length} dropped=${dropped.size} " +
      s"snapshot_version=${baseVersion + 1} dest=$destPath")
    totalMatched
  }

  /** Typed stats lines for a STAGED directory, keyed to final target
    * names. EMPTY part files never appear in the stats aggregate (no
    * rows → no `input_file_name` group) — without a line they'd be read
    * conservatively by every skipping predicate forever, so they are
    * recorded as rows=0 all-null stats, which [[mayMatch]] prunes under
    * every predicate class. Guarded: if a file missing from the
    * aggregate actually holds rows, the path mapping is broken and
    * silently writing rows=0 would MIS-prune committed data — fail the
    * write instead.
    */
  /** Commit-size cap for the DRIVER-side footer fast path: below it
    * the driver reads one footer per staged file; above it the footer
    * reads fan out as one tiny executor job over the FILE LIST (still
    * zero data bytes re-read). 0 forces the legacy full-scan path
    * (the parity-spec seam).
    */
  @volatile private[graft] var FooterStatsMaxFiles = 256

  /** Driver-pool footer cap for the `file:` scheme, where a footer
    * read is ~1 ms (vs 20-50 ms on object stores): the 8-wide pool
    * clears 2k footers in ~250 ms where the executor fan-out pays a
    * job's scheduling latency. Tests pin it alongside
    * [[FooterStatsMaxFiles]] to force the distributed path locally.
    */
  @volatile private[graft] var FooterStatsLocalCap = 2048

  /** Candidate-set live-row threshold above which the merge match-count
    * pass inserts a repartition barrier so its two aggregates share one
    * scan of the candidate files (see mergeImpl). Below it — or when
    * any candidate lacks recorded row counts — the two aggregates scan
    * in parallel instead: at small scale an extra exchange's fixed
    * latency costs more than the second (concurrent) scan. The default
    * is sized so that a barrier only engages when a second scan would
    * move substantially more bytes than the slim matched-row shuffle;
    * production deployments tune it to cluster scan bandwidth.
    */
  @volatile private[graft] var MergeProfileBarrierRows: Long = 4L << 20

  /** Footer-derived per-file stats — the write path's fast lane: for a
    * small commit the staged parquet FOOTERS already carry true
    * per-column bounds and null counts, so reading them (driver-side
    * parquet-mr, one footer per file — the same footer `schemaj`
    * already opens once) replaces the distributed RE-SCAN of every
    * staged byte that [[fileStatsOfParquet]] costs. At 100 TB of
    * appends that second read is the single largest write-path tax;
    * for interactive/CDC-sized commits it is ~100 ms of job latency
    * per commit, which multi-commit operations pay 3–5 times over.
    *
    * Strictly gated — a WRONG bound prunes a matching file (wrong
    * results, not slow ones), so anything uncertain falls back to the
    * scan path, whose lines these must match EXACTLY:
    *  - only plain int/long (signed, no date/timestamp/decimal
    *    annotation), float/double (NaN bounds refuse), boolean, and
    *    genuine UTF-8 string columns qualify — every other type keeps
    *    the scan's Spark-cast semantics;
    *  - any missing/unset statistic (writer dropped oversized binary
    *    stats, unknown null counts) refuses the whole commit's fast
    *    path, not just the file.
    */
  /** The parquet-type → stats-kind gate shared by the footer paths:
    * `Some("num")`/`Some("str")` when footer statistics carry the SAME
    * bound semantics as the scan path's Spark casts, None otherwise.
    */
  private def footerKindOf(t: org.apache.parquet.schema.Type)
      : Option[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (!t.isPrimitive || t.isRepetition(
        org.apache.parquet.schema.Type.Repetition.REPEATED)) return None
    val p = t.asPrimitiveType()
    val ann = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
        ann match {
          case null => Some("num")
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
              if i.isSigned => Some("num")
          case _ => None
        }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE |
          PrimitiveTypeName.BOOLEAN => Some("num")
      case PrimitiveTypeName.BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some("str")
        case _ => None
      }
      case _ => None
    }
  }

  /** One parquet file's FOOTER — a metadata-only read (no data
    * pages). Every commit-time footer consumer (schema line, row
    * counts, stats lane) works from one of these per file.
    */
  private def readFooter(conf: org.apache.hadoop.conf.Configuration,
      file: Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try reader.getFooter finally reader.close()
  }

  private def footerRows(
      md: org.apache.parquet.hadoop.metadata.ParquetMetadata): Long = {
    import scala.jdk.CollectionConverters._
    md.getBlocks.asScala.map(_.getRowCount).sum
  }

  /** One parquet file's exact row count from its footer — the
    * cheapest truthful row count a file can give.
    */
  private[graft] def footerRowCount(
      conf: org.apache.hadoop.conf.Configuration, file: Path): Long =
    footerRows(readFooter(conf, file))

  /** Total rows committed under `writeId`, from the committing
    * manifest's target files' footers; None when no surviving manifest
    * carries the id or any of its files is gone (compacted/vacuumed
    * away) — the caller then cannot compare against it.
    */
  def rowsOfWriteId(spark: SparkSession, destPath: String,
      writeId: String): Option[Long] = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return None
    val mf = resolvedLog(fs, destPath)
      .filter(_.getName.endsWith(".manifest"))
      .find(m => writeIdOf(fs, m) == writeId)
      .getOrElse(return None)
    val conf = spark.sessionState.newHadoopConf()
    try Some(mfData(fs, mf).targets
      .map(t => footerRowCount(conf, new Path(dest, t))).sum)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One file's footer-derived per-column stats (kinds pre-gated from
    * the commit's first footer, re-validated here per file); None on
    * ANY uncertainty — missing field, kind drift, absent/unset/NaN
    * statistics. Runs on the driver for small commits and inside
    * executor tasks for large ones (object + serializable args only).
    */
  private def footerStatsOf(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      kinds: Seq[(String, String)]): Option[Seq[(String, ColStats)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.{statistics => pqs}
    val schema = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val out = Seq.newBuilder[(String, ColStats)]
    kinds.foreach { case (c, kind) =>
      val field = schema.getFields.asScala.find(_.getName == c)
        .getOrElse(return None)
      if (!footerKindOf(field).contains(kind)) return None
      var nulls = 0L
      var mnN, mxN = Option.empty[Double]
      var mnS, mxS = Option.empty[String]
      blocks.foreach { b =>
        val cc = b.getColumns.asScala
          .find(_.getPath.toDotString == c).getOrElse(return None)
        val st = cc.getStatistics
        if (st == null || st.isEmpty) return None
        val nn = st.getNumNulls
        if (nn < 0) return None
        nulls += nn
        if (st.hasNonNullValue) {
          if (kind == "num") {
            val (mn, mx) = st match {
              case s: pqs.IntStatistics =>
                (s.getMin.toDouble, s.getMax.toDouble)
              case s: pqs.LongStatistics =>
                (s.getMin.toDouble, s.getMax.toDouble)
              case s: pqs.FloatStatistics =>
                (s.getMin.toDouble, s.getMax.toDouble)
              case s: pqs.DoubleStatistics => (s.getMin, s.getMax)
              case s: pqs.BooleanStatistics =>
                (if (s.getMin) 1.0 else 0.0,
                  if (s.getMax) 1.0 else 0.0)
              case _ => return None
            }
            if (mn.isNaN || mx.isNaN) return None
            mnN = Some(mnN.fold(mn)(math.min(_, mn)))
            mxN = Some(mxN.fold(mx)(math.max(_, mx)))
          } else st match {
            case s: pqs.BinaryStatistics =>
              // fold row-group bounds in UTF-8 byte order — the order
              // parquet produced them in (and the scan path's order);
              // Java's UTF-16 String order would pick the wrong
              // extreme where supplementary-plane values meet
              // U+E000–FFFF ones
              val mn = s.genericGetMin.toStringUsingUTF8
              val mx = s.genericGetMax.toStringUsingUTF8
              mnS = Some(mnS.fold(mn)(p => if (utf8Cmp(p, mn) <= 0) p
                else mn))
              mxS = Some(mxS.fold(mx)(p => if (utf8Cmp(p, mx) >= 0) p
                else mx))
            case _ => return None
          }
        } else if (nn != cc.getValueCount) return None // dropped
      }
      if (kind == "num")
        out += c -> ColStats(kind, mnN.map(_.toString),
          mxN.map(_.toString), nulls, rows)
      else {
        val mxP = mxS.map(truncMax)
        out += c -> ColStats(kind, mnS.map(truncMin), mxP.map(_._1),
          nulls, rows, mxP.exists(_._2))
      }
    }
    Some(out.result())
  }

  /** Driver-side footer cap by scheme: a LOCAL footer read is ~1 ms,
    * so the 8-wide driver pool clears even a 1-2k-file commit in
    * ~100-250 ms where the executor fan-out pays a full job's
    * scheduling latency (measured 0.64 s for 720 files); object-store
    * footers are 20-50 ms HEAD+GET each, so remote schemes keep the
    * lower cap and fan out.
    */
  private def footerDriverCap(fs: FileSystem): Int =
    if (fs.getScheme == "file")
      math.max(FooterStatsMaxFiles, FooterStatsLocalCap)
    else FooterStatsMaxFiles

  /** The commit's FOOTER LANE: every staged file's footer opened once
    * and reduced by `f` where it was read — on the driver (sequential
    * up to 8 files, an 8-thread pool up to [[footerDriverCap]]) or as
    * one tiny job over the FILE LIST beyond it (zero data bytes
    * read). `first` is the caller's already-read footer of
    * `rels.head`. A file whose footer cannot be read is absent.
    */
  private def footerLane[T: scala.reflect.ClassTag](spark: SparkSession,
      fs: FileSystem, staged: Path, rels: Seq[String],
      first: Option[org.apache.parquet.hadoop.metadata.ParquetMetadata])
      (f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T)
      : Map[String, T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stagedStr = fs.makeQualified(staged).toString
    val head = for (md <- first; r <- rels.headOption) yield r -> f(md)
    val rest = if (head.isDefined) rels.tail else rels
    def one(rel: String): Option[(String, T)] =
      try Some(rel -> f(readFooter(conf, new Path(stagedStr, rel))))
      catch { case scala.util.control.NonFatal(_) => None }
    val read: Seq[(String, T)] =
      if (rest.length <= footerDriverCap(fs) && rest.length <= 8)
        rest.flatMap(one)
      else if (rest.length <= footerDriverCap(fs)) {
        // driver mode, but not SEQUENTIAL: a 250-file commit pays
        // ~1 ms/footer serially — a small pool overlaps the reads
        // (same pattern as optimize's rewrite units)
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        try Await.result(Future.traverse(rest)(rel => Future(one(rel))),
          Duration.Inf).flatten
        finally pool.shutdown()
      } else {
        val confEntries: Array[(String, String)] = {
          val it = conf.iterator()
          val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
          while (it.hasNext) {
            val e = it.next(); buf += ((e.getKey, e.getValue))
          }
          buf.toArray
        }
        val nPart = math.min(32, (rest.length + 63) / 64)
        spark.sparkContext.parallelize(rest, nPart)
          .mapPartitions { it =>
            val c = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v) => c.set(k, v) }
            it.flatMap { rel =>
              try Some(rel -> f(readFooter(c, new Path(stagedStr, rel))))
              catch { case scala.util.control.NonFatal(_) => None }
            }
          }.collect().toSeq
      }
    (head.toSeq ++ read).toMap
  }

  private def footerStatsLines(spark: SparkSession, fs: FileSystem,
      staged: Path, relToTarget: Map[String, String],
      statsCols: Seq[String],
      first: Option[org.apache.parquet.hadoop.metadata.ParquetMetadata])
      : Option[Seq[String]] = {
    if (relToTarget.isEmpty || FooterStatsMaxFiles <= 0) return None
    if (statsCols.exists(_.contains('.'))) return None
    import scala.jdk.CollectionConverters._
    try {
      val rels = relToTarget.keys.toSeq.sorted
      val head = first.getOrElse(readFooter(
        spark.sparkContext.hadoopConfiguration, new Path(staged, rels.head)))
      // the kind gate reads the FIRST footer (a staged commit is one
      // write job: uniform schema; per-file re-validation catches drift)
      val kinds: Seq[(String, String)] = {
        val schema = head.getFileMetaData.getSchema
        statsCols.sorted.map { c =>
          val f = schema.getFields.asScala.find(_.getName == c)
            .getOrElse(return None)
          c -> footerKindOf(f).getOrElse(return None)
        }
      }
      val perFile = footerLane(spark, fs, staged, rels, Some(head))(
        footerStatsOf(_, kinds))
      if (rels.exists(r => perFile.get(r).forall(_.isEmpty))) return None
      val out = rels.flatMap { rel =>
        perFile(rel).get.map { case (c, cs) =>
          statsLine(relToTarget(rel), c, cs)
        }
      }
      println(s"METRIC graft.stats.footer_path=1 " +
        s"files=${rels.length} cols=${statsCols.length} mode=" +
        (if (rels.length - 1 <= footerDriverCap(fs)) "driver"
         else "distributed"))
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def statsLinesFor(spark: SparkSession, fs: FileSystem,
      staged: Path, relToTarget: Map[String, String],
      statsCols: Seq[String],
      first: Option[org.apache.parquet.hadoop.metadata.ParquetMetadata] =
        None): Seq[String] = {
    footerStatsLines(spark, fs, staged, relToTarget, statsCols,
        first) match {
      case Some(lines) => return lines
      case None => ()
    }
    val stagedPath = fs.makeQualified(staged).toUri.getPath
    val byFile = fileStatsOfParquet(spark, staged.toString, statsCols)
    val present = byFile.keys.map { case (f, _) =>
      new Path(new java.net.URI(f)).toUri.getPath
        .stripPrefix(stagedPath + "/")
    }.toSet
    val lines = byFile.toSeq
      .sortBy { case ((f, c), _) => (f, c) }
      .flatMap { case ((file, c), st) =>
        val rel = new Path(new java.net.URI(file))
          .toUri.getPath.stripPrefix(stagedPath + "/")
        relToTarget.get(rel).map(tgt => statsLine(tgt, c, st))
      }
    val missing = relToTarget.keys.toSeq.sorted.filterNot(present)
    val emptyLines = if (missing.isEmpty) Nil else {
      val held = spark.read.parquet(
        missing.map(r => new Path(staged, r).toString): _*).count()
      require(held == 0L,
        s"[graft] stats: ${missing.length} staged files missing from " +
          s"the stats aggregate still hold $held rows — stats path " +
          "mapping is broken; refusing to commit mis-prunable stats")
      val schema = spark.read.parquet(staged.toString).schema
      for (rel <- missing; c <- statsCols.sorted;
           if schema.fieldNames.contains(c)) yield {
        import org.apache.spark.sql.types._
        val kind = schema(c).dataType match {
          case _: NumericType | BooleanType => "num"
          case _                            => "str"
        }
        statsLine(relToTarget(rel), c, ColStats(kind, None, None, 0L, 0L))
      }
    }
    lines ++ emptyLines
  }

  /** Shared snapshot-commit tail for the maintenance rewriters
    * ([[rewriteWhere]], [[mergeInto]]): write the snapshot manifest,
    * claim `baseVersion + 1` under the commit lock IF the log has not
    * advanced past the captured listing, and either clean up the
    * superseded manifests (true) or sweep the never-referenced new
    * files and the staged attempt (false — caller retries).
    */
  /** Snapshot-commit tail shared by the maintenance rewriters, with
    * Delta-style LOGICAL CONFLICT RESOLUTION: when the log advanced
    * past the captured `baseVersion`, the commit does not immediately
    * abort — if every intervening version is a PURE APPEND (incremental
    * manifest, no deletion vectors) and the caller's `canAbsorb` proves
    * it cannot conflict with the rewrite's semantics (a delete's
    * predicate excluded by the new files' stats, a merge's key envelope
    * disjoint, a drop's partitions untouched; optimize absorbs any
    * append — it only rearranges bytes), the snapshot REBASES: the new
    * appends' targets and their stats/bloom lines join the survivor
    * list and the commit retries at the advanced version. A long
    * OPTIMIZE or COW rewrite no longer loses its work to every
    * concurrent ingest batch — the write-serializable outcome is
    * identical to having run the rewrite after the appends, because
    * `canAbsorb` is exactly the proof the rewrite would not have
    * touched them. Anything else (snapshot, mor, unprovable overlap)
    * aborts as before.
    */
  private def commitSnapshot(spark: SparkSession, destPath: String,
      writeId: String, staging: Path, baseVersion: Long,
      survivors: Seq[String], statsLines: Seq[String], old: Seq[Path],
      newFiles: Seq[String], layout: Boolean = false,
      canAbsorb: Seq[Path] => Boolean = _ => false): Boolean = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val sroot = stagingRoot(destPath)
    val tmp = new Path(logPath(destPath), s".tmp_$writeId")
    def vOf(p: Path): Long = p.getName.takeWhile(_.isDigit).toLong
    val layoutLine = if (layout) Seq("layout\t1") else Nil
    // canonical per-file sizes for every survivor: carried from the
    // captured log where recorded, statted ONCE for the files this
    // commit just moved in (a write-time cost so no reader ever pays
    // a per-file stat). Absorbed appends bring their own fsize lines.
    val carriedSizes = fileSizesOf(fs, old)
    val fsizeLines: Seq[String] = survivors.flatMap { t =>
      carriedSizes.get(t) match {
        case Some((len, mt)) => Some(fsizeLine(t, len, mt))
        case None => fsizeLinesForNew(fs, dest, Seq(t)).headOption
      }
    }
    // row counts the same way: carried, else the count the caller's
    // stats lines recorded for a rewritten file, else its footer
    val knownRows = fileRowsOf(fs, old) ++ rowsOfStatsLines(statsLines)
    val nrowsLines: Seq[String] = survivors.flatMap { t =>
      knownRows.get(t).orElse(
        try Some(footerRowCount(fs.getConf, new Path(dest, t)))
        catch { case scala.util.control.NonFatal(_) => None })
        .map(nrowsLine(t, _))
    }
    // ONE canonical schema line for the snapshot (it REDEFINES state):
    // the CARRIED resolved schema is authoritative — a snapshot only
    // rearranges bytes or edits values, never widens the schema (a
    // column its rewritten files physically carry but the resolved
    // schema dropped must STAY dropped), and columns arriving via
    // absorbed appends ride those appends' own schemaj lines in this
    // manifest. No carried schema (legacy log) emits nothing and
    // readers keep the footer-sweep fallback.
    val schemaCarry: Seq[String] =
      effectiveSchemaOf(fs, old).map(schemaLineOf).toSeq
    var curBase = baseVersion
    var curSurvivors = survivors
    var curLines = statsLines ++ fsizeLines ++ nrowsLines ++ schemaCarry
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      writeFile(fs, tmp,
        (Seq(s"writeid\t$writeId", "snapshot\t1") ++ layoutLine ++
          curSurvivors.map("target\t" + _) ++ curLines).mkString("\n"))
      val fin = new Path(logPath(destPath),
        f"${curBase + 1}%012d.manifest")
      val committed = commitLock(fs, destPath).synchronized {
        val nowMax = manifests(fs, destPath).map(vOf)
          .maxOption.getOrElse(-1L)
        nowMax == curBase && coordinator.putIfAbsent(fs, tmp, fin)
      }
      if (committed) {
        // superseded manifests are RETAINED (the Delta model: log
        // entries are immutable history; readers ignore them via the
        // snapshot cut). They are what keeps time travel and
        // [[restore]] able to reach the pre-delete/merge/drop state;
        // [[compact]] is the explicit collapse and [[vacuum]]-after-
        // compact reclaims the replaced data files.
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        if (curBase != baseVersion)
          println(s"METRIC graft.snapshot.absorbed_appends=" +
            s"${curBase - baseVersion} base_version=$baseVersion " +
            s"committed_version=${curBase + 1} dest=$destPath")
        maybeCheckpoint(fs, destPath, curBase + 1)
        return true
      }
      // the log advanced (or the slot was taken): try to absorb.
      // Absorbable interveners are PURE APPENDS (no snapshot, no dvs)
      // under the caller's `canAbsorb` proof, and — FILE-GRANULAR OCC,
      // Delta's file-level conflict resolution — MOR commits whose
      // deletion vectors target only files this snapshot carries
      // UNREWRITTEN: a dv on a carried file commutes with the rewrite
      // (data files are immutable, so the tombstone positions stay
      // valid), so its dv lines ride forward like stats. A dv on a
      // file this snapshot rewrote or dropped is a TRUE conflict — the
      // rewrite materialized only the dvs it saw, so carrying the new
      // tombstones is impossible and dropping them would silently
      // resurrect deleted rows — and aborts, exactly as before. This
      // matters because MOR deletes are O(changed rows) and therefore
      // the COMMON concurrent writer against a long OPTIMIZE.
      val newMfs = manifests(fs, destPath).filter(vOf(_) > curBase)
        .sortBy(vOf)
      var absorbable = newMfs.nonEmpty
      var absorbedDvs = 0
      var absSurvivors = curSurvivors.toSet
      val absorbedTargets = scala.collection.mutable.ArrayBuffer[String]()
      val absorbedLines = scala.collection.mutable.ArrayBuffer[String]()
      newMfs.foreach { mf =>
        if (absorbable) {
          val d = mfData(fs, mf)
          // a schemaevo commit (ALTER) REBASES the schema: folding its
          // schemaj line in as a plain append line would UNION it with
          // this snapshot's carried pre-ALTER schema and silently
          // resurrect a dropped column — a true conflict, abort and
          // let the caller retry against the post-ALTER log
          if (d.snapshot || d.isSchemaEvo) absorbable = false
          else if (!d.dvLines.forall(e => absSurvivors.contains(e._1)))
            absorbable = false // dv on a rewritten/dropped file
          else {
            if (d.dvLines.nonEmpty) absorbedDvs += 1
            val fresh = d.targets.filterNot(absSurvivors)
            absorbedTargets ++= fresh
            absSurvivors ++= fresh
            absorbedLines ++= d.statsLines ++ d.bloomLines ++
              d.rawDvLines ++ d.schemaLines
          }
        }
      }
      if (!absorbable || !canAbsorb(newMfs)) {
        newFiles.foreach(t => fs.delete(new Path(dest, t), false))
        fs.delete(tmp, false)
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        return false
      }
      if (absorbedDvs > 0)
        println(s"METRIC graft.snapshot.absorbed_dv_commits=" +
          s"$absorbedDvs dest=$destPath")
      curSurvivors = curSurvivors ++ absorbedTargets
      curLines = curLines ++ absorbedLines
      curBase = newMfs.map(vOf).max
    }
    newFiles.foreach(t => fs.delete(new Path(dest, t), false))
    fs.delete(tmp, false)
    fs.delete(staging, true)
    if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
      fs.delete(sroot, true)
    false
  }

  /** MERGE / upsert-by-key (Delta's `MERGE WHEN MATCHED UPDATE SET * /
    * WHEN NOT MATCHED INSERT *`): every source row either REPLACES the
    * destination rows sharing its `keyCol` or inserts as a new row —
    * one atomic snapshot, so readers never see the
    * deleted-but-not-yet-reinserted middle state a delete+append pair
    * would expose.
    *
    * Scale shape: candidate files come from the skipping stats (key
    * range vs the source's min/max — the CDC-upsert shape where a batch
    * touches a narrow recent-key band rewrites a handful of files, not
    * the table); ONE distributed pass counts per-file key matches, so
    * range false positives stay byte-identical; each matched file
    * rewrites via an anti-join against the (broadcast) source keys; the
    * full source appends as fresh files with `statsCols` stats. Commit,
    * crash windows, and the concurrent-append abort ride the same
    * captured-log protocol as [[optimize]]/[[rewriteWhere]].
    *
    * `source` must be key-unique (checked — two source rows for one key
    * have no deterministic winner). Returns `(updatedKeys,
    * insertedRows)`.
    */
  def mergeInto(spark: SparkSession, destPath: String, source: DataFrame,
      keyCol: String, partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil, mor: Boolean = false): (Long, Long) = {
    val c = mergeIntoStatus(spark, destPath, source, keyCol,
      partitionField, statsCols, mor).counts
    (c._1, c._2)
  }

  /** [[mergeInto]] returning the full [[MergeOutcome]] — the loud-failure
    * variant a caller that must distinguish "applied" from "did not
    * apply" (a streaming sink, a retry loop) uses instead of the count
    * tuple, whose zeros conflate a no-op batch with a skipped or aborted
    * merge.
    */
  def mergeIntoStatus(spark: SparkSession, destPath: String,
      source: DataFrame, keyCol: String,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil, mor: Boolean = false): MergeOutcome =
    mergeImpl(spark, destPath, source, keyCol, None, Nil,
      partitionField, statsCols, mor)

  /** CDC MERGE — [[mergeInto]] plus Delta's `WHEN MATCHED AND <cond>
    * THEN DELETE` clause: source rows satisfying `deleteFilter` are
    * delete directives — a matched key's destination rows are removed
    * and the directive row itself is NOT inserted; an unmatched delete
    * is a no-op (standard CDC semantics for a delete of a row that
    * never landed). Everything else behaves as [[mergeInto]], in the
    * SAME atomic snapshot — a change batch carrying inserts, updates,
    * and deletes lands as one version, so readers never observe a
    * half-applied batch. Key-uniqueness is enforced over the WHOLE
    * source, so one key cannot be both deleted and upserted in a batch.
    *
    * `directiveCols` names change-metadata columns (op codes, CDC
    * timestamps — the Debezium `op` field shape) that exist only to
    * route the row: the delete filter may read them, but they are
    * dropped before anything lands, so the table schema stays clean.
    *
    * `mor = true` switches matched-row removal to MERGE-ON-READ
    * (deletion vectors, see [[deleteWhereMor]]): matched rows become
    * position tombstones and the upsert half appends — no file
    * rewrites, total write cost O(changed rows) even when a scattered
    * change batch matches every file. Result rows are IDENTICAL to the
    * copy-on-write mode; reads pay one anti-join until the next
    * OPTIMIZE materializes the tombstones.
    *
    * Returns `(updatedKeys, insertedRows, deletedKeys)`.
    */
  def mergeCdc(spark: SparkSession, destPath: String, source: DataFrame,
      keyCol: String, deleteFilter: Column,
      directiveCols: Seq[String] = Nil,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil,
      mor: Boolean = false): (Long, Long, Long) =
    mergeCdcStatus(spark, destPath, source, keyCol, deleteFilter,
      directiveCols, partitionField, statsCols, mor).counts

  /** [[mergeCdc]] returning the full [[MergeOutcome]] (see
    * [[mergeIntoStatus]]).
    */
  def mergeCdcStatus(spark: SparkSession, destPath: String,
      source: DataFrame, keyCol: String, deleteFilter: Column,
      directiveCols: Seq[String] = Nil,
      partitionField: Option[String] = None,
      statsCols: Seq[String] = Nil,
      mor: Boolean = false): MergeOutcome =
    mergeImpl(spark, destPath, source, keyCol, Some(deleteFilter),
      directiveCols, partitionField, statsCols, mor)

  /** What a merge actually DID — the distinction the count tuples erase.
    * `applied` is true only when the committed table state after the
    * call reflects the batch: a real commit, or a batch whose content
    * required no commit ([[MergeOutcome.NoChange]] — empty source,
    * every directive an unmatched delete). [[MergeOutcome.Skipped]] and
    * [[MergeOutcome.Aborted]] mean the batch did NOT land: a caller
    * that treats them as success (and, say, advances a streaming
    * checkpoint) silently loses the batch.
    */
  sealed trait MergeOutcome {
    def counts: (Long, Long, Long)
    def applied: Boolean
  }
  object MergeOutcome {
    /** Committed: a new snapshot version carries the batch. Counts of
      * -1 mean the commit landed but its counting job failed
      * ([[mergeFullSync]]).
      */
    final case class Merged(updatedKeys: Long, insertedRows: Long,
        deletedKeys: Long) extends MergeOutcome {
      def counts: (Long, Long, Long) =
        (updatedKeys, insertedRows, deletedKeys)
      def applied: Boolean = true
    }
    /** The batch's own content required no commit (empty source, or
      * every directive an unmatched delete) — success, nothing lost.
      */
    final case class NoChange(reason: String) extends MergeOutcome {
      def counts: (Long, Long, Long) = (0L, 0L, 0L)
      def applied: Boolean = true
    }
    /** A staged attempt from a crashed or live writer is pending; the
      * merge refused to run. Run [[recover]] (after confirming no live
      * writer), then retry the batch.
      */
    final case object Skipped extends MergeOutcome {
      def counts: (Long, Long, Long) = (0L, 0L, 0L)
      def applied: Boolean = false
    }
    /** A concurrent writer advanced the log between this merge's state
      * capture and its commit; the snapshot was discarded. Retry the
      * batch against the new state.
      */
    final case object Aborted extends MergeOutcome {
      def counts: (Long, Long, Long) = (0L, 0L, 0L)
      def applied: Boolean = false
    }
  }

  private def mergeImpl(spark: SparkSession, destPath: String,
      source: DataFrame, keyCol: String, deleteFilter: Option[Column],
      directiveCols: Seq[String], partitionField: Option[String],
      statsCols: Seq[String], mor: Boolean = false): MergeOutcome = {
    require(source.columns.contains(keyCol),
      s"[graft] mergeInto: source lacks key column '$keyCol'")
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    // LAZY pin: the source-profile aggregate below is the first action
    // and materializes the checkpoint as a side effect — one driver-paced
    // job instead of two at every merge (the commit-cadence fixed cost)
    val src = source.localCheckpoint(false)
    // delete directives never insert; a NULL delete-condition value is
    // "not a delete" (SQL WHEN MATCHED AND <cond> semantics)
    val delFlag = deleteFilter
      .map(f => coalesce(f.cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val keyIsNum = {
      import org.apache.spark.sql.types._
      src.schema(keyCol).dataType match {
        case _: NumericType | BooleanType => true
        case _                            => false
      }
    }
    // ONE source-profile job instead of four driver-paced actions
    // (count, distinct-count, upsert count, key envelope): a merge's
    // fixed latency is mostly job count at the commit cadence CDC
    // pipelines run at. `countDistinct` skips nulls, so an any-null
    // indicator restores distinct()'s null-counts-once semantics.
    val keyCast =
      if (keyIsNum) col(keyCol).cast("double")
      else col(keyCol).cast("string")
    val prof = src.agg(
      count(lit(1)),
      countDistinct(col(keyCol)) +
        coalesce(max(when(col(keyCol).isNull, 1L).otherwise(0L)),
          lit(0L)),
      sum(when(!delFlag, 1L).otherwise(0L)),
      min(keyCast), max(keyCast)).head
    val nSrc = prof.getLong(0)
    if (nSrc == 0) return MergeOutcome.NoChange("empty source")
    val nKeys = prof.getLong(1)
    require(nKeys == nSrc,
      s"[graft] mergeInto: source has $nSrc rows but only $nKeys " +
        s"distinct '$keyCol' keys — two source rows for one key have " +
        "no deterministic winner; dedupe upstream")
    val ups = deleteFilter.map(_ => src.where(!delFlag))
      .getOrElse(src).drop(directiveCols: _*)
    val nUps = prof.getLong(2)
    val old = resolvedLog(fs, destPath)
    val targets = effectiveTargetsOf(fs, old)
    if (targets.isEmpty) {
      // empty/new table: a merge is a plain insert (deletes are no-ops)
      if (nUps == 0)
        return MergeOutcome.NoChange("all deletes unmatched (empty table)")
      if (statsCols.isEmpty) append(ups, destPath, partitionField)
      else statsAppend(ups, destPath, partitionField, statsCols)
      return MergeOutcome.Merged(0L, nUps, 0L)
    }
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "merge"))
      return MergeOutcome.Skipped
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val stats = fileStatsOf(fs, old)
    val dvs = effectiveDvsOf(fs, old)
    // COLUMN MAPPING: stats/bloom keys are physical; source frames and
    // key columns are logical
    val cmap = mappingFor(fs, old)
    val keyColPhys = cmap.collectFirst {
      case (l, p) if l.equalsIgnoreCase(keyCol) => p }.getOrElse(keyCol)
    val statsByTgt: Map[String, Seq[String]] =
      stats.keys.groupBy(_._1).map { case (t, ks) =>
        t -> ks.map(_._2).toSeq.sorted }
    // candidate pruning: the source's key envelope as a range predicate
    // against each file's stats (numeric or string kind, built from the
    // source schema) — reuses mayMatch, so truncation/all-null rules
    // hold; the bounds rode the single source-profile job above
    val keyPred: Option[SkipPredicate] = {
      if (prof.isNullAt(3)) None // all-null source keys: nothing can match
      else if (keyIsNum)
        Some(SkipPredicate.NumRange(keyCol, prof.getDouble(3),
          prof.getDouble(4)))
      else
        Some(SkipPredicate.StrRange(keyCol, prof.getString(3),
          prof.getString(4)))
    }
    val rangeCandidates = keyPred match {
      case None => Seq.empty[String]
      case Some(kp) => targets.filter { t =>
        stats.get((t, keyColPhys)) match {
          case Some(st) => mayMatch(kp, st)
          case None     => true
        }
      }
    }
    // bloom refinement: a SCATTERED-key CDC batch defeats the range
    // envelope (every file's min/max covers it) but not the per-file
    // bloom — keep only files whose filter says "maybe" for AT LEAST
    // ONE source key. Inline (legacy) filters probe driver-side under
    // a key cap; sidecar-backed filters refine in ONE distributed job
    // (keys x probe positions joined against the sidecar word rows —
    // no cap, no driver hashing: the ADVICE-flagged 100k x k
    // interpreted evals move to executors).
    val blooms = bloomIndexOf(spark, destPath, fs, old)
    val candidates =
      if (rangeCandidates.isEmpty ||
          !rangeCandidates.exists(t => blooms.contains((t, keyColPhys))))
        rangeCandidates
      else bloomRefineCandidates(spark, destPath, blooms, src, keyCol,
        keyColPhys, rangeCandidates, nKeys)
    println(s"METRIC graft.merge.files_total=${targets.length} " +
      s"candidates=${candidates.length} " +
      s"range_candidates=${rangeCandidates.length} key=$keyCol " +
      s"dest=$destPath")
    val srcKeys = src.select(col(keyCol))
    // ONE distributed pass AND one action: per-candidate matched-row
    // counts plus the exact matched-KEY counts split by directive kind
    // (insert count = nUps - matched upsert keys; unmatched deletes are
    // no-ops). The old shape ran TWO actions (a semi-join key count and
    // a per-file groupBy), each scanning every candidate file; the
    // matched frame (candidate rows inner-joined to the broadcast
    // source flags) now feeds both aggregates from one subtree — source
    // keys are unique (enforced above), so the per-key directive flag
    // is well-defined and `countDistinct(when(flag, key))` equals the
    // old semi-join count exactly.
    val keyFlags = src.select(col(keyCol), delFlag.as("__del"))
    val relOfName: Map[String, String] =
      candidates.map(rel => fileNameOf(rel) -> rel).toMap
    // union-tag trick: row __s null = the global key-count row, else a
    // per-file row — both aggregates collected in ONE driver action
    def matchedProfile(joined: DataFrame)
        : (Map[String, Long], Long, Long) = {
      val perFile = joined.groupBy(col("__graft_fn"))
        .agg(count(lit(1)).as("n"))
        .select(col("__graft_fn").as("__s"), col("n"),
          lit(-1L).as("n2"))
      val byKey = joined.agg(
        countDistinct(when(!col("__del"), col(keyCol))).as("n"),
        countDistinct(when(col("__del"), col(keyCol))).as("n2"))
        .select(lit(null).cast("string").as("__s"), col("n"), col("n2"))
      val rows = perFile.unionByName(byKey).collect()
      val pf = rows.filter(!_.isNullAt(0))
        .map(r => relOfName(r.getString(0)) -> r.getLong(1)).toMap
      val k = rows.find(_.isNullAt(0)).get
      (pf, k.getLong(1), k.getLong(2))
    }
    // cand is the LIVE candidate content: existing deletion vectors
    // applied, so a tombstoned row neither matches nor counts — a
    // replayed CDC delete stays a no-op under mor exactly as under COW
    val (matchedOf, updatedKeys, deletedKeys, dvNew)
        : (Map[String, Long], Long, Long, Option[DataFrame]) =
      if (candidates.isEmpty) (Map.empty, 0L, 0L, None)
      else {
        val cand = readFilesDvMeta(spark, destPath, candidates, dvs,
          withBase = false)
        if (mor) {
          // mor needs the matched POSITIONS, not just counts: one pass
          // materializes them (keys and flags ride along — LAZY pin,
          // the profile action below materializes it), both counts
          // derive from the pinned frame in the same action
          val posDf = cand
            .select(col("__graft_fn"),
              col("__graft_pos").as("pos"), col(keyCol))
            .join(broadcast(keyFlags), Seq(keyCol))
            .localCheckpoint(false)
          val (perFile, u, d) = matchedProfile(posDf)
          (perFile, u, d,
            Some(posDf.select(col("__graft_fn").as("name"), col("pos"))))
        } else {
          // SIZE-ADAPTIVE scan strategy (both are ONE action):
          //  - large candidate sets (known live rows above the barrier
          //    threshold) insert a repartition barrier so both union
          //    branches consume the SAME exchange (ReusedExchange) —
          //    the candidate files are scanned ONCE and only the slim
          //    matched (file, key, flag) rows shuffle, the 100 TB
          //    shape;
          //  - small or unknown-size candidate sets skip the barrier —
          //    the two aggregate branches scan the candidates twice IN
          //    PARALLEL (independent stages of one job), which beats
          //    paying an extra exchange's latency when the scan is
          //    cheap (measured at sf0.1: the barrier costs ~0.3 s per
          //    statement there).
          val rowsKnown: Map[String, Long] = stats.toSeq
            .groupBy(_._1._1)
            .flatMap { case (t, es) =>
              es.map(_._2.rows).find(_ >= 0).map(t -> _) }
          val bigCand = candidates.forall(rowsKnown.contains) &&
            candidates.map(rowsKnown).sum > MergeProfileBarrierRows
          val joinedBase = cand
            .select(col("__graft_fn"), col(keyCol))
            .join(broadcast(keyFlags), Seq(keyCol))
          val joined =
            if (bigCand) joinedBase.repartition(col(keyCol))
            else joinedBase
          val (perFile, u, d) = matchedProfile(joined)
          (perFile, u, d, None)
        }
      }
    val touched = candidates.filter(t => matchedOf.getOrElse(t, 0L) > 0)
    val replacedRows = touched.map(matchedOf).sum
    if (touched.isEmpty && nUps == 0) {
      // every directive was an unmatched delete — nothing to commit
      return MergeOutcome.NoChange("every directive an unmatched delete")
    }

    if (mor) {
      // MERGE-ON-READ commit: matched rows become tombstone positions
      // (one sidecar, one dv line per touched file), the upsert half
      // appends as fresh files, and ONE INCREMENTAL manifest carries
      // both — no data file is rewritten, total write cost
      // O(changed rows). Readers resolve: old files minus tombstones
      // plus inserts; the next optimize/rewrite materializes.
      val writeId = "mm" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(14)
      val staging = stagingDir(destPath, writeId)
      fs.mkdirs(staging)
      val dvRel = s"$DvDir/$writeId.parquet"
      val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
      val newStats = scala.collection.mutable.ArrayBuffer[String]()
      var dvLines = Seq.empty[String]
      try {
        if (touched.nonEmpty) {
          val posDf = dvNew.get
          val dvOut = new Path(staging, "dv")
          posDf.orderBy(col("name"), col("pos"))
            .coalesce(1).write.mode("overwrite").parquet(dvOut.toString)
          val part = fs.listStatus(dvOut).map(_.getPath)
            .find(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"[graft] mergeCdc(mor): no part file under $dvOut"))
          moves += ((part, dvRel))
          dvLines = touched.map(t => s"dv\t$t\t$dvRel\t${matchedOf(t)}")
        }
        if (nUps > 0) {
          val insOut = new Path(staging, "ins")
          val writer = partitionField match {
            case Some(f) =>
              val (upsP, upsCols) = withPartitionCols(ups, f)
              toPhysicalDf(upsP, cmap).write.mode("overwrite")
                .partitionBy(upsCols: _*)
            case None => toPhysicalDf(ups, cmap).write.mode("overwrite")
          }
          writer.parquet(insOut.toString)
          val insQ = fs.makeQualified(insOut).toString
          val insStaged = listFilesRec(fs, insOut).map(_._1)
            .filter(p => !p.getName.startsWith("_") &&
              !p.getName.startsWith("."))
            .map(p => fs.makeQualified(p).toString.stripPrefix(insQ + "/"))
            .sorted
          val insTargets = insStaged.zipWithIndex.map { case (rel, i) =>
            val dir = rel.lastIndexOf('/') match {
              case -1 => ""
              case k  => rel.substring(0, k + 1)
            }
            (rel, s"$dir$writeId-ins-$i.parquet")
          }
          if (statsCols.nonEmpty)
            newStats ++= statsLinesFor(spark, fs, insOut,
              insTargets.toMap, physColsOf(statsCols, cmap))
          insTargets.foreach { case (rel, target) =>
            moves += ((new Path(insOut, rel), target))
          }
        }
        writeFile(fs, new Path(staging, WaManifest),
          moves.map("target\t" + _._2).mkString("\n"))
        moves.foreach { case (part, target) =>
          val tgt = new Path(dest, target)
          fs.mkdirs(tgt.getParent)
          require(fs.rename(part, tgt),
            s"[graft] mergeCdc(mor) move failed: $tgt")
        }
      } catch {
        case e: Throwable =>
          moves.foreach { case (_, t) =>
            fs.delete(new Path(dest, t), false) }
          fs.delete(staging, true)
          if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
            fs.delete(sroot, true)
          throw e
      }
      val newTgts = moves.map(_._2).filterNot(_ == dvRel).toSeq
      val body = (Seq(s"writeid\t$writeId") ++
        newTgts.map("target\t" + _) ++ newStats ++
        newFileLines(fs, dest, newTgts,
          rowsOfStatsLines(newStats.toSeq)) ++
        dvLines).mkString("\n")
      val lp = logPath(destPath)
      fs.mkdirs(lp)
      val tmp = new Path(lp, s".tmp_$writeId")
      writeFile(fs, tmp, body)
      val version = baseVersion + 1
      val fin = new Path(lp, f"$version%012d.manifest")
      onBeforeRewriteCommit()
      val committed = commitLock(fs, destPath).synchronized {
        val nowMax = manifests(fs, destPath)
          .map(_.getName.takeWhile(_.isDigit).toLong)
          .maxOption.getOrElse(-1L)
        nowMax == baseVersion && coordinator.putIfAbsent(fs, tmp, fin)
      }
      if (!committed) {
        fs.delete(tmp, false)
        moves.foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        println(s"METRIC graft.merge.aborted_log_advanced=1 " +
          s"base_version=$baseVersion mor=1 dest=$destPath")
        return MergeOutcome.Aborted
      }
      fs.delete(staging, true)
      if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
        fs.delete(sroot, true)
      println(s"METRIC graft.merge.updated_keys=$updatedKeys " +
        s"tombstoned_rows=$replacedRows " +
        s"inserted=${nUps - updatedKeys} deleted_keys=$deletedKeys " +
        s"files_marked=${touched.length} rewritten=0 mor=1 " +
        s"version=$version dest=$destPath")
      return MergeOutcome.Merged(updatedKeys, nUps - updatedKeys,
        deletedKeys)
    }

    val writeId = "mg" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging)
    val moves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val sideMoves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    val cdfLine = scala.collection.mutable.ArrayBuffer[String]()
    val newStats = scala.collection.mutable.ArrayBuffer[String]()
    try {
      // CHANGE DATA FEED (when enabled): matched live rows are the
      // delete pre-images, the upsert half the inserts — one sidecar
      if (changeFeedEnabled(fs, dest)) {
        val pre =
          (if (touched.isEmpty) ups.limit(0)
           else readFilesDv(spark, destPath, touched, dvs,
               withBase = false)
             .join(broadcast(srcKeys), Seq(keyCol), "left_semi"))
          .withColumn("_change_type", lit("delete"))
        val frame = pre.unionByName(
          ups.withColumn("_change_type", lit("insert")),
          allowMissingColumns = true)
        stageCdfParts(spark, fs, staging, toPhysicalDf(frame, cmap),
            writeId, "mergeInto").foreach { case (part, rel, n) =>
          sideMoves += ((part, rel))
          cdfLine += s"cdf\t$rel\t$n"
        }
      }
      // matched files: keep only rows whose key is absent from source
      // (LIVE rows — existing tombstones materialize in the rewrite).
      // ONE distributed job over every matched file — the same
      // [[purge]]-shaped rewrite as rewriteWhere: hash-repartition on
      // the source-file name so each output directory holds exactly
      // one part; a file whose every live row matched a source key
      // writes nothing and is simply replaced by the upsert half (no
      // empty survivor file).
      val rwOut = new Path(staging, "rw")
      val insOut = new Path(staging, "ins")
      val rwFrame =
        if (touched.isEmpty) None
        else Some(readFilesDvMeta(spark, destPath, touched, dvs,
            withBase = false)
          .drop("__graft_pos")
          .join(broadcast(srcKeys), Seq(keyCol), "left_anti"))
      // NOT folded into one write with the upsert half (tried, measured
      // WORSE): riding the upsert rows on this partitionBy write would
      // shuffle the upsert batch — the separate write below is
      // exchange-free — for one saved action
      rwFrame.foreach { rw =>
        toPhysicalDf(rw, cmap)
          .repartition(col("__graft_fn"))
          .write.partitionBy("__graft_fn")
          .mode("overwrite").parquet(rwOut.toString)
      }
      if (rwFrame.nonEmpty) {
        val stagedOf: Seq[(String, String, String)] =
          touched.zipWithIndex.flatMap { case (rel, k) =>
            val parent = {
              val i = rel.lastIndexOf('/')
              if (i < 0) "" else rel.substring(0, i + 1)
            }
            val dir = s"__graft_fn=${fileNameOf(rel)}"
            val dirP = new Path(rwOut, dir)
            val part =
              if (!fs.exists(dirP)) None
              else fs.listStatus(dirP).map(_.getPath)
                .find(p => p.getName.startsWith("part-") &&
                  p.getName.endsWith(".parquet"))
            part.map { p =>
              val target = s"$parent$writeId-$k.parquet"
              moves += ((p, target))
              (rel, s"$dir/${p.getName}", target)
            }
          }
        stagedOf.groupBy { case (rel, _, _) =>
          statsByTgt.getOrElse(rel, Nil) }
          .toSeq.sortBy(_._2.head._3)
          .foreach { case (cols, group) =>
            if (cols.nonEmpty)
              newStats ++= statsLinesFor(spark, fs, rwOut,
                group.map { case (_, staged, tgt) => staged -> tgt }
                  .toMap,
                cols)
          }
      }
      // the upsert half of the source appends as fresh files
      // (replacements + inserts); delete directives write nothing
      val (insRoot, insStaged): (Path, Seq[String]) = {
        val writer = partitionField match {
          case Some(f) =>
            val (upsP, upsCols) = withPartitionCols(ups, f)
            toPhysicalDf(upsP, cmap).write.mode("overwrite")
              .partitionBy(upsCols: _*)
          case None => toPhysicalDf(ups, cmap).write.mode("overwrite")
        }
        writer.parquet(insOut.toString)
        val insQ = fs.makeQualified(insOut).toString
        (insOut, listFilesRec(fs, insOut).map(_._1)
          .filter(p => !p.getName.startsWith("_") &&
            !p.getName.startsWith("."))
          .map(p => fs.makeQualified(p).toString
            .stripPrefix(insQ + "/"))
          .sorted)
      }
      val insTargets = insStaged.zipWithIndex.map { case (rel, i) =>
        val dir = rel.lastIndexOf('/') match {
          case -1 => ""
          case k  => rel.substring(0, k + 1)
        }
        (rel, s"$dir$writeId-ins-$i.parquet")
      }
      if (statsCols.nonEmpty)
        newStats ++= statsLinesFor(spark, fs, insRoot,
          insTargets.toMap, physColsOf(statsCols, cmap))
      insTargets.foreach { case (rel, target) =>
        moves += ((new Path(insRoot, rel), target))
      }
      writeFile(fs, new Path(staging, WaManifest),
        (moves ++ sideMoves).map("target\t" + _._2).mkString("\n"))
      (moves ++ sideMoves).foreach { case (part, target) =>
        val tgt = new Path(dest, target)
        fs.mkdirs(tgt.getParent)
        require(fs.rename(part, tgt),
          s"[graft] mergeInto move failed: $tgt")
      }
    } catch {
      case e: Throwable =>
        (moves ++ sideMoves).foreach { case (_, t) =>
          fs.delete(new Path(dest, t), false) }
        fs.delete(staging, true)
        if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
          fs.delete(sroot, true)
        throw e
    }

    val replaced = touched.toSet
    val survivors = targets.filterNot(replaced) ++ moves.map(_._2)
    val carriedStats = targets.filterNot(replaced).flatMap { t =>
      statsByTgt.getOrElse(t, Nil).flatMap(c =>
        stats.get((t, c)).map(st => statsLine(t, c, st)))
    }
    val carriedDvs = dvCarryLines(dvs, targets.filterNot(replaced))
    val carriedBlooms =
      bloomCarryLines(fs, old, targets.filterNot(replaced))
    // a concurrent pure append absorbs iff the source's key envelope
    // provably misses its files (same stats test that pruned the
    // original candidates); an unprovable overlap aborts — an appended
    // row sharing a merge key must not survive the upsert
    val absorbOk: Seq[Path] => Boolean = newMfs => keyPred.exists { kp =>
      val absorbStats = fileStatsOf(fs, newMfs)
      val kpPhys = mapPredCols(kp, cmap)
      newMfs.flatMap(readManifest(fs, _)._2)
        .forall(t => !mayMatchFile(absorbStats, t, kpPhys))
    }
    onBeforeRewriteCommit()
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors,
        carriedStats ++ newStats.toSeq ++ carriedDvs ++ carriedBlooms ++
          cdfLine.toSeq,
        old, (moves ++ sideMoves).map(_._2).toSeq,
        canAbsorb = absorbOk)) {
      println(s"METRIC graft.merge.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return MergeOutcome.Aborted
    }
    println(s"METRIC graft.merge.updated_keys=$updatedKeys " +
      s"replaced_rows=$replacedRows inserted=${nUps - updatedKeys} " +
      s"deleted_keys=$deletedKeys rewritten=${touched.length} " +
      s"snapshot_version=${baseVersion + 1} dest=$destPath")
    MergeOutcome.Merged(updatedKeys, nUps - updatedKeys, deletedKeys)
  }

  /** Schema-evolution-checked append: the reference's `sameOrSuperSet`
    * rule enforced at WRITE time — the batch's column list must be
    * prefix-compatible with the committed table's (one a prefix of the
    * other, order-sensitive; right-append evolution only), so a
    * reordered or incompatibly-shaped batch is refused BEFORE it lands
    * instead of surfacing later as a mergeSchema surprise. Empty table
    * accepts anything. The committed schema is the UNION of the files'
    * footers (mergeSchema — footer metadata reads, not a scan): under
    * right-append evolution the union IS the widest footer, so a batch
    * must be compatible with the EVOLVED table schema, not merely with
    * whichever file happens to list first. Checking a single footer
    * under-constrains after evolution: with committed files `(id,v)`
    * then `(id,v,score)`, a batch `(id,v,other)` is prefix-compatible
    * with the old narrow footer but conflicts with the evolved schema —
    * exactly the reference's `sameOrSuperSet` rule, which compares
    * against the table's current (widest) schema.
    */
  def compatibleAppend(df: DataFrame, destPath: String,
      partitionField: Option[String],
      statsCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    val targets =
      if (!fs.exists(dest)) Seq.empty
      else effectiveTargets(fs, destPath)
    if (targets.nonEmpty) {
      // the committed schema resolves from the LOG when present (the
      // footer union refuses int-vs-long after a type widen); the
      // footer sweep remains the legacy fallback
      val existing = effectiveSchemaOf(fs, resolvedLog(fs, destPath))
        .getOrElse(spark.read.option("mergeSchema", "true")
          .parquet(targets.map(t => new Path(dest, t).toString): _*)
          .schema)
        .fieldNames.toSeq.filterNot(n =>
          layoutKeysOf(targets).exists(_.equalsIgnoreCase(n)))
      val incoming = df.schema.fieldNames.toSeq
      if (!graft.schema.SchemaEvolution.prefixCompatible(existing,
          incoming))
        throw new graft.schema.SchemaEvolution.SchemaMismatchException(
          s"[graft] compatibleAppend refused: batch columns " +
            s"${incoming.mkString(",")} are not prefix-compatible with " +
            s"committed columns ${existing.mkString(",")}")
    }
    if (statsCols.isEmpty) append(df, destPath, partitionField)
    else statsAppend(df, destPath, partitionField, statsCols)
  }

  /** DESCRIBE DETAIL (Delta's `DESCRIBE DETAIL`): one metadata row
    * summarizing the table's current state — version, file count,
    * total bytes (from the manifest `fsize` lines; one `getFileStatus`
    * fallback per pre-fsize file), live row count from the recorded
    * per-file counts (dv tombstones subtracted, None-able like
    * [[metadataCount]]), partition values present in the layout,
    * columns with skipping stats, columns with bloom filters, files
    * carrying live deletion vectors, and whether the change feed is
    * enabled. Zero data files opened at any table size.
    */
  def detail(spark: SparkSession, destPath: String): DataFrame = {
    import spark.implicits._
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest))
      return Seq.empty[(Long, Long, Long, Option[Long], Seq[String],
        Seq[String], Seq[String], Long, Boolean)]
        .toDF("version", "num_files", "size_bytes", "num_rows",
          "partition_values", "stats_columns", "bloom_columns",
          "num_dv_files", "change_feed_enabled")
    val mfs = resolvedLog(fs, destPath)
    val version = mfs.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, mfs)
    val sizes = fileSizesOf(fs, mfs)
    val bytes = targets.map { rel =>
      sizes.get(rel).map(_._1).getOrElse {
        // pre-fsize commit: one stat fallback
        val p = new Path(dest, rel)
        if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      }
    }.sum
    val stats = fileStatsOf(fs, mfs)
    // the full partition identity (every `k=v` directory segment) —
    // both levels of a date/hour layout
    val partVals = targets.flatMap { t =>
      val i = t.lastIndexOf('/')
      if (i > 0 && t.contains('=')) Some(t.substring(0, i)) else None
    }.distinct.sorted
    val dvs = effectiveDvsOf(fs, mfs)
      .filter { case (t, _) => targets.contains(t) }
    // stats/bloom keys are as-written (physical) — DESCRIBE speaks
    // the LOGICAL names a user can actually query by
    val p2l = mappingFor(fs, mfs).map(_.swap)
    def logi(cols: Iterable[String]): Seq[String] =
      cols.map(c => p2l.getOrElse(c, c)).toSeq.distinct.sorted
    Seq((version, targets.size.toLong, bytes,
      metadataCount(spark, destPath),
      partVals,
      logi(stats.keys.map(_._2)),
      logi(bloomIndexOf(spark, destPath, fs, mfs).keys.map(_._2)),
      dvs.size.toLong,
      changeFeedEnabled(fs, dest)))
      .toDF("version", "num_files", "size_bytes", "num_rows",
        "partition_values", "stats_columns", "bloom_columns",
        "num_dv_files", "change_feed_enabled")
  }

  /** SHOW PARTITIONS with per-partition file and row counts — the
    * reconnaissance for [[dropPartitions]]: one row per
    * `col=value` directory present in the committed layout, with its
    * file count and (when every file in it carries stats) its live
    * row count, dv tombstones subtracted. Pure manifest arithmetic,
    * zero data files opened. Unpartitioned files group under the
    * empty-string partition.
    */
  def partitions(spark: SparkSession, destPath: String): DataFrame = {
    import spark.implicits._
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest))
      return Seq.empty[(String, Long, Option[Long])]
        .toDF("partition", "num_files", "num_rows")
    val mfs = resolvedLog(fs, destPath)
    val targets = effectiveTargetsOf(fs, mfs)
    val rowsByFile = fileRowsOf(fs, mfs)
    val dvRows: Map[String, Long] = effectiveDvsOf(fs, mfs)
      .map { case (t, es) => t -> es.map(_._2).sum }
    // the partition identity is the file's FULL directory prefix (all
    // `k=v` segments): one segment on day layouts, two on date/hour
    def partOf(t: String): String = {
      val i = t.lastIndexOf('/')
      if (i < 0) "" else t.substring(0, i)
    }
    targets.groupBy(partOf).toSeq.sortBy(_._1).map { case (p, ts) =>
      val per = ts.map(rowsByFile.get)
      val rows =
        if (per.exists(_.isEmpty)) None
        else Some(per.flatten.sum -
          ts.map(t => dvRows.getOrElse(t, 0L)).sum)
      (p, ts.size.toLong, rows)
    }.toDF("partition", "num_files", "num_rows")
  }

  /** METADATA-ONLY aggregates: COUNT(*) from the per-file row counts
    * every commit records, numeric MIN/MAX and null counts from the
    * stats lines — ZERO scan tasks, the query a lakehouse answers
    * before an executor spins up. Each returns None whenever any
    * committed file lacks what it needs (a legacy commit without
    * counts, a column the file never recorded) — the caller falls back
    * to a real scan; a wrong fast answer is never returned. MIN/MAX
    * skip all-null files and return None if every file is all-null.
    */
  def metadataCount(spark: SparkSession, destPath: String)
      : Option[Long] =
    snapshotHandle(spark, destPath).liveRows

  /** The live row count: from the log ([[metadataCount]]) when every
    * file records one, a scan only for legacy files that do not.
    */
  override def rowCount(spark: SparkSession, destPath: String): Long =
    metadataCount(spark, destPath)
      .getOrElse(readBack(spark, destPath).count())

  /** Numeric (min, max) of `column` from stats alone; see
    * [[metadataCount]] for the None contract.
    */
  def metadataMinMax(spark: SparkSession, destPath: String,
      column: String): Option[(Double, Double)] = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return None
    val mfs = resolvedLog(fs, destPath)
    val targets = effectiveTargetsOf(fs, mfs)
    if (targets.isEmpty) return None
    // any deletion vector voids bound credit: a tombstoned row may
    // have held the min or max — fall back to a scan
    if (effectiveDvsOf(fs, mfs).nonEmpty) return None
    val stats = fileStatsOf(fs, mfs)
    // stats key on PHYSICAL names; the caller asks in logical
    val colPhys = mappingFor(fs, mfs).collectFirst {
      case (l, p) if l.equalsIgnoreCase(column) => p }.getOrElse(column)
    val per = targets.map(t => stats.get((t, colPhys)))
    if (per.exists(_.isEmpty)) return None // a file without the stat
    val sts = per.flatten
    if (sts.exists(_.kind != "num")) return None
    val bounded = sts.filter(st => st.min.isDefined && st.max.isDefined)
    // a bound-less entry is only safe to skip when provably all-null
    val unbounded = sts.filter(st => st.min.isEmpty || st.max.isEmpty)
    if (unbounded.exists(st =>
        !(st.nulls >= 0 && st.rows >= 0 && st.nulls == st.rows)))
      return None
    val nums = bounded.map(numBounds)
    if (bounded.isEmpty || nums.exists(_.isEmpty)) None // NaN: scan
    else Some((nums.flatten.map(_._1).min, nums.flatten.map(_._2).max))
  }

  /** Null count of `column` from stats alone; None when any file lacks
    * a known count.
    */
  def metadataNullCount(spark: SparkSession, destPath: String,
      column: String): Option[Long] = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return None
    val mfs = resolvedLog(fs, destPath)
    val targets = effectiveTargetsOf(fs, mfs)
    if (targets.isEmpty) return Some(0L)
    // tombstoned rows may include nulls the stats still count — a
    // deletion vector anywhere voids the metadata answer
    if (effectiveDvsOf(fs, mfs).nonEmpty) return None
    val stats = fileStatsOf(fs, mfs)
    val colPhys = mappingFor(fs, mfs).collectFirst {
      case (l, p) if l.equalsIgnoreCase(column) => p }.getOrElse(column)
    val per = targets.map(t => stats.get((t, colPhys)).map(_.nulls))
    if (per.exists(p => p.isEmpty || p.get < 0)) None
    else Some(per.flatten.sum)
  }

  /** CHECK-constrained append (Delta's table constraints): validate the
    * batch BEFORE anything stages — ONE distributed aggregate counting
    * violations of every named constraint — and refuse the whole batch
    * loudly if any row fails. SQL CHECK semantics: a NULL predicate
    * PASSES (violation = predicate evaluates to false), so
    * `col("x") > 0` admits null x — add an explicit `isNotNull` check
    * to forbid it. The batch is localCheckpoint'ed so the rows the
    * check saw are the rows that commit (a nondeterministic source
    * cannot sneak violations in between validation and write).
    */
  def checkedAppend(df: DataFrame, destPath: String,
      partitionField: Option[String],
      checks: Seq[(String, org.apache.spark.sql.Column)],
      statsCols: Seq[String] = Nil): Unit = {
    require(checks.nonEmpty, "[graft] checkedAppend: no checks — use " +
      "append()")
    val batch = df.localCheckpoint(false)
    val aggs = checks.map { case (_, c) =>
      sum(when(not(coalesce(c, lit(true))), 1L).otherwise(0L)) }
    val r = batch.agg(aggs.head, aggs.tail: _*).head
    val bad = checks.zipWithIndex
      .map { case ((name, _), i) => name -> r.getLong(i) }
      .filter(_._2 > 0)
    require(bad.isEmpty,
      s"[graft] checkedAppend: batch refused — constraint violations: " +
        bad.map { case (n, c) => s"$n($c rows)" }.mkString(", "))
    if (statsCols.isEmpty) append(batch, destPath, partitionField)
    else statsAppend(batch, destPath, partitionField, statsCols)
  }

  /** METADATA-ONLY partition drop (Delta's partition-predicate DELETE
    * fast path): remove every file under the named partition values in
    * ONE snapshot commit that reads and writes ZERO data bytes — the
    * retention/GDPR shape ("drop everything before date X") where
    * [[deleteWhere]]'s copy-on-write rewrite would be pure waste (the
    * partition column lives in the directory name, not the files, so
    * there is nothing to rewrite — the manifest simply stops listing
    * those files). Replaced files stay on disk for in-flight readers
    * until [[vacuum]]; concurrent appends ride the same captured-log
    * abort protocol. Returns the number of files dropped.
    */
  def dropPartitions(spark: SparkSession, destPath: String,
      values: Seq[String],
      partitionCol: String = Ingest.PartitionCol): Long = {
    require(values.nonEmpty, "[graft] dropPartitions: empty value list")
    // "d" drops a whole day; "d/h" drops one hour of a date/hour layout
    require(values.forall(v =>
        !v.contains("..") && v.split('/').length <= 2),
      s"[graft] dropPartitions: values must be 'date' or 'date/hour': " +
        values.mkString(","))
    values.foreach(v => v.split('/') match {
      case Array(_, h) => canonPartitionHour(h, "dropPartitions")
      case _ => ()
    })
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return 0L
    val sroot = stagingRoot(destPath)
    if (pendingAttempt(fs, destPath, "dropparts")) return 0L
    val old = resolvedLog(fs, destPath)
    val baseVersion = old.map(_.getName.takeWhile(_.isDigit).toLong)
      .maxOption.getOrElse(-1L)
    val targets = effectiveTargetsOf(fs, old)
    // an hour-scoped value against a DAY-only layout would silently
    // no-op (its prefix matches nothing) — refuse loudly instead
    if (values.exists(_.contains('/'))) {
      val hourly = targets.headOption.exists(_.split('/').init
        .exists(_.startsWith(Ingest.PartitionHourCol + "=")))
      require(hourly,
        s"[graft] dropPartitions: 'date/hour' values need a " +
          s"date/hour layout; $destPath is day-partitioned")
    }
    // a GENERIC layout (lang=en/) resolves the directory key from the
    // committed targets when the caller left the default; values are
    // hive-escaped to match the writer's directory names
    val pc =
      if (partitionCol == Ingest.PartitionCol)
        layoutKeysOf(targets).headOption.getOrElse(partitionCol)
      else partitionCol
    def esc(v: String): String = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(v)
    val prefixes = values.map(v => v.split('/') match {
      case Array(d) => s"$pc=${esc(d)}/"
      case Array(d, h) =>
        // hour dirs are written from the INT p_hour column: "07" and
        // "7" name the same directory
        s"$pc=${esc(d)}/${Ingest.PartitionHourCol}=" +
          s"${canonPartitionHour(h, "dropPartitions")}/"
    })
    val dropped = targets.filter(t => prefixes.exists(t.startsWith)).toSet
    if (dropped.isEmpty) return 0L
    val stats = fileStatsOf(fs, old)
    val statsByTgt: Map[String, Seq[String]] =
      stats.keys.groupBy(_._1).map { case (t, ks) =>
        t -> ks.map(_._2).toSeq.sorted }
    val survivors = targets.filterNot(dropped)
    val carriedStats = survivors.flatMap { t =>
      statsByTgt.getOrElse(t, Nil).flatMap(c =>
        stats.get((t, c)).map(st => statsLine(t, c, st)))
    } ++ dvCarryLines(effectiveDvsOf(fs, old), survivors) ++
      bloomCarryLines(fs, old, survivors)
    val writeId = "dp" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(14)
    val staging = stagingDir(destPath, writeId)
    fs.mkdirs(staging) // empty attempt dir: uniform commit protocol
    // CHANGE DATA FEED (when enabled): a metadata-only drop still owes
    // the feed its pre-images — copy the dropped files' rows (with the
    // partition column, from the directory name) into one sidecar;
    // this is the one drop cost that is not metadata-only, and it is
    // the Delta CDF cost model (change-data files at write time)
    val cdfLine = scala.collection.mutable.ArrayBuffer[String]()
    val sideMoves = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    if (changeFeedEnabled(fs, dest)) {
      try {
        // the sidecar stays under PHYSICAL names (like data files);
        // the feed reader surfaces logical
        val rdPre =
          logSchemaReader(spark, logReadSchema(spark, destPath))
        val pre = rdPre
          .option("basePath", destPath)
          .parquet(dropped.toSeq.sorted
            .map(rel => new Path(dest, rel).toString): _*)
          .withColumn("_change_type", lit("delete"))
        val staged = stageCdfParts(spark, fs, staging, pre, writeId,
          "dropPartitions")
        writeFile(fs, new Path(staging, WaManifest),
          staged.map(s => s"target\t${s._2}").mkString("\n"))
        staged.foreach { case (part, rel, n) =>
          val tgt = new Path(dest, rel)
          fs.mkdirs(tgt.getParent)
          require(fs.rename(part, tgt),
            s"[graft] dropPartitions cdf move failed: $tgt")
          sideMoves += ((part, rel))
          cdfLine += s"cdf\t$rel\t$n"
        }
      } catch {
        case e: Throwable =>
          sideMoves.foreach { case (_, t) =>
            fs.delete(new Path(dest, t), false) }
          fs.delete(staging, true)
          if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
            fs.delete(sroot, true)
          throw e
      }
    }
    // a concurrent pure append absorbs iff it lands OUTSIDE the dropped
    // partitions — a file appended INTO one is a conflict (the drop
    // never saw it; silently including it would delete data)
    val absorbOk: Seq[Path] => Boolean = newMfs =>
      newMfs.flatMap(readManifest(fs, _)._2)
        .forall(t => !prefixes.exists(t.startsWith))
    onBeforeRewriteCommit()
    if (!commitSnapshot(spark, destPath, writeId, staging, baseVersion,
        survivors, carriedStats ++ cdfLine.toSeq, old,
        sideMoves.map(_._2).toSeq, canAbsorb = absorbOk)) {
      println(s"METRIC graft.dropparts.aborted_log_advanced=1 " +
        s"base_version=$baseVersion dest=$destPath")
      return 0L
    }
    println(s"METRIC graft.dropparts.files=${dropped.size} " +
      s"values=${values.mkString(",")} " +
      s"snapshot_version=${baseVersion + 1} dest=$destPath")
    dropped.size.toLong
  }

  override def stagedAppend(df: DataFrame, destPath: String,
      partitionField: Option[String], writeId: String,
      sourceUris: Seq[String]): Unit = {
    val fs0 = fsOf(df.sparkSession, new Path(destPath))
    val cmap = mappingFor(fs0, resolvedLog(fs0, destPath))
    stageMoveCommit(df.sparkSession, destPath, writeId, sourceUris) {
      staging =>
        // 1. stage, overwrite mode: a partial dir from a crashed earlier
        //    attempt of this writeId is discarded wholesale
        val writer = partitionField match {
          case Some(f) =>
            val (dfp, pcols) = withPartitionCols(df, f)
            toPhysicalDf(dfp, cmap).write.mode("overwrite")
              .partitionBy(pcols: _*)
          case None => toPhysicalDf(df, cmap).write.mode("overwrite")
        }
        writer.parquet(staging.toString)
    }
  }

  /** TRAINING-SHARD WRITE, made ATOMIC (the trait default writes plain
    * parquet straight into destPath — dirty-read-exposed and invisible to
    * [[readBack]]): shard assignment and in-file ordering are identical to
    * [[Ingest.DestinationSink.shardedWrite]], but the shard files are
    * staged and committed through the manifest log, so readers see the
    * whole shard set or none of it, [[readBack]]/[[readVersion]] enumerate
    * the shards (the `shard=NNNNN/` directory column is recovered via
    * basePath partition inference), and a mid-write crash leaves nothing
    * visible — [[recover]] sweeps the staged attempt. Each call commits
    * ONE log version; a shard commit carries no source URIs, so
    * `recover`'s `committed(Nil)` is vacuously true and a crash between
    * commit and cleanup rolls forward, never back.
    */
  override def shardedWrite(df: DataFrame, destPath: String,
      tokenCol: String, orderCol: String, tokenBudget: Long,
      nChunks: Int, shuffled: Boolean): Unit = {
    val spark = df.sparkSession
    val sharded = Ingest.assignShards(df, tokenCol, orderCol,
      tokenBudget, nChunks, shuffled)
    val fileOrder =
      if (shuffled)
        Seq(col(Ingest.ShardCol), Ingest.shuffleKey(col(orderCol)),
          col(orderCol))
      else Seq(col(Ingest.ShardCol), col(orderCol))
    val writeId =
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val fs0 = fsOf(spark, new Path(destPath))
    val cmap = mappingFor(fs0, resolvedLog(fs0, destPath))
    stageMoveCommit(spark, destPath, writeId, Seq.empty) { staging =>
      toPhysicalDf(sharded
        .repartition(col(Ingest.ShardCol))
        .sortWithinPartitions(fileOrder: _*), cmap)
        .write.mode("overwrite").partitionBy(Ingest.ShardCol)
        .parquet(staging.toString)
    }
    finishCommit(spark, destPath, writeId)
    // fill metrics from the assignment (readBack would also count rows
    // from earlier commits to the same destination)
    val stats = sharded
      .groupBy(col(Ingest.ShardCol))
      .agg(count(lit(1)).as("n"), sum(col(tokenCol)).as("tok"))
      .agg(count(lit(1)), avg(col("tok")), max(col("tok")), sum(col("n")))
      .head()
    println(s"METRIC graft.shards=${stats.getLong(0)} " +
      s"graft.shard_fill_avg=${stats.getDouble(1)} " +
      s"graft.shard_fill_max=${stats.getLong(2)} " +
      s"graft.shard_docs=${stats.getLong(3)} budget=$tokenBudget " +
      s"committed_write=$writeId")
  }

  /** Shared staged-commit protocol (steps 1–4 of the object scaladoc):
    * `stage` materializes the batch into the attempt dir in whatever
    * layout the caller wants (date-partitioned, shard-partitioned, flat);
    * everything after — write-ahead manifest, move into the destination,
    * atomic log commit — is layout-agnostic, keyed only on the staged
    * file names.
    */
  /** True iff a committed manifest (or a checkpoint's `writeidset`
    * line) already records `writeId` — the same idempotent-replay
    * check [[stageMoveCommit]] opens with, exposed for callers that
    * must test an ALTERNATE id form (the streaming sink's pre-r18
    * checkpoint-tag writeIds) before minting a new commit.
    */
  def hasWriteId(spark: SparkSession, destPath: String,
      writeId: String): Boolean = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return false
    resolvedLog(fs, destPath).exists { m =>
      val d = mfData(fs, m)
      d.writeIdSet.contains(writeId) ||
        (m.getName.endsWith(".manifest") && writeIdOf(fs, m) == writeId)
    }
  }

  private def stageMoveCommit(spark: SparkSession, destPath: String,
      writeId: String, sourceUris: Seq[String],
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = DefaultBloomBits,
      snapshotBase: Option[Long] = None)
      (stage: Path => Unit): Unit = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    // defensive replay no-op: a live log entry for this writeId means the
    // attempt committed AND was ledgered (recover() rolls back unledgered
    // entries before any replan), so there is nothing to redo. Resolved
    // through the checkpoint: its `writeidset` lines carry every
    // summarized version's writeId, so the check stays O(tail)
    if (resolvedLog(fs, destPath).exists { m =>
      val d = mfData(fs, m)
      d.writeIdSet.contains(writeId) ||
        (m.getName.endsWith(".manifest") && writeIdOf(fs, m) == writeId)
    }) return
    val staging = stagingDir(destPath, writeId)
    var t0 = System.nanoTime()
    def phase(name: String): Unit = {
      val t1 = System.nanoTime()
      println(f"METRIC graft.sink.${name}_secs=${(t1 - t0) / 1e9}%.3f " +
        s"write=$writeId")
      t0 = t1
    }
    stage(staging)
    phase("stage")
    // 2. write-ahead manifest (rollback map for a crash mid-move)
    val stagingQ = fs.makeQualified(staging).toString
    val stagedInfo = listFilesRec(fs, staging)
      .filter { case (p, _, _) =>
        !p.getName.startsWith("_") && !p.getName.startsWith(".") }
      .map { case (p, mtime, len) =>
        (fs.makeQualified(p).toString.stripPrefix(stagingQ + "/"),
          mtime, len) }
      .sortBy(_._1)
    val staged = stagedInfo.map(_._1)
    val targets = staged.zipWithIndex.map { case (rel, i) =>
      val dir = rel.lastIndexOf('/') match {
        case -1 => ""
        case k  => rel.substring(0, k + 1)
      }
      (rel, s"$dir$writeId-$i.parquet")
    }
    // PARTITION-EXPLOSION guard: one batch staging more distinct
    // directories than [[MaxStagedDirs]] is almost always a layout
    // mistake — a bare partitionField naming an epoch-millis column
    // (one directory per distinct millisecond) or a timestamp-derived
    // layout fed corrupt dates — and committing it cripples the table
    // (manifest size, listing cost, file-per-row). Refuse BEFORE
    // anything moves; the staged attempt sweeps clean. Deliberate
    // wide backfills raise the knob.
    val stagedDirs = targets.iterator.map { case (rel, _) =>
      rel.lastIndexOf('/') match {
        case -1 => ""
        case k  => rel.substring(0, k)
      }
    }.toSet.size
    if (stagedDirs > MaxStagedDirs) {
      fs.delete(staging, true)
      val sr = stagingRoot(destPath)
      if (fs.exists(sr) && fs.listStatus(sr).isEmpty)
        fs.delete(sr, true)
      throw new IllegalArgumentException(
        s"[graft] commit refused: one batch staged $stagedDirs " +
          s"distinct partition directories (cap $MaxStagedDirs) — " +
          "check the partitionField spec (a bare high-cardinality " +
          "column partitions by its raw values); raise " +
          "ManifestSink.MaxStagedDirs for a deliberate wide backfill")
    }
    try assertDirValuesRoundTrip(targets.map(_._2),
      effectiveTargetsOf(fs, resolvedLog(fs, destPath)), "append")
    catch {
      case e: IllegalArgumentException =>
        fs.delete(staging, true)
        val sr = stagingRoot(destPath)
        if (fs.exists(sr) && fs.listStatus(sr).isEmpty)
          fs.delete(sr, true)
        throw e
    }
    // per-file byte sizes ride the manifest (the move preserves them)
    // so readers build the snapshot's FileIndex without ever statting
    // data files — at scale, the log IS the metadata
    val sizeOfRel: Map[String, (Long, Long)] =
      stagedInfo.map(t => t._1 -> ((t._3, t._2))).toMap
    val fsizeLines: Seq[String] = targets.map { case (rel, tgt) =>
      val (len, mtime) = sizeOfRel(rel)
      fsizeLine(tgt, len, mtime)
    }
    // the commit's FILE schema and every file's ROW COUNT ride the
    // manifest too, so readers resolve the table schema and its count
    // from the LOG instead of a footer sweep or a scan. Each staged
    // footer opens at most once: the first gives the schema (a single
    // write job produces one schema) and seeds the stats lane, whose
    // stats lines carry the counts; without stats a footer lane reads
    // them.
    val conf = fs.getConf
    val firstFooter = staged.headOption.flatMap { rel =>
      try Some(readFooter(conf, new Path(staging, rel)))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val schemaLine: Seq[String] = firstFooter.flatMap { md =>
      try Some(schemaLineOf(footerSchemaOf(md, conf)))
      catch { case scala.util.control.NonFatal(_) => None }
    }.toSeq
    // optional per-file typed stats for [[readBackWherePred]]'s metadata
    // pruning — ONE distributed job over the staged files, keyed back to
    // target names by file path (stats columns must be DATA columns; a
    // partition column lives in the directory name, not the file)
    val statsLines: Seq[String] =
      if (statsCols.isEmpty) Nil
      else statsLinesFor(spark, fs, staging, targets.toMap, statsCols,
        firstFooter)
    val rowsOfTarget: Map[String, Long] =
      if (statsCols.nonEmpty) rowsOfStatsLines(statsLines)
      else {
        val byRel = footerLane(spark, fs, staging, staged, firstFooter)(
          footerRows)
        targets.flatMap { case (rel, t) => byRel.get(rel).map(t -> _) }
          .toMap
      }
    val nrowsLines: Seq[String] = targets.flatMap { case (_, t) =>
      rowsOfTarget.get(t).map(nrowsLine(t, _))
    }
    // bloom filters build EXECUTOR-SIDE and land in a per-commit
    // sidecar; the manifest carries slim pointer lines. The sidecar
    // part stages here and moves with the data files; the `sidecar`
    // body line lets recover sweep it in every crash window.
    val bloomRel = s"$BloomDir/$writeId.parquet"
    val (bloomLines: Seq[String], bloomPart: Option[Path]) =
      if (bloomCols.isEmpty) (Nil, None)
      else {
        val (inline, metas, wordsOpt) = bloomWordsFor(spark, fs, staging,
          targets.toMap, bloomCols, bloomBits)
        (inline ++ metas.map { case (tgt, c, m, k) =>
          bloomScLine(tgt, c, m, k, bloomRel) },
          wordsOpt.map {
            case Left(rows) => writeBloomSidecarDriver(fs, staging, rows)
            case Right(df)  => writeBloomSidecar(fs, staging, df)
          })
      }
    val body = (Seq(s"writeid\t$writeId") ++
      snapshotBase.map(_ => "snapshot\t1").toSeq ++
      sourceUris.map("uri\t" + _) ++
      targets.map { case (_, t) => "target\t" + t } ++
      statsLines ++ fsizeLines ++ nrowsLines ++ schemaLine ++ bloomLines ++
      bloomPart.map(_ => s"sidecar\t$bloomRel").toSeq).mkString("\n")
    writeFile(fs, new Path(staging, WaManifest), body)
    phase("wa_manifest")
    // 3. move into the destination layout — invisible until the commit
    //    (heartbeat every 64 renames, same freshness contract as
    //    ParquetSink: renames only REMOVE staging files, so a long move
    //    phase must keep its newest mtime current for recover()'s guard)
    val heartbeat = new Path(staging, ".heartbeat")
    (localRoot(fs, staging), localRoot(fs, dest)) match {
      case (Some(sroot), Some(droot)) =>
        // local fast path: one atomic REPLACE_EXISTING move per file and
        // one createDirectories per DISTINCT parent — the Hadoop local fs
        // forks a process per exists/mkdirs/rename status check (see
        // [[listFilesRec]]), ~4 ms/file that the nio calls don't pay
        val made = scala.collection.mutable.HashSet.empty[java.nio.file.Path]
        targets.zipWithIndex.foreach { case ((rel, tgt), i) =>
          if (i % 64 == 0) writeFile(fs, heartbeat, i.toString)
          val to = droot.resolve(tgt)
          if (made.add(to.getParent))
            java.nio.file.Files.createDirectories(to.getParent)
          java.nio.file.Files.move(sroot.resolve(rel), to,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      case _ =>
        targets.zipWithIndex.foreach { case ((rel, tgt), i) =>
          if (i % 64 == 0) writeFile(fs, heartbeat, i.toString)
          val target = new Path(dest, tgt)
          fs.mkdirs(target.getParent)
          if (fs.exists(target)) fs.delete(target, false)
          require(fs.rename(new Path(staging, rel), target),
            s"[graft] manifest-sink move failed: $rel -> $target")
        }
    }
    bloomPart.foreach { part =>
      val tgt = new Path(dest, bloomRel)
      fs.mkdirs(tgt.getParent)
      if (fs.exists(tgt)) fs.delete(tgt, false)
      require(fs.rename(part, tgt),
        s"[graft] bloom sidecar move failed: $tgt")
    }
    phase("move")
    // 4. THE COMMIT: one atomic rename makes the whole batch visible.
    //    Version conflicts (a concurrent appender committed the same
    //    number first — rename-to-existing fails atomically, exactly
    //    Delta's LogStore putIfAbsent contract) retry at the next free
    //    version, so APPENDS from concurrent writers serialize safely;
    //    the single-writer contract remains for recover()/compact(),
    //    which cannot distinguish a crashed attempt from a live one.
    val lp = logPath(destPath)
    fs.mkdirs(lp)
    val tmp = new Path(lp, s".tmp_$writeId")
    writeFile(fs, tmp, body)
    snapshotBase match {
      case Some(base) =>
        // a SNAPSHOT (overwrite) redefines state: committing past a
        // concurrent writer would silently erase its rows, so the
        // commit requires the slot right above the captured base —
        // lose it and the whole attempt rolls back loudly (the same
        // base-version OCC as commitSnapshot, minus absorption: an
        // overwrite conflicts with EVERYTHING)
        onBeforeRewriteCommit()
        val fin = new Path(lp, f"${base + 1}%012d.manifest")
        val won = commitLock(fs, destPath).synchronized {
          val nowMax = manifests(fs, destPath)
            .map(_.getName.takeWhile(_.isDigit).toLong)
            .maxOption.getOrElse(-1L)
          nowMax == base && coordinator.putIfAbsent(fs, tmp, fin)
        }
        if (!won) {
          targets.foreach { case (_, t) =>
            fs.delete(new Path(dest, t), false) }
          bloomPart.foreach(_ => fs.delete(new Path(dest, bloomRel),
            false))
          fs.delete(tmp, false)
          fs.delete(staging, true)
          val sroot = stagingRoot(destPath)
          if (fs.exists(sroot) && fs.listStatus(sroot).isEmpty)
            fs.delete(sroot, true)
          throw new IllegalStateException(
            s"[graft] overwrite of $destPath aborted: a concurrent " +
              s"writer advanced the log past v$base — retry against " +
              "the new state")
        }
      case None =>
        var attempt = 0
        var committed = false
        while (!committed) {
          commitLock(fs, destPath).synchronized {
            val version = manifests(fs, destPath)
              .map(_.getName.takeWhile(_.isDigit).toLong)
              .maxOption.getOrElse(-1L) + 1
            val fin = new Path(lp, f"$version%012d.manifest")
            committed = coordinator.putIfAbsent(fs, tmp, fin)
          }
          attempt += 1
          if (!committed) {
            require(fs.exists(tmp) && attempt < 1000,
              s"[graft] manifest commit failed for $writeId after " +
                s"$attempt attempts (tmp file lost or log dir " +
                "unwritable)")
            println(s"METRIC graft.commit.version_conflict_retry=1 " +
              s"write=$writeId attempt=$attempt")
          }
        }
    }
    phase("commit")
    // NO checkpoint here: this commit is still pending its ledger append
    // ([[recover]] could roll it back) — [[finishCommit]] checkpoints
    // once the staging marker drops
    // staging dir survives as the commit-pending marker
  }

  /** MAINTENANCE: delete data files not referenced by any committed
    * manifest and untouched for `retentionMs` — the stranded debris of
    * rolled-back or fabricated crash states that [[recover]] has no
    * write-ahead manifest for (Delta's VACUUM, same retention rationale:
    * an in-flight reader may still hold pre-compaction file lists, and
    * the age guard keeps a mid-move attempt's files safe even if the
    * staging check races). REFUSES while staged attempts are pending,
    * like [[compact]]. Returns the number of files deleted.
    */
  def vacuum(spark: SparkSession, destPath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Long =
    vacuumImpl(spark, destPath, retentionMs, dryRun = false).size

  /** `VACUUM ... DRY RUN`: the destination-relative paths [[vacuum]]
    * WOULD delete at this retention, deleting nothing — the audit an
    * operator runs before reclaiming a 100 TB table (the pre-image
    * window for [[readChangesBetween]] and in-flight readers' file
    * lists both end where vacuum begins). Same pending-attempt guard
    * as the real pass.
    */
  def vacuumDryRun(spark: SparkSession, destPath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] =
    vacuumImpl(spark, destPath, retentionMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, destPath: String,
      retentionMs: Long, dryRun: Boolean): Seq[String] = {
    val dest = new Path(destPath)
    val fs = fsOf(spark, dest)
    if (!fs.exists(dest)) return Nil
    if (pendingAttempt(fs, destPath, "vacuum")) return Nil
    val (allMfs, allCks) = logListing(fs, destPath)
    val referenced = (allMfs ++ allCks)
      .flatMap { mf =>
        val d = mfData(fs, mf)
        d.targets ++ d.dvLines.map(_._2) ++ d.cdfLines.map(_._1) ++
          d.bloomScRels
      }.toSet
    val destQ = fs.makeQualified(dest).toString
    val now = System.currentTimeMillis()
    val removed = scala.collection.mutable.ArrayBuffer[String]()
    listFilesRec(fs, dest).foreach { case (p, mtime, _) =>
      val rel = fs.makeQualified(p).toString.stripPrefix(destQ + "/")
      val inLog = rel.startsWith(LogDir + "/")
      val hidden = p.getName.startsWith("_") || p.getName.startsWith(".")
      if (!inLog && !hidden && !referenced.contains(rel) &&
          now - mtime >= retentionMs) {
        if (!dryRun) fs.delete(p, false)
        removed += rel
      }
    }
    println(s"METRIC graft.vacuumed_files=${removed.size} " +
      s"dry_run=$dryRun dest=$destPath")
    removed.toSeq.sorted
  }

  override def recover(spark: SparkSession, destPath: String,
      committed: Seq[String] => Boolean,
      minAttemptAgeMs: Long = 0L): Unit = {
    val root = stagingRoot(destPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return
    val now = System.currentTimeMillis()
    val dest = new Path(destPath)
    fs.listStatus(root).filter(_.isDirectory).foreach { st =>
      val attempt = st.getPath
      val writeId = attempt.getName
      val newestMs = (st.getModificationTime +:
        listFilesRec(fs, attempt).map(_._2)).max
      if (minAttemptAgeMs > 0 && now - newestMs < minAttemptAgeMs) {
        println(s"METRIC graft.recover.skipped_inflight=1 " +
          s"write=$writeId age_ms=${now - newestMs}")
      } else manifests(fs, destPath)
          .find(m => writeIdOf(fs, m) == writeId) match {
        case Some(mf) =>
          val (uris, targets, _) = readManifest(fs, mf)
          if (!committed(uris)) {
            // committed to the table but not the ledger: un-publish in ONE
            // atomic op (drop the log entry), then sweep the now-invisible
            // files (incl. any dv sidecar this attempt introduced — no
            // later snapshot can reference it while the attempt pends);
            // replay re-publishes the batch
            val dvRels = dvLinesOf(fs, mf).map(_._2).distinct
            val scRels = {
              val d = mfData(fs, mf)
              (d.bloomScRels ++ d.sidecarRels).distinct
            }
            val rolledV = vOfP(mf)
            fs.delete(mf, false)
            targets.foreach(t => fs.delete(new Path(dest, t), false))
            dvRels.foreach(r => fs.delete(new Path(dest, r), false))
            scRels.foreach(r => fs.delete(new Path(dest, r), false))
            // belt-and-braces: a checkpoint at or above the rolled-back
            // version would resurrect its files (checkpointFs refuses
            // while attempts pend, so this only fires if a checkpoint
            // raced the pending marker) — sweep it
            logListing(fs, destPath)._2.filter(vOfP(_) >= rolledV)
              .foreach(ck => fs.delete(ck, false))
            println(s"METRIC graft.recover.rolled_back=1 " +
              s"write=$writeId files=${targets.length}")
          } else {
            println(s"METRIC graft.recover.rolled_forward=1 write=$writeId")
          }
          fs.delete(attempt, true)
        case None =>
          // crashed before the commit: nothing was ever visible; sweep any
          // files the move phase got to (named by the write-ahead manifest)
          // plus the orphan commit-tmp if the crash hit between its write
          // and the rename
          val wa = new Path(attempt, WaManifest)
          if (fs.exists(wa)) {
            val d = mfData(fs, wa)
            d.targets.foreach(t => fs.delete(new Path(dest, t), false))
            (d.bloomScRels ++ d.sidecarRels).distinct
              .foreach(r => fs.delete(new Path(dest, r), false))
          }
          fs.delete(new Path(logPath(destPath), s".tmp_$writeId"), false)
          fs.delete(attempt, true)
      }
    }
    if (fs.exists(root) && fs.listStatus(root).isEmpty) fs.delete(root, true)
  }

  override def finishCommit(spark: SparkSession, destPath: String,
      writeId: String): Unit = {
    val staging = stagingDir(destPath, writeId)
    val fs = fsOf(spark, staging)
    fs.delete(staging, true)
    val root = staging.getParent
    if (fs.exists(root) && fs.listStatus(root).isEmpty)
      fs.delete(root, true)
    // the append is now ledger-final — the safe point for the append
    // path's auto-checkpoint cadence
    maybeCheckpoint(fs, destPath,
      manifests(fs, destPath).map(vOfP).maxOption.getOrElse(-1L))
  }
}
