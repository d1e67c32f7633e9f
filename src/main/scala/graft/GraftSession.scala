package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for the graft engine.
  *
  * These are the settings the operators are designed against; all are
  * standard Spark knobs (no custom extensions required — the SQL function
  * surface is optional via [[graft.plans.GraftFunctions.register]]).
  */
object GraftSession {

  /** Apply graft-recommended configs to a builder.
    *
    * @param shufflePartitions baseline shuffle width — size to ~2-3x total
    *   executor cores; AQE coalesces down, so err high at scale
    */
  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC") // reference contract
      // AQE: runtime re-planning, partition coalescing, skew-join splits —
      // the band/bucket self-joins rely on the skew handling
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // scans: 128MB split targets keep partitions executor-memory-sized
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      // local-fs chmod without a process fork: absent libhadoop,
      // RawLocalFileSystem.setPermission shells out to `chmod` per
      // created file/dir, which dominates wide dynamic-partition
      // writes (~12 ms/file measured). Pure-JVM override, identical
      // semantics; a no-op on cluster filesystems (see
      // [[graft.ingest.NioLocalFileSystem]])
      .config("spark.hadoop.fs.file.impl",
        "graft.ingest.NioLocalFileSystem")
      .config("spark.sql.parquet.filterPushdown", "true")
      // file listing: above this many input paths Spark runs a CLUSTER
      // JOB just to list them (default 32 — tuned for slow object
      // stores). Table reads (readBack, format("graft")) list nothing —
      // their index is built from the manifest log — but the engine's
      // internal maintenance reads (readFilesDv: DML rewrites, merges,
      // optimize, change feeds) still pass explicit file lists,
      // routinely 100s of paths on a local/HDFS-class fs where a driver
      // listing is ~µs/path; a listing job costs a full scheduling
      // round-trip per read at commit cadence. 1024 keeps the
      // distributed listing for genuinely huge tables; tune down for
      // high-latency object stores (SPARK_GRAFT_LIST_JOB_THRESHOLD)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_JOB_THRESHOLD", "1024"))
      // legacy testdata generations carry parquet TIMESTAMP(NANOS); the
      // conf is a no-op for non-nanos files and SparkEntry.events
      // schema-dispatches either way. Part of session CONSTRUCTION so
      // cached-relation canonicalization never shifts mid-session
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft SQL surface: functions + the DML router (DELETE/UPDATE/
      // MERGE on manifest tables) — analyzer rules only inject at
      // session build, so they belong in the builder
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  /** Build + register the graft SQL functions. */
  def create(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    graft.plans.GraftFunctions.register(spark)
    spark
  }
}
