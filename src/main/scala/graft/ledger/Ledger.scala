package graft.ledger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest ledger: `<table>_imported(imported_at timestamp, uri string)` —
  * one row per loaded file URI, queried before each load and appended after
  * (reference index.js:71–73; BucketToBigQuery.js:384–397).
  *
  * This is the reference's core relational idea: at-least-once notifications
  * become effectively-once *per file* because candidates are anti-joined
  * against the ledger before loading (readme.md:34). We keep the surface but
  * fix the reference's ST5 quirk (ledger written before load completion,
  * BucketToBigQuery.js:361–365): callers append to the ledger only AFTER the
  * destination write action returns.
  *
  * Scale posture: the ledger is a plain parquet table, one file per
  * loaded batch. Planning never joins against it: [[filterNew]] scans
  * only its `uri` column with the candidate set pushed into the scan as
  * an `InSet` filter (parquet skips row groups whose min/max cannot hold
  * a candidate) and collects the matches — no shuffle, and the collected
  * rows are bounded by the candidates that were already imported, not
  * by the ledger's size. Duplicate ledger rows (non-transactional
  * appends) only repeat a match, so the answer is the reference's
  * `SELECT DISTINCT uri … WHERE uri IN (…)` (BucketToBigQuery.js:386).
  * [[newFiles]] keeps the relational anti-join for frame-shaped
  * callers; it carries NO broadcast hint (a LEFT ANTI join can only
  * broadcast the ever-growing ledger side), so size stats + AQE decide.
  */
object Ledger {

  val schema: StructType = StructType(Seq(
    StructField("imported_at", TimestampType, nullable = false),
    StructField("uri", StringType, nullable = false)))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read the ledger (empty DataFrame with the right schema if absent). */
  def read(spark: SparkSession, ledgerPath: String): DataFrame =
    if (exists(spark, ledgerPath)) spark.read.schema(schema).parquet(ledgerPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Distinct URIs already imported (reference's ledger query,
    * BucketToBigQuery.js:384–388, sans the IN-list — [[filterNew]]
    * pushes that into the scan instead of building SQL strings).
    */
  def importedUris(spark: SparkSession, ledgerPath: String): DataFrame =
    read(spark, ledgerPath).select("uri").distinct()

  /** The anti-join (J1): candidate URIs minus already-imported URIs.
    * `candidates` is a single-column `uri` DataFrame. Deliberately no
    * broadcast hint — see the scale-posture note above.
    */
  def newFiles(candidates: DataFrame, ledger: DataFrame): DataFrame =
    candidates.join(ledger.select("uri").distinct(), Seq("uri"), "left_anti")

  /** Which of these file URIs are new, in caller order (duplicates
    * kept, like [[newFiles]]): one scan of the ledger's `uri` column
    * with the distinct candidates pushed down as an `InSet` filter, the
    * already-imported matches collected to the driver.
    */
  def filterNew(
      spark: SparkSession, ledgerPath: String,
      candidates: Seq[String]): Seq[String] = {
    if (candidates.isEmpty) return Nil
    if (!exists(spark, ledgerPath)) return candidates
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.unsafe.types.UTF8String
    val uri = col("uri")
    val probe = InSet(Bridge.expression(uri),
      candidates.distinct.map(UTF8String.fromString).toSet[Any])
    val imported = read(spark, ledgerPath).select(uri)
      .where(Bridge.column(probe))
      .collect().map(_.getString(0)).toSet
    candidates.filterNot(imported)
  }

  /** Append one row per loaded URI, stamped now, as one file (S5,
    * BucketToBigQuery.js:390–397). Call only after the destination write
    * succeeds.
    */
  def markImported(
      spark: SparkSession, ledgerPath: String, uris: Seq[String]): Unit = {
    if (uris.isEmpty) return
    import spark.implicits._
    uris.toDF("uri")
      .select(current_timestamp().as("imported_at"), col("uri"))
      .coalesce(1) // one ledger file per batch
      .write.mode("append").parquet(ledgerPath)
  }
}
