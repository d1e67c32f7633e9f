package perfbench

import java.io.File

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.ManifestSink

/** `lakehouse_dml`: one writer interleaving reads, SQL DML, MERGE, small
  * appends, change-feed reads and maintenance on one manifest table, in
  * the order of a generated schedule.
  *
  * Schedule lines: `idx \t kind \t sql-or-rows-key \t predicate`, with
  * `{t}` standing for the table name.
  */
/** One schedule line. */
final case class LakeOp(key: String, kind: String, arg: String, pred: String)

final class LakehouseDml(spark: SparkSession, tracer: Tracer, inDir: String,
    workDir: String) extends Workload {

  private val StatsCols = Seq("event_id", "ts")
  private val BaseChunks = 8
  /** Optimize packs files below this size; base files stay above it. */
  private val OptimizeTargetBytes = 1L << 20

  private def schedule(file: String): IndexedSeq[LakeOp] = {
    val s = Source.fromFile(file, "UTF-8")
    try s.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      LakeOp(f(0), f(1), f(2), f(3))
    }.toIndexedSeq
    finally s.close()
  }

  private val ops = schedule(s"$inDir/schedule.tsv")
  private val warmOps = schedule(s"$inDir/warm_schedule.tsv")
  private val rowsDf = spark.read.parquet(s"$inDir/rows.parquet")
  private val rowSchema: StructType = rowsDf.drop("op").schema
  private val rowsByKey: Map[String, java.util.List[Row]] =
    rowsDf.collect().groupBy(_.getAs[String]("op")).map { case (k, rs) =>
      k -> rs.toSeq.map(r => Row.fromSeq(r.toSeq.drop(1))).asJava
    }

  private val table = "lake"
  private val dest = s"$workDir/lake"
  private var lastCdf = 0L

  private def rowsOf(key: String): DataFrame =
    spark.createDataFrame(rowsByKey(key), rowSchema)

  private def logVersions(path: String): (Long, Long) = {
    val files = Option(new File(s"$path/_log").listFiles()).toSeq.flatten
      .map(_.getName)
    def v(n: String) = n.takeWhile(_.isDigit)
    val head = files.filter(_.endsWith(".manifest")).map(v)
      .filter(_.nonEmpty).map(_.toLong).maxOption.getOrElse(-1L)
    val ckpt = files.filter(_.endsWith(".checkpoint")).map(v)
      .filter(_.nonEmpty).map(_.toLong).maxOption.getOrElse(-1L)
    (head, ckpt)
  }

  private def build(path: String, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    deleteRec(new File(path))
    deleteRec(new File(s"$path/../.staging_${new File(path).getName}"))
    val base = spark.read.parquet(s"$inDir/base.parquet")
    val n = base.agg(max("event_id")).head().getLong(0) + 1
    val chunk = (n + BaseChunks - 1) / BaseChunks
    (0 until BaseChunks).foreach { k =>
      ManifestSink.statsAppend(
        base.where(col("event_id") >= k * chunk &&
          col("event_id") < (k + 1) * chunk),
        path, None, StatsCols)
    }
    spark.sql(s"CREATE TABLE $name USING graft LOCATION '$path'")
  }

  /** Run one schedule operation against `name` at `path`. */
  private def run(op: LakeOp, name: String, path: String, traced: Boolean)
      : Map[String, Any] = {
    val sql = op.arg.replace("{t}", name)
    val observe = traced || op.kind == "optimize"
    val before = if (observe) Fs.snapshot(path) else null
    val t0 = System.nanoTime()
    val out: Map[String, Any] = op.kind match {
      case "point_read" | "range_read" | "agg_read" | "sql_delete" |
          "sql_update" | "merge" =>
        if (op.kind == "merge")
          rowsOf(op.key).createOrReplaceTempView("src")
        val (span, layer) =
          if (op.kind.endsWith("_read")) ("spark.sql(SELECT)", "sources")
          else (s"GraftDml.${op.kind}", "plans")
        val rows = tracer.span(span, layer)(spark.sql(sql).collect())
        Map("result" -> rows.map(_.mkString(":")).mkString("|"))
      case "append" =>
        val df = rowsOf(op.key)
        tracer.span("ManifestSink.statsAppend", "sink") {
          ManifestSink.statsAppend(df, path, None, StatsCols)
        }
        Map.empty
      case "cdf_read" =>
        val (head, _) = logVersions(path)
        val counts = tracer.span("ManifestSink.readChangesBetween", "sink") {
          val ch = ManifestSink.readChangesBetween(spark, path, lastCdf)
          if (ch.columns.contains("_change_type"))
            ch.groupBy("_change_type").count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
          else Map.empty[String, Long]
        }
        lastCdf = head
        Map("inserts" -> counts.getOrElse("insert", 0L),
          "deletes" -> counts.getOrElse("delete", 0L))
      case "optimize" =>
        tracer.span("ManifestSink.optimize", "sink") {
          ManifestSink.optimize(spark, path,
            targetBytes = OptimizeTargetBytes, clusterBy = Seq("event_id"))
        }
        Map.empty
      case "checkpoint" =>
        tracer.span("ManifestSink.checkpoint", "sink") {
          ManifestSink.checkpoint(spark, path)
        }
        Map.empty
      case other => sys.error(s"unknown op kind $other")
    }
    val callS = (System.nanoTime() - t0) / 1e9
    val fsFields: Map[String, Any] =
      if (!observe) Map.empty
      else {
        val added = Fs.added(before, Fs.snapshot(path))
          .filter(f => !Fs.isCrc(f._1))
        val (log, data) = added.partition(f => Fs.isLog(f._1))
        val (head, ckpt) = logVersions(path)
        Map("log_bytes" -> log.values.sum, "data_bytes" -> data.values.sum,
          "data_files" -> data.size,
          "versions_since_checkpoint" -> (head - math.max(ckpt, 0L)),
          "live_files_after" -> spark.table(name).inputFiles.length)
      }
    Map("call_s" -> callS) ++ out ++ fsFields
  }

  override def setup(rep: Int): Unit = {
    build(dest, table)
    lastCdf = logVersions(dest)._1
  }

  /** The warm-up cycle of the schedule, on the measured table itself, so
    * the first measured cycle runs warm code on a table of the measured
    * size; the output checks replay it before the measured operations.
    */
  override def warmup(): Unit = {
    warmOps.foreach(op => run(op, table, dest, traced = false))
    lastCdf = logVersions(dest)._1
  }

  override def exhausted(i: Long): Boolean = i >= ops.size

  /** Whole cycles are traced or not, so each operation kind has traced and
    * untraced samples to take the tracing overhead from.
    */
  override def tracedOp(i: Long): Boolean = cycleOf(i) % 2 == 1

  private def cycleOf(i: Long): Long =
    ops.take(i.toInt).count(_.kind == "checkpoint")

  /** Live files before a read, and for a SQL DELETE or UPDATE the bytes of
    * the files that hold matched rows: the floor a DML scan could read.
    */
  override def prepare(i: Long): Map[String, Any] = {
    val op = ops(i.toInt)
    def liveFiles(): Int = spark.table(table).inputFiles.length
    op.kind match {
      case "sql_delete" | "sql_update" =>
        val files = spark.sql(
          s"SELECT DISTINCT input_file_name() FROM $table WHERE " +
            op.pred).collect().map(_.getString(0))
        Map("matched_file_bytes" -> files.map(f =>
          new File(new java.net.URI(f).getPath).length()).sum,
          "live_files" -> liveFiles())
      case "point_read" | "range_read" | "agg_read" =>
        Map("live_files" -> liveFiles())
      case _ => Map.empty
    }
  }

  override def step(i: Long, traced: Boolean): (String, Map[String, Any]) = {
    val op = ops(i.toInt)
    (op.kind, run(op, table, dest, traced))
  }

  override def finish(outDir: String): Map[String, Any] = {
    val out = s"$outDir/final_table"
    ManifestSink.readBack(spark, dest).coalesce(1)
      .write.mode("overwrite").parquet(out)
    val liveBytes = Fs.snapshot(out).filter(_._1.endsWith(".parquet"))
      .values.sum
    Map("stored_bytes" -> Fs.bytes(dest), "live_parquet_bytes" -> liveBytes,
      "live_files" -> spark.table(table).inputFiles.length,
      "base_cdf_version" -> 0L)
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
