package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ingest.{Ingest, ManifestSink, NotificationIngest}
import graft.ledger.Ledger
import graft.model.Manifest
import graft.views.Views

/** `ingest_drip`: the reference's own traffic. Each operation is one
  * notification batch: plan it, execute the plan into a manifest table,
  * then read the `_ordered` view limited to the batch's newest day.
  */
final class IngestDrip(spark: SparkSession, tracer: Tracer, inDir: String,
    workDir: String) extends Workload {
  import spark.implicits._

  private val task = Manifest.parse(read(s"$inDir/manifest.json")).tasks.head
  private val batches: IndexedSeq[(String, String)] =
    lines(s"$inDir/batches.tsv").map { l =>
      val Array(b, day) = l.split("\t"); (b, day)
    }.toIndexedSeq
  private val warmBatches: IndexedSeq[(String, String)] =
    lines(s"$inDir/warm_batches.tsv").map { l =>
      val Array(b, day) = l.split("\t"); (b, day)
    }.toIndexedSeq
  private val wh = s"$workDir/wh"
  private def dest(root: String) = s"$root/${task.dataset}/${task.table}"
  private def ledgerPath(root: String) =
    s"$root/${task.dataset}/${task.ledgerTable}"
  private var lastSchema: Seq[String] = Nil

  private def read(p: String): String = {
    val s = Source.fromFile(p, "UTF-8")
    try s.mkString finally s.close()
  }
  private def lines(p: String): Seq[String] =
    read(p).split("\n").toSeq.filter(_.nonEmpty)

  private def notifications(file: String) =
    lines(file).map { l =>
      val Array(et, data, seq) = l.split("\t")
      (et, data, seq.toLong)
    }.toDF("eventType", "data", "seq")

  /** One batch: plan, execute, read the view's newest day. */
  private def batch(root: String, notifFile: String, day: String,
      traced: Boolean): Map[String, Any] = {
    val notifs = notifications(notifFile)
    val t0 = System.nanoTime()
    val plan = tracer.span("NotificationIngest.planNotified", "ingest") {
      NotificationIngest.planNotified(spark, task, notifs, root,
        orderCols = Seq(col("seq")), scheme = "file://")
    }
    val t1 = System.nanoTime()
    val before = if (traced) Fs.snapshot(s"$root/${task.dataset}") else null
    val t2 = System.nanoTime()
    val res = tracer.span("Ingest.executePlan", "ingest") {
      Ingest.executePlan(spark, plan, ManifestSink)
    }
    val t3 = System.nanoTime()
    val fsFields: Map[String, Any] =
      if (!traced) Map.empty
      else {
        val after = Fs.snapshot(s"$root/${task.dataset}")
        val added = Fs.added(before, after).filter(f => !Fs.isCrc(f._1))
        val ledgerDir = ledgerPath(root) + "/"
        val (ledgerNew, tableNew) = added.partition(_._1.startsWith(ledgerDir))
        val (logNew, dataNew) = tableNew.partition(f => Fs.isLog(f._1))
        Map("log_bytes" -> logNew.values.sum, "log_files" -> logNew.size,
          "data_bytes" -> dataNew.values.sum, "data_files" -> dataNew.size,
          "ledger_bytes" -> ledgerNew.values.sum,
          "ledger_files_total" -> after.keys.count(k =>
            k.startsWith(ledgerDir) && k.endsWith(".parquet")))
      }
    val t4 = System.nanoTime()
    val viewRows = tracer.span("Views.localTimeOrdered", "views") {
      Views.localTimeOrdered(ManifestSink.readBack(spark, res.destPath)
        .where(col(task.timePartitioningField.getOrElse("timestamp")) >=
          to_timestamp(lit(day))))
        .collect()
    }
    val t5 = System.nanoTime()
    lastSchema = res.schema.fieldNames.toSeq
    Map("plan_s" -> (t1 - t0) / 1e9, "execute_s" -> (t3 - t2) / 1e9,
      "view_s" -> (t5 - t4) / 1e9,
      "call_s" -> ((t1 - t0) + (t3 - t2) + (t5 - t4)) / 1e9,
      "files" -> res.loadedFiles, "view_rows" -> viewRows.length,
      "view_local_ms_sum" -> viewRows.map(_.getTimestamp(0).getTime).sum,
      "width" -> res.schema.size, "table_rows" -> res.rows) ++ fsFields
  }

  override def setup(rep: Int): Unit = {
    deleteRec(new File(wh))
    val warm = s"$workDir/warm$rep"
    deleteRec(new File(warm))
    warmBatches.foreach { case (b, day) =>
      batch(warm, s"$inDir/warm_notif/$b.tsv", day, traced = false)
    }
    deleteRec(new File(warm))
  }

  override def exhausted(i: Long): Boolean = i >= batches.size

  /** Alternate batches, with the parity flipped every 8 batches so the
    * batches that widen the schema (every 8th in the generated inputs)
    * fall on both sides of the tracing-overhead comparison.
    */
  override def tracedOp(i: Long): Boolean = (i + i / 8) % 2 == 1

  override def step(i: Long, traced: Boolean): (String, Map[String, Any]) = {
    val (b, day) = batches(i.toInt)
    ("batch", Map("batch" -> b) ++
      batch(wh, s"$inDir/notif/$b.tsv", day, traced))
  }

  override def finish(outDir: String): Map[String, Any] = {
    val d = dest(wh)
    val cols = lastSchema.map(col)
    ManifestSink.readBack(spark, d).select(cols: _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/final_table")
    Ledger.read(spark, ledgerPath(wh)).select("uri").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/ledger")
    val ledgerFiles = Fs.snapshot(ledgerPath(wh)).keys
      .count(_.endsWith(".parquet"))
    Map("stored_bytes" -> Fs.bytes(wh), "columns" -> lastSchema,
      "ledger_files" -> ledgerFiles)
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }
}
