package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the records the benchmark writes. Values are
  * Strings, Booleans, numbers, Seqs and Maps.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => str(other.toString)
  }

  def writeLines(path: String, rows: Iterable[Map[String, Any]]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try rows.foreach(r => w.println(render(r))) finally w.close()
  }

  def writeObj(path: String, obj: Map[String, Any]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.println(render(obj)) finally w.close()
  }
}

/** Filesystem observer: which files appeared under a directory, and how
  * many bytes they hold. Used around commits to count bytes and files
  * written to the data, `_log` and ledger directories.
  */
object Fs {
  def snapshot(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = snapshot(root).values.sum

  /** Files present in `after` but not in `before`. */
  def added(before: Map[String, Long], after: Map[String, Long])
      : Map[String, Long] = after.filter { case (k, _) => !before.contains(k) }

  def isLog(path: String): Boolean = path.contains("/_log/")
  def isCrc(path: String): Boolean = path.endsWith(".crc")
}

/** One span: a benchmark call into a layer's public function. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, t0Ms: Double, var t1Ms: Double)

/** Spark job accounting attributed to the enclosing span through the
  * `perfbench.span` local property.
  */
final class JobRec(val jobId: Int, val span: Long, val t0Ms: Long,
    val module: String, val stageIds: Seq[Int]) {
  var t1Ms: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
}

/** Records spans around each call into a layer, the Spark jobs each span
  * runs, and the file scans of every SQL execution. Spans stay in memory
  * and are written when the run ends. When tracing is off, `op` and `span`
  * only run their body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  @volatile private var currentOp = -1L

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val byId = new ConcurrentHashMap[Int, JobRec]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val details = e.stageInfos.map(_.details).mkString("\n")
      val j = new JobRec(e.jobId, span, e.time, Tracer.moduleOf(details),
        e.stageIds)
      e.stageIds.foreach(s => stageToJob.put(s, j))
      byId.put(e.jobId, j)
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(byId.remove(e.jobId)).foreach(_.t1Ms = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageToJob.get(e.stageId)
      if (j != null) j.synchronized {
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      // data-file scans apart from the table format's own sidecars
      // (deletion vectors, change data) that a read also scans
      var files, bytes, scans, sideFiles, sideBytes = 0L
      def visit(p: SparkPlan): Unit = foreach(p) {
        case node: FileSourceScanExec =>
          val side = node.relation.location.rootPaths.exists { r =>
            val s = r.toString
            s.contains("/_dv") || s.contains("/_cdf")
          }
          val f = node.metrics.get("numFiles").map(_.value).getOrElse(0L)
          val b = node.metrics.get("filesSize").map(_.value).getOrElse(0L)
          if (side) { sideFiles += f; sideBytes += b }
          else { scans += 1; files += f; bytes += b }
        case _ => ()
      }
      try visit(qe.executedPlan)
      catch { case scala.util.control.NonFatal(_) => () }
      queries.add(Map("op" -> currentOp, "func" -> funcName,
        "scans" -> scans, "files" -> files, "bytes" -> bytes,
        "side_files" -> sideFiles, "side_bytes" -> sideBytes,
        "dur_ms" -> durationNs / 1e6))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** One client operation. A traced operation registers the listeners,
    * records a root span, drains the listener bus before returning and
    * unregisters the listeners again, so untraced operations run exactly
    * as in an untraced run.
    */
  def op[T](opId: Long, kind: String, traced: Boolean)(body: => T): T =
    if (!(enabled && traced)) body
    else {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(queryListener)
      currentOp = opId
      try span(kind, "client", opId)(body)
      finally {
        Bus.drain(sc)
        spark.listenerManager.unregister(queryListener)
        sc.removeSparkListener(jobListener)
        currentOp = -1L
      }
    }

  /** A call into `layer`; a no-op wrapper outside a traced operation. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (stack.isEmpty) body else span(name, layer, stack.head.op)(body)

  private def span[T](name: String, layer: String, opId: Long)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId, parent, opId, name, layer, nowMs, -1.0)
    nextId += 1
    spans += s
    stack = s :: stack
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.t1Ms = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  def write(dir: String): Unit = {
    new File(dir).mkdirs()
    Json.writeLines(s"$dir/spans.jsonl", spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "t0_ms" -> s.t0Ms, "t1_ms" -> s.t1Ms)))
    Json.writeLines(s"$dir/jobs.jsonl", jobs.asScala.toSeq.map(j => Map(
      "job" -> j.jobId, "span" -> j.span, "t0_ms" -> j.t0Ms,
      "t1_ms" -> j.t1Ms, "module" -> j.module, "stages" -> j.stageIds.size,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
      "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
      "input_bytes" -> j.inputBytes)))
    Json.writeLines(s"$dir/queries.jsonl", queries.asScala.toSeq)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** The repo module of the first program frame in a job's recorded call
    * site; "" when no program frame is on it (the job then belongs to the
    * enclosing span's layer).
    */
  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft."))
      .map { l =>
        val cls = l.takeWhile(c => c != '(')
        val parts = cls.split('.')
        if (parts.length < 3) "graft"
        else parts(1) match {
          case "ingest" if cls.startsWith("graft.ingest.ManifestSink") ||
              cls.startsWith("graft.ingest.CommitCoordinator") => "sink"
          case m @ ("ingest" | "ledger" | "schema" | "views" | "sources" |
              "plans" | "operators" | "functions" | "multimodal") => m
          case _ => "graft"
        }
      }.getOrElse("")
}
