package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

/** One operation the closed loop ran: its kind, when it started (seconds
  * since the loop began), how long it took, whether it succeeded and
  * whether it was traced, plus workload-specific fields.
  */
final case class OpRec(idx: Long, kind: String, startS: Double,
    durS: Double, ok: Boolean, traced: Boolean, extra: Map[String, Any])

/** A benchmark workload: set up from the generated inputs, then run one
  * operation per `step` call until the run's quota of operations is done.
  */
trait Workload {
  /** Build fresh state; called several times, the last state is the one
    * measured.
    */
  def setup(rep: Int): Unit

  /** Run the code paths once before measuring, after the last setup. */
  def warmup(): Unit = ()

  /** Run operation `i`; return its kind and workload-specific fields. */
  def step(i: Long, traced: Boolean): (String, Map[String, Any])

  /** Whether operation `i` is run traced in a traced run (the others
    * measure the untraced time the tracing overhead is taken against).
    */
  def tracedOp(i: Long): Boolean = i % 2 == 1

  /** Measurements operation `i` needs taken before it starts (outside its
    * spans, with the listeners off). A traced run takes them before every
    * operation, traced or not, so both kinds start from the same state.
    */
  def prepare(i: Long): Map[String, Any] = Map.empty

  /** Whether the generated inputs are used up before operation `i`. */
  def exhausted(i: Long): Boolean = false

  /** After the loop: write what the output checks read to `outDir` and
    * return the workload's summary fields.
    */
  def finish(outDir: String): Map[String, Any]
}

/** Benchmark entry point. One JVM, one client thread in a closed loop.
  *
  *   perfbench.Main <workload> <seed> <ops> <trace 0|1> <inputDir>
  *     <workDir> <outDir> <cores> <setupReps>
  *
  * Runs exactly `ops` operations (a whole number of the workload's units of
  * work), so every run does the same work however fast the engine is.
  * Writes `result.json`, `ops.jsonl` and, for a traced run, the span, job
  * and query records to `outDir`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, opsS, traceS, inDir, workDir, outDir,
      coresS, repsS) = args
    val quota = opsS.toLong
    val trace = traceS == "1"
    val cores = coresS.toInt
    new File(outDir).mkdirs()
    new File(workDir).mkdirs()

    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(spark, trace)
    val w: Workload = workload match {
      case "ingest_drip" => new IngestDrip(spark, tracer, inDir, workDir)
      case "lakehouse_dml" => new LakehouseDml(spark, tracer, inDir, workDir)
      case "curate_corpus" =>
        new CurateCorpus(spark, tracer, inDir, workDir, outDir)
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = (0 until repsS.toInt).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - warm0) / 1e9

    val gcBefore = gcMillis()
    val ops = mutable.ArrayBuffer[OpRec]()
    val errors = mutable.ArrayBuffer[String]()
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var i = 0L
    var ranOut = false
    while (i < quota && !ranOut) {
      if (w.exhausted(i)) ranOut = true
      else {
        val traced = trace && w.tracedOp(i)
        var s0 = elapsed
        val (kind, extra, ok) =
          try {
            val pre = if (trace) w.prepare(i) else Map.empty[String, Any]
            s0 = elapsed
            val (k, x) = tracer.op(i, "op", traced)(w.step(i, traced))
            (k, pre ++ x, true)
          } catch {
            case scala.util.control.NonFatal(e) =>
              errors += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
                .take(2000)
              ("error", Map.empty[String, Any], false)
          }
        ops += OpRec(i, kind, s0, elapsed - s0, ok, traced, extra)
        i += 1
      }
    }
    val loopS = elapsed
    val gcS = (gcMillis() - gcBefore) / 1e3

    val summary =
      try w.finish(outDir)
      catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"finish: ${e.getClass.getName}: ${e.getMessage}"
            .take(2000)
          Map.empty[String, Any]
      }
    if (trace) tracer.write(outDir)
    Json.writeLines(s"$outDir/ops.jsonl", ops.map(o => Map(
      "idx" -> o.idx, "kind" -> o.kind, "start_s" -> o.startS,
      "dur_s" -> o.durS, "ok" -> o.ok, "traced" -> o.traced) ++ o.extra))
    Json.writeObj(s"$outDir/result.json", Map(
      "workload" -> workload, "seed" -> seedS.toLong, "boot_s" -> bootS,
      "setup_rep_s" -> setupS, "warmup_s" -> warmupS, "loop_s" -> loopS, "gc_s" -> gcS,
      "ran_out" -> ranOut, "peak_rss_mb" -> peakRssMb(),
      "errors" -> errors.toSeq, "summary" -> summary))
    spark.stop()
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Resident-set high-water mark of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
