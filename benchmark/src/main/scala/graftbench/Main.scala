package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the samples and counters a workload
  * records, the output checks it makes, and the traced/untraced split. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val trace: Boolean, val dir: Path, val dataDir: String) {
  val setupS = ArrayBuffer.empty[Double]
  val opsMs = ArrayBuffer.empty[Double]
  val tracedOpsMs = ArrayBuffer.empty[Double]
  var rows = 0L
  var tracedRows = 0L
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  /** Per-layer metrics, filled from the traced phase only. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  lazy val probes = new Probes(spark)

  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** One timed set-up; the result reports the median of all of them. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupS += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Counts `body` as one attempted operation; a throw counts as failed. */
  def attempt(what: String)(body: => Unit): Boolean =
    try { attempted += 1; body; true }
    catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }

  /** Records one completed operation of `ms` that handled `n` rows. */
  def done(ms: Double, n: Long): Unit =
    if (Trace.enabled) { tracedOpsMs += ms; tracedRows += n }
    else { opsMs += ms; rows += n }

  def ops: Int = if (Trace.enabled) tracedOpsMs.size else opsMs.size

  /** Closed loop with one client: calls `op` until `seconds` have passed
    * (when `timed`) and at least `minOps` operations were recorded. */
  def loop(minOps: Int, timed: Boolean)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((timed && (System.nanoTime() - t0) / 1e9 < seconds) || ops < minOps) { op(i); i += 1 }
  }

  /** The untraced measurement, then (traced runs only) exactly `minOps`
    * more operations with spans and Spark listeners on. A fixed count
    * makes the traced counters repeat exactly on a seed. */
  def measure(minOps: Int, timed: Boolean)(op: Int => Unit): Unit = {
    loop(minOps, timed)(op)
    if (trace) {
      Trace.attach(spark.sparkContext)
      probes.install()
      Trace.enabled = true
      try Trace.span("workload", "measure")(loop(minOps, timed = false)(op))
      finally { Trace.enabled = false; probes.uninstall() }
    }
  }
}

/** A workload: set-up (run several times, the last one is kept), the
  * measured operation, and the output checks plus per-layer metrics. */
trait Workload {
  def setupReps: Int
  def setup(run: Run, rep: Int): Unit
  def minOps: Int
  /** False when a run measures exactly `minOps` operations, whatever its `--seconds`. */
  def timed: Boolean = true
  def op(run: Run, i: Int): Unit
  def finish(run: Run): Unit
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "deliver_eo" -> (() => new DeliverEo),
    "deliver_alo" -> (() => new DeliverAlo),
    "analytics_mix" -> (() => new AnalyticsMix))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val make = workloads.getOrElse(name, { System.err.println(s"unknown workload $name"); sys.exit(2) })
    val dir = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(dir)
    val cpus = opts.getOrElse("cpus", "4")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val run = new Run(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", dir, opts("data"))
    val w = make()
    def phase[T](what: String)(body: => T): T = {
      val (r, ms) = timedMs(body)
      System.err.println(f"[graftbench] $what took ${ms / 1000}%.2f s")
      r
    }
    System.err.println(f"[graftbench] session start took $sessionStartS%.2f s")
    try {
      phase("setup")((0 until w.setupReps).foreach(rep => run.setup(w.setup(run, rep))))
      phase("measure")(run.measure(w.minOps, w.timed)(i => w.op(run, i)))
      phase("finish")(w.finish(run))
      if (run.trace) {
        run.layers ++= Kernels.measure()
        run.layers("spark.session_start_s") = sessionStartS
      }
    } catch {
      case NonFatal(e) =>
        run.failed += 1
        run.errors += s"run: ${e.getClass.getSimpleName}: ${e.getMessage}"
        run.check("run completed", ok = false, String.valueOf(e.getMessage))
    }

    if (run.trace) {
      val totals = run.probes.total
      Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_ms",
        "executor_cpu_ms", "gc_ms", "scheduler_delay_ms")
        .foreach(k => run.layers(s"spark.$k") = totals.getOrElse(k, 0.0))
      run.layers("catalyst.plan_ms") = run.probes.planMs.sum.toDouble
      Trace.writeJsonLines(dir.resolve("spans.jsonl"))
    }
    val result = Json.obj(
      "workload" -> name, "seed" -> run.seed, "trace" -> run.trace,
      "setup_s" -> run.setupS, "ops_ms" -> run.opsMs, "rows" -> run.rows,
      "traced_ops_ms" -> run.tracedOpsMs, "traced_rows" -> run.tracedRows,
      "attempted" -> run.attempted, "failed" -> run.failed, "errors" -> run.errors,
      "checks" -> run.checks, "layers" -> run.layers, "extra" -> run.extra,
      "peak_rss_mb" -> peakRssMb())
    Files.write(dir.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** VmHWM of this JVM: the peak resident set over the whole run. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  /** Median of a non-empty sample (upper middle for even sizes). */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
