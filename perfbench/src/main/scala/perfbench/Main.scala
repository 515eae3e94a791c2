package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one workload run hands back.
  *
  * @param setupS  set-up after session start: input generation, initial
  *                load and warm-up
  * @param ops     seconds per timed operation (a day, a commit)
  * @param rows    rows the timed operations staged or changed
  * @param named   the workload's own end-to-end figures: (name, value, unit)
  * @param layers  per-layer figures this workload measures (traced runs)
  */
final case class Report(setupS: Double, ops: Seq[Double], rows: Long,
                        named: Seq[(String, Double, String)],
                        layers: Map[String, Double])

/** Correctness checks and failed operations of one run. A failure is
  * printed at once and never dropped: it fails the run and counts in
  * `failed`.
  */
final class Checks {
  var attempted = 0
  var failed = 0
  /** Seconds spent inside operations: the timed loop minus its checks. */
  var busyS = 0.0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failures += what
      System.err.println(s"[perfbench] CHECK FAILED: $what")
    }
    ok
  }

  /** Runs one timed operation; returns its seconds, or None when it
    * raised or `verify` found its result wrong (either way it is failed).
    */
  def op[T](body: => T)(verify: T => Boolean): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    busyS += secs
    val ok = res match {
      case Right(v) => verify(v)
      case Left(e) => check(ok = false, s"operation raised: $e")
    }
    if (ok) Some(secs) else { failed += 1; None }
  }
}

/** Sample statistics; NaN without samples, which fails the run. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def max(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.max
}

/** The per-layer metric names, in the order `BENCHMARK.json` lists them.
  * Every traced run prints all of them; a layer the workload bypasses
  * reads 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "rest.extract_s" -> "s",
    "rest.pages_fetched" -> "count",
    "pipelines.sales_transform_s" -> "s",
    "sinks.staged_sync_s" -> "s",
    "sinks.jobs_per_load" -> "count",
    "sinks.bytes_written_per_staged_byte" -> "ratio",
    "sinks.audit_s" -> "s",
    "docstore.jobs_per_commit" -> "count",
    "docstore.tasks_per_commit" -> "count",
    "docstore.bytes_rewritten_per_commit" -> "bytes",
    "docstore.files_rewritten_per_commit" -> "count",
    "docstore.lookup_files_scanned" -> "count",
    "docstore.maintain_s" -> "s",
    "docstore.sync_aggregate_s" -> "s",
    "docstore.write_amp" -> "ratio",
    "docstore.space_amp" -> "ratio",
    "streaming.sync_neardup_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_util" -> "ratio",
    "spark.plan_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.bytes_written" -> "bytes",
    "spark.executor_run_s" -> "s",
    "core.session_s" -> "s",
    "jvm.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB") ++
    Seq("runner", "rest", "sinks", "docstore", "streaming")
      .map(l => s"self.${l}_s" -> "s") :+
    ("trace.op_p50_s" -> "s")
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload daily_etl|docstore_cdc --seed N --seconds S
  *   --trace 0|1 --root DIR --trace-out FILE
  * }}}
  * `perfbench/run.py` builds the classpath, gives each run a fresh `--root`
  * and calls this; the last stdout line is the result object.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val root = arg("root")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", sys.error("SPARK_GRAFT_CPUS must be set"))

    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(cpus = cpus, appName = s"perfbench-$workload")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-seed$seed-trace${arg("trace")}-${ProcessHandle.current().pid()}"
    val trace = new Trace(spark, traced, runId)
    val checks = new Checks
    System.err.println(s"[perfbench] $runId cpus=$cpus heap_max_mb=" +
      s"${Runtime.getRuntime.maxMemory >> 20} root=$root")

    val jvm = new JvmCounters
    val report = try workload match {
      case "daily_etl" => new DailyEtl(spark, trace, checks, seed, root, jvm).run(seconds)
      case "docstore_cdc" => new DocStoreCdc(spark, trace, checks, seed, root, jvm).run(seconds)
      case other => sys.error(s"unknown workload '$other'")
    } finally trace.write(java.nio.file.Paths.get(arg("trace-out")))

    val opP50 = Stats.median(report.ops)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", sessionS + report.setupS, "s"),
        ("op_p50_s", opP50, "s"),
        ("op_max_s", Stats.max(report.ops), "s"),
        ("rows_per_s", report.rows / checks.busyS, "rows/s"))
      else {
        val measured = sparkTotals(trace, checks.busyS, cpus.toInt) ++ report.layers ++ Map(
          "core.session_s" -> sessionS,
          "jvm.gc_s" -> jvm.gcS,
          "jvm.heap_peak_mb" -> jvm.heapPeakMb,
          "trace.op_p50_s" -> opP50) ++
          trace.selfSeconds(_.name.startsWith("op:")).map { case (l, s) => s"self.${l}_s" -> s }
        Layers.units.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }
      }

    val errorRate = if (checks.attempted == 0) 1.0 else checks.failed.toDouble / checks.attempted
    (report.named :+ (("error_rate", errorRate, "ratio")) :+
      (("ops", report.ops.size.toDouble, "count"))).foreach { case (n, v, u) =>
      println(s"[perfbench] $workload $n = $v $u")
    }
    val correct = checks.failures.isEmpty && checks.attempted > 0 &&
      metrics.forall { case (_, v, _) => !v.isNaN && !v.isInfinite }
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${checks.attempted}, """ +
      s""""failed": ${checks.failed}, "metrics": {$body}}""")
    spark.stop()
    System.err.println(f"[perfbench] wall: session $sessionS%.1f s, setup ${report.setupS}%.1f s, " +
      f"in operations ${checks.busyS}%.1f s, total ${(System.nanoTime() - t0) / 1e9}%.1f s; " +
      report.ops.map(o => f"$o%.3f").mkString("op seconds: ", " ", ""))
    if (!correct) sys.exit(1)
  }

  /** Spark totals over the jobs and query plans of the timed operations. */
  private def sparkTotals(trace: Trace, busyS: Double, cpus: Int): Map[String, Double] = {
    val timed = trace.jobsWithin(_.name.startsWith("op:"))
    val ops = trace.spans.filter(_.name.startsWith("op:"))
    val planMs = trace.plans.asScala.collect { case (start, ms)
      if ops.exists(s => start >= s.startMs && start <= s.endMs) => ms }.sum
    val runS = timed.map(_.runMs).sum / 1e3
    Map(
      "spark.jobs" -> timed.size.toDouble,
      "spark.stages" -> timed.map(_.stages).sum.toDouble,
      "spark.tasks" -> timed.map(_.tasks).sum.toDouble,
      "spark.task_util" -> runS / (busyS * cpus),
      "spark.plan_s" -> planMs / 1e3,
      "spark.shuffle_read_bytes" -> timed.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> timed.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> timed.map(_.spill).sum.toDouble,
      "spark.bytes_written" -> timed.map(_.bytesWritten).sum.toDouble,
      "spark.executor_run_s" -> runS)
  }
}

/** Bytes on disk under `f`: every file, checksums and sidecars included. */
object DirBytes {
  def apply(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles.map(apply).sum else f.length
}

/** The JVM's garbage-collection time and heap peak over the timed loop
  * (in local mode the executors share this JVM).
  */
final class JvmCounters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  var gcS = 0.0
  var heapPeakMb = 0.0

  def start(): Unit = {
    heap.foreach(_.resetPeakUsage())
    gc0 = gcs.map(_.getCollectionTime).sum
  }

  def stop(): Unit = {
    gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    heapPeakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
}
