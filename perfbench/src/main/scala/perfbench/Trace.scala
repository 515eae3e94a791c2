package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call from the benchmark into one engine module. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job. `frame` is the first engine frame of its long call site
  * (`graft.sinks.Sinks$.stagedSync(Sinks.scala:37)`), empty when the job
  * was started outside the engine; it names the job's module and separates
  * e.g. `Sinks.audit` from `Sinks.stagedSync`. `stageSecs` holds the wall
  * seconds of each completed stage.
  */
final class JobRec(val span: Int, val frame: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  val stageSecs = mutable.Map.empty[Int, Double]
  def seconds: Double = (endMs - startMs) / 1e3

  /** The engine module of `frame`: its innermost package (`sinks`,
    * `rest`, `streaming`, ...), except that the document store is its own
    * layer; null outside the engine.
    */
  val module: String =
    if (frame.isEmpty) null
    else {
      val parts = frame.takeWhile(_ != '(').split('.')
      val pkg = parts.takeWhile(p => p.nonEmpty && p.head.isLower)
      if (parts.drop(pkg.length).headOption.exists(_.startsWith("DocStore"))) "docstore"
      else pkg.last
    }
}

/** Spans around the benchmark's calls into the engine, plus a Spark
  * listener and a query-execution listener that attribute jobs, task
  * metrics and planning time to those spans. Everything stays in memory
  * until [[write]].
  *
  * With `enabled = false` a span is just its body and no listener is
  * registered: the end-to-end figures come from such runs, and a traced
  * run's own figures minus them is the tracing overhead.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  /** (wall-clock start ms, planning ms) of every finished query execution. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack = id :: stack
      val (t0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        spans += Span(id, parent, name, layer, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      val frame = e.stageInfos.maxBy(_.stageId).details.linesIterator.map(_.trim)
        .find(_.startsWith("graft.")).getOrElse("")
      val rec = new JobRec(span, frame, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).foreach { j =>
        j.stages += 1
        j.tasks += info.numTasks
        for (t0 <- info.submissionTime; t1 <- info.completionTime)
          j.stageSecs(info.stageId) = (t1 - t0) / 1e3
        val m = info.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum))
    }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerDrain(sc)

  private def byId: Map[Int, Span] = spans.iterator.map(s => s.id -> s).toMap

  /** Span `id` and its ancestors, innermost first. */
  private def chain(ids: Map[Int, Span], id: Int): Iterator[Span] =
    Iterator.iterate(ids.get(id))(_.flatMap(s => ids.get(s.parent)))
      .takeWhile(_.isDefined).flatten

  /** True when span `id` or one of its ancestors satisfies `p`. */
  def within(id: Int, p: Span => Boolean): Boolean = chain(byId, id).exists(p)

  /** Jobs started inside a span that satisfies `p` (or inside its children). */
  def jobsWithin(p: Span => Boolean): Seq[JobRec] = {
    drain()
    val ids = byId
    jobs.values.asScala.toSeq.filter(j => chain(ids, j.span).exists(p))
  }

  /** The engine module a job belongs to: its first engine frame's module
    * when it has one, else the layer of the enclosing span.
    */
  def moduleOf(j: JobRec): String =
    if (j.module != null) j.module
    else byId.get(j.span).map(_.layer).getOrElse("bench")

  private val stageLayers = new ConcurrentHashMap[Int, String]()

  /** Charges stage `id` to `layer` instead of its job's module: a stage
    * that scans a source inside a job the sink started, for example.
    * Callable from task threads.
    */
  def markStage(id: Int, layer: String): Unit = if (enabled) stageLayers.put(id, layer)

  /** Seconds of job `j` per layer: its marked stages to their layers, the
    * rest to its module.
    */
  def split(j: JobRec): Map[String, Double] = {
    val marked = j.stageSecs.toSeq.flatMap { case (id, secs) =>
      Option(stageLayers.get(id)).map(_ -> secs) }
    val own = math.max(0.0, j.seconds - marked.map(_._2).sum)
    (marked :+ (moduleOf(j) -> own)).groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Per-layer self time inside the spans that satisfy `p` and their
    * children, from job attribution ([[split]]); the layers add up to the
    * spans' wall time. A span's time outside its child spans and its jobs
    * (driver-side work: planning, file listing, commit bookkeeping) goes
    * to the span's own layer.
    */
  def selfSeconds(p: Span => Boolean): Map[String, Double] = {
    drain()
    val ids = byId
    val scope = spans.filter(s => chain(ids, s.id).exists(p))
    val jobsOf = jobs.values.asScala.toSeq.groupBy(_.span)
    val childSecs = scope.groupMapReduce(_.parent)(_.seconds)(_ + _)
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (s <- scope) {
      val direct = jobsOf.getOrElse(s.id, Nil)
      // wall time covered by the span's own jobs, overlaps counted once;
      // jobs that ran side by side share it in proportion to their length
      val covered = direct.map(j => (j.startMs, j.endMs)).sorted
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
        }._1 / 1e3
      val share = math.min(1.0, covered / math.max(1e-9, direct.map(_.seconds).sum))
      for (j <- direct; (layer, secs) <- split(j)) acc(layer) += secs * share
      acc(s.layer) += s.seconds - childSecs.getOrElse(s.id, 0.0) - covered
    }
    acc.toMap
  }

  /** Spans and jobs as JSON lines, one object per line. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    drain()
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.sortBy(_.id).map(s =>
      s"""{"run":${q(runId)},"span":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""layer":${q(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""") ++
      jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
        s"""{"run":${q(runId)},"job":$id,"span":${j.span},"module":${q(moduleOf(j))},"frame":${q(j.frame)},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stages},""" +
          s""""tasks":${j.tasks},"run_ms":${j.runMs},"bytes_written":${j.bytesWritten}}"""
      }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
