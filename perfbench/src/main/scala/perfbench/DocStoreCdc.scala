package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.sources.DocStore
import graft.streaming.Streams

/** `docstore_cdc`: selective writes beside reads on the copy-on-write
  * document store.
  *
  * Set-up inserts a seeded corpus, clusters it on `doc_id` (which also
  * stats it) and seeds two derived views: a per-`lang` aggregate and a
  * near-duplicate index. Each timed round is six steps, each commit kind
  * twice (a key-range `updateMany`, a key-range `deleteMany`, an
  * `insertMany` batch), each followed by a few key-range lookups; an
  * insert step also runs `maintain`, whose cost is charged to that commit,
  * and the round ends with one refresh of both views. A commit touches
  * one or two of the corpus's files, so copy-on-write cost, not corpus
  * size, is measured.
  */
/** One corpus document, as stored. */
final case class CorpusDoc(doc_id: Long, lang: String, n_chars: Long, text: String) {
  /** Logical size: two 8-byte longs plus the strings' bytes. */
  def bytes: Long = 16L + lang.length + text.length
}

final class DocStoreCdc(spark: SparkSession, trace: Trace, checks: Checks, seed: Long,
                        root: String, jvm: JvmCounters) {
  import spark.implicits._

  private val CorpusDocs = 5000
  private val Files = 8
  /** Below the clustered files' size, so maintenance merges only the
    * insert tail and keeps the clustered layout.
    */
  private val SmallFileBytes = 100L << 10
  /** Commits per round: each kind twice, so the median commit is the mean
    * of two samples rather than one.
    */
  private val StepsPerRound = 6
  /** Generations each mutation keeps: the views poll once per round, after
    * up to twelve commits (six mutations; a tail merge, recluster and
    * vacuum per maintenance), and a poll needs its cursor's generation
    * still retained.
    */
  private val Retain = 12
  private val UpdateWidth = 50
  private val DeleteWidth = 30
  private val InsertBatch = 100
  private val LookupWidth = 200
  private val Lookups = 3
  private val TracedRounds = 1
  private val MaxRounds = 40

  private val store = s"$root/store"
  private val aggView = s"$root/by_lang"
  private val ndIndex = s"$root/neardup"

  private val rnd = new scala.util.Random(seed)
  private val langs = Seq("en", "es", "pt", "fr", "de", "it")
  private lazy val vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "tu", "re", "sa", "no", "vi", "de", "pe", "ra", "xo")
    (0 until 3000).map(_ => Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString)
  }
  private def text(): String = Seq.fill(30 + rnd.nextInt(50))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  private var nextId = 0L
  /** A fresh document; one in ten copies an earlier one with a word
    * changed, so the near-duplicate index has matches to keep.
    */
  private def doc(earlier: collection.IndexedSeq[CorpusDoc]): CorpusDoc = {
    val t = if (earlier.nonEmpty && rnd.nextInt(10) == 0) {
      val w = earlier(rnd.nextInt(earlier.size)).text.split(" ")
      w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size))
      w.mkString(" ")
    } else text()
    nextId += 1
    CorpusDoc(nextId - 1, langs(rnd.nextInt(langs.size)), t.length, t)
  }

  private sealed trait Commit
  private final case class Update(lo: Long, suffix: String) extends Commit
  private final case class Delete(lo: Long) extends Commit
  private final case class Insert(docs: Seq[CorpusDoc]) extends Commit

  /** The seeded corpus and a schedule of commits and lookups long enough
    * for any run; later steps of the schedule are simply not reached.
    */
  private lazy val corpus: IndexedSeq[CorpusDoc] = {
    val b = mutable.ArrayBuffer.empty[CorpusDoc]
    (0 until CorpusDocs).foreach(_ => b += doc(b))
    b.toIndexedSeq
  }
  private lazy val schedule: IndexedSeq[(Commit, Seq[Long])] = (0 until StepsPerRound * MaxRounds).map { i =>
    def key(width: Int) = rnd.nextInt(CorpusDocs - width).toLong
    val c = i % 3 match {
      case 0 => Update(key(UpdateWidth), vocab(rnd.nextInt(vocab.size)))
      case 1 => Delete(key(DeleteWidth))
      case _ => Insert(Seq.fill(InsertBatch)(doc(corpus)))
    }
    (c, Seq.fill(Lookups)(rnd.nextInt(CorpusDocs - LookupWidth).toLong))
  }

  /** The store's expected contents. */
  private val model = mutable.LongMap.empty[CorpusDoc]

  private def df(docs: Seq[CorpusDoc]): DataFrame = docs.toDF()

  private def inRange(lo: Long, width: Int): Seq[CorpusDoc] =
    (lo until lo + width).flatMap(model.get)

  private def range(lo: Long, width: Int) = col("doc_id").between(lo, lo + width - 1)

  /** Applies one commit to the store; returns (matched rows, bytes of the
    * rows it changed) after checking the matched count against the model.
    */
  private def commit(c: Commit): (Long, Long) = c match {
    case Update(lo, suffix) =>
      val hit = inRange(lo, UpdateWidth)
      val n = DocStore.updateMany(spark, store, range(lo, UpdateWidth), Map(
        "text" -> concat(col("text"), lit(" " + suffix)),
        "n_chars" -> (col("n_chars") + (suffix.length + 1))), retain = Retain)
      checks.check(n == hit.size, s"docstore_cdc: update matched $n, model ${hit.size}")
      val after = hit.map(d => d.copy(text = d.text + " " + suffix, n_chars = d.n_chars + suffix.length + 1))
      after.foreach(d => model(d.doc_id) = d)
      (n, after.map(_.bytes).sum)
    case Delete(lo) =>
      val hit = inRange(lo, DeleteWidth)
      val n = DocStore.deleteMany(spark, store, Some(range(lo, DeleteWidth)), retain = Retain)
      checks.check(n == hit.size, s"docstore_cdc: delete matched $n, model ${hit.size}")
      hit.foreach(d => model -= d.doc_id)
      (n, hit.map(_.bytes).sum)
    case Insert(docs) =>
      val n = DocStore.insertMany(df(docs), store)
      checks.check(n == docs.size, s"docstore_cdc: insert wrote $n, expected ${docs.size}")
      docs.foreach(d => model(d.doc_id) = d)
      (n, docs.map(_.bytes).sum)
  }

  private def refreshViews(): Unit = {
    trace.span("sync_aggregate", "docstore") {
      DocStore.syncAggregate(spark, store, aggView, "doc_id", "lang", Seq("n_chars"))
    }
    trace.span("sync_neardup", "streaming") {
      Streams.syncNearDupIndex(spark, store, ndIndex).count()
    }
  }

  private def viewAgrees(): Boolean = {
    def rows(d: DataFrame) = d.select(col("lang"), col("cnt").cast("long"),
      col("sum_n_chars").cast("long")).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val direct = DocStore.find(spark, store).groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_n_chars"))
    val (view, want) = (rows(DocStore.find(spark, aggView)), rows(direct))
    checks.check(view == want, s"docstore_cdc: aggregate view $view != groupBy over find $want")
  }

  /** (data files, bytes) each committed generation holds on disk. */
  private def generations(): Map[Int, (Long, Long)] =
    DocStore.history(spark, store).select("generation", "data_files", "physical_bytes")
      .collect().map(r => r.getInt(0) -> (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)).toMap

  private def scannedFiles(d: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(d.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  def run(seconds: Double): Report = {
    val s0 = System.nanoTime()
    schedule // generates the corpus too
    DocStore.insertMany(df(corpus), store)
    DocStore.cluster(spark, store, col("doc_id"), Files, Seq("doc_id"))
    corpus.foreach(d => model(d.doc_id) = d)
    refreshViews()
    viewAgrees()
    val setupS = (System.nanoTime() - s0) / 1e9

    val commits, syncs, lookups = mutable.ArrayBuffer.empty[Double]
    var rows, written, writtenFiles, changedBytes, scanned = 0L
    jvm.start()
    val t0 = System.nanoTime()
    var round = 0
    def more = if (trace.enabled) round < TracedRounds
      else round == 0 || (round < MaxRounds && (System.nanoTime() - t0) / 1e9 < seconds)
    while (more) {
      for (step <- StepsPerRound * round until StepsPerRound * (round + 1)) {
        val (c, keys) = schedule(step)
        val before = generations()
        checks.op(trace.span("op:commit", "docstore") { commit(c) }) { case (n, bytes) =>
          rows += n
          changedBytes += bytes
          true
        }.map { secs =>
          if (!c.isInstanceOf[Insert]) secs
          else secs + checks.op(trace.span("op:maintain", "docstore") {
            DocStore.maintain(spark, store, keyCol = Some("doc_id"),
              maxDataFiles = Files + 2, smallBytes = SmallFileBytes, retain = Retain)
          })(_ => true).getOrElse(0.0)
        }.foreach(commits += _)
        for ((g, (files, bytes)) <- generations()) {
          val (f0, b0) = before.getOrElse(g, (0L, 0L))
          writtenFiles += math.max(0L, files - f0)
          written += math.max(0L, bytes - b0)
        }
        checks.check(DocStore.countFast(spark, store) == model.size,
          s"docstore_cdc: countFast after step $step != model ${model.size}")

        for (lo <- keys)
          checks.op(trace.span("op:lookup", "docstore") {
            val q = DocStore.find(spark, store, Some(range(lo, LookupWidth))).select("doc_id")
            (q, q.collect().map(_.getLong(0)).toSet)
          }) { case (q, ids) =>
            if (trace.enabled) scanned += scannedFiles(q)
            val want = inRange(lo, LookupWidth).map(_.doc_id).toSet
            checks.check(ids == want, s"docstore_cdc: lookup at $lo found ${ids.size}, model ${want.size}")
          }.foreach(lookups += _)
      }

      checks.op(trace.span("op:refresh", "docstore")(refreshViews()))(_ => viewAgrees())
        .foreach(syncs += _)
      round += 1
    }
    jvm.stop()

    val problems = DocStore.fsck(spark, store, Retain).collect()
    checks.check(problems.isEmpty, s"docstore_cdc: fsck reports ${problems.mkString("; ")}")
    val fresh = s"$root/compacted"
    DocStore.find(spark, store).write.parquet(fresh)
    val spaceAmp = DirBytes(new java.io.File(store)).toDouble / DirBytes(new java.io.File(fresh))
    val writeAmp = written.toDouble / changedBytes

    def refreshSeconds(name: String) = trace.spans
      .filter(s => s.name == name && trace.within(s.parent, _.name == "op:refresh"))
      .map(_.seconds).sum
    val layers =
      if (!trace.enabled) Map.empty[String, Double]
      else {
        val n = commits.size.toDouble
        val commitJobs = trace.jobsWithin(_.name == "op:commit")
        Map(
          "docstore.jobs_per_commit" -> commitJobs.size / n,
          "docstore.tasks_per_commit" -> commitJobs.map(_.tasks).sum / n,
          "docstore.bytes_rewritten_per_commit" -> written / n,
          "docstore.files_rewritten_per_commit" -> writtenFiles / n,
          "docstore.lookup_files_scanned" -> scanned.toDouble / lookups.size,
          "docstore.maintain_s" -> trace.spans.filter(_.name == "op:maintain").map(_.seconds).sum,
          "docstore.sync_aggregate_s" -> refreshSeconds("sync_aggregate"),
          "streaming.sync_neardup_s" -> refreshSeconds("sync_neardup"),
          "docstore.write_amp" -> writeAmp,
          "docstore.space_amp" -> spaceAmp)
      }
    Report(setupS, commits.toSeq, rows,
      Seq(("commit_p50_s", Stats.median(commits.toSeq), "s"),
        ("commit_ptail_s", Stats.max(commits.toSeq), "s"),
        ("sync_p50_s", Stats.median(syncs.toSeq), "s"),
        ("lookup_p50_s", Stats.median(lookups.toSeq), "s"),
        ("write_amp", writeAmp, "ratio"),
        ("space_amp", spaceAmp, "ratio")),
      layers)
  }
}
