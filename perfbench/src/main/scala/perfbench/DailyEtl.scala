package perfbench

import java.time.{DayOfWeek, LocalDate}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.ChangeAction
import graft.pipelines.Sales
import graft.runner.Daily
import graft.sources.rest.{FetcherRegistry, PageFetcher}

/** Serves pre-rendered pages keyed by (date_from, action, company_id,
  * page) and counts calls; a missing key is the empty page that ends a
  * range. Doing no other work keeps the fetcher out of the measurement.
  * In a traced run it marks the stage that fetched as REST work, so the
  * extract is charged to `rest` even inside a job a sink started.
  */
final class PageServer(pages: Map[(String, String, String, Int), Seq[String]], trace: Trace)
    extends PageFetcher {
  val fetched = new AtomicLong
  def fetch(page: Int, pageSize: Int, params: Map[String, String]): Seq[String] = {
    fetched.incrementAndGet()
    Option(TaskContext.get()).foreach(tc => trace.markStage(tc.stageId(), "rest"))
    pages.getOrElse((params("date_from"), params("action"), params("company_id"), page), Nil)
  }
}

/** `daily_etl`: the reference's production path, [[Daily.run]] over
  * consecutive business days into one warehouse directory.
  *
  * An episode is [[Days]] days into a fresh warehouse followed by a replay
  * of the last day; untraced runs repeat episodes until `seconds` have
  * passed, so every sample of day `i` sees the same warehouse size and the
  * median does not drift with how many days fit. A traced run is exactly
  * one episode, so its counts repeat. Each day's `modification` pages
  * re-send a seeded share of the earlier days' sales, which the keyed
  * merge must absorb.
  */
final class DailyEtl(spark: SparkSession, trace: Trace, checks: Checks, seed: Long,
                     root: String, jvm: JvmCounters) {
  private val Days = 2
  /** One company, not Daily.run's default two: see DESIGN.md (run budget). */
  private val Companies = Seq(1)
  private val PageSize = 250 // the REST source's default page size
  private val CreatedPages = 3 // per (day, company)
  private val ModifiedPages = 1
  private val firstDay = LocalDate.of(2025, 3, 4) // a Tuesday: one-day windows
  private val days: Seq[LocalDate] = Iterator.iterate(firstDay)(_.plusDays(1))
    .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY)
    .take(Days).toSeq

  /** An episode: each day once, then the last day again, as a scheduler
    * retry would; (day, days loaded, replays so far).
    */
  private val schedule: Seq[(LocalDate, Int, Int)] =
    days.zipWithIndex.map { case (d, i) => (d, i + 1, 0) } :+ ((days.last, Days, 1))

  /** One rendered episode: the pages, and the distinct keys each table
    * must hold after each day.
    */
  private final case class Inputs(pages: Map[(String, String, String, Int), Seq[String]],
                                  expected: Seq[(Long, Long, Long)])

  // one sales document on the wire (FIXTURES.md section 1.1); a re-sent
  // sale keeps its item and payment ids with new amounts
  private def json(rnd: scala.util.Random, company: Int, day: LocalDate, d: Doc): String = {
    val typ = Seq(1, 3, 8, 6, 11)(rnd.nextInt(5))
    val date = if (rnd.nextBoolean()) s"${day}T${10 + rnd.nextInt(9)}:15:00"
               else f"${day.getDayOfMonth}%02d/${day.getMonthValue}%02d/${day.getYear} 09:30:00"
    val items = d.items.map { id =>
      val (p, q) = (10 + rnd.nextInt(990), 1 + rnd.nextInt(9))
      s"""{"DetailID": $id, "SaleID": ${d.sale}, "ItemID": ${7000 + rnd.nextInt(500)}, """ +
        s""""UnitPrice": $p.0, "UnitQty": $q.0, "UnitDiscount": 0.0, """ +
        s""""UnitSubTotal": ${p * q}.0, "UnitCost": ${p / 2}.5}"""
    }
    val neto = 100 + rnd.nextInt(5000)
    // a duplicated payment entry exercises the keep-first dedup
    val pays = (d.payments ++ (if (rnd.nextInt(10) == 0) d.payments.take(1) else Nil)).map { id =>
      val auth = if (rnd.nextBoolean()) "\"A" + id + "\"" else "null"
      s"""{"PaymentID": $id, "PaymentMethodID": ${1 + rnd.nextInt(4)}, "SaleID": ${d.sale}, """ +
        s""""PaymentAmt": $neto.5, "PaymentsQty": 1, "RechargeAmt": 0.0, """ +
        s""""CCAuthCode": $auth, "MP_PaymentID": "mp-$id", "MP_ExternalReference": "e$id"}"""
    }
    val customer = if (rnd.nextInt(8) == 0) "" else s"C${rnd.nextInt(900)}"
    s"""{"SaleID": ${d.sale}, "InvoiceNumberChr": "000${company}-${d.sale}", """ +
      s""""InvoiceType": $typ, "CompanyID": $company, "StoreID": ${1 + rnd.nextInt(20)}, """ +
      s""""InvoiceDate": "$date", "Neto": $neto.0, "DiscountAmt": 0.0, """ +
      s""""GeneralDiscountAmt": 0.0, "NetoFinal": $neto.0, "IVAAmt": ${neto * 0.21}, """ +
      s""""RechargeAmt": 0.0, "InvoiceTotal": ${neto * 1.21}, "CustomerCode": "$customer", """ +
      s""""SalesOrderNumber": "SO-${d.sale}", "Items": [${items.mkString(", ")}], """ +
      s""""Payments": [${pays.mkString(", ")}]}"""
  }

  private final case class Doc(sale: Long, items: Seq[Long], payments: Seq[Long])

  private def render(): Inputs = {
    val rnd = new scala.util.Random(seed)
    val resendShare = 0.3 + 0.4 * rnd.nextDouble()
    val byCompany = mutable.Map.empty[Int, mutable.ArrayBuffer[Doc]]
    val (sales, details, payments) =
      (mutable.Set.empty[Long], mutable.Set.empty[Long], mutable.Set.empty[Long])
    var nextSale, nextDetail, nextPayment = 1L
    def fresh(): Doc = {
      val items = Seq.fill(1 + rnd.nextInt(5)) { nextDetail += 1; nextDetail }
      val pays = Seq.fill(1 + rnd.nextInt(2)) { nextPayment += 1; nextPayment }
      nextSale += 1
      Doc(nextSale, items, pays)
    }
    val pages = mutable.Map.empty[(String, String, String, Int), Seq[String]]
    val expected = days.map { day =>
      val dateFrom = wire(graft.core.DateWindow.daily(day).from)
      for (company <- Companies) {
        val earlier = byCompany.getOrElseUpdate(company, mutable.ArrayBuffer.empty).toVector
        val created = Seq.fill(CreatedPages * PageSize)(fresh())
        val nResend = math.min(earlier.size, (ModifiedPages * PageSize * resendShare).toInt)
        val modified = rnd.shuffle(earlier).take(nResend) ++
          Seq.fill(ModifiedPages * PageSize - nResend)(fresh())
        for ((action, docs) <- Seq(ChangeAction.Created -> created, ChangeAction.Modified -> modified)) {
          docs.map(json(rnd, company, day, _)).grouped(PageSize).zipWithIndex.foreach {
            case (page, i) => pages((dateFrom, action.param, company.toString, i)) = page
          }
          docs.foreach { d => sales += d.sale; details ++= d.items; payments ++= d.payments }
        }
        byCompany(company) ++= created
      }
      (sales.size.toLong, details.size.toLong, payments.size.toLong)
    }
    Inputs(pages.toMap, expected)
  }

  private def wire(d: LocalDate): String =
    d.format(java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy"))

  private def count(path: String): Long = spark.read.parquet(path).count()

  private val tables = Seq("VENTAS", "VENTAS_DETALLE", "VENTAS_METODO_PAGO")

  /** Loads per day: actions x companies x tables, one audit row each. */
  private val loadsPerDay = 2 * Companies.size * tables.size

  /** Checks one warehouse after `n` days (plus `replays` replayed days). */
  private def verify(dir: String, inputs: Inputs, n: Int, replays: Int): Unit = {
    val (v, d, p) = inputs.expected(n - 1)
    val got = tables.map(t => count(s"$dir/$t"))
    checks.check(got == Seq(v, d, p),
      s"daily_etl: after day $n table counts $got, expected ${Seq(v, d, p)}")
    val audits = count(s"$dir/CotyDataLogs")
    checks.check(audits == loadsPerDay * (n + replays),
      s"daily_etl: $audits audit rows after ${n + replays} runs, expected ${loadsPerDay * (n + replays)}")
  }

  def run(seconds: Double): Report = {
    val s0 = System.nanoTime()
    val inputs = render()
    val server = new PageServer(inputs.pages, trace)
    val fetcher = s"perfbench-daily-$seed"
    FetcherRegistry.register(fetcher, server)
    // warm-up: one untimed day into a throwaway warehouse fills codegen
    // and JIT the way a long-running scheduler would have
    val warm = Daily.run(spark, fetcher, s"$root/warmup", days.head, Companies)
    checks.check(warm.forall(_.result.ok), s"daily_etl warm-up failed: $warm")
    val setupS = (System.nanoTime() - s0) / 1e9

    val dayTimes = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var pagesFetched = 0L
    jvm.start()
    val t0 = System.nanoTime()
    var episode = 0
    while (episode == 0 || (!trace.enabled && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val dir = s"$root/warehouse-$episode"
      for ((day, n, replays) <- schedule) {
        val probed = if (trace.enabled) probe(server, fetcher, day) else -1L
        val f0 = server.fetched.get()
        checks.op(trace.span(s"op:day $day", "runner") {
          Daily.run(spark, fetcher, dir, day, Companies)
        }) { runs =>
          val fetched = server.fetched.get() - f0
          pagesFetched += fetched
          checks.check(probed < 0 || probed == fetched,
            s"daily_etl: the probe fetched $probed pages, the day $fetched; " +
              "its read options no longer match Daily.runSales")
          rows += runs.map(_.result.rows).sum
          checks.check(runs.size == loadsPerDay && runs.forall(_.result.ok),
            s"daily_etl: day $day loads not all ok: ${runs.filterNot(_.result.ok)}")
        }.foreach(dayTimes += _)
        verify(dir, inputs, n, replays)
      }
      episode += 1
    }
    jvm.stop()

    val layers = layerFigures(pagesFetched)
    Report(setupS, dayTimes.toSeq, rows,
      Seq(("day_p50_s", Stats.median(dayTimes.toSeq), "s"),
        ("day_ptail_s", Stats.max(dayTimes.toSeq), "s")) ++
        layers.get("sinks.bytes_written_per_staged_byte").map(w => ("write_amp", w, "ratio")),
      layers)
  }

  // ---- traced-run probes ------------------------------------------------
  //
  // Inside Daily.run the REST read, from_json and the Sales transforms run
  // fused into the jobs the sinks start, so the clean extract and transform
  // times come from probes that re-execute each load's read (with
  // Daily.runSales' request options, copied here) and its transforms,
  // outside the timed day. A probe that fetches a different number of
  // pages than the day fails the run: its options no longer track
  // Daily.runSales. Staged bytes come from writing each transform as the
  // staging write would.

  private var stagedBytes = 0L

  /** Probes one day; returns the pages its extracts fetched. */
  private def probe(server: PageServer, fetcher: String, day: LocalDate): Long = {
    val window = graft.core.DateWindow.daily(day)
    var pages = 0L
    for (action <- Seq(ChangeAction.Created, ChangeAction.Modified); company <- Companies) {
      val raw = spark.read.format("graft.sources.rest.RestTableProvider")
        .option("fetcher", fetcher)
        .option("totalPages", 64).option("pagesPerPartition", 8)
        .option("param.date_from", wire(window.from))
        .option("param.date_to", wire(window.to))
        .option("param.action", action.param)
        .option("param.company_id", company.toString)
        .load()
      val f0 = server.fetched.get()
      trace.span("extract", "rest") { raw.write.format("noop").mode("overwrite").save() }
      pages += server.fetched.get() - f0
      val docs = raw.select(from_json(col("value"), Sales.docSchema).as("d"))
        .select(col("d.*")).cache()
      docs.count()
      val outputs: Seq[DataFrame] = Seq(Sales.transformHeader(docs),
        Sales.transformDetails(docs), Sales.transformPayments(docs))
      trace.span("transform", "pipelines") {
        outputs.foreach(_.write.format("noop").mode("overwrite").save())
      }
      outputs.zipWithIndex.foreach { case (df, i) =>
        val dir = s"$root/probe-staging/$i"
        df.write.mode("overwrite").parquet(dir)
        stagedBytes += DirBytes(new java.io.File(dir))
      }
      docs.unpersist()
    }
    pages
  }

  private def layerFigures(pagesFetched: Long): Map[String, Double] =
    if (!trace.enabled) Map.empty
    else {
      val dayJobs = trace.jobsWithin(_.name.startsWith("op:day"))
      val sinkJobs = dayJobs.filter(j => trace.moduleOf(j) == "sinks")
      val (audit, synced) = sinkJobs.partition(_.frame.contains("Sinks$.audit"))
      // sink time without the stages that scanned the REST relation
      def sinkSeconds(js: Seq[JobRec]) = js.map(trace.split(_).getOrElse("sinks", 0.0)).sum
      val loads = trace.spans.count(_.name.startsWith("op:day")) * loadsPerDay
      val writeAmp = synced.map(_.bytesWritten).sum.toDouble / stagedBytes
      Map(
        "rest.extract_s" -> trace.spans.filter(_.name == "extract").map(_.seconds).sum,
        "rest.pages_fetched" -> pagesFetched.toDouble,
        "pipelines.sales_transform_s" -> trace.spans.filter(_.name == "transform").map(_.seconds).sum,
        "sinks.staged_sync_s" -> sinkSeconds(synced),
        "sinks.jobs_per_load" -> sinkJobs.size.toDouble / loads,
        "sinks.bytes_written_per_staged_byte" -> writeAmp,
        "sinks.audit_s" -> sinkSeconds(audit))
    }
}
