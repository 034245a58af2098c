package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.ingest.{DailyRun, MarketPipeline}
import graft.operators.MarketAnalytics

/** `daily_loop`: one op is one day of the reference's connector loop.
  *
  * `DailyRun.run` lands the day's page strings for every commodity into a
  * CSV raw layer that keeps every earlier day; a same-day rerun must land
  * nothing. Then the day's reads run over the whole raw layer: daily volume
  * per commodity, cumulative monthly volume and the top-5 commodities by
  * revenue, each split into construct (building the frame, including the
  * raw layer's listing and header read), plan and execute (collect).
  */
final class DailyLoop(ctx: Ctx) extends Workload {
  val name = "daily_loop"
  val itemUnit = "pages"
  val roundSeconds = 4.5
  val traceOps = 2

  private val spark = ctx.spark
  private val dir = ctx.work.resolve(name)
  private val raw = dir.resolve("raw").toString
  private val ledgerPath = dir.resolve("ledger").toString

  private var gen: MarketGen = _
  private var inputBytes = 0L
  private var landed: Seq[DailyRun.CommodityResult] = Nil
  private var rerun: Seq[DailyRun.CommodityResult] = Nil
  private var reads: Map[String, Array[Row]] = Map.empty
  private var rawFrame: DataFrame = _

  private def day(i: Int) = i + 1

  def generate(): Unit = {
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    inputBytes = 0L
    gen = new MarketGen(ctx.seed, MarketGen.commodities(DailyLoop.Commodities), wide = false)
    gen.day(0)
  }

  def warm(): Unit = runDay(0)

  override def before(i: Int): Unit = {
    gen.day(day(i))
    System.gc()
  }

  def op(i: Int): Long = {
    runDay(day(i))
    gen.day(day(i)).size.toLong
  }

  private def runDay(d: Int): Unit = {
    val t = ctx.tracer
    val pages = gen.day(d).groupBy(_.commodity).map { case (c, ps) =>
      c -> ps.map(p => p.linkType -> p.html).toMap
    }
    inputBytes += gen.day(d).map(_.html.getBytes("UTF-8").length.toLong).sum
    landed = t.span("ingest.DailyRun.run")(
      DailyRun.run(spark, pages, gen.date(d), raw, ledgerPath))
    rerun = t.span("ingest.rerun")(
      DailyRun.run(spark, pages, gen.date(d), raw, ledgerPath))
    reads = t.span("queries.reads") {
      val frames = t.span("queries.construct") {
        rawFrame = MarketPipeline.readRaw(spark, raw)
        val normalized = MarketPipeline.normalize(MarketPipeline.dropTotalsRows(rawFrame))
        Seq(
          "daily" -> MarketAnalytics.dailyVolumes(normalized),
          "monthly" -> MarketAnalytics.cumulativeMonthlyVolumes(normalized),
          "top5" -> MarketAnalytics.topFiveCommodities(normalized))
      }
      t.span("queries.plan")(frames.foreach(_._2.queryExecution.executedPlan))
      t.span("queries.execute")(frames.map { case (k, df) => k -> df.collect() }.toMap)
    }
  }

  def check(i: Int): Either[String, Unit] = {
    val d = day(i)
    // pages land under the day they were scraped, whatever date they show
    val upTo = (0 to d).flatMap(k => gen.day(k).filter(_.hasTable).map(gen.date(k) -> _))
    if (landed.map(_.commodity) != gen.commodities)
      return Left(s"landed ${landed.map(_.commodity)}, expected all commodities")
    if (rerun.nonEmpty)
      return Left(s"same-day rerun landed ${rerun.map(_.commodity)}")
    // raw keeps every data row plus each table's totals row
    val rawRows = MarketPipeline.readRaw(spark, raw).count()
    val wantRows = upTo.map(_._2.rows.size + 1).sum
    if (rawRows != wantRows)
      return Left(s"raw layer holds $rawRows rows, expected $wantRows")
    val daily = upTo.groupBy { case (date, p) => (p.commodity, date) }.map { case (k, ps) =>
      val rs = ps.flatMap(_._2.rows)
      k -> ((rs.map(_.qty).sum, rs.map(_.value).sum))
    }
    def key(r: Row) = (r.getAs[String]("commodity"), r.getAs[java.sql.Date]("scrape_date").toString)
    val gotDaily = reads("daily").map(r =>
      key(r) -> ((r.getAs[Long]("qty_sold"), BigDecimal(r.getAs[java.math.BigDecimal]("value_sold"))))).toMap
    val cumulative = daily.keys.map { case (c, date) =>
      val month = date.take(7)
      (c, date) -> daily.collect {
        case ((c2, d2), (q, _)) if c2 == c && d2.take(7) == month && d2 <= date => q
      }.sum
    }.toMap
    val gotCum = reads("monthly").map(r => key(r) -> r.getAs[Long]("cum_qty_month")).toMap
    val revenue = upTo.groupBy(_._2.commodity).map { case (c, ps) =>
      c -> ps.flatMap(_._2.rows).map(_.value).sum
    }
    val top5 = revenue.toSeq.sortBy { case (c, v) => (-v, c) }.take(5)
    val gotTop5 = reads("top5").map(r =>
      (r.getAs[String]("commodity"), BigDecimal(r.getAs[java.math.BigDecimal]("revenue")))).toSeq
    for {
      _ <- Oracle.same("daily volumes", gotDaily, daily)
      _ <- Oracle.same("cumulative monthly volumes", gotCum, cumulative)
      _ <- if (gotTop5 == top5) Right(()) else Left(s"top-5 $gotTop5, expected $top5")
    } yield ()
  }

  /** Program sites whose jobs read or write the completion ledger
    * (`DailyRun.run` itself collects the pending commodities).
    */
  private val LedgerSites = Set("MarketPipeline.pending", "MarketPipeline.readLedger",
    "MarketPipeline.recordCompleted", "DailyRun.run")

  def layers(i: Int, id: String, wall: Double): Layers = {
    val t = ctx.tracer
    val jobs = ctx.attribution.jobsOf(id)
    def in(span: String) = jobs.filter(_.span == span)
    val run = in("ingest.DailyRun.run")
    val loop = run ++ in("ingest.rerun")
    val (files, bytes) = Stats.files(new java.io.File(raw),
      keep = _.contains(s"scrape_date=${gen.date(day(i))}"))
    val self = Map(
      "ingest.loop_s" -> (t.seconds(id, "ingest.DailyRun.run") + t.seconds(id, "ingest.rerun")),
      "queries.reads_s" -> t.seconds(id, "queries.reads"))
    Layers(Map(
      "ingest.jobs_per_commodity" -> run.size.toDouble / math.max(1, landed.size),
      "ingest.rerun_jobs" -> in("ingest.rerun").size.toDouble,
      "ingest.ledger_s" -> loop.filter(j => LedgerSites(j.site)).map(_.seconds).sum,
      "ingest.write_s" -> loop.filter(_.site == "MarketPipeline.writeRaw").map(_.seconds).sum,
      "ingest.files_written" -> files.toDouble,
      "ingest.bytes_written" -> bytes.toDouble,
      "sources.files_read" -> 3.0 * rawFrame.inputFiles.length,
      "queries.reads_s" -> t.seconds(id, "queries.reads"),
      "queries.construct_s" -> t.seconds(id, "queries.construct"),
      "queries.plan_s" -> t.seconds(id, "queries.plan"),
      "queries.execute_s" -> t.seconds(id, "queries.execute"),
      "queries.construct_jobs" -> in("queries.construct").size.toDouble,
      "queries.execute_jobs" -> in("queries.execute").size.toDouble,
      "queries.execute_tasks" -> in("queries.execute").map(_.tasks).sum.toDouble),
      self.values.sum)
  }

  override def runLayers(): Map[String, Double] = {
    val (_, stored) = Stats.files(dir.resolve("raw").toFile, all = true)
    val (_, led) = Stats.files(dir.resolve("ledger").toFile, all = true)
    Map("ingest.store_bytes_per_input_byte" -> (stored + led).toDouble / inputBytes)
  }
}

object DailyLoop {
  val Commodities = 3
}
