package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ingest.{DailyRun, MarketPipeline}
import graft.sources.HtmlTable

/** `pages_bulk`: one op is one day of landed page files.
  *
  * The day's pages overwrite a fixed landing directory
  * (`<commodity>/<link type>.html`, as a scraper leaves them), then:
  * `HtmlTable.readPages` → `parsePages` → `pageTableHashes` /
  * `changedPages` against yesterday's hash ledger → `normalizeParsedPages`
  * on the changed pages → `MarketPipeline.writeRaw` (parquet) → today's
  * hash ledger.
  *
  * Layers of the fused parse → normalize → write job are split in the
  * traced run by running its upstream frames into the `noop` sink outside
  * the op's accounting: P = parse, U = parse + gate semi-join,
  * N = U + normalize. The gate job and the write job each parse every page,
  * so parse self time is 2P; gate self is (gate − P) + (U − P); normalize
  * self is N − U; write self is write − N.
  */
final class PagesBulk(ctx: Ctx) extends Workload {
  val name = "pages_bulk"
  val itemUnit = "pages"
  val roundSeconds = 4.0
  val traceOps = 2

  private val spark = ctx.spark
  private val dir = ctx.work.resolve(name)
  private val landing = dir.resolve("pages")
  private val raw = dir.resolve("raw").toString
  private def ledger(d: Int) = dir.resolve("ledger").resolve(s"day=$d").toString

  private var gen: MarketGen = _
  private var inputBytes = 0L
  private var gateKept = 0L
  /** Pages with a table on day `d`: the rows of its hash ledger. */
  private def tablePages(d: Int): Long = spark.read.parquet(ledger(d)).count()

  private def day(i: Int) = i + 1

  private def land(d: Int): Unit = gen.day(d).foreach { p =>
    val f = landing.resolve(p.rel)
    java.nio.file.Files.createDirectories(f.getParent)
    val bytes = p.html.getBytes("UTF-8")
    java.nio.file.Files.write(f, bytes)
    inputBytes += bytes.length
  }

  def generate(): Unit = {
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    inputBytes = 0L
    gen = new MarketGen(ctx.seed, MarketGen.commodities(PagesBulk.Commodities), wide = true)
    land(0)
  }

  /** Day 0 has no ledger to compare against: it lands whole. */
  def warm(): Unit = ingest(0, None)

  override def before(i: Int): Unit = {
    land(day(i))
    System.gc()
  }

  def op(i: Int): Long = {
    ingest(day(i), Some(ledger(day(i) - 1)))
    gen.day(day(i)).size.toLong
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ingest(d: Int, prior: Option[String]): Unit = {
    val t = ctx.tracer
    val pages = t.span("sources.readPages")(
      HtmlTable.readPages(spark, s"$landing/*/*.html"))
    val parsed = HtmlTable.parsePages(pages)
    t.aside("parse")(noop(parsed))
    val hashes = MarketPipeline.pageTableHashes(parsed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val changed = t.span("ingest.gate") {
      val c = prior.fold(hashes)(p => MarketPipeline.changedPages(hashes, spark.read.parquet(p)))
        .select(col("page_path")).persist(StorageLevel.MEMORY_AND_DISK)
      gateKept = c.count()
      c
    }
    val gated = parsed.join(changed, Seq("page_path"), "left_semi")
    val cleaned = DailyRun.normalizeParsedPages(gated, gen.date(d))
    t.aside("write-upstream")(noop(gated))
    t.aside("normalize")(noop(cleaned))
    t.span("ingest.writeRaw")(MarketPipeline.writeRaw(cleaned, raw, "parquet"))
    t.span("ingest.ledger")(hashes.write.mode("overwrite").parquet(ledger(d)))
    changed.unpersist()
    hashes.unpersist()
  }

  def check(i: Int): Either[String, Unit] = {
    val d = day(i)
    val kept = gen.changed(d)
    val withTable = gen.day(d).count(_.hasTable)
    if (gateKept != kept.size)
      return Left(s"gate kept $gateKept pages, expected ${kept.size}")
    val hashed = tablePages(d)
    if (hashed != withTable)
      return Left(s"hashed $hashed pages, expected $withTable")
    val got = spark.read.option("basePath", raw)
      .parquet(s"$raw/*/*/scrape_date=${gen.date(d)}")
      .groupBy(col("commodity"))
      .agg(count(lit(1)), sum(col("total_value_sold")), sum(col("total_quantity_sold")))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3))))
      .toMap
    Oracle.same("landed sums", got, gen.sums(kept))
  }

  def layers(i: Int, id: String, wall: Double): Layers = {
    val t = ctx.tracer
    val a = ctx.attribution
    val jobs = a.jobsOf(id)
    def in(span: String) = jobs.filter(_.span == span)
    val list = t.seconds(id, "sources.readPages")
    val gate = t.seconds(id, "ingest.gate")
    val write = t.seconds(id, "ingest.writeRaw")
    val led = t.seconds(id, "ingest.ledger")
    val p = t.seconds(id, "aside:parse")
    val u = t.seconds(id, "aside:write-upstream")
    val n = t.seconds(id, "aside:normalize")
    val writeEnd = t.spansOf(id).filter(_.name == "ingest.writeRaw").map(_.endMs).max
    val lastJobEnd = in("ingest.writeRaw").map(_.end).foldLeft(0L)(math.max)
    val (files, bytes) = Stats.files(new java.io.File(raw),
      keep = _.contains(s"scrape_date=${gen.date(day(i))}"))
    val self = Map(
      "sources.list_s" -> list,
      "sources.parse_s" -> 2 * p,
      "ingest.gate_s" -> math.max(0.0, gate - p + u - p),
      "ingest.normalize_s" -> math.max(0.0, n - u),
      "ingest.write_s" -> math.max(0.0, write - n),
      "ingest.ledger_s" -> led)
    Layers(self ++ Map(
      "sources.list_tasks" -> in("sources.readPages").map(_.tasks).sum.toDouble,
      "sources.files_read" -> gen.day(day(i)).size.toDouble,
      "ingest.gate_pass_ratio" -> gateKept.toDouble / math.max(1L, tablePages(day(i))),
      "ingest.commit_s" -> math.max(0L, writeEnd - lastJobEnd) / 1e3,
      "ingest.files_written" -> files.toDouble,
      "ingest.bytes_written" -> bytes.toDouble), self.values.sum)
  }

  override def runLayers(): Map[String, Double] = {
    val (_, stored) = Stats.files(dir.resolve("raw").toFile, all = true)
    val (_, led) = Stats.files(dir.resolve("ledger").toFile, all = true)
    Map("ingest.store_bytes_per_input_byte" -> (stored + led).toDouble / inputBytes)
  }
}

object PagesBulk {
  val Commodities = 40
}
