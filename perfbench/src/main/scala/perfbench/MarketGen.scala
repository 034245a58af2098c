package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded market page generator with its own expected-value oracle.
  *
  * Day `d` of a market holds one page per (commodity, link type), shaped
  * like the reference's scraped tables (`table.alltable`, `th.header`
  * headers, `td.tleft2` first cell, `td.tleft` the rest, a `div#right2`
  * date). Per page, drawn from (seed, day, commodity, link type):
  *   - `NoTable` share: a page with no table at all;
  *   - `Drift` share: synonym headers ("Unit Price",
  *     "Value Sold", "Qty Sold") in the canonical positions;
  *   - `Repeat` share (day > 0): byte-identical to the day
  *     before;
  *   - every table ends in a totals row the pipeline must drop.
  * With `wide` pages, variety pages carry a Variety column after the
  * Container column (the reference's "per Container and Variety" table) and
  * some pages carry an extra unknown column; narrow pages keep one column
  * layout for every link type (what a header-derived CSV read needs). The
  * totals row's label sits in the first column, as on the reference's
  * tables.
  *
  * Every expected value is computed here from the generated rows, never
  * from the engine.
  */
final class MarketGen(seed: Long, val commodities: IndexedSeq[String],
    wide: Boolean) {
  import MarketGen._

  private val days = mutable.Map.empty[Int, IndexedSeq[Page]]

  def date(d: Int): String = BaseDate.plusDays(d.toLong).toString

  def day(d: Int): IndexedSeq[Page] = days.getOrElseUpdate(d, {
    val prev = if (d > 0) Some(day(d - 1)) else None
    for {
      (c, ci) <- commodities.zipWithIndex
      (lt, li) <- LinkTypes.zipWithIndex
    } yield {
      val r = new SplittableRandom(mix(mix(mix(seed, d.toLong), ci.toLong), li.toLong))
      val before = prev.map(_(ci * LinkTypes.size + li))
      if (before.isDefined && r.nextDouble() < Repeat) before.get.copy(repeated = true)
      else page(r, c, lt, date(d))
    }
  })

  private def page(r: SplittableRandom, commodity: String, linkType: String,
      date: String): Page = {
    if (r.nextDouble() < NoTable)
      return Page(commodity, linkType, date,
        s"""<html><head><title>$commodity $linkType</title></head><body>$Boiler
           |<div id="right2"><b>$date</b></div>
           |<p>No market data published for this commodity today.</p>
           |</body></html>""".stripMargin, Vector.empty, hasTable = false,
        repeated = false)
    val drifted = r.nextDouble() < Drift
    val variety = wide && linkType == "variety"
    val extra = wide && r.nextDouble() < 0.2
    val n = MinRows + r.nextInt(MaxRows - MinRows + 1)
    val rows = Vector.fill(n) {
      val price = BigDecimal(100 + r.nextInt(500000)) / 100
      val qty = 1L + r.nextInt(2000)
      Row(if (variety) Some(Varieties(r.nextInt(Varieties.size))) else None,
        Containers(r.nextInt(Containers.size)), price, price * qty, qty)
    }
    val headers =
      Seq("Container") ++ (if (variety) Seq("Variety") else Nil) ++
        Seq(if (drifted) "Unit Price" else "Price (R)",
          if (drifted) "Value Sold" else "Total Value Sold",
          if (drifted) "Qty Sold" else "Total Quantity Sold") ++
        (if (extra) Seq("Average Price per Kg") else Nil)
    def cells(row: Row): Seq[String] =
      Seq(row.container) ++ row.variety.toSeq ++ Seq(
        (if (r.nextBoolean()) "R " else "") + money(row.price),
        money(row.value), grouped(row.qty.toString)) ++
        (if (extra) Seq(money(row.price / 10)) else Nil)
    val total =
      Seq("Total") ++ (if (variety) Seq("") else Nil) ++
        Seq("", money(rows.map(_.value).sum), grouped(rows.map(_.qty).sum.toString)) ++
        (if (extra) Seq("") else Nil)
    def tr(cs: Seq[String]): String =
      cs.zipWithIndex.map { case (c, i) =>
        s"""<td class="${if (i == 0) "tleft2" else "tleft"}">$c</td>"""
      }.mkString("<tr>", "", "</tr>")
    val html =
      s"""<html><head><title>$commodity $linkType</title></head><body>$Boiler
         |<div id="right2"><b>$date</b></div>
         |<table class="alltable"><thead>
         |${headers.map(h => s"""<th class="header">$h</th>""").mkString("\n")}
         |</thead><tbody>
         |${(rows.map(cells) :+ total).map(tr).mkString("\n")}
         |</tbody></table></body></html>""".stripMargin
    Page(commodity, linkType, date, html, rows, hasTable = true, repeated = false)
  }

  /** Pages of day `d` the change gate must keep: a table that is not a
    * byte-identical repeat of yesterday's table.
    */
  def changed(d: Int): IndexedSeq[Page] =
    day(d).filter(p => p.hasTable && !p.repeated)

  /** Per commodity (rows, Σ total_value_sold, Σ total_quantity_sold). */
  def sums(pages: Seq[Page]): Map[String, (Long, BigDecimal, Long)] =
    pages.groupBy(_.commodity).map { case (c, ps) =>
      val rs = ps.flatMap(_.rows)
      c -> ((rs.size.toLong, rs.map(_.value).sum, rs.map(_.qty).sum))
    }.filter(_._2._1 > 0)
}

object MarketGen {
  final case class Row(variety: Option[String], container: String,
      price: BigDecimal, value: BigDecimal, qty: Long)

  /** One page; `rows` are its data rows (the totals row excluded). */
  final case class Page(commodity: String, linkType: String, date: String,
      html: String, rows: IndexedSeq[Row], hasTable: Boolean,
      repeated: Boolean) {
    def rel: String = s"$commodity/$linkType.html"
  }

  val LinkTypes: Seq[String] = Seq("summary", "container", "variety")
  private val NoTable = 0.03
  private val Drift = 0.10
  private val Repeat = 0.15
  private val MinRows = 4
  private val MaxRows = 16
  val BaseDate: java.time.LocalDate = java.time.LocalDate.of(2026, 8, 27)

  private val Containers = Vector("10kg Bag", "5kg Box", "Crate", "Sack 7kg",
    "Pocket 3kg", "Tray", "Basket 2kg", "Carton 15kg", "Punnet 250g", "Bin",
    "Lug 12kg", "Bundle")
  private val Varieties = Vector("Golden", "Granny Smith", "Fuji", "Navel",
    "Valencia", "Cavendish", "Hass", "Star King", "Packham", "Round")
  private val Crops = Vector("apples", "avocados", "bananas", "beans",
    "beetroot", "broccoli", "butternut", "cabbage", "carrots", "cauliflower",
    "cucumbers", "grapes", "lemons", "lettuce", "mangoes", "onions",
    "oranges", "pears", "peppers", "pineapples", "potatoes", "pumpkins",
    "spinach", "strawberries", "sweet_potatoes", "tomatoes")
  private val Kinds = Vector("green", "red", "yellow", "baby", "giant",
    "organic", "local", "export", "mini", "select")

  /** `n` distinct commodity names, sorted. */
  def commodities(n: Int): IndexedSeq[String] =
    (for (k <- Kinds.indices.iterator; c <- Crops)
      yield if (k == 0) c else s"${c}_${Kinds(k)}").take(n).toVector.sorted

  /** A fixed block of page chrome (navigation, scripts) around the table. */
  private val Boiler: String =
    (0 until 40).map(i =>
      s"""<li class="nav"><a href="/market/section$i">Section $i</a></li>""")
      .mkString("<ul id=\"menu\">", "", "</ul>") +
      "<script>var market={refresh:300,locale:'en-ZA'};</script>"

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b + 0x632be59bd9b4e019L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** "1234567" → "1,234,567". */
  def grouped(digits: String): String =
    digits.reverse.grouped(3).mkString(",").reverse

  def money(v: BigDecimal): String = {
    val s = v.setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val (i, f) = s.splitAt(s.indexOf('.'))
    grouped(i) + f
  }
}
