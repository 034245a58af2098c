package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** `lake_queries`: one op is one declared `SparkEntry` query over the
  * generated star-schema lake, in rounds over [[LakeQueries.Names]] in a
  * seed-shuffled order (a fresh order per round). Each op is split into
  * construct (the query function returning its DataFrame, with any eager
  * materialization it does), plan (`executedPlan`) and execute (`collect`).
  * Every result is checked against its stored row count and canonical hash
  * (`expected/lake_queries.json`, cross-checked against DuckDB).
  */
final class LakeQueries(ctx: Ctx, lake: String) extends Workload {
  import LakeQueries._

  val name = "lake_queries"
  val itemUnit = "queries"
  override def opsPerRound: Int = Names.size
  val roundSeconds = 4.0
  val traceOps: Int = Names.size
  /** Over the two rounds of a traced run each query is traced once, and
    * each round mixes traced and untraced queries.
    */
  override def traced(i: Int): Boolean =
    (Names.indexOf(query(i)) + i / Names.size) % 2 == 1

  private val spark = ctx.spark
  private val queries = graft.SparkEntry.queries
  private var expected: Map[String, (Long, String)] = Map.empty
  private var last: Array[Row] = Array.empty
  private var lastColumns: Seq[String] = Nil

  /** The query of op `i`: round `i / n` is the seed's shuffle of the names. */
  def query(i: Int): String = {
    val round = i / Names.size
    new scala.util.Random(MarketGen.mix(ctx.seed, round.toLong))
      .shuffle(Names).apply(i % Names.size)
  }

  override def opName(i: Int): String = query(i)

  def generate(): Unit = {
    expected = loadExpected(ctx.root)
    require(Names.forall(expected.contains), "expected results missing a query")
    (0 until Names.size).foreach(query)
  }

  /** Two untimed rounds: after only one, a query's next run is still about
    * 15% faster than its first timed run.
    */
  def warm(): Unit = for (_ <- 1 to 2; q <- Names) {
    queries(q)(spark, lake).collect()
    spark.catalog.clearCache()
  }

  /** Cached relations and garbage of the previous query are not this
    * query's cost.
    */
  override def before(i: Int): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def op(i: Int): Long = {
    val t = ctx.tracer
    val q = query(i)
    val df = t.span("queries.construct")(queries(q)(spark, lake))
    t.span("queries.plan")(df.queryExecution.executedPlan)
    last = t.span("queries.execute")(df.collect())
    lastColumns = df.columns.toSeq
    1L
  }

  def check(i: Int): Either[String, Unit] = {
    val q = query(i)
    val (rows, hash) = expected(q)
    val got = Canon.hash(lastColumns, last)
    if (last.length != rows) Left(s"$q returned ${last.length} rows, expected $rows")
    else if (got != hash) Left(s"$q canonical hash $got, expected $hash")
    else Right(())
  }

  def layers(i: Int, id: String, wall: Double): Layers = {
    val t = ctx.tracer
    val q = query(i)
    val jobs = ctx.attribution.jobsOf(id)
    def in(span: String) = jobs.filter(_.span == span)
    val c = t.seconds(id, "queries.construct")
    val p = t.seconds(id, "queries.plan")
    val e = t.seconds(id, "queries.execute")
    Layers(Map(
      "queries.construct_s" -> c,
      "queries.plan_s" -> p,
      "queries.execute_s" -> e,
      "queries.construct_jobs" -> in("queries.construct").size.toDouble,
      "queries.execute_jobs" -> in("queries.execute").size.toDouble,
      "queries.execute_tasks" -> in("queries.execute").map(_.tasks).sum.toDouble,
      s"queries.$q.construct_s" -> c,
      s"queries.$q.execute_s" -> e,
      s"queries.$q.jobs" -> jobs.size.toDouble), c + p + e)
  }
}

object LakeQueries {
  /** Construct-bound (eager materialization in the operators) then
    * execute-bound (scan, shuffle, aggregation) queries.
    */
  val Names: Seq[String] = Seq(
    "d03_ngram_jaccard_pairs",
    "q01_pricing_summary", "q02_top5_brand_revenue", "t09_tfidf_top_terms")

  val ExpectedFile = "perfbench/expected/lake_queries.json"

  def loadExpected(root: java.nio.file.Path): Map[String, (Long, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve(ExpectedFile).toFile)
    tree.get("queries").fields().asScala.map { e =>
      e.getKey -> ((e.getValue.get("rows").asLong(), e.getValue.get("hash").asText()))
    }.toMap
  }
}

/** Canonical form of a result: columns ordered by name, every value
  * stringified, rows sorted; the hash is SHA-256 over that text.
  */
object Canon {
  private def cell(v: Any): String = v match {
    case null => "<null>"
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case b: java.math.BigDecimal => b.toPlainString
    case x => x.toString
  }

  def lines(columns: Seq[String], rows: Array[Row]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(k => cell(r.get(k))).mkString("\u0001")).toSeq.sorted
  }

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u0001").getBytes("UTF-8"))
    lines(columns, rows).foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  def hash(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    (rows.length.toLong, hash(df.columns.toSeq, rows))
  }
}
