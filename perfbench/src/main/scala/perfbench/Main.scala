package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (`perfbench/run.py` builds and launches
  * it). One process, one client, one closed loop:
  *
  *   set-up → timed loop of ops (each checked against its oracle outside
  *   the timed region) → one JSON result line.
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics declared in
  * BENCHMARK.json. Traced runs (`--trace 1`) interleave untraced and traced
  * ops, attribute every Spark job to its op, span and program site, and
  * report the declared per-layer metrics (medians over traced ops).
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: java.nio.file.Path, work: java.nio.file.Path,
      cores: Int, lake: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", java.nio.file.Paths.get(need("root")).toAbsolutePath,
      java.nio.file.Paths.get(need("work")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(4), m.get("lake"))
  }

  /** Metric name → unit, in declaration order. */
  private def declared(root: java.nio.file.Path, key: String): Seq[(String, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(root.resolve("BENCHMARK.json").toFile)
    tree.get(key).elements().asScala
      .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
  }

  private def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val endToEnd = declared(o.root, "end_to_end")
    val perLayer = declared(o.root, "per_layer")

    val (sessionS, spark) = seconds {
      val s = SparkSession.builder()
        .master(s"local[${o.cores}]")
        .appName(s"perfbench-${o.workload}")
        .config("spark.sql.shuffle.partitions", o.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
        .config("spark.local.dir", o.work.resolve("local").toString)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val attribution = new Attribution
    val ctx = Ctx(spark, o.root, o.work, o.seed, o.cores, tracer, attribution)
    val w: Workload = o.workload match {
      case "pages_bulk" => new PagesBulk(ctx)
      case "daily_loop" => new DailyLoop(ctx)
      case "lake_queries" => new LakeQueries(ctx, o.lake.getOrElse(sys.error("missing --lake")))
      case "text_ingest_stream" => new TextStream(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start + median of repeated input generation + warm pass
    val genS = (1 to 3).map(_ => seconds(w.generate())._1)
    val (warmS, _) = seconds(tracer.inOp("warm")(w.warm()))
    val setupS = sessionS + Stats.median(genS) + warmS

    val lat = mutable.ArrayBuffer.empty[Double]
    val untracedLat = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def addLayer(k: String, v: Double): Unit =
      layerSamples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    var items = 0L
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val opTimes = mutable.ArrayBuffer.empty[String]

    val ops =
      if (o.trace) 2 * w.traceOps
      else w.opsPerRound * math.max(1, math.ceil(o.seconds / w.roundSeconds).toInt)
    var i = 0
    while (i < ops) {
      val id = Workload.opId(i)
      val tracedOp = o.trace && w.traced(i)
      tracer.inOp(s"prep-$i")(w.before(i))
      if (tracedOp) { sc.addSparkListener(attribution); tracer.enabled = true }
      val t0 = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val result =
        try Right(tracer.inOp(id)(w.op(i)))
        catch { case e: Exception => Left(s"$id failed: $e") }
      val endMs = System.currentTimeMillis()
      val wall = (System.nanoTime() - t0) / 1e9 - tracer.asideSeconds(id)
      tracer.enabled = false
      attempted += 1
      result match {
        case Left(err) => failed += 1; failures += err
        case Right(n) =>
          items += n
          if (!o.trace || tracedOp) lat += wall else untracedLat += wall
          opTimes += f"${w.opName(i)}=$wall%.3f"
          tracer.inOp(s"check-$i")(
            try w.check(i) catch { case e: Exception => Left(e.toString) }) match {
            case Left(err) => failed += 1; failures += s"$id check: $err"
            case Right(()) => ()
          }
      }
      if (tracedOp) {
        Bus.drain(sc)
        sc.removeSparkListener(attribution)
        if (result.isRight) {
          val ls = w.layers(i, id, wall)
          ls.metrics.foreach { case (k, v) => addLayer(k, v) }
          val js = attribution.jobsOf(id).filterNot(_.span.startsWith("aside:"))
          addLayer("spark.jobs", js.size)
          addLayer("spark.tasks", js.map(_.tasks).sum)
          addLayer("spark.task_s", js.map(_.taskMs).sum / 1e3)
          addLayer("spark.shuffle_bytes", js.map(_.shuffleBytes).sum.toDouble)
          addLayer("spark.spill_bytes", js.map(_.spillBytes).sum.toDouble)
          addLayer("spark.driver_gap_s", math.max(0.0, wall -
            Attribution.covered(js, startMs, endMs)))
          addLayer("trace.unattributed_s", wall - ls.selfSeconds)
        }
      }
      i += 1
    }

    val opP50 = Stats.median(lat.toSeq)
    val (opTail, tailRank) = Stats.tail(lat.toSeq)
    val busyS = lat.sum
    val errorRate = failed.toDouble / attempted
    val run = w.runLayers()
    w.close()
    val rss = Stats.peakRssMb()
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "items_per_s" -> (if (busyS > 0) items / busyS else 0.0),
      "op_p50_s" -> opP50,
      "op_tail_s" -> opTail,
      "peak_rss_mb" -> rss)
    val layer: Map[String, Double] =
      layerSamples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++
        run ++ Map("check.error_rate" -> errorRate,
          "trace.overhead_ratio" ->
            (if (untracedLat.nonEmpty && opP50 > 0) opP50 / Stats.median(untracedLat.toSeq)
             else 0.0))

    if (o.trace) {
      val dir = o.root.resolve(".bench_build").resolve("traces")
      tracer.writeJsonLines(dir.resolve(s"${w.name}-seed${o.seed}-spans.jsonl"))
      val jobs = attribution.all.map { j =>
        s"""{"job":${j.id},"op":${Json.str(j.op)},"span":${Json.str(j.span)},""" +
          s""""module":${Json.str(j.module)},"site":${Json.str(j.site)},""" +
          s""""seconds":${j.seconds},"tasks":${j.tasks},"task_s":${j.taskMs / 1e3},""" +
          s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
      }
      java.nio.file.Files.write(dir.resolve(s"${w.name}-seed${o.seed}-jobs.jsonl"),
        (jobs.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    spark.stop()

    // human-readable summary (every end-to-end metric, error_rate included),
    // then the one JSON result line, last on stdout
    val n = lat.size
    println(f"# ${w.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} ops=$attempted " +
      f"failed=$failed items=$items ${w.itemUnit} timed=$busyS%.3fs")
    println(f"# setup_s=$setupS%.4f (session=$sessionS%.3f generate=${Stats.median(genS)}%.3f warm=$warmS%.3f)")
    println(f"# op_p50_s=$opP50%.4f n=$n  op_tail_s=$opTail%.4f rank=$tailRank/$n")
    println(f"# items_per_s=${e2e("items_per_s")}%.4f error_rate=$errorRate%.4f " +
      f"peak_rss_mb=$rss%.1f " + run.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    println(s"# ops ${opTimes.mkString(" ")}")
    failures.take(20).foreach(f => println(s"# FAIL $f"))
    val chosen =
      if (o.trace) perLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      else endToEnd.map { case (k, u) => (k, u, e2e.getOrElse(k, 0.0)) }
    if (o.trace) chosen.foreach { case (k, u, v) => println(s"# $k = ${Json.num(v)} $u") }
    val metrics = chosen.map { case (k, u, v) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    System.out.flush()
    sys.exit(0)
  }
}
