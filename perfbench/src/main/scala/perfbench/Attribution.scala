package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Job attribution for the traced run. Every job is assigned to
  *   - the op that launched it: the op registered for its streaming
  *     micro-batch id, else the `perfbench.op` local property;
  *   - the benchmark span it ran under (`perfbench.span`);
  *   - the program site: the first `graft.*` frame of the job's call site,
  *     as `Module.method`, with its module (`ingest`, `sources`, ...).
  * Tasks, task-seconds, shuffle bytes and spill are summed per job.
  *
  * Reads happen only after [[org.apache.spark.perfbench.Bus.drain]], so the
  * counts are complete and repeat exactly for the same inputs.
  */
final class Attribution extends SparkListener {
  import Attribution._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** Streaming micro-batch id → the op it belongs to. */
  private val batchOps = mutable.Map.empty[String, String]
  /** SQL execution id → (call site long form, root execution id). */
  private val executions = mutable.Map.empty[Long, (String, Option[Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(BatchKey).flatMap(batchOps.get).orElse(prop(OpKey)).getOrElse("")
    // an SQL query's jobs may run on AQE's stage-materialization threads,
    // whose stacks hold no program frame: take the call site the query
    // execution recorded on the calling thread, up to its root execution
    val sqlSites = Iterator.iterate(prop(ExecKey).map(_.toLong))(
        _.flatMap(x => executions.get(x).flatMap(_._2).filter(_ != x)))
      .takeWhile(_.isDefined).take(8).flatMap(x => executions.get(x.get).map(_._1))
    val stageSite =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val (module, site) = (sqlSites ++ Iterator(stageSite)).map(programSite)
      .find(_._1 != "bench").getOrElse(("bench", "bench"))
    jobs(e.jobId) = Job(e.jobId, op, prop(SpanKey).getOrElse(""), module, site,
      e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executions(x.executionId) = (x.details, x.rootExecutionId)
    }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs of streaming micro-batch `batchId` run on the stream's own
    * thread, whose op property is the one it inherited when the query
    * started: they belong to `op`.
    */
  def streamBatch(batchId: Long, op: String): Unit = synchronized {
    batchOps(batchId.toString) = op
  }

  def jobsOf(op: String): Seq[Job] = synchronized {
    jobs.values.filter(_.op == op).toSeq
  }

  def all: Seq[Job] = synchronized(jobs.values.toSeq)
}

object Attribution {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  val ExecKey = "spark.sql.execution.id"
  val BatchKey = "streaming.sql.batchId"

  final case class Job(id: Int, op: String, span: String, module: String,
      site: String, start: Long) {
    var end: Long = -1L
    var tasks: Int = 0
    var taskMs: Long = 0L
    var shuffleBytes: Long = 0L
    var spillBytes: Long = 0L
    def seconds: Double = if (end < start) 0.0 else (end - start) / 1e3
  }

  private val Frame = """^graft\.([a-z]+)\.([A-Za-z0-9_]+)\$?\.(\S+)\(.*$""".r

  /** (module, `Object.method`) of the first program frame in a long-form
    * call site; a frame inside a lambda of `method` reads `Object.method/lambda`.
    */
  def programSite(details: String): (String, String) =
    details.linesIterator.collectFirst {
      case Frame(module, obj, method) =>
        val parts = method.split('$').filter(_.nonEmpty)
        val site = parts.filterNot(_ == "anonfun").headOption.getOrElse(method)
        (module, s"$obj.$site" + (if (parts.contains("anonfun")) "/lambda" else ""))
    }.getOrElse(("bench", "bench"))

  /** Seconds of `[from, to]` covered by at least one job interval. */
  def covered(js: Seq[Job], from: Long, to: Long): Double = {
    val iv = js.filter(_.end >= 0).map(j => (math.max(j.start, from),
      math.min(j.end, to))).filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }
}
