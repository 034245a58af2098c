package perfbench

import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.{IngestPipeline, TextIngestPipeline}

/** `text_ingest_stream`: one op is one micro-batch of the m14 text loop.
  *
  * Set-up trains the DSIR weights on the seed corpus, builds the persisted
  * MinHash band index with `TextIngestPipeline.buildIndex`, and starts
  * `TextIngestPipeline.stream` (`Frame.fileStream`, one file per trigger)
  * on the probe path; its first micro-batch is the warm pass. Each batch
  * file is written untimed to a staging directory; the op moves it into
  * the stream's source directory and waits for `processAllAvailable`.
  * The index is never compacted, so each batch also scans every document
  * admitted since set-up: per-batch latency carries the growing landed
  * layer.
  *
  * The check is the exactly-once audit: `TextIngestPipeline.audit` holds
  * one row per streamed document, admitted or rejected, with the
  * generator's expected decision, and one drift verdict per batch.
  */
final class TextStream(ctx: Ctx) extends Workload {
  import TextStream._

  val name = "text_ingest_stream"
  val itemUnit = "documents"
  val roundSeconds = 4.0
  val traceOps = 2

  private val spark = ctx.spark
  private val dir = ctx.work.resolve(name)
  private val staging = dir.resolve("staging")
  private val src = dir.resolve("src")
  private val out = dir.resolve("out").toString
  private val seedPath = dir.resolve("seed").toString

  private var gen: DocGen = _
  private var query: StreamingQuery = _
  private var inputBytes = 0L

  private def batch(i: Int) = i + 1

  /** Writes batch `b` as one parquet file under the staging directory. */
  private def stage(b: Int): Unit = {
    import spark.implicits._
    val rows = gen.batch(b)
    inputBytes += rows.map(_._2.getBytes("UTF-8").length.toLong + 8).sum
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(staging.resolve(s"b$b").toString)
  }

  /** Moves staged batch `b`'s file into the stream's source directory. */
  private def release(b: Int): Unit = {
    val files = Files.list(staging.resolve(s"b$b")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    files.foreach(f => Files.move(f, src.resolve(s"b$b-${f.getFileName}"),
      StandardCopyOption.ATOMIC_MOVE))
  }

  def generate(): Unit = {
    import spark.implicits._
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    Files.createDirectories(src)
    inputBytes = 0L
    gen = new DocGen(ctx.seed)
    gen.seedDocs.toDF("doc_id", "text").coalesce(1).write.parquet(seedPath)
    stage(0)
  }

  def warm(): Unit = {
    import spark.implicits._
    val seedDocs = spark.read.parquet(seedPath)
    val trained = IngestPipeline.train(
      gen.seedDocs.map { case (id, t) => (id, t, s"src${id % 2}") }
        .toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", targetSource = "src0", buckets = Buckets,
      driftThreshold = 1e12)
    val index = TextIngestPipeline.buildIndex(spark, seedDocs, out, IndexTable,
      nBuckets = ctx.cores, n = N, numHashes = NumHashes,
      rowsPerBand = RowsPerBand, through = -1L)
    // the stream's thread keeps the op property it inherits here; its
    // jobs are attributed through their micro-batch id instead
    query = TextIngestPipeline.stream(spark, src.toString, seedDocs, trained,
      n = N, numHashes = NumHashes, rowsPerBand = RowsPerBand,
      threshold = Threshold, minTokens = DocGen.MinTokens,
      maxTokens = DocGen.MaxTokens, nShards = Shards,
      checkpoint = dir.resolve("checkpoint").toString, outDir = out,
      admitIndex = () => Some(index))
    release(0)
    query.processAllAvailable()
  }

  override def before(i: Int): Unit = {
    stage(batch(i))
    ctx.attribution.streamBatch(batch(i), Workload.opId(i))
    System.gc()
  }

  def op(i: Int): Long = {
    release(batch(i))
    query.processAllAvailable()
    gen.batch(batch(i)).size.toLong
  }

  def check(i: Int): Either[String, Unit] = {
    val audit = TextIngestPipeline.audit(spark, out)
      .filter(col("kind") =!= "shard")
      .select(col("kind"), col("key"), col("detail")).collect()
    val docs = audit.filter(_.getString(0) == "doc")
      .map(r => r.getString(1).toLong -> r.getString(2))
    val want = (0 to batch(i)).map(gen.expected).reduce(_ ++ _)
    val got = docs.toMap
    val drift = audit.filter(_.getString(0) == "drift").map(_.getString(1)).sorted.toSeq
    val wantDrift = (0 to batch(i)).map(b => s"batch_$b").sorted
    if (docs.length != got.size)
      Left(s"${docs.length - got.size} documents landed more than once")
    else if (drift != wantDrift) Left(s"drift verdicts $drift, expected $wantDrift")
    else Oracle.same("audit decisions",
      got.map { case (k, v) => k -> (if (v.startsWith("admitted:")) "admitted:" else v) },
      want)
  }

  def layers(i: Int, id: String, wall: Double): Layers = {
    val b = batch(i)
    val p = query.recentProgress.find(_.batchId == b)
      .getOrElse(sys.error(s"no progress for micro-batch $b"))
    def ms(k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val addBatch = ms("addBatch")
    val planning = ms("queryPlanning")
    val commit = ms("walCommit") + ms("commitOffsets")
    val offsets = ms("latestOffset") + ms("getBatch")
    val (files, _) = Stats.files(new java.io.File(out))
    val expected = gen.expected(b).values
    Layers(Map(
      "stream.add_batch_s" -> addBatch,
      "stream.planning_s" -> planning,
      "stream.commit_s" -> commit,
      "stream.offsets_s" -> offsets,
      "stream.jobs_per_batch" -> ctx.attribution.jobsOf(id).size.toDouble,
      "stream.landed_files" -> files.toDouble,
      "stream.admit_ratio" ->
        expected.count(_.startsWith("admitted:")).toDouble / expected.size),
      addBatch + planning + commit + offsets)
  }

  override def runLayers(): Map[String, Double] = {
    val (_, stored) = Stats.files(new java.io.File(out), all = true)
    Map("ingest.store_bytes_per_input_byte" -> stored.toDouble / inputBytes)
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}

object TextStream {
  /** The m14 loop's parameters (as the program's own text loop runs it). */
  private val N = 3
  private val NumHashes = 12
  private val RowsPerBand = 3
  private val Threshold = 0.8
  private val Shards = 4
  private val Buckets = 64
  private val IndexTable = "perfbench_text_index"
}
