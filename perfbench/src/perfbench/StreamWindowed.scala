package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamingSketches
import Workload._

/** A full drain of a windowed HLL distinct count over a file stream, one
  * file per micro-batch. The aggregation is light; the per-trigger floor
  * (offset log, state commit, re-planning) is what a drain pays for.
  */
final class StreamWindowed(seed: Long) extends Workload {
  val nFiles = 4
  val rowsPerFile = 5000L
  val users = 20000L
  val minutes = 80
  val window = "5 minutes"
  val watermark = "10 minutes"

  def opSamples = "stream_batch"
  def itemsSamples = "drain"
  def items: Long = nFiles * rowsPerFile
  override def opIsUnit = false
  def named: Seq[Named] = Seq(
    Named("stream_events_s", "rate", "drain", items, "events/s"),
    Named("stream_batch_p50_ms", "p50", "stream_batch", 0, "ms"),
    Named("stream_batch_tail_ms", "tail", "stream_batch", 0, "ms"))
  def sizes: Seq[(String, Any)] = Seq(
    "files" -> nFiles, "events_per_file" -> rowsPerFile, "users" -> users,
    "event_minutes" -> minutes, "window" -> window, "watermark" -> watermark)

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType)))
  private var eventsDir: File = _
  private var reference: Map[Long, Long] = Map.empty
  private var drains = 0
  private val triggerOverhead, commit, addBatch, stateRows, stateBytes = ArrayBuffer.empty[Double]

  private def query(events: DataFrame): DataFrame =
    StreamingSketches.windowedDistinct(events, "ts", "user_id", window, watermark)

  private def byWindow(rows: Array[Row]): Map[Long, Long] =
    rows.map(r => r.getTimestamp(0).getTime -> r.getLong(2)).toMap

  override def resetStats(): Unit =
    Seq(triggerOverhead, commit, addBatch, stateRows, stateBytes).foreach(_.clear())

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    eventsDir = new File(ctx.dir, "events")
    val id = col("id")
    val perFile = minutes * 60L / nFiles
    val base = 1700000000L + java.lang.Long.remainderUnsigned(mix(seed), 1000L) * 86400L
    // spark.range splits evenly, so partition i (one output file) holds the
    // events of file i; event time moves forward file by file
    val u = pmod(hashCol(seed, id, lit("u")), lit(1L << 53)).cast("double") / (1L << 53).toDouble
    spark.range(0, nFiles * rowsPerFile, 1, nFiles).select(
      timestamp_seconds(lit(base) + (id / rowsPerFile).cast("long") * perFile +
        pmod(hashCol(seed, id, lit("t")), lit(perFile))).as("ts"),
      (floor(exp(u * math.log(users + 1.0))) - 1).cast("long").as("user_id"))
      .write.parquet(eventsDir.getPath)
    reference = byWindow(query(spark.read.schema(schema).parquet(eventsDir.getPath)).collect())
  }

  def digest(ctx: Ctx): String = digestOf(ctx.spark.read.schema(schema).parquet(eventsDir.getPath))

  def op(ctx: Ctx, rec: Recorder): Unit = {
    drains += 1
    val name = s"stream_windowed_$drains"
    val stream = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(eventsDir.getPath)
    val q = rec.timed("drain")(ctx.trace.span("streaming", "windowedDistinct") {
      val q = query(stream).writeStream.outputMode("complete").format("memory").queryName(name)
        .option("checkpointLocation", new File(ctx.dir, s"stream-checkpoint-$drains").getPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        ctx.trace.record("streaming", "micro_batch", unit = true,
          start, start + p.durationMs.get("triggerExecution").doubleValue)
      }
      q
    })
    Check(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val progress = q.recentProgress
    Check(progress.map(_.numInputRows).sum == items,
      s"stream read ${progress.map(_.numInputRows).sum} events, expected $items")
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    progress.foreach { p =>
      rec.sample("stream_batch", d(p, "triggerExecution"))
      triggerOverhead += d(p, "triggerExecution") - d(p, "addBatch")
      commit += d(p, "walCommit") + d(p, "commitOffsets")
      addBatch += d(p, "addBatch")
    }
    progress.last.stateOperators.headOption.foreach { s =>
      stateRows += s.numRowsTotal.toDouble
      stateBytes += s.memoryUsedBytes.toDouble
    }
    val got = byWindow(ctx.spark.table(name).collect())
    Check(got == reference, s"streamed windows differ from the batch aggregate: " +
      s"${(got.toSet diff reference.toSet).take(3)} vs ${(reference.toSet diff got.toSet).take(3)}")
  }

  override def between(ctx: Ctx): Unit = {
    ctx.spark.catalog.dropTempView(s"stream_windowed_$drains")
    deleteRecursively(new File(ctx.dir, s"stream-checkpoint-$drains"))
  }

  def layers(ctx: Ctx): Seq[(String, Double)] = Seq(
    "streaming.trigger_overhead_ms" -> med(triggerOverhead.toSeq),
    "streaming.commit_ms" -> med(commit.toSeq),
    "streaming.add_batch_ms" -> med(addBatch.toSeq),
    "streaming.state_rows" -> med(stateRows.toSeq),
    "streaming.state_bytes" -> med(stateBytes.toSeq))
}
