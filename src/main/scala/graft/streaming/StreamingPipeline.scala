package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl._

/** Structured Streaming form of the ETL pipeline.
  *
  * The reference's runtime machinery maps 1:1 onto micro-batch
  * execution (SURVEY §2.6, §2.8): bounded-queue backpressure →
  * `maxFilesPerTrigger`; batched sink flush (size+time) → the trigger
  * interval; worker pool → task parallelism; graceful SIGTERM drain →
  * `StreamingQuery.stop()`. The *same* column expressions from
  * [[graft.etl.Normalize]] and [[graft.etl.Transforms]] run unchanged —
  * batch/streaming parity is structural, not reimplemented.
  */
object StreamingPipeline {

  /** S1 (streaming form): watch a directory of JSONL files. */
  def readLines(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .toDF("line")
      .filter(trim(col("line")) =!= "")

  /** S1 breadth, streaming form: watch a directory of structured
    * records (csv/orc/parquet/json). Streaming file sources require an
    * explicit schema (no inference job on an unbounded directory); rows
    * re-encode to the same line protocol as batch
    * [[graft.etl.Normalize.parseRecordLines]] — `to_json` omits null
    * cells, so empty cells behave as absent keys and the downstream
    * expressions run unchanged. */
  def readRecords(spark: SparkSession, dir: String, format: String,
      schema: org.apache.spark.sql.types.StructType,
      options: Map[String, String] = Map.empty,
      maxFilesPerTrigger: Int = 16): DataFrame = {
    val base = spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .options(if (format == "csv") Map("header" -> "true") ++ options
        else options)
      .load(dir)
    // backtick-quote names (dotted CSV headers parse as nested access)
    val cols = base.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    base.select(to_json(struct(cols: _*)).as("line"))
      .filter(col("line") =!= "{}")
  }

  /** The full normalize+transform stream (error/drop rows carried with
    * their protocol columns, exactly like batch). */
  def transformedStream(lines: DataFrame, cfg: EtlConfig): DataFrame =
    TransformRegistry(cfg)(Normalize(lines))
      .fold(err => throw new IllegalArgumentException(err), identity)

  /** True when `checkpoint` holds a prior run's state — the restart
    * case where sinks must append from their first write instead of
    * truncating (the checkpointed source will NOT re-read already
    * processed input, so truncation would lose those batches). */
  private def isResume(checkpoint: String): Boolean = {
    val d = new java.io.File(checkpoint)
    d.isDirectory && d.list() != null && d.list().nonEmpty
  }

  /** foreachBatch replay guard: Spark's contract is at-least-once — a
    * crash after the sink write but before the checkpoint commit
    * re-runs that micro-batch on restart, and with resume-append sinks
    * its records would be appended twice. A marker file beside the
    * checkpoint records the last successfully written batchId; replayed
    * batches (batchId <= marker) are skipped. The marker is written
    * AFTER the sink write, so the remaining duplicate window is a crash
    * between those two writes — disclosed at-least-once, not
    * exactly-once (exactly-once to an appended file would need a
    * transactional commit per batch). */
  private def lastWrittenBatch(checkpoint: String): Long =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get(checkpoint, "graft-last-batch")).trim.toLong
    catch { case _: Exception => -1L }

  private def markBatchWritten(checkpoint: String, batchId: Long): Unit = {
    val p = java.nio.file.Paths.get(checkpoint, "graft-last-batch")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, batchId.toString)
  }

  /** The one query starter behind [[writeStream]] and [[runOnce]]: a
    * fresh checkpoint truncates the DLQ and builds truncate-first sinks,
    * a resumed one appends ([[isResume]]); ONE sink instance serves the
    * whole query, and `body` runs once per micro-batch that the replay
    * guard ([[lastWrittenBatch]]) has not seen written. */
  private def start(transformed: DataFrame, cfg: EtlConfig,
      checkpoint: String, trigger: Trigger)(
      body: (DataFrame, Sinks.Sink) => Unit): Either[String, StreamingQuery] = {
    val resume = isResume(checkpoint)
    if (!resume) Sinks.initDlq(cfg.dlqPath)
    Sinks.build(cfg, resume).map { sink =>
      transformed.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > lastWrittenBatch(checkpoint)) {
            body(batch, sink)
            markBatchWritten(checkpoint, batchId)
          }
        }
        .start()
    }
  }

  /** Per-micro-batch sink writer: kept rows go to the configured sink,
    * which writes its own DLQ ([[graft.etl.Pipeline.writeKept]]) — the exact
    * once-per-batch semantics the reference's BatchedSink provided
    * (`internal/sink/batched.go`), with Spark supplying the
    * time+size batching. Sink's write lifecycle (first call truncates,
    * later calls append — see [[graft.etl.Sinks.Sink]]) makes batch N+1
    * extend batch N's output instead of overwriting it. */
  def writeStream(transformed: DataFrame, cfg: EtlConfig,
      checkpoint: String,
      triggerMs: Long = 1000): Either[String, StreamingQuery] =
    start(transformed, cfg, checkpoint, Trigger.ProcessingTime(
        triggerMs, java.util.concurrent.TimeUnit.MILLISECONDS)) { (batch, sink) =>
      Pipeline.writeKept(batch, sink)
    }

  /** Result of a drain-the-input streaming run: the merged report. */
  case class StreamRunResult(report: EtlReport)

  /** Run the full streaming pipeline over `inDir` until the input is
    * drained (Trigger.AvailableNow) and assemble the SAME [[EtlReport]]
    * the batch [[graft.etl.Pipeline]] produces: every micro-batch runs
    * the batch core [[graft.etl.Pipeline.process]] and the per-batch
    * reports combine through [[graft.etl.EtlReport.merge]]. This is the
    * reference's integration-test contract
    * (`cmd/etl/integration_test.go:69-93`) stated as batch↔streaming
    * equivalence — asserted in StreamingSpec. */
  def runOnce(spark: SparkSession, inDir: String, cfg: EtlConfig,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1): Either[String, StreamRunResult] = {
    @volatile var acc = EtlReport()
    start(transformedStream(readLines(spark, inDir, maxFilesPerTrigger), cfg),
        cfg, checkpoint, Trigger.AvailableNow()) { (batch, sink) =>
      acc = EtlReport.merge(acc, Pipeline.process(batch, sink))
    }.map { q => q.awaitTermination(); StreamRunResult(acc) }
  }

  /** Streaming exact dedup: first occurrence per content fingerprint
    * wins, with bounded state — duplicates arriving within the
    * watermark horizon are dropped, state beyond it is evicted
    * (`dropDuplicatesWithinWatermark`). The streaming twin of
    * [[graft.ops.Dedup.exact]]. */
  def streamingExactDedup(transformed: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withColumn("fp", md5(col("message").cast("binary")))
      .withWatermark("ts_ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Event-time windowed level counts with late-data handling — the
    * watermarked-aggregation form of report metric A3. */
  def windowedLevelCounts(transformed: DataFrame,
      windowDur: String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withWatermark("ts_ts", watermark)
      .groupBy(window(col("ts_ts"), windowDur), col("level"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("level"), col("n"))

  /** Gap-based sessionization of the log stream, keyed by service —
    * the Structured Streaming twin of [[graft.ops.TimeSeries]]'s batch
    * sessionization, via the native `session_window` (state merges
    * adjacent events within `gap`; watermark closes and emits sessions
    * and evicts their state — bounded like every stateful op here).
    * Emitted rows: (session_start, session_end, service, n_events). */
  def serviceSessions(transformed: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    transformed
      .filter(col("error").isNull)
      .withWatermark("ts_ts", watermark)
      .groupBy(session_window(col("ts_ts"), gap), col("service"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("service"), col("n_events"))

  /** Stateful per-service error-burst detection:
    * `flatMapGroupsWithState`-style custom state via
    * mapGroupsWithState — emits (service, burst_len) whenever a service
    * accumulates `threshold` consecutive ERRORs. Demonstrates the
    * KeyValueGroupedDataset state API the reference has no analogue for.
    */
  def errorBursts(spark: SparkSession, transformed: DataFrame,
      threshold: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = transformed
      .filter(col("error").isNull)
      .select(col("service").as[String], col("level").as[String])
      .as[(String, String)]
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (service: String, rows: Iterator[(String, String)], state: GroupState[Int]) =>
          var run = state.getOption.getOrElse(0)
          val bursts = scala.collection.mutable.ListBuffer[(String, Int)]()
          rows.foreach { case (_, level) =>
            if (level == "ERROR") {
              run += 1
              if (run == threshold) bursts += ((service, run))
            } else run = 0
          }
          state.update(run)
          bursts.iterator
      }.toDF("service", "burst_len")
  }

  /** Streaming windowed event aggregation over the events schema
    * (readStream parquet) — mirrors EventQueries.hourly. The stream's
    * declared schema (readStream requires one) is taken from a batch
    * peek of the SAME file, so either historical `ts` encoding
    * (nanos-long or TIMESTAMP_NTZ — see [[graft.queries.Tables]]) plans
    * correctly. */
  def streamingHourly(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong is a session-build conf (Verify/Bench/test session)
    // — see graft.queries.Tables; no accessor-side mutation here either
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource requires a DIRECTORY path; the glob filter keeps
    // the sibling tables of a testdata dir out of the stream
    graft.queries.Tables.withNormalizedTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }
}
