package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions.{coalesce, count, lit, max, sum, when, col}

/** K1–K7: sinks.
  *
  * Reference surface: stdout / single-file JSONL / rotating JSONL / HTTP
  * webhook, a batching wrapper, a DLQ, and a builder registry
  * (`/root/reference/internal/sink/` — jsonl, rotate, http, batched,
  * builder — `builder.go:15-55`).
  *
  * Spark re-expression:
  *   - the *batched sink wrapper* (K5) is not ported: micro-batch
  *     execution / per-partition buffered writers already are time+size
  *     batching (`SURVEY.md §2.4 K5`);
  *   - the *worker pool + mutex* around the sink is partition parallelism
  *     (each partition gets its own writer instance);
  *   - per-record retry w/ exponential backoff + jitter and DLQ capture
  *     (`cmd/etl/main.go:480-537`) live inside the partition writer; Spark
  *     task retry is the outer layer;
  *   - `s3`/`kafka`, declared-but-unimplemented in the reference
  *     (`builder.go:46-49`), become native here: any Hadoop-FS scheme
  *     (s3a://, hdfs://) works through the same writers, and parquet is a
  *     first-class output type.
  *
  * Failure protocol: writers NEVER throw for a record-level failure —
  * failures are captured per-partition and returned as DLQ rows
  * `{record, reason}` so A6–A8 metrics and the DLQ file work exactly like
  * the reference.
  */
object Sinks {

  /** Go renders `model.Normalized` with struct field names (no json
    * tags — `internal/model/normalized.go:3-13`): capitalized keys, in
    * struct order, `Fields` map with sorted keys, HTML-escaped strings
    * (encoding/json default). Values inside `fields` carry raw JSON text
    * for non-strings (see [[LogSchema]]), re-rendered typed here. */
  def renderRecord(r: Row): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append('{')
    def str(s: String): Unit = {
      sb.append('"')
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          // encoding/json escapes HTML-significant chars by default
          case '<' => sb.append("\\u003c")
          case '>' => sb.append("\\u003e")
          case '&' => sb.append("\\u0026")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.append('"')
    }
    def field(name: String, v: String, comma: Boolean = true): Unit = {
      str(name); sb.append(':'); str(if (v == null) "" else v)
      if (comma) sb.append(',')
    }
    field("TS", r.getAs[String]("ts"))
    field("Level", r.getAs[String]("level"))
    field("Service", r.getAs[String]("service"))
    field("Namespace", r.getAs[String]("namespace"))
    field("Pod", r.getAs[String]("pod"))
    field("Node", r.getAs[String]("node"))
    field("Message", r.getAs[String]("message"))
    field("TraceID", r.getAs[String]("trace_id"))
    str("Fields"); sb.append(':')
    val fields = r.getAs[Map[String, String]]("fields")
    if (fields == null) sb.append("null")
    else {
      sb.append('{')
      var first = true
      fields.toSeq.sortBy(_._1).foreach { case (k, v) =>
        if (!first) sb.append(',')
        first = false
        str(k); sb.append(':')
        if (v == null) sb.append("null")
        else if (isJsonLiteral(v)) sb.append(v)
        else str(v)
      }
      sb.append('}')
    }
    sb.append('}')
    sb.toString
  }

  /** Raw JSON text that should be emitted unquoted: numbers, booleans,
    * null, objects, arrays — i.e. everything the map<string,string> parse
    * produced from a non-string JSON value. Object/array-looking text is
    * VERIFIED to parse: a string VALUE like "{oops" must be quoted, or
    * the whole output line becomes invalid JSON (Go json.Marshal always
    * quotes strings). Documented remaining delta: a string value whose
    * text IS valid JSON (e.g. "[1]") re-types on render, and raw number
    * text is emitted verbatim ("5.0" stays 5.0 where Go re-renders the
    * parsed float as 5) — both still valid JSON. */
  private def isJsonLiteral(v: String): Boolean = {
    if (v.isEmpty) return false
    val c = v.charAt(0)
    ((c == '{' || c == '[') && parsesAsJson(v)) ||
      v == "true" || v == "false" || v == "null" ||
      ((c == '-' || (c >= '0' && c <= '9')) &&
        v.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?"))
  }

  private val jsonCheckFactory = new com.fasterxml.jackson.core.JsonFactory()
  private def parsesAsJson(v: String): Boolean =
    try {
      val p = jsonCheckFactory.createParser(v)
      try { while (p.nextToken() != null) {} } finally p.close()
      true
    } catch { case _: Exception => false }

  /** Per-sink write outcome; feeds A6–A8 + DLQ (report wiring in
    * [[Pipeline]]).
    *
    * `dlq` carries record-level failures as (record JSON, reason). For
    * driver-side sinks it is complete and the pipeline writes it to the
    * DLQ file; a sink that persists its own DLQ distributed (HttpSink)
    * sets `dlqHandled = Some((written, reasonCounts))` and `dlq` is only
    * a CAPPED SAMPLE — callers must use [[WriteResult.dlqWritten]] /
    * [[WriteResult.dlqReasons]] instead of sizing `dlq`, and must NOT
    * re-write `dlq` to the DLQ path when `dlqHandled` is set. */
  case class WriteResult(
      writtenOk: Long,
      writeFailed: Long,
      retry: RetryStats,
      dlq: Seq[(String, String)], // (record JSON, reason)
      dlqHandled: Option[(Long, Map[String, Long])] = None) {
    def dlqWritten: Long = dlqHandled.map(_._1).getOrElse(dlq.size.toLong)
    def dlqReasons: Map[String, Long] = dlqHandled.map(_._2).getOrElse(
      dlq.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
  }

  /** Write lifecycle: a Sink instance has PROCESS semantics — the first
    * `write` starts the output fresh (the reference CLI's `os.Create`
    * truncation), every later `write` on the same instance APPENDS.
    * That makes one instance safe to reuse across foreachBatch
    * micro-batches (a new batch must never destroy the previous
    * batches' output) while a one-shot batch run keeps the truncate
    * semantics. A RESTARTED streaming query resuming from a checkpoint
    * must not truncate either — `build(cfg, resume = true)` constructs
    * sinks that append from their very first write (the streaming layer
    * passes resume when the checkpoint already exists). Delivery across
    * restarts is AT-LEAST-ONCE: the streaming layer skips micro-batches
    * its last-batch marker says were already written, which shrinks —
    * but cannot close — the replay window of a crash between the sink
    * write and the marker write (the streaming layer's query starter
    * documents the guard). */
  trait Sink {
    /** Write all rows of a normalized frame; never throws per-record.
      * Contract: `write` runs `df`'s plan to completion in an action —
      * the report counters are `observe`d on that plan
      * ([[EtlReport.observed]]) and complete only when it has run.
      * Driver-side sinks drain through
      * [[org.apache.spark.sql.graft.Bridge.drainToDriver]], never
      * through `toLocalIterator`, whose execution ends before any row
      * is read. */
    def write(df: DataFrame): WriteResult
  }

  /** Retry policy from `cmd/etl/main.go:480-537`: exponential backoff
    * base<<attempt capped at max, plus ADDITIVE jitter in
    * [0, sleep·jitterPct) on top of the capped backoff (main.go:516-524
    * — a symmetric ±jitter would undershoot the reference's minimum
    * wait). Deterministic jitter seed per partition for
    * reproducibility.
    */
  final class RetryPolicy(maxRetries: Int, baseMs: Long, maxMs: Long,
      jitterPct: Double) extends Serializable {
    def run(attemptIo: () => Unit, rng: java.util.Random): (Boolean, Int) = {
      var attempt = 0
      while (true) {
        try { attemptIo(); return (true, attempt) }
        catch {
          case _: Exception if attempt < maxRetries =>
            var backoff = baseMs << attempt
            if (maxMs > 0 && backoff > maxMs) backoff = maxMs
            val jitter =
              if (jitterPct > 0) (rng.nextDouble() * backoff * jitterPct).toLong
              else 0L
            Thread.sleep(math.max(backoff + jitter, 0))
            attempt += 1
          case _: Exception => return (false, attempt)
        }
      }
      (false, attempt) // unreachable
    }
  }

  /** K1: stdout JSONL. Inherently a driver-side sink; stream partitions
    * through [[org.apache.spark.sql.graft.Bridge.drainToDriver]] so
    * nothing is collected wholesale. */
  final class StdoutSink(out: java.io.PrintStream = System.out) extends Sink {
    def write(df: DataFrame): WriteResult = {
      var n = 0L
      Bridge.drainToDriver(df) { r => out.println(renderRecord(r)); n += 1 }
      WriteResult(n, 0, RetryStats(), Nil)
    }
  }

  /** K2: single-file JSONL, CLI parity with `os.Create` + JSONL encode
    * (`builder.go:19-27`). Renders distributed (mapPartitions), writes a
    * part directory, then merges parts into the single target file —
    * the explicit `coalesce(1)`-style decision documented in SURVEY §7.4.
    */
  final class FileSink(path: String, startAppend: Boolean = false)
      extends Sink {
    // first write truncates (os.Create) unless resuming a checkpointed
    // stream, where prior batches' output must survive the restart
    private var keepExisting = startAppend
    def write(df: DataFrame): WriteResult = {
      import df.sparkSession.implicits._
      val tmp = path + ".spark-tmp"
      val lines = df.mapPartitions(_.map(renderRecord))
      lines.write.mode("overwrite").text(tmp)
      val n = mergeParts(df.sparkSession, tmp, path, keepExisting)
      keepExisting = true
      WriteResult(n, 0, RetryStats(), Nil)
    }
  }

  /** Merge a text part-directory into one file; returns the number of
    * NEW lines. With `keepExisting` the previous target content is
    * carried over (streamed into the staging file first) — Hadoop
    * local/checksum filesystems don't support `append()`, so
    * copy-then-rename is the portable append. Rename after delete is a
    * short non-atomic window; single-writer semantics (which a single
    * JSONL target file implies anyway) make that safe. */
  private[etl] def mergeParts(spark: org.apache.spark.sql.SparkSession,
      dir: String, target: String, keepExisting: Boolean = false): Long = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val tgt = new Path(target)
    if (tgt.getParent != null) fs.mkdirs(tgt.getParent)
    val parts = fs.listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val staging = new Path(target + ".merging")
    var lines = 0L
    val out = fs.create(staging, true)
    def copyInto(p: Path, countLines: Boolean): Unit = {
      val in = fs.open(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var r = in.read(buf)
        while (r > 0) {
          if (countLines) {
            var i = 0
            while (i < r) { if (buf(i) == '\n') lines += 1; i += 1 }
          }
          out.write(buf, 0, r); r = in.read(buf)
        }
      } finally in.close()
    }
    try {
      if (keepExisting && fs.exists(tgt)) copyInto(tgt, countLines = false)
      parts.foreach(copyInto(_, countLines = true))
    } finally out.close()
    fs.delete(tgt, false)
    if (!fs.rename(staging, tgt))
      throw new java.io.IOException(s"rename $staging -> $tgt failed")
    fs.delete(new Path(dir), true)
    lines
  }

  /** K3: rotating JSONL with byte threshold + retention
    * (`rotate.go:10-93`): `base` then `base.1 … base.N`, delete
    * `base.(N-maxFiles)`. Rotation is sequential single-writer semantics
    * by definition, so records stream through the driver; for distributed
    * rotation-by-size use `maxRecordsPerFile`/parquet instead (§2.4 K3).
    */
  final class RotatingSink(basePath: String, maxBytes: Long, maxFiles: Int,
      startAppend: Boolean = false) extends Sink {
    private def pathFor(i: Int) =
      if (i == 0) java.nio.file.Paths.get(basePath)
      else java.nio.file.Paths.get(s"$basePath.$i")
    // On checkpoint resume the highest existing rotation index is the
    // live write target (newest data rotates to ever-higher N; retention
    // deletes from the low end) — resuming at 0 would append to the
    // OLDEST file and the first rotation's open(1, fresh=true) would
    // TRUNCATE the existing basePath.1, destroying committed output.
    // The index scan tolerates retention gaps (max over name matches).
    private def highestExistingIndex(): Int = {
      import java.nio.file.{Files, Paths}
      val base = Paths.get(basePath)
      val parent = Option(base.getParent).getOrElse(Paths.get("."))
      val prefix = base.getFileName.toString + "."
      if (!Files.isDirectory(parent)) 0
      else {
        val s = Files.list(parent)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith(prefix))
            .flatMap(_.stripPrefix(prefix).toIntOption)
            .foldLeft(0)(math.max)
        } finally s.close()
      }
    }
    // rotation state survives across write() calls: a later micro-batch
    // continues the current file + index instead of truncating base.
    // On checkpoint resume (startAppend) the newest rotated file is
    // continued in APPEND; its current size is re-read so rotation
    // thresholds hold.
    private var index = if (startAppend) highestExistingIndex() else 0
    private var size =
      if (startAppend)
        try java.nio.file.Files.size(pathFor(index))
        catch { case _: java.io.IOException => 0L }
      else 0L
    private var initialized = startAppend
    def write(df: DataFrame): WriteResult = {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val base = Paths.get(basePath)
      if (base.getParent != null) Files.createDirectories(base.getParent)
      def open(i: Int, fresh: Boolean) =
        if (fresh) Files.newBufferedWriter(pathFor(i),
          O.CREATE, O.TRUNCATE_EXISTING, O.WRITE)
        else Files.newBufferedWriter(pathFor(i), O.CREATE, O.APPEND, O.WRITE)
      var out = open(index, fresh = !initialized)
      initialized = true
      var n = 0L
      try {
        Bridge.drainToDriver(df) { r =>
          val data = renderRecord(r) + "\n"
          val bytes = data.getBytes("UTF-8").length
          // rotate whenever the record would overflow — even into an
          // empty base (rotate.go:41 has no size>0 guard: an oversized
          // first record shifts the empty base and lands in a fresh one)
          if (size + bytes > maxBytes) {
            out.close()
            index += 1
            if (maxFiles > 0 && index > maxFiles)
              Files.deleteIfExists(pathFor(index - maxFiles))
            out = open(index, fresh = true)
            size = 0L
          }
          out.write(data); size += bytes; n += 1
        }
      } finally out.close()
      WriteResult(n, 0, RetryStats(), Nil)
    }
  }

  /** K4: HTTP/webhook sink — per record `POST url`, JSON body, 30 s
    * timeout, success = 2xx, retry ≤ maxRetries with backoff
    * (`internal/sink/http.go:14-97`). One HTTP client per partition;
    * failures captured (not thrown) and returned as DLQ rows.
    *
    * Delivery is AT-LEAST-ONCE: a Spark task retry or speculative copy
    * re-sends its partition's records (endpoints needing stronger
    * guarantees must dedupe on a record key). A6–A8 metrics are NOT
    * accumulators — accumulator updates in a transformation are
    * re-counted on exactly such retries — they are aggregated from a
    * per-record status frame materialized exactly once. The report's
    * A1–A5 counters, in contrast, are `observe`d on `df`'s plan
    * ([[EtlReport.observed]]) and complete in this sink's first action
    * (`status.agg`); under speculation they carry the same caveat as
    * [[ParquetSink]]'s observed row count.
    *
    * Failures are NEVER collected wholesale to the driver: under a total
    * endpoint outage the failure set is the whole batch, and a driver
    * materialization is an OOM exactly when the system is already
    * degraded. Instead, when `dlqPath` is set the failure frame is
    * rendered and written DISTRIBUTED (part files merged into the single
    * JSONL target, same machinery as FileSink); the report gets exact
    * counts + per-reason totals from a tiny aggregation, and `dlq`
    * carries only a `DlqSampleCap`-bounded sample for logs/summary. */
  final class HttpSink(url: String, policy: RetryPolicy,
      timeoutMs: Int = 30000, dlqPath: String = "") extends Sink {
    def write(df: DataFrame): WriteResult = {
      val u = url
      val pol = policy
      val tmo = timeoutMs
      import df.sparkSession.implicits._
      // one status row per record, persisted so the metrics agg and the
      // failure collect read one materialization. persist (not
      // localCheckpoint): on executor loss the partition RECOMPUTES —
      // re-sending its records, which the documented at-least-once
      // contract already covers — instead of failing the whole write on
      // an unrecoverable checkpoint block. Unpersisted before return.
      val status = df.mapPartitions { rows =>
        val client = java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofMillis(tmo)).build()
        val rng = new java.util.Random(
          org.apache.spark.TaskContext.getPartitionId().toLong)
        rows.map { row =>
          val body = renderRecord(row)
          var lastErr: String = null
          val (ok, retries) = pol.run(() => {
            try {
              val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(u))
                .timeout(java.time.Duration.ofMillis(tmo))
                .header("Content-Type", "application/json")
                .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
                .build()
              val resp = client.send(req,
                java.net.http.HttpResponse.BodyHandlers.discarding())
              val code = resp.statusCode()
              if (code < 200 || code >= 300)
                throw new java.io.IOException(s"unexpected status $code")
            } catch { case e: Exception =>
              lastErr = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
              throw e
            }
          }, rng)
          (if (ok) 1L else 0L, retries.toLong,
            if (ok) null else body, if (ok) null else lastErr)
        }
      }.toDF("ok", "retries", "body", "err")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val agg = status.agg(
        coalesce(sum(col("ok")), lit(0L)).as("ok"),
        count(lit(1)).as("total"),
        coalesce(sum(col("retries")), lit(0L)).as("retries"),
        coalesce(sum(when(col("retries") > 0, 1L).otherwise(0L)), lit(0L))
          .as("retried"),
        coalesce(max(col("retries")), lit(0L)).as("max_retries")).head()
      val okCount = agg.getAs[Long]("ok")
      val failed = agg.getAs[Long]("total") - okCount
      var sample: Seq[(String, String)] = Nil
      var handled: Option[(Long, Map[String, Long])] = None
      if (failed > 0) {
        import org.apache.spark.sql.functions.concat
        val failFrame = status.filter(col("ok") === 0)
        // the ACTUAL last error (e.g. "unexpected status 500") — the
        // reference keys DLQ reasons on err.Error() (main.go:319-325),
        // so an operator can tell 4xx from 5xx from timeouts
        val reasonCol = coalesce(col("err"),
          concat(lit("write failed after "),
            col("retries").cast("string"), lit(" retries")))
        // reason cardinality = distinct error messages (HTTP failures
        // are low-cardinality by nature) — a tiny aggregate
        val reasons = failFrame.groupBy(reasonCol.as("reason")).count()
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        sample = failFrame.select(col("body"), reasonCol.as("reason"))
          .limit(HttpSink.DlqSampleCap).collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        if (dlqPath.nonEmpty) {
          // distributed DLQ write: render lines on executors, merge the
          // part files into the single JSONL target (append semantics —
          // prior DLQ content from earlier batches is carried over)
          val lines = failFrame.select(concat(
            lit("{\"record\":"), col("body"),
            lit(",\"reason\":\""), reasonCol, lit("\"}")).as("value"))
          val tmp = dlqPath + ".spark-tmp"
          lines.write.mode("overwrite").text(tmp)
          mergeParts(df.sparkSession, tmp, dlqPath, keepExisting = true)
        }
        // no DLQ configured → failures are LOST, not "written": the
        // reference only counts dlq_written with a live dlqWriter
        // (main.go:319-325); the capped sample still feeds logs
        handled = Some(if (dlqPath.nonEmpty) (failed, reasons)
          else (0L, Map.empty[String, Long]))
      }
      status.unpersist(blocking = false)
      WriteResult(okCount, failed,
        RetryStats(agg.getAs[Long]("retries"), agg.getAs[Long]("retried"),
          agg.getAs[Long]("max_retries")),
        sample, handled)
    }
  }

  object HttpSink {
    /** Max failure rows surfaced driver-side (summary/log sample). */
    val DlqSampleCap = 100
  }

  /** Parquet sink — the reference's `s3` placeholder made real: any
    * Hadoop-FS URI (file://, s3a://, hdfs://) works. Columnar, splittable,
    * the 100 TB-scale default. */
  final class ParquetSink(path: String, startAppend: Boolean = false)
      extends Sink {
    private var firstWrite = !startAppend
    def write(df: DataFrame): WriteResult = {
      // row count via observe(): ONE execution of the upstream plan
      // (count()-then-write would scan everything twice — a full extra
      // pass at scale just for a counter)
      val obs = new org.apache.spark.sql.Observation()
      val mode = if (firstWrite) "overwrite" else "append"
      df.observe(obs, count(lit(1)).as("n")).write.mode(mode).parquet(path)
      firstWrite = false
      val n = obs.get("n").asInstanceOf[Long]
      WriteResult(n, 0, RetryStats(), Nil)
    }
  }

  /** True when the spark-sql-kafka connector is on the classpath (it is
    * an optional module, not part of core Spark). */
  def kafkaConnectorAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Kafka sink — the reference's declared-but-unimplemented type
    * (`builder.go:50-52`) made native: when the spark-sql-kafka
    * connector is present, records are produced to
    * `outputPath = "broker1:9092,broker2:9092/topic"` with the same
    * Go-shaped JSON rendering as every other sink as the message value.
    * Delivery is at-least-once (producer retries + Spark task retries).
    */
  final class KafkaSink(bootstrapServers: String, topic: String) extends Sink {
    def write(df: DataFrame): WriteResult = {
      import df.sparkSession.implicits._
      val obs = new org.apache.spark.sql.Observation()
      df.mapPartitions(_.map(renderRecord)).toDF("value")
        .observe(obs, count(lit(1)).as("n"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("topic", topic)
        .save()
      WriteResult(obs.get("n").asInstanceOf[Long], 0, RetryStats(), Nil)
    }
  }

  /** Truncate/create the DLQ file at pipeline start — the reference
    * opens it with os.Create before the run (`main.go:475-478`), so a
    * fresh run never appends onto a previous run's stale failure
    * entries. Batch runs call this always; a streaming query calls it
    * only when NOT resuming from a checkpoint (resume must keep the
    * prior batches' DLQ, same contract as the sinks). */
  def initDlq(path: String): Unit = {
    if (path.isEmpty) return
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.newBufferedWriter(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING).close()
  }

  /** K6: DLQ — JSONL of `{record, reason}` (`cmd/etl/main.go:475-478`,
    * `319-325`). `record` is the already-rendered record object. */
  def writeDlq(path: String, entries: Seq[(String, String)]): Unit = {
    if (path.isEmpty || entries.isEmpty) return
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val out = java.nio.file.Files.newBufferedWriter(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    try entries.foreach { case (record, reason) =>
      val esc = reason.replace("\\", "\\\\").replace("\"", "\\\"")
      out.write(s"""{"record":$record,"reason":"$esc"}""")
      out.write("\n")
    } finally out.close()
  }

  /** K7: builder — dispatch on output_type (`builder.go:15-55`), with the
    * Spark-native additions. Unknown type or missing connector → Left.
    * `resume = true` (checkpoint restart) → sinks append from their
    * first write instead of truncating. */
  def build(cfg: EtlConfig, resume: Boolean = false): Either[String, Sink] = {
    // the reference floors zero/unset values at USE time, after
    // validation passed them as non-negative: backoff base 100 ms, cap
    // 2 s, jitter 0.2 (main.go:485-495); rotation 10 MB / 5 files
    // (builder.go:33-39). Without the floors, base=0 is a zero-backoff
    // hot spin and max_bytes=0 rotates on every record.
    val policy = new RetryPolicy(math.max(cfg.sinkMaxRetries, 0),
      if (cfg.sinkBackoffBaseMs > 0) cfg.sinkBackoffBaseMs else 100,
      if (cfg.sinkBackoffMaxMs > 0) cfg.sinkBackoffMaxMs else 2000,
      if (cfg.sinkBackoffJitter > 0) cfg.sinkBackoffJitter else 0.2)
    cfg.outputType.toLowerCase match {
      case "" | "stdout" => Right(new StdoutSink())
      case "file" => Right(new FileSink(cfg.outputPath, resume))
      case "rotate" | "rotating" =>
        Right(new RotatingSink(cfg.outputPath,
          if (cfg.outputMaxBytes > 0) cfg.outputMaxBytes else 10L * 1024 * 1024,
          if (cfg.outputMaxFiles > 0) cfg.outputMaxFiles else 5, resume))
      case "http" | "webhook" =>
        Right(new HttpSink(cfg.outputPath, policy, dlqPath = cfg.dlqPath))
      case "parquet" | "s3" | "s3a" =>
        Right(new ParquetSink(cfg.outputPath, resume))
      case "kafka" =>
        if (!kafkaConnectorAvailable)
          Left("kafka sink requires the spark-sql-kafka connector on the classpath")
        else cfg.outputPath.split("/", 2) match {
          case Array(servers, topic) if servers.nonEmpty && topic.nonEmpty =>
            Right(new KafkaSink(servers, topic))
          case _ => Left(
            """kafka sink output path must be "bootstrap-servers/topic"""")
        }
      case other => Left(s"""unsupported output type "$other"""")
    }
  }
}
