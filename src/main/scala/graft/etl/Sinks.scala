package graft.etl

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.{Bridge, PartitionJob}
import org.apache.spark.sql.functions.{coalesce, concat, count, expr, lit,
  max, sum, when, col}

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
  *     (`builder.go:46-49`), become native here: parquet is a
  *     first-class output type on any Hadoop-FS scheme (s3a://,
  *     hdfs://);
  *   - every sink writes the same Go-shaped record lines, rendered in
  *     the tasks by one generated expression ([[rendered]]);
  *   - single-file JSONL output — the file sink (K2), the HTTP sink's
  *     DLQ (K6) and the curation CLI's JSONL output — has one writer,
  *     [[writeLines]]: one job writes attempt-named part files without
  *     Spark's commit protocol, and the driver appends the returned
  *     attempts' files in place to the one target. It needs a
  *     FileSystem with `append` (local, HDFS); on object stores use
  *     `output_type=parquet|s3`.
  *
  * Failure protocol: writers NEVER throw for a record-level failure.
  * Only the HTTP sink (K4) can fail a record: it captures failures per
  * partition, writes them to its DLQ file `{record, reason}` itself
  * (K6, `main.go:319-325`) and returns the exact counts and per-reason
  * totals in [[WriteResult]], so the A6–A8 metrics and the DLQ file
  * work like the reference's. Every other sink fails as a whole (an
  * exception) or not at all, and reports no DLQ entries.
  */
object Sinks {

  /** The record columns of the sink frame in Go's struct order
    * (`internal/model/normalized.go:3-13`). */
  private val RecordColumns = Seq("ts", "level", "service", "namespace",
    "pod", "node", "message", "trace_id", "fields")

  /** Each record of a sink frame as the one JSON line Go's encoder
    * writes for it — one generated expression,
    * [[expressions.RenderRecord]], over the record columns; no row is
    * deserialized. Every sink writes these lines. */
  def rendered(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.select(Bridge.column(expressions.RenderRecord(
      RecordColumns.map(c => Bridge.expression(df(c))))).as("line")).as[String]
  }

  /** Per-sink write outcome; feeds A6–A8 (report wiring in
    * [[Pipeline.process]]). `dlqWritten` counts the failed records the
    * sink appended to its DLQ file and `dlqReasons` totals them per
    * reason; both stay empty when no DLQ is configured (the reference
    * counts `dlq_written` only with a live DLQ writer, main.go:319-325)
    * and for every sink that cannot fail a record. */
  case class WriteResult(
      writtenOk: Long,
      writeFailed: Long,
      retry: RetryStats,
      dlqWritten: Long = 0,
      dlqReasons: Map[String, Long] = Map.empty)

  /** Write lifecycle: a Sink instance has PROCESS semantics — the first
    * `write` starts the output fresh (the reference CLI's `os.Create`
    * truncation), every later `write` on the same instance APPENDS.
    * That makes one instance safe to reuse across foreachBatch
    * micro-batches (a new batch must never destroy the previous
    * batches' output) while a one-shot batch run keeps the truncate
    * semantics. A RESTARTED streaming query resuming from a checkpoint
    * must not truncate either — `build(cfg, resume = true)` constructs
    * sinks that append from their very first write (the streaming layer
    * passes resume when the checkpoint already exists).
    *
    * Single-file targets append IN PLACE ([[writeLines]]): a batch
    * writes only its own bytes, and the target keeps its file identity.
    * A crash mid-append can leave a torn last line (no trailing `'\n'`);
    * the next appending write — a resumed sink's first — cuts it back to
    * the previous newline before it appends, so the file stays whole
    * JSONL. Delivery across restarts is AT-LEAST-ONCE: the streaming
    * layer skips micro-batches its last-batch marker says were already
    * written, which shrinks — but cannot close — the replay window of a
    * crash between the sink write and the marker write (the streaming
    * layer's query starter documents the guard); lines of a crashed
    * batch that were appended whole are written again on replay. */
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
      Bridge.drainToDriver(rendered(df)) { r => out.println(r.getString(0)); n += 1 }
      WriteResult(n, 0, RetryStats())
    }
  }

  /** K2: single-file JSONL, CLI parity with `os.Create` + JSONL encode
    * (`builder.go:19-27`). Renders in the tasks ([[rendered]]) and
    * writes through [[writeLines]]: the first write creates or
    * truncates the target, later writes (and every write of a sink
    * resumed from a checkpoint) append to it in place. */
  final class FileSink(path: String, startAppend: Boolean = false)
      extends Sink {
    private var fresh = !startAppend
    def write(df: DataFrame): WriteResult = {
      val n = writeLines(rendered(df), path, fresh)
      fresh = false
      WriteResult(n, 0, RetryStats())
    }
  }

  /** The one single-file JSONL writer, in two steps and without
    * Spark's file-commit protocol:
    *   1. one job, inside one SQL execution (so metrics observed on
    *      `lines`' plan complete): each task streams its partition's
    *      lines into its own attempt-named file under
    *      `<target>.spark-tmp` and returns (partition, file, line
    *      count). An empty partition writes no file;
    *   2. the driver appends, in partition order, the files of exactly
    *      the attempts the job returned to `target`, then deletes the
    *      temp dir. A failed or speculative attempt's file is never
    *      read, and is deleted with the dir; so is what a crashed
    *      earlier write left there, cleared before the job.
    * Returns the number of lines added. `fresh` creates or truncates
    * the target in place (`os.Create`), even for zero lines; otherwise
    * the target is created if absent and appended to, after a torn last
    * line is cut ([[cutTornLine]]). Only the new lines are written, so a
    * batch costs its own bytes, not the output so far. Delivery is still
    * AT-LEAST-ONCE: a crash during step 2 leaves the lines appended so
    * far, and a replayed batch writes them again (see [[Sink]]).
    *
    * Any Hadoop FileSystem with `append` works (local, HDFS). The local
    * FileSystem checksums its files and cannot append, so local temp
    * files and a local target are written through its raw FileSystem,
    * and created with java.nio ([[createFile]]): no `.crc` files and no
    * `chmod` forks; a stale `.crc` beside the target is deleted. A
    * FileSystem without `append` (object stores, s3a://) fails the
    * first appending write with an UnsupportedOperationException that
    * points to `output_type=parquet|s3`. Single writer per target. */
  private[graft] def writeLines(lines: Dataset[String], target: String,
      fresh: Boolean): Long = {
    val conf = lines.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new Path(target + ".spark-tmp")
    val fs = rawFileSystem(tmp, conf)
    fs.delete(tmp, true)
    val parts = PartitionJob.run(lines.toDF(), "writeLines") { (taskConf, ctx, rows) =>
      if (!rows.hasNext) (ctx.partitionId(), null: String, 0L)
      else {
        val file = f"part-${ctx.partitionId()}%05d-attempt-${ctx.taskAttemptId()}"
        val out = createFile(rawFileSystem(tmp, taskConf), new Path(tmp, file))
        var n = 0L
        var bytes = 0L
        try rows.foreach { r =>
          if (!r.isNullAt(0)) {
            val line = r.getUTF8String(0)
            line.writeTo(out)
            bytes += line.numBytes
          }
          out.write('\n')
          n += 1
        } finally out.close()
        PartitionJob.addOutput(ctx, bytes + n, n)
        (ctx.partitionId(), file, n)
      }
    }.sortBy(_._1)
    val out = openTarget(target, fresh, conf)
    try {
      val buf = new Array[Byte](1 << 16)
      parts.filter(_._2 != null).foreach { case (_, file, _) =>
        val in = fs.open(new Path(tmp, file))
        try {
          var r = in.read(buf)
          while (r > 0) { out.write(buf, 0, r); r = in.read(buf) }
        } finally in.close()
      }
    } finally out.close()
    fs.delete(tmp, true)
    parts.map(_._3).sum
  }

  /** The FileSystem of `p`, or its raw FileSystem when it checksums
    * (the local one). Never changes the shared cached instance. */
  private def rawFileSystem(p: Path, conf: org.apache.hadoop.conf.Configuration)
      : FileSystem = p.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** `p` created, or truncated in place, for writing through `fs`, with
    * its parent directories. Hadoop's local FileSystem gives each file
    * and directory it creates a permission by forking `chmod` when its
    * native library is absent; a local file is created with java.nio
    * instead, with the mode the process umask gives any new file. */
  private def createFile(fs: FileSystem, p: Path): java.io.OutputStream = fs match {
    case local: RawLocalFileSystem =>
      val f = local.pathToFile(p).toPath
      java.nio.file.Files.createDirectories(f.getParent)
      new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(f), 1 << 16)
    case _ => fs.create(p, true)
  }

  /** `target` opened for writing through its Hadoop FileSystem: created
    * or truncated in place when `fresh`, else created if absent or
    * appended to after a torn last line is cut. */
  private def openTarget(target: String, fresh: Boolean,
      conf: org.apache.hadoop.conf.Configuration): java.io.OutputStream = {
    val tgt = new Path(target)
    val fs = tgt.getFileSystem(conf) match {
      case c: ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(tgt), false)
        c.getRawFileSystem
      case f => f
    }
    if (fresh || !fs.exists(tgt)) createFile(fs, tgt)
    else
      try { cutTornLine(fs, tgt); fs.append(tgt) }
      catch { case e: UnsupportedOperationException =>
        throw new UnsupportedOperationException(s"$target: the " +
          s"${fs.getScheme} filesystem cannot append, and a single-file " +
          "JSONL target appends every write after its first; use " +
          "output_type=parquet|s3 on this filesystem", e)
      }
  }

  /** Cut a torn last line — the bytes after the last `'\n'`, left by a
    * crash mid-append — off `p`, so the next append starts a whole line.
    * A whole file costs a one-byte read. */
  private def cutTornLine(fs: FileSystem, p: Path): Unit = {
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    val keep = try {
      val buf = new Array[Byte](1 << 16)
      var chunk = 1
      var end = len
      var keep = -1L
      while (keep < 0 && end > 0) {
        val start = math.max(0L, end - chunk)
        val k = (end - start).toInt
        in.readFully(start, buf, 0, k)
        var i = k - 1
        while (i >= 0 && buf(i) != '\n') i -= 1
        if (i >= 0) keep = start + i + 1 else end = start
        chunk = buf.length
      }
      math.max(keep, 0L)
    } finally in.close()
    // HDFS may finish a truncate in the background (false): the file
    // cannot take the append until it has
    if (keep < len && !fs.truncate(p, keep))
      throw new java.io.IOException(
        s"$p: cutting its torn last line is still in progress; retry the write")
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
        Bridge.drainToDriver(rendered(df)) { r =>
          val data = r.getString(0) + "\n"
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
      WriteResult(n, 0, RetryStats())
    }
  }

  /** K4: HTTP/webhook sink — per record `POST url`, JSON body, 30 s
    * timeout, success = 2xx, retry ≤ maxRetries with backoff
    * (`internal/sink/http.go:14-97`). One HTTP client per partition;
    * failures are captured (not thrown) and go to the DLQ file.
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
    * Failures are NEVER collected to the driver: under a total endpoint
    * outage the failure set is the whole batch, and a driver
    * materialization is an OOM exactly when the system is already
    * degraded. Instead, when `dlqPath` is set, the failure frame is
    * rendered as `{record, reason}` lines and appended DISTRIBUTED to the
    * DLQ file through [[writeLines]] (the pipeline truncates it at run
    * start, [[initDlq]]); the report gets exact counts and per-reason
    * totals from a tiny aggregation. With no `dlqPath`, failures are
    * counted in `writeFailed` only. */
  final class HttpSink(url: String, policy: RetryPolicy,
      timeoutMs: Int = 30000, dlqPath: String = "") extends Sink {
    def write(df: DataFrame): WriteResult = {
      val u = url
      val pol = policy
      val tmo = timeoutMs
      import df.sparkSession.implicits._
      // one status row per record, persisted so the metrics agg, the
      // reason totals and the DLQ write read one materialization. persist (not
      // localCheckpoint): on executor loss the partition RECOMPUTES —
      // re-sending its records, which the documented at-least-once
      // contract already covers — instead of failing the whole write on
      // an unrecoverable checkpoint block. Unpersisted before return.
      val status = rendered(df).mapPartitions { bodies =>
        val client = java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofMillis(tmo)).build()
        val rng = new java.util.Random(
          org.apache.spark.TaskContext.getPartitionId().toLong)
        bodies.map { body =>
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
      val (dlqWritten, reasons) =
        if (failed == 0 || dlqPath.isEmpty) (0L, Map.empty[String, Long])
        else {
          // the ACTUAL last error (e.g. "unexpected status 500") — the
          // reference keys DLQ reasons on err.Error() (main.go:319-325),
          // so an operator can tell 4xx from 5xx from timeouts
          val failFrame = status.filter(col("ok") === 0).select(col("body"),
            coalesce(col("err"), concat(lit("write failed after "),
              col("retries").cast("string"), lit(" retries"))).as("reason"))
          // reason cardinality = distinct error messages (HTTP failures
          // are low-cardinality by nature) — a tiny aggregate
          val reasons = failFrame.groupBy("reason").count()
            .collect().map(r => (r.getString(0), r.getLong(1))).toMap
          // `record` is the rendered record; to_json escapes the reason
          val lines = failFrame.select(concat(lit("{\"record\":"), col("body"),
            lit(","), expr("substr(to_json(named_struct('reason', reason)), 2)")))
          (writeLines(lines.as[String], dlqPath, fresh = false), reasons)
        }
      status.unpersist(blocking = false)
      WriteResult(okCount, failed,
        RetryStats(agg.getAs[Long]("retries"), agg.getAs[Long]("retried"),
          agg.getAs[Long]("max_retries")),
        dlqWritten, reasons)
    }
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
      WriteResult(n, 0, RetryStats())
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
      val obs = new org.apache.spark.sql.Observation()
      rendered(df).toDF("value")
        .observe(obs, count(lit(1)).as("n"))
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("topic", topic)
        .save()
      WriteResult(obs.get("n").asInstanceOf[Long], 0, RetryStats())
    }
  }

  /** Truncate/create the DLQ file at pipeline start — the reference
    * opens it with os.Create before the run (`main.go:475-478`), so a
    * fresh run never appends onto a previous run's stale failure
    * entries. Batch runs call this always; a streaming query calls it
    * only when NOT resuming from a checkpoint (resume must keep the
    * prior batches' DLQ, same contract as the sinks). */
  def initDlq(path: String): Unit =
    if (path.nonEmpty) openTarget(path, fresh = true, org.apache.spark.sql
      .SparkSession.active.sparkContext.hadoopConfiguration).close()

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
