package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The batch pipeline: source → parse → normalize → transforms → sink +
  * report — the Spark re-expression of `runPipeline`
  * (`/root/reference/cmd/etl/main.go:234-455`).
  *
  * One declarative plan end-to-end, and one per-batch core for every
  * driver: [[process]] observes the report counters on the transformed
  * frame ([[EtlReport.observed]]) and writes it through [[writeKept]],
  * so the sink's pass also computes the report — one
  * Spark job per batch for a distributed sink. [[run]] calls it once,
  * [[runStdin]] once per line batch, and the streaming layer once per
  * micro-batch. Worker pools / queues / mutexes from the reference are
  * Spark's task scheduler; [[StageTimings]] says what is timed
  * (pipelined stages aren't separately timable, SURVEY §2.3 A9).
  */
object Pipeline {

  case class Result(report: EtlReport)

  /** The sink step of one batch: the kept rows ([[Transforms.split]]) in
    * the sink's record columns go to `sink`, which writes its own DLQ
    * (the HTTP sink, the only one that can fail a record). */
  def writeKept(transformed: DataFrame, sink: Sinks.Sink): Sinks.WriteResult =
    sink.write(Transforms.split(transformed)._1.select("ts", "level",
      "message", "service", "namespace", "pod", "node", "trace_id", "fields"))

  /** One batch end to end, in one pass: observe A1–A5 on `transformed`
    * ([[EtlReport.observed]]), write the observed frame ([[writeKept]],
    * A6–A8), then read the report the sink's action completed and fold
    * the write stats and the pass timing into it. Nothing is cached.
    * Multi-batch callers combine the results with [[EtlReport.merge]];
    * the duration fields are left to the caller. */
  def process(transformed: DataFrame, sink: Sinks.Sink): EtlReport = {
    val (observed, report) = EtlReport.observed(transformed)
    val t0 = System.nanoTime()
    val wr = writeKept(observed, sink)
    val writing = (System.nanoTime() - t0) / 1e9
    report().copy(
      writtenOk = wr.writtenOk,
      writeFailed = wr.writeFailed,
      retryStats = wr.retry,
      dlqWritten = wr.dlqWritten,
      dlqReasons = wr.dlqReasons,
      stageTimings = StageTimings(writingSeconds = writing))
  }

  /** Run on an already-loaded raw-lines frame (library/test entry —
    * mirror of `runPipeline(in io.Reader, …)`). */
  def run(lines: DataFrame, cfg: EtlConfig): Either[String, Result] =
    for {
      _ <- EtlConfig.validate(cfg)
      sink <- Sinks.build(cfg)
      transformed <- TransformRegistry(cfg)(Normalize(lines))
    } yield {
      val t0 = System.nanoTime()
      // fresh run: truncate the DLQ like the reference's os.Create —
      // stale failure entries from a prior run must not accumulate
      Sinks.initDlq(cfg.dlqPath)
      Result(process(transformed, sink)
        .withDuration((System.nanoTime() - t0) / 1e9))
    }

  /** Incremental byte-level line reader behind [[runStdin]] (r15 —
    * closes the r14 drain-loop gap): splits on `'\n'` at the BYTE
    * level (safe for UTF-8 — a newline byte never occurs inside a
    * multi-byte sequence), keeps the unterminated tail across reads,
    * and only ever issues a potentially-blocking `read` when the
    * queue of completed lines is empty. `BufferedReader.ready()` is
    * true when ANY character is buffered — not a complete line — so
    * the r14 drain could block mid-batch on a producer that wrote a
    * partial line and paused, delaying lines already drained. Here a
    * partial line simply stays in the tail and the batch ships
    * without it. CR before LF is stripped (the reference's
    * `bufio.Scanner` line semantics); a final unterminated line
    * flushes at EOF. */
  private[etl] final class LineBatcher(in: java.io.InputStream) {
    private val buf = new Array[Byte](64 * 1024)
    private var tail = new java.io.ByteArrayOutputStream()
    private val queue = new scala.collection.mutable.Queue[String]()
    private var eof = false

    private def decode(bytes: Array[Byte], len: Int): String = {
      val n = if (len > 0 && bytes(len - 1) == '\r') len - 1 else len
      new String(bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8)
    }

    /** Consume one read()'s worth of bytes into completed lines. */
    private def ingest(n: Int): Unit = {
      var start = 0
      var i = 0
      while (i < n) {
        if (buf(i) == '\n') {
          tail.write(buf, start, i - start)
          val b = tail.toByteArray
          queue += decode(b, b.length)
          tail.reset()
          start = i + 1
        }
        i += 1
      }
      tail.write(buf, start, n - start)
    }

    /** Next batch of up to `max` COMPLETED lines. Blocks only while
      * the queue is empty; once any line is queued, reads happen only
      * when bytes are already available. Returns None at EOF once all
      * lines (including a final unterminated one) are delivered. */
    def nextBatch(max: Int): Option[Seq[String]] = {
      while (!eof && queue.size < max &&
          (queue.isEmpty || in.available() > 0)) {
        val n = in.read(buf) // blocks only when queue is empty
        if (n < 0) {
          eof = true
          if (tail.size() > 0) {
            val b = tail.toByteArray
            queue += decode(b, b.length)
            tail.reset()
          }
        } else ingest(n)
      }
      if (queue.isEmpty) None
      else {
        val out = Vector.newBuilder[String]
        var k = 0
        while (k < max && queue.nonEmpty) { out += queue.dequeue(); k += 1 }
        Some(out.result())
      }
    }
  }

  /** TRUE incremental stdin (r14 — replaces the r13 temp-file spool):
    * a bounded line-batch reader feeding micro-batches, the
    * reference's incremental consumption (`cmd/etl/main.go:340-359`).
    * An unbounded pipe makes progress: [[LineBatcher]] BLOCKS only while
    * it holds no completed line, then drains whatever complete lines
    * the buffered bytes yield up to `batchLines` (a partial trailing
    * line waits in its tail — it can never stall a drained batch),
    * runs that batch through parse → normalize → transforms →
    * [[process]], and loops — so output lands after every burst
    * instead of after EOF. The transform chain is resolved once, before
    * the first batch. One Sink instance across batches gives the append
    * lifecycle (the foreachBatch contract); reports ADD via
    * [[EtlReport.merge]]. A batch is an RDD-backed frame, so it runs on
    * the executors: over a local relation, the optimizer's
    * `ConvertToLocalRelation` would fold parse and normalize into it
    * and evaluate the batch on the driver, interpreted.
    * Driver memory is bounded by `batchLines` raw lines per batch.
    * Returns the merged report at EOF; a never-closed pipe simply
    * keeps consuming (the reference behaves the same). Callers route
    * only JSONL here — structured formats (csv/orc/parquet) need the
    * whole byte stream (header/footer) and spool to a file instead
    * ([[Main.main]]). */
  def runStdin(spark: SparkSession, cfg: EtlConfig,
      in: java.io.InputStream, batchLines: Int = 10000)
      : Either[String, EtlReport] =
    for {
      _ <- EtlConfig.validate(cfg)
      sink <- Sinks.build(cfg)
      transform <- TransformRegistry.buildTransforms(cfg)
    } yield {
      val t0 = System.nanoTime()
      Sinks.initDlq(cfg.dlqPath)
      val batcher = new LineBatcher(in)
      import spark.implicits._
      Iterator.continually(batcher.nextBatch(batchLines)).takeWhile(_.isDefined)
        .flatten.foldLeft(EtlReport()) { (acc, batch) =>
          val lines = spark.createDataset(spark.sparkContext.parallelize(batch))
            .toDF("line").filter(trim(col("line")) =!= "")
          EtlReport.merge(acc, process(transform(Normalize(lines)), sink))
        }
        .withDuration((System.nanoTime() - t0) / 1e9)
    }

  /** Full CLI-equivalent run: read path (or incremental stdin via
    * [[runStdin]] when the path is `-`), execute, write report
    * (`main.go:151-208`). Operational lines go through [[EtlLogger]]
    * (the reference's slog wrapper, `cmd/etl/main.go:362`); the data
    * path never logs per-record. */
  def runFile(spark: SparkSession, cfg: EtlConfig): Either[String, Result] = {
    val log = EtlLogger.withAttrs("input" -> cfg.inputPath)
    log.info("pipeline starting",
      "output_type" -> (if (cfg.outputType.isEmpty) "stdout" else cfg.outputType))
    // S1 breadth: structured formats re-encode to the same line
    // protocol (empty cell = absent key) — downstream unchanged
    val lines = cfg.inputFormat.toLowerCase match {
      case "" | "jsonl" => Normalize.parseLines(spark, cfg.inputPath)
      case fmt => Normalize.parseRecordLines(spark, cfg.inputPath, fmt)
    }
    val result = run(lines, cfg).map { res =>
      if (cfg.reportPath.nonEmpty) res.report.writeJson(cfg.reportPath)
      res
    }
    result match {
      case Right(res) => log.info("pipeline complete",
        "total_lines" -> res.report.totalLines,
        "written_ok" -> res.report.writtenOk,
        "written_failed" -> res.report.writeFailed,
        "duration_seconds" -> res.report.durationSeconds)
      case Left(e) => log.error("pipeline failed", "error" -> e)
    }
    result
  }

  /** Config-driven corpus curation from the CLI (`--curation-config
    * stages.yaml`): the curation registry
    * ([[graft.ops.CurationPipeline]]) applied to a documents table —
    * the reference's config-file-driven transform chain
    * (`internal/plugins/registry.go:26-28`, the config `transforms`
    * list) scaled from log records to corpus curation. Input `jsonl`
    * (schema inferred) or `parquet`; output parquet
    * (`output_type=parquet`) or single-file JSONL (one document per
    * line, written like the file sink's first write:
    * [[Sinks.writeLines]]). Returns (docs_in, docs_out).
    * Config-shape errors come back Left BEFORE any Spark job runs. */
  def runCuration(spark: SparkSession, cfg: EtlConfig)
      : Either[String, (Long, Long)] = {
    if (cfg.outputPath.isEmpty)
      return Left("curation mode requires --output")
    val cfgText =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cfg.curationConfig)), "UTF-8")
      catch { case e: Exception =>
        return Left(s"read ${cfg.curationConfig}: ${e.getMessage}") }
    graft.ops.CurationPipeline.parseStages(cfgText)
      .left.map(e => s"curation config: $e").flatMap { stages =>
      val docs = cfg.inputFormat match {
        case "parquet" => spark.read.parquet(cfg.inputPath)
        case _ => spark.read.json(cfg.inputPath)
      }
      val missing = Seq("doc_id", "text").filterNot(docs.columns.contains)
      if (missing.nonEmpty)
        Left(s"curation input lacks column(s) ${missing.mkString(", ")} " +
          s"(found: ${docs.columns.sorted.mkString(", ")})")
      else {
        val nIn = docs.count()
        val out = graft.ops.CurationPipeline(docs, stages)
        val nOut =
          if (cfg.outputType == "parquet") {
            out.write.mode("overwrite").parquet(cfg.outputPath)
            spark.read.parquet(cfg.outputPath).count()
          } else Sinks.writeLines(out.toJSON, cfg.outputPath, fresh = true)
        Right((nIn, nOut))
      }
    }
  }

  /** The human summary printed after a run (`main.go:166-208`). */
  def summary(r: EtlReport): String = {
    val sb = new StringBuilder
    sb ++= s"Total Lines: ${r.totalLines}  Parsed: ${r.jsonParsed}  JSON Failed: ${r.jsonFailed}\n"
    sb ++= s"Normalized OK: ${r.normalizedOk}  Failed: ${r.normalizedFailed}\n"
    sb ++= s"Written OK: ${r.writtenOk}  Failed: ${r.writeFailed}\n"
    sb ++= s"Filtered: level=${r.filteredLevel} service=${r.filteredService} other=${r.filteredOther}\n"
    sb ++= f"Duration: ${r.durationSeconds}%.3fs  Throughput: ${r.throughput}%.1f lines/sec\n"
    if (r.dlqWritten > 0) sb ++= s"DLQ Written: ${r.dlqWritten}\n"
    sb.toString
  }
}

/** CLI entry — config precedence defaults < file < env < flags
  * (`cmd/etl/main.go:54-137`), validation, run, summary print. */
object Main {

  /** stdin (`-`) routing: Some(temp-file extension) when the stream
    * must SPOOL to a file before parsing — curation mode (finite
    * corpus snapshot; schema inference and dedup need the whole
    * input) and structured --input-format values (csv/orc/parquet
    * carry their schema in a header/footer, so the incremental JSONL
    * batcher would mis-count every line as a parse failure — r15
    * ADVICE fix); None routes through the incremental
    * [[Pipeline.runStdin]]. */
  private[etl] def stdinSpoolExt(cfg: EtlConfig): Option[String] = {
    val fmt = cfg.inputFormat.toLowerCase
    if (cfg.curationConfig.nonEmpty) Some(".jsonl")
    else if (fmt.nonEmpty && fmt != "jsonl") Some(s".$fmt")
    else None
  }

  def main(args: Array[String]): Unit = {
    val flags = parseFlags(args)
    val fileCfgPath = flags.get("config").orElse(sys.env.get("ETL_CONFIG"))
    val fileCfg = fileCfgPath match {
      case Some(p) => EtlConfig.load(p) match {
        case Right(c) => c
        case Left(e) => System.err.println(e); sys.exit(2); EtlConfig.zero
      }
      case None => EtlConfig.zero
    }
    var cfg = EtlConfig.merge(EtlConfig.default, fileCfg)
    cfg = EtlConfig.fromEnv(cfg)
    cfg = EtlConfig.merge(cfg, flagsToConfig(flags))
    EtlConfig.validate(cfg) match {
      case Left(e) => System.err.println(e); sys.exit(2)
      case Right(_) =>
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SIGINT/SIGTERM → bounded drain (reference cmd/etl/main.go:148):
    // streaming queries finish their in-flight micro-batch within
    // shutdown_timeout_seconds; batch jobs are cancelled.
    Shutdown.install(spark, cfg.shutdownTimeoutSeconds)
    // stdin: `-` consumes INCREMENTALLY in bounded line batches
    // (S2 — reference `cmd/etl/main.go:340-359`; r14 replaced the r13
    // temp-file spool, under which an unbounded pipe never started).
    // Curation mode still spools (it reads a FINITE corpus snapshot —
    // schema inference and dedup need the whole input anyway), and so
    // do structured --input-format streams (csv/orc/parquet): those
    // formats need the whole byte stream (header / footer) before any
    // record parses, so the incremental JSONL batcher would count
    // every line as a parse failure (r15 — closes the r14 regression
    // where a CSV pipe was silently DLQ'd line by line).
    if (cfg.inputPath == "-" || cfg.inputPath.isEmpty) {
      Main.stdinSpoolExt(cfg) match {
        case Some(ext) =>
        val tmp = java.nio.file.Files.createTempFile("etl-stdin", ext)
        java.nio.file.Files.copy(System.in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        cfg = cfg.copy(inputPath = tmp.toString)
        case None =>
        Pipeline.runStdin(spark, cfg, System.in) match {
          case Right(report) =>
            if (cfg.reportPath.nonEmpty) report.writeJson(cfg.reportPath)
            print(Pipeline.summary(report))
          case Left(e) => System.err.println(e); spark.stop(); sys.exit(2)
        }
        spark.stop()
        return
      }
    }
    // curation mode: --curation-config stages.yaml runs the corpus
    // curation registry instead of the log pipeline
    if (cfg.curationConfig.nonEmpty) {
      Pipeline.runCuration(spark, cfg) match {
        case Right((nIn, nOut)) =>
          println(s"Curation: $nIn docs in, $nOut docs out -> ${cfg.outputPath}")
        case Left(e) =>
          System.err.println(e); spark.stop()
          // config-shape errors (bad stages file, missing output) are
          // validation failures → 2, like the reference's config errors
          sys.exit(if (e.startsWith("curation config:") ||
            e.contains("requires --output")) 2 else 1)
      }
      spark.stop()
      return
    }
    Pipeline.runFile(spark, cfg) match {
      case Right(res) => print(Pipeline.summary(res.report))
      case Left(e) => System.err.println(e); sys.exit(1)
    }
    spark.stop()
  }

  private def parseFlags(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.drop(2)
        val eq = key.indexOf('=')
        if (eq >= 0) m(key.take(eq)) = key.drop(eq + 1)
        else if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          m(key) = args(i + 1); i += 1
        } else m(key) = "true"
      }
      i += 1
    }
    m.toMap
  }

  private def flagsToConfig(f: Map[String, String]): EtlConfig = {
    import scala.util.Try
    val z = EtlConfig.zero
    z.copy(
      inputPath = f.getOrElse("input", z.inputPath),
      inputFormat = f.getOrElse("input-format", z.inputFormat),
      outputPath = f.getOrElse("output", z.outputPath),
      reportPath = f.getOrElse("report", z.reportPath),
      outputType = f.getOrElse("output-type", z.outputType),
      dlqPath = f.getOrElse("dlq", z.dlqPath),
      filterLevels = f.get("filter-levels").map(EtlConfig.parseList).getOrElse(z.filterLevels),
      filterServices = f.get("filter-services").map(EtlConfig.parseList).getOrElse(z.filterServices),
      redactKeys = f.get("redact-keys").map(EtlConfig.parseList).getOrElse(z.redactKeys),
      transforms = f.get("transforms").map(EtlConfig.parseList).getOrElse(z.transforms),
      curationConfig = f.getOrElse("curation-config", z.curationConfig),
      maxWorkers = f.get("max-workers").flatMap(v => Try(v.toInt).toOption).getOrElse(z.maxWorkers),
      batchSize = f.get("batch-size").flatMap(v => Try(v.toInt).toOption).getOrElse(z.batchSize),
      sinkMaxRetries = f.get("sink-max-retries").flatMap(v => Try(v.toInt).toOption).getOrElse(z.sinkMaxRetries))
  }
}
