package graft.etl

import scala.util.Try

/** Runtime options — mirror of the reference's config surface
  * (`/root/reference/internal/config/config.go:16-42`) with the same
  * defaults (`config.go:45-67`), merge semantics ("non-zero wins",
  * `config.go:70-141`), `ETL_*` env overrides (`config.go:144-237`),
  * YAML-subset/JSON file loading (`config.go:239-333`) and validation
  * messages (`config.go:362-451`).
  *
  * Spark-specific additions: `outputType` also accepts the natively
  * supported `parquet`, `s3`/`s3a` and `kafka` sinks the reference only
  * stubbed (`internal/sink/builder.go:46-49`), plus `streaming` toggles.
  */
case class EtlConfig(
    inputPath: String = "examples/k8s_logs.jsonl",
    inputFormat: String = "jsonl",
    outputPath: String = "",
    reportPath: String = "report.json",
    outputType: String = "stdout",
    outputMaxBytes: Long = 10L * 1024 * 1024,
    outputMaxFiles: Int = 5,
    filterLevels: Seq[String] = Seq("WARN", "ERROR"),
    filterServices: Seq[String] = Seq.empty,
    redactKeys: Seq[String] = Seq.empty,
    transforms: Seq[String] = Seq("filter_redact"),
    curationConfig: String = "",
    maxWorkers: Int = 4,
    queueSize: Int = 128,
    sinkMaxRetries: Int = 3,
    sinkBackoffBaseMs: Int = 100,
    sinkBackoffMaxMs: Int = 2000,
    sinkBackoffJitter: Double = 0.2,
    dlqPath: String = "",
    batchSize: Int = 100,
    batchFlushIntervalMs: Int = 1000,
    shutdownTimeoutSeconds: Int = 30,
    logLevel: String = "info",
    logFormat: String = "json")

object EtlConfig {

  def default: EtlConfig = EtlConfig()

  /** Zero config — the identity for [[merge]] (Go's `Config{}`). */
  def zero: EtlConfig = EtlConfig(inputPath = "", inputFormat = "", reportPath = "",
    outputType = "", outputMaxBytes = 0, outputMaxFiles = 0,
    filterLevels = Seq.empty, transforms = Seq.empty, maxWorkers = 0,
    queueSize = 0, sinkMaxRetries = 0, sinkBackoffBaseMs = 0,
    sinkBackoffMaxMs = 0, sinkBackoffJitter = 0, batchSize = 0,
    batchFlushIntervalMs = 0, shutdownTimeoutSeconds = 0, logLevel = "",
    logFormat = "")

  /** Overlay non-zero values from `override_` onto `base`
    * (`config.go:70-141`). */
  def merge(base: EtlConfig, o: EtlConfig): EtlConfig = EtlConfig(
    inputPath = if (o.inputPath.nonEmpty) o.inputPath else base.inputPath,
    inputFormat = if (o.inputFormat.nonEmpty) o.inputFormat else base.inputFormat,
    outputPath = if (o.outputPath.nonEmpty) o.outputPath else base.outputPath,
    reportPath = if (o.reportPath.nonEmpty) o.reportPath else base.reportPath,
    outputType = if (o.outputType.nonEmpty) o.outputType else base.outputType,
    outputMaxBytes = if (o.outputMaxBytes != 0) o.outputMaxBytes else base.outputMaxBytes,
    outputMaxFiles = if (o.outputMaxFiles != 0) o.outputMaxFiles else base.outputMaxFiles,
    filterLevels = if (o.filterLevels.nonEmpty) o.filterLevels else base.filterLevels,
    filterServices = if (o.filterServices.nonEmpty) o.filterServices else base.filterServices,
    redactKeys = if (o.redactKeys.nonEmpty) o.redactKeys else base.redactKeys,
    transforms = if (o.transforms.nonEmpty) o.transforms else base.transforms,
    curationConfig =
      if (o.curationConfig.nonEmpty) o.curationConfig else base.curationConfig,
    maxWorkers = if (o.maxWorkers > 0) o.maxWorkers else base.maxWorkers,
    queueSize = if (o.queueSize > 0) o.queueSize else base.queueSize,
    sinkMaxRetries = if (o.sinkMaxRetries > 0) o.sinkMaxRetries else base.sinkMaxRetries,
    sinkBackoffBaseMs = if (o.sinkBackoffBaseMs > 0) o.sinkBackoffBaseMs else base.sinkBackoffBaseMs,
    sinkBackoffMaxMs = if (o.sinkBackoffMaxMs > 0) o.sinkBackoffMaxMs else base.sinkBackoffMaxMs,
    sinkBackoffJitter = if (o.sinkBackoffJitter > 0) o.sinkBackoffJitter else base.sinkBackoffJitter,
    dlqPath = if (o.dlqPath.nonEmpty) o.dlqPath else base.dlqPath,
    batchSize = if (o.batchSize > 0) o.batchSize else base.batchSize,
    batchFlushIntervalMs = if (o.batchFlushIntervalMs > 0) o.batchFlushIntervalMs else base.batchFlushIntervalMs,
    shutdownTimeoutSeconds = if (o.shutdownTimeoutSeconds > 0) o.shutdownTimeoutSeconds else base.shutdownTimeoutSeconds,
    logLevel = if (o.logLevel.nonEmpty) o.logLevel else base.logLevel,
    logFormat = if (o.logFormat.nonEmpty) o.logFormat else base.logFormat)

  /** Split on `,`/`;`, trim, drop empties (`config.go:263-274`). */
  def parseList(s: String): Seq[String] =
    s.split("[,;]").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** `ETL_*` environment overrides (`config.go:144-237`). Numeric parse
    * failures are silently ignored, as in the reference. */
  def fromEnv(base: EtlConfig, env: Map[String, String] = sys.env): EtlConfig = {
    def s(k: String, cur: String): String = env.get(k).filter(_.nonEmpty).getOrElse(cur)
    def i(k: String, cur: Int): Int =
      env.get(k).filter(_.nonEmpty).flatMap(v => Try(v.toInt).toOption).getOrElse(cur)
    def l(k: String, cur: Long): Long =
      env.get(k).filter(_.nonEmpty).flatMap(v => Try(v.toLong).toOption).getOrElse(cur)
    def d(k: String, cur: Double): Double =
      env.get(k).filter(_.nonEmpty).flatMap(v => Try(v.toDouble).toOption).getOrElse(cur)
    def list(k: String, cur: Seq[String]): Seq[String] =
      env.get(k).filter(_.nonEmpty).map(parseList).getOrElse(cur)
    base.copy(
      inputPath = s("ETL_INPUT", base.inputPath),
      inputFormat = s("ETL_INPUT_FORMAT", base.inputFormat),
      outputPath = s("ETL_OUTPUT", base.outputPath),
      outputType = s("ETL_OUTPUT_TYPE", base.outputType),
      outputMaxBytes = l("ETL_OUTPUT_MAX_BYTES", base.outputMaxBytes),
      outputMaxFiles = i("ETL_OUTPUT_MAX_FILES", base.outputMaxFiles),
      maxWorkers = i("ETL_MAX_WORKERS", base.maxWorkers),
      queueSize = i("ETL_QUEUE_SIZE", base.queueSize),
      sinkMaxRetries = i("ETL_SINK_MAX_RETRIES", base.sinkMaxRetries),
      sinkBackoffBaseMs = i("ETL_SINK_BACKOFF_BASE_MS", base.sinkBackoffBaseMs),
      sinkBackoffMaxMs = i("ETL_SINK_BACKOFF_MAX_MS", base.sinkBackoffMaxMs),
      sinkBackoffJitter = d("ETL_SINK_BACKOFF_JITTER_PCT", base.sinkBackoffJitter),
      dlqPath = s("ETL_DLQ", base.dlqPath),
      reportPath = s("ETL_REPORT", base.reportPath),
      filterLevels = list("ETL_FILTER_LEVELS", base.filterLevels),
      filterServices = list("ETL_FILTER_SERVICES", base.filterServices),
      redactKeys = list("ETL_REDACT_KEYS", base.redactKeys),
      transforms = list("ETL_TRANSFORMS", base.transforms),
      curationConfig = s("ETL_CURATION_CONFIG", base.curationConfig),
      batchSize = i("ETL_BATCH_SIZE", base.batchSize),
      batchFlushIntervalMs = i("ETL_BATCH_FLUSH_INTERVAL_MS", base.batchFlushIntervalMs),
      shutdownTimeoutSeconds = i("ETL_SHUTDOWN_TIMEOUT_SECONDS", base.shutdownTimeoutSeconds),
      logLevel = s("ETL_LOG_LEVEL", base.logLevel),
      logFormat = s("ETL_LOG_FORMAT", base.logFormat))
  }

  /** Load a JSON or YAML-subset config file (`config.go:239-261`).
    * `.yaml`/`.yml` → the same limited YAML shape the reference parses
    * (top-level scalars + simple indented lists, `config.go:279-333`);
    * anything else → JSON (via Jackson, shipped with Spark). */
  def load(path: String): Either[String, EtlConfig] = {
    val raw = Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
    raw.toEither.left.map(e => s"read $path: ${e.getMessage}").flatMap { text =>
      val ext = path.toLowerCase.reverse.takeWhile(_ != '.').reverse
      val parsed: Either[String, Map[String, Any]] =
        if (ext == "yaml" || ext == "yml") parseYamlSubset(text)
        else parseJsonObject(text)
      parsed.map(fromKeyMap)
    }
  }

  private def parseJsonObject(text: String): Either[String, Map[String, Any]] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import scala.jdk.CollectionConverters._
    Try {
      val m = new ObjectMapper().readValue(text, classOf[java.util.Map[String, Object]])
      m.asScala.toMap.map {
        case (k, v: java.util.List[_]) => k -> v.asScala.toList
        case (k, v) => k -> (v: Any)
      }
    }.toEither.left.map(e => s"parse json: ${e.getMessage}")
  }

  /** Mini YAML: top-level `key: value` pairs, `#` comments, and simple
    * `key:` + indented `- item` lists; nothing else (`config.go:279-333`). */
  private[etl] def parseYamlSubset(text: String): Either[String, Map[String, Any]] = {
    val lines = text.split("\n", -1).toIndexedSeq
    val raw = scala.collection.mutable.LinkedHashMap[String, Any]()
    var i = 0
    while (i < lines.length) {
      val line = lines(i).trim
      if (line.isEmpty || line.startsWith("#")) { i += 1 }
      else if (line.startsWith("-")) return Left("top-level lists are not supported")
      else {
        val idx = line.indexOf(':')
        if (idx < 0) return Left(s"""invalid line "$line"""")
        val key = line.take(idx).trim
        val value = line.drop(idx + 1).trim
        if (value.isEmpty) {
          i += 1
          val list = scala.collection.mutable.ListBuffer[Any]()
          var done = false
          while (i < lines.length && !done) {
            val next = lines(i).trim
            if (next.isEmpty) i += 1
            else if (next.startsWith("-")) {
              list += parseScalar(next.drop(1).trim); i += 1
            } else done = true
          }
          raw(key) = list.toList
        } else { raw(key) = parseScalar(value); i += 1 }
      }
    }
    Right(raw.toMap)
  }

  private def parseScalar(v: String): Any = {
    val unq = v.stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'")
    Try(unq.toLong).toOption
      .orElse(Try(unq.toDouble).toOption)
      .orElse(unq.toLowerCase match {
        case "true" => Some(true); case "false" => Some(false); case _ => None
      })
      .getOrElse(unq)
  }

  private def fromKeyMap(m: Map[String, Any]): EtlConfig = {
    def s(k: String, cur: String) = m.get(k).map(_.toString).getOrElse(cur)
    def i(k: String, cur: Int) = m.get(k).flatMap(v => Try(v.toString.toDouble.toInt).toOption).getOrElse(cur)
    def l(k: String, cur: Long) = m.get(k).flatMap(v => Try(v.toString.toDouble.toLong).toOption).getOrElse(cur)
    def d(k: String, cur: Double) = m.get(k).flatMap(v => Try(v.toString.toDouble).toOption).getOrElse(cur)
    def list(k: String, cur: Seq[String]) = m.get(k) match {
      case Some(xs: List[_]) => xs.map(_.toString)
      case _ => cur
    }
    val z = zero
    z.copy(
      inputPath = s("input", z.inputPath),
      inputFormat = s("input_format", z.inputFormat),
      outputPath = s("output", z.outputPath),
      reportPath = s("report", z.reportPath),
      outputType = s("output_type", z.outputType),
      outputMaxBytes = l("output_max_bytes", z.outputMaxBytes),
      outputMaxFiles = i("output_max_files", z.outputMaxFiles),
      filterLevels = list("filter_levels", z.filterLevels),
      filterServices = list("filter_services", z.filterServices),
      redactKeys = list("redact_keys", z.redactKeys),
      transforms = list("transforms", z.transforms),
      curationConfig = s("curation_config", z.curationConfig),
      maxWorkers = i("max_workers", z.maxWorkers),
      queueSize = i("queue_size", z.queueSize),
      sinkMaxRetries = i("sink_max_retries", z.sinkMaxRetries),
      sinkBackoffBaseMs = i("sink_backoff_base_ms", z.sinkBackoffBaseMs),
      sinkBackoffMaxMs = i("sink_backoff_max_ms", z.sinkBackoffMaxMs),
      sinkBackoffJitter = d("sink_backoff_jitter_pct", z.sinkBackoffJitter),
      dlqPath = s("dlq", z.dlqPath),
      batchSize = i("batch_size", z.batchSize),
      batchFlushIntervalMs = i("batch_flush_interval_ms", z.batchFlushIntervalMs),
      shutdownTimeoutSeconds = i("shutdown_timeout_seconds", z.shutdownTimeoutSeconds),
      logLevel = s("log_level", z.logLevel),
      logFormat = s("log_format", z.logFormat))
  }

  /** All-issues validation with Go-compatible messages
    * (`config.go:362-451`). Returns the full joined error or unit. */
  def validate(cfg: EtlConfig): Either[String, Unit] = {
    val errs = scala.collection.mutable.ListBuffer[String]()
    val validInputFormats = Set("jsonl", "csv", "orc", "parquet", "json")
    if (cfg.inputFormat.nonEmpty && !validInputFormats(cfg.inputFormat.toLowerCase))
      errs += s"""invalid input_format "${cfg.inputFormat}": must be jsonl, csv, orc, parquet, or json"""
    val validTypes = Set("stdout", "file", "rotate", "rotating",
      "parquet", "s3", "s3a", "kafka", "http", "webhook")
    if (cfg.outputType.nonEmpty && !validTypes(cfg.outputType))
      errs += s"""invalid output_type "${cfg.outputType}": must be stdout, file, or rotate"""
    val pathRequired = Set("file", "rotate", "rotating", "parquet", "s3", "s3a", "http", "webhook", "kafka")
    if (pathRequired(cfg.outputType) && cfg.outputPath.isEmpty)
      errs += "output_path is required when output_type is file or rotate"
    def nonneg(v: Long, name: String): Unit =
      if (v < 0) errs += s"$name cannot be negative: $v"
    nonneg(cfg.maxWorkers, "max_workers")
    nonneg(cfg.queueSize, "queue_size")
    nonneg(cfg.sinkMaxRetries, "sink_max_retries")
    nonneg(cfg.sinkBackoffBaseMs, "sink_backoff_base_ms")
    nonneg(cfg.sinkBackoffMaxMs, "sink_backoff_max_ms")
    if (cfg.sinkBackoffJitter < 0)
      errs += f"sink_backoff_jitter_pct cannot be negative: ${cfg.sinkBackoffJitter}%.2f"
    nonneg(cfg.outputMaxBytes, "output_max_bytes")
    nonneg(cfg.outputMaxFiles, "output_max_files")
    if (cfg.dlqPath.nonEmpty) {
      // the DLQ is truncated once and then only appended to, which no
      // object-store scheme supports
      Seq("s3://", "s3a://", "s3n://").find(cfg.dlqPath.startsWith).foreach { s =>
        errs += s"DLQ path with $s scheme is not supported: ${cfg.dlqPath}"
      }
      if (cfg.dlqPath.trim.isEmpty)
        errs += "DLQ path cannot be empty or whitespace-only"
    }
    if (cfg.sinkBackoffMaxMs > 0 && cfg.sinkBackoffBaseMs > 0 &&
        cfg.sinkBackoffMaxMs < cfg.sinkBackoffBaseMs)
      errs += s"sink_backoff_max_ms (${cfg.sinkBackoffMaxMs}) must be >= sink_backoff_base_ms (${cfg.sinkBackoffBaseMs})"
    if (cfg.sinkBackoffJitter > 1.0)
      errs += f"sink_backoff_jitter_pct should be between 0.0 and 1.0, got: ${cfg.sinkBackoffJitter}%.2f"
    nonneg(cfg.batchSize, "batch_size")
    nonneg(cfg.batchFlushIntervalMs, "batch_flush_interval_ms")
    nonneg(cfg.shutdownTimeoutSeconds, "shutdown_timeout_seconds")
    if (cfg.logLevel.nonEmpty &&
        !Set("debug", "info", "warn", "error")(cfg.logLevel.toLowerCase))
      errs += s"""invalid log_level "${cfg.logLevel}": must be debug, info, warn, or error"""
    if (cfg.logFormat.nonEmpty && !Set("json", "text")(cfg.logFormat.toLowerCase))
      errs += s"""invalid log_format "${cfg.logFormat}": must be json or text"""
    if (errs.nonEmpty)
      Left("configuration validation failed:\n  - " + errs.mkString("\n  - "))
    else Right(())
  }
}
