package graft.etl

/** Config surface: defaults, YAML-subset/JSON loading, env overrides,
  * merge precedence, validation — ports of internal/config semantics. */
class EtlConfigSpec extends TempDirs {

  test("defaults match config.go:45-67") {
    val d = EtlConfig.default
    assert(d.inputPath == "examples/k8s_logs.jsonl")
    assert(d.outputType == "stdout")
    assert(d.outputMaxBytes == 10L * 1024 * 1024)
    assert(d.outputMaxFiles == 5)
    assert(d.filterLevels == Seq("WARN", "ERROR"))
    assert(d.transforms == Seq("filter_redact"))
    assert(d.maxWorkers == 4 && d.queueSize == 128)
    assert(d.sinkMaxRetries == 3)
    assert(d.sinkBackoffBaseMs == 100 && d.sinkBackoffMaxMs == 2000)
    assert(d.sinkBackoffJitter == 0.2)
    assert(d.batchSize == 100 && d.batchFlushIntervalMs == 1000)
    assert(d.shutdownTimeoutSeconds == 30)
    assert(d.logLevel == "info" && d.logFormat == "json")
  }

  test("input_format: default jsonl, env/flag precedence, validation") {
    assert(EtlConfig.default.inputFormat == "jsonl")
    val env = EtlConfig.fromEnv(EtlConfig.default,
      Map("ETL_INPUT_FORMAT" -> "csv"))
    assert(env.inputFormat == "csv")
    // flag-style merge wins over env (same precedence path as Main)
    val flag = EtlConfig.merge(env, EtlConfig.zero.copy(inputFormat = "orc"))
    assert(flag.inputFormat == "orc")
    val bad = EtlConfig.validate(EtlConfig.default.copy(inputFormat = "xml"))
    assert(bad.left.exists(_.contains("invalid input_format \"xml\"")))
    for (f <- Seq("jsonl", "csv", "orc", "parquet", "json"))
      assert(EtlConfig.validate(EtlConfig.default.copy(inputFormat = f)).isRight)
  }

  test("merge: non-zero override wins (config.go:70-141)") {
    val merged = EtlConfig.merge(EtlConfig.default,
      EtlConfig.zero.copy(inputPath = "x.jsonl", maxWorkers = 8))
    assert(merged.inputPath == "x.jsonl")
    assert(merged.maxWorkers == 8)
    assert(merged.filterLevels == Seq("WARN", "ERROR")) // base kept
    assert(merged.batchSize == 100)
  }

  test("parseList: comma/semicolon split, trim, drop empties") {
    assert(EtlConfig.parseList("a, b ;c,,; d ") == Seq("a", "b", "c", "d"))
  }

  test("env overrides (config.go:144-237); bad numbers silently ignored") {
    val env = Map("ETL_INPUT" -> "env.jsonl", "ETL_MAX_WORKERS" -> "7",
      "ETL_FILTER_LEVELS" -> "INFO;DEBUG", "ETL_BATCH_SIZE" -> "notanum")
    val c = EtlConfig.fromEnv(EtlConfig.default, env)
    assert(c.inputPath == "env.jsonl")
    assert(c.maxWorkers == 7)
    assert(c.filterLevels == Seq("INFO", "DEBUG"))
    assert(c.batchSize == 100) // parse failure ignored, like the reference
  }

  test("YAML subset: scalars, lists, comments (config.go:279-333)") {
    val dir = tempDir("cfg")
    val p = s"$dir/c.yaml"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """# comment
        |input: "in.jsonl"
        |max_workers: 6
        |filter_levels:
        |  - WARN
        |  - ERROR
        |output_type: file
        |output: out.jsonl
        |""".stripMargin)
    val c = EtlConfig.load(p).toOption.get
    assert(c.inputPath == "in.jsonl")
    assert(c.maxWorkers == 6)
    assert(c.filterLevels == Seq("WARN", "ERROR"))
    assert(c.outputType == "file" && c.outputPath == "out.jsonl")
  }

  test("JSON config load") {
    val dir = tempDir("cfg")
    val p = s"$dir/c.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """{"input": "j.jsonl", "redact_keys": ["a", "b"], "batch_size": 9}""")
    val c = EtlConfig.load(p).toOption.get
    assert(c.inputPath == "j.jsonl")
    assert(c.redactKeys == Seq("a", "b"))
    assert(c.batchSize == 9)
  }

  test("validation: all issues reported with Go-compatible messages") {
    val bad = EtlConfig.default.copy(outputType = "bogus", maxWorkers = -1,
      sinkBackoffBaseMs = 500, sinkBackoffMaxMs = 100,
      sinkBackoffJitter = 1.5, dlqPath = "s3://bucket/x", logLevel = "loud")
    val Left(err) = EtlConfig.validate(bad): @unchecked
    assert(err.startsWith("configuration validation failed:"))
    assert(err.contains("""invalid output_type "bogus": must be stdout, file, or rotate"""))
    assert(err.contains("max_workers cannot be negative: -1"))
    assert(err.contains("sink_backoff_max_ms (100) must be >= sink_backoff_base_ms (500)"))
    assert(err.contains("sink_backoff_jitter_pct should be between 0.0 and 1.0, got: 1.50"))
    assert(err.contains("DLQ path with s3:// scheme is not supported: s3://bucket/x"))
    assert(err.contains("""invalid log_level "loud": must be debug, info, warn, or error"""))
    for (scheme <- Seq("s3a", "s3n")) {
      val Left(e) = EtlConfig.validate(EtlConfig.default.copy(
        dlqPath = s"$scheme://bucket/dlq.jsonl")): @unchecked
      assert(e.contains(
        s"DLQ path with $scheme:// scheme is not supported: $scheme://bucket/dlq.jsonl"))
    }
  }

  test("validation: output path required for file/rotate") {
    val Left(err) = EtlConfig.validate(
      EtlConfig.default.copy(outputType = "file")): @unchecked
    assert(err.contains("output_path is required when output_type is file or rotate"))
    assert(EtlConfig.validate(EtlConfig.default).isRight)
  }

  test("curation_config: default off, file/env/merge precedence chain") {
    assert(EtlConfig.default.curationConfig.isEmpty)
    // file key
    val dir = tempDir("cfg").toString
    val p = s"$dir/c.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      """{"curation_config": "stages.yaml"}""")
    assert(EtlConfig.load(p).toOption.get.curationConfig == "stages.yaml")
    // env override beats file (the fromEnv layer runs after file merge)
    val envd = EtlConfig.fromEnv(EtlConfig.default.copy(
        curationConfig = "from-file.yaml"),
      Map("ETL_CURATION_CONFIG" -> "from-env.yaml"))
    assert(envd.curationConfig == "from-env.yaml")
    // merge: non-empty override wins, empty preserves base
    val base = EtlConfig.default.copy(curationConfig = "base.yaml")
    assert(EtlConfig.merge(base, EtlConfig.zero).curationConfig == "base.yaml")
    assert(EtlConfig.merge(base, EtlConfig.zero.copy(
      curationConfig = "flag.yaml")).curationConfig == "flag.yaml")
  }
}
