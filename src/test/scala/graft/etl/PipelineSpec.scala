package graft.etl

import org.apache.spark.sql.functions._
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Flagship end-to-end: port of `cmd/etl/integration_test.go:16-99` —
  * the canonical behavioral contract (BASELINE.md functional floor). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("integration: 6-line fixture → 3 records, redacted, exact report") {
    val out = tempDir("etl-it")
    val cfg = EtlConfig.default.copy(
      inputPath = fixturePath,
      outputType = "file",
      outputPath = s"$out/out.jsonl",
      reportPath = s"$out/report.json",
      filterLevels = Seq("WARN", "ERROR"),
      redactKeys = Seq("user_email", "token"))
    val res = Pipeline.runFile(spark, cfg)
    assert(res.isRight, res.left.toOption)
    val r = res.toOption.get.report

    // report totals (integration_test.go:82-93)
    assert(r.totalLines == 6)
    assert(r.jsonParsed == 6)
    assert(r.jsonFailed == 0)
    assert(r.normalizedOk == 6)
    assert(r.normalizedFailed == 0)
    assert(r.writtenOk == 3)
    assert(r.writeFailed == 0)
    assert(r.filteredLevel == 3)
    assert(r.filteredService == 0)
    assert(r.durationSeconds > 0)
    assert(r.throughput > 0)
    assert(r.byLevel == Map("INFO" -> 3L, "ERROR" -> 2L, "WARN" -> 1L))
    assert(r.byService == Map("orders" -> 2L, "gateway" -> 1L,
      "payments" -> 1L, "auth" -> 2L))

    // emitted records: exactly 3, no redacted key survives
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/out.jsonl"))
    assert(lines.size == 3)
    lines.forEach { l =>
      assert(!l.contains("user_email"), l)
      assert(!l.contains("\"token\""), l)
    }
    // the ERROR record keeps its non-PII field
    assert(lines.toString.contains("db_host"))
    // summary text contract ("Total Lines", integration_test.go:96)
    assert(Pipeline.summary(r).contains("Total Lines"))
    // report file exists and parses as JSON object
    val rep = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/report.json")))
    assert(rep.trim.startsWith("{") && rep.contains("\"total_lines\": 6"))
  }

  test("runStdin: a never-closed pipe makes progress batch by batch; EOF report equals the batch run") {
    val out = tempDir("etl-stdin-it")
    val cfg = EtlConfig.default.copy(
      inputPath = "-",
      outputType = "file",
      outputPath = s"$out/out.jsonl",
      filterLevels = Seq("WARN", "ERROR"),
      redactKeys = Seq("user_email", "token"))
    val fixture = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(fixturePath))
    val sink = new java.io.PipedOutputStream()
    val src = new java.io.PipedInputStream(sink, 1 << 16)
    val w = new java.io.OutputStreamWriter(sink,
      java.nio.charset.StandardCharsets.UTF_8)
    @volatile var result: Either[String, EtlReport] = null
    val t = new Thread(() => { result = Pipeline.runStdin(spark, cfg, src) })
    t.setDaemon(true)
    t.start()
    // first burst: 6 fixture lines, pipe stays OPEN — the r13 spool
    // would block forever here; the incremental reader must land the
    // 3 kept records without seeing EOF
    fixture.forEach { l => w.write(l); w.write("\n") }
    w.flush()
    val outPath = java.nio.file.Paths.get(s"$out/out.jsonl")
    def lineCount: Int =
      if (java.nio.file.Files.exists(outPath))
        java.nio.file.Files.readAllLines(outPath).size else 0
    var waited = 0
    while (lineCount < 3 && waited < 60000) { Thread.sleep(100); waited += 100 }
    assert(lineCount == 3,
      s"first burst must land 3 records with the pipe still open (got $lineCount)")
    assert(t.isAlive, "the reader keeps consuming a never-closed pipe")
    // second burst: same 6 lines again → 3 more records appended
    fixture.forEach { l => w.write(l); w.write("\n") }
    w.flush()
    waited = 0
    while (lineCount < 6 && waited < 60000) { Thread.sleep(100); waited += 100 }
    assert(lineCount == 6, s"second burst appends (got $lineCount)")
    // EOF: merged report equals the single-shot batch contract ×2
    w.close()
    t.join(60000)
    assert(result != null && result.isRight, s"runStdin result: $result")
    val r = result.toOption.get
    assert(r.totalLines == 12 && r.jsonParsed == 12 && r.writtenOk == 6)
    assert(r.filteredLevel == 6)
    assert(r.byLevel == Map("INFO" -> 6L, "ERROR" -> 4L, "WARN" -> 2L))
    // redaction ran in every batch
    java.nio.file.Files.readAllLines(outPath).forEach { l =>
      assert(!l.contains("user_email") && !l.contains("\"token\""), l)
    }
  }

  /** Queue-backed in-memory stream (PipedInputStream pins its reader
    * THREAD — per-assert probe threads would kill the pipe): `feed`
    * makes bytes available atomically; `end` signals EOF. */
  private final class ChunkStream extends java.io.InputStream {
    private val Eof = new Array[Byte](0)
    private val q =
      new java.util.concurrent.LinkedBlockingQueue[Array[Byte]]()
    private val avail = new java.util.concurrent.atomic.AtomicInteger(0)
    private var cur: Array[Byte] = new Array[Byte](0)
    private var pos = 0
    private var done = false
    def feed(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      require(b.nonEmpty); avail.addAndGet(b.length); q.put(b)
    }
    def end(): Unit = q.put(Eof)
    override def available(): Int = avail.get()
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (done) return -1
      while (pos >= cur.length) {
        val n = q.take()
        if (n eq Eof) { done = true; return -1 }
        cur = n; pos = 0
      }
      val k = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, k)
      pos += k; avail.addAndGet(-k); k
    }
  }

  test("LineBatcher: partial trailing line never stalls a drained batch; CRLF strip; final-line flush at EOF") {
    val src = new ChunkStream
    val lb = new Pipeline.LineBatcher(src)
    def batchWithin(ms: Long): Option[Seq[String]] = {
      @volatile var got: Option[Seq[String]] = null
      val t = new Thread(() => { got = lb.nextBatch(10) })
      t.setDaemon(true); t.start(); t.join(ms)
      assert(!t.isAlive, "nextBatch must not block: bytes were available")
      got
    }
    // two complete lines + a partial third, pipe OPEN: the r14
    // BufferedReader drain would block readLine()-ing the partial
    // line (ready() is true on ANY buffered char); the byte-level
    // batcher ships the complete lines and parks the tail
    src.feed("one\r\ntwo\npart")
    assert(batchWithin(10000) == Some(Seq("one", "two")))
    // the tail completes across a later burst
    src.feed("ial\n")
    assert(batchWithin(10000) == Some(Seq("partial")))
    // unterminated final line flushes at EOF, then None
    src.feed("last"); src.end()
    assert(batchWithin(10000) == Some(Seq("last")))
    assert(batchWithin(10000) == None)
  }

  test("LineBatcher: max caps a batch; surplus completed lines carry to the next call") {
    val bytes = (1 to 7).map(i => s"l$i").mkString("", "\n", "\n")
      .getBytes("UTF-8")
    val lb = new Pipeline.LineBatcher(
      new java.io.ByteArrayInputStream(bytes))
    assert(lb.nextBatch(3) == Some(Seq("l1", "l2", "l3")))
    assert(lb.nextBatch(3) == Some(Seq("l4", "l5", "l6")))
    assert(lb.nextBatch(3) == Some(Seq("l7")))
    assert(lb.nextBatch(3) == None)
  }

  test("stdin routing: structured --input-format spools to a file; jsonl/empty stays incremental") {
    val z = EtlConfig.default
    assert(Main.stdinSpoolExt(z).isEmpty)
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "jsonl")).isEmpty)
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "JSONL")).isEmpty)
    // csv/orc/parquet need the whole byte stream (header/footer) —
    // the incremental JSONL batcher would DLQ every line (r15 ADVICE)
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "csv")) == Some(".csv"))
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "CSV")) == Some(".csv"))
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "orc")) == Some(".orc"))
    assert(Main.stdinSpoolExt(z.copy(inputFormat = "parquet"))
      == Some(".parquet"))
    assert(Main.stdinSpoolExt(z.copy(curationConfig = "stages.yaml"))
      == Some(".jsonl"))
  }

  test("curation mode: 3-stage config file drives the curation registry end-to-end") {
    val dir = tempDir("cur-it").toString
    // corpus: shared boilerplate line across two docs, one too-short doc
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      Seq(
        """{"doc_id":1,"text":"Hello  World\nshared boilerplate","lang":"en"}""",
        """{"doc_id":2,"text":"another doc here\nshared boilerplate","lang":"en"}""",
        """{"doc_id":3,"text":"tiny","lang":"en"}""").mkString("\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/stages.yaml"),
      """stages:
        |# drop corpus-repeated lines, then normalize, then gate length
        |  - line_dedup max_occurrences=1
        |  - canonicalize
        |  - length_gate min_tokens=2
        |""".stripMargin)
    val cfg = EtlConfig.default.copy(
      inputPath = s"$dir/docs.jsonl",
      outputPath = s"$dir/out.jsonl",
      curationConfig = s"$dir/stages.yaml")
    val res = Pipeline.runCuration(spark, cfg)
    assert(res == Right((3L, 2L)), res)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/out.jsonl"))
    assert(lines.size == 2)
    val byId = lines.toArray.map(_.toString).map { l =>
      val id = "\"doc_id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
      id -> l
    }.toMap
    // boilerplate line deduped away, text canonicalized, passthrough
    // column (lang) rides through the dedup stage
    assert(byId(1L).contains("\"text\":\"hello world\""), byId(1L))
    assert(byId(2L).contains("\"text\":\"another doc here\""), byId(2L))
    assert(!byId.contains(3L), "the 1-token doc must be gated out")
    assert(byId.values.forall(_.contains("\"lang\":\"en\"")))
    // config-shape errors are Left before any job runs
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.yaml"), "not-stages:\n- x\n")
    val bad = Pipeline.runCuration(spark,
      cfg.copy(curationConfig = s"$dir/bad.yaml"))
    assert(bad.isLeft && bad.left.toOption.get.startsWith("curation config:"), bad)
    // unknown stage name is a hard error naming the registry
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/unk.yaml"), "stages:\n  - nope\n")
    val unk = intercept[IllegalArgumentException] {
      Pipeline.runCuration(spark, cfg.copy(curationConfig = s"$dir/unk.yaml"))
    }
    assert(unk.getMessage.contains("unknown curation stage"))
  }

  test("golden: rendered report bytes match the reference renderer exactly") {
    // The JSON golden is byte-for-byte what Go's json.Encoder
    // (SetIndent "", "  ") emits for report.go's struct on the 6-line
    // fixture — field order = struct order, map keys sorted (Go's
    // encoder sorts them), compact float rendering. The Prometheus
    // golden follows report.go:213-248 line order; Go map iteration is
    // randomized, so the golden pins the SORTED-map rendering (one
    // valid reference serialization — ours is deterministic by
    // design). Runtime-dependent fields (duration, throughput, stage
    // timings) are fixed to exactly-representable values so the bytes
    // are stable.
    val cfg = EtlConfig.default.copy(
      inputPath = fixturePath,
      outputType = "file",
      outputPath = s"${tempDir("etl-golden")}/out.jsonl",
      reportPath = "", // the default would rewrite ./report.json
      filterLevels = Seq("WARN", "ERROR"),
      redactKeys = Seq("user_email", "token"))
    val r0 = Pipeline.runFile(spark, cfg).toOption.get.report
    val r = r0
      .withDuration(2.0)
      .copy(stageTimings = StageTimings(
        parsingSeconds = 0.25, normalizationSeconds = 0.5,
        filteringSeconds = 0.125, writingSeconds = 1.125))
    def golden(name: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(name).toURI)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(r.toJson + "\n" == golden("/report_golden.json"),
      "JSON rendering drifted from the reference renderer")
    assert(r.prometheus == golden("/report_golden.prom"),
      "Prometheus rendering drifted from the reference renderer")
  }

  test("records blocked by filter keep fields un-redacted (filter_test.go:36-53)") {
    val cfg = EtlConfig.default.copy(
      filterLevels = Seq("ERROR"), redactKeys = Seq("user_email"))
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"m","user_email":"a@b.c"}""").toDF("line")
    val normalized = Normalize(lines)
    val transformed = TransformRegistry(cfg)(normalized).toOption.get
    val blocked = transformed.filter(col(Transforms.DropReasonCol).isNotNull).head()
    assert(blocked.getAs[Map[String, String]]("fields").contains("user_email"))
  }

  test("empty filter config allows all (filter_test.go:71-77)") {
    val cfg = EtlConfig.default.copy(filterLevels = Nil, redactKeys = Nil)
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:00Z","level":"TRACE","msg":"m"}""").toDF("line")
    val res = Pipeline.run(lines, cfg.copy(outputType = "stdout"))
    assert(res.toOption.get.report.writtenOk == 1)
  }

  test("service filter is case-insensitive (filter_test.go:55-69)") {
    val cfg = EtlConfig.default.copy(
      filterLevels = Nil, filterServices = Seq("Orders"))
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:00Z","level":"I","msg":"m","service":"ORDERS"}""",
      """{"ts":"2025-01-01T00:00:00Z","level":"I","msg":"m","service":"other"}""").toDF("line")
    val res = Pipeline.run(lines, cfg).toOption.get.report
    assert(res.writtenOk == 1)
    assert(res.filteredService == 1)
  }

  test("unknown transform is a hard error (registry.go:32-34)") {
    val cfg = EtlConfig.default.copy(transforms = Seq("nope"))
    val res = Pipeline.run(Seq("""{"a":1}""").toDF("line"), cfg)
    assert(res == Left("""unknown transform "nope""""))
  }

  test("corrupt + normalize-failed lines are counted, not fatal") {
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val lines = Seq(
      """{"ts":"2025-01-01T00:00:00Z","level":"I","msg":"ok"}""",
      """not json at all""",
      """{"level":"I","msg":"no ts"}""").toDF("line")
    val r = Pipeline.run(lines, cfg).toOption.get.report
    assert(r.totalLines == 3)
    assert(r.jsonFailed == 1)
    assert(r.jsonParsed == 2)
    assert(r.normalizedFailed == 1)
    assert(r.normalizedOk == 1)
    assert(r.writtenOk == 1)
  }

  /** A report with its run-dependent timing fields zeroed. */
  private def timingFree(r: EtlReport) = r.copy(durationSeconds = 0,
    throughput = 0, jsonErrorRate = 0, normalizeErrorRate = 0,
    writeErrorRate = 0, stageTimings = StageTimings())

  test("transform errors are counted alike by run, runStdin and runOnce (main.go:386-397)") {
    // a test transform that errors every still-active `auth` row
    TransformRegistry.register("test_error_auth", _ => df =>
      df.withColumn(Transforms.TransformErrorCol,
        when(col("error").isNull && col(Transforms.DropReasonCol).isNull &&
          col(Transforms.TransformErrorCol).isNull && col("service") === "auth",
          lit("auth rejected")).otherwise(col(Transforms.TransformErrorCol))))
    val out = tempDir("etl-terr")
    def cfg(name: String) = EtlConfig.default.copy(
      outputType = "file", outputPath = s"$out/$name.jsonl",
      filterLevels = Nil, transforms = Seq("filter_redact", "test_error_auth"))
    val batch = Pipeline.run(Normalize.parseLines(spark, fixturePath),
      cfg("batch")).fold(e => fail(e), _.report)
    val fixtureIn = new java.io.FileInputStream(fixturePath)
    val stdin = try Pipeline.runStdin(spark, cfg("stdin"), fixtureIn,
      batchLines = 4).fold(e => fail(e), identity) finally fixtureIn.close()
    val in = tempDir("etl-terr-in")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixturePath),
      in.resolve("a.jsonl"))
    val stream = graft.streaming.StreamingPipeline.runOnce(spark, in.toString,
      cfg("stream"), s"${tempDir("etl-terr-ckpt")}")
      .fold(e => fail(e), _.report)

    assert(timingFree(stdin) == timingFree(batch), s"stdin=$stdin\nbatch=$batch")
    assert(timingFree(stream) == timingFree(batch), s"stream=$stream\nbatch=$batch")
    // the two auth rows: failed by the transform, yet still normalized
    assert(batch.totalLines == 6)
    assert(batch.normalizedFailed == 2)
    assert(batch.normalizedOk == 6)
    assert(batch.writtenOk == 4)
  }

  test("breakdown maps are capped at top-N with an (other) rollup that still sums") {
    // services s1..s5 with counts 5,4,3,2,1 — cap 3 keeps the top three
    // and rolls the rest up; totals stay exact
    val lines = (1 to 5).flatMap(s => (1 to (6 - s)).map(_ =>
      s"""{"ts":"2025-01-01T00:00:00Z","level":"I","msg":"m","service":"s$s"}"""))
      .toDF("line")
    val norm = TransformRegistry(EtlConfig.default.copy(filterLevels = Nil))(
      Normalize(lines)).fold(e => fail(e), identity)
    val full = EtlReport.fromDataFrame(norm)
    val capped = EtlReport.fromDataFrame(norm, maxBreakdownKeys = 3)
    assert(full.byService == Map("s1" -> 5L, "s2" -> 4L, "s3" -> 3L,
      "s4" -> 2L, "s5" -> 1L))
    assert(capped.byService == Map("s1" -> 5L, "s2" -> 4L, "s3" -> 3L,
      "(other)" -> 3L))
    assert(capped.byService.values.sum == full.byService.values.sum)
    assert(capped.byLevel == full.byLevel) // under the cap → identical
  }

  test("one report, every sink: file, stdout, rotate, parquet and http observe the same counters") {
    // the report counters are observed on the sink's own pass, so every
    // sink must run the whole plan inside its action — the driver-side
    // sinks (stdout, rotate) included
    val dir = tempDir("etl-sinks")
    val cfg = EtlConfig.default.copy(filterLevels = Seq("WARN", "ERROR"),
      redactKeys = Seq("user_email", "token"))
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/ok", (ex: HttpExchange) => {
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    val stdout = new java.io.ByteArrayOutputStream()
    val reports = try Seq(
      "file" -> new Sinks.FileSink(s"$dir/out.jsonl"),
      "stdout" -> new Sinks.StdoutSink(new java.io.PrintStream(stdout, true, "UTF-8")),
      "rotate" -> new Sinks.RotatingSink(s"$dir/rot.jsonl", 1L << 20, 3),
      "parquet" -> new Sinks.ParquetSink(s"$dir/pq"),
      "http" -> new Sinks.HttpSink(
        s"http://localhost:${server.getAddress.getPort}/ok",
        new Sinks.RetryPolicy(0, 1, 2, 0))
    ).map { case (name, sink) =>
      val transformed = TransformRegistry(cfg)(Normalize(
        Normalize.parseLines(spark, fixturePath))).fold(e => fail(e), identity)
      name -> timingFree(Pipeline.process(transformed, sink))
    }.toMap finally server.stop(0)
    assert(reports("stdout").totalLines == 6 && reports("rotate").totalLines == 6,
      s"driver-side sinks must complete the observed counters: $reports")
    assert(reports.values.toSet.size == 1, reports.mkString("\n"))
    assert(reports("file").writtenOk == 3 && reports("file").filteredLevel == 3)
    assert(reports("file").byService == Map("orders" -> 2L, "gateway" -> 1L,
      "payments" -> 1L, "auth" -> 2L))
    assert(stdout.toString("UTF-8").linesIterator.size == 3)
  }

  test("job budget: one Spark job per batch and no cache left behind, for run and runStdin") {
    val dir = tempDir("etl-jobs")
    val cfg = EtlConfig.default.copy(outputType = "file",
      outputPath = s"$dir/out.jsonl", reportPath = "",
      filterLevels = Seq("WARN", "ERROR"), redactKeys = Seq("user_email", "token"))
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (run, runJobs) =
      countingJobs(Pipeline.run(Normalize.parseLines(spark, fixturePath), cfg))
    assert(run.fold(e => fail(e), _.report.writtenOk) == 3)
    assert(runJobs == 1, s"run: $runJobs jobs for one batch")
    val in = new java.io.FileInputStream(fixturePath)
    val (stdin, stdinJobs) =
      try countingJobs(Pipeline.runStdin(spark, cfg, in, batchLines = 3))
      finally in.close()
    assert(stdin.fold(e => fail(e), identity).totalLines == 6)
    assert(stdinJobs == 2, s"runStdin: $stdinJobs jobs for two batches")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore,
      "a batch must leave no persisted RDD behind")
  }

  test("runStdin: a batch runs on the executors, not folded into a local relation") {
    // a probe transform sees each batch's normalized frame; over a local
    // relation the optimizer folds parse and normalize into the relation
    // itself, and the batch would run on the driver, interpreted
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
    TransformRegistry.register("test_plan_probe", _ => df => {
      plans.add(df.queryExecution.optimizedPlan); df
    })
    val cfg = EtlConfig.default.copy(outputType = "file",
      outputPath = s"${tempDir("etl-stdin-plan")}/out.jsonl",
      transforms = Seq("filter_redact", "test_plan_probe"))
    val in = new java.io.FileInputStream(fixturePath)
    val report = try Pipeline.runStdin(spark, cfg, in, batchLines = 4)
      .fold(e => fail(e), identity) finally in.close()
    assert(report.totalLines == 6 && report.writtenOk == 3)
    assert(plans.size == 2, s"${plans.size} batches")
    plans.forEach { p =>
      assert(p.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.isEmpty, s"stdin batch planned over a local relation:\n$p")
    }
  }

  test("breakdown exactness: across 4 partitions, at the cap and one or two under it") {
    // 12 services with skewed, tied counts, shuffled over 4 partitions so
    // the summaries merge; levels stay far under every cap
    val counts = Seq(9, 7, 7, 5, 4, 4, 3, 2, 2, 1, 1, 1)
    val lines = new scala.util.Random(7).shuffle(counts.zipWithIndex.flatMap {
      case (c, i) => Seq.fill(c)(
        s"""{"ts":"2025-01-01T00:00:00Z","level":"L${i % 3}","msg":"m","service":"svc$i"}""")
    }).toDF("line").repartition(4)
    val df = TransformRegistry(EtlConfig.default.copy(filterLevels = Nil))(
      Normalize(lines)).fold(e => fail(e), identity)
    def exact(key: String) = df.filter(col("error_kind").isNull && col(key) =!= "")
      .groupBy(key).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val services = exact("service")
    val d = services.size
    assert(d == counts.size)
    def topN(cap: Int) = {
      val top = services.toSeq.sortBy { case (k, v) => (-v, k) }.take(cap).toMap
      top + ("(other)" -> (services.values.sum - top.values.sum))
    }
    val atCap = EtlReport.fromDataFrame(df, maxBreakdownKeys = d)
    assert(atCap.byService == services, "under the cap: exact, no (other)")
    assert(atCap.byLevel == exact("level"))
    assert(EtlReport.fromDataFrame(df, d - 1).byService == topN(d - 1))
    assert(EtlReport.fromDataFrame(df, d - 2).byService == topN(d - 2))
  }

  test("runFile with input_format=csv: full pipeline over a CSV file") {
    val dir = tempDir("csv-cli")
    java.nio.file.Files.write(dir.resolve("logs.csv"),
      ("""ts,level,msg,service,user_email
        |2025-01-01T00:00:00Z,ERROR,boom,api,u1@example.com
        |2025-01-01T00:00:01Z,INFO,fine,api,
        |2025-01-01T00:00:02Z,WARN,hmm,db,
        |""".stripMargin).getBytes)
    val out = s"$dir/out.jsonl"
    val cfg = EtlConfig.default.copy(
      inputPath = dir.toString, inputFormat = "csv",
      outputType = "file", outputPath = out, reportPath = "",
      filterLevels = Seq("WARN", "ERROR"), redactKeys = Seq("user_email"))
    val res = Pipeline.runFile(spark, cfg).fold(e => fail(e), identity)
    assert(res.report.totalLines == 3)
    assert(res.report.normalizedOk == 3)
    assert(res.report.filteredLevel == 1)  // INFO dropped
    assert(res.report.writtenOk == 2)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(out))
    assert(lines.size == 2)
    lines.forEach(l => assert(!l.contains("user_email")))
  }

  test("empty input: zero report, no crash (the reference prints a zero report)") {
    val res = Pipeline.run(Seq.empty[String].toDF("line"),
      EtlConfig.default.copy(filterLevels = Nil)).fold(e => fail(e), identity)
    val r = res.report
    assert(r.totalLines == 0 && r.jsonParsed == 0 && r.jsonFailed == 0)
    assert(r.normalizedOk == 0 && r.normalizedFailed == 0)
    assert(r.writtenOk == 0 && r.byLevel.isEmpty && r.byService.isEmpty)
  }

  test("prometheus rendering exposes the counter surface") {
    val r = EtlReport(totalLines = 10, jsonParsed = 9, jsonFailed = 1,
      byLevel = Map("ERROR" -> 4), retryStats = RetryStats(2, 1, 2))
      .withDuration(2.0)
    val p = r.prometheus
    assert(p.contains("etl_total_lines 10"))
    assert(p.contains("etl_level_total{level=\"ERROR\"} 4"))
    assert(p.contains("etl_retry_total 2"))
    assert(p.contains("etl_throughput_lines_per_sec 5.000000"))
  }
}
