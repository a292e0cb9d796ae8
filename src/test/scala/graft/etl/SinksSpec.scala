package graft.etl

import org.apache.spark.sql.functions._
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.util.concurrent.atomic.AtomicInteger

/** K1–K7 sink contracts: ports of internal/sink tests —
  * rotate_test.go, http_test.go (happy / succeed-on-3rd / exhausted),
  * plus DLQ capture and the Go-compatible record rendering. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def normalized(lines: String*) =
    Transforms.split(TransformRegistry(EtlConfig.default.copy(
      filterLevels = Nil))(Normalize(lines.toDF("line"))).toOption.get)._1
      .select("ts", "level", "message", "service", "namespace", "pod",
        "node", "trace_id", "fields")

  private val recordLine =
    """{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"hello","service":"svc","status":200,"flag":true,"name":"x"}"""

  /** The lines of `df` as each driver-side and distributed sink writes
    * them: stdout, file, rotate and http must agree byte for byte. */
  private def renderedBySinks(df: org.apache.spark.sql.DataFrame): String = {
    import java.nio.file.{Files, Paths}
    val one = df.coalesce(1)
    val dir = tempDir("rendered")
    val buf = new java.io.ByteArrayOutputStream()
    new Sinks.StdoutSink(new java.io.PrintStream(buf, true, "UTF-8")).write(one)
    val stdout = buf.toString("UTF-8")
    new Sinks.FileSink(s"$dir/file.jsonl").write(one)
    new Sinks.RotatingSink(s"$dir/rot.jsonl", 1L << 30, 3).write(one)
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/in", (ex: HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    try new Sinks.HttpSink(s"http://localhost:${server.getAddress.getPort}/in",
      new Sinks.RetryPolicy(0, 1, 2, 0)).write(one)
    finally server.stop(0)
    val http = bodies.toArray.map(_ + "\n").mkString
    assert(Files.readString(Paths.get(s"$dir/file.jsonl")) == stdout, "file sink")
    assert(Files.readString(Paths.get(s"$dir/rot.jsonl")) == stdout, "rotate sink")
    assert(http == stdout, "http sink")
    stdout
  }

  test("renderRecord: Go field names, order, typed fields, HTML escaping") {
    val json = Sinks.rendered(normalized(recordLine)).head()
    assert(json.startsWith("""{"TS":"2025-01-01T00:00:00Z","Level":"INFO","Service":"svc""""))
    // struct order: TS, Level, Service, Namespace, Pod, Node, Message, TraceID, Fields
    assert(json.indexOf("\"Message\"") > json.indexOf("\"Node\""))
    // typed field values: number/bool raw, string quoted; keys sorted
    assert(json.contains(""""Fields":{"flag":true,"name":"x","status":200}"""))
    // encoding/json HTML escaping
    val json2 = Sinks.rendered(normalized(
      """{"ts":"2025-01-01T00:00:00Z","level":"I","msg":"a<b>&c"}""")).head()
    assert(json2.contains("a\\u003cb\\u003e\\u0026c"))
  }

  test("render parity: stdout, file, rotate and http sinks write the same Go-shaped bytes") {
    // expected lines are the renderer's output before it became a
    // generated expression: HTML and control escapes, a non-BMP
    // character, keys whose Java order differs from their UTF-8 byte
    // order, number-like, JSON-like and "null" strings, a null value
    // and an empty map
    val lines = Seq(
      "{\"ts\":\"2025-01-01T00:00:00Z\",\"level\":\"INFO\",\"msg\":\"a<b>&c \\u0001\\b\\f\\u001f\\u007f tab\\t nl\\n cr\\r q\\\" bs\\\\ \\ud83d\\ude00 \\u00e9\",\"service\":\"s<>\",\"trace_id\":\"t&\",\"<k>\":\"&v\",\"ctl\":\"\\u0002x\",\"nonbmp\":\"\\ud83d\\ude00\"}",
      "{\"ts\":\"2025-01-01T00:00:00Z\",\"level\":\"INFO\",\"msg\":\"m\",\"\\ue000k\":\"private-use\",\"\\ud83d\\ude00k\":\"astral\",\"Zk\":\"upper\",\"ak\":\"lower\",\"\\u00e9\":\"latin\",\"\":\"empty key\"}",
      "{\"ts\":\"2025-01-01T00:00:00Z\",\"level\":\"INFO\",\"msg\":\"m\",\"f1\":\"5.0\",\"f2\":\"-1e5\",\"f3\":\"{oops\",\"f4\":\"[1]\",\"f5\":\"null\",\"f6\":null,\"f7\":5.0,\"f8\":-1e5,\"f9\":\"true\",\"f10\":[1,{\"a\":\"<\"}],\"f11\":\"\",\"f12\":false,\"f13\":\"-\",\"f14\":\"1.\",\"f15\":\"1e\",\"f16\":\" 1\",\"f17\":\"0\",\"f18\":\"-0.5E+3\"}",
      "{\"ts\":\"2025-01-01T00:00:00Z\",\"level\":\"INFO\",\"msg\":\"empty\"}",
      "{\"ts\":\"2025-01-01T00:00:00Z\",\"level\":\"WARN\",\"msg\":\"k\",\"kubernetes\":{\"namespace_name\":\"ns\",\"pod_name\":\"p\",\"node_name\":\"n\"},\"app\":\"a\"}"
    )
    val expected = Seq(
      "{\"TS\":\"2025-01-01T00:00:00Z\",\"Level\":\"INFO\",\"Service\":\"s\\u003c\\u003e\",\"Namespace\":\"\",\"Pod\":\"\",\"Node\":\"\",\"Message\":\"a\\u003cb\\u003e\\u0026c \\u0001\\u0008\\u000c\\u001f\u007F tab\\t nl\\n cr\\r q\\\" bs\\\\ \uD83D\uDE00 \u00E9\",\"TraceID\":\"t\\u0026\",\"Fields\":{\"\\u003ck\\u003e\":\"\\u0026v\",\"ctl\":\"\\u0002x\",\"nonbmp\":\"\uD83D\uDE00\"}}",
      "{\"TS\":\"2025-01-01T00:00:00Z\",\"Level\":\"INFO\",\"Service\":\"\",\"Namespace\":\"\",\"Pod\":\"\",\"Node\":\"\",\"Message\":\"m\",\"TraceID\":\"\",\"Fields\":{\"\":\"empty key\",\"Zk\":\"upper\",\"ak\":\"lower\",\"\u00E9\":\"latin\",\"\uD83D\uDE00k\":\"astral\",\"\uE000k\":\"private-use\"}}",
      "{\"TS\":\"2025-01-01T00:00:00Z\",\"Level\":\"INFO\",\"Service\":\"\",\"Namespace\":\"\",\"Pod\":\"\",\"Node\":\"\",\"Message\":\"m\",\"TraceID\":\"\",\"Fields\":{\"f1\":5.0,\"f10\":[1,{\"a\":\"<\"}],\"f11\":\"\",\"f12\":false,\"f13\":\"-\",\"f14\":\"1.\",\"f15\":\"1e\",\"f16\":\" 1\",\"f17\":0,\"f18\":-0.5E+3,\"f2\":-1e5,\"f3\":\"{oops\",\"f4\":[1],\"f5\":null,\"f6\":null,\"f7\":5.0,\"f8\":-1e5,\"f9\":true}}",
      "{\"TS\":\"2025-01-01T00:00:00Z\",\"Level\":\"INFO\",\"Service\":\"\",\"Namespace\":\"\",\"Pod\":\"\",\"Node\":\"\",\"Message\":\"empty\",\"TraceID\":\"\",\"Fields\":{}}",
      "{\"TS\":\"2025-01-01T00:00:00Z\",\"Level\":\"WARN\",\"Service\":\"a\",\"Namespace\":\"ns\",\"Pod\":\"p\",\"Node\":\"n\",\"Message\":\"k\",\"TraceID\":\"\",\"Fields\":{}}"
    ).mkString("", "\n", "\n")
    assert(renderedBySinks(normalized(lines: _*)) == expected)
  }

  test("render: a number-like string with a leading zero stays quoted (JSON's number grammar)") {
    val line = renderedBySinks(normalized(
      """{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"m","zip":"02134","a":"00","b":"-01","c":"007.5","n":0,"d":-0.5,"e":"10"}""")).stripLineEnd
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line) // whole line parses
    assert(line.endsWith(
      """"Fields":{"a":"00","b":"-01","c":"007.5","d":-0.5,"e":10,"n":0,"zip":"02134"}}"""), line)
  }

  test("render: U+2028 and U+2029 are escaped, as Go's encoder does") {
    val line = renderedBySinks(normalized("{\"ts\":\"2025-01-01T00:00:00Z\"," +
      "\"level\":\"INFO\",\"msg\":\"a\\u2028b\\u2029c\",\"k\":\"\\u2028\"}"))
    assert(line.contains("\"Message\":\"a\\u2028b\\u2029c\""), line)
    assert(line.contains("\"Fields\":{\"k\":\"\\u2028\"}"), line)
    assert(!line.exists(c => c == '\u2028' || c == '\u2029'), line)
  }

  test("part writer: a stray attempt file is neither appended nor left behind; a crashed run's temp dir is cleared") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = tempDir("stray")
    val out = s"$dir/out.jsonl"
    val tmp = Paths.get(out + ".spark-tmp")
    // a crashed run left its temp dir behind, with a whole part file
    Files.createDirectories(tmp.resolve("_temporary"))
    Files.writeString(tmp.resolve("part-00000-attempt-7"), "crashed\n")
    // a task attempt the job does not return (a failed or speculative
    // copy) writes its own file next to the returned attempts' files
    val tmpDir = tmp.toString
    val lines = spark.range(0, 100, 1, 4).map { i =>
      if (i == 0) Files.writeString(Files.createDirectories(Paths.get(tmpDir))
        .resolve("part-00000-attempt-999999"), "stray\n")
      i.toString
    }
    assert(Sinks.writeLines(lines, out, fresh = true) == 100)
    assert(Files.readAllLines(Paths.get(out)).asScala == (0 until 100).map(_.toString))
    assert(!Files.exists(tmp), "the temp dir must be deleted")
  }

  test("part writer: empty partitions, partition order, and a zero-row fresh write still creates the target") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = tempDir("parts")
    val out = s"$dir/out.jsonl"
    // most of the 8 partitions are empty
    assert(Sinks.writeLines(Seq("a", "b").toDS().repartition(8), out, fresh = true) == 2)
    assert(Files.readAllLines(Paths.get(out)).asScala.sorted == Seq("a", "b"))
    assert(Sinks.writeLines(spark.emptyDataset[String], out, fresh = true) == 0)
    assert(Files.size(Paths.get(out)) == 0, "a fresh write truncates even with no rows")
    val absent = s"$dir/absent.jsonl"
    assert(Sinks.writeLines(spark.emptyDataset[String], absent, fresh = true) == 0)
    assert(Files.exists(Paths.get(absent)) && Files.size(Paths.get(absent)) == 0)
    // lines land in partition order
    assert(Sinks.writeLines(spark.range(0, 1000, 1, 7).map(_.toString), out,
      fresh = false) == 1000)
    assert(Files.readAllLines(Paths.get(out)).asScala == (0 until 1000).map(_.toString))
    val left = new java.io.File(dir.toString).list().toSeq
    assert(left.sorted == Seq("absent.jsonl", "out.jsonl"), left)
  }

  test("rotating sink: checkpoint resume continues the NEWEST rotated file") {
    // a prior run rotated: base holds the oldest records, base.1 the
    // newest. Resume must continue at index 1 — resuming at 0 would
    // append to the oldest file and the first rotation would TRUNCATE
    // the existing base.1 (the 'restart must not truncate' contract).
    import java.nio.file.{Files, Paths}
    val dir = tempDir("rotres")
    val base = s"$dir/out.jsonl"
    Files.writeString(Paths.get(base), "old-run-base\n")
    Files.writeString(Paths.get(s"$base.1"), "old-run-rotated\n")
    val sink = new Sinks.RotatingSink(base, maxBytes = 10000, maxFiles = 3,
      startAppend = true)
    sink.write(normalized(
      """{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"resumed"}"""))
    assert(Files.readAllLines(Paths.get(base)).size == 1,
      "base (oldest) must be untouched on resume")
    val rotated = Files.readAllLines(Paths.get(s"$base.1"))
    assert(rotated.get(0) == "old-run-rotated",
      "pre-restart output must survive")
    assert(rotated.size == 2 && rotated.get(1).contains("resumed"),
      "resume must append to the newest rotated file")
  }

  test("rotating sink: byte-threshold rotation + retention (rotate_test.go)") {
    val dir = tempDir("rot")
    val base = s"$dir/out.jsonl"
    // ~190-byte records, 400-byte threshold, keep 2 rotated files
    val df = normalized((1 to 10).map(i =>
      s"""{"ts":"2025-01-01T00:00:0${i % 10}Z","level":"INFO","msg":"padding padding padding $i"}"""): _*)
    val sink = new Sinks.RotatingSink(base, maxBytes = 400, maxFiles = 2)
    val res = sink.write(df)
    assert(res.writtenOk == 10)
    val files = new java.io.File(dir.toString).listFiles().map(_.getName).sorted
    // retention: at most maxFiles rotated + current
    assert(files.length <= 3, files.mkString(","))
    val total = files.map(f => java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/$f")).size).sum
    assert(total <= 10) // older files deleted
  }

  test("http sink: happy path + retry-then-success + exhausted-to-DLQ") {
    val hits = new AtomicInteger(0)
    val failFirst2 = new AtomicInteger(0)
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/ok", (ex: HttpExchange) => {
      hits.incrementAndGet()
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.createContext("/flaky", (ex: HttpExchange) => {
      val n = failFirst2.incrementAndGet()
      ex.sendResponseHeaders(if (n <= 2) 500 else 200, -1); ex.close()
    })
    server.createContext("/dead", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val df = normalized(recordLine).coalesce(1)
      val policy = new Sinks.RetryPolicy(3, 1, 5, 0.2)
      val ok = new Sinks.HttpSink(s"http://localhost:$port/ok", policy).write(df)
      assert(ok.writtenOk == 1 && ok.writeFailed == 0 && hits.get() == 1)

      val flaky = new Sinks.HttpSink(s"http://localhost:$port/flaky", policy).write(df)
      assert(flaky.writtenOk == 1)
      assert(flaky.retry.totalRetries == 2)       // succeeded on 3rd attempt
      assert(flaky.retry.writesWithRetries == 1)
      assert(flaky.retry.maxRetriesPerWrite == 2)

      val dlq = s"${tempDir("dlqdead")}/dlq.jsonl"
      val dead = new Sinks.HttpSink(s"http://localhost:$port/dead", policy,
        dlqPath = dlq).write(df)
      assert(dead.writtenOk == 0 && dead.writeFailed == 1)
      // reasons carry the ACTUAL error (err.Error() parity) ...
      assert(dead.dlqWritten == 1 &&
        dead.dlqReasons == Map("unexpected status 500" -> 1L))
      val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dlq))
      assert(lines.size == 1 &&
        lines.get(0).endsWith(""","reason":"unexpected status 500"}"""))
      // ... and with NO dlq configured nothing was "written" anywhere
      // (the reference only counts dlq_written with a live dlqWriter)
      val lost = new Sinks.HttpSink(s"http://localhost:$port/dead", policy).write(df)
      assert(lost.writeFailed == 1)
      assert(lost.dlqWritten == 0 && lost.dlqReasons.isEmpty)
    } finally server.stop(0)
  }

  test("http sink: total outage writes DLQ distributed, no driver materialization") {
    // EVERY record fails — the failure set is the whole batch. The sink
    // must (a) write the full DLQ via the distributed path, (b) report
    // exact counts + reasons from aggregation.
    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/dead", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    val port = server.getAddress.getPort
    try {
      val n = 1200
      val df = normalized((1 to n).map(i =>
        s"""{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"m$i"}"""): _*)
        .repartition(8)
      val dir = tempDir("dlqdist")
      val dlq = s"$dir/dlq.jsonl"
      val policy = new Sinks.RetryPolicy(0, 1, 2, 0)
      val res = new Sinks.HttpSink(s"http://localhost:$port/dead", policy,
        dlqPath = dlq).write(df)
      assert(res.writtenOk == 0 && res.writeFailed == n)
      assert(res.dlqWritten == n)
      assert(res.dlqReasons == Map("unexpected status 500" -> n.toLong))
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dlq))
      assert(lines.size == n, s"distributed DLQ must hold all $n failures")
      assert(lines.get(0).startsWith("""{"record":{"TS":"""))
      assert(lines.get(0).endsWith(""","reason":"unexpected status 500"}"""))
      // a second failing write APPENDS (openDLQ semantics)
      new Sinks.HttpSink(s"http://localhost:$port/dead", policy,
        dlqPath = dlq).write(normalized(recordLine))
      assert(java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(dlq)).size == n + 1)
    } finally server.stop(0)
  }

  test("DLQ file: {record, reason} JSONL appended (openDLQ semantics)") {
    val dir = tempDir("dlq")
    val path = s"$dir/sub/dlq.jsonl" // parent dirs created
    // an unparsable URL fails every record before any connection, with
    // an error message that quotes the URL: the reason must be escaped
    val sink = new Sinks.HttpSink("http://localhost:1/\"bad\\path",
      new Sinks.RetryPolicy(0, 1, 2, 0), dlqPath = path)
    val first = sink.write(normalized(recordLine))
    val second = sink.write(normalized(recordLine))
    assert(first.dlqWritten == 1 && second.dlqWritten == 1)
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size == 2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.forEach { l =>
      val node = mapper.readTree(l)
      assert(node.get("record").get("Message").asText() == "hello", l)
      assert(first.dlqReasons.keySet == Set(node.get("reason").asText()), l)
    }
    assert(first.dlqReasons.keys.head.contains("\"bad\\path"),
      first.dlqReasons)
  }

  test("single-file targets append in place: a second write keeps the inode and the first batch's bytes") {
    import java.nio.file.{Files, Paths}
    def inode(p: String) = Files.getAttribute(Paths.get(p), "unix:ino")
    def rec(i: Int) =
      s"""{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"m$i"}"""
    val dir = tempDir("inplace")
    val out = s"$dir/out.jsonl"
    val file = new Sinks.FileSink(out)
    file.write(normalized(rec(1), rec(2)))
    val (ino, bytes) = (inode(out), Files.readAllBytes(Paths.get(out)))
    file.write(normalized(rec(3)))
    assert(inode(out) == ino, "the file sink's append must not replace its target")
    val after = Files.readAllBytes(Paths.get(out))
    assert(after.take(bytes.length).sameElements(bytes) &&
      new String(after, "UTF-8").linesIterator.size == 3)

    val server = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/dead", (ex: HttpExchange) => {
      ex.sendResponseHeaders(500, -1); ex.close()
    })
    server.start()
    try {
      val dlq = s"$dir/dlq.jsonl"
      val http = new Sinks.HttpSink(
        s"http://localhost:${server.getAddress.getPort}/dead",
        new Sinks.RetryPolicy(0, 1, 2, 0), dlqPath = dlq)
      http.write(normalized(rec(1), rec(2)))
      val (dIno, dBytes) = (inode(dlq), Files.readAllBytes(Paths.get(dlq)))
      http.write(normalized(rec(3)))
      assert(inode(dlq) == dIno, "the DLQ append must not replace its file")
      val dAfter = Files.readAllBytes(Paths.get(dlq))
      assert(dAfter.take(dBytes.length).sameElements(dBytes) &&
        new String(dAfter, "UTF-8").linesIterator.size == 3)
    } finally server.stop(0)
  }

  test("a resumed sink cuts a torn last line before it appends") {
    import java.nio.file.{Files, Paths}
    val dir = tempDir("torn")
    val out = s"$dir/out.jsonl"
    // a crash mid-append left half a record after the last whole line
    Files.writeString(Paths.get(out), "{\"TS\":\"whole\"}\n{\"TS\":\"to")
    val res = new Sinks.FileSink(out, startAppend = true)
      .write(normalized(recordLine))
    assert(res.writtenOk == 1)
    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.size == 2, lines)
    assert(lines.get(0) == "{\"TS\":\"whole\"}")
    assert(lines.get(1).startsWith("{\"TS\":\"2025-01-01T00:00:00Z\""), lines)
    // a file that is one torn line is cut to nothing
    Files.writeString(Paths.get(out), "{\"TS\":\"to")
    new Sinks.FileSink(out, startAppend = true).write(normalized(recordLine))
    assert(Files.readAllLines(Paths.get(out)).size == 1)
  }

  test("a filesystem without append fails the second write with a pointer to parquet") {
    // first write creates the target (no append needed); the second
    // must fail clearly instead of copying the target
    spark.sparkContext.hadoopConfiguration.set("fs.noappend.impl",
      classOf[NoAppendFileSystem].getName)
    val out = s"noappend://${tempDir("noappend")}/out.jsonl"
    val sink = new Sinks.FileSink(out)
    assert(sink.write(normalized(recordLine)).writtenOk == 1)
    val e = intercept[UnsupportedOperationException](
      sink.write(normalized(recordLine)))
    assert(e.getMessage.contains("output_type=parquet|s3"), e.getMessage)
  }

  test("sink builder: dispatch + kafka gated on connector + unknown type") {
    assert(Sinks.build(EtlConfig.default).toOption.get.isInstanceOf[Sinks.StdoutSink])
    assert(Sinks.build(EtlConfig.default.copy(outputType = "rotate",
      outputPath = "/tmp/x")).toOption.get.isInstanceOf[Sinks.RotatingSink])
    assert(Sinks.build(EtlConfig.default.copy(outputType = "parquet",
      outputPath = "/tmp/x")).toOption.get.isInstanceOf[Sinks.ParquetSink])
    // kafka: native when the connector jar is present, clear error when
    // not (this environment ships core Spark only)
    val kafka = Sinks.build(EtlConfig.default.copy(outputType = "kafka",
      outputPath = "broker:9092/logs"))
    if (Sinks.kafkaConnectorAvailable)
      assert(kafka.toOption.get.isInstanceOf[Sinks.KafkaSink])
    else
      assert(kafka.swap.toOption.get.contains("spark-sql-kafka"))
    // malformed path rejected before any connector use
    if (Sinks.kafkaConnectorAvailable)
      assert(Sinks.build(EtlConfig.default.copy(outputType = "kafka",
        outputPath = "no-topic")).swap.toOption.get.contains("bootstrap-servers/topic"))
    assert(Sinks.build(EtlConfig.default.copy(outputType = "nope")).isLeft)
  }

  test("parquet sink: round-trips the normalized schema") {
    val dir = tempDir("pq")
    val df = normalized(recordLine)
    val res = new Sinks.ParquetSink(s"$dir/out").write(df)
    assert(res.writtenOk == 1)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 1)
    assert(back.columns.toSet == df.columns.toSet)
  }

  test("sink lifecycle: second write on the same instance appends, fresh instance truncates") {
    def rec(i: Int) =
      s"""{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"m$i"}"""
    val dir = tempDir("appnd")

    // FileSink: batch 2 must extend batch 1's file
    val f = new Sinks.FileSink(s"$dir/out.jsonl")
    assert(f.write(normalized(rec(1), rec(2))).writtenOk == 2)
    assert(f.write(normalized(rec(3))).writtenOk == 1)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/out.jsonl"))
    assert(lines.size == 3, s"expected 3 cumulative lines, got $lines")
    // a NEW instance starts fresh (one-shot CLI semantics)
    assert(new Sinks.FileSink(s"$dir/out.jsonl")
      .write(normalized(rec(9))).writtenOk == 1)
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/out.jsonl")).size == 1)

    // ParquetSink: append across writes on one instance
    val p = new Sinks.ParquetSink(s"$dir/pq")
    p.write(normalized(rec(1)))
    p.write(normalized(rec(2)))
    assert(spark.read.parquet(s"$dir/pq").count() == 2)

    // RotatingSink: rotation state (index/size) survives across writes
    val r = new Sinks.RotatingSink(s"$dir/rot.jsonl", maxBytes = 10000,
      maxFiles = 3)
    r.write(normalized(rec(1)))
    r.write(normalized(rec(2)))
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/rot.jsonl")).size == 2)
  }
  test("render: a string field that LOOKS like JSON but is not stays quoted") {
    // "{oops" must not be emitted raw — the whole line would be invalid
    val dir = tempDir("jsonq")
    val out = s"$dir/out.jsonl"
    new Sinks.FileSink(out).write(normalized(
      """{"ts":"2025-01-01T00:00:00Z","level":"INFO","msg":"x","bad":"{oops","good":"{\"a\":1}","num":"5"}"""))
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(out)).get(0)
    // the full line must parse as JSON
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(line.contains(""""bad":"{oops""""))
    assert(line.contains(""""good":{"a":1}""")) // valid JSON stays raw
    assert(line.contains(""""num":5"""))
  }

  test("fresh pipeline run truncates the DLQ (os.Create parity); resume keeps it") {
    val dir = tempDir("dlqfresh")
    val path = java.nio.file.Paths.get(s"$dir/dlq.jsonl")
    java.nio.file.Files.writeString(path,
      "{\"record\":{\"TS\":\"stale\"},\"reason\":\"old failure\"}\n")
    assert(java.nio.file.Files.readAllLines(path).size == 1)
    Sinks.initDlq(path.toString) // what a fresh run does before writing
    assert(java.nio.file.Files.readAllLines(path).isEmpty,
      "fresh run must truncate")
    java.nio.file.Files.writeString(path,
      "{\"record\":{\"TS\":\"new\"},\"reason\":\"boom\"}\n",
      java.nio.file.StandardOpenOption.APPEND)
    val lines = java.nio.file.Files.readAllLines(path)
    assert(lines.size == 1 && lines.get(0).contains("new"))
  }

  test("rotating sink: oversized record rotates even into an empty base (rotate.go:41)") {
    val dir = tempDir("rotbig")
    val base = s"$dir/out.jsonl"
    val sink = new Sinks.RotatingSink(base, maxBytes = 10, maxFiles = 5)
    sink.write(normalized(recordLine)) // record far over 10 bytes
    // rotate happens BEFORE the first write, like rotate.go:41 (no
    // size>0 guard); in this sink's documented ordering (base oldest →
    // base.N newest) the empty base is left behind and the record
    // lands in the fresh base.1
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(base)) == 0)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(s"$base.1")) > 0)
  }

  test("builder floors zero config values like the reference") {
    // output_max_bytes=0 must mean 10MB, not rotate-per-record
    val dir = tempDir("floors")
    val cfg = EtlConfig.default.copy(outputType = "rotate",
      outputPath = s"$dir/r.jsonl", outputMaxBytes = 0, outputMaxFiles = 0,
      sinkBackoffBaseMs = 0, sinkBackoffMaxMs = 0)
    val sink = Sinks.build(cfg).fold(e => fail(e), identity)
    sink.write(normalized(recordLine, recordLine, recordLine))
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/r.jsonl")).size == 3,
      "3 small records must stay in one un-rotated file under the 10MB floor")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/r.jsonl.1")))
  }
}

/** The local filesystem under its own scheme, minus `append` — the
  * shape of an object store to the single-file writer. */
class NoAppendFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "noappend"
  override def getUri: java.net.URI = java.net.URI.create("noappend:///")
  override def append(f: org.apache.hadoop.fs.Path, bufferSize: Int,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    throw new UnsupportedOperationException("append is not supported")
}
