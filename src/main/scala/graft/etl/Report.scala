package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The report's `stage_timings`: wall seconds of the two driver
  * actions that [[Pipeline.process]] runs on the cached transformed
  * frame. Parse, normalize and the transforms fuse into the plan of
  * the first action, so none of them has an action of its own to time:
  *   - `writingSeconds`: the sink write plus the DLQ append. It is the
  *     first action, so it also pays for reading, parsing, normalizing
  *     and transforming the input into the cache;
  *   - `normalizationSeconds`: the report pass
  *     ([[EtlReport.fromDataFrame]]) over the cached frame;
  *   - `parsingSeconds`, `filteringSeconds`: not measured, always 0,
  *     kept so the key set matches the reference report.
  * Multi-batch runs (stdin, streaming) sum them across batches. */
case class StageTimings(
    parsingSeconds: Double = 0,
    normalizationSeconds: Double = 0,
    filteringSeconds: Double = 0,
    writingSeconds: Double = 0)

case class RetryStats(
    totalRetries: Long = 0,
    writesWithRetries: Long = 0,
    maxRetriesPerWrite: Long = 0)

/** A1–A11: the metrics report.
  *
  * The reference maintains mutex-guarded counters updated record-at-a-time
  * (`internal/report/report.go:14-185`). Here A1–A5 come
  * from [[EtlReport.fromDataFrame]] over the transformed frame and
  * A6–A8 from the sink's [[Sinks.WriteResult]] (write/retry/DLQ stats) —
  * the Spark-idiomatic equivalent of the Go worker counters.
  */
case class EtlReport(
    totalLines: Long = 0,
    jsonFailed: Long = 0,
    jsonParsed: Long = 0,
    normalizedOk: Long = 0,
    normalizedFailed: Long = 0,
    writtenOk: Long = 0,
    writeFailed: Long = 0,
    byLevel: Map[String, Long] = Map.empty,
    byService: Map[String, Long] = Map.empty,
    filteredLevel: Long = 0,
    filteredService: Long = 0,
    filteredOther: Long = 0,
    dlqWritten: Long = 0,
    dlqReasons: Map[String, Long] = Map.empty,
    durationSeconds: Double = 0,
    throughput: Double = 0,
    jsonErrorRate: Double = 0,
    normalizeErrorRate: Double = 0,
    writeErrorRate: Double = 0,
    stageTimings: StageTimings = StageTimings(),
    retryStats: RetryStats = RetryStats()) {

  /** Derived metrics (`report.go:167-185`). */
  def withDuration(seconds: Double): EtlReport = {
    val d = if (seconds <= 0 && totalLines > 0) 1e-9 else seconds
    copy(
      durationSeconds = d,
      throughput = if (d > 0) totalLines / d else throughput,
      jsonErrorRate = if (totalLines > 0) jsonFailed.toDouble / totalLines else 0,
      normalizeErrorRate = if (totalLines > 0) normalizedFailed.toDouble / totalLines else 0,
      writeErrorRate = {
        val writes = writtenOk + writeFailed
        if (totalLines > 0 && writes > 0) writeFailed.toDouble / writes else 0
      })
  }

  /** Pretty JSON with the reference's exact key names
    * (`report.go:14-38`, rendered `report.go:188-210`). */
  def toJson: String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def obj(m: Map[String, Long], indent: String): String =
      if (m.isEmpty) "{}"
      else m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""$indent  "${esc(k)}": $v""" }
        .mkString("{\n", ",\n", s"\n$indent}")
    def f6(v: Double): String = {
      // Go's encoding/json renders floats compactly; match closest.
      if (v == v.toLong.toDouble) v.toLong.toString else v.toString
    }
    s"""{
       |  "total_lines": $totalLines,
       |  "json_failed": $jsonFailed,
       |  "json_parsed": $jsonParsed,
       |  "normalized_ok": $normalizedOk,
       |  "normalized_failed": $normalizedFailed,
       |  "written_ok": $writtenOk,
       |  "written_failed": $writeFailed,
       |  "by_level": ${obj(byLevel, "  ")},
       |  "by_service": ${obj(byService, "  ")},
       |  "filtered": {
       |    "by_level": $filteredLevel,
       |    "by_service": $filteredService,
       |    "other": $filteredOther
       |  },
       |  "dlq_written": $dlqWritten,
       |  "duration_seconds": ${f6(durationSeconds)},
       |  "throughput_lines_per_sec": ${f6(throughput)},
       |  "json_error_rate": ${f6(jsonErrorRate)},
       |  "normalize_error_rate": ${f6(normalizeErrorRate)},
       |  "write_error_rate": ${f6(writeErrorRate)},
       |  "stage_timings": {
       |    "parsing_seconds": ${f6(stageTimings.parsingSeconds)},
       |    "normalization_seconds": ${f6(stageTimings.normalizationSeconds)},
       |    "filtering_seconds": ${f6(stageTimings.filteringSeconds)},
       |    "writing_seconds": ${f6(stageTimings.writingSeconds)}
       |  },
       |  "retry_stats": {
       |    "total_retries": ${retryStats.totalRetries},
       |    "writes_with_retries": ${retryStats.writesWithRetries},
       |    "max_retries_per_write": ${retryStats.maxRetriesPerWrite}
       |  },
       |  "dlq_reasons": ${obj(dlqReasons, "  ")}
       |}""".stripMargin
  }

  def writeJson(path: String): Unit =
    if (path.isEmpty || path == "-") println(toJson)
    else {
      val p = java.nio.file.Paths.get(path)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, toJson + "\n")
    }

  /** Prometheus text exposition, field-for-field with
    * `report.go:213-248`. */
  def prometheus: String = {
    val sb = new StringBuilder
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    sb ++= s"etl_total_lines $totalLines\n"
    sb ++= s"etl_json_failed $jsonFailed\n"
    sb ++= s"etl_json_parsed $jsonParsed\n"
    sb ++= s"etl_normalized_ok $normalizedOk\n"
    sb ++= s"etl_normalized_failed $normalizedFailed\n"
    sb ++= s"etl_written_ok $writtenOk\n"
    sb ++= s"etl_written_failed $writeFailed\n"
    sb ++= s"etl_dlq_written $dlqWritten\n"
    sb ++= f"etl_duration_seconds $durationSeconds%.6f\n"
    sb ++= f"etl_throughput_lines_per_sec $throughput%.6f\n"
    sb ++= f"etl_json_error_rate $jsonErrorRate%.6f\n"
    sb ++= f"etl_normalize_error_rate $normalizeErrorRate%.6f\n"
    sb ++= f"etl_write_error_rate $writeErrorRate%.6f\n"
    sb ++= s"etl_filtered_level $filteredLevel\n"
    sb ++= s"etl_filtered_service $filteredService\n"
    sb ++= s"etl_filtered_other $filteredOther\n"
    byLevel.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"etl_level_total{level=${q(k)}} $v\n" }
    byService.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s"etl_service_total{service=${q(k)}} $v\n" }
    sb ++= f"etl_stage_timing_seconds{stage=\"parsing\"} ${stageTimings.parsingSeconds}%.6f\n"
    sb ++= f"etl_stage_timing_seconds{stage=\"normalization\"} ${stageTimings.normalizationSeconds}%.6f\n"
    sb ++= f"etl_stage_timing_seconds{stage=\"filtering\"} ${stageTimings.filteringSeconds}%.6f\n"
    sb ++= f"etl_stage_timing_seconds{stage=\"writing\"} ${stageTimings.writingSeconds}%.6f\n"
    sb ++= s"etl_retry_total ${retryStats.totalRetries}\n"
    sb ++= s"etl_retry_writes_with_retries ${retryStats.writesWithRetries}\n"
    sb ++= s"etl_retry_max_per_write ${retryStats.maxRetriesPerWrite}\n"
    dlqReasons.toSeq.sortBy(_._1).foreach { case (reason, count) =>
      sb ++= s"etl_dlq_reason_total{reason=${q(reason)}} $count\n" }
    sb.toString
  }
}

object EtlReport {

  /** Deterministic top-N breakdown with an `(other)` rollup: the
    * driver-side map is bounded by `cap` keys no matter the corpus —
    * a `by_service` map over a 100 TB multi-tenant stream is otherwise
    * unbounded exactly where the driver is most precious. `orderBy +
    * limit` plans as TakeOrderedAndProject (per-partition top-N, ~cap
    * rows shuffled); the remainder is reconstructed from the already-
    * computed total so the map still sums to it. Ties broken by key, so
    * the reported map is stable run-to-run. With distinct keys <= cap
    * (every fixture, and the reference's own use) the map is bit-equal
    * to the reference's full map. */
  private def breakdown(grouped: DataFrame, keyCol: String, keyTotal: Long,
      cap: Int): Map[String, Long] = {
    val top = grouped
      .orderBy(col("count").desc, col(keyCol).asc)
      .limit(cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rest = keyTotal - top.values.sum
    if (rest > 0) top + ("(other)" -> rest) else top
  }

  /** Compute A1–A5 from a normalized+transformed frame in three jobs:
    * one global aggregate for the counters (A1, A2, A5), then one
    * groupBy per breakdown (A3 by level, A4 by service), each capped by
    * [[breakdown]]'s top-N. Every job is a map-side partial aggregate
    * that shuffles only counter rows; cache `df` first (as
    * [[Pipeline.process]] does) or each job re-reads the input.
    *
    * `df` must carry `error_kind`, `level`, `service`, `drop_reason`,
    * `transform_error` (the standard output of
    * [[Normalize.normalize]] + [[TransformRegistry.apply]]). Write
    * stats (A6–A8) and timings stay zero here. */
  def fromDataFrame(df: DataFrame, maxBreakdownKeys: Int = 10000): EtlReport = {
    val isJson = col("error_kind") === "json"
    val isNormErr = (col("error_kind") === "normalize") ||
      col(Transforms.TransformErrorCol).isNotNull
    val normalizedOkC = col("error_kind").isNull
    val withServiceC = normalizedOkC && col("service") =!= ""
    // every sum is coalesced: a global aggregate over ZERO rows (empty
    // input file, empty streaming micro-batch) yields NULL sums, and a
    // bare getLong would NPE where the reference prints a zero report
    def zsum(c: org.apache.spark.sql.Column) = coalesce(sum(c), lit(0L))
    val row = df.agg(
      count(lit(1)).as("total"),
      zsum(when(isJson, 1L).otherwise(0L)).as("json_failed"),
      zsum(when(isNormErr, 1L).otherwise(0L)).as("norm_failed"),
      // NormalizedOK is incremented BEFORE the transform chain runs
      // (`main.go:386-397`), so a transform error leaves it counted here
      // AND adds to normalized_failed — reproduce both.
      zsum(when(normalizedOkC, 1L).otherwise(0L)).as("norm_ok"),
      zsum(when(col(Transforms.DropReasonCol) === "level", 1L).otherwise(0L)).as("f_level"),
      zsum(when(col(Transforms.DropReasonCol) === "service", 1L).otherwise(0L)).as("f_service"),
      zsum(when(col(Transforms.DropReasonCol).isNotNull &&
        !col(Transforms.DropReasonCol).isin("level", "service"), 1L)
        .otherwise(0L)).as("f_other"),
      zsum(when(withServiceC, 1L).otherwise(0L)).as("with_service")).head()

    // A3: counted after normalize, before filtering (`main.go:387`);
    // empty level impossible post-normalize, empty service skipped
    // (`report.go:71-88`). Both maps bounded by [[breakdown]]'s top-N.
    val byLevel = breakdown(df.filter(normalizedOkC).groupBy("level").count(),
      "level", row.getLong(3), maxBreakdownKeys)
    val byService = breakdown(df.filter(withServiceC).groupBy("service").count(),
      "service", row.getLong(7), maxBreakdownKeys)

    val total = row.getLong(0)
    EtlReport(
      totalLines = total,
      jsonFailed = row.getLong(1),
      jsonParsed = total - row.getLong(1),
      normalizedFailed = row.getLong(2),
      normalizedOk = row.getLong(3),
      byLevel = byLevel,
      byService = byService,
      filteredLevel = row.getLong(4),
      filteredService = row.getLong(5),
      filteredOther = row.getLong(6))
  }

  /** Combine the reports of two batches of one run (stdin batches,
    * streaming micro-batches): counters, breakdown maps and stage
    * timings add; the retry maximum takes the max. Duration-derived
    * fields are left to the caller's [[EtlReport.withDuration]]. */
  def merge(a: EtlReport, b: EtlReport): EtlReport = {
    def addM(x: Map[String, Long], y: Map[String, Long]) =
      (x.keySet ++ y.keySet).map(k =>
        k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap
    val (ta, tb) = (a.stageTimings, b.stageTimings)
    a.copy(
      totalLines = a.totalLines + b.totalLines,
      jsonFailed = a.jsonFailed + b.jsonFailed,
      jsonParsed = a.jsonParsed + b.jsonParsed,
      normalizedOk = a.normalizedOk + b.normalizedOk,
      normalizedFailed = a.normalizedFailed + b.normalizedFailed,
      writtenOk = a.writtenOk + b.writtenOk,
      writeFailed = a.writeFailed + b.writeFailed,
      byLevel = addM(a.byLevel, b.byLevel),
      byService = addM(a.byService, b.byService),
      filteredLevel = a.filteredLevel + b.filteredLevel,
      filteredService = a.filteredService + b.filteredService,
      filteredOther = a.filteredOther + b.filteredOther,
      dlqWritten = a.dlqWritten + b.dlqWritten,
      dlqReasons = addM(a.dlqReasons, b.dlqReasons),
      stageTimings = StageTimings(
        ta.parsingSeconds + tb.parsingSeconds,
        ta.normalizationSeconds + tb.normalizationSeconds,
        ta.filteringSeconds + tb.filteringSeconds,
        ta.writingSeconds + tb.writingSeconds),
      retryStats = RetryStats(
        a.retryStats.totalRetries + b.retryStats.totalRetries,
        a.retryStats.writesWithRetries + b.retryStats.writesWithRetries,
        math.max(a.retryStats.maxRetriesPerWrite, b.retryStats.maxRetriesPerWrite)))
  }
}
