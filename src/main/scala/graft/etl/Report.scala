package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.etl.expressions.SpaceSavingTopK

/** The report's `stage_timings`. [[Pipeline.process]] runs one batch
  * as one fused pass — read, parse, normalize, transforms, the sink
  * write and the report counters observed on it — so there is one
  * action to time:
  *   - `writingSeconds`: that pass plus the sink's own appends (the
  *     file sink's target, the HTTP sink's DLQ);
  *   - `parsingSeconds`, `normalizationSeconds`, `filteringSeconds`:
  *     not measured, always 0 (their work fuses into the pass), kept so
  *     the key set matches the reference report.
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
  * (`internal/report/report.go:14-185`). Here A1–A5 are metrics
  * observed on the sink write's own pass over the transformed frame
  * ([[EtlReport.observed]]) and A6–A8 come from the sink's
  * [[Sinks.WriteResult]] (write/retry/DLQ stats) — the Spark-idiomatic
  * equivalent of the Go worker counters, counted inline as records flow
  * to the sink.
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
    * the reported map is stable run-to-run. Only [[observed]]'s
    * overflow case runs it: with distinct keys <= cap (every fixture,
    * and the reference's own use) the observed summary already is the
    * reference's full map. */
  private def breakdown(grouped: DataFrame, keyCol: String, keyTotal: Long,
      cap: Int): Map[String, Long] = {
    val top = grouped
      .orderBy(col("count").desc, col(keyCol).asc)
      .limit(cap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rest = keyTotal - top.values.sum
    if (rest > 0) top + ("(other)" -> rest) else top
  }

  /** A1–A5 as observed metrics of `df`'s next action: returns `df` with
    * `Dataset.observe` applied, and a reader that builds the report once
    * an action over the observed frame (or a plan on top of it) has run
    * — [[Pipeline.process]] passes it to the sink, so the report costs
    * no job of its own.
    *
    * The counters (A1, A2, A5) are one sum each. The breakdowns (A3 by
    * level, A4 by service) are [[expressions.SpaceSavingTopK]] summaries
    * of capacity `maxBreakdownKeys + 1`: a summary that ends with at
    * most `maxBreakdownKeys` entries never filled up, so nothing was
    * evicted or trimmed and its counts are exact and complete. Only a
    * summary that overflowed (more distinct keys than the cap) costs a
    * [[breakdown]] groupBy, over `df` itself, which recomputes it.
    *
    * `df` must carry `error_kind`, `level`, `service`, `drop_reason`,
    * `transform_error` (the standard output of
    * [[Normalize.normalize]] + [[TransformRegistry.apply]]). Write
    * stats (A6–A8) and timings stay zero here. The reader blocks until
    * the action's metrics arrive: call it only after that action. */
  def observed(df: DataFrame, maxBreakdownKeys: Int = 10000)
      : (DataFrame, () => EtlReport) = {
    val isJson = col("error_kind") === "json"
    val isNormErr = (col("error_kind") === "normalize") ||
      col(Transforms.TransformErrorCol).isNotNull
    val normalizedOkC = col("error_kind").isNull
    val withServiceC = normalizedOkC && col("service") =!= ""
    // every sum is coalesced: a global aggregate over ZERO rows (empty
    // input file, empty streaming micro-batch) yields NULL sums, and a
    // bare getLong would NPE where the reference prints a zero report
    def zsum(c: Column) = coalesce(sum(c), lit(0L))
    def summary(key: Column) = Bridge.column(SpaceSavingTopK(
      Bridge.expression(key), maxBreakdownKeys + 1).toAggregateExpression())
    val obs = Observation()
    val out = df.observe(obs,
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
      zsum(when(withServiceC, 1L).otherwise(0L)).as("with_service"),
      // A3: counted after normalize, before filtering (`main.go:387`);
      // empty level impossible post-normalize, empty service skipped
      // (`report.go:71-88`)
      summary(when(normalizedOkC, col("level"))).as("by_level"),
      summary(when(withServiceC, col("service"))).as("by_service"))

    def read(): EtlReport = {
      val m = obs.get
      def n(k: String) = m(k).asInstanceOf[Long]
      def top(keyCol: String, cond: Column, keyTotal: Long): Map[String, Long] = {
        val entries = m(s"by_$keyCol").asInstanceOf[Seq[Row]]
        if (entries.size <= maxBreakdownKeys)
          entries.map(e => e.getString(0) -> e.getLong(1)).toMap
        else breakdown(df.filter(cond).groupBy(keyCol).count(), keyCol,
          keyTotal, maxBreakdownKeys)
      }
      val total = n("total")
      EtlReport(
        totalLines = total,
        jsonFailed = n("json_failed"),
        jsonParsed = total - n("json_failed"),
        normalizedFailed = n("norm_failed"),
        normalizedOk = n("norm_ok"),
        byLevel = top("level", normalizedOkC, n("norm_ok")),
        byService = top("service", withServiceC, n("with_service")),
        filteredLevel = n("f_level"),
        filteredService = n("f_service"),
        filteredOther = n("f_other"))
    }
    (out, () => read())
  }

  /** A1–A5 of `df` on their own: [[observed]] followed by a `noop`
    * write, one job (plus [[breakdown]]'s groupBy when a map overflows
    * `maxBreakdownKeys`). The pipeline itself observes the sink's pass
    * instead ([[Pipeline.process]]). */
  def fromDataFrame(df: DataFrame, maxBreakdownKeys: Int = 10000): EtlReport = {
    val (out, report) = observed(df, maxBreakdownKeys)
    out.write.format("noop").mode("overwrite").save()
    report()
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
