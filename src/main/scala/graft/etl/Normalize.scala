package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The normalize operator: dynamic raw JSONL → fixed normalized schema.
  *
  * Re-expresses `/root/reference/internal/stages/normalize.go:11-206` as
  * Catalyst expressions (whole-stage-codegen friendly, no UDFs), so
  * Catalyst is free to prune/pipe/pushdown around it and the same
  * expressions serve batch and Structured Streaming unchanged. Each
  * line is parsed ONCE, by the codegen kernel
  * [[expressions.ParseLogLine]]; alias, trim, RFC3339 and error columns
  * are column expressions over its struct.
  *
  * Semantics reproduced exactly:
  *   - alias fallback on *empty-after-trim* (not merely absent) for
  *     ts/time, level/severity, msg/message, service/app/component,
  *     trace_id/trace (`normalize.go:17-84,137-149`);
  *   - `kubernetes.{namespace_name,pod_name,node_name}` flattening with
  *     top-level `namespace`/`pod`/`node` *override* (present wins, even
  *     when empty) and `hostname` as a final fallback for node only when
  *     the result is still empty (`normalize.go:87-134`);
  *   - residual keys → `fields` map (everything not in
  *     [[LogSchema.CanonicalKeys]], `normalize.go:151-172`);
  *   - strict RFC3339/RFC3339Nano validation with Go-compatible error
  *     messages and re-formatting to RFC3339Nano preserving the original
  *     zone offset (`normalize.go:174-206`);
  *   - required-field errors in Go's order: timestamp, message, level;
  *     `upper(level)` applied only on success (`normalize.go:180-189`).
  *
  * Documented deltas vs the Go reference (see SURVEY §7.4):
  *   - JSON scalar values of canonical keys are coerced to string by the
  *     PERMISSIVE parse (Go ignores non-string values → alias fallback);
  *   - `fields` values are the raw JSON text of the value rather than a
  *     typed `any` (re-rendered with types at the sink);
  *   - fractional seconds are kept to µs (Spark timestamp precision),
  *     not ns.
  */
object Normalize {

  private def nonEmpty(c: Column): Column = nullif(trim(c), lit(""))

  /** First value that is non-empty after trimming — the reference's alias
    * chain (`if out.X == "" { try alias }`). */
  private def firstNonEmpty(cs: Column*): Column = coalesce(cs.map(nonEmpty): _*)

  /** Bridge a catalyst Expression into the public Column API. */
  private def exprCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.Bridge.column(e)
  private def toExpr(c: Column) =
    org.apache.spark.sql.graft.Bridge.expression(c)

  /** Normalize a DataFrame holding raw JSONL in `lineCol`.
    *
    * Output columns: the full [[LogSchema.NormalizedSchema]] plus
    *   - `line`   — the raw input (for DLQ / debugging),
    *   - `error`  — null when normalized OK, else the Go-compatible
    *                message,
    *   - `error_kind` — null | "json" | "normalize" (drives the A1/A2
    *                counters without a second pass).
    *
    * Blank lines must be filtered out by the caller (the reference skips
    * them before counting, `cmd/etl/main.go:354-356`); [[parseLines]]
    * does this.
    */
  def normalize(df: DataFrame, lineCol: String = "line"): DataFrame = {
    // ONE JSON parse per line, from the line's UTF-8 bytes, by the
    // codegen kernel [[expressions.ParseLogLine]]: a struct of the
    // canonical keys' slots, the three `kubernetes` fields and the
    // residual `fields` map — null when the line is not a JSON object.
    // JSON scalars arrive as their raw text (the struct-parse
    // coercion). Built-in from_json is CodegenFallback: one occurrence
    // disables whole-stage codegen for the projection (measured ~4x).
    val parsed = df.withColumn("_p",
      exprCol(expressions.ParseLogLine(toExpr(col(lineCol)))))
    def f(key: String): Column = col("_p").getField(key)

    // PERFORMANCE SHAPE (measured, see git history): whole-stage-codegen
    // subexpression elimination does NOT apply inside CASE WHEN branches,
    // so shared subtrees must be hoisted into their own projection layer
    // as real attributes — otherwise every output column re-parses the
    // line and re-runs the regex/timestamp work (≈10× slower). The
    // parsed struct `_p` is one such layer: every column below reads a
    // field of it, and the line is parsed once. Each `withColumns`
    // batch below is one more layer; CollapseProject keeps the layers
    // separate because the hoisted aliases are non-cheap and multiply
    // referenced.
    val stage1 = parsed.withColumns(Map(
      "_ts_str" -> firstNonEmpty(f("ts"), f("time")),
      "_lvl" -> firstNonEmpty(f("level"), f("severity")),
      "message" -> firstNonEmpty(f("msg"), f("message")),
      "service" -> coalesce(
        firstNonEmpty(f("service"), f("app"), f("component")), lit("")),
      // Top-level namespace/pod override k8s.* when *present* (even
      // empty), and are not trimmed — a slot is null exactly when the
      // key is absent (or JSON null).
      "namespace" -> coalesce(f("namespace"), f("kubernetes_namespace_name"), lit("")),
      "pod" -> coalesce(f("pod"), f("kubernetes_pod_name"), lit("")),
      // node: top-level override is trimmed; empty result falls back to
      // trimmed hostname (`normalize.go:122-134`).
      "node" -> coalesce(nullif(
        coalesce(trim(f("node")), f("kubernetes_node_name")), lit("")),
        nonEmpty(f("hostname")), lit("")),
      "trace_id" -> coalesce(firstNonEmpty(f("trace_id"), f("trace")), lit("")),
      // a null struct is the parse-failure signal (P1,
      // `cmd/etl/main.go:365-374`)
      "_json_failed" -> col("_p").isNull,
      "_fields_raw" -> f("fields")))

    // ONE-pass strict RFC3339 validate+parse+render via the codegen
    // [[expressions.Rfc3339Parse]] — replaces six chained regex/format
    // expressions (shape rlike, zone regexp_extracts, try_to_timestamp,
    // RFC3339Nano re-render); same accept set, same rendering
    // (oracle-verified, see the expression's scaladoc).
    val stage2 = stage1.withColumns(Map(
      "_rfc" -> exprCol(expressions.Rfc3339Parse(toExpr(col("_ts_str"))))))

    val tsValid = col("_rfc").isNotNull
    val error = when(col("_json_failed"), lit("invalid JSON"))
      .when(col("_ts_str").isNull,
        lit("missing timestamp: expected ts/time in RFC3339"))
      .when(!tsValid, concat(lit("invalid timestamp \""), col("_ts_str"),
        lit("\": expected RFC3339")))
      .when(col("message").isNull, lit("missing message: expected msg/message"))
      .when(col("_lvl").isNull, lit("missing level: expected level/severity"))

    val stage3 = stage2.withColumns(Map(
      "error" -> error,
      "ts_ts" -> timestamp_micros(col("_rfc.us")),
      "ts_offset_secs" -> col("_rfc.off"),
      "ts" -> col("_rfc.rendered"),
      "fields" -> when(!col("_json_failed"), coalesce(col("_fields_raw"),
        map().cast(MapType(StringType, StringType))))))

    stage3
      .withColumn("error_kind", when(col("_json_failed"), lit("json"))
        .when(col("error").isNotNull, lit("normalize")))
      .withColumn("level", when(col("error").isNull, upper(col("_lvl"))))
      .drop("_p", "_ts_str", "_lvl", "_json_failed", "_fields_raw", "_rfc")
  }

  /** Typed residual fields (SURVEY §7.4 option b): add a `fields_v`
    * VARIANT column holding the same residual keys as `fields` but with
    * JSON TYPES INTACT — the reference's `Fields map[string]any`
    * (`normalize.go:151-172`) without the string coercion of the
    * portable map. Typed access: `variant_get(fields_v, '$.status',
    * 'int')`, nested paths, `schema_of_variant`. Null exactly when the
    * line failed the JSON parse (same contract as the map).
    *
    * Opt-in and additive: the map<string,string> `fields` stays the
    * default everywhere (engine-portable, oracle-checked); call this on
    * a normalized frame when typed field predicates are needed. */
  def withVariantFields(df: DataFrame, lineCol: String = "line"): DataFrame =
    df.withColumn("fields_v", exprCol(expressions.JsonResidualVariant(
      toExpr(col(lineCol)), LogSchema.CanonicalKeys)))

  /** S1: JSONL source. Reads path as text, drops blank lines (the
    * reference skips them before any counter, `main.go:354-356`), yields
    * one `line` column. The streaming variant uses `readStream.text`
    * with the same downstream expressions. */
  def parseLines(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.textFile(path).toDF("line")
      .filter(trim(col("line")) =!= "")

  /** S1 breadth: structured record sources (CSV / ORC / parquet /
    * json-per-record). Rows are re-encoded into the SAME
    * one-JSON-object-per-line protocol the JSONL path consumes
    * (`to_json` omits null cells, so an empty CSV cell behaves exactly
    * like an absent JSON key) and every downstream operator — alias
    * resolution, RFC3339 parse, residual-field capture, filters,
    * redaction — runs unchanged. CSV reads with a header and WITHOUT
    * schema inference: all cells arrive as strings, which coerce
    * identically to the JSON path's `map<string,string>` residuals
    * (and inference would cost a second pass over the data at scale).
    *
    * The re-encode is one codegen'd projection fused into the scan —
    * format breadth costs no extra pass and no shuffle. */
  def parseRecordLines(spark: org.apache.spark.sql.SparkSession, path: String,
      format: String, options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format)
      .options(if (format == "csv") Map("header" -> "true") ++ options else options)
    val df = reader.load(path)
    // backtick-quote names: a CSV header like `user.name` is a legal
    // flat column, but a bare col() call would parse the dot as
    // nested-field access and fail analysis
    val cols = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    df.select(to_json(struct(cols: _*)).as("line"))
      .filter(col("line") =!= "{}") // all-null row = blank line (skipped)
  }

  /** CSV log source (S1 breadth) — see [[parseRecordLines]]. */
  def parseCsvLines(spark: org.apache.spark.sql.SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    parseRecordLines(spark, path, "csv", options)

  /** Full parse+normalize over a raw-line DataFrame: P1 + P2. */
  def apply(lines: DataFrame): DataFrame = normalize(lines)
}
