package graft.etl

import org.apache.spark.sql.types._

/** Canonical schema of the normalized K8s log record.
  *
  * Mirrors the reference's normalized model
  * (`/root/reference/internal/model/normalized.go:3-13` and
  * `/root/reference/docs/schema.md`) re-expressed for Spark:
  *
  *   - the reference keeps `TS` as an RFC3339Nano *string*; here the
  *     engine-internal representation is a real `TimestampType` (µs, UTC
  *     session TZ) plus the original zone offset in seconds, so that event
  *     time ops (windows, watermarks) are native and the exact
  *     RFC3339Nano rendering (including the original numeric offset) can
  *     be reproduced at the sink — see [[expressions.Rfc3339Parse]].
  *   - `Fields` is `map[string]any` in Go; here it is
  *     `MapType(String, String)` where non-string JSON values keep their
  *     raw JSON text ("200", "true", "{\"a\":1}"). [[expressions.RenderRecord]]
  *     re-renders them as typed JSON, which round-trips everything except
  *     a string that itself looks like a JSON literal (documented delta).
  */
object LogSchema {

  /** Keys consumed by normalization and therefore excluded from `fields`
    * (`/root/reference/internal/stages/normalize.go:151-172`). */
  val CanonicalKeys: Seq[String] = Seq(
    "ts", "time", "hostname", "level", "severity", "msg", "message",
    "service", "app", "component", "kubernetes", "trace_id", "trace",
    "namespace", "pod", "node")

  /** Normalized output schema (order matches the reference's JSON render,
    * `normalized.go:3-13`). `ts` is the canonical RFC3339Nano string (sink
    * surface); `ts_ts`/`ts_offset_secs` are the engine-internal typed
    * representation. NOT free-floating documentation: NormalizeSpec
    * binds this struct (and [[LogRecord]]) field-for-field against the
    * actual normalize output, so drift fails a test. */
  val NormalizedSchema: StructType = StructType(Seq(
    StructField("ts", StringType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("message", StringType, nullable = false),
    StructField("service", StringType),
    StructField("namespace", StringType),
    StructField("pod", StringType),
    StructField("node", StringType),
    StructField("trace_id", StringType),
    StructField("fields", MapType(StringType, StringType)),
    StructField("ts_ts", TimestampType),
    StructField("ts_offset_secs", IntegerType)))
}

/** Typed view of a normalized record (Dataset[LogRecord] surface). */
case class LogRecord(
    ts: String,
    level: String,
    message: String,
    service: String,
    namespace: String,
    pod: String,
    node: String,
    trace_id: String,
    fields: Map[String, String],
    ts_ts: java.sql.Timestamp,
    ts_offset_secs: Integer)
