package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.EtlConfig

/** Deterministic JSONL synthesis from the `events` table, so the REAL
  * parse/normalize/filter/redact operators (graft.etl) can be verified
  * against a DuckDB oracle that recomputes the expected output with
  * plain CASE arithmetic (no JSON functions needed on the oracle side).
  *
  * Per `event_id` (all conditions mutually deterministic):
  *   - `% 97 == 0`  → corrupt line (P1 json_failed path)
  *   - `% 83 == 0`  → `ts: "not-a-date"` (P2 invalid-timestamp path)
  *   - `% 89 == 0`  → level key omitted (P2 missing-level path)
  *   - `% 10 < 5`   → `ts` key, else `time` alias
  *   - `% 3 == 0`   → `severity` alias, else `level`
  *   - `% 5`        → level value: info/WARN/error/DEBUG/Info (case mix)
  *   - `% 2`        → `msg` vs `message` alias
  *   - `% 7 == 0`   → `app` alias, else `service` (value = event_type)
  *   - `% 11 == 0`  → extra `user_email` PII field (P5 redaction target)
  *   - always       → residual fields `user_id`, `value`, `k`
  */
object EventsAsLogs {

  /** The filter/redact config the etl_* queries run under. */
  val QueryConfig: EtlConfig = EtlConfig.default.copy(
    filterLevels = Seq("WARN", "ERROR"),
    filterServices = Seq("click", "error", "view", "purchase"), // drops signup
    redactKeys = Seq("user_email"))

  def lines(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val id = col("event_id")
    val tsStr = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val level = when(id % 5 === 0, "info").when(id % 5 === 1, "WARN")
      .when(id % 5 === 2, "error").when(id % 5 === 3, "DEBUG")
      .otherwise("Info")
    val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val tsPart = when(id % 83 === 0, lit("\"ts\":\"not-a-date\""))
      .when(id % 10 < 5, concat(lit("\"ts\":\""), tsStr, lit("\"")))
      .otherwise(concat(lit("\"time\":\""), tsStr, lit("\"")))
    val levelPart = when(id % 89 === 0, lit(null).cast("string"))
      .when(id % 3 === 0, concat(lit("\"severity\":\""), level, lit("\"")))
      .otherwise(concat(lit("\"level\":\""), level, lit("\"")))
    val msgPart = concat(
      when(id % 2 === 0, lit("\"msg\":\"evt ")).otherwise(lit("\"message\":\"evt ")),
      col("event_type"), lit("\""))
    val svcPart = concat(
      when(id % 7 === 0, lit("\"app\":\"")).otherwise(lit("\"service\":\"")),
      col("event_type"), lit("\""))
    val pii = when(id % 11 === 0,
      concat(lit(",\"user_email\":\"u"), col("user_id"), lit("@example.com\"")))
      .otherwise(lit(""))
    val fieldsPart = concat(
      lit(",\"user_id\":"), col("user_id"),
      lit(",\"value\":"), col("value"),
      lit(",\"k\":"), coalesce(nullif(k, lit("")), lit("0")),
      pii)
    // concat_ws skips the null levelPart → key genuinely absent
    val obj = concat(lit("{"),
      concat_ws(",", tsPart, levelPart, msgPart, svcPart), fieldsPart, lit("}"))
    val line = when(id % 97 === 0, lit("{not-json")).otherwise(obj)
    e.select(id.as("event_id"), line.as("line"))
  }

  /** CSV twin of the JSONL synthesis (S1 breadth): the same
    * deterministic per-row content expressed as a real CSV FILE —
    * written to a temp dir, then read back through the production
    * [[graft.etl.Normalize.parseCsvLines]] source, so the CSV path is
    * driver-verifiable END-TO-END (file round-trip included, not just
    * an in-memory frame). A CSV has a fixed header, so the key-alias
    * and corrupt-JSON variants don't apply; the twin keeps the
    * invalid-timestamp (`%83`) and missing-level (`%89` → empty cell →
    * absent key) error paths and the PII column (`%11`). The read-back
    * lines are checkpointed and the temp dir deleted before this
    * returns: materialize the result before
    * [[graft.ops.Dedup.releaseCaches]], which frees the blocks. */
  def csvLines(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val id = col("event_id")
    val tsStr = date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val level = when(id % 5 === 0, "info").when(id % 5 === 1, "WARN")
      .when(id % 5 === 2, "error").when(id % 5 === 3, "DEBUG")
      .otherwise("Info")
    val csv = e.select(
      id.as("event_id"),
      when(id % 83 === 0, lit("not-a-date")).otherwise(tsStr).as("ts"),
      when(id % 89 === 0, lit(null).cast("string")).otherwise(level).as("level"),
      concat(lit("evt "), col("event_type")).as("message"),
      col("event_type").as("service"),
      col("user_id"),
      col("value"),
      when(id % 11 === 0,
        concat(lit("u"), col("user_id"), lit("@example.com")))
        .otherwise(lit(null).cast("string")).as("user_email"))
    // a fresh per-call temp dir: a FIXED path derived from `dir` would
    // race concurrent sessions on the same fixture (one JVM's overwrite
    // deleting files under another's in-flight scan)
    val out = java.nio.file.Files.createTempDirectory("graft-csv-twin-")
      .toFile
    try {
      csv.write.mode("overwrite").option("header", "true").csv(out.getPath)
      // read back once into checkpoint blocks, so the directory can go
      // now; Dedup.releaseCaches frees the blocks
      graft.ops.Dedup.checkpointTracked(
        graft.etl.Normalize.parseCsvLines(spark, out.getPath))
    } finally graft.ops.SuffixIndex.deleteRecursively(out)
  }

  /** Synthesized lines run through the real Normalize + transform chain
    * under [[QueryConfig]]. */
  def transformed(spark: SparkSession, dir: String): DataFrame = {
    val normalized = graft.etl.Normalize(lines(spark, dir))
    graft.etl.TransformRegistry(QueryConfig)(normalized)
      .fold(err => throw new IllegalStateException(err), identity)
  }
}
