package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** P3–P6: filters, redaction, and the transform plugin registry.
  *
  * The reference's transform protocol is per-record
  * `(record) => (newRecord, drop, reason, error)` with short-circuit
  * (`/root/reference/internal/plugins/registry.go:14-51`,
  * `cmd/etl/main.go:391-411`). Here a transform is a whole-plan
  * `DataFrame => DataFrame` that may set the nullable `drop_reason` /
  * `transform_error` columns instead of physically dropping rows, so
  *   - drops stay *countable by reason* (report A5) with zero extra
  *     passes, and
  *   - the engine keeps one declarative plan for Catalyst to optimize
  *     (the final physical drop is a single `filter`).
  * Rows already marked dropped/errored are skipped by later transforms
  * (`when(dropReason.isNull && ..., transform)`) — the short-circuit.
  */
object Transforms {

  val DropReasonCol = "drop_reason"
  val TransformErrorCol = "transform_error"

  /** A transform stage: config → DataFrame → DataFrame. */
  type Transform = EtlConfig => DataFrame => DataFrame

  private def ensureProtocolCols(df: DataFrame): DataFrame = {
    val d1 = if (df.columns.contains(DropReasonCol)) df
      else df.withColumn(DropReasonCol, lit(null).cast("string"))
    if (d1.columns.contains(TransformErrorCol)) d1
    else d1.withColumn(TransformErrorCol, lit(null).cast("string"))
  }

  /** A row participates in transforms/sink only when it parsed and
    * normalized cleanly (the reference `continue`s on parse/normalize
    * errors before transforms run, `main.go:365-384`) and no earlier
    * transform dropped or errored it. */
  private def activeIn(df: DataFrame) = {
    val base = col(DropReasonCol).isNull && col(TransformErrorCol).isNull
    if (df.columns.contains("error")) base && col("error").isNull else base
  }

  /** P3: level allowlist. Empty list ⇒ allow all. The level column is
    * already uppercased by normalize; config values are uppercased here
    * (`filter.go:30-32,45-54`). Drop reason: "level". */
  def filterLevels(levels: Seq[String])(df: DataFrame): DataFrame = {
    val set = levels.filter(_.nonEmpty).map(_.toUpperCase)
    if (set.isEmpty) ensureProtocolCols(df)
    else {
      val d = ensureProtocolCols(df)
      d.withColumn(DropReasonCol,
        when(activeIn(d) && !upper(col("level")).isInCollection(set), lit("level"))
          .otherwise(col(DropReasonCol)))
    }
  }

  /** P4: service allowlist, case-insensitive (`filter.go:33-35,56-65`).
    * Drop reason: "service". */
  def filterServices(services: Seq[String])(df: DataFrame): DataFrame = {
    val set = services.filter(_.nonEmpty).map(_.toLowerCase)
    if (set.isEmpty) ensureProtocolCols(df)
    else {
      val d = ensureProtocolCols(df)
      d.withColumn(DropReasonCol,
        when(activeIn(d) && !lower(col("service")).isInCollection(set), lit("service"))
          .otherwise(col(DropReasonCol)))
    }
  }

  /** P5: PII redaction — remove exact-match keys from `fields`, only on
    * rows that are still active: the reference redacts only records that
    * passed the filters (`filter.go:37-41`, ordering asserted by
    * `internal/stages/filter_test.go:36-53`). */
  def redactKeys(keys: Seq[String])(df: DataFrame): DataFrame = {
    val set = keys.filter(_.nonEmpty)
    if (set.isEmpty) ensureProtocolCols(df)
    else {
      val d = ensureProtocolCols(df)
      // codegen-capable fixed-key removal (vs map_filter, a
      // CodegenFallback higher-order function)
      val removed = org.apache.spark.sql.graft.Bridge.column(
        expressions.MapRemoveKeys(
          org.apache.spark.sql.graft.Bridge.expression(col("fields")),
          set))
      d.withColumn("fields",
        when(activeIn(d), removed).otherwise(col("fields")))
    }
  }

  /** The built-in `filter_redact` plugin: P3 → P4 → P5 in the reference's
    * order (`filter.go:30-41`). */
  def filterRedact(cfg: EtlConfig)(df: DataFrame): DataFrame =
    redactKeys(cfg.redactKeys)(
      filterServices(cfg.filterServices)(
        filterLevels(cfg.filterLevels)(df)))

  /** Split a transformed frame into (kept, dropped, errored). */
  def split(df: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val d = ensureProtocolCols(df)
    (d.filter(activeIn(d)),
      d.filter(col(DropReasonCol).isNotNull),
      d.filter(col(TransformErrorCol).isNotNull))
  }
}

/** P6: named transform registry with case-insensitive lookup, unknown
  * name is a hard error, empty config defaults to `filter_redact`
  * (`registry.go:19-38`). */
object TransformRegistry {
  import Transforms.Transform

  private val registry =
    scala.collection.concurrent.TrieMap[String, Transform]()

  def register(name: String, t: Transform): Unit =
    registry.put(name.toLowerCase, t)

  def lookup(name: String): Option[Transform] = registry.get(name.toLowerCase)

  /** Build the configured chain as one function, stages applied in
    * config order; `Left(error)` on unknown names. */
  def buildTransforms(cfg: EtlConfig): Either[String, DataFrame => DataFrame] = {
    val names = if (cfg.transforms.isEmpty) Seq("filter_redact") else cfg.transforms
    val resolved = names.map(n => n -> lookup(n))
    resolved.collectFirst { case (n, None) => n } match {
      case Some(bad) => Left(s"""unknown transform "$bad"""")
      case None => Right(Function.chain(resolved.flatMap(_._2).map(_(cfg))))
    }
  }

  /** Apply the configured chain. */
  def apply(cfg: EtlConfig)(df: DataFrame): Either[String, DataFrame] =
    buildTransforms(cfg).map(_(df))

  register("filter_redact", cfg => Transforms.filterRedact(cfg))
}
