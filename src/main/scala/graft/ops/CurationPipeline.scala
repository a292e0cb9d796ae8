package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Config-driven curation: declare the crawl pipeline as a stage list
  * instead of hand-chaining operators — the scaled-up analog of the
  * reference's transform plugin registry (`internal/plugins/
  * registry.go:1-51`: named transforms, case-insensitive lookup, hard
  * error on an unknown name), applied to the corpus-curation surface.
  *
  * The pipeline frame contract: `doc_id` + `textCol`, with any other
  * columns riding along untouched (gates filter rows, rewrites replace
  * the text column in place, dedup stages carry the passthrough
  * columns through their exploded frame and emit `doc_id`, the
  * passthrough columns, then the cleaned text). Every stage reads its
  * upstream frame once, so a chain's plan grows linearly with its
  * length, never doubling per stage. `doc_id` is the document key: a
  * row with a null `doc_id` drops at the first dedup or keeper stage.
  * Every stage here is a thin binding to an operator that already has
  * its own oracle-checked query — the registry adds composition,
  * never new semantics.
  *
  * Config shape (the reference's limited-YAML spirit):
  * {{{
  * stages:
  *   - html_extract
  *   - encoding_gate max_bad_ratio=0.01
  *   - line_dedup max_occurrences=1
  *   - quality_gate min_quality=0.6
  *   - exact_keeper
  * }}}
  */
object CurationPipeline {

  /** A stage: (frame, params) → frame. */
  type Stage = (DataFrame, Map[String, String]) => DataFrame

  private def p(params: Map[String, String], key: String,
      default: String): String = params.getOrElse(key, default)

  private def textRewrite(d: DataFrame, c: Column => Column): DataFrame =
    d.withColumn("text", c(col("text")))

  /** Dedup stages: `dedup(docs, carry)` emits (doc_id, clean_text, …,
    * `Dedup.CarryCol`) with every column other than `doc_id` and `text`
    * carried in the struct; unpack it as `doc_id`, those columns in
    * their input order, then the cleaned `text`. */
  private def dedupStage(d: DataFrame,
      dedup: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    val carry = d.columns.toSeq.filterNot(Set("doc_id", "text"))
    val out = dedup(d.filter(col("doc_id").isNotNull), carry)
    out.select(col("doc_id") +:
      carry.map(c => out(Dedup.CarryCol).getField(c).as(c)) :+
      col("clean_text").as("text"): _*)
  }

  val registry: Map[String, Stage] = Map(
    "html_extract" -> ((d, _) => textRewrite(d, t =>
      when(t.contains("<html"), TextAnalysis.htmlToText(t)).otherwise(t))),
    "encoding_gate" -> ((d, prm) => {
      val (_, _, _, keep) = TextAnalysis.encodingQuality(col("text"),
        p(prm, "max_bad_ratio", "0.01").toDouble)
      d.filter(keep)
    }),
    "canonicalize" -> ((d, _) => textRewrite(d, TextAnalysis.canonicalText)),
    "pii_scrub" -> ((d, _) => textRewrite(d, TextAnalysis.scrubPii)),
    "line_dedup" -> ((d, prm) => dedupStage(d, (docs, carry) =>
      Dedup.lineDedup(docs, p(prm, "max_occurrences", "1").toLong,
        carry = carry))),
    "para_dedup" -> ((d, prm) => dedupStage(d, (docs, carry) =>
      Dedup.paragraphDedup(docs, p(prm, "max_occurrences", "1").toLong,
        carry = carry))),
    "substr_dedup" -> ((d, prm) => dedupStage(d, (docs, carry) =>
      Dedup.exactSubstringDedup(docs, p(prm, "k", "8").toInt,
        p(prm, "max_occurrences", "1").toLong, carry = carry))),
    "quality_gate" -> ((d, prm) => d.filter(
      TextAnalysis.qualityScore(col("text")) >=
        p(prm, "min_quality", "0.5").toDouble)),
    "lang_gate" -> ((d, prm) => d.filter(
      col("lang").isInCollection(p(prm, "langs", "en").split('|').toSeq))),
    "length_gate" -> ((d, prm) => {
      val n = TextAnalysis.tokenCount(col("text"))
      d.filter(n >= p(prm, "min_tokens", "1").toInt &&
        n <= p(prm, "max_tokens", Int.MaxValue.toString).toInt)
    }),
    "exact_keeper" -> ((d, _) => {
      // one aggregate keyed by the text itself (what its md5
      // fingerprint stands for) keeps each text's min doc_id; min
      // skips null doc_ids, so a text with none drops. A fixed-width
      // min keeps it a code-generated hash aggregate whose partial
      // aggregation shrinks a hot text before the shuffle (a struct
      // buffer would make it a sort aggregate and triple the classes
      // the stage generates); passthrough columns, if any, ride in
      // one min_by struct
      val carry = d.columns.toSeq.filterNot(Set("doc_id", "text"))
      val kept = d.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"),
          Dedup.carryStruct(d, carry).map(s =>
            min_by(s, col("doc_id")).as(Dedup.CarryCol)): _*)
        .filter(col("doc_id").isNotNull)
      kept.select(d.columns.toSeq.map {
        case c @ ("doc_id" | "text") => kept(c)
        case c => kept(Dedup.CarryCol).getField(c).as(c)
      }: _*)
    }))

  /** Apply stages in order. Unknown stage = hard error naming the
    * registry (the reference registry's contract, `registry.go:34-38`);
    * lookup is case-insensitive like the reference's. */
  def apply(docs: DataFrame,
      stages: Seq[(String, Map[String, String])]): DataFrame =
    stages.foldLeft(docs) { case (d, (name, params)) =>
      registry.get(name.toLowerCase) match {
        case Some(stage) => stage(d, params)
        case None => throw new IllegalArgumentException(
          s"unknown curation stage '$name'; known: " +
            registry.keys.toSeq.sorted.mkString(", "))
      }
    }

  /** Parse the stages config: a `stages:` key followed by `- name
    * [k=v ...]` items (the reference's limited-YAML shape). Blank
    * lines and `#` comments skipped. */
  def parseStages(text: String)
      : Either[String, Seq[(String, Map[String, String])]] = {
    val lines = text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    if (!lines.headOption.contains("stages:"))
      return Left("config must start with 'stages:'")
    val items = lines.drop(1)
    val bad = items.filterNot(_.startsWith("- "))
    if (bad.nonEmpty) return Left(s"not a '- stage' item: '${bad.head}'")
    val parsed = items.map { l =>
      val tokens = l.drop(2).trim.split("\\s+").toSeq
      val (kvs, names) = tokens.partition(_.contains("="))
      if (names.size != 1)
        return Left(s"stage item needs exactly one name: '$l'")
      val params = kvs.map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }.toMap
      names.head -> params
    }
    Right(parsed)
  }

  /** Load + apply from a config string. */
  def fromConfig(docs: DataFrame, configText: String): DataFrame =
    parseStages(configText).fold(
      err => throw new IllegalArgumentException(s"curation config: $err"),
      stages => apply(docs, stages))
}
