package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._
import graft.ops.{CurationPipeline, Dedup}
import graft.streaming.StreamingPipeline

/** A failed output check: counted as a failed pass, never thrown out
  * of the run. */
final class CheckFailed(msg: String) extends Exception(msg)

/** One traced rung of a layer ladder. `run` forces the prefix of the
  * pipeline ending at layer `layer` into `dir` and returns facts about
  * what it produced (`rows`, `output_bytes`). */
final case class Rung(layer: String, run: File => Map[String, Double])

/** A workload: set-up writes the seeded inputs, a pass drives one of
  * the program's public entry points over them into a fresh
  * directory, and `check` verifies that pass's output against the
  * inputs' ground truth. The traced run forces each rung of `ladder`
  * in turn and then a full pass, attributed to layer `fullLayer`. */
trait Workload {
  def name: String
  /** Input records one pass processes (lines or documents). */
  def records: Long
  /** Discarded passes before the timed ones; the first is cold. */
  def warmPasses: Int
  def setup(): Unit
  def pass(dir: File): Unit
  def check(dir: File): Unit
  def ladder: Seq[Rung]
  def fullLayer: String
  /** Traced measurements outside the ladder, each run after a
    * repetition's full pass. */
  def probes: Seq[Rung] = Nil
  /** Facts about the last checked pass, as a rung returns them. */
  def facts(dir: File): Map[String, Double]
  /** This workload's per-layer metrics from the traced ladder. */
  def layerMetrics(l: Ladder): Map[String, Double]
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: File, seed: Long): Workload =
    name match {
      case "etl_batch" => new EtlBatch(spark, inputs, seed)
      case "curation" => new Curation(spark, inputs, seed)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (etl_batch, curation)")
    }

  def ensure(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** Force `df` with Spark's no-op sink, counting its rows on the way. */
  def noop(df: DataFrame): Map[String, Double] = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    Map("rows" -> obs.get("n").asInstanceOf[Long].toDouble)
  }

  def fileBytes(f: File): Double = if (f.isFile) f.length.toDouble else 0.0
}

/** `Pipeline.runFile` over one seeded JSONL file to a file sink plus
  * the report JSON. Its traced run also measures the streaming layer:
  * `StreamingPipeline.runOnce` over the same lines split into files,
  * one per micro-batch, whose merged report must equal the batch
  * pass's. */
final class EtlBatch(spark: SparkSession, inputs: File, seed: Long) extends Workload {
  import Workload._

  val name = "etl_batch"
  val records: Long = EtlBatch.Lines
  val warmPasses = 7
  private val input = new File(inputs, "logs.jsonl")
  private var truth: LogTruth = _
  private var last: EtlReport = _

  def setup(): Unit = {
    val g = new LogGen(seed)
    g.writeFile(input, EtlBatch.Lines)
    truth = g.truth
    System.err.println(s"[perfbench] ground truth: $truth")
  }

  private def cfg(dir: File, in: File = input): EtlConfig = EtlConfig.default.copy(
    inputPath = in.getPath,
    outputType = "file",
    outputPath = new File(dir, "out.jsonl").getPath,
    reportPath = new File(dir, "report.json").getPath,
    filterLevels = LogGen.Cfg.filterLevels,
    filterServices = LogGen.Cfg.filterServices,
    redactKeys = LogGen.Cfg.redactKeys)

  def pass(dir: File): Unit =
    last = Pipeline.runFile(spark, cfg(dir)).fold(e => throw new CheckFailed(e), _.report)

  def check(dir: File): Unit = {
    val (r, t) = (last, truth)
    ensure(r.totalLines == t.lines, s"total_lines ${r.totalLines} != ${t.lines}")
    ensure(r.jsonFailed == t.corrupt, s"json_failed ${r.jsonFailed} != ${t.corrupt}")
    ensure(r.jsonParsed == t.lines - t.corrupt, s"json_parsed ${r.jsonParsed}")
    ensure(r.normalizedFailed == t.badTs + t.missingLevel,
      s"normalized_failed ${r.normalizedFailed} != ${t.badTs} bad ts + ${t.missingLevel} no level")
    ensure(r.normalizedOk == t.lines - t.corrupt - t.badTs - t.missingLevel,
      s"normalized_ok ${r.normalizedOk}")
    ensure(r.byLevel == t.byLevel, s"by_level ${r.byLevel} != ${t.byLevel}")
    ensure(r.byService == t.byService, s"by_service ${r.byService} != ${t.byService}")
    ensure(r.filteredLevel == t.filteredLevel,
      s"filtered.by_level ${r.filteredLevel} != ${t.filteredLevel}")
    ensure(r.filteredService == t.filteredService,
      s"filtered.by_service ${r.filteredService} != ${t.filteredService}")
    ensure(r.filteredOther == 0, s"filtered.other ${r.filteredOther}")
    ensure(r.writtenOk == t.kept, s"written_ok ${r.writtenOk} != ${t.kept}")
    ensure(r.writeFailed == 0 && r.dlqWritten == 0, "write failures")
    ensure(new File(dir, "report.json").isFile, "no report file")
    checkOutput(dir, r.writtenOk)
  }

  /** The sink file holds exactly `written_ok` records and no redacted
    * key. */
  private def checkOutput(dir: File, writtenOk: Long): Unit = {
    val out = new File(dir, "out.jsonl")
    ensure(out.isFile, s"no sink output at $out")
    val keys = LogGen.Cfg.redactKeys.map(k => "\"" + k + "\":")
    var n = 0L
    val lines = Files.lines(out.toPath, UTF_8)
    try lines.iterator().asScala.foreach { l =>
      n += 1
      keys.foreach(k => ensure(!l.contains(k), s"redacted key $k in output: $l"))
    } finally lines.close()
    ensure(n == writtenOk, s"sink output has $n lines, written_ok is $writtenOk")
  }

  /** read → +normalize → +transforms → +sink write; the full pass's
    * marginal over the sink rung is the report. */
  def ladder: Seq[Rung] = {
    def lines = Normalize.parseLines(spark, input.getPath)
    def transformed(dir: File) = TransformRegistry(cfg(dir))(Normalize(lines))
      .fold(e => throw new CheckFailed(e), identity)
    Seq(
      Rung("etl.read", _ => noop(lines)),
      Rung("etl.normalize", _ => noop(Normalize(lines))),
      Rung("etl.transforms", d => noop(transformed(d))),
      Rung("etl.sink", { d =>
        val sink = Sinks.build(cfg(d)).fold(e => throw new CheckFailed(e), identity)
        // the pipeline's sink step: kept rows of the cached transformed
        // frame (uncached, the kept-row filter would be pushed into the
        // normalize projections, a plan the pipeline never runs)
        val t = transformed(d).cache()
        try sink.write(Transforms.split(t)._1.select("ts", "level", "message",
          "service", "namespace", "pod", "node", "trace_id", "fields"))
        finally t.unpersist()
        Map("output_bytes" -> fileBytes(new File(d, "out.jsonl")))
      }))
  }

  val fullLayer = "etl.report"

  def facts(dir: File): Map[String, Double] = Map(
    "kept_ratio" -> last.writtenOk.toDouble / last.totalLines,
    "error_row_ratio" -> (last.jsonFailed + last.normalizedFailed).toDouble / last.totalLines)

  /** The input split into `StreamFiles` files, written on first use. */
  private lazy val streamInput: File = {
    val d = new File(inputs, "stream")
    val g = new LogGen(seed)
    for (i <- 0 until EtlBatch.StreamFiles)
      g.writeFile(new File(d, f"part-$i%05d.jsonl"), EtlBatch.Lines / EtlBatch.StreamFiles)
    d
  }

  override def probes: Seq[Rung] = Seq(Rung("streaming.microbatch", { d =>
    val res = StreamingPipeline.runOnce(spark, streamInput.getPath, cfg(d, streamInput),
      new File(d, "checkpoint").getPath, maxFilesPerTrigger = 1)
      .fold(e => throw new CheckFailed(e), identity)
    def counters(x: EtlReport) = x.copy(durationSeconds = 0, throughput = 0,
      jsonErrorRate = 0, normalizeErrorRate = 0, writeErrorRate = 0,
      stageTimings = StageTimings())
    ensure(counters(res.report) == counters(last),
      s"streaming report differs from the batch report: ${res.report} vs $last")
    checkOutput(d, res.report.writtenOk)
    Map.empty
  }))

  def layerMetrics(l: Ladder): Map[String, Double] = {
    val sinkOut = l.fact("etl.sink", "output_bytes")
    val stream = "streaming.microbatch"
    val batches = l.counter(stream)(_.batches)
    Map(
      "etl.read.self_s" -> l.selfS("etl.read"),
      "etl.read.input_bytes" -> l.counter("etl.read")(_.inputBytes),
      "etl.normalize.self_s" -> l.selfS("etl.normalize"),
      "etl.normalize.task_cpu_s" -> l.marginal("etl.normalize")(_.taskCpuNs) / 1e9,
      "etl.normalize.error_row_ratio" -> l.fact(fullLayer, "error_row_ratio"),
      "etl.transforms.self_s" -> l.selfS("etl.transforms"),
      "etl.transforms.kept_ratio" -> l.fact(fullLayer, "kept_ratio"),
      "etl.sink.self_s" -> l.selfS("etl.sink"),
      "etl.sink.jobs" -> l.marginal("etl.sink")(_.jobs),
      "etl.sink.output_bytes" -> sinkOut,
      "etl.sink.bytes_written_per_output_byte" ->
        l.marginal("etl.sink")(_.wchar) / math.max(sinkOut, 1.0),
      "etl.report.self_s" -> l.selfS(fullLayer),
      "etl.report.jobs" -> l.marginal(fullLayer)(_.jobs),
      "etl.report.shuffle_write_bytes" -> l.marginal(fullLayer)(_.shuffleWrite),
      "streaming.microbatch.batches" -> batches,
      "streaming.microbatch.batch_s_median" -> l.fact(stream, "batch_s_median"),
      "streaming.microbatch.jobs_per_batch" -> l.counter(stream)(_.jobs) / math.max(batches, 1.0),
      "streaming.microbatch.driver_cpu_s" ->
        (l.counter(stream)(_.cpuNs) - l.counter(stream)(_.taskCpuNs)) / 1e9)
  }
}

object EtlBatch {
  val Lines = 150000
  /** Files (micro-batches) of the traced streaming probe. */
  val StreamFiles = 4
}

/** `CurationPipeline.apply` with a fixed stage list over a seeded
  * corpus, then a parquet write, a read-back count and
  * `Dedup.releaseCaches(blocking = true)`, all inside the pass. */
final class Curation(spark: SparkSession, inputs: File, seed: Long) extends Workload {
  import Workload._

  val name = "curation"
  def records: Long = truth.docs
  val warmPasses = 6
  private val corpus = new File(inputs, "corpus.jsonl")
  private var truth: CorpusTruth = _
  private var expected = -1L
  private var last = -1L

  def setup(): Unit = {
    truth = CorpusGen.write(corpus, Curation.Docs, seed)
    System.err.println(s"[perfbench] planted: ${truth.planted}")
  }

  private def docs: DataFrame =
    spark.read.schema("doc_id LONG, text STRING").json(corpus.getPath)

  def pass(dir: File): Unit = {
    val out = new File(dir, "curated.parquet").getPath
    CurationPipeline(docs, Curation.Stages).write.mode("overwrite").parquet(out)
    last = spark.read.parquet(out).count()
    Dedup.releaseCaches(blocking = true)
  }

  def check(dir: File): Unit = {
    if (expected < 0) expected = last
    ensure(last > 0 && last == expected,
      s"curated $last docs, the first pass curated $expected")
    val rows = spark.read.parquet(new File(dir, "curated.parquet").getPath)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
    ensure(rows.length == last, s"read ${rows.length} rows, counted $last")
    ensure(rows.map(_.getString(1)).distinct.length == rows.length,
      "two curated documents share one text")
    val kept = rows.map(_.getLong(0)).toSet
    truth.dupGroups.foreach { g =>
      ensure(g.count(kept) <= 1, s"planted duplicates ${g.filter(kept)} both survived")
    }
  }

  /** read → each stage in turn; the full pass's marginal over the last
    * stage is the parquet write and read-back. Every rung releases the
    * dedup caches it created. */
  def ladder: Seq[Rung] =
    Rung("ops.curation.read", _ => noop(docs)) +: Curation.Stages.indices.map { k =>
      Rung(Curation.layer(k), { _ =>
        try noop(CurationPipeline(docs, Curation.Stages.take(k + 1)))
        finally Dedup.releaseCaches(blocking = true)
      })
    }

  val fullLayer = "ops.curation.write"

  def facts(dir: File): Map[String, Double] = Map("rows" -> last.toDouble)

  def layerMetrics(l: Ladder): Map[String, Double] = {
    val layers = l.layers
    layers.zipWithIndex.flatMap { case (layer, i) =>
      val rowsIn = if (i == 0) records.toDouble else l.fact(layers(i - 1), "rows")
      Seq(s"$layer.self_s" -> l.selfS(layer),
        s"$layer.jobs" -> l.marginal(layer)(_.jobs),
        s"$layer.shuffle_write_bytes" -> l.marginal(layer)(_.shuffleWrite),
        s"$layer.keep_ratio" -> l.fact(layer, "rows") / math.max(rowsIn, 1.0))
    }.toMap
  }
}

object Curation {
  val Docs = 400

  def layer(stage: Int): String = s"ops.curation.${Stages(stage)._1}"

  /** Boilerplate dedup runs before `canonicalize`, which folds newlines
    * into spaces and would leave one line and one paragraph per
    * document. Line and paragraph dedup tolerate three copies, so a
    * planted duplicate (at most three copies) keeps its text for
    * `exact_keeper` while boilerplate repeated across the corpus
    * drops. */
  val Stages: Seq[(String, Map[String, String])] = Seq(
    "html_extract" -> Map.empty,
    "encoding_gate" -> Map("max_bad_ratio" -> "0.01"),
    "line_dedup" -> Map("max_occurrences" -> "3"),
    "para_dedup" -> Map("max_occurrences" -> "3"),
    "canonicalize" -> Map.empty,
    "pii_scrub" -> Map.empty,
    "quality_gate" -> Map("min_quality" -> "0.5"),
    "length_gate" -> Map("min_tokens" -> "20"),
    "exact_keeper" -> Map.empty)
}
