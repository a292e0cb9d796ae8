package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Readings of every traced repetition of a ladder, per layer: `layers`
  * in ladder order, then any probes. A layer's self time is its rung's
  * median wall time minus the previous rung's, so the ladder's self
  * times add up to the full pass's median. */
final class Ladder(val layers: Seq[String],
    readings: Map[String, Seq[Reading]], factsOf: Map[String, Seq[Map[String, Double]]]) {

  private def prev(layer: String): Option[String] = {
    val i = layers.indexOf(layer)
    if (i > 0) Some(layers(i - 1)) else None
  }

  def wallS(layer: String): Double = Stats.median(readings(layer).map(_.wallS))

  def counter(layer: String)(f: Reading => Long): Double =
    Stats.median(readings(layer).map(r => f(r).toDouble))

  def selfS(layer: String): Double = wallS(layer) - prev(layer).map(wallS).getOrElse(0.0)

  /** What `layer`'s rung added to the counter over the rung before it. */
  def marginal(layer: String)(f: Reading => Long): Double =
    counter(layer)(f) - prev(layer).map(counter(_)(f)).getOrElse(0.0)

  def fact(layer: String, key: String): Double =
    Stats.median(factsOf(layer).map(_.getOrElse(key, 0.0)))

  def reps: Int = readings(layers.last).size
}

/** The benchmark process: builds one SparkSession, generates the
  * workload's inputs, warms up, then either times full passes (trace 0)
  * or runs the traced ladder (trace 1), checking the output of every
  * pass. It writes the result object to `--result` and a record of the
  * run (environment, samples, spans) to `--record`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --result FILE --record FILE --t0 EPOCH_SECONDS
  * [--commit ID] [--source-sha HEX]. `--t0` is when the launcher
  * started this process; set-up time counts from it. */
object Main {

  /* Warm-up is the workload's `warmPasses`, all discarded. The JIT
   * compilers keep working on this program for minutes, so pass times
   * do not settle within a run; fixed pass counts make every run time
   * the same stretch of that curve, where a time budget would let a
   * slower run time an earlier, slower stretch. */

  /** Timed passes: PassesPerSecond for each second of `--seconds`, and
    * at least MinTimed so the tail percentile has ten passes beyond it.
    * A timed phase that runs past MaxTimedFactor times `--seconds`
    * stops early. */
  val PassesPerSecond = 0.6
  val MinTimed = 11
  val MaxTimedFactor = 3.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    val t0Epoch = opt("t0").toDouble
    val nproc = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val run = new Run(spark, Workload(workload, spark, new File(work, "inputs"), seed),
      new File(work, "passes"), nproc)
    val result =
      try run.execute(seconds, trace, t0Epoch)
      finally spark.stop()

    val env = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "nproc" -> nproc, "master" -> s"local[$nproc]",
      "shuffle_partitions" -> nproc,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "commit" -> opt.getOrElse("commit", null),
      "source_sha256" -> opt.getOrElse("source-sha", null))
    Files.writeString(new File(opt("record")).toPath,
      Json.obj("env" -> env, "run" -> Json.Raw(result.record)) + "\n", UTF_8)
    Files.writeString(new File(opt("result")).toPath, result.json + "\n", UTF_8)
  }
}

final case class Outcome(json: String, record: String)

/** One run of one workload in one session. */
final class Run(spark: SparkSession, wl: Workload, passes: File, nproc: Int) {
  import Main._

  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer[String]()
  private var passNo = 0

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** What one full pass cost: wall and process CPU time, and the GC,
    * JIT-compiler and Spark-codegen work inside it (for the record). */
  final case class PassTimes(wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
      codegenCompiles: Long) {
    def toMap: Map[String, Double] = Map("wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS,
      "jit_s" -> jitS, "codegen_compiles" -> codegenCompiles.toDouble)
  }

  /** Run `body` in a fresh directory under `passes`, then check the
    * output and the session's cache state outside the timed span and
    * delete the directory. Returns None when the pass or a check
    * failed (counted in `failed`). */
  private def isolated[T](check: File => Unit)(body: File => T): Option[T] = {
    passNo += 1
    val dir = new File(passes, s"p$passNo")
    attempted += 1
    try {
      val out = body(dir)
      check(dir)
      checkNoLiveCache()
      Some(out)
    } catch {
      case NonFatal(e) =>
        failed += 1
        val msg = s"pass $passNo: ${e.getClass.getSimpleName}: ${e.getMessage}"
        if (failures.size < 20) failures += msg.take(2000)
        log(msg)
        None
    } finally deleteTree(dir)
  }

  /** No persisted frame and no RDD block outlives a pass: the next pass
    * must not time a cache hit. Asynchronous unpersists get a moment to
    * finish. */
  private def checkNoLiveCache(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def live = spark.sparkContext.getPersistentRDDs.size +
      org.apache.spark.perfbench.Bus.liveRddBlocks()
    while (live > 0 && System.nanoTime() < deadline) Thread.sleep(10)
    Workload.ensure(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"persisted RDDs survive the pass: ${spark.sparkContext.getPersistentRDDs.keys}")
    val blocks = org.apache.spark.perfbench.Bus.liveRddBlocks()
    Workload.ensure(blocks == 0, s"$blocks cached blocks survive the pass")
  }

  private def fullPass(): Option[PassTimes] = isolated(wl.check) { dir =>
    val (k0, g0, j0, c0) = (Proc.codegenCompiles, Proc.gcMs, Proc.jitMs, Proc.cpuNs)
    val t0 = System.nanoTime()
    wl.pass(dir)
    val t1 = System.nanoTime()
    PassTimes((t1 - t0) / 1e9, (Proc.cpuNs - c0) / 1e9, (Proc.gcMs - g0) / 1e3,
      (Proc.jitMs - j0) / 1e3, Proc.codegenCompiles - k0)
  }

  def execute(seconds: Double, trace: Boolean, t0Epoch: Double): Outcome = {
    def sinceLaunch = {
      val n = java.time.Instant.now()
      n.getEpochSecond + n.getNano / 1e9 - t0Epoch
    }
    val sessionS = sinceLaunch
    val setupStart = System.nanoTime()
    wl.setup()
    val genS = (System.nanoTime() - setupStart) / 1e9
    log(f"${wl.name}: inputs ready in $genS%.2f s")

    val warmPasses = mutable.ArrayBuffer[PassTimes]()
    val warmStart = System.nanoTime()
    for (_ <- 0 until wl.warmPasses)
      fullPass().foreach { p => warmPasses += p; log(s"warm-up $p") }
    val setupS = sinceLaunch
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val timed = mutable.ArrayBuffer[PassTimes]()
    val timedStart = System.nanoTime()
    val traceOut = if (trace) Some(traced(seconds, timed)) else {
      val planned = math.max(MinTimed, math.ceil(PassesPerSecond * seconds).toInt)
      var tries = 0
      while (tries < planned && (System.nanoTime() - timedStart) / 1e9 < MaxTimedFactor * seconds) {
        tries += 1
        fullPass().foreach { p => timed += p; log(s"timed $p") }
      }
      None
    }
    val walls = timed.map(_.wallS).toSeq

    val common = Seq("setup_s" -> setupS, "session_s" -> sessionS, "inputs_s" -> genS,
      "warmup_s" -> warmS, "warmup_passes" -> warmPasses.size, "timed_passes" -> timed.size,
      "warmup" -> warmPasses.map(_.toMap).toSeq, "timed" -> timed.map(_.toMap).toSeq)

    if (traceOut.isEmpty) {
      val wall = Stats.median(walls)
      // the highest per-pass percentile with at least ten passes above it
      val sorted = walls.sorted
      val tailIdx = math.max(0, sorted.size - 11)
      val metrics = Seq(
        metric("setup_s", setupS, "s"),
        metric("wall_s", wall, "s"),
        metric("wall_tail_s", sorted(tailIdx), "s"),
        metric("records_per_s", wl.records / wall, "1/s"),
        metric("cpu_s", Stats.median(timed.map(_.cpuS).toSeq), "s"))
      val record = Json.obj(common ++ Seq(
        "wall_tail_percentile" -> 100.0 * (tailIdx + 1) / sorted.size,
        "wall_tail_passes_beyond" -> (sorted.size - 1 - tailIdx),
        "failures" -> failures.toSeq): _*)
      Outcome(result(metrics), record)
    } else {
      val untraced = Stats.median(walls)
      val (ladder, spans, heap) = traceOut.get
      val full = wl.fullLayer
      val fullWall = ladder.wallS(full)
      val layer = Layers.zero ++ wl.layerMetrics(ladder) ++ Map(
        "spark.jobs" -> ladder.counter(full)(_.jobs),
        "spark.stages" -> ladder.counter(full)(_.stages),
        "spark.tasks" -> ladder.counter(full)(_.tasks),
        "spark.task_cpu_s" -> ladder.counter(full)(_.taskCpuNs) / 1e9,
        "spark.task_run_s" -> ladder.counter(full)(_.taskRunMs) / 1e3,
        "spark.core_idle_share" ->
          (1 - ladder.counter(full)(_.taskRunMs) / 1e3 / (fullWall * nproc)),
        "spark.shuffle_read_bytes" -> ladder.counter(full)(_.shuffleRead),
        "spark.shuffle_write_bytes" -> ladder.counter(full)(_.shuffleWrite),
        "spark.spill_bytes" -> ladder.counter(full)(_.spill),
        "spark.output_bytes" -> ladder.counter(full)(_.outputBytes),
        "spark.cached_blocks_after_pass" ->
          org.apache.spark.perfbench.Bus.liveRddBlocks().toDouble,
        "jvm.gc_s" -> ladder.counter(full)(_.gcMs) / 1e3,
        "jvm.heap_after_gc_mb" -> heap,
        "trace.overhead_share" -> (fullWall / untraced - 1),
        "trace.ladder_reps" -> ladder.reps.toDouble)
      val unknown = layer.keySet -- Layers.units.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics without a unit: $unknown")
      val metrics = Layers.units.toSeq.map { case (k, u) => metric(k, layer(k), u) }
      val selfSum = ladder.layers.map(ladder.selfS).sum
      val record = Json.obj(common ++ Seq(
        "untraced_wall_s" -> untraced, "traced_full_wall_s" -> fullWall,
        "self_s_sum" -> selfSum, "ladder_reps" -> ladder.reps,
        "rung_wall_s" -> ladder.layers.map(l => l -> ladder.wallS(l)).toMap,
        "failures" -> failures.toSeq, "spans" -> Json.Raw(spans)): _*)
      Outcome(result(metrics), record)
    }
  }

  /** Ladder repetitions until `budgetS` is spent (at least two), after
    * one discarded repetition that compiles the rungs' plans. A
    * repetition is an untraced full pass (added to `untraced`), then,
    * with the listeners attached, every rung in order, a traced full
    * pass and the probes, each a span with the repetition as its parent
    * and Spark counters read around it. Interleaving keeps the untraced
    * and traced passes at the same point of the warm-up curve. */
  private def traced(budgetS: Double, untraced: mutable.ArrayBuffer[PassTimes])
      : (Ladder, String, Double) = {
    val counters = new Counters(spark)
    val spans = new Spans(System.nanoTime())
    val layers = wl.ladder.map(_.layer) :+ wl.fullLayer
    val all = layers ++ wl.probes.map(_.layer)
    val readings = all.map(_ -> mutable.ArrayBuffer[Reading]()).toMap
    val facts = all.map(_ -> mutable.ArrayBuffer[Map[String, Double]]()).toMap
    val heaps = mutable.ArrayBuffer[Double]()
    // a traced rung: counters and a span around it, the batch durations
    // the streaming listener saw during it as a fact
    def rung(r: Rung, parent: String, rep: Int): Unit = {
      counters.takeBatchMs()
      isolated(_ => ()) { dir =>
        val r0 = counters.read()
        val f = spans.record(r.layer, parent, rep)(r.run(dir))
        (counters.read() - r0, f)
      }.foreach { case (d, f) =>
        val batchMs = counters.takeBatchMs()
        readings(r.layer) += d
        facts(r.layer) += f ++ (if (batchMs.isEmpty) Nil
          else Seq("batch_s_median" -> Stats.median(batchMs.map(_ / 1e3))))
      }
    }
    for (r <- wl.ladder ++ wl.probes) isolated(_ => ())(r.run)
    val start = System.nanoTime()
    var rep = 0
    while (rep < 2 || (System.nanoTime() - start) / 1e9 < budgetS) {
      rep += 1
      fullPass().foreach { p => untraced += p; log(s"untraced $p") }
      counters.attach()
      try {
        val parent = s"${wl.name}.ladder.$rep"
        spans.record(parent, "", rep) {
          wl.ladder.foreach(rung(_, parent, rep))
          var d: Reading = null
          var f: Map[String, Double] = null
          isolated { dir => wl.check(dir); f = wl.facts(dir) } { dir =>
            val r0 = counters.read()
            spans.record(wl.fullLayer, parent, rep)(wl.pass(dir))
            d = counters.read() - r0
          }.foreach { _ =>
            readings(wl.fullLayer) += d
            facts(wl.fullLayer) += f
            heaps += Proc.heapAfterGcMb
          }
          wl.probes.foreach(rung(_, parent, rep))
        }
      } finally counters.detach()
      log(s"ladder repetition $rep: " + layers.map { l =>
        f"$l ${readings(l).lastOption.map(_.wallS).getOrElse(Double.NaN)}%.3f"
      }.mkString(", "))
    }
    require(all.forall(l => readings(l).nonEmpty), "a traced rung never succeeded")
    (new Ladder(layers, readings.map { case (k, v) => k -> v.toSeq },
      facts.map { case (k, v) => k -> v.toSeq }), spans.toJson, Stats.median(heaps.toSeq))
  }

  private def metric(name: String, value: Double, unit: String): (String, Any) =
    name -> Map("value" -> value, "unit" -> unit)

  private def result(metrics: Seq[(String, Any)]): String = Json.obj(
    "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
    "metrics" -> Json.Raw(Json.obj(metrics: _*)))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Every per-layer metric the traced run reports, with its unit. A
  * layer a workload never runs reads 0. */
object Layers {
  val units: Seq[(String, String)] = {
    val etl = Seq(
      "etl.read.self_s" -> "s", "etl.read.input_bytes" -> "bytes",
      "etl.normalize.self_s" -> "s", "etl.normalize.task_cpu_s" -> "s",
      "etl.normalize.error_row_ratio" -> "ratio",
      "etl.transforms.self_s" -> "s", "etl.transforms.kept_ratio" -> "ratio",
      "etl.sink.self_s" -> "s", "etl.sink.jobs" -> "count",
      "etl.sink.output_bytes" -> "bytes",
      "etl.sink.bytes_written_per_output_byte" -> "ratio",
      "etl.report.self_s" -> "s", "etl.report.jobs" -> "count",
      "etl.report.shuffle_write_bytes" -> "bytes")
    val streaming = Seq(
      "streaming.microbatch.batches" -> "count",
      "streaming.microbatch.batch_s_median" -> "s",
      "streaming.microbatch.jobs_per_batch" -> "count",
      "streaming.microbatch.driver_cpu_s" -> "s")
    val curation = ("read" +: Curation.Stages.map(_._1) :+ "write").flatMap { st =>
      Seq(s"ops.curation.$st.self_s" -> "s", s"ops.curation.$st.jobs" -> "count",
        s"ops.curation.$st.shuffle_write_bytes" -> "bytes",
        s"ops.curation.$st.keep_ratio" -> "ratio")
    }
    val spark = Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
      "spark.core_idle_share" -> "ratio", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.output_bytes" -> "bytes", "spark.cached_blocks_after_pass" -> "count")
    val jvm = Seq("jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB")
    val tracing = Seq("trace.overhead_share" -> "ratio", "trace.ladder_reps" -> "count")
    etl ++ streaming ++ curation ++ spark ++ jvm ++ tracing
  }

  def zero: Map[String, Double] = units.map(_._1 -> 0.0).toMap
}
