package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A point-in-time reading of every counter the traced run reports.
  * Differences of two readings give the cost of what ran between
  * them. */
final case class Reading(
    wallNs: Long, cpuNs: Long, gcMs: Long, wchar: Long,
    jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long, taskRunMs: Long,
    inputBytes: Long, outputBytes: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, batches: Long) {
  def -(o: Reading): Reading = Reading(wallNs - o.wallNs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, wchar - o.wchar, jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, batches - o.batches)
  def wallS: Double = wallNs / 1e9
}

/** Process-level clocks, readable with or without tracing. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process, all threads. */
  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Time the JIT compilers have spent compiling, ms. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Generated classes Spark has compiled (codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Heap occupied right after the most recent collection, MB. */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Bytes this process passed to write(2) and friends (`wchar` of
    * /proc/self/io), or -1 where the kernel does not expose it. */
  def wchar: Long =
    try {
      val s = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
      s.asScala.find(_.startsWith("wchar:")).map(_.drop(6).trim.toLong).getOrElse(-1L)
    } catch { case _: java.io.IOException => -1L }
}

/** One Spark listener and one streaming-query listener that tally the
  * engine counters of the traced run, counting only while attached. */
final class Counters(spark: SparkSession) {
  private val jobs, stages, tasks, taskCpuNs, taskRunMs, inputBytes,
      outputBytes, shuffleRead, shuffleWrite, spill, batches = new LongAdder
  private val batchMs = mutable.ArrayBuffer[Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.add(m.executorCpuTime)
        taskRunMs.add(m.executorRunTime)
        inputBytes.add(m.inputMetrics.bytesRead)
        outputBytes.add(m.outputMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) {
        batches.increment()
        batchMs.synchronized { batchMs += e.progress.batchDuration }
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }


  /** Reading after every event posted so far has been delivered. */
  def read(): Reading = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Reading(System.nanoTime(), Proc.cpuNs, Proc.gcMs, Proc.wchar,
      jobs.sum, stages.sum, tasks.sum, taskCpuNs.sum, taskRunMs.sum,
      inputBytes.sum, outputBytes.sum, shuffleRead.sum, shuffleWrite.sum,
      spill.sum, batches.sum)
  }

  /** Durations of the micro-batches seen since the last call, ms. */
  def takeBatchMs(): Seq[Long] = batchMs.synchronized {
    val out = batchMs.toList; batchMs.clear(); out
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Detach once every event posted so far has been counted. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }
}

/** A traced interval: one ladder rung or pass. Spans of one ladder
  * repetition share `pass`; a rung's parent is its repetition. */
final case class Span(name: String, startNs: Long, endNs: Long,
    parent: String, pass: Int)

/** Spans kept in memory and written out once, when the run ends. */
final class Spans(origin: Long) {
  private val spans = mutable.ArrayBuffer[Span]()

  def record[T](name: String, parent: String, pass: Int)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(name, t0, System.nanoTime(), parent, pass)
  }

  def toJson: String = spans.map { s =>
    Json.obj("name" -> s.name, "start_s" -> (s.startNs - origin) / 1e9,
      "end_s" -> (s.endNs - origin) / 1e9, "parent" -> s.parent,
      "pass" -> s.pass)
  }.mkString("[\n", ",\n", "\n]\n")
}

/** The few JSON shapes the benchmark prints. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
