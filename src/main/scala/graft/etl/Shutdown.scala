package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Graceful-shutdown parity with the reference's signal handling:
  * `cmd/etl/main.go:148` installs a `signal.NotifyContext` on
  * SIGINT/SIGTERM and `main.go:431-445` drains the worker pool bounded
  * by `shutdown_timeout_seconds` (default 30, `config.go:63`),
  * warning — not hanging — when the timeout is exceeded.
  *
  * Spark twin: the JVM delivers SIGINT/SIGTERM to shutdown hooks, so a
  * hook is the portable `NotifyContext`. "Workers draining current
  * work" maps to the in-flight micro-batch of each active streaming
  * query: wait for the current trigger to finish (so the batch's sink
  * write + checkpoint commit land), then `stop()` and await bounded —
  * a Ctrl-C today gets a drained batch boundary instead of raw JVM
  * teardown. Batch jobs are cancelled outright (the reference's
  * context-cancel path aborts unfinished batch work the same way); the
  * streaming layer's checkpoint + replay guard makes the cut
  * crash-safe regardless.
  */
object Shutdown {

  private val log = EtlLogger.withAttrs("component" -> "shutdown")

  /** Drain one streaming query: wait (bounded) for the in-flight
    * trigger to complete so its sink write and checkpoint commit land,
    * then stop and await termination with whatever budget remains.
    *
    * Returns true iff the query drained AND terminated inside the
    * timeout; false is the reference's "shutdown timeout exceeded, some
    * records may not have been processed" path (`main.go:439-441`) —
    * stop() is still issued, so the JVM is never left hanging. */
  def stopGracefully(q: StreamingQuery, timeoutSeconds: Int): Boolean = {
    val timeout = if (timeoutSeconds <= 0) 30 else timeoutSeconds
    val deadlineNs = System.nanoTime() + timeout * 1000000000L
    var drained = !q.status.isTriggerActive
    while (!drained && System.nanoTime() < deadlineNs) {
      Thread.sleep(25)
      drained = !q.status.isTriggerActive
    }
    if (!drained)
      log.warn("shutdown timeout exceeded, stopping mid-batch",
        "timeout_seconds" -> timeout, "query_id" -> q.id.toString)
    q.stop()
    val remainMs = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000L)
    val terminated =
      try q.awaitTermination(remainMs)
      catch {
        // a query that died on its own still terminated — the drain
        // contract is "not running anymore", not "ended cleanly"
        case _: org.apache.spark.sql.streaming.StreamingQueryException => true
      }
    drained && terminated
  }

  /** Drain every active query on the session, sharing one deadline
    * (the reference's single `shutdownTimeout` covers the whole worker
    * pool, not each worker). */
  def drainAll(spark: SparkSession, timeoutSeconds: Int): Boolean = {
    val timeout = if (timeoutSeconds <= 0) 30 else timeoutSeconds
    val deadlineNs = System.nanoTime() + timeout * 1000000000L
    // map THEN forall, with per-query exception isolation: neither a
    // blown budget nor a throwing stop() (q.stop() declares
    // TimeoutException past spark.sql.streaming.stopTimeout) may
    // short-circuit the drain/stop of the remaining queries
    spark.streams.active.map { q =>
      val remainS = math.max(1L, (deadlineNs - System.nanoTime()) / 1000000000L)
      try stopGracefully(q, remainS.toInt)
      catch { case _: Exception => false }
    }.forall(identity)
  }

  @volatile private var hook: AnyRef = _

  /** Install the SIGINT/SIGTERM drain (idempotent — re-install replaces
    * the previous hook so a later session/timeout wins). Registered
    * through Spark's ORDERED ShutdownHookManager, not the raw JVM API:
    * JVM hooks run concurrently in unspecified order, so a raw hook
    * would race Spark's own hook stopping the SparkContext and the
    * drain could see a dying context mid-poll. Priority is above the
    * SparkContext-stop priority, so the drain fully completes before
    * context teardown starts. Batch jobs are cancelled after streaming
    * drains: the reference's context cancel aborts in-flight batch
    * work too. */
  def install(spark: SparkSession, timeoutSeconds: Int): Unit = synchronized {
    val B = org.apache.spark.sql.graft.Bridge
    if (hook != null) B.removeShutdownHook(hook)
    hook = B.addShutdownHook(B.SparkContextShutdownPriority + 10) { () =>
      try {
        if (spark.streams.active.nonEmpty) {
          log.info("signal received, draining streaming queries",
            "active" -> spark.streams.active.length,
            "timeout_seconds" -> timeoutSeconds)
          val ok = drainAll(spark, timeoutSeconds)
          if (ok) log.info("all queries drained")
        }
        spark.sparkContext.cancelAllJobs()
      } catch { case _: Exception => () } // never block JVM teardown
    }
  }
}
