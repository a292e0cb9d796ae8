package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Global ranking and percentile/decile bucketing — the curriculum
  * primitive of a training-data pipeline ("order the corpus by quality
  * and bin it into difficulty tiers").
  *
  * The naive form is `row_number().over(Window.orderBy(...))` — a
  * window with NO partition key, which Spark executes in a SINGLE
  * partition: the whole corpus sorted through one task (the same
  * failure class as the lineDedup r6 window, but unconditionally,
  * for every input). This is the distributed form instead:
  *
  *   1. `repartitionByRange` on the sort key (one shuffle; Spark
  *      samples range boundaries so partitions balance) +
  *      `sortWithinPartitions` — a full distributed sort;
  *   2. within-partition row index for free from
  *      `monotonically_increasing_id()` (partition id in the upper
  *      31 bits, row index within the partition in the lower 33 —
  *      assigned in partition iteration order, which IS the sorted
  *      order after step 1);
  *   3. per-partition row counts cumsum'd into global offsets — a
  *      frame of one row per PARTITION (the only single-partition
  *      step, O(shuffle partitions) rows) broadcast back;
  *   4. global rank = partition offset + within-partition index + 1.
  *
  * Ties: callers must pass a TOTAL order (e.g. `quality desc, id`) for
  * a deterministic result, exactly as with `ORDER BY`. Range
  * partitioning sends equal keys to one partition, so any total order
  * makes ranks reproducible regardless of where boundary sampling
  * lands the partition splits.
  */
object Ranking {

  /** All input columns plus a 1-based global `rankName` column under
    * the total order `order` (sort-direction Columns, e.g.
    * `Seq(col("q").desc, col("id"))`). Persists the sorted frame
    * (offsets agg + output both read it); caller releases via
    * [[Dedup.releaseCaches]] after the terminal action. */
  def withGlobalRank(df: DataFrame, order: Seq[Column],
      rankName: String = "rank"): DataFrame = {
    require(order.nonEmpty, "rank needs at least one sort column")
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    // monotonically_increasing_id is non-deterministic to Catalyst, so
    // it cannot be reordered below the sort it must observe
    val sorted = df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_mid", monotonically_increasing_id())
    val indexed = Dedup.persistTracked(sorted
      .withColumn("_pid", shiftrightunsigned(col("_mid"), 33))
      .withColumn("_idx", col("_mid").bitwiseAND(lit((1L << 33) - 1))))
    // ascending partition id = ascending key range (range exchange
    // numbers partitions in sort order), so offsets cumsum in _pid
    // order — one row per shuffle partition, the bounded single-
    // partition step (same shape as Packing's per-bucket offsets)
    val offsets = indexed.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_off")
    indexed.join(broadcast(offsets), Seq("_pid"))
      .withColumn(rankName, col("_off") + col("_idx") + lit(1L))
      .drop("_mid", "_pid", "_idx", "_off")
  }

  /** [[denseRank]] result: the ranked frame, the total distinct-class
    * count (= the global max rank — already known from the driver-side
    * cumsum, so callers that need it skip a whole `agg(max)` pass over
    * the result; each suffix-array doubling round's convergence check
    * is the motivating caller), and the persisted sorted frame so a
    * caller that materializes `df` exactly once (the spooled
    * suffix-array build) can free the cache blocks eagerly instead of
    * holding one sorted frame per round until end-of-query release. */
  private[graft] case class DenseRanked(df: DataFrame, classes: Long,
      sorted: DataFrame)

  /** All input columns plus a 1-based DENSE rank of `keys` (ascending)
    * — value-identical to SQL `dense_rank() OVER (ORDER BY keys)`, in
    * ONE range shuffle with no DISTINCT and no join-back. Range
    * partitioning sends equal keys to one partition (`getPartition`
    * is a pure function of the key), so every equivalence class lands
    * whole and contiguous after the within-partition sort: pass 1
    * scans each partition once for (first key, last key, distinct
    * count) — one tiny row per partition collected to the driver,
    * whose cumsum gives each partition its class-rank base — and
    * pass 2 re-scans the SAME persisted partitions emitting
    * base + local dense index. Replaces the
    * `distinct → withGlobalRank → join-back` chain (3 shuffles, one
    * distinct-sized aggregate) wherever the rank of the CLASS is
    * needed on every row — each suffix-array doubling round is the
    * motivating caller. Defensive: if a class ever did straddle a
    * boundary (a partitioner without the equal-keys guarantee), the
    * driver cumsum detects first==previous-last and merges the split
    * class, so the result stays correct under any partitioning.
    * Persists the sorted frame (both passes read it); caller releases
    * via [[Dedup.releaseCaches]] after the terminal action. */
  def withDenseRank(df: DataFrame, keys: Seq[String],
      rankName: String = "rank"): DataFrame =
    denseRank(df, keys, rankName).df

  private[graft] def denseRank(df: DataFrame, keys: Seq[String],
      rankName: String = "rank"): DenseRanked = {
    require(keys.nonEmpty, "dense rank needs at least one key column")
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val kc = keys.map(col)
    val sorted = Dedup.persistTracked(
      df.repartitionByRange(n, kc: _*).sortWithinPartitions(kc: _*))
    val schema = sorted.schema
    val ki = keys.map(schema.fieldIndex).toArray
    val kTypes = ki.map(i => schema(i).dataType)
    // Both passes run on the INTERNAL row format (r19 — was
    // `sorted.rdd`, which deserialized every row to external objects
    // in pass 1 and re-encoded every row through a RowEncoder in pass
    // 2: corpus-sized CPU per suffix doubling round, the engine's
    // heaviest line). Internal rows may be reused buffers, so any key
    // retained across next() is deep-copied first (keyOf).
    val internal = org.apache.spark.sql.graft.Bridge.toInternalRdd(sorted)
    def keyOf(r: org.apache.spark.sql.catalyst.InternalRow): Seq[Any] = {
      val out = new Array[Any](ki.length)
      var j = 0
      while (j < ki.length) {
        out(j) = r.get(ki(j), kTypes(j)) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
          case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
          case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
          case ir: org.apache.spark.sql.catalyst.InternalRow => ir.copy()
          // a byte array compares by reference; a wrapped copy compares
          // by content and, unlike a ByteBuffer, collects to the driver
          case b: Array[Byte] =>
            scala.collection.immutable.ArraySeq.unsafeWrapArray(b.clone())
          case v => v // null / boxed primitives / Decimal — immutable
        }
        j += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    val sums = internal.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val fk = keyOf(it.next())
        var last = fk
        var nd = 1L
        while (it.hasNext) {
          val k = keyOf(it.next())
          if (k != last) { nd += 1; last = k }
        }
        Iterator((pid, fk, last, nd))
      }
    }.collect().sortBy(_._1)
    val bases = Map.newBuilder[Int, Long]
    var lastRank = 0L
    var prevLast: Seq[Any] = null
    sums.foreach { case (pid, fk, lk, nd) =>
      val base =
        if (prevLast != null && fk == prevLast) lastRank - 1 else lastRank
      bases += pid -> base
      lastRank = base + nd
      prevLast = lk
    }
    val bc = spark.sparkContext.broadcast(bases.result())
    val outSchema = schema.add(rankName,
      org.apache.spark.sql.types.LongType, nullable = false)
    val rows = internal.mapPartitionsWithIndex { (pid, it) =>
      val base = bc.value.getOrElse(pid, 0L)
      // one mutable (row, rank) join per partition: the scan node
      // re-projects every output row to unsafe, so reuse is safe
      val rankRow = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      var lastKey: Seq[Any] = null
      var idx = 0L
      it.map { r =>
        val k = keyOf(r)
        if (lastKey == null || k != lastKey) { idx += 1; lastKey = k }
        rankRow.update(0, base + idx)
        joined(r, rankRow): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    DenseRanked(org.apache.spark.sql.graft.Bridge
      .internalCreateDataFrame(spark, rows, outSchema), lastRank, sorted)
  }

  /** [[withGlobalRank]] plus an equal-frequency bucket column:
    * `bucketName = floor((rank - 1) · buckets / N)` ∈ [0, buckets) —
    * deciles at `buckets = 10`; bucket sizes differ by at most one.
    * The double division is exact against an integer-division oracle
    * while `(rank − 1) · buckets < 2^53` (ranks to ~9·10^14 at
    * buckets = 10 — comfortably past any corpus). N comes from the
    * offsets frame already aggregated in [[withGlobalRank]]'s plan,
    * via one extra count over the persisted frame, broadcast as a
    * one-row scalar. */
  def withRankBucket(df: DataFrame, order: Seq[Column], buckets: Int = 10,
      rankName: String = "rank", bucketName: String = "bucket"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val ranked = withGlobalRank(df, order, rankName)
    val total = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(total))
      .withColumn(bucketName,
        floor(((col(rankName) - 1) * buckets).cast("double") / col("_n"))
          .cast("long"))
      .drop("_n")
  }
}
