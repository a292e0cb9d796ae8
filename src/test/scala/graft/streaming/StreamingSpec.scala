package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.{EtlConfig, SparkSpec}

/** Structured Streaming parity: the same operators running under
  * micro-batch execution (memory sink driven synchronously). */
class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String = tempDir(prefix).toString

  test("streaming ETL: fixture file streamed -> same kept records as batch") {
    val in = tmpDir("stream-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixturePath),
      java.nio.file.Paths.get(s"$in/batch1.jsonl"))
    val cfg = EtlConfig.default.copy(
      filterLevels = Seq("WARN", "ERROR"), redactKeys = Seq("user_email", "token"))
    val lines = StreamingPipeline.readLines(spark, in)
    assert(lines.isStreaming)
    val transformed = StreamingPipeline.transformedStream(lines, cfg)
    val q = transformed.writeStream
      .outputMode("append")
      .format("memory").queryName("etl_stream")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      val all = spark.table("etl_stream")
      assert(all.count() == 6)
      val kept = all.filter(col("error").isNull &&
        col(graft.etl.Transforms.DropReasonCol).isNull)
      assert(kept.count() == 3)
      // redaction applied in-stream
      assert(kept.filter(map_contains_key(col("fields"), "user_email")).count() == 0)
    } finally q.stop()
  }

  test("streaming shard packing: two micro-batches equal the batch packing") {
    import org.apache.spark.sql.DataFrame
    val in = tmpDir("pack-in")
    val state = tmpDir("pack-state")
    // two id-ordered files -> two micro-batches (maxFilesPerTrigger=1,
    // modification times force a.jsonl first); nasty token shapes
    // (punctuation, double spaces) ride along per the tokenizer contract
    def txt(i: Long): String = i % 3 match {
      case 0 => s"alpha beta gamma doc$i"
      case 1 => s"x,y  z doc$i pad pad"
      case _ => s"short doc$i"
    }
    def doc(i: Long): String = s"""{"doc_id":$i,"text":"${txt(i)}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      (0L until 10L).map(doc).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      (10L until 20L).map(doc).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    fb.toFile.setLastModified(System.currentTimeMillis())
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    val sink: DataFrame => Unit = { packed =>
      got.synchronized {
        got ++= packed.collect().map(r =>
          (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("shard")))
      }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("pack-ckpt"))
      .foreachBatch(StreamingPacking.foreachBatchPacker(
        budget = 12L, stateDir = state, sink = sink, bucketWidth = 4L))
      .start()
    try q.processAllAvailable() finally q.stop()
    // the batch reference over the concatenation
    import spark.implicits._
    val all = (0L until 20L).map(i => (i, txt(i))).toDF("doc_id", "text")
    val exp = graft.ops.Packing
      .packByTokenBudget(all, budget = 12L, bucketWidth = 4L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("shard"))).toSet
    assert(got.toSet == exp,
      s"stream=${got.toSet -- exp} batch-only=${exp -- got.toSet}")
    assert(got.size == 20)
    // replay idempotency: re-running batch 1 against the persisted
    // offsets reads the SAME prior total and emits identical shards
    val batch1 = all.filter(col("doc_id") >= 10)
    val replayGot = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    StreamingPacking.foreachBatchPacker(12L, state,
      { p: DataFrame => replayGot ++= p.collect().map(r =>
          (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
            r.getAs[Long]("shard"))); () },
      bucketWidth = 4L)(batch1, 1L)
    assert(replayGot.toSet == got.filter(_._1 >= 10).toSet,
      "a replayed micro-batch must emit identical shard ids")
    // O(1) state: each batch writes ONE offsets file and prunes
    // everything older than its predecessor, so the directory never
    // grows with stream lifetime (the old parquet-append layout
    // re-listed every batch's file on every batch)
    (2L to 6L).foreach { bid =>
      StreamingPacking.foreachBatchPacker(12L, state, { _: DataFrame => () },
        bucketWidth = 4L)(all.limit(0), bid)
    }
    val od = new org.apache.hadoop.fs.Path(s"$state/offsets")
    val files = od.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(od).map(_.getPath.getName).filter(_.startsWith("batch-"))
    assert(files.length <= 2, s"offsets dir must stay pruned: ${files.mkString(",")}")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming line dedup: upserted sink equals batch lineDedup, replay emits identical rows") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("ld-in")
    val state = tmpDir("ld-state")
    // 'subscribe now' has one copy in each batch: it only goes hot once
    // batch 1 arrives, so doc 0 (emitted clean in batch 0) MUST be
    // re-emitted corrected — the retroactive case the upsert contract
    // exists for. Doc 1 repeats a line within itself (hot immediately);
    // doc 11 is all boilerplate (must survive as an empty row).
    def txt(i: Long): String = i match {
      case 0L => "keep alpha\\nsubscribe now\\nunique zero"
      case 1L => "dup line\\ndup line\\nkeep beta"
      case 10L => "subscribe now\\nkeep gamma"
      case 11L => "dup line\\nDup Line  "
      case _ => s"solo $i"
    }
    def doc(i: Long): String = s"""{"doc_id":$i,"text":"${txt(i)}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      (0L until 5L).map(doc).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      (10L until 15L).map(doc).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    fb.toFile.setLastModified(System.currentTimeMillis())
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val upserts = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, String, Long, Long)]]()
    def collectRows(out: DataFrame): Seq[(Long, String, Long, Long)] =
      out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("n_dropped"))).toSeq
    val sink: DataFrame => Unit = { out =>
      val rows = collectRows(out)
      upserts.synchronized {
        perBatch += rows.toSet
        rows.foreach(t => upserts(t._1) = (t._2, t._3, t._4))
      }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("ld-ckpt"))
      .foreachBatch(StreamingLineDedup.foreachBatchLineDeduper(
        maxOccurrences = 1, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    // upserted sink state == batch lineDedup over the concatenation
    val all = ((0L until 5L) ++ (10L until 15L))
      .map(i => (i, txt(i).replace("\\n", "\n"))).toDF("doc_id", "text")
    val exp = graft.ops.Dedup.lineDedup(all).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped"))).toMap
    graft.ops.Dedup.releaseCaches()
    assert(upserts.toMap == exp,
      s"stream-only=${upserts.toMap.toSet -- exp.toSet} batch-only=${exp.toSet -- upserts.toMap.toSet}")
    // the retroactive re-emission actually happened: batch 1 re-emitted
    // doc 0 with 'subscribe now' dropped
    assert(perBatch.size == 2)
    assert(perBatch(1).exists(t => t._1 == 0L && t._2 == "keep alpha\nunique zero"),
      s"batch 1 must re-emit doc 0 corrected: ${perBatch(1)}")
    // replay idempotency: re-running batch 1 against the persisted
    // state emits exactly the rows batch 1 emitted the first time
    val batch1 = all.filter(col("doc_id") >= 10L)
    val replayed = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    StreamingLineDedup.foreachBatchLineDeduper(1L, state,
      { p: DataFrame => replayed ++= collectRows(p); () })(batch1, 1L)
    assert(replayed.toSet == perBatch(1),
      "a replayed micro-batch must emit identical rows")
    // bounded re-emission: 'dup line' was ALREADY hot after batch 0
    // (doc 1's intra-doc repeat), so batch 1 carrying more copies
    // (doc 11) must NOT re-emit doc 1 — only threshold-CROSSING keys
    // trigger retro-correction, else every batch re-emits the whole
    // history of every recurring boilerplate line
    assert(!perBatch(1).exists(_._1 == 1L),
      s"already-hot keys must not re-emit history: ${perBatch(1)}")
    // an empty micro-batch must neither crash the state read nor emit
    val emptied = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    StreamingLineDedup.foreachBatchLineDeduper(1L, state,
      { p: DataFrame => emptied ++= collectRows(p); () })(all.limit(0), 2L)
    assert(emptied.isEmpty, "an empty batch must emit nothing")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming release manifest: merged contributions equal the batch manifest, boundary shard included") {
    import org.apache.spark.sql.DataFrame
    import graft.ops.Release
    import spark.implicits._
    val state = tmpDir("rel-state")
    // budget 10, docs of 4 tokens each: batch 0's last doc starts at
    // prefix 12 (shard 1), batch 1's first at prefix 16 (shard 1 too)
    // — the straddling shard whose two contribution rows must merge
    // into exactly the batch-manifest row
    def mk(ids: Range) = ids.map(i => (i.toLong, s"w$i x$i y$i z$i"))
      .toDF("doc_id", "text")
    val b0 = mk(0 until 4)
    val b1 = mk(4 until 9)
    val snaps = scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long, Long)]]()
    def rows(df: DataFrame) = df.collect().map(r => (r.getAs[Long]("shard"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
      r.getAs[Long]("content_hash"))).toSet
    val body = StreamingRelease.foreachBatchManifester(
      budget = 10L, stateDir = state, sink = { out => snaps += rows(out); () })
    body(b0, 0L)
    body(b1, 1L)
    val expFull = rows(Release.manifest(mk(0 until 9), budget = 10L))
    graft.ops.Dedup.releaseCaches()
    assert(snaps(1) == expFull,
      s"stream=${snaps(1)} batch=$expFull")
    // the straddle actually happened: shard 1 has docs from BOTH
    // batches (batch-0 snapshot shows it partial, final shows it full)
    val s1first = snaps(0).find(_._1 == 1L).get
    val s1final = snaps(1).find(_._1 == 1L).get
    assert(s1first._2 < s1final._2,
      s"shard 1 must straddle the batch boundary: $s1first -> $s1final")
    // replay idempotence: re-running batch 1 rewrites its contribution
    // partition and emits the identical snapshot
    body(b1, 1L)
    graft.ops.Dedup.releaseCaches()
    assert(snaps(2) == snaps(1), "a replayed batch must change nothing")
  }

  test("streaming paragraph dedup: the separator-generalized twin equals batch paragraphDedup") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val state = tmpDir("pd-state")
    // the boilerplate paragraph goes hot only when batch 1 arrives:
    // doc 0 must be retro-corrected through the SAME upsert contract,
    // proving the sep parameter reaches both explode and reassembly
    val b0 = Seq((0L, "keep alpha\n\nSubscribe now"), (1L, "solo one"))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, "Subscribe now\n\nkeep beta")).toDF("doc_id", "text")
    val upserts = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val sink: DataFrame => Unit = { out =>
      out.collect().foreach(r => upserts(r.getAs[Long]("doc_id")) =
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dropped"))))
      ()
    }
    val body = StreamingLineDedup.foreachBatchLineDeduper(
      maxOccurrences = 1, stateDir = state, sink = sink, sep = "\n\n")
    body(b0, 0L)
    body(b1, 1L)
    val exp = graft.ops.Dedup.paragraphDedup(b0.unionByName(b1)).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped")))).toMap
    graft.ops.Dedup.releaseCaches()
    assert(upserts.toMap == exp,
      s"stream=${upserts.toMap} batch=$exp")
    assert(upserts(0L)._1 == "keep alpha", "doc 0 retro-corrected at para grain")
  }

  test("streaming substring dedup: upserted sink equals batch op, spans go hot retroactively") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("sd-in")
    val state = tmpDir("sd-state")
    // k=4: the run "r1 r2 r3 r4 r5" has one copy in each batch — it
    // goes hot only once batch 1 arrives, so doc 0 (emitted intact in
    // batch 0) must be re-emitted with the span removed; doc 2 repeats
    // a 4-gram within itself (hot immediately)
    def txt(i: Long): String = i match {
      case 0L => "head zero r1 r2 r3 r4 r5 tail zero"
      case 2L => "s1 s2 s3 s4 s1 s2 s3 s4 unique two"
      case 3L => "ab cd" // shorter than k: no grams, must STILL emit
      case 10L => "start ten r1 r2 r3 r4 r5 end ten"
      case _ => s"plain text number $i only once"
    }
    def doc(i: Long): String = s"""{"doc_id":$i,"text":"${txt(i)}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      (0L until 5L).map(doc).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      (10L until 15L).map(doc).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    fb.toFile.setLastModified(System.currentTimeMillis())
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val upserts = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, String, Long, Long)]]()
    def rows(out: DataFrame): Seq[(Long, String, Long, Long)] =
      out.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed"))).toSeq
    val sink: DataFrame => Unit = { out =>
      val rs = rows(out)
      upserts.synchronized {
        perBatch += rs.toSet
        rs.foreach(t => upserts(t._1) = ((t._2, t._3, t._4)))
      }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("sd-ckpt"))
      .foreachBatch(StreamingSubstrDedup.foreachBatchSubstrDeduper(
        k = 4, maxOccurrences = 1, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    val all = ((0L until 5L) ++ (10L until 15L))
      .map(i => (i, txt(i))).toDF("doc_id", "text")
    val exp = graft.ops.Dedup.exactSubstringDedup(all, k = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("clean_text"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed")))).toMap
    graft.ops.Dedup.releaseCaches()
    assert(upserts.toMap == exp,
      s"stream-only=${upserts.toMap.toSet -- exp.toSet} batch-only=${exp.toSet -- upserts.toMap.toSet}")
    // the retroactive correction happened: batch 1 re-emitted doc 0
    // with the cross-batch span gone
    assert(perBatch.size == 2)
    assert(perBatch(1).exists(t => t._1 == 0L && t._2 == "head zero tail zero"),
      s"batch 1 must re-emit doc 0 corrected: ${perBatch(1)}")
    // intra-doc repeat was caught already in batch 0
    assert(perBatch(0).exists(t => t._1 == 2L && t._2 == "unique two"))
    // a sub-k-token doc has no grams but must not be silently lost
    assert(perBatch(0).exists(t => t._1 == 3L && t._2 == "ab cd"),
      s"gramless doc must still emit: ${perBatch(0)}")
    // replay idempotency
    val batch1 = all.filter(col("doc_id") >= 10L)
    val replayed = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    StreamingSubstrDedup.foreachBatchSubstrDeduper(4, 1L, state,
      { p: DataFrame => replayed ++= rows(p); () })(batch1, 1L)
    assert(replayed.toSet == perBatch(1),
      "a replayed micro-batch must emit identical rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming crawl front half: extract + encoding gate + line dedup equal the batch chain") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("cf-in")
    val state = tmpDir("cf-state")
    // crawl-shaped plants: doc 0 arrives as HTML (markup must strip),
    // doc 1 carries decode damage (must drop at the encoding gate),
    // 'cookie policy' has one copy per batch (goes hot only once
    // batch 1 arrives -> retroactive re-emission through the shared
    // upsert contract)
    def txt(i: Long): String = i match {
      case 0L => "<html><body><p>extracted zero</p></body></html>"
      case 1L => "damaged one \\uFFFD\\uFFFD\\uFFFD"
      case 2L => "keep two\\ncookie policy"
      case 10L => "cookie policy\\nkeep ten"
      case _ => s"solo text $i"
    }
    def doc(i: Long): String = s"""{"doc_id":$i,"text":"${txt(i)}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      (0L until 5L).map(doc).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      (10L until 15L).map(doc).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    fb.toFile.setLastModified(System.currentTimeMillis())
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val upserts = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val sink: DataFrame => Unit = { out =>
      upserts.synchronized {
        out.collect().foreach(r => upserts(r.getAs[Long]("doc_id")) =
          ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
            r.getAs[Long]("n_dropped"))))
      }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("cf-ckpt"))
      .foreachBatch(StreamingCuration.frontHalfBody(
        maxOccurrences = 1, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    // batch reference: the same stateless gates + batch lineDedup over
    // the concatenation (decoded \uXXXX escapes become real chars via
    // the JSON reader; mirror that here)
    val all = ((0L until 5L) ++ (10L until 15L))
      .map(i => (i, txt(i).replace("\\n", "\n").replace("\\uFFFD", "�")))
      .toDF("doc_id", "text")
    val exp = graft.ops.Dedup.lineDedup(
        StreamingCuration.frontGates(all)).collect()
      .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("clean_text"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_dropped")))).toMap
    graft.ops.Dedup.releaseCaches()
    assert(upserts.toMap == exp,
      s"stream-only=${upserts.toMap.toSet -- exp.toSet} batch-only=${exp.toSet -- upserts.toMap.toSet}")
    // the gates actually fired: the damaged doc never reached the sink,
    // the HTML doc arrived extracted, the cross-batch boilerplate line
    // is gone from both its docs
    assert(!upserts.contains(1L), "encoding-gated doc must not be emitted")
    assert(upserts(0L)._1 == "extracted zero")
    assert(upserts(2L)._1 == "keep two" && upserts(10L)._1 == "keep ten")
  }

  test("streaming retention: snapshots equal batch retention; a late event shifts a cohort") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("rt-in")
    val state = tmpDir("rt-state")
    // weeks: jan1 / jan8 / jan15 (all Mondays). u2's batch-1 event is
    // EARLIER than anything it showed in batch 0 — its cohort must
    // shift retroactively from jan8 to jan1.
    def ev(u: Long, day: String): String =
      s"""{"user_id":$u,"ts":"2024-01-${day}T12:00:00.000Z"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      Seq(ev(1, "01"), ev(1, "08"), ev(2, "08")).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      Seq(ev(1, "15"), ev(2, "01"), ev(3, "15")).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts", "timestamp")
    def rows(df: DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getAs[String]("cohort_week"),
        r.getAs[Long]("week_offset"), r.getAs[Long]("n_users"))).toSet
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(String, Long, Long)]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("rt-ckpt"))
      .foreachBatch(StreamingRetention.foreachBatchRetention(
        state, { out: DataFrame => snapshots.synchronized { snapshots += rows(out) }; () }))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    def batchOf(days: Seq[(Long, String)]): DataFrame =
      days.map { case (u, d) => (u, s"2024-01-${d}T12:00:00.000Z") }
        .toDF("user_id", "s").select(col("user_id"), to_timestamp(col("s")).as("ts"))
    val b0 = Seq((1L, "01"), (1L, "08"), (2L, "08"))
    val b1 = Seq((1L, "15"), (2L, "01"), (3L, "15"))
    val exp0 = rows(graft.ops.TimeSeries.retention(batchOf(b0)))
    val expAll = rows(graft.ops.TimeSeries.retention(batchOf(b0 ++ b1)))
    graft.ops.Dedup.releaseCaches()
    assert(snapshots(0) == exp0, s"got ${snapshots(0)} want $exp0")
    assert(snapshots(1) == expAll, s"got ${snapshots(1)} want $expAll")
    // the retro shift actually happened: a jan-08 cohort existed after
    // batch 0 and is GONE from the final snapshot (u2 moved to jan-01)
    assert(snapshots(0).exists(_._1 == "2024-01-08"))
    assert(!snapshots(1).exists(_._1 == "2024-01-08"))
    // replay idempotence: re-running batch 1 emits the identical snapshot
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(String, Long, Long)]]()
    StreamingRetention.foreachBatchRetention(state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1), 1L)
    assert(replayed.head == snapshots(1))
    // an empty batch leaves the snapshot unchanged (and doesn't crash)
    StreamingRetention.foreachBatchRetention(state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1).limit(0), 2L)
    assert(replayed(1) == snapshots(1))
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming funnel: snapshots equal batch funnel; late events grant AND revoke steps") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("fn-in")
    val state = tmpDir("fn-state")
    // within = 1h. u3: click arrives BEFORE any view — batch 1's view
    // retro-GRANTS step 2. u4: batch 1 delivers an EARLIER view that
    // shifts the window so the already-counted click falls outside —
    // retro-REVOKES step 2. u5 is untouched by batch 1 (state carries).
    def ev(u: Long, ty: String, hm: String): String =
      s"""{"user_id":$u,"event_type":"$ty","ts":"2024-01-01T${hm}:00.000Z"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"), Seq(
      ev(1, "view", "10:00"), ev(1, "click", "10:30"), ev(1, "purchase", "10:45"),
      ev(2, "view", "10:00"), ev(2, "click", "12:00"),
      ev(3, "click", "10:30"),
      ev(4, "view", "10:00"), ev(4, "click", "10:30"),
      ev(5, "view", "10:00")).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"), (Seq(
      ev(3, "view", "10:00"),
      ev(4, "view", "08:00")) :+
      // a NULL-user event: the batch op's groupBy keeps the null group
      // (step-1 counts it), so the twin must recompute it too — the
      // null-safe semi join is what this row pins
      """{"user_id":null,"event_type":"view","ts":"2024-01-01T09:00:00.000Z"}""")
      .mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("event_type", "string").add("ts", "timestamp")
    val steps = Seq("view", "click", "purchase")
    def rows(df: DataFrame): Set[(Int, String, Long)] =
      df.collect().map(r => (r.getAs[Int]("step_idx"),
        r.getAs[String]("step"), r.getAs[Long]("n_users"))).toSet
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(Int, String, Long)]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("fn-ckpt"))
      .foreachBatch(StreamingFunnel.foreachBatchFunnel(steps, 3600L, state,
        { out: DataFrame => snapshots.synchronized { snapshots += rows(out) }; () }))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    def batchOf(evs: Seq[(Option[Long], String, String)]): DataFrame =
      evs.map { case (u, ty, hm) => (u, ty, s"2024-01-01T$hm:00.000Z") }
        .toDF("user_id", "event_type", "s")
        .select(col("user_id"), col("event_type"), to_timestamp(col("s")).as("ts"))
    val b0 = Seq((Some(1L), "view", "10:00"), (Some(1L), "click", "10:30"),
      (Some(1L), "purchase", "10:45"), (Some(2L), "view", "10:00"),
      (Some(2L), "click", "12:00"), (Some(3L), "click", "10:30"),
      (Some(4L), "view", "10:00"), (Some(4L), "click", "10:30"),
      (Some(5L), "view", "10:00"))
    val b1 = Seq((Some(3L), "view", "10:00"), (Some(4L), "view", "08:00"),
      (Option.empty[Long], "view", "09:00"))
    val exp0 = rows(graft.ops.TimeSeries.funnel(batchOf(b0), steps, 3600L))
    val expAll = rows(graft.ops.TimeSeries.funnel(batchOf(b0 ++ b1), steps, 3600L))
    graft.ops.Dedup.releaseCaches()
    assert(snapshots(0) == exp0, s"got ${snapshots(0)} want $exp0")
    assert(snapshots(1) == expAll, s"got ${snapshots(1)} want $expAll")
    // the grant+revoke actually moved counts: step 1 grew by two (u3
    // gained a view, and the NULL user counts exactly as the batch op
    // counts it), step 2 membership rotated (u3 in, u4 out — count
    // level pinned by the batch-op equality above)
    assert(snapshots(0).contains((1, "view", 4L)) &&
      snapshots(1).contains((1, "view", 6L)))
    // replay idempotence
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(Int, String, Long)]]()
    StreamingFunnel.foreachBatchFunnel(steps, 3600L, state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1), 1L)
    assert(replayed.head == snapshots(1))
    // an empty batch leaves the snapshot unchanged
    StreamingFunnel.foreachBatchFunnel(steps, 3600L, state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1).limit(0), 2L)
    assert(replayed(1) == snapshots(1))
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming transitions: snapshots equal batch op; a mid-sequence late event rewrites pairs") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("tr-in")
    val state = tmpDir("tr-state")
    // u1's batch-1 'view' at 10:05 lands in the MIDDLE of its known
    // sequence (10:00 view -> 10:10 click): the old view->click pair
    // must be REPLACED by view->view + view->click (plus the appended
    // click->purchase) — the non-append-only case the wholesale
    // per-user replace exists for.
    def ev(id: Long, u: Long, ty: String, hm: String): String =
      s"""{"event_id":$id,"user_id":$u,"event_type":"$ty","ts":"2024-01-01T${hm}:00.000Z"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"), Seq(
      ev(1, 1, "view", "10:00"), ev(2, 1, "click", "10:10"),
      ev(3, 2, "view", "10:00")).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"), (Seq(
      ev(4, 1, "view", "10:05"), ev(5, 1, "purchase", "10:20"),
      ev(6, 3, "view", "11:00")) ++ Seq(
      // NULL-user pair: the batch op's user window keeps the null
      // partition (view->click counted) — pins the null-safe joins
      """{"event_id":7,"user_id":null,"event_type":"view","ts":"2024-01-01T11:00:00.000Z"}""",
      """{"event_id":8,"user_id":null,"event_type":"click","ts":"2024-01-01T11:10:00.000Z"}"""))
      .mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long")
      .add("event_type", "string").add("ts", "timestamp")
    def rows(df: DataFrame): Set[(String, String, Long, Double)] =
      df.collect().map(r => (r.getAs[String]("from_type"),
        r.getAs[String]("to_type"), r.getAs[Long]("n"),
        r.getAs[Double]("p"))).toSet
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(String, String, Long, Double)]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("tr-ckpt"))
      .foreachBatch(StreamingTransitions.foreachBatchTransitions(state,
        { out: DataFrame => snapshots.synchronized { snapshots += rows(out) }; () }))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    def batchOf(evs: Seq[(Long, Option[Long], String, String)]): DataFrame =
      evs.map { case (id, u, ty, hm) => (id, u, ty, s"2024-01-01T$hm:00.000Z") }
        .toDF("event_id", "user_id", "event_type", "s")
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_timestamp(col("s")).as("ts"))
    val b0 = Seq((1L, Some(1L), "view", "10:00"), (2L, Some(1L), "click", "10:10"),
      (3L, Some(2L), "view", "10:00"))
    val b1 = Seq((4L, Some(1L), "view", "10:05"), (5L, Some(1L), "purchase", "10:20"),
      (6L, Some(3L), "view", "11:00"), (7L, Option.empty[Long], "view", "11:00"),
      (8L, Option.empty[Long], "click", "11:10"))
    val exp0 = rows(graft.ops.TimeSeries.transitions(batchOf(b0)))
    val expAll = rows(graft.ops.TimeSeries.transitions(batchOf(b0 ++ b1)))
    graft.ops.Dedup.releaseCaches()
    assert(snapshots(0) == exp0, s"got ${snapshots(0)} want $exp0")
    assert(snapshots(1) == expAll, s"got ${snapshots(1)} want $expAll")
    // the rewrite really happened: view->view exists only after batch 1
    assert(!snapshots(0).exists(t => t._1 == "view" && t._2 == "view"))
    assert(snapshots(1).exists(t => t._1 == "view" && t._2 == "view"))
    // replay idempotence + empty batch
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(String, String, Long, Double)]]()
    StreamingTransitions.foreachBatchTransitions(state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1), 1L)
    assert(replayed.head == snapshots(1))
    StreamingTransitions.foreachBatchTransitions(state,
      { out: DataFrame => replayed += rows(out); () })(batchOf(b1).limit(0), 2L)
    assert(replayed(1) == snapshots(1))
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming ANN ingest: streamed index equals batch encode, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("ann-in")
    val idx = tmpDir("ann-idx") + "/ivf"
    // deterministic vectors, dim 4: ids 0-29 are history, 30-39 stream in
    def vec(i: Long): Seq[Double] =
      Seq(math.sin(i * 1.7), math.cos(i * 0.9), (i % 7) / 7.0, 1.0 - (i % 5) / 5.0)
    val hist = (0L until 30L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val all = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val cents = graft.ops.Ivf.train(hist, numCentroids = 4)
    // history seeds the index through the same appender (batch -1)
    StreamingAnn.ivfAppender(cents, idx)(hist, -1L)
    def jline(i: Long): String =
      s"""{"vec_id":$i,"embedding":[${vec(i).mkString(",")}]}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      (30L until 35L).map(jline).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      (35L until 40L).map(jline).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long")
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("ann-ckpt"))
      .foreachBatch(StreamingAnn.ivfAppender(cents, idx))
      .start()
    try q.processAllAvailable() finally q.stop()
    val loaded = spark.read.parquet(idx)
    assert(loaded.count() == 40, "history + both streamed batches")
    // streamed index rows byte-equal the frozen-model batch encode
    def cells(df: DataFrame) = df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(cells(loaded) == cells(graft.ops.Ivf.encodeCorpus(all, cents)))
    // searches over the streamed index equal the raw-union search
    def rows(df: DataFrame) = df.select("qid", "cid", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(graft.ops.Ivf.knnEncoded(loaded, k = 3,
        col("vec_id") < 2, cents, nprobe = 2)) ==
      rows(graft.ops.Ivf.knnWithModel(all, k = 3,
        col("vec_id") < 2, cents, nprobe = 2)))
    // replay: re-running a batch overwrites its own partition — no dupes
    val batch1 = (35L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    StreamingAnn.ivfAppender(cents, idx)(batch1, 1L)
    assert(spark.read.parquet(idx).count() == 40,
      "a replayed micro-batch must not duplicate index rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming clf scoring: frozen-model stream equals batch scores, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("clf-in")
    val out = tmpDir("clf-out") + "/scores"
    // train batch-side on a small labeled corpus; stream UNSEEN docs
    val trainDocs = Seq(
      (1L, "the cat is in the house and it is fine", "en"),
      (2L, "der hund ist in dem haus und er ist gut", "de"),
      (3L, "the dog is in the garden and it is good", "en"),
      (4L, "die katze ist in dem garten und sie ist gut", "de"))
      .toDF("doc_id", "text", "lang")
    val w = graft.ops.TextAnalysis.trainLogistic(trainDocs, col("lang") === "en")
    val streamDocs = Seq(
      (10L, "the house and the garden is fine"),
      (11L, "der haus und der garten ist gut"),
      (12L, "the cat and the dog is good"),
      (13L, "die katze und der hund ist gut"))
    def jline(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(2).map((jline _).tupled).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(2).map((jline _).tupled).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("clf-ckpt"))
      .foreachBatch(StreamingClf.scoringAppender(w, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df.select("doc_id", "clf_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.TextAnalysis.scoreWithClfModel(
      streamDocs.toDF("doc_id", "text"), w))
    assert(streamed == batch,
      s"frozen-model stream scores $streamed must equal batch $batch")
    assert(streamed.size == 4)
    // en-like stream docs must out-score de-like under the trained model
    val s = streamed.toMap
    assert(s(10L) > s(11L) && s(12L) > s(13L), s"separation on unseen docs: $s")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingClf.scoringAppender(w, out)(
      streamDocs.drop(2).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change score rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming BPE encode: frozen-merges stream equals batch ids, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("bpe-in")
    val out = tmpDir("bpe-out") + "/ids"
    // learn merges batch-side; the stream encodes UNSEEN docs with the
    // frozen sequence round-tripped through the artifact (rank check)
    val trainDocs = Seq(
      (1L, "the cat sat on the mat and the cat was fat"),
      (2L, "that hat that the cat had sat flat"),
      (3L, "a rat sat where the cat sat")).toDF("doc_id", "text")
    val learned = graft.ops.Bpe.learnMerges(trainDocs, 4)._1
    val artPath = tmpDir("bpe-model") + "/merges"
    graft.ops.Bpe.MergesArtifact.save(spark, learned, artPath)
    val merges = graft.ops.Bpe.MergesArtifact.load(spark, artPath)
    assert(merges == learned, "artifact round-trip must be exact")
    val streamDocs = Seq(
      (10L, "the fat cat sat"), (11L, "that flat mat"),
      (12L, "a cat and a rat"), (13L, "X1 42 !!! 9cats"))
    def jline(d: (Long, String)) = s"""{"doc_id":${d._1},"text":"${d._2}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(2).map(jline).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(2).map(jline).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("bpe-ckpt"))
      .foreachBatch(StreamingBpe.encodingAppender(merges, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df.select("doc_id", "widx", "sidx", "token_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Bpe.encodeIds(spark,
      streamDocs.toDF("doc_id", "text"), merges))
    assert(streamed == batch,
      s"stream ids must equal batch: missing=${batch -- streamed} " +
        s"extra=${streamed -- batch}")
    assert(streamed.nonEmpty && streamed.map(_._1) == Set(10L, 11L, 12L),
      "gated words only: doc 13's digit/punctuation tokens are excluded")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingBpe.encodingAppender(merges, out)(
      streamDocs.drop(2).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change id rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming KN-LM scoring: frozen-model stream equals batch, OOV backoff defined, replay clean") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("lm-in")
    val out = tmpDir("lm-out") + "/scores"
    val trainDocs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the cat ran to the mat"),
      (3L, "a dog sat on a log")).toDF("doc_id", "text")
    val model = graft.ops.TextAnalysis.knBigramModel(trainDocs)
    val streamDocs = Seq(
      (10L, "the cat sat"),          // fully in-model
      (11L, "the zebra sat"),        // unseen bigrams, seen contexts
      (12L, "unknown words entirely"), // unseen contexts -> continuation
      (13L, "single"))               // no bigram evidence -> NULL
    def jline(d: (Long, String)) = s"""{"doc_id":${d._1},"text":"${d._2}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(2).map(jline).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(2).map(jline).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("lm-ckpt"))
      .foreachBatch(StreamingLm.knScoringAppender(model, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val streamed = rows(spark.read.parquet(out)
      .select("doc_id", "kn_log10p"))
    val batch = rows(graft.ops.TextAnalysis.scoreWithKnModel(
      streamDocs.toDF("doc_id", "text"), model)
      .select("doc_id", "kn_log10p"))
    assert(streamed == batch,
      s"frozen-model stream $streamed must equal batch $batch")
    assert(streamed(10L).isDefined && streamed(11L).isDefined &&
      streamed(12L).isDefined, "every backoff branch must score")
    assert(streamed(13L).isEmpty, "no bigram evidence -> NULL")
    // in-model text must out-score BOTH OOV variants (the relative
    // order of the two backoff branches depends on the model's mass —
    // a pure-continuation fallback may legally beat an in-context
    // discounted zero — so only the in-model dominance is a law)
    def v(id: Long) = streamed(id).get.asInstanceOf[Double]
    assert(v(10L) > v(11L) && v(10L) > v(12L),
      s"in-model must dominate OOV: ${v(10L)} vs ${v(11L)}, ${v(12L)}")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingLm.knScoringAppender(model, out)(
      streamDocs.drop(2).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out).select("doc_id", "kn_log10p"))
      == streamed, "a replayed micro-batch must not duplicate or change rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming media metadata: decode stream equals batch, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("media-in")
    val out = tmpDir("media-out") + "/meta"
    // the 12 planted fixtures (PNG/WAV/MP3/MP4) as two parquet
    // micro-batches of (media_id, payload, meta) rows
    def mediaDf(slots: Seq[graft.ops.MediaFixtures.Planted]) =
      slots.map(p => (p.slot, p.payload, p.mime))
        .toDF("media_id", "payload", "mime")
        .select(col("media_id"), col("payload"),
          struct(col("mime"), octet_length(col("payload")).cast("long")
            .as("byte_len")).as("meta"))
    val planted = graft.ops.MediaFixtures.planted
    mediaDf(planted.take(6)).coalesce(1).write.parquet(s"$in/a")
    mediaDf(planted.drop(6)).coalesce(1).write.parquet(s"$in/b")
    // flatten into one dir with deterministic arrival order
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    val fa = NPaths.get(s"$in/batch_a.parquet")
    val fb = NPaths.get(s"$in/batch_b.parquet")
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), fb)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY, meta STRUCT<mime: STRING, byte_len: LONG>")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("media-ckpt"))
      .foreachBatch(StreamingMedia.metaAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "mime", "width", "height", "n_frames", "decoder")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getString(5))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal
      .extractFeatures(mediaDf(planted), graft.ops.Multimodal.JdkMediaDecoder)
      .toDF())
    assert(streamed == batch,
      s"stream meta must equal batch: missing=${batch -- streamed} " +
        s"extra=${streamed -- batch}")
    assert(streamed.size == 12)
    // the planted construction truth holds through the stream
    val bySlot = streamed.map(t => t._1 -> t).toMap
    planted.foreach { p =>
      assert(bySlot(p.slot) == ((p.slot, p.mime, p.width, p.height,
        p.nFrames, p.decoder)), s"slot ${p.slot}: ${bySlot(p.slot)}")
    }
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingMedia.metaAppender(out)(mediaDf(planted.drop(6)), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change meta rows")
  }

  test("streaming keyframe index: stss/avcC/hvcC walk stream equals batch, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("kf-in")
    val out = tmpDir("kf-out") + "/index"
    // the 8 planted AVC/HEVC containers as two micro-batches
    def kfDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong, graft.ops.MediaFixtures.plantedAvcMp4(m)))
        .toDF("media_id", "payload")
    kfDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    kfDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("kf-ckpt"))
      .foreachBatch(StreamingMedia.keyframeAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "kf_idx", "sample_no", "offset", "size",
        "profile", "level", "nal_len", "codec")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.keyframeIndex(
      kfDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream index must equal batch: missing=${batch -- streamed} " +
        s"extra=${streamed -- batch}")
    // both codec families crossed the stream
    assert(streamed.map(_.last).collect { case s: String => s } ==
      Set("avc1", "hvc1"))
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.keyframeAppender(out)(kfDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change index rows")
  }

  test("streaming SPS dims: exp-Golomb walk stream equals batch, the planted container lie survives the stream") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("sps-in")
    val out = tmpDir("sps-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong, graft.ops.MediaFixtures.plantedAvcMp4(m)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("sps-ckpt"))
      .foreachBatch(StreamingMedia.spsAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "codec", "profile_idc", "level_idc",
        "chroma_idc", "coded_w", "coded_h", "disp_w", "disp_h",
        "container_w", "container_h", "dims_match")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.spsIndex(mDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream SPS rows must equal batch: missing=${batch -- streamed} " +
        s"extra=${streamed -- batch}")
    // the slot-7 container lie is the one mismatch row in the store
    val mismatches = spark.read.parquet(out)
      .filter(!col("dims_match")).select("media_id").collect()
      .map(_.getLong(0)).toSet
    assert(mismatches == Set(7L), s"mismatch rows: $mismatches")
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.spsAppender(out)(mDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change SPS rows")
  }

  test("streaming frame types: slice-header walk stream equals batch, the planted sync lies survive the stream") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("ft-in")
    val out = tmpDir("ft-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong, graft.ops.MediaFixtures.plantedAvcMp4(m)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("ft-ckpt"))
      .foreachBatch(StreamingMedia.frameTypeAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "sample_no", "codec", "nal_type", "frame_type",
        "sync_claimed", "is_rap", "sync_consistent")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.frameTypeIndex(
      mDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream frame rows must equal batch: missing=${batch -- streamed} " +
        s"extra=${streamed -- batch}")
    // the two planted container lies are the only inconsistent rows
    val lies = spark.read.parquet(out)
      .filter(!col("sync_consistent"))
      .select("media_id", "sample_no").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(lies == Set((1L, 3), (3L, 3)), s"lie rows: $lies")
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.frameTypeAppender(out)(mDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change frame rows")
  }

  test("streaming fragments: fMP4 tfhd/trun walk stream equals batch, fragment sync lies survive the stream") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("fg-in")
    val out = tmpDir("fg-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong, graft.ops.MediaFixtures.plantedFragMp4(m)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("fg-ckpt"))
      .foreachBatch(StreamingMedia.fragmentAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "frag_idx", "seq_no", "sample_no", "offset",
        "size", "sync_claimed", "nal_type", "frame_type", "is_rap",
        "sync_consistent", "codec")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.fragmentIndex(
      mDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream fragment rows must equal batch: " +
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    // the two planted fragment lies are the only inconsistent rows
    val lies = spark.read.parquet(out)
      .filter(!col("sync_consistent"))
      .select("media_id", "sample_no").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(lies == Set((3L, 2), (5L, 2)), s"lie rows: $lies")
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.fragmentAppender(out)(mDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming timeline audit: sidx/tfdt walk stream equals batch, the three timing lies survive the stream") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("tl-in")
    val out = tmpDir("tl-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong,
        // slots 8+ carry the HIERARCHICAL-sidx planted table (r18) —
        // the stream must descend sidx trees identically to batch
        if (m < 8) graft.ops.MediaFixtures.plantedTimelineMp4(m)
        else graft.ops.MediaFixtures.plantedTimelineTreeMp4(m - 8)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf((4 until 8) ++ (8 until 16)).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("tl-ckpt"))
      .foreachBatch(StreamingMedia.timelineAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "frag_idx", "seq_no", "n_samples", "dur_sum",
        "tfdt", "sidx_dur", "sidx_size", "actual_size", "timescale",
        "tfdt_consistent", "sidx_dur_consistent", "sidx_size_consistent",
        "tree_dur_consistent", "tree_size_consistent",
        "tree_ept_consistent")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.timelineIndex(
      mDf(0 until 16)).toDF())
    assert(streamed == batch,
      s"stream timeline rows must equal batch: " +
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    // the planted lies are the only inconsistent rows: three flat
    // (slots 3/5/6), four tree (r18 — media 8+slot: child dur slot 2,
    // child size slot 7, root dur slot 4, root size slot 5)
    val lies = spark.read.parquet(out)
      .filter(!col("tfdt_consistent") || !col("sidx_dur_consistent") ||
        !col("sidx_size_consistent") || !col("tree_dur_consistent") ||
        !col("tree_size_consistent") || !col("tree_ept_consistent"))
      .select("media_id", "frag_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    // (10,2)/(14,2): the ept axis — slot 2's duration-lie propagation
    // into its group 2 start, slot 6's direct child-ept lie (r18)
    assert(lies == Set((3L, 1), (5L, 0), (6L, 1),
      (10L, 0), (15L, 1), (12L, 2), (13L, 3), (10L, 2), (14L, 2)),
      s"lie rows: $lies")
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.timelineAppender(out)(mDf((4 until 8) ++ (8 until 16)), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming webm audit: EBML walk stream equals batch, the two key lies survive the stream") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("wb-in")
    val out = tmpDir("wb-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong,
        // slots 8+ carry the LACED planted table, 12+ the MULTI-TRACK
        // one (r17) — the stream must walk lace tables and multi-track
        // clusters identically to batch
        if (m < 8) graft.ops.MediaFixtures.plantedWebm(m)
        else if (m < 12) graft.ops.MediaFixtures.plantedWebmLaced(m - 8)
        else graft.ops.MediaFixtures.plantedWebmTracks(m - 12)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf((4 until 8) ++ (8 until 14)).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("wb-ckpt"))
      .foreachBatch(StreamingMedia.webmAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "cluster_idx", "track", "track_type", "rel_ts",
        "frame_idx", "abs_ts", "size", "key_claimed", "vp9_key",
        "key_consistent", "codec", "pixel_w", "pixel_h", "timescale",
        "doc_type")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.webmIndex(mDf(0 until 14)).toDF())
    assert(streamed == batch,
      s"stream webm rows must equal batch: " +
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    val lies = spark.read.parquet(out)
      .filter(!col("key_consistent") && col("media_id") < 8)
      .select("media_id", "cluster_idx", "rel_ts").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(lies == Set((2L, 1, 14), (5L, 0, 7)), s"lie rows: $lies")
    // the two LACED lies (slots 9 = Xiph hidden key, 11 = EBML inter
    // under a key claim) survive the stream too
    val lacedLies = spark.read.parquet(out)
      .filter(!col("key_consistent") && col("media_id") >= 8)
      .select("media_id", "cluster_idx", "frame_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(lacedLies == Set((9L, 1, 0), (11L, 0, 1)),
      s"laced lie rows: $lacedLies")
    StreamingMedia.webmAppender(out)(mDf((4 until 8) ++ (8 until 14)), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming multi-track timeline audit: per-track clocks stream equals batch, the two single-track lies survive (r18)") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("tt-in")
    val out = tmpDir("tt-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong,
        graft.ops.MediaFixtures.plantedTimelineTracksMp4(m)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("tt-ckpt"))
      .foreachBatch(StreamingMedia.trackTimelineAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "frag_idx", "seq_no", "track_id", "n_samples",
        "dur_sum", "tfdt", "tfdt_consistent")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.trackTimelineIndex(
      mDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream track-timeline rows must equal batch: " +
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    val lies = spark.read.parquet(out)
      .filter(!col("tfdt_consistent"))
      .select("media_id", "frag_idx", "track_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(lies == Set((3L, 1, 2), (4L, 2, 1)), s"lie rows: $lies")
    StreamingMedia.trackTimelineAppender(out)(mDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming webm cues audit: seek-table walk stream equals batch, the four lies survive the stream (r18, verdict #8)") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("wc-in")
    val out = tmpDir("wc-out") + "/index"
    def mDf(slots: Seq[Int]) =
      slots.map(m => (m.toLong, graft.ops.MediaFixtures.plantedWebmCues(m)))
        .toDF("media_id", "payload")
    mDf(0 until 4).coalesce(1).write.parquet(s"$in/a")
    mDf(4 until 8).coalesce(1).write.parquet(s"$in/b")
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream
      .schema("media_id LONG, payload BINARY")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("wc-ckpt"))
      .foreachBatch(StreamingMedia.webmCuesAppender(out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("media_id", "cue_idx", "cue_time", "cue_track",
        "cluster_idx", "cluster_found", "cue_time_ok", "cue_key_ok",
        "default_dur_ns", "measured_frame_ticks", "default_dur_ok",
        "timescale", "codec", "track_type")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(graft.ops.Multimodal.webmCuesIndex(
      mDf(0 until 8)).toDF())
    assert(streamed == batch,
      s"stream cue rows must equal batch: " +
        s"missing=${batch -- streamed} extra=${streamed -- batch}")
    // the four planted lies are the only flagged rows (slot 4 flags
    // on both its cue rows — DefaultDuration is a per-track claim)
    val lies = spark.read.parquet(out)
      .filter(!col("cluster_found") || !col("cue_time_ok") ||
        !col("cue_key_ok") || !col("default_dur_ok"))
      .select("media_id", "cue_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(lies == Set((1L, 1), (2L, 2), (4L, 0), (4L, 1), (5L, 1)),
      s"lie rows: $lies")
    // replay: re-running a batch overwrites its own partition
    StreamingMedia.webmCuesAppender(out)(mDf(4 until 8), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming star CC: contracted snapshot equals batch connectedComponentsStar; replay clean (r17, verdict #8)") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("cc-in")
    val state = tmpDir("cc-state")
    // batch 0: three separate pairs; batch 1 BRIDGES two of them
    // (2-3 merges {1,2} with {3,4}) and opens a fresh one — the
    // snapshot must re-label nodes 3,4 to component 1, exactly what
    // batch star-contraction over the union produces
    val e0 = Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val e1 = Seq((2L, 3L), (7L, 8L))
    import java.nio.file.{Files => NFiles, Paths => NPaths}
    e0.toDF("da", "db").coalesce(1).write.parquet(s"$in/a")
    e1.toDF("da", "db").coalesce(1).write.parquet(s"$in/b")
    def onePart(d: String) =
      NFiles.list(NPaths.get(d))
        .filter(_.toString.endsWith(".parquet")).findFirst.get
    val fa = NPaths.get(s"$in/batch_a.parquet")
    NFiles.move(onePart(s"$in/a"), fa)
    NFiles.move(onePart(s"$in/b"), NPaths.get(s"$in/batch_b.parquet"))
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val snaps = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    def grab(df: DataFrame): Map[Long, Long] = df.collect()
      .map(r => r.getAs[Long]("sid") -> r.getAs[Long]("component")).toMap
    val q = spark.readStream
      .schema("da LONG, db LONG")
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .option("checkpointLocation", tmpDir("cc-ckpt"))
      .foreachBatch(StreamingCc.foreachBatchCcStar(state,
        { df: DataFrame => snaps.synchronized { snaps += grab(df) }; () }))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snaps.size == 2)
    // snapshot 0 = batch CC over batch 0's edges alone
    assert(snaps(0) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
    // final snapshot = batch star CC over the full edge union —
    // including the cross-batch merge
    val all = (e0 ++ e1).toDF("da", "db")
    val batchLabels = grab(graft.ops.Dedup.connectedComponentsStar(all))
    graft.ops.Dedup.releaseCaches()
    assert(snaps(1) == batchLabels,
      s"stream=${snaps(1)} batch=$batchLabels")
    assert(snaps(1)(4L) == 1L, "the cross-batch bridge must merge")
    // replay idempotence: re-running batch 1 rewrites its partition
    // and recomputes the identical snapshot
    val replayed = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    StreamingCc.foreachBatchCcStar(state,
      { df: DataFrame => replayed += grab(df); () })(
      e1.toDF("da", "db"), 1L)
    assert(replayed.head == snaps(1),
      "a replayed micro-batch must recompute identical labels")
    // an empty trigger reads the schema-supplied log and emits the
    // unchanged snapshot
    val onEmpty = scala.collection.mutable.ArrayBuffer[Map[Long, Long]]()
    StreamingCc.foreachBatchCcStar(state,
      { df: DataFrame => onEmpty += grab(df); () })(
      e1.toDF("da", "db").limit(0), 2L)
    assert(onEmpty.head == snaps(1), "empty batch must not move labels")
  }

  test("streaming artifact consumers: warehouse-frozen models score streams batch-identically (r16, verdict #7)") {
    // the production shape the 34 twins missed: a readStream consumer
    // scoring under a model loaded FROM THE ARTIFACT STORE (not one
    // trained in-test) — one sub-case per CurationArtifacts family
    // shape: clf_pool (model+iso), clf_holdout (model+grid), lid_docs
    // (multi-head LID), unigram_pool (segmentation table), pool (the
    // frozen corpus release as a stream-static join side)
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val (poolModel, iso) = graft.queries.CurationArtifacts.clfPool(spark, dir)
    val (holdModel, grid) = graft.queries.CurationArtifacts.clfHoldout(spark, dir)
    val lidModel = graft.queries.CurationArtifacts.lid(spark, dir)
    val seg = graft.queries.CurationArtifacts.unigramPool(spark, dir)
    val pool = graft.queries.CurationArtifacts.pool(spark, dir)
    assert(iso.count() > 0 && grid.count() == 10001)
    val streamDocs = Seq(
      (10L, "the house and the garden is fine and the cat is good"),
      (11L, "der haus und der garten ist gut und die katze ist gut"),
      (12L, "the quick brown fox jumps over the lazy dog tonight"),
      (13L, "le chat est dans la maison et il est tres bien"))
    val in = tmpDir("art-in")
    def jline(d: (Long, String)) = s"""{"doc_id":${d._1},"text":"${d._2}"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(2).map(jline).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(2).map(jline).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val outClf = tmpDir("art-out") + "/clf"
    val outHold = tmpDir("art-out") + "/hold"
    val outLid = tmpDir("art-out") + "/lid"
    val outUni = tmpDir("art-out") + "/uni"
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("art-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamingClf.scoringAppender(poolModel, outClf)(batch, batchId)
        StreamingClf.scoringAppender(holdModel, outHold)(batch, batchId)
        StreamingLid.scoringAppender(lidModel, outLid)(batch, batchId)
        graft.ops.UnigramLm.scoreDocs(batch, seg)
          .write.mode("overwrite").parquet(s"$outUni/batch_id=$batchId")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val sdf = streamDocs.toDF("doc_id", "text")
    def scores(df: DataFrame) = df.select("doc_id", "clf_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(scores(spark.read.parquet(outClf)) ==
      scores(graft.ops.TextAnalysis.scoreWithClfModel(sdf, poolModel)),
      "pool-clf artifact: stream must equal batch")
    assert(scores(spark.read.parquet(outHold)) ==
      scores(graft.ops.TextAnalysis.scoreWithClfModel(sdf, holdModel)),
      "holdout-clf artifact: stream must equal batch")
    // holdout grid calibration: the consumer's s4 equi-join applied to
    // the streamed scores matches the same join on batch scores
    def calibrated(df: DataFrame) = df
      .select(col("doc_id"),
        round(col("clf_score") * 10000).cast("long").as("s4"))
      .join(broadcast(grid), Seq("s4"))
      .select("doc_id", "calibrated").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(calibrated(spark.read.parquet(outHold)) ==
      calibrated(graft.ops.TextAnalysis.scoreWithClfModel(sdf, holdModel)),
      "grid calibration must agree on streamed scores")
    def preds(df: DataFrame) = df.select("doc_id", "lang_pred").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(preds(spark.read.parquet(outLid)) ==
      preds(graft.ops.TextAnalysis.scoreWithLidModel(sdf, lidModel)),
      "lid_docs artifact: stream must equal batch")
    def uniRows(df: DataFrame) = df
      .select("doc_id", "n_words", "n_uni_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(uniRows(spark.read.parquet(outUni)) ==
      uniRows(graft.ops.UnigramLm.scoreDocs(sdf, seg)),
      "unigram_pool artifact: stream must equal batch")
    // pool as the frozen release: a stream-static left-semi join
    // ("is this doc in the release") equals the batch filter — drive
    // a second tiny stream carrying REAL corpus ids
    val poolIds = pool.select("doc_id").limit(2)
      .collect().map(_.getLong(0))
    assert(poolIds.nonEmpty, "premise: the pool artifact has rows")
    val in2 = tmpDir("art-in2")
    val mixed = poolIds.map(id => (id, "x")) :+ ((-999L, "x"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in2/a.jsonl"),
      mixed.map(d => s"""{"doc_id":${d._1},"text":"${d._2}"}""")
        .mkString("\n").getBytes)
    val outPool = tmpDir("art-out") + "/pool"
    val q2 = spark.readStream.schema("doc_id LONG, text STRING")
      .json(in2)
      .writeStream
      .option("checkpointLocation", tmpDir("art-ckpt2"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.join(pool.select("doc_id"), Seq("doc_id"), "left_semi")
          .write.mode("overwrite").parquet(s"$outPool/batch_id=$batchId")
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outPool).select("doc_id").collect()
      .map(_.getLong(0)).toSet == poolIds.toSet,
      "pool membership gate: stream-static join must equal batch filter")
    graft.ops.Dedup.releaseCaches()
  }

  test("watermarked windowed level counts over the stream") {
    val in = tmpDir("stream-win")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixturePath),
      java.nio.file.Paths.get(s"$in/batch1.jsonl"))
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val transformed = StreamingPipeline.transformedStream(
      StreamingPipeline.readLines(spark, in), cfg)
    val counts = StreamingPipeline.windowedLevelCounts(transformed)
    val q = counts.writeStream
      .outputMode("append")
      .format("memory").queryName("win_counts")
      .start()
    try {
      q.processAllAvailable()
      // append mode emits only closed windows; with no further data the
      // watermark hasn't advanced, so assert the query runs and the
      // state machinery is in place (complete-mode check below).
      assert(q.lastProgress != null)
    } finally q.stop()
    // same agg in complete mode → all windows visible
    val q2 = counts.writeStream.outputMode("complete")
      .format("memory").queryName("win_counts_all").start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("win_counts_all").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 6)
      assert(rows.forall(_.getAs[java.sql.Timestamp]("window_start") != null))
    } finally q2.stop()
  }

  test("foreachBatch sink write: records accumulate across micro-batches") {
    val in = tmpDir("stream-sink-in")
    val out = tmpDir("stream-sink-out")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixturePath),
      java.nio.file.Paths.get(s"$in/b1.jsonl"))
    val cfg = EtlConfig.default.copy(
      outputType = "file", outputPath = s"$out/out.jsonl",
      filterLevels = Seq("ERROR"), redactKeys = Seq("user_email", "token"))
    val transformed = StreamingPipeline.transformedStream(
      StreamingPipeline.readLines(spark, in), cfg)
    val q = StreamingPipeline.writeStream(transformed, cfg,
      checkpoint = tmpDir("ckpt"), triggerMs = 100)
      .fold(e => fail(e), identity)
    try {
      q.processAllAvailable()
      val after1 = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$out/out.jsonl"))
      assert(after1.size == 2) // 2 ERROR records in the fixture
      // second micro-batch MUST NOT destroy the first one's output
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.jsonl"),
        """{"ts":"2024-02-02T00:00:00Z","level":"ERROR","msg":"late burst"}"""
          .getBytes)
      q.processAllAvailable()
      val after2 = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$out/out.jsonl"))
      assert(after2.size == 3,
        s"batch 2 should append (got ${after2.size} lines: $after2)")
      after2.forEach(l =>
        assert(!l.contains("user_email") && !l.contains("\"token\"")))
    } finally q.stop()
  }

  test("checkpoint restart: a new query on the same checkpoint appends, not truncates") {
    val in = tmpDir("restart-in")
    val out = tmpDir("restart-out")
    val ckpt = tmpDir("restart-ckpt")
    val cfg = EtlConfig.default.copy(
      outputType = "file", outputPath = s"$out/out.jsonl", filterLevels = Nil)
    def runDrain(): Unit = {
      val q = StreamingPipeline.writeStream(
        StreamingPipeline.transformedStream(
          StreamingPipeline.readLines(spark, in), cfg),
        cfg, checkpoint = ckpt, triggerMs = 100).fold(e => fail(e), identity)
      try q.processAllAvailable() finally q.stop()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      """{"ts":"2024-01-01T00:00:00Z","level":"INFO","msg":"first"}""".getBytes)
    runDrain()
    assert(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/out.jsonl")).size == 1)
    // restart: the checkpointed source will NOT re-read a.jsonl, so a
    // truncating sink would lose "first" forever
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      """{"ts":"2024-01-01T00:01:00Z","level":"INFO","msg":"second"}""".getBytes)
    runDrain()
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$out/out.jsonl"))
    assert(lines.size == 2, s"restart truncated prior output: $lines")
  }

  /** The fixture split into two files: two micro-batches (ids 0 and 1)
    * at maxFilesPerTrigger = 1. */
  private def twoBatchInput(prefix: String): String = {
    val in = tmpDir(prefix)
    val all = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(fixturePath))
    val a = java.nio.file.Paths.get(s"$in/a.jsonl")
    java.nio.file.Files.write(a, String.join("\n", all.subList(0, 3)).getBytes)
    a.toFile.setLastModified(System.currentTimeMillis() - 60000)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      String.join("\n", all.subList(3, all.size)).getBytes)
    in
  }

  /** Simulate a crash between the sink write and the checkpoint commit:
    * delete the last `commits/<n>` entry, so a restart re-runs batch n. */
  private def dropLastCommit(ckpt: String): Long = {
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.listFiles().map(_.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    last
  }

  private def assertNoDuplicates(path: String, expected: Int): Unit = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    assert(lines.size == expected, s"sink lines: $lines")
    assert(lines.stream().distinct().count() == lines.size,
      s"replayed batch appended twice: $lines")
  }

  test("replay guard: writeStream skips a micro-batch whose commit was lost") {
    val in = twoBatchInput("replay-ws-in")
    val out = tmpDir("replay-ws-out")
    val ckpt = tmpDir("replay-ws-ckpt")
    val cfg = EtlConfig.default.copy(
      outputType = "file", outputPath = s"$out/out.jsonl", filterLevels = Nil)
    def drain(): Unit = {
      val q = StreamingPipeline.writeStream(
        StreamingPipeline.transformedStream(
          StreamingPipeline.readLines(spark, in, maxFilesPerTrigger = 1), cfg),
        cfg, checkpoint = ckpt, triggerMs = 100).fold(e => fail(e), identity)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assertNoDuplicates(s"$out/out.jsonl", 6)
    assert(dropLastCommit(ckpt) == 1)
    drain()
    assertNoDuplicates(s"$out/out.jsonl", 6)
  }

  test("replay guard: runOnce skips a micro-batch whose commit was lost and does not count it") {
    val in = twoBatchInput("replay-once-in")
    val out = tmpDir("replay-once-out")
    val ckpt = tmpDir("replay-once-ckpt")
    val cfg = EtlConfig.default.copy(
      outputType = "file", outputPath = s"$out/out.jsonl", filterLevels = Nil)
    def drain() = StreamingPipeline.runOnce(spark, in, cfg, ckpt)
      .fold(e => fail(e), _.report)
    assert(drain().totalLines == 6)
    assertNoDuplicates(s"$out/out.jsonl", 6)
    assert(dropLastCommit(ckpt) == 1)
    val replay = drain()
    assertNoDuplicates(s"$out/out.jsonl", 6)
    assert(replay.totalLines == 0 && replay.writtenOk == 0 &&
      replay.byLevel.isEmpty, s"the skipped batch was counted: $replay")
  }

  test("streaming run produces the EXACT batch report + sink output (equivalence)") {
    // the streaming run MUST cross micro-batch boundaries
    val in = twoBatchInput("equiv-in")
    val out = tmpDir("equiv-out")
    def cfg(p: String) = EtlConfig.default.copy(
      outputType = "file", outputPath = p,
      filterLevels = Seq("WARN", "ERROR"),
      redactKeys = Seq("user_email", "token"))

    // batch reference run over the SAME lines
    val lines = graft.etl.Normalize.parseLines(spark, s"$in/*.jsonl")
    val batch = graft.etl.Pipeline.run(lines, cfg(s"$out/batch.jsonl"))
      .fold(e => fail(e), identity)

    val res = StreamingPipeline.runOnce(spark, in, cfg(s"$out/stream.jsonl"),
        checkpoint = tmpDir("equiv-ckpt"))
      .fold(e => fail(e), identity)

    // full report-struct equality modulo timing-derived fields
    def norm(r: graft.etl.EtlReport) = r.copy(
      durationSeconds = 0, throughput = 0, jsonErrorRate = 0,
      normalizeErrorRate = 0, writeErrorRate = 0,
      stageTimings = graft.etl.StageTimings())
    assert(norm(res.report) == norm(batch.report),
      s"streaming=${norm(res.report)}\nbatch=${norm(batch.report)}")

    // sink outputs: same record set (order is partition/batch dependent)
    def sortedLines(p: String) = {
      val l = new java.util.ArrayList(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)))
      java.util.Collections.sort(l); l
    }
    assert(sortedLines(s"$out/stream.jsonl") == sortedLines(s"$out/batch.jsonl"))
  }

  test("stateful error-burst detection emits at threshold") {
    import spark.implicits._
    val in = tmpDir("stream-burst")
    val linesJson = (1 to 5).map(i =>
      s"""{"ts":"2024-01-01T00:0$i:00Z","level":"ERROR","msg":"boom $i","service":"api"}""") ++
      Seq("""{"ts":"2024-01-01T00:06:00Z","level":"INFO","msg":"ok","service":"api"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      String.join("\n", linesJson: _*).getBytes)
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val transformed = StreamingPipeline.transformedStream(
      StreamingPipeline.readLines(spark, in), cfg)
    val bursts = StreamingPipeline.errorBursts(spark, transformed, threshold = 3)
    val q = bursts.writeStream.outputMode("append")
      .format("memory").queryName("bursts").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("bursts").collect()
      assert(rows.exists(r => r.getString(0) == "api" && r.getInt(1) == 3))
    } finally q.stop()
  }

  test("session_window: gap splits sessions, watermark emits closed ones") {
    val in = tmpDir("stream-sess")
    // svc api: events at t0, t0+10m (one session), t0+90m (a second,
    // still-open session); svc db: one event at t0.
    val lines = Seq(
      """{"ts":"2024-01-01T00:00:00Z","level":"INFO","msg":"a1","service":"api"}""",
      """{"ts":"2024-01-01T00:10:00Z","level":"INFO","msg":"a2","service":"api"}""",
      """{"ts":"2024-01-01T01:30:00Z","level":"INFO","msg":"a3","service":"api"}""",
      """{"ts":"2024-01-01T00:00:00Z","level":"INFO","msg":"d1","service":"db"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      lines.mkString("\n").getBytes)
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val sessions = StreamingPipeline.serviceSessions(
      StreamingPipeline.transformedStream(
        StreamingPipeline.readLines(spark, in), cfg))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("svc_sessions").start()
    try {
      q.processAllAvailable()
      // final watermark = 01:30 - 30m = 01:00; the two sessions ending
      // 00:40 (api: 2 events) and 00:30 (db: 1 event) are closed and
      // emitted; api's 01:30 session is still open.
      val rows = spark.table("svc_sessions")
        .collect().map(r => (r.getAs[String]("service"),
          r.getAs[Long]("n_events"))).toSet
      assert(rows == Set(("api", 2L), ("db", 1L)), s"got=$rows")
    } finally q.stop()
  }

  test("streaming exact dedup drops in-watermark duplicates") {
    val in = tmpDir("stream-dedup")
    val lines = Seq(
      """{"ts":"2024-01-01T00:00:00Z","level":"INFO","msg":"same"}""",
      """{"ts":"2024-01-01T00:01:00Z","level":"INFO","msg":"same"}""",
      """{"ts":"2024-01-01T00:02:00Z","level":"INFO","msg":"different"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      lines.mkString("\n").getBytes)
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val deduped = StreamingPipeline.streamingExactDedup(
      StreamingPipeline.transformedStream(
        StreamingPipeline.readLines(spark, in), cfg))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      val msgs = spark.table("dedup_stream")
        .select("message").collect().map(_.getString(0)).sorted
      assert(msgs.toSeq == Seq("different", "same"))
    } finally q.stop()
  }

  test("graceful shutdown: stop() drains the in-flight micro-batch, output adds up") {
    import org.apache.spark.sql.DataFrame
    val in = tmpDir("drain-in")
    val out = java.nio.file.Paths.get(tmpDir("drain-out"), "out.txt")
    val linesJson = (1 to 4).map(i =>
      s"""{"ts":"2024-01-01T00:0$i:00Z","level":"ERROR","msg":"m$i"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      linesJson.mkString("\n").getBytes)
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val transformed = StreamingPipeline.transformedStream(
      StreamingPipeline.readLines(spark, in), cfg)
    // a deliberately SLOW sink: the batch is guaranteed in flight when
    // the signal lands, so the drain contract is actually exercised
    val inFlight = new java.util.concurrent.CountDownLatch(1)
    val q = transformed.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("drain-ckpt"))
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val msgs = batch.filter(col("error").isNull)
          .select("message").collect().map(_.getString(0))
        if (msgs.nonEmpty) {
          inFlight.countDown()
          Thread.sleep(1500) // signal arrives while this batch is open
          java.nio.file.Files.write(out,
            (msgs.mkString("\n") + "\n").getBytes,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        ()
      }.start()
    try {
      assert(inFlight.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "first micro-batch never started")
      // "Ctrl-C" now: the batch is mid-write (sleeping). A bare stop()
      // would interrupt it; the graceful path must let it finish.
      val drained = graft.etl.Shutdown.stopGracefully(q, timeoutSeconds = 30)
      assert(drained, "drain should succeed well inside the timeout")
      assert(!q.isActive)
      val written = java.nio.file.Files.readAllLines(out)
      assert(written.size == 4,
        s"in-flight batch must complete its sink write before stop: $written")
    } finally if (q.isActive) q.stop()
    // the hook install path is idempotent and removable
    graft.etl.Shutdown.install(spark, 30)
    graft.etl.Shutdown.install(spark, 30)
  }

  test("graceful shutdown: timeout exceeded reports false, still stops") {
    import org.apache.spark.sql.DataFrame
    val in = tmpDir("drain-to-in")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      """{"ts":"2024-01-01T00:00:00Z","level":"ERROR","msg":"slow"}""".getBytes)
    val cfg = EtlConfig.default.copy(filterLevels = Nil)
    val transformed = StreamingPipeline.transformedStream(
      StreamingPipeline.readLines(spark, in), cfg)
    val inFlight = new java.util.concurrent.CountDownLatch(1)
    val q = transformed.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("drain-to-ckpt"))
      .trigger(Trigger.ProcessingTime(100))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (batch.count() > 0) { inFlight.countDown(); Thread.sleep(8000) }
        ()
      }.start()
    try {
      assert(inFlight.await(30, java.util.concurrent.TimeUnit.SECONDS))
      // 1 s budget against an 8 s batch: the reference's "shutdown
      // timeout exceeded" path (main.go:439-441) — warn, stop anyway
      val drained = graft.etl.Shutdown.stopGracefully(q, timeoutSeconds = 1)
      assert(!drained, "an 8s batch cannot drain in a 1s budget")
      q.awaitTermination(30000)
      assert(!q.isActive, "stop must still be issued on timeout")
    } finally if (q.isActive) q.stop()
  }

  test("streaming CSV records: same kept records as the JSONL stream") {
    val in = tmpDir("stream-csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.csv"),
      ("""ts,level,msg,service,user_email
        |2025-01-01T00:00:00Z,ERROR,boom,api,u1@example.com
        |2025-01-01T00:00:01Z,INFO,fine,api,
        |""".stripMargin).getBytes)
    val schema = org.apache.spark.sql.types.StructType(
      Seq("ts", "level", "msg", "service", "user_email").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType)))
    val cfg = EtlConfig.default.copy(
      filterLevels = Seq("ERROR"), redactKeys = Seq("user_email"))
    val lines = StreamingPipeline.readRecords(spark, in, "csv", schema)
    assert(lines.isStreaming)
    val q = StreamingPipeline.transformedStream(lines, cfg)
      .writeStream.outputMode("append")
      .format("memory").queryName("csv_stream").start()
    try {
      q.processAllAvailable()
      val all = spark.table("csv_stream")
      assert(all.count() == 2)
      val kept = all.filter(col("error").isNull &&
        col(graft.etl.Transforms.DropReasonCol).isNull).collect()
      assert(kept.length == 1)
      assert(kept.head.getAs[String]("message") == "boom")
      assert(!kept.head.getAs[Map[String, String]]("fields").contains("user_email"))
    } finally q.stop()
  }

  test("streaming minhash-LSH near-dup: cross-batch pairs found exactly once") {
    val in = tmpDir("stream-neardup")
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok7 ", "tok7x ")   // ~0.9 jaccard vs base
    val far = (1 to 50).map(i => s"other$i").mkString(" ")
    val schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    def jline(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
    // batch 1: the base doc + an unrelated doc
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(jline(1, base, "2024-01-01T00:00:00Z"),
        jline(2, far, "2024-01-01T00:00:10Z")).mkString("\n").getBytes)
    val docs = spark.readStream.schema(schema).json(in)
    val pairs = StreamingDedup.minhashLshPairs(docs, threshold = 0.5)
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("near_dup_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("near_dup_stream").count() == 0,
        "no pair exists inside batch 1")
      // batch 2: the near-dup arrives LATER — must pair against the
      // batch-1 doc held in state, and only once despite colliding in
      // many of the 16 bands; plus another unrelated doc (no pair)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        Seq(jline(3, nearDup, "2024-01-01T00:01:00Z"),
          jline(4, (1 to 50).map(i => s"zzz$i").mkString(" "), "2024-01-01T00:01:10Z"))
          .mkString("\n").getBytes)
      q.processAllAvailable()
      val rows = spark.table("near_dup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.length == 1,
        s"cross-batch near-dup must be paired EXACTLY once, got ${rows.toSeq}")
      val (da, db, sim) = rows.head
      assert((da, db) == ((1L, 3L)))
      assert(sim >= 0.5 && sim <= 1.0)
      // idempotence under further unrelated batches: no re-emission
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b3.json"),
        Seq(jline(5, (1 to 50).map(i => s"qqq$i").mkString(" "), "2024-01-01T00:02:00Z"))
          .mkString("\n").getBytes)
      q.processAllAvailable()
      assert(spark.table("near_dup_stream").count() == 1)
    } finally q.stop()
  }

  test("streaming minhash-LSH verify mode: exact jaccard via stream-static join") {
    val in = tmpDir("stream-neardup-verify")
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    // tok7 -> tok7x rewrites the 5 shingles covering position 7:
    // common 41, union 51 -> exact J = 41/51 = 0.8039 (the estimate
    // would be a multiple of 1/64 — never this value)
    val nearDup = base.replace("tok7 ", "tok7x ")
    val far = (1 to 50).map(i => s"other$i").mkString(" ")
    val schema = "doc_id LONG, text STRING, ts TIMESTAMP"
    def jline(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","ts":"$ts"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(jline(1, base, "2024-01-01T00:00:00Z"),
        jline(2, far, "2024-01-01T00:00:10Z")).mkString("\n").getBytes)
    // the static snapshot carries every doc the stream will see
    import spark.implicits._
    val snapshot = Seq((1L, base), (2L, far), (3L, nearDup))
      .toDF("doc_id", "text")
    val docs = spark.readStream.schema(schema).json(in)
    val pairs = StreamingDedup.minhashLshPairs(docs, threshold = 0.5,
      verifyWith = Some(snapshot))
    val q = pairs.writeStream.outputMode("append")
      .format("memory").queryName("near_dup_verified").start()
    try {
      q.processAllAvailable()
      // the near-dup arrives in a LATER batch — the emitted pair must
      // carry the exact jaccard, not the signature estimate
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        Seq(jline(3, nearDup, "2024-01-01T00:01:00Z")).mkString("\n").getBytes)
      q.processAllAvailable()
      val rows = spark.table("near_dup_verified").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(rows.length == 1, s"got ${rows.toSeq}")
      val (da, db, est, exact) = rows.head
      assert((da, db) == ((1L, 3L)))
      assert(exact == 0.8039, // round(41/51, 4)
        s"exact jaccard must be round(41/51, 4) = 0.8039, got $exact")
      assert(est != exact, "estimate and exact coincide — verify is a no-op?")
    } finally q.stop()
  }

  test("streaming hourly events agg runs on the testdata schema") {
    val q = StreamingPipeline.streamingHourly(spark, "/root/testdata/sf0.001")
      .writeStream.outputMode("append")
      .format("memory").queryName("ev_hourly_stream").start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress != null)
    } finally q.stop()
  }

  test("streaming range join: stream-static interval match equals batch") {
    // rangeJoin is bucket-equi-join + filter on plain column
    // expressions, so a STREAMING points side against static intervals
    // must plan as a supported stream-static join and match batch
    import graft.ops.TimeSeries
    import spark.implicits._
    val in = tmpDir("stream-range")
    def jl(id: Long, u: Long, ts: String) =
      s"""{"event_id":$id,"user_id":$u,"ts":"$ts"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(jl(1, 10, "2024-01-01T00:00:30Z"),   // inside iv 100
        jl(2, 10, "2024-01-01T00:05:00Z"),     // outside
        jl(3, 20, "2024-01-01T00:00:30Z")      // right time, wrong key
      ).mkString("\n").getBytes)
    val schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    val ivs = Seq(
      (100L, 10L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:01:00")))
      .toDF("iv_id", "user_id", "w_start", "w_end")
    val stream = spark.readStream.schema(schema).json(in)
    val joined = TimeSeries.rangeJoin(stream, ivs, "user_id",
      "ts", "w_start", "w_end", grainUs = 60L * 1000000L)
    val q = joined.select("event_id", "iv_id").writeStream
      .outputMode("append").format("memory").queryName("range_stream").start()
    try {
      q.processAllAvailable()
      // second batch arrives later, matches the same static interval
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        Seq(jl(4, 10, "2024-01-01T00:00:59Z")).mkString("\n").getBytes)
      q.processAllAvailable()
      val got = spark.table("range_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 100L), (4L, 100L)))
      val batch = TimeSeries.rangeJoin(
          spark.read.schema(schema).json(in), ivs, "user_id",
          "ts", "w_start", "w_end", grainUs = 60L * 1000000L)
        .select("event_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming as-of: broadcast binary-search path enriches a stream, equals batch") {
    // asofJoinBroadcast probes a STATIC per-key sorted history with a
    // stateless codegen'd binary search, so it runs under readStream as
    // a plain stream-static join — the as-of capability the
    // union+window merge formulation cannot stream
    import graft.ops.TimeSeries
    import spark.implicits._
    val in = tmpDir("stream-asof")
    def jl(id: Long, u: Long, ts: String) =
      s"""{"event_id":$id,"user_id":$u,"ts":"$ts"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      Seq(jl(1, 10, "2024-01-01T00:05:00Z"),
        jl(2, 20, "2024-01-01T00:05:00Z")).mkString("\n").getBytes)
    val schema = "event_id LONG, user_id LONG, ts TIMESTAMP"
    val hist = Seq(
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.5),
      (10L, java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), 2.5),
      (20L, java.sql.Timestamp.valueOf("2024-01-01 00:09:00"), 9.9)
    ).toDF("user_id", "ts", "price")
    val stream = spark.readStream.schema(schema).json(in)
    val q = TimeSeries.asofJoinBroadcast(stream, hist, "user_id", "ts",
        Seq("price"))
      .select("event_id", "price").writeStream
      .outputMode("append").format("memory").queryName("asof_stream").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        Seq(jl(3, 10, "2024-01-01T00:03:00Z"),
          jl(4, 20, "2024-01-01T00:10:00Z")).mkString("\n").getBytes)
      q.processAllAvailable()
      val got = spark.table("asof_stream").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(got == Map(
        1L -> Some(2.5),  // latest 10-history row <= 00:05
        2L -> None,       // 20's only history row is later
        3L -> Some(1.5),  // second micro-batch still probes correctly
        4L -> Some(9.9)))
      val batch = TimeSeries.asofJoinBroadcast(
          spark.read.schema(schema).json(in), hist, "user_id", "ts",
          Seq("price"))
        .select("event_id", "price").collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming curation gates: PII scrub + URL gate + quality are batch-identical") {
    // the content gates are stateless column ops, so the SAME
    // expressions must produce the SAME rows under readStream,
    // micro-batch by micro-batch — the streaming-equals-batch claim
    // for the curation surface
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    val in = tmpDir("stream-curation")
    val schema = "doc_id LONG, text STRING"
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val b1 = Seq(
      jl(1, "mail me at alice@example.org about https://spam.example.com/x now"),
      jl(2, "a clean long document " + (1 to 30).map(i => s"w$i").mkString(" ")))
    val b2 = Seq(
      jl(3, "server 10.1.2.3 docs at https://docs.example.org/a ok"),
      jl(4, "short"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      b1.mkString("\n").getBytes)
    def gates(df: org.apache.spark.sql.DataFrame) = {
      val (nUrls, nBlocked, keep) =
        TextAnalysis.urlGate(col("text"), Seq("spam.example.com"))
      df.select(col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("scrubbed"),
        nUrls.as("n_urls"), keep.as("url_ok"),
        (TextAnalysis.tokenCount(col("text")) >= 5).as("len_ok"))
    }
    val q = gates(spark.readStream.schema(schema).json(in))
      .writeStream.outputMode("append")
      .format("memory").queryName("curation_stream").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        b2.mkString("\n").getBytes)
      q.processAllAvailable()
      val streamed = spark.table("curation_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getBoolean(3), r.getBoolean(4))).toSet
      val batch = gates(spark.read.schema(schema).json(in)).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getBoolean(3), r.getBoolean(4))).toSet
      assert(streamed == batch)
      assert(streamed.size == 4)
      val byId = streamed.map(t => t._1 -> t).toMap
      assert(byId(1L)._2.contains("<EMAIL>") && !byId(1L)._4,
        "doc 1: email scrubbed, blocklisted URL flagged")
      assert(byId(3L)._2.contains("<IP>") && byId(3L)._4)
      assert(!byId(4L)._5, "short doc fails the length gate")
    } finally q.stop()
  }

  test("streaming named gate batteries: Gopher + C4 rules are batch-identical") {
    // both published batteries are pure column batteries — the same
    // expressions must produce the same rows under readStream
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis
    val in = tmpDir("stream-named-gates")
    val schema = "doc_id LONG, text STRING"
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val rows = Seq(
      jl(1, "the cat and the dog have fun with all of that " * 3),
      jl(2, "zz qq xx vv ww yy kk jj mm nn oo pp rr ss tt uu"), // no stopwords
      jl(3, "One good sentence lives right here.\\n" +
        "Another full sentence sits right below it.\\n" +
        "And a third one completes the page."),
      jl(4, "this page mentions lorem ipsum sadly.\\nBut has fine sentences otherwise here.\\nAnd even a third one right here."))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b1.json"),
      rows.take(2).mkString("\n").getBytes)
    def gop(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.gopherRules(df, minWords = 10L)
        .select("doc_id", "n_words", "n_stop_hits", "gopher_pass")
    def c4(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.c4Rules(df)
        .select("doc_id", "n_kept_lines", "has_lorem", "c4_keep")
    val q1 = gop(spark.readStream.schema(schema).json(in))
      .writeStream.outputMode("append").format("memory")
      .queryName("gopher_stream").start()
    val q2 = c4(spark.readStream.schema(schema).json(in))
      .writeStream.outputMode("append").format("memory")
      .queryName("c4_stream").start()
    try {
      q1.processAllAvailable(); q2.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b2.json"),
        rows.drop(2).mkString("\n").getBytes)
      q1.processAllAvailable(); q2.processAllAvailable()
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rowsOf(spark.table("gopher_stream")) ==
        rowsOf(gop(spark.read.schema(schema).json(in))))
      assert(rowsOf(spark.table("c4_stream")) ==
        rowsOf(c4(spark.read.schema(schema).json(in))))
      val g = spark.table("gopher_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(g(1L) && !g(2L), "stopword rule must split the stream docs")
      val c = spark.table("c4_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      assert(c(3L) && !c(4L), "lorem rule must split the stream docs")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming repetition battery: per-doc metrics are batch-identical, replays don't duplicate") {
    // gopherRepetition is one codegen expression per row (r13) —
    // stateless, so the micro-batch twin is the operator itself; the
    // exactly-once layout is the batch_id= overwrite contract
    import org.apache.spark.sql.DataFrame
    import graft.ops.TextAnalysis
    val in = tmpDir("rep-in")
    val out = tmpDir("rep-out") + "/rep"
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val docs = Seq(
      (1L, ("spam ham " * 30).trim),                     // modal 2-gram page
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")),    // all-distinct page
      (3L, "a b c d e a b c d e a b c d e a b c d e"),   // duplicated 5-grams
      (4L, "x"))                                         // gram-less doc
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      docs.take(2).map((jl _).tupled).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      docs.drop(2).map((jl _).tupled).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val appender: (DataFrame, Long) => Unit = (batch, batchId) =>
      TextAnalysis.gopherRepetition(batch)
        .write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("rep-ckpt"))
      .foreachBatch(appender)
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("doc_id", "top2gram_char_frac", "dup5gram_char_frac", "rep_pass")
      .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(out))
    import spark.implicits._
    val batchAll = rows(TextAnalysis.gopherRepetition(
      docs.toDF("doc_id", "text")))
    assert(streamed == batchAll,
      s"stream $streamed must equal batch $batchAll")
    val pass = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("rep_pass")).toMap
    assert(!pass(1L) && pass(2L) && !pass(3L),
      s"planted repeat pages must trip, clean page must keep: $pass")
    assert(pass.contains(4L), "a gram-less doc must keep its row")
    // replay: re-running a micro-batch overwrites its own partition
    appender(docs.drop(2).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change rows")
  }

  test("streaming LID scoring: frozen multi-head model stream equals batch, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    import graft.ops.TextAnalysis
    val in = tmpDir("lid-in")
    val out = tmpDir("lid-out") + "/preds"
    // disjoint char inventories (the OpsSpec LID-learns probe): the
    // trained heads must separate them on UNSEEN docs
    val trainDocs = Seq(
      (1L, "aba bab aab abba baab", "ab"),
      (2L, "cdc dcd ccd cddc dccd", "cd"),
      (3L, "efe fef eef effe feef", "ef"),
      (4L, "bab aba bba abab baba", "ab"),
      (5L, "dcd cdc ddc cdcd dcdc", "cd"),
      (6L, "fef efe ffe efef fefe", "ef"))
      .toDF("doc_id", "text", "lang")
    val trained = TextAnalysis.trainLid(trainDocs,
      classes = Seq("ab", "cd", "ef"), numBuckets = 64, iterations = 3)
    // artifact round-trip INSIDE the streaming lifecycle: the scorer
    // runs the LOADED model, proving load-score ≡ train-score
    val modelPath = tmpDir("lid-model") + "/m"
    TextAnalysis.saveLidModel(spark, trained, modelPath)
    val model = TextAnalysis.loadLidModel(spark, modelPath)
    assert(model == trained, "LID artifact must round-trip exactly")
    val streamDocs = Seq(
      (10L, "abab baba abb"), (11L, "cdcd dcdc dcc"), (12L, "efef fefe ffe"))
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(1).map((jl _).tupled).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(1).map((jl _).tupled).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("lid-ckpt"))
      .foreachBatch(StreamingLid.scoringAppender(model, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("doc_id", "lang_pred", "lid_score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(TextAnalysis.scoreWithLidModel(
      streamDocs.toDF("doc_id", "text"), model))
    assert(streamed == batch,
      s"frozen-model stream predictions $streamed must equal batch $batch")
    val preds = streamed.map(t => t._1 -> t._2).toMap
    assert(preds == Map(10L -> "ab", 11L -> "cd", 12L -> "ef"),
      s"trained heads must separate the inventories on unseen docs: $preds")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingLid.scoringAppender(model, out)(
      streamDocs.drop(1).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change prediction rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming WordPiece scoring: frozen merges stream equals batch, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    import graft.ops.{Bpe, Wordpiece}
    val in = tmpDir("wp-in")
    val out = tmpDir("wp-out") + "/scores"
    // train merges in batch, round-trip the artifact, score the stream
    // under the LOADED model (load-score ≡ train-score)
    val trainDocs = Seq(
      (1L, "low low low lower lowest"), (2L, "low lower slow slowest"))
      .toDF("doc_id", "text")
    val (trained, _) = Bpe.learnMerges(trainDocs, 4)
    val modelPath = tmpDir("wp-model") + "/m"
    Bpe.MergesArtifact.save(spark, trained, modelPath)
    val merges = Bpe.MergesArtifact.load(spark, modelPath)
    assert(merges == trained, "merges artifact must round-trip exactly")
    val streamDocs = Seq(
      (10L, "low lowest yellow"), (11L, "slower glow below"),
      (12L, "Mixed CASE low?"))
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(1).map((jl _).tupled).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(1).map((jl _).tupled).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("wp-ckpt"))
      .foreachBatch(StreamingWordpiece.scoringAppender(merges, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("doc_id", "n_words", "n_wp_tokens", "n_bpe_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(Wordpiece.scoreDocs(
      streamDocs.toDF("doc_id", "text"), merges))
    assert(streamed == batch,
      s"frozen-merges stream scores $streamed must equal batch $batch")
    // lowercasing happens before the a-z gate: 'Mixed'/'CASE' pass as
    // 'mixed'/'case', the punctuated 'low?' is dropped
    val byDoc = streamed.map(t => t._1 -> t._2).toMap
    assert(byDoc(12L) == 2L, s"doc 12 must keep mixed+case only: $byDoc")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingWordpiece.scoringAppender(merges, out)(
      streamDocs.drop(1).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change score rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming unigram-LM scoring: frozen model stream equals batch, replays don't duplicate") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    import graft.ops.UnigramLm
    val in = tmpDir("uni-in")
    val out = tmpDir("uni-out") + "/scores"
    // train in batch, round-trip the artifact, score the stream under
    // the LOADED model (load-score ≡ train-score)
    val trainDocs = Seq(
      (1L, "low low low lower lowest"), (2L, "low lower slow slowest"))
      .toDF("doc_id", "text")
    val (_, trained, _) = UnigramLm.learn(trainDocs)
    val modelPath = tmpDir("uni-model") + "/m"
    UnigramLm.ModelArtifact.save(spark, trained, modelPath)
    val model = UnigramLm.ModelArtifact.load(spark, modelPath)
    assert(model == trained, "unigram model artifact must round-trip exactly")
    // stream docs carry words the training corpus never saw — the
    // frozen scorer segments the batch's OWN word table
    val streamDocs = Seq(
      (10L, "low lowest yellow"), (11L, "slower glow below"),
      (12L, "Mixed CASE low?"))
    def jl(id: Long, t: String) = s"""{"doc_id":$id,"text":"$t"}"""
    val fa = java.nio.file.Paths.get(s"$in/a.jsonl")
    val fb = java.nio.file.Paths.get(s"$in/b.jsonl")
    java.nio.file.Files.write(fa,
      streamDocs.take(1).map((jl _).tupled).mkString("\n").getBytes)
    java.nio.file.Files.write(fb,
      streamDocs.drop(1).map((jl _).tupled).mkString("\n").getBytes)
    fa.toFile.setLastModified(System.currentTimeMillis() - 60000)
    val q = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("uni-ckpt"))
      .foreachBatch(StreamingUnigram.scoringAppender(model, out))
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: DataFrame) = df
      .select("doc_id", "n_words", "n_uni_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = rows(spark.read.parquet(out))
    val batch = rows(UnigramLm.scoreWithModel(
      streamDocs.toDF("doc_id", "text"), model))
    assert(streamed == batch,
      s"frozen-model stream scores $streamed must equal batch $batch")
    // lowercasing happens before the a-z gate: 'Mixed'/'CASE' pass as
    // 'mixed'/'case', the punctuated 'low?' is dropped
    val byDoc = streamed.map(t => t._1 -> t._2).toMap
    assert(byDoc(12L) == 2L, s"doc 12 must keep mixed+case only: $byDoc")
    // replay: re-running a batch overwrites its own partition — no dupes
    StreamingUnigram.scoringAppender(model, out)(
      streamDocs.drop(1).toDF("doc_id", "text"), 1L)
    assert(rows(spark.read.parquet(out)) == streamed,
      "a replayed micro-batch must not duplicate or change score rows")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming HLL sketch: snapshot equals batch over the prefix; replay is idempotent by algebra") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("hll-in")
    val state = tmpDir("hll-state")
    // overlapping values across batches: per-bucket max is idempotent,
    // so re-seen values must not move the estimate
    val b0 = (1 to 300).map(i => ("g1", s"v$i")) ++ (1 to 50).map(i => ("g2", s"w$i"))
    val b1 = (200 to 500).map(i => ("g1", s"v$i")) ++ (1 to 50).map(i => ("g2", s"w$i"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map { case (g, v) => s"""{"g":"$g","v":"$v"}""" }.mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map { case (g, v) => s"""{"g":"$g","v":"$v"}""" }.mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("g", "string").add("v", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Double)]]()
    def toMap(out: DataFrame): Map[String, (Long, Double)] =
      out.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMap(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("hll-ckpt"))
      .foreachBatch(StreamingSketch.foreachBatchHllDistinct(
        "g", "v", p = 9, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    // snapshot ≡ batch sketch over the concatenated prefix, exactly
    val batchAll = graft.ops.Sketch.hllDistinct(
      (b0 ++ b1).toDF("g", "v"), Seq("g"), "v", p = 9)
    assert(snapshots(1) == toMap(batchAll),
      "streaming snapshot must equal the batch sketch on the prefix")
    // the overlap (v200..v300, all w's re-seen) must not inflate:
    // g2 saw the identical 50 values twice
    val batchB0 = graft.ops.Sketch.hllDistinct(
      b0.toDF("g", "v"), Seq("g"), "v", p = 9)
    assert(snapshots(1)("g2") == toMap(batchB0)("g2"),
      "re-seen values must leave the g2 registers untouched")
    // O(1) state files
    val files = new java.io.File(s"$state/sketch").listFiles()
      .map(_.getName).filter(_.startsWith("batch-"))
    assert(files.length <= 2, s"state must stay O(1) files: ${files.toList}")
    // replay: re-running batch 1 merges idempotently to the same state
    val replayed = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Double)]]()
    StreamingSketch.foreachBatchHllDistinct("g", "v", 9, state,
      { out: DataFrame => replayed += toMap(out); () })(
      b1.toDF("g", "v"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must emit the identical estimate")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming CMS: estimates equal batch on the prefix; replay rewrites its partition") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("cms-in")
    val state = tmpDir("cms-state")
    val b0 = Seq.fill(30)("hot") ++ Seq.fill(5)("warm") ++ (1 to 40).map(i => s"r$i")
    val b1 = Seq.fill(20)("hot") ++ (40 to 80).map(i => s"r$i")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(v => s"""{"v":"$v"}""").mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(v => s"""{"v":"$v"}""").mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType().add("v", "string")
    val probes = Seq("hot", "warm", "r40", "absent").toDF("v")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    def toMap(out: DataFrame): Map[String, Long] =
      out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMap(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("cms-ckpt"))
      .foreachBatch(StreamingSketch.foreachBatchCms(
        "v", w = 512, d = 3, stateDir = state, probes = probes,
        probeCol = "v", sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    val batchAll = graft.ops.Sketch.Cms.estimate(
      graft.ops.Sketch.Cms.counters((b0 ++ b1).toDF("v"), "v", 512, 3),
      probes, "v", 512, 3)
    assert(snapshots(1) == toMap(batchAll),
      "streaming estimates must equal the batch sketch on the prefix")
    // at w=512 for ~85 distinct keys the probes are exact
    assert(snapshots(1)("hot") == 50L && snapshots(1)("warm") == 5L &&
      snapshots(1)("r40") == 2L && snapshots(1)("absent") == 0L)
    // replay batch 1: contribution partition rewrites, estimate identical
    val replayed = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
    StreamingSketch.foreachBatchCms("v", 512, 3, state, probes, "v",
      { out: DataFrame => replayed += toMap(out); () })(
      b1.toDF("v"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not double-count")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming robust stats: snapshot median/MAD equals batch; replay rewrites its partition") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("mad-in")
    val state = tmpDir("mad-state")
    // batch 0 alone has median 2; the full prefix has median 3 — the
    // snapshot must move, proving the carry really merges histograms
    val b0 = Seq(("en", 1), ("en", 2), ("en", 3), ("de", 10))
    val b1 = Seq(("en", 3), ("en", 3), ("en", 500), ("de", 12), ("de", 14))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map { case (k, v) => s"""{"k":"$k","v":$v}""" }.mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map { case (k, v) => s"""{"k":"$k","v":$v}""" }.mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", "string").add("v", "long")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[String, (Double, Double, Long, Long)]]()
    def toMap(out: DataFrame): Map[String, (Double, Double, Long, Long)] =
      out.collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMap(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("mad-ckpt"))
      .foreachBatch(StreamingSketch.foreachBatchMadStats(
        "k", "v", stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0)("en") == ((2.0, 1.0, 3L, 0L)))
    // full prefix: en values 1,2,3,3,3,500 → med 3, devs 2,1,0,0,0,497
    // → mad 0.5; outliers (dev > 1.5): the planted 500 AND the 1
    assert(snapshots(1)("en") == ((3.0, 0.5, 6L, 2L)))
    val batchAll = graft.ops.Robust.madOutlierStats(
      (b0 ++ b1).toDF("k", "v"), "k", col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(snapshots(1) == batchAll,
      "streaming snapshot must equal the batch stats on the prefix")
    // replay batch 1: contribution partition rewrites, stats identical
    val replayed = scala.collection.mutable.ArrayBuffer[Map[String, (Double, Double, Long, Long)]]()
    StreamingSketch.foreachBatchMadStats("k", "v", state,
      { out: DataFrame => replayed += toMap(out); () })(
      b1.toDF("k", "v"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not double-count")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming token budget: admission retro-corrects; snapshot equals batch; replay clean") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("tb-in")
    val state = tmpDir("tb-state")
    def docOf(k: Int): String = (1 to k).map(i => s"w$i").mkString(" ")
    // batch 0: two 10-token docs fill source A's 25-token budget as a
    // full grain; batch 1's 20-token doc outranks them (longer → higher
    // quality) and squeezes the old grain to a 5-token remainder no doc
    // fits — the early admits must be EVICTED from the snapshot
    val b0 = Seq((1L, docOf(10)), (2L, docOf(10)))
    val b1 = Seq((3L, docOf(20)))
    def line(t: (Long, String)) =
      s"""{"doc_id":${t._1},"source":"A","text":"${t._2}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("source", "string").add("text", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(Long, String)]]()
    def toSet(out: DataFrame): Set[(Long, String)] =
      out.select("doc_id", "admit").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toSet(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("tb-ckpt"))
      .foreachBatch(StreamingMixing.foreachBatchTokenBudget(
        budget = 25L, stateDir = state, bucketWidth = 4L, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0) == Set((1L, "grain"), (2L, "grain")))
    assert(snapshots(1) == Set((3L, "grain")),
      "better late arrivals must evict the early boundary admits")
    val batchAll = toSet(graft.ops.Sampling.tokenBudgetMix(
      (b0 ++ b1).map { case (id, t) => (id, "A", t) }
        .toDF("doc_id", "source", "text"),
      budget = 25L, bucketWidth = 4L))
    assert(snapshots(1) == batchAll,
      "streaming snapshot must equal the batch admission on the prefix")
    // replay batch 1: stats partition rewrites, admission identical
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(Long, String)]]()
    StreamingMixing.foreachBatchTokenBudget(25L, state, 4L,
      { out: DataFrame => replayed += toSet(out); () })(
      b1.map { case (id, t) => (id, "A", t) }.toDF("doc_id", "source", "text"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not change the snapshot")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming drift: snapshot equals batch drift on the prefix; bounded histogram state; replay clean") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("dr-in")
    val state = tmpDir("dr-state")
    def docOf(k: Int): String = (1 to k).map(i => s"w$i").mkString(" ")
    // frozen v1 release: histogram collected once from the released corpus
    val v1 = Seq((100L, docOf(10)), (101L, docOf(40)), (102L, docOf(80)))
      .toDF("doc_id", "text")
    val v1Hist = graft.ops.Versioning.scoreHistogram(
        v1.select(graft.ops.TextAnalysis.qualityScore(col("text")).as("score")), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // candidate v2 streams in two batches with a different length mix
    val b0 = Seq((1L, docOf(10)), (2L, docOf(10)))
    val b1 = Seq((3L, docOf(80)), (4L, docOf(80)))
    def line(t: (Long, String)) =
      s"""{"doc_id":${t._1},"text":"${t._2}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long, Double)]]()
    def toSet(out: DataFrame): Set[(Long, Long, Long, Double)] =
      out.select("bin", "n1", "n2", "psi_term").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toSet(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("dr-ckpt"))
      .foreachBatch(StreamingDrift.foreachBatchDrift(
        v1Hist, bins = 10, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    // snapshot 1 == batch drift of v1 vs the full v2 prefix
    def scoresOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .select(graft.ops.TextAnalysis.qualityScore(col("text")).as("score"))
    val batchAll = toSet(graft.ops.Versioning.distributionDrift(
      scoresOf(Seq((100L, docOf(10)), (101L, docOf(40)), (102L, docOf(80)))),
      scoresOf(b0 ++ b1)))
    assert(snapshots(1) == batchAll,
      "streaming drift snapshot must equal the batch drift on the prefix")
    assert(snapshots(0) != snapshots(1),
      "the second batch's length mix must move the drift table")
    // carried state is bounded: <= bins rows per batch partition
    val stateRows = spark.read.parquet(s"$state/hist")
    assert(stateRows.groupBy("batch_id").count().collect()
      .forall(_.getLong(1) <= 10))
    // replay batch 1: contribution rewrites, drift identical
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long, Double)]]()
    StreamingDrift.foreachBatchDrift(v1Hist, 10, state,
      { out: DataFrame => replayed += toSet(out); () })(
      b1.toDF("doc_id", "text"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not change the drift table")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming suffix ranks: snapshot equals batch on the prefix; ranks retro-correct; replay clean") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("sx-in")
    val state = tmpDir("sx-state")
    // batch 1's doc interleaves lexicographically with batch 0's
    // suffixes, so existing ranks MUST retro-correct in the snapshot
    val b0 = Seq((1L, "b a c"), (2L, "a c"))
    val b1 = Seq((3L, "a b"))
    def line(t: (Long, String)) =
      s"""{"doc_id":${t._1},"text":"${t._2}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[(Long, Long), Long]]()
    def toMapR(out: DataFrame): Map[(Long, Long), Long] =
      out.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMapR(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("sx-ckpt"))
      .foreachBatch(StreamingSuffix.foreachBatchSuffixRanks(state, sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    val batchAll = toMapR(graft.ops.SuffixArray.suffixRanks(
      (b0 ++ b1).toDF("doc_id", "text")))
    assert(snapshots(1) == batchAll,
      "streaming snapshot must equal the batch construction on the prefix")
    // retro-correction: doc 1's suffix "b a c" outranks differently
    // once doc 3's "a b"/"b" suffixes land between existing ones
    val changed = snapshots(0).keys.filter(k =>
      snapshots(1).get(k).exists(_ != snapshots(0)(k)))
    assert(changed.nonEmpty,
      s"new docs must shift existing ranks: ${snapshots(0)} vs ${snapshots(1)}")
    // replay batch 1: state partition rewrites, ranks identical
    val replayed = scala.collection.mutable.ArrayBuffer[Map[(Long, Long), Long]]()
    StreamingSuffix.foreachBatchSuffixRanks(state,
      { out: DataFrame => replayed += toMapR(out); () })(
      b1.toDF("doc_id", "text"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not change the rank table")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming unimax: allocations retro-correct as languages grow; snapshot equals batch; replay clean") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("um-in")
    val state = tmpDir("um-state")
    def docOf(k: Int): String = (1 to k).map(i => s"w$i").mkString(" ")
    // batch 0: aa 3×10 tokens, bb 1×30 — totals tie at 30, B = 4/5·60
    // = 48, both languages UNCAPPED at 24 each → aa admits docs 1,2 as
    // a boundary cut, doc 3 out; bb's single 30-token doc exceeds 24,
    // out. batch 1: bb grows to 90 → B = 96, aa flips to CAPPED(30) —
    // doc 3 is retro-ADMITTED (the mirror of the token twin's
    // eviction) — and bb becomes the uncapped budget-setter at 66
    val b0 = Seq((1L, "aa", docOf(10)), (2L, "aa", docOf(10)),
      (3L, "aa", docOf(10)), (10L, "bb", docOf(30)))
    val b1 = Seq((11L, "bb", docOf(30)), (12L, "bb", docOf(30)))
    def line(t: (Long, String, String)) =
      s"""{"doc_id":${t._1},"lang":"${t._2}","text":"${t._3}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("lang", "string").add("text", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Set[(Long, String, Long)]]()
    def toSet(out: DataFrame): Set[(Long, String, Long)] =
      out.select("doc_id", "admit", "lang_budget").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toSet(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("um-ckpt"))
      .foreachBatch(StreamingMixing.foreachBatchUnimax(
        budgetNum = 4L, budgetDen = 5L, epochCap = 1L,
        stateDir = state, bucketWidth = 4L, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0) == Set((1L, "boundary", 24L), (2L, "boundary", 24L)),
      s"both languages uncapped at 24 on the first prefix: ${snapshots(0)}")
    assert(snapshots(1) == Set(
      (1L, "grain", 30L), (2L, "grain", 30L), (3L, "grain", 30L),
      (10L, "boundary", 66L), (11L, "boundary", 66L)),
      s"aa must flip to capped and retro-admit doc 3: ${snapshots(1)}")
    val batchAll = toSet(graft.ops.Sampling.unimaxMix(
      (b0 ++ b1).toDF("doc_id", "lang", "text"),
      budgetNum = 4L, budgetDen = 5L, epochCap = 1L, bucketWidth = 4L))
    assert(snapshots(1) == batchAll,
      "streaming snapshot must equal the batch UniMax on the prefix")
    // replay batch 1: stats partition rewrites, result identical
    val replayed = scala.collection.mutable.ArrayBuffer[Set[(Long, String, Long)]]()
    StreamingMixing.foreachBatchUnimax(4L, 5L, 1L, state, 4L,
      { out: DataFrame => replayed += toSet(out); () })(
      b1.toDF("doc_id", "lang", "text"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not change the snapshot")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming anomalous hours: flag appears then clears as late data arrives") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("ah-in")
    val state = tmpDir("ah-state")
    // batch 0: five calm hours (p50=10) and one hot hour F (p50=1000)
    // → F flagged; batch 1 delivers F's late calm values → p50 falls
    // back to 10 and the flag must CLEAR (snapshot-replace semantics)
    val calm = Seq("A", "B", "C", "D", "E").map(h => ("t", h, 10.0))
    val b0 = calm :+ (("t", "F", 1000.0))
    val b1 = Seq(("t", "F", 10.0), ("t", "F", 10.0), ("t", "F", 10.0))
    def line(t: (String, String, Double)) =
      s"""{"g":"${t._1}","h":"${t._2}","v":${t._3}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("g", "string").add("h", "string").add("v", "double")
    val snapshots = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val sink: DataFrame => Unit = { out =>
      val r = out.collect().head
      snapshots.synchronized {
        snapshots += ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_outliers")))
      }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("ah-ckpt"))
      .foreachBatch(StreamingSketch.foreachBatchAnomalousHours(
        "g", "h", "v", stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0) == ((6L, 1L)), "hot hour must flag in batch 0")
    assert(snapshots(1) == ((6L, 0L)),
      "late calm data must clear the flag — snapshot-replace, not append")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming attribution: watermark finalization, late touch counted, state pruned") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("at-in")
    val state = tmpDir("at-state")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    val horizon = 60L * 60000000L  // 60 min in µs
    val lateness = 20L * 60000000L // 20 min
    // b0: a view touch and the purchase (pe=30) — watermark 30−20=10,
    //     purchase NOT finalizable yet
    // b1: a LATE click stamped t=20 (inside the purchase window,
    //     arriving after it) + activity at t=100 advancing the
    //     watermark to 80 → purchase finalizes WITH the late touch;
    //     a second purchase at t=95 stays pending
    val b0 = Seq((1L, 1L, t(0), "view"), (2L, 1L, t(30), "purchase"))
    val b1 = Seq((3L, 1L, t(20), "click"), (4L, 2L, t(100), "view"),
      (5L, 1L, t(95), "purchase"))
    def line(e: (Long, Long, java.sql.Timestamp, String)) =
      s"""{"event_id":${e._1},"user_id":${e._2},"ts":"${e._3}","event_type":"${e._4}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_id", "long").add("user_id", "long")
      .add("ts", "timestamp").add("event_type", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Long)]]()
    def toMap(out: DataFrame): Map[String, (Long, Long)] =
      out.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMap(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("at-ckpt"))
      .foreachBatch(StreamingAttribution.foreachBatchAttribution(
        horizon, lateness, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0).isEmpty, "nothing finalizable before the watermark")
    // purchase@30's window holds view@0 and the LATE click@20 → 5e11 each
    assert(snapshots(1) == Map(
      "view" -> ((1L, 500000000000L)), "click" -> ((1L, 500000000000L))))
    // pruning: watermark 80 − horizon 60 = 20 → view@0 dropped,
    // click@20 retained, view@100 retained, purchase@95 pending
    val pending = spark.read.parquet(s"$state/pending/batch-1")
      .select("event_id").as[Long].collect().toSet
    assert(pending == Set(3L, 4L, 5L),
      s"pending should prune below the horizon, got $pending")
    // replay batch 1: identical snapshot, byte-identical state rewrite
    val replayed = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Long)]]()
    StreamingAttribution.foreachBatchAttribution(horizon, lateness, state,
      sink = { out: DataFrame => replayed += toMap(out); () })(
      b1.toDF("event_id", "user_id", "ts", "event_type"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must not double-credit")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming survival: censored user converts later; snapshot equals batch KM") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("km-in")
    val state = tmpDir("km-state")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)
    // b0: u1 has only a view (censored at duration 0), u2 censored@20
    // b1: u1's purchase arrives (retro: censored → event@10), u3 full
    val b0 = Seq((1L, t(0), "view"), (2L, t(0), "view"), (2L, t(20), "click"))
    val b1 = Seq((1L, t(10), "purchase"), (3L, t(0), "view"),
      (3L, t(30), "purchase"))
    def line(e: (Long, java.sql.Timestamp, String)) =
      s"""{"user_id":${e._1},"ts":"${e._2}","event_type":"${e._3}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0.map(line).mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1.map(line).mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", "long").add("ts", "timestamp")
      .add("event_type", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long, Double)]]()
    def toSeq(out: DataFrame): Seq[(Long, Long, Long, Double)] =
      out.orderBy("t_min").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSeq
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toSeq(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("km-ckpt"))
      .foreachBatch(StreamingSurvival.foreachBatchKaplanMeier(
        "purchase", stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    assert(snapshots(0).isEmpty, "no conversions yet — empty curve")
    // final: events at 10 (risk 3) and 30 (risk 1, terminal zero)
    assert(snapshots(1) == Seq((10L, 3L, 1L, 0.6667), (30L, 1L, 1L, 0.0)))
    val batchAll = toSeq(graft.ops.TimeSeries.kaplanMeier(
      (b0 ++ b1).toDF("user_id", "ts", "event_type"), "purchase"))
    assert(snapshots(1) == batchAll,
      "streaming snapshot must equal the batch KM on the prefix")
    // replay batch 1: min/max/min algebra is idempotent
    val replayed = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long, Double)]]()
    StreamingSurvival.foreachBatchKaplanMeier("purchase", state,
      { out: DataFrame => replayed += toSeq(out); () })(
      b1.toDF("user_id", "ts", "event_type"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must merge to the identical curve")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming heavy hitters: summary carry holds SpaceSaving bounds, O(1) state files") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("hh-in")
    val state = tmpDir("hh-state")
    // per-batch distinct (12) fits the capacity (16), so each batch
    // summary is exact and the carry is deterministic; the cumulative
    // distinct (23) exceeds it, so the cross-batch merge trims
    val b0Keys = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ (0 until 10).map(i => s"t$i")
    val b1Keys = Seq.fill(2)("a") ++ Seq.fill(4)("c") ++ (10 until 20).map(i => s"t$i")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"),
      b0Keys.map(k => s"""{"k":"$k"}""").mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"),
      b1Keys.map(k => s"""{"k":"$k"}""").mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType().add("k", "string")
    val snapshots = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Long)]]()
    def toMap(out: DataFrame): Map[String, (Long, Long)] =
      out.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val sink: DataFrame => Unit = { out =>
      snapshots.synchronized { snapshots += toMap(out) }
      ()
    }
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("hh-ckpt"))
      .foreachBatch(StreamingHeavyHitters.foreachBatchHeavyHitters(
        col("k"), capacity = 16, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(snapshots.size == 2)
    // batch 0: 12 distinct keys, summary exact
    assert(snapshots(0)("a") == ((5L, 0L)) && snapshots(0)("b") == ((3L, 0L)))
    assert(snapshots(0).size == 12)
    // final: heavies carry exact certified counts across the merge;
    // the summary trimmed to capacity
    assert(snapshots(1)("a") == ((7L, 0L)), "a = 5 + 2 exact across batches")
    assert(snapshots(1)("c") == ((4L, 0L)) && snapshots(1)("b") == ((3L, 0L)))
    assert(snapshots(1).size == 16, "summary must trim to capacity")
    // SpaceSaving bounds vs true counts for every monitored key
    val trueCounts = (b0Keys ++ b1Keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    snapshots(1).foreach { case (k, (cnt, err)) =>
      val t = trueCounts(k)
      assert(t <= cnt && cnt - err <= t, s"bounds violated for $k")
    }
    // O(1) state: pruning keeps at most the predecessor + own file
    val files = new java.io.File(s"$state/summary").listFiles()
      .map(_.getName).filter(_.startsWith("batch-"))
    assert(files.length <= 2, s"state must stay O(1) files: ${files.toList}")
    // replay idempotence: re-running batch 1 reads batch-0 state and
    // emits the identical snapshot
    val replayed = scala.collection.mutable.ArrayBuffer[Map[String, (Long, Long)]]()
    StreamingHeavyHitters.foreachBatchHeavyHitters(col("k"), 16, state,
      { p: DataFrame => replayed += toMap(p); () })(
      b1Keys.toDF("k"), 1L)
    assert(replayed.head == snapshots(1),
      "a replayed micro-batch must emit the identical summary")
    graft.ops.Dedup.releaseCaches()
  }

  test("streaming per-group top-k: upserts equal the batch quota, late better docs evict") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val in = tmpDir("tk-in")
    val state = tmpDir("tk-state")
    def doc(i: Long, dom: String, q: Double): String =
      if (dom == null) s"""{"doc_id":$i,"domain":null,"quality":$q}"""
      else s"""{"doc_id":$i,"domain":"$dom","quality":$q}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.jsonl"), Seq(
      doc(1, "x.com", 0.9), doc(2, "x.com", 0.5), doc(3, "x.com", 0.3),
      doc(4, "y.org", 0.4), doc(8, null, 0.3)).mkString("\n").getBytes)
    // batch 1: a BETTER x.com doc (evicts doc 2), a new group, and a
    // null-domain doc (the null quota pool must recompute null-safely)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.jsonl"), Seq(
      doc(5, "x.com", 0.7), doc(6, "z.net", 0.2), doc(7, null, 0.5))
      .mkString("\n").getBytes)
    new java.io.File(s"$in/a.jsonl").setLastModified(System.currentTimeMillis() - 60000)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("domain", "string").add("quality", "double")
    val kept = scala.collection.mutable.Map[Option[String], Set[Long]]()
    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Option[String], Long)]]()
    def collectRows(out: DataFrame): Seq[(Option[String], Long)] =
      out.collect().map(r => (Option(r.getAs[String]("domain")),
        r.getAs[Long]("doc_id"))).toSeq
    val sink: DataFrame => Unit = { out =>
      val rows = collectRows(out)
      kept.synchronized {
        perBatch += rows.toSet
        rows.groupBy(_._1).foreach { case (d, rs) => kept(d) = rs.map(_._2).toSet }
      }
      ()
    }
    val rankKey = struct(negate(col("quality")), col("doc_id"))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream
      .option("checkpointLocation", tmpDir("tk-ckpt"))
      .foreachBatch(StreamingTopK.foreachBatchTopK(
        "domain", rankKey, k = 2, stateDir = state, sink = sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(perBatch.size == 2)
    // upserted sink state == batch topKPerGroup over the concatenation
    val all = Seq(
      (1L, Some("x.com"), 0.9), (2L, Some("x.com"), 0.5),
      (3L, Some("x.com"), 0.3), (4L, Some("y.org"), 0.4),
      (8L, Option.empty[String], 0.3), (5L, Some("x.com"), 0.7),
      (6L, Some("z.net"), 0.2), (7L, Option.empty[String], 0.5))
      .toDF("doc_id", "domain", "quality")
    val exp = graft.ops.Sampling.topKPerGroup(all, "domain", rankKey, 2)
      .collect().map(r => (Option(r.getAs[String]("domain")), r.getAs[Long]("doc_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    graft.ops.Dedup.releaseCaches()
    assert(kept.toMap == exp, s"stream=$kept batch=$exp")
    // the retro EVICTION happened: batch 0 admitted {1, 2} for x.com,
    // batch 1 re-emits x.com as {1, 5} — wholesale replace drops doc 2
    assert(perBatch(0).filter(_._1.contains("x.com")).map(_._2) == Set(1L, 2L))
    assert(perBatch(1).filter(_._1.contains("x.com")).map(_._2) == Set(1L, 5L))
    // groups absent from the batch never re-emit (emission is
    // batch-bounded, not history-sized)
    assert(!perBatch(1).exists(_._1.contains("y.org")),
      s"unaffected group re-emitted: ${perBatch(1)}")
    assert(kept(None) == Set(7L, 8L), "null group is a recomputed quota pool")
    // replay idempotence: re-running batch 1 emits identical rows
    val batch1 = all.filter(col("doc_id").isin(5L, 6L, 7L))
    val replayed = scala.collection.mutable.ArrayBuffer[(Option[String], Long)]()
    StreamingTopK.foreachBatchTopK("domain", rankKey, 2, state,
      { p: DataFrame => replayed ++= collectRows(p); () })(batch1, 1L)
    assert(replayed.toSet == perBatch(1),
      "a replayed micro-batch must emit identical rows")
    // an empty micro-batch must neither crash the state read nor emit
    val emptied = scala.collection.mutable.ArrayBuffer[(Option[String], Long)]()
    StreamingTopK.foreachBatchTopK("domain", rankKey, 2, state,
      { p: DataFrame => emptied ++= collectRows(p); () })(all.limit(0), 2L)
    assert(emptied.isEmpty, "an empty batch must emit nothing")
    graft.ops.Dedup.releaseCaches()
  }
}
