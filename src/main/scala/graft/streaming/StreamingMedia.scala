package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.ops.Multimodal

/** Streaming media metadata extraction — the ingest half of the
  * multimodal pipeline: a media crawl arrives continuously, and each
  * micro-batch of (media_id, payload, meta) rows is decoded by the
  * stateless [[graft.ops.Multimodal.JdkMediaDecoder]] dispatch
  * (ImageIO pixels, WAV via javax.sound, MP3/MP4 byte walks) into
  * narrow typed feature rows in the metadata store — the pre-decode
  * gate table (resolution/duration caps, corrupt-file rejection,
  * `decoder` provenance filters) that downstream curation reads
  * WITHOUT ever touching payload bytes again.
  *
  * Exactly-once layout is the [[StreamingClf]]/[[StreamingBpe]]
  * contract verbatim: each batch overwrites its own `batch_id=<id>`
  * partition; decoding is a pure function of payload bytes, so a
  * checkpoint replay rewrites identical rows instead of duplicating.
  *
  * Scale shape is inherited from [[graft.ops.Multimodal
  * .extractFeatures]]: blobs never leave their arrival partition (one
  * decoder instance per task decodes in place), and only the narrow
  * feature rows are written — the payload column never crosses a
  * shuffle or lands in the metadata store.
  */
object StreamingMedia {

  /** The shared `foreachBatch` body: `rows` of each micro-batch
    * overwrite that batch's own `batch_id=<id>` partition under
    * `path`, so a checkpoint replay rewrites identical rows. */
  private def appender(path: String)(
      rows: DataFrame => Dataset[_]): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      rows(batch).toDF().write.mode("overwrite")
        .parquet(s"$path/batch_id=$batchId")

  /** `foreachBatch` body decoding each micro-batch of media rows. */
  def metaAppender(metaPath: String): (DataFrame, Long) => Unit =
    appender(metaPath)(Multimodal.extractFeatures(_, Multimodal.JdkMediaDecoder))

  /** `foreachBatch` body building the keyframe SEEK INDEX per
    * micro-batch ([[graft.ops.Multimodal.keyframeIndex]] — `stss` +
    * `avcC`/`hvcC` box walks): the loader-side random-access map for
    * inter-frame video lands in the metadata store incrementally as
    * shards arrive, same stateless exactly-once layout as
    * [[metaAppender]] (the walk is a pure function of payload bytes,
    * so checkpoint replay rewrites identical rows). */
  def keyframeAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.keyframeIndex)

  /** `foreachBatch` body extracting TRUE coded dimensions per
    * micro-batch ([[graft.ops.Multimodal.spsIndex]] — the SPS NAL's
    * exp-Golomb bitstream, r15): the container-vs-bitstream
    * `dims_match` gate lands in the metadata store incrementally,
    * same stateless exactly-once layout as [[metaAppender]]. */
  def spsAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.spsIndex)

  /** `foreachBatch` body decoding per-sample FRAME TYPES per
    * micro-batch ([[graft.ops.Multimodal.frameTypeIndex]] — slice
    * header exp-Golomb walk, r15): the GOP-structure audit
    * (`sync_consistent` container-lie gate) lands in the metadata
    * store incrementally, same stateless exactly-once layout as
    * [[metaAppender]]. */
  def frameTypeAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.frameTypeIndex)

  /** `foreachBatch` body walking FRAGMENTED MP4s per micro-batch
    * ([[graft.ops.Multimodal.fragmentIndex]] — tfhd/trun sample
    * tables + slice frame types, r15): live DASH/CMAF shards land in
    * the metadata store as they arrive, same stateless exactly-once
    * layout as [[metaAppender]]. */
  def fragmentAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.fragmentIndex)

  /** `foreachBatch` body auditing DASH/CMAF SEGMENT TIMELINES per
    * micro-batch ([[graft.ops.Multimodal.timelineIndex]] — sidx/tfdt
    * vs accumulated trun durations, r16): the "does the segment
    * timeline lie" gate lands incrementally as shards arrive, same
    * stateless exactly-once layout as [[metaAppender]]. */
  def timelineAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.timelineIndex)

  /** `foreachBatch` body auditing MUXED MULTI-TRACK fMP4 decode
    * clocks per micro-batch ([[graft.ops.Multimodal
    * .trackTimelineIndex]] — per-track tfdt vs per-track accumulated
    * durations, r18): same stateless exactly-once layout as
    * [[metaAppender]]. */
  def trackTimelineAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.trackTimelineIndex)

  /** `foreachBatch` body auditing WebM/Matroska SimpleBlocks per
    * micro-batch ([[graft.ops.Multimodal.webmIndex]] — EBML walk +
    * VP9 keyframe-claim cross-check, r16): same stateless
    * exactly-once layout as [[metaAppender]]. */
  def webmAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.webmIndex)

  /** `foreachBatch` body auditing WebM SEEK TABLES per micro-batch
    * ([[graft.ops.Multimodal.webmCuesIndex]] — Cues/CuePoint claims
    * vs actual cluster layout + DefaultDuration vs measured cadence,
    * r18): same stateless exactly-once layout as [[metaAppender]]. */
  def webmCuesAppender(indexPath: String): (DataFrame, Long) => Unit =
    appender(indexPath)(Multimodal.webmCuesIndex)
}
