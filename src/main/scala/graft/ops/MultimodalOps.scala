package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (E5): image/audio/video payloads are opaque
  * `binary` columns with typed metadata; the decode step is a clearly
  * marked deterministic STUB (media codecs aren't in this container —
  * build brief §multimodal), while the Spark side — binary schema,
  * partition-wise batch processing, no driver collects — is real.
  *
  * Each transform is a partition-wise Dataset map over (id, payload),
  * so a real decoder drops in inside the transform that needs it.
  */
object MultimodalOps {

  case class Media(doc_id: Long, payload: Array[Byte])

  /** "Resize": truncate/zero-pad every payload to `bytes` — the byte-level
    * stand-in for image resize (fixed output shape per row).
    */
  def resize(media: Dataset[Media], bytes: Int): Dataset[Media] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => Media(m.doc_id, m.payload.padTo(bytes, 0.toByte).take(bytes))))
  }

  /** "Frame-sample": every k-th `frameBytes`-sized block — the video
    * frame-sampling shape (per-row fan-out to multiple frames).
    */
  def sampleFrames(media: Dataset[Media], frameBytes: Int, every: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      m.payload.grouped(frameBytes).zipWithIndex
        .filter(_._2 % every == 0)
        .map { case (frame, idx) => (m.doc_id, idx.toLong, frame) }
    }.toDF("doc_id", "frame_idx", "frame")
  }

  /** 64-bit block-sample perceptual hash over the binary payload — the
    * media-dedup twin of DedupOps.simhash64, computed inside the decode
    * path (this is where a real image pipeline would hash the decoded
    * pixel grid; the byte-level stand-in keeps the math deterministic and
    * oracle-replayable). Resize is by NEAREST-NEIGHBOR SAMPLING — byte
    * s_j at offset floor(j·len/64), j = 0..63 — not zero-padding: padding
    * would give every short payload an identical all-zero tail, so whole
    * Hamming bands would collide corpus-wide and the band buckets would
    * degenerate toward all-pairs (measured: 12.5% of all pairs become
    * candidates with padding vs 0.5% with sampling). Bit j is then the
    * block-mean test of classic aHash, in exact integer form:
    * 64·s_j > Σs (strict), so no float compare can diverge cross-engine.
    * A small edit shifts sample offsets slightly → most sampled bytes
    * keep their value → near-dups land within a small Hamming radius.
    */
  def perceptualHash64(media: Dataset[Media]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val len = m.payload.length
      require(len > 0, s"perceptualHash64: empty payload for doc ${m.doc_id}")
      val s = Array.tabulate(64)(j =>
        java.lang.Byte.toUnsignedInt(m.payload((j.toLong * len / 64).toInt)))
      val total = s.foldLeft(0L)(_ + _)
      var h = 0L
      var j = 0
      while (j < 64) { if (64L * s(j) > total) h |= (1L << j); j += 1 }
      (m.doc_id, h)
    }).toDF("doc_id", "phash")
  }

  /** documents.text as a binary payload table (the harness corpus has no
    * real media blobs — TESTDATA.md).
    */
  def mediaFromDocuments(docs: DataFrame): Dataset[Media] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")).as[Media]
  }
}
