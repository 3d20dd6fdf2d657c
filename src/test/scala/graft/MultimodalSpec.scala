package graft

import graft.ops.MultimodalOps
import graft.ops.MultimodalOps.Media

/** E5 multimodal plumbing: binary schema, partition-wise transforms,
  * fixed output shapes, frame fan-out.
  */
class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  private def media(rows: (Long, String)*) =
    rows.map { case (id, s) => Media(id, s.getBytes("UTF-8")) }.toDS()

  test("resize pads short and truncates long payloads to the exact shape") {
    val out = MultimodalOps.resize(media((1L, "ab"), (2L, "abcdefgh")), 4)
      .collect().sortBy(_.doc_id)
    assert(out(0).payload.toSeq == Seq('a'.toByte, 'b'.toByte, 0.toByte, 0.toByte))
    assert(out(1).payload.toSeq == "abcd".getBytes("UTF-8").toSeq)
  }

  test("sampleFrames keeps every k-th fixed-size block with its index") {
    val out = MultimodalOps.sampleFrames(media((1L, "aabbccdd")), 2, 2)
      .orderBy("frame_idx")
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 2L)) // frames 0 and 2 of 4
    assert(new String(out(0).getAs[Array[Byte]]("frame")) == "aa")
    assert(new String(out(1).getAs[Array[Byte]]("frame")) == "cc")
  }

  test("perceptualHash64: exact dup → Hamming 0, near-dup edit → small, unrelated → large") {
    import graft.ops.DedupOps
    val base = ("the quick brown fox jumps over the lazy dog " * 6).trim
    // near-dup: one word substituted mid-payload — sampling offsets shift
    // by at most one byte, so most of the 64 sampled bytes are unchanged
    val nearDup = base.replaceFirst("lazy", "hazy")
    val other = ("entirely different payload bytes with other content! " * 5).trim
    val hashes = MultimodalOps
      .perceptualHash64(media((1L, base), (2L, base), (3L, nearDup), (4L, other)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    assert(ham(1, 2) == 0, "identical payloads must hash identically")
    assert(ham(1, 3) <= 8, s"one-word edit should stay in the dedup radius, got ${ham(1, 3)}")
    assert(ham(1, 4) > 8, s"unrelated payloads must not look like near-dups, got ${ham(1, 4)}")
    // the q199 banding invariant: a pair at Hamming <= 8 with the 8 flips
    // spread over <= 3 of the 4 bands shares at least one exact band
    val bands = (0 until 4).map(b => ((hashes(1L) >> (16 * b)) & 0xFFFFL,
      (hashes(3L) >> (16 * b)) & 0xFFFFL))
    assert(bands.exists(p => p._1 == p._2), "near-dup pair must share a band bucket")
  }
}
