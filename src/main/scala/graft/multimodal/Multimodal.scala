package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column support: images/audio/video as opaque BINARY columns
  * with typed metadata (SURVEY.md north star, training-data-pipeline ops).
  *
  * The Spark-side plumbing is real — schema, partition-wise batch decode,
  * typed output — while the codec itself is a clearly-marked deterministic
  * STUB ([[StubCodec]]): the actual image/audio libraries are not in this
  * container. Swapping `StubCodec.decode` for a real decoder (e.g. javacpp
  * ffmpeg) changes no plan shape: the decode runs inside `mapPartitions`,
  * batched per partition, never on the driver.
  */
object Multimodal {

  /** A decoded media asset's typed metadata. */
  case class MediaMeta(doc_id: Long, n_bytes: Long, first_byte: Int,
                       width: Int, height: Int, ok: Boolean)

  /** STUB codec — deterministic fake. A real build replaces `decode` with a
    * library call; the signature (bytes in, structured meta out) and the
    * batch shape (iterator-to-iterator per partition) are the contract.
    */
  object StubCodec {
    def decode(payload: Array[Byte]): (Int, Int, Boolean) = {
      // Fake "dimensions" derived deterministically from content.
      if (payload.isEmpty) (0, 0, false)
      else ((payload.length % 640) + 1, (payload.head & 0x7f) + 1, true)
    }
  }

  /** Attach a binary payload column to a text corpus (the fixture corpus has
    * no real media, so the payload is the UTF-8 encoding of the text —
    * an opaque stand-in with the same schema a real pipeline would carry).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "UTF-8"))

  /** Difference-hash fingerprint of a binary payload (the mm5 gate):
    * `bits`+1 evenly-spaced byte probes o_i = ⌊i·(n−1)/bits⌋, bit i set
    * iff probe_i > probe_{i+1} — the dHash recipe (gradient SIGNS survive
    * uniform brightness/volume shifts, which is why perceptual pipelines
    * prefer them to raw-byte bits), applied to the opaque payload the way
    * a real build applies it to a decoded luminance grid. Emitted with the
    * SimHash column convention (`simhash\$bits`) so the banded pair
    * machinery ([[graft.operators.SimHashOps.fingerprintPairs]]) rides
    * unchanged. The 16-bit default mirrors l14's replayable-width
    * convention (the fixture payloads cluster usefully there; a real
    * image pipeline runs 64). Iterator-to-iterator typed mapPartitions
    * like the other mm gates — binary byte access is codec plumbing, not
    * a Catalyst expression. Empty payloads emit nothing (no media, no
    * fingerprint — the [[frameSample]] convention).
    */
  def dHash(docsWithPayload: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64]; got $bits")
    val spark = docsWithPayload.sparkSession
    import spark.implicits._
    docsWithPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = bytes.length
          if (n == 0) Iterator.empty
          else {
            var fp = 0L
            var i = 0
            while (i < bits) {
              val a = bytes(((i.toLong * (n - 1)) / bits).toInt) & 0xff
              val b = bytes((((i + 1).toLong * (n - 1)) / bits).toInt) & 0xff
              if (a > b) fp |= (1L << i)
              i += 1
            }
            Iterator((id, n.toLong, fp))
          }
        }
      }
      .toDF("doc_id", "n_bytes", s"simhash$bits")
  }

  /** One sampled "frame" of a media payload: position and content probe. */
  case class FrameMeta(doc_id: Long, frame_idx: Int, frame_off: Long,
                       frame_byte: Int)

  /** Frame sampling: pick `frames` evenly-spaced byte offsets per payload
    * (off_i = ⌊i·(n−1)/(k−1)⌋ — first and last always included) and emit
    * one typed row per frame. This is the video-keyframe / audio-chunk
    * sampling shape: a flatMap inside `mapPartitions`, iterator-to-
    * iterator, 1→k row expansion executed entirely distributed. A real
    * build replaces the byte probe with a codec frame-extract; the
    * offsets, batching, and typed 1→k output schema are the contract.
    */
  def frameSample(docsWithPayload: DataFrame, frames: Int = 4): Dataset[FrameMeta] = {
    val spark = docsWithPayload.sparkSession
    import spark.implicits._
    docsWithPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val n = bytes.length
          if (n == 0) Iterator.empty
          else {
            val k = math.min(frames, n)
            (0 until k).iterator.map { i =>
              val off = if (k == 1) 0L else i.toLong * (n - 1) / (k - 1)
              FrameMeta(id, i, off, bytes(off.toInt) & 0xff)
            }
          }
        }
      }
  }

  /** A "resized" asset's typed metadata: target dims + a content digest
    * of the transformed payload (stands in for the resized bytes).
    */
  case class ResizeMeta(doc_id: Long, src_w: Int, src_h: Int,
                        dst_w: Int, dst_h: Int, digest: Long)

  /** Resize: decode (stub) → aspect-preserving fit into maxW×maxH →
    * transform payload (stub: samples one byte per destination column —
    * the strided-access pattern a real scaler has) → digest. Completes
    * the decode / frame-sample / resize multimodal batch family; a real
    * build swaps the two stub steps for codec calls, the distributed
    * iterator-to-iterator shape and typed output schema stay.
    */
  def resize(docsWithPayload: DataFrame, maxW: Int = 64, maxH: Int = 64): Dataset[ResizeMeta] = {
    val spark = docsWithPayload.sparkSession
    import spark.implicits._
    docsWithPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (w, h, ok) = StubCodec.decode(bytes)
          if (!ok) Iterator.empty
          else {
            // Integer aspect-preserving fit: scale = min(maxW/w, maxH/h)
            // in 1e6 fixed-point, exact in SQL for the oracle replay.
            val s = math.min(maxW.toLong * 1000000L / w, maxH.toLong * 1000000L / h)
            val sc = math.min(s, 1000000L) // never upscale
            val dw = math.max(1L, w * sc / 1000000L).toInt
            val dh = math.max(1L, h * sc / 1000000L).toInt
            var dig = 0L
            var x = 0
            while (x < dw) {
              val off = (x.toLong * (bytes.length - 1) / math.max(1, dw - 1)).toInt
              dig = (dig * 31 + (bytes(off) & 0xff)) % 1000000007L
              x += 1
            }
            Iterator.single(ResizeMeta(id, w, h, dw, dh, dig))
          }
        }
      }
  }

  /** One probed patch of a decoded asset's patch grid: grid coordinates
    * plus a content probe at the patch's scaled payload offset.
    */
  case class PatchMeta(doc_id: Long, patch_idx: Int, px: Int, py: Int,
                       n_patches: Int, probe_byte: Int)

  /** Patch-grid extraction (the ViT tokenizer shape): decode (stub) →
    * ⌈w/P⌉×⌈h/P⌉ patch grid → `probes` evenly-spaced patches probed, one
    * typed row each (linear index → (px, py), byte probe at the index
    * scaled into the payload). A real build replaces the byte probe with
    * the patch tensor crop; the grid arithmetic, the 1→k distributed
    * expansion, and the typed output schema are the contract.
    */
  def patchGrid(docsWithPayload: DataFrame, patch: Int = 16,
                probes: Int = 4): Dataset[PatchMeta] = {
    val spark = docsWithPayload.sparkSession
    import spark.implicits._
    docsWithPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (w, h, ok) = StubCodec.decode(bytes)
          if (!ok) Iterator.empty
          else {
            val gw = (w + patch - 1) / patch
            val gh = (h + patch - 1) / patch
            val np = gw * gh
            val k = math.min(probes, np)
            (0 until k).iterator.map { i =>
              val lin = if (k == 1) 0 else i * (np - 1) / (k - 1)
              val off = (lin.toLong * (bytes.length - 1) /
                         math.max(1, np - 1)).toInt
              PatchMeta(id, i, lin % gw, lin / gw, np, bytes(off) & 0xff)
            }
          }
        }
      }
  }

  /** Partition-wise batched decode: binary payloads → typed metadata.
    * Runs distributed, iterator-to-iterator (no per-row JVM churn, no
    * driver collect) — the shape a real GPU/codec batch step needs.
    */
  def decodeMeta(docsWithPayload: DataFrame): Dataset[MediaMeta] = {
    val spark = docsWithPayload.sparkSession
    import spark.implicits._
    docsWithPayload.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, ok) = StubCodec.decode(bytes)
          MediaMeta(id, bytes.length.toLong,
                    if (bytes.isEmpty) -1 else bytes.head & 0xff, w, h, ok)
        }
      }
  }
}
