package graft.features

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata (builder brief).
  *
  * The actual media decode is STUBBED — this container ships no image/
  * audio codecs beyond ImageIO (which [[ImageFeatures]] uses for real
  * PNG decoding) — via a deterministic fake decoder. Everything
  * AROUND the stub is real and tested: the schema, the binary column
  * plumbing, the per-partition batch shape (decoder initialized once per
  * partition, the JVM twin of a Pandas-UDF/mapInPandas batch), and the
  * frame-sampling explode.
  */
object Multimodal {

  final case class Media(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, n_bytes: Int, format: String,
      width: Int, height: Int, n_frames: Int)
  final case class Frame(doc_id: Long, frame_idx: Int, byte_offset: Long)

  /** Magic-byte format sniff (real). */
  def sniffFormat(payload: Array[Byte]): String = {
    def startsWith(sig: Array[Int]): Boolean =
      payload.length >= sig.length &&
        sig.indices.forall(i => (payload(i) & 0xff) == sig(i))
    if (startsWith(Array(0x89, 0x50, 0x4e, 0x47))) "png"
    else if (startsWith(Array(0xff, 0xd8, 0xff))) "jpeg"
    else if (startsWith(Array(0x47, 0x49, 0x46))) "gif"
    else if (startsWith(Array(0x52, 0x49, 0x46, 0x46))) "riff"
    else "unknown"
  }

  /** Real decode for the formats the JVM ships codecs for (PNG/JPEG/GIF
    * via ImageIO): width/height from the actual bitstream, single frame.
    * None for undecodable/other payloads — the caller falls back to the
    * stub. */
  def imageIoDecode(payload: Array[Byte]): Option[(Int, Int, Int)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      Option(img).map(i => (i.getWidth, i.getHeight, 1))
    } catch {
      // ImageIO readers throw RuntimeExceptions (ArrayIndexOutOfBounds,
      // NegativeArraySize, IllegalArgument, ...) on malformed payloads
      // that pass the magic-byte sniff — any decoder failure must fall
      // back to the stub rather than kill the whole Spark task.
      case scala.util.control.NonFatal(_) => None
    }

  /** STUB decoder: deterministic fake dimensions/frame-count derived
    * from payload bytes. A real deployment swaps only this function for
    * a codec call; the dataflow around it is unchanged. */
  def stubDecode(payload: Array[Byte]): (Int, Int, Int) = {
    var h = 1125899906842597L
    var i = 0
    val n = math.min(payload.length, 256)
    while (i < n) { h = 31 * h + payload(i); i += 1 }
    val w = 32 + math.floorMod(h, 448).toInt
    val ht = 32 + math.floorMod(h >> 9, 320).toInt
    val frames = 1 + math.floorMod(h >> 18, 64).toInt
    (w, ht, frames)
  }

  private val ImageIoFormats = Set("png", "jpeg", "gif")

  /** Batch-shaped metadata extraction: mapPartitions so any expensive
    * decoder state is initialized once per partition, not per row.
    * Image payloads go through the real ImageIO decoder; only formats
    * with no JVM codec (riff audio/video containers, unknown blobs)
    * fall back to the deterministic stub. */
  def decodeMeta(media: Dataset[Media]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (e.g. codec context)
      it.map { m =>
        val fmt = sniffFormat(m.payload)
        val (w, h, f) =
          (if (ImageIoFormats(fmt)) imageIoDecode(m.payload) else None)
            .getOrElse(stubDecode(m.payload))
        MediaMeta(m.doc_id, m.payload.length, fmt, w, h, f)
      }
    }
  }

  /** Resize plan (stub): pure metadata transform preserving aspect fit —
    * the real version would re-encode payloads in the same mapPartitions
    * shape. */
  def resizeMeta(meta: Dataset[MediaMeta], maxSide: Int): Dataset[MediaMeta] = {
    import meta.sparkSession.implicits._
    meta.map { m =>
      val scale = math.min(1.0, maxSide.toDouble / math.max(m.width, m.height))
      m.copy(width = math.max(1, (m.width * scale).toInt),
        height = math.max(1, (m.height * scale).toInt))
    }
  }

  /** Frame sampling: every `everyN`-th frame as (doc_id, frame_idx,
    * fake byte offset) — a Generator-style explode; distributed row
    * expansion, no driver loops. */
  def sampleFrames(meta: Dataset[MediaMeta], everyN: Int): Dataset[Frame] = {
    import meta.sparkSession.implicits._
    meta.flatMap { m =>
      (0 until m.n_frames by everyN).map(i =>
        Frame(m.doc_id, i, i.toLong * math.max(1, m.n_bytes / math.max(1, m.n_frames))))
    }
  }

  /** Documents-table adapter: treat text bytes as the opaque payload
    * (the testdata carries no real media; same shape end to end). */
  def fromDocuments(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[Media]
  }
}
