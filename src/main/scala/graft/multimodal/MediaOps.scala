package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus the
  * Spark-side plumbing (schema, partitioning, batch shape) for
  * decode / feature-extract / frame-sample stages.
  *
  * The actual codecs are NOT in this container, so `stubDecodeFeatures`
  * is a clearly-marked deterministic fake (hash-derived vector of the
  * right shape); the pipeline structure around it — sizing/bucketing by
  * payload size, batched per-partition processing, metadata projection —
  * is real and tested. Swap `decodeBatch` for a JNI/FFI codec at
  * deployment; nothing else changes.
  */
object MediaOps {

  /** Typed metadata carried next to every payload. */
  final case class MediaMeta(mime: String, width: Int, height: Int,
      durationMs: Long)

  final case class MediaRow(media_id: Long, kind: String,
      bytes: Array[Byte], meta: MediaMeta)

  final case class MediaFeatures(media_id: Long, kind: String,
      features: Array[Float])

  val FeatureDim = 32

  /** STUB — deterministic fake decoder: features derived from the payload
    * hash, NOT from real pixels/samples. Replace with a real codec; keep
    * the signature (batch in → batch out) — it is the contract the
    * per-partition runner depends on. */
  private def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { r =>
      val h0 = java.util.Arrays.hashCode(r.bytes).toLong
      val fs = Array.tabulate(FeatureDim) { i =>
        val h = h0 * 6364136223846793005L + i * 1442695040888963407L
        ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat
      }
      MediaFeatures(r.media_id, r.kind, fs)
    }

  /** Batched per-partition decode (the Scala analog of mapInPandas's
    * batch shape): payload-size-aware micro-batches bound peak memory per
    * task regardless of row sizes — a 100 MB video and a 10 KB thumbnail
    * can share a partition without OOM. */
  def decodeFeatures(media: Dataset[MediaRow], maxBatchBytes: Long = 64L << 20)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { it =>
      new Iterator[Seq[MediaFeatures]] {
        def hasNext: Boolean = it.hasNext
        def next(): Seq[MediaFeatures] = {
          val buf = scala.collection.mutable.ArrayBuffer[MediaRow]()
          var bytes = 0L
          while (it.hasNext && (buf.isEmpty || bytes < maxBatchBytes)) {
            val r = it.next(); buf += r; bytes += r.bytes.length
          }
          decodeBatch(buf.toSeq)
        }
      }.flatMap(identity)
    }
  }

  /** Frame-sample plan for video payloads: one row per sampled frame
    * timestamp (pure plumbing — the decode of each frame goes through the
    * same stub seam). */
  def frameSamplePlan(media: DataFrame, fps: Double): DataFrame = {
    // ceil: any nonzero duration samples at least its first frame (a 5 ms
    // clip at 1 fps is still one frame at ts 0), while zero-duration media
    // (images, corrupt probes) sample ZERO frames — explode of an empty
    // array drops the row; the old greatest(0, n-1) clamp emitted a
    // phantom frame_idx-0 row for them
    val frameCount = ceil(col("meta.durationMs") * fps / 1000.0).cast("long")
    media.select(col("media_id"),
        explode(when(frameCount > 0, sequence(lit(0L), frameCount - 1))
          .otherwise(array().cast("array<bigint>")))
          .as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * (1000.0 / fps)).cast("long").as("ts_ms"))
  }

  /** Deterministic synthetic media table for tests (payload bytes are a
    * pure function of id). */
  def syntheticMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val kind = Seq("image", "audio", "video")((i % 3).toInt)
      val len = 64 + (i * 37 % 1024).toInt
      val bytes = Array.tabulate(len)(j => ((i * 31 + j * 7) % 256).toByte)
      MediaRow(i, kind,
        bytes, MediaMeta(s"x/$kind", (i % 640).toInt, (i % 480).toInt, i % 60000))
    }
  }
}
