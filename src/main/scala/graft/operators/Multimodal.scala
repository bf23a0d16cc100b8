package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.sources.CrawlCorpus.splitmix64

/** A multimodal asset row: media treated as an opaque binary column with
  * typed metadata, exactly as a 100 TB training-data pipeline stores
  * image/audio/video alongside text. */
final case class MediaRow(
    media_id: Long,
    url: String,
    kind: String, // "image" | "audio" | "video"
    bytes: Array[Byte]
)

/** Decoded/derived features. The decode itself is STUBBED (no codec library
  * is a dependency); the Spark-side plumbing — schema, typed Dataset
  * transform, deterministic output — is real and run by q28 and q29.
  * A production deployment swaps `decodeStub` for a real codec
  * (JavaCPP/FFmpeg or an Arrow-batched Python worker) without touching the
  * plan shape. */
final case class MediaFeatures(
    media_id: Long,
    url: String,
    kind: String,
    n_bytes: Long,
    content_hash: Long,
    width: Int,     // stub-decoded
    height: Int,    // stub-decoded
    n_frames: Int,  // stub-decoded (1 for images)
    embedding: Seq[Float] // stub feature vector, dim 8
)

object Multimodal {

  /** FNV-1a over the payload: the content identity every feature row
    * carries, and the seed of the stub decode. */
  def contentHash(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Deterministic fake decode: dimensions and an 8-dim feature vector
    * derived from the payload's [[contentHash]] `h`. Marker for the real
    * codec, which reads the payload bytes instead. */
  def decodeStub(kind: String, h: Long): (Int, Int, Int, Seq[Float]) = {
    val w = 64 + (math.abs(splitmix64(h ^ 1)) % 1024).toInt
    val ht = 64 + (math.abs(splitmix64(h ^ 2)) % 1024).toInt
    val frames = kind match {
      case "image" => 1
      case "audio" => 1 + (math.abs(splitmix64(h ^ 3)) % 4096).toInt
      case _       => 1 + (math.abs(splitmix64(h ^ 4)) % 512).toInt
    }
    val emb = (0 until 8).map { d =>
      ((splitmix64(h ^ (100 + d)) % 1000L).toFloat / 1000.0f)
    }
    (w, ht, frames, emb)
  }

  /** Feature extraction as a typed mapPartitions (the Scala analogue of a
    * mapInPandas batch UDF): map-local, shuffle-free; the binary column is
    * pruned at the scan when downstream selects drop it. */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.bytes == null) Array.emptyByteArray else row.bytes
        val hash = contentHash(bytes)
        val (w, h, frames, emb) = decodeStub(row.kind, hash)
        MediaFeatures(row.media_id, row.url, row.kind, bytes.length.toLong,
          hash, w, h, frames, emb)
      }
    }
  }

  /** Deterministic synthetic media table (payload = hashed filler bytes). */
  def synthMedia(spark: org.apache.spark.sql.SparkSession, n: Long, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    val kinds = Array("image", "audio", "video")
    spark.range(0, n, 1, math.max(spark.sparkContext.defaultParallelism, 1)).map { id =>
      val k = kinds((id % 3).toInt)
      val len = 256 + (math.abs(splitmix64(seed ^ id)) % 4096).toInt
      val bytes = Array.tabulate[Byte](len)(i => (splitmix64(seed ^ id ^ (i * 0x9e37L)) & 0xff).toByte)
      MediaRow(id, s"test://media/$id.$k", k, bytes)
    }
  }

  /** Frame-sampling plumbing demo: one row per sampled frame index —
    * a Generator (explode) over the stub-decoded frame count. */
  def sampleFrames(features: Dataset[MediaFeatures], everyN: Int = 30): DataFrame = {
    val maxIdx = greatest(floor((col("n_frames") - 1) / lit(everyN.toDouble)).cast("int"), lit(0))
    features.toDF().select(col("media_id"), col("kind"), col("n_frames"),
        explode(sequence(lit(0), maxIdx)).as("sample_idx"))
      .select(col("media_id"), col("kind"), col("n_frames"),
        (col("sample_idx") * everyN).as("frame_idx"))
  }
}
