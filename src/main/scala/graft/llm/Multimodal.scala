package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal (image/audio/video) column plumbing (north-star
  * extension): media as opaque `binary` columns with typed metadata,
  * decode and feature extraction as batched per-partition transforms.
  *
  * The actual codecs are STUBBED — this container has no image/audio
  * libraries — behind [[MediaCodec.decodeStub]], a deterministic fake
  * that derives "decoded" properties from the raw bytes. Everything
  * around the stub is real and load-bearing: the binary-column schema,
  * the typed `Dataset[MediaRow]` encoding, the fixed-size batch shape
  * (`mapPartitions` over batches, mirroring Arrow-batch UDF execution),
  * and the partition-parallel execution — swap `decodeStub` for a real
  * codec and the pipeline is production-shaped. At 100 TB the media
  * table is size-partitioned parquet; nothing here touches the driver.
  */
object Multimodal {

  case class MediaMeta(width: Int, height: Int, sampleRateHz: Int, nFrames: Int)
  case class MediaRow(doc_id: Long, kind: String, bytes: Array[Byte],
      meta: MediaMeta)
  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Int,
      checksum: Long, mean_byte: Double, width: Int, height: Int)

  /** Deterministic fake codec: "decodes" dimensions and frame counts
    * from byte-level properties. Replace with a real decoder in
    * production — the call sites keep the same (bytes, kind) → meta
    * contract. */
  object MediaCodec {
    def decodeStub(bytes: Array[Byte], kind: String): MediaMeta = {
      val n = bytes.length
      kind match {
        case "image" => MediaMeta(16 + n % 32, 8 + n % 16, 0, 1)
        case "audio" => MediaMeta(0, 0, 8000 + (n % 4) * 8000, 1)
        case _       => MediaMeta(16 + n % 32, 8 + n % 16, 0, 1 + n % 10)
      }
    }
  }

  /** Synthesize a deterministic media table from `documents`: bytes =
    * UTF-8 text, kind round-robins image/audio/video. This is the
    * fixture stand-in for a real binary media column. */
  def synthesizeMedia(docs: DataFrame)(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("bytes"))
      .as[(Long, String, Array[Byte])]
      .map { case (id, kind, bytes) =>
        MediaRow(id, kind, bytes, MediaCodec.decodeStub(bytes, kind))
      }
  }

  /** Batched feature extraction: partitions are processed in fixed-
    * size batches (the Arrow/pandas-UDF execution shape) so a real
    * vectorized decoder can drop in per-batch. Features are
    * deterministic byte statistics. */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64)
      (implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          var sum = 0L
          var i = 0
          while (i < r.bytes.length) { sum += r.bytes(i) & 0xff; i += 1 }
          MediaFeatures(r.doc_id, r.kind, r.bytes.length, sum,
            if (r.bytes.length == 0) 0.0 else sum.toDouble / r.bytes.length,
            r.meta.width, r.meta.height)
        }
      }
    }
  }

  // --------------------------------------------------- fixture queries

  type Q = (SparkSession, String) => DataFrame

  /** The typed mapPartitions pipeline end-to-end; the oracle recomputes
    * the byte statistics in SQL (fixture text is ASCII, so UTF-8 bytes
    * == character codes). */
  private val multimodalFeatures: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    val media = synthesizeMedia(Tables.load(s, dir, "documents"))
    extractFeatures(media).toDF().orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "multimodal_features" -> multimodalFeatures)

  val oracles: Map[String, String] = Map(
    "multimodal_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(length(text) AS INT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split(text, ''),
        |    c -> ascii(c))) AS BIGINT) AS checksum,
        |  CAST(list_sum(list_transform(string_split(text, ''),
        |    c -> ascii(c))) AS DOUBLE) / NULLIF(length(text), 0) AS mean_byte,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0
        |    ELSE 16 + length(text) % 32 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 3 = 1 THEN 0
        |    ELSE 8 + length(text) % 16 END AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin)
}
