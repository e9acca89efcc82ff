package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §7.5: the reference has no
  * streaming operators, so this is free design kept out of the
  * oracle-verified set — the batch twins of these pipelines are what
  * the correctness gate covers).
  *
  * The production ingest shape of the dedup layer: streaming
  * near-duplicate candidate detection, and foreachBatch probes of the
  * standing lexical and embedding dedup indexes behind one idempotent
  * per-batch parquet sink. Every transform takes and returns
  * DataFrames/Datasets, so the same code runs on `readStream` sources
  * in production and on MemoryStream in tests. State stores shard by
  * grouping key and the watermark bounds state size.
  */
object Streams {

  case class DocEvent(doc_id: Long, ts: Timestamp, text: String)
  case class BandedDoc(doc_id: Long, ts: Timestamp, band: Int, bucket: String)
  case class BucketState(ids: Seq[Long], maxTs: Long)
  case class NearDupCandidate(id_a: Long, id_b: Long, band: Int)

  /** Streaming near-duplicate candidate detection — the streaming home
    * of the row-local MinHash path: each arriving document is signed
    * and banded ON ITS ROW by the native [[graft.functions.MinHashLsh]]
    * kernel (a per-row kernel needs no aggregation state), then keyed
    * by (band, bucket). Per-bucket state remembers the ids seen inside
    * the TTL horizon; each newcomer emits one candidate pair per stored
    * id. The buckets are those of the batch `Dedup.minHashLshPairs`
    * and null texts are dropped as there ([[graft.llm.Dedup.lshDocs]]),
    * so the candidate criterion (bucket equality in ≥1 band) is the
    * batch one — exact-verify/act is the caller's next stage, as in
    * batch. The bands are unrolled by a `stack` generator, as in
    * [[graft.llm.Dedup.lshRows]]: an `explode` over the kernel output
    * would re-run the kernel inside the optimizer's inferred
    * `size(buckets) > 0` filter.
    *
    * State is bounded two ways: per-bucket ids cap at
    * `maxIdsPerBucket` (a hot boilerplate bucket degrades gracefully,
    * pairing newcomers only against the first exemplars instead of
    * growing O(stream) state), and event-time timeout evicts a bucket
    * once the watermark passes last-seen + `stateTtlMs`. A doc
    * colliding in several bands emits one candidate per band — dedupe
    * downstream with `dropDuplicatesWithinWatermark(id_a, id_b)` when
    * exactly-once pairs matter. */
  def nearDupCandidatesStream(docs: DataFrame,
      watermark: String = "10 minutes", stateTtlMs: Long = 600000L,
      numHashes: Int = 16, rowsPerBand: Int = 4, k: Int = 9,
      maxIdsPerBucket: Int = 32)
      (implicit spark: SparkSession): Dataset[NearDupCandidate] = {
    import spark.implicits._
    val bands = (0 until numHashes / rowsPerBand).map(b => s"$b, buckets[$b]")
    val banded = docs.withWatermark("ts", watermark)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("ts"), graft.functions.MinHashLsh.minHashLsh(
        col("text"), numHashes, rowsPerBand, k).getField("buckets").as("buckets"))
      .selectExpr("doc_id", "ts",
        s"stack(${bands.size}, ${bands.mkString(", ")}) AS (band, bucket)")
      .as[BandedDoc]
    banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, NearDupCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case ((band, _), rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var ids = state.getOption.map(_.ids.toVector).getOrElse(Vector.empty)
            var maxTs = state.getOption.map(_.maxTs).getOrElse(0L)
            val out = Vector.newBuilder[NearDupCandidate]
            // doc_id order makes same-batch pairing deterministic
            rows.toVector.sortBy(_.doc_id).foreach { d =>
              if (!ids.contains(d.doc_id)) {
                ids.foreach { prev =>
                  out += NearDupCandidate(
                    math.min(prev, d.doc_id), math.max(prev, d.doc_id), band)
                }
                if (ids.size < maxIdsPerBucket) ids :+= d.doc_id
              }
              maxTs = math.max(maxTs, d.ts.getTime)
            }
            state.update(BucketState(ids, maxTs))
            // clamp above the current watermark: with a watermark delay
            // larger than stateTtlMs, a late event could otherwise set a
            // timeout at/below the watermark, which Spark rejects at
            // runtime
            state.setTimeoutTimestamp(
              math.max(maxTs + stateTtlMs, state.getCurrentWatermarkMs + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming probe of the STANDING dedup index
    * ([[graft.llm.Dedup.writeDedupIndex]]) — the production ingest
    * shape: each micro-batch of (doc_id, text) is shingled, signed and
    * probed against the stored `<prefix>_buckets` / `<prefix>_sets`
    * tables via foreachBatch, so the live corpus pays zero per-batch
    * work and the candidate join shuffles only the batch side (the
    * stored scan's bucketing satisfies its half of the join
    * distribution — the same single-exchange plan LlmSpec pins for the
    * batch path). Pairs land under `outPath` with batch_id partition
    * overwrite, so a crash-replayed batch overwrites its own output
    * instead of duplicating pairs.
    *
    * Batch equivalence (StreamsSpec-pinned): candidates are strictly
    * old×new and each pair's exact-Jaccard verify consults only that
    * pair's shingle sets, so the union of per-batch outputs over ANY
    * micro-batch split of an ingest equals
    * [[graft.llm.Dedup.incrementalLshPairsFromIndex]] over the whole
    * ingest at once. The MinHash parameters are read from
    * `<prefix>_meta` once, when the stream starts. */
  def startDedupIndexProbe(docs: DataFrame, prefix: String,
      outPath: String, checkpoint: String, threshold: Double = 0.5) = {
    val params = graft.llm.Dedup.dedupIndexParams(docs.sparkSession, prefix)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.llm.Dedup.probeDedupIndex(prefix, batch, threshold, params),
          batchId, outPath)
      }
      .start()
  }

  /** Streaming probe of the STANDING sign-LSH embedding index
    * ([[graft.llm.Dedup.writeCosineIndex]]) — the dense-vector twin of
    * [[startDedupIndexProbe]]: each micro-batch of exploded micro-int
    * elements (id, i, e_micro) is projected under the parameters
    * pinned in `<prefix>_meta` and probed against the stored
    * `<prefix>_buckets` / `<prefix>_elems` tables via foreachBatch.
    * Candidates are strictly old×new and each pair's exact-cosine
    * verify consults only that pair's element rows, so the union of
    * per-batch outputs over ANY micro-batch split equals
    * [[graft.llm.Dedup.cosineNearDupPairsFromIndex]] over the whole
    * ingest at once (StreamsSpec-pinned). Same idempotent batch_id
    * partition-overwrite sink as the lexical probe. */
  def startCosineIndexProbe(elems: DataFrame, prefix: String,
      outPath: String, checkpoint: String, threshold: Double = 0.9) =
    elems.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.llm.Dedup.cosineNearDupPairsFromIndex(prefix, batch,
            threshold),
          batchId, outPath)
      }
      .start()

  /** Idempotent micro-batch sink (the foreachBatch exactly-once
    * pattern for plain parquet), the per-batch body of both index
    * probes: each batch lands in its own `batch_id=N` directory with
    * dynamic partition overwrite, so a replayed batch — after a crash
    * between sink write and offset commit — overwrites its own output
    * instead of appending duplicates. Checkpointing makes batch ids
    * stable across restarts, which is what makes the overwrite
    * idempotent. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
}
