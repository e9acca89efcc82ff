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
  * Patterns: watermarked tumbling/sliding windowed aggregation,
  * streaming exact dedup, and mapGroupsWithState sessionization. Every
  * transform takes and returns DataFrames/Datasets, so the same code
  * runs on `readStream` sources in production and on MemoryStream in
  * tests. State stores shard by grouping key — at 100 TB/day the keys
  * (user, window) hash-partition across executors and the watermark
  * bounds state size.
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionUpdate(user_id: Long, n_events: Long, total_value: Double,
      session_end: Boolean)

  /** Tumbling (or sliding, if `slide` differs) windowed counts + sums
    * per event type, late data bounded by `watermark`. */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
      window: String = "5 minutes", slide: Option[String] = None): DataFrame = {
    val w = slide.fold(org.apache.spark.sql.functions.window(col("ts"), window))(
      s => org.apache.spark.sql.functions.window(col("ts"), window, s))
    events.withWatermark("ts", watermark)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup on an id column: state = ids seen within
    * the watermark horizon (the streaming twin of
    * [[graft.llm.Dedup.dropExactDuplicates]]). */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes",
      idCols: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(idCols :+ "ts")

  /** Streaming dedup on the id ALONE with watermark-bounded state
    * (`dropDuplicatesWithinWatermark`): unlike [[dedupStream]], a
    * replay whose `ts` differs from the original is STILL dropped as
    * long as it arrives inside the watermark horizon — the production
    * shape for at-least-once sources that re-stamp on retry. */
  def dedupStreamWithinWatermark(events: DataFrame,
      watermark: String = "10 minutes",
      idCols: Seq[String] = Seq("event_id")): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Per-user sessionization with an event-time inactivity gap:
    * counts and sums accumulate per user; when the watermark passes
    * last-event-time + `gapMs`, the closed session is emitted.
    * Event-time timeouts fire with watermark progress (data-driven) —
    * unlike processing-time timeouts they never spin empty batches. */
  def sessionize(events: Dataset[Event], gapMs: Long = 60000,
      watermark: String = "10 minutes")
      (implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double, Long), SessionUpdate](
        GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            val (n, v, _) = state.get
            state.remove()
            SessionUpdate(userId, n, v, session_end = true)
          } else {
            var (n, v, maxTs) = state.getOption.getOrElse((0L, 0.0, 0L))
            rows.foreach { e =>
              n += 1; v += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update((n, v, maxTs))
            state.setTimeoutTimestamp(maxTs + gapMs)
            SessionUpdate(userId, n, v, session_end = false)
          }
      }
  }

  /** Append-mode sessionization via flatMapGroupsWithState: emits
    * NOTHING while a session is open and exactly one closed-session
    * row when the event-time gap expires — the right shape for
    * downstream consumers that must see each session once (vs
    * [[sessionize]]'s update stream). */
  def sessionizeOnClose(events: Dataset[Event], gapMs: Long = 60000,
      watermark: String = "10 minutes")
      (implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double, Long), SessionUpdate](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, Double, Long)]) =>
          if (state.hasTimedOut) {
            val (n, v, _) = state.get
            state.remove()
            Iterator.single(SessionUpdate(userId, n, v, session_end = true))
          } else {
            var (n, v, maxTs) = state.getOption.getOrElse((0L, 0.0, 0L))
            rows.foreach { e =>
              n += 1; v += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            state.update((n, v, maxTs))
            state.setTimeoutTimestamp(maxTs + gapMs)
            Iterator.empty
          }
      }
  }

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

  case class RankedEvent(event_type: String, event_id: Long, value: Double,
      rank: Int)

  case class TopKState(entries: Seq[(Double, Long)], maxTs: Long)

  /** Streaming twin of the custom batch operator
    * [[graft.plans.TopKPerKey]]: a bounded per-key top-k maintained
    * incrementally. State per key is ONLY the current k best
    * (value desc, event_id asc ties) — the same bounded-heap
    * guarantee as the batch exec, so a hot key holds k rows of state
    * no matter how many events it receives. Entries dedupe by
    * event_id keeping the MAX value, so an id re-arriving with a new
    * value can never occupy two ranks. Keys idle past `stateTtlMs` of
    * event time are evicted via the watermark (EventTimeTimeout), so
    * a retired key does not hold k rows forever. Emits the key's full
    * refreshed top-k whenever a batch changes it (update-mode
    * semantics: downstream overwrites per (event_type, rank)). */
  def topKPerKeyStream(events: Dataset[Event], k: Int = 5,
      watermark: String = "10 minutes",
      stateTtlMs: Long = 10L * 60 * 1000)
      (implicit spark: SparkSession): Dataset[RankedEvent] = {
    import spark.implicits._
    val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (v, id) => (-v, id)
    }
    events.withWatermark("ts", watermark)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TopKState, RankedEvent](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[TopKState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val current = state.getOption.getOrElse(TopKState(Seq.empty, 0L))
            var maxTs = current.maxTs
            val arrived = rows.map { e =>
              maxTs = math.max(maxTs, e.ts.getTime)
              (e.value, e.event_id)
            }.toSeq
            // per-id max first, then rank: one entry per event_id
            val merged = (current.entries ++ arrived)
              .groupBy(_._2).iterator
              .map { case (id, vs) => (vs.map(_._1).max, id) }
              .toSeq.sorted(ord).take(k)
            // same clamp as nearDupCandidatesStream: never set a
            // timeout at/below the current watermark
            state.update(TopKState(merged, maxTs))
            state.setTimeoutTimestamp(
              math.max(maxTs + stateTtlMs, state.getCurrentWatermarkMs + 1))
            if (merged == current.entries) Iterator.empty
            else merged.iterator.zipWithIndex.map { case ((v, id), i) =>
              RankedEvent(key, id, v, i + 1)
            }
          }
      }
  }

  /** Stream-stream inner join with an event-time interval: left events
    * matched to right events of the same user whose time falls in
    * [left.ts, left.ts + joinWindow] — the click→conversion attribution
    * shape. BOTH sides carry watermarks and the join condition bounds
    * event time in both directions, so each side's state store evicts
    * rows once the watermark passes their join horizon (unbounded state
    * otherwise — the thing that kills stream joins at scale). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      joinWindow: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
        col("event_type").as("l_type"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_type").as("r_type"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $joinWindow"))
      .select(col("user_id"), col("l_ts"), col("l_type"), col("l_value"),
        col("r_ts"), col("r_type"), col("r_value"))
  }

  /** Stream-static enrichment: every micro-batch joins against a
    * static dimension frame. No state, no watermark — the inner
    * equi-join is stateless per batch; the explicit broadcast keeps a
    * small dim from shuffling the stream side at any scale. NOTE:
    * a plain file-source dim snapshots its file listing when the
    * DataFrame is created — per-batch re-resolution of NEW dim files
    * needs a source that re-lists (a catalog table view, or
    * re-reading inside foreachBatch); don't expect a parquet-path dim
    * to refresh mid-query. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key))

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
    * ingest at once. */
  def startDedupIndexProbe(docs: DataFrame, prefix: String,
      outPath: String, checkpoint: String, threshold: Double = 0.5,
      numHashes: Int = 16, rowsPerBand: Int = 4, k: Int = 9) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(
          graft.llm.Dedup.incrementalLshPairsFromIndex(prefix, batch,
            threshold, numHashes, rowsPerBand, k),
          batchId, outPath)
      }
      .start()

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
    * pattern for plain parquet): each batch lands in its own
    * `batch_id=N` directory with dynamic partition overwrite, so a
    * replayed batch — after a crash between sink write and offset
    * commit — overwrites its own output instead of appending
    * duplicates. Checkpointing makes batch ids stable across
    * restarts, which is what makes the overwrite idempotent. */
  def startIdempotentParquetSink(df: DataFrame, path: String,
      checkpoint: String) =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, path)
      }
      .start()

  /** The per-batch body of [[startIdempotentParquetSink]], exposed so
    * replay semantics are testable without a streaming query: writing
    * the same (batch, batchId) twice yields the rows once. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** Standard sink wiring: append-mode parquet with checkpointing (the
    * production shape) — callers own trigger/location. */
  def startParquetSink(df: DataFrame, path: String, checkpoint: String,
      outputMode: OutputMode = OutputMode.Append()) =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", path)
      .start()
}
