package graft.streaming

import graft.mergetree.{ColumnarMergeTree, KVRow, MergeTreeTable, MetaFiles}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured-Streaming ingest for MergeTree tables (SURVEY §7 Phase 5).
  *
  * The reference's only "streaming" is a background thread draining its own
  * memtable (src/merge_tree.cpp:207-226); the Spark-native equivalent of a
  * continuous ingest feed is a streaming query where EACH micro-batch lands
  * as one distributed sorted part via `insertBatch` — no rows transit the
  * driver, replayed micro-batches are skipped via a per-stream
  * applied-batch record (effectively-once; see notYetApplied for the
  * residual window), and the background merge worker (O19) compacts
  * independently, exactly like the reference's writer/merger split.
  *
  * Scale posture: micro-batch size controls part size (tune trigger
  * interval so parts land near the target part bytes); concurrent batch
  * writers are safe (insertBatch only locks id-allocation + manifest
  * append); watermarked operators below bound state for unbounded streams.
  */
object StreamingIngest {

  /** foreachBatch is AT-LEAST-ONCE: a driver crash between the sink action
    * and Spark's checkpoint commit replays the micro-batch with the SAME
    * batchId. Recording the last applied id (atomic file swap under the
    * stream's own checkpoint dir) and skipping replays narrows the
    * duplicate window to the instant between the insert and this record —
    * the Spark-side replay window (sink-to-checkpoint-commit, covering the
    * whole batch duration) was the one that mattered. Not transactional
    * exactly-once (that needs the sink and the offset commit in ONE
    * atomic step); honest posture documented per entry point.
    */
  private[graft] def notYetApplied(checkpointDir: String, batchId: Long): Boolean =
    MetaFiles.read(appliedFile(checkpointDir)).forall(_.trim.toLong < batchId)

  private[graft] def recordApplied(checkpointDir: String, batchId: Long): Unit =
    MetaFiles.publish(appliedFile(checkpointDir), batchId.toString)

  private def appliedFile(checkpointDir: String) =
    java.nio.file.Paths.get(checkpointDir, "_graft_applied_batch")

  /** Start a stream writing every micro-batch as one part. Replayed
    * batches (crash after insert, before checkpoint commit) are skipped
    * via the applied-batch record — see [[notYetApplied]].
    */
  def start(table: MergeTreeTable, rows: Dataset[KVRow], checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[KVRow], batchId: Long) =>
        if (!batch.isEmpty && notYetApplied(checkpointDir, batchId)) {
          table.insertBatch(batch)
          recordApplied(checkpointDir, batchId)
        }
      }
      .start()

  /** Same for the schema-generic table: a training-data pipeline streams
    * into arbitrary schemas, not just the KV compatibility row. Each
    * micro-batch lands as one sorted part under the table's ORDER BY; merge
    * semantics (Replacing/Summing) apply at read/compaction as usual, so a
    * streaming upsert feed into a Replacing table is exactly this plus
    * `scan()`. Replayed batches are skipped (see [[notYetApplied]]) —
    * without the record, a replay would land a duplicate part: doubled
    * rows on a Plain table, doubled sums on a Summing one.
    */
  def startGeneric(table: ColumnarMergeTree, rows: DataFrame,
                   checkpointDir: String,
                   trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val w = rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty && notYetApplied(checkpointDir, batchId)) {
          table.insertBatch(batch.toDF())
          recordApplied(checkpointDir, batchId)
        }
      }
    trigger.foreach(w.trigger)
    w.start()
  }

  /** Streaming CORPUS ingest with cross-batch near-duplicate filtering —
    * the streaming face of the persisted-signature dedup (q101,
    * operators/MinHashStore): each micro-batch of documents is LSH-checked
    * against the store, batch docs colliding with any stored signature
    * band are dropped, survivors are handed to `sink` and their signatures
    * appended — so every batch dedups against ALL prior batches with
    * per-batch cost proportional to the batch, never the corpus.
    *
    * Filtering is LSH-candidate-based (collision in ≥1 of 24 four-row
    * bands): at the q25 geometry that drops J ≳ 0.8 near-dups with
    * near-certain recall and admits a small false-drop rate from chance
    * band collisions — the standard trade for an online filter, where the
    * exact-verify pass (q101) would need historical TEXT the store
    * deliberately does not retain. State is the store itself (parquet on
    * shared storage), not the state-store — restarts resume from the
    * checkpoint with the signatures already durable.
    *
    * Replay determinism: the kept set is a pure function of (batch
    * content, store state EXCLUDING this batch's own ids). Two pieces make
    * that hold — (1) near-dups WITHIN the batch are resolved first
    * (greedy by ascending id over the intra-batch collision graph: a doc
    * drops iff it collides with a KEPT smaller doc — deterministic, and
    * every dropped doc keeps a stored representative), and (2) the store
    * check ignores stored
    * signatures whose id is in the current batch, so a replay that
    * already appended this batch's signatures cannot collide the batch
    * with itself and emit a different row set than the first attempt. A
    * replayed append can duplicate signature rows in the store —
    * candidate generation dedups pairs, so that costs bytes, not
    * correctness.
    */
  def dedupedCorpusIngest(docsStream: DataFrame,
                          store: graft.operators.MinHashStore,
                          sink: DataFrame => Unit,
                          checkpointDir: String): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty && notYetApplied(checkpointDir, batchId)) {
          val b = batch.toDF().persist()
          // the q25/q26/q101 shingle definition — ONE tokenization everywhere
          val dsh = b
            .select(col("doc_id"),
              explode(graft.queries.PipelineQueries.shingles).as("shingle"))
            .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
            .distinct()
            .persist()
          val banded = graft.operators.MinHashStore.bandSignatures(dsh).persist()
          try {
            // (1) intra-batch dedup by GREEDY id order: ascending through
            // the batch's collision graph, a doc drops iff it collides
            // with a smaller doc that is itself KEPT. This (not "any
            // smaller neighbour") preserves the invariant the store check
            // relies on — every dropped doc has a KEPT collide-partner
            // whose signatures land, so its future near-dups still
            // collide with something stored. A chain 1~2, 2~3 keeps
            // {1, 3}: 2 drops against kept 1, but 3's only collision is
            // the DROPPED 2 — dropping 3 too would leave its content
            // unrepresented forever (and 3 may not be a near-dup of 1 at
            // all). Collision pairs within one micro-batch are a bounded
            // driver collect (pairs of colliding docs, not the batch).
            val pairRows = banded.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
              .join(banded.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
                Seq("band", "sig"))
              .filter(col("doc_a") < col("doc_b"))
              .select(col("doc_a"), col("doc_b"))
              .distinct()
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            val smaller: Map[Long, Seq[Long]] =
              pairRows.groupBy(_._2).map { case (b2, ps) => b2 -> ps.map(_._1).toSeq }
            val dropped = scala.collection.mutable.Set.empty[Long]
            pairRows.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct.sorted
              .foreach { d =>
                if (smaller.getOrElse(d, Seq.empty).exists(a => !dropped(a))) dropped += d
              }
            val intraDropped = b.sparkSession
              .createDataset(dropped.toSeq)(org.apache.spark.sql.Encoders.scalaLong)
              .toDF("doc_id")
            // (2) store check, blind to this batch's own ids: a replayed
            // batch must see exactly the store state the first attempt saw.
            val dupIds = store
              .candidatePairs(banded)
              .join(b.select(col("doc_id").as("store_id")), Seq("store_id"), "left_anti")
              .select(col("batch_id").as("doc_id"))
              .distinct()
            val fresh = b
              .join(intraDropped, Seq("doc_id"), "left_anti")
              .join(dupIds, Seq("doc_id"), "left_anti")
            sink(fresh)
            // append signatures of KEPT docs only, reusing the PERSISTED
            // band signatures (recomputing the 96-hash aggregate inside
            // store.append would double the dominant per-batch cost)
            store.appendSignatures(
              banded.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_semi"))
            recordApplied(checkpointDir, batchId)
          } finally {
            // finally: a sink/store failure must not leave three persisted
            // frames cached across foreachBatch retries
            banded.unpersist()
            dsh.unpersist()
            b.unpersist()
          }
          ()
        }
      }
      .start()

  /** Streaming TEXT-INDEX ingest — the streaming face of the persisted
    * inverted index (the one store [[dedupedCorpusIngest]]'s family didn't
    * feed): each micro-batch of NEW documents (doc_id, text — the
    * [[graft.operators.InvertedIndex.append]] new-ids-only contract)
    * lands one part per touched bucket plus an exact totals bump, all
    * under the index's per-index cross-process append lock — the
    * multi-writer discipline is exactly what makes a streaming feed safe
    * next to ad-hoc appenders or a second stream. Because df/avgdl/nDocs
    * are derived at query time, a search after N micro-batches equals a
    * one-shot build over the same documents bit for bit (spec-pinned).
    *
    * Replayed batches are SKIPPED EXACTLY-ONCE via
    * [[graft.operators.InvertedIndex.appendStream]]: the applied batch id
    * commits inside the same atomic stats swap as the totals bump, so no
    * crash point can replay a committed batch (a doubled posting set is
    * invisible and unrepairable) — unlike the applied-batch FILE record
    * the MergeTree sinks use, which is only at-least-once-with-visible-
    * duplicates and is NOT safe for an index append. The replay guard is
    * scoped to the checkpoint's stable query id (`<checkpoint>/metadata`),
    * so a NEW checkpoint lineage pointed at an existing index applies
    * from its own batch 0 instead of silently discarding batches below
    * the previous feed's high-water mark.
    */
  def indexedCorpusIngest(docsStream: DataFrame,
                          index: graft.operators.InvertedIndex,
                          checkpointDir: String): StreamingQuery = {
    var lineage: String = null
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          if (lineage == null)
            lineage = checkpointLineage(batch.sparkSession, checkpointDir)
          index.appendStream(batch.toDF(), batchId, lineage); ()
        }
      }
      .start()
  }

  /** The checkpoint's stable query id — the LINEAGE the exactly-once
    * index sinks scope their replay guards by. Stable across restarts of
    * the same checkpoint; fresh when a checkpoint is lost and recreated
    * (exactly when batch ids restart at 0 — the dir path alone can't tell
    * the two apart, which is why the path is NEVER a fallback identity:
    * it would re-arm the old high-water mark against the restarted ids).
    * Resolved through the checkpoint's own Hadoop filesystem (checkpoints
    * routinely live on file:/hdfs:/s3a: URIs a raw java.nio read can't
    * open), and a missing or unreadable metadata file is a HARD error —
    * the batch aborts and the stream retries; guessing an identity risks
    * the silent double-apply/discard the lineage exists to prevent. The
    * metadata file is written at stream start, before the first batch
    * fires; callers resolve on first batch so the sink closure
    * serializes.
    */
  private def checkpointLineage(spark: org.apache.spark.sql.SparkSession,
      checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val s = try new String(in.readAllBytes,
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(s).map(_.group(1)).getOrElse(
      throw new IllegalStateException(
        s"no query id in $checkpointDir/metadata — cannot derive the " +
          "stream lineage the exactly-once guard is scoped by"))
  }

  /** Streaming ANN-INDEX ingest — [[indexedCorpusIngest]]'s twin for the
    * IVF/IVFADC index: each micro-batch of NEW vectors (vec_id, v — the
    * append new-ids-only contract) is assigned to the FIXED centroids and
    * lands one part per touched cluster in one manifest CAS, with the
    * replay guard advanced exactly-once by
    * [[graft.operators.IvfIndex.appendStream]] (lineage-scoped guard file
    * + torn-attempt intent repair). With this, every persisted index —
    * signatures, text, ANN — has batch, streaming, delete, and
    * concurrent-writer faces.
    */
  def annCorpusIngest(vecsStream: DataFrame,
                      index: graft.operators.IvfIndex,
                      checkpointDir: String): StreamingQuery = {
    var lineage: String = null
    vecsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          if (lineage == null)
            lineage = checkpointLineage(batch.sparkSession, checkpointDir)
          index.appendStream(batch.toDF(), batchId, lineage); ()
        }
      }
      .start()
  }

  /** Streaming RAG ingest — ONE micro-batch feed advances BOTH retrieval
    * indexes of the hybrid serve path together: each batch of NEW
    * documents (doc_id, text, v — text plus its embedding, the append
    * new-ids-only contract of both indexes) is CHUNKED (the q129
    * window/overlap arithmetic, chunk key = doc_id·span + chunk_idx) into
    * the text index and its doc vectors appended to the ANN index, both
    * under the SAME checkpoint lineage and batch id. Each index's own
    * exactly-once guard ([[graft.operators.InvertedIndex.appendStream]] /
    * [[graft.operators.IvfIndex.appendStream]]) advances with that
    * (lineage, batchId), so a crash BETWEEN the two appends self-heals on
    * foreachBatch's replay: the index that committed skips (its guard
    * covers the id), the torn one repairs and applies — after the retry
    * both indexes describe the same corpus prefix, and the chunk-hybrid
    * serve over them equals a one-shot build of both (spec-pinned).
    */
  def ragCorpusIngest(docsStream: DataFrame,
                      textIndex: graft.operators.InvertedIndex,
                      annIndex: graft.operators.IvfIndex,
                      checkpointDir: String,
                      window: Int = 16, overlap: Int = 4,
                      chunkSpan: Long = 64L): StreamingQuery = {
    var lineage: String = null
    docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          if (lineage == null)
            lineage = checkpointLineage(batch.sparkSession, checkpointDir)
          // The batch frame feeds BOTH sinks — persist so a streaming
          // source that can't be re-read (or is expensive to) is
          // materialized once per batch.
          val b = batch.toDF().persist()
          try {
            val raw = graft.queries.PipelineQueries.ragChunksText(
                b.select(col("doc_id"), col("text")), window, overlap)
              .select(col("doc_id"), col("chunk_idx"), col("txt"))
              .persist()
            try {
              // The packed key needs chunk_idx < span — checked BEFORE
              // packing (a wrapped index would alias two chunks of
              // different docs and the packed value could never tell).
              val maxIdx = raw.agg(org.apache.spark.sql.functions
                .max(col("chunk_idx"))).first().getLong(0)
              require(maxIdx < chunkSpan,
                s"chunk_idx up to $maxIdx overflows the $chunkSpan-chunk key span")
              textIndex.appendStream(
                raw.select(
                  (col("doc_id") * chunkSpan + col("chunk_idx")).as("doc_id"),
                  col("txt").as("text")),
                batchId, lineage)
              annIndex.appendStream(
                b.select(col("doc_id").as("vec_id"), col("v")), batchId, lineage)
              ()
            } finally raw.unpersist()
          } finally b.unpersist()
        }
      }
      .start()
  }

  /** Watermarked tumbling-window aggregate per event_type — the streaming
    * analogue of Q18: late data beyond the watermark is dropped, state is
    * bounded, windows emit once finalized (append mode).
    */
  def windowedCounts(events: DataFrame,
                     watermark: String = "10 minutes",
                     width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact-dup elimination — the streaming analogue of O14:
    * duplicates of (user_id, event_id) arriving within the watermark are
    * dropped with bounded state (dropDuplicatesWithinWatermark).
    */
  def dedupWithinWatermark(events: DataFrame,
                           watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_id")

  /** Streaming sessionization — the streaming analogue of Q41, using
    * Spark's native `session_window` (preferred over hand-rolled
    * flatMapGroupsWithState state: the built-in merges overlapping
    * session fragments across micro-batches, spills via the state store,
    * and closes a session only when the watermark passes its gap — all
    * for free). Append mode: each session emits exactly once, finalized.
    */
  def sessionizedStats(events: DataFrame,
                       gap: String = "30 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("sess.start").as("session_start"),
        col("sess.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Cumulative per-user stats over an unbounded stream — the
    * KeyValueGroupedDataset custom-state tier (`mapGroupsWithState`) for
    * semantics no built-in aggregate expresses: state survives across
    * micro-batches forever (no window, no watermark eviction) and each
    * batch emits the UPDATED running row per active user only.
    * State is O(1) per user (count/sum/max — mergeable), so a billion-row
    * stream over a bounded user population holds a tiny state store.
    */
  def runningUserStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (user, batch, state) =>
          val prev = state.getOption.getOrElse(UserStats(user, 0L, 0.0, Double.MinValue))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserStats(user, s.n + 1, s.sum_value + e.value, math.max(s.max_value, e.value))
          }
          state.update(next)
          next
      }
  }
}

/** Typed row for the custom-state streaming path. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Running per-user aggregate state/output of [[StreamingIngest.runningUserStats]]. */
case class UserStats(user_id: Long, n: Long, sum_value: Double, max_value: Double)
