package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming operators for a continuously-fed crawl/corpus pipeline
  * (SURVEY §2.8) — the pieces a long-running deployment needs when link
  * discovery arrives as an unbounded stream instead of per-wave batches.
  *
  * Every operator keeps its state BOUNDED and distributed: the dedup's
  * key state is evicted by the event-time watermark, the sequencer holds
  * one long per host, and the near-dup gate caps bucket width (FIFO
  * recency) and evicts idle buckets by event-time TTL — all partitioned
  * by the group key across executors (the same host-/bucket-hash shuffle
  * the batch ops use). Nothing here collects to the driver; state lives
  * in the streaming state store with checkpointed exactly-once semantics.
  */
object StreamingOps {

  /** Streaming URL-seen dedup with watermark-bounded state: the streaming
    * twin of the batch J8 anti-join. Each url is emitted the first time it
    * is seen; re-sights within the watermark window are dropped exactly,
    * and state for urls older than the watermark is evicted — so the state
    * store holds O(urls per watermark window), not the full crawl history
    * (the full history belongs to the batch-side urls table; a deployment
    * composes both: stream-dedup bounds the enqueue storm, the wave's exact
    * anti-join against the store is authoritative).
    */
  def seenDedupStream(links: DataFrame, tsCol: String,
      watermarkDelay: String): DataFrame =
    links.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("url")

  case class SeqIn(host: String, url: String, ts: java.sql.Timestamp)
  case class SeqOut(host: String, url: String, ts: java.sql.Timestamp, seq: Long)
  /** One long per host — the entire per-key state of [[hostFifoSeq]]. */
  case class HostSeqState(next: Long)

  /** Per-host FIFO sequence numbers across an unbounded stream — the
    * streaming twin of the batch scheduler's T3 per-host seq column
    * (`flatMapGroupsWithState` custom state: one counter per host,
    * carried across micro-batches through the checkpointed state store).
    * Rows within a micro-batch order deterministically by (ts, url), so a
    * replayed batch assigns identical sequence numbers — the property
    * that keeps crawl ordering reproducible on streaming restart.
    *
    * Scale shape: the groupByKey shuffles rows by host hash (exactly the
    * batch wave's per-host exchange); state per host is 8 bytes; a host's
    * per-batch rows pass through one task. Mega-hosts are bounded by the
    * upstream politeness budget, not by this operator.
    */
  def hostFifoSeq(links: Dataset[SeqIn]): Dataset[SeqOut] = {
    import links.sparkSession.implicits._
    links.groupByKey(_.host)
      .flatMapGroupsWithState[HostSeqState, SeqOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[SeqIn], state: GroupState[HostSeqState]) =>
          val start = state.getOption.map(_.next).getOrElse(0L)
          // order by the FULL timestamp (getTime alone truncates to millis,
          // so sub-millisecond-apart rows would tie and keep nondeterministic
          // shuffle-arrival order across replays), then url
          val sorted = rows.toArray.sortBy(r => (r.ts.getTime, r.ts.getNanos, r.url))
          state.update(HostSeqState(start + sorted.length))
          sorted.iterator.zipWithIndex.map { case (r, i) =>
            SeqOut(host, r.url, r.ts, start + i)
          }
      }
  }

  case class SigIn(docId: Long, ts: java.sql.Timestamp, sig: Seq[Long])
  case class BandRow(band: Int, bucket: Long, docId: Long,
    ts: java.sql.Timestamp, sig: Seq[Long])
  case class DupHit(docId: Long, matchId: Long, band: Int, estJaccard: Double)
  /** Per-(band,bucket) state: the `cap` most recent member signatures,
    * parallel id/sig lists (encoder-friendly), newest first, plus the
    * RUNNING max member event-time — persisted so a late-but-in-watermark
    * batch whose own rows are older than existing members can never rewind
    * the eviction deadline below newest-member + TTL.
    *
    * CHECKPOINT COMPATIBILITY: this case class IS the state-store row
    * schema. Changing its shape (adding `maxTs` did this in round 5)
    * breaks restores from checkpoints written by an older build — Spark
    * decodes the persisted state rows with the NEW layout and fails or
    * misreads them. An upgrade that alters this class requires a fresh
    * checkpoint directory (re-seeding dedup state from the batch-side urls
    * table, the documented restart path); do not point a new build at an
    * old nearDupStream checkpoint. */
  case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]], maxTs: Long)

  /** Streaming NEAR-dup gate — the streaming twin of the batch
    * delta-vs-corpus minhash dedup (`Dedup.minhashDeltaPairs`): each
    * arriving document's minhash signature (computed upstream with
    * `Dedup.minhashSignature`, a map) is banded; per (band, bucket) the
    * state store keeps the `cap` most recent member signatures, and a new
    * arrival emits a `DupHit` against every stored member whose
    * signature-agreement estimate reaches `minEstJaccard` — so a
    * continuously-fed pipeline flags "this page is a near-copy of one we
    * already took" at ingest time, before the batch dedup ever runs.
    *
    * Emission semantics: a pair that collides in k bands emits once per
    * colliding band (the band column disambiguates); dedup downstream with
    * `dropDuplicates("docId", "matchId")` per micro-batch or a
    * watermarked variant across batches. Within a micro-batch, arrivals
    * process in docId order, so replays emit identically.
    *
    * State bound — BOTH axes: bucket WIDTH is capped at `cap` signatures
    * (FIFO recency — a boilerplate bucket holds its `cap` newest members;
    * older ones stop matching, the batch store remains authoritative) and
    * bucket COUNT is bounded by the EVENT-TIME TTL: a bucket whose newest
    * member is `stateTtlMs` behind the watermark is evicted via
    * event-time timeout (data-driven, so replays evict identically —
    * a processing-time timer would also keep the micro-batch engine
    * running empty batches forever). The groupByKey shuffles narrow
    * (band, bucket, id, ts, sig) rows — the exact banded-candidate
    * exchange shape of the batch path. */
  def nearDupStream(docs: Dataset[SigIn], numHashes: Int = 64,
      bands: Int = 16, minEstJaccard: Double = 0.5, cap: Int = 64,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600L * 1000L): Dataset[DupHit] = {
    import docs.sparkSession.implicits._
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rpb = numHashes / bands
    val banded: Dataset[BandRow] = docs.flatMap { d =>
      (0 until bands).iterator.map { b =>
        val bucket = d.sig.slice(b * rpb, (b + 1) * rpb)
          .foldLeft(1125899906842597L)((acc, h) => acc * 31 + h)
        BandRow(b, bucket, d.docId, d.ts, d.sig)
      }
    }
    banded.withWatermark("ts", watermarkDelay)
      .groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState[BucketState, DupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandRow],
            state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { // idle past the TTL: free the bucket
            state.remove()
            Iterator.empty
          } else {
            var ids = state.getOption.map(_.ids.toList).getOrElse(Nil)
            var sigs = state.getOption.map(_.sigs.toList).getOrElse(Nil)
            val hits = scala.collection.mutable.ArrayBuffer.empty[DupHit]
            // seed from the PERSISTED max: a batch of late (in-watermark)
            // rows all older than the stored members must not shrink the
            // newest-member + TTL deadline
            var maxTs = state.getOption.map(_.maxTs).getOrElse(Long.MinValue)
            // docId order: replays of a micro-batch emit identical hits
            rows.toArray.sortBy(_.docId).foreach { r =>
              ids.iterator.zip(sigs.iterator).foreach { case (mid, msig) =>
                if (mid != r.docId) {
                  val agree = r.sig.iterator.zip(msig.iterator)
                    .count { case (a, b) => a == b }
                  val est = agree.toDouble / numHashes
                  if (est >= minEstJaccard)
                    hits += DupHit(r.docId, mid, r.band, est)
                }
              }
              ids = (r.docId :: ids).take(cap)
              sigs = (r.sig :: sigs).take(cap)
              maxTs = math.max(maxTs, r.ts.getTime)
            }
            state.update(BucketState(ids, sigs, maxTs))
            // evict when the watermark passes newest-member + TTL; the
            // max() keeps the stamp legal when this group's rows are
            // already far behind the global watermark
            state.setTimeoutTimestamp(math.max(maxTs + stateTtlMs,
              state.getCurrentWatermarkMs() + 1))
            hits.iterator
          }
      }
  }
}
