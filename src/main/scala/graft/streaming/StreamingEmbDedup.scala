package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming EMBEDDING near-dup (banded sign-LSH): the vector counterpart
 * of [[StreamingNearDedup]] — a continuous embedding feed is judged
 * against every previously kept vector at cosine ≥ `threshold` without
 * re-scanning anything, because the kept corpus lives in the state store
 * as its sign-LSH index: state is keyed by band key (one bucket per
 * band-local bit pattern) and holds the `(keeper id, vector, norm)`
 * entries registered there. An arrival colliding with a bucket verifies
 * by EXACT cosine against each entry — unlike the MinHash stream, whose
 * component-match estimate carries σ ≈ 0.035, the vector itself is the
 * state, so streaming verdicts are exact up to banding recall
 * (`1 − (1 − p^r)^b`, `p = 1 − acos(t)/π`, same geometry as the batch
 * family). Per-doc verdicts reduce with [[StreamingNearDedup.verdicts]]
 * (identical column contract: best candidate by (score desc, id asc)).
 *
 * Design notes, 100 TB shape:
 *  - Judgment is band-local; `dupOf` attribution resolves to canonical
 *    roots downstream, exactly like the batch pair tables.
 *  - State carries `bands` copies of each kept vector (dims doubles per
 *    entry per band) — the LSH state trade. RocksDB-backed stores absorb
 *    it; unbounded feeds use [[judgedTtl]] (event-time eviction bounds
 *    state to one dedup horizon), or drop `bands` (recall falls
 *    predictably, state shrinks linearly).
 *  - The banding planes are the SAME deterministic hyperplane family as
 *    the batch signers ([[Similarity.lshBandSignatureKernel]] — md5-mixed,
 *    no RNG state), so every restart and every generation of the stream
 *    signs identically; checkpoint replay of a keeper never matches
 *    itself, never re-registers, and re-emits `keep = true`.
 *  - Degenerate vectors (null / wrong dims / zero or non-finite norm)
 *    take a per-doc sentinel band, match nothing, register nothing, and
 *    are kept — cosine is undefined, the batch family's verdict.
 */
final case class StreamingEmbDedup(bands: Int = 16, planesPerBand: Int = 8,
                                   dims: Int = 64, threshold: Double = 0.9) {
  import StreamingEmbDedup._

  /** Shared signer closure: plane matrix built once on the driver,
    * shipped in the task closure (bands×planes×dims doubles). */
  private val signer: Array[Double] => Array[Long] =
    Similarity.lshBandSignatureKernel(bands, planesPerBand, dims)

  /** Explode a vector into its band rows (band key = band index + that
    * band's bucket id — exact, no re-hash collisions). The vector rides
    * on EVERY row (each bucket needs it to verify and register); `carry`
    * marks band 0 so downstream `foreachBatch` consumers re-emit each
    * doc's vector exactly once. Per-row kernel work only; no shuffle
    * until the stateful groupByKey. */
  def bandRows(docs: Dataset[VecDoc]): Dataset[EmbBandRow] =
    docs.flatMap(d => explode(d.vecId, d.vec, null))(embBandRowEnc)

  /** Shared band-row kernel: one row per band (sentinel band for
    * degenerate vectors), `ts` riding on every row so the TTL path can
    * watermark the EXPLODED rows — a typed flatMap strips event-time
    * column metadata, so the watermark must be declared downstream of it. */
  private def explode(vecId: Long, v: Array[Double],
                      ts: java.sql.Timestamp): Iterator[EmbBandRow] = {
    val bad = v == null || v.length != dims || {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      !(s > 0.0) || s.isInfinite
    }
    if (bad)
      Iterator.single(EmbBandRow(vecId, s"empty:$vecId",
        Array.emptyDoubleArray, carry = true, ts))
    else {
      val sig = signer(v)
      (0 until bands).iterator.map { bi =>
        EmbBandRow(vecId, s"$bi:${sig(bi)}", v, carry = bi == 0, ts)
      }
    }
  }

  /** Per-bucket judgment: candidates are the stored entries plus earlier
    * (smaller-id) same-batch registrants; best EXACT cosine ≥ threshold
    * wins (ties to the smaller id), otherwise the arrival registers.
    * Pure function of (state, batch) — replays are deterministic. */
  def judgeBand(key: String, rows: Iterator[EmbBandRow],
                state: GroupState[EmbBucket]): Iterator[EmbBandVerdict] =
    judgeBandImpl(0L)(key, rows, state)

  /** Core per-bucket judgment, TTL-aware when `horizonMs > 0` — the same
    * two-path eviction contract as
    * [[StreamingNearDedup.judgeBandImpl]]: expired entries are dropped on
    * the DATA path (Spark never flags `hasTimedOut` for a key with data),
    * idle buckets are evicted wholesale on the TIMEOUT path, and any
    * arrival re-warms its entry (sliding per-entry horizon). */
  private def judgeBandImpl(horizonMs: Long)(key: String,
      rows: Iterator[EmbBandRow],
      state: GroupState[EmbBucket]): Iterator[EmbBandVerdict] = {
    if (horizonMs > 0 && state.hasTimedOut) {
      state.remove(); return Iterator.empty
    }
    val batch = rows.toSeq.sortBy(_.vecId)
    if (batch.isEmpty) return Iterator.empty
    val wm = if (horizonMs > 0) state.getCurrentWatermarkMs() else 0L
    var entries = state.getOption.map(_.entries.toVector).getOrElse(Vector.empty)
    var changed = false
    if (horizonMs > 0) {
      val live = entries.filter(_.lastSeenMs + horizonMs > wm)
      if (live.size != entries.size) { entries = live; changed = true }
    }
    val out = batch.map { r =>
      if (r.vec.isEmpty) EmbBandVerdict(r.vecId, None, None, r.carry, None)
      else {
        val ts = if (r.ts == null) 0L else r.ts.getTime
        val rn = norm(r.vec)
        var bestAt = -1
        var bestId = Long.MaxValue
        var bestCos = -2.0
        var i = 0
        entries.foreach { e =>
          if (e.id != r.vecId) { // keeper replay never matches itself
            val cos = dot(r.vec, e.vec) / (rn * e.norm)
            if (cos > bestCos || (cos == bestCos && e.id < bestId)) {
              bestCos = cos; bestId = e.id; bestAt = i
            }
          }
          i += 1
        }
        if (bestCos >= threshold) {
          if (entries(bestAt).lastSeenMs < ts) { // matched keeper stays hot
            entries = entries.updated(bestAt,
              entries(bestAt).copy(lastSeenMs = ts))
            changed = true
          }
          EmbBandVerdict(r.vecId, Some(bestId), Some(bestCos), r.carry,
            if (r.carry) Some(r.vec) else None)
        } else {
          val at = entries.indexWhere(_.id == r.vecId)
          if (at < 0) {
            entries = entries :+ EmbEntry(r.vecId, r.vec, rn, ts)
            changed = true
          } else if (entries(at).lastSeenMs < ts) { // replay re-warms
            entries = entries.updated(at, entries(at).copy(lastSeenMs = ts))
            changed = true
          }
          EmbBandVerdict(r.vecId, None, None, r.carry,
            if (r.carry) Some(r.vec) else None)
        }
      }
    }
    if (changed) {
      if (entries.isEmpty) state.remove() else state.update(EmbBucket(entries))
    }
    if (horizonMs > 0 && entries.nonEmpty)
      state.setTimeoutTimestamp(
        math.max(entries.iterator.map(_.lastSeenMs).max + horizonMs, wm + 1))
    out.iterator
  }

  /** Wire the stateful banded judgment over an embedding stream. Output is
    * one verdict per (doc, band) — reduce with
    * [[StreamingNearDedup.verdicts]] (shared column contract) inside
    * `foreachBatch`. */
  def judged(docs: Dataset[VecDoc]): Dataset[EmbBandVerdict] =
    bandRows(docs).groupByKey(_.bandKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        judgeBand _)(embBucketEnc, embBandVerdictEnc)

  /** Horizon-bounded embedding near-dup: verdicts match [[judged]] for
    * any arrival within `horizon` (event time) of the matched keeper's
    * last sighting — with `watermarkDelay` slack for late data — and
    * bucket state plateaus at the entries active within one horizon. An
    * arrival after the horizon re-registers on the stream; the batch
    * stores and the IVF index absorb keeps via [[absorbKeepers]] /
    * [[absorbKeepersIvf]], so the next batch judgment still catches the
    * evicted-then-reseen duplicate. */
  def judgedTtl(docs: Dataset[TimedVecDoc], horizon: java.time.Duration,
                watermarkDelay: String): Dataset[EmbBandVerdict] =
    docs.flatMap(d => explode(d.vecId, d.vec, d.ts))(embBandRowEnc)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.bandKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        judgeBandImpl(horizon.toMillis) _)(embBucketEnc, embBandVerdictEnc)
}

object StreamingEmbDedup {

  final case class VecDoc(vecId: Long, vec: Array[Double])
  /** TTL-horizon variant of [[VecDoc]]: `ts` is the event time the
    * watermark and the dedup horizon are measured against. */
  final case class TimedVecDoc(vecId: Long, vec: Array[Double],
                               ts: java.sql.Timestamp)
  final case class EmbBandRow(vecId: Long, bandKey: String,
                              vec: Array[Double], carry: Boolean,
                              ts: java.sql.Timestamp = null)
  final case class EmbEntry(id: Long, vec: Array[Double], norm: Double,
                            lastSeenMs: Long = 0L)
  final case class EmbBucket(entries: Seq[EmbEntry])
  /** Column contract shared with [[StreamingNearDedup.verdicts]]:
    * `docId`, `candId`, `est` (here: exact cosine). */
  final case class EmbBandVerdict(docId: Long, candId: Option[Long],
                                  est: Option[Double], carry: Boolean,
                                  vec: Option[Array[Double]])

  implicit val vecDocEnc: Encoder[VecDoc] = Encoders.product[VecDoc]
  implicit val timedVecDocEnc: Encoder[TimedVecDoc] =
    Encoders.product[TimedVecDoc]
  implicit val embBandRowEnc: Encoder[EmbBandRow] = Encoders.product[EmbBandRow]
  implicit val embBucketEnc: Encoder[EmbBucket] = Encoders.product[EmbBucket]
  implicit val embBandVerdictEnc: Encoder[EmbBandVerdict] =
    Encoders.product[EmbBandVerdict]

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /**
   * `foreachBatch` bridge from the stream to the BATCH signature store:
   * reduce the micro-batch's band verdicts, then absorb the kept vectors'
   * deep-banding signatures (the batch family's d64_r16b128 config, signed
   * by [[Similarity.lshSigRowsTyped]] — the stream-internal shallow
   * banding never leaves the state store) into
   * [[graft.queries.Materialized.embeddingSignatures]]'s store, so batch
   * jobs (`dedupIncrementalEmb`) judge future data against streaming keeps
   * too. Exactly-once per (streamId, micro-batch id) via the store ledger,
   * same contract as [[StreamingNearDedup.absorbKeepers]]. Returns the
   * per-doc verdicts for the caller's own sink.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    bandVerdicts: DataFrame, streamId: String,
                    microBatchId: Long): DataFrame = {
    val v = StreamingNearDedup.verdicts(bandVerdicts)
    val keptVecs = bandVerdicts.where(col("carry") && col("vec").isNotNull)
      .select(col("docId"), col("vec"))
      .join(v.where(col("keep")).select("docId"), Seq("docId"), "left_semi")
    import graft.queries.Materialized
    Materialized.absorb(spark, sfDir, Materialized.embSigsStore,
      Similarity.lshSigRowsTyped(keptVecs, "docId", "vec",
        bands = 128, planesPerBand = 16, dims = 64),
      s"$streamId-$microBatchId")
    v
  }

  /**
   * `foreachBatch` bridge from the stream to the stored IVF INDEX: the
   * micro-batch's kept vectors are assigned against the STORED centroids
   * — no retrain, no corpus re-read — and published as an appended
   * cell-partitioned index generation
   * ([[graft.queries.Materialized.appendIvfIndex]]), so probed-cell
   * searches over the head view (`ivfIndexCurrent`) retrieve streaming
   * keeps too: a vector deduped on the stream becomes searchable the
   * moment its micro-batch commits. Exactly-once per (streamId,
   * micro-batch id) via the index store's absorb ledger — a checkpoint
   * replay of the micro-batch re-resolves to the same batch id and is a
   * no-op. Composable with [[absorbKeepers]] in the same `foreachBatch`
   * (distinct ledgers: signature store vs index store). Returns the
   * per-doc verdicts for the caller's own sink.
   */
  def absorbKeepersIvf(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                       bandVerdicts: DataFrame, streamId: String,
                       microBatchId: Long): DataFrame = {
    val v = StreamingNearDedup.verdicts(bandVerdicts)
    val keptVecs = bandVerdicts.where(col("carry") && col("vec").isNotNull)
      .select(col("docId"), col("vec"))
      .join(v.where(col("keep")).select("docId"), Seq("docId"), "left_semi")
    graft.queries.Materialized.appendIvfIndex(spark, sfDir, keptVecs,
      "docId", "vec", s"ivf-$streamId-$microBatchId")
    v
  }
}
