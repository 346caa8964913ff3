package graft.streaming

import graft.llm.Similarity
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming embedding near-dup with an ADC (asymmetric-distance)
 * verification stage — the state-bytes rung below [[StreamingEmbDedup]]:
 * the banding is IDENTICAL (same deterministic sign-LSH band keys, same
 * recall geometry `1 − (1 − p^r)^b`), but the state store keeps only each
 * keeper's 128-bit densified sign sketch ([[Similarity.superBitKernel]] —
 * 16 bytes) instead of its full vector (dims·8 = 512 bytes): **32 B per
 * entry per band vs 528 B, a 16× state cut at equal recall geometry.**
 * The price is the verdict: verification scores the ARRIVAL's exact
 * per-plane projection magnitudes ([[Similarity.superBitProj]], exact
 * integers) against the stored corpus sign bits — the streaming form of
 * the batch ADC rung (`knnJoinHammingAdc`, Jégou et al. 2011's
 * asymmetric move) — and thresholds an ESTIMATED cosine, like the
 * MinHash stream's component-match estimate and unlike the parent's
 * exact cosine.
 *
 * The estimator: for sign-random-projection planes, each plane agrees
 * with probability `1 − θ/π`, so `E[s] = Σ|q_k|·(1 − 2θ/π)` for the ADC
 * score `s = Σ q_k·sign_k(corpus)`; inverting,
 * `est = cos((π/2)·(1 − s/Σ|q_k|))`. An exact copy agrees on every
 * decided plane → `s = Σ|q_k|` → est = 1 exactly, so the dup-detection
 * contract (copies lose to their keepers) is structural, not
 * probabilistic. Both `s` and `Σ|q_k|` are exact integers, so replays
 * and restarts re-verify identically.
 *
 * Everything else is the family contract verbatim: per-doc verdicts
 * reduce with [[StreamingNearDedup.verdicts]] (`est` = the estimated
 * cosine; best candidate by (est desc, id asc)); degenerate vectors take
 * a per-doc sentinel band, match nothing, register nothing, are kept;
 * keeper replay never matches itself and re-emits `keep = true`;
 * [[judgedTtl]] bounds state to one dedup horizon via the two-path
 * eviction (expired entries dropped on the data path, idle buckets on
 * the timeout path, arrivals re-warm).
 */
final case class StreamingEmbDedupAdc(bands: Int = 16, planesPerBand: Int = 8,
                                      dims: Int = 64, threshold: Double = 0.9) {
  import StreamingEmbDedupAdc._
  require(dims <= 64,
    s"the 128-plane densified sign sketch covers <= 64 dims, got $dims")
  // the estimator is a cosine: anything outside (-1, 1] either matches
  // nothing (> 1) or would index the -2.0 "no candidate" sentinel as a
  // real match (<= -1) — fail at construction, not mid-stream
  require(threshold > -1.0 && threshold <= 1.0,
    s"threshold is an estimated cosine and must be in (-1, 1], got $threshold")

  private val signer: Array[Double] => Array[Long] =
    Similarity.lshBandSignatureKernel(bands, planesPerBand, dims)

  /** Explode a vector into its band rows: the band keys of the parent
    * stream, plus the arrival's packed sketch (what registers) and its
    * full projection table (what verifies — 1 KB riding the shuffle
    * transiently, never the state store). */
  private def explode(vecId: Long, v: Array[Double],
                      ts: java.sql.Timestamp): Iterator[AdcBandRow] = {
    val bad = v == null || v.length != dims || {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      !(s > 0.0) || s.isInfinite
    }
    if (bad)
      Iterator.single(AdcBandRow(vecId, s"empty:$vecId", 0L, 0L,
        Array.emptyLongArray, carry = true, ts, Array.emptyDoubleArray))
    else {
      val proj = Similarity.superBitProj(v.toSeq)
      // a vector whose every projection magnitude is zero carries no
      // angle through the sketch — treat as degenerate (kept), the
      // sentinel-band verdict; cannot happen for nonzero 6-dp vectors
      // short of pathological cancellation on all 128 planes
      var qabs = 0L
      var i = 0
      while (i < proj.length) { qabs += math.abs(proj(i)); i += 1 }
      if (qabs == 0L)
        Iterator.single(AdcBandRow(vecId, s"empty:$vecId", 0L, 0L,
          Array.emptyLongArray, carry = true, ts, Array.emptyDoubleArray))
      else {
        // the shared packer — stream and batch sketch bit-parity is
        // structural, not a convention maintained by hand
        val (lo, hi) = Similarity.packSketch(proj)
        val sig = signer(v)
        // the raw vector rides ONLY the carry row (band 0) — the absorb
        // bridge re-signs keepers for the batch store; verification and
        // registration need only proj/sketch
        (0 until bands).iterator.map { bi =>
          AdcBandRow(vecId, s"$bi:${sig(bi)}", lo, hi, proj, carry = bi == 0,
            ts, if (bi == 0) v else Array.emptyDoubleArray)
        }
      }
    }
  }

  /** The ADC estimate of the cosine between the arrival (projections,
    * with its Σ|q_k| precomputed ONCE per row — it is a per-arrival
    * constant, not a per-entry one) and a stored keeper (sign bits).
    * Score via the shared [[Similarity.adcScoreKernel]] — exact-integer,
    * deterministic across replays, bit-identical to the batch ADC. */
  private def estCosine(proj: Array[Long], qabs: Long, lo: Long, hi: Long): Double = {
    val s = Similarity.adcScoreKernel(proj, lo, hi)
    math.cos(math.Pi / 2.0 * (1.0 - s.toDouble / qabs.toDouble))
  }

  def judgeBand(key: String, rows: Iterator[AdcBandRow],
                state: GroupState[AdcBucket]): Iterator[AdcBandVerdict] =
    judgeBandImpl(0L)(key, rows, state)

  private def judgeBandImpl(horizonMs: Long)(key: String,
      rows: Iterator[AdcBandRow],
      state: GroupState[AdcBucket]): Iterator[AdcBandVerdict] = {
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
      if (r.proj.isEmpty) AdcBandVerdict(r.vecId, None, None, r.carry, None)
      else {
        val ts = if (r.ts == null) 0L else r.ts.getTime
        var qabs = 0L
        var pi = 0
        while (pi < r.proj.length) { qabs += math.abs(r.proj(pi)); pi += 1 }
        var bestAt = -1
        var bestId = Long.MaxValue
        var bestEst = -2.0
        var i = 0
        entries.foreach { e =>
          if (e.id != r.vecId) { // keeper replay never matches itself
            val est = estCosine(r.proj, qabs, e.slo, e.shi)
            if (est > bestEst || (est == bestEst && e.id < bestId)) {
              bestEst = est; bestId = e.id; bestAt = i
            }
          }
          i += 1
        }
        // bestAt >= 0 is implied by the threshold require (> -1 > the -2.0
        // no-candidate sentinel) — kept local so the index below is
        // self-evidently in bounds
        if (bestAt >= 0 && bestEst >= threshold) {
          if (entries(bestAt).lastSeenMs < ts) { // matched keeper stays hot
            entries = entries.updated(bestAt,
              entries(bestAt).copy(lastSeenMs = ts))
            changed = true
          }
          AdcBandVerdict(r.vecId, Some(bestId), Some(bestEst), r.carry,
            if (r.carry) Some(r.vec) else None)
        } else {
          val at = entries.indexWhere(_.id == r.vecId)
          if (at < 0) {
            entries = entries :+ AdcEntry(r.vecId, r.slo, r.shi, ts)
            changed = true
          } else if (entries(at).lastSeenMs < ts) { // replay re-warms
            entries = entries.updated(at, entries(at).copy(lastSeenMs = ts))
            changed = true
          }
          AdcBandVerdict(r.vecId, None, None, r.carry,
            if (r.carry) Some(r.vec) else None)
        }
      }
    }
    if (changed) {
      if (entries.isEmpty) state.remove() else state.update(AdcBucket(entries))
    }
    if (horizonMs > 0 && entries.nonEmpty)
      state.setTimeoutTimestamp(
        math.max(entries.iterator.map(_.lastSeenMs).max + horizonMs, wm + 1))
    out.iterator
  }

  /** Wire the stateful ADC judgment over an embedding stream. Output is
    * one verdict per (doc, band) — reduce with
    * [[StreamingNearDedup.verdicts]] (shared column contract). */
  def judged(docs: Dataset[StreamingEmbDedup.VecDoc]): Dataset[AdcBandVerdict] =
    docs.flatMap(d => explode(d.vecId, d.vec, null))(adcBandRowEnc)
      .groupByKey(_.bandKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        judgeBand _)(adcBucketEnc, adcBandVerdictEnc)

  /** Horizon-bounded variant: state plateaus at one dedup horizon. */
  def judgedTtl(docs: Dataset[StreamingEmbDedup.TimedVecDoc],
                horizon: java.time.Duration,
                watermarkDelay: String): Dataset[AdcBandVerdict] =
    docs.flatMap(d => explode(d.vecId, d.vec, d.ts))(adcBandRowEnc)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.bandKey)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        judgeBandImpl(horizon.toMillis) _)(adcBucketEnc, adcBandVerdictEnc)
}

object StreamingEmbDedupAdc {

  /**
   * `foreachBatch` bridge from the ADC stream to the BATCH binary-sketch
   * stores: reduce the micro-batch's band verdicts, then absorb the kept
   * vectors' full signature rows ([[Similarity.hammingSigRows]] —
   * axis-sign word + densified sketch, the store's `d64_b1_k128` config)
   * into ALL the stored search artifacts:
   * [[graft.queries.Materialized.hammingSigs]] (flat),
   * [[graft.queries.Materialized.hammingSigsIvf]] (cell-partitioned raw
   * sketches, keepers assigned to their IVF cell at absorb time by
   * [[graft.queries.Materialized.baseCells]]),
   * [[graft.queries.Materialized.hammingSigsIvfRes]] (cell-partitioned
   * RESIDUAL sketches), [[graft.queries.Materialized.q8Codes]] (flat int8
   * rerank codes) and [[graft.queries.Materialized.q8CodesIvf]]
   * (cell-partitioned int8 codes, assigned at absorb time) — so batch
   * `FromSigs` searches, both hybrid searches, the flat SQ search AND
   * the fully-composed search see the same corpus after the micro-batch; no
   * stored path serves a stale membership view. Exactly-once per (streamId, micro-batch id)
   * via each store's ledger — the family contract of
   * [[StreamingEmbDedup.absorbKeepers]]; a crash between the two absorbs
   * replays idempotently (the already-absorbed store no-ops). Returns
   * the per-doc verdicts for the caller's own sink.
   *
   * The FromSigs CALLER CONTRACT follows: once keepers are absorbed,
   * batch searches over the absorbed sig head must pass a corpus view
   * that UNIONS the kept vectors (see
   * [[graft.llm.Similarity.knnJoinHammingFromSigs]]'s contract and the
   * StreamingEmbDedupAdcSpec absorb test) — a sig id with no corpus row
   * would silently shrink the rerank pool.
   */
  def absorbKeepers(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    bandVerdicts: org.apache.spark.sql.DataFrame,
                    streamId: String, microBatchId: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = StreamingNearDedup.verdicts(bandVerdicts)
    val keptVecs = bandVerdicts.where(col("carry") && col("vec").isNotNull)
      .select(col("docId"), col("vec"))
      .join(v.where(col("keep")).select("docId"), Seq("docId"), "left_semi")
    import graft.queries.Materialized
    val batch = s"$streamId-$microBatchId"
    val sigs = Similarity.hammingSigRows(keptVecs, "docId", "vec", dims = 64)
    val codes = Similarity.q8CodeRows(keptVecs, "docId", "vec")
    val cells = Materialized.baseCells(spark, sfDir, keptVecs, "docId", "vec")
    Materialized.absorb(spark, sfDir, Materialized.hammingSigsStore, sigs, batch)
    Materialized.absorb(spark, sfDir, Materialized.hammingSigsIvfStore,
      sigs.join(cells, "id"), batch)
    Materialized.absorb(spark, sfDir, Materialized.hammingSigsIvfResStore,
      Similarity.hammingResidualSigRows(keptVecs, "docId", "vec",
        Materialized.ivfIndex(spark, sfDir).centroids, dims = 64), batch)
    Materialized.absorb(spark, sfDir, Materialized.q8CodesStore, codes, batch)
    Materialized.absorb(spark, sfDir, Materialized.q8CodesIvfStore,
      codes.join(cells, "id"), batch)
    v
  }

  final case class AdcBandRow(vecId: Long, bandKey: String, slo: Long,
                              shi: Long, proj: Array[Long], carry: Boolean,
                              ts: java.sql.Timestamp = null,
                              vec: Array[Double] = Array.emptyDoubleArray)
  /** State entry: 16 bytes of sketch + id + last-seen — the keeper's
    * vector never enters the state store. */
  final case class AdcEntry(id: Long, slo: Long, shi: Long,
                            lastSeenMs: Long = 0L)
  final case class AdcBucket(entries: Seq[AdcEntry])
  /** Column contract shared with [[StreamingNearDedup.verdicts]]:
    * `est` is the ADC-estimated cosine; `vec` rides carry rows only,
    * for the absorb bridge. */
  final case class AdcBandVerdict(docId: Long, candId: Option[Long],
                                  est: Option[Double], carry: Boolean,
                                  vec: Option[Array[Double]] = None)

  implicit val adcBandRowEnc: Encoder[AdcBandRow] =
    Encoders.product[AdcBandRow]
  implicit val adcBucketEnc: Encoder[AdcBucket] =
    Encoders.product[AdcBucket]
  implicit val adcBandVerdictEnc: Encoder[AdcBandVerdict] =
    Encoders.product[AdcBandVerdict]
}
