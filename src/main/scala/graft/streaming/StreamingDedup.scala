package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact dedup — L1 (content-fingerprint dedup, q33) in streaming
  * form: admit a document iff its fingerprint has not been seen, tracking
  * the admitted survivor and a duplicate count per fingerprint, with an
  * optional event-time TTL on the seen-set (the production dial that bounds
  * state on an infinite stream; `None` = exact global dedup).
  *
  * Batch equivalence contract: with TTL disabled and documents arriving in
  * id order, the admitted set is IDENTICAL to q33's min-id survivors over
  * the same corpus, in any batch partitioning of the stream — proven by
  * `StreamingDedupSpec` against the same fixture and the same md5-prefix
  * fingerprint expression.
  *
  * Scale notes: state is hash-partitioned by fingerprint (the same shuffle
  * batch L1 uses for its groupBy); per-key state is O(1) — survivor id,
  * admission time, duplicate count — so a boilerplate mega-cluster costs
  * time, not memory (the streaming analog of the L4 hot-bucket argument).
  * TTL expiry emits a tombstone, so a downstream sink can age the survivor
  * out of its own index.
  */
object StreamingDedup {

  /** One input document: id, event-time micros, content fingerprint
    * (md5-prefix BIGINT — `TextFunctions.md5Fingerprint`).
    */
  case class Doc(doc_id: Long, tsu: Long, fp: Long)

  /** Per-fingerprint state: the admitted survivor and how many duplicates
    * it has absorbed since admission.
    */
  case class SeenState(firstDocId: Long, firstTsu: Long, lastTsu: Long,
      nDups: Long)

  /** One decision per input document (admitted or suppressed), or a
    * tombstone (`expired = true`) when the TTL fires for a fingerprint.
    */
  case class Decision(fp: Long, doc_id: Long, admitted: Boolean,
      survivor: Long, n_dups: Long, expired: Boolean)

  /** Pure admission step — reused by the spec for single-row cross-checks. */
  def admitOne(s: Option[SeenState], d: Doc): (SeenState, Decision) = s match {
    case None =>
      (SeenState(d.doc_id, d.tsu, d.tsu, 0L),
        Decision(d.fp, d.doc_id, admitted = true, d.doc_id, 0L, expired = false))
    case Some(st) =>
      val next = st.copy(lastTsu = math.max(st.lastTsu, d.tsu), nDups = st.nDups + 1)
      (next, Decision(d.fp, d.doc_id, admitted = false, st.firstDocId, next.nDups,
        expired = false))
  }

  /** The flatMapGroupsWithState function. Rows within a batch are admitted
    * in (tsu, doc_id) order so the survivor is deterministic regardless of
    * shuffle arrival order.
    */
  def dedupFunc(ttlMicros: Option[Long])(
      key: Long, rows: Iterator[Doc], state: GroupState[SeenState]): Iterator[Decision] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(Decision(key, s.firstDocId, admitted = false, s.firstDocId,
        s.nDups, expired = true))
    } else {
      val sorted = rows.toSeq.sortBy(d => (d.tsu, d.doc_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        var st = state.getOption
        val out = sorted.map { d =>
          val (next, dec) = admitOne(st, d)
          st = Some(next)
          dec
        }
        state.update(st.get)
        ttlMicros.foreach { ttl =>
          // clamped above the current watermark: for TTL < watermark delay,
          // a late row would otherwise set a timeout at-or-before the
          // watermark, which the state API rejects (query-killing IAE)
          state.setTimeoutTimestamp(math.max(
            st.get.lastTsu / 1000 + ttl / 1000,
            state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
      }
    }
  }

  /** Wire a streaming Dataset[Doc] into the dedup. The caller owns the
    * sink (`.writeStream.outputMode("append")` on the decision stream).
    */
  def dedupStream(docs: Dataset[Doc], ttlMicros: Option[Long],
      watermarkDelay: String): Dataset[Decision] = {
    import docs.sparkSession.implicits._
    graft.core.LocalStorage.install(docs.sparkSession)
    val timeout =
      if (ttlMicros.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .withColumn("ts", timestamp_micros(col("tsu")))
      .withWatermark("ts", watermarkDelay)
      .as[Doc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(dedupFunc(ttlMicros))
  }
}
