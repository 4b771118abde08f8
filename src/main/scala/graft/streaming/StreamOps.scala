package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the event/dedup operators.
  *
  * The reference has no streaming at all (SURVEY.md §2.6) — its
  * re-sync-on-demand loop with the accumulate merge IS a hand-rolled
  * incremental state update. These lift the batch column expressions
  * unchanged onto `readStream` inputs: the transformations are
  * identical Catalyst plans, only the sink/trigger layer differs, so
  * batch specs double as semantics tests for the streaming path.
  *
  * Scale notes: every op below keys its state by a bounded-cardinality
  * key (window × type, user session, content hash within watermark),
  * so state store size is O(active keys), not O(stream length); the
  * watermark bounds both late data and state retention.
  */
object StreamOps {

  /** E1 streaming: tumbling 1-hour counts per event type with a
    * watermark for late-data cutoff. Append-mode capable: windows
    * finalize when the watermark passes window end. */
  def tumblingCounts(events: DataFrame,
      watermark: String = "2 hours", width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** E2 streaming: session windows per user with a 30-minute
    * inactivity gap — the built-in `session_window` replaces the
    * batch gaps-and-islands window sort; state is one open session
    * per active user. */
  def sessionize(events: DataFrame,
      watermark: String = "2 hours", gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup: first occurrence per content fingerprint
    * within the watermark horizon — `dropDuplicates` keyed on the
    * hash keeps state bounded by the watermark, the standard
    * at-most-once-per-key ingestion guard for a training-data feed. */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
      watermark: String = "24 hours"): DataFrame =
    docs
      .withColumn("content_key",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .withWatermark(tsCol, watermark)
      .dropDuplicates("content_key")

  /** E5 streaming: stream-stream INTERVAL join — clicks matched to
    * the global error windows [err_ts, err_ts + windowSec) they fall
    * in. Spark REFUSES a stream-stream join with no equality
    * predicate (there is no key to symmetric-hash the state on), so
    * the batch range-join rewrite (EventQueries.e5RangeJoin) is what
    * makes the streaming form EXIST at all: both sides key by the
    * interval-width time bucket (errors explode onto their two
    * covering buckets), giving the engine an equi key for
    * StreamingSymmetricHashJoin, and the exact range predicate rides
    * in the join condition where — together with the two watermarks —
    * it bounds both state stores: a buffered row is evicted as soon
    * as the other side's watermark passes its last possible match.
    * Inner join, append mode; each match emits once (a click's
    * single bucket meets at most one of an error's two rows). */
  def rangeJoinStream(clicks: DataFrame, errors: DataFrame,
      windowSec: Int = 600, watermark: String = "1 hour"): DataFrame = {
    val e = errors
      .select(col("event_id").as("err_id"), col("ts").as("err_ts"))
      .withColumn("ebkt", explode(array(
        floor(col("err_ts").cast("double") / windowSec).cast("long"),
        floor(col("err_ts").cast("double") / windowSec).cast("long") + 1)))
      .withWatermark("err_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"),
        col("ts").as("click_ts"), col("value"))
      .withColumn("cbkt",
        floor(col("click_ts").cast("double") / windowSec).cast("long"))
      .withWatermark("click_ts", watermark)
    c.join(e,
        col("cbkt") === col("ebkt") &&
        col("click_ts") >= col("err_ts") &&
        col("click_ts") < col("err_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("err_id"), col("click_id"), col("click_ts"), col("value"))
  }

  /** Streaming decontamination: score each arriving micro-batch of
    * (doc_id, text) rows against a STATIC benchmark gram set (built
    * once via TextQueries.hashedGramsOf over the eval corpus — MBs
    * against a 100 TB stream, so it is BROADCAST and the check is a
    * map-side join). Run inside foreachBatch: the per-doc gram
    * count is a within-batch aggregation, so the operator is
    * STATELESS — no watermark, no state store, nothing to evict.
    * Same expression tree as the batch t_decontaminate, so both
    * paths flag identical grams. */
  def decontaminateBatch(batch: DataFrame, benchGrams: DataFrame,
      n: Int = 5): DataFrame = {
    val hits = graft.queries.TextQueries.hashedGramsOf(batch, n)
      .join(broadcast(benchGrams.select(col("g")).distinct()), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_grams"))
    batch.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"))
  }

  /** Build the Bloom decontamination filter ONCE from a benchmark
    * corpus, for decontaminateBloomBatch below — the stream-start
    * analog of t_decontaminate_bloom's build leg (the same
    * distributive graft_bloom_agg; the result is mBits/8 bytes no
    * matter how large the benchmark is). */
  def bloomFilterOf(bench: DataFrame, n: Int = 5): IndexedSeq[Long] =
    graft.queries.TextQueries.bloomWordsOf(
      graft.queries.TextQueries.bloomGramHashes(bench, n),
      graft.queries.TextQueries.BloomMBits, graft.queries.TextQueries.BloomK)

  /** Streaming Bloom decontamination: probe each arriving micro-batch
    * against a pre-built filter. Stateless per batch, and — unlike
    * decontaminateBatch's broadcast gram set — the per-batch plan
    * carries a CONSTANT-size literal (16 KiB at the default), so the
    * stream's cost profile is independent of benchmark growth. Same
    * hashed-gram + probe expression tree as t_decontaminate_bloom, so
    * the batch query's DuckDB oracle doubles as the semantics check. */
  def decontaminateBloomBatch(batch: DataFrame, words: IndexedSeq[Long],
      n: Int = 5): DataFrame =
    // the probe modulus derives from words.length, so a filter built
    // at ANY size probes correctly here
    graft.queries.TextQueries.bloomProbeCounts(
      graft.queries.TextQueries.bloomGramHashes(batch, n), batch, words,
      graft.queries.TextQueries.BloomK)

  /** Reference value-histogram per (event_type, bin) — the trusted
    * baseline a streaming drift monitor compares arriving batches
    * against (the stream-shaped half of `e10_drift`'s batch audit:
    * there the two halves of one corpus compare against each other;
    * here a trusted window is profiled ONCE and each micro-batch
    * compares against it). Output is types×bins rows — collect or
    * persist it; it is constant-size however large the profiled
    * window was. */
  def driftReferenceOf(events: DataFrame,
      binWidth: Double = 25.0, nBins: Int = 20): DataFrame = {
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    events
      .groupBy(col("event_type"),
        graft.queries.EventQueries.valueBin(col("value"), binWidth, nBins)
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bin"),
        (col("n") / sum(col("n")).over(byType)).as("ref_rate"))
  }

  /** Per-micro-batch drift against the reference profile: the
    * arriving batch's per-(type, bin) rates joined FULL-OUTER with
    * the reference grid — full outer because both absences are
    * signals (a reference bin the batch no longer populates has
    * drifted to zero; a batch bin the reference never saw is novel
    * mass). Stateless per batch; the reference is a types×bins frame
    * on the small side of every join. Same bin expression as the
    * batch audit (EventQueries.valueBin), so thresholds tuned on
    * e10_drift transfer unchanged. */
  def driftBatch(batch: DataFrame, ref: DataFrame,
      binWidth: Double = 25.0, nBins: Int = 20): DataFrame = {
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    val h = batch
      .groupBy(col("event_type"),
        graft.queries.EventQueries.valueBin(col("value"), binWidth, nBins)
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rate", col("n") / sum(col("n")).over(byType))
    h.join(ref, Seq("event_type", "bin"), "full_outer")
      .select(col("event_type"), col("bin"),
        coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("rate"), lit(0.0)), 6).as("rate"),
        round(coalesce(col("ref_rate"), lit(0.0)), 6).as("ref_rate"),
        round(abs(coalesce(col("rate"), lit(0.0)) -
          coalesce(col("ref_rate"), lit(0.0))), 6).as("delta"))
  }

  /** Streaming quality gate: apply the composite keep/drop rule
    * bundle to each arriving micro-batch of (doc_id, text) rows.
    * All features (token/stopword ratios, uniq-token and top-bigram
    * fractions) are within-document aggregates, so the operator is
    * STATELESS per micro-batch — no watermark, no state store. The
    * scoring IS `TextQueries.qualityGateOf` (one shared expression
    * tree), so the batch query's DuckDB oracle doubles as the
    * streaming semantics check. */
  def qualityGateBatch(batch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    graft.queries.TextQueries.qualityGateOf(batch)
  }

  /** A doc tagged with its balancing key (domain, lang, source …). */
  case class DocKey(doc_id: Long, key: String, ts: java.sql.Timestamp)

  /** Per-key corpus cap — "at most N documents per domain/language"
    * — the balancing step of a training-data feed. This is genuinely
    * CUSTOM state: `dropDuplicates` can keep first-1 per key, but
    * first-N-across-micro-batches needs a counter that survives
    * batches, i.e. `flatMapGroupsWithState` (the §Streaming escape
    * hatch used only when built-ins can't express the semantics).
    *
    * State = one Long per key (emitted count), evicted by event-time
    * timeout `retention` past the watermark, so the store is
    * O(active keys), not O(stream length). Within a batch, docs are
    * ordered (ts, doc_id) so the kept set is deterministic. After a
    * key's state is evicted, its budget resets — the cap applies
    * within the retention horizon, which is what a continuously
    * ingesting pipeline wants (and the reason eviction is explicit,
    * not accidental). */
  def capPerKey(docs: Dataset[DocKey], maxPerKey: Int,
      watermark: String = "1 hour",
      retentionMs: Long = 24L * 3600 * 1000): Dataset[DocKey] = {
    import docs.sparkSession.implicits._
    docs.withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, DocKey](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[DocKey], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val emitted = state.getOption.getOrElse(0L)
            val batch = rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            val take = batch.take(math.max(0, maxPerKey - emitted.toInt))
            state.update(emitted + take.size)
            // Timeout anchors on the key's LATEST EVENT, not the
            // current watermark: on the first batch the watermark is
            // still epoch-0, and watermark+retention would expire the
            // key immediately after one batch (observed: the budget
            // reset every batch).
            val lastEvent = batch.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastEvent, state.getCurrentWatermarkMs()) + retentionMs)
            take.iterator
          }
      }
  }

  /** A purchase event reduced to its SCD2-relevant fields. */
  case class TierEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, tier: Int)

  /** Per-user SCD2 state: the open interval's tier and start. */
  case class TierOpen(tier: Int, validFromMs: Long)

  /** A CLOSED validity interval (append-safe streaming output). */
  case class TierInterval(user_id: Long, tier: Int,
    valid_from: String, valid_to: String, is_current: Boolean)

  /** Streaming SCD Type-2 maintenance — the continuous twin of the
    * batch `k7_scd2` reconstruction: per-user tier state lives in the
    * state store (one small row per ACTIVE user); each micro-batch
    * sorts its group's purchases by (ts, event_id) — the batch
    * query's exact tie order — and every tier CHANGE emits the
    * interval it closes. Only CLOSED intervals are emitted (an open
    * interval would need retraction when it later closes, which
    * append mode cannot express); the open tail lives in the state
    * store, and `k7Scd2` over the accumulated lake recovers it —
    * closed rows from this stream are spec-pinned row-identical to
    * the batch query's `is_current = false` rows on the same events.
    *
    * Ordering contract: correct for events that arrive in micro-batch
    * order per user (an event older than the open interval's start
    * would reorder history — the same contract every streaming SCD
    * maintains; route late corrections through the batch rebuild). */
  def scd2Stream(events: DataFrame): Dataset[TierInterval] = {
    import events.sparkSession.implicits._
    val fmt = "yyyy-MM-dd HH:mm:ss"
    def render(ms: Long): String = {
      val f = new java.text.SimpleDateFormat(fmt)
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(ms))
    }
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"),
        floor(col("value") / 100).cast("int").as("tier"))
      .as[TierEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TierOpen, TierInterval](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TierEvent], state: GroupState[TierOpen]) =>
          // full-precision order: getTime alone truncates to millis,
          // so two purchases in the same millisecond but different
          // microseconds would tie-break on event_id where the batch
          // k7_scd2 window (ORDER BY ts, event_id) sees distinct ts
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[TierInterval]
          for (e <- sorted) {
            cur match {
              case None =>
                cur = Some(TierOpen(e.tier, e.ts.getTime))
              case Some(s) if s.tier != e.tier =>
                out += TierInterval(uid, s.tier,
                  render(s.validFromMs), render(e.ts.getTime),
                  is_current = false)
                cur = Some(TierOpen(e.tier, e.ts.getTime))
              case _ => () // same tier: interval stays open
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Per-user late-SCD2 state: finalized frontier, the open interval
    * of the SEALED prefix, and the reorder buffer of (us, event_id,
    * tier) purchases still inside the lateness horizon — the
    * SessLateSt discipline applied to the tier automaton. */
  case class Scd2LateSt(frontierUs: Long, open: Option[TierOpenUs],
    buf: Seq[(Long, Long, Int)])

  /** The late twin's open interval, in microseconds (the in-order
    * twin's TierOpen carries millis — the reorder buffer compares at
    * full micro precision, so the open interval must too). */
  case class TierOpenUs(tier: Int, validFromUs: Long)

  /** Output of scd2StreamLate: `kind = "interval"` rows are CLOSED
    * validity intervals sealed by the watermark (append-final — no
    * later in-watermark arrival can reorder below the seal);
    * `kind = "late"` rows dead-letter an outside-watermark purchase
    * (tier −1, empty interval strings), the route to the batch
    * rebuild. */
  case class Scd2LateOut(user_id: Long, kind: String, tier: Int,
    valid_from: String, valid_to: String, late_event_id: Long)

  /** How far below the watermark a purchase can arrive and still be
    * OBSERVED as a dead letter rather than silently dropped by the
    * engine (see the shifted-watermark note in scd2StreamLate). */
  val Scd2DeadLetterHorizonDays = 365L

  /** Watermark-bounded late-data SCD2 — closes scd2Stream's in-order
    * delivery contract the same way sessionStreamLate closed
    * sessionStream's: purchases may arrive out of order per user up
    * to the watermark delay. Each micro-batch: arrivals above the
    * finalized frontier enter the per-user reorder buffer; the buffer
    * prefix older than the current event-time watermark folds into
    * the tier automaton in the batch query's exact (ts, event_id)
    * order, emitting each interval it closes — and ONLY those: a
    * close implied by the still-buffered tail could be reordered by a
    * later in-watermark arrival (exactly the retraction append mode
    * cannot express), so unsealed closes stay in the buffer and the
    * batch `k7_scd2` over the lake recovers the open tail. Emitted
    * closed intervals are spec-pinned equal to the batch
    * reconstruction's sealed closed rows over all accepted events —
    * including a late tier change the in-order twin would misplace.
    * Arrivals at-or-below the frontier emit a dead-letter row and
    * change nothing.
    *
    * Two mechanics differ from the session/funnel twins, both forced
    * by emitting AT fold time (their summaries replay the buffered
    * tail, so they need neither):
    *  - EventTimeTimeout wake-ups — a sealed close must be emitted
    *    even if its user never sends another event;
    *  - a SHIFTED watermark column: with event-time timeout the
    *    engine silently drops input older than the watermark before
    *    the group ever sees it, which would erase the dead-letter
    *    signal. The watermark rides `ts + horizon` with the delay
    *    widened by the same horizon — the watermark VALUE (and so
    *    sealing and timeouts) is bit-identical to the natural
    *    `withWatermark(ts, delay)`, while the engine's drop predicate
    *    only fires `horizon` past it. A purchase more than
    *    `Scd2DeadLetterHorizonDays` late is dropped without a dead
    *    letter — the documented observability bound. */
  def scd2StreamLate(events: DataFrame, delaySeconds: Long = 600L)
      : Dataset[Scd2LateOut] = {
    import events.sparkSession.implicits._
    val fmt = "yyyy-MM-dd HH:mm:ss"
    def render(us: Long): String = {
      val f = new java.text.SimpleDateFormat(fmt)
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(us / 1000L))
    }
    val horizonSec = Scd2DeadLetterHorizonDays * 86400L
    events.filter(col("event_type") === "purchase")
      .withColumn("wmts",
        col("ts") + expr(s"INTERVAL $horizonSec SECONDS"))
      .withWatermark("wmts", s"${horizonSec + delaySeconds} seconds")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"),
        floor(col("value") / 100).cast("int").as("tier"), col("wmts"))
      .as[(Long, java.sql.Timestamp, Long, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2LateSt, Scd2LateOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long,
            rows: Iterator[(Long, java.sql.Timestamp, Long, Int, java.sql.Timestamp)],
            state: GroupState[Scd2LateSt]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.getOrElse(
            Scd2LateSt(Long.MinValue, None, Vector.empty))
          val (accepted, dead) = rows.toSeq.partition(e =>
            micros(e._2) >= st.frontierUs)
          val buf = (st.buf ++ accepted.map(e => (micros(e._2), e._3, e._4)))
            .sortBy(t => (t._1, t._2)) // the batch window's (ts, event_id) order
          val (toFold, keep) = buf.partition(_._1 < wmUs)
          var open = st.open
          val out = Seq.newBuilder[Scd2LateOut]
          for ((us, _, tier) <- toFold) {
            open match {
              case None => open = Some(TierOpenUs(tier, us))
              case Some(s) if s.tier != tier =>
                out += Scd2LateOut(uid, "interval", s.tier,
                  render(s.validFromUs), render(us), -1L)
                open = Some(TierOpenUs(tier, us))
              case _ => () // same tier: interval stays open
            }
          }
          state.update(
            Scd2LateSt(math.max(st.frontierUs, wmUs), open, keep))
          // unlike the session/funnel twins (whose summaries REPLAY
          // the buffered tail, so they never need waking), interval
          // emission happens only at fold time — arm an event-time
          // timeout at the earliest buffered row so the group is
          // invoked when the watermark seals it, even if the user
          // never sends another event
          if (keep.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              keep.head._1 / 1000L, state.getCurrentWatermarkMs() + 1))
          out.result().iterator ++ dead.iterator.map(e =>
            Scd2LateOut(uid, "late", -1, "", "", e._3))
      }
  }

  /** Bucket-partition count of the lake-table LSH index. Both index
    * tables are written `partitionBy("bkt")` so per-batch joins read
    * only the partitions the batch can possibly touch (below). 64 is
    * sized for partition-count hygiene, not pruning ratio: at 100 TB
    * each bucket is still millions of docs, but a micro-batch of a
    * few hundred docs touches a bounded, enumerable set of buckets
    * and the scan skips every other partition's files entirely. */
  val IndexBuckets = 64

  /** Partition bucket of a band row: derived from `band_key` (the
    * xxhash64 band signature — already uniform), NOT from `band`
    * (only 8 values, every batch touches all of them — zero
    * pruning). Candidates require band_key EQUALITY, so an index row
    * matching any batch row must share its bucket: pruning to the
    * batch's bucket set is lossless. */
  def bandBucket(bandKey: Column, buckets: Int = IndexBuckets): Column =
    pmod(bandKey, lit(buckets)).cast("int")

  /** Partition bucket of a shingle-set row: hash of doc_id (raw ids
    * may be sequential or strided — hashing keeps buckets uniform
    * under any id-assignment scheme). Verification fetches shingle
    * sets by exact old_id, so pruning to the candidate ids' bucket
    * set is lossless. */
  def docBucket(docId: Column, buckets: Int = IndexBuckets): Column =
    pmod(xxhash64(docId), lit(buckets)).cast("int")

  /** Streaming NEAR-dup ingestion: each micro-batch of (doc_id, text)
    * is MinHash-banded, checked against the accumulated corpus index
    * AND against itself, and only novel docs survive — the
    * production shape of continuous corpus building.
    *
    * The LSH state (band rows + hashed shingle sets of every accepted
    * doc) lives as parquet tables under `indexPath`, NOT in the
    * streaming state store: at 100 TB the index is far too large for
    * per-executor state, and a lake table is readable by batch
    * backfills and the batch dedup queries (the band space is
    * identical — TextQueries.minhashBandsOf is the one definition).
    * WRITE discipline is single-writer: plain parquet append has no
    * commit protocol, so concurrent ingest jobs would collide in the
    * staging directory and race past each other's dedup window — run
    * one ingest query per index, or back the index with a
    * transactional table format. The index joins broadcast the
    * (tiny) batch side, so the accumulated index is streamed through
    * a shuffle-free broadcast join rather than shuffled per batch.
    *
    * Both index tables are PARTITION-PRUNED per batch: they are
    * written `partitionBy("bkt")` (bandBucket / docBucket above) and
    * each batch reads them through an `isin` filter over the bucket
    * set the batch actually touches — the band join prunes to the
    * batch band-keys' buckets, the shingle fetch prunes to the
    * surviving candidates' old-id buckets. At 100 TB of accumulated
    * index this is the difference between a micro-batch scanning the
    * whole index and scanning a bounded bucket subset (PlanSpec pins
    * that the partition filters reach the scan). Candidate
    * generation is bucket-local exactly as in the batch path; only
    * band-colliding pairs pay the exact shingle-Jaccard
    * verification.
    *
    * In-batch duplicates resolve greedily: a doc is dropped if it
    * matches ANY smaller-id doc in the batch, surviving or not
    * (transitive chains keep only the smallest member — conservative
    * and deterministic; a chain's middle doc being itself a dup does
    * not resurrect its neighbors). Returns the surviving
    * (doc_id, text) rows after appending their index rows. Wire as
    * `writeStream.foreachBatch { (b, id) => nearDupIngestBatch(path)(b, id) }`
    * with the caller persisting survivors wherever the clean corpus
    * lands. */
  /** Bucket count assumed for a partitioned table whose meta file is
    * ABSENT: such tables predate meta tracking, and every one of them
    * was written with the only count ever shipped. FROZEN FOREVER —
    * unlike the live `IndexBuckets`, this constant describes data
    * already on disk and must never follow an `IndexBuckets` change. */
  private[graft] val PreMetaBuckets = 64

  /** Outcome of reading a table's bucket-meta file. `MetaAbsent` and
    * `MetaCorrupt` are deliberately distinct states: absent means
    * "pre-meta table, layout known to be PreMetaBuckets", while a
    * present-but-unparseable file (or an orphaned `.tmp` from a
    * mid-write crash) means the recorded layout is UNKNOWN — reads
    * must fall back to a lossless full scan and appends must not
    * stamp a value that would lie about historical rows. */
  private sealed trait MetaRead
  private case object MetaAbsent extends MetaRead
  private case object MetaCorrupt extends MetaRead
  private final case class MetaValue(n: Int) extends MetaRead

  /** The persisted-layout descriptor of one index table: the raw
    * frame, its legacy flag (pre-bucketing layout, no `bkt` column),
    * and the recorded bucket-meta state. */
  private case class IndexTable(df: DataFrame, legacy: Boolean, meta: MetaRead)

  /** Name of the per-table meta file recording the bucket count the
    * table's `bkt` partition values were computed with. The count is
    * BAKED INTO THE DATA (`pmod(hash, n)`), so pruning with a
    * different live `IndexBuckets` would silently drop matching rows
    * — near-dups would slip through with no error. The meta file
    * makes the mismatch detectable: reads fall back to a lossless
    * full scan until `compactNearDupIndex` rewrites the table (and
    * its meta) under the current constant. */
  private val BucketsMetaFile = "_graft_buckets"

  private def readBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): MetaRead = {
    val m = new org.apache.hadoop.fs.Path(dir, BucketsMetaFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, BucketsMetaFile + ".tmp")
    if (!fs.exists(m)) {
      // an orphaned tmp means writeBucketMeta crashed mid-swap: the
      // table HAD a recorded count we can no longer trust — that is
      // corrupt (full-scan fallback), NOT a pre-meta table
      if (fs.exists(tmp)) MetaCorrupt else MetaAbsent
    } else {
      // Try covers BOTH an unparseable payload and a failed read
      // (checksum mismatch, truncation, IO error): a 2-byte meta file
      // being unreadable must degrade to the lossless full scan, not
      // kill the ingest batch.
      scala.util.Try {
        val len = fs.getFileStatus(m).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(m)
        try in.readFully(0, buf) finally in.close()
        new String(buf, "UTF-8").trim.toInt
      }.toOption match {
        case Some(n) => MetaValue(n)
        case None => MetaCorrupt // garbage/unreadable: layout unknown
      }
    }
  }

  /** Stamp the meta file via tmp + rename. Every crash window is
    * covered by readBucketMeta: mid-tmp-write leaves the old file
    * intact; between delete and rename the orphaned tmp reads as
    * MetaCorrupt (full scan) rather than MetaAbsent (which would
    * assume PreMetaBuckets and prune lossily on a non-64 table). */
  private def writeBucketMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, n: Int): Unit = {
    val m = new org.apache.hadoop.fs.Path(dir, BucketsMetaFile)
    val tmp = new org.apache.hadoop.fs.Path(dir, BucketsMetaFile + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(m)) fs.delete(m, false)
    if (!fs.rename(tmp, m))
      throw new java.io.IOException(s"could not move bucket meta $tmp into place")
  }

  /** One listing of an index table per batch: the raw frame plus its
    * layout descriptor. `None` for an absent table OR a schema-less
    * directory (an empty micro-batch can leave `_SUCCESS` with no
    * parquet files — that must read as "no index yet", not crash
    * every later batch; the same path covers a meta file stamped
    * just before a crashed first append). A partitioned table whose
    * meta file is absent predates meta tracking and reads as
    * PreMetaBuckets; an unparseable meta reads as MetaCorrupt, which
    * forces the lossless full scan. */
  private def loadIndex(spark: org.apache.spark.sql.SparkSession,
      target: String): Option[IndexTable] = {
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    if (!fs.exists(p)) None
    else try {
      val t = spark.read.parquet(target)
      val legacy = !t.columns.contains("bkt")
      Some(IndexTable(t, legacy, readBucketMeta(fs, p)))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Heal an interrupted maintained-table swap: DirSwap.heal with the
    * `__old` aside copy. Every reader and ingester of the index
    * families heals first (readIndex, readPhashIndex, ivfIngestBatch,
    * VectorIndex.searchIvf/searchIvfPq); otherwise the next batch would
    * read batch-0 semantics and silently lose the accumulated index.
    * `private[graft]` so the serving paths outside this object apply
    * the same heal-first discipline. */
  private[graft] def recoverCompaction(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sink.DirSwap.heal(fs, p, graft.sink.DirSwap.old(p))

  /** Per-acquisition-unique compaction staging path —
    * `<sub>__compact_<lease name>` (epoch + token embedded), the
    * compaction twin of the rebuilds' per-acquisition staging roots:
    * with a FIXED tmp name, a fenced older compaction's long Spark
    * write could commit its task files AFTER a newer winner staged
    * the same tmp, and the winner's swap (its lease check passes —
    * it IS newest) would rename a polluted copy over the live table.
    * A fenced writer's late write lands in ITS uniquely-named tmp
    * instead — inert (its own swap aborts at the lease check) and
    * garbage-collected here — STRICTLY OLDER EPOCHS ONLY: the GC
    * itself must be epoch-fenced, or an older writer waking between
    * its acquire and this listing could delete a NEWER winner's
    * in-flight tmp (the reverse of the pollution it closes). The
    * epoch rides in the name, so the fence is a name parse; the
    * legacy suffix-less fixed name reads as epoch 0 (always
    * collected). */
  private def compactStaging(fs: org.apache.hadoop.fs.FileSystem,
      parent: String, sub: String,
      lease: MaintenanceLease): org.apache.hadoop.fs.Path = {
    val prefix = s"${sub}__compact"
    def tmpEpoch(name: String): Long =
      leaseEpoch(name.stripPrefix(prefix + "_")).getOrElse(0L)
    val pp = new org.apache.hadoop.fs.Path(parent)
    if (fs.exists(pp))
      fs.listStatus(pp).map(_.getPath)
        .filter(t => t.getName.startsWith(prefix) &&
          tmpEpoch(t.getName) < lease.epoch)
        .foreach(t => fs.delete(t, true))
    new org.apache.hadoop.fs.Path(s"$parent/${prefix}_${lease.name}")
  }

  /** THE checked tmp+swap every maintained-table rewrite uses — one
    * call instead of one per family (heal first, stage into the
    * per-acquisition tmp, then graft.sink.DirSwap.commit with the
    * lease re-checked at the point of no return). `write` stages the
    * new table contents into the tmp path it receives.
    * Returns false (nothing written, nothing swapped) for an absent
    * table unless `createIfAbsent` — compactions rewrite what exists;
    * first-write surfaces (the pins overlay, a fresh stats ledger)
    * create. */
  private def swapInTable(fs: org.apache.hadoop.fs.FileSystem,
      parent: String, sub: String, lease: MaintenanceLease,
      createIfAbsent: Boolean = false)(write: String => Unit): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$parent/$sub")
    recoverCompaction(fs, p)
    if (!createIfAbsent && !fs.exists(p)) return false
    val tmp = compactStaging(fs, parent, sub, lease)
    write(tmp.toString)
    graft.sink.DirSwap.commit(fs, tmp, p, graft.sink.DirSwap.old(p),
      () => checkMaintenanceLease(fs, lease))
    true
  }

  /** Fold rewrite of a PARTITIONED table: zero surviving rows DELETES
    * the table — a partitionBy write of an empty frame emits only
    * `_SUCCESS` (no part files, hence no schema), which every later
    * read would throw on, and exactly that state is reachable when
    * deletion tombstones cover the whole table. Absence is the one
    * empty state every reader already handles (batch-0 semantics),
    * and the next ingest append recreates the partitioned layout.
    * Nonzero rows take the normal [[swapInTable]] path. */
  private def foldPartitioned(fs: org.apache.hadoop.fs.FileSystem,
      parent: String, sub: String, lease: MaintenanceLease,
      dfOf: => DataFrame, partCol: String, nParts: Int,
      writeMeta: Option[org.apache.hadoop.fs.Path => Unit] = None): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$parent/$sub")
    recoverCompaction(fs, p)
    if (!fs.exists(p)) return false
    val df = dfOf
    if (df.isEmpty) {
      checkMaintenanceLease(fs, lease)
      fs.delete(p, true)
      true
    } else swapInTable(fs, parent, sub, lease) { tmp =>
      df.repartition(nParts, col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
      writeMeta.foreach(_(new org.apache.hadoop.fs.Path(tmp)))
    }
  }

  // ------------------------------------------------------------------
  // Deletion / tombstones (the forget path of the maintained indexes)
  // ------------------------------------------------------------------

  /** Tombstone log table under each index root — one `tid` (Long)
    * column, append-only between folds. The deletion contract of the
    * six maintained index families (text LSH near-dup, phash media
    * near-dup, clusters, graph-ANN, IVF, weighted sample):
    * [[deleteDocs]] appends ids here; every SERVING
    * read resolves the log (a tombstoned doc stops being returned,
    * paired, or traversed immediately — no rebuild); every family's
    * existing compaction point FOLDS it (the rows are physically
    * dropped and the folded tombstone files cleared, file-precisely,
    * so a delete issued DURING a fold is never lost). Takedowns,
    * opt-outs, and eval-contamination removals therefore cost one
    * tiny append now and ride the next scheduled compaction for the
    * physical erase — rebuild-to-forget retired.
    *
    * Semantics, pinned by spec and the delete-bearing oracle rows:
    *  - serving filters are row-level on the id — a deleted doc never
    *    appears in results or candidate sets, and derived STRUCTURE
    *    for survivors is untouched (cluster labels keep their value
    *    even when the label equals a deleted doc's id; graph
    *    adjacency lists keep their stored ranking, minus the deleted
    *    rows — exactly what the rendered oracles replay);
    *  - re-ingesting a tombstoned id does NOT resurrect it while its
    *    tombstone is unfolded (reads keep filtering); after the fold
    *    physically erased it, a later re-ingest is a brand-new doc;
    *  - duplicates in the log are harmless (reads dedup, folds
    *    clear);
    *  - the HLL profile index is the documented exception: register
    *    max is irreversible, sketches cannot delete — forget there
    *    means recomputing `CoreQueries.qHllDistinct` over the
    *    post-delete corpus (see [[hllIngestBatch]]).
    * Not underscore-prefixed: it is a real parquet table (read with
    * spark.read), invisible to the other tables' readers because
    * every reader targets its own subdirectory. */
  private[graft] val TombstonesDir = "tombstones"

  /** Append deletion tombstones to an index root. `ids`' FIRST column
    * is the id (cast to long; nulls dropped). Returns the number of
    * distinct ids appended. Cheap by design — one tiny append; the
    * physical erase rides the family's next compaction/rebuild.
    * Writer discipline: call it from the process that owns the
    * index's maintenance schedule (the single-maintenance-writer
    * contract); the folds' file-precise clearing additionally keeps a
    * delete racing a fold from being lost. */
  def deleteDocs(indexPath: String, ids: DataFrame): Long = {
    val spark = ids.sparkSession
    val ts = ids.select(col(ids.columns.head).cast("long").as("tid"))
      .filter(col("tid").isNotNull).distinct()
      // cut lineage: the ids may derive from the index's own tables
      .localCheckpoint(true)
    val n = ts.count()
    if (n > 0)
      ts.coalesce(1).write.mode("append")
        .parquet(s"$indexPath/$TombstonesDir")
    n
  }

  /** The resolved (distinct) tombstone ids, or None when the index
    * has none — the zero-cost fast path every read takes on an index
    * that never saw a delete. */
  private[graft] def loadTombstones(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$TombstonesDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(p.toString)
      .select(col("tid")).distinct())
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Row-level tombstone resolution: `df` minus rows whose `idCol` is
    * tombstoned under `indexPath`. One anti-join on the uniform id
    * key (the log is tiny relative to the corpus — Spark broadcasts
    * it under the threshold); identity when no log exists. */
  private[graft] def minusTombstones(df: DataFrame, idCol: String,
      indexPath: String): DataFrame =
    loadTombstones(df.sparkSession, indexPath) match {
      case None => df
      case Some(ts) =>
        df.join(ts.select(col("tid").as(idCol)), Seq(idCol), "left_anti")
    }

  /** The tombstone parquet files present NOW — a fold lists them
    * BEFORE reading, folds exactly what it read, and clears exactly
    * what it listed: a tombstone appended mid-fold keeps its file and
    * keeps filtering until the next fold, instead of being cleared
    * unfolded (lost). */
  private[graft] def tombstoneParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$TombstonesDir")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  /** File-precise clear of folded tombstones (see
    * [[tombstoneParquetFiles]]). A directory left without parquet
    * files reads as "no tombstones" on the next load. */
  private[graft] def clearTombstoneFiles(fs: org.apache.hadoop.fs.FileSystem,
      files: Seq[org.apache.hadoop.fs.Path]): Unit =
    files.foreach(f => fs.delete(f, false))

  /** Read one index table pruned to `bkts` — the `isin` over the
    * partition column becomes a static PartitionFilter at the scan,
    * so only those buckets' files are listed and read (pinned in
    * PlanSpec). An absent/empty table reads as empty with `schemaOf`'s
    * schema (batch 0); a legacy table falls back to the full scan
    * with `bkt` derived (compactNearDupIndex migrates it in place).
    * A table whose recorded bucket count differs from the live
    * `IndexBuckets` ALSO falls back to the full scan: its `bkt`
    * values came from a different modulus, so pruning by the current
    * bucket function would be lossy — compaction re-buckets it. */
  def readIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      sub: String, schemaOf: DataFrame, bkts: Seq[Int]): DataFrame =
    prunedIndex(spark, loadIndex(spark, s"$indexPath/$sub"), sub, schemaOf, bkts)

  /** The bucket count a table's `bkt` values are KNOWN to use, or
    * None when unknowable (corrupt meta) — the one place the
    * absent-means-PreMetaBuckets rule is encoded. */
  private def recordedBuckets(meta: MetaRead): Option[Int] = meta match {
    case MetaValue(n) => Some(n)
    case MetaAbsent => Some(PreMetaBuckets)
    case MetaCorrupt => None
  }

  private def prunedIndex(spark: org.apache.spark.sql.SparkSession,
      loaded: Option[IndexTable], sub: String,
      schemaOf: DataFrame, bkts: Seq[Int]): DataFrame = loaded match {
    case None => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf.schema)
    case Some(IndexTable(t, false, meta))
        if recordedBuckets(meta).contains(IndexBuckets) =>
      t.filter(col("bkt").isin(bkts: _*))
    // bucket-count mismatch OR corrupt meta: lossless full scan
    case Some(IndexTable(t, false, _)) => t
    case Some(IndexTable(t, true, _)) => t.withColumn("bkt",
      if (sub == "bands") bandBucket(col("band_key")) else docBucket(col("doc_id")))
  }

  /** Eager localCheckpoint + constraint-free re-wrap (the
    * searchGraphBatch ckpt pattern): materializes `df` NOW and
    * returns a LogicalRDD-leaf frame with fresh attributes. Used by
    * the ingest paths on every reused batch-proportional frame — a
    * persisted frame's plan subtree still prints (and re-optimizes)
    * in full at every re-reference, and an ingest's ~15 actions paid
    * minutes of driver CPU in `explainString` over those duplicated
    * trees (round-17 measurement; guide §7.3). The frames cut here
    * are batch-sized, so the eager materialization is the work the
    * first downstream action did anyway. Tradeoff: with no lineage
    * behind the checkpoint, a lost executor fails the whole ingest
    * batch instead of recomputing its partitions; the batch replays. */
  private def cutLineage(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    c.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  def nearDupIngestBatch(indexPath: String, threshold: Double = 0.7,
      maxBandBucket: Int = graft.queries.TextQueries.MaxBandBucket,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame = {
    import graft.queries.TextQueries
    val spark = batch.sparkSession
    val docs = batch.select(col("doc_id"), col("text"))
    // In-batch digest collapse (same guard as the batch path): only
    // one representative per DISTINCT shingle set reaches banding, so
    // a micro-batch full of copies of one page can never inflate a
    // band bucket. Non-representatives are by definition J = 1.0
    // duplicates of a smaller-id batch doc — dropped under exactly
    // the existing in-batch rule, with no verification join needed.
    val shAll = TextQueries.hashedShinglesOf(docs)
      .withColumn("dig", TextQueries.shingleDigest(col("sh")))
      .withColumn("bkt", docBucket(col("doc_id"))).persist()
    val repIds = shAll.groupBy(col("dig")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val sh = shAll.join(repIds, Seq("doc_id")).drop("dig").persist()
    val bands = TextQueries.minhashBandsOf(sh.drop("bkt"))
      .withColumn("bkt", bandBucket(col("band_key"))).persist()

    // ONE listing per index table per batch — reused for the pruned
    // reads AND the append-layout decision below (re-listing a 100 TB
    // table's files for a schema probe would be O(files) driver work
    // done twice for nothing).
    val bandsLoaded = loadIndex(spark, s"$indexPath/bands")
    val shLoaded = loadIndex(spark, s"$indexPath/shingles")

    // The batch's bucket footprint — tiny (≤ IndexBuckets ints) and
    // already materialized by the persist, so the collect is cheap.
    // These sets drive the partition pruning on both index reads.
    val bandBkts = bands.select(col("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // tombstone resolution at the candidate source: a deleted doc's
    // stored band/shingle rows stop matching immediately (physical
    // erase rides compactNearDupIndex)
    val idxBands = minusTombstones(
      prunedIndex(spark, bandsLoaded, "bands", bands, bandBkts),
      "doc_id", indexPath)

    def verified(cands: DataFrame, otherSh: DataFrame): DataFrame =
      broadcast(cands
        .join(sh.select(col("doc_id").as("new_id"), col("sh").as("n_sh")), Seq("new_id")))
        .join(otherSh.select(col("doc_id").as("old_id"), col("sh").as("o_sh")), Seq("old_id"))
        .filter(size(array_intersect(col("n_sh"), col("o_sh"))).cast("double") /
          size(array_union(col("n_sh"), col("o_sh"))) >= threshold)
        .select(col("new_id")).distinct()

    // Index-side hot-bucket cap: one narrow count pass over the SAME
    // pruned index read finds (band, band_key) buckets holding more
    // than maxBandBucket index rows, and batch band rows landing in
    // them are withheld from the join — otherwise one degenerate band
    // (the index never stores exact dups, so a saturated bucket means
    // a low-selectivity band signature) fans every colliding batch
    // doc out against millions of index rows. A doc withheld in one
    // band keeps its other 7 bands, exactly the batch-path trade
    // (TextQueries.MaxBandBucket). The extra pass reads only the two
    // join columns of the already-pruned partitions.
    val hotBuckets = idxBands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("idx_n")).filter(col("idx_n") > maxBandBucket)
      .select(col("band"), col("band_key"))
    val admitted = bands.join(hotBuckets, Seq("band", "band_key"), "left_anti")

    // vs the accumulated index (self-pairs excluded so a replayed
    // micro-batch — exactly-once is at-least-once under retries —
    // doesn't match docs against their own earlier index rows). The
    // batch side broadcasts: the pruned index scan streams through a
    // shuffle-free broadcast hash join. Persisted because it feeds
    // both the shingle-bucket footprint and the verification join.
    val candIdx = broadcast(admitted).as("n")
      .join(idxBands.as("o"), Seq("band", "band_key"))
      .filter(col("n.doc_id") =!= col("o.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct().persist()
    val oldBkts = candIdx.select(docBucket(col("old_id")).as("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val idxSh = minusTombstones(
      prunedIndex(spark, shLoaded, "shingles", sh, oldBkts),
      "doc_id", indexPath)
    val dupVsIndex = verified(candIdx, idxSh.drop("bkt"))
    // within the batch: drop the larger id of any matching pair
    val candIn = bands.as("l").join(bands.as("r"), Seq("band", "band_key"))
      .filter(col("l.doc_id") > col("r.doc_id"))
      .select(col("l.doc_id").as("new_id"), col("r.doc_id").as("old_id"))
      .distinct()
    val dupInBatch = verified(candIn, sh)

    // exact in-batch duplicates: every non-representative is J = 1.0
    // with its (smaller-id) representative — dropped without joining
    val inBatchExact = shAll.select(col("doc_id"))
      .join(repIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("new_id"))
    val dropped = dupVsIndex.unionByName(dupInBatch)
      .unionByName(inBatchExact).distinct()
    // Eager localCheckpoint TRUNCATES LINEAGE before the index append:
    // the survivors plan is rooted in the index parquet read, and the
    // append below refreshes/invalidates that path — a merely-cached
    // plan would recompute against the just-appended files, every doc
    // would match its own new index rows, and survivors would
    // re-evaluate to empty (observed).
    val survivors = docs.join(dropped.withColumnRenamed("new_id", "doc_id"),
      Seq("doc_id"), "left_anti").localCheckpoint(true)

    // Shingles append BEFORE bands: a crash between the two appends
    // must not leave a band row whose doc has no shingle set — such a
    // doc would generate candidates that fail verification forever,
    // silently losing dedup coverage. An orphan SHINGLE row (crash
    // after the first append) is harmless: it generates no candidates
    // without band rows, and a replay re-indexes the doc.
    //
    // Layout/meta discipline (legacy flat tables, recorded-modulus
    // re-bucketing, stamp-before-append) lives in appendBucketed;
    // compactNearDupIndex migrates either legacy shape to the current
    // layout.
    val survivorIds = survivors.select(col("doc_id"))
    def append(rows: DataFrame, sub: String, loaded: Option[IndexTable]): Unit =
      appendBucketed(spark, rows, s"$indexPath/$sub", loaded,
        m => if (sub == "bands") bandBucket(col("band_key"), m)
             else docBucket(col("doc_id"), m))
    // REPLAY GUARD: under at-least-once foreachBatch semantics a
    // crashed-and-replayed batch re-runs this function with the same
    // batchId. Survivors recompute identically (self-pairs are
    // excluded above, and in-batch dups were never indexed), but
    // re-APPENDING their index rows would duplicate them — inflating
    // every later batch's candidate set a little more per replay. A
    // marker file per applied batchId makes the append idempotent:
    // present → skip. The marker lands AFTER both appends, so a crash
    // between appends replays them (duplicate shingle rows for this
    // batch's survivors at worst — candidates are distinct()-ed, so
    // correctness is unaffected and compaction can dedup later).
    val fsRoot = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/$BatchMarkersDir/b$batchId")
    val alreadyApplied = fsRoot.exists(marker)
    // An empty batch appends nothing: writing a zero-row frame would
    // create a schema-less directory (only _SUCCESS) that every later
    // batch's read would choke on.
    if (!alreadyApplied && !survivors.isEmpty) {
      append(sh.join(survivorIds, Seq("doc_id")), "shingles", shLoaded)
      append(bands.join(survivorIds, Seq("doc_id")), "bands", bandsLoaded)
    }
    // Post-append health emission, BEFORE the marker: a crash between
    // emission and marker replays BOTH — the replay may also re-append
    // (the documented duplicate-rows window), so the second row with
    // the same batch_id can carry DIFFERENT values; it audits whatever
    // the index actually holds post-replay, so the LATEST row per
    // batch_id is the authoritative one (compaction later removes the
    // duplicate index rows it reflects). Emitting after the marker
    // would instead permanently lose exactly the crashed batch's row
    // (alreadyApplied short-circuits the replay). The
    // audit row lands in the per-index metrics log with this batchId,
    // making cap-exposure drift visible AS it accumulates. The audit
    // is one narrow scan of the two index tables — `metricsEvery`
    // thins the cadence when the accumulated index dwarfs a
    // micro-batch (the 100 TB knob); the cap passed to the audit is
    // the cap this ingest enforced.
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId,
        lshIndexHealth(spark, indexPath, maxBandBucket))
    if (!alreadyApplied) fsRoot.create(marker, true).close()
    shAll.unpersist(); sh.unpersist(); bands.unpersist(); candIdx.unpersist()
    survivors
  }

  /** Directory (under the index root, beside the two tables) holding
    * one empty marker file per successfully applied batchId — the
    * replay-idempotency ledger for nearDupIngestBatch's appends. */
  private val BatchMarkersDir = "_graft_batches"

  /** Per-batch index-health log (under the index root): each ingest
    * appends its audit row here stamped with the batchId, so index
    * degradation is OBSERVED on the ingest path — a monitor tails one
    * small parquet log — rather than POLLED by a separate maintenance
    * query someone has to remember to schedule. Text indexes log
    * `lshIndexHealth` rows; IVF indexes log `ivfStaleness` rows. */
  private val MetricsDir = "_graft_metrics"

  /** Default health-emission cadence (every Nth batchId): the audit is
    * an O(accumulated-index) scan BY DESIGN, so emitting on every
    * micro-batch would grow per-batch ingest cost linearly with index
    * size — the exact cost curve the partition-pruned ingest exists to
    * avoid (every in-repo curve profiler opts out with 0 for the same
    * reason). 16 amortizes the audit to 1/16th of a batch while still
    * surfacing degradation within minutes at typical trigger rates;
    * 1 = every batch (rehearsal scale), 0 = off. */
  val DefaultMetricsEvery = 16

  /** Best-effort BY CONTRACT: every call site sits between a batch's
    * data appends and its marker write, so a failure here would fail
    * the batch post-append and the replay would re-append the data
    * rows — healed on read by dedup/version resolution, but
    * permanently inflating the table (and its read amplification)
    * until the next compaction. A lost audit row costs one missed
    * health sample; a blocked marker costs durable bloat — so the
    * audit compute AND its write are by-name inside the catch, and
    * any non-fatal failure logs and lets the marker land. */
  private def emitMetrics(indexPath: String, batchId: Long,
      row: => DataFrame): Unit =
    try row.withColumn("batch_id", lit(batchId))
      .coalesce(1).write.mode("append").parquet(s"$indexPath/$MetricsDir")
    catch { case scala.util.control.NonFatal(e) =>
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft: index health emission failed for $indexPath batch " +
          s"$batchId — ingest continues, audit row skipped", e)
    }

  /** The accumulated health log of an index, newest last by batch_id;
    * None until the first emitting ingest runs. */
  def indexMetrics(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$MetricsDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).orderBy(col("batch_id")))
    else None
  }

  /** Bucket modulus of the phash block index — FIXED from birth
    * (unlike the text index's configurable IndexBuckets), so none of
    * the bucket-meta machinery exists here: one table, one modulus,
    * mixed-modulus states are unrepresentable and pruning is always
    * exact. */
  val PhashBuckets = 64

  /** Marker ledger of imageIngestBatch — its own namespace so a text
    * and an image index sharing a root can never confuse batchIds. */
  private val PhashMarkersDir = "_graft_phash_batches"

  /** Marker ledger of ivfIngestBatch. */
  private val IvfMarkersDir = "_graft_ivf_batches"

  case class SrcSig(source: String, sig: Seq[Long])

  /** Streaming maintenance of the per-source MinHash signatures
    * behind the source-overlap family (tSourceOverlapMinhash /
    * tSourceOverlapLsh): component-wise MIN is associative,
    * commutative and idempotent, so the sketch is a PERFECT streaming
    * accumulator — per-source state is exactly 32 longs forever,
    * each micro-batch folds its docs' partial signatures
    * (TextQueries.srcDocSignatures — the identical map-side partial
    * the batch agg combines) into keyed state, and every updated
    * source emits its CURRENT signature, equal at any point to the
    * batch srcSignatures over all data seen so far (spec-pinned,
    * including re-delivered docs: idempotence makes replays free).
    * Downstream, the emitted signatures feed the same pair matrix or
    * banding the batch paths use. */
  def srcSignatureStream(docs: DataFrame): Dataset[SrcSig] = {
    import docs.sparkSession.implicits._
    val n = graft.queries.TextQueries.MinhashHashes
    graft.queries.TextQueries.srcDocSignatures(docs)
      .as[(String, Seq[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], SrcSig](GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(String, Seq[Long])],
            state: GroupState[Array[Long]]) =>
          val cur = state.getOption.getOrElse(Array.fill(n)(Long.MaxValue))
          for ((_, sig) <- rows) {
            var i = 0
            while (i < n) { if (sig(i) < cur(i)) cur(i) = sig(i); i += 1 }
          }
          state.update(cur)
          SrcSig(src, cur.toVector)
      }
  }

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
    event_id: Long, event_type: String)

  /** Per-user funnel state: the POSITIONS ((micros, event_id) in the
    * batch window order) of the first view, first qualifying click,
    * and first qualifying purchase. Long.MaxValue = unset. Positions
    * (not booleans) are what make replays safe — see funnelStream. */
  case class FunnelSt(vUs: Long, vId: Long, cUs: Long, cId: Long, pUs: Long)

  case class FunnelRow(user_id: Long, view_us: Option[Long],
    click_us: Option[Long], purchase_us: Option[Long], depth: Long)

  /** Streaming ordered-funnel maintenance — the continuous twin of
    * the batch e6Funnel/e11FunnelTwoPhase pair: per-user stage state
    * is THREE positions (first view, first qualifying click, first
    * qualifying purchase — constant size forever, like the SCD2 and
    * source-signature twins), each micro-batch sorts its group by the
    * batch window's exact (ts, sub-ms, event_id) order and advances
    * the state per event, and every touched user emits its CURRENT
    * funnel row — equal at any batch boundary to `funnelOf` over all
    * events seen so far (spec-pinned), for streams delivered in order
    * per user (the scd2Stream contract; late events route through the
    * batch rebuild).
    *
    * Qualification is checked against stored POSITIONS, not presence
    * flags: a click counts only if its (micros, event_id) position is
    * at-or-after the first view's, exactly the batch semantics. That
    * makes at-least-once replays IDEMPOTENT in the way a boolean
    * state cannot: a re-delivered old click that preceded the first
    * view fails the position check on replay too (with a presence
    * flag it would wrongly qualify), so a replayed batch emits the
    * same rows and leaves the same state. */
  /** One funnel-automaton step — shared by funnelStream and
    * funnelStreamLate (the sessStep discipline). */
  private def funnelStep(st0: FunnelSt, e: FunnelEvent): FunnelSt = {
    val M = Long.MaxValue
    var st = st0
    val eu = micros(e.ts)
    e.event_type match {
      case "view" =>
        if (eu < st.vUs || (eu == st.vUs && e.event_id < st.vId))
          st = st.copy(vUs = eu, vId = e.event_id)
      case "click" =>
        val qualifies = st.vUs != M &&
          (eu > st.vUs || (eu == st.vUs && e.event_id >= st.vId))
        if (qualifies && (eu < st.cUs || (eu == st.cUs && e.event_id < st.cId)))
          st = st.copy(cUs = eu, cId = e.event_id)
      case "purchase" =>
        val qualifies = st.cUs != M &&
          (eu > st.cUs || (eu == st.cUs && e.event_id >= st.cId))
        if (qualifies && eu < st.pUs) st = st.copy(pUs = eu)
      case _ => ()
    }
    st
  }

  private def funnelRowOf(uid: Long, st: FunnelSt): FunnelRow = {
    val M = Long.MaxValue
    def opt(x: Long) = if (x == M) None else Some(x)
    FunnelRow(uid, opt(st.vUs), opt(st.cUs), opt(st.pUs),
      if (st.pUs != M) 3L else if (st.cUs != M) 2L
      else if (st.vUs != M) 1L else 0L)
  }

  def funnelStream(events: DataFrame): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, FunnelRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelSt]) =>
          val M = Long.MaxValue
          var st = state.getOption.getOrElse(FunnelSt(M, M, M, M, M))
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          for (e <- sorted) st = funnelStep(st, e)
          state.update(st)
          funnelRowOf(uid, st)
      }
  }

  /** Late-tolerant funnel state: finalized automaton + frontier +
    * reorder buffer (the SessLateSt design — see sessionStreamLate).
    * The funnel automaton is ORDER-SENSITIVE despite its min-shaped
    * fields (a late early view can qualify a click the in-order fold
    * already discarded), so only the sealed-prefix fold is safe. */
  case class FunnelLateSt(frontierUs: Long, folded: FunnelSt,
    buf: Seq[FunnelEvent])

  case class FunnelLateOut(user_id: Long, kind: String,
    view_us: Option[Long], click_us: Option[Long], purchase_us: Option[Long],
    depth: Long, late_event_id: Long)

  /** Watermark-bounded late-data funnel — sessionStreamLate's design
    * on the funnel automaton: in-watermark disorder lands in the
    * reorder buffer and the emitted row stays batch-equal over all
    * accepted events at every boundary; outside-watermark arrivals
    * dead-letter (`kind = "late"`) toward the batch rebuild. */
  def funnelStreamLate(events: DataFrame, delay: String = "600 seconds")
      : Dataset[FunnelLateOut] = {
    import events.sparkSession.implicits._
    val M = Long.MaxValue
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelLateSt, FunnelLateOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelLateSt]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.getOrElse(
            FunnelLateSt(Long.MinValue, FunnelSt(M, M, M, M, M), Vector.empty))
          val (accepted, dead) = rows.toSeq.partition(e =>
            micros(e.ts) >= st.frontierUs)
          val buf = (st.buf ++ accepted)
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          val (toFold, keep) = buf.partition(e => micros(e.ts) < wmUs)
          var folded = st.folded
          for (e <- toFold) folded = funnelStep(folded, e)
          st = FunnelLateSt(math.max(st.frontierUs, wmUs), folded, keep)
          state.update(st)
          var view = folded
          for (e <- keep) view = funnelStep(view, e)
          val r = funnelRowOf(uid, view)
          // dead letters carry the unchanged funnel fields (contract)
          Iterator(FunnelLateOut(uid, "summary", r.view_us, r.click_us,
            r.purchase_us, r.depth, -1L)) ++
            dead.iterator.map(e => FunnelLateOut(uid, "late",
              r.view_us, r.click_us, r.purchase_us, r.depth, e.event_id))
      }
  }

  /** Timestamp → epoch micros, the batch window position's time
    * component — ONE definition shared by every streaming twin that
    * mirrors a batch (ts, event_id) order, so a precision change can
    * never split them. */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Per-user sessionize state: the last event's time, the OPEN
    * session's running value sum, and the closed-session totals.
    * `maxClosed` is only meaningful when `closedSessions > 0`. */
  case class SessSt(lastUs: Long, openSum: Double,
    closedSessions: Long, totalN: Long, maxClosed: Double)

  case class SessRow(user_id: Long, n_sessions: Long, n_events: Long,
    max_session_value: Double)

  /** Streaming sessionization — the continuous twin of the batch
    * e2Sessionize/e13SessionizeTwoPhase pair: per-user state is the
    * open session's aggregates plus closed-session totals (constant
    * size forever), each micro-batch sorts its group by the batch
    * window's (ts, sub-ms, event_id) order and runs the same
    * gap-rule automaton, and every touched user emits its CURRENT
    * per-user summary — equal at any batch boundary to `sessionizeOf`
    * over all events seen so far (spec-pinned), with the open-tail
    * session counted exactly as the batch query counts it.
    *
    * Gap arithmetic mirrors the batch form to the bit: both sides
    * compare DOUBLE second values (micros / 1e6, the
    * `cast(ts as double)` the batch window uses), so a knife-edge
    * 1800.000000s gap splits identically. Ordering contract: in-order
    * delivery per user (scd2Stream's); micro-batch RETRIES are safe
    * automatically (the state store versions per batch and rewinds),
    * but unlike the min-accumulator twins (srcSignatureStream,
    * funnelStream) counting state is NOT idempotent under duplicate
    * events ACROSS batches — an at-least-once source needs upstream
    * dedup, the same contract as any streaming count. */
  private def r2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One gap-automaton step — the ONE definition sessionStream and
    * sessionStreamLate share, so the late path can never drift from
    * the in-order twin's (and therefore the batch form's) arithmetic. */
  private def sessStep(st: SessSt, eu: Long, value: Double): SessSt =
    if (st == null)
      SessSt(eu, value, 0L, 1L, 0.0)
    else if (eu / 1e6 - st.lastUs / 1e6 > 1800d) {
      // close the open session; its rounded value competes for max
      val closedVal = r2(st.openSum)
      SessSt(eu, value, st.closedSessions + 1, st.totalN + 1,
        if (st.closedSessions == 0) closedVal
        else math.max(st.maxClosed, closedVal))
    } else
      st.copy(lastUs = eu, openSum = st.openSum + value, totalN = st.totalN + 1)

  private def sessSummary(uid: Long, st: SessSt): SessRow = {
    val openVal = r2(st.openSum)
    val m = if (st.closedSessions == 0) openVal
      else math.max(st.maxClosed, openVal)
    SessRow(uid, st.closedSessions + 1, st.totalN, r2(m))
  }

  def sessionStream(events: DataFrame): Dataset[SessRow] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessSt, SessRow](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
            state: GroupState[SessSt]) =>
          val sorted = rows.toSeq
            .sortBy(e => (e._2.getTime, e._2.getNanos, e._3))
          var st = state.getOption.orNull
          for (e <- sorted) st = sessStep(st, micros(e._2), e._4)
          state.update(st)
          sessSummary(uid, st)
      }
  }

  /** Per-user state of the LATE-TOLERANT sessionize twin: the
    * automaton folded over everything FINALIZED (event time strictly
    * below the frontier), the frontier itself, and the reorder buffer
    * of (us, event_id, value) rows still inside the lateness horizon.
    * The buffer is bounded by the watermark delay — the standard
    * state cost of any watermarked stateful operator — while the
    * folded part stays constant-size forever. */
  case class SessLateSt(frontierUs: Long, folded: Option[SessSt],
    buf: Seq[(Long, Long, Double)])

  /** Output of sessionStreamLate: `kind = "summary"` rows carry the
    * per-user summary over every ACCEPTED event; `kind = "late"` rows
    * are the dead letter — one per event that arrived at-or-below the
    * finalized frontier (too late even for the watermark) with the
    * summary fields of the unchanged state, so a monitor can both
    * count drops and trigger the batch rebuild that re-admits them. */
  case class SessLateOut(user_id: Long, kind: String, n_sessions: Long,
    n_events: Long, max_session_value: Double, late_event_id: Long)

  /** Watermark-bounded late-data sessionization — closes the
    * sessionStream contract gap (in-order delivery, late events
    * rebuilt in batch): events may arrive out of order per user up to
    * the watermark `delay`. Each micro-batch: arrivals newer than the
    * finalized frontier enter a per-user REORDER BUFFER; the buffer
    * prefix older than the current event-time watermark is folded
    * into the automaton IN (ts, event_id) ORDER (safe: the watermark
    * asserts nothing older can still arrive — the same contract any
    * windowed agg leans on); the emitted summary replays the still-
    * buffered tail on a copy, so at EVERY batch boundary the summary
    * equals the batch form over all accepted events — including
    * late-but-inside-watermark arrivals, which is exactly what the
    * in-order twin cannot do. Arrivals at-or-below the frontier
    * (outside the watermark) cannot be folded correctly by ANY
    * bounded operator — they emit a `kind = "late"` dead-letter row
    * naming the event, the documented route to the batch rebuild.
    * Uses flatMapGroupsWithState so one invocation can emit the
    * summary and the dead letters together. */
  def sessionStreamLate(events: DataFrame, delay: String = "600 seconds")
      : Dataset[SessLateOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessLateSt, SessLateOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
            state: GroupState[SessLateSt]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          var st = state.getOption.getOrElse(
            SessLateSt(Long.MinValue, None, Vector.empty))
          val (accepted, dead) = rows.toSeq.partition(e =>
            micros(e._2) >= st.frontierUs)
          val buf = (st.buf ++ accepted.map(e => (micros(e._2), e._3, e._4)))
            .sortBy(t => (t._1, t._2))
          // finalize the prefix the watermark has sealed
          val (toFold, keep) = buf.partition(_._1 < wmUs)
          var folded = st.folded.orNull
          for ((eu, _, v) <- toFold) folded = sessStep(folded, eu, v)
          st = SessLateSt(math.max(st.frontierUs, wmUs), Option(folded), keep)
          state.update(st)
          // summary = finalized ⊕ buffered tail, replayed on a copy;
          // dead letters carry the SAME (unchanged) summary fields per
          // the SessLateOut contract (zeros only before any accepted
          // event has reached this user)
          var view = folded
          for ((eu, _, v) <- keep) view = sessStep(view, eu, v)
          val sOpt = if (view == null) None else Some(sessSummary(uid, view))
          sOpt.iterator.map(s => SessLateOut(uid, "summary",
            s.n_sessions, s.n_events, s.max_session_value, -1L)) ++
            dead.iterator.map(e => SessLateOut(uid, "late",
              sOpt.map(_.n_sessions).getOrElse(0L),
              sOpt.map(_.n_events).getOrElse(0L),
              sOpt.map(_.max_session_value).getOrElse(0.0), e._3))
      }
  }

  /** Streaming IVF index maintenance — the vector twin of the LSH /
    * pHash lake-table ingests, and FAISS's `add()` contract made
    * explicit: the coarse quantizer (the stored centroid table,
    * `VectorIndex.buildIvf`) is FIXED at build time; each micro-batch
    * of (vec_id, emb) rows is L2-normalized, assigned to its nearest
    * cell with the broadcast centroids through the IDENTICAL
    * expression the batch builder uses (`nearestCellExpr` — build and
    * add can never disagree), and appended `partitionBy(cell)` — one
    * file per touched cell per batch, so `searchIvf`'s probe-pruned
    * partition read stays exact however many batches arrive. Because
    * assignment is per-row against fixed centroids, an index grown by
    * N micro-batches is ROW-IDENTICAL to the same vectors added in
    * one batch (spec-pinned), and serving needs no refresh step.
    * Replay-idempotent via the batch-marker ledger (at-least-once
    * delivery re-runs skip the append and return the original
    * assignments). Retraining the quantizer on drifted data is the
    * batch rebuild's job — exactly FAISS's train-once/add-many split —
    * and `VectorIndex.ivfStaleness` is the signal for WHEN: it
    * compares the accumulated cells table's quantization stats
    * (mean max-dot, cell-occupancy skew) against the build-time
    * reference buildIvf persists, flagging rebuild-needed.
    * Returns the batch's (vec_id, cell) assignments. */
  def ivfIngestBatch(indexPath: String, metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // fixed-quantizer contract makes the centroid table immutable for
    // the index's lifetime — cache it per path instead of paying a
    // parquet read + collect every micro-batch of a long-running
    // stream (invalidated only by invalidateCentroids on rebuild)
    val cents = graft.queries.VectorIndex.cachedCentroids(spark, indexPath)
    val assigned = batch
      .select(col("vec_id").cast("long"),
        col("emb").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
      .withColumn("cell",
        graft.queries.VectorIndex.nearestCellExpr(cents, col("emb")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hp = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal-first discipline (same as readIndex/readPhashIndex): a
    // crash inside compactIvfIndex's rename pair leaves cells absent
    // with the complete copy in cells__old; appending WITHOUT healing
    // would recreate cells holding only this batch, permanently
    // blocking the restore — silent loss of the accumulated index
    recoverCompaction(fs, hp)
    val marker = new org.apache.hadoop.fs.Path(s"$indexPath/$IvfMarkersDir/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied && !assigned.isEmpty) {
      assigned.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(hp.toString)
    }
    // Post-append staleness emission, BEFORE the marker (see
    // nearDupIngestBatch — a crash window after the marker would lose
    // the crashed batch's row for good; before it, a replay re-emits
    // at worst a duplicate batch_id): the rebuild-when audit rides
    // the ingest path, so quantizer drift surfaces in the metrics log
    // the batch it crosses a threshold instead of waiting for someone
    // to run the audit by hand. Same `metricsEvery` knob as the text
    // ingest (the audit scans the accumulated cells table).
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId,
        graft.queries.VectorIndex.ivfStaleness(spark, indexPath))
    if (!alreadyApplied) fs.create(marker, true).close()
    val out = assigned.select(col("vec_id"), col("cell")).localCheckpoint(true)
    assigned.unpersist(false)
    out
  }

  /** The 8 pigeonhole block rows of each (media_id, phash), with the
    * index partition bucket derived from (block, key) — the exact
    * frame the block index persists and the block join runs on. */
  private def phashBlocks(sigs: DataFrame): DataFrame =
    sigs.select(col("media_id"), col("phash"),
      posexplode(array((0 until 8).map(i =>
        shiftrightunsigned(col("phash"), i * 8).bitwiseAND(lit(0xFFL))): _*)))
      .select(col("media_id"), col("phash"), col("pos").as("q"), col("col").as("qkey"))
      .withColumn("bkt", pmod(col("qkey") * 8 + col("q"), lit(PhashBuckets)))

  /** Streaming IMAGE near-dup ingestion — the perceptual-hash twin of
    * nearDupIngestBatch, structurally simpler in exactly the ways its
    * index is: the signature IS the verification key (hamming of two
    * 64-bit hashes — no second-table fetch, hence no cross-table
    * crash ordering to defend), and the accumulated state is ONE
    * parquet table of 8 block rows per kept image, partitioned by
    * the fixed PhashBuckets modulus (no meta file; the text index
    * needed one only because its modulus is configurable). Per
    * micro-batch: decode → dHash64; candidates against the index via
    * the 8-bit pigeonhole block join (EXACT for maxDist < 8), the
    * read pruned to the batch's touched buckets by the partition
    * filter; within-batch pairs by the same self-join (larger
    * media_id drops); survivors append their block rows
    * (repartitioned by bkt — one file per touched bucket per batch).
    * At-least-once + replay-idempotent: appends are skipped when the
    * batch's marker exists, and index self-matches are excluded so a
    * replayed batch returns its original survivors. Returns the
    * surviving (media_id, phash) rows. */
  def imageIngestBatch(indexPath: String, maxDist: Int = 6)(
      batch: DataFrame, batchId: Long): DataFrame = {
    require(maxDist < 8,
      s"pigeonhole blocks are exact only for maxDist < 8, got $maxDist")
    val spark = batch.sparkSession
    val sigs = graft.multimodal.MediaOps.imageHashes(batch).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val blocks = phashBlocks(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bkts = blocks.select(col("bkt")).distinct()
      .collect().map(_.getLong(0).toInt).toSeq
    val hp = new org.apache.hadoop.fs.Path(s"$indexPath/blocks")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idx = readPhashIndex(spark, indexPath, bkts)
      .select(col("q"), col("qkey"),
        col("media_id").as("o_id"), col("phash").as("o_phash"))
    val dupVsIndex = blocks.join(idx, Seq("q", "qkey"))
      // self-match exclusion: on replay a survivor meets its own
      // earlier append at hamming 0 and would drop
      .filter(col("media_id") =!= col("o_id"))
      .filter(bit_count(col("phash").bitwiseXOR(col("o_phash"))) <= maxDist)
      .select(col("media_id").as("dup_id"))
    val dupInBatch = blocks.as("l").join(blocks.as("r"), Seq("q", "qkey"))
      .filter(col("l.media_id") > col("r.media_id"))
      .filter(bit_count(col("l.phash").bitwiseXOR(col("r.phash"))) <= maxDist)
      .select(col("l.media_id").as("dup_id"))
    val dropped = dupVsIndex.unionByName(dupInBatch).distinct()
    // same lineage truncation as the text ingest: the survivors plan
    // roots in the index read the append below invalidates
    val survivors = sigs.join(dropped.withColumnRenamed("dup_id", "media_id"),
      Seq("media_id"), "left_anti").localCheckpoint(true)
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/$PhashMarkersDir/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied && !survivors.isEmpty) {
      phashBlocks(survivors)
        .repartition(col("bkt"))
        .write.mode("append").partitionBy("bkt").parquet(hp.toString)
    }
    if (!alreadyApplied) fs.create(marker, true).close()
    sigs.unpersist(); blocks.unpersist()
    survivors
  }

  /** Read the phash block index pruned to `bkts` — the `isin` over
    * the partition column becomes a static PartitionFilter at the
    * scan (pinned in PlanSpec, same mechanism as the text index). An
    * absent table reads as empty (batch 0); an interrupted
    * compaction swap is healed first. Tombstoned media
    * ([[deleteDocs]] on media_id) never pair — a taken-down image
    * stops matching immediately, physical erase rides
    * [[compactPhashIndex]]. */
  def readPhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, bkts: Seq[Int]): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(s"$indexPath/blocks")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, hp)
    def emptyBlocks = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("phash", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("q", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("qkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("bkt", org.apache.spark.sql.types.IntegerType))))
    if (fs.exists(hp))
      // the AnalysisException fallback mirrors loadIndex: a schema-
      // less directory (e.g. a pre-fix crash artifact) reads as "no
      // index yet", never as a poisoned table
      try minusTombstones(
        spark.read.parquet(hp.toString).filter(col("bkt").isin(bkts: _*)),
        "media_id", indexPath)
      catch { case _: org.apache.spark.sql.AnalysisException => emptyBlocks }
    else emptyBlocks
  }

  /** Compact the phash block index — same small-files rationale and
    * tmp+swap discipline as compactNearDupIndex (recoverCompaction
    * heals a crash inside the rename pair), preserving the `bkt`
    * partitioning the per-batch pruning depends on; `distinct()`
    * collapses any crash-window replay duplicates. Run from a
    * maintenance schedule, never concurrently with ingest. */
  def compactPhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetPartitions: Int = 32): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/blocks")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // the rewrite doubles as the deletion fold (file-precise clear)
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    val swapped = foldPartitioned(fs, indexPath, "blocks", lease,
      minusTombstones(spark.read.parquet(p.toString), "media_id", indexPath)
        .distinct(),
      "bkt", targetPartitions)
    if (swapped) clearTombstoneFiles(fs, tsFiles)
  }

  /** Streaming similarity serving: each micro-batch of query
    * embeddings (`qid`, `qemb`) is exact-scored against the static
    * corpus at `corpusDir` — the queries broadcast, the corpus
    * streams, no state. Wire the result wherever scored matches land
    * (`foreachBatch { (b, id) => sink(annScoreBatch(dir)(b, id)) }`);
    * swapping in the LSH/IVF candidate generation is a drop-in once
    * query volume per batch outgrows brute force. */
  def annScoreBatch(corpusDir: String, k: Int = 5)(
      batch: DataFrame, batchId: Long): DataFrame =
    graft.queries.VectorQueries.scoreQueries(
      batch.sparkSession, corpusDir, batch, k)

  /** Streaming similarity serving against a PERSISTED IVF index
    * (VectorIndex.buildIvf) — the drop-in annScoreBatch promised
    * once query volume outgrows brute force: each micro-batch's
    * queries rank cells against the tiny centroid table and only
    * the probed cell partitions are read, so per-batch cost tracks
    * nprobe/k of the index instead of the whole corpus. Same output
    * schema as annScoreBatch; recall floor inherited from
    * VectorIndexSpec. */
  def annServeBatch(indexPath: String, k: Int = 5, nprobe: Int = 6)(
      batch: DataFrame, batchId: Long): DataFrame =
    graft.queries.VectorIndex.searchIvf(
      batch.sparkSession, indexPath, batch, k, nprobe)

  /** Health audit of the accumulated LSH near-dup index — the text
    * twin of `VectorIndex.ivfStaleness`, surfacing the one thing the
    * MaxBandBucket guard does SILENTLY: buckets above the cap are
    * excluded from candidate joins (their members keep their other
    * bands, so recall degrades gracefully — but degrades), and
    * nothing in the query path reports how much of the index that
    * affects. One narrow scan of the bands table into a per-bucket
    * count, then a single summary row:
    *   n_docs        — indexed documents (distinct ids in shingles)
    *   n_band_rows   — band rows (≈ 8 per distinct set: the ingest
    *                   digest-collapses, so rows ≈ distinct sets)
    *   n_buckets     — occupied (band, band_key) buckets
    *   max_bucket_n  — hottest bucket's population
    *   hot_buckets   — buckets above `cap` (currently being excluded)
    *   hot_row_share — fraction of band rows sitting in excluded
    *                   buckets: the recall-exposure signal; a rising
    *                   share means boilerplate-like band collisions
    *                   are accumulating and a re-shingle (wider
    *                   shingles / more bands) or upstream dedup of
    *                   the degenerate family is due
    * An absent index reads as the all-zeros row (batch 0). Runnable
    * on a maintenance schedule at any index size (the per-bucket agg
    * is map-side combinable on the same key space as everything
    * else). */
  def lshIndexHealth(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cap: Int = graft.queries.TextQueries.MaxBandBucket): DataFrame = {
    val bp = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
    val sp = new org.apache.hadoop.fs.Path(s"$indexPath/shingles")
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, bp); recoverCompaction(fs, sp)
    if (!fs.exists(bp) || !fs.exists(sp))
      return spark.range(1).select(
        lit(0L).as("n_docs"), lit(0L).as("n_band_rows"), lit(0L).as("n_buckets"),
        lit(0L).as("max_bucket_n"), lit(0L).as("hot_buckets"),
        lit(0.0).as("hot_row_share"))
    val perBucket = spark.read.parquet(bp.toString)
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("n"))
    val docs = spark.read.parquet(sp.toString)
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    // coalesce the null-on-empty aggregates (sum/max over zero rows):
    // a bands directory that EXISTS but holds zero rows — e.g. right
    // after compacting a fully-deduped index — must read as the same
    // all-zeros row as an absent index, not NPE callers on getLong.
    perBucket.agg(
        coalesce(sum(col("n")), lit(0L)).as("n_band_rows"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(col("n")), lit(0L)).as("max_bucket_n"),
        coalesce(sum(when(col("n") > cap, 1L).otherwise(0L)), lit(0L))
          .as("hot_buckets"),
        coalesce(sum(when(col("n") > cap, col("n")).otherwise(0L)), lit(0L))
          .as("hot_rows"))
      .crossJoin(broadcast(docs)) // 1×1 summary rows
      .select(col("n_docs"), col("n_band_rows"), col("n_buckets"),
        col("max_bucket_n"), col("hot_buckets"),
        when(col("n_band_rows") === 0, 0.0)
          .otherwise(round(col("hot_rows").cast("double") / col("n_band_rows"), 4))
          .as("hot_row_share"))
  }

  /** Compact the near-dup index tables: every micro-batch append adds
    * a few small parquet files per touched bucket, and after
    * thousands of batches the per-batch index scan pays file-open
    * overhead per tiny file (the classic streaming small-files
    * problem). Rewrites each table via tmp+swap, PRESERVING the
    * `bkt` partitioning the per-batch pruning depends on — the
    * repartition hashes on `bkt` so each bucket directory ends up
    * with ~targetPartitions/IndexBuckets files (min 1). Run
    * periodically from a maintenance schedule, NOT concurrently with
    * ingest (same single-writer discipline as the appends). */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetPartitions: Int = 32): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fsRoot = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(hconf)
    val lease = acquireMaintenanceLease(fsRoot, indexPath)
    // fold deletions: listed before reading, cleared after both swaps
    // (file-precise — a delete landing mid-fold keeps filtering)
    val tsFiles = tombstoneParquetFiles(fsRoot, indexPath)
    var swapped = false
    for (sub <- Seq("bands", "shingles")) {
      val p = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
      val fs = p.getFileSystem(hconf)
      // compaction doubles as the layout migration: bkt is ALWAYS
      // re-derived under the live IndexBuckets, which upgrades both
      // a legacy (no-bkt) table and a table recorded under an older
      // bucket count — keeping stale bkt values while stamping the
      // new meta would make pruning silently lossy. distinct()
      // additionally drops the duplicate rows a crash between the
      // shingles and bands appends can leave behind on replay (the
      // batch-marker guard documents that window): duplicates are
      // harmless for correctness (candidates are deduped) but
      // inflate every later batch's join input until removed here.
      swapped |= foldPartitioned(fs, indexPath, sub, lease,
        minusTombstones(spark.read.parquet(p.toString), "doc_id", indexPath)
          .drop("bkt").distinct().withColumn("bkt",
            if (sub == "bands") bandBucket(col("band_key"))
            else docBucket(col("doc_id"))),
        "bkt", targetPartitions,
        writeMeta = Some(tmp => writeBucketMeta(fs, tmp, IndexBuckets)))
    }
    if (swapped) clearTombstoneFiles(fsRoot, tsFiles)
  }

  /** Compaction + repair for the streaming IVF cells table — the
    * same maintenance contract as compactNearDupIndex: ingest
    * appends one file per touched cell per batch, so after thousands
    * of batches serving pays file-open overhead per tiny file.
    * Rewrites cells via the checked tmp+swap, PRESERVING the `cell`
    * partitioning `searchIvf`'s probe pruning depends on, and the
    * distinct() drops duplicate rows a crash between the append and
    * its batch marker can leave on replay (duplicates are visible in
    * serving — the same vector would occupy two ranks — so unlike
    * the text index, compaction here is also a CORRECTNESS repair).
    * Run from a maintenance schedule, never concurrently with ingest
    * OR serving: the rename-pair swap has a window where `cells` is
    * absent, so a concurrent searchIvf/searchIvfPq would fail (or on
    * a store with non-atomic rename, read a partial view) — serving
    * must drain or be routed around the maintenance window, the same
    * single-writer-plus-quiesced-readers discipline as any
    * swap-based table rewrite. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetPartitions: Int = 32): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
    val fs = p.getFileSystem(hconf)
    recoverStagedRebuild(fs, indexPath)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // the rewrite doubles as the deletion fold (file-precise clear)
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    val swapped = foldPartitioned(fs, indexPath, "cells", lease,
      minusTombstones(spark.read.parquet(p.toString), "vec_id", indexPath)
        .distinct(),
      "cell", targetPartitions)
    if (swapped) clearTombstoneFiles(fs, tsFiles)
  }

  // ------------------------------------------------------------------
  // Incremental graph-ANN index (NSW-lite adjacency maintenance)
  // ------------------------------------------------------------------

  /** Streaming maintenance of the NSW-lite graph index — the ingest
    * twin the round-12 verdict flagged as the one index family
    * without one. EXACT, not approximate: after any batch slicing,
    * the resolved index state equals `writeGraphTables` over the full
    * accumulated corpus under the build-time quantizer (spec-pinned),
    * because the maintainer recomputes every POSSIBLY-CHANGED
    * adjacency from scratch rather than patching lists in place:
    *
    *  - a new vector joins its top-2 cells (the build's shared
    *    `assignCellsExpr` — the two-level quantizer assignment, so
    *    batch and incremental assignment can never disagree); only
    *    nodes sharing ≥ 1 cell with a batch vector can gain or lose
    *    an edge (candidate pairs are within-cell by construction),
    *    so the recompute roster is exactly those nodes + the batch;
    *  - each roster node's full candidate set is re-derived from the
    *    `members/` roster of ITS OWN cells (stored rows + this
    *    batch), under the build's shard rule — counts over the full
    *    current membership of each touched cell, the identical
    *    `attachShards` arithmetic — and re-ranked to top-degree with
    *    the build's expressions (a batch that pushes a cell across
    *    the split threshold re-shards the WHOLE cell: every member is
    *    in the roster because the cell is touched);
    *  - per-cell entry points are recomputed only for cells gaining
    *    new PRIMARY members (old members' centroid dots are fixed, so
    *    no other cell's argmax can move).
    *
    * State is LSM-shaped and append-only: `members/` grows by batch
    * rows; updated adjacencies append to `graph_delta/` carrying
    * ver = batchId (base rows are ver −1; serving resolves
    * latest-version per node — VectorIndex.resolvedGraph); entry
    * changes append to `entries_delta/` the same way. Batch cost is
    * touched-cells-proportional (membership of ≤ 2×|batch| cells,
    * pairs within those cells only), never corpus-proportional —
    * the corpus-sized tables are only scanned by compaction.
    *
    * At-least-once + replay-idempotent: appends are skipped when the
    * batch marker exists; a crash between append and marker re-appends
    * byte-identical rows on replay, which every reader heals (members
    * reads dedup on (cell, vec_id), version resolution is indifferent
    * to duplicates of the same version) and compaction removes.
    * Vec_ids are unique across batches by contract (the IVF ingest's
    * contract). Returns the batch's (vec_id, cell) primary
    * assignments. */
  def graphIngestBatch(indexPath: String,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame = {
    // register BEFORE building the normed frame: Dataset construction
    // analyzes eagerly, so an unregistered graft_dot would throw here
    // on a session whose first graft call is this entry point
    graft.functions.GraftFunctions.ensureRegistered(batch.sparkSession)
    val normed = batch
      .select(col("vec_id").cast("long"),
        col("emb").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("emb"), col("emb"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        call_function("graft_vec_div", col("emb"), col("nrm")).as("emb"))
    graphIngestNormed(indexPath, metricsEvery)(normed, batchId)
  }

  /** [[graphIngestBatch]] minus the normalization — the entry the
    * rebuild's catch-up uses: roster embs were normalized ONCE at
    * original build/ingest time, and re-normalizing an already-unit
    * vector moves last-ulp bits (sqrt(1±ulp) division), which would
    * make a caught-up vector bit-diverge from its directly-ingested
    * twin. */
  private[graft] def graphIngestNormed(indexPath: String,
      metricsEvery: Int = DefaultMetricsEvery)(
      normed: DataFrame, batchId: Long): DataFrame = {
    val spark = normed.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val VI = graft.queries.VectorIndex
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val qz = VI.cachedGraphQuantizer(spark, indexPath)
    val batchAsg = VI.assignCellsExpr(qz, normed).persist(lvl)

    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("graph", "entries", "members").foreach(sub =>
      recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$indexPath/$sub")))
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/${VI.GraphMarkersDir}/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied && !batchAsg.isEmpty) {
      val cTouched = batchAsg.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      // stored nodes sharing a cell with the batch — their lists are
      // the only ones whose candidate sets changed
      val membersT = spark.read.parquet(s"$indexPath/members")
        .filter(col("cell").isin(cTouched: _*))
        .dropDuplicates("cell", "vec_id")
      val affectedOld = membersT.select(col("vec_id"), col("emb"))
        .dropDuplicates("vec_id")
      val oldAsg = VI.assignCellsExpr(qz, affectedOld).persist(lvl)
      val c2 = oldAsg.select(col("cell"))
        .unionByName(batchAsg.select(col("cell"))).distinct()
        .collect().map(_.getInt(0)).toSeq
      val batchMembers = batchAsg
        .select(col("cell"), col("vec_id"), col("emb"), col("rk"))
      // full current membership of every cell a roster node touches
      val membersAll = spark.read.parquet(s"$indexPath/members")
        .filter(col("cell").isin(c2: _*))
        .select(col("cell"), col("vec_id"), col("emb"), col("rk"))
        .unionByName(batchMembers)
        .dropDuplicates("cell", "vec_id") // heals crash-window re-appends
        .persist(lvl)
      val rosterMem = oldAsg
        .select(col("vec_id"), col("emb"), col("cell"), col("rk"))
        .unionByName(batchAsg
          .select(col("vec_id"), col("emb"), col("cell"), col("rk")))
        .dropDuplicates("vec_id", "cell") // batch rows already stored on replay
      // candidate pairs honor the build's shard rule: membersAll IS
      // the full current membership of every cell in play, so
      // attachShards derives the identical per-cell shard counts the
      // one-shot build would; roster rows pick up their own shard by
      // (cell, vec_id) lookup in the same frame
      val mshAll = VI.attachShards(membersAll)
      val rosterSh = rosterMem.join(
        mshAll.select(col("cell"), col("vec_id"), col("sh")),
        Seq("cell", "vec_id"))
      val candidates = rosterSh.as("n")
        .join(mshAll.as("m"), Seq("cell", "sh"))
        .filter(col("n.vec_id") =!= col("m.vec_id"))
        .select(col("n.vec_id").as("src"), col("m.vec_id").as("nid"),
          call_function("graft_dot", col("n.emb"), col("m.emb")).as("sim"))
        .groupBy(col("src"), col("nid")).agg(max(col("sim")).as("sim"))
      val topEdges = candidates.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("sim").desc, col("nid"))))
        .filter(col("rk") <= VI.GraphDegree)
      // every candidate id's primary cell, recomputed from its emb —
      // deterministic, so identical to its stored assignment
      val primaryOf = VI.assignCellsExpr(qz,
          membersAll.select(col("vec_id"), col("emb")).dropDuplicates("vec_id"))
        .filter(col("rk") === 1).select(col("vec_id"), col("cell"))
      val roster = rosterMem.filter(col("rk") === 1)
        .select(col("vec_id"), col("cell"), col("emb"))
      val rows = roster
        .join(VI.nbrListsOf(topEdges, primaryOf), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"), col("emb"),
          coalesce(col("nbrs"), VI.EmptyNbrs).as("nbrs"),
          lit(batchId).as("ver"))
      // write order: roster first (the table the NEXT batch recomputes
      // from), then adjacency delta, then entry delta, then the marker
      batchMembers.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$indexPath/members")
      rows.repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$indexPath/graph_delta")
      val ePrim = batchAsg.filter(col("rk") === 1)
        .select(col("cell")).distinct().collect().map(_.getInt(0)).toSeq
      if (ePrim.nonEmpty) {
        val centsDf = ePrim.map(c => (c, qz.cells(c)._2)).toDF("cell", "cent")
        membersAll.filter(col("rk") === 1 && col("cell").isin(ePrim: _*))
          .join(broadcast(centsDf), Seq("cell"))
          .withColumn("dp", call_function("graft_dot", col("emb"), col("cent")))
          .withColumn("erk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("cell")).orderBy(col("dp").desc, col("vec_id"))))
          .filter(col("erk") === 1)
          .select(col("cell"), col("vec_id"), lit(batchId).as("ver"))
          .coalesce(1).write.mode("append").parquet(s"$indexPath/entries_delta")
      }
      oldAsg.unpersist(false); membersAll.unpersist(false)
    }
    // Post-append health emission, BEFORE the marker (the ivf/hll
    // discipline: a replay at worst re-emits a duplicate batch_id;
    // after the marker, a crash here would lose the batch's row for
    // good). Rides the ingest path so delta backlog and quantizer
    // skew surface in the metrics log the batch they move, at the
    // same metricsEvery cadence as every other index family.
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId, graphIndexHealth(spark, indexPath))
    if (!alreadyApplied) fs.create(marker, true).close()
    val out = batchAsg.filter(col("rk") === 1)
      .select(col("vec_id"), col("cell")).localCheckpoint(true)
    batchAsg.unpersist(false)
    out
  }

  /** Fold the graph maintainer's delta logs into their base tables
    * and dedup crash-replay rows — the graph twin of compactIvfIndex,
    * one staged swap per table (readers heal interrupted swaps via
    * recoverCompaction). Resolution-before-fold means a crash between
    * the graph swap and the delta delete is benign: the folded base
    * and the surviving delta carry the same rows, and the version
    * resolution picks either identically. */
  def compactGraphIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetPartitions: Int = 32): Unit = {
    val VI = graft.queries.VectorIndex
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(hconf)
    recoverStagedRebuild(fs, indexPath)
    val lease = acquireMaintenanceLease(fs, indexPath)
    def swapIn(sub: String, write: String => Unit): Unit =
      swapInTable(fs, indexPath, sub, lease)(write): Unit
    // fold deletions alongside the delta folds: resolvedGraph and
    // cachedEntries are tombstone-resolved, so rewriting from them IS
    // the fold — and with tombstones present the graph/entries swaps
    // run even when no delta exists (a delete-only index still folds).
    // Deleted ids linger in survivors' stored nbr lists (dangling —
    // never fetched, so never scored; fully re-derived on the next
    // rebuild), which keeps the fold O(rows), not O(pairs).
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    val gd = new org.apache.hadoop.fs.Path(s"$indexPath/graph_delta")
    if (fs.exists(gd) || tsFiles.nonEmpty) {
      foldPartitioned(fs, indexPath, "graph", lease,
        VI.resolvedGraph(spark, indexPath), "cell", targetPartitions)
      if (fs.exists(gd)) fs.delete(gd, true)
    }
    val ed = new org.apache.hadoop.fs.Path(s"$indexPath/entries_delta")
    if (fs.exists(ed) || tsFiles.nonEmpty) {
      val resolvedEntries = VI.cachedEntries(spark, indexPath).toSeq
      import spark.implicits._
      swapIn("entries", tmp => resolvedEntries.toDF("cell", "vec_id")
        .coalesce(1).write.mode("overwrite").parquet(tmp))
      if (fs.exists(ed)) fs.delete(ed, true)
    }
    foldPartitioned(fs, indexPath, "members", lease,
      minusTombstones(
        spark.read.parquet(s"$indexPath/members"), "vec_id", indexPath)
        .dropDuplicates("cell", "vec_id"),
      "cell", targetPartitions)
    clearTombstoneFiles(fs, tsFiles)
    // the entries cache keys on (cents, markers, tombstones) — none
    // of which the fold moves — so drop it explicitly: the folded
    // base now carries what the cache resolved
    VI.invalidateEntries(indexPath)
  }

  /** Staging-root NAME PREFIX of the staged index rebuilds
    * ([[rebuildGraphIndex]], [[rebuildIvfIndex]]) — a full index
    * layout nested under the live one (underscore prefix: invisible
    * to every parquet read of the real tables). One prefix serves
    * every family: a root is only ever ONE kind of index, and the
    * commit manifest carries the family's table list explicitly.
    *
    * Each acquisition stages into its OWN root
    * (`_graft_rebuild_<lease name>` — the lease epoch + token embed
    * in the name), never a shared fixed directory: with a fixed
    * staging root, a fenced OLDER rebuild's long Spark stage writes
    * could complete AFTER a newer winner deleted and re-staged the
    * same directory, silently replacing the winner's staged tables —
    * and the winner's commit-time lease check (it IS newest) would
    * then rename a polluted manifest into place. With per-acquisition
    * roots, a fenced writer's late writes land in ITS uniquely-named
    * root, which stays inert (its commit's lease check aborts before
    * any manifest appears) and is garbage-collected by the next
    * rebuild. The heal discovers roots by prefix listing, so the
    * legacy fixed name rolls forward identically. */
  private[graft] val GraphRebuildDir = "_graft_rebuild"

  /** This acquisition's own staging root (see [[GraphRebuildDir]]). */
  private def rebuildStagingRoot(indexPath: String,
      lease: MaintenanceLease): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"$indexPath/${GraphRebuildDir}_${lease.name}")

  /** Epoch a staging-root name embeds (heal ordering: newest-epoch
    * manifest rolls forward LAST, so of two committed roots — only
    * reachable through the documented advisory check-to-rename
    * window — the newest wins). Legacy fixed name = epoch 0. */
  private def stagingEpoch(name: String): Long =
    if (name == GraphRebuildDir) 0L
    else leaseEpoch(name.stripPrefix(GraphRebuildDir + "_")).getOrElse(0L)

  /** Every rebuild staging root currently under the index, heal
    * order. Test-visible: specs locate abandoned/fenced stagings by
    * prefix instead of assuming a fixed name. */
  private[graft] def stagingRoots(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Seq[org.apache.hadoop.fs.Path] = {
    val ip = new org.apache.hadoop.fs.Path(indexPath)
    if (!fs.exists(ip)) Seq.empty
    else fs.listStatus(ip).map(_.getPath)
      .filter(_.getName.startsWith(GraphRebuildDir))
      .sortBy(p => (stagingEpoch(p.getName), p.getName)).toSeq
  }
  /** Every table a graph rebuild can replace, in swap order. */
  private val GraphRebuildTables = Seq("supers", "cents", "graph",
    "entries", "members", "graph_delta", "entries_delta")
  /** Every table an IVF rebuild can replace, in swap order. */
  private val IvfRebuildTables = Seq("cents", "cells", "stats")

  /** Per-indexPath monitor serializing the rebuild heal within this
    * JVM: the heal runs from EVERY reader/ingester touch, and two
    * concurrent touchers interleaving exists/delete/rename on the
    * same committed rebuild could each consume half the swap (one
    * deletes a real table the other just renamed in). The JVM lock
    * serializes same-process touchers; CROSS-process maintenance is
    * fenced by the lease + epoch protocol below
    * ([[acquireMaintenanceLease]] / [[checkMaintenanceLease]]): a
    * second sweeper acquiring the lease bumps the epoch, and the
    * older writer fails loudly at its next check — before any
    * live-table mutation — instead of interleaving commit windows
    * the heal cannot distinguish. */
  private val graphRebuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def graphRebuildLock(indexPath: String): Object =
    graphRebuildLocks.computeIfAbsent(indexPath, _ => new Object)

  // ------------------------------------------------------------------
  // Cross-process maintenance fencing (lease + epoch token)
  // ------------------------------------------------------------------

  /** Thrown when a maintenance writer discovers a NEWER lease epoch:
    * another process (or thread outside the JVM lock) has started
    * maintaining the same index, and proceeding to a swap/commit
    * could interleave commit windows the crash-heal cannot
    * distinguish. The loser aborts loudly BEFORE mutating any live
    * table; re-running it after the winner finishes is always safe
    * (every maintenance operation here is idempotent from a clean
    * start). */
  final class MaintenanceFencedException(msg: String)
    extends IllegalStateException(msg)

  /** Lease directory under each index/table root. Underscore prefix:
    * invisible to parquet readers, like the staging root. */
  private[graft] val LeaseDirName = "_graft_lease"

  /** A maintenance writer's fencing token: the epoch it acquired and
    * the exact lease file name that records it. */
  final case class MaintenanceLease(indexPath: String, epoch: Long,
    name: String)

  private def leaseDir(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/$LeaseDirName")

  /** Parse `e<19-digit epoch>_<token>` lease names; anything else in
    * the directory — including a 19-digit string past Long.MaxValue —
    * is ignored (never aborts a writer). */
  private def leaseEpoch(name: String): Option[Long] =
    if (name.length > 21 && name.startsWith("e") && name.charAt(20) == '_' &&
        name.substring(1, 20).forall(_.isDigit))
      name.substring(1, 20).toLongOption.filter(_ >= 0L)
    else None

  /** Acquire the maintenance lease on an index: create a lease file
    * at epoch = (current max) + 1. Monotonic epochs make fencing
    * one-directional — a later acquirer ALWAYS fences every earlier
    * one, so of two sweepers the newest wins and the older aborts at
    * its next [[checkMaintenanceLease]]. Two writers racing to the
    * SAME epoch resolve deterministically (smallest lease file name
    * wins; the loser deletes its file and aborts here). Lease files
    * are tiny and pruned to the trailing few epochs on each acquire.
    *
    * This is advisory fencing on filesystem listings, not a CAS: the
    * unfenceable window is the check-to-rename gap itself (a writer
    * acquiring between another's final check and its rename). What
    * it closes is the real operational hazard — two long-running
    * sweepers interleaving whole staging/commit phases; what remains
    * needs a conditional-write primitive no generic Hadoop FS
    * offers, and is documented rather than pretended away. */
  private[graft] def acquireMaintenanceLease(
      fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): MaintenanceLease = {
    val dir = leaseDir(indexPath)
    fs.mkdirs(dir)
    def names(): Seq[String] =
      fs.listStatus(dir).map(_.getPath.getName).toSeq
    val epoch = names().flatMap(leaseEpoch).foldLeft(0L)(math.max) + 1L
    val name = f"e$epoch%019d_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val mine = new org.apache.hadoop.fs.Path(dir, name)
    fs.create(mine, false).close()
    val peers = names().filter(n => leaseEpoch(n).contains(epoch))
    if (peers.min != name) {
      fs.delete(mine, false)
      throw new MaintenanceFencedException(
        s"maintenance lease on $indexPath: lost the epoch-$epoch race to " +
          s"${peers.min} — another maintenance writer is active")
    }
    names().filter(n => leaseEpoch(n).exists(_ < epoch - 4))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(dir, n), false))
    MaintenanceLease(indexPath, epoch, name)
  }

  /** Fail loudly if this writer's lease is no longer the newest —
    * called immediately before every point of no return (the first
    * rename of a compaction swap; each rebuild catch-up write; the
    * `_COMMITTED` manifest rename). AFTER a manifest rename the heal
    * proceeds regardless of fencing: a committed rebuild is the
    * point of no return, and the heal is idempotent from any
    * process. */
  private[graft] def checkMaintenanceLease(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: MaintenanceLease): Unit = {
    val dir = leaseDir(lease.indexPath)
    val names =
      if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).toSeq
      else Seq.empty[String]
    if (!names.contains(lease.name))
      throw new MaintenanceFencedException(
        s"maintenance lease ${lease.name} on ${lease.indexPath} has " +
          "disappeared — fenced (or the lease dir was removed); aborting " +
          "before any live-table mutation")
    val fencedBy = names.filter(n => leaseEpoch(n).exists(e =>
      e > lease.epoch || (e == lease.epoch && n < lease.name)))
    if (fencedBy.nonEmpty)
      throw new MaintenanceFencedException(
        s"maintenance lease epoch ${lease.epoch} on ${lease.indexPath} is " +
          s"fenced by ${fencedBy.sorted.last} — a newer maintenance writer " +
          "owns this index; aborting before any live-table mutation")
  }

  /** Roll a COMMITTED staged index rebuild forward — the heal every
    * reader/ingester of a rebuildable index runs first (graph:
    * healGraph, cachedGraphQuantizer, graphIngestBatch,
    * compactGraphIndex, graphIndexHealth; IVF: healCells,
    * cachedCentroids, ivfIngestBatch, compactIvfIndex), so a crash
    * anywhere inside the table-swap sequence finishes on the next
    * touch instead of leaving a half-swapped index (new quantizer,
    * old rows — or worse, a stale delta whose versions would
    * override fresh base rows).
    *
    * The `_COMMITTED` manifest (staged to a temp name and RENAMED in
    * by the rebuild — atomic, so a crash mid-write can never leave a
    * truncated manifest that reads as "nothing staged") carries one
    * action per line — `swap:<table>` (staged copy replaces the
    * real; absence of the staged dir means this table's swap already
    * completed on a previous heal — skip) or `drop:<table>` (the
    * real copy describes the REPLACED index — delete it; stale delta
    * logs die here) — so the heal is family-agnostic: the committing
    * rebuild decides the table list, the heal just replays it. Every
    * step is idempotent: per-table delete + atomic rename,
    * re-runnable from any crash point, and serialized per index
    * within the JVM (see [[graphRebuildLock]]). Belt-and-braces: an
    * empty or unparseable manifest is rejected loudly rather than
    * interpreted. A staging root WITHOUT the manifest is left
    * alone — it is either an active rebuild mid-staging (readers
    * stay on the intact live tables) or an abandoned one (the next
    * rebuild clears it); deleting it here would race a live
    * rebuild's staging writes.
    *
    * CROSS-PROCESS protocol (round 16): every maintenance writer
    * (`rebuild*`/`compact*`; the `maintain*` policies act through
    * them) first acquires the per-index lease
    * ([[acquireMaintenanceLease]] — a monotonic-epoch lease file
    * under [[LeaseDirName]]) and re-checks it
    * ([[checkMaintenanceLease]]) immediately before every point of
    * no return: each compaction swap's first rename, each rebuild
    * catch-up write, and the `_COMMITTED` manifest rename. A newer
    * acquisition fences every older one, so of two concurrent
    * sweepers the newest wins and the older aborts PRE-commit with
    * [[MaintenanceFencedException]], its staging root left inert
    * (no manifest ⟹ readers ignore it; the winner's next rebuild
    * clears it). The heal here runs UNFENCED by design: a committed
    * manifest is the point of no return and replaying it is
    * idempotent from any process. */
  private[graft] def recoverStagedRebuild(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String): Unit = graphRebuildLock(indexPath).synchronized {
    // staging roots are per-acquisition-unique (prefix listing finds
    // the legacy fixed name too); COMMITTED ones roll forward in
    // epoch order so the newest wins, manifest-less ones are left
    // alone (active mid-staging, or abandoned — the next rebuild's
    // GC clears them)
    stagingRoots(fs, indexPath).foreach { root =>
      val committed = new org.apache.hadoop.fs.Path(root, "_COMMITTED")
      if (fs.exists(committed)) {
        val lines = {
          val in = fs.open(committed)
          val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
          finally in.close()
          new String(bytes, "UTF-8").split("\n").map(_.trim)
            .filter(_.nonEmpty).toSeq
        }
        if (lines.isEmpty || !lines.forall(l =>
            l.startsWith("swap:") || l.startsWith("drop:")))
          throw new java.io.IOException(
            s"staged-rebuild manifest $committed is empty or malformed — " +
              "refusing to roll forward (expected swap:/drop: lines)")
        lines.foreach { line =>
          val t = line.substring(5)
          val s = new org.apache.hadoop.fs.Path(root, t)
          val real = new org.apache.hadoop.fs.Path(s"$indexPath/$t")
          if (line.startsWith("swap:")) {
            if (fs.exists(s)) {
              if (fs.exists(real)) fs.delete(real, true)
              if (!fs.rename(s, real)) throw new java.io.IOException(
                s"staged-rebuild roll-forward: could not move $s into $real")
            }
          } else if (fs.exists(real)) {
            fs.delete(real, true)
          }
        }
        fs.delete(root, true)
        graft.queries.VectorIndex.invalidateCentroids(indexPath)
      }
    }
  }

  /** Commit a staged rebuild: write the action manifest atomically
    * (temp name + rename) and run the shared idempotent heal. The
    * fencing check runs immediately before the manifest rename — the
    * last instant a fenced writer can still abort with the live
    * index untouched; once the manifest is in place the rebuild is
    * committed and ANY process may finish the heal. */
  private def commitStagedRebuild(fs: org.apache.hadoop.fs.FileSystem,
      indexPath: String, root: org.apache.hadoop.fs.Path,
      tables: Seq[String], lease: MaintenanceLease): Unit = {
    val actions = tables.map { t =>
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t"))) s"swap:$t"
      else s"drop:$t"
    }
    val committed = new org.apache.hadoop.fs.Path(root, "_COMMITTED")
    val tmp = new org.apache.hadoop.fs.Path(root, "_COMMITTED__tmp")
    val out = fs.create(tmp, true)
    try out.write(actions.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    checkMaintenanceLease(fs, lease)
    if (!fs.rename(tmp, committed)) throw new java.io.IOException(
      s"staged rebuild: could not move the commit manifest $tmp into place")
    recoverStagedRebuild(fs, indexPath)
  }

  /** Rebuild the graph-ANN index's two-level quantizer over the
    * CURRENT roster and re-cell + re-edge every vector under it —
    * the ACT side of [[graphIndexHealth]]'s rebuild-WHEN signal
    * (`sharded_cells` rising under stable `n_nodes` means the
    * build-time quantizer has drifted off the ingested distribution;
    * the measured stale-regime penalty is PROFILE_VOLUME.md's
    * 114.5 s vs 17.0 s per probe batch). Until now acting on the
    * signal meant a manual offline `buildGraph` re-run against the
    * original corpus; this is the staged retrain-under-ingest
    * operator with the same tmp+swap/heal contract as the other
    * maintainers:
    *
    *  1. STAGE: train a fresh quantizer on a bounded sample of the
    *     roster (`members/` dedup — every vector the index has ever
    *     ingested, already normalized) and write a complete new
    *     index (supers/cents/graph/entries/members) under
    *     [[GraphRebuildDir]] via the build's own
    *     `trainAndWriteGraph` path. The live index keeps serving and
    *     ingesting throughout — staging touches nothing outside its
    *     root.
    *  2. CATCH UP: batches applied to the LIVE index while staging
    *     ran (visible as new ledger markers) are folded into the
    *     staging root through the maintainer's own ingest path
    *     (`graphIngestNormed` — their vectors are read back from the
    *     live `members/` roster, already normalized), iterated until
    *     the ledger holds still. Each round shrinks to just the
    *     batches of the previous round's window; a ledger that never
    *     holds still within `maxCatchUp` rounds fails loudly with
    *     the pause-the-ingest instruction rather than spinning.
    *  3. COMMIT: write the `_COMMITTED` manifest (the staged table
    *     list) and run [[recoverStagedRebuild]] — per-table
    *     delete + atomic rename, idempotent from any crash point,
    *     finished by whichever reader/ingester touches the index
    *     next if this process dies mid-swap. Stale delta logs die
    *     with the replaced tables (their versions refer to the old
    *     quantizer's cells); the batch-marker ledger is PRESERVED —
    *     every marked batch is in the staged index by construction
    *     (roster read covers markers ≤ staging start; catch-up
    *     covers the rest), so replay idempotency carries over.
    *
    * Writer discipline: same single-maintenance-writer contract as
    * `compactGraphIndex` — call it from the process that runs the
    * ingest loop, BETWEEN batches (the foreachBatch shape). The
    * expensive phase (staging) tolerates concurrent ingest by
    * design; only the commit itself assumes no append in flight.
    * Serving stays available throughout: pre-commit reads see the
    * intact live index, post-crash reads heal-first.
    *
    * After it: `sharded_cells` returns to the fresh-build value
    * (cells re-sized to the CURRENT n/GraphCellTarget),
    * read_amplification to ~1 (a catch-up delta may remain —
    * `compactGraphIndex` folds it), and probe cost to the fresh
    * curve (ProfileGraphIngest act 3). */
  def rebuildGraphIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, degree: Int = graft.queries.VectorIndex.GraphDegree,
      lloydRounds: Int = 4, maxTrain: Int = 4096): Unit =
    rebuildGraphIndexStaged(spark, indexPath, degree, lloydRounds,
      maxTrain)(() => ())

  /** [[rebuildGraphIndex]] with a post-staging hook — the spec
    * injects a live ingest batch there to pin the catch-up path. */
  private[graft] def rebuildGraphIndexStaged(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      degree: Int = graft.queries.VectorIndex.GraphDegree,
      lloydRounds: Int = 4, maxTrain: Int = 4096, maxCatchUp: Int = 8)(
      afterStaging: () => Unit): Unit = {
    val VI = graft.queries.VectorIndex
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish any committed predecessor, clear any abandoned staging
    recoverStagedRebuild(fs, indexPath)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // GC abandoned staging roots with STRICTLY OLDER epochs: those
    // acquisitions are fenced by ours — committed ones were just
    // rolled forward, and a fenced writer's in-flight Spark write may
    // recreate parts of ITS uniquely-named root afterwards (inert —
    // its commit aborts at the lease check — until the next GC). A
    // NEWER-epoch root is left alone: it belongs to a writer that has
    // already fenced US, and deleting it here (an old writer waking
    // late) could destroy a winner's staging or a freshly committed
    // manifest mid-heal.
    stagingRoots(fs, indexPath)
      .filter(r => stagingEpoch(r.getName) < lease.epoch)
      .foreach(r => fs.delete(r, true))
    val root = rebuildStagingRoot(indexPath, lease)
    Seq("graph", "entries", "members").foreach(sub =>
      recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$indexPath/$sub")))

    def markerSet(): Set[String] = {
      val mp = new org.apache.hadoop.fs.Path(
        s"$indexPath/${VI.GraphMarkersDir}")
      if (!fs.exists(mp)) Set.empty
      else fs.listStatus(mp).map(_.getPath.getName).toSet
    }
    // tombstoned vectors are OUT of the retrain roster — the rebuild
    // subsumes the deletion fold (files listed here clear post-commit)
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    def roster(): DataFrame = minusTombstones(
      spark.read.parquet(s"$indexPath/members"), "vec_id", indexPath)
      .select(col("vec_id"), col("emb")).dropDuplicates("vec_id")

    // 1. STAGE
    var seen = markerSet()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val r0 = roster().persist(lvl)
    VI.trainAndWriteGraph(spark, r0, root.toString, degree, lloydRounds,
      maxTrain)
    r0.unpersist(false)
    afterStaging()

    // 2. CATCH UP
    var rounds = 0
    var cur = markerSet()
    while (cur != seen) {
      if (rounds >= maxCatchUp) throw new IllegalStateException(
        s"graph rebuild at $indexPath could not catch up with concurrent " +
          s"ingest after $maxCatchUp rounds — pause the ingest and re-run")
      val missed = roster().join(
        spark.read.parquet(s"$root/members").select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      // delta version: any id above the staged base's −1 orders
      // correctly; the newest live batchId keeps versions aligned
      // with the ledger for post-swap debugging. Parse defensively:
      // only b<digits> names are batch markers (a stray file — an FS
      // artifact, a future marker flavor — must not NumberFormat-abort
      // a rebuild mid-staging), and a marker set that SHRANK (cur !=
      // seen with no new names) still loops correctly — fall back to
      // the newest parseable marker overall, then 0
      def batchIds(names: Set[String]): Set[Long] = names.flatMap { n =>
        // ≤ 19 digits (the full Long range — leaseEpoch's width);
        // toLongOption drops a 19-digit overflow instead of throwing
        if (n.length > 1 && n.length <= 20 && n.startsWith("b") &&
          n.drop(1).forall(_.isDigit)) n.drop(1).toLongOption
        else None
      }
      val fresh = batchIds(cur -- seen)
      val ver =
        if (fresh.nonEmpty) fresh.max
        else (batchIds(cur) + 0L).max
      checkMaintenanceLease(fs, lease)
      graphIngestNormed(root.toString, metricsEvery = 0)(missed, ver)
      seen = cur
      cur = markerSet()
      rounds += 1
    }

    // 3. COMMIT — the shared atomic manifest + idempotent heal
    commitStagedRebuild(fs, indexPath, root, GraphRebuildTables, lease)
    clearTombstoneFiles(fs, tsFiles)
  }

  /** The IVF twin of [[rebuildGraphIndex]]: retrain the coarse
    * quantizer over the CURRENT cells roster and re-assign every
    * vector under it, staged + atomically committed — the ACT side
    * of `ivfStaleness`'s rebuild flag (which rides the ingest path's
    * metrics log). Until now acting on the flag meant an in-place
    * `buildIvf` re-run that (a) needs the ORIGINAL corpus directory
    * and (b) overwrites cents and cells non-atomically — a crash
    * between the two leaves a new quantizer over old assignments.
    * Same three phases as the graph rebuild (stage from the roster /
    * catch up batches that landed during staging through the
    * maintainer's own assignment / commit via the shared manifest +
    * heal), same single-maintenance-writer discipline, and the
    * `stats` staleness reference is recomputed over the FINAL staged
    * cells (catch-up included) so the audit reads clean immediately
    * after its own remedy.
    *
    * `k` = 0 (default) keeps the CURRENT centroid count — the common
    * re-center-on-drift case, and the setting under which a rebuild
    * with no interleaved ingest is bit-identical to a fresh
    * `buildIvf` over the same vectors (spec-pinned); pass an explicit
    * k to re-size the codebook for a grown corpus (the flat
    * quantizer scores all k per probe, so scale k like any IVF:
    * ~√n-to-n/500 by serving budget). */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int = 0, lloydRounds: Int = 4,
      trainMod: Int = 1, maxTrain: Int = 4096): Unit =
    rebuildIvfIndexStaged(spark, indexPath, k, lloydRounds, trainMod,
      maxTrain)(() => ())

  /** [[rebuildIvfIndex]] with the spec's post-staging hook. */
  private[graft] def rebuildIvfIndexStaged(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      k: Int = 0, lloydRounds: Int = 4, trainMod: Int = 1,
      maxTrain: Int = 4096, maxCatchUp: Int = 8)(
      afterStaging: () => Unit): Unit = {
    val VI = graft.queries.VectorIndex
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStagedRebuild(fs, indexPath)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // same per-acquisition staging + strictly-older-epoch GC as the
    // graph rebuild
    stagingRoots(fs, indexPath)
      .filter(r => stagingEpoch(r.getName) < lease.epoch)
      .foreach(r => fs.delete(r, true))
    val root = rebuildStagingRoot(indexPath, lease)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$indexPath/cells"))

    def markerSet(): Set[String] = {
      val mp = new org.apache.hadoop.fs.Path(s"$indexPath/$IvfMarkersDir")
      if (!fs.exists(mp)) Set.empty
      else fs.listStatus(mp).map(_.getPath.getName).toSet
    }
    // crash-window replays can duplicate rows — the roster dedups by
    // vec_id exactly as compaction would; tombstoned vectors are OUT
    // of the roster (a rebuild subsumes the deletion fold — the
    // files listed here clear after the commit)
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    def roster(): DataFrame = minusTombstones(
      spark.read.parquet(s"$indexPath/cells"), "vec_id", indexPath)
      .select(col("vec_id"), col("emb")).dropDuplicates("vec_id")

    // 1. STAGE
    var seen = markerSet()
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val r0 = roster().persist(lvl)
    val kEff = if (k > 0) k
      else VI.cachedCentroids(spark, indexPath).length
    VI.trainAndWriteIvf(spark, r0, root.toString, kEff, lloydRounds,
      trainMod, maxTrain)
    r0.unpersist(false)
    afterStaging()

    // 2. CATCH UP — assign the missed vectors under the NEW quantizer
    // (the maintainer's own nearestCellExpr) and append to the staged
    // cells; rows are read back from the live roster already
    // normalized, so no re-normalization bit-drift
    var rounds = 0
    var cur = markerSet()
    var caughtUp = false
    while (cur != seen) {
      if (rounds >= maxCatchUp) throw new IllegalStateException(
        s"IVF rebuild at $indexPath could not catch up with concurrent " +
          s"ingest after $maxCatchUp rounds — pause the ingest and re-run")
      val missed = roster().join(
        spark.read.parquet(s"$root/cells").select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      val cents = VI.cachedCentroids(spark, root.toString)
      checkMaintenanceLease(fs, lease)
      missed
        .withColumn("cell", VI.nearestCellExpr(cents, col("emb")))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$root/cells")
      caughtUp = true
      seen = cur
      cur = markerSet()
      rounds += 1
    }
    // the staleness reference must describe the FINAL staged cells —
    // with no catch-up the build already wrote it from exactly these
    if (caughtUp) VI.writeIvfStats(spark, root.toString)

    // 3. COMMIT
    commitStagedRebuild(fs, indexPath, root, IvfRebuildTables, lease)
    clearTombstoneFiles(fs, tsFiles)
  }

  // ------------------------------------------------------------------
  // Index maintenance policy (the closed loop: audit → decide → act)
  // ------------------------------------------------------------------

  /** WHAT a graph table service should do given the audit row — PURE,
    * so the spec pins the decision table without paying index builds.
    * Two independent signals, two remedies:
    *
    *  - REBUILD when the quantizer is structurally under-provisioned:
    *    skew already shows (`sharded_cells` > 0 — cells past the
    *    2×GraphShardTarget split) AND a fresh build over the CURRENT
    *    roster would train ≥ 2× the cells this index has
    *    (graphCellsTarget — the same arithmetic the rebuild runs, so
    *    the policy recommends exactly what acting on it delivers).
    *    The 2× guard keeps one skewed cell on an otherwise
    *    right-sized index (data skew k-means cannot fix; the shard
    *    rule already bounds its cost) from triggering futile
    *    retrains.
    *  - COMPACT when `read_amplification` ≥ `compactAmp` (delta rows
    *    the version resolution re-reads on every serve). A rebuild
    *    SUBSUMES compaction (fresh base tables, empty delta), so only
    *    one action is ever recommended.
    *
    * Thresholds are arguments, not constants, because the right knee
    * is deployment-specific (ProfileGraphIngest measured the stale
    * regime at 6.7× probe cost with cellsTarget/n_cells = 10×; the
    * default 2× acts well before that). */
  private[graft] def graphMaintenanceActions(nNodes: Long, nCells: Long,
      shardedCells: Long, readAmp: Double,
      compactAmp: Double = 2.0): Seq[String] =
    if (nNodes == 0L) Seq.empty
    else if (shardedCells > 0 && nCells > 0 &&
      graft.queries.VectorIndex.graphCellsTarget(nNodes) >= 2L * nCells)
      Seq("rebuild")
    else if (readAmp >= compactAmp) Seq("compact")
    else Seq.empty

  /** The IVF decision: `ivfStaleness.rebuild` IS the rebuild signal
    * (quality/skew thresholds measured against the build-time
    * reference — see its Scaladoc); compaction fires on small-file
    * pressure (crash-replay duplicates and per-batch appends grow the
    * file count; past `fileFactor`× the cell count, listing and
    * footer overhead dominate small probes). */
  private[graft] def ivfMaintenanceActions(rebuildFlag: Boolean,
      cellsFiles: Long, k: Int, fileFactor: Int = 8): Seq[String] =
    if (rebuildFlag) Seq("rebuild")
    else if (k > 0 && cellsFiles > fileFactor.toLong * k) Seq("compact")
    else Seq.empty

  /** Poll-and-act entry point for the graph index — what a table
    * service schedules: read [[graphIndexHealth]], decide
    * ([[graphMaintenanceActions]]), act ([[rebuildGraphIndex]] /
    * [[compactGraphIndex]]). Returns the actions taken, so the
    * caller's log shows WHY the index changed. Same
    * single-maintenance-writer discipline as the actions themselves. */
  /** A pending tombstone log is itself a compact trigger: deletion's
    * "physical erase rides the next scheduled compaction" contract
    * must fire on a SETTLED index too — without this, an index whose
    * amplification/file-pressure signals never trip would keep a
    * taken-down doc's bytes on disk forever behind the serve-time
    * filter. Applied uniformly by every maintain* policy below (both
    * remedies fold the log, so any already-decided action suffices). */
  private def withTombstoneFold(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, actions: Seq[String]): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (actions.isEmpty && tombstoneParquetFiles(fs, indexPath).nonEmpty)
      Seq("compact")
    else actions
  }

  def maintainGraphIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, compactAmp: Double = 2.0,
      targetPartitions: Int = 32): Seq[String] = {
    val h = graphIndexHealth(spark, indexPath).collect()(0)
    val actions = withTombstoneFold(spark, indexPath,
      graphMaintenanceActions(h.getLong(0), h.getLong(1),
        h.getLong(3), h.getDouble(6), compactAmp))
    actions.foreach {
      case "rebuild" => rebuildGraphIndex(spark, indexPath)
      case "compact" => compactGraphIndex(spark, indexPath, targetPartitions)
    }
    actions
  }

  /** Z-order decision: COMPACT (the OPTIMIZE job) when clustering has
    * decayed — overlap pairs per file ≥ `overlapPerFile` (a freshly
    * compacted table reads 0: range partitioning gives disjoint
    * segments; every unsorted append overlaps ~all existing segments,
    * so the per-file average climbs fast exactly when box-filter
    * pruning degrades) — or on raw small-file pressure past
    * `maxFiles`. Pure; `zorderHealth` supplies the inputs. */
  private[graft] def zorderMaintenanceActions(nFiles: Long,
      overlapPairs: Long, overlapPerFile: Double = 1.0,
      maxFiles: Long = 512): Seq[String] =
    if (nFiles <= 1) Seq.empty
    else if (overlapPairs.toDouble / nFiles >= overlapPerFile ||
      nFiles > maxFiles) Seq("compact")
    else Seq.empty

  /** HLL decision: COMPACT when the register log's read
    * amplification (rows stored / resolved registers) reaches
    * `compactAmp` — every profile read max-merges the whole log, so
    * amplification IS the read multiplier. */
  private[graft] def hllMaintenanceActions(readAmp: Double,
      compactAmp: Double = 2.0): Seq[String] =
    if (readAmp >= compactAmp) Seq("compact") else Seq.empty

  /** Poll-and-act for a Z-order table: [[zorderHealth]] →
    * [[zorderMaintenanceActions]] → [[compactZorder]]. `nFiles` is
    * the OPTIMIZE target segment count (compactZorder's parameter). */
  def maintainZorderTable(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, dimX: String, dimY: String,
      overlapPerFile: Double = 1.0, maxFiles: Long = 512,
      nFiles: Int = 32): Seq[String] = {
    val h = zorderHealth(spark, tablePath, dimX, dimY).collect()(0)
    val actions = zorderMaintenanceActions(h.getLong(0), h.getLong(1),
      overlapPerFile, maxFiles)
    actions.foreach { case "compact" =>
      compactZorder(spark, tablePath, dimX, dimY, nFiles) }
    actions
  }

  /** Poll-and-act for an HLL profile index: [[hllIndexHealth]] →
    * [[hllMaintenanceActions]] → [[compactHllIndex]]. Applies to the
    * grouped index verbatim (same register schema). */
  def maintainHllIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, compactAmp: Double = 2.0): Seq[String] = {
    val h = hllIndexHealth(spark, indexPath).collect()(0)
    val actions = hllMaintenanceActions(h.getDouble(2), compactAmp)
    actions.foreach { case "compact" => compactHllIndex(spark, indexPath) }
    actions
  }

  /** Clusters decision: COMPACT (fold the merge log into labels) when
    * `merge_share` — merge rows per label row, the resolution backlog
    * every read and ingest pays one clustersOf over — reaches
    * `maxShare`. Pure; `clustersIndexHealth` supplies it. */
  private[graft] def clustersMaintenanceActions(mergeShare: Double,
      maxShare: Double = 0.5): Seq[String] =
    if (mergeShare >= maxShare && mergeShare > 0) Seq("compact") else Seq.empty

  /** Sample decision: COMPACT (collapse cands to the live top-k) at
    * `read_amplification` ≥ `compactAmp` — cands rows per (source×k)
    * the read re-ranks every call. */
  private[graft] def sampleMaintenanceActions(readAmp: Double,
      compactAmp: Double = 2.0): Seq[String] =
    if (readAmp >= compactAmp) Seq("compact") else Seq.empty

  /** Near-dup (text LSH) decision: COMPACT on small-file pressure —
    * every micro-batch appends a few files per touched bucket, and
    * past `maxFiles` the per-batch pruned reads pay file-open
    * overhead per tiny file. (The audit's OTHER signal,
    * `hot_row_share`, has no automated remedy by design: rising
    * boilerplate collisions need a re-shingle or upstream dedup — a
    * human decision the metrics log surfaces, not a lever this
    * policy should pull.) */
  private[graft] def nearDupMaintenanceActions(files: Long,
      maxFiles: Long = 256): Seq[String] =
    if (files > maxFiles) Seq("compact") else Seq.empty

  private def countParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }

  /** Poll-and-act for the incremental-components index. */
  def maintainClustersIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxShare: Double = 0.5,
      targetPartitions: Int = 32): Seq[String] = {
    val h = clustersIndexHealth(spark, indexPath).collect()(0)
    val actions = withTombstoneFold(spark, indexPath,
      clustersMaintenanceActions(h.getDouble(2), maxShare))
    actions.foreach { case "compact" =>
      compactClustersIndex(spark, indexPath, targetPartitions) }
    actions
  }

  /** Poll-and-act for the weighted-priority sample index. */
  def maintainSampleIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int = 10,
      compactAmp: Double = 2.0): Seq[String] = {
    val h = sampleIndexHealth(spark, indexPath, k).collect()(0)
    val actions = withTombstoneFold(spark, indexPath,
      sampleMaintenanceActions(h.getDouble(2), compactAmp))
    actions.foreach { case "compact" => compactSampleIndex(spark, indexPath, k) }
    actions
  }

  /** Poll-and-act for the text near-dup LSH index. */
  def maintainNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxFiles: Long = 256,
      targetPartitions: Int = 32): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      countParquetFiles(fs, new org.apache.hadoop.fs.Path(s"$indexPath/bands")) +
      countParquetFiles(fs, new org.apache.hadoop.fs.Path(s"$indexPath/shingles"))
    val actions = withTombstoneFold(spark, indexPath,
      nearDupMaintenanceActions(files, maxFiles))
    actions.foreach { case "compact" =>
      compactNearDupIndex(spark, indexPath, targetPartitions) }
    actions
  }

  /** Health row for the phash media near-dup index: live media count
    * (tombstone-resolved — what serves), raw stored block rows, the
    * parquet file count (the compact-WHEN pressure signal), and the
    * pending tombstone files awaiting their fold. */
  def phashIndexHealth(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/blocks")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val (nMedia, nRows) =
      if (!fs.exists(p)) (0L, 0L)
      else {
        val r = minusTombstones(spark.read.parquet(p.toString),
            "media_id", indexPath)
          .agg(countDistinct(col("media_id")), count(lit(1))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    import spark.implicits._
    Seq((nMedia, nRows, countParquetFiles(fs, p),
        tombstoneParquetFiles(fs, indexPath).size.toLong))
      .toDF("n_media", "n_block_rows", "n_files", "tombstones_pending")
  }

  /** Poll-and-act for the phash media near-dup index — the same
    * small-file compact rule as the text LSH twin, plus the uniform
    * tombstone-fold trigger. */
  def maintainPhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, maxFiles: Long = 256,
      targetPartitions: Int = 32): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = countParquetFiles(fs,
      new org.apache.hadoop.fs.Path(s"$indexPath/blocks"))
    val actions = withTombstoneFold(spark, indexPath,
      nearDupMaintenanceActions(files, maxFiles))
    actions.foreach { case "compact" =>
      compactPhashIndex(spark, indexPath, targetPartitions) }
    actions
  }

  /** The IVF twin of [[maintainGraphIndex]]. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, fileFactor: Int = 8,
      targetPartitions: Int = 32): Seq[String] = {
    val VI = graft.queries.VectorIndex
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStagedRebuild(fs, indexPath)
    val cellsPath = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
    recoverCompaction(fs, cellsPath)
    if (!fs.exists(cellsPath)) return Seq.empty
    val flagged = VI.ivfStaleness(spark, indexPath)
      .collect()(0).getAs[Boolean]("rebuild")
    val actions = withTombstoneFold(spark, indexPath,
      ivfMaintenanceActions(flagged,
        countParquetFiles(fs, cellsPath),
        VI.cachedCentroids(spark, indexPath).length, fileFactor))
    actions.foreach {
      case "rebuild" => rebuildIvfIndex(spark, indexPath)
      case "compact" => compactIvfIndex(spark, indexPath, targetPartitions)
    }
    actions
  }

  /** One swept root's outcome: what was found there, what the policy
    * did, and the family audit AFTER acting (rendered `k=v` pairs —
    * for the scheduler's log, not for joins). */
  final case class MaintenanceReport(root: String, family: String,
    actions: Seq[String], audit: String)

  /** The per-family thresholds a [[maintainAll]] sweep applies —
    * one value object instead of seven positional knob lists, with
    * every default identical to the single-family entry points'.
    * A deployment tunes ONCE for its file sizes and decay tolerance
    * and passes the same object to every sweep. */
  final case class MaintenanceTuning(
    graphCompactAmp: Double = 2.0,
    zorderOverlapPerFile: Double = 1.0,
    zorderMaxFiles: Long = 512,
    hllCompactAmp: Double = 2.0,
    clustersMaxShare: Double = 0.5,
    sampleK: Int = 10,
    sampleCompactAmp: Double = 2.0,
    nearDupMaxFiles: Long = 256,
    phashMaxFiles: Long = 256,
    ivfFileFactor: Int = 8,
    targetPartitions: Int = 32)

  /** The unified maintenance sweep — the one entry point a scheduler
    * calls over every index/table root it owns (the round-15 verdict
    * item: seven per-family poll-and-act policies existed, but a
    * table service had to know which was which). Each root's family
    * is detected from its on-disk layout (each family's table set is
    * disjoint: graph = graph+cents, IVF = cells+cents, text LSH =
    * bands+shingles, phash = blocks, clusters = labels, sample =
    * cands, HLL = regs, Z-order = rows+zstats), its family policy
    * runs (audit → pure
    * decision table → act, exactly the single-family entry points —
    * this adds DISPATCH, not new policy), and the family audit is
    * re-read so the report shows the settled state. Unknown layouts
    * report family "unknown" with no action rather than guessing.
    *
    * Z-order roots need their (dimX, dimY) clustering key — layout
    * cannot reveal which columns the table is sorted by — via
    * `zorderDims`; a Z-order root without an entry is reported
    * "skipped:no-dims". Thresholds come from one [[MaintenanceTuning]]
    * (defaults identical to the single-family entry points').
    *
    * Scale: the sweep is sequential by design — maintenance is
    * IO-swap-bound, not compute-bound, and the lease protocol means
    * concurrent sweeps of the SAME root would just fence each other;
    * sweeping distinct roots from distinct schedulers is fine (leases
    * are per-root). Audits are metadata-sized, so a no-op sweep over
    * hundreds of roots costs listings, not scans.
    *
    * Fault isolation (the reference's fan-out discipline): a root
    * whose remedy is FENCED mid-action by a newer maintenance writer
    * ([[MaintenanceFencedException]]) reports `actions = ["fenced"]`
    * with the fencing message as its audit and the sweep CONTINUES to
    * the remaining roots — one contended index must not kill a
    * hundred-root sweep. The fenced root is left exactly as the
    * fencing guarantees (live tables untouched, staging inert), and
    * the next sweep's fresh acquisition simply retries it. Every
    * OTHER non-fatal per-root fault (corrupt footer, a table deleted
    * between detection and remedy, transient FS error) reports
    * `actions = ["failed"]` under the same blast-radius rule —
    * applied to the REMEDY only: a remedy that succeeded but whose
    * post-action audit re-read throws keeps its real actions list and
    * reports the audit fault in the audit field (`audit-failed: …`) —
    * a state-changing action must never read as a failure just
    * because its health row could not be rendered. A root whose
    * layout matches MORE THAN ONE family probe (sibling subdirs from
    * two families accumulated under one root) reports
    * `actions = ["ambiguous"]` with the matched families, instead of
    * silently maintaining whichever family probed first. */
  def maintainAll(spark: org.apache.spark.sql.SparkSession,
      roots: Seq[String],
      zorderDims: Map[String, (String, String)] = Map.empty,
      tuning: MaintenanceTuning = MaintenanceTuning()): Seq[MaintenanceReport] = {
    def render(df: DataFrame): String = {
      val r = df.collect()(0)
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
    }
    val t = tuning
    roots.map { root =>
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def has(sub: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/$sub"))
      // every family probe evaluated independently — ambiguity is a
      // report, not a first-match coin toss
      val matched = Seq(
        "graph" -> (has("graph") && has("cents")),
        "ivf" -> (has("cells") && has("cents")),
        "neardup" -> (has("bands") && has("shingles")),
        "phash" -> has("blocks"),
        "clusters" -> has("labels"),
        "sample" -> has("cands"),
        "hll" -> has("regs"),
        "zorder" -> (has("rows") && has("zstats"))
      ).collect { case (f, true) => f }
      if (matched.size > 1)
        MaintenanceReport(root, matched.mkString("+"), Seq("ambiguous"),
          s"root matches multiple family layouts (${matched.mkString(", ")}) " +
            "— split the tables into per-family roots before maintaining")
      else {
        val (family, remedy, audit): (String, () => Seq[String], () => String) =
          matched.headOption.getOrElse("unknown") match {
            case "graph" => ("graph",
              () => maintainGraphIndex(spark, root, t.graphCompactAmp,
                t.targetPartitions),
              () => render(graphIndexHealth(spark, root)))
            case "ivf" => ("ivf",
              () => maintainIvfIndex(spark, root, t.ivfFileFactor,
                t.targetPartitions),
              () => render(graft.queries.VectorIndex.ivfStaleness(spark, root)))
            case "neardup" => ("neardup",
              () => maintainNearDupIndex(spark, root, t.nearDupMaxFiles,
                t.targetPartitions),
              () => render(lshIndexHealth(spark, root)))
            case "phash" => ("phash",
              () => maintainPhashIndex(spark, root, t.phashMaxFiles,
                t.targetPartitions),
              () => render(phashIndexHealth(spark, root)))
            case "clusters" => ("clusters",
              () => maintainClustersIndex(spark, root, t.clustersMaxShare,
                t.targetPartitions),
              () => render(clustersIndexHealth(spark, root)))
            case "sample" => ("sample",
              () => maintainSampleIndex(spark, root, t.sampleK,
                t.sampleCompactAmp),
              () => render(sampleIndexHealth(spark, root, t.sampleK)))
            case "hll" => ("hll",
              () => maintainHllIndex(spark, root, t.hllCompactAmp),
              () => render(hllIndexHealth(spark, root)))
            case "zorder" => zorderDims.get(root) match {
              case Some((dx, dy)) => ("zorder",
                () => maintainZorderTable(spark, root, dx, dy,
                  t.zorderOverlapPerFile, t.zorderMaxFiles,
                  t.targetPartitions),
                () => render(zorderHealth(spark, root, dx, dy)))
              case None => ("zorder",
                () => Seq("skipped:no-dims"), () => "")
            }
            case _ => ("unknown", () => Seq.empty, () => "")
          }
        sweepReport(root, family, remedy, audit)
      }
    }
  }

  /** One swept root's fault handling — remedy and audit channels are
    * SEPARATE: a fenced or failed remedy reports as such
    * (blast-radius rule — report it, sweep on); a remedy that RAN
    * keeps its real actions even when the post-action audit re-read
    * throws (health frame empty, transient FS error during the
    * render) — the audit fault rides the audit field as
    * `audit-failed: …` instead of misclassifying a successful,
    * state-changing action as a failure. Pure over its thunks, so
    * the spec pins the isolation without fixture surgery. */
  private[graft] def sweepReport(root: String, family: String,
      remedy: () => Seq[String], audit: () => String): MaintenanceReport = {
    val (actions, remedyErr) =
      try (remedy(), None) catch {
        case e: MaintenanceFencedException =>
          (Seq("fenced"), Some(e.getMessage))
        case scala.util.control.NonFatal(e) =>
          (Seq("failed"),
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val auditText = remedyErr.getOrElse(
      try audit() catch {
        case scala.util.control.NonFatal(e) =>
          s"audit-failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
      })
    MaintenanceReport(root, family, actions, auditText)
  }

  /** Health row of the graph-ANN index — the audit the round-13
    * verdict flagged as the one index family without one. One row:
    *
    *   n_nodes        — distinct indexed vectors (members roster)
    *   n_cells        — cells holding at least one member
    *   max_cell_n     — largest cell membership: the per-batch ingest
    *                    cost driver (a touched cell's FULL membership
    *                    re-pairs — within its shards — every batch
    *                    that lands in it)
    *   sharded_cells  — cells past the 2×GraphShardTarget split
    *                    threshold: quantizer-skew exposure; a rising
    *                    count under stable n_nodes means the stored
    *                    quantizer has drifted off the data and a
    *                    rebuild (the ivf_staleness playbook) is due
    *   graph_rows     — adjacency rows stored: base + delta
    *   delta_rows     — of those, unfolded maintainer appends
    *   read_amplification — graph_rows / n_nodes: the LSM
    *                    compact-WHEN signal (1.0 right after
    *                    [[compactGraphIndex]]; every serve resolves
    *                    versions across all stored rows, so this IS
    *                    the per-walk read multiplier)
    *
    * Metadata-sized relative to the corpus: two count-aggregates over
    * cell-partitioned tables (map-side combinable on the partition
    * key) — never a pair frame, never an embedding dot. An absent
    * index reads as the all-zeros row, matching the other audits. */
  def graphIndexHealth(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStagedRebuild(fs, indexPath)
    def existing(sub: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
      recoverCompaction(fs, p)
      if (!fs.exists(p)) None
      else try Some(spark.read.parquet(p.toString))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }
    val splitAt = 2L * graft.queries.VectorIndex.GraphShardTarget
    // membership counts describe the LIVE corpus (tombstoned vectors
    // excluded) — n_nodes feeds the rebuild decision's retrain
    // target, which must size for what a rebuild would actually
    // index; graph_rows/delta_rows stay raw storage counts (they
    // price the reads, which still scan the unfolded rows)
    val (nNodes, nCells, maxCell, sharded) = existing("members")
        .map(minusTombstones(_, "vec_id", indexPath)) match {
      case None => (0L, 0L, 0L, 0L)
      case Some(m) =>
        val perCell = m.dropDuplicates("cell", "vec_id")
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
            // distinct vec_ids counted per cell then re-merged would
            // double-count rk=2 rows; count them once globally below
            sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_prim"))
        val r = perCell.agg(
          coalesce(sum(col("n_prim")), lit(0L)),
          count(lit(1)),
          coalesce(max(col("n")), lit(0L)),
          coalesce(sum(when(col("n") > splitAt, 1L).otherwise(0L)), lit(0L)))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val baseRows = existing("graph").map(_.count()).getOrElse(0L)
    val deltaRows = existing("graph_delta").map(_.count()).getOrElse(0L)
    val graphRows = baseRows + deltaRows
    Seq((nNodes, nCells, maxCell, sharded, graphRows, deltaRows,
        if (nNodes == 0L) 0.0
        else math.rint(graphRows.toDouble / nNodes * 10000) / 10000))
      .toDF("n_nodes", "n_cells", "max_cell_n", "sharded_cells",
        "graph_rows", "delta_rows", "read_amplification")
  }

  // ------------------------------------------------------------------
  // Incremental connected components (cluster maintenance)
  // ------------------------------------------------------------------

  /** Marker ledger for clustersIngestBatch — one empty file per
    * applied batchId, same replay-idempotency contract as the
    * text/phash/IVF index families. */
  private val CcMarkersDir = "_graft_cc_batches"

  /** Load the merge log as a frame; None when absent (no merges yet,
    * or compaction folded them all into the labels table). */
  private def loadMergeLog(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/merges")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(p.toString))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Resolution map of the merge log: (lbl, root) for every label the
    * log moves, where root = the minimum label of its merge-component
    * — computed by the SAME pair-clustering engine the batch paths
    * use, so the bounded-finish/distributed-handoff policy applies to
    * the log exactly as it does to any pair set. None when the log is
    * absent (every stored label is already final). */
  private def mergeResolution(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] =
    loadMergeLog(spark, indexPath).map { m =>
      graft.queries.TextQueries.clustersOf(m)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("lbl"), col("cluster_id").as("root"))
    }

  /** Bucket-meta-disciplined append shared by every bkt-partitioned
    * index table (near-dup bands/shingles, clusters labels). Appends
    * match the INDEX'S OWN layout: a legacy (pre-bucketing) table
    * keeps receiving flat files — mixing bkt= partition dirs into a
    * flat table would corrupt partition discovery for every later
    * read — and a bucketed table receives rows bucketed under its
    * RECORDED modulus (absent meta = pre-meta table = PreMetaBuckets;
    * no table at all = brand-new under the live constant), re-derived
    * via `rebucket` when that modulus differs from the live constant,
    * so the recorded meta stays true for every row and the full-scan
    * fallback stays lossless. Corrupt meta means the historical
    * modulus is unknowable: append under the live constant WITHOUT
    * stamping — reads already full-scan, so the mixed moduli stay
    * lossless until compaction re-buckets everything and repairs the
    * meta. The stamp itself goes BEFORE the append (tmp+rename
    * inside): stamping after left a crash window where rows written
    * under a non-default modulus would later read as PreMetaBuckets
    * and prune lossily; a meta-only directory from a crash right here
    * is harmless — loadIndex's AnalysisException path reads it as "no
    * table". */
  private def appendBucketed(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, target: String, loaded: Option[IndexTable],
      rebucket: Int => Column): Unit = {
    if (loaded.exists(_.legacy)) {
      rows.drop("bkt").write.mode("append").parquet(target)
      return
    }
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recorded = loaded.map(_.meta).map(recordedBuckets)
      .getOrElse(Some(IndexBuckets))
    val tableBuckets = recorded.getOrElse(IndexBuckets)
    if (recorded.isDefined && !loaded.exists(_.meta == MetaValue(tableBuckets)))
      writeBucketMeta(fs, p, tableBuckets)
    val aligned =
      if (tableBuckets == IndexBuckets) rows
      else rows.withColumn("bkt", rebucket(tableBuckets))
    aligned
      // align tasks with the partition column before the partitioned
      // write: without this every shuffle task writes a file into
      // every bucket dir it touches (tasks × buckets small files per
      // batch — measured 2 000+ at 500-doc batches); with it, one
      // file per touched bucket per batch
      .repartition(col("bkt"))
      .write.mode("append").partitionBy("bkt").parquet(target)
  }

  /** Incrementally maintain connected components over a stream of
    * edge batches — the streaming twin of the batch cluster family
    * (dedup_clusters / emb_dedup_clusters / g4_components all run
    * TextQueries.clustersOf over a pair source; this maintains the
    * same labeling as pairs ARRIVE, the production shape of near-dup
    * clustering: pair detection streams via nearDupIngestBatch, and
    * cluster ids must follow without re-clustering the corpus).
    *
    * State is LSM-shaped, append-only between compactions:
    *  - `labels`  (doc_id, lbl, bkt): one row per node, written by the
    *    FIRST batch that sees it, never rewritten by ingest. Bucketed
    *    by docBucket(doc_id) so per-batch lookups partition-prune.
    *  - `merges`  (a_id, b_id): the merge log — one pair per cluster
    *    merge event, appended when a batch edge connects two existing
    *    clusters. Current label of a node = its stored lbl resolved
    *    through the log's components (mergeResolution).
    *
    * INVARIANT (the correctness argument): every stored lbl is a node
    * id of its own component, and the global component minimum m is
    * always stored as lbl = m (when m first arrived, every id in its
    * then-visible sub-component was ≥ m). The merge log connects two
    * labels iff their clusters were joined by an observed edge, so a
    * label's merge-component contains exactly its true component's
    * labels, whose minimum is m — resolution therefore yields the
    * SAME component-min labeling the batch clustersOf computes over
    * the full accumulated edge set (pinned batch-equal per boundary
    * in the spec).
    *
    * Per-batch cost at 100 TB: one partition-pruned labels lookup for
    * the batch's touched buckets, one clustersOf over the BATCH-sized
    * label-space delta, one clustersOf over the (compaction-bounded)
    * merge log, and appends proportional to new nodes + merge events.
    * The corpus-sized labels table is scanned only by readClusters
    * (whose output is corpus-sized anyway) and by compaction — never
    * by ingest.
    *
    * Append order is new-ROOT label rows, then merges, then the
    * remaining label rows — chosen so every crash window leaves a
    * labeling whose clusters reflect a subset of the accumulated
    * edges AND whose every cluster root has its keeper row
    * (doc_id == cluster_id) in `labels`; the window-by-window
    * argument sits at the append site. On replay, already-applied
    * merges resolve to equal endpoints and vanish from the delta and
    * already-written label rows leave newNodes, so only genuinely
    * missing facts re-append; the batch marker then makes the
    * fully-applied case a pure no-op.
    *
    * Returns the batch's touched nodes with their POST-batch cluster
    * ids — deterministic under replay (a replayed batch recomputes
    * the same frame from the already-applied state). */
  def clustersIngestBatch(indexPath: String,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    // Every reused batch frame below is EAGERLY CHECKPOINTED (cut to
    // a LogicalRDD leaf), not persisted: a persisted frame's plan
    // subtree still prints in full at every re-reference, and this
    // method runs ~15 actions whose physical trees re-embedded the
    // whole edges→touched→known→cur→delta lineage once per reference
    // — at sf0.01 the driver spent MINUTES per batch inside
    // QueryExecution.explainString rendering those trees (thread-dump
    // evidence in OPTIMIZATION_r17.md; the guide §7.3 "driver busy,
    // zero tasks" signature). Frames here are batch-proportional by
    // construction, so the eager materialization is the same work the
    // first action did anyway — only the plan trees shrink.
    val edges = cutLineage(batch
      .select(col("a_id").cast("long").as("a_id"),
        col("b_id").cast("long").as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct())
    val touched = cutLineage(edges.select(col("a_id").as("doc_id"))
      .unionByName(edges.select(col("b_id").as("doc_id")))
      .distinct())
    val tb = touched.select(docBucket(col("doc_id")).as("bkt")).distinct()
      .collect().map(_.getInt(0)).toSeq

    // ONE listing per batch, reused for the pruned read AND the
    // append-layout decision (the nearDupIngestBatch discipline)
    val labelsLoaded = loadIndex(spark, s"$indexPath/labels")
    val labelsSchema = touched
      .select(col("doc_id"), col("doc_id").as("lbl"),
        docBucket(col("doc_id")).as("bkt")).limit(0)
    val known = cutLineage(
      prunedIndex(spark, labelsLoaded, "labels", labelsSchema, tb)
        .join(broadcast(touched), Seq("doc_id"))
        .select(col("doc_id"), col("lbl")))

    // current label = stored label resolved through the merge log
    // (the log is compaction-bounded — typically broadcast-sized; no
    // explicit hint so a neglected log degrades to a shuffle join
    // instead of an OOM)
    val resolve = mergeResolution(spark, indexPath)
    val curKnown = resolve match {
      case None => known.select(col("doc_id"), col("lbl").as("cur"))
      case Some(r) => known.join(r, Seq("lbl"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("lbl")).as("cur"))
    }
    val newNodes = cutLineage(touched.join(known.select(col("doc_id")),
      Seq("doc_id"), "left_anti"))
    val cur = cutLineage(curKnown
      .unionByName(newNodes.select(col("doc_id"), col("doc_id").as("cur"))))

    // label-space delta: batch edges projected onto current labels —
    // already-connected endpoints collapse (la == lb) and drop, so
    // the delta holds only NEW connectivity facts, batch-proportional
    // by construction
    val delta = edges
      .join(cur.select(col("doc_id").as("a_id"), col("cur").as("la")), Seq("a_id"))
      .join(cur.select(col("doc_id").as("b_id"), col("cur").as("lb")), Seq("b_id"))
      .filter(col("la") =!= col("lb"))
      .select(least(col("la"), col("lb")).as("a_id"),
        greatest(col("la"), col("lb")).as("b_id"))
      .distinct()
    val deltaLabels = cutLineage(graft.queries.TextQueries.clustersOf(delta)
      .select(col("doc_id").as("cur"), col("cluster_id")))

    // post-batch label of every touched node; eagerly checkpointed so
    // its lineage leaves the index parquet reads BEFORE the appends
    // below invalidate them (the survivors lesson)
    val fin = cur.join(deltaLabels, Seq("cur"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("cur")).as("cluster_id"))
      .localCheckpoint(true)

    // merge rows: one (existing-label -> new-root) fact per existing
    // cluster the delta moved; new nodes need none — their stored
    // label IS the root at write time. Existing labels come from the
    // PERSISTED cur minus newNodes rather than curKnown so the pruned
    // labels read and the merge-log resolution plan execute once per
    // batch (inside cur's materialization), not once per consumer.
    val mergeRows = deltaLabels
      .join(cur.join(newNodes, Seq("doc_id"), "left_anti")
        .select(col("cur")).distinct(), Seq("cur"))
      .filter(col("cur") =!= col("cluster_id"))
      .select(col("cur").as("a_id"), col("cluster_id").as("b_id"))
      .distinct().localCheckpoint(true)
    val newRows = fin
      .join(newNodes.select(col("doc_id")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id").as("lbl"),
        docBucket(col("doc_id")).as("bkt"))
      .localCheckpoint(true)

    val fsRoot = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/$CcMarkersDir/b$batchId")
    val alreadyApplied = fsRoot.exists(marker)
    if (!alreadyApplied) {
      // Three appends, ordered so EVERY crash window leaves a
      // labeling whose clusters reflect a subset of the accumulated
      // edges with every cluster root present in `labels`:
      //  1. label rows of new nodes that are their cluster's ROOT —
      //     before the merge facts that point existing labels at
      //     them, so a root is never referenced before its keeper row
      //     (doc_id == cluster_id) exists. Crash after this step:
      //     the roots read as singletons, no new edges applied.
      //  2. the merge log. Crash after this step: existing clusters
      //     resolve to roots step 1 already wrote.
      //  3. the remaining new-node rows — missing ones are simply
      //     unseen nodes until replay.
      // Merges before ALL labels would leave existing clusters
      // resolving to a root with no labels row (no keeper); all
      // labels before merges would expose a new node labeled with a
      // root the log does not yet connect, splitting its cluster
      // until replay. Empty frames append nothing (a schema-less dir
      // would poison every later read).
      val docBkt = (m: Int) => docBucket(col("doc_id"), m)
      val newRootRows = newRows.filter(col("doc_id") === col("lbl"))
      val newRestRows = newRows.filter(col("doc_id") =!= col("lbl"))
      if (!newRootRows.isEmpty)
        appendBucketed(spark, newRootRows, s"$indexPath/labels",
          labelsLoaded, docBkt)
      if (!mergeRows.isEmpty)
        mergeRows.coalesce(1).write.mode("append")
          .parquet(s"$indexPath/merges")
      if (!newRestRows.isEmpty)
        appendBucketed(spark, newRestRows, s"$indexPath/labels",
          labelsLoaded, docBkt)
    }
    // health emission before the marker (family rule: a crash between
    // emission and marker replays both; after it would lose the row)
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId, clustersIndexHealth(spark, indexPath))
    if (!alreadyApplied) fsRoot.create(marker, true).close()
    fin
  }

  /** The maintained labeling: (doc_id, cluster_id) for every node any
    * applied batch has seen — identical to running the batch
    * clustersOf over the full accumulated edge set (the spec pins
    * equality at every batch boundary). One full scan of `labels`
    * resolved through the merge log; the output is corpus-sized, so
    * the scan is the floor, not overhead.
    *
    * Tombstone resolution ([[deleteDocs]]): deleted docs are dropped
    * from the OUTPUT — surviving docs keep their cluster_id
    * unchanged, even when that id equals a deleted doc's (the label
    * is an identifier, not a membership claim), and connectivity the
    * deleted doc contributed stays (its edges were already folded
    * into the labeling at ingest). Splits derived from the labels are
    * therefore stable for survivors — the leakage-safety property
    * splitDriftAudit checks. Physical erase of the deleted rows rides
    * [[compactClustersIndex]]. */
  def readClusters(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val labels = loadIndex(spark, s"$indexPath/labels") match {
      case Some(t) => t.df.select(col("doc_id"), col("lbl"))
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("doc_id", "lbl")
    }
    val resolved = mergeResolution(spark, indexPath) match {
      case None => labels.select(col("doc_id"), col("lbl").as("cluster_id"))
      case Some(r) => labels.join(r, Seq("lbl"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("lbl")).as("cluster_id"))
    }
    minusTombstones(resolved, "doc_id", indexPath)
  }

  /** Leakage-safe splits served from the MAINTAINED clusters index —
    * the incremental twin of TextQueries.tSplitSafe: the batch query
    * recomputes LSH pairs + components per run; a table service reads
    * the labels [[clustersIngestBatch]] already maintains and applies
    * the identical split hash (TextQueries.splitOf — one definition,
    * so batch and incremental serving can never disagree on an
    * unchanged label). `docs` supplies the corpus ids; documents the
    * index has never seen in a pair label themselves, exactly as the
    * batch query's singletons do. One broadcast-free equi-join on the
    * uniform doc_id key + a narrow map — no pair or component work at
    * serve time.
    *
    * `pins` is the APPLY side of the [[splitDriftAudit]] loop: the
    * audit detects retroactive moves, a human approves which docs to
    * pin to their old split (doc_id, split), and the overlay applies
    * it — a pinned doc keeps its pinned split regardless of what its
    * current cluster label hashes to; unpinned docs follow the hash.
    * Pins are doc-level and explicit by design: an automated relabel
    * would silently change what a benchmark measures.
    *
    * The overlay defaults to the pins STORED in the index
    * ([[pinSplits]] → `<root>/pins`), so every serving process of one
    * index applies ONE overlay — two services disagreeing on what a
    * benchmark measures was exactly the round-16 caller-supplied
    * hazard. Passing `pins` explicitly overrides the stored set (a
    * what-if, or a test). Either overlay is rejected loudly when it
    * carries more than one row for a doc_id: a duplicate pin would
    * silently fan the serving frame out into duplicate split rows. */
  def splitsOfIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, docs: DataFrame,
      pins: Option[DataFrame] = None): DataFrame = {
    // a tombstoned doc gets NO split (it is out of the corpus) —
    // without this filter a deleted doc supplied in `docs` would
    // quietly re-enter as a self-labeled singleton
    val hashed = minusTombstones(docs.select(col("doc_id")),
        "doc_id", indexPath)
      .join(readClusters(spark, indexPath), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split", graft.queries.TextQueries.splitOf(col("cluster_id")))
    def applyOverlay(p: DataFrame): DataFrame = hashed
      .join(p.select(col("doc_id"), col("split").as("pinned_split")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("pinned_split"), col("split")).as("split"))
    pins match {
      // a CALLER-supplied overlay is unvetted — guard the one-row-per-
      // doc invariant here; the stored overlay already carries it by
      // pinSplits' construction (distinct + conflict check + full
      // rewrite), so the default serve pays no extra job
      case Some(p) =>
        val dup = p.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"splitsOfIndex: the pin overlay carries ${dup(0).getLong(1)} rows " +
            s"for doc_id ${dup(0).getLong(0)} — one pin per doc; a duplicate " +
            "would fan the serving frame out into duplicate split rows")
        applyOverlay(p)
      case None => storedPins(spark, indexPath) match {
        case None => hashed
        case Some(p) => applyOverlay(p)
      }
    }
  }

  /** The pin overlay stored in the clusters index, or None when no
    * pin was ever applied. One row per doc_id by [[pinSplits]]'
    * construction; heal-first like every swapped table. */
  private[graft] def storedPins(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/pins")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    if (!fs.exists(p)) None
    else try Some(spark.read.parquet(p.toString)
      .select(col("doc_id"), col("split")))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Persist split pins INTO the clusters index — the durable APPLY
    * side of the [[splitDriftAudit]] loop: the overlay every
    * [[splitsOfIndex]] serve applies by default, so pinning once (in
    * any process) governs every serving process of this index.
    * `pins` is (doc_id, split); a re-pinned doc_id replaces its
    * stored pin (correcting a pin is as human-explicit as placing
    * it). Rejected loudly: a split outside train/val/test, and an
    * input carrying CONFLICTING rows for one doc_id — first-wins or
    * last-wins would silently decide what a benchmark measures.
    * Stored via the same lease-fenced tmp+swap as every maintained
    * table (readers heal interrupted swaps). Returns the stored
    * overlay's row count. */
  def pinSplits(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, pins: DataFrame): Long = {
    val fresh = pins
      .select(col("doc_id").cast("long").as("doc_id"),
        col("split").cast("string").as("split"))
      .filter(col("doc_id").isNotNull).distinct()
      .localCheckpoint(true)
    // isNull spelled out: a null split would three-value its way PAST
    // the negated isin and store a pin that silently falls back to
    // the hash at serve time — the opposite of "pinned"
    val badSplit = fresh.filter(col("split").isNull ||
        !col("split").isin("train", "val", "test"))
      .limit(1).collect()
    if (badSplit.nonEmpty) throw new IllegalArgumentException(
      s"pinSplits: split '${badSplit(0).getString(1)}' (doc_id " +
        s"${badSplit(0).getLong(0)}) is not one of train/val/test")
    val conflict = fresh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (conflict.nonEmpty) throw new IllegalArgumentException(
      s"pinSplits: conflicting pins for doc_id ${conflict(0).getLong(0)} — " +
        "a doc pins to exactly one split; resolve the conflict and re-apply")
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // merge: stored pins survive unless re-pinned; materialized
    // BEFORE the swap invalidates the stored read
    val merged = (storedPins(spark, indexPath) match {
      case None => fresh
      case Some(st) => fresh.unionByName(
        st.join(fresh.select(col("doc_id")), Seq("doc_id"), "left_anti"))
    }).localCheckpoint(true)
    val n = merged.count()
    swapInTable(fs, indexPath, "pins", lease, createIfAbsent = true)(tmp =>
      merged.coalesce(1).write.mode("overwrite").parquet(tmp)): Unit
    n
  }

  /** Split-stability audit between two label snapshots — the
    * retroactive-leakage check an incremental dedup forces: when a
    * new pair MERGES two existing clusters, the surviving label
    * changes for one side, and with it that side's hash-derived
    * split; a document that already served as training data can land
    * in an eval split after the fact. Input: two (doc_id, cluster_id)
    * frames (e.g. [[readClusters]] before and after an ingest batch,
    * or two stored snapshots). Output: one row per split transition —
    * (from_split, to_split, n_docs) — plus null-sided rows for docs
    * that appeared or disappeared between snapshots. Any row with
    * to_split ∈ {val, test} and from_split = train is the leak.
    *
    * Audit, not policy: the remedy (pin moved docs to their old
    * split, or drop them from eval) is a human decision — an
    * automated relabel would silently change what a benchmark
    * measures. Scale: one full outer join on the uniform doc_id key;
    * the output is at most 4×4 transition rows. */
  def splitDriftAudit(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.select(col("doc_id"),
        graft.queries.TextQueries.splitOf(col("cluster_id")).as("from_split"))
      .join(cur.select(col("doc_id"),
          graft.queries.TextQueries.splitOf(col("cluster_id")).as("to_split")),
        Seq("doc_id"), "full")
      .filter(!(col("from_split") <=> col("to_split")))
      .groupBy(col("from_split"), col("to_split"))
      .agg(count(lit(1)).as("n_docs"))

  /** Health row for the clusters index — the compact-WHEN signal:
    * `n_merge_rows` is the resolution backlog every ingest and read
    * pays one clustersOf over (the LSM read-amplification analogue),
    * and `merge_share` normalizes it by the corpus so a monitor can
    * alert on drift. O(index) scan by design — `metricsEvery` thins
    * the cadence exactly as for the LSH/IVF audits. */
  def clustersIndexHealth(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val nLabels = loadIndex(spark, s"$indexPath/labels")
      .map(_.df.count()).getOrElse(0L)
    val nMerges = loadMergeLog(spark, indexPath).map(_.count()).getOrElse(0L)
    import spark.implicits._
    Seq((nLabels, nMerges,
        if (nLabels == 0L) 0.0 else nMerges.toDouble / nLabels))
      .toDF("n_label_rows", "n_merge_rows", "merge_share")
  }

  /** Fold the merge log into the labels table — the LSM compaction:
    * rewrites `labels` with every lbl resolved to its final root via
    * the checked tmp+swap (recoverCompaction heals a crash inside the
    * rename pair), then deletes the log. Crash after the swap but
    * before the delete leaves a stale log whose pairs resolve to
    * already-final labels — re-resolution is a no-op, so every crash
    * window is consistent. distinct() drops the duplicate label rows
    * a crash between append and marker can leave on replay. Same
    * single-writer-plus-quiesced-readers discipline as the other
    * swap-based compactions. */
  def compactClustersIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetPartitions: Int = 32): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(hconf)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // readClusters below is tombstone-resolved, so the rewrite IS the
    // deletion fold; the folded log files clear after the swap
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    val swapped = foldPartitioned(fs, indexPath, "labels", lease,
      readClusters(spark, indexPath)
        .select(col("doc_id"), col("cluster_id").as("lbl")).distinct()
        .withColumn("bkt", docBucket(col("doc_id"))),
      "bkt", targetPartitions,
      writeMeta = Some(tmp => writeBucketMeta(fs, tmp, IndexBuckets)))
    if (swapped) {
      val merges = new org.apache.hadoop.fs.Path(s"$indexPath/merges")
      if (fs.exists(merges)) fs.delete(merges, true)
      clearTombstoneFiles(fs, tsFiles)
    }
  }

  // ------------------------------------------------------------------
  // Incremental weighted sample (training-mix maintenance)
  // ------------------------------------------------------------------

  /** Marker ledger for sampleIngestBatch — the family's
    * replay-idempotency contract. */
  private val SampleMarkersDir = "_graft_sample_batches"

  /** Incrementally maintain the per-source weighted priority sample
    * (the batch form is TextQueries.tWeightedSample) as documents
    * ARRIVE — the training-mix twin of the index maintainers: a
    * corpus pipeline admits documents continuously, and the
    * token-budget sample must follow without rescanning the corpus.
    *
    * Priorities are a PURE FUNCTION of doc identity and weight
    * (md5-low-32 div token count), so the maintained sample over
    * batches 0..n equals the batch query over their union by the
    * bounded-k selection algebra (w5's argument, restated on
    * arrival order instead of salt shards): any doc outside its
    * batch's per-source top-k is dominated by k batch-mates that DO
    * reach the candidates table, so appending only each batch's
    * per-source top-k loses nothing. State is LSM-shaped:
    *  - `cands` (source, doc_id, w, prio): ≤ k rows per source per
    *    applied batch, append-only between compactions;
    *  - read = per-source k smallest over cands (bounded by
    *    applied-batches × k per source — the read amplification
    *    compaction resets);
    *  - compactSampleIndex collapses cands to the CURRENT top-k via
    *    the checked tmp+swap (recoverCompaction heals a crash inside
    *    the rename pair — heal-first on every reader and ingester,
    *    the family rule).
    *
    * Returns the batch's admitted candidate rows (deterministic
    * under replay; a replayed batch appends nothing). */
  def sampleIngestBatch(indexPath: String, k: Int = 10,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$indexPath/cands"))
    val cand = graft.queries.TextQueries
      .rankSample(graft.queries.TextQueries.weightedPriorities(batch), k)
      .drop("rk")
      .localCheckpoint(true)
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/$SampleMarkersDir/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied && !cand.isEmpty)
      cand.coalesce(1).write.mode("append").parquet(s"$indexPath/cands")
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId, sampleIndexHealth(spark, indexPath, k))
    if (!alreadyApplied) fs.create(marker, true).close()
    cand
  }

  /** The maintained sample: identical shape (and rows — spec-pinned
    * per boundary) to TextQueries.tWeightedSample over every
    * document any applied batch has seen. Tombstoned docs
    * ([[deleteDocs]]) drop BEFORE the rank, so the training mix never
    * serves a taken-down doc and the next-best surviving candidate
    * fills its rank — which is why the index keeps top-k CANDIDATES
    * per batch rather than one winner: deletion (like a later
    * higher-priority arrival) just re-ranks. Physical erase rides
    * [[compactSampleIndex]]. */
  def readSample(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int = 10): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val cands =
      if (fs.exists(p)) minusTombstones(
        spark.read.parquet(p.toString), "doc_id", indexPath)
      else {
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long)]
          .toDF("source", "doc_id", "w", "prio")
      }
    // distinct: a crash between append and marker leaves duplicate
    // candidate rows on replay; without the dedup a doc could occupy
    // two ranks. Cheap — cands is applied-batches × k per source.
    graft.queries.TextQueries.rankSample(cands.distinct(), k)
  }

  /** Health row — the compact-WHEN signal: candidate rows per source
    * versus the k the read needs (the LSM read-amplification
    * analogue, same cadence contract as the other audits). */
  def sampleIndexHealth(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int = 10): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val (nCands, nSources) =
      if (!fs.exists(p)) (0L, 0L)
      else {
        // one aggregation job, not two scans — this rides the hot
        // ingest path at every metrics emission
        val r = spark.read.parquet(p.toString)
          .agg(count(lit(1)), countDistinct(col("source"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    import spark.implicits._
    Seq((nCands, nSources,
        if (nSources == 0L) 0.0 else nCands.toDouble / (nSources * k)))
      .toDF("n_cand_rows", "n_sources", "read_amplification")
  }

  /** Collapse cands to the current top-k per source — the LSM
    * compaction, via the checked tmp+swap. */
  def compactSampleIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, k: Int = 10): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/cands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireMaintenanceLease(fs, indexPath)
    // the rewrite doubles as the deletion fold (file-precise clear)
    val tsFiles = tombstoneParquetFiles(fs, indexPath)
    // distinct() drops the duplicate candidate rows a crash between
    // append and marker can leave on replay
    val swapped = swapInTable(fs, indexPath, "cands", lease)(tmp =>
      graft.queries.TextQueries
        .rankSample(minusTombstones(spark.read.parquet(p.toString),
          "doc_id", indexPath).distinct(), k)
        .drop("rk")
        .coalesce(1).write.mode("overwrite").parquet(tmp))
    if (swapped) clearTombstoneFiles(fs, tsFiles)
  }

  // ------------------------------------------------------------------
  // Z-order layout maintenance (the OPTIMIZE job)
  // ------------------------------------------------------------------

  /** Marker ledger for zorderIngestBatch. */
  private val ZorderMarkersDir = "_graft_zorder_batches"

  /** Streaming appends into a Z-ordered table — the lakehouse
    * reality the layout family has to survive: arriving micro-batches
    * land as small UNSORTED files (appending cheap and durable beats
    * re-clustering per batch), so the table's Z-locality degrades
    * until the next [[compactZorder]] re-clusters it. Rows are never
    * wrong in between — only the file-skipping benefit decays, and
    * [[zorderHealth]] measures exactly that decay (the compact-WHEN
    * signal, same cadence contract as the index audits).
    *
    * Idempotent by FILE NAME, not just by marker: the batch lands
    * under deterministic names `b<batchId>-<i>.parquet` (staged,
    * then moved), and a replay first deletes any partial copy of its
    * own names, so a crash anywhere between the data move and the
    * marker create can never leave duplicate rows — the multiset
    * invariant compactZorder preserves holds across kills. The batch
    * write also records each landed file's zkey [min, max] in the
    * `zstats/` ledger — the same numbers the parquet footers carry,
    * captured at write time so [[zorderHealth]] reads metadata
    * (one row per file), never the table. The clustering dims are
    * maintainer parameters (a table's Z dims are fixed at creation,
    * like OPTIMIZE ZORDER BY columns). */
  def zorderIngestBatch(tablePath: String, dimX: String, dimY: String,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val rowsPath = new org.apache.hadoop.fs.Path(s"$tablePath/rows")
    val fs = rowsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, rowsPath)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$tablePath/zstats"))
    val marker = new org.apache.hadoop.fs.Path(
      s"$tablePath/$ZorderMarkersDir/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied) {
      if (!batch.isEmpty) {
        val stage = new org.apache.hadoop.fs.Path(s"$tablePath/rows__stage_b$batchId")
        if (fs.exists(stage)) fs.delete(stage, true)
        batch.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val parts = fs.listStatus(stage)
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).sortBy(_.getName)
        // replay hygiene: drop any partial copy of THIS batch's names
        if (fs.exists(rowsPath))
          fs.listStatus(rowsPath)
            .filter(_.getPath.getName.startsWith(s"b$batchId-"))
            .foreach(s => fs.delete(s.getPath, false))
        else fs.mkdirs(rowsPath)
        val named = parts.zipWithIndex.map { case (p, i) =>
          (p, new org.apache.hadoop.fs.Path(rowsPath, s"b$batchId-$i.parquet"))
        }
        // footer-equivalent stats, computed from the staged batch
        // (batch-sized read) and keyed by the FINAL file name
        val z = graft.queries.LayoutQueries.zKey(col(dimX), col(dimY))
        val stats = spark.read.parquet(stage.toString)
          .select(input_file_name().as("sf"), z.as("zkey"))
          .groupBy(col("sf")).agg(min("zkey").as("lo"), max("zkey").as("hi"))
          .collect().map { r =>
            val sfName = r.getString(0).split('/').last
            val fin = named.find(_._1.getName == sfName).getOrElse(
              throw new IllegalStateException(s"staged file $sfName vanished"))._2
            // a file whose every row has a null clustering dim has no
            // zkey range: record (null, null) — zorderHealth treats it
            // as zero-width (it cannot intersect any box filter), and
            // a bare getLong here would NPE the batch into a replay
            // loop before its marker ever lands
            (fin.getName,
              if (r.isNullAt(1)) None else Some(r.getLong(1)),
              if (r.isNullAt(2)) None else Some(r.getLong(2)))
          }
        named.foreach { case (src, dst) =>
          if (!fs.rename(src, dst))
            throw new java.io.IOException(s"could not move $src to $dst")
        }
        // deterministic ledger file per batch — a replay overwrites
        import spark.implicits._
        writeZstats(spark, fs, tablePath, s"b$batchId",
          stats.toSeq.toDF("f", "lo", "hi"))
        fs.delete(stage, true)
      }
      fs.create(marker, true).close()
    }
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(tablePath, batchId,
        zorderHealth(spark, tablePath, dimX, dimY))
  }

  /** Write one zstats ledger entry as a single deterministically
    * named parquet file `zstats/<name>.parquet` (staged, then moved,
    * so a replay overwrites instead of duplicating). */
  private def writeZstats(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, tablePath: String,
      name: String, stats: DataFrame): Unit = {
    val dir = new org.apache.hadoop.fs.Path(s"$tablePath/zstats")
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val stage = new org.apache.hadoop.fs.Path(s"$tablePath/zstats__stage_$name")
    if (fs.exists(stage)) fs.delete(stage, true)
    stats.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = fs.listStatus(stage)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath).head
    val dst = new org.apache.hadoop.fs.Path(dir, s"$name.parquet")
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(part, dst))
      throw new java.io.IOException(s"could not move $part to $dst")
    fs.delete(stage, true)
  }

  /** The maintained table (heal-first, like every index reader). A
    * table no applied batch has written rows to yet (fresh root, or
    * only empty batches so far) reads as an empty frame — `schemaOf`
    * supplies its columns when the caller needs them downstream. */
  def readZorder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      schemaOf: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$tablePath/rows")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    if (zorderDataFiles(fs, p).nonEmpty) spark.read.parquet(p.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaOf.getOrElse(new org.apache.spark.sql.types.StructType()))
  }

  private def zorderDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      rowsPath: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(rowsPath)) Nil
    else fs.listStatus(rowsPath).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSeq

  /** Clustering health: per-FILE zkey ranges and how much they
    * overlap. `overlap_pairs` counts file pairs whose [min, max]
    * zkey intervals intersect — 0 right after compaction (range
    * partitioning gives disjoint segments), growing with every
    * unsorted append; `n_files` is the small-file pressure. Together
    * they are the OPTIMIZE trigger a table service would poll.
    *
    * Reads METADATA, not the table: per-file ranges come from the
    * `zstats/` ledger both writers maintain (the numbers the parquet
    * footers carry, captured at write time); only files the ledger
    * lacks — a table predating it — are patched by scanning exactly
    * those files, and the patch is persisted so the repair runs
    * once. Overlap counting is an O(F log F) endpoint sweep, not the
    * O(F²) theta self-join: pairs = C(F,2) − #{(i,j): hi_i < lo_j}
    * (hi_i < lo_j ⟺ disjoint-and-ordered, and every disjoint pair is
    * ordered exactly one way), the subtrahend counted with one
    * running sum over the 2F merged endpoint events — lo events
    * sorted before hi events at equal value, so touching intervals
    * (hi = lo) correctly count as overlapping. */
  def zorderHealth(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, dimX: String, dimY: String): DataFrame = {
    import spark.implicits._
    val rowsPath = new org.apache.hadoop.fs.Path(s"$tablePath/rows")
    val fs = rowsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, rowsPath)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$tablePath/zstats"))
    val live = zorderDataFiles(fs, rowsPath)
    if (live.isEmpty)
      return Seq((0L, 0L)).toDF("n_files", "overlap_pairs")
    val statsPath = new org.apache.hadoop.fs.Path(s"$tablePath/zstats")
    val recorded =
      if (fs.exists(statsPath)) spark.read.parquet(statsPath.toString)
        // data files are immutable (writers only ever rename fresh
        // names in), so duplicate ledger rows for one file are
        // byte-equal — any one wins; rows for files a compaction
        // replaced drop out of the live filter
        .filter(col("f").isin(live: _*)).groupBy(col("f"))
        .agg(min("lo").as("lo"), min("hi").as("hi"))
      else Seq.empty[(String, Long, Long)].toDF("f", "lo", "hi")
    val have = recorded.select(col("f")).collect().map(_.getString(0)).toSet
    val missing = live.filterNot(have)
    val ranges = if (missing.isEmpty) recorded else {
      val z = graft.queries.LayoutQueries.zKey(col(dimX), col(dimY))
      val patched = spark.read
        .parquet(missing.map(f => s"$rowsPath/$f"): _*)
        .select(input_file_name().as("ff"), z.as("zkey"))
        .groupBy(col("ff"))
        .agg(min("zkey").as("lo"), max("zkey").as("hi"))
        .select(element_at(split(col("ff"), "/"), -1).as("f"),
          col("lo"), col("hi"))
        .localCheckpoint(true)
      writeZstats(spark, fs, tablePath,
        s"repair_${java.util.UUID.randomUUID().toString.take(8)}", patched)
      recorded.unionByName(patched)
    }
    val nFiles = live.size.toLong
    // files with a NULL range (every row had a null clustering dim)
    // carry no zkey interval: they count in n_files but cannot
    // overlap anything — a null event value would otherwise corrupt
    // the endpoint sweep's ordering
    val ranged = ranges.filter(col("lo").isNotNull && col("hi").isNotNull)
      .localCheckpoint(true)
    val nRanged = ranged.count()
    val disjointOrdered =
      if (nRanged < 2) 0L
      else zorderSweepFrame(ranged).collect()(0).getLong(0)
    val overlaps = nRanged * (nRanged - 1) / 2 - disjointOrdered
    Seq((nFiles, overlaps)).toDF("n_files", "overlap_pairs")
  }

  /** Bucket count of [[zorderSweepFrame]]'s range split — also the
    * bound on the one remaining unpartitioned window's input. */
  private[graft] val ZorderSweepBuckets = 1024L

  /** The endpoint sweep behind [[zorderHealth]], DISTRIBUTED: count
    * the disjoint-and-ordered file pairs #{(i,j): hi_i < lo_j}
    * without a partition-less window over the 2F endpoint events —
    * at warehouse file counts (10⁶–10⁷ files) a global
    * `orderBy(v, kind)` window serializes all of them through one
    * task. The w4 two-phase prefix shape instead:
    *
    *  1. bucket each event by zkey range (`(v - min) div width` —
    *     exact Long arithmetic; equal values can never straddle a
    *     bucket, so the (v, kind) order is preserved across the
    *     split);
    *  2. the his-before-me prefix WITHIN a bucket runs in a window
    *     partitioned by bucket — F-proportional work spread over
    *     [[ZorderSweepBuckets]] tasks;
    *  3. the cross-bucket carry is a prefix over the per-bucket hi
    *     totals — the only unpartitioned window left, and its input
    *     is aggregate-bounded to ≤ [[ZorderSweepBuckets]] rows
    *     regardless of F (the property the spec's plan pin checks:
    *     every Window with an empty partitionSpec must sit above an
    *     Aggregate), then broadcast back to the event side.
    *
    * Takes the non-null (f, lo, hi) frame; returns the single-row
    * `disjoint_ordered` count frame — collect-site in the caller, so
    * the spec can pin THIS frame's plan shape. */
  private[graft] def zorderSweepFrame(ranged: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val b = ranged.agg(min("lo"), max("hi")).collect()(0)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    // zkeys are non-negative (Morton interleave), so span fits a Long
    val width = math.max(1L, (mx - mn) / ZorderSweepBuckets + 1L)
    val events = ranged.select(col("lo").as("v"), lit(0).as("kind"))
      .unionByName(ranged.select(col("hi").as("v"), lit(1).as("kind")))
      .withColumn("bkt", expr(s"(v - ${mn}L) div ${width}L"))
    def isHi = when(col("kind") === 1, 1L).otherwise(0L)
    val bucketCarry = events.groupBy(col("bkt"))
      .agg(sum(isHi).as("bh"))
      .withColumn("carry", coalesce(
        sum(col("bh")).over(W.orderBy(col("bkt"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("bkt"), col("carry"))
    events
      .withColumn("wh", coalesce(
        sum(isHi).over(W.partitionBy(col("bkt"))
          .orderBy(col("v"), col("kind"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .filter(col("kind") === 0)
      .join(broadcast(bucketCarry), Seq("bkt"))
      .agg(coalesce(sum(col("wh") + col("carry")), lit(0L))
        .as("disjoint_ordered"))
  }

  /** Re-cluster the table — the OPTIMIZE job: one range exchange by
    * zkey into `nFiles` sorted files via the checked tmp+swap
    * (byte-identical rows, restored locality), then the `zstats/`
    * ledger rewritten wholesale from the compacted files (dropping
    * every orphaned pre-compaction entry — the ledger's own
    * compaction). Cost is one pass over the table plus one over the
    * compacted copy for its stats (the numbers the footers of the
    * files just written already hold), amortized across every
    * box-filter read after it. A crash between the rows swap and the
    * stats rewrite is healed by [[zorderHealth]]'s missing-file
    * patch. */
  def compactZorder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, dimX: String, dimY: String, nFiles: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$tablePath/rows")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$tablePath/zstats"))
    val lease = acquireMaintenanceLease(fs, tablePath)
    val swapped = swapInTable(fs, tablePath, "rows", lease)(tmp =>
      graft.queries.LayoutQueries.zorderWrite(
        spark.read.parquet(p.toString), dimX, dimY, tmp, nFiles))
    if (swapped) {
      // ledger rewrite from the compacted files via the same tmp+swap
      // (created if absent — a pre-ledger table gains one here)
      val z = graft.queries.LayoutQueries.zKey(col(dimX), col(dimY))
      val stats = spark.read.parquet(p.toString)
        .select(input_file_name().as("ff"), z.as("zkey"))
        .groupBy(col("ff"))
        .agg(min("zkey").as("lo"), max("zkey").as("hi"))
        .select(element_at(split(col("ff"), "/"), -1).as("f"),
          col("lo"), col("hi"))
        .localCheckpoint(true)
      swapInTable(fs, tablePath, "zstats", lease, createIfAbsent = true)(
        ztmp => stats.coalesce(1).write.mode("overwrite").parquet(ztmp)): Unit
    }
  }

  // ------------------------------------------------------------------
  // Incremental HLL distinct sketch (profile maintenance)
  // ------------------------------------------------------------------

  /** Marker ledger for hllIngestBatch. */
  private val HllMarkersDir = "_graft_hll_batches"

  /** Incrementally maintain the deterministic HLL profile (the batch
    * form is CoreQueries.qHllDistinct) as rows ARRIVE — the sketch
    * member of the index-maintainer family, and the one with the
    * strongest consistency story: registers form a JOIN SEMILATTICE
    * (union's registers = element-wise max of the parts'), so the
    * maintained state is exact — not approximately-merged — and a
    * crash-window duplicate append is harmless by ALGEBRA (max is
    * idempotent), where every other maintainer needs its marker for
    * correctness, not just for state-size hygiene.
    *
    * State: `regs` (col_name, bucket, r) — ≤ m rows per column per
    * applied batch, append-only between compactions; read resolves
    * max per (col_name, bucket); compaction collapses to the
    * resolved registers via the checked tmp+swap. Batch cost is the
    * batch scan + a ≤ m-rows-per-column shuffle — NEVER the corpus:
    * exactly how a 100 TB profile stays current under continuous
    * ingest without rescanning anything.
    *
    * DELETION EXCEPTION (the one index family [[deleteDocs]] cannot
    * serve): register max is irreversible — a sketch cannot subtract
    * a member, by construction. Forgetting a doc here means
    * recomputing the profile over the post-delete corpus
    * (CoreQueries.qHllDistinct batch-rebuild) and replacing `regs`;
    * there is no cheaper exact answer, and pretending otherwise with
    * a tombstone filter would leave the deleted doc's bits inside
    * every register it ever maxed. */
  def hllIngestBatch(indexPath: String,
      cols: Seq[String] = graft.queries.CoreQueries.HllCols,
      metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame =
    hllIngestRegs(indexPath, metricsEvery,
      graft.queries.CoreQueries.hllRegisters(batch, cols), batchId)

  /** GROUPED twin of [[hllIngestBatch]]: maintains one register set
    * per `groupCol` value counting distinct `valueCol` — the
    * streaming form of `q_hll_grouped`'s per-slice cardinality
    * profile. The register schema is identical (col_name carries the
    * group's string value), so [[readHll]] (one estimate row per
    * group), [[compactHllIndex]], and [[hllIndexHealth]] apply to a
    * grouped index verbatim. State is ≤ m rows per GROUP per applied
    * batch; a group appearing mid-stream simply starts its register
    * set in that batch — max-merge needs no backfill. */
  def hllGroupIngestBatch(indexPath: String, groupCol: String,
      valueCol: String, metricsEvery: Int = DefaultMetricsEvery)(
      batch: DataFrame, batchId: Long): DataFrame =
    hllIngestRegs(indexPath, metricsEvery,
      graft.queries.CoreQueries.hllGroupRegisters(batch, groupCol, valueCol),
      batchId)

  private def hllIngestRegs(indexPath: String, metricsEvery: Int,
      regsFrame: DataFrame, batchId: Long): DataFrame = {
    val spark = regsFrame.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, new org.apache.hadoop.fs.Path(s"$indexPath/regs"))
    val regs = regsFrame.localCheckpoint(true)
    val marker = new org.apache.hadoop.fs.Path(
      s"$indexPath/$HllMarkersDir/b$batchId")
    val alreadyApplied = fs.exists(marker)
    if (!alreadyApplied && !regs.isEmpty)
      regs.coalesce(1).write.mode("append").parquet(s"$indexPath/regs")
    if (!alreadyApplied && metricsEvery > 0 && batchId % metricsEvery == 0)
      emitMetrics(indexPath, batchId, hllIndexHealth(spark, indexPath))
    if (!alreadyApplied) fs.create(marker, true).close()
    regs
  }

  /** The maintained profile: identical rows (spec-pinned per
    * boundary) to CoreQueries.hllEstimate over the union of every
    * row any applied batch has seen. */
  def readHll(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/regs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val regs =
      if (fs.exists(p)) spark.read.parquet(p.toString)
      else {
        import spark.implicits._
        Seq.empty[(String, Long, Int)].toDF("col_name", "bucket", "r")
      }
    graft.queries.CoreQueries.hllEstimate(
      regs.groupBy(col("col_name"), col("bucket"))
        .agg(max(col("r")).as("r")))
  }

  /** Health row — register rows stored vs the ≤ m×columns a compacted
    * index holds (the LSM read-amplification analogue). */
  def hllIndexHealth(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/regs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(fs, p)
    val (nRows, nResolved) =
      if (!fs.exists(p)) (0L, 0L)
      else {
        val r = spark.read.parquet(p.toString)
          .agg(count(lit(1)),
            countDistinct(col("col_name"), col("bucket"))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
    import spark.implicits._
    Seq((nRows, nResolved,
        if (nResolved == 0L) 0.0 else nRows.toDouble / nResolved))
      .toDF("n_reg_rows", "n_resolved", "read_amplification")
  }

  /** Collapse regs to the resolved registers — the LSM compaction,
    * via the checked tmp+swap. */
  def compactHllIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/regs")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lease = acquireMaintenanceLease(fs, indexPath)
    swapInTable(fs, indexPath, "regs", lease)(tmp =>
      spark.read.parquet(p.toString)
        .groupBy(col("col_name"), col("bucket")).agg(max(col("r")).as("r"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)): Unit
  }

  /** Incremental END-TO-END sync — SURVEY §7.4#7 made concrete: each
    * micro-batch of raw vendor payload envelopes
    * (`vendorId`, `payload` JSON — the same envelope the HTTP source
    * fetches) runs the ENTIRE batch sync pipeline via
    * `SyncJob.mergeItems`: distributed envelope parse → enrich →
    * catalog match → option aggregate → MERGE into the store → the
    * same one-action A5 counters. Batch and streamed syncs share the
    * core verbatim, so an N-batch streamed sync produces the
    * identical sink and summaries as N batch `syncStore` runs over
    * the same payloads (spec-pinned in StreamSyncSpec at 3 batches,
    * Accumulate mode).
    *
    * {{{
    * envelopes.writeStream.foreachBatch(
    *   StreamOps.syncBatch(store, onSummary = sink ++= _) _)
    * }}}
    *
    * `clock` injects the P12 timestamp per batch (deterministic
    * specs); `onSummary` receives the per-vendor A5 summaries the
    * batch route returns from its HTTP response.
    *
    * Exactly-once under foreachBatch's replay: the batch id is the
    * store's token, committed at the same point as the batch's
    * vendor rows (the parquet commit rename, the JDBC transaction), so
    * a replayed batch whose token is already committed is a no-op (no
    * re-merge, no summary). Like a batch sync, it reads and writes
    * only the k vendors in the batch. */
  def syncBatch(store: graft.sink.MergeWriter.SnapshotStore,
      mode: graft.sink.MergeWriter.MergeMode = graft.sink.MergeWriter.Accumulate,
      clock: Long => java.sql.Timestamp =
        _ => new java.sql.Timestamp(System.currentTimeMillis()),
      onSummary: Seq[graft.model.VendorSummary] => Unit = _ => ())(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    if (store.lastToken(spark).exists(_ >= batchId))
      return  // replayed batch: already committed, whole-batch no-op
    // vendor set of THIS batch: bounded by vendor count
    val okIds = batch.select(col("vendorId")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (okIds.nonEmpty) {
      val items = graft.sources.HttpSource.parseItemsDistributed(
        batch.select(col("vendorId"), col("payload")))
      val (stats, _) = graft.pipeline.SyncJob.mergeItems(
        spark, items, okIds, store, mode, clock(batchId), dryRun = false,
        token = Some(batchId))
      onSummary(okIds.map { id =>
        val c = stats.getOrElse(id,
          graft.pipeline.SyncJob.VendorCounters(0, 0, 0, 0, 0, 0))
        graft.model.VendorSummary(id, graft.model.Schemas.WholecellDb, "ok",
          c.fetched, c.valid, c.skipped, c.inserted, c.updated, c.stock,
          c.inserted + c.updated, None)
      })
    }
  }

  /** Streaming materialized-view maintenance: fold every micro-batch
    * into a stored IncrementalAgg state. Pass to `foreachBatch`:
    *
    * {{{
    * stream.writeStream.foreachBatch(StreamOps.mvMaintainBatch(path, spec) _)
    * }}}
    *
    * EXACTLY-once, not at-least-once: `refreshOnce` commits the
    * batchId high-water token atomically with the refreshed state
    * (same rename), so a replayed micro-batch — foreachBatch's
    * documented failure mode — is a detected no-op rather than a
    * double-fold. Each micro-batch costs O(batch + groups): the
    * streaming-rate version of the same maintenance the k6 batch
    * query proves against the full-recompute oracle. */
  def mvMaintainBatch(storePath: String, spec: graft.ops.IncrementalAgg.AggSpec)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.ops.IncrementalAgg.refreshOnce(
      batch.sparkSession, storePath, batch, spec, batchId)
    ()
  }
}
