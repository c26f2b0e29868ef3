package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Ewm, TimeWindow}

/** Structured Streaming surface — net-new relative to the reference (which
  * has no streaming at all, SURVEY.md §2.12), designed so the nested data
  * model carries over: a stream of child rows is incrementally PACKED into
  * nested cells per key.
  *
  * Scale notes: both operators are keyed stateful aggregations — state is
  * partitioned by key across executors, checkpointed incrementally; the
  * watermark bounds state size.
  */
object StreamingOps {

  /** Windowed streaming pack: child rows → one nested cell per
    * (key, event-time window), emitted on watermark close. The streaming twin
    * of `packFlat` — same collect_list(struct) core, plus watermark +
    * window.
    *
    * LATE-DATA contract (append mode, spec-pinned): a window row is
    * emitted exactly ONCE, when the watermark passes the window end.
    * Out-of-order rows are included as long as the watermark has not
    * passed their window; rows arriving after it are DROPPED silently —
    * the emitted cell is never updated or retracted. Consumers that
    * cannot tolerate drops should widen `watermark` (state cost grows
    * linearly with it) rather than expect updates.
    *
    * OUTPUT MODES (spec-pinned): `append` is the production contract
    * above. `update` is also supported: every micro-batch re-emits the
    * GROWN cell for each (key, window) it touched — consumers see
    * intermediate versions and must upsert by (key, window); the final
    * update equals the append-mode cell, and beyond-watermark rows are
    * dropped identically. `complete` mode is an ANTI-PATTERN here: it
    * disables watermark state eviction (every window ever seen must stay
    * re-emittable), so state grows without bound on an unbounded key
    * space — use it only for bounded-cardinality debugging sinks. */
  def packStream(child: DataFrame, key: String, tsCol: String,
                 valueCols: Seq[String], name: String,
                 windowLen: String = "10 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    child
      .withWatermark(tsCol, watermark)
      .groupBy(col(key), window(col(tsCol), windowLen))
      .agg(collect_list(struct(valueCols.map(col): _*)).as(name))

  /** Streaming exact dedup: first occurrence per key wins; the watermark
    * bounds the dedup state (keys older than the watermark are dropped from
    * state, so memory is O(keys per watermark window), not O(all keys)).
    * Key-ONLY dedup via dropDuplicatesWithinWatermark: the same key arriving
    * with a different timestamp is still a duplicate (a plain
    * dropDuplicates(key :+ ts) would re-admit it). */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup suppression: drop documents whose 64-bit SimHash
    * matches an earlier document's within the watermark. Exact-signature
    * collision is the streaming-budget version of near-dup detection —
    * boilerplate/templated near-identical texts collide on the full
    * signature; batch `dedupNear` remains the recall path. State is one
    * 64-bit key per signature per watermark window. */
  def dedupNearStream(docs: DataFrame, tsCol: String, textCol: String,
                      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__simhash",
        graft.operators.Dedup.simHash64Native(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__simhash"))
      .drop("__simhash")

  /** Streaming DECONTAMINATION gate: flags documents whose word n-grams
    * bloom-hit a benchmark suite ([[graft.operators.Dedup.gramBloom]] blob,
    * built once from the static eval sets and embedded as a literal).
    * Fully STATELESS and row-local — `exists` over the doc's gram array
    * probing the bloom, no explode, no state store, no join — so it runs
    * at scan speed on an unbounded stream. The flag is a CANDIDATE bit:
    * `false` is definitive (bloom has no false negatives → the doc is
    * certainly clean); `true` is true-hits plus the fpp sliver, so route
    * flagged docs to a quarantine sink and confirm them with the exact
    * batch [[graft.operators.Dedup.contamination]] — the standard
    * fast-path + small-quarantine streaming shape. */
  def flagContaminationStream(docs: DataFrame, textCol: String,
                              bloom: Array[Byte], n: Int = 3,
                              flagCol: String = "contam_candidate")
      : DataFrame =
    docs.withColumn(flagCol,
      exists(graft.functions.TextFunctions.tokenShingles(col(textCol), n),
        g => graft.operators.Dedup.mightContainGram(bloom, g)))

  /** Pre-aggregated band table for [[dedupAgainstIndexStream]]: one STATIC
    * row per (band, signature-slice bucket) carrying the candidate
    * signatures. `candCap` bounds a boilerplate-hot bucket (smallest sigs
    * win, deterministically) so no bucket array is unbounded. Build once,
    * write to parquet, reuse every micro-batch. */
  def indexBandTable(index: DataFrame, idCol: String, sigCol: String,
                     numHashes: Int, rowsPerBand: Int,
                     candCap: Int = 1024): DataFrame = {
    val numBands = graft.operators.Dedup.bandCount(numHashes, rowsPerBand)
    index.select(col(sigCol).as("__sig"),
        graft.operators.Dedup
          .sigBanded(col(sigCol), numBands, rowsPerBand).as("e"))
      .select(col("__sig"), col("e.band"), col("e.key"))
      .groupBy(col("band"), col("key"))
      .agg(slice(array_sort(collect_list(col("__sig"))), 1, candCap)
        .as("cands"))
  }

  /** Streaming INCREMENTAL dedup against a STATIC corpus index — the
    * streaming twin of `Dedup.dedupAgainstIndex`: a doc is dropped when
    * its signature agreement with any indexed doc in a shared band bucket
    * reaches `minAgree`. Fully STATELESS on the stream: one 1:1
    * stream–static equi-join per band (the stream side never aggregates —
    * a stream-side distinct + anti-join would be an unsupported
    * stream–stream join) and a row-local `exists` over the bucket's
    * candidates. `bandTable` comes from [[indexBandTable]]. */
  def dedupAgainstIndexStream(stream: DataFrame, bandTable: DataFrame,
                              idCol: String, sigCol: String,
                              numHashes: Int, rowsPerBand: Int,
                              minAgree: Double = 0.8): DataFrame = {
    val numBands = graft.operators.Dedup.bandCount(numHashes, rowsPerBand)
    val joined = (0 until numBands).foldLeft(stream) { (df, b) =>
      val bt = bandTable.where(col("band") === b)
        .select(col("key").as(s"__k$b"), col("cands").as(s"__c$b"))
      df.join(bt,
        graft.operators.Dedup.sigBandKey(col(sigCol), lit(b), rowsPerBand)
          === col(s"__k$b"), "left")
    }
    val matchAny = (0 until numBands).map { b =>
      coalesce(exists(col(s"__c$b"), c =>
        graft.operators.Dedup.sigAgreement(col(sigCol), c, numHashes)
          >= minAgree), lit(false))
    }.reduce[org.apache.spark.sql.Column](_ || _)
    joined.where(!matchAny)
      .drop((0 until numBands).flatMap(b => Seq(s"__k$b", s"__c$b")): _*)
  }

  /** Pre-aggregated LSH bucket table for [[annLshStream]]: one STATIC row
    * per hyperplane bucket carrying up to `candCap` (id, vector) candidate
    * structs (smallest ids win, deterministically — same capping idea as
    * [[indexBandTable]]). Build once from the corpus, reuse every
    * micro-batch. */
  def lshBucketTable(corpus: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int, dim: Int,
                     candCap: Int = 1024): DataFrame =
    corpus.select(col(idCol).as("__nid"), col(vecCol).as("__nv"),
        graft.operators.Similarity
          .hyperplaneBucket(col(vecCol), numPlanes, dim).as("__bucket"))
      .groupBy(col("__bucket"))
      .agg(slice(sort_array(collect_list(struct(col("__nid"), col("__nv")))),
        1, candCap).as("__cands"))

  /** Streaming approximate-nearest-neighbor against a STATIC
    * [[lshBucketTable]] index — similarity search as a stream operator:
    * each query row joins ITS hyperplane bucket (one stream–static
    * equi-join, fully STATELESS — no state store, no watermark), scores
    * the bucket's candidates ROW-LOCALLY with a HOF cosine, and emits its
    * top-k as (query_id, rank, neighbor_id, sim). No per-query
    * aggregation ever touches the stream (a streaming groupBy would need
    * state); the candidate list is bounded by `candCap`, so per-row work
    * is O(candCap · dim + candCap log candCap). Queries whose bucket is
    * empty emit nothing, like the batch `lshTopK` twin. */
  def annLshStream(stream: DataFrame, bucketTable: DataFrame, k: Int,
                   qIdCol: String, qVecCol: String,
                   numPlanes: Int, dim: Int): DataFrame = {
    val S = graft.operators.Similarity
    val q = stream.select(col(qIdCol).as("query_id"), col(qVecCol).as("__qv"),
      S.hyperplaneBucket(col(qVecCol), numPlanes, dim).as("__bucket"))
    val scored = filter(
      transform(col("__cands"), c =>
        struct(S.cosine(col("__qv"), c.getField("__nv")).as("sim"),
          c.getField("__nid").as("neighbor_id"))),
      s => s.getField("sim").isNotNull &&
        s.getField("neighbor_id") =!= col("query_id"))
    q.join(bucketTable, Seq("__bucket"))
      .withColumn("__topk",
        slice(sort_array(scored, asc = false), 1, k))
      .select(col("query_id"),
        posexplode(col("__topk")).as(Seq("__p", "__s")))
      .select(col("query_id"), (col("__p") + 1).cast("int").as("rank"),
        col("__s.neighbor_id").as("neighbor_id"), col("__s.sim").as("sim"))
  }

  /** EVENT-TIME session windows via Spark's native `session_window`
    * aggregation: a session closes when the WATERMARK passes its end + gap
    * (not wall-clock silence), and late events beyond the watermark are
    * dropped — exact event-time semantics, robust to replay/backfill, unlike
    * the ProcessingTimeTimeout variant below. State is keyed and
    * watermark-bounded; the same call works on a batch frame. */
  def sessionizeEventTime(events: DataFrame, key: String, tsCol: String,
                          gap: String = "30 minutes",
                          watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(key), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(key),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  case class SessionIn(user_id: Long, ts_ms: Long, value: Double)
  case class SessionOut(user_id: Long, session_start_ms: Long,
                        session_end_ms: Long, n_events: Long, sum_value: Double)
  case class SessionState(startMs: Long, lastMs: Long, n: Long,
                                  total: Double)

  /** Session windows with a processing gap via flatMapGroupsWithState:
    * emits a session when `gapMs` of silence passes (state timeout).
    * The streaming analog of the batch q_sessionize query. */
  def sessionize(events: Dataset[SessionIn], gapMs: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[SessionIn],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.startMs, s.lastMs, s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_ms)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts_ms - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, e.ts_ms, s.n + 1,
                    s.total + e.value))
                case Some(s) =>
                  closed += SessionOut(userId, s.startMs, s.lastMs, s.n, s.total)
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutDuration(gapMs)
            }
            closed.result().iterator
          }
      }
  }

  case class EwmIn(key: Long, seq: Long, value: Option[Double])
  case class EwmOut(key: Long, seq: Long, ewm: Option[Double])

  /** Streaming exponentially-weighted mean/var/std/sum: the batch verbs'
    * [[Ewm]] kernel (`InheritedOps.ewmMean`/`ewmVar`/`ewmSum`) is a left
    * fold with O(1) state, so it lifts directly onto
    * `flatMapGroupsWithState`: the per-key state is the kernel's
    * [[Ewm.State]], carried across micro-batches, and each input row
    * emits exactly one output row in Append mode. Within a micro-batch
    * the group's rows are sorted by `seq`; ACROSS batches the kernel is
    * order-sensitive by nature (y depends on y_prev), so the contract is
    * the usual streaming one: a key's rows must not arrive in an earlier
    * batch than a lower-`seq` row — parity with the batch verbs under
    * that contract is spec-pinned (StreamFuzzSpec, seeded multi-batch
    * splits). State is O(1) per key and never times out (an ewm over an
    * unbounded stream is a running statistic, not a window); bound the
    * key space or add an eviction policy upstream if keys churn. */
  def ewmStream(events: Dataset[EwmIn], alpha: Double,
                stat: String = "mean", adjust: Boolean = true,
                ignoreNa: Boolean = false, minPeriods: Int = 1,
                bias: Boolean = false)
               (implicit spark: SparkSession): Dataset[EwmOut] = {
    import spark.implicits._
    val ewm = Ewm(alpha, adjust, ignoreNa)
    val read = ewm.reader(stat, minPeriods, bias)
    events.groupByKey(_.key)
      .flatMapGroupsWithState[Ewm.State, EwmOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[EwmIn], state: GroupState[Ewm.State]) =>
          val s = state.getOption.getOrElse(Ewm.State())
          val out = rows.toSeq.sortBy(_.seq).map { e =>
            val x = e.value.getOrElse(Double.NaN)
            ewm.step(s, !x.isNaN, x, !x.isNaN, x)
            EwmOut(e.key, e.seq, Some(read(s)).filterNot(_.isNaN))
          }
          state.update(s)
          out.iterator
      }
  }

  case class RollIn(key: Long, tsMicros: Long, value: Option[Double])
  case class RollOut(key: Long, tsMicros: Long, rolled: Option[Double])

  /** Streaming time-based rolling aggregate: the batch
    * `InheritedOps.rollingTimeAgg` [[TimeWindow]] kernel on
    * `flatMapGroupsWithState` — the per-key state is the kernel's
    * [[TimeWindow.State]], holding ONLY the rows inside the trailing
    * window duration (O(W) per key, evicted as the window slides); each
    * input row emits exactly one output row in Append mode. Same
    * aggregate set, validation and min_periods gates as the batch verb;
    * `closed` supports the trailing-window variants that keep the
    * current row ("right" = (t−w, t] default, "both" = [t−w, t]).
    * Contracts: per-key timestamps are DUPLICATE-FREE and must not
    * arrive in an earlier micro-batch than a lower-ts row (within a
    * batch any order is fine — the shell re-sorts); parity with the
    * batch verb under that contract is spec-pinned (StreamFuzzSpec
    * seeded multi-batch splits, bit-identical). */
  def rollingTimeStream(events: Dataset[RollIn], windowMicros: Long,
                        fn: String = "mean", minPeriods: Int = 1,
                        closed: String = "right", q: Double = 0.5)
                       (implicit spark: SparkSession): Dataset[RollOut] = {
    import spark.implicits._
    val window = TimeWindow(windowMicros, fn, minPeriods, closed, q)
    require(Seq("right", "both").contains(closed),
      s"stream closed must be right|both, got '$closed'")
    events.groupByKey(_.key)
      .flatMapGroupsWithState[TimeWindow.State, RollOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[RollIn],
         state: GroupState[TimeWindow.State]) =>
          val s = state.getOption.getOrElse(TimeWindow.State())
          val out = rows.toSeq.sortBy(_.tsMicros).map { e =>
            val v = window.push(s, e.tsMicros, e.value.getOrElse(Double.NaN))
            RollOut(e.key, e.tsMicros, Option(v).map(_.doubleValue))
          }
          state.update(s.trimmed)
          out.iterator
      }
  }
}
