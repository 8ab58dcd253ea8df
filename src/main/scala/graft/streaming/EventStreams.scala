package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.Materialize.checkpoint

/** Structured-Streaming operators over the events table shape
  * (event_id, ts, user_id, event_type, value, props). The reference has no
  * streaming surface (SURVEY.md §2.8) — these are the north-star additions,
  * built on watermarked windowed aggregation and mapGroupsWithState.
  *
  * Every transform takes a DataFrame so it runs identically on a batch frame
  * (for oracle checks) and a readStream frame: parity between the two is the
  * streaming test strategy.
  */
object EventStreams {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def readStream(spark: SparkSession, dir: String,
                 schema: StructType = eventsSchema): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling 5-minute window per event_type with a 10-minute watermark:
    * count + sum. Late data beyond the watermark is dropped at scale instead
    * of growing state unboundedly. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Distribution-DRIFT monitor over event-time windows — the serving-
    * pipeline health signal (a data or model regression shows up as the
    * label/type mix shifting between windows): per `windowLen` tumbling
    * window, each event_type's share in integer micro-units
    * (floor(cnt·10⁶ / total) — exact integer floor division, identical
    * in every engine), then the L1 distance between CONSECUTIVE windows
    * Σ_type |share_w − share_prev|. A type absent from a window
    * contributes its other-window share whole. Windows with no
    * predecessor window (the first, or one after a gap) emit no row —
    * drift is defined against the immediately preceding aligned window
    * only. Returns (window_start, n_events, drift_micro).
    *
    * Scale: one windowed count aggregation (map-side combined; window
    * count is time-bounded, types bounded), then all work is on the
    * (window × type) frame — corpus never re-enters. Runs identically
    * in batch; the streaming form needs the full previous window closed,
    * i.e. watermark-delayed append mode downstream of [[windowedCounts]].
    */
  def labelDrift(events: DataFrame, typeCol: String = "event_type",
                 windowLen: String = "60 minutes"): DataFrame =
    driftFromCounts(events
      .groupBy(window(col("ts"), windowLen).as("w"), col(typeCol).as("__t"))
      .agg(count(lit(1)).as("__c"))
      .select(col("w.start").as("window_start"), col("__t"), col("__c")),
      windowLen)

  /** The drift half of [[labelDrift]] over an already-computed per-window
    * count frame (window_start, __t, __c) — the seam the STREAMING form
    * plugs into: the count half runs as a watermarked append-mode
    * streaming aggregation, and this bounded-frame report runs batch over
    * whatever windows the watermark has closed. */
  def driftFromCounts(per: DataFrame, windowLen: String): DataFrame = {
    val tot = per.groupBy("window_start").agg(sum("__c").as("__n"))
    val shares = per.join(tot, Seq("window_start"))
      .select(col("window_start"), col("__t"),
        expr("(__c * 1000000L) DIV __n").as("__s"), col("__n"))
    // tumbling windows are epoch-aligned, so start + windowLen lands
    // exactly on the successor window's start — the adjacency join key
    val prev = shares.select(
      (col("window_start") + expr(s"INTERVAL '$windowLen'")).as("window_start"),
      col("__t"), col("__s").as("__sp"))
    shares.join(prev, Seq("window_start", "__t"), "full")
      .where(col("window_start").isNotNull)
      .select(col("window_start"), col("__t"),
        coalesce(col("__s"), lit(0L)).as("__s"),
        coalesce(col("__sp"), lit(0L)).as("__sp"),
        col("__n"))
      .groupBy("window_start")
      .agg(max(col("__n")).as("__n"),
        sum(abs(col("__s") - col("__sp"))).as("drift_micro"))
      // a window whose predecessor emitted nothing has max(__n) only when
      // it has own events; drop windows that exist ONLY as a shifted prev
      // (their __n is null) AND first windows (no prev rows at all)
      .where(col("__n").isNotNull)
      .join(tot.select((col("window_start") + expr(s"INTERVAL '$windowLen'"))
        .as("window_start")), Seq("window_start"), "left_semi")
      .select(col("window_start"), col("__n").cast("long").as("n_events"),
        col("drift_micro").cast("long").as("drift_micro"))
  }

  /** [[labelDrift]] through the REAL streaming engine: the per-window
    * type counts run as a watermarked APPEND-mode streaming aggregation
    * (readStream → window+count → memory sink), so a window's counts
    * emit exactly once, when the watermark passes its end — the
    * finalized-window discipline the batch scaladoc promises — and
    * [[driftFromCounts]] then reports drift over the closed windows.
    * Windows still open at end-of-stream (end > max event time −
    * `watermark`) have emitted nothing and carry no drift row; their
    * rows arrive when later data closes them. State per key is one open
    * window's running count — watermark-bounded, the streaming-agg
    * contract. */
  def streamingLabelDrift(spark: SparkSession, srcDir: String,
                          typeCol: String = "event_type",
                          windowLen: String = "60 minutes",
                          watermark: String = "10 minutes"): DataFrame = {
    val name = s"label_drift_${System.nanoTime()}"
    val q = readStream(spark, srcDir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col(typeCol).as("__t"))
      .agg(count(lit(1)).as("__c"))
      .select(col("w.start").as("window_start"), col("__t"), col("__c"))
      .writeStream.outputMode(OutputMode.Append).format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    // snapshot the (bounded, window × type) emitted frame out of the
    // memory-sink view: driftFromCounts self-joins its input, and a join
    // of two references to one MemoryPlan view fails attribute dedup
    driftFromCounts(checkpoint(spark.table(name)), windowLen)
  }

  /** Per-user behavioral sequences — the sequence-model training feed:
    * each user's event-type stream in (tns, event_id) order, truncated to
    * its first `maxLen` events and joined into one space-separated prefix
    * string, plus the user's FULL event count. Input needs (user_id, tns:
    * long, event_id, event_type); (tns, event_id) is a strict total order
    * (ids are unique), so the sequence is deterministic under any
    * partitioning. Returns (user_id, n_events, seq_prefix).
    *
    * Scale: the earliest-maxLen prune is TWO-PHASE — a window over
    * (user, input-partition) cuts each shard to its local first-maxLen,
    * then the global per-user window ranks only the ≤ maxLen·partitions
    * survivors — so no single task ever materializes a power user's whole
    * history, and the final collect_list holds at most maxLen rows per
    * key BY CONSTRUCTION (bounded aggregation state, the collect_list
    * trap's antidote). The n_events count is a separate map-side-combined
    * aggregation on the same user key, so the join back reuses the
    * exchange. */
  def userSequences(events: DataFrame, maxLen: Int = 20): DataFrame = {
    require(maxLen > 0, s"need maxLen > 0; got $maxLen")
    val base = events.select(col("user_id"), col("tns"), col("event_id"),
      col("event_type"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("__shard"))
      .orderBy(col("tns").asc, col("event_id").asc)
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tns").asc, col("event_id").asc)
    val first = base.withColumn("__shard", spark_partition_id())
      .withColumn("__r", row_number().over(wLocal)).where(col("__r") <= maxLen)
      .withColumn("__r2", row_number().over(wGlobal)).where(col("__r2") <= maxLen)
    val seqs = first.groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tns"), col("event_id"),
          col("event_type").as("et")))),
        x => x.getField("et")), " ").as("seq_prefix"))
    base.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .join(seqs, Seq("user_id"))
  }

  /** Weekly retention cohorts — the product-analytics staple: cohort a
    * user by the week of their FIRST event, then count distinct users
    * active at each week offset from their cohort. Returns (cohort_week,
    * offset_weeks, n_users) with week = floor(epoch-seconds /
    * bucketSeconds) — exact integer bucketing, engine-portable.
    *
    * Scale: both corpus-sized aggregations key on the user (the per-user
    * (user, week) dedup and the first-week min — map-side combined,
    * co-partitioned so the join back reuses the exchange); the final
    * aggregate runs on the already user-deduped frame, grouped by the
    * bounded (cohort, offset) pair. countDistinct never appears: the
    * dedup IS the distinct, so the count is a plain sum. */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       bucketSeconds: Long = 604800): DataFrame = {
    require(bucketSeconds > 0, s"need bucketSeconds > 0; got $bucketSeconds")
    val uw = events
      .select(col(userCol).as("__u"),
        expr(s"CAST(ts AS LONG) DIV $bucketSeconds").as("__w"))
      .dropDuplicates("__u", "__w")
    val cohort = uw.groupBy("__u").agg(min("__w").as("__cw"))
    uw.join(cohort, Seq("__u"))
      .groupBy(col("__cw").as("cohort_week"),
        (col("__w") - col("__cw")).as("offset_weeks"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Hourly event-rate anomalies per type — the pipeline-health monitor
    * for ingest volume (the rate analogue of [[labelDrift]]'s mix shift):
    * counts land on a DENSE per-type hour grid (missing hours count 0, so
    * a total outage is a flaggable row, not an absent one), and each hour
    * is compared against its trailing `trailHours` window with EXACT
    * integer cross-multiplication — `spike` when cnt > 2× the trailing
    * mean (trailHours·cnt > 2·trail_sum), `drop` when cnt < half of it
    * (2·trailHours·cnt < trail_sum). Hours without a full trailing window
    * stay unflagged (no verdict from a partial baseline). Returns the
    * flagged rows (event_type, hour_start, cnt, trail_sum, flag).
    *
    * Scale: the only corpus-sized work is the (type, hour) count
    * aggregation (map-side combined); the dense grid is |types| ×
    * |hours| — bounded by label cardinality times the time range, never
    * by event volume — so the per-type ordered window runs on the small
    * grid frame, and the global hour bounds ride a broadcast 1-row
    * aggregate. */
  def rateAnomalies(events: DataFrame, typeCol: String = "event_type",
                    trailHours: Int = 24): DataFrame = {
    require(trailHours >= 1, s"need trailHours >= 1; got $trailHours")
    val cnt = events
      .select(col(typeCol).as("__t"), expr("CAST(ts AS LONG) DIV 3600").as("__h"))
      .groupBy("__t", "__h").agg(count(lit(1)).as("__c"))
    val bounds = cnt.agg(min("__h").as("__h0"), max("__h").as("__h1"))
    val grid = cnt.select("__t").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("__t"), explode(sequence(col("__h0"), col("__h1"))).as("__h"))
    val dense = grid.join(cnt, Seq("__t", "__h"), "left")
      .select(col("__t"), col("__h"), coalesce(col("__c"), lit(0L)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__t").orderBy("__h").rowsBetween(-trailHours, -1)
    dense
      .select(col("__t"), col("__h"), col("__c"),
        coalesce(sum("__c").over(w), lit(0L)).as("__ts"),
        count(lit(1)).over(w).as("__nw"))
      .where(col("__nw") === trailHours &&
        (col("__c") * trailHours > col("__ts") * 2 ||
         col("__c") * trailHours * 2 < col("__ts")))
      .select(col("__t").as("event_type"), (col("__h") * 3600).as("hour_start"),
        col("__c").as("cnt"), col("__ts").as("trail_sum"),
        when(col("__c") * trailHours > col("__ts") * 2, "spike")
          .otherwise("drop").as("flag"))
  }

  /** SLIDING-window counts: `windowLen` windows advancing every `slide`,
    * per event_type, same watermark discipline as [[windowedCounts]] —
    * each event lands in windowLen/slide overlapping windows (the
    * trend-smoothing shape tumbling windows can't express), and state
    * eviction stays watermark-bounded: open windows per key =
    * windowLen/slide, a constant. Window starts align to the epoch
    * exactly like Spark's tumbling windows, so a SQL oracle reproduces
    * membership with integer arithmetic. Runs identically in batch. */
  def slidingCounts(events: DataFrame, windowLen: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  final case class Session(userId: Long, nEvents: Long, firstTs: Long, lastTs: Long)
  // NOT private: the streaming state-store encoder generates bytecode that
  // constructs this class reflectively (batch execution never serializes
  // state, so only the stream path needs the public constructor)
  final case class SessionState(nEvents: Long, firstTs: Long, lastTs: Long)

  /** Daily/weekly active users and stickiness — the classic engagement
    * rollup with a scale-honest rolling distinct: WAU(d) counts users
    * active in the trailing 7 days, computed by fanning each DISTINCT
    * (day, user) pair out to the 7 target days it supports and
    * re-aggregating — never a per-day window over raw events, and the
    * fan-out is bounded by 7·|distinct day-user pairs|, not 7·|events|.
    * Stickiness = DAU/WAU in integer micro-units. Only days with events
    * report (DAU > 0). Returns (day, dau, wau, stickiness_micro) with
    * day = epoch-second DIV 86400. */
  def activeUsersReport(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts"): DataFrame = {
    val pairs = events
      .select(unix_timestamp(col(tsCol)).as("__sec"), col(userCol).as("__u"))
      .select(expr("__sec DIV 86400").as("day"), col("__u"))
      .distinct()
    val dau = pairs.groupBy("day").agg(countDistinct("__u").as("dau"))
    val wau = pairs
      .select(explode(sequence(lit(0L), lit(6L))).as("__g"), col("day"), col("__u"))
      .select((col("day") + col("__g")).as("day"), col("__u"))
      .groupBy("day").agg(countDistinct("__u").as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("CAST((1000000 * dau) DIV wau AS BIGINT)").as("stickiness_micro"))
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the sequence-modeling prep signal (what follows what, per event
    * type): for every consecutive (from → to) pair within a user's
    * time-ordered stream, the count and the per-from transition
    * probability in exact integer micro-units.
    *
    * Ordering is (tsCol, idCol) so same-timestamp events have a
    * deterministic, engine-replayable sequence. Scale: ONE user-keyed
    * window (lead) and two map-side-combinable aggregations — the pair
    * table is |types|² small however large the corpus.
    * Returns (from_type, to_type, n, p_micro). */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type", tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("from_type"), col(tsCol), col(idCol))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val c = pairs.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val tot = c.groupBy(col("from_type")).agg(sum("n").as("__tot"))
    c.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("CAST((1000000 * n) DIV __tot AS BIGINT)").as("p_micro"))
  }

  /** Session assembly with custom state (flatMapGroupsWithState +
    * processing-time timeout): per user, fold events into an open session; a
    * session closes when the event-time gap exceeds `gapSeconds` (emitted on
    * the next event), and an idle user's open session is flushed by the
    * processing-time timeout — so state stays one small record per RECENTLY
    * ACTIVE user and one-shot users don't pin state forever. In batch
    * execution timeouts never fire, so batch emits closed sessions only
    * (each user's trailing open session stays unemitted — the oracle-parity
    * shape). */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_timestamp(col("ts")).as("epoch"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          sessionStep(userId, rows.map(_._2), state, gapSeconds) { st =>
            state.update(st)
            state.setTimeoutDuration(gapSeconds * 1000L)
            false
          }
      }
  }

  /** One flatMapGroupsWithState step of both sessionizers. A timed-out
    * user (idle past the gap with no new events) has its open session
    * flushed: removed from the state and emitted. Otherwise the user's new
    * event times (epoch seconds) fold in time order into the open session,
    * and a gap over `gapSeconds` closes it (emitted now). `register` then
    * either keeps the open session in the state with its timeout and
    * returns false, or drops it from the state and returns true to emit it
    * now. */
  private def sessionStep(userId: Long, epochs: Iterator[Long],
                          state: GroupState[SessionState], gapSeconds: Long)(
      register: SessionState => Boolean): Iterator[Session] = {
    def session(st: SessionState) = Session(userId, st.nEvents, st.firstTs, st.lastTs)
    if (state.hasTimedOut) {
      val st = state.get
      state.remove()
      if (st.nEvents > 0) Iterator.single(session(st)) else Iterator.empty
    } else {
      var st = state.getOption.getOrElse(SessionState(0, Long.MaxValue, Long.MinValue))
      val closed = Seq.newBuilder[Session]
      epochs.toSeq.sorted.foreach { t =>
        if (st.nEvents > 0 && t - st.lastTs > gapSeconds) {
          closed += session(st)
          st = SessionState(0, Long.MaxValue, Long.MinValue)
        }
        st = SessionState(st.nEvents + 1, math.min(st.firstTs, t), math.max(st.lastTs, t))
      }
      if (register(st)) closed += session(st)
      closed.result().iterator
    }
  }

  /** Event-time sessionization for STREAMING execution
    * (flatMapGroupsWithState + EventTimeTimeout): sessions close either
    * when a later event arrives past the gap (emitted with that event's
    * batch) or when the event-time WATERMARK passes lastTs + gap (emitted
    * by the timeout path — state for idle users expires deterministically
    * with the data, never by wall clock). The end-of-run output is a pure
    * function of the input: every session closed by a successor event,
    * plus every open session with lastTs + gap ≤ final watermark
    * (= max event time − watermarkDelay) — replayable by a batch oracle.
    *
    * The processing-time variant ([[sessionize]]) is the BATCH-execution
    * form; in streaming its timeout registration makes the micro-batch
    * loop run continuously (ProcessingTimeTimeout always requests another
    * batch), which is wrong for a drain-the-source harness and wasteful
    * on a cluster. Event-time timeouts request extra batches only while
    * the watermark still advances, so the drain terminates.
    *
    * Scale: state is one small record per user with an un-expired
    * session; the watermark bounds it to RECENTLY ACTIVE users. Input
    * must deliver each user's events in event-time order across batches
    * (co-partition the source by user, as the fixture does). */
  def sessionizeEventTime(events: DataFrame, gapSeconds: Long = 1800,
                          watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_timestamp(col("ts")).as("epoch"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          sessionStep(userId, rows.map(_._2), state, gapSeconds) { st =>
            val expiryMs = (st.lastTs + gapSeconds) * 1000L
            if (expiryMs <= state.getCurrentWatermarkMs()) {
              // already past the horizon when processed: emit now (the
              // timeout path would be asked to register in the past).
              // BOUNDARY NOTE: this early-emit guard is `<=` while the
              // engine's timeout path (and a batch replay) fires on
              // strict `<` — setTimeoutTimestamp REQUIRES a timestamp
              // strictly greater than the current watermark, so at exact
              // equality registering is illegal and emitting now is the
              // only correct move. The case is reachable only when
              // unix_timestamp's sub-second truncation lands lastTs+gap
              // exactly ON the watermark (late rows are already filtered
              // to ts > watermark); a strict-< batch oracle excludes that
              // session for one extra micro-batch, after which the
              // advancing watermark makes both agree. The gate fixture's
              // time-range batches never produce the equality.
              state.remove()
              true
            } else {
              state.update(st)
              state.setTimeoutTimestamp(expiryMs)
              false
            }
          }
      }
  }

  /** Streaming exact-deduplication by event id within the watermark horizon:
    * state holds only ids newer than the watermark (bounded), duplicates
    * arriving later than the horizon are dropped by the watermark itself. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Conversion-funnel counts with STRICT first-occurrence chaining: per
    * user, the first stage-0 event, the first stage-1 event strictly
    * after it, the first stage-2 event strictly after that, and so on.
    * Returns ONE row: a cumulative count per stage prefix
    * (`n_<s0>`, `n_<s0>_<s1>`, ...) plus per-step conversion rates
    * (`rate_<si>` = prefix-i count / prefix-(i-1) count, 4 decimals).
    *
    * Scale: one conditional-min aggregation per stage, every shuffle
    * keyed by the user column — co-partitioned end to end, so a real
    * cluster exchanges the events once and reuses the partitioning; no
    * per-user event-list is ever collected (the classic sessionize-then-
    * scan funnel materializes per-user arrays; this shape never does). */
  def funnelCounts(events: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, s"need at least 2 stages; got $stages")
    // 'strictly after' must compare at full precision: a TimestampType
    // column is taken as unix MICROS (Spark timestamps are micro-resolution
    // and any SQL oracle can replay epoch_us; a bare cast("long") would
    // truncate to whole seconds and merge same-second sequences); numeric
    // columns (e.g. raw epoch-nanos longs) pass through unchanged
    val tsExpr = events.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => col(tsCol).cast("long")
    }
    val ev = events.select(col(userCol).as("__u"), col(typeCol).as("__y"),
      tsExpr.as("__t"))
    var cur = ev.groupBy("__u")
      .agg(min(when(col("__y") === stages.head, col("__t"))).as("__m"))
      .where(col("__m").isNotNull)
    val counts = Seq.newBuilder[DataFrame]
    val names = stages.indices.map(i => "n_" + stages.take(i + 1).mkString("_"))
    counts += cur.agg(count(lit(1)).as(names.head))
    for (i <- 1 until stages.size) {
      cur = ev.join(cur.select(col("__u"), col("__m").as("__prev")), Seq("__u"))
        .groupBy("__u", "__prev")
        .agg(min(when(col("__y") === stages(i) && col("__t") > col("__prev"),
          col("__t"))).as("__m"))
        .where(col("__m").isNotNull)
      counts += cur.agg(count(lit(1)).as(names(i)))
    }
    val joined = counts.result().reduce(_ crossJoin _)
    // a dead stage makes the next rate 0/0: report null (what SQL's
    // NULLIF-denominator convention yields), never NaN
    val rates = (1 until stages.size).map(i =>
      when(col(names(i - 1)) === 0, lit(null).cast("double"))
        .otherwise(round(col(names(i)).cast("double") / col(names(i - 1)), 4))
        .as(s"rate_${stages(i)}"))
    joined.select(names.map(col) ++ rates: _*)
  }

  /** Watermarked stream-stream interval join: attribute each click to the
    * SAME user's views in the trailing `windowSeconds` (view_ts ∈
    * [click_ts - window, click_ts]). Both sides carry watermarks and the
    * event-time range bounds how long either side's rows stay joinable, so
    * the state store evicts rows once the opposite watermark passes — the
    * only stream-stream join shape with bounded state at scale. Returns
    * (user_id, click_id, view_id, lag_sec); runs identically on batch
    * frames (the oracle form). */
  def intervalJoin(clicks: DataFrame, views: DataFrame,
                   windowSeconds: Long = 86400): DataFrame = {
    val l = clicks.select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val r = views.select(col("user_id").as("view_user"),
        col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    l.join(r, expr(
        s"""user_id = view_user AND
           |view_ts BETWEEN click_ts - INTERVAL $windowSeconds SECONDS
           |AND click_ts""".stripMargin))
      .select(col("user_id"), col("click_id"), col("view_id"),
        (unix_timestamp(col("click_ts")) - unix_timestamp(col("view_ts")))
          .as("lag_sec"))
  }

  /** Incremental stream→graph ingestion: a Structured Streaming query whose
    * foreachBatch folds each micro-batch of events into the persisted graph
    * store with the same idempotent bulk mutations the batch path uses —
    * `user:<id>` and `type:<event_type>` vertices (typed marker properties)
    * joined by content-hash `Did` edges. Everything is content-addressed
    * and anti-joined against the store, so replays, overlapping batches,
    * and restarts without a checkpoint all collapse to the same rows:
    * exactly-once EFFECTS without exactly-once delivery.
    *
    * State lives in the store itself (no streaming state at all); each
    * micro-batch is a load, one materialized delta per table (see
    * [[graft.store.BulkMutations]]) and a save, which
    * `GraphStore.save` stages through `._tmp` directories so a batch never
    * overwrites the files its own plan is reading. At cluster scale the
    * save becomes an append of bucketed deltas instead of a rewrite. */
  def streamIntoGraph(spark: SparkSession, srcDir: String, dbDir: String,
                      maxFilesPerTrigger: Int = 4): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dbDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dbDir/vertices")))
      graft.model.GraphStore.empty(spark).save(dbDir)
    drainParquet(spark, srcDir, eventsSchema, maxFilesPerTrigger)(ingestEventsBatch(_, dbDir))
  }

  /** Drain the parquet files under `srcDir` through `each`, one
    * micro-batch of at most `maxFilesPerTrigger` files at a time, and
    * return when the source is exhausted (a `Trigger.AvailableNow` query
    * run to termination). With `checkpointDir` the source records the
    * files it has processed there, so a rerun resumes after them. */
  private[graft] def drainParquet(spark: SparkSession, srcDir: String, schema: StructType,
                                  maxFilesPerTrigger: Int,
                                  checkpointDir: Option[String] = None)(
      each: DataFrame => Unit): Unit = {
    val w = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) => each(batch.toDF()) }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d)).start().awaitTermination()
  }

  /** One micro-batch of [[streamIntoGraph]] (also usable as a plain batch
    * ingest): distinct users/types become vertices, distinct (user, type)
    * pairs become `Did` edges; marker properties re-insert as no-ops via
    * content-hash dedup. */
  def ingestEventsBatch(batch: DataFrame, dbDir: String): Unit = {
    import graft.model.{GraphStore, PropValue}
    import graft.store.BulkMutations
    val g0 = GraphStore.load(batch.sparkSession, dbDir)
    val Seq(userP, typeP, didP) =
      Seq("User", "EventType", "Did").map(v => PropValue.typed(v))
    val users = batch.select(concat(lit("user:"), col("user_id")).as("id")).distinct()
      .withColumn("prop_hash", lit(userP.hash))
    val types = batch.select(concat(lit("type:"), col("event_type")).as("id")).distinct()
      .withColumn("prop_hash", lit(typeP.hash))
    val newNodes = users.unionByName(types)
      .join(g0.vertices, Seq("id"), "left_anti")
    val edges = batch.select(
      concat(lit("user:"), col("user_id")).as("src"),
      concat(lit("type:"), col("event_type")).as("dst")).distinct()
      .withColumn("prop_hash", lit(didP.hash))
    val g = BulkMutations.createEdges(
      BulkMutations.createNodes(
        BulkMutations.createPropertyTrees(g0, Seq(userP, typeP, didP)), newNodes),
      edges)
    g.save(dbDir)
  }

  /** Run a streaming query of `transform` over the events parquet and return
    * the fully-processed result via the memory sink (synchronous; for tests
    * and batch-parity checks). */
  def runToMemory(spark: SparkSession, dir: String,
                  transform: DataFrame => DataFrame,
                  mode: OutputMode = OutputMode.Append,
                  name: String = s"stream_out_${System.nanoTime()}",
                  schema: StructType = eventsSchema,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
    val q = transform(src)
      .writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Model-serving over a document stream: each micro-batch is scored by
    * the batch Naive Bayes classifier against a FROZEN model (fit is a
    * batch job over the labeled corpus; serving replays the exact same
    * oracle-verified scoring plan per micro-batch — the standard
    * train-offline / score-online split, same lifecycle as the persisted
    * ANN index). Per-document scoring is micro-batch-local: the file
    * source assigns whole files to batches and the tf aggregation + argmax
    * key on the document id inside one batch, so the output is identical
    * to batch scoring under any micro-batch partitioning. Scored rows
    * append to `outDir` as parquet (at cluster scale this is the
    * scored-corpus delta feed). Pass `checkpointDir` for restart safety:
    * the source tracks processed files there, so a killed-and-restarted
    * serve resumes at the first unscored file instead of re-appending
    * every document's rows again; without it (tests, one-shot runs) a
    * restart reprocesses from scratch. Returns the read-back scored
    * frame. */
  def streamingNbClassify(spark: SparkSession, srcDir: String, outDir: String,
                          wordModel: DataFrame, labelTable: DataFrame,
                          idCol: String, textCol: String,
                          schema: StructType,
                          maxFilesPerTrigger: Int = 4,
                          checkpointDir: Option[String] = None): DataFrame = {
    // an uncheckpointed re-run over a non-empty outDir would re-score
    // every source file and APPEND — the read-back would silently hold
    // duplicate rows per document. Fail fast instead: resumable serving
    // requires the checkpoint; one-shot serving requires a fresh outDir.
    if (checkpointDir.isEmpty) {
      val existing = new org.apache.hadoop.fs.Path(outDir)
      val fs = existing.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(existing) || fs.listStatus(existing).isEmpty,
        s"outDir $outDir is non-empty and no checkpointDir was given: " +
          "an uncheckpointed serve would re-score every file and append " +
          "duplicate rows. Pass checkpointDir to resume, or use a fresh outDir.")
    }
    drainParquet(spark, srcDir, schema, maxFilesPerTrigger, checkpointDir) { batch =>
      graft.pipeline.TextAnalysis
        .naiveBayesClassify(batch, idCol, textCol, wordModel, labelTable)
        .write.mode("append").parquet(outDir)
    }
    spark.read.parquet(outDir)
  }

  /** Streaming NEAR-duplicate dedup by minhash signature: every arriving
    * document's k-hash signature is computed per row (column-level, no
    * aggregation — the streaming-legal form), and
    * `dropDuplicatesWithinWatermark` keeps one exemplar per signature
    * inside the watermark horizon. Signature equality is the degenerate
    * all-bands LSH match — exact duplicates always collapse, near-dups
    * collapse when every band agrees. State is bounded by the watermark:
    * one row per distinct signature per horizon, evicted as event time
    * advances. Input needs (tsCol: timestamp, textCol: string); documents
    * with fewer than n words carry no signature and pass through the
    * where-filter (they cannot near-dup at shingle granularity). Returns
    * the distinct signature tuples — set semantics, deterministic
    * regardless of arrival order.
    *
    * BUCKET-SIZE MATH (round-16 sweep): state is keyed by the EXACT
    * k-hash signature, so a hot signature (boilerplate duplicated across
    * the stream) COLLAPSES to one state-store entry rather than fanning
    * out — dedup-by-key is linear in arriving rows and state is bounded
    * by distinct signatures inside the watermark, shrinking as
    * duplication grows. No cap needed; the quadratic bucket-join hazard
    * does not exist on this path. */
  def streamingSignatureDedup(docs: DataFrame, tsCol: String = "ts",
                              textCol: String = "text",
                              n: Int = 3, k: Int = 4): DataFrame = {
    val sigCols = graft.pipeline.Dedup.signatureColumns(col(textCol), n, k)
    docs.select(col(tsCol).as("__ts") +: sigCols: _*)
      .where(col("h0").isNotNull)
      .withWatermark("__ts", "10 minutes")
      .dropDuplicatesWithinWatermark("h0", (1 until k).map(i => s"h$i"): _*)
      .select((0 until k).map(i => col(s"h$i")): _*)
  }
}
