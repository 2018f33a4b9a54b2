package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import EventState.{hourOf, hours, micros, ordered, step, timestamp, HourUs}

/** Structured Streaming over the `events` table shape: windowed
  * aggregation with watermarking, and stateful sessionization via
  * flatMapGroupsWithState — the incremental counterparts of q19/q35.
  *
  * The reference has no streaming surface (SURVEY §2.7); this is the
  * north-star extension. Batch parquet drives the stream in tests via
  * Trigger.AvailableNow + a memory sink, which is also how the operators
  * would be backfilled at scale (same code, bounded input).
  */
object EventsStream {

  /** Event schema with `ts` in the physical type the source directory
    * actually carries — testdata generations have shipped `ts` as both
    * TIMESTAMP(NANOS) (surfacing as LongType under `nanosAsLong`) and
    * TIMESTAMP(MICROS, no zone) (surfacing as TimestampNTZType); a
    * streaming source schema must match the files, so it is probed
    * from the directory's parquet footer at plan time (an inferred
    * read: planning it runs one job). */
  def eventSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over an events parquet directory.
    * `maxFilesPerTrigger` caps files per micro-batch — tests use 1 to
    * force one batch per staged file (deterministic watermark steps).
    * `ts` is normalized to a UTC-instant micros TimestampType exactly
    * as the batch reader (graft.queries.Tables.t) does, so stream and
    * batch twins stay bit-identical across testdata generations.
    *
    * The physical `ts` type comes from `tsType` when given; otherwise
    * it is probed from the directory's parquet footers at plan time
    * (one schema-inference job). A watch directory that is still EMPTY at stream start
    * cannot be probed — the probe then falls back to the current
    * testdata generation's micros-NTZ; a producer that will write the
    * nanos layout into an initially-empty directory must pass
    * `tsType = Some(LongType)` explicitly. Directories must be
    * generation-homogeneous (one physical ts type per dir) — true of
    * any writer that doesn't change layout mid-directory. */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      tsType: Option[DataType] = None): DataFrame = {
    val resolved = tsType.getOrElse(
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // fall back ONLY for the not-yet-populated watch directory;
          // a nonexistent path (typo) must fail fast here, not as a
          // confusing mid-stream error later
          val p = new org.apache.hadoop.fs.Path(dir)
          if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
            TimestampNTZType
          else throw e
      })
    val reader = spark.readStream
      .schema(eventSchema(resolved))
      .format("parquet")
      .option("path", dir)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val raw = reader.load()
    resolved match {
      case LongType => // nanos-as-long: integer-divide (exact) to micros
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // wall time read in the UTC session zone
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling — or, with `slide`, overlapping — window counts/sums per
    * event type with a watermark: the incremental form of q19 (and of
    * q54 when sliding). Watermark bounds state: at 100 TB/day the
    * state store holds only windows newer than (max event time -
    * delay); a slide of 1/k the length multiplies state k-fold. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours", slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        slide.map(s => window(col("ts"), windowLen, s))
          .getOrElse(window(col("ts"), windowLen)),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Windowed OHLC bars — the incremental form of q137: per closed
    * (window, event_type), open/close selected by min/max over a
    * (ts, event_id, value) struct and low/high over the value. Every
    * aggregate is an associative selection with a constant-size merge
    * buffer, so the state store holds six numbers per open window and
    * the closed rows are bit-identical to the batch bars (no float
    * arithmetic ever runs — the doubles are the stored bytes). Null
    * values are excluded to pin struct-comparison semantics, exactly
    * as q137 does. */
  def ohlcStream(events: DataFrame, windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .filter(col("value").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("low"), max(col("value")).as("high"),
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("low"), col("high"), col("open"), col("close"))

  /** Stream-stream interval self-join: pairs of same-user events where
    * the second falls within `window` after the first. Watermarks bound
    * the join state on both sides — without them the state grows
    * unboundedly at any sustained rate. Batch twin: q43_interval_join. */
  def intervalSelfJoin(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame = {
    val a = events.select(col("event_id").as("id_a"), col("user_id"), col("ts").as("ts_a"))
      .withWatermark("ts_a", watermarkDelay)
    val b = events.select(col("event_id").as("id_b"),
      col("user_id").as("user_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", watermarkDelay)
    a.join(b,
      col("user_id") === col("user_b") &&
        col("ts_b") >= col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTES") &&
        col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Stream-stream LEFT OUTER interval join — view-to-click attribution:
    * every (view, click-by-same-user-within-30min) pair as it matches,
    * plus a null-click row for each view once the watermark PROVES no
    * click can still arrive (that proof is what the outer side buys
    * over [[intervalSelfJoin]]; without watermarks Spark rejects the
    * outer join outright, because "no match" is undecidable under
    * unbounded lateness). State on both sides is watermark-bounded.
    *
    * This is the pair SURFACE: the first-click reduction over it is a
    * plain batch agg (q108_attribution's min-struct) or, fully
    * incremental, the [[funnelStream]] flatMapGroupsWithState shape.
    * Batch twin: the q108 pair stage with a left join. */
  def attributionJoin(events: DataFrame,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("ts_view"))
      .withWatermark("ts_view", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("user_c"),
        col("ts").as("ts_click"))
      .withWatermark("ts_click", watermarkDelay)
    views.join(clicks,
      col("user_id") === col("user_c") &&
        col("ts_click") > col("ts_view") &&
        col("ts_click") <= col("ts_view") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("view_id"), col("user_id"), col("ts_view"),
        col("click_id"), col("ts_click"))
  }

  /** Stream-static dimension enrichment: each micro-batch joins the
    * (small, broadcast) static dimension — the streaming form of q08's
    * enrichment chain. The static side is planned per micro-batch, so
    * at 100 TB/day the stream side never shuffles for this join and a
    * dim refresh is picked up on the next trigger when the static
    * frame is a view over reloadable storage. Stateless: no watermark
    * needed, state store untouched. */
  def enrichedStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact-dedup on event id with watermark-bounded state:
    * the incremental form of q26's hash-dedup. State holds only ids
    * newer than (max event time - delay) — bounded at any corpus rate. */
  def dedupedStream(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("event_id")

  /** Native session windows on a stream — q212's incremental twin:
    * the same session_window(gap) aggregation under a watermark.
    * Spark keeps one OPEN session per (user, session) in the state
    * store, MERGES sessions when a late-but-in-watermark event
    * bridges two of them, and emits a session only once the watermark
    * passes its end — so closed rows are final (no session can still
    * grow) and match the batch answer exactly. State is bounded by
    * active users x open sessions inside the watermark horizon. */
  def sessionWindowStream(events: DataFrame, gap: String = "5 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(max(col("ts")).as("session_end"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_end"), col("n_events"))

  /** Exact distinct users per sliding window — q207's incremental twin
    * and the CHAINED-stateful-operator form Spark 3.4+ unlocked: two
    * stateful stages in ONE query. Stage 1 deduplicates (window, user)
    * pairs — the window struct carries event time, so dedup state for
    * a pair evicts when the watermark passes its window's end; stage 2
    * counts the survivors per window (the usual windowed-agg state).
    * Batch count(distinct) plans a two-phase expand; this is its
    * streaming analogue — state is one key per ACTIVE (window, user)
    * pair plus one count per open window, both watermark-bounded.
    * Running the same code on a batch frame reproduces q207's n_users
    * exactly (the twin equality StreamingSpec pins). */
  def slidingDistinctStream(events: DataFrame, windowLen: String = "3 hours",
      slide: String = "1 hour", watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .select(window(col("ts"), windowLen, slide).as("win"), col("user_id"))
      .dropDuplicates("win", "user_id")
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("win.start").as("win_start"), col("n_users"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class AnomalyOut(event_type: String, hr: Timestamp, cnt: Long,
      m_prior: Long, is_anomaly: Boolean)

  /** Online ingest anomaly detection — the stateful twin of the batch
    * q80 query: per event type, each CLOSED hourly bucket is flagged
    * against the running stats of all PRIOR closed hours (the 3-sigma
    * z^2 test in cross-multiplied BIGINT arithmetic, so stream and
    * batch agree bit-for-bit), then folded into those stats.
    *
    * State per type is O(1) running stats plus the open buckets still
    * inside the watermark horizon — bounded at any event rate. Buckets
    * close and fold as [[EventState.hours]] does, so a backfill replay
    * of the same files in any order emits identical flags. Batch mode
    * (no watermark) closes everything in hour order: the output IS the
    * q80 result.
    */
  def anomalyStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[AnomalyOut]): Dataset[AnomalyOut] =
    step(events, watermarkDelay, _.event_type, (List.empty[(Long, Long)], (0L, 0L, 0L))) {
      (etype, batch, st, wmUs) =>
        hours(st, batch, wmUs)(_.size.toLong, _ + _) { case ((m, tot, ss), hr, c) =>
          val dev = m * c - tot
          val flag = m >= 2 && dev * dev * (m - 1) > 9 * m * (m * ss - tot * tot)
          ((m + 1, tot + c, ss + c * c),
            Some(AnomalyOut(etype, new Timestamp(hr / 1000L), c, m, flag)))
        }
    }

  case class QuantOut(event_type: String, hr: Timestamp, n: Long,
      p50_micro: Long, p99_micro: Long)

  /** Streaming per-window value quantiles — the mergeable-sketch payoff:
    * the KLL buffer ([[graft.functions.Kll]]) IS the per-(type, hour)
    * state, so state stays O(k log(n/k)) per open bucket at ANY event
    * rate where exact per-window quantiles would have to buffer every
    * row until the watermark closes the window. Values are floored to
    * integer micro-units first (floor of the same double product both
    * engines compute — no float drift in ranks).
    *
    * A bucket emits when the watermark passes its hour end (no
    * admissible row can still land in it), in hour order, so any
    * replay order emits identical rows. With `capacity` >= the bucket
    * population the sketch is exact and the emitted quantiles equal
    * the batch q109 rank selection bit-for-bit (the q101 exactness
    * gate); production capacity trades ~1% rank error for the bounded
    * state. Batch mode (no watermark) closes every bucket: the output
    * IS the q109 result.
    */
  def quantileStream(events: Dataset[Event], capacity: Int = 1 << 15,
      watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[QuantOut]): Dataset[QuantOut] = {
    import graft.functions.Kll
    // no carry across hours: the constant `false` stands in for one
    step(events, watermarkDelay, _.event_type,
        (List.empty[(Long, (Long, Kll.KllBuf))], false)) { (etype, batch, st, wmUs) =>
      // per-hour sketches; event_id insertion order makes the buffer
      // bytes (not just the result) replay-reproducible. The row count
      // rides along beside the buffer, so the output does not depend on
      // sketch internals
      hours(st, batch, wmUs)(
        es => (es.size.toLong, es.sortBy(_.event_id).foldLeft(Kll.empty)((b, e) =>
          Kll.insert(b, math.floor(e.value * 1000000.0).toLong, capacity))),
        (a, b) => (a._1 + b._1, Kll.merge(a._2, b._2, capacity))) {
        case (c, hr, (n, buf)) =>
          val qs = Kll.quantiles(buf, Seq(50, 99))
          (c, Some(QuantOut(etype, new Timestamp(hr / 1000L), n, qs(0), qs(1))))
      }
    }
  }

  case class TransOut(user_id: Long, from_type: String, to_type: String,
      ts: Timestamp, event_id: Long)

  /** Streaming event-type transitions — the incremental twin of q158's
    * lag window: per user, each event emits one (previous type ->
    * this type) pair in exact (ts, event_id) order. Order under
    * out-of-order ARRIVAL is what the state buys: events are held and
    * processed as [[EventState.ordered]] does, and the state holds at
    * most the watermark horizon's events per user plus ONE string —
    * the last emitted type — forever. Batch mode closes everything: the
    * emitted pairs ARE the batch lag query's rows, and their (from, to)
    * counts aggregate to q158's matrix exactly. */
  def transitionStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[TransOut]): Dataset[TransOut] =
    step(events, watermarkDelay, _.user_id, (List.empty[Event], Option.empty[String])) {
      (uid, batch, st, wmUs) =>
        ordered(st, batch, wmUs) { (last, e) =>
          (Some(e.event_type), last.map(f => TransOut(uid, f, e.event_type, e.ts, e.event_id)))
        }
    }

  case class PatOut(user_id: Long, view_ts: Timestamp, view_event_id: Long,
      hit: Boolean, latency_us: Option[Long])

  /** Streaming CEP pattern — the incremental twin of batch q173's
    * 'view then purchase within 1 h with no error between': per user,
    * every view is classified the moment its outcome is DETERMINED —
    * by the first subsequent purchase (hit iff within the hour, with
    * exact micros latency), by the first subsequent error (miss), or
    * by the watermark passing view + 1 h (any later purchase can only
    * be late, and an error-first future is also a miss — so the
    * verdict is already forced and the view leaves state). That
    * horizon rule is what bounds state: pending views live at most
    * 1 h + watermark delay, unlike a naive formulation that would
    * hold every unanswered view forever. Events process in exact
    * (ts, event_id) order ([[EventState.ordered]]), so replay and
    * arrival order cannot change a verdict. Batch mode closes
    * everything and the output rows ARE q173's per-view
    * classification (MiningQueries.patternViews). */
  def patternStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[PatOut]): Dataset[PatOut] =
    step(events, watermarkDelay, _.user_id, (List.empty[Event], List.empty[Event])) {
      (uid, batch, st, wmUs) =>
        def miss(v: Event) = PatOut(uid, v.ts, v.event_id, hit = false, None)
        val (outs, (held, views), fire) = ordered(st, batch, wmUs) { (views, e) =>
          e.event_type match {
            case "view" => (views :+ e, Nil)
            case "purchase" => (Nil, views.map { v =>
              val lat = micros(e.ts) - micros(v.ts)
              val hit = lat <= HourUs
              PatOut(uid, v.ts, v.event_id, hit, if (hit) Some(lat) else None)
            })
            case "error" => (Nil, views.map(miss))
            case _ => (views, Nil)
          }
        }
        // horizon expiry — in batch mode (wm = +inf) this closes the
        // tail views that never saw a purchase or error, exactly the
        // batch query's NULL-next-purchase misses
        val (expired, alive) = views.partition(v => micros(v.ts) + HourUs < wmUs)
        (outs ++ expired.map(miss), (held, alive),
          (fire ++ alive.headOption.map(v => micros(v.ts) + HourUs + 1)).minOption)
    }

  case class EwmaOut(event_type: String, hr: Timestamp, n: Long, ewma: Long)

  /** Streaming integer EWMA — the incremental twin of batch q149: per
    * event type, each CLOSED hour's count folds into the running
    * s_t = (s_{t-1} + n) div 2 trend (seeded s = n at the type's first
    * closed hour; the fold runs over OBSERVED hours in order, gaps and
    * all, exactly like the batch array fold). State per type is the
    * open hour counts inside the watermark horizon plus ONE long — the
    * carry — however long the stream runs; closes process in hour
    * order, so any replay order emits identical rows. Batch mode
    * closes everything: the output IS the q149 result. */
  def ewmaStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[EwmaOut]): Dataset[EwmaOut] =
    step(events, watermarkDelay, _.event_type, (List.empty[(Long, Long)], Option.empty[Long])) {
      (etype, batch, st, wmUs) =>
        hours(st, batch, wmUs)(_.size.toLong, _ + _) { (last, hr, n) =>
          // Long / on non-negatives == Spark div == DuckDB // here
          val s = last.fold(n)(p => (p + n) / 2)
          (Some(s), Some(EwmaOut(etype, new Timestamp(hr / 1000L), n, s)))
        }
    }

  case class TwapOut(event_type: String, hr: Timestamp, n_intervals: Long,
      total_us: Long, weighted_cents_us: Long, twap_milli: Long)

  /** Streaming time-weighted average — the incremental twin of batch
    * q228's step-interpolated TWAP, emitted per CLOSED hour (batch
    * q228 reports the per-type total; summing this stream's rows per
    * type reproduces it exactly — StreamingSpec pins that). Each
    * consecutive-event interval [e_i, e_{i+1}) weighs e_i's value by
    * the holding micros and attributes to the hour the interval STARTS
    * in; an hour closes once the watermark passes its end AND a later
    * event has been processed (the hour holding the type's latest
    * event stays open — its last interval is still unbounded), so
    * closes process in time order and any replay emits identical rows.
    *
    * Ordering: events are held until the watermark reaches them
    * (ts <= wm), then process in exact (ts, event_id) order — the
    * interval structure needs true adjacency, which per-batch arrival
    * order cannot promise. State per type: open-hour aggregates (3
    * longs each) + the held events + ONE carried last event. Value
    * cents enter via the q39 DECIMAL(12,2) house cast upstream;
    * per-hour weighted sums are cents x micros longs (bounded: one
    * hour's attributed intervals start within it, and even a month-long
    * holding gap at max cents stays under 2^57). Batch mode closes
    * everything, the final carried event contributing no interval —
    * exactly q228's open-interval drop. */
  def twapStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[TwapOut]): Dataset[TwapOut] =
    // state: open hours (hr -> intervals, micros, cents x micros), held
    // (us, event_id, cents) events, and the last processed (us, cents)
    step(events, watermarkDelay, _.event_type, (List.empty[(Long, (Long, Long, Long))],
        List.empty[(Long, Long, Long)], Option.empty[(Long, Long)])) {
      case (etype, batch, (open0, held0, last0), wmUs) =>
        // cents via the same exact decimal path the batch query takes
        val incoming = batch.map(e => (micros(e.ts), e.event_id,
          BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP).*(100).toLongExact))
        val (ready, held) = (held0 ++ incoming).partition(_._1 <= wmUs)
        val (last, deltas) = ready.sortBy(p => (p._1, p._2))
          .foldLeft((last0, List.empty[(Long, (Long, Long, Long))])) {
            case ((l, acc), (us, _, cents)) =>
              (Some((us, cents)), l.fold(acc) { case (lu, lc) =>
                (hourOf(lu), (1L, us - lu, lc * (us - lu))) :: acc })
          }
        val lastHr = last.fold(Long.MinValue)(l => hourOf(l._1))
        val (closed, open) = (open0 ++ deltas)
          .groupMapReduce(_._1)(_._2) { case ((n1, t1, w1), (n2, t2, w2)) =>
            (n1 + n2, t1 + t2, w1 + w2) }
          .toList.sortBy(_._1).partition { case (hr, _) =>
            wmUs == Long.MaxValue || (hr + HourUs <= wmUs && hr < lastHr) }
        val outs = closed.map { case (hr, (n, t, w)) =>
          // positives: Long / == the batch integral div; an hour whose
          // every attributed interval is zero-length (identical
          // timestamps) reports 0 rather than dividing by it
          TwapOut(etype, new Timestamp(hr / 1000L), n, t, w, if (t > 0) w * 10L / t else 0L)
        }
        // 1 h after the earliest open hour or held event, down to its millisecond
        (outs, (open, held, last),
          (open.map(_._1) ++ held.map(_._1)).minOption.map(us => us / 1000L * 1000L + HourUs))
    }

  case class DriftOut(event_type: String, hr: Timestamp, n: Long,
      prev_n: Long, drift_bp: Long)

  /** Streaming hour-over-hour distribution drift — the incremental twin
    * of batch q113: per event type, each CLOSED hour's 8-bin value
    * histogram is compared with the previous closed hour's (consecutive
    * hours only; a series gap restarts the comparison) by the same
    * integer L1 share gap, then becomes the new reference. State per
    * type is the open buckets inside the watermark horizon plus ONE
    * closed histogram — 8 longs — however long the stream runs; closes
    * process in hour order, so any replay order emits identical rows.
    * Batch mode closes everything: the output IS the q113 result. */
  def driftStream(events: Dataset[Event], watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[DriftOut]): Dataset[DriftOut] = {
    // local copies: an object-field read inside the closure would
    // capture the (non-serializable) enclosing object
    val nBins = graft.queries.AdvancedQueries.DRIFT_BINS
    val binW = graft.queries.AdvancedQueries.DRIFT_BIN_WIDTH
    // clamped at both ends, NaN to the top bin — the exact batch/oracle
    // semantics (least/greatest with NaN-sorts-largest)
    def binOf(v: Double): Int =
      if (v.isNaN) nBins - 1
      else math.min(nBins - 1, math.max(0, math.floor(v / binW).toInt))
    // carry: the last closed hour and its histogram
    step(events, watermarkDelay, _.event_type,
        (List.empty[(Long, Seq[Long])], (Option.empty[Long], Seq.empty[Long]))) {
      (etype, batch, st, wmUs) =>
        hours(st, batch, wmUs)(
          es => {
            val h = Array.fill(nBins)(0L)
            es.foreach(e => h(binOf(e.value)) += 1L)
            h.toSeq
          },
          (a, b) => a.lazyZip(b).map(_ + _)) { case ((lastHr, lastHist), hr, hist) =>
          val n = hist.sum
          val out = lastHr.filter(_ + HourUs == hr).map { _ =>
            val pn = lastHist.sum
            val drift = hist.lazyZip(lastHist).map((c, pc) =>
              math.abs(c * 10000 / n - pc * 10000 / pn)).sum
            DriftOut(etype, new Timestamp(hr / 1000L), n, pn, drift)
          }
          ((Some(hr), hist), out)
        }
    }
  }

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, session_value: Double)

  /** Gap-merge of (start us, end us, n, value) sessions: sorted by
    * start, adjacent intervals whose gap is <= gapUs fold — exactly the
    * batch q35 session rule (compared in micros), but incremental and
    * ORDER-INDEPENDENT: a late event that bridges two held sessions
    * merges all three. */
  private def gapMerge(sessions: List[(Long, Long, Int, Double)],
      gapUs: Long): List[(Long, Long, Int, Double)] =
    sessions.sortBy(s => (s._1, s._2)).foldLeft(List.empty[(Long, Long, Int, Double)]) {
      case ((s0, e0, n0, v0) :: done, (s, e, n, v)) if s - e0 <= gapUs =>
        (s0, math.max(e, e0), n0 + n, v0 + v) :: done
      case (acc, s) => s :: acc
    }.reverse

  /** Stateful sessionization (gap = 30 min): flatMapGroupsWithState
    * with an EVENT-TIME timeout, so closed sessions depend only on the
    * data's timestamps and the watermark — a backfill replay of the
    * same files, in any order and at any speed, emits the same
    * sessions as live execution and as the batch q35 query
    * (processing-time timeouts would close sessions on wall-clock,
    * diverging under out-of-order replay).
    *
    * State per user is the list of gap-merged partial sessions still
    * inside the watermark horizon — bounded: a session whose close is
    * watermark-proven (end + gap < watermark; no unlocked future event
    * can extend or bridge it, late rows beyond the watermark are
    * dropped upstream) is emitted and leaves the state. The event-time
    * timer fires at the earliest pending close, so idle users flush
    * without new input.
    *
    * Run in BATCH mode (no watermark exists), every session closes:
    * the output IS the batch q35 result — same code, bounded input.
    *
    * Session values fold in interval-merge order, which can differ
    * from strict event order across micro-batches; `session_value` is
    * therefore sum-equal but not bit-order-identical to batch folds
    * (start/end/n are exact). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[SessionOut]): Dataset[SessionOut] = {
    val gapUs = gapMs * 1000L
    step(events, watermarkDelay, _.user_id, List.empty[(Long, Long, Int, Double)]) {
      (userId, batch, held, wmUs) =>
        val merged = gapMerge(
          held ++ batch.map(e => (micros(e.ts), micros(e.ts), 1, e.value)), gapUs)
        // strict <: an event at exactly end+gap still joins the session
        val (closed, open) = merged.partition(_._2 + gapUs < wmUs)
        (closed.map { case (s, e, n, v) => SessionOut(userId, timestamp(s), timestamp(e), n, v) },
          open, open.map(_._2 + gapUs).minOption)
    }
  }

  case class FunnelOut(user_id: Long, t_view: Timestamp,
      t_click: Option[Timestamp], t_purchase: Option[Timestamp],
      reached_step: Long)

  /** Stateful event funnel with a conversion horizon — the incremental
    * form of q100, made watermark-finalizable: t_view = the user's
    * first view; t_click = first click in (t_view, t_view+H];
    * t_purchase = first purchase in (t_click, t_click+H]. The horizon
    * is what makes a funnel FINAL: once the watermark passes
    * t_view + 2H, no admissible event can change any step (an earlier
    * view can no longer arrive, and both conversion windows have
    * closed), so the user emits exactly once and leaves the state.
    *
    * State per user is the funnel-relevant events still able to affect
    * the outcome: everything past min-view + 2H is dropped on arrival,
    * and for users with no view yet, a click/purchase is held only
    * while a view before it can still arrive (watermark < its ts) —
    * both prunes keep state bounded at any stream rate. The funnel is
    * recomputed from the held events, so arrival order never matters.
    *
    * Run in BATCH mode every funnel is final — the output equals the
    * same horizon-variant computed declaratively (spec-proven). */
  def funnelStream(events: Dataset[Event], horizonMs: Long,
      watermarkDelay: String = "2 hours")(
      implicit outEnc: Encoder[FunnelOut]): Dataset[FunnelOut] = {
    val hUs = horizonMs * 1000L
    val funnelTypes = Set("view", "click", "purchase")

    def funnelOf(userId: Long, evs: List[Event]): Option[FunnelOut] = {
      def first(tpe: String, after: Long): Option[Long] = evs.filter(e =>
        e.event_type == tpe && micros(e.ts) > after && micros(e.ts) <= after + hUs)
        .map(e => micros(e.ts)).minOption
      evs.filter(_.event_type == "view").map(e => micros(e.ts)).minOption.map { tv =>
        val tc = first("click", tv)
        val tp = tc.flatMap(first("purchase", _))
        FunnelOut(userId, timestamp(tv), tc.map(timestamp), tp.map(timestamp),
          1L + tc.size + tp.size)
      }
    }

    step(events.filter(e => funnelTypes.contains(e.event_type)), watermarkDelay,
        _.user_id, List.empty[Event]) { (userId, batch, held, wmUs) =>
      val all = held ++ batch
      val minView = all.filter(_.event_type == "view").map(e => micros(e.ts)).minOption
      // prune: events beyond min-view + 2H can't affect this funnel;
      // with no view, hold click/purchase only while an earlier view
      // can still arrive
      val kept = minView match {
        case Some(tv) => all.filter(e => micros(e.ts) <= tv + 2 * hUs)
        case None => all.filter(e => micros(e.ts) >= wmUs)
      }
      if (minView.exists(tv => tv + 2 * hUs < wmUs)) (funnelOf(userId, kept).toList, Nil, None)
      // fire when the funnel becomes finalizable (or, with no view yet,
      // when the oldest held event stops being validatable)
      else (Nil, kept, minView.map(_ + 2 * hUs).orElse(kept.map(e => micros(e.ts)).minOption))
    }
  }

  case class AttrOut(user_id: Long, conv_event_id: Long, touch_event_id: Long,
      touch_type: String, pos: Long, n_touches: Long, credit_bp: Long)

  /** Streaming U-shaped multi-touch attribution — the incremental twin
    * of batch q231: per user, non-purchase events buffer as the open
    * conversion segment's touches, and the moment a purchase CLOSES
    * (watermark-proven: nothing earlier can still arrive) it emits one
    * row per buffered touch with the exact q231 credit split — 10000 bp
    * for a lone touch, 5000/5000 for two, 40/20/40 with the integer
    * remainder to the earliest middles otherwise — then resets the
    * segment. Credits for a conversion therefore appear EXACTLY ONCE,
    * in one batch, summing to 10000; replay order cannot change them
    * because events process in (ts, event_id) order
    * ([[EventState.ordered]]). Touches after a user's final purchase
    * are never emitted — q231's exclusion.
    *
    * State per user = the open segment's touches plus the held events.
    * `attributionWindow` (an event-time duration, micros) is the
    * production bound: touches older than purchase-time minus the
    * window take no credit, and a buffered touch EXPIRES from state
    * once the watermark proves every future purchase would ignore it —
    * so state holds at most one window of touches per user however
    * long the stream runs. The default (Long.MaxValue) disables the
    * window for exact q231 equivalence, which attributes the whole
    * segment; AttributionStreamSpec covers both modes. */
  def attributionStream(events: Dataset[Event],
      watermarkDelay: String = "2 hours",
      attributionWindowUs: Long = Long.MaxValue)(
      implicit outEnc: Encoder[AttrOut]): Dataset[AttrOut] =
    step(events, watermarkDelay, _.user_id, (List.empty[Event], List.empty[Event])) {
      (uid, batch, st, wmUs) =>
        val (outs, (held, touches), fire) = ordered(st, batch, wmUs) { (touches, e) =>
          if (e.event_type != "purchase") (touches :+ e, Nil)
          else {
            val cutoff =
              if (attributionWindowUs == Long.MaxValue) Long.MinValue
              else micros(e.ts) - attributionWindowUs
            val credited = touches.filter(t => micros(t.ts) >= cutoff)
            val n = credited.size.toLong
            (Nil, credited.zipWithIndex.map { case (t, i) =>
              val pos = i + 1L
              val bp =
                if (n == 1) 10000L
                else if (n == 2) 5000L
                else if (pos == 1 || pos == n) 4000L
                else 2000L / (n - 2) + (if (pos - 1 <= 2000L % (n - 2)) 1L else 0L)
              AttrOut(uid, e.event_id, t.event_id, t.event_type, pos, n, bp)
            })
          }
        }
        // window expiry: once wm > touch_ts + window, every future
        // purchase's cutoff already excludes the touch — drop it
        val alive =
          if (attributionWindowUs == Long.MaxValue) touches
          else touches.filter(t => micros(t.ts) + attributionWindowUs >= wmUs)
        (outs, (held, alive), fire)
    }
}
