package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Op, Tables}

/** Relational surface, ninth installment (SURVEY.md §2a):
  * time-series LINEAR interpolation (q89) and sequence-pattern
  * matching over per-user event journeys (q90). */
object Relational9 {

  /** q89: time-series linear interpolation — the numeric sibling of
    * q48's forward fill: per-supplier daily shipped quantity over a
    * dense day spine, with missing days LINEARLY interpolated between
    * the last and next observed values (the feature-store default for
    * sampled sensor/metric series, where a step function biases any
    * downstream rate-of-change feature).
    *
    * One key shuffle: the spine joins observations on
    * (suppkey, day), then a single window partitioned by supplier
    * carries last/next observed (value, day) via IGNORE NULLS frames
    * in both directions. The spine spans min..max observed per
    * series, so both anchors always exist and the interpolation
    * formula has no null branches. Per-series window partitioning
    * means parallelism grows with the number of series — there is no
    * low-cardinality sort anywhere, the same scale contract as q48.
    * Quantities ride as exact longs; the only float op is the final
    * prev + (next-prev)*dd/DD, whose operands are exact in a double,
    * identically ordered in both engines, then rounded. */
  def q89Interpolate(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
    val daily = li
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    val spine = daily.groupBy(col("l_suppkey"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("l_suppkey"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    // both sides are aggregate-derived (no stats) and corpus-scaling;
    // force the shuffled build so Catalyst never guesses-small and
    // broadcasts a per-series relation (the t11/d16 bug class)
    val joined = spine
      .join(daily.hint("shuffle_hash"), Seq("l_suppkey", "day"), "left")
      .withColumn("obs_day", when(col("qty").isNotNull, col("day")))
    val back = Window.partitionBy(col("l_suppkey")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the forward anchor as a DESCENDING running frame, not a
    // [current, unboundedFollowing] frame: Spark executes the latter
    // with UnboundedFollowingWindowFunctionFrame, which rescans the
    // partition TAIL for every row — O(rows²) per series (measured
    // 3.1 s isolated at sf0.1; the r14 verdict's 6.5×-DuckDB flag).
    // last(ignoreNulls) over desc(day) [unboundedPreceding, current]
    // is the identical value (nearest observation at day' >= day)
    // via the incremental O(rows) running frame; the second sort it
    // costs shares the back window's exchange.
    val fwd = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("pq", last(col("qty"), ignoreNulls = true).over(back))
      .withColumn("pd",
        last(col("obs_day"), ignoreNulls = true).over(back))
      .withColumn("nq",
        last(col("qty"), ignoreNulls = true).over(fwd))
      .withColumn("nd",
        last(col("obs_day"), ignoreNulls = true).over(fwd))
      .withColumn("qty_interp",
        round(col("pq").cast("double")
          + (col("nq") - col("pq")).cast("double")
            * datediff(col("day"), col("pd")).cast("double")
            / greatest(datediff(col("nd"), col("pd")), lit(1))
              .cast("double"), 6) + lit(0.0))
      .withColumn("is_gap",
        when(col("qty").isNotNull, lit(0L)).otherwise(lit(1L)))
      .select(col("l_suppkey"),
        col("day").cast("string").as("day"),
        col("qty_interp"), col("is_gap"))
      .orderBy(col("l_suppkey"), col("day"))
  }

  val q89Sql: String =
    """WITH daily AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1, 2),
      |spine AS (
      |  SELECT l_suppkey,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |      AS day
      |  FROM (SELECT l_suppkey, min(day) AS d0, max(day) AS d1
      |        FROM daily GROUP BY 1)),
      |j AS (
      |  SELECT s.l_suppkey, s.day, d.qty,
      |    CASE WHEN d.qty IS NOT NULL THEN s.day END AS obs_day
      |  FROM spine s LEFT JOIN daily d
      |    ON s.l_suppkey = d.l_suppkey AND s.day = d.day),
      |w AS (
      |  SELECT l_suppkey, day, qty,
      |    last_value(qty IGNORE NULLS) OVER
      |      (PARTITION BY l_suppkey ORDER BY day
      |       ROWS UNBOUNDED PRECEDING) AS pq,
      |    last_value(obs_day IGNORE NULLS) OVER
      |      (PARTITION BY l_suppkey ORDER BY day
      |       ROWS UNBOUNDED PRECEDING) AS pd,
      |    first_value(qty IGNORE NULLS) OVER
      |      (PARTITION BY l_suppkey ORDER BY day
      |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nq,
      |    first_value(obs_day IGNORE NULLS) OVER
      |      (PARTITION BY l_suppkey ORDER BY day
      |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      |  FROM j)
      |SELECT l_suppkey, CAST(day AS VARCHAR) AS day,
      |  ROUND(CAST(pq AS DOUBLE)
      |    + CAST(nq - pq AS DOUBLE)
      |      * CAST(date_diff('day', pd, day) AS DOUBLE)
      |      / CAST(GREATEST(date_diff('day', pd, nd), 1) AS DOUBLE),
      |    6) + 0.0 AS qty_interp,
      |  CASE WHEN qty IS NOT NULL THEN CAST(0 AS BIGINT)
      |    ELSE CAST(1 AS BIGINT) END AS is_gap
      |FROM w ORDER BY l_suppkey, day""".stripMargin

  /** The conversion journey q90 counts: a view, any run of further
    * views/clicks, then a purchase. RE2-compatible (no lookaround)
    * so both engines run the identical pattern, and non-overlapping
    * match semantics agree. */
  val ConversionRe = "v[vc]*p"

  /** The abandonment journey: a view-led run that dies in an error. */
  val AbandonRe = "v[vc]*e"

  /** q90: sequence-pattern matching over event journeys — the
    * MATCH_RECOGNIZE-lite every product-analytics stack runs: encode
    * each user's event history as one ordered string (one char per
    * event type; the five types have distinct initials) and count
    * regex matches per user — here view→(view|click)*→purchase
    * conversions and the same run ending in an error.
    *
    * Unlike q51's fixed-stage funnel or q72's adjacent transitions,
    * the pattern here is an arbitrary regular expression over the
    * whole journey. One groupBy(user) shuffle builds the journey from
    * partial-aggregable pieces (collect_list of a (ts, event_id,
    * letter) struct → sort_array → transform → concat) — journey
    * length is bounded by per-user activity, so state per key stays
    * small while user count scales out; the regex scan is linear in
    * the journey. Ties inside one timestamp break on event_id, so the
    * string is deterministic. */
  def q90SeqMatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("letter"))
    ev.groupBy(col("user_id"))
      .agg(concat_ws("",
        transform(
          sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("letter")))),
          x => x.getField("letter"))).as("journey"))
      .select(col("user_id"),
        length(col("journey")).cast("long").as("seq_len"),
        regexp_count(col("journey"), lit(ConversionRe)).cast("long")
          .as("n_conversions"),
        regexp_count(col("journey"), lit(AbandonRe)).cast("long")
          .as("n_abandoned"))
      .filter(col("n_conversions") + col("n_abandoned") > 0)
      .orderBy(col("user_id"))
  }

  val q90Sql: String =
    s"""WITH j AS (
       |  SELECT user_id,
       |    string_agg(substring(event_type, 1, 1), ''
       |      ORDER BY ts, event_id) AS journey
       |  FROM events GROUP BY user_id),
       |m AS (
       |  SELECT user_id,
       |    CAST(length(journey) AS BIGINT) AS seq_len,
       |    CAST(len(regexp_extract_all(journey, '$ConversionRe'))
       |      AS BIGINT) AS n_conversions,
       |    CAST(len(regexp_extract_all(journey, '$AbandonRe'))
       |      AS BIGINT) AS n_abandoned
       |  FROM j)
       |SELECT user_id, seq_len, n_conversions, n_abandoned
       |FROM m WHERE n_conversions + n_abandoned > 0
       |ORDER BY user_id""".stripMargin

  /** q91: MULTI-TOUCH ATTRIBUTION — the marketing-analytics staple
    * over event journeys: every purchase's revenue is credited to
    * the view/click touchpoints that preceded it under the three
    * standard models (first-touch, last-touch, linear), reported per
    * channel (the event type stands in for the campaign channel).
    * A touch belongs to the NEXT purchase in its user's journey
    * (strictly later in (ts, event_id) order — each journey segment
    * attributes independently); purchases with no preceding touch
    * since the prior purchase credit the `direct` channel in full
    * under every model.
    *
    * EXACTNESS: revenue rides as integer cents
    * (round(value·100) — the corpus plants 2-decimal values), the
    * linear split is per-conversion integer floor division
    * (cents·cnt_channel·10⁶ div n_touches, summed exactly — no
    * float summation order to diverge on), and first/last elections
    * tie-break on event_id. SCALE: the touch→conversion assignment
    * is ONE per-user window (the q89/asofJoinForward descending
    * running frame — O(rows), no self-join), then two keyed
    * aggregations (per conversion, then per channel); parallelism
    * grows with users and conversions, nothing corpus-broadcast. */
  def q91Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val touches = ev
      .filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("channel"), lit(0).as("side"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("string").as("channel"), lit(1).as("side"))
      .withColumn("conv",
        struct(col("ts").as("cts"), col("event_id").as("cid")))
    val unioned = touches
      .withColumn("conv", lit(null).cast(
        "struct<cts:timestamp,cid:bigint>"))
      .unionByName(convs)
    // next purchase per row: descending running frame (the q89
    // lesson — never [current, unboundedFollowing]); at equal ts the
    // unique event_id breaks the tie, purchases sorting after a
    // same-instant touch in ascending order = before it descending
    val wNext = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val assigned = unioned
      .withColumn("nxt", last(col("conv"), ignoreNulls = true)
        .over(wNext))
      .filter(col("side") === 0 && col("nxt").isNotNull)
      .select(col("user_id"), col("channel"), col("ts"),
        col("event_id"), col("nxt.cid").as("conv_id"))
    val cents = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    // per (conversion, channel): touch count + the conversion's
    // first/last touch election (global across channels)
    val perConv = assigned.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"),
        min(struct(col("ts"), col("event_id"), col("channel")))
          .as("first_t"),
        max(struct(col("ts"), col("event_id"), col("channel")))
          .as("last_t"))
    val perConvChan = assigned
      .groupBy(col("conv_id"), col("channel"))
      .agg(count(lit(1)).as("cnt"))
    val attributed = perConvChan
      .join(perConv.hint("shuffle_hash"), Seq("conv_id"))
      .join(cents.hint("shuffle_hash"), Seq("conv_id"))
      .withColumn("linear_part",
        expr("(cents * cnt * 1000000) div n_touches"))
      .withColumn("first_cents",
        when(col("first_t.channel") === col("channel"), col("cents"))
          .otherwise(lit(0L)))
      .withColumn("last_cents",
        when(col("last_t.channel") === col("channel"), col("cents"))
          .otherwise(lit(0L)))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conv_touchpairs"),
        sum(col("cnt")).cast("long").as("n_touches"),
        sum(col("first_cents")).cast("long").as("first_touch_cents"),
        sum(col("last_cents")).cast("long").as("last_touch_cents"),
        sum(col("linear_part")).cast("long").as("linear_micro_cents"))
    // purchases nobody touched: full credit to `direct` everywhere
    val direct = cents
      .join(perConv.select(col("conv_id")).hint("shuffle_hash"),
        Seq("conv_id"), "left_anti")
      .agg(count(lit(1)).as("n_conv_touchpairs"),
        count(lit(1)).as("n_touches"),
        sum(col("cents")).cast("long").as("first_touch_cents"),
        sum(col("cents")).cast("long").as("last_touch_cents"),
        (sum(col("cents")) * 1000000L).cast("long")
          .as("linear_micro_cents"))
      .withColumn("channel", lit("direct"))
      .select(col("channel"), col("n_conv_touchpairs"),
        col("n_touches"), col("first_touch_cents"),
        col("last_touch_cents"), col("linear_micro_cents"))
    attributed.unionByName(direct).orderBy(col("channel"))
  }

  val q91Sql: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id, event_type AS channel
      |  FROM events WHERE event_type IN ('view', 'click')),
      |p AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, ts, event_id, channel, 0 AS side,
      |    NULL AS cid, NULL AS cts FROM t
      |  UNION ALL
      |  SELECT user_id, ts, event_id, NULL, 1, event_id, ts FROM p),
      |w AS (
      |  SELECT user_id, ts, event_id, channel, side,
      |    last_value(cid IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      |      ROWS UNBOUNDED PRECEDING) AS conv_id
      |  FROM u),
      |assigned AS (
      |  SELECT user_id, channel, ts, event_id, conv_id
      |  FROM w WHERE side = 0 AND conv_id IS NOT NULL),
      |per_conv AS (
      |  SELECT conv_id, COUNT(*) AS n_touches,
      |    min(ROW(ts, event_id, channel)) AS first_t,
      |    max(ROW(ts, event_id, channel)) AS last_t
      |  FROM assigned GROUP BY conv_id),
      |per_chan AS (
      |  SELECT conv_id, channel, COUNT(*) AS cnt
      |  FROM assigned GROUP BY conv_id, channel),
      |att AS (
      |  SELECT pc.channel, pc.cnt, v.n_touches, p.cents,
      |    (p.cents * pc.cnt * 1000000) // v.n_touches AS linear_part,
      |    CASE WHEN v.first_t[3] = pc.channel THEN p.cents
      |      ELSE 0 END AS first_cents,
      |    CASE WHEN v.last_t[3] = pc.channel THEN p.cents
      |      ELSE 0 END AS last_cents
      |  FROM per_chan pc
      |  JOIN per_conv v USING (conv_id)
      |  JOIN p ON p.event_id = pc.conv_id),
      |chan AS (
      |  SELECT channel,
      |    CAST(COUNT(*) AS BIGINT) AS n_conv_touchpairs,
      |    CAST(SUM(cnt) AS BIGINT) AS n_touches,
      |    CAST(SUM(first_cents) AS BIGINT) AS first_touch_cents,
      |    CAST(SUM(last_cents) AS BIGINT) AS last_touch_cents,
      |    CAST(SUM(linear_part) AS BIGINT) AS linear_micro_cents
      |  FROM att GROUP BY channel),
      |direct AS (
      |  SELECT 'direct' AS channel,
      |    CAST(COUNT(*) AS BIGINT) AS n_conv_touchpairs,
      |    CAST(COUNT(*) AS BIGINT) AS n_touches,
      |    CAST(SUM(cents) AS BIGINT) AS first_touch_cents,
      |    CAST(SUM(cents) AS BIGINT) AS last_touch_cents,
      |    CAST(SUM(cents) * 1000000 AS BIGINT) AS linear_micro_cents
      |  FROM p WHERE event_id NOT IN (SELECT conv_id FROM per_conv))
      |SELECT * FROM chan UNION ALL SELECT * FROM direct
      |ORDER BY channel""".stripMargin

  /** q92: two-proportion A/B TEST report — the experimentation
    * readout every product stack runs over event journeys: users
    * split into variants (the deterministic user_id%2 assignment —
    * exactly how deployed bucketing hashes users), EXPOSURE = the
    * user viewed, CONVERSION = an exposed user whose purchases
    * OUTNUMBER their errors (the synthetic feed gives every user
    * both event types, so a bare did-purchase flag is degenerate —
    * this derived engagement flag splits), and the readout is
    * per-variant counts, exact micro-unit rates, the micro-unit
    * lift, and the pooled two-proportion z statistic (zero pooled
    * variance guarded to z=0 — the no-information verdict).
    *
    * EXACTNESS: counts are integer bools per user (one partial-
    * aggregable groupBy(user) pass), rates/lift are integer floor
    * arithmetic (FLOOR is toward -inf in both engines, so the
    * possibly-negative lift replays), and z is the ONLY float — a
    * single expression over six integers with identical operand
    * ordering in both engines, then round(…,6)+0.0 (the q89
    * discipline). SCALE: groupBy(user) shuffles once and combines
    * map-side; the variant rollup is a 2-row aggregate folded to one
    * row by conditional aggregation (the q09 pivot pattern) — no
    * low-cardinality sort, nothing corpus-broadcast. */
  def q92AbTest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val users = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("exposed"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purch"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
      .withColumn("converted",
        when(col("exposed") === 1L && col("n_purch") > col("n_err"),
          1L).otherwise(0L))
    val row = users.agg(
      sum(when(col("variant") === 0, col("exposed")).otherwise(0L))
        .cast("long").as("a_exposed"),
      sum(when(col("variant") === 0, col("converted")).otherwise(0L))
        .cast("long").as("a_converted"),
      sum(when(col("variant") === 1, col("exposed")).otherwise(0L))
        .cast("long").as("b_exposed"),
      sum(when(col("variant") === 1, col("converted")).otherwise(0L))
        .cast("long").as("b_converted"))
    val p1 = col("a_converted").cast("double") /
      col("a_exposed").cast("double")
    val p2 = col("b_converted").cast("double") /
      col("b_exposed").cast("double")
    val pp = (col("a_converted") + col("b_converted")).cast("double") /
      (col("a_exposed") + col("b_exposed")).cast("double")
    // Degenerate-corpus sentinel: if either variant has ZERO exposed
    // users, Spark's Divide yields NULL while DuckDB's float division
    // yields inf/NaN — the engines would diverge. All four derived
    // metrics take the -1 sentinel branch instead (mirrored in
    // q92Sql), matching the existing zero/full-conversion z guard.
    val degenerate = col("a_exposed") === 0L || col("b_exposed") === 0L
    row
      .withColumn("a_rate_micro",
        when(degenerate, lit(-1L)).otherwise(
          floor(lit(1000000L) * col("a_converted") / col("a_exposed"))
            .cast("long")))
      .withColumn("b_rate_micro",
        when(degenerate, lit(-1L)).otherwise(
          floor(lit(1000000L) * col("b_converted") / col("b_exposed"))
            .cast("long")))
      .withColumn("lift_micro",
        when(degenerate, lit(-1L)).otherwise(
          floor(lit(1000000d) * (p1 - p2)).cast("long")))
      .withColumn("z_score",
        when(degenerate, lit(-1.0))
          .when(col("a_converted") + col("b_converted") === 0L ||
            col("a_converted") + col("b_converted") ===
              col("a_exposed") + col("b_exposed"), lit(0.0))
          .otherwise(round((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("a_exposed").cast("double") +
              lit(1.0) / col("b_exposed").cast("double"))), 6)
            + lit(0.0)))
  }

  val q92Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS exposed,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS n_purch,
      |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS n_err
      |  FROM events GROUP BY user_id),
      |v AS (
      |  SELECT user_id % 2 AS variant, exposed,
      |    CASE WHEN exposed = 1 AND n_purch > n_err THEN 1 ELSE 0 END
      |      AS converted
      |  FROM u),
      |r AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN exposed ELSE 0 END)
      |      AS BIGINT) AS a_exposed,
      |    CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
      |      AS BIGINT) AS a_converted,
      |    CAST(SUM(CASE WHEN variant = 1 THEN exposed ELSE 0 END)
      |      AS BIGINT) AS b_exposed,
      |    CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
      |      AS BIGINT) AS b_converted
      |  FROM v)
      |SELECT a_exposed, a_converted, b_exposed, b_converted,
      |  CASE WHEN a_exposed = 0 OR b_exposed = 0 THEN -1
      |    ELSE CAST(FLOOR(1000000 * a_converted / a_exposed)
      |      AS BIGINT) END AS a_rate_micro,
      |  CASE WHEN a_exposed = 0 OR b_exposed = 0 THEN -1
      |    ELSE CAST(FLOOR(1000000 * b_converted / b_exposed)
      |      AS BIGINT) END AS b_rate_micro,
      |  CASE WHEN a_exposed = 0 OR b_exposed = 0 THEN -1
      |    ELSE CAST(FLOOR(1000000.0 * (CAST(a_converted AS DOUBLE)
      |      / CAST(a_exposed AS DOUBLE)
      |    - CAST(b_converted AS DOUBLE) / CAST(b_exposed AS DOUBLE)))
      |    AS BIGINT) END AS lift_micro,
      |  CASE WHEN a_exposed = 0 OR b_exposed = 0 THEN -1.0
      |    WHEN a_converted + b_converted = 0
      |      OR a_converted + b_converted = a_exposed + b_exposed
      |    THEN 0.0
      |    ELSE ROUND((CAST(a_converted AS DOUBLE)
      |        / CAST(a_exposed AS DOUBLE)
      |      - CAST(b_converted AS DOUBLE) / CAST(b_exposed AS DOUBLE))
      |      / SQRT((CAST(a_converted + b_converted AS DOUBLE)
      |          / CAST(a_exposed + b_exposed AS DOUBLE))
      |        * (1.0 - CAST(a_converted + b_converted AS DOUBLE)
      |          / CAST(a_exposed + b_exposed AS DOUBLE))
      |        * (1.0 / CAST(a_exposed AS DOUBLE)
      |          + 1.0 / CAST(b_exposed AS DOUBLE))), 6) + 0.0 END
      |    AS z_score
      |FROM r""".stripMargin

  /** q93: FILE-COMPACTION bin-packing plan — the lakehouse OPTIMIZE
    * planner (Delta/Iceberg compaction, Spark's own coalesce-by-size
    * file grouping): given a manifest of (file_id, bytes) in layout
    * order, group consecutive files into rewrite bins of a target
    * size — bin = exclusive-prefix-sum(bytes) div TARGET, the
    * standard first-fit-in-order plan (a file straddling a boundary
    * lands where its prefix STARTS, so a bin overflows by at most
    * one file — the trade every size-tiered compactor makes to keep
    * the plan one pass and order-preserving for data-skipping
    * locality). The report is per-bin file count, payload bytes,
    * file-id span, and exact ppm fill against the target — what an
    * operator reviews before launching the rewrite jobs.
    *
    * The manifest derives from lineitem (file = l_orderkey div 32,
    * bytes = a per-row integer size proxy summed), so it is O(files), not
    * O(rows): the only corpus-scaling work is ONE map-side-combined
    * aggregate. The prefix sum over the manifest runs as the
    * d46/d58 two-level bin-parallel form — files route to 256 RANGE
    * bins via a broadcast 1-row max (monotone in file_id, so
    * bin-local cumsum + triangular offsets == the global cumsum the
    * oracle replays), never a single-partition corpus window; the
    * offsets join is O(256²) literal rows at any corpus size. */
  def q93FileBinpack(spark: SparkSession, dir: String): DataFrame = {
    val Target = 262144L // 256 KiB rewrite bins (literal)
    val manifest = Tables.load(spark, dir, "lineitem")
      .groupBy(expr("l_orderkey div 32").as("file_id"))
      .agg(sum(pmod(col("l_partkey"), lit(512L)) + lit(64L))
        .cast("long").as("bytes"))
    val mx = manifest.agg(max(col("file_id")).as("mx"))
    val routed = manifest.crossJoin(broadcast(mx))
      .withColumn("bin", expr("(file_id * 256) div (mx + 1)"))
    val binTotals = routed.groupBy(col("bin"))
      .agg(sum(col("bytes")).as("bc"))
    val offsets = binTotals.as("a")
      .join(binTotals.as("b"), col("b.bin") < col("a.bin"), "left")
      .select(col("a.bin").as("bin"), col("b.bc").as("prev_bc"))
      .groupBy(col("bin"))
      .agg(coalesce(sum(col("prev_bc")), lit(0L)).as("offset"))
    val wRow = Window.partitionBy(col("bin")).orderBy(col("file_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    routed.join(broadcast(offsets), Seq("bin"))
      .withColumn("cum_excl",
        col("offset") + sum(col("bytes")).over(wRow) - col("bytes"))
      .withColumn("bin_id", expr(s"cum_excl div $Target"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bin_bytes"),
        min(col("file_id")).as("file_lo"),
        max(col("file_id")).as("file_hi"))
      .withColumn("fill_ppm",
        expr(s"(bin_bytes * 1000000) div $Target"))
      .orderBy(col("bin_id"))
  }

  val q93Sql: String =
    """WITH manifest AS (
      |  SELECT l_orderkey // 32 AS file_id,
      |    CAST(SUM(l_partkey % 512 + 64) AS BIGINT) AS bytes
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT file_id, bytes,
      |    CAST(COALESCE(SUM(bytes) OVER (ORDER BY file_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cum_excl
      |  FROM manifest)
      |SELECT cum_excl // 262144 AS bin_id,
      |  COUNT(*) AS n_files,
      |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
      |  MIN(file_id) AS file_lo,
      |  MAX(file_id) AS file_hi,
      |  (CAST(SUM(bytes) AS BIGINT) * 1000000) // 262144 AS fill_ppm
      |FROM cum GROUP BY 1 ORDER BY bin_id""".stripMargin

  /** One metric's quintile CUTS (c1..c4) as a 1-row relation, by the
    * d58 histogram-cut rule: c_i = min value whose running count
    * reaches (n·i) div 5. NTILE would be tie-UNREPLAYABLE (it splits
    * tied values by arbitrary row order); the cut rule is a pure
    * function of the value multiset, so both engines land identical
    * scores however ties fall. Runs as the d46/d58 two-level
    * bin-parallel prefix sum (256 range bins via a broadcast 1-row
    * max — q93's router), so the running count never needs a
    * single-partition corpus window: the histogram can be one row
    * per CUSTOMER (spend is near-unique) and still shards. */
  private def quintileCuts(vals: DataFrame, vcol: String,
      pfx: String): DataFrame = {
    val hist = vals.groupBy(col(vcol).as("v"))
      .agg(count(lit(1)).as("c"))
    val mx = hist.agg(max(col("v")).as("mx"))
    val routed = hist.crossJoin(broadcast(mx))
      .withColumn("bin", expr("(v * 256) div (mx + 1)"))
    val binTotals = routed.groupBy(col("bin"))
      .agg(sum(col("c")).as("bc"))
    val offsets = binTotals.as("a")
      .join(binTotals.as("b"), col("b.bin") < col("a.bin"), "left")
      .select(col("a.bin").as("bin"), col("b.bc").as("prev_bc"))
      .groupBy(col("bin"))
      .agg(coalesce(sum(col("prev_bc")), lit(0L)).as("offset"))
    val tot = binTotals.agg(sum(col("bc")).as("n"))
    val wRow = Window.partitionBy(col("bin")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = routed.join(broadcast(offsets), Seq("bin"))
      .withColumn("cum", col("offset") + sum(col("c")).over(wRow))
      .crossJoin(broadcast(tot))
    val cutCols = (1 to 4).map(i => expr(
      s"min(CASE WHEN cum >= (n * $i) div 5 THEN v END)")
      .as(s"$pfx$i"))
    cum.agg(cutCols.head, cutCols.tail: _*)
  }

  /** Score 1..5 from a value and its four cuts: 1 + how many cuts
    * the value exceeds. */
  private def q5(v: Column, pfx: String): Column =
    (1 to 4).foldLeft(lit(1)) { (acc, i) =>
      acc + (v > col(s"$pfx$i")).cast("int")
    }

  /** q94: RFM SEGMENTATION — the marketing-analytics staple over the
    * orders history: each customer scores 1-5 on Recency (days since
    * last order, inverted so recent = 5), Frequency (order count),
    * and Monetary (lifetime spend in exact cents via the DECIMAL
    * discipline), and the report is the (r,f,m) cell distribution
    * with named headline segments — what a CRM actually actions.
    *
    * EXACTNESS: all three metrics are integers (datediff days /
    * counts / decimal-summed cents), and quintiles come from the
    * d58 histogram-CUT rule, not NTILE — NTILE splits ties by
    * arbitrary row order, which no oracle could replay; the cut rule
    * is a pure function of the value multiset. SCALE: one
    * customer-keyed aggregate (map-side combined) builds the metric
    * relation; each quintile is a bin-parallel prefix sum over a
    * value histogram (two-level d46 form — correct even when the
    * histogram is one row per customer); the three 1-row cut
    * relations and the 1-row max-date broadcast; the final rollup
    * groups ≤125 cells. No global sort, no single-partition window,
    * nothing corpus-broadcast. The shared customer subtree is NOT
    * persist()ed on purpose: AQE's RUNTIME exchange reuse dedups it
    * across the four consumers (the final adaptive plan carries 29
    * ReusedExchange nodes — the shuffle map stage holding the orders
    * scan + partial aggregate executes once and its output is
    * reused), and a cache only adds a materialization barrier —
    * measured isolated 4.31 s plain vs 8.21 s persisted at sf0.1. */
  def q94Rfm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val orders = Tables.load(spark, dir, "orders")
    val maxD = orders.agg(max(to_date(col("o_orderdate"))).as("dmax"))
    val cust = orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        (sum(col("o_totalprice").cast(DecimalType(18, 4))) * 100)
          .cast("long").as("spend"))
      .crossJoin(broadcast(maxD))
      .withColumn("rec", datediff(col("dmax"), col("last_day"))
        .cast("long"))
    val scored = cust
      .crossJoin(broadcast(quintileCuts(cust, "rec", "rc")))
      .crossJoin(broadcast(quintileCuts(cust, "freq", "fc")))
      .crossJoin(broadcast(quintileCuts(cust, "spend", "mc")))
      .withColumn("r_score", (lit(6) - q5(col("rec"), "rc"))
        .cast("long"))
      .withColumn("f_score", q5(col("freq"), "fc").cast("long"))
      .withColumn("m_score", q5(col("spend"), "mc").cast("long"))
    scored
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend")).as("total_spend_cents"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 &&
          col("m_score") >= 4, "champions")
          .when(col("r_score") <= 2 && col("f_score") >= 4,
            "at_risk_loyal")
          .when(col("r_score") >= 4 && col("f_score") <= 2,
            "recent_low_freq")
          .otherwise("core"))
      .select(col("r_score"), col("f_score"), col("m_score"),
        col("segment"), col("n_customers"), col("total_spend_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  private def cutsSql(src: String, vexpr: String, pfx: String): String =
    s"""${pfx}hist AS (
       |  SELECT $vexpr AS v, count(*) AS c FROM $src GROUP BY 1),
       |${pfx}cum AS (
       |  SELECT v, SUM(c) OVER (ORDER BY v
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(c) OVER () AS n
       |  FROM ${pfx}hist),
       |${pfx}cuts AS (
       |  SELECT
       |    MIN(CASE WHEN cum >= (n * 1) // 5 THEN v END) AS ${pfx}1,
       |    MIN(CASE WHEN cum >= (n * 2) // 5 THEN v END) AS ${pfx}2,
       |    MIN(CASE WHEN cum >= (n * 3) // 5 THEN v END) AS ${pfx}3,
       |    MIN(CASE WHEN cum >= (n * 4) // 5 THEN v END) AS ${pfx}4
       |  FROM ${pfx}cum)""".stripMargin

  lazy val q94Sql: String =
    s"""WITH cust AS (
       |  SELECT o_custkey,
       |    date_diff('day', CAST(MAX(o_orderdate) AS DATE),
       |      (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
       |      AS rec,
       |    COUNT(*) AS freq,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) * 100
       |      AS BIGINT) AS spend
       |  FROM orders GROUP BY 1),
       |${cutsSql("cust", "rec", "rc")},
       |${cutsSql("cust", "freq", "fc")},
       |${cutsSql("cust", "spend", "mc")},
       |scored AS (
       |  SELECT spend,
       |    6 - (1 + CAST(rec > rc1 AS INT) + CAST(rec > rc2 AS INT)
       |      + CAST(rec > rc3 AS INT) + CAST(rec > rc4 AS INT))
       |      AS r_score,
       |    1 + CAST(freq > fc1 AS INT) + CAST(freq > fc2 AS INT)
       |      + CAST(freq > fc3 AS INT) + CAST(freq > fc4 AS INT)
       |      AS f_score,
       |    1 + CAST(spend > mc1 AS INT) + CAST(spend > mc2 AS INT)
       |      + CAST(spend > mc3 AS INT) + CAST(spend > mc4 AS INT)
       |      AS m_score
       |  FROM cust, rccuts, fccuts, mccuts),
       |cells AS (
       |  SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
       |    CAST(SUM(spend) AS BIGINT) AS total_spend_cents
       |  FROM scored GROUP BY 1, 2, 3)
       |SELECT CAST(r_score AS BIGINT) AS r_score,
       |  CAST(f_score AS BIGINT) AS f_score,
       |  CAST(m_score AS BIGINT) AS m_score,
       |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
       |      THEN 'champions'
       |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
       |    WHEN r_score >= 4 AND f_score <= 2 THEN 'recent_low_freq'
       |    ELSE 'core' END AS segment,
       |  n_customers, total_spend_cents
       |FROM cells
       |ORDER BY r_score, f_score, m_score""".stripMargin

  /** Rules below this basket count are noise, not retail insight —
    * the Apriori min-support knob. */
  val RuleMinSup = 5L

  /** q95: ASSOCIATION RULES (support / confidence / lift) — the
    * directed Apriori 2-itemset report q69's symmetric Jaccard
    * affinity is NOT: "customers who buy A also buy B" needs the
    * DIRECTION (confidence n_ab/n_a differs both ways) and the
    * baseline correction (lift = confidence / P(B) — a rule whose
    * consequent is simply popular is no rule at all), plus the
    * min-support floor that separates insight from noise.
    *
    * EXACTNESS: every measure is integer micro/ppm arithmetic —
    * support_ppm = n_ab·10⁶ div N, confidence_ppm = n_ab·10⁶ div
    * n_a, and lift_ppm in the overflow-safe FACTORED order
    * (confidence_ppm · N) div n_b: the naive N·n_ab·10⁶ div
    * (n_a·n_b) overflows int64 once basket counts pass ~10⁹ (n_a·n_b
    * alone can reach 10²⁰ at 100 TB), while each factored step stays
    * ≤ ~10¹⁶; both engines evaluate the SAME order, so floors land
    * identically. SCALE: q69's basket shape — the per-order pair
    * fanout is O(orders·k²) bounded by basket size, never
    * corpus-quadratic, both self-join sides hinted shuffled
    * (aggregate-derived, no stats); the basket total is a 1-row
    * broadcast; per-brand totals re-attach on the |brands|²-bounded
    * rule relation. The directed `=!=` join is DELIBERATE over the
    * halved a<b-then-mirror form: a union of two selects over the
    * undirected aggregate RECOMPUTES the join subtree per branch
    * (DataFrame union has no CTE reuse), and one pass emitting 2×
    * beats two passes emitting 1× — measured isolated 2.28 s stable
    * vs 2.71 s with contended reps at sf0.1. */
  def q95AssocRules(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val pt = Tables.load(spark, dir, "part")
    val ob = li.join(pt, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val nBaskets = ob.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val cnt = ob.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_orders"))
    val pairs = ob.as("a")
      .join(ob.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.p_brand") =!= col("b.p_brand"))
      .groupBy(col("a.p_brand").as("antecedent"),
        col("b.p_brand").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= RuleMinSup)
    pairs
      .join(cnt.select(col("p_brand").as("antecedent"),
        col("n_orders").as("n_a")), Seq("antecedent"))
      .join(cnt.select(col("p_brand").as("consequent"),
        col("n_orders").as("n_b")), Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_a"), col("n_b"),
        expr("(n_ab * 1000000) div n_baskets").as("support_ppm"),
        expr("(n_ab * 1000000) div n_a").as("confidence_ppm"),
        expr("(((n_ab * 1000000) div n_a) * n_baskets) div n_b")
          .as("lift_ppm"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  lazy val q95Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey, p_brand
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |nb AS (
       |  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM ob),
       |cnt AS (
       |  SELECT p_brand, COUNT(*) AS n_orders FROM ob GROUP BY 1),
       |pairs AS (
       |  SELECT a.p_brand AS antecedent, b.p_brand AS consequent,
       |    COUNT(*) AS n_ab
       |  FROM ob a JOIN ob b
       |    ON a.l_orderkey = b.l_orderkey AND a.p_brand <> b.p_brand
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $RuleMinSup)
       |SELECT antecedent, consequent, n_ab,
       |  ca.n_orders AS n_a, cb.n_orders AS n_b,
       |  (n_ab * 1000000) // n_baskets AS support_ppm,
       |  (n_ab * 1000000) // ca.n_orders AS confidence_ppm,
       |  (((n_ab * 1000000) // ca.n_orders) * n_baskets)
       |    // cb.n_orders AS lift_ppm
       |FROM pairs
       |JOIN cnt ca ON ca.p_brand = antecedent
       |JOIN cnt cb ON cb.p_brand = consequent
       |CROSS JOIN nb
       |ORDER BY antecedent, consequent""".stripMargin

  /** Top-k cut for q96's rule report. */
  val Apriori3TopK = 20

  /** q96 RELATIVE min-support (classic Apriori support is a FRACTION
    * of baskets, which is what stays meaningful as the corpus
    * grows): pairs must reach 10% of baskets to seed candidates,
    * triples 5% to report. */
  val PairMinSupPpm = 100000L
  val TripleMinSupPpm = 50000L

  /** q96: APRIORI-3 — frequent item TRIPLES and the top-k
    * {A,B} → C rules over q95's pair backbone (r15 verdict item 5):
    * 2-itemset rules miss the cross-sell insight that needs a PAIR
    * antecedent ("customers with A AND B also buy C"), and the
    * classic Apriori LEVEL-WISE prune is the only reason triple
    * mining scales — candidates expand ONLY from frequent pairs,
    * with support as a basket FRACTION (ppm), the scale-invariant
    * production form.
    *
    * ITEM DOMAIN: floor(sqrt(partkey mod 196)) — a 14-item catalog
    * with a linear popularity RAMP (item k covers 2k+1 partkeys).
    * The synthetic corpus assigns parts to orders uniformly, so raw
    * brand/part domains are either all-frequent (25 dense brands:
    * every one of the 300 pairs clears any usable floor — the gate
    * cuts 0%) or all-infrequent (2 000+ parts: zero frequent
    * triples at every floor); real catalogs are Zipfian, and the
    * ramp is the deterministic stand-in that reproduces the regime
    * Apriori exists for. Measured at sf0.001/0.01/0.1: 16-17 of 91
    * pairs clear the 10% floor, and the L2 gate cuts 86/86/82% of
    * the O(orders·k³) triple fanout (7 227 → 1 007, 71 009 →
    * 10 101, 693 789 → 124 203 expansion rows) with 7/5/7 frequent
    * triples surviving — the prune is real and scale-stable.
    *
    * PLAN: the per-order pair stream (O(orders·k²)) is gated by a
    * broadcast SEMI-join against the frequent-pair set BEFORE the
    * third element joins. fp is bounded by |items|² (≤ 91 rows, a
    * literal domain bound, never corpus-scaling — the q21/q38
    * allowlist class), so the gate costs no shuffle of the fanout.
    * The Apriori PROPERTY guarantees completeness: every sub-pair
    * of a frequent triple is itself frequent (n_pair >= n_abc), so
    * the gate never drops a qualifying triple — spec-pinned.
    *
    * The three directed rules per triple emit by EXPLODE over one
    * bounded aggregate — never a 3-arm union, which would recompute
    * the corpus-scaling triple subtree per branch (the r15
    * union-recompute lesson). Measures are the q95 overflow-safe
    * factored ppm arithmetic (each step ≤ ~10¹⁶ at 100 TB where the
    * naive product overflows int64); top-k by (lift, confidence)
    * with full name tiebreaks lands as TakeOrderedAndProject — a
    * bounded heap, not a global sort. */
  def q96Apriori3(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val ob = li
      .select(col("l_orderkey"),
        floor(sqrt(pmod(col("l_partkey"), lit(196)).cast("double")))
          .cast("long").as("item"))
      .distinct()
    val nBaskets = ob.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val cnt = ob.groupBy(col("item"))
      .agg(count(lit(1)).as("n_item"))
    val po = ob.as("a")
      .join(ob.as("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.item") < col("b.item"))
      .select(col("a.l_orderkey").as("okey"),
        col("a.item").as("ba"), col("b.item").as("bb"))
    val fp = po.groupBy(col("ba"), col("bb"))
      .agg(count(lit(1)).as("n_pair"))
      .crossJoin(broadcast(nBaskets))
      .filter(expr(s"(n_pair * 1000000) div n_baskets") >=
        PairMinSupPpm)
      .select(col("ba"), col("bb"), col("n_pair"))
    // the L2 gate: |brands|²-bounded, so a broadcast semi-join prunes
    // the corpus-scaling pair stream with zero extra shuffles
    val gatedPo = po.join(broadcast(fp.select(col("ba"), col("bb"))),
      Seq("ba", "bb"), "leftsemi")
    val trip = gatedPo
      .join(ob.as("c").hint("shuffle_hash"),
        col("okey") === col("c.l_orderkey") &&
          col("c.item") > col("bb"))
      .groupBy(col("ba"), col("bb"), col("c.item").as("bc"))
      .agg(count(lit(1)).as("n_abc"))
      .crossJoin(broadcast(nBaskets))
      .filter(expr(s"(n_abc * 1000000) div n_baskets") >=
        TripleMinSupPpm)
      .select(col("ba"), col("bb"), col("bc"), col("n_abc"))
    val rules = trip.select(col("n_abc"), explode(array(
        struct(col("ba").as("ant1"), col("bb").as("ant2"),
          col("bc").as("consequent")),
        struct(col("ba").as("ant1"), col("bc").as("ant2"),
          col("bb").as("consequent")),
        struct(col("bb").as("ant1"), col("bc").as("ant2"),
          col("ba").as("consequent")))).as("r"))
      .select(col("r.ant1"), col("r.ant2"), col("r.consequent"),
        col("n_abc"))
    rules
      .join(fp.select(col("ba").as("ant1"), col("bb").as("ant2"),
        col("n_pair")).hint("shuffle_hash"), Seq("ant1", "ant2"))
      .join(cnt.select(col("item").as("consequent"),
        col("n_item").as("n_c")).hint("shuffle_hash"),
        Seq("consequent"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ant1"), col("ant2"), col("consequent"),
        col("n_abc"), col("n_pair"), col("n_c"),
        expr("(n_abc * 1000000) div n_baskets").as("support_ppm"),
        expr("(n_abc * 1000000) div n_pair").as("confidence_ppm"),
        expr("(((n_abc * 1000000) div n_pair) * n_baskets) div n_c")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("confidence_ppm").desc,
        col("ant1"), col("ant2"), col("consequent"))
      .limit(Apriori3TopK)
  }

  lazy val q96Sql: String =
    s"""WITH ob AS (
       |  SELECT DISTINCT l_orderkey,
       |    CAST(FLOOR(SQRT(l_partkey % 196)) AS BIGINT) AS item
       |  FROM lineitem),
       |nb AS (
       |  SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM ob),
       |cnt AS (
       |  SELECT item, COUNT(*) AS n_item FROM ob GROUP BY 1),
       |po AS (
       |  SELECT a.l_orderkey AS okey, a.item AS ba, b.item AS bb
       |  FROM ob a JOIN ob b
       |    ON a.l_orderkey = b.l_orderkey AND a.item < b.item),
       |fp AS (
       |  SELECT ba, bb, COUNT(*) AS n_pair
       |  FROM po, nb GROUP BY 1, 2, n_baskets
       |  HAVING (COUNT(*) * 1000000) // n_baskets
       |    >= $PairMinSupPpm),
       |trip AS (
       |  SELECT p.ba, p.bb, c.item AS bc, COUNT(*) AS n_abc
       |  FROM po p
       |  JOIN fp f ON f.ba = p.ba AND f.bb = p.bb
       |  JOIN ob c ON c.l_orderkey = p.okey AND c.item > p.bb,
       |  nb
       |  GROUP BY 1, 2, 3, n_baskets
       |  HAVING (COUNT(*) * 1000000) // n_baskets
       |    >= $TripleMinSupPpm),
       |rules AS (
       |  SELECT ba AS ant1, bb AS ant2, bc AS consequent, n_abc
       |    FROM trip
       |  UNION ALL SELECT ba, bc, bb, n_abc FROM trip
       |  UNION ALL SELECT bb, bc, ba, n_abc FROM trip)
       |SELECT ant1, ant2, consequent, n_abc, f.n_pair,
       |  c.n_item AS n_c,
       |  (n_abc * 1000000) // n_baskets AS support_ppm,
       |  (n_abc * 1000000) // f.n_pair AS confidence_ppm,
       |  (((n_abc * 1000000) // f.n_pair) * n_baskets) // c.n_item
       |    AS lift_ppm
       |FROM rules
       |JOIN fp f ON f.ba = ant1 AND f.bb = ant2
       |JOIN cnt c ON c.item = consequent
       |CROSS JOIN nb
       |ORDER BY lift_ppm DESC, confidence_ppm DESC, ant1, ant2,
       |  consequent
       |LIMIT $Apriori3TopK""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q89_interpolate", q89Interpolate, q89Sql),
    Op("q90_seq_match", q90SeqMatch, q90Sql),
    Op("q91_attribution", q91Attribution, q91Sql),
    Op("q92_ab_test", q92AbTest, q92Sql),
    Op("q93_file_binpack", q93FileBinpack, q93Sql),
    Op("q94_rfm", q94Rfm, q94Sql),
    Op("q95_assoc_rules", q95AssocRules, q95Sql),
    Op("q96_apriori3", q96Apriori3, q96Sql))
}
