package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral event analytics over the `events` stream snapshot: the
  * funnel / cohort-retention / rolling-active-user shapes every product
  * pipeline derives from the same click/purchase event feed the
  * reference ingests (producer.py:56-63 event envelope; SURVEY.md §2.4
  * aggregation family). All outputs are exact integers or timestamps —
  * no float summation order anywhere — so results are bit-stable across
  * engines and partitionings.
  */
object EventAnalytics {

  private def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")

  /** Ordered conversion funnel signup → click → purchase with
    * sequential-min semantics: stage n's time is the user's earliest
    * qualifying event at-or-after their stage n-1 time. Output is per
    * signup-day: how many users signed up, how many clicked after
    * signing up, how many purchased after that click, and the exact
    * total microsecond lag into each stage — the conversion report a
    * growth pipeline derives from the same raw feed.
    *
    * Scale shape: three aggregate+join rounds, every exchange hashed on
    * `user_id` — the same co-partitioning reused throughout, no
    * broadcast of anything that grows with the corpus, and only
    * per-user scalars (one timestamp per stage) cross an exchange; the
    * final aggregate is calendar-bounded. The alternative single-window
    * formulation (sort each user's full history, scan for the
    * subsequence) pays a per-user SORT of every event; this form only
    * ever min-reduces. Lags stay integer microseconds — exact under any
    * summation order.
    */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id").where(col("ts") >= col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2.select("user_id", "t2"), "user_id").where(col("ts") >= col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .groupBy(date_trunc("day", col("t1")).as("signup_day"))
      .agg(
        count(lit(1)).as("n_signup"),
        count(col("t2")).as("n_click_after"),
        count(col("t3")).as("n_purchase_after"),
        coalesce(sum(unix_micros(col("t2")) - unix_micros(col("t1"))), lit(0L))
          .as("sum_click_lag_us"),
        coalesce(sum(unix_micros(col("t3")) - unix_micros(col("t2"))), lit(0L))
          .as("sum_purchase_lag_us"))
  }

  /** Cohort retention: users grouped by the day of their first event;
    * for each cohort day × day-offset (0-13), the count of distinct
    * cohort members active that day — the standard retention triangle.
    *
    * Scale shape: first-touch aggregate and the activity join both
    * hash on `user_id` (co-partitioned); the (cohort, offset, user)
    * dedup is the one corpus-sized exchange and it carries three small
    * scalars per row; the final aggregate is cohort-days × offsets
    * sized. Nothing is sorted, nothing funnels through one reducer.
    */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val cohort = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), date_trunc("day", col("first_ts")).as("cohort_day"))
    ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .join(cohort, "user_id")
      .select(col("cohort_day"),
        datediff(col("day").cast("date"), col("cohort_day").cast("date"))
          .cast("long").as("day_offset"),
        col("user_id"))
      .where(col("day_offset") <= 13)
      .distinct()
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Daily active users with a 7-day rolling distinct-user window
    * (DAU / WAU-style): for each active day, the distinct users seen
    * that day and over the trailing 7 days.
    *
    * Scale shape: the day grid is bounded by the calendar (≤ a few
    * thousand rows for years of data) so it BROADCASTS; the corpus-side
    * (day, user) activity set is deduplicated once — one hashed
    * exchange — then streams through the nested-loop range probe
    * without ever shuffling again; fan-out is ≤ 7× by construction.
    * The distinct counts expand map-side (Spark's two-phase
    * count-distinct), never collecting user sets to the driver.
    */
  def rollingDau(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("aday"), col("user_id"))
      .distinct()
    val days = act.select(col("aday").as("day")).distinct()
    act.join(broadcast(days),
        col("aday") <= col("day") &&
          col("aday") > col("day") - expr("INTERVAL 7 DAYS"))
      .groupBy("day")
      .agg(
        countDistinct(col("user_id")).as("dau_7d"),
        countDistinct(when(col("aday") === col("day"), col("user_id"))).as("dau"))
  }

  /** Attribution window for [[attribution]]: 30 minutes. */
  private val AttributionWindowUs = 30L * 60 * 1000 * 1000

  /** Last-touch attribution — the batch twin of
    * [[graft.streaming.StreamJoin.attribution]]: every purchase joined
    * to the same user's most recent click at-or-before the purchase,
    * provided it falls within the 30-minute attribution window;
    * purchases with no qualifying click emit once with null click
    * columns (the organic rows a funnel report needs, the outer-join
    * contract of [[graft.streaming.StreamJoin.attributionOuter]]).
    *
    * Scale shape — the [[Advanced.joinAsOf]] discipline, not an
    * interval join: each user's click history compresses into ONE
    * sorted timeline array (two aggregates on the click side, hashed
    * on `user_id`), and every purchase probes it with the codegen'd
    * O(log n) [[graft.functions.expressions.AsofLast]] binary search
    * inside the same `user_id` equi-join. A range-condition join
    * (`click_ts BETWEEN p_ts - 30m AND p_ts`) explodes to every
    * (purchase × in-window click) pair before deduplicating to the
    * latest — fan-out × corpus rows through the exchange; this form
    * ships each click exactly once and each purchase row carries one
    * O(log n) probe. The window filter applies AFTER the as-of pick:
    * the latest click ≤ t is outside the window iff every click ≤ t
    * is, so no qualifying click is ever missed.
    *
    * Tie rule (two clicks at the same microsecond): highest event_id
    * wins — `sort_array` orders struct (ts, event_id) lexicographically
    * and AsofLast takes the LAST qualifying element; the oracle mirrors
    * it with `ORDER BY c_ts DESC, c_id DESC`.
    */
  def attribution(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.expressions.GraftFunctions.asofLast
    val ev = Tables.events(spark, sfDir)
    val clickTl = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts").as("c_ts"), col("event_id").as("c_id"))))
        .as("click_tl"))
    ev.filter(col("event_type") === "purchase")
      .join(clickTl, Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("ts"),
        asofLast(col("click_tl"), col("ts")).as("pick"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(
          unix_micros(col("ts")) - unix_micros(col("pick.c_ts")) <= AttributionWindowUs,
          col("pick.c_id")).as("click_event_id"),
        when(
          unix_micros(col("ts")) - unix_micros(col("pick.c_ts")) <= AttributionWindowUs,
          unix_micros(col("ts")) - unix_micros(col("pick.c_ts"))).as("lag_us"))
  }

  /** Fixed-width histogram of the event `value` measure (bin width 50):
    * the profiling shape behind data cards and drift monitors. Counts
    * and a cent-exact sum per bin — a pure one-exchange aggregate whose
    * output is bounded by the value range, not the corpus.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / 50).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / lit(100.0)).as("sum_value"))
  }

  /** Daily-volume anomaly detection per event type — the drift monitor
    * a pipeline runs over its own ingest: a day is anomalous when its
    * event count deviates from the type's mean daily count by more
    * than 2 population standard deviations.
    *
    * Exactness discipline (the [[Relational.statsAbTest]] rule): the
    * 2σ test is evaluated as a PURE INTEGER inequality on exact
    * sufficient statistics —
    * `(N·n − S)² > 4·(N·SS − S²)` with S = Σn, SS = Σn² in
    * decimal(38) — so there is no float mean, no float variance, no
    * sqrt, and the boolean is bit-stable across engines, partitionings
    * and cluster sizes.
    *
    * Scale shape: one corpus-grain aggregate to (type, day) counts —
    * the only exchange that sees the corpus, map-side partial —
    * then a |types|-row stats aggregate broadcast back onto the
    * calendar-bounded daily grid. Nothing sorts, nothing collects.
    */
  def anomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    // per-type sufficient statistics ride a whole-partition window over
    // the calendar-grain daily table — a stats aggregate joined back
    // would recompute the corpus-grain count a second time
    val wType = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("day"), col("n"),
        count(lit(1)).over(wType).cast(d19).as("nd"),
        sum(col("n")).over(wType).cast(d19).as("s"),
        sum(col("n").cast(d19) * col("n").cast(d19)).over(wType)
          .cast("decimal(38,0)").as("ss"))
    val dev = col("nd") * col("n").cast(d19) - col("s")
    val varN2 = col("nd") * col("ss") - col("s") * col("s") // N²·σ²  (×N² keeps it integer)
    daily
      .select(col("event_type"), col("day"), col("n"),
        (dev * dev > lit(4).cast(d19) * varN2).as("is_anomaly"))
  }

  /** CUSUM changepoint detection over daily event volume (Page,
    * Biometrika 1954) — the SEQUENTIAL drift detector next to the
    * pointwise [[anomaly]] outlier test: a one-sided CUSUM accumulates
    * small persistent deviations that never individually cross a 2σ
    * bar, which is exactly how ingest regressions (a feed silently
    * dropping 10%) present. Both directions run (upward and downward
    * shift), with the data-derived allowance k = scaled mean absolute
    * deviation and decision bar h = 4k.
    *
    * Exactness discipline: the recursion S_i = max(0, S_{i−1} + y_i)
    * rewrites as S_i = P_i − min(0, min_{j≤i} P_j) over prefix sums P
    * — two stacked windows, no recursion — and EVERY term is BIGINT:
    * deviations scale by n_days (y = n·nd − total − k), so there is no
    * float mean and the flags are bit-stable across engines.
    *
    * Scale shape: one corpus-grain aggregate to daily counts (the only
    * exchange that sees the corpus, map-side partial); the windows run
    * over the CALENDAR-grain table — bounded by days elapsed, not data
    * volume, the same single-frame argument as [[anomaly]]'s stats
    * window.
    */
  def changepoint(spark: SparkSession, sfDir: String): DataFrame =
    cusumOf(dailyCounts(Tables.events(spark, sfDir)))

  /** The daily-volume table (day, n) from a batch OR streaming events
    * frame — counts are a SUM-monoid keyed by day, so the streaming
    * twin ([[graft.streaming.SketchRefresh.startDailyVolume]]) folds
    * arriving events into bounded calendar-grain state and THIS shared
    * derivation keeps the two lifecycles bit-identical.
    */
  private[graft] def dailyCounts(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** The CUSUM tail of [[changepoint]] over any (day, n) daily table —
    * factored so the streaming monitor recomputes it over the
    * maintained table (calendar-sized work) exactly as the batch query
    * does.
    */
  private[graft] def cusumOf(dailyIn: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy()
    val wRun = W.orderBy("day")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val daily = dailyIn
      .select(col("day"), col("n"),
        count(lit(1)).over(wAll).as("nd"), sum(col("n")).over(wAll).as("total"))
      .withColumn("dev", col("n") * col("nd") - col("total"))
      .withColumn("sad", sum(abs(col("dev"))).over(wAll))
      .withColumn("k", expr("sad div nd"))
    val scored = daily
      .select(col("day"), col("n").as("n_events"), col("k"),
        sum(col("dev") - col("k")).over(wRun).as("pu"),
        sum(-col("dev") - col("k")).over(wRun).as("pd"))
      .select(col("day"), col("n_events"), col("k"),
        (col("pu") - least(lit(0L), min(col("pu")).over(wRun))).as("cusum_up"),
        (col("pd") - least(lit(0L), min(col("pd")).over(wRun))).as("cusum_down"))
    scored.select(col("day"), col("n_events"), col("cusum_up"), col("cusum_down"),
      (col("cusum_up") > col("k") * 4 || col("cusum_down") > col("k") * 4)
        .as("is_shift"))
  }

  /** Per-user bot-likelihood profile — the behavioral complement of
    * the corpus-side quality filters: crawlers and replay scripts show
    * (a) machine-regular inter-arrival times (squared coefficient of
    * variation CV² = Var(g)/E(g)² far below a human's bursty ≈1) and
    * (b) degenerate type loops (high self-transition share). Both
    * metrics emit as raw integer ppm next to a policy flag, the
    * [[graft.functions.TextAnalysis.quality]] emit-don't-decide rule.
    *
    * Exactness discipline (the [[Relational.statsAbTest]] sufficient-
    * statistics rule): CV² in ppm is the pure integer expression
    * `(k·Σg² − (Σg)²)·10⁶ div (Σg)²` over decimal(38,0) gap sums —
    * microsecond gaps square to ~10²⁶, far past BIGINT but exact in
    * decimal38/HUGEINT on both engines — so no float variance ever
    * exists. Self-loop share is a pure count ratio.
    *
    * Scale shape: ONE exchange hashed on user_id serves the lag
    * window (the [[markov]] discipline), then everything is a per-user
    * aggregate — map-side partial, user-grain output. Single-event
    * users carry no gap and drop (documented: no inter-arrival
    * evidence either way).
    */
  def botScore(spark: SparkSession, sfDir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
    val d38 = "decimal(38,0)"
    val seq = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"),
        (col("us") - lag(col("us"), 1).over(w)).as("g"))
      .filter(col("prev_type").isNotNull)
    seq.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(when(col("event_type") === col("prev_type"), 1L).otherwise(0L))
          .as("n_selfloops"),
        sum(col("g").cast(d38)).as("m1"),
        sum(col("g").cast(d38) * col("g").cast(d38)).as("m2"))
      .filter(col("m1") > 0)
      .select(col("user_id"), col("n_gaps"),
        expr("CAST(n_selfloops * 1000000 div n_gaps AS BIGINT)")
          .as("selfloop_ppm"),
        expr("""CAST((CAST(n_gaps AS decimal(38,0)) * m2 - m1 * m1) * 1000000
               |  div (m1 * m1) AS BIGINT)""".stripMargin).as("cv2_ppm"))
      .select(col("user_id"), col("n_gaps"), col("selfloop_ppm"), col("cv2_ppm"),
        (col("n_gaps") >= 10 &&
          (col("cv2_ppm") < 250000 || col("selfloop_ppm") > 500000))
          .as("is_bot_suspect"))
  }

  /** HLL distinct-user cube — approximate `count(DISTINCT user_id)` at
    * every granularity of (event_type, day) from ONE register table:
    * the finest (type, day) registers are built in a single corpus
    * pass, and each rollup — per type, per day, grand total — is a
    * per-register max over the finer relation (the max-monoid
    * mergeability law as an OLAP rollup). This is how approximate
    * distinct counts actually deploy at 100 TB: the warehouse stores
    * cell-grain sketches once, and every report granularity derives
    * from them without touching the corpus again — where an exact
    * `GROUP BY CUBE ... count(DISTINCT ...)` expands the corpus once
    * per grouping set.
    *
    * Shares [[graft.functions.TextAnalysis.hllEstimate]] (the
    * register→estimate float discipline) and the md5 hash/rank
    * derivation, so the sketch is cross-engine bit-exact. The
    * `exact_distinct` column is the EVAL HARNESS — it pays the exact
    * distinct the sketch avoids. Granularity is marked by cube NULLs
    * on BOTH sides and the est↔exact join is NULL-SAFE (`<=>`) on the
    * marked keys — an `===` join would silently drop every rollup row;
    * the '__all__' sentinel is applied only in the final projection.
    */
  /** The finest-grain (event_type, day, j, m) user registers from a
    * batch OR streaming events frame — the shared derivation that
    * keeps [[hllCube]] and the streaming cell-register refresh
    * ([[graft.streaming.SketchRefresh.startUserCube]]) bit-identical.
    */
  private[graft] def userCellRegisters(events: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = shiftright(h, 8)
    events
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        pmod(h, lit(256)).as("j"),
        when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).as("rho"))
      .groupBy("event_type", "day", "j").agg(max("rho").as("m"))
  }

  private val userTripleCache = new graft.SessionCache[DataFrame]

  /** The distinct (event_type, day, user_id) frame — five subtrees of
    * [[hllCube]] consume it (registers + four exact granularities),
    * and Spark plans common subexpressions independently, so without
    * memoization the corpus-grain distinct would run once per subtree.
    * Sub-corpus-sized but grows with users × cells ⇒ DISK_ONLY under
    * the storage-level rule.
    */
  private[graft] def userTriples(spark: SparkSession, sfDir: String): DataFrame =
    userTripleCache.getOrElseUpdate(spark, sfDir) {
      Tables.events(spark, sfDir)
        .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
          col("user_id"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    }

  def hllCube(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextAnalysis.hllEstimate
    val triples = userTriples(spark, sfDir)
    // registers derive from the SAME distinct frame the exact branch
    // pays for (max over a set equals max over the multiset — bit-
    // identical to the scan-direct streaming derivation, pinned by the
    // oracle and the SketchRefreshSpec rollup check)
    val h = conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val w = shiftright(h, 8)
    // all four granularities' registers in ONE grouping-sets pass
    // (the exact side's cube() rationale applied to the estimate
    // side): max(rho) is the register fold at every granularity
    // directly — max over a set ≡ max over its sub-maxes — so the
    // Expand+partial-max replaces four separate aggregates that each
    // re-derived the (type, day, j) registers from the triples cache.
    // NULL keys mark granularity exactly as the exact side's cube
    // (neither key column is nullable in the data).
    val regsAll = triples
      .select(col("event_type"), col("day"), pmod(h, lit(256)).as("j"),
        when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).as("rho"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("day"), col("j")),
          Seq(col("event_type"), col("j")),
          Seq(col("day"), col("j")),
          Seq(col("j"))),
        col("event_type"), col("day"), col("j"))
      .agg(max("rho").as("m"))
    // the four exact granularities fold into ONE grouping-sets pass:
    // cube(event_type, day) over the distinct-triple frame with a
    // count-distinct agg is exactly {(t,d),(t),(d),()} — one expand +
    // two exchanges where four separate distinct/agg chains paid four,
    // and identical values (at cell grain count distinct over the
    // distinct triples ≡ count(*)). Neither key column is nullable in
    // the data, so cube NULLs mark granularity unambiguously.
    val ex = triples.cube("event_type", "day")
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    // ONE estimator fold serves every granularity: the combined
    // register frame's NULL-marked keys group each granularity
    // separately (a (type, NULL) group can never collide with a
    // (type, day) group), so the four hllEstimate calls + three
    // unions collapse into one ≤ (|cells|+|types|+|days|+1)×256-row
    // aggregate. est is tiny, so the exact-side join broadcasts.
    val est = hllEstimate(regsAll, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("est_hll"))
      .withColumnRenamed("event_type", "et_k").withColumnRenamed("day", "day_k")
    ex.join(est,
        col("event_type") <=> col("et_k") && col("day") <=> col("day_k"))
      .select(coalesce(col("event_type"), lit("__all__")).as("event_type"),
        col("day"), col("est_hll"), col("exact_distinct"))
  }

  /** Event-type transition counts — the user-journey Markov matrix:
    * for each consecutive pair of events in a user's timeline
    * (ordered by ts, event_id), one (from_type, to_type) transition.
    * Pretraining-adjacent pipelines use the same shape for session
    * modeling and bot detection (a user whose transition row is
    * `error → error` at 99% is a crawler).
    *
    * Scale shape: ONE exchange hashed on `user_id` and one
    * per-partition sort serve the `lead` window (the [[Advanced.sessionize]]
    * discipline — co-grouped, never global), then pure integer counts
    * over a |types|² grid. Deterministic: the (ts, event_id) sort key
    * is a total order.
    */
  def markov(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** RFM (recency / frequency / monetary) segmentation — the
    * behavioral-cohort shape every growth pipeline derives from the
    * raw feed: per user, days since last activity, event count, and
    * cent-exact spend, each flagged against a corpus-derived split.
    *
    * The split is MEAN-BASED and integer-exact (`f·n_users > Σf` in
    * decimal(38); recency against a 7-day horizon from the corpus's
    * own max day) rather than quantile-based: quintile ntiles would
    * force a single-partition global sort of the user grain — the one
    * plan shape this library bans — while the mean split needs only
    * the per-user aggregate (one corpus exchange on `user_id`) plus a
    * 1-row broadcast of corpus scalars. A quantile segmentation at
    * scale would go through the binned histogram-cumsum machinery
    * (`stats_quantile_binned`) instead.
    */
  def rfm(spark: SparkSession, sfDir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val ev = Tables.events(spark, sfDir)
    val per = ev.groupBy("user_id").agg(
      max(col("ts")).as("last_ts"),
      count(lit(1)).as("f"),
      sum(cents(col("value"))).as("m_cents"))
    val scalars = ev.agg(
      count(lit(1)).as("total_events"),
      sum(cents(col("value"))).as("total_cents"),
      countDistinct(col("user_id")).as("n_users"),
      max(date_trunc("day", col("ts"))).as("max_day"))
    per.crossJoin(broadcast(scalars))
      .select(col("user_id"),
        datediff(col("max_day").cast("date"),
          date_trunc("day", col("last_ts")).cast("date")).cast("long").as("r_days"),
        col("f"), col("m_cents"),
        (datediff(col("max_day").cast("date"),
          date_trunc("day", col("last_ts")).cast("date")) <= 7).as("r_recent"),
        (col("f").cast(d19) * col("n_users").cast(d19) >
          col("total_events").cast(d19)).as("f_high"),
        (col("m_cents").cast(d19) * col("n_users").cast(d19) >
          col("total_cents").cast(d19)).as("m_high"))
  }

  /** Inter-arrival gap statistics per event type — the ingest-cadence
    * health metric behind watermark/lateness tuning: for each type,
    * the gaps between a user's consecutive events of that type,
    * reported as exact integer microsecond sums (no float mean — the
    * consumer divides; the [[funnel]] lag-sum discipline).
    *
    * Scale shape: one exchange hashed on (user_id) serves the lag
    * window (sorted within partitions by type+time), then a
    * |types|-sized aggregate. All integers, bit-stable anywhere.
    */
  def interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        (unix_micros(col("ts"))
          - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("sum_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
  }

  /** Cohort lifetime-value triangle — [[retention]] with money: per
    * (cohort day, day offset 0–13), the distinct active members AND
    * their cent-exact value that day. The LTV curve every growth model
    * fits is the cumulative read of this table. Same scale shape as
    * retention (user-hashed first-touch aggregate, one corpus-grain
    * dedup-free exchange, calendar-bounded output); values stay exact
    * integer cents.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val cohort = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      .select(col("user_id"), date_trunc("day", col("first_ts")).as("cohort_day"))
    ev.select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        cents(col("value")).as("c"))
      .join(cohort, "user_id")
      .select(col("cohort_day"),
        datediff(col("day").cast("date"), col("cohort_day").cast("date"))
          .cast("long").as("day_offset"),
        col("user_id"), col("c"))
      .where(col("day_offset") <= 13)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(col("c")).as("value_cents"))
  }

  /** Lag-1 autocorrelation of the daily event volume per type — the
    * seasonality/trend screen run before alert thresholds or forecast
    * models are fit on a feed. Consecutive-day pairs only (a calendar
    * gap breaks the pair rather than silently correlating across it).
    *
    * Exactness: Pearson over the pairs is assembled from pure integer
    * sums (Σx, Σy, Σxy, Σx², Σy² in decimal(38) — daily counts can
    * reach 1e12 at 100 TB, so their products overflow longs) and only
    * the final normalized ratio is a double, rounded once. Identical
    * under any partitioning and engine.
    *
    * Scale shape: the corpus collapses to per-(type, day) counts first
    * (one map-side-combined exchange); the lag window and the Pearson
    * fold then run over |types|·|days| rows — thousands, not the
    * corpus.
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("day").asc)
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val pairs = daily
      .select(col("event_type"), col("day"), col("n"),
        lag(col("day"), 1).over(w).as("prev_day"),
        lag(col("n"), 1).over(w).as("x"))
      .filter(col("x").isNotNull &&
        datediff(col("day").cast("date"), col("prev_day").cast("date")) === 1)
      .select(col("event_type"), col("x").cast(d38).as("x"),
        col("n").cast(d38).as("y"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).cast(d38).as("np"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("np").cast("long").as("n_pairs"),
        round((col("np") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((col("np") * col("sxx") - col("sx") * col("sx")).cast("double")
            * (col("np") * col("syy") - col("sy") * col("sy")).cast("double")),
          6).as("autocorr"))
  }

  /** Top-K 3-step behavior paths — the sequence-mining read of the
    * feed ([[markov]] extended one step): the most common ordered
    * event-type trigrams across user timelines, the raw material for
    * journey analysis and next-action models.
    *
    * Scale shape: one exchange hashed on `user_id` serves both lead
    * windows (same partitioning, one sort), the path space is ≤
    * |types|³ after the map-side-combined count, and the final cut is
    * TakeOrderedAndProject (per-partition heap, K-row driver merge) —
    * never a global sort. Deterministic tiebreak on the path string.
    */
  def pathTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("e0"),
        lead(col("event_type"), 1).over(w).as("e1"),
        lead(col("event_type"), 2).over(w).as("e2"))
      .filter(col("e1").isNotNull && col("e2").isNotNull)
      .select(concat_ws(">", col("e0"), col("e1"), col("e2")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path").asc)
      .limit(20)
  }

  /** Seasonal-naive forecast backtest — the baseline every volume
    * forecast must beat before it ships: predict each day's per-type
    * count with the count 7 days earlier (same weekday), score MAE
    * over the days where a prediction exists. The error sum is a pure
    * integer (Σ|n − n₋₇|); only the final MAE ratio is a double,
    * rounded once.
    *
    * Scale shape: corpus → per-(type, day) counts (one map-side-
    * combined exchange), then a SELF-join on the exact (type, day−7)
    * key over the tiny daily frame — an equi-join on thousands of
    * rows; calendar gaps simply produce no pair (no window-lag
    * off-by-gaps).
    */
  def forecastBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val pred = daily.select(col("event_type").as("p_type"),
      date_add(col("day").cast("date"), 7).as("p_day"), col("n").as("n_pred"))
    daily
      .join(pred, col("event_type") === col("p_type") &&
        col("day").cast("date") === col("p_day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("n") - col("n_pred"))).as("sum_abs_err"))
      .select(col("event_type"), col("n_scored"), col("sum_abs_err"),
        round(col("sum_abs_err").cast("double") / col("n_scored"), 6).as("mae"))
  }

  /** Event-mix drift between the corpus's first and second half (by
    * its own day span) — the composition-shift monitor behind
    * retraining triggers: per type, exact counts and integer per-mille
    * shares in each half, and their signed drift. NO floats anywhere —
    * shares are `n·1000 div total`, so the whole table is bit-exact
    * under any partitioning (the KL/χ² reads live in [[graft.operators
    * .Relational.ksTest]]-family ops; this is the report card).
    *
    * Scale shape: the corpus collapses to per-(type, half) counts in
    * one map-side-combined exchange against a broadcast 1-row scalar
    * frame (min/max day); totals ride a second 1-row broadcast.
    */
  def mixDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val scalars = ev.agg(
      min(col("ts").cast("date")).as("min_day"),
      max(col("ts").cast("date")).as("max_day"))
    val counts = ev.crossJoin(broadcast(scalars))
      .select(col("event_type"),
        (datediff(col("ts").cast("date"), col("min_day")) * 2 <
          datediff(col("max_day"), col("min_day")) + 1).as("first_half"))
      .groupBy("event_type")
      .agg(sum(when(col("first_half"), 1L).otherwise(0L)).as("n_first"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("n_second"))
    val totals = counts.agg(sum(col("n_first")).as("tot_first"),
      sum(col("n_second")).as("tot_second"))
    counts.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n_first"), col("n_second"),
        expr("CAST(n_first * 1000 div tot_first AS BIGINT)").as("share_first_pm"),
        expr("CAST(n_second * 1000 div tot_second AS BIGINT)").as("share_second_pm"))
      .select(col("event_type"), col("n_first"), col("n_second"),
        col("share_first_pm"), col("share_second_pm"),
        (col("share_first_pm") - col("share_second_pm")).as("drift_pm"))
  }

  /** User growth curve: per day, first-touch (new) users and the
    * cumulative registered base — the acquisition read next to
    * [[rollingDau]]'s activity read. Exact without any distinct-over-
    * window machinery: each user collapses to one first-touch day
    * (user-hashed aggregate, the [[retention]] cohort shape), the
    * per-day count is calendar-bounded, and the cumsum window runs
    * over |days| rows.
    */
  def userGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(min(date_trunc("day", col("ts"))).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("new_users"))
      .select(col("day"), col("new_users"),
        sum(col("new_users")).over(w).as("cum_users"))
  }

  /** Band width for [[timeBandJoin]], in microseconds: the ±300 s
    * context window IS the band, which is what makes one band of
    * probe fanout (bucket-1, bucket, bucket+1) exactly sufficient —
    * |t_c − t_p| ≤ B ⇒ |⌊t_c/B⌋ − ⌊t_p/B⌋| ≤ 1.
    */
  private[graft] val BandUs = 300L * 1000000L

  /** Keyless time-range join, banded — "corpus-wide activity context
    * at purchase time": for every purchase, how many clicks (by
    * ANYONE — there is deliberately no user equi-key) landed within
    * ±300 s, and by how many distinct users. The theta-join shape
    * (ON abs(t_c − t_p) ≤ B) that a naive planner executes as a
    * cartesian/nested-loop product — the one join family where
    * declaring the predicate and hoping is NOT enough at scale.
    *
    * Scale shape: both sides bucket by ⌊t/B⌋ and the probe side
    * explodes to its 3 adjacent buckets, turning the theta join into
    * a plain shuffled EQUI-join on `bucket` (pinned by PlanShapeSpec:
    * no CartesianProduct, no BroadcastNestedLoopJoin) with the exact
    * |δ| ≤ B filter inside the join condition so LEFT semantics
    * survive. Each click lives in exactly ONE bucket, so no
    * dedup pass is needed after the band match. Cost is 3× probe
    * fanout instead of |purchases|×|clicks|; time-skewed hot buckets
    * are ordinary join skew, handled by AQE's skew split like every
    * other hot key.
    */
  def timeBandJoin(spark: SparkSession, sfDir: String): DataFrame =
    timeBandJoinOn(Tables.events(spark, sfDir))

  /** [[timeBandJoin]] over any events-shaped frame — split out so the
    * exact-boundary banding fixture (clicks at precisely ±B, one
    * microsecond inside, one outside, straddling bucket edges) can
    * drive the REAL operator rather than a reimplementation.
    */
  private[graft] def timeBandJoinOn(ev: DataFrame): DataFrame = {
    val bucket = expr(s"unix_micros(ts) div $BandUs")
    val clicks = ev.filter(col("event_type") === "click")
      .select(bucket.as("c_bucket"), col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("p_us"),
        explode(sequence(bucket - 1, bucket + 1)).as("p_bucket"))
    purchases.join(clicks,
        col("p_bucket") === col("c_bucket") &&
          abs(col("c_us") - col("p_us")) <= BandUs, "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(count(col("c_us")).as("n_ctx_clicks"),
        countDistinct(col("c_user")).as("n_ctx_users"))
  }

  /** Register→estimate SQL for one granularity of [[hllCube]] —
    * delegates to the shared fold + estimator fragments so the float
    * discipline stays single-sourced across every HLL oracle.
    */
  private def hllCubeEstSql(src: String, keys: Seq[String]): String =
    graft.functions.SqlFragments.hllEstSql(
      graft.functions.SqlFragments.hllRegisterFoldSql(src, keys), keys)

  private lazy val HllCubeSql: String =
    s"""WITH hh AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                 user_id,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM events),
        r0 AS (
          SELECT event_type, day, h % 256 AS j,
                 max(CASE WHEN h // 256 = 0 THEN 53
                          ELSE 53 - length(bin(h // 256)) END) AS m
          FROM hh GROUP BY 1, 2, 3),
        rt AS (SELECT event_type, j, max(m) AS m FROM r0 GROUP BY 1, 2),
        rd AS (SELECT day, j, max(m) AS m FROM r0 GROUP BY 1, 2),
        ra AS (SELECT j, max(m) AS m FROM r0 GROUP BY 1),
        tr AS (SELECT DISTINCT event_type, day, user_id FROM hh),
        exc AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS exact_distinct
                FROM tr GROUP BY 1, 2),
        ext_ AS (SELECT event_type,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                 FROM tr GROUP BY 1),
        exd AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                FROM tr GROUP BY 1),
        exa AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                FROM tr)
        SELECT c.event_type, c.day, e.est_hll, c.exact_distinct
        FROM exc c JOIN ${hllCubeEstSql("r0", Seq("event_type", "day"))} e
          USING (event_type, day)
        UNION ALL
        SELECT t.event_type, CAST(NULL AS TIMESTAMP), e.est_hll, t.exact_distinct
        FROM ext_ t JOIN ${hllCubeEstSql("rt", Seq("event_type"))} e
          USING (event_type)
        UNION ALL
        SELECT '__all__', d.day, e.est_hll, d.exact_distinct
        FROM exd d JOIN ${hllCubeEstSql("rd", Seq("day"))} e USING (day)
        UNION ALL
        SELECT '__all__', CAST(NULL AS TIMESTAMP), e.est_hll, a.exact_distinct
        FROM exa a, ${hllCubeEstSql("ra", Seq.empty)} e"""

  val oracleSql: Map[String, String] = Map(
    "join_time_banded" ->
      """WITH p AS (SELECT event_id, user_id, ts, epoch_us(ts) AS p_us
                    FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id AS c_user, epoch_us(ts) AS c_us
                 FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, p.ts,
                CAST(count(c.c_us) AS BIGINT) AS n_ctx_clicks,
                CAST(count(DISTINCT c.c_user) AS BIGINT) AS n_ctx_users
         FROM p LEFT JOIN c ON abs(c.c_us - p.p_us) <= 300000000
         GROUP BY p.event_id, p.user_id, p.ts""",
    "events_user_growth" ->
      """WITH first_touch AS (
           SELECT user_id,
                  CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS day
           FROM events GROUP BY 1),
         daily AS (
           SELECT day, count(*) AS new_users FROM first_touch GROUP BY 1)
         SELECT day, new_users,
                CAST(sum(new_users) OVER (ORDER BY day ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
         FROM daily""",
    "events_mix_drift" ->
      """WITH scalars AS (
           SELECT min(CAST(ts AS DATE)) AS min_day,
                  max(CAST(ts AS DATE)) AS max_day
           FROM events),
         counts AS (
           SELECT event_type,
                  sum(CASE WHEN date_diff('day', s.min_day, CAST(ts AS DATE)) * 2
                             < date_diff('day', s.min_day, s.max_day) + 1
                           THEN 1 ELSE 0 END) AS n_first,
                  sum(CASE WHEN date_diff('day', s.min_day, CAST(ts AS DATE)) * 2
                             < date_diff('day', s.min_day, s.max_day) + 1
                           THEN 0 ELSE 1 END) AS n_second
           FROM events, scalars s GROUP BY 1),
         tot AS (SELECT sum(n_first) AS tot_first, sum(n_second) AS tot_second
                 FROM counts)
         SELECT event_type,
                CAST(n_first AS BIGINT) AS n_first,
                CAST(n_second AS BIGINT) AS n_second,
                CAST(n_first * 1000 // tot_first AS BIGINT) AS share_first_pm,
                CAST(n_second * 1000 // tot_second AS BIGINT) AS share_second_pm,
                CAST(n_first * 1000 // tot_first
                   - n_second * 1000 // tot_second AS BIGINT) AS drift_pm
         FROM counts, tot""",
    "events_forecast_baseline" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         joined AS (
           SELECT d.event_type, d.n, p.n AS n_pred
           FROM daily d
           JOIN daily p ON d.event_type = p.event_type
             AND CAST(d.day AS DATE) = CAST(p.day AS DATE) + INTERVAL 7 DAY)
         SELECT event_type, count(*) AS n_scored,
                CAST(sum(abs(n - n_pred)) AS BIGINT) AS sum_abs_err,
                round(CAST(sum(abs(n - n_pred)) AS DOUBLE) / count(*), 6) AS mae
         FROM joined GROUP BY 1""",
    "events_autocorr" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
           FROM events GROUP BY 1, 2),
         lagged AS (
           SELECT event_type, day, n,
                  lag(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
                  lag(n) OVER (PARTITION BY event_type ORDER BY day) AS x
           FROM daily),
         pairs AS (
           SELECT event_type, CAST(x AS HUGEINT) AS x, CAST(n AS HUGEINT) AS y
           FROM lagged
           WHERE x IS NOT NULL
             AND date_diff('day', CAST(prev_day AS DATE), CAST(day AS DATE)) = 1),
         s AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS np,
                  sum(x) AS sx, sum(y) AS sy,
                  sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
           FROM pairs GROUP BY 1)
         SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
                round(CAST(np * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                             * CAST(np * syy - sy * sy AS DOUBLE)), 6) AS autocorr
         FROM s""",
    "events_path_topk" ->
      """WITH seq AS (
           SELECT user_id, event_type AS e0,
                  lead(event_type, 1) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
                  lead(event_type, 2) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) AS e2
           FROM events)
         SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n_paths
         FROM seq WHERE e1 IS NOT NULL AND e2 IS NOT NULL
         GROUP BY 1
         ORDER BY n_paths DESC, path ASC
         LIMIT 20""",
    "events_cohort_ltv" ->
      """WITH c AS (SELECT user_id,
                           CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
                    FROM events GROUP BY user_id),
         a AS (SELECT c.cohort_day,
                      CAST(datediff('day', CAST(c.cohort_day AS DATE),
                                    CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
                        AS day_offset,
                      e.user_id,
                      CAST(round(e.value * 100) AS BIGINT) AS c_cents
               FROM events e JOIN c USING (user_id))
         SELECT cohort_day, day_offset,
                count(DISTINCT user_id) AS n_active,
                CAST(sum(c_cents) AS BIGINT) AS value_cents
         FROM a WHERE day_offset <= 13
         GROUP BY cohort_day, day_offset""",
    "events_interarrival" ->
      """WITH g AS (
           SELECT event_type,
                  epoch_us(ts) - lag(epoch_us(ts), 1)
                    OVER (PARTITION BY user_id, event_type
                          ORDER BY ts ASC, event_id ASC) AS gap_us
           FROM events)
         SELECT event_type, count(*) AS n_gaps,
                CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
                CAST(max(gap_us) AS BIGINT) AS max_gap_us
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY 1""",
    "events_rfm" ->
      """WITH per AS (
           SELECT user_id, max(ts) AS last_ts, count(*) AS f,
                  sum(CAST(round(value * 100) AS BIGINT)) AS m_cents
           FROM events GROUP BY 1),
         s AS (
           SELECT count(*) AS total_events,
                  sum(CAST(round(value * 100) AS BIGINT)) AS total_cents,
                  count(DISTINCT user_id) AS n_users,
                  max(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS max_day
           FROM events)
         SELECT p.user_id,
                CAST(datediff('day', CAST(date_trunc('day', p.last_ts) AS DATE),
                              CAST(s.max_day AS DATE)) AS BIGINT) AS r_days,
                p.f, CAST(p.m_cents AS BIGINT) AS m_cents,
                datediff('day', CAST(date_trunc('day', p.last_ts) AS DATE),
                         CAST(s.max_day AS DATE)) <= 7 AS r_recent,
                CAST(p.f AS HUGEINT) * s.n_users > s.total_events AS f_high,
                CAST(p.m_cents AS HUGEINT) * s.n_users > s.total_cents AS m_high
         FROM per p, s""",
    "events_markov" ->
      """WITH t AS (
           SELECT event_type AS from_type,
                  lead(event_type, 1) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC) AS to_type
           FROM events)
         SELECT from_type, to_type, count(*) AS n_transitions
         FROM t WHERE to_type IS NOT NULL
         GROUP BY 1, 2""",
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                       AND e.event_type = 'click' AND e.ts >= s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                       AND e.event_type = 'purchase' AND e.ts >= s2.t2
                GROUP BY e.user_id)
         SELECT CAST(date_trunc('day', t1) AS TIMESTAMP) AS signup_day,
                count(*) AS n_signup,
                count(t2) AS n_click_after,
                count(t3) AS n_purchase_after,
                CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT) AS sum_click_lag_us,
                CAST(coalesce(sum(epoch_us(t3) - epoch_us(t2)), 0) AS BIGINT) AS sum_purchase_lag_us
         FROM s1 LEFT JOIN s2 USING (user_id)
                 LEFT JOIN s3 USING (user_id)
         GROUP BY 1""",
    "events_retention" ->
      """WITH c AS (SELECT user_id,
                           CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
                    FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT c.cohort_day,
                      CAST(datediff('day', CAST(c.cohort_day AS DATE),
                                    CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
                        AS day_offset,
                      e.user_id
               FROM events e JOIN c USING (user_id))
         SELECT cohort_day, day_offset, count(*) AS n_users
         FROM a WHERE day_offset <= 13
         GROUP BY cohort_day, day_offset""",
    "events_rolling_dau" ->
      """WITH act AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS aday,
                             user_id
                      FROM events),
         days AS (SELECT DISTINCT aday AS day FROM act)
         SELECT day,
                count(DISTINCT user_id) AS dau_7d,
                count(DISTINCT CASE WHEN aday = day THEN user_id END) AS dau
         FROM act JOIN days ON aday <= day AND aday > day - INTERVAL 7 DAY
         GROUP BY day""",
    "events_hll_cube" -> HllCubeSql,
    "events_bot_score" ->
      """WITH seq AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER w AS prev_type,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS g
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         agg AS (
           SELECT user_id,
                  CAST(count(*) AS BIGINT) AS n_gaps,
                  CAST(sum(CASE WHEN event_type = prev_type THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_selfloops,
                  CAST(sum(g) AS HUGEINT) AS m1,
                  sum(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS m2
           FROM seq WHERE prev_type IS NOT NULL
           GROUP BY user_id),
         m AS (
           SELECT user_id, n_gaps,
                  CAST(n_selfloops * 1000000 // n_gaps AS BIGINT) AS selfloop_ppm,
                  CAST((n_gaps * m2 - m1 * m1) * 1000000 // (m1 * m1) AS BIGINT)
                    AS cv2_ppm
           FROM agg WHERE m1 > 0)
         SELECT user_id, n_gaps, selfloop_ppm, cv2_ppm,
                (n_gaps >= 10 AND (cv2_ppm < 250000 OR selfloop_ppm > 500000))
                  AS is_bot_suspect
         FROM m""",
    "events_changepoint" ->
      """WITH daily AS (
           SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
           FROM events GROUP BY 1),
         st AS (SELECT count(*) AS nd, sum(n) AS total FROM daily),
         d AS (SELECT day, n, n * nd - total AS dev, nd FROM daily, st),
         p AS (SELECT *, (SELECT sum(abs(dev)) FROM d) // nd AS k FROM d),
         c AS (
           SELECT day, n, k,
                  sum(dev - k) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pu,
                  sum(-dev - k) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd
           FROM p),
         s AS (
           SELECT day, n, k,
                  pu - least(0, min(pu) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_up,
                  pd - least(0, min(pd) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum_down
           FROM c)
         SELECT day, CAST(n AS BIGINT) AS n_events,
                CAST(cusum_up AS BIGINT) AS cusum_up,
                CAST(cusum_down AS BIGINT) AS cusum_down,
                (cusum_up > k * 4 OR cusum_down > k * 4) AS is_shift
         FROM s""",
    "stats_histogram" ->
      """SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
                count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  / CAST(100 AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1""",
    "events_attribution" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
               WHERE event_type = 'click'),
         j AS (SELECT p.event_id AS p_eid, c.c_id, c.c_ts,
                      row_number() OVER (PARTITION BY p.event_id
                                         ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
               FROM p JOIN c ON c.user_id = p.user_id
                            AND c.c_ts <= p.ts
                            AND c.c_ts >= p.ts - INTERVAL 30 MINUTE)
         SELECT p.event_id, p.user_id, p.ts,
                j.c_id AS click_event_id,
                CAST(epoch_us(p.ts) - epoch_us(j.c_ts) AS BIGINT) AS lag_us
         FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
                ON j.p_eid = p.event_id""",
    "events_anomaly" ->
      """WITH daily AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         st AS (
           SELECT event_type,
                  CAST(count(*) AS HUGEINT) AS nd,
                  CAST(sum(n) AS HUGEINT) AS s,
                  CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS ss
           FROM daily GROUP BY 1)
         SELECT d.event_type, d.day, d.n,
                (st.nd * d.n - st.s) * (st.nd * d.n - st.s)
                  > 4 * (st.nd * st.ss - st.s * st.s) AS is_anomaly
         FROM daily d JOIN st USING (event_type)""")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_funnel" -> funnel _,
    "events_retention" -> retention _,
    "events_rolling_dau" -> rollingDau _,
    "stats_histogram" -> histogram _,
    "events_attribution" -> attribution _,
    "events_anomaly" -> anomaly _,
    "events_changepoint" -> changepoint _,
    "events_bot_score" -> botScore _,
    "events_hll_cube" -> hllCube _,
    "events_markov" -> markov _,
    "events_rfm" -> rfm _,
    "events_interarrival" -> interarrival _,
    "events_cohort_ltv" -> cohortLtv _,
    "events_autocorr" -> autocorr _,
    "events_path_topk" -> pathTopK _,
    "events_forecast_baseline" -> forecastBaseline _,
    "events_mix_drift" -> mixDrift _,
    "events_user_growth" -> userGrowth _,
    "join_time_banded" -> timeBandJoin _)
}
