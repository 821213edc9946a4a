package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Event-stream product analytics: ordered funnels and retention
  * cohorts. Time arithmetic is integer microseconds / epoch-days
  * throughout — portable across engines (no timezone or calendar
  * functions in the hot path) and exact.
  */
object ProductAnalytics {

  /** Ordered funnel: how many users reach each stage IN ORDER (stage
    * k's first event must be strictly after the user's stage k-1
    * entry). One aggregation per stage, each joined on user — at scale,
    * k small broadcast-or-shuffle joins over per-user aggregates, never
    * over raw events twice.
    *
    * @param events (user_id, ts_us, event_type)
    * @param stages event_type per funnel stage, in order
    * @return (stage bigint 1-based, event_type, n_users)
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    val first = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val perStage = stages.zipWithIndex.tail.scanLeft(first) {
      case (prev, (stage, i)) =>
        events.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col(s"t$i").as("t_prev")), "user_id")
          .filter(col("ts_us") > col("t_prev"))
          .groupBy("user_id").agg(min("ts_us").as(s"t${i + 1}"))
    }
    val counts = perStage.zip(stages).zipWithIndex.map {
      case ((df, stage), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).cast("long").as("stage"),
            lit(stage).as("event_type"), col("n_users"))
    }
    counts.reduce(_ unionByName _)
  }

  def funnelOracle(stages: Seq[String]): String = {
    val ctes = stages.zipWithIndex.map {
      case (stage, 0) =>
        s"""s1 AS (
           |  SELECT user_id, MIN(EPOCH_US(ts)) AS t1 FROM events
           |  WHERE event_type = '$stage' GROUP BY user_id)""".stripMargin
      case (stage, i) =>
        s"""s${i + 1} AS (
           |  SELECT e.user_id, MIN(EPOCH_US(e.ts)) AS t${i + 1}
           |  FROM events e JOIN s$i ON e.user_id = s$i.user_id
           |  WHERE e.event_type = '$stage' AND EPOCH_US(e.ts) > s$i.t$i
           |  GROUP BY e.user_id)""".stripMargin
    }
    val selects = stages.zipWithIndex.map { case (stage, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS stage, '$stage' AS event_type, " +
        s"COUNT(*) AS n_users FROM s${i + 1}"
    }
    s"WITH ${ctes.mkString(",\n")}\n${selects.mkString("\nUNION ALL ")}\nORDER BY stage"
  }

  /** Retention cohorts: users grouped by their first active epoch-day;
    * for each (cohort_day, day_offset) the count of distinct active
    * users. Two aggregations (first-day per user, then cohort×offset) —
    * both hash shuffles on bounded keys.
    *
    * @param events (user_id, ts_us, …)
    * @return (cohort_day, day_offset, n_users) — epoch-day integers
    */
  /** Flooring epoch-day bin — `div` truncates toward zero, DuckDB's
    * `//` floors, so pre-epoch (negative) timestamps would land in
    * different days on the two engines (the quotaStream floorDiv
    * lesson). pmod-floor matches `//` for every sign.
    */
  private val DayUs = 86400000000L
  private def epochDay(tsUs: Column): Column =
    call_function("div", tsUs - pmod(tsUs, lit(DayUs)), lit(DayUs))

  def retention(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), epochDay(col("ts_us")).as("day"))
    val cohorts = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  val retentionOracle: String =
    """WITH d AS (
      |  SELECT user_id, EPOCH_US(ts) // 86400000000 AS day FROM events),
      |cohorts AS (
      |  SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
      |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
      |  COUNT(DISTINCT d.user_id) AS n_users
      |FROM d JOIN cohorts c ON d.user_id = c.user_id
      |GROUP BY c.cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Last-touch attribution (round 5): for every conversion event, the
    * immediately preceding event of the same user — the event type
    * that "gets credit" — plus the gap in microseconds. One window
    * over the HIGH-cardinality user key (the safe kind), deterministic
    * total order via (ts_us, event_id).
    *
    * @param events (event_id, user_id, ts_us, event_type)
    */
  def lastTouchAttribution(events: DataFrame,
                           conversion: String = "purchase"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts_us", lag(col("ts_us"), 1).over(w))
      .filter(col("event_type") === conversion)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("prev_type"),
        (col("ts_us") - col("prev_ts_us")).as("gap_us"))
  }

  def lastTouchAttributionOracle(conversion: String = "purchase"): String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type
       |  FROM events),
       |lagged AS (
       |  SELECT event_id, user_id, ts_us, event_type,
       |    LAG(event_type) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS prev_type,
       |    LAG(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS prev_ts_us
       |  FROM e)
       |SELECT event_id, user_id, ts_us, prev_type,
       |  ts_us - prev_ts_us AS gap_us
       |FROM lagged WHERE event_type = '$conversion'
       |ORDER BY event_id""".stripMargin

  /** Event-type transition matrix (round 5): Markov-style counts of
    * consecutive (prev → next) event types per user stream, with each
    * row's share of its source state's outgoing transitions — the
    * input to next-event prediction and funnel-drop diagnosis. One lag
    * window over the high-cardinality user key + one bounded-key
    * aggregate (|event types|² rows at most).
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val pairs = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val outTotals = pairs.groupBy("prev_type").agg(sum("n").as("out_n"))
    pairs.join(outTotals, Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        (col("n").cast("double") / col("out_n")).as("share"))
  }

  def eventTransitionsOracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type
      |  FROM events),
      |p AS (
      |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n FROM (
      |    SELECT event_type,
      |      LAG(event_type) OVER (PARTITION BY user_id
      |        ORDER BY ts_us, event_id) AS prev_type
      |    FROM e)
      |  WHERE prev_type IS NOT NULL
      |  GROUP BY prev_type, next_type),
      |o AS (SELECT prev_type, CAST(SUM(n) AS BIGINT) AS out_n
      |      FROM p GROUP BY prev_type)
      |SELECT p.prev_type, p.next_type, p.n,
      |  CAST(p.n AS DOUBLE) / o.out_n AS share
      |FROM p JOIN o ON p.prev_type = o.prev_type
      |ORDER BY p.prev_type, p.next_type""".stripMargin

  /** Rolling 7-day distinct active users per day (round 5) via the
    * STACKED formulation: each (user, active-day) contributes itself to
    * the 7 days it stays "recent" for — `explode(0..6)` then one
    * count-distinct per day. Linear in (users × active days × 7);
    * no per-day set self-join, no RANGE-frame distinct window (which
    * Spark cannot express and a 100 TB window couldn't run anyway).
    * Only days that actually occur in the data are emitted.
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val active = events
      .select(col("user_id"), epochDay(col("ts_us")).as("day"))
      .distinct()
    val days = active.select(col("day")).distinct()
    active
      .withColumn("i", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(col("user_id"), (col("day") + col("i")).as("day"))
      .join(days, Seq("day"), "left_semi")
      .groupBy("day")
      .agg(count_distinct(col("user_id")).as(s"active_${windowDays}d"))
  }

  def rollingActiveUsersOracle(windowDays: Int = 7): String =
    s"""WITH ad AS (
       |  SELECT DISTINCT user_id, EPOCH_US(ts) // 86400000000 AS day
       |  FROM events),
       |days AS (SELECT DISTINCT day FROM ad),
       |stacked AS (
       |  SELECT user_id, ad.day + i AS day2
       |  FROM ad, UNNEST(GENERATE_SERIES(0, ${windowDays - 1})) AS u(i))
       |SELECT day2 AS day, COUNT(DISTINCT user_id) AS active_${windowDays}d
       |FROM stacked WHERE day2 IN (SELECT day FROM days)
       |GROUP BY day2 ORDER BY day""".stripMargin

  /** Per-key union length of (possibly overlapping) intervals — the
    * gaps-and-islands merge. Each row contributes `[start, end)`;
    * islands are maximal runs of overlapping/touching intervals, found
    * with the classic running-max trick: sort by (start, end) within
    * the key, an interval opens a new island iff its start exceeds the
    * max end seen so far. All arithmetic is exact BIGINT; island
    * assignment among tied starts can differ by tie order, but the
    * per-key aggregates (island count, covered length) are tie-
    * invariant, so the output is engine-portable.
    *
    * Scale shape: two window passes and one aggregation, all
    * partitioned by the key — one shuffle total (the windows and the
    * groupBy share the key partitioning). Per-key data must fit a
    * partition's sort spill budget, the standard window contract; keys
    * here are users, so cardinality is high and skew bounded.
    *
    * @return (key k, n_intervals, n_islands, covered: BIGINT)
    */
  def intervalCoverage(df: DataFrame, key: Column,
                       start: Column, end: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = df.select(key.as("k"), start.as("s"), end.as("e"))
    val ord = Window.partitionBy("k").orderBy(col("s"), col("e"))
    val pmax = ord.rowsBetween(Window.unboundedPreceding, -1)
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = iv
      // pmax materialized once — referencing the window expression in
      // both the null test and the comparison would evaluate it twice
      // inside the same Window operator (plan-audited)
      .withColumn("pmax", max(col("e")).over(pmax))
      .withColumn("flag",
        when(col("pmax").isNull || col("s") > col("pmax"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("isl", sum(col("flag")).over(run))
    flagged
      .groupBy(col("k"), col("isl"))
      .agg(count(lit(1)).as("n_iv"), min(col("s")).as("s0"), max(col("e")).as("e1"))
      .groupBy("k")
      .agg(sum(col("n_iv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("e1") - col("s0")).as("covered"))
  }

  /** Oracle for [[intervalCoverage]]: `ivSql` must yield (k, s, e). */
  def intervalCoverageOracle(ivSql: String): String =
    s"""WITH iv AS ($ivSql),
       |m AS (
       |  SELECT k, s, e,
       |    MAX(e) OVER (PARTITION BY k ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM iv),
       |f AS (
       |  SELECT k, s, e,
       |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS flag
       |  FROM m),
       |g AS (
       |  SELECT k, s, e,
       |    SUM(flag) OVER (PARTITION BY k ORDER BY s, e
       |      ROWS UNBOUNDED PRECEDING) AS isl
       |  FROM f),
       |isl AS (
       |  SELECT k, isl, COUNT(*) AS n_iv, MIN(s) AS s0, MAX(e) AS e1
       |  FROM g GROUP BY k, isl)
       |SELECT k, CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
       |  CAST(COUNT(*) AS BIGINT) AS n_islands,
       |  CAST(SUM(e1 - s0) AS BIGINT) AS covered
       |FROM isl GROUP BY k ORDER BY k""".stripMargin

  /** Market-basket frequent pairs (Apriori level 2): co-occurrence
    * support for item pairs within a basket, after the classic
    * monotonicity prune — a pair can only reach `minPairSupport` if
    * BOTH items individually do, so infrequent items are dropped
    * BEFORE the quadratic-per-basket pair enumeration ever sees them.
    *
    * Scale shape: one shuffle to dedupe (basket, item); the frequent
    * item set is support-bounded (≤ |bi|/minItemSupport items) and
    * filters via a LEFT SEMI join; the pair stage clusters on the
    * basket key, and the per-basket pair blowup is bounded by basket
    * size (TPC-H: ≤ 7 lines/order). No all-pairs stage anywhere.
    *
    * Sorted-run enumeration (round 14, second pass): the pruned
    * (basket, item) frame is repartitioned on `basket`, sorted within
    * partitions by (basket, item), and the pairs are emitted by a
    * single mapPartitions double-pointer walk over each basket run —
    * C(m,2) pairs per basket in sorted order, so `item_a < item_b`
    * holds by construction under the same ordering the old self-join
    * predicate used. One sort instead of the sort-merge self-join's
    * two, no join build, and — because the pruned frame is now
    * referenced exactly ONCE — no eager localCheckpoint: the operator
    * is lazy end-to-end, which drops the checkpoint's two documented
    * caveats (call-time job, non-recomputable blocks on executor
    * loss). What laziness costs: Catalyst pushes the semi prune below
    * one reference's distinct (PushDownLeftSemiAntiJoin), so the
    * executed plan reads the two-column projection TWICE — once
    * filtered-then-deduped for the pair side, once deduped for the
    * support counts (NOT the r07 defect, where the full dedup SHUFFLE
    * ran twice: here the duplicated work is only the column-pruned
    * scan; the pair side's dedup exchange carries post-prune volume,
    * which the old shape's carried in full). Worst case — a frequent
    * set too big for AQE broadcast — the shuffled semi re-clusters raw
    * rather than deduped volume; for near-unique (basket, item) inputs
    * (this operator's natural shape) the difference is marginal.
    * Interleaved sf1 A/B (PLANS "Round 14 second pass", box 1c5ffb49):
    * lazy sorted-run min 2.87 / med 3.14 s vs checkpointed sorted-run
    * 3.26/3.99 vs the r14a single-exchange self-join 3.56/4.45 vs the
    * r13 two-exchange self-join 3.77+. A basket-first single-exchange
    * variant (repartition raw on basket, exchange-free distinct above)
    * was REJECTED on correctness: its run-walk needs the semi join to
    * preserve basket clustering, which only a broadcast join does —
    * AQE legitimately picks a shuffled semi at scale and the walk then
    * sees baskets split across partitions (measured: 980 of 30260
    * pairs survive). NULL baskets are
    * filtered before enumeration: a SQL equi-join never matches NULL
    * keys, so the old shape emitted no pairs from them and the oracle
    * (a.basket = b.basket) agrees; the run-walk's Any-equality WOULD
    * group them. (NULL items are already dropped by the USING(item)
    * semi join.) Contract nit: the run walk groups baskets by
    * Java-object equality, which differs from SQL `=` only for
    * floating-point keys (NaN groups with NaN, ±0.0 split) — basket
    * ids are integral/string in every sane schema; don't key baskets
    * by a float. An earlier round-14 interleaved A/B also REJECTED the
    * tempting alternative (per-basket collect_set arrays +
    * in-expression C(m,2) enumeration — "one
    * shuffle + one aggregate" on paper): millions of ObjectHashAggregate
    * set buffers caused GC storms (min 5.6 s, swings to 24 s) where
    * this all-UnsafeRow shape holds a stable 3.9-4.6 s.
    *
    * Broadcast contract (round 6): the semi-join carries NO broadcast
    * hint — with a LOW `minItemSupport` the frequent-item set is only
    * bounded by |bi|/minItemSupport rows and can exceed the broadcast
    * budget, and a forced hint would then OOM the driver at 100 TB.
    * AQE picks broadcast at runtime when the measured size is under
    * `spark.sql.autoBroadcastJoinThreshold` (the common case: a
    * support-thresholded item set is dimension-sized) and falls back to
    * a shuffled semi-join otherwise. Either way the prune structurally
    * precedes the basket self-join — the pair stage is built on the
    * semi-joined frame (spec-asserted on the pruned frame's plan).
    *
    * @param txns   transaction lines
    * @param basket basket id column
    * @param item   item id column
    * @return (item_a, item_b, support) with item_a < item_b under the
    *         item column's sort order, support >= minPairSupport
    */
  def frequentPairs(txns: DataFrame, basket: Column, item: Column,
                    minItemSupport: Long, minPairSupport: Long): DataFrame = {
    // minItemSupport <= 1 fast path: the Apriori prune is a no-op
    // (every present item has support >= 1), and WITHOUT the semi join
    // the basket-first shape is exact (the shape that is WRONG under a
    // prune — see the MP3 rejection note above — because only a join
    // can destroy the clustering): partition the raw projection on
    // basket once, and the dedup aggregate (basket ⊆ its grouping
    // keys), the sort, and the walk all run exchange-free above it —
    // ONE full-data exchange total. Used by span/source co-occurrence
    // callers (q176) where every item is wanted.
    val fbi =
      if (minItemSupport <= 1L)
        txns.select(basket.as("basket"), item.as("item"))
          .filter(col("basket").isNotNull)
          .repartition(col("basket"))
          .distinct()
      else
        prunedBasketItems(txns, basket, item, minItemSupport)
          .filter(col("basket").isNotNull)
          .select(col("basket"), col("item"))
          .repartition(col("basket"))
    val itemType = fbi.schema("item").dataType
    val outSchema = StructType(Seq(
      StructField("item_a", itemType), StructField("item_b", itemType)))
    val pairs = fbi
      .sortWithinPartitions("basket", "item")
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[Row] {
          private var items: Array[Any] = Array.empty
          private var i = 0
          private var j = 1
          private def loadNext(): Unit = {
            items = Array.empty
            // skip 1-item baskets (no pairs) without emitting
            while (items.length < 2 && in.hasNext) {
              val b = in.head.get(0)
              val ab = scala.collection.mutable.ArrayBuilder.make[Any]
              while (in.hasNext && in.head.get(0) == b) ab += in.next().get(1)
              items = ab.result()
            }
            if (items.length < 2) items = Array.empty
            i = 0; j = 1
          }
          def hasNext: Boolean =
            i < items.length - 1 || { loadNext(); items.length >= 2 }
          def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            val p = Row(items(i), items(j)); j += 1
            if (j >= items.length) { i += 1; j = i + 1 }
            p
          }
        }
      }(Encoders.row(outSchema))
    pairs.groupBy("item_a", "item_b").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minPairSupport)
  }

  /** The dedup + monotonicity-prune stage of [[frequentPairs]],
    * exposed separately so specs can assert the semi-join prune sits
    * below the pair stage in the logical shape.
    */
  private[graft] def prunedBasketItems(txns: DataFrame, basket: Column,
                                       item: Column,
                                       minItemSupport: Long): DataFrame = {
    val bi = txns.select(basket.as("basket"), item.as("item")).distinct()
    val freq = bi.groupBy("item").agg(count(lit(1)).as("isup"))
      .filter(col("isup") >= minItemSupport).select("item")
    bi.join(freq, Seq("item"), "left_semi")
  }

  /** Oracle for [[frequentPairs]] over SQL column expressions. */
  def frequentPairsOracle(table: String, basketSql: String, itemSql: String,
                          minItemSupport: Long, minPairSupport: Long): String =
    s"""WITH bi AS (
       |  SELECT DISTINCT $basketSql AS basket, $itemSql AS item FROM $table),
       |f AS (SELECT item FROM bi GROUP BY item
       |      HAVING COUNT(*) >= $minItemSupport),
       |fb AS (SELECT bi.basket, bi.item FROM bi JOIN f USING (item))
       |SELECT a.item AS item_a, b.item AS item_b,
       |  CAST(COUNT(*) AS BIGINT) AS support
       |FROM fb a JOIN fb b ON a.basket = b.basket AND a.item < b.item
       |GROUP BY a.item, b.item HAVING COUNT(*) >= $minPairSupport
       |ORDER BY support DESC, item_a, item_b""".stripMargin
}
