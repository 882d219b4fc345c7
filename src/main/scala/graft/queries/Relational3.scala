package graft.queries

import graft.ext.{Cdc, Sessions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Third relational batch: CDC merge/upsert (the incremental-refresh
  * apply step), batch sessionization, and the TPC-H Q18 large-volume
  * shape — three plans a production warehouse runs daily, each with a
  * bit-exact DuckDB twin.
  */
object Relational3 {

  private def orders(s: SparkSession, dir: String) = Tables.table(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String) = Tables.table(s, dir, "lineitem")
  private def customer(s: SparkSession, dir: String) = Tables.table(s, dir, "customer")
  private def events(s: SparkSession, dir: String) = Tables.table(s, dir, "events")

  private val OrdersCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
  private val InsertShift = 10000000L

  /** R26 — CDC MERGE/upsert ([[graft.ext.Cdc.applyChanges]]): apply a
    * derived change feed (keys %10==0 updated with a repriced status,
    * %10==3 deleted, %10==7 re-inserted under shifted keys) to the
    * orders snapshot. One anti-join + union — the base shuffles once on
    * the key; no window, no full-table rewrite. The oracle applies the
    * same feed with NOT IN + UNION ALL. */
  val r26MergeUpsert = Q("r26_merge_upsert",
    (s, dir) => {
      val o = orders(s, dir).select(OrdersCols.map(col): _*)
      val upd = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", col("o_totalprice") * lit(1.05))
        .withColumn("op", lit("U"))
      val del = o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
        .withColumn("op", lit("D"))
      val ins = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
        .withColumn("o_orderkey", col("o_orderkey") + lit(InsertShift))
        .withColumn("op", lit("I"))
      Cdc.applyChanges(o, upd.unionByName(del).unionByName(ins), "o_orderkey")
        .orderBy("o_orderkey")
    },
    Some(s"""WITH base AS (SELECT ${OrdersCols.mkString(", ")} FROM orders),
             changes AS (
               SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
                      o_totalprice * 1.05 AS o_totalprice, o_orderdate,
                      o_orderpriority, 'U' AS op
               FROM base WHERE o_orderkey % 10 = 0
               UNION ALL
               SELECT ${OrdersCols.mkString(", ")}, 'D' AS op
               FROM base WHERE o_orderkey % 10 = 3
               UNION ALL
               SELECT o_orderkey + $InsertShift AS o_orderkey, o_custkey,
                      o_orderstatus, o_totalprice, o_orderdate,
                      o_orderpriority, 'I' AS op
               FROM base WHERE o_orderkey % 10 = 7)
           SELECT ${OrdersCols.mkString(", ")} FROM base
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
           UNION ALL
           SELECT ${OrdersCols.mkString(", ")} FROM changes
           WHERE op IS DISTINCT FROM 'D'
           ORDER BY o_orderkey"""))

  private val SessionGapSec = 43200L // 12h: the fixture's events are sparse

  /** R27 — batch sessionization ([[graft.ext.Sessions.sessionize]]):
    * gap-based per-user sessions with exact-micros gap comparison and
    * integral duration. Both windows key on user_id (millions of keys
    * at scale — no single-task sort), and the prefix-sum session id
    * reuses the lag window's exchange. */
  val r27Sessionize = Q("r27_sessionize",
    (s, dir) => Sessions.sessionize(
        events(s, dir), "user_id", "ts", "event_id", SessionGapSec)
      .orderBy("user_id", "session_seq"),
    Some(s"""WITH x AS (
               SELECT user_id, ts, event_id,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
               FROM events),
             f AS (
               SELECT user_id, ts, event_id,
                      CASE WHEN p IS NULL
                                OR epoch_us(ts) - epoch_us(p) > ${SessionGapSec * 1000000L}
                           THEN 1 ELSE 0 END AS brk
               FROM x),
             a AS (
               SELECT user_id, ts,
                      CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        AS session_seq
               FROM f)
           SELECT user_id, session_seq, count(*) AS n_events,
                  min(ts) AS session_start, max(ts) AS session_end,
                  CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
                    AS duration_sec
           FROM a GROUP BY 1, 2 ORDER BY user_id, session_seq"""))

  private val Q18MinQty = 250L

  /** R28 — the TPC-H Q18 shape (large-volume customers): a HAVING
    * subquery on the fact table feeding a three-table join. The
    * per-order quantity sum is one partial-aggregatable hash aggregate
    * (integers stored as doubles sum exactly in any order); the
    * qualifying-order set is tiny and AQE broadcasts it into the
    * orders/customer joins. Top-100 by (price desc, date, orderkey). */
  val r28TpchQ18 = Q("r28_tpch_q18",
    (s, dir) => {
      val big = lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .filter(col("sum_qty") > Q18MinQty)
      big
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
    Some(s"""WITH big AS (
               SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
               FROM lineitem GROUP BY 1 HAVING CAST(sum(l_quantity) AS BIGINT) > $Q18MinQty)
           SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                  o.o_totalprice, b.sum_qty
           FROM big b
           JOIN orders o ON b.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
           LIMIT 100"""))

  /** R29 — table profiling (the Deequ/quality-report shape): per
    * column, row count, null count, exact distinct count, and numeric
    * min/max, computed in ONE scan — a single multi-aggregate (Spark
    * plans the distinct set via Expand: one pass over the data,
    * not one scan per column) unpivoted with `stack`. At 100 TB the
    * distinct counts swap to `approx_count_distinct` (bounds-proven in
    * `ExtOpsSpec`); everything else is already partial-aggregatable.
    *
    * MEASURED floor (round 13, sf0.1, warm): scan
    * 0.16 s, plain multi-agg 0.19 s, one high-cardinality distinct
    * 0.30 s, three 0.50 s, all six 0.65 s — the cost is the exact
    * distinct aggregation itself (each column adds 150 k rows through
    * Expand→hash→exchange), not job floor, and it parallelizes with
    * data. The tempting alternative — `collect_set` for the three
    * low-cardinality columns to shrink the Expand — measured 3× WORSE
    * (mixing an object aggregate into an Expand plan forces the whole
    * aggregate down to SortAggregate). This Expand shape is the plan
    * to run at 100 TB. Shuffle width deliberately NOT pinned here:
    * the conf is read at ACTION time, so a build-only wrapper would be
    * a no-op for the bench's deferred count (round-13 review), and the
    * probe's width sweep showed no width sensitivity at this size
    * anyway. */
  val r29Profile = Q("r29_profile",
    (s, dir) => {
      val o = orders(s, dir)
      def nn(c: String) = count(col(c)).as(s"nn_$c")
      def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
      o.agg(count(lit(1)).as("n"),
          nn("o_orderkey"), nd("o_orderkey"),
          min(col("o_orderkey")).cast("double").as("mn_o_orderkey"),
          max(col("o_orderkey")).cast("double").as("mx_o_orderkey"),
          nn("o_custkey"), nd("o_custkey"),
          min(col("o_custkey")).cast("double").as("mn_o_custkey"),
          max(col("o_custkey")).cast("double").as("mx_o_custkey"),
          nn("o_totalprice"), nd("o_totalprice"),
          min(col("o_totalprice")).as("mn_o_totalprice"),
          max(col("o_totalprice")).as("mx_o_totalprice"),
          nn("o_orderstatus"), nd("o_orderstatus"),
          nn("o_orderpriority"), nd("o_orderpriority"),
          nn("o_orderdate"), nd("o_orderdate"))
        .selectExpr("""stack(6,
            'o_orderkey',     n, n - nn_o_orderkey,     nd_o_orderkey,     mn_o_orderkey,     mx_o_orderkey,
            'o_custkey',      n, n - nn_o_custkey,      nd_o_custkey,      mn_o_custkey,      mx_o_custkey,
            'o_totalprice',   n, n - nn_o_totalprice,   nd_o_totalprice,   mn_o_totalprice,   mx_o_totalprice,
            'o_orderstatus',  n, n - nn_o_orderstatus,  nd_o_orderstatus,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            'o_orderpriority',n, n - nn_o_orderpriority,nd_o_orderpriority,CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
            'o_orderdate',    n, n - nn_o_orderdate,    nd_o_orderdate,    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
          ) AS (col_name, n, n_null, n_distinct, vmin, vmax)""")
        .orderBy("col_name")
    },
    Some {
      def block(c: String, numeric: Boolean) = {
        val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$c' AS col_name, count(*) AS n,
                   count(*) - count($c) AS n_null,
                   count(DISTINCT $c) AS n_distinct,
                   $mn AS vmin, $mx AS vmax
            FROM orders"""
      }
      Seq(block("o_orderkey", numeric = true),
        block("o_custkey", numeric = true),
        block("o_totalprice", numeric = true),
        block("o_orderstatus", numeric = false),
        block("o_orderpriority", numeric = false),
        block("o_orderdate", numeric = false))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    })

  /** R30 — Pearson correlation per group, in the exact-integer
    * discipline: both variables are small integers (quantity 1–50,
    * discount in pennies 0–10), so every moment sum is EXACT in INT64
    * and order-free; the closed-form numerator/denominator stay below
    * 2^53 even at the 10× fixture, so their double casts are exact and
    * the final division + round(6) is bit-identical cross-engine —
    * the same reproducibility design as the quantized cosine. (Built-in
    * `corr()` float-accumulates and drifts with aggregation order; at
    * 100 TB the moment sums move to DECIMAL(38) — same shape.) */
  val r30Corr = Q("r30_corr",
    (s, dir) => {
      val q = lineitem(s, dir).select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_discount") * lit(100.0)).cast("long").as("y"))
      q.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("flag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))),
            6).as("corr6"))
        .orderBy("flag")
    },
    Some("""WITH q AS (
              SELECT l_returnflag AS flag,
                     CAST(l_quantity AS BIGINT) AS x,
                     CAST(round(l_discount * 100) AS BIGINT) AS y
              FROM lineitem),
            a AS (
              SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                     sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
              FROM q GROUP BY 1)
          SELECT flag, n,
                 round(CAST(n * sxy - sx * sy AS DOUBLE) /
                       (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                        sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr6
          FROM a ORDER BY flag"""))

  /** R31 — funnel analysis (view → click → purchase, each stage's FIRST
    * event strictly after the previous stage's): the product-analytics
    * sequence shape. Three chained min-aggregates + equality joins on
    * the user key — each stage relation shrinks, nothing quadratic, no
    * per-user sort (the window-function formulation would sort every
    * user's events; min-after-threshold is a partial aggregate).
    * Timestamps surface as exact epoch micros with -1 for not-reached
    * (integer, null-free — comparator-proof on both engines). */
  val r31Funnel = Q("r31_funnel",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("vt"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("vt"))
        .groupBy("user_id").agg(min("ts").as("ct"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("ct"))
        .groupBy("user_id").agg(min("ts").as("pt"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          unix_micros(col("vt")).as("view_us"),
          coalesce(unix_micros(col("ct")), lit(-1L)).as("click_us"),
          coalesce(unix_micros(col("pt")), lit(-1L)).as("purchase_us"),
          (lit(1) + when(col("ct").isNotNull, 1).otherwise(0)
            + when(col("pt").isNotNull, 1).otherwise(0)).cast("int").as("stage"))
        .orderBy("user_id")
    },
    Some("""WITH v AS (
              SELECT user_id, min(ts) AS vt FROM events
              WHERE event_type = 'view' GROUP BY 1),
            c AS (
              -- stage comparisons at MICROS (epoch_us): the engine reads
              -- the nanos fixture truncated to micros, so a raw ts >
              -- would be stricter here on sub-microsecond residues
              SELECT e.user_id, min(e.ts) AS ct
              FROM events e JOIN v ON e.user_id = v.user_id
                AND epoch_us(e.ts) > epoch_us(v.vt)
              WHERE e.event_type = 'click' GROUP BY 1),
            p AS (
              SELECT e.user_id, min(e.ts) AS pt
              FROM events e JOIN c ON e.user_id = c.user_id
                AND epoch_us(e.ts) > epoch_us(c.ct)
              WHERE e.event_type = 'purchase' GROUP BY 1)
          SELECT v.user_id, epoch_us(v.vt) AS view_us,
                 coalesce(epoch_us(c.ct), -1) AS click_us,
                 coalesce(epoch_us(p.pt), -1) AS purchase_us,
                 CAST(1 + (c.ct IS NOT NULL)::INT + (p.pt IS NOT NULL)::INT
                      AS INT) AS stage
          FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
          ORDER BY user_id"""))

  /** R32 — z-score outlier detection per group, with the z² test done
    * ENTIRELY in integers: |x−μ| > 3σ ⇔ (n·x − sx)² > 9·(n·sxx − sx²)
    * (multiply through by n² — population σ). No float mean/stddev
    * ever materializes, so the verdict is exact and order-free — the
    * anomaly-flagging shape that survives cross-engine hashing (a
    * float `stddev_pop` drifts with aggregation order). One moment
    * aggregate broadcast back over the scan. Values in whole units
    * (not cents): with x ≤ ~500 the INT64 moments hold to roughly
    * n ≈ 5×10⁶ rows per group (~25× the 10× fixture; the binding term
    * is sx² at the fixture's mean). Beyond that, move the moments to
    * DECIMAL(38) — Spark's non-ANSI Long multiply would WRAP silently
    * where DuckDB errors, so the headroom bound is load-bearing. */
  val r32Outliers = Q("r32_outliers",
    (s, dir) => {
      val q = events(s, dir).select(col("event_id"),
        col("event_type").as("flag"),
        round(col("value")).cast("long").as("x"))
      val m = q.groupBy("flag").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
      q.join(broadcast(m), "flag")
        .filter((col("n") * col("x") - col("sx")) *
          (col("n") * col("x") - col("sx")) >
          lit(9L) * (col("n") * col("sxx") - col("sx") * col("sx")))
        .select(col("flag"), col("event_id"), col("x"))
        .orderBy("flag", "event_id")
    },
    Some("""WITH q AS (
              SELECT event_id, event_type AS flag,
                     CAST(round(value) AS BIGINT) AS x
              FROM events),
            m AS (
              SELECT flag, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
              FROM q GROUP BY 1)
          SELECT q.flag, q.event_id, q.x
          FROM q JOIN m ON q.flag = m.flag
          WHERE (m.n * q.x - m.sx) * (m.n * q.x - m.sx)
                  > 9 * (m.n * m.sxx - m.sx * m.sx)
          ORDER BY q.flag, q.event_id"""))

  private val HistBuckets = 10L

  /** R33 — equi-width histogram of order value in integer CENTS:
    * bucket = (cents − min) · B ÷ (max − min + 1), integral division
    * throughout, so bucket membership is exact cross-engine (float
    * width arithmetic puts boundary values in different buckets per
    * engine). Two passes: a 2-scalar min/max broadcast, then one
    * partial-aggregatable count — the same shape histogram() lowers
    * to anywhere. */
  val r33Histogram = Q("r33_histogram",
    (s, dir) => {
      val o = orders(s, dir).select(
        round(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      val mm = o.agg(min("cents").as("lo"), max("cents").as("hi"))
      o.crossJoin(broadcast(mm))
        .select(expr(s"(cents - lo) * $HistBuckets DIV (hi - lo + 1)").as("bucket"),
          col("lo"), col("hi"))
        .groupBy("bucket", "lo", "hi")
        .agg(count(lit(1)).as("n_orders"))
        .select(col("bucket"),
          // ceiling, not floor: the smallest cents value mapping TO this
          // bucket — floor((b*width)/B) usually still lands in bucket b-1
          expr(s"lo + (bucket * (hi - lo + 1) + $HistBuckets - 1) DIV $HistBuckets")
            .as("bucket_lo_cents"),
          col("n_orders"))
        .orderBy("bucket")
    },
    Some(s"""WITH c AS (
               SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
             mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
             b AS (
               SELECT (cents - lo) * $HistBuckets // (hi - lo + 1) AS bucket,
                      lo, hi
               FROM c, mm)
           SELECT CAST(bucket AS BIGINT) AS bucket,
                  CAST(lo + (bucket * (hi - lo + 1) + $HistBuckets - 1) // $HistBuckets
                       AS BIGINT) AS bucket_lo_cents,
                  count(*) AS n_orders
           FROM b GROUP BY 1, 2 ORDER BY bucket"""))

  val all: Seq[Q] = Seq(r26MergeUpsert, r27Sessionize, r28TpchQ18, r29Profile,
    r30Corr, r31Funnel, r32Outliers, r33Histogram)
}
