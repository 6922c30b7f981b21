package graft.operators

import graft.{Pin, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational-analytics core (SURVEY §2.A): TPC-H-style declarative
  * plans over the star schema + events.
  *
  * Scale notes (100 TB): every query here is either map-side
  * (scan→filter→project) or a single shuffle on the aggregation/join key.
  * Broadcast-hint policy: ONLY constant-cardinality tables (region: 5
  * rows, nation: 25 rows) and 1-row scalar aggregates are hinted.
  * SF-linear tables (customer/part/supplier — 10⁹⁺ rows at the 100 TB
  * design point) carry no hint: AQE picks broadcast when the measured
  * side is small and shuffle join at scale, whereas an explicit hint
  * cannot be overridden and becomes a driver OOM. The fact tables
  * (lineitem/orders/events) are never broadcast or collected.
  *
  * Float-sum determinism (r12, generalizing q28's sf1 fix): a double
  * SUM's value depends on add order, so at scale a rounded float sum can
  * straddle a round(,2) boundary BETWEEN engines — q28's corpus-wide
  * cube cell did exactly that at ~6M addends. Every money/value SUM or
  * AVG here therefore accumulates in exact DECIMAL cents ([[dsum]]) and
  * converts to double once: per-row double→decimal(18,2) is
  * deterministic (a double is never an exact .005 tie — dyadic
  * rationals), the decimal sum is exact in any order, and both engines
  * produce the same double bit pattern. Quantity sums are exempt:
  * l_quantity is integer-valued and integer double sums are exact in
  * any order below 2⁵³.
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** Order-independent SUM of a RAW 2-decimal-valued double COLUMN:
    * exact DECIMAL-cents accumulation, one double conversion. The
    * oracle twin is CAST(SUM(CAST(e AS DECIMAL(18,2))) AS DOUBLE).
    * Spark widens the sum to decimal(28,2) and DuckDB to decimal(38,2),
    * so overflow needs a >10²⁶ total — not reachable at any design SF.
    *
    * RAW COLUMNS ONLY, never computed expressions: Spark's double→
    * decimal cast rounds the SHORTEST decimal representation
    * (BigDecimal of Double.toString) while DuckDB rounds the exact
    * binary value — on a 2-dec-valued column (within 1e-9 of k.xx)
    * both give k.xx, but on an arbitrary product (e.g. binary
    * 2.674999…, shortest repr "2.675") they disagree: 220 of 120k sf1
    * q06 rows, measured. Products go through [[csum]]. */
  private[graft] def dsum(e: Column): Column =
    sum(e.cast("decimal(18,2)")).cast("double")

  /** Order-independent AVG of a raw 2-dec column: [[dsum]] / COUNT(e)
    * (same NULL semantics as AVG — count of non-nulls), divided as
    * identical doubles on both engines. */
  private[graft] def davg(e: Column): Column =
    dsum(e) / count(e)

  /** Order-independent SUM of a COMPUTED double expression (price
    * products): per-row ROUND(e·100) to integer cents, exact LONG sum,
    * one /100.0 — q34/q35's gate-proven idiom made a helper. Portable
    * where the decimal cast is not (see [[dsum]]): after the ·100 the
    * product is no longer the nearest double to a half-cent tie, so
    * shortest-repr (Spark) and exact-binary (DuckDB) rounding agree.
    * Oracle twin: SUM(CAST(ROUND(e * 100, 0) AS BIGINT)) / 100.0. */
  private[graft] def csum(e: Column): Column =
    sum(round(e * lit(100), 0).cast("long")) / lit(100.0)

  /** `df` with a broadcast hint while `table`, the source table of the
    * hinted sliver, is at most `maxBytes` at rest
    * ([[graft.Tables.atRestBytes]]); past the bound the hint comes off
    * and the join degrades to a shuffle join, because a stale
    * `broadcast()` at the 100 TB design point is a driver OOM. Both
    * regimes are spec-pinned (PlanAuditSpec). */
  private[graft] def broadcastIfUnder(maxBytes: Long, table: DataFrame)(
      df: DataFrame): DataFrame =
    if (Tables.atRestBytes(table) <= maxBytes) broadcast(df) else df

  /** Come-off bound for PART-derived sliver hints (q26/q41/q24): the
    * slivers keep ~1/20–1/25 of part in two narrow columns, ~1/300 of
    * part's decompressed bytes, and at-rest part crosses 1.5 GiB at
    * ~SF900. Past it the partkey exchange returns. */
  private[graft] val PartHintMaxBytes: Long = 1536L << 20

  /** Come-off bound for SUPPLIER-scale dim hints (q05/q24/q35/q41):
    * supplier is ~10⁴ rows/SF, and at rest it crosses 256 MiB only past
    * ~SF1600, beyond the design envelope. */
  private[graft] val SupplierHintMaxBytes: Long = 256L << 20

  /** Bloom-filter SEMI-PREFILTER: shed rows of `big` whose long `bigKey` has no match in `keys`'s
    * `keyCol` BEFORE big's exchange. The date-windowed orders slices of
    * q03/q04/q42 are 4–26× more selective than the lineitem side they
    * meet, but they are SF-linear (never broadcastable) and the no-stats
    * planner cannot see the selectivity — so the full fact crossed the
    * o_orderkey exchange to be dropped on the other side (sf10: q42
    * shuffled 20M returned-item rows to keep 0.76M).
    *
    * Mechanics: an exact count sizes the filter (expectedNumItems must
    * be ≥ the true count; the count scans only keyCol's source columns),
    * the filter is built by a parallel aggregate ([[org.apache.spark.sql.DataFrameStatFunctions.bloomFilter]])
    * and collected to the driver (~1.2 GB per 10⁹ keys at the default
    * 3% fpp — SF-linear, ~200 MB at SF1000: within the guide's "few
    * hundred MB is fine" broadcast envelope, and paid once to remove a
    * multi-TB exchange), and the probe is the codegen'd
    * `BloomFilterMightContain` catalyst expression over the RAW long key
    * (both sides use the sketch's own putLong/mightContainLong hashing —
    * no UDF boxing in the 60M-row hot path). False positives only cost
    * shuffle bytes; there are NO false negatives, so the downstream join
    * result is bit-identical. The keys side is computed twice (filter
    * build + the join itself) — the guide's documented cost, cheap
    * because the slice projects to one column. Queries call it through
    * the size gate [[bloomShedBig]]. */
  private[graft] def bloomShed(keys: DataFrame, keyCol: String,
      big: DataFrame, bigKey: Column, fpp: Double = 0.03): DataFrame = {
    val n = keys.count()
    if (n == 0) return big // downstream equi-join keeps nothing anyway
    val bf = keys.stat.bloomFilter(keyCol, n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    big.filter(org.apache.spark.sql.graftshim.Shims.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bos.toByteArray,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftshim.Shims.expression(bigKey))))
  }

  /** [[bloomShed]] applied only once the fact table `big` reads is at
    * least [[BloomShedMinFactBytes]] at rest; under it `big` passes
    * through untouched (the caller's join drops the same rows either
    * way). */
  private def bloomShedBig(keys: DataFrame, keyCol: String, big: DataFrame,
      bigKey: Column): DataFrame =
    if (Tables.atRestBytes(big) < BloomShedMinFactBytes) big
    else bloomShed(keys, keyCol, big, bigKey)

  /** Gate for [[bloomShedBig]], in at-rest fact (lineitem) bytes:
    * 64 MiB ≈ SF0.5. Below it (sf0.1 = 10.3 MB — the driver-contract
    * bench SF) the whole fact exchange is smaller than the bloom
    * build's fixed cost; above (sf1 = 122 MB, sf10 = 1.2 GB) the shed
    * removes 4–26× of the dominant exchange (measured per query in
    * OPTIMIZATION_r16.md). */
  private[graft] val BloomShedMinFactBytes: Long = 64L << 20

  /** q01: TPC-H Q1-style pricing summary. Partial (map-side) agg then one
    * shuffle on (l_returnflag, l_linestatus) — 6 groups at any scale. */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("2000-12-01 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        csum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        csum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(davg(col("l_extendedprice")), 4).as("avg_price"),
        round(davg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** q02: selective filter + narrow projection. Zero shuffle; correctness
    * of pushdown is audited via explain (PushedFilters + 4-col ReadSchema).
    * The ORDER BY is the FULL output row: (l_orderkey, l_linenumber) is
    * not a key in this corpus (118k duplicate pairs at sf0.1), and a
    * non-total sort let engine tie orders diverge — caught by the sf10
    * gate in r15 after 14 rounds of agreeing by luck (§6's full-ORDER-BY
    * rule, enforced late). */
  def q02FilterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))

  /** q03: TPC-H Q3 shipping priority. customer grows linearly with SF
    * (~10⁹ rows at the 100 TB design point), so it carries NO explicit
    * broadcast hint — an un-overridable hint is a driver OOM at scale,
    * while AQE still picks broadcast when the filtered side measures
    * small. orders⋈lineitem shuffles once on the order key; top-k via
    * TakeOrderedAndProject (no global sort materialization). */
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    // r16 (r15 verdict item 2 — the sf10 exchange-cycle class): join
    // orders⋈customer FIRST. The BUILDING segment keeps ~1/5 of
    // customers, so the customer meet prunes the orders slice 5× BEFORE
    // any fact-side work (customer is SF-linear — no hint, AQE picks;
    // at sf10 the 294k-key segment broadcasts and the o⋈c join is
    // map-side over the orders scan). The surviving order keys then
    // bloom-shed the fact: the l_shipdate window keeps 56% of lineitem
    // (33.6M rows at sf10), but only ~9% of it joins a surviving order
    // — the shed drops the fact exchange 33.6M → ~3.1M rows. Same rows
    // reach the aggregate; result identical (oracle unchanged).
    val oc = o.join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    // r15b: revenue cents computed MAP-SIDE and shipped as int (q12's
    // rule / centsOf32 bound) — the fact exchange carries (key, int)
    // instead of (key, double, double); sum(int→long)/100.0 is csum's
    // math on identical per-row values.
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
      .select(col("l_orderkey"),
        centsOf32(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("cents"))
    bloomShedBig(oc.select(col("o_orderkey")), "o_orderkey", l, col("l_orderkey"))
      .join(oc, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg((sum(col("cents")) / lit(100.0)).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  /** q04: EXISTS as a left-semi join (no row duplication, no distinct).
    * r16: the 1996 orders slice keeps 15% of orders while the R-flagged
    * lineitem side is 33% of the fact (20M rows at sf10) — the semi's
    * probe side bloom-sheds on the orders keys before its exchange
    * (20M → ~3M rows at sf10; [[bloomShed]]). The semi join drops the
    * same rows either way — result identical, oracle unchanged. */
  def q04SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-01-01 00:00:00"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    val lShed = bloomShedBig(o.select(col("o_orderkey")), "o_orderkey", l,
      col("l_orderkey"))
    o.join(lShed, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** q05: TPC-H Q5 local-supplier volume, region-first join order: the
    * ASIA predicate reaches the fact through the SUPPLIER side before
    * any fact exchange — nation⋈region(ASIA) (constant dims, broadcast
    * by hint policy) prunes supplier to the region's 1/|regions|
    * slice, and that slice carries an explicit broadcast too:
    * supplier is the SMALL SF-linear dim (10⁴ rows per SF — ~60 MB
    * serialized even at the 100 TB design point, vs customer's 10×
    * that), so the hint holds where a customer/orders hint would be a
    * driver OOM. The fact then sheds 1−1/|regions| of its rows in the
    * map stage BEFORE its one o_orderkey exchange — at sf10 this
    * replaced a full 60M-row fact shuffle (measured 5.4 s → 2.9 s; the
    * r14 shape joined l⋈o first and exchanged everything). customer
    * prunes to the same region slice via the broadcast nation dim and
    * meets the fact on o_custkey, where AQE picks the strategy
    * (SF-linear — no hint; the c_nationkey = s_nationkey local-supplier
    * condition filters post-join). */
  def q05LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nAsia = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val supplier = Tables.supplier(spark, dir)
    val s = supplier
      .join(broadcast(nAsia), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, dir)
      .join(broadcast(nAsia.select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"))
      .join(broadcastIfUnder(SupplierHintMaxBytes, supplier)(s),
        col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(csum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** q06: TPC-H Q6 forecast revenue: pure scan→filter→scalar agg, zero
    * shuffle (single partial agg tree). */
  def q06ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(csum(col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** q07: global top-k — TakeOrderedAndProject, never a full sort. */
  def q07TopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** q08: windowed ranking per market segment (one shuffle on the
    * partition key). rank cast to long to match the oracle's BIGINT. */
  def q08WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rk", rank().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("c_mktsegment"), col("rk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rk"), col("c_custkey"))
  }

  /** q09: exact distinct counts per group (Expand-based partial distinct;
    * approx_count_distinct is exercised in specs, not the oracle). */
  def q09DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** q10: NOT EXISTS as left-anti join: orders with no returned line. */
  def q10AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val returned = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    o.join(returned, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** q11: aggregate + HAVING (post-aggregation filter). */
  def q11GroupHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(dsum(col("p_retailprice")).as("sum_retail"),
        count(lit(1)).as("n_parts"))
      .filter(col("sum_retail") > 2000.0)
      .orderBy(col("p_brand"))

  /** q12: TPC-H Q12-style conditional aggregation over a fact⋈fact join
    * (single shuffle on the order key; CASE sums stay in codegen). */
  def q12CaseAgg(spark: SparkSession, dir: String): DataFrame = {
    // r15b (guide §2.3 — narrower types across the exchange): the CASE
    // only reads o_orderpriority through the crit predicate, so the
    // boolean is computed MAP-SIDE and the orders exchange carries
    // (key, bool) instead of (key, string) — same aggregate, ~10 fewer
    // bytes per orders row on the wire at any SF.
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("crit"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("crit"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("crit"), 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** q13: TPC-H Q13 customer-order distribution via left outer join. */
  def q13OuterJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q14: ROLLUP over (returnflag, linestatus); grouping nulls coalesced
    * to 'ALL' so NULL-ordering differences between engines can't matter. */
  def q14Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n_rows"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** q15: UNION ALL of two filtered branches then one aggregation. */
  def q15UnionAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val big = e.filter(col("value") > 150.0)
      .select(col("event_type"), col("value"))
    val early = e.filter(col("ts") < ts("2024-01-08 00:00:00"))
      .select(col("event_type"), col("value"))
    big.unionAll(early)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q16: TPC-H Q17-style correlated scalar subquery, decorrelated as a
    * PARTITION-WIDE WINDOW instead of an aggregate + self-join: the
    * per-part average lands on each fact row from one
    * `avg over (partition by l_partkey)`, so the fact is scanned and
    * exchanged ONCE. The r14 aggregate+join-back form kept a shared
    * `repartition(l_partkey)` under both consumers, but Spark's
    * self-join attribute dedup re-aliases one side and the two exchange
    * subtrees no longer canonicalize equal — ReuseExchange misses, and
    * the sf10 stage profile shows the fact scanned AND exchanged twice
    * (48 + 37 CPU-s scan stages, 843 MB shuffle read). The window pays
    * one partition sort on the exchanged key instead — strictly less
    * than the second scan + exchange + join probe it replaces (5.8 s →
    * 3.3 s wall at sf10). */
  def q16ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val byPart = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(byPart))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(dsum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  /** q17: sessionization of the event stream — 30-minute inactivity gap
    * splits sessions. lag + cumulative sum over one window shuffle on
    * user_id (the natural 100 TB partitioning for event data). */
  def q17EventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q18: JSON property extraction (get_json_object stays in codegen). */
  def q18EventsJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** q19: time-bucketed aggregation (date_trunc → one shuffle on day). */
  def q19DateBucketAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", to_date(date_trunc("day", col("ts"))))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  /** q20: exact percentile stats per group — Spark `percentile` and
    * DuckDB `quantile_cont` both use linear interpolation over the sorted
    * group, so rounded values hash-match. ORACLE-MIRROR ONLY as a scale
    * design: exact `percentile` buffers every group value in ONE
    * aggregation buffer (billions of doubles per event type at 100 TB —
    * OOM, not slow); the engine's default at scale is [[
    * q20bPercentileSketch]]'s bounded mergeable summary. */
  def q20PercentileStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        round(min(col("value")), 2).as("min_v"),
        round(max(col("value")), 2).as("max_v"))
      .orderBy(col("event_type"))

  /** Accuracy knob for [[q20bPercentileSketch]] — the Greenwald-Khanna
    * summary guarantees rank error ≤ n/accuracy at O(accuracy·log n)
    * buffer entries. At this setting the summary is LOSSLESS for groups
    * up to ~5·10⁵ rows (rank error < 1), so the gate compares exact
    * values against DuckDB's `quantile_disc`; a 100 TB deployment dials
    * accuracy down (10³–10⁴) and accepts ±ε·n ranks for a buffer that
    * never grows past ~accuracy entries — the trade q20's exact form
    * cannot make at any setting. */
  val SketchAccuracy = 1000000

  /** q20b: percentile stats via the MERGEABLE SKETCH path — the form
    * that survives 100 TB. `approx_percentile` is partial-aggregable
    * (map-side summaries merge associatively through the shuffle), so
    * per-executor memory is bounded by the accuracy knob instead of the
    * group size. Hash-gated, not rows-only: both engines return the
    * exact discrete quantile (the element at rank ⌈p·n⌉ — verified
    * convention-identical on n∈{2,3,4,19,20} boundary cases and all
    * sf0.1 groups) while the summary's rank error stays under one. */
  def q20bPercentileSketch(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr(s"approx_percentile(value, 0.5, $SketchAccuracy)"), 4).as("p50"),
        round(expr(s"approx_percentile(value, 0.95, $SketchAccuracy)"), 4).as("p95"))
      .orderBy(col("event_type"))

  /** q21: TPC-H Q21 shape — EXISTS + NOT EXISTS on the fact: suppliers
    * that are the sole supplier on at least one multi-line order.
    *
    * Both correlated conditions are ROW-INDEPENDENT within an order —
    * "∃ another line with a different linenumber" holds for every line
    * of o iff o has ≥ 2 distinct linenumbers, and "∄ line with a
    * different suppkey" iff o has exactly 1 distinct suppkey — so the
    * three-legged semi+anti self-join collapses to ONE aggregate per
    * order: min/max of linenumber and suppkey (plain partial-aggregable
    * columns, no Expand, no distinct), filter min≠max / min=max, and a
    * tiny per-supplier count (qualifying orders are single-supplier, so
    * COUNT(*) of orders ≡ the original COUNT(DISTINCT l_orderkey) per
    * suppkey). r14 shipped the literal semi+anti plan — co-partitioned,
    * but still three 60M-row legs through one exchange + two joins
    * (7.6–9.5 s at sf10); the aggregate form is one map-side-combined
    * fact exchange (2.0 s, vs the baseline's 7.9 s on its EXISTS
    * plan). The oracle keeps the EXISTS/NOT-EXISTS SQL, so equivalence
    * is hash-proven at every gated SF, not argued. */
  def q21ExclusiveSupplier(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_linenumber")).as("min_ln"), max(col("l_linenumber")).as("max_ln"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .filter(col("min_ln") =!= col("max_ln") && col("min_sk") === col("max_sk"))
      .groupBy(col("min_sk").as("suppkey"))
      .agg(count(lit(1)).as("n_excl_orders"))
      .orderBy(col("n_excl_orders").desc, col("suppkey"))
      .limit(15)

  /** q23: funnel analysis — users progressing view → click → purchase in
    * event-time order. One shuffle on user_id producing per-user first
    * occurrence times (conditional min aggregation, map-side partial),
    * then stage flags are pure column arithmetic. The standard product
    * funnel at any scale. */
  def q23Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def firstTs(t: String): Column = min(when(col("event_type") === t, col("ts")))
    val perUser = e.groupBy(col("user_id")).agg(
      firstTs("view").as("t_view"),
      firstTs("click").as("t_click"),
      firstTs("purchase").as("t_purchase"))
    val s1 = col("t_view").isNotNull
    val s2 = s1 && col("t_click").isNotNull && col("t_click") > col("t_view")
    val s3 = s2 && col("t_purchase").isNotNull && col("t_purchase") > col("t_click")
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(s1, 1L).otherwise(0L)).as("viewed"),
      sum(when(s2, 1L).otherwise(0L)).as("clicked_after_view"),
      sum(when(s3, 1L).otherwise(0L)).as("purchased_after_click"))
  }

  /** q24: TPC-H Q8 market-share shape — one supplier nation's share of
    * ECONOMY-part revenue sold into ASIA customers, per order year. The
    * deepest join tree in the suite (7 tables, nation twice). r15 join
    * order: the type-filtered part slice (projected to its key — a
    * pure semi filter) and the name-attached supplier dim broadcast
    * explicitly (q05/q41's bound — the no-stats planner otherwise
    * exchanged the 60M fact on partkey AND suppkey before the order
    * join), so the fact sheds ~80% map-side and crosses ONE exchange
    * (o_orderkey); customer prunes to the ASIA slice via the broadcast
    * constant dims and meets the orders side on o_custkey under AQE
    * (customer-scale — never hinted). The share is a conditional-sum
    * ratio inside one aggregate pass. */
  def q24MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val p = part.filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n1 = Tables.nation(spark, dir)
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val supplier = Tables.supplier(spark, dir)
    val supp = supplier
      .join(broadcast(n2), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(n1), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcastIfUnder(PartHintMaxBytes, part)(p),
        col("l_partkey") === col("p_partkey"))
      .join(broadcastIfUnder(SupplierHintMaxBytes, supplier)(supp),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(custAsia, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        csum(when(col("supp_nation") === "NATION_2", rev).otherwise(lit(0.0)))
          / csum(rev), 4).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** q25: TPC-H Q19 shape — disjunctive conjunctions (OR of AND blocks)
    * across a part join (strategy left to AQE — part is SF-linear, so no
    * explicit broadcast hint). The predicate exercises what the
    * optimizer must NOT break: the common `l_partkey = p_partkey` stays
    * an equi-join key, per-branch conjuncts evaluate post-join, and the
    * lineitem-only conjuncts (quantity bounds) are pushed to the fact
    * scan as an OR-range filter. */
  def q25DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val b1 = col("p_type") === "ECONOMY" && col("l_quantity") >= 1 && col("l_quantity") <= 15 &&
      col("p_size") <= 10
    val b2 = col("p_type") === "STANDARD" && col("l_quantity") >= 10 && col("l_quantity") <= 25 &&
      col("p_size") <= 20
    val b3 = col("p_type") === "LARGE" && col("l_quantity") >= 20 && col("l_quantity") <= 35 &&
      col("p_size") <= 30
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2 || b3)
      .agg(csum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** q22: TPC-H Q22 shape — scalar subquery threshold + anti join:
    * above-average-balance customers with no urgent orders, grouped by
    * nation. The AVG is a broadcast scalar; the anti join shuffles on
    * custkey (or broadcasts the filtered orders side under AQE). */
  def q22DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal)) // 1-row scalar, broadcast like a subquery
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** q26: TPC-H Q2 shape — CORRELATED MIN subquery: for each ECONOMY
    * part, the supplier(s) that sold it at its minimum price. The
    * correlated `price = (SELECT min(price) WHERE same part)` is a
    * PARTITION-WIDE WINDOW MIN (r15, q16's rule): one fact scan, one
    * exchange on l_partkey, one partition sort — the r14
    * aggregate+join-back form shared a `repartition(l_partkey)` between
    * the min aggregate and the join side, but self-join attribute dedup
    * breaks ReuseExchange canonicalization and the sf10 profile showed
    * the fact scanned and exchanged TWICE (64 + 43 CPU-s scans, 1.7 GB
    * combined shuffle read; 7.2 s → 4.4 s wall after the rewrite).
    * The part sliver joins BEFORE the window (r15b — see the inline
    * comment: partition-level pruning commutes with the partition-wide
    * min); supplier joins post-filter under AQE (SF-linear — no hint);
    * nation broadcasts. DISTINCT collapses equal-price duplicate line
    * items.
    *
    * r7 note on the r6 bench regression (0.69→1.92 s, no code change):
    * the slowdown was run-environment inflation, not a plan flip (BENCH
    * now records load/heap to attribute this). The executed plan is
    * pinned hash-join-only by PlanAuditSpec. */
  def q26CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    // The part predicate selects whole window partitions (the window is
    // partitioned by partkey), so pruning before the window leaves every
    // surviving min unchanged, and the hinted sliver sheds ~24/25 of the
    // fact map-side before its one l_partkey exchange.
    val part = Tables.part(spark, dir)
    val p = part
      .filter(col("p_type") === "ECONOMY" && col("p_size") <= 15)
      .select(col("p_partkey"), col("p_brand"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(broadcastIfUnder(PartHintMaxBytes, part)(p),
        col("l_partkey") === col("p_partkey"))
      .withColumn("min_price",
        min(col("l_extendedprice")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("l_extendedprice") === col("min_price"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"),
        round(col("min_price"), 2).as("min_price"), col("s_name"), col("n_name"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_name"))
      .limit(20)
  }

  /** q27: SLIDING-FRAME window aggregate — trailing 7-observation moving
    * average of daily event value per type (the monitoring/trend query
    * class; q08 covers ranking windows, q17 lag, this covers frame
    * aggregation). ROWS BETWEEN 6 PRECEDING AND CURRENT ROW is a
    * row-count frame — trailing 7 OBSERVED days (identical in both
    * engines); a calendar-day trailing week is the RANGE-frame swap-in.
    * Shape at 100 TB: the daily pre-aggregation collapses the events
    * fact to |types|×|days| rows BEFORE the window, so the window's
    * per-partition sort is over day counts, not events; two shuffles
    * total ((type, day) partial agg, then type for the frame). The
    * frame average sums ≤ 7 doubles in day order on both engines —
    * deterministic — and rounds at the edge (§6). */
  def q27MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .withColumn("day", to_date(date_trunc("day", col("ts"))))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, Window.currentRow)
    daily // frame mean = exact frame sum / frame count (order-free)
      .withColumn("ma7", round(sum(col("day_value")).over(w).cast("double")
        / count(col("day_value")).over(w), 4))
      .select(col("event_type"), col("day"),
        col("day_value").cast("double").as("day_value"), col("ma7"))
      .orderBy("event_type", "day")
  }

  /** q28: CUBE multi-dimensional aggregate — all 2² grouping sets of
    * (o_orderstatus, o_orderpriority) in one pass (the OLAP subtotal
    * report q14's ROLLUP only covers hierarchically). Shape at 100 TB:
    * Spark's Expand operator replicates each input row once per grouping
    * set BETWEEN the partial and final agg, so the fact is still read
    * once and the shuffle carries ≤ |sets|·|groups| partial rows, not
    * 4× the fact. `gid` is the standard grouping_id bitmask; NULL group
    * cells are labelled 'ALL' (o_orderstatus/o_orderpriority are
    * non-nullable in TPC-H, so the label is unambiguous). */
  def q28Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg( // grouping() only resolves inside the grouping-sets Aggregate
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
          .cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        // sum in exact DECIMAL cents, then one double conversion: a
        // float SUM's value depends on add order, and at sf1 the
        // corpus-wide cube cell (~6M addends) straddled a round(,2)
        // boundary between engines. Per-row double→decimal(2) is
        // deterministic (a double is never an exact .005 tie — dyadic
        // rationals), the decimal sum is exact, and both engines
        // convert the SAME decimal to the same double bit pattern.
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_price"))
      .select(col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("gid", "status", "priority")

  /** q29: PIVOT — long→wide reshaping of the events stream into one row
    * per day with a column per event type (the dashboard/export query
    * class). The value list is given EXPLICITLY, which keeps the plan a
    * single scan + one (day)-keyed shuffle with map-side partial
    * pivot-aggregation; an implicit pivot would need an eager distinct
    * scan to discover the columns — a second full pass at 100 TB.
    * Missing (day, type) cells coalesce to 0 so both engines agree. */
  def q29Pivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = Tables.events(spark, dir)
      .withColumn("day", to_date(date_trunc("day", col("ts"))))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    pivoted.select(col("day") +:
        types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("day")
  }

  /** q32: RANGE-frame window — trailing 7 CALENDAR days (q27's ROWS
    * frame counts observations; this one counts days, so gaps in the
    * event stream shrink the frame's row count instead of stretching
    * its time span — the semantics monitoring dashboards usually mean
    * by "trailing week"). The order key is the integer day number, so
    * RANGE BETWEEN 6 PRECEDING is engine-portable (no interval-type
    * divergence). Same scale shape as q27: daily pre-aggregation
    * collapses events BEFORE the window; the frame sums ≤ 7 doubles in
    * day order on both engines. */
  def q32RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .withColumn("day_num", datediff(to_date(date_trunc("day", col("ts"))),
        lit("2024-01-01").cast("date")))
      .groupBy(col("event_type"), col("day_num"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("day_value"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-6, Window.currentRow)
    daily
      .withColumn("wk_value", sum(col("day_value")).over(w).cast("double"))
      .withColumn("wk_events", sum(col("n_events")).over(w))
      .select(col("event_type"), col("day_num").cast("int").as("day_num"),
        col("day_value").cast("double").as("day_value"),
        col("wk_value"), col("wk_events"))
      .orderBy("event_type", "day_num")
  }

  /** q33: TPC-H Q20-flavoured dominant-supplier report — for every part,
    * the supplier shipping the largest quantity and its share of the
    * part's total (threshold-free: a fixed share cut-off dilutes to an
    * empty result as supplier count grows with SF, but argmax-per-group
    * is meaningful at every scale). Quantities are integer-valued
    * doubles, so the per-supplier sums are EXACT in both engines
    * (< 2^53) and the ordering cannot diverge; the share is one
    * divide, rounded at the edge.
    *
    * r15 shape: TWO STACKED AGGREGATES on one l_partkey clustering —
    * the fact repartitions on l_partkey once, (l_partkey, l_suppkey)
    * sums run exchange-free on that clustering, and the per-part
    * rollup computes total/count AND the argmax in the SAME pass via a
    * lexicographic struct-min (min over (−q, suppkey, q) ≡ "largest q,
    * then smallest suppkey" — structs are orderable, Min is plain
    * partial-aggregable codegen). The r14 form kept the pair aggregate
    * as a shared subtree under a rollup, an argmax window, and their
    * join — but self-join attribute dedup defeats ReuseExchange, so
    * the fact was scanned and aggregated TWICE and the windowed branch
    * re-sorted 50M pair rows (measured 360 executor-CPU-s at sf10 vs
    * ~150 for the stacked form; 7.1 s → 4.0 s wall). The row_number
    * argmax idiom this replaced stays first-class via
    * [[graft.plans.WindowTopKRule]] (own spec suite + PlanAuditSpec's
    * idiom pin — the rule exists for argmax queries whose k > 1 or
    * whose aggregate can't fold into a struct ordering). */
  def q33DominantSupplier(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("q")).as("tq"), count(lit(1)).as("n_suppliers"),
        min(struct((-col("q")).as("negq"), col("l_suppkey").as("sk"),
          col("q").as("qv"))).as("top"))
      .select(col("l_partkey"), col("top.sk").as("top_suppkey"),
        col("n_suppliers"), round(col("top.qv") / col("tq"), 4).as("share"))
      .orderBy("l_partkey")

  /** q34: TPC-H Q17 shape — yearly revenue impact of small-quantity
    * orders: for one brand's parts, sum the revenue of line items whose
    * quantity is below 20% of that part's average ordered quantity
    * (scaled /7 to a yearly figure, Q17's convention). The correlated
    * per-part AVG subquery is a partition-wide window over l_partkey
    * (r15, q16's rule — one scan + one exchange; the old
    * aggregate+join-back read the narrowed fact twice);
    * the brand join narrows the fact first (AQE broadcasts the filtered
    * part side at small SF; no explicit hint — part is SF-linear).
    * Engine parity: quantities are integer-valued,
    * so the 20%-of-avg gate cross-multiplies in integers
    * (5·qty·cnt < Σqty — no float boundary, t17 precedent); the only
    * float is the final revenue sum, rounded at the edge. */
  def q34SmallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
    val sel = Tables.lineitem(spark, dir)
      .join(brandParts, col("l_partkey") === col("p_partkey"))
      // floor, not a bare cast: Spark's cast(long) truncates while
      // DuckDB's CAST rounds — floor on BOTH sides keeps the integer
      // gate mirror-exact even for non-integral quantities
      .select(col("l_partkey"), floor(col("l_quantity")).cast("long").as("qty"),
        col("l_extendedprice"))
    // r15: per-part totals as PARTITION-WIDE WINDOWS (q16's rule) — the
    // aggregate+join-back form re-scanned the narrowed fact (the doc's
    // old "read twice" trade); one exchange + partition sort replaces it
    val byPart = Window.partitionBy(col("l_partkey"))
    sel
      .withColumn("sq", sum(col("qty")).over(byPart))
      .withColumn("cnt", count(lit(1)).over(byPart))
      .filter(lit(5L) * col("qty") * col("cnt") < col("sq"))
      // dsum, not sum: l_extendedprice is a raw 2-dec column, so the
      // exact decimal sum is order-independent on both engines; the
      // /7.0 then divides identical doubles (r12's q28 flake class).
      .agg(round(dsum(col("l_extendedprice")) / lit(7.0), 2).as("avg_yearly"))
  }

  /** q35: TPC-H Q7 shape — bilateral trade volume: revenue shipped
    * between a nation PAIR per year, both directions. The distinctive
    * shape is one dimension table (nation) playing TWO roles — the
    * supplier's nation and the customer's nation — with a disjunctive
    * pair predicate across the roles. Plan: nation is
    * constant-cardinality (25 rows) so BOTH role copies are broadcast
    * per the hint policy; the `IN (A,B)` half of the pair predicate is
    * applied at each role join, narrowing supplier/customer (and through
    * them the fact rows) before the two fact-side shuffles
    * (lineitem⋈orders on o_orderkey, then o_custkey to the customer
    * side); the cross-role (A,B)|(B,A) disjunction is evaluated after
    * both roles are attached, on already-narrowed rows. supplier and
    * customer are SF-linear — no hint, AQE decides (q24 precedent).
    * Year extraction keys the final 1-shuffle aggregation:
    * (supp_nation, cust_nation, year) is ≤ 2·|years| groups. */
  def q35VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_3")
    val nations = Tables.nation(spark, dir)
      .filter(col("n_name").isin(pair: _*))
    // r15: the pair-filtered supplier slice (2/|nations| of an already
    // supplier-scale dim — q05's broadcast bound) is explicitly
    // broadcast, so the fact sheds ~92% of its rows map-side BEFORE its
    // one o_orderkey exchange; the planner's no-stats estimate kept the
    // join-result slice un-broadcast and exchanged the full 60M-row
    // fact at sf10 (measured 849 MB shuffle read → gone, 4.1 s → 2.3 s)
    val supplier = Tables.supplier(spark, dir)
    val supp = supplier
      .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("cust_nation"))
    // the per-item revenue is rounded to INTEGER CENTS before the sum:
    // this group's true sum sits within one ulp of a half-cent rounding
    // boundary at sf0.01, where round(sum, 2) flips on summation order —
    // an integer-cent sum is exact and order-independent (q34's
    // cross-multiplication idea applied to money), and the final /100
    // divide starts from identical bits in any engine
    // r16 MEASURED AND REJECTED (r15 verdict item 6): bloom-shedding the
    // supp-filtered fact on the customer-pruned orders keys (the
    // q03/q04/q42 move — only ~1/12 of the 4.8M supp-filtered sf10 rows
    // survive the o_orderkey meet) made q35 5.5 s vs 3.2 s at sf10:
    // unlike q03's date-windowed oc, q35's keys side is itself a FULL
    // 15M-row orders⋈customer join, and the bloom path evaluates it
    // three times (count + filter build + the join) — two extra
    // order-scale joins cost more than the ~100 MB exchange they shed.
    // Pinning ord to dodge the re-evaluation would checkpoint an
    // |orders|-scale relation (≈1/12 of orders — far above the
    // |parts|/|customers| pins this repo allows). The two fact-side
    // exchanges (o_orderkey meet + the tiny post-partial-agg group) are
    // Q7's minimum without bucketing — recorded as the named inherent
    // cost in DEPLOY.md.
    Tables.lineitem(spark, dir)
      .join(broadcastIfUnder(SupplierHintMaxBytes, supplier)(supp),
        col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * lit(100), 0).cast("long")) / lit(100.0), 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** ANSI NTILE bucket from an exact 1-based global rank, all-integer:
    * with n rows and k tiles the first (n mod k) tiles hold ceil(n/k)
    * rows and the rest floor(n/k). Factored out so the spec can pin the
    * formula against Spark's own `ntile` window on uneven splits (the
    * gate SFs all divide evenly — the spec covers the n mod k ≠ 0 arm). */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // non-negative integral division (Column `/` is double division;
    // exact below 2^53, and rank/n are far below that at any scale —
    // floor+cast keeps the arithmetic on the safe integer lattice)
    def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")
    val q = idiv(n, lit(k.toLong))
    val r = n % lit(k.toLong)
    val big = q + lit(1L)
    when(rank <= r * big, idiv(rank - lit(1L), big) + lit(1L))
      .otherwise(lit(1L) + r +
        idiv(rank - r * big - lit(1L), greatest(q, lit(1L))))
  }

  /** The ranked relation behind [[q36SpendDeciles]]. A snapshotting
    * `pin` materializes the slice assignment once, so the offset branch
    * and the rank branch read the same pid assignment by construction,
    * not by exchange reuse and a repeated range-boundary sample.
    * [[Pin.Off]] is the plan-audit form, which pins the RangePartitioning
    * exchange and its one reused materialization. */
  private[graft] def spendRanks(spark: SparkSession, dir: String,
      pin: Pin): DataFrame = {
    val spend0 = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    // A range exchange re-runs its child to sample boundaries, so the
    // |customers|-row aggregate is pinned, but only locally: the Reliable
    // form recomputes this deterministic aggregate rather than keep an
    // executor-local block its durability would depend on.
    val spend = if (pin == Pin.Local) pin(spend0, "q36-spend") else spend0
    val parted = pin(spend
      .repartitionByRange(col("cents").desc, col("o_custkey").asc)
      .withColumn("pid", spark_partition_id().cast("long")), "q36-ranks")
    val wLocal = Window.partitionBy(col("pid"))
      .orderBy(col("cents").desc, col("o_custkey").asc)
    val local = parted.withColumn("lrn", row_number().over(wLocal).cast("long"))
    // per-slice counts: ≤ #partitions rows; the prefix window is over
    // that bounded relation, not the data. Constant-partitioned ON
    // PURPOSE (t22's rule): the single-partition key marks the window
    // as intentionally global, so the "no partition defined" warning
    // only ever flags accidents. NON-FOLDABLE on purpose — Spark 4's
    // EliminateWindowPartitions folds a literal key away, which put the
    // warning back; `pid % 1` is constant 0 but column-derived, so it
    // survives optimization.
    val wOff = Window.partitionBy(col("pid") % 1).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
    val total = offsets.agg(sum(col("cnt")).as("n_total"))
    local
      .join(broadcast(offsets.select(col("pid").as("opid"), col("off"))),
        col("pid") === col("opid"))
      .crossJoin(broadcast(total))
      .withColumn("rank", col("off") + col("lrn"))
  }

  /** q36: exact global DECILE report of per-customer lifetime spend —
    * rank-based NTILE(10) computed WITHOUT a single-partition window
    * over the data. A bare `ntile(10) over (order by …)` plans as one
    * window partition holding every row — the global-sort analogue of
    * q20's buffer-exact percentile, an executor OOM at 100 TB. Shipped
    * plan is two-phase distributed ranking (the TeraSort offset idiom,
    * p05's per-shard cumsum applied to global order statistics):
    * (1) range-repartition the per-customer aggregate on the sort key
    * (cents desc, custkey) — Spark's range exchange samples boundaries,
    * so slices are balanced regardless of spend skew — and take
    * row_number per slice (window partitioned by slice id: parallelism
    * = #slices, no global barrier); (2) per-slice counts (≤ #partitions
    * rows, KB-sized at any scale) get an exclusive prefix-sum offset in
    * a bounded driver-adjacent window and broadcast-join back; global
    * rank = offset + local rank, exact because range slices are
    * order-disjoint. Decile then follows from the rank by integer
    * arithmetic (ntileFromRank) — no float boundary anywhere: spend is
    * summed in integer cents (q35 money rule), output is counts and
    * cent totals. Window input is the GROUPED per-customer relation
    * (q27 precedent: the fact collapses before any window). */
  def q36SpendDeciles(spark: SparkSession, dir: String,
      pin: Pin.Snapshot = Pin.Local): DataFrame =
    spendRanks(spark, dir, pin)
      .withColumn("decile", ntileFromRank(col("rank"), col("n_total"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy("decile")

  /** q37: single-pass TABLE PROFILE — the ANALYZE-style data-quality
    * report a pipeline runs before training: per column of orders,
    * null count and exact distinct count, plus the row count. ONE scan
    * of the table computes every statistic: Spark plans the multi-column
    * distinct aggregate as a single pass through an Expand operator
    * (each row fans out once per distinct-column, then partial-aggs
    * collapse per column before the shuffle — the fan-out factor is
    * #profiled columns, the scan count is 1; a per-column loop would be
    * N scans of 100 TB). The wide 1-row aggregate is unpivoted with
    * `stack` into the long-form report. All-integer output. At larger
    * column counts or when exactness isn't needed, the swap-in is
    * approx_count_distinct per column (q09 precedent: HLL partial-agg,
    * no Expand) — the exact form is the oracle-matched default. */
  def q37TableProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__n"),
      countDistinct(col(c)).as(s"${c}__d")))
    val wide = Tables.orders(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', ${c}__n, ${c}__d").mkString(", ")
    wide.select(
        expr(s"stack(${cols.length}, $stackArgs)" +
          " AS (col_name, n_nulls, n_distinct)"),
        col("n_rows"))
      .orderBy("col_name")
  }

  /** q37b: the AT-SCALE table profile — q37's documented
    * approx_count_distinct swap-in, shipped under test instead of just
    * described. Exact multi-column distinct plans through an Expand
    * (fan-out = #profiled columns — the shuffle carries one replicated
    * row per column per input row); HyperLogLog++ sketches are
    * mergeable partial aggregates, so the approx form is ONE plain
    * partial-agg pass with no Expand at ANY column count — the profile
    * a 100 TB ANALYZE actually runs. Same single-scan stack-unpivot
    * report shape as q37. Rows-only (the sketch estimate is
    * engine-specific — DuckDB's approx_count_distinct uses a different
    * HLL, so there is no cross-engine hash); the spec pins every
    * estimate within the configured rsd's ±3σ of q37's exact counts,
    * the exact row/null columns (integer, sketch-free) equal to q37's,
    * and the no-Expand plan shape.
    *
    * `rsd` sizes the sketch, and the sketch sizes the PLAN: Spark's
    * HLL++ is a declarative aggregate whose buffer is 2^p·6/64 long
    * attributes with p = ⌈2·log₂(1.106/rsd)⌉ — at rsd 0.02 that is
    * p = 12 → 384 buffer attributes PER PROFILED COLUMN, and the 6-col
    * profile's serialized stage crossed the 1 MiB large-task-binary
    * warning (measured 1138 KiB, the r10 bench-tail nit). The default
    * is Spark's own 0.05 (p = 9 → 48 words/col, ~⅛ the plan mass,
    * warning gone); a tighter profile stays one `rsd` argument away and
    * pays its own plan weight knowingly. */
  def q37bProfileApprox(spark: SparkSession, dir: String): DataFrame =
    q37bProfileApprox(spark, dir, rsd = 0.05)

  def q37bProfileApprox(spark: SparkSession, dir: String, rsd: Double): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__n"),
      approx_count_distinct(col(c), rsd).as(s"${c}__d")))
    val wide = Tables.orders(spark, dir).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c => s"'$c', ${c}__n, ${c}__d").mkString(", ")
    wide.select(
        expr(s"stack(${cols.length}, $stackArgs)" +
          " AS (col_name, n_nulls, n_distinct_est)"),
        col("n_rows"))
      .orderBy("col_name")
  }

  /** Daily aggregate STATE of an events relation: (event_type, day) →
    * count + value total in integer cents (q35 money rule: exact and
    * order-independent, so states merge associatively with no float
    * drift). This is the mergeable-summary contract behind
    * [[q38IncrementalRollup]] — every statistic is a partial aggregate
    * (counts and integer sums), so state ⊎ delta = recompute, exactly. */
  def dailyState(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(date_trunc("day", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))

  /** Merge an existing daily state with a batch of newly-arrived raw
    * events: aggregate the delta to the same state schema, union, and
    * re-sum per key. One shuffle over \|state\| + \|delta-days\| rows —
    * the incremental-maintenance pattern that replaces rescanning
    * history at 100 TB. Late arrivals are the POINT: delta events may
    * touch days the state already covers, and the integer partial
    * aggregates re-combine exactly. */
  def mergeDailyState(state: DataFrame, deltaEvents: DataFrame): DataFrame =
    mergeStates(state, dailyState(deltaEvents))

  /** State ⊎ state — the associative/commutative core of
    * [[mergeDailyState]], exposed for consumers that fold ALREADY
    * AGGREGATED summaries (StreamRollup's dead-letter sentinel rides
    * this so retention accounting uses the same one merge definition).
    * NULL day is a legal key: groupBy treats it as one group, which is
    * exactly how the sentinel row accumulates. */
  def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_events")).as("n_events"), sum(col("cents")).as("cents"))

  /** q38: INCREMENTAL daily rollup — maintain, don't rescan. The gate
    * splits events into an 80% "already aggregated" arrival slice and a
    * 20% late-arrival delta (interleaved by event_id, so the delta hits
    * days the state already holds), folds the delta into the stored
    * state with [[mergeDailyState]], and must hash-match the oracle's
    * one-shot GROUP BY over everything — the cross-engine proof that
    * the state is a true mergeable summary. In production the state
    * side is the stored rollup parquet (days × types rows, KBs), so
    * each maintenance run costs one delta scan + one tiny shuffle
    * instead of a 100 TB history rescan; the spec additionally folds
    * three arrival chunks sequentially and in swapped order
    * (associativity + commutativity of the merge). */
  def q38IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val history = ev.filter(pmod(col("event_id"), lit(5)) =!= 0)
    val delta = ev.filter(pmod(col("event_id"), lit(5)) === 0)
    mergeDailyState(dailyState(history), delta)
      .orderBy("event_type", "day")
  }

  /** q40: TPC-H Q18 shape — LARGE-VOLUME orders: customers whose single
    * orders exceed 300 total units (the group-filtered IN-subquery-on-
    * the-fact pattern; q11 filters groups by their own aggregate, this
    * JOINS the qualifying group keys back through two dimensions). Plan
    * at 100 TB: the quantity rollup is the fact's one shuffle on
    * l_orderkey, and the join-back keys on that same single column —
    * the aggregate's partitioning satisfies the join (q26's re-key
    * lesson applied from the start); orders/customer are SF-linear (no
    * hint, AQE chooses); top-20 is TakeOrdered. Quantities are integral
    * doubles (sums exact below 2^53), so the >300 gate and the BIGINT
    * cast sit on no float boundary. */
  def q40BigOrders(spark: SparkSession, dir: String): DataFrame = {
    // Orderkeys are scattered across scan tasks, so a map-side partial
    // aggregate collapses almost nothing; repartitioning first drops it.
    // The no-stats planner cannot see that `big` keeps ~0.3% of orders,
    // so `big` and orders⋈big carry gated hints: with them the fact is
    // the query's one exchange.
    val lineitem = Tables.lineitem(spark, dir)
    val gate = Tables.atRestBytes(lineitem) <= BigOrdersHintMaxFactBytes
    def hinted(df: DataFrame): DataFrame = if (gate) broadcast(df) else df
    val big = hinted(lineitem
      .select(col("l_orderkey"), col("l_quantity"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300))
    val obig = hinted(Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey")))
    obig
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("sum_qty").cast("long").as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Come-off bound for q40's aggregate-sliver broadcast hints, in
    * at-rest fact bytes, since the sliver's own size is unknown before
    * it runs: at 128 GiB ≈ SF1000 the 0.3% big-order fraction
    * serializes to ~100 MB. Past it both hints come off. */
  private[graft] val BigOrdersHintMaxFactBytes: Long = 128L << 30

  /** q39: corpus SNAPSHOT DIFF — the dataset regression test every
    * pipeline rerun needs at 100 TB: given two corpus versions, report
    * per source how many docs were added, removed, changed, or kept.
    * The two versions derive deterministically from the gate corpus
    * (v1 drops doc_id ≡ 0 mod 7 — those appear as ADDED; v2 drops
    * ≡ 0 mod 11 — REMOVED — and rewrites the text of ≡ 0 mod 13 —
    * CHANGED). Plan: content identity is an md5 fingerprint computed
    * map-side on each version, then ONE co-partitioned FULL OUTER join
    * on doc_id (the only join type that sees adds and removes in a
    * single pass — both sides shuffle once on the key, no second
    * anti-join sweep) feeding conditional-count rollups per source.
    * All-integer output. */
  def q39SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val v1 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source").as("src1"), md5(col("text")).as("fp1"))
    val v2 = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      .withColumn("text2",
        when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      .select(col("doc_id"), col("source").as("src2"), md5(col("text2")).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("fp1").isNull, lit("added"))
          .when(col("fp2").isNull, lit("removed"))
          .when(col("fp1") =!= col("fp2"), lit("changed"))
          .otherwise(lit("same")).as("status"))
      .groupBy(col("source"))
      .agg(sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "same", 1L).otherwise(0L)).as("n_same"))
      .orderBy("source")
  }

  /** q31: TPC-H Q11 shape — filter GROUPS by their share of a global
    * aggregate: parts whose revenue exceeds 1.3× the mean per-part
    * revenue ("important stock"; the mean-relative form is
    * scale-invariant where Q11's fixed fraction is not). Two aggregates
    * over the same grouped relation: the per-part agg shuffles once on
    * l_partkey; the 1-row mean re-aggregates the ALREADY-GROUPED rows
    * (|parts|, not |lineitem|) and joins back as a broadcast scalar, so
    * the fact is scanned once at any scale. The closest group sits ≥0.2%
    * from the threshold on this data — three orders of magnitude above
    * cross-engine float-sum noise (q16 precedent). `pin` snapshots the
    * grouped relation both aggregates read; [[Pin.Off]] is the
    * plan-audit form, whose lineage still shows the scan and exchange a
    * snapshot truncates to `Scan ExistingRDD`. */
  def q31ImportantParts(spark: SparkSession, dir: String,
      pin: Pin = Pin.Local): DataFrame = {
    // Partkeys are scattered across scan tasks, so a map-side partial
    // aggregate collapses almost nothing; repartitioning first drops it.
    // cents is INT on the wire: a per-ROW revenue in cents is < 2^31 at
    // any SF (it is a price, not an aggregate) — 12 B/row instead of
    // 16 B across the query's one big exchange; the sum aggregates to
    // long as before.
    val perPart0 = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * lit(100), 0).cast("int").as("cents")) // exact integer cents
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("cents")).as("rev"))
    // Two consumers (the mean and the join-back) read the bounded
    // aggregate, so it is pinned rather than re-aggregated per consumer.
    val perPart = pin(perPart0, "q31-perpart")
    val meanRev = perPart // mean stays in cents: exact long sum / count
      .agg((sum(col("rev")).cast("double") / count(lit(1))).as("mean_rev"))
    perPart.crossJoin(broadcast(meanRev))
      .filter(col("rev").cast("double") > lit(1.3) * col("mean_rev"))
      .select(col("l_partkey"), (col("rev") / lit(100.0)).as("revenue"),
        round(col("rev").cast("double") / col("mean_rev"), 4).as("x_mean"))
      .orderBy(col("revenue").desc, col("l_partkey"))
  }

  /** q30: set operations — year-over-year customer retention via
    * INTERSECT / EXCEPT over the 1997 and 1998 buyer sets. Each set op
    * plans as distinct + left-semi/anti join co-partitioned on
    * o_custkey; all six set-op inputs ride ONE o_custkey exchange of
    * the year-sliced fact (the shared flags aggregate below) — no row
    * explosion and no repeated fact shuffle at any scale. Output is
    * the 3-segment retention report (integer counts — no float
    * boundary). */
  def q30SetOps(spark: SparkSession, dir: String): DataFrame = {
    // ONE exchange total (r15/r15b): the two buyer sets are sliced
    // from a shared per-customer year-flag aggregate — one shuffle of
    // the two-year orders slice on o_custkey — and the set-op
    // cardinalities collapse to conditional sums over those flags (see
    // below; the r14 per-branch `distinct()` shapes re-shuffled the
    // slice up to six times). Flags are computed with ts-range
    // predicates, not year(), keeping the buyer sets bit-identical to
    // the old filters.
    val in97 = col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
      col("o_orderdate") < ts("1998-01-01 00:00:00")
    val in98 = col("o_orderdate") >= ts("1998-01-01 00:00:00") &&
      col("o_orderdate") < ts("1999-01-01 00:00:00")
    val flags = Tables.orders(spark, dir)
      .filter(in97 || in98)
      .select(col("o_custkey"), in97.as("y97"), in98.as("y98"))
      .groupBy(col("o_custkey"))
      .agg(max(col("y97")).as("in97"), max(col("y98")).as("in98"))
    // r15b: the flags relation already carries BOTH membership bits on
    // its one row per customer, so the three set-op cardinalities are
    // conditional sums over flags — |y97 ∩ y98| = #(in97 ∧ in98),
    // |y97 ∖ y98| = #(in97 ∧ ¬in98), |y98 ∖ y97| = #(¬in97 ∧ in98);
    // y97/y98 are already duplicate-free (grouped by o_custkey), so
    // INTERSECT/EXCEPT's distinct semantics are vacuous here. The old
    // three-branch form re-aggregated the flag slices and ran a semi +
    // two anti joins on top; this is ONE row-count pass over the
    // grouped rows (sf10: 2.41 → 1.57 s in the scoped bench, 0.79 s
    // isolated; plan: 3 joins + 3 aggregates → 1 aggregate + stack).
    // stack unpivots the 1-row wide
    // aggregate; coalesce keeps the degenerate empty-corpus counts 0
    // like count(*) would. Hash-proven against the unchanged oracle
    // INTERSECT/EXCEPT SQL at every gated SF.
    flags
      .agg(
        sum(when(col("in97") && col("in98"), 1L).otherwise(0L)).as("n_both"),
        sum(when(col("in97") && !col("in98"), 1L).otherwise(0L)).as("n_o97"),
        sum(when(!col("in97") && col("in98"), 1L).otherwise(0L)).as("n_o98"))
      .select(expr(
        "stack(3, 'both', coalesce(n_both, 0L)," +
          " 'only_1997', coalesce(n_o97, 0L)," +
          " 'only_1998', coalesce(n_o98, 0L))" +
          " AS (segment, n_customers)"))
      .orderBy("segment")
  }

  /** Exact integer-cent revenue term (q35's money rule, factored out for
    * the r8 TPC-H shapes): per-item cents are rounded ONCE from the
    * identical IEEE product both engines compute, then summed as longs —
    * order-independent and mirror-exact at any scale. */
  private def centsOf(c: Column): Column = round(c * lit(100), 0).cast("long")

  /** Per-ROW cents as INT for exchange-crossing projections (guide
    * §2.3 — narrower types): a single line/order price in cents is
    * bounded by the price domain (~10⁷), not by SF, so int is safe at
    * any scale; Spark widens sum(int) to long, so downstream aggregates
    * are bit-identical to the centsOf(long) form. NEVER use for
    * aggregated cents (those grow with SF). */
  private def centsOf32(c: Column): Column = round(c * lit(100), 0).cast("int")

  /** q41: TPC-H Q9 shape — PROFIT by nation and year through a
    * part-FILTERED multi-fact star: lineitem joined to a name-filtered
    * part slice, its supplier, and the supplier's nation, aggregated on
    * (nation, ship year). The testdata has no partsupp table, so unit
    * cost is proxied as half the part's retail price — the plan shape
    * (the point of the query) is unchanged. Plan at 100 TB: the
    * `p_name LIKE '%gear%'` filter prunes part BEFORE its join (pushed
    * to the part scan); both dim sides broadcast (r15 — see the body
    * comment) so the fact never exchanges and the final rollup is
    * ≤ |nations|·|years| groups. Profit is summed
    * in integer cents ([[centsOf]]), revenue and cost each rounded
    * per-item from identical IEEE products. */
  def q41ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val gearParts = part
      .filter(col("p_name").like("%gear%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val supplier = Tables.supplier(spark, dir)
    val supp = supplier
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    // Both dim sides carry gated hints: the no-stats planner otherwise
    // exchanges the 60M-row sf10 fact twice (partkey, then suppkey).
    Tables.lineitem(spark, dir)
      .join(broadcastIfUnder(PartHintMaxBytes, part)(gearParts),
        col("l_partkey") === col("p_partkey"))
      .join(broadcastIfUnder(SupplierHintMaxBytes, supplier)(supp),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).as("o_year"))
      .agg(round(sum(centsOf(col("l_extendedprice") * (lit(1) - col("l_discount")))
          - centsOf(col("p_retailprice") * col("l_quantity") * lit(0.5)))
        / lit(100.0), 2).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q42: TPC-H Q10 shape — RETURNED-item revenue by customer: who
    * cost us the most in returns last quarter. The shape users hit: a
    * returnflag-filtered fact, a date-windowed second fact, two
    * dimension attach joins, a per-customer rollup, top-20. Plan at
    * 100 TB: both filters are scan-pushed (returnflag on lineitem,
    * the quarter window on orders) BEFORE the o_orderkey shuffle; the
    * customer join keys the rollup's own shuffle (group keys are
    * functionally dependent on c_custkey, so one exchange serves
    * both); nation broadcasts (constant dim), customer doesn't
    * (SF-linear, AQE decides); top-20 is TakeOrdered on integer
    * cents — no float ordering anywhere. */
  def q42ReturnedTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), // int on the wire (centsOf32 bound)
        centsOf32(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("cents"))
    val ordQ = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-04-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
    // r16: the quarter window keeps ~4% of orders while the R flag
    // keeps 33% of the fact — the most skewed selectivity pair in the
    // suite (sf10: 20M returned rows shuffled to keep 0.76M). The
    // orders keys bloom-shed the returned side before its exchange
    // ([[bloomShed]], 26× fewer fact rows shuffled at sf10); the join
    // drops the same rows either way.
    bloomShedBig(ordQ.select(col("o_orderkey")), "o_orderkey", returned,
        col("l_orderkey"))
      .join(ordQ, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(col("cents")).as("rev_cents"))
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"),
        col("rev_cents"))
      .orderBy(col("rev_cents").desc, col("c_custkey"))
      .limit(20)
  }

  /** q43: TPC-H Q12 shape — shipping-class PRIORITY audit: per
    * lineitem class (returnflag stands in for the testdata's absent
    * shipmode — same constant cardinality), how many 1997-shipped items
    * belong to critical- vs normal-priority orders. The shape is Q12's:
    * a date-windowed fact joined to its header, classified by a CASE
    * over a header attribute, conditional counts per class. Plan: the
    * ship-year window is scan-pushed on lineitem; ONE o_orderkey
    * shuffle joins the header; the CASE runs map-side post-join and the
    * rollup is ≤ |classes| groups. All-integer output — no float
    * anywhere. */
  def q43PriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    val items97 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .select(col("l_orderkey"), col("l_returnflag"))
    // r15b: crit computed map-side, boolean on the wire (q12's rule)
    val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    items97
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), crit.as("crit")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("crit"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(col("crit"), 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q44: TPC-H Q14 shape — PROMO revenue share: of one month's shipped
    * revenue, what percentage came from promotional parts. The shape is
    * the conditional-share scalar: one narrow month window, one
    * part-attribute join, a single row out. Plan: the month window is
    * scan-pushed on lineitem so the p_partkey join touches a sliver of
    * the fact (AQE broadcasts the surviving side); both the promo and
    * total terms come from the SAME single aggregation pass —
    * conditional sum, not two scans. Share = exact promo cents / exact
    * total cents: the division starts from identical longs in any
    * engine, so the rounded percentage is mirror-exact. */
  def q44PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val sept = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-09-01 00:00:00") &&
        col("l_shipdate") < ts("1997-10-01 00:00:00"))
      .select(col("l_partkey"),
        centsOf(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("cents"))
    sept.join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        round(col("promo_cents") * lit(100.0) / col("total_cents"), 4)
          .as("promo_share_pct"))
  }

  /** q45: TPC-H Q16 shape — SUPPLIER-COUNT per part class with a
    * NOT-IN exclusion: for parts outside one brand and outside the
    * promo type, how many DISTINCT suppliers ship them, excluding
    * low-standing suppliers (acctbal < 1000 — the testdata's stand-in
    * for Q16's complaints filter). The part-supplier relation is
    * derived from lineitem (no partsupp table) as the RAW (l_partkey,
    * l_suppkey) projection, NOT distinct-ed first: count(DISTINCT s)'s
    * own two-phase plan partial-aggregates (brand, type, size, supp)
    * map-side before its one shuffle, so a leading distinct() is a
    * strictly redundant second exchange at EVERY corpus — duplicate
    * pairs are absorbed by the same map-side hash either way, and the
    * anti/part joins are duplicate-insensitive (r15: dropping it cut a
    * full 6M-row shuffle+agg chain at sf1, where 98.5% of pairs are
    * unique and the "dedup" shuffled 5.9M of 6M rows for nothing).
    * Plan: the supplier exclusion is a LEFT ANTI
    * join against a filtered SF-linear dim (never NOT IN's
    * null-trapped subquery form, same distributed shape); brand/type
    * prune part before its join; count(DISTINCT s) per (brand, type,
    * size) shuffles once on the group key. All-integer output. */
  def q45SupplierCountByClass(spark: SparkSession, dir: String): DataFrame = {
    val partSupp = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
    val excluded = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO")
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    partSupp
      .join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(parts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** q46: TPC-H Q15 shape — TOP supplier(s) by one quarter's revenue,
    * ties preserved: the global-argmax-over-an-aggregated-view pattern
    * (Q15's revenue view + scalar MAX), distinct from q16's correlated
    * scalar threshold and q33's per-GROUP argmax. Plan at 100 TB: the
    * quarter window is scan-pushed, the revenue view is the fact's ONE
    * shuffle on l_suppkey (partial-agg combined), the MAX is a 1-row
    * aggregate of the ALREADY-AGGREGATED view (|suppliers| rows, never
    * the fact) broadcast back as a nested-loop filter, and the supplier
    * name attach joins the surviving handful of rows. Revenue in
    * integer cents ([[centsOf]]) — the tie semantics are exact, no
    * float-equality trap.
    *
    * The view is read twice (winner filter + MAX), and Catalyst plans
    * the two reads as two fact scans, so the |suppliers|-row view is
    * snapshotted by `pin` and both branches read it: one fact scan,
    * spec-pinned. */
  def q46TopSupplier(spark: SparkSession, dir: String,
      pin: Pin.Snapshot = Pin.Local): DataFrame = {
    val rev0 = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-10-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(centsOf(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("total_cents"))
    val rev = pin(rev0, "q46-rev")
    val maxRev = rev.agg(max(col("total_cents")).as("max_cents"))
    rev.crossJoin(broadcast(maxRev))
      .filter(col("total_cents") === col("max_cents"))
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"))
      .orderBy("s_suppkey")
  }
}
