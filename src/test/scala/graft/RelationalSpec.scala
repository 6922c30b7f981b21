package graft

import graft.operators.Relational

class RelationalSpec extends GraftSuite {

  test("every registered query runs at sf0.001 and is non-degenerate") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned no rows at sf0.001")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("q01 pricing summary has the 6 TPC-H flag/status groups") {
    val rows = Relational.q01PricingSummary(spark, sf).collect()
    assert(rows.length == 6)
    val qty = rows.map(_.getAs[Double]("sum_qty")).sum
    assert(qty > 0)
  }

  test("q03 top-k is ordered by revenue desc") {
    val rev = Relational.q03ShippingPriority(spark, sf)
      .collect().map(_.getAs[Double]("revenue"))
    assert(rev.length <= 10)
    assert(rev.sameElements(rev.sorted(Ordering[Double].reverse)))
  }

  test("q04 semi join never duplicates orders") {
    val total = Relational.q04SemiJoin(spark, sf)
      .collect().map(_.getAs[Long]("order_count")).sum
    val distinctOrders = Tables.orders(spark, sf)
      .filter("o_orderdate >= '1996-01-01' and o_orderdate < '1997-01-01'")
      .count()
    assert(total <= distinctOrders)
  }

  test("q08 window rank emits at most 5 per segment") {
    val byseg = Relational.q08WindowRank(spark, sf).collect()
      .groupBy(_.getAs[String]("c_mktsegment"))
    byseg.foreach { case (_, rows) => assert(rows.length <= 5) }
  }

  test("q17 sessionization: session counts sum to event count") {
    val n = Relational.q17EventsSessionize(spark, sf)
      .collect().map(_.getAs[Long]("n_events")).sum
    assert(n == Tables.events(spark, sf).count())
  }

  test("q23 funnel stages are monotonically narrowing") {
    val r = Relational.q23Funnel(spark, sf).collect().head
    val (n, v, c, p) = (r.getAs[Long]("n_users"), r.getAs[Long]("viewed"),
      r.getAs[Long]("clicked_after_view"), r.getAs[Long]("purchased_after_click"))
    assert(n >= v && v >= c && c >= p, s"funnel not narrowing: $n >= $v >= $c >= $p")
    assert(v > 0, "no users entered the funnel at sf0.001")
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q03: AQE still picks broadcast for the filtered customer at small SF") {
    // the explicit hint is gone (SF-linear table); the cost-based choice
    // must keep the broadcast at this scale
    val plan = Relational.q03ShippingPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join in plan:\n$plan")
  }

  test("q26: every returned supplier really sold the part at its min price") {
    import org.apache.spark.sql.functions.{col, min => amin}
    val truth = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey")).agg(amin(col("l_extendedprice")).as("mp"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = Relational.q26CheapestSupplier(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val pk = r.getAs[Long]("p_partkey")
      assert(math.abs(r.getAs[Double]("min_price") - truth(pk)) < 0.005 + 1e-9,
        s"part $pk min price mismatch")
    }
    // output key (p_partkey, s_name) is unique — DISTINCT collapsed dups
    assert(rows.map(r => (r.getAs[Long]("p_partkey"), r.getAs[String]("s_name")))
      .distinct.length == rows.length)
  }

  test("q27 moving average matches a direct trailing-7 recompute per type") {
    val rows = Relational.q27MovingAvg(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getAs[java.sql.Date]("day").toString)
      // day_value is rounded for presentation; recompute ma7 from the
      // rounded values only where rounding noise cannot flip the 4th
      // decimal (tolerance covers it)
      ordered.zipWithIndex.foreach { case (r, i) =>
        val frame = ordered.slice(math.max(0, i - 6), i + 1)
          .map(_.getAs[Double]("day_value"))
        val expect = frame.sum / frame.length
        assert(math.abs(r.getAs[Double]("ma7") - expect) < 0.02,
          s"ma7 drifted at row $i: ${r.getAs[Double]("ma7")} vs $expect")
      }
    }
  }

  test("q28 cube: every grouping set is internally consistent with the total") {
    val rows = Relational.q28Cube(spark, sf).collect()
    val total = Tables.orders(spark, sf).count()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet == Set(0, 1, 2, 3), s"missing grouping sets: ${byGid.keySet}")
    // each grouping set partitions the fact — its counts sum to the total
    byGid.foreach { case (gid, rs) =>
      assert(rs.map(_.getAs[Long]("n_orders")).sum == total,
        s"grouping set $gid does not partition orders")
    }
    val grand = byGid(3)
    assert(grand.length == 1 &&
      grand.head.getAs[String]("status") == "ALL" &&
      grand.head.getAs[String]("priority") == "ALL")
  }

  test("q29 pivot: wide counts add back up to the events table") {
    val rows = Relational.q29Pivot(spark, sf).collect()
    assert(rows.nonEmpty)
    val cols = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
    val total = rows.map(r => cols.map(c => r.getAs[Long](c)).sum).sum
    assert(total == Tables.events(spark, sf).count(),
      "pivoted counts lost or duplicated events")
    // days come out ordered and unique
    val days = rows.map(_.getAs[java.sql.Date]("day").toString)
    assert(days.sameElements(days.sorted) && days.distinct.length == days.length)
  }

  test("q30 set ops: segments partition each year's buyer set") {
    val rows = Relational.q30SetOps(spark, sf).collect()
      .map(r => r.getAs[String]("segment") -> r.getAs[Long]("n_customers")).toMap
    assert(rows.keySet == Set("both", "only_1997", "only_1998"))
    def buyers(y: Int) = Tables.orders(spark, sf)
      .filter(s"o_orderdate >= '$y-01-01' and o_orderdate < '${y + 1}-01-01'")
      .select("o_custkey").distinct().count()
    assert(rows("both") + rows("only_1997") == buyers(1997))
    assert(rows("both") + rows("only_1998") == buyers(1998))
  }

  test("q32 range window sums exactly the trailing-7-calendar-day frame") {
    val rows = Relational.q32RangeWindow(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val byDay = rs.map(r => r.getAs[Int]("day_num") -> r).toMap
      rs.foreach { r =>
        val d = r.getAs[Int]("day_num")
        val frame = (d - 6 to d).flatMap(byDay.get)
        val expect = frame.map(_.getAs[Double]("day_value")).sum
        assert(math.abs(r.getAs[Double]("wk_value") - expect) < 0.05,
          s"day $d frame sum drifted")
        assert(frame.length >= 1 && frame.length <= 7)
        // every frame day contributed at least one event
        assert(r.getAs[Long]("wk_events") >= frame.length,
          "weekly event count below one event per frame day")
      }
    }
  }

  test("q33: the reported supplier really ships the most of each part") {
    import org.apache.spark.sql.functions.{col, expr}
    val truth = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(expr("sum(l_quantity)").as("q"))
      .collect()
      .groupBy(_.getLong(0))
    val rows = Relational.q33DominantSupplier(spark, sf).collect()
    assert(rows.length == truth.size, "one row per part")
    rows.foreach { r =>
      val grp = truth(r.getAs[Long]("l_partkey"))
      val best = grp.map(_.getDouble(2)).max
      val winners = grp.filter(_.getDouble(2) == best).map(_.getLong(1)).min
      assert(r.getAs[Long]("top_suppkey") == winners,
        s"part ${r.getAs[Long]("l_partkey")}: wrong argmax or tie-break")
      assert(r.getAs[Long]("n_suppliers") == grp.length)
      val share = best / grp.map(_.getDouble(2)).sum
      assert(math.abs(r.getAs[Double]("share") - share) < 1e-3)
    }
  }

  test("q34: small-quantity revenue matches a direct recompute of the Q17 rule") {
    import org.apache.spark.sql.functions.col
    val partkeys = Tables.part(spark, sf)
      .filter(col("p_brand") === "Brand#4")
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    val li = Tables.lineitem(spark, sf)
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .filter(r => partkeys(r.getLong(0)))
    val byPart = li.groupBy(_.getLong(0))
    val expected = li.filter { r =>
      val grp = byPart(r.getLong(0))
      val sq = grp.map(x => math.floor(x.getDouble(1)).toLong).sum
      5L * math.floor(r.getDouble(1)).toLong * grp.length < sq
    }.map(_.getDouble(2)).sum / 7.0
    val got = Relational.q34SmallQuantityRevenue(spark, sf).collect()
    assert(got.length == 1)
    assert(math.abs(got.head.getAs[Double]("avg_yearly") - expected) < 0.011,
      s"got ${got.head} expected ~$expected")
  }

  test("q36: ntileFromRank matches Spark's ntile window on uneven splits") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the gate SFs all have customer counts divisible by 10 — this pins
    // the n mod k ≠ 0 arm (first n%k tiles one row bigger) and the
    // n < k degenerate arm against the engine's own ntile
    for (n <- Seq(7, 13, 95, 100)) {
      val df = spark.range(1, n + 1).toDF("rank")
        .withColumn("want",
          ntile(10).over(Window.orderBy(col("rank"))).cast("long"))
        .withColumn("got",
          Relational.ntileFromRank(col("rank"), lit(n.toLong), 10))
      assert(df.filter(col("want") =!= col("got")).count() == 0,
        s"ntileFromRank diverged from ntile at n=$n")
    }
  }

  test("q36: two-phase distributed ranking equals the single-window plan") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val naive = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .withColumn("decile", ntile(10).over(
        Window.orderBy(col("cents").desc, col("o_custkey").asc)).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("total_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    val got = Relational.q36SpendDeciles(spark, sf)
    assert(got.collect().toSeq.sortBy(_.getLong(0)) ==
      naive.collect().toSeq.sortBy(_.getLong(0)))
    assert(got.count() == 10)
  }

  test("q36: reliable-checkpoint path writes the snapshot to disk and matches") {
    // the slice assignment goes to a reliable FS dir instead of
    // executor-local storage, so the ranking survives executor loss
    PinSpec.checkReliable(spark, sf, "q36")
  }

  test("q40: every reported order's quantity sum verifies against lineitem") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q40BigOrders(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val sums = Tables.lineitem(spark, sf).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val ok = r.getAs[Long]("o_orderkey")
      assert(sums(ok) > 300.0, s"order $ok below the volume gate")
      assert(r.getAs[Long]("sum_qty") == sums(ok).toLong)
    }
    // descending by price, deterministic tiebreak
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)), "not price-descending")
  }

  test("q37: profile statistics match direct per-column recomputes") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q37TableProfile(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows.size == 6)
    val orders = Tables.orders(spark, sf)
    val n = orders.count()
    rows.values.foreach(r => assert(r.getAs[Long]("n_rows") == n))
    assert(rows("o_custkey").getAs[Long]("n_distinct") ==
      orders.select(countDistinct(col("o_custkey"))).head().getLong(0))
    assert(rows("o_orderkey").getAs[Long]("n_distinct") == n)
    rows.values.foreach(r => assert(r.getAs[Long]("n_nulls") == 0L))
  }

  test("q37b: approx profile bounds its error vs q37's exact counts and drops the Expand") {
    import org.apache.spark.sql.functions._
    val rsd = 0.02
    val exact = Relational.q37TableProfile(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val approx = Relational.q37bProfileApprox(spark, sf, rsd).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    // identical report shape: same columns profiled, same exact
    // (sketch-free) null and row counts
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (c, r) =>
      assert(r.getAs[Long]("n_rows") == exact(c).getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_nulls") == exact(c).getAs[Long]("n_nulls"))
      // HLL++ error bound: every estimate within ±3·rsd of the exact
      // distinct count (rsd is the sketch's one-sigma target)
      val ex = exact(c).getAs[Long]("n_distinct").toDouble
      val est = r.getAs[Long]("n_distinct_est").toDouble
      assert(math.abs(est - ex) <= math.max(1.0, 3 * rsd * ex),
        s"$c: estimate $est outside 3σ of exact $ex")
    }
    // the at-scale point: NO Expand operator in the approx plan (the
    // exact multi-distinct q37 plans through one — that's its documented
    // fan-out cost), and still one scan of the table
    val plan = Relational.q37bProfileApprox(spark, sf, rsd)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "approx profile must not Expand")
    val exactPlan = Relational.q37TableProfile(spark, sf)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "q37's documented Expand vanished — update the docs")
    // the DEFAULT entry (Spark's own rsd = 0.05 — the plan-mass story on
    // the scaladoc) holds its looser bound too
    val defRsd = 0.05
    Relational.q37bProfileApprox(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).foreach { case (c, r) =>
        val ex = exact(c).getAs[Long]("n_distinct").toDouble
        val est = r.getAs[Long]("n_distinct_est").toDouble
        assert(math.abs(est - ex) <= math.max(1.0, 3 * defRsd * ex),
          s"$c: default-rsd estimate $est outside 3σ of exact $ex")
      }
  }

  test("q38: sequential and order-swapped state merges equal the one-shot rollup") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    def chunk(r: Int) = ev.filter(pmod(col("event_id"), lit(3)) === r)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "day").collect().toSeq
    val oneShot = sorted(Relational.dailyState(ev))
    // fold three arrival chunks sequentially: ((c0 + c1) + c2)
    val seqFold = sorted(Relational.mergeDailyState(
      Relational.mergeDailyState(Relational.dailyState(chunk(0)), chunk(1)),
      chunk(2)))
    assert(seqFold == oneShot, "sequential fold diverged from recompute")
    // commuted arrival order: ((c2 + c0) + c1)
    val swapped = sorted(Relational.mergeDailyState(
      Relational.mergeDailyState(Relational.dailyState(chunk(2)), chunk(0)),
      chunk(1)))
    assert(swapped == oneShot, "merge is not arrival-order independent")
  }

  test("q39: diff statuses reconcile with the version membership rules") {
    import org.apache.spark.sql.functions._
    val rows = Relational.q39SnapshotDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    val ids = Tables.documents(spark, sf).select(col("doc_id"))
      .collect().map(_.getLong(0))
    // membership arithmetic: added = in v2 only, removed = in v1 only,
    // changed = in both with doc_id % 13 == 0 (the text rewrite)
    def inV1(id: Long) = id % 7 != 0
    def inV2(id: Long) = id % 11 != 0
    val wantAdded = ids.count(id => !inV1(id) && inV2(id))
    val wantRemoved = ids.count(id => inV1(id) && !inV2(id))
    val wantChanged = ids.count(id => inV1(id) && inV2(id) && id % 13 == 0)
    val wantSame = ids.count(id => inV1(id) && inV2(id) && id % 13 != 0)
    assert(rows.map(_.getAs[Long]("n_added")).sum == wantAdded)
    assert(rows.map(_.getAs[Long]("n_removed")).sum == wantRemoved)
    assert(rows.map(_.getAs[Long]("n_changed")).sum == wantChanged)
    assert(rows.map(_.getAs[Long]("n_same")).sum == wantSame)
    assert(wantAdded > 0 && wantRemoved > 0 && wantChanged > 0)
    // one full-outer pass sees adds and removes together — no second sweep
    val plan = Relational.q39SnapshotDiff(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"diff must plan a full outer join:\n$plan")
  }

  test("q31: every returned part genuinely exceeds 1.3x the mean part revenue") {
    import org.apache.spark.sql.functions.{col, expr}
    val perPart = Tables.lineitem(spark, sf)
      .groupBy(col("l_partkey"))
      .agg(expr("sum(l_extendedprice * (1 - l_discount))").as("rev"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mean = perPart.values.sum / perPart.size
    val rows = Relational.q31ImportantParts(spark, sf).collect()
    assert(rows.nonEmpty)
    val returned = rows.map(_.getAs[Long]("l_partkey")).toSet
    val expect = perPart.filter(_._2 > 1.3 * mean).keySet
    assert(returned == expect, "q31 group-threshold membership diverged")
    rows.foreach(r => assert(r.getAs[Double]("x_mean") > 1.3))
    // Pin.Off (plan-audit form): the lineage is visible — the Local
    // default truncates to Scan ExistingRDD, which would hide the
    // scan/exchange topology from plan pinning
    val open = Relational.q31ImportantParts(spark, sf, graft.Pin.Off)
    assert(open.queryExecution.executedPlan.toString.contains("FileScan"),
      "Pin.Off must expose the parquet scan for plan audits")
    assert(open.collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq,
      "q31 Pin.Off form diverged")
  }

  test("registerAll exposes the whole catalog to SQL with graft functions") {
    Tables.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT n_name, COUNT(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""").collect()
    assert(r.nonEmpty && r.map(_.getLong(1)).sum == Tables.customer(spark, sf).count())
    val fp = spark.sql(
      """SELECT graft_fingerprint(split(trim(text), '\\s+')) AS fp
         FROM documents LIMIT 3""").collect()
    assert(fp.length == 3 && fp.forall(!_.isNullAt(0)))
    // winnowing fingerprints from SQL match the Column-API expression
    val sqlFps = spark.sql(
      """SELECT doc_id, graft_winnow_fps(text, 8, 4) AS fps
         FROM documents ORDER BY doc_id LIMIT 5""").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val apiFps = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.NativeFunctions.winnowFps(
          org.apache.spark.sql.functions.col("text"), 8, 4).as("fps"))
      .orderBy("doc_id").limit(5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(sqlFps == apiFps, "SQL-registered winnowing diverged from Column API")
  }

  test("q46 returns exactly the max-revenue suppliers, ties preserved, vs a driver recompute") {
    import org.apache.spark.sql.functions._
    val got = Relational.q46TopSupplier(spark, sf).collect()
      .map(r => (r.getAs[Long]("s_suppkey"), r.getAs[Long]("total_cents")))
    assert(got.nonEmpty)
    // driver recompute of the revenue view (integer cents, same rounding)
    val rev = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-10-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).sum).toMap
    val maxCents = rev.values.max
    val want = rev.filter(_._2 == maxCents).keys.toSet
    assert(got.map(_._1).toSet == want,
      s"argmax set mismatch: got ${got.map(_._1).toSet}, want $want")
    assert(got.forall(_._2 == maxCents), "winner rows must all carry the max revenue")
  }
}
