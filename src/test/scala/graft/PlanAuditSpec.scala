package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan-shape audit (SURVEY §5): these assertions pin the physical-plan
  * properties that make the operators viable at 100 TB — filters reaching
  * the parquet scan, pruned read schemas, broadcast dims, partial
  * aggregation, bounded shuffle counts. A regression here can pass every
  * value check and still be 100x slower at scale. */
class PlanAuditSpec extends GraftSuite {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes its plan
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }
  private def planStr(df: DataFrame): String = executed(df).toString
  private def shuffles(df: DataFrame): Int =
    executed(df).collect { case s: ShuffleExchangeLike => s }.size

  test("p18: the diff is one full-outer join of narrow digests — text never shuffles") {
    val s = planStr(Pipelines.p18ReleaseDiff(spark, sf))
    assert(s.contains("FullOuter"), s"expected a full-outer join:\n$s")
    assert(!s.contains("BroadcastNestedLoop"),
      s"diff must stay an equi-join at any snapshot size:\n$s")
    // the join's projections carry digests, not document bodies: no
    // exchange row wider than (id, source, len, hash)
    val ex = executed(Pipelines.p18ReleaseDiff(spark, sf))
      .collect { case e: ShuffleExchangeLike => e }
    assert(ex.forall(e => !e.child.output.exists(_.name == "text")),
      "a shuffle carries the text column — digest projection regressed")
  }

  test("t32: code routing is one scan + partial agg — no join, no window") {
    val s = planStr(TextAnalysis.t32CodeDetect(spark, sf))
    assert(!s.contains("Join") && !s.contains("Window"),
      s"t32 should be scan→project→aggregate only:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"expected partial+final aggregation:\n$s")
  }

  test("d21: canonical pick is a partial-aggregable struct max — no per-cluster window") {
    val s = planStr(Dedup.d21QualityCanonical(spark, sf))
    assert(!s.contains("Window"),
      s"d21's argmax must stay in HashAggregate, not a window sort:\n$s")
  }

  test("p19: rank dictionaries broadcast; the audit derives from the checkpointed cells") {
    // the corpus-touching plan is p19Keyed (runs ONCE into the ≤ZFiles²
    // cell checkpoint): its rank joins must broadcast, never sort-merge
    val k = planStr(Pipelines.p19Keyed(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(k).size >= 2,
      s"dictionary rank joins should broadcast:\n$k")
    assert(!k.contains("SortMergeJoin"),
      s"no corpus-sized sort-merge join belongs in the layout keying:\n$k")
    // the report plan reads the checkpointed cells — it must NOT
    // re-scan documents (the first cut re-executed the corpus plan ~7×)
    val r = planStr(Pipelines.p19ZorderLayout(spark, sf))
    assert(!r.contains("FileScan parquet"),
      s"the audit re-scans the corpus instead of reusing the cells:\n$r")
  }

  test("q02: filter is pushed to the parquet scan and schema is pruned") {
    val s = Relational.q02FilterProject(spark, sf).queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters:") && s.contains("l_shipdate"),
      s"no pushed shipdate filter in scan:\n$s")
    assert(!s.contains("l_comment"), "read schema not pruned — scans unused columns")
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val s = planStr(Relational.q01PricingSummary(spark, sf))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"expected partial+final HashAggregate:\n$s")
  }

  test("q05: dimension joins broadcast — the fact table shuffles at most once") {
    val df = Relational.q05LocalSupplier(spark, sf)
    val s = planStr(df)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      s"snowflake dims should broadcast:\n$s")
  }

  test("no explicit broadcast hint targets a customer-scale or fact table") {
    // r15 two-tier hint policy: customer/orders/lineitem/documents-scale
    // relations (10⁹⁺ rows at the 100 TB design point) must NEVER carry
    // an explicit broadcast hint — an un-overridable driver OOM. The
    // SMALL SF-linear dims (supplier: 10⁴ rows/SF, and filter-pruned
    // part slivers projected to their key) MAY be hinted where the
    // measured plan otherwise exchanges the whole fact (q05/q24/q35/q41
    // — each hint carries its bound in the scaladoc). AQE may still
    // CHOOSE broadcast anywhere at small SF — this pins the LOGICAL
    // hint, not the physical join.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val forbiddenCols = Set("c_custkey", "o_orderkey", "l_orderkey",
      "doc_id", "doc_i", "doc_j")
    val audited = Seq(
      "q03" -> Relational.q03ShippingPriority(spark, sf),
      "q05" -> Relational.q05LocalSupplier(spark, sf),
      "q24" -> Relational.q24MarketShare(spark, sf),
      "q25" -> Relational.q25DisjunctiveRevenue(spark, sf),
      "q35" -> Relational.q35VolumeShipping(spark, sf),
      "q41" -> Relational.q41ProfitByNation(spark, sf),
      "q42" -> Relational.q42ReturnedTopCustomers(spark, sf),
      "d08" -> Dedup.d08NeardupBySource(spark, sf))
    for ((name, df) <- audited) {
      val offenders = df.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          h.child.output.map(_.name).filter(forbiddenCols)
      }.flatten
      assert(offenders.isEmpty,
        s"$name explicitly broadcasts a customer-scale/fact table (columns: ${offenders.mkString(",")})")
    }
  }

  test("q06: pure scan-agg has zero pre-agg shuffles") {
    val n = shuffles(Relational.q06ForecastRevenue(spark, sf))
    assert(n == 0, s"scalar agg over a scan should not shuffle (got $n)")
  }

  test("q20b: percentile runs as a partial-aggregable sketch (q20 exact form is oracle-mirror only)") {
    // The engine's percentile default at scale is q20b: approx_percentile
    // summaries merge through the shuffle (partial + final aggregate
    // pair), so executor memory is bounded by the accuracy knob. q20's
    // exact `percentile` — one unbounded buffer holding every group
    // value — exists to mirror DuckDB's quantile_cont, not to run at
    // 100 TB.
    val s = planStr(Relational.q20bPercentileSketch(spark, sf))
    assert(s.contains("approx_percentile"), s"q20b must aggregate via the sketch:\n$s")
    assert("(HashAggregate|ObjectHashAggregate|SortAggregate)".r.findAllIn(s).size >= 2,
      s"expected partial+final aggregate pair around the shuffle:\n$s")
  }

  test("s01: query set broadcasts; corpus is never shuffled for scoring") {
    val s = planStr(Similarity.s01KnnBrute(spark, sf))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$s")
  }

  test("d02: candidate generation is an equi-join, not a cross join") {
    val s = planStr(Dedup.d02NgramJaccard(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from an equi-join on the shingle hash:\n$s")
  }

  test("a01: as-of join is one shuffle + window, no range join explosion") {
    val df = Temporal.a01AsofJoin(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"as-of must not plan a range/cross join:\n$s")
    assert(s.contains("Window"), s"expected the carry-forward window:\n$s")
  }

  test("a02: band join candidates come from an equi-join on (user, bucket)") {
    val s = planStr(Temporal.a02BandJoin(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"banded join must be an equi-join on the bucket key:\n$s")
  }

  test("t10/t11: text scrubbing and repetition are join-free single scans") {
    // both must stay map-side column pipelines: one scan, the only
    // shuffles are the |sources|-row aggregation and presentation sort
    for ((name, df) <- Seq(
        "t10" -> TextAnalysis.t10PiiScrub(spark, sf),
        "t11" -> TextAnalysis.t11RepetitionFilter(spark, sf))) {
      val s = planStr(df)
      assert(!s.contains("Join"), s"$name must not join:\n$s")
      assert(shuffles(df) <= 2, s"$name should shuffle only for agg + sort")
    }
  }

  test("d11: winnowing candidates come from a fingerprint equi-join") {
    val s = planStr(Dedup.d11WinnowedDup(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"winnowed pairs must come from an equi-join on the fingerprint:\n$s")
    // per-doc selection is the native compiled expression — NO window
    // shuffle/sort may appear before the fingerprint join
    assert(s.contains("graft_winnow_fps"), s"expected the native winnow expr:\n$s")
    assert(!s.contains("Window"), s"winnow selection must not plan a window:\n$s")
  }

  test("s05: multi-table candidates are an equi-join on (table, bucket)") {
    val s = planStr(Similarity.s05AnnMultiTable(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"multi-table ANN must equi-join on (t, bucket), never cross-join:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"the probed query side must broadcast:\n$s")
  }

  test("t12: entropy is join-free with partial aggregation at every level") {
    val df = TextAnalysis.t12EntropyFilter(spark, sf)
    val s = planStr(df)
    assert(!s.contains("Join"), s"t12 must not join:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      s"expected partial+final aggregate pairs:\n$s")
  }

  test("p03: the corpus pipeline is one scan pass with bounded shuffles") {
    val df = graft.operators.Pipelines.p03CleanCorpus(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("Join"),
      s"pipeline stages must fuse into one scan, not join:\n$s")
    // dup-group window + distinct-expand agg + sort
    assert(shuffles(df) <= 4, s"pipeline shuffle count regressed: ${shuffles(df)}")
  }

  test("q28: cube plans one Expand — the fact is scanned once, not per set") {
    val df = Relational.q28Cube(spark, sf)
    val s = planStr(df)
    assert("Expand".r.findAllIn(s).size == 1,
      s"cube must use a single Expand over one scan:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"cube agg lost its map-side partial:\n$s")
  }

  test("q29: explicit-list pivot is a single scan with one day shuffle") {
    val df = Relational.q29Pivot(spark, sf)
    assert(shuffles(df) <= 1, s"pivot shuffles regressed: ${shuffles(df)}")
    val s = planStr(df)
    assert(!s.contains("Join"),
      s"explicit value list must not trigger a distinct-discovery join:\n$s")
  }

  test("t16: tf-idf tokenizes once, df is a window (no term self-join); top-20 is a heap") {
    val df = TextAnalysis.t16TfidfKeywords(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct"),
      s"tf-idf must never cross-join the term space:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered (per-partition heap), not global sort:\n$s")
    // r15: df comes from `count() over (partition by t)` — the old
    // tf.groupBy(t) join-back hit self-join attribute dedup, ReuseExchange
    // missed, and the docs16x plan tokenized the corpus TWICE and built a
    // 256 MiB driver-serial broadcast of the tf aggregate
    assert("Generate".r.findAllIn(s).size == 1,
      s"the corpus must be tokenized exactly once:\n$s")
    assert(!s.contains("HashJoin") && !s.contains("SortMergeJoin"),
      s"the only join is the 1-row n_docs broadcast scalar (nested-loop cross):\n$s")
    assert(s.contains("Window"), s"df must land via a window, not a join:\n$s")
  }

  test("t13: surprisal tokenizes once; corpus counts land via a window, N is scan-only") {
    val s = planStr(TextAnalysis.t13UnigramSurprisal(spark, sf))
    // one Generate = the single tokenize-explode pass (the N scalar sums
    // size(tokens) without exploding; the old count-join form re-derived
    // the count table from a second scan+tokenize subtree)
    assert("Generate".r.findAllIn(s).size == 1,
      s"the corpus must be tokenized (exploded) exactly once:\n$s")
    assert(!s.contains("HashJoin") && !s.contains("SortMergeJoin"),
      s"the only join is the 1-row n_corpus broadcast scalar:\n$s")
    assert(s.contains("Window"), s"corpus counts must land via a window:\n$s")
  }

  test("p05: packing is join-free with one source shuffle for the window") {
    val df = graft.operators.Sampling.p05PackChunks(spark, sf)
    val s = planStr(df)
    assert(!s.contains("Join"), s"packing must not join:\n$s")
    // source-partitioned window + (source, chunk) agg reuses the same
    // hash partitioning; only the presentation sort may add one more
    assert(shuffles(df) <= 3, s"packing shuffle count regressed: ${shuffles(df)}")
  }

  test("t19: bigram-LM scoring is equi-joins only; the sole nested loop is the 1-row vocab broadcast") {
    val s = planStr(TextAnalysis.t19BigramSurprisal(spark, sf))
    assert(!s.contains("CartesianProduct"),
      s"t19 must never cartesian-join:\n$s")
    assert("BroadcastNestedLoopJoin".r.findAllIn(s).size <= 1,
      s"only the 1-row vocab scalar may nested-loop:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      s"count 'training' must partial-aggregate:\n$s")
  }

  test("d16: the benchmark probe is a left-semi equi-join, never a cross join") {
    val s = planStr(Dedup.d16BenchmarkDecontam(spark, sf))
    assert(s.contains("LeftSemi"),
      s"index membership must be a left-semi equi-join:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"d16 must never cross-join:\n$s")
  }

  test("p12/p14: the shard audits are join-free — one shard shuffle feeds the window") {
    Seq(Pipelines.p12TrainingShards(spark, sf),
        Pipelines.p14ShardLayout(spark, sf)).foreach { df =>
      val s = planStr(df)
      assert(!s.contains("Join"),
        s"the layout audit needs no join at all:\n$s")
      assert(s.contains("hashpartitioning(shard"),
        s"the one wide exchange must key on the shard:\n$s")
    }
  }

  test("p15/p16: the span tables are join-free — the export's shard shuffle + window, nothing more") {
    Seq(Pipelines.p15ChunkSpans(spark, sf),
        Pipelines.p16SpanLayout(spark, sf)).foreach { df =>
      val s = planStr(df)
      assert(!s.contains("Join"),
        s"the mask table needs no join at all:\n$s")
      assert(s.contains("hashpartitioning(shard"),
        s"offsets must ride the shard exchange:\n$s")
    }
  }

  test("t30: novelty df join is a shuffled-hash equi-join over the shingle index") {
    val df = TextAnalysis.t30NoveltyScan(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"df lookup must be an equi-join on the shingle hash:\n$s")
    assert(s.contains("graft_shingles"),
      s"shingling must be the native expression:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"the Generate output must not pay two sorts (SHUFFLE_HASH hint):\n$s")
  }

  test("d19: canonical stats stay in hash aggregation; probe is a shuffled-hash equi-join") {
    // a previously-registered occ cache (any earlier d19DupSpans call in
    // this JVM) would auto-substitute into the fresh plan — start cold
    spark.catalog.clearCache()
    // the 100 TB shape: persistOcc=false — two streamed passes
    val df = Dedup.d19DupSpansOf(
      graft.Tables.documents(spark, sf), Dedup.ExactSpanChars)
    val s = planStr(df)
    // the min(struct) canonical form regresses to SortAggregate — a
    // per-partition SORT of the full per-position index; the stacked
    // min_by(long, long) form keeps every stats stage in HashAggregate
    assert(!s.contains("SortAggregate"),
      s"canonical-occurrence stats must hash-aggregate, not sort:\n$s")
    assert(s.contains("ShuffledHashJoin"),
      s"the occurrence->stats probe must be a shuffled-hash equi-join:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"),
      s"no pair join anywhere in the span extractor:\n$s")
    assert(s.contains("graft_window_hashes"),
      s"positions must come from the native rolling-hash expression:\n$s")
    assert(!s.contains("InMemoryTableScan") && !s.contains("ExistingRDD"),
      s"the scale path must never materialize the occurrence index:\n$s")
    // the corpus-dir entry at test SF sits under the auto-persist bound:
    // BOTH consumers read the cached occurrence index, the rolling-hash
    // pass runs once; the one-slot registry bounds the CacheManager pin
    // to a single corpus (see d19DupSpans' persist-hygiene doc)
    val sp = planStr(Dedup.d19DupSpans(spark, sf))
    assert(sp.contains("InMemoryTableScan"),
      s"sub-bound corpora must serve the occ index from cache:\n$sp")
    assert(sp.contains("ShuffledHashJoin") && !sp.contains("SortMergeJoin"),
      s"persisted path keeps the probe join shape:\n$sp")
    spark.catalog.clearCache() // leave no occ fragment for later pins
  }

  test("s20: the vector leg is a partial top-k, never a global corpus sort") {
    val df = Similarity.s20RrfFusion(spark, sf)
    val s = planStr(df)
    // orderBy(...).limit(20) over the scored corpus must plan as
    // TakeOrderedAndProject (per-partition heaps + driver merge of
    // <= 20*partitions rows) — a global Sort would shuffle-sort the
    // whole embedded corpus for a 20-row answer
    assert(s.contains("TakeOrderedAndProject"),
      s"vector top-20 must be TakeOrderedAndProject:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"the query vector must broadcast, never a cartesian corpus pair:\n$s")
  }

  test("s19b: graph candidates come from a shuffled equi-join on list_id, probes are one native pass") {
    val df = Similarity.s19bKnnGraphIvf(spark, sf)
    val s = planStr(df)
    // both sides are corpus-sized: the list join must shuffle-hash,
    // never broadcast a corpus or degenerate to a cartesian pair
    assert(s.contains("ShuffledHashJoin"),
      s"the list_id candidate join must be a shuffled hash join:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"the IVF graph must never form a cartesian corpus pair:\n$s")
    // probe-list selection is the codegen'd argmin-k against the one
    // broadcast centroid row — an interpreted HOF chain here would pay
    // the s09-encode mistake on every corpus vector
    assert(s.contains("graft_argmink_sqdist"),
      s"probe selection must be the native argmin-k expression:\n$s")
    // the scored stream reduces through the partial top-k heap before
    // the rank window ever sees it
    val topk = df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(topk.nonEmpty, "s19b must rank through TopKPerGroup, not a full sort")
  }

  test("s18: the metadata filter reaches the parquet scan, below the scoring") {
    val df = Similarity.s18FilteredKnn(spark, sf)
    val s = planStr(df)
    // the whole point of the operator: the scored population is the
    // filtered slice — the predicate must be a data filter at the scan,
    // not a post-scoring filter
    assert(s.contains("PushedFilters") && s.contains("label"),
      s"label predicate must reach the corpus scan:\n$s")
    val heaps = df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(heaps.nonEmpty, "filtered ranking must still ride the heap")
  }

  test("a04: tolerance adds no join or shuffle beyond a01's single window pass") {
    val s = planStr(Temporal.a04AsofTolerance(spark, sf))
    assert(!s.contains("Join"), s"the tolerance is a map-side CASE, not a join:\n$s")
    assert("Window".r.findAllIn(s).size >= 1, s"expected a01's carry window:\n$s")
    assert(shuffles(Temporal.a04AsofTolerance(spark, sf)) <= 2,
      "a04 must keep a01's one user shuffle (+ presentation sort)")
  }

  test("t29: threshold fan-out is a sequence-explode, never a window or nested loop") {
    val s = planStr(TextAnalysis.t29VocabGrowth(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"t29 must not theta-join thresholds:\n$s")
    assert(!s.contains("Window"), s"t29 must not run a cumulative window:\n$s")
  }

  test("s15: SQ8 scoring reduces through the partial/final heap before its one shuffle") {
    val df = Similarity.s15Sq8Mips(spark, sf)
    val topk = df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(topk.nonEmpty, "s15 must rank through TopKPerGroup, not a full sort")
    val s = planStr(df)
    assert(!s.contains("SortMergeJoin"),
      s"the broadcast query side must never shuffle the corpus:\n$s")
  }

  test("d12b: cluster-first candidates ride a list_id equi-join, never a cross join") {
    val s = planStr(Dedup.d12bSemDedupIvf(spark, sf))
    assert(s.contains("list_id"),
      s"pair generation must key on the IVF list:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"d12b must never go all-pairs:\n$s")
    // the hot-list cap rides the SAME equi-join (sub is just one more
    // key); the |labels|x|lists| population table broadcasts back
    assert(s.contains("BroadcastHashJoin"),
      s"the list-population table must broadcast, never shuffle the corpus:\n$s")
  }

  test("d17: exact-substring candidates are the d11 join shape at k=1 density") {
    val s = planStr(Dedup.d17ExactSubstring(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"exact-substring pairs must come from a fingerprint equi-join:\n$s")
    assert(s.contains("graft_winnow_fps"),
      s"per-position hashing must be the shared native expression:\n$s")
    assert(!s.contains("Window"), s"d17 must not plan a window:\n$s")
  }

  test("d18: incremental candidates are ONE hash equi-join probed by the batch") {
    val s = planStr(Dedup.d18IncrementalNeardup(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"incremental candidates must come from an equi-join on the shingle hash:\n$s")
    assert(s.contains("ShuffledHashJoin"),
      s"the nightly join must hash, not sort the exploded index (d02's rule):\n$s")
    // the new×new dedup + new×old keep-all rule rides the SAME join as
    // a residual condition — a second join node would mean the old×old
    // avoidance got restructured into two passes over the index
    assert(s.split("ShuffledHashJoin").length == 2,
      s"expected exactly one shuffled-hash candidate join:\n$s")
  }

  test("d18: batch-local cap plans ZERO extra scans of the at-rest index") {
    // the cheap-pass claim made structural: maxDf's df aggregation
    // re-reads the index (a second scan, IO-linear in history);
    // batchMaxDf's df pass covers the arrivals alone, so the index
    // relation appears in the logical plan exactly once — the probe
    // join's build side. Pinned on the optimized LOGICAL plan: AQE's
    // executed-plan string hides materialized stage subtrees (the s16
    // precedent), which would undercount scans.
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("d18scan").toString
    val tag = "d18_at_rest_idx"
    try {
      val docs = Tables.documents(spark, sf)
      val isNew =
        col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
      Dedup.d18BuildIndex(docs.filter(!isNew), s"$dir/$tag")
      def idxScans(df: DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation if (lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains(tag))
            case _ => false
          }) => lr
        }.size
      val batch = docs.filter(isNew)
      assert(idxScans(Dedup.d18FromIndex(spark, s"$dir/$tag", batch)) == 1,
        "cap-off nightly must scan the index exactly once")
      assert(idxScans(Dedup.d18FromIndex(spark, s"$dir/$tag", batch,
          Dedup.NoDfCap, 3L)) == 1,
        "batch-local cap must not add an index scan")
      // r15: dfCapped's window form lands the union df in the SAME
      // pass — the old groupBy+anti-join re-read history for the df
      // aggregation (this assert used to pin >= 2 scans as the
      // documented cost; the window removed it)
      assert(idxScans(Dedup.d18FromIndex(spark, s"$dir/$tag", batch, 3L)) == 1,
        "union-df cap must no longer re-read the at-rest index")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("s16/s17: the promoted recall audits add no geometry beyond their subjects") {
    // s16: every sweep branch keeps s14's heap shortlist (pinned on the
    // LOGICAL plan — AQE's final string hides materialized stage
    // subtrees, the s15 precedent); the exact side is computed once
    // (localCheckpoint scan, not a fresh s01 run per branch)
    val df16 = Similarity.s16PcaRecall(spark, sf, 16, Seq(8, 16))
    val s16 = planStr(df16)
    // the brute-family scoring pass IS a deliberate broadcast cross
    // join (s01/s14's corpus x broadcast-queries shape) — what must
    // never appear is a NON-broadcast cartesian of two big sides
    assert(!s16.contains("CartesianProduct"),
      s"s16 must never plan an unbroadcast cartesian:\n$s16")
    val heaps16 = df16.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(heaps16.size >= 2,
      s"each sweep branch must keep the heap shortlist (found ${heaps16.size})")
    assert(s16.contains("Scan ExistingRDD"),
      s"the exact side must read the checkpoint, not recompute s01 per branch:\n$s16")
    // s17: the exact-IP reference side rides the heap like s01
    val df17 = Similarity.s17Sq8Recall(spark, sf)
    val heaps17 = df17.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(heaps17.size >= 2,
      s"both ranking sides must reduce through the heap (found ${heaps17.size})")
    assert(!planStr(df17).contains("SortMergeJoin"),
      "broadcast query sides must never shuffle the corpus")
  }

  test("p06: mix membership is a broadcast rate table + map-side predicate") {
    val s = planStr(Sampling.p06TokenBudgetMix(spark, sf))
    assert(s.contains("BroadcastHashJoin"),
      s"the |S|-row rate table must broadcast back:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"p06 must not cross-join:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"the rate join must never shuffle the corpus:\n$s")
  }

  test("q34: the Q17 correlated avg is one partition-wide window, no self-join") {
    // r15: the per-part stats are window aggregates over the ONE
    // l_partkey exchange — the old aggregate+join-back form re-scanned
    // the narrowed fact (self-join attribute dedup defeats ReuseExchange)
    val s = planStr(Relational.q34SmallQuantityRevenue(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"q34 must join by key only:\n$s")
    assert(s.contains("Window"), s"per-part stats must be window aggregates:\n$s")
    val lineitemScans = "Location.*lineitem".r.findAllIn(s).size
    assert(lineitemScans == 1,
      s"the fact must be scanned exactly once (found $lineitemScans):\n$s")
  }

  test("t20: line dedup chunks once; the removal decision is a window, join-free") {
    val s = planStr(TextAnalysis.t20LineDedup(spark, sf))
    // r15: the old lines⋈freq equi-join re-chunked the corpus for the
    // frequency table (self-join dedup broke ReuseExchange) and the
    // docs16x planner broadcast the RAW 507k-row exploded lines side
    // (144 MiB, serial build); the window form is join-free
    assert(!s.contains("Join"), s"line dedup must not join at all:\n$s")
    assert("Generate".r.findAllIn(s).size == 1,
      s"documents must be chunked (exploded) exactly once:\n$s")
    assert(s.contains("Window"),
      s"the corpus line count must land via a window:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      s"per-doc and per-source levels must both partial-aggregate:\n$s")
  }

  test("the row_number argmax idiom is auto-rewritten onto the heap") {
    // r15: q33 itself now folds its k=1 argmax into a struct-min
    // aggregate (no window at all — see its scaladoc), so the rule's
    // idiom pin runs on an inline query in the exact shape users write
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    val w = W.partitionBy(col("l_partkey")).orderBy(col("l_quantity").desc)
    val df = Tables.lineitem(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
    val topk = df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerGroup => t
    }
    assert(topk.size == 1,
      "WindowTopKRule must re-plan a row_number()<=k window filter onto TopKPerGroup")
    // the Window node survives to rank the ≤k-per-group survivor set —
    // what matters is that the heap feeds it, so the sort is tiny
    assert(planStr(df).contains("TopKPerGroup"),
      "heap operator missing from the executed plan")
  }

  test("q33: stacked aggregates share one l_partkey exchange, fact scanned once") {
    val df = Relational.q33DominantSupplier(spark, sf)
    val ps = planStr(df)
    val lineitemScans = "Location.*lineitem".r.findAllIn(ps).size
    assert(lineitemScans == 1,
      s"the fact must be scanned exactly once (found $lineitemScans):\n$ps")
    assert(!ps.contains("Window"), s"argmax must be the struct-min aggregate, not a window:\n$ps")
    assert(shuffles(df) <= 2, // one repartition + the presentation sort
      s"q33 must cluster once on l_partkey: ${shuffles(df)} shuffles:\n$ps")
  }

  test("a03: forward as-of is one shuffle + window — no range join") {
    val df = Temporal.a03AsofForward(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoop"),
      s"forward as-of must not plan a range join:\n$s")
    assert(s.contains("Window"), s"expected the carry window:\n$s")
    // user_id shuffle + presentation sort
    assert(shuffles(df) <= 2, s"as-of shuffle count regressed: ${shuffles(df)}")
  }

  test("m03: payload dedup audit is two partial-aggregable levels, join-free") {
    val df = Multimodal.m03BinaryDedup(spark, sf)
    val s = planStr(df)
    assert(!s.contains("Join"), s"digest audit must not join:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 3,
      s"expected partial+final pairs on both aggregate levels:\n$s")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      // local data is tiny; drop the size gates so the rewrite fires the
      // way it would for a 100 TB application side, and disable broadcast
      // so the join actually shuffles (the case bloom pruning targets)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 300000.0)
      val joined = li.join(sel,
        li("l_orderkey") === sel("o_orderkey"))
      joined.collect()
      val s = joined.queryExecution.optimizedPlan.toString
      assert(s.toLowerCase.contains("bloom"),
        s"expected a runtime bloom filter on the fact scan:\n$s")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("d13: decontamination candidates come from the list_id equi-join") {
    val s = planStr(Dedup.d13SemanticDecontamination(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"eval x train scoring must ride the inverted-list equi-join:\n$s")
  }

  test("q35: the nation roles and the pair-filtered supplier slice are broadcast-hinted") {
    // r15: besides the two constant nation-role hints, the 2/|nations|
    // supplier slice broadcasts (q05's supplier-scale bound) so the fact
    // sheds ~92% map-side before its one o_orderkey exchange
    val df = Relational.q35VolumeShipping(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 3, s"expected 2 nation-role + 1 supplier-slice hints, got ${hints.size}")
    val (suppHints, nationHints) = hints.partition(_.child.output.map(_.name).contains("s_suppkey"))
    assert(nationHints.size == 2 &&
      nationHints.forall(_.child.output.map(_.name).contains("n_nationkey")),
      s"nation-role hints must target the constant dim:\n$hints")
    assert(suppHints.size == 1 &&
      !suppHints.head.child.output.map(_.name).exists(Set("c_custkey", "o_orderkey")),
      s"the third hint must be the supplier slice, nothing customer-scale:\n$hints")
  }

  test("q36: decile ranking range-partitions the data; no data-path ntile window") {
    // the lineage-shared (no-snapshot) form shows the range exchange and
    // must deduplicate its two consumers onto ONE reused materialization
    val inner = planStr(Relational.spendRanks(spark, sf, snapshot = false))
    assert(inner.toLowerCase.contains("rangepartitioning"),
      s"two-phase ranking must range-repartition on the sort key:\n$inner")
    assert(inner.contains("ReusedExchange"),
      s"offset and rank branches must share one range shuffle:\n$inner")
    val s = planStr(Relational.q36SpendDeciles(spark, sf))
    assert(!s.contains("ntile"),
      s"the data path must not plan a global ntile window:\n$s")
  }

  test("q37: the whole profile reads the table exactly once") {
    // r15 note: a per-column-scans form was tried (6 pruned scans, no
    // Expand) and REVERTED — under Dataset.count() Catalyst prunes the
    // agg expressions of a union-of-global-aggregates to a row count
    // (benchmark reads fake-fast), and the honestly-measured collect
    // was SLOWER than the Expand form at sf10 (8.7 s vs 5.3 s: six
    // AQE-serialized subqueries beat one shared pass only on paper).
    val s = planStr(Relational.q37TableProfile(spark, sf))
    val scans = "FileScan parquet".r.findAllIn(s).length
    assert(scans == 1,
      s"profile must be one pass (Expand multi-distinct), found $scans scans:\n$s")
  }

  test("r01: metadata count is one job over footers, not ten table scans") {
    val s = planStr(RefOps.r01RecordCount(spark, sf))
    assert(!s.contains("FileScan parquet"),
      s"metadata count must not open a parquet data scan:\n$s")
  }

  test("q26: the min-price join-back is hash-joined; at-scale shape is co-partitioned on l_partkey") {
    // default config: AQE must resolve every q26 join as a hash join
    // (the part sliver broadcasts by gated hint at toy SF) — the r6
    // bench regression was traced to run-environment inflation, NOT a
    // sort-merge flip; this pins that a real flip can never land
    // silently. (r15 shape note: the correlated min is a partition-wide
    // WINDOW over l_partkey with the part sliver joined BEFORE the
    // window — partition pruning commutes with a partition-wide min —
    // not the removed min-price aggregate+join-back.)
    val s = planStr(Relational.q26CheapestSupplier(spark, sf))
    assert(!s.contains("SortMergeJoin"),
      s"q26's joins must stay hash joins at toy SF:\n$s")
    // at-scale shape: with broadcast off, the window keys on l_partkey
    // ONLY, so the fact crosses one partkey exchange into the window;
    // the supplier attach re-keys on l_suppkey. Bounded: l-fact partkey,
    // part, l_suppkey re-key, supplier, distinct ≤ 6 exchanges (nation
    // stays broadcast by hint).
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Relational.q26CheapestSupplier(spark, sf)
      val n = shuffles(df)
      assert(n <= 6, s"q26 at-scale shuffle count regressed to $n:\n${planStr(df)}")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("d15: paragraph dedup is an fp equi-join with partial aggregation everywhere") {
    val df = Dedup.d15ParagraphDedup(spark, sf)
    val s = planStr(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"the removal decision must ride the fp equi-join:\n$s")
    assert("HashAggregate".r.findAllIn(s).size >= 4,
      s"canonical-min, per-doc, and per-source levels must partial-aggregate:\n$s")
  }

  test("t25/p08: tokenizer application and quality sampling are join-free map-side scans") {
    for ((name, df) <- Seq(
        "t25" -> TextAnalysis.t25BpeTokenize(spark, sf),
        "p08" -> Sampling.p08QualitySample(spark, sf))) {
      val s = planStr(df)
      assert(!s.contains("Join"), s"$name must not join:\n$s")
      assert(shuffles(df) <= 2, s"$name should shuffle only for the rollup + sort")
    }
  }

  test("s10: IVF-PQ candidates ride broadcast-only joins into two heap stages") {
    val s = planStr(Similarity.s10IvfPqAnn(spark, sf))
    assert(!s.contains("CartesianProduct"),
      s"IVF-PQ must never cartesian-join the corpus:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"probes and ADC tables are the only joins and both broadcast:\n$s")
    assert("TopKPerGroup".r.findAllIn(s).size >= 2,
      s"shortlist AND exact rescore must both be heap stages:\n$s")
  }

  test("m04: phash candidates ride the band equi-join, never a cross join") {
    val s = planStr(Multimodal.m04PhashNeardup(spark, sf))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the (band, key) equi-join:\n$s")
  }

  test("s08: the broadcast hint lands on the side a left outer join can build") {
    // With size-based broadcasting off, only an honoured hint can put a
    // BroadcastHashJoin in the plan. A left outer join builds on its
    // right side, so a hint on the preserved left side is dropped.
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val expected = Similarity.s08KcenterCoreset(spark, sf).collect().toSeq
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Similarity.s08KcenterCoreset(spark, sf)
      val plan = executed(df)
      // the helper's collect descends into AQE's query stages
      val joins = new AdaptiveSparkPlanHelper {}.collect(plan) {
        case j: BroadcastHashJoinExec => j
      }
      assert(joins.exists(j => j.joinType == LeftOuter && j.buildSide == BuildRight),
        s"s08's hinted left outer join must broadcast its right side:\n$plan")
      assert(df.collect().toSeq == expected, "the hint changed s08's rows")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("s09: PQ scoring joins nothing but the broadcast ADC tables") {
    val s = planStr(Similarity.s09PqAnn(spark, sf))
    assert(!s.contains("CartesianProduct"),
      s"PQ must never cartesian-join the corpus:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"the only join may be the broadcast of the 8-row ADC table:\n$s")
    assert(s.contains("TopKPerGroup"), s"top-3 must ride the heap operator:\n$s")
  }

  test("q41-q45: the r8 TPC-H shapes push filters, prune scans, avoid cartesians") {
    // q41: the part name filter must reach the part scan; nation is the
    // only broadcast-hinted dim; no cartesian anywhere in the star
    val s41 = planStr(Relational.q41ProfitByNation(spark, sf))
    assert(s41.contains("PushedFilters") && s41.contains("p_name"),
      s"q41 part-name filter not pushed:\n$s41")
    assert(!s41.contains("CartesianProduct"), s"q41 cartesian:\n$s41")
    // q42: both scan filters pushed; top-20 rides TakeOrdered, never a
    // global sort of the aggregate
    val df42 = Relational.q42ReturnedTopCustomers(spark, sf)
    val s42 = planStr(df42)
    assert(s42.contains("l_returnflag") && s42.contains("o_orderdate"),
      s"q42 scan filters not pushed:\n$s42")
    assert(s42.contains("TakeOrderedAndProject"),
      s"q42 top-20 must be TakeOrdered:\n$s42")
    // q43: the ship-year window reaches the lineitem scan; exactly one
    // fact-side exchange feeds the header join at any broadcast decision
    val s43 = planStr(Relational.q43PriorityShipping(spark, sf))
    assert(s43.contains("l_shipdate"), s"q43 window not pushed:\n$s43")
    assert("HashAggregate".r.findAllIn(s43).size >= 2,
      s"q43 conditional counts must partial-aggregate:\n$s43")
    // q44: single aggregation pass — promo and total terms may not plan
    // as two scans of lineitem
    val s44 = planStr(Relational.q44PromoShare(spark, sf))
    assert("FileScan parquet".r.findAllIn(s44).size <= 2,
      s"q44 must scan lineitem once and part once:\n$s44")
    // q45: the complaints exclusion stays an equi anti-join (the NOT IN
    // trap would plan a nested loop)
    val s45 = planStr(Relational.q45SupplierCountByClass(spark, sf))
    assert(!s45.contains("BroadcastNestedLoopJoin") && !s45.contains("CartesianProduct"),
      s"q45 exclusion must be an equi anti-join:\n$s45")
  }

  test("q46/t26/p11: snapshot kills the double fact scan; count tables reuse exchanges") {
    // q46: the revenue view is snapshotted, so the winner filter and the
    // MAX branch both read the materialization — the FACT appears in the
    // final plan ZERO times (it was consumed once, by the snapshot job)
    val s46 = planStr(Relational.q46TopSupplier(spark, sf))
    assert(!s46.contains("lineitem.parquet"),
      s"q46 must not rescan the fact after the view snapshot:\n$s46")
    // t26: the unigram count table is referenced three times (c_u, c_w,
    // totals) — at least two references must ride ReusedExchange, not
    // recompute the aggregation
    val s26 = planStr(TextAnalysis.t26PmiCollocations(spark, sf))
    assert("ReusedExchange".r.findAllIn(s26).size >= 2,
      s"t26 count-table references must reuse exchanges:\n$s26")
    // p11: the repair joins stay equi-shaped — the leaked-id membership
    // must never plan as a nested loop over the corpus
    val s11 = planStr(Pipelines.p11LeakageRepair(spark, sf))
    assert(!s11.contains("CartesianProduct"),
      s"p11 must stay equi-join shaped:\n$s11")
    // m05: candidates from the frame-digest equi-join, never asset×asset
    val sm5 = planStr(Multimodal.m05FrameReuse(spark, sf))
    assert(!sm5.contains("CartesianProduct") && !sm5.contains("BroadcastNestedLoopJoin"),
      s"m05 must pair via the digest equi-join:\n$sm5")
    // s14: the shortlist rides the heap operator and both hot loops are
    // the native expressions, not interpreted HOF chains
    val s14 = planStr(Similarity.s14AnnPca(spark, sf))
    assert(s14.contains("TopKPerGroup"), s"s14 shortlist must be the heap:\n$s14")
    assert(s14.contains("graft_sqdist") && s14.contains("graft_pca_project"),
      s"s14 hot loops must be native expressions:\n$s14")
  }

  test("size-gated broadcast hints: applied under the bound, elided past it (r16)") {
    // both regimes of Relational.broadcastIfUnder, pinned with auto-
    // broadcast OFF so the hint is the ONLY broadcast source (the q26
    // test's conf pattern): under the bound the join must be a
    // BroadcastHashJoin; past it the hint must vanish and the join
    // degrade to a shuffle join — the automatic come-off that replaces
    // the comment-documented ~SF1000 bounds of q05/q24/q26/q35/q41.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Relational.broadcastIfUnder(Long.MaxValue, 0L)(
        Tables.part(spark, sf).select(col("p_partkey"), col("p_brand")))
      val hinted = Tables.lineitem(spark, sf)
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).count()
      assert(planStr(hinted).contains("BroadcastHashJoin"),
        s"under the bound the gate must emit the hint:\n${planStr(hinted)}")
      val unhinted = Relational.broadcastIfUnder(0L, 1L)(
        Tables.part(spark, sf).select(col("p_partkey"), col("p_brand")))
      val plain = Tables.lineitem(spark, sf)
        .join(unhinted, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).count()
      assert(!planStr(plain).contains("BroadcastHashJoin"),
        s"past the bound the hint must come off:\n${planStr(plain)}")
      // and the gated queries compute identical results in both regimes
      // (the shuffle-join fallback is a plan change only)
      val a = Relational.q41ProfitByNation(spark, sf).collect().toSeq
      conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      val b = Relational.q41ProfitByNation(spark, sf).collect().toSeq
      assert(a == b, "q41 result changed across broadcast regimes")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("bloomShed: no false negatives, identical join downstream, gated off at toy SF (r16)") {
    import org.apache.spark.sql.functions.col
    // semantics: shed(big) ⊇ matching rows, and the downstream join is
    // bit-identical — false positives only cost shuffle bytes
    val keys = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < org.apache.spark.sql.functions.lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"))
    val big = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_quantity"))
    val shed = Relational.bloomShed(keys, "o_orderkey", big, col("l_orderkey"))
    val joinedShed = shed.join(keys, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val joinedPlain = big.join(keys, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(joinedShed == joinedPlain, "bloom shed changed the join result")
    // the probe is the codegen'd catalyst expression, in the plan
    assert(shed.queryExecution.executedPlan.toString.contains("might_contain"),
      "shed filter missing from the plan")
    // the shed really prunes: planted foreign keys are dropped
    val foreign = big.filter(col("l_orderkey") < 0)
    assert(Relational.bloomShed(keys, "o_orderkey",
      big.withColumn("l_orderkey", -col("l_orderkey") - 1), col("l_orderkey"))
      .count() < big.count(), "shed dropped nothing on disjoint keys")
    assert(foreign.count() == 0) // sanity: the plant above was synthetic
    // empty keys side: identity (the downstream join keeps nothing)
    assert(Relational.bloomShed(keys.filter(org.apache.spark.sql.functions.lit(false)),
      "o_orderkey", big, col("l_orderkey")).count() == big.count())
    // gate: at toy SF the fact is far under BloomShedMinFactBytes, so
    // the declared q03/q04/q42 plans carry NO bloom probe — the
    // driver-contract small-SF plans are unchanged by r16
    Seq(Relational.q03ShippingPriority(spark, sf),
        Relational.q04SemiJoin(spark, sf),
        Relational.q42ReturnedTopCustomers(spark, sf)).foreach { df =>
      assert(!df.queryExecution.executedPlan.toString.contains("might_contain"),
        "bloom gate must stay off under BloomShedMinFactBytes")
    }
  }

  test("salted join equals the plain join and splits hot keys") {
    import spark.implicits._
    // heavy skew: one key holds 10k of 10.4k rows
    val big = (Seq.fill(10000)(1) ++ (2 to 401)).toDF("k")
      .withColumn("v", org.apache.spark.sql.functions.expr("uuid()"))
    val small = (1 to 401).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).groupBy("k").count()
    val salted = SkewUtils.saltedJoin(big, small, "k", salt = 8).groupBy("k").count()
    val p = plain.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val q = salted.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(p == q, "salted join changed the result")
    val planS = salted.queryExecution.executedPlan.toString
    assert(planS.contains(SkewUtils.SaltCol), "salt column missing from join keys")
  }
}
