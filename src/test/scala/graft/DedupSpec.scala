package graft

import graft.operators.Dedup

class DedupSpec extends GraftSuite {

  test("d01 covers every doc and canonical rows exist per group") {
    val rows = Dedup.d01ExactDedup(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val byGroup = rows.groupBy(_.getAs[String]("dup_group"))
    byGroup.foreach { case (g, rs) =>
      assert(rs.count(_.getAs[Boolean]("is_canonical")) == 1, s"group $g")
    }
  }

  test("d02 finds the planted near-dup pairs, all above threshold") {
    val rows = Dedup.d02NgramJaccard(spark, sf).collect()
    assert(rows.nonEmpty, "no near-dup pairs found")
    rows.foreach { r =>
      assert(r.getAs[Double]("jaccard") >= 0.2)
      assert(r.getAs[Long]("doc_i") < r.getAs[Long]("doc_j"))
    }
  }

  test("d14 calibration rows cover d03's verified pairs with sane estimator bounds") {
    val cal = Dedup.d14MinhashCalibration(spark, sf).collect()
    assert(cal.nonEmpty)
    cal.foreach { r =>
      val (est, shared, uni) = (r.getAs[Long]("est_matches"),
        r.getAs[Long]("shared"), r.getAs[Long]("uni"))
      // a band collision means 2 consecutive signature positions agree
      assert(est >= 2L && est <= 32L, s"estimator numerator out of range: $r")
      assert(uni >= shared && shared >= 0L && uni >= 1L, s"overlap counts: $r")
    }
    // the raw candidate set must contain every pair d03 verifies
    val candPairs = cal.map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.d03MinhashLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(candPairs),
      s"d03 verified pairs missing from d14 candidates: ${verified -- candPairs}")
    // calibration sanity: the estimator should read higher on truly
    // similar pairs than on band-collision false positives
    val (hi, lo) = cal.partition(r =>
      r.getAs[Long]("shared") * 2L >= r.getAs[Long]("uni")) // j >= 0.5
    if (hi.nonEmpty && lo.nonEmpty) {
      def meanEst(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(_.getAs[Long]("est_matches")).sum.toDouble / rs.length
      assert(meanEst(hi) > meanEst(lo),
        "estimator not ordered with exact similarity")
    }
  }

  test("d03 LSH candidates are a (near-complete) subset of d02 pairs") {
    val exact = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    val lsh = Dedup.d03MinhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    assert(lsh.nonEmpty, "LSH found no pairs")
    assert(lsh.subsetOf(exact), s"LSH emitted non-verified pairs: ${lsh -- exact}")
    // 16 bands × 2 rows: expected recall ≥ 1-(1-j²)^16 ≈ 99% at j=0.5
    assert(lsh.size * 10 >= exact.size * 9, s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("d04 simhash: near-dup pairs are closer in hamming than random pairs") {
    val fp = Dedup.d04Simhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fp.values.forall(_ >= 0L))
    val dupPairs = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val dupHam = dupPairs.map { case (i, j) => ham(fp(i), fp(j)) }
    val ids = fp.keys.toSeq.sorted
    val randHam = ids.zip(ids.drop(1)).take(100).map { case (i, j) => ham(fp(i), fp(j)) }
    assert(dupHam.sum.toDouble / dupHam.size < randHam.sum.toDouble / randHam.size,
      s"dup avg hamming ${dupHam.sum.toDouble / dupHam.size} not below random ${randHam.sum.toDouble / randHam.size}")
  }

  test("d06 simhash pairs: banded candidates verified at hamming <= 8") {
    val rows = Dedup.d06SimhashPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    val fp = Dedup.d04Simhash(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    rows.foreach { r =>
      val (i, j, h) = (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"), r.getAs[Long]("hamming"))
      assert(h <= 8 && i < j)
      assert(java.lang.Long.bitCount(fp(i) ^ fp(j)) == h, s"hamming mismatch for ($i,$j)")
    }
  }

  test("d07 clusters partition the pair graph: every pair lands in one cluster") {
    val pairs = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")))
    val clusters = Dedup.d07DupClusters(spark, sf).collect()
    val nDocs = clusters.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == pairs.flatMap(p => Seq(p._1, p._2)).distinct.length,
      "clusters must cover exactly the docs that appear in pairs")
    clusters.foreach { c =>
      assert(c.getAs[Long]("n_docs") >= 2, "a cluster needs at least one pair")
      assert(c.getAs[Long]("cluster_id") <= c.getAs[Long]("max_doc"))
    }
    // canonical id is the component minimum: no pair may straddle clusters
    val label = scala.collection.mutable.Map.empty[Long, Long]
    // union-find ground truth
    def find(x: Long): Long = { val p = label.getOrElse(x, x); if (p == x) x else { val r = find(p); label(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) label(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find).map { case (k, v) => (k, v.length.toLong) }
    val got = clusters.map(c => c.getAs[Long]("cluster_id") -> c.getAs[Long]("n_docs")).toMap
    assert(got == truth, s"cluster structure mismatch: $got vs $truth")
  }

  test("d21 canonical pick: best quality per d07 cluster, recomputed on the driver") {
    val pairs = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")))
    // union-find ground truth over the same pair graph d07 labels
    val label = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = label.getOrElse(x, x); if (p == x) x else { val r = find(p); label(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) label(math.max(ra, rb)) = math.min(ra, rb)
    }
    // integer stopword-density ppm, exactly the engine's arithmetic
    val qOf = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .filter(_._2.length >= 3)
      .map { case (id, toks) =>
        id -> toks.count(graft.functions.TextFunctions.stopwords.contains)
          .toLong * 1000000L / toks.length
      }.toMap
    val truth = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
      .map { case (cid, members) =>
        val canon = members.minBy(d => (-qOf(d), d))
        cid -> (members.length.toLong, canon, qOf(canon))
      }
    val got = Dedup.d21QualityCanonical(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("canonical_doc"),
          r.getAs[Long]("canonical_q_ppm"))).toMap
    assert(got == truth, s"canonical selection diverged:\ngot  $got\nwant $truth")
    // the pick is genuinely quality-aware somewhere: at least one
    // cluster's canonical is NOT its minimum doc_id (else this operator
    // would be indistinguishable from an id-ordered pick on this corpus)
    val minPick = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
      .map { case (cid, m) => cid -> m.min }
    assert(got.exists { case (cid, (_, canon, _)) => canon != minPick(cid) },
      "fixture too weak: every canonical equals the min-id pick")
  }

  test("d21b trained-score canonical: same clusters as d21, pick is the score argmax") {
    import org.apache.spark.sql.functions.col
    val d21 = Dedup.d21QualityCanonical(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("n_docs")).toMap
    val got = Dedup.d21bTrainedCanonical(spark, sf).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("canonical_doc"),
          r.getAs[Long]("canonical_score_q"))).toMap
    // identical cluster structure — only the scoring differs
    assert(got.view.mapValues(_._1).toMap == d21,
      "d21b must label the same clusters as d21")
    // the pick is the argmax of the (already spec-pinned) trained
    // scores: recompute per cluster from the scored table + a driver
    // union-find over the same pair graph
    val pairs = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")))
    val label = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = label.getOrElse(x, x); if (p == x) x else { val r = find(p); label(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) label(math.max(ra, rb)) = math.min(ra, rb)
    }
    val (weights, interceptQ) =
      graft.operators.TextAnalysis.t28ExportWeights(spark, sf)
    val scoreOf = graft.operators.TextAnalysis.quantizedDocScores(
        Tables.documents(spark, sf), weights, interceptQ, carry = Nil)
      .select(col("doc_id"), col("score_q")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
      .foreach { case (cid, members) =>
        val want = members.minBy(d => (-scoreOf(d), d))
        assert(got(cid)._2 == want && got(cid)._3 == scoreOf(want),
          s"cluster $cid: got ${got(cid)}, want ($want, ${scoreOf(want)})")
      }
  }

  test("d07 with a reliable checkpoint dir matches the localCheckpoint result") {
    // an executor loss mid-iteration kills the local-checkpoint path on a
    // real cluster; the reliable mode must be result-identical
    PinSpec.checkReliable(spark, sf, "d07")
  }

  test("d10 leakage: flagged eval docs genuinely share shingles with train") {
    import org.apache.spark.sql.functions.{col, size => asize}
    val rows = Dedup.d10CrossSplitLeakage(spark, sf).collect()
    assert(rows.nonEmpty, "planted dups should straddle the split boundary")
    rows.foreach { r =>
      assert(Set("val", "test").contains(r.getAs[String]("split")))
      assert(r.getAs[Long]("n_leaked") <= r.getAs[Long]("n_shingles"))
      assert(r.getAs[Double]("contamination") >= 0.3 - 1e-9)
    }
    // zero-threshold run must cover every flagged doc and never report
    // MORE leaked shingles than the doc has
    val all = Dedup.d10CrossSplitLeakage(spark, sf, threshold = 0.0).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet
      .subsetOf(all.map(_.getAs[Long]("doc_id")).toSet))
  }

  test("d10 Bloom prefilter is result-identical and plans the sketch probe map-side") {
    // exactness is structural: a Bloom false positive merely survives to
    // the exact left-semi join, which rejects it — so the prefiltered
    // output must equal the plain one row-for-row (at BOTH thresholds)
    val plain = Dedup.d10CrossSplitLeakage(spark, sf).collect()
    val bloom = Dedup.d10CrossSplitLeakageBloom(spark, sf)
    assert(plain.map(_.toString).toSeq == bloom.collect().map(_.toString).toSeq,
      "Bloom-prefiltered d10 diverged from the plain form")
    val plain0 = Dedup.d10CrossSplitLeakage(spark, sf, threshold = 0.0).collect()
    val bloom0 = Dedup.d10CrossSplitLeakageBloom(spark, sf, threshold = 0.0).collect()
    assert(plain0.map(_.toString).toSeq == bloom0.map(_.toString).toSeq)
    // the probe is Spark's codegen'd might_contain over the broadcast
    // 1-row sketch — pinned so a refactor can't silently drop it back
    // to the unfiltered shuffle
    val s = bloom.queryExecution.executedPlan.toString
    assert(s.contains("might_contain") && s.contains("bloom_filter_agg"),
      s"Bloom probe not in the plan:\n$s")
  }

  test("d13 pruned semantic decontamination equals the brute cross join") {
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    // brute recomputation of the operator's semantics: every eval-split
    // vector × every train-split vector, exact cosine, same split rule —
    // the pruned inverted-list plan must be output-identical (s06's
    // exactness contract, here under a corpus-sized query set).
    val bucket = pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 15),
      16, 10).cast("long"), lit(100L))
    val e = Tables.embeddings(spark, sf)
      .filter(VF.dot(col("embedding"), col("embedding")) > 0)
      .withColumn("bucket", bucket)
    val tr = e.filter(col("bucket") < 80)
      .select(col("embedding").as("tv"))
    val brute = e.filter(col("bucket") >= 80)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qv"))
      .crossJoin(tr)
      .withColumn("cos", VF.cosine(col("qv"), col("tv")))
      .filter(coalesce(col("cos") >= Dedup.D13Tau, lit(false)))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_near"), round(max(col("cos")), 4).as("max_cos"))
      .collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("n_near"),
        r.getAs[Double]("max_cos"))).toSet
    val pruned = Dedup.d13SemanticDecontamination(spark, sf).collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("n_near"),
        r.getAs[Double]("max_cos"))).toSet
    assert(pruned.nonEmpty, "no semantic leakage found on testdata")
    assert(pruned == brute,
      s"pruned\\brute=${(pruned -- brute).take(5)} brute\\pruned=${(brute -- pruned).take(5)}")
  }

  test("d13 triangle bound prunes train lists on clustered data, exactly") {
    // The uniform testdata cannot prune (SimilaritySpec's s06 analysis);
    // d13's workload — corpora with near-dup structure — is clustered,
    // so pruning is demonstrated on a planted clustered corpus with a
    // HIGH tau, and exactness is re-pinned there.
    import org.apache.spark.sql.functions._
    import graft.functions.{VectorFunctions => VF}
    val dir = java.nio.file.Files.createTempDirectory("d13spec").toString
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0L until 256L).map { i =>
      val c = (i % 4).toInt
      val v = Array.tabulate(64)(j =>
        (if (j == c) 1f else 0f) + (rnd.nextFloat() - 0.5f) * 0.05f)
      (i, v, s"l$c")
    } :+ ((256L, Array.fill(64)(0f), "zero")) // zero-norm: screened from both sides
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val nLists = operators.Similarity.RangeLists
    val tau = 0.9
    val (_, probes) = Dedup.d13Index(spark, dir, tau, nLists)
    val nEval = probes.select("query_id").distinct().count()
    assert(nEval > 0, "planted corpus produced no eval split")
    val probed = probes.count()
    assert(probed < nEval * nLists / 2,
      s"tau=$tau pruned under half: $probed of ${nEval * nLists} probes")
    // exactness on the clustered corpus: pruned == brute at the same tau
    val pruned = Dedup.d13SemanticDecontamination(spark, dir, tau, nLists)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucket = pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 15),
      16, 10).cast("long"), lit(100L))
    val e = Tables.embeddings(spark, dir)
      .filter(VF.dot(col("embedding"), col("embedding")) > 0)
      .withColumn("bucket", bucket)
    val brute = e.filter(col("bucket") >= 80)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qv"))
      .crossJoin(e.filter(col("bucket") < 80).select(col("embedding").as("tv")))
      .withColumn("cos", VF.cosine(col("qv"), col("tv")))
      .filter(coalesce(col("cos") >= tau, lit(false)))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_near"), round(max(col("cos")), 4).as("max_cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == brute,
      s"pruned\\brute=${(pruned -- brute).take(5)} brute\\pruned=${(brute -- pruned).take(5)}")
  }

  test("d05 embedding dups stay within label blocks and above threshold") {
    val rows = Dedup.d05EmbeddingDup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") >= 0.35)
      assert(r.getAs[Long]("vec_i") < r.getAs[Long]("vec_j"))
    }
  }

  test("prefix-filtered jaccard join equals the full inverted index") {
    import org.apache.spark.sql.functions._
    val full = Dedup.d02NgramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.ngramJaccardPairsPrefix(spark, sf)
      .select(col("doc_i"), col("doc_j"), round(col("jaccard"), 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == pref, "PPJoin prefix filter changed the result set")
    assert(full.nonEmpty)
  }

  test("d09 containment bounds and catches every high-jaccard pair") {
    val rows = Dedup.d09Containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(rows.nonEmpty)
    rows.values.foreach(c => assert(c >= 0.4 && c <= 1.0))
    // containment >= jaccard, so every d02 pair at >= 0.4 jaccard must
    // appear in at least one direction
    Dedup.d02NgramJaccard(spark, sf).collect()
      .filter(_.getDouble(2) >= 0.4)
      .foreach { r =>
        val (i, j) = (r.getLong(0), r.getLong(1))
        assert(rows.contains((i, j)) || rows.contains((j, i)),
          s"high-jaccard pair ($i,$j) missing from containment")
      }
  }

  test("d11 winnowing: reported pairs share real runs; long-run pairs are never missed") {
    val w = Dedup.WinnowW; val k = Dedup.WinnowK
    val reported = Dedup.d11WinnowedDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    assert(reported.nonEmpty, "no winnowed dup pairs found")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).sortBy(_._1)
    // longest common substring via rolling DP rows
    def lcs(a: String, b: String): Int = {
      var prev = new Array[Int](b.length + 1)
      var cur = new Array[Int](b.length + 1)
      var best = 0
      var i = 1
      while (i <= a.length) {
        var j = 1
        while (j <= b.length) {
          cur(j) = if (a.charAt(i - 1) == b.charAt(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
          j += 1
        }
        val t = prev; prev = cur; cur = t; java.util.Arrays.fill(cur, 0)
        i += 1
      }
      best
    }
    // soundness: every reported pair genuinely shares >= one full w-char
    // window (n_shared >= 2 implies >= 2 windows, but each is >= w chars)
    reported.foreach { case (i, j) =>
      val l = lcs(docs.find(_._1 == i).get._2, docs.find(_._1 == j).get._2)
      assert(l >= w, s"pair ($i,$j) reported but LCS=$l < $w")
    }
    // completeness — the EXACT winnowing guarantee: a shared run of
    // >= w + k - 1 chars contains a full k-window of shared hashes whose
    // min is selected in both docs, so >= 1 shared fingerprint. (No such
    // guarantee lifts to >= 2 DISTINCT fingerprints: a periodic run can
    // collapse every selected min to one hash value — so the default
    // minShared=2 operator is checked at minShared=1 here.)
    val anyShared = Dedup.d11WinnowedDup(spark, sf, w, k, minShared = 1L)
      .collect().map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    for (ai <- docs.indices; bi <- ai + 1 until docs.length) {
      val (di, ti) = docs(ai); val (dj, tj) = docs(bi)
      if (lcs(ti, tj) >= w + k - 1)
        assert(anyShared.contains((di, dj)),
          s"pair ($di,$dj) shares a >=${w + k - 1}-char run but has no shared fingerprint")
    }
  }

  test("d08 source report accounts for every d02 pair, unordered keys sorted") {
    val rows = Dedup.d08NeardupBySource(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_pairs")).sum
    assert(total == Dedup.d02NgramJaccard(spark, sf).count(),
      "per-source pair counts must partition the d02 pair set")
    rows.foreach(r => assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b")))
  }

  test("connected components closes a 64-node path in O(log d) rounds") {
    // Pure one-hop propagation needs ~63 rounds on a path; the pointer
    // jump must close it logarithmically (log2(64)=6, plus slack for
    // the final no-change confirmation round).
    import spark.implicits._
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val (labels, rounds) = Dedup.connectedComponents(spark, pairs)
    val got = labels.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster")).toMap
    assert(got.size == 64 && got.values.forall(_ == 0L),
      s"path graph must collapse to cluster 0: ${got.toSeq.sortBy(_._1).take(8)}")
    assert(rounds <= 10, s"path-64 took $rounds rounds — pointer jump not effective")
    // and a star graph (diameter 2) still closes in a couple of rounds
    val star = (1L until 20L).map(i => (0L, i)).toDF("doc_i", "doc_j")
    val (slabels, srounds) = Dedup.connectedComponents(spark, star)
    assert(slabels.collect().forall(_.getAs[Long]("cluster") == 0L))
    assert(srounds <= 3, s"star took $srounds rounds")
  }

  test("df-capped index plans are result-identical when nothing is hot") {
    // A finite cap forces the capping plan (df agg + anti-join) even
    // when no key exceeds it — results must equal the uncapped path on
    // this skew-free corpus, for both the shingle and fingerprint index.
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    val bigCap = 1000000L
    assert(pairs(Dedup.d02NgramJaccard(spark, sf, bigCap)) ==
      pairs(Dedup.d02NgramJaccard(spark, sf)))
    assert(pairs(Dedup.d11WinnowedDup(spark, sf,
        Dedup.WinnowW, Dedup.WinnowK, Dedup.WinnowMinShared, bigCap)) ==
      pairs(Dedup.d11WinnowedDup(spark, sf)))
  }

  test("stop-shingle cap drops boilerplate hot buckets, keeps real dups") {
    // Planted corpus: 40 unique docs + one true near-dup pair, ALL
    // docs sharing one boilerplate sentence. Uncapped, the boilerplate
    // shingles pair every doc with every other (O(n^2) candidates);
    // with a cap below the boilerplate df the junk pairs vanish while
    // the true dup pair (which shares plenty of sub-cap shingles)
    // survives.
    val dir = java.nio.file.Files.createTempDirectory("dfcap").toString
    import spark.implicits._
    // 20 boilerplate tokens vs 10-token bodies: boilerplate shingles
    // dominate every pair's overlap (jaccard ≈ 0.43 > 0.2) until capped
    val boiler = "subscribe to our newsletter for weekly updates and follow " +
      "us on every major social platform to never miss another exciting story"
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def body(): String = Seq.fill(10)(words(rnd.nextInt(words.length))).mkString(" ")
    val uniq = (0L until 40L).map(i => (i, s"${body()} doc$i marker$i $boiler"))
    val dupBase = body() + " " + body()
    val docs = uniq ++ Seq((100L, s"$dupBase $boiler"), (101L, s"$dupBase extra $boiler"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val uncapped = Dedup.d02NgramJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    val capped = Dedup.d02NgramJaccard(spark, dir, 20L).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    assert(capped.contains((100L, 101L)), "cap lost the true near-dup pair")
    assert(capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size,
      s"boilerplate pairs survived the cap: ${capped.size} of ${uncapped.size}")
    // the BOUNDED-FACTOR win, measured on the deterministic quantity wall
    // time is a proxy for: the candidate join's row volume Σ df·(df−1)/2.
    // The planted boilerplate pairs all 42 docs with each other uncapped;
    // capping must collapse that quadratic term by ≥ 10×. (ScaleProbe
    // --skew measures the same effect in seconds at 1×–16× scale.)
    import org.apache.spark.sql.functions.{col, count => cnt, explode, lit => l2, size => sz, sum => sm}
    val sh = Tables.documents(spark, dir)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .filter(sz(col("toks")) >= 3)
      .select(explode(
        graft.functions.NativeFunctions.shingleHashes(col("toks"))).as("h"))
      .groupBy("h").agg(cnt(l2(1)).as("df"))
    def volume(capDf: Long): Long = sh.filter(col("df") <= capDf)
      .agg(sm(col("df") * (col("df") - 1))).head().getLong(0) / 2
    val volUncapped = volume(Long.MaxValue)
    val volCapped = volume(20L)
    assert(volCapped * 10 <= volUncapped,
      s"cap must shrink candidate volume >=10x: $volCapped vs $volUncapped")
  }

  test("d13: persisted train-split index serves results identical to fresh fit") {
    import graft.operators.Similarity
    val n = Tables.parquetRowCount(spark, sf, "embeddings")
    // no-knob d13 is footer-auto-sized since r13
    Similarity.dropIvfIndex(spark, sf, "d13", Similarity.autoNLists(spark, sf), n)
    val fresh = Dedup.d13SemanticDecontamination(spark, sf).collect()
    val served = Dedup.d13SemanticDecontamination(spark, sf).collect()
    assert(fresh.toSeq == served.toSeq,
      "d13 index-served result diverged from fresh fit")
  }

  test("d15: paragraph dedup matches a driver recompute and strips the planted cross-doc paragraphs") {
    val paras = Dedup.d15ParagraphFps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(paras.nonEmpty)
    val keepDoc = paras.groupBy(_._3).map { case (fp, rs) => fp -> rs.map(_._1).min }
    val perDoc = paras.groupBy(r => (r._1, r._2)).map { case ((id, src), rs) =>
      (id, src, rs.length.toLong, rs.count(r => id > keepDoc(r._3)).toLong)
    }.toSeq
    val want = perDoc.groupBy(_._2).map { case (src, ds) =>
      src -> (ds.size.toLong, ds.map(_._3).sum, ds.map(_._4).sum,
        ds.count(_._4 > 0).toLong)
    }
    val got = Dedup.d15ParagraphDedup(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("paras_total"),
          r.getAs[Long]("paras_removed"), r.getAs[Long]("docs_affected"))).toMap
    assert(got == want, s"per-source audit diverged:\ngot  $got\nwant $want")
    // the planted fixture: every %5 doc except the canonical (lowest) one
    // must lose at least its planted license paragraph
    val md = java.security.MessageDigest.getInstance("MD5")
    val plantedFp = md.digest(Dedup.PlantedParagraphs(0).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val plantedDocs = paras.collect { case (id, _, fp) if fp == plantedFp => id }.distinct
    assert(plantedDocs.size > 1, "fixture needs >1 doc carrying the planted paragraph")
    val canonical = plantedDocs.min
    val removedByDoc = perDoc.map(d => (d._1, d._4)).toMap
    plantedDocs.filter(_ != canonical).foreach { id =>
      assert(removedByDoc(id) >= 1L, s"doc $id kept a planted duplicate paragraph")
    }
  }

  test("d12 semdedup: drops are exactly the d05 higher-id pair members") {
    val rows = Dedup.d12SemDedup(spark, sf).collect()
    val perLabel = Tables.embeddings(spark, sf).groupBy("label").count()
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Long]("count")).toMap
    assert(rows.map(_.getAs[Int]("label")).toSet == perLabel.keySet,
      "report must cover every label, dropped or not")
    val expectDrops: Map[Int, Long] = Dedup.d05EmbeddingDup(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_j")))
      .distinct.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    rows.foreach { r =>
      val l = r.getAs[Int]("label")
      assert(r.getAs[Long]("n_vecs") == perLabel(l))
      assert(r.getAs[Long]("n_dropped") == expectDrops.getOrElse(l, 0L),
        s"label $l drop count diverged from the d05 pair set")
      assert(r.getAs[Long]("n_kept") ==
        r.getAs[Long]("n_vecs") - r.getAs[Long]("n_dropped"))
      assert(r.getAs[Long]("n_kept") >= 1L, s"label $l dropped everything")
    }
  }

  test("d12b: IVF drops are sound, and every band/list divergence is a candidate split, never a verify bug") {
    import org.apache.spark.sql.functions._
    // exact all-pairs ground truth (driver; test-SF embeddings are small)
    val vecs = Tables.embeddings(spark, sf)
      .select("label", "vec_id", "embedding").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id"),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byLabel = vecs.groupBy(_._1)
    val exactPairs = byLabel.values.flatMap { vsArr =>
      val vs = vsArr.toSeq
      for (a <- vs; b <- vs if a._2 < b._2 && cos(a._3, b._3) >= 0.35)
        yield (a._1, a._2, b._2)
    }.toSet
    val exactDrops = exactPairs.map(p => (p._1, p._3))
    val ivfPairs = Dedup.d12IvfPairs(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_i"),
        r.getAs[Long]("vec_j"))).toSet
    val ivfDrops = ivfPairs.map(p => (p._1, p._3))
    val bandDrops = Dedup.d12DropsBands(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("vec_id"))).toSet
    // soundness: both candidate generators only ever drop true near-dups
    assert(ivfPairs.subsetOf(exactPairs), "IVF pair failed the exact cosine rule")
    assert(ivfDrops.subsetOf(exactDrops) && bandDrops.subsetOf(exactDrops))
    // divergence characterization: a band-only drop's exact witnesses
    // must ALL straddle list boundaries (the clustering split them) —
    // if any witness shared the drop's list, the IVF form missed a
    // within-list pair, which would be a verify bug
    val listOf = graft.operators.Similarity.s03Index(spark, sf,
        Dedup.D12bLists)._1
      .select("vec_id", "list_id").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("list_id")).toMap
    (bandDrops -- ivfDrops).foreach { case (l, j) =>
      val witnesses = exactPairs.collect { case (pl, i, pj) if pl == l && pj == j => i }
      assert(witnesses.nonEmpty && witnesses.forall(i => listOf(i) != listOf(j)),
        s"band-only drop ($l, $j) has a same-list witness the IVF form missed")
    }
    // both samplers must carry real recall of the exact rule (measured
    // headroom: >= 60% at every test SF; they sit at 75-92%)
    assert(exactDrops.nonEmpty)
    assert(ivfDrops.size * 10 >= exactDrops.size * 6,
      s"IVF recall collapsed: ${ivfDrops.size}/${exactDrops.size}")
    assert(bandDrops.size * 10 >= exactDrops.size * 6,
      s"band recall collapsed: ${bandDrops.size}/${exactDrops.size}")
    // and the shipped d12b rollup is exactly the IVF drop set, rolled up
    val rolled = Dedup.d12bSemDedupIvf(spark, sf).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("n_dropped")).toMap
    val expect = ivfDrops.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    byLabel.keys.foreach { l =>
      assert(rolled(l) == expect.getOrElse(l, 0L), s"label $l rollup diverged")
    }
  }

  test("d16: every quoted benchmark item is flagged, no synthetic item is") {
    import org.apache.spark.sql.functions._
    val flags = Dedup.d16BenchmarkDecontam(spark, sf).collect()
    val flaggedIds = flags.map(_.getAs[Long]("bench_id")).toSet
    val plantedIds = Tables.documents(spark, sf)
      .filter(pmod(col("doc_id"), lit(17)) === 0)
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(plantedIds.nonEmpty, "fixture must plant quoted items")
    assert(flaggedIds == plantedIds,
      s"flag set must be exactly the quoted plants: missing ${plantedIds -- flaggedIds}, " +
        s"spurious ${flaggedIds -- plantedIds}")
    // quoted items are verbatim slices of corpus docs: containment is 1.0
    flags.foreach { r =>
      assert(r.getAs[Double]("contamination") == 1.0 &&
        r.getAs[Long]("n_leaked") == r.getAs[Long]("n_shingles"),
        s"quoted item ${r.getAs[Long]("bench_id")} not fully contained")
    }
  }

  test("d16: broadcast-Bloom prefiltered form is result-identical") {
    val exact = Dedup.d16BenchmarkDecontam(spark, sf).collect().toSeq
    val bloom = Dedup.d16BenchmarkDecontam(spark, sf, 0.3, bloomItems = 100000L)
      .collect().toSeq
    assert(exact == bloom, "Bloom prefilter must not change the verdict set")
  }

  test("d16: with the train index it agrees with the split-based d10 detector") {
    import org.apache.spark.sql.functions._
    val prepared = Dedup.d10Prepared(Tables.documents(spark, sf))
    val split = prepared.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // full-text benchmark (sliceNum = 5/5) probed against the TRAIN
    // index: for a benchmark item quoting a val/test doc this is exactly
    // d10's question, so the flag sets must agree on that overlap
    val benchFull = Dedup.d16Benchmark(spark, sf, sliceNum = 5)
    val d16Flags = Dedup.d16Flags(benchFull, Dedup.d10TrainIndex(prepared),
        0.3, bloomItems = 0L).collect()
      .map(_.getAs[Long]("bench_id")).filter(_ >= 0L)
      .filter(id => split.get(id).exists(_ != "train")).toSet
    val benchIds = benchFull.select("bench_id").collect()
      .map(_.getLong(0)).filter(_ >= 0L).toSet
    val d10Flags = Dedup.d10CrossSplitLeakage(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).filter(benchIds.contains).toSet
    assert(d16Flags == d10Flags,
      s"external and split-based detectors disagree on the overlap: " +
        s"d16-only ${d16Flags -- d10Flags}, d10-only ${d10Flags -- d16Flags}")
  }

  test("d16: public overload scores a FILE-LOADED external suite, identical to the planted path") {
    import org.apache.spark.sql.functions._
    // production shape: a benchmark suite arrives as a parquet file the
    // pipeline did not synthesize — write one (two verbatim-quote items
    // lifted from corpus docs + one corpus-absent synthetic), load it
    // back, and probe through the PUBLIC entry point
    val dir = java.nio.file.Files.createTempDirectory("d16ext").toString
    val src = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFunctions.tokens(col("text"))) >= 6)
      .orderBy("doc_id").limit(2).collect()
    val items = src.zipWithIndex.map { case (r, i) =>
      val toks = r.getAs[String]("text").trim.split("\\s+")
      (i.toLong, toks.take(5).mkString(" "))
    } :+ (99L, "zqx1 zqx2 zqx3 zqx4 zqx5 zqx6")
    import spark.implicits._
    items.toSeq.toDF("bench_id", "text").write.parquet(s"$dir/bench.parquet")
    val loaded = spark.read.parquet(s"$dir/bench.parquet")
    val flags = Dedup.d16BenchmarkDecontam(spark, sf, loaded, 0.3, 0L)
      .collect().map(r => r.getAs[Long]("bench_id") ->
        (r.getAs[Long]("n_leaked"), r.getAs[Long]("n_shingles"),
          r.getAs[Double]("contamination"))).toMap
    // both quoted items fully contained; the synthetic item absent
    Seq(0L, 1L).foreach { id =>
      val (leaked, total, c) = flags(id)
      assert(c == 1.0 && leaked == total, s"quoted item $id not fully contained")
    }
    assert(!flags.contains(99L), "corpus-absent item must not be flagged")
    // and on the SAME input the public overload is the gated operator:
    // feeding the planted suite through it reproduces the gate row set
    val viaPublic = Dedup.d16BenchmarkDecontam(spark, sf,
      Dedup.d16Benchmark(spark, sf), 0.3, 0L).collect().toSeq
    val gated = Dedup.d16BenchmarkDecontam(spark, sf).collect().toSeq
    assert(viaPublic == gated, "public overload diverged from the gated path")
  }

  test("d12b: hot-list sub-bucket cap collapses a planted mega-cluster's quadratic, no-op otherwise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // planted corpus: 200 near-identical vectors (one label) — the
    // dup-heavy input SemDeDup targets, which k-means concentrates into
    // ONE list — plus 40 spread vectors so the quantizer has structure
    val dim = 8
    def unit(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(seed)
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val hot = unit(7)
    val vecs =
      (0L until 200L).map { i =>
        val jit = unit(1000 + i.toInt).map(_ * 0.01f)
        (i, hot.zip(jit).map { case (a, b) => a + b }, 0L)
      } ++ (200L until 240L).map(i => (i, unit(i.toInt), 1L + i % 3))
    val dir = java.nio.file.Files.createTempDirectory("d12bcap").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    def pairSet(maxList: Long) =
      Dedup.d12IvfPairs(spark, dir, nLists = 4, maxList = maxList).collect()
        .map(r => (r.getAs[Long]("vec_i"), r.getAs[Long]("vec_j"))).toSet
    val uncapped = pairSet(Dedup.NoDfCap)
    val capped = pairSet(16L)
    // sub-bucketing only SPLITS candidate groups: capped pairs are a
    // nonempty subset (within-bucket near-dups survive)
    assert(capped.nonEmpty && capped.subsetOf(uncapped))
    assert(capped.size < uncapped.size, "mega-cluster pairs must shrink under the cap")
    // the bounded-factor win on the deterministic quantity (d02's skew
    // gate): candidate-join volume Σ pop·(pop−1)/2 per join group must
    // collapse ≥ 10× under the cap
    val (assigned, _) = graft.operators.Similarity.s03Index(spark, dir, 4)
    val pops = assigned.join(
        spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "label"),
        Seq("vec_id"))
      .groupBy("label", "list_id").agg(count(lit(1)).as("pop"))
      .collect().map(_.getAs[Long]("pop"))
    def vol(groupSizes: Seq[Long]) = groupSizes.map(p => p * (p - 1) / 2).sum
    val uncappedVol = vol(pops.toSeq)
    val cappedVol = vol(pops.toSeq.flatMap { p =>
      val b = math.max(1L, math.ceil(p.toDouble / 16L).toLong)
      // worst-case even split bound (the hash spreads ~uniformly)
      val base = p / b; val rem = p % b
      Seq.fill(rem.toInt)(base + 1) ++ Seq.fill((b - rem).toInt)(base)
    })
    assert(uncappedVol >= 10 * cappedVol,
      s"cap win below 10x: $uncappedVol vs $cappedVol")
    // and with every group under the cap the plan is result-identical —
    // the shipped default must not perturb the gate row (no_oracle,
    // spark_rows stable)
    assert(pairSet(100000L) == uncapped, "under-cap run must be a no-op")
    assert(pairSet(Dedup.D12bMaxList) == uncapped,
      "shipped default cap must be a no-op on this corpus")
  }

  test("d17: exact at the 63-char boundary — 62-char spans never pair, 63/64 always do") {
    import spark.implicits._
    // planted boundary corpus: three doc pairs sharing a verbatim span
    // of EXACTLY 62/63/64 chars (span flanked by differing chars on
    // both sides so it cannot extend), in otherwise-unique filler
    def filler(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(30)("uniq" + rnd.nextInt(1000000)).mkString(" ")
    }
    def span(len: Int, tag: Char): String =
      (0 until len).map(i => if (i % 7 == 6) ' ' else ('a' + (i * 31 + tag) % 26).toChar)
        .mkString
    val docs = Seq(62, 63, 64).zipWithIndex.flatMap { case (l, i) =>
      val s = span(l, ('p' + i).toChar)
      Seq((100L + 2 * i, s"${filler(2 * i)}X${s}Y${filler(100 + 2 * i)}"),
        (101L + 2 * i, s"${filler(50 + 2 * i)}Q${s}R${filler(150 + 2 * i)}"))
    }
    val dir = java.nio.file.Files.createTempDirectory("d17span").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.parquet(s"$dir/documents.parquet")
    val pairs = Dedup.d17ExactSubstring(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    assert(pairs == Set((102L, 103L), (104L, 105L)),
      s"d17 must flag exactly the 63- and 64-char span pairs, got $pairs")
    // the winnowing guarantee direction: d11 at minShared=1 catches
    // every >= 63-char span d17 certifies (its shipped minShared=2
    // config deliberately trades boundary-length single-span detection
    // for background noise rejection — measured here, not assumed)
    val d11At1 = Dedup.d11WinnowedDup(spark, dir,
        Dedup.WinnowW, Dedup.WinnowK, 1L, Dedup.NoDfCap).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j"))).toSet
    assert(pairs.subsetOf(d11At1),
      s"winnowing guarantee broken: d17 pairs ${pairs -- d11At1} missed at minShared=1")
  }

  test("d17: pair set equals the declarative per-position index recompute, and n_shared counts windows") {
    import org.apache.spark.sql.functions._
    // independent in-engine recompute through the DECLARATIVE window
    // pipeline (k=1 degenerates the winnow min to identity): same pair
    // set and shared-window counts as the native-expression operator
    val sel = Dedup.d11SelDeclarative(spark, sf, Dedup.ExactSpanChars, 1)
    val expect = sel.as("a").join(sel.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("n_shared")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = Dedup.d17ExactSubstring(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")) ->
        r.getAs[Long]("n_shared")).toMap
    assert(got == expect, "native d17 diverged from the declarative recompute")
    assert(got.nonEmpty, "sf corpus must surface exact-substring pairs (exact dups exist)")
  }

  test("d19: copies lose exactly the planted span; the first occurrence keeps it; within-doc repeats cut") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    val L = Dedup.ExactSpanChars
    def filler(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(30)("uniq" + rnd.nextInt(1000000)).mkString(" ")
    }
    // 80-char ASCII span (distinct flanks per occurrence so no window
    // extends past it); 80 chars ⇒ 80 − 63 + 1 = 18 marked windows
    val s = (0 until 80).map(i => if (i % 7 == 6) ' ' else ('a' + (i * 31 + 5) % 26).toChar).mkString
    val fA = filler(1); val fB = filler(3); val fC = filler(5); val fC2 = filler(6)
    val docs = Seq(
      (200L, s"${fA}X${s}Y${filler(2)}"),                      // canonical: lowest (doc_id, i)
      (201L, s"${fB}Q${s}R${filler(4)}"),                      // one copy
      (202L, s"${fC}U${s}V${fC2}W${s}Z${filler(7)}"))          // two copies, far apart
    val dir = java.nio.file.Files.createTempDirectory("d19span").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.parquet(s"$dir/documents.parquet")
    val got = Dedup.d19DupSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_windows"))).toSet
    val pB = fB.length + 2L // 1-based start of s inside doc 201 (after filler + 'Q')
    val pC1 = fC.length + 2L
    val pC2 = fC.length + 1 + s.length + 1 + fC2.length + 2L
    val expect = Set(
      (201L, pB, pB + s.length - 1, (s.length - L + 1).toLong),
      (202L, pC1, pC1 + s.length - 1, (s.length - L + 1).toLong),
      (202L, pC2, pC2 + s.length - 1, (s.length - L + 1).toLong))
    assert(got == expect,
      s"d19 cut list wrong:\n got    $got\n expect $expect")
    // doc 200 keeps its text untouched — exactly one copy of the
    // duplicated string survives corpus-wide
    assert(!got.exists(_._1 == 200L), "canonical occurrence must not be cut")
  }

  test("d19 equals the declarative per-position window-rank recompute on the sf corpus") {
    import org.apache.spark.sql.functions._
    val L = Dedup.ExactSpanChars
    // independent recompute: declarative per-position hashes (no native
    // expression), canonical-first via row_number over fp — the oracle's
    // form, vs the engine's min(struct)+join form
    val occ = Tables.documents(spark, sf)
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"),
        explode(sequence(lit(1), length(col("text")) - L + 1)).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        conv(substring(md5(col("text").substr(col("i"), lit(L))), 1, 15), 16, 10)
          .cast("long").as("fp"))
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("doc_id"), col("i"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val expect = occ.withColumn("rn", row_number().over(byFp))
      .filter(col("rn") >= 2).select(col("doc_id"), col("i"))
      .withColumn("prev", lag(col("i"), 1).over(byDoc))
      .withColumn("isl", sum(
        when(col("prev").isNull || col("i") - col("prev") > L, 1L).otherwise(0L))
        .over(byDoc.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("span_start"), (max(col("i")) + L - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = Dedup.d19DupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect, "d19 diverged from the declarative recompute")
    assert(got.nonEmpty, "sf corpus must surface duplicated spans (exact dups exist)")
    // consistency with the pair detector: the LATER doc of every d17
    // pair holds a non-canonical occurrence, so it must appear in the
    // cut list (the converse is false: within-doc repeats and d17's
    // n_shared >= 1 vs span-merge granularity differ by design)
    val d17Later = Dedup.d17ExactSubstring(spark, sf).collect()
      .map(_.getAs[Long]("doc_j")).toSet
    val cutDocs = got.map(_._1)
    assert(d17Later.subsetOf(cutDocs),
      s"d17 later-docs missing from d19 cut list: ${d17Later -- cutDocs}")
  }

  test("d19 persistOcc/packedCanon: all four plan variants are result-identical") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val base = rows(Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars))
    assert(base.nonEmpty)
    for (p <- Seq(true, false); k <- Seq(true, false)) {
      val got = rows(Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars,
        persistOcc = p, packedCanon = k))
      assert(got == base,
        s"persistOcc=$p packedCanon=$k changed the cut list — knobs must be plan-only")
    }
    // the footer signals actually fire on the test corpus: small + narrow ids
    assert(graft.Tables.atRestBytes(graft.Tables.documents(spark, sf)) <=
      graft.Pin.MaxInputBytes)
    val range = graft.Tables.parquetLongColumnRange(graft.Tables.documents(spark, sf), "doc_id")
    assert(range.exists { case (lo, hi) => lo >= 0 && hi < (1L << 31) },
      s"expected footer doc_id stats to admit the packed form, got $range")
    // persist hygiene: the one-slot registry means a SECOND corpus's
    // persist frees the first — drive it with a disjoint relation and
    // pin that the earlier occ fragment no longer serves from cache
    val other = docs.limit(10)
    Dedup.d19DupSpansOf(other, Dedup.ExactSpanChars, persistOcc = true).count()
    // the full-corpus occ plan must now plan WITHOUT InMemoryTableScan
    // (its entry was unpersisted when the slot turned over)
    val replanned = Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars)
      .queryExecution.executedPlan.toString
    assert(!replanned.contains("InMemoryTableScan"),
      "slot turnover must unpersist the previous corpus's occ index")
    spark.catalog.clearCache() // drop the slot's own entry for later suites
    // r12 review regression: a same-plan call AFTER an external
    // clearCache re-persists — and must NOT unpersist its own fresh
    // entry through the same-plan slot survivor (Dataset.unpersist
    // uncaches by plan match, so the pre-fix code silently dropped the
    // entry it had just created)
    Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars, persistOcc = true).count()
    val replanned2 = Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars, persistOcc = true)
      .queryExecution.executedPlan.toString
    assert(replanned2.contains("InMemoryTableScan"),
      "re-persist after clearCache dropped its own fresh cache entry")
    spark.catalog.clearCache()
  }

  test("d19 packedCanon widens an INT32 doc_id before the shift (r12 advice regression)") {
    import spark.implicits._
    // an INT32 doc_id column — exactly what the corpus-dir footer gate
    // admits via the java.lang.Integer stats case. Pre-fix, ShiftLeft
    // kept IntegerType and Java masked the shift count to 0, so
    // canon = doc_id|i and canon_doc = 0 for every fp: NO occurrence
    // matched its canonical home and the cut list marked the canonical
    // copies too.
    val shared = (1 to 60).map(i => s"dupword$i").mkString(" ")
    def uniq(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Seq.fill(30)("u" + r.nextInt(1000000)).mkString(" ")
    }
    val docs = Seq(
      (7, s"${uniq(1)} $shared ${uniq(2)}"),
      (9, s"${uniq(3)} $shared ${uniq(4)}"))
      .toDF("doc_id", "text")
    assert(docs.schema("doc_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.get(0).asInstanceOf[Number].longValue, r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val packedDf = Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars, packedCanon = true)
    val plainDf = Dedup.d19DupSpansOf(docs, Dedup.ExactSpanChars)
    // plan-only knob includes the SCHEMA: the packed unpack must hand
    // back the source INT32 doc_id type, not a silently widened bigint
    assert(packedDf.schema == plainDf.schema,
      s"packed variant changed the schema: ${packedDf.schema} vs ${plainDf.schema}")
    val packed = rows(packedDf)
    val plain = rows(plainDf)
    assert(packed == plain,
      "packed canonical must widen INT32 ids before the shift")
    assert(packed.nonEmpty && packed.forall(_._1 == 9L),
      "only the later (non-canonical) doc's copy is cut")
  }

  test("parquetLongColumnRange memoizes per listing fingerprint, invalidates on rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("rangecache").toString
    Seq(3L, 9L).toDF("doc_id").withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.parquetLongColumnRange(Tables.documents(spark, dir), "doc_id")
      == Some((3L, 9L)))
    // a repeat call answers from the memo (same listing fingerprint)
    assert(Tables.parquetLongColumnRange(Tables.documents(spark, dir), "doc_id")
      == Some((3L, 9L)))
    // a rewrite produces new part-file names — the fingerprint turns
    // over and the memo must NOT serve the stale range
    Seq(-5L, 4L, 7L).toDF("doc_id").withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.parquetLongColumnRange(Tables.documents(spark, dir), "doc_id")
      == Some((-5L, 7L)),
      "rewritten table served a stale memoized range")
    // parquetRowCount shares the memo discipline (r12 review: the
    // autoNLists doc's claim made true): repeat serves, rewrite invalidates
    assert(Tables.parquetRowCount(spark, dir, "documents") == 3L)
    assert(Tables.parquetRowCount(spark, dir, "documents") == 3L)
    Seq(1L, 2L).toDF("doc_id").withColumn("text", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.parquetRowCount(spark, dir, "documents") == 2L,
      "rewritten table served a stale memoized row count")
  }

  test("d20 surgery: planted fixture cleaned exactly, canonical kept, detector converges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    def filler(seed: Int): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(30)("uniq" + rnd.nextInt(1000000)).mkString(" ")
    }
    val s = (0 until 80).map(i => if (i % 7 == 6) ' ' else ('a' + (i * 31 + 5) % 26).toChar).mkString
    val fA = filler(1); val fB = filler(3); val fC = filler(5); val fC2 = filler(6)
    val tA = s"${fA}X${s}Y${filler(2)}"
    val tB = s"${fB}Q${s}R${filler(4)}"
    val tC = s"${fC}U${s}V${fC2}W${s}Z${filler(7)}"
    val dir = java.nio.file.Files.createTempDirectory("d20srg").toString
    Seq((200L, tA), (201L, tB), (202L, tC)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length($"text"))
      .write.parquet(s"$dir/documents.parquet")
    val cleaned = Dedup.d20CleanedCorpus(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // canonical doc untouched; copies lose exactly the planted interval
    assert(cleaned(200L) == tA, "canonical doc must be untouched")
    assert(cleaned(201L) == s"${fB}QR${filler(4)}",
      s"doc 201 must lose exactly the span: '${cleaned(201L).take(80)}...'")
    assert(cleaned(202L) == s"${fC}UV${fC2}WZ${filler(7)}",
      "doc 202 must lose both copies")
    // exactly one copy of the duplicated string survives corpus-wide
    assert(cleaned.values.count(_.contains(s)) == 1, "one canonical copy must survive")
    // convergence: the detector on the cleaned corpus finds nothing
    val dir2 = java.nio.file.Files.createTempDirectory("d20srg2").toString
    Dedup.d20CleanedCorpus(spark, dir).withColumn("n_chars", length($"text"))
      .write.parquet(s"$dir2/documents.parquet")
    assert(Dedup.d19DupSpans(spark, dir2).count() == 0,
      "surgery output must be span-free on the planted fixture")
    // the gated accounting reconciles with the span table
    val acct = Dedup.d20SpanSurgery(spark, dir).collect()
    assert(acct.length == 1)
    val a = acct.head
    assert(a.getAs[Long]("n_docs") == 3 && a.getAs[Long]("docs_affected") == 2 &&
      a.getAs[Long]("spans_cut") == 3 &&
      a.getAs[Long]("chars_removed") == 3L * s.length &&
      a.getAs[Long]("chars_total") == (tA.length + tB.length + tC.length).toLong,
      s"surgery accounting wrong: $a")
  }

  test("d20 cleaned corpus reconciles with the accounting on the sf corpus") {
    import org.apache.spark.sql.functions._
    val before = Tables.documents(spark, sf)
      .agg(sum(length(col("text")).cast("long"))).head().getLong(0)
    val after = Dedup.d20CleanedCorpus(spark, sf)
      .agg(sum(length(col("text")).cast("long"))).head().getLong(0)
    val acct = Dedup.d20SpanSurgery(spark, sf).collect()
    val removed = acct.map(_.getAs[Long]("chars_removed")).sum
    assert(acct.map(_.getAs[Long]("chars_total")).sum == before)
    assert(before - after == removed,
      s"cleaned length delta ${before - after} != accounted removal $removed")
    assert(removed > 0, "sf corpus has planted dups; surgery must cut something")
  }

  private def d18PairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("doc_i"), r.getAs[Long]("doc_j")) ->
      r.getAs[Double]("jaccard")).toMap

  test("d18: incremental pairs are exactly d02's pairs touching a new doc") {
    // the decomposition contract: full-corpus pairs = old-corpus pairs
    // (the PREVIOUS run's output) ∪ incremental pairs — so d18 must
    // equal d02 restricted to pairs with at least one new member, with
    // identical jaccard values (same integer operands, same division)
    def isNew(id: Long) =
      id % Dedup.IncrementalNewMod == Dedup.IncrementalNewRem
    val full = d18PairSet(Dedup.d02NgramJaccard(spark, sf))
    val expect = full.filter { case ((i, j), _) => isNew(i) || isNew(j) }
    val got = d18PairSet(Dedup.d18IncrementalNeardup(spark, sf))
    assert(got == expect, "incremental join diverged from the d02 restriction")
    assert(got.nonEmpty, "sf corpus must surface new×old or new×new pairs")
    assert(got.size < full.size,
      "restriction must be proper: old×old pairs exist and are skipped")
  }

  test("d18: at-rest index round trip serves the identical pair set") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val isNew =
      col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
    val idxDir = java.nio.file.Files.createTempDirectory("d18idx").toString
    try {
      Dedup.d18BuildIndex(docs.filter(!isNew), s"$idxDir/shingle_index")
      val fromDisk = d18PairSet(
        Dedup.d18FromIndex(spark, s"$idxDir/shingle_index", docs.filter(isNew)))
      assert(fromDisk == d18PairSet(Dedup.d18IncrementalNeardup(spark, sf)),
        "persisted-index path diverged from the inline build")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(idxDir))
  }

  test("d18 bucketed at-rest index: probe is result-identical and reads the base without an exchange") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val isNew =
      col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
    val base = docs.filter(!isNew)
    val batch = docs.filter(isNew)
    val idxDir = java.nio.file.Files.createTempDirectory("d18bkt").toString
    try {
      Dedup.d18BuildIndex(base, s"$idxDir/flat")
      // nBuckets = the session's shuffle parallelism (the sizing rule)
      Dedup.d18BuildIndexBucketed(base, "d18_bucketed_spec",
        s"$idxDir/bucketed", 4)
      // result identity, cap off and with the batch-local cap
      val flat = d18PairSet(Dedup.d18FromIndex(spark, s"$idxDir/flat", batch))
      assert(flat.nonEmpty)
      assert(d18PairSet(Dedup.d18FromIndexBucketed(
        spark, "d18_bucketed_spec", batch)) == flat,
        "bucketed probe diverged from the flat probe")
      assert(d18PairSet(Dedup.d18FromIndexBucketed(
          spark, "d18_bucketed_spec", batch, batchMaxDf = 3)) ==
        d18PairSet(Dedup.d18FromIndex(
          spark, s"$idxDir/flat", batch, Dedup.NoDfCap, 3)),
        "bucketed probe diverged under the batch-local cap")
      // the bucket layout is EXPLOITED, not just written: the same
      // probe-side equi-join plans one fewer Exchange against the
      // catalog table than against the identical files read as plain
      // parquet (the index side's shuffle is gone — the 100 TB claim)
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange".r.findAllMatchIn(
          df.queryExecution.executedPlan.toString).length
      val probe = Dedup.shingleIndexRows(batch)
      val viaTable = probe.as("a").hint("SHUFFLE_HASH")
        .join(spark.table("d18_bucketed_spec").as("b"), col("a.h") === col("b.h"))
      val viaFiles = probe.as("a").hint("SHUFFLE_HASH")
        .join(spark.read.parquet(s"$idxDir/bucketed").as("b"),
          col("a.h") === col("b.h"))
      assert(viaTable.queryExecution.executedPlan.toString
          .contains("Bucketed: true"),
        "catalog scan must report the bucket layout as exploited")
      assert(exchanges(viaTable) == exchanges(viaFiles) - 1,
        s"bucketing must remove exactly the index-side exchange: " +
          s"${exchanges(viaTable)} vs ${exchanges(viaFiles)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS d18_bucketed_spec")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    }
  }

  test("d18: a violated disjointness contract surfaces as self-pair rows") {
    // d18FromIndex's contract says arrival ids are disjoint from the
    // index; this pins the documented BREACH SIGNATURE — a re-crawled
    // id partners its own stale index copy and emits a doc_i == doc_j
    // row (jaccard 1.0 for unchanged text), a shape d02's strict-<
    // residual can never produce — so production can alert on it
    import org.apache.spark.sql.functions.{col, min}
    val docs = Tables.documents(spark, sf)
    val isNew =
      col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
    val dir = java.nio.file.Files.createTempDirectory("d18breach").toString
    try {
      // the planted re-crawl: one shingle-bearing batch id is also indexed
      val breachId = Dedup.shingleIndexRows(docs.filter(isNew))
        .agg(min("doc_id")).first().getLong(0)
      Dedup.d18BuildIndex(
        docs.filter(!isNew || col("doc_id") === breachId), s"$dir/idx")
      val out = Dedup.d18FromIndex(spark, s"$dir/idx", docs.filter(isNew))
      val selfPairs = out.filter(col("doc_i") === col("doc_j")).collect()
      assert(selfPairs.map(_.getAs[Long]("doc_i")).toSet == Set(breachId),
        "the planted re-crawl must surface as exactly its own self-pair")
      assert(selfPairs.forall(_.getAs[Double]("jaccard") == 1.0),
        "unchanged re-crawled text scores 1.0 against its stale copy")
      val clean = Dedup.d18IncrementalNeardup(spark, sf)
      assert(clean.filter(col("doc_i") === col("doc_j")).isEmpty,
        "a contract-clean run must never emit self-pairs")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("d18: build-time cap writes a stop-shingle-free index — nightly probes need no df pass") {
    // the release-scoped cap: hot shingles never enter the artifact, so
    // the probe join is bounded WITHOUT the per-night df aggregation
    // (whose scan is IO-linear in history). Pins (a) the artifact
    // physically lacks hot keys, (b) capping only REMOVES evidence —
    // capped pairs are a subset with jaccard ≤ uncapped (set sizes stay
    // full, d02's cap semantics), (c) a non-biting cap is a no-op
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val isNew =
      col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
    val base = docs.filter(!isNew)
    val batch = docs.filter(isNew)
    val maxDf = 3L
    assert(Dedup.shingleIndexRows(base).groupBy("h").count()
        .filter(col("count") > maxDf).count() > 0,
      s"cap $maxDf must bite on the base corpus or the test is vacuous")
    val dir = java.nio.file.Files.createTempDirectory("d18bcap").toString
    try {
      Dedup.d18BuildIndex(base, s"$dir/capped", maxDf)
      assert(spark.read.parquet(s"$dir/capped").groupBy("h").count()
          .filter(col("count") > maxDf).isEmpty,
        "the capped artifact must physically lack every hot shingle")
      Dedup.d18BuildIndex(base, s"$dir/raw")
      val capped = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/capped", batch))
      val uncapped = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", batch))
      assert(capped.keySet.subsetOf(uncapped.keySet),
        "removing join evidence can only drop pairs, never invent them")
      assert(capped.forall { case (k, j) => j <= uncapped(k) + 1e-12 },
        "per-pair jaccard must be monotone non-increasing under the cap")
      assert(capped != uncapped,
        "a biting cap must visibly remove evidence on this corpus")
      Dedup.d18BuildIndex(base, s"$dir/huge", 10000000L)
      assert(d18PairSet(Dedup.d18FromIndex(spark, s"$dir/huge", batch)) ==
        uncapped, "a non-biting build-time cap must be a no-op")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("d18: build-side-only df cap is result-identical to d02's both-side cap") {
    // the cap coherence claim in incrementalPairs's doc: capping only
    // the union build side removes the same pairs as capping d02's
    // whole index, because an uncapped probe row over a hot shingle
    // finds zero partners. Pick a cap that actually bites (some shingle
    // df exceeds it) so the equality is not vacuous.
    import org.apache.spark.sql.functions._
    val maxDf = 3L
    val dfs = Tables.documents(spark, sf)
      .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(explode(graft.functions.NativeFunctions.shingleHashes(col("toks"))).as("h"))
      .groupBy("h").count()
    assert(dfs.filter(col("count") > maxDf).count() > 0,
      s"cap $maxDf must bite on this corpus or the test is vacuous")
    def isNew(id: Long) =
      id % Dedup.IncrementalNewMod == Dedup.IncrementalNewRem
    val cappedFull = d18PairSet(Dedup.d02NgramJaccard(spark, sf, maxDf))
      .filter { case ((i, j), _) => isNew(i) || isNew(j) }
    assert(d18PairSet(Dedup.d18IncrementalNeardup(spark, sf, maxDf)) == cappedFull,
      "capped incremental join diverged from capped d02's restriction")
  }

  /** Planted two-sided boilerplate corpus for the batch-local cap
    * specs: unique per-doc bodies (every organic shingle carries an
    * id-specific token, so cross-doc organic df stays ≤ the dup
    * cluster's size), boilerplate appended where `plant(doc_id)`, and
    * a 3-doc true-dup cluster {48 new, 61 old, 68 new} sharing one
    * long body. */
  private def plantedBatchCorpus(dir: String, plant: Long => Boolean): Unit = {
    import spark.implicits._
    val boiler = "subscribe to our newsletter for weekly updates and " +
      "follow us on every major social platform today"
    val dupBase = "quick brown foxes jump over lazy dogs near riverbanks " +
      "while silver moons rise above quiet harbors"
    val docs = (0L until 60L).map { i =>
      val body =
        if (i == 48L || i == 61L || i == 68L) "" // replaced below
        else s"aa$i bb$i cc$i dd$i ee$i ff$i gg$i hh$i"
      (i, if (plant(i)) s"$body $boiler" else body)
    }.filterNot(t => Set(48L, 61L, 68L).contains(t._1)) ++ Seq(
      (48L, s"$dupBase tail48" + (if (plant(48L)) " " + boiler else "")),
      (61L, s"$dupBase tail61" + (if (plant(61L)) " " + boiler else "")),
      (68L, s"$dupBase tail68" + (if (plant(68L)) " " + boiler else "")))
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("d18: batch-local cap + build cap equals the union-df nightly under two-sided boilerplate") {
    // the composed strictly-constant-in-history nightly: release-capped
    // index (new×old hot pairs) + batchMaxDf over the arrivals alone
    // (new×new hot pairs, zero index scans). On a corpus whose hot
    // shingles bite EACH side's cap separately — asserted, with the
    // no-straddler precondition that scopes the equality claim — the
    // composition reports exactly the union-df maxDf nightly's pairs.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("d18blcap").toString
    try {
      plantedBatchCorpus(dir, i => i % 10 == 0 || i % 10 == 3)
      val docs = Tables.documents(spark, dir)
      val isNew =
        col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
      val (base, batch) = (docs.filter(!isNew), docs.filter(isNew))
      val cap = 3L
      def dfOf(side: org.apache.spark.sql.DataFrame) =
        Dedup.shingleIndexRows(side).groupBy("h").count()
      assert(dfOf(base).filter(col("count") > cap).count() > 0,
        "plant must make the cap bite on the BASE side alone")
      assert(dfOf(batch).filter(col("count") > cap).count() > 0,
        "plant must make the cap bite on the BATCH side alone")
      // no-straddler precondition, in FULL: the equality claim needs
      // every union-hot key to cross BOTH sides' caps (or be absent
      // from a side) — not just "hot on some side". A key hot on one
      // side but present sub-cap on the other diverges by design: the
      // union-df nightly drops all its rows while the composed form
      // keeps the sub-cap side's (the one-sided asymmetry the next
      // test pins as the intended difference). So exclude any key with
      // union df > cap whose presence on a side is nonzero-but-sub-cap.
      val straddlers = dfOf(base).withColumnRenamed("count", "dfb")
        .join(dfOf(batch).withColumnRenamed("count", "dfn"), Seq("h"), "full")
        .na.fill(0L, Seq("dfb", "dfn"))
        .filter(col("dfb") + col("dfn") > cap &&
          ((col("dfb") > 0 && col("dfb") <= cap) ||
            (col("dfn") > 0 && col("dfn") <= cap)))
      assert(straddlers.isEmpty,
        "corpus must have no straddler keys (every union-hot key hot-or-absent on BOTH sides) or the equality claim is out of scope")
      Dedup.d18BuildIndex(base, s"$dir/raw")
      Dedup.d18BuildIndex(base, s"$dir/capped", cap)
      val combined = d18PairSet(
        Dedup.d18FromIndex(spark, s"$dir/capped", batch, Dedup.NoDfCap, cap))
      val nightly = d18PairSet(
        Dedup.d18FromIndex(spark, s"$dir/raw", batch, cap))
      assert(combined == nightly,
        "build cap + batch-local cap diverged from the union-df nightly")
      val uncapped = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", batch))
      assert(combined != uncapped, "caps must bite on this corpus")
      // the true-dup cluster (organic, sub-cap evidence) survives:
      // 48 and 68 are new (48%5==3, 68%5==3), 61 is old
      Seq((48L, 61L), (48L, 68L), (61L, 68L)).foreach { p =>
        assert(combined.contains(p), s"capped nightly lost true dup pair $p")
      }
      // non-biting batch cap is a no-op
      assert(d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", batch,
        Dedup.NoDfCap, 10000000L)) == uncapped,
        "a non-biting batch-local cap must be a no-op")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("d18: batch-local cap is one-sided — new×old evidence for release-organic shingles survives") {
    // the intentional asymmetry: a shingle hot in tonight's crawl but
    // organic in the corpus (df ≤ release cap, so the build-capped
    // index keeps it) loses its new×new evidence but KEEPS its new×old
    // matches — the probe side is never capped. The union-df maxDf
    // nightly drops both (union df crosses the cap), which is exactly
    // why the composed form is not just a cheaper spelling of it.
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("d18asym").toString
    try {
      // plant on ALL batch docs (%5==3 → 12 of 60) and exactly 2 base
      // docs (10, 20) — batch df 12 > cap, base df 2 ≤ cap
      plantedBatchCorpus(dir, i => i % 5 == 3 || i == 10L || i == 20L)
      val docs = Tables.documents(spark, dir)
      val isNew =
        col("doc_id") % Dedup.IncrementalNewMod === Dedup.IncrementalNewRem
      val (base, batch) = (docs.filter(!isNew), docs.filter(isNew))
      val cap = 3L
      Dedup.d18BuildIndex(base, s"$dir/raw")
      Dedup.d18BuildIndex(base, s"$dir/capped", cap)
      val uncapped = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", batch))
      val combined = d18PairSet(
        Dedup.d18FromIndex(spark, s"$dir/capped", batch, Dedup.NoDfCap, cap))
      val union = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", batch, cap))
      // a planted new×old pair: batch doc 3 shares ONLY boilerplate
      // with base doc 10 — evidence must survive with identical jaccard
      assert(combined.get((3L, 10L)).contains(uncapped((3L, 10L))),
        "new×old boilerplate evidence against a sub-release-cap base doc must survive")
      // a planted new×new pair: docs 3 and 13 share only boilerplate —
      // batch-hot evidence dropped, pair gone
      assert(uncapped.contains((3L, 13L)) && !combined.contains((3L, 13L)),
        "new×new pairs sharing only batch-hot shingles must vanish")
      // the union-df nightly drops BOTH pairs — the pinned difference
      assert(!union.contains((3L, 10L)) && !union.contains((3L, 13L)),
        "union-df cap must drop both shapes (df_base+df_batch > cap)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("d18: capped absorb keeps the at-rest artifact hot-free through the build→probe→absorb cycle") {
    // without it a build-capped index regrows hot keys from every
    // absorbed boilerplate batch; with it the chain stays df²-safe
    // forever while absorbed ORGANIC evidence still serves the next
    // night's cross-batch pairs. Corpus: base = %5∈{0,1,2} (boiler on
    // %10==0), b1 = %5==4 (boiler on %10==4), b2 = %5==3 (boiler on
    // %10==3); dup cluster {61 base, 64 b1, 63 b2} shares one body.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("d18abscap").toString
    try {
      val boiler = "subscribe to our newsletter for weekly updates and " +
        "follow us on every major social platform today"
      val dupBase = "quick brown foxes jump over lazy dogs near riverbanks " +
        "while silver moons rise above quiet harbors"
      val rows = (0L until 60L).map { i =>
        val body = s"aa$i bb$i cc$i dd$i ee$i ff$i gg$i hh$i"
        (i, if (Set(0L, 3L, 4L).contains(i % 10)) s"$body $boiler" else body)
      } ++ Seq((61L, s"$dupBase tail61"),
        (63L, s"$dupBase tail63 $boiler"), (64L, s"$dupBase tail64 $boiler"))
      rows.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = Tables.documents(spark, dir)
      val m = col("doc_id") % 5
      val base = docs.filter(m.isin(0L, 1L, 2L))
      val b1 = docs.filter(m === 4)
      val b2 = docs.filter(m === 3)
      val cap = 3L
      // uncapped chain: the junk-pair and hot-artifact baselines
      Dedup.d18BuildIndex(base, s"$dir/raw")
      Dedup.d18AbsorbBatch(b1, s"$dir/raw")
      val rawP2 = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/raw", b2))
      assert(spark.read.parquet(s"$dir/raw").groupBy("h").count()
          .filter(col("count") > cap).count() > 0,
        "raw absorb must regrow hot keys on this corpus or the test is vacuous")
      // capped chain: build cap + capped absorb + batch-local probe cap
      Dedup.d18BuildIndex(base, s"$dir/capped", cap)
      Dedup.d18AbsorbBatch(b1, s"$dir/capped", cap)
      val p2 = d18PairSet(Dedup.d18FromIndex(spark, s"$dir/capped", b2,
        Dedup.NoDfCap, cap))
      assert(spark.read.parquet(s"$dir/capped").groupBy("h").count()
          .filter(col("count") > cap).isEmpty,
        "the capped chain's artifact must stay physically hot-free")
      // absorbed organic evidence serves night 2: 63(b2)×64(absorbed b1)
      // through the capped artifact, 61(base)×63(b2) through the build
      Seq((61L, 63L), (63L, 64L)).foreach { p =>
        assert(p2.contains(p), s"capped chain lost true dup pair $p")
      }
      // a boiler-only cross-batch pair exists raw and vanishes capped
      assert(rawP2.contains((3L, 4L)) && !p2.contains((3L, 4L)),
        "boiler-only b1×b2 junk must exist uncapped and vanish capped")
      // non-biting absorb cap appends row-identical data
      Dedup.d18BuildIndex(base, s"$dir/nb")
      Dedup.d18AbsorbBatch(b1, s"$dir/nb", 10000000L)
      def rowSet(p: String) = spark.read.parquet(p).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n"),
          r.getAs[Long]("h"))).sorted.toSeq
      assert(rowSet(s"$dir/nb") == rowSet(s"$dir/raw"),
        "a non-biting absorb cap must append identical rows")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("d18: absorb chain — base-internal + probe(b1) + probe(b2) partition d02") {
    // the nightly lifecycle: build on the base, probe batch 1, ABSORB
    // batch 1, probe batch 2 against the grown index. Soundness of the
    // whole cycle = the three nights' outputs tile d02's full pair set
    // with no overlap and no gap (each pair reported exactly once, on
    // the night its newest member arrived)
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val m = col("doc_id") % 5
    val base = docs.filter(m.isin(0L, 1L, 2L))
    val b1 = docs.filter(m === 4)
    val b2 = docs.filter(m === 3)
    val chainDir = java.nio.file.Files.createTempDirectory("d18chain").toString
    val idx = chainDir + "/shingle_index"
    try {
      Dedup.d18BuildIndex(base, idx)
      val p1 = d18PairSet(Dedup.d18FromIndex(spark, idx, b1))
      Dedup.d18AbsorbBatch(b1, idx)
      val p2 = d18PairSet(Dedup.d18FromIndex(spark, idx, b2))
      val full = d18PairSet(Dedup.d02NgramJaccard(spark, sf))
      def in1(id: Long) = id % 5 == 4
      def in2(id: Long) = id % 5 == 3
      val exp1 = full.filter { case ((i, j), _) =>
        (in1(i) || in1(j)) && !in2(i) && !in2(j) }
      val exp2 = full.filter { case ((i, j), _) => in2(i) || in2(j) }
      assert(p1 == exp1, "night-1 probe diverged from d02's b1-touching slice")
      assert(p2 == exp2,
        "night-2 probe over the absorbed index diverged from d02's b2 slice")
      assert((p1.keySet & p2.keySet).isEmpty, "a pair was reported twice")
      val baseInternal = full.filter { case ((i, j), _) =>
        !in1(i) && !in1(j) && !in2(i) && !in2(j) }
      assert(baseInternal ++ p1 ++ p2 == full,
        "the three nights must tile the full pair set with no gap")
      assert(p1.nonEmpty && p2.nonEmpty && baseInternal.nonEmpty,
        "each chain stage must be exercised on the sf corpus")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(chainDir))
  }
}
