package graft

/** Physical-plan regression guard: the 100 TB posture of representative
  * queries, asserted on the compiled plan so a future edit can't silently
  * re-introduce a global sort, a cartesian product, or a rank-window
  * where a bounded aggregate belongs. Assertions target plan shapes that
  * are stable across AQE re-planning (the initial executedPlan string). */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("top-k queries compile to TakeOrderedAndProject, not a global sort") {
    for (q <- Seq("q03_topk", "q12_l2_topk", "q61_frequent_ngrams")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lost its bounded top-k:\n$p")
    }
  }

  test("no query plan contains a cartesian product") {
    // q65's one-row vocab crossJoin compiles to a broadcast nested loop
    // over a single-row side — CartesianProduct (a shuffled n*m join) is
    // the anti-pattern being guarded
    for (q <- Seq("q61_frequent_ngrams", "q62_incremental_dedup",
        "q64_source_caps", "q65_bigram_nll", "q66_quantile_calibrate")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q grew a cartesian product")
    }
  }

  test("per-group caps use the bounded aggregate, not a rank window") {
    val p = plan("q64_source_caps")
    assert(p.contains("topk_by_score"), s"q64 lost the bounded top-k aggregate:\n$p")
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      s"q64 regressed to a rank window:\n$p")
  }

  test("incremental dedup admits via an anti-join") {
    assert(plan("q62_incremental_dedup").contains("LeftAnti"))
  }

  test("IN-list filter reaches the parquet scan") {
    val p = plan("q10_in_list")
    assert(p.contains("PushedFilters: [In(o_orderkey"),
      s"q10 lost predicate pushdown:\n$p")
  }

  test("aggregation scans prune to the referenced columns") {
    val p = plan("q01_agg")
    // the scan must not read the full lineitem schema (16 columns at the
    // driver's generation); q01 touches exactly 5
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && !read.contains("l_orderkey"),
      s"q01 scan reads unreferenced columns: $read")
  }

  test("seed classifier: seed flag is a broadcast join, no cartesian") {
    val p = plan("q71_seed_classify")
    assert(p.contains("BroadcastHashJoin"), s"q71 seed flag lost its broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"q71 grew a cartesian product:\n$p")
  }

  test("PCA whitening projection is a single narrow pass (codegen kernel, no aggregation)") {
    val p = plan("q75_pca_whiten")
    assert(p.contains("affine_project"), s"q75 lost the codegen projection kernel:\n$p")
    assert(!p.contains("HashAggregate"), s"q75 projection grew an aggregation:\n$p")
  }

  test("event analytics and span corruption stay cartesian-free; q82 is map-only") {
    for (q <- Seq("q77_funnel", "q79_retention", "q82_span_corrupt")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q grew a cartesian product")
    }
    val p82 = plan("q82_span_corrupt")
    assert(p82.contains("span_corrupt"), s"q82 lost the codegen kernel:\n$p82")
    assert(!p82.contains("HashAggregate") && !p82.contains("SortMergeJoin"),
      s"q82 is no longer a pure map pass:\n$p82")
  }

  test("SQ8 search ranks on the codegen estimator inside a bounded top-k") {
    // and so does every other quantized flat search (Quantizer.rerankTopK)
    for ((q, kernel) <- Seq("q81_sq8_ann" -> "sq8_l2_distance",
        "q35_pq_ann" -> "pq_adc_distance", "q41_rabitq_ann" -> "rabitq_signed_dot",
        "q113_opq_ann" -> "pq_adc_distance")) {
      val p = plan(q)
      assert(p.contains(kernel), s"$q lost the codegen estimator:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q lost the bounded rank:\n$p")
    }
  }

  test("asof and range joins stay hash/window-shaped — never a nested loop") {
    // these operators exist precisely to avoid the nested-loop plans
    // Spark produces for raw range predicates
    for (q <- Seq("q87_asof_join", "q88_range_join")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q regressed to a nested-loop/cartesian plan:\n$p")
    }
    assert(plan("q87_asof_join").contains("Window"), "q87 lost the running-window carry")
    assert(plan("q88_range_join").contains("SortMergeJoin") ||
      plan("q88_range_join").contains("ShuffledHashJoin") ||
      plan("q88_range_join").contains("BroadcastHashJoin"),
      "q88 lost its equi-join")
  }

  test("giant-key-safe asof splits the hot key across range partitions") {
    import org.apache.spark.sql.functions.col
    import graft.operators.AsofJoin
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((1L, 7L, 100L)).toDF("event_id", "k", "lts")
    val right = Seq((7L, 90L, 1.0)).toDF("k", "rts", "v")
    val p = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts", Seq("v"),
      giantKeySafe = true).queryExecution.executedPlan.toString
    // the row-level window must be partitioned by (bucket id, key) — a
    // per-key-only window would serialize a hot key. The bucket id is a
    // derived pure-function column (RangeBuckets), so the plan shows a
    // windowspecdefinition over __pid, not a range exchange.
    assert(p.contains("windowspecdefinition(__pid"),
      s"giantKeySafe asof window no longer splits by bucket id:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"giantKeySafe asof grew a nested-loop/cartesian plan:\n$p")
  }

  test("scatter-gather fan-in is a bounded TakeOrdered over a union, no global sort") {
    val p = plan("q92_scatter_gather")
    assert(p.contains("TakeOrderedAndProject"), s"q92 lost the bounded fan-in:\n$p")
    assert(p.contains("Union"), s"q92 lost the shard union:\n$p")
    // the only Sort operators allowed are the per-shard bounded top-ks
    // (inside TakeOrdered); a standalone global Sort would mean the
    // gather sorts the whole union
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort ")),
      s"q92 grew a global sort:\n$p")
  }

  test("CDC diff probes the base via column-pruned scans, no cartesian") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.core.{Collection, CollectionConfig}
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cdcplan").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "cdcplan", numFeatures = 4, initialNumCentroids = 4))
    def rows(ids: Seq[Long]) = ids.map(i =>
      (0L, i, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble)))
      .toDF("user_id", "doc_id", "vector")
    coll.insert(rows(0L until 8L)); coll.flush()               // v1
    coll.insert(rows(8L until 10L))
    coll.delete(rows(Seq(1L)).select("user_id", "doc_id")); coll.flush() // v2
    val p = coll.changes(1L, 2L).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"changes() grew a cartesian/nested-loop plan:\n$p")
    // the segment vectors table must be probed column-pruned: the diff
    // only needs (user_id, doc_id, src_batch) — the vector payload (and
    // any attrs) staying out of ReadSchema is what keeps changes() cost
    // independent of row width at 100 TB
    val vectorScans = p.linesIterator.filter(l =>
      l.contains("FileScan parquet") && l.contains("segments")).toList
    assert(vectorScans.nonEmpty, s"no segment scan found in changes() plan:\n$p")
    vectorScans.foreach { l =>
      assert(!l.contains("vector#") ||
        !l.substring(l.indexOf("ReadSchema")).contains("vector"),
        s"changes() reads the vector payload from the base:\n$l")
    }
  }

  test("CDC mirror apply is key-joined: semi/anti probes, no cartesian") {
    import org.apache.spark.sql.functions.col
    import graft.core.{Collection, CollectionConfig}
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_applyplan").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "applyplan", numFeatures = 4, initialNumCentroids = 4))
    def rows(ids: Seq[Long]) = ids.map(i =>
      (0L, i, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble)))
      .toDF("user_id", "doc_id", "vector")
    coll.insert(rows(0L until 8L)); coll.flush()               // v1
    coll.insert(rows(8L until 10L))
    coll.delete(rows(Seq(1L)).select("user_id", "doc_id")); coll.flush() // v2
    val delta = coll.changes(1L, 2L)
    val gone = delta.filter(col("change_type").isin("delete", "update")).select("doc_id")
    val ups = delta.filter(col("change_type").isin("insert", "update"))
      .select("user_id", "doc_id")
    val fetched = coll.snapshotAt(2L).liveRowsFor(Some(ups)).get
      .select("doc_id", "vector")
    val mirror = coll.snapshotAt(1L).liveRows.get.select("doc_id", "vector")
      .join(gone, Seq("doc_id"), "left_anti").unionByName(fetched)
    val p = mirror.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"CDC apply grew a cartesian/nested-loop plan:\n$p")
    assert(p.contains("LeftSemi"), s"upsert fetch lost its semi-join probe:\n$p")
    assert(p.contains("LeftAnti"), s"delete application lost its anti-join:\n$p")
  }

  test("CDC diff is ONE tagged pass: no full_outer join of per-side aggregates") {
    import org.apache.spark.sql.functions.col
    import graft.core.{Collection, CollectionConfig}
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_onepassplan").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "onepassplan", numFeatures = 4, initialNumCentroids = 4))
    def rows(ids: Seq[Long]) = ids.map(i =>
      (0L, i, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble)))
      .toDF("user_id", "doc_id", "vector")
    coll.insert(rows(0L until 8L)); coll.flush()               // v1
    coll.insert(rows(8L until 10L))
    coll.delete(rows(Seq(1L)).select("user_id", "doc_id")); coll.flush() // v2
    val p = coll.changes(1L, 2L).queryExecution.executedPlan.toString
    // round 17: both sides' newest live positions come out of a single
    // per-key aggregate over side-tagged rows — a FullOuter join in this
    // plan means the two-sided shape crept back (twice the segment scans)
    assert(!p.contains("FullOuter"),
      s"changes() regressed to the two-sided full_outer shape:\n$p")
  }

  test("fast-path snapshot plans: no newest-wins window, no tombstone anti-join") {
    import graft.core.{AttrField, Collection, CollectionConfig}
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_fastplan").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "fastplan", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs"),
      (0L, 2L, Seq(0.0, 1.0), "merge join hash"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.delete(Seq((0L, 2L)).toDF("user_id", "doc_id"))
    coll.flush()
    coll.insert(Seq((0L, 3L, Seq(0.2, 0.8), "merge stream windows"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    coll.merge() // applies the tombstone; its files linger on disk
    coll.insert(Seq((0L, 4L, Seq(0.4, 0.6), "hash stream"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush() // disjoint second segment: the multi-flush steady state
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(base, "fastplan", "tombstones")))
    val snap = coll.snapshot()
    // ranked retrieval: measured-unique + disjoint + tombstone-inert =>
    // the per-key version window and the tombstone anti-joins are gone
    val ranked = snap.rankedSearch("content", "merge stream", 5)
      .queryExecution.executedPlan.toString
    assert(!ranked.contains("Window") && !ranked.contains("row_number"),
      s"fast-path rankedSearch kept a newest-wins window:\n$ranked")
    assert(!ranked.contains("LeftAnti"),
      s"fast-path rankedSearch kept a tombstone anti-join:\n$ranked")
    // the key-set read: no aggregate at all — every physical row IS its
    // key's newest live version
    val live = snap.liveDocs.get.queryExecution.executedPlan.toString
    assert(!live.contains("HashAggregate") && !live.contains("SortAggregate"),
      s"fast-path liveDocs kept its per-key aggregate:\n$live")
    assert(!live.contains("LeftAnti"),
      s"fast-path liveDocs kept a tombstone anti-join:\n$live")
  }

  test("adaptive filtered ANN, exact branch: semi-join + bounded top-k") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val emb = (0 until 100).map(i =>
      (i.toLong, Seq(i.toDouble, (i % 5).toDouble))).toDF("vec_id", "embedding")
    val (c, po) = graft.operators.Ann.ivfIndex(emb, numCentroids = 4)
    val filt = emb.filter(col("vec_id") % 11 === 0).select("vec_id")
    val df = graft.operators.Ann.ivfTopKFiltered(
      emb, c, po, Seq(50.0, 2.0), k = 3, nprobe = 1, filterIds = filt)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"q105 path lost the bounded top-k:\n$p")
    assert(p.contains("LeftSemi"), s"q105 path lost the filter semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q105 path grew a cartesian:\n$p")
  }
}
