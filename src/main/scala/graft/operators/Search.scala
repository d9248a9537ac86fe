package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Search parameters (rs/config/src/search_params.rs:11-23): `nprobe`
  * defaults to `topK` (num_explored_centroids), ratio pruning keeps
  * centroids with dist <= min * (1 + centroidDistanceRatio).
  *
  * `adaptiveFilterThreshold` > 0 enables selectivity-adaptive FILTERED
  * search on the served path (the [[graft.operators.Ann.ivfTopKFiltered]]
  * rule at the collection surface): when a segment's compiled attribute
  * filter passes at most this many points, the segment is answered by an
  * exact scan of exactly those points instead of the index probe —
  * recall 1.0 at O(|filter|) where the reference's probe-then-post-filter
  * posture (rs/index/src/ivf/block_based/index.rs:198-226) can return
  * fewer than k survivors. 0 (default) keeps the probe posture
  * unconditionally. */
final case class SearchParams(
    topK: Int = 10,
    numExploredCentroids: Option[Int] = None,
    centroidDistanceRatio: Double = 0.1,
    adaptiveFilterThreshold: Long = 0L,
    /** Recall-targeted probing (beyond the reference, whose
      * `num_explored_centroids` heuristic is just top_k —
      * rs/config/src/search_params.rs:21-23): resolve nprobe from the
      * collection's persisted calibration curve
      * ([[graft.core.Collection.calibrateRecall]]) as the smallest
      * measured nprobe whose recall@k meets the target, and disable the
      * ratio prune so delivered recall matches the curve. An explicit
      * `numExploredCentroids` wins over the target; requires a prior
      * calibration pass (fails loudly otherwise). */
    targetRecall: Option[Double] = None,
    /** Opt into resolving `targetRecall` from a calibration curve that is
      * STALE for this search — measured over a different segment set
      * (the collection flushed/merged since) or at a different k. The
      * default refuses loudly (round-15 verdict #3): a drifted curve
      * silently under-delivers the target it promises. */
    acceptStaleCalibration: Boolean = false) {
  def nprobe: Int = numExploredCentroids.getOrElse(topK)
}

/** The read-path pipelines of the engine.
  *
  * Result ordering everywhere: (score asc NaN-last, doc_id asc) — the
  * reference's `IdWithScore: Ord` (rs/index/src/utils.rs:95-117). Spark
  * treats NaN as greater than any double in ordering, which matches.
  */
object Search {

  private def scoreOrder: Seq[Column] = Seq(col("score").asc, col("doc_id").asc)

  /** Sequenced tombstone anti-join (R6). A tombstone carries the batch
    * watermark (`tomb_batch`) current when the delete was issued; a row is
    * hidden only when its source batch (`src_batch`, stamped on tail reads
    * and persisted through flush into segment vector tables) is at or
    * before that watermark. A doc re-inserted AFTER a delete therefore
    * comes back — the reference replays WAL ops in seq_no order, so a
    * later insert revives the doc (rs/index/src/collection/core.rs WAL
    * replay). Rows with no batch lineage are treated as predating every
    * tombstone; tombstones with no watermark column hide everything. */
  private[graft] def dropTombstoned(df: DataFrame, tomb: DataFrame): DataFrame = {
    val tb = tomb.select(
      col("user_id").as("_t_uid"),
      col("doc_id").as("_t_did"),
      (if (tomb.columns.contains("tomb_batch")) col("tomb_batch")
       else lit(Long.MaxValue)).as("_t_batch"))
    val src =
      if (df.columns.contains("src_batch")) df("src_batch") else lit(Long.MinValue)
    df.join(tb,
      df("user_id") === tb("_t_uid") && df("doc_id") === tb("_t_did") && src <= tb("_t_batch"),
      "left_anti")
  }

  /** Brute-force exact top-k (J5 — the mutable/pending-segment path,
    * rs/index/src/segment/pending_segment.rs:286). Distributed partial
    * top-k: Catalyst plans orderBy+limit as TakeOrderedAndProject
    * (per-partition heap, then merge on the driver) — no full sort. */
  def bruteForce(
      vectors: DataFrame,
      query: Seq[Double],
      k: Int,
      userIds: Seq[Any] = Nil,
      filterPoints: Option[DataFrame] = None,
      tombstones: Option[DataFrame] = None): DataFrame = {
    var df = vectors
    if (userIds.nonEmpty) df = df.filter(col("user_id").isin(userIds: _*))
    for (t <- tombstones) df = dropTombstoned(df, t)
    for (fp <- filterPoints)
      df = df.join(fp.select("user_id", "point_id"), Seq("user_id", "point_id"), "left_semi")
    df.withColumn("score", l2_distance(col("vector"), vec(query)))
      .orderBy(scoreOrder: _*)
      .limit(k)
      .select("user_id", "doc_id", "score")
  }

  /** Stage 1 of every SPANN-style search: score the (broadcast-size)
    * centroid table, keep the nprobe nearest, then apply the distance
    * ratio prune (spann/index.rs:233-246). The global min rides a
    * broadcast one-row aggregate, not a window — Catalyst folds a
    * constant partition key away, so `Window.partitionBy(lit(0))` IS the
    * unpartitioned single-partition WindowExec it appears to avoid. */
  private def chooseCentroids(
      centroids: DataFrame, query: Seq[Double], params: SearchParams): DataFrame = {
    val scored = centroids
      .withColumn("cdist", l2_distance(col("vector"), vec(query)))
      .orderBy(col("cdist").asc, col("centroid_id").asc)
      .limit(params.nprobe)
    scored
      .crossJoin(broadcast(scored.agg(min(col("cdist")).as("mind"))))
      // mind == 0 (the query coincides with its nearest centroid — e.g. a
      // singleton cluster's centroid IS its point, and calibration queries
      // are sampled corpus vectors) makes the multiplicative band
      // degenerate: every other centroid would be pruned REGARDLESS of
      // the ratio, so "ratio off" (1e18) silently under-probes. The band
      // carries no information at zero — fall back to pure nprobe there.
      .filter(col("mind") === 0.0 ||
        col("cdist") <= col("mind") * (1.0 + params.centroidDistanceRatio))
      .select("centroid_id")
  }

  /** Stage 2: probe the chosen posting lists (J2 broadcast join), dedup
    * multi-assigned points, fetch vectors (J1 remap), drop tombstones
    * (F10), apply the attribute filter (F8/J4 semi-join). */
  private def probeVectors(
      vectors: DataFrame,
      postings: DataFrame,
      chosen: DataFrame,
      userIds: Seq[Any],
      filterPoints: Option[DataFrame],
      tombstones: Option[DataFrame]): DataFrame = {
    var cand = postings.join(broadcast(chosen), Seq("centroid_id"))
    if (userIds.nonEmpty) cand = cand.filter(col("user_id").isin(userIds: _*))
    var df = cand
      .select("user_id", "point_id")
      .dropDuplicates("user_id", "point_id") // multi-assignment lists overlap
      .join(vectors, Seq("user_id", "point_id"))
    for (t <- tombstones) df = dropTombstoned(df, t)
    for (fp <- filterPoints)
      df = df.join(fp.select("user_id", "point_id"), Seq("user_id", "point_id"), "left_semi")
    df
  }

  /** SPANN search (K2, rs/index/src/spann/index.rs:211-266):
    * stage 1 — score the (small) centroid table, keep the nprobe nearest
    * within the distance ratio (spann/index.rs:233-246);
    * stage 2 — probe those posting lists (J2: broadcast join), fetch
    * vectors (J1 remap), drop tombstones (F10), apply the attribute filter
    * (F8/J4 semi-join), score, global top-k.
    *
    * The centroid stage replaces the reference's HNSW-over-centroids with
    * an exact scan: centroid cardinality is ~sqrt(N) and the scan is a
    * broadcast-size DataFrame, so exact beats approximate here (SURVEY
    * §2.5 K1). `nprobe >= |centroids|` degrades to exact search — used as
    * the oracle knob in tests.
    *
    * On a quantized segment `estimate` is its codec's distance estimate
    * over the code columns `vectors` carries ([[Quantizer.Codec]]):
    * candidates rank on it and only the best 100 are re-scored exactly
    * ([[Quantizer.ranked]]) — the reference's served ProductQuantizerL2
    * path (rs/index_server/src/collection_manager.rs:72-94) with the
    * standard re-ranking recall guard on top. */
  def spann(
      vectors: DataFrame,
      centroids: DataFrame,
      postings: DataFrame,
      query: Seq[Double],
      params: SearchParams = SearchParams(),
      userIds: Seq[Any] = Nil,
      filterPoints: Option[DataFrame] = None,
      tombstones: Option[DataFrame] = None,
      estimate: Option[Column] = None): DataFrame =
    Quantizer.ranked(
        probeVectors(vectors, postings, chooseCentroids(centroids, query, params),
          userIds, filterPoints, tombstones),
        estimate, l2_distance(col("vector"), vec(query)), "doc_id", "score",
        params.topK, rerank = 100)
      .select("user_id", "doc_id", "score")

  /** Late-interaction (ColBERT-style MaxSim) retrieval over a
    * multi-vector document table — one row per document TOKEN vector:
    *
    *   score(d) = Σ_{q ∈ query tokens} max_{t ∈ d} ⟨q, t⟩
    *
    * The fine-grained relevance model between single-vector ANN and
    * cross-encoders (Khattab & Zaharia SIGIR'20). Scale shape: the
    * query's token vectors are literals in |Q| codegen dot-product
    * columns (one narrow pass over the token table — the table is never
    * shuffled at its full width), then ONE doc-keyed aggregation whose
    * partial aggs reduce every task to |docs-per-task| rows of |Q|
    * maxes; top-k is a bounded TakeOrdered. At serving scale the token
    * table is the ANN-pruned candidate set, not the corpus.
    *
    * Returns `[<docId>, score]`, (score desc, id asc), `k` rows. */
  def maxSimTopK(
      docTokens: DataFrame,
      queryTokens: Seq[Seq[Double]],
      k: Int,
      docIdCol: String = "doc_id",
      vecCol: String = "embedding"): DataFrame = {
    require(queryTokens.nonEmpty, "empty query token set")
    val dots = queryTokens.zipWithIndex.map { case (q, i) =>
      dot_product(col(vecCol).cast("array<double>"), vec(q)).as(s"d$i")
    }
    val maxes = queryTokens.indices.map(i => max(col(s"d$i")).as(s"m$i"))
    Par.ensure(docTokens)
      .select((col(docIdCol) +: dots): _*)
      .groupBy(col(docIdCol))
      .agg(maxes.head, maxes.tail: _*)
      .select(col(docIdCol),
        queryTokens.indices.map(i => col(s"m$i")).reduce(_ + _).as("score"))
      .orderBy(col("score").desc, col(docIdCol).asc)
      .limit(k)
  }

  /** Scatter-gather merge (A6/D2, rs/aggregator/src/aggregator.rs:41-146):
    * union per-shard/per-collection result frames and take the global
    * top-k. Ascending (score, doc_id) consistently — the reference
    * aggregator's descending re-sort (aggregator.rs:135) is treated as a
    * bug per SURVEY §2.4 A6. One Spark job over all partitions IS the
    * scatter-gather; this helper exists for fan-in across collections. */
  def scatterGather(shardResults: Seq[DataFrame], k: Int): DataFrame = {
    require(shardResults.nonEmpty, "no shard results")
    shardResults.reduce(_ unionByName _)
      .orderBy(scoreOrder: _*)
      .limit(k)
  }

  /** Pure term/keyword search (§3.3): filter -> point ids -> doc ids,
    * sort + dedup + limit (rs/index/src/collection/snapshot.rs:114-147). */
  def termSearch(
      terms: DataFrame,
      idMap: DataFrame, // [user_id, point_id, doc_id]
      filter: DocFilter,
      limit: Int,
      userIds: Seq[Any] = Nil,
      tombstones: Option[DataFrame] = None,
      fieldLang: Map[String, String] = Map.empty): DataFrame =
    termMatches(terms, idMap, filter, userIds, tombstones, fieldLang)
      .orderBy("doc_id").limit(limit)

  /** [[termSearch]]'s full match set, unordered and unlimited — the input
    * to aggregations over matches (facet counts), where a top-limit would
    * silently bias every bucket. */
  /** @param keepSrcBatch keep the matching physical row's `src_batch`
    *   (Long.MinValue when the id map carries none) so the caller can
    *   restrict matches to the doc's newest live version — the
    *   newest-wins aggregation semantics of `Snapshot.matchedDocs`. */
  def termMatches(
      terms: DataFrame,
      idMap: DataFrame, // [user_id, point_id, doc_id]
      filter: DocFilter,
      userIds: Seq[Any] = Nil,
      tombstones: Option[DataFrame] = None,
      fieldLang: Map[String, String] = Map.empty,
      keepSrcBatch: Boolean = false): DataFrame = {
    var t = terms
    if (userIds.nonEmpty) t = t.filter(col("user_id").isin(userIds: _*))
    // the FULL id map is the compile universe: extra columns (numeric
    // attributes for Range leaves) ride along — every other leaf projects
    // down to (user_id, point_id), so Catalyst prunes them from the scan
    // when unused
    val pts = FilterCompiler.compile(filter, t, idMap, fieldLang)
    // keep src_batch (when idMap carries it) through the remap so the
    // tombstone anti-join stays sequenced
    val keep = Seq("user_id", "doc_id") ++
      (if (idMap.columns.contains("src_batch")) Seq("src_batch") else Nil)
    var docs = pts.join(idMap, Seq("user_id", "point_id")).select(keep.map(col): _*)
    for (tb <- tombstones) docs = dropTombstoned(docs, tb)
    if (keepSrcBatch) {
      val sb = if (docs.columns.contains("src_batch")) col("src_batch")
               else lit(Long.MinValue)
      docs.select(col("user_id"), col("doc_id"), sb.as("src_batch"))
        .dropDuplicates("user_id", "doc_id", "src_batch")
    } else docs.select("user_id", "doc_id").dropDuplicates("user_id", "doc_id")
  }

  /** Reciprocal-rank fusion of independent rankings — the standard hybrid
    * retrieval combiner (BM25 ⊕ vector ANN, or any ranked lists over one
    * id space):  rrf(d) = Σ_lists 1 / (rrfK + rank_list(d)).
    *
    * Each input is `[id, rank]` (rank 1-based; any extra columns
    * ignored). Absent ids simply contribute nothing from that list — no
    * outer-join chain: the fuse is a union + id-keyed sum, so it scales
    * to any number of lists with one bounded shuffle (inputs are already
    * top-N lists, not corpora). Returns `[id, rrf_score, n_lists]`,
    * ordered (rrf_score desc, id asc), top `k`. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "no rankings to fuse")
    rankings
      .map(_.select(col("id").cast("long").as("id"),
        (lit(1.0) / (lit(rrfK) + col("rank").cast("double"))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy("id")
      .agg(round(sum(col("contrib")), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(k)
  }

  /** Convex-combination hybrid fusion ("relative score fusion" — the
    * weighted alternative to [[rrfFuse]] used when calibrated list
    * weights are available, e.g. dense + BM25 in production RAG stacks):
    * each ranked list `[id, score]` (higher-better, top-N bounded) is
    * min-max normalized to [0,1] and contributes `weight × normalized`;
    * ids absent from a list contribute 0 for it. A constant list (max =
    * min) normalizes to 1.0 — every member is equally "best".
    *
    * Scale shape: inputs are top-N results (bounded by construction), so
    * the min/max ride a broadcast one-row aggregate per list (NOT a
    * constant-key window — same posture as the SPANN stage-1 min-prune),
    * and the fuse is one bounded union + groupBy. Scores round to 6
    * before ranking so a SQL replay agrees on every comparison. */
  def convexFuse(lists: Seq[(DataFrame, Double)], k: Int = 10): DataFrame = {
    require(lists.nonEmpty, "no lists to fuse")
    lists.map { case (df, w) =>
      val s = df.select(col("id").cast("long").as("id"),
        col("score").cast("double").as("score"))
      val mm = s.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
      s.crossJoin(broadcast(mm))
        .select(col("id"),
          (lit(w) * when(col("mx") === col("mn"), lit(1.0))
            .otherwise((col("score") - col("mn")) / (col("mx") - col("mn"))))
            .as("contrib"))
    }.reduce(_ unionByName _)
      .groupBy("id")
      .agg(round(sum(col("contrib")), 6).as("hybrid_score"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("hybrid_score").desc, col("id").asc)
      .limit(k)
  }

  /** Corpus statistics for [[bm25Score]] — `(nDocs, avgdl)` from a
    * `[.., dl]` doc-length frame in ONE narrow partials-only aggregate.
    * These are INDEX-TIME statistics: compute once per corpus/snapshot
    * (the collection path memoizes them per pinned snapshot over
    * flush-persisted per-segment lengths) and reuse across queries —
    * recomputing a corpus aggregate per search would dominate the query
    * at scale. */
  def bm25Stats(docLens: DataFrame): (Long, Double) = {
    val r = docLens.agg(count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl")).head()
    val n = r.getLong(0)
    (n, if (n == 0) 0.0 else r.getDouble(1))
  }

  /** Okapi BM25 scoring over PREBUILT index frames — the same formula,
    * constants, and arithmetic shape as [[TextPipeline.bm25TopK]] (the
    * raw-documents path, q69), so the collection index path and the
    * pipeline path score identically on identical content:
    *
    *   score(d) = Σ_{t ∈ q, t ∈ d}  ln(1 + (N − df + ½)/(df + ½))
    *              · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Inputs: `termFreqs` = `[user_id, term, doc_id, tf]` (one row per
    * live doc-term; the collection path derives tf from the persisted
    * positions), `docLens` = `[user_id, doc_id, dl]`. Analysis is the
    * caller's: query terms must come from the same analyzer as the index
    * (the engine invariant).
    *
    * Scale shape: the only `termFreqs` touch is `term IN (query terms)` —
    * a dictionary-pruned range scan on the term-sorted segment parquet,
    * O(matched postings) after it; df is an O(matched) aggregate over a
    * key space bounded by |query| and broadcast back; doc lengths join on
    * the doc key; the final top-k is orderBy+limit → TakeOrderedAndProject.
    * No corpus-wide pass anywhere (stats come in via [[bm25Stats]]).
    * Scores round HALF-UP to 4 before ranking (ties → doc_id asc) so a
    * SQL replay agrees on every comparison.
    *
    * Returns `[user_id, doc_id, score, n_terms_hit]` (how many distinct
    * query terms matched), unordered/unlimited — the building block the
    * retrieval surfaces order and limit, as [[TextPipeline.bm25TopK]] does
    * (more-like-this excludes its seed doc between score and limit). */
  def bm25Score(
      termFreqs: DataFrame,
      docLens: DataFrame,
      queryTerms: Seq[String],
      nDocs: Long,
      avgdl: Double,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: empty analyzed query")
    val q = queryTerms.distinct
    val m = termFreqs.filter(col("term").isin(q: _*))
      .select(col("user_id"), col("term"), col("doc_id"),
        col("tf").cast("double").as("tf"))
    // df per query term over the caller's live+deduped frame; bounded by
    // |q| keys -> broadcast back
    val dfq = m.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    m.join(docLens.select(col("user_id"), col("doc_id"), col("dl")),
        Seq("user_id", "doc_id"))
      .join(broadcast(dfq), Seq("term"))
      .groupBy("user_id", "doc_id")
      .agg(round(sum(okapiTerm(lit(nDocs.toDouble), lit(avgdl),
          col("dl").cast("double"), k1, b)), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** One matched term's Okapi BM25 contribution, `idf · tfNorm`, over the
    * `tf` and `df` columns in scope — the one Column both Spark paths sum
    * ([[bm25Score]] with literal corpus stats, [[TextPipeline.bm25TopK]]
    * with its cross-joined `n`/`avgdl` columns), so their arithmetic
    * cannot drift apart. The served path's scalar twin is
    * `ServedUserView.scoreByKeys`. */
  private[operators] def okapiTerm(n: Column, avgdl: Column, dl: Column,
      k1: Double, b: Double): Column = {
    val idf = log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / avgdl))
    idf * tfNorm
  }

  /** Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    * SIGIR'98) — the standard relevance/diversity tradeoff over a
    * retrieved candidate set:
    *
    *   mmr(d) = λ·rel(d) − (1−λ)·max_{s ∈ picked} sim(d, s)
    *
    * greedily, starting from the most relevant candidate. `candidates`
    * is `[id, vector, rel]` — a top-N search result (rel = relevance,
    * higher better), so it is broadcast-scale by construction; the
    * greedy runs on the collected set like the reference's aggregator
    * reranks its fan-in (rs/aggregator/src/aggregator.rs:41-146), capped
    * at `maxCandidates`. The 100 TB path is: distributed ANN top-N →
    * this rerank — the corpus never reaches the driver.
    *
    * The selection rule is ENGINE-REPLAYABLE (q91's posture): rel and
    * every pairwise cosine are rounded HALF_UP to 6 decimals before
    * comparison, the combined score again (so a SQL replay agrees on
    * every argmax), ties break id-asc. Pairwise cosine uses exactly the
    * [[graft.functions.VectorKernels]] formula: dot/(√nx·√ny), summed in
    * index order, 0.0 on a zero norm. Returns `[rank, <id>, score]` —
    * score is the winning rounded metric (rank 1 = rounded rel). */
  def mmrRerank(
      candidates: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "vector",
      relCol: String = "rel",
      maxCandidates: Int = 10000): DataFrame = {
    require(k >= 1, s"k=$k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda=$lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        col(relCol).cast("double"))
      .limit(maxCandidates + 1).collect()
    require(rows.length <= maxCandidates,
      s"mmrRerank caps candidates at $maxCandidates — pass a top-N result, not a corpus")
    require(rows.nonEmpty, "mmrRerank on an empty candidate set")
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getSeq[Double](1).toArray)
    val norms = vecs.map { v =>
      var s = 0.0; var j = 0; while (j < v.length) { s += v(j) * v(j); j += 1 }
      math.sqrt(s)
    }
    // BigDecimal(NaN/∞) throws NumberFormatException; a degenerate
    // candidate (NaN rel, or a vector whose dot overflows to ±∞) must
    // rank LAST per the repo's NaN-last convention, not crash the rerank
    // — and +∞ must not win the argmax either (it would surface an
    // Infinity score that breaks the oracle/JSON surface downstream), so
    // every non-finite value maps to -∞.
    def r6(x: Double): Double =
      if (!java.lang.Double.isFinite(x)) Double.NegativeInfinity
      else new java.math.BigDecimal(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cos(i: Int, j: Int): Double = {
      if (norms(i) == 0.0 || norms(j) == 0.0) 0.0
      else {
        val a = vecs(i); val b = vecs(j)
        var d = 0.0; var t = 0
        while (t < a.length) { d += a(t) * b(t); t += 1 }
        d / (norms(i) * norms(j))
      }
    }
    val rel = rows.map(r => r6(r.getDouble(2)))
    val n = ids.length
    val picked = Array.fill(n)(false)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    def argmax(metric: Int => Double): (Int, Double) = {
      var b = -1; var bs = 0.0; var i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = r6(metric(i))
          if (b < 0 || s > bs || (s == bs && ids(i) < ids(b))) { b = i; bs = s }
        }
        i += 1
      }
      (b, bs)
    }
    val out = Seq.newBuilder[(Long, Long, Double)]
    val take = math.min(k, n)
    var (best, bestScore) = argmax(i => rel(i))
    var rank = 1
    while (rank <= take) {
      out += ((rank.toLong, ids(best), bestScore))
      picked(best) = true
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = r6(cos(i, best))
          if (s > maxSim(i)) maxSim(i) = s
        }
        i += 1
      }
      if (rank < take) {
        val t = argmax(i => lambda * rel(i) - (1.0 - lambda) * maxSim(i))
        best = t._1; bestScore = t._2
      }
      rank += 1
    }
    out.result().toDF("rank", idCol, "score")
  }
}
