package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-query online serving path (SURVEY §7.4, ROADMAP #2).
  *
  * The distributed engine answers single queries at Spark-job latency
  * (~0.5-1s scheduling floor); the reference serves single-digit-ms ANN
  * from an in-memory index (rs/index/src/hnsw/block_based/index.rs:159-288,
  * loaded per segment into RAM). [[ServedIvfIndex]] is the same serving
  * posture rebuilt over the IVF structure: centroids, posting lists and
  * vectors are loaded ONCE into flat primitive arrays on the serving
  * process, and each query is answered with zero Spark jobs — an exact
  * centroid scan (centroid count ~sqrt(N), same rationale as
  * Search.spann's stage 1) followed by an in-memory probe of nprobe
  * posting lists.
  *
  * Results are bit-identical to [[Ann.ivfTopK]] (same nprobe choice with
  * (cdist, centroid_id) tiebreak, same candidate dedup, same
  * (dist, id) result order), so the distributed path remains the oracle.
  *
  * Scale posture: the structure is per-serving-shard, not per-corpus — at
  * cluster scale each serving replica loads one user/centroid-range shard
  * (the reference's collection/segment layout does the same); batch
  * workloads stay on the distributed [[Ann.ivfTopKBatch]] path.
  */
final class ServedIvfIndex private (
    dim: Int,
    centroidIds: Array[Int],
    centFlat: Array[Double], // |centroids| x dim, row-major, sorted by centroid_id
    postOffsets: Array[Int], // centroid idx -> [start, end) into postPoints
    postPoints: Array[Int], // indices into the point store
    pointIds: Array[Long],
    vecFlat: Array[Double], // |points| x dim, row-major
    // opt-in stage-1 HNSW over the centroids (node idx == centroid idx;
    // both built from the same centroid_id-sorted arrays) — the
    // reference's in-RAM centroid graph for >=1M-centroid shards
    centroidHnsw: Option[Hnsw] = None) {

  def numCentroids: Int = centroidIds.length
  def numPoints: Int = pointIds.length

  private def sq(q: Array[Double], flat: Array[Double], off: Int): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(dim, q.length)
    while (i < n) { val d = q(i) - flat(off + i); acc += d * d; i += 1 }
    acc
  }

  /** Bounded top-k by (squared dist asc, id asc): insertion into parallel
    * arrays — k is small, so O(cand * k) worst case, ~O(cand) typical.
    * Comparisons go through java.lang.Double.compare so NaN distances sort
    * GREATEST (a raw < / > is always false on NaN, which would let NaN
    * entries lodge mid-array ahead of real distances) — preserving the
    * engine-wide (score asc NaN-last, doc_id asc) invariant that the
    * serving merge comparator also uses. */
  private final class TopK(k: Int) {
    val topD: Array[Double] = Array.fill(k)(Double.PositiveInfinity)
    val topI: Array[Long] = Array.fill(k)(Long.MaxValue)
    var filled = 0
    def offer(id: Long, d: Double): Unit = {
      if (filled == k) {
        val c = java.lang.Double.compare(d, topD(k - 1))
        if (c > 0 || (c == 0 && id >= topI(k - 1))) return
      }
      var pos = math.min(filled, k - 1)
      while (pos > 0 && {
        val c = java.lang.Double.compare(topD(pos - 1), d)
        c > 0 || (c == 0 && topI(pos - 1) > id)
      }) {
        topD(pos) = topD(pos - 1); topI(pos) = topI(pos - 1); pos -= 1
      }
      topD(pos) = d; topI(pos) = id
      if (filled < k) filled += 1
    }
  }

  /** Parallelism for the probe stage. Posting lists are scored by a
    * fork-join task per stripe; multi-assignment duplicates are dropped
    * per-stripe (HashSet) and again at the merge, so results are
    * deterministic regardless of the stripe split. */
  private val probeThreads =
    math.max(1, math.min(16, Runtime.getRuntime.availableProcessors() / 2))

  /** Single-query top-k: returns (id, l2 distance) ordered by
    * (dist asc, id asc) — identical to Ann.ivfTopK on the same index.
    * Thread-safe; the probe stage fans out across posting lists when the
    * candidate volume is large enough to pay for coordination. */
  /** Stage 1, exact: nprobe smallest centroids by (cdist, centroid_id). */
  private def exactChosen(query: Array[Double], m: Int): Array[Int] = {
    val nc = centroidIds.length
    val cd = new Array[Double](nc)
    var c = 0
    while (c < nc) { cd(c) = sq(query, centFlat, c * dim); c += 1 }
    val order = Array.tabulate(nc)(identity)
    var s = 0
    while (s < m) {
      var best = s
      var j = s + 1
      while (j < nc) {
        val a = order(j); val b = order(best)
        // Double.compare so a NaN centroid distance ranks LAST (raw < is
        // always false on NaN, which would pin a NaN centroid as "best"),
        // matching the TopK and merge comparators.
        val cc = java.lang.Double.compare(cd(a), cd(b))
        if (cc < 0 || (cc == 0 && centroidIds(a) < centroidIds(b))) best = j
        j += 1
      }
      val t = order(s); order(s) = order(best); order(best) = t
      s += 1
    }
    order
  }

  /** @param allow optional point-id predicate intersected at probe time
    *   (plan_with_ids, F8/J4): filtered points never enter the heap, so
    *   the top-k fills with qualifying points instead of truncating
    *   before the filter. */
  def search(query: Array[Double], k: Int, nprobe: Int,
      allow: java.util.function.LongPredicate = null): Array[(Long, Double)] = {
    val nc = centroidIds.length
    if (nc == 0 || k <= 0) return Array.empty
    val m = math.min(nprobe, nc)
    // stage 1: HNSW descent when built (approximate, ef = 2x the ask),
    // exact scan otherwise — or as the fallback if the graph comes up
    // short (disconnected component on a degenerate build)
    val order: Array[Int] = centroidHnsw match {
      case Some(h) if m < nc =>
        val nodes = h.searchNodes(query, m, math.max(2 * m, 64))
        if (nodes.length >= m) nodes else exactChosen(query, m)
      case _ => exactChosen(query, m)
    }
    // stage 2: probe the chosen posting lists
    def scoreLists(listIdxs: Seq[Int]): TopK = {
      val top = new TopK(k)
      val seen = new java.util.HashSet[Integer]()
      listIdxs.foreach { ci =>
        var q = postOffsets(ci)
        val end = postOffsets(ci + 1)
        while (q < end) {
          val pt = postPoints(q)
          if (seen.add(pt) && (allow == null || allow.test(pointIds(pt))))
            top.offer(pointIds(pt), sq(query, vecFlat, pt * dim))
          q += 1
        }
      }
      top
    }
    val chosen = order.take(m).toSeq
    val totalCand = chosen.map(ci => postOffsets(ci + 1) - postOffsets(ci)).sum
    val parts: Seq[TopK] =
      if (probeThreads == 1 || totalCand < 4096) Seq(scoreLists(chosen))
      else {
        // round-robin by descending list size balances the stripes
        val bySize = chosen.sortBy(ci => -(postOffsets(ci + 1) - postOffsets(ci)))
        val stripes = Array.fill(probeThreads)(Seq.newBuilder[Int])
        bySize.zipWithIndex.foreach { case (ci, i) => stripes(i % probeThreads) += ci }
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ServedIvfIndex.probePool
        Await.result(
          Future.sequence(stripes.toSeq.map(b => Future(scoreLists(b.result())))),
          Duration.Inf)
      }
    // merge stripes: same point may surface in several stripes (multi-
    // assignment overlap) with an identical distance — first offer wins
    val merged = new TopK(k)
    val seen = new java.util.HashSet[java.lang.Long]()
    parts.foreach { t =>
      var i = 0
      while (i < t.filled) {
        if (seen.add(t.topI(i))) merged.offer(t.topI(i), t.topD(i))
        i += 1
      }
    }
    Array.tabulate(merged.filled)(i => (merged.topI(i), math.sqrt(merged.topD(i))))
  }
}

object ServedIvfIndex {

  /** Shared fixed pool for probe fan-out (bounded; serving processes host
    * many indexes — a pool per index would leak threads). */
  private[operators] lazy val probePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, Runtime.getRuntime.availableProcessors() / 2)),
        r => {
          val t = new Thread(r, "graft-serving-probe")
          t.setDaemon(true)
          t
        }))

  /** The one serving centroid-graph construction — shared by the
    * flush-time writer ([[graft.core.Collection]]'s `hnsw.bin`) and the
    * serve-time fallback, so a persisted graph is bit-identical to what a
    * fresh serving build would produce. Deterministic and
    * parallelism-invariant (fixed bulk-build batch size): the graph — and
    * every partial-probe answer — is identical on any host; the core
    * count only sets build speed. Degree/beam scale with the set:
    * m=16/efC=100 is exact-recall territory up to ~200k centroids but
    * underfits at ~1M (measured 0.66@ef100 vs 0.98 with m=32/efC=200 —
    * BASELINE.md). */
  def buildCentroidGraph(ids: Array[Long], vecs: Array[Array[Double]]): Hnsw = {
    val big = ids.length >= 500000
    Hnsw.build(ids, vecs,
      m = if (big) 32 else 16,
      efConstruction = if (big) 200 else 100,
      parallelism = Runtime.getRuntime.availableProcessors)
  }

  /** Stream a centroid table into `(ids, vectors)` sorted by centroid id
    * — the input shape [[buildCentroidGraph]] and [[Hnsw.load]] take.
    * Same discipline as the vector-store load below (round-2 BASELINE
    * lesson, round-14 verdict #2): a sorted `toLocalIterator` holds one
    * partition of boxed rows at a time, so peak driver memory is the
    * primitive result arrays themselves — a `.collect()` of 1M x 768 rows
    * needs ~4x that in Row boxing, exactly in the ≥500k-centroid regime
    * where the hnsw centroid-index type auto-selects. */
  def loadCentroidsStreamed(centroids: org.apache.spark.sql.DataFrame)
      : (Array[Long], Array[Array[Double]]) = {
    val sorted = centroids
      .select(col("centroid_id").cast("long"), col("vector").cast("array<double>"))
      .orderBy("centroid_id")
    val n = sorted.count()
    require(n <= Int.MaxValue,
      s"centroid set too large for one graph: $n — shard the index")
    val ids = new Array[Long](n.toInt)
    val vecs = new Array[Array[Double]](n.toInt)
    var w = 0
    val it = sorted.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      ids(w) = r.getLong(0)
      vecs(w) = r.getSeq[Double](1).toArray
      w += 1
    }
    (ids, vecs)
  }

  /** Load an IVF index (as built by [[Ann.ivfIndex]] or read from a
    * collection segment) into serving memory. One-time cost, bounded by
    * the shard size — mirrors the reference's segment load. */
  /** @param centroidIndex `"exact"` (default — bit-identical to
    *   [[Ann.ivfTopK]], right up to ~100k centroids) or `"hnsw"` (the
    *   reference's in-RAM centroid graph; approximate stage 1 for shards
    *   whose centroid counts outgrow the scan).
    * @param hnswPath optional persisted-graph location (the segment's
    *   `hnsw.bin`, written at flush by [[graft.core.Collection]] or by a
    *   prior serving load): when the file exists and matches the centroid
    *   set, stage-1 setup is a read instead of a rebuild — the reference
    *   pays the HNSW build once at flush (rs/index/src/hnsw/writer.rs)
    *   and mmap-loads it at serve time, where a 1M-centroid in-memory
    *   rebuild costs 123-257 s per restart (BASELINE.md). A fresh build
    *   is persisted there for the next restart. */
  def build(
      embeddings: DataFrame, centroids: DataFrame, postings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIndex: String = "exact",
      hnswPath: Option[String] = None): ServedIvfIndex = {
    // The vector store is the big load: stream it via a sorted
    // toLocalIterator (one partition of boxed rows in memory at a time)
    // instead of collect(), so peak driver memory is the flat primitive
    // array itself — 1M x 768 loads in ~6 GB, not ~24 GB.
    val sortedVecs = embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .orderBy(idCol)
    val nPoints = sortedVecs.count()
    require(nPoints <= Int.MaxValue,
      s"serving shard too large: $nPoints points — shard the index across replicas")
    assemble(collectCentroids(centroids), nPoints.toInt,
      sortedVecs.toLocalIterator().asScala.map(r => (r.getLong(0), r.getSeq[Double](1))),
      collectPostings(postings), centroidIndex, hnswPath)
  }

  /** A centroid table as `(centroid_id, vector)` pairs — [[assemble]]'s
    * centroid input. */
  private[graft] def collectCentroids(centroids: DataFrame): Array[(Int, Array[Double])] =
    centroids
      .select(col("centroid_id").cast("int"), col("vector").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))

  /** A postings table as `(centroid_id, point_id)` pairs — [[assemble]]'s
    * posting input. */
  private[graft] def collectPostings(postings: DataFrame): Array[(Int, Long)] =
    postings
      .select(col("centroid_id").cast("int"), col("point_id").cast("long"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))

  /** The one assembly of a serving index from driver-side arrays: the
    * centroid store (sorted by centroid id), the flat vector store, the
    * per-centroid posting offsets and the optional stage-1 graph. `points`
    * yields exactly `nPoints` `(point id, vector)` pairs in ascending id
    * order; postings naming a point not among them (a tombstoned or
    * other user's point) are dropped. [[build]] feeds it from DataFrames;
    * the per-user serving view feeds it from its one collect of the
    * user's rows. */
  private[graft] def assemble(
      centroids: Array[(Int, Array[Double])], nPoints: Int,
      points: Iterator[(Long, scala.collection.Seq[Double])],
      postings: Array[(Int, Long)],
      centroidIndex: String = "exact",
      hnswPath: Option[String] = None): ServedIvfIndex = {
    require(centroidIndex == "exact" || centroidIndex == "hnsw",
      s"centroidIndex must be exact|hnsw, got $centroidIndex")
    val cRows = centroids.sortBy(_._1)
    val dim = if (cRows.isEmpty) 0 else cRows.head._2.length
    val centroidIds = cRows.map(_._1)
    val centFlat = new Array[Double](cRows.length * dim)
    cRows.zipWithIndex.foreach { case ((_, v), i) =>
      System.arraycopy(v, 0, centFlat, i * dim, math.min(dim, v.length))
    }

    require(nPoints <= Int.MaxValue / math.max(1, dim),
      s"serving shard too large: $nPoints x $dim — shard the index across replicas")
    val pointIds = new Array[Long](nPoints)
    val vecFlat = new Array[Double](nPoints * dim)
    var w2 = 0
    points.foreach { case (id, v) =>
      pointIds(w2) = id
      var d2 = 0
      val n2 = math.min(dim, v.length)
      while (d2 < n2) { vecFlat(w2 * dim + d2) = v(d2); d2 += 1 }
      w2 += 1
    }
    require(w2 == nPoints, s"point store: expected $nPoints points, got $w2")
    val pIdToIdx = new java.util.HashMap[Long, Integer](pointIds.length * 2)
    pointIds.zipWithIndex.foreach { case (id, i) => pIdToIdx.put(id, i) }

    // drop dangling refs, then lay each centroid's points out contiguously
    val byCentroid = postings.filter { case (_, pid) => pIdToIdx.containsKey(pid) }
      .groupBy(_._1)
    val postOffsets = new Array[Int](centroidIds.length + 1)
    var total = 0
    centroidIds.zipWithIndex.foreach { case (cid, i) =>
      postOffsets(i) = total
      total += byCentroid.get(cid).map(_.length).getOrElse(0)
    }
    postOffsets(centroidIds.length) = total
    val postPoints = new Array[Int](total)
    centroidIds.zipWithIndex.foreach { case (cid, i) =>
      var w = postOffsets(i)
      byCentroid.getOrElse(cid, Array.empty).foreach { case (_, pid) =>
        postPoints(w) = pIdToIdx.get(pid); w += 1
      }
    }
    val hnsw =
      if (centroidIndex == "hnsw" && cRows.nonEmpty) {
        val longIds = centroidIds.map(_.toLong)
        // load-from-disk first: the persisted topology + the centroid
        // vectors just collected rebuild the graph in O(file) — seconds
        // at 1M centroids vs minutes for a build (BASELINE.md)
        val loaded = hnswPath.flatMap(Hnsw.load(_, longIds, cRows.map(_._2)))
        loaded.orElse {
          val built = buildCentroidGraph(longIds, cRows.map(_._2))
          // opportunistic persistence: a failed save (read-only FS,
          // concurrent-writer move loss) must not fail the serving build
          hnswPath.foreach { hp =>
            try Hnsw.save(hp, built)
            catch { case e: java.io.IOException =>
              // surface it: every restart pays a full rebuild until the
              // save succeeds, which looks like a perf bug if silent
              System.err.println(
                s"[graft] hnsw graph save failed at $hp (serving continues, " +
                s"next restart rebuilds): ${e.getMessage}")
            }
          }
          Some(built)
        }
      } else None
    new ServedIvfIndex(dim, centroidIds, centFlat, postOffsets, postPoints,
      pointIds, vecFlat, hnsw)
  }
}
