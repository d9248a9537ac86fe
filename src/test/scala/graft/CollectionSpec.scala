package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{AttrField, Collection, CollectionConfig, Toc}
import graft.operators.{DocFilter, SearchParams}

/** Collection lifecycle: insert -> flush -> search -> delete -> merge ->
  * vacuum, with TOC versioning (reference write path §3.2; FIXTURES.md
  * §1.2-§1.5). */
class CollectionSpec extends SparkSuite {
  import spark.implicits._

  private def tmpBase(): String =
    Files.createTempDirectory("graft_coll").toString

  private val config = CollectionConfig(
    name = "c1", numFeatures = 4, initialNumCentroids = 10,
    attributeSchema = Seq(AttrField("content", "text", "english")))

  private def lineRows(n: Int) = (0 until n).map { i =>
    val content =
      if (i == 1) "long running connections with external services"
      else if (i == 2) "running shoes and other gear"
      else s"document number $i"
    (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble), content)
  }.toDF("user_id", "doc_id", "vector", "content")

  test("insert -> flush -> golden search; read-your-writes before flush") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(1000))

    // before flush: brute-force tail serves the query (R5)
    val pre = coll.snapshot().search(Seq(2.4, 3.4, 4.4, 5.4), SearchParams(topK = 2))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(pre === Seq(4L, 3L))

    assert(coll.flush().contains("seg_1"))
    assert(coll.flush().isEmpty) // idempotent on empty tail

    val post = coll.snapshot().search(Seq(2.4, 3.4, 4.4, 5.4),
      SearchParams(topK = 2, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(post === Seq(4L, 3L))
  }

  test("hybrid search with text filter; term search; NotContains") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(100))
    coll.flush()
    val snap = coll.snapshot()

    // hybrid: 'running connections' stems to run+connect -> only doc 1
    val hybrid = snap.search(Seq(2.4, 3.4, 4.4, 5.4),
      SearchParams(topK = 10, numExploredCentroids = Some(10)),
      filter = Some(DocFilter.Contains("content", "running connections")))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(hybrid === Seq(1L))

    val ts = snap.termSearch(DocFilter.Contains("content", "running"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(1L, 2L))

    val not = snap.termSearch(DocFilter.And(Seq(
      DocFilter.Contains("content", "running"),
      DocFilter.NotContains("content", "connections"))), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(not === Seq(2L))
  }

  test("adaptive filtered search: selective filter answered exactly where the probe misses") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(1000))
    coll.flush()
    val snap = coll.snapshot()
    val q = Seq(2.4, 3.4, 4.4, 5.4)
    // doc 999's term lives at the far end of the line: a 1-list probe
    // around the query can never scan it, so probe-then-post-filter
    // returns nothing — the filtered-ANN recall cliff
    val far = Some(DocFilter.Contains("content", "999"))
    val tight = SearchParams(topK = 10,
      numExploredCentroids = Some(1), centroidDistanceRatio = 0.0)
    val probed = snap.search(q, tight, filter = far)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(probed.isEmpty, "1-list probe unexpectedly reached the far cluster — fixture drifted")
    // identical query with the adaptive threshold: the filter passes one
    // point, so the segment is answered by an exact scan of exactly it
    val adaptive = snap.search(q,
        tight.copy(adaptiveFilterThreshold = 100L), filter = far)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(adaptive === Seq(999L))
    // a dense filter above the threshold keeps the probe posture...
    val dense = Some(DocFilter.Contains("content", "document"))
    val probePosture = snap.search(q, tight.copy(adaptiveFilterThreshold = 10L),
      filter = dense).select("doc_id").collect().map(_.getLong(0)).toSeq
    val probeBaseline = snap.search(q, tight, filter = dense)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(probePosture === probeBaseline)
    // ...and under a large threshold the exact branch equals the
    // exhaustive probe on the same dense filter
    val exhaustive = snap.search(q, SearchParams(topK = 5,
        numExploredCentroids = Some(Int.MaxValue), centroidDistanceRatio = 1e18),
      filter = dense).select("doc_id").collect().map(_.getLong(0)).toSeq
    val bruteAll = snap.search(q, tight.copy(topK = 5, adaptiveFilterThreshold = 100000L),
      filter = dense).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(bruteAll === exhaustive)
  }

  test("centroidIndexType=hnsw: flush persists hnsw.bin; served answers match exact") {
    val baseH = tmpBase()
    val baseE = tmpBase()
    val collH = Collection.create(spark, baseH, config.copy(centroidIndexType = "hnsw"))
    val collE = Collection.create(spark, baseE, config)
    collH.insert(lineRows(400)); collH.flush()
    collE.insert(lineRows(400)); collE.flush()
    // the flush-time graph write (the reference pays the HNSW build once
    // at flush — rs/index/src/hnsw/writer.rs — not on every restart)
    assert(Files.exists(java.nio.file.Paths.get(s"$baseH/c1/segments/seg_1/hnsw.bin")),
      "flush with centroidIndexType=hnsw must persist the centroid graph")
    // a "restart" (fresh served view) loads the persisted graph; with the
    // tiny centroid set every probe is effectively full, so answers match
    // the exact-scan collection
    val q = Array(2.4, 3.4, 4.4, 5.4)
    val fromH = collH.serveUser(0L).search(q, 5, nprobe = 10)
    val fromE = collE.serveUser(0L).search(q, 5, nprobe = 10)
    assert(fromH === fromE)
    assert(fromH.map(_._1) === Seq(4L, 3L, 5L, 2L, 6L))
    // loaded == built (round-14 verdict #2): the flush path streams the
    // centroid table via sorted toLocalIterator instead of collecting it;
    // the persisted graph must be byte-identical to a graph built from a
    // driver-side collect of the same centroids (buildCentroidGraph is
    // deterministic and parallelism-invariant, so bytes pin the whole
    // structure, not just search answers)
    val segCentroids = spark.read.parquet(s"$baseH/c1/segments/seg_1/centroids")
    val collected = segCentroids
      .select(col("centroid_id").cast("long"), col("vector").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val rebuiltPath = Files.createTempDirectory("graft_hnsw_rebuilt")
      .resolve("hnsw.bin").toString
    graft.operators.Hnsw.save(rebuiltPath,
      graft.operators.ServedIvfIndex.buildCentroidGraph(
        collected.map(_._1), collected.map(_._2)))
    val flushedBytes = Files.readAllBytes(
      java.nio.file.Paths.get(s"$baseH/c1/segments/seg_1/hnsw.bin"))
    val rebuiltBytes = Files.readAllBytes(java.nio.file.Paths.get(rebuiltPath))
    assert(java.util.Arrays.equals(flushedBytes, rebuiltBytes),
      "streamed flush-time centroid load diverged from the collect build")
    // and the streamed loader itself returns the collect's exact content
    val (sIds, sVecs) = graft.operators.ServedIvfIndex.loadCentroidsStreamed(segCentroids)
    assert(sIds.toSeq === collected.map(_._1).toSeq)
    assert(sVecs.map(_.toSeq).toSeq === collected.map(_._2.toSeq).toSeq)
  }

  test("served term + hybrid queries match the distributed snapshot path") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(200))
    coll.flush()
    // unflushed tail with matching and non-matching docs (read-your-writes)
    coll.insert(Seq(
      (0L, 500L, Seq(2.0, 3.0, 4.0, 5.0), "running in the tail"),
      (0L, 501L, Seq(9.0, 9.0, 9.0, 9.0), "nothing to see"))
      .toDF("user_id", "doc_id", "vector", "content"))
    // a deleted flushed match must stay hidden on both paths
    coll.delete(Seq((0L, 2L)).toDF("user_id", "doc_id"))
    val snap = coll.snapshot()
    val served = coll.serveUser(0L)
    val termFilters = Seq(
      DocFilter.Contains("content", "running"),
      DocFilter.And(Seq(
        DocFilter.Contains("content", "running"),
        DocFilter.NotContains("content", "connections"))),
      DocFilter.Or(Seq(
        DocFilter.Contains("content", "tail"),
        DocFilter.Contains("content", "gear"))),
      DocFilter.Ids(Seq(2L, 3L, 4L))) // point ids; never matches the tail
    for (f <- termFilters) {
      val dist = snap.termSearch(f, limit = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val srv = served.termSearch(f, limit = 10).map(_.asInstanceOf[Long])
      assert(srv === dist, s"term parity for $f")
    }
    // hybrid: full-probe SPANN is exact, so doc ids AND scores must match
    val q = Array(2.4, 3.4, 4.4, 5.4)
    for (f <- Seq(
        DocFilter.Contains("content", "running"),
        DocFilter.NotContains("content", "number"))) {
      val dist = snap.search(q.toSeq, SearchParams(topK = 5,
          numExploredCentroids = Some(Int.MaxValue), centroidDistanceRatio = 1e18),
          userIds = Seq(0L), filter = Some(f))
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
      val srv = served.search(q, k = 5, nprobe = Int.MaxValue, filter = Some(f))
        .map { case (id, s) => (id.asInstanceOf[Long], math.round(s * 1e6)) }
      assert(srv === dist, s"hybrid parity for $f")
    }
  }

  test("delete excludes docs; vacuum rewrites; merge compacts two segments") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(500))
    coll.flush()
    coll.insert((500 until 1000).map { i =>
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble), s"doc $i")
    }.toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    assert(coll.toc.segments.size === 2)
    assert(coll.toc.version === 2L)

    // delete doc 4 -> golden query returns [3,5]
    coll.delete(Seq((0L, 4L)).toDF("user_id", "doc_id"))
    def top2 = coll.snapshot().search(Seq(2.4, 3.4, 4.4, 5.4),
      SearchParams(topK = 2, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top2 === Seq(3L, 5L))

    // merge: one segment, same answers, version bumped
    assert(coll.merge().isDefined)
    assert(coll.toc.segments.size === 1)
    assert(top2 === Seq(3L, 5L))
    // term index rebuilt with remapped point ids (J3): hybrid text search
    // still resolves to the right docs after the merge
    val ts = coll.snapshot()
      .termSearch(DocFilter.Contains("content", "running"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(1L, 2L))
    // cross-segment search result count preserved after merge
    val all = coll.snapshot().search(Seq(700.0, 700.0, 700.0, 700.0),
      SearchParams(topK = 3, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(all === Seq(700L, 699L, 701L))
  }

  test("size-tiered merge: smallest segments only, logically silent, time-travel safe") {
    val base = tmpBase()
    val cfg = CollectionConfig(name = "tiered", numFeatures = 4,
      initialNumCentroids = 4, maxNumberOfSegments = 2)
    val coll = Collection.create(spark, base, cfg)
    def batch(from: Int, until: Int) = (from until until).map { i =>
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble))
    }.toDF("user_id", "doc_id", "vector")
    coll.insert(batch(0, 200)); coll.flush()    // v1: seg_1 (200 rows, biggest)
    coll.insert(batch(200, 230)); coll.flush()  // v2: seg_2 (30)
    coll.insert(batch(230, 240)); coll.flush()  // v3: seg_3 (10)
    val preVersion = coll.toc.version
    def allDocs = coll.snapshot().search(Seq(-1.0, -1.0, -1.0, -1.0),
      SearchParams(topK = 500, numExploredCentroids = Some(Int.MaxValue),
        centroidDistanceRatio = 1e18))
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(allDocs === (0L until 240L))
    // policy tick: 3 segments > max 2 -> tier the TWO smallest together;
    // the 200-row segment must pass through physically untouched
    assert(coll.maybeCompact().exists(_.startsWith("merged")))
    val t = coll.toc
    assert(t.segments.size === 2)
    assert(t.segments.contains("seg_1"), s"big segment rewritten: ${t.segments}")
    assert(t.segments.exists(_.startsWith("tiered_")))
    assert(allDocs === (0L until 240L)) // logically silent
    // CDC across the tiered merge: zero change rows
    assert(coll.changes(preVersion, coll.toc.version).count() === 0L)
    // time travel: v2 still reads its own (pre-merge) segment list
    val v2docs = coll.snapshotAt(2L).liveDocs.get
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(v2docs === (0L until 230L))
  }

  test("delete of a tail-only doc survives the bloom short-circuit") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(100))
    coll.flush() // a segment (and its bloom) now exists
    // doc 9999 lives only in the unflushed tail
    coll.insert(Seq((0L, 9999L, Seq(9999.0, 9999.0, 9999.0, 9999.0), "tail doc"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.delete(Seq((0L, 9999L)).toDF("user_id", "doc_id"))
    // deleted before flush: must not resurface after the flush
    coll.flush()
    val got = coll.snapshot().search(Seq(9999.0, 9999.0, 9999.0, 9999.0),
      SearchParams(topK = 1, numExploredCentroids = Some(20)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(!got.contains(9999L), s"tail-only delete dropped; got $got")
  }

  test("termSearch hides tombstoned docs in the unflushed tail") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(50))
    coll.flush()
    coll.insert(Seq((0L, 777L, Seq(1.0, 1.0, 1.0, 1.0), "unique zebra phrase"))
      .toDF("user_id", "doc_id", "vector", "content"))
    // visible pre-delete via the tail scan
    val before = coll.snapshot().termSearch(DocFilter.Contains("content", "zebra"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(before === Seq(777L))
    coll.delete(Seq((0L, 777L)).toDF("user_id", "doc_id"))
    val after = coll.snapshot().termSearch(DocFilter.Contains("content", "zebra"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(after.isEmpty, s"tombstoned tail doc leaked through termSearch: $after")
  }

  test("Ids filter never matches the unflushed tail (ids exist post-flush)") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(10))
    coll.flush()
    // tail doc very close to the query; an Ids filter must still exclude it
    coll.insert(Seq((0L, 500L, Seq(4.0, 4.0, 4.0, 4.0), "tail doc"))
      .toDF("user_id", "doc_id", "vector", "content"))
    // query offset from any centroid: min cdist > 0 so ratio 1e9 probes all
    val got = coll.snapshot().search(Seq(4.1, 4.1, 4.1, 4.1),
      SearchParams(topK = 5, numExploredCentroids = Some(20), centroidDistanceRatio = 1e9),
      filter = Some(DocFilter.Ids(Seq(3L, 5L)))) // point ids of docs 2 and 4
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(4L, 2L)) // id-matched flushed docs only, no tail rows
  }

  test("PQ-quantized collection: ADC + exact re-rank returns the golden neighbors") {
    CollectionSpec.assertQuantizedGolden(spark, tmpBase(),
      config.copy(name = "cpq", quantizer = "pq", pqSubvectors = 2, pqBits = 6),
      lineRows(1000), "pq_codes")
  }

  test("OPQ-quantized collection: rotated ADC + exact re-rank returns the golden neighbors") {
    CollectionSpec.assertQuantizedGolden(spark, tmpBase(),
      config.copy(name = "copq", quantizer = "opq", pqSubvectors = 2, pqBits = 6),
      lineRows(1000), "opq_codes")
  }

  test("SQ8-quantized collection: byte-code estimate + exact re-rank returns the golden neighbors") {
    CollectionSpec.assertQuantizedGolden(spark, tmpBase(),
      config.copy(name = "csq", quantizer = "sq8"), lineRows(1000), "sq_codes")
  }

  test("null keyword value: NotContains keeps it, BM25 agrees on every path") {
    val kwConfig = config.copy(name = "ckw",
      attributeSchema = config.attributeSchema :+ AttrField("kind", "keyword", "none"))
    val coll = Collection.create(spark, tmpBase(), kwConfig)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 1.0, 1.0, 1.0), "first", Option("note")),
      (0L, 2L, Seq(2.0, 2.0, 2.0, 2.0), "second", Option("task")),
      (0L, 3L, Seq(3.0, 3.0, 3.0, 3.0), "third", None),
      (0L, 4L, Seq(4.0, 4.0, 4.0, 4.0), "fourth", Option("note")))
      .toDF("user_id", "doc_id", "vector", "content", "kind"))
    def notNote(): Seq[Long] = coll.snapshot()
      .termSearch(DocFilter.NotContains("kind", "note", keyword = true), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    def ranked(): Seq[(Long, Double)] = coll.snapshot().rankedSearch("kind", "note", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    def servedRanked(): Seq[(Long, Double)] = coll.serveUser(0L).rankedSearch("kind", "note", 10)
      .map { case (id, sc, _) => (id.asInstanceOf[Long], sc) }
    // the null-kind doc 3 has no "note" token, so NotContains keeps it
    assert(notNote() === Seq(2L, 3L), "tail NotContains")
    val tailRanked = ranked()
    assert(tailRanked.map(_._1) === Seq(1L, 4L))
    assert(servedRanked() === tailRanked, "served == Spark BM25 over the tail")
    coll.flush()
    assert(notNote() === Seq(2L, 3L), "flushed NotContains")
    // dl 0 for the null value on every path: the scores survive the flush
    assert(ranked() === tailRanked, "Spark BM25 before == after flush")
    assert(servedRanked() === tailRanked, "served == Spark BM25 over the segment")
  }

  test("CONFIG: truncated file fails loudly; legacy headerless file opens via defaults") {
    val base = tmpBase()
    Collection.create(spark, base, config.copy(name = "cfg", quantizer = "sq8"))
    val p = java.nio.file.Paths.get(base, "cfg", "CONFIG")
    val full = java.nio.file.Files.readString(p)
    assert(full.startsWith("v=2\n") && full.contains("end=1"))
    // round-trip intact
    assert(Collection.openPersisted(spark, base, "cfg").config.quantizer === "sq8")
    // a truncated v=2 file (crash/disk-full during an external copy) must
    // NOT silently open with defaulted quantizer/buckets
    java.nio.file.Files.writeString(p,
      full.linesIterator.toSeq.dropRight(3).mkString("\n") + "\n")
    val e = intercept[RuntimeException](Collection.openPersisted(spark, base, "cfg"))
    assert(e.getMessage.contains("truncated"))
    // a legacy headerless file (no v, no end) stays readable via defaults
    java.nio.file.Files.writeString(p, "name=cfg\nnumFeatures=4\n")
    val legacy = Collection.openPersisted(spark, base, "cfg").config
    assert(legacy.name === "cfg" && legacy.quantizer === "noq")
  }

  test("facetCounts: filtered aggregation over live docs across flush/delete/re-insert") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    def rows(ids: Seq[Int], source: Int => String) = ids.map { i =>
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble),
        s"searchable document $i", source(i))
    }.toDF("user_id", "doc_id", "vector", "content", "source")
    coll.insert(rows(0 until 12, i => s"src${i % 3}"))
    coll.flush()
    def facets() = coll.snapshot()
      .facetCounts(DocFilter.Contains("content", "searchable"), "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(facets() === Seq("src0" -> 4L, "src1" -> 4L, "src2" -> 4L))
    // tombstoned docs leave their bucket
    coll.delete(Seq((0L, 0L), (0L, 3L)).toDF("user_id", "doc_id"))
    assert(facets() === Seq("src1" -> 4L, "src2" -> 4L, "src0" -> 2L))
    // a re-insert in the TAIL with a changed attribute moves buckets
    // (newest live row supplies the facet value)
    coll.insert(Seq((0L, 1L, Seq(1.0, 1.0, 1.0, 1.0), "searchable document 1", "src2"))
      .toDF("user_id", "doc_id", "vector", "content", "source"))
    assert(facets() === Seq("src2" -> 5L, "src1" -> 3L, "src0" -> 2L))
    // non-matching filter -> no buckets; top-k bounds the output
    assert(coll.snapshot()
      .facetCounts(DocFilter.Contains("content", "absent"), "source")
      .collect().isEmpty)
    assert(coll.snapshot()
      .facetCounts(DocFilter.Contains("content", "searchable"), "source", k = 1)
      .collect().map(_.getString(0)).toSeq === Seq("src2"))
    // NEWEST-WINS (round-14 advice): a doc re-inserted WITHOUT a delete
    // whose newest version no longer matches the filter must leave the
    // counts — the superseded row still matches the term, but aggregation
    // follows the ONE live row that CDC/facet value reads report
    coll.insert(Seq((0L, 4L, Seq(4.0, 4.0, 4.0, 4.0), "retracted document 4", "src1"))
      .toDF("user_id", "doc_id", "vector", "content", "source"))
    assert(facets() === Seq("src2" -> 5L, "src0" -> 2L, "src1" -> 2L))
    // ...while the MEMBERSHIP surface still returns the doc through its
    // surviving older version (any-live-version, the reference's
    // term-index semantics — documented on termSearch)
    assert(coll.snapshot()
      .termSearch(DocFilter.Contains("content", "searchable"), 100)
      .collect().map(_.getAs[Long]("doc_id")).contains(4L))
  }

  test("termStats: prefix-filtered dictionary over live docs, flushed + tail, deletes drop counts") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 1.0, 1.0, 1.0), "merge join planner"),
      (0L, 2L, Seq(2.0, 2.0, 2.0, 2.0), "merge sort runner"),
      (0L, 3L, Seq(3.0, 3.0, 3.0, 3.0), "hash join planner"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    // a tail doc contributes too (read-your-writes)
    coll.insert(Seq((0L, 4L, Seq(4.0, 4.0, 4.0, 4.0), "merge everything"))
      .toDF("user_id", "doc_id", "vector", "content"))
    def stats(prefix: String) = coll.snapshot().termStats(prefix, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // analyzed terms are STEMS: "merge" indexes as content:merg
    assert(stats("content:merg") === Seq("content:merg" -> 3L))
    // ties break term-asc; the analyzed terms carry the field prefix
    assert(stats("content:p") === Seq("content:planner" -> 2L))
    val all = stats("")
    assert(all.head === ("content:merg" -> 3L))
    assert(all.contains("content:join" -> 2L))
    // a delete drops its doc from every term count (flushed AND the k cap)
    coll.delete(Seq((0L, 1L)).toDF("user_id", "doc_id"))
    assert(stats("content:merg") === Seq("content:merg" -> 2L))
    assert(stats("content:p") === Seq("content:planner" -> 1L))
    // top-k bound
    assert(coll.snapshot().termStats("", k = 1).collect().length === 1)
    // NEWEST-WINS (round-14 advice): a re-insert (no delete) replacing
    // doc 2's content — terms carried only by the superseded version
    // leave the dictionary, the replacement's terms count once
    coll.insert(Seq((0L, 2L, Seq(2.0, 2.0, 2.0, 2.0), "hash everything"))
      .toDF("user_id", "doc_id", "vector", "content"))
    assert(stats("content:merg") === Seq("content:merg" -> 1L)) // doc 4 only
    assert(stats("content:sort") === Seq.empty) // superseded-only term gone
    assert(stats("content:hash") === Seq("content:hash" -> 2L)) // docs 2 + 3
    // "did you mean" over the same live dictionary: the typo 'hish' is 1
    // edit from 'hash' (2 live docs, newest-wins counts — doc 1's delete
    // and doc 2's re-insert both already reflected); exact inputs rank
    // themselves at distance 0; a gibberish input suggests nothing
    def sug(in: String, maxDist: Int) = coll.snapshot()
      .suggest("content", in, k = 5, maxDist = maxDist)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sug("hish", 1) === Seq(("content:hash", 1L, 2L)))
    assert(sug("hash", 1).head === (("content:hash", 0L, 2L)))
    // ranking: distance first, then doc frequency — 'jion' is 2 edits
    // from 'join' (no transposition op in plain Levenshtein)
    assert(sug("jion", 2) === Seq(("content:join", 2L, 1L)))
    assert(sug("zzzzzz", 2) === Seq.empty)
  }

  test("re-insert after delete revives the doc (sequenced tombstones)") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(50))
    coll.flush()
    // delete doc 4, then re-insert it in a LATER batch: the reference
    // replays WAL ops in seq_no order, so the later insert wins
    coll.delete(Seq((0L, 4L)).toDF("user_id", "doc_id"))
    coll.insert(Seq((0L, 4L, Seq(4.0, 4.0, 4.0, 4.0), "revived zebra document"))
      .toDF("user_id", "doc_id", "vector", "content"))
    def top1 = coll.snapshot().search(Seq(4.0, 4.0, 4.0, 4.0),
      SearchParams(topK = 1, numExploredCentroids = Some(20), centroidDistanceRatio = 1e9))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top1 === Seq(4L), "revived doc must be visible from the tail")
    // the revival survives the flush (src_batch rides into the segment)
    coll.flush()
    assert(top1 === Seq(4L), "revived doc must stay visible after flush")
    // term path sees the revived doc's new content, not the tombstone
    val ts = coll.snapshot().termSearch(DocFilter.Contains("content", "zebra"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(4L))
    // served view parity: the revived doc is served too
    val served = coll.serveUser(0L).search(Array(4.0, 4.0, 4.0, 4.0), k = 1, nprobe = 50)
    assert(served.map(_._1) === Seq(4L))
    // and merge keeps the revived row while dropping the tombstoned one
    coll.insert((1000 until 1050).map { i => // second segment so merge() has work
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble), s"doc $i")
    }.toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    assert(coll.merge().isDefined)
    assert(top1 === Seq(4L), "revived doc must survive merge")
  }

  test("TOC versions are monotone and atomic") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    assert(coll.toc.version === 0L)
    coll.insert(lineRows(50))
    coll.flush()
    val t = Toc.read(coll.path)
    assert(t.version === 1L && t.segments === Seq("seg_1") && t.lastFlushedBatch === 0L)
  }

  test("TOC commit is CREATE_NEW: a version collision fails loudly, winner intact") {
    // round-15 verdict #2 (the CdcMirror lesson applied to the core):
    // under REPLACE_EXISTING two writers that both read version N would
    // both commit version_{N+1} and the loser's segments silently
    // vanished from history — now the second committer throws and the
    // first committer's manifest is untouched.
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    Toc.write(coll.path, Toc(1L, Seq("seg_winner"), 0L))
    val e = intercept[IllegalStateException] {
      Toc.write(coll.path, Toc(1L, Seq("seg_loser"), 0L))
    }
    assert(e.getMessage.contains("already committed") &&
      e.getMessage.contains("single-writer"))
    assert(Toc.readVersion(coll.path, 1L).get.segments === Seq("seg_winner"))
    // no tmp litter from the failed commit
    val litter = Files.list(java.nio.file.Paths.get(coll.path, "toc"))
      .filter(p => p.getFileName.toString.startsWith(".tmp")).count()
    assert(litter === 0L)
  }

  test("two concurrent flushes: at most one wins per version, loser fails loudly, no silent loss") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(200))
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Option[String]]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        try outcomes.add(Right(coll.flush()))
        catch { case e: Throwable => outcomes.add(Left(e)) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val (losers, winners) = outcomes.asScala.toSeq.partition(_.isLeft)
    // both flushed the SAME pending batches, so any interleaving is
    // data-safe; the single-writer contract just requires that a racing
    // writer fails LOUDLY (at the lease, or at the TOC commit CAS if the
    // overlap slipped past it) instead of silently replacing the winner
    assert(winners.nonEmpty, s"no flush succeeded: $losers")
    losers.foreach { case Left(e) =>
      val chain = (e +: Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq)
        .map(t => String.valueOf(t.getMessage))
      assert(chain.exists(m =>
        m.contains("single-writer") || m.contains("already committed")),
        s"loser must cite the lease or TOC collision, got: $e")
      case _ => ()
    }
    // every committed TOC version's segments exist on disk (no dangling
    // manifest), and the newest one answers queries
    for (v <- Toc.versions(coll.path); s <- Toc.readVersion(coll.path, v).get.segments)
      assert(Files.exists(java.nio.file.Paths.get(coll.path, "segments", s)),
        s"version $v lists missing segment $s")
    val got = coll.snapshot().search(Seq(2.0, 2.0, 2.0, 2.0),
      SearchParams(topK = 1, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L))
  }

  test("segment metadata costs no Spark job: plans build job-free, serveUser is bounded") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(200))
    coll.flush()
    def plans(): Unit = {
      val snap = coll.snapshot()
      snap.search(Seq(2.4, 3.4, 4.4, 5.4),
        SearchParams(topK = 5, numExploredCentroids = Some(2)), userIds = Seq(0L))
      snap.rankedSearch("content", "running", 5, userIds = Seq(0L))
    }
    plans() // the first read of each segment table infers its schema, once
    val snap = coll.snapshot()
    val (_, searchJobs) = jobsDuring(snap.search(Seq(2.4, 3.4, 4.4, 5.4),
      SearchParams(topK = 5, numExploredCentroids = Some(2)), userIds = Seq(0L)))
    assert(searchJobs === 0L, "building a Snapshot.search plan ran Spark jobs")
    val (_, rankedJobs) = jobsDuring(snap.rankedSearch("content", "running", 5,
      userIds = Seq(0L)))
    assert(rankedJobs === 0L, "building a Snapshot.rankedSearch plan ran Spark jobs")
    // one segment, no tail, no tombstones: one collect each of the user's
    // rows, centroids, postings, terms and lens
    coll.serveUser(0L)
    val (view, serveJobs) = jobsDuring(coll.serveUser(0L))
    assert(serveJobs <= 5L, s"serveUser ran $serveJobs Spark jobs")
    assert(view.search(Array(2.4, 3.4, 4.4, 5.4), k = 2, nprobe = 10).map(_._1) ===
      Seq(4L, 3L))
    // one unflushed batch: the tail is served as one more segment, built
    // from the one collect of its rows (postings included) — the five
    // collects above plus that one, as when the tail was served raw
    coll.insert(Seq((0L, 1000L, Seq(-5.0, -5.0, -5.0, -5.0), "tail doc running"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.serveUser(0L)
    val (tailView, tailJobs) = jobsDuring(coll.serveUser(0L))
    assert(tailJobs <= 6L, s"serveUser with a tail ran $tailJobs Spark jobs")
    assert(tailView.search(Array(-5.0, -5.0, -5.0, -5.0), k = 1, nprobe = 10)
      .map(_._1) === Seq(1000L))
    assert(tailView.termSearch(DocFilter.Contains("content", "running"), 10) ===
      Seq(1L, 2L, 1000L))
  }

  test("segment relation cache: expiry drops dead segments; reopen answers identically") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(100))
    coll.flush()
    coll.insert((100 until 150).map { i =>
      (0L, i.toLong, Seq(i.toDouble, i.toDouble, i.toDouble, i.toDouble), s"doc $i running")
    }.toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    coll.delete(Seq((0L, 3L)).toDF("user_id", "doc_id"))
    def answers(c: Collection) = {
      val snap = c.snapshot()
      (snap.search(Seq(2.4, 3.4, 4.4, 5.4),
        SearchParams(topK = 4, numExploredCentroids = Some(10)), userIds = Seq(0L))
        .select("doc_id", "score").collect().toSeq,
        snap.rankedSearch("content", "running", 5, userIds = Seq(0L)).collect().toSeq,
        snap.termSearch(DocFilter.Contains("content", "running"), limit = 10)
          .select("doc_id").collect().toSeq)
    }
    val before = answers(coll)
    assert(coll.cachedSegments === coll.toc.segments.toSet)
    // every build-time fact is read into the segment's record
    val Seq(first, second) = coll.toc.segments.map(coll.segment)
    assert((first.rows, second.rows) === (Some(100L), Some(50L)))
    assert(first.uniqueKeys && second.uniqueKeys && first.hasLens)
    assert(second.disjointFrom === Set(coll.toc.segments.head))
    assert(second.tombInertUpTo.isDefined)
    val flushed = coll.toc.segments.toSet
    assert(coll.merge().isDefined)
    val merged = answers(coll)
    assert(merged === before)
    System.gc() // let dropped snapshots stop pinning their versions
    coll.expireVersions(keep = 1)
    val retained = coll.versions.flatMap(v => Toc.readVersion(coll.path, v).get.segments).toSet
    assert(coll.cachedSegments.subsetOf(retained),
      s"cache holds expired segments: ${coll.cachedSegments -- retained}")
    // the facts live in the record, so an expired segment keeps none
    assert((flushed -- retained).nonEmpty)
    assert((coll.cachedSegments & (flushed -- retained)).isEmpty)
    assert(answers(coll) === before)
    // a fresh instance (cold cache) over the same files answers the same
    val reopened = Collection.openPersisted(spark, base, config.name)
    assert(answers(reopened) === before)
    assert(reopened.serveUser(0L).search(Array(2.4, 3.4, 4.4, 5.4), k = 4, nprobe = 10) ===
      coll.serveUser(0L).search(Array(2.4, 3.4, 4.4, 5.4), k = 4, nprobe = 10))
  }

  test("segment relation cache: a rebuild under a failed attempt's name reads the new files") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(10))
    coll.flush()
    // a failed first build of the next segment left its vectors and facts
    // behind, and reads cached them
    val seg = s"seg_${coll.toc.version + 1}"
    val dir = s"${coll.path}/segments/$seg"
    lineRows(7).withColumn("point_id", lit(1)).withColumn("user_bucket", lit(0))
      .write.partitionBy("user_bucket").parquet(s"$dir/vectors")
    Files.writeString(java.nio.file.Paths.get(dir, "meta.json"),
      """{"rows": 7, "uniqueKeys": false}""")
    Files.writeString(java.nio.file.Paths.get(dir, "disjoint.json"), """{"disjointFrom": []}""")
    val stale = coll.segment(seg)
    assert(stale.vectors.count() === 7L)
    assert((stale.rows, stale.uniqueKeys, stale.disjointFrom) === (Some(7L), false, Set.empty))
    coll.insert(lineRows(60).filter(col("doc_id") >= 10))
    assert(coll.flush() === Some(seg))
    val rebuilt = coll.segment(seg)
    assert(rebuilt.vectors.count() === 50L)
    assert((rebuilt.rows, rebuilt.uniqueKeys, rebuilt.disjointFrom) ===
      (Some(50L), true, Set(coll.toc.segments.head)))
    assert(coll.snapshot().search(Seq(40.0, 40.0, 40.0, 40.0),
      SearchParams(topK = 2, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(40L, 39L))
  }

  private val nearFour = Seq(4.0, 4.0, 4.0, 4.0)
  // every centroid probed, no ratio prune: exact answers on both paths
  private def sparkIds(coll: Collection): Seq[Long] =
    coll.snapshot().search(nearFour, SearchParams(topK = 4, numExploredCentroids = Some(10),
      centroidDistanceRatio = 1e18), userIds = Seq(0L))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
  private def servedIds(coll: Collection): Seq[Long] =
    coll.serveUser(0L).search(nearFour.toArray, k = 4, nprobe = 10).map(_._1.asInstanceOf[Long])

  test("WAL relation cache: a delete after a tombstone read is hidden on both paths") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(50))
    coll.flush()
    coll.delete(Seq((0L, 3L)).toDF("user_id", "doc_id"))
    // both paths read (and cache) the tombstone relation
    assert(sparkIds(coll) === Seq(4L, 5L, 2L, 6L))
    assert(servedIds(coll) === Seq(4L, 5L, 2L, 6L))
    coll.delete(Seq((0L, 4L)).toDF("user_id", "doc_id"))
    assert(sparkIds(coll) === Seq(5L, 2L, 6L, 1L))
    assert(servedIds(coll) === Seq(5L, 2L, 6L, 1L))
  }

  test("WAL relation cache: a streaming epoch retry that overwrites its batch is seen") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    val b = coll.nextStreamingBase()
    coll.insertAt(b, lineRows(5))
    assert(coll.snapshot().liveDocs.get.count() === 5L)
    coll.insertAt(b, lineRows(8)) // the retried epoch rewrites batch=<b>
    assert(coll.snapshot().liveDocs.get.count() === 8L)
    assert(sparkIds(coll) === Seq(4L, 3L, 5L, 2L))
  }

  test("legacy vectors table without src_batch: reads Long.MinValue, tombstones hide its rows") {
    val base = tmpBase()
    val coll = Collection.create(spark, base, config)
    coll.insert(lineRows(20))
    val seg = coll.flush().get
    // surgery: rewrite the segment's vectors WITHOUT src_batch (the
    // on-disk format before the column existed); segments are immutable
    // in production — this simulates data written by an older release
    val vecDir = s"${coll.path}/segments/$seg/vectors"
    val tmp = Files.createTempDirectory("graft_legacy_vectors").toString
    spark.read.parquet(vecDir).drop("src_batch")
      .write.mode("overwrite").partitionBy("user_bucket").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(vecDir))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(tmp), new java.io.File(vecDir))
    val legacy = Collection.openPersisted(spark, base, config.name)
    assert(!spark.read.parquet(vecDir).columns.contains("src_batch"))
    val live = legacy.snapshot().liveDocs.get
    assert(live.count() === 20L)
    assert(live.select("src_batch").distinct().collect().map(_.getLong(0)).toSeq ===
      Seq(Long.MinValue))
    legacy.delete(Seq((0L, 4L)).toDF("user_id", "doc_id"))
    assert(legacy.snapshot().liveDocs.get.count() === 19L)
    assert(sparkIds(legacy) === Seq(3L, 5L, 2L, 6L))
    assert(servedIds(legacy) === Seq(3L, 5L, 2L, 6L))
  }

  test("driver-written WAL batch equals the Spark writer's: schema, rows, flushed segment, answers") {
    val rows = lineRows(60)
    val viaSpark = rows.coalesce(1) // same rows and order, not a LocalRelation
    assert(!viaSpark.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val a = Collection.create(spark, tmpBase(), config)
    val b = Collection.create(spark, tmpBase(), config)
    a.insert(lineRows(1)) // the first write builds the writer's conf
    val (posA, jobs) = jobsDuring(a.insert(rows))
    assert(jobs === 0L, "a LocalRelation insert ran Spark jobs")
    b.insert(lineRows(1))
    val posB = b.insert(viaSpark)
    assert(posA === posB)
    val batchA = spark.read.parquet(s"${a.path}/ops/batch=$posA")
    val batchB = spark.read.parquet(s"${b.path}/ops/batch=$posB")
    assert(batchA.schema === batchB.schema)
    assert(batchA.except(batchB).isEmpty && batchB.except(batchA).isEmpty)
    val seg = a.flush().get
    assert(b.flush().contains(seg))
    for (t <- Seq("vectors", "terms", "centroids", "postings", "lens")) {
      val (ta, tb) = (spark.read.parquet(a.segment(seg).file(t)), spark.read.parquet(b.segment(seg).file(t)))
      assert(ta.schema === tb.schema, t)
      assert(ta.except(tb).isEmpty && tb.except(ta).isEmpty, s"$t tables differ")
    }
    assert(sparkIds(a) === sparkIds(b))
    assert(servedIds(a) === servedIds(b))
    assert(a.snapshot().rankedSearch("content", "running", 5).collect().toSeq ===
      b.snapshot().rankedSearch("content", "running", 5).collect().toSeq)
  }

  test("a new WAL batch or tombstone part costs no schema-inference job") {
    val coll = Collection.create(spark, tmpBase(), config)
    coll.insert(lineRows(20))
    coll.flush()
    coll.insert(lineRows(25).filter(col("doc_id") >= 20).repartition(2)) // Spark writer
    val (_, insertJobs) = jobsDuring(coll.snapshot())
    assert(insertJobs === 0L, "reading a new batch inferred its schema")
    coll.delete(Seq((0L, 3L), (0L, 22L)).toDF("user_id", "doc_id"))
    coll.delete(Seq((0L, 4L)).toDF("user_id", "doc_id").repartition(1)) // Spark writer
    val (_, deleteJobs) = jobsDuring(coll.snapshot())
    assert(deleteJobs === 0L, "reading new tombstone parts inferred their schema")
    assert(coll.tombstones.get.schema === spark.read.parquet(s"${coll.path}/tombstones")
      .withColumn("tomb_batch", coalesce(col("tomb_batch"), lit(Long.MaxValue))).schema)
    assert(coll.snapshot().liveDocs.get.count() === 22L)
  }

  test("a leftover staging dir is invisible to the tail, flush, the WAL clock and stateFingerprint") {
    val coll = Collection.create(spark, tmpBase(), config)
    coll.insert(lineRows(10))
    val fp = coll.stateFingerprint()
    val next = coll.nextBatchId()
    // writers that died after staging a batch and a delete marker, before
    // claiming a position
    lineRows(20).write.mode("overwrite").parquet(coll.stagingDir().toString)
    Files.writeString(coll.stagingDir().resolve("_TOMB"), "")
    assert(coll.stateFingerprint() === fp)
    assert(coll.nextBatchId() === next)
    assert(coll.snapshot().liveDocs.get.count() === 10L)
    val seg = coll.flush().get
    assert(coll.segment(seg).rows === Some(10L))
    assert(coll.toc.lastFlushedBatch === next - 2)
    assert(coll.nextBatchId() === next)
    assert(coll.insert(lineRows(3)) === next)
  }

  test("concurrent inserts and deletes claim distinct WAL positions; nothing acked is lost or revived") {
    // 4 writers, one user each: insert doc i, delete doc i - 2 after every
    // third insert, re-insert doc 0 last. Within a writer the ops are
    // sequential, so its newest-wins state is known; across writers the
    // position claims race.
    val coll = Collection.create(spark, tmpBase(), config.copy(name = "race", maxNumberOfSegments = 1))
    val writers = 4
    val claimed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def doc(u: Long, i: Long) = Seq((u, i, Seq.fill(4)(u * 100.0 + i), s"writer $u doc $i"))
      .toDF("user_id", "doc_id", "vector", "content")
    def round(first: Int, until: Int): Map[Long, Set[Long]] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try (0L until writers.toLong).map { u =>
        u -> pool.submit(new java.util.concurrent.Callable[(Set[Long], Set[Long])] {
          def call(): (Set[Long], Set[Long]) = {
            var (ins, del) = (Set.empty[Long], Set.empty[Long])
            for (i <- first.toLong until until.toLong) {
              claimed.add(coll.insert(doc(u, i))); ins += i
              if (i % 3 == 2) {
                claimed.add(coll.delete(Seq((u, i - 2)).toDF("user_id", "doc_id"))); del += i - 2
              }
            }
            (ins, del)
          }
        })
      }.map { case (u, f) => val (ins, del) = f.get(); u -> (ins -- del) }.toMap
      finally pool.shutdown()
    }
    def liveOnSpark(): Map[Long, Set[Long]] = coll.snapshot().liveDocs.get
      .select("user_id", "doc_id").collect().toSeq
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    def liveServed(u: Long): Set[Long] =
      coll.serveUser(u).search(Array.fill(4)(u * 100.0), k = 1000, nprobe = 1000)
        .map(_._1.asInstanceOf[Long]).toSet

    val first = round(0, 9)
    coll.flush()
    val second = round(9, 18)
    val pending = claimed.size
    (0L until writers.toLong).foreach(u => claimed.add(coll.insert(doc(u, 0))))
    val expected = (0L until writers.toLong).map(u =>
      u -> (first(u) ++ second(u) + 0L)).toMap
    assert(claimed.size === pending + writers)
    val positions = claimed.toArray.toSeq
    assert(positions.distinct.size === positions.size,
      s"writers shared WAL positions: ${positions.diff(positions.distinct)}")
    assert(liveOnSpark() === expected)
    (0L until writers.toLong).foreach(u => assert(liveServed(u) === expected(u), s"served user $u"))
    coll.flush()
    assert(coll.maybeCompact().exists(_.startsWith("merged")))
    val merged = coll.toc.segments
    assert(merged.size === 1 && coll.segment(merged.head).tombInertUpTo.isDefined,
      "the merged segment should certify its tombstones inert (the fast path)")
    assert(liveOnSpark() === expected)
    (0L until writers.toLong).foreach(u => assert(liveServed(u) === expected(u), s"served user $u"))
  }
}

object CollectionSpec {
  import org.scalatest.Assertions._

  /** Builds a `kindConfig` collection over `rows` (docs on the line
    * i*(1,1,1,1)), flushes one segment and checks the quantizer seam: the
    * segment carries its model and `codeCol`, the estimate + exact re-rank
    * returns the golden neighbors, a reopened collection loads the same
    * codec and answer, and without its model file the segment answers
    * through plain SPANN. */
  def assertQuantizedGolden(spark: SparkSession, base: String, kindConfig: CollectionConfig,
      rows: DataFrame, codeCol: String): Unit = {
    val kind = kindConfig.quantizer
    val coll = Collection.create(spark, base, kindConfig)
    coll.insert(rows)
    coll.flush()
    // model persisted per segment, codes stored in the vectors table
    assert(coll.codec("seg_1").isDefined, kind)
    assert(spark.read.parquet(s"${coll.path}/segments/seg_1/vectors")
      .columns.contains(codeCol), kind)
    def golden(c: Collection): Seq[Long] = c.snapshot().search(Seq(2.4, 3.4, 4.4, 5.4),
        SearchParams(topK = 2, numExploredCentroids = Some(10)))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(golden(coll) === Seq(4L, 3L), kind) // exact re-rank recovers the golden answer
    // the persisted config reopens to the same codec and answer
    val reopened = Collection.openPersisted(spark, base, kindConfig.name)
    assert(reopened.codec("seg_1").isDefined, kind)
    assert(golden(reopened) === Seq(4L, 3L), kind)
    // a segment without its model file answers through plain SPANN
    Files.delete(java.nio.file.Paths.get(coll.path, "segments", "seg_1",
      graft.operators.Quantizer.codecs(kind).modelFile))
    assert(coll.codec("seg_1").isEmpty, kind)
    assert(golden(coll) === Seq(4L, 3L), kind)
  }
}
