package graft

import java.nio.file.Files
import graft.api._
import graft.core.{AttrField, CollectionConfig}
import graft.functions.PackKernels
import graft.operators.DocFilter

/** The reference's README quick-start scenario through the typed API
  * (FIXTURES.md §1.5): create a 10-dim collection with text attributes,
  * insert doc uuid ...0064 for user ...0000 with vector [100..109],
  * search it back, hybrid-filter it, remove it. */
class ApiSpec extends SparkSuite {

  private def uuid(n: Long): String = f"00000000-0000-0000-0000-$n%012x"

  test("quick-start: create -> insert -> flush -> search -> hybrid -> remove") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api").toString)
    svc.createCollection(CollectionConfig(
      name = "test-collection-2", numFeatures = 10, initialNumCentroids = 4,
      attributeSchema = Seq(
        AttrField("title", "text", "english"),
        AttrField("content", "text", "english"))))

    val docs = (0 until 20).map(i => uuid(100 + i))
    val vectors = (0 until 20).flatMap(i => (0 until 10).map(d => (i * 10 + d + 100).toFloat))
    val n = svc.insert(InsertRequest(
      "test-collection-2",
      docIds = docs,
      userIds = Seq(uuid(0)),
      vectors = vectors,
      attributes = Map(
        "title" -> (0 until 20).map(i => if (i == 0) "Example Document" else s"Title $i"),
        "content" -> (0 until 20).map(i =>
          if (i == 0) "This is an example document for search demonstration"
          else s"plain content number $i"))))
    assert(n === 20L)
    svc.flush("test-collection-2")
    assert(svc.getSegments("test-collection-2") === Seq("seg_1"))

    // nearest to doc 0's vector is doc 0
    val res = svc.search(SearchRequest(
      "test-collection-2", vector = (0 until 10).map(d => (d + 100).toFloat),
      topK = 3, userIds = Seq(uuid(0)), numExploredCentroids = Some(4)))
    assert(res.docIds.head === uuid(100))
    assert(res.scores.head === 0.0)

    // hybrid: only doc 0 contains "example demonstration"
    val hybrid = svc.search(SearchRequest(
      "test-collection-2", vector = (0 until 10).map(d => (d + 150).toFloat),
      topK = 10, userIds = Seq(uuid(0)), numExploredCentroids = Some(4),
      filter = Some(DocFilter.Contains("content", "example demonstration")),
      centroidDistanceRatio = 1e9))
    assert(hybrid.docIds === Seq(uuid(100)))

    // term search
    assert(svc.termSearch("test-collection-2",
      DocFilter.Contains("title", "Example"), limit = 5) === Seq(uuid(100)))

    // served (zero-Spark-jobs) term + hybrid answer the same queries
    val servedView = svc.serveUser("test-collection-2", uuid(0))
    assert(servedView.termSearch(
      DocFilter.Contains("title", "Example"), limit = 5) === Seq(uuid(100)))
    assert(servedView.search((0 until 10).map(d => (d + 150).toFloat),
      topK = 10, nprobe = 4,
      filter = Some(DocFilter.Contains("content", "example demonstration")))
      .docIds === Seq(uuid(100)))

    // remove and verify gone
    svc.remove("test-collection-2", Seq(uuid(0)), Seq(uuid(100)))
    val after = svc.search(SearchRequest(
      "test-collection-2", vector = (0 until 10).map(d => (d + 100).toFloat),
      topK = 3, userIds = Seq(uuid(0)), numExploredCentroids = Some(4)))
    assert(!after.docIds.contains(uuid(100)))
  }

  test("u128 ids: uuids sharing the low 64 bits stay distinct docs, u128-ordered") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api3").toString)
    svc.createCollection(CollectionConfig(
      name = "u128", numFeatures = 4, initialNumCentroids = 2))
    // identical low 64 bits, different high halves (a truncating shim
    // would collapse these into one doc)
    val lowDup = Seq(
      "00000000-0000-0001-dead-beefdeadbeef",
      "00000000-0000-0002-dead-beefdeadbeef")
    svc.insert(InsertRequest("u128",
      docIds = lowDup, userIds = Seq(uuid(0)),
      vectors = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f))) // identical vectors
    svc.flush("u128")
    val res = svc.search(SearchRequest("u128", Seq(1f, 1f, 1f, 1f), topK = 5,
      numExploredCentroids = Some(2), centroidDistanceRatio = 1e9))
    // both retrieved; equal scores tiebreak on the binary id = unsigned
    // u128 order (rs/index/src/utils.rs:95-117)
    assert(res.docIds === lowDup)
    assert(res.scores === Seq(0.0, 0.0))
  }

  test("served per-user search matches the distributed path, zero jobs per query") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api4").toString)
    svc.createCollection(CollectionConfig(
      name = "served", numFeatures = 4, initialNumCentroids = 4))
    val docs = (0 until 50).map(i => uuid(100 + i))
    svc.insert(InsertRequest("served", docIds = docs, userIds = Seq(uuid(0)),
      vectors = (0 until 50).flatMap(i => Seq.fill(4)(i.toFloat))))
    svc.flush("served")
    // unflushed tail row + a tombstone, both visible to the served view
    svc.insert(InsertRequest("served", docIds = Seq(uuid(500)), userIds = Seq(uuid(0)),
      vectors = Seq(7.2f, 7.2f, 7.2f, 7.2f)))
    svc.remove("served", Seq(uuid(0)), Seq(uuid(107)))

    val served = svc.serveUser("served", uuid(0))
    val got = served.search(Seq(7.1f, 7.1f, 7.1f, 7.1f), topK = 4, nprobe = 4)
    val dist = svc.search(SearchRequest("served",
      vector = Seq(7.1f, 7.1f, 7.1f, 7.1f), topK = 4, userIds = Seq(uuid(0)),
      numExploredCentroids = Some(4), centroidDistanceRatio = 1e9))
    assert(got.docIds === dist.docIds)
    got.scores.zip(dist.scores).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
    assert(got.docIds.contains(uuid(500))) // read-your-writes from the tail
    assert(!got.docIds.contains(uuid(107))) // tombstone honored
  }

  test("remove broadcasts each user over ALL doc ids (no zip truncation)") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api5").toString)
    svc.createCollection(CollectionConfig(
      name = "rm", numFeatures = 4, initialNumCentroids = 2))
    val docs = Seq(uuid(300), uuid(301), uuid(302))
    svc.insert(InsertRequest("rm", docIds = docs, userIds = Seq(uuid(1)),
      vectors = (0 until 3).flatMap(i => Seq.fill(4)(i.toFloat))))
    svc.flush("rm")
    // one user, three doc ids: the reference removes all three
    // (rs/index_server/src/index_server.rs:454-510), not just the zipped head
    svc.remove("rm", Seq(uuid(1)), docs)
    val res = svc.search(SearchRequest("rm", Seq(0f, 0f, 0f, 0f), topK = 10,
      userIds = Seq(uuid(1)), numExploredCentroids = Some(2),
      centroidDistanceRatio = 1e9))
    assert(res.docIds.isEmpty, s"expected all docs removed, got ${res.docIds}")
  }

  test("served view: deleted doc in a segment's top-k does not displace live docs") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api6").toString)
    svc.createCollection(CollectionConfig(
      name = "served2", numFeatures = 4, initialNumCentroids = 4))
    val docs = (0 until 10).map(i => uuid(100 + i))
    svc.insert(InsertRequest("served2", docIds = docs, userIds = Seq(uuid(0)),
      vectors = (0 until 10).flatMap(i => Seq.fill(4)(i.toFloat))))
    svc.flush("served2")
    // delete the doc NEAREST the query: if tombstones were filtered after
    // per-segment top-k truncation, the k+1-ranked live doc would go missing
    svc.remove("served2", Seq(uuid(0)), Seq(uuid(100)))
    val q = Seq(0.05f, 0.05f, 0.05f, 0.05f)
    val served = svc.serveUser("served2", uuid(0)).search(q, topK = 3, nprobe = 4)
    val dist = svc.search(SearchRequest("served2", vector = q, topK = 3,
      userIds = Seq(uuid(0)), numExploredCentroids = Some(4),
      centroidDistanceRatio = 1e9))
    assert(dist.docIds === Seq(uuid(101), uuid(102), uuid(103)))
    assert(served.docIds === dist.docIds)
  }

  test("served view cache: reused while state unchanged, rebuilt on write") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api7").toString)
    svc.createCollection(CollectionConfig(
      name = "cache", numFeatures = 4, initialNumCentroids = 2))
    svc.insert(InsertRequest("cache", docIds = Seq(uuid(1), uuid(2)),
      userIds = Seq(uuid(0)), vectors = Seq(1f, 1f, 1f, 1f, 2f, 2f, 2f, 2f)))
    svc.flush("cache")
    val v1 = svc.serveUser("cache", uuid(0))
    assert(svc.serveUser("cache", uuid(0)) eq v1, "unchanged state must reuse the view")
    // an unflushed insert must invalidate (TOC version alone would miss it)
    svc.insert(InsertRequest("cache", docIds = Seq(uuid(3)), userIds = Seq(uuid(0)),
      vectors = Seq(3f, 3f, 3f, 3f)))
    val v2 = svc.serveUser("cache", uuid(0))
    assert(!(v2 eq v1), "unflushed insert must rebuild the served view")
    assert(v2.search(Seq(3f, 3f, 3f, 3f), topK = 1, nprobe = 4).docIds === Seq(uuid(3)))
    // a remove must invalidate too (tombstone file listing in the key)
    svc.remove("cache", Seq(uuid(0)), Seq(uuid(3)))
    val v3 = svc.serveUser("cache", uuid(0))
    assert(!(v3 eq v2), "remove must rebuild the served view")
    assert(!v3.search(Seq(3f, 3f, 3f, 3f), topK = 3, nprobe = 4).docIds.contains(uuid(3)))
  }

  test("insertPacked decodes the little-endian wire format") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api2").toString)
    svc.createCollection(CollectionConfig(
      name = "packed", numFeatures = 4, initialNumCentroids = 2))
    val packed = PackKernels.packF32Le(Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f))
    svc.insertPacked(InsertPackedRequest(
      "packed", docIds = Seq(uuid(1), uuid(2)), userIds = Seq(uuid(0)),
      packedVectors = packed))
    svc.flush("packed")
    val res = svc.search(SearchRequest("packed", Seq(1f, 2f, 3f, 4f), topK = 1,
      numExploredCentroids = Some(2)))
    assert(res.docIds === Seq(uuid(1)))
    assert(res.scores === Seq(0.0))
  }

  private def memories(name: String, ids: Seq[Int]): InsertRequest =
    InsertRequest(name, docIds = ids.map(i => uuid(100 + i)), userIds = Seq(uuid(0)),
      vectors = ids.flatMap(i => Seq.fill(4)(i.toFloat)),
      attributes = Map("content" -> ids.map(i => s"memory number $i"),
        "kind" -> ids.map(i => if (i % 2 == 0) "note" else "task")))

  private def walConfig(name: String) = CollectionConfig(
    name = name, numFeatures = 4, initialNumCentroids = 2,
    attributeSchema = Seq(AttrField("content", "text", "english"), AttrField("kind", "keyword")))

  test("insert writes its WAL part from the driver: no Spark job, rows readable") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api8").toString)
    svc.createCollection(walConfig("ins"))
    svc.insert(memories("ins", 0 until 20)) // first write builds the writer conf
    val (_, jobs) = jobsDuring(svc.insert(memories("ins", 20 until 40)))
    assert(jobs === 0L, s"a 20-memory insert ran $jobs Spark jobs")
    val q = Seq(25.2f, 25.2f, 25.2f, 25.2f)
    val dist = svc.search(SearchRequest("ins", q, topK = 3, userIds = Seq(uuid(0))))
    assert(dist.docIds === Seq(uuid(125), uuid(126), uuid(124)))
    assert(svc.serveUser("ins", uuid(0)).search(q, topK = 3).docIds === dist.docIds)
    assert(svc.termSearch("ins", DocFilter.Contains("kind", "task"), 40).size === 20)
    svc.flush("ins")
    assert(svc.search(SearchRequest("ins", q, topK = 3, userIds = Seq(uuid(0)),
      numExploredCentroids = Some(2), centroidDistanceRatio = 1e9)).docIds === dist.docIds)
  }

  test("remove of one user x 2 docs, one flushed and one in the tail, runs at most one job") {
    val svc = new GraftService(spark, Files.createTempDirectory("graft_api9").toString)
    svc.createCollection(walConfig("rm2"))
    svc.insert(memories("rm2", 0 until 10))
    svc.flush("rm2")
    svc.insert(memories("rm2", 10 until 12))
    val (_, jobs) = jobsDuring(svc.remove("rm2", Seq(uuid(0)), Seq(uuid(103), uuid(111))))
    assert(jobs <= 1L, s"a request-sized remove ran $jobs Spark jobs")
    val all = svc.search(SearchRequest("rm2", Seq(0f, 0f, 0f, 0f), topK = 20,
      userIds = Seq(uuid(0)), numExploredCentroids = Some(2), centroidDistanceRatio = 1e9))
    val live = (0 until 12).filterNot(Set(3, 11)).map(i => uuid(100 + i)).toSet
    assert(all.docIds.toSet === live)
    assert(svc.serveUser("rm2", uuid(0)).search(Seq(0f, 0f, 0f, 0f), topK = 20, nprobe = 2)
      .docIds.toSet === live)
    svc.flush("rm2") // the tail-only delete must hold across the flush
    assert(svc.search(SearchRequest("rm2", Seq(0f, 0f, 0f, 0f), topK = 20,
      userIds = Seq(uuid(0)), numExploredCentroids = Some(2), centroidDistanceRatio = 1e9))
      .docIds.toSet === live)
  }
}
