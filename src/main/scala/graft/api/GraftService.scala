package graft.api

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType, StringType, StructField, StructType}

import graft.core.{Collection, CollectionConfig, Ids}
import graft.functions.PackKernels
import graft.operators.{DocFilter, SearchParams}

/** Typed request/response surface mirroring the reference's gRPC service
  * (rs/proto/proto/muopdb.proto; handlers rs/index_server/src/
  * index_server.rs) so a muopdb client's calls map 1:1:
  * CreateCollection, Insert, InsertPacked, Remove, Flush, Search,
  * TermSearch (via DocFilter), GetSegments, MergeSegments.
  *
  * Ids are uuid strings at this edge (u128 surface, muopdb.proto:72-81);
  * vectors arrive flattened with `numFeatures` stride
  * (muopdb.proto:159-162). The catalog maps collection name ->
  * [[Collection]] (CollectionManager, rs/index_server/src/
  * collection_manager.rs:27-52).
  */
final case class SearchRequest(
    collectionName: String,
    vector: Seq[Float],
    topK: Int = 10,
    userIds: Seq[String] = Nil, // uuids
    filter: Option[DocFilter] = None,
    numExploredCentroids: Option[Int] = None,
    centroidDistanceRatio: Double = 0.1,
    // beyond-proto: resolve nprobe from the collection's persisted
    // calibration curve (SearchParams.targetRecall); explicit
    // numExploredCentroids wins
    targetRecall: Option[Double] = None,
    // opt into a curve that is stale for this search (segment-set drift
    // or k mismatch) — default refuses loudly (round-15 verdict #3)
    acceptStaleCalibration: Boolean = false)

final case class SearchResponse(docIds: Seq[String], scores: Seq[Double])

final case class InsertRequest(
    collectionName: String,
    docIds: Seq[String], // uuids
    userIds: Seq[String], // one per doc, or a single uuid for all
    vectors: Seq[Float], // flattened, stride = numFeatures
    attributes: Map[String, Seq[String]] = Map.empty) // columnar text attrs

final case class InsertPackedRequest(
    collectionName: String,
    docIds: Seq[String],
    userIds: Seq[String],
    packedVectors: Array[Byte]) // little-endian f32s (muopdb.proto:199-213)

class GraftService(spark: SparkSession, val basePath: String) {
  import spark.implicits._

  private val catalog = TrieMap.empty[String, Collection]

  def createCollection(config: CollectionConfig): Unit =
    catalog.put(config.name, Collection.create(spark, basePath, config))

  def collection(name: String): Collection =
    catalog.getOrElseUpdate(name, sys.error(s"unknown collection: $name"))

  /** uuid string -> 16-byte big-endian binary — the full u128 id travels
    * through the engine (no truncation: two uuids sharing low-64 bits stay
    * distinct docs; ordering = unsigned u128, rs/index/src/utils.rs:95-117). */
  private def toBytes(uuid: String): Array[Byte] = {
    val hex = uuid.replace("-", "").toLowerCase
    require(hex.length == 32 && hex.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"bad uuid: $uuid")
    Array.tabulate(16)(i => Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte)
  }

  private def toUuidStr(b: Array[Byte]): String = {
    val h = b.map(x => f"${x & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  def insert(req: InsertRequest): Long = {
    val coll = collection(req.collectionName)
    val d = coll.config.numFeatures
    require(req.vectors.length == req.docIds.length * d,
      s"flattened vector length ${req.vectors.length} != ${req.docIds.length} x $d")
    val users =
      if (req.userIds.length == 1) Seq.fill(req.docIds.length)(req.userIds.head)
      else req.userIds
    val attrs = req.attributes.toSeq
    attrs.foreach { case (field, values) =>
      require(values.length == req.docIds.length, s"attr $field length mismatch")
    }
    // one LocalRelation: the rows stay on the driver, so the collection
    // writes the batch without a Spark job
    val schema = StructType(Seq(
      StructField("user_id", BinaryType),
      StructField("doc_id", BinaryType),
      StructField("vector", ArrayType(DoubleType, containsNull = false))) ++
      attrs.map { case (field, _) => StructField(field, StringType) })
    val rows = req.docIds.indices.map { i =>
      Row.fromSeq(Seq(toBytes(users(i)), toBytes(req.docIds(i)),
        req.vectors.slice(i * d, (i + 1) * d).map(_.toDouble)) ++ attrs.map(_._2(i)))
    }
    coll.insert(spark.createDataFrame(rows.asJava, schema))
    req.docIds.length.toLong
  }

  def insertPacked(req: InsertPackedRequest): Long = {
    val floats = PackKernels.unpackF32Le(req.packedVectors)
    insert(InsertRequest(req.collectionName, req.docIds, req.userIds, floats.toSeq))
  }

  /** Remove every doc_id for every user_id — the reference loops each user
    * over ALL doc ids (rs/index_server/src/index_server.rs:454-510), and
    * this matches insert's 1-user-to-N-docs broadcast convention. */
  def remove(collectionName: String, userIds: Seq[String], docIds: Seq[String]): Unit = {
    // With at most one id on either side the user x doc product is no
    // larger than the request: built on the driver as one LocalRelation,
    // it deletes without a Spark writer job. Otherwise it is a crossJoin
    // of two small frames, so a 10k x 10k request stays 20k rows on the
    // driver instead of 100M tuples. Duplicate ids are dropped up front
    // (Collection.delete also dedups the written tombstones).
    val u = userIds.distinct.map(toBytes)
    val d = docIds.distinct.map(toBytes)
    val pairs =
      if (math.min(u.size, d.size) <= 1)
        spark.createDataFrame(u.flatMap(a => d.map(b => Row(a, b))).asJava,
          StructType(Seq(StructField("user_id", BinaryType), StructField("doc_id", BinaryType))))
      else u.toDF("user_id").crossJoin(d.toDF("doc_id"))
    collection(collectionName).delete(pairs)
  }

  def flush(collectionName: String): Option[String] =
    collection(collectionName).flush()

  def search(req: SearchRequest): SearchResponse = {
    val coll = collection(req.collectionName)
    val params = SearchParams(req.topK, req.numExploredCentroids,
      req.centroidDistanceRatio, targetRecall = req.targetRecall,
      acceptStaleCalibration = req.acceptStaleCalibration)
    val rows = coll.snapshot()
      .search(req.vector.map(_.toDouble), params, req.userIds.map(toBytes), req.filter)
      .select("doc_id", "score").collect()
    SearchResponse(
      rows.map(r => toUuidStr(r.getAs[Array[Byte]](0))).toSeq,
      rows.map(_.getDouble(1)).toSeq)
  }

  def termSearch(collectionName: String, filter: DocFilter, limit: Int,
      userIds: Seq[String] = Nil): Seq[String] =
    collection(collectionName).snapshot()
      .termSearch(filter, limit, userIds.map(toBytes))
      .select("doc_id").collect().map(r => toUuidStr(r.getAs[Array[Byte]](0))).toSeq

  /** Facet counts over a filtered match (beyond the reference's proto —
    * the search-engine aggregation surface). Returns (value, count)
    * pairs, (count desc, value asc), top `k`. NEWEST-WINS: a doc counts
    * iff its newest live version matches (Snapshot.matchedDocs), so
    * counts agree with the facet values themselves. */
  def facetCounts(collectionName: String, filter: DocFilter, field: String,
      k: Int, userIds: Seq[String] = Nil): Seq[(String, Long)] =
    collection(collectionName).snapshot()
      .facetCounts(filter, field, k, userIds.map(toBytes))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Term dictionary with doc frequencies (Lucene terms-enum analogue),
    * prefix-filterable — (term, n_docs), (count desc, term asc), top k.
    * NEWEST-WINS: n_docs counts docs whose newest live version carries
    * the term (termSearch membership stays any-live-version). */
  def termStats(collectionName: String, prefix: String, k: Int,
      userIds: Seq[String] = Nil): Seq[(String, Long)] =
    collection(collectionName).snapshot()
      .termStats(prefix, k, userIds.map(toBytes))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Range facets over a filtered match (beyond-proto — ES range
    * aggregation analogue): half-open [lo, hi) buckets of a numeric
    * attribute, newest-wins doc counts. (bucket_lo, bucket_hi, n_docs). */
  def facetRanges(collectionName: String, filter: DocFilter, field: String,
      buckets: Seq[(Double, Double)], userIds: Seq[String] = Nil)
      : Seq[(Double, Double, Long)] =
    collection(collectionName).snapshot()
      .facetRanges(filter, field, buckets, userIds.map(toBytes))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq

  /** "Did you mean" suggester (beyond-proto): dictionary terms of
    * `field` within `maxDist` edits of the analyzed input, ranked
    * (distance asc, n_docs desc, term asc) — (term, distance, n_docs). */
  def suggest(collectionName: String, field: String, input: String, k: Int,
      maxDist: Int, userIds: Seq[String] = Nil): Seq[(String, Long, Long)] =
    collection(collectionName).snapshot()
      .suggest(field, input, k, maxDist, userIds.map(toBytes))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  /** BM25 ranked retrieval (beyond-proto, round 16): Okapi-scored text
    * search over the persisted term index
    * ([[graft.core.Snapshot.rankedSearch]]) —
    * (doc uuid, score, n_terms_hit), score desc. */
  def rankedSearch(collectionName: String, field: String, query: String,
      k: Int, userIds: Seq[String] = Nil,
      filter: Option[graft.operators.DocFilter] = None)
      : Seq[(String, Double, Long)] =
    collection(collectionName).snapshot()
      .rankedSearch(field, query, k, userIds = userIds.map(toBytes),
        filter = filter)
      .collect().map(r => (toUuidStr(r.get(1).asInstanceOf[Array[Byte]]),
        r.getDouble(2), r.getLong(3))).toSeq

  /** Multi-field boosted ranked retrieval (beyond-proto, round 16; the
    * ES multi_match shape — [[graft.core.Snapshot.rankedSearchFields]]):
    * per-field BM25 with per-field stats, combined as
    * round(Σ boost·score, 4) — (doc uuid, score, n_fields_hit). */
  def rankedSearchFields(collectionName: String,
      fields: Seq[(String, Double)], query: String, k: Int,
      userIds: Seq[String] = Nil,
      filter: Option[graft.operators.DocFilter] = None)
      : Seq[(String, Double, Long)] =
    collection(collectionName).snapshot()
      .rankedSearchFields(fields, query, k, userIds = userIds.map(toBytes),
        filter = filter)
      .collect().map(r => (toUuidStr(r.get(1).asInstanceOf[Array[Byte]]),
        r.getDouble(2), r.getLong(3))).toSeq

  /** Hybrid lexical+vector retrieval (beyond-proto, round 16; the ES
    * kNN+BM25 RRF shape — [[graft.core.Snapshot.hybridSearch]]):
    * reciprocal-rank fusion of the BM25 and ANN top-`window` lists —
    * (doc uuid, rrf_score, n_lists). */
  def hybridSearch(collectionName: String, field: String, query: String,
      vector: Seq[Double], k: Int, window: Int = 50, nprobe: Int = 1,
      centroidDistanceRatio: Double = 0.1,
      userIds: Seq[String] = Nil,
      filter: Option[graft.operators.DocFilter] = None)
      : Seq[(String, Double, Long)] =
    collection(collectionName).snapshot()
      .hybridSearch(field, query, vector, k, window = window,
        params = graft.operators.SearchParams(topK = k,
          numExploredCentroids = Some(nprobe),
          centroidDistanceRatio = centroidDistanceRatio),
        userIds = userIds.map(toBytes), filter = filter)
      .collect().map(r => (toUuidStr(r.get(1).asInstanceOf[Array[Byte]]),
        r.getDouble(2), r.getLong(3))).toSeq

  /** More-like-this over the persisted index (beyond-proto, round 16):
    * profile the seed doc's newest live `field` value, then BM25 the
    * profile with the seed excluded
    * ([[graft.core.Snapshot.moreLikeThis]]) —
    * (doc uuid, score, n_terms_hit), score desc. */
  def moreLikeThis(collectionName: String, field: String, userUuid: String,
      docUuid: String, m: Int = 5, k: Int = 10,
      filter: Option[graft.operators.DocFilter] = None)
      : Seq[(String, Double, Long)] = {
    val seed = Seq((toBytes(userUuid), toBytes(docUuid)))
      .toDF("user_id", "doc_id")
    collection(collectionName).snapshot()
      .moreLikeThis(field, seed, m, k, userIds = Seq(toBytes(userUuid)),
        filter = filter)
      .collect().map(r => (toUuidStr(r.get(1).asInstanceOf[Array[Byte]]),
        r.getDouble(2), r.getLong(3))).toSeq
  }

  /** Recall calibration pass (beyond-proto admin): measures + persists
    * the recall@k-vs-nprobe curve `target_recall` searches resolve
    * against ([[graft.core.Collection.calibrateRecall]]). */
  def calibrate(collectionName: String, k: Int, nQueries: Int,
      ladder: Seq[Int]): Seq[(Int, Double)] =
    collection(collectionName).calibrateRecall(k, nQueries, ladder)

  private val servedCache = TrieMap.empty[(String, String), (String, ServedUserSearch)]

  /** Per-user online serving session (collection_manager.rs:27-94 — the
    * reference serves searches from per-user in-memory indexes). Loads
    * the user's data once; `search` then answers at in-memory latency
    * with zero Spark jobs.
    *
    * Views are cached per (collection, user) and keyed on the collection's
    * state fingerprint (TOC version + unflushed batches + tombstone
    * files), so repeated calls are free while the state is unchanged and
    * any insert/flush/remove/merge transparently rebuilds — the
    * reference's CollectionManager keeps long-lived per-user indexes the
    * same way. */
  def serveUser(collectionName: String, userUuid: String): ServedUserSearch = {
    val coll = collection(collectionName)
    val fp = coll.stateFingerprint()
    val key = (collectionName, userUuid)
    servedCache.get(key) match {
      case Some((cachedFp, view)) if cachedFp == fp => view
      case _ =>
        val view = new ServedUserSearch(coll.serveUser(toBytes(userUuid)))
        servedCache.put(key, (fp, view))
        view
    }
  }

  final class ServedUserSearch private[GraftService] (
      view: graft.core.ServedUserView) {
    def search(vector: Seq[Float], topK: Int = 10, nprobe: Int = 10,
        filter: Option[DocFilter] = None): SearchResponse = {
      val rows = view.search(vector.map(_.toDouble).toArray, topK, nprobe, filter)
      SearchResponse(
        rows.map { case (id, _) => toUuidStr(id.asInstanceOf[Array[Byte]]) },
        rows.map(_._2))
    }
    /** Term search from the in-memory view — the reference's served
      * MultiTermIndex query path (rs/index/src/collection/snapshot.rs:
      * 114-147), zero Spark jobs. */
    def termSearch(filter: DocFilter, limit: Int = 10): Seq[String] =
      view.termSearch(filter, limit)
        .map(id => toUuidStr(id.asInstanceOf[Array[Byte]]))
    /** Range facets from the in-memory view (round-15 verdict #7) —
      * [[graft.core.Snapshot.facetRanges]] semantics, zero Spark jobs. */
    def facetRanges(filter: DocFilter, field: String,
        buckets: Seq[(Double, Double)]): Seq[(Double, Double, Long)] =
      view.facetRanges(filter, field, buckets)
        .map { case ((lo, hi), n) => (lo, hi, n) }
    /** Suggester from the in-memory view (round-15 verdict #7) —
      * [[graft.core.Snapshot.suggest]] semantics, zero Spark jobs. */
    def suggest(field: String, input: String, k: Int = 5,
        maxDist: Int = 2): Seq[(String, Long, Long)] =
      view.suggest(field, input, k, maxDist)
    /** BM25 ranked retrieval from the in-memory view (round 16) —
      * [[graft.core.Snapshot.rankedSearch]] semantics, zero Spark jobs. */
    def rankedSearch(field: String, query: String, k: Int = 10,
        filter: Option[DocFilter] = None): Seq[(String, Double, Long)] =
      view.rankedSearch(field, query, k, filter = filter)
        .map { case (id, s, h) =>
          (toUuidStr(id.asInstanceOf[Array[Byte]]), s, h) }
    /** More-like-this from the in-memory view (round 16) —
      * [[graft.core.Snapshot.moreLikeThis]] semantics, zero Spark jobs. */
    def moreLikeThis(field: String, docUuid: String, m: Int = 5,
        k: Int = 10, filter: Option[DocFilter] = None)
        : Seq[(String, Double, Long)] =
      view.moreLikeThis(field, toBytes(docUuid), m, k, filter = filter)
        .map { case (id, s, h) =>
          (toUuidStr(id.asInstanceOf[Array[Byte]]), s, h) }
    /** Hybrid BM25+ANN RRF from the in-memory view (round 16) —
      * [[graft.core.Snapshot.hybridSearch]] semantics, zero Spark
      * jobs. */
    def hybridSearch(field: String, query: String, vector: Array[Double],
        k: Int = 10, nprobe: Int = 1, window: Int = 50,
        filter: Option[DocFilter] = None): Seq[(String, Double, Long)] =
      view.hybridSearch(field, query, vector, k, nprobe, window,
          filter = filter)
        .map { case (id, s, n) =>
          (toUuidStr(id.asInstanceOf[Array[Byte]]), s, n) }
    /** Multi-field boosted BM25 from the in-memory view (round 16) —
      * [[graft.core.Snapshot.rankedSearchFields]] semantics, zero
      * Spark jobs. */
    def rankedSearchFields(fields: Seq[(String, Double)], query: String,
        k: Int = 10, filter: Option[DocFilter] = None)
        : Seq[(String, Double, Long)] =
      view.rankedSearchFields(fields, query, k, filter = filter)
        .map { case (id, s, h) =>
          (toUuidStr(id.asInstanceOf[Array[Byte]]), s, h) }
    /** Facet counts from the in-memory view —
      * [[graft.core.Snapshot.facetCounts]] semantics, zero Spark jobs;
      * None = the distributed null-value bucket. */
    def facetCounts(filter: DocFilter, facetField: String,
        k: Int = 10): Seq[(Option[String], Long)] =
      view.facetCounts(filter, facetField, k)
    /** Term dictionary from the in-memory view —
      * [[graft.core.Snapshot.termStats]] semantics, zero Spark jobs. */
    def termStats(prefix: String = "", k: Int = 20): Seq[(String, Long)] =
      view.termStats(prefix, k)
  }

  /** Admin surface (rs/proto/proto/admin.proto:4-8). */
  def getSegments(collectionName: String): Seq[String] =
    collection(collectionName).toc.segments

  /** Segments with their build-time row counts (from each segment's
    * meta.json — no data scan; -1 for pre-metadata segments), the
    * reference's GetSegments size reporting. */
  def getSegmentStats(collectionName: String): Seq[(String, Long)] = {
    val coll = collection(collectionName)
    coll.toc.segments.map(s => s -> coll.segment(s).rows.getOrElse(-1L))
  }

  def mergeSegments(collectionName: String): Option[String] =
    collection(collectionName).merge()

  /** One optimizer tick (M3): size-tiered merge back to the segment cap,
    * else auto-vacuum the first segment past the tombstone threshold —
    * the reference's background optimizer loop exposed as an admin call
    * (rs/index_server/src/main.rs:202-222). Returns the action taken. */
  def optimize(collectionName: String): Option[String] =
    collection(collectionName).maybeCompact()

  /** Back up one retained TOC version of a collection into `destBase`
    * ([[graft.core.Collection.backup]] — segments + tail + visible
    * tombstones, version pinned during the copy). `version` defaults to
    * the current TOC version. Returns the version backed up. */
  def backup(collectionName: String, destBase: String,
      version: Option[Long] = None): Long = {
    val coll = collection(collectionName)
    version match {
      case Some(v) => coll.backup(destBase, v); v
      // no explicit version: resolve + pin atomically inside Collection —
      // a toc.version read here could race a concurrent expireVersions
      case None => coll.backup(destBase)._2
    }
  }
}
