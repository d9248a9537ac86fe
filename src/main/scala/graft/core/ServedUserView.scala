package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{DocFilter, FilterCompiler, ServedIvfIndex}

/** Per-user online serving view of a collection — the engine-level
  * analogue of the reference's per-user index loading
  * (rs/index_server/src/collection_manager.rs:27-94: a search names its
  * users and the server serves from their in-memory indexes).
  *
  * `Collection.serveUser` pins the current TOC and loads, ONCE, the named
  * user's slice of every segment (bucket-pruned scans) into driver-memory
  * [[ServedIvfIndex]] structures — plus the user's term postings
  * (the reference's per-user `MultiTermIndex`,
  * rs/index/src/multi_terms/index.rs:52) and tombstones. The user's
  * unflushed tail is served as one more in-memory segment, appended after
  * the flushed ones: its postings come from the flush's own term
  * expressions and its index is one centroid holding every row, so a
  * probe is an exact brute-force scan (the reference's mutable segment,
  * rs/index/src/segment/pending_segment.rs; read-your-writes, R5). Single
  * queries — vector, term, or hybrid
  * (rs/index/src/collection/snapshot.rs:114-147) — are then answered with
  * zero Spark jobs: per-segment in-memory probes / posting-set algebra,
  * tombstones dropped, merged by the engine's (score asc, doc_id asc)
  * order. Memory is bounded by one user's data — the per-shard posture of
  * the reference, not corpus-sized.
  */
final class ServedUserView private[core] (
    segments: Seq[ServedUserView.SegmentView],
    fieldLang: Map[String, String],
    keywordFields: Set[String],
    numericFields: Set[String]) {

  /** Schema-driven normalization at the served entry points — the same
    * rule as the distributed Snapshot: the field KIND decides keyword-vs-
    * analyzed matching so the served view can never disagree with the
    * flushed index ([[DocFilter.normalize]]). */
  private def norm(f: DocFilter): DocFilter =
    DocFilter.normalize(f, keywordFields.contains)

  import ServedUserView.{SegmentView, idLess}

  /** Served mirror of `Snapshot.requireNumericFields` (round-15 ADVICE):
    * without it the same Range filter gave a loud schema/capability error
    * on /term_search but silently-empty results on /serve_term_search.
    * Each ranged field must be a numeric KIND in the schema, and every
    * segment's loaded slice must carry its column — a segment flushed
    * before the field existed fails NAMING itself with the rebuild as
    * the fix. (The tail view keys every numeric field, so tail rows
    * without the value simply never match — the null contract, same as
    * the distributed path.) */
  private def requireNumericFields(nf: DocFilter): Unit = {
    val ranged = DocFilter.rangeFields(nf)
    if (ranged.isEmpty) return
    val notNumeric = ranged -- numericFields
    require(notNumeric.isEmpty,
      s"Range filter over ${notNumeric.mkString(", ")}: not a numeric " +
        "attribute — declare the field with kind long/double in " +
        "attributeSchema")
    for (f <- ranged) {
      val missing = segments.filterNot(_.numAttrs.contains(f)).map(_.name)
      require(missing.isEmpty,
        s"Range filter over '$f': segment(s) ${missing.mkString(", ")} " +
          "were flushed before that attribute existed — rebuild them " +
          "(merge / POST /optimize), then re-serve")
    }
  }

  /** Map key for doc ids: Array[Byte] (u128) ids need value equality. */
  private def docKey(a: Any): Any = a match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case x => x
  }

  /** Each doc's NEWEST live row (by src_batch WAL position) across
    * segments, the tail view last — the served mirror of the Snapshot's
    * newest-wins rule for aggregation surfaces ([[facetRanges]]/
    * [[suggest]]): a doc counts iff its newest live version matches /
    * carries the term, so the served answers agree with the attribute
    * values the CDC fetch reports for the same docs. Built once per view
    * (memory: one entry per live doc — the same bound as docOf). Ties on
    * equal src_batch resolve arbitrarily, like the distributed
    * row_number window. */
  private lazy val newestRows: Map[Any, (SegmentView, Long)] = {
    val m = scala.collection.mutable.HashMap[Any, (Long, (SegmentView, Long))]()
    for (sv <- segments; (pid, doc) <- sv.docOf) {
      val b = sv.batchOf.getOrElse(pid, Long.MinValue)
      val k = docKey(doc)
      if (!m.get(k).exists(_._1 >= b)) m(k) = (b, (sv, pid))
    }
    m.view.mapValues(_._2).toMap
  }

  /** Is (`sv`, `pid`) the newest live row of doc key `dk`? */
  private def isNewest(dk: Any, sv: SegmentView, pid: Long): Boolean =
    newestRows.get(dk).exists { case (s2, p2) => (s2 eq sv) && p2 == pid }

  /** Does a row match `nf`? One [[evalSegment]] pass per view, then a
    * set lookup per row. */
  private def matcher(nf: DocFilter): ((SegmentView, Long)) => Boolean = {
    val matched = segments.map(sv => sv -> evalSegment(nf, sv)).toMap
    loc => matched(loc._1).contains(loc._2)
  }

  // java.lang.Double.compare gives the total order with NaN greatest —
  // the engine's (score asc NaN-last, doc_id asc) invariant — and keeps
  // the comparator a strict weak ordering (a raw < on NaN is not)
  private val scoreOrd = new Ordering[(Any, Double)] {
    def compare(x: (Any, Double), y: (Any, Double)): Int = {
      val c = java.lang.Double.compare(x._2, y._2)
      if (c != 0) c
      else if (idLess(x._1, y._1)) -1
      else if (idLess(y._1, x._1)) 1
      else 0
    }
  }

  /** Point-id set algebra over one segment's in-memory postings — the
    * served mirror of [[FilterCompiler.compile]] (And/Or/Ids/Term/Not,
    * rs/index/src/query/iters/mod.rs:22-27), same analyzer per field
    * lang on the query side (index/query symmetry invariant). Ids match
    * nothing in the tail view: point ids are assigned at flush, so its
    * ids are synthetic (the mirror of `Snapshot.compileRaw`). */
  private def evalSegment(f: DocFilter, sv: SegmentView): Set[Long] = f match {
    case DocFilter.Ids(ids) =>
      if (sv.flushed) ids.toSet.intersect(sv.universe) else Set.empty
    case DocFilter.Contains(field, value, kw) =>
      val qts = FilterCompiler.queryTerms(field, value, kw,
        fieldLang.getOrElse(field, "english"))
      if (qts.isEmpty) Set.empty
      else qts.map(t => sv.termPostings.getOrElse(t, ServedUserView.noPostings)
        .map(_._1).toSet).reduce(_ intersect _)
    case DocFilter.NotContains(field, value, kw) =>
      sv.universe.diff(evalSegment(DocFilter.Contains(field, value, kw), sv))
    case DocFilter.Phrase(field, value, kw) =>
      // served mirror of FilterCompiler's shifted-intersection phrase:
      // token i's positions shifted by -i, match iff all legs share one
      require(sv.hasPositions,
        s"Phrase($field, $value) needs a positions-bearing term index, but " +
          s"segment ${sv.name} was flushed before the positions column " +
          "landed — rebuild it (merge / POST /optimize), then re-serve")
      val qts = FilterCompiler.queryTerms(field, value, kw,
        fieldLang.getOrElse(field, "english"))
      if (qts.isEmpty) Set.empty
      else {
        val legs = qts.zipWithIndex.map { case (t, i) =>
          sv.termPostings.getOrElse(t, ServedUserView.noPostings)
            .map { case (pid, pos) => pid -> pos.map(_ - i).toSet }.toMap
        }
        // fold ONE common shifted position through all legs (pairwise
        // overlap is not enough: "a b x a y c" overlaps a-b and a-c at
        // different anchors without containing "a b c")
        legs.head.collect { case (pid, p0)
          if legs.tail.foldLeft(p0)((acc, leg) =>
            leg.get(pid).fold(Set.empty[Int])(acc.intersect)).nonEmpty =>
            pid }.toSet
      }
    case DocFilter.Near(field, l, r, w) =>
      require(sv.hasPositions,
        s"Near($field, $l, $r, $w) needs a positions-bearing term index, but " +
          s"segment ${sv.name} was flushed before the positions column " +
          "landed — rebuild it (merge / POST /optimize), then re-serve")
      val lang = fieldLang.getOrElse(field, "english")
      val lt = FilterCompiler.queryTerms(field, l, keyword = false, lang)
      val rt = FilterCompiler.queryTerms(field, r, keyword = false, lang)
      if (lt.isEmpty || rt.isEmpty) Set.empty
      else {
        val a = sv.termPostings.getOrElse(lt.head, ServedUserView.noPostings)
        val b = sv.termPostings.getOrElse(rt.head, ServedUserView.noPostings)
          .toMap
        a.collect { case (pid, pa) if b.get(pid).exists(pb =>
          pa.exists(x => pb.exists(y => math.abs(x - y) <= w))) => pid }.toSet
      }
    case DocFilter.Prefix(field, value, _) =>
      // served mirror of the dictionary prefix scan: the in-memory term
      // map IS the dictionary; the fragment stays unanalyzed (lowercase)
      val p = s"$field:${value.trim.toLowerCase}"
      sv.termPostings.iterator.collect {
        case (t, posts) if t.startsWith(p) => posts.iterator.map(_._1)
      }.flatten.toSet
    case DocFilter.Fuzzy(field, value, d, kw, pl) =>
      val qts = FilterCompiler.queryTerms(field, value, kw,
        fieldLang.getOrElse(field, "english"))
      if (qts.isEmpty) Set.empty
      else {
        val fp = s"$field:"
        val token = qts.head.stripPrefix(fp)
        val seek = fp + token.take(pl)
        sv.termPostings.iterator.collect {
          case (t, posts) if t.startsWith(seek) &&
            math.abs(t.length - fp.length - token.length) <= d &&
            ServedUserView.editDistance(t.substring(fp.length), token) <= d =>
            posts.iterator.map(_._1)
        }.flatten.toSet
      }
    case DocFilter.Wildcard(field, pat, kw) =>
      evalSegment(DocFilter.Regex(field, DocFilter.wildcardToRegex(pat), kw), sv)
    case DocFilter.Regex(field, pat, _) =>
      val fp = s"$field:"
      val rx = java.util.regex.Pattern.compile(pat) // anchored via matches()
      sv.termPostings.iterator.collect {
        case (t, posts) if t.startsWith(fp) &&
          rx.matcher(t.substring(fp.length)).matches() =>
          posts.iterator.map(_._1)
      }.flatten.toSet
    case DocFilter.Range(field, lo, hi) =>
      sv.numAttrs.getOrElse(field, Map.empty).iterator.collect {
        case (pid, v) if lo.forall(v >= _) && hi.forall(v <= _) => pid
      }.toSet
    case DocFilter.And(cs) =>
      if (cs.isEmpty) sv.universe
      else cs.map(evalSegment(_, sv)).reduce(_ intersect _)
    case DocFilter.Or(cs) =>
      if (cs.isEmpty) Set.empty
      else cs.map(evalSegment(_, sv)).reduce(_ union _)
  }

  /** Single-query top-k over segments + tail, zero Spark jobs. An
    * attribute `filter` intersects at probe time (plan_with_ids, F8/J4)
    * — parity with the distributed `Snapshot.search(filter = ...)`. */
  def search(query: Array[Double], k: Int, nprobe: Int,
      filter: Option[DocFilter] = None): Seq[(Any, Double)] = {
    val nf = filter.map(norm)
    nf.foreach(requireNumericFields)
    segments.iterator.flatMap { sv =>
      val allow: java.util.function.LongPredicate = nf match {
        case None => null
        case Some(f) =>
          val allowed = evalSegment(f, sv)
          pid => allowed.contains(pid)
      }
      sv.index.search(query, k, nprobe, allow).iterator.flatMap { case (pid, dist) =>
        sv.docOf.get(pid).map(doc => (doc, dist))
      }
    }.toArray
      .sorted(scoreOrd)
      .take(k)
      .toSeq
  }

  /** Term search with zero Spark jobs — parity with `Snapshot.termSearch`:
    * doc ids matching the filter across segments + tail, deduped, id-asc,
    * limited. */
  def termSearch(filter: DocFilter, limit: Int): Seq[Any] = {
    val nf = norm(filter)
    requireNumericFields(nf)
    segments.iterator.flatMap { sv =>
      evalSegment(nf, sv).iterator.flatMap(sv.docOf.get)
    }.toArray
      .distinct
      .sortWith(idLess)
      .take(limit)
      .toSeq
  }

  /** Served mirror of [[Snapshot.facetRanges]] with zero Spark jobs
    * (round-15 verdict #7): half-open `[lo, hi)` bucket counts of the
    * numeric `field` over docs whose NEWEST live version matches
    * `filter` — identical semantics to the distributed path (newest-wins
    * match, newest row supplies the value, nulls count nowhere, buckets
    * independent, CALLER's bucket order). */
  def facetRanges(filter: DocFilter, field: String,
      buckets: Seq[(Double, Double)]): Seq[((Double, Double), Long)] = {
    require(buckets.nonEmpty, "facetRanges: no buckets given")
    buckets.foreach { case (lo, hi) =>
      require(lo < hi, s"facetRanges: empty bucket [$lo, $hi)") }
    require(numericFields.contains(field),
      s"facetRanges over '$field': not a numeric attribute — declare the " +
        "field with kind long/double in attributeSchema")
    val nf = norm(filter)
    requireNumericFields(nf)
    val hit = matcher(nf)
    val counts = Array.fill(buckets.size)(0L)
    for (loc @ (sv, pid) <- newestRows.values if hit(loc);
         v <- sv.numAttrs.getOrElse(field, Map.empty).get(pid); i <- buckets.indices)
      if (v >= buckets(i)._1 && v < buckets(i)._2) counts(i) += 1
    buckets.zip(counts.toSeq)
  }

  /** Served mirror of [[Snapshot.facetCounts]] with zero Spark jobs
    * (completing the aggregation-surface family): live docs whose NEWEST
    * version matches `filter`, bucketed by the string-cast `facetField`
    * attribute of that newest row, top `k` by (count desc, value asc
    * nulls-first) — the distributed path's exact ordering. A null facet
    * value is a real bucket (None), like the distributed null group. */
  def facetCounts(filter: DocFilter, facetField: String,
      k: Int = 10): Seq[(Option[String], Long)] = {
    val nf = norm(filter)
    requireNumericFields(nf)
    val hit = matcher(nf)
    val counts = scala.collection.mutable.HashMap[Option[String], Long]()
    for (loc @ (sv, pid) <- newestRows.values if hit(loc)) {
      val v = sv.attrVals.getOrElse(facetField, Map.empty).get(pid)
      counts(v) = counts.getOrElse(v, 0L) + 1
    }
    counts.toSeq.sortWith { case ((v1, n1), (v2, n2)) =>
      if (n1 != n2) n1 > n2
      else (v1, v2) match {
        case (None, None) => false
        case (None, _) => true // nulls first on the asc tiebreak
        case (_, None) => false
        case (Some(a), Some(b)) => a < b
      }
    }.take(k)
  }

  /** Served mirror of [[Snapshot.termStats]] with zero Spark jobs: the
    * live term dictionary (optionally prefix-restricted), each term
    * counting the docs whose NEWEST live version carries it, top `k` by
    * (n_docs desc, term asc). */
  def termStats(prefix: String = "", k: Int = 20): Seq[(String, Long)] =
    newestDocsPerTerm(_.startsWith(prefix)).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(k)

  /** Dictionary terms passing `keep`, each with the number of docs whose
    * NEWEST live row carries it. */
  private def newestDocsPerTerm(keep: String => Boolean): Map[String, Long] = {
    val docsOf = scala.collection.mutable.HashMap[String, scala.collection.mutable.Set[Any]]()
    for (sv <- segments; (t, posts) <- sv.termPostings if keep(t);
         (pid, _) <- posts; doc <- sv.docOf.get(pid)) {
      val dk = docKey(doc)
      if (isNewest(dk, sv, pid))
        docsOf.getOrElseUpdate(t, scala.collection.mutable.Set()) += dk
    }
    docsOf.iterator.map { case (t, docs) => (t, docs.size.toLong) }.toMap
  }

  /** Served mirror of [[Snapshot.suggest]] with zero Spark jobs
    * (round-15 verdict #7): live dictionary terms of `field` within
    * `maxDist` edits of the ANALYZED input token, ranked (distance asc,
    * n_docs desc, term asc), n_docs NEWEST-WINS like the distributed
    * path. Returns (term, distance, n_docs). */
  def suggest(field: String, input: String, k: Int = 5,
      maxDist: Int = 2): Seq[(String, Long, Long)] = {
    val kw = keywordFields.contains(field)
    // single term per call, ENFORCED (the Near/Fuzzy rule — mirror of
    // the Snapshot entry point)
    require(kw || input.trim.split("\\s+").count(_.nonEmpty) <= 1,
      s"suggest($field): input must be a single term on a text field, " +
        s"got '$input' — suggest each word separately")
    val qts = FilterCompiler.queryTerms(field, input, kw,
      fieldLang.getOrElse(field, "english"))
    if (qts.isEmpty) return Nil
    val fp = s"$field:"
    val token = qts.head.stripPrefix(fp)
    def hit(t: String): Boolean = t.startsWith(fp) &&
      math.abs(t.length - fp.length - token.length) <= maxDist &&
      ServedUserView.editDistance(t.substring(fp.length), token) <= maxDist
    // invert: candidate terms from the dictionary first (O(distinct
    // terms), the Fuzzy scan shape), then count docs whose NEWEST row
    // carries each candidate
    newestDocsPerTerm(hit).toSeq.map { case (t, n) =>
      (t, ServedUserView.editDistance(t.substring(fp.length), token).toLong, n)
    }.sortBy { case (t, d, n) => (d, -n, t) }.take(k)
  }

  /** Memoized BM25 corpus statistics (N, avgdl) per field — the served
    * mirror of the Snapshot's per-snapshot memo; one in-memory pass over
    * the newest-rows map, then a map hit per query. */
  private val bm25StatsMemo =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Double)]
  private def bm25FieldStats(field: String): (Long, Double) =
    bm25StatsMemo.getOrElseUpdate(field, {
      var n = 0L
      var total = 0L
      for ((sv, pid) <- newestRows.values) {
        n += 1
        total += sv.dlFor(field, pid)
      }
      (n, if (n == 0L) 0.0 else total.toDouble / n)
    })

  /** Served mirror of [[Snapshot.rankedSearch]] with zero Spark jobs:
    * Okapi BM25 (identical formula, constants and HALF-UP-4 rounding to
    * the distributed path — parity pinned in CollectionSpec) over the
    * in-memory term postings. NEWEST-WINS like every served aggregation
    * mirror: the match set, tf and dl all come from each doc's newest
    * live row. Candidate generation is postings-driven (O(matched), the
    * distributed dictionary-scan posture), never a corpus iteration.
    * Returns (doc_id, score, n_terms_hit), (score desc, doc_id asc),
    * top `k`. `filter` is FILTER CONTEXT (the Snapshot contract):
    * restricts the result to docs whose newest live row matches, never
    * touches df/N/avgdl or surviving scores. */
  def rankedSearch(field: String, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      filter: Option[DocFilter] = None): Seq[(Any, Double, Long)] = {
    val kw = requireRankedField(field)
    val keys = FilterCompiler.queryTerms(field, query, kw,
      fieldLang.getOrElse(field, "english")).distinct
    if (keys.isEmpty) Nil
    else rankedByKeys(field, keys, k, k1, b, exclude = Set.empty,
      keep = newestMatchPredicate(filter))
  }

  /** Filter-context predicate over doc keys: does this doc's NEWEST live
    * row match `filter`? (The served twin of [[Snapshot.matchedDocs]]'
    * newest-wins rule — segment match sets come from one
    * [[evalSegment]] pass each, so the per-doc check is a set lookup.) */
  private def newestMatchPredicate(filter: Option[DocFilter]): Any => Boolean =
    filter match {
      case None => _ => true
      case Some(f) =>
        val nf = norm(f)
        requireNumericFields(nf)
        val hit = matcher(nf)
        dk => newestRows.get(dk).exists(hit)
    }

  /** The ranked-retrieval field contract (mirror of the Snapshot's):
    * declared text/keyword attribute, all segments positions-bearing.
    * Returns the keyword flag. */
  private def requireRankedField(field: String): Boolean = {
    require(fieldLang.contains(field) && !numericFields.contains(field),
      s"rankedSearch: '$field' is not a text/keyword attribute of the " +
        "served schema")
    val missingPos = segments.filterNot(_.hasPositions).map(_.name)
    require(missingPos.isEmpty,
      s"BM25 ranked search derives term frequencies from per-(term, point) " +
        s"positions, but segment(s) ${missingPos.mkString(", ")} were " +
        "flushed before the positions column landed — rebuild them " +
        "(merge / POST /optimize), then re-serve")
    keywordFields.contains(field)
  }

  /** Newest-wins candidate docs carrying any of `keys`, plus a tf lookup
    * over a doc's newest row — shared by [[rankedSearch]] (scoring) and
    * [[moreLikeThis]] (profile doc frequencies). Postings-driven:
    * O(matched), never a corpus iteration. */
  private def bm25Candidates(keys: Seq[String])
      : (Map[Any, (SegmentView, Long)], ((SegmentView, Long), String) => Long) = {
    // per-(segment, key) pid -> tf, built once (postings-array scans stay
    // linear, never per-candidate)
    val segTf: Map[(SegmentView, String), Map[Long, Long]] =
      (for (sv <- segments; key <- keys) yield (sv, key) ->
        sv.termPostings.getOrElse(key, ServedUserView.noPostings)
          .iterator.map { case (p, pos) => p -> pos.length.toLong }.toMap).toMap
    def tfOf(loc: (SegmentView, Long), key: String): Long =
      segTf((loc._1, key)).getOrElse(loc._2, 0L)
    val cand = scala.collection.mutable.HashMap.empty[Any, (SegmentView, Long)]
    for (sv <- segments; key <- keys; (pid, _) <- segTf((sv, key));
         doc <- sv.docOf.get(pid)) {
      val dk = docKey(doc)
      if (isNewest(dk, sv, pid)) cand(dk) = (sv, pid)
    }
    (cand.toMap, tfOf)
  }

  /** Full BM25 match map for pre-analyzed keys — doc key -> (original
    * doc id, HALF-UP-4 rounded score, matched-term count), the shared
    * core of [[rankedSearch]], [[moreLikeThis]] and
    * [[rankedSearchFields]] (same per-field figures as the distributed
    * [[graft.core.Snapshot]] paths). */
  private def scoreByKeys(field: String, keys: Seq[String],
      k1: Double, b: Double): Map[Any, (Any, Double, Long)] = {
    val (n, avgdl) = bm25FieldStats(field)
    if (n == 0L) return Map.empty
    val (cand, tfOf) = bm25Candidates(keys)
    if (cand.isEmpty) return Map.empty
    // df per query term over the newest-wins match set (the distributed
    // bm25Score's O(matched) aggregate)
    val dfOf: Map[String, Long] = keys.map(key =>
      key -> cand.valuesIterator.count(tfOf(_, key) > 0L).toLong).toMap
    val nD = n.toDouble
    cand.iterator.map { case (dk, loc @ (sv, pid)) =>
      val dl = sv.dlFor(field, pid).toDouble
      var sum = 0.0
      var hits = 0L
      for (key <- keys) {
        val tf = tfOf(loc, key)
        if (tf > 0L) {
          hits += 1
          val df = dfOf(key).toDouble
          val idf = math.log(1.0 + (nD - df + 0.5) / (df + 0.5))
          val t = tf.toDouble
          sum += idf * (t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * dl / avgdl)))
        }
      }
      dk -> ((sv.docOf(pid), BigDecimal(sum).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, hits))
    }.filter(_._2._3 > 0L).toMap
  }

  private def orderRanked(scored: Iterable[(Any, Double, Long)], k: Int)
      : Seq[(Any, Double, Long)] =
    scored.toSeq.sortWith { case ((i1, s1, _), (i2, s2, _)) =>
      val c = java.lang.Double.compare(s2, s1) // score DESC
      if (c != 0) c < 0 else idLess(i1, i2)
    }.take(k)

  /** [[scoreByKeys]] + MLT's exclusion + filter context + the retrieval
    * order/limit. `exclude` drops doc keys from the RESULT only (after
    * df/stats), the Lucene MLT contract; `keep` retains only passing
    * keys (filter context, same after-scoring discipline). */
  private def rankedByKeys(field: String, keys: Seq[String],
      k: Int, k1: Double, b: Double, exclude: Set[Any],
      keep: Any => Boolean = _ => true): Seq[(Any, Double, Long)] =
    orderRanked(scoreByKeys(field, keys, k1, b)
      .collect { case (dk, t) if !exclude.contains(dk) && keep(dk) => t }, k)

  /** Served mirror of [[Snapshot.rankedSearchFields]] with zero Spark
    * jobs: per-field BM25 (each field's own analyzer/df/stats and the
    * SAME rounded per-field figures as single-field rankedSearch),
    * combined as round(Σ boost_f · score_f, 4), (score desc, doc_id
    * asc), top k — (doc_id, score, n_fields_hit). `filter` is filter
    * context (the Snapshot contract — newest-wins match, scores and
    * stats untouched). */
  def rankedSearchFields(fields: Seq[(String, Double)], query: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      filter: Option[DocFilter] = None)
      : Seq[(Any, Double, Long)] = {
    require(fields.nonEmpty, "rankedSearchFields: no fields")
    val keep = newestMatchPredicate(filter)
    val acc = scala.collection.mutable.HashMap.empty[Any, (Any, Double, Long)]
    for ((field, w) <- fields) {
      val kw = requireRankedField(field)
      val keys = FilterCompiler.queryTerms(field, query, kw,
        fieldLang.getOrElse(field, "english")).distinct
      if (keys.nonEmpty)
        for ((dk, (id, sc, _)) <- scoreByKeys(field, keys, k1, b)
             if keep(dk)) {
          val (_, s0, f0) = acc.getOrElse(dk, (id, 0.0, 0L))
          acc(dk) = (id, s0 + w * sc, f0 + 1L)
        }
    }
    orderRanked(acc.valuesIterator.map { case (id, s, f) =>
      (id, BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, f)
    }.toSeq, k)
  }

  /** Served mirror of [[Snapshot.hybridSearch]] with zero Spark jobs:
    * RRF fuse of the top-`window` BM25 list and the top-`window` vector
    * list (in-memory index at `nprobe`), `Σ 1/(rrfK + rank)` rounded
    * HALF-UP 6, (score desc, doc_id asc), top `k` — (doc_id, rrf_score,
    * n_lists). `filter` restricts both lists (filter context on BM25,
    * native pre-filter on the ANN side). */
  def hybridSearch(field: String, query: String, queryVec: Array[Double],
      k: Int, nprobe: Int, window: Int = 50, rrfK: Int = 60,
      filter: Option[DocFilter] = None): Seq[(Any, Double, Long)] = {
    require(k > 0 && window >= k,
      s"hybridSearch: need window >= k > 0 (window=$window, k=$k)")
    val acc = scala.collection.mutable.HashMap.empty[Any, (Any, Double, Long)]
    def add(ids: Seq[Any]): Unit = ids.zipWithIndex.foreach { case (id, i) =>
      val dk = docKey(id)
      val (_, s0, n0) = acc.getOrElse(dk, (id, 0.0, 0L))
      acc(dk) = (id, s0 + 1.0 / (rrfK + i + 1.0), n0 + 1L)
    }
    add(rankedSearch(field, query, window, filter = filter).map(_._1))
    add(search(queryVec, window, nprobe, filter).map(_._1))
    orderRanked(acc.valuesIterator.map { case (id, s, n) =>
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, n)
    }.toSeq, k)
  }

  /** Served mirror of [[Snapshot.moreLikeThis]] with zero Spark jobs:
    * profile the seed's newest live `field` value (its view's attribute
    * slice) by its `m` most
    * distinctive terms — identical smoothed-tf-idf rounding and ties to
    * the distributed path — then BM25 those terms, seed excluded after
    * scoring. */
  def moreLikeThis(field: String, docId: Any, m: Int = 5, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      filter: Option[DocFilter] = None): Seq[(Any, Double, Long)] = {
    require(m > 0 && k > 0, s"moreLikeThis: m and k must be positive (m=$m, k=$k)")
    val kw = requireRankedField(field)
    val dk = docKey(docId)
    val (sv, pid) = newestRows.getOrElse(dk, throw new IllegalArgumentException(
      s"moreLikeThis: no live doc for the given key"))
    val text = sv.attrVals.get(field).flatMap(_.get(pid)).getOrElse("")
    val termsAll = FilterCompiler.queryTerms(field, text, kw,
      fieldLang.getOrElse(field, "english"))
    require(termsAll.nonEmpty,
      s"moreLikeThis: the seed doc has no terms in '$field'")
    val seedTf: Map[String, Long] =
      termsAll.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val termKeys = seedTf.keys.toSeq
    val (n, _) = bm25FieldStats(field)
    val (cand, tfOf) = bm25Candidates(termKeys)
    val profile = seedTf.toSeq.map { case (t, tf) =>
      val df = cand.valuesIterator.count(tfOf(_, t) > 0L).toDouble
      val sc = BigDecimal(tf.toDouble *
          (math.log((n + 1.0) / (df + 1.0)) + 1.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (t, sc)
    }.sortBy { case (t, sc) => (-sc, t) }.take(m).map(_._1)
    // filter context: profile/df/stats above stay unfiltered, only the
    // returned similar docs are restricted (the rankedSearch contract)
    rankedByKeys(field, profile, k, k1, b, exclude = Set(dk),
      keep = newestMatchPredicate(filter))
  }
}

object ServedUserView {

  private val noPostings = Array.empty[(Long, Array[Int])]

  /** Plain Levenshtein (unit-cost insert/delete/substitute) — must agree
    * with Spark's `levenshtein` so served fuzzy answers match the
    * distributed dictionary-scan path. Two-row DP, O(|a|·|b|). */
  private[graft] def editDistance(a: String, b: String): Int = {
    if (a == b) return 0
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    var prev = Array.tabulate(s.length + 1)(identity)
    var cur = new Array[Int](s.length + 1)
    var j = 1
    while (j <= t.length) {
      cur(0) = j
      var i = 1
      while (i <= s.length) {
        val cost = if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1
        cur(i) = math.min(math.min(cur(i - 1) + 1, prev(i) + 1), prev(i - 1) + cost)
        i += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      j += 1
    }
    prev(s.length)
  }

  /** Unsigned-lexicographic for BinaryType ids, natural for Long ids —
    * matches Spark's sort order on the corresponding column types. */
  private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y) < 0
    case _ => a.toString < b.toString
  }

  /** One served segment — a flushed one, or the unflushed tail. A plain
    * class: maps keyed by a view key its identity, never its contents. */
  private[core] final class SegmentView(
      val name: String, // segment name — positional capability errors cite it
      val index: ServedIvfIndex,
      val docOf: Map[Long, Any], // point_id -> doc_id (tombstoned points absent)
      // term key -> (point id, positions in the analyzed stream); the
      // positions ride the same per-user collect as the ids — memory
      // stays bounded by one user's corpus, and phrase/proximity queries
      // serve with zero Spark jobs like everything else here
      val termPostings: Map[String, Array[(Long, Array[Int])]],
      // false for segments flushed before the positions column landed:
      // Contains still serves; Phrase/Near fail descriptively
      val hasPositions: Boolean,
      // numeric attribute slice: field -> (point -> value); null attr
      // values are absent (a Range never matches them). A field KEY is
      // present iff the segment's vectors table carried the column —
      // the per-segment Range capability signal (the tail keys every
      // numeric field: its rows lack a value, never the capability).
      val numAttrs: Map[String, Map[Long, Double]],
      // point -> src_batch WAL position (MinValue when the segment
      // predates the column) — feeds the newest-wins aggregation mirrors
      val batchOf: Map[Long, Long],
      // schema attribute values STRING-CAST on their original column
      // type (so a long 15 reads "15", matching the distributed
      // facetCounts' cast exactly); nulls absent
      val attrVals: Map[String, Map[Long, String]],
      // flush-persisted BM25 doc-length norms: field -> point -> dl
      // (empty for segments flushed before the lens table landed, and
      // for the tail — dlFor then derives identical numbers from the
      // positions, minus zero-token docs, the distributed fallback's
      // caveat)
      val lensOf: Map[String, Map[Long, Long]],
      // false for the unflushed tail: its point ids are synthetic
      val flushed: Boolean) {
    val universe: Set[Long] = docOf.keySet

    private val derivedDl =
      scala.collection.concurrent.TrieMap.empty[String, Map[Long, Long]]
    /** Analyzed token count of `field` at `pid`: the lens slice when the
      * segment carries one, else a per-field sum over the in-memory
      * positions (memoized). */
    def dlFor(field: String, pid: Long): Long =
      lensOf.get(field).map(_.getOrElse(pid, 0L)).getOrElse(
        derivedDl.getOrElseUpdate(field, {
          val acc = scala.collection.mutable.HashMap.empty[Long, Long]
          val fp = s"$field:"
          for ((t, posts) <- termPostings if t.startsWith(fp); (p, pos) <- posts)
            acc(p) = acc.getOrElse(p, 0L) + pos.length
          acc.toMap
        }).getOrElse(pid, 0L))
  }

  private[core] def build(coll: Collection, userId: Any): ServedUserView = {
    val t = coll.toc
    val uid = lit(userId)
    val fieldLang = coll.config.attributeSchema.map(f => f.name -> f.lang).toMap
    // Tombstones are removed BEFORE the per-segment indexes are built:
    // ServedIvfIndex.search truncates to k per segment, so a deleted doc
    // left in the index would silently displace a live doc ranked k+1 —
    // the distributed path (Search.spann) anti-joins before ranking and
    // this view must stay in parity with it. The anti-join is SEQUENCED
    // (Search.dropTombstoned): a doc re-inserted after its delete is live,
    // so it must run while rows still carry src_batch (before the select).
    val userTombs = coll.tombstones.map(_.filter(col("user_id") === uid))
    def userRows(df: DataFrame): DataFrame = {
      val mine = df.filter(col("user_id") === uid)
      userTombs.fold(mine)(tb => graft.operators.Search.dropTombstoned(mine, tb))
    }
    val numFieldNames = coll.config.numericFields.map(_.name)
    val schemaFieldNames = coll.config.attributeSchema.map(_.name)
    // ONE bounded collect of a view's live rows feeds the whole view:
    // point ids, doc ids, src_batch WAL positions (the newest-wins
    // aggregation mirrors need them; MinValue for a row without one), the
    // vector store, the `nums` attributes (Range leaves; null where the
    // frame lacks the column), every schema attribute the frame carries
    // STRING-CAST on its original column type (what the served
    // facetCounts mirror buckets on — exact parity with the distributed
    // cast("string")), then `extra`. Returns the rows and those attributes.
    def collectRows(df: DataFrame, pointId: Column, nums: Seq[String],
        extra: Seq[Column]): (Array[Row], Seq[String]) = {
      val attrs = schemaFieldNames.filter(df.columns.contains)
      val rows = df.select((Seq(pointId, col("doc_id"),
          coalesce(col("src_batch"), lit(Long.MinValue)),
          col("vector").cast("array<double>")) ++
        nums.map(f => (if (df.columns.contains(f)) col(f) else lit(null)).cast("double")) ++
        attrs.map(f => col(f).cast("string")) ++ extra): _*)
        .collect()
      (rows, attrs)
    }
    // point ids and vectors of rows in collectRows' layout: the serving
    // index's point store
    def points(rows: Array[Row]) = rows.iterator.map(r => (r.getLong(0), r.getSeq[Double](3)))
    // one view's maps from rows in collectRows' layout; attribute slices
    // are field -> (point -> value), nulls absent (a Range never matches
    // null; facet buckets skip it)
    def view(name: String, rows: Array[Row], nums: Seq[String], attrs: Seq[String],
        index: ServedIvfIndex, termPostings: Map[String, Array[(Long, Array[Int])]],
        hasPositions: Boolean, lensOf: Map[String, Map[Long, Long]],
        flushed: Boolean): SegmentView = {
      def slice[V](fields: Seq[String], base: Int, get: (Row, Int) => V): Map[String, Map[Long, V]] =
        fields.zipWithIndex.map { case (f, i) =>
          f -> rows.iterator.filterNot(_.isNullAt(base + i))
            .map(r => r.getLong(0) -> get(r, base + i)).toMap
        }.toMap
      new SegmentView(name, index, rows.map(r => r.getLong(0) -> r.get(1)).toMap,
        termPostings, hasPositions, slice(nums, 4, _.getDouble(_)),
        rows.map(r => r.getLong(0) -> r.getLong(2)).toMap,
        slice(attrs, 4 + nums.size, _.getString(_)), lensOf, flushed)
    }
    val segs = t.segments.map { seg =>
      val record = coll.segment(seg)
      val df = userRows(coll.vectorsFor(seg, Seq(userId)))
      val nums = numFieldNames.filter(df.columns.contains)
      val (collected, attrs) = collectRows(df, col("point_id").cast("long"), nums, Nil)
      // point-id order is the serving index's point-store order
      val rows = collected.sortBy(_.getLong(0))
      // postings referencing dropped points are dangling; assemble
      // discards posting entries with no backing vector. Stage-1 selector
      // follows the collection config; with "hnsw" the flush-time
      // hnsw.bin loads here (seconds) instead of rebuilding the centroid
      // graph on every serving (re)start.
      val served = ServedIvfIndex.assemble(
        ServedIvfIndex.collectCentroids(record.centroids), rows.length, points(rows),
        ServedIvfIndex.collectPostings(
          record.postings.filter(col("user_id") === uid)),
        centroidIndex = coll.config.centroidIndexType,
        hnswPath = Some(record.file("hnsw.bin")))
      // the user's slice of the term index, in memory (MultiTermIndex
      // analogue). Tombstoned points stay out via the docOf remap at
      // query time; sizes are bounded by one user's corpus.
      val termPostings: Map[String, Array[(Long, Array[Int])]] =
        record.terms.filter(col("user_id") === uid)
          .select(col("term"), col("point_id").cast("long"),
            (if (record.hasPositions) col("positions")
             else lit(null).cast("array<int>")).as("positions"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (term, rows) => term -> rows.map(r => r.getLong(1) ->
            Option(r.getSeq[Int](2)).fold(Array.empty[Int])(_.toArray)) }
      // the user's slice of the flush-persisted BM25 lens table (doc-
      // length norms), one bounded collect like the rest of the view
      val lensOf: Map[String, Map[Long, Long]] =
        if (!record.hasLens) Map.empty
        else record.lens.filter(col("user_id") === uid)
          .select(col("field"), col("point_id").cast("long"),
            col("dl").cast("long"))
          .collect()
          .groupBy(_.getString(0))
          .map { case (f, rows) =>
            f -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
      view(seg, rows, nums, attrs, served, termPostings, record.hasPositions,
        lensOf, flushed = true)
    }
    // The unflushed tail as one more segment view (the reference's mutable
    // segment, mutable_segment.rs:73-103). Its postings come out of the
    // same collect, built by the flush's own expressions (the per-field
    // `Collection.fieldTokens` arrays, materialized once per row, then
    // term_postings), so the index/query analyzer symmetry holds without
    // re-implementing the stemmers and the view answers as the flushed
    // segment will.
    val tail = coll.tailFor(t).map { rows0 =>
      import graft.functions.GraftFunctions.term_postings
      val present = coll.config.textFields.filter(f => rows0.columns.contains(f.name))
      val df = userRows(rows0).select(col("*") +: present.map(f =>
        Collection.fieldTokens(f.name, f.kind == "keyword", f.lang).as(s"__toks_${f.name}")): _*)
      val (collected, attrs) = collectRows(df, lit(0L), numFieldNames,
        present.map(f => term_postings(f.name, col(s"__toks_${f.name}"))))
      // synthetic point ids in doc_id order, so the index's per-view top-k
      // by (dist, id) keeps exactly the rows the (score, doc_id) merge keeps
      val rows = collected.sortWith((a, b) => idLess(a.get(1), b.get(1)))
        .zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq.tail) }
      val base = 4 + numFieldNames.size + attrs.size
      val termPostings = (for (r <- rows; j <- present.indices;
          tp <- r.getSeq[Row](base + j))
        yield (tp.getString(0), (r.getLong(0), tp.getSeq[Int](1).toArray)))
        .groupBy(_._1).map { case (term, ps) => term -> ps.map(_._2) }
      // one zero centroid holding every point: a probe is an exact scan,
      // its distance the plain L2 over the query's dims
      val served = ServedIvfIndex.assemble(
        Array(0 -> new Array[Double](coll.config.numFeatures)), rows.length,
        points(rows), rows.map(r => 0 -> r.getLong(0)))
      view("unflushed tail", rows, numFieldNames, attrs, served, termPostings,
        hasPositions = true, lensOf = Map.empty, flushed = false)
    }.filter(_.docOf.nonEmpty)
    new ServedUserView(segs ++ tail, fieldLang,
      coll.config.attributeSchema.filter(_.kind == "keyword").map(_.name).toSet,
      numFieldNames.toSet)
  }
}
