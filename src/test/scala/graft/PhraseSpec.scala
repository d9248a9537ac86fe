package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{AttrField, Collection, CollectionConfig}
import graft.functions.GraftFunctions._
import graft.operators.{DocFilter, FilterCompiler, Gen, SearchParams}

/** Phrase/proximity queries over the positions-bearing term index —
  * beyond the reference (its term index stores point ids only,
  * rs/index/src/segment/mutable_segment.rs:73-103). Pins:
  * term_postings position arithmetic, the shifted-intersection phrase
  * join, the Near window test, parity with an independent naive
  * sliding-window scan, the flushed-segment + unflushed-tail paths
  * through Snapshot.termSearch, and the descriptive failure on a
  * positions-less terms table. */
class PhraseSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, text) => (0L, id, text) }
      .toDF("user_id", "point_id", "text")

  private def termsPos(df: DataFrame): DataFrame =
    Gen.explodeOnce(df.withColumn("_toks", analyze_text(col("text"))),
      Seq(col("user_id"), col("point_id")),
      term_postings("text", col("_toks")), "tp")
      .select(col("user_id"), col("tp.term").as("term"), col("point_id"),
        col("tp.positions").as("positions"))

  private def universe(df: DataFrame): DataFrame =
    df.select("user_id", "point_id")

  private def pts(df: DataFrame): Seq[Long] =
    df.select("point_id").collect().map(_.getLong(0)).sorted.toSeq

  test("term_postings: distinct terms, 0-based ascending positions") {
    val tp = termsPos(docs(1L -> "a b a c b a"))
      .collect().map(r => r.getString(1) -> r.getSeq[Int](3).toSeq).toMap
    assert(tp === Map(
      "text:a" -> Seq(0, 2, 5), "text:b" -> Seq(1, 4), "text:c" -> Seq(3)))
  }

  test("phrase: consecutive matches, order matters, gaps don't match") {
    val d = docs(
      1L -> "merge join is fast",     // phrase present
      2L -> "join merge",             // reversed
      3L -> "merge the join",         // gap
      4L -> "fast merge join")        // phrase present, later offset
    val t = termsPos(d)
    val got = FilterCompiler.compile(
      DocFilter.Phrase("text", "merge join"), t, universe(d))
    assert(pts(got) === Seq(1L, 4L))
  }

  test("three-token phrase folds the intersection across all legs") {
    val d = docs(
      1L -> "sort merge join wins",
      2L -> "merge join sort",        // all tokens, wrong order
      3L -> "sort merge quick join")  // gap in the middle
    val t = termsPos(d)
    val got = FilterCompiler.compile(
      DocFilter.Phrase("text", "sort merge join"), t, universe(d))
    assert(pts(got) === Seq(1L))
  }

  test("single-token phrase degrades to Contains; empty phrase to empty") {
    val d = docs(1L -> "alpha beta", 2L -> "gamma")
    val t = termsPos(d)
    val phrase = FilterCompiler.compile(
      DocFilter.Phrase("text", "alpha"), t, universe(d))
    val contains = FilterCompiler.compile(
      DocFilter.Contains("text", "alpha"), t, universe(d))
    assert(pts(phrase) === pts(contains))
    assert(pts(FilterCompiler.compile(
      DocFilter.Phrase("text", "   "), t, universe(d))).isEmpty)
  }

  test("phrase repeated token: 'go go' needs genuinely consecutive occurrences") {
    val d = docs(
      1L -> "go stop go",  // two 'go's, never adjacent
      2L -> "stop go go")  // adjacent
    val t = termsPos(d)
    val got = FilterCompiler.compile(
      DocFilter.Phrase("text", "go go"), t, universe(d))
    assert(pts(got) === Seq(2L))
  }

  test("near: unordered window, inclusive bound, symmetric") {
    val d = docs(
      1L -> "hash x x join",   // distance 3
      2L -> "join x hash",     // distance 2, reversed order
      3L -> "hash x x x join", // distance 4 — outside w=3
      4L -> "hash join")       // adjacent
    val t = termsPos(d)
    val got = FilterCompiler.compile(
      DocFilter.Near("text", "hash", "join", 3), t, universe(d))
    assert(pts(got) === Seq(1L, 2L, 4L))
    val flipped = FilterCompiler.compile(
      DocFilter.Near("text", "join", "hash", 3), t, universe(d))
    assert(pts(flipped) === pts(got))
  }

  test("phrase/near parity with an independent naive sliding-window scan") {
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("merge", "join", "hash", "scan", "sort", "x")
    val corpus = (0L until 200L).map(i =>
      i -> Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val d = docs(corpus: _*)
    val t = termsPos(d)
    val phrase = Seq("merge", "join")
    val naivePhrase = corpus.collect { case (id, text)
      if text.split(" ").sliding(2).exists(_.sameElements(phrase)) => id }
    assert(pts(FilterCompiler.compile(
      DocFilter.Phrase("text", "merge join"), t, universe(d))) === naivePhrase)
    val w = 2
    val naiveNear = corpus.collect { case (id, text)
      if {
        val toks = text.split(" ")
        toks.indices.exists(i => toks(i) == "hash" &&
          toks.indices.exists(j => toks(j) == "scan" && math.abs(i - j) <= w))
      } => id }
    assert(pts(FilterCompiler.compile(
      DocFilter.Near("text", "hash", "scan", w), t, universe(d))) === naiveNear)
  }

  test("near: multi-token operands fail loudly instead of silently truncating") {
    // round-14 advice: an HTTP client sending {near:{left:"merge join"}}
    // used to get a proximity query on "merge" only — no error. The
    // single-term contract is now enforced at BOTH chokepoints: normalize
    // (every guarded surface) and the direct compile path.
    val e1 = intercept[IllegalArgumentException] {
      DocFilter.normalize(
        DocFilter.Near("text", "merge join", "hash", 3), _ => false)
    }
    assert(e1.getMessage.contains("single term"))
    val e2 = intercept[IllegalArgumentException] {
      DocFilter.normalize(
        DocFilter.Near("text", "hash", "merge join", 3), _ => false)
    }
    assert(e2.getMessage.contains("single term"))
    // direct compile (no normalize): same refusal
    val d = docs(1L -> "merge join hash")
    val t = termsPos(d)
    val e3 = intercept[IllegalArgumentException] {
      FilterCompiler.compile(
        DocFilter.Near("text", "merge join", "hash", 3), t, universe(d)).count()
    }
    assert(e3.getMessage.contains("single terms"))
    // single-token operands keep working through normalize
    val ok = DocFilter.normalize(DocFilter.Near("text", "merge", "hash", 3), _ => false)
    assert(pts(FilterCompiler.compile(ok, t, universe(d))) === Seq(1L))
  }

  test("positions-less terms table fails with a descriptive error") {
    val t = Seq((0L, "text:a", 1L)).toDF("user_id", "term", "point_id")
    val u = Seq((0L, 1L)).toDF("user_id", "point_id")
    val e = intercept[IllegalArgumentException] {
      FilterCompiler.compile(DocFilter.Phrase("text", "a b"), t, u)
    }
    assert(e.getMessage.contains("positions"))
  }

  test("collection termSearch: phrase over flushed segment AND unflushed tail") {
    val base = Files.createTempDirectory("graft_phrase").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "cp", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"))))
    val flushed = Seq(
      (0L, 1L, Seq(1.0, 0.0), "fast merge join plan"),
      (0L, 2L, Seq(0.0, 1.0), "join then merge later"),
      (0L, 3L, Seq(1.0, 1.0), "nothing here"))
      .toDF("user_id", "doc_id", "vector", "content")
    coll.insert(flushed)
    coll.flush()
    // tail doc with the phrase stays unflushed — exercises compileRaw
    coll.insert(Seq((0L, 4L, Seq(0.5, 0.5), "another merge join here"))
      .toDF("user_id", "doc_id", "vector", "content"))
    val snap = coll.snapshot()
    val got = snap.termSearch(DocFilter.Phrase("content", "merge join"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(got === Seq(1L, 4L))
    val near = snap.termSearch(DocFilter.Near("content", "join", "merge", 2), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(near === Seq(1L, 2L, 4L))
    // stemming symmetry: inflected phrase stems to the indexed terms
    val stemmed = snap.termSearch(DocFilter.Phrase("content", "merges joins"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(stemmed === Seq(1L, 4L))

    // served (zero-Spark-jobs) parity across segment AND tail paths,
    // including the three-token fold (common-anchor, not pairwise)
    coll.insert(Seq((0L, 5L, Seq(0.2, 0.8), "sort merge join tail"),
      (0L, 6L, Seq(0.8, 0.2), "sort merge quick join tail"))
      .toDF("user_id", "doc_id", "vector", "content"))
    val snap2 = coll.snapshot()
    val served = coll.serveUser(0L)
    for (f <- Seq(
        DocFilter.Phrase("content", "merge join"),
        DocFilter.Phrase("content", "sort merge join"),
        DocFilter.Near("content", "join", "merge", 2),
        DocFilter.And(Seq(
          DocFilter.Phrase("content", "merge join"),
          DocFilter.NotContains("content", "plan"))))) {
      val dist = snap2.termSearch(f, limit = 10)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val srv = served.termSearch(f, limit = 10).map(_.asInstanceOf[Long])
      assert(srv === dist, s"served parity for $f")
    }
  }

  test("prefix/fuzzy: flushed + tail + served parity, JSON surface, keyword kind") {
    val base = Files.createTempDirectory("graft_prefix_fuzzy").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "pf", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("tag", "keyword"), AttrField("chars", "long"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs", "red label", 15L),
      (0L, 2L, Seq(0.0, 1.0), "merge join here", "blue label", 14L),
      (0L, 3L, Seq(1.0, 1.0), "sort and agg", "red stripe", 11L))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    coll.flush()
    // tail docs exercise compileRaw + the served tail mirror
    coll.insert(Seq(
      (0L, 4L, Seq(0.5, 0.5), "small stream again", "reddish", 17L),
      (0L, 5L, Seq(0.6, 0.4), "nothing relevant", "blue", 16L))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    val snap = coll.snapshot()
    val served = coll.serveUser(0L)
    def dist(f: DocFilter): Seq[Long] = snap.termSearch(f, limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    def srv(f: DocFilter): Seq[Long] =
      served.termSearch(f, limit = 10).map(_.asInstanceOf[Long])
    // text prefix: s-> {stream(1,4), sort(3), scan(1), small(4)}
    val cases: Seq[(DocFilter, Seq[Long])] = Seq(
      DocFilter.Prefix("content", "s") -> Seq(1L, 3L, 4L),
      DocFilter.Prefix("content", "st") -> Seq(1L, 4L),
      // stems: "runs" indexes as content:run — the unanalyzed fragment
      // "run" still matches it
      DocFilter.Prefix("content", "run") -> Seq(1L),
      // keyword prefix matches the WHOLE value's prefix, spaces legal
      DocFilter.Prefix("tag", "red") -> Seq(1L, 3L, 4L),
      DocFilter.Prefix("tag", "red s") -> Seq(3L),
      // fuzzy over the analyzed dictionary: sort~1 = sort only;
      // agg~2 expands to {agg, and(2)} rows -> doc 3
      DocFilter.Fuzzy("content", "sort", 1) -> Seq(3L),
      // keyword fuzzy: whole-value distance ("blue" ~1 "blue" only —
      // "blue label" is 6 edits away)
      DocFilter.Fuzzy("tag", "blue", 1) -> Seq(5L),
      // regex over the analyzed dictionary: anchored full-token —
      // `s.an` is scan only; alternation spans the dictionary
      DocFilter.Regex("content", "s.an") -> Seq(1L),
      DocFilter.Regex("content", "small|sort") -> Seq(3L, 4L),
      // wildcard on a keyword field matches the WHOLE value
      DocFilter.Wildcard("tag", "red*") -> Seq(1L, 3L, 4L),
      DocFilter.Wildcard("tag", "*label") -> Seq(1L, 2L),
      // numeric range over the attribute column, spanning flushed + tail
      DocFilter.Range("chars", Some(14), Some(16)) -> Seq(1L, 2L, 5L),
      DocFilter.Range("chars", None, Some(11)) -> Seq(3L),
      // range composed with a dictionary leaf through the algebra
      DocFilter.And(Seq(
        DocFilter.Prefix("content", "s"),
        DocFilter.Range("chars", Some(15), None))) -> Seq(1L, 4L),
      // composition through the algebra
      DocFilter.And(Seq(
        DocFilter.Prefix("content", "s"),
        DocFilter.NotContains("content", "sort"))) -> Seq(1L, 4L))
    for ((f, want) <- cases) {
      assert(dist(f) === want, s"distributed $f")
      assert(srv(f) === want, s"served $f")
    }
    // HTTP/SQL JSON surface round-trips both shapes
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"prefix": {"path": "content", "value": "st"}}"""))
      === DocFilter.Prefix("content", "st"))
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"fuzzy": {"field": "content", "value": "sort", "max_dist": 2}}"""))
      === DocFilter.Fuzzy("content", "sort", 2))
    // default max_dist = 1
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"fuzzy": {"field": "content", "value": "sort"}}"""))
      === DocFilter.Fuzzy("content", "sort", 1))
    // range + regexp + wildcard JSON shapes
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"range": {"field": "chars", "gte": 14, "lte": 16}}"""))
      === DocFilter.Range("chars", Some(14.0), Some(16.0)))
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"range": {"path": "chars", "gte": 10}}"""))
      === DocFilter.Range("chars", Some(10.0), None))
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"regexp": {"field": "content", "value": "s.an"}}"""))
      === DocFilter.Regex("content", "s.an"))
    assert(graft.api.FilterJson.parse(graft.api.Json.parse(
      """{"wildcard": {"field": "content", "value": "s*"}}"""))
      === DocFilter.Wildcard("content", "s*"))
    // range facets over the newest-wins match set: prefix-s docs {1,3,4}
    // with chars {15,11,17} histogrammed into half-open buckets; value 15
    // lands in [15,20), not [10,15) — the boundary is exclusive on hi
    val fr = snap.facetRanges(DocFilter.Prefix("content", "s"), "chars",
      Seq((10.0, 15.0), (15.0, 20.0)))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(fr === Seq((10.0, 15.0, 1L), (15.0, 20.0, 2L)))
    // a field that is not a numeric schema attribute refuses by name
    // (round-15 ADVICE: all-zero counts were indistinguishable from a
    // genuinely empty match over HTTP)
    val eNope = intercept[IllegalArgumentException] {
      snap.facetRanges(DocFilter.Prefix("content", "s"), "nope",
        Seq((0.0, 100.0)))
    }
    assert(eNope.getMessage.contains("'nope'") &&
      eNope.getMessage.contains("numeric attribute"))
    // hybrid ANN + range filter through the snapshot search path (F8/J4
    // with a numeric leaf): nearest under chars<=14 is doc 2's vector
    val hybrid = snap.search(Seq(0.0, 1.0),
      graft.operators.SearchParams(topK = 1,
        numExploredCentroids = Some(Int.MaxValue), centroidDistanceRatio = 1e18),
      filter = Some(DocFilter.Range("chars", None, Some(14))))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(hybrid === Seq(2L))
  }

  test("Range over a pre-attribute segment: error names it; merge fills nulls") {
    // schema evolution through the plain API: the first batch was
    // inserted WITHOUT the numeric column (legitimate — attrs are
    // per-insert), so seg_1's vectors table lacks it. A Range filter
    // must fail NAMING seg_1 (the positions-map pattern), not with an
    // anonymous universe require; merge() is the upgrade and fills
    // nulls, which never match.
    val base = Files.createTempDirectory("graft_range_mixed").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "rm", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("chars", "long"))))
    coll.insert(Seq((0L, 1L, Seq(1.0, 0.0), "old doc one"))
      .toDF("user_id", "doc_id", "vector", "content")) // no chars column
    coll.flush() // seg_1: pre-attribute
    coll.insert(Seq((0L, 2L, Seq(0.0, 1.0), "new doc two", 20L))
      .toDF("user_id", "doc_id", "vector", "content", "chars"))
    coll.flush() // seg_2: carries chars
    val snap = coll.snapshot()
    val e = intercept[IllegalArgumentException] {
      snap.termSearch(DocFilter.Range("chars", Some(10), None), limit = 10)
    }
    assert(e.getMessage.contains("seg_1") && !e.getMessage.contains("seg_2"))
    assert(e.getMessage.contains("merge"))
    // a range over a field that is not a numeric KIND refuses by name
    val e2 = intercept[IllegalArgumentException] {
      snap.termSearch(DocFilter.Range("content", Some(1), None), limit = 10)
    }
    assert(e2.getMessage.contains("numeric attribute"))
    // SERVED parity for the capability contract (round-15 ADVICE): the
    // same filter JSON must not give a loud error on /term_search but
    // silently-empty results on /serve_term_search
    val servedPre = coll.serveUser(0L)
    val e3 = intercept[IllegalArgumentException] {
      servedPre.termSearch(DocFilter.Range("chars", Some(10), None), limit = 10)
    }
    assert(e3.getMessage.contains("seg_1") && !e3.getMessage.contains("seg_2"))
    assert(e3.getMessage.contains("merge"))
    val e4 = intercept[IllegalArgumentException] {
      servedPre.termSearch(DocFilter.Range("content", Some(1), None), limit = 10)
    }
    assert(e4.getMessage.contains("numeric attribute"))
    val e5 = intercept[IllegalArgumentException] {
      servedPre.search(Array(0.0, 1.0), k = 1, nprobe = 10,
        filter = Some(DocFilter.Range("chars", Some(10), None)))
    }
    assert(e5.getMessage.contains("seg_1"))
    // the documented upgrade: merge() unions with missing columns as
    // nulls; doc 1's null chars never matches, doc 2's 20 does
    coll.merge()
    val got = coll.snapshot()
      .termSearch(DocFilter.Range("chars", Some(10), None), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L))
    // non-range queries were never blocked by the mixed schema
    assert(coll.snapshot().termSearch(DocFilter.Contains("content", "doc"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
    // the rebuilt segment serves ranges too (capability restored)
    assert(coll.serveUser(0L)
      .termSearch(DocFilter.Range("chars", Some(10), None), limit = 10)
      .map(_.asInstanceOf[Long]) === Seq(2L))
  }

  test("bigram prefilter bound is SOUND: never drops a term within maxDist edits") {
    // the q-gram bound the fuzzy pl=0 prefilter relies on (round-15
    // verdict #6): one edit touches at most two of the token's DISTINCT
    // bigrams, so a term within d edits contains >= distinct(token
    // bigrams) - 2d of them. Property-checked against the pinned
    // editDistance (itself pinned equal to Spark's levenshtein), over a
    // small alphabet to force dense collisions and repeated bigrams.
    def bound(token: String, term: String, d: Int): Boolean = {
      val bigs = token.sliding(2).filter(_.length == 2).toSeq.distinct
      val thr = bigs.size - 2 * d
      thr < 1 || bigs.count(term.contains(_)) >= thr
    }
    val r = new scala.util.Random(42)
    val alpha = "abcde"
    def randTok(n: Int) = Seq.fill(n)(alpha(r.nextInt(alpha.length))).mkString
    var inDist = 0
    for (_ <- 1 to 5000) {
      val token = randTok(2 + r.nextInt(9))
      val term = randTok(2 + r.nextInt(9))
      for (d <- 1 to 2)
        if (graft.core.ServedUserView.editDistance(term, token) <= d) {
          inDist += 1
          assert(bound(token, term, d),
            s"prefilter would drop '$term' within $d edits of '$token'")
        }
    }
    assert(inDist > 100, s"property exercised only $inDist in-distance pairs")
    // and it does PRUNE: a term sharing no bigram with a long token fails
    assert(!bound("abcabc", "eeeeee", 1))
  }

  test("served facetRanges + suggest mirror the distributed snapshot (newest-wins)") {
    // round-15 verdict #7: the aggregation surfaces get zero-Spark-jobs
    // served mirrors with IDENTICAL semantics — newest-wins match set,
    // newest row supplies the value/terms, deletes drop docs, tail rows
    // and keyword fields included, caller's bucket order preserved.
    val base = Files.createTempDirectory("graft_served_agg").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "sa", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("tag", "keyword"), AttrField("chars", "long"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs", "red label", 15L),
      (0L, 2L, Seq(0.0, 1.0), "merge join here", "blue label", 14L),
      (0L, 3L, Seq(1.0, 1.0), "sort and agg", "red stripe", 11L))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    coll.flush()
    // re-insert doc 1 with DIFFERENT text and value: its OLD terms
    // ("scan", "runs") and old chars=15 must count NOWHERE (newest-wins)
    // the second segment also holds doc 7, whose numeric attribute is
    // null (absent from Range and facet buckets), and doc 6, deleted and
    // re-inserted before the flush: both of its rows land in this one
    // segment and only the re-insert (newer src_batch) is live — its old
    // text ("scan") and value must count nowhere
    coll.insert(Seq(
      (0L, 1L, Seq(0.9, 0.1), "merged streams", "red", Option(25L)),
      (0L, 4L, Seq(0.5, 0.5), "small stream again", "reddish", Option(17L)),
      (0L, 6L, Seq(0.2, 0.8), "scan stream six", "green", Option(12L)),
      (0L, 7L, Seq(0.3, 0.3), "stream seven", "red", Option.empty[Long]))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    coll.delete(Seq((0L, 6L)).toDF("user_id", "doc_id"))
    coll.insert(Seq(
      (0L, 6L, Seq(0.25, 0.75), "merge six again", "blue", Option(19L)))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    coll.flush()
    coll.delete(Seq((0L, 3L)).toDF("user_id", "doc_id")) // drops doc 3
    // unflushed tail doc (read-your-writes on both paths)
    coll.insert(Seq(
      (0L, 5L, Seq(0.6, 0.4), "stream tail doc", "blue", 16L))
      .toDF("user_id", "doc_id", "vector", "content", "tag", "chars"))
    val snap = coll.snapshot()
    val served = coll.serveUser(0L)
    // facetRanges parity across filters and bucket shapes (incl. request
    // order and overlapping buckets)
    val bucketSets = Seq(
      Seq((10.0, 15.0), (15.0, 20.0), (20.0, 30.0)),
      Seq((20.0, 30.0), (10.0, 20.0)), // request order, not sorted
      Seq((0.0, 100.0), (14.0, 18.0))) // overlapping
    val filters = Seq(
      DocFilter.Prefix("content", "s"),
      DocFilter.Contains("content", "stream"),
      DocFilter.And(Nil), // match-all
      DocFilter.Contains("content", "scan")) // only doc 1's SUPERSEDED text
    for (f <- filters; buckets <- bucketSets) {
      val dist = snap.facetRanges(f, "chars", buckets)
        .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq
      val srv = served.facetRanges(f, "chars", buckets)
        .map { case ((lo, hi), n) => (lo, hi, n) }
      assert(srv === dist, s"facetRanges parity for $f / $buckets")
    }
    // vector parity: the same collect's vectors and doc ids feed the
    // serving index (full probe, so both paths are exact)
    val q = Array(0.3, 0.6)
    val distVec = snap.search(q.toSeq, graft.operators.SearchParams(topK = 5,
        numExploredCentroids = Some(Int.MaxValue), centroidDistanceRatio = 1e18),
        userIds = Seq(0L))
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6))).toSeq
    val srvVec = served.search(q, k = 5, nprobe = Int.MaxValue)
      .map { case (id, d) => (id.asInstanceOf[Long], math.round(d * 1e6)) }
    assert(srvVec === distVec)
    assert(srvVec.map(_._1).count(_ == 6L) === 1)
    // the superseded-text filter really matches nothing (newest-wins)
    assert(served.facetRanges(DocFilter.Contains("content", "scan"), "chars",
      Seq((0.0, 100.0))).map(_._2) === Seq(0L))
    // suggest parity: text field (analyzed), keyword field (whole value),
    // ranking (distance asc, n_docs desc, term asc), top-k cut
    for ((field, input, k, maxDist) <- Seq(
        ("content", "stream", 5, 2), ("content", "merg", 5, 2),
        ("content", "sord", 3, 1), ("content", "stream", 1, 2),
        ("tag", "red", 5, 2), ("tag", "blue", 5, 1))) {
      val dist = snap.suggest(field, input, k, maxDist)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val srv = served.suggest(field, input, k, maxDist)
      assert(srv === dist, s"suggest parity for $field/$input/$k/$maxDist")
    }
    // deleted doc 3's terms ("sort") suggest nowhere on either path
    assert(snap.suggest("content", "sort", 5, 0).count() === 0L)
    assert(served.suggest("content", "sort", 5, 0) === Nil)
    // facetCounts parity: keyword, numeric (string-cast on the ORIGINAL
    // column type — 25 reads "25", never "25.0"), and raw-text buckets
    for (field <- Seq("tag", "chars", "content"); f <- filters) {
      val dist = snap.facetCounts(f, field, k = 10)
        .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
      val srv = served.facetCounts(f, field, k = 10)
      assert(srv === dist, s"facetCounts parity for $f on $field")
    }
    // termStats parity: full dictionary, field-range, keyword and typo'd
    // prefixes — counts NEWEST-WINS on both paths
    for (prefix <- Seq("", "content:s", "tag:", "content:merg", "nope:")) {
      val dist = snap.termStats(prefix, k = 50)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val srv = served.termStats(prefix, k = 50)
      assert(srv === dist, s"termStats parity for '$prefix'")
    }
    // doc 1's superseded terms are out of the dictionary on both paths
    assert(served.termStats("content:scan", 10) === Nil)
    // validation parity: non-numeric facet field refuses on both paths
    val ed = intercept[IllegalArgumentException] {
      snap.facetRanges(DocFilter.And(Nil), "content", Seq((0.0, 1.0))) }
    val es = intercept[IllegalArgumentException] {
      served.facetRanges(DocFilter.And(Nil), "content", Seq((0.0, 1.0))) }
    assert(ed.getMessage.contains("numeric attribute") &&
      es.getMessage.contains("numeric attribute"))
    // multi-token suggest input refuses on both paths (the Near rule)
    val em = intercept[IllegalArgumentException] {
      served.suggest("content", "merge joni") }
    assert(em.getMessage.contains("single term"))
  }

  test("mixed positionless segment: capability map + error names it; merge upgrades") {
    // round-14 verdict #8: a collection holding segments flushed before
    // the positions column landed failed only at phrase-query time with
    // an anonymous schema require. Simulate the legacy layout by
    // rewriting one segment's term index WITHOUT positions, then pin:
    // capability map, a loud error NAMING the segment, non-positional
    // queries unaffected, and merge() as the transparent upgrade.
    val base = Files.createTempDirectory("graft_phrase_mixed").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "cm", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "legacy merge join doc"),
      (0L, 2L, Seq(0.0, 1.0), "legacy other doc"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush() // seg_1 — will be surgically downgraded
    coll.insert(Seq(
      (0L, 3L, Seq(1.0, 1.0), "modern merge join doc"),
      (0L, 4L, Seq(0.5, 0.5), "modern plain doc"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush() // seg_2 — keeps positions
    // surgery: rewrite seg_1's terms without the positions column (the
    // pre-positions on-disk format); segments are immutable in production
    // — this simulates data written by an older release
    val termsDir = s"$base/cm/segments/seg_1/terms"
    val legacy = spark.read.parquet(termsDir).drop("positions")
    val tmp = Files.createTempDirectory("graft_legacy_terms").toString
    legacy.write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(termsDir))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(tmp), new java.io.File(termsDir))
    val reopened = Collection.openPersisted(spark, base, "cm")
    val snap = reopened.snapshot()
    assert(snap.positionsCapability === Map("seg_1" -> false, "seg_2" -> true))
    // positional query: loud, names exactly the segment to re-flush
    val e = intercept[IllegalArgumentException] {
      snap.termSearch(DocFilter.Phrase("content", "merge join"), limit = 10)
    }
    assert(e.getMessage.contains("seg_1") && !e.getMessage.contains("seg_2"))
    assert(e.getMessage.contains("merge"))
    // non-positional queries are untouched by the downgrade
    assert(snap.termSearch(DocFilter.Contains("content", "legacy"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
    // the documented upgrade: merge() rebuilds WITH positions
    reopened.merge()
    val snap2 = reopened.snapshot()
    assert(snap2.positionsCapability.values.forall(identity))
    assert(snap2.termSearch(DocFilter.Phrase("content", "merge join"), limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 3L))
  }

  test("phrase_position + snippet_around: anchors, bounds clamping, null on no match") {
    val df = Seq(
      (1L, "merge join starts the doc"),          // match at position 1
      (2L, "the doc ends with merge join"),       // match at the end
      (3L, "one two merge join five six seven"),  // interior match
      (4L, "merge only, join elsewhere merge"),   // no adjacent pair
      (5L, ""))                                   // empty text
      .toDF("id", "text")
      .withColumn("toks", tokenize(col("text")))
    val byId = df.select(col("id"),
        phrase_position(col("toks"), Seq("merge", "join")).as("anchor"),
        snippet_around(col("toks"),
          phrase_position(col("toks"), Seq("merge", "join")), 2, 2).as("snip"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getString(2))))).toMap
    assert(byId(1L) === Some((1, "merge join starts the")))    // start clamp
    assert(byId(2L) === Some((5, "ends with merge join")))     // end clamp
    assert(byId(3L) === Some((3, "one two merge join five six"))) // full window
    assert(byId(4L) === None)
    assert(byId(5L) === None)
  }

  test("keyword-kind fields: schema-driven normalization keeps tail and index in agreement") {
    // Review finding: a filter whose keyword flag disagrees with the
    // field KIND used to match in the unflushed tail (raw analysis) but
    // never in flushed segments (kind-built index) — the result set
    // flipped across a flush. DocFilter.normalize derives the effective
    // flag from the schema at every collection entry point.
    val base = Files.createTempDirectory("graft_kwnorm").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "kw", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(
        AttrField("content", "text", "english"),
        AttrField("tag", "keyword", "english"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "merge join text", "red or blue"),
      (0L, 2L, Seq(0.0, 1.0), "other text here", "green"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    def ids(f: DocFilter): Seq[Long] = coll.snapshot().termSearch(f, limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    def servedIds(f: DocFilter): Seq[Any] = coll.serveUser(0L).termSearch(f, limit = 10)
    // whole-value equality regardless of the caller's flag, tail phase...
    val eqFlagless = DocFilter.Contains("tag", "red or blue", keyword = false)
    val phraseTag = DocFilter.Phrase("tag", "red or blue", keyword = false)
    val partial = DocFilter.Contains("tag", "red", keyword = false)
    assert(ids(eqFlagless) === Seq(1L))
    assert(ids(phraseTag) === Seq(1L)) // keyword Phrase degrades to equality
    assert(ids(partial) === Nil)       // no sub-token matching on keyword kind
    coll.flush()
    // ...and identically after the flush (the old bug: tail matched,
    // segment didn't) — distributed AND served paths
    assert(ids(eqFlagless) === Seq(1L))
    assert(ids(phraseTag) === Seq(1L))
    assert(ids(partial) === Nil)
    assert(servedIds(eqFlagless) === Seq(1L))
    assert(servedIds(phraseTag) === Seq(1L))
    assert(servedIds(partial) === Nil)
    // Near is position-based: rejected loudly on a keyword field, every path
    val near = DocFilter.Near("tag", "red", "blue", 2)
    intercept[IllegalArgumentException](ids(near))
    intercept[IllegalArgumentException](servedIds(near))
    // facets normalize too (entry via matchedDocs)
    assert(coll.snapshot().facetCounts(eqFlagless, "tag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq("red or blue" -> 1L))
  }

  test("served segment phrase: three-token fold needs one common anchor") {
    // flushed (not tail) doc where every adjacent pair of the phrase
    // occurs but never the full run — pairwise intersection would pass,
    // the common-anchor fold must not
    val base = Files.createTempDirectory("graft_phrase3").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "cp3", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"))))
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "a b x a y c and later b c"), // a-b, b-c adjacent; no a b c
      (0L, 2L, Seq(0.0, 1.0), "z a b c z"))                 // the real phrase
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    val f = DocFilter.Phrase("content", "a b c")
    assert(coll.snapshot().termSearch(f, limit = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(coll.serveUser(0L).termSearch(f, limit = 10) === Seq(2L))
  }

  test("BM25 rankedSearch: index == pipeline twin; served mirror; newest-wins; lens fallback") {
    // round 16: ranked retrieval over the persisted term index. The field
    // is lang="none" (lowercase passthrough), so the collection path and
    // the raw-documents pipeline path (TextPipeline.bm25TopK) run the
    // same analysis and must score IDENTICALLY on the live corpus.
    val base = Files.createTempDirectory("graft_bm25").toString
    val cfg = CollectionConfig(
      name = "bm", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none")))
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs fast"),
      (0L, 2L, Seq(0.0, 1.0), "merge join merge hash"),
      (0L, 3L, Seq(1.0, 1.0), "sort and agg all day long"),
      (0L, 4L, Seq(0.2, 0.8), "merge stream windows"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    // re-insert doc 1 with DIFFERENT text (second segment): its old
    // terms must score NOWHERE — tf, dl, df and N all newest-wins
    coll.insert(Seq((0L, 1L, Seq(0.9, 0.1), "merged streams only"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    coll.delete(Seq((0L, 3L)).toDF("user_id", "doc_id"))
    // unflushed tail doc: read-your-writes on the ranked path too
    coll.insert(Seq((0L, 5L, Seq(0.6, 0.4), "stream stream merge tail"))
      .toDF("user_id", "doc_id", "vector", "content"))
    val snap = coll.snapshot()

    // the live corpus exactly as a raw-docs pipeline would see it
    val live = Seq(
      (1L, "merged streams only"),
      (2L, "merge join merge hash"),
      (4L, "merge stream windows"),
      (5L, "stream stream merge tail")).toDF("doc_id", "text")
    def dist(q: String, k: Int): Seq[(Long, Double, Long)] =
      snap.rankedSearch("content", q, k)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    def twin(terms: Seq[String], k: Int): Seq[(Long, Double, Long)] =
      graft.operators.TextPipeline.bm25TopK(live, terms, k = k)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    for ((q, terms) <- Seq(
        "merge stream" -> Seq("merge", "stream"),
        "merge" -> Seq("merge"),
        "tail" -> Seq("tail"),
        "scan" -> Seq("scan"))) { // doc 1's superseded text: nothing
      assert(dist(q, 10) === twin(terms, 10), s"pipeline parity for '$q'")
    }
    assert(dist("merge stream", 10).nonEmpty) // the parity isn't vacuous
    assert(dist("scan", 10).isEmpty)

    // served mirror: zero Spark jobs, identical rows
    val served = coll.serveUser(0L)
    for (q <- Seq("merge stream", "merge", "tail", "scan")) {
      val s = served.rankedSearch("content", q, 10)
        .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
      assert(s === dist(q, 10), s"served parity for '$q'")
    }
    // more-like-this: collection path == pipeline twin == served mirror
    // (identical profile rounding/ties and retrieval arithmetic)
    for (seed <- Seq(1L, 2L, 5L)) { // segment-newest, original, tail seeds
      val expected = graft.operators.TextPipeline
        .moreLikeThis(live, seedId = seed, m = 3, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val seedDf = Seq((0L, seed)).toDF("user_id", "doc_id")
      val mlt = snap.moreLikeThis("content", seedDf, m = 3, k = 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(mlt === expected, s"collection MLT == pipeline MLT for seed $seed")
      assert(!mlt.map(_._1).contains(seed)) // never returns its own seed
      val smlt = served.moreLikeThis("content", seed, m = 3, k = 10)
        .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
      assert(smlt === expected, s"served MLT parity for seed $seed")
    }
    // a deleted seed fails loudly on both paths
    val d1 = intercept[IllegalArgumentException] {
      snap.moreLikeThis("content", Seq((0L, 3L)).toDF("user_id", "doc_id")) }
    assert(d1.getMessage.contains("one live seed row"))
    val d2 = intercept[IllegalArgumentException] {
      served.moreLikeThis("content", 3L) }
    assert(d2.getMessage.contains("no live doc"))

    // validation parity: unknown field refuses loudly on both paths
    val e1 = intercept[IllegalArgumentException] {
      snap.rankedSearch("nope", "x", 5) }
    val e2 = intercept[IllegalArgumentException] {
      served.rankedSearch("nope", "x", 5) }
    assert(e1.getMessage.contains("not a text/keyword attribute") &&
      e2.getMessage.contains("not a text/keyword attribute"))

    // lens fallback: strip the flush-persisted lens tables and re-open
    // (fresh capability memos) — the positions-derived lengths must give
    // identical answers on a corpus with no zero-token docs, on both the
    // distributed and the served path
    val before = dist("merge stream", 10)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    val segDirs = new java.io.File(s"$base/${cfg.name}/segments").listFiles()
    assert(segDirs != null && segDirs.nonEmpty)
    val stripped = segDirs.map(s => new java.io.File(s, "lens")).filter(_.exists())
    assert(stripped.nonEmpty) // the flush really persisted lens tables
    stripped.foreach(rm)
    val coll2 = Collection.open(spark, base, cfg)
    assert(coll2.snapshot().rankedSearch("content", "merge stream", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSeq === before)
    assert(coll2.serveUser(0L).rankedSearch("content", "merge stream", 10)
      .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) } === before)
  }

  test("uniqueKeys fast path: measured fact gates it; duplicate-key segment keeps newest-wins") {
    // round 16 (optimization): flush measures the duplicate-free
    // (user_id, doc_id) fact into meta.json; a single-segment, tail-free,
    // tombstone-free snapshot with the fact skips the newest-wins
    // machinery. Equivalence is pinned two ways: (a) a duplicate-free
    // flush records true and still matches the raw-docs pipeline twin;
    // (b) a segment holding TWO versions of a key (two insert batches,
    // one flush) records false, and newest-wins still holds — the exact
    // case a wrongly-true fact would corrupt.
    val base = Files.createTempDirectory("graft_bm25_uk").toString
    val cfg = CollectionConfig(
      name = "uk", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none")))
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs fast"),
      (0L, 2L, Seq(0.0, 1.0), "merge join merge hash"),
      (0L, 3L, Seq(0.2, 0.8), "merge stream windows"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    val meta = Files.readString(java.nio.file.Paths.get(
      s"$base/${cfg.name}/segments/seg_1/meta.json"))
    assert(meta.contains("\"uniqueKeys\": true"), meta)
    val live = Seq(
      (1L, "stream scan runs fast"),
      (2L, "merge join merge hash"),
      (3L, "merge stream windows")).toDF("doc_id", "text")
    def ranked(c: Collection, q: String): Seq[(Long, Double, Long)] =
      c.snapshot().rankedSearch("content", q, 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    def twin(corpus: DataFrame, terms: Seq[String]): Seq[(Long, Double, Long)] =
      graft.operators.TextPipeline.bm25TopK(corpus, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(ranked(coll, "merge stream") === twin(live, Seq("merge", "stream")))
    assert(coll.snapshot().termStats(k = 100).count() > 0)

    // (b) two versions of doc 1 land in ONE segment: fact must be false,
    // newest text wins everywhere (search, stats, facet-style matches)
    val base2 = Files.createTempDirectory("graft_bm25_uk2").toString
    val coll2 = Collection.create(spark, base2, cfg)
    coll2.insert(Seq((0L, 1L, Seq(1.0, 0.0), "alpha beta gamma"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll2.insert(Seq(
      (0L, 1L, Seq(0.9, 0.1), "delta epsilon"),
      (0L, 2L, Seq(0.0, 1.0), "alpha delta"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll2.flush()
    val meta2 = Files.readString(java.nio.file.Paths.get(
      s"$base2/${cfg.name}/segments/seg_1/meta.json"))
    assert(meta2.contains("\"uniqueKeys\": false"), meta2)
    // doc 1's superseded "alpha" must score nowhere; live corpus is the
    // newest versions only
    val live2 = Seq((1L, "delta epsilon"), (2L, "alpha delta")).toDF("doc_id", "text")
    assert(ranked(coll2, "alpha") === twin(live2, Seq("alpha")))
    assert(ranked(coll2, "alpha").map(_._1) === Seq(2L))
    assert(ranked(coll2, "delta") === twin(live2, Seq("delta")))
  }

  test("multi-segment fast path: measured disjointness gates it; overlapping flush keeps newest-wins") {
    // round 17: flush measures cross-segment key DISJOINTNESS against the
    // segments it will coexist with (disjoint.json) — a multi-flush,
    // tail-free, tombstone-free snapshot whose pairs are all proven skips
    // the newest-wins machinery. Pinned two ways: (a) two disjoint
    // flushes record the fact and match the raw-docs pipeline twin on a
    // query spanning both segments; (b) a second flush that REWRITES a
    // key from the first measures non-disjoint, and newest-wins still
    // serves the newer version — the exact case a wrongly-recorded fact
    // would corrupt.
    val cfg = CollectionConfig(
      name = "md", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none")))
    def ranked(c: Collection, q: String): Seq[(Long, Double, Long)] =
      c.snapshot().rankedSearch("content", q, 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    def twin(corpus: DataFrame, terms: Seq[String]): Seq[(Long, Double, Long)] =
      graft.operators.TextPipeline.bm25TopK(corpus, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

    // (a) disjoint append-only flushes
    val base = Files.createTempDirectory("graft_bm25_md").toString
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs fast"),
      (0L, 2L, Seq(0.0, 1.0), "merge join merge hash"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    coll.insert(Seq(
      (0L, 3L, Seq(0.2, 0.8), "merge stream windows"),
      (0L, 4L, Seq(0.4, 0.6), "hash scan stream"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    val dj = Files.readString(java.nio.file.Paths.get(
      s"$base/${cfg.name}/segments/seg_2/disjoint.json"))
    assert(dj.contains("seg_1"), dj)
    val live = Seq(
      (1L, "stream scan runs fast"), (2L, "merge join merge hash"),
      (3L, "merge stream windows"), (4L, "hash scan stream"))
      .toDF("doc_id", "text")
    assert(ranked(coll, "merge stream") === twin(live, Seq("merge", "stream")))
    assert(ranked(coll, "hash") === twin(live, Seq("hash")))
    // aggregation surface across segments agrees too (newest-wins set)
    assert(coll.snapshot().termStats(k = 100).count() > 0)

    // (b) overlapping key across flushes: fact must NOT cover the pair,
    // newest version wins everywhere
    val base2 = Files.createTempDirectory("graft_bm25_md2").toString
    val coll2 = Collection.create(spark, base2, cfg)
    coll2.insert(Seq((0L, 1L, Seq(1.0, 0.0), "alpha beta gamma"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll2.flush()
    coll2.insert(Seq(
      (0L, 1L, Seq(0.9, 0.1), "delta epsilon"),
      (0L, 2L, Seq(0.0, 1.0), "alpha delta"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll2.flush()
    val dj2 = Files.readString(java.nio.file.Paths.get(
      s"$base2/${cfg.name}/segments/seg_2/disjoint.json"))
    assert(!dj2.contains("seg_1"), dj2)
    val live2 = Seq((1L, "delta epsilon"), (2L, "alpha delta")).toDF("doc_id", "text")
    assert(ranked(coll2, "alpha") === twin(live2, Seq("alpha")))
    assert(ranked(coll2, "alpha").map(_._1) === Seq(2L))
    assert(ranked(coll2, "delta") === twin(live2, Seq("delta")))
  }

  test("tombstone-inert fast path: lingering tombstone files over compacted segments") {
    // round 17: tombstone FILES outlive the compaction that applied them
    // (older TOC versions still need them), so merge/vacuum measure "the
    // current tombstone set hides nothing in this segment" into
    // inert.json and snapshots whose every visible tombstone is covered
    // treat the set as empty. Pinned three ways: (a) a flush whose
    // segment CONTAINS tombstone-hidden rows records no fact and the
    // deleted doc stays hidden; (b) post-merge, the fact exists, the
    // tombstone files still exist, and results match the raw-docs twin
    // with the deleted doc still gone — the exact corruption a wrong
    // fact would cause; (c) a revival flush after the merge keeps full
    // equivalence on the multi-segment snapshot.
    val cfg = CollectionConfig(
      name = "ti", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none")))
    val base = Files.createTempDirectory("graft_bm25_ti").toString
    val coll = Collection.create(spark, base, cfg)
    def ranked(q: String): Seq[(Long, Double, Long)] =
      coll.snapshot().rankedSearch("content", q, 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    def twin(corpus: DataFrame, terms: Seq[String]): Seq[(Long, Double, Long)] =
      graft.operators.TextPipeline.bm25TopK(corpus, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "stream scan runs fast"),
      (0L, 2L, Seq(0.0, 1.0), "merge join merge hash"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.delete(Seq((0L, 2L)).toDF("user_id", "doc_id"))
    coll.flush() // segment physically CONTAINS hidden doc 2
    coll.insert(Seq((0L, 3L, Seq(0.2, 0.8), "merge stream windows"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush() // second segment, so the merge below is not a no-op
    val segDir = s"$base/${cfg.name}/segments/seg_1"
    assert(!Files.exists(java.nio.file.Paths.get(segDir, "inert.json")),
      "a segment holding tombstone-hidden rows must not certify inertness")
    val liveA = Seq((1L, "stream scan runs fast"), (3L, "merge stream windows"))
      .toDF("doc_id", "text")
    assert(ranked("merge stream") === twin(liveA, Seq("merge", "stream")))
    assert(!ranked("merge").map(_._1).contains(2L))

    coll.merge() // physically applies the tombstone; files linger
    val merged = coll.toc.segments.head
    assert(Files.exists(java.nio.file.Paths.get(
      s"$base/${cfg.name}/segments/$merged", "inert.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$base/${cfg.name}/tombstones")))
    assert(ranked("merge stream") === twin(liveA, Seq("merge", "stream")))
    assert(!ranked("merge").map(_._1).contains(2L))

    // revival after the merge: new flush is disjoint (merge dropped the
    // key) and inert (revived row postdates the tombstone)
    coll.insert(Seq((0L, 2L, Seq(0.5, 0.5), "merge revived"))
      .toDF("user_id", "doc_id", "vector", "content"))
    coll.flush()
    val liveB = Seq((1L, "stream scan runs fast"),
      (2L, "merge revived"), (3L, "merge stream windows"))
      .toDF("doc_id", "text")
    assert(ranked("merge stream") === twin(liveB, Seq("merge", "stream")))
    assert(ranked("revived").map(_._1) === Seq(2L))
  }

  test("rankedSearch analyzes the query with the index's stemmer; keyword fields match whole values") {
    val base = Files.createTempDirectory("graft_bm25_en").toString
    val cfg = CollectionConfig(
      name = "bmen", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("tag", "keyword")))
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "running shoes", "Red Label"),
      (0L, 2L, Seq(0.0, 1.0), "he runs daily and he runs far", "blue"),
      (0L, 3L, Seq(1.0, 1.0), "walking gear", "red label"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    coll.flush()
    val snap = coll.snapshot()
    // query-side stemming: "running" -> run, matching BOTH "running"
    // (doc 1) and "runs" x2 (doc 2) through the shared analyzer
    val r = snap.rankedSearch("content", "running", 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(r.map(_._1).toSet === Set(1L, 2L) && r.forall(_._2 === 1L))
    // keyword field: the WHOLE lowercased value is the term — docs 1 and
    // 3 tie exactly (same tf/dl/df) and break by doc_id
    val kwr = snap.rankedSearch("tag", "Red Label", 10)
      .collect().map(_.getLong(1)).toSeq
    assert(kwr === Seq(1L, 3L))
    // served mirrors of both
    val served = coll.serveUser(0L)
    assert(served.rankedSearch("content", "running", 10)
      .map(_._1.asInstanceOf[Long]).toSet === Set(1L, 2L))
    assert(served.rankedSearch("tag", "Red Label", 10)
      .map(_._1.asInstanceOf[Long]) === Seq(1L, 3L))
    // full parity on the english analyzer too (scores included)
    for (q <- Seq("running", "walking gear", "daily runs")) {
      val d = snap.rankedSearch("content", q, 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val s = served.rankedSearch("content", q, 10)
        .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
      assert(s === d, s"served parity for '$q'")
    }

    // multi-field boosts (rankedSearchFields): one field at weight 1.0
    // IS rankedSearch; disjoint fields combine additively over the
    // per-field ROUNDED scores with per-field stats
    val one = snap.rankedSearch("content", "running", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val oneF = snap.rankedSearchFields(Seq("content" -> 1.0), "running", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(oneF === one)
    val (tagDoc, tagScore) = snap.rankedSearch("tag", "blue", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).head
    val halfTag = snap.rankedSearchFields(
        Seq("content" -> 0.5, "tag" -> 0.5), "blue", 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(halfTag === Seq((tagDoc,
      BigDecimal(0.5 * tagScore)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, 1L)))
    // a tail doc matching BOTH fields (read-your-writes, n_fields_hit=2)
    // plus served parity on the combined surface
    coll.insert(Seq((0L, 4L, Seq(0.3, 0.7), "blue shoes for running", "blue"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    val snap2 = coll.snapshot()
    val served2 = coll.serveUser(0L)
    val both = snap2.rankedSearchFields(
        Seq("content" -> 0.7, "tag" -> 0.3), "blue", 10)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toMap
    assert(both(4L) === 2L && both(2L) === 1L) // doc 4 hits both fields
    for (q <- Seq("blue", "running", "blue gear")) {
      val dm = snap2.rankedSearchFields(
          Seq("content" -> 0.7, "tag" -> 0.3), q, 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val sm = served2.rankedSearchFields(
          Seq("content" -> 0.7, "tag" -> 0.3), q, 10)
        .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
      assert(sm === dm, s"multi-field served parity for '$q'")
    }
  }

  test("ranked retrieval filter context: restricts results, never scores, on both paths") {
    val base = Files.createTempDirectory("graft_bm25_filt").toString
    val cfg = CollectionConfig(
      name = "bmf", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none"),
        AttrField("tag", "keyword")))
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "merge sort stream", "red"),
      (0L, 2L, Seq(0.0, 1.0), "merge merge join", "blue"),
      (0L, 3L, Seq(1.0, 1.0), "stream filter scan", "red"),
      (0L, 4L, Seq(0.5, 0.5), "join the red team", "green"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    coll.flush()
    // unflushed tail row — the filter context must see it too
    coll.insert(Seq((0L, 5L, Seq(0.2, 0.8), "stream merge live", "blue"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    val snap = coll.snapshot()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val unfiltered = rows(snap.rankedSearch("content", "merge stream", 10))
    assert(unfiltered.map(_._1).toSet === Set(1L, 2L, 3L, 5L))
    // keyword filter: exactly the blue docs survive, each with its EXACT
    // unfiltered score — filter context never reweighs (the ES contract)
    val blue = DocFilter.Contains("tag", "blue", keyword = true)
    val filtered = rows(snap.rankedSearch("content", "merge stream", 10,
      filter = Some(blue)))
    assert(filtered.map(_._1).toSet === Set(2L, 5L))
    assert(filtered.toSet.subsetOf(unfiltered.toSet))
    // a boolean filter tree (Contains AND NotContains) composes
    val notBlueMerge = DocFilter.And(Seq(
      DocFilter.Contains("content", "merge"),
      DocFilter.NotContains("tag", "blue", keyword = true)))
    val filtered2 = rows(snap.rankedSearch("content", "merge stream", 10,
      filter = Some(notBlueMerge)))
    assert(filtered2.map(_._1).toSet === Set(1L))
    assert(filtered2.toSet.subsetOf(unfiltered.toSet))
    // a filter matching nothing empties the result, loudly nothing
    assert(rows(snap.rankedSearch("content", "merge stream", 10,
      filter = Some(DocFilter.Contains("tag", "purple", keyword = true)))).isEmpty)
    // served parity across filter shapes
    val served = coll.serveUser(0L)
    for (filt <- Seq(None, Some(blue), Some(notBlueMerge))) {
      val d = rows(snap.rankedSearch("content", "merge stream", 10, filter = filt))
      val s = served.rankedSearch("content", "merge stream", 10, filter = filt)
        .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
      assert(s === d, s"served filtered parity for $filt")
    }
    // multi-field + filter: same restriction rule, served parity
    val mfD = snap.rankedSearchFields(Seq("content" -> 0.7, "tag" -> 0.3),
        "blue", 10, filter = Some(blue))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val mfS = served.rankedSearchFields(Seq("content" -> 0.7, "tag" -> 0.3),
        "blue", 10, filter = Some(blue))
      .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
    assert(mfS === mfD && mfD.map(_._1).toSet === Set(2L, 5L))
    // more-like-this + filter: profile/df/stats stay unfiltered, only
    // the returned similar docs are restricted — subset of the
    // unfiltered MLT with identical scores; served parity
    val seed1 = Seq((0L, 1L)).toDF("user_id", "doc_id")
    val mltAll = rows(snap.moreLikeThis("content", seed1, m = 3, k = 10))
    val mltBlue = rows(snap.moreLikeThis("content", seed1, m = 3, k = 10,
      filter = Some(blue)))
    assert(mltBlue.toSet.subsetOf(mltAll.toSet) &&
      mltBlue.map(_._1).toSet.subsetOf(Set(2L, 5L)) && mltBlue.nonEmpty)
    val mltServed = served.moreLikeThis("content", 1L, m = 3, k = 10,
        filter = Some(blue))
      .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
    assert(mltServed === mltBlue)
    // NEWEST-WINS: re-insert doc 2 re-tagged green — the blue filter now
    // excludes it on both paths (the doc version being scored is the one
    // the filter matches)
    coll.insert(Seq((0L, 2L, Seq(0.0, 1.0), "merge merge join", "green"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    val snap2 = coll.snapshot()
    val after = rows(snap2.rankedSearch("content", "merge stream", 10,
      filter = Some(blue)))
    assert(after.map(_._1).toSet === Set(5L))
    val sAfter = coll.serveUser(0L)
      .rankedSearch("content", "merge stream", 10, filter = Some(blue))
      .map { case (id, sc, h) => (id.asInstanceOf[Long], sc, h) }
    assert(sAfter === after)
  }

  test("hybridSearch fuses BM25 and vector lists by RRF, served parity, filter on both") {
    val base = Files.createTempDirectory("graft_hybrid").toString
    val cfg = CollectionConfig(
      name = "hyb", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "none"),
        AttrField("tag", "keyword")))
    val coll = Collection.create(spark, base, cfg)
    coll.insert(Seq(
      (0L, 1L, Seq(1.0, 0.0), "merge sort stream", "red"),
      (0L, 2L, Seq(0.9, 0.1), "merge merge join", "blue"),
      (0L, 3L, Seq(0.0, 1.0), "stream filter scan", "red"),
      (0L, 4L, Seq(0.1, 0.9), "totally unrelated words", "blue"))
      .toDF("user_id", "doc_id", "vector", "content", "tag"))
    coll.flush()
    val snap = coll.snapshot()
    val exhaustive = SearchParams(numExploredCentroids = Some(Int.MaxValue),
      centroidDistanceRatio = 1e18)
    def hyb(filter: Option[DocFilter]) =
      snap.hybridSearch("content", "merge stream", Seq(1.0, 0.0), k = 4,
          window = 4, params = exhaustive, filter = filter)
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // hand-computed RRF: BM25 list over 'merge stream' vs vector list
    // around (1,0) — doc 1 is rank 1 in both (its BM25 tops by matching
    // both terms; its vector IS the query), so its fused score is
    // round(1/61 + 1/61, 6) and n_lists = 2
    val all = hyb(None)
    assert(all.head._1 === 1L)
    assert(all.head._2 ===
      BigDecimal(1.0 / 61 + 1.0 / 61)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(all.head._3 === 2L)
    // doc 4 appears via the vector list alone (matches no query term)
    assert(all.exists(r => r._1 === 4L && r._3 === 1L))
    // filter restricts BOTH lists: only blue docs survive, and doc 2's
    // ranks IMPROVE (rank within the filtered vector list), n_lists = 2
    val blue = DocFilter.Contains("tag", "blue", keyword = true)
    val blueOnly = hyb(Some(blue))
    assert(blueOnly.map(_._1).toSet === Set(2L, 4L))
    // served parity (zero Spark jobs) across both filter shapes
    val served = coll.serveUser(0L)
    for (filt <- Seq(None, Some(blue))) {
      val d = hyb(filt)
      val s = served.hybridSearch("content", "merge stream",
          Array(1.0, 0.0), k = 4, nprobe = Int.MaxValue, window = 4,
          filter = filt)
        .map { case (id, sc, n) => (id.asInstanceOf[Long], sc, n) }
      assert(s === d, s"served hybrid parity for $filt")
    }
  }

  test("tail served as a segment: every served surface answers alike before and after flush") {
    // the unflushed tail is served as one more in-memory segment, so
    // flushing the same rows must change no served answer
    val base = Files.createTempDirectory("graft_tail_seg").toString
    val coll = Collection.create(spark, base, CollectionConfig(
      name = "ts", numFeatures = 2, initialNumCentroids = 2,
      attributeSchema = Seq(AttrField("content", "text", "english"),
        AttrField("tag", "keyword"), AttrField("score", "long"),
        AttrField("price", "double")))) // no row carries price
    def batch(rows: (Long, Seq[Double], Option[String], String, Option[Long])*) =
      rows.map { case (id, v, c, t, s) => (0L, id, v, c, t, s) }
        .toDF("user_id", "doc_id", "vector", "content", "tag", "score")
    coll.insert(batch(
      (1L, Seq(1.0, 0.0), Some("the quick brown fox jumps"), "Red", Some(10L)),
      (2L, Seq(0.9, 0.1), Some("quick quick running dogs"), "blue", Some(20L)),
      (3L, Seq(0.0, 1.0), Some("brown dogs sleep all day"), "red", None),
      (4L, Seq(0.5, 0.5), Some("foxes running in the brown forest"), "green", Some(40L)),
      (5L, Seq(0.2, 0.8), Some(""), "blue", Some(50L)),
      (6L, Seq(0.7, 0.3), None, "Red", Some(60L))))
    // doc 2 gets a newer version (newest-wins); doc 4 is deleted, then
    // re-inserted (live again); doc 7 is new
    coll.insert(batch((2L, Seq(0.95, 0.05), Some("lazy brown fox"), "red", Some(25L))))
    coll.delete(Seq((0L, 4L)).toDF("user_id", "doc_id"))
    coll.insert(batch(
      (4L, Seq(0.45, 0.55), Some("brown fox returns running"), "green", Some(45L)),
      (7L, Seq(0.6, 0.4), Some("quick brown dogs running"), "Blue", Some(30L))))
    val filters = Seq(
      DocFilter.Contains("content", "brown"),
      DocFilter.Contains("content", "brown fox"),
      DocFilter.Contains("tag", "RED"),
      DocFilter.NotContains("content", "quick"),
      DocFilter.Phrase("content", "brown fox"),
      DocFilter.Phrase("content", "quick quick"),
      DocFilter.Phrase("tag", "red"),
      DocFilter.Near("content", "quick", "dogs", 2),
      DocFilter.Prefix("content", "run"),
      DocFilter.Prefix("tag", "bl"),
      DocFilter.Fuzzy("content", "browm", 1),
      DocFilter.Fuzzy("tag", "gren", 1),
      DocFilter.Wildcard("content", "d?g"),
      DocFilter.Wildcard("tag", "r*"),
      DocFilter.Regex("content", "fox(es)?"),
      DocFilter.Regex("tag", "gr.*"),
      DocFilter.Range("score", Some(15.0), Some(45.0)),
      DocFilter.And(Nil),
      DocFilter.Or(Nil),
      DocFilter.And(Seq(DocFilter.Contains("content", "brown"),
        DocFilter.Range("score", gte = Some(20.0)))),
      DocFilter.Or(Seq(DocFilter.Phrase("content", "lazy brown"),
        DocFilter.Prefix("tag", "gr"))))
    val q = Array(0.8, 0.2)
    val fields = Seq("content" -> 1.0, "tag" -> 0.5)
    val buckets = Seq((0.0, 30.0), (30.0, 100.0), (20.0, 50.0))
    def answers(v: graft.core.ServedUserView): Seq[Any] = Seq(
      v.search(q, 4, 100),
      v.search(q, 4, 0), // no probe: nothing, flushed or not
      v.termStats(), v.termStats("content:b"),
      v.suggest("content", "brwn"), v.suggest("tag", "rd"),
      v.rankedSearch("content", "brown fox running", 5),
      v.rankedSearch("tag", "red", 5),
      v.rankedSearchFields(fields, "brown red", 5),
      v.hybridSearch("content", "quick brown", q, k = 3, nprobe = 100, window = 5),
      v.moreLikeThis("content", 7L, m = 3, k = 5),
      v.moreLikeThis("content", 2L, m = 3, k = 5)) ++
      filters.flatMap { f => Seq(
        v.search(q, 4, 100, Some(f)), v.termSearch(f, 10),
        v.facetCounts(f, "tag"), v.facetRanges(f, "score", buckets),
        v.rankedSearch("content", "brown", 5, filter = Some(f)),
        v.rankedSearchFields(fields, "brown red", 5, filter = Some(f)),
        v.hybridSearch("content", "quick brown", q, k = 3, nprobe = 100,
          window = 5, filter = Some(f)),
        v.moreLikeThis("content", 7L, m = 3, k = 5, filter = Some(f)))
      }
    val tailOnly = coll.serveUser(0L)
    assert(coll.toc.segments.isEmpty)
    // the answers are not trivially empty
    assert(tailOnly.termSearch(DocFilter.Contains("content", "brown"), 10) ===
      Seq(1L, 2L, 3L, 4L, 7L))
    assert(tailOnly.search(q, 3, 100).size === 3)
    // point ids are assigned at flush: Ids matches no tail row
    val ids = DocFilter.Ids(Seq(0L, 1L, 2L, 3L))
    assert(tailOnly.termSearch(ids, 10).isEmpty)
    assert(tailOnly.search(q, 4, 100, Some(ids)).isEmpty)
    // a Range over a declared numeric field no tail row carries matches
    // nothing, and is not refused
    val price = DocFilter.Range("price", gte = Some(0.0))
    assert(tailOnly.termSearch(price, 10).isEmpty)
    assert(tailOnly.search(q, 4, 100, Some(price)).isEmpty)
    val before = answers(tailOnly)
    coll.flush()
    assert(coll.toc.segments.size === 1)
    val flushed = coll.serveUser(0L)
    val after = answers(flushed)
    assert(after.size === before.size)
    for (((b, a), i) <- before.zip(after).zipWithIndex)
      assert(a === b, s"served answer $i changed across the flush")
    // once flushed, the same rows carry real point ids
    assert(flushed.termSearch(ids, 10).nonEmpty)
    // and the flushed segment lacks the price column: refused, naming it
    val e = intercept[IllegalArgumentException](flushed.termSearch(price, 10))
    assert(e.getMessage.contains(coll.toc.segments.head))
  }
}
