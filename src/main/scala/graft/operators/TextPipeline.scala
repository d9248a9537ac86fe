package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Text-analysis operators over a documents table — the language-ID /
  * quality / token-count / fingerprint surface of a training-data
  * pipeline. All-native expressions except language-ID (per-row UDF). */
object TextPipeline {

  /** Per-document token statistics (all native, single pass). */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      token_count_ws(col(textCol)).as("n_tokens_ws"),
      token_count_bpe(col(textCol)).as("n_tokens_bpe"),
      round(mean_token_len(col(textCol)), 4).as("mean_token_len"),
      round(alpha_ratio(col(textCol)), 4).as("alpha_ratio"),
      round(punct_ratio(col(textCol)), 4).as("punct_ratio"),
      round(stopword_ratio(col(textCol)), 4).as("stopword_ratio"))

  /** Quality scoring: components + composite heuristic score. */
  def qualityScores(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      quality_score(col(textCol)).as("quality"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Language identification (script vote + stopword profiles).
    *
    * Layered projections: tokens, then the per-profile score array, then
    * the pick — each layer's output is multiply-referenced and expensive,
    * so CollapseProject keeps them as separate projections and every row
    * is tokenized exactly once (the single-Column `lang_id` form would
    * re-tokenize per score reference). Fully codegen: the only kernel is
    * the per-char script vote. */
  def languages(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), col(textCol).as("_t"), tokenize(col(textCol)).as("_toks"))
      .withColumn("_scores", lang_id_scores(col("_toks")))
      .select(col(idCol),
        lang_id_pick(col("_t"), col("_toks"), col("_scores")).as("lang_pred"))

  /** Content fingerprints: rolling hash (engine-native) + md5 of the
    * normalized text (cross-engine checkable). */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      doc_fingerprint(col(textCol)).as("fingerprint"),
      md5(concat_ws(" ", tokenize(col(textCol)))).as("content_md5"))

  /** Sliding-window document chunking — the RAG/embedding-prep step that
    * turns each document into overlapping fixed-size token chunks:
    * chunk i covers tokens `[i*stride, i*stride + chunkTokens)` with
    * `stride = chunkTokens - overlapTokens`, starts advance while they
    * are inside the document, and the last chunk is the (possibly
    * shorter) tail. Zero-token documents emit no chunks. Returns
    * `[<idCol>, chunk_idx, chunk_text, n_tokens]`.
    *
    * Scale: tokenize + a narrow per-row explode of the start list —
    * map-only (no shuffle at all); chunk volume is output-proportional,
    * never materialized wider than one document's own chunk list. */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int = 128,
      overlapTokens: Int = 32,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"need 0 <= overlapTokens < chunkTokens (got $overlapTokens / $chunkTokens)")
    val stride = chunkTokens - overlapTokens
    Par.ensure(docs)
      .select(col(idCol), tokenize(col(textCol)).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col(idCol), col("toks"), col("n"),
        posexplode(sequence(lit(0), ((col("n") - 1) / stride).cast("int")))
          .as(Seq("chunk_idx", "i0")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("i0") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(lit(chunkTokens.toLong), col("n") - col("i0") * stride)
          .cast("long").as("n_tokens"))
  }

  /** Per-document top-`k` terms by TF-IDF — the corpus-statistics pass of
    * a training-data pipeline (topic/keyword profiling, boilerplate
    * spotting). Classic two-aggregation formulation, all shuffles on
    * bounded keys: term frequencies partial-aggregate map-side by
    * (doc, term); document frequencies by term; the per-doc top-k is a
    * rank window over at most |vocab-per-doc| rows.
    * `idf = ln((N + 1) / (df + 1)) + 1` (smoothed), ties broken by term
    * ascending. Returns `[id, term, tfidf, rank]`. */
  def topTermsTfIdf(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      // vocabulary size under which the idf table gets an explicit
      // broadcast-join hint (deterministic even with AQE off — the
      // round-16 5M run with AQE's auto-broadcast unavailable sort-merged
      // the corpus against a 31-term table). Beyond it the join plans
      // normally (one corpus shuffle — unavoidable with a vocabulary too
      // big for executor memory).
      broadcastVocabLimit: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // tf in-row (term_counts kernel): the former groupBy(doc, term) shuffled
    // one row per TOKEN corpus-wide; now one (term, tf) row per distinct
    // term per doc leaves the map stage, and the first shuffle is the
    // (bounded-key) df aggregate
    val tf = Gen.explodeOnce(Par.ensure(docs), Seq(col(idCol).as("id")),
      ColumnBridge.column(graft.functions.TermCounts(
        ColumnBridge.expression(tokenize(col(textCol))))), "tc")
      .select(col("id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    // vocab-bounded; persisted because it feeds both the size gate and
    // the join (one corpus pass instead of two — Bench/Verify clear the
    // cache between queries, the operator-internal-frame convention)
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df")).persist()
    val idf = if (dfq.count() <= broadcastVocabLimit) broadcast(dfq) else dfq
    // corpus size: single-row aggregate, broadcast into the score expr
    val n = docs.select(count(lit(1)).as("n"))
    // rank on the ROUNDED score: engines' ln() may differ by 1 ulp, and an
    // unrounded ORDER BY would let near-equal scores rank-swap across
    // engines before the term tiebreak kicks in
    val score = round(
      col("tf") * (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4)
    // Per-doc top-k via the bounded topk_terms aggregate (round 16, found
    // driving ScaleText at 5M docs): the former Window.partitionBy(id)
    // rank moved the whole per-(doc, term) frame through one exchange —
    // ~2x corpus bytes of shuffle that filled this sandbox's disk at 5M
    // and would dominate the operator on a cluster. A doc's exploded
    // rows are task-local, so the aggregate's PARTIAL pass finishes each
    // doc map-side and the exchange carries k slim structs per doc; with
    // the broadcast idf join the corpus never shuffles at full width.
    tf.join(idf, Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col("id"))
      .agg(graft.functions.GraftFunctions.topk_terms(score, col("term"), k).as("top"))
      .select(col("id"), posexplode(col("top")))
      .select(col("id"), col("col.term").as("term"), col("col.score").as("tfidf"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Deterministic stratified sampling: keep a row iff the first two hex
    * chars of `md5(key)` fall under the stratum's threshold — rates are
    * expressed in 256ths ("40" = 64/256 = 25%). Content-hash gating makes
    * the sample reproducible across engines and runs (no RNG state), a
    * map-only pass at any scale, and consistent under re-partitioning —
    * the properties a 100 TB pipeline needs from its sampler.
    *
    * @param rates   stratum value -> 2-hex-digit threshold ("00".."ff")
    * @param default threshold for strata not in `rates` */
  def stratifiedSample(
      docs: DataFrame,
      strataCol: String,
      keyCol: Column,
      rates: Map[String, String],
      default: String = "80"): DataFrame = {
    require((rates.values.toSeq :+ default).forall(_.matches("[0-9a-f]{2}")),
      "thresholds must be 2 lowercase hex digits")
    val th = rates.foldLeft(lit(default)) { case (acc, (stratum, t)) =>
      when(col(strataCol) === stratum, lit(t)).otherwise(acc)
    }
    docs.filter(substring(md5(keyCol.cast("string").cast("binary")), 1, 2) < th)
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A.1.1), token
    * n-gram variant: per document, the fraction of duplicate n-grams
    * (`1 - distinct/total`) and the share of the single most frequent
    * n-gram (`mode_count/total`) — high values flag templated/boilerplate
    * text for quality filtering.
    *
    * Scale shape: MAP-ONLY. The [[graft.functions.RepetitionStats]]
    * codegen kernel counts each document's 1/2/3-gram multiplicities in
    * per-row hash tables (O(tokens) per doc, even for a pathological
    * 100k-token document), so the per-(doc, n, gram) count table — which
    * an earlier groupBy formulation shuffled corpus-wide at ~3 rows per
    * token, its 100 TB bottleneck — never leaves the task. Gram strings
    * and fraction arithmetic match the SQL the q46 oracle replays
    * (`concat_ws(" ", slice(toks, i, n))`; `round(1 - nd/total, 4)`).
    *
    * Returns `[id, dup_unigram_frac, dup_bigram_frac, dup_trigram_frac,
    * top_bigram_frac, top_trigram_frac]`, one row per input document
    * (documents with fewer than n tokens score 0 at that n). */
  def repetitionSignals(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val stats = ColumnBridge.column(graft.functions.RepetitionStats(
      ColumnBridge.expression(tokenize(col(textCol)))))
    val total = Seq(col("st.tokens"),
      greatest(col("st.tokens") - 1, lit(0L)),
      greatest(col("st.tokens") - 2, lit(0L)))
    def dup(n: Int, nd: Column): Column =
      when(total(n - 1) > 0,
        round(lit(1.0) - nd.cast("double") / total(n - 1), 4)).otherwise(0.0)
    def top(n: Int, tc: Column): Column =
      when(total(n - 1) > 0,
        round(tc.cast("double") / total(n - 1), 4)).otherwise(0.0)
    Par.ensure(docs)
      .select(col(idCol).as("id"), stats.as("st"))
      .select(col("id"),
        dup(1, col("st.nd1")).as("dup_unigram_frac"),
        dup(2, col("st.nd2")).as("dup_bigram_frac"),
        dup(3, col("st.nd3")).as("dup_trigram_frac"),
        top(2, col("st.top2")).as("top_bigram_frac"),
        top(3, col("st.top3")).as("top_trigram_frac"))
  }

  /** PII redaction — replace emails, phone-number shapes, and IPv4
    * addresses with typed placeholder tokens, the standard scrubbing pass
    * before a training-data release. An all-native `regexp_replace` chain
    * (codegen, map-only at any scale); patterns stay inside the
    * RE2-compatible subset (no lookaround/backrefs) so the exact same
    * regexes replay in DuckDB and other engines. Redaction is sequential
    * (email, then phone, then IP) and each count is taken on the text as
    * it looked when that pattern ran, so counts and output agree.
    * Returns `[id, text_redacted, n_emails, n_phones, n_ips]`. */
  def redactPii(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val email = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
    // separators restricted to space/dash so dotted IPv4 never half-matches
    val phone = """(\+\d{1,2}[ -])?(\(\d{3}\)[ -]?|\d{3}[ -])\d{3}[ -]?\d{4}\b"""
    val ip = """\b(\d{1,3}\.){3}\d{1,3}\b"""
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, lit(email), lit("<EMAIL>"))
    val t2 = regexp_replace(t1, lit(phone), lit("<PHONE>"))
    val t3 = regexp_replace(t2, lit(ip), lit("<IP>"))
    docs.select(
      col(idCol).as("id"),
      t3.as("text_redacted"),
      size(regexp_extract_all(t0, lit(email), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(t1, lit(phone), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(t2, lit(ip), lit(0))).cast("long").as("n_ips"))
  }

  /** Composite preprocessing pass — the canonical training-data cleaning
    * pipeline, one distributed job: exact-dedup (keep smallest id per
    * normalized-content group) then token-count and stopword-ratio gates.
    * Returns the surviving `[id, n_tokens]` rows. */
  def preprocess(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      maxStopwordRatio: Double = 0.9): DataFrame = {
    val withStats = Par.ensure(docs).select(
      col(idCol).as("id"),
      md5(concat_ws(" ", tokenize(col(textCol)))).as("content_hash"),
      token_count_ws(col(textCol)).cast("long").as("n_tokens"),
      stopword_ratio(col(textCol)).as("swr"))
    // "keep smallest id per content group" as one window pass: a single
    // shuffle by content_hash, vs the groupBy+semi-join formulation's two
    // (and its second computation of the text stats)
    withStats
      .withColumn("min_id", min(col("id")).over(Window.partitionBy("content_hash")))
      .filter(col("id") === col("min_id") &&
        col("n_tokens").between(minTokens, maxTokens) &&
        col("swr") < maxStopwordRatio)
      .select(col("id"), col("n_tokens"))
  }

  /** Gopher-rule composite quality filter (Rae et al. 2021 §A.1.1; the
    * same rule family C4/RefinedWeb/Dolma apply): per-document booleans
    * for each rule plus the composite keep flag, so a pipeline can either
    * filter on `keep` or audit per-rule drop rates.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [minMeanWordLen, maxMeanWordLen]; symbol-to-word ratio (tokens
    * containing `#` or ellipsis) <= maxSymbolWordRatio; duplicate-trigram
    * fraction <= maxDupTrigramFrac and top-bigram fraction <=
    * maxTopBigramFrac (via the map-only `repetition_stats` kernel).
    *
    * Scale shape: a single map pass — every signal is an in-row
    * expression; nothing shuffles. Returns `[id, n_words, mean_word_len,
    * symbol_word_ratio, dup_trigram_frac, top_bigram_frac, ok_words,
    * ok_mean_len, ok_symbols, ok_repetition, keep]`. */
  def gopherQualityFilter(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxDupTrigramFrac: Double = 0.3,
      maxTopBigramFrac: Double = 0.18): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    // layered projections so each row tokenizes ONCE: `toks` is referenced
    // by three consumers, and CollapseProject keeps expensive multiply-
    // referenced aliases un-inlined (same trick as TextPipeline.languages)
    val stats = ColumnBridge.column(graft.functions.RepetitionStats(
      ColumnBridge.expression(col("toks"))))
    val meanLen = when(size(col("toks")) === 0, 0.0).otherwise(
      aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(col("toks")).cast("double"))
    val base = Par.ensure(docs)
      .select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), stats.as("st"),
        round(meanLen, 4).as("mean_word_len"))
    val n = col("st.tokens")
    val symbolic = size(filter(col("toks"),
      t => t.contains("#") || t.contains("...") || t.contains("…")))
    val dupTri = when(n >= 3,
      round(lit(1.0) - col("st.nd3").cast("double") / (n - 2), 4)).otherwise(0.0)
    val topBi = when(n >= 2,
      round(col("st.top2").cast("double") / (n - 1), 4)).otherwise(0.0)
    base.select(
      col("id"),
      n.as("n_words"),
      col("mean_word_len"),
      when(n > 0, round(symbolic.cast("double") / n, 4)).otherwise(0.0)
        .as("symbol_word_ratio"),
      dupTri.as("dup_trigram_frac"),
      topBi.as("top_bigram_frac"))
      .withColumn("ok_words", col("n_words").between(minWords, maxWords))
      .withColumn("ok_mean_len",
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("ok_symbols", col("symbol_word_ratio") <= maxSymbolWordRatio)
      .withColumn("ok_repetition",
        col("dup_trigram_frac") <= maxDupTrigramFrac &&
          col("top_bigram_frac") <= maxTopBigramFrac)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_symbols") &&
          col("ok_repetition"))
  }

  /** Corpus-unigram negative log-likelihood per doc — the statistical-LM
    * quality signal (CCNet's perplexity filter, Wenzek et al. LREC'20,
    * with the corpus's own unigram distribution as the LM): p(t) =
    * count(t)/total over the whole corpus, score = mean of -ln p(t) over
    * the doc's tokens. Low = templated/ubiquitous text, high = rare or
    * noisy text; practical pipelines cut both tails. Returns
    * `[id, n_tokens, nll]`.
    *
    * Scale: one explode+groupBy builds the vocabulary (partial-agg
    * collapses each partition's counts first, so the shuffle carries
    * distinct terms per partition, not tokens), the scalar total rides a
    * broadcast one-row frame, and the score join shuffles on term —
    * linear everywhere, skew bounded by the hottest term's doc postings. */
  def unigramLogProb(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = Gen.explodeOnce(
      Par.ensure(docs).select(col(idCol).as("id"), tokenize(col(textCol)).as("tk")),
      Seq(col("id")), col("tk"), "term")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    toks.join(vocab, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        round(avg(-log(col("cnt").cast("double") / col("total").cast("double"))), 4).as("nll"))
  }

  /** BM25 ranked retrieval over a documents table — the ranked
    * counterpart of the engine's boolean term search (the reference's
    * term path returns id lists; BM25 orders them by relevance, the
    * standard Okapi formulation):
    *
    *   score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Scale shape: per-doc tf tallies IN-ROW (`term_counts`), filtered to
    * the query's terms BEFORE any shuffle, so only (doc, query-term, tf)
    * rows — at most |query| per doc — leave the map stage. df and avgdl
    * are broadcast one-row/`|query|`-row aggregates; top-k is a bounded
    * TakeOrdered. Returns `[id, score, n_terms_hit]`, ties broken by id. */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      // drop this id from the RESULT only (df/N/avgdl still count it) —
      // more-like-this must never return its own seed
      exclude: Option[Long] = None): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val terms = queryTerms.map(_.toLowerCase)
    val base = Par.ensure(docs).select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
      .select(col("id"), col("toks"), size(col("toks")).cast("double").as("dl"))
    // (id, term, tf) restricted to query terms in-row — the explode emits
    // at most |query| rows per doc
    val tf = Gen.explodeOnce(base, Seq(col("id"), col("dl")),
      filter(ngram_counts(col("toks"), 1), tc => tc.getField("term").isin(terms: _*)), "tc")
      .select(col("id"), col("dl"), col("tc.term").as("term"),
        col("tc.tf").cast("double").as("tf"))
    val stats = base.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy("id")
      .agg(round(sum(Search.okapiTerm(col("n"), col("avgdl"), col("dl"), k1, b)), 4)
          .as("score"),
        count(lit(1)).as("n_terms_hit"))
    exclude.map(e => scored.filter(col("id") =!= e)).getOrElse(scored)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
  }

  /** More-like-this retrieval (the Lucene `MoreLikeThis` / ES
    * `more_like_this` shape): characterize the SEED document by its `m`
    * most distinctive terms — the same smoothed tf-idf [[topTermsTfIdf]]
    * ranks with (rounded to 4, ties term-asc) — then run those terms as
    * a BM25 OR-query over the corpus with the seed excluded.
    *
    * Scale shape: the seed's profile is ONE document's vocabulary (the
    * id predicate pushes to the scan; the tally is in-row), so both
    * driver collects here are bounded — |seed terms| and `m`, the
    * "broadcast query set" posture. The profile's df pass restricts the
    * corpus tally to the seed's terms IN-ROW before the term-keyed
    * aggregate (O(matched) exchange, term-bounded keys); retrieval is
    * [[bm25TopK]] minus the seed. Nothing corpus-sized crosses a shuffle
    * unfiltered.
    *
    * Returns `[id, score, n_terms_hit]`, (score desc, id asc), top `k`. */
  def moreLikeThis(
      docs: DataFrame,
      seedId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      m: Int = 5,
      k: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(m > 0 && k > 0, s"more-like-this: m and k must be positive (m=$m, k=$k)")
    val base = Par.ensure(docs).select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
    val seedTf = Gen.explodeOnce(base.filter(col("id") === seedId),
      Seq(col("id")), term_counts(col("toks")), "tc")
      .select(col("tc.term").as("term"), col("tc.tf").cast("double").as("tf"))
    // corpus df for the seed's terms only — restricted by a BROADCAST
    // semi-join on the seed's own tf frame (round 17, guide §1.2: the
    // old shape collected the seed terms first just to inline them as an
    // in-row literal filter — a whole extra driver round-trip/action per
    // query; the semi-join restricts map-side before the df exchange, so
    // the shuffle carries the same at-most-|seed terms| rows per doc)
    val dfp = Gen.explodeOnce(base, Seq(col("id")), term_counts(col("toks")), "tc")
      .select(col("tc.term").as("term"))
      .join(broadcast(seedTf.select("term")), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val nRow = base.agg(count(lit(1)).cast("double").as("n"))
    // profile rank on the ROUNDED tf-idf (term-asc ties) — the
    // topTermsTfIdf discipline, so a SQL replay agrees on the cut; seed
    // tf, df and the cut all land in ONE collected action
    val profile = seedTf.join(broadcast(dfp), Seq("term"))
      .crossJoin(broadcast(nRow))
      .select(col("term"), round(col("tf") *
        (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("term").asc)
      .limit(m)
      .collect().map(_.getString(0)).toSeq
    require(profile.nonEmpty,
      s"more-like-this: seed doc $seedId has no terms (or does not exist)")
    bm25TopK(docs, profile, idCol, textCol, k, k1, b, exclude = Some(seedId))
  }

  /** Per-group score-threshold calibration: exact quantiles of a score
    * column per group — how a pipeline picks per-language (or per-source)
    * quality cutoffs instead of one global magic number (a threshold
    * tuned on English silently over-filters low-resource languages whose
    * score distribution sits lower).
    *
    * Uses Spark's exact interpolating `percentile` (same definition as
    * DuckDB `quantile_cont`), which buffers each group's values: right
    * for calibration runs, which are statistics over a bounded sample —
    * at 100 TB feed it [[stratifiedSample]] output (a per-group sample
    * IS the statistically-correct calibration input) or swap
    * `approx_percentile` where exactness doesn't matter.
    *
    * Returns `[group, n_docs, p<q1>, p<q2>, ...]` (quantiles rounded to
    * 4, named by percentage). */
  def calibrateThresholds(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"quantiles must be in [0,1]: $qs")
    val aggs = count(lit(1)).as("n_docs") +: qs.map { q =>
      round(expr(s"percentile($scoreCol, $q)"), 4).as(s"p${(q * 100).round}")
    }
    scored.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document conditional bigram NLL — the KenLM-style statistical
    * quality filter one order above [[unigramLogProb]]: fluent text scores
    * low, gibberish / shuffled-token text scores high even when its
    * unigram profile is normal (the failure mode a unigram filter can't
    * see).
    *
    *   nll(doc) = mean over positions i of
    *     −ln P(w_i | w_{i−1}),   P(w2|w1) = (c(w1 w2) + α) / (c(w1 ·) + α·V)
    *
    * with add-α smoothing, prefix counts `c(w1 ·) = Σ_w2 c(w1 w2)`, and
    * `V` = distinct unigram vocabulary size.
    *
    * Scale shape: bigrams tally IN-ROW (the `term_counts` kernel over the
    * 2-gram array — one row per distinct bigram per doc leaves the map
    * stage), corpus counts are one bigram-keyed partial-agg shuffle,
    * prefix counts reduce that bounded table again, V is a broadcast
    * scalar, and scoring is two keyed joins plus one id-keyed weighted
    * average. Nothing corpus-sized crosses an exchange twice.
    *
    * Returns `[id, n_bigrams, bigram_nll]` for docs with >= 2 tokens. */
  def bigramLogProb(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      alpha: Double = 0.5): DataFrame =
    bigramLogProbFromCounts(docs, bigramCounts(docs, idCol, textCol), idCol, textCol, alpha)

  /** The corpus LM of [[bigramLogProb]] as a persistable artifact:
    * `[bigram, w1, c2]` counts plus a one-row `[v]` vocab frame. Build it
    * once over the standing corpus, persist to parquet, and score every
    * incoming batch with [[bigramLogProbFromCounts]] — the corpus is
    * never recounted (the [[Dedup.minhashSignatures]] split pattern). */
  def bigramCounts(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val toks = tokenize(col(textCol))
    val docBg = Gen.explodeOnce(
      Par.ensure(docs), Seq(col(idCol).as("id")),
      ngram_counts(toks, 2), "tc")
      .select(col("id"), col("tc.term").as("bigram"), col("tc.tf").as("tf"))
    val cnt = docBg.groupBy("bigram").agg(sum(col("tf")).as("c2"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    // V: distinct unigrams (single-row aggregate, broadcast into the score)
    val vocab = Gen.explodeOnce(
      Par.ensure(docs).select(toks.as("tk")), Seq.empty, col("tk"), "term")
      .agg(count_distinct(col("term")).as("v"))
    (cnt, vocab)
  }

  /** Score `docs` against a prebuilt corpus LM — `counts` as returned (or
    * re-read from parquet) from [[bigramCounts]]. Bigrams of `docs` that
    * the corpus never saw get the add-α floor `α / (c(w1 ·) + α·V)` (or
    * prefix count 0 for unseen prefixes) — exactly how held-out text is
    * scored. */
  def bigramLogProbFromCounts(
      docs: DataFrame,
      counts: (DataFrame, DataFrame),
      idCol: String = "doc_id",
      textCol: String = "text",
      alpha: Double = 0.5): DataFrame = {
    val (cnt, vocab) = counts
    val docBg = Gen.explodeOnce(
      Par.ensure(docs), Seq(col(idCol).as("id")),
      ngram_counts(tokenize(col(textCol)), 2), "tc")
      .select(col("id"), col("tc.term").as("bigram"), col("tc.tf").as("tf"))
    val prefix = cnt.groupBy("w1").agg(sum(col("c2")).as("c1p"))
    val p = (coalesce(col("c2").cast("double"), lit(0.0)) + lit(alpha)) /
      (coalesce(col("c1p").cast("double"), lit(0.0)) + lit(alpha) * col("v").cast("double"))
    docBg
      .join(cnt.select("bigram", "c2"), Seq("bigram"), "left")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(prefix, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        round(sum(col("tf") * -log(p)) / sum(col("tf")), 4).as("bigram_nll"))
  }

  /** Sparse hashed-ngram bag features (the DSIR feature space, Li et
    * al., NeurIPS'23 "Data Selection for Language Models via Importance
    * Resampling" §3.2): unigrams + bigrams hashed into `buckets` via the
    * seeded shingle hash. Returns `[id, bucket, cnt]` — split out (same
    * pattern as [[Dedup.minhashSignatures]]) so the feature table can be
    * persisted to parquet and both distributions and weights replayed
    * exactly by another engine.
    *
    * Scale: one shuffle keyed on (id, bucket); per-doc key count is
    * bounded by the doc's token count, buckets bound the feature space. */
  def dsirBuckets(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val tk = Par.ensure(docs).select(col(idCol).as("id"), tokenize(col(textCol)).as("tk"))
    // Per-doc bucket counting IN-ROW (round 16, found driving ScaleText
    // at 5M docs): the former explode + groupBy(id, bucket) moved one row
    // per n-gram — ~2x the token count — through a corpus-wide exchange
    // (2B rows at 5M x 200 tokens, ~50 GB of shuffle that dominated the
    // DSIR pass at 930 s). The term_counts kernel counts the stringified
    // bucket ids inside the row instead, so the per-(id, bucket) frame
    // leaves the map stage ALREADY aggregated and no exchange exists at
    // any scale. Output rows identical: [id, bucket, cnt].
    Gen.explodeOnce(tk, Seq(col("id")),
      ColumnBridge.column(graft.functions.TermCounts(ColumnBridge.expression(
        transform(
          concat(shingle_hashes(col("tk"), 1), shingle_hashes(col("tk"), 2)),
          h => pmod(h, lit(buckets.toLong)).cast("string"))))), "tc")
      .select(col("id"), col("tc.term").cast("long").as("bucket"),
        col("tc.tf").as("cnt"))
  }

  /** DSIR importance weights over a precomputed feature table: with
    * add-α smoothed hashed-ngram distributions p (over `targetIds`'
    * rows) and q (over all rows),
    *   log w(x) = Σ_b cnt_b(x) · (log p(b) − log q(b)),
    * the log importance weight of doc x under the target distribution.
    * Rank on it (optionally + seeded Gumbel noise for proper sampling)
    * to select raw data that looks like the target domain. Returns
    * `[id, log_weight]` for every id in `bucketCounts`.
    *
    * Scale: both distributions are ≤ `buckets` rows — built with one
    * bounded-key shuffle each and joined back as a broadcast; the weight
    * sum is one shuffle keyed on id. Nothing corpus-sized crosses an
    * exchange twice. */
  def dsirWeightsFromBuckets(
      bucketCounts: DataFrame,
      targetIds: DataFrame,
      buckets: Int = 4096,
      alpha: Double = 1.0): DataFrame = {
    val bc = bucketCounts.select(col("id"), col("bucket"), col("cnt"))
    // ONE pass builds BOTH distributions (round 16): the former four
    // separate consumers of `bc` (target semi-join, raw dist, two
    // totals) each re-derived the per-(id, bucket) frame; now target
    // rows are flagged by one left join (AQE broadcasts a sample-scale
    // target set at runtime) and conditional sums split the bucket
    // aggregate, with both totals read off the BOUNDED dist table
    // instead of re-aggregating the corpus. With [[dsirBuckets]]'
    // in-row counting, no corpus-wide exchange remains anywhere in the
    // DSIR pipeline.
    val flagged = bc.join(
      targetIds.select(col("id")).distinct().withColumn("_tgt", lit(1)),
      Seq("id"), "left")
    val dist0 = flagged.groupBy("bucket").agg(
      sum(col("cnt")).as("rc"),
      sum(when(col("_tgt").isNotNull, col("cnt")).otherwise(lit(0L))).as("tc"))
    val tots = dist0.agg(sum(col("rc")).cast("double").as("rn"),
      sum(col("tc")).cast("double").as("tn"))
    val dist = dist0
      .crossJoin(broadcast(tots))
      .select(col("bucket"),
        (log((col("tc").cast("double") + alpha)
            / (col("tn") + lit(alpha * buckets)))
          - log((col("rc").cast("double") + alpha)
            / (col("rn") + lit(alpha * buckets)))).as("lr"))
    bc.join(broadcast(dist), Seq("bucket"))
      .groupBy("id").agg(sum(col("cnt").cast("double") * col("lr")).as("log_weight"))
  }

  /** Deterministic token-budget mixing — the data-mixing primitive for
    * assembling a training corpus at fixed token counts per source/
    * language: within each stratum, walk documents in `md5(id)` order (a
    * reproducible shuffle, same engine-portable trick as
    * [[stratifiedSample]]) and keep them while the stratum's running
    * token total stays within its budget. The first document of a
    * stratum is kept even when it alone exceeds the budget iff
    * `keepFirst` (so no stratum comes back empty).
    *
    * The running total is a DISTRIBUTED prefix scan, not a
    * one-partition-per-stratum window: rows are range-partitioned on
    * (stratum, key) so a pathological stratum spans many partitions,
    * each partition cumsums its own (pid, stratum) slice, and a tiny
    * exclusive-prefix offset table (≤ partitions + strata rows,
    * broadcast) lifts local sums to global ones. Skew is bounded by the
    * range partitioner — no stratum ever serializes. The scan result is
    * invariant to partition boundaries, so output is deterministic and
    * the plain-window oracle replay is unchanged. Returns
    * `[id, stratum, n_tokens, cum_tokens]`. */
  def tokenBudgetSample(
      docs: DataFrame,
      strataCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      keepFirst: Boolean = false): DataFrame = {
    val budget = budgets.foldLeft(lit(defaultBudget)) { case (acc, (s, b)) =>
      when(col("stratum") === s, lit(b)).otherwise(acc)
    }
    val keyed = Par.ensure(docs)
      .select(col(idCol).as("id"), col(strataCol).as("stratum"),
        token_count_ws(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("mkey", md5(col("id").cast("string").cast("binary")))
    // pid is a DERIVED range-bucket id over (stratum, mkey, id) — a
    // pure function of the row (see [[RangeBuckets]]), so the offsets
    // table and the row-level window agree on row placement in every
    // planned expansion by construction (an execution-derived
    // spark_partition_id could disagree: RangePartitioner re-samples
    // bounds per expansion). Lexicographic buckets keep pid order ==
    // key order within each stratum, which the offset prefix relies on.
    val ranged = keyed.withColumn("pid",
      RangeBuckets.bucketCol(keyed,
        Seq(col("stratum"), col("mkey"), col("id")),
        docs.sparkSession.sessionState.conf.numShufflePartitions))
      .transform(RangeBuckets.maybePersist) // perf-only (A/B: GRAFT_PREFIX_PERSIST=0)
    val wLocal = Window.partitionBy("pid", "stratum").orderBy(col("mkey"), col("id"))
    val local = ranged
      .withColumn("lcum", sum(col("n_tokens")).over(wLocal))
      .withColumn("lrn", row_number().over(wLocal))
    // exclusive per-stratum prefix of partition totals: range partitioning
    // guarantees pid order == key order within each stratum
    val wOff = Window.partitionBy("stratum").orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("pid", "stratum").agg(sum(col("n_tokens")).as("psum"))
      .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
      .select("pid", "stratum", "offset")
    val cum = local.join(broadcast(offsets), Seq("pid", "stratum"))
      .withColumn("cum_tokens", col("lcum") + col("offset"))
    val within = cum.filter(col("cum_tokens") <= budget)
      .select("id", "stratum", "n_tokens", "cum_tokens")
    if (!keepFirst) within
    else within.unionByName(
      // the stratum's globally-first row: zero offset and local rank 1
      cum.filter(col("offset") === 0 && col("lrn") === 1 && col("cum_tokens") > budget)
        .select("id", "stratum", "n_tokens", "cum_tokens"))
  }

  /** Concat-and-chunk sequence packing — the GPT-style training-data
    * transform: concatenate docs in deterministic id order into one
    * virtual token stream, slice fixed `contextLen` windows, and report
    * every doc's span (`start_token`, exclusive end = start + n_tokens)
    * plus the first/last window it lands in. Downstream shuffling by
    * `window_start` materializes training examples.
    *
    * Scale: the same distributed prefix scan as [[tokenBudgetSample]] —
    * range partition on id, per-partition subtotal offsets broadcast
    * (one row per partition), everything else map-side. Window ids use
    * integer DIV, not double floor: corpus-wide token offsets can exceed
    * 2^53 at 100 TB and doubles would mis-assign windows there. */
  def packSequences(
      docs: DataFrame,
      contextLen: Long,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val keyed = Par.ensure(docs)
      .select(col(idCol).as("doc_id"),
        token_count_ws(col(textCol)).cast("long").as("n_tokens"))
    // pid is a DERIVED range-bucket id over doc_id — a pure function of
    // the row (see [[RangeBuckets]]), so the offsets table and the
    // local window agree on row placement in every planned expansion by
    // construction (an execution-derived spark_partition_id could
    // disagree: RangePartitioner re-samples bounds per expansion).
    val ranged = keyed.withColumn("pid",
      RangeBuckets.bucketCol(keyed, Seq(col("doc_id")),
        docs.sparkSession.sessionState.conf.numShufflePartitions))
      .transform(RangeBuckets.maybePersist) // perf-only (A/B: GRAFT_PREFIX_PERSIST=0)
    val wLocal = Window.partitionBy("pid").orderBy("doc_id")
    val local = ranged.withColumn("lcum", sum(col("n_tokens")).over(wLocal))
    // exclusive prefix of partition subtotals: one row per partition, so
    // the unpartitioned window is bounded by the partition count
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy("pid").agg(sum(col("n_tokens")).as("psum"))
      .withColumn("offset", coalesce(sum(col("psum")).over(wOff), lit(0L)))
      .select("pid", "offset")
    local.join(broadcast(offsets), Seq("pid"))
      .withColumn("end_token", col("lcum") + col("offset"))
      .withColumn("start_token", col("end_token") - col("n_tokens"))
      .withColumn("window_start", expr(s"start_token DIV $contextLen"))
      .withColumn("window_end",
        when(col("n_tokens") === 0, col("window_start"))
          .otherwise(expr(s"(end_token - 1) DIV $contextLen")))
      .select("doc_id", "n_tokens", "start_token", "window_start", "window_end")
  }

  /** Corpus-wide frequent word n-grams — the boilerplate-discovery pass of
    * a training-data pipeline (the grams this surfaces become removal
    * patterns for [[Dedup.substringDedup]] or filter rules).
    *
    * Scale shape mirrors [[topTermsTfIdf]]: grams tally IN-ROW first (the
    * `term_counts` kernel over the gram array), so the map stage emits one
    * `(gram, tf)` row per DISTINCT gram per doc — never one row per token
    * occurrence — and the single shuffle is the gram-keyed partial-agg
    * sum. `minDf` prunes the long unique-gram tail before the final
    * bounded top-k (orderBy+limit → TakeOrderedAndProject, per-partition
    * heaps, no global sort).
    *
    * Returns `[gram, total, df]`: total occurrences and document
    * frequency, top `k` by (total desc, gram asc). */
  def frequentNgrams(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      minDf: Long = 2L,
      k: Int = 100): DataFrame = {
    require(n >= 1, s"ngram length must be >= 1, got $n")
    val tf = Gen.explodeOnce(Par.ensure(docs), Seq.empty,
      ngram_counts(tokenize(col(textCol)), n), "tc")
      .select(col("tc.term").as("gram"), col("tc.tf").as("tf"))
    tf.groupBy("gram")
      .agg(sum(col("tf")).cast("long").as("total"), count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("total").desc, col("gram").asc)
      .limit(k)
  }

  /** Per-group document cap — the domain/source-balancing primitive (e.g.
    * Common Crawl per-domain caps): keep at most `cap` docs per group,
    * preferring the highest `score` (ties broken by id ascending).
    *
    * Uses the bounded [[graft.functions.TopKByScore]] aggregate, so each
    * map task ships at most `cap` rows per group — a hot domain with 10^9
    * pages costs `tasks * cap` shuffled rows, not 10^9 (the rank-window
    * formulation this replaces sorts every row of every group through one
    * exchange). Returns `[group, id, score, rank]`, rank 1-based by
    * (score desc, id asc). */
  def capPerGroup(
      docs: DataFrame,
      groupCol: String,
      idCol: String,
      score: Column,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val keyed = Par.ensure(docs)
      .select(col(groupCol), col(idCol), score.cast("double").as("score"))
    val idType = keyed.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"capPerGroup requires an integral id column; '$idCol' is $idType")
    // TopKByScore keeps score ASC; negate to keep the highest-scored docs.
    keyed
      .groupBy(col(groupCol))
      .agg(graft.functions.GraftFunctions.topk_by_score(
        -col("score"), col(idCol).cast("long"), cap).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col(groupCol), col("p.id").as(idCol),
        (-col("p.score")).as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis IPL'06 A-ES): inclusion probability ∝ `weight`, selection
    * = top-k by key ln(u_i)/w_i where u_i is a uniform derived from the
    * doc's md5 (first 8 hex chars → (v+0.5)/2³²) — the per-ITEM
    * materializer of a sampling design ([[mixtureWeights]] sets
    * per-GROUP rates; this draws the actual docs, e.g. ∝ quality score
    * or token count). Same md5-keyed determinism as
    * [[stratifiedSample]]: any engine reproduces the exact sample.
    *
    * Scale shape: map-only key computation + one bounded TakeOrdered —
    * the corpus is never shuffled. Zero/negative weights are excluded
    * (A-ES requires w > 0). Returns `[<id>, weight, es_key]`, key
    * rounded to 6, highest-key-first. */
  def weightedSample(
      docs: DataFrame,
      weight: Column,
      k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k=$k")
    val h = md5(col(idCol).cast("string").cast("binary"))
    val v = conv(substring(h, 1, 8), 16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    Par.ensure(docs)
      .select(col(idCol), weight.cast("double").as("weight"),
        // guarded division: under ANSI mode the projection may evaluate
        // before the w > 0 filter lands, and 0-weight rows must not throw
        when(weight.cast("double") > 0, log(u) / weight.cast("double")).as("k0"))
      .filter(col("weight") > 0)
      .orderBy(col("k0").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("weight"), round(col("k0"), 6).as("es_key"))
  }

  /** Seed-based Naive Bayes quality classifier — the GPT-3/LLaMA-family
    * curation pattern: label a small trusted SEED set (docs from curated
    * sources), treat the rest of the corpus as the background class,
    * train a unigram log-odds model, and score every document by how
    * seed-like its token distribution is.
    *
    * Model (add-`alpha` smoothed multinomial NB over the observed vocab V):
    *
    *   logodds(t) = ln((c_pos(t)+α)/(N_pos+α|V|)) − ln((c_neg(t)+α)/(N_neg+α|V|))
    *   score(d)   = ln(D_pos/D_neg) + Σ_t tf_d(t)·logodds(t)
    *
    * `keep` is `score > 0` (the MAP decision); downstream pipelines
    * typically threshold on a [[calibrateThresholds]] quantile instead.
    *
    * Scale shape: per-doc tf tallies IN-ROW (`ngram_counts`), so the only
    * corpus-sized exchanges are vocab-keyed — the class-count aggregation
    * (partial aggs shrink it to |V| rows before the shuffle) and the
    * score join (term-keyed, |V|-row build side). Class totals, vocab
    * size, and the document prior are broadcast one-row aggregates. The
    * seed id set joins as a broadcast flag — never a filter-and-rescan.
    *
    * Returns `[id, n_tokens, score, keep]`, score rounded to 4. */
  def seedClassifier(
      docs: DataFrame,
      seedIds: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      alpha: Double = 1.0): DataFrame = {
    val seed = broadcast(seedIds.select(col(seedIds.columns.head).as("id"))
      .withColumn("pos", lit(true)))
    val base = Par.ensure(docs)
      .select(col(idCol).as("id"), tokenize(col(textCol)).as("toks"))
      .join(seed, Seq("id"), "left")
      .select(col("id"), col("toks"), coalesce(col("pos"), lit(false)).as("pos"))
    val tf = Gen.explodeOnce(base, Seq(col("id"), col("pos")),
      ngram_counts(col("toks"), 1), "tc")
      .select(col("id"), col("pos"), col("tc.term").as("term"),
        col("tc.tf").cast("double").as("tf"))
    // vocab-keyed class counts; partial aggregation bounds the shuffle at |V|
    val termCounts = tf.groupBy("term").agg(
      sum(when(col("pos"), col("tf")).otherwise(lit(0.0))).as("pc"),
      sum(when(col("pos"), lit(0.0)).otherwise(col("tf"))).as("nc"))
    val classTotals = termCounts.agg(
      sum(col("pc")).as("pt"), sum(col("nc")).as("nt"),
      count(lit(1)).cast("double").as("vs"))
    val prior = base.agg(
      log(sum(when(col("pos"), 1L).otherwise(0L)).cast("double") /
        sum(when(col("pos"), 0L).otherwise(1L)).cast("double")).as("pr"))
    val logodds =
      log((col("pc") + lit(alpha)) / (col("pt") + lit(alpha) * col("vs"))) -
        log((col("nc") + lit(alpha)) / (col("nt") + lit(alpha) * col("vs")))
    val scored = tf.join(termCounts, Seq("term"))
      .crossJoin(broadcast(classTotals))
      .groupBy("id")
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        sum(col("tf") * logodds).as("s"))
    base.select(col("id"))
      .join(scored, Seq("id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("s"), lit(0.0)) + col("pr"), 4).as("score"),
        (coalesce(col("s"), lit(0.0)) + col("pr") > 0).as("keep"))
  }

  /** Per-group corpus cardinality statistics — the dataset-card numbers
    * every curation run reports (docs, token mass, distinct content,
    * vocabulary breadth per source/language):
    *
    *   `[group, n_docs, n_tokens, distinct_texts, vocab]`
    *
    * `approx = true` (the 100 TB default) uses HyperLogLog++
    * (`approx_count_distinct`, `rsd` relative error): cardinalities then
    * ride fixed-size sketches through the group shuffle, so cost is
    * O(groups), independent of distinct-count volume. `approx = false`
    * computes exact distincts (Spark expands count-distinct over a
    * per-key dedup exchange — fine at calibration scale, the mode the
    * DuckDB oracle replays).
    *
    * Vocab counts distinct TOKENS per group, so the shuffle input is one
    * row per (group, in-row-distinct term) via `ngram_counts`, not one
    * per token instance. */
  def corpusStats(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      approx: Boolean = true,
      rsd: Double = 0.02): DataFrame = {
    val base = Par.ensure(docs).select(col(groupCol).as("group"),
      md5(col(textCol)).as("h"), tokenize(col(textCol)).as("toks"))
    def cd(c: Column): Column =
      if (approx) approx_count_distinct(c, rsd) else count_distinct(c)
    val g1 = base.groupBy("group").agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).cast("long").as("n_tokens"),
      cd(col("h")).as("distinct_texts"))
    val g2 = Gen.explodeOnce(base, Seq(col("group")),
      ngram_counts(col("toks"), 1), "tc")
      .groupBy("group").agg(cd(col("tc.term")).as("vocab"))
    g1.join(g2, Seq("group"), "left")
      .select(col("group"), col("n_docs"), col("n_tokens"),
        col("distinct_texts"), coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** Temperature-scaled source mixing weights — the data-mixing primitive
    * (multilingual/multi-source sampling a la GPT-3 §2.2 / XLM-R): given
    * per-group token mass c_i, sample group i with probability
    * p_i ∝ c_i^alpha (alpha < 1 up-samples small sources; alpha = 1 is
    * natural sampling; alpha = 0 is uniform), then size each group's
    * draw against a total token `budget`:
    *
    *   weight_i = c_i^α / Σ_j c_j^α
    *   expected_tokens_i = weight_i · budget,   epochs_i = expected_i / c_i
    *
    * `epochs > 1` is the standard over-sampling diagnostic (the group
    * repeats in an epoch of the mixture). One tiny groupBy (|groups|
    * rows after partial aggs) + a broadcast one-row total: the corpus is
    * touched exactly once, map-only.
    *
    * Returns `[group, n_docs, n_tokens, raw_share, weight,
    * expected_tokens, epochs]` rounded to 6/4. */
  def mixtureWeights(
      docs: DataFrame,
      groupCol: String = "source",
      textCol: String = "text",
      alpha: Double = 0.7,
      budget: Long = 1000000L): DataFrame = {
    val perGroup = Par.ensure(docs)
      .select(col(groupCol).as("group"),
        size(tokenize(col(textCol))).cast("long").as("n"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val totals = perGroup.agg(
      sum(col("n_tokens")).cast("double").as("tot"),
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("ptot"))
    perGroup.crossJoin(broadcast(totals))
      .select(col("group"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("tot"), 6).as("raw_share"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("ptot"), 6).as("weight"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("ptot") * lit(budget.toDouble), 4)
          .as("expected_tokens"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("ptot") * lit(budget.toDouble) /
          col("n_tokens"), 6).as("epochs"))
  }
}
