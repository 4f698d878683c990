package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TopKByScore, VectorFunctions}

/** Lexical and hybrid retrieval: BM25 keyword scoring, reciprocal-rank
  * fusion of lexical + vector rankings, and MMR diversity re-ranking —
  * the retrieval stack production RAG runs NEXT TO the reference's
  * pure vector search (reference README.md:355-366 retrieves by
  * embedding similarity alone; the standard deployment fuses that with
  * a keyword ranking and de-redunds the final context window).
  *
  * Algorithms are the public classics: BM25 (Robertson & Walker 1994,
  * the Lucene `k1`/`b` parameterization with the `ln(1 + ...)`
  * non-negative idf), reciprocal-rank fusion (Cormack, Clarke &
  * Büttcher 2009), and maximal-marginal-relevance (Carbonell &
  * Goldstein 1998).
  *
  * Scale shape (the reason each piece looks the way it does):
  *  - BM25 never materializes a corpus-wide posting list: the token
  *    stream is filtered down to QUERY terms by a broadcast equi-join
  *    before any shuffle, so shuffled rows ∝ occurrences of the query
  *    terms, not corpus tokens. Document length rides along the token
  *    stream (computed narrowly per row), so no join back to the
  *    corpus is ever needed. df and corpus stats are term-count- and
  *    1-row-sized broadcasts. Top-k is the bounded-heap aggregate
  *    ([[graft.functions.TopKByScore]]) — partial-agg, skew-safe,
  *    never a corpus-wide window.
  *  - RRF is a slim full-outer join of two (query, id, rank) lists
  *    whose sizes are ∝ queries × k, not corpus.
  *  - MMR is expressed RELATIONALLY as k unrolled argmax stages over a
  *    bounded candidate set (`candN` per query), with every float
  *    computed by the bit-parity [[graft.functions.VectorExprs]]
  *    cosine — work ∝ queries × candN² with no corpus-sized stage, and
  *    no imperative per-group code that would sit outside codegen.
  *
  * Cross-engine float discipline (the repo's CORRECTNESS_r01 lesson):
  *  - BM25 sums per-term doubles whose engine divergence is libm-ulp
  *    sized; the emitted score is `round(score, 4)` and the rank is
  *    taken over the ROUNDED score (id tie-break), so a sum-order or
  *    `ln` ulp can never flip a rank unless a value sits within ~1e-12
  *    of a 1e-4 grid boundary — the same measured-margin argument as
  *    [[Corpus.unigramXent]], asserted in LexicalSpec.
  *  - RRF adds exactly two IEEE quotients in a FIXED order — bit-stable
  *    with no rounding needed.
  *  - MMR with `lambda = 0.5` (the oracle default) computes
  *    `0.5·rel − 0.5·maxsim`: halving is exact in IEEE 754, so the MMR
  *    score is a bit-stable function of the bit-parity cosines.
  */
object Lexical {

  /** Non-empty lowercased whitespace tokens — byte-identical to the
    * [[Corpus.docTokenCounts]] / DuckDB `regexp_split_to_array(lower(
    * trim(text)), '\s+')` convention (explicit class = RE2's `\s`).
    * Shared with the SQL facade's HYBRID_SEARCH query tokenization.
    */
  private[graft] def toks(text: Column): Column =
    filter(split(lower(trim(text)), "[ \\t\\n\\f\\r]+"), t => length(t) > 0)

  /** BM25 scores for every (query, matching document) pair.
    *
    * `queries` is a slim (queryId, term) table — one row per query
    * term, duplicate terms per query are counted once (standard bag-of-
    * words query with binary query-side tf). Documents sharing no term
    * with a query don't appear (their score is exactly 0 and BM25's
    * idf is strictly positive, so they can never displace a match).
    *
    * Output: (queryId, id, score) with `score = round(Σ_t idf_t ·
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)), 4)` and
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`. `N` and `avgdl` are computed
    * over ALL corpus documents (token-less docs count toward N with
    * dl = 0, matching `avg` over the full table in any SQL engine).
    */
  /** The corpus posting list: one row per (doc, token) with the term
    * frequency and the document length riding along — the
    * QUERY-INDEPENDENT half of BM25, aggregated ONCE (a map-side
    * combine on (id, tok)) and reusable across every query batch. An
    * offline index artifact like [[termDf]]: compute, persist, and pass
    * back via the `post` parameter — together with the [[corpusStats]]
    * artifact via `stats`, scoring then never re-tokenizes the corpus
    * (without `stats` the N/avgdl agg still scans it once per run).
    * Structurally load-bearing: aggregating BEFORE the
    * query join keeps the combine at corpus-token scale, where joining
    * first would fan every token row out by the number of queries
    * holding its term and aggregate THAT.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    postingsOf(tokenized(docs, idCol, textCol))

  /** One (id, __tk) row per document: its token array, null for a null
    * text — the input of [[postingsOf]].
    */
  private[graft] def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), toks(col(textCol)).as("__tk"))

  /** The posting list of [[tokenized]] documents (see [[postings]]). */
  private[graft] def postingsOf(tokenized: DataFrame): DataFrame =
    tokenized
      .select(col("id"), size(col("__tk")).as("dl"), explode(col("__tk")).as("tok"))
      .groupBy("id", "dl", "tok").agg(count(lit(1)).as("tf"))

  /** The 1-row corpus-stats artifact (N, avgdl) — the third offline
    * index artifact next to [[postings]] and [[termDf]]. Derived from
    * `docs` (not the posting list) so token-less documents count toward
    * N with dl = 0, matching `avg` over the full table in any SQL
    * engine. Compute once per corpus, persist, and pass back via the
    * `stats` parameter: with postings + stats + df supplied, scoring
    * genuinely never touches the corpus again.
    */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).cast("double").as("n"),
      avg(size(toks(col(textCol)))).as("avgdl"))

  def bm25Scores(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null): DataFrame =
    bm25ScoresImpl(queries, qId, termCol, docs, idCol, textCol, k1, b,
      rounded = true, post = post, stats = stats)

  /** [[bm25Scores]] with the rounding switchable off — the UNROUNDED
    * scores feed the rounding-margin assertion in LexicalSpec (the
    * [[Corpus.unigramXent]] discipline: corpus churn must fail that
    * spec loudly, not surface as a mysterious oracle hash mismatch).
    */
  private[graft] def bm25ScoresImpl(
      queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k1: Double, b: Double, rounded: Boolean,
      post: DataFrame = null, stats: DataFrame = null): DataFrame = {
    val raw = sum(idfCol * tfNormCol(k1, b))
    matchedFrame(queries, qId, termCol, docs, idCol, textCol, k1, b,
        post, stats)
      .groupBy("query_id", "id")
      .agg((if (rounded) round(raw, 4) else raw).as("score"))
  }

  private def idfCol: Column =
    log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
  private def tfNormCol(k1: Double, b: Double): Column =
    col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

  /** The per-(query, doc, matched term) frame every BM25 surface is
    * built from: posting rows restricted to query terms, joined with the
    * term-df table and the 1-row corpus stats. Carries
    * (query_id, id, tok, tf, dl, df, n, avgdl).
    */
  private def matchedFrame(
      queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k1: Double, b: Double,
      post: DataFrame, stats: DataFrame): DataFrame = {
    require(k1 >= 0, s"bm25: k1 must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"bm25: b must be in [0,1], got $b")
    val q = queries
      .select(col(qId).cast("long").as("query_id"),
        col(termCol).cast("string").as("__term"))
      .distinct()
    // the query-independent posting list — aggregated at corpus-token
    // scale BEFORE any query fan-out (see [[postings]]); callers with a
    // persisted posting artifact pass it in
    val pl = if (post != null) post else postings(docs, idCol, textCol)
    // corpus stats: one agg, 1-row broadcast — or the persisted
    // [[corpusStats]] artifact. sum(dl) is an exact integer in a
    // double, so avgdl is partition-order-independent. Derived from
    // `docs` (not the posting list) when computed here: token-less
    // documents count toward N with dl = 0.
    val statsTab =
      if (stats != null) stats
      else {
        // a null corpus is the INDEX-SERVED calling convention (postings
        // + stats artifacts, the corpus deliberately unreachable) — a
        // missing stats artifact there must name the fix, not NPE
        require(docs != null,
          "bm25: postings supplied without the corpus-stats artifact and " +
            "no corpus to derive N/avgdl from — pass the persisted " +
            "LexicalIndex.corpusStats (or Lexical.corpusStats) via `stats`")
        corpusStats(docs, textCol)
      }
    // df per term is posting-list-derived ((id, tok) rows are distinct
    // by construction) and query-independent — restricted to query
    // terms by the same broadcast
    val dfTable = pl.join(broadcast(q.select(col("__term")).distinct()),
        col("tok") === col("__term"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    // the query fan-out joins AFTER aggregation: rows ∝ Σ_t df(t)·|q(t)|
    // flow straight into the per-(query, doc) consumer with no further
    // wide aggregation of corpus-scale data
    pl.join(broadcast(q), col("tok") === col("__term"))
      .join(broadcast(dfTable), "tok")
      .crossJoin(broadcast(statsTab))
  }

  /** Per-term score breakdown — the Lucene/Atlas `scoreDetails` shape:
    * one row per (query, document, matched term) carrying the scoring
    * primitives (tf, dl, df) and the factors (idf, tf_norm) whose
    * product is the term's `contribution`; summing the UNROUNDED
    * contributions over a (query, document) group IS [[bm25Scores]]'
    * score (pinned in LexicalSpec). Each factor rounds to 4 for
    * cross-engine stability, like the score itself. Retrieval debugging
    * is the point: "why did this document rank?" answers itself from
    * this frame with no scoring re-derivation.
    */
  def bm25Explain(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null): DataFrame =
    matchedFrame(queries, qId, termCol, docs, idCol, textCol, k1, b,
        post, stats)
      .select(col("query_id"), col("id").as("match_id"),
        col("tok").as("term"),
        col("tf").cast("long").as("tf"), col("dl").cast("long").as("dl"),
        col("df").cast("long").as("df"),
        round(idfCol, 4).as("idf"),
        round(tfNormCol(k1, b), 4).as("tf_norm"),
        round(idfCol * tfNormCol(k1, b), 4).as("contribution"))

  /** BM25 top-k per query: bounded-heap selection over [[bm25Scores]]
    * by (rounded score desc, id asc). Output (queryId, match_id,
    * score, rank) with rank 1 best.
    */
  def bm25TopK(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null): DataFrame = {
    require(k > 0, s"bm25TopK: k must be positive, got $k")
    bm25ScoresImpl(queries, qId, termCol, docs, idCol, textCol, k1, b,
        rounded = true, post = post, stats = stats)
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("id"), col("score"), k).as("matches"))
      .select(col("query_id"), posexplode(col("matches")).as(Seq("rank0", "m")))
      .select(col("query_id"), col("m.id").as("match_id"),
        col("m.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** FILTERED BM25 top-k — the Lucene filtered-query semantics: scores
    * come from the GLOBAL corpus statistics (idf and avgdl over the
    * WHOLE corpus — the same score an unfiltered query assigns, so a
    * document's relevance does not shift with the filter), and only
    * documents in `allowed` may fill the top-k. This is retrieval over
    * a metadata-restricted candidate set, the text twin of
    * [[VectorSearch.topKFiltered]].
    *
    * Scale shape: the semi-join lands on the SCORED stream, which is
    * already query-term-bounded (rows ∝ query-term occurrences, never
    * corpus tokens — [[bm25Scores]]' shuffle contract). The allowed
    * side is a deduplicated single-column id projection — its one scan
    * and shuffle are filter-selectivity-sized (AQE broadcasts it when
    * small), never corpus-row-sized, and nothing corpus-scale is
    * re-scored.
    */
  def bm25TopKFiltered(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      allowed: DataFrame, allowedId: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null): DataFrame = {
    require(k > 0, s"bm25TopKFiltered: k must be positive, got $k")
    val ids = allowed.select(col(allowedId).cast("long").as("id")).distinct()
    bm25ScoresImpl(queries, qId, termCol, docs, idCol, textCol, k1, b,
        rounded = true, post = post, stats = stats)
      .join(ids, Seq("id"), "left_semi")
      .groupBy("query_id")
      .agg(TopKByScore.topK(col("id"), col("score"), k).as("matches"))
      .select(col("query_id"), posexplode(col("matches")).as(Seq("rank0", "m")))
      .select(col("query_id"), col("m.id").as("match_id"),
        col("m.score").as("score"),
        (col("rank0") + 1).cast("int").as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two rankings of
    * the same id space: `rrf = 1/(kConst + rank_a) + 1/(kConst + rank_b)`,
    * a list contributing 0 where it didn't rank the id. The sum has a
    * FIXED operand order (a's quotient first), so the fused score is
    * bit-stable across engines with no rounding.
    *
    * Inputs are (qCol, idCol, rankCol) lists (rank 1 best); output is
    * (query_id, match_id, rrf_rank) — the fused top-`k`, ranked by
    * (rrf desc, id asc). Slim full-outer join, rows ∝ queries × list
    * sizes.
    */
  def rrfFuse(a: DataFrame, b: DataFrame,
      qCol: String, idCol: String, rankCol: String,
      k: Int, kConst: Int = 60): DataFrame = {
    require(k > 0, s"rrfFuse: k must be positive, got $k")
    require(kConst >= 0, s"rrfFuse: kConst must be >= 0, got $kConst")
    val left = a.select(col(qCol).cast("long").as("query_id"),
      col(idCol).cast("long").as("match_id"), col(rankCol).as("__ra"))
    val right = b.select(col(qCol).cast("long").as("query_id"),
      col(idCol).cast("long").as("match_id"), col(rankCol).as("__rb"))
    val fused = left.join(right, Seq("query_id", "match_id"), "full_outer")
      .select(col("query_id"), col("match_id"),
        (coalesce(lit(1.0) / (lit(kConst) + col("__ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kConst) + col("__rb")), lit(0.0))).as("rrf"))
    fused.groupBy("query_id")
      .agg(TopKByScore.topK(col("match_id"), col("rrf"), k).as("matches"))
      .select(col("query_id"), posexplode(col("matches")).as(Seq("rank0", "m")))
      .select(col("query_id"), col("m.id").as("match_id"),
        (col("rank0") + 1).cast("int").as("rrf_rank"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 recipe of
    * Abdul-Jaleel et al., TREC 2004, in its deterministic binary-weight
    * form): run the original query, take its `fbDocs` top documents as
    * pseudo-relevant, mine the `fbTerms` most frequent NON-query terms
    * from them (occurrence count desc, term asc — fully deterministic),
    * and return the expanded (query_id, term) set = original ∪ mined.
    *
    * Scale shape: the feedback set is `queries × fbDocs` ids
    * (broadcast); only those documents' tokens survive the mining join;
    * the per-query term rank window is bounded by construction
    * (≤ fbDocs × max dl candidate terms per query — NOT a Zipf content
    * key).
    */
  /** `allowed` (optional, with `allowedId`): restrict the FEEDBACK pass
    * to a metadata-admitted doc set under GLOBAL stats (the
    * [[bm25TopKFiltered]] semantics) — the standard filtered-RM3 shape:
    * pseudo-relevant documents come from the ranking the user will
    * actually see, so mined terms never leak from excluded documents.
    */
  def prfExpandTerms(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      fbDocs: Int = 5, fbTerms: Int = 3,
      k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null,
      allowed: DataFrame = null, allowedId: String = null): DataFrame = {
    require(fbDocs > 0, s"prfExpandTerms: fbDocs=$fbDocs")
    require(fbTerms >= 0, s"prfExpandTerms: fbTerms=$fbTerms")
    val q = queries
      .select(col(qId).cast("long").as("query_id"),
        col(termCol).cast("string").as("term"))
      .distinct()
    // one posting list serves the feedback pass AND the term mining —
    // occurrence counts in the feedback docs are Σ tf from the posting
    // rows, so the corpus is never re-tokenized for mining
    val pl = if (post != null) post else postings(docs, idCol, textCol)
    val fb = (if (allowed == null)
        bm25TopK(q, "query_id", "term", docs, idCol, textCol,
          fbDocs, k1, b, post = pl, stats = stats)
      else
        bm25TopKFiltered(q, "query_id", "term", docs, idCol, textCol,
          allowed, allowedId, fbDocs, k1, b, post = pl, stats = stats))
      .select(col("query_id"), col("match_id"))
    val ft = pl.select(col("id").cast("long").as("match_id"),
        col("tok"), col("tf"))
      .join(broadcast(fb), "match_id")
      .groupBy("query_id", "tok").agg(sum(col("tf")).as("c"))
    val qr = q.select(col("query_id").as("__q2"), col("term").as("__t2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("c").desc, col("tok"))
    val mined = ft.join(qr,
        ft("query_id") === qr("__q2") && ft("tok") === qr("__t2"), "left_anti")
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= fbTerms)
      .select(col("query_id"), col("tok").as("term"))
    // LAZY checkpoint: the expanded set (queries × (originals + fbTerms)
    // rows — tiny) feeds BOTH the df restriction and the scoring join of
    // the second pass; without it the whole pass-1 + mining subtree
    // evaluates twice
    q.unionByName(mined).distinct().localCheckpoint(false)
  }

  /** BM25 top-k under PRF expansion: [[prfExpandTerms]] then
    * [[bm25TopK]] with the expanded term set. With `allowed`, BOTH
    * passes restrict to the admitted set under GLOBAL corpus stats
    * (the Lucene filtered-query convention end-to-end).
    */
  def bm25PrfTopK(queries: DataFrame, qId: String, termCol: String,
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      fbDocs: Int = 5, fbTerms: Int = 3,
      k1: Double = 1.2, b: Double = 0.75,
      post: DataFrame = null, stats: DataFrame = null,
      allowed: DataFrame = null, allowedId: String = null): DataFrame = {
    val expanded = prfExpandTerms(queries, qId, termCol, docs, idCol,
      textCol, fbDocs, fbTerms, k1, b, post = post, stats = stats,
      allowed = allowed, allowedId = allowedId)
    if (allowed == null)
      bm25TopK(expanded, "query_id", "term", docs, idCol, textCol, k,
        k1, b, post = post, stats = stats)
    else
      bm25TopKFiltered(expanded, "query_id", "term", docs, idCol, textCol,
        allowed, allowedId, k, k1, b, post = post, stats = stats)
  }

  /** Hybrid retrieval: RRF fusion of a vector ranking and a BM25
    * ranking over one corpus — the composed form behind the SQL
    * facade's HYBRID_SEARCH and the hybrid RAG pipeline. `queries`
    * carries BOTH the query vector and the query text; the corpus
    * carries BOTH the item vector and the item text. Each side ranks
    * `fuseDepth` deep (RRF fuses deeper lists than it returns), the
    * fused top-`k` comes back as (query_id, match_id, rrf_rank).
    *
    * Scale shape: the vector side is the bounded-heap
    * [[VectorSearch.topKAgg]]; the lexical side tokenizes the query
    * text (narrow) and runs the broadcast-term BM25; fusion is the slim
    * full-outer join — nothing corpus-sized beyond the two scans.
    */
  /** `maxQueryTerms` > 0 caps each query's BM25 term set at that many
    * RAREST terms (corpus document frequency asc, term asc — the
    * standard long-query term-selection rule): a document-as-query over
    * a small vocabulary otherwise matches the entire corpus on every
    * term and the scoring join degenerates to |corpus tokens| × |queries|.
    * Rarest-first keeps the highest-idf (most discriminative) terms, and
    * the matched row count collapses to Σ df of the selected terms.
    */
  /** Corpus document frequency per term — vocab-sized (Zipf-bounded).
    * An OFFLINE index artifact like the ANN codebooks: compute once per
    * corpus, persist, and pass to [[hybridTopK]] as `dfTable` so query
    * batches never re-derive it.
    */
  def termDf(corpus: DataFrame, cId: String, cText: String): DataFrame =
    corpus.select(col(cId).as("__did"), explode(toks(col(cText))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("__df"))

  /** `allowed` (optional, with `allowedId`): a metadata-restricted
    * candidate id set — BOTH legs admit only its members (the vector leg
    * scores the semi-joined corpus exactly; the lexical leg keeps GLOBAL
    * corpus statistics per [[bm25TopKFiltered]]'s Lucene filtered-query
    * semantics), so the fused top-k never under-fills on a selective
    * filter and a document's BM25 relevance does not shift with it.
    *
    * `vRank` (optional): a PRE-RANKED vector leg — (qId, match_id,
    * rank [1-based]) at least `max(k, fuseDepth)` deep — replacing the
    * internal exact scan. This is how an INDEX-SERVED registration
    * (IVF/HNSW/compressed store probe) feeds the fusion without the
    * full corpus scan; the caller's ranking is also expected to already
    * encode any `allowed` restriction on the vector side (the lexical
    * leg still applies it here).
    */
  def hybridTopK(queries: DataFrame, qId: String, qVec: String, qText: String,
      corpus: DataFrame, cId: String, cVec: String, cText: String,
      k: Int, fuseDepth: Int = 10, metric: String = "dot",
      kConst: Int = 60, maxQueryTerms: Int = 0,
      dfTable: DataFrame = null, post: DataFrame = null,
      stats: DataFrame = null,
      allowed: DataFrame = null, allowedId: String = null,
      vRank: DataFrame = null): DataFrame = {
    require(k > 0, s"hybridTopK: k must be positive, got $k")
    require(allowed == null || allowedId != null,
      "hybridTopK: allowed requires allowedId")
    val depth = math.max(k, fuseDepth)
    val allowedIds = if (allowed == null) null
      else allowed.select(col(allowedId).cast("long").as("__aid")).distinct()
    val vCorpus = if (allowedIds == null) corpus
      else corpus.join(allowedIds,
        corpus(cId).cast("long") === allowedIds("__aid"), "left_semi")
    val vrank = if (vRank != null) {
      val vr = vRank.select(col(qId).cast("long").as("query_id"),
        col("match_id").cast("long").as("match_id"), col("rank"))
      // STRUCTURAL, not by-convention: a caller-provided vector leg is
      // documented to already encode the `allowed` restriction, but a
      // future caller passing an unfiltered ranking alongside a
      // predicate must not leak excluded documents through the fusion —
      // the same admitted-id set the lexical leg joins cuts this leg
      // too, then ranks RE-DENSIFY (row_number per query over the
      // surviving rank order): the store-served pushdown routes produce
      // dense ranks because excluded rows never ranked at all, and RRF
      // weights 1/(kConst+rank) — gapped post-cut positions would fuse
      // differently than the equivalent pre-filtered ranking. A no-op
      // (identity ranks, one cheap bounded window) for a correctly
      // pre-restricted caller.
      if (allowedIds == null) vr
      else {
        val wDense = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("rank"), col("match_id"))
        vr.join(allowedIds, vr("match_id") === allowedIds("__aid"),
            "left_semi")
          .withColumn("rank", row_number().over(wDense))
      }
    } else VectorSearch.topKAgg(queries, qId, qVec,
        vCorpus, cId, cVec, depth, metric)
      .select(col(qId).cast("long").as("query_id"),
        posexplode(col("matches")).as(Seq("__pos", "__m")))
      .select(col("query_id"), col("__m.id").as("match_id"),
        (col("__pos") + 1).cast("int").as("rank"))
    val qTermsAll = queries.select(col(qId).cast("long").as("query_id"),
      explode(toks(col(qText))).as("term")).distinct()
    val qTerms =
      if (maxQueryTerms <= 0) qTermsAll
      else {
        // corpus df per term (vocab-sized — Zipf-bounded, broadcasts);
        // per-query rank window bounded by the query's own term count.
        // The join is INNER: an out-of-vocabulary term (df = 0) can
        // match nothing, so letting it sort as "rarest" would waste the
        // term cap displacing discriminative in-corpus terms — standard
        // long-query term selection drops unmatchable terms first
        val dfTab = if (dfTable != null) dfTable
          else termDf(corpus, cId, cText)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("__df").asc, col("term"))
        qTermsAll.join(broadcast(dfTab), Seq("term"))
          .withColumn("__r", row_number().over(w))
          .filter(col("__r") <= maxQueryTerms)
          .select("query_id", "term")
      }
    val lrank = (if (allowedIds == null)
        bm25TopK(qTerms, "query_id", "term",
          corpus.select(col(cId).as("__cid2"), col(cText).as("__ctext")),
          "__cid2", "__ctext", depth, post = post, stats = stats)
      else
        bm25TopKFiltered(qTerms, "query_id", "term",
          corpus.select(col(cId).as("__cid2"), col(cText).as("__ctext")),
          "__cid2", "__ctext", allowedIds, "__aid", depth,
          post = post, stats = stats))
      .select("query_id", "match_id", "rank")
    rrfFuse(vrank, lrank, "query_id", "match_id", "rank", k, kConst)
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998)
    * of each query's cosine top-`candN` candidates: greedily select
    * `selectK` items, each maximizing
    * `lambda·rel(c) − (1−lambda)·max_{s∈selected} cos(c, s)` (ties by
    * lower id). The first pick is the pure-relevance argmax.
    *
    * Expressed as `selectK` UNROLLED relational argmax stages (greedy
    * selection is inherently sequential in k, and k is a small
    * constant): each stage broadcasts the 1-row-per-query selected set,
    * computes the marginal score over the ≤ candN remaining candidates
    * with the bit-parity cosine, and takes a bounded-heap argmax. No
    * stage touches the corpus — after candidate generation, work is
    * ∝ queries × candN × selectK.
    *
    * Output: (query_id, sel_rank [1-based], match_id).
    */
  /** `candidates` (optional): a PRE-RANKED relevance pool — (query_id,
    * match_id, rel) with ≤ candN rows per query — replacing the internal
    * exact top-candN scan. This is how an INDEX-SERVED registration
    * feeds the diversity selection its candidate pool without the full
    * corpus scan; `corpus` is still consulted for the candidates'
    * vectors (the candidate-to-candidate similarity term).
    */
  def mmrRerank(queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      candN: Int, selectK: Int, lambda: Double = 0.5,
      metric: String = "cosine", candidates: DataFrame = null): DataFrame = {
    require(candN > 0, s"mmrRerank: candN must be positive, got $candN")
    require(selectK > 0 && selectK <= candN,
      s"mmrRerank: selectK must be in [1, candN=$candN], got $selectK")
    require(lambda >= 0 && lambda <= 1,
      s"mmrRerank: lambda must be in [0,1], got $lambda")
    val cand = if (candidates != null)
      candidates.select(col("query_id"), col("match_id"), col("rel"))
    else VectorSearch.topKAgg(queries, qId, qVec,
        corpus, cId, cVec, k = candN, metric = metric)
      .select(col(qId).as("query_id"),
        posexplode(col("matches")).as(Seq("__pos", "m")))
      .select(col("query_id"), col("m.id").as("match_id"),
        col("m.score").as("rel"))
    // carry candidate vectors once; candidate-to-candidate sims reuse them
    val candV = cand
      .join(corpus.select(col(cId).cast("long").as("match_id"),
        col(cVec).as("__v")), "match_id")
      .select(col("query_id"), col("match_id"), col("rel"), col("__v"))
      // bounded (queries × candN) and consumed by selectK stages below:
      // materialize once instead of re-running the heap scan per stage
      .localCheckpoint(false)

    val sim: (Column, Column) => Column =
      if (metric == "cosine") VectorFunctions.cosine_similarity
      else VectorFunctions.dot_product

    def argmax(scored: DataFrame, scoreCol: String): DataFrame =
      scored.groupBy("query_id")
        .agg(TopKByScore.topK(col("match_id"), col(scoreCol), 1).as("__top"))
        .select(col("query_id"), col("__top")(0)("id").as("match_id"))

    var selected = argmax(candV, "rel").withColumn("sel_rank", lit(1))
    var rank = 2
    while (rank <= selectK) {
      // remaining = candidates minus selected; max-sim to the selected
      // set via an equi-join on query_id (selected side is ≤ selectK
      // rows per query — broadcast-sized relative to candidates)
      val selV = selected
        .join(candV.select(col("query_id"), col("match_id"), col("__v")),
          Seq("query_id", "match_id"))
        .select(col("query_id"), col("match_id").as("__sid"), col("__v").as("__sv"))
      val remaining = candV.join(selected.select("query_id", "match_id"),
        Seq("query_id", "match_id"), "left_anti")
      val marginal = remaining
        .join(selV, "query_id")
        .groupBy("query_id", "match_id")
        .agg(max(col("rel")).as("rel"),
          max(sim(col("__v"), col("__sv"))).as("__maxsim"))
        .withColumn("__mmr",
          lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__maxsim"))
      selected = selected.unionByName(
        argmax(marginal, "__mmr").withColumn("sel_rank", lit(rank)))
      rank += 1
    }
    selected.select(col("query_id"), col("sel_rank").cast("int").as("sel_rank"),
      col("match_id"))
  }
}
