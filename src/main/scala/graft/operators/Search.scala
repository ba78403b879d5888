package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus search served from a POSITIONAL INVERTED INDEX — the
  * retrieval side of a training-data pipeline (find every occurrence of
  * an eval passage, audit a leaked phrase, rank documents for a query)
  * expressed as plans over one maintained postings table instead of
  * per-query corpus scans.
  *
  * The index is the flat postings relation (tok, doc_id, pos) — the
  * exploded tokenizer output, exactly the reference's tokenize stage
  * (reference worker/worker.py:7,16-18) persisted WITH positions
  * instead of aggregated away. Per-term posting lists are its
  * `tok`-grouped slices; keeping the relation flat (rather than
  * array-packed per term) keeps every probe a plain equi-join with
  * partial aggregation, and lets the same index serve phrase queries
  * (position arithmetic), ranked retrieval (tf/df aggregation), and
  * vocabulary statistics. [[SharedIntermediates.postings]] materializes
  * it once per dataset — durable content-keyed parquet in cluster mode,
  * like the LSH band and IVF centroid indexes.
  *
  * Scale shape (100 TB): index build is one map-only explode off the
  * scan (shuffle-free; writing it is the cost). Every probe below
  * first restricts to the query's own terms — postings of 3 terms,
  * never the corpus — so probe cost scales with posting-list length.
  * The one global structure (vocabulary ranking) is a top-k via
  * TakeOrderedAndProject, never a full-vocabulary window. */
object Search {

  /** MMR defaults — the ONE source for both the plan ([[mmrRerank]])
    * and the DuckDB oracle (SearchQueries.mmrSql), per the
    * benfordPermille shared-literal rule: registering mmr_rerank with
    * non-default λ / rank-step / candidate-cut arguments cannot
    * silently diverge plan from oracle, because the oracle
    * interpolates these same constants. */
  val MmrLambdaPermille: Long = 500L
  val MmrRankStepPpm: Long = 50000L
  val MmrKCand: Int = 20

  /** The positional inverted index: one (tok, doc_id, pos) row per
    * token occurrence; pos is the 0-based token position within the
    * document (reported 1-based at query output). */
  def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(WordCount.tokenArray(docs)).as(Seq("pos", "tok")))
      .select(col("tok"), col("doc_id"), col("pos"))

  /** Per-(term, doc) term frequencies from the index. */
  private def termFreq(idx: DataFrame): DataFrame =
    idx.groupBy(col("tok").as("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Per-document token counts (doc_id, dl) — the ONE corpus-wide
    * aggregate a BM25 probe needs. A deployment precomputes this into
    * the index (it is a pure function of the postings table);
    * [[SharedIntermediates.postingsDocLengths]] materializes it once
    * per dataset so repeated probes pay only posting-list work instead
    * of one full-index groupBy per call (the residual 1.8–3× probe
    * growth SEARCH_1GB.md measured before memoization). */
  def docLengths(idx: DataFrame): DataFrame =
    idx.groupBy("doc_id").agg(count(lit(1)).as("dl"))

  /** The corpus's most frequent word 3-gram as a ONE-ROW table
    * (phrase), derived from the index itself (lead() over posting
    * positions — the window clusters on doc_id, no extra tokenize
    * pass), tie-broken to the lexicographically smallest. */
  def topPhrase(idx: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    idx.select(col("doc_id"),
        concat(col("tok"), lit(" "), lead(col("tok"), 1).over(w),
          lit(" "), lead(col("tok"), 2).over(w)).as("g"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g").asc).limit(1)
      .select(col("g").as("phrase"))
  }

  /** PHRASE SEARCH: every document containing the corpus's top word
    * 3-gram, with occurrence count and first/last match position
    * (1-based position of the phrase's first token). The phrase is a
    * one-row broadcast scalar; the position-arithmetic join chain
    * (pos, pos+1, pos+2) ships only the phrase terms' postings. */
  def phraseSearch(idx: DataFrame): DataFrame = {
    val ph = broadcast(topPhrase(idx)
      .select(col("phrase"), split(col("phrase"), " ").as("ts")))
    // one-row broadcast scalar crossJoin (the bounded pattern), with
    // ONE staged pass keeping only the phrase terms' postings — the
    // three position-join legs then read the small staged subset
    // instead of each re-scanning the full index (the phrase filter is
    // a runtime value, so no static pushdown is possible here; the
    // explicit-phrase variant gets the isin pushdown instead)
    val r = Materialize.stage(idx.crossJoin(ph)
      .filter(col("tok") === element_at(col("ts"), 1) ||
        col("tok") === element_at(col("ts"), 2) ||
        col("tok") === element_at(col("ts"), 3)))
    val m0 = r.filter(col("tok") === element_at(col("ts"), 1))
      .select(col("doc_id"), col("pos"), col("phrase"))
    val m1 = r.filter(col("tok") === element_at(col("ts"), 2))
      .select(col("doc_id").as("d1"), col("pos").as("p1"))
    val m2 = r.filter(col("tok") === element_at(col("ts"), 3))
      .select(col("doc_id").as("d2"), col("pos").as("p2"))
    m0.join(m1, col("doc_id") === col("d1") && col("p1") === col("pos") + 1)
      .join(m2, col("doc_id") === col("d2") && col("p2") === col("pos") + 2)
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        (min(col("pos")) + 1).cast("long").as("first_pos"),
        (max(col("pos")) + 1).cast("long").as("last_pos"))
      .orderBy("doc_id")
  }

  /** [[phraseSearch]] for an EXPLICIT phrase of ANY length ≥ 1 — the
    * audit-a-leaked-passage form. The phrase is tokenized exactly as
    * the index tokenizes text ([[WordCount.tokenize]]: the same `lower`
    * and byte split); each token contributes one
    * posting-list leg joined at pos+j (the n=3 chain of the registry
    * probe, generalized by a fold). A phrase containing any
    * out-of-vocabulary token matches nothing and returns the empty
    * result shape. */
  def phraseSearchFor(idx: DataFrame, phrase: String): DataFrame = {
    val ts = WordCount.tokenize(phrase)
    require(ts.nonEmpty, "phrase needs at least one token")
    val m0 = idx.filter(col("tok") === ts.head)
      .select(col("doc_id"), col("pos"))
    val joined = ts.zipWithIndex.tail.foldLeft(m0) { case (acc, (t, j)) =>
      acc.join(idx.filter(col("tok") === t)
          .select(col("doc_id").as(s"d$j"), col("pos").as(s"p$j")),
        col("doc_id") === col(s"d$j") && col(s"p$j") === col("pos") + j)
        .select(col("doc_id"), col("pos"))
    }
    joined
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        (min(col("pos")) + 1).cast("long").as("first_pos"),
        (max(col("pos")) + 1).cast("long").as("last_pos"))
      .select(col("doc_id"), lit(ts.mkString(" ")).as("phrase"),
        col("n_occurrences"), col("first_pos"), col("last_pos"))
      .orderBy("doc_id")
  }

  /** RANKED KEYWORD RETRIEVAL: top-k documents for a deterministic
    * 3-term query (document-frequency ranks loRank..hiRank of the
    * vocabulary under (df desc, term asc) — mid-frequency terms, the
    * interesting retrieval case), scored by tf × odds-ratio idf (the
    * same idf convention as [[TextAnalysis.tfidfTopTerms]]). Per-term
    * weights are floored to integer MICRO-UNITS before the per-doc sum,
    * so the aggregate is order-independent (the established
    * engine-parity pattern for summed doubles).
    *
    * The vocabulary ranking is a distributed top-hiRank
    * (TakeOrderedAndProject), NEVER a global row_number over the full
    * vocabulary — millions of distinct terms at corpus scale would
    * serialize through one reducer under an unpartitioned window. The
    * query-term table is ≤ hiRank rows BY CONSTRUCTION (limit), so its
    * broadcast is bounded. */
  def keywordSearch(idx: DataFrame, loRank: Int = 10, hiRank: Int = 12,
      k: Int = 20, tfPre: Option[DataFrame] = None): DataFrame = {
    // staged: four consumers (two topK legs, the n_docs scalar, the
    // score join) would otherwise each re-run the full-index aggregate
    // as separate broadcast-subquery jobs (StageAudit r12)
    val tf = tfPre.getOrElse(Materialize.stage(termFreq(idx)))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // ranks loRank..hiRank as the DIFFERENCE of two distributed top-k's
    // (terms are distinct, so set EXCEPT is exact) — no unpartitioned
    // window anywhere, even over the tiny term table
    def topK(k: Int) = dft.orderBy(col("df").desc, col("term").asc).limit(k)
    scoreOddsIdf(tf, topK(hiRank).except(topK(loRank - 1)), k,
      tf.agg(countDistinct(col("doc_id")).as("n_docs")))
  }

  /** [[keywordSearch]] for an EXPLICIT query-term list — the form a
    * caller with an actual query uses; the registry entry keeps the
    * corpus-derived deterministic query for the oracle. Each term is
    * tokenized as the index tokenizes text ([[WordCount.tokenize]]), so
    * "Data" finds `data` under any default locale. An
    * out-of-vocabulary term has no df row and contributes nothing; a
    * query of only OOV terms returns the empty result (correct shape,
    * zero rows), never an error. */
  def keywordSearchFor(idx: DataFrame, terms: Seq[String],
      k: Int = 20, dl: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    // STATIC query terms filter the index BEFORE the per-(term, doc)
    // aggregate — the isin predicate reaches the postings scan, so the
    // dominant tf aggregation shuffles only the query terms' posting
    // lists, never the corpus gram stream (the corpus-derived probes
    // cannot do this: their query terms come from the full-vocabulary
    // df ranking). df values are identical — a term's df counted over
    // its own postings equals its df in the full table. The one
    // corpus-wide piece left is the narrow doc-count scalar — served
    // from the precomputed doc-length index when the caller has one
    // (count of dl rows ≡ countDistinct(doc_id) over the index: dl IS
    // the per-doc grouping), else a staged full-index countDistinct.
    val sub = idx.filter(col("tok").isin(terms.flatMap(WordCount.tokenize): _*))
    val tf = Materialize.stage(termFreq(sub))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = dl.map(_.agg(count(lit(1)).as("n_docs")))
      .getOrElse(idx.agg(countDistinct(col("doc_id")).as("n_docs")))
    scoreOddsIdf(tf, dft, k, nDocs)
  }

  /** Shared odds-idf scorer over a bounded query-term table `q`
    * (term, df): tf × odds-ratio idf in floored integer micro-units,
    * per-doc integer sum, deterministic top-k. `nDocs` is the ONE-ROW
    * corpus doc count (passed in so a pre-filtered tf can still score
    * with the corpus-wide idf denominator). */
  private def scoreOddsIdf(tf: DataFrame, q: DataFrame, k: Int,
      nDocs: DataFrame): DataFrame = {
    val n = nDocs
    tf.join(broadcast(q), "term")
      .crossJoin(broadcast(n))
      .withColumn("w", floor(
        (lit(1.0e6) * (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)))
          / (col("df").cast("double") + lit(0.5))).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("w")).as("score_micro"),
        count(lit(1)).as("n_terms_matched"),
        sum(col("tf")).as("total_tf"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25-RANKED RETRIEVAL (Robertson–Spärck Jones; k1 = 1.2,
    * b = 0.75) over the same deterministic mid-df 3-term query as
    * [[keywordSearch]] — the industry-standard scorer beside the
    * odds-idf one, same query so the two rankings are directly
    * comparable. Per-(term, doc) scores — idf = ln(odds + 1) times the
    * saturating tf normalization with document-length penalty — are
    * floored to integer micro-units BEFORE the per-doc sum (the
    * engine-parity pattern: the only cross-engine double operations
    * are a fixed single-expression sequence per row, mirrored
    * parenthesis-for-parenthesis in the oracle; the aggregate is an
    * integer sum, immune to partial-aggregation order). Probe cost
    * scales with the query terms' posting lists; the doc-length join
    * adds one aggregation over the index and the corpus stats are a
    * one-row broadcast scalar. */
  def bm25Search(idx: DataFrame, loRank: Int = 10, hiRank: Int = 12,
      k: Int = 20, dl: Option[DataFrame] = None,
      tfPre: Option[DataFrame] = None): DataFrame = {
    // STAGE tf: the query-term table and both topK legs are derived
    // from it AND scoreBm25 joins it — unstaged, each broadcast-
    // subquery leg re-runs the full-index scan+aggregate as its own
    // job (StageAudit r12: 2–3 identical corpus-sized stages per
    // probe, the bm25 family's "fixed machinery" floor). One scan,
    // then every leg reads the checkpointed per-(term,doc) table.
    val tf = tfPre.getOrElse(Materialize.stage(termFreq(idx)))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    def topK(kk: Int) = dft.orderBy(col("df").desc, col("term").asc).limit(kk)
    scoreBm25(idx, tf, topK(hiRank).except(topK(loRank - 1)), k, dl)
  }

  /** [[bm25Search]] for an EXPLICIT query-term list — same OOV
    * semantics as [[keywordSearchFor]] (unknown terms contribute
    * nothing; all-OOV → empty result). */
  def bm25SearchFor(idx: DataFrame, terms: Seq[String],
      k: Int = 20, dl: Option[DataFrame] = None): DataFrame =
    scoreBm25AllFor(idx, terms, dl)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)

  /** Shared probe core of [[bm25SearchFor]] and [[bm25SearchDedupFor]]
    * (review finding: the isin/stage/df chain had been copied): the
    * posting-list-bounded explicit-query score table WITHOUT the final
    * top-k cut. The static isin reaches the scan; the only corpus-wide
    * piece left is the narrow doc-length aggregate — pass a precomputed
    * `dl` (SharedIntermediates.postingsDocLengths) to amortize it away
    * (values are identical either way). tf stages for the same reason
    * as [[bm25Search]]: the df broadcast leg would otherwise re-run
    * the probe scan as a separate job. */
  private def scoreBm25AllFor(idx: DataFrame, terms: Seq[String],
      dl: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    val sub = idx.filter(col("tok").isin(terms.flatMap(WordCount.tokenize): _*))
    val tf = Materialize.stage(termFreq(sub))
    scoreBm25All(idx, tf, tf.groupBy("term").agg(count(lit(1)).as("df")), dl)
  }

  private def scoreBm25(idx: DataFrame, tf: DataFrame, q: DataFrame,
      k: Int, dlOpt: Option[DataFrame] = None): DataFrame =
    scoreBm25All(idx, tf, q, dlOpt)
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)

  /** [[scoreBm25]] without the final top-k truncation — the FULL
    * per-doc score table, for consumers that post-process the ranking
    * (cluster collapse, fusion) and must not lose candidates to an
    * early cutoff. Still posting-bounded: only docs matching a query
    * term ever appear. */
  private def scoreBm25All(idx: DataFrame, tf: DataFrame, q: DataFrame,
      dlOpt: Option[DataFrame] = None): DataFrame = {
    // fallback dl staged: it feeds BOTH the per-doc join and the
    // (n_docs, avgdl) broadcast scalar — unstaged, the scalar leg
    // re-runs the corpus-sized docLengths aggregate as its own job
    val dl = dlOpt.getOrElse(Materialize.stage(docLengths(idx)))
    val st = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val idf = log(
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val norm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        (lit(1.2) * (lit(0.25) + (lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
    tf.join(broadcast(q), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .withColumn("w", floor((lit(1.0e6) * idf) * norm).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("w")).as("score_micro"),
        count(lit(1)).as("n_terms_matched"),
        sum(col("tf")).as("total_tf"))
  }

  /** DIVERSIFIED SEARCH — the BM25 ranking collapsed to ONE result per
    * near-dup cluster (the search-over-crawl reality: the top of any
    * keyword ranking is dominated by mirror pages that all score
    * alike; serving them all wastes the whole result page). Collapse
    * runs over the FULL posting-bounded score table BEFORE the top-k
    * cut — truncate-then-collapse would under-fill the page — keeping
    * each cluster's best-scoring doc (ties to the smaller doc_id) with
    * the count of scored docs it absorbed; unclustered docs are their
    * own singleton.
    *
    * Scale shape: scores are posting-bounded (only docs matching a
    * query term), the cluster map joins on doc_id, and the collapse is
    * one partitioned window over the scored set — candidate-bounded
    * work end-to-end, never corpus-sized. */
  def bm25SearchDedupFor(idx: DataFrame, terms: Seq[String],
      clusters: DataFrame, k: Int = 20,
      dl: Option[DataFrame] = None): DataFrame = {
    val scores = scoreBm25AllFor(idx, terms, dl)
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val wBest = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scores
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_collapsed",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cluster_id"), col("score_micro"),
        col("n_terms_matched"), col("total_tf"), col("n_collapsed"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** MMR RE-RANKING (Carbonell & Goldstein 1998) — the GRADED
    * diversifier: where [[bm25SearchDedupFor]] hard-collapses
    * near-dup clusters, MMR greedily picks argmax of
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, trading
    * relevance against redundancy continuously. Relevance is the
    * rank-linear 10⁶ − (rank−1)·5·10⁴ over the BM25 top-`kCand`
    * (rank-based, not raw-score-based — MMR needs both terms on one
    * scale); similarity is exact word-3-gram Jaccard in ppm between
    * candidate pairs. All integer; ties to the smaller doc_id.
    *
    * Scale shape: the candidate set is top-k-BOUNDED (≤ kCand docs),
    * so the pair-sim self-join (≤ kCand² rows), the kSel greedy
    * rounds, and their ≤ kCand-row argmax sorts are all constant-size
    * post-processing of one posting-bounded probe — the standard
    * rerank-stage contract (a 100 TB corpus changes the probe, not
    * the rerank). Each round's selection STAGES (Materialize) because
    * round r's lineage embeds rounds 1..r−1 (the pcaPower unrolled-
    * loop rule). Gram extraction touches only the ≤ kCand candidate
    * docs via a semi-join pushed into the documents scan. */
  def mmrRerank(docs: DataFrame, idx: DataFrame, terms: Seq[String],
      kSel: Int = 5, lambdaPermille: Long = MmrLambdaPermille,
      kCand: Int = MmrKCand,
      dl: Option[DataFrame] = None): DataFrame = {
    val rw = Window.orderBy(col("score_micro").desc, col("doc_id").asc)
    // ≤ kCand rows: the unpartitioned rank is the hybrid_search_rrf
    // bounded-by-construction class (PlanShapeSpec-allowlisted)
    val cand = Materialize.stage(
      bm25SearchFor(idx, terms, kCand, dl)
        .withColumn("rank", row_number().over(rw).cast("long"))
        .select(col("doc_id"), col("rank"),
          (lit(1000000L) - (col("rank") - 1) * MmrRankStepPpm).as("rel_ppm")))
    val grams = Materialize.stage(Dedup.wordGrams(
        docs.join(cand.select(col("doc_id")), Seq("doc_id"), "semi"))
      .distinct())
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // both orientations so round lookups are one equi-join
    val inter = grams.as("x").join(grams.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .agg(count(lit(1)).as("ni"))
    val sims = Materialize.stage(inter
      .join(sizes.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
      .select(col("da"), col("db"),
        expr("ni * 1000000 div (sa + sb - ni)").as("sim_ppm")))
    var sel: DataFrame = null
    for (r <- 1 to kSel) {
      val remaining =
        if (sel == null) cand
        else cand.join(sel.select(col("doc_id")), Seq("doc_id"), "anti")
      val withSim =
        if (sel == null) remaining.withColumn("maxsim_ppm", lit(0L))
        else remaining
          .join(sims.join(sel.select(col("doc_id").as("db")), "db")
              .groupBy(col("da").as("doc_id"))
              .agg(max(col("sim_ppm")).as("ms")),
            Seq("doc_id"), "left")
          .withColumn("maxsim_ppm", coalesce(col("ms"), lit(0L)))
      val pick = withSim
        .withColumn("mmr",
          lit(lambdaPermille) * col("rel_ppm") -
            lit(1000L - lambdaPermille) * col("maxsim_ppm"))
        .orderBy(col("mmr").desc, col("doc_id").asc)
        .limit(1)
        .select(lit(r.toLong).as("pick"), col("doc_id"), col("rank"),
          col("rel_ppm"), col("maxsim_ppm"), col("mmr"))
      sel = Materialize.stage(if (sel == null) pick else sel.unionAll(pick))
    }
    sel.orderBy("pick")
  }

  /** RETRIEVAL EVALUATION: NDCG@k of the BM25 ranking for an explicit
    * query, scored against a deterministic binary relevance oracle —
    * a document is relevant iff it contains ALL query terms (the
    * standard pseudo-relevance proxy when no human labels exist; it is
    * a proxy the ranker does NOT directly optimize, since BM25 scores
    * partial matches too). The evaluation-harness operator of a
    * retrieval stack, expressed relationally and integer-exact:
    * per-position gains floor(10⁶ / log2(pos+1)) are PRECOMPUTED into
    * a k-element literal table ([[ndcgGains]]) embedded identically in
    * the plan and the oracle — no engine transcendental anywhere, so
    * parity is by construction — DCG/IDCG are integer sums of those,
    * and NDCG is reported in integer permille. IDCG uses min(k, total
    * relevant) ideal positions. One-row output: (n_relevant,
    * n_retrieved_relevant, dcg_micro, idcg_micro, ndcg_permille).
    *
    * Scale shape: the ranking leg is the existing bounded BM25 probe;
    * relevance is a semi-join-shaped aggregate over the query terms'
    * posting lists only (HAVING count(distinct term) = |q|), never the
    * corpus; both reduce to one-row aggregates crossJoined — the
    * bounded scalar pattern. */
  /** floor(10⁶ / log2(pos+1)) for pos = 1..k, computed once in Scala —
    * the shared literal gain table (plan AND oracle embed these exact
    * longs, so the transcendental never runs in either engine). */
  def ndcgGains(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1000000.0 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  def searchEvalNdcg(idx: DataFrame, terms: Seq[String],
      k: Int = 20, dl: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    val q = terms.flatMap(WordCount.tokenize).distinct
    // ONE posting-list-bounded tf subtree (the static isin reaches the
    // scan) feeds both the relevance leg and the BM25 ranking leg —
    // the per-(term,doc) aggregate covers only the query terms'
    // postings, never the corpus gram stream
    val sub = idx.filter(col("tok").isin(q: _*))
    // staged: three consumers (relevance leg, df leg, score join)
    val tf = Materialize.stage(termFreq(sub))
    // binary relevance: docs containing ALL query terms
    val rel = tf.groupBy("doc_id")
      .agg(countDistinct(col("term")).as("nt"))
      .filter(col("nt") === q.size)
      .select(col("doc_id"))
    val gainArr = array(ndcgGains(k).map(lit): _*)
    val ranked = scoreBm25(idx, tf,
        tf.groupBy("term").agg(count(lit(1)).as("df")), k, dl)
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id").asc))
          .cast("long").as("pos"))
    val dcg = ranked.join(rel, "doc_id")
      .agg(coalesce(sum(element_at(gainArr, col("pos").cast("int"))), lit(0L))
          .as("dcg_micro"),
        count(lit(1)).as("n_retrieved_relevant"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    // ideal DCG: the first min(k, max(n_relevant, 1)) positions all
    // relevant — a prefix sum of the same literal gain table
    val idcg = nRel.select(col("n_relevant"),
      aggregate(
        slice(gainArr, lit(1),
          least(lit(k), greatest(col("n_relevant"), lit(1L))).cast("int")),
        lit(0L), (acc, x) => acc + x).as("idcg_micro"))
    dcg.crossJoin(idcg)
      .select(col("n_relevant"), col("n_retrieved_relevant"),
        col("dcg_micro"), col("idcg_micro"),
        expr("dcg_micro * 1000 DIV idcg_micro").as("ndcg_permille"))
  }

  /** HYBRID RETRIEVAL via reciprocal-rank fusion (Cormack et al.,
    * SIGIR'09): fuse the odds-idf and BM25 rankings of the SAME query
    * with RRF(d) = Σ_legs 1/(K + rank_leg(d)), K = 60 — the standard
    * score-free fusion every hybrid (lexical + semantic) retrieval
    * stack ships, here over the two lexical legs so the whole fusion
    * is integer-exact: each contribution is 10⁶ DIV (K + rank), no
    * doubles anywhere. Ranks come from row_number over each leg's
    * top-k result — a ≤ k-row bounded table BY CONSTRUCTION (the
    * TakeOrderedAndProject output), so the unpartitioned window is the
    * correct shape, like value_histogram's bin table. Absent-leg ranks
    * surface as the sentinel 999 (never NULL — cross-engine NULL
    * aggregation is a hash hazard the sentinel sidesteps). */
  def hybridSearchRrf(idx: DataFrame, rrfK: Int = 60, k: Int = 20,
      dl: Option[DataFrame] = None): DataFrame = {
    def leg(df: DataFrame, name: String) = df
      .select(col("doc_id"),
        row_number().over(
          Window.orderBy(col("score_micro").desc, col("doc_id").asc))
          .cast("long").as("r"),
        lit(name).as("leg"))
    // ONE staged tf serves both legs — the corpus aggregate is shared,
    // not recomputed per scorer
    val tf = Materialize.stage(termFreq(idx))
    leg(keywordSearch(idx, k = k, tfPre = Some(tf)), "kw")
      .unionByName(leg(bm25Search(idx, k = k, dl = dl, tfPre = Some(tf)), "bm25"))
      .withColumn("c", expr(s"1000000 DIV ($rrfK + r)"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("rrf_micro"),
        count(lit(1)).as("n_legs"),
        coalesce(min(when(col("leg") === "kw", col("r"))), lit(999L)).as("kw_rank"),
        coalesce(min(when(col("leg") === "bm25", col("r"))), lit(999L)).as("bm25_rank"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Vocabulary statistics of the index: the top-k terms by document
    * frequency with their df and total term frequency — the index's
    * own correctness gate (posting-list lengths are directly
    * oracle-checkable). Top-k via TakeOrderedAndProject. */
  def indexStats(idx: DataFrame, k: Int = 20): DataFrame =
    termFreq(idx)
      .groupBy("term").agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .orderBy(col("df").desc, col("term").asc).limit(k)

  // ---- incremental index maintenance --------------------------------
  //
  // The postings relation is a PURE PER-DOCUMENT map: every (tok,
  // doc_id, pos) row depends only on its own document's text, never on
  // cross-document state. So for disjoint document sets A and B,
  //   postings(A ∪ B) = postings(A) ∪ postings(B)
  // as a relational identity — which makes maintenance trivial-by-
  // construction in exactly the way a production index wants: new
  // documents are indexed ALONE (a delta sized by the ingest batch,
  // never the corpus), and probes serve from union(base, delta). At
  // 100 TB this is the difference between a nightly corpus-sized
  // rebuild and a per-batch map-only explode. SearchIncrementalSpec
  // proves the identity on real data (probe over base+delta hash-equals
  // probe over a full rebuild), and the bm25_search_incremental registry
  // entry pins it against the DuckDB full-corpus oracle.

  /** Index ONLY the new documents — the per-ingest-batch delta build.
    * Cost is one map-only explode over the batch (shuffle-free). */
  def postingsDelta(newDocs: DataFrame): DataFrame = postings(newDocs)

  /** Serve probes over the base index plus any number of deltas. The
    * union is a zero-shuffle plan prefix: every probe's `tok` filter
    * pushes through UNION into each child's scan, so probe cost is
    * still posting-list-bounded across all generations.
    *
    * COMPACTION POLICY (size-tiered, the LSM convention): rewrite
    * union(base, deltas) as the new durable base once Σ|delta| exceeds
    * ~20% of |base| — compaction cost is one corpus-sized write (the
    * same price as the original build), amortized over the ~5 ingest
    * batches that triggered it. [[compactPostings]] is that rewrite;
    * callers own the trigger because delta sizes are theirs to track. */
  def servePostings(base: DataFrame, deltas: DataFrame*): DataFrame =
    deltas.foldLeft(base)(_ unionByName _)

  /** The compaction rewrite: one relation containing every generation,
    * ready to be written back as the new durable base (via
    * Materialize.table under a fresh content key). */
  def compactPostings(base: DataFrame, deltas: DataFrame*): DataFrame =
    servePostings(base, deltas: _*)

  // ---- deletion (tombstones) ----------------------------------------
  //
  // A real 100 TB pipeline must REMOVE documents — takedowns,
  // dedup-driven eviction, license changes (r10 verdict item 1) — and
  // a full postings rebuild per delete batch is corpus-sized work for
  // an ingest-batch-sized change. The LSM answer: deletes ship as
  // TOMBSTONES (a doc_id set riding with the ingest generation that
  // observed them), probes anti-join them at serve time, and
  // compaction makes the removal physical (writing the served view IS
  // the removal — tombstoned rows simply never reach the new base).
  // The same doc_id anti-join serves every doc-keyed index here: the
  // postings relation, the per-doc length table, and the LSH band
  // tables (band-index caveat: a bucket the BUILD-time cap dropped is
  // not resurrected when deletes shrink it below cap — the served
  // result is exact for every surviving bucket and compaction restores
  // cap-exactness; IncrementalIndexSpec pins both).

  /** The size-tiered compaction trigger (the 20% policy
    * [[servePostings]] documents, as code a caller drives): compact
    * when the accumulated delta rows reach `permille`/1000 of the base.
    * Pure integer arithmetic — the advisor-flagged double multiply
    * (`(baseRows * 0.2).toLong`) fired one row early on exact
    * multiples and lost exactness past 2⁵³ rows. */
  def compactionDue(baseRows: Long, deltaRows: Long,
      permille: Long = 200L): Boolean =
    // BigInt: a bare long multiply would itself overflow near 2^53·10³
    // — this is a once-per-serve driver-side decision, not a hot path
    BigInt(deltaRows) * 1000 >= BigInt(baseRows) * permille

  /** Serve-time delete: drop every row of a doc_id-keyed index whose
    * document is tombstoned. One hash anti-join sized by the tombstone
    * set — never corpus-sized work. */
  def applyTombstones(idx: DataFrame, tombstones: DataFrame): DataFrame =
    idx.join(tombstones.select(col("doc_id")), Seq("doc_id"), "left_anti")

  /** One index generation: its postings plus the tombstones it carries
    * against every OLDER generation (None for the initial base). */
  final case class Generation(postings: DataFrame,
      tombstones: Option[DataFrame] = None)

  /** Serve across generations with LSM delete semantics, oldest first:
    * generation g's tombstones hide matching doc_ids in every
    * generation BEFORE g, never in g itself or after — so
    * delete-then-readd works by construction (the re-added document
    * arrives in a LATER generation than the tombstone that removed its
    * predecessor). Writing this view back through Materialize.table is
    * compaction WITH physical removal: tombstoned rows never reach the
    * new base, and the new base starts a fresh tombstone-free epoch. */
  def servePostingsLsm(generations: Seq[Generation]): DataFrame = {
    require(generations.nonEmpty, "need at least one generation")
    // tombstones delete from OLDER generations only — on the first
    // generation there is nothing older, so accepting them would
    // silently serve the documents a caller meant to delete (review
    // finding). A base-with-deletes is expressed as
    // Seq(Generation(base), Generation(empty delta, Some(tombs))).
    require(generations.head.tombstones.isEmpty,
      "first generation cannot carry tombstones (nothing older exists); " +
        "attach them to a later generation")
    generations.tail.foldLeft(generations.head.postings) { (acc, g) =>
      g.tombstones.fold(acc)(applyTombstones(acc, _))
        .unionByName(g.postings)
    }
  }
}
