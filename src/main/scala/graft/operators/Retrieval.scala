package graft.operators

import graft.Scratch
import graft.{Q, QueryModule, Tables}
import graft.operators.TextAnalysis.{enStopwords, tokens}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text retrieval primitives over the `documents` table: the index
  * build (term → posting list) and the ranked lookup (BM25). The reference
  * has no search surface — these extend the engine for the LLM-data use
  * (retrieval-augmented filtering, query-based corpus audits) the brief
  * asks for.
  *
  * Scale posture: everything funnels through vocabulary-sized frames.
  * Token explosion is map-side; the only corpus-sized shuffle is the
  * map-side-combined (doc, term) tf/df aggregation. Posting lists are
  * k-BOUNDED via the native TopKPerKey exec (partial heaps ship ≤ k rows
  * per term per mapper) — an unbounded collect_list per term is exactly
  * the 100 TB OOM the exec exists to avoid. Query-term frames (top-k df
  * rows) broadcast everywhere else.
  */
object Retrieval extends QueryModule {

  /** Distinct (doc_id, term) pairs: dedup inside the token array first
    * (map-side, free) so the shuffle carries each (doc, term) once.
    */
  private def docTermPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(tokens(lower(col("text"))))).as("term"))

  /** Document frequency per term — vocabulary-sized after one map-side-
    * combined shuffle.
    */
  def documentFrequency(docs: DataFrame): DataFrame =
    documentFrequencyFromPairs(docTermPairs(docs))

  private def documentFrequencyFromPairs(pairs: DataFrame): DataFrame =
    pairs.groupBy("term").agg(count(lit(1)).as("df"))

  /** Inverted index sample: the `topTerms` highest-df terms with their df
    * and the `postingsK` smallest doc_ids holding the term (a capped
    * posting list — the index shard a query-router would fetch).
    *
    * The posting cap runs on the native TopKPerKey exec: map-side partial
    * heaps ship at most `postingsK` doc_ids per term per mapper, so the
    * shuffle and the final per-term state are k-bounded at any corpus
    * size (collect_list-then-slice would buffer df-sized lists — df for a
    * common term at 100 TB is billions). The ≤ k survivors then fold to a
    * comma-joined string, a deterministic, driver-hashable scalar.
    */
  def invertedIndex(docs: DataFrame, topTerms: Int = 20,
                    postingsK: Int = 10): DataFrame = {
    // persisted: feeds the df aggregation AND the posting build — the
    // corpus tokenize+explode would otherwise run twice (review finding)
    import graft.CacheScope.TrackedDataset
    val pairs = docTermPairs(docs).persistTracked()
    val top = documentFrequencyFromPairs(pairs)
      .orderBy(desc("df"), col("term")).limit(topTerms)
    val capped = graft.plans.TopKPerKey.topKPerKey(
      pairs.join(broadcast(top), Seq("term")),
      Seq("term"), Seq(("doc_id", true)), postingsK)
    capped.groupBy("term").agg(
        first(col("df")).as("df"),
        concat_ws(",",
          sort_array(collect_list(col("doc_id"))).cast("array<string>"))
          .as("postings"))
      .orderBy(desc("df"), col("term"))
  }

  /** BM25 ranked retrieval (Robertson & Walker 1994; the Lucene
    * `k1=1.2, b=0.75` practical form with the non-negative idf
    * `ln(1 + (N - df + 0.5)/(df + 0.5))`). The query is self-derived for
    * determinism at every SF: the `nQueryTerms` highest-df non-stopword
    * terms. Top `k` docs by (rounded score desc, doc_id).
    *
    * Plan: one corpus tokenize pass computes per-doc length AND feeds the
    * explode; query terms broadcast into the exploded stream BEFORE the
    * tf aggregation, so the only shuffle after df is (matching docs ×
    * ≤ nQueryTerms) rows. N and Σdl ride as a broadcast scalar; the
    * length norm uses `dl·N/Σdl` so both engines divide identically.
    * Score rounds to 6 dp before ranking so cross-engine double folds
    * can't reorder near-ties.
    */
  def bm25TopK(docs: DataFrame, nQueryTerms: Int = 3, k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // persisted: one corpus tokenize pass feeds qterms (via the distinct
    // explode), the length totals AND the tf explode — unpersisted, the
    // regex tokenize ran three times per invocation (review finding)
    import graft.CacheScope.TrackedDataset
    val base = docs.select(col("doc_id"),
        tokens(lower(col("text"))).as("toks"))
      .persistTracked()
    val qterms = documentFrequencyFromPairs(
        base.select(col("doc_id"), explode(array_distinct(col("toks"))).as("term")))
      .filter(!col("term").isin(enStopwords: _*))
      .orderBy(desc("df"), col("term")).limit(nQueryTerms)
    val totals = base.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("sum_dl"))
    val tf = base
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qterms), Seq("term"))
      .groupBy("doc_id", "term", "dl", "df")
      .agg(count(lit(1)).as("tf"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") * col("n_docs") / col("sum_dl"))
    val contrib = idf * (col("tf") * (k1 + 1.0)) / (col("tf") + norm)
    tf.crossJoin(broadcast(totals))
      .select(col("doc_id"), contrib.as("c"))
      .groupBy("doc_id").agg(round(sum(col("c")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** DIRICHLET-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001, μ = 2000) — the language-modeling ranker beside BM25's
    * probabilistic one; the pair is the standard lexical A/B for index
    * rollouts (they disagree exactly on how document length and
    * collection frequency trade off). Rank-preserving decomposition:
    * score(q,d) = Σ_{t∈q∩d} ln(1 + tf·|C|/(μ·cf_t)) + |q|·ln(μ/(dl+μ)),
    * so only MATCHING (doc, term) rows are ever materialized (the
    * posting-bounded candidate restriction every LM retriever ships;
    * no-match docs are strictly dominated short-doc priors).
    *
    * Scale posture: the bm25TopK plan shape — one corpus tokenize pass
    * (persisted), query terms broadcast into the exploded stream BEFORE
    * any aggregation (the shuffle carries matching rows only),
    * collection stats ride as broadcast scalars. Per-term contributions
    * round to 6dp and sum as DECIMAL (order-safe); the doc-length prior
    * is one double expression both engines evaluate identically.
    */
  def dirichletLmTopK(docs: DataFrame, nQueryTerms: Int = 3, k: Int = 20,
                      mu: Double = 2000.0): DataFrame = {
    import graft.CacheScope.TrackedDataset
    import org.apache.spark.sql.types.DecimalType
    val base = docs.select(col("doc_id"),
        tokens(lower(col("text"))).as("toks"))
      .persistTracked()
    val qterms = documentFrequencyFromPairs(
        base.select(col("doc_id"),
          explode(array_distinct(col("toks"))).as("term")))
      .filter(!col("term").isin(enStopwords: _*))
      .orderBy(desc("df"), col("term")).limit(nQueryTerms)
    // matching token stream — persisted: feeds cf AND tf
    val stream = base.select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qterms.select("term")), Seq("term"))
      .persistTracked()
    val cf = stream.groupBy("term").agg(count(lit(1)).as("cf"))
    val totals = base.agg(sum(size(col("toks"))).as("ct"))
    val tf = stream.groupBy("doc_id", "term", "dl")
      .agg(count(lit(1)).as("tf"))
    val contrib = round(log(lit(1.0) +
        col("tf").cast("double") * col("ct").cast("double") /
          (lit(mu) * col("cf").cast("double"))), 6)
      .cast(DecimalType(18, 6))
    tf.join(broadcast(cf), Seq("term")).crossJoin(broadcast(totals))
      .groupBy("doc_id", "dl")
      .agg(sum(contrib).as("s"))
      .select(col("doc_id"),
        round(col("s").cast("double") +
          lit(nQueryTerms) * log(lit(mu) / (col("dl").cast("double") + lit(mu))), 6)
          .as("score"))
      .orderBy(desc("score"), col("doc_id")).limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    * signals: the BM25 top-20 and a length-prior top-20 (longest docs —
    * the quality-prior stand-in), fused as Σ 1/(60 + rank). The hybrid-
    * search shape every RAG stack runs (lexical + prior/dense lists →
    * one ranking). Both rank windows run over 20-row frames (the fused
    * lists), never the corpus.
    */
  def rrfFusion(docs: DataFrame, topN: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ra = bm25TopK(docs)
      .withColumn("ra",
        row_number().over(Window.orderBy(desc("score"), col("doc_id"))))
      .select("doc_id", "ra")
    val rb = docs.orderBy(desc("n_chars"), col("doc_id")).limit(20)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("rb",
        row_number().over(Window.orderBy(desc("n_chars"), col("doc_id"))))
      .select("doc_id", "rb")
    ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(topN)
  }

  /** Ranked-retrieval quality metrics — MRR, precision@k and nDCG@k of
    * the BM25 top-k against binary relevance "doc contains ALL query
    * terms" (the conjunctive ground truth a lexical ranker should nail).
    * The index-rollout measurement beside q_ann_recall: rerank/model
    * changes ship on these numbers, not on eyeballing.
    *
    * Scale: the ranked list is k rows; relevance derives from the same
    * (doc, term) pair stream as the index (one map-side-combined shuffle
    * after a broadcast semi-join on the 3 query terms); DCG/IDCG are 6dp
    * decimal folds over ≤ k rows each.
    */
  def retrievalMetrics(docs: DataFrame, kEval: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 6)
    val ranked = bm25TopK(docs, k = kEval)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score"), col("doc_id")))) // kEval-row frame
    val pairs = docTermPairs(docs)
    val qterms = documentFrequencyFromPairs(pairs)
      .filter(!col("term").isin(enStopwords: _*))
      .orderBy(desc("df"), col("term")).limit(3)
    val rel = pairs
      .join(broadcast(qterms.select("term")), Seq("term"))
      .groupBy("doc_id").agg(count(lit(1)).as("nq"))
      .filter(col("nq") === 3)
      .select(col("doc_id"), lit(1).as("is_rel"))
    val relCount = rel.agg(count(lit(1)).as("n_relevant"))
    val gains = ranked.join(rel, Seq("doc_id"), "left")
      .agg(
        coalesce(sum(when(col("is_rel") === 1,
            round(lit(1.0) / log2(col("rank") + 1), 6).cast(dec))),
          lit(0).cast(dec)).as("dcg"),
        sum(when(col("is_rel") === 1, 1L).otherwise(0L)).as("n_hits"),
        min(when(col("is_rel") === 1, col("rank"))).as("first_rel"))
    val idcg = relCount.select(col("n_relevant"),
        explode_outer(when(col("n_relevant") > 0,
            sequence(lit(1), least(col("n_relevant"), lit(kEval))))
          .otherwise(array())).as("i"))
      .groupBy("n_relevant")
      .agg(coalesce(sum(round(lit(1.0) / log2(col("i") + 1), 6).cast(dec)),
        lit(0).cast(dec)).as("idcg"))
    gains.crossJoin(broadcast(idcg)).select(
      col("n_relevant"), col("n_hits"),
      round(col("n_hits").cast("double") / kEval, 6).as("precision_at_k"),
      round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("mrr"),
      round(when(col("idcg") > 0,
          col("dcg").cast("double") / col("idcg").cast("double"))
        .otherwise(0.0), 6).as("ndcg_at_k"))
  }

  /** Positional phrase search: exact "w1 w2" adjacency via a positional-
    * postings self-join — the inverted-index operator a bag-of-words
    * index can't answer. Both posting streams are pre-filtered to ONE
    * term each before the (doc_id, pos)-keyed equi-join, so the shuffle
    * carries only the two terms' postings (term-frequency-bounded, not
    * corpus-bounded); at 100 TB the same plan reads two posting lists
    * from the persisted index instead of re-tokenizing.
    */
  def phraseSearch(docs: DataFrame, w1: String, w2: String): DataFrame = {
    val post = docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "token")))
    val p1 = post.filter(col("token") === w1).select(col("doc_id"), col("pos"))
    val p2 = post.filter(col("token") === w2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    p1.join(p2, Seq("doc_id", "pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }

  private val tokensSql = TextAnalysis.tokensSql("lower(text)")
  private val pairsSql =
    s"""pairs AS (
       | SELECT doc_id, unnest(list_distinct($tokensSql)) AS term
       | FROM documents)""".stripMargin

  def entries: Seq[Q] = Seq(
    Q("q_phrase_search", { (s, d) =>
      phraseSearch(Tables.documents(s, d), "table", "hash") }, {
      val toks = TextAnalysis.tokensSql("text")
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |b AS (
         | SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |   i -> toks[i] || ' ' || toks[i + 1])) AS bg
         | FROM t WHERE len(toks) >= 2)
         |SELECT doc_id, count(*) AS n_occurrences
         |FROM b WHERE bg = 'table hash' GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    Q("q_inverted_index", { (s, d) => invertedIndex(Tables.documents(s, d)) },
      s"""WITH $pairsSql,
         |df AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
         |top AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 20),
         |rn AS (
         | SELECT p.term, t.df, p.doc_id,
         |  row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id) AS rn
         | FROM pairs p JOIN top t USING (term))
         |SELECT term, df,
         | array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM rn WHERE rn <= 10
         |GROUP BY term, df ORDER BY df DESC, term""".stripMargin),
    Q("q_bm25_topk", { (s, d) => bm25TopK(Tables.documents(s, d)) },
      s"""WITH $bm25CtesSql
         |SELECT doc_id, score FROM bscore
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    Q("q_dirichlet_lm", { (s, d) => dirichletLmTopK(Tables.documents(s, d)) },
      s"""WITH base AS (
         | SELECT doc_id, $tokensSql AS toks FROM documents),
         |$pairsSql,
         |dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
         |qterms AS (
         | SELECT term, df FROM dft
         | WHERE term NOT IN (${enStopwords.map(w => s"'$w'").mkString(", ")})
         | ORDER BY df DESC, term LIMIT 3),
         |st AS (
         | SELECT e.doc_id, e.dl, e.term
         | FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |       FROM base) e
         | JOIN qterms USING (term)),
         |cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf
         |       FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS ct FROM base),
         |tfq AS (SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
         |        FROM st GROUP BY 1, 2, 3),
         |sc AS (
         | SELECT doc_id, dl,
         |  sum(CAST(round(ln(1.0 + CAST(tf AS DOUBLE) * CAST(ct AS DOUBLE)
         |    / (2000.0 * CAST(cf AS DOUBLE))), 6) AS DECIMAL(18,6))) AS s
         | FROM tfq JOIN cf USING (term) CROSS JOIN tot
         | GROUP BY 1, 2)
         |SELECT doc_id,
         | round(CAST(s AS DOUBLE)
         |  + 3 * ln(2000.0 / (CAST(dl AS DOUBLE) + 2000.0)), 6) AS score
         |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    Q("q_retrieval_metrics", { (s, d) =>
      retrievalMetrics(Tables.documents(s, d))
    },
      s"""WITH $bm25CtesSql,
         |ranked AS (
         | SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
         |   AS rank
         | FROM (SELECT doc_id, score FROM bscore
         |       ORDER BY score DESC, doc_id LIMIT 10)),
         |rel AS (
         | SELECT doc_id FROM (
         |  SELECT p.doc_id, count(*) AS nq
         |  FROM pairs p JOIN qterms q USING (term) GROUP BY 1)
         | WHERE nq = 3),
         |rc AS (SELECT count(*) AS n_relevant FROM rel),
         |g AS (
         | SELECT
         |  COALESCE(sum(CASE WHEN r.doc_id IS NOT NULL THEN
         |    CAST(round(1.0 / log2(rank + 1), 6) AS DECIMAL(18,6)) END),
         |    CAST(0 AS DECIMAL(18,6))) AS dcg,
         |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  min(CASE WHEN r.doc_id IS NOT NULL THEN rank END) AS first_rel
         | FROM ranked LEFT JOIN rel r USING (doc_id)),
         |ic AS (
         | SELECT COALESCE(sum(CAST(round(1.0 / log2(i + 1), 6)
         |     AS DECIMAL(18,6))), CAST(0 AS DECIMAL(18,6))) AS idcg
         | FROM rc, unnest(range(1, least(n_relevant, 10) + 1)) AS r(i))
         |SELECT rc.n_relevant, g.n_hits,
         | round(CAST(g.n_hits AS DOUBLE) / 10, 6) AS precision_at_k,
         | round(COALESCE(1.0 / g.first_rel, 0.0), 6) AS mrr,
         | CASE WHEN ic.idcg > 0 THEN
         |   round(CAST(g.dcg AS DOUBLE) / CAST(ic.idcg AS DOUBLE), 6)
         |  ELSE 0.0 END AS ndcg_at_k
         |FROM g CROSS JOIN ic CROSS JOIN rc""".stripMargin),
    Q("q_rrf_fusion", { (s, d) => rrfFusion(Tables.documents(s, d)) },
      s"""WITH $bm25CtesSql,
         |ra AS (
         | SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         | FROM (SELECT doc_id, score FROM bscore
         |       ORDER BY score DESC, doc_id LIMIT 20)),
         |rb AS (
         | SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r
         | FROM (SELECT doc_id, n_chars FROM documents
         |       ORDER BY n_chars DESC, doc_id LIMIT 20))
         |SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
         | round(COALESCE(CAST(1 AS DOUBLE) / (60 + ra.r), 0)
         |   + COALESCE(CAST(1 AS DOUBLE) / (60 + rb.r), 0), 6) AS rrf
         |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    // INDEX MAINTENANCE without rescanning history: load 1's term→df
    // postings stats persist as a compact parquet store; load 2 computes
    // only ITS df and sum-merges with the store (df is additive over a
    // disjoint doc partition). The gate: the merged index must equal a
    // full rebuild — which is exactly what the oracle computes. The
    // incremental-dedup/HLL-store pattern applied to the search index.
    Q("q_index_incremental", { (s, d) =>
      val docs = Tables.documents(s, d)
      val store = Scratch.dir("df_store")
      documentFrequency(docs.filter(col("doc_id") % 3 =!= 0))
        .write.mode("overwrite").parquet(store)
      documentFrequency(docs.filter(col("doc_id") % 3 === 0))
        .unionByName(s.read.parquet(store))
        .groupBy("term").agg(sum(col("df")).as("df"))
        .orderBy(desc("df"), col("term")).limit(20)
    },
      s"""WITH $pairsSql
         |SELECT term, count(*) AS df FROM pairs
         |GROUP BY 1 ORDER BY df DESC, term LIMIT 20""".stripMargin)
  )

  /** Shared BM25 CTE chain ending in `bscore(doc_id, score)` — used by
    * the q_bm25_topk oracle and as ranking A of the q_rrf_fusion oracle.
    */
  private def bm25CtesSql: String =
    s"""base AS (
       | SELECT doc_id, $tokensSql AS toks FROM documents),
       |$pairsSql,
       |dft AS (SELECT term, count(*) AS df FROM pairs GROUP BY 1),
       |qterms AS (
       | SELECT term, df FROM dft
       | WHERE term NOT IN (${enStopwords.map(w => s"'$w'").mkString(", ")})
       | ORDER BY df DESC, term LIMIT 3),
       |totals AS (
       | SELECT count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS sum_dl
       | FROM base),
       |tf AS (
       | SELECT e.doc_id, e.term, e.dl, q.df, count(*) AS tf
       | FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |       FROM base) e
       | JOIN qterms q USING (term)
       | GROUP BY 1, 2, 3, 4),
       |bscore AS (
       | SELECT doc_id,
       |  round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |    * (tf * 2.2)
       |    / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * n_docs / sum_dl))), 6)
       |   AS score
       | FROM tf, totals
       | GROUP BY doc_id)""".stripMargin
}
