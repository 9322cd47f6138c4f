package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.CacheScope.TrackedDataset

/** Text-analysis operators for a training-data pipeline (builder brief):
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure Catalyst expressions (codegen'd, no UDFs) —
  * at 100 TB these run map-side with zero shuffles; only the final
  * aggregations (if any) exchange data.
  */
object TextAnalysis extends QueryModule {

  /** Whitespace tokens: split on runs of whitespace, drop empty artifacts.
    * (A trim-then-split guard mishandles tab/newline-only text — Spark's
    * `trim` strips only spaces, leaving phantom tokens; filtering empties
    * covers every degenerate case uniformly on both engines.)
    */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs, single digits, single punctuation
    * marks — the usual pre-tokenizer shape. Pattern kept to syntax shared
    * by Java regex (Spark) and RE2 (DuckDB oracle).
    */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(bpeTokenPattern), lit(0)))

  /** English stopword set for quality/lang scoring (public knowledge). */
  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this", "be")

  /** Count of tokens in `words`, via a higher-order filter (no explode, no
    * shuffle).
    */
  def tokenHits(c: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    size(filter(tokens(c), t => array_contains(wordArr, t)))
  }

  /** Stopword ratio: stopword tokens / tokens (0 for empty docs). */
  def stopwordRatio(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, 0.0)
      .otherwise(tokenHits(c, enStopwords).cast("double") / n.cast("double"))
  }

  /** Punctuation ratio over a fixed class (same char class both dialects). */
  val punctClass = "[.,!?;:]"
  def punctRatio(c: Column): Column =
    when(length(c) === 0, 0.0).otherwise(
      (length(c) - length(regexp_replace(c, punctClass, ""))).cast("double") /
        length(c).cast("double"))

  /** Four-fifths-rule disparate-impact table over any (group, keep)
    * frame: per-group keep rate in exact integer ppm, ratio to the
    * most-favored group, and the EEOC 4/5ths violation flag computed as
    * the exact integer cross-multiply rate·5 < max_rate·4 (no float
    * compare). Scale: one group-cardinality aggregate + one broadcast
    * scalar max. Violation path is spec-gated on planted rates
    * (Round9Spec) — the natural corpus keeps uniformly.
    */
  def disparateImpact(df: DataFrame, groupCol: String,
                      keepCol: String): DataFrame = {
    val perG = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col(keepCol), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("rate_ppm", expr("n_kept * 1000000 div n"))
    val mx = perG.agg(max(col("rate_ppm")).as("max_ppm"))
    perG.crossJoin(broadcast(mx))
      .select(col(groupCol), col("n"), col("n_kept"), col("rate_ppm"),
        round(col("rate_ppm").cast("double") /
          col("max_ppm").cast("double"), 6).as("di_ratio"),
        (col("rate_ppm") * 5 < col("max_ppm") * 4).as("violates_45"))
      .orderBy(groupCol)
  }

  /** Mean token length (a words-vs-garbage signal). */
  def meanTokenLen(c: Column): Column = {
    val n = tokenCount(c)
    when(n === 0, 0.0).otherwise(
      aggregate(tokens(c), lit(0L), (acc, t) => acc + length(t)).cast("double") /
        n.cast("double"))
  }

  /** Quality score in [0,1]: length in a sane band, some stopwords, not
    * punctuation soup, word-like mean token length. The exact weights are
    * this engine's contract (the reference has no equivalent; this extends
    * its EDA quality audits, notebooks/002_EDA_csv.ipynb cell 20).
    */
  def qualityScore(c: Column): Column = {
    val lenOk = when(length(c).between(20, 20000), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(c) > 0.01, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(c) < 0.2, 1.0).otherwise(0.0)
    val wordOk = when(meanTokenLen(c).between(2.0, 12.0), 1.0).otherwise(0.0)
    (lenOk * 0.3 + stopOk * 0.3 + punctOk * 0.2 + wordOk * 0.2)
  }

  /** Language-ID heuristic: per-language stopword-hit counts, argmax with
    * a fixed precedence order on ties. Stopword lists are the standard
    * high-frequency function words of each language (public knowledge).
    */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "para"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"))

  /** Predicted language: the first (in declared order) language whose score
    * equals the max; "und" (undetermined) when no stopword hits at all.
    */
  def langId(c: Column): Column = {
    val scores = langStopwords.map { case (lang, words) => lang -> tokenHits(c, words) }
    val maxScore = greatest(scores.map(_._2): _*)
    val chain = scores.tail.foldLeft(when(scores.head._2 === maxScore, scores.head._1)) {
      case (acc, (lang, sc)) => acc.when(sc === maxScore, lang)
    }
    when(maxScore === 0, "und").otherwise(chain)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text —
    * the exact-dedup key. (Content-defined rolling-hash chunking is in
    * Dedup.shingleFingerprints.)
    */
  def fingerprint(c: Column): Column =
    md5(lower(regexp_replace(trim(c), "\\s+", " ")))

  /** WINNOWING fingerprint selection (Schleimer, Wilkerson, Aiken 2003 —
    * the MOSS algorithm): hash every token k-gram, slide a window of w
    * consecutive hashes, and keep each window's minimum. The selected
    * subset is position-robust — any shared run of ≥ w+k-1 tokens between
    * two documents is GUARANTEED to contribute at least one common
    * fingerprint (the winnowing guarantee), at an expected density of
    * 2/(w+1) of all grams. This is the principled middle ground between
    * whole-doc hashing (misses partial overlap) and keeping every shingle
    * (w+1 / 2 × the index size).
    *
    * Plan shape: one tokenize+gram explode (codegen'd map side), one
    * hash-shuffle on doc_id for the per-doc sliding window, then a
    * distinct that collapses map-side (selected rows per doc ≈ 2m/(w+1)).
    * Per-doc frames are document-bounded, so the window never sees more
    * than one doc's grams — embarrassingly parallel at 100 TB.
    *
    * Determinism and the oracle twin: gram hash = first 28 md5 bits (the
    * Md5Hash family, DuckDB-replayable); the window argmin is ONE packed
    * BIGINT min — key = h·2²⁵ + (2²⁵−1−pos), so min(key) orders by hash
    * ASC then position DESC (the paper's rightmost-minimum tie rule).
    * The packing is guarded, not assumed: a doc with ≥ 2²⁵ grams raises
    * rather than silently corrupting the argmin.
    */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val P = 1L << 25 // position radix: gram pos is doc-length-bounded
    val grams = docs
      .select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), (size(col("toks")) - (k - 1)).as("m"),
        explode(transform(sequence(lit(1), size(col("toks")) - (k - 1)), i =>
          struct(i.as("pos"),
            concat_ws(" ", slice(col("toks"), i, lit(k))).as("gram")))).as("g"))
      .select(col("doc_id"), col("m"), col("g.pos").as("pos"),
        conv(substring(md5(col("g.gram")), 1, 7), 16, 10).cast("long").as("h"))
    val key = when(col("pos") < lit(P),
        col("h") * lit(P) + (lit(P - 1) - col("pos")))
      .otherwise(raise_error(lit(s"winnow: gram position >= 2^25 breaks the argmin packing")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("mk", min(key).over(win))
      // only FULL windows select (the last w-1 starts are suffixes of the
      // final full window); short docs (m < w) winnow as one whole window
      .filter(col("pos") <= greatest(col("m") - (w - 1), lit(1)))
      .select(col("doc_id"),
        (lit(P - 1) - (col("mk") % lit(P))).cast("int").as("pos"),
        // mk ≥ 0, so a logical shift IS the exact integer division by 2²⁵
        // (a plain `/` on longs would go through double)
        shiftrightunsigned(col("mk"), 25).as("fp"))
      .distinct()
      .orderBy("doc_id", "pos")
  }

  /** Corpus-TRAINED language ID: multinomial naive Bayes with add-one
    * smoothing over word unigrams — the model-based upgrade of the
    * stopword-heuristic [[langId]] (train on the labeled corpus, classify
    * it back, emit the confusion matrix). The fastText/langid.py shape
    * without external model weights.
    *
    * Plan: ONE tokenize+explode pass feeds both training counts and
    * scoring. The model frame is (vocab × n_langs) — completed with
    * explicit zero rows so unseen (word, lang) cells get the smoothed
    * floor — and joins back to the token stream as a BROADCAST; scoring
    * shuffles only (doc, lang) partial sums (map-side combined). The
    * argmax is a per-doc window over n_langs rows. At 100 TB: corpus
    * passes stay at one, the model is dictionary-sized driver-free state.
    *
    * Determinism: per-token log2 terms round to 6dp DECIMAL before the
    * order-independent sum; argmax ties break on lang ASC.
    */
  def langIdNaiveBayes(docs: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val dec = DecimalType(28, 6)
    val tok = docs.filter(col("lang").isNotNull)
      .select(col("doc_id"), col("lang"), explode(tokens(lower(col("text")))).as("w"))
      .persistTracked()
    val cwl = tok.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .persistTracked()
    val cl = cwl.groupBy("lang").agg(sum(col("c")).as("cl"))
    val v = cwl.agg(countDistinct(col("w")).as("v"))
    val model = cwl.select("w").distinct()
      .crossJoin(cl) // vocab × n_langs, both frames dictionary-sized
      .join(cwl, Seq("lang", "w"), "left").na.fill(0L, Seq("c"))
      .crossJoin(broadcast(v))
      .select(col("w"), col("lang").as("cand"),
        round(log2((col("c") + 1).cast("double") /
          (col("cl") + col("v")).cast("double")), 6).cast(dec).as("lp"))
    val priors = docs.filter(col("lang").isNotNull)
      .groupBy("lang").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(docs.filter(col("lang").isNotNull)
        .agg(count(lit(1)).as("nall"))))
      .select(col("lang").as("cand"),
        round(log2(col("nd").cast("double") / col("nall").cast("double")), 6)
          .cast(dec).as("lpr"))
    val scored = tok.select("doc_id", "w")
      .join(broadcast(model), Seq("w"))
      .groupBy("doc_id", "cand").agg(sum(col("lp")).as("s"))
      .join(broadcast(priors), Seq("cand"))
      .withColumn("score", col("s") + col("lpr"))
    val pick = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), col("cand"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand").as("lang_pred"))
    tok.select("doc_id", "lang").distinct()
      .join(pick, Seq("doc_id"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** Zipf-law fit of the corpus vocabulary: OLS of ln(freq) on ln(rank)
    * over the top-`topN` terms; the exponent (~1 for natural language) is
    * a corpus-health signal — templated/synthetic text flattens the
    * curve, boilerplate floods steepen it.
    *
    * Plan: the wordcount aggregate (one map-side-combined shuffle), a
    * topN-row TakeOrdered, a window rank over that BOUNDED frame (never
    * corpus-sized), then exact DECIMAL moment sums so the fold is
    * order-independent; the regression doubles derive from identical
    * decimal sums on both engines.
    */
  def zipfFit(docs: DataFrame, topN: Int = 100,
              textCol: String = "text"): DataFrame = {
    val dec = DecimalType(18, 6)
    val vocab = docs
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token")).limit(topN)
    val ranked = vocab.withColumn("rank",
      row_number().over(Window.orderBy(desc("freq"), col("token"))))
    val sums = ranked.select(
        round(log(col("rank").cast("double")), 6).cast(dec).as("x"),
        round(log(col("freq").cast("double")), 6).cast(dec).as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val (sx, sy, sxy, sxx, syy) =
      (col("sx").cast("double"), col("sy").cast("double"),
        col("sxy").cast("double"), col("sxx").cast("double"),
        col("syy").cast("double"))
    val num = nD * sxy - sx * sy
    val den = nD * sxx - sx * sx
    val slope = num / den
    sums.select(
      col("n").as("n_terms"),
      round(-slope, 6).as("zipf_exponent"),
      round((sy - slope * sx) / nD, 6).as("intercept"),
      round((num * num) / (den * (nD * syy - sy * sy)), 6).as("r2"))
  }

  /** BPE MERGE TRAINING, distributed: k iterations of (argmax adjacent
    * pair) → (merge that pair corpus-wide) → recount. This is the actual
    * tokenizer-training loop (Sennrich et al. 2016), here at word level
    * (merges build phrases; the character-level variant is the same code
    * over `split(text, '')`).
    *
    * Shape per iteration: pair extraction is a map-side zip_with+explode;
    * the count is ONE shuffle with map-side combine (pair-vocabulary-
    * bounded keys); the argmax collects exactly ONE row to the driver —
    * the trainer's merge table IS driver state by definition (k rows
    * total), never the corpus. Re-tokenization is a codegen'd per-row
    * `aggregate` fold (greedy left-to-right, non-overlapping — the
    * standard scan). At 100 TB each iteration is a bounded-output
    * aggregate over a map-side pipeline: the classic
    * scan → combine → tiny-driver-decision loop.
    *
    * Determinism: exact integer counts, total argmax order
    * (freq DESC, pair_a, pair_b), and a pure fold — the DuckDB oracle
    * replays the identical algorithm with list_reduce.
    * Tokens are [a-z]+ runs, so '|' (fold separator) and '_' (merge
    * joiner) cannot occur in input tokens; suffix checks are exact
    * string compares (ends_with), never LIKE patterns — a merged token's
    * '_' would wildcard-match under LIKE.
    */
  def bpeTrain(s: SparkSession, docs: DataFrame, k: Int): DataFrame =
    bpeTrainWithCorpus(s, docs, k)._1

  /** As [[bpeTrain]], but also returns the final re-tokenized corpus so
    * callers (and tests) can observe that per-iteration lineage truncation
    * holds: after any number of merge iterations the corpus plan is a
    * constant-depth scan over the latest checkpoint, never a k-deep fold
    * stack.
    */
  def bpeTrainWithCorpus(s: SparkSession, docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // The local documents table is ONE parquet row group, so without a
    // spread every per-iteration fold + pair-count pass runs in a single
    // task (measured: ~0.3 s × 2 passes × k rounds single-threaded). Spread
    // once BEFORE the loop; every localCheckpoint inherits the layout. At
    // cluster scale the scan is already many-partition and this one
    // round-robin shuffle of raw text is noise next to k corpus passes.
    val spread = s.sparkContext.defaultParallelism
    var cur = docs.select(
        filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("toks"))
      .repartition(spread)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val tail = slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0)))
      val top = cur
        .select(explode(zip_with(col("toks"), tail,
          (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
        .filter(col("pr.b").isNotNull)
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Row(step.toLong, a, b, c)
        val folded = aggregate(tail, element_at(col("toks"), 1),
          (acc, x) =>
            when((acc === lit(a) || acc.endsWith(lit("|" + a))) && x === lit(b),
              concat(acc, lit("_"), x))
              .otherwise(concat(acc, lit("|"), x)))
        val prev = cur
        cur = cur.withColumn("toks",
            when(size(col("toks")) <= 1, col("toks"))
              .otherwise(split(folded, "[|]")))
          // Truncate lineage every iteration: without this, iteration i's
          // plan replays all i-1 prior folds over the whole corpus (O(k²)
          // corpus passes, ever-deeper plans — unusable at tokenizer-real
          // merge counts). LAZY localCheckpoint: the next round's pair-count
          // job materializes the fold and stores the blocks in the same
          // pass, so each round costs ONE job instead of two (an eager
          // checkpoint here ran a separate materialization job per round —
          // measured half this query's job count); every pass is still
          // exactly one fold deep.
          .localCheckpoint(eager = false)
        prev.unpersist(blocking = false)
        step += 1
      }
    }
    val mergeTable = s.createDataFrame(java.util.Arrays.asList(merges.toArray: _*),
      StructType(Seq(StructField("step", LongType), StructField("pair_a", StringType),
        StructField("pair_b", StringType), StructField("freq", LongType))))
    (mergeTable, cur)
  }

  /** UNIGRAM-LM TOKENIZER SCORING, one EM round (SentencePiece's unigram
    * model, Kudo 2018), Viterbi-free over the BPE candidate vocabulary:
    * candidates are the corpus's top adjacent token pairs (the same
    * frame q_bpe_train argmaxes over) plus all unigrams; each candidate
    * pair occurrence has exactly two local segmentations — [a][b] vs the
    * merged piece — so the E-step posterior is the closed form
    * P(ab)/(P(ab) + P(a)·P(b)) with count-seeded probabilities, and the
    * M-step renormalizes the expected counts. Released: the top pieces
    * by re-estimated probability with their expected counts — the
    * piece-score table a unigram tokenizer ships after each EM round.
    *
    * Exactness: probabilities and posteriors are FIXED-POINT ppb
    * integers (⌊·10⁹⌋ integral divisions on non-negative operands, where
    * Spark `div` ≡ DuckDB `//` ≡ floor); expected counts are exact
    * integer products; the only doubles are the released 6dp counts.
    * Overlapping pair occurrences ("a a a") are resolved by expectation
    * linearity, so unigram expected counts clamp at 0 (documented
    * one-round approximation; exact EM would lattice-decode).
    *
    * Scale posture: unigram and pair counts are the two map-side-combined
    * tokenize shuffles the BPE/KN family already does; the candidate
    * frame is top-M (vocab-bounded TakeOrdered), every EM quantity lives
    * on candidate/vocab-cardinality frames, and the final top-k is a
    * TakeOrdered — no corpus-cardinality state after the counts.
    */
  def unigramLm(docs: DataFrame, candidates: Int = 10,
                topK: Int = 15): DataFrame = {
    val toksF = docs.select(
        filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= 1)
      .persistTracked()
    val uni = toksF.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .persistTracked()
    val nn = uni.agg(sum(col("cu")).as("n"))
    val tail = slice(col("toks"), lit(2),
      greatest(size(col("toks")) - 1, lit(0)))
    val pairs = toksF
      .select(explode(zip_with(col("toks"), tail,
        (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
      .filter(col("pr.b").isNotNull)
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(count(lit(1)).as("cp"))
    val post = pairs.orderBy(desc("cp"), col("a"), col("b")).limit(candidates)
      .join(uni.select(col("w").as("a"), col("cu").as("ca")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("cu").as("cb")), Seq("b"))
      .crossJoin(broadcast(nn))
      .select(col("a"), col("b"), col("cp"),
        expr("CAST(CAST(cp AS DECIMAL(38,0)) * 1000000000 div n AS BIGINT)")
          .as("pab"),
        expr("CAST(CAST(ca AS DECIMAL(38,0)) * 1000000000 div n AS BIGINT)")
          .as("pa"),
        expr("CAST(CAST(cb AS DECIMAL(38,0)) * 1000000000 div n AS BIGINT)")
          .as("pb"))
      .select(col("a"), col("b"), col("cp"),
        expr("CAST(CAST(pab AS DECIMAL(38,0)) * 1000000000 * 1000000000 " +
          "div greatest(CAST(pab AS DECIMAL(38,0)) * 1000000000 + " +
          "CAST(pa AS DECIMAL(38,0)) * CAST(pb AS DECIMAL(38,0)), " +
          "CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("post"))
      .persistTracked() // candidate-cardinality (<= M rows)
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val red = post.agg(
      coalesce(sum(dec(col("cp")) * dec(col("post"))), dec(lit(0)))
        .as("red"))
    val rem = post.select(col("a").as("w"),
        (dec(col("cp")) * dec(col("post"))).as("r"))
      .unionByName(post.select(col("b").as("w"),
        (dec(col("cp")) * dec(col("post"))).as("r")))
      .groupBy("w").agg(sum(col("r")).as("rem"))
    val uniEc = uni.join(rem, Seq("w"), "left")
      .select(col("w").as("piece"), lit("unigram").as("kind"),
        col("cu").as("raw_count"),
        greatest(dec(col("cu")) * 1000000000 -
          coalesce(col("rem"), dec(lit(0))), dec(lit(0))).as("ec_fp"))
    val mergedEc = post.select(
      concat(col("a"), lit("_"), col("b")).as("piece"),
      lit("merge").as("kind"), col("cp").as("raw_count"),
      (dec(col("cp")) * dec(col("post"))).as("ec_fp"))
    val np = nn.crossJoin(red)
      .select((dec(col("n")) * 1000000000 - col("red")).as("npfp"))
    uniEc.unionByName(mergedEc)
      .crossJoin(broadcast(np))
      .select(col("piece"), col("kind"), col("raw_count"),
        expr("round(CAST(ec_fp AS DOUBLE) / 1000000000.0, 6)")
          .as("expected_count"),
        expr("CAST(CAST(ec_fp AS DECIMAL(38,0)) * 1000000000 " +
          "div greatest(npfp, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
          .as("p_ppb"))
      .orderBy(desc("p_ppb"), col("piece"))
      .limit(topK)
  }

  /** BPE ENCODE — the deploy half of the tokenizer: apply an already-
    * trained merge table to a corpus and report per-doc raw vs encoded
    * token counts. Unlike training ([[bpeTrain]]), encoding has NO
    * driver decision between merges — the merge list is given — so the
    * k merge applications chain as k narrow projections in ONE corpus
    * pass: no shuffle, no checkpoint, no per-iteration materialization.
    * (Catalyst keeps the chain as stacked projects rather than inlining:
    * each level's fold is referenced several times by the next, which
    * CollapseProject treats as non-cheap.) At a tokenizer-real merge
    * count the same shape holds — plan depth k, corpus passes 1.
    *
    * The production split is train-on-sample / encode-everything; the
    * gated query trains and encodes on the same corpus so the DuckDB
    * oracle can re-derive the identical merge table and replay the
    * folds.
    */
  def bpeEncode(s: SparkSession, docs: DataFrame,
                merges: Seq[(String, String)]): DataFrame = {
    // single-row-group local table: spread before the k chained folds so
    // the encode pass uses every core (same rationale as bpeTrain's spread)
    var cur = docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "").as("toks"))
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("n_raw", size(col("toks")).cast("long"))
    for ((a, b) <- merges) {
      val tail = slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0)))
      val folded = aggregate(tail, element_at(col("toks"), 1),
        (acc, x) =>
          when((acc === lit(a) || acc.endsWith(lit("|" + a))) && x === lit(b),
            concat(acc, lit("_"), x))
            .otherwise(concat(acc, lit("|"), x)))
      cur = cur.withColumn("toks",
        when(size(col("toks")) <= 1, col("toks"))
          .otherwise(split(folded, "[|]")))
    }
    cur.select(col("doc_id"), col("n_raw"),
      size(col("toks")).cast("long").as("n_bpe"))
  }

  /** The PRODUCTION encode for tokenizer-real merge counts: the
    * projection-chain form ([[bpeEncode]]) is k plan nodes — fine at
    * gated k, but a real tokenizer has tens of thousands of merges and
    * the analyzer cost of a 30k-project chain is its own bottleneck.
    * Here the merge table rides ONE broadcast and each partition applies
    * all merges per document imperatively (greedy left-to-right,
    * non-overlapping — byte-for-byte the same pass the fold expresses):
    * plan size is constant in k, the corpus is still read once, and the
    * work is the same O(k·len) per doc. mapPartitions is the honest tool
    * here (brief tier (d)): the per-row loop over a broadcast array is
    * genuine imperative logic no expression tree should encode at that
    * size. Proven row-identical to [[bpeEncode]] in Round6Spec.
    */
  def bpeEncodeMapSide(docs: DataFrame,
                       merges: Seq[(String, String)]): DataFrame = {
    val s = docs.sparkSession
    val bc = s.sparkContext.broadcast(merges.toArray)
    import s.implicits._
    // spread before the per-doc merge loop (single-row-group local scan
    // would otherwise run the whole encode in one task — bpeTrain's
    // rationale); at cluster scale the scan is already many-partition
    docs.select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { case (id, text) =>
          var toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
          val nRaw = toks.length.toLong
          var m = 0
          while (m < ms.length) {
            val (a, b) = ms(m)
            if (toks.length > 1) {
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < toks.length) {
                if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                  out += a + "_" + b
                  i += 2
                } else {
                  out += toks(i)
                  i += 1
                }
              }
              toks = out.toArray
            }
            m += 1
          }
          (id, nRaw, toks.length.toLong)
        }
      }.toDF("doc_id", "n_raw", "n_bpe")
  }

  /** Bigram-LM quality score (the CCNet filtering shape, Wenzek et al.
    * 2020 arXiv:1911.00359: score documents by a language model and filter
    * on perplexity — here the LM is an add-one-smoothed bigram model
    * trained ON THE CORPUS ITSELF in the same job). Per doc: the mean
    * negative log2 probability of its token bigrams, low = fluent/typical,
    * high = atypical (the filterable tail).
    *
    * Scale shape: the bigram stream is corpus-token-sized but collapses
    * map-side to (w1, w2) vocab²-BOUNDED count frames; the per-bigram
    * probability join keys on (w1, w2) — a plain shuffle join whose build
    * side is count-frame-sized (AQE broadcasts it while it fits). Float
    * determinism: each bigram term rounds to 6dp DECIMAL before the
    * order-independent per-doc decimal sum; one final double division.
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
    // ONE corpus tokenize/explode pass, persisted: the context counts, the
    // vocabulary size, and the final per-bigram term join all derive from
    // this frame or from the vocab²-BOUNDED count frame below — the naive
    // formulation re-scanned and re-exploded the corpus four times.
    val bi = toks.select(col("id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persistTracked()
    val biCnt = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persistTracked()
    // cu = Σ_w2 cb(w1, w2) and the vocab = distinct words of the count
    // frame: both bounded by vocab size, zero additional corpus passes
    val ctxCnt = biCnt.groupBy("w1").agg(sum(col("cb")).as("cu"))
    val vocab = biCnt.select(col("w1").as("w"))
      .union(biCnt.select(col("w2").as("w")))
      .agg(countDistinct(col("w")).as("v"))
    val term = round(
      log2((col("cb") + 1).cast("double") /
        (col("cu") + col("v")).cast("double")), 6).cast(DecimalType(18, 6))
    bi.join(biCnt, Seq("w1", "w2"))
      .join(ctxCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("id"), term.as("t"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("t")).as("s"))
      .select(col("id").as(idCol), col("n_bigrams"),
        round(-col("s").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("lm_bits"))
      .orderBy(idCol)
  }

  /** INTERPOLATED KNESER-NEY BIGRAM LM (Kneser & Ney 1995; the KenLM
    * smoothing family CCNet actually filters with — q_lm_score's add-one
    * model is the teaching baseline, this is the production one).
    * Absolute discount D = n1/(n1+2·n2) (Ries' estimate from the count-
    * of-counts), and the backoff mass routes to the CONTINUATION
    * unigram — P_cont(w2) = |{w1 : c(w1,w2)>0}| / |bigram types| — the
    * "how many contexts does this word complete" distribution that makes
    * KN beat frequency smoothing on function-word-heavy text:
    *
    *   P_KN(w2|w1) = (c(w1,w2) − D)/c(w1·)
    *               + D·N1+(w1·)/c(w1·) · P_cont(w2)
    *
    * (every scored bigram is seen, so the max(·,0) clamp is inert).
    *
    * Exactness: all counts are exact Longs; D and each P_KN are single
    * double expressions replayed verbatim by DuckDB; surprisal terms
    * round to 6dp DECIMAL before the order-independent per-source fold
    * (the q_lm_score convention).
    *
    * Scale posture: ONE corpus tokenize/explode pass (persisted);
    * everything downstream is vocab- or vocab²-bounded — cb(w1,w2) and
    * its two marginal frames collapse map-side; the scalar frame
    * (D, n1, n2, B) is one row broadcast; the per-bigram probability
    * join keys on (w1,w2)/(w1)/(w2) with AQE free to broadcast the
    * count frames while they fit.
    */
  private def knFrames(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    // single-row-group local table: spread so the tokenize+bigram-explode
    // cache build (the KN family's heaviest map stage, shared by 7 queries)
    // uses every core instead of one task
    val bi = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id").as("id"), col("source"),
        tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("id"), col("source"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("id"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persistTracked()
    val cb = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .persistTracked()
    val cu = cb.groupBy("w1")
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("fwd"))
    val bwd = cb.groupBy("w2").agg(count(lit(1)).as("bwd"))
    val gl = cb.agg(count(lit(1)).as("b"),
      sum(when(col("cb") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cb") === 2, 1L).otherwise(0L)).as("n2"))
    (bi, cb, cu, bwd, gl)
  }

  /** Ries discount D = n1/(n1+2n2) with the natural D = 0 limit when
    * the corpus has NO singleton/doubleton bigrams (n1 = n2 = 0): at
    * large scale every bigram repeats — found at sf0.1, where ANSI
    * double division aborted the whole KN family on the 0/0 — and the
    * no-rare-mass corpus genuinely has nothing to discount, so the
    * model degenerates to the ML estimate exactly as KN prescribes.
    */
  private def knDisc: Column = {
    def d(c: Column) = c.cast("double")
    when(col("n1") + lit(2) * col("n2") > 0,
      d(col("n1")) / (d(col("n1")) + lit(2.0) * d(col("n2"))))
      .otherwise(lit(0.0))
  }

  /** The identical SQL tree for [[knDisc]] (both engines share the
    * guard and the literal spelling).
    */
  def knDiscSql: String =
    "(CASE WHEN n1 + 2 * n2 > 0 THEN CAST(n1 AS DOUBLE) " +
      "/ (CAST(n1 AS DOUBLE) + 2.0 * CAST(n2 AS DOUBLE)) " +
      "ELSE 0.0 END)"

  private def knProb: Column = {
    def d(c: Column) = c.cast("double")
    val disc = knDisc
    (d(col("cb")) - disc) / d(col("cu")) +
      disc * d(col("fwd")) / d(col("cu")) * (d(col("bwd")) / d(col("b")))
  }

  /** Trained-artifact view: the k most probable bigram continuations
    * under the KN model, with their count components and the corpus
    * discount — the inspection table a curation run ships beside the
    * model it filtered with.
    */
  def knLmTopK(docs: DataFrame, k: Int = 15): DataFrame = {
    val (_, cb, cu, bwd, gl) = knFrames(docs)
    val disc = knDisc
    cb.join(cu, Seq("w1")).join(bwd, Seq("w2"))
      .crossJoin(broadcast(gl))
      .withColumn("p", knProb)
      .orderBy(desc("p"), col("w1"), col("w2"))
      .limit(k)
      .select(col("w1"), col("w2"), col("cb"), col("cu"), col("fwd"),
        col("bwd"), round(disc, 6).as("discount"),
        round(col("p"), 6).as("p_kn"))
  }

  /** Per-DOC mean KN surprisal — the row-grain frame q_ccnet_buckets
    * cuts into head/middle/tail and [[knSurprisal]] rolls up per source.
    */
  def knDocSurprisal(docs: DataFrame): DataFrame = {
    val (bi, cb, cu, bwd, gl) = knFrames(docs)
    val term = round(-log2(knProb), 6).cast(DecimalType(18, 6))
    bi.join(cb, Seq("w1", "w2")).join(cu, Seq("w1")).join(bwd, Seq("w2"))
      .crossJoin(broadcast(gl))
      .select(col("id"), col("source"), term.as("t"))
      .groupBy("id", "source")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("t")).cast("double") /
          count(lit(1)).cast("double"), 6).as("kn_bits"))
  }

  /** Per-source mean KN surprisal (−log2 P_KN per bigram instance) — the
    * CCNet head/middle/tail signal at the source grain: a source whose
    * corpus-LM surprisal runs hot is atypical of the corpus (and a
    * filtering/resampling candidate). Ratio of exact 6dp-decimal sums,
    * never a mean of per-doc ratios.
    */
  def knSurprisal(docs: DataFrame): DataFrame = {
    val (bi, cb, cu, bwd, gl) = knFrames(docs)
    val term = round(-log2(knProb), 6).cast(DecimalType(18, 6))
    bi.join(cb, Seq("w1", "w2")).join(cu, Seq("w1")).join(bwd, Seq("w2"))
      .crossJoin(broadcast(gl))
      .select(col("id"), col("source"), term.as("t"))
      .groupBy("source")
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"),
        round(sum(col("t")).cast("double") /
          count(lit(1)).cast("double"), 6).as("kn_bits"))
      .orderBy("source")
  }

  /** PPMI WORD ASSOCIATIONS (Church & Hanks 1990 PMI, positive-clipped
    * per Levy & Goldberg 2014): top-k collocates per head word by
    * PPMI = max(0, log2(c(w1,w2)·N / (c(w1·)·c(·w2)))) over the SAME
    * bigram count frames the KN LM trains on (knFrames cb/cu) — the
    * count-based word-association table that count-embedding stacks
    * (SVD-of-PPMI ≈ word2vec, Levy & Goldberg) factorize, and the
    * normalized companion of q_collocations_g2's significance view (G²
    * weighs EVIDENCE, PMI weighs association strength; rare-but-exclusive
    * pairs top PMI and bottom G²).
    *
    * Determinism: ranking is on the RAW ratio r = cb·N/(cu·c2) — one
    * division of exact integer products, monotone with PPMI, so the
    * order never depends on the log; ties break on w2; log2 appears only
    * in the released 6dp value (the knTermsCteSql log2-parity precedent).
    * min-count cb ≥ 2 drops the degenerate singleton-PMI tail.
    *
    * Scale posture: bigram counts are the shared map-side-combined
    * frames; c2 is one more vocab-keyed aggregate; N broadcasts; head
    * selection is a vocab-bounded top-20 (cu desc); per-head top-k runs
    * through the TopKPerKey physical operator — no vocab-sized sort, no
    * unpartitioned window.
    */
  def ppmiTopK(docs: DataFrame, heads: Int = 20, k: Int = 5): DataFrame = {
    val (_, cb, cu, _, _) = knFrames(docs)
    val c2 = cb.groupBy("w2").agg(sum(col("cb")).as("c2"))
    val nb = cb.agg(sum(col("cb")).as("nb"))
    val scored = cb.filter(col("cb") >= 2)
      .join(cu.select("w1", "cu"), Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("cb"),
        (col("cb").cast("double") * col("nb").cast("double") /
          (col("cu").cast("double") * col("c2").cast("double"))).as("r"))
      .filter(col("r") > 1.0) // positive PMI only
    val hd = cu.orderBy(desc("cu"), col("w1")).limit(heads)
      .select(col("w1"))
    val top = graft.plans.TopKPerKey.topKPerKey(
      scored.join(broadcast(hd), Seq("w1")), Seq("w1"),
      Seq(("r", false), ("w2", true)), k)
    val wr = Window.partitionBy("w1").orderBy(desc("r"), col("w2"))
    top.withColumn("rank", row_number().over(wr))
      .select(col("w1"), col("rank"), col("w2"), col("cb"),
        expr("round(log2(r), 6)").as("ppmi"))
      .orderBy("w1", "rank")
  }

  /** SPECTRAL WORD EMBEDDINGS by truncated SVD of the PPMI matrix (Levy
    * & Goldberg 2014: SGNS implicitly factorizes shifted PMI; the
    * explicit-PPMI + SVD factorization is the classic count-based
    * embedding). Rows/columns are the top-`v` corpus heads (the
    * q_ppmi_topk vocabulary convention); cells are positive-PMI
    * MILLI-BITS frozen to integers via the shared
    * ⌊log2(r)·1000 + 0.5⌋ floor spell (cb ≥ 2 evidence gate, r > 1
    * positive gate — the q_ppmi_topk posture). The top-2 left singular
    * subspace comes from orthogonal iteration on G = M·Mᵀ
    * ([[Similarity.orthIter2]], shared with q_pca_subspace: fixed v₀,
    * Gram–Schmidt in fixed q1→q2 order, every float op a fixed-order
    * fold), and the released
    * embedding is the Levy–Goldberg W = U·Σ^½ — e_k(i) = u_k(i)·λ_k^¼,
    * via sqrt(sqrt(λ)) (sqrt is IEEE-exact; pow(·,0.25) is not).
    *
    * Exactness: count frames are exact integers; cells freeze to
    * integer milli-bits before ANY float composition, so M — and G,
    * whose entries are Σ mb·mb ≤ 32·(2·10⁴)² ≪ 2⁵³ — are EXACT in both
    * engines; the iteration is the replayed double-op sequence of the
    * q_pca_subspace precedent. Scale posture: one tokenize pass to the
    * vocab-bounded count frames; the matrix is v²-bounded (v=32) —
    * dimension-class driver state, never corpus-sized; the iteration is
    * O(iters·v²) driver flops.
    */
  def ppmiSvd(docs: DataFrame, v: Int = 32, iters: Int = 10): DataFrame = {
    val (_, cb, cu, _, _) = knFrames(docs)
    val c2 = cb.groupBy("w2").agg(sum(col("cb")).as("c2"))
    val nb = cb.agg(sum(col("cb")).as("nb"))
    val hd = cu.orderBy(desc("cu"), col("w1")).limit(v)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cu"), col("w1"))))
      .select(col("w1"), col("rk"))
    val r = col("cb").cast("double") * col("nb").cast("double") /
      (col("cu").cast("double") * col("c2").cast("double"))
    val cells = cb.filter(col("cb") >= 2)
      .join(cu.select("w1", "cu"), Seq("w1"))
      .join(c2, Seq("w2"))
      .crossJoin(broadcast(nb))
      .filter(r > 1.0)
      .join(broadcast(hd.select(col("w1"), col("rk").as("i"))), Seq("w1"))
      .join(broadcast(hd.select(col("w1").as("w2"), col("rk").as("j"))),
        Seq("w2"))
      .select(col("i"), col("j"),
        floor(log2(r) * 1000 + lit(0.5)).cast("long").as("mb"))
    val hdRows = hd.collect() // v-bounded by construction
    val dim = hdRows.length
    val words = new Array[String](dim)
    hdRows.foreach(row => words(row.getInt(1) - 1) = row.getString(0))
    val m = Array.ofDim[Double](dim, dim)
    cells.collect().foreach { row => // ≤ v² rows
      m(row.getInt(0) - 1)(row.getInt(1) - 1) = row.getLong(2).toDouble
    }
    val g = m.map(Similarity.matVec(m, _)) // G = M·Mᵀ, row by row
    val (v1, v2, l1, l2) = Similarity.orthIter2(g, iters)
    val spark = docs.sparkSession
    import spark.implicits._
    (0 until dim).map(i => (i + 1, words(i), v1(i), v2(i), l1, l2))
      .toDF("rk", "word", "u1", "u2", "l1", "l2")
      .select(col("rk"), col("word"),
        round(col("u1") * sqrt(sqrt(col("l1"))), 6).as("e1"),
        round(col("u2") * sqrt(sqrt(col("l2"))), 6).as("e2"))
      .orderBy("rk")
  }

  /** CROSS-SOURCE LM TRANSFER MATRIX (the CCNet/DSIR domain-similarity
    * table: Wenzek 2020 scores crawl text under a wiki-trained LM; Xie
    * 2023's importance weights are target-vs-raw LM ratios): train an
    * interpolated Kneser–Ney bigram LM on EACH of the top-`nTrain`
    * sources, score EVERY source's bigrams under each model, release the
    * (train × eval) mean-surprisal matrix with coverage. Low kn_bits off
    * the diagonal = the eval source speaks the train source's language
    * (safe to upsample); low coverage = the models don't even share a
    * vocabulary (surprisal means nothing — which is why coverage ships
    * beside it).
    *
    * Semantics: observed bigrams score the full interpolated KN form;
    * head-seen/bigram-unseen backs off to the continuation term alone
    * (greatest(cb−D, 0) folds both cases into one shared tree); bigrams
    * whose head is unseen in the train model — or whose backoff mass is
    * zero — are UNCOVERED and excluded from the mean rather than given
    * an arbitrary floor (released covered_ppm makes the exclusion
    * honest). 6dp term folds, the knTermsCteSql log2 precedent.
    *
    * Scale posture: per-train count frames are the same
    * map-side-combined shuffles as the corpus KN, keyed (train, gram);
    * the eval pass is instances × nTrain rows (a CONSTANT fan-out, not a
    * pairwise blowup) joined on vocab-keyed grams; the matrix is
    * nTrain × sources.
    */
  def domainPpl(docs: DataFrame, nTrain: Int = 3): DataFrame = {
    val bi = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(col("source").isNotNull && size(col("toks")) >= 2)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persistTracked()
    val tsrc = bi.groupBy("source").agg(count(lit(1)).as("nb"))
      .orderBy(desc("nb"), col("source")).limit(nTrain)
      .select(col("source").as("train_src"))
    val tcb = bi.join(broadcast(tsrc), col("source") === col("train_src"))
      .groupBy("train_src", "w1", "w2").agg(count(lit(1)).as("cb"))
      .persistTracked()
    val tcu = tcb.groupBy("train_src", "w1")
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("fwd"))
    val tbwd = tcb.groupBy("train_src", "w2").agg(count(lit(1)).as("bwd"))
    val tgl = tcb.groupBy("train_src").agg(count(lit(1)).as("b"),
      sum(when(col("cb") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("cb") === 2, 1L).otherwise(0L)).as("n2"))
    // TYPE-grain scoring (r11 verdict item 3): eval bigrams pre-aggregate
    // to (eval_src, w1, w2, cnt) BEFORE the ×nTrain scoring joins — the
    // Zipf type/instance ratio (~5-20×) comes straight off the join
    // shuffle. The surprisal/coverage folds weight by cnt, which is
    // hash-identical: cov and t are per-TYPE values, and t·cnt is an
    // exact DECIMAL product, so Σ_instances t ≡ Σ_types t·cnt.
    val inst = bi.select(col("source").as("eval_src"), col("w1"), col("w2"))
      .groupBy("eval_src", "w1", "w2").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tsrc))
    val j = inst
      .join(tcu, Seq("train_src", "w1"), "left")
      .join(tcb, Seq("train_src", "w1", "w2"), "left")
      .join(tbwd, Seq("train_src", "w2"), "left")
      .join(broadcast(tgl), Seq("train_src"), "left")
    val p = expr(domainPplPSql)
    val covered = col("cu").isNotNull && p > 0
    j.select(col("train_src"), col("eval_src"), col("cnt"),
        when(covered, col("cnt")).otherwise(lit(0L)).as("cov"),
        when(covered, round(-log2(p), 6).cast(DecimalType(18, 6)))
          .as("t"))
      .groupBy("train_src", "eval_src")
      .agg(sum(col("cnt")).as("n_bigrams"), sum(col("cov")).as("n_covered"),
        sum(col("t") * col("cnt").cast(DecimalType(18, 0))).as("st"))
      .select(col("train_src"), col("eval_src"), col("n_bigrams"),
        // DECIMAL(38,0) before the ×10⁶ (the embedMmd dec() idiom,
        // r11 ADVICE): matches the oracle's HUGEINT promotion — a
        // per-pair bigram count beyond ~9.2e12 would overflow the Long
        // multiply on Spark only
        expr("CAST(CAST(n_covered AS DECIMAL(38,0)) * 1000000" +
          " div n_bigrams AS BIGINT)")
          .as("covered_ppm"),
        when(col("n_covered") > 0,
          round(col("st").cast("double") /
            col("n_covered").cast("double"), 6)).as("kn_bits"))
      .orderBy("train_src", "eval_src")
  }

  /** Shared Spark/DuckDB KN probability tree for [[domainPpl]]: the
    * greatest(cb−D, 0) form folds observed and head-seen-backoff bigrams
    * into one expression; null frames (unseen head) propagate null.
    */
  private[operators] def domainPplPSql: String =
    s"(greatest(CAST(coalesce(cb, 0) AS DOUBLE) - $knDiscSql, 0.0) " +
      s"/ CAST(cu AS DOUBLE) + $knDiscSql * CAST(fwd AS DOUBLE) " +
      s"/ CAST(cu AS DOUBLE) " +
      s"* (CAST(coalesce(bwd, 0) AS DOUBLE) / CAST(b AS DOUBLE)))"

  /** PLSA TOPIC MODEL (Hofmann 1999), K = 3 topics, TWO unrolled EM
    * rounds over the (source × word) count matrix — the missing classic
    * of the text-analytics surface: which latent themes does the corpus
    * mix, and in what proportions per source? Round 1 runs with the
    * uniform p(z|s) init (posteriors depend on the word only); round 2
    * is the full per-cell E-step p(z|s,w) ∝ p(w|z)·p(z|s) — a genuine
    * coupled fixed-point step, not a relabeled word clustering.
    *
    * Determinism: EVERYTHING is fixed-point ppb integers — the seed
    * p₀(w|z) weights its md5-hashed topic 10:1 (exact integer counts),
    * every normalization is an integral ⌊·10⁹/norm⌋ division on
    * non-negative operands (Spark div ≡ DuckDB // ≡ floor), every
    * product of two ppb values folds in DECIMAL(38,0). No doubles
    * anywhere until the released round(·,6) shares.
    *
    * Scale posture: one tokenize pass to the (source, word) cell frame
    * (map-side combined); word params live on vocab×K frames (vocab-
    * keyed joins), source params on sources×K (broadcast); the E-step
    * is cells×K rows — never corpus tokens after the first count.
    * [[plsaTopics]] and [[plsaMix]] release the two artifact views off
    * this shared fit.
    */
  private def plsaFit(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val S = 1000000000L
    // (r13: measured a defaultParallelism spread before the tokenize —
    // 3.5 → 5.5 s steady: the fit is stage-count-bound, not map-bound, and
    // the 32-partition cached sw frame fans every downstream stage out to
    // 32 near-empty tasks. Left on the scan partitioning.)
    val sw = docs.filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), explode(tokens(lower(col("text")))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("nsw"))
      .persistTracked()
    val ns = sw.groupBy("source").agg(sum(col("nsw")).as("ns"))
      .persistTracked()
    val wc = sw.groupBy("w").agg(sum(col("nsw")).as("nw"))
    // seed: word w leans 10:1 toward topic md5(w)%3
    val wz = wc.select(col("w"), col("nw"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("z"))
      .select(col("w"), col("nw"), col("z"),
        (col("nw") * when(conv(substring(md5(col("w")), 1, 4), 16, 10)
          .cast("long") % 3 === col("z"), 10L).otherwise(1L)).as("a0"))
    val nz0 = wz.groupBy("z").agg(sum(dec(col("a0"))).as("norm"))
    val p0wz = wz.join(nz0, Seq("z"))
      .select(col("w"), col("nw"), col("z"),
        expr(s"CAST(CAST(a0 AS DECIMAL(38,0)) * $S div " +
          "greatest(norm, CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("p"))
      .persistTracked()
    // ROUND 1 (uniform p(z|s): posterior depends on w alone)
    val pd1 = p0wz.groupBy("w").agg(sum(col("p")).as("pd"))
    val post1 = p0wz.join(pd1, Seq("w"))
      .select(col("w"), col("nw"), col("z"),
        expr(s"CAST(CAST(p AS DECIMAL(38,0)) * $S div " +
          "greatest(pd, 1) AS BIGINT)").as("r"))
    val m1 = post1.select(col("w"), col("z"),
        (dec(col("nw")) * dec(col("r"))).as("num"))
      .persistTracked()
    val nz1 = m1.groupBy("z").agg(sum(col("num")).as("norm"))
    val p1wz = m1.join(nz1, Seq("z"))
      .select(col("w"), col("z"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * $S div " +
          "greatest(norm, CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("pwz"))
      .persistTracked()
    val p1zs = sw.join(post1.select(col("w"), col("z"), col("r")), Seq("w"))
      .groupBy("source", "z")
      .agg(sum(dec(col("nsw")) * dec(col("r"))).as("num"))
      .join(ns, Seq("source"))
      .select(col("source"), col("z"),
        expr("CAST(CAST(num AS DECIMAL(38,0)) div " +
          "greatest(ns, 1) AS BIGINT)").as("pzs"))
      .persistTracked()
    // ROUND 2 (full per-cell E-step)
    val cell = sw.join(p1wz, Seq("w"))
      .join(broadcast(p1zs), Seq("source", "z"))
      .select(col("source"), col("w"), col("nsw"), col("z"),
        (dec(col("pwz")) * dec(col("pzs"))).as("num"))
    val cd = cell.groupBy("source", "w").agg(sum(col("num")).as("den"))
    val post2 = cell.join(cd, Seq("source", "w"))
      .select(col("source"), col("w"), col("nsw"), col("z"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * $S div " +
          "greatest(den, CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("r"))
      .persistTracked()
    val m2 = post2.groupBy("w", "z")
      .agg(sum(dec(col("nsw")) * dec(col("r"))).as("num"))
      .persistTracked()
    val nz2 = m2.groupBy("z").agg(sum(col("num")).as("norm"))
    val p2wz = m2.join(nz2, Seq("z"))
      .select(col("w"), col("z"),
        expr(s"CAST(CAST(num AS DECIMAL(38,0)) * $S div " +
          "greatest(norm, CAST(1 AS DECIMAL(38,0))) AS BIGINT)").as("pwz"))
    val p2zs = post2.groupBy("source", "z")
      .agg(sum(dec(col("nsw")) * dec(col("r"))).as("num"))
      .join(ns, Seq("source"))
      .select(col("source"), col("z"),
        expr("CAST(CAST(num AS DECIMAL(38,0)) div " +
          "greatest(ns, 1) AS BIGINT)").as("pzs"))
    (p2wz, p2zs, ns)
  }

  /** Released artifact 1 of [[plsaFit]]: top-5 words per topic by the
    * round-2 p(w|z), via the TopKPerKey physical operator.
    */
  def plsaTopics(docs: DataFrame, k: Int = 5): DataFrame = {
    val (p2wz, _, _) = plsaFit(docs)
    val top = graft.plans.TopKPerKey.topKPerKey(
      p2wz.select(col("z").as("topic"), col("w").as("word"),
        col("pwz").as("p_ppb")),
      Seq("topic"), Seq(("p_ppb", false), ("word", true)), k)
    val wr = Window.partitionBy("topic")
      .orderBy(desc("p_ppb"), col("word"))
    top.withColumn("rank", row_number().over(wr))
      .select(col("topic"), col("rank"), col("word"), col("p_ppb"))
      .orderBy("topic", "rank")
  }

  /** Released artifact 2 of [[plsaFit]]: per-source topic mixture
    * p(z|s) after round 2 (ppb + 6dp share).
    */
  def plsaMix(docs: DataFrame): DataFrame = {
    val (_, p2zs, _) = plsaFit(docs)
    p2zs.select(col("source"), col("z").as("topic"),
        col("pzs").as("mix_ppb"),
        expr("round(CAST(pzs AS DOUBLE) / 1000000000.0, 6)").as("share"))
      .orderBy("source", "topic")
  }

  /** FIGHTIN' WORDS distinctive vocabulary (Monroe, Colaresi & Quinn
    * 2008): for each source, the words most over-represented vs the
    * REST of the corpus, scored by the z-statistic of the log-odds
    * delta under an informative-prior smoothing (flat Dirichlet 0.5
    * here) — the standard "what does this source talk about that
    * others don't" fingerprint, robust where raw ratios explode on
    * rare words (the variance term 1/(y+α)+1/(y_rest+α) downweights
    * them). Top `k` words per source.
    *
    * Determinism: every input to the float tree is an exact integer
    * count; ln/sqrt/div evaluate the same IEEE doubles identically on
    * both engines (the q_js_divergence precedent), and ranking
    * tie-breaks on the word.
    *
    * Scale posture: one tokenize pass to the (source×word) count frame
    * (map-side combined); word totals join on word (vocab-keyed
    * shuffle), source totals and the V/N scalars broadcast. Top-k per
    * source runs through the TopKPerKey physical operator (heap
    * per partition, spill-gated) — no vocab-sized sort, no
    * unpartitioned window.
    */
  def fightinWords(docs: DataFrame, k: Int = 5): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val sw = docs.filter(col("source").isNotNull)
      .select(col("source"), explode(tokens(lower(col("text")))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("y"))
      .persistTracked()
    val wt = sw.groupBy("word").agg(sum("y").as("yw"))
    val st = sw.groupBy("source").agg(sum("y").as("ni"))
    val gl = wt.agg(count(lit(1)).as("v"), sum("yw").as("nn"))
    val yD = col("y").cast("double")
    val yrD = (col("yw") - col("y")).cast("double")
    val a0 = lit(0.5) * col("v").cast("double")
    val t1 = (yD + 0.5) / (col("ni").cast("double") + a0 - yD - 0.5)
    val t2 = (yrD + 0.5) /
      ((col("nn") - col("ni")).cast("double") + a0 - yrD - 0.5)
    val z = (log(t1) - log(t2)) /
      sqrt(lit(1.0) / (yD + 0.5) + lit(1.0) / (yrD + 0.5))
    val scored = sw.join(wt, Seq("word")).join(broadcast(st), Seq("source"))
      .crossJoin(broadcast(gl))
      .select(col("source"), col("word"), col("y").as("cnt"), z.as("z"))
    graft.plans.TopKPerKey
      .topKPerKey(scored, Seq("source"), Seq(("z", false), ("word", true)), k)
      .select(col("source"), col("word"), col("cnt"), round(col("z"), 6).as("z"))
      .orderBy(col("source"), desc("z"), col("word"))
  }

  /** RELIABILITY DIAGRAM + expected calibration error (Naeini et al.
    * 2015 for ECE; the standard companion readout to
    * [[isotonicCalibrate]]): equal-width bins over a [0,1] score, and
    * per bin the mean predicted score vs the empirical positive rate —
    * their gap is the miscalibration at that confidence level, and
    * ECE = Σ (n_b/N)·gap_b summarizes it in one number.
    *
    * Exactness: scores arrive 2dp-rounded, so the per-bin score sum is
    * an exact DECIMAL (no float accumulation); mean/rate/gap are per-row
    * double expressions of exact sums. ECE folds 6dp decimal terms over
    * the ≤`bins`-row frame (order-independent). Bin index floor(s·bins)
    * is double math — identical IEEE rounding on both engines.
    *
    * Scale posture: one corpus pass to a `bins`-cardinality frame
    * (map-side combined); N and ECE are broadcast scalars back onto it.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      bins: Int = 10): DataFrame = {
    val per = df.select(
        least(floor(col(scoreCol) * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        col(scoreCol).cast(DecimalType(18, 2)).as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("s").as("ss"), sum("y").as("sy"))
    val ms = col("ss").cast("double") / col("n").cast("double")
    val fp = col("sy").cast("double") / col("n").cast("double")
    val gap = abs(fp - ms)
    val tot = per.agg(sum("n").as("nt"))
    val withT = per.crossJoin(broadcast(tot))
    val ece = withT.agg(
      sum(round(col("n").cast("double") / col("nt").cast("double") * gap, 6)
        .cast(DecimalType(18, 6))).cast("double").as("ece"))
    withT.select(col("bin"), col("n"), round(ms, 6).as("mean_score"),
        round(fp, 6).as("frac_pos"), round(gap, 6).as("gap"))
      .crossJoin(broadcast(ece))
      .orderBy("bin")
  }

  /** MURPHY (1973) BRIER-SCORE DECOMPOSITION over the same forecast/label
    * pair the reliability diagram plots: BS ≈ REL − RES + UNC, where
    * reliability penalizes bins whose mean forecast misses their outcome
    * rate (what recalibration can fix), resolution rewards bins that
    * separate outcome rates from the base rate (what recalibration can
    * NOT add), and uncertainty is the irreducible ō(1−ō). The released
    * decomp_gap = BS − (REL − RES + UNC) is the exact within-bin
    * forecast-variance residual the binned identity hides — emitting it
    * keeps the decomposition honest instead of pretending the identity
    * is exact under binning.
    *
    * Exactness: forecasts are 2dp decimals, so every per-row (s−y)² is
    * exact at 4dp and the Brier numerator is an exact decimal fold; the
    * per-bin REL/RES terms are single double expressions of exact sums
    * rounded to 6dp DECIMAL before the bin-cardinality fold.
    *
    * Scale posture: ONE map-side-combined groupBy to the 10-bin frame;
    * the base-rate scalar broadcasts back; everything after is 10-row
    * arithmetic.
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
                         bins: Int = 10): DataFrame = {
    val per = df.select(
        least(floor(col(scoreCol) * bins).cast("int"), lit(bins - 1))
          .as("bin"),
        col(scoreCol).cast(DecimalType(18, 2)).as("s"),
        col(labelCol).cast("long").as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("s")).as("ss"),
        sum(col("y")).as("sy"),
        sum(((col("s") - col("y")) * (col("s") - col("y")))
          .cast(DecimalType(28, 4))).as("sqs"))
    val tot = per.agg(sum(col("n")).as("nt"), sum(col("sy")).as("syt"))
    def d(c: Column) = c.cast("double")
    val obar = d(col("syt")) / d(col("nt"))
    val sbk = d(col("ss")) / d(col("n"))
    val obk = d(col("sy")) / d(col("n"))
    val relT = round(d(col("n")) * ((sbk - obk) * (sbk - obk)), 6)
      .cast(DecimalType(28, 6))
    val resT = round(d(col("n")) * ((obk - obar) * (obk - obar)), 6)
      .cast(DecimalType(28, 6))
    val agg = per.crossJoin(broadcast(tot))
      .select(col("n"), col("sqs"), col("nt"), col("syt"),
        relT.as("rel_t"), resT.as("res_t"))
      .groupBy("nt", "syt")
      .agg(count(lit(1)).as("n_bins"), sum(col("sqs")).as("sqs"),
        sum(col("rel_t")).cast("double").as("rel"),
        sum(col("res_t")).cast("double").as("res"))
    val ob = d(col("syt")) / d(col("nt"))
    val brier = d(col("sqs")) / d(col("nt"))
    val rel = col("rel") / d(col("nt"))
    val res = col("res") / d(col("nt"))
    val unc = ob * (lit(1.0) - ob)
    agg.select(col("nt").as("n"), col("n_bins"),
      round(brier, 6).as("brier"),
      round(rel, 6).as("reliability"),
      round(res, 6).as("resolution"),
      round(unc, 6).as("uncertainty"),
      round(brier - (rel - res + unc), 6).as("decomp_gap"))
  }

  // Shared Newton-step strings for logistic (Platt) calibration — one
  // literal each, parsed by Spark's expr AND interpolated into the DuckDB
  // oracle so the double trees match by construction. Level columns:
  // s (score), w (count), y (positives); scalars a, b; aggregated sums
  // sga/sgb/shaa/shab/shbb.
  private[operators] val plattP = "(1.0 / (1.0 + exp(-(a * s + b))))"
  private[operators] val plattGa =
    s"CAST(round((y - w * $plattP) * s, 12) AS DECIMAL(28,12))"
  private[operators] val plattGb =
    s"CAST(round(y - w * $plattP, 12) AS DECIMAL(28,12))"
  private[operators] val plattHaa =
    s"CAST(round(w * $plattP * (1.0 - $plattP) * s * s, 12)" +
      " AS DECIMAL(28,12))"
  private[operators] val plattHab =
    s"CAST(round(w * $plattP * (1.0 - $plattP) * s, 12) AS DECIMAL(28,12))"
  private[operators] val plattHbb =
    s"CAST(round(w * $plattP * (1.0 - $plattP), 12) AS DECIMAL(28,12))"
  private[operators] val plattDet = "(shaa * shbb - shab * shab)"
  private[operators] val plattDa = s"((sga * shbb - shab * sgb) / $plattDet)"
  private[operators] val plattDb = s"((shaa * sgb - shab * sga) / $plattDet)"

  /** PLATT SCALING (Platt 1999; logistic calibration) of the same raw
    * score q_isotonic_calibrate repairs monotonically: fit
    * P(y=1|s) = σ(A·s + B) by three unrolled Newton-Raphson steps on the
    * log-likelihood — the PARAMETRIC calibrator (2 parameters, smooth,
    * extrapolates past the training score range) beside isotonic's
    * nonparametric step function; the standard pairing in calibration
    * practice.
    *
    * Scale posture: ONE map-side-combined groupBy collapses the corpus
    * to the distinct-score level frame (the isotonic precedent — a
    * production score is binned first); every Newton step is level-
    * cardinality arithmetic against a broadcast 1-row (A,B) frame, so
    * three steps cost three tiny aggregates, not three corpus passes.
    *
    * Exactness: per-level gradient/Hessian terms round to 12dp DECIMAL
    * before their folds; the σ, Cramer-delta, and log-loss expressions
    * are literal strings shared with the oracle.
    */
  def plattScaling(df: DataFrame, scoreCol: String, labelCol: String,
                   steps: Int = 3): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val spark = df.sparkSession
    val lv = df.groupBy(col(scoreCol).cast("double").as("s"))
      .agg(count(lit(1)).as("w"), sum(col(labelCol).cast("long")).as("y"))
      .persistTracked()
    var ab = spark.range(1).select(lit(0.0).as("a"), lit(0.0).as("b"))
    for (_ <- 1 to steps) {
      ab = lv.crossJoin(broadcast(ab))
        .groupBy("a", "b")
        .agg(sum(expr(plattGa)).cast("double").as("sga"),
          sum(expr(plattGb)).cast("double").as("sgb"),
          sum(expr(plattHaa)).cast("double").as("shaa"),
          sum(expr(plattHab)).cast("double").as("shab"),
          sum(expr(plattHbb)).cast("double").as("shbb"))
        .select((col("a") + expr(plattDa)).as("a"),
          (col("b") + expr(plattDb)).as("b"))
    }
    val lossT = s"CAST(round(y * ln($plattP)" +
      s" + (w - y) * ln(1.0 - $plattP), 6) AS DECIMAL(28,6))"
    lv.crossJoin(broadcast(ab))
      .groupBy("a", "b")
      .agg(sum(col("w")).as("n"), count(lit(1)).as("n_levels"),
        sum(expr(lossT)).cast("double").as("ll"))
      .select(col("n"), col("n_levels"),
        round(col("a"), 6).as("platt_a"),
        round(col("b"), 6).as("platt_b"),
        round(-col("ll") / col("n").cast("double"), 6).as("log_loss"))
  }

  /** Distributed ISOTONIC REGRESSION (pool-adjacent-violators; Barlow et
    * al. 1972, Best & Chakravarti 1990) for score calibration: given a
    * score column and a binary label, fit the monotone-non-decreasing
    * step function minimizing weighted squared error — the standard
    * calibration pass that turns a raw quality score (q_lm_score /
    * q_text_quality) into a probability against a labeled slice.
    *
    * Instead of the sequential PAVA stack, the fit uses the closed form
    * fitted(i) = max_{j≤i} min_{k≥i} avg(y[j..k]) — every pooled-block
    * average A(j,k) derives from PREFIX SUMS over the score spine (the X4
    * cumulative frame), so the whole fit is: one groupBy to the
    * distinct-score spine, one bounded window for prefix sums, and two
    * dictionary-sized inequality joins. Block averages are ratios of
    * exact LONG sums evaluated in one double division — bit-identical
    * cross-engine, no float accumulation order anywhere.
    *
    * Scale posture: everything after the first groupBy lives on the
    * spine — |S| rows, |S|²/2 block averages, ≤|S|³ triple-join rows. A
    * score with unbounded distinct values must be binned first (the
    * q_psi_drift binning idiom) exactly as production calibrators do;
    * the corpus-fact pass is the single map-side-combined groupBy.
    */
  def isotonicCalibrate(df: DataFrame, scoreCol: String,
                        labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lv = df.groupBy(col(scoreCol).as("x"))
      .agg(count(lit(1)).as("w"), sum(col(labelCol).cast("long")).as("y"))
      .persistTracked()
    // bounded frame: the spine is distinct-score cardinality by contract
    val wnd = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = lv.select(col("x"), col("w"), col("y"),
      sum(col("w")).over(wnd).as("cw"), sum(col("y")).over(wnd).as("cy"))
      .persistTracked()
    val bjk = pre.select(col("x").as("xj"),
        (col("cw") - col("w")).as("cw0"), (col("cy") - col("y")).as("cy0"))
      .join(pre.select(col("x").as("xk"), col("cw"), col("cy")),
        col("xj") <= col("xk"))
      .select(col("xj"), col("xk"),
        ((col("cy") - col("cy0")).cast("double") /
          (col("cw") - col("cw0")).cast("double")).as("ajk"))
    val mn = bjk.join(lv.select(col("x").as("xi")),
        col("xj") <= col("xi") && col("xk") >= col("xi"))
      .groupBy("xi", "xj").agg(min(col("ajk")).as("mnv"))
    val fit = mn.groupBy("xi").agg(max(col("mnv")).as("fitted"))
    lv.join(fit, col("x") === col("xi"))
      .select(col("x").as(scoreCol), col("w").as("n"),
        round(col("y").cast("double") / col("w"), 6).as("rate"),
        round(col("fitted"), 6).as("fitted"))
  }

  /** FLESCH-KINCAID READABILITY per source (Kincaid et al. 1975):
    * words-per-sentence and syllables-per-word (vowel-group heuristic —
    * the standard dictionary-free approximation) folded into the grade
    * and reading-ease formulas. Ratios are RATIO-OF-SUMS over exact
    * per-source integer totals (the q_tokenizer_fertility convention:
    * documents weigh by mass, not one-doc-one-vote), so the only float
    * is the final formula tree. Sentence counts clamp to ≥1 per doc
    * (punctuation-free docs are one sentence, not a division by zero).
    * One map pass + one source-cardinality aggregate.
    */
  def readability(docs: DataFrame): DataFrame = {
    val words = tokenCount(col("text")).cast("long")
    val sents = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    val sylls = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    val g = docs.filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), words.as("w"), sents.as("s"), sylls.as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
        sum(col("s")).as("ss"), sum(col("y")).as("sy"))
    val wps = col("sw").cast("double") / col("ss").cast("double")
    val spw = col("sy").cast("double") / col("sw").cast("double")
    g.select(col("source"), col("n_docs"),
        round(wps, 6).as("words_per_sentence"),
        round(spw, 6).as("syllables_per_word"),
        round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
          .as("fk_grade"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6)
          .as("flesch_ease"))
      .orderBy("source")
  }

  /** ENCODING-CORRUPTION (mojibake) AUDIT per source. The natural corpus
    * is clean, so the query audits a SELF-DERIVED corrupted twin (the
    * q_dedup_norm planted-variant posture, but in-plan so the oracle
    * sees identical bytes): docs whose md5 leads with 0/1 gain a U+FFFD
    * replacement char, with 2/3 a CP1252-mojibake 'Ã©' digraph — the two
    * classic double-decode fingerprints. The DETECTOR is the operator
    * under test: per source, docs flagged by each fingerprint and the
    * combined corrupt ppm — the ingest-gate readout that decides whether
    * a source needs re-extraction before training. Pure map + one
    * source-cardinality aggregate.
    */
  def mojibakeAudit(docs: DataFrame): DataFrame = {
    val lead = substring(md5(col("text")), 1, 1)
    val twin = when(lead.isin("0", "1"), concat(col("text"), lit("�")))
      .when(lead.isin("2", "3"), concat(col("text"), lit("Ã©")))
      .otherwise(col("text"))
    val flagged = docs.filter(col("text").isNotNull && col("source").isNotNull)
      .select(col("source"), twin.as("t"))
      .select(col("source"),
        col("t").contains("�").cast("long").as("repl"),
        col("t").contains("Ã©").cast("long").as("moji"))
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("repl")).as("n_replacement"),
        sum(col("moji")).as("n_mojibake"),
        expr("sum(greatest(repl, moji)) * 1000000 div count(*)")
          .as("corrupt_ppm"))
      .orderBy("source")
  }

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") over the whole corpus:
    * candidate phrases are maximal runs of non-stopword tokens; each
    * word scores deg(w)/freq(w) where deg counts the words sharing its
    * phrases (phrase length, self included) and freq its phrase
    * occurrences; a phrase scores the sum of its words' scores. The
    * corpus-level top-k is the "what is this corpus about" card next to
    * q_tfidf_topk (which needs a document axis) and q_pmi_topk (pairs
    * only).
    *
    * Scale posture: phrase segmentation is a PER-ROW higher-order
    * aggregate over the token array (map-side — no positions table, no
    * per-doc window, no shuffle to build phrases); word stats collapse
    * to vocabulary size, phrase stats to distinct-phrase size, and the
    * phrase-score join broadcasts the vocabulary-sized word scores.
    * Word scores are 6dp DECIMAL, so the per-phrase sum is exact and
    * order-independent on both engines.
    */
  def rakeKeywords(docs: DataFrame, k: Int = 15): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val stopArr = array(enStopwords.map(lit): _*)
    val zero = struct(
      array().cast("array<array<string>>").as("done"),
      array().cast("array<string>").as("cur"))
    val step = (acc: Column, t: Column) => {
      val isStop = array_contains(stopArr, t)
      struct(
        when(isStop && size(acc.getField("cur")) > 0,
          concat(acc.getField("done"), array(acc.getField("cur"))))
          .otherwise(acc.getField("done")).as("done"),
        when(isStop, array().cast("array<string>"))
          .otherwise(concat(acc.getField("cur"), array(t))).as("cur"))
    }
    val fin = (acc: Column) =>
      when(size(acc.getField("cur")) > 0,
        concat(acc.getField("done"), array(acc.getField("cur"))))
        .otherwise(acc.getField("done"))
    val phrases = docs
      .select(explode(aggregate(tokens(lower(col("text"))), zero, step, fin))
        .as("ptoks"))
      .select(array_join(col("ptoks"), " ").as("phrase"), col("ptoks"),
        size(col("ptoks")).as("len"))
      .persistTracked()
    val wscores = phrases.select(explode(col("ptoks")).as("w"), col("len"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"), round(col("deg").cast("double") / col("freq"), 6)
        .cast(DecimalType(18, 6)).as("wscore"))
    phrases.groupBy("phrase").agg(count(lit(1)).as("cnt"))
      .select(col("phrase"), col("cnt"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(wscores), Seq("w"))
      .groupBy("phrase", "cnt")
      .agg(sum(col("wscore")).cast("double").as("score"))
      .select(col("phrase"), col("cnt"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), col("phrase"))
      .limit(k)
  }

  /** MULTI-CLASS PRECISION/RECALL/F1 REPORT of the heuristic language
    * classifier against the labeled corpus — per-class rows plus the
    * macro-F1 (classes weighted equally — the number that catches a
    * classifier coasting on the majority class) and plain accuracy
    * (= micro-F1 in single-label classification). The classifier-eval
    * layer the binary AUC/PR family can't provide for k classes.
    *
    * Scale posture: one prediction pass collapses to a (truth, pred)
    * class-pair frame; per-class stats and the macro fold are
    * class-cardinality. Per-class F1 rounds to 6dp DECIMAL so the macro
    * average folds exactly.
    */
  def macroF1(docs: DataFrame): DataFrame = {
    import graft.CacheScope.TrackedDataset
    val cm = docs.filter(col("lang").isNotNull)
      .select(col("lang").as("truth"), langId(col("text")).as("pred"))
      .groupBy("truth", "pred").agg(count(lit(1)).as("n"))
      .persistTracked()
    val classes = cm.select(col("truth").as("cls"))
      .union(cm.select(col("pred").as("cls"))).distinct()
    val byTruth = cm.groupBy(col("truth").as("cls"))
      .agg(sum(col("n")).as("n_true"),
        sum(when(col("pred") === col("truth"), col("n")).otherwise(0L))
          .as("tp"))
    val byPred = cm.groupBy(col("pred").as("cls"))
      .agg(sum(col("n")).as("n_pred"))
    def d(c: Column) = c.cast("double")
    val stats = classes.join(byTruth, Seq("cls"), "left")
      .join(byPred, Seq("cls"), "left")
      .na.fill(0L, Seq("n_true", "tp", "n_pred"))
    val p = when(col("n_pred") > 0, d(col("tp")) / d(col("n_pred")))
      .otherwise(lit(0.0))
    val r = when(col("n_true") > 0, d(col("tp")) / d(col("n_true")))
      .otherwise(lit(0.0))
    val f1 = when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
    val withF = stats.select(col("cls"), col("n_true"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_true") - col("tp")).as("fn"),
        round(p, 6).as("precision"), round(r, 6).as("recall"),
        round(f1, 6).cast(DecimalType(18, 6)).as("f1d"))
      .persistTracked()
    val tot = withF.agg(
      round(sum(col("f1d")).cast("double") / count(lit(1)), 6)
        .as("macro_f1"),
      round(sum(col("tp")).cast("double") /
        sum(col("n_true")).cast("double"), 6).as("accuracy"))
    withF.crossJoin(broadcast(tot))
      .select(col("cls"), col("n_true"), col("tp"), col("fp"), col("fn"),
        col("precision"), col("recall"),
        col("f1d").cast("double").as("f1"), col("macro_f1"),
        col("accuracy"))
      .orderBy("cls")
  }

  /** DISTINCT-N-GRAM RATIOS (the distinct-n / rep-n diversity metric of
    * Li et al. 2016 "A Diversity-Promoting Objective", corpus level):
    * for n = 1..4, distinct n-grams over total n-grams — low ratios at
    * higher orders are the signature of boilerplate/templated/looped
    * text that per-document top-token share (q_text_repetition) misses
    * when the repetition spans documents. Also reports the single most
    * repeated n-gram's count per order.
    *
    * Scale posture: all four orders generate MAP-SIDE in one pass (per-
    * position inner transform, nulls filtered — the q_cooccur_pmi
    * generator); counts collapse to (order, gram) vocabulary-scale
    * groups with map-side combine, then to 4 rows.
    */
  def repNgrams(docs: DataFrame, maxN: Int = 4): DataFrame = {
    val n = size(col("toks"))
    val gen = flatten(transform(sequence(lit(1), lit(maxN)), nn =>
      filter(transform(sequence(lit(1), n), i =>
        when(i + nn - 1 <= n, struct(nn.as("ord"),
          array_join(slice(col("toks"), i, nn), " ").as("g")))),
        x => x.isNotNull)))
    docs
      // single-row-group spread: the 4-order gram explode is the query's
      // whole cost and ran in one task
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(tokens(lower(col("text"))).as("toks"))
      .filter(n >= 1)
      .select(explode(gen).as("e"))
      .groupBy(col("e.ord").cast("long").as("n_order"), col("e.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy("n_order")
      .agg(sum(col("c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"), max(col("c")).as("top_count"))
      .select(col("n_order"), col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"), 6).as("distinct_ratio"),
        col("top_count"))
      .orderBy("n_order")
  }

  /** GOOD–TURING UNSEEN-MASS ESTIMATE (Good 1953): from the frequency-
    * of-frequencies table, P(next token is an unseen type) = N₁/N, the
    * hapax share of the token stream — the principled version of the
    * OOV forecast (q_oov_rate measures OOV against a FIXED vocab; this
    * predicts it for the corpus's own growth, the q_heaps_fit
    * companion). Also emits the Good–Turing adjusted count for hapaxes,
    * r₁* = 2·N₂/N₁ (how much a count-of-1 should really count — the
    * smoothing kernel of Katz/SGT language models).
    *
    * Scale posture: token counts collapse to vocabulary size, then to
    * the frequency-of-frequencies spine (≤ max count rows); the readout
    * is exact integer sums with one double tree.
    */
  def goodTuring(docs: DataFrame): DataFrame = {
    val fof = docs.select(explode(tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .groupBy("f").agg(count(lit(1)).as("nf"))
    def d(c: Column) = c.cast("double")
    fof.agg(sum(col("f") * col("nf")).as("n_tokens"),
        sum(col("nf")).as("vocab"),
        sum(when(col("f") === 1, col("nf")).otherwise(0L)).as("n1"),
        sum(when(col("f") === 2, col("nf")).otherwise(0L)).as("n2"))
      .select(col("n_tokens"), col("vocab"), col("n1"), col("n2"),
        round(d(col("n1")) / d(col("n_tokens")), 6).as("p_unseen"),
        round(d(col("n1")) / d(col("vocab")), 6).as("hapax_share"),
        when(col("n1") > 0, round(lit(2.0) * col("n2") / col("n1"), 6))
          .as("r1_star"))
  }

  /** Skip-gram co-occurrence PMI (window ≤ 3) over a (text) frame —
    * see the q_cooccur_pmi entry comment for semantics/posture.
    */
  def cooccurPmi(docs: DataFrame, minSupport: Int = 3,
                 k: Int = 20): DataFrame = {
    val toks = docs.select(tokens(lower(col("text"))).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val nu = uni.agg(sum(col("cu")).as("nu"))
    val n = size(col("toks"))
    val pairGen = flatten(transform(sequence(lit(1), n), i =>
      filter(transform(sequence(lit(1), lit(3)), kk =>
        when(i + kk <= n, struct(
          least(element_at(col("toks"), i),
            element_at(col("toks"), i + kk)).as("w1"),
          greatest(element_at(col("toks"), i),
            element_at(col("toks"), i + kk)).as("w2")))),
        x => x.isNotNull)))
    val pc = toks.filter(n >= 2)
      .select(explode(pairGen).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val np = pc.agg(sum(col("cb")).as("np"))
    val pmi = log2((col("cb").cast("double") / col("np").cast("double")) /
      ((col("c1").cast("double") / col("nu").cast("double")) *
        (col("c2").cast("double") / col("nu").cast("double"))))
    pc.filter(col("cb") >= minSupport)
      .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))),
        Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(np))
      .select(col("w1"), col("w2"), col("cb"), round(pmi, 6).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(k)
  }

  /** TEXTRANK KEYWORDS (Mihalcea & Tarau 2004): weighted PageRank over
    * the word co-occurrence graph (window ≤ 2, both directions, stopwords
    * dropped) — the graph-centrality keyword extractor beside q_rake's
    * frequency-heuristic one; a word ranks high when it co-occurs with
    * other high-ranking words, not merely when it is frequent. Rank
    * arithmetic is the q_pagerank fixed-point integer scheme verbatim
    * (S = 10^6 ppm, damping 850/1000, weighted contributions
    * (850·rank·n) div (1000·wout)), so DuckDB replays every round.
    *
    * Scale posture: ONE corpus tokenize/pair pass collapses map-side to
    * the vocab²-bounded weighted edge frame; all iteration runs on
    * vocab-sized rank frames (broadcast per round, localCheckpoint to
    * keep lineage flat — the pagerankTransitions recipe). Top-k is a
    * TakeOrdered.
    */
  def textRank(docs: DataFrame, iters: Int = 6, k: Int = 15): DataFrame = {
    val toksF = docs.select(tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
    val n = size(col("toks"))
    val pairGen = flatten(transform(sequence(lit(1), n), i =>
      filter(transform(sequence(lit(1), lit(2)), kk =>
        when(i + kk <= n, struct(
          element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + kk).as("b")))),
        x => x.isNotNull)))
    val pairs = toksF.select(explode(pairGen).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b") &&
        !col("a").isin(enStopwords: _*) && !col("b").isin(enStopwords: _*))
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    // bounded-driver-state fast path (r11 verdict item 1): the weighted
    // word graph is vocab²-bounded but the 6 distributed rounds pay
    // ~1 s/job of scheduling overhead (cpu_wall 2.8 at sf0.1 — the
    // q_grid_clusters disease). Graph.weightedRank owns the whole
    // contract — the DriverEdgeLimit probe on the UNPERSISTED frame,
    // the string-type gate, and the gated-broadcast distributed
    // fallback (one shared copy; this site previously inlined both).
    val ranks = graft.operators.Graph.weightedRank(edges, iters)
    ranks.orderBy(desc("rank"), col("node")).limit(k)
      .select(col("node").as("word"), col("rank").cast("long").as("rank_ppm"),
        round(col("rank").cast("double") / lit(1000000.0), 6).as("share"))
  }

  /** YULE'S CHARACTERISTIC K + lexical-richness ratios (Yule 1944):
    * K = 10⁴·(Σ m²V(m) − N)/N² over the token frequency spectrum — the
    * repetitiveness constant that is (unlike raw TTR) insensitive to
    * corpus length, the classic lexical-slop detector for generated or
    * boilerplate-heavy text (pairs with q_rep_ngrams' cross-doc view and
    * q_good_turing's same freq-of-freq spine). Also released: type-token
    * ratio and the hapax share (V(1)/V — a healthy natural corpus keeps
    * a fat hapax tail; template spam doesn't).
    *
    * Exactness: all sums (N, V, Σm², V(1)) are exact integers off the
    * token frequency frame; K needs float only at the end. Scale
    * posture: one tokenize pass (map-side) + one shuffle to token
    * cardinality + scalar folds — the q_heavy_hitters shape.
    */
  def yuleK(docs: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val freq = docs
      .select(explode(tokens(lower(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("m"))
    val a = freq.agg(count(lit(1)).as("v"), sum(col("m")).as("n"),
      sum(dec(col("m")) * dec(col("m"))).as("sm2"),
      sum(when(col("m") === 1, 1L).otherwise(0L)).as("v1"))
    def d(c: Column) = c.cast("double")
    a.select(col("n").as("n_tokens"), col("v").as("vocab"),
      round(d(col("v")) / d(col("n")), 6).as("ttr"),
      round(d(col("v1")) / d(col("v")), 6).as("hapax_share"),
      round(lit(10000.0) * (d(col("sm2")) - d(col("n"))) /
        (d(col("n")) * d(col("n"))), 6).as("yule_k"))
  }

  /** BURROWS' DELTA (Burrows 2002): the classic stylometric distance —
    * z-score each source's relative frequency of the top-`nWords`
    * corpus words against the across-source distribution, then
    * Δ(s1,s2) = mean |z₁ − z₂|. THE authorship/register-similarity
    * measure; in a curation pipeline it surfaces source pairs that are
    * stylistic near-clones (scraped mirrors, template farms) that
    * content-hash dedup misses. Released: the k most similar pairs.
    *
    * Exactness: relative frequencies freeze to integer ppm
    * (c·10⁶ div n_tokens); across-source moments are exact integer
    * sums with a guarded sample-variance denominator; each |Δz| rounds
    * 9dp before the DECIMAL fold. Scale posture: one tokenize pass →
    * (source × top-word) grid (dimension-class — the top-word list is
    * a 30-row broadcast); the pair join runs on the z-matrix
    * (sources × 30), never the corpus.
    */
  def burrowsDelta(docs: DataFrame, nWords: Int = 30,
                   k: Int = 15): DataFrame = {
    val tok = docs.select(col("source"),
        explode(tokens(lower(col("text")))).as("token"))
      .persistTracked()
    val topw = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("token")).limit(nWords)
      .select(col("token"))
    val stot = tok.groupBy("source").agg(count(lit(1)).as("nt"))
    val cnts = tok.join(broadcast(topw), Seq("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val grid = stot.crossJoin(broadcast(topw))
    val f = grid.join(cnts, Seq("source", "token"), "left")
      .select(col("source"), col("token"),
        expr("coalesce(c, 0) * 1000000 div nt").as("fppm"))
    val ws = f.groupBy("token").agg(count(lit(1)).as("k"),
      sum(col("fppm")).as("sf"),
      sum(col("fppm") * col("fppm")).as("sff"))
    def d(c: Column) = c.cast("double")
    val mu = d(col("sf")) / d(col("k"))
    val va = (d(col("sff")) - d(col("k")) * mu * mu) /
      greatest(d(col("k")) - 1, lit(1.0))
    val wz = f.join(ws, Seq("token"))
      .filter(col("k") > 1 && va > 0)
      .select(col("source"), col("token"),
        ((d(col("fppm")) - mu) / sqrt(va)).as("z"))
    val pairs = wz.as("a").join(wz.as("b"),
        col("a.token") === col("b.token") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"),
        round(abs(col("a.z") - col("b.z")), 9)
          .cast(DecimalType(18, 9)).as("t"))
    pairs.groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_words"),
        round(sum(col("t")).cast("double") /
          count(lit(1)).cast("double"), 4).as("delta"))
      .orderBy(col("delta"), col("s1"), col("s2")).limit(k)
  }

  /** COLLOCATION EXTRACTION by Dunning's log-likelihood ratio (Dunning
    * 1993): G² of each bigram's 2×2 contingency — the statistically
    * honest collocation test that, unlike q_pmi_topk's raw PMI, does
    * NOT explode on rare pairs (PMI's top list is one-count noise by
    * construction; G² weights by evidence). Computed via the xlx
    * identity G² = 2(Σ O·lnO − Σ R·lnR − Σ C·lnC + N·lnN) so zero
    * cells cost nothing. Released: the top-k collocations.
    *
    * Exactness: all contingency cells are exact integers off the shared
    * KN bigram count frames; each x·ln x is the same double tree; the
    * ordering key is the 4dp-ROUNDED G² (ties then lexical) so both
    * engines rank identically. Scale posture: one tokenize pass +
    * vocab-bounded count frames; the 2×2 algebra is a map over the
    * bigram-type frame.
    */
  def collocationsG2(docs: DataFrame, k: Int = 15): DataFrame = {
    val (_, cb, cu, _, _) = knFrames(docs)
    val c2 = cb.groupBy("w2").agg(sum(col("cb")).as("c2"))
    val nn = cb.agg(sum(col("cb")).as("nb"))
    val j = cb.join(cu.select(col("w1"), col("cu")), Seq("w1"))
      .join(c2, Seq("w2")).crossJoin(broadcast(nn))
    def xlx(c: Column) = {
      val d = c.cast("double")
      when(c > 0, d * log(d)).otherwise(lit(0.0))
    }
    val k11 = col("cb")
    val k12 = col("cu") - col("cb")
    val k21 = col("c2") - col("cb")
    val k22 = col("nb") - col("cu") - col("c2") + col("cb")
    val g2 = lit(2.0) * (xlx(k11) + xlx(k12) + xlx(k21) + xlx(k22) -
      xlx(col("cu")) - xlx(col("nb") - col("cu")) -
      xlx(col("c2")) - xlx(col("nb") - col("c2")) + xlx(col("nb")))
    j.select(col("w1"), col("w2"), col("cb").as("n_pair"),
        round(g2, 4).as("g2"))
      .orderBy(desc("g2"), col("w1"), col("w2"))
      .limit(k)
  }

  /** DuckDB twin of [[tokens]] — shared across module oracles so the
    * tokenizer convention can't drift per copy.
    */
  def tokensSql(c: String): String =
    s"list_filter(string_split_regex($c, '\\s+'), t -> t <> '')"

  /** DuckDB replay of [[bpeTrain]]: k unrolled stages of argmax-pair +
    * list_reduce greedy fold — the same algorithm, same tie-break, same
    * exact-suffix merge test.
    */
  /** Oracle for [[bpeEncode]]: re-derive the k-merge table with the same
    * CTE chain as [[bpeTrainSql]], but carry doc_id through the fold
    * chain and emit per-doc raw/encoded token counts after the final
    * merge application.
    */
  /** The shared train+encode CTE chain (argmax merge per step, greedy
    * fold re-encode) — consumed by both the per-doc encode oracle and the
    * per-source fertility oracle.
    */
  private def bpeCtes(k: Int): String = {
    val docs1 =
      """docs1 AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS toks
        | FROM documents)""".stripMargin
    def pairs(i: Int) =
      s"""pairs$i AS (
         | SELECT pr[1] AS a, pr[2] AS b, count(*) AS c
         | FROM (SELECT unnest(list_zip(toks, toks[2:])) AS pr FROM docs$i)
         | WHERE pr[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin
    def m(i: Int) =
      s"m$i AS (SELECT a AS ma, b AS mb FROM pairs$i ORDER BY c DESC, a, b LIMIT 1)"
    def docsNext(i: Int) =
      s"""docs${i + 1} AS (
         | SELECT doc_id, CASE WHEN len(toks) <= 1 THEN toks
         |  ELSE string_split(list_reduce(toks, (acc, x) ->
         |   CASE WHEN (acc = ma OR ends_with(acc, '|' || ma)) AND x = mb
         |    THEN acc || '_' || x ELSE acc || '|' || x END), '|') END AS toks
         | FROM docs$i CROSS JOIN m$i)""".stripMargin
    (docs1 +: (1 to k).flatMap(i => Seq(pairs(i), m(i), docsNext(i))))
      .mkString(",\n")
  }

  private def bpeEncodeSql(k: Int): String =
    s"""WITH ${bpeCtes(k)}
       |SELECT d0.doc_id, CAST(len(d0.toks) AS BIGINT) AS n_raw,
       | CAST(len(df.toks) AS BIGINT) AS n_bpe
       |FROM docs1 d0 JOIN docs${k + 1} df USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private def fertilitySql(k: Int): String =
    s"""WITH ${bpeCtes(k)},
       |enc AS (
       | SELECT d0.doc_id, CAST(len(d0.toks) AS BIGINT) AS n_raw,
       |  CAST(len(df.toks) AS BIGINT) AS n_bpe
       | FROM docs1 d0 JOIN docs${k + 1} df USING (doc_id)),
       |meta AS (
       | SELECT doc_id, source, CAST(length(text) AS BIGINT) AS chars,
       |  CAST(strlen(text) AS BIGINT) AS bytes
       | FROM documents)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       | round(CAST(sum(bytes) AS DOUBLE) / sum(n_bpe), 6) AS bytes_per_token,
       | round(CAST(sum(chars) AS DOUBLE) / sum(n_bpe), 6) AS chars_per_token,
       | round(CAST(sum(n_raw) AS DOUBLE) / sum(n_bpe), 6) AS raw_per_bpe
       |FROM enc JOIN meta USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  private def bpeTrainSql(k: Int): String = {
    val docs1 =
      """docs1 AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), t -> t <> '') AS toks
        | FROM documents)""".stripMargin
    def pairs(i: Int) =
      s"""pairs$i AS (
         | SELECT pr[1] AS a, pr[2] AS b, count(*) AS c
         | FROM (SELECT unnest(list_zip(toks, toks[2:])) AS pr FROM docs$i)
         | WHERE pr[2] IS NOT NULL GROUP BY 1, 2)""".stripMargin
    def m(i: Int) =
      s"m$i AS (SELECT a AS ma, b AS mb, c AS mc FROM pairs$i ORDER BY c DESC, a, b LIMIT 1)"
    def docsNext(i: Int) =
      s"""docs${i + 1} AS (
         | SELECT CASE WHEN len(toks) <= 1 THEN toks
         |  ELSE string_split(list_reduce(toks, (acc, x) ->
         |   CASE WHEN (acc = ma OR ends_with(acc, '|' || ma)) AND x = mb
         |    THEN acc || '_' || x ELSE acc || '|' || x END), '|') END AS toks
         | FROM docs$i CROSS JOIN m$i)""".stripMargin
    val ctes = docs1 +: (1 to k).flatMap { i =>
      Seq(pairs(i), m(i)) ++ (if (i < k) Seq(docsNext(i)) else Nil)
    }
    val selects = (1 to k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS step, ma AS pair_a, mb AS pair_b, mc AS freq FROM m$i"
    }
    s"WITH ${ctes.mkString(",\n")}\n${selects.mkString("\nUNION ALL\n")}\nORDER BY step"
  }
  private def hitsSql(c: String, words: Seq[String]) = {
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter(${tokensSql(c)}, t -> list_contains($lst, t)))"
  }

  /** DuckDB twin of [[qualityScore]] — shared with Curation's funnel
    * oracle (single source of truth for the score formula in SQL).
    */
  private[operators] lazy val qualitySql: String = {
    val nTok = s"len(${tokensSql("text")})"
    val stopRatio =
      s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(${hitsSql("text", enStopwords)} AS DOUBLE)/CAST($nTok AS DOUBLE) END"
    val punctRatio =
      s"CASE WHEN length(text)=0 THEN 0.0 ELSE CAST(length(text)-length(regexp_replace(text,'$punctClass','','g')) AS DOUBLE)/CAST(length(text) AS DOUBLE) END"
    val meanTok =
      s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(list_sum(list_transform(${tokensSql("text")}, t -> length(t))) AS DOUBLE)/CAST($nTok AS DOUBLE) END"
    s"""(CASE WHEN length(text) BETWEEN 20 AND 20000 THEN 1.0 ELSE 0.0 END * 0.3
       | + CASE WHEN $stopRatio > 0.01 THEN 1.0 ELSE 0.0 END * 0.3
       | + CASE WHEN $punctRatio < 0.2 THEN 1.0 ELSE 0.0 END * 0.2
       | + CASE WHEN $meanTok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END * 0.2)""".stripMargin
  }

  /** Shared DuckDB CTE bodies for the Kneser-Ney bigram model — used by
    * q_kn_lm / q_kn_surprisal here and by Curation's q_domain_reweight
    * oracle (which stacks the reweighting on the same surprisal frame).
    * Pre-stripped: embed with plain concatenation, never inside another
    * stripMargin template.
    */
  /** DuckDB twin of [[plsaFit]]: seeded ppb init + two unrolled EM rounds
    * ending at p2wz (w, z, pwz) and p2zs (source, z, pzs). HUGEINT stands
    * in for Spark's DECIMAL(38,0) folds — identical integer values.
    */
  def plsaCtesSql: String =
    s"""sw AS (
       | SELECT source, w, CAST(count(*) AS BIGINT) AS nsw FROM (
       |  SELECT source, unnest(${tokensSql("lower(text)")}) AS w
       |  FROM documents
       |  WHERE text IS NOT NULL AND source IS NOT NULL)
       | GROUP BY 1, 2),
       |nsrc AS (SELECT source, CAST(sum(nsw) AS BIGINT) AS ns
       |         FROM sw GROUP BY 1),
       |wc AS (SELECT w, CAST(sum(nsw) AS BIGINT) AS nw FROM sw GROUP BY 1),
       |wz AS (
       | SELECT w, nw, zz.z AS z,
       |  nw * (CASE WHEN CAST(('0x' || substr(md5(w), 1, 4)) AS BIGINT)
       |    % 3 = zz.z THEN 10 ELSE 1 END) AS a0
       | FROM wc CROSS JOIN (VALUES (0), (1), (2)) AS zz(z)),
       |nz0 AS (SELECT z, sum(CAST(a0 AS HUGEINT)) AS norm
       |        FROM wz GROUP BY 1),
       |p0 AS (
       | SELECT w, nw, z,
       |  CAST(CAST(a0 AS HUGEINT) * 1000000000 // greatest(norm, 1)
       |   AS BIGINT) AS p
       | FROM wz JOIN nz0 USING (z)),
       |pd1 AS (SELECT w, CAST(sum(p) AS BIGINT) AS pd FROM p0 GROUP BY 1),
       |post1 AS (
       | SELECT w, nw, z,
       |  CAST(CAST(p AS HUGEINT) * 1000000000 // greatest(pd, 1)
       |   AS BIGINT) AS r
       | FROM p0 JOIN pd1 USING (w)),
       |m1 AS (SELECT w, z, CAST(nw AS HUGEINT) * r AS num FROM post1),
       |nz1 AS (SELECT z, sum(num) AS norm FROM m1 GROUP BY 1),
       |p1wz AS (
       | SELECT w, z,
       |  CAST(num * 1000000000 // greatest(norm, 1) AS BIGINT) AS pwz
       | FROM m1 JOIN nz1 USING (z)),
       |p1zsn AS (
       | SELECT source, z, sum(CAST(nsw AS HUGEINT) * r) AS num
       | FROM sw JOIN post1 USING (w) GROUP BY 1, 2),
       |p1zs AS (
       | SELECT source, z, CAST(num // greatest(ns, 1) AS BIGINT) AS pzs
       | FROM p1zsn JOIN nsrc USING (source)),
       |cell AS (
       | SELECT source, w, nsw, z, CAST(pwz AS HUGEINT) * pzs AS num
       | FROM sw JOIN p1wz USING (w) JOIN p1zs USING (source, z)),
       |cd AS (SELECT source, w, sum(num) AS den FROM cell GROUP BY 1, 2),
       |post2 AS (
       | SELECT source, w, nsw, z,
       |  CAST(num * 1000000000 // greatest(den, 1) AS BIGINT) AS r
       | FROM cell JOIN cd USING (source, w)),
       |m2 AS (SELECT w, z, sum(CAST(nsw AS HUGEINT) * r) AS num
       |       FROM post2 GROUP BY 1, 2),
       |nz2 AS (SELECT z, sum(num) AS norm FROM m2 GROUP BY 1),
       |p2wz AS (
       | SELECT w, z,
       |  CAST(num * 1000000000 // greatest(norm, 1) AS BIGINT) AS pwz
       | FROM m2 JOIN nz2 USING (z)),
       |p2zsn AS (
       | SELECT source, z, sum(CAST(nsw AS HUGEINT) * r) AS num
       | FROM post2 GROUP BY 1, 2),
       |p2zs AS (
       | SELECT source, z, CAST(num // greatest(ns, 1) AS BIGINT) AS pzs
       | FROM p2zsn JOIN nsrc USING (source))""".stripMargin

  def knCountCtesSql: String =
    s"""toks AS (
       | SELECT doc_id AS id, source, ${tokensSql("text")} AS toks
       | FROM documents),
       |t2 AS (SELECT id, source, toks FROM toks WHERE len(toks) >= 2),
       |bb AS (
       | SELECT id, source, toks[i] AS w1, toks[i + 1] AS w2
       | FROM t2, unnest(range(1, len(toks))) AS r(i)),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM bb GROUP BY 1, 2),
       |cu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
       |       count(*) AS fwd FROM cb GROUP BY 1),
       |bwd AS (SELECT w2, count(*) AS bwd FROM cb GROUP BY 1),
       |gl AS (SELECT count(*) AS b,
       |  CAST(sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |  CAST(sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       | FROM cb)""".stripMargin

  /** Per-doc surprisal CTE (stacks on [[knTermsCteSql]]'s `terms`). */
  def knDocCteSql: String =
    """docsur AS (
      | SELECT id, source, count(*) AS n_bigrams,
      |  round(CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |   AS kn_bits
      | FROM terms GROUP BY 1, 2)""".stripMargin

  def knTermsCteSql: String =
    s"""terms AS (
       | SELECT bb.id, bb.source,
       |  CAST(round(-log2(
       |   (CAST(cb AS DOUBLE) - $knDiscSql) / CAST(cu AS DOUBLE)
       |    + $knDiscSql
       |      * CAST(fwd AS DOUBLE) / CAST(cu AS DOUBLE)
       |      * (CAST(bwd AS DOUBLE) / CAST(b AS DOUBLE))), 6)
       |   AS DECIMAL(18,6)) AS t
       | FROM bb JOIN cb USING (w1, w2) JOIN cu USING (w1)
       |  JOIN bwd USING (w2) CROSS JOIN gl)""".stripMargin

  // SQL fragments shared by the oracles below
  private def nTok: String = s"len(${tokensSql("text")})"
  private def stopRatio: String =
    s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(${hitsSql("text", enStopwords)} AS DOUBLE)/CAST($nTok AS DOUBLE) END"
  private def punctRatio: String =
    s"CASE WHEN length(text)=0 THEN 0.0 ELSE CAST(length(text)-length(regexp_replace(text,'$punctClass','','g')) AS DOUBLE)/CAST(length(text) AS DOUBLE) END"
  private def meanTok: String =
    s"CASE WHEN $nTok=0 THEN 0.0 ELSE CAST(list_sum(list_transform(${tokensSql("text")}, t -> length(t))) AS DOUBLE)/CAST($nTok AS DOUBLE) END"
  private def quality: String = qualitySql
  private def langScores: Seq[(String, String)] =
    langStopwords.map { case (l, ws) => l -> hitsSql("text", ws) }
  private def maxScore: String = langScores.map(_._2).mkString("greatest(", ", ", ")")
  private def langCase: String = langScores
    .map { case (l, sc) => s"WHEN $sc = $maxScore THEN '$l'" }
    .mkString(" ")

  def entries: Seq[Q] = Seq(
    // Evidence-weighted collocations (Dunning G², top-15).
    // same KN count frames, same xlx identity, same rounded ordering
    Q("q_collocations_g2", { (s, d) =>
      collocationsG2(Tables.documents(s, d)) }, {
      def xlx(c: String) =
        s"(CASE WHEN $c > 0 THEN CAST($c AS DOUBLE) " +
          s"* ln(CAST($c AS DOUBLE)) ELSE 0.0 END)"
      ("WITH " + knCountCtesSql + ",\n" +
        s"""c2 AS (SELECT w2, CAST(sum(cb) AS BIGINT) AS c2 FROM cb
           |  GROUP BY 1),
           |nn AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb),
           |j AS (
           | SELECT w1, w2, cb, cu, c2, nb
           | FROM cb JOIN cu USING (w1) JOIN c2 USING (w2)
           |  CROSS JOIN nn),
           |sc AS (
           | SELECT w1, w2, cb AS n_pair,
           |  round(2.0 * (${xlx("cb")} + ${xlx("cu - cb")}
           |   + ${xlx("c2 - cb")} + ${xlx("nb - cu - c2 + cb")}
           |   - ${xlx("cu")} - ${xlx("nb - cu")}
           |   - ${xlx("c2")} - ${xlx("nb - c2")}
           |   + ${xlx("nb")}), 4) AS g2
           | FROM j)
           |SELECT w1, w2, n_pair, g2 FROM sc
           |ORDER BY g2 DESC, w1, w2 LIMIT 15""".stripMargin)
    }),
    // Stylometric near-clone source pairs (Burrows' Delta, top-30 words).
    // same top-word list, same ppm freeze, same guarded z-variance,
    // same 9dp |Δz| fold
    Q("q_burrows_delta", { (s, d) => burrowsDelta(Tables.documents(s, d)) }, {
      val mu = "(CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))"
      val va = s"((CAST(sff AS DOUBLE) - CAST(k AS DOUBLE) * $mu * $mu)" +
        " / greatest(CAST(k AS DOUBLE) - 1, 1.0))"
      s"""WITH tok AS (
         | SELECT source, unnest(${tokensSql("lower(text)")}) AS token
         | FROM documents),
         |topw AS (SELECT token FROM (
         | SELECT token, count(*) AS cnt FROM tok GROUP BY 1
         | ORDER BY cnt DESC, token LIMIT 30)),
         |stot AS (SELECT source, count(*) AS nt FROM tok GROUP BY 1),
         |cnts AS (
         | SELECT source, token, count(*) AS c
         | FROM tok JOIN topw USING (token) GROUP BY 1, 2),
         |grid AS (SELECT source, nt, token FROM stot CROSS JOIN topw),
         |f AS (
         | SELECT g.source, g.token,
         |  CAST(coalesce(c.c, 0) * 1000000 // g.nt AS BIGINT) AS fppm
         | FROM grid g LEFT JOIN cnts c
         |  ON g.source = c.source AND g.token = c.token),
         |ws AS (SELECT token, CAST(count(*) AS BIGINT) AS k,
         |  CAST(sum(fppm) AS BIGINT) AS sf,
         |  CAST(sum(fppm * fppm) AS BIGINT) AS sff
         | FROM f GROUP BY 1),
         |wz AS (
         | SELECT source, f.token,
         |  (CAST(fppm AS DOUBLE) - $mu) / sqrt($va) AS z
         | FROM f JOIN ws ON f.token = ws.token
         | WHERE k > 1 AND $va > 0),
         |pairs AS (
         | SELECT a.source AS s1, b.source AS s2,
         |  CAST(round(abs(a.z - b.z), 9) AS DECIMAL(18,9)) AS t
         | FROM wz a JOIN wz b
         |  ON a.token = b.token AND a.source < b.source)
         |SELECT s1, s2, count(*) AS n_words,
         | round(CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
         |  AS delta
         |FROM pairs GROUP BY 1, 2 ORDER BY delta, s1, s2
         |LIMIT 15""".stripMargin
    }),
    // Yule's K repetitiveness constant + TTR/hapax lexical richness.
    // same tokenize, same integer frequency-spectrum moments
    Q("q_yule_k", { (s, d) => yuleK(Tables.documents(s, d)) },
      s"""WITH freq AS (
         | SELECT token, count(*) AS m FROM (
         |  SELECT unnest(${tokensSql("lower(text)")}) AS token
         |  FROM documents) GROUP BY 1),
         |a AS (
         | SELECT CAST(count(*) AS BIGINT) AS v,
         |  CAST(sum(m) AS BIGINT) AS n,
         |  sum(CAST(m AS HUGEINT) * CAST(m AS HUGEINT)) AS sm2,
         |  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
         | FROM freq)
         |SELECT n AS n_tokens, v AS vocab,
         | round(CAST(v AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ttr,
         | round(CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE), 6)
         |  AS hapax_share,
         | round(10000.0 * (CAST(sm2 AS DOUBLE) - CAST(n AS DOUBLE))
         |  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS yule_k
         |FROM a""".stripMargin),
    // weighted-PageRank keyword twin: same window-2 pair set, same
    // q_pagerank integer rank scheme, rounds unrolled
    Q("q_textrank", { (s, d) => textRank(Tables.documents(s, d)) }, {
      val stop = enStopwords.map(w => s"'$w'").mkString(", ")
      def it(t: Int) =
        s"""r$t AS (
           | SELECT nodes.node, 150000 // nn.nn + coalesce(c.c, 0) AS rank
           | FROM nodes CROSS JOIN nn LEFT JOIN (
           |   SELECT e.dst,
           |    sum((850 * r${t - 1}.rank * e.n) // (1000 * w.wout)) AS c
           |   FROM edges e JOIN r${t - 1} ON e.src = r${t - 1}.node
           |    JOIN w ON w.src = e.src
           |   GROUP BY 1) c ON c.dst = nodes.node)""".stripMargin
      s"""WITH tk AS (
         | SELECT ${tokensSql("lower(text)")} AS toks FROM documents),
         |tf AS (SELECT toks FROM tk WHERE len(toks) >= 2),
         |bb AS (
         | SELECT toks[i] AS a, toks[i + kk] AS b
         | FROM tf, unnest(range(1, len(toks) + 1)) AS r(i)
         |  CROSS JOIN (VALUES (1), (2)) AS kx(kk)
         | WHERE i + kk <= len(toks)),
         |pp AS (
         | SELECT a, b FROM bb
         | WHERE a <> b AND a NOT IN ($stop) AND b NOT IN ($stop)),
         |es AS (SELECT a AS src, b AS dst FROM pp
         |       UNION ALL SELECT b, a FROM pp),
         |edges AS (SELECT src, dst, count(*) AS n FROM es GROUP BY 1, 2),
         |w AS (SELECT src, CAST(sum(n) AS BIGINT) AS wout
         |      FROM edges GROUP BY 1),
         |nodes AS (SELECT DISTINCT node FROM (
         | SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         |r0 AS (SELECT node, 1000000 // nn AS rank
         |       FROM nodes CROSS JOIN nn),
         |${(1 to 6).map(it).mkString(",\n")}
         |SELECT node AS word, CAST(rank AS BIGINT) AS rank_ppm,
         | round(CAST(rank AS DOUBLE) / 1000000.0, 6) AS share
         |FROM r6 ORDER BY rank DESC, node LIMIT 15""".stripMargin
    }),
    // Spectral word embeddings: top-2 SVD subspace of the milli-bit
    // PPMI matrix over the top-32 heads (Levy & Goldberg 2014).
    // PPMI-SVD twin: same count CTEs and milli-bit cell freeze, then
    // the q_pca_subspace iteration replay over G = M·Mᵀ (list folds in
    // j order = the driver's ascending-index loops; G entries are
    // exact integers, so the iteration starts from identical doubles)
    Q("q_ppmi_svd", { (s, d) => ppmiSvd(Tables.documents(s, d)) }, {
      val iters = 10
      val itCtes = (1 to iters).map { k =>
        val prev = s"v${k - 1}"
        s"""w$k AS (
           | SELECT i,
           |  list_sum(list_transform(list_zip(row, v1), p -> p[1] * p[2])) AS w1,
           |  list_sum(list_transform(list_zip(row, v2), p -> p[1] * p[2])) AS w2
           | FROM g2rows CROSS JOIN $prev),
           |wl$k AS (SELECT list(w1 ORDER BY i) AS w1,
           |  list(w2 ORDER BY i) AS w2 FROM w$k),
           |a$k AS (SELECT list_transform(w1,
           |   x -> x / sqrt(list_sum(list_transform(w1, y -> y * y)))) AS v1,
           |  w2 FROM wl$k),
           |b$k AS (SELECT v1, w2,
           |  list_sum(list_transform(list_zip(v1, w2), p -> p[1] * p[2])) AS c
           | FROM a$k),
           |c$k AS (SELECT v1,
           |  list_transform(list_zip(w2, v1), p -> p[1] - c * p[2]) AS w2p
           | FROM b$k),
           |v$k AS (SELECT v1, list_transform(w2p,
           |   x -> x / sqrt(list_sum(list_transform(w2p, y -> y * y)))) AS v2
           | FROM c$k)""".stripMargin
      }.mkString(",\n")
      ("WITH " + knCountCtesSql + ",\n" +
        s"""t2c AS (SELECT w2, CAST(sum(cb) AS BIGINT) AS c2
           |       FROM cb GROUP BY 1),
           |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb),
           |hd AS (SELECT w1,
           |  CAST(row_number() OVER (ORDER BY cu DESC, w1) AS INTEGER)
           |   AS rk
           | FROM cu ORDER BY cu DESC, w1 LIMIT 32),
           |cells AS (
           | SELECT a.rk AS i, b.rk AS j,
           |  CAST(floor(log2(CAST(cb AS DOUBLE) * CAST(nb AS DOUBLE)
           |    / (CAST(cu AS DOUBLE) * CAST(c2 AS DOUBLE))) * 1000
           |    + 0.5) AS BIGINT) AS mb
           | FROM cb JOIN cu USING (w1) JOIN t2c USING (w2) CROSS JOIN nb
           | JOIN hd a ON cb.w1 = a.w1 JOIN hd b ON cb.w2 = b.w1
           | WHERE cb >= 2 AND CAST(cb AS DOUBLE) * CAST(nb AS DOUBLE)
           |    / (CAST(cu AS DOUBLE) * CAST(c2 AS DOUBLE)) > 1.0),
           |mrows AS (
           | SELECT a.rk AS i,
           |  list(CAST(coalesce(c.mb, 0) AS DOUBLE) ORDER BY b.rk) AS row
           | FROM hd a CROSS JOIN hd b
           | LEFT JOIN cells c ON c.i = a.rk AND c.j = b.rk
           | GROUP BY 1),
           |gpair AS (
           | SELECT x.i AS i, y.i AS j,
           |  list_sum(list_transform(list_zip(x.row, y.row),
           |    p -> p[1] * p[2])) AS g
           | FROM mrows x CROSS JOIN mrows y),
           |g2rows AS (SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS row
           |           FROM gpair GROUP BY 1),
           |v0 AS (SELECT
           |  list_transform(range(0, (SELECT count(*) FROM hd)),
           |    x -> 1.0) AS v1,
           |  list_transform(range(0, (SELECT count(*) FROM hd)),
           |    x -> CASE WHEN x % 2 = 0 THEN 1.0 ELSE -1.0 END) AS v2),
           |$itCtes,
           |fw AS (
           | SELECT i,
           |  list_sum(list_transform(list_zip(row, v1), p -> p[1] * p[2])) AS f1,
           |  list_sum(list_transform(list_zip(row, v2), p -> p[1] * p[2])) AS f2
           | FROM g2rows CROSS JOIN v$iters),
           |fl AS (SELECT list(f1 ORDER BY i) AS f1,
           |  list(f2 ORDER BY i) AS f2 FROM fw),
           |lam AS (
           | SELECT
           |  list_sum(list_transform(list_zip(v1, f1), p -> p[1] * p[2])) AS l1,
           |  list_sum(list_transform(list_zip(v2, f2), p -> p[1] * p[2])) AS l2
           | FROM v$iters, fl)
           |SELECT rk, w1 AS word,
           | round(v1[rk] * sqrt(sqrt(l1)), 6) AS e1,
           | round(v2[rk] * sqrt(sqrt(l2)), 6) AS e2
           |FROM hd CROSS JOIN v$iters CROSS JOIN lam
           |ORDER BY rk""".stripMargin)
    }),
    Q("q_readability", { (s, d) => readability(Tables.documents(s, d)) },
      s"""WITH g AS (
         | SELECT source,
         |  CAST($nTok AS BIGINT) AS w,
         |  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
         |    AS BIGINT)) AS s,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |    AS BIGINT) AS y
         | FROM documents
         | WHERE text IS NOT NULL AND source IS NOT NULL),
         |a AS (
         | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS sw, CAST(sum(s) AS BIGINT) AS ss,
         |  CAST(sum(y) AS BIGINT) AS sy
         | FROM g GROUP BY 1)
         |SELECT source, n_docs,
         | round(CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE), 6)
         |  AS words_per_sentence,
         | round(CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE), 6)
         |  AS syllables_per_word,
         | round(0.39 * (CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE))
         |  + 11.8 * (CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE))
         |  - 15.59, 6) AS fk_grade,
         | round(206.835 - 1.015 * (CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE))
         |  - 84.6 * (CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE)), 6)
         |  AS flesch_ease
         |FROM a ORDER BY source""".stripMargin),
    Q("q_mojibake_audit", { (s, d) => mojibakeAudit(Tables.documents(s, d)) },
      """WITH t AS (
        | SELECT source,
        |  CASE WHEN substr(md5(text), 1, 1) IN ('0', '1')
        |        THEN text || chr(65533)
        |       WHEN substr(md5(text), 1, 1) IN ('2', '3')
        |        THEN text || chr(195) || chr(169)
        |       ELSE text END AS t
        | FROM documents
        | WHERE text IS NOT NULL AND source IS NOT NULL),
        |f AS (
        | SELECT source,
        |  CAST(CASE WHEN position(chr(65533) IN t) > 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS repl,
        |  CAST(CASE WHEN position(chr(195) || chr(169) IN t) > 0
        |       THEN 1 ELSE 0 END AS BIGINT) AS moji
        | FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(repl) AS BIGINT) AS n_replacement,
        | CAST(sum(moji) AS BIGINT) AS n_mojibake,
        | CAST(sum(greatest(repl, moji)) * 1000000 // count(*) AS BIGINT)
        |  AS corrupt_ppm
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // Corpus-trained bigram-LM quality scoring (the CCNet perplexity
    // filter shape) — per-doc mean -log2 P, full oracle replication.
    // the bigram chain: same tokens, same 1-based bigram enumeration,
    // same add-one smoothing, 6dp-decimal term fold
    Q("q_lm_score", { (s, d) =>
      lmScore(Tables.documents(s, d))
    },
      s"""WITH toks AS (
         | SELECT doc_id AS id, ${tokensSql("text")} AS toks FROM documents),
         |t2 AS (SELECT id, toks FROM toks WHERE len(toks) >= 2),
         |bb AS (
         | SELECT id, toks[i] AS w1, toks[i + 1] AS w2
         | FROM t2, unnest(range(1, len(toks))) AS r(i)),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM bb GROUP BY 1, 2),
         |cu AS (SELECT w1, count(*) AS cu FROM bb GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM
         |  (SELECT w1 AS w FROM bb UNION SELECT w2 FROM bb)),
         |terms AS (
         | SELECT bb.id,
         |  CAST(round(log2(CAST(cb.cb + 1 AS DOUBLE)
         |    / CAST(cu.cu + v.v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t
         | FROM bb JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
         |SELECT id AS doc_id, count(*) AS n_bigrams,
         | round(-CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS lm_bits
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),
    // Interpolated Kneser-Ney bigram LM: the trained-model inspection
    // table (top continuations + discount) and the per-source surprisal
    // readout — the production smoothing beside q_lm_score's add-one.
    // Kneser-Ney twins: same count frames, same D = n1/(n1+2n2), same
    // interpolated-probability expression tree, 6dp term fold
    Q("q_kn_lm", { (s, d) => knLmTopK(Tables.documents(s, d)) },
      ("WITH " + knCountCtesSql + ",\n" +
        s"""scored AS (
           | SELECT w1, w2, cb, cu, fwd, bwd,
           |  $knDiscSql AS d,
           |  (CAST(cb AS DOUBLE) - $knDiscSql) / CAST(cu AS DOUBLE)
           |   + $knDiscSql
           |     * CAST(fwd AS DOUBLE) / CAST(cu AS DOUBLE)
           |     * (CAST(bwd AS DOUBLE) / CAST(b AS DOUBLE)) AS p
           | FROM cb JOIN cu USING (w1) JOIN bwd USING (w2) CROSS JOIN gl)
           |SELECT w1, w2, cb, cu, fwd, bwd,
           | round(d, 6) AS discount, round(p, 6) AS p_kn
           |FROM scored ORDER BY p DESC, w1, w2 LIMIT 15""".stripMargin)),
    // PPMI top-k collocates per frequent head word (shared KN bigram
    // frames; G²'s association-strength companion).
    // PPMI twin: same shared bigram count CTEs, same raw-ratio ranking
    // (log2 only in the released 6dp value), same head/tie-break order
    Q("q_ppmi_topk", { (s, d) => ppmiTopK(Tables.documents(s, d)) },
      ("WITH " + knCountCtesSql + ",\n" +
        """c2 AS (SELECT w2, CAST(sum(cb) AS BIGINT) AS c2
          |       FROM cb GROUP BY 1),
          |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb),
          |scored AS (
          | SELECT w1, w2, cb,
          |  CAST(cb AS DOUBLE) * CAST(nb AS DOUBLE)
          |   / (CAST(cu AS DOUBLE) * CAST(c2 AS DOUBLE)) AS r
          | FROM cb JOIN cu USING (w1) JOIN c2 USING (w2) CROSS JOIN nb
          | WHERE cb >= 2),
          |hd AS (SELECT w1 FROM cu ORDER BY cu DESC, w1 LIMIT 20),
          |rk AS (
          | SELECT w1, w2, cb, r,
          |  row_number() OVER (PARTITION BY w1 ORDER BY r DESC, w2)
          |   AS rank
          | FROM scored JOIN hd USING (w1) WHERE r > 1.0)
          |SELECT w1, CAST(rank AS INTEGER) AS rank, w2, cb,
          | round(log2(r), 6) AS ppmi
          |FROM rk WHERE rank <= 5 ORDER BY w1, rank""".stripMargin)),
    // Cross-source KN transfer matrix: mean surprisal of every source
    // under each top-3-source-trained bigram LM, with coverage.
    // domain-transfer twin: same per-train count frames off the shared
    // bb instances, same greatest(cb−D,0) probability tree, same
    // coverage exclusion and 6dp term fold
    Q("q_domain_ppl", { (s, d) => domainPpl(Tables.documents(s, d)) },
      ("WITH " + knCountCtesSql + ",\n" +
        s"""bbn AS (SELECT * FROM bb WHERE source IS NOT NULL),
           |tsrc AS (
           | SELECT source AS train_src FROM bbn
           | GROUP BY 1 ORDER BY count(*) DESC, train_src LIMIT 3),
           |tcb AS (
           | SELECT b.source AS train_src, w1, w2,
           |  CAST(count(*) AS BIGINT) AS cb
           | FROM bbn b JOIN tsrc ON b.source = tsrc.train_src
           | GROUP BY 1, 2, 3),
           |tcu AS (SELECT train_src, w1, CAST(sum(cb) AS BIGINT) AS cu,
           |  CAST(count(*) AS BIGINT) AS fwd FROM tcb GROUP BY 1, 2),
           |tbwd AS (SELECT train_src, w2, CAST(count(*) AS BIGINT) AS bwd
           |         FROM tcb GROUP BY 1, 2),
           |tgl AS (SELECT train_src, CAST(count(*) AS BIGINT) AS b,
           |  CAST(sum(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n1,
           |  CAST(sum(CASE WHEN cb = 2 THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n2
           | FROM tcb GROUP BY 1),
           |ev AS (
           | SELECT source AS eval_src, w1, w2,
           |  CAST(count(*) AS BIGINT) AS cnt
           | FROM bbn GROUP BY 1, 2, 3),
           |inst AS (
           | SELECT eval_src, w1, w2, cnt, train_src
           | FROM ev CROSS JOIN tsrc),
           |j AS (
           | SELECT i.train_src, i.eval_src, i.cnt,
           |  cu.cu, cu.fwd, cbt.cb, bw.bwd, gl.b, gl.n1, gl.n2
           | FROM inst i
           | LEFT JOIN tcu cu
           |  ON cu.train_src = i.train_src AND cu.w1 = i.w1
           | LEFT JOIN tcb cbt ON cbt.train_src = i.train_src
           |  AND cbt.w1 = i.w1 AND cbt.w2 = i.w2
           | LEFT JOIN tbwd bw
           |  ON bw.train_src = i.train_src AND bw.w2 = i.w2
           | LEFT JOIN tgl gl ON gl.train_src = i.train_src),
           |sc AS (
           | SELECT train_src, eval_src, cnt,
           |  CASE WHEN cu IS NOT NULL AND $domainPplPSql > 0
           |   THEN cnt ELSE 0 END AS cov,
           |  CASE WHEN cu IS NOT NULL AND $domainPplPSql > 0
           |   THEN CAST(round(-log2($domainPplPSql), 6) AS DECIMAL(18,6))
           |  END AS t
           | FROM j)
           |SELECT train_src, eval_src,
           | CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           | CAST(CAST(sum(cov) AS HUGEINT) * 1000000 // sum(cnt)
           |  AS BIGINT) AS covered_ppm,
           | CASE WHEN sum(cov) > 0 THEN
           |  round(CAST(sum(t * CAST(cnt AS DECIMAL(18,0))) AS DOUBLE)
           |   / CAST(sum(cov) AS DOUBLE), 6)
           | END AS kn_bits
           |FROM sc GROUP BY 1, 2 ORDER BY train_src, eval_src""".stripMargin)),
    // PLSA K=3, two unrolled EM rounds: top words per topic.
    // PLSA twins: same seeded ppb init, same two unrolled EM rounds,
    // every normalization an integral // on non-negative operands
    Q("q_plsa_topics", { (s, d) => plsaTopics(Tables.documents(s, d)) },
      ("WITH " + plsaCtesSql + "\n" +
        """SELECT topic, rank, word, p_ppb FROM (
          | SELECT CAST(z AS BIGINT) AS topic, w AS word, pwz AS p_ppb,
          |  CAST(row_number() OVER (PARTITION BY z
          |    ORDER BY pwz DESC, w) AS INTEGER) AS rank
          | FROM p2wz)
          |WHERE rank <= 5 ORDER BY topic, rank""".stripMargin)),
    // PLSA K=3, two unrolled EM rounds: per-source topic mixtures.
    Q("q_plsa_mix", { (s, d) => plsaMix(Tables.documents(s, d)) },
      ("WITH " + plsaCtesSql + "\n" +
        """SELECT source, CAST(z AS BIGINT) AS topic, pzs AS mix_ppb,
          | round(CAST(pzs AS DOUBLE) / 1000000000.0, 6) AS share
          |FROM p2zs ORDER BY source, topic""".stripMargin)),
    Q("q_kn_surprisal", { (s, d) => knSurprisal(Tables.documents(s, d)) },
      ("WITH " + knCountCtesSql + ",\n" + knTermsCteSql + "\n" +
        """SELECT source, count(DISTINCT id) AS n_docs,
          | count(*) AS n_bigrams,
          | round(CAST(sum(t) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          |  AS kn_bits
          |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Tokenizer deploy path: train 6 merges, then encode the corpus with
    // them in one pass; per-doc compression (n_raw vs n_bpe) is the
    // standard tokenizer-fertility report.
    Q("q_bpe_encode", { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeTrain(s, docs, 6).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      // mapSide encode (proven row-identical to the projection-chain
      // form in Round6Spec): the k chained aggregate-folds each rebuild
      // a full '|'-joined corpus string per row per level — measured
      // execRun 78 s / cpu 43 s at sf0.1, allocation-stall bound; the
      // imperative per-partition pass does the same greedy scan on
      // String arrays in one level, and is the documented production
      // path at tokenizer-real merge counts anyway
      bpeEncodeMapSide(docs, merges).orderBy("doc_id")
    },
      bpeEncodeSql(6)),
    // Tokenizer training: 10 BPE merge iterations over the corpus; the
    // returned merge table is the trained artifact, replayed exactly by
    // the DuckDB oracle (same argmax order, same greedy fold). k=10 (up
    // from r5's 3) exercises the per-iteration localCheckpoint: plan
    // depth and per-pass cost stay constant across iterations.
    // One EM round of SentencePiece-style unigram-LM piece scoring over
    // the BPE candidate vocab (fixed-point ppb posteriors).
    // unigram-LM twin: same top-M candidate pairs, same ppb integral
    // divisions (// ≡ div ≡ floor on non-negative operands), same
    // clamped expected counts and renormalization
    Q("q_unigram_lm", { (s, d) => unigramLm(Tables.documents(s, d)) },
      """WITH tk AS (
        | SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |   t -> t <> '') AS toks
        | FROM documents),
        |tf AS (SELECT toks FROM tk WHERE len(toks) >= 1),
        |uni AS (
        | SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
        |  SELECT unnest(toks) AS w FROM tf) GROUP BY 1),
        |nn AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
        |bb AS (
        | SELECT toks[i] AS a, toks[i + 1] AS b
        | FROM tf, unnest(range(1, len(toks))) AS r(i)),
        |pairs AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cp
        |          FROM bb GROUP BY 1, 2),
        |cand AS (SELECT a, b, cp FROM pairs
        |         ORDER BY cp DESC, a, b LIMIT 10),
        |pp AS (
        | SELECT a, b, cp,
        |  CAST(CAST(cp AS HUGEINT) * 1000000000 // n AS BIGINT) AS pab,
        |  CAST(CAST(ca.cu AS HUGEINT) * 1000000000 // n AS BIGINT) AS pa,
        |  CAST(CAST(cb.cu AS HUGEINT) * 1000000000 // n AS BIGINT) AS pb
        | FROM cand JOIN uni ca ON ca.w = cand.a
        |  JOIN uni cb ON cb.w = cand.b CROSS JOIN nn),
        |post AS (
        | SELECT a, b, cp,
        |  CAST(CAST(pab AS HUGEINT) * 1000000000 * 1000000000
        |   // greatest(CAST(pab AS HUGEINT) * 1000000000
        |      + CAST(pa AS HUGEINT) * CAST(pb AS HUGEINT), 1) AS BIGINT)
        |   AS post
        | FROM pp),
        |red AS (
        | SELECT coalesce(sum(CAST(cp AS HUGEINT) * post),
        |   CAST(0 AS HUGEINT)) AS red FROM post),
        |rem AS (
        | SELECT w, sum(r) AS rem FROM (
        |  SELECT a AS w, CAST(cp AS HUGEINT) * post AS r FROM post
        |  UNION ALL
        |  SELECT b AS w, CAST(cp AS HUGEINT) * post AS r FROM post)
        | GROUP BY 1),
        |uniec AS (
        | SELECT w AS piece, 'unigram' AS kind, cu AS raw_count,
        |  greatest(CAST(cu AS HUGEINT) * 1000000000
        |   - coalesce(rem, CAST(0 AS HUGEINT)), CAST(0 AS HUGEINT))
        |   AS ec_fp
        | FROM uni LEFT JOIN rem USING (w)),
        |mec AS (
        | SELECT a || '_' || b AS piece, 'merge' AS kind,
        |  cp AS raw_count, CAST(cp AS HUGEINT) * post AS ec_fp
        | FROM post),
        |np AS (
        | SELECT CAST(n AS HUGEINT) * 1000000000 - red AS npfp
        | FROM nn CROSS JOIN red)
        |SELECT piece, kind, raw_count,
        | round(CAST(ec_fp AS DOUBLE) / 1000000000.0, 6)
        |  AS expected_count,
        | CAST(ec_fp * 1000000000
        |  // greatest(npfp, CAST(1 AS HUGEINT)) AS BIGINT) AS p_ppb
        |FROM (SELECT * FROM uniec UNION ALL SELECT * FROM mec)
        | CROSS JOIN np
        |ORDER BY p_ppb DESC, piece LIMIT 15""".stripMargin),
    Q("q_bpe_train", { (s, d) =>
      bpeTrain(s, Tables.documents(s, d), 10).orderBy("step")
    },
      bpeTrainSql(10)),
    // TOKENIZER FERTILITY AUDIT — bytes/chars/raw-words per BPE token,
    // PER SOURCE: the data-card column that decides tokenizer/corpus fit
    // (a source whose bytes-per-token runs hot against the corpus mean is
    // under-served by the trained merges — more compute per byte of
    // signal). Pairs q_data_card with the trained q_bpe_train artifact:
    // train once, encode once (the same collected-merges deploy path as
    // q_bpe_encode), then ONE source-cardinality aggregate over exact
    // long sums with a single final division — no per-doc ratios
    // averaged (ratio-of-sums, not sum-of-ratios, so the figure weighs
    // documents by their mass exactly like a training run would).
    Q("q_tokenizer_fertility", { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = bpeTrain(s, docs, 6).orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = bpeEncodeMapSide(docs, merges) // q_bpe_encode's rationale
      val meta = docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("chars"),
        expr("octet_length(text)").cast("long").as("bytes"))
      enc.join(meta, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe")).as("n_bpe_tokens"),
          round(sum(col("bytes")).cast("double") / sum(col("n_bpe")), 6)
            .as("bytes_per_token"),
          round(sum(col("chars")).cast("double") / sum(col("n_bpe")), 6)
            .as("chars_per_token"),
          round(sum(col("n_raw")).cast("double") / sum(col("n_bpe")), 6)
            .as("raw_per_bpe"))
        .orderBy("source")
    },
      fertilitySql(6)),
    Q("q_text_stats", { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          bpeTokenCount(col("text")).as("n_bpe_tokens"),
          round(stopwordRatio(col("text")), 6).as("stop_ratio"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(meanTokenLen(col("text")), 6).as("mean_tok_len"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, CAST($nTok AS INTEGER) AS n_tokens,
         | CAST(len(regexp_extract_all(text, '$bpeTokenPattern')) AS INTEGER) AS n_bpe_tokens,
         | round($stopRatio, 6) AS stop_ratio,
         | round($punctRatio, 6) AS punct_ratio,
         | round($meanTok, 6) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin),
    Q("q_text_quality", { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          round(qualityScore(col("text")), 2).as("quality"))
        .orderBy("doc_id")
    },
      s"SELECT doc_id, round($quality, 2) AS quality FROM documents ORDER BY doc_id"),
    // ISOTONIC CALIBRATION of a raw score against a labeled slice: the
    // English-stopword ratio (2dp spine, ~30 levels) calibrated to the
    // lang column's "is English" — the curation case where a cheap signal
    // becomes a probability. The natural rate curve trends up with real
    // dips (sampling noise at thin levels), so the gate exercises actual
    // pooling; the planted textbook case lives in Round9Spec. rate is the
    // raw per-level label rate; fitted is the PAVA repair (non-decreasing
    // by construction, equal to rate wherever already monotone).
    // Per-source distinctive vocabulary (top-5 Fightin' Words z-scores).
    // PAVA via the max-min closed form over prefix sums — block
    // averages are ratios of exact BIGINT sums, one double division
    Q("q_fightin_words", { (s, d) =>
      fightinWords(Tables.documents(s, d))
    },
      s"""WITH t AS (
         | SELECT source, unnest(${tokensSql("lower(text)")}) AS word
         | FROM documents WHERE source IS NOT NULL),
         |sw AS (SELECT source, word, count(*) AS y FROM t GROUP BY 1, 2),
         |wt AS (SELECT word, sum(y) AS yw FROM sw GROUP BY 1),
         |st AS (SELECT source, sum(y) AS ni FROM sw GROUP BY 1),
         |gl AS (SELECT count(*) AS v, sum(yw) AS nn FROM wt),
         |sc AS (
         | SELECT s.source, s.word, CAST(s.y AS BIGINT) AS cnt,
         |  (ln((CAST(s.y AS DOUBLE) + 0.5) /
         |      (CAST(st.ni AS DOUBLE) + 0.5 * CAST(g.v AS DOUBLE)
         |       - CAST(s.y AS DOUBLE) - 0.5))
         |   - ln((CAST(w.yw - s.y AS DOUBLE) + 0.5) /
         |      (CAST(g.nn - st.ni AS DOUBLE) + 0.5 * CAST(g.v AS DOUBLE)
         |       - CAST(w.yw - s.y AS DOUBLE) - 0.5)))
         |  / sqrt(1.0 / (CAST(s.y AS DOUBLE) + 0.5)
         |         + 1.0 / (CAST(w.yw - s.y AS DOUBLE) + 0.5)) AS z
         | FROM sw s JOIN wt w ON s.word = w.word
         |  JOIN st ON s.source = st.source, gl g),
         |rk AS (
         | SELECT source, word, cnt, z, row_number() OVER (
         |  PARTITION BY source ORDER BY z DESC, word) AS rn FROM sc)
         |SELECT source, word, cnt, round(z, 6) AS z FROM rk
         |WHERE rn <= 5 ORDER BY source, z DESC, word""".stripMargin),
    // Reliability diagram + ECE over the same score/label pair the
    // isotonic fit calibrates — the before-picture its repair targets.
    Q("q_calibration_bins", { (s, d) =>
      calibrationBins(
        Tables.documents(s, d).select(
          round(stopwordRatio(col("text")), 2).as("q"),
          (col("lang") === "en").cast("int").as("label")),
        "q", "label")
    },
      s"""WITH base AS (
         | SELECT round($stopRatio, 2) AS q,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
         | FROM documents),
         |per AS (
         | SELECT CAST(least(CAST(floor(q * 10) AS INTEGER), 9)
         |   AS INTEGER) AS bin,
         |  count(*) AS n, sum(CAST(q AS DECIMAL(18,2))) AS ss,
         |  sum(label) AS sy
         | FROM base GROUP BY 1),
         |tot AS (SELECT sum(n) AS nt FROM per),
         |g AS (
         | SELECT bin, CAST(n AS BIGINT) AS n,
         |  CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) AS ms,
         |  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS fp,
         |  CAST(n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS w
         | FROM per, tot t),
         |e AS (
         | SELECT CAST(sum(CAST(round(w * abs(fp - ms), 6)
         |  AS DECIMAL(18,6))) AS DOUBLE) AS ece FROM g)
         |SELECT bin, n, round(ms, 6) AS mean_score,
         | round(fp, 6) AS frac_pos, round(abs(fp - ms), 6) AS gap, ece
         |FROM g, e ORDER BY bin""".stripMargin),
    Q("q_isotonic_calibrate", { (s, d) =>
      isotonicCalibrate(
        Tables.documents(s, d).select(
          round(stopwordRatio(col("text")), 2).as("q"),
          (col("lang") === "en").cast("int").as("label")),
        "q", "label").orderBy("q")
    },
      s"""WITH base AS (
         | SELECT round($stopRatio, 2) AS x,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
         | FROM documents),
         |lv AS (SELECT x, CAST(count(*) AS BIGINT) AS w,
         |  CAST(sum(label) AS BIGINT) AS y FROM base GROUP BY 1),
         |pre AS (SELECT x, w, y,
         |  CAST(sum(w) OVER (ORDER BY x) AS BIGINT) AS cw,
         |  CAST(sum(y) OVER (ORDER BY x) AS BIGINT) AS cy FROM lv),
         |bjk AS (
         | SELECT a.x AS xj, b.x AS xk,
         |  CAST(b.cy - (a.cy - a.y) AS DOUBLE) /
         |   CAST(b.cw - (a.cw - a.w) AS DOUBLE) AS ajk
         | FROM pre a JOIN pre b ON a.x <= b.x),
         |mn AS (
         | SELECT i.x AS xi, p.xj, min(p.ajk) AS mnv
         | FROM bjk p JOIN lv i ON p.xj <= i.x AND p.xk >= i.x
         | GROUP BY 1, 2),
         |fit AS (SELECT xi, max(mnv) AS fitted FROM mn GROUP BY 1)
         |SELECT lv.x AS q, lv.w AS n,
         | round(CAST(lv.y AS DOUBLE) / lv.w, 6) AS rate,
         | round(f.fitted, 6) AS fitted
         |FROM lv JOIN fit f ON lv.x = f.xi
         |ORDER BY q""".stripMargin),
    // Parametric (logistic) calibration of the same score/label pair —
    // the smooth 2-parameter twin of the isotonic step fit.
    // logistic-calibration twin: same level frame, same shared σ /
    // gradient / Cramer-delta strings, 3 unrolled Newton CTEs
    Q("q_platt_scaling", { (s, d) =>
      plattScaling(
        Tables.documents(s, d).select(
          round(stopwordRatio(col("text")), 2).as("q"),
          (col("lang") === "en").cast("int").as("label")),
        "q", "label")
    }, {
      def stepSql(t: Int) =
        s"""ab$t AS (
           | SELECT a + $plattDa AS a, b + $plattDb AS b
           | FROM (
           |  SELECT a, b,
           |   CAST(sum($plattGa) AS DOUBLE) AS sga,
           |   CAST(sum($plattGb) AS DOUBLE) AS sgb,
           |   CAST(sum($plattHaa) AS DOUBLE) AS shaa,
           |   CAST(sum($plattHab) AS DOUBLE) AS shab,
           |   CAST(sum($plattHbb) AS DOUBLE) AS shbb
           |  FROM lv CROSS JOIN ab${t - 1} GROUP BY 1, 2))""".stripMargin
      s"""WITH base AS (
         | SELECT round($stopRatio, 2) AS q,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
         | FROM documents),
         |lv AS (
         | SELECT CAST(q AS DOUBLE) AS s, count(*) AS w,
         |  CAST(sum(label) AS BIGINT) AS y
         | FROM base GROUP BY 1),
         |ab0 AS (SELECT 0.0 AS a, 0.0 AS b),
         |${(1 to 3).map(stepSql).mkString(",\n")}
         |SELECT CAST(sum(w) AS BIGINT) AS n, count(*) AS n_levels,
         | round(any_value(a), 6) AS platt_a,
         | round(any_value(b), 6) AS platt_b,
         | round(-CAST(sum(CAST(round(y * ln($plattP)
         |    + (w - y) * ln(1.0 - $plattP), 6) AS DECIMAL(28,6)))
         |   AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS log_loss
         |FROM lv CROSS JOIN ab3""".stripMargin
    }),
    // Murphy decomposition of the same forecast/label pair: how much of
    // the Brier score recalibration can fix (REL) vs never will (UNC).
    // same 10-bin frame, exact 4dp (s−y)² fold, 6dp REL/RES terms
    Q("q_brier_decomp", { (s, d) =>
      brierDecomposition(
        Tables.documents(s, d).select(
          round(stopwordRatio(col("text")), 2).as("q"),
          (col("lang") === "en").cast("int").as("label")),
        "q", "label")
    },
      s"""WITH base AS (
         | SELECT round($stopRatio, 2) AS q,
         |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         | FROM documents),
         |per AS (
         | SELECT CAST(least(CAST(floor(q * 10) AS INTEGER), 9)
         |   AS INTEGER) AS bin,
         |  count(*) AS n, sum(CAST(q AS DECIMAL(18,2))) AS ss,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  sum(CAST((CAST(q AS DECIMAL(18,2)) - y)
         |    * (CAST(q AS DECIMAL(18,2)) - y) AS DECIMAL(28,4))) AS sqs
         | FROM base GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
         |        CAST(sum(sy) AS BIGINT) AS syt FROM per),
         |terms AS (
         | SELECT per.n, per.sqs, t.nt, t.syt,
         |  CAST(round(CAST(per.n AS DOUBLE)
         |   * ((CAST(ss AS DOUBLE) / CAST(per.n AS DOUBLE)
         |       - CAST(sy AS DOUBLE) / CAST(per.n AS DOUBLE))
         |     * (CAST(ss AS DOUBLE) / CAST(per.n AS DOUBLE)
         |       - CAST(sy AS DOUBLE) / CAST(per.n AS DOUBLE))), 6)
         |   AS DECIMAL(28,6)) AS rel_t,
         |  CAST(round(CAST(per.n AS DOUBLE)
         |   * ((CAST(sy AS DOUBLE) / CAST(per.n AS DOUBLE)
         |       - CAST(t.syt AS DOUBLE) / CAST(t.nt AS DOUBLE))
         |     * (CAST(sy AS DOUBLE) / CAST(per.n AS DOUBLE)
         |       - CAST(t.syt AS DOUBLE) / CAST(t.nt AS DOUBLE))), 6)
         |   AS DECIMAL(28,6)) AS res_t
         | FROM per, tot t),
         |agg AS (
         | SELECT nt, syt, count(*) AS n_bins, sum(sqs) AS sqs,
         |  CAST(sum(rel_t) AS DOUBLE) AS rel,
         |  CAST(sum(res_t) AS DOUBLE) AS res
         | FROM terms GROUP BY 1, 2)
         |SELECT nt AS n, n_bins,
         | round(CAST(sqs AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS brier,
         | round(rel / CAST(nt AS DOUBLE), 6) AS reliability,
         | round(res / CAST(nt AS DOUBLE), 6) AS resolution,
         | round(CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
         |  * (1.0 - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)), 6)
         |  AS uncertainty,
         | round(CAST(sqs AS DOUBLE) / CAST(nt AS DOUBLE)
         |  - (rel / CAST(nt AS DOUBLE) - res / CAST(nt AS DOUBLE)
         |     + CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
         |       * (1.0 - CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE))), 6)
         |  AS decomp_gap
         |FROM agg""".stripMargin),
    // QUALITY-THRESHOLD SWEEP — the knob-tuning table behind every
    // quality filter: at each candidate threshold, the docs and tokens
    // that survive (as counts and ppm). One corpus scan collapses to the
    // score-histogram frame (≤ ~12 distinct weighted-sum scores);
    // everything after — the threshold explode, cumulative keeps, totals
    // — runs on that dictionary-class frame. Choosing a cut means
    // trading corpus mass for quality; this emits the whole trade-off,
    // not one point.
    Q("q_quality_sweep", { (s, d) =>
      val thr = Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0)
      val g = Tables.documents(s, d)
        .select(round(qualityScore(col("text")), 2).as("q"),
          tokenCount(col("text")).cast("long").as("tok"))
        .groupBy("q")
        .agg(count(lit(1)).as("nd"), sum(col("tok")).as("nt"))
      val tot = g.agg(sum(col("nd")).as("td"), sum(col("nt")).as("tt"))
      val sweep = g
        .select(explode(array(thr.map(lit): _*)).as("threshold"),
          col("q"), col("nd"), col("nt"))
        .filter(col("q") >= col("threshold"))
        .groupBy("threshold")
        .agg(sum(col("nd")).as("docs_kept"), sum(col("nt")).as("tokens_kept"))
      tot.select(explode(array(thr.map(lit): _*)).as("threshold"),
          col("td"), col("tt"))
        .join(sweep, Seq("threshold"), "left")
        .na.fill(0L, Seq("docs_kept", "tokens_kept"))
        .select(col("threshold"), col("docs_kept"), col("tokens_kept"),
          expr("docs_kept * 1000000 div td").as("docs_ppm"),
          expr("tokens_kept * 1000000 div tt").as("tokens_ppm"))
        .orderBy("threshold")
    },
      s"""WITH sc AS (
         | SELECT round($quality, 2) AS q,
         |  CAST(len(${tokensSql("text")}) AS BIGINT) AS tok
         | FROM documents),
         |g AS (
         | SELECT q, CAST(count(*) AS BIGINT) AS nd,
         |  CAST(sum(tok) AS BIGINT) AS nt
         | FROM sc GROUP BY 1),
         |t AS (SELECT CAST(sum(nd) AS BIGINT) AS td,
         |      CAST(sum(nt) AS BIGINT) AS tt FROM g),
         |s AS (SELECT unnest([0.0, 0.2, 0.4, 0.6, 0.8, 1.0]) AS threshold),
         |k AS (
         | SELECT s.threshold,
         |  CAST(COALESCE(sum(g.nd), 0) AS BIGINT) AS docs_kept,
         |  CAST(COALESCE(sum(g.nt), 0) AS BIGINT) AS tokens_kept
         | FROM s LEFT JOIN g ON g.q >= s.threshold GROUP BY 1)
         |SELECT threshold, docs_kept, tokens_kept,
         | docs_kept * 1000000 // td AS docs_ppm,
         | tokens_kept * 1000000 // tt AS tokens_ppm
         |FROM k, t ORDER BY threshold""".stripMargin),
    Q("q_text_langid", { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, lang,
         | CASE WHEN $maxScore = 0 THEN 'und' $langCase END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin),
    Q("q_text_fingerprint", { (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Corpus vocabulary: explode tokens → count → top 20 (the wordcount
    // pattern: Generate → map-side partial agg → one shuffle of partial
    // (token, count) pairs, never raw token rows).
    Q("q_vocab_topk", { (s, d) =>
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("token"))
        .limit(20)
    },
      s"""SELECT token, count(*) AS freq
         |FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents)
         |GROUP BY 1 ORDER BY freq DESC, token LIMIT 20""".stripMargin),
    // BPE-STYLE REGEX PRE-TOKENIZER COUNT — the GPT-2 pre-tokenization
    // pattern (Radford et al. 2019; contractions, space-prefixed
    // letter/digit/punct runs, whitespace runs) counted per source
    // beside the whitespace count — the two token-counting conventions
    // every budget/packing decision needs reconciled (a "512-token"
    // budget means different bytes under each). Pattern restricted to
    // constructs with IDENTICAL semantics in Java regex (Spark) and RE2
    // (DuckDB): no lookaround, no backreferences; both engines resolve
    // alternation leftmost-first. Pure map + source-cardinality
    // aggregate; exact integer ratio ppm.
    Q("q_pretokenizer", { (s, d) =>
      val pat = "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+|" +
        " ?[^\\s\\p{L}\\p{N}]+|\\s+"
      // the synthetic corpus is pure space-separated words, where the
      // two conventions agree by construction — plant contraction /
      // digit / punctuation text on the first 20 docs (the q_pii_audit
      // planting idiom) so the divergence path is exercised
      val planted = when(col("doc_id") < 20,
        concat(col("text"), lit(" it's v2.0-ready, isn't it?!")))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("source"),
          tokenCount(planted).cast("long").as("ws"),
          size(regexp_extract_all(planted, lit(pat), lit(0)))
            .cast("long").as("pre"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("pre")).as("pre_tokens"))
        .withColumn("pre_per_ws_ppm",
          expr("pre_tokens * 1000000 div ws_tokens"))
        .orderBy("source")
    },
      s"""WITH p AS (
         | SELECT source,
         |  CASE WHEN doc_id < 20
         |   THEN text || ' it''s v2.0-ready, isn''t it?!' ELSE text END
         |  AS text
         | FROM documents),
         |d AS (
         | SELECT source, len(${tokensSql("text")}) AS ws,
         |  len(regexp_extract_all(text,
         |   '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
         |  AS pre
         | FROM p)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(ws) AS BIGINT) AS ws_tokens,
         | CAST(sum(pre) AS BIGINT) AS pre_tokens,
         | CAST(sum(pre) AS BIGINT) * 1000000 // CAST(sum(ws) AS BIGINT)
         |  AS pre_per_ws_ppm
         |FROM d GROUP BY source ORDER BY source""".stripMargin),

    // VOCAB COVERAGE / OOV-RATE audit — the tokenizer-fit companion to
    // q_tokenizer_fertility: fix the vocabulary at the corpus's top-V
    // tokens (V=500, ties broken token-ascending) and report each
    // source's out-of-vocabulary token ppm — the source whose oov_ppm
    // runs hot is the one the tokenizer under-serves. The top-V selection
    // runs on the native TopKPerKey exec over the token-count frame
    // (map-side k-bounded heaps under a constant key — no vocab-sized
    // sort, no unpartitioned window; a web-scale vocabulary never fits a
    // single window task). The vocab then broadcasts into one anti-join-
    // shaped counting pass (left join + null check, map-side combined).
    Q("q_oov_rate", { (s, d) =>
      // V=20 against this corpus's 31-token vocabulary so the OOV path is
      // non-vacuous (V=32k against a real corpus; the knob, not the shape)
      val v = 20
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .persistTracked()
      val counts = tok.groupBy("token").agg(count(lit(1)).as("freq"))
      val vocab = graft.plans.TopKPerKey.topKPerKey(
          counts.withColumn("g", lit(1)), keys = Seq("g"),
          order = Seq(("freq", false), ("token", true)), k = v)
        .select(col("token"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          coalesce(sum(when(col("in_vocab").isNull, 1L)), lit(0L))
            .as("oov_tokens"))
        .select(col("source"), col("n_tokens"), col("oov_tokens"),
          expr("oov_tokens * 1000000 div n_tokens").as("oov_ppm"))
        .orderBy("source")
    },
      s"""WITH tok AS (
         | SELECT source, unnest(${tokensSql("text")}) AS token
         | FROM documents),
         |counts AS (SELECT token, count(*) AS freq FROM tok GROUP BY 1),
         |vocab AS (SELECT token FROM counts
         |          ORDER BY freq DESC, token LIMIT 20)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
         | CAST(COALESCE(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END),
         |  0) AS BIGINT) AS oov_tokens,
         | COALESCE(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |  AS BIGINT), 0) * 1000000 // count(*) AS oov_ppm
         |FROM tok LEFT JOIN vocab v USING (token)
         |GROUP BY source ORDER BY source""".stripMargin),
    // VOCAB COVERAGE CURVE — q_oov_rate's design-side sibling: instead
    // of auditing one fixed V, report what fraction of the corpus token
    // MASS the top-c vocabulary covers at each candidate cutoff c (the
    // curve a tokenizer designer reads to pick V in the first place).
    // Cutoffs {5, 10, 20} against this corpus's 31-token vocabulary
    // (32k/64k/128k against a real one — the knob, not the shape).
    // Scale posture: token counts collapse map-side to a vocab-sized
    // frame; the top-maxCutoff slice runs on the native TopKPerKey exec
    // (k-bounded heaps, no vocab-wide sort/window); ranking then happens
    // on that ≤20-row frame only, and the corpus total joins in as a
    // broadcast scalar. Integer ppm end-to-end — hash-stable.
    Q("q_vocab_coverage", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val cutoffs = Seq(5, 10, 20)
      val counts = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .persistTracked()
      val tot = counts.agg(sum(col("freq")).as("total"))
      val top = graft.plans.TopKPerKey.topKPerKey(
          counts.withColumn("g", lit(1)), keys = Seq("g"),
          order = Seq(("freq", false), ("token", true)), k = cutoffs.max)
        // rank within the ≤ maxCutoff-row slice — bounded by construction
        .withColumn("rn", row_number().over(Window.partitionBy("g")
          .orderBy(desc("freq"), asc("token"))))
      top.select(col("freq"), col("rn"),
          explode(array(cutoffs.map(lit): _*)).as("cutoff"))
        .filter(col("rn") <= col("cutoff"))
        .groupBy("cutoff")
        .agg(count(lit(1)).as("vocab_tokens"),
          sum(col("freq")).as("covered"))
        .crossJoin(broadcast(tot))
        .select(col("cutoff"), col("vocab_tokens"),
          col("covered"), expr("covered * 1000000 div total").as("mass_ppm"))
        .orderBy("cutoff")
    },
      s"""WITH c AS (
         | SELECT token, count(*) AS freq
         | FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents)
         | GROUP BY 1),
         |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM c),
         |r AS (SELECT token, freq,
         |  row_number() OVER (ORDER BY freq DESC, token) AS rn
         | FROM c QUALIFY rn <= 20),
         |k AS (SELECT CAST(unnest([5, 10, 20]) AS INTEGER) AS cutoff)
         |SELECT cutoff, count(*) AS vocab_tokens,
         | CAST(sum(freq) AS BIGINT) AS covered,
         | CAST(sum(freq) AS BIGINT) * 1000000
         |  // (SELECT total FROM t) AS mass_ppm
         |FROM r JOIN k ON r.rn <= k.cutoff
         |GROUP BY cutoff ORDER BY cutoff""".stripMargin),

    // TF-IDF term relevance over the corpus: summed tf-idf per term
    // collapses to total_tf(term) × idf(term), so after the per-doc tf
    // aggregate everything is term-cardinality-sized — two map-side-
    // combined shuffles regardless of corpus size, and the doc count
    // joins in as a broadcast scalar. Smooth idf = ln((N+1)/(df+1)) + 1
    // (the standard sklearn-style smoothing, public knowledge); score
    // rounded to 6 dp so the cross-engine ln() agrees bit-for-bit, and
    // ranked (score desc, term asc) for a deterministic top-20.
    Q("q_tfidf_topk", { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.groupBy("term")
        .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
        .crossJoin(broadcast(nDocs))
        .withColumn("idf",
          log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1)
        .select(col("term"), col("df"),
          round(col("total_tf") * col("idf"), 6).as("score"))
        .orderBy(desc("score"), col("term"))
        .limit(20)
    },
      s"""WITH tok AS (SELECT doc_id, unnest(${tokensSql("lower(text)")}) AS term
         |             FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |d AS (SELECT term, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT term, df,
         | round(total_tf * (ln((n_docs + 1.0) / (df + 1)) + 1), 6) AS score
         |FROM d, n
         |ORDER BY score DESC, term LIMIT 20""".stripMargin),
    // PMI-ranked collocations — "which word pairs stick together beyond
    // chance" (Church & Hanks 1990): PMI(w1,w2) = log2(p(w1,w2) /
    // (p(w1)·p(w2))), bigram p from adjacent-pair counts, unigram p from
    // the full token stream. Pair construction is the q_bpe_pairs
    // map-side generator; both count frames collapse map-side to
    // vocabulary size before any join, so the unigram attach is a
    // vocabulary-sized broadcast and the totals ride in as scalar
    // broadcasts no matter the corpus size. Min support 3 kills the
    // noise floor (PMI is max for hapax pairs); (pmi desc, w1, w2) is a
    // total order so the top-20 is deterministic.
    // SKIP-GRAM CO-OCCURRENCE PMI (window ≤ 3) — q_pmi_topk scores
    // ADJACENT pairs (collocations); this is the word-embedding input
    // shape (Mikolov et al. 2013's context window): unordered token
    // pairs within distance 1..3, counted once per occurrence. Pair
    // generation is map-side (per-position inner transform over the
    // three offsets, nulls filtered — no self-join, no positions
    // table); counts collapse to vocabulary²-bounded frames before the
    // unigram broadcast joins, exactly the q_pmi_topk posture. The
    // unordered (least, greatest) normalization halves the key space
    // and matches the symmetric-window convention.
    Q("q_cooccur_pmi", { (s, d) => cooccurPmi(Tables.documents(s, d)) },
      s"""WITH toks AS (SELECT ${tokensSql("lower(text)")} AS t FROM documents),
         |u AS (SELECT w, count(*) AS cu
         |      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         |nu AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM u),
         |pc AS (
         | SELECT least(t[i], t[i + k]) AS w1,
         |  greatest(t[i], t[i + k]) AS w2, count(*) AS cb
         | FROM toks
         |  CROSS JOIN unnest(range(1, len(t) + 1)) AS r(i)
         |  CROSS JOIN range(1, 4) kk(k)
         | WHERE len(t) >= 2 AND i + k <= len(t)
         | GROUP BY 1, 2),
         |np AS (SELECT CAST(sum(cb) AS BIGINT) AS np FROM pc)
         |SELECT w1, w2, cb,
         | round(log2((CAST(cb AS DOUBLE) / CAST(np AS DOUBLE))
         |   / ((CAST(u1.cu AS DOUBLE) / CAST(nu AS DOUBLE))
         |      * (CAST(u2.cu AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
         |FROM pc JOIN u u1 ON pc.w1 = u1.w JOIN u u2 ON pc.w2 = u2.w, nu, np
         |WHERE cb >= 3
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),
    // RAKE corpus keywords: stopword-delimited phrases, deg/freq word
    // scores, top-15 phrases (map-side segmentation, bounded joins).
    Q("q_rake_keywords", { (s, d) => rakeKeywords(Tables.documents(s, d)) }, {
      val stopList = enStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH toks AS (
         | SELECT doc_id, ${tokensSql("lower(text)")} AS t FROM documents),
         |pos AS (
         | SELECT doc_id, CAST(i AS BIGINT) AS i, t[i] AS w
         | FROM toks CROSS JOIN unnest(range(1, len(t) + 1)) AS r(i)),
         |ns AS (SELECT doc_id, i, w FROM pos WHERE w NOT IN ($stopList)),
         |isl AS (
         | SELECT doc_id, i, w,
         |  i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
         | FROM ns),
         |isl2 AS (
         | SELECT doc_id, i, w, grp,
         |  count(*) OVER (PARTITION BY doc_id, grp) AS len
         | FROM isl),
         |ph AS (
         | SELECT doc_id, grp, string_agg(w, ' ' ORDER BY i) AS phrase
         | FROM isl2 GROUP BY 1, 2),
         |wsc AS (
         | SELECT w, CAST(round(CAST(sum(len) AS DOUBLE) / count(*), 6)
         |   AS DECIMAL(18,6)) AS wscore
         | FROM isl2 GROUP BY 1),
         |pc AS (SELECT phrase, count(*) AS cnt FROM ph GROUP BY 1),
         |psc AS (
         | SELECT phrase, cnt, CAST(sum(wscore) AS DOUBLE) AS score
         | FROM (SELECT phrase, cnt, unnest(string_split(phrase, ' ')) AS w
         |       FROM pc) x
         |  JOIN wsc USING (w)
         | GROUP BY 1, 2)
         |SELECT phrase, cnt, round(score, 6) AS score
         |FROM psc ORDER BY score DESC, phrase LIMIT 15""".stripMargin
    }),
    // Good-Turing unseen-type mass + hapax smoothing kernel.
    Q("q_good_turing", { (s, d) => goodTuring(Tables.documents(s, d)) },
      s"""WITH fof AS (
         | SELECT f, count(*) AS nf FROM (
         |  SELECT w, count(*) AS f FROM (
         |   SELECT unnest(${tokensSql("lower(text)")}) AS w FROM documents)
         |  GROUP BY 1)
         | GROUP BY 1),
         |a AS (
         | SELECT CAST(sum(f * nf) AS BIGINT) AS n_tokens,
         |  CAST(sum(nf) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN f = 1 THEN nf ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN f = 2 THEN nf ELSE 0 END) AS BIGINT) AS n2
         | FROM fof)
         |SELECT n_tokens, vocab, n1, n2,
         | round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |  AS p_unseen,
         | round(CAST(n1 AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
         |  AS hapax_share,
         | CASE WHEN n1 > 0
         |  THEN round(CAST(2.0 AS DOUBLE) * n2 / n1, 6) END AS r1_star
         |FROM a""".stripMargin),
    // Per-class P/R/F1 + macro-F1/accuracy of the langid heuristic.
    Q("q_macro_f1", { (s, d) => macroF1(Tables.documents(s, d)) }, {
      val p = "CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred ELSE CAST(0.0 AS DOUBLE) END"
      val r = "CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true ELSE CAST(0.0 AS DOUBLE) END"
      s"""WITH preds AS (
         | SELECT lang AS truth,
         |  CASE WHEN $maxScore = 0 THEN 'und' $langCase END AS pred
         | FROM documents WHERE lang IS NOT NULL),
         |cm AS (SELECT truth, pred, count(*) AS n FROM preds GROUP BY 1, 2),
         |classes AS (
         | SELECT truth AS cls FROM cm UNION SELECT pred FROM cm),
         |bt AS (
         | SELECT truth AS cls, CAST(sum(n) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN pred = truth THEN n ELSE 0 END) AS BIGINT)
         |   AS tp
         | FROM cm GROUP BY 1),
         |bp AS (
         | SELECT pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred
         | FROM cm GROUP BY 1),
         |st AS (
         | SELECT cls, coalesce(n_true, 0) AS n_true, coalesce(tp, 0) AS tp,
         |  coalesce(n_pred, 0) AS n_pred
         | FROM classes LEFT JOIN bt USING (cls) LEFT JOIN bp USING (cls)),
         |wf AS (
         | SELECT cls, n_true, tp, n_pred - tp AS fp, n_true - tp AS fn,
         |  round($p, 6) AS precision, round($r, 6) AS recall,
         |  CAST(round(CASE WHEN ($p) + ($r) > 0
         |    THEN CAST(2.0 AS DOUBLE) * ($p) * ($r) / (($p) + ($r))
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS DECIMAL(18,6)) AS f1d
         | FROM st),
         |tot AS (
         | SELECT round(CAST(sum(f1d) AS DOUBLE) / count(*), 6) AS macro_f1,
         |  round(CAST(sum(tp) AS DOUBLE) / CAST(sum(n_true) AS DOUBLE), 6)
         |   AS accuracy
         | FROM wf)
         |SELECT cls, n_true, tp, fp, fn, precision, recall,
         | CAST(f1d AS DOUBLE) AS f1, macro_f1, accuracy
         |FROM wf CROSS JOIN tot ORDER BY cls""".stripMargin
    }),
    // distinct-n diversity ratios for n = 1..4 (cross-doc repetition).
    Q("q_rep_ngrams", { (s, d) => repNgrams(Tables.documents(s, d)) },
      s"""WITH toks AS (
         | SELECT ${tokensSql("lower(text)")} AS t FROM documents),
         |g AS (
         | SELECT CAST(nn.n AS BIGINT) AS n_order,
         |  array_to_string(list_slice(t, i, i + nn.n - 1), ' ') AS g
         | FROM toks
         |  CROSS JOIN unnest(range(1, len(t) + 1)) AS r(i)
         |  CROSS JOIN range(1, 5) nn(n)
         | WHERE len(t) >= 1 AND i + nn.n - 1 <= len(t)),
         |pc AS (SELECT n_order, g, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT n_order, CAST(sum(c) AS BIGINT) AS total_ngrams,
         | count(*) AS distinct_ngrams,
         | round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
         |  AS distinct_ratio,
         | CAST(max(c) AS BIGINT) AS top_count
         |FROM pc GROUP BY 1 ORDER BY n_order""".stripMargin),
    Q("q_pmi_topk", { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("toks"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
      val nu = uni.agg(sum(col("cu")).as("nu"))
      val bc = toks.filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cb"))
      val nb = bc.agg(sum(col("cb")).as("nb"))
      // tokens contain no whitespace by construction, so the pair key
      // splits back unambiguously — and only vocabulary-sized frames
      // ever carry the split columns.
      val pmi = log2((col("cb").cast("double") / col("nb").cast("double")) /
        ((col("c1").cast("double") / col("nu").cast("double")) *
          (col("c2").cast("double") / col("nu").cast("double"))))
      bc.filter(col("cb") >= 3)
        .withColumn("w1", split(col("pair"), " ").getItem(0))
        .withColumn("w2", split(col("pair"), " ").getItem(1))
        .join(broadcast(uni.select(col("w").as("w1"), col("cu").as("c1"))), Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("cu").as("c2"))), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("cb"), round(pmi, 6).as("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2"))
        .limit(20)
    },
      s"""WITH toks AS (SELECT ${tokensSql("lower(text)")} AS t FROM documents),
         |u AS (SELECT w, count(*) AS cu
         |      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         |nu AS (SELECT CAST(sum(cu) AS BIGINT) AS nu FROM u),
         |bc AS (SELECT w1, w2, count(*) AS cb FROM (
         |        SELECT unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
         |               unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
         |        FROM toks WHERE len(t) >= 2) GROUP BY 1, 2),
         |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM bc)
         |SELECT w1, w2, cb,
         | round(log2((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
         |   / ((CAST(u1.cu AS DOUBLE) / CAST(nu AS DOUBLE))
         |      * (CAST(u2.cu AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
         |FROM bc JOIN u u1 ON bc.w1 = u1.w JOIN u u2 ON bc.w2 = u2.w, nu, nb
         |WHERE cb >= 3
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),
    // BPE-style adjacent-pair statistics — the inner loop of tokenizer
    // training (Sennrich et al. 2016 "Neural Machine Translation of Rare
    // Words with Subword Units"): the most frequent adjacent token pair is
    // the next merge candidate. Pair construction is a pure map-side
    // generator over materialized token arrays (no self-join — a join of
    // token rows on (doc_id, pos+1) shuffles the whole exploded corpus
    // twice; `transform` over indices shuffles only the partial
    // (pair, count) aggregates). Deterministic top-20 via (freq desc,
    // pair asc).
    Q("q_bpe_pairs", { (s, d) =>
      Tables.documents(s, d)
        .select(tokens(lower(col("text"))).as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + 1)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), col("pair"))
        .limit(20)
    },
      s"""WITH t AS (SELECT ${tokensSql("lower(text)")} AS toks FROM documents),
         |p AS (SELECT toks[CAST(r.i AS INTEGER)] || ' ' ||
         |        toks[CAST(r.i AS INTEGER) + 1] AS pair
         |      FROM t, unnest(range(1, len(toks))) AS r(i)
         |      WHERE len(toks) >= 2)
         |SELECT pair, count(*) AS freq
         |FROM p GROUP BY 1 ORDER BY freq DESC, pair LIMIT 20""".stripMargin),
    // Document chunking: overlapping token windows (size 50, stride 40) —
    // the training/RAG preprocessing shape. Map-side: materialized tokens,
    // one generator (posexplode) per doc, no shuffle until a consumer
    // aggregates. Chunk ids are (doc_id, chunk_idx), deterministic.
    Q("q_text_chunk", { (s, d) =>
      val C = 50; val stride = 40
      Tables.documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          sequence(lit(1), greatest(size(col("toks")) - (C - stride), lit(1)),
            lit(stride)).as("starts"))
        .select(col("doc_id"),
          posexplode(transform(col("starts"),
            st => concat_ws(" ", slice(col("toks"), st, lit(C))))).as(Seq("chunk_idx", "chunk")))
        .withColumn("n_chunk_tokens", tokenCount(col("chunk")))
        .orderBy("doc_id", "chunk_idx")
    },
      s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
         |st AS (SELECT doc_id, toks,
         |        range(1, greatest(len(toks) - 10, 1) + 1, 40) AS starts FROM t),
         |c AS (SELECT doc_id, s.i AS start_pos, toks FROM st
         |      CROSS JOIN unnest(starts) AS s(i))
         |SELECT doc_id,
         | CAST((start_pos - 1) / 40 AS INTEGER) AS chunk_idx,
         | array_to_string(list_slice(toks, start_pos, start_pos + 49), ' ') AS chunk,
         | CAST(len(list_slice(toks, start_pos, start_pos + 49)) AS INTEGER) AS n_chunk_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // Repetition ratio: most-frequent-token share of the document (a
    // boilerplate/spam signal for quality filtering). One explode +
    // two bounded aggregations.
    Q("q_text_repetition", { (s, d) =>
      val docs = Tables.documents(s, d)
      val tokenFreq = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max(col("cnt")).as("top_cnt"))
      docs.select(col("doc_id"), tokenCount(col("text")).as("n"))
        .join(tokenFreq, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("n") === 0, 0.0)
            .otherwise(col("top_cnt").cast("double") / col("n").cast("double"))
            .as("rep_ratio"))
        .orderBy("doc_id")
    },
      s"""WITH tf AS (
         | SELECT doc_id, max(cnt) AS top_cnt FROM (
         |  SELECT doc_id, token, count(*) AS cnt
         |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM documents)
         |  GROUP BY doc_id, token)
         | GROUP BY doc_id)
         |SELECT d.doc_id,
         | CASE WHEN len(${tokensSql("text")}) = 0 THEN 0.0
         |  ELSE CAST(top_cnt AS DOUBLE) / CAST(len(${tokensSql("text")}) AS DOUBLE) END AS rep_ratio
         |FROM documents d LEFT JOIN tf ON d.doc_id = tf.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // TOP-BIGRAM SHARE (Gopher repetition filter, Rae et al. 2021 §A1.1:
    // "fraction of tokens in the most common n-gram"): q_text_repetition's
    // unigram screen misses looping generations that alternate two tokens
    // ("the cat the cat …" has rep_ratio 0.5 but bigram share ~1.0).
    // Bigrams are built map-side in ONE codegen'd projection
    // (sequence+transform over the token array — no self-join, no
    // window); the only shuffle is the (doc_id, bigram) count, and every
    // per-doc frame is doc-length-bounded. The size≥2 guard matters:
    // Spark's sequence(0, -1) generates DESCENDING, so an unguarded
    // empty doc would fabricate a phantom bigram.
    Q("q_top_bigram", { (s, d) =>
      val docs = Tables.documents(s, d)
      val bg = docs.select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
          .as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(max(col("cnt")).as("top_cnt"),
          sum(col("cnt")).as("n_bigrams"))
      docs.select("doc_id").join(bg, Seq("doc_id"), "left")
        .na.fill(0L, Seq("top_cnt", "n_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
          when(col("n_bigrams") === 0, 0.0)
            .otherwise(round(col("top_cnt").cast("double") /
              col("n_bigrams").cast("double"), 6)).as("rep2_ratio"))
        .orderBy("doc_id")
    },
      s"""WITH bg AS (
         | SELECT doc_id, unnest(list_transform(
         |   range(1, len(${tokensSql("text")})),
         |   i -> ${tokensSql("text")}[i] || ' ' || ${tokensSql("text")}[i + 1]))
         |  AS bg
         | FROM documents WHERE len(${tokensSql("text")}) >= 2),
         |c AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
         |t AS (SELECT doc_id, max(cnt) AS top_cnt,
         |       CAST(sum(cnt) AS BIGINT) AS n_bigrams FROM c GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
         | COALESCE(top_cnt, 0) AS top_cnt,
         | CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
         |  ELSE round(CAST(top_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         |  END AS rep2_ratio
         |FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    // Stratified deterministic sampling: ~40% of docs per language stratum
    // via the md5 bucket (reproducible across engines/partitionings,
    // unlike df.sample whose output depends on partition layout).
    Q("q_stratified_sample", { (s, d) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      Tables.documents(s, d)
        .filter(bucket < 40)
        .groupBy("lang").agg(count(lit(1)).as("sampled"))
        .orderBy("lang")
    },
      """SELECT lang, count(*) AS sampled FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 40
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Percentile-threshold quality filtering: drop the bottom decile by
    // mean-token-length. The threshold comes from the DISTRIBUTED exact
    // percentile (value-count shuffle + interpolation — nothing buffers
    // all values; Analytics.exactPercentiles) and is broadcast back as a
    // scalar filter.
    Q("q_quality_filter", { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), round(meanTokenLen(col("text")), 6).as("mtl"))
      val p10 = Analytics.exactPercentiles(docs, "mtl", Seq("thr" -> 0.1))
      docs.crossJoin(broadcast(p10))
        .filter(col("mtl") >= col("thr"))
        .agg(count(lit(1)).as("kept"),
          round(min(col("mtl")), 6).as("min_kept_mtl"))
    },
      s"""WITH m AS (SELECT doc_id, round($meanTok, 6) AS mtl FROM documents),
         |t AS (SELECT quantile_cont(mtl, 0.1) AS thr FROM m)
         |SELECT count(*) AS kept, round(min(mtl), 6) AS min_kept_mtl
         |FROM m, t WHERE mtl >= thr""".stripMargin),
    // DISPARATE-IMPACT AUDIT of the quality filter — the four-fifths
    // rule (EEOC 1978; Feldman et al. 2015 brought it to ML pipelines):
    // per language group, the bottom-decile mean-token-length filter's
    // keep rate must be ≥ 80% of the most-favored group's, or the
    // filter is flagged as disparately excluding that language from the
    // corpus. The fairness pre-flight a multilingual curation run needs
    // BEFORE shipping a filter tuned on one language's statistics.
    // Exactness: rates as integer ppm; the 4/5ths test is the exact
    // integer cross-multiply rate·5 < max_rate·4 (no float compare);
    // only the reported di_ratio is a rounded double. Scale: one
    // broadcast threshold, one lang-cardinality aggregate, one
    // broadcast max — no joins beyond scalars.
    Q("q_disparate_impact", { (s, d) =>
      val docs = Tables.documents(s, d)
        .select(col("lang"), round(meanTokenLen(col("text")), 6).as("mtl"))
      val thr = Analytics.exactPercentiles(docs, "mtl", Seq("thr" -> 0.1))
      disparateImpact(
        docs.crossJoin(broadcast(thr))
          .select(col("lang"), (col("mtl") >= col("thr")).as("keep")),
        "lang", "keep")
    },
      s"""WITH m AS (SELECT lang, round($meanTok, 6) AS mtl FROM documents),
         |t AS (SELECT quantile_cont(mtl, 0.1) AS thr FROM m),
         |p AS (
         | SELECT lang, count(*) AS n,
         |  CAST(sum(CASE WHEN mtl >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         | FROM m, t GROUP BY 1),
         |r AS (SELECT lang, n, n_kept,
         |       n_kept * 1000000 // n AS rate_ppm FROM p),
         |x AS (SELECT max(rate_ppm) AS max_ppm FROM r)
         |SELECT lang, n, n_kept, rate_ppm,
         | round(CAST(rate_ppm AS DOUBLE) / CAST(max_ppm AS DOUBLE), 6)
         |  AS di_ratio,
         | rate_ppm * 5 < max_ppm * 4 AS violates_45
         |FROM r, x ORDER BY lang""".stripMargin),

    // SORT-FREE decile report: bucket every doc by quality score WITHOUT
    // a global ntile sort — the 9 exact decile thresholds come from the
    // distributed percentile and broadcast back; assignment is a pure
    // map-side when-chain. ntile(10) over all docs is a single-task
    // total sort at 100 TB; this is two bounded passes + a map.
    // CURRICULUM INTERLEAVE — deterministic data ordering for training:
    // bucket docs into quality deciles (the sort-free threshold
    // technique below), rank within each decile (PARTITIONED window —
    // never a global row_number over the corpus), and emit the
    // round-robin order (rank, decile): position k of the curriculum
    // takes the k-th example of each decile in turn, so every training
    // window sees the full difficulty mix while within-decile order
    // stays stable under appends. Top-20 via TakeOrdered, no global
    // sort materialization.
    Q("q_curriculum", { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("double").as("score"))
      val thr = Analytics.exactPercentiles(scored, "score",
        (1 to 9).map(i => s"t$i" -> i / 10.0))
      val bucketed = scored.crossJoin(broadcast(thr))
        .withColumn("decile", lit(1) +
          (1 to 9).map(i => when(col("score") > col(s"t$i"), 1).otherwise(0))
            .reduce(_ + _))
      bucketed
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("decile")
            .orderBy(col("score"), col("doc_id"))))
        .select(col("doc_id"), col("decile"), col("rn"))
        .orderBy(col("rn"), col("decile"), col("doc_id"))
        .limit(20)
    }, {
      val thrCols = (1 to 9).map(i => s"quantile_cont(score, 0.${i}) AS t$i").mkString(", ")
      val caseSum = (1 to 9)
        .map(i => s"CASE WHEN score > t$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH s AS (
         | SELECT doc_id, CAST(length(text) AS DOUBLE) AS score FROM documents),
         |t AS (SELECT $thrCols FROM s),
         |b AS (SELECT doc_id, score, 1 + $caseSum AS decile FROM s, t),
         |r AS (
         | SELECT doc_id, decile, CAST(row_number() OVER (
         |   PARTITION BY decile ORDER BY score, doc_id) AS INTEGER) AS rn
         | FROM b)
         |SELECT doc_id, decile, rn FROM r
         |ORDER BY rn, decile, doc_id LIMIT 20""".stripMargin
    }),
    Q("q_decile_report", { (s, d) =>
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).cast("double").as("score"))
      val thr = Analytics.exactPercentiles(scored, "score",
        (1 to 9).map(i => s"t$i" -> i / 10.0))
      scored.crossJoin(broadcast(thr))
        .withColumn("decile", lit(1) +
          (1 to 9).map(i => when(col("score") > col(s"t$i"), 1).otherwise(0))
            .reduce(_ + _))
        .groupBy("decile")
        .agg(count(lit(1)).as("cnt"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy("decile")
    }, {
      val thrCols = (1 to 9).map(i => s"quantile_cont(score, 0.${i}) AS t$i").mkString(", ")
      val caseSum = (1 to 9)
        .map(i => s"CASE WHEN score > t$i THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH s AS (SELECT CAST(length(text) AS DOUBLE) AS score FROM documents),
         |t AS (SELECT $thrCols FROM s)
         |SELECT 1 + $caseSum AS decile, count(*) AS cnt,
         | min(score) AS min_score, max(score) AS max_score
         |FROM s, t GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    // WEIGHTED deterministic sampling: each doc kept with probability
    // proportional to its token count (capped at 1) — the token-budget
    // resampling move behind source-mix rebalancing (q_source_mix emits
    // the rates; this applies one). Inclusion is a pure map-side integer
    // compare: u = first 32 md5 bits of the id vs p·2^32 — reproducible
    // across engines, partitionings and reruns, unlike rand()-based
    // df.sample. No shuffle until the audit aggregate.
    Q("q_weighted_sample", { (s, d) =>
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val p = least(lit(1.0), tokenCount(col("text")).cast("double") / 400.0)
      Tables.documents(s, d)
        .withColumn("n_tok", tokenCount(col("text")))
        .filter(u.cast("double") < p * 4294967296.0)
        .groupBy("lang")
        .agg(count(lit(1)).as("kept"), sum(col("n_tok")).cast("long").as("kept_tokens"))
        .orderBy("lang")
    },
      s"""WITH t AS (SELECT lang, $nTok AS n_tok,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS u
         | FROM documents)
         |SELECT lang, count(*) AS kept, CAST(sum(n_tok) AS BIGINT) AS kept_tokens
         |FROM t
         |WHERE CAST(u AS DOUBLE) < least(1.0, CAST(n_tok AS DOUBLE) / 400.0) * 4294967296.0
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Deterministic train/val/test split: md5 of the id buckets every doc
    // stably (the split survives reruns, repartitions, and engines — the
    // property a training pipeline needs; xxhash64 would be faster but has
    // no cross-engine oracle).
    Q("q_sample_split", { (s, d) =>
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
      Tables.documents(s, d)
        .select(split.as("split"))
        .groupBy("split").agg(count(lit(1)).as("cnt"))
        .orderBy("split")
    },
      """SELECT CASE
        |  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 80 THEN 'train'
        |  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 90 THEN 'val'
        |  ELSE 'test' END AS split, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // Rare-bigram rate — a character-LM quality signal with integer
    // determinism: corpus-wide character-bigram counts (vocabulary
    // bounded by alphabet², broadcast back), then per-doc counts of
    // bigrams rarer than 0.01% of the corpus mass. Garbage text (mojibake,
    // binary spill, keyboard mash) concentrates in rare bigrams; clean
    // prose doesn't. Integer counts only — a per-doc Σlog p score would
    // hash-drift on float summation order across engines.
    // Scale: bigram extraction is map-side (codegen'd transform, one
    // explode); the counts aggregate shuffles alphabet²-bounded keys;
    // the re-join is a broadcast. Two passes over the exploded bigrams,
    // both pruned to (doc_id, bg).
    // Character-entropy quality signal: H = Σ -p·log2(p) over the doc's
    // char distribution — low entropy flags repeated-char junk, high
    // flags random noise; the classic cheap screen beside the rare-bigram
    // rate. Determinism: each term is rounded to 6dp and summed as
    // DECIMAL, so the total is order-independent (a raw double Σ would
    // drift with partial-agg order); the per-term libm-ulp rounding risk
    // is the same class the tfidf oracle already accepts (round-6 of ln).
    Q("q_text_entropy", { (s, d) =>
      val docs = Tables.documents(s, d)
      val byDoc = Window.partitionBy("doc_id")
      val counts = docs.filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
        .withColumn("n", sum(col("cnt")).over(byDoc))
      val term = round((col("cnt").cast("double") / col("n")) *
        log2(col("n").cast("double") / col("cnt")), 6)
      val ent = counts
        .withColumn("t", term.cast(DecimalType(18, 6)))
        .groupBy("doc_id")
        .agg(max(col("n")).cast("long").as("n_chars"),
          sum(col("t")).cast("double").as("entropy_bits"))
      docs.select("doc_id").join(ent, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_chars")).na.fill(0.0, Seq("entropy_bits"))
        .orderBy("doc_id")
    },
      """WITH ch AS (
        | SELECT doc_id, unnest(string_split(text, '')) AS ch
        | FROM documents WHERE length(text) > 0),
        |c AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY 1, 2),
        |t AS (SELECT doc_id, cnt,
        |       sum(cnt) OVER (PARTITION BY doc_id) AS n FROM c),
        |e AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
        | CAST(sum(CAST(round((cnt / CAST(n AS DOUBLE)) *
        |   log2(CAST(n AS DOUBLE) / cnt), 6) AS DECIMAL(18,6))) AS DOUBLE)
        |   AS entropy_bits
        | FROM t GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(e.n_chars, 0) AS n_chars,
        | coalesce(e.entropy_bits, 0.0) AS entropy_bits
        |FROM documents d LEFT JOIN e USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Winnowing fingerprint selection (MOSS) — the position-robust dedup
    // index: any ≥ (w+k-1)-token overlap between docs shares a selected
    // fingerprint, at ~2/(w+1) index density.
    // winnowing twin: same 28-bit md5 gram hash, same packed-key window
    // min (hash ASC, pos DESC tie), same full-window/short-doc rule
    Q("q_winnow", { (s, d) =>
      winnow(Tables.documents(s, d))
    },
      s"""WITH t AS (
         | SELECT doc_id, ${tokensSql("lower(text)")} AS toks FROM documents),
         |g AS (
         | SELECT doc_id, CAST(r.i AS INTEGER) AS pos,
         |  len(toks) - 2 AS m,
         |  array_to_string(list_slice(toks, CAST(r.i AS INTEGER),
         |    CAST(r.i AS INTEGER) + 2), ' ') AS gram
         | FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
         | WHERE len(toks) >= 3),
         |k AS (
         | SELECT doc_id, pos, m,
         |  CAST('0x' || substr(md5(gram), 1, 7) AS BIGINT) * 33554432
         |    + (33554431 - pos) AS key
         | FROM g),
         |w AS (
         | SELECT doc_id, pos, m,
         |  min(key) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
         | FROM k)
         |SELECT DISTINCT doc_id,
         | CAST(33554431 - (mk % 33554432) AS INTEGER) AS pos,
         | mk // 33554432 AS fp
         |FROM w WHERE pos <= greatest(m - 3, 1)
         |ORDER BY doc_id, pos""".stripMargin),
    // HILL TAIL-INDEX ESTIMATOR (Hill 1975) over document lengths:
    // α̂ = 1 / [ mean_{i≤k} ln x_(i) − ln x_(k+1) ] on the k = 100
    // largest documents. α ≤ 2 means infinite-variance length tails —
    // the diagnosis that decides whether packing/batching plans can
    // rely on mean-based sizing or must cap outliers (q_truncation_plan
    // / q_winsorized_lift are the interventions; this is the test for
    // whether they're needed). Scale: the top-(k+1) slice runs on the
    // native TopKPerKey exec (k-bounded heaps, no corpus sort); ln
    // values round to 6dp DECIMAL before the k-row fold; guarded NULL
    // when the top slice is degenerate (all-equal lengths). Window runs
    // on the ≤101-row slice only.
    Q("q_hill_tail", { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val k = 100
      val top = graft.plans.TopKPerKey.topKPerKey(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
            .withColumn("g", lit(1)),
          keys = Seq("g"),
          order = Seq(("n_chars", false), ("doc_id", true)), k = k + 1)
        .withColumn("rn", row_number().over(Window.partitionBy("g")
          .orderBy(desc("n_chars"), asc("doc_id"))))
      val xk = top.filter(col("rn") === k + 1)
        .select(col("n_chars").as("xk"))
      val inv = col("sl").cast("double") / col("kk").cast("double") -
        round(log(col("xk").cast("double")), 6)
      top.filter(col("rn") <= k)
        .select(round(log(col("n_chars").cast("double")), 6)
          .cast(DecimalType(18, 6)).as("lx"))
        .agg(count(lit(1)).as("kk"), sum(col("lx")).as("sl"))
        .crossJoin(broadcast(xk))
        .select(col("kk").as("k"), col("xk").as("x_k1"),
          when(inv =!= 0.0, round(lit(1.0) / inv, 6)).as("alpha"))
    },
      """WITH r AS (
        | SELECT n_chars,
        |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents),
        |xk AS (SELECT n_chars AS xk FROM r WHERE rn = 101),
        |t AS (SELECT CAST(round(ln(CAST(n_chars AS DOUBLE)), 6)
        |       AS DECIMAL(18,6)) AS lx FROM r WHERE rn <= 100)
        |SELECT count(*) AS k, (SELECT xk FROM xk) AS x_k1,
        | CASE WHEN CAST(sum(lx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |   - round(ln(CAST((SELECT xk FROM xk) AS DOUBLE)), 6) <> 0.0
        |  THEN round(1.0 / (CAST(sum(lx) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |   - round(ln(CAST((SELECT xk FROM xk) AS DOUBLE)), 6)), 6)
        | END AS alpha
        |FROM t""".stripMargin),

    // Zipf-law fit of the corpus vocabulary: OLS of ln(freq) on ln(rank)
    // over the top-100 terms. The exponent (~1 for natural language) is a
    // corpus-health signal — synthetic/templated text flattens the curve,
    // boilerplate floods steepen it. Plan: the wordcount aggregate (one
    // map-side-combined shuffle), a 100-row TakeOrdered to the bounded
    // frame, a 100-row window rank (documented: never corpus-sized), and
    // exact DECIMAL moment sums so the fold is order-independent; the
    // 5 regression doubles derive from identical decimal sums on both
    // engines.
    // zipf twin: same top-100 vocabulary, same 6dp-decimal ln moments,
    // same double-space regression arithmetic
    Q("q_zipf_fit", { (s, d) =>
      zipfFit(Tables.documents(s, d))
    },
      s"""WITH v AS (
         | SELECT token, count(*) AS freq FROM (
         |  SELECT unnest(${tokensSql("lower(text)")}) AS token FROM documents)
         | GROUP BY 1 ORDER BY freq DESC, token LIMIT 100),
         |r AS (SELECT freq,
         |  row_number() OVER (ORDER BY freq DESC, token) AS rank FROM v),
         |p AS (SELECT
         |  CAST(round(ln(rank), 6) AS DECIMAL(18,6)) AS x,
         |  CAST(round(ln(freq), 6) AS DECIMAL(18,6)) AS y FROM r),
         |s AS (SELECT count(*) AS n,
         |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         |  CAST(sum(x*y) AS DOUBLE) AS sxy, CAST(sum(x*x) AS DOUBLE) AS sxx,
         |  CAST(sum(y*y) AS DOUBLE) AS syy FROM p)
         |SELECT n AS n_terms,
         | round(-((n*sxy - sx*sy) / (n*sxx - sx*sx)), 6) AS zipf_exponent,
         | round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 6)
         |   AS intercept,
         | round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
         |   / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
         |FROM s""".stripMargin),
    // Trained NB language ID, self-classified: the confusion matrix IS
    // the report (diagonal mass = how separable the lang labels are).
    // NB twin: same smoothed counts, same 6dp-decimal log2 terms, same
    // (score DESC, cand ASC) argmax
    Q("q_langid_nb", { (s, d) =>
      langIdNaiveBayes(Tables.documents(s, d))
    },
      s"""WITH tok AS (
         | SELECT doc_id, lang, unnest(${tokensSql("lower(text)")}) AS w
         | FROM documents WHERE lang IS NOT NULL),
         |cwl AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
         |cl AS (SELECT lang, sum(c) AS cl FROM cwl GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS v FROM cwl),
         |model AS (
         | SELECT vw.w, cl.lang AS cand,
         |  CAST(round(log2(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
         |    / CAST(cl.cl + v.v AS DOUBLE)), 6) AS DECIMAL(28,6)) AS lp
         | FROM (SELECT DISTINCT w FROM cwl) vw
         | CROSS JOIN cl
         | LEFT JOIN cwl c ON c.lang = cl.lang AND c.w = vw.w
         | CROSS JOIN v),
         |priors AS (
         | SELECT lang AS cand,
         |  CAST(round(log2(CAST(nd AS DOUBLE) / CAST(nall AS DOUBLE)), 6)
         |    AS DECIMAL(28,6)) AS lpr
         | FROM (SELECT lang, count(*) AS nd FROM documents
         |       WHERE lang IS NOT NULL GROUP BY 1)
         | CROSS JOIN (SELECT count(*) AS nall FROM documents
         |             WHERE lang IS NOT NULL)),
         |scored AS (
         | SELECT t.doc_id, m.cand, sum(m.lp) AS s
         | FROM tok t JOIN model m ON m.w = t.w GROUP BY 1, 2),
         |pick AS (
         | SELECT doc_id, cand AS lang_pred FROM (
         |  SELECT doc_id, cand,
         |   row_number() OVER (PARTITION BY doc_id
         |     ORDER BY s + lpr DESC, cand) AS rn
         |  FROM scored JOIN priors USING (cand))
         | WHERE rn = 1)
         |SELECT d.lang, p.lang_pred, count(*) AS n
         |FROM (SELECT DISTINCT doc_id, lang FROM tok) d
         |JOIN pick p USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Q("q_rare_bigrams", { (s, d) =>
      // single-row-group spread: substring(text,i,2) re-walks the string
      // from byte 0 per position (O(len²)/doc), and BOTH passes pay it —
      // measured 2×2.9 s single-task before the spread
      val docs = Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      // Two passes over the exploded bigrams ON PURPOSE: each pass's
      // shuffle is collapsed map-side (pass 1 to the alphabet²-bounded
      // bigram vocabulary, pass 2 to one row per doc), so both exchanges
      // are tiny; the explode itself is cheap codegen'd map work. The
      // "obvious" fix — pre-aggregating a (doc_id, bigram) histogram to
      // explode once — shuffles the doc×bigram cross instead and measured
      // 1.3× SLOWER at sf0.1 (4.6 s → 6.1 s). Map-side combine beats
      // explode-avoidance here.
      val bg = docs
        .filter(length(col("text")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("bg"))
      val counts = bg.groupBy("bg").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      val perDoc = bg
        .join(broadcast(counts), Seq("bg"))
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt") * 10000 < col("total"), 1L).otherwise(0L))
            .as("n_rare"))
      docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .na.fill(0, Seq("n_bigrams", "n_rare"))
        .orderBy("doc_id")
    },
      """WITH bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, length(text)),
        |    i -> substr(text, CAST(i AS INTEGER), 2))) AS bg
        | FROM documents),
        |counts AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY bg),
        |t AS (SELECT sum(cnt) AS total FROM counts),
        |per_doc AS (
        | SELECT doc_id, count(*) AS n_bigrams,
        |  sum(CASE WHEN cnt * 10000 < total THEN 1 ELSE 0 END) AS n_rare
        | FROM bg JOIN counts USING (bg), t
        | GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        | CAST(coalesce(n_rare, 0) AS BIGINT) AS n_rare
        |FROM documents d LEFT JOIN per_doc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)
  )
}
