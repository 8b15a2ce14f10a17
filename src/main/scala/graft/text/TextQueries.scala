package graft.text

import graft.{Gate, Q, Tables}
import graft.text.TextFunctions._
import org.apache.spark.sql.functions._

/** Text-analysis operator surface over the documents fixture. */
object TextQueries {

  /** Per-document statistics (token count, type-token ratio, alnum
    * ratio) — all codegen'd column expressions, oracle-checked. */
  val textStats: Q = Q(
    "text_stats",
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars,
      |  CAST(len(toks) AS INTEGER) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr,
      |  CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |    / greatest(length(text), 1) AS alnum_ratio
      |FROM t""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      tokenCount(col("text")).as("n_tokens"),
      distinctTokenRatio(col("text")).as("ttr"),
      alnumRatio(col("text")).as("alnum_ratio"))
  }

  /** Rolling-hash document fingerprint (order-sensitive), cross-engine
    * reproducible via md5-derived token hashes. */
  val fingerprints: Q = Q(
    "doc_fingerprint",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''),
       |      tk -> CAST(concat('0x', substr(md5(tk), 1, 15)) AS BIGINT) % ${HashMod}) AS hs
       |  FROM documents)
       |SELECT doc_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
       |              (a, b) -> (a * 31 + b) % ${HashMod}) AS fp
       |FROM t""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), fingerprint(col("text")).as("fp"))
  }

  /** Language-ID heuristic + quality score. The fixture's `lang` column
    * does not correlate with its (synthetic, English-vocabulary) text, so
    * accuracy is validated on multilingual unit fixtures (OpsSpec), not
    * here; this query exercises the full expression tree at scale.
    * β-free, UDF-free — rows-only check. */
  val langQuality: Q = Q.gated("text_lang_quality") { (s, d) =>
    // tokenize ONCE: the aliased non-cheap token array blocks projection
    // collapse, so all three features share one regex split per row
    // (CSE cannot deduplicate higher-order functions; measured 4×)
    Tables.documents(s, d)
      .withColumn("_toks", tokens(col("text")))
      .select(
        col("doc_id"),
        langIdFromTokens(col("text"), col("_toks")).as("lang_pred"),
        qualityScoreFromTokens(col("text"), col("_toks")).as("quality"),
        stopwordRatioFromTokens(col("_toks")).as("stop_ratio"))
  } { (_, _, res) =>
    // range/totality invariants: both scores are ratios in [0,1] and the
    // language heuristic must emit a prediction for every document
    val r = res.agg(
      avg(when(col("quality").between(0.0, 1.0), 1.0).otherwise(0.0)).as("fq"),
      avg(when(col("stop_ratio").between(0.0, 1.0), 1.0).otherwise(0.0)).as("fs"),
      avg(when(col("lang_pred").isNotNull && length(col("lang_pred")) > 0, 1.0)
        .otherwise(0.0)).as("fl")).head
    Seq(
      Gate("frac_quality_in_unit", r.getDouble(0), r.getDouble(0) == 1.0),
      Gate("frac_stop_ratio_in_unit", r.getDouble(1), r.getDouble(1) == 1.0),
      Gate("frac_lang_predicted", r.getDouble(2), r.getDouble(2) == 1.0))
  }

  /** BPE-style pre-token counts (LLM token budgeting) — same regex on
    * both engines, oracle-checked. */
  val bpeTokens: Q = Q(
    "text_bpe_tokens",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(lower(text), '${TextFunctions.BpePattern}')) AS INTEGER) AS n_bpe
       |FROM documents""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"), bpeTokenCount(col("text")).as("n_bpe"))
  }

  /** TF-IDF top-5 terms per document — corpus-level relevance scoring on
    * the inverted index (term frequencies joined with document
    * frequencies; weight = tf·ln(N/df)). Weights are rounded to 6
    * decimals on BOTH engines before ranking and output so an ulp of
    * libm ln() difference can neither flip a rank nor a hash; rank ties
    * break on the term string. Scale shape: two key-partitioned
    * aggregations + a broadcastable term-df join — no all-pairs, no
    * driver state. */
  val tfidfTop: Q = Q(
    "text_tfidf_top_terms",
    """WITH terms AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |w AS (
      |  SELECT doc_id, term,
      |    round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS weight
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (
      |  SELECT doc_id, term, weight,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY weight DESC, term ASC) AS INTEGER) AS rank
      |  FROM w)
      |SELECT doc_id, term, weight, rank FROM r WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val terms = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // df from the aggregated tf frame (one row per (doc, term) already):
    // avoids a second corpus scan + tokenize + a distinct shuffle
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("term").asc)
    tf.join(dfreq, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6).as("weight"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select("doc_id", "term", "weight", "rank")
  }

  /** Within-document repetition score — the Gopher-style boilerplate
    * signal: 1 − (distinct trigrams / total trigrams). A doc that repeats
    * its paragraphs scores high; natural prose sits near 0. Pure per-row
    * computation (tokenize once + single-pass shingle UDF), NO shuffle —
    * scales as a projection over the corpus. */
  val repetition: Q = Q(
    "text_repetition",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> x <> '') AS toks
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INTEGER) AS n_tokens,
      |  CASE WHEN len(toks) >= 3 THEN
      |    1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS DOUBLE)
      |      / (len(toks) - 2)
      |  ELSE 0.0 END AS repetition
      |FROM t""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("_toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        repetitionScoreFromTokens(col("_toks")).as("repetition"))
  }

  /** Library form of the contamination check: fraction of each corpus
    * document's distinct trigrams occurring in the benchmark documents'
    * trigram set (`isBench` selects the benchmark rows; eval suites are
    * small by nature, so their n-gram set is broadcast). Returns docs at
    * or above `threshold`: (doc_id, n_grams, n_hit, contamination). */
  def contaminationVs(docs: org.apache.spark.sql.DataFrame,
      isBench: org.apache.spark.sql.Column, threshold: Double)
      : org.apache.spark.sql.DataFrame = {
    // shingle once, cache: the benchmark and corpus branches both consume
    // this frame (cache-lifetime note in Dedup.jaccardPairs applies)
    // null text contributes NO shingles: the oracle's NULL propagates
    // through split/transform/unnest to zero rows, so filter (rather than
    // coalesce, whose empty token array would shingle to one '' row and
    // diverge) — this also keeps the shingle UDF off null token arrays
    val sh = docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(shinglesFast(3)(tokens(col("text")))).as("shingle"),
        isBench.as("is_bench"))
      .cache()
    val bench = sh.where(col("is_bench")).select("shingle").distinct()
    val corpus = sh.where(!col("is_bench"))
    val tot = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hit = corpus.join(broadcast(bench), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination"))
      .where(col("contamination") >= threshold)
  }

  /** Benchmark-contamination check — the eval-set hygiene pass every
    * training corpus needs: fraction of each document's distinct
    * trigrams that also occur in a "benchmark" document set (here the
    * deterministic doc_id % 100 == 7 cohort standing in for an eval
    * suite). Scale shape: the benchmark n-gram set is SMALL by nature
    * (eval suites are thousands of docs, not billions) → broadcast hash
    * join against it; the corpus side is one explode + two key-partitioned
    * aggregations — linear in corpus size, no all-pairs. */
  val contamination: Q = Q(
    "text_contamination",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> x <> '') AS toks
      |  FROM documents),
      |s AS (SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE list_transform(range(1, len(toks) - 1),
      |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS sh
      |  FROM t),
      |e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
      |bench AS (SELECT DISTINCT shingle FROM e WHERE doc_id % 100 = 7),
      |corpus AS (SELECT * FROM e WHERE doc_id % 100 <> 7),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
      |hit AS (SELECT corpus.doc_id, count(*) AS n_hit
      |        FROM corpus JOIN bench USING (shingle) GROUP BY 1)
      |SELECT tot.doc_id AS doc_id, n_grams, coalesce(n_hit, 0) AS n_hit,
      |  CAST(coalesce(n_hit, 0) AS DOUBLE) / n_grams AS contamination
      |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
      |WHERE CAST(coalesce(n_hit, 0) AS DOUBLE) / n_grams >= 0.05""".stripMargin
  ) { (s, d) =>
    // % (not pmod): Spark's % matches DuckDB's remainder semantics for
    // negative dividends (pmod(-7,100)=93 vs -7%100=-7), so the benchmark
    // cohort stays in sync even if a fixture ever carries negative ids
    contaminationVs(Tables.documents(s, d),
      col("doc_id") % 100 === 7, threshold = 0.05)
  }

  /** CCNet-style LM-perplexity quality score (Wenzek et al. 2020): train
    * an add-k-smoothed bigram language model on the corpus itself and
    * score each document by its mean bigram log-probability — fluent
    * prose scores near the corpus mode, boilerplate and gibberish sit in
    * the tails. P(w2|w1) = (C(w1w2)+k)/(C(w1)+k·V) with k=0.5 and V the
    * corpus vocabulary size; ppl = exp(−mean ln P) over the doc's bigram
    * OCCURRENCES (multiplicity-weighted). Both engines round the two
    * float outputs to 6 decimals before hashing (tfidf precedent: an ulp
    * of libm ln() must not flip the hash). Docs with <2 tokens have no
    * bigram evidence and are excluded, mirroring DuckDB's NULL/empty
    * propagation. Scale shape: bigram/unigram count aggregations are
    * key-partitioned with map-side combine; the doc-bigram ⋈ model joins
    * are key equi-joins (the model is corpus-sized, NOT broadcast); V is
    * a single driver scalar (count, like tfidf's N). */
  val lmPerplexity: Q = Q(
    "text_lm_perplexity",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> x <> '') AS toks
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |    i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
      |  FROM t WHERE len(toks) >= 2),
      |uni AS (
      |  SELECT doc_id, unnest(toks) AS term FROM t),
      |db AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
      |cb AS (SELECT bigram, count(*) AS cbg FROM bg GROUP BY 1),
      |cu AS (SELECT term, count(*) AS cw FROM uni GROUP BY 1),
      |v AS (SELECT count(DISTINCT term) AS v FROM uni),
      |scored AS (
      |  SELECT db.doc_id, db.n,
      |    ln((cb.cbg + 0.5) / (cu.cw + 0.5 * v.v)) AS logp
      |  FROM db
      |  JOIN cb USING (bigram)
      |  JOIN cu ON cu.term = string_split(db.bigram, ' ')[1]
      |  CROSS JOIN v)
      |SELECT doc_id,
      |  CAST(sum(n) AS INTEGER) AS n_bigrams,
      |  round(sum(n * logp) / sum(n), 6) AS avg_logp,
      |  round(exp(-sum(n * logp) / sum(n)), 6) AS ppl
      |FROM scored GROUP BY 1""".stripMargin
  ) { (s, d) => lmPerplexityVs(Tables.documents(s, d)) }

  /** Library form of [[lmPerplexity]]. */
  def lmPerplexityVs(docs: org.apache.spark.sql.DataFrame, k: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    // bigrams from the token array directly (arrays_zip of shifted
    // slices): no window, no self-join — one Generate per doc row.
    // Multiplicity is kept (LM counts), unlike the deduping shingle path.
    val toks = tokens(col("text"))
    val bg = docs
      .withColumn("_toks", toks)
      .where(size(col("_toks")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("_toks"), lit(1), size(col("_toks")) - 1),
          slice(col("_toks"), lit(2), size(col("_toks")) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
    val uni = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val db = bg.groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
    val cb = bg.groupBy("bigram").agg(count(lit(1)).as("cbg"))
    val cu = uni.groupBy("term").agg(count(lit(1)).as("cw"))
    // |V| = the row count of the unigram table already being aggregated —
    // counting THAT (a map-side-combined count of vocab-sized partials)
    // replaces the previous select(term).distinct().count(), which paid a
    // second corpus-wide explode + a full distinct shuffle for the same
    // scalar (r6 hygiene finding)
    val vocab = cu.count().toDouble
    db.join(cb, "bigram")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(cu.withColumnRenamed("term", "w1"), "w1")
      .select(col("doc_id"), col("n"),
        log((col("cbg") + lit(k)) / (col("cw") + lit(k) * lit(vocab))).as("logp"))
      .groupBy("doc_id")
      .agg(
        sum(col("n")).cast("int").as("n_bigrams"),
        round(sum(col("n") * col("logp")) / sum(col("n")), 6).as("avg_logp"),
        round(exp(-sum(col("n") * col("logp")) / sum(col("n"))), 6).as("ppl"))
  }

  /** BM25 ranked retrieval (Robertson-Spärck Jones, Lucene idf form):
    * top-`k` corpus documents per query document by
    * Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1). The retrieval member
    * of the text family — what a curation pipeline runs to pull
    * target-domain-relevant documents for inspection or selection (the
    * ranked cousin of [[dsirWeights]]' distribution-level scoring).
    *
    * Scale shape: corpus postings (term, doc, tf, dl) joined to the
    * queries' distinct terms on term — a posting-list equi-join like
    * jaccardPairs', never all-pairs — then one (query, doc) aggregation
    * and a bounded top-k window. N and avgdl are two bounded driver
    * scalars (tfidf precedent). Ubiquitous terms have vanishing idf;
    * cut them with a df cap upstream if a real corpus's hot posting
    * lists dominate the join (same lever as jaccardPairs' maxDf).
    * Scores are rounded to 6 decimals BEFORE ranking (tfidf precedent —
    * distributed sum order and libm ln ulps die at the 6th decimal),
    * ties break on doc_id. Output: (qid, doc_id, score, rank). */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
      isQuery: org.apache.spark.sql.Column, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0 and b in [0,1], got ($k1, $b)")
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"), isQuery.as("is_q"), tokens(col("text")).as("_t"))
    val corpus = base.where(!col("is_q"))
    val stats = corpus.agg(count(lit(1)), avg(size(col("_t")))).head
    val n = stats.getLong(0)
    if (n == 0) {
      return base.limit(0).select(col("doc_id").as("qid"),
        col("doc_id").as("doc_id"), lit(0.0).as("score"),
        lit(0).cast("int").as("rank"))
    }
    val avgdl = stats.getDouble(1)
    val tf = corpus
      .select(col("doc_id"), size(col("_t")).as("dl"), explode(col("_t")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = base.where(col("is_q"))
      .select(col("doc_id").as("qid"), explode(array_distinct(col("_t"))).as("term"))
    val idf = log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val scored = qt.join(tf, "term").join(dfreq, "term")
      .groupBy("qid", "doc_id")
      .agg(round(sum(idf * col("tf") * (k1 + 1.0) /
        (col("tf") + lit(k1) * (lit(1.0) - b + col("dl") * b / avgdl))), 6).as("score"))
    // top-k per query via the bounded-heap aggregate (map-side partial
    // pruning), NOT a row_number window: a query full of common terms
    // matches an unbounded candidate list, and a window would sort all
    // of it on one task — the hot-key shape rejected for paragraphDedup
    // and scrubDupSpans. Heap order = ascending (−score, doc_id) ≡
    // (score DESC, doc_id ASC), exactly the oracle's ORDER BY; negation
    // is exact for doubles, so the round-tripped score hash-matches.
    scored
      .groupBy("qid")
      .agg(org.apache.spark.sql.graft.TopKNeighbors
        .topk(k, col("doc_id"), -col("score")).as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("qid"), col("nbr.j").as("doc_id"),
        (-col("nbr.dist2")).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** BM25 query — the doc_id % 100 == 7 cohort as the query set against
    * the rest of the corpus, top-5 each. Oracle: full replication of the
    * scoring, rounding, and ranking in DuckDB. */
  val bm25: Q = Q(
    "text_bm25_topk",
    """WITH t AS (
      |  SELECT doc_id, (doc_id % 100 = 7) AS is_q,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |corpus AS (SELECT doc_id, toks FROM t WHERE NOT is_q),
      |stats AS (SELECT count(*) AS n, avg(CAST(len(toks) AS DOUBLE)) AS avgdl
      |          FROM corpus),
      |tf AS (
      |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM corpus),
      |tfc AS (SELECT doc_id, dl, term, count(*) AS tf FROM tf GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
      |qt AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
      |       FROM t WHERE is_q),
      |s AS (
      |  SELECT qid, tfc.doc_id AS doc_id,
      |    round(sum(
      |      ln((n - df + 0.5) / (df + 0.5) + 1.0)
      |      * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
      |  FROM qt JOIN tfc USING (term) JOIN dfreq USING (term) CROSS JOIN stats
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT qid, doc_id, score,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      |  FROM s)
      |SELECT qid, doc_id, score, rank FROM r WHERE rank <= 5""".stripMargin
  ) { (s, d) =>
    bm25TopK(Tables.documents(s, d), col("doc_id") % 100 === 7)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the C4
    * heuristics): keep only lines that end in terminal punctuation
    * (. ! ? "), carry at least `minLineWords` words, and do not mention
    * "javascript"; drop any page whose raw text contains "lorem ipsum"
    * or "{" (boilerplate/code sludge), and any page with fewer than
    * `minKeptLines` surviving lines. The Gopher pass judges a DOCUMENT's
    * prose band; this pass repairs a document by cutting its non-prose
    * LINES first — C4 then Gopher is the standard web-crawl order.
    * Pure codegen'd projection+filter, zero shuffles — scan speed at
    * 100 TB like text_gopher_filter.
    *
    * Output: (doc_id, n_lines, n_kept, clean_md5) — the cleaned text is
    * reported as md5 (pii_scrub precedent: hash-comparable without
    * shipping the full string through the dump). */
  def c4LineClean(docs: org.apache.spark.sql.DataFrame,
      minLineWords: Int = 3, minKeptLines: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 1,
      s"rule floors must be positive, got ($minLineWords, $minKeptLines)")
    val lines = split(col("text"), "\n")
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, " "), w => w =!= lit(""))) >= minLineWords &&
        instr(lower(l), "javascript") === 0)
    docs
      .where(col("text").isNotNull &&
        instr(lower(col("text")), "lorem ipsum") === 0 &&
        instr(col("text"), "{") === 0)
      .select(col("doc_id"),
        size(lines).as("n_lines"),
        size(kept).as("n_kept"),
        md5(array_join(kept, "\n")).as("clean_md5"))
      .where(col("n_kept") >= minKeptLines)
  }

  /** C4 cleaning query. The documents fixture is single-line and
    * unpunctuated, so the query first derives a deterministic multi-line
    * corpus from it — 6-token lines, ~75% given terminal periods by an
    * md5 coin, a "javascript" line injected into every 11th doc and a
    * "lorem ipsum" line into every 13th — and then applies the REAL
    * rules. Every rule fires on a nontrivial slice (unterminated lines,
    * short tail lines, the js line, lorem pages, the ≥5-line floor), and
    * the oracle replicates derivation + cleaning in SQL, so the hash
    * match covers both. */
  val c4Clean: Q = Q(
    "text_c4_clean",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |l0 AS (
      |  SELECT doc_id,
      |    list_transform(range(0, greatest(CAST(ceil(len(toks) / 6.0) AS INTEGER), 1)),
      |      i -> array_to_string(toks[i*6+1:i*6+6], ' ')) AS ls
      |  FROM t),
      |l1 AS (
      |  SELECT doc_id, list_transform(ls, l ->
      |    CASE WHEN CAST(concat('0x', substr(md5(l), 1, 15)) AS BIGINT) % 4 <> 0
      |      THEN l || '.' ELSE l END) AS ls
      |  FROM l0),
      |page AS (
      |  SELECT doc_id, array_to_string(
      |    (CASE WHEN doc_id % 11 = 0
      |       THEN ['enable javascript to view this page.'] ELSE [] END)
      |    || ls ||
      |    (CASE WHEN doc_id % 13 = 0
      |       THEN ['lorem ipsum dolor sit amet.'] ELSE [] END),
      |    chr(10)) AS txt
      |  FROM l1),
      |c AS (
      |  SELECT doc_id, string_split(txt, chr(10)) AS lines,
      |    list_filter(string_split(txt, chr(10)), l ->
      |      regexp_matches(l, '[.!?"]$')
      |      AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
      |      AND NOT contains(lower(l), 'javascript')) AS kept
      |  FROM page
      |  WHERE NOT contains(lower(txt), 'lorem ipsum') AND NOT contains(txt, '{'))
      |SELECT doc_id, CAST(len(lines) AS INTEGER) AS n_lines,
      |  CAST(len(kept) AS INTEGER) AS n_kept,
      |  md5(array_to_string(kept, chr(10))) AS clean_md5
      |FROM c WHERE len(kept) >= 5""".stripMargin
  ) { (s, d) =>
    val toks = tokens(col("text"))
    val nChunks = greatest(ceil(size(col("_t")) / lit(6.0)).cast("int"), lit(1))
    val emptyArr = array().cast("array<string>")
    val derived = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .withColumn("_t", toks)
      .select(col("doc_id"),
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("_t"), i * 6 + 1, lit(6)), " ")).as("_l0"))
      .select(col("doc_id"),
        transform(col("_l0"), l =>
          when(pmod(md5Hash64(l), lit(4L)) =!= 0, concat(l, lit(".")))
            .otherwise(l)).as("_l1"))
      .select(col("doc_id"),
        array_join(concat(
          when(col("doc_id") % 11 === 0,
            array(lit("enable javascript to view this page."))).otherwise(emptyArr),
          col("_l1"),
          when(col("doc_id") % 13 === 0,
            array(lit("lorem ipsum dolor sit amet."))).otherwise(emptyArr)),
          "\n").as("text"))
    c4LineClean(derived)
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw-corpus
    * document by how target-domain-like its hashed n-gram profile is.
    * Features are unigrams+bigrams hashed into `buckets` buckets (the
    * cross-engine md5 trick); the target cohort and the raw corpus each
    * induce an add-α-smoothed bucket distribution, and a document's
    * weight is log w(d) = Σ_grams [ln p_target(b) − ln p_raw(b)] —
    * resample the raw corpus by this weight (e.g. top-k, or Gumbel
    * noise for the paper's stochastic variant) to shift its mixture
    * toward the target domain without training a classifier.
    *
    * 100 TB shape: the feature space is CAPPED at `buckets` (8192
    * default) regardless of corpus size, so the bucket-ratio table is a
    * bounded broadcast (the same discipline as the quantizer/hyperplane
    * closures) and everything else is one gram explode + two
    * key-partitioned aggregations — model never corpus-sized, no
    * all-pairs. The gram frame is cached for the counts + scoring double
    * consumption (storage-LRU lifetime, same contract as the sketch
    * operators). logw is rounded to 6 decimals before output (tfidf
    * precedent: distributed double-sum order and libm ln ulps both die
    * at the 6th decimal, so the DuckDB oracle hash-matches).
    *
    * Returns (doc_id, n_grams, logw) for NON-target docs with ≥1 token;
    * higher logw = more target-like. */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame,
      isTarget: org.apache.spark.sql.Column,
      buckets: Int = 8192, alpha: Double = 1.0)
      : org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"need at least 2 hash buckets, got $buckets")
    require(alpha > 0, s"additive smoothing must be positive, got $alpha")
    val toks = tokens(col("text"))
    val bigrams = zip_with(
      slice(col("_t"), lit(1), greatest(size(col("_t")) - 1, lit(0))),
      slice(col("_t"), lit(2), greatest(size(col("_t")) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val grams = docs
      .where(col("text").isNotNull)
      .withColumn("_t", toks)
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(concat(col("_t"), bigrams)).as("gram"))
      .select(col("doc_id"), col("is_target"),
        pmod(md5Hash64(col("gram")), lit(buckets.toLong)).as("b"))
      .cache()
    val cnt = grams.groupBy("is_target", "b").agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy("is_target").agg(sum(col("c")).as("n"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val nt = totals.getOrElse(true, 0L).toDouble
    val nr = totals.getOrElse(false, 0L).toDouble
    val tgt = cnt.where(col("is_target")).select(col("b"), col("c").as("ct"))
    val raw = cnt.where(!col("is_target")).select(col("b"), col("c").as("cr"))
    // ≤ buckets rows: every observed bucket's smoothed log-ratio. An
    // all-buckets table would also work; the inner join below only ever
    // consumes raw-side buckets, which this full-outer necessarily covers.
    val ratio = raw.join(tgt, Seq("b"), "full_outer")
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + alpha) / (nt + alpha * buckets)) -
          log((coalesce(col("cr"), lit(0L)) + alpha) / (nr + alpha * buckets))).as("lr"))
    grams.where(!col("is_target"))
      .join(broadcast(ratio), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        round(sum(col("lr")), 6).as("logw"))
  }

  /** Deterministic DSIR resample: the `k` most target-like raw docs
    * (ties to the smaller id). The paper's stochastic variant adds
    * Gumbel noise to logw before the top-k; at pipeline scale both are
    * one bounded-heap top-k, so the deterministic form is the default
    * (hash-derived pipelines re-run identically). */
  def dsirTopK(weights: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame =
    weights.orderBy(col("logw").desc, col("doc_id").asc).limit(k)

  /** DSIR query — the doc_id % 100 == 7 cohort stands in for the target
    * domain (as in the contamination family). Oracle: full replication
    * of the hashed-feature log-ratio scoring in DuckDB. */
  val dsir: Q = Q(
    "text_dsir_weights",
    """WITH t AS (
      |  SELECT doc_id, (doc_id % 100 = 7) AS is_target,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |g0 AS (
      |  SELECT doc_id, is_target,
      |    unnest(toks || CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)),
      |             i -> concat_ws(' ', toks[i], toks[i+1]))
      |      ELSE [] END) AS gram
      |  FROM t),
      |g AS (SELECT doc_id, is_target,
      |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 8192 AS b
      |  FROM g0),
      |cnt AS (SELECT is_target, b, count(*) AS c FROM g GROUP BY 1, 2),
      |tgt AS (SELECT b, c AS ct FROM cnt WHERE is_target),
      |raw AS (SELECT b, c AS cr FROM cnt WHERE NOT is_target),
      |n AS (SELECT (SELECT coalesce(sum(c), 0) FROM cnt WHERE is_target) AS nt,
      |             (SELECT coalesce(sum(c), 0) FROM cnt WHERE NOT is_target) AS nr),
      |ratio AS (
      |  SELECT coalesce(raw.b, tgt.b) AS b,
      |    ln((coalesce(ct, 0) + 1.0) / (nt + 1.0 * 8192))
      |      - ln((coalesce(cr, 0) + 1.0) / (nr + 1.0 * 8192)) AS lr
      |  FROM raw FULL OUTER JOIN tgt ON raw.b = tgt.b CROSS JOIN n)
      |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams,
      |  round(sum(lr), 6) AS logw
      |FROM g JOIN ratio USING (b)
      |WHERE NOT is_target
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    dsirWeights(Tables.documents(s, d), col("doc_id") % 100 === 7)
  }

  /** Bloom-filter form of [[contaminationVs]] — the decontamination path
    * for benchmark sets too large to broadcast as a hash-join side. The
    * exact form ships the benchmark's distinct shingle STRINGS to every
    * executor (a 100M-n-gram suite ≈ several GB of strings + hash table);
    * this form ships a [[org.apache.spark.util.sketch.BloomFilter]] built
    * by Spark's native sketch aggregate (~1.2 GB per 10⁹ items at 1%
    * fpp, a 20-30× smaller broadcast) and replaces the join with a
    * constant-time membership filter. Bloom membership has NO false
    * negatives, so flagged-doc sets are structural supersets of the
    * exact result; false positives inflate each doc's hit count by
    * ≈ fpp·n_grams, so a doc sitting one hit under the flag line flips
    * with probability ≈ fpp·n_grams — size fpp so that is ≪ 1 (short
    * docs resolve the threshold at a single hit: the sf0.01 fixture
    * measured precision 0.41 at fpp=0.01 but 1.0 at 1e-4, and 1e-4 still
    * costs only ~19 bits/item ≈ 2.4 GB per 10⁹ n-grams broadcast). Both
    * properties are gated per round against the exact twin.
    * `expectedNumItems` is the raw (pre-distinct) benchmark shingle
    * count: duplicate insertions only over-size the filter and LOWER the
    * realized fpp, and skipping the distinct spares the wide shuffle the
    * exact form pays before its broadcast. CACHE LIFETIME: the shingle
    * frame backing the (lazy) returned DataFrame is cached for the
    * sketch-build + tot/hit triple consumption and cannot be unpersisted
    * here; it belongs to the caller's [[graft.CacheScope]] (a looping
    * caller wraps each call and its consumers in one), or with no scope
    * open to storage LRU / `spark.catalog.clearCache()` (Bench clears
    * between queries). */
  def contaminationBloomVs(docs: org.apache.spark.sql.DataFrame,
      isBench: org.apache.spark.sql.Column, threshold: Double, fpp: Double,
      expectedItems: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val sh = graft.CacheScope.cache(docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(shinglesFast(3)(tokens(col("text")))).as("shingle"),
        isBench.as("is_bench")))
    // sentinel / expectedItems / membership-UDF semantics live in
    // graft.functions.Sketches (shared with the span, streaming, and
    // novelty bloom operators); the filter runs pre-aggregation so the
    // shuffle carries only surviving (doc_id) rows
    val bloomB = graft.functions.Sketches.stringBloom(
      sh.where(col("is_bench")).select(col("shingle")), "shingle", fpp, expectedItems)
    val mightContain = graft.functions.Sketches.mightContainString(bloomB)
    val corpus = sh.where(!col("is_bench"))
    val tot = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hit = corpus.where(mightContain(col("shingle")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    tot.join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination"))
      .where(col("contamination") >= threshold)
  }

  /** Build the BENCHMARK side's shingle bloom once — for loops that
    * probe a FIXED eval suite repeatedly (the daily-ingest driver runs
    * one decontamination pass per day; re-shingling and re-sketching
    * the same benchmark every day is O(bench) wasted work per day and
    * pins a fresh cache entry per day). Pair with
    * [[contaminationAgainstBloom]]. Same construction as
    * [[contaminationBloomVs]]' bench side, so decisions are identical
    * (a bloom's bits depend on the item SET, not insertion order). */
  def benchContaminationBloom(bench: org.apache.spark.sql.DataFrame,
      fpp: Double, expectedItems: Option[Long] = None)
      : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter] =
    graft.functions.Sketches.stringBloom(
      bench.where(col("text").isNotNull)
        .select(explode(shinglesFast(3)(tokens(col("text")))).as("shingle")),
      "shingle", fpp, expectedItems)

  /** Corpus-side contamination probe against a PREBUILT benchmark bloom
    * ([[benchContaminationBloom]]): one shingle pass, one aggregation,
    * NO cache — the per-day shape of the daily-ingest loop. The
    * conditional-sum aggregate replaces [[contaminationBloomVs]]' two
    * aggregations + join over a cached shingle frame; per-doc
    * (n_grams, n_hit) are identical, so decision parity with the
    * one-shot form is exact given the same bloom. */
  def contaminationAgainstBloom(docs: org.apache.spark.sql.DataFrame,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val mightContain = graft.functions.Sketches.mightContainString(bloom)
    docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(shinglesFast(3)(tokens(col("text")))).as("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(mightContain(col("shingle")), 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("contamination"))
      .where(col("contamination") >= threshold)
  }

  /** Bloom-filter contamination check, gated against the exact broadcast
    * twin ([[contamination]]): zero missed docs (no-false-negatives is
    * structural — a miss means the filter is broken), zero per-doc hit
    * undercounts, and a precision floor on the flagged set (false
    * positives come only from fpp-inflated borderline docs). */
  val contaminationBloom: Q = Q.gated("text_contamination_bloom") { (s, d) =>
    // 8192 comfortably over-sizes the fixture cohort's ~450 raw shingles
    // (over-sizing only tightens the realized fpp) and skips the count
    // pass a production caller wouldn't pay either
    contaminationBloomVs(Tables.documents(s, d),
      col("doc_id") % 100 === 7, threshold = 0.05, fpp = 1e-4,
      expectedItems = Some(8192L))
  } { (s, d, res) =>
    val exact = contaminationVs(Tables.documents(s, d),
        col("doc_id") % 100 === 7, threshold = 0.05)
      .select(col("doc_id"), col("n_hit").as("n_hit_exact")).cache()
    val nExact = exact.count()
    val missed = exact.join(res, Seq("doc_id"), "left_anti").count()
    val nBloom = res.count()
    val both = res.join(exact, "doc_id").cache()
    val nBoth = both.count()
    val under = both.where(col("n_hit") < col("n_hit_exact")).count()
    val precision = if (nBloom == 0) 1.0 else nBoth.toDouble / nBloom
    exact.unpersist(); both.unpersist()
    Seq(
      Gate("exact_docs_flagged", nExact.toDouble, nExact > 0),
      Gate("missed_exact_docs", missed.toDouble, missed == 0),
      Gate("undercounted_docs", under.toDouble, under == 0),
      Gate("precision_vs_exact", precision, precision >= 0.8))
  }

  /** Span-level decontamination: WHICH character ranges of a corpus doc
    * are verbatim copies of benchmark text, via the same fixed-width
    * content-hash windows as [[graft.ops.Dedup.dupSpans]] restricted to
    * (corpus, benchmark) evidence. Doc-level contamination
    * ([[contaminationVs]]) answers "drop this doc?"; this answers "or
    * cut just these spans?" — the surgical option of Lee et al. 2022
    * applied to eval-overlap. Returns only contaminated docs:
    * (doc_id, n_windows, n_contam_windows, contam_frac,
    * first_contam_pos — 1-based char offset of the earliest hit).
    *
    * Stride alignment matters: a strided corpus window only matches a
    * strided benchmark window when the copy's offset shift is ≡ 0 mod
    * the stride — so the BENCHMARK side defaults to stride 1 (every
    * position hashed: any-offset copies are caught) while the corpus
    * side stays strided. Eval suites are small, so the windowChars×
    * growth on the bench side is cheap; Lee et al.'s suffix arrays get
    * the same sensitivity without the growth at far higher machinery
    * cost. A unit test pins the shifted-copy case this asymmetry exists
    * for.
    *
    * Scale shape: one windowing projection per side (corpus growth ≈
    * windowChars/stride ×, fixed-width md5 keys), the benchmark hash
    * set broadcast (small by nature, like the doc-level exact form),
    * two key-partitioned aggregations. No all-pairs. */
  /** (doc_id, p, w): every `windowChars`-wide window of `side`'s text at
    * stride `step`, 1-based positions — the shared windowing projection
    * of the span-decontamination family. */
  private def spanWindows(side: org.apache.spark.sql.DataFrame,
      windowChars: Int, step: Int) =
    side
      .where(col("text").isNotNull && length(col("text")) >= windowChars)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (windowChars - 1),
          lit(step))).as("p"),
        col("text"))
      .select(col("doc_id"), col("p"),
        col("text").substr(col("p"), lit(windowChars)).as("w"))

  def contaminationSpansVs(docs: org.apache.spark.sql.DataFrame,
      isBench: org.apache.spark.sql.Column,
      windowChars: Int = 40, stride: Int = 10, benchStride: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    require(windowChars >= 1 && stride >= 1 && benchStride >= 1,
      s"window parameters must be positive, got ($windowChars, $stride, $benchStride)")
    def windows(side: org.apache.spark.sql.DataFrame, step: Int) =
      spanWindows(side, windowChars, step)
        .select(col("doc_id"), col("p"), md5(col("w")).as("h"))
    val benchH = windows(docs.where(isBench), benchStride)
      .select("h").distinct()
    val corpus = windows(docs.where(!isBench), stride).cache()
    val tot = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val hit = corpus.join(broadcast(benchH), "h")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_contam_windows"),
        min(col("p")).as("first_contam_pos"))
    // inner join: the output is the contaminated docs, with their spans
    tot.join(hit, "doc_id")
      .select(col("doc_id"), col("n_windows"), col("n_contam_windows"),
        (col("n_contam_windows").cast("double") / col("n_windows"))
          .as("contam_frac"),
        col("first_contam_pos"))
  }

  /** Bloom-sketch form of [[contaminationSpansVs]] — the span
    * decontamination path for eval suites too large to broadcast as a
    * hash-join side. The exact span form's benchmark side is STRIDE 1
    * (every character position hashed, so any-offset copies are caught),
    * which makes its broadcast set |suite chars| entries — a window-hash
    * set that outgrows a broadcastable join side long before the
    * doc-level shingle set does (a 1 GB suite is ~10⁹ hashes ≈ 32 GB of
    * md5 strings). Here the benchmark windows go into a
    * [[org.apache.spark.util.sketch.BloomFilter]] over their xxhash64
    * (long membership — cheaper to build and probe than strings; the
    * 64-bit pre-hash adds a ~2⁻⁶⁴-per-pair collision floor, far below
    * any practical fpp), built by Spark's native sketch aggregate
    * (~19 bits/item at fpp 1e-4), and the corpus side filters by
    * membership before its aggregation. No false negatives is structural
    * (bloom + the total-window count comes from the unfiltered corpus
    * frame); false positives inflate per-doc hit counts by ≈ fpp·windows
    * — both gated per round against the exact twin. `expectedItems` is
    * the raw (pre-distinct) benchmark window count — a production caller
    * knows |suite chars| and should pass it to skip the counting pass;
    * over-estimating only lowers the realized fpp. Returns the same
    * schema as the exact form. The internal corpus-window frame is
    * cached for the tot/hit double consumption and released by storage
    * LRU (same lifetime contract as [[contaminationVs]]/the sketch
    * family — Bench clears cache between queries). */
  def contaminationSpansBloomVs(docs: org.apache.spark.sql.DataFrame,
      isBench: org.apache.spark.sql.Column,
      windowChars: Int = 40, stride: Int = 10, benchStride: Int = 1,
      fpp: Double = 1e-4, expectedItems: Option[Long] = None)
      : org.apache.spark.sql.DataFrame = {
    require(windowChars >= 1 && stride >= 1 && benchStride >= 1,
      s"window parameters must be positive, got ($windowChars, $stride, $benchStride)")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    def windows(side: org.apache.spark.sql.DataFrame, step: Int) =
      spanWindows(side, windowChars, step)
        .select(col("doc_id"), col("p"), xxhash64(col("w")).as("h"))
    val bloomB = graft.functions.Sketches.longBloom(
      windows(docs.where(isBench), benchStride).select("h"), "h", fpp, expectedItems)
    val mightContain = graft.functions.Sketches.mightContainLong(bloomB)
    val corpus = windows(docs.where(!isBench), stride).cache()
    val tot = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val hit = corpus.where(mightContain(col("h")))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_contam_windows"),
        min(col("p")).as("first_contam_pos"))
    tot.join(hit, "doc_id")
      .select(col("doc_id"), col("n_windows"), col("n_contam_windows"),
        (col("n_contam_windows").cast("double") / col("n_windows"))
          .as("contam_frac"),
        col("first_contam_pos"))
  }

  /** Bloom span decontamination, gated against the exact span twin
    * ([[contaminationSpansVs]] at the same window geometry): zero missed
    * docs (false negatives are structurally impossible), zero per-doc
    * window undercounts, and a precision floor on the flagged set. */
  val contaminationSpansBloom: Q = Q.gated("text_contamination_spans_bloom") { (s, d) =>
    // fixture cohort's bench branch is ~5 docs ≈ 2.2k stride-1 windows;
    // 65536 over-sizes it (tighter realized fpp) and skips the count pass
    contaminationSpansBloomVs(Tables.documents(s, d),
      col("doc_id") % 100 === 7, windowChars = 16, stride = 4,
      fpp = 1e-4, expectedItems = Some(65536L))
  } { (s, d, res) =>
    val exact = contaminationSpansVs(Tables.documents(s, d),
        col("doc_id") % 100 === 7, windowChars = 16, stride = 4)
      .select(col("doc_id"), col("n_contam_windows").as("n_exact")).cache()
    val nExact = exact.count()
    val missed = exact.join(res, Seq("doc_id"), "left_anti").count()
    val nBloom = res.count()
    val both = res.join(exact, "doc_id").cache()
    val nBoth = both.count()
    val under = both.where(col("n_contam_windows") < col("n_exact")).count()
    val precision = if (nBloom == 0) 1.0 else nBoth.toDouble / nBloom
    exact.unpersist(); both.unpersist()
    Seq(
      Gate("exact_docs_flagged", nExact.toDouble, nExact > 0),
      Gate("missed_exact_docs", missed.toDouble, missed == 0),
      Gate("undercounted_docs", under.toDouble, under == 0),
      Gate("precision_vs_exact", precision, precision >= 0.8))
  }

  /** Span-level decontamination query — 16-char windows, corpus stride 4,
    * benchmark stride 1 (the library's corpus default is Lee et al.'s
    * 40/10; the synthetic fixture's short docs need tighter windows for
    * the query to exercise a meaningful surface: 163 docs / 300 windows
    * here vs 1 doc at 40-char windows). */
  val contaminationSpans: Q = Q(
    "text_contamination_spans",
    """WITH bh AS (
      |  SELECT DISTINCT md5(substr(text, CAST(p AS INTEGER), 16)) AS h
      |  FROM (
      |    SELECT text, unnest(generate_series(1, length(text) - 15, 1)) AS p
      |    FROM documents
      |    WHERE doc_id % 100 = 7 AND text IS NOT NULL AND length(text) >= 16)),
      |c AS (
      |  SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), 16)) AS h
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(1, length(text) - 15, 4)) AS p
      |    FROM documents
      |    WHERE doc_id % 100 <> 7 AND text IS NOT NULL AND length(text) >= 16)),
      |tot AS (SELECT doc_id, count(*) AS n_windows FROM c GROUP BY 1),
      |hit AS (SELECT c.doc_id, count(*) AS n_contam_windows,
      |               CAST(min(p) AS INTEGER) AS first_contam_pos
      |        FROM c JOIN bh USING (h) GROUP BY 1)
      |SELECT tot.doc_id AS doc_id, n_windows, n_contam_windows,
      |  CAST(n_contam_windows AS DOUBLE) / n_windows AS contam_frac,
      |  first_contam_pos
      |FROM tot JOIN hit ON tot.doc_id = hit.doc_id""".stripMargin
  ) { (s, d) =>
    contaminationSpansVs(Tables.documents(s, d),
      col("doc_id") % 100 === 7, windowChars = 16, stride = 4)
  }

  /** Gopher-style document-quality rule filter (Rae et al. 2021, §A1.1
    * "MassiveWeb" rules), the standard pre-training hygiene pass: keep a
    * document only if its token count, mean token length, alphanumeric
    * ratio, stopword evidence, and trigram repetition all sit in the
    * prose band. Bounds are the paper's shape with the word-count floor
    * scaled to the fixture's short documents (20 vs Gopher's 50). Every
    * signal reuses an already-oracle-matched expression (text_stats,
    * text_repetition), and the whole pass is a codegen'd projection +
    * filter — zero shuffles, so at 100 TB it runs at scan speed and
    * Catalyst prunes `documents` to (doc_id, text) at the parquet scan. */
  val gopherFilter: Q = Q(
    "text_gopher_filter",
    """WITH t AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS INTEGER) AS n_tokens,
      |    CAST(length(array_to_string(toks, '')) AS DOUBLE)
      |      / greatest(len(toks), 1) AS mean_tok_len,
      |    CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |      / greatest(length(text), 1) AS alnum_ratio,
      |    CAST(len(list_filter(toks, tk -> list_contains(
      |      ['the','and','of','to','is','in','that','it','for','with','was','are'],
      |      tk))) AS INTEGER) AS stop_hits,
      |    CASE WHEN len(toks) >= 3 THEN
      |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
      |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS DOUBLE)
      |        / (len(toks) - 2)
      |    ELSE 0.0 END AS repetition
      |  FROM t)
      |SELECT doc_id, n_tokens, mean_tok_len, alnum_ratio, stop_hits, repetition
      |FROM m
      |WHERE n_tokens BETWEEN 20 AND 5000 AND mean_tok_len BETWEEN 3 AND 10
      |  AND alnum_ratio >= 0.6 AND stop_hits >= 2
      |  AND repetition <= 0.05""".stripMargin
  ) { (s, d) => gopherRules(Tables.documents(s, d)) }

  /** Appends the five Gopher rule metrics to `docs` (original columns
    * kept). Stateless projection — the same code runs batch AND
    * streaming ([[graft.streaming.DocsStream]]). */
  def gopherMetrics(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // tokenize once (see langQuality: CSE skips higher-order functions)
    docs
      .withColumn("_toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("_toks")))
      .withColumn("mean_tok_len",
        length(concat_ws("", col("_toks"))).cast("double") /
          greatest(size(col("_toks")), lit(1)))
      .withColumn("alnum_ratio", alnumRatio(col("text")))
      .withColumn("stop_hits", markerHits(col("_toks"), "en"))
      .withColumn("repetition", repetitionScoreFromTokens(col("_toks")))
      .drop("_toks")

  /** The rule-band predicate over [[gopherMetrics]] columns; bounds are
    * parameters so a production corpus can use the paper's originals
    * (minTokens=50). */
  def gopherPass(
      minTokens: Int = 20, maxTokens: Int = 5000,
      minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 10.0,
      minAlnumRatio: Double = 0.6, minStopHits: Int = 2,
      maxRepetition: Double = 0.05): org.apache.spark.sql.Column =
    col("n_tokens").between(minTokens, maxTokens) &&
      col("mean_tok_len").between(minMeanTokLen, maxMeanTokLen) &&
      col("alnum_ratio") >= minAlnumRatio &&
      col("stop_hits") >= minStopHits &&
      col("repetition") <= maxRepetition

  /** Library form of the Gopher rule filter (see [[gopherFilter]]). */
  def gopherRules(docs: org.apache.spark.sql.DataFrame,
      minTokens: Int = 20, maxTokens: Int = 5000,
      minMeanTokLen: Double = 3.0, maxMeanTokLen: Double = 10.0,
      minAlnumRatio: Double = 0.6, minStopHits: Int = 2,
      maxRepetition: Double = 0.05): org.apache.spark.sql.DataFrame =
    gopherMetrics(docs)
      .where(gopherPass(minTokens, maxTokens, minMeanTokLen, maxMeanTokLen,
        minAlnumRatio, minStopHits, maxRepetition))
      .select("doc_id", "n_tokens", "mean_tok_len", "alnum_ratio",
        "stop_hits", "repetition")

  /** Corpus-level paragraph dedup (RefinedWeb / MassiveText line dedup,
    * Penedo et al. 2023 §4.2): a paragraph occurring in many documents
    * (boilerplate, licence footers, nav text) is kept only at its FIRST
    * occurrence — (doc_id, position) order — and dropped everywhere
    * else; each document is then reassembled from its surviving
    * paragraphs in original order. `scope` columns narrow the dedup
    * universe (RefinedWeb's variant dedups lines per SOURCE, not
    * corpus-wide — pass `Seq("source")`; empty = corpus-wide).
    * `text` is split on newlines. Returns
    * (doc_id, n_paras, n_kept, clean_md5 of the reassembled text) for
    * every document — the md5 proves the reconstruction, not just the
    * counts, is identical cross-engine.
    *
    * Scale shape: winners come from the native `keep_first` aggregate
    * per paragraph hash — a hash-aggregating groupBy, NOT a
    * `row_number()` window: a boilerplate line occurring 10⁹ times lands
    * its whole partition on one task under a window sort, while the
    * aggregate's partial phase collapses each map partition's
    * occurrences to one buffered row before the shuffle (same skew
    * discipline as q27_salted_agg), bounding the reduce side at
    * #partitions rows per key. `keep_first` exists because the
    * declarative spelling `min(struct(doc_id, p, line))` falls back to
    * SortAggregate (struct is not a mutable buffer type) and the window
    * spelling single-tasks the hot key — both measured and rejected on
    * the 200k-doc skew probe (SCALING.md). Carrying the line THROUGH
    * the aggregate (md5-equal ⟹ byte-equal, so (doc_id, p) decides)
    * means the winner rows ARE the surviving paragraphs — no join back
    * to the occurrence stream. What remains: two doc_id-partitioned
    * aggregations (survivor reassembly, per-doc totals) and their
    * co-partitioned assembly join. No all-pairs, no driver state. */
  def paragraphDedup(docs: org.apache.spark.sql.DataFrame,
      scope: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.KeepFirst
    val lines = docs
      .where(col("text").isNotNull)
      .select(col("doc_id") +: scope.map(col) :+
        posexplode(split(col("text"), "\n")).as(Seq("p", "line")): _*)
    // `scope` narrows the dedup universe (RefinedWeb's per-SOURCE line
    // dedup: a licence footer shared by two crawls survives once in
    // EACH source): scope columns simply join the grouping key, so the
    // skew discipline below is unchanged — a hot line now bounds per
    // (scope, hash) instead of per hash, which only helps.
    val winners = lines
      .groupBy(scope.map(col) :+ md5(col("line")).as("h"): _*)
      .agg(KeepFirst.keepFirst(col("doc_id"), col("p"), col("line")).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.p").as("p"),
        col("w.payload").as("line"))
    val kept = winners.groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_kept"),
        // survivors reassemble in original order (p is unique per doc)
        md5(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("line")))),
          x => x.getField("line")), "\n")).as("clean_md5"))
    // per-doc totals come from the docs frame as a narrow projection —
    // size(split(...)) — NOT a second pass over the exploded line stream
    // (which would re-tokenize the corpus and shuffle |lines| rows for a
    // |docs|-row answer)
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), size(split(col("text"), "\n")).as("n_paras"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** Per-source boilerplate line removal (the CCNet/RefinedWeb
    * boilerplate heuristic, distinct from [[paragraphDedup]]'s
    * keep-first): a line is boilerplate WITHIN a source when it appears
    * in at least `minDf` documents AND in more than `ratioNum/ratioDen`
    * of the source's documents — template headers, cookie banners,
    * nav text. Unlike keep-first dedup, EVERY occurrence is cut
    * (including the first): boilerplate is noise, not content with an
    * owner. The ratio test is integer cross-multiplication
    * (`df·den > nd·num`), so both engines decide identically with no
    * float division.
    *
    * Scale shape: line doc-frequency is a per-(source, line-hash)
    * distinct-doc aggregation (hashes, not raw lines, through the
    * shuffle); per-source doc counts are a catalog-sized side that AQE
    * broadcasts; the flag join is a (source, hash) equi-join; rebuild
    * is one doc-keyed aggregation. A 10⁹-doc hot line costs its
    * distinct-partial per map task, never a driver collect. Output:
    * (doc_id, n_lines, n_removed, clean_md5) — md5 of the rebuilt text
    * so the cut is verified byte-exactly; a fully-boilerplate doc
    * hashes the empty string. */
  def boilerplateScrub(docs: org.apache.spark.sql.DataFrame, minDf: Int = 3,
      ratioNum: Int = 1, ratioDen: Int = 10): org.apache.spark.sql.DataFrame = {
    val base = docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
    val lines = base
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\n")).as(Seq("p", "line")))
      .withColumn("h", md5(col("line")))
    val srcDocs = base.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val boiler = lines.groupBy("source", "h")
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(srcDocs, "source")
      .where(col("df") >= minDf && col("df") * ratioDen > col("nd") * ratioNum)
      .select(col("source"), col("h"), lit(1).as("_b"))
    lines.join(boiler, Seq("source", "h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("_b").isNotNull, 1).otherwise(0)).cast("int").as("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("_b").isNull, struct(col("p"), col("line"))))),
          x => x.getField("line")), "\n")).as("clean_md5"))
  }

  /** Boilerplate-scrub query over the same derived multi-line corpus as
    * [[paragraphDedupQ]] (planted header in every doc_id%3 == 0 doc,
    * footer in every %7 == 0 — both far above the 10% source threshold),
    * oracle-replicated end-to-end including the byte-exact rebuild. */
  val boilerplateScrubQ: Q = Q(
    "text_boilerplate_scrub",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |l0 AS (
      |  SELECT doc_id, source,
      |    list_transform(range(0, greatest(CAST(ceil(len(toks) / 6.0) AS INTEGER), 1)),
      |      i -> array_to_string(toks[i*6+1:i*6+6], ' ')) AS ls
      |  FROM t),
      |page AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 3 = 0
      |       THEN ['subscribe to our newsletter for updates'] ELSE [] END)
      |    || ls ||
      |    (CASE WHEN doc_id % 7 = 0
      |       THEN ['all rights reserved contact us for details'] ELSE [] END) AS ls
      |  FROM l0),
      |lines AS (
      |  SELECT doc_id, source, unnest(ls) AS line, generate_subscripts(ls, 1) AS p
      |  FROM page),
      |nd AS (SELECT source, count(DISTINCT doc_id) AS nd FROM page GROUP BY 1),
      |ldf AS (SELECT source, line, count(DISTINCT doc_id) AS df
      |        FROM lines GROUP BY 1, 2),
      |b AS (SELECT ldf.source, ldf.line FROM ldf JOIN nd USING (source)
      |      WHERE df >= 3 AND df * 10 > nd * 1)
      |SELECT l.doc_id,
      |  CAST(count(*) AS INTEGER) AS n_lines,
      |  CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
      |  md5(coalesce(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
      |      chr(10) ORDER BY l.p), '')) AS clean_md5
      |FROM lines l LEFT JOIN b ON l.source = b.source AND l.line = b.line
      |GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val nChunks = greatest(ceil(size(col("_t")) / lit(6.0)).cast("int"), lit(1))
    val emptyArr = array().cast("array<string>")
    val derived = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
      .select(col("doc_id"), col("source"),
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("_t"), i * 6 + 1, lit(6)), " ")).as("_l0"))
      .select(col("doc_id"), col("source"),
        array_join(concat(
          when(col("doc_id") % 3 === 0,
            array(lit("subscribe to our newsletter for updates"))).otherwise(emptyArr),
          col("_l0"),
          when(col("doc_id") % 7 === 0,
            array(lit("all rights reserved contact us for details"))).otherwise(emptyArr)),
          "\n").as("text"))
    boilerplateScrub(derived)
  }

  /** Paragraph-dedup query. The fixture is single-line, so the corpus is
    * first derived deterministically (c4Clean precedent): 6-token chunks
    * as paragraphs, plus a shared boilerplate line prepended to every
    * doc_id % 3 == 0 document and another appended to every % 7 == 0 —
    * real cross-document duplicates with known first owners, on top of
    * whatever 6-token chunks collide naturally. The oracle replicates
    * derivation + keep-first + reassembly; docs whose every paragraph is
    * dropped hash the empty string on both engines. */
  val paragraphDedupQ: Q = Q(
    "text_paragraph_dedup",
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |l0 AS (
      |  SELECT doc_id,
      |    list_transform(range(0, greatest(CAST(ceil(len(toks) / 6.0) AS INTEGER), 1)),
      |      i -> array_to_string(toks[i*6+1:i*6+6], ' ')) AS ls
      |  FROM t),
      |page AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0
      |       THEN ['subscribe to our newsletter for updates'] ELSE [] END)
      |    || ls ||
      |    (CASE WHEN doc_id % 7 = 0
      |       THEN ['all rights reserved contact us for details'] ELSE [] END) AS ls
      |  FROM l0),
      |lines AS (
      |  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS p
      |  FROM page),
      |ranked AS (
      |  SELECT doc_id, p, line,
      |    row_number() OVER (PARTITION BY line ORDER BY doc_id, p) AS rn
      |  FROM lines)
      |SELECT doc_id,
      |  CAST(count(*) AS INTEGER) AS n_paras,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
      |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY p),
      |               '')) AS clean_md5
      |FROM ranked GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val nChunks = greatest(ceil(size(col("_t")) / lit(6.0)).cast("int"), lit(1))
    val emptyArr = array().cast("array<string>")
    val derived = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
      .select(col("doc_id"),
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("_t"), i * 6 + 1, lit(6)), " ")).as("_l0"))
      .select(col("doc_id"),
        array_join(concat(
          when(col("doc_id") % 3 === 0,
            array(lit("subscribe to our newsletter for updates"))).otherwise(emptyArr),
          col("_l0"),
          when(col("doc_id") % 7 === 0,
            array(lit("all rights reserved contact us for details"))).otherwise(emptyArr)),
          "\n").as("text"))
    paragraphDedup(derived)
  }

  /** Per-SOURCE paragraph dedup — RefinedWeb's variant of
    * [[paragraphDedupQ]] (scope = source, not corpus): the planted
    * header/footer boilerplate survives once in EVERY source rather
    * than once corpus-wide. Same derived fixture, same keep-first
    * discipline; only the dedup universe changes. */
  val paragraphDedupBySourceQ: Q = Q(
    "text_paragraph_dedup_by_source",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |l0 AS (
      |  SELECT doc_id, source,
      |    list_transform(range(0, greatest(CAST(ceil(len(toks) / 6.0) AS INTEGER), 1)),
      |      i -> array_to_string(toks[i*6+1:i*6+6], ' ')) AS ls
      |  FROM t),
      |page AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 3 = 0
      |       THEN ['subscribe to our newsletter for updates'] ELSE [] END)
      |    || ls ||
      |    (CASE WHEN doc_id % 7 = 0
      |       THEN ['all rights reserved contact us for details'] ELSE [] END) AS ls
      |  FROM l0),
      |lines AS (
      |  SELECT doc_id, source, unnest(ls) AS line, generate_subscripts(ls, 1) AS p
      |  FROM page),
      |ranked AS (
      |  SELECT doc_id, p, line,
      |    row_number() OVER (PARTITION BY source, line ORDER BY doc_id, p) AS rn
      |  FROM lines)
      |SELECT doc_id,
      |  CAST(count(*) AS INTEGER) AS n_paras,
      |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_kept,
      |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY p),
      |               '')) AS clean_md5
      |FROM ranked GROUP BY 1""".stripMargin
  ) { (s, d) =>
    val nChunks = greatest(ceil(size(col("_t")) / lit(6.0)).cast("int"), lit(1))
    val emptyArr = array().cast("array<string>")
    val derived = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
      .select(col("doc_id"), col("source"),
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("_t"), i * 6 + 1, lit(6)), " ")).as("_l0"))
      .select(col("doc_id"), col("source"),
        array_join(concat(
          when(col("doc_id") % 3 === 0,
            array(lit("subscribe to our newsletter for updates"))).otherwise(emptyArr),
          col("_l0"),
          when(col("doc_id") % 7 === 0,
            array(lit("all rights reserved contact us for details"))).otherwise(emptyArr)),
          "\n").as("text"))
    paragraphDedup(derived, scope = Seq("source"))
  }

  /** Surgical span decontamination — the ACTIONABLE half of
    * [[contaminationSpansVs]] (Lee et al. 2022 apply the same idea to
    * dup spans): instead of reporting which windows of a corpus document
    * are verbatim benchmark copies, CUT them. Overlapping/adjacent
    * contaminated windows ([p, p+windowChars−1] evidence from the same
    * windowing as the detection pass) are merged into maximal spans via
    * gaps-and-islands — fixed window width makes span ends monotone in
    * p, so "new island when p > lag(p) + windowChars" is exact — and the
    * document is rebuilt from the inter-span segments. Returns only
    * contaminated docs: (doc_id, n_spans, chars_removed, scrub_md5); the
    * md5 is over the rebuilt text, so the oracle verifies the cut
    * byte-exactly, not just the span arithmetic. A doc whose entire text
    * is contaminated hashes the empty string.
    *
    * Scale shape: detection is the exact-span plan (strided corpus
    * windows, broadcast benchmark hash set); island numbering + segment
    * derivation are doc_id-partitioned window functions over the HIT
    * rows only (hits ≪ windows); the rebuild joins segments back to the
    * doc text on doc_id and aggregates once. No all-pairs, no driver
    * state. For benchmark sets past broadcast size, swap the detection
    * join for the bloom path ([[contaminationSpansBloomVs]]) — fpp then
    * bounds the probability of an extra cut span, never a missed one. */
  def scrubContaminatedSpans(docs: org.apache.spark.sql.DataFrame,
      isBench: org.apache.spark.sql.Column,
      windowChars: Int = 40, stride: Int = 10, benchStride: Int = 1)
      : org.apache.spark.sql.DataFrame = {
    require(windowChars >= 1 && stride >= 1 && benchStride >= 1,
      s"window parameters must be positive, got ($windowChars, $stride, $benchStride)")
    def windows(side: org.apache.spark.sql.DataFrame, step: Int) =
      spanWindows(side, windowChars, step)
        .select(col("doc_id"), col("p"), md5(col("w")).as("h"))
    val benchH = windows(docs.where(isBench), benchStride).select("h").distinct()
    val corpusDocs = docs.where(!isBench)
    val hits = windows(corpusDocs, stride)
      .join(broadcast(benchH), "h").select("doc_id", "p")
    scrubHitWindows(hits, corpusDocs, windowChars)
  }

  /** Shared back half of the span-scrub family: merge hit windows
    * [p, p+windowChars−1] into maximal spans per doc (gaps-and-islands;
    * fixed width ⇒ ends monotone in p ⇒ the lag-based break is exact),
    * cut them, and rebuild each doc from its inter-span segments.
    * `hits` is (doc_id, p) — the EXCEPTION rows, orders of magnitude
    * smaller than the window stream, so every window function here is
    * doc_id-partitioned over a small frame. Returns only docs with ≥1
    * span: (doc_id, n_spans, chars_removed, scrub_md5); a doc cut in
    * full hashes the empty string. */
  private def scrubHitWindows(hits: org.apache.spark.sql.DataFrame,
      docsSide: org.apache.spark.sql.DataFrame, windowChars: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byP = Window.partitionBy("doc_id").orderBy("p")
    val cum = byP.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = hits
      .withColumn("brk",
        when(lag(col("p"), 1).over(byP).isNull ||
          col("p") > lag(col("p"), 1).over(byP) + windowChars, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(cum))
      .groupBy("doc_id", "island")
      .agg(min(col("p")).as("s"), (max(col("p")) + (windowChars - 1)).as("e"))
    val byS = Window.partitionBy("doc_id").orderBy("s")
    // one kept segment BEFORE each span + one tail segment per doc; empty
    // segments (back-to-back spans, span at either text edge) filter out
    val pre = spans.select(col("doc_id"),
      (coalesce(lag(col("e"), 1).over(byS), lit(0)) + 1).as("gs"),
      (col("s") - 1).as("ge"))
    val tail = spans.groupBy("doc_id")
      .agg((max(col("e")) + 1).as("gs"))
      .withColumn("ge", lit(null).cast("int"))
    val segs = pre.unionByName(tail)
      .join(docsSide.select(col("doc_id"), col("text")), "doc_id")
      .withColumn("ge", coalesce(col("ge"), length(col("text"))))
      .where(col("ge") >= col("gs"))
      .select(col("doc_id"), col("gs"),
        col("text").substr(col("gs").cast("int"),
          (col("ge") - col("gs") + 1).cast("int")).as("seg"))
    val scrub = segs.groupBy("doc_id")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("gs"), col("seg")))),
        x => x.getField("seg")), "")).as("scrub_md5"))
    spans.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        sum(col("e") - col("s") + 1).cast("int").as("chars_removed"))
      .join(scrub, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"), col("chars_removed"),
        coalesce(col("scrub_md5"), md5(lit(""))).as("scrub_md5"))
  }

  /** Cross-document duplicated-substring REMOVAL — the full Lee et al.
    * 2022 semantics that [[graft.ops.Dedup.dupSpans]] only detects: every
    * window of text that already occurred earlier in the corpus (by
    * (doc_id, position) order, across OR within documents) is cut, and
    * the first occurrence is kept. Ownership is the same keep-first
    * discipline as [[paragraphDedup]], at window rather than paragraph
    * granularity: winners per window hash via a primitive min-chain
    * (`min(p)` per (hash, doc), then `min(doc_id)` per hash — two
    * codegen'd HashAggregates whose map-side partials collapse a
    * boilerplate window occurring 10⁹ times to one row per partition),
    * losers rejoin the window stream by hash (key equi-join, AQE splits
    * hot hashes) and feed the shared island-merge + rebuild. Same stride
    * caveat as dupSpans: copies at offset shifts ≢ 0 (mod stride) are
    * invisible — stride 1 catches everything at windowChars× the window
    * volume; suffix arrays (Lee et al.) get that sensitivity cheaper on
    * a single machine but don't shuffle. Returns only docs that lost
    * ≥1 window: (doc_id, n_spans, chars_removed, scrub_md5). */
  def scrubDupSpans(docs: org.apache.spark.sql.DataFrame,
      windowChars: Int = 40, stride: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(windowChars >= 1 && stride >= 1,
      s"window parameters must be positive, got ($windowChars, $stride)")
    val w = spanWindows(docs, windowChars, stride)
      .select(col("doc_id"), col("p"), md5(col("w")).as("h"))
    // Ownership is a primitive-only min-chain, measured against three
    // rejected shapes on the sf0.1 documents fixture (1.25M windows, an
    // atypically hot 18% dup rate; identical 132,075-loser output on
    // all four): (a) the native keep_first TypedImperativeAggregate over
    // the full stream, 5.9-6.3 s — an object aggregate across ~1.2M
    // near-unique groups falls back to sort-based aggregation; (b)
    // keep_first on a count>1-prefiltered stream, 8.8 s cold — two
    // passes over the window stream plus the TIA; (c) a
    // row_number-over-hash window, 1.7 s here but single-tasks every
    // boilerplate-hot hash — the exact skew this operator exists to
    // absorb, rejected on shape; (d) this chain, ~2.0 s warm: min(p)
    // per (h, doc) then min(doc_id) per hash, both codegen'd
    // HashAggregates with map-side partials, so a 10⁹-copy boilerplate
    // window costs one row per map partition and AQE splits whatever
    // survives to the reduce side. The tot>1 prefilter keeps the
    // winner-position join build side at |duplicated hashes| ≈ the
    // corpus dup rate (1-3% on real crawls, Lee et al. 2022), not
    // |distinct windows|.
    val s1 = w.groupBy("h", "doc_id")
      .agg(min(col("p")).as("p0"), count(lit(1)).as("cnt"))
    val winnerDoc = s1.groupBy("h")
      .agg(min(col("doc_id")).as("w_doc"), sum(col("cnt")).as("tot"))
      .where(col("tot") > 1).select("h", "w_doc")
    val winners = s1.join(winnerDoc, "h")
      .where(col("doc_id") === col("w_doc"))
      .select(col("h"), col("w_doc"), col("p0").as("w_p"))
    val losers = w.join(winners, "h")
      .where(col("doc_id") =!= col("w_doc") || col("p") =!= col("w_p"))
      .select("doc_id", "p")
    scrubHitWindows(losers, docs, windowChars)
  }

  /** Shared SQL tail of the two scrub oracles — the DuckDB mirror of
    * [[scrubHitWindows]] (island merge over a (doc_id, p) hit CTE,
    * segment rebuild, final assembly), in ONE place so a boundary fix
    * cannot be applied to only one oracle. `hitsFrom` is the CTE/subquery
    * producing the hit rows; `windowChars` fixes the width arithmetic. */
  private def scrubTailSql(hitsFrom: String, windowChars: Int): String =
    s"""hits AS (
       |  SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
       |           OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + $windowChars
       |         THEN 1 ELSE 0 END AS brk
       |  FROM $hitsFrom),
       |isl AS (
       |  SELECT doc_id, p,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY p
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM hits),
       |spans AS (
       |  SELECT doc_id, island, min(p) AS s, max(p) + ${windowChars - 1} AS e
       |  FROM isl GROUP BY 1, 2),
       |segs0 AS (
       |  SELECT doc_id,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
       |    CAST(s - 1 AS BIGINT) AS ge
       |  FROM spans
       |  UNION ALL
       |  SELECT doc_id, max(e) + 1 AS gs, NULL AS ge FROM spans GROUP BY doc_id),
       |segs AS (
       |  SELECT g.doc_id, gs,
       |    substr(d.text, CAST(gs AS INTEGER),
       |           CAST(coalesce(ge, length(d.text)) - gs + 1 AS INTEGER)) AS seg
       |  FROM segs0 g JOIN documents d USING (doc_id)
       |  WHERE coalesce(ge, length(d.text)) >= gs),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans,
       |    CAST(sum(e - s + 1) AS INTEGER) AS chars_removed
       |  FROM spans GROUP BY 1),
       |scrub AS (
       |  SELECT doc_id,
       |    md5(coalesce(string_agg(seg, '' ORDER BY gs), '')) AS scrub_md5
       |  FROM segs GROUP BY doc_id)
       |SELECT a.doc_id AS doc_id, n_spans, chars_removed,
       |  coalesce(scrub_md5, md5('')) AS scrub_md5
       |FROM agg a LEFT JOIN scrub USING (doc_id)""".stripMargin

  /** Dup-span removal query — window geometry matched to
    * [[contaminationSpans]] (16 chars, stride 4) for the same
    * short-fixture reason; named into the dedup family it completes
    * (detect: dedup_substring_spans → act: this). */
  val dedupSpanScrub: Q = Q(
    "dedup_span_scrub",
    """WITH wins AS (
      |  SELECT doc_id, p, h,
      |    row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
      |  FROM (
      |    SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), 16)) AS h
      |    FROM (
      |      SELECT doc_id, text, unnest(generate_series(1, length(text) - 15, 4)) AS p
      |      FROM documents WHERE text IS NOT NULL AND length(text) >= 16))),
      |losers AS (SELECT doc_id, p FROM wins WHERE rn > 1),
      |""".stripMargin + scrubTailSql("losers", 16)
  ) { (s, d) =>
    scrubDupSpans(Tables.documents(s, d), windowChars = 16, stride = 4)
  }

  /** Span-scrub query — same window geometry as [[contaminationSpans]]
    * (16-char windows, corpus stride 4, benchmark stride 1) so the two
    * queries describe the same evidence; this one performs the cut. */
  val spanScrub: Q = Q(
    "text_span_scrub",
    """WITH bh AS (
      |  SELECT DISTINCT md5(substr(text, CAST(p AS INTEGER), 16)) AS h
      |  FROM (
      |    SELECT text, unnest(generate_series(1, length(text) - 15, 1)) AS p
      |    FROM documents
      |    WHERE doc_id % 100 = 7 AND text IS NOT NULL AND length(text) >= 16)),
      |c AS (
      |  SELECT doc_id, p, md5(substr(text, CAST(p AS INTEGER), 16)) AS h
      |  FROM (
      |    SELECT doc_id, text,
      |      unnest(generate_series(1, length(text) - 15, 4)) AS p
      |    FROM documents
      |    WHERE doc_id % 100 <> 7 AND text IS NOT NULL AND length(text) >= 16)),
      |""".stripMargin + scrubTailSql("(SELECT doc_id, p FROM c JOIN bh USING (h))", 16)
  ) { (s, d) =>
    scrubContaminatedSpans(Tables.documents(s, d),
      col("doc_id") % 100 === 7, windowChars = 16, stride = 4)
  }

  /** Global heavy-hitter word n-grams — the corpus-frequency census a
    * tokenizer/vocab-induction or boilerplate-mining pass starts from.
    * Counts OCCURRENCES (multiplicity, unlike the deduping shingle
    * family), ranks by count with ties to the lexicographically smaller
    * gram. Scale shape: one explode + a partially-aggregated groupBy,
    * then the global top-k as orderBy(...).limit(k) — Spark plans that as
    * TakeOrderedAndProject (per-partition bounded heaps + a k-row driver
    * merge), never a single-partition global sort; the rank column is
    * numbered AFTER the limit, so its window touches k rows, not the
    * vocabulary. */
  /** (gram): every word n-gram occurrence in the corpus, with
    * multiplicity — the shared stream behind the census and the sketch. */
  private def gramStream(docs: org.apache.spark.sql.DataFrame, n: Int) =
    docs
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
      .where(size(col("_t")) >= n)
      .select(explode(transform(sequence(lit(1), size(col("_t")) - (n - 1)),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(col("_t"), i + j)): _*))).as("gram"))

  private def topFromGrams(grams: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    grams.groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc).limit(k)
      // the unpartitioned window touches only the k post-limit rows
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("gram").asc)).cast("int"))
  }

  def topNgrams(docs: org.apache.spark.sql.DataFrame, n: Int = 3, k: Int = 20)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 1 && k >= 1, s"need n >= 1 and k >= 1, got ($n, $k)")
    topFromGrams(gramStream(docs, n), k)
  }

  /** Heavy-hitter trigrams query, top 20. */
  val topNgramsQ: Q = Q(
    "text_top_ngrams",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |g AS (
      |  SELECT unnest(list_transform(range(1, len(toks) - 1),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS gram
      |  FROM t WHERE len(toks) >= 3),
      |c AS (SELECT gram, count(*) AS n FROM g GROUP BY 1),
      |r AS (SELECT gram, n,
      |        CAST(row_number() OVER (ORDER BY n DESC, gram ASC) AS INTEGER) AS rank
      |      FROM c)
      |SELECT gram, n, rank FROM r WHERE rank <= 20""".stripMargin
  ) { (s, d) => topNgrams(Tables.documents(s, d)) }

  /** Count-min-sketch n-gram frequency estimates (Cormode & Muthukrishnan
    * 2005) — the 100 TB path for AD-HOC frequency point queries: the
    * sketch is built in one reduce pass (mergeable fixed-size counters,
    * no shuffle — Spark's `stat.countMinSketch` aggregates per-partition
    * sketches), is a few MB regardless of corpus size, and afterwards
    * answers any gram's frequency without re-scanning — where the exact
    * census pays its groupBy shuffle again for every new question.
    * Estimates the frequencies of `queries` grams against the corpus
    * trigram stream: (gram, est). Deterministic: fixed seed, and CMS
    * updates commute so partitioning order cannot change the counters. */
  def ngramSketchEstimates(docs: org.apache.spark.sql.DataFrame,
      queries: Seq[String], n: Int = 3,
      eps: Double = 1e-3, confidence: Double = 0.999)
      : org.apache.spark.sql.DataFrame =
    sketchFromGrams(gramStream(docs, n), queries, eps, confidence)

  private def sketchFromGrams(grams: org.apache.spark.sql.DataFrame,
      queries: Seq[String], eps: Double, confidence: Double)
      : org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "need at least one query gram")
    require(eps > 0 && eps < 1 && confidence > 0 && confidence < 1,
      s"need eps, confidence in (0,1), got ($eps, $confidence)")
    // sketch over the codegen'd 60-bit md5 of each gram, not the string:
    // long insertion skips the per-row UTF-8 byte copy (measured 1.7× at
    // sf0.1) and the driver re-hashes query grams identically below. The
    // pre-hash adds a ~2⁻⁶⁰-per-pair collision floor — upward-only, far
    // below any practical eps (bloom-span precedent)
    val cms = grams.select(md5Hash64(col("gram")).as("g"))
      .stat.countMinSketch("g", eps, confidence, seed = 42)
    val spark = grams.sparkSession
    import spark.implicits._
    // |queries| is bounded by the caller (point queries, not a census):
    // the estimates are driver-side sketch reads, not a distributed job
    queries.map(g => (g, cms.estimateCount(md5Hash64Jvm(g)))).toDF("gram", "est")
  }

  /** CMS query — estimates the exact census's top-20 trigrams, gated on
    * the sketch's structural guarantees vs the exact twin: no
    * underestimates (CMS counters only ever over-count), and every
    * overestimate within the eps·N bound the (eps, confidence) sizing
    * promises (N = total trigram occurrences). Fixed seed makes the gate
    * deterministic per fixture. */
  val topNgramsCms: Q = Q.gated("text_top_ngrams_cms") { (s, d) =>
    // census and sketch share ONE cached gram frame (the tokenize+explode
    // pipeline dominated the two-pass cost: 11.6 → ~3 s at sf0.1); both
    // consumers are eager (collect, sketch build), so unlike the lazy
    // sketch operators the cache can be released before returning
    val grams = gramStream(Tables.documents(s, d), 3).cache()
    try {
      val qs = topFromGrams(grams, 20).select("gram")
        .collect().map(_.getString(0)).toSeq
      sketchFromGrams(grams, qs, eps = 1e-3, confidence = 0.999)
    } finally grams.unpersist()
  } { (s, d, res) =>
    val docs = Tables.documents(s, d)
    val exact = topNgrams(docs).select(col("gram"), col("n"))
    val n = docs
      .where(col("text").isNotNull)
      .select(greatest(tokenCount(col("text")) - 2, lit(0)).as("c"))
      .agg(sum(col("c"))).head.getLong(0)
    val joined = res.join(exact, "gram")
      .select(col("est"), col("n"), (col("est") - col("n")).as("over")).collect()
    val under = joined.count(r => r.getLong(0) < r.getLong(1))
    val maxOver = if (joined.isEmpty) 0L else joined.map(_.getLong(2)).max
    val bound = 1e-3 * n
    Seq(
      Gate("queries_estimated", joined.length.toDouble, joined.length == 20),
      Gate("underestimates", under.toDouble, under == 0),
      Gate("max_overcount", maxOver.toDouble, maxOver <= bound))
  }

  /** Exact per-source vocabulary census: documents, token occurrences,
    * distinct terms, distinct trigrams. The exact form is the oracle
    * anchor; at 100 TB `count(DISTINCT term)` per group is a wide
    * shuffle of every (source, term) pair — the HLL twin
    * ([[vocabHll]]) is the scale path. */
  val vocabBySource: Q = Q(
    "text_vocab_by_source",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                x -> x <> '') AS toks
      |  FROM documents WHERE text IS NOT NULL),
      |u AS (SELECT doc_id, source, unnest(toks) AS term FROM t),
      |g AS (
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(toks) - 1),
      |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS gram
      |  FROM t WHERE len(toks) >= 3),
      |uni AS (
      |  SELECT source, CAST(count(DISTINCT doc_id) AS INTEGER) AS n_docs,
      |    count(*) AS n_tokens, count(DISTINCT term) AS n_vocab
      |  FROM u GROUP BY 1),
      |tri AS (SELECT source, count(DISTINCT gram) AS n_trigrams FROM g GROUP BY 1)
      |SELECT source, n_docs, n_tokens, n_vocab,
      |  coalesce(n_trigrams, 0) AS n_trigrams
      |FROM uni LEFT JOIN tri USING (source)""".stripMargin
  ) { (s, d) =>
    val base = Tables.documents(s, d)
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
    val u = base.select(col("doc_id"), col("source"), explode(col("_t")).as("term"))
    val g = base.where(size(col("_t")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(transform(sequence(lit(1), size(col("_t")) - 2),
          i => concat_ws(" ", element_at(col("_t"), i),
            element_at(col("_t"), i + 1), element_at(col("_t"), i + 2)))).as("gram"))
    val uni = u.groupBy("source").agg(
      countDistinct(col("doc_id")).cast("int").as("n_docs"),
      count(lit(1)).as("n_tokens"),
      countDistinct(col("term")).as("n_vocab"))
    val tri = g.groupBy("source").agg(countDistinct(col("gram")).as("n_trigrams"))
    uni.join(tri, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_vocab"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"))
  }

  /** HyperLogLog form of [[vocabBySource]] — the cardinality member of
    * the sketch family (bloom = membership, count-min = frequency, HLL =
    * distinct count). `approx_count_distinct` keeps a fixed ~2^p-register
    * sketch per group, merged map-side — the per-(source, term) shuffle
    * the exact form pays simply disappears; at any corpus size a group's
    * state is the sketch, not its vocabulary. Gated against the exact
    * twin at 3× the configured standard error (HLL++ is deterministic —
    * no seed — so the gate is stable per fixture). */
  def vocabHllVs(docs: org.apache.spark.sql.DataFrame, rsd: Double = 0.05)
      : org.apache.spark.sql.DataFrame = {
    require(rsd > 0 && rsd < 1, s"relative standard deviation in (0,1), got $rsd")
    val base = docs
      .where(col("text").isNotNull)
      .withColumn("_t", tokens(col("text")))
    base.select(col("doc_id"), col("source"), explode(col("_t")).as("term"))
      .groupBy("source").agg(
        approx_count_distinct(col("doc_id"), rsd).cast("int").as("n_docs_est"),
        count(lit(1)).as("n_tokens"),
        approx_count_distinct(col("term"), rsd).as("n_vocab_est"))
  }

  val vocabHll: Q = Q.gated("text_vocab_hll") { (s, d) =>
    vocabHllVs(Tables.documents(s, d))
  } { (s, d, res) =>
    val exact = vocabBySource.fn(s, d)
      .select(col("source"), col("n_docs"), col("n_vocab")).cache()
    val nExact = exact.count()
    val j = res.join(exact, "source")
      .select(
        (abs(col("n_docs_est") - col("n_docs")).cast("double") / col("n_docs"))
          .as("e_docs"),
        (abs(col("n_vocab_est") - col("n_vocab")).cast("double") / col("n_vocab"))
          .as("e_vocab"))
      .agg(count(lit(1)), max(col("e_docs")), max(col("e_vocab"))).head
    exact.unpersist()
    val bound = 3 * 0.05
    Seq(
      Gate("sources_joined", j.getLong(0).toDouble, j.getLong(0) == nExact),
      Gate("max_rel_err_docs", j.getDouble(1), j.getDouble(1) <= bound),
      Gate("max_rel_err_vocab", j.getDouble(2), j.getDouble(2) <= bound))
  }

  /** Fixed-size overlapping character chunks — the context-window
    * preparation pass (embedding/RAG pipelines chunk long documents
    * before encoding; training pipelines chunk before sequence packing).
    * Chunk starts walk a stride of `maxChars − overlap`; a final start
    * whose chunk would add no characters beyond the previous chunk's
    * overlap (s > len − overlap) is dropped, so chunks cover the
    * document exactly with no fully-redundant tail. chunk_id is
    * arithmetic ((s−1) div step — only the last start can be dropped, so
    * ids stay dense) and the md5 is over the chunk CONTENT, proving the
    * slicing byte-exactly. Pure projection + explode: shuffle-free,
    * scales as a scan. */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame,
      maxChars: Int = 40, overlap: Int = 10): org.apache.spark.sql.DataFrame = {
    require(maxChars >= 1 && overlap >= 0 && overlap < maxChars,
      s"need 0 <= overlap < maxChars, got ($maxChars, $overlap)")
    val step = maxChars - overlap
    docs.where(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .select(col("doc_id"), col("text"), col("len"),
        explode(sequence(lit(1), col("len"), lit(step))).as("s"))
      .where(col("s") === 1 || col("s") <= col("len") - overlap)
      .select(col("doc_id"),
        expr(s"(s - 1) div $step").cast("int").as("chunk_id"),
        col("s"),
        least(col("s") + (maxChars - 1), col("len")).as("e"),
        md5(col("text").substr(col("s"), lit(maxChars))).as("chunk_md5"))
  }

  val chunkWindowsQ: Q = Q(
    "text_chunk_windows",
    """WITH c AS (
      |  SELECT doc_id, text, CAST(length(text) AS INTEGER) AS len,
      |    unnest(generate_series(1, CAST(length(text) AS INTEGER), 30)) AS s
      |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1)
      |SELECT doc_id, CAST((s - 1) // 30 AS INTEGER) AS chunk_id,
      |  CAST(s AS INTEGER) AS s, CAST(least(s + 39, len) AS INTEGER) AS e,
      |  md5(substr(text, CAST(s AS INTEGER), 40)) AS chunk_md5
      |FROM c WHERE s = 1 OR s <= len - 10""".stripMargin
  ) { (s, d) => chunkDocs(Tables.documents(s, d), maxChars = 40, overlap = 10) }

  /** Budget-based quality selection — keep the least-repetitive
    * `keepRate` fraction of the corpus with a deterministic (score, id)
    * tie-break. This is the EXACT anchor: a global rank is a global
    * sort, deliberately non-scale (documented like the other oracle
    * anchors); the production path is [[qualityThresholdVs]], which
    * replaces the rank with an approx-percentile cutoff whose state is
    * a bounded sketch. Rank comparisons are integer, so the oracle
    * hash-matches with no floating-point tie risk. */
  val qualityBudget: Q = Q(
    "text_quality_budget",
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             x -> x <> '') AS toks
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN
      |      1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
      |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS DOUBLE)
      |        / (len(toks) - 2)
      |    ELSE 0.0 END AS repetition
      |  FROM t),
      |r AS (
      |  SELECT doc_id, repetition,
      |    row_number() OVER (ORDER BY repetition ASC, doc_id ASC) AS rk,
      |    count(*) OVER () AS n
      |  FROM sc)
      |SELECT doc_id, repetition,
      |  CAST(CASE WHEN rk <= CAST(ceil(0.8 * n) AS BIGINT) THEN 1 ELSE 0 END AS INTEGER) AS kept
      |FROM r""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d)
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"),
        repetitionScoreFromTokens(col("_toks")).as("repetition"))
    val k = math.ceil(0.8 * base.count()).toLong
    val w = Window.orderBy(col("repetition").asc, col("doc_id").asc)
    base
      .withColumn("kept", (row_number().over(w) <= k).cast("int"))
      .select("doc_id", "repetition", "kept")
  }

  /** Scale path of [[qualityBudget]]: calibrate the repetition cutoff
    * for a target keep rate with `approx_percentile` (a fixed-size
    * mergeable sketch — map-side partials, rank error ≤ n/accuracy by
    * contract) and apply it as a value threshold. Output carries the
    * cutoff so downstream stages can reuse it without re-deriving.
    * Gated in RANK space against the exact score distribution:
    * #{score < cutoff} and #{score ≤ cutoff} must bracket the target
    * rate within 1/accuracy + 1/n — the correct invariant under ties,
    * where a value threshold legitimately jumps the keep rate. */
  def qualityThresholdVs(docs: org.apache.spark.sql.DataFrame,
      keepRate: Double = 0.8, accuracy: Int = 10000)
      : org.apache.spark.sql.DataFrame = {
    require(keepRate > 0 && keepRate < 1, s"keepRate in (0,1), got $keepRate")
    require(accuracy >= 100, s"accuracy >= 100, got $accuracy")
    val base = docs
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"),
        repetitionScoreFromTokens(col("_toks")).as("repetition"))
    val cut = base.agg(
      expr(s"approx_percentile(repetition, $keepRate, $accuracy)").as("cutoff"))
    base.crossJoin(broadcast(cut))
      .select(col("doc_id"), col("repetition"), col("cutoff"),
        (col("repetition") <= col("cutoff")).cast("int").as("kept"))
  }

  val qualityThreshold: Q = Q.gated("text_quality_threshold") { (s, d) =>
    qualityThresholdVs(Tables.documents(s, d))
  } { (s, d, res) =>
    val nDocs = Tables.documents(s, d).count()
    val agg = res.agg(
      count(lit(1)).as("n"),
      sum(col("kept")).as("n_kept"),
      sum((col("repetition") < col("cutoff")).cast("long")).as("n_below")).head
    val n = agg.getLong(0).toDouble
    val slack = 1.0 / 10000 + 1.0 / n
    val rAtMost = agg.getLong(1) / n   // #{score <= cutoff}
    val rBelow = agg.getLong(2) / n    // #{score <  cutoff}
    Seq(
      Gate("totality", n, agg.getLong(0) == nDocs),
      Gate("rank_lo", rAtMost, rAtMost >= 0.8 - slack),
      Gate("rank_hi", rBelow, rBelow <= 0.8 + slack))
  }

  /** BPE tokenizer training ([[BpeTrainer]]): learn 32 merges from the
    * corpus word-frequency vocab. Gated on structure (ranks contiguous,
    * merged = left+right) and — the real check — on the DISTRIBUTED
    * merge loop reproducing the driver loop's merge list bit-exactly
    * (two independent implementations of the same greedy arg-max, the
    * canonicalize small≡dist pattern). */
  val bpeTrain: Q = Q.gated("text_bpe_train") { (s, d) =>
    import s.implicits._
    BpeTrainer.train(Tables.documents(s, d), numMerges = 32)
      .zipWithIndex
      .map { case ((l, r), i) => (i, l, r, l + r) }
      .toDF("rank", "left", "right", "merged")
  } { (s, d, res) =>
    val got = res.orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    val structural = got.forall { case (_, l, r, m) => m == l + r }
    val contiguous = got.map(_._1) == got.indices
    val dist = BpeTrainer
      .train(Tables.documents(s, d), numMerges = 32, maxDriverVocab = 0L)
      .zipWithIndex.map { case ((l, r), i) => (i, l, r, l + r) }
    Seq(
      Gate("n_merges", got.length.toDouble, got.length == 32),
      Gate("merged_is_concat", if (structural) 1 else 0, structural),
      Gate("ranks_contiguous", if (contiguous) 1 else 0, contiguous),
      Gate("distributed_equals_driver", if (dist == got) 1 else 0, dist == got))
  }

  /** Token counts under the LEARNED tokenizer ([[BpeTrainer
    * .segmentCounts]]): per doc, character symbols before merging vs
    * subword tokens after. Gated on totality, no per-doc expansion
    * (merges only ever shrink), corpus-level compression, and prefix
    * monotonicity (greedy BPE is deterministic, so an 8-merge tokenizer
    * is a prefix of the 32-merge one and can never yield FEWER tokens). */
  val bpeLearnedTokens: Q = Q.gated("text_bpe_learned_tokens") { (s, d) =>
    val docs = Tables.documents(s, d)
    BpeTrainer.segmentCounts(docs, BpeTrainer.train(docs, numMerges = 32))
  } { (s, d, res) =>
    val docs = Tables.documents(s, d)
    val agg = res.agg(
      count(lit(1)).as("n"),
      sum(col("n_symbols")).as("sym"),
      sum(col("n_bpe_learned")).as("tok"),
      max((col("n_bpe_learned") > col("n_symbols")).cast("int")).as("expanded")).head
    val short = BpeTrainer.segmentCounts(docs, BpeTrainer.train(docs, numMerges = 8))
      .select(col("doc_id"), col("n_bpe_learned").as("tok8"))
    val viol = res.join(short, "doc_id")
      .where(col("n_bpe_learned") > col("tok8")).count()
    Seq(
      Gate("totality", agg.getLong(0).toDouble, agg.getLong(0) == docs.count()),
      Gate("no_doc_expansion", agg.getInt(3).toDouble, agg.getInt(3) == 0),
      Gate("corpus_compression",
        agg.getLong(2).toDouble / agg.getLong(1), agg.getLong(2) < agg.getLong(1)),
      Gate("prefix_monotone", viol.toDouble, viol == 0))
  }

  /** PII scrub pass: per-document email/phone hit counts plus an md5 of
    * the redacted text — the hash proves the scrubbed OUTPUT (not just
    * the counts) is bit-identical across engines, without dumping the
    * corpus. The fixture text is PII-free by construction, so BOTH
    * branches are exercised explicitly: a hash-selected cohort
    * (doc_id % 10 = 3) gets deterministic synthetic PII appended
    * in-query — a doc_id-derived email and phone, built identically on
    * both engines — so their nonzero counts and scrub_md5 verify actual
    * replacement cross-engine; the remaining 90% verifies the scrub is a
    * byte-exact no-op on clean text (no accidental rewrites). Boundary
    * behavior of the patterns themselves (emails/phones at string edges,
    * near-misses that must NOT match, email-before-phone ordering) is
    * pinned by TextSpec unit fixtures. */
  val piiScrub: Q = Q(
    "text_pii_scrub",
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 3 THEN
       |      text || ' contact: u' || CAST(doc_id AS VARCHAR) ||
       |        '@example.com or +1 (555) 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
       |    ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextFunctions.EmailPattern}')) AS INTEGER) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${TextFunctions.PhonePattern}')) AS INTEGER) AS n_phones,
       |  md5(regexp_replace(regexp_replace(text, '${TextFunctions.EmailPattern}', '[EMAIL]', 'g'),
       |      '${TextFunctions.PhonePattern}', '[PHONE]', 'g')) AS scrub_md5
       |FROM t""".stripMargin
  ) { (s, d) =>
    // % (not pmod) on both cohort select and suffix digits — DuckDB's %
    // keeps the dividend's sign, pmod doesn't; they agree only for
    // non-negative doc_ids and the query must not depend on that
    val injected = when(col("doc_id") % 10 === 3,
      concat(col("text"), lit(" contact: u"), col("doc_id").cast("string"),
        lit("@example.com or +1 (555) 01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0")))
      .otherwise(col("text"))
    Tables.documents(s, d)
      .withColumn("_t", injected)
      .select(
        col("doc_id"),
        emailCount(col("_t")).as("n_emails"),
        phoneCount(col("_t")).as("n_phones"),
        md5(scrubPii(col("_t"))).as("scrub_md5"))
  }

  /** Trained quality classifier scores for every document (the fastText
    * distillation pattern — see [[QualityClassifier]]). Train on the 80%
    * split (doc_id % 5 ≠ 0), score everything; the gates measure what an
    * iterative fit can't oracle:
    *
    *  - `dist_vs_driver_loss_rel`: the distributed treeAggregate fit and
    *    the sequential driver twin share init/labels/update rule — their
    *    final-loss gap is pure summation reassociation, ≤1e-9 relative.
    *  - `loss_decreased`: final training loss < 60% of epoch-0 loss
    *    (ln 2 at init) — the fit actually moved.
    *  - `holdout_auc`: AUC ≥ 0.85 on the UNSEEN 20% split against
    *    teacher labels under the training-split threshold.
    *  - `rows_complete`: every document scored. */
  val qualityClassifier: Q = Q.gated("text_quality_classifier") { (s, d) =>
    val docs = Tables.documents(s, d)
    val model = QualityClassifier.train(docs.where(pmod(col("doc_id"), lit(5)) =!= 0))
    QualityClassifier.score(docs, model)
  } { (s, d, res) =>
    val docs = Tables.documents(s, d).cache()
    try {
      val trainSplit = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val dist = QualityClassifier.train(trainSplit)
      val local = QualityClassifier.trainLocal(trainSplit)
      val rel = math.abs(dist.lossHistory.last - local.lossHistory.last) /
        math.max(local.lossHistory.last, 1e-300)
      val decreased = dist.lossHistory.last < dist.lossHistory.head * 0.6
      val holdout = docs.where(pmod(col("doc_id"), lit(5)) === 0)
      val auc = QualityClassifier.aucOf(
        res, QualityClassifier.teacherLabels(holdout, dist.threshold))
      val n = docs.count()
      Seq(
        Gate("dist_vs_driver_loss_rel", rel, rel <= 1e-9),
        Gate("loss_decreased",
          dist.lossHistory.last / dist.lossHistory.head, decreased),
        Gate("holdout_auc", auc, auc >= 0.85),
        Gate("rows_complete", res.count().toDouble, res.count() == n))
    } finally docs.unpersist(blocking = false)
  }

  /** LEARNED-MODEL LIFECYCLE — the quantizer treatment
    * ([[graft.ops.IvfIndex]] generations) applied to the pipeline's two
    * one-shot text artifacts via [[ModelStore]]: generation-stamped
    * persistence, a per-day drift signal, a crash-safe retrain actuator,
    * and a scoring ledger that pins which generation scored each day.
    *
    * Fixture: four disjoint quarters of `documents` as days. Days 0–1
    * are the training distribution; days 2–3 are the SAME documents
    * rot13'd AND truncated to their first 8 tokens — a deterministic
    * distribution shift (a short-junk domain arriving) that collapses
    * the day's acceptance rate (the positive-fraction signal: teacher
    * and student both reject the short stopword-free docs the training
    * corpus never showed) and defeats every learned BPE merge. rot13
    * alone is NOT enough for the classifier signal at scale: the
    * teacher's score is 80% transform-invariant stats (length/distinct/
    * alnum), and the student's dense-stat features reproduce it on the
    * shifted text too — agreement holds, calibration holds. The
    * distillation-break (agreement) signal is unit-covered in
    * ModelStoreSpec, where a narrow-vocabulary corpus makes the hashed
    * features carry the fit.
    *
    * Drill (staged parquet verdicts make reps ledger-idempotent):
    * init on day 0 (gen 1) → score days 0–1 → advice on day 1 silent →
    * advice on day 2 trips BOTH signals → day 2 scored under gen 1
    * (monitoring is downstream of scoring, as in production) → a retrain
    * is STAGED and the marker fence is proven (scoreDay throws) → the
    * retrain completes by roll-forward (gen 2) → day 3 scores under gen
    * 2 and advice clears — the retrained merges actually recover
    * compression on the shifted text, and the ledger holds exactly one
    * generation per day with re-runs returning stored history untouched. */
  val modelLifecycle: Q = Q.gated("text_model_lifecycle") { (s, d) =>
    import graft.text.{ModelStore => MS}
    val lo = ('a' to 'z').mkString
    val hi = ('A' to 'Z').mkString
    def rot13(c: org.apache.spark.sql.Column) =
      translate(c, lo + hi, lo.drop(13) + lo.take(13) + hi.drop(13) + hi.take(13))
    val all = Tables.documents(s, d).select(col("doc_id").cast("long"), col("text"))
    def slice(k: Int) = all.where(pmod(col("doc_id"), lit(4)) === k)
    val dayDocs: Int => org.apache.spark.sql.DataFrame = {
      case 0 => slice(0)
      case 1 => slice(1)
      case k => slice(k).withColumn("text",
        array_join(org.apache.spark.sql.functions.slice(
          split(rot13(col("text")), " "), 1, 8), " "))
    }
    val tag = (d + "_" + s.sparkContext.applicationId).replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_modelstore/$tag"
    val store = s"$root/store"
    val (dim, epochs, merges) = (2048, 60, 40)
    val (posTol, bpeTol) = (0.25, 0.25)
    if (MS.generation(s, store) == 0) {
      MS.retrain(s, store, dayDocs(0), dim, epochs, merges): Unit
    }
    MS.scoreDay(s, store, 0, dayDocs(0)): Unit
    MS.scoreDay(s, store, 1, dayDocs(1)): Unit
    // gen-1 verdicts staged BEFORE the retrain mutates the live model
    val advice1Path = s"$root/_gate/advice_gen1.parquet"
    if (!new java.io.File(advice1Path).exists()) {
      import s.implicits._
      val a1 = MS.retrainAdvice(s, store, dayDocs(1), posTol, bpeTol)
      val a2 = MS.retrainAdvice(s, store, dayDocs(2), posTol, bpeTol)
      Seq((a1.act, a1.reason, a2.act, a2.reason, a2.drift.classifierDrift,
          a2.drift.bpeDrift, a2.drift.tokensPerWord, a2.drift.refTokensPerWord,
          a2.drift.agreement, a2.drift.refAgreement))
        .toDF("indist_act", "indist_reason", "shift_act", "shift_reason",
          "shift_cls_drift", "shift_bpe_drift", "shift_tpw", "ref_tpw",
          "shift_agreement", "ref_agreement")
        .repartition(1).write.mode("overwrite").parquet(advice1Path)
    }
    MS.scoreDay(s, store, 2, dayDocs(2)): Unit
    // crash drill + acted retrain, once: stage the new generation, prove
    // the marker fences scoring, then complete by roll-forward
    val crashPath = s"$root/_gate/crash.parquet"
    if (MS.generation(s, store) == 1) {
      MS.stageRetrain(s, store, dayDocs(2), dim, epochs, merges)
      val fenceThrew =
        try { MS.scoreDay(s, store, 3, dayDocs(3)): Unit; false }
        catch { case _: java.io.IOException => true }
      val genAfter = MS.retrain(s, store, dayDocs(2), dim, epochs, merges)
      import s.implicits._
      Seq((fenceThrew, genAfter)).toDF("fence_threw", "gen_after")
        .repartition(1).write.mode("overwrite").parquet(crashPath)
    }
    MS.scoreDay(s, store, 3, dayDocs(3)): Unit
    val advice2Path = s"$root/_gate/advice_gen2.parquet"
    if (!new java.io.File(advice2Path).exists()) {
      import s.implicits._
      val a3 = MS.retrainAdvice(s, store, dayDocs(3), posTol, bpeTol)
      // re-run stability: scoring day 1 again under the NEWER live
      // generation must return the stored gen-1 history unchanged
      val re = MS.scoreDay(s, store, 1, dayDocs(1))
      val reGen = re.agg(min(col("generation")).as("lo"),
        max(col("generation")).as("hi"), count(lit(1)).as("n")).head
      Seq((a3.act, a3.reason, a3.drift.posFrac, a3.drift.refPosFrac,
          a3.drift.tokensPerWord, a3.drift.refTokensPerWord,
          reGen.getInt(0), reGen.getInt(1), reGen.getLong(2)))
        .toDF("post_act", "post_reason", "post_posfrac", "post_ref_posfrac",
          "post_tpw", "post_ref_tpw", "rescore_gen_lo", "rescore_gen_hi",
          "rescore_n")
        .repartition(1).write.mode("overwrite").parquet(advice2Path)
    }
    val a1 = s.read.parquet(advice1Path).head
    val cr = s.read.parquet(crashPath).head
    val a2 = s.read.parquet(advice2Path).head
    MS.ledger(s, store).orderBy(col("day"))
      .withColumn("indist_act", lit(a1.getAs[Boolean]("indist_act")))
      .withColumn("indist_reason", lit(a1.getAs[String]("indist_reason")))
      .withColumn("shift_act", lit(a1.getAs[Boolean]("shift_act")))
      .withColumn("shift_reason", lit(a1.getAs[String]("shift_reason")))
      .withColumn("shift_cls_drift", lit(a1.getAs[Boolean]("shift_cls_drift")))
      .withColumn("shift_bpe_drift", lit(a1.getAs[Boolean]("shift_bpe_drift")))
      .withColumn("shift_tpw", lit(a1.getAs[Double]("shift_tpw")))
      .withColumn("ref_tpw", lit(a1.getAs[Double]("ref_tpw")))
      .withColumn("shift_agreement", lit(a1.getAs[Double]("shift_agreement")))
      .withColumn("ref_agreement", lit(a1.getAs[Double]("ref_agreement")))
      .withColumn("fence_threw", lit(cr.getAs[Boolean]("fence_threw")))
      .withColumn("gen_after", lit(cr.getAs[Int]("gen_after")))
      .withColumn("post_act", lit(a2.getAs[Boolean]("post_act")))
      .withColumn("post_reason", lit(a2.getAs[String]("post_reason")))
      .withColumn("post_posfrac", lit(a2.getAs[Double]("post_posfrac")))
      .withColumn("post_ref_posfrac", lit(a2.getAs[Double]("post_ref_posfrac")))
      .withColumn("post_tpw", lit(a2.getAs[Double]("post_tpw")))
      .withColumn("rescore_gen_lo", lit(a2.getAs[Int]("rescore_gen_lo")))
      .withColumn("rescore_gen_hi", lit(a2.getAs[Int]("rescore_gen_hi")))
      .withColumn("rescore_n", lit(a2.getAs[Long]("rescore_n")))
  } { (s, d, res) =>
    val head = res.head
    val byDay = res.select("day", "generation", "n_docs")
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2))).toMap
    val posTol = 0.25
    Seq(
      Gate("init_generation", byDay.get(0).map(_._1.toDouble).getOrElse(-1),
        byDay.get(0).exists(_._1 == 1)),
      Gate("indist_silent", if (head.getAs[Boolean]("indist_act")) 1 else 0,
        !head.getAs[Boolean]("indist_act") &&
          head.getAs[String]("indist_reason") == "none"),
      Gate("shift_trips_classifier",
        if (head.getAs[Boolean]("shift_cls_drift")) 1 else 0,
        head.getAs[Boolean]("shift_cls_drift")),

      Gate("shift_trips_bpe",
        if (head.getAs[Boolean]("shift_bpe_drift")) 1 else 0,
        head.getAs[Boolean]("shift_bpe_drift")),
      Gate("advice_acts", if (head.getAs[Boolean]("shift_act")) 1 else 0,
        head.getAs[Boolean]("shift_act") &&
          head.getAs[String]("shift_reason").contains("classifier_drift")),
      Gate("fence_throws", if (head.getAs[Boolean]("fence_threw")) 1 else 0,
        head.getAs[Boolean]("fence_threw")),
      Gate("retrain_generation", head.getAs[Int]("gen_after").toDouble,
        head.getAs[Int]("gen_after") == 2),
      Gate("ledger_no_mixing", res.count().toDouble,
        res.count() == 4 && byDay(0)._1 == 1 && byDay(1)._1 == 1 &&
          byDay(2)._1 == 1 && byDay(3)._1 == 2),
      Gate("post_retrain_clears", if (head.getAs[Boolean]("post_act")) 1 else 0,
        !head.getAs[Boolean]("post_act") &&
          head.getAs[String]("post_reason") == "none"),
      Gate("bpe_retrain_recovers",
        head.getAs[Double]("post_tpw") / math.max(head.getAs[Double]("shift_tpw"), 1e-12),
        head.getAs[Double]("post_tpw") <= head.getAs[Double]("shift_tpw") * 0.85),
      Gate("classifier_recalibrated",
        math.abs(head.getAs[Double]("post_posfrac") - head.getAs[Double]("post_ref_posfrac")),
        math.abs(head.getAs[Double]("post_posfrac") -
          head.getAs[Double]("post_ref_posfrac")) <= posTol),
      Gate("rescore_returns_history",
        head.getAs[Long]("rescore_n").toDouble,
        head.getAs[Int]("rescore_gen_lo") == 1 &&
          head.getAs[Int]("rescore_gen_hi") == 1 &&
          head.getAs[Long]("rescore_n") == byDay(1)._2))
  }

  /** CCNet-style perplexity partitioning (Wenzek et al. 2020 §4.3):
    * each source's documents split into head/middle/tail thirds by LM
    * perplexity (lower = more fluent = head) — the standard
    * quality-tiering step before mixing, downstream of
    * [[lmPerplexityVs]]. Buckets are per SOURCE so a noisy crawl and a
    * clean one each contribute their own best third, instead of one
    * global cutoff silently dropping entire sources.
    *
    * The oracle nests the full lm-perplexity oracle as a CTE, so this
    * query end-to-end-checks model scoring AND tiering cross-engine;
    * `ppl` is rounded to 6 decimals on both sides before ordering
    * (tfidf precedent), ties break on doc_id.
    *
    * SCALE NOTE: exact per-source ntile is a total order per source
    * (q26's caveat). The corpus-scale twin is approx_percentile
    * cutpoints per source applied as a value filter — the same
    * sketch-threshold swap [[qualityThresholdVs]] already ships and
    * gates; this exact form is the oracle anchor. */
  val perplexityBuckets: Q = Q(
    "text_perplexity_buckets",
    s"""WITH base AS (
       |${lmPerplexity.oracle.get}
       |)
       |SELECT doc_id, source, ppl, bucket_no,
       |  CASE bucket_no WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |    ELSE 'tail' END AS ppl_bucket
       |FROM (
       |  SELECT d.doc_id, d.source, b.ppl,
       |    CAST(ntile(3) OVER (PARTITION BY d.source
       |      ORDER BY b.ppl, d.doc_id) AS INTEGER) AS bucket_no
       |  FROM base b JOIN documents d ON b.doc_id = d.doc_id)""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("ppl"), col("doc_id"))
    lmPerplexityVs(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("ppl"),
        ntile(3).over(w).as("bucket_no"))
      .withColumn("ppl_bucket",
        when(col("bucket_no") === 1, "head")
          .when(col("bucket_no") === 2, "middle")
          .otherwise("tail"))
  }

  def all: Seq[Q] = Seq(
    textStats, fingerprints, langQuality, bpeTokens, tfidfTop, repetition,
    contamination, contaminationBloom, contaminationSpans,
    contaminationSpansBloom, gopherFilter, c4Clean, lmPerplexity, dsir,
    bm25, paragraphDedupQ, paragraphDedupBySourceQ, spanScrub, dedupSpanScrub, topNgramsQ, topNgramsCms,
    vocabBySource, vocabHll, chunkWindowsQ, qualityBudget, qualityThreshold,
    bpeTrain, bpeLearnedTokens, piiScrub, qualityClassifier, perplexityBuckets,
    boilerplateScrubQ, modelLifecycle)
}
