package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, QueryCatalog}
import graft.functions.grams
import graft.rel.Tables

/** SURVEY.md §2l [EXT] text analysis over `documents`: corpus stats,
  * quality scoring, token counting (whitespace + BPE-ish subword
  * estimate), naive-Bayes-style language ID, and document
  * fingerprinting.
  *
  * Scale design (100 TB): everything per-doc is a map-side projection of
  * built-in / higher-order functions (no UDFs — stays codegen-adjacent,
  * no serialization wall). The only shuffles are the final per-lang /
  * per-source aggregates (tiny key spaces) and, for language ID, a
  * token-profile aggregate whose result (5 langs x 5 tokens) is
  * broadcast back — the per-doc scoring join never shuffles the corpus.
  */
object TextQueries extends QueryCatalog {

  /** Corpus stats per language: doc counts plus average size measures.
    * n_chars is a stored column; token counts are derived identically
    * in both engines (split on single space, no empty-token edge cases
    * in this corpus: no leading/trailing/double spaces).
    */
  private val stats = Q(
    "q_text_stats",
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(n_chars), 2) AS avg_chars,
      |  round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
      |  round(avg(len(list_distinct(string_split(text, ' ')))), 2) AS avg_distinct
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(size(split(col("text"), " "))), 2).as("avg_tokens"),
        round(avg(size(array_distinct(split(col("text"), " ")))), 2)
          .as("avg_distinct"))
      .orderBy("lang")
  }

  /** Per-doc quality signals + a bucketed verdict — the filter stage of
    * a training-data pipeline. All integer/ratio math, deterministic
    * across engines.
    */
  private val quality = Q(
    "q_text_quality",
    """WITH t AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_distinct(string_split(text, ' '))) AS n_distinct
      |  FROM documents
      |)
      |SELECT doc_id, n_tokens,
      |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
      |  round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4)
      |    AS mean_tok_len,
      |  CASE
      |    WHEN n_tokens >= 60 AND CAST(n_distinct AS DOUBLE) / n_tokens >= 0.4
      |      THEN 'good'
      |    WHEN n_tokens >= 30 THEN 'ok'
      |    ELSE 'short'
      |  END AS quality
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("distinct_ratio"),
        round((col("n_chars") - (col("n_tokens") - 1)).cast("double")
          / col("n_tokens"), 4).as("mean_tok_len"),
        when(col("n_tokens") >= 60 &&
          col("n_distinct").cast("double") / col("n_tokens") >= 0.4, "good")
          .when(col("n_tokens") >= 30, "ok")
          .otherwise("short").as("quality"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (ceil(len/4) units per word — the classic "~4 chars per token"
    * heuristic), folded per doc with higher-order functions.
    */
  private val tokenCounts = Q(
    "q_text_token_counts",
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS tok_ws,
      |  CAST(list_sum(list_transform(string_split(text, ' '),
      |    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS tok_bpe
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("tok_ws"),
        expr("aggregate(transform(split(text, ' '), " +
          "w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("tok_bpe"))
      .orderBy("doc_id")
  }

  /** Shared language-ID scorer: given per-doc (doc_id, lang, item)
    * occurrences, build top-`topK` per-language item profiles (count
    * desc, item asc — deterministic), score each doc by profile
    * overlap (integer), and predict per doc by argmax with lang
    * tiebreak. The doc x lang grid keeps docs with zero overlap. The
    * profile is tiny and broadcast; the corpus never shuffles for
    * scoring — only the per-(doc, lang) counts do.
    */
  /** Exploded character bigrams of `textCol` from the native
    * [[graft.functions.CharGrams]] generator — one byte-walk per
    * document, one UTF8String per gram, whole-stage-codegen'd
    * GenerateExec. Empty, 1-char and NULL documents emit nothing. */
  private[llm] def charBigrams(df: org.apache.spark.sql.DataFrame,
      textCol: String, keep: Seq[String], as: String)
      : org.apache.spark.sql.DataFrame =
    df.select(keep.map(col) :+ grams.chars(col(textCol), 2).as(as): _*)

  private def profileArgmax(
      docs: org.apache.spark.sql.DataFrame,
      itemsRaw: org.apache.spark.sql.DataFrame,
      topK: Int): org.apache.spark.sql.DataFrame = {
    // the exploded item table feeds BOTH the profile training agg and
    // the per-doc distinct — their exchange partitionings differ
    // ((lang, item) vs (doc_id, item)), so ReuseExchange cannot share
    // the explode; materialize it once (r17, the
    // shingleSetsMaterialized idiom — the chargram explode is
    // ~doc-length rows per doc and was the query's dominant cost paid
    // twice)
    val items = DedupQueries.boundedCheckpoint(itemsRaw)
    val top = items.groupBy("lang", "item").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("c"), asc("item"))))
      .filter(col("rk") <= topK)
      .select(col("lang").as("cand_lang"), col("item"))
    val di = items.select("doc_id", "item").distinct()
    val scores = di.join(broadcast(top), Seq("item"))
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("score"))
    val grid = docs.select("doc_id", "lang")
      .crossJoin(broadcast(
        docs.select(col("lang").as("cand_lang")).distinct()))
    grid.join(scores, Seq("doc_id", "cand_lang"), "left")
      .na.fill(0L, Seq("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("cand_lang"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"),
        col("score"))
      .orderBy("doc_id")
  }

  /** Language ID, corpus-trained: profile = top-5 most frequent tokens
    * per language (ties broken by token, so the profile is
    * deterministic); a doc's score for a language = how many of that
    * language's profile tokens it contains; prediction = argmax with
    * lang tiebreak. Integer scoring end-to-end — no float argmax
    * hazards.
    */
  private val langId = Q(
    "q_text_langid",
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), top5 AS (
      |  SELECT lang AS cand_lang, tok FROM (
      |    SELECT lang, tok, row_number() OVER (
      |      PARTITION BY lang ORDER BY count(*) DESC, tok) AS rk
      |    FROM toks GROUP BY lang, tok
      |  ) WHERE rk <= 5
      |), dt AS (
      |  SELECT DISTINCT doc_id, tok FROM toks
      |), scores AS (
      |  SELECT dt.doc_id, top5.cand_lang, count(*) AS score
      |  FROM dt JOIN top5 ON dt.tok = top5.tok
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.doc_id, d.lang, l.cand_lang
      |  FROM documents d CROSS JOIN (SELECT DISTINCT lang AS cand_lang
      |                               FROM documents) l
      |), ranked AS (
      |  SELECT g.doc_id, g.lang, g.cand_lang,
      |    coalesce(s.score, 0) AS score,
      |    row_number() OVER (PARTITION BY g.doc_id
      |      ORDER BY coalesce(s.score, 0) DESC, g.cand_lang) AS rk
      |  FROM grid g LEFT JOIN scores s
      |    ON s.doc_id = g.doc_id AND s.cand_lang = g.cand_lang
      |)
      |SELECT doc_id, lang, cand_lang AS pred_lang, score
      |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    profileArgmax(docs,
      docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("item")),
      topK = 5)
  }

  /** Language ID, char-n-gram heuristic: same corpus-trained integer
    * argmax as q_text_langid but over character bigrams (top-20 per
    * language) — the classic character-level profile that survives
    * unseen vocabulary. Bigrams are built with one substring HOF pass,
    * no self-joins.
    */
  private val langIdChargram = Q(
    "q_text_langid_chargram",
    """WITH grams AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, length(text)),
      |                          i -> substr(text, CAST(i AS INTEGER), 2))) AS bg
      |  FROM documents
      |), top20 AS (
      |  SELECT lang AS cand_lang, bg FROM (
      |    SELECT lang, bg, row_number() OVER (
      |      PARTITION BY lang ORDER BY count(*) DESC, bg) AS rk
      |    FROM grams GROUP BY lang, bg
      |  ) WHERE rk <= 20
      |), dg AS (
      |  SELECT DISTINCT doc_id, bg FROM grams
      |), scores AS (
      |  SELECT dg.doc_id, top20.cand_lang, count(*) AS score
      |  FROM dg JOIN top20 ON dg.bg = top20.bg
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.doc_id, d.lang, l.cand_lang
      |  FROM documents d CROSS JOIN (SELECT DISTINCT lang AS cand_lang
      |                               FROM documents) l
      |), ranked AS (
      |  SELECT g.doc_id, g.lang, g.cand_lang,
      |    coalesce(s.score, 0) AS score,
      |    row_number() OVER (PARTITION BY g.doc_id
      |      ORDER BY coalesce(s.score, 0) DESC, g.cand_lang) AS rk
      |  FROM grid g LEFT JOIN scores s
      |    ON s.doc_id = g.doc_id AND s.cand_lang = g.cand_lang
      |)
      |SELECT doc_id, lang, cand_lang AS pred_lang, score
      |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // native CharGrams generator (see charBigrams)
    profileArgmax(docs,
      charBigrams(docs, "text", Seq("doc_id", "lang"), "item"),
      topK = 20)
  }

  /** Language ID over a BOUNDED 64-char prefix — the production form
    * of q_text_langid_chargram (kept as the exhaustive twin): language
    * is a document-level property, so scoring every character of every
    * document shuffles ~corpus-chars rows for a per-doc label. Real
    * langid (e.g. CLD/fastText serving) samples a bounded prefix; this
    * caps BOTH the profile-training and the scoring explode at 63
    * gram rows per document, making per-doc cost a constant instead of
    * O(doc length) — the difference between a bounded and an unbounded
    * shuffle at 100 TB. (The bound must be well under the corpus mean
    * of ~300 chars to actually bound anything — a 256-char prefix cut
    * only 14% of the gram rows here.) Same corpus-trained integer
    * argmax; the two dialects' substr/substring agree (1-based,
    * length-capped).
    */
  private val langIdSampled = Q(
    "q_text_langid_sampled",
    """WITH grams AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(range(1, length(substr(text, 1, 64))),
      |      i -> substr(substr(text, 1, 64), CAST(i AS INTEGER), 2)))
      |      AS bg
      |  FROM documents
      |), top20 AS (
      |  SELECT lang AS cand_lang, bg FROM (
      |    SELECT lang, bg, row_number() OVER (
      |      PARTITION BY lang ORDER BY count(*) DESC, bg) AS rk
      |    FROM grams GROUP BY lang, bg
      |  ) WHERE rk <= 20
      |), dg AS (
      |  SELECT DISTINCT doc_id, bg FROM grams
      |), scores AS (
      |  SELECT dg.doc_id, top20.cand_lang, count(*) AS score
      |  FROM dg JOIN top20 ON dg.bg = top20.bg
      |  GROUP BY 1, 2
      |), grid AS (
      |  SELECT d.doc_id, d.lang, l.cand_lang
      |  FROM documents d CROSS JOIN (SELECT DISTINCT lang AS cand_lang
      |                               FROM documents) l
      |), ranked AS (
      |  SELECT g.doc_id, g.lang, g.cand_lang,
      |    coalesce(s.score, 0) AS score,
      |    row_number() OVER (PARTITION BY g.doc_id
      |      ORDER BY coalesce(s.score, 0) DESC, g.cand_lang) AS rk
      |  FROM grid g LEFT JOIN scores s
      |    ON s.doc_id = g.doc_id AND s.cand_lang = g.cand_lang
      |)
      |SELECT doc_id, lang, cand_lang AS pred_lang, score
      |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // the prefix is projected ONCE by name before the gram explode
    // (the wordGrams idiom) — inlining the substring into a lambda
    // would re-slice the document per gram element under
    // CollapseProject (measured ~2.3x at sf0.1). Native CharGrams
    // generator (see charBigrams)
    profileArgmax(docs,
      charBigrams(
        docs.select(col("doc_id"), col("lang"),
          substring(col("text"), 1, 64).as("__pre")),
        "__pre", Seq("doc_id", "lang"), "item"),
      topK = 20)
  }

  /** Document fingerprint: order-sensitive rolling hash folded over the
    * token sequence (polynomial in a large modulus over salted
    * xxhash64). Unlike SimHash/Jaccard this distinguishes permuted
    * token bags. No oracle (xxhash64); LlmSpec checks equal-text =>
    * equal-fingerprint and order sensitivity.
    */
  private val fingerprint = Q.noOracle("q_text_fingerprint") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        // modulus applied at every fold step: keeps acc < 2^31 so the
        // multiply never overflows (ANSI mode makes overflow an error)
        expr("aggregate(split(text, ' '), CAST(7 AS BIGINT), " +
          "(acc, t) -> pmod(acc * 1000003 + pmod(xxhash64(t), 1000000007), " +
          "1000000007))").as("fingerprint"))
      .orderBy("doc_id")
  }

  /** The same order-sensitive rolling fingerprint with md5-derived
    * per-token hashes — the oracle-checkable twin of
    * q_text_fingerprint (md5 is md5 in both engines; xxhash64 is
    * Spark-only). The Spark side folds left with `aggregate`, applying
    * the modulus at every step (acc < 2^31, so acc*1000003 stays far
    * under 2^63 — ANSI-safe); the DuckDB oracle evaluates the SAME
    * polynomial in closed form: fp = (7·B^n + Σ h_i·B^(n-i)) mod M,
    * with B^k mod M from a recursive-CTE power table and the Σ taken
    * in DuckDB's HUGEINT SUM before the final modulus. Cross-checking
    * an iterative fold against a closed-form evaluation is exactly the
    * kind of independent-path oracle the hash compare is for. Keep the
    * xxhash64 variant for production: one xxhash64 per token beats an
    * md5 at 100 TB.
    */
  private val fingerprintMd5 = Q(
    "q_text_fingerprint_md5",
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), mx AS (SELECT max(len(toks)) AS m FROM t),
      |pw(k, p) AS (
      |  SELECT 0, CAST(1 AS BIGINT)
      |  UNION ALL
      |  SELECT k + 1, (p * 1000003) % 1000000007 FROM pw
      |  WHERE k < (SELECT m FROM mx)
      |), terms AS (
      |  SELECT t.doc_id,
      |    (CAST(concat('0x', substr(md5(list_extract(t.toks, u.i)),
      |       1, 15)) AS BIGINT) % 1000000007) * pn.p AS term
      |  FROM t, unnest(generate_series(1, len(t.toks))) AS u(i)
      |  JOIN pw pn ON pn.k = len(t.toks) - u.i
      |), sums AS (
      |  SELECT doc_id, SUM(term) % 1000000007 AS s
      |  FROM terms GROUP BY doc_id
      |)
      |SELECT t.doc_id AS doc_id,
      |  CAST(((7 * pb.p) % 1000000007 + COALESCE(sums.s, 0))
      |    % 1000000007 AS BIGINT) AS fingerprint
      |FROM t
      |JOIN pw pb ON pb.k = len(t.toks)
      |LEFT JOIN sums ON sums.doc_id = t.doc_id
      |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("aggregate(split(text, ' '), CAST(7 AS BIGINT), " +
          "(acc, t) -> pmod(acc * 1000003 + " +
          "pmod(CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT), " +
          "1000000007), 1000000007))").as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition signals per document: fraction of token
    * bigrams that are duplicates, and the fraction taken by the single
    * most frequent bigram — the "fraction of characters in the top
    * 2-gram / in duplicate lines" family of repetition filters, adapted
    * to a corpus with no newlines. Bigrams are formed map-side with an
    * indexed `transform` over the token array (codegen HOF, no UDF);
    * the only shuffle is the (doc_id, bigram) count — at 100 TB the
    * groupBy partial-aggregates map-side and the key space is bounded
    * by corpus token pairs. Counts stay count(*)-typed (BIGINT both
    * engines — never an integer SUM, which DuckDB widens to HUGEINT and
    * the driver hash rejects). Verdict thresholds mirror Gopher's
    * "most common n-gram > 20% of doc" rule.
    */
  private val repetition = Q(
    "q_text_repetition",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS bg
      |  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      |), c AS (
      |  SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg
      |), d AS (
      |  SELECT doc_id, count(*) AS n_distinct, max(cnt) AS top_cnt
      |  FROM c GROUP BY doc_id
      |), n AS (
      |  SELECT doc_id, len(toks) - 1 AS n_bigrams FROM t
      |)
      |SELECT n.doc_id, n.n_bigrams, d.top_cnt,
      |  round(CAST(d.top_cnt AS DOUBLE) / n.n_bigrams, 4) AS top_bigram_frac,
      |  round(1.0 - CAST(d.n_distinct AS DOUBLE) / n.n_bigrams, 4)
      |    AS dup_bigram_frac,
      |  CASE WHEN CAST(d.top_cnt AS DOUBLE) / n.n_bigrams > 0.2
      |    THEN 'repetitive' ELSE 'ok' END AS verdict
      |FROM n JOIN d ON n.doc_id = d.doc_id
      |ORDER BY n.doc_id""".stripMargin
  ) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val b = t.select(col("doc_id"),
      (size(col("toks")) - 1).as("n_bigrams"),
      explode(expr("transform(slice(toks, 1, size(toks) - 1), " +
        "(x, i) -> concat(x, ' ', element_at(toks, i + 2)))")).as("bg"))
    b.groupBy(col("doc_id"), col("n_bigrams"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n_bigrams"))
      .agg(count(lit(1)).as("n_distinct"), max(col("cnt")).as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
        round(col("top_cnt").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"),
          4).as("dup_bigram_frac"),
        when(col("top_cnt").cast("double") / col("n_bigrams") > 0.2,
          "repetitive").otherwise("ok").as("verdict"))
      .orderBy("doc_id")
  }

  /** Token-distribution Shannon entropy per doc — the
    * information-density quality feature (low entropy = repetitive /
    * templated text; complements q_text_repetition's positional
    * bigram fractions with an order-free signal). H = (1/n) Σ c·(-ln
    * c/n) over the doc's token counts; each c·(-ln c/n) term is
    * scaled to an integer BEFORE the distributed sum (the logprob
    * determinism contract), so only the final normalization divides
    * in float. Shuffles are keyed on (doc_id, tok) then doc_id —
    * bounded per doc, parallel across the corpus. */
  private val entropy = Q(
    "q_text_entropy",
    """WITH dt AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), cnt AS (
      |  SELECT doc_id, tok, count(*) AS c FROM dt GROUP BY doc_id, tok
      |), n AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks
      |  FROM cnt GROUP BY doc_id
      |)
      |SELECT doc_id, n_toks,
      |  round(sum(CAST(round(c * -ln(CAST(c AS DOUBLE) / n_toks)
      |      * 1000000) AS BIGINT)) / (1000000.0 * n_toks), 4) AS entropy
      |FROM cnt JOIN n USING (doc_id)
      |GROUP BY doc_id, n_toks ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val cnt = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val n = cnt.groupBy("doc_id").agg(sum(col("c")).as("n_toks"))
    cnt.join(n, "doc_id")
      .select(col("doc_id"), col("n_toks"),
        round(col("c") * -log(col("c").cast("double") / col("n_toks"))
          * 1000000).cast("bigint").as("scaled"))
      .groupBy("doc_id", "n_toks")
      .agg(round(sum("scaled") / (lit(1000000.0) * col("n_toks")), 4)
        .as("entropy"))
      .orderBy("doc_id")
  }

  /** Hashing-trick linear classifier (the fastText shape: Joulin et
    * al., "Bag of Tricks for Efficient Text Classification", 2017) —
    * the standard cheap quality gate in front of LLM corpus pipelines:
    * each token hashes into one of 4096 weight buckets (no vocabulary,
    * no OOV), the doc's logit is the sum of its tokens' bucket weights,
    * and the sign decides keep/drop. Weights would come from training
    * offline; here they are a deterministic function of the bucket id
    * ((b % 13) - 6) so both engines score identically — the ENGINE
    * surface under grade is the hashed feature lookup + integer logit,
    * which is exactly what serving a trained model needs. md5-derived
    * buckets keep Spark and DuckDB on the same hash. Scale shape: pure
    * map-side HOF per doc, zero shuffle before the output sort; a real
    * weight table (4096 rows) would broadcast.
    */
  private val hashClassifier = Q(
    "q_text_hash_classifier",
    """SELECT doc_id,
      |  CAST(list_sum(list_transform(string_split(text, ' '), t ->
      |    ((CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT)::BIGINT
      |      % 4096) % 13) - 6)) AS BIGINT) AS logit_u,
      |  CASE WHEN list_sum(list_transform(string_split(text, ' '), t ->
      |    ((CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT)::BIGINT
      |      % 4096) % 13) - 6)) > 0 THEN 'keep' ELSE 'drop' END AS verdict
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(
        """aggregate(
          |  transform(split(text, ' '), t ->
          |    ((CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)
          |      % 4096) % 13) - 6),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
        .as("logit_u"))
      .withColumn("verdict",
        when(col("logit_u") > 0, "keep").otherwise("drop"))
      .orderBy("doc_id")
  }

  /** Classifier CALIBRATION / reliability table (r16) — the audit a
    * quality-filter deployment runs before trusting a threshold:
    * bucket every doc by its classifier logit into fixed bands, and
    * per band report the doc count, the summed logit, and the rate of
    * an INDEPENDENT proxy label (here: long-doc, len >= 400 chars) in
    * integer basis points. A well-calibrated filter shows the rate
    * rising with the band; the deterministic stand-in model scores
    * hash-random, so its table reads flat — which is exactly what the
    * harness should say about it. Scale shape: one corpus pass,
    * map-side banding, ~12-group partial aggregate — no shuffle wider
    * than the band count. Banding shifts the logit NONNEGATIVE before
    * the integer divide (DuckDB `//` truncates toward zero on
    * negatives; Spark `div` matches it only for nonnegative values —
    * the STATUS determinism rule). */
  private val calibration = Q(
    "q_text_calibration",
    """WITH scored AS (
      |  SELECT
      |    CAST(list_sum(list_transform(string_split(text, ' '), t ->
      |      ((CAST(concat('0x', substr(md5(t), 1, 15)) AS UBIGINT)::BIGINT
      |        % 4096) % 13) - 6)) AS BIGINT) AS logit_u,
      |    CASE WHEN len(text) >= 400 THEN 1 ELSE 0 END AS actual
      |  FROM documents
      |)
      |SELECT
      |  CAST((least(greatest(logit_u, -60), 59) + 60) // 10 AS BIGINT)
      |    AS band,
      |  count(*) AS n,
      |  CAST(sum(logit_u) AS BIGINT) AS sum_logit,
      |  CAST(sum(actual) AS BIGINT) AS positives,
      |  CAST((sum(actual) * 10000) // count(*) AS BIGINT) AS pos_bp
      |FROM scored GROUP BY 1 ORDER BY band""".stripMargin
  ) { (s, dir) =>
    val scored = Tables.documents(s, dir)
      .select(expr(
        """aggregate(
          |  transform(split(text, ' '), t ->
          |    ((CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)
          |      % 4096) % 13) - 6),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin)
        .as("logit_u"),
        when(length(col("text")) >= 400, 1L).otherwise(0L).as("actual"))
    scored
      .groupBy(expr("(least(greatest(logit_u, -60L), 59L) + 60L) div 10")
        .as("band"))
      .agg(count(lit(1)).as("n"),
        sum("logit_u").cast("long").as("sum_logit"),
        sum("actual").cast("long").as("positives"),
        expr("(sum(actual) * 10000) div count(*)").cast("long")
          .as("pos_bp"))
      .orderBy("band")
  }

  /** One BPE merge round (Sennrich et al. 2016, the distributed core
    * of tokenizer training): count adjacent character pairs weighted
    * by word frequency; the argmax pair is the next merge. The pair
    * explosion runs over the aggregated VOCABULARY, not the corpus —
    * the classic BPE trick: corpus-sized work happens once (the word
    * count, one shuffle), each merge round then touches only
    * vocab-sized data. Top-30 via TakeOrderedAndProject with a total
    * (count DESC, pair) order. */
  private val bpePairs = Q(
    "q_text_bpe_pairs",
    """WITH words AS (
      |  SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |  ) WHERE len(w) >= 2 GROUP BY w
      |), pairs AS (
      |  SELECT substring(w, i, 2) AS pair, freq
      |  FROM words, unnest(generate_series(1, len(w) - 1)) AS u(i)
      |)
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS merge_count
      |FROM pairs GROUP BY pair
      |ORDER BY merge_count DESC, pair
      |LIMIT 30""".stripMargin
  ) { (s, dir) =>
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // native CharGrams generator (see charBigrams)
    charBigrams(words, "w", Seq("freq"), "pair")
      .groupBy("pair").agg(sum("freq").cast("long").as("merge_count"))
      .orderBy(desc("merge_count"), col("pair"))
      .limit(30)
  }

  /** Language-metadata QA: the confusion matrix between the corpus's
    * DECLARED lang column and the engine's own langid prediction —
    * the standard check that catches mislabeled sources and broken
    * upstream language tags before they poison per-lang sampling
    * weights. Composed ON TOP of q_text_langid (same builder, oracle
    * embeds the same SQL — the q_sim_recall pattern, so the report
    * cannot drift from the classifier it audits); the matrix itself
    * is a ≤\|langs\|² aggregate with half-up-bp per-declared-lang
    * agreement shares. */
  private val langMismatch = Q(
    "q_text_lang_mismatch",
    s"""WITH pred AS (${langId.oracle.get}
       |)
       |SELECT lang, pred_lang, count(*) AS n,
       |  (10000 * count(*)
       |    + CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) // 2)
       |    // CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
       |    AS share_bp
       |FROM pred GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("lang")
    langId.build(s, dir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(w))
      .withColumn("share_bp", expr("(10000 * n + tot div 2) div tot"))
      .drop("tot")
      .orderBy("lang", "pred_lang")
  }

  /** Zipf / vocabulary-coverage curve — the artifact behind every
    * vocab-size decision: what share of token OCCURRENCES the top-K
    * types capture, for K in {5, 10, 20}
    * (the synthetic corpus has ~31 types; real corpora use 100k-scale Ks). One corpus token
    * pass into a partial-agg type-count table; the global rank window
    * runs over the VOCABULARY (Zipf-bounded — at 100 TB the exact
    * global sort would swap for a two-phase top-K, same outputs for
    * any K below the cut), and the coverage sums are conditional
    * aggregates over that bounded table. Half-up integer bp. */
  private val vocabCoverage = Q(
    "q_text_vocab_coverage",
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      |), cnt AS (
      |  SELECT tok, count(*) AS c FROM toks GROUP BY tok
      |), rk AS (
      |  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM cnt
      |), tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS t,
      |    CAST(count(*) AS BIGINT) AS n_types FROM cnt
      |)
      |SELECT k.k AS vocab_size,
      |  CAST(coalesce(sum(CASE WHEN rk.r <= k.k THEN rk.c END), 0)
      |    AS BIGINT) AS covered_tokens,
      |  any_value(tot.t) AS total_tokens,
      |  any_value(tot.n_types) AS n_types,
      |  (10000 * CAST(coalesce(sum(CASE WHEN rk.r <= k.k THEN rk.c END),
      |     0) AS BIGINT) + any_value(tot.t) // 2) // any_value(tot.t)
      |    AS coverage_bp
      |FROM rk CROSS JOIN (SELECT unnest([5, 10, 20]) AS k) k
      |CROSS JOIN tot
      |GROUP BY k.k ORDER BY vocab_size""".stripMargin
  ) { (s, dir) =>
    val cnt = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val rk = cnt.withColumn("r",
      row_number().over(Window.orderBy(desc("c"), asc("tok"))))
    val tot = cnt.agg(sum("c").cast("bigint").as("t"),
      count(lit(1)).cast("bigint").as("n_types"))
    val sizes = s.range(1).selectExpr(
      "explode(array(5, 10, 20)) AS k")
    rk.crossJoin(broadcast(sizes))
      .groupBy(col("k").as("vocab_size"))
      .agg(coalesce(sum(when(col("r") <= col("k"), col("c"))), lit(0))
        .cast("bigint").as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size"),
        col("covered_tokens"),
        col("t").as("total_tokens"),
        col("n_types"),
        expr("(10000 * covered_tokens + t div 2) div t")
          .as("coverage_bp"))
      .orderBy("vocab_size")
  }

  /** BPE merge TRAINING loop (Sennrich et al. 2016): three full
    * iterations of count-pairs → argmax → apply-merge, the step
    * q_text_bpe_pairs only counts once. Words become delimited symbol
    * sequences (`||a||b||c||`); applying merge (x,y) is one
    * `replace('|x||y|' -> '|xy|')` over the VOCABULARY — left-to-right
    * non-overlapping, which is exactly BPE's greedy within-word
    * semantics (the double-delimiter encoding keeps runs like
    * `b b b b -> bb bb` correct because each side of the pattern
    * leaves one delimiter unconsumed; TextSpec pins the run case in
    * both engines' scan order). Argmax is a total (count DESC, pair)
    * order + limit 1 cross-joined back as a 1-row broadcast — no
    * driver loop, the 3 rounds are ONE Catalyst plan.
    *
    * Scale design (100 TB): the corpus contributes exactly one
    * word-count shuffle (checkpointed once, the shingle-family idiom);
    * every merge round then touches only vocab-sized data (|V| rows),
    * so extra rounds cost vocab-sized work, not corpus passes. */
  private val bpeRounds = 3

  /** The words → r0 → (p_i, b_i, r_i)* oracle scaffolding shared by
    * the train and apply queries. */
  private def bpeOracleCtes: String = {
    val rounds = (1 to bpeRounds).map { i =>
      s"""p$i AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, list_filter(string_split(rep, '||'),
         |          x -> x <> '') AS syms FROM r${i - 1}) t,
         |    unnest(generate_series(1, len(t.syms) - 1)) AS u(i)
         |  WHERE len(t.syms) >= 2
         |  GROUP BY 1, 2
         |), b$i AS (
         |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1
         |), r$i AS (
         |  SELECT w, freq, replace(rep,
         |    '|' || b.l || '||' || b.r || '|',
         |    '|' || b.l || b.r || '|') AS rep
         |  FROM r${i - 1}, b$i b
         |)""".stripMargin
    }.mkString(", ")
    s"""words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |  ) GROUP BY w
       |), r0 AS (
       |  SELECT w, freq, '||' || array_to_string(list_transform(
       |    generate_series(1, length(w)), i -> substring(w, i, 1)),
       |    '||') || '||' AS rep
       |  FROM words
       |), $rounds""".stripMargin
  }

  private val bpeTrain = Q(
    "q_text_bpe_train", {
      val out = (1 to bpeRounds).map(i =>
        s"SELECT $i AS step, l, r, l || r AS merged, cnt AS merge_count " +
          s"FROM b$i").mkString("\nUNION ALL ")
      s"""WITH $bpeOracleCtes
         |$out
         |ORDER BY step""".stripMargin
    }
  ) { (s, dir) => bpeTrainOver(Tables.documents(s, dir)) }

  /** BPE APPLY — the serving half of the tokenizer story: re-tokenize
    * the corpus under the 3 trained merges and report, per source, the
    * whitespace-token / character / post-merge-symbol volumes and the
    * half-up-bp symbol saving vs char-level. The corpus is touched
    * twice (the word-count shuffle inside the train fold, then one
    * (source, word) pass); the trained vocabulary joins back as a
    * broadcast — per-word symbol counts are computed once on \|V\| rows,
    * never per occurrence. This is the compression payoff number a
    * tokenizer build is judged by (more rounds ⇒ bigger saving; 3
    * demo rounds ≈ 8% here). */
  private val bpeApply = Q(
    "q_text_bpe_apply",
    s"""WITH $bpeOracleCtes,
       |vocab AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS chars,
       |    CAST(len(list_filter(string_split(rep, '||'),
       |      x -> x <> '')) AS BIGINT) AS symbols
       |  FROM r$bpeRounds
       |), docsw AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS ws_tokens,
       |    CAST(sum(v.chars) AS BIGINT) AS chars,
       |    CAST(sum(v.symbols) AS BIGINT) AS symbols
       |  FROM docsw d JOIN vocab v ON d.w = v.w
       |  GROUP BY source
       |)
       |SELECT source, ws_tokens, chars, symbols,
       |  (10000 * (chars - symbols) + chars // 2) // chars AS saved_bp
       |FROM agg ORDER BY source""".stripMargin
  ) { (s, dir) => bpeApplyOver(Tables.documents(s, dir)) }

  private[graft] def bpeApplyOver(docs: DataFrame): DataFrame =
    bpeVolumes(docs, "source")
      .withColumn("saved_bp",
        expr("(10000 * (chars - symbols) + chars div 2) div chars"))
      .orderBy("source")

  /** Per-`group` whitespace-token / char / post-merge-symbol volumes
    * under the trained merges — the shared measurement pass of
    * [[bpeApply]] (per-source compression) and [[bpeFertility]]
    * (per-lang fertility). Per-word symbol counts are computed once
    * on the \|V\|-row vocabulary and broadcast back, never per
    * occurrence. */
  private def bpeVolumes(docs: DataFrame, group: String): DataFrame = {
    val vocab = bpeFold(docs)._2
      .select(col("w"), length(col("w")).cast("long").as("chars"),
        expr("size(filter(split(rep, '\\\\|\\\\|'), x -> x != ''))")
          .cast("long").as("symbols"))
    docs.select(col(group), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(vocab), "w")
      .groupBy(group)
      .agg(count(lit(1)).as("ws_tokens"),
        sum("chars").cast("long").as("chars"),
        sum("symbols").cast("long").as("symbols"))
  }

  /** Tokenizer FERTILITY per language — the multilingual-equity metric
    * of a tokenizer build (how many subword symbols a word costs, per
    * lang): a vocabulary trained mostly on one language fragments the
    * others, inflating their effective sequence length and training
    * cost. Reports symbols-per-word and chars-per-symbol in half-up
    * basis points, all-integer off the same trained merges and
    * measurement pass as q_text_bpe_apply (which reports per-SOURCE
    * compression; fertility is the per-LANG cost view). Scale shape:
    * identical to bpe_apply — one corpus (lang, word) pass, vocab
    * broadcast back. */
  private val bpeFertility = Q(
    "q_text_bpe_fertility",
    s"""WITH $bpeOracleCtes,
       |vocab AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS chars,
       |    CAST(len(list_filter(string_split(rep, '||'),
       |      x -> x <> '')) AS BIGINT) AS symbols
       |  FROM r$bpeRounds
       |), docsw AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents
       |), agg AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS ws_tokens,
       |    CAST(sum(v.chars) AS BIGINT) AS chars,
       |    CAST(sum(v.symbols) AS BIGINT) AS symbols
       |  FROM docsw d JOIN vocab v ON d.w = v.w
       |  GROUP BY lang
       |)
       |SELECT lang, ws_tokens, symbols,
       |  (10000 * symbols + ws_tokens // 2) // ws_tokens AS fertility_bp,
       |  (10000 * chars + symbols // 2) // symbols AS chars_per_sym_bp
       |FROM agg ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    bpeVolumes(Tables.documents(s, dir), "lang")
      .select(col("lang"), col("ws_tokens"), col("symbols"),
        expr("(10000 * symbols + ws_tokens div 2) div ws_tokens")
          .as("fertility_bp"),
        expr("(10000 * chars + symbols div 2) div symbols")
          .as("chars_per_sym_bp"))
      .orderBy("lang")
  }

  /** The train fold shared by q_text_bpe_train (the merges) and
    * q_text_bpe_apply (the final per-word representation): returns
    * (merge argmax per round, vocabulary with post-merge `rep`). */
  private def bpeFold(docs: DataFrame): (Seq[DataFrame], DataFrame) = {
    val words = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint() // one corpus pass; rounds reuse the |V|-row table
    val r0 = words.select(col("w"), col("freq"), expr(
      "'||' || array_join(transform(sequence(1, length(w)), " +
        "i -> substring(w, i, 1)), '||') || '||'").as("rep"))
    def pairCounts(rep: DataFrame): DataFrame = rep
      .select(col("freq"),
        expr("filter(split(rep, '\\\\|\\\\|'), x -> x != '')").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(" +
          "element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").cast("long").as("cnt"))
    val (rep3, bests) =
      (1 to bpeRounds).foldLeft((r0, Seq.empty[DataFrame])) {
        case ((rep, acc), _) =>
          val best = pairCounts(rep)
            .orderBy(desc("cnt"), col("l"), col("r")).limit(1)
          val next = rep.crossJoin(broadcast(best))
            .select(col("w"), col("freq"), expr(
              "replace(rep, '|' || l || '||' || r || '|', " +
                "'|' || l || r || '|')").as("rep"))
          (next, acc :+ best)
      }
    (bests, rep3)
  }

  private[graft] def bpeTrainOver(docs: DataFrame): DataFrame =
    bpeFold(docs)._1.zipWithIndex.map { case (b, i) =>
      b.select(lit(i + 1).as("step"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"),
        col("cnt").as("merge_count"))
    }.reduce(_ unionByName _).orderBy("step")

  /** Query-time BM25 retrieval: top-10 documents for a fixed 3-term
    * query ("dup merge scan" — one rare, two common terms, so idf does
    * real work on the Zipf corpus). Okapi BM25 with the Lucene
    * non-negative idf ln(1 + (N−df+0.5)/(df+0.5)), k1=1.2, b=0.75.
    *
    * Determinism contract: the transcendental (ln) follows the
    * q_text_logprob precedent — each TERM's idf is scaled to an
    * integer (×10⁶) before anything distributed touches it; the tf
    * normalization is a fixed tree of correctly-rounded double ops on
    * exactly-representable ints (dl, tf, avgdl = one division of two
    * exact ints), identical in both engines; the per-(doc,term)
    * product rounds to integer micros BEFORE the per-doc sum, which
    * is then exact BIGINT addition. ORDER BY the exact integer score.
    *
    * Scale design (100 TB): the query-term stats (df per term, N,
    * avgdl) are a 3-row + 1-row broadcast; the corpus is scanned once,
    * filtered to query-term tokens MAP-SIDE (a 3-element IN list), and
    * only (doc, term, tf) survivors — bounded by docs containing a
    * query term — reach the shuffle. Top-10 is TakeOrderedAndProject,
    * never a global sort.
    */
  private[graft] val Bm25Terms = Seq("dup", "merge", "scan")

  /** BM25 from INDEX relations — postings (doc_id, tok, tf) and
    * per-doc lengths (doc_id, dl) — the serving form: at query time
    * nothing tokenizes, the postings for the 3 query terms are the
    * only rows read. [[bm25ScoresOver]] derives both relations from
    * raw text and delegates here; the lake inverted-index scenario
    * (q_lake_inverted_index) feeds STORED tables instead and must get
    * bit-identical scores. */
  private[graft] def bm25FromIndex(postings: DataFrame,
      docLens: DataFrame): DataFrame = {
    val stats = docLens.agg(count(lit(1)).as("n"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val qp = postings.filter(col("tok").isin(Bm25Terms: _*))
    val df = qp.groupBy("tok").agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(stats))
      .select(col("tok"),
        round(log(lit(1) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * 1000000)
          .cast("bigint").as("idf_micro"))
    qp
      .join(broadcast(idf), "tok")
      .join(docLens, "doc_id")
      .crossJoin(broadcast(stats.select("avgdl")))
      .select(col("doc_id"),
        round(col("idf_micro") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast("bigint").as("s_micro"))
      .groupBy("doc_id")
      .agg(sum("s_micro").cast("bigint").as("score_micro"))
  }

  /** The index relations of [[bm25FromIndex]] derived from raw text —
    * what an indexing job computes per document, map-side. */
  private[graft] def bm25Index(docs: DataFrame): (DataFrame, DataFrame) = {
    val dt = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    (dt.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")),
      dt.groupBy("doc_id").agg(count(lit(1)).as("dl")))
  }

  /** Per-doc integer BM25 scores for the fixed query — the unlimited
    * score table behind q_text_bm25, shared with the hybrid-retrieval
    * fusion (q_sim_hybrid_rrf). */
  private[graft] def bm25ScoresOver(docs: DataFrame): DataFrame = {
    val (postings, lens) = bm25Index(docs)
    bm25FromIndex(postings, lens)
  }

  private[llm] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    bm25ScoresOver(Tables.documents(s, dir))

  private val bm25 = Q(
    "q_text_bm25",
    """WITH dt AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), dl AS (
      |  SELECT doc_id, count(*) AS dl FROM dt GROUP BY doc_id
      |), stats AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
      |), qt AS (
      |  SELECT unnest(['dup', 'merge', 'scan']) AS tok
      |), df AS (
      |  SELECT dt.tok, count(DISTINCT doc_id) AS df
      |  FROM dt JOIN qt USING (tok) GROUP BY dt.tok
      |), idf AS (
      |  SELECT tok,
      |    CAST(round(ln(1 + (n - df + 0.5) / (df + 0.5)) * 1000000)
      |      AS BIGINT) AS idf_micro
      |  FROM df, stats
      |), tf AS (
      |  SELECT doc_id, dt.tok, count(*) AS tf
      |  FROM dt JOIN qt USING (tok) GROUP BY doc_id, dt.tok
      |), scored AS (
      |  SELECT tf.doc_id,
      |    CAST(round(idf_micro * (tf * 2.2) /
      |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS BIGINT)
      |      AS s_micro
      |  FROM tf
      |  JOIN idf USING (tok)
      |  JOIN dl ON dl.doc_id = tf.doc_id, stats
      |)
      |SELECT doc_id, CAST(sum(s_micro) AS BIGINT) AS score_micro,
      |  round(sum(s_micro) / 1000000.0, 4) AS score
      |FROM scored GROUP BY doc_id
      |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin
  ) { (s, dir) =>
    bm25Scores(s, dir)
      .withColumn("score", round(col("score_micro") / 1000000.0, 4))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(10)
  }

  /** Per-document TF-IDF keyword extraction — the tagging/metadata op
    * between raw text and retrieval: each doc's top-3 tokens by
    * tf·idf, the classic summary terms a corpus card or a faceted
    * browser surfaces. Follows q_text_bm25's determinism discipline
    * exactly: idf = round(ln(N/df)·10⁶) as BIGINT micro-units (the
    * logprob scale-to-int precedent; the only float op is one ln on
    * identical doubles), scores are pure integer products, and the
    * per-doc rank breaks ties by token. Scale shape: one token pass
    * into (doc, tok, tf); df/idf live on the VOCABULARY (Zipf-bounded)
    * and broadcast; the rank window partitions per doc over its ~40
    * distinct tokens — never the corpus. */
  private val keywords = Q(
    "q_text_keywords",
    """WITH dt AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, count(*) AS tf FROM dt GROUP BY 1, 2
      |), df AS (
      |  SELECT tok, count(DISTINCT doc_id) AS df FROM dt GROUP BY tok
      |), n AS (
      |  SELECT count(*) AS n FROM documents
      |), idf AS (
      |  SELECT tok,
      |    CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
      |      AS idf_micro
      |  FROM df, n
      |), rk AS (
      |  SELECT tf.doc_id, tf.tok,
      |    CAST(tf.tf * idf.idf_micro AS BIGINT) AS score_micro,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * idf.idf_micro DESC, tf.tok) AS rk
      |  FROM tf JOIN idf USING (tok)
      |)
      |SELECT doc_id, rk AS rank, tok, score_micro
      |FROM rk WHERE rk <= 3 ORDER BY doc_id, rank""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val dt = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val tf = dt.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val n = docs.count()
    val idf = dt.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"), expr(
        s"CAST(round(ln(CAST($n AS DOUBLE) / df) * 1000000) AS BIGINT)")
        .as("idf_micro"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score_micro"), asc("tok"))
    tf.join(broadcast(idf), "tok")
      .withColumn("score_micro",
        (col("tf") * col("idf_micro")).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").as("rank"), col("tok"),
        col("score_micro"))
      .orderBy("doc_id", "rank")
  }

  /** Corpus novelty profile (round 14) — the "how much NEW text does
    * each document contribute" curve a dataset curator reads before
    * deciding ingestion order: for every doc, the share (half-up
    * basis points) of its distinct word trigrams whose FIRST corpus
    * occurrence (min doc_id) is this doc. Monotone corpora (dumps
    * ingested in crawl order) use it to cut off the diminishing tail.
    * Scale shape: one shingle explode, one groupBy(gram) for the
    * first-occurrence map, one join back on the gram key (same
    * partitioning as the groupBy — no extra exchange), one per-doc
    * aggregate. No all-pairs anything; integer math end to end. Docs
    * under 3 tokens emit no shingles and are absent in both engines. */
  private val novelty = Q(
    "q_text_novelty",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM t
      |), f AS (
      |  SELECT sh, min(doc_id) AS first_doc FROM g GROUP BY sh
      |), pd AS (
      |  SELECT g.doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_novel
      |  FROM g JOIN f ON g.sh = f.sh
      |  GROUP BY g.doc_id
      |)
      |SELECT doc_id, n_grams, n_novel,
      |  (10000 * n_novel + n_grams // 2) // n_grams AS novelty_bp
      |FROM pd ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val g = DedupQueries.shingleSets(Tables.documents(s, dir))
    val f = g.groupBy("sh").agg(min("doc_id").as("first_doc"))
    g.join(f, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .cast("bigint").as("n_novel"))
      .withColumn("novelty_bp",
        expr("(10000 * n_novel + n_grams div 2) div n_grams"))
      .orderBy("doc_id")
  }

  override def all: Seq[Q] =
    Seq(stats, quality, tokenCounts, langId, langIdChargram,
      langIdSampled, fingerprint,
      fingerprintMd5, repetition, entropy, hashClassifier, calibration,
      bpePairs,
      bpeTrain, bpeApply, bpeFertility, langMismatch, vocabCoverage,
      bm25, keywords, novelty)
}
