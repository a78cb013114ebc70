package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import graft.{Q, QueryCatalog}
import graft.functions.BloomMightContain
import graft.rel.Tables

/** SURVEY.md §2l [EXT] corpus-curation operators, round-6 batch: the
  * fingerprint-selection / chunk-dedup / distribution-matching family a
  * production training-data pipeline layers on top of the dedup and
  * quality primitives.
  *
  *  - winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
  *    algorithm): position-robust local fingerprint selection — the
  *    guaranteed-detection alternative to MinHash when matches must be
  *    localized, not just scored.
  *  - content-defined chunking: rolling-hash boundaries split each doc
  *    into variable-size chunks whose identity survives insertions —
  *    the storage-dedup (LBFS/rsync) shape applied to corpus text.
  *  - normalization dedup: case/whitespace-canonicalized exact dedup,
  *    the first pass of every crawl pipeline (catches trivially-mutated
  *    copies that byte-exact dedup misses).
  *  - DSIR-style importance weights (Xie et al. 2023): hashed n-gram
  *    bucket log-ratios between a target and the raw distribution score
  *    every doc for distribution-matched sampling.
  *  - CCNet-style perplexity buckets (Wenzek et al. 2020): per-language
  *    head/middle/tail tertiles of the LM score, the canonical
  *    quality-stratification step before sampling.
  *
  * Scale design (100 TB):
  *  - winnowing/chunking hash selection is pure map-side array math
  *    over each doc (window functions only where the per-doc state is
  *    genuinely sequential); the only corpus-wide shuffles are the
  *    bounded fingerprint/chunk groupBys, partial-aggregated map-side.
  *  - normalization dedup shuffles md5(norm) (16 bytes/row), never the
  *    normalized text itself.
  *  - DSIR's model is 64 bucket log-ratios — a broadcast literal; doc
  *    scoring is map-side. Bucket stats are two partial-agg passes.
  *  - perplexity buckets rank within language partitions (ntile), so
  *    parallelism = language count × AQE splits; the heavy LM scoring
  *    below it is the q_text_logprob shape (scaled-integer sums).
  */
object CurationQueries extends QueryCatalog {

  /** Winnowing fingerprint selection (k=3 token shingles, window w=4):
    * per position the min shingle hash in each w-window is selected;
    * the distinct selected hashes are the doc's fingerprints. Guarantees
    * any shared run of >= k+w-1 tokens yields a shared fingerprint —
    * MOSS's detection guarantee, which MinHash cannot give.
    * Hashes are md5-derived (md5 is md5 in both engines). The shingle
    * hash stream is built map-side with a transform over the token
    * array; only the per-doc w-window min needs the window function.
    */
  private val winnowing = Q(
    "q_text_winnowing",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT doc_id, i, len(toks) - 2 AS m,
      |    CAST(concat('0x', substr(md5(
      |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]), 1, 15))
      |      AS BIGINT) AS h
      |  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
      |  WHERE len(toks) >= 6
      |), w AS (
      |  SELECT doc_id, i, m, min(h) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM g
      |), f AS (
      |  SELECT DISTINCT doc_id, m, fp FROM w WHERE i <= m - 3
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
      |  round(CAST(count(*) AS DOUBLE) / (max(m) - 3), 4) AS density,
      |  min(fp) AS min_fp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) => winnowingSummary(Tables.documents(s, dir)) }

  /** (doc_id, fp) distinct winnowing fingerprints of `docs(doc_id,
    * text)` — k=3 shingles, w=4 windows, md5-derived hashes. */
  private[llm] def winnowingFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 6)
      .select(col("doc_id"), (size(col("toks")) - 2).as("m"),
        posexplode(expr(
          """transform(sequence(1, size(toks) - 2), i ->
            |  cast(conv(substring(md5(concat_ws(' ',
            |    element_at(toks, i), element_at(toks, i + 1),
            |    element_at(toks, i + 2))), 1, 15), 16, 10)
            |  as bigint))""".stripMargin)))
      .toDF("doc_id", "m", "pos", "h")
      .withColumn("fp", min(col("h")).over(
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)))
      // pos is 0-based: window start i = pos + 1 must be <= m - (w-1)
      .filter(col("pos") <= col("m") - 4)
      .select("doc_id", "m", "fp").distinct()

  private[llm] def winnowingSummary(docs: DataFrame): DataFrame =
    winnowingFingerprints(docs)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        round(count(lit(1)).cast("double") / (max("m") - 3), 4)
          .as("density"),
        min("fp").as("min_fp"))
      .orderBy("doc_id")

  /** Content-defined chunking: a rolling bigram hash marks a chunk
    * boundary where hash % 8 == 0 (expected chunk ~8 tokens), so chunk
    * identity is stable under insertions — the LBFS/rsync dedup shape.
    * The whole chunker is map-side array math (boundary positions via
    * filter-over-sequence, chunk texts via slice), no explode until the
    * chunks themselves; the only shuffle is the cross-doc duplicate
    * chunk groupBy on the chunk text (md5 of it at 100 TB).
    */
  private val cdcChunks = Q(
    "q_pipe_cdc_chunks",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), p AS (
      |  SELECT doc_id, i, toks[i] AS tok,
      |    CASE WHEN i >= 2 AND CAST(concat('0x', substr(md5(
      |        coalesce(toks[i-1], '') || ' ' || toks[i]), 1, 8))
      |        AS BIGINT) % 8 = 0
      |      THEN 1 ELSE 0 END AS b
      |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
      |), c AS (
      |  SELECT doc_id, i, tok,
      |    sum(b) OVER (PARTITION BY doc_id ORDER BY i) AS chunk_id
      |  FROM p
      |), ch AS (
      |  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY i) AS ctext
      |  FROM c GROUP BY doc_id, chunk_id
      |), dup AS (
      |  SELECT ctext FROM ch GROUP BY ctext
      |  HAVING count(DISTINCT doc_id) > 1
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(dup.ctext) AS BIGINT) AS n_dup_chunks,
      |  round(CAST(count(dup.ctext) AS DOUBLE) / count(*), 4) AS dup_frac
      |FROM ch LEFT JOIN dup USING (ctext)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val ch = cdcChunkTexts(Tables.documents(s, dir))
    val dup = ch.groupBy("ctext")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
      .select(col("ctext"), lit(1).as("isdup"))
    ch.join(dup, Seq("ctext"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(col("isdup")).as("n_dup_chunks"),
        round(count(col("isdup")).cast("double") / count(lit(1)), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** (doc_id, ctext) content-defined chunks of `docs(doc_id, text)`:
    * boundary where md5(bigram) % 8 == 0, all map-side array math. */
  private[llm] def cdcChunkTexts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      // guard: sequence(2, 1) would DESCEND on a 1-token doc (the
      // ADVICE shingleSets lesson) and probe element_at(toks, 0)
      .withColumn("bnd", expr(
        """case when size(toks) < 2 then cast(array() as array<int>)
          |else filter(sequence(2, size(toks)), i ->
          |  cast(conv(substring(md5(concat_ws(' ',
          |    element_at(toks, i - 1), element_at(toks, i))), 1, 8),
          |    16, 10) as bigint) % 8 = 0) end""".stripMargin))
      .withColumn("starts", expr("concat(array(1), bnd)"))
      .withColumn("ends",
        expr("concat(transform(bnd, x -> x - 1), array(size(toks)))"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(starts)), j -> concat_ws(' ',
          |  slice(toks, element_at(starts, j),
          |    element_at(ends, j) - element_at(starts, j) + 1)))"""
          .stripMargin)))
      .toDF("doc_id", "chunk_idx", "ctext")

  /** Normalization dedup: lower-case, trim, collapse runs of spaces,
    * then exact-group on the canonical form — the crawl-pipeline first
    * pass that catches trivially-mutated copies. The corpus has no such
    * mutants, so the query unions a deterministically-noised twin of
    * each doc (upper-cased, padded, doubled spaces; id + 1000000) and
    * must pair every doc with exactly its twin. Groups key on
    * md5(norm) — 16 bytes/row through the shuffle, not the text.
    */
  private val normalizedDedup = Q(
    "q_dedup_normalized",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    '  ' || replace(upper(text), ' ', '  ') || ' '
      |  FROM documents
      |), n AS (
      |  SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS nk
      |  FROM corpus
      |)
      |SELECT doc_id, min(doc_id) OVER (PARTITION BY nk) AS canonical_id,
      |  CAST(doc_id = min(doc_id) OVER (PARTITION BY nk) AS BOOLEAN)
      |    AS keep
      |FROM n ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionAll(docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("  "),
          regexp_replace(upper(col("text")), lit(" "), lit("  ")),
          lit(" ")).as("text")))
    val n = corpus.select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), " +", " ")))).as("nk"))
    val w = Window.partitionBy("nk")
    n.select(col("doc_id"), min("doc_id").over(w).as("canonical_id"),
        (col("doc_id") === min("doc_id").over(w)).as("keep"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights: unigrams hash into 64 buckets
    * (md5 % 64); the model is the per-bucket log-ratio between the
    * target distribution (lang='en' docs) and the raw corpus, Laplace
    * (+1) smoothed. Per-token log-ratios are scaled to integers BEFORE
    * the per-doc sum (the q_text_logprob determinism discipline), and
    * the single ln argument is assembled with exact-integer products so
    * both engines round the same double.
    */
  private val importance = Q(
    "q_pipe_importance",
    """WITH dt AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), bt AS (
      |  SELECT doc_id, lang,
      |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS b
      |  FROM dt
      |), j AS (
      |  SELECT b, cr, ct,
      |    CAST(sum(cr) OVER () AS BIGINT) AS r,
      |    CAST(sum(ct) OVER () AS BIGINT) AS t
      |  FROM (
      |    SELECT b, count(*) AS cr,
      |      count(CASE WHEN lang = 'en' THEN 1 END) AS ct
      |    FROM bt GROUP BY b)
      |), lr AS (
      |  SELECT b,
      |    CAST(round(ln(((ct + 1.0) * (r + 64)) /
      |      ((cr + 1.0) * (t + 64))) * 1000000) AS BIGINT) AS s
      |  FROM j
      |)
      |SELECT doc_id,
      |  round(sum(s) / (1000000.0 * count(*)), 4) AS weight
      |FROM bt JOIN lr ON bt.b = lr.b
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, dir) => importanceWeights(Tables.documents(s, dir), "en") }

  /** (doc_id, weight) DSIR importance weights of `docs(doc_id, lang,
    * text)` against the `targetLang` slice as the target distribution. */
  private[llm] def importanceWeights(docs: DataFrame,
      targetLang: String): DataFrame = {
    val bt = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("bigint")
          % 64).as("b"))
    // both distributions from ONE conditional aggregation pass (cr =
    // all tokens, ct = target-lang tokens), totals via a global window
    // over the 64-row bucket table — the corpus token stream is
    // scanned twice in the whole query (model pass + scoring pass)
    // and the single-partition window is bounded by B=64 at any size
    val w = Window.partitionBy()
    val lr = bt.groupBy("b")
      .agg(count(lit(1)).as("cr"),
        count(when(col("lang") === targetLang, 1)).as("ct"))
      .withColumn("r", sum("cr").over(w))
      .withColumn("t", sum("ct").over(w))
      .select(col("b"),
        round(log(((col("ct") + 1.0) * (col("r") + 64)) /
          ((col("cr") + 1.0) * (col("t") + 64))) * 1000000)
          .cast("bigint").as("s"))
    bt.join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(round(sum("s") / (lit(1000000.0) * count(lit(1))), 4)
        .as("weight"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity buckets: per-language head/middle/tail
    * tertiles of the unigram-LM score (q_text_logprob's scaled-integer
    * NLL), the canonical quality stratification before sampling. The
    * ntile ranks on one exact-integer-derived double with a doc_id
    * tiebreak, so both engines cut identical tertiles; bucket summaries
    * use only order-independent min/max/count.
    */
  private val pplBuckets = Q(
    "q_text_ppl_buckets",
    """WITH dt AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), freq AS (
      |  SELECT tok, c, CAST(sum(c) OVER () AS BIGINT) AS total
      |  FROM (SELECT tok, count(*) AS c FROM dt GROUP BY tok)
      |), d AS (
      |  SELECT doc_id, lang,
      |    sum(CAST(round(-ln(CAST(c AS DOUBLE) / total) * 1000000)
      |      AS BIGINT)) AS s,
      |    count(*) AS cnt
      |  FROM dt JOIN freq USING (tok)
      |  GROUP BY doc_id, lang
      |), ranked AS (
      |  SELECT lang, doc_id, s, cnt, ntile(3) OVER (PARTITION BY lang
      |    ORDER BY CAST(s AS DOUBLE) / cnt, doc_id) AS tert
      |  FROM d
      |)
      |SELECT lang,
      |  CASE tert WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
      |    ELSE 'tail' END AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  round(min(CAST(s AS DOUBLE) / (1000000.0 * cnt)), 4) AS min_nll,
      |  round(max(CAST(s AS DOUBLE) / (1000000.0 * cnt)), 4) AS max_nll
      |FROM ranked GROUP BY lang, tert ORDER BY lang, bucket""".stripMargin
  ) { (s, dir) =>
    val dt = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))
    // total tokens via a global window over the vocab-sized freq table
    // — one corpus scan for freq, one for scoring, never a third; the
    // single-partition window costs one pass over vocab rows, far
    // cheaper than re-scanning the corpus for the total
    val freq = dt.groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("total", sum("c").over(Window.partitionBy()))
    val d = dt.join(broadcast(freq), "tok")
      .select(col("doc_id"), col("lang"),
        round(-log(col("c").cast("double") / col("total")) * 1000000)
          .cast("bigint").as("scaled"))
      .groupBy("doc_id", "lang")
      .agg(sum("scaled").as("s"), count(lit(1)).as("cnt"))
    val ranked = d.withColumn("tert", ntile(3).over(
      Window.partitionBy("lang")
        .orderBy(col("s").cast("double") / col("cnt"), col("doc_id"))))
    ranked.groupBy(col("lang"),
        when(col("tert") === 1, "head").when(col("tert") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("s").cast("double") / (lit(1000000.0) * col("cnt"))),
          4).as("min_nll"),
        round(max(col("s").cast("double") / (lit(1000000.0) * col("cnt"))),
          4).as("max_nll"))
      .orderBy("lang", "bucket")
  }

  /** Overflow splitting for SemDeDup blocking: any cell whose size `m`
    * exceeds `cap` is subdivided into `2^b` sub-blocks,
    * `b = min(16, ceil(log2(m / cap)))`, by the sign pattern of the
    * vector's first `b` dims relative to the cell centroid — i.e. `b`
    * axis-aligned LSH hyperplanes through the centroid. This bounds the
    * per-block all-pairs at roughly `cap²` (expected; residual signs on
    * real embeddings split near-evenly — the spec measures the bound on
    * a 1M-vector corpus, and adversarially one-sided cells degrade
    * gracefully, never below the unsplit behavior). Entirely map-side:
    * the only inputs beyond the row are two broadcast-sized tables
    * (per-cell sizes, the cap scalar), so the split adds no shuffle,
    * window, or iteration — the property that lets the blocking hold at
    * 1000× the data.
    *
    * `cellDf` needs (vec_id, v, cell); `cen` needs (cl, cen); `caps` is
    * a single row with column `cap`. All other `cellDf` columns pass
    * through; adds `sub` (LongType, 0 for unsplit cells).
    */
  private[llm] def overflowSplit(
      cellDf: DataFrame, cen: DataFrame, caps: DataFrame): DataFrame = {
    // per-cell split depth b, computed entirely on the tiny side
    // (cells × 1 row) and materialized via localCheckpoint: the main
    // plan then joins a broadcast ExistingRDD — the 1-row cap
    // cross-join never appears in (or re-executes with) the big plan
    val cellMeta = cellDf.groupBy("cell").agg(count(lit(1)).as("m"))
      .crossJoin(caps)
      .withColumn("b",
        when(col("m") <= col("cap"), lit(0L))
          .otherwise(least(lit(16L),
            ceil(log2(col("m").cast("double") / col("cap").cast("double")))))
          .cast("int"))
      .select(col("cell"), col("b"))
      .localCheckpoint()
    cellDf
      .join(broadcast(cellMeta), Seq("cell"))
      .join(broadcast(cen.select(col("cl").as("cell"),
        col("cen").as("_cen"))), Seq("cell"))
      .withColumn("sub",
        when(col("b") === 0, lit(0L)).otherwise(expr(
          """aggregate(sequence(0, b - 1), CAST(0 AS BIGINT), (acc, i) ->
            |acc + CASE WHEN CAST(element_at(v, i + 1) AS DOUBLE)
            |  >= element_at(_cen, i + 1)
            |THEN shiftleft(CAST(1 AS BIGINT), i)
            |ELSE CAST(0 AS BIGINT) END)""".stripMargin)))
      .drop("_cen", "b")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embedding space (nearest of the 10 per-label centroids, centroids
    * 4dp-rounded — the q_sim_outliers cross-engine contract), then
    * inside each block flag every vector with a same-block neighbor at
    * cosine >= 0.3 and keep only the smallest vec_id of each near-dup
    * group. Cluster blocking turns the O(n²) all-pairs into per-block
    * equi-joins — the whole point of SemDeDup.
    *
    * The label vocabulary is fixed (10), so at 100× data a per-cell
    * all-pairs would be O((n/10)²) — quadratic. [[overflowSplit]]
    * caps blocks at `cap = max(50, 2·ceil(sqrt(n)))` rows via
    * centroid-hyperplane sub-blocking, making the candidate pair count
    * ~n·cap = O(n^1.5) instead. cap, sizes, and the sub-hash are all
    * computed in-plan (no driver-side count), and the oracle SQL
    * mirrors the full two-level scheme so both engines block
    * identically at every SF. At 100 TB the assignment runs map-side
    * against a broadcast centroid table (the q_sim_knn_join IVF shape).
    */
  private val semanticDedup = Q(
    "q_dedup_semantic",
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
      |      AS nrm
      |  FROM embeddings
      |), c0 AS (
      |  SELECT label, dim, round(avg(val), 4) AS m
      |  FROM (
      |    SELECT label,
      |      unnest(range(0, len(embedding))) AS dim,
      |      unnest(embedding::DOUBLE[]) AS val
      |    FROM embeddings)
      |  GROUP BY label, dim
      |), c AS (
      |  SELECT label AS cl, list(m ORDER BY dim) AS cen FROM c0
      |  GROUP BY label
      |), cn AS (
      |  SELECT cl, cen, sqrt(list_dot_product(cen, cen)) AS cnrm FROM c
      |), cell AS (
      |  SELECT vec_id, any_value(v) AS v, any_value(nrm) AS nrm,
      |    -(max({'c': list_dot_product(v, cen) / (nrm * cnrm),
      |           'n': -cl})).n AS cell
      |  FROM e CROSS JOIN cn GROUP BY vec_id
      |), p AS (
      |  SELECT greatest(50, CAST(2 * ceil(sqrt(count(*))) AS BIGINT))
      |    AS cap FROM embeddings
      |), sz AS (
      |  SELECT cell, count(*) AS m FROM cell GROUP BY cell
      |), cs AS (
      |  SELECT cell.vec_id, cell.v, cell.nrm, cell.cell, cn.cen,
      |    CASE WHEN sz.m <= p.cap THEN 0
      |         ELSE CAST(least(16, ceil(log2(sz.m::DOUBLE / p.cap)))
      |           AS INT) END AS b
      |  FROM cell, sz, p, cn
      |  WHERE cell.cell = sz.cell AND cell.cell = cn.cl
      |), sub AS (
      |  SELECT vec_id, v, nrm, cell,
      |    CASE WHEN b = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(coalesce(list_sum(list_transform(range(0, b),
      |           i -> CASE WHEN v[i + 1] >= cen[i + 1]
      |                THEN (CAST(1 AS BIGINT) << i)
      |                ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)
      |    END AS sub
      |  FROM cs
      |), nb AS (
      |  SELECT a.vec_id,
      |    CAST(count(*) AS BIGINT) AS n_dups,
      |    CAST(count(CASE WHEN b.vec_id < a.vec_id THEN 1 END)
      |      AS BIGINT) AS n_smaller
      |  FROM sub a JOIN sub b
      |    ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id <> b.vec_id
      |  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3
      |  GROUP BY a.vec_id
      |)
      |SELECT sub.vec_id, sub.cell,
      |  COALESCE(nb.n_dups, 0) AS n_dups,
      |  CAST(COALESCE(nb.n_smaller, 0) = 0 AS BOOLEAN) AS keep
      |FROM sub LEFT JOIN nb ON sub.vec_id = nb.vec_id
      |ORDER BY sub.vec_id""".stripMargin
  ) { (s, dir) =>
    import graft.functions.vec
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", vec.norm(col("v")))
    val cen = Tables.embeddings(s, dir)
      .select(col("label"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as(Seq("dim", "val")))
      .groupBy("label", "dim")
      .agg(round(avg(col("val")), 4).as("m"))
      .groupBy(col("label").as("cl"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, m))), " +
        "s -> s.m)").as("cen"))
      .withColumn("cnrm", vec.norm(col("cen")))
      // tiny (label-vocabulary rows); materialized so the assignment
      // AND the overflow-split's _cen join both reuse it instead of
      // recomputing the centroid pipeline from the raw table
      .localCheckpoint()
    // assignment as a partial-aggregable struct-max, not a window: the
    // map side collapses each vector's 10 candidate cells to one row
    // before any shuffle (lexicographic (cosd, -cl) max = highest
    // cosine, smallest cell on ties — both engines compare structs
    // field-by-field). localCheckpoint materializes the assignment so
    // the size pass, the two self-join sides, and the final projection
    // reuse it instead of recomputing the centroid pipeline each time.
    val cell = e.crossJoin(broadcast(cen))
      .withColumn("cosd",
        vec.cosine(col("v"), col("cen"), col("nrm"), col("cnrm")))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        (-max(struct(col("cosd"), (-col("cl")).as("n")))
          .getField("n")).as("cell"))
      .localCheckpoint()
    // cap from the CHECKPOINTED assignment (one row per vec_id, so its
    // count equals the DuckDB mirror's count(*) FROM embeddings) — no
    // second parquet scan in the plan
    val caps = cell.agg(count(lit(1)).as("n"))
      .select(greatest(lit(50L),
        (ceil(sqrt(col("n").cast("double"))) * 2).cast("long")).as("cap"))
    val blocked = overflowSplit(cell, cen, caps)
    val a = blocked.select(col("vec_id"), col("cell"), col("sub"),
      col("v").as("va"), col("nrm").as("na"))
    val b = blocked.select(col("vec_id").as("id_b"), col("cell"),
      col("sub"), col("v").as("vb"), col("nrm").as("nb"))
    val nb = a.join(b, Seq("cell", "sub"))
      .filter(col("vec_id") =!= col("id_b"))
      .filter(vec.cosine(col("va"), col("vb"), col("na"), col("nb"))
        >= 0.3)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dups"),
        count(when(col("id_b") < col("vec_id"), 1)).as("n_smaller"))
    blocked.join(nb, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_smaller"), lit(0L)) === 0).as("keep"))
      .orderBy("vec_id")
  }

  /** Slice-drift monitoring: KL divergence of each language slice's
    * hashed-unigram distribution from the whole-corpus distribution —
    * the dataset-release health check that flags a slice whose token
    * mix has drifted (new crawl source, encoding bug, template spam).
    * Same 64-bucket md5 hashing and Laplace (+1) smoothing as the DSIR
    * model ([[importanceWeights]]); KL(P_lang ‖ P_corpus) =
    * Σ_b p_b·ln(p_b/q_b) with every ln argument assembled from exact
    * integer products, each term scaled to an integer BEFORE the sum
    * (the q_text_logprob discipline), and one float division at the
    * end.
    *
    * Scale design: the corpus token stream is scanned ONCE into a
    * partial-aggregated (lang, bucket) count table — at most
    * |langs|·64 rows at any SF; the grid completion (absent buckets
    * count 0 — they still carry KL mass), window totals, per-term
    * log-ratios, and the final per-lang sum all run on that bounded
    * table, so the single-partition windows are |langs|·64-row
    * frames, never corpus-sized.
    */
  private val klDrift = Q(
    "q_pipe_kl_drift",
    """WITH dt AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), bt AS (
      |  SELECT lang,
      |    CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS b
      |  FROM dt
      |), cnt AS (
      |  SELECT lang, b, count(*) AS cl FROM bt GROUP BY lang, b
      |), grid AS (
      |  SELECT l.lang, g.b, coalesce(c.cl, 0) AS cl
      |  FROM (SELECT DISTINCT lang FROM cnt) l
      |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) g
      |  LEFT JOIN cnt c ON c.lang = l.lang AND c.b = g.b
      |), tot AS (
      |  SELECT lang, b, cl,
      |    CAST(sum(cl) OVER (PARTITION BY lang) AS BIGINT) AS tl,
      |    CAST(sum(cl) OVER (PARTITION BY b) AS BIGINT) AS cb,
      |    CAST(sum(cl) OVER () AS BIGINT) AS t
      |  FROM grid
      |), terms AS (
      |  SELECT lang, tl,
      |    (cl + 1) * CAST(round(ln(
      |      ((cl + 1.0) * (t + 64)) / ((cb + 1.0) * (tl + 64)))
      |      * 1000000) AS BIGINT) AS s
      |  FROM tot
      |)
      |SELECT lang, CAST(any_value(tl) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(s) AS BIGINT)
      |    / ((any_value(tl) + 64) * 1000000.0), 4) AS kl
      |FROM terms GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    val bt = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .select(col("lang"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("bigint")
          % 64).as("b"))
    val cnt = bt.groupBy("lang", "b").agg(count(lit(1)).as("cl"))
    val grid = cnt.select("lang").distinct()
      .crossJoin(s.range(64).select(col("id").as("b")))
      .join(broadcast(cnt), Seq("lang", "b"), "left")
      .withColumn("cl", coalesce(col("cl"), lit(0L)))
    val tot = grid
      .withColumn("tl", sum("cl").over(Window.partitionBy("lang")))
      .withColumn("cb", sum("cl").over(Window.partitionBy("b")))
      .withColumn("t", sum("cl").over(Window.partitionBy()))
    val terms = tot.select(col("lang"), col("tl"),
      ((col("cl") + 1) *
        round(log(((col("cl") + lit(1.0)) * (col("t") + 64)) /
          ((col("cb") + lit(1.0)) * (col("tl") + 64))) * 1000000)
          .cast("bigint")).as("s"))
    terms.groupBy("lang")
      .agg(first("tl").as("n_tokens"),
        round(sum("s") / ((first("tl") + lit(64)) * lit(1000000.0)), 4)
          .as("kl"))
      .orderBy("lang")
  }

  /** Bloom-prefiltered decontamination: the q_pipe_decontaminate
    * semantics at the scale where the eval gram set is too large to
    * broadcast as a join hash map but its BLOOM FILTER still fits
    * (1.2 bytes/gram at 0.1% fpp vs ~50+ bytes/gram for the map).
    * Shape: (1) the eval side's distinct 5-grams fold into per-
    * partition `spark.util.sketch.BloomFilter`s merged to one (the
    * driver only ever holds KB of filter, never the gram set);
    * (2) the corpus gram stream is pruned MAP-SIDE by the native
    * [[graft.functions.BloomMightContain]] kernel — at sf0.01 this
    * keeps ~45 of ~23k distinct corpus grams, so the confirm join's
    * shuffle carries ~0.2% of the gram volume; (3) survivors are
    * exact-confirmed with a shuffle join (deliberately NOT broadcast —
    * pinning the plan that survives an unbroadcastable eval side),
    * which also removes the bloom's false positives, keeping the
    * result exact and the oracle an ordinary SQL join. Per-source
    * contamination report: docs hit + distinct (doc, gram) hits.
    * fpp=0.001 and Spark's Murmur3 bloom hashing are deterministic, so
    * the pruned set (and every plan metric) is reproducible. */
  private val bloomDecon = Q(
    "q_pipe_bloom_decontaminate",
    """WITH corpus AS (
      |  SELECT source, doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE source <> 'src4'
      |), eval AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents
      |  WHERE source = 'src4'
      |), cg AS (
      |  SELECT DISTINCT source, doc_id, unnest(list_transform(
      |    range(1, len(toks) - 3),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |      toks[i+3] || ' ' || toks[i+4])) AS g
      |  FROM corpus
      |), eg AS (
      |  SELECT DISTINCT unnest(list_transform(
      |    range(1, len(toks) - 3),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |      toks[i+3] || ' ' || toks[i+4])) AS g
      |  FROM eval
      |)
      |SELECT source, count(DISTINCT doc_id) AS n_docs_hit,
      |  CAST(count(*) AS BIGINT) AS n_gram_hits
      |FROM cg JOIN eg USING (g)
      |GROUP BY source ORDER BY source""".stripMargin
  ) { (s, dir) =>
    // guarded 5-gram builder (DedupQueries.wordGrams: single split
    // per row, sub-5-token and NULL docs emit nothing — matching the
    // oracle's range(), which yields an empty list for short docs)
    def grams(df: DataFrame): DataFrame =
      DedupQueries.wordGrams(df, 5, Seq("source", "doc_id"))
    val docs = Tables.documents(s, dir)
    // eval grams feed three consumers (the sizing count, the RDD
    // bloom build, the confirm join) — materialize once, the
    // shingleSets idiom
    val eg = grams(docs.filter(col("source") === "src4"))
      .select("g").distinct().localCheckpoint()
    // distributed filter build: count sizes the filter (an action on
    // the definitionally-small eval side), partition filters merge to
    // one — the driver never materializes the gram set itself.
    val n = math.max(eg.count(), 1024L)
    val bf = eg.as(org.apache.spark.sql.Encoders.STRING).rdd
      .mapPartitions { it =>
        val f = org.apache.spark.util.sketch.BloomFilter.create(n, 0.001)
        it.foreach(g => f.putBinary(
          g.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        Iterator(f)
      }.fold(
        org.apache.spark.util.sketch.BloomFilter.create(n, 0.001))(
        _ mergeInPlace _)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // the prune is a pure performance layer: the join below confirms
    // exactly, so bloom false positives never reach the result
    val probe =
      column(BloomMightContain(Literal(bytes), expression(col("g"))))
    grams(docs.filter(col("source") =!= "src4"))
      .filter(probe)
      .select("source", "doc_id", "g").distinct()
      .join(eg.hint("shuffle_hash"), "g")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs_hit"),
        count(lit(1)).as("n_gram_hits"))
      .orderBy("source")
  }

  /** URL/domain curation — the step a crawl pipeline runs BEFORE any
    * text op: canonicalize each document's URL (lowercase host, strip
    * scheme / `www.` / query / fragment, collapse duplicate slashes,
    * drop the trailing slash), count the tracking params
    * (`utm_*`/`fbclid`/`gclid`) the raw URL carried, dedup docs by
    * canonical page, and apply a C4/RefinedWeb-style per-domain page
    * cap (first 3 distinct pages per domain by first-seen doc order).
    * The corpus is synthetic with no URL column, so — the
    * q_text_pii_redact precedent — a deterministic messy URL is
    * synthesized from real columns first (mixed-case host, duplicate
    * slashes, tracking params, fragments), and the oracle replays both
    * halves: the match is on the canonicalization logic, not the
    * synthesis. Output is the per-domain curation report: doc/token
    * volumes and half-up basis-point shares, distinct pages, URL-dup
    * docs, tracking params stripped, docs kept under the cap.
    *
    * Scale (100 TB): synthesis + canonicalization are zero-shuffle
    * map-side regex projections; the page window shuffles on the
    * canonical page (high cardinality, well spread); the domain window
    * is keyed by domain — a giant domain is the classic skew key, but
    * the cap only needs rank <= 3, a bounded top-k a production run
    * serves with a partial-agg min-k instead of a full sort; the final
    * rollup is one partial-aggregated groupBy over domains. */
  private val urlDomains = Q(
    "q_curation_url_domains",
    """WITH raw AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
      |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
      |    || source || '-' || CAST(doc_id % 20 AS VARCHAR)
      |    || '.Example.COM'
      |    || '/Articles//' || CAST(doc_id % 5 AS VARCHAR)
      |    || '/item' || CAST(doc_id % 50 AS VARCHAR) || '/'
      |    || (CASE WHEN doc_id % 4 = 0
      |        THEN '?utm_source=feed&utm_campaign=x&ref=r'
      |        ELSE '?ref=r' END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM documents
      |), canon AS (
      |  SELECT doc_id, n_toks,
      |    len(regexp_extract_all(url,
      |      '(utm_[a-z]+|fbclid|gclid)=')) AS n_track,
      |    regexp_replace(lower(
      |      regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
      |      '^www\.', '') AS domain,
      |    regexp_replace(regexp_replace(
      |      regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
      |      '/{2,}', '/', 'g'), '/$', '') AS pathn
      |  FROM raw
      |), pages AS (
      |  SELECT doc_id, n_toks, n_track, domain,
      |    domain || pathn AS page,
      |    row_number() OVER (PARTITION BY domain || pathn
      |      ORDER BY doc_id) AS url_rank,
      |    min(doc_id) OVER (PARTITION BY domain || pathn) AS first_doc
      |  FROM canon
      |), ranked AS (
      |  SELECT *, dense_rank() OVER (PARTITION BY domain
      |    ORDER BY first_doc, page) AS page_rank
      |  FROM pages
      |), per_domain AS (
      |  SELECT domain,
      |    count(*) AS n_docs,
      |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |    count(DISTINCT page) AS n_pages,
      |    count(*) - count(DISTINCT page) AS dup_url_docs,
      |    CAST(sum(n_track) AS BIGINT) AS n_tracking_params,
      |    CAST(sum(CASE WHEN url_rank = 1 AND page_rank <= 3
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |  FROM ranked GROUP BY domain
      |)
      |SELECT domain, n_docs, n_tokens,
      |  CAST((10000 * n_docs + CAST(sum(n_docs) OVER () AS BIGINT) // 2)
      |    // CAST(sum(n_docs) OVER () AS BIGINT) AS BIGINT)
      |    AS doc_share_bp,
      |  CAST((10000 * n_tokens
      |      + CAST(sum(n_tokens) OVER () AS BIGINT) // 2)
      |    // CAST(sum(n_tokens) OVER () AS BIGINT) AS BIGINT)
      |    AS token_share_bp,
      |  n_pages, dup_url_docs, n_tracking_params, n_kept
      |FROM per_domain ORDER BY domain""".stripMargin
  ) { (s, dir) =>
    val raw = Tables.documents(s, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"),
      concat(
        when(col("doc_id") % 2 === 0, "https://").otherwise("http://"),
        when(col("doc_id") % 3 === 0, "WWW.").otherwise(""),
        col("source"), lit("-"), (col("doc_id") % 20).cast("string"),
        lit(".Example.COM"),
        lit("/Articles//"), (col("doc_id") % 5).cast("string"),
        lit("/item"), (col("doc_id") % 50).cast("string"), lit("/"),
        when(col("doc_id") % 4 === 0,
          "?utm_source=feed&utm_campaign=x&ref=r").otherwise("?ref=r"),
        when(col("doc_id") % 6 === 0, "#frag").otherwise("")).as("url"))
    val canon = raw.select(col("doc_id"), col("n_toks"),
      regexp_count(col("url"),
        lit("(utm_[a-z]+|fbclid|gclid)=")).cast("long").as("n_track"),
      regexp_replace(lower(
        regexp_extract(col("url"), "^[a-z]+://([^/?#]+)", 1)),
        "^www\\.", "").as("domain"),
      regexp_replace(regexp_replace(
        regexp_extract(col("url"), "^[a-z]+://[^/?#]+([^?#]*)", 1),
        "/{2,}", "/"), "/$", "").as("pathn"))
    val pages = canon
      .withColumn("page", concat(col("domain"), col("pathn")))
      .withColumn("url_rank", row_number().over(
        Window.partitionBy("page").orderBy("doc_id")))
      .withColumn("first_doc",
        min("doc_id").over(Window.partitionBy("page")))
    val ranked = pages.withColumn("page_rank", dense_rank().over(
      Window.partitionBy("domain").orderBy("first_doc", "page")))
    val perDomain = ranked.groupBy("domain").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").cast("long").as("n_tokens"),
      countDistinct("page").as("n_pages"),
      (count(lit(1)) - countDistinct("page")).as("dup_url_docs"),
      sum("n_track").cast("long").as("n_tracking_params"),
      sum(when(col("url_rank") === 1 && col("page_rank") <= 3, 1L)
        .otherwise(0L)).cast("long").as("n_kept"))
    perDomain.select(col("domain"), col("n_docs"), col("n_tokens"),
      expr("CAST((10000 * n_docs + sum(n_docs) OVER () div 2) " +
        "div sum(n_docs) OVER () AS BIGINT)").as("doc_share_bp"),
      expr("CAST((10000 * n_tokens + sum(n_tokens) OVER () div 2) " +
        "div sum(n_tokens) OVER () AS BIGINT)").as("token_share_bp"),
      col("n_pages"), col("dup_url_docs"), col("n_tracking_params"),
      col("n_kept"))
      .orderBy("domain")
  }

  def all: Seq[Q] =
    Seq(winnowing, cdcChunks, normalizedDedup, importance, pplBuckets,
      semanticDedup, klDrift, bloomDecon, urlDomains)
}
