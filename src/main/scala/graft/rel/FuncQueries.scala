package graft.rel

import org.apache.spark.sql.functions._
import graft.{Q, QueryCatalog}

/** SURVEY.md §2g scalar functions — date/time, conditional, string,
  * regex, JSON, and array/vector math, VARIANT, and the native ngrams generator (F1–F20).
  *
  * Everything here is a built-in (codegen'd) function over a single
  * scan + one hash aggregate at most — no UDFs, so the whole pipeline
  * stays inside WholeStageCodegen.
  */
object FuncQueries extends QueryCatalog {

  /** F1+A1: date_trunc-bucketed counts — the summarize_files shape
    * (ref file_summary_utils.py:91-104 GROUP BY date_trunc minute). */
  private val dateTrunc = Q(
    "q_func_date_trunc",
    """SELECT date_trunc('hour', ts) AS created_hour, event_type,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY created_hour, event_type""".stripMargin
  ) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("created_hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("created_hour", "event_type")
  }

  /** F2+F3+F4+F11+F12: LEAST, CASE WHEN, CONCAT w/ implicit cast,
    * arithmetic (ref file_summary_utils.py:74,119-120,143-148;
    * diff_utils.py:54-55). */
  private val condExpr = Q(
    "q_func_conditional",
    """SELECT l_orderkey, l_linenumber,
      |  least(l_discount, l_tax) AS min_rate,
      |  CASE WHEN l_returnflag = 'A' THEN 'ACCEPTED'
      |       WHEN l_returnflag = 'R' THEN 'RETURNED'
      |       ELSE concat('UNKNOWN(', CAST(l_linenumber AS VARCHAR), ')')
      |  END AS flag_desc,
      |  round(l_extendedprice * (1 - l_discount), 4) AS net_price,
      |  CASE WHEN l_discount = 0 THEN 'UNCHANGED' ELSE 'CHANGED' END AS disc_flag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin
  ) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        least(col("l_discount"), col("l_tax")).as("min_rate"),
        when(col("l_returnflag") === "A", "ACCEPTED")
          .when(col("l_returnflag") === "R", "RETURNED")
          .otherwise(concat(lit("UNKNOWN("),
            col("l_linenumber").cast("string"), lit(")"))).as("flag_desc"),
        // 4 digits, not 2: the exact decimal product has <=4 digits, so
        // both engines recover it exactly; rounding at 2 hits .xx5 ties
        // where Spark (HALF_UP on binary) and DuckDB disagree
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("net_price"),
        when(col("l_discount") === 0, "UNCHANGED").otherwise("CHANGED")
          .as("disc_flag"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** F6+F9: date parts + formatting + cast (ref diff_utils.py:22-27,75). */
  private val dateParts = Q(
    "q_func_date_parts",
    """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz"))
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy("yr", "mo")
  }

  /** F10: null-safe group key via COALESCE sentinel (diff_utils.py:25
    * fillna("__NULL__")). NULLIF manufactures the nulls first. */
  private val coalesceKey = Q(
    "q_func_coalesce",
    """SELECT coalesce(NULLIF(o_orderstatus, 'P'), '__NULL__') AS status_key,
      |  count(*) AS n
      |FROM orders GROUP BY 1 ORDER BY status_key""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(coalesce(nullif(col("o_orderstatus"), lit("P")),
        lit("__NULL__")).as("status_key"))
      .agg(count(lit(1)).as("n"))
      .orderBy("status_key")
  }

  /** F13: regexp_extract classification
    * (ref file_summary_utils.py:11-15 exception-message regex). */
  private val regexpQ = Q(
    "q_func_regexp",
    """SELECT CAST(regexp_extract(source, 'src(\d+)', 1) AS INTEGER) AS src_num,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY src_num""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
        .as("src_num"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("src_num")
  }

  /** F14 [EXT]: JSON field access on events.props. */
  private val jsonQ = Q(
    "q_func_json",
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  count(*) AS n
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
      |GROUP BY 1 ORDER BY k""".stripMargin
  ) { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(s, dir)
      .filter(k >= 90)
      .groupBy(k.as("k"))
      .agg(count(lit(1)).as("n"))
      .orderBy("k")
  }

  /** F19 [EXT]: the VARIANT type (Spark 4 semi-structured columns) —
    * `parse_json` decodes each props string ONCE into the binary
    * variant encoding, then every extraction (`variant_get`, typed or
    * try_) is a cheap path lookup on the decoded value: the 100 TB
    * contract for semi-structured columns, where repeated
    * `get_json_object` calls re-parse the string per extraction.
    * Exercises typed extraction (int and string views of one field),
    * try_variant_get null-on-missing-path semantics, and aggregation
    * over variant-derived keys. DuckDB has no variant type; the
    * oracle runs the same extractions through its JSON functions —
    * the VALUES must agree even though the encodings differ.
    */
  private val variantQ = Q(
    "q_func_variant",
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) // 10
      |    AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
      |    AS BIGINT) AS sum_k,
      |  count(*) FILTER (WHERE length(json_extract_string(props, '$.k'))
      |    = 2) AS two_digit,
      |  count(json_extract_string(props, '$.missing')) AS missing_hits
      |FROM events
      |GROUP BY 1 ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    val v = parse_json(col("props"))
    val k = expr("variant_get(v, '$.k', 'int')")
    Tables.events(s, dir)
      .withColumn("v", v)
      .select(
        // cast-truncation, not floor(): DuckDB's `//` truncates toward
        // zero on negatives (-7//10 = 0, measured), matching Long./ —
        // floor(-0.7) = -1 would bucket a negative $.k differently.
        (k / 10).cast("int").as("bucket"),
        k.as("k"),
        expr("variant_get(v, '$.k', 'string')").as("ks"),
        expr("try_variant_get(v, '$.missing', 'string')").as("miss"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("k").cast("bigint").as("sum_k"),
        count(when(length(col("ks")) === 2, 1)).as("two_digit"),
        count(col("miss")).as("missing_hits"))
      .orderBy("bucket")
  }

  /** F20 [EXT]: custom native GENERATOR — word 3-grams emitted as rows
    * straight from [[graft.functions.NGrams]] inside GenerateExec,
    * instead of materializing the gram array per document and
    * exploding it (the HOF form buffers every gram twice). NGramsSpec
    * pins bit-equality with the HOF reference form plus
    * null/short-document edges. */
  private val ngramsNative = Q(
    "q_func_ngrams_native",
    """SELECT g.gram, count(*) AS freq
      |FROM (
      |  SELECT unnest(list_transform(
      |    range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
      |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
      |) g
      |GROUP BY g.gram
      |ORDER BY freq DESC, g.gram LIMIT 10""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(graft.functions.grams.words(col("text"), 3).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram"))
      .limit(10)
  }

  /** F15 [EXT]: string ops + explode generator — token frequencies. */
  private val tokensQ = Q(
    "q_func_tokens",
    """SELECT t.token, count(*) AS freq
      |FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
      |GROUP BY t.token
      |ORDER BY freq DESC, t.token LIMIT 25""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(25)
  }

  /** F16 [EXT]: array/vector math with higher-order functions — L2 norm
    * of each embedding (aggregate lambda = fold, no UDF). */
  private val arrayMath = Q(
    "q_func_array_norm",
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding,
      |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
      |  len(embedding) AS dim
      |FROM embeddings ORDER BY vec_id""".stripMargin
  ) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
          .as("l2_norm"),
        size(col("embedding")).cast("long").as("dim"))
      .orderBy("vec_id")
  }

  /** Complex-type scalar functions: STRUCT construction + field access
    * and MAP construction + key lookup, round-tripped inside one
    * projection and flattened back to scalars. All map-side codegen —
    * Catalyst collapses the build/access pairs at optimization time,
    * so nothing nested ever materializes. The oracle states the
    * equivalent flat expressions directly: the VALUES are the
    * contract, the nested detour is the operator under test. */
  private val structMap = Q(
    "q_func_struct_map",
    """SELECT doc_id, lang, upper(source) AS source_uc,
      |  n_chars, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  2 AS n_keys
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        struct(col("lang").as("lang"), col("source").as("source"))
          .as("meta"),
        map(
          lit("chars"), col("n_chars"),
          lit("tokens"), size(split(col("text"), " ")).cast("long"))
          .as("m"))
      .select(col("doc_id"),
        col("meta").getField("lang").as("lang"),
        upper(col("meta").getField("source")).as("source_uc"),
        element_at(col("m"), "chars").as("n_chars"),
        element_at(col("m"), "tokens").as("n_tokens"),
        size(map_keys(col("m"))).as("n_keys"))
      .orderBy("doc_id")
  }

  /** Date/timestamp arithmetic: datediff, date_add, add_months, and a
    * month-boundary count — the mutation half of the date surface
    * (F1/F6/F9 cover truncation, parts, and casts). Argument order
    * differs across dialects (Spark datediff(end, start) = DuckDB
    * date_diff('day', start, end)), and months_between vs
    * date_diff('month') DISAGREE at day-of-month boundaries, so the
    * month delta is the exact year*12+month formula in both. Integer
    * and date outputs only. */
  private val dateArith = Q(
    "q_func_date_arith",
    """SELECT o_orderkey,
      |  date_diff('day', DATE '1995-01-01',
      |    CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS review_date,
      |  (2002 * 12 + 1)
      |    - (year(o_orderdate) * 12 + month(o_orderdate))
      |    AS months_to_horizon
      |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin
  ) { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"),
          to_date(lit("1995-01-01"))).as("days_since_epoch_start"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        add_months(col("o_orderdate").cast("date"), 3).as("review_date"),
        (lit(2002 * 12 + 1) -
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))))
          .as("months_to_horizon"))
      .orderBy("o_orderkey")
      .limit(1000)
  }

  override def all: Seq[Q] = Seq(
    dateTrunc, condExpr, dateParts, coalesceKey, regexpQ, jsonQ, variantQ,
    tokensQ, arrayMath, structMap, dateArith, ngramsNative)
}
