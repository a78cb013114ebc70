#!/usr/bin/env python3
"""Print the shape properties of a query corpus as one JSON object.

    python3 perfbench/corpus_shape.py <corpus dir>

The directory holds one `<table>.parquet` per table, either a single file
(the sf0.1 test corpus graft.Bench reads) or a Spark output directory (the
corpus query_mix generates into .bench_build/cache/corpus-<version>). The
values for both are recorded in perfbench/SPEC.json under "corpus_shape",
so the generated corpus can be checked against sf0.1. Needs the duckdb
Python package; the benchmark itself does not.
"""
import json
import os
import sys

import duckdb

PROPERTIES = {
    "orders.customers_with_orders": "select count(distinct o_custkey) from orders",
    "orders.orders_per_customer_max": "select max(c) from (select count(*) c from orders group by o_custkey)",
    "orders.totalprice_avg": "select round(avg(o_totalprice), 0) from orders",
    "orders.orderdate_range": "select [min(o_orderdate)::date::varchar, max(o_orderdate)::date::varchar] from orders",
    "orders.status_count": "select count(distinct o_orderstatus) from orders",
    "lineitem.orders_with_lines": "select count(distinct l_orderkey) from lineitem",
    "lineitem.lines_per_order_max": "select max(c) from (select count(*) c from lineitem group by l_orderkey)",
    "lineitem.extendedprice_avg": "select round(avg(l_extendedprice), 0) from lineitem",
    "lineitem.shipdate_range": "select [min(l_shipdate)::date::varchar, max(l_shipdate)::date::varchar] from lineitem",
    "lineitem.parts_suppliers": "select [count(distinct l_partkey), count(distinct l_suppkey)] from lineitem",
    "events.users": "select count(distinct user_id) from events",
    "events.value_quartiles": "select quantile_cont(value, [0.25, 0.5, 0.75]).list_transform(x -> round(x, 1)) from events",
    "events.value_mean": "select round(avg(value), 1) from events",
    "events.gap_s_mean": "select round((epoch(max(ts)) - epoch(min(ts))) / (count(*) - 1), 2) from events",
    "events.ids_in_time_order": "select count(*) = 0 from (select ts < lag(ts) over (order by event_id) o from events) where o",
    "documents.words_min_median_max": "select [min(n), median(n), max(n)] from (select len(string_split(text, ' ')) n from documents)",
    "documents.chars_mean": "select round(avg(n_chars), 0) from documents",
    "documents.distinct_texts": "select count(distinct text) from documents",
    "documents.near_duplicates": "select count(*) from documents where text like '% dup'",
    "documents.vocabulary": "select count(distinct w) from (select unnest(string_split(text, ' ')) w from documents)",
    "documents.english_share": "select round(avg((lang = 'en')::int), 2) from documents",
    "embeddings.norm_mean": "select round(avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))), 4) from embeddings",
    "embeddings.labels": "select count(distinct label) from embeddings",
    "embeddings.same_label_cosine": """select round(avg(list_cosine_similarity(a.embedding, b.embedding)), 2)
        from embeddings a join embeddings b on a.label = b.label and a.vec_id < b.vec_id
        where a.vec_id < 400 and b.vec_id < 400""",
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    files = {}
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        pattern = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        files[t] = len(con.execute(f"select * from glob('{pattern}')").fetchall())
        con.execute(f"create view {t} as select * from read_parquet('{pattern}')")
    out = {"rows": {t: con.execute(f"select count(*) from {t}").fetchone()[0]
                    for t in TABLES},
           "files_per_table": max(files.values())}
    for name, sql in PROPERTIES.items():
        out[name] = con.execute(sql).fetchone()[0]
    print(json.dumps(out, default=str))


if __name__ == "__main__":
    main()
