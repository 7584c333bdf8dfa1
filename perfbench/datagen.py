"""Seeded generator for the ten input tables the graft queries read.

Every table has the schema of the test data in TESTDATA.md (the columns
`graft.datasets.ScaleData` describes, with the same parquet types) and the
same value shapes as `ScaleData`: each column is a pure function of the row
key through a salted hash. The seed is folded into every salt, so one seed
always gives the same bytes and two seeds give independent data of the
same shape.

Row counts are the sf0.1 counts times a per-table scale. Each table is one
parquet file with one row group, as the test data is, so graft's
single-row-group code paths (`FanOut.byKey`) take the branch they take in
the oracle-gated suite.
"""
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# rows at sf0.1 (TESTDATA.md); region and nation never scale
SF01_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
             "part": 20000, "orders": 150000, "lineitem": 600000,
             "events": 100000, "documents": 5000, "embeddings": 2000}

VOCAB = ["spark", "query", "table", "hash", "join", "scan", "sort", "group",
         "agg", "filter", "merge", "batch", "stream", "column", "line",
         "part", "order", "key", "value", "window", "vector", "index",
         "cache", "shuffle", "stage", "task", "slow", "fast", "big", "small",
         "the", "a", "customer", "supplier", "region", "nation"]

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def row_counts(scale, table_scale=None):
    """Rows per table: the sf0.1 count times `scale`, or times the table's
    own entry in `table_scale`."""
    table_scale = table_scale or {}
    out = {}
    for t, n in SF01_ROWS.items():
        if t in ("region", "nation"):
            out[t] = n
        else:
            out[t] = max(10, int(round(n * table_scale.get(t, scale))))
    return out


def _sql(table, n, rows, seed):
    def h(salt, *keys):
        return f"hash('{salt}:{seed}', {', '.join(keys)})"

    def unit(salt, key="id"):
        return f"(({h(salt, key)} % 1000000)::DOUBLE / 1e6)"

    def pick(salt, values, key="id"):
        arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
        return f"{arr}[({h(salt, key)} % {len(values)})::BIGINT + 1]"

    src = f"(SELECT range::BIGINT AS id FROM range({n}))"
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    if table == "region":
        cols = "id AS r_regionkey, 'REGION_' || id AS r_name"
    elif table == "nation":
        cols = ("id AS n_nationkey, 'NATION_' || id AS n_name, "
                "id % 5 AS n_regionkey")
    elif table == "customer":
        cols = (f"id AS c_custkey, 'Customer#' || lpad(id::VARCHAR, 9, '0') "
                f"AS c_name, {h('cn', 'id')} % 25 AS c_nationkey, "
                f"round({unit('cb')} * 10000.0, 2) AS c_acctbal, "
                f"{pick('cm', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY', 'HOUSEHOLD'])} "
                f"AS c_mktsegment")
    elif table == "supplier":
        cols = (f"id AS s_suppkey, 'Supplier#' || lpad(id::VARCHAR, 9, '0') "
                f"AS s_name, {h('sn', 'id')} % 25 AS s_nationkey, "
                f"round({unit('sb')} * 10000.0, 2) AS s_acctbal")
    elif table == "part":
        cols = (f"id AS p_partkey, 'part ' || {pick('pw', VOCAB)} AS p_name, "
                f"'Brand#' || (id % 5) AS p_brand, "
                f"{pick('pt', ['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO'])} "
                f"AS p_type, {h('ps', 'id')} % 50 + 1 AS p_size, "
                f"round({unit('pr')} * 2000.0, 2) AS p_retailprice")
    elif table == "orders":
        cols = (f"id AS o_orderkey, {h('oc', 'id')} % {rows['customer']} "
                f"AS o_custkey, {pick('os', ['O', 'F', 'P'])} AS o_orderstatus, "
                f"round({unit('op')} * 300000.0, 2) AS o_totalprice, "
                f"make_timestamp((694224000000000 + "
                f"{h('od', 'id')} % 220752000000000)::BIGINT) AS o_orderdate, "
                f"{pick('opr', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} "
                f"AS o_orderpriority")
    elif table == "lineitem":
        cols = (f"{h('lo', 'id')} % {rows['orders']} AS l_orderkey, "
                f"{h('lp', 'id')} % {rows['part']} AS l_partkey, "
                f"{h('ls', 'id')} % {rows['supplier']} AS l_suppkey, "
                f"id % 7 + 1 AS l_linenumber, "
                f"({h('lq', 'id')} % 50 + 1)::DOUBLE AS l_quantity, "
                f"round({unit('le')} * 100000.0, 2) AS l_extendedprice, "
                f"({h('ld', 'id')} % 11)::DOUBLE / 100.0 AS l_discount, "
                f"({h('lt', 'id')} % 9)::DOUBLE / 100.0 AS l_tax, "
                f"{pick('lr', ['N', 'N', 'A', 'R'])} AS l_returnflag, "
                f"{pick('ll', ['O', 'F'])} AS l_linestatus, "
                f"make_timestamp((694224000000000 + "
                f"{h('lsd', 'id')} % 252288000000000)::BIGINT) AS l_shipdate")
    elif table == "events":
        users = max(10, rows["events"] // 50)
        cols = (f"id AS event_id, make_timestamp((1704067200000000 + "
                f"id * 30000000 + {h('j', 'id')} % 29000000)::BIGINT) AS ts, "
                f"{h('u', 'id')} % {users} AS user_id, "
                f"{pick('et', ['view', 'view', 'view', 'click', 'purchase', 'signup', 'error'])} "
                f"AS event_type, round({unit('v')} * 200.0, 2) AS value, "
                f"'{{\"k\": ' || ({h('p', 'id')} % 100) || '}}' AS props")
    elif table == "documents":
        # 10..99 words drawn from the shared vocabulary, en-heavy languages
        text = (f"array_to_string(list_transform(range(({h('len', 'id')} % 90 + 10)::BIGINT), "
                f"i -> {vocab}[({h('w', 'id', 'i')} % {len(VOCAB)})::BIGINT + 1]), ' ')")
        cols = (f"id AS doc_id, {text} AS text, "
                f"{pick('lang', ['en', 'en', 'en', 'zh', 'es', 'fr', 'de'])} AS lang, "
                f"'src' || (id % 20) AS source")
        return (f"SELECT doc_id, text, lang, source, length(text) AS n_chars "
                f"FROM (SELECT {cols} FROM {src})")
    elif table == "embeddings":
        cols = (f"id AS vec_id, list_transform(range(64), i -> "
                f"((({h('e', 'id', 'i')} % 2000)::BIGINT - 1000)::DOUBLE / 5000.0)::FLOAT) "
                f"AS embedding, id % 10 AS label")
    else:
        raise ValueError(table)
    return f"SELECT {cols} FROM {src}"


def generate(out_dir, seed, rows):
    """Write the ten tables for (seed, rows) under `out_dir`. A directory
    that already holds a complete write is reused as it is."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            tbl = con.execute(_sql(t, rows[t], rows, seed)).arrow()
            schema = pa.schema(SCHEMAS[t])
            tbl = tbl.select([name for name, _ in SCHEMAS[t]]).cast(schema)
            pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"),
                           row_group_size=max(1, tbl.num_rows),
                           compression="snappy")
    finally:
        con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
