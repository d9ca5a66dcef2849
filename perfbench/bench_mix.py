"""Query mixes of the `analytics` and `llm_corpus` workloads, and the
result check they share.

Every query result is materialized by one action that hashes every
output column inside Spark: canonical row text -> md5 -> two summed
60-bit slices plus the row count. Addition is commutative, so the hash
is order-insensitive and only one row crosses to the driver. A
``.count()`` would let Catalyst prune the output columns; the hash
cannot be computed without them.

The expected hash of each query comes from DuckDB running the query's
registered oracle SQL (``registry.ORACLES``) over the same parquet
files, reduced with the same canonical text rules.
"""

from __future__ import annotations

import hashlib
import json
import os

ANALYTICS = (
    "golden_q1_pricing",
    "golden_q3_shipping",
    "golden_q5_volume",
    "golden_q8_market_share",
    "golden_q9_profit",
    "golden_q18_large_orders",
    "join_multiway",
    "join_asof",
    "agg_cube",
    "win_topk_per_group",
    "stream_tumbling",
)

LLM_CORPUS = (
    "dedup_exact",
    "dedup_near",
    "sim_topk_exact",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "embed_centroids",
    "text_tfidf",
    "text_tokenize",
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Canonical text rules, identical in both engines:
#   integers, booleans, dates -> CAST AS string
#   strings                   -> as-is
#   timestamps                -> 6-digit-micros text
#   doubles                   -> FLOOR(x * 1e6) as integer text
#   NULL                      -> a sentinel (concat_ws skips NULLs, which
#                                would alias (NULL,'x') with ('x',NULL))
# Columns are sorted by name and joined with chr(31).
NULL_SENTINEL = "∅"


def spark_hash(sdf) -> tuple[int, int, int]:
    """(rows, h1, h2) of ``sdf``, reduced inside Spark by one action."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    exprs = []
    for name in sorted(sdf.columns):
        dt = sdf.schema[name].dataType
        c = F.col(f"`{name}`")
        if isinstance(
            dt,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.BooleanType, T.StringType, T.DateType),
        ):
            e = c.cast("string")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            e = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            e = F.floor(c.cast("double") * 1000000.0).cast("bigint").cast("string")
        else:
            raise ValueError(
                f"no canonical text for Spark type {dt.simpleString()} "
                f"(column {name})"
            )
        exprs.append(F.coalesce(e, F.lit(NULL_SENTINEL)))
    h = F.md5(F.concat_ws("\x1f", *exprs))
    row = (
        sdf.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")).alias("h1"),
            F.sum(F.conv(F.substring("h", 16, 15), 16, 10).cast("decimal(38,0)")).alias("h2"),
        )
        .collect()[0]
    )
    n = int(row["n"])
    return (n, int(row["h1"]), int(row["h2"])) if n else (0, 0, 0)


def duck_hash(con, sql: str) -> tuple[list[str], tuple[int, int, int]]:
    """(sorted columns, (rows, h1, h2)) of ``sql``, reduced inside DuckDB
    with the same canonical text rules as ``spark_hash``."""
    rel = con.sql(sql)
    exprs = []
    for name, t in sorted(zip(rel.columns, (str(t).upper() for t in rel.types))):
        q = f'"{name}"'
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "BOOLEAN", "VARCHAR", "DATE"):
            e = f"CAST({q} AS VARCHAR)"
        elif t.startswith("TIMESTAMP"):
            e = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        elif t in ("DOUBLE", "FLOAT", "REAL"):
            e = f"CAST(CAST(FLOOR(CAST({q} AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)"
        else:
            raise ValueError(f"no canonical text for DuckDB type {t} (column {name})")
        exprs.append(f"COALESCE({e}, '{NULL_SENTINEL}')")
    txt = "concat_ws(chr(31), " + ", ".join(exprs) + ")"
    n, h1, h2 = con.sql(
        "SELECT COUNT(*), "
        "SUM(CAST('0x' || substr(h, 1, 15) AS BIGINT)), "
        "SUM(CAST('0x' || substr(h, 16, 15) AS BIGINT)) "
        f"FROM (SELECT md5({txt}) AS h FROM ({sql}) pb_q) pb_t"
    ).fetchone()
    n = int(n)
    return sorted(rel.columns), ((n, int(h1), int(h2)) if n else (0, 0, 0))


def expected_hashes(qids, oracles: dict[str, str], sf_dir: str, cache_dir: str) -> dict:
    """{qid: {"columns": [...], "hash": [n, h1, h2]}} from DuckDB.

    Cached under ``cache_dir`` by the oracle SQL and the input files'
    (name, size, mtime), so only the first run in a checkout pays for
    DuckDB."""
    key = hashlib.sha256()
    for qid in sorted(qids):
        key.update(f"{qid}\0{oracles[qid]}\0".encode())
    for t in TABLES:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        key.update(f"{t}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    path = os.path.join(cache_dir, f"expected-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for qid in qids:
            cols, h = duck_hash(con, oracles[qid])
            out[qid] = {"columns": cols, "hash": list(h)}
    finally:
        con.close()
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, sort_keys=True)
    os.replace(tmp, path)
    return out
