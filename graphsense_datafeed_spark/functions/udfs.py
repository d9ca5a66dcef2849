"""SURVEY §2.11 — user-extensibility surface (UDF/UDAF/UDTF).

The reference is a fixed pipeline with no user extension point; this
module is the [CAT] surface plus the Arrow-vectorization patterns from
the retrieved public snippets (SNIPPETS.md §[1], §[3]).

Scale notes — the UDF ladder, fastest to slowest:
1. built-in functions / higher-order lambdas (JVM codegen)   — default
2. @pandas_udf scalar / grouped-agg (Arrow batches, ~10-100× faster
   than row UDFs; one JVM↔Python hop per batch)               — when 1 can't
3. applyInPandas / mapInPandas (full-group / full-stream pdf)  — reshape ops
4. row-at-a-time F.udf                                         — last resort,
   registered here only to cover the surface; never in a hot path.
Deterministic-output discipline: every UDF below is a pure function of
its row/group, so re-execution under task retries (speculative or
failure) cannot change results — a correctness requirement, not a
style preference, at 1000-executor scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from graphsense_datafeed_spark.registry import query
from graphsense_datafeed_spark.sources.tables import load


@query(
    "udf_python",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000.0 THEN 'high'
                WHEN o_totalprice > 100000.0 THEN 'mid'
                ELSE 'low' END AS band
    FROM orders WHERE o_orderkey < 2000
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path, covered for surface
    completeness; the identical logic lives JVM-side in cond_case)."""

    @F.udf("string")
    def band(p: float) -> str:
        return "high" if p > 250000.0 else ("mid" if p > 100000.0 else "low")

    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select("o_orderkey", band("o_totalprice").alias("band"))


@query(
    "udf_pandas_scalar",
    """
    SELECT event_id,
           CAST(FLOOR(value * 1.1 * 1000) AS BIGINT) AS fee_e3
    FROM events WHERE event_id < 3000
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Series→Series UDF (SNIPPETS.md §[1] pattern).
    IEEE ops on the same doubles are bit-identical to the SQL oracle,
    and FLOOR of an identical double is deterministic (ROUND isn't)."""
    import numpy as np

    @F.pandas_udf("bigint")
    def fee_e3(v: pd.Series) -> pd.Series:
        return np.floor(v * 1.1 * 1000).astype("int64")

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    return ev.select("event_id", fee_e3("value").alias("fee_e3"))


@query(
    "udaf_pandas_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS floor_sum,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def udaf_pandas_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Series→scalar), usable in
    groupBy().agg() like any built-in. Integer accumulation → no
    float-order sensitivity across partition orders."""
    import numpy as np

    @F.pandas_udf("bigint")
    def floor_sum(v: pd.Series) -> int:
        return int(np.floor(v).astype("int64").sum())

    @F.pandas_udf("bigint")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        floor_sum("value").alias("floor_sum"),
        n_rows("value").alias("n"),
    )


@query(
    "udtf_grouped_map",
    """
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS purchases_so_far
    FROM events
    """,
)
def udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group running statistic through the pandas boundary.

    Round-16 (guide §2.3 "aggregate before you shuffle" / §4.2): this
    was the one batch ``groupBy().applyInPandas`` in the engine —
    whole group as one pdf, one Python call PER GROUP.  At 1500 users
    × ~67 events each, the per-group pandas-frame construction and
    function-call overhead dominated (~4.8 s isolated steady-state at
    sf0.1 for a 100K-row input).  The same computation is now a
    sorted-stream ``mapInPandas``: shuffle once on the group key, sort
    within partitions by (user_id, event_id), and compute the running
    count VECTORIZED across every group in an Arrow batch
    (``groupby().cumsum()`` on already-sorted data), carrying the one
    group that can straddle a batch boundary (batches within a
    partition arrive in order, so only the LAST user of a batch can
    continue into the next).  Same exchange, same rows — measured
    ~6× on the Python side, bit-identical output (event_id is unique,
    so the running order is deterministic in both forms).

    Scale: one shuffle on the group key, like the grouped-map form —
    but per-task memory is now bounded by the Arrow batch size, not by
    the largest group, and the Python call count is O(batches), not
    O(groups)."""

    def running_purchases(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (last row's raw user_id, its running count); the key may be
        # null, which is one group like DuckDB's PARTITION BY user_id
        carry = None
        for pdf in batches:
            if not len(pdf):
                continue
            uid = pdf["user_id"]
            cum = (
                (pdf["event_type"] == "purchase")
                .astype("int64")
                .groupby(uid.to_numpy(), dropna=False)
                .cumsum()
            )
            if carry is not None:
                key, n = carry
                cum[uid.isna() if pd.isna(key) else uid == key] += n
            carry = (uid.iloc[-1], int(cum.iloc[-1]))
            yield pd.DataFrame(
                {
                    "user_id": uid,
                    "event_id": pdf["event_id"],
                    "purchases_so_far": cum,
                }
            )

    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "event_type")
    return (
        ev.repartition("user_id")
        .sortWithinPartitions("user_id", "event_id")
        .mapInPandas(
            running_purchases,
            "user_id bigint, event_id bigint, purchases_so_far bigint",
        )
    )


@query(
    "udtf_map_batches",
    """
    SELECT event_id, event_type,
           CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents
    FROM events WHERE event_type IN ('purchase', 'click')
    """,
)
def udtf_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: pdf-iterator → pdf-iterator over the whole stream;
    the batch-shaped enrichment/filter surface (multimodal.py uses the
    same mechanism for decode pipelines). Per-row-pure logic only —
    batch boundaries are an execution detail that must not affect
    output."""

    def to_cents(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[pdf["event_type"].isin(["purchase", "click"])].copy()
            # value has 2 decimals → value*100 is integral up to 1 ulp;
            # nearest-int round matches SQL ROUND( ,0) exactly.
            out["value_cents"] = out["value"].mul(100).round().astype("int64")
            yield out[["event_id", "event_type", "value_cents"]]

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.mapInPandas(
        to_cents, "event_id bigint, event_type string, value_cents bigint"
    )


@query(
    "udtf_python",
    """
    SELECT doc_id, unnest(str_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 40
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): rows-out-per-row-in, lateral-join style —
    the SQL-surfaced table function (vs mapInPandas' DataFrame-level
    equivalent)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string")
    class SplitWords:
        def eval(self, text: str):
            for w in text.split(" "):
                yield (w,)

    spark.udtf.register("gds_split_words", SplitWords)
    load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select(
        "doc_id", "text"
    ).createOrReplaceTempView("gds_docs_for_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, s.word
        FROM gds_docs_for_udtf d, LATERAL gds_split_words(d.text) s
        """
    )


@query(
    "udf_pandas_iter",
    """
    SELECT doc_id,
           CAST((length(text) - length(replace(text, 'the', ''))) // 3
                AS BIGINT) AS n_the
    FROM documents WHERE doc_id < 300
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form pandas UDF (round 6) — the §2.11 API flavor the
    scalar form can't replace: ``Iterator[pd.Series] ->
    Iterator[pd.Series]`` runs per-WORKER setup code exactly once
    before streaming every Arrow batch through it — the shape real
    pipelines use to load a model / compile an automaton / open a
    dictionary once per executor instead of once per batch (the
    dominant cost for heavyweight scorers).

    Here the once-per-worker artifact is a compiled regex; each batch
    then counts matches vectorized.  The oracle computes the identical
    count relationally (length-difference trick), so the Python path
    is value-checked, not just smoke-run.

    Scale: Arrow-batched like every pandas UDF, plus the amortized
    init; memory bounded by batch size."""
    from typing import Iterator
    import pandas as pd

    @F.pandas_udf("bigint")
    def count_the(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        pattern = re.compile("the")  # once per worker, not per batch
        for s in batches:
            yield s.str.count(pattern).astype("int64")

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select("doc_id", count_the("text").alias("n_the"))


@query(
    "udf_arrow_scalar",
    """
    SELECT event_id,
           CAST(FLOOR(value * value * 1000) AS BIGINT) AS sq_e3
    FROM events WHERE event_id < 3000
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED Python UDF (``useArrow=True``) — the Spark-4
    third lane between the pickled row UDF (udf_python) and the
    pandas UDF (udf_pandas_scalar): the function still receives plain
    Python scalars (no pandas API needed), but batches cross the
    JVM/Python boundary as Arrow record batches instead of pickled
    rows — typically 1.5-2× over the pickled path with zero code
    change beyond the flag. The right migration step for existing
    per-row UDF code that can't be vectorized.

    Same determinism argument as udf_pandas_scalar: IEEE double
    multiply then FLOOR, identical on both engines."""

    @F.udf("bigint", useArrow=True)
    def sq_e3(v: float) -> int:
        import math

        return math.floor(v * v * 1000)

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    return ev.select("event_id", sq_e3("value").alias("sq_e3"))


@query(
    "udaf_pandas_window",
    """
    SELECT event_id, event_type,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS roll_sum_e4
    FROM events WHERE event_id < 3000
    ORDER BY event_id
    """,
)
def udaf_pandas_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF used OVER A WINDOW (round 10) —
    the last unexercised pandas-UDF placement: the same Series→scalar
    UDF that groupBy().agg() accepts also runs per window frame
    (Spark evaluates it once per row over the frame's Arrow slice).
    This is the escape hatch for rolling statistics the built-in
    window aggregates can't express (rolling percentile-of-custom-
    score, rolling trimmed means) — here a 3-row rolling sum so the
    oracle is the plain SQL window and any frame-alignment bug
    (off-by-one PRECEDING, partition bleed) breaks the hash.

    Exactness: the UDF floors each value to e4 integer BEFORE
    summing, so accumulation order inside the frame cannot matter.

    Scale: bounded ROWS frames ship only the frame slice per row;
    the window partitions by event_type — keyed exchange, and the
    Python boundary is Arrow-batched per partition, NOT per row.
    Still the slow path vs a built-in SUM — use only when the frame
    statistic has no JVM expression (this one exists purely to pin
    the placement's semantics)."""
    import numpy as np

    @F.pandas_udf("bigint")
    def roll_sum_e4(v: pd.Series) -> int:
        return int(np.floor(v * 10000).astype("int64").sum())

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        roll_sum_e4("value").over(w).alias("roll_sum_e4"),
    ).orderBy("event_id")


@query(
    "udtf_map_arrow",
    """
    SELECT event_id,
           CAST(FLOOR(value * 10000) AS BIGINT) AS v_e4,
           CAST(length(event_type) AS BIGINT) AS type_len
    FROM events WHERE user_id < 50
    """,
)
def udtf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (round 11): RecordBatch-iterator → RecordBatch-
    iterator — the LOWEST-overhead Python boundary Spark offers,
    one rung below mapInPandas on the documented UDF ladder
    (builtin > pandas_udf > mapInPandas > mapInArrow-when-zero-copy
    -matters > row udf): no pandas Series materialization, no index
    bookkeeping — pyarrow.compute kernels run directly on the Arrow
    buffers Spark already shipped.  The right rung when the per-batch
    work is itself Arrow-native (casts, takes, dictionary ops) and
    the pandas conversion would DOMINATE the work, which is exactly
    the multimodal-decode regime.

    Parity: floor(value*1e4) via pyarrow.compute.floor on float64 is
    the identical IEEE chain as both SQL engines; length() on ASCII
    event types is byte-length in all three.

    Scale: narrow map over Arrow batches, whole-stage boundaries on
    either side; batch size inherits
    spark.sql.execution.arrow.maxRecordsPerBatch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def enrich(batches):
        for batch in batches:
            v = pc.cast(
                pc.floor(
                    pc.multiply(
                        pc.cast(batch.column("value"), pa.float64()),
                        pa.scalar(10000.0),
                    )
                ),
                pa.int64(),
            )
            tl = pc.cast(
                pc.utf8_length(batch.column("event_type")), pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("event_id"), v, tl],
                ["event_id", "v_e4", "type_len"],
            )

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("event_id", "value", "event_type")
    )
    return ev.mapInArrow(
        enrich, "event_id bigint, v_e4 bigint, type_len bigint"
    )
