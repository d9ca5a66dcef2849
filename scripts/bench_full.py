"""Full-registry per-query timing ledger (VERDICT r13 item 3).

The old headline benchmark timed 24 queries; the other ~800 registry
rows were timed only implicitly (correctness sweeps measure hash-match,
not per-query wall), so a perf regression in a non-headline family was
invisible until an sf10 census run noticed it. This script times EVERY
registered query at sf0.1 (one shared session, count() materialization
after a warm-up) and writes one diffable JSON ledger per round:

    python scripts/bench_full.py --round 14
    -> /root/repo/BENCH_full_sf01_r14.json

The ledger records per-query seconds + row counts, and — when an
earlier BENCH_full_sf01_r{M}.json exists — the list of queries whose
wall more than DOUBLED since the most recent prior ledger (the
round-over-round rot alarm BASELINE.md's protocol asks for). Readings
are suite-position-contaminated like any in-suite numbers; treat the
2x alarm as "re-measure isolated on a calm box", not as a verdict by
itself.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _prior_ledger(out_path: str) -> tuple[str, dict[str, float]] | None:
    """Most recent COMPLETE BENCH_full_sf01_r{M}.json other than
    out_path.  Ledgers recorded with failures are skipped as diff
    bases: their headline total sums only the successful queries, so a
    later >2x comparison against them would both hide regressions and
    fire false improvements (ADVICE r14)."""
    cands: list[tuple[int, str]] = []
    for p in glob.glob(os.path.join(REPO, "BENCH_full_sf01_r*.json")):
        if os.path.abspath(p) == os.path.abspath(out_path):
            continue
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            cands.append((int(m.group(1)), p))
    for _, path in sorted(cands, reverse=True):
        with open(path) as fh:
            led = json.load(fh)
        if led.get("failures"):
            print(
                f"# skipping prior ledger {os.path.basename(path)} as "
                f"diff base: {len(led['failures'])} recorded failures "
                "make its total/per-query walls incomparable",
                file=sys.stderr,
            )
            continue
        return path, dict(led.get("queries", {}))
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--only", default="", help="comma-separated qid subset (debug)"
    )
    args = ap.parse_args()
    out_path = os.path.join(REPO, f"BENCH_full_sf01_r{args.round}.json")

    from graphsense_datafeed_spark import registry
    from graphsense_datafeed_spark.session import build_session
    from graphsense_datafeed_spark.sources.tables import load

    registry.load_all_operators()
    spark = build_session("gds-bench-full")
    # warm-up: JVM/codegen + page cache + Arrow worker pool,
    # so per-query numbers measure the plan, not first-touch costs.
    load(spark, args.sf_dir, "lineitem").count()
    load(spark, args.sf_dir, "events").count()
    import pyspark.sql.functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(64).repartition(32).select(_warm("id")).count()

    def _warm_arrow(batches):
        yield from batches

    # the mapInArrow eval type spawns its own Python worker pool
    # (separate from the pandas_udf pool; ~2.5-4 s first use) — warm it
    # too so suite position doesn't decide which query pays the spawn
    # (methodology note in OPTIMIZATION_r15.md).
    spark.range(64).repartition(32).mapInArrow(_warm_arrow, "id long").count()

    # Pre-stage fixture derivatives OUTSIDE the timed window (VERDICT
    # r15 #8): the staged-scan operators' fixture layouts are a test
    # INPUT, not query work — stage them here and report the seconds
    # separately so no timed query writes testdata-keyed artifacts.
    from graphsense_datafeed_spark.sources.scans import STAGERS

    staging_sec: dict[str, float] = {}
    for qid, stager in STAGERS.items():
        t0 = time.perf_counter()
        try:
            stager(spark, args.sf_dir)
            staging_sec[qid] = round(time.perf_counter() - t0, 3)
        except Exception as ex:  # noqa: BLE001 — the query row will report it
            print(f"# prestage {qid} failed: {ex}", file=sys.stderr)
    if staging_sec:
        print(f"# prestaged fixtures: {staging_sec}", file=sys.stderr)

    only = {q for q in args.only.split(",") if q}
    per_query: dict[str, float] = {}
    rows: dict[str, int] = {}
    failures: list[list[str]] = []
    total = 0.0
    qids = [q for q in registry.QUERIES if not only or q in only]
    for k, qid in enumerate(qids, 1):
        t0 = time.perf_counter()
        try:
            df = registry.QUERIES[qid](spark, args.sf_dir)
            try:
                n = df.count()
            except Exception as cex:  # noqa: BLE001
                # count()'s column pruning can leave a query Spark
                # refuses to run (e.g. a _corrupt_record-only scan,
                # UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
                # — fall back to collect, which reads full rows like
                # the driver does.
                if "CORRUPT_RECORD" not in str(cex):
                    raise
                n = len(df.collect())
        except Exception as ex:  # noqa: BLE001 — ledger, don't abort
            failures.append([qid, str(ex)[:160]])
            print(f"# [{k}/{len(qids)}] {qid}: FAILED", file=sys.stderr)
            continue
        dt = time.perf_counter() - t0
        per_query[qid] = round(dt, 3)
        rows[qid] = n
        total += dt
        print(
            f"# [{k}/{len(qids)}] {qid}: {dt:.3f}s ({n} rows)",
            file=sys.stderr,
        )

    regressions: list[dict[str, object]] = []
    prior = _prior_ledger(out_path)
    if prior is not None:
        prior_path, prior_q = prior
        for qid, sec in per_query.items():
            before = prior_q.get(qid)
            if before and before >= 0.2 and sec > 2.0 * before:
                regressions.append(
                    {"query": qid, "before": before, "after": sec}
                )
        regressions.sort(key=lambda r: -float(r["after"]) / float(r["before"]))
        print(
            f"# vs {os.path.basename(prior_path)}: "
            f"{len(regressions)} quer{'y' if len(regressions) == 1 else 'ies'} >2x slower",
            file=sys.stderr,
        )

    ledger = {
        "metric": "full_registry_wall_sf01",
        "value": round(total, 3),
        "unit": "sec",
        "sf": 0.1,
        "round": args.round,
        "n_queries": len(per_query),
        "queries": per_query,
        "rows": rows,
        "failures": failures,
        "regressions_vs_prior_2x": regressions,
        "staging_sec": staging_sec,
    }
    with open(out_path, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: ledger[k] for k in
                      ("metric", "value", "unit", "sf", "round",
                       "n_queries")} | {"out": out_path}))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
