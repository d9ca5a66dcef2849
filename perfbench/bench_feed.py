"""Seeded inputs, expected results and result checks of the `datafeed`
workload.

The inputs are a block feed from ``genfixtures.gen_blocks`` (the
program's own generator, re-seeded) and a block-header feed for the
streaming reorg daemon. Both are written once per (seed, size) under
the benchmark's cache directory, together with the results the program
must produce, computed here in plain Python:

- full sync: block, transaction and output counts, the output value
  total, per-address (n_outputs, total_received) and the summary row;
- reorg daemon: newest-ingest-wins per height over the header feed.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil

N_BLOCKS = 20_000
WARM_BLOCKS = 1_000
WARM_HEADER_FILES = 2
N_HEADER_FILES = 10
NEW_PER_FILE = 160
# Share of heights that get a competing block: the stale-block rate
# measured for Ethereum (6.8 %), the highest of the chains measured by
# Gervais et al., "On the Security and Performance of Proof of Work
# Blockchains", CCS 2016 (Bitcoin: 0.41 %, which would leave most
# micro-batches without a reorg). A competing block arrives 1 to
# REORG_MAX_DEPTH blocks after the block it competes with.
REORG_SHARE = 0.068
REORG_MAX_DEPTH = 2
GENESIS_TS = 1_231_006_505


def feed_dir(cache_dir: str, seed: int) -> str:
    shape = (f"b{N_BLOCKS}-w{WARM_BLOCKS}-h{N_HEADER_FILES}x{NEW_PER_FILE}"
             f"-r{REORG_SHARE}d{REORG_MAX_DEPTH}")
    return os.path.join(cache_dir, "feeds", f"seed{seed}-{shape}")


def _write_headers(out_dir: str, seed: int) -> dict[int, list]:
    """Header feed of N_HEADER_FILES micro-batch files, each holding
    NEW_PER_FILE new heights and the competing blocks that arrive
    among them; returns the expected drained table
    {height: [block_hash, ingest_seq]}."""
    rng = random.Random(f"reorg-{seed}")
    os.makedirs(out_dir)
    n_heights = N_HEADER_FILES * NEW_PER_FILE
    due: dict[int, list[int]] = {}  # arrival height -> competed heights
    winners: dict[int, list] = {}
    seq = 0
    for i in range(N_HEADER_FILES):
        heights = []
        for tip in range(i * NEW_PER_FILE, (i + 1) * NEW_PER_FILE):
            heights.append(tip)
            heights += due.pop(tip, [])
            arrival = tip + rng.randint(1, REORG_MAX_DEPTH)
            if rng.random() < REORG_SHARE and arrival < n_heights:
                due.setdefault(arrival, []).append(tip)
        path = os.path.join(out_dir, f"feed_{i:02d}.jsonl")
        with open(path, "w") as fh:
            for h in heights:
                bh = hashlib.sha256(f"hdr-{seed}-{seq}".encode()).hexdigest()
                fh.write(json.dumps({
                    "height": h,
                    "block_hash": bh,
                    "timestamp": GENESIS_TS + h * 600 + rng.randint(-60, 60),
                    "no_transactions": rng.randint(1, 6),
                    "ingest_seq": seq,
                }) + "\n")
                winners[h] = [bh, seq]
                seq += 1
        # the file source orders micro-batches by modification time
        os.utime(path, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return winners


def prepare(cache_dir: str, seed: int) -> None:
    """Write the seeded feeds and their expected results, unless this
    (seed, size) is already cached; feeds of other seeds are removed.
    Also writes a small warm-up feed: the first WARM_BLOCKS blocks and
    the first WARM_HEADER_FILES header files. Safe to run in a child
    process."""
    final = feed_dir(cache_dir, seed)
    parent = os.path.dirname(final)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if os.path.join(parent, name) != final:
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    if os.path.exists(os.path.join(final, "expected.json")):
        return
    from graphsense_datafeed_spark.ingest.genfixtures import CURRENCIES, gen_blocks

    tmp = f"{final}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spec = dataclasses.replace(CURRENCIES["btc"], seed=seed)
    n_tx = n_out = value = last_ts = 0
    addr: dict[str, list[int]] = {}
    with open(os.path.join(tmp, "blocks.jsonl"), "w") as fh, \
            open(os.path.join(tmp, "warm_blocks.jsonl"), "w") as warm:
        for b in gen_blocks(N_BLOCKS, spec=spec):
            line = json.dumps(b, sort_keys=True) + "\n"
            fh.write(line)
            if b["height"] < WARM_BLOCKS:
                warm.write(line)
            last_ts = max(last_ts, b["timestamp"])
            n_tx += len(b["txs"])
            for tx in b["txs"]:
                for o in tx["outputs"]:
                    n_out += 1
                    value += o["value"]
                    a = addr.setdefault(o["address"][0], [0, 0])
                    a[0] += 1
                    a[1] += o["value"]
    expected = {
        "blocks": N_BLOCKS,
        "transactions": n_tx,
        "outputs": n_out,
        "output_value": value,
        "last_ts": last_ts,
        "address_totals": addr,
        "winners": _write_headers(os.path.join(tmp, "headers"), seed),
        "header_batches": N_HEADER_FILES,
    }
    os.makedirs(os.path.join(tmp, "warm_headers"))
    for i in range(WARM_HEADER_FILES):
        name = f"feed_{i:02d}.jsonl"
        shutil.copy2(os.path.join(tmp, "headers", name),
                     os.path.join(tmp, "warm_headers", name))
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run cached the same feed first
        shutil.rmtree(tmp, ignore_errors=True)


def load_expected(cache_dir: str, seed: int) -> dict:
    with open(os.path.join(feed_dir(cache_dir, seed), "expected.json")) as fh:
        exp = json.load(fh)
    exp["winners"] = {int(h): tuple(v) for h, v in exp["winners"].items()}
    return exp


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def check_sync(spark, base: str, exp: dict, run_query) -> list[str]:
    """Read the five raw tables back and compare with ``exp``. Each
    read is one query, run through ``run_query(name, fn)``."""
    import pyspark.sql.functions as F

    def read(t):
        return spark.read.parquet(f"{base}/{t}")

    bad = []
    n = run_query("q_block_count", lambda: read("block").count())
    if n != exp["blocks"]:
        bad.append(f"block rows {n} != {exp['blocks']}")
    n = run_query("q_tx_count", lambda: read("transaction").count())
    if n != exp["transactions"]:
        bad.append(f"transaction rows {n} != {exp['transactions']}")
    r = run_query("q_output_totals", lambda: read("tx_output").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value_satoshi").alias("v")).collect()[0])
    if (r["n"], r["v"]) != (exp["outputs"], exp["output_value"]):
        bad.append(f"tx_output (rows, value) {(r['n'], r['v'])} != "
                   f"{(exp['outputs'], exp['output_value'])}")
    got = run_query("q_address_totals", lambda: {
        row["address"]: [row["n_outputs"], row["total_received"]]
        for row in read("address_totals").collect()})
    if got != exp["address_totals"]:
        bad.append(f"address_totals differ ({len(got)} vs {len(exp['address_totals'])} addresses)")
    s = run_query("q_summary", lambda: read("summary_statistics").select(
        "no_blocks", "no_transactions",
        F.unix_timestamp(F.col("last_ts").cast("timestamp")).alias("last")).collect())
    want = [(exp["blocks"], exp["transactions"], exp["last_ts"])]
    if [tuple(x) for x in s] != want:
        bad.append(f"summary_statistics {s} != {want}")
    return bad


def check_drained(spark, target: str, exp: dict, run_query) -> list[str]:
    got = run_query("q_drained_blocks", lambda: {
        r["height"]: (r["block_hash"], r["ingest_seq"])
        for r in spark.read.parquet(target).select(
            "height", "block_hash", "ingest_seq").collect()})
    if got != exp["winners"]:
        wrong = sum(1 for h, v in exp["winners"].items() if got.get(h) != v)
        return [f"drained table: {wrong} of {len(exp['winners'])} heights differ, "
                f"{len(got)} rows"]
    return []



if __name__ == "__main__":
    # python3 bench_feed.py CACHE_DIR SEED: run ``prepare`` in its own process
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prepare(sys.argv[1], int(sys.argv[2]))
