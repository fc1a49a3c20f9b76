"""Seeded input generator for the streaming workloads.

Record content is a pure function of ``(workload, seed, seq)``, so the
checker in ``run.py`` can regenerate what was sent. Record ``seq`` goes to
partition ``seq % PARTITIONS`` of the input log; its wire shape is

    key          log_etl: uniform over 100k keys; keyed_window: Zipf(1.2)
                 rank capped at 100k
    value        "<seq>:<amt>:<due_ms>"   (amt uniform 0..99)
    timestamp_ms log_etl: the due time; keyed_window: the due time, or for
                 5% of records up to 3 s before it (late events)

Run as a script this is the open-loop load generator: one process that
calls the engine's public ``append_records`` every 200 ms with the records
due since the last call, each stamped with the time it was due, however
fast the engine consumes. It writes per-tick append times and lateness to
``--report``.

    python3 perfbench/gen.py --log DIR --workload log_etl --seed 1 \
        --rate 2000 --seconds 13 --first-seq 60200 --start-at EPOCH_S \
        --report FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

PARTITIONS = 4
KEYS = 100_000
BLOCK = 4096  # seqs per deterministic RNG block
LATE_SHARE = 0.05
LATE_MAX_MS = 3000
ZIPF_S = 1.2
TICK_S = 0.2  # the generator appends once per tick

_zipf_cdf = None


def _zipf_ranks(u: np.ndarray) -> np.ndarray:
    global _zipf_cdf
    if _zipf_cdf is None:
        w = 1.0 / np.arange(1, KEYS + 1) ** ZIPF_S
        _zipf_cdf = np.cumsum(w) / w.sum()
    return np.minimum(np.searchsorted(_zipf_cdf, u), KEYS - 1)


def content(workload: str, seed: int, start: int, stop: int):
    """``(keys, amts, late_ms)`` arrays for seqs ``[start, stop)``."""
    keys, amts, lates = [], [], []
    for block in range(start // BLOCK, (stop - 1) // BLOCK + 1 if stop > start else 0):
        rng = np.random.default_rng([seed, block, 0 if workload == "log_etl" else 1])
        u = rng.random(BLOCK)
        amt = rng.integers(0, 100, BLOCK)
        late = np.where(
            rng.random(BLOCK) < LATE_SHARE, rng.integers(1, LATE_MAX_MS + 1, BLOCK), 0
        )
        if workload == "log_etl":
            k = (u * KEYS).astype(np.int64)
            late[:] = 0
        else:
            k = _zipf_ranks(u)
        lo = max(start - block * BLOCK, 0)
        hi = min(stop - block * BLOCK, BLOCK)
        keys.append(k[lo:hi])
        amts.append(amt[lo:hi])
        lates.append(late[lo:hi])
    if not keys:
        empty = np.zeros(0, dtype=np.int64)
        return empty, empty, empty
    return np.concatenate(keys), np.concatenate(amts), np.concatenate(lates)


def records(workload: str, seed: int, start: int, due_ms: np.ndarray):
    """Per-partition ``(key, value, timestamp_ms)`` lists for seqs
    ``start .. start + len(due_ms)``, in seq order within each partition."""
    keys, amts, lates = content(workload, seed, start, start + len(due_ms))
    out: dict[int, list] = {p: [] for p in range(PARTITIONS)}
    for i in range(len(due_ms)):
        seq = start + i
        due = int(due_ms[i])
        out[seq % PARTITIONS].append(
            (f"k{keys[i]:05d}", f"{seq}:{amts[i]}:{due}", due - int(lates[i]))
        )
    return out


def backlog(workload: str, seed: int, first: int, n: int, end_ms: int) -> dict:
    """Per-partition records for seqs ``first .. first + n - 1``, due evenly
    over the 10 s before ``end_ms``."""
    return records(workload, seed, first, end_ms - 10_000 + np.arange(n) * 10_000 // max(n, 1))


def append(log_dir: str, by_partition: dict, chunk: int = 50_000) -> None:
    """Append prebuilt records to the log in large ``append_records`` calls."""
    from samza_spark.sources.log_datasource import append_records

    for p, recs in by_partition.items():
        for lo in range(0, len(recs), chunk):
            append_records(log_dir, p, recs[lo : lo + chunk])


def run_open_loop(args) -> dict:
    from samza_spark.sources.log_datasource import append_records

    start = args.start_at
    n_total = int(args.rate * args.seconds)
    sent = 0
    tick = 0
    append_ms, late_ms, spans = [], [], []
    while sent < n_total:
        tick += 1
        tick_due = start + tick * TICK_S
        delay = tick_due - time.time()
        if delay > 0:
            time.sleep(delay)
        upto = min(n_total, int(args.rate * tick * TICK_S + 1e-9))
        if upto <= sent:
            continue
        # record i is due at start + (i + 1) / rate
        due = (
            (start + (np.arange(sent, upto) + 1) / args.rate) * 1000
        ).astype(np.int64)
        t0 = time.time()
        for p, recs in records(args.workload, args.seed, args.first_seq + sent, due).items():
            if recs:
                append_records(args.log, p, recs)
        t1 = time.time()
        append_ms.append((t1 - t0) * 1000)
        late_ms.append(max(0.0, (t1 - tick_due) * 1000))
        spans.append({"name": "generator.append", "start": t0, "end": t1,
                      "records": upto - sent})
        sent = upto
    return {
        "sent": sent,
        "ticks": len(append_ms),
        "append_ms": append_ms,
        "late_ms": late_ms,
        "spans": spans,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--log", required=True)
    ap.add_argument("--workload", required=True, choices=["log_etl", "keyed_window"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-seq", type=int, required=True)
    ap.add_argument("--start-at", type=float, required=True, help="epoch seconds")
    ap.add_argument("--report", required=True)
    args = ap.parse_args(argv)
    rep = run_open_loop(args)
    tmp = args.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rep, f)
    os.replace(tmp, args.report)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(main())
