"""etl_loop output check.

The stub ClickHouse digests what it received per batch: the line count and,
for two polynomial hashes mod 32-bit primes, the sum of the hashes of all
lines (mod 2^64) — a digest of the multiset of TSV lines. This module
renders the generated points independently, under the reference semantics
of tools/refbench.py (escape_ts, ch_array, format_float), digests that
rendering the same way, and compares. It also checks each closed ledger
record against what was planted in its window.
"""
import json
import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from refbench import ch_array, escape_ts, format_float  # noqa: E402

# must match StubClickHouse in scala/Stubs.scala
MODS = ((4294967291, 1000003), (4294967279, 911382323))
TAB = 9


def poly(data, p, b):
    h = 0
    for c in data:
        h = (h * b + c) % p
    return h


def render_series(metric):
    """The per-series middle of a line: name, label keys, label values."""
    name = metric.get("__name__", "")
    labels = dict(sorted((k, v) for k, v in metric.items() if k != "__name__"))
    return (f"{escape_ts(name)}\t{ch_array(list(labels.keys()))}\t"
            f"{ch_array(list(labels.values()))}").encode()


def parse_value(token):
    try:
        return True, float(token)
    except (TypeError, ValueError):
        return False, math.nan


class Reference:
    def __init__(self, fixture):
        with open(os.path.join(fixture, "etl", "etl.json")) as f:
            m = json.load(f)
        self.t0, self.step = m["t0"], m["step_s"]
        self.window = m["window_s"]
        self.idx = np.load(os.path.join(fixture, "etl", "idx.npy"))
        parsed = [parse_value(t) for t in m["pool"]]
        self.pool_ok = np.array([ok for ok, _ in parsed])
        vals = [format_float(v).encode() if ok else b"" for ok, v in parsed]
        series = [render_series(s) for s in m["series"]]
        maxlen = 3 + max(len(s) for s in series) + max(len(v) for v in vals)
        self.tables = []
        for p, b in MODS:
            pw = [1] * (maxlen + 32)
            for i in range(1, len(pw)):
                pw[i] = pw[i - 1] * b % p
            pw = np.array(pw, dtype=np.uint64)
            hs = np.array([poly(s, p, b) for s in series], dtype=np.uint64)
            ls = np.array([len(s) for s in series])
            hv = np.array([poly(v, p, b) for v in vals], dtype=np.uint64)
            lv = np.array([len(v) for v in vals])
            self.tables.append((p, b, pw, hs, ls, hv, lv))

    def expected(self, start):
        """(rows, skipped, sum1, sum2) for the window starting at `start`:
        points with ts in [start, start + window), the job's filter."""
        j0 = (start - self.t0) // self.step
        js = np.arange(j0, j0 + self.window // self.step)
        idx = self.idx[:, js]
        ok = self.pool_ok[idx]
        sums = []
        for p, b, pw, hs, ls, hv, lv in self.tables:
            P = np.uint64(p)
            ha = np.array([poly(f"{self.t0 + j * self.step:.6f}".encode(),
                                p, b) for j in js], dtype=np.uint64)
            lvi = lv[idx]
            lsi = ls[:, None]
            # h(A \t S \t V) from the parts' hashes and byte lengths
            h = ha[None, :] * pw[1 + lsi + 1 + lvi] % P
            h = (h + np.uint64(TAB) * pw[lsi + 1 + lvi] % P) % P
            h = (h + hs[:, None] * pw[1 + lvi] % P) % P
            h = (h + np.uint64(TAB) * pw[lvi] % P) % P
            h = (h + hv[idx]) % P
            sums.append(int(h[ok].sum(dtype=np.uint64)))
        return int(ok.sum()), int((~ok).sum()), sums[0], sums[1]


def check(fixture, report):
    """Returns {window start: failure message} for every window whose load
    or ledger record does not match what was planted in it."""
    ref = Reference(fixture)
    failures = {}
    for b in report["batches"]:
        rows, skipped, s1, s2 = ref.expected(b["start"])
        got = (b["rows_loaded"], b["rows_skipped"],
               b["sum1"] % 2**64, b["sum2"] % 2**64)
        if got != (rows, skipped, s1, s2):
            failures[b["start"]] = (
                f"window {b['start']}: loaded {got[0]} rows, skipped {got[1]}"
                f" vs planted {rows}, {skipped}"
                + ("; TSV line multiset differs" if got[2:] != (s1, s2) else ""))
    loaded = {b["start"] for b in report["batches"]}
    ledger = pq.read_table(report["ledger_dir"]).to_pylist()
    closed = [r for r in ledger if r["timestampEnd"] is not None
              and r["timestampProgress"] is not None]
    seen = set()
    for r in closed:
        start = r["timestampStart"]
        rows, skipped, _, _ = ref.expected(start)
        want = (rows, skipped, start + ref.window, ref.window)
        got = (r["batchRows"], r["batchSkippedCount"], r["timestampProgress"],
               r["batchWindowSeconds"])
        if got != want:
            failures.setdefault(start, "")
            failures[start] += (f" ledger record {start}: rows/skipped/"
                                f"progress/window {got} vs planted {want}")
        seen.add(start)
    for start in sorted(loaded - seen):
        failures.setdefault(start, "")
        failures[start] += f" window {start}: no closed ledger record"
    return failures
