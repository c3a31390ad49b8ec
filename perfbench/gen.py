"""Seeded inputs for the perfbench workloads.

The base tables are not generated: every run reads ``perfbench/data``,
a byte copy of the repository's sf0.01 test data (TESTDATA.md;
``data/SHA256SUMS`` pins the files).  ``plan(seed, workload, ...)``
holds everything the workload seed decides — the order of operations
in each pass, the update batches, and the point and range keys.  Each
of the three draws from its own random stream, so a plan with more
passes or batches extends a shorter one of the same seed.

Usage: python3 perfbench/gen.py --seed N [--workload NAME]
prints a digest of the plan, with the seed it came from.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

BATCH_FRACTION = 0.02
# point and range reads alternate; with six per batch the reads are
# three quarters of an ingest cycle's operations (workloads.IngestCompact)
READS_PER_BATCH = 6

# value domains of the test data's orders table
DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - DAY0).days + 1
STATUSES = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def plan(seed: int, workload: str, ops: list[str] | None = None,
         passes: int = 0, keys: list[int] | None = None,
         batches: int = 0) -> dict:
    """Everything the workload seed decides.

    ``ops``: the workload's operation names; each of ``passes`` passes
    runs them all in a seeded order.  ``keys``: the order keys that
    ``batches`` update batches and the lookup keys draw from.
    ``reads[0]`` is for the check pass, ``reads[i + 1]`` follows batch
    ``i``."""
    def rng(stream: int):
        return np.random.default_rng([seed, _stable_hash(workload), stream])

    out: dict = {"seed": seed, "workload": workload}
    if ops:
        r = rng(0)
        out["passes"] = [
            [ops[i] for i in r.permutation(len(ops))] for _ in range(passes)
        ]
    if keys:
        keys = np.asarray(keys)
        per_batch = max(1, int(len(keys) * BATCH_FRACTION))
        r = rng(1)
        out["batches"] = [{
            "o_orderkey": np.sort(r.choice(keys, per_batch,
                                           replace=False)).tolist(),
            "o_orderstatus": r.choice(STATUSES, per_batch).tolist(),
            "o_totalprice": _money(r, 1000, 500_000, per_batch).tolist(),
            "o_orderpriority": r.choice(PRIORITIES, per_batch).tolist(),
        } for _ in range(batches)]
        r = rng(2)
        reads = []
        for _ in range(batches + 1):
            row = []
            for j in range(READS_PER_BATCH):
                if j % 2 == 0:
                    row.append(("point", int(r.choice(keys))))
                else:
                    start = int(r.integers(0, ORDER_DAYS - 200))
                    width = int(r.integers(30, 200))
                    lo = (DAY0 + dt.timedelta(days=start)).date().isoformat()
                    hi = (DAY0 + dt.timedelta(days=start + width)).date()
                    row.append(("range", (lo, hi.isoformat())))
            reads.append(row)
        out["reads"] = reads
    return out


def order_keys(data_dir: str = DATA_DIR) -> list[int]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                      columns=["o_orderkey"])
    return sorted(t.column(0).to_pylist())


def _stable_hash(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:4], "little")


def digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", default="ingest_compact")
    a = ap.parse_args()
    p = plan(a.seed, a.workload, ops=["a", "b", "c"], passes=4,
             keys=order_keys(), batches=4)
    print(json.dumps({"seed": p["seed"], "workload": p["workload"],
                      "digest": digest(p),
                      "first_batch_keys": p["batches"][0]["o_orderkey"][:5]}))


if __name__ == "__main__":
    main()
