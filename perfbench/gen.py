"""Seeded open-loop load generator for the streaming workloads.

Runs as its own single-threaded process, separate from the program under
test. It first builds every input from ``--seed`` with numpy and pyarrow
(the customer dimension and all event files of the schedule) into a
staging directory and prints ``ready``. Commands then come on stdin:
``prime`` moves file 0 into the source directory (the program's first,
cold pass reads it); ``go <t0>`` starts the open loop, in which file ``i``
is due at ``t0 + (i - 1) / files_per_s`` and is moved into the source
directory with an atomic rename at that time, whether or not the program
has kept up; ``stop`` ends the schedule.
On exit it prints one JSON line: the due and landing time of every file
it landed, which is how the harness reports ``generator.lag_s``.

Usage (normally started by run.py):
    python3 perfbench/gen.py --workload stream_fanout --seed 1 \
        --root <work dir> --horizon 90
"""

from __future__ import annotations

import argparse
import json
import os
import select
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
# 2026-01-01T00:00:00Z: event time of the first file.
T_BASE_US = 1_767_225_600_000_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "like", "share", "purchase"]

# Traffic dimensions per workload:
#   files_per_s      open-loop file rate (events/s = files_per_s * keys_per_file * mean versions)
#   keys_per_file    distinct upsert keys (event_id) per file
#   max_versions     upsert versions per key, uniform 1..max; all in one file
#   zipf_s           Zipf exponent of user_id over the customers
#   span_s           event time one file covers (event-time density)
#   disorder_s       events lag their nominal time by up to this (within the watermark)
#   late_share       share of events sent far behind the watermark
#   late_s           (min, max) lateness of those events
PROFILES = {
    "stream_fanout": dict(
        files_per_s=20, keys_per_file=25, max_versions=3, zipf_s=1.1,
        span_s=0.05, disorder_s=0.0, late_share=0.0, late_s=(0, 0),
    ),
    "stream_window": dict(
        files_per_s=12, keys_per_file=21, max_versions=1, zipf_s=1.1,
        span_s=0.4, disorder_s=30.0, late_share=0.02, late_s=(150, 300),
    ),
}


class ZipfUsers:
    """Bounded Zipf over the customer keys; rank -> key is a seeded permutation."""

    def __init__(self, rng: np.random.Generator, s: float):
        cdf = np.cumsum(1.0 / np.arange(1, N_CUSTOMERS + 1) ** s)
        self.cdf = cdf / cdf[-1]
        self.keys = rng.permutation(N_CUSTOMERS) + 1

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return self.keys[np.searchsorted(self.cdf, rng.random(n), side="right").clip(max=N_CUSTOMERS - 1)]


def customer_table(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(1, N_CUSTOMERS + 1)
    return pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS)),
        }
    )


def event_file(
    rng: np.random.Generator, prof: dict, users: ZipfUsers, i: int, first_id: int
) -> pa.Table:
    k = prof["keys_per_file"]
    versions = rng.integers(1, prof["max_versions"] + 1, k)
    n = int(versions.sum())
    ids = np.repeat(np.arange(first_id, first_id + k), versions)
    span_us = int(prof["span_s"] * 1e6)
    ts = T_BASE_US + i * span_us + rng.integers(0, max(span_us, 1), n)
    ts -= rng.integers(0, int(prof["disorder_s"] * 1e6) + 1, n)
    late = rng.random(n) < prof["late_share"]
    lo, hi = prof["late_s"]
    ts[late] -= rng.integers(int(lo * 1e6), int(hi * 1e6) + 1, int(late.sum()))
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users.sample(rng, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.uniform(0.01, 1000.0, n), 2)),
            "props": pa.array([f'{{"v":{v}}}' for v in rng.integers(0, 100, n)]),
        }
    )


def build(workload: str, seed: int, root: str, horizon_s: float) -> int:
    prof = PROFILES[workload]
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "dim"))
    os.makedirs(os.path.join(root, "stage"))
    os.makedirs(os.path.join(root, "src"))
    pq.write_table(customer_table(rng), os.path.join(root, "dim", "customer.parquet"))
    users = ZipfUsers(rng, prof["zipf_s"])
    n_files = int(horizon_s * prof["files_per_s"])
    for i in range(n_files):
        t = event_file(rng, prof, users, i, i * prof["keys_per_file"])
        pq.write_table(t, os.path.join(root, "stage", f"f{i:06d}.parquet"))
    return n_files


class Commands:
    """Line reader on the unbuffered stdin, so waiting for a command can
    time out (``select``) without losing buffered input."""

    def __init__(self) -> None:
        self.buf = b""

    def next(self, timeout: float | None) -> str | None:
        """The next line; None on timeout (None waits for ever); "" at EOF."""
        while b"\n" not in self.buf:
            ready, _, _ = select.select([0], [], [], timeout)
            if not ready:
                return None
            chunk = os.read(0, 4096)
            if not chunk:
                return ""
            self.buf += chunk
        line, self.buf = self.buf.split(b"\n", 1)
        return line.decode().strip()


def move(root: str, i: int) -> str:
    name = f"f{i:06d}.parquet"
    os.rename(os.path.join(root, "stage", name), os.path.join(root, "src", name))
    return name


def land(cmds: Commands, root: str, n_files: int, files_per_s: float, t0: float) -> list:
    """Land files 1.. on the open-loop schedule until it ends or a command
    (``stop``) arrives; file 0 primed the source before."""
    landed = []
    for i in range(1, n_files):
        due = t0 + (i - 1) / files_per_s
        if cmds.next(max(due - time.time(), 0.0)) is not None:
            return landed
        landed.append((move(root, i), due, time.time()))
    cmds.next(None)  # schedule ran out: still wait for the stop
    return landed


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--horizon", type=float, required=True)
    a = ap.parse_args()
    n_files = build(a.workload, a.seed, a.root, a.horizon)
    print("ready", n_files, flush=True)
    cmds, landed = Commands(), []
    while cmd := cmds.next(None):
        if cmd == "prime":
            move(a.root, 0)
            print("primed", flush=True)
        elif cmd.startswith("go "):
            t0 = float(cmd.split()[1])
            landed = land(cmds, a.root, n_files, PROFILES[a.workload]["files_per_s"], t0)
            break
        else:
            break
    print(json.dumps({"landed": landed}), flush=True)


if __name__ == "__main__":
    main()
