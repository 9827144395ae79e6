"""End-to-end benchmark of the streaming pipeline.

    python3 perfbench/run.py --workload stream_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``stream_fanout``: open loop, ~1000 events/s as 20 small files/s;
  ``run_enriched_fanout`` called back to back on one checkpoint into
  ``RedisLeaderboardSink`` + ``IdempotentParquetSink``.
- ``stream_window``: open loop, dense out-of-order event time with a late
  share; ``run_windowed`` HOP 10 min / 5 s, append mode, into
  ``IdempotentParquetSink``.

A separate generator process (gen.py) builds every input from ``--seed``
before the program starts and lands the files on schedule. After a fixed
number of warm-up passes the timed window runs for ``--seconds``; every
output is then checked against DuckDB (oracle.py). The last stdout line is
the JSON result; with ``--trace 0`` it holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (spans.py). The line
before it holds per-run detail (sample counts, first/second half medians).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from flink_engagement_pipeline_spark.session import get_spark  # noqa: E402
from flink_engagement_pipeline_spark.streaming.pipeline import (  # noqa: E402
    run_enriched_fanout,
    run_windowed,
)
from flink_engagement_pipeline_spark.streaming.sinks import (  # noqa: E402
    IdempotentParquetSink,
    RedisLeaderboardSink,
)

import oracle  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from spans import ProgressRecorder, StageMeter, TracedSink, Tracer  # noqa: E402

# Warm-up passes, fixed so set-up does the same work on every run and long
# enough that the timed window's second half is no faster than its first:
# pass times keep falling for 20-30 passes while the JIT compiles the
# driver's planning path (README.md).
WARMUP_PASSES = {"stream_fanout": 25, "stream_window": 15}
# Schedule the generator pre-builds: set-up plus the window, with margin.
HORIZON_S = 60
DRIVER_MEM = "4g"


def percentile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def vm_mb(pid: int | str, field: str = "VmHWM") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for {pid}")


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.work = workload, seed, seconds, work
        self.src = os.path.join(work, "src")
        self.ckpt = os.path.join(work, "ckpt")
        self.out = os.path.join(work, "out")
        self.tracer = Tracer() if trace else None
        self.offsets: dict[int, int] = {}  # micro-batch id -> source log offset
        self.gen = None
        self.spark = None

    # -- generator --------------------------------------------------------
    def start_generator(self) -> None:
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.workload,
             "--seed", str(self.seed), "--root", self.work,
             "--horizon", str(HORIZON_S + self.seconds)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.gen.stdout.readline().split()
        if not line or line[0] != "ready":
            raise RuntimeError("load generator failed to start")
        self.n_scheduled = int(line[1])

    def command(self, line: str) -> None:
        self.gen.stdin.write(line + "\n")
        self.gen.stdin.flush()

    def prime(self) -> None:
        self.command("prime")
        if self.gen.stdout.readline().strip() != "primed":
            raise RuntimeError("load generator failed to prime the source")

    def stop_generator(self) -> list:
        self.command("stop")
        landed = json.loads(self.gen.stdout.readline())["landed"]
        self.gen.wait(timeout=30)
        if len(landed) == self.n_scheduled - 1:
            raise RuntimeError("generator schedule ran out before the window ended")
        return landed

    # -- program ----------------------------------------------------------
    def span(self, name: str, op: int | None = None):
        return nullcontext() if self.tracer is None else self.tracer.span(name, op)

    def start_program(self) -> None:
        with self.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={self.work}/tmp -XX:+PerfDisableSharedMem"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        parquet = IdempotentParquetSink(self.out)
        if self.workload == "stream_fanout":
            self.leaderboard = RedisLeaderboardSink()
            # parquet last: its _COMMITTED marker is the batch's final commit
            self.sinks = {"leaderboard": self.leaderboard, "parquet": parquet}
        else:
            self.sinks = {"parquet": parquet}
        if self.tracer is not None:
            self.sinks = {k: TracedSink(s, k, self.tracer) for k, s in self.sinks.items()}
            self.recorder = ProgressRecorder()
            self.spark.streams.addListener(self.recorder)
            self.meter = StageMeter(self.spark)

    def one_pass(self, i: int) -> tuple[float, float, dict | None]:
        t = time.time()
        if self.workload == "stream_fanout":
            with self.span("pipeline.run_enriched_fanout", i):
                run_enriched_fanout(self.spark, self.src, self.work + "/dim", self.sinks, self.ckpt)
        else:
            with self.span("pipeline.run_windowed", i):
                run_windowed(
                    self.spark, self.src, self.sinks["parquet"], self.ckpt,
                    size=f"{oracle.HOP_SIZE_S} seconds", slide=f"{oracle.HOP_SLIDE_S} seconds",
                )
        end = time.time()
        oracle.source_offsets(self.ckpt, self.offsets)
        return t, end, (self.meter.read() if self.tracer is not None else None)

    def stop_program(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)
        self.spark = None

    # -- the run ----------------------------------------------------------
    def execute(self) -> dict:
        self.start_generator()
        t_prog = time.perf_counter()
        self.start_program()
        self.prime()
        self.one_pass(0)  # cold: class loading, first planning and codegen
        self.command(f"go {time.time()}")
        for i in range(1, WARMUP_PASSES[self.workload]):
            self.one_pass(i)
        t_start = time.time()
        setup_s = time.perf_counter() - t_prog
        cpu0 = cpu_times()
        t_end = t_start + self.seconds
        passes = []
        while True:
            passes.append(self.one_pass(len(passes) + WARMUP_PASSES[self.workload]))
            if passes[-1][0] >= t_end:
                break
        rss = vm_mb(self.jvm.pid) + vm_mb("self")
        retained = self.retained_mb()
        delta = [b - a for a, b in zip(cpu0, cpu_times())]
        self.steal_share = delta[7] / sum(delta)
        landed = self.stop_generator()
        return self.measure(t_start, t_end, setup_s, rss, retained, landed, passes)

    def retained_mb(self) -> float:
        """Memory the program still holds after the window: JVM heap live
        after a full GC, plus JVM non-heap, plus the driver Python RSS."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        return used / 2**20 + vm_mb("self", "VmRSS")

    def commit_time(self, batch: int) -> float:
        return os.path.getmtime(os.path.join(self.out, f"batch_id={batch}", "_COMMITTED"))

    def measure(self, t_start, t_end, setup_s, rss, retained, landed, passes) -> dict:
        batches = self.batches = oracle.file_batches(self.ckpt, self.offsets)
        samples = [
            (due, self.commit_time(batches[name]) - due)
            for name, due, _ in landed
            if t_start <= due < t_end
        ]
        lat = [x for _, x in samples]
        if len(lat) < 100:
            raise RuntimeError(f"only {len(lat)} latency samples; p90 needs 100")
        mid = t_start + self.seconds / 2
        halves = [
            statistics.median(x for due, x in samples if due < mid),
            statistics.median(x for due, x in samples if due >= mid),
        ]
        # Committed rate between the first and the last batch commit inside
        # the window: the offered rate while the loop keeps up, lower as
        # soon as it falls behind.
        rows = {}
        for name, b in batches.items():
            rows[b] = rows.get(b, 0) + pq.read_metadata(os.path.join(self.src, name)).num_rows
        done = sorted(
            (c, rows.get(b, 0))
            for b in self.offsets
            if t_start <= (c := self.commit_time(b)) <= t_end
        )
        throughput = sum(n for _, n in done[1:]) / (done[-1][0] - done[0][0])
        e2e = {
            "setup_s": (setup_s, "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_p90_s": (percentile(lat, 90), "s"),
            "throughput_per_s": (throughput, "1/s"),
            "retained_mb": (retained, "MB"),
        }
        first = [e - s for s, e, _ in passes if s < mid]
        second = [e - s for s, e, _ in passes if s >= mid]
        detail = {
            "workload": self.workload, "seed": self.seed, "samples": len(lat),
            "beyond_p90": sum(x > e2e["latency_p90_s"][0] for x in lat),
            "latency_p50_halves_s": halves,
            "cycle_s_halves": [statistics.median(first), statistics.median(second)],
            "passes": len(passes),
            "peak_rss_mb": rss,
            "host_steal_share": self.steal_share,
        }
        layers = None
        if self.tracer is not None:
            layers = self.layers(t_start, passes, landed, batches, e2e, rss)
            os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
            self.tracer.write(os.path.join(
                ROOT, ".perfbench", "spans", f"{self.workload}-seed{self.seed}.json"))
        return {"e2e": e2e, "layers": layers, "detail": detail}

    def layers(self, t_start, passes, landed, batches, e2e, rss) -> dict:
        self.recorder.wait_for(max(self.offsets) + 1)
        t_last = passes[-1][1]
        prog = [b for b in self.recorder.batches if t_start <= b["start"] <= t_last]
        data = [b for b in prog if b["rows"] > 0]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        # mean, not median: Spark reports whole milliseconds
        phase = lambda k: statistics.fmean(b["ms"].get(k, 0) / 1e3 for b in data)  # noqa: E731
        overhead = [
            (e - s) - sum(b["ms"]["triggerExecution"] for b in prog if s <= b["start"] <= e) / 1e3
            for s, e, _ in passes
        ]
        files_per = {}
        for name, b in batches.items():
            files_per[b] = files_per.get(b, 0) + 1
        commit = {b: self.commit_time(b) for b in set(batches.values())}
        backlog = [
            sum(1 for name, _, land in landed
                if land <= s and (name not in batches or commit[batches[name]] > s))
            for s, _, _ in passes
        ]
        writes = {}
        for sp in self.tracer.spans:
            if sp["name"].startswith("sink.") and sp["start"] >= t_start:
                writes.setdefault(sp["op"], {})[sp["name"]] = sp["end"] - sp["start"]
        reads = [r for _, _, r in passes]
        per_pass = lambda k: sum(r[k] for r in reads) / len(reads)  # noqa: E731
        session = next(s for s in self.tracer.spans if s["name"] == "session.get_spark")
        window_files = [(due, land) for _, due, land in landed if t_start <= due < t_start + self.seconds]
        m = {
            "session.start_s": (session["end"] - session["start"], "s"),
            "pipeline.cycle_s": (med([e - s for s, e, _ in passes]), "s"),
            "pipeline.start_overhead_s": (med(overhead), "s"),
            "pipeline.planning_s": (phase("queryPlanning"), "s"),
            "pipeline.wal_commit_s": (phase("walCommit"), "s"),
            "pipeline.offset_commit_s": (phase("commitOffsets"), "s"),
            "pipeline.add_batch_s": (phase("addBatch"), "s"),
            "spark.jobs_per_batch": (sum(r["jobs"] for r in reads) / max(len(data), 1), "count"),
            "sources.list_s": (phase("latestOffset"), "s"),
            "sources.files_per_batch": (med([files_per.get(b["batch_id"], 0) for b in data]), "count"),
            "sources.backlog_files_max": (max(backlog), "count"),
            "sinks.write_s": (med([sum(w.values()) for w in writes.values()]), "s"),
            "sinks.parquet.write_s": (med([w.get("sink.parquet.write_batch", 0) for w in writes.values()]), "s"),
            "sinks.redelivered_skips": (sum(s.redelivered for s in self.sinks.values()), "count"),
            "state.rows": (max((b["state_rows"] for b in prog), default=0), "count"),
            "state.memory_mb": (max((b["state_mb"] for b in prog), default=0.0), "MB"),
            "state.rows_updated": (sum(b["state_updated"] for b in prog), "count"),
            "state.rows_removed": (sum(b["state_removed"] for b in prog), "count"),
            "state.rows_dropped_by_watermark": (sum(b["state_dropped"] for b in prog), "count"),
            "spark.tasks": (per_pass("tasks"), "count"),
            "spark.shuffle_write_mb": (per_pass("shuffle_mb"), "MB"),
            "spark.spill_mb": (per_pass("spill_mb"), "MB"),
            "spark.executor_run_s": (per_pass("run_s"), "s"),
            "spark.executor_cpu_s": (per_pass("cpu_s"), "s"),
            "spark.jvm_gc_s": (per_pass("gc_s"), "s"),
            "spark.storage_blocks": (max(r["storage_blocks"] for r in reads), "count"),
            "generator.lag_s": (max(land - due for due, land in window_files), "s"),
        }
        m["process.peak_rss_mb"] = (rss, "MB")
        for k, v in e2e.items():
            m[f"trace.{k}"] = v
        return m

    def check(self) -> tuple[int, int]:
        if self.workload == "stream_fanout":
            bad, n = oracle.check_fanout(self.work, self.batches, self.out, self.leaderboard.scores)
        else:
            bad, n = oracle.check_window(self.work, self.ckpt, self.batches, self.out)
        return n, len(bad)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    try:
        res = run.execute()
        run.stop_program()
        attempted, failed = run.check()
    finally:
        run.stop_program()
        if run.gen is not None and run.gen.poll() is None:
            run.gen.kill()
            run.gen.wait()
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["layers"] if a.trace else res["e2e"]
    print(json.dumps(res["detail"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
