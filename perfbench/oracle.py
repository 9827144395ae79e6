"""DuckDB output checks, run after the timed window.

Each check reads only the files the generator landed, the sink output the
program committed, and Spark's checkpoint logs, and returns the set of
micro-batch ids whose output disagrees with the oracle (plus -1 for a
mismatch that belongs to no single batch).
"""

from __future__ import annotations

import glob
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb

WATERMARK_MS = 60_000  # pipeline.DEFAULT_WATERMARK
HOP_SIZE_S, HOP_SLIDE_S = 60, 5  # run_windowed size and slide
HOP_SIZE_US, HOP_SLIDE_US = HOP_SIZE_S * 10**6, HOP_SLIDE_S * 10**6


def source_offsets(checkpoint: str, known: dict[int, int]) -> dict[int, int]:
    """Add to ``known`` (micro-batch id -> file-source log offset) every
    batch in the offset log (line 3 of ``offsets/N``). Spark keeps only
    the newest offset files, so callers read this after every pass."""
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit() and int(name) not in known:
            with open(path) as fh:
                lines = fh.read().splitlines()
            known[int(name)] = int(json.loads(lines[2])["logOffset"])
    return known


def file_batches(checkpoint: str, offsets: dict[int, int]) -> dict[str, int]:
    """File name -> micro-batch id. The file source's metadata log (plain
    ``N`` and ``N.compact`` files, one JSON entry a line) gives each file's
    source log offset; the first micro-batch that reached that offset read
    it (later batches at the same offset are no-data batches)."""
    first = {}
    for b in sorted(offsets, reverse=True):
        first[offsets[b]] = b
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = first[int(entry["batchId"])]
    return out


def batch_watermarks(checkpoint: str) -> dict[int, int]:
    """Micro-batch id -> the watermark (ms) Spark ran it with, from the
    offset files still kept (line 2 of each ``offsets/N`` file)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as fh:
                meta = json.loads(fh.read().splitlines()[1])
            out[int(name)] = int(meta["batchWatermarkMs"])
    return out


def committed_glob(out_dir: str) -> list[str]:
    return sorted(
        os.path.join(d, "*.parquet")
        for d in glob.glob(os.path.join(out_dir, "batch_id=*"))
        if os.path.exists(os.path.join(d, "_COMMITTED"))
        and glob.glob(os.path.join(d, "*.parquet"))
    )


def _connect(root: str, batches: dict[str, int]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(root, 'tmp')}'")
    con.execute("CREATE TABLE fb(fname VARCHAR, batch_id BIGINT)")
    con.executemany("INSERT INTO fb VALUES (?, ?)", list(batches.items()))
    src = os.path.join(root, "src", "*.parquet")
    con.execute(
        f"""CREATE VIEW events AS
        SELECT e.* EXCLUDE (filename), fb.batch_id
        FROM read_parquet('{src}', filename=true) e
        JOIN fb ON fb.fname = regexp_extract(e.filename, '[^/]*$')"""
    )
    return con


def _read_sink(con, name: str, out_dir: str) -> None:
    files = committed_glob(out_dir)
    if not files:
        raise RuntimeError(f"no committed output under {out_dir}")
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM read_parquet({files!r}, hive_partitioning=true)"
    )


def engagement_pct(value: float | None, acctbal: float | None) -> float | None:
    """ROUND(value / acctbal, 4) for acctbal > 0, else NULL, rounding half up
    the shortest decimal form of the quotient, as the JVM's
    ``BigDecimal.valueOf(double).setScale`` does. DuckDB's ROUND on DOUBLE
    rounds ``x * 10^4`` instead and differs on quotients like 466.63124999999997."""
    if value is None or acctbal is None or acctbal <= 0:
        return None
    return float(Decimal(repr(value / acctbal)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def check_fanout(root: str, batches: dict[str, int], out_dir: str, scores: dict) -> tuple[set, int]:
    """Enriched rows = enrichment of each landed key's latest version;
    leaderboard = per-user sums of the same rows. Returns (bad batches, -1
    for the leaderboard; operations checked: batches plus the leaderboard)."""
    con = _connect(root, batches)
    dim = os.path.join(root, "dim", "customer.parquet")
    con.execute(
        f"""CREATE TABLE expected AS
        WITH latest AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_id
                    ORDER BY ts DESC, value DESC, event_type DESC,
                             user_id DESC, props DESC) AS rn
                FROM events)
            WHERE rn = 1)
        SELECT l.batch_id, l.event_id, l.user_id, l.event_type, l.ts, l.value,
               CAST(l.value AS DOUBLE) / 1000.0 AS engagement_seconds,
               c.c_name AS user_name, c.c_mktsegment AS user_segment,
               c.c_nationkey AS user_nationkey, c.c_acctbal AS user_acctbal
        FROM latest l LEFT JOIN '{dim}' c ON l.user_id = c.c_custkey"""
    )
    _read_sink(con, "actual", out_dir)
    cols = (
        "batch_id, event_id, user_id, event_type, ts, value, engagement_seconds, "
        "user_name, user_segment, user_nationkey, user_acctbal"
    )
    bad = {
        r[0]
        for r in con.execute(
            f"""(SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM actual)
            UNION ALL
            (SELECT {cols} FROM actual EXCEPT ALL SELECT {cols} FROM expected)"""
        ).fetchall()
    }
    for batch, value, acctbal, pct in con.execute(
        "SELECT batch_id, value, user_acctbal, engagement_pct FROM actual"
    ).fetchall():
        if pct != engagement_pct(value, acctbal):
            bad.add(batch)
    want = dict(
        con.execute(
            """SELECT user_id, sum(engagement_seconds) FROM expected
            WHERE user_id IS NOT NULL GROUP BY user_id"""
        ).fetchall()
    )
    if want.keys() != scores.keys() or any(
        abs(want[k] - scores[k]) > 1e-9 * max(1.0, abs(want[k])) for k in want
    ):
        bad.add(-1)
    n = con.execute("SELECT count(DISTINCT batch_id) FROM expected").fetchone()[0]
    return bad, n + 1  # the leaderboard is checked as one more operation


def check_window(
    root: str, checkpoint: str, batches: dict[str, int], out_dir: str
) -> tuple[set, int]:
    """Per-file watermark simulation of the HOP append-mode aggregation.

    The watermark of batch b is max(event time of batches < b) - 1 min,
    never moving back; it must equal the one in Spark's offset log. A
    (row, window) pair of batch b is dropped when window_end <= wm(b); a
    window is emitted, once, by the first batch whose watermark reaches its
    end. Returns (bad batches, batches checked)."""
    wms = batch_watermarks(checkpoint)
    con = _connect(root, batches)
    per_batch_max = dict(
        con.execute(
            "SELECT batch_id, max(epoch_ms(ts)) FROM events GROUP BY batch_id"
        ).fetchall()
    )
    # Spark keeps only the newest offset files, so simulate from batch 0.
    sim, wm, bad = {}, 0, set()
    for b in range(max(wms) + 1):
        sim[b] = wm
        if wms.get(b, wm) != wm:
            bad.add(b)
        if b in per_batch_max:
            wm = max(wm, per_batch_max[b] - WATERMARK_MS)
    con.execute("CREATE TABLE wm(batch_id BIGINT, wm_us BIGINT)")
    con.executemany("INSERT INTO wm VALUES (?, ?)", [(b, w * 1000) for b, w in sim.items()])
    con.execute(
        f"""CREATE TABLE pairs AS
        SELECT e.batch_id, e.user_id, e.value,
               epoch_us(e.ts) - epoch_us(e.ts) % {HOP_SLIDE_US} - k * {HOP_SLIDE_US} AS ws
        FROM events e, range(0, {HOP_SIZE_US // HOP_SLIDE_US}) t(k)"""
    )
    con.execute(
        f"""CREATE TABLE expected AS
        WITH kept AS (
            SELECT p.* FROM pairs p JOIN wm USING (batch_id)
            WHERE p.ws + {HOP_SIZE_US} > wm.wm_us),
        agg AS (
            SELECT ws, user_id,
                   CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS engagement_sum
            FROM kept GROUP BY ws, user_id),
        emit AS (SELECT wm_us, min(batch_id) AS batch_id FROM wm GROUP BY wm_us)
        SELECT e.batch_id, a.ws, a.ws + {HOP_SIZE_US} AS we, a.user_id, a.engagement_sum
        FROM agg a ASOF JOIN emit e ON a.ws + {HOP_SIZE_US} <= e.wm_us"""
    )
    _read_sink(con, "sink", out_dir)
    con.execute(
        """CREATE VIEW actual AS SELECT batch_id, epoch_us(window_start) AS ws,
        epoch_us(window_end) AS we, user_id, engagement_sum FROM sink"""
    )
    cols = "batch_id, ws, we, user_id, engagement_sum"
    bad |= {
        r[0]
        for r in con.execute(
            f"""(SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM actual)
            UNION ALL
            (SELECT {cols} FROM actual EXCEPT ALL SELECT {cols} FROM expected)"""
        ).fetchall()
    }
    return bad, len(sim)
