#!/usr/bin/env python3
"""Cross-check the pinned saturation outputs in perfbench/workloads.json.

The harness checks every saturation run against a plain-Scala oracle, and
runs at the pinned seed also against the pinned row count and hash. This
script recomputes those pinned values independently: it has the harness dump
the saturation input at the pinned seed to parquet, recomputes the query
result in DuckDB under the same final-watermark model the StreamingBench
oracles use (a result is emitted iff its window or auction closes at or
before the last event time minus the 2 s watermark delay), and hashes it the
way the harness does.

Usage, from the root of a checkout after one benchmark run has built it:

    python3 perfbench/oracle_check.py            # every workload
    python3 perfbench/oracle_check.py q5_bids    # one
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402  (the benchmark's own launcher: classpath and JVM flags)

SQL = {
    # q5HotAuctions: 5 s tumbling windows per auction
    "q5_bids": """
        WITH b AS (SELECT * FROM read_parquet('{d}/bids/*.parquet')),
        wm AS (SELECT MAX(timestamp) - 2000 AS w FROM b)
        SELECT (timestamp // 5000) * 5000 AS windowStartMs, auctionId,
               MAX(bid) AS maxPrice, COUNT(*) AS bidCount,
               MAX(timestamp) AS lastTimestamp,
               MAX(ingestionTimestamp) AS lastIngestionTimestamp
        FROM b GROUP BY 1, 2
        HAVING (timestamp // 5000) * 5000 + 5000 <= (SELECT w FROM wm)""",
    # qxWinningBidsTws: one timer per auction at its first event's end; it
    # fires once the watermark reaches it; the best of all buffered bids wins
    "qx_tws_rocksdb": """
        WITH b AS (SELECT * FROM read_parquet('{d}/bids/*.parquet')),
        a AS (SELECT * FROM read_parquet('{d}/auctions/*.parquet')),
        wm AS (SELECT GREATEST((SELECT MAX(timestamp) FROM b),
                               (SELECT MAX(timestamp) FROM a)) - 2000 AS w),
        e AS (SELECT auctionId, MIN("end") AS e FROM a GROUP BY 1),
        r AS (SELECT b.auctionId, b.personId AS bidderId, b.bid,
                     b.timestamp AS bidTimestamp,
                     ROW_NUMBER() OVER (PARTITION BY b.auctionId
                       ORDER BY b.bid DESC, b.timestamp DESC, b.personId) AS rn
              FROM b JOIN e USING (auctionId)
              WHERE e.e <= (SELECT w FROM wm))
        SELECT auctionId, bidderId, bid, bidTimestamp FROM r WHERE rn = 1""",
}


def canon(row):
    def one(v):
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)
    return "|".join(one(v) for v in row)


def fnv(s):
    h = 0xcbf29ce484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001b3) & 0xFFFFFFFFFFFFFFFF
    return h


def row_hash(rows):
    return sum(fnv(canon(r)) for r in rows) & 0xFFFFFFFFFFFFFFFF


def dump(cp, workload, seed, out):
    cmd = (["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{run.HEAP}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", cp, "graft.perfbench.DumpInputs", str(run.CONFIG), workload, str(seed), out])
    subprocess.run(cmd, check=True, cwd=ROOT, stdin=subprocess.DEVNULL)


def main():
    cp, _ = run.build()
    cfg = json.loads(run.CONFIG.read_text())["workloads"]
    ok = True
    for w in sys.argv[1:] or sorted(cfg):
        pin = cfg[w]["pinned"]
        with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
            dump(cp, w, pin["seed"], d)
            rows = duckdb.sql(SQL[w].format(d=d)).fetchall()
        h = row_hash(rows)
        same = len(rows) == pin["rows"] and h == int(pin["hash"], 16)
        ok &= same
        print(f"{w}: duckdb {len(rows)} rows hash {h:016x}; pinned {pin['rows']} rows "
              f"hash {int(pin['hash'], 16):016x} -> {'MATCH' if same else 'MISMATCH'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
