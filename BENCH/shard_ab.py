#!/usr/bin/env python
"""Controlled A/B of doc-range group-eval sharding -> BENCH/SHARD_AB.json.

Same methodology as BENCH/TID_AB.json: the two variants (sharding off vs
auto) alternate back-to-back in ONE window against the SAME persisted
index, so one-sided host noise cancels out of the comparison even when the
absolute numbers drift between windows. Sharding only engages above one
core (auto sizes shard counts to defaultParallelism), so the cells are
local[4]; local[1] is a structural no-op (auto == off there by
construction).

Usage: python BENCH/shard_ab.py   (SHARD_AB_ROUNDS=4 by default)
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUNDS = int(os.environ.get("SHARD_AB_ROUNDS", "4"))
NQ = int(os.environ.get("SHARD_AB_NQ", "10"))
OUT = os.path.join(REPO, "BENCH", "SHARD_AB.json")

samples = {"off": [], "auto": []}
for r in range(ROUNDS):
    for variant in ("off", "auto"):
        env = dict(
            os.environ,
            SPARK_GRAFT_QW_WAND="auto",
            SPARK_GRAFT_QW_NQUERIES=str(NQ),
            SPARK_GRAFT_GROUP_EVAL_SHARDS=variant,
        )
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "scale_bench.py"), "--query-worker", "4"],
            capture_output=True, text=True, env=env, cwd=REPO,
        )
        if out.returncode != 0:
            print(out.stderr[-3000:], flush=True)
            raise SystemExit(f"worker failed: variant={variant}")
        rec = json.loads(out.stdout.strip().splitlines()[-1])
        samples[variant].append(rec["query_sec"])
        print(f"[round {r + 1}/{ROUNDS}] shards={variant}: "
              f"{rec['query_sec']:.2f}s {rec['driver']}", flush=True)

report = {
    "n_queries": NQ,
    "cpus": 4,
    "corpus": "800k docs / 200k-term realistic vocab (same as SCALING.json)",
    "note": os.environ.get(
        "SHARD_AB_NOTE",
        "doc-range sharding A/B, variants alternated back-to-back in one window",
    ),
    "samples_sec": samples,
    "min_sec": {k: round(min(v), 3) for k, v in samples.items()},
    "speedup_auto_over_off": round(min(samples["off"]) / min(samples["auto"]), 3),
}
with open(OUT, "w") as f:
    json.dump(report, f, indent=1)
print(json.dumps(report["min_sec"]), report["speedup_auto_over_off"], flush=True)
