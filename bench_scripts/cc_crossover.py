"""Connected-components physical-strategy crossover measurement.

Substantiates the two size gates in ``graph/cc.py`` with data rather
than assertion:

- ``LOCAL_CC_MAX_EDGES`` (1M): below it a single-task Arrow union-find
  replaces the distributed star loop — this script measures both paths
  on identical inputs across edge scales so the crossover is on record.
- ``ENCODE_MIN_EDGES`` (4M): above it string vertices are re-keyed to
  int64 for the loop — measured encoded vs unencoded at/above the gate.

Protocol mirrors bench_scripts/scaling.py: one fresh-JVM subprocess per
edge level (Spark masters/memory can't change in-process), ``repeats``
runs per mode in that JVM, MINIMUM wall as the noise-robust estimate
(sandbox contention only ever inflates). Graphs are deterministic
uniform random with string vertex keys ('w<id>'), generated
distributively (spark.range + xxhash64 — no driver data), |V| = |E|/3.
Every mode's label set is cross-checked by (count, bit_xor) sketch —
the modes must agree exactly, making this a correctness probe at sizes
the pytest suite doesn't reach.

Results append to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from cryptowalletcommunitydetection_spark import build_session
from cryptowalletcommunitydetection_spark.graph import cc

cpus, E, repeats = {cpus}, {E}, {repeats}
V = max(E // 3, 4)
spark = build_session(app_name=f"cc-crossover-{{E}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus)
edges = (spark.range(E)
         .select(F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(V))).alias("src"),
                 F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(V))).alias("dst"))
         .persist())
edges.count()

# (kwargs, re-keying gate): the distributed modes pin the key space by
# moving cc.ENCODE_MIN_EDGES out of reach or to 0
MODES = {{
    "local-uf": (dict(local=True), cc.ENCODE_MIN_EDGES),
    "dist-plain": (dict(local=False), 1 << 62),
    "dist-encoded": (dict(local=False), 0),
}}

out = {{"E_raw": E, "V": V, "cpus": cpus, "modes": {{}}}}
sketches = {{}}
for name, (kw, gate) in MODES.items():
    cc.ENCODE_MIN_EDGES = gate
    walls = []
    for _ in range(repeats):
        t0 = time.monotonic()
        labels = cc.connected_components(spark, edges, **kw)
        r = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("id", "component")).alias("h"),
        ).collect()[0]
        walls.append(time.monotonic() - t0)
        sketches[name] = (r["n"], r["h"])
        labels.unpersist()
    out["modes"][name] = {{
        "walls": [round(w, 2) for w in walls],
        "best_wall_sec": round(min(walls), 3),
    }}
assert len(set(sketches.values())) == 1, f"label sets diverge: {{sketches}}"
out["n_vertices_labeled"] = sketches["local-uf"][0]
out["labels_agree"] = True
print("RESULT " + json.dumps(out))
"""


def run_level(E: int, cpus: int, repeats: int) -> dict:
    code = CHILD.format(repo=REPO, cpus=cpus, E=E, repeats=repeats)
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"child E={E} failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--levels", default="30000,300000,1000000,4000000")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()

    rows = []
    for E in (int(x) for x in args.levels.split(",")):
        r = run_level(E, args.cpus, args.repeats)
        rows.append(r)
        print(json.dumps(r))

    lines = [
        "",
        "## CC physical-strategy crossover — local union-find vs distributed star loop"
        f" (local[{args.cpus}], fresh JVM per edge level, min of {args.repeats} repeats)",
        "",
        "Uniform random string-key graphs (|V| = |E|/3) generated distributively;",
        "wall = full `connected_components` call including seed dedup and label",
        "derivation. All three modes' label sets verified identical per level",
        "(count + bit_xor sketch). Gates under test: `LOCAL_CC_MAX_EDGES` = 1M",
        "(local kernel auto-selected at or below), `ENCODE_MIN_EDGES` = 4M",
        "(int64 re-keying auto-enabled above).",
        "",
        "| E raw | V | local-uf (s) | dist-plain (s) | dist-encoded (s) |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        m = r["modes"]
        lines.append(
            f"| {r['E_raw']:,} | {r['V']:,} "
            f"| {m['local-uf']['best_wall_sec']} {m['local-uf']['walls']} "
            f"| {m['dist-plain']['best_wall_sec']} {m['dist-plain']['walls']} "
            f"| {m['dist-encoded']['best_wall_sec']} {m['dist-encoded']['walls']} |"
        )
    with open(args.out, "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended to {args.out}")


if __name__ == "__main__":
    main()
