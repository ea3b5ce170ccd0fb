"""Scale probe for the shared streaming family passes (round-8 headline).

Round 8 replaced 21 per-query streaming runs with three shared passes (ops
fan-out, commit-gate fan-out, concurrent solos — ``streaming/
stream_queries.py``).  This probe measures the full family staging
(``warm_families``: chunk staging + every streaming pass + every sink) at
x1/x3/x10 event volume and fits log-log wall exponents — the claim under
test is that the pass cost is dominated by per-row work that scales
shuffle-linearly, with trigger/machinery cost amortizing as volume grows
(exponent < 1 means fixed micro-batch machinery still dominates at these
sizes; ~1 means row work has taken over; >1 would be a scale bug).

Uses the x3/x10 synthetic events from ``gen_scale_data.py`` (documents are
present too, so the docs/index solo members run at scale as well).  Writes
``SCALE_PROBE_STREAM_FAMILY.json``.

Usage:
  python tools/gen_scale_data.py --mult 3  --out /tmp/sg_scale/sf0.3
  python tools/gen_scale_data.py --mult 10 --out /tmp/sg_scale/sf1
  python tools/stream_family_probe.py
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = [("x1", 1.0, "/root/testdata/sf0.1"), ("x3", 3.0, "/tmp/sg_scale/sf0.3"), ("x10", 10.0, "/tmp/sg_scale/sf1")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="SCALE_PROBE_STREAM_FAMILY.json")
    args = ap.parse_args()

    from lets_talk_cdc_change_feed_playground_spark import get_spark
    from lets_talk_cdc_change_feed_playground_spark.streaming import (
        stream_queries as sq,
    )

    spark = get_spark("stream-family-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for label, mult, sf_dir in SCALES:
        if not os.path.isdir(sf_dir):
            print(f"# skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        per_fam: dict[str, float] = {}
        t_all = time.perf_counter()
        for fam in sq._FAMILY_RUNNERS:
            t0 = time.perf_counter()
            sq._family(spark, sf_dir, fam)
            per_fam[fam] = round(time.perf_counter() - t0, 2)
        wall = round(time.perf_counter() - t_all, 2)
        out[label] = {"mult": mult, "families_sec": per_fam, "wall_sec": wall}
        print(f"# {label}: {per_fam} total={wall}s", file=sys.stderr, flush=True)

    pts = sorted(out.values(), key=lambda e: e["mult"])
    exps = []
    for a, b in zip(pts, pts[1:]):
        exps.append(
            round(math.log(b["wall_sec"] / a["wall_sec"]) / math.log(b["mult"] / a["mult"]), 2)
        )
    out["wall_sec_exponents"] = exps
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
