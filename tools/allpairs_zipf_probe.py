"""AllPairs scaling probe on a REALISTIC (Zipf) vocabulary (round-7 task).

The round-6 probe measured the exact AllPairs join candidate-quadratic on
the generator's 31-word corpus — a vocabulary-degenerate case where every
shingle's document frequency scales with N by construction.  Real text has
heavy-tailed df (Zipf word ranks, Heaps-law vocabulary growth), which is
exactly the profile the Bayardo prefix filter exploits: the frequent head
carries negligible idf weight and stays in suffixes, so candidates track
the rare tail.  This probe measures, at x1/x3/x10 on Zipf corpora
(``gen_scale_data.py --vocab zipf``):

- the pre-join candidate ESTIMATE (Σ_s df_prefix(s)·df(s) — the budget
  guard's number),
- the realized DISTINCT candidate count,
- output pairs and warm wall seconds,

and fits log-log exponents between consecutive scales.  Writes
``SCALE_PROBE_ZIPF.json``.

Usage:
  for m in 1 3 10; do python tools/gen_scale_data.py --mult $m \
      --vocab zipf --docs-only --out /tmp/sg_zipf/x$m; done
  python tools/allpairs_zipf_probe.py
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = [("x1", 1.0), ("x3", 3.0), ("x10", 10.0)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default="/tmp/sg_zipf")
    ap.add_argument("--out", default="SCALE_PROBE_ZIPF.json")
    args = ap.parse_args()

    # the x10 Zipf estimate may exceed the local default budget — the probe's
    # whole point is to measure it, so raise the ceiling for this process
    os.environ.setdefault("SPARK_GRAFT_ALLPAIRS_MAX_CAND", str(10**12))

    from pyspark.sql import functions as F

    from lets_talk_cdc_change_feed_playground_spark import get_spark
    from lets_talk_cdc_change_feed_playground_spark.functions import (
        pipeline_queries as P,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
        memo,
        shared_df,
    )

    spark = get_spark("zipf-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for label, mult in SCALES:
        sf_dir = os.path.join(args.root, label)
        if not os.path.isdir(sf_dir):
            print(f"# skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        t0 = time.perf_counter()
        df = P.docs_allpairs_cosine(spark, sf_dir)
        pairs = df.count()
        cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        P.docs_allpairs_cosine(spark, sf_dir).count()
        warm = time.perf_counter() - t0

        def _missing():
            raise RuntimeError(
                f"docs_allpairs_cosine staged nothing for {sf_dir} — run the "
                "query standalone to see its failure"
            )

        # candidate estimate: the budget guard's aggregate, staged by the
        # query; realized distinct candidates reuse its flagged-shingle frame
        est = int(memo(spark, ("allpairs_est", sf_dir), _missing)[0])
        flagged = shared_df(spark, ("allpairs_flagged", sf_dir), _missing)
        full = flagged.select("doc_id", "shingle")
        pf = flagged.filter(F.col("in_prefix")).select("doc_id", "shingle")
        cand = (
            pf.alias("a")
            .join(full.alias("b"), "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .unionByName(
                full.alias("a")
                .join(pf.alias("b"), "shingle")
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
            )
            .distinct()
            .count()
        )
        out[label] = {
            "mult": mult,
            "candidate_estimate": est,
            "candidates_distinct": cand,
            "pairs_out": pairs,
            "wall_sec": round(min(cold, warm), 2),
            "cold_wall_sec": round(cold, 2),
        }
        print(f"# {label}: est={est:,} cand={cand:,} pairs={pairs} "
              f"warm={warm:.1f}s", file=sys.stderr, flush=True)

    pts = sorted(out.values(), key=lambda e: e["mult"])
    for metric in ("candidate_estimate", "candidates_distinct", "wall_sec"):
        exps = []
        for a, b in zip(pts, pts[1:]):
            if a[metric] and b[metric]:
                exps.append(
                    round(
                        math.log(b[metric] / a[metric]) / math.log(b["mult"] / a["mult"]), 2
                    )
                )
        out[f"{metric}_exponents"] = exps

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items() if k.endswith("_exponents")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
