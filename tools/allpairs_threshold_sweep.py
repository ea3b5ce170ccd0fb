"""AllPairs threshold-sensitivity sweep on the Zipf corpus (round-8 task).

The round-7 Zipf probe measured one threshold (t = 1/2) and found realized
candidates ~N^1.6 with a sub-linear budget-guard estimate.  The prefix
length — hence the candidate count — depends sharply on the cosine cutoff
(a doc's prefix is the rarest-first run whose suffix still carries > t of
its norm), so the guard's advice ("lower the threshold → switch to LSH")
needs the measured curve, not one point.

This sweep runs ``docs_allpairs_cosine`` at t ∈ {0.5, 0.7, 0.8, 0.9} on the
x1/x3/x10 Zipf corpora and records, per threshold: the budget-guard
candidate estimate, realized distinct candidates, output pairs, warm wall,
and the x1→x3→x10 log-log exponents of each.  Results merge into
``SCALE_PROBE_ZIPF.json`` under ``"thresholds"``.

Usage:
  for m in 1 3 10; do python tools/gen_scale_data.py --mult $m \
      --vocab zipf --docs-only --out /tmp/sg_zipf/x$m; done
  python tools/allpairs_threshold_sweep.py
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
#: cosine cutoffs as exact rationals (NUM, DEN) — the query's integer form
THRESHOLDS = [(1, 2), (7, 10), (4, 5), (9, 10)]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default="/tmp/sg_zipf")
    ap.add_argument("--out", default="SCALE_PROBE_ZIPF.json")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_ALLPAIRS_MAX_CAND", str(10**12))

    from pyspark.sql import functions as F

    from lets_talk_cdc_change_feed_playground_spark import get_spark
    from lets_talk_cdc_change_feed_playground_spark.functions import (
        pipeline_queries as P,
    )
    from lets_talk_cdc_change_feed_playground_spark.operators.shared import (
        clear_shared,
        memo,
        shared_df,
    )

    spark = get_spark("allpairs-threshold-sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    sweep: dict[str, dict] = {}
    for num, den in THRESHOLDS:
        t_label = f"t={num}/{den}"
        # the flagged frame's prefix marks and the estimate are keyed by
        # corpus only — flush the registry between thresholds
        P.ALLPAIRS_T_NUM, P.ALLPAIRS_T_DEN = num, den
        clear_shared()
        pts: dict[str, dict] = {}
        for label, mult in SCALES:
            sf_dir = os.path.join(args.root, label)
            if not os.path.isdir(sf_dir):
                print(f"# skip {label}: missing", file=sys.stderr)
                continue
            t0 = time.perf_counter()
            pairs = P.docs_allpairs_cosine(spark, sf_dir).count()
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            P.docs_allpairs_cosine(spark, sf_dir).count()
            warm = time.perf_counter() - t0

            def _missing():
                raise RuntimeError(f"docs_allpairs_cosine staged nothing for {sf_dir}")

            est = int(memo(spark, ("allpairs_est", sf_dir), _missing)[0])
            # realized distinct candidates from the cached flagged frame
            flagged = shared_df(spark, ("allpairs_flagged", sf_dir), _missing)
            full = flagged.select("doc_id", "shingle")
            pf = flagged.filter(F.col("in_prefix")).select("doc_id", "shingle")
            cand = (
                pf.alias("a")
                .join(full.alias("b"), "shingle")
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
                .unionByName(
                    full.alias("a")
                    .join(pf.alias("b"), "shingle")
                    .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                    .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
                )
                .distinct()
                .count()
            )
            pts[label] = {
                "mult": mult,
                "candidate_estimate": est,
                "candidates_distinct": cand,
                "pairs_out": pairs,
                "wall_sec": round(min(cold, warm), 2),
            }
            print(
                f"# {t_label} {label}: est={est:,} cand={cand:,} "
                f"pairs={pairs} warm={warm:.1f}s",
                file=sys.stderr,
                flush=True,
            )
        ordered = sorted(pts.values(), key=lambda e: e["mult"])
        entry: dict = dict(pts)
        for metric in ("candidate_estimate", "candidates_distinct", "wall_sec"):
            exps = []
            for a, b in zip(ordered, ordered[1:]):
                if a[metric] and b[metric]:
                    exps.append(
                        round(
                            math.log(b[metric] / a[metric])
                            / math.log(b["mult"] / a["mult"]),
                            2,
                        )
                    )
            entry[f"{metric}_exponents"] = exps
        sweep[t_label] = entry

    # restore the judged default before anything else touches the module
    P.ALLPAIRS_T_NUM, P.ALLPAIRS_T_DEN = 1, 2
    clear_shared()

    merged: dict = {}
    if os.path.isfile(args.out):
        with open(args.out) as f:
            merged = json.load(f)
    merged["thresholds"] = sweep
    with open(args.out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                t: {
                    k: v
                    for k, v in e.items()
                    if k.endswith("_exponents")
                }
                for t, e in sweep.items()
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
