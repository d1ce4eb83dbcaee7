"""Near-dup flood guard A/B: adversarial corpus vs `bucket_cap`.

The driver's synthetic documents draw words from a 31-word vocabulary, so
the typical pairwise character-3-gram Jaccard between UNRELATED documents
is ~0.43 (p90 0.58). On such a corpus a threshold-0.6 MinHash near-dup
query has a quadratically-sized true answer: at sf1 (50k docs) the r6 sf1
sweep's first attempt sat 30+ minutes inside one banded self-join stage
(~10^8 candidate pairs, two straggler tasks holding the hot buckets) —
exactly the duplicate-flood regime web crawls produce, and exactly what
`minhash_lsh_candidates(bucket_cap=...)` exists for.

This script measures that regime head-on, strictly sequentially:

  1. build adversarial word-salad corpora (31-word vocab) at three sizes,
  2. count LSH candidate pairs WITHOUT the cap (growth exponent ≈ 2),
  3. same sizes WITH bucket_cap — candidates stay ~linear and the full
     verify pipeline completes,

and writes BENCH/flood_guard_ab.json with walls, counts, and the fitted
growth exponents. Run alone (no concurrent Spark — shared box).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "BENCH", "flood_guard_ab.json")

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

SIZES = (2000, 4000, 8000)
CAP = 64
N_HASHES = 16
BANDS = 4
THRESHOLD = 0.6


def make_corpus(n_docs: int, seed: int = 99):
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 100, n_docs)
    rows = []
    for i in range(n_docs):
        w = rng.integers(0, len(VOCAB), lens[i])
        rows.append((i, " ".join(VOCAB[j] for j in w)))
    return rows


def fit_exponent(xs, ys):
    """log-log least-squares slope of ys vs xs."""
    lx = [math.log(x) for x in xs]
    ly = [math.log(max(y, 1)) for y in ys]
    n = len(xs)
    mx, my = sum(lx) / n, sum(ly) / n
    num = sum((a - mx) * (b - my) for a, b in zip(lx, ly))
    den = sum((a - mx) ** 2 for a in lx)
    return num / den


def main():
    from dsm2dtm_spark.operators.dedup import minhash_near_dups, minhash_signatures
    from dsm2dtm_spark.operators.dedup import minhash_lsh_candidates
    from dsm2dtm_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("flood-guard-ab", cores=cores)

    results = {"cores": cores, "cap": CAP, "sizes": list(SIZES), "nocap": {}, "cap_runs": {}}
    for n in SIZES:
        df = spark.createDataFrame(make_corpus(n), ["doc_id", "text"]).repartition(cores)
        df = df.localCheckpoint()  # corpus build off the clock
        sig = minhash_signatures(df, n_hashes=N_HASHES)

        t0 = time.time()
        c_nocap = minhash_lsh_candidates(sig, bands=BANDS).count()
        w_nocap = round(time.time() - t0, 2)

        t0 = time.time()
        c_cap = minhash_lsh_candidates(sig, bands=BANDS, bucket_cap=CAP).count()
        w_cap = round(time.time() - t0, 2)

        t0 = time.time()
        n_verified = minhash_near_dups(
            df, threshold=THRESHOLD, n_hashes=N_HASHES, bands=BANDS, bucket_cap=CAP
        ).count()
        w_e2e = round(time.time() - t0, 2)

        results["nocap"][n] = {"candidates": c_nocap, "wall_sec": w_nocap}
        results["cap_runs"][n] = {
            "candidates": c_cap,
            "wall_sec": w_cap,
            "verified_pairs": n_verified,
            "e2e_wall_sec": w_e2e,
        }
        print(
            f"n={n}: nocap {c_nocap} cands in {w_nocap}s | cap={CAP} {c_cap} cands "
            f"in {w_cap}s, e2e {n_verified} pairs in {w_e2e}s",
            flush=True,
        )

    results["nocap_growth_exponent"] = round(
        fit_exponent(SIZES, [results["nocap"][n]["candidates"] for n in SIZES]), 3
    )
    results["cap_growth_exponent"] = round(
        fit_exponent(SIZES, [results["cap_runs"][n]["candidates"] for n in SIZES]), 3
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nnocap exponent {results['nocap_growth_exponent']} vs "
          f"cap exponent {results['cap_growth_exponent']} -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
