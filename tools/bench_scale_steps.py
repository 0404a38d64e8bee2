"""Scale-factor step-up for the dedup/ANN family: time-vs-size exponents.

The bucketing arguments behind the candidate-bounded pair operators
(MinHash-LSH band join, PPJoin prefix filter, connected components,
banded-LSH ANN, cosine near-dup blocking) are verified for CORRECTNESS at
sf0.01-0.1; this tool checks they also hold for COST: run each query at
1x / 3x / 10x the sf0.1 corpus and fit the empirical scaling exponent

    slope = log(t_hi / t_lo) / log(n_hi / n_lo)

A hidden all-pairs path shows up as slope ~= 2; a bucketed/linear-ish
pipeline stays <= ~1.3 (super-linear residue = shuffle + candidate
verification growth).

Scaled corpora are derived DETERMINISTICALLY from the driver's sf0.1
parquet (no external data): k replicas with offset ids, where replica
r > 0 suffixes every text token with "~r<r>" (token sets across replicas
are DISJOINT, so the duplicate/near-dup pair structure is exactly k
copies of the original — linear by construction, which is the point: a
correct engine must then scale ~linearly too) and cyclically shifts
embedding dimensions by r (distinct directions, same marginal
distribution). Usage:

    python tools/bench_scale_steps.py [runs_per_point]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from healthcare_data_harmonization_dataflow_spark.session import build_session  # noqa: E402

QUERIES = [
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "ann_lsh_topk",
    "dedup_embedding_cosine",
]
SCALES = [1, 3, 10]
_OFF = 1_000_000  # id offset per replica (>> any base id)


def _extra_queries():
    """Strategy-pinned variants, so a slope measures ONE algorithm.

    The registered dedup_ngram_jaccard picks its strategy from an estimate
    of the distinct token-set profiles, which crosses the profile->prefix
    boundary between x1 (5k profiles) and x3 (15k > NGRAM_PROFILE_CAP):
    the x1/x3 times then compare two different algorithms and the fitted
    exponent is meaningless (measured 2.5 s -> 457 s, a fake slope of
    ~4.7). Calling the prefix path at every point isolates the PPJoin
    path's own scaling.
    """
    from healthcare_data_harmonization_dataflow_spark.operators.dedup import (
        _ngram_jaccard_prefix,
    )

    def prefix_q(spark, d):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        return _ngram_jaccard_prefix(docs, 0.5, "doc_id")

    return {"dedup_ngram_jaccard_prefix": prefix_q}


def build_scaled(spark, base_dir: str, out_dir: str, k: int) -> None:
    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    embs = spark.read.parquet(os.path.join(base_dir, "embeddings.parquet"))
    dparts, eparts = [], []
    for r in range(k):
        if r == 0:
            dparts.append(docs)
            eparts.append(embs)
            continue
        dparts.append(
            docs.select(
                (F.col("doc_id") + r * _OFF).alias("doc_id"),
                # disjoint token sets across replicas: suffix every token
                F.regexp_replace("text", r"(\S+)", f"$1~r{r}").alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        eparts.append(
            embs.select(
                (F.col("vec_id") + r * _OFF).alias("vec_id"),
                # cyclic dimension shift: same marginals, distinct direction
                F.expr(
                    f"transform(embedding, (x, i) -> "
                    f"element_at(embedding, ((i + {r}) % size(embedding)) + 1))"
                ).alias("embedding"),
                "label",
            )
        )
    d = dparts[0]
    for p in dparts[1:]:
        d = d.unionByName(p)
    e = eparts[0]
    for p in eparts[1:]:
        e = e.unionByName(p)
    d.repartition(max(4, 4 * k)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    e.repartition(max(4, 2 * k)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # SCALE_QUERIES / SCALE_POINTS: comma-separated overrides so slow or
    # strategy-pinned queries can be swept separately at their own budget
    queries = [
        q
        for q in os.environ.get("SCALE_QUERIES", ",".join(QUERIES)).split(",")
        if q
    ]
    scales = [
        int(s)
        for s in os.environ.get(
            "SCALE_POINTS", ",".join(map(str, SCALES))
        ).split(",")
        if s
    ]
    qs = dict(entry.queries())
    qs.update(_extra_queries())
    # fail fast on a SCALE_QUERIES typo — BEFORE the JVM spin-up and the
    # expensive scaled-corpus build, not at qs[q] after the first scale
    # point already ran
    unknown = [q for q in queries if q not in qs]
    if unknown:
        raise SystemExit(
            f"unknown SCALE_QUERIES names: {unknown}; known: {sorted(qs)}"
        )
    spark = build_session(app_name="scale-steps", master=f"local[{cpus}]")
    root = tempfile.mkdtemp(prefix="scale_steps_")
    results: dict[str, dict[int, float]] = {q: {} for q in queries}
    try:
        for k in scales:
            d = os.path.join(root, f"x{k}")
            build_scaled(spark, base, d, k)
            if k == scales[0]:
                # JIT/codegen warmup: the first execution of each query in a
                # fresh JVM pays class-load + codegen compilation, which at
                # the x1 size rivals the query itself and corrupts the slope
                # (an unwarmed x1 can measure SLOWER than x3). One untimed
                # pass per query before any timing.
                for q in queries:
                    run_noop(qs[q](spark, d))
                    print(f"warmup {q} done", flush=True)
            for q in queries:
                best = math.inf
                for _ in range(runs):
                    t0 = time.time()
                    run_noop(qs[q](spark, d))
                    best = min(best, time.time() - t0)
                results[q][k] = round(best, 2)
                print(f"x{k} {q}: {results[q][k]}s", flush=True)
        out = {}
        for q in queries:
            t = results[q]
            # guard the fit: a sub-5ms low point rounds to 0.0s and a
            # single-point sweep has log(1)=0 — either would raise AFTER
            # the whole timed sweep and discard every measurement
            if len(scales) < 2 or t[scales[0]] <= 0 or t[scales[-1]] <= 0:
                slope = None
            else:
                slope = round(
                    math.log(t[scales[-1]] / t[scales[0]])
                    / math.log(scales[-1] / scales[0]),
                    2,
                )
            out[q] = {
                "sec": {f"x{k}": t[k] for k in scales},
                f"exponent_{scales[0]}_to_{scales[-1]}": slope,
            }
        print(json.dumps({"scale_steps": out, "base": base, "cpus": cpus}))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
