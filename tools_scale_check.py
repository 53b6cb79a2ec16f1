"""Empirical scale-linearity harness (r10 verdict item #3).

SCALE.md's 100 TB posture claims are plan-shape arguments (bucketed
not-all-pairs, bounded state, no driver collects); fixtures cap at
sf0.1, so the no-blowup claims had no measured curve behind them.  This
harness self-replicates the corpus tables (documents, embeddings) 4×
and 16× and times the four flagship pipelines at each scale, then fits
the log-log exponent time ∝ corpus^k:

    k ≤ ~1.2  → the operator's cost curve is (near-)linear in corpus
                size over the measured range — the no-blowup claim is
                certified empirically, not just by plan reading;
    k > 1.2   → diagnose (a quadratic pair-join, a state blowup...).

Replication preserves per-document workload and intra-corpus duplicate
structure without creating cross-replica near-duplicates (which would
measure an artifact — a corpus that is literally R copies of itself has
genuinely quadratic LSH-bucket pair growth):

- documents: every WORD gets a per-replica suffix (``$1_k``), so every
  shingle/MinHash band diverges across replicas while word counts,
  document lengths, and within-replica duplicate clusters stay intact;
  ids shift by k·10⁷.
- embeddings: vectors copy verbatim under shifted ids — ANN probe work
  scales with the corpus while the fixed query set (vec_id < 5) and
  seeded centroids/codebooks (smallest 16 ids = replica 0) stay pinned,
  exactly the growing-corpus / frozen-index shape.

Non-corpus tables symlink to the base fixture.  Timing = the bench.py
convention (query fn + noop sink, full execution, no collect), repeats
with the per-scale MIN reported (contention only ever inflates).

Usage: python tools_scale_check.py [--repeats 2] [--out SCALE_CHECK.json]
Run serially — never concurrent with bench.py or pytest: contention on
a shared host inflates a whole session's numbers 1.5-2.5×, and repeats
within one session cannot see it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import time

from my_cudf_spark.sources.tables import DEFAULT_SF_DIR

SCALES = [1, 4, 16]
QUERIES = [
    "pipeline_pretrain_bestfit",
    "stream_pretrain_replay",
    "dedup_minhash_lsh",
    "vec_topk_ivfpq",
    # r12 (r11 verdict item #7): the re-planned flagships whose 100 TB
    # posture was argued, not measured — fit their exponents too.
    # (graph_pagerank is lineitem-backed; this harness only replicates
    # the corpus tables, so it stays plan-argued.)
    "vec_pca_topr",
    "text_unigram_apply",
    "stream_ann_ivfpq_residual_replay",
    "stream_decontam_replay",
]
BASE = DEFAULT_SF_DIR
OUT_ROOT = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scale_corpora")
OTHER_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events",
]


def build_corpus(spark, scale: int) -> str:
    from pyspark.sql import functions as F

    d = os.path.join(OUT_ROOT, f"x{scale}")
    marker = os.path.join(d, "_BUILT")
    if os.path.exists(marker):
        return d
    os.makedirs(d, exist_ok=True)
    for t in OTHER_TABLES:
        link = os.path.join(d, f"{t}.parquet")
        if not os.path.lexists(link):
            os.symlink(os.path.join(BASE, f"{t}.parquet"), link)

    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    reps = [docs]
    for k in range(1, scale):
        reps.append(
            docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                # per-word replica suffix: shingles diverge across
                # replicas, word count / dup structure preserved
                F.regexp_replace("text", r"(\S+)", f"$1_{k}").alias("text"),
                "lang",
                "source",
            ).withColumn("n_chars", F.length("text").cast("long"))
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    ereps = [emb]
    for k in range(1, scale):
        ereps.append(
            emb.select(
                (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    eout = ereps[0]
    for r in ereps[1:]:
        eout = eout.unionByName(r)
    eout.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--out", default="SCALE_CHECK.json")
    args = ap.parse_args()

    from my_cudf_spark.queries import load_registry
    from my_cudf_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    dirs = {s: build_corpus(spark, s) for s in SCALES}

    # one warmup of every query at 1× (JIT/codegen/session caches)
    for q in QUERIES:
        registry[q].fn(spark, dirs[1]).write.format("noop").mode(
            "overwrite"
        ).save()

    results: dict[str, dict[int, list[float]]] = {q: {} for q in QUERIES}
    for s in SCALES:
        for q in QUERIES:
            times = []
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                registry[q].fn(spark, dirs[s]).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 3))
            results[q][s] = times
            print(f"x{s} {q}: {times}", flush=True)

    report = {"base": BASE, "scales": SCALES, "repeats": args.repeats,
              "times": {}, "exponent": {}}
    for q in QUERIES:
        mins = {s: min(results[q][s]) for s in SCALES}
        report["times"][q] = mins
        xs = [math.log(s) for s in SCALES]
        ys = [math.log(mins[s]) for s in SCALES]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        k = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        report["exponent"][q] = round(k, 3)
        print(f"{q}: times={mins} exponent={k:.3f}", flush=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report["exponent"]))
    spark.stop()


if __name__ == "__main__":
    main()
