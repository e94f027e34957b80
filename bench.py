"""Benchmark harness (driver contract + SURVEY.md M6).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Headline set: the flagship GLRE KG pipeline (pages synthesized 1:1 from the
documents doc_ids — inference, linking, dedup) plus the heaviest relational
operators over the driver testdata. Every timing is action-to-completion
(noop sink), first a warmup query to amortize JVM/Arrow startup.

Usage: python bench.py [op ...]

Op-name arguments time any subset of registry ops instead of the headline
set (metric "subset_suite_sec"). Every run is labeled with
setJobDescription("<op> run <i>") so its jobs can be attributed, and a
per-op progress line goes to stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time


HEADLINE = [
    "glre_infer_triples",   # the flagship KG pipeline end-to-end
    "glre_extract_text",    # extraction invariant at scale
    "agg_groupby",
    "join_broadcast",
    "join_salted_skew",
    "win_rownum_topk",
    "win_session",
    "minhash_sig",
    "lsh_candidates",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "text_fingerprint",
    "simhash_dedup",
    "cc_label_prop",
    "mm_image_ahash",
    "kg_pagerank",          # graph analytics over the built KG (§2.14)
    "domain_stats",         # per-domain corpus accounting (r6)
    "q3_shipping_priority", # composed relational path (broadcast + top-k)
    "filter_gopher_rules",  # per-row quality gate (zero-shuffle map)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from glre_spark.operators import REGISTRY, _ensure_loaded
    from glre_spark.session import get_spark

    _ensure_loaded()
    # AQE byte-based coalescing OFF, as in the scaling bench (rev 3). The
    # flagship's Python stage no longer depends on it: its url exchange is
    # a REPARTITION_BY_NUM sized by session.stage_width, which AQE never
    # coalesces. What the override still does is keep every other op's
    # shuffle exchanges at the static shuffle_partitions width instead of
    # letting AQE merge them by bytes; the headline timings were taken so.
    spark = get_spark(
        "glre_bench", cores=cores, shuffle_partitions=max(cores, 16),
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )

    # warmup: JVM + Arrow + Python workers, on the largest table the sf dir
    # ships (a subset run may point at a dir holding only some tables)
    tables = glob.glob(f"{sf_dir}/*.parquet")
    spark.read.parquet(max(tables, key=os.path.getsize)).count()

    names = sys.argv[1:] or HEADLINE
    # min of N runs per op: this sandbox VM bursts 3-10× slower under
    # hypervisor steal on identical warm runs; min is the least-contended
    # estimate.
    # min-of-3: this host's steal storms inflate single runs 3-30×
    # (measured: the same suite 24.2 s clean vs 63.4 s mid-storm)
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    for name in names:
        fn, _ = REGISTRY[name]
        best = None
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            # noop sink, NOT count(): count() lets Catalyst prune every
            # computed column of a pure projection (e.g. the whole MinHash
            # signature) and the timing measures an empty scan. The noop
            # sink consumes every column of every row.
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            w = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            best = w if best is None else min(best, w)
        timings[name] = round(best, 3)
        print(f"## {name:24s} {best:7.3f}s", file=sys.stderr, flush=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "subset_suite_sec" if sys.argv[1:] else "headline_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cores": cores,
            }
        )
    )


if __name__ == "__main__":
    main()
