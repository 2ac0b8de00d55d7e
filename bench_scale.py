"""One-off scale-growth bench: run the scale-critical queries at sf0.1
(driver parquet), sf0.3 and sf1 (tools/make_scale_data.py scale-ups of
the same data) and measure how warm plan time grows with data volume.

This is the empirical check behind every "scales linearly" note in
COVERAGE.md: for each query we fit the growth exponent
alpha = log(t_sf1 / t_sf0.1) / log(10) on warm times and flag anything
super-linear after overhead correction. Results: BENCH_SF1.json (machine)
+ SCALE.md (analysis; names each super-linear query and its fix).

Usage: python bench_scale.py          (~10 min on local[32])
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path

import pandas as pd  # noqa: F401  (module-global: pandas-UDF type hints)

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

# The scale-critical set (VERDICT r7 item 2): the dedup family, semantic
# dedup, ANN, retrieval scoring, corpus prep, the pretraining capstone,
# and the iterative closure.
SCALE_QUERIES = [
    "dedup_exact",
    "dedup_exact_bow",
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "dedup_minhash_clusters",
    "dedup_keep_best",
    "dedup_simhash",
    "dedup_winnow_pairs",
    "dedup_semdedup",
    "dedup_semdedup_cellstats",
    "ann_ivf_kmeans_topk",
    "ann_cosine_topk_exact",
    "text_bm25_topk",
    "text_pmi_bigrams",
    "corpus_global_shuffle",
    "pack_token_budget_shards",
    "pipeline_corpus_select",
    "pipeline_pretraining_data",
    "j9_transitive_closure",
    # widened in r8 after the first sweep: more documents/lineitem-bound
    # families (TF-IDF, quality classifier, substring spans, skew join,
    # triangle count, leakage-safe split, distributed percentiles)
    "text_tfidf_top_terms",
    "text_quality_classifier",
    "dedup_substring_spans",
    "j12_salted_skew_join",
    "graph_triangle_count",
    "split_cluster_safe",
    "profile_percentiles_distributed",
    # widened in r10 (VERDICT item 5): the documents-bound multimodal
    # decode queries scale with the table tiers and belong in this sweep
    # (the fixture-bound jpeg/video/audio family has its own genuinely
    # scaled binary tiers — tools/bench_scale_media.py); plus the
    # 12-branch ingestion pipeline, absent from every earlier sweep
    "mm_decode_png_roundtrip",
    "mm_decode_features",
    "mm_frame_sample",
    "pipeline_non_minc_insertion",
    # registered late-r10, first driver-checked in r11: measured at
    # registration time so the growth curve exists before their first
    # driver row
    "ann_sq8_recall",
    "corpus_ngram_novelty",
    # new in r11 (each also probed at registration: BENCH_SF1.json keys
    # bpe_vocab_probe / winnow_poly_probe; t16 rides the streaming sweep)
    "text_bpe_train_vocab",
    "dedup_winnow_pairs_poly",
]

SF_DIRS = [
    ("0.1", "/root/testdata/sf0.1"),
    ("0.3", str(Path(_REPO, ".scale", "sf0.3"))),
    ("1", str(Path(_REPO, ".scale", "sf1"))),
]


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from loris_mri_spark.session import get_spark

    spark = get_spark(
        app_name="loris-mri-spark-bench-scale",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from loris_mri_spark import workload
    from loris_mri_spark.catalog import TESTDATA_TABLES, load_table

    workload.load_all()

    # the raise-k remedy, measured: SemDeDup with k ~ sqrt(n) instead of
    # the oracle-pinned k=8 (2000 -> 45, 6000 -> 77, 20000 -> 141)
    from loris_mri_spark.workload.vectors import dedup_semdedup

    def semdedup_sqrtk(spark, sf_dir):  # noqa: ANN001
        import pyarrow.parquet as pq

        n = pq.read_metadata(
            os.path.join(sf_dir, "embeddings.parquet")
        ).num_rows
        return dedup_semdedup(
            spark, sf_dir, n_cells=int(math.sqrt(n)), use_arrow_trainer=True
        )

    only = set(sys.argv[1:])
    runners = {
        name: workload.QUERIES[name]
        for name in SCALE_QUERIES
        if not only or name in only
    }
    if not only or "dedup_semdedup_sqrtk" in only:
        runners["dedup_semdedup_sqrtk"] = semdedup_sqrtk

    results: dict[str, dict[str, float]] = {n: {} for n in runners}
    for sf_label, sf_dir in SF_DIRS:
        if not os.path.isdir(sf_dir):
            print(f"missing {sf_dir}; run tools/make_scale_data.py first",
                  file=sys.stderr)
            sys.exit(2)
        for t in TESTDATA_TABLES:
            if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
                load_table(spark, sf_dir, t).write.format("noop").mode(
                    "overwrite"
                ).save()
        for name, fn in runners.items():
            try:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                cold = time.perf_counter() - t0
                t1 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                warm = time.perf_counter() - t1
                results[name][sf_label] = round(warm, 3)
                results[name][f"cold_{sf_label}"] = round(cold, 3)
            except Exception as exc:  # noqa: BLE001
                print(f"scale-bench: {name}@sf{sf_label} failed: {exc!r}",
                      file=sys.stderr)
                results[name][sf_label] = -1.0
            print(
                f"sf{sf_label} {name}: "
                f"{results[name].get(sf_label)}s", flush=True
            )

    # growth fit: subtract a per-query overhead floor estimated from the
    # three points? Keep it simple and honest: report raw ratios AND the
    # exponent; small queries with big fixed overhead show alpha << 1.
    summary = {}
    for name, r in results.items():
        t01, t03, t1 = r.get("0.1", -1), r.get("0.3", -1), r.get("1", -1)
        if min(t01, t03, t1) <= 0:
            summary[name] = {"status": "failed", **r}
            continue
        alpha = math.log(t1 / t01) / math.log(10)
        summary[name] = {
            "warm_sf0_1_sec": t01,
            "warm_sf0_3_sec": t03,
            "warm_sf1_sec": t1,
            "ratio_10x_data": round(t1 / t01, 2),
            "growth_exponent": round(alpha, 3),
            "super_linear": bool(t1 / t01 > 13.0),
        }
    out = {
        "metric": "scale_growth",
        "data_ratios": [1, 3, 10],
        "queries": summary,
        "super_linear": sorted(
            n for n, s in summary.items() if s.get("super_linear")
        ),
    }
    # merge-preserve extension keys other tools own (sf3_extension,
    # sf10_extension, two_level_remedy, ...) — a refresh of the main
    # table must not destroy the rest of the record; and merge the main
    # `queries` table PER QUERY so a filtered re-run (argv names)
    # refreshes only its own rows instead of clobbering the full sweep
    path = Path(_REPO, "BENCH_SF1.json")
    if path.exists():
        prev = json.loads(path.read_text())
        merged_queries = dict(prev.get("queries", {}))
        merged_queries.update(out["queries"])
        out["queries"] = merged_queries
        out["super_linear"] = sorted(
            n for n, s in merged_queries.items() if s.get("super_linear")
        )
        prev.update(out)
        out = prev
    path.write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
