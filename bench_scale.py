"""Scale-growth sweeps: run a sweep's queries at each of its data tiers and
measure how warm plan time grows with data volume.

This is the empirical check behind every "scales linearly" note in
COVERAGE.md and SCALE.md. Each entry of SWEEPS names its BENCH_SF1.json
key, its tiers (label, data ratio, directory), the fixture overrides a
tier directory is passed through (none for catalog tiers), and its
queries. Tiers come from tools/make_scale_data.py (catalog tiers) and
tools/make_scale_media.py (media and cloned-BIDS tiers); this script
never builds one, and exits 2 naming the generator when a tier is
missing.

One rule for every growth number:

- each query gets one cold run, then the median of 3 warm runs, each
  forced through the noop sink;
- the growth exponent is fit over the last decade of tiers, and a query
  whose warm time grows more than 13x over that 10x is `super_linear`;
- a fixture sweep records each tier's input bytes and whether they grew
  with the data ratio (`input_scaled`): an input that did not scale makes
  a flat curve meaningless;
- each query's record is merged into the sweep's key, so the rows and
  keys a run does not write stay untouched.

Usage: python bench_scale.py <sweep> [query ...]
(`queries` ~10 min on local[32]; `sf10_extension` ~45-70 min). The sf0.1
catalog is SPARK_GRAFT_SF_DIR, else `.scale/sf0.1`.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path
from typing import Callable, Mapping, NamedTuple

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

_SCALE = _REPO / ".scale"
# the sf0.1 catalog (SPARK_GRAFT_SF_DIR, as for bench.py; else the copy
# `tools/make_scale_data.py 1` writes): ratio 1 of the catalog tiers, and
# the table argument of the fixture sweeps (whose queries read the
# fixture trees)
TABLES_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(_SCALE / "sf0.1"))


class Tier(NamedTuple):
    label: str
    ratio: int  # data volume relative to the sweep family's 1x
    path: str


class Sweep(NamedTuple):
    key: str
    tiers: tuple[Tier, ...]
    queries: tuple[str, ...]
    # env override -> subdirectory of the tier it points at; empty for
    # catalog tiers, which are passed as the query's sf_dir instead
    fixtures: Mapping[str, str] = {}


def _catalog(*ratios: int) -> tuple[Tier, ...]:
    """Tiers at `ratios` x sf0.1 (tools/make_scale_data.py K writes sfK/10)."""
    return tuple(
        Tier("sf0.1", 1, TABLES_DIR) if k == 1
        else Tier(f"sf{k / 10:g}", k, str(_SCALE / f"sf{k / 10:g}"))
        for k in ratios
    )


_MEDIA = tuple(
    Tier(f"sf{k}", k, str(_SCALE / "media" / f"sf{k}")) for k in (1, 10, 100)
)
# 1x is the committed fixtures; tools/make_scale_media.py clones the
# BIDS trees under fresh subject ids into .scale/bids_Kx/{bids_eeg,bids_mri}
_BIDS = (Tier("1x", 1, str(_REPO / "tests" / "fixtures")),) + tuple(
    Tier(f"{k}x", k, str(_SCALE / f"bids_{k}x")) for k in (10, 100)
)
_EEG = {"LORIS_BIDS_EEG_FIXTURES": "bids_eeg"}
_MRI = {"LORIS_MRI_BIDS_FIXTURES": "bids_mri"}

# The scale-critical set (VERDICT r7 item 2): the dedup family, semantic
# dedup, ANN, retrieval scoring, corpus prep, the pretraining capstone,
# and the iterative closure.
SCALE_QUERIES = (
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
    # widened in r10: the documents-bound multimodal decode queries scale
    # with the table tiers (the fixture-bound jpeg/video/audio family has
    # its own scaled binary tiers, `media_extension`); plus the 12-branch
    # ingestion pipeline
    "mm_decode_png_roundtrip",
    "mm_decode_features",
    "mm_frame_sample",
    "pipeline_non_minc_insertion",
    # registered late-r10 / r11: measured at registration time so the
    # growth curve exists before their first bench.py row
    "ann_sq8_recall",
    "corpus_ngram_novelty",
    "text_bpe_train_vocab",
    "dedup_winnow_pairs_poly",
)

# The 10x -> 100x decade, where fixed overhead has amortized away.
# SemDeDup runs only in its corpus-scale configuration (k ~ sqrt(n)): the
# oracle-pinned k=8 exists for golden-oracle bit-parity, and its per-cell
# n^2/k^2 matrices are what the cellstats guard excludes at scale.
SF10_QUERIES = (
    "dedup_exact",
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "dedup_winnow_pairs",
    "dedup_simhash",
    "ann_ivf_kmeans_topk",
    "ann_cosine_topk_exact",
    "text_bm25_topk",
    "text_quality_classifier",
    "corpus_global_shuffle",
    "pipeline_corpus_select",
    "pipeline_pretraining_data",
    "split_cluster_safe",
    "graph_triangle_count",
    "j9_transitive_closure",
    "dedup_semdedup_sqrtk",
    "dedup_semdedup_sqrtk_twolevel",
)

# Stateful streams must grow with events, not with state replay. t3 is
# measured through its registered disk-sink twin: the memory sink holds
# the whole dedup output in the one local JVM heap, an OOM of the harness
# at 100x rather than of the operator.
STREAMING_QUERIES = (
    "t3c_stream_dedup_disk_sink",
    "t15_stream_corpus_gate_dedup",
    "t16_stream_near_dedup",
    "t5_tumbling_window_agg",
    "t6_stateful_running_index",
    "t7_stream_stream_join",
    "t8_incremental_store_dedup",
    "t13_stream_custom_sink",
    "eav_pivot_user_event_matrix",
)

MEDIA_QUERIES = (
    "mm_decode_jpeg_baseline",
    "mm_decode_jpeg_color",
    "mm_video_mjpeg_frames",
    "mm_audio_wav_meta",
    "mm_audio_features",
)

SWEEPS = (
    Sweep("queries", _catalog(1, 3, 10),
          SCALE_QUERIES + ("dedup_semdedup_sqrtk",)),
    Sweep("sf10_extension", _catalog(10, 30, 100), SF10_QUERIES),
    Sweep("streaming_eav_extension", _catalog(10, 100), STREAMING_QUERIES),
    Sweep("media_extension", _MEDIA, MEDIA_QUERIES, {"LORIS_MM_FIXTURES": ""}),
    Sweep("eeg_bids_probe", _BIDS, ("pipeline_eeg_bids_ingest",), _EEG),
    Sweep("mri_bids_probe", _BIDS, ("pipeline_mri_bids_import",), _MRI),
    Sweep("bids_dataset_probe", _BIDS, ("pipeline_bids_dataset_import",),
          {**_EEG, **_MRI}),
    Sweep("bpe_tokenize_probe", _catalog(10, 100),
          ("text_bpe_tokenize_corpus",)),
    Sweep("bpe_vocab_probe", _catalog(10, 100),
          ("text_bpe_train_merges", "text_bpe_train_vocab")),
)


def _sqrt_cells(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    return int(math.sqrt(pq.read_metadata(path).num_rows))


def dedup_semdedup_sqrtk(spark, sf_dir: str):  # noqa: ANN001, ANN201
    """SemDeDup with k ~ sqrt(n) cells and the Arrow trainer: the raise-k
    remedy for the oracle-pinned k=8 (2000 -> 44, 20000 -> 141 cells)."""
    from loris_mri_spark.workload.vectors import dedup_semdedup

    return dedup_semdedup(
        spark, sf_dir, n_cells=_sqrt_cells(sf_dir), use_arrow_trainer=True
    )


def dedup_semdedup_sqrtk_twolevel(spark, sf_dir: str):  # noqa: ANN001, ANN201
    """dedup_semdedup_sqrtk over the two-level trained quantizer."""
    from loris_mri_spark.workload.vectors import dedup_semdedup

    return dedup_semdedup(
        spark, sf_dir, n_cells=_sqrt_cells(sf_dir), two_level=True
    )


# The sweep entries that are not registered queries.
RUNNERS: dict[str, Callable] = {
    f.__name__: f for f in (dedup_semdedup_sqrtk, dedup_semdedup_sqrtk_twolevel)
}


def _input_dirs(sweep: Sweep, tier: Tier) -> dict[str, str]:
    """The directory each fixture override points at for `tier`; for a
    catalog sweep, the tier itself (keyed by "")."""
    return {
        var: os.path.normpath(os.path.join(tier.path, sub))
        for var, sub in (sweep.fixtures or {"": ""}).items()
    }


def missing_tiers(sweep: Sweep) -> list[str]:
    return [
        d
        for t in sweep.tiers
        for d in _input_dirs(sweep, t).values()
        if not os.path.isdir(d)
    ]


def _input_bytes(sweep: Sweep, tier: Tier) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for top in _input_dirs(sweep, tier).values()
        for d, _, files in os.walk(top)
        for f in files
    )


def _measure(run: Callable[[], None]) -> tuple[float, float]:
    """(cold, median of 3 warm) seconds."""

    def timed() -> float:
        t0 = time.perf_counter()
        run()
        return time.perf_counter() - t0

    cold = timed()
    return round(cold, 3), round(statistics.median(timed() for _ in range(3)), 3)


def growth(sweep: Sweep, warm: Mapping[str, float]) -> dict:
    """Growth fit over the last decade of tiers (None when a run failed)."""
    last = sweep.tiers[-1]
    first = next(t for t in sweep.tiers if 10 * t.ratio == last.ratio)
    t0, t1 = warm.get(first.label, -1.0), warm.get(last.label, -1.0)
    if min(t0, t1) <= 0:
        return {"ratio_last_decade": None, "growth_exponent": None,
                "super_linear": False}
    return {
        "ratio_last_decade": round(t1 / t0, 2),
        "growth_exponent": round(math.log10(t1 / t0), 3),
        "super_linear": t1 / t0 > 13.0,
    }


def merge(doc: dict, sweep: Sweep, records: Mapping[str, dict],
          fields: Mapping[str, object]) -> None:
    """Merge per-query records (and sweep-level fields) into the sweep's
    key. The main sweep's section is the document root: its `queries`
    table predates the extension keys."""
    section = doc if sweep.key == "queries" else doc.setdefault(sweep.key, {})
    section.setdefault("queries", {}).update(records)
    section["super_linear"] = sorted(
        n for n, r in section["queries"].items() if r.get("super_linear")
    )
    section["data_ratios"] = [t.ratio for t in sweep.tiers]
    section.update(fields)


def main() -> None:
    sweeps = {s.key: s for s in SWEEPS}
    if len(sys.argv) < 2 or sys.argv[1] not in sweeps:
        print(f"usage: bench_scale.py <sweep> [query ...]; sweeps: "
              f"{', '.join(sweeps)}", file=sys.stderr)
        sys.exit(2)
    sweep = sweeps[sys.argv[1]]
    only = sys.argv[2:]
    unknown = sorted(set(only) - set(sweep.queries))
    if unknown:
        print(f"not in sweep {sweep.key}: {', '.join(unknown)}",
              file=sys.stderr)
        sys.exit(2)
    missing = missing_tiers(sweep)
    if missing:
        gen = ("tools/make_scale_media.py" if sweep.fixtures
               else "tools/make_scale_data.py")
        print(f"missing {', '.join(missing)}; run {gen} first",
              file=sys.stderr)
        sys.exit(2)

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

    workload.load_all()
    names = [n for n in sweep.queries if not only or n in only]
    runners = {n: workload.QUERIES.get(n) or RUNNERS[n] for n in names}

    cold: dict[str, dict[str, float]] = {n: {} for n in names}
    warm: dict[str, dict[str, float]] = {n: {} for n in names}
    for tier in sweep.tiers:
        if sweep.fixtures:
            os.environ.update(_input_dirs(sweep, tier))
        sf_dir = TABLES_DIR if sweep.fixtures else tier.path
        for name, fn in runners.items():
            try:
                cold[name][tier.label], warm[name][tier.label] = _measure(
                    lambda: fn(spark, sf_dir).write.format("noop")
                    .mode("overwrite").save()
                )
            except Exception as exc:  # noqa: BLE001
                print(f"scale-bench: {name}@{tier.label} failed: {exc!r}",
                      file=sys.stderr)
                cold[name][tier.label] = warm[name][tier.label] = -1.0
            print(f"{sweep.key} {tier.label} {name}: "
                  f"{warm[name][tier.label]}s", flush=True)
    for var in sweep.fixtures:
        os.environ.pop(var, None)

    records = {
        n: {"cold_sec": cold[n], "warm_median3_sec": warm[n],
            **growth(sweep, warm[n])}
        for n in names
    }
    fields: dict[str, object] = {}
    if sweep.fixtures:
        tier_bytes = {t.label: _input_bytes(sweep, t) for t in sweep.tiers}
        fields = {
            "input_bytes_per_tier": tier_bytes,
            "input_scaled": all(
                tier_bytes[a.label] > 0
                and 0.8 < tier_bytes[b.label] / tier_bytes[a.label]
                / (b.ratio / a.ratio) < 1.2
                for a, b in zip(sweep.tiers, sweep.tiers[1:])
            ),
        }
        if not fields["input_scaled"]:
            print(f"scale-bench: INPUT DID NOT SCALE: {tier_bytes}",
                  file=sys.stderr)

    path = _REPO / "BENCH_SF1.json"
    doc = json.loads(path.read_text()) if path.exists() else {}
    merge(doc, sweep, records, fields)
    path.write_text(json.dumps(doc, indent=1))
    print(json.dumps({sweep.key: {"queries": records, **fields}}))
    spark.stop()


if __name__ == "__main__":
    main()
