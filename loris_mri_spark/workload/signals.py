"""Array/signal workload — the ephys-chunker operator family (SURVEY §2.8
C8, §2.4 A7, §2.1 S14; reference:
`/root/reference/python/loris_ephys_chunker/src/loris_ephys_chunker/chunking.py:19-72,160-254`)
re-expressed on the `embeddings` table (embedding = a 64-sample signal),
plus the C5 blake2b hash (the one legitimately-Python operator: Spark has
no blake2b built-in, so it runs as an Arrow-batched pandas UDF —
`nifti_insertion_pipeline.py:52-64`).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from loris_mri_spark.catalog import load_table, table_path
from loris_mri_spark.workload import query

_CHUNK = 24  # deliberately NOT a divisor of 64, so edge-padding is real
_POOL = 4


@query(
    "c8_signal_chunk_pyramid",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS s
      FROM embeddings),
    padded AS (
      SELECT vec_id,
             list_concat(s,
               CASE WHEN len(s) % {_CHUNK} = 0 THEN []
                    ELSE list_transform(range(1, {_CHUNK} + 1 - (len(s) % {_CHUNK})),
                                        i -> s[len(s)]) END) AS p
      FROM sig),
    chunks AS (
      SELECT vec_id, chunk_idx, p[chunk_idx * {_CHUNK} + 1 : (chunk_idx + 1) * {_CHUNK}] AS c
      FROM padded, unnest(range(0, CAST(len(p) / {_CHUNK} AS INT))) AS t(chunk_idx)),
    pooled AS (
      SELECT vec_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             CAST(len(c) AS BIGINT) AS n_samples,
             ROUND(list_min(c), 6) AS vmin,
             ROUND(list_max(c), 6) AS vmax,
             list_transform(range(0, {_CHUNK // _POOL}), k ->
               list_sum(c[k * {_POOL} + 1 : (k + 1) * {_POOL}]) / {_POOL}) AS ds
      FROM chunks)
    SELECT vec_id, chunk_idx, n_samples, vmin, vmax,
           ROUND(list_min(ds), 6) AS ds_min,
           ROUND(list_max(ds), 6) AS ds_max
    FROM pooled
    """,
)
def c8_signal_chunk_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-pad each signal to a multiple of the chunk size (repeat the
    last sample, `chunking.py:19-26`), split into fixed chunks
    (`chunking.py:29-37`), and build one mean-pool downsampling level
    (`chunking.py:48-72` — FFT resample stands in as mean-pool: the
    deterministic, oracle-portable core of the pyramid). Per chunk:
    min/max (the A7 seriesRange, `chunking.py:193-196`) + pooled range.
    Pure Column expressions — the whole pyramid is one codegen'd pass."""
    e = load_table(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("s")
    )
    pad_len = F.when(
        F.size("s") % _CHUNK == 0, F.lit(0)
    ).otherwise(_CHUNK - F.size("s") % _CHUNK)
    padded = sig.select(
        "vec_id",
        F.concat(
            F.col("s"),
            F.array_repeat(F.element_at("s", -1), pad_len),
        ).alias("p"),
    )
    chunks = padded.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(p) div {_CHUNK} - 1), "
                f"c -> slice(p, c * {_CHUNK} + 1, {_CHUNK}))"
            )
        ).alias("chunk_idx", "c"),
    )
    pooled = chunks.select(
        "vec_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("c").cast("long").alias("n_samples"),
        F.round(F.array_min("c"), 6).alias("vmin"),
        F.round(F.array_max("c"), 6).alias("vmax"),
        F.expr(
            f"transform(sequence(0, {_CHUNK // _POOL - 1}), "
            f"k -> aggregate(slice(c, k * {_POOL} + 1, {_POOL}), "
            f"cast(0.0 as double), (acc, x) -> acc + x) / {_POOL})"
        ).alias("ds"),
    )
    return pooled.select(
        "vec_id",
        "chunk_idx",
        "n_samples",
        "vmin",
        "vmax",
        F.round(F.array_min("ds"), 6).alias("ds_min"),
        F.round(F.array_max("ds"), 6).alias("ds_max"),
    )


def _blake2b_values_sql(sf_dir: str) -> str:
    """Golden VALUES oracle, computed INDEPENDENTLY of Spark from the
    catalog under check: hashlib over its raw documents parquet via
    pyarrow (no engine reader, no UDF batching, no Spark session).
    DuckDB lacks blake2b, so the oracle is the precomputed expected
    table — the same pattern as the S1-S7 fixture goldens. Derived from
    the catalog it checks, so a testdata refresh can never strand a
    stale golden (the r03 drift class)."""
    import hashlib

    import pyarrow.parquet as pq

    tb = pq.read_table(
        table_path(sf_dir, "documents"), columns=["doc_id", "text"]
    )
    rows = [
        "(CAST({} AS BIGINT), '{}')".format(
            i, hashlib.blake2b(t.encode("utf-8"), digest_size=32).hexdigest()
        )
        for i, t in zip(
            tb.column("doc_id").to_pylist(), tb.column("text").to_pylist()
        )
    ]
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(doc_id, blake2b)"
    )


@query("c5_blake2b_hash", oracle=_blake2b_values_sql)
def c5_blake2b_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAKE2b file-hash (C5): the modern pipeline hashes every inserted
    file with blake2b (`nifti_insertion_pipeline.py:52-64`). No JVM
    built-in exists, so this is the engine's canonical SLOW-PATH pattern:
    an Arrow-batched pandas UDF (one Python call per ~10k-row batch, not
    per row). Correctness is pinned against hashlib in
    tests/test_signals.py and by a hashlib golden oracle built from the
    catalog under check (see _blake2b_values_sql)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def blake2b_hex(texts: pd.Series) -> pd.Series:
        import hashlib

        return texts.map(
            lambda t: hashlib.blake2b(t.encode("utf-8"), digest_size=32).hexdigest()
        )

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", blake2b_hex(F.col("text")).alias("blake2b"))


_RESAMPLE_SCHEMA = (
    "label int, pos long, centroid double, resampled double"
)


@query(
    "c8_applyinpandas_group_resample",
    oracle="""
    WITH px AS (
      SELECT label, CAST(p AS BIGINT) AS pos,
             -- widen float->double FIRST (exact), then quantize: a direct
             -- float->decimal cast rounds the float's SHORTEST repr, which
             -- disagrees with the exact binary expansion at 9 dp
             CAST(CAST(embedding[CAST(p AS INT) + 1] AS DOUBLE)
                  AS DECIMAL(20,9)) AS v
      FROM embeddings, unnest(range(0, 64)) t(p)
    ),
    per_pos AS (
      SELECT label, pos, COUNT(*) AS n, SUM(v) AS s
      FROM px GROUP BY label, pos
    ),
    pooled AS (
      SELECT label, pos // 4 AS block, SUM(s) AS bs, SUM(n) AS bn
      FROM per_pos GROUP BY label, pos // 4
    )
    SELECT p.label, p.pos,
           CAST(p.s AS DOUBLE) / p.n AS centroid,
           CAST(b.bs AS DOUBLE) / b.bn AS resampled
    FROM per_pos p JOIN pooled b
      ON p.label = b.label AND p.pos // 4 = b.block
    """,
)
def c8_applyinpandas_group_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas group-map template the ephys chunker needs
    (`python/lib/physio/chunking.py:29-41` dispatches per-recording loads;
    here: per-label signal centroid + factor-4 mean resample). The inner
    math quantizes each sample to DECIMAL(20,9) and aggregates exact
    integer sums — one correctly-rounded decimal->double conversion and
    one IEEE division per output — so a SQL engine summing the same
    decimals reproduces the result bit-identically (the float-accumulation
    order a naive numpy mean would introduce is engine-divergent).
    Output: one row per (label, position)."""
    from decimal import ROUND_HALF_UP, Decimal

    scale = Decimal("1e-9")

    def resample(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        sums = [0] * 64
        for emb in pdf["embedding"]:
            for i, v in enumerate(emb):
                sums[i] += int(
                    Decimal(float(v)).quantize(scale, ROUND_HALF_UP)
                    .scaleb(9)
                )
        centroid = [
            float(Decimal(s).scaleb(-9)) / n for s in sums
        ]
        pooled_sums = [sum(sums[b * 4 : b * 4 + 4]) for b in range(16)]
        resampled = [
            float(Decimal(pooled_sums[p // 4]).scaleb(-9)) / (4 * n)
            for p in range(64)
        ]
        return pd.DataFrame(
            {
                "label": pdf["label"].iloc[0],
                "pos": list(range(64)),
                "centroid": centroid,
                "resampled": resampled,
            }
        )

    e = load_table(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInPandas(resample, schema=_RESAMPLE_SCHEMA)
