"""Text-analysis workload over the `documents` table — language ID,
quality scoring, token stats, TF-IDF, winnowing fingerprints (the
LLM-training-data extension mandated alongside SURVEY §2).

All queries are pure Column-expression plans (JVM-side, codegen'd): split /
explode / transform / aggregate — NO Python UDFs. Each has a DuckDB oracle
built from the mirrored list functions.

Reference analogue: the HED/BIDS string parsing and per-file text metadata
extraction (`/root/reference/python/lib/physio/hed.py:63-120`,
`loris_bids_importer/.../events.py:81-155`) generalized to corpus-scale
document profiling.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from loris_mri_spark.catalog import load_table, table_path
from loris_mri_spark.functions.texthash import (
    SQL_MD5_60,
    SQL_NORM,
    norm_text,
    tokens,
)
from loris_mri_spark.workload import query

_NORM = SQL_NORM.format(col="text")

# Tiny per-language marker lists for the n-gram/stopword language-ID
# heuristic. Tie-break: first language in _LANG_ORDER with the max score.
_STOPLISTS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "las", "y", "es"],
    "fr": ["le", "les", "et", "est", "une"],
    "zh": ["de", "shi", "le", "bu"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]

_EN_STOPS = _STOPLISTS["en"]


@query(
    "text_token_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, n_chars, string_split({_NORM}, ' ') AS t
                  FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT)              AS n_chars,
           CAST(len(t) AS BIGINT)               AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
           ROUND(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 4)
             AS avg_token_len,
           ROUND(len(list_distinct(t)) * 1.0 / len(t), 4) AS type_token_ratio
    FROM toks
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical-diversity profile per document."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                 tokens("text").alias("t"))
    return t.select(
        "doc_id",
        "n_chars",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.round(
            F.aggregate("t", F.lit(0), lambda acc, x: acc + F.length(x))
            / F.size("t"),
            4,
        ).alias("avg_token_len"),
        F.round(F.size(F.array_distinct("t")) / F.size("t"), 4).alias(
            "type_token_ratio"
        ),
    )


def _sql_hits(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _STOPLISTS[lang])
    return f"len(list_filter(t, x -> list_contains([{lst}], x)))"


_LANGID_HITS = ",\n           ".join(
    f"{_sql_hits(lang)} AS h_{lang}" for lang in _LANG_ORDER
)
_LANGID_GREATEST = "GREATEST(" + ", ".join(f"h_{x}" for x in _LANG_ORDER) + ")"
_LANGID_CASE = (
    "CASE "
    + " ".join(
        f"WHEN h_{lang} = {_LANGID_GREATEST} THEN '{lang}'" for lang in _LANG_ORDER
    )
    + " END"
)


@query(
    "text_language_id",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
    hits AS (
      SELECT doc_id,
           {_LANGID_HITS}
      FROM toks)
    SELECT doc_id, {_LANGID_CASE} AS pred_lang,
           CAST({_LANGID_GREATEST} AS BIGINT) AS n_hits
    FROM hits
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language-ID heuristic: count marker-word hits per
    language, argmax with a fixed tie order — one pass, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("t"))
    def _hits(lang: str):
        arr = F.array(*[F.lit(w) for w in _STOPLISTS[lang]])
        return F.size(F.filter("t", lambda x: F.array_contains(arr, x))).alias(
            f"h_{lang}"
        )

    hit_cols = [_hits(lang) for lang in _LANG_ORDER]
    hits = t.select("doc_id", *hit_cols)
    best = F.greatest(*[F.col(f"h_{lang}") for lang in _LANG_ORDER])
    pred = F.lit(None).cast("string")
    # Build the CASE chain in reverse so the FIRST lang in order wins ties.
    for lang in reversed(_LANG_ORDER):
        pred = F.when(F.col(f"h_{lang}") == best, lang).otherwise(pred)
    return hits.select(
        "doc_id", pred.alias("pred_lang"), best.cast("long").alias("n_hits")
    )


_EN_LIST_SQL = ", ".join(f"'{w}'" for w in _EN_STOPS)


@query(
    "text_quality_score",
    oracle=f"""
    WITH n AS (SELECT doc_id, {_NORM} AS norm,
                      string_split({_NORM}, ' ') AS t
               FROM documents)
    SELECT doc_id,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           CAST(len(t) AS BIGINT)       AS n_tokens,
           ROUND(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
                 * 1.0 / length(norm), 4) AS punct_ratio,
           ROUND((length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')))
                 * 1.0 / length(norm), 4) AS digit_ratio,
           ROUND(len(list_filter(t, x -> list_contains([{_EN_LIST_SQL}], x)))
                 * 1.0 / len(t), 4) AS stop_ratio,
           CASE WHEN len(t) BETWEEN 5 AND 1000
                 AND length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
                     * 1.0 / length(norm) < 0.1
                 AND len(list_filter(t, x -> list_contains([{_EN_LIST_SQL}], x)))
                     * 1.0 / len(t) BETWEEN 0.01 AND 0.7
                THEN 'good' ELSE 'suspect' END AS quality
    FROM n
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality profile: length, punctuation/digit ratios,
    stopword ratio, and a rule-based good/suspect flag (the classic
    pre-training corpus filter shape).

    r10 fix (found composing t15): punct_ratio was INVERTED — stripping
    [a-z0-9 ] leaves only punctuation, so the ratio is
    len(stripped)/len(norm); the old `(len - len(stripped))/len` measured
    the KEPT-character ratio (~1.0 on clean text), which made the `good`
    branch unreachable and labeled every document 'suspect'. Both engines
    carried the same inversion, so oracle parity never caught it — the
    composed streaming pipeline returning 0 rows did. digit_ratio was
    always correct (its regex strips the digits themselves). Downstream
    consumers (pipeline_corpus_select, pipeline_pretraining_data) project
    only n_tokens/stop_ratio, so their results and executed plans are
    unchanged (punct never enters their pruned plans)."""
    d = load_table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id", norm_text("text").alias("norm"), tokens("text").alias("t")
    )
    stops = F.array(*[F.lit(w) for w in _EN_STOPS])
    punct = F.length(F.regexp_replace("norm", "[a-z0-9 ]", "")) / F.length(
        "norm"
    )
    digit = (
        F.length("norm") - F.length(F.regexp_replace("norm", "[0-9]", ""))
    ) / F.length("norm")
    stop_ratio = F.size(F.filter("t", lambda x: F.array_contains(stops, x))) / F.size(
        "t"
    )
    good = (
        F.size("t").between(5, 1000)
        & (punct < 0.1)
        & stop_ratio.between(0.01, 0.7)
    )
    return n.select(
        "doc_id",
        F.length("norm").cast("long").alias("n_chars_norm"),
        F.size("t").cast("long").alias("n_tokens"),
        F.round(punct, 4).alias("punct_ratio"),
        F.round(digit, 4).alias("digit_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.when(good, "good").otherwise("suspect").alias("quality"),
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(n.n_docs * 1.0 / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term ASC) AS BIGINT)
               AS rank
      FROM scored)
    SELECT doc_id, term, rank, ROUND(score, 6) AS score_r
    FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: explode -> partial-agg tf -> df
    join (broadcast: vocabulary is small relative to the corpus) -> window
    top-k. The doc count is a broadcast scalar, not a collected literal."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", F.round("score", 6).alias("score_r"))
    )


def winnow_fingerprint(nrm: Column) -> Column:
    """Winnowing fingerprint of a normalized-text column: char 5-gram
    md5_60 hashes, min per sliding window of 4, distinct-sorted — the
    rolling-hash document fingerprint (pure Column expression, single
    codegen'd pass). Shared by the per-doc fingerprint query and the
    winnow-based near-dup pair finder (workload/dedup.py).

    Every intermediate array is `let`-bound (functions/texthash.let):
    aliased arrays referenced inside higher-order lambdas are re-evaluated
    per element after projection collapse — the naive aliased version of
    this expression was quadratic per row (minutes, not seconds, at
    sf0.01)."""
    from loris_mri_spark.functions.texthash import let, md5_60

    empty = F.array().cast("array<bigint>")
    grams = F.when(
        F.length(nrm) >= 5,
        F.transform(
            F.sequence(F.lit(1), F.length(nrm) - 4),
            lambda i: md5_60(F.substr(nrm, i, F.lit(5))),
        ),
    ).otherwise(empty)

    return let(grams, _winnow_window_mins)


def _winnow_window_mins(h: Column) -> Column:
    """Winnowing's window stage, shared by the md5 and poly fingerprints:
    min per sliding window of 4 over the gram-hash array, distinct-sorted.
    Guard: Spark's sequence(1, 0) counts DOWN, so short docs need an
    explicit empty branch (DuckDB's range(1, 0) is empty)."""
    empty = F.array().cast("array<bigint>")
    return F.when(
        F.size(h) >= 4,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(h) - 3),
                    lambda i: F.array_min(F.slice(h, i, 4)),
                )
            )
        ),
    ).otherwise(empty)


# Oracle-portable polynomial gram hash (the cheap-hash winnow variant,
# r10 VERDICT item 4): md5_60 is ~85% of dedup_winnow_pairs' cost at 100x
# (SCALE.md "measured non-change 3"), and the md5 pin is self-imposed —
# oracle portability, not a reference semantic. This hash is computable
# IDENTICALLY in Spark and DuckDB from plain integer arithmetic:
#   raw = cp0*131^4 + cp1*131^3 + cp2*131^2 + cp3*131 + cp4
#   h   = ((raw % 1048573) * 2654435761) % 2147483647
# Overflow audit (both engines run BIGINT, DuckDB errors on overflow):
# max codepoint 0x10FFFF -> raw < 3.3e14; (raw % 1048573) * 2654435761
# < 2.8e15 — comfortably inside int64. The Knuth-style multiply+remainder
# finalizer breaks the raw polynomial's first-char dominance (without it
# the window min degenerates to "grams starting with the lowest
# codepoint"). 31-bit range: rare collisions only weaken winnow recall
# marginally and IDENTICALLY in both engines, so parity is exact.
_POLY_B = (294499921, 2248091, 17161, 131, 1)
_POLY_M1 = 1048573
_POLY_MIX = 2654435761
_POLY_M2 = 2147483647


def winnow_fingerprint_poly(nrm: Column) -> Column:
    """Cheap-hash sibling of winnow_fingerprint: identical winnowing
    (char 5-grams, min per sliding window of 4, distinct-sorted) with
    the polynomial codepoint hash above instead of md5_60. The codepoint
    array is computed ONCE per document (one ascii() per char) and each
    gram hash is five array lookups + integer arithmetic — no md5, no
    hex parse. Both arrays are `let`-bound (the quadratic-substitution
    guard, see winnow_fingerprint)."""
    from loris_mri_spark.functions.texthash import let

    empty = F.array().cast("array<bigint>")

    def grams(cp: Column) -> Column:
        def gram_hash(i: Column) -> Column:
            raw = sum(
                (
                    F.element_at(cp, i + k) * F.lit(b)
                    for k, b in enumerate(_POLY_B[1:], start=1)
                ),
                F.element_at(cp, i) * F.lit(_POLY_B[0]),
            )
            return raw % _POLY_M1 * F.lit(_POLY_MIX) % _POLY_M2

        hashes = F.when(
            F.size(cp) >= 5,
            F.transform(F.sequence(F.lit(1), F.size(cp) - 4), gram_hash),
        ).otherwise(empty)
        return let(hashes, _winnow_window_mins)

    cps = F.transform(F.split(nrm, ""), lambda c: F.ascii(c).cast("long"))
    return let(cps, grams)


# DuckDB form of winnow_fingerprint_poly (CTE yielding final(doc_id, fp)),
# the exact SQL twin of the expression above.
WINNOW_FP_POLY_CTE = f"""
    cps AS (
      SELECT doc_id,
             list_transform(string_split({{norm}}, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cp
      FROM documents),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(cp) - 3, 1)),
               i -> (cp[i] * {_POLY_B[0]} + cp[i+1] * {_POLY_B[1]}
                     + cp[i+2] * {_POLY_B[2]} + cp[i+3] * {_POLY_B[3]} + cp[i+4])
                    % {_POLY_M1} * {_POLY_MIX} % {_POLY_M2}) AS h
      FROM cps),
    wins AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - 2, 1)),
                 i -> list_min(h[i:i+3])))) AS fp
      FROM grams),
    final AS (
      SELECT doc_id, fp FROM wins WHERE len(fp) > 0)
""".format(norm=_NORM)


# DuckDB form of winnow_fingerprint, shared by this module's oracle and
# the dedup pair-finder's (CTE yielding final(doc_id, fp)).
WINNOW_FP_CTE = f"""
    grams AS (
      SELECT doc_id,
             list_transform(range(1, length({_NORM}) - 3),
               i -> CAST(('0x' || substr(md5(substr({_NORM}, i, 5)), 1, 15))
                         AS BIGINT)) AS h
      FROM documents),
    wins AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - 2, 1)),
                 i -> list_min(h[i:i+3])))) AS fp
      FROM grams),
    final AS (
      SELECT doc_id, fp FROM wins WHERE len(fp) > 0)
"""


@query(
    "text_fingerprint_winnow",
    oracle=f"""
    WITH {WINNOW_FP_CTE}
    SELECT doc_id,
           CAST(len(fp) AS BIGINT) AS n_fp,
           md5(array_to_string(list_transform(fp, x -> CAST(x AS VARCHAR)), ','))
             AS fp_hash
    FROM final
    """,
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint (rolling-hash): char 5-gram md5_60
    hashes, min per sliding window of 4, distinct-sorted mins hashed to a
    single fingerprint id. The (doc_id, fp) pass is workload.dedup.winnow_fps
    — a single codegen'd pass behind a Generate barrier, shared with the
    winnow dedup queries under spark.loris.sharedCache; the summary here is
    two cheap expressions over the generator's output attribute."""
    from loris_mri_spark.workload.dedup import winnow_fps

    fps = winnow_fps(spark, sf_dir)
    return fps.select(
        "doc_id",
        F.size("fp").cast("long").alias("n_fp"),
        F.md5(
            F.concat_ws(",", F.transform("fp", lambda x: x.cast("string")))
        ).alias("fp_hash"),
    )


# BPE-ish sub-word tokenizer regex (GPT-2-style coarse classes:
# apostrophe-suffix | space-word | space-number | space-punct-run |
# whitespace-run), identical in Java regex and RE2.
_BPE_PAT = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+|\s+"
_BPE_SQL = _BPE_PAT.replace("'", "''")


@query(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_BPE_SQL}'))
                AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS n_word_tokens,
           ROUND(len(regexp_extract_all(lower(text), '{_BPE_SQL}')) * 1.0
                 / len(string_split({_NORM}, ' ')), 4) AS bpe_per_word
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (the tokenizer-budget estimate
    every training-data pipeline needs) alongside whitespace word counts.
    regexp_extract_all is JVM-side; no Python in the loop."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(
        F.expr(f'regexp_extract_all(lower(text), "{_BPE_PAT}", 0)')
    ).cast("long")
    words = F.size(tokens("text")).cast("long")
    return d.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        words.alias("n_word_tokens"),
        F.round(bpe / words, 4).alias("bpe_per_word"),
    )


# -- Gopher-style repetition filters ---------------------------------------
# (Rae et al. 2021 §A1.1: documents dominated by repeated lines/n-grams are
# boilerplate; the filter drops them before training.)  All counts are exact
# integers and the keep rule is pure integer comparison, so both engines
# agree bit-for-bit.  The whole query is ONE codegen'd pass over the corpus:
# the run-length metrics are aggregate() folds over the (let-bound) token
# array — no explode, no shuffle, JVM-side.


def _max_run(arr: Column) -> Column:
    """Longest run of equal consecutive elements, as a single JVM fold:
    state = (prev, current-run, best-run)."""

    def step(s: Column, x: Column) -> Column:
        cur = (
            F.when(x == s["prev"], s["cur"] + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            cur.alias("cur"),
            F.greatest(s["best"], cur).alias("best"),
        )

    return F.aggregate(
        arr,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("best"),
        ),
        step,
        lambda s: s["best"],
    )


def _repetition_oracle() -> str:
    from loris_mri_spark.functions.texthash import sql_shingles

    return f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t
                  FROM documents),
    u AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
          FROM toks),
    brk AS (SELECT doc_id, tok, pos,
              CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) = tok
                   THEN 0 ELSE 1 END AS b
            FROM u),
    grp AS (SELECT doc_id, tok, pos,
              SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
            FROM brk),
    runs AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_run
             FROM (SELECT doc_id, g, COUNT(*) AS c FROM grp
                   GROUP BY doc_id, g)
             GROUP BY doc_id),
    freqs AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_tok_count
              FROM (SELECT doc_id, tok, COUNT(*) AS c FROM u
                    GROUP BY doc_id, tok)
              GROUP BY doc_id),
    base AS (SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_2grams,
               CAST(greatest(len(t) - 1, 0) - len({sql_shingles(2)})
                    AS BIGINT) AS n_dup_2grams
             FROM toks)
    SELECT b.doc_id, b.n_tokens, b.n_2grams, b.n_dup_2grams,
           f.top_tok_count, r.max_run,
           (b.n_dup_2grams * 5 <= b.n_2grams
            AND f.top_tok_count * 5 <= b.n_tokens
            AND r.max_run <= 3) AS keep
    FROM base b JOIN freqs f USING (doc_id) JOIN runs r USING (doc_id)
    """


@query("text_repetition_stats", oracle=_repetition_oracle())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-2-gram count, most-frequent
    token count and longest same-token run per document, with an integer
    keep rule (dup-2-gram fraction <= 0.2, top-token fraction <= 0.2,
    max run <= 3).  The engine computes all three metrics as aggregate()
    folds over one let-bound token array — one scan, zero shuffle, no
    Python; the oracle states the same semantics relationally
    (unnest + windows + group-bys)."""
    from loris_mri_spark.functions.texthash import let, word_shingles

    def metrics(t: Column) -> Column:
        n = F.size(t).cast("long")
        n2 = F.greatest(n - 1, F.lit(0).cast("long"))
        dup2 = n2 - F.size(word_shingles(t, 2)).cast("long")
        top = _max_run(F.array_sort(t))
        run = _max_run(t)
        return F.struct(
            n.alias("n_tokens"),
            n2.alias("n_2grams"),
            dup2.alias("n_dup_2grams"),
            top.alias("top_tok_count"),
            run.alias("max_run"),
        )

    d = load_table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.explode(F.array(let(tokens("text"), metrics))).alias("m"),
    )
    return out.select(
        "doc_id",
        F.col("m.n_tokens").alias("n_tokens"),
        F.col("m.n_2grams").alias("n_2grams"),
        F.col("m.n_dup_2grams").alias("n_dup_2grams"),
        F.col("m.top_tok_count").alias("top_tok_count"),
        F.col("m.max_run").alias("max_run"),
        (
            (F.col("m.n_dup_2grams") * 5 <= F.col("m.n_2grams"))
            & (F.col("m.top_tok_count") * 5 <= F.col("m.n_tokens"))
            & (F.col("m.max_run") <= 3)
        ).alias("keep"),
    )


# -- PII detection / redaction ---------------------------------------------
# The synthetic corpus carries no PII, so the query injects a deterministic
# contact block per document (same construction in both engines) and then
# runs the real detect+redact pass over it — the operator under test is the
# regex extraction/replacement, which is JVM-side (Java regex) in Spark and
# RE2 in DuckDB; the patterns below are restricted to the syntax subset the
# two engines evaluate identically.

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+1-555-\d{4}"


def _pii_oracle() -> str:
    aug = (
        "text || ' contact doc' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)"
        " || '.0.' || CAST(doc_id % 250 AS VARCHAR)"
        " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    )
    return f"""
    WITH aug AS (SELECT doc_id, {aug} AS a FROM documents),
    red AS (
      SELECT doc_id, a,
             regexp_replace(regexp_replace(regexp_replace(a,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS clean
      FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(a, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(a, '{_PII_IPV4}')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(a, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(clean) AS clean_hash
    FROM red
    """


@query("text_pii_redact", oracle=_pii_oracle())
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact emails / IPv4 addresses /
    phone numbers (each span replaced by a typed placeholder) and emit the
    hash of the cleaned text.  One codegen'd pass, JVM regex only — the
    shape of the C4/RefinedWeb-style scrub stage; at 100 TB this is a
    narrow map with no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        did.cast("string"),
        F.lit("@mail.example.com from 10."),
        (did % 200).cast("string"),
        F.lit(".0."),
        (did % 250).cast("string"),
        F.lit(" call +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    from loris_mri_spark.functions.texthash import let

    def fields(a: Column) -> Column:
        clean = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(a, _PII_EMAIL, "<EMAIL>"),
                _PII_IPV4,
                "<IP>",
            ),
            _PII_PHONE,
            "<PHONE>",
        )
        return F.struct(
            F.size(F.regexp_extract_all(a, F.lit(_PII_EMAIL), F.lit(0)))
            .cast("long")
            .alias("n_emails"),
            F.size(F.regexp_extract_all(a, F.lit(_PII_IPV4), F.lit(0)))
            .cast("long")
            .alias("n_ips"),
            F.size(F.regexp_extract_all(a, F.lit(_PII_PHONE), F.lit(0)))
            .cast("long")
            .alias("n_phones"),
            F.md5(clean).alias("clean_hash"),
        )

    out = d.select(
        "doc_id", F.explode(F.array(let(aug, fields))).alias("p")
    )
    return out.select(
        "doc_id",
        F.col("p.n_emails").alias("n_emails"),
        F.col("p.n_ips").alias("n_ips"),
        F.col("p.n_phones").alias("n_phones"),
        F.col("p.clean_hash").alias("clean_hash"),
    )


# -- Hashed-feature linear classifier inference -----------------------------
# The fastText-shaped quality model every corpus pipeline runs: tokens hash
# into feature buckets, each bucket carries a (pre)trained weight, and the
# document score is the mean bucket weight. Here the weight table is
# DETERMINISTIC (derived from the bucket id by the same oracle-portable
# md5_60), and weights are INTEGER MILLI-UNITS so the per-document sum is
# exact under any evaluation order — model inference as a zero-shuffle,
# zero-UDF Column expression, hash-checkable against SQL.

_CLF_BUCKETS = 1024
_CLF_THRESH_MILLI = 20  # keep docs whose mean token weight > 0.020


def _clf_weight_sql(tok: str) -> str:
    from loris_mri_spark.functions.texthash import SQL_MD5_60

    bucket = f"({SQL_MD5_60.format(col=tok)} % {_CLF_BUCKETS})"
    wkey = f"'w:' || CAST({bucket} AS VARCHAR)"
    return f"({SQL_MD5_60.format(col=wkey)} % 2001 - 1000)"


_CLF_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t
                  FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(t, tok -> {_clf_weight_sql("tok")}))
                AS BIGINT) AS score_milli,
           1000 * list_sum(list_transform(t, tok -> {_clf_weight_sql("tok")}))
             > {_CLF_THRESH_MILLI} * len(t) AS keep
    FROM toks
"""


@query("text_quality_classifier", oracle=_CLF_SQL)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate: hashed-bag-of-words linear classifier
    scored entirely inside whole-stage codegen — tokens -> md5 buckets ->
    integer milli-weights -> exact fold sum; keep = integer-cross-
    multiplied mean-weight threshold. One scan, zero shuffle, zero UDF:
    the shape a learned fastText-style filter compiles to when its
    weights are broadcast as expressions. Weights here are derived
    deterministically from the bucket id so both engines hold the same
    'model'."""
    from loris_mri_spark.functions.texthash import let, md5_60

    def weight(tok: Column) -> Column:
        bucket = md5_60(tok) % _CLF_BUCKETS
        return md5_60(F.concat(F.lit("w:"), bucket.cast("string"))) % 2001 - 1000

    def fields(t: Column) -> Column:
        s = F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, tok: acc + weight(tok)
        )
        n = F.size(t).cast("long")
        return F.struct(
            n.alias("n_tokens"),
            s.alias("score_milli"),
            (s * 1000 > _CLF_THRESH_MILLI * n).alias("keep"),
        )

    d = load_table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id", F.explode(F.array(let(tokens("text"), fields))).alias("q")
    )
    return out.select(
        "doc_id",
        F.col("q.n_tokens").alias("n_tokens"),
        F.col("q.score_milli").alias("score_milli"),
        F.col("q.keep").alias("keep"),
    )


_LM_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT SUM(c) AS s FROM vocab),
    lp AS (SELECT tok, ln(c * 1.0 / s) AS logp FROM vocab, tot),
    scored AS (SELECT t.doc_id, COUNT(*) AS n_tok, AVG(lp.logp) AS alp
               FROM toks t JOIN lp USING (tok) GROUP BY t.doc_id)
    SELECT doc_id, n_tok, ROUND(alp, 4) AS avg_logprob
    FROM scored
"""


@query("text_lm_quality", oracle=_LM_SQL)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring (the CCNet / Wikipedia-LM filtering
    stage): score each document by its mean token log-probability under
    a language model and filter the outliers. The in-engine model is the
    corpus's own unigram LM — trained and applied in the same job:

    1. vocabulary pass: one hash-groupBy over exploded tokens (map-side
       combine makes the shuffle vocabulary-sized, not corpus-sized);
    2. the (token -> logprob) table is vocabulary-sized, so it
       BROADCASTS to the scoring join — the corpus is touched exactly
       twice and never shuffled by token;
    3. per-doc mean logprob = one agg keyed by doc_id.

    At production scale the broadcast table is instead a pre-trained
    KenLM-style model loaded as a dimension table — the plan shape
    (broadcast score join + per-doc agg) is identical. avg_logprob is
    rounded to 4 decimals so libm ulp differences between engines
    cannot surface in the hash comparison."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("s"))
    lp = vocab.crossJoin(F.broadcast(tot)).select(
        "tok", F.log(F.col("c") / F.col("s")).alias("logp")
    )
    scored = (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.avg("logp").alias("alp"),
        )
    )
    return scored.select(
        "doc_id", "n_tok", F.round("alp", 4).alias("avg_logprob")
    )


_CMS_W = 256  # buckets per hash row
_CMS_SEEDS = ("s0|", "s1|", "s2|")


def _cms_bucket_sql(seed: str) -> str:
    h = SQL_MD5_60.format(col=f"'{seed}' || tok")
    return f"({h} % {_CMS_W})"


_CMS_SQL = f"""
    WITH toks AS (SELECT unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    rows0 AS (SELECT 0 AS seed, {_cms_bucket_sql("s0|")} AS bucket, n FROM vocab
              UNION ALL
              SELECT 1, {_cms_bucket_sql("s1|")}, n FROM vocab
              UNION ALL
              SELECT 2, {_cms_bucket_sql("s2|")}, n FROM vocab),
    sketch AS (SELECT seed, bucket, SUM(n) AS bn FROM rows0
               GROUP BY seed, bucket),
    top10 AS (SELECT tok, n FROM vocab
              ORDER BY n DESC, tok ASC LIMIT 10),
    est AS (
      SELECT t.tok, t.n,
             MIN(s.bn) AS est_n
      FROM top10 t
      JOIN sketch s
        ON (s.seed = 0 AND s.bucket = {_cms_bucket_sql("s0|").replace("tok", "t.tok")})
        OR (s.seed = 1 AND s.bucket = {_cms_bucket_sql("s1|").replace("tok", "t.tok")})
        OR (s.seed = 2 AND s.bucket = {_cms_bucket_sql("s2|").replace("tok", "t.tok")})
      GROUP BY t.tok, t.n)
    SELECT tok, CAST(n AS BIGINT) AS exact_n, CAST(est_n AS BIGINT) AS est_n,
           est_n >= n AS never_undercounts
    FROM est
"""


@query("profile_countmin_topk", oracle=_CMS_SQL)
def profile_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH heavy hitters, fully relational: a 3x256
    sketch built as one hash-aggregation over the vocabulary (CMS is
    linear, so summing per-token counts into buckets equals streaming
    row-level updates), estimates = min over the three rows — and
    because the hashes are the oracle-portable md5_60, the ESTIMATES
    themselves are deterministic and hash-checked, not just bounded
    (`never_undercounts` pins the one-sided CMS guarantee). The sketch
    is mergeable (bucket sums add), making it the fixed-memory
    frequency profile for 100 TB streams where exact vocabulary counts
    cannot fit."""
    from loris_mri_spark.functions.texthash import md5_60

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("n"))

    def bucket(seed: str) -> F.Column:
        return md5_60(F.concat(F.lit(seed), F.col("tok"))) % _CMS_W

    rows0 = None
    for i, seed in enumerate(_CMS_SEEDS):
        part = vocab.select(
            F.lit(i).alias("seed"), bucket(seed).alias("bucket"), "n"
        )
        rows0 = part if rows0 is None else rows0.unionAll(part)
    sketch = rows0.groupBy("seed", "bucket").agg(F.sum("n").alias("bn"))

    top10 = vocab.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(10)
    probes = None
    for i, seed in enumerate(_CMS_SEEDS):
        part = top10.select(
            "tok", "n", F.lit(i).alias("seed"), bucket(seed).alias("bucket")
        )
        probes = part if probes is None else probes.unionAll(part)
    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("bn").alias("est_n"))
    )
    return est.select(
        "tok",
        F.col("n").cast("long").alias("exact_n"),
        F.col("est_n").cast("long").alias("est_n"),
        (F.col("est_n") >= F.col("n")).alias("never_undercounts"),
    )


_POSTING_SQL = f"""
    WITH toks AS (SELECT DISTINCT doc_id,
                         unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents)
    SELECT tok, COUNT(*) AS doc_freq,
           md5(array_to_string(list(doc_id ORDER BY doc_id), ','))
             AS postings_md5
    FROM toks GROUP BY tok
"""


@query("text_posting_lists", oracle=_POSTING_SQL)
def text_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INVERTED INDEX construction — the search-index build: per term,
    the sorted posting list of containing documents, emitted as its md5
    so the full posting CONTENT is hash-pinned while the result row
    stays fixed-width however hot the term (at 100 TB a hot posting is
    delta-encoded and sharded, never carried as one row — the hash
    keeps the verification without violating that). One distinct pass,
    one aggregation; postings sort inside the array, not globally."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    return toks.groupBy("tok").agg(
        F.count("*").alias("doc_freq"),
        F.md5(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))
        ).alias("postings_md5"),
    )


_ENTROPY_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks
           GROUP BY doc_id, tok),
    n AS (SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(n.n AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(-SUM((tf.c * 1.0 / n.n) * ln(tf.c * 1.0 / n.n)), 4)
             AS entropy_r,
           ROUND(COUNT(*) * 1.0 / n.n, 4) AS ttr_r
    FROM tf JOIN n ON n.doc_id = tf.doc_id
    GROUP BY tf.doc_id, n.n
"""


@query("text_entropy", oracle=_ENTROPY_SQL)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution SHANNON ENTROPY and type-token ratio per
    document — the diversity half of quality filtering (low entropy =
    repetitive boilerplate even when length and stopword ratios look
    fine; pairs with text_repetition_stats' exact-run rules). Two
    hash-aggregations, all JVM expressions; rounded to 4 so the
    per-term ln() summation order cannot surface across engines."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    n = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        tf.join(n, "doc_id")
        .groupBy("doc_id", "n")
        .agg(
            F.count("*").alias("n_types"),
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_r"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n_types").cast("long").alias("n_types"),
            "entropy_r",
            F.round(F.col("n_types") / F.col("n"), 4).alias("ttr_r"),
        )
    )

# Fixed retrieval-query term set for the BM25 scorer (corpus-common
# tokens so every SF has matches); Okapi constants are the standard
# k1=1.2, b=0.75, with the Lucene "+1" IDF that never goes negative.
_BM25_TERMS = ["spark", "query", "join", "stream"]
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
                  FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
           GROUP BY 1, 2),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             SUM(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                 * tf.tf * ({_BM25_K1} + 1)
                 / (tf.tf + {_BM25_K1}
                    * (1 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl)))
               AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, n_terms, ROUND(score, 6) AS score_r
    FROM scored ORDER BY score_r DESC, doc_id LIMIT 20
"""


@query("text_bm25_topk", oracle=_BM25_SQL)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query-term set — the
    scoring half of the search stack whose index half is
    text_posting_lists. Plan shape for 100 TB: the term filter lands
    BEFORE the tf aggregation (only docs containing a query term ever
    shuffle), df and the corpus stats (n_docs, avgdl) are broadcast
    scalars/tiny dims, the per-(doc,term) partial scores reduce in one
    hash aggregation keyed by doc_id, and the global top-k is
    orderBy+limit = TakeOrderedAndProject (per-partition heaps + one
    driver merge), never a single-partition window. Ordering ties
    break on (rounded score, doc_id) in both engines so the k-boundary
    is deterministic across engines despite float summation order."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    norm_len = 1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    term_score = (
        idf * F.col("tf") * (_BM25_K1 + 1)
        / (F.col("tf") + _BM25_K1 * norm_len)
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(term_score).alias("score"),
        )
    )
    return (
        scored.select(
            "doc_id", "n_terms", F.round("score", 6).alias("score_r")
        )
        .orderBy(F.col("score_r").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_PMI_MIN_PAIR = 20

_PMI_SQL = f"""
    WITH toks AS (SELECT string_split({_NORM}, ' ') AS ts FROM documents),
    cu AS (SELECT tok, COUNT(*) AS cu
           FROM (SELECT unnest(ts) AS tok FROM toks) GROUP BY 1),
    u AS (SELECT CAST(SUM(cu) AS DOUBLE) AS u_total FROM cu),
    bg AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM (
             SELECT unnest([struct_pack(w1 := ts[i], w2 := ts[i+1])
                            for i in range(1, len(ts))]) AS b
             FROM toks WHERE len(ts) >= 2)),
    cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY 1, 2),
    t AS (SELECT CAST(SUM(cb) AS DOUBLE) AS t_total FROM cb)
    SELECT w1, w2, CAST(cb.cb AS BIGINT) AS pair_n,
           ROUND(ln(cb.cb * u.u_total * u.u_total
                    / (t.t_total * c1.cu * c2.cu)), 6) AS pmi_r
    FROM cb JOIN cu c1 ON c1.tok = cb.w1 JOIN cu c2 ON c2.tok = cb.w2
    CROSS JOIN u CROSS JOIN t
    WHERE cb.cb >= {_PMI_MIN_PAIR}
"""


@query("text_pmi_bigrams", oracle=_PMI_SQL)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram COLLOCATION mining by pointwise mutual information —
    PMI(w1,w2) = ln(p(w1,w2) / (p(w1) p(w2))) with bigram probability
    over the adjacent-pair total and unigram probabilities over the
    token total; the classic corpus-analysis op behind phrase/stopword
    discovery in pretraining-data work. Adjacent pairs come from one
    codegen'd transform(sequence(...)) over the token array (no
    self-join of positions), pair counts reduce in one hash
    aggregation, and the unigram table + the two scalar totals are
    broadcast — at 100 TB the only big shuffle is the pair-count
    groupBy, whose key space is bounded by vocabulary squared, not by
    corpus size. The `pair_n >= {_PMI_MIN_PAIR}` support floor is the
    standard PMI-noise guard (rare pairs otherwise dominate)."""
    d = load_table(spark, sf_dir, "documents")
    ts = d.select(tokens("text").alias("ts"))
    uni = ts.select(F.explode("ts").alias("tok"))
    cu = uni.groupBy("tok").agg(F.count("*").alias("cu"))
    u = cu.agg(F.sum("cu").cast("double").alias("u_total"))
    bg = (
        ts.filter(F.size("ts") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, size(ts) - 1),"
                " i -> struct(ts[i-1] AS w1, ts[i] AS w2)))"
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cb = bg.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    t = cb.agg(F.sum("cb").cast("double").alias("t_total"))
    c1 = cu.select(F.col("tok").alias("w1"), F.col("cu").alias("c1"))
    c2 = cu.select(F.col("tok").alias("w2"), F.col("cu").alias("c2"))
    pmi = F.log(
        F.col("cb") * F.col("u_total") * F.col("u_total")
        / (F.col("t_total") * F.col("c1") * F.col("c2"))
    )
    return (
        cb.filter(F.col("cb") >= _PMI_MIN_PAIR)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.col("cb").cast("long").alias("pair_n"),
            F.round(pmi, 6).alias("pmi_r"),
        )
    )


_BPE_K = 8


def bpe_replay(word_counts: "dict[str, int]", k: int) -> list:
    """Pure-Python BPE merge-training replay — the oracle twin of
    text_bpe_train_merges (and the unit tests' reference). Standard BPE
    trainer over a word-frequency table: symbols start as characters,
    each round counts adjacent symbol pairs weighted by word frequency,
    takes the top pair by (count DESC, left ASC, right ASC), and merges
    its non-overlapping occurrences left-to-right. Returns
    [(rank, left, right, pair_count)]."""
    syms = {w: list(w) for w in word_counts}
    out = []
    for rank in range(1, k + 1):
        counts: dict = {}
        for w, s in syms.items():
            c = word_counts[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (left, right), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, left, right, n))
        merged = left + right
        for w, s in syms.items():
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[w] = ns
    return out


# Java's \s (what Spark's tokens()/norm_text() regex matches) is the
# ASCII class [ \t\n\x0b\f\r] ONLY — Python's \s additionally matches
# Unicode whitespace (NBSP, ideographic space, ...), so a replay using
# Python \s silently diverges the word counts the first time the
# testdata carries non-ASCII whitespace. The trailing trim mirrors
# Spark's SQL trim() (norm_text's outer F.trim), which strips ONLY the
# space character U+0020 — not Java String.trim()'s <= U+0020 sweep and
# not Python str.strip()'s Unicode set. An edge control char outside
# Java \s (e.g. \x01) therefore SURVIVES normalization in both engines.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_SQL_TRIM = " "


@lru_cache
def _doc_word_counts(sf_dir: str) -> "dict[str, int]":
    """Word-frequency table over the catalog's raw document texts,
    normalized EXACTLY like the Spark plan's tokens() (Java-regex
    whitespace semantics — see _JAVA_WS). The replay input of the four
    BPE golden builders, read once per catalog (read-only: shared)."""
    from collections import Counter

    import pyarrow.parquet as pq

    tb = pq.read_table(table_path(sf_dir, "documents"), columns=["text"])
    wc: Counter = Counter()
    for text in tb.column("text").to_pylist():
        if text is None:
            continue  # Spark's explode(tokens(NULL)) drops the row
        norm = _JAVA_WS.sub(" ", text).strip(_SQL_TRIM).lower()
        for w in norm.split(" "):
            wc[w] += 1
    return dict(wc)


def _bpe_values_sql(rows: "list") -> str:
    """VALUES oracle for a merge-rule list. Symbols are embedded as SQL
    string literals, so single quotes must be doubled — today's fixtures
    carry none, but a refresh must not generate broken SQL."""
    vals = ", ".join(
        "(CAST({r} AS BIGINT), '{l}', '{ri}', CAST({n} AS BIGINT))".format(
            r=r, l=l.replace("'", "''"), ri=ri.replace("'", "''"), n=n
        )
        for r, l, ri, n in rows
    )
    return (
        f"SELECT * FROM (VALUES {vals})"
        " AS t(rank, left_sym, right_sym, pair_count)"
    )


def _bpe_merges_values_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for the BPE merge table, computed
    INDEPENDENTLY of Spark from the catalog under check (the
    vec_cosine_pairs_lsh pattern): the trainer is fully deterministic
    (integer counts, total-order tie-break), so its exact output is
    recomputable with a pure-Python replay. None when the corpus yields
    no merge."""
    rows = bpe_replay(_doc_word_counts(sf_dir), _BPE_K)
    if not rows:
        return None
    return _bpe_values_sql(rows)


@query("text_bpe_train_merges", oracle=_bpe_merges_values_sql)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING, the distributed shape: learn the first
    {k} merge rules from the corpus — the op a training-data platform
    runs before tokenizing 100 TB (text_bpe_token_count is the APPLY
    side; this is the TRAIN side).

    100-TB design — the industrial BPE-trainer factorization: the
    corpus is touched EXACTLY ONCE (tokenize -> word-frequency table,
    one map-side-combined shuffle bounded by type count, not token
    count); every merge iteration then runs on the VOCABULARY table
    (types x avg word length — millions of rows at web scale, never
    petabytes). Per iteration: adjacent-pair counts (vocab-sized
    partial-agg shuffle), top-1 by (count DESC, pair ASC) via
    TakeOrdered limit(1), and the merge applied as a BROADCAST join of
    that one row + a codegen'd aggregate() fold that rebuilds each
    symbol array left-to-right (non-overlapping, leftmost-first — the
    fold's CASE can never re-merge its own output because the merged
    token no longer equals `left`). No driver collect inside the loop;
    per-iteration localCheckpoint truncates the growing lineage
    (vocab-sized — the j9 iterative pattern). Oracle: pure-Python
    golden replay over the catalog under check (deterministic integer
    counts + total tie-order)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    syms = words.select(
        "wc", F.split("w", "").alias("s")
    ).localCheckpoint(eager=True)

    merge_rows = []
    for rank in range(1, _BPE_K + 1):
        pairs = (
            # sequence(1, 0) counts DOWN in Spark (the winnow_fingerprint
            # lesson): single-symbol words must not reach the transform
            syms.filter(F.size("s") >= 2).select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1),"
                        " i -> struct(s[i-1] AS l, s[i] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("n"))
        )
        top1 = (
            pairs.orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .select(
                F.lit(rank).cast("long").alias("rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("n").cast("long").alias("pair_count"),
            )
            .localCheckpoint(eager=True)
        )
        merge_rows.append(top1)
        syms = (
            syms.crossJoin(
                F.broadcast(
                    top1.select(
                        F.col("left_sym").alias("__l"),
                        F.col("right_sym").alias("__r"),
                    )
                )
            )
            .select(
                "wc",
                # leftmost-first non-overlapping merge as a fold:
                # when the accumulator's LAST symbol is `l` and the
                # incoming symbol is `r`, replace the last with the
                # merged token. The fold can never re-merge its own
                # output (concat(l, r) != l since r is non-empty), and
                # the l == r chain case folds exactly like the
                # reference left-to-right scan ("aaaa" -> [aa, aa]).
                F.expr(
                    "aggregate(s, CAST(array() AS array<string>),"
                    " (acc, x) -> CASE WHEN size(acc) > 0"
                    "   AND element_at(acc, -1) = __l AND x = __r"
                    " THEN concat(slice(acc, 1, size(acc) - 1),"
                    "             array(concat(__l, __r)))"
                    " ELSE concat(acc, array(x)) END)"
                ).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


_BPE_VOCAB_K = 256


def bpe_replay_segments(
    word_counts: "dict[str, int]", k: int
) -> "dict[str, list]":
    """Each word's FINAL symbol sequence after the replay trains ``k``
    merges — the oracle twin of the apply side (text_bpe_apply_subwords).
    Implemented as the replay's own training loop state (train-time
    global merging), NOT as rule-by-rule re-encoding: that the two
    coincide is the classic BPE invariant the parity check exercises."""
    syms = {w: list(w) for w in word_counts}
    for _ in range(k):
        counts: dict = {}
        for w, s in syms.items():
            c = word_counts[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (left, right), _n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        for w, s in syms.items():
            ns, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    ns.append(merged)
                    i += 2
                else:
                    ns.append(s[i])
                    i += 1
            syms[w] = ns
    return syms


def _bpe_vocab_values_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for the k=256 vocab-local trainer — same
    recipe as _bpe_merges_values_sql (pure-Python replay of the
    deterministic trainer on the catalog under check), at the realistic
    merge count. On the sf0.01 corpus the vocabulary EXHAUSTS before 256
    merges (every word becomes one symbol), so the golden also pins the
    early-stop semantics."""
    wc = _doc_word_counts(sf_dir)
    rows = bpe_replay(wc, _BPE_VOCAB_K)
    if not rows:
        return None
    return _bpe_values_sql(rows)


@query("text_bpe_train_vocab", oracle=_bpe_vocab_values_sql)
def text_bpe_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training at a REALISTIC merge count (k=256) — the
    scale-safe merge phase. text_bpe_train_merges (k=8) proved the
    distributed factorization's data side: the corpus is touched exactly
    once (tokenize -> word-frequency table, one map-side-combined shuffle
    bounded by TYPE count), and each merge then needs only the vocabulary.
    But its merge loop costs ~3 driver-coordinated Spark jobs + 2 eager
    localCheckpoints PER MERGE — at a tokenizer's real k (30k-100k)
    that is ~1e5 driver round trips, a bottleneck in ITERATION COUNT
    even though the data side is right.

    This query keeps the distributed word-count pass and lands the merge
    phase in ONE applyInPandas task over a constant group: the word-
    frequency table is types x avg-word-length sized (millions of rows
    at web scale — one task's memory at any corpus size), and the
    in-task trainer (operators/bpe.bpe_train_incremental) maintains
    pair counts INCREMENTALLY, so per-merge cost is O(words containing
    the merged pair), with zero Spark jobs inside the loop. 100-TB
    shape: corpus pass scales out; merge phase is corpus-size-
    independent. Oracle: golden replay over the catalog under check at
    the same k — an INDEPENDENT from-scratch recount implementation, so
    parity is a real check of the incremental index maintenance."""
    from loris_mri_spark.operators.bpe import bpe_train_incremental

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )

    def _train(pdf):
        import pandas as pd

        wc = dict(zip(pdf["w"], pdf["wc"].astype(int)))
        rows = bpe_train_incremental(wc, _BPE_VOCAB_K)
        return pd.DataFrame(
            rows, columns=["rank", "left_sym", "right_sym", "pair_count"]
        )

    return (
        words.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            _train,
            schema="rank long, left_sym string, right_sym string,"
            " pair_count long",
        )
    )


_BPE_APPLY_TOP = 30


def _bpe_apply_values_sql(sf_dir: str) -> "str | None":
    """Golden VALUES oracle for the apply side, derived from the
    replay's FINAL TRAINING STATE (bpe_replay_segments) — a genuinely
    different path from the engine's trainer + rank-order re-encoding,
    so parity checks the classic BPE invariant that applying learned
    merges in order reproduces the training segmentation."""
    wc = _doc_word_counts(sf_dir)
    segs = bpe_replay_segments(wc, _BPE_VOCAB_K)
    freq: dict = {}
    for w, c in wc.items():
        for t in segs[w]:
            freq[t] = freq.get(t, 0) + c
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
        :_BPE_APPLY_TOP
    ]
    if not top:
        return None
    vals = ", ".join(
        "(CAST({r} AS BIGINT), '{t}', CAST({n} AS BIGINT))".format(
            r=r, t=t.replace("'", "''"), n=n
        )
        for r, (t, n) in enumerate(top, start=1)
    )
    return (
        f"SELECT * FROM (VALUES {vals})"
        " AS t(rank, subword, weighted_count)"
    )


@query("text_bpe_apply_subwords", oracle=_bpe_apply_values_sql)
def text_bpe_apply_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE tokenizer training: tokenize the corpus
    with the k=256 learned merges and report the top subword tokens by
    weighted frequency — the vocabulary sheet a tokenizer build signs
    off on before the 100-TB tokenization run.

    100-TB factorization (the same insight as the trainer): encoding is
    a function of the word TYPE, so the corpus is never re-scanned —
    the word-frequency table (types-sized) is trained AND encoded in
    one applyInPandas task (train: incremental pair counts; encode:
    merge rules applied in rank order per type), and subword counts are
    type-counts weighted sums. At production scale the encoded
    types->subwords table then broadcast-joins against the corpus for
    full tokenization; here the weighted top-k IS the deliverable.
    Oracle: golden from the replay's final TRAINING state —
    re-encoding with learned rules must reproduce the training
    segmentation (the classic BPE invariant), so the two sides compute
    the answer via genuinely different paths."""
    from loris_mri_spark.operators.bpe import (
        bpe_encode,
        bpe_train_incremental,
    )

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )

    def _train_apply(pdf):
        import pandas as pd

        wc = dict(zip(pdf["w"], pdf["wc"].astype(int)))
        merges = [
            (l, r)
            for _, l, r, _ in bpe_train_incremental(wc, _BPE_VOCAB_K)
        ]
        freq: dict = {}
        for w, c in wc.items():
            for t in bpe_encode(w, merges):
                freq[t] = freq.get(t, 0) + c
        top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_BPE_APPLY_TOP
        ]
        return pd.DataFrame(
            [(r, t, n) for r, (t, n) in enumerate(top, start=1)],
            columns=["rank", "subword", "weighted_count"],
        )

    return (
        words.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            _train_apply,
            schema="rank long, subword string, weighted_count long",
        )
    )


def _bpe_tokenize_map_sql(sf_dir: str) -> "str | None":
    """Golden types->subword-count map for the distributed tokenize
    path, from the replay's final training state (the apply-side
    recipe via bpe_replay_segments); the corpus-side join and
    aggregation stay LIVE SQL in the oracle, so DuckDB independently
    re-tokenizes every document against the golden map."""
    wc = _doc_word_counts(sf_dir)
    # k=8 (not the vocab query's 256): sf0.01's corpus EXHAUSTS at k=256
    # (every type one symbol, fertility uniformly 1.0) — partial merges
    # keep per-doc subword counts varied, a stronger value-hash check.
    segs = bpe_replay_segments(wc, _BPE_K)
    if not segs:
        return None
    vals = ", ".join(
        "('{w}', CAST({n} AS BIGINT))".format(
            w=w.replace("'", "''"), n=len(s)
        )
        for w, s in sorted(segs.items())
    )
    return f"""
    WITH m AS (SELECT * FROM (VALUES {vals}) AS m(w, n_sub)),
    tok AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
      FROM documents),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
      FROM tok JOIN m USING (w)
      GROUP BY doc_id)
    SELECT doc_id, n_words, n_bpe_tokens,
           ROUND(n_bpe_tokens / CAST(n_words AS DOUBLE), 6) AS fertility_r
    FROM agg
    """


@query("text_bpe_tokenize_corpus", oracle=_bpe_tokenize_map_sql)
def text_bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION tokenization path the apply-side docstring
    promises: per-document BPE token counts (plus fertility =
    subwords/word, the tokenizer-quality metric a vocab build tracks)
    computed WITHOUT ever re-encoding inside the corpus scan.

    The factorization (the industrial one): encoding is a function of
    the word TYPE, so
      1. one corpus pass builds the type table (map-side-combined
         shuffle bounded by type count);
      2. the single-task trainer learns k=256 merges and encodes every
         type ONCE — output is a (type, n_subwords) table, vocab-sized;
      3. the encoded table joins back against the token-exploded corpus
         and per-doc counts aggregate.
    The corpus is scanned (twice) but NEVER shuffled at full width: the
    type join broadcasts (a curated-corpus vocabulary is MBs — Heaps-
    sublinear in corpus size), and the doc_id aggregation ships partial
    aggregates. On a noisy web crawl where the type table outgrows
    broadcast, set spark.loris.bpe.broadcastTypes=false: the hint drops
    and Catalyst/AQE plans a shuffle join on `w` — the corpus shuffles
    by WORD (narrow: doc_id+w), never at full document width, and the
    per-doc aggregation still combines map-side. The fallback is
    plan-pinned (tests/test_plans.py::test_bpe_tokenize_type_join_plans)
    rather than narrated. Oracle: DuckDB re-tokenizes every document
    live against the golden replay's type map — engine and oracle share
    NO tokenization code."""
    from loris_mri_spark.operators.bpe import (
        bpe_encode,
        bpe_train_incremental,
    )

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )

    def _train_encode(pdf):
        import pandas as pd

        wc = dict(zip(pdf["w"], pdf["wc"].astype(int)))
        merges = [
            (l, r) for _, l, r, _ in bpe_train_incremental(wc, _BPE_K)
        ]
        return pd.DataFrame(
            [(w, len(bpe_encode(w, merges))) for w in wc],
            columns=["w", "n_sub"],
        )

    enc = (
        words.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(_train_encode, schema="w string, n_sub long")
    )
    tok = d.select("doc_id", F.explode(tokens("text")).alias("w"))
    bcast = (
        spark.conf.get("spark.loris.bpe.broadcastTypes", "true") != "false"
    )
    return (
        tok.join(F.broadcast(enc) if bcast else enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens") / F.col("n_words").cast("double"), 6
            ).alias("fertility_r"),
        )
    )
