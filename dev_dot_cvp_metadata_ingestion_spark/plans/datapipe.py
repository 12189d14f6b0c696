"""LLM-data-pipeline queries (beyond-reference, BASELINE.json north
star): text analysis, dedup (exact / MinHash-LSH / SimHash / n-gram
Jaccard), embedding similarity search, multimodal plumbing — each with
a DuckDB oracle that re-states the computation independently.

Shared determinism machinery: the cross-engine hash seed is the first
8 md5 hex chars as uint32; all vector math is explicit left-to-right
folds; single IEEE divisions only (no float accumulation ambiguity).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    STOPWORDS,
    ascii_lower,
    bpe_token_count,
    content_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    rolling_hash,
    stopword_ratio,
    token_count,
    tokens,
)
from ..operators.dedup import (
    connected_components,
    exact_duplicates,
    lsh_near_duplicates,
    ngram_jaccard_pairs,
    simhash16,
    winnow_fingerprints,
)
from ..operators.anomaly import (
    cusum_from_counts,
    mad_anomalies_from_counts,
    seasonal_anomalies_from_counts,
    seasonal_decompose_counts,
    trend_from_counts,
    window_anomalies_from_counts,
    window_counts,
)
from ..operators.drift import source_drift_from_counts, word_counts
from ..operators.graph import kcore, pagerank, triangle_stats
from ..operators.pca import pca_project
from ..operators.multimodal import (
    attach_binary,
    decode_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import (
    brute_force_topk,
    knn_join,
    lsh_topk,
    topk_ranked,
)
from ..sources.catalog import load_table
from .registry import register

# ---------------------------------------------------------------- SQL lego

_TOKS = "list_filter(string_split_regex({c}, '\\s+'), x -> x <> '')"
_BASE_HASH = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"
# the engine-stable ASCII-only case fold — the SQL twin of
# functions.text.ascii_lower (full `lower()` is Unicode-version-
# dependent across JVM/DuckDB/CPython; see that docstring). Applied
# to EVERY hash-checked tokenize/stopword path since r11 (r10 VERDICT
# casing sweep); the only surviving `lower()` sites are the
# reference-parity enum/header compares in plans/cvp.py and
# sources/files.py, which replicate the reference validator's own
# case-insensitive semantics over controlled ASCII domains.


def _ascii_lower_sql(col: str) -> str:
    return (
        f"translate({col}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        f" 'abcdefghijklmnopqrstuvwxyz')"
    )


_ASCII_LOWER = _ascii_lower_sql("text")


def _shingle_sql(n: int) -> str:
    if n == 1:
        return "list_distinct(t)"
    join = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_distinct([{join} for i in generate_series(1, len(t)-{n - 1})]) "
        f"ELSE [] END"
    )


def _stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"len(list_filter(t, x -> {_ascii_lower_sql('x')} IN ({words})))"
    )


_MINHASH = [
    f"list_min(list_transform(hs, x -> (x * {2 * j + 3} + {7919 * j + 1}) % 2147483647)) AS minh_{j}"
    for j in range(8)
]

_FOLD_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "[{a}[i] * {b}[i] for i in generate_series(1, len({a}))]), (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_FOLD_DOT.format(a=a, b=b)} / "
        f"(sqrt({_FOLD_DOT.format(a=a, b=a)}) * sqrt({_FOLD_DOT.format(a=b, b=b)}))"
    )


def _plane_sql(j: int, v: str = "v") -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"[{v}[i] * ((({j} * 2654435761 + (i - 1) * 40503) % 97) / 48.5 - 1.0) "
        f"for i in generate_series(1, len({v}))]), (x, y) -> x + y)"
    )


def _bucket_sql(n_planes: int, v: str = "v") -> str:
    return " + ".join(
        f"CASE WHEN {_plane_sql(j, v)} >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(n_planes)
    )


# ------------------------------------------------------------ text analysis


@register(
    "text_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKS.format(c="text")} AS t,
             {_TOKS.format(c=_ASCII_LOWER)} AS tl
      FROM documents
    )
    SELECT doc_id,
      len(t) AS n_tokens,
      CASE WHEN length(text) > 0 THEN
        (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
          / length(text) ELSE 0.0 END AS punct_ratio,
      CASE WHEN len(t) > 0 THEN {_stop_hits("en")}::DOUBLE / len(t)
           ELSE 0.0 END AS stop_ratio,
      least(len(t) / 100.0, 1.0) * 0.3
        + (CASE WHEN len(t) > 0 THEN {_stop_hits("en")}::DOUBLE / len(t) ELSE 0.0 END) * 0.5
        + (CASE WHEN (CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
               / length(text) ELSE 0.0 END) < 0.1 THEN 1.0 ELSE 0.0 END) * 0.2
        AS quality,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(t, s -> CAST(length(s) * 7 + ascii(s) AS BIGINT))),
        (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash,
      md5(array_to_string(tl, ' ')) AS fingerprint
    FROM toks
    ORDER BY doc_id
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, punctuation/stopword ratios, composite quality,
    rolling hash, content fingerprint — the cheap text-quality sweep."""
    from ..functions.relations import rebalance_narrow_scan

    # rebalance (r15): a pure per-row projection otherwise runs inside
    # the single-task scan of the one-row-group bench file (guide §2.5
    # input skew; measured 1.23 → 0.49 s at sf0.1; no-op on a
    # realistically multi-file scan). Per-row values are partitioning-
    # independent by construction.
    d = rebalance_narrow_scan(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_ratio(t, "en").alias("stop_ratio"),
        quality_score(t).alias("quality"),
        rolling_hash(t).alias("rolling_hash"),
        content_fingerprint(t).alias("fingerprint"),
    )


@register(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
      len({_TOKS.format(c="text")}) AS ws_tokens,
      len(regexp_extract_all(text,
        '''(?:[sdmt]|ll|ve|re)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'))
        AS bpe_tokens,
      CASE WHEN len({_TOKS.format(c="text")}) > 0 THEN
        len(regexp_extract_all(text,
          '''(?:[sdmt]|ll|ve|re)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'))::DOUBLE
          / len({_TOKS.format(c="text")})
      ELSE 0.0 END AS fertility
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and the GPT-2-style
    pre-tokenizer match count (the BPE-cost proxy), plus their ratio
    (fertility) — the standard signal for code/punct-heavy documents
    that whitespace counting underestimates."""
    from ..functions.relations import rebalance_narrow_scan

    # rebalance (r15): pure per-row projection — see text_lang_id
    d = rebalance_narrow_scan(load_table(spark, sf_dir, "documents"))
    t = F.col("text")
    ws = token_count(t)
    bpe = bpe_token_count(t)
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.when(ws > 0, bpe.cast("double") / ws)
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    hits AS (
      SELECT doc_id, lang,
             {_stop_hits("de")} AS h_de, {_stop_hits("en")} AS h_en,
             {_stop_hits("es")} AS h_es, {_stop_hits("fr")} AS h_fr
      FROM toks
    )
    SELECT doc_id, lang AS labeled_lang,
      CASE
        WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
        WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
        ELSE 'fr'
      END AS predicted_lang
    FROM hits
    ORDER BY doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID next to the labeled lang column."""
    from ..functions.relations import rebalance_narrow_scan

    # rebalance (r15): pure per-row projection, otherwise single-task
    # on the one-row-group bench file (guide §2.5; no-op when parallel)
    d = rebalance_narrow_scan(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("predicted_lang"),
    )


@register(
    "documents_split",
    oracle=f"""
    SELECT doc_id,
           {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':42'")} % 100
             AS bucket,
           CASE WHEN {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':42'")} % 100 < 80
                  THEN 'train'
                WHEN {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':42'")} % 100 < 90
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def documents_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10): the bucket
    is a salted content hash of the id, so membership is stable across
    runs, clusters, and engine versions — never rand()/sample(), whose
    draws differ per run and per partitioning. Changing the salt
    re-splits; the same md5-seed hash is reproduced by the DuckDB
    oracle. At 100 TB this is a pure map-side projection."""
    from ..operators.dedup import base_hash

    d = load_table(spark, sf_dir, "documents")
    bucket = base_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":42"))
    ) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "corpus_profile",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len({_TOKS.format(c="text")}) AS n_tokens,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens,
           quantile_cont(n_tokens, 0.5) AS p50_tokens,
           quantile_cont(n_tokens, 0.95) AS p95_tokens,
           max(n_chars) AS max_chars
    FROM t GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: doc counts, token totals, exact
    interpolated p50/p95 token counts (Spark ``percentile`` ==
    DuckDB ``quantile_cont``), longest document — the pre-training
    sanity sweep. One hash aggregate on a low-cardinality key — but
    exact ``percentile`` buffers every group's values on its reducer,
    so per-group state grows with the corpus: this form is the
    oracle-checkable baseline; ``corpus_profile_approx`` is the same
    profile with bounded-state sketches — the form to run at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum("n_tokens").cast("double") / F.count(F.lit(1))
            ).alias("mean_tokens"),
            F.percentile("n_tokens", F.lit(0.5)).alias("p50_tokens"),
            F.percentile("n_tokens", F.lit(0.95)).alias("p95_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@register("corpus_profile_approx")
def corpus_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_profile`` with bounded aggregation state — the 100 TB
    form. ``approx_percentile`` keeps a fixed-size KLL-style sketch per
    group instead of buffering every value (accuracy 1/10000 here:
    exact to ±0.01% rank), so reducer memory is O(groups · sketch), not
    O(corpus). Approximate answers can't hash-match a DuckDB oracle —
    the driver records rows-only; the tolerance against the exact
    profile is pinned in tests/test_corpus_filters.py."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum("n_tokens").cast("double") / F.count(F.lit(1))
            ).alias("mean_tokens"),
            F.approx_percentile(
                "n_tokens", F.lit(0.5), F.lit(10000)
            ).alias("p50_tokens"),
            F.approx_percentile(
                "n_tokens", F.lit(0.95), F.lit(10000)
            ).alias("p95_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@register(
    "documents_quality_filter",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang,
        least(len(t) / 100.0, 1.0) * 0.3
        + (CASE WHEN len(t) > 0 THEN {_stop_hits("en")}::DOUBLE / len(t)
           ELSE 0.0 END) * 0.5
        + (CASE WHEN (CASE WHEN length(text) > 0 THEN
             (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
               / length(text) ELSE 0.0 END) < 0.1 THEN 1.0 ELSE 0.0 END) * 0.2
          AS quality
      FROM (SELECT doc_id, lang, text,
                   {_TOKS.format(c="text")} AS t FROM documents)
    ),
    thresholds AS (
      SELECT lang, quantile_cont(quality, 0.25) AS q25
      FROM q GROUP BY lang
    )
    SELECT q.doc_id, q.lang, q.quality, t.q25
    FROM q JOIN thresholds t USING (lang)
    WHERE q.quality >= t.q25
    ORDER BY doc_id
    """,
)
def documents_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality gate: drop the bottom quartile of each
    language's quality-score distribution — the standard corpus
    cleaning step. The per-group threshold is a tiny aggregate
    broadcast-joined back (one shuffle of per-lang rows, never a
    corpus-wide window), so the filter is map-side after the join at
    any scale."""
    from pyspark.sql.functions import broadcast

    from ..functions.relations import rebalance_narrow_scan

    # rebalance (r15): the quality projection feeds both the exact
    # per-lang quantile and the gate join; otherwise single-task
    # (guide §2.5; no-op when the scan is parallel)
    d = rebalance_narrow_scan(load_table(spark, sf_dir, "documents"))
    q = d.select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
    )
    thresholds = q.groupBy("lang").agg(
        F.percentile("quality", F.lit(0.25)).alias("q25")
    )
    return (
        q.join(broadcast(thresholds), "lang")
        .filter(F.col("quality") >= F.col("q25"))
        .select("doc_id", "lang", "quality", "q25")
    )


@register(
    "documents_chunked",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(CASE WHEN len(t) > 0 THEN
               generate_series(0, len(t) - 1, 24) ELSE [] END) AS start_pos
      FROM toks
    )
    SELECT doc_id, start_pos // 24 AS chunk_id, start_pos,
           len(list_slice(t, start_pos + 1, start_pos + 32)) AS n_chunk_tokens,
           array_to_string(list_slice(t, start_pos + 1, start_pos + 32), ' ')
             AS chunk_text
    FROM starts
    ORDER BY doc_id, chunk_id
    """,
)
def documents_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for training: 32-token chunks with
    8-token overlap (stride 24) — the standard long-document split
    before tokenization/packing. Pure map-side generator: the chunk
    starts come from ``sequence`` + ``posexplode`` over the scan, so
    output scales with token count (no shuffle, no window); zero-token
    docs emit zero chunks."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.when(
                F.size("t") > 0,
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(24)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("start_pos"),
    )
    chunk = F.slice("t", F.col("start_pos") + 1, 32)
    return (
        starts.select(
            "doc_id",
            (F.col("start_pos").cast("long") / 24).cast("long").alias("chunk_id"),
            F.col("start_pos").cast("long").alias("start_pos"),
            F.size(chunk).cast("long").alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


@register(
    "documents_shuffled_shards",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS shuffle_key,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 8))::BIGINT % 16
               AS shard_id
      FROM documents
    )
    SELECT doc_id, shard_id, shuffle_key,
           CAST(row_number() OVER (
             PARTITION BY shard_id ORDER BY shuffle_key, doc_id) - 1
             AS BIGINT) AS position
    FROM keyed
    ORDER BY shard_id, position
    """,
)
def documents_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global-shuffle shard manifest — the epoch-order
    artifact a training run consumes: each example keyed by the md5
    digest of (doc_id, seed), sharded by the digest's top 32 bits mod
    16, ordered within its shard by the digest. The permutation is
    decorrelated from ingest order (no crawl-domain runs in a batch),
    byte-reproducible across retries and restarts (md5 of stable
    inputs — unlike ``orderBy(rand())``, which Spark documents as
    nondeterministic under task retry), and re-seedable per epoch.
    Scale shape: the ONLY motion is one hash shuffle on the shard id;
    within-shard order is a bounded per-shard sort (position via
    row_number PARTITIONED by shard — state O(n/n_shards), uniform by
    md5), never a global sort or a range-sampling job. The companion
    writer ``write_shuffled_shards`` (sources/catalog.py) persists the
    same layout with sortWithinPartitions + partitionBy."""
    from ..sources.catalog import shard_of, shuffle_key

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        shuffle_key(F.col("doc_id"), "epoch0").alias("shuffle_key"),
        shard_of(F.col("doc_id"), "epoch0", 16).alias("shard_id"),
    )
    w = W.partitionBy("shard_id").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard_id",
        "shuffle_key",
        (F.row_number().over(w) - 1).cast("long").alias("position"),
    )


@register(
    "documents_packed",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS offset,
           CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 64.0)
             AS BIGINT) AS seq_id
    FROM t
    ORDER BY doc_id
    """,
)
def documents_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing accounting: docs are laid head-to-tail per
    source shard (ordered by doc_id — deterministic), each doc gets its
    running token offset and the 64-token training sequence its first
    token lands in. The cumulative sum is a window PARTITIONED BY
    source — state bounded by the largest shard, never a global window;
    at 100 TB the shard key is whatever unit downstream packing runs
    over (file, shard, source)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        offset.alias("offset"),
        F.floor(offset / 64.0).cast("long").alias("seq_id"),
    )


# The full curation pipeline as DuckDB CTEs — shared by the
# documents_curated oracle and the documents_curation_funnel stage
# counts, so the two can never drift apart.
# the SQL twin of functions.text.quality_score over a CTE exposing the
# raw `text` column and its token list as `t` — shared by the curated
# CTE block and the budget-selection oracle so the two can't drift
_QUALITY_SQL = f"""least(len(t) / 100.0, 1.0) * 0.3
               + (CASE WHEN len(t) > 0 THEN {_stop_hits("en")}::DOUBLE / len(t)
                  ELSE 0.0 END) * 0.5
               + (CASE WHEN (CASE WHEN length(text) > 0 THEN
                    (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                      / length(text) ELSE 0.0 END) < 0.1 THEN 1.0 ELSE 0.0 END) * 0.2"""

_CURATED_CTES = f"""
    toks AS (
      SELECT doc_id, lang, source, text,
             {_TOKS.format(c="text")} AS t,
             {_TOKS.format(c=_ASCII_LOWER)} AS tl
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, source, len(t) AS n_tokens,
             md5(array_to_string(tl, ' ')) AS fingerprint,
             least(len(t) / 100.0, 1.0) AS len_term,
             {_QUALITY_SQL}
               AS quality,
             CASE WHEN len(t) > 0 THEN
               (len(t) - len(list_distinct(t)))::DOUBLE / len(t)
             ELSE 0.0 END AS dup_token_frac,
             CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
             ELSE [] END AS bigrams
      FROM toks
    ),
    top AS (
      SELECT doc_id, max(n) AS top_n, sum(n) AS total
      FROM (SELECT doc_id, gram, count(*) AS n
            FROM (SELECT doc_id, unnest(bigrams) AS gram FROM scored)
            GROUP BY doc_id, gram)
      GROUP BY doc_id
    ),
    keepers AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (PARTITION BY fingerprint
                 ORDER BY len_term DESC, doc_id) AS rk FROM scored)
      WHERE rk = 1
    ),
    clean AS (
      SELECT s.* FROM scored s
      JOIN keepers USING (doc_id)
      LEFT JOIN top USING (doc_id)
      WHERE s.dup_token_frac <= 0.625
        AND coalesce(top.top_n::DOUBLE / top.total, 0.0) <= 0.06
    ),
    q25 AS (
      SELECT lang, quantile_cont(quality, 0.25) AS q25 FROM clean GROUP BY lang
    ),
    quality_pass AS (
      SELECT c.* FROM clean c JOIN q25 USING (lang) WHERE c.quality >= q25.q25
    ),
    totals AS (SELECT source, sum(n_tokens) AS tok FROM quality_pass GROUP BY source),
    m AS (SELECT min(tok) AS mn FROM totals),
    rates AS (
      SELECT source, CAST(floor(mn::DOUBLE / tok * 10000) AS BIGINT) AS threshold
      FROM totals, m
    ),
    curated AS (
      SELECT q.doc_id, q.lang, q.source, q.n_tokens
      FROM quality_pass q JOIN rates r USING (source)
      WHERE {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':mix'")} % 10000
              < r.threshold
    )
"""


@register(
    "documents_curated",
    oracle=f"""
    WITH {_CURATED_CTES}
    SELECT doc_id, lang, source, n_tokens FROM curated ORDER BY doc_id
    """,
)
def documents_curated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE declarative plan: exact-dedup
    keeper selection → Gopher-style repetition filter → per-language
    bottom-quartile quality gate (thresholds computed over the
    survivors, as a real pipeline would) → equal-token-share source
    rebalancing. Every stage keeps its scale shape from the standalone
    operator: argmin aggregate for keepers, chained per-doc hash
    aggregates for repetition, broadcast threshold/rate tables for the
    gates. In this PURE single-query form the diamond-shared stages
    are re-evaluated per consumer as column-pruned scans (exchange
    reuse can't dedup them: each branch prunes a different schema);
    ``curate_documents_scoped`` persists the two shared stage
    boundaries instead — the production materialization pattern, same
    rows."""
    d = load_table(spark, sf_dir, "documents")
    return _curated_plan(d)


@register(
    "documents_curation_funnel",
    oracle=f"""
    WITH {_CURATED_CTES}
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage, 'input' AS gate,
             CAST(count(*) AS BIGINT) AS n_docs FROM scored
      UNION ALL
      SELECT 2, 'dedup_and_repetition', CAST(count(*) AS BIGINT) FROM clean
      UNION ALL
      SELECT 3, 'quality_quartile', CAST(count(*) AS BIGINT)
      FROM quality_pass
      UNION ALL
      SELECT 4, 'mixture_rebalance', CAST(count(*) AS BIGINT) FROM curated
    ) ORDER BY stage
    """,
)
def documents_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability over the flagship pipeline: how many documents
    survive each curation gate — the funnel a production run reports
    next to its output. Built by capturing ``_curated_plan``'s pinned
    stage boundaries (the same plan object ``documents_curated``
    executes — not a reimplementation, so the counts can never drift
    from the real pipeline) plus the final mixture stage; four 1-row
    count aggregates unioned, each a column-pruned scan of its
    stage's subtree. The oracle shares the curated CTE block
    verbatim for the same no-drift guarantee."""
    d = load_table(spark, sf_dir, "documents")
    stages: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        # checkpoint-then-capture so the four gate counts and the final
        # stage all read the materialized boundary (see _curated_plan)
        h = df.localCheckpoint()
        stages.append(h)
        return h

    final = _curated_plan(d, pin=pin)
    return _funnel_counts(stages, final)


def _stage_count(rank: int, gate: str, df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("n_docs")).select(
        F.lit(rank).cast("long").alias("stage"),
        F.lit(gate).alias("gate"),
        "n_docs",
    )


def _funnel_counts(stages: list[DataFrame], final: DataFrame) -> DataFrame:
    scored, clean, quality_pass = stages
    return (
        _stage_count(1, "input", scored)
        .unionByName(_stage_count(2, "dedup_and_repetition", clean))
        .unionByName(_stage_count(3, "quality_quartile", quality_pass))
        .unionByName(_stage_count(4, "mixture_rebalance", final))
        .orderBy("stage")
    )


@contextmanager
def curation_funnel_scoped(d: DataFrame):
    """Production funnel: the same four gate counts as the registered
    ``documents_curation_funnel``, computed in a SINGLE pass over the
    corpus. The pure funnel re-executes the flagship subtree under
    each count (column pruning keeps it cheap at test scale, but at
    100 TB that is four corpus scans for observability); here the
    diamond-shared stage boundaries (scored / clean / quality_pass)
    are persisted, so the one parquet scan that materializes ``scored``
    feeds every downstream count and the final mixture stage from
    memory/disk cache. Same rows as the pure form (asserted in tests,
    which also pin the one-FileScan plan shape); run your actions
    inside the block — boundaries unpersist on exit."""
    handles: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        h = df.persist()
        handles.append(h)
        return h

    try:
        final = _curated_plan(d, pin)
        yield _funnel_counts(handles, final)
    finally:
        for h in handles:
            h.unpersist()


@register(
    "documents_training_examples",
    oracle=f"""
    WITH {_CURATED_CTES},
    cur_docs AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN curated c ON c.doc_id = d.doc_id
    ),
    toks2 AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM cur_docs
    ),
    starts AS (
      SELECT doc_id, source, t,
             unnest(CASE WHEN len(t) > 0 THEN
               generate_series(0, len(t) - 1, 24) ELSE [] END) AS start_pos
      FROM toks2
    ),
    chunks AS (
      SELECT doc_id, source, start_pos // 24 AS chunk_id,
             len(list_slice(t, start_pos + 1, start_pos + 32))
               AS n_chunk_tokens,
             array_to_string(list_slice(t, start_pos + 1, start_pos + 32),
                             ' ') AS chunk_text
      FROM starts
    )
    SELECT doc_id, chunk_id, source, n_chunk_tokens, chunk_text,
           CAST(coalesce(sum(n_chunk_tokens) OVER (
             PARTITION BY source ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS offset,
           CAST(floor(coalesce(sum(n_chunk_tokens) OVER (
             PARTITION BY source ORDER BY doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 64.0)
             AS BIGINT) AS seq_id
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def documents_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's TERMINAL artifact, end to end in one declarative
    plan: raw corpus → full curation (dedup keepers → repetition →
    quality quartile → mixture rebalance, the flagship
    ``documents_curated`` subtree) → 32/24 sliding-window chunking of
    the survivors' text → per-source-shard sequence packing (running
    offset + 64-token seq_id per chunk). What a training run actually
    consumes — one query from object store to packed examples. Every
    stage keeps its standalone operator's scale shape: broadcast
    gates, map-side chunk generator, cumsum window PARTITIONED by the
    shard key (state bounded by the largest shard, never global).
    Oracle composes the curated CTE block verbatim with the
    chunk/pack SQL, so the composition can't drift from the pieces."""
    d = load_table(spark, sf_dir, "documents")
    cur = _curated_plan(d).select("doc_id")
    docs = d.join(cur, "doc_id").select(
        "doc_id", "source", tokens(F.col("text")).alias("t")
    )
    starts = docs.select(
        "doc_id",
        "source",
        "t",
        F.explode(
            F.when(
                F.size("t") > 0,
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(24)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("start_pos"),
    )
    chunk = F.slice("t", F.col("start_pos") + 1, 32)
    chunks = starts.select(
        "doc_id",
        (F.col("start_pos") / 24).cast("long").alias("chunk_id"),
        "source",
        F.size(chunk).alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_chunk_tokens").over(w), F.lit(0).cast("long"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        "source",
        "n_chunk_tokens",
        "chunk_text",
        offset.alias("offset"),
        F.floor(offset / 64.0).cast("long").alias("seq_id"),
    )


@register(
    "documents_training_shards",
    oracle=f"""
    WITH {_CURATED_CTES},
    cur_docs AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN curated c ON c.doc_id = d.doc_id
    ),
    toks2 AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM cur_docs
    ),
    starts AS (
      SELECT doc_id, source, t,
             unnest(CASE WHEN len(t) > 0 THEN
               generate_series(0, len(t) - 1, 24) ELSE [] END) AS start_pos
      FROM toks2
    ),
    chunks AS (
      SELECT doc_id, start_pos // 24 AS chunk_id,
             len(list_slice(t, start_pos + 1, start_pos + 32))
               AS n_chunk_tokens
      FROM starts
    ),
    keyed AS (
      SELECT doc_id, chunk_id, n_chunk_tokens,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(chunk_id AS VARCHAR) || ':epoch0') AS shuffle_key,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(chunk_id AS VARCHAR) || ':epoch0'), 1, 8))::BIGINT % 16
               AS shard_id
      FROM chunks
    )
    SELECT doc_id, chunk_id, n_chunk_tokens, shard_id,
           CAST(row_number() OVER (
             PARTITION BY shard_id ORDER BY shuffle_key, doc_id, chunk_id) - 1
             AS BIGINT) AS position
    FROM keyed
    ORDER BY shard_id, position
    """,
)
def documents_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The terminal artifact SHUFFLED: ``documents_training_examples``
    (raw corpus → full curation → chunking) composed with the
    deterministic epoch shuffle — per-example md5(doc_id:chunk_id:seed)
    keys, 16 uniform hash shards, bounded per-shard positions. This is
    the manifest an epoch of training reads: curation decides WHAT is
    trained on, the shuffle decides in what ORDER, and both are one
    declarative plan from the object store. Adds exactly one hash
    shuffle (the shard id) on top of the curation subtree — no global
    sort, no rand(); identical examples land in identical shards on
    every retry, restart, and re-run, which is what makes mid-epoch
    restart reproducible. Oracle composes the curated CTE block with
    the chunk and shuffle SQL verbatim, so the composition cannot
    drift from its pieces.

    The seed-dependent shuffle half is ``epoch_shard_manifest``; a
    multi-epoch run persists the seed-INDEPENDENT curation+chunking
    half once via ``sources.catalog.write_training_examples`` and
    pays only the manifest per epoch (probe ≡ this query pinned in
    tests/test_training_examples_layout.py; measured amortization in
    SCALE.md)."""
    from ..sources.catalog import epoch_shard_manifest

    ex = documents_training_examples(spark, sf_dir)
    return epoch_shard_manifest(ex, "epoch0", 16)


@register(
    "documents_training_shards_packed",
    oracle=f"""
    WITH {_CURATED_CTES},
    cur_docs AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN curated c ON c.doc_id = d.doc_id
    ),
    toks2 AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM cur_docs
    ),
    starts AS (
      SELECT doc_id, source, t,
             unnest(CASE WHEN len(t) > 0 THEN
               generate_series(0, len(t) - 1, 24) ELSE [] END) AS start_pos
      FROM toks2
    ),
    chunks AS (
      SELECT doc_id, start_pos // 24 AS chunk_id,
             len(list_slice(t, start_pos + 1, start_pos + 32))
               AS n_chunk_tokens
      FROM starts
    ),
    keyed AS (
      SELECT doc_id, chunk_id, n_chunk_tokens,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(chunk_id AS VARCHAR) || ':epoch0') AS shuffle_key,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(chunk_id AS VARCHAR) || ':epoch0'), 1, 8))::BIGINT % 16
               AS shard_id
      FROM chunks
    )
    SELECT doc_id, chunk_id, n_chunk_tokens, shard_id,
           CAST(row_number() OVER w - 1 AS BIGINT) AS position,
           CAST(coalesce(sum(n_chunk_tokens) OVER (
             PARTITION BY shard_id ORDER BY shuffle_key, doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS offset,
           CAST(floor(coalesce(sum(n_chunk_tokens) OVER (
             PARTITION BY shard_id ORDER BY shuffle_key, doc_id, chunk_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 64.0)
             AS BIGINT) AS seq_id
    FROM keyed
    WINDOW w AS (PARTITION BY shard_id
                 ORDER BY shuffle_key, doc_id, chunk_id)
    ORDER BY shard_id, position
    """,
)
def documents_training_shards_packed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``documents_training_shards`` made directly consumable: the
    epoch-shuffled manifest PLUS per-shard running token offsets and
    64-token sequence ids in shuffled order — what the data loader
    actually indexes into (shard file, byte/token offset, sequence
    boundary). Sequences never cross shards (each shard is an
    independent token stream, the standard per-shard packing contract),
    so the cumulative sum rides the SAME shard-partitioned window as
    the position column — state still bounded by n/n_shards, still no
    global sort, one extra aggregate expression over an exchange the
    plan already pays for."""
    from ..sources.catalog import epoch_shard_manifest

    ex = documents_training_examples(spark, sf_dir)
    return epoch_shard_manifest(ex, "epoch0", 16, packed=True)


def _curated_plan(
    d: DataFrame, pin=lambda df: df.localCheckpoint()
) -> DataFrame:
    """Curation pipeline plan over a documents frame. ``pin`` is
    applied at the diamond-shared stage boundaries (scored, clean,
    quality_pass — each consumed by 2-3 downstream branches).
    r16 (guide §5 — materialize a reused intermediate): the default
    pin is now ``localCheckpoint`` (the MMR/PQ device, built fresh
    inside every run — NOT a cross-run cache): the pure pass-through
    form re-evaluated the tokenize/fingerprint/quality projection once
    per diamond consumer (122 Exchanges in documents_training_shards'
    r16 before-plan; at 100 TB that is 3+ corpus tokenize passes),
    while the checkpoint pays one tokenize plus one node-local
    materialization. Measured min-of-3 interleaved at sf0.1/32c
    (7f66565:tools/ab_curated_pin.py): curated 3.11→2.10, funnel 3.66→1.95,
    examples 3.58→2.15, shards 3.07→2.10, packed 3.18→1.99.
    ``curate_documents_scoped`` still passes its persist-pin (the
    scoped production pattern with explicit unpersist)."""
    from ..functions.relations import rebalance_narrow_scan
    from ..functions.text import tokens as toks_fn
    from ..operators.dedup import base_hash

    # rebalance (r15): the tokenize/fingerprint/quality projection —
    # re-evaluated column-pruned by each diamond consumer — otherwise
    # runs inside the single-task scan (guide §2.5; no-op on a
    # parallel scan). Every downstream aggregate is exact (integer
    # counts, min_by argmins, exact percentile), so partitioning
    # cannot change any value.
    d = rebalance_narrow_scan(d)
    t = toks_fn(F.col("text"))
    n = F.size(t)
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_tokens"),
        content_fingerprint(F.col("text")).alias("fingerprint"),
        F.least(n / F.lit(100.0), F.lit(1.0)).alias("len_term"),
        quality_score(F.col("text")).alias("quality"),
        F.when(n > 0, (n - F.size(F.array_distinct(t))).cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("bigrams"),
    )
    scored = pin(scored)
    top = (
        scored.select("doc_id", F.explode("bigrams").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_n"), F.sum("cnt").alias("total"))
    )
    keepers = scored.groupBy("fingerprint").agg(
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("len_term")).alias("neg_len"),
                F.col("doc_id").alias("tie"),
            ),
        ).alias("doc_id")
    ).select("doc_id")
    clean = (
        scored.join(keepers, "doc_id")
        .join(top, "doc_id", "left")
        .filter(
            (F.col("dup_token_frac") <= 0.625)
            & (
                F.coalesce(
                    F.col("top_n").cast("double") / F.col("total"), F.lit(0.0)
                )
                <= 0.06
            )
        )
    )
    clean = pin(clean)
    q25 = clean.groupBy("lang").agg(
        F.percentile("quality", F.lit(0.25)).alias("q25")
    )
    quality_pass = pin(
        clean.join(F.broadcast(q25), "lang").filter(
            F.col("quality") >= F.col("q25")
        )
    )
    totals = quality_pass.groupBy("source").agg(F.sum("n_tokens").alias("tok"))
    m = totals.agg(F.min("tok").alias("mn"))
    rates = totals.crossJoin(F.broadcast(m)).select(
        "source",
        F.floor(F.col("mn").cast("double") / F.col("tok") * 10000).alias(
            "threshold"
        ),
    )
    bucket = base_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))
    ) % 10000
    return (
        quality_pass.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("threshold"))
        .select("doc_id", "lang", "source", "n_tokens")
    )


@contextmanager
def curate_documents_scoped(d: DataFrame):
    """Materialized curation pipeline: persists the diamond-shared
    stage boundaries (scored / clean / quality_pass) for the block and
    unpersists on exit — the production pattern for multi-consumer
    stages that pure exchange reuse cannot dedup (each consumer prunes
    a different column set, so the canonical exchanges never match).
    Same rows as the registered ``documents_curated`` query (asserted
    in tests); run your actions inside the block."""
    handles: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        h = df.persist()
        handles.append(h)
        return h

    try:
        yield _curated_plan(d, pin)
    finally:
        for h in handles:
            h.unpersist()


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, t, len(t) AS dl
      FROM (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents)
    ),
    tok AS (SELECT doc_id, dl, unnest(t) AS token FROM toks),
    tf AS (SELECT doc_id, dl, token, count(*) AS tc
           FROM tok GROUP BY doc_id, dl, token),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, token,
             (tc::DOUBLE / dl) * (n.n::DOUBLE / df.df) AS tfidf
      FROM tf JOIN df USING (token), n
    ),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, token, tfidf, rank FROM ranked WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document. The idf is the plain inverse
    ratio N/df, NOT ln(N/df): libm log is not guaranteed identically
    rounded across engines, while the ratio is a single IEEE division —
    and the ranking is monotone-identical either way. Doc length rides
    the (doc_id, token) aggregate key (it's functionally dependent on
    doc_id), so the only joins are the token-keyed df join and a
    broadcast 1-row corpus count; the final window partitions by
    doc_id — state bounded by per-doc vocabulary."""
    from ..functions.relations import rebalance_narrow_scan

    d = load_table(spark, sf_dir, "documents")
    # rebalance (r15): BOTH tokenize passes otherwise run inside the
    # single-task scan (guide §2.5; no-op on a parallel scan); tf/df
    # are integer counts, partitioning cannot change them
    tok = rebalance_narrow_scan(d).select(
        "doc_id",
        token_count(F.col("text")).alias("dl"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    # the tf frame feeds both the df aggregate (token only, pruned)
    # and the score join (all columns); the tokenize pass runs twice.
    # A repartition(token) pin (ReuseExchange) was tried and measured
    # strictly slower: the pinned shuffle of the full tf frame costs
    # more than the duplicated column-pruned map work it saves. That
    # is the right scale trade: both passes parallelize perfectly,
    # while the alternative (df as count().over(
    # Window.partitionBy(token))) funnels every occurrence of a
    # stopword-grade token through one task.
    tf = tok.groupBy("doc_id", "dl", "token").agg(
        F.count(F.lit(1)).alias("tc")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                (F.col("tc").cast("double") / F.col("dl"))
                * (F.col("n").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register(
    "documents_mixture_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOKS.format(c="text")}) AS n_tokens
      FROM documents
    ),
    totals AS (SELECT source, sum(n_tokens) AS tok FROM t GROUP BY source),
    m AS (SELECT min(tok) AS mn FROM totals),
    rates AS (
      SELECT source, CAST(floor(mn::DOUBLE / tok * 10000) AS BIGINT) AS threshold
      FROM totals, m
    )
    SELECT t.doc_id, t.source, t.n_tokens, r.threshold
    FROM t JOIN rates r USING (source)
    WHERE {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':mix'")} % 10000
            < r.threshold
    ORDER BY doc_id
    """,
)
def documents_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing: downsample every source to the
    token budget of the smallest source (equal-share mixing weights),
    selecting docs by a salted content hash so membership is stable
    across runs and retries — never rand()-based sampling. The
    per-source rate table is a tiny aggregate broadcast back; the
    sample decision is then a map-side filter over the scan at any
    scale."""
    from ..operators.dedup import base_hash

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    totals = t.groupBy("source").agg(F.sum("n_tokens").alias("tok"))
    m = totals.agg(F.min("tok").alias("mn"))
    rates = totals.crossJoin(F.broadcast(m)).select(
        "source",
        F.floor(F.col("mn").cast("double") / F.col("tok") * 10000).alias(
            "threshold"
        ),
    )
    bucket = base_hash(
        F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))
    ) % 10000
    return (
        t.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("threshold"))
        .select("doc_id", "source", "n_tokens", "threshold")
    )


@register(
    "documents_repetition_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    bi AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN
               [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
             ELSE [] END) AS gram
      FROM toks
    ),
    c AS (SELECT doc_id, gram, count(*) AS n FROM bi GROUP BY doc_id, gram),
    top AS (SELECT doc_id, max(n) AS top_n, sum(n) AS total FROM c GROUP BY doc_id),
    stats AS (
      SELECT doc_id, len(t) AS n_tokens,
             CASE WHEN len(t) > 0 THEN
               (len(t) - len(list_distinct(t)))::DOUBLE / len(t)
             ELSE 0.0 END AS dup_token_frac
      FROM toks
    )
    SELECT s.doc_id, s.n_tokens, s.dup_token_frac,
           coalesce(top.top_n, 0) AS top_bigram_count,
           coalesce(top.top_n::DOUBLE / top.total, 0.0) AS top_bigram_frac,
           (s.dup_token_frac <= 0.625
            AND coalesce(top.top_n::DOUBLE / top.total, 0.0) <= 0.06) AS keep
    FROM stats s LEFT JOIN top USING (doc_id)
    ORDER BY doc_id
    """,
)
def documents_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-token fraction and
    the fraction of bigrams taken by the single most frequent bigram,
    plus a keep flag at thresholds tuned to this corpus. Token stats
    are map-side HOFs; the top-bigram count is explode → two chained
    hash aggregates ((doc_id, gram) then doc_id) with map-side
    combine — linear shuffles keyed by doc, never a corpus-wide window,
    so the shape survives 100 TB (the per-doc state is one row per
    distinct bigram, bounded by document length)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    stats = toks.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, (n - F.size(F.array_distinct("t"))).cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
    )
    bigrams = (
        "CASE WHEN size(t) >= 2 THEN "
        "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1), "
        "(a, b) -> concat(a, ' ', b)) ELSE array() END"
    )
    top = (
        toks.select("doc_id", F.explode(F.expr(bigrams)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top_n"), F.sum("n").alias("total"))
    )
    return (
        stats.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_frac",
            F.coalesce(F.col("top_n"), F.lit(0).cast("long")).alias(
                "top_bigram_count"
            ),
            F.coalesce(
                F.col("top_n").cast("double") / F.col("total"), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
        .select(
            "*",
            (
                (F.col("dup_token_frac") <= 0.625)
                & (F.col("top_bigram_frac") <= 0.06)
            ).alias("keep"),
        )
    )


# Shared by documents_contamination and its bloom-prefiltered twin:
# the bloom pass changes WHICH eval rows reach the exact join, never
# the result (a Bloom filter has no false negatives), so both forms
# answer to the identical oracle.
_CONTAMINATION_ORACLE = f"""
    WITH s AS (
      SELECT doc_id,
             {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':42'")} % 100 < 80
               AS is_train,
             {_TOKS.format(c="text")} AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, is_train,
             CASE WHEN len(t) >= 4 THEN
               list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                              for i in generate_series(1, len(t)-3)])
             ELSE [] END AS grams
      FROM s
    ),
    tr AS (SELECT DISTINCT gram FROM
             (SELECT unnest(grams) AS gram FROM g WHERE is_train)),
    ev AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_train),
    hits AS (SELECT ev.doc_id, count(*) AS n_contaminated
             FROM ev JOIN tr USING (gram) GROUP BY ev.doc_id),
    base AS (SELECT doc_id, len(grams) AS n_grams FROM g WHERE NOT is_train)
    SELECT b.doc_id, b.n_grams,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           CASE WHEN b.n_grams > 0 THEN
             coalesce(h.n_contaminated, 0)::DOUBLE / b.n_grams
           ELSE 0.0 END AS contamination_frac
    FROM base b LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """


@register("documents_contamination", oracle=_CONTAMINATION_ORACLE)
def documents_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination sweep: for every eval-split document
    (val/test under the same salted-hash split as ``documents_split``),
    the fraction of its distinct token 4-grams that also occur anywhere
    in the train split.

    Shape: one tokenize+gram explode subtree feeding exactly TWO
    consumers — the train-side gram distinct and the eval-side join —
    instead of the naive three (train/eval/base as separate subtrees,
    which re-tokenized the corpus three times: 21.8 s vs 0.5 s at
    sf0.1; per-doc gram counts come free out of the final aggregate,
    eliminating the base subtree). The two consumers prune different
    schemas, so an exchange pin canNOT dedupe them (measured: a
    repartition(gram) pin adds ~40% — the shuffle costs more than the
    duplicated column-pruned map work; same finding as tf-idf).
    Hot grams (stopword runs) skew the join, which AQE's skew-join
    splits at runtime — the reason this is a join, not a
    gram-partitioned window (AQE cannot split a window partition).
    At 100 TB the bloom pre-join form is
    ``documents_contamination_bloom`` (same oracle — a bloom cannot
    change the result — with the eval side screened before this
    join's shuffle; measured trade in SCALE.md)."""
    from ..operators.dedup import base_hash

    d = load_table(spark, sf_dir, "documents")
    is_train = (
        base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))) % 100
        < 80
    )
    grams = (
        "CASE WHEN size(t) >= 4 THEN "
        "array_distinct(transform(sequence(0, size(t)-4), "
        "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3]))) "
        "ELSE array() END"
    )
    g = d.select(
        "doc_id", is_train.alias("is_train"), tokens(F.col("text")).alias("t")
    ).select("doc_id", "is_train", F.expr(grams).alias("grams"))
    # explode_outer keeps zero-gram eval docs (they surface with a NULL
    # gram → n_grams 0, frac 0.0)
    exploded = g.select(
        "doc_id", "is_train", F.explode_outer("grams").alias("gram")
    )
    train = (
        exploded.filter(F.col("is_train") & F.col("gram").isNotNull())
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = exploded.filter(~F.col("is_train"))
    return (
        ev.join(train, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.when(
                F.col("n_grams") > 0,
                F.col("n_contaminated").cast("double") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("contamination_frac"),
        )
    )


@register("documents_contamination_bloom", oracle=_CONTAMINATION_ORACLE)
def documents_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents_contamination`` with the 100 TB pre-join that
    SCALE.md promised: eval-side grams are screened against a Bloom
    bitmap of the train gram set — auto-sized from an
    approx_count_distinct pre-pass to hold a 1% fp-rate, clamped to
    the documented broadcast budget — BEFORE the exact gram join, so the join's shuffle carries only grams that might be
    contaminated (plus the bitmap's small false-positive tail) instead
    of every eval gram. Identical result to the exact form — a Bloom
    filter cannot false-negative, and the surviving false positives
    are eliminated by the exact join it protects — hence the shared
    oracle.

    Structure: the bitmap is built from the RAW train gram stream (no
    pre-distinct; ``bit_or`` is idempotent) with one bounded shuffle to
    ≤ num_bits/64 rows, broadcast once, probed with two semi-joins
    (map-side). Per-doc gram totals come from their own partial-agg
    shuffle of (doc_id, count) pairs — the price of counting rows the
    bloom is about to drop — which is why the exact single-aggregate
    form remains the right plan at SMALL scale and this one wins when
    the gram shuffle dominates: at 100 TB the eval gram relation is
    ~20% of a corpus-scale explode, and typically ≳95% of eval grams
    are clean and never leave their map task here."""
    from ..operators.bloom import bloom_build_auto, bloom_probe
    from ..operators.dedup import base_hash

    d = load_table(spark, sf_dir, "documents")
    is_train = (
        base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))) % 100
        < 80
    )
    grams = (
        "CASE WHEN size(t) >= 4 THEN "
        "array_distinct(transform(sequence(0, size(t)-4), "
        "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2], ' ', t[i+3]))) "
        "ELSE array() END"
    )
    g = d.select(
        "doc_id", is_train.alias("is_train"), tokens(F.col("text")).alias("t")
    ).select("doc_id", "is_train", F.expr(grams).alias("grams"))
    exploded = g.select(
        "doc_id", "is_train", F.explode_outer("grams").alias("gram")
    )
    train = exploded.filter(F.col("is_train") & F.col("gram").isNotNull())
    ev = exploded.filter(~F.col("is_train"))
    # per-doc totals must be counted BEFORE the bloom drops clean grams
    # (count("gram") skips the explode_outer NULL of zero-gram docs)
    base = ev.groupBy("doc_id").agg(F.count("gram").alias("n_grams"))
    # bitmap sized from the data (approx_count_distinct pre-pass) so
    # the fp-rate tracks the 1% target at any corpus size instead of
    # saturating past a hand-picked constant (VERDICT r7 item 4)
    bitmap, num_bits = bloom_build_auto(train, "gram", fpp=0.01)
    ev_maybe = bloom_probe(
        ev.filter(F.col("gram").isNotNull()), "gram", bitmap,
        num_bits=num_bits,
    )
    hits = (
        ev_maybe.join(train.select("gram").distinct(), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias(
            "n_contaminated"
        ),
        F.when(
            F.col("n_grams") > 0,
            F.coalesce("n_contaminated", F.lit(0)).cast("double")
            / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination_frac"),
    )


@register(
    "documents_contamination_fuzzy",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':42'")} % 100 < 80
               AS is_train,
             {_TOKS.format(c="text")} AS t
      FROM documents
    ),
    shg AS (SELECT doc_id, is_train, {_shingle_sql(3)} AS sh FROM s),
    hs AS (SELECT doc_id, is_train,
                  list_transform(sh, s -> {_BASE_HASH.format(s="s")}) AS hs
           FROM shg WHERE len(sh) > 0),
    sig AS (SELECT doc_id, is_train, list_distinct(hs) AS shd,
                   {", ".join(_MINHASH)}
            FROM hs),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, is_train, {j} AS band, minh_{j} AS value FROM sig" for j in range(8))}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS ev_id, r.doc_id AS tr_id
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.value = r.value
      WHERE NOT l.is_train AND r.is_train
    ),
    ver AS (
      SELECT ev_id, tr_id,
             len(list_intersect(x.shd, y.shd)) AS i,
             len(x.shd) AS la, len(y.shd) AS lb
      FROM cand
      JOIN sig x ON x.doc_id = ev_id
      JOIN sig y ON y.doc_id = tr_id
    ),
    hits AS (
      SELECT ev_id AS doc_id, count(*) AS n_train_matches,
             max(i::DOUBLE / (la + lb - i)) AS max_jaccard
      FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.3
      GROUP BY ev_id
    ),
    ev AS (SELECT doc_id FROM s WHERE NOT is_train)
    SELECT ev.doc_id,
           coalesce(h.n_train_matches, 0) AS n_train_matches,
           coalesce(h.max_jaccard, 0.0) AS max_jaccard,
           coalesce(h.n_train_matches, 0) > 0 AS contaminated
    FROM ev LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def documents_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (near-duplicate) train→eval decontamination: every
    eval-split document scored by banded MinHash-LSH against the TRAIN
    split — the near-dup complement of ``documents_contamination``'s
    exact 4-gram sweep. Real decontamination needs both: exact n-gram
    overlap catches verbatim quotes, this catches lightly-edited
    near-copies whose grams all differ.

    Composition, not new machinery: the same shingle→minhash→band
    pipeline as ``dedup_minhash_pairs``, but as a CROSS join between
    the two splits (operators/dedup.py:lsh_cross_near_duplicates) —
    the candidate join shuffles only (band, value, doc_id) tuples,
    linear in corpus size, and verify rejoins shingle sets by doc id.
    Per eval doc: how many train docs it near-matches (Jaccard >= 0.3)
    and the strongest match. Eval docs with no LSH candidates (or too
    short to shingle) surface with zero matches via the left join —
    the full-sweep contract every decontamination report needs.

    In-query minhashing of BOTH splits is right for a one-shot sweep;
    a production pipeline screening every incoming shard against a
    standing corpus amortizes the corpus side with ``write_lsh_index``
    + ``lsh_probe_index`` (sources/catalog.py, operators/dedup.py) —
    build the band/shingle sidecar once, append per shard, and each
    probe streams the index map-side without re-reading corpus text
    (probe pinned row-for-row to this cross join;
    tests/test_lsh_index.py, SCALE.md)."""
    from ..operators.dedup import base_hash, lsh_cross_near_duplicates

    d = load_table(spark, sf_dir, "documents")
    is_train = (
        base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))) % 100
        < 80
    )
    split = d.select("doc_id", "text", is_train.alias("is_train"))
    train = split.filter(F.col("is_train"))
    ev = split.filter(~F.col("is_train"))
    pairs = lsh_cross_near_duplicates(
        ev, train, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    per_eval = pairs.groupBy(F.col("doc_id_left").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_train_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    return (
        ev.select("doc_id")
        .join(per_eval, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_train_matches"), F.lit(0)).cast("long").alias(
                "n_train_matches"
            ),
            F.coalesce(F.col("max_jaccard"), F.lit(0.0)).alias("max_jaccard"),
            (
                F.coalesce(F.col("n_train_matches"), F.lit(0)) > 0
            ).alias("contaminated"),
        )
    )


# ----------------------------------------------------------------- dedup


@register(
    "dedup_exact",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string({_TOKS.format(c=_ASCII_LOWER)}, ' ')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM f GROUP BY fingerprint
    ORDER BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized content fingerprint (hash groupBy)."""
    d = load_table(spark, sf_dir, "documents")
    return exact_duplicates(d, "doc_id", "text")


# shared CTE chain: documents → LSH candidate pairs at Jaccard >= 0.3
# (consumed by dedup_minhash_pairs and the dedup_clusters components)
_LSH_PAIR_CTES = f"""
    toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM toks),
    hs AS (SELECT doc_id,
                  list_transform(sh, s -> {_BASE_HASH.format(s="s")}) AS hs
           FROM sh),
    sig AS (SELECT doc_id, list_distinct(hs) AS sh, {", ".join(_MINHASH)} FROM hs),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band, minh_{j} AS value FROM sig" for j in range(8))}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.value = r.value AND l.doc_id < r.doc_id
    ),
    ver AS (
      SELECT doc_id_a, doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM cand
      JOIN sig a ON a.doc_id = doc_id_a
      JOIN sig b ON b.doc_id = doc_id_b
    ),
    lsh_pairs AS (
      SELECT doc_id_a, doc_id_b, i::DOUBLE / (la + lb - i) AS jaccard
      FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.3
    )
"""


@register(
    "dedup_minhash_pairs",
    oracle=f"""
    WITH {_LSH_PAIR_CTES}
    SELECT doc_id_a, doc_id_b, jaccard FROM lsh_pairs
    ORDER BY doc_id_a, doc_id_b
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (candidate join on minhash
    bands, exact-Jaccard verification at 0.3)."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )


# Shared by dedup_clusters and its exact-contraction twin: contraction
# provably preserves components (identical token sequences => identical
# signatures => identical pairs), so both answer to one oracle.
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_id_b, doc_id_a FROM lsh_pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node
    ORDER BY doc_id
    """


@register(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_id_b, doc_id_a FROM lsh_pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id
      FROM reach GROUP BY node
    ),
    toksq AS (
      SELECT doc_id, text, {_TOKS.format(c="text")} AS t FROM documents
    ),
    q AS (
      SELECT doc_id,
             CAST(floor(({_QUALITY_SQL}) * 1000000) AS BIGINT)
               AS quality_fp
      FROM toksq
    ),
    j AS (
      SELECT c.cluster_id, c.doc_id, q.quality_fp
      FROM comp c JOIN q USING (doc_id)
    ),
    r AS (
      SELECT cluster_id, doc_id, quality_fp,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality_fp DESC, doc_id) AS rn
      FROM j
    ),
    m AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      FROM j GROUP BY cluster_id
    )
    SELECT r.cluster_id, r.doc_id AS rep_id,
           r.quality_fp AS rep_quality_fp, m.n_members
    FROM r JOIN m USING (cluster_id)
    WHERE rn = 1
    ORDER BY r.cluster_id
    """,
)
def dedup_cluster_representatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The near-dup removal TERMINAL: LSH pair graph → connected
    components → per-cluster representative selection, keeping each
    cluster's highest-quality member (ties to the smaller doc_id).
    This is the row a dedup pass actually emits — "of these 40
    near-identical crawls, train on THIS one" — completing the
    pairs → clusters → keepers chain the same way ``dedup_keep_best``
    does for exact duplicates. Representative selection is a
    skew-safe ``min_by`` aggregate (a cluster of a million mirrors
    collapses map-side in the partial aggregate — never a window over
    the cluster), member counts ride the same shuffle, and quality is
    the fixed-point ppm score so engines rank identically. The oracle
    extends the shared recursive-CTE components oracle with the same
    argmax."""
    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    comp = connected_components(pairs, d.select("doc_id"))
    q = d.select(
        "doc_id",
        F.floor(quality_score(F.col("text")) * 1_000_000)
        .cast("long")
        .alias("quality_fp"),
    )
    return (
        comp.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                F.struct(
                    F.col("doc_id").alias("rid"),
                    F.col("quality_fp").alias("rq"),
                ),
                F.struct(
                    (-F.col("quality_fp")).alias("nq"),
                    F.col("doc_id").alias("tie"),
                ),
            ).alias("rep"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("rep.rid").alias("rep_id"),
            F.col("rep.rq").alias("rep_quality_fp"),
            "n_members",
        )
    )


@register("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components of the LSH pair
    graph, labelled by the component's min doc_id — the step that turns
    pairwise candidates into dedup groups. Iterative pointer-jumping
    label propagation (operators/dedup.py connected_components); the
    DuckDB oracle computes the same components with a recursive CTE."""
    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    return connected_components(pairs, d.select("doc_id"))


@register("dedup_clusters_twostar", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` via alternating large-star/small-star edge
    rewriting (Kiveris et al., SoCC'14) instead of pointer-jumping
    label propagation. Round counts are comparable (both O(log n) —
    the pointer-jumping form path-halves); the difference is the
    per-round STATE: two-star carries only the edge relation, which
    SHRINKS toward one star edge per non-root node, while
    pointer-jumping joins a |V|-row label table three times every
    round — at 100 TB corpus scale with a sparse pair graph,
    |edges| ≪ |V| and the label table is the dominant per-round
    shuffle. Measured round/wall numbers for both forms on chain and
    star-heavy fixtures are in SCALE.md. Identical output by
    construction (components labelled by min doc_id), hence the
    shared recursive-CTE oracle; direct equality with the
    pointer-jumping form is pinned on adversarial graph shapes in
    tests/test_dedup_twostar.py."""
    from ..operators.dedup import connected_components_twostar

    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    return connected_components_twostar(pairs, d.select("doc_id"))


@register("dedup_clusters_contracted", oracle=_CLUSTERS_ORACLE)
def dedup_clusters_contracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` with exact duplicates contracted before LSH —
    the dup-heavy-corpus scale path measured in SCALE.md (a c-sized
    exact-dup group contributes c(c-1)/2 pairs to the CC graph; web
    corpora carry most duplicate mass as byte-identical copies, which
    one linear argmax removes up front). Output provably identical to
    the uncontracted form (identical token sequences have identical
    signatures and pairs), hence the shared oracle; equality is also
    pinned directly on a dup-injected corpus in
    tests/test_dedup_contraction.py."""
    from ..operators.dedup import clusters_with_exact_contraction

    d = load_table(spark, sf_dir, "documents")
    return clusters_with_exact_contraction(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )


@register(
    "documents_boilerplate_removed",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    base AS (
      SELECT doc_id, t, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_segments
      FROM toks
    ),
    seg AS (
      SELECT doc_id, g.i AS pos,
             array_to_string(list_slice(t, g.i * 10 + 1, g.i * 10 + 10), ' ') AS seg
      FROM base,
           unnest(CASE WHEN n_segments = 0 THEN []
                       ELSE generate_series(0, CAST(n_segments AS INT) - 1)
                  END) AS g(i)
    ),
    hot AS (
      SELECT seg FROM (
        SELECT seg, count(DISTINCT doc_id) AS df FROM seg GROUP BY seg
      ) WHERE df > 2
    ),
    kept AS (SELECT s.* FROM seg s ANTI JOIN hot h USING (seg)),
    clean AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, coalesce(c.text_clean, '') AS text_clean,
           b.n_segments, b.n_segments - coalesce(c.n_kept, 0) AS n_removed
    FROM base b LEFT JOIN clean c USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def documents_boilerplate_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-segment (boilerplate) removal — the
    C4/RefinedWeb pass over 10-token windows: any segment shared by
    more than 2 distinct documents is dropped from every document,
    survivors reassembled in order. The hot-segment set is found with
    one distinct+count shuffle and applied as a BROADCAST mark join;
    posexplode_outer keeps zero-token docs alive so reassembly,
    segment counts, and removal counts all ride ONE groupBy — the only
    join in the plan is against the tiny hot set (plan-pinned), which
    holds when the corpus is 100 TB but boilerplate is (by definition)
    a small distinct set."""
    from ..operators.dedup import segment_boilerplate_removal

    d = load_table(spark, sf_dir, "documents")
    return segment_boilerplate_removal(
        d, "doc_id", "text", seg_tokens=10, max_df=2
    )


@register(
    "documents_paragraph_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    base AS (
      SELECT doc_id, t, CAST(ceil(len(t) / 10.0) AS BIGINT) AS n_segments
      FROM toks
    ),
    seg AS (
      SELECT doc_id, g.i AS pos,
             array_to_string(list_slice(t, g.i * 10 + 1, g.i * 10 + 10), ' ') AS seg
      FROM base,
           unnest(CASE WHEN n_segments = 0 THEN []
                       ELSE generate_series(0, CAST(n_segments AS INT) - 1)
                  END) AS g(i)
    ),
    ranked AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      FROM seg
    ),
    kept AS (SELECT doc_id, pos, seg FROM ranked WHERE rn = 1),
    clean AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, coalesce(c.text_clean, '') AS text_clean,
           b.n_segments, b.n_segments - coalesce(c.n_kept, 0) AS n_removed
    FROM base b LEFT JOIN clean c USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def documents_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level first-occurrence segment dedup — the C4
    three-sentence-span rule over 10-token windows: every distinct
    segment survives exactly once corpus-wide (at its min-(doc_id,pos)
    occurrence), later copies removed, docs reassembled in order.
    Complements ``documents_boilerplate_removed`` (hot segments
    dropped from everyone): here the first copy always survives. The
    firsts relation is found by ONE groupBy-min_by on the segment key
    (map-side combine absorbs repeated-segment skew before the
    shuffle) and applied as a shuffle join on the same key — nothing
    corpus-sized is broadcast, both join sides hash-partition on the
    segment, AQE skew-split eligible. At 100 TB this is the plan:
    linear shuffles keyed by segment and by doc, no windows over
    unbounded groups."""
    from ..operators.dedup import segment_first_occurrence_dedup

    d = load_table(spark, sf_dir, "documents")
    return segment_first_occurrence_dedup(
        d, "doc_id", "text", seg_tokens=10
    )


_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(16)
)
_SIMHASH_BITS = " + ".join(
    f"CASE WHEN v{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(16)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    tok AS (SELECT doc_id, {_BASE_HASH.format(s="tok.x")} AS x
            FROM toks, unnest(t) AS tok(x)),
    votes AS (SELECT doc_id, {_SIMHASH_VOTES} FROM tok GROUP BY doc_id)
    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
    FROM votes
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (bit votes over token hashes)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash16(d, "doc_id", "text")


_SIMHASH60_VOTES = ", ".join(
    f"sum(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(60)
)
_SIMHASH60_BITS = " + ".join(
    f"CASE WHEN v{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(60)
)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    tok AS (SELECT doc_id,
                   ('0x' || substr(md5(tok.x), 1, 15))::BIGINT AS x
            FROM toks, unnest(t) AS tok(x)),
    votes AS (SELECT doc_id, {_SIMHASH60_VOTES} FROM tok GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({_SIMHASH60_BITS} AS BIGINT) AS simhash
            FROM votes),
    bands AS (
      SELECT doc_id, simhash, b.i AS band,
             (simhash >> (15 * b.i)) & 32767 AS val
      FROM sim, unnest(generate_series(0, 3)) AS b(i)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_id_a, doc_id_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Manku et al. WWW'07 banding): 15-bit
    bands of a 60-bit simhash generate candidates by equality
    self-join — pigeonhole guarantees every pair within hamming ≤ 3
    shares a band — then the exact xor/bit_count verify reports true
    distances. The hash is 60-bit (not the family's 16-bit per-doc
    form) because banding a 16-bit hash has only 16 bucket values per
    band and the pair join degenerates quadratic — measured 7.6 s vs
    ~1 s at sf0.1 (SCALE.md); 60 bits is the widest md5 prefix whose
    value fits int64 in both engines. Completes the simhash family
    (hash → pairs) the way MinHash's banding pairs its signatures."""
    from ..operators.dedup import simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3)


@register(
    "dedup_ngram_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    pairs AS (
      SELECT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
    )
    SELECT block, doc_id_a, doc_id_b, i::DOUBLE / (la + lb - i) AS jaccard
    FROM pairs WHERE i::DOUBLE / (la + lb - i) >= 0.05
    ORDER BY block, doc_id_a, doc_id_b
    """,
)
def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact bigram-Jaccard pairs within the ``source`` blocking key."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    )


@register(
    "dedup_ngram_pairs_capped",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    posts AS (SELECT block, doc_id, unnest(sh) AS gram FROM sh),
    dfg AS (SELECT block, gram FROM posts GROUP BY block, gram
            HAVING count(*) <= 50),
    cold AS (SELECT p.block, p.doc_id, p.gram
             FROM posts p JOIN dfg USING (block, gram)),
    cand AS (
      SELECT DISTINCT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM cold a JOIN cold b
        ON a.block = b.block AND a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.block, c.doc_id_a, c.doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM cand c
      JOIN sh a ON a.block = c.block AND a.doc_id = c.doc_id_a
      JOIN sh b ON b.block = c.block AND b.doc_id = c.doc_id_b
    )
    SELECT block, doc_id_a, doc_id_b, i::DOUBLE / (la + lb - i) AS jaccard
    FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.05
    ORDER BY block, doc_id_a, doc_id_b
    """,
)
def dedup_ngram_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_ngram_pairs`` with the df ≤ 50 stop-gram cap — the
    skew-proof operating point (operators/dedup.py:
    ngram_jaccard_pairs_capped): ubiquitous grams generate no
    candidates, found pairs verify exactly against full shingle
    arrays. The oracle encodes the SAME cap, so the hash compare is
    exact at every scale, including ones where capped ≠ uncapped."""
    from ..operators.dedup import ngram_jaccard_pairs_capped

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_capped(
        d, "doc_id", "text", "source", n=2, threshold=0.05, max_doc_freq=50
    )


@register(
    "dedup_containment_pairs_capped",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    posts AS (SELECT block, doc_id, unnest(sh) AS gram FROM sh),
    dfg AS (SELECT block, gram FROM posts GROUP BY block, gram
            HAVING count(*) <= 50),
    cold AS (SELECT p.block, p.doc_id, p.gram
             FROM posts p JOIN dfg USING (block, gram)),
    cand AS (
      SELECT DISTINCT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM cold a JOIN cold b
        ON a.block = b.block AND a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT c.block, c.doc_id_a, c.doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM cand c
      JOIN sh a ON a.block = c.block AND a.doc_id = c.doc_id_a
      JOIN sh b ON b.block = c.block AND b.doc_id = c.doc_id_b
    )
    SELECT block, doc_id_a, doc_id_b,
           i::DOUBLE / least(la, lb) AS containment
    FROM ver WHERE i::DOUBLE / least(la, lb) >= 0.15
    ORDER BY block, doc_id_a, doc_id_b
    """,
)
def dedup_containment_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_containment_pairs`` under the same df ≤ 50 stop-gram
    cap as ``dedup_ngram_pairs_capped`` — containment is the metric
    MOST exposed to boilerplate skew (a short doc contained in a hot
    template scores 1.0), so the capped operating point matters most
    here. Found pairs verify exactly against full arrays; the cap is
    encoded in the oracle."""
    from ..operators.dedup import ngram_jaccard_pairs_capped

    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_capped(
        d, "doc_id", "text", "source", n=2, threshold=0.15,
        metric="containment", max_doc_freq=50,
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    pairs AS (
      SELECT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
    )
    SELECT block, doc_id_a, doc_id_b,
           i::DOUBLE / least(la, lb) AS containment
    FROM pairs WHERE i::DOUBLE / least(la, lb) >= 0.15
    ORDER BY block, doc_id_a, doc_id_b
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT —
    |A∩B| / min(|A|,|B|) — within the ``source`` blocking key. Catches
    the subset duplicates Jaccard structurally under-scores: a short
    doc fully quoted inside a long one has containment ≈ 1 but Jaccard
    ≈ |short|/|long| (arbitrarily small), so symmetric dedup keeps
    both. Standard alongside Jaccard in web-dedup pipelines (the
    Broder resemblance/containment pair, public STOC'97 framing).
    Same posting-list plan as ``dedup_ngram_pairs`` — fan-out bounded
    by gram document frequency, shuffles on (block, gram) then
    (block, a, b) — only the final denominator differs."""
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.15,
        metric="containment",
    )


# ------------------------------------------------------------- similarity


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    scored AS (
      SELECT vec_id, {_cos_sql("v", "qv")} AS cos
      FROM e, q WHERE vec_id <> 0
    ),
    ranked AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT vec_id, cos, rank FROM ranked WHERE rank <= 10 ORDER BY rank
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id 0 (broadcast query,
    fold-based cosine — the ANN correctness baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e, query_id=0, k=10)


@register(
    "ann_range_search",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q_id, e.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM e, q WHERE e.vec_id <> q_id
    )
    SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.15
    ORDER BY q_id, vec_id
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search (operators/similarity.py:range_search) — FAISS
    ``range_search`` parity: every corpus neighbor with cosine ≥ 0.15
    for each of 5 broadcast queries, k-free. Pure map-side (broadcast
    queries, fold cosine, filter): zero shuffles, no window — the one
    ANN surface where even the SCAN output is the answer. Boundary
    rows hash-match because both engines compare the identical
    sequential-fold double against the same literal."""
    from ..operators.similarity import range_search

    e = load_table(spark, sf_dir, "embeddings")
    return range_search(e, e.filter(F.col("vec_id") < 5), threshold=0.15)


@register(
    "ann_knn_join",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q_id, e.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM e, q WHERE e.vec_id <> q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q_id, vec_id, cos, rank FROM ranked WHERE rank <= 5
    ORDER BY q_id, rank
    """,
)
def ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: cosine top-5 for each of 5 broadcast query
    vectors in one corpus pass — the retrieval-dataset-building shape
    (single-query top-k is ``ann_bruteforce_topk``). Salted two-phase
    ranking keeps every window partition bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_join(e, e.filter(F.col("vec_id") < 5), k=5)


# shared by embedding_label_propagation and its _ivf twin: at
# nprobe = n_cells the IVF join surfaces every (query, corpus) pair
# exactly once, so both plans compute the identical relation and the
# one exact oracle certifies both
_LABEL_PROP_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    split AS (
      SELECT *,
             {_BASE_HASH.format(s="CAST(vec_id AS VARCHAR) || ':lp'")} % 100 < 80
               AS is_labeled
      FROM e
    ),
    lab AS (SELECT vec_id, label, v FROM split WHERE is_labeled),
    unl AS (SELECT vec_id AS q_id, v AS qv FROM split WHERE NOT is_labeled),
    scored AS (
      SELECT q_id, lab.vec_id, lab.label, {_cos_sql("v", "qv")} AS cos
      FROM lab, unl
    ),
    nn AS (
      SELECT q_id, label FROM (
        SELECT q_id, label,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scored)
      WHERE rank <= 5
    ),
    votes AS (
      SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes
      FROM nn GROUP BY q_id, label
    )
    SELECT q_id AS vec_id, label AS predicted_label, votes FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY votes DESC, label) AS rk
      FROM votes)
    WHERE rk = 1 ORDER BY vec_id
    """


@register("embedding_label_propagation", oracle=_LABEL_PROP_ORACLE)
def embedding_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation — the auto-labeling step of a
    training-data pipeline: each vector in the 20% "unlabeled" hash
    split receives the majority label of its 5 nearest labeled
    neighbors by cosine (ties: smallest label). Built ON the knn_join
    operator (broadcast query side, salted two-phase ranking — every
    window partition bounded), so the labeling pass inherits its scale
    shape: one map-side scoring pass over the labeled corpus plus the
    bounded top-k, then a |labels|-ary vote aggregate per query. The
    argmax is a ``min_by`` over (-votes, label) — no window over the
    vote relation.

    SMALL-QUERY SPECIAL CASE: the broadcast-query contract means the
    unlabeled split must fit in a broadcast. The scale form is
    ``embedding_label_propagation_ivf`` — identical output (same
    oracle), built on ``ivf_knn_join`` which broadcasts NEITHER side;
    prefer it whenever the query split is corpus-sized."""
    from ..operators.dedup import base_hash
    from ..operators.similarity import knn_join

    e = load_table(spark, sf_dir, "embeddings")
    is_labeled = (
        base_hash(F.concat(F.col("vec_id").cast("string"), F.lit(":lp")))
        % 100
        < 80
    )
    labeled = e.filter(is_labeled)
    unlabeled = e.filter(~is_labeled)
    nn = knn_join(labeled, unlabeled, k=5)
    votes = (
        nn.join(
            labeled.select("vec_id", "label"), "vec_id"
        )
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return (
        votes.groupBy("q_id")
        .agg(
            F.min_by(
                F.struct(F.col("label"), F.col("votes")),
                F.struct((-F.col("votes")).alias("neg"), F.col("label")),
            ).alias("_win")
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("_win.label").alias("predicted_label"),
            F.col("_win.votes").alias("votes"),
        )
    )


_SEMANTIC_CONTAM_ORACLE = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    split AS (
      SELECT *,
             {_BASE_HASH.format(s="CAST(vec_id AS VARCHAR) || ':lp'")} % 100 < 80
               AS is_train
      FROM e
    ),
    tr AS (SELECT vec_id, v FROM split WHERE is_train),
    ev AS (SELECT vec_id AS q_id, v AS qv FROM split WHERE NOT is_train),
    scored AS (
      SELECT q_id, tr.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM tr, ev
    ),
    nn AS (
      SELECT q_id, vec_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS rk
        FROM scored)
      WHERE rk = 1
    )
    SELECT q_id AS vec_id, vec_id AS nn_vec_id, cos AS max_cos,
           cos >= 0.42 AS contaminated
    FROM nn ORDER BY vec_id
    """


@register("embedding_contamination_semantic", oracle=_SEMANTIC_CONTAM_ORACLE)
def embedding_contamination_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEMANTIC decontamination — the third member of the trio
    (``documents_contamination`` exact n-grams,
    ``documents_contamination_fuzzy`` MinHash near-dup, this one
    embedding similarity): every eval-split vector reports its nearest
    train-split vector by cosine and whether that similarity crosses
    the contamination threshold — the screen that catches paraphrased
    benchmark leakage token-level methods miss. Composed from
    ``knn_join`` (k=1; broadcast eval side, cached-norm dot) — the
    SMALL-query special case; the scale form is
    ``embedding_contamination_semantic_ivf`` (same oracle, broadcasts
    neither side). Threshold 0.42 sits at ~p90 of
    the max-cosine distribution on this corpus (near-uniform synthetic
    vectors; real text embeddings concentrate near 1.0 for true
    leaks)."""
    from ..operators.dedup import base_hash
    from ..operators.similarity import knn_join

    e = load_table(spark, sf_dir, "embeddings")
    is_train = (
        base_hash(F.concat(F.col("vec_id").cast("string"), F.lit(":lp")))
        % 100
        < 80
    )
    nn = knn_join(e.filter(is_train), e.filter(~is_train), k=1)
    return nn.select(
        F.col("q_id").alias("vec_id"),
        F.col("vec_id").alias("nn_vec_id"),
        F.col("cos").alias("max_cos"),
        (F.col("cos") >= 0.42).alias("contaminated"),
    )


_IVF_CELLS = 8


def _lp_split(e):
    """The 80/20 labeled/unlabeled hash split shared by the label-
    propagation and semantic-decontamination queries (both forms)."""
    from ..operators.dedup import base_hash

    is_labeled = (
        base_hash(F.concat(F.col("vec_id").cast("string"), F.lit(":lp")))
        % 100
        < 80
    )
    return e.filter(is_labeled), e.filter(~is_labeled)


@register("embedding_label_propagation_ivf", oracle=_LABEL_PROP_ORACLE)
def embedding_label_propagation_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of ``embedding_label_propagation`` — identical
    output (it shares the exact oracle), but the k-NN step is
    ``ivf_knn_join``, which broadcasts NEITHER side: corpus vectors
    shuffle once into their learned k-means cell, queries shuffle once
    to the cells they probe, and the candidate join is an ordinary
    AQE-splittable shuffle join on the cell key. At nprobe = n_cells
    every pair still surfaces exactly once (same cosine, same
    tie-break — pinned in tests/test_ann_recall.py), so the plan is
    exact here while carrying the recall/cost knob (lower nprobe) a
    real 100 TB run would turn. The broadcast ``knn_join`` form
    remains registered as the small-query special case.
    tests/test_plan_quality.py asserts this plan's knn joins are
    shuffle joins (no corpus-sized broadcast) with hints-only
    broadcasting disabled. In-query quantizer training dominates this
    form's wall time; a production deployment amortizes it with
    ``write_ivf_layout`` + ``ivf_probe_join`` (sources/catalog.py) —
    train once, persist the cell layout, and every batch pays only
    the dynamic-partition-pruned probe (13.6× measured, SCALE.md)."""
    from ..operators.similarity import ivf_knn_join

    e = load_table(spark, sf_dir, "embeddings")
    labeled, unlabeled = _lp_split(e)
    nn = ivf_knn_join(
        labeled, unlabeled, k=5, n_cells=_IVF_CELLS, nprobe=_IVF_CELLS
    )
    votes = (
        nn.join(labeled.select("vec_id", "label"), "vec_id")
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return (
        votes.groupBy("q_id")
        .agg(
            F.min_by(
                F.struct(F.col("label"), F.col("votes")),
                F.struct((-F.col("votes")).alias("neg"), F.col("label")),
            ).alias("_win")
        )
        .select(
            F.col("q_id").alias("vec_id"),
            F.col("_win.label").alias("predicted_label"),
            F.col("_win.votes").alias("votes"),
        )
    )


@register("embedding_contamination_semantic_ivf", oracle=_SEMANTIC_CONTAM_ORACLE)
def embedding_contamination_semantic_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of ``embedding_contamination_semantic`` — same
    output and oracle, but the nearest-train-neighbor search is
    ``ivf_knn_join`` (cell-keyed shuffle join, neither side broadcast;
    exact at nprobe = n_cells, recall knob below that). An eval split
    at real scale is itself corpus-sized — benchmark suites plus
    held-out shards — which is exactly the population the broadcast
    form cannot carry."""
    from ..operators.similarity import ivf_knn_join

    e = load_table(spark, sf_dir, "embeddings")
    train, ev = _lp_split(e)
    nn = ivf_knn_join(train, ev, k=1, n_cells=_IVF_CELLS, nprobe=_IVF_CELLS)
    return nn.select(
        F.col("q_id").alias("vec_id"),
        F.col("vec_id").alias("nn_vec_id"),
        F.col("cos").alias("max_cos"),
        (F.col("cos") >= 0.42).alias("contaminated"),
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bucketed AS (
      -- 4 planes → 16 buckets: dense enough on the 500-vector sf0.01
      -- table to produce a full candidate set
      SELECT vec_id, v, CAST({_bucket_sql(4)} AS BIGINT) AS bucket FROM e
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM bucketed WHERE vec_id = 0),
    cands AS (
      SELECT vec_id, bucket, {_cos_sql("v", "qv")} AS cos
      FROM bucketed, q
      WHERE bucket = qbucket AND vec_id <> 0
    ),
    ranked AS (
      SELECT vec_id, bucket, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
      FROM cands
    )
    SELECT vec_id, bucket, cos, rank FROM ranked WHERE rank <= 10 ORDER BY rank
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-hyperplane LSH bucketed ANN: cosine only within the query's
    bucket — at scale the bucket is a cluster/partition key, pruning
    the scan instead of reading the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(e, query_id=0, dim=64, k=10, n_planes=4)


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t,
             {_TOKS.format(c=_ASCII_LOWER)} AS tl
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             md5(array_to_string(tl, ' ')) AS fingerprint,
             least(len(t) / 100.0, 1.0) AS len_term
      FROM toks
    ),
    ranked AS (
      SELECT doc_id, fingerprint,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY len_term DESC, doc_id) AS rk
      FROM scored
    )
    SELECT doc_id, fingerprint, rk = 1 AS is_keeper
    FROM ranked
    ORDER BY doc_id
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup as a pipeline decision: within each exact-content cluster,
    keep the highest-quality document (length saturation score,
    doc_id tie-break). Deliberately NOT a window over fingerprint: a
    boilerplate document duplicated millions of times is a hot key,
    and a window funnels every copy through one task with no remedy —
    whereas the argmin aggregate below collapses hot keys map-side
    (partial min_by per partition) and the mark-keeper join is
    AQE-skew-splittable. Keeper = min_by doc_id over the
    (-len_term, doc_id) struct order — identical to rank-1 of
    (len_term DESC, doc_id)."""
    from ..functions.text import tokens as toks_fn

    d = load_table(spark, sf_dir, "documents")
    t = toks_fn(F.col("text"))
    scored = d.select(
        "doc_id",
        content_fingerprint(F.col("text")).alias("fingerprint"),
        F.least(F.size(t) / F.lit(100.0), F.lit(1.0)).alias("len_term"),
    )
    keepers = scored.groupBy("fingerprint").agg(
        F.min_by(
            "doc_id",
            F.struct(
                (-F.col("len_term")).alias("neg_len"),
                F.col("doc_id").alias("tie"),
            ),
        ).alias("keeper_id")
    )
    return (
        scored.join(keepers, "fingerprint")
        .select(
            "doc_id",
            "fingerprint",
            (F.col("doc_id") == F.col("keeper_id")).alias("is_keeper"),
        )
    )


@register(
    "embedding_quantize",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v,
             sqrt({_FOLD_DOT.format(a="v", b="v")}) AS norm,
             list_max(list_transform(v, x -> abs(x))) AS maxabs
      FROM e
    ),
    x AS (
      SELECT vec_id, norm, maxabs,
             unnest(v) AS val, generate_subscripts(v, 1) AS dim
      FROM m
    )
    SELECT vec_id, dim, norm, maxabs AS scale_max,
           CASE WHEN norm > 0 THEN val / norm ELSE val END AS unit,
           CASE WHEN maxabs > 0
                THEN CAST(floor(val * 127.0 / maxabs + 0.5) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS q127
    FROM x
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization + symmetric int8 quantization per vector — the
    standard pre-ANN / storage-compression pass. Everything is
    map-side (fold-based norm, per-vector max-abs scale, explicit
    floor(x+0.5) rounding so both engines round identically — round()
    itself differs in half-even vs half-up across engines). Zero
    vectors pass through unscaled rather than dividing by 0.

    Registered surface is LONG form ``(vec_id, dim, norm, scale_max,
    unit, q127)`` — one row per vector component, like
    ``embedding_centroids`` — because the driver's pandas-based
    canonicalizer cannot factorize array-typed columns (round-8
    finding: ``TypeError: unhashable type: 'list'``). Consumers that
    want the packed vectors regroup with ``collect_list`` ordered by
    ``dim``; the explode is map-side and adds no shuffle."""
    from ..functions.vectors import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = l2_norm(F.col("embedding"))
    maxabs = F.array_max(F.transform(v, F.abs))
    return (
        e.select(
            "vec_id",
            v.alias("v"),
            norm.alias("norm"),
            maxabs.alias("scale_max"),
        )
        .select(
            "vec_id",
            "norm",
            "scale_max",
            F.posexplode("v").alias("dim0", "val"),
        )
        .select(
            "vec_id",
            (F.col("dim0") + 1).cast("long").alias("dim"),
            "norm",
            "scale_max",
            F.when(
                F.col("norm") > 0, F.col("val") / F.col("norm")
            )
            .otherwise(F.col("val"))
            .alias("unit"),
            F.when(
                F.col("scale_max") > 0,
                F.floor(
                    F.col("val") * 127.0 / F.col("scale_max") + 0.5
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("q127"),
        )
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH e AS (
      SELECT label, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    )
    SELECT label, dim,
           (CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 10000000.0) AS BIGINT))
                 AS DOUBLE) / count(*)) / 10000000.0 AS centroid
    FROM e
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid in long (label, dim, value) form — the
    coarse-quantizer build step for IVF. Per-dim sums are fixed-point
    integers so the grouped aggregation is order-independent."""
    e = load_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "val")
    return (
        exploded.groupBy("label", "dim")
        .agg(
            (
                # tie-free fixed-point: floor-quantize each value at 1e-7
                # (decimal rounding of binary fractions can land exactly
                # on .5 ties, which engines break differently), sum the
                # exact integers, then rescale
                (
                    F.sum(
                        F.floor(F.col("val").cast("double") * 10000000.0).cast(
                            "long"
                        )
                    ).cast("double")
                    / F.count(F.lit(1))
                )
                / 10000000.0
            ).alias("centroid")
        )
        .orderBy("label", "dim")
    )


@register(
    "events_funnel",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
          FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS click_us
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.signup_us
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS purchase_us
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
          GROUP BY e.user_id)
    SELECT u.user_id, s.signup_us, c.click_us, p.purchase_us,
           (CASE WHEN s.signup_us IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN c.click_us IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN p.purchase_us IS NOT NULL THEN 1 ELSE 0 END)
             AS funnel_depth
    FROM u LEFT JOIN s USING (user_id) LEFT JOIN c USING (user_id)
           LEFT JOIN p USING (user_id)
    ORDER BY user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → first later click → first
    later purchase) per user, in ONE shuffle: running conditional mins
    over a user-partitioned window mark each step's candidates (a
    click counts iff strictly after the running first signup, which at
    that row equals the global first signup), and the final per-user
    aggregate reuses the window's partitioning — the oracle's
    equivalent three-way self-join would shuffle the events table
    three times. Timestamps compare as epoch micros (strict >; a
    same-microsecond pair never converts in either engine)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    r = ev.withColumn(
        "run_signup", F.min(F.when(is_type("signup"), F.col("us"))).over(w)
    )
    r = r.withColumn(
        "click_cand",
        F.when(is_type("click") & (F.col("us") > F.col("run_signup")), F.col("us")),
    )
    r = r.withColumn("run_click", F.min("click_cand").over(w))
    r = r.withColumn(
        "purchase_cand",
        F.when(
            is_type("purchase") & (F.col("us") > F.col("run_click")), F.col("us")
        ),
    )
    out = r.groupBy("user_id").agg(
        F.min(F.when(is_type("signup"), F.col("us"))).alias("signup_us"),
        F.min("click_cand").alias("click_us"),
        F.min("purchase_cand").alias("purchase_us"),
    )
    return out.select(
        "user_id",
        "signup_us",
        "click_us",
        "purchase_us",
        (
            F.col("signup_us").isNotNull().cast("int")
            + F.col("click_us").isNotNull().cast("int")
            + F.col("purchase_us").isNotNull().cast("int")
        ).alias("funnel_depth"),
    )


@register(
    "events_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                  THEN 1 ELSE 0 END
               AS new_session
      FROM (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events
      )
    ),
    s AS (
      SELECT user_id, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(event_id) AS first_event, max(event_id) AS last_event
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (30-minute gap): the batch shape of
    a streaming session window — lag + running sum, one shuffle on
    user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # Microsecond precision: unix_timestamp() truncates to whole seconds,
    # which would sessionize a 1800.4 s gap differently from the oracle's
    # fractional epoch — compare in microseconds (gap > 1800 s exactly).
    new_session = (
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) > 1_800_000_000)
    ).cast("int")
    with_session = ev.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
    )


@register(
    "events_range_join",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           date_diff('second', a.ts, b.ts) AS gap_sec
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    ORDER BY a.user_id, click_id, purchase_id
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: purchases within 5 minutes after a click
    by the same user — equi-key on user_id keeps it a hash join with a
    range residual, never a cross product."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("a_ts")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("b_ts"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_id_b"))
            & (F.col("b_ts") > F.col("a_ts"))
            & (
                F.col("b_ts")
                <= F.col("a_ts") + F.expr("INTERVAL 5 MINUTES")
            ),
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.unix_timestamp("b_ts") - F.unix_timestamp("a_ts")).alias(
                "gap_sec"
            ),
        )
    )


def _embedding_cosine_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """The sign-bucket blocked exact-cosine pair relation shared by
    ``dedup_embedding_pairs`` (its docstring carries the plan
    derivation and measurements) and ``embedding_dbscan`` (which
    consumes it as the eps-neighbor graph)."""
    from ..operators.similarity import lsh_bucket
    from ..functions.vectors import l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    unit = (
        e.select(
            "vec_id",
            F.col("embedding").alias("v"),
            lsh_bucket(F.col("embedding"), 64, 4).alias("bucket"),
        )
        .withColumn("_nrm", l2_norm(F.col("v")))
        .select(
            "vec_id",
            "bucket",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / F.col("_nrm")
            ).alias("u"),
        )
    )
    a = unit.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("u").alias("ua"),
        F.col("bucket").alias("ba"),
    )
    # pinned shuffle join (r15, the ngram_jaccard_pairs device): the
    # planner broadcasts the corpus-derived bucket relation at bench
    # scale, which funnels the join AND the downstream 64-products-
    # per-pair explode+sum into a single task; the pinned join
    # parallelizes by bucket (hot buckets AQE-splittable) and a corpus
    # broadcast is the shape that cannot exist at 100 TB. Value-safe:
    # each pair's product rows still come from one explode in one
    # task, so the per-pair partial-sum order is unchanged.
    b = unit.hint("shuffle_hash").select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("u").alias("ub"),
        F.col("bucket").alias("bb"),
    )
    pairs = a.join(
        b,
        (F.col("ba") == F.col("bb")) & (F.col("vec_id_a") < F.col("vec_id_b")),
    )
    prod = pairs.select(
        "vec_id_a",
        "vec_id_b",
        F.explode(F.arrays_zip("ua", "ub")).alias("z"),
    ).select(
        "vec_id_a", "vec_id_b", (F.col("z.ua") * F.col("z.ub")).alias("p")
    )
    return (
        prod.groupBy("vec_id_a", "vec_id_b")
        .agg(F.sum("p").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


@register(
    "dedup_embedding_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bucketed AS (
      SELECT vec_id, v, CAST({_bucket_sql(4)} AS BIGINT) AS bucket FROM e
    ),
    unit AS (
      SELECT vec_id, bucket,
             list_transform(v, x -> x / sqrt({_FOLD_DOT.format(a="v", b="v")}))
               AS u
      FROM bucketed
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             {_FOLD_DOT.format(a="a.u", b="b.u")} AS cos
      FROM unit a JOIN unit b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, cos FROM pairs WHERE cos >= 0.3
    ORDER BY vec_id_a, vec_id_b
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH sign-buckets block the
    O(n²) comparison, exact cosine verifies within each bucket — the
    semantic-dedup analog of MinHash-LSH.

    Each vector is L2-normalized ONCE (map-side, per vector) so the
    per-PAIR work is a single dot product instead of dot + two norms
    (measured 11.1 s → ~4 s at sf0.1), and the quadratic-side dot is
    NOT a higher-order-function fold: interpreted lambda evaluation
    costs ~40 µs/pair at d=64, so the per-pair product array is built
    with ``arrays_zip`` (a regular codegen expression, no lambda),
    exploded, and summed by a codegen hash aggregate keyed on the pair
    — measured 6.7 s → 2.45 s at sf0.1 on identical output. The sum
    is deterministic: generate keeps a pair's element rows inside one
    partition in index order, so the single partial accumulates
    left-to-right exactly like the oracle's fold (((0+x₁)+x₂)+…).
    The norm is staged as a real column before the division
    (CollapseProject keeps the multi-referenced alias materialized;
    inlined, the 64-element transform would re-derive the norm fold
    per element)."""
    return _embedding_cosine_pairs(spark, sf_dir, threshold=0.3)


# ------------------------------------------------------------- multimodal


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> a + b)::DOUBLE / octet_length(encode(text)) AS mean_byte
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text → binary payload + typed metadata →
    Arrow-batched mapInPandas feature extraction. fake=True here is
    the DuckDB-reproducible oracle form; the fake=False path is a REAL
    stdlib-only PNG decode (functions/codecs.py), pytest-verified over
    generated fixtures (tests/test_multimodal.py)."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_binary(d, "doc_id", "text")
    return decode_features(media, fake=True)


@register(
    "multimodal_frames",
    oracle="""
    WITH m AS (
      SELECT doc_id, text, length(text) AS n_chars,
             greatest(1, least(4, length(text) // 100)) AS n_frames
      FROM documents
    )
    SELECT doc_id,
           i AS frame_idx,
           (i * (n_chars * 10)) // n_frames AS ts_ms,
           CAST(length(substring(text, (i * n_chars) // n_frames + 1,
                                 n_chars // n_frames)) AS BIGINT)
             AS frame_chars,
           md5(substring(text, (i * n_chars) // n_frames + 1,
                         n_chars // n_frames)) AS frame_md5
    FROM m, UNNEST(range(n_frames)) AS t(i)
    ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling, the generator-shaped multimodal op: one media
    row fans out to N evenly-spaced frame rows through mapInPandas
    (deterministic char-slice fake — the oracle form; fake=False is
    a REAL PCM WAV decode with sample-rate-true timestamps,
    pytest-verified). Frame count scales with payload size, capped
    at 4; timestamps stride the fake 10 ms/char duration."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_binary(d, "doc_id", "text")
    return sample_frames(media, fake=True)


@register(
    "multimodal_resized",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS orig_chars,
           CAST(length(substring(text, 1, 256)) AS BIGINT) AS resized_chars,
           md5(substring(text, 1, 256)) AS resized_md5
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample plumbing: bound every payload to a target
    size through the Arrow-batched resampler (deterministic truncation
    fake — the oracle form; fake=False is a REAL nearest-neighbor
    resample of the decoded PNG raster, pytest-verified)."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_binary(d, "doc_id", "text")
    return resize_media(media, target_chars=256, fake=True)


@register(
    "text_fingerprints",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 4 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                for i in generate_series(1, len(t)-3)]
             ELSE [] END AS grams
      FROM s
    ),
    h AS (
      SELECT doc_id,
             [(('0x' || substr(md5(x), 1, 8))::BIGINT) for x in grams] AS hs
      FROM g
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 5 THEN
               list_distinct([list_min(list_slice(hs, j, j+4))
                              for j in generate_series(1, len(hs)-4)])
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE [] END AS fps
      FROM h
    )
    SELECT doc_id, unnest(fps) AS fingerprint
    FROM f
    ORDER BY doc_id, fingerprint
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) document fingerprints: per doc the
    distinct window-minima of 4-gram hashes under a 5-hash sliding
    window (operators/dedup.py:winnow_fingerprints). Any two documents
    sharing a run of 8 tokens are guaranteed a common fingerprint, so a
    groupBy(fingerprint) over this output is the overlap-detection
    join. Entirely map-side (one projection, no shuffle before the
    presentation sort) — linear in corpus size at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    # explode_OUTER on purpose: plain explode triggers
    # InferFiltersFromGenerate, whose size(...)>0 predicate is then
    # pushed below the staging projects with the WHOLE fingerprint
    # expression inlined — re-deriving tokenize+md5 per sliding window
    # in the Filter (measured 42 s at sf0.1). The outer generate infers
    # no filter; empty-array placeholder rows (NULL fingerprint) are
    # dropped AFTER the generate, where the predicate cannot sink.
    return (
        winnow_fingerprints(d.select("doc_id", "text"), "text", n=4, w=5)
        .select("doc_id", F.explode_outer("fingerprints").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )


@register(
    "documents_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             {_BASE_HASH.format(s="CAST(doc_id AS VARCHAR) || ':cap7'")} AS hkey
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY hkey, doc_id)
               AS pick_rank
      FROM r
    )
    SELECT doc_id, source, pick_rank
    FROM ranked WHERE pick_rank <= 10
    ORDER BY doc_id
    """,
)
def documents_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (web-curation staple): keep at most 10 docs per
    source, chosen by salted-hash order — an unbiased deterministic
    sample, never ``rand()`` (same policy as ``documents_mixture_sample``).

    Two-phase ranking like ``ann_knn_join``: phase 1 ranks within
    (source, salt-of-doc_id) and keeps 10 per salt, phase 2 re-ranks
    the <= 10*n_salts survivors per source — no window partition ever
    holds a whole hot domain, which at 100 TB can be billions of rows.
    The hash order is a total order (ties broken by doc_id), so the
    two-phase result is identical to the oracle's single window."""
    from ..operators.dedup import base_hash

    n_salts = 16
    cap = 10
    d = load_table(spark, sf_dir, "documents")
    hkey = base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":cap7")))
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_salts))
    r = d.select("doc_id", "source", hkey.alias("hkey"))
    w_local = W.partitionBy("source", salt).orderBy("hkey", "doc_id")
    w_final = W.partitionBy("source").orderBy("hkey", "doc_id")
    return (
        r.withColumn("_rn", F.row_number().over(w_local))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
        .withColumn("pick_rank", F.row_number().over(w_final))
        .filter(F.col("pick_rank") <= cap)
        .select("doc_id", "source", "pick_rank")
    )


# Two unrolled Lloyd iterations as DuckDB CTEs: x = fixed-point vectors,
# c0 = init centroids (k smallest ids), a1/a2 = assignments after
# iteration 1/2, c1 = re-estimated centroids a2 was assigned against.
# Shared by the embedding_kmeans and ann_ivf_kmeans_topk oracles.
_KMEANS_CTES = """
    x AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)
              for v in embedding] AS xf
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cluster, xf AS cf FROM x ORDER BY vec_id LIMIT 8
    ),
    d1 AS (
      SELECT x.vec_id, c0.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c0.cf[i])*(x.xf[i]-c0.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x CROSS JOIN c0
    ),
    a1 AS (
      SELECT vec_id, cluster, dist, xf FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1) WHERE rn = 1
    ),
    e1 AS (SELECT cluster, unnest(xf) AS v, generate_subscripts(xf, 1) AS dim
           FROM a1),
    cm1 AS (SELECT cluster, dim,
                   CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
                     AS cv
            FROM e1 GROUP BY cluster, dim),
    c1 AS (SELECT cluster, list(cv ORDER BY dim) AS cf FROM cm1
           GROUP BY cluster),
    d2 AS (
      SELECT x.vec_id, c1.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c1.cf[i])*(x.xf[i]-c1.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x CROSS JOIN c1
    ),
    a2 AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2) WHERE rn = 1
    )
"""


@register(
    "embedding_kmeans",
    oracle=f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, cluster, dist FROM a2 ORDER BY vec_id
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=8) over the embeddings table
    (operators/similarity.py:kmeans_assign): assignment is a crossJoin
    against the BROADCAST k-row centroid relation (never a shuffle of
    the corpus), re-estimation is posexplode + groupBy(cluster, dim).
    All arithmetic is fixed-point int64, so the oracle's unrolled CTE
    reproduces it bit-for-bit with no float-order sensitivity. The
    iterative driver loop is plan-growth only — no collect, same
    pattern as ``dedup_clusters``."""
    from ..operators.similarity import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(e, k=8, iters=2)


@register(
    "embedding_outliers",
    oracle=f"""
    WITH {_KMEANS_CTES},
    sc AS (
      SELECT vec_id, cluster, dist // 1000000000 AS dist_k FROM a2
    ),
    st AS (
      SELECT cluster,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dist_k) AS BIGINT) AS s,
             sum(CAST(dist_k AS HUGEINT) * dist_k) AS v
      FROM sc GROUP BY cluster
    )
    SELECT sc.vec_id, sc.cluster, sc.dist_k,
           CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT) AS mean_milli,
           CAST(((CAST(m AS HUGEINT) * dist_k - s)
                 * (CAST(m AS HUGEINT) * dist_k - s) * 1000)
             // nullif(CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s, 0)
             AS BIGINT) AS z2_milli,
           CAST(((CAST(m AS HUGEINT) * dist_k - s)
                 * (CAST(m AS HUGEINT) * dist_k - s) * 1000
                 > 9000 * (CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s))
             AS BIGINT) AS is_outlier
    FROM sc JOIN st USING (cluster)
    ORDER BY vec_id
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection
    (operators/similarity.py:kmeans_outliers): vectors anomalously far
    from their own k-means centroid, flagged by the per-cluster
    broadcast-moments three-sigma fence on the down-scaled integer
    distance (div 1e9 for DECIMAL headroom past 1e20 vectors) — the
    geometric "doesn't belong to any corpus mode" curation filter.
    Exact composition: deterministic fixed-point Lloyd + the z²
    integer predicate, so even this two-stage detector hash-matches
    the unrolled DuckDB CTE chain."""
    from ..operators.similarity import kmeans_outliers

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_outliers(e, k=8, iters=2)


@register(
    "embedding_silhouette",
    oracle=f"""
    WITH {_KMEANS_CTES},
    r AS (
      SELECT vec_id, cluster, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM d2
    ),
    ab AS (
      SELECT a.vec_id, a.cluster, a.dist AS a, b.dist AS b
      FROM (SELECT * FROM r WHERE rn = 1) a
      JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)
    ),
    sil AS (
      SELECT cluster,
             CASE WHEN b > 0
                  THEN CAST(((CAST(b AS HUGEINT) - a) * 1000000) // b
                            AS BIGINT)
                  ELSE 0 END AS sil_ppm
      FROM ab
    )
    SELECT cluster, CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(sil_ppm) AS HUGEINT) // count(*) AS BIGINT)
             AS mean_sil_ppm
    FROM sil GROUP BY cluster
    ORDER BY cluster
    """,
)
def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid-silhouette quality
    (operators/similarity.py:kmeans_silhouette): sil = (b−a)/b in
    exact ppm over the two nearest final k-means centroids — the
    "are these clusters real?" evaluation that belongs next to
    ``embedding_kmeans``. Scoring is shuffle-free: the k centroids
    collapse to one broadcast array row and every vector ranks its
    full distance array map-side (zip_with + array_sort, same
    (dist, cluster) tie-break as the argmin); only Lloyd itself and
    the final k-row groupBy shuffle. Exact fixed-point end to end —
    hash-matches the unrolled DuckDB chain's rn=1/rn=2 construction."""
    from ..operators.similarity import kmeans_silhouette

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_silhouette(e, k=8, iters=2)


_WINNOW_CTE = """
    s AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 4 THEN
               [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                for i in generate_series(1, len(t)-3)]
             ELSE [] END AS grams
      FROM s
    ),
    h AS (
      SELECT doc_id,
             [(('0x' || substr(md5(x), 1, 8))::BIGINT) for x in grams] AS hs
      FROM g
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 5 THEN
               list_distinct([list_min(list_slice(hs, j, j+4))
                              for j in generate_series(1, len(hs)-4)])
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE [] END AS fps
      FROM h
    ),
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM f)
"""


@register(
    "text_fingerprint_overlap",
    oracle=f"""
    WITH {_WINNOW_CTE},
    keep AS (
      SELECT fingerprint FROM fp GROUP BY fingerprint
      HAVING count(*) BETWEEN 2 AND 50
    ),
    ff AS (SELECT fp.* FROM fp JOIN keep USING (fingerprint)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM ff a JOIN ff b
        ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= 2
    ORDER BY doc_a, doc_b
    """,
)
def text_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-overlap candidates from winnowing fingerprints (the
    MOSS use-case): pairs of documents sharing >= 2 fingerprints, i.e.
    each pair shares at least two distinct 8-token runs.

    Shape: fingerprint posting lists via ONE groupBy(fingerprint) over
    the exploded fingerprints — the fingerprint frame is computed once
    (no self-join diamond; the oracle uses the equivalent naive
    self-join) — then in-bucket pairs are generated map-side from the
    sorted posting array and re-aggregated by pair. Posting lists
    longer than 50 docs are dropped as stop-fingerprints (boilerplate
    runs shared by everything — the same reasoning as stopword
    removal), which also bounds the quadratic pair fan-out per bucket
    at 50·49/2; everything else is linear shuffles. At 100 TB the cap
    is the knob: candidate volume scales with sum(|bucket|²) and every
    bucket is bounded."""
    d = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(d.select("doc_id", "text"), "text", n=4, w=5)
    fp = (
        fp.select("doc_id", F.explode_outer("fingerprints").alias("fingerprint"))
        .where(F.col("fingerprint").isNotNull())
    )
    buckets = (
        fp.groupBy("fingerprint")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= 50))
    )
    # in-bucket ordered pairs (a < b follows from the sorted array)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ds"),
                            i + F.lit(2),
                            F.greatest(
                                F.size("ds") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    tagged AS (
      SELECT e.user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01',
                                  CAST(f.first_ts AS DATE)) / 7.0) AS BIGINT)
               AS cohort_week,
             CAST(floor(date_diff('day', CAST(f.first_ts AS DATE),
                                  CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           count(DISTINCT user_id) AS n_users
    FROM tagged
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week, counted
    in each subsequent activity week — the canonical product-analytics
    rollup. The per-user first timestamp is a window min over the
    user partition (bounded by events-per-user, no join back to a user
    dimension); week arithmetic is integer day-diffs from a fixed
    epoch, so engines cannot disagree on week-start conventions. Two
    shuffles total: user_id (window) and the cohort aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    epoch = F.lit("2024-01-01").cast("date")
    tagged = e.select(
        "user_id",
        F.floor(
            F.datediff(F.min("ts").over(w).cast("date"), epoch) / 7.0
        ).alias("cohort_week"),
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.min("ts").over(w).cast("date")
            )
            / 7.0
        ).alias("week_offset"),
    )
    return (
        tagged.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "embedding_zscore",
    oracle="""
    WITH x AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)
              for v in embedding] AS xf
      FROM embeddings
    ),
    e AS (SELECT vec_id, unnest(xf) AS v, generate_subscripts(xf, 1) AS dim
          FROM x),
    m AS (
      SELECT dim,
             CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS ss,
             count(*) AS n
      FROM e GROUP BY dim
    ),
    stats AS (
      SELECT dim,
             CAST(s AS DOUBLE) / n AS mu,
             sqrt(greatest(CAST(ss AS DOUBLE) / n
                           - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                           0.0)) AS sigma
      FROM m
    )
    SELECT e.vec_id, e.dim,
           CASE WHEN stats.sigma > 0.0
                THEN (CAST(e.v AS DOUBLE) - stats.mu) / stats.sigma
                ELSE 0.0 END AS z
    FROM e JOIN stats USING (dim)
    ORDER BY vec_id, dim
    """,
)
def embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (z-score) of the embedding matrix
    — the feature-normalization pass before clustering/quantization.
    Dimension moments are computed from fixed-point int64 sums (exact
    integer arithmetic → no float-summation-order divergence between
    engines; sum and sum-of-squares fit int64 at |x|<=1, dim 64,
    corpus <= 9e4 at 1e7 scale), converted to double ONCE, and joined
    back broadcast (d rows — 64 here — regardless of corpus size). Two
    shuffles: the per-dim aggregate and the presentation sort; the
    normalization itself is a broadcast-join + projection, map-side at
    100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * 10_000_000.0).cast(
                    "long"
                ),
            )
        ).alias("dim0", "v"),
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "v")
    m = x.groupBy("dim").agg(
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(
            F.col("ss").cast("double") / F.col("n") - mu * mu, F.lit(0.0)
        )
    )
    stats = m.select("dim", mu.alias("mu"), sigma.alias("sigma"))
    return (
        x.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.when(
                F.col("sigma") > 0.0,
                (F.col("v").cast("double") - F.col("mu")) / F.col("sigma"),
            )
            .otherwise(F.lit(0.0))
            .alias("z"),
        )
    )


@register(
    "documents_rarity_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS.format(c=_ASCII_LOWER)}) AS token
      FROM documents
    ),
    freq AS (SELECT token, count(*) AS cf FROM tok GROUP BY token),
    scored AS (
      SELECT tok.doc_id, freq.cf FROM tok JOIN freq USING (token)
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(cf) AS BIGINT) AS cf_sum,
           CAST(sum(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(sum(CASE WHEN cf <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS rare_frac
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def documents_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity profile per document: total corpus
    frequency mass of its tokens and the fraction of occurrences whose
    token appears <= 2 times corpus-wide — the cheap unigram
    perplexity proxy (high rare_frac → OCR noise/garbage, near-zero →
    boilerplate). Deliberately integer/ratio-valued: a log-likelihood
    variant ranks identically but libm log rounding is not
    engine-portable (same reasoning as tf-idf's ratio idf). Shape is
    tf-idf's little sibling: one token-keyed aggregate, one join back,
    one per-doc aggregate — all partial-aggregated, no windows."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens(ascii_lower(F.col("text")))).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cf"))
    return (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cf").alias("cf_sum"),
            F.sum((F.col("cf") <= 2).cast("long")).alias("n_rare"),
            (
                F.sum((F.col("cf") <= 2).cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )


@register(
    "events_sessionize_native",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """,
)
def events_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's native ``session_window`` aggregate
    (streaming/windows.py:session_event_stats) — the form whose state
    is watermark-evictable on a live stream, here run in batch and
    held to a lag-window oracle. session_window merges events strictly
    closer than the gap and reports end = last_ts + gap, so the oracle
    starts a new session at delta >= gap (the half-open extent) and
    adds the gap to the last timestamp. Timestamps cross the compare
    boundary as epoch micros per the registry determinism rules."""
    from ..streaming.windows import session_event_stats

    e = load_table(spark, sf_dir, "events")
    sw = session_event_stats(e, gap="30 minutes")
    return sw.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@register(
    "dedup_minhash_banded",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM toks),
    hs AS (SELECT doc_id,
                  list_transform(sh, s -> {_BASE_HASH.format(s="s")}) AS hs
           FROM sh),
    sig AS (SELECT doc_id, list_distinct(hs) AS sh, {", ".join(_MINHASH)} FROM hs),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band, minh_{2 * j} AS v0, minh_{2 * j + 1} AS v1 FROM sig" for j in range(4))}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.v0 = r.v0 AND l.v1 = r.v1
           AND l.doc_id < r.doc_id
    ),
    ver AS (
      SELECT doc_id_a, doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM cand
      JOIN sig a ON a.doc_id = doc_id_a
      JOIN sig b ON b.doc_id = doc_id_b
    )
    SELECT doc_id_a, doc_id_b, i::DOUBLE / (la + lb - i) AS jaccard
    FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.3
    ORDER BY doc_id_a, doc_id_b
    """,
)
def dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b=4, r=2 banded MinHash-LSH near-duplicate pairs from the same
    8-hash budget as ``dedup_minhash_pairs`` — a candidate must agree
    on BOTH minhashes of some band (match prob 1-(1-J²)⁴), the
    precision-leaning operating point whose candidate volume is the
    100 TB knob (operators/dedup.py:lsh_near_duplicates_banded)."""
    from ..operators.dedup import lsh_near_duplicates_banded

    d = load_table(spark, sf_dir, "documents")
    return lsh_near_duplicates_banded(
        d, "doc_id", "text", num_hashes=8, rows_per_band=2, n=3, threshold=0.3
    )


@register(
    "dedup_lsh_quality_report",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents),
    sh AS (SELECT doc_id, {_shingle_sql(3)} AS sh FROM toks),
    hs AS (SELECT doc_id,
                  list_transform(sh, s -> {_BASE_HASH.format(s="s")}) AS hs
           FROM sh),
    sig AS (SELECT doc_id, list_distinct(hs) AS sh, {", ".join(_MINHASH)} FROM hs),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band, minh_{2 * j} AS v0, minh_{2 * j + 1} AS v1 FROM sig" for j in range(4))}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.v0 = r.v0 AND l.v1 = r.v1
           AND l.doc_id < r.doc_id
    ),
    ver AS (
      SELECT doc_id_a, doc_id_b
      FROM cand
      JOIN sig a ON a.doc_id = doc_id_a
      JOIN sig b ON b.doc_id = doc_id_b
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.3
    ),
    posting AS (SELECT doc_id, unnest(list_distinct(hs)) AS h FROM hs),
    tc AS (
      SELECT DISTINCT l.doc_id AS doc_id_a, r.doc_id AS doc_id_b
      FROM posting l JOIN posting r
        ON l.h = r.h AND l.doc_id < r.doc_id
    ),
    truth AS (
      SELECT doc_id_a, doc_id_b
      FROM tc
      JOIN sig a ON a.doc_id = doc_id_a
      JOIN sig b ON b.doc_id = doc_id_b
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.3
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
      (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_verified,
      CASE WHEN (SELECT count(*) FROM cand) > 0 THEN
        (SELECT count(*) FROM ver)::DOUBLE / (SELECT count(*) FROM cand)
      ELSE 1.0 END AS candidate_precision,
      CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
        (SELECT count(*) FROM ver)::DOUBLE / (SELECT count(*) FROM truth)
      ELSE 1.0 END AS recall
    """,
)
def dedup_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-config tuning report: candidate precision and recall of
    the b=4/r=2 LSH operating point against exact ground truth at
    J ≥ 0.3, computed without any all-pairs join (posting-list
    enumeration is exact for J > 0; see
    operators/dedup.py:lsh_quality_report)."""
    from ..operators.dedup import lsh_quality_report

    d = load_table(spark, sf_dir, "documents")
    return lsh_quality_report(
        d, "doc_id", "text", num_hashes=8, rows_per_band=2, n=3, threshold=0.3
    )


@register(
    "corpus_vocab_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest({_TOKS.format(c=_ASCII_LOWER)}) AS token
      FROM documents
    ),
    per AS (
      SELECT source, count(DISTINCT token) AS n_distinct_tokens
      FROM tok GROUP BY source
    ),
    total AS (
      SELECT '__all__' AS source, count(DISTINCT token) AS n_distinct_tokens
      FROM tok
    )
    SELECT * FROM per UNION ALL SELECT * FROM total
    ORDER BY source
    """,
)
def corpus_vocab_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vocabulary size per source plus the corpus-wide total
    (the ``__all__`` row) — the oracle baseline for the sketch form
    below. Exact COUNT DISTINCT shuffles every distinct (source,
    token) pair; fine here, not the form to run at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(ascii_lower(F.col("text")))).alias("token")
    )
    per = tok.groupBy("source").agg(
        F.count_distinct("token").alias("n_distinct_tokens")
    )
    total = tok.agg(
        F.count_distinct("token").alias("n_distinct_tokens")
    ).select(F.lit("__all__").alias("source"), "n_distinct_tokens")
    return per.unionByName(total).orderBy("source")


@register("corpus_vocab_by_source_approx")
def corpus_vocab_by_source_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``corpus_vocab_by_source``: per-source
    Datasketches HLL sketches (`hll_sketch_agg`, fixed-size state,
    map-side partial aggregation) estimated per source, and — the part
    that matters at scale — the corpus-wide total computed by UNIONING
    the per-source sketches (`hll_union_agg`) rather than re-scanning
    the corpus. Mergeability is what lets incremental ingestion keep a
    running vocabulary: one sketch per new shard, union with the
    stored state. No DuckDB oracle (its HLL differs by
    implementation); accuracy is tolerance-pinned against the exact
    form in tests/test_corpus_filters.py."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(ascii_lower(F.col("text")))).alias("token")
    )
    sketches = tok.groupBy("source").agg(
        F.hll_sketch_agg("token").alias("sk")
    )
    per = sketches.select(
        "source", F.hll_sketch_estimate("sk").alias("n_distinct_tokens")
    )
    total = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
            "n_distinct_tokens"
        )
    ).select(F.lit("__all__").alias("source"), "n_distinct_tokens")
    return per.unionByName(total).orderBy("source")


@register(
    "documents_length_histogram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({_TOKS.format(c="text")}) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT quantile_cont(n_tokens,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bounds
      FROM t
    ),
    bucketed AS (
      SELECT t.n_tokens,
             1 + len(list_filter(b.bounds, x -> x < t.n_tokens)) AS bucket
      FROM t, b
    )
    SELECT bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def documents_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile histogram of document lengths — the profiling
    primitive behind skew diagnosis and packing-efficiency estimates.
    Decile boundaries are ONE tiny exact-percentile aggregate (9
    doubles) broadcast back as an array; bucket assignment is a
    map-side count of boundaries strictly below the value, so ties at
    a boundary land identically in both engines (Spark ``percentile``
    and DuckDB ``quantile_cont`` produce bit-identical interpolated
    boundaries — already relied on by ``corpus_profile``). No global
    window, no ntile: the whole histogram is two aggregates and a
    broadcast join. At 100 TB swap the exact percentile for
    ``approx_percentile`` exactly as ``corpus_profile_approx`` does."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    bounds = t.agg(
        F.percentile(
            "n_tokens", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])
        ).alias("bounds")
    )
    bucketed = t.crossJoin(F.broadcast(bounds)).select(
        "n_tokens",
        (
            F.lit(1)
            + F.size(
                F.filter(
                    F.col("bounds"), lambda x: x < F.col("n_tokens")
                )
            )
        ).alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "ann_ivf_kmeans_topk",
    oracle=f"""
    WITH {_KMEANS_CTES},
    q AS (SELECT xf AS qxf FROM x WHERE vec_id = 0),
    qc AS (
      SELECT cluster FROM (
        SELECT c1.cluster,
               CAST(list_sum([(q.qxf[i]-c1.cf[i])*(q.qxf[i]-c1.cf[i])
                              for i in generate_series(1, len(q.qxf))])
                    AS BIGINT) AS dist
        FROM c1, q)
      ORDER BY dist, cluster LIMIT 2
    ),
    cand AS (
      SELECT a2.vec_id FROM a2 JOIN qc USING (cluster)
      WHERE a2.vec_id <> 0
    ),
    e2 AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
      FROM embeddings
    ),
    qv AS (SELECT v AS qv FROM e2 WHERE vec_id = 0),
    scored AS (
      SELECT e2.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM e2 JOIN cand USING (vec_id), qv
    ),
    ranked AS (
      SELECT vec_id, cos,
             row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT vec_id, cos, rank FROM ranked WHERE rank <= 10 ORDER BY rank
    """,
)
def ann_ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = 2
) -> DataFrame:
    """IVF ANN over a LEARNED coarse quantizer: the k-means cells from
    ``embedding_kmeans`` are the inverted-file partition, the query
    probes its ``nprobe`` nearest centroids (against the SAME centroids
    the final assignment used), and exact cosine runs only within those
    cells — the FAISS IVF-Flat recipe, composed entirely from the
    engine's own operators. nprobe=2 default: nprobe=1 misses
    boundary-of-cell neighbors (recall@10 vs bruteforce is pinned per
    nprobe in tests/test_ann_recall.py — the registered config must
    hold >= 0.9); the probe set is the semi-join key, so candidates
    from all probed cells union BEFORE the single final top-k. At
    100 TB the cell id is the partition column: the probe prunes the
    scan to nprobe/k of the corpus, and the centroid relation (k rows)
    broadcasts everywhere. All cell arithmetic is the fixed-point
    int64 of ``kmeans_assign``, so cell membership is bit-identical
    across engines; the in-cell scoring is the same fold-based double
    cosine as ``ann_bruteforce_topk``."""
    from ..functions.vectors import cosine_similarity
    from ..operators.similarity import kmeans_assign, topk_ranked

    e = load_table(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_assign(e, k=8, iters=2, return_centroids=True)
    qxf = e.filter(F.col("vec_id") == 0).select(
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * 10_000_000.0).cast("long"),
        ).alias("qxf")
    )
    qdist = F.aggregate(
        F.zip_with(F.col("cf"), F.col("qxf"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, y: acc + y,
    )
    qcell = (
        cents.crossJoin(F.broadcast(qxf))
        .select("cluster", qdist.alias("dist"))
        .orderBy("dist", "cluster")
        .limit(nprobe)
        .select("cluster")
    )
    qvec = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        assigned.join(F.broadcast(qcell), "cluster")
        .filter(F.col("vec_id") != 0)
        .join(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("qvec")).alias("cos"),
        )
    )
    return topk_ranked(scored, 10).orderBy("rank")


@register(
    "corpus_source_overlap",
    oracle=f"""
    WITH post AS (
      SELECT DISTINCT source, token FROM (
        SELECT source, unnest({_TOKS.format(c=_ASCII_LOWER)}) AS token
        FROM documents
      )
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS vocab FROM post
      GROUP BY source
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM post a JOIN post b
        ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b,
           CAST(n_shared AS DOUBLE)
             / (sa.vocab + sb.vocab - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise vocabulary overlap between sources — the corpus
    comparison behind mixture design and contamination triage ("how
    much does crawl A repeat crawl B?"). Posting-list shape like
    ``dedup_ngram_pairs``: distinct (source, token) postings self-join
    on the token, so the fan-out is Σ_t df(t)² bounded by the SOURCE
    count squared per token — never |vocab|² — and the result is the
    S·(S-1)/2 overlap matrix with exact Jaccard. The single double
    division at the end is engine-identical; everything before it is
    integer. Not the form to run at 100 TB (the postings shuffle is
    corpus-sized) — that's the ``_approx`` sketch twin below."""
    d = load_table(spark, sf_dir, "documents")
    post = d.select(
        "source", F.explode(tokens(ascii_lower(F.col("text")))).alias("token")
    ).distinct()
    sizes = post.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a = post.select(F.col("source").alias("source_a"), "token")
    b = post.select(F.col("source").alias("source_b"), "token")
    shared = (
        a.join(b, ["token"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("vocab").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("vocab").alias("vocab_b")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "vocab_a",
            "vocab_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@register("corpus_source_overlap_approx")
def corpus_source_overlap_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``corpus_source_overlap``: one HLL sketch per
    source (fixed-size mergeable state, one linear pass over the
    corpus), then the full S×S overlap matrix from sketches alone —
    |A∩B| ≈ |A| + |B| − |A∪B| with the pairwise union via the binary
    ``hll_union``. The corpus is scanned ONCE no matter how many source
    pairs are compared (vs the exact form's posting self-join), and
    stored per-shard sketches make the matrix incrementally
    maintainable. No DuckDB oracle (implementation-specific sketches);
    accuracy is tolerance-pinned against the exact form in
    tests/test_corpus_filters.py."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(tokens(ascii_lower(F.col("text")))).alias("token")
    )
    sk = tok.groupBy("source").agg(F.hll_sketch_agg("token").alias("sk"))
    a = sk.select(F.col("source").alias("source_a"), F.col("sk").alias("sk_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("sk").alias("sk_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.hll_sketch_estimate("sk_a").alias("est_a"),
            F.hll_sketch_estimate("sk_b").alias("est_b"),
            F.hll_sketch_estimate(
                F.hll_union("sk_a", "sk_b")
            ).alias("est_union"),
        )
        .select(
            "source_a",
            "source_b",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "n_shared_est"
            ),
            "est_a",
            "est_b",
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "dedup_semantic_keep",
    oracle=f"""
    WITH {_KMEANS_CTES},
    u0 AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
      FROM embeddings
    ),
    unit AS (
      SELECT vec_id,
             list_transform(v, x -> x / sqrt({_FOLD_DOT.format(a="v", b="v")}))
               AS u
      FROM u0
    ),
    m AS (
      SELECT a2.vec_id, a2.cluster, a2.dist, unit.u
      FROM a2 JOIN unit USING (vec_id)
    ),
    losers AS (
      SELECT DISTINCT
             CASE WHEN (a.dist, a.vec_id) < (b.dist, b.vec_id)
                  THEN a.vec_id ELSE b.vec_id END AS loser
      FROM m a JOIN m b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE {_FOLD_DOT.format(a="a.u", b="b.u")} >= 0.25
    )
    SELECT m.vec_id, m.cluster, m.dist,
           (losers.loser IS NULL) AS keep
    FROM m LEFT JOIN losers ON m.vec_id = losers.loser
    ORDER BY vec_id
    """,
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): cluster the embeddings with the deterministic
    k-means coarse quantizer, then prune near-duplicate pairs ONLY
    within each cluster — the cluster is the blocking key that turns
    the O(n²) semantic comparison into k independent O((n/k)²) blocks.
    Within a duplicate pair (cos >= 0.25) the member CLOSER to its
    centroid is dropped (the paper's keep-low-centroid-similarity
    rule: the far member carries more marginal information); ties
    break by vec_id. A vector survives iff no pair votes it out.

    100 TB design: k scales with corpus size (the paper runs k≈11k at
    100M embeddings) so the per-cluster block stays bounded; the
    quadratic join shuffles only on the cluster id, the unit vectors
    are normalized once map-side, and the keeper verdict is a
    left-anti-style join against the distinct loser set — no global
    window, no driver collect. Drop-in upstream of
    ``documents_curated``-style keeper joins. Fixed-point cluster
    arithmetic + sequential-fold cosine keep every engine
    bit-identical (same doctrine as ``dedup_embedding_pairs``)."""
    from ..functions.vectors import l2_norm
    from ..operators.similarity import kmeans_assign

    e = load_table(spark, sf_dir, "embeddings")
    # the assignment feeds three consumers (both pair sides + the final
    # verdict join); materialize it once instead of replanning the
    # iterative k-means subtree per consumer (same device as
    # dedup_clusters' edge pinning — at 100 TB this is "write the
    # assignment table, then dedup against it")
    asg = kmeans_assign(e, k=8, iters=2).localCheckpoint()
    unit = (
        e.select("vec_id", F.col("embedding").alias("v"))
        .withColumn("_nrm", l2_norm(F.col("v")))
        .select(
            "vec_id",
            F.transform(
                F.col("v"), lambda x: x.cast("double") / F.col("_nrm")
            ).alias("u"),
        )
    )
    m = asg.join(unit, "vec_id")
    a = m.select(
        F.col("vec_id").alias("ida"),
        F.col("cluster").alias("ca"),
        F.col("dist").alias("da"),
        F.col("u").alias("ua"),
    )
    # pinned shuffle join (r15, the _embedding_cosine_pairs device): a
    # corpus-derived broadcast funnels the join and the quadratic
    # explode+sum into one task locally and cannot exist at 100 TB;
    # value-safe — each pair's product rows still come from one
    # explode in one task, per-pair sum order unchanged
    b = m.hint("shuffle_hash").select(
        F.col("vec_id").alias("idb"),
        F.col("cluster").alias("cb"),
        F.col("dist").alias("db"),
        F.col("u").alias("ub"),
    )
    # per-pair cosine via arrays_zip → explode → codegen hash-agg sum
    # (no higher-order-function lambdas on the quadratic side; same
    # left-to-right accumulation as the oracle fold — see
    # dedup_embedding_pairs for the measured 2.7× rationale)
    pairs = a.join(
        b, (F.col("ca") == F.col("cb")) & (F.col("ida") < F.col("idb"))
    )
    prod = pairs.select(
        "ida",
        "idb",
        "da",
        "db",
        F.explode(F.arrays_zip("ua", "ub")).alias("z"),
    ).select(
        "ida", "idb", "da", "db", (F.col("z.ua") * F.col("z.ub")).alias("p")
    )
    losers = (
        prod.groupBy("ida", "idb", "da", "db")
        .agg(F.sum("p").alias("cos"))
        .filter(F.col("cos") >= 0.25)
        .select(
            F.when(
                F.struct(F.col("da"), F.col("ida"))
                < F.struct(F.col("db"), F.col("idb")),
                F.col("ida"),
            )
            .otherwise(F.col("idb"))
            .alias("loser")
        )
        .distinct()
    )
    return (
        asg.join(losers, asg["vec_id"] == losers["loser"], "left")
        .select(
            "vec_id",
            "cluster",
            "dist",
            F.col("loser").isNull().alias("keep"),
        )
    )


@register(
    "documents_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest([{{'w1': t[i], 'w2': t[i+1]}}
                     for i in generate_series(1, len(t) - 1)]) AS z
      FROM toks WHERE len(t) >= 2
    ),
    db AS (SELECT doc_id, z.w1 AS w1, z.w2 AS w2 FROM bg),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM db GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    q AS (
      SELECT w1, w2, (1000000 * c12) // c1.c1 AS q
      FROM c12 JOIN c1 USING (w1)
    )
    SELECT db.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(q.q) AS BIGINT) AS q_sum,
           CAST(sum(q.q) AS DOUBLE) / (1000000.0 * count(*)) AS fluency
    FROM db JOIN q USING (w1, w2)
    GROUP BY db.doc_id
    ORDER BY db.doc_id
    """,
)
def documents_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency under the corpus's own bigram LM: the mean
    conditional probability P(w2 | w1) over the document's bigrams —
    the train-then-score loop of perplexity-based quality filtering
    (CCNet's wikipedia-LM gate, public), with the LM estimated from
    the corpus itself in the same query. Each bigram's probability is
    quantized to fixed-point ppm with exact INTEGER division
    ((1e6·c12) div c1 — numerators bounded by 1e6·corpus ≪ 2^63), so
    the per-doc sum is order-independent and engine-identical; one
    final IEEE division produces the [0, 1] fluency. Plan: the bigram
    relation is counted once, the model join is bigram-keyed (the
    model relation is |bigram types|, far below corpus size), and the
    per-doc aggregate partial-aggregates — three shuffles total, no
    window, no collect."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(ascii_lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t")
    db = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    c12 = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    q = c12.join(c1, "w1").select(
        "w1", "w2", F.expr("(1000000 * c12) div c1").alias("q")
    )
    return (
        db.join(q, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("q_sum"),
            (
                F.sum("q").cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)))
            ).alias("fluency"),
        )
    )


@register(
    "documents_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest([{{'w1': t[i], 'w2': t[i+1]}}
                     for i in generate_series(1, len(t) - 1)]) AS z
      FROM toks WHERE len(t) >= 2
    ),
    db AS (SELECT doc_id, z.w1 AS w1, z.w2 AS w2 FROM bg),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM db GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    q AS (
      SELECT w1, w2, (1000000 * c12) // c1.c1 AS q
      FROM c12 JOIN c1 USING (w1)
    ),
    per_doc AS (
      SELECT db.doc_id,
             CAST(sum(q.q) // count(*) AS BIGINT) AS score_fp
      FROM db JOIN q USING (w1, w2)
      GROUP BY db.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang,
             CAST(coalesce(p.score_fp, -1) AS BIGINT) AS score_fp
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ),
    hist AS (
      SELECT lang, score_fp, CAST(count(*) AS BIGINT) AS cnt
      FROM scored GROUP BY lang, score_fp
    ),
    cum AS (
      SELECT lang, score_fp,
             CAST(coalesce(sum(cnt) OVER (
               PARTITION BY lang ORDER BY score_fp DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS better,
             CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
      FROM hist
    )
    SELECT s.doc_id, s.lang, s.score_fp,
           CASE WHEN 3 * c.better < c.n_lang THEN 'head'
                WHEN 3 * c.better < 2 * c.n_lang THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s JOIN cum c USING (lang, score_fp)
    ORDER BY s.doc_id
    """,
)
def documents_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, public): every document lands in the head / middle / tail
    third of its LANGUAGE's fluency distribution under the corpus's
    own bigram LM — the split CCNet uses to keep head+middle and
    judge tail. Scoring reuses the ``documents_lm_score`` fixed-point
    model (ppm integer mean conditional probability; scoreless docs
    sink to a -1 sentinel, deterministically 'tail'); bucket
    boundaries are TIE-SAFE — the bucket is a function of the score
    VALUE (3·|strictly better| vs |lang|), so equal scores always
    share a bucket and no per-doc ordering exists anywhere.

    The oracle states the semantics with per-lang histogram windows;
    the Spark plan computes the identical 'strictly better' counts
    with NO per-lang unbounded window (a language is corpus-sized —
    the same anti-pattern ``documents_budget_selected`` avoids): the
    (lang, score_fp) histogram's exclusive running totals come from a
    coarse-bucket (score div 1024 — ≤ ~1000 values) self-join plus a
    window partitioned by (lang, coarse), state ≤ 1024 rows; the
    model-scale stat relation then broadcasts onto the corpus.

    The pure declarative form re-derives the scored projection and
    histogram per consumer branch (the same documented diamond trade
    as ``documents_curated`` / ``documents_budget_selected``);
    ``perplexity_buckets_scoped`` persists both for production
    callers — one LM-scoring pass total."""
    d = load_table(spark, sf_dir, "documents")
    return _perplexity_plan(d)


def _perplexity_plan(d: DataFrame, pin=lambda df: df) -> DataFrame:
    """Perplexity-bucket plan over a documents frame; ``pin`` is
    applied to the scored projection and the (lang, score) histogram —
    the two diamonds every downstream branch re-derives in the pure
    form (20 pruned scans at last audit)."""
    toks = d.select(
        "doc_id", tokens(ascii_lower(F.col("text"))).alias("t")
    ).filter(F.size("t") >= 2)
    n = F.size("t")
    db = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    c12 = db.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    q = c12.join(c1, "w1").select(
        "w1", "w2", F.expr("(1000000 * c12) div c1").alias("q")
    )
    per_doc = (
        db.join(q, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.expr("sum(q) div count(*)").alias("score_fp"))
    )
    scored = pin(
        d.select("doc_id", "lang")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("score_fp"), F.lit(-1)).cast("long").alias(
                "score_fp"
            ),
        )
    )
    hist = pin(
        scored.groupBy("lang", "score_fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "lang", "score_fp", "cnt",
            F.expr("score_fp div 1024").alias("cb"),
        )
    )
    chist = hist.groupBy("lang", "cb").agg(F.sum("cnt").alias("bcnt"))
    c2 = chist.select(
        F.col("lang").alias("lang2"),
        F.col("cb").alias("cb2"),
        F.col("bcnt").alias("bcnt2"),
    )
    ccum = (
        chist.join(
            F.broadcast(c2),
            (F.col("lang2") == F.col("lang")) & (F.col("cb2") > F.col("cb")),
            "left",
        )
        .groupBy("lang", "cb", "bcnt")
        .agg(F.coalesce(F.sum("bcnt2"), F.lit(0)).alias("above"))
    )
    n_lang = hist.groupBy("lang").agg(F.sum("cnt").alias("n_lang"))
    wq = (
        W.partitionBy("lang", "cb")
        .orderBy(F.col("score_fp").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    stat = (
        hist.select(
            "lang",
            "score_fp",
            "cb",
            F.coalesce(F.sum("cnt").over(wq), F.lit(0)).alias("within"),
        )
        .join(F.broadcast(ccum.select("lang", "cb", "above")), ["lang", "cb"])
        .join(F.broadcast(n_lang), "lang")
        .select(
            "lang",
            "score_fp",
            (F.col("above") + F.col("within")).alias("better"),
            "n_lang",
        )
    )
    bucket = (
        F.when(3 * F.col("better") < F.col("n_lang"), F.lit("head"))
        .when(3 * F.col("better") < 2 * F.col("n_lang"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.join(F.broadcast(stat), ["lang", "score_fp"]).select(
        "doc_id", "lang", "score_fp", bucket.alias("bucket")
    )


@contextmanager
def perplexity_buckets_scoped(d: DataFrame):
    """Materialized perplexity bucketing: persists the LM-scored
    projection and the (lang, score) histogram so the coarse-bucket /
    n_lang / stat branches read InMemoryRelations instead of
    re-deriving the bigram-LM join from parquet (the pure registered
    form pays ~20 pruned scans for declarative purity — same trade
    and same escape as ``budget_select_scoped``). Unpersists on exit;
    run your actions inside the block. Same rows as the registered
    ``documents_perplexity_buckets`` (asserted in tests)."""
    handles: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        h = df.persist()
        handles.append(h)
        return h

    try:
        yield _perplexity_plan(d, pin)
    finally:
        for h in handles:
            h.unpersist()


@register(
    "documents_repeated_substrings",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, g.i - 1 AS pos,
             md5(array_to_string(list_slice(t, g.i, g.i + 7), ' ')) AS shd
      FROM toks,
           unnest(CASE WHEN len(t) >= 8
                       THEN generate_series(1, len(t) - 7)
                       ELSE [] END) AS g(i)
    ),
    dup AS (SELECT shd FROM sh GROUP BY shd HAVING count(*) >= 2),
    m AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shd)),
    r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m
    )
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS start_pos,
           CAST(max(pos) AS BIGINT) AS last_pos,
           CAST(max(pos) - min(pos) + 8 AS BIGINT) AS span_tokens
    FROM r GROUP BY doc_id, grp
    HAVING max(pos) - min(pos) + 8 >= 12
    ORDER BY doc_id, start_pos
    """,
)
def documents_repeated_substrings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact repeated-SUBSTRING detection at token granularity — the
    suffix-array dedup of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better", public) re-expressed as the
    Spark-native shingle-run form: a maximal run of consecutive token
    positions whose 8-token shingles each occur ≥ 2 times corpus-wide
    marks a span (≥ 12 tokens reported) that is repeated somewhere —
    finer than ``documents_paragraph_dedup``'s fixed segment grid,
    which misses duplicates that straddle segment boundaries. (Run
    form is the standard over-approximation of true duplicated spans:
    each shingle's second occurrence may be in different places; a
    span's removal candidacy is confirmed/consumed downstream.)

    Scale shape: shingle hashes are a map-side generate (positions
    from ``sequence``, md5 per 8-token window — 16-byte keys move, not
    text); the duplicate set is ONE groupBy(shd) whose map-side
    combine absorbs hot-shingle mass (same argument, and the same
    measured flat-factor, as the segment operators in SCALE.md); the
    mark join is shuffle-on-shingle with NOTHING broadcast (the dup
    relation is corpus-sized by construction — merge-join pinned like
    paragraph dedup's firsts join); maximal runs ride a window
    partitioned by doc (state bounded by document length) and one
    groupBy(doc, run)."""
    d = load_table(spark, sf_dir, "documents")
    return _dup_substring_runs(d).filter(
        F.col("span_tokens") >= 12
    ).drop("grp")


def _dup_substring_runs(d: DataFrame) -> DataFrame:
    """Shared subtree of the repeated-substring family: maximal runs
    (doc_id, grp, start_pos, last_pos, span_tokens) of consecutive
    positions whose 8-token shingle occurs ≥ 2 times corpus-wide."""
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    shingles = F.transform(
        F.sequence(F.lit(1), n - 7),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(8)))),
    )
    sh = toks.filter(n >= 8).select(
        "doc_id", F.posexplode(shingles).alias("pos", "shd")
    )
    dup = (
        sh.groupBy("shd")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("shd")
    )
    marked = sh.join(dup.hint("shuffle_merge"), "shd").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    runs = marked.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w)).alias("grp")
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("start_pos"),
        F.max("pos").cast("long").alias("last_pos"),
        (F.max("pos") - F.min("pos") + 8).cast("long").alias("span_tokens"),
    )


@register(
    "documents_substring_scrubbed",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, g.i - 1 AS pos,
             md5(array_to_string(list_slice(t, g.i, g.i + 7), ' ')) AS shd
      FROM toks,
           unnest(CASE WHEN len(t) >= 8
                       THEN generate_series(1, len(t) - 7)
                       ELSE [] END) AS g(i)
    ),
    firsts AS (
      SELECT shd, CAST(count(*) AS BIGINT) AS c,
             min(struct_pack(doc_id := doc_id, pos := pos)) AS f
      FROM sh GROUP BY shd
    ),
    nonfirst AS (
      SELECT s.doc_id, s.pos
      FROM sh s JOIN firsts x USING (shd)
      WHERE x.c >= 2
        AND NOT (s.doc_id = x.f.doc_id AND s.pos = x.f.pos)
    ),
    cover AS (
      SELECT doc_id, pos + g.o AS tok,
             CAST(count(*) AS BIGINT) AS n_bad
      FROM nonfirst, unnest(generate_series(0, 7)) AS g(o)
      GROUP BY doc_id, pos + g.o
    ),
    tok_rows AS (
      SELECT doc_id, t, len(t) AS n, g.i - 1 AS tok, t[g.i] AS w
      FROM toks, unnest(CASE WHEN len(t) > 0
                             THEN generate_series(1, len(t))
                             ELSE [] END) AS g(i)
    ),
    marked AS (
      SELECT r.doc_id, r.tok, r.w,
             CASE WHEN r.n >= 8 THEN
               least(r.tok, r.n - 8) - greatest(r.tok - 7, 0) + 1
             ELSE 0 END AS n_cover,
             coalesce(c.n_bad, 0) AS n_bad
      FROM tok_rows r LEFT JOIN cover c
        ON c.doc_id = r.doc_id AND c.tok = r.tok
    ),
    kept AS (
      SELECT doc_id, tok, w,
             (n_cover = 0 OR n_bad < n_cover) AS keep
      FROM marked
    )
    SELECT t.doc_id,
           coalesce(string_agg(k.w, ' ' ORDER BY k.tok)
                      FILTER (k.keep), '') AS text_clean,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(coalesce(count(*) FILTER (NOT k.keep), 0) AS BIGINT)
             AS n_removed
    FROM toks t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, t.t
    ORDER BY t.doc_id
    """,
)
def documents_substring_scrubbed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The repeated-substring family's TERMINAL — Lee et al. 2021's
    "keep one occurrence" applied at token granularity: for every
    duplicated 8-token shingle, its corpus-FIRST occurrence (min
    (doc_id, pos)) survives; a token is removed iff it is covered by
    at least one shingle position and EVERY position covering it is a
    duplicated-non-first occurrence. Tokens under any novel or
    first-occurrence shingle stay, so the first copy of a repeated
    passage keeps its text and later copies lose exactly the repeated
    span (minus the boundary tokens a novel neighbor still vouches
    for). Survivors are reassembled in order; docs scrubbed empty
    come back ``text_clean = ''``.

    Plan shape — NO windows anywhere: firsts ride the same one-shuffle
    min_by groupBy as ``documents_paragraph_dedup`` (map-side combine
    absorbs hot-shingle mass); the non-first mark join shuffles on the
    16-byte shingle hash (never broadcast — corpus-sized relation);
    coverage is a map-side 8-way explode of MARKED positions only
    (duplicate mass, not corpus mass); the keep decision is pure
    per-token arithmetic (covering-interval size from n and t); and
    reassembly + removal counts ride one groupBy-doc aggregate."""
    d = load_table(spark, sf_dir, "documents")
    return _scrub_plan_over(d)


def _scrub_plan_over(d: DataFrame) -> DataFrame:
    """Substring-scrub plan over a documents frame (doc_id, text) —
    split out so the skew bench (7f66565:tools/bench_segment_skew.py) can run
    it over generated corpora."""
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    shingles = F.transform(
        F.sequence(F.lit(1), n - 7),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(8)))),
    )
    sh = toks.filter(n >= 8).select(
        "doc_id", F.posexplode(shingles).alias("pos", "shd")
    )
    firsts = sh.groupBy("shd").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(F.struct("doc_id", "pos")).alias("f"),
    )
    nonfirst = (
        sh.join(firsts.hint("shuffle_merge"), "shd")
        .filter(
            (F.col("c") >= 2)
            & ~(
                (F.col("doc_id") == F.col("f.doc_id"))
                & (F.col("pos") == F.col("f.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    cover = (
        nonfirst.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias(
                "tok"
            ),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n_bad"))
    )
    tok_rows = toks.select(
        "doc_id", n.alias("n"), F.posexplode("t").alias("tok", "w")
    )
    n_cover = F.when(
        F.col("n") >= 8,
        F.least(F.col("tok"), F.col("n") - 8)
        - F.greatest(F.col("tok") - 7, F.lit(0))
        + 1,
    ).otherwise(F.lit(0))
    marked = (
        tok_rows.join(cover, ["doc_id", "tok"], "left")
        .select(
            "doc_id",
            "tok",
            "w",
            n_cover.alias("n_cover"),
            F.coalesce("n_bad", F.lit(0)).alias("n_bad"),
        )
        .select(
            "doc_id",
            "tok",
            "w",
            (
                (F.col("n_cover") == 0) | (F.col("n_bad") < F.col("n_cover"))
            ).alias("keep"),
        )
    )
    base = toks.select("doc_id", n.cast("long").alias("n_tokens"))
    agg = marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("tok", "w"))
                    )
                ),
                lambda x: x["w"],
            ),
            " ",
        ).alias("text_clean"),
        F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
    )
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        "n_tokens",
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )


@register(
    "documents_substring_dup_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, g.i - 1 AS pos,
             md5(array_to_string(list_slice(t, g.i, g.i + 7), ' ')) AS shd
      FROM toks,
           unnest(CASE WHEN len(t) >= 8
                       THEN generate_series(1, len(t) - 7)
                       ELSE [] END) AS g(i)
    ),
    dup AS (SELECT shd FROM sh GROUP BY shd HAVING count(*) >= 2),
    m AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shd)),
    r AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM m
    ),
    runs AS (
      SELECT doc_id,
             max(pos) - min(pos) + 1 AS n_pos,
             max(pos) - min(pos) + 8 AS span_tokens
      FROM r GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(n_pos) AS BIGINT) AS n_dup_positions,
             CAST(count(*) FILTER (span_tokens >= 12) AS BIGINT) AS n_spans,
             CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
      FROM runs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(greatest(len(t.t) - 7, 0) AS BIGINT) AS n_positions,
           CAST(coalesce(p.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
           CASE WHEN len(t.t) >= 8
                THEN CAST(coalesce(p.n_dup_positions, 0) AS DOUBLE)
                     / (len(t.t) - 7)
                ELSE CAST(0.0 AS DOUBLE) END AS dup_frac
    FROM toks t LEFT JOIN per_doc p USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def documents_substring_dup_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document repeated-substring pressure — the quality signal a
    curation gate consumes from the ``documents_repeated_substrings``
    subtree: how many shingle positions sit inside corpus-duplicated
    runs, how many reportable (≥ 12-token) spans, the longest span,
    and the duplicated-position fraction (exact IEEE division of two
    integers — engine-identical). Docs with no duplicated material
    (or < 8 tokens) report zeros via the left join, so the output is
    corpus-shaped and joinable with the other per-doc scores. Same
    plan shape as the span query plus one per-doc aggregate."""
    d = load_table(spark, sf_dir, "documents")
    runs = _dup_substring_runs(d)
    per_doc = runs.groupBy("doc_id").agg(
        F.sum(F.col("last_pos") - F.col("start_pos") + 1)
        .cast("long")
        .alias("n_dup_positions"),
        F.sum((F.col("span_tokens") >= 12).cast("long"))
        .cast("long")
        .alias("n_spans"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
    )
    nt = F.size(tokens(F.col("text")))
    base = d.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        F.greatest(nt - 7, F.lit(0)).cast("long").alias("n_positions"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_positions",
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
            "n_dup_positions"
        ),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("max_span_tokens", F.lit(0)).cast("long").alias(
            "max_span_tokens"
        ),
        F.when(
            F.col("n_positions") > 0,
            F.coalesce("n_dup_positions", F.lit(0)).cast("double")
            / F.col("n_positions"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


@register(
    "corpus_dedup_report",
    oracle="""
    WITH f AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ),
    g AS (
      SELECT source, fp, CAST(count(*) AS BIGINT) AS n
      FROM f GROUP BY source, fp
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct_texts,
           CAST(sum(n) - count(*) AS BIGINT) AS n_redundant_docs,
           CAST(sum(n) - count(*) AS DOUBLE) / sum(n) AS dup_frac
    FROM g
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication dashboard: how many documents each
    source contributes, how many distinct texts that is, and the
    redundant fraction an exact dedup pass would remove — the summary
    a curation run reports before/after (the reporting rollup over the
    ``dedup_exact`` structure). Two partial-aggregated shuffles —
    (source, fingerprint) then source — both keyed below source
    cardinality after the first combine; fingerprints are md5 of the
    raw text, identical on both engines."""
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select("source", F.md5("text").alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct_texts"),
            (F.sum("n") - F.count(F.lit(1))).alias("n_redundant_docs"),
            (
                (F.sum("n") - F.count(F.lit(1))).cast("double")
                / F.sum("n")
            ).alias("dup_frac"),
        )
        .orderBy("source")
    )


@register(
    "text_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    bg AS (
      SELECT unnest([{{'w1': t[i], 'w2': t[i+1]}}
                     for i in generate_series(1, len(t) - 1)]) AS z
      FROM toks WHERE len(t) >= 2
    ),
    c12 AS (
      SELECT z.w1 AS w1, z.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1
    ),
    scored AS (
      SELECT c12.w1, w2, c12, c1.c1,
             CAST(c12 AS DOUBLE) / c1.c1 AS prob
      FROM c12 JOIN c1 USING (w1)
    ),
    ranked AS (
      SELECT w1, w2, c12, c1, prob,
             CAST(row_number() OVER (PARTITION BY w1
                                     ORDER BY c12 DESC, w2) AS BIGINT)
               AS rank
      FROM scored
    )
    SELECT w1, w2, c12, c1, prob, rank FROM ranked WHERE rank <= 3
    ORDER BY w1, rank
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a bigram language model ON the corpus: maximum-likelihood
    conditional probabilities P(w2 | w1) = c(w1,w2) / c(w1), keeping
    the top-3 continuations per context — the classic MapReduce LM
    estimation (Brants et al. 2007, "Large Language Models in Machine
    Translation" — public EMNLP), i.e. model TRAINING as a query, the
    counterpart of ``documents_classifier_score``'s model inference.

    Plan shape at 100 TB: bigrams are generated map-side with
    ``arrays_zip`` over two shifted slices (a regular codegen
    expression — no higher-order-function lambdas, the
    ``dedup_embedding_pairs`` lesson), the (w1, w2) count
    partial-aggregates before its single shuffle, the context total
    reuses the counted relation (Σ_w2 c12 — never a second corpus
    scan), and the top-3 window partitions by w1 — per-partition state
    bounded by a context's continuation vocabulary, no global window.
    The probability is one IEEE division of exact integers, so engines
    agree bit-for-bit; ties rank by (count desc, w2) for determinism."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens(ascii_lower(F.col("text"))).alias("t")).filter(
        F.size("t") >= 2
    )
    n = F.size("t")
    bg = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("z")
    ).select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = c12.join(c1, "w1").select(
        "w1",
        "w2",
        "c12",
        "c1",
        (F.col("c12").cast("double") / F.col("c1")).alias("prob"),
    )
    w = W.partitionBy("w1").orderBy(F.col("c12").desc(), F.col("w2"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "corpus_source_ab_test",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(len({_TOKS.format(c="text")}) AS BIGINT) AS x
      FROM documents
    ),
    st AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             sum(CAST(x AS HUGEINT) * x) AS v
      FROM per GROUP BY source
    ),
    sides AS (
      SELECT source, n,
             CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT) AS mean_milli,
             CAST(((CAST(n AS HUGEINT) * v - CAST(s AS HUGEINT) * s)
                   * 1000000)
               // nullif(CAST(n AS HUGEINT) * (n - 1), 0) AS BIGINT)
               AS var_m
      FROM st
    ),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b,
             a.mean_milli AS mean_milli_a, b.mean_milli AS mean_milli_b,
             a.var_m // a.n + b.var_m // b.n AS se2,
             a.mean_milli - b.mean_milli AS d
      FROM sides a JOIN sides b ON a.source < b.source
    )
    SELECT source_a, source_b, n_a, n_b, mean_milli_a, mean_milli_b,
           CAST(CAST(d AS HUGEINT) * d * 1000 // nullif(se2, 0) AS BIGINT)
             AS t2_milli,
           CAST(CAST(d AS HUGEINT) * d > 4 * CAST(se2 AS HUGEINT)
                AS BIGINT) AS is_significant
    FROM p ORDER BY source_a, source_b
    """,
)
def corpus_source_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test between every source pair on
    per-document token counts
    (operators/drift.py:welch_source_pairs) — "is src7's length
    distribution actually different from src3's, or is the gap
    noise?", the corpus-mix audit primitive. No sqrt anywhere: the
    |t| > 2 (≈95%) fence is squared into the exact predicate
    diff² > 4·se² with DECIMAL-lifted products (the three-sigma
    algebra device). One corpus aggregate down to |sources| rows; the
    pair relation is |sources|² config-scale."""
    from ..operators.drift import welch_source_pairs

    d = load_table(spark, sf_dir, "documents")
    per = d.select("source", token_count(F.col("text")).alias("x"))
    return welch_source_pairs(per)


@register(
    "corpus_source_robust_stats",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(len({_TOKS.format(c="text")}) AS BIGINT) AS x
      FROM documents
    ),
    h AS (
      SELECT source, x, CAST(count(*) AS BIGINT) AS c
      FROM per GROUP BY 1, 2
    ),
    h2 AS (
      SELECT *, CAST(sum(c) OVER (PARTITION BY source ORDER BY x
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS e
      FROM h
    ),
    h3 AS (SELECT *, e - c AS s FROM h2),
    tot AS (SELECT source, max(e) AS n FROM h3 GROUP BY source),
    k AS (
      SELECT h3.*, n,
             greatest(CAST(0 AS BIGINT),
                      least(e, n - n // 10) - greatest(s, n // 10))
               AS kept
      FROM h3 JOIN tot USING (source)
    )
    SELECT source, n,
           min(CASE WHEN e >= (n + 1) // 2 THEN x END) AS median,
           min(CASE WHEN 10 * e >= 9 * n THEN x END) AS p90,
           CAST(sum(CAST(x AS HUGEINT) * kept) * 1000
                // nullif(sum(kept), 0) AS BIGINT) AS trimmed_mean_milli
    FROM k GROUP BY source, n
    ORDER BY source
    """,
)
def corpus_source_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source token-count statistics — median, p90, and the
    exact 10%-trimmed mean (operators/drift.py:robust_source_stats) —
    the outlier-resistant companion of ``corpus_source_ab_test``'s
    moment tests. No window ever touches the per-document relation:
    the corpus pass collapses to a (source, length) histogram and
    every statistic is integer arithmetic over the bounded cumulative
    counts, with PARTIAL trim buckets handled exactly
    (max(0, min(e, hi) − max(s, lo)) copies of a bucket's value) — so
    the result equals per-source sorting at histogram cost."""
    from ..operators.drift import robust_source_stats

    d = load_table(spark, sf_dir, "documents")
    per = d.select("source", token_count(F.col("text")).alias("x"))
    return robust_source_stats(per)


@register(
    "text_collocations_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    bg AS (
      SELECT unnest([{{'w1': t[i], 'w2': t[i+1]}}
                     for i in generate_series(1, len(t) - 1)]) AS z
      FROM toks WHERE len(t) >= 2
    ),
    c12 AS (
      SELECT z.w1 AS w1, z.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
      FROM bg GROUP BY 1, 2
    ),
    cl AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS cl FROM c12 GROUP BY w1
    ),
    cr AS (
      SELECT w2, CAST(sum(c12) AS BIGINT) AS cr FROM c12 GROUP BY w2
    ),
    b AS (SELECT CAST(sum(c12) AS BIGINT) AS bb FROM c12),
    scored AS (
      SELECT c12.w1, c12.w2, c12.c12, cl, cr,
             CAST((CAST(c12 AS HUGEINT) * bb * 1000000)
                  // (CAST(cl AS HUGEINT) * cr) AS BIGINT) AS lift_ppm
      FROM c12 JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN b
      WHERE c12 >= 5
    )
    SELECT w1, w2, c12, cl, cr, lift_ppm
    FROM scored
    WHERE lift_ppm > 1000000
    ORDER BY lift_ppm DESC, c12 DESC, w1, w2
    LIMIT 50
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-50 bigrams by pointwise-mutual-
    information LIFT — c(w1,w2)·B / (cl(w1)·cr(w2)) in exact ppm, where
    cl/cr are the left/right bigram-slot marginals and B the total
    bigram count. Lift is the monotone integer core of PMI
    (PMI = log lift), so ranking by lift ranks by PMI with no libm log
    in the hash-checked path; ``lift_ppm > 1e6`` keeps positive-PMI
    pairs and ``c12 ≥ 5`` is the standard rare-pair guard (a
    once-ever pair has near-infinite lift and no evidence).

    Plan shape at 100 TB: one corpus pass generates bigrams map-side
    (shifted-slice arrays_zip, the ``text_bigram_lm`` device) into the
    single (w1,w2) count shuffle; the marginals and the scalar B are
    derived FROM the counted relation (localCheckpoint — never a
    second corpus scan) and the min-count filter prunes the Zipf tail
    BEFORE the two marginal joins, so the scoring joins move only
    evidence-bearing pairs. Global top-50 is orderBy+limit →
    TakeOrderedAndProject (per-partition top-k, no global Window or
    sort). Headroom: c12·B and cl·cr are DECIMAL(38,0)-lifted — exact
    to ~1e19 bigrams."""
    d = load_table(spark, sf_dir, "documents")
    # ascii_lower, not lower(): hash-checked group keys; full lower()
    # is Unicode-version-dependent across JVM/DuckDB (r10 ADVICE;
    # functions/text.py:ascii_lower contract).
    toks = d.select(tokens(ascii_lower(F.col("text"))).alias("t")).filter(
        F.size("t") >= 2
    )
    n = F.size("t")
    bg = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("w1"),
                F.slice("t", 2, n - 1).alias("w2"),
            )
        ).alias("z")
    ).select(F.col("z.w1").alias("w1"), F.col("z.w2").alias("w2"))
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint()
    )
    cl = c12.groupBy("w1").agg(F.sum("c12").alias("cl"))
    cr = c12.groupBy("w2").agg(F.sum("c12").alias("cr"))
    b = c12.agg(F.sum("c12").alias("bb"))
    scored = (
        c12.filter(F.col("c12") >= 5)
        .join(cl, "w1")
        .join(cr, "w2")
        .crossJoin(F.broadcast(b))
        .select(
            "w1",
            "w2",
            "c12",
            "cl",
            "cr",
            F.expr(
                "CAST((CAST(c12 AS DECIMAL(38,0)) * bb * 1000000)"
                " div (CAST(cl AS DECIMAL(38,0)) * cr) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .filter(F.col("lift_ppm") > 1000000)
    )
    return scored.orderBy(
        F.col("lift_ppm").desc(), F.col("c12").desc(), "w1", "w2"
    ).limit(50)


@register(
    "documents_classifier_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(t, x ->
               (({_BASE_HASH.format(s="x")} % 1024) * 2654435761 + 101)
                 % 2001 - 1000)), 0) AS BIGINT) AS score_fp
      FROM tok
    )
    SELECT doc_id, n_tokens, score_fp,
           CASE WHEN n_tokens > 0
                THEN CAST(score_fp AS DOUBLE) / (1000.0 * n_tokens)
                ELSE 0.0 END AS margin,
           (score_fp >= 0) AS label
    FROM scored
    ORDER BY doc_id
    """,
)
def documents_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear classifier scoring — the fastText /
    CCNet quality-classifier inference shape (public: Joulin et al.
    2016, Wenzek et al. 2019) as a pure map-side fold. Each token
    hashes into one of 1024 feature buckets (the cross-engine md5
    device) and the document score is the integer sum of the bucket
    weights; the margin is the mean weight, the label its sign.

    The weight table here is a FROZEN deterministic function of the
    bucket id (integer fixed-point 1e-3 in [-1, 1]) standing in for
    trained parameters — the scoring plumbing, which is what the
    engine owns, is real: at 100 TB this plan is a zero-shuffle
    projection (fold over the token array inside whole-stage codegen,
    no explode, no join, no Python), so classifier filtering runs at
    full scan throughput. Swapping in real trained weights changes
    only the weight expression — either a `F.create_map` literal
    (vocab-hashed models are small) or, for 2^20-bucket models, a
    posexplode + broadcast-join variant of the same plan. Integer
    accumulation makes the result order-independent, so Spark and the
    oracle agree bit-for-bit; the single final division is one IEEE
    op. Peak intermediate (1023·2654435761) ≈ 2.7e12: inside int64."""
    d = load_table(spark, sf_dir, "documents")

    def weight(t):
        bucket = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % 1024
        return (bucket * 2654435761 + 101) % 2001 - 1000

    toks = tokens(ascii_lower(F.col("text")))
    scored = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + weight(t)
        ).alias("score_fp"),
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "score_fp",
        F.when(
            F.col("n_tokens") > 0,
            F.col("score_fp").cast("double") / (1000.0 * F.col("n_tokens")),
        )
        .otherwise(F.lit(0.0))
        .alias("margin"),
        (F.col("score_fp") >= 0).alias("label"),
    )


@register(
    "documents_importance_resampled",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS.format(c="text")} AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
             unnest([t[i] || ' ' || t[i+1]
                     for i in generate_series(1, len(t) - 1)]) AS gram
      FROM toks WHERE len(t) >= 2
    ),
    feats AS (
      SELECT doc_id, lang, {_BASE_HASH.format(s="gram")} % 1024 AS bucket
      FROM bg
    ),
    counts AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS c_raw,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_t
      FROM feats GROUP BY bucket
    ),
    totals AS (
      SELECT CAST(sum(c_raw) AS BIGINT) AS t_raw,
             CAST(sum(c_t) AS BIGINT) AS t_t
      FROM counts
    ),
    ratios AS (
      SELECT bucket,
             CASE WHEN CAST(1000000 AS HUGEINT) * (c_t + 1) * (t_raw + 1024)
                       >= CAST(1000000000 AS HUGEINT)
                          * (c_raw + 1) * (t_t + 1024)
                  THEN CAST(1000000000 AS BIGINT)
                  ELSE CAST((CAST(1000000 AS HUGEINT) * (c_t + 1)
                             * (t_raw + 1024))
                            // (CAST(c_raw + 1 AS HUGEINT) * (t_t + 1024))
                            AS BIGINT)
             END AS ratio_ppm
      FROM counts, totals
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(r.ratio_ppm) AS BIGINT) AS weight_ppm
      FROM feats f JOIN ratios r USING (bucket)
      GROUP BY f.doc_id
    )
    SELECT d.doc_id, d.lang,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.weight_ppm, 0) AS weight_ppm,
           CASE WHEN coalesce(s.n_bigrams, 0) > 0
                THEN coalesce(s.weight_ppm, 0) // s.n_bigrams
                ELSE CAST(0 AS BIGINT) END AS mean_ratio_ppm,
           (coalesce(s.n_bigrams, 0) > 0 AND
            coalesce(s.weight_ppm, 0) // s.n_bigrams >= 1000000) AS kept
    FROM documents d LEFT JOIN scored s USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def documents_importance_resampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection with importance resampling (Xie et
    al., NeurIPS 2023, arXiv 2302.03169, public): score every raw
    document by how much its hashed-bigram feature distribution looks
    like a TARGET domain (here lang='en', the pretraining-target
    stand-in) versus the raw corpus, and keep the docs whose mean
    per-feature likelihood ratio favors the target. Faithful to the
    paper's structure — hashed n-gram features, bag-of-buckets
    generative model under target and raw, per-doc product of ratios
    — with two published knobs made explicit: Laplace (+1) smoothing,
    and weight CLIPPING at 1000x (the paper clips importance weights
    too); the per-doc aggregate is the SUM of fixed-point per-bucket
    ratios rather than the log-product (libm log is not bit-portable
    across engines — registry determinism rules), a monotone-in-spirit
    surrogate documented here.

    Scale shape, 100 TB story: ONE corpus scan feeds an explode whose
    bucket aggregate map-side-combines into exactly 1024 rows — the
    entire "model" (target + raw distributions) is a 1024-row
    broadcast, never a shuffle of anything corpus-sized. Per-doc
    scoring is the exploded frame joined to that broadcast and one
    groupBy(doc_id) with map-side partial sums; the final left join
    keeps featureless docs. All arithmetic is exact integer fixed
    point (ppm): DECIMAL(38,0) intermediates (peak ~1e6*T_t*T_r ~
    1e34 at 100 TB, inside 38 digits), division only taken when the
    clamp guarantees the quotient fits int64 — Spark's decimal `div`
    silently wraps past 2^63, so the CASE tests the bound FIRST."""
    d = load_table(spark, sf_dir, "documents")
    B = 1024
    t = tokens(F.col("text"))
    n = F.size(t)
    bigrams = (
        F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    from ..operators.dedup import base_hash

    feats = d.select(
        "doc_id", "lang", F.explode(bigrams).alias("gram")
    ).select(
        "doc_id",
        "lang",
        F.pmod(base_hash(F.col("gram")), F.lit(B)).alias("bucket"),
    )
    counts = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_t").alias("t_t")
    )
    num = (
        "CAST(1000000 AS DECIMAL(38,0)) * CAST(c_t + 1 AS DECIMAL(38,0))"
        f" * CAST(t_raw + {B} AS DECIMAL(38,0))"
    )
    den = (
        "CAST(c_raw + 1 AS DECIMAL(38,0))"
        f" * CAST(t_t + {B} AS DECIMAL(38,0))"
    )
    ratios = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"CASE WHEN {num} >= CAST(1000000000 AS DECIMAL(38,0)) * ({den})"
            "      THEN CAST(1000000000 AS BIGINT)"
            f"     ELSE CAST(({num}) div ({den}) AS BIGINT) END"
        ).alias("ratio_ppm"),
    )
    scored = (
        feats.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("ratio_ppm").alias("weight_ppm"),
        )
    )
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
    wp = F.coalesce(F.col("weight_ppm"), F.lit(0)).cast("long")
    mean = F.when(nb > 0, F.expr("weight_ppm div n_bigrams")).otherwise(
        F.lit(0)
    ).cast("long")
    return (
        d.select("doc_id", "lang")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            nb.alias("n_bigrams"),
            wp.alias("weight_ppm"),
            mean.alias("mean_ratio_ppm"),
            ((nb > 0) & (mean >= 1_000_000)).alias("kept"),
        )
    )


@register(
    "documents_budget_selected",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKS.format(c="text")} AS t FROM documents
    ),
    scored AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(floor(({_QUALITY_SQL}) * 1000000) AS BIGINT) AS quality_fp
      FROM toks
    ),
    tot AS (SELECT coalesce(sum(n_tokens), 0) // 2 AS budget FROM scored),
    r AS (
      SELECT doc_id, n_tokens, quality_fp,
             coalesce(sum(n_tokens) OVER (
               ORDER BY quality_fp DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM scored
    )
    SELECT r.doc_id, r.n_tokens, r.quality_fp,
           (r.cum_before < tot.budget) AS kept
    FROM r, tot
    ORDER BY r.doc_id
    """,
)
def documents_budget_selected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-budget corpus selection: rank every document by
    (quality DESC, doc_id) and keep the maximal prefix whose
    cumulative token count stays under a budget (here half the corpus'
    tokens) — the "take the best B tokens" step every mixture builder
    runs after scoring. The oracle states the semantics as one global
    cumulative-sum window; the Spark plan computes the IDENTICAL keep
    set without any global window or global sort, because a corpus-
    wide ordered cumsum is the canonical 100 TB anti-pattern (every
    row through one task).

    Plan: quality is quantized to fixed-point ppm (the ranking is
    DEFINED on the quantized value, so engines agree bit-for-bit).
    One aggregate builds the per-quality-value token histogram (≤ 1e6
    rows — model-sized, like the DSIR bucket table, bounded regardless
    of corpus size); its exclusive running totals come from a
    ~1000-row coarse-bucket self-join plus a window PARTITIONED by
    coarse bucket (state ≤ 1024 rows per partition — never a global
    window). That stat table is broadcast onto the corpus once; every
    quality group is then fully-kept or fully-cut except the SINGLE
    group the budget line crosses, whose doc_id-ordered prefix is
    resolved by a window partitioned by the group (state bounded by
    the tie group, which ppm quantization keeps small). Driver
    collects nothing. The pure declarative form re-derives the
    3-column scored projection per consumer branch (the same
    documented trade as ``documents_curated``'s diamonds —
    ``budget_select_scoped`` persists the projection for production
    callers); everything that moves in a shuffle is histogram-sized."""
    d = load_table(spark, sf_dir, "documents")
    return _budget_plan(d)


def _budget_plan(d: DataFrame, pin=lambda df: df) -> DataFrame:
    """Budget-selection plan over a documents frame; ``pin`` is applied
    to the scored projection — the one diamond every downstream branch
    re-derives in the pure form (12 pruned scans at last audit).
    ``budget_select_scoped`` persists it (one corpus scan total)."""
    t = tokens(F.col("text"))
    scored = pin(
        d.select(
            "doc_id",
            F.size(t).cast("long").alias("n_tokens"),
            F.floor(quality_score(F.col("text")) * 1_000_000)
            .cast("long")
            .alias("quality_fp"),
        )
    )
    return _budget_from_scored(scored)


def _budget_from_scored(scored: DataFrame) -> DataFrame:
    """Selection core over a ``(doc_id, n_tokens, quality_fp)`` frame —
    split out so the exact-boundary regression test can feed a
    hand-built histogram (ADVICE r8: zero-token doc at the tail of a
    group whose cumulative total lands exactly on the budget)."""
    # per-quality-value histogram: the entire selection "model"
    qhist = (
        scored.groupBy("quality_fp")
        .agg(F.sum("n_tokens").alias("qtok"))
        .select("quality_fp", "qtok", F.expr("quality_fp div 1024").alias("cb"))
    )
    chist = qhist.groupBy("cb").agg(F.sum("qtok").alias("btok"))
    c2 = chist.select(F.col("cb").alias("cb2"), F.col("btok").alias("btok2"))
    ccum = (
        chist.join(F.broadcast(c2), F.col("cb2") > F.col("cb"), "left")
        .groupBy("cb", "btok")
        .agg(F.coalesce(F.sum("btok2"), F.lit(0)).alias("cum_above_c"))
    )
    # budget from the same tiny relation: max over (cum_above + btok)
    # is the corpus total (reached at the lowest bucket)
    budget = ccum.agg(
        F.expr(
            "coalesce(max(cum_above_c + btok), 0) div 2"
        ).alias("budget")
    )
    wq = (
        W.partitionBy("cb")
        .orderBy(F.col("quality_fp").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    qstat = (
        qhist.select(
            "quality_fp",
            "qtok",
            "cb",
            F.coalesce(F.sum("qtok").over(wq), F.lit(0)).alias("within"),
        )
        .join(F.broadcast(ccum.select("cb", "cum_above_c")), "cb")
        .crossJoin(F.broadcast(budget))
        .select(
            "quality_fp",
            (F.col("cum_above_c") + F.col("within")).alias("qcum"),
            "qtok",
            "budget",
        )
    )
    out = scored.join(F.broadcast(qstat), "quality_fp")
    # keep_all is STRICT: a group whose cumulative total lands exactly
    # on the budget routes through the tie branch, whose exclusive
    # prefix test (cum_tie < r) matches the oracle's strict-< exclusive
    # cumsum for every doc — an inclusive <= here kept a zero-token doc
    # ordered at the tail of an exact-boundary group that the oracle
    # drops (ADVICE r8).
    keep_all = F.col("qcum") + F.col("qtok") < F.col("budget")
    cut_all = F.col("qcum") >= F.col("budget")
    direct = out.filter(keep_all | cut_all).select(
        "doc_id", "n_tokens", "quality_fp", keep_all.alias("kept")
    )
    # the one quality group the budget line crosses: doc_id-ordered
    # prefix of its remaining allowance
    wtie = (
        W.partitionBy("quality_fp")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    tie = (
        out.filter(~keep_all & ~cut_all)
        .select(
            "doc_id",
            "n_tokens",
            "quality_fp",
            (F.col("budget") - F.col("qcum")).alias("r"),
            F.coalesce(F.sum("n_tokens").over(wtie), F.lit(0)).alias(
                "cum_tie"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "quality_fp",
            (F.col("cum_tie") < F.col("r")).alias("kept"),
        )
    )
    return direct.union(tie)


@contextmanager
def budget_select_scoped(d: DataFrame):
    """Materialized budget selection: persists the scored (doc_id,
    n_tokens, quality_fp) projection so every histogram/classify/tie
    branch reads the InMemoryRelation instead of re-deriving
    tokenize+quality from parquet (the pure registered form pays 12
    pruned scans for declarative purity — the same trade, and the
    same escape, as ``curate_documents_scoped``). Unpersists on exit;
    run your actions inside the block. Same rows as the registered
    ``documents_budget_selected`` (asserted in tests)."""
    handles: list[DataFrame] = []

    def pin(df: DataFrame) -> DataFrame:
        h = df.persist()
        handles.append(h)
        return h

    try:
        yield _budget_plan(d, pin)
    finally:
        for h in handles:
            h.unpersist()


@register(
    "documents_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS.format(c="text")} AS tk FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter(tk,
               x -> {_ascii_lower_sql('x')} IN ('the','a','of','and','to','in','is','it',
                                 'for','on'))) AS BIGINT) AS n_stop_hits,
             CAST(length(array_to_string(tk, '')) AS BIGINT) AS n_chars,
             CAST(length(text) - length(regexp_replace(text, '[#…]|\\.\\.\\.',
               '', 'g')) AS BIGINT) AS n_symbols
      FROM t
    )
    SELECT doc_id, n_words,
           (n_words BETWEEN 50 AND 100000) AS rule_word_count,
           (n_words > 0 AND 3 * n_words <= n_chars
            AND n_chars <= 10 * n_words) AS rule_mean_word_length,
           (10 * n_symbols <= n_words) AS rule_symbol_ratio,
           (n_words > 0 AND 5 * n_alpha_words >= 4 * n_words)
             AS rule_alpha_fraction,
           (n_stop_hits >= 2) AS rule_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND (n_words > 0 AND 3 * n_words <= n_chars
                 AND n_chars <= 10 * n_words)
            AND (10 * n_symbols <= n_words)
            AND (n_words > 0 AND 5 * n_alpha_words >= 4 * n_words)
            AND (n_stop_hits >= 2)) AS gopher_pass
    FROM m
    ORDER BY doc_id
    """,
)
def documents_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, Table A1,
    public) as explicit per-document flags: word count in [50, 1e5],
    mean word length in [3, 10], symbol-to-word ratio (#/ellipsis)
    ≤ 0.1, ≥ 80% of words containing an alphabetic character, and ≥ 2
    stopword hits. The line-based rules (bullet/ellipsis line
    fractions) are omitted — this corpus is newline-less; on a real
    web corpus they are the same map-side shape over a split on
    newlines. Every threshold is evaluated in EXACT integer
    arithmetic via cross-multiplication (3·n ≤ chars ≤ 10·n instead
    of a floating mean), so both engines agree bit-for-bit and the
    plan is a pure zero-shuffle projection — the battery runs at scan
    throughput next to any other pass, which is why production
    pipelines run it FIRST."""
    d = load_table(spark, sf_dir, "documents")
    tk = tokens(F.col("text"))
    alpha = F.size(F.filter(tk, lambda x: x.rlike("[a-zA-Z]")))
    stop_hits = F.size(
        F.filter(
            tk,
            # engine-stable ASCII fold (all-ASCII stopword set)
            lambda x: ascii_lower(x).isin(
                ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]
            ),
        )
    )
    n_chars = F.length(F.array_join(tk, ""))
    n_symbols = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"[#…]|\.\.\.", "")
    )
    m = d.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_words"),
        alpha.cast("long").alias("n_alpha_words"),
        stop_hits.cast("long").alias("n_stop_hits"),
        n_chars.cast("long").alias("n_chars"),
        n_symbols.cast("long").alias("n_symbols"),
    )
    r_wc = F.col("n_words").between(50, 100000)
    r_mwl = (
        (F.col("n_words") > 0)
        & (3 * F.col("n_words") <= F.col("n_chars"))
        & (F.col("n_chars") <= 10 * F.col("n_words"))
    )
    r_sym = 10 * F.col("n_symbols") <= F.col("n_words")
    r_alpha = (F.col("n_words") > 0) & (
        5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    )
    r_stop = F.col("n_stop_hits") >= 2
    return m.select(
        "doc_id",
        "n_words",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_length"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_fraction"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("gopher_pass"),
    )


def _markov_oracle(rounds: int = 10) -> str:
    """Generated unrolled-CTE oracle for ``events_markov_stationary``
    (the ppm-pagerank device: fixed rounds + all-integer recurrence ⇒
    plain CTE chain, no recursion)."""
    ctes = [
        """o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )""",
        """t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS c
      FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2
    )""",
        """rt AS (
      SELECT from_type, CAST(sum(c) AS BIGINT) AS rt FROM t GROUP BY 1
    )""",
        """p AS (
      SELECT t.from_type, t.to_type,
             CAST(CAST(c AS HUGEINT) * 1000000 // rt AS BIGINT) AS p_ppm
      FROM t JOIN rt USING (from_type)
    )""",
        "s AS (SELECT DISTINCT from_type AS event_type FROM t)",
        "k AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s)",
        """pi0 AS (
      SELECT event_type, CAST(1000000 // ns AS BIGINT) AS pi_ppm
      FROM s CROSS JOIN k
    )""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""m{i} AS (
      SELECT p.to_type AS event_type,
             CAST(sum(CAST(prev.pi_ppm AS HUGEINT) * p.p_ppm) // 1000000
                  AS BIGINT) AS pi_new
      FROM p JOIN pi{i - 1} prev ON p.from_type = prev.event_type
      GROUP BY p.to_type
    )""")
        ctes.append(f"""pi{i} AS (
      SELECT s.event_type,
             coalesce(m{i}.pi_new, CAST(0 AS BIGINT)) AS pi_ppm
      FROM s LEFT JOIN m{i} ON m{i}.event_type = s.event_type
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT event_type, pi_ppm FROM pi{rounds}"
        + " ORDER BY event_type"
    )


@register("events_markov_stationary", oracle=_markov_oracle(10))
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-run state occupancy of the user clickstream: the Markov
    stationary distribution of the event-type transition matrix
    (operators/graph.py:markov_stationary), power-iterated 10 rounds
    in exact floor-ppm integers — the steady-state companion of
    ``events_top_transitions``. The one corpus-sized pass is the
    transition count (the same user_id-clustered lead() the sequence
    family shares); everything after is |types|-scale with
    checkpointed rounds (the ppm-pagerank plan-growth device), and the
    two floor approximations (per-round mass leak ≤ |S| ppm, absorbing
    out-of-S drops) are deterministic on both engines — so the
    iterative result still hash-matches the generated unrolled-CTE
    oracle."""
    from ..operators.graph import markov_stationary

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return markov_stationary(trans, rounds=10)



@register(
    "events_top_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n_transitions,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM o WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions, n_users,
           CAST(row_number() OVER (ORDER BY n_transitions DESC,
                                   from_type, to_type) AS BIGINT) AS rank
    FROM t
    ORDER BY rank LIMIT 20
    """,
)
def events_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the event-type transition matrix.
    Each user's clickstream is ordered by (ts, event_id) and adjacent
    pairs become (from_type, to_type) bigrams; the global top-20
    transitions rank by frequency with distinct-user support — the
    first-order Markov summary funnels/recommenders start from.

    One shuffle on user_id feeds the lead() window (same clustering as
    ``events_funnel`` — at 100 TB this is the partitioning the whole
    event-sequence family shares, so the exchange is reusable across
    them); the bigram aggregate partial-aggregates map-side down to
    |event_types|² rows, and the final rank uses the
    ``topk_ranked`` device — orderBy().limit() plans as
    TakeOrderedAndProject (per-partition top-k merge) and the rank is
    derived by folding just the 20 survivors into one sorted array,
    never a partition-less Window over the aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    top = t.orderBy(
        F.col("n_transitions").desc(), F.col("from_type"), F.col("to_type")
    ).limit(20)
    packed = top.select(
        F.struct(
            (-F.col("n_transitions")).alias("_neg"),
            F.col("from_type").alias("_t1"),
            F.col("to_type").alias("_t2"),
            F.struct("from_type", "to_type", "n_transitions", "n_users").alias(
                "_row"
            ),
        ).alias("key")
    ).agg(F.sort_array(F.collect_list("key")).alias("xs"))
    return packed.select(F.posexplode("xs").alias("_pos", "_x")).select(
        "_x._row.from_type",
        "_x._row.to_type",
        "_x._row.n_transitions",
        "_x._row.n_users",
        (F.col("_pos") + 1).cast("long").alias("rank"),
    )


# ------------------------------------------------- distribution drift


@register(
    "corpus_source_drift",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    sc AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw
      FROM toks GROUP BY source, word
    ),
    gw AS (
      SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sc GROUP BY word
    ),
    ns AS (
      SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sc GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(c_w) AS BIGINT) AS n_total,
             CAST(sum(CAST(c_w AS HUGEINT) * 1000000
                      // (SELECT sum(c_w) FROM gw))
                  AS BIGINT) AS g_mass
      FROM gw
    ),
    j AS (
      SELECT sc.source,
             sc.word,
             CAST(sc.c_sw AS HUGEINT) * 1000000 // ns.n_s AS p_ppm,
             CAST(gw.c_w AS HUGEINT) * 1000000 // tot.n_total AS g_ppm
      FROM sc JOIN gw USING (word) JOIN ns USING (source), tot
    ),
    per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(abs(p_ppm - g_ppm)) AS BIGINT) AS present_drift,
             CAST(sum(g_ppm) AS BIGINT) AS present_g_mass,
             (min(struct_pack(nd := -abs(p_ppm - g_ppm), w := word))).w
               AS top_word,
             CAST(max(abs(p_ppm - g_ppm)) AS BIGINT) AS top_word_drift_ppm
      FROM j GROUP BY source
    )
    SELECT p.source,
           ns.n_s AS n_tokens,
           p.n_words,
           CAST((p.present_drift + (tot.g_mass - p.present_g_mass)) // 2
                AS BIGINT) AS tv_ppm,
           p.top_word,
           p.top_word_drift_ppm
    FROM per_source p JOIN ns USING (source), tot
    ORDER BY source
    """,
)
def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-audit operator: per-source unigram distribution drift —
    the total-variation distance between each source's word
    distribution and the whole-corpus distribution, in EXACT ppm
    integers (no libm, no float summation order), plus the single most
    over/under-represented word per source. This is the monitoring
    primitive behind "did src3's crawl shift this month" and "which
    source is skewing the mixture" questions a training-data pipeline
    asks before re-weighting (cf. the DSIR resampler, which needs
    exactly this kind of proportion audit as its sanity check).

    Production serving replays from the persisted word-count relation
    (sources/catalog.py:write_word_counts, raw-token convention; probe
    ≡ this query pinned in tests/test_word_counts_layout.py) — one
    corpus tokenize for the whole text-statistics family.

    TV needs |p(w) − q(w)| over ALL words including those ABSENT from
    a source; the absent mass is recovered without any source×vocab
    cross join via the identity
        Σ_{{w∉s}} q(w) = Q_total − Σ_{{w∈s}} q(w)
    so everything stays vocab-sized. Scale shape: one (source, word)
    count with map-side combine (a hot word collapses to one row per
    input partition), one vocab-sized re-aggregate to global counts,
    one vocab-keyed shuffle join between them (never broadcast — the
    vocabulary grows with the corpus), and two config-scale broadcast
    relations (per-source totals; the single-row corpus total). Final
    output is |sources| rows. Integer-division ppm on both engines
    (Spark ``div`` ≡ DuckDB ``//`` on positives) makes the hash
    exact; ties for the top word break to the lexicographically
    smallest via ``min_by`` over a (−drift, word) struct — a skew-safe
    aggregate, not a window."""
    d = load_table(spark, sf_dir, "documents")
    sc = word_counts(d, tokens(F.col("text")))
    return source_drift_from_counts(sc)


@register(
    "documents_token_quantiles_hist",
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(len({_TOKS.format(c="text")}) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           quantile_disc(n_tokens, 0.50) AS p50_tokens,
           quantile_disc(n_tokens, 0.90) AS p90_tokens,
           quantile_disc(n_tokens, 0.99) AS p99_tokens,
           max(n_tokens) AS max_tokens
    FROM t GROUP BY source
    ORDER BY source
    """,
)
def documents_token_quantiles_hist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-source token-length quantiles computed from a bounded
    value histogram — the 100 TB path that ``corpus_profile``'s
    docstring promises: Spark's exact ``percentile`` buffers every
    group's values on one reducer (corpus-sized state), and
    ``approx_percentile`` trades exactness for a sketch; this operator
    gets EXACTNESS at scale instead, exploiting that token counts are
    small integers, so the (source, n_tokens) histogram is bounded by
    |sources| x |distinct lengths| regardless of corpus size.

    Shape: one groupBy(source, n_tokens) count with map-side combine
    (a billion 512-token docs collapse to one histogram row per input
    partition), then a running CDF over the HISTOGRAM — the window is
    partitioned by source over at most a few thousand rows, never over
    documents — and each quantile is a conditional-min aggregate:
    smallest length whose cumulative count reaches ceil(p * n). The
    boundary predicate is exact integer arithmetic (cum * 100 >=
    p * n), which provably matches DuckDB/Postgres ``quantile_disc``
    ("smallest value with cume_dist >= p") — probed at the q*n-integer
    boundaries where naive float ceil() definitions diverge. The
    oracle restates the computation through DuckDB's built-in sorted
    quantile, so the two engines share NO code path."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "source", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    h = t.groupBy("source", "n_tokens").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        W.partitionBy("source")
        .orderBy("n_tokens")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = h.select(
        "source", "n_tokens", F.sum("cnt").over(w).alias("cum")
    )
    totals = h.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    j = cum.join(F.broadcast(totals), "source")

    def q(p: int):
        return F.min(
            F.when(F.col("cum") * 100 >= p * F.col("n_docs"), F.col("n_tokens"))
        ).alias(f"p{p}_tokens")

    return (
        j.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            q(50),
            q(90),
            q(99),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )


def _pagerank_step_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank round (exact ppm integer recurrence —
    must stay textually parallel to operators/graph.py:pagerank)."""
    return f"""
    {cur} AS (
      SELECT n.doc_id AS node,
             CAST(150000 + (850000 * COALESCE(s.c, 0)) // 1000000
                  AS BIGINT) AS pr
      FROM documents n LEFT JOIN (
        SELECT ew.dst AS node, CAST(sum(p.pr // ew.deg) AS BIGINT) AS c
        FROM {prev} p JOIN ew ON ew.src = p.node GROUP BY ew.dst) s
      ON s.node = n.doc_id)"""


_PAGERANK_STEPS = ",".join(
    _pagerank_step_sql(f"pr{i}", f"pr{i + 1}") for i in range(4)
)


@register(
    "dedup_pagerank_centrality",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_id_b, doc_id_a FROM lsh_pairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    pr0 AS (
      SELECT doc_id AS node, CAST(1000000 AS BIGINT) AS pr FROM documents
    ),
    {_PAGERANK_STEPS}
    SELECT n.doc_id,
           pr4.pr AS pagerank_ppm,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree
    FROM documents n
    JOIN pr4 ON pr4.node = n.doc_id
    LEFT JOIN deg ON deg.src = n.doc_id
    """,
)
def dedup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-duplicate graph: 4 rounds of exact
    integer-ppm PageRank on the MinHash-LSH pair relation (same
    banding and 0.3 Jaccard verify as ``dedup_clusters``). Where
    ``dedup_cluster_representatives`` elects a keeper by per-doc
    quality, centrality ranks docs by POSITION in the duplication
    graph — the template a mirror farm copies from scores far above
    its copies, which is the canonical-URL/provenance signal crawl
    curation wants alongside quality.

    The iteration is ``operators/graph.py:pagerank``: edge relation
    materialized once, each round one rank-edge shuffle join plus one
    destination groupBy whose map-side combine absorbs hub in-degrees,
    rank state node-sized, lineage truncated per round — nothing
    corpus-sized broadcast, windowed, or collected. Fixed-point ppm
    arithmetic with integral division on both engines makes the hash
    exact; the oracle restates the recurrence as 4 UNROLLED CTE rounds
    over the shared LSH-pair CTEs (deliberately no recursion: a fixed
    round count is the determinism contract)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    return pagerank(pairs, d.select("doc_id"), iters=4)


def _kcore_oracle(k: int = 2, rounds: int = 4) -> str:
    """Generate the unrolled k-core peel oracle over the shared LSH
    pair CTEs. Restates operators/graph.py:kcore bit-for-bit (fixed
    round count = the determinism contract for iterative ops)."""
    ctes = ["a0 AS (SELECT doc_id AS node FROM documents)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""e{r} AS (
      SELECT e.src, e.dst FROM edges e
      JOIN a{r - 1} s ON s.node = e.src
      JOIN a{r - 1} t ON t.node = e.dst
    ),
    d{r} AS (SELECT src, count(*) AS deg FROM e{r} GROUP BY src),
    a{r} AS (SELECT src AS node FROM d{r} WHERE deg >= {k})""")
    chain = ",\n    ".join(ctes)
    return f"""WITH RECURSIVE {{_LSH_PAIR_CTES}},
    can AS (SELECT doc_id_a AS src, doc_id_b AS dst FROM lsh_pairs),
    edges AS (SELECT src, dst FROM can UNION SELECT dst, src FROM can),
    {chain},
    ef AS (
      SELECT e.src, e.dst FROM edges e
      JOIN a{rounds} s ON s.node = e.src
      JOIN a{rounds} t ON t.node = e.dst
    ),
    df AS (
      SELECT src, CAST(count(*) AS BIGINT) AS core_degree
      FROM ef GROUP BY src
    )
    SELECT n.doc_id,
           CAST(CASE WHEN a.node IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS in_core,
           CAST(COALESCE(df.core_degree, 0) AS BIGINT) AS core_degree
    FROM documents n
    LEFT JOIN a{rounds} a ON a.node = n.doc_id
    LEFT JOIN df ON df.src = n.doc_id
    ORDER BY n.doc_id"""


@register("dedup_graph_kcore", oracle=_kcore_oracle().replace("{_LSH_PAIR_CTES}", _LSH_PAIR_CTES))
def dedup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-subgraph extraction over the near-duplicate graph: 4
    rounds of 2-core peeling on the MinHash-LSH pair relation
    (operators/graph.py:kcore — same banding and 0.3 Jaccard verify
    as the other graph queries). Where triangles COUNT the clustered
    structure and pagerank ranks positions in it, the core EXTRACTS
    the tightly cross-linked clump — the mirror-farm/template-family
    detector. Exact unrolled-CTE oracle; per-row output over every
    document."""
    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    return kcore(pairs, d.select("doc_id"), k=2, rounds=4)


@register(
    "dedup_graph_triangles",
    oracle=f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    can AS (SELECT doc_id_a AS a, doc_id_b AS b FROM lsh_pairs),
    sym AS (SELECT a, b FROM can UNION SELECT b, a FROM can),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
    w AS (
      SELECT CAST(COALESCE(sum(deg * (deg - 1) // 2), 0) AS BIGINT)
               AS n_wedges
      FROM deg
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM can e1
      JOIN can e2 ON e2.a = e1.b
      JOIN can e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM can) AS BIGINT) AS n_edges,
           w.n_wedges,
           tri.n_triangles,
           CAST(CASE WHEN w.n_wedges > 0
                     THEN (3000000 * tri.n_triangles) // w.n_wedges
                     ELSE 0 END AS BIGINT) AS clustering_ppm
    FROM w, tri
    """,
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure audit of the near-duplicate graph: exact triangle
    count and global clustering coefficient over the MinHash-LSH pair
    relation (same banding and 0.3 verify as ``dedup_clusters``).
    High clustering says near-dups come in dense mirror FAMILIES
    (transitive copies — safe to collapse per cluster); low clustering
    with many wedges says chains of borderline similarity (template
    drift — collapsing the transitive closure over-merges). This is
    the diagnostic that picks between ``dedup_cluster_representatives``
    (dense families) and pair-local suppression (chains).

    Spark side counts each triangle once at its minimum-(degree, id)
    corner over DEGREE-ORIENTED edges — out-degrees bounded by
    O(sqrt(m)), so the wedge join's intermediate is O(m^1.5) even
    under mirror-farm hubs, the same skew argument as the capped
    ngram family but achieved by orientation instead of capping. The
    oracle counts id-ordered triangles instead (a < b < c with all
    three edges present) — a different decomposition that must agree
    exactly, making the hash a real cross-check of the orientation
    logic. Single summary row; everything integer."""
    d = load_table(spark, sf_dir, "documents")
    pairs = lsh_near_duplicates(
        d, "doc_id", "text", num_hashes=8, n=3, threshold=0.3
    )
    return triangle_stats(pairs, d.select("doc_id"))


@register("embedding_pca_projected", oracle=None)
def embedding_pca_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding table onto its top-4 principal
    axes — the whitening/rotation step a vector pipeline runs before
    IVF/OPQ indexing. Long-form scalar output (vec_id, component,
    score_fp6). The cluster-side halves are EXACT (integer fixed-point
    moments in DECIMAL(38,0); row-local fold projection), the 64x64
    eigensolve is driver-side config-scale work — see operators/pca.py
    for the full scale argument. No DuckDB oracle: the eigensolve is
    not SQL-expressible; correctness is pinned by the exact
    Python-replica parity + partition-invariance suite
    (tests/test_pca.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    return pca_project(e, "vec_id", "embedding", k=4)


# ------------------------------------------------- windowed anomalies


@register(
    "events_window_anomaly",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n_events) AS BIGINT) AS s,
             sum(CAST(n_events AS HUGEINT) * n_events) AS v
      FROM wc GROUP BY event_type
    )
    SELECT wc.window_start,
           wc.event_type,
           wc.n_events,
           CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT) AS mean_milli,
           CAST(((CAST(m AS HUGEINT) * wc.n_events - s)
                 * (CAST(m AS HUGEINT) * wc.n_events - s) * 1000)
             // nullif(CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s, 0)
             AS BIGINT) AS z2_milli,
           CAST(((CAST(m AS HUGEINT) * wc.n_events - s)
                 * (CAST(m AS HUGEINT) * wc.n_events - s) * 1000
                 > 9000 * (CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s))
             AS BIGINT) AS is_anomaly
    FROM wc JOIN st USING (event_type)
    ORDER BY event_type, window_start
    """,
)
def events_window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-sigma anomaly detection on per-hour per-type event counts
    — the ops-monitoring primitive ("error spike at 14:00") computed
    with ZERO floating point: |z| > 3 restated as the exact BIGINT
    predicate (m*n - s)^2 > 9*(m*v - s^2), so no sqrt/libm and no
    float summation order can diverge between engines
    (operators/anomaly.py has the algebra).

    Scale shape: one window-count aggregate over the raw events (the
    only corpus-sized pass, map-side combined), then a per-type moment
    relation of |event_types| rows broadcast back onto the counts — no
    window function, no second shuffle of the count relation."""
    ev = load_table(spark, sf_dir, "events")
    return window_anomalies_from_counts(window_counts(ev)).orderBy(
        "event_type", "window_start"
    )


# ------------------------------------------------- retrieval ranking


def _bm25_scored_cte(sfx: str, qrel: str) -> str:
    """The integer-BM25 scoring block (split-multiplication int64-wrap-
    safe form — identical text to the ``text_bm25_topk`` oracle) as a
    tf{sfx}/dfr{sfx}/scored{sfx} CTE chain against query relation
    ``qrel`` — the reusable half that lets composed retrieval oracles
    (PRF's two passes) score twice without drift."""
    return f"""tf{sfx} AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE word IN (SELECT term FROM {qrel})
      GROUP BY doc_id, word
    ),
    dfr{sfx} AS (
      SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf{sfx} GROUP BY word
    ),
    scored{sfx} AS (
      SELECT q.q_id, tf{sfx}.doc_id,
             CAST(sum(
               ((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                  // 1000000)
               * ((tf * 2200000 * 1000000) //
                  (tf * 1000000
                   + (1200000 * (250000
                       + (750000 * dl * 1000)
                         // (t_tokens * 1000 // n_docs)))
                     // 1000000))
               + (((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                     % 1000000)
                  * ((tf * 2200000 * 1000000) //
                     (tf * 1000000
                      + (1200000 * (250000
                          + (750000 * dl * 1000)
                            // (t_tokens * 1000 // n_docs)))
                        // 1000000))) // 1000000
             ) AS BIGINT) AS score_ppm
      FROM tf{sfx} JOIN dl USING (doc_id) JOIN dfr{sfx} USING (word)
           JOIN {qrel} q ON tf{sfx}.word = q.term, corp
      GROUP BY q.q_id, tf{sfx}.doc_id
    )"""


_BM25_QUERIES = [
    (1, "spark"),
    (1, "join"),
    (2, "window"),
    (2, "filter"),
    (2, "sort"),
    (3, "vector"),
]


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    corp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    q(q_id, term) AS (VALUES
      (CAST(1 AS BIGINT), 'spark'), (1, 'join'),
      (2, 'window'), (2, 'filter'), (2, 'sort'),
      (3, 'vector')),
    {_bm25_scored_cte("", "q")},
    ranked AS (
      SELECT q_id, doc_id, score_ppm,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_ppm DESC, doc_id
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT q_id, doc_id, score_ppm, rank FROM ranked WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval over the corpus: integer-BM25 top-10 per
    query for a fixed 3-query workload (operators/retrieval.py has
    the scoring algebra and the no-libm rationale). This is the
    search-side companion of ``text_tfidf_top_terms`` — that query
    summarizes documents, this one RANKS them for a query — and the
    lexical baseline the ANN family's semantic retrieval is normally
    hybridized with.

    Scale shape: tokenize once, two map-side-combined corpus
    aggregates (document lengths; per-(doc, query-term) frequencies —
    the tf relation is pre-shrunk by a broadcast semi-join on the
    query dictionary, so only matching tokens reach the aggregate),
    one doc_id shuffle join between them; document frequencies,
    corpus totals, and the query relation are config-scale
    broadcasts. Per-query top-k is the salted two-phase rank — no
    window partition ever holds a query's full candidate set. The
    terminal orderBy is presentation-only (3×10 rows)."""
    from ..operators.retrieval import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id long, term string")
    return bm25_topk(d, q, k=10).orderBy("q_id", "rank")


# ------------------------------------------------- heavy hitters


@register(
    "corpus_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS.format(c="text")}) AS word FROM documents
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM toks),
    c AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM toks GROUP BY word
    )
    SELECT word,
           n_occurrences,
           CAST(CAST(n_occurrences AS HUGEINT) * 1000000 // n_total
                AS BIGINT) AS freq_ppm
    FROM c, tot
    WHERE CAST(n_occurrences AS HUGEINT) * 1000000
          > 500 * CAST(n_total AS HUGEINT)
    ORDER BY n_occurrences DESC, word
    """,
)
def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency heavy hitters (> 500 ppm of all tokens) with
    EXACT counts, found WITHOUT shuffling the vocabulary: per-partition
    Misra-Gries summaries (≤ 2000 counters each, Arrow map-side) feed
    an exact recount restricted to the candidate union — the sketch
    only PRUNES, never decides, so the output is bit-identical to the
    naive full vocabulary aggregate the oracle runs
    (operators/heavy_hitters.py has the superset proof and the batched
    decrement ledger). The stopword/boilerplate-list builders upstream
    of ``documents_boilerplate_removed`` and the n-gram stop-gram caps
    are this operator's consumers.

    Scale shape: candidates are |partitions| × capacity rows
    (config-scale, broadcast); the recount's groupBy sees only
    candidate-matching tokens; the only full pass is the map-side
    sketch and the single-row total count. At the test vocabulary
    (~30 words, all frequent) the sketch prunes nothing — the planted
    skew pruning evidence lives in tests/test_heavy_hitters.py. Over
    a PERSISTED word-count relation the sketch is unnecessary — see
    sources/catalog.py:write_word_counts and the exact-from-counts
    probe pin (tests/test_word_counts_layout.py)."""
    from ..operators.heavy_hitters import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("word"))
    return heavy_hitters(toks, "word", threshold_ppm=500).orderBy(
        F.col("n_occurrences").desc(), "word"
    )


def _bm25_prf_oracle(
    k: int = 10, n_feedback: int = 5, n_expansion: int = 2,
) -> str:
    """Generate the two-pass PRF oracle: pass-1 BM25 → top-n_feedback
    docs → expansion terms (tf DESC, word; stopwords and original
    terms excluded) → pass-2 BM25 over the UNION query. Restates
    operators/retrieval.py:bm25_prf_topk bit-for-bit."""
    stop = ", ".join(
        f"'{w}'"
        for w in (
            "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
        )
    )
    return f"""WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    corp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    q1(q_id, term) AS (VALUES
      (CAST(1 AS BIGINT), 'spark'), (1, 'join'),
      (2, 'window'), (2, 'filter'), (2, 'sort'),
      (3, 'vector')),
    {_bm25_scored_cte("1", "q1")},
    fb AS (
      SELECT q_id, doc_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY score_ppm DESC, doc_id) AS rn
        FROM scored1) WHERE rn <= {n_feedback}
    ),
    ftf AS (
      SELECT fb.q_id, t.word, CAST(count(*) AS BIGINT) AS tf_fb
      FROM toks t JOIN fb ON fb.doc_id = t.doc_id
      WHERE t.word NOT IN ({stop})
        AND NOT EXISTS (SELECT 1 FROM q1
                        WHERE q1.q_id = fb.q_id AND q1.term = t.word)
      GROUP BY 1, 2
    ),
    expn AS (
      SELECT q_id, word AS term FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY tf_fb DESC, word) AS rn
        FROM ftf) WHERE rn <= {n_expansion}
    ),
    q2 AS (SELECT q_id, term FROM q1 UNION SELECT q_id, term FROM expn),
    {_bm25_scored_cte("2", "q2")},
    ranked AS (
      SELECT q_id, doc_id, score_ppm,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_ppm DESC, doc_id
             ) AS BIGINT) AS rank
      FROM scored2
    )
    SELECT q_id, doc_id, score_ppm, rank FROM ranked WHERE rank <= {k}
    ORDER BY q_id, rank"""


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(t) AS word,
             generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, {{toks_fold}} AS t FROM documents)
    ),
    seg AS (
      SELECT doc_id, pos, word,
             CASE WHEN word IN ({{stop}}) THEN 1 ELSE 0 END AS is_stop,
             sum(CASE WHEN word IN ({{stop}}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM toks
    ),
    members AS (
      SELECT doc_id, pid, pos, word FROM seg WHERE is_stop = 0
    ),
    occ AS (
      SELECT doc_id, pid,
             string_agg(word, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM members GROUP BY doc_id, pid
    ),
    memb2 AS (
      SELECT m.doc_id, m.pid, m.word, o.phrase, o.plen
      FROM members m JOIN occ o USING (doc_id, pid)
    ),
    wscore AS (
      SELECT word,
             CAST(CAST(sum(plen) AS HUGEINT) * 1000000 // count(*)
                  AS BIGINT) AS wscore_ppm
      FROM memb2 GROUP BY word
    ),
    pscore AS (
      SELECT phrase, any_value(plen) AS n_words,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             max(occ_score) AS score_ppm
      FROM (
        SELECT m.doc_id, m.pid, m.phrase,
               any_value(m.plen) AS plen,
               CAST(sum(w.wscore_ppm) AS BIGINT) AS occ_score
        FROM memb2 m JOIN wscore w USING (word)
        GROUP BY m.doc_id, m.pid, m.phrase
      ) GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences, score_ppm
    FROM pscore ORDER BY score_ppm DESC, phrase LIMIT 15
    """.format(
        toks_fold=_TOKS.format(c=_ASCII_LOWER),
        stop="'the','a','of','and','to','in','is','it','for','on'",
    ),
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — global top-15
    candidate phrases (maximal non-stopword runs) by the summed
    degree/frequency word scores, in exact ppm
    (operators/retrieval.py:rake_keywords). Engine-stable ASCII fold;
    per-document windows only; global top-k is orderBy+limit. Full
    hash oracle."""
    from ..operators.retrieval import rake_keywords

    d = load_table(spark, sf_dir, "documents")
    return rake_keywords(d, top_k=15)


@register("text_bm25_prf", oracle=_bm25_prf_oracle())
def text_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval
    (operators/retrieval.py:bm25_prf_topk): BM25 → top-5 feedback docs
    → 2 expansion terms per query (most frequent non-stopword,
    non-query tokens of the feedback set, deterministic tie-break) →
    BM25 over the expanded query — the Rocchio-style recall lever
    stacked on the exact integer BM25 chain, so even the two-pass
    composition hash-matches its generated oracle (the scoring block
    is shared text between both passes and ``text_bm25_topk``). Same
    workload queries as the BM25 family."""
    from ..operators.retrieval import bm25_prf_topk

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id long, term string")
    return bm25_prf_topk(d, q, k=10).orderBy("q_id", "rank")


def _mmr_rounds(k: int, lam_ppm: int) -> list[str]:
    """The unrolled MMR greedy rounds as explicit CTEs over a ``cand``
    relation — shared by every candidate generator's composed oracle
    (brute force ``_mmr_oracle``, IVF ``_mmr_ivf_oracle``), exactly as
    the Spark side shares ``_mmr_greedy``."""
    dsum = ("CAST(list_sum([(c.xf[i]-s.xf[i])*(c.xf[i]-s.xf[i]) "
            "for i in generate_series(1, len(c.xf))]) AS BIGINT)")
    rounds = []
    for r in range(2, k + 1):
        prev = f"s{r - 1}"
        rounds.append(f"""
    dm{r} AS (
      SELECT c.q_id, c.vec_id, min({dsum}) AS dmin, min(c.dq) AS dq
      FROM cand c JOIN {prev} s ON s.q_id = c.q_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} e
                        WHERE e.q_id = c.q_id AND e.vec_id = c.vec_id)
      GROUP BY c.q_id, c.vec_id
    ),
    p{r} AS (
      SELECT d.q_id, d.vec_id, d.dq, c.xf, CAST({r} AS BIGINT) AS pick
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id
          ORDER BY {lam_ppm} * dq - {1_000_000 - lam_ppm} * dmin, vec_id
        ) AS rn
        FROM dm{r}) d
      JOIN cand c ON c.q_id = d.q_id AND c.vec_id = d.vec_id
      WHERE d.rn = 1
    ),
    s{r} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM p{r})""")
    return rounds


def _mmr_oracle(
    k: int = 5, n_cand: int = 20, lam_ppm: int = 500_000,
    scale: int = 100_000, qmod: int = 97,
) -> str:
    """Generate the unrolled MMR oracle: brute-force integer
    distances, top-n_cand candidates, then k-1 greedy rounds as
    explicit CTEs (the generated-oracle pattern — fixed round count
    makes the recursion plain SQL). Restates
    operators/similarity.py:mmr_rerank bit-for-bit."""
    return f"""WITH xs AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * {scale}.0) AS BIGINT)
              for v in embedding] AS xf
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS q_id, xf AS qf FROM xs WHERE vec_id % {qmod} = 0
    ),
    sc AS (
      SELECT q.q_id, x.vec_id, x.xf,
             CAST(list_sum([(x.xf[i]-q.qf[i])*(x.xf[i]-q.qf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dq
      FROM xs x CROSS JOIN qs q
    ),
    cand AS (
      SELECT q_id, vec_id, xf, dq FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY dq, vec_id) AS rn
        FROM sc) WHERE rn <= {n_cand}
    ),
    s1 AS (
      SELECT q_id, vec_id, dq, xf, CAST(1 AS BIGINT) AS pick FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY dq, vec_id) AS rn
        FROM cand) WHERE rn = 1
    ),{",".join(_mmr_rounds(k, lam_ppm))}
    SELECT q_id, vec_id, dq, pick FROM s{k}
    ORDER BY q_id, pick"""


def _mmr_ivf_oracle(
    k: int = 5, n_cand: int = 20, lam_ppm: int = 500_000,
    nprobe: int = 2, scale: int = 100_000, qmod: int = 97,
) -> str:
    """Generate the IVF-composed MMR oracle: the coarse k-means chain
    (_KMEANS_CTES, n_cells=8 at the coarse 1e7 scale — the relation
    the whole IVF family shares), per-query nprobe cell probes,
    candidates = exact top-n_cand distances at the ADC scale among the
    probed cells' vectors, then the SAME unrolled greedy rounds as
    ``_mmr_oracle`` (``_mmr_rounds``). Restates
    operators/similarity.py:mmr_rerank_ivf bit-for-bit."""
    return f"""WITH {_KMEANS_CTES},
    qc AS (
      SELECT vec_id AS q_id, xf AS qxf FROM x WHERE vec_id % {qmod} = 0
    ),
    pd AS (
      SELECT qc.q_id, c.cluster AS cell,
             CAST(list_sum([(qc.qxf[i]-c.cf[i])*(qc.qxf[i]-c.cf[i])
                            for i in generate_series(1, len(qc.qxf))])
                  AS BIGINT) AS qdist
      FROM qc CROSS JOIN c1 c
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY qdist, cell) AS rn
        FROM pd) WHERE rn <= {nprobe}
    ),
    cellmap AS (SELECT vec_id, cluster AS cell FROM a2),
    xs AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * {scale}.0) AS BIGINT)
              for v in embedding] AS xf
      FROM embeddings
    ),
    qs AS (
      SELECT vec_id AS q_id, xf AS qf FROM xs WHERE vec_id % {qmod} = 0
    ),
    sc AS (
      SELECT p.q_id, x.vec_id, x.xf,
             CAST(list_sum([(x.xf[i]-q.qf[i])*(x.xf[i]-q.qf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dq
      FROM xs x
      JOIN cellmap cm ON cm.vec_id = x.vec_id
      JOIN probes p ON p.cell = cm.cell
      JOIN qs q ON q.q_id = p.q_id
    ),
    cand AS (
      SELECT q_id, vec_id, xf, dq FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY dq, vec_id) AS rn
        FROM sc) WHERE rn <= {n_cand}
    ),
    s1 AS (
      SELECT q_id, vec_id, dq, xf, CAST(1 AS BIGINT) AS pick FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY dq, vec_id) AS rn
        FROM cand) WHERE rn = 1
    ),{",".join(_mmr_rounds(k, lam_ppm))}
    SELECT q_id, vec_id, dq, pick FROM s{k}
    ORDER BY q_id, pick"""


@register("ann_mmr_rerank_ivf", oracle=_mmr_ivf_oracle())
def ann_mmr_rerank_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity rerank over an IVF candidate pool
    (operators/similarity.py:mmr_rerank_ivf; r10 VERDICT item 7) —
    the large-query-batch composition: the coarse quantizer prunes
    each query to nprobe=2 of 8 cells, exact fixed-point distances
    rank only the probed cells' vectors into the top-20 candidate
    pool, and the greedy tail is LITERALLY the brute-force form's
    ``_mmr_greedy`` — so the whole composition hash-matches its
    generated oracle (coarse chain + probes + cell-restricted
    candidates + the same unrolled rounds). The corpus never
    crossJoins the query relation (plan-pinned:
    tests/test_plan_quality.py)."""
    from ..operators.similarity import mmr_rerank_ivf

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return mmr_rerank_ivf(
        e, q, k=5, n_cand=20, n_cells=8, nprobe=2, iters=2
    ).orderBy("q_id", "pick")


@register("ann_mmr_rerank", oracle=_mmr_oracle())
def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware serving: MMR greedy top-5 per query over the
    20 nearest candidates (operators/similarity.py:mmr_rerank) — the
    rerank layer real retrieval stacks put between ANN recall and the
    user, here in exact fixed-point so the greedy recursion
    hash-matches its unrolled generated oracle. Workload: every 97th
    vector queries the embeddings table, lambda = 0.5."""
    from ..operators.similarity import mmr_rerank

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return mmr_rerank(e, q, k=5, n_cand=20).orderBy("q_id", "pick")


_PHRASE_QUERIES = [
    (1, 1, "spark"), (1, 2, "join"),
    (2, 1, "window"), (2, 2, "filter"),
    (3, 1, "table"), (3, 2, "table"),
]


@register(
    "text_phrase_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(t) AS word, generate_subscripts(t, 1) AS pos
      FROM (SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents)
    ),
    ph(q_id, term_pos, term) AS (VALUES
      (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'spark'), (1, 2, 'join'),
      (2, 1, 'window'), (2, 2, 'filter'),
      (3, 1, 'table'), (3, 2, 'table')),
    qn AS (
      SELECT q_id, count(DISTINCT term_pos) AS n_terms FROM ph GROUP BY q_id
    ),
    m AS (
      SELECT ph.q_id, toks.doc_id, toks.pos - ph.term_pos AS start,
             count(DISTINCT ph.term_pos) AS matched
      FROM toks JOIN ph ON toks.word = ph.term
      GROUP BY 1, 2, 3
    ),
    occ AS (
      SELECT m.q_id, m.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM m JOIN qn USING (q_id)
      WHERE m.matched = qn.n_terms
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT q_id, doc_id, n_occurrences,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY n_occurrences DESC, doc_id
             ) AS BIGINT) AS rank
      FROM occ
    )
    SELECT q_id, doc_id, n_occurrences, rank FROM ranked WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search — top-10 documents per phrase by occurrence
    count over positional postings
    (operators/retrieval.py:phrase_search_topk): the positional-index
    capability BM25's bag-of-words cannot express ("spark join" as
    ADJACENT tokens). The workload includes a duplicated-term phrase
    ("table table") to exercise the distinct-term_pos matching rule.
    Scale shape: one positional tokenize, phrase dictionary broadcast
    onto it, two aggregates on uniformly-distributed keys, salted
    two-phase top-k — flat under stop-grade phrase terms by the same
    analysis as bm25_topk."""
    from ..operators.retrieval import phrase_search_topk

    d = load_table(spark, sf_dir, "documents")
    ph = spark.createDataFrame(
        _PHRASE_QUERIES, "q_id long, term_pos long, term string"
    )
    return phrase_search_topk(d, ph, k=10).orderBy("q_id", "rank")


# ------------------------------------------------- time-decayed counts


@register(
    "events_decayed_counts",
    oracle="""
    WITH mx AS (SELECT max(epoch_ms(ts)) AS asof_ms FROM events),
    w AS (
      SELECT event_type,
             least((asof_ms - epoch_ms(ts)) // 3600000, 40) AS age
      FROM events, mx
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(1000000 // (CAST(1 AS BIGINT) << age)) AS BIGINT)
             AS decayed_micro
    FROM w GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event counters (half-life = 1 hour,
    as-of the newest event): the recency-weighted activity score
    behind "what's hot right now" leaderboards and decayed rate
    limiting. The usual exp(-λΔt) is libm — not bit-portable — so the
    half-life weight is computed EXACTLY as ``1e6 >> age_hours``
    (integer micro-units; ages capped at 40 where the weight
    underflows to 0), making the aggregate hash-reproducible on both
    engines.

    Scale shape: one single-row max(ts) aggregate broadcast onto the
    stream, then one map-side-combined groupBy — the weight is a
    per-row projection, so the shuffle carries |event_types| partial
    sums. At 100 TB the as-of point would come from the ingest clock
    instead of a max() pre-pass; the decay arithmetic is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_millis("ts")).alias("asof_ms"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            F.least(
                F.expr("(asof_ms - unix_millis(ts)) div 3600000"), F.lit(40)
            ).alias("age"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.expr("1000000L div shiftleft(1L, cast(age as int))")
            ).alias("decayed_micro"),
        )
        .orderBy("event_type")
    )


@register(
    "text_bm25_topk_and",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    corp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    q(q_id, term) AS (VALUES
      (CAST(1 AS BIGINT), 'spark'), (1, 'join'),
      (2, 'window'), (2, 'filter'), (2, 'sort'),
      (3, 'vector')),
    nt AS (
      SELECT q_id, CAST(count(DISTINCT term) AS BIGINT) AS n_terms
      FROM q GROUP BY q_id
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE word IN (SELECT term FROM q)
      GROUP BY doc_id, word
    ),
    dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT q.q_id, tf.doc_id,
             CAST(sum(
               ((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                  // 1000000)
               * ((tf * 2200000 * 1000000) //
                  (tf * 1000000
                   + (1200000 * (250000
                       + (750000 * dl * 1000)
                         // (t_tokens * 1000 // n_docs)))
                     // 1000000))
               + (((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                     % 1000000)
                  * ((tf * 2200000 * 1000000) //
                     (tf * 1000000
                      + (1200000 * (250000
                          + (750000 * dl * 1000)
                            // (t_tokens * 1000 // n_docs)))
                        // 1000000))) // 1000000
             ) AS BIGINT) AS score_ppm,
             count(DISTINCT tf.word) AS matched
      FROM tf JOIN dl USING (doc_id) JOIN dfr USING (word)
           JOIN q ON tf.word = q.term, corp
      GROUP BY q.q_id, tf.doc_id
    ),
    conj AS (
      SELECT s.q_id, s.doc_id, s.score_ppm
      FROM scored s JOIN nt USING (q_id)
      WHERE s.matched = nt.n_terms
    ),
    ranked AS (
      SELECT q_id, doc_id, score_ppm,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY score_ppm DESC, doc_id
             ) AS BIGINT) AS rank
      FROM conj
    )
    SELECT q_id, doc_id, score_ppm, rank FROM ranked WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def text_bm25_topk_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND-semantics) integer BM25 — web-search default:
    only documents containing EVERY query term are ranked. Identical
    scoring and workload as ``text_bm25_topk``; the conjunction is a
    countDistinct-matched-terms check against the broadcast per-query
    term count — no second corpus pass, same scale shape
    (operators/retrieval.py:bm25_topk_conjunctive)."""
    from ..operators.retrieval import bm25_topk_conjunctive

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id long, term string")
    return bm25_topk_conjunctive(d, q, k=10).orderBy("q_id", "rank")


@register(
    "text_rrf_fusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    corp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    q(q_id, term) AS (VALUES
      (CAST(1 AS BIGINT), 'spark'), (1, 'join'),
      (2, 'window'), (2, 'filter'), (2, 'sort'),
      (3, 'vector')),
    nt AS (
      SELECT q_id, CAST(count(DISTINCT term) AS BIGINT) AS n_terms
      FROM q GROUP BY q_id
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE word IN (SELECT term FROM q)
      GROUP BY doc_id, word
    ),
    dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
    scored AS (
      SELECT q.q_id, tf.doc_id,
             CAST(sum(
               ((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                  // 1000000)
               * ((tf * 2200000 * 1000000) //
                  (tf * 1000000
                   + (1200000 * (250000
                       + (750000 * dl * 1000)
                         // (t_tokens * 1000 // n_docs)))
                     // 1000000))
               + (((((n_docs - df) * 2 + 1) * 1000000 // (df * 2 + 1))
                     % 1000000)
                  * ((tf * 2200000 * 1000000) //
                     (tf * 1000000
                      + (1200000 * (250000
                          + (750000 * dl * 1000)
                            // (t_tokens * 1000 // n_docs)))
                        // 1000000))) // 1000000
             ) AS BIGINT) AS score_ppm,
             count(DISTINCT tf.word) AS matched
      FROM tf JOIN dl USING (doc_id) JOIN dfr USING (word)
           JOIN q ON tf.word = q.term, corp
      GROUP BY q.q_id, tf.doc_id
    ),
    ranked_dis AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_ppm DESC, doc_id
             ) AS rank
      FROM scored
    ),
    ranked_con AS (
      SELECT s.q_id, s.doc_id,
             row_number() OVER (
               PARTITION BY s.q_id ORDER BY s.score_ppm DESC, s.doc_id
             ) AS rank
      FROM scored s JOIN nt USING (q_id)
      WHERE s.matched = nt.n_terms
    ),
    parts AS (
      SELECT q_id, doc_id, 1000000 // (60 + CAST(rank AS BIGINT)) AS part
      FROM ranked_dis WHERE rank <= 10
      UNION ALL
      SELECT q_id, doc_id, 1000000 // (60 + CAST(rank AS BIGINT)) AS part
      FROM ranked_con WHERE rank <= 10
    ),
    fused AS (
      SELECT q_id, doc_id, CAST(sum(part) AS BIGINT) AS rrf_micro
      FROM parts GROUP BY q_id, doc_id
    ),
    rr AS (
      SELECT q_id, doc_id, rrf_micro,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id
             ) AS BIGINT) AS rank
      FROM fused
    )
    SELECT q_id, doc_id, rrf_micro, rank FROM rr WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings — here the
    disjunctive and conjunctive BM25 rankers over the shared 3-query
    workload, the standard way to combine rankers without score
    calibration (operators/retrieval.py:rrf_fuse; exact integer
    1e6/(60+rank) weights, so the fusion hash-reproduces). The same
    operator fuses lexical with ANN rankings when the id spaces align
    — rankings are just (q_id, doc_id, rank) relations to it.

    Scale note: inputs are top-k relations, so fusion itself is
    config-scale; this registered form recomputes the two rankers'
    postings independently (2 corpus passes) — a production call
    shares ``corpus_postings`` or probes the persisted text index."""
    from ..operators.retrieval import (
        bm25_topk,
        bm25_topk_conjunctive,
        rrf_fuse,
    )

    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id long, term string")
    return rrf_fuse(
        [bm25_topk(d, q, k=10), bm25_topk_conjunctive(d, q, k=10)], k=10
    ).orderBy("q_id", "rank")


# ------------------------------------------------- product quantization


def _pq_oracle(d: int = 64, m: int = 8, k: int = 16) -> str:
    """Generate the PQ oracle: one copy of the (parameterized) kmeans
    CTE chain per subspace over the SLICED embedding, unioned into the
    long-form code table. Mechanical restatement of
    operators/similarity.py:pq_codes — same fixed-point arithmetic,
    same seed rule (k smallest vec_ids), same tie order."""
    sub = d // m
    ctes, selects = [], []
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        ctes.append(f"""
    x{s} AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * 10000000.0) AS BIGINT)
              for v in embedding[{lo}:{hi}]] AS xf
      FROM embeddings
    ),
    c0_{s} AS (
      SELECT vec_id AS cluster, xf AS cf FROM x{s}
      ORDER BY vec_id LIMIT {k}
    ),
    d1_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c0_{s} c
    ),
    a1_{s} AS (
      SELECT vec_id, cluster, dist, xf FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1_{s}) WHERE rn = 1
    ),
    e1_{s} AS (SELECT cluster, unnest(xf) AS v,
                      generate_subscripts(xf, 1) AS dim
               FROM a1_{s}),
    cm1_{s} AS (SELECT cluster, dim,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS cv
                FROM e1_{s} GROUP BY cluster, dim),
    c1_{s} AS (SELECT cluster, list(cv ORDER BY dim) AS cf FROM cm1_{s}
               GROUP BY cluster),
    d2_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c1_{s} c
    ),
    a2_{s} AS (
      SELECT vec_id, cluster, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2_{s}) WHERE rn = 1
    )""")
        selects.append(
            f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, "
            f"CAST(cluster AS BIGINT) AS code, dist FROM a2_{s}"
        )
    return (
        "WITH "
        + ",".join(ctes)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY vec_id, subspace"
    )


@register("embedding_pq_codes", oracle=_pq_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code table (Jégou et al. TPAMI'11): 8
    independent 16-centroid codebooks over the 8-dim subspaces of the
    64-dim embeddings — each vector compressed to 8 small ints plus a
    per-subspace fixed-point reconstruction error
    (operators/similarity.py:pq_codes). This is the memory layout
    IVF-PQ serving builds on; ``embedding_quantize`` is the scalar
    (int8) sibling, ``write_ivf_layout`` the coarse level above it.

    The full code table hash-matches a DuckDB oracle that unrolls all
    8 per-subspace Lloyd chains (generated by ``_pq_oracle`` — same
    fixed-point arithmetic, seeds, and tie order), making this one of
    the few PQ implementations anywhere with an exact cross-engine
    oracle. Scale shape: per-subspace centroids are 16-row broadcasts;
    assignments never shuffle the corpus; the m-way union is
    plan-level."""
    from ..operators.similarity import pq_codes

    e = load_table(spark, sf_dir, "embeddings")
    return pq_codes(e, d=64, m=8, k=16, iters=2)


def _adc_oracle(
    d: int = 64, m: int = 8, k_codebook: int = 16, k: int = 5,
    scale: int = 100_000, qmod: int = 97,
) -> str:
    """Generate the ADC oracle: the PQ per-subspace kmeans chains at
    ``scale``, plus per-subspace query distance tables and the summed
    lookup — a mechanical restatement of
    operators/similarity.py:pq_adc_topk, exact to the last bit."""
    sub = d // m
    ctes, selects = [], []
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        ctes.append(f"""
    x{s} AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * {scale}.0) AS BIGINT)
              for v in embedding[{lo}:{hi}]] AS xf
      FROM embeddings
    ),
    c0_{s} AS (
      SELECT vec_id AS cluster, xf AS cf FROM x{s}
      ORDER BY vec_id LIMIT {k_codebook}
    ),
    d1_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c0_{s} c
    ),
    a1_{s} AS (
      SELECT vec_id, cluster, dist, xf FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1_{s}) WHERE rn = 1
    ),
    e1_{s} AS (SELECT cluster, unnest(xf) AS v,
                      generate_subscripts(xf, 1) AS dim
               FROM a1_{s}),
    cm1_{s} AS (SELECT cluster, dim,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS cv
                FROM e1_{s} GROUP BY cluster, dim),
    c1_{s} AS (SELECT cluster, list(cv ORDER BY dim) AS cf FROM cm1_{s}
               GROUP BY cluster),
    d2_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c1_{s} c
    ),
    a2_{s} AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2_{s}) WHERE rn = 1
    ),
    q{s} AS (
      SELECT vec_id AS q_id, xf AS qf FROM x{s} WHERE vec_id % {qmod} = 0
    ),
    dt{s} AS (
      SELECT q.q_id, c.cluster,
             CAST(list_sum([(q.qf[i]-c.cf[i])*(q.qf[i]-c.cf[i])
                            for i in generate_series(1, len(q.qf))])
                  AS BIGINT) AS qd
      FROM q{s} q CROSS JOIN c1_{s} c
    )""")
        selects.append(
            f"SELECT dt.q_id, a.vec_id, dt.qd "
            f"FROM a2_{s} a JOIN dt{s} dt ON a.cluster = dt.cluster"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""WITH {",".join(ctes)},
    allp AS (
      {union}
    ),
    tot AS (
      SELECT q_id, vec_id, CAST(sum(qd) AS BIGINT) AS adc_dist
      FROM allp GROUP BY q_id, vec_id
    ),
    rr AS (
      SELECT q_id, vec_id, adc_dist,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY adc_dist, vec_id
             ) AS BIGINT) AS rank
      FROM tot
    )
    SELECT q_id, vec_id, adc_dist, rank FROM rr WHERE rank <= {k}
    ORDER BY q_id, rank"""


@register("ann_pq_adc_topk", oracle=_adc_oracle())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search (the IVF-PQ serving path): the
    corpus lives only as 8 per-subspace codes; each query (every 97th
    vector) builds one 16-row distance table per subspace and
    documents are ranked by the sum of table lookups at their codes —
    top-5 per query (operators/similarity.py:pq_adc_topk). The entire
    chain — codebooks, codes, tables, sums, ranks — is fixed-point
    int64, so it hash-matches the generated 8-subspace DuckDB oracle
    exactly: approximate NEAREST-NEIGHBOR search whose approximation
    is itself bit-reproducible. Completes the ANN family: brute-force
    (exact baseline) / LSH / IVF (pruning) / PQ-ADC (compression)."""
    from ..operators.similarity import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return pq_adc_topk(e, q, d=64, m=8, k_codebook=16, k=5, iters=2)


@register(
    "corpus_bigram_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS.format(c="text")} AS t FROM documents
    ),
    bgl AS (
      SELECT [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
               AS bgs
      FROM toks WHERE len(t) >= 2
    ),
    bg AS (SELECT unnest(bgs) AS word FROM bgl),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bg),
    c AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM bg GROUP BY word
    )
    SELECT word,
           n_occurrences,
           CAST(CAST(n_occurrences AS HUGEINT) * 1000000 // n_total
                AS BIGINT) AS freq_ppm
    FROM c, tot
    WHERE CAST(n_occurrences AS HUGEINT) * 1000000
          > 900 * CAST(n_total AS HUGEINT)
    ORDER BY n_occurrences DESC, word
    """,
)
def corpus_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter BIGRAMS (> 900 ppm of all adjacent token pairs) —
    the stop-gram list builder: the capped n-gram dedup family
    (``dedup_ngram_pairs_capped``) and the boilerplate detectors drop
    exactly these template phrases, and this query derives that list
    with the same Misra-Gries two-phase machinery as
    ``corpus_heavy_hitters`` (hash-domain sketch, exact broadcast
    recount — operators/heavy_hitters.py). Bigram space squares the
    vocabulary, which is precisely the regime where the
    never-shuffle-the-vocabulary property matters."""
    from ..operators.heavy_hitters import heavy_hitters

    d = load_table(spark, sf_dir, "documents")
    t = d.select(tokens(F.col("text")).alias("t")).filter(F.size("t") >= 2)
    bg = t.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("word")
    )
    return heavy_hitters(bg, "word", threshold_ppm=900).orderBy(
        F.col("n_occurrences").desc(), "word"
    )


@register(
    "events_cusum_alarm",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n_events) AS BIGINT) AS s
      FROM wc GROUP BY event_type
    ),
    j AS (
      SELECT wc.window_start, wc.event_type, wc.n_events,
             CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT) AS mean_milli
      FROM wc JOIN st USING (event_type)
    ),
    p AS (
      SELECT *, CAST(sum(n_events * 1000 - mean_milli - mean_milli // 2)
                     OVER f AS BIGINT) AS pp
      FROM j
      WINDOW f AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    c AS (
      SELECT window_start, event_type, n_events, mean_milli,
             pp - least(CAST(0 AS BIGINT), min(pp) OVER f) AS cusum_milli
      FROM p
      WINDOW f AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT window_start, event_type, n_events, cusum_milli,
           CAST(cusum_milli > 5 * mean_milli AS BIGINT) AS is_alarm
    FROM c
    ORDER BY event_type, window_start
    """,
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift detection: one-sided CUSUM per event type over the
    hourly window counts (operators/anomaly.py:cusum_from_counts) —
    the sustained-small-elevation detector the three-sigma family
    cannot express, made window-expressible by the reflection
    identity S_t = P_t - min(0, running_min(P)). The only window
    functions run over the bounded type-partitioned count relation
    (|hours| rows per partition regardless of event volume — the
    rolling-anomaly argument); the corpus-sized pass is the one
    window-count aggregate. All-BIGINT milli arithmetic, exact
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    return cusum_from_counts(window_counts(ev))


@register(
    "events_seasonal_anomaly",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    w2 AS (
      SELECT *, substring(window_start, 12, 2) AS hod FROM wc
    ),
    st AS (
      SELECT event_type, hod,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n_events) AS BIGINT) AS s,
             sum(CAST(n_events AS HUGEINT) * n_events) AS v
      FROM w2 GROUP BY event_type, hod
    )
    SELECT w2.window_start,
           w2.event_type,
           w2.n_events,
           w2.hod,
           CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT) AS mean_milli,
           CAST(((CAST(m AS HUGEINT) * w2.n_events - s)
                 * (CAST(m AS HUGEINT) * w2.n_events - s) * 1000)
             // nullif(CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s, 0)
             AS BIGINT) AS z2_milli,
           CAST(((CAST(m AS HUGEINT) * w2.n_events - s)
                 * (CAST(m AS HUGEINT) * w2.n_events - s) * 1000
                 > 9000 * (CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s))
             AS BIGINT) AS is_anomaly
    FROM w2 JOIN st USING (event_type, hod)
    ORDER BY event_type, window_start
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deseasonalized three-sigma anomalies: every hourly window is
    scored against the baseline of windows sharing its (event_type,
    hour-of-day) — operators/anomaly.py:seasonal_anomalies_from_counts.
    The complement of ``events_window_anomaly`` for daily-periodic
    traffic: a nightly 02:00 batch spike is ordinary against the
    02:00-only baseline (no nightly false positive), while a genuinely
    unusual 02:00 window still fires. hod slices the formatted
    window_start string so both engines cut identical bytes (no
    timezone-sensitive hour()). Same broadcast-moments scale shape —
    the baseline relation just widens to |types|×24 rows; the one
    corpus-sized pass is the window-count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return seasonal_anomalies_from_counts(window_counts(ev))


@register(
    "events_autocorrelation",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, n_events AS y,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY window_start) - 1 AS x
      FROM wc
    ),
    st AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(y) AS BIGINT) AS s,
             sum(CAST(y AS HUGEINT) * y) AS v
      FROM d GROUP BY 1
    ),
    lags AS (SELECT unnest([1, 2, 3]) AS lag),
    pairs AS (
      SELECT l.event_type, lg.lag, l.y AS y, r.y AS y2
      FROM d l CROSS JOIN lags lg
      JOIN d r ON r.event_type = l.event_type AND r.x = l.x + lg.lag
    ),
    agg AS (
      SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(y AS HUGEINT) * y2) AS p,
             CAST(sum(y) AS BIGINT) AS a, CAST(sum(y2) AS BIGINT) AS b
      FROM pairs GROUP BY 1, 2
    )
    SELECT g.event_type, CAST(g.lag AS BIGINT) AS lag, m, n_pairs,
           CAST(((CAST(m AS HUGEINT) * m * p
                  - CAST(m AS HUGEINT) * s * (CAST(a AS HUGEINT) + b)
                  + CAST(n_pairs AS HUGEINT) * s * s) * 1000000)
                // nullif(CAST(m AS HUGEINT)
                          * (CAST(m AS HUGEINT) * v
                             - CAST(s AS HUGEINT) * s), 0)
                AS BIGINT) AS r_ppm
    FROM agg g JOIN st USING (event_type)
    ORDER BY event_type, lag
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each type's hourly count series at lags 1-3
    (operators/anomaly.py:acf_from_counts) — the series-memory
    diagnostic that tells monitoring which baseline fits (white noise
    → global moments, strong lag echo → the seasonal detector). The
    sample ACF is cleared of the non-integer mean via the m²-scaled
    identity, so every quantity is an exact DECIMAL product and the
    ppm quotient truncates identically on both engines (negative
    autocorrelations included — div/// both truncate toward zero).
    One corpus-sized count aggregate; the lag pairing is a bounded
    self-equi-join of the |types|×|hours| relation with a ≤3-row
    broadcast lag dimension."""
    from ..operators.anomaly import acf_from_counts, window_counts

    ev = load_table(spark, sf_dir, "events")
    return acf_from_counts(window_counts(ev), max_lag=3).orderBy(
        "event_type", "lag"
    )


@register(
    "events_hourly_forecast",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                        ORDER BY window_start) - 1
                     AS BIGINT) AS x
      FROM wc
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(n_events) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * n_events) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM d GROUP BY event_type
    ),
    tr AS (
      SELECT event_type, m,
             CAST(((m * sxy - sx * sy) * 1000000)
                  // nullif(m * sxx - sx * sx, 0) AS BIGINT)
               AS slope_micro,
             CAST(((sy * sxx - sx * sxy) * 1000)
                  // nullif(m * sxx - sx * sx, 0) AS BIGINT)
               AS intercept_milli
      FROM st
    ),
    gm AS (
      SELECT event_type,
             CAST(CAST(sum(n_events) AS HUGEINT) * 1000 // count(*)
                  AS BIGINT) AS mean_milli
      FROM wc GROUP BY 1
    ),
    hm AS (
      SELECT event_type, substr(window_start, 12, 2) AS hod,
             CAST(CAST(sum(n_events) AS HUGEINT) * 1000 // count(*)
                  AS BIGINT) AS hod_mean_milli
      FROM wc GROUP BY 1, 2
    ),
    nxt AS (
      SELECT event_type,
             strftime(strptime(max(window_start), '%Y-%m-%d %H:%M:%S')
                      + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
               AS next_window
      FROM wc GROUP BY 1
    )
    SELECT n.event_type, n.next_window, t.m,
           t.intercept_milli
           + CAST(CAST(t.slope_micro AS HUGEINT) * t.m // 1000 AS BIGINT)
           + h.hod_mean_milli - g.mean_milli AS forecast_milli
    FROM nxt n
    JOIN tr t USING (event_type)
    JOIN gm g USING (event_type)
    LEFT JOIN hm h
      ON h.event_type = n.event_type
     AND h.hod = substr(n.next_window, 12, 2)
    ORDER BY event_type
    """,
)
def events_hourly_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead hourly volume forecast per event type
    (operators/anomaly.py:forecast_next_window) — the capacity-
    planning compose of the monitoring family's two baseline models:
    OLS trend extrapolated one index past the series end plus the
    hour-of-day seasonal index (per-(type, hod) mean minus the global
    mean), all exact floor-milli. The next window rolls the last
    formatted window_start by one hour in UTC (pinned session tz), so
    both engines wrap midnight identically. Everything derives from
    the bounded count relation (servable from the persisted
    window-counts layout)."""
    from ..operators.anomaly import forecast_next_window, window_counts

    ev = load_table(spark, sf_dir, "events")
    return forecast_next_window(window_counts(ev)).orderBy("event_type")


@register(
    "events_mad_anomaly",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    m_rel AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS m FROM wc GROUP BY 1
    ),
    rn AS (
      SELECT wc.*, m,
             row_number() OVER (PARTITION BY wc.event_type
                                ORDER BY n_events, window_start) AS rn
      FROM wc JOIN m_rel USING (event_type)
    ),
    med_rel AS (
      SELECT event_type, n_events AS med FROM rn WHERE rn = (m + 1) // 2
    ),
    a AS (
      SELECT rn.window_start, rn.event_type, rn.n_events, rn.m, med,
             abs(rn.n_events - med) AS a
      FROM rn JOIN med_rel USING (event_type)
    ),
    rn2 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY a, window_start) AS rn2
      FROM a
    ),
    mad_rel AS (
      SELECT event_type, a AS mad FROM rn2 WHERE rn2 = (m + 1) // 2
    )
    SELECT a.window_start, a.event_type, a.n_events, med, mad,
           CAST(CASE WHEN mad > 0 THEN a.a * 10000 > 44478 * mad
                     ELSE a.a > 0 END AS BIGINT) AS is_anomaly
    FROM a JOIN mad_rel USING (event_type)
    ORDER BY event_type, window_start
    """,
)
def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD anomaly detection per event type
    (operators/anomaly.py:mad_anomalies_from_counts) — the
    outlier-resistant complement of ``events_window_anomaly``: extreme
    spikes inflate the mean/variance baseline enough to mask other
    outliers (z² caps at m−1), while the median and the
    median-absolute-deviation barely move. All-integer lower medians
    (row_number picks at position (m+1) div 2, the quantile_disc(0.5)
    value) and the 3·1.4826·MAD fence in tenth-milli fixed point
    (a·10000 > 44478·mad); mad = 0 degenerates to flagging any
    deviation. The medians are window picks over the bounded
    type-partitioned count relation; med/mad broadcast back at
    |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    return mad_anomalies_from_counts(window_counts(ev))


@register(
    "events_hourly_trend",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                        ORDER BY window_start) - 1
                     AS BIGINT) AS x
      FROM wc
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(n_events) AS HUGEINT) AS sy,
             sum(CAST(x AS HUGEINT) * n_events) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM d GROUP BY event_type
    )
    SELECT event_type, m,
           CAST(((m * sxy - sx * sy) * 1000000)
                // nullif(m * sxx - sx * sx, 0) AS BIGINT) AS slope_micro,
           CAST(((sy * sxx - sx * sxy) * 1000)
                // nullif(m * sxx - sx * sx, 0) AS BIGINT)
             AS intercept_milli
    FROM st
    ORDER BY event_type
    """,
)
def events_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of hourly event volume
    (operators/anomaly.py:trend_from_counts): exact-integer closed-form
    slope/intercept over the window-count relation, in micro/milli
    fixed point. The drift-direction primitive the point detectors
    can't express — a slow ramp shows a significant slope long before
    any window trips a fence. Negative slopes are exact because Spark
    decimal ``div`` and DuckDB HUGEINT ``//`` both truncate toward
    zero. One corpus-sized pass (the count aggregate); the x index is
    a row_number over the bounded per-type count relation."""
    ev = load_table(spark, sf_dir, "events")
    return trend_from_counts(window_counts(ev))


@register(
    "events_seasonal_decomposition",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT window_start, event_type, n_events,
             substring(window_start, 12, 2) AS hod,
             CASE WHEN count(*) OVER f = 25
                  THEN (sum(n_events) OVER f) * 1000 // 25 END
               AS trend_milli
      FROM wc
      WINDOW f AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    d2 AS (
      SELECT *, n_events * 1000 - trend_milli AS detrended FROM d
    ),
    seas AS (
      SELECT event_type, hod,
             CAST(sum(detrended) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS cd
      FROM d2 WHERE detrended IS NOT NULL GROUP BY 1, 2
    )
    SELECT d2.window_start, d2.event_type, d2.n_events, d2.trend_milli,
           CASE WHEN trend_milli IS NOT NULL THEN sd // cd END
             AS seasonal_milli,
           detrended - (sd // cd) AS resid_milli
    FROM d2 LEFT JOIN seas USING (event_type, hod)
    ORDER BY event_type, window_start
    """,
)
def events_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the hourly count series —
    count = trend + seasonal + residual
    (operators/anomaly.py:seasonal_decompose_counts): centered ±12h
    moving-average trend (NULL until the 25-row frame is full),
    per-(type, hour-of-day) floor-mean seasonal, residual what's left
    — the "subtract the predictable parts, alert on the rest"
    monitoring primitive, exact in milli fixed point (negative means
    truncate toward zero identically on both engines). One bounded
    ROWS frame + one |types|×24 broadcast; the corpus-sized pass is
    the window-count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return seasonal_decompose_counts(window_counts(ev))


@register(
    "events_association_rules",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events),
    ct AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM ut GROUP BY 1
    ),
    pairs AS (
      SELECT a.event_type AS ante, b.event_type AS cons,
             CAST(count(*) AS BIGINT) AS c_xy
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT ante, cons, c_xy,
           ca.c AS c_ante, cb.c AS c_cons,
           CAST(CAST(c_xy AS HUGEINT) * 1000000 // n AS BIGINT)
             AS support_ppm,
           CAST(CAST(c_xy AS HUGEINT) * 1000000 // ca.c AS BIGINT)
             AS confidence_ppm,
           CAST(CAST(c_xy AS HUGEINT) * n * 1000000
                // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN ct ca ON ca.event_type = ante
    JOIN ct cb ON cb.event_type = cons
    CROSS JOIN nu
    WHERE c_xy >= 2
    ORDER BY ante, cons
    """,
)
def events_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type sets —
    UNORDERED co-occurrence ("users who trigger x also trigger y"),
    the complement of ``events_top_transitions``'s sequential bigrams.
    Exact integer Agrawal-style metrics in ppm: support = c(x,y)/N
    users, confidence = c(x,y)/c(x), lift = c(x,y)·N/(c(x)·c(y)); the
    c_xy ≥ 2 guard is the standard min-support prune.

    Scale shape: one corpus pass dedups to the (user, type) item
    relation; the pair self-join keys on user_id with fan-out bounded
    by |types|² PER USER (never all-pairs across users); the type
    marginals and the scalar N broadcast back onto the |types|²-row
    pair relation. DECIMAL-lifted products are exact to ~1e19
    user-type incidences."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    nu = ev.agg(F.countDistinct("user_id").alias("n"))
    ct = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ut.select("user_id", F.col("event_type").alias("ante"))
    b = ut.select("user_id", F.col("event_type").alias("cons"))
    pairs = (
        a.join(b, ["user_id"])
        .filter(F.col("ante") < F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(ct.select(F.col("event_type").alias("ante"),
                                  F.col("c").alias("c_ante"))),
            "ante",
        )
        .join(
            F.broadcast(ct.select(F.col("event_type").alias("cons"),
                                  F.col("c").alias("c_cons"))),
            "cons",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "ante",
            "cons",
            "c_xy",
            "c_ante",
            "c_cons",
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * 1000000 div n"
                " AS BIGINT)"
            ).alias("support_ppm"),
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * 1000000 div c_ante"
                " AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST(CAST(c_xy AS DECIMAL(38,0)) * n * 1000000"
                " div (CAST(c_ante AS DECIMAL(38,0)) * c_cons) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "events_user_outliers",
    oracle="""
    WITH uc AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(n_events) AS BIGINT) AS s,
             sum(CAST(n_events AS HUGEINT) * n_events) AS v
      FROM uc
    )
    SELECT uc.user_id, uc.n_events,
           CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT) AS mean_milli,
           CAST(((CAST(m AS HUGEINT) * uc.n_events - s)
                 * (CAST(m AS HUGEINT) * uc.n_events - s) * 1000)
             // nullif(CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s, 0)
             AS BIGINT) AS z2_milli,
           CAST(((CAST(m AS HUGEINT) * uc.n_events - s)
                 * (CAST(m AS HUGEINT) * uc.n_events - s) * 1000
                 > 9000 * (CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s))
             AS BIGINT) AS is_anomaly
    FROM uc CROSS JOIN st
    ORDER BY user_id
    """,
)
def events_user_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-USER activity outliers — the bot/abuse-detection dimension
    of the fence family: users whose total event count is anomalous
    against the population (the z² integer predicate of
    ``events_window_anomaly``, applied across users instead of across
    a type's windows). One corpus-sized groupBy(user_id) with map-side
    combine, then ONE global moment row broadcast back (the
    ``_three_sigma`` core with a constant grouping key). Output is
    per-user — at 100 TB that's |users| rows, already aggregated."""
    ev = load_table(spark, sf_dir, "events")
    uc = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("_g", F.lit(1))
    )
    from ..operators.anomaly import _three_sigma

    return _three_sigma(uc, ["_g"]).drop("_g")


@register(
    "events_window_anomaly_rolling",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT window_start, event_type, n_events,
             CAST(count(*) OVER f AS BIGINT) AS m,
             CAST(coalesce(sum(n_events) OVER f, 0) AS BIGINT) AS s,
             coalesce(sum(CAST(n_events AS HUGEINT) * n_events) OVER f, 0)
               AS v
      FROM wc
      WINDOW f AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, event_type, n_events,
           CASE WHEN m >= 12 THEN m END AS base_n,
           CASE WHEN m >= 12 THEN
             CAST(CAST(s AS HUGEINT) * 1000 // m AS BIGINT)
           END AS base_mean_milli,
           CASE WHEN m >= 12 THEN
             CAST(((CAST(m AS HUGEINT) * n_events - s)
                   * (CAST(m AS HUGEINT) * n_events - s) * 1000)
               // nullif(CAST(m AS HUGEINT) * v - CAST(s AS HUGEINT) * s, 0)
               AS BIGINT)
           END AS z2_milli,
           CASE WHEN m >= 12 THEN
             CAST(((CAST(m AS HUGEINT) * n_events - s)
                   * (CAST(m AS HUGEINT) * n_events - s) * 1000
                   > 9000 * (CAST(m AS HUGEINT) * v
                             - CAST(s AS HUGEINT) * s))
               AS BIGINT)
           END AS is_anomaly
    FROM r
    ORDER BY event_type, window_start
    """,
)
def events_window_anomaly_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-baseline three-sigma anomalies: each hour is judged
    against its type's TRAILING 24 windows (rows frame, excluding
    itself) instead of the whole-history moments of
    ``events_window_anomaly`` — the drift-tolerant form: a level shift
    ages into the baseline within a day instead of contaminating every
    future verdict. Warmup rows (< 12 baseline windows) emit NULL
    verdicts rather than pretending. Same exact-BIGINT z² predicate.

    Scale shape: the ONLY window functions run over the aggregated
    window-count relation partitioned by event_type — a partition is
    |hours-in-retention| rows (8760/year), bounded regardless of event
    volume, so this is the rare case where a windowed form IS the
    scale answer; the corpus-sized pass is still just the one
    window-count aggregate."""
    ev = load_table(spark, sf_dir, "events")
    wc = window_counts(ev)
    f = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-24, -1)
    )
    r = wc.select(
        "window_start",
        "event_type",
        "n_events",
        F.count(F.lit(1)).over(f).alias("m"),
        F.coalesce(F.sum("n_events").over(f), F.lit(0)).alias("s"),
        # DECIMAL(38,0) lift (ADVICE r9): with a 24-window frame the
        # n^2 moment wraps int64 past ~6e8 events/hour and dev^2*1000
        # past ~4e6/hour; same device as window_anomalies_from_counts
        F.coalesce(
            F.sum(
                F.col("n_events").cast("decimal(38,0)") * F.col("n_events")
            ).over(f),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("v"),
    )
    warm = F.col("m") >= 12
    dev = F.col("m").cast("decimal(38,0)") * F.col("n_events") - F.col("s")
    varm = (
        F.col("m") * F.col("v")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return (
        r.select(
            "window_start",
            "event_type",
            "n_events",
            F.when(warm, F.col("m")).alias("base_n"),
            F.when(
                warm, F.expr("CAST(s AS DECIMAL(38,0)) * 1000 div m")
            ).alias("base_mean_milli"),
            F.when(warm, dev).alias("_dev"),
            F.when(warm, varm).alias("_varm"),
        )
        .select(
            "window_start",
            "event_type",
            "n_events",
            "base_n",
            "base_mean_milli",
            F.expr("(_dev * _dev * 1000) div nullif(_varm, 0)").alias(
                "z2_milli"
            ),
            F.when(
                F.col("_dev").isNotNull(),
                (
                    F.col("_dev") * F.col("_dev") * F.lit(1000)
                    > F.lit(9000) * F.col("_varm")
                ).cast("long"),
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "window_start")
    )


def _ivf_pq_oracle(
    d: int = 64, m: int = 8, k_codebook: int = 16, k: int = 5,
    nprobe: int = 2, scale: int = 100_000, qmod: int = 97,
) -> str:
    """Generate the composed IVF-PQ oracle: the coarse k-means chain
    (_KMEANS_CTES — the same relation the IVF family oracles share, at
    the coarse 1e7 scale), per-query nprobe cell probes, the
    per-subspace PQ chains + distance tables at the ADC scale, and the
    cell-filtered summed lookup. Restates
    operators/similarity.py:ivf_pq_adc_topk bit-for-bit."""
    sub = d // m
    ctes, selects = [], []
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        ctes.append(f"""
    x{s} AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * {scale}.0) AS BIGINT)
              for v in embedding[{lo}:{hi}]] AS xf
      FROM embeddings
    ),
    c0_{s} AS (
      SELECT vec_id AS cluster, xf AS cf FROM x{s}
      ORDER BY vec_id LIMIT {k_codebook}
    ),
    d1_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c0_{s} c
    ),
    a1_{s} AS (
      SELECT vec_id, cluster, dist, xf FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1_{s}) WHERE rn = 1
    ),
    e1_{s} AS (SELECT cluster, unnest(xf) AS v,
                      generate_subscripts(xf, 1) AS dim
               FROM a1_{s}),
    cm1_{s} AS (SELECT cluster, dim,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS cv
                FROM e1_{s} GROUP BY cluster, dim),
    c1_{s} AS (SELECT cluster, list(cv ORDER BY dim) AS cf FROM cm1_{s}
               GROUP BY cluster),
    d2_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM x{s} x CROSS JOIN c1_{s} c
    ),
    a2_{s} AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2_{s}) WHERE rn = 1
    ),
    q{s} AS (
      SELECT vec_id AS q_id, xf AS qf FROM x{s} WHERE vec_id % {qmod} = 0
    ),
    dt{s} AS (
      SELECT q.q_id, c.cluster,
             CAST(list_sum([(q.qf[i]-c.cf[i])*(q.qf[i]-c.cf[i])
                            for i in generate_series(1, len(q.qf))])
                  AS BIGINT) AS qd
      FROM q{s} q CROSS JOIN c1_{s} c
    )""")
        selects.append(
            f"SELECT dt.q_id, a.vec_id, dt.qd "
            f"FROM a2_{s} a JOIN dt{s} dt ON a.cluster = dt.cluster "
            f"JOIN cellmap cm ON cm.vec_id = a.vec_id "
            f"JOIN probes p ON p.cell = cm.cell AND p.q_id = dt.q_id"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""WITH {_KMEANS_CTES},
    qc AS (
      SELECT vec_id AS q_id, xf AS qxf FROM x WHERE vec_id % {qmod} = 0
    ),
    pd AS (
      SELECT qc.q_id, c.cluster AS cell,
             CAST(list_sum([(qc.qxf[i]-c.cf[i])*(qc.qxf[i]-c.cf[i])
                            for i in generate_series(1, len(qc.qxf))])
                  AS BIGINT) AS qdist
      FROM qc CROSS JOIN c1 c
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY qdist, cell) AS rn
        FROM pd) WHERE rn <= {nprobe}
    ),
    cellmap AS (SELECT vec_id, cluster AS cell FROM a2),
    {",".join(ctes)},
    allp AS (
      {union}
    ),
    tot AS (
      SELECT q_id, vec_id, CAST(sum(qd) AS BIGINT) AS adc_dist
      FROM allp GROUP BY q_id, vec_id
    ),
    rr AS (
      SELECT q_id, vec_id, adc_dist,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY adc_dist, vec_id
             ) AS BIGINT) AS rank
      FROM tot
    )
    SELECT q_id, vec_id, adc_dist, rank FROM rr WHERE rank <= {k}
    ORDER BY q_id, rank"""


def _ivf_pq_residual_oracle(
    d: int = 64, m: int = 8, k_codebook: int = 16, k: int = 5,
    nprobe: int = 2, scale: int = 100_000,
    coarse_scale: int = 10_000_000, qmod: int = 97,
    qpred: str | None = None,
) -> str:
    """Generate the residual IVF-PQ oracle: the coarse chain
    (_KMEANS_CTES), the integer residual projection
    ``rf[i] = ((xf[i] - cf[i] + off) // ratio) - off//ratio`` (off
    shifts positive so DuckDB ``//`` == Spark ``div``), per-subspace
    PQ chains trained ON THE RESIDUAL SLICES, per-(query, probed
    cell) residual distance tables, and the cell-filtered lookup sum.
    Restates operators/similarity.py:ivf_pq_residual_topk
    bit-for-bit. ``qpred`` overrides the query-selection predicate
    (default: every ``qmod``-th vector) so composed oracles — the
    hybrid RRF fusion — can pick explicit query ids."""
    qpred = qpred or f"vec_id % {qmod} = 0"
    sub = d // m
    ratio = coarse_scale // scale
    off = 4 * coarse_scale
    off_r = off // ratio
    ctes, selects = [], []
    for s in range(m):
        lo, hi = s * sub + 1, s * sub + sub
        ctes.append(f"""
    xs{s} AS (
      SELECT vec_id, cell, rf[{lo}:{hi}] AS xf FROM xr
    ),
    c0_{s} AS (
      SELECT vec_id AS cluster, xf AS cf FROM xs{s}
      ORDER BY vec_id LIMIT {k_codebook}
    ),
    d1_{s} AS (
      SELECT x.vec_id, c.cluster, x.xf,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM xs{s} x CROSS JOIN c0_{s} c
    ),
    a1_{s} AS (
      SELECT vec_id, cluster, dist, xf FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d1_{s}) WHERE rn = 1
    ),
    e1_{s} AS (SELECT cluster, unnest(xf) AS v,
                      generate_subscripts(xf, 1) AS dim
               FROM a1_{s}),
    cm1_{s} AS (SELECT cluster, dim,
                       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
                            AS BIGINT) AS cv
                FROM e1_{s} GROUP BY cluster, dim),
    c1_{s} AS (SELECT cluster, list(cv ORDER BY dim) AS cf FROM cm1_{s}
               GROUP BY cluster),
    d2_{s} AS (
      SELECT x.vec_id, c.cluster,
             CAST(list_sum([(x.xf[i]-c.cf[i])*(x.xf[i]-c.cf[i])
                            for i in generate_series(1, len(x.xf))])
                  AS BIGINT) AS dist
      FROM xs{s} x CROSS JOIN c1_{s} c
    ),
    a2_{s} AS (
      SELECT vec_id, cluster FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cluster) AS rn
        FROM d2_{s}) WHERE rn = 1
    ),
    dt{s} AS (
      SELECT q.q_id, q.cell, c.cluster,
             CAST(list_sum([(q.qrf[{lo}:{hi}][i]-c.cf[i])
                            *(q.qrf[{lo}:{hi}][i]-c.cf[i])
                            for i in generate_series(1, {sub})])
                  AS BIGINT) AS qd
      FROM qr q CROSS JOIN c1_{s} c
    )""")
        selects.append(
            f"SELECT dt.q_id, a.vec_id, dt.qd "
            f"FROM a2_{s} a JOIN cellmap cm ON cm.vec_id = a.vec_id "
            f"JOIN dt{s} dt ON dt.cluster = a.cluster "
            f"AND dt.cell = cm.cell"
        )
    union = "\n      UNION ALL ".join(selects)
    return f"""WITH {_KMEANS_CTES},
    cellmap AS (SELECT vec_id, cluster AS cell FROM a2),
    xr AS (
      SELECT x.vec_id, cm.cell,
             [CAST(((x.xf[i] - c.cf[i] + {off}) // {ratio}) - {off_r}
                   AS BIGINT)
              for i in generate_series(1, len(x.xf))] AS rf
      FROM x JOIN cellmap cm USING (vec_id)
           JOIN c1 c ON c.cluster = cm.cell
    ),
    qc AS (
      SELECT vec_id AS q_id, xf AS qxf
      FROM x WHERE {qpred}
    ),
    pd AS (
      SELECT qc.q_id, c.cluster AS cell,
             CAST(list_sum([(qc.qxf[i]-c.cf[i])*(qc.qxf[i]-c.cf[i])
                            for i in generate_series(1, len(qc.qxf))])
                  AS BIGINT) AS qdist
      FROM qc CROSS JOIN c1 c
    ),
    probes AS (
      SELECT q_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY qdist, cell) AS rn
        FROM pd) WHERE rn <= {nprobe}
    ),
    qr AS (
      SELECT p.q_id, p.cell,
             [CAST(((qc.qxf[i] - c.cf[i] + {off}) // {ratio}) - {off_r}
                   AS BIGINT)
              for i in generate_series(1, len(qc.qxf))] AS qrf
      FROM probes p JOIN qc USING (q_id)
           JOIN c1 c ON c.cluster = p.cell
    ),
    {",".join(ctes)},
    allp AS (
      {union}
    ),
    tot AS (
      SELECT q_id, vec_id, CAST(sum(qd) AS BIGINT) AS adc_dist
      FROM allp GROUP BY q_id, vec_id
    ),
    rr AS (
      SELECT q_id, vec_id, adc_dist,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY adc_dist, vec_id
             ) AS BIGINT) AS rank
      FROM tot
    )
    SELECT q_id, vec_id, adc_dist, rank FROM rr WHERE rank <= {k}
    ORDER BY q_id, rank"""


@register("ann_ivf_pq_topk", oracle=_ivf_pq_oracle())
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS architecture, end to end: coarse IVF
    quantizer (8 cells, the family's shared fixed-point chain) prunes
    each query (every 97th vector) to its 2 nearest cells, then
    asymmetric PQ distance over 8x16 global codebooks ranks the probed
    cells' vectors — top-5 per query
    (operators/similarity.py:ivf_pq_adc_topk). Every layer is
    fixed-point int64, so the COMPOSITION hash-matches the generated
    oracle (coarse chain + probe ranks + 8 PQ chains + cell-filtered
    lookup sum): pruning-changes-results ANN, bit-reproducible. The
    persisted serving twin is ``write_ivf_pq_layout`` /
    ``ivf_pq_probe_topk``."""
    from ..operators.similarity import ivf_pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return ivf_pq_adc_topk(
        e, q, n_cells=8, nprobe=2, d=64, m=8, k_codebook=16, k=5, iters=2
    )


@register("ann_ivf_pq_residual_topk", oracle=_ivf_pq_residual_oracle())
def ann_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True FAISS IVFPQ, end to end: the same coarse quantizer and
    probe schedule as ``ann_ivf_pq_topk``, but the 8x16 codebooks are
    trained on integer RESIDUALS after coarse-centroid subtraction
    and ADC compares per-(query, probed-cell) query residuals — the
    residual encoding that closes the global-codebook simplification
    (operators/similarity.py:ivf_pq_residual_topk has the algebra and
    the engine-portable floor-requantization). Every layer is
    fixed-point, so even this approximate search hash-matches its
    generated oracle. Recall-vs-global comparison: SCALE.md.

    The in-query form self-contains codebook TRAINING (a registered
    query must be a pure function of (spark, sf_dir)); production
    serving is the persisted layout —
    sources/catalog.py:write_ivf_pq_residual_layout +
    operators/similarity.py:ivf_pq_residual_probe_topk — which pays
    the coarse chain, residual projection, and m codebooks once and
    then serves from cell-pruned code scans (probe ≡ this query
    row-for-row, tests/test_ivf_pq_residual_layout.py; amortization
    measured in SCALE.md)."""
    from ..operators.similarity import ivf_pq_residual_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    return ivf_pq_residual_topk(
        e, q, n_cells=8, nprobe=2, d=64, m=8, k_codebook=16, k=5, iters=2
    )


# ------------------------------------------------- hybrid retrieval


@register(
    "text_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS.format(c="text")}) AS word
      FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    corp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS t_tokens
      FROM dl
    ),
    q(q_id, term) AS (VALUES
      (CAST(1 AS BIGINT), 'spark'), (1, 'join'),
      (2, 'window'), (2, 'filter'), (2, 'sort'),
      (3, 'vector')),
    {_bm25_scored_cte("", "q")},
    lexr AS (
      SELECT q_id, doc_id,
             row_number() OVER (
               PARTITION BY q_id ORDER BY score_ppm DESC, doc_id
             ) AS rank
      FROM scored
    ),
    vecr AS (
      SELECT q_id, vec_id AS doc_id, rank
      FROM ({_ivf_pq_residual_oracle(k=10, qpred="vec_id IN (1, 2, 3)")})
    ),
    parts AS (
      SELECT q_id, doc_id, 1000000 // (60 + CAST(rank AS BIGINT)) AS part
      FROM lexr WHERE rank <= 10
      UNION ALL
      SELECT q_id, doc_id, 1000000 // (60 + CAST(rank AS BIGINT)) AS part
      FROM vecr
    ),
    fused AS (
      SELECT q_id, doc_id, CAST(sum(part) AS BIGINT) AS rrf_micro
      FROM parts GROUP BY q_id, doc_id
    ),
    rr AS (
      SELECT q_id, doc_id, rrf_micro,
             CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY rrf_micro DESC, doc_id
             ) AS BIGINT) AS rank
      FROM fused
    )
    SELECT q_id, doc_id, rrf_micro, rank FROM rr WHERE rank <= 10
    ORDER BY q_id, rank
    """,
)
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the modern RAG-serving default: the lexical
    BM25 ranking and the residual-IVF-PQ vector ranking for the same
    three queries, fused with reciprocal-rank fusion (r11 VERDICT
    missing #2: every piece existed, this composes them). The data
    model is the standard RAG layout where the document store and the
    vector store share the primary key (embeddings.vec_id ≡
    documents.doc_id, one vector per document); each query carries a
    text form (the BM25 terms) and an embedding form (the vector at
    its q_id). Both branches are exact fixed-point, so the fused
    ranking hash-matches the composed oracle (BM25 scoring CTE +
    the generated residual IVF-PQ chain + integer RRF).

    The in-query form self-contains index construction and codebook
    training (a registered query is a pure function of (spark,
    sf_dir)); production serving is the composed PROBE over two
    persisted layouts — operators/retrieval.py:hybrid_probe_topk
    fuses bm25_probe_index (text index, bucket-pruned postings scan,
    zero corpus tokenizes) with ivf_pq_residual_probe_topk (residual
    layout, cell-pruned codes scan, no embedding float read) — pinned
    ≡ this query row-for-row in tests/test_hybrid_retrieval.py.

    Scale shape: both branch outputs are top-k relations (k ×
    |queries| rows), so the fusion itself is config-scale; the
    corpus-sized work is exactly one postings build + one codes scan,
    each already pinned banded/broadcast-bounded in its own family."""
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import ivf_pq_residual_topk

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    q = spark.createDataFrame(_BM25_QUERIES, "q_id long, term string")
    qv = e.filter(F.col("vec_id").isin(1, 2, 3))
    lex = bm25_topk(d, q, k=10)
    vec = ivf_pq_residual_topk(
        e, qv, n_cells=8, nprobe=2, d=64, m=8, k_codebook=16, k=10, iters=2
    ).select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, vec], k=10).orderBy("q_id", "rank")


# --------------------------------------------- multimodal near-duplicates


def _phash_oracle(max_hamming: int = 3, tail: str | None = None) -> str:
    """Generate the perceptual-hash pair oracle: the fake text raster
    (codepoints tiling 32×32), the separable integer DCT with the
    SAME basis constants functions/phash.py computed at import
    (embedded here as literals — no libm on either engine), the
    63-AC-coefficient median threshold, the 4×16-bit band self-join,
    and the exact bit_count verify. Mechanical restatement of
    phash_media(fake=True) → banded_hamming_pairs. ``tail`` swaps the
    final pair SELECT for a consumer query over a ``pairs`` CTE (the
    cluster-closure device — pass RECURSIVE-safe SQL)."""
    from ..functions.phash import PHASH_BASIS

    blit = "[" + ", ".join(str(int(v)) for v in PHASH_BASIS.reshape(-1)) + "]"
    _tail = tail if tail is not None else f"""
    SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {max_hamming}"""
    return f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, length(text) AS n
      FROM documents WHERE length(text) > 0 AND doc_id % 97 = 0
    ),
    g AS (
      SELECT doc_id,
             [CAST(ascii(substring(text, (i % n) + 1, 1)) AS BIGINT)
              for i in generate_series(0, 1023)] AS g
      FROM d
    ),
    cells AS (
      SELECT doc_id, i, g[i + 1] AS v
      FROM g, UNNEST(generate_series(0, 1023)) AS t(i)
    ),
    bas AS (SELECT {blit} AS b),
    b1 AS (
      SELECT u, r, b[u * 32 + r + 1] AS w
      FROM bas, UNNEST(generate_series(0, 7)) AS tu(u),
           UNNEST(generate_series(0, 31)) AS tr(r)
    ),
    c1 AS (
      SELECT c.doc_id, b1.u, c.i % 32 AS col,
             CAST(sum(c.v * b1.w) AS BIGINT) AS s
      FROM cells c JOIN b1 ON b1.r = c.i // 32
      GROUP BY c.doc_id, b1.u, c.i % 32
    ),
    c2 AS (
      SELECT c1.doc_id, c1.u, b2.u AS v,
             CAST(sum(c1.s * b2.w) AS BIGINT) AS coef
      FROM c1 JOIN b1 b2 ON b2.r = c1.col
      GROUP BY c1.doc_id, c1.u, b2.u
    ),
    ac AS (
      SELECT doc_id, u * 8 + v - 1 AS p, coef
      FROM c2 WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (
      SELECT doc_id, coef AS med FROM (
        SELECT doc_id, coef,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY coef, p
               ) AS rn
        FROM ac) WHERE rn = 32
    ),
    h AS (
      SELECT ac.doc_id,
             CAST(sum(CASE WHEN ac.coef > med.med
                           THEN (CAST(1 AS BIGINT) << ac.p)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM ac JOIN med USING (doc_id) GROUP BY ac.doc_id
    ),
    bands AS (
      SELECT doc_id, phash, b AS band,
             (phash >> (16 * b)) & 65535 AS val
      FROM h, UNNEST(generate_series(0, 3)) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b,
             a.phash AS ha, c.phash AS hb
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.val = c.val AND a.doc_id < c.doc_id
    )
    {_tail}
    """


@register("dedup_phash_pairs", oracle=_phash_oracle())
def dedup_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL near-duplicate detection (r11 VERDICT item 6): a
    DCT perceptual hash per media payload (functions/phash.py — the
    classic 32×32 → 8×8-DCT → median-bit pHash, in exact integer
    arithmetic) feeding the factored Manku band self-join
    (operators/dedup.py:banded_hamming_pairs) — image dedup with the
    same scale shape as the text simhash family: candidates from
    (band, value) equality joins over 4×65536 buckets, exact
    bit_count verification, never an all-pairs Hamming scan.

    This registered form runs the ORACLE-form fake raster (the
    multimodal family's deterministic text-codepoint stand-in —
    DuckDB replicates the integer DCT from the same embedded basis
    constants, so the whole pipeline hash-matches), over the corpus
    PLUS a re-keyed copy of every 97th payload — simulated exact
    re-encodes, planted IN-QUERY because the synthetic corpus has no
    byte-identical payloads and a structurally-empty pair relation
    would verify nothing: each planted copy must surface against its
    original at hamming 0, so the driver row exercises hash, banding,
    collision, and verification end to end. The fake=False path is
    the REAL decode — PNG → BT.601 integer luma → nearest 32×32
    resample → the SAME DCT kernel — pinned in tests/test_phash.py:
    exact re-encodes collide (rotation/resize-free), distinct images
    stay far, and the banded pairs equal a brute-force Hamming sweep.

    Scale shape: one Arrow-batched map projects each payload to 8
    hash bytes; everything downstream moves hashes only. Exact dups
    surface at hamming 0; near-dup recall is guaranteed through
    hamming ≤ 3 by pigeonhole."""
    from ..operators.dedup import banded_hamming_pairs
    from ..operators.multimodal import attach_binary, phash_media

    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    base = d.select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    corpus = base.unionByName(planted)
    hashes = phash_media(
        attach_binary(corpus, "doc_id", "text"), fake=True
    )
    return banded_hamming_pairs(hashes, max_hamming=3)


# ------------------------------------------------- sorted-neighborhood dedup

# the shared SNM CTE: rank within block by the 24-char raw text prefix
# (id tiebreak), pair each doc with its next 5 sort-neighbours. Must
# stay textually parallel to operators/dedup.py:
# sorted_neighborhood_candidates (window=5, key_chars=24). ASCII
# binary collation orders identically in both engines over the corpus
# domain, so rank — and with it the candidate SET — is hash-exact.
_SNM_CAND_CTES = """
    ranked AS (
      SELECT doc_id, source AS block, text,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(text, 1, 24), doc_id) AS rk
      FROM documents
    ),
    cand AS (
      SELECT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
             a.text AS text_a, b.text AS text_b
      FROM ranked a JOIN ranked b
        ON a.block = b.block AND b.rk > a.rk AND b.rk <= a.rk + 5
    )"""


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH {_SNM_CAND_CTES},
    sha AS (
      SELECT block, doc_id_a, doc_id_b, rank_gap,
             (SELECT {_shingle_sql(2)} FROM (SELECT {_TOKS.format(c="text_a")} AS t)) AS sh_a,
             (SELECT {_shingle_sql(2)} FROM (SELECT {_TOKS.format(c="text_b")} AS t)) AS sh_b
      FROM cand
    ),
    ver AS (
      SELECT block, doc_id_a, doc_id_b, rank_gap,
             len(list_intersect(sh_a, sh_b)) AS i,
             len(sh_a) AS la, len(sh_b) AS lb
      FROM sha
    )
    SELECT block, doc_id_a, doc_id_b, rank_gap,
           i::DOUBLE / (la + lb - i) AS jaccard
    FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.05
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo 1995): rank docs
    in each ``source`` block by a 24-char text-prefix sort key, pair
    each doc with its next 5 sort-neighbours, verify candidates by
    exact bigram Jaccard. The THIRD blocking strategy in the dedup
    family — LSH blocks by signature collision (probabilistic recall,
    any-distance), the posting-list join blocks by shared gram
    (exact, df-bounded fan-out), SNM blocks by SORT ADJACENCY: linear
    ``n x window`` candidates with recall concentrated on
    prefix-aligned near-dups — the cheapest pass when duplicates share
    openings (boilerplate headers, templated docs, re-crawls), and the
    classic first stage of record linkage. Scale shape: one shuffle on
    the block key + in-partition sort for the rank, one equi-join on
    (block, rank) for the pairing — a skewed block is split by
    promoting sort-key prefix into the block key (multi-pass SNM)."""
    from ..operators.dedup import sorted_neighborhood_pairs

    d = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        d, "doc_id", "text", "source", window=5, key_chars=24,
        n=2, threshold=0.05,
    )


@register(
    "dedup_edit_distance_pairs",
    oracle=f"""
    WITH {_SNM_CAND_CTES}
    SELECT block, doc_id_a, doc_id_b, rank_gap,
           CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_distance
    FROM cand WHERE levenshtein(text_a, text_b) <= 48
    """,
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy pairs: the same SNM candidate relation as
    ``dedup_sorted_neighborhood``, verified by exact Levenshtein
    distance (≤ 48 over ~128-char docs) instead of token-set Jaccard —
    the right verify for OCR noise, typos, and truncations that
    re-order no tokens but corrupt characters, which Jaccard
    under-scores. ``F.levenshtein`` is JVM-side and integer-exact on
    both engines (parity verified incl. empty / transposition edges),
    so the row is hash-stable with no float anywhere. O(len²) per
    candidate is affordable precisely because SNM caps candidates at
    ``n_docs x window`` — the device that makes edit distance, the
    most expensive verify in the family, usable at corpus scale."""
    from ..operators.dedup import sorted_neighborhood_edit_pairs

    d = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_edit_pairs(
        d, "doc_id", "text", "source", window=5, key_chars=24,
        max_distance=48,
    )


@register(
    "dedup_link_prediction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    jpairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.05
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
      UNION
      SELECT doc_id_b, doc_id_a FROM jpairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    cn AS (
      SELECT e1.dst AS a, e2.dst AS b,
             CAST(count(*) AS BIGINT) AS common_neighbors
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst
    ),
    nonadj AS (
      SELECT cn.a, cn.b, cn.common_neighbors FROM cn
      LEFT JOIN edges e ON e.src = cn.a AND e.dst = cn.b
      WHERE e.src IS NULL
    )
    SELECT n.a AS doc_id_a, n.b AS doc_id_b, n.common_neighbors,
           da.deg AS deg_a, db.deg AS deg_b,
           n.common_neighbors::DOUBLE
             / (da.deg + db.deg - n.common_neighbors) AS neighbor_jaccard
    FROM nonadj n
    JOIN deg da ON da.src = n.a
    JOIN deg db ON db.src = n.b
    """,
)
def dedup_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-edge prediction over the similarity-evidence graph
    (operators/graph.py:link_prediction): non-adjacent pairs ranked by
    common-neighbor count and neighbor-set Jaccard. The edge relation
    is the LOW-threshold bigram-Jaccard graph (``dedup_ngram_pairs``'s
    0.05 evidence edges) — deliberately non-transitive, unlike the
    0.3-verified LSH graph whose components are cliques by
    construction (predictions there are structurally empty, checked):
    A-B and B-C clearing weak evidence with A-C missed is exactly the
    transitive near-dup a pairwise threshold drops, and re-verifying
    the top predicted pairs is the cheap recall patch (contrast
    lowering the corpus-wide threshold, which re-verifies everything).
    The graph family's FORWARD primitive: pagerank ranks nodes,
    triangles/k-core measure cohesion, this one proposes edges — also
    the "related documents" suggestion primitive. Wedge join Σ deg²
    over the evidence graph (block- and threshold-bounded degree),
    anti-join adjacency rejection, one final integer division per
    row."""
    from ..operators.graph import link_prediction

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    ).select("doc_id_a", "doc_id_b")
    return link_prediction(pairs)


_LINK_CAP_D = 40


@register(
    "dedup_hub_cap_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    jpairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.05
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
      UNION
      SELECT doc_id_b, doc_id_a FROM jpairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(COALESCE(sum(deg), 0) // 2 AS BIGINT) AS n_edges,
           CAST(COALESCE(sum(CASE WHEN deg > {_LINK_CAP_D} THEN 1
                                  ELSE 0 END), 0) AS BIGINT)
             AS capped_hinges,
           CAST(COALESCE(sum(CASE WHEN deg > {_LINK_CAP_D}
                                  THEN deg * (deg - 1) // 2
                                  ELSE 0 END), 0) AS BIGINT)
             AS wedges_avoided
    FROM deg
    """,
)
def dedup_hub_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-vertex cap's accounting relation
    (operators/graph.py:hub_cap_report) over the same evidence graph
    ``dedup_link_prediction_capped`` prunes: how many hinges the
    cap silenced and how many wedge rows that avoided (Σ_{{deg>D}}
    C(deg,2) — the exact candidate volume the capped query did not
    enumerate). A bound that silently drops evidence must REPORT what
    it dropped (the stop-gram cap's honesty contract, restated on
    vertices); monitoring this row across corpus growth is how an
    operator notices a mirror farm arriving BEFORE it becomes a
    wedge-join regression. Pure degree-relation aggregates — no join
    beyond the pair generation itself."""
    from ..operators.graph import hub_cap_report

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    ).select("doc_id_a", "doc_id_b")
    return hub_cap_report(pairs, max_degree=_LINK_CAP_D)


@register(
    "dedup_link_prediction_capped",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    jpairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.05
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
      UNION
      SELECT doc_id_b, doc_id_a FROM jpairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    hinge_edges AS (
      SELECT e.src, e.dst FROM edges e
      JOIN deg d ON d.src = e.src
      WHERE d.deg <= {_LINK_CAP_D}
    ),
    cn AS (
      SELECT e1.dst AS a, e2.dst AS b,
             CAST(count(*) AS BIGINT) AS common_neighbors
      FROM hinge_edges e1 JOIN hinge_edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst
    ),
    nonadj AS (
      SELECT cn.a, cn.b, cn.common_neighbors FROM cn
      LEFT JOIN edges e ON e.src = cn.a AND e.dst = cn.b
      WHERE e.src IS NULL
    )
    SELECT n.a AS doc_id_a, n.b AS doc_id_b, n.common_neighbors,
           da.deg AS deg_a, db.deg AS deg_b,
           n.common_neighbors::DOUBLE
             / (da.deg + db.deg - n.common_neighbors) AS neighbor_jaccard
    FROM nonadj n
    JOIN deg da ON da.src = n.a
    JOIN deg db ON db.src = n.b
    """,
)
def dedup_link_prediction_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_link_prediction`` with the stop-vertex cap engaged
    (``max_degree=40``): hinges whose evidence-graph degree exceeds
    the cap contribute NO wedges — on a mirror-farm / boilerplate
    graph those hinges are exactly the Σ deg² skew bombs, and the
    evidence routed through them (a hub "connects" everything it
    mirrors) carries no discriminating signal, the stop-gram cap's
    argument restated on vertices. Common-neighbor counts are
    therefore computed over the ≤D-degree hinge subgraph while
    deg_a/deg_b still report TRUE degrees — the oracle restates the
    cap as a hinge-side degree filter, so capped semantics (not just
    the uncapped twin) are hash-verified. The accounting companion is
    ``hub_cap_report`` (tested + skew-benched); at 100 TB the capped
    form is the DEFAULT posture, the uncapped twin the small-graph
    diagnostic."""
    from ..operators.graph import link_prediction

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    ).select("doc_id_a", "doc_id_b")
    return link_prediction(pairs, max_degree=_LINK_CAP_D)


@register(
    "dedup_link_prediction_ra",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    jpairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.05
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
      UNION
      SELECT doc_id_b, doc_id_a FROM jpairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    cn AS (
      SELECT e1.dst AS a, e2.dst AS b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_ppm
      FROM edges e1
      JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN deg d ON d.src = e1.src
      GROUP BY e1.dst, e2.dst
    ),
    nonadj AS (
      SELECT cn.a, cn.b, cn.common_neighbors, cn.ra_ppm FROM cn
      LEFT JOIN edges e ON e.src = cn.a AND e.dst = cn.b
      WHERE e.src IS NULL
    )
    SELECT n.a AS doc_id_a, n.b AS doc_id_b, n.common_neighbors, n.ra_ppm,
           da.deg AS deg_a, db.deg AS deg_b
    FROM nonadj n
    JOIN deg da ON da.src = n.a
    JOIN deg db ON db.src = n.b
    """,
)
def dedup_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link scores
    (operators/graph.py:link_prediction_ra) over the same evidence
    graph as ``dedup_link_prediction``: common neighbors weighted
    1/deg(z) in exact ppm integers, so boilerplate hubs contribute
    ~nothing to the evidence while rare shared neighbors dominate —
    the Zhou-Lü-Zhang index that typically outranks raw
    common-neighbor counts, and the integer-exact alternative to
    Adamic-Adar (whose libm log has no place in a hash-checked
    path). Ranking by ra_ppm instead of neighbor_jaccard changes
    which transitive-miss pairs get re-verified FIRST under a fixed
    re-verify budget — exactly the decision this family exists to
    make."""
    from ..operators.graph import link_prediction_ra

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    ).select("doc_id_a", "doc_id_b")
    return link_prediction_ra(pairs)


# --------------------------------------------------------------- TextRank


def _word_pagerank_step_sql(prev: str, cur: str) -> str:
    """One unrolled PageRank round over the WORD graph (node set =
    ``wnodes``; otherwise textually parallel to _pagerank_step_sql /
    operators/graph.py:pagerank — exact ppm integer recurrence)."""
    return f"""
    {cur} AS (
      SELECT n.word AS node,
             CAST(150000 + (850000 * COALESCE(s.c, 0)) // 1000000
                  AS BIGINT) AS pr
      FROM wnodes n LEFT JOIN (
        SELECT ew.dst AS node, CAST(sum(p.pr // ew.deg) AS BIGINT) AS c
        FROM {prev} p JOIN ew ON ew.src = p.node GROUP BY ew.dst) s
      ON s.node = n.word)"""


_WORD_PAGERANK_STEPS = ",".join(
    _word_pagerank_step_sql(f"pr{i}", f"pr{i + 1}") for i in range(4)
)


@register(
    "text_textrank_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT {_TOKS.format(c=_ASCII_LOWER)} AS t FROM documents
    ),
    wnodes AS (SELECT DISTINCT unnest(t) AS word FROM toks),
    bg AS (
      SELECT unnest([{{'w1': t[i], 'w2': t[i+1]}}
                     for i in generate_series(1, len(t) - 1)]) AS z
      FROM toks WHERE len(t) >= 2
    ),
    edges0 AS (
      SELECT DISTINCT least(z.w1, z.w2) AS w1, greatest(z.w1, z.w2) AS w2
      FROM bg WHERE z.w1 <> z.w2
    ),
    edges AS (
      SELECT w1 AS src, w2 AS dst FROM edges0
      UNION
      SELECT w2, w1 FROM edges0
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    ew AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
    pr0 AS (
      SELECT word AS node, CAST(1000000 AS BIGINT) AS pr FROM wnodes
    ),
    {_WORD_PAGERANK_STEPS}
    SELECT n.word, pr4.pr AS pagerank_ppm,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree
    FROM wnodes n
    JOIN pr4 ON pr4.node = n.word
    LEFT JOIN deg ON deg.src = n.word
    ORDER BY pagerank_ppm DESC, word
    LIMIT 30
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    centrality over the word CO-OCCURRENCE graph — nodes are distinct
    corpus words, edges are distinct unordered ADJACENT-word pairs,
    top-30 words by stationary rank. The graph-centrality complement
    to the family's two frequency-based extractors: RAKE scores
    degree/frequency inside stopword-delimited phrases, PMI lift finds
    surprising PAIRS, TextRank finds the words the co-occurrence
    structure keeps routing through (high-centrality hubs), which
    picks up connective topic words that raw frequency over- and
    rarity under-weights.

    Entirely a composition of existing kernels: the bigram shifted-
    slice device (``text_collocations_pmi``) builds the edge relation
    in one corpus pass, and ``operators/graph.py:pagerank`` — the SAME
    exact-ppm integer iteration the dedup graph uses, node type string
    instead of long — runs 4 unrolled rounds, so the whole query
    hash-matches its unrolled-CTE oracle. Scale shape inherits from
    both: edge build is one (w1,w2) count shuffle; each rank round is
    one vocabulary-sized join + groupBy (vocabulary ≪ corpus, the
    regime where pagerank state is trivially small); top-30 is
    TakeOrderedAndProject. ascii_lower per the hash-path casing
    doctrine."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens(ascii_lower(F.col("text"))).alias("t"))
    words = toks.select(F.explode("t").alias("word")).distinct()
    n = F.size("t")
    bg = (
        toks.filter(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n - 1).alias("w1"),
                    F.slice("t", 2, n - 1).alias("w2"),
                )
            ).alias("z")
        )
        .select(F.col("z.w1").alias("a"), F.col("z.w2").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("w1"), F.greatest("a", "b").alias("w2")
        )
        .distinct()
    )
    pr = pagerank(bg, words, id_col="word", a_col="w1", b_col="w2", iters=4)
    return pr.orderBy(
        F.col("pagerank_ppm").desc(), "word"
    ).limit(30)


@register(
    "dedup_video_frame_pairs",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE length(text) > 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE length(text) > 0 AND doc_id % 97 = 0
      UNION ALL
      SELECT doc_id + 2000000, 'x' || substring(text, 2) FROM documents
      WHERE length(text) > 0 AND doc_id % 89 = 0
    ),
    m AS (
      SELECT doc_id, text, length(text) AS n_chars,
             greatest(1, least(4, length(text) // 100)) AS n_frames
      FROM corpus
    ),
    posts AS (
      SELECT DISTINCT doc_id,
             md5(substring(text, (i * n_chars) // n_frames + 1,
                           n_chars // n_frames)) AS fp
      FROM m, UNNEST(range(n_frames)) AS t(i)
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
      FROM posts GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM posts a JOIN posts b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.doc_id_a, s.doc_id_b, s.shared,
           sa.sz AS size_a, sb.sz AS size_b,
           s.shared::DOUBLE / (sa.sz + sb.sz - s.shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_id_a
    JOIN sizes sb ON sb.doc_id = s.doc_id_b
    WHERE s.shared::DOUBLE / (sa.sz + sb.sz - s.shared) >= 0.5
    """,
)
def dedup_video_frame_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection: sampled-frame fingerprint sets
    compared by exact Jaccard — the sequence modality joining the
    image/audio pHash family. A video's fingerprint is the DISTINCT
    hash set of its evenly-sampled frames
    (operators/multimodal.py:sample_frames — the oracle-form
    deterministic slice fake; fake=False is the real per-frame
    decode), and two videos near-dup when most sampled frames
    collide: robust to re-keying/container changes (all frames equal,
    jaccard 1.0) and to localized edits — a watermark/intro touching
    one sampled frame of four still scores 3/5 — while unrelated
    videos share nothing. The tail is the modality-agnostic
    posting-list join (operators/dedup.py:
    fingerprint_set_jaccard_pairs): shuffles key on the frame hash,
    never the payload; fan-out df(frame)²-bounded.

    Like ``dedup_phash_pairs``, duplicates are planted IN-QUERY (the
    synthetic corpus has no byte-identical media): a re-keyed exact
    copy of every 97th doc must surface at jaccard 1.0, and a
    first-char-mutated copy of every 89th doc exercises the PARTIAL
    overlap path — frame 0 diverges, later frames survive, so
    multi-frame docs pair at (n-1)/(n+1) and single-frame docs
    correctly do not pair. Threshold 0.5 keeps both planted classes
    and rejects coincidental single-frame collisions."""
    from ..operators.dedup import fingerprint_set_jaccard_pairs
    from ..operators.multimodal import attach_binary, sample_frames

    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    base = d.select("doc_id", "text")
    exact = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    mutated = base.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = base.unionByName(exact).unionByName(mutated)
    frames = sample_frames(
        attach_binary(corpus, "doc_id", "text"), fake=True
    )
    return fingerprint_set_jaccard_pairs(
        frames, id_col="doc_id", fp_col="frame_md5", threshold=0.5
    )


@register(
    "dedup_video_frame_pairs_capped",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE length(text) > 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE length(text) > 0 AND doc_id % 97 = 0
      UNION ALL
      SELECT doc_id + 2000000, 'x' || substring(text, 2) FROM documents
      WHERE length(text) > 0 AND doc_id % 89 = 0
    ),
    m AS (
      SELECT doc_id, text, length(text) AS n_chars,
             greatest(1, least(4, length(text) // 100)) AS n_frames
      FROM corpus
    ),
    posts AS (
      SELECT DISTINCT doc_id,
             md5(substring(text, (i * n_chars) // n_frames + 1,
                           n_chars // n_frames)) AS fp
      FROM m, UNNEST(range(n_frames)) AS t(i)
      UNION
      SELECT doc_id, md5('__ubiquitous_intro_frame__') AS fp
      FROM corpus WHERE doc_id % 2 = 0
    ),
    dfreq AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS df FROM posts GROUP BY fp
    ),
    cold AS (
      SELECT p.doc_id, p.fp FROM posts p
      JOIN dfreq d ON d.fp = p.fp WHERE d.df <= 50
    ),
    found AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
      FROM posts GROUP BY doc_id
    ),
    shared AS (
      SELECT f.doc_id_a, f.doc_id_b, CAST(count(*) AS BIGINT) AS shared
      FROM found f
      JOIN posts a ON a.doc_id = f.doc_id_a
      JOIN posts b ON b.doc_id = f.doc_id_b AND b.fp = a.fp
      GROUP BY 1, 2
    )
    SELECT s.doc_id_a, s.doc_id_b, s.shared,
           sa.sz AS size_a, sb.sz AS size_b,
           s.shared::DOUBLE / (sa.sz + sb.sz - s.shared) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_id_a
    JOIN sizes sb ON sb.doc_id = s.doc_id_b
    WHERE s.shared::DOUBLE / (sa.sz + sb.sz - s.shared) >= 0.5
    """,
)
def dedup_video_frame_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_video_frame_pairs`` under planted BOILERPLATE MEDIA —
    a ubiquitous intro frame appended to half the corpus (the black
    frame / network logo / silence chunk every real media corpus
    carries) — with the stop-fingerprint cap engaged
    (operators/dedup.py:fingerprint_set_jaccard_pairs_capped,
    max_doc_freq=50): the ubiquitous frame generates NO candidates
    (uncapped it alone is (n/2)² pair rows — the quadratic media skew
    bomb), but every pair found through a cold shared frame is scored
    EXACTLY over ALL its shared frames including the hot one (the
    oracle restates the semantics declaratively: pairs sharing ≥1
    sub-cap fingerprint, full-set jaccard). The planted exact copies
    stay at 1.0 and the mutated copies keep their (n-1)-of-(n+1)
    partial scores, both with the ubiquitous frame correctly counted
    in sizes and intersections — skew insurance with zero scoring
    approximation, measured flat in ``7f66565:tools/bench_frame_skew.py``."""
    from ..operators.dedup import fingerprint_set_jaccard_pairs_capped
    from ..operators.multimodal import attach_binary, sample_frames

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = d.select("doc_id", "text")
    exact = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    mutated = base.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = base.unionByName(exact).unionByName(mutated)
    frames = sample_frames(
        attach_binary(corpus, "doc_id", "text"), fake=True
    ).select("doc_id", F.col("frame_md5").alias("fp"))
    ubiq = corpus.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.md5(F.lit("__ubiquitous_intro_frame__")).alias("fp")
    )
    return fingerprint_set_jaccard_pairs_capped(
        frames.unionByName(ubiq),
        id_col="doc_id",
        fp_col="fp",
        threshold=0.5,
        max_doc_freq=50,
    )


@register(
    "dedup_frame_cap_report",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE length(text) > 0
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE length(text) > 0 AND doc_id % 97 = 0
      UNION ALL
      SELECT doc_id + 2000000, 'x' || substring(text, 2) FROM documents
      WHERE length(text) > 0 AND doc_id % 89 = 0
    ),
    m AS (
      SELECT doc_id, text, length(text) AS n_chars,
             greatest(1, least(4, length(text) // 100)) AS n_frames
      FROM corpus
    ),
    posts AS (
      SELECT DISTINCT doc_id,
             md5(substring(text, (i * n_chars) // n_frames + 1,
                           n_chars // n_frames)) AS fp
      FROM m, UNNEST(range(n_frames)) AS t(i)
      UNION
      SELECT doc_id, md5('__ubiquitous_intro_frame__') AS fp
      FROM corpus WHERE doc_id % 2 = 0
    ),
    dfreq AS (
      SELECT fp, CAST(count(*) AS BIGINT) AS df FROM posts GROUP BY fp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(coalesce(sum(df), 0) AS BIGINT) AS n_postings,
           CAST(coalesce(sum(CASE WHEN df > 50 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hot_fingerprints,
           CAST(coalesce(sum(CASE WHEN df > 50 THEN df ELSE 0 END), 0)
                AS BIGINT) AS hot_posting_volume,
           CAST(coalesce(sum(CASE WHEN df > 50 THEN df * (df - 1) // 2
                              ELSE 0 END), 0)
                AS BIGINT) AS candidates_avoided
    FROM dfreq
    """,
)
def dedup_frame_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting companion to ``dedup_video_frame_pairs_capped`` —
    the stop-fingerprint cap's honesty row (ADVICE r13, mirroring
    ``dedup_hub_cap_report``): over the SAME posting relation (frame
    fingerprints + the planted ubiquitous intro frame on half the
    corpus), report how much candidate evidence the df>50 cap
    silenced — (n_fingerprints, n_postings, n_hot_fingerprints,
    hot_posting_volume, candidates_avoided = Σ_{df>cap} C(df, 2)).
    With the planted boilerplate frame at df ≈ |corpus|/2, the
    avoided-candidates count IS the quadratic media skew bomb the cap
    defuses, now observable as data instead of inferred from the
    bench. All integer aggregates off the fingerprint-sized df
    relation (operators/dedup.py:fingerprint_cap_report)."""
    from ..operators.dedup import fingerprint_cap_report
    from ..operators.multimodal import attach_binary, sample_frames

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = d.select("doc_id", "text")
    exact = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    mutated = base.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
        F.concat(F.lit("x"), F.expr("substring(text, 2)")).alias("text"),
    )
    corpus = base.unionByName(exact).unionByName(mutated)
    frames = sample_frames(
        attach_binary(corpus, "doc_id", "text"), fake=True
    ).select("doc_id", F.col("frame_md5").alias("fp"))
    ubiq = corpus.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.md5(F.lit("__ubiquitous_intro_frame__")).alias("fp")
    )
    return fingerprint_cap_report(
        frames.unionByName(ubiq),
        id_col="doc_id",
        fp_col="fp",
        max_doc_freq=50,
    )


@register(
    "dedup_image_in_video",
    oracle="""
    WITH m AS (
      SELECT doc_id, text, length(text) AS n_chars,
             greatest(1, least(4, length(text) // 100)) AS n_frames
      FROM documents WHERE length(text) > 0
    ),
    posts AS (
      SELECT DISTINCT doc_id,
             md5(substring(text, (i * n_chars) // n_frames + 1,
                           n_chars // n_frames)) AS fp
      FROM m, UNNEST(range(n_frames)) AS t(i)
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
      FROM posts GROUP BY doc_id
    ),
    pr AS (
      SELECT doc_id + 1000000 AS probe_id,
             md5(substring(text, 1, n_chars // n_frames)) AS fp
      FROM m WHERE doc_id % 97 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS probe_id,
             md5('x' || substring(substring(text, 1, n_chars // n_frames),
                                  2)) AS fp
      FROM m WHERE doc_id % 89 = 0
    ),
    pp AS (SELECT DISTINCT probe_id, fp FROM pr),
    psz AS (
      SELECT probe_id, CAST(count(*) AS BIGINT) AS size_b
      FROM pp GROUP BY probe_id
    ),
    shared AS (
      SELECT p.doc_id, q.probe_id, CAST(count(*) AS BIGINT) AS shared
      FROM posts p JOIN pp q ON p.fp = q.fp
      GROUP BY 1, 2
    )
    SELECT s.doc_id, s.probe_id, s.shared, sa.sz AS size_a, psz.size_b,
           s.shared::DOUBLE / psz.size_b AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_id
    JOIN psz ON psz.probe_id = s.probe_id
    WHERE s.shared::DOUBLE / psz.size_b >= 1.0
    """,
)
def dedup_image_in_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-modality containment (r12 VERDICT ask #6): is this IMAGE
    a frame of an indexed VIDEO? The video side is the sampled-frame
    fingerprint posting relation (``dedup_video_frame_pairs``'s front
    half); the image side goes through the real image plumbing —
    attach_binary payloads, Arrow ``mapInPandas`` feature extraction
    (operators/multimodal.py:extract_features), whose content
    fingerprint is BY CONSTRUCTION the same hash family the frame
    sampler emits — and the join is
    ``fingerprint_containment_pairs``: shared/|probe| instead of
    Jaccard, so a single-frame image inside a four-frame video scores
    1.0 instead of a diluted 1/4. Probes are planted in-query: every
    97th doc's FIRST frame slice becomes an image payload (must be
    found contained in its source video — and in any video sharing
    that frame), and every 89th doc contributes a first-char-mutated
    slice (the negative control: must NOT be contained). The
    persisted serving twin probes the frame-fingerprint index
    bucket-pruned (``frame_probe_pairs(metric="containment")``,
    pinned ≡ this relation's join in tests/test_frame_index.py).
    Scale shape: posting equi-join keyed on the fingerprint, fan-out
    Σ df·df_probe, nothing collected."""
    from ..operators.dedup import fingerprint_containment_pairs
    from ..operators.multimodal import (
        attach_binary,
        decode_features,
        sample_frames,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    frames = sample_frames(
        attach_binary(d.select("doc_id", "text"), "doc_id", "text"),
        fake=True,
    )
    m = d.select(
        "doc_id",
        "text",
        F.expr(
            "greatest(1, least(4, length(text) div 100))"
        ).alias("n_frames"),
    )
    first = m.select(
        "doc_id",
        F.expr(
            "substring(text, 1, length(text) div n_frames)"
        ).alias("img"),
    )
    probes = (
        first.filter(F.col("doc_id") % 97 == 0)
        .select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
            F.col("img").alias("text"),
        )
        .unionByName(
            first.filter(F.col("doc_id") % 89 == 0).select(
                (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
                F.concat(
                    F.lit("x"), F.expr("substring(img, 2)")
                ).alias("text"),
            )
        )
    )
    feats = decode_features(attach_binary(probes, "doc_id", "text"), fake=True)
    return fingerprint_containment_pairs(
        frames.select("doc_id", F.col("frame_md5").alias("fp")),
        feats.select(
            F.col("doc_id").alias("probe_id"),
            F.col("content_md5").alias("fp"),
        ),
        threshold=1.0,
    )


@register(
    "embedding_dbscan",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bucketed AS (
      SELECT vec_id, v, CAST({_bucket_sql(4)} AS BIGINT) AS bucket FROM e
    ),
    unit AS (
      SELECT vec_id, bucket,
             list_transform(v, x -> x / sqrt({_FOLD_DOT.format(a="v", b="v")}))
               AS u
      FROM bucketed
    ),
    eps_pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM unit a JOIN unit b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {_FOLD_DOT.format(a="a.u", b="b.u")} >= 0.3
    ),
    sym AS (
      SELECT va AS s, vb AS d FROM eps_pairs
      UNION ALL
      SELECT vb, va FROM eps_pairs
    ),
    deg AS (SELECT s, count(*) AS dg FROM sym GROUP BY s),
    core AS (SELECT s AS node FROM deg WHERE dg >= 3),
    core_edges AS (
      SELECT sym.s, sym.d FROM sym
      JOIN core c1 ON c1.node = sym.s
      JOIN core c2 ON c2.node = sym.d
    ),
    reach(node, label) AS (
      SELECT node, node FROM core
      UNION
      SELECT ce.d, r.label FROM reach r JOIN core_edges ce ON ce.s = r.node
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
    border AS (
      SELECT sym.s AS node, min(comp.cluster_id) AS cluster_id
      FROM sym
      JOIN comp ON comp.node = sym.d
      LEFT JOIN core ON core.node = sym.s
      WHERE core.node IS NULL
      GROUP BY sym.s
    )
    SELECT e.vec_id,
           CASE WHEN comp.node IS NOT NULL THEN 'core'
                WHEN border.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(comp.cluster_id, border.cluster_id, -1)
                AS BIGINT) AS cluster_id
    FROM e
    LEFT JOIN comp ON comp.node = e.vec_id
    LEFT JOIN border ON border.node = e.vec_id
    """,
)
def embedding_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering of the embedding table: DBSCAN with
    the sign-bucket blocked exact-cosine relation (the
    ``dedup_embedding_pairs`` join, cos ≥ 0.3) as the eps-neighbor
    graph and min_neighbors = 3 (operators/graph.py:dbscan_labels —
    core / border / noise roles, clusters labelled by core-component
    min id, noise at -1). The density complement to
    ``embedding_kmeans``: no preset k, irregular cluster shapes, and
    an explicit outlier label — the crawl-curation view that separates
    "dense semantic duplicate mass" (cores), "periphery" (borders),
    and "singletons" (noise) in one pass. The eps-graph uses the SAME
    bucketing the pair family rides (recall trade documented there);
    the oracle restates the clustering as a recursive min-label CTE
    over identically-bucketed pairs, so the hash compare is exact."""
    from ..operators.graph import dbscan_labels

    e = load_table(spark, sf_dir, "embeddings")
    pairs = _embedding_cosine_pairs(spark, sf_dir, threshold=0.3).select(
        "vec_id_a", "vec_id_b"
    )
    return dbscan_labels(
        pairs,
        e.select("vec_id"),
        id_col="vec_id",
        a_col="vec_id_a",
        b_col="vec_id_b",
        min_neighbors=3,
    )


# the two-pass SNM candidate CTEs (prefix + reversed-prefix keys,
# id-normalized union-distinct) — must stay textually parallel to
# operators/dedup.py:sorted_neighborhood_multipass_candidates; shared
# by the dedup_snm_multipass and dedup_match_scores oracles so a
# window/key change lands once (review finding)
_SNM_MULTIPASS_CAND_CTES = """
    r1 AS (
      SELECT doc_id, source AS block,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(text, 1, 24), doc_id) AS rk
      FROM documents
    ),
    r2 AS (
      SELECT doc_id, source AS block,
             row_number() OVER (
               PARTITION BY source
               ORDER BY substr(reverse(text), 1, 24), doc_id) AS rk
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT block, doc_id_a, doc_id_b FROM (
        SELECT a.block, least(a.doc_id, b.doc_id) AS doc_id_a,
               greatest(a.doc_id, b.doc_id) AS doc_id_b
        FROM r1 a JOIN r1 b
          ON a.block = b.block AND b.rk > a.rk AND b.rk <= a.rk + 5
        UNION ALL
        SELECT a.block, least(a.doc_id, b.doc_id),
               greatest(a.doc_id, b.doc_id)
        FROM r2 a JOIN r2 b
          ON a.block = b.block AND b.rk > a.rk AND b.rk <= a.rk + 5
      )
    )"""


@register(
    "dedup_snm_multipass",
    oracle=f"""
    WITH {_SNM_MULTIPASS_CAND_CTES},
    toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    ver AS (
      SELECT c.block, c.doc_id_a, c.doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb
      FROM cand c
      JOIN sh a ON a.block = c.block AND a.doc_id = c.doc_id_a
      JOIN sh b ON b.block = c.block AND b.doc_id = c.doc_id_b
    )
    SELECT block, doc_id_a, doc_id_b,
           i::DOUBLE / (la + lb - i) AS jaccard
    FROM ver WHERE i::DOUBLE / (la + lb - i) >= 0.05
    """,
)
def dedup_snm_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass sorted-neighborhood dedup (operators/dedup.py:
    sorted_neighborhood_multipass_pairs): prefix-sorted and
    REVERSED-prefix-sorted passes over the ``source`` blocks, unioned
    id-normalized candidates, one exact bigram-Jaccard verify. The
    completion of the SNM story ``dedup_sorted_neighborhood``
    introduces — single-key SNM misses near-dups whose difference
    lands in the sort key itself, and the canonical fix is more cheap
    passes, not a wider window (a wider window pays n·Δw everywhere;
    a second key pays only where it creates NEW adjacency). Scale
    shape identical per pass (block-partitioned rank window + rank
    equi-join); the union-distinct shuffles only id pairs."""
    from ..operators.dedup import sorted_neighborhood_multipass_pairs

    d = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_multipass_pairs(
        d, "doc_id", "text", "source", window=5, key_chars=24,
        n=2, threshold=0.05,
    )


@register(
    "text_spelling_correction",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS.format(c=_ASCII_LOWER)}) AS w FROM documents
    ),
    dict AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS corr_count
      FROM toks WHERE length(w) >= 3 GROUP BY w
    ),
    typos AS (
      SELECT DISTINCT substr(word, 1, 1) || substr(word, 3) AS typo
      FROM dict WHERE length(word) >= 4
    ),
    unseen AS (
      SELECT t.typo FROM typos t
      LEFT JOIN dict d ON d.word = t.typo WHERE d.word IS NULL
    ),
    dkeys AS (
      SELECT word, unnest([word] || [substr(word, 1, i - 1)
                                     || substr(word, i + 1, length(word))
                           for i in generate_series(1, length(word))]) AS k
      FROM dict
    ),
    tkeys AS (
      SELECT typo, unnest([typo] || [substr(typo, 1, i - 1)
                                     || substr(typo, i + 1, length(typo))
                           for i in generate_series(1, length(typo))]) AS k
      FROM unseen
    ),
    cand AS (
      SELECT DISTINCT t.typo, d.word
      FROM tkeys t JOIN dkeys d ON t.k = d.k
    ),
    ver AS (
      SELECT c.typo, c.word AS correction, dict.corr_count
      FROM cand c JOIN dict ON dict.word = c.word
      WHERE levenshtein(c.typo, c.word) = 1
    ),
    ranked AS (
      SELECT typo, correction, corr_count,
             row_number() OVER (
               PARTITION BY typo
               ORDER BY corr_count DESC, correction) AS rn
      FROM ver
    )
    SELECT typo, correction, corr_count FROM ranked WHERE rn = 1
    """,
)
def text_spelling_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling correction by the SymSpell DELETION-KEY join (Garbe's
    symmetric-delete device): every dictionary word and every unseen
    typo emits itself plus its |w| single-deletion variants; two
    strings within edit distance 1 are GUARANTEED to share a key
    (equal → identity key; insertion/deletion → one side's deletion
    hits the other; substitution → deleting the differing char from
    both collides), so candidate generation is a pure EQUI-JOIN over
    ~|w|+1 keys per word — linear in token volume — instead of the
    quadratic all-pairs distance scan, and the exact ``levenshtein``
    verify only runs on key-colliding candidates (it also discards
    the distance-2 pairs the key trick over-generates, e.g.
    transpositions). The correction picked per typo is the
    highest-count dictionary word (alphabetical tiebreak) — the
    unigram-evidence argmax.

    Typos are planted IN-QUERY (the phash-family precedent: the
    synthetic vocabulary — checked — contains no natural distance-1
    pairs, and an empty relation would verify nothing): each
    dictionary word of length ≥ 4 contributes its
    second-char-deleted mutation, filtered to mutations that are NOT
    themselves dictionary words, so every planted typo must be
    rediscovered by the deletion join, never by identity. Scale
    shape: both key relations shuffle on short string keys; the df of
    a deletion key is bounded by alphabet fan-in (a ubiquitous key
    would be the stop-gram regime — same cap device applies);
    the per-typo pick is a typo-partitioned window over verified
    candidates only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens(ascii_lower(F.col("text")))).alias("w")
    )
    dic = (
        toks.filter(F.length("w") >= 3)
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("corr_count"))
    ).localCheckpoint()
    typos = (
        dic.filter(F.length("word") >= 4)
        .select(
            F.concat(
                F.substring("word", 1, 1), F.expr("substring(word, 3)")
            ).alias("typo")
        )
        .distinct()
        .join(
            dic.select(F.col("word").alias("typo")), "typo", "left_anti"
        )
    )
    from ..operators.retrieval import symspell_corrections

    return symspell_corrections(typos, dic)


_SYMSPELL_D2_KEYS = """list_distinct(
      [{c}]
      || [substr({c}, 1, i - 1) || substr({c}, i + 1, length({c}))
          for i in generate_series(1, length({c}))]
      || flatten([[substr({c}, 1, i - 1)
                   || substr({c}, i + 1, j - i - 1)
                   || substr({c}, j + 1, length({c}))
          for j in generate_series(i + 1, length({c}))]
          for i in generate_series(1, length({c}) - 1)]))"""


@register(
    "text_spelling_correction_d2",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS.format(c=_ASCII_LOWER)}) AS w FROM documents
    ),
    dict AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS corr_count
      FROM toks WHERE length(w) >= 3 GROUP BY w
    ),
    typos AS (
      SELECT DISTINCT substr(word, 1, 1) || substr(word, 4) AS typo
      FROM dict WHERE length(word) >= 6
    ),
    unseen AS (
      SELECT t.typo FROM typos t
      LEFT JOIN dict d ON d.word = t.typo WHERE d.word IS NULL
    ),
    dkeys AS (
      SELECT word, unnest({_SYMSPELL_D2_KEYS.format(c="word")}) AS k
      FROM dict
    ),
    tkeys AS (
      SELECT typo, unnest({_SYMSPELL_D2_KEYS.format(c="typo")}) AS k
      FROM unseen
    ),
    cand AS (
      SELECT DISTINCT t.typo, d.word
      FROM tkeys t JOIN dkeys d ON t.k = d.k
    ),
    ver AS (
      SELECT c.typo, c.word AS correction, dict.corr_count
      FROM cand c JOIN dict ON dict.word = c.word
      WHERE levenshtein(c.typo, c.word) BETWEEN 1 AND 2
    ),
    ranked AS (
      SELECT typo, correction, corr_count,
             row_number() OVER (
               PARTITION BY typo
               ORDER BY corr_count DESC, correction) AS rn
      FROM ver
    )
    SELECT typo, correction, corr_count FROM ranked WHERE rn = 1
    """,
)
def text_spelling_correction_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell at the STANDARD configuration, max_edit_distance=2
    (Garbe's shipped default; r12 VERDICT ask #4): both sides emit
    their single- AND double-deletion variants (~len²/2 keys per word
    — bounded for dictionary-scale tokens), any pair within edit
    distance 2 is guaranteed a key collision, the exact
    ``levenshtein BETWEEN 1 AND 2`` verify discards over-generated
    collisions (deletion-key collision is necessary, not sufficient),
    and the same count-argmax tail picks the correction. Typos are
    planted in-query as DOUBLE mutations — chars 2-3 deleted from
    each length-≥6 dictionary word, filtered to mutations that are
    not themselves words — so rediscovery requires the distance-2
    machinery (a pure-d1 join would miss every planted typo whose
    only dictionary neighbour is 2 edits away; the property suite
    pins the collision guarantee on random double mutations). Scale
    shape unchanged from the d1 query: equi-join on short keys,
    per-typo window over verified candidates only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(tokens(ascii_lower(F.col("text")))).alias("w")
    )
    dic = (
        toks.filter(F.length("w") >= 3)
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("corr_count"))
    ).localCheckpoint()
    typos = (
        dic.filter(F.length("word") >= 6)
        .select(
            F.concat(
                F.substring("word", 1, 1), F.expr("substring(word, 4)")
            ).alias("typo")
        )
        .distinct()
        .join(
            dic.select(F.col("word").alias("typo")), "typo", "left_anti"
        )
    )
    from ..operators.retrieval import symspell_corrections

    return symspell_corrections(typos, dic, max_edit_distance=2)


@register(
    "dedup_tfidf_weighted_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c=_ASCII_LOWER)} AS t
      FROM documents
    ),
    tfr AS (SELECT doc_id, source AS block, unnest(t) AS term FROM toks),
    tfc AS (
      SELECT block, doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tfr GROUP BY 1, 2, 3
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term
    ),
    w AS (
      SELECT block, doc_id, term,
             tf * ((n.n_docs * 1000000) // df.df) AS w
      FROM tfc JOIN df USING (term) CROSS JOIN n
    ),
    tot AS (
      SELECT block, doc_id, CAST(sum(w) AS BIGINT) AS s FROM w GROUP BY 1, 2
    ),
    smin AS (
      SELECT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(sum(least(a.w, b.w)) AS BIGINT) AS smin
      FROM w a JOIN w b
        ON a.block = b.block AND a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT m.block, m.doc_id_a, m.doc_id_b,
           m.smin::DOUBLE / (ta.s + tb.s - m.smin) AS wjaccard
    FROM smin m
    JOIN tot ta ON ta.block = m.block AND ta.doc_id = m.doc_id_a
    JOIN tot tb ON tb.block = m.block AND tb.doc_id = m.doc_id_b
    WHERE m.smin::DOUBLE / (ta.s + tb.s - m.smin) >= 0.5
    """,
)
def dedup_tfidf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted document similarity by WEIGHTED Jaccard
    (Ruzicka): Σ min(w_a, w_b) / Σ max(w_a, w_b) over per-doc term
    weights w = tf · idf_lift — the IR-weighted middle ground the
    dedup family lacked between unweighted shingle Jaccard (every
    gram counts equally) and dense-embedding cosine (needs vectors):
    rare terms dominate the match, boilerplate terms are
    automatically down-weighted by their document frequency.

    Everything before the one final division is INTEGER-exact:
    idf_lift = (N·10⁶) div df is the log-free monotone idf (the
    ``text_collocations_pmi`` lift device — no libm in the
    hash-checked path), weights/totals/minsums are BIGINT, and
    Σ max falls out as S_a + S_b − Σ min so only the SHARED-term
    inner join is ever computed (the posting-list shape:
    ``Σ_t df(t)²``-bounded fan-out per block, the stop-gram cap
    applies if a term's df explodes). Deliberately NOT cosine: exact
    cosine needs Σw² whose magnitude exceeds the 2⁵³ decimal→double
    parity envelope documented in plans/registry.py — weighted
    Jaccard delivers the same rare-term-weighted ranking with sums
    LINEAR in w (headroom ~2⁵³/10⁶·N docs before rescaling the lift).
    Output (block, doc_id_a, doc_id_b, wjaccard ≥ 0.5), unordered.

    Scale note: this exact form's shared-term self-join fans out
    Σ_t df_block(t)² — quadratic in block size under a realistic Zipf
    head (measured 22× time at 10× docs, 7f66565:tools/bench_sf1_pairs.py);
    it stays registered as the oracle-exact baseline, and
    ``dedup_tfidf_weighted_jaccard_capped`` is the linear scale
    path."""
    d = load_table(spark, sf_dir, "documents")
    tfc = (
        d.select(
            F.col("source").alias("block"),
            "doc_id",
            F.explode(tokens(ascii_lower(F.col("text")))).alias("term"),
        )
        .groupBy("block", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).localCheckpoint()
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_rel = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tfc.join(df_rel, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "block",
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.expr("(n_docs * 1000000L) div df")
            ).alias("w"),
        )
    ).localCheckpoint()
    tot = w.groupBy("block", "doc_id").agg(F.sum("w").alias("s"))
    a = w.select(
        "block", F.col("doc_id").alias("doc_id_a"), "term",
        F.col("w").alias("wa"),
    )
    # pinned shuffle join — see operators/dedup.py ngram_jaccard_pairs
    # (r15): a corpus-derived broadcast serializes the join locally
    # and cannot exist at scale
    b = w.hint("shuffle_merge").select(
        "block", F.col("doc_id").alias("doc_id_b"), "term",
        F.col("w").alias("wb"),
    )
    smin = (
        a.join(b, ["block", "term"])
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("block", "doc_id_a", "doc_id_b")
        .agg(F.sum(F.least("wa", "wb")).alias("smin"))
    )
    ta = tot.select(
        "block", F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")
    )
    tb = tot.select(
        "block", F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")
    )
    wj = F.col("smin").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("smin")
    )
    return (
        smin.join(ta, ["block", "doc_id_a"])
        .join(tb, ["block", "doc_id_b"])
        .select("block", "doc_id_a", "doc_id_b", wj.alias("wjaccard"))
        .filter(F.col("wjaccard") >= 0.5)
    )


@register(
    "dedup_tfidf_weighted_jaccard_capped",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source,
             text || ' r' || source || 'x' ||
             CAST(doc_id // 40 AS VARCHAR) AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, {_TOKS.format(c=_ASCII_LOWER)} AS t
      FROM corpus
    ),
    tfr AS (SELECT doc_id, source AS block, unnest(t) AS term FROM toks),
    tfc AS (
      SELECT block, doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tfr GROUP BY 1, 2, 3
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
    df AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfc GROUP BY term
    ),
    bdf AS (
      SELECT block, term, CAST(count(*) AS BIGINT) AS bdf
      FROM tfc GROUP BY 1, 2
    ),
    w AS (
      SELECT block, doc_id, term,
             tf * ((n.n_docs * 1000000) // df.df) AS w
      FROM tfc JOIN df USING (term) CROSS JOIN n
    ),
    cold AS (
      SELECT w.block, w.doc_id, w.term FROM w
      JOIN bdf ON bdf.block = w.block AND bdf.term = w.term
      WHERE bdf.bdf <= 10
    ),
    found AS (
      SELECT DISTINCT a.block, a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM cold a JOIN cold b
        ON a.block = b.block AND a.term = b.term AND a.doc_id < b.doc_id
    ),
    tot AS (
      SELECT block, doc_id, CAST(sum(w) AS BIGINT) AS s FROM w GROUP BY 1, 2
    ),
    smin AS (
      SELECT f.block, f.doc_id_a, f.doc_id_b,
             CAST(sum(least(a.w, b.w)) AS BIGINT) AS smin
      FROM found f
      JOIN w a ON a.block = f.block AND a.doc_id = f.doc_id_a
      JOIN w b ON b.block = f.block AND b.doc_id = f.doc_id_b
               AND b.term = a.term
      GROUP BY 1, 2, 3
    )
    SELECT m.block, m.doc_id_a, m.doc_id_b,
           m.smin::DOUBLE / (ta.s + tb.s - m.smin) AS wjaccard
    FROM smin m
    JOIN tot ta ON ta.block = m.block AND ta.doc_id = m.doc_id_a
    JOIN tot tb ON tb.block = m.block AND tb.doc_id = m.doc_id_b
    WHERE m.smin::DOUBLE / (ta.s + tb.s - m.smin) >= 0.5
    """,
)
def dedup_tfidf_weighted_jaccard_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dedup_tfidf_weighted_jaccard`` with the stop-TERM cap — the
    sf1 spot-check's fix (7f66565:tools/bench_sf1_pairs.py measured the
    uncapped shared-term join at 22× time for 10× docs under a Zipf
    vocabulary; per-block df of the Zipf HEAD ≈ block size, so Σ df²
    bends quadratic). A term hot in its block (per-block df > 10)
    generates no candidates but still scores exactly — hot weights
    rejoin as per-doc maps and map_zip_with adds their Σ min back
    (operators/dedup.py:weighted_jaccard_pairs_capped). The synthetic
    corpus's ~32-word vocabulary is ALL head by construction, so
    discriminative rare terms are planted in-query (one shared token
    per (source, doc_id div 40) group — within a source block exactly
    two docs share it at sf0.01): found pairs ride the planted cold
    terms, every hot fixture word still counts in the score, and the
    oracle restates the cap declaratively (pairs sharing ≥1 sub-cap
    term, full-relation smin)."""
    from ..operators.dedup import weighted_jaccard_pairs_capped

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" r"),
            F.col("source"),
            F.lit("x"),
            F.expr("doc_id div 40").cast("string"),
        ).alias("text"),
    )
    tfc = (
        d.select(
            F.col("source").alias("block"),
            "doc_id",
            F.explode(tokens(ascii_lower(F.col("text")))).alias("term"),
        )
        .groupBy("block", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    ).localCheckpoint()
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_rel = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tfc.join(df_rel, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "block",
            "doc_id",
            "term",
            (F.col("tf") * F.expr("(n_docs * 1000000L) div df")).alias("w"),
        )
    )
    return weighted_jaccard_pairs_capped(
        w, threshold=0.5, max_doc_freq=10
    )


@register(
    "dedup_wjaccard_cap_report",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source,
             text || ' r' || source || 'x' ||
             CAST(doc_id // 40 AS VARCHAR) AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, {_TOKS.format(c=_ASCII_LOWER)} AS t
      FROM corpus
    ),
    tfr AS (SELECT doc_id, source AS block, unnest(t) AS term FROM toks),
    tfc AS (
      SELECT block, doc_id, term FROM tfr GROUP BY 1, 2, 3
    ),
    bdf AS (
      SELECT block, term, CAST(count(*) AS BIGINT) AS bdf
      FROM tfc GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_block_terms,
           CAST(coalesce(sum(bdf), 0) AS BIGINT) AS n_postings,
           CAST(coalesce(sum(CASE WHEN bdf > 10 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hot_terms,
           CAST(coalesce(sum(CASE WHEN bdf > 10 THEN bdf ELSE 0 END), 0)
                AS BIGINT) AS hot_posting_volume,
           CAST(coalesce(sum(CASE WHEN bdf > 10 THEN bdf * (bdf - 1) // 2
                              ELSE 0 END), 0)
                AS BIGINT) AS candidates_avoided
    FROM bdf
    """,
)
def dedup_wjaccard_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting companion to ``dedup_tfidf_weighted_jaccard_capped``
    — the stop-TERM cap's honesty row (the ``hub_cap_report`` /
    ``dedup_frame_cap_report`` contract): over the SAME planted
    corpus, one row quantifying what the per-block df>10 cap silenced
    — (n_block_terms, n_postings, n_hot_terms, hot_posting_volume,
    candidates_avoided = Σ_{{bdf>cap}} C(bdf, 2)). On the fixture's
    32-word vocabulary nearly every (block, term) is hot, so
    candidates_avoided ≈ the whole uncapped join — the quadratic
    volume the capped query's 22×→2× sf1 fix removed, observable as
    data. One honesty-row implementation serves all three caps: the
    per-(block, term) key rides ``fingerprint_cap_report`` as a
    composite fingerprint (a doc lives in one block, so per-fp df ≡
    per-block term df exactly)."""
    from ..operators.dedup import fingerprint_cap_report

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" r"),
            F.col("source"),
            F.lit("x"),
            F.expr("doc_id div 40").cast("string"),
        ).alias("text"),
    )
    posts = d.select(
        "doc_id",
        "source",
        F.explode(tokens(ascii_lower(F.col("text")))).alias("term"),
    ).select(
        "doc_id", F.concat_ws("\x01", "source", "term").alias("fp")
    )
    return fingerprint_cap_report(
        posts, id_col="doc_id", fp_col="fp", max_doc_freq=10
    ).select(
        F.col("n_fingerprints").alias("n_block_terms"),
        "n_postings",
        F.col("n_hot_fingerprints").alias("n_hot_terms"),
        "hot_posting_volume",
        "candidates_avoided",
    )


@register(
    "dedup_match_scores",
    oracle=f"""
    WITH {_SNM_MULTIPASS_CAND_CTES},
    toks AS (
      SELECT doc_id, source, text, {_TOKS.format(c="text")} AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id, source AS block, text, {_shingle_sql(2)} AS sh
      FROM toks
    ),
    feat AS (
      SELECT c.block, c.doc_id_a, c.doc_id_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) AS la, len(b.sh) AS lb,
             levenshtein(a.text, b.text) AS lev
      FROM cand c
      JOIN sh a ON a.block = c.block AND a.doc_id = c.doc_id_a
      JOIN sh b ON b.block = c.block AND b.doc_id = c.doc_id_b
    ),
    scored AS (
      SELECT block, doc_id_a, doc_id_b,
             CAST(CASE WHEN la + lb - i > 0
                  THEN (1000000 * i) // (la + lb - i)
                  ELSE 0 END AS BIGINT) AS jaccard_ppm,
             CAST(greatest(0, CASE WHEN lev > 64 THEN 0
                  ELSE 1000000 - (1000000 * lev) // 64 END)
                  AS BIGINT) AS edit_sim_ppm
      FROM feat
    )
    SELECT block, doc_id_a, doc_id_b, jaccard_ppm, edit_sim_ppm,
           CAST((jaccard_ppm + edit_sim_ppm) // 2 AS BIGINT) AS score_ppm,
           (jaccard_ppm + edit_sim_ppm) // 2 >= 500000 AS is_match
    FROM scored
    """,
)
def dedup_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage match decisions over the ``source`` blocks
    (operators/dedup.py:match_scores): every multipass-SNM candidate
    scored on BOTH evidence channels — bigram-Jaccard ppm
    (reordering-robust) and Levenshtein similarity fading linearly to
    zero at 64 edits (corruption-robust; the fade bound is what lets
    Spark run the banded thresholded DP) — integer-averaged into
    score_ppm with the 0.5 decision bit. The family capstone: the pair RELATIONS answer
    "how similar", this one answers the linkage question "same
    record?" the SNM machinery exists to serve, and it is the only
    all-integer row in the pair family (no float anywhere, not even
    a final division)."""
    from ..operators.dedup import match_scores

    d = load_table(spark, sf_dir, "documents")
    return match_scores(
        d, "doc_id", "text", "source", window=5, key_chars=24, n=2,
        match_threshold_ppm=500_000,
    )


_PHASH_CLUSTER_TAIL = """,
    pairs AS (
      SELECT doc_id_a, doc_id_b FROM cand
      WHERE bit_count(xor(ha, hb)) <= 3
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
      UNION
      SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(label) AS cluster_id
    FROM reach GROUP BY node"""


@register(
    "dedup_phash_clusters",
    oracle="WITH RECURSIVE "
    + _phash_oracle(tail=_PHASH_CLUSTER_TAIL).lstrip()[len("WITH "):],
)
def dedup_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-duplicate GROUPS: connected components over the
    perceptual-hash pair relation (same planted corpus, banding, and
    hamming ≤ 3 verify as ``dedup_phash_pairs``), labelled by
    component-minimum id — the multimodal closure of the text
    family's pairs→clusters arc: the pair relation answers "which
    media collide", this one hands curation the deduplicatable
    GROUPS (keep one per cluster). Planted re-encodes must land in
    their original's cluster; everything else labels itself. Same
    iteration (min-label pointer jumping), same recursive min-label
    CTE oracle device as ``dedup_clusters``."""
    from ..operators.dedup import banded_hamming_pairs, connected_components
    from ..operators.multimodal import attach_binary, phash_media

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    base = d.select("doc_id", "text")
    planted = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    corpus = base.unionByName(planted)
    hashes = phash_media(attach_binary(corpus, "doc_id", "text"), fake=True)
    pairs = banded_hamming_pairs(hashes, max_hamming=3).select(
        "doc_id_a", "doc_id_b"
    )
    return connected_components(pairs, corpus.select("doc_id"))


@register(
    "dedup_clustering_coefficients",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS.format(c="text")} AS t FROM documents
    ),
    sh AS (SELECT doc_id, source AS block, {_shingle_sql(2)} AS sh FROM toks),
    jpairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
            >= 0.05
    ),
    edges AS (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
      UNION
      SELECT doc_id_b, doc_id_a FROM jpairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    wedges AS (
      SELECT e1.src AS hinge, e1.dst AS a, e2.dst AS b
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.src AND e1.dst < e2.dst
    ),
    tri AS (
      SELECT w.hinge, CAST(count(*) AS BIGINT) AS triangles
      FROM wedges w
      JOIN jpairs p ON p.doc_id_a = w.a AND p.doc_id_b = w.b
      GROUP BY w.hinge
    )
    SELECT d.doc_id,
           CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree,
           CAST(COALESCE(tri.triangles, 0) AS BIGINT) AS triangles,
           CAST(CASE WHEN COALESCE(deg.deg, 0) >= 2
                THEN (2000000 * COALESCE(tri.triangles, 0))
                     // (deg.deg * (deg.deg - 1))
                ELSE 0 END AS BIGINT) AS clustering_ppm
    FROM documents d
    LEFT JOIN deg ON deg.src = d.doc_id
    LEFT JOIN tri ON tri.hinge = d.doc_id
    """,
)
def dedup_clustering_coefficients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficients
    (operators/graph.py:clustering_coefficients) over the same
    0.05 bigram-Jaccard evidence graph as ``dedup_link_prediction`` —
    the node-level cohesion view completing the graph-analytics arc:
    pagerank ranks, k-core peels, triangles count globally, link
    prediction proposes edges, and this one CLASSIFIES each node's
    neighborhood (clique-like near 1e6 = a collapsible duplicate
    cluster; high-degree near 0 = a boilerplate hub whose edges don't
    know each other). Exact ppm integers, one row per document."""
    from ..operators.graph import clustering_coefficients

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", "source", n=2, threshold=0.05
    ).select("doc_id_a", "doc_id_b")
    return clustering_coefficients(pairs, d.select("doc_id"))


@register(
    "events_theil_sen_trend",
    oracle="""
    WITH wc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, n_events,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY window_start) - 1
                  AS BIGINT) AS x
      FROM wc
    ),
    slopes AS (
      SELECT a.event_type, a.x AS x1, b.x AS x2,
             CAST(((b.n_events - a.n_events) * 1000000)
                  // (b.x - a.x) AS BIGINT) AS slope_micro
      FROM d a JOIN d b
        ON a.event_type = b.event_type AND a.x < b.x
    ),
    ranked AS (
      SELECT event_type, slope_micro,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_micro, x1, x2) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_pairs
      FROM slopes
    )
    SELECT event_type, n_pairs, slope_micro
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
)
def events_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type volume trend
    (operators/anomaly.py:theil_sen_from_counts): the Theil-Sen
    median of all pairwise hourly slopes in exact micro fixed point —
    the MAD-vs-sigma upgrade applied to ``events_hourly_trend``'s
    OLS: one backfill or outage hour drags a least-squares slope
    arbitrarily; the slope median survives ~29% garbage hours. Runs
    over the same window-count relation (and therefore amortizes to
    the persisted window-count layout like every other detector);
    the O(hours²) pair join is config-scale."""
    from ..operators.anomaly import theil_sen_from_counts

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_from_counts(window_counts(ev))


@register(
    "ann_ivf_recall_report",
    oracle=f"""
    WITH {_KMEANS_CTES},
    qx AS (SELECT vec_id AS q_id, xf AS qxf FROM x WHERE vec_id < 8),
    qdist AS (
      SELECT qx.q_id, c1.cluster,
             CAST(list_sum([(qx.qxf[i]-c1.cf[i])*(qx.qxf[i]-c1.cf[i])
                            for i in generate_series(1, len(qx.qxf))])
                  AS BIGINT) AS dist
      FROM c1, qx
    ),
    qc AS (
      SELECT q_id, cluster FROM (
        SELECT q_id, cluster,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist, cluster) AS rn
        FROM qdist) WHERE rn <= 2
    ),
    e2 AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
      FROM embeddings
    ),
    qv AS (SELECT vec_id AS q_id, v AS qv FROM e2 WHERE vec_id < 8),
    acand AS (
      SELECT qc.q_id, a2.vec_id FROM a2 JOIN qc USING (cluster)
      WHERE a2.vec_id <> qc.q_id
    ),
    ascored AS (
      SELECT c.q_id, e2.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM acand c
      JOIN e2 ON e2.vec_id = c.vec_id
      JOIN qv ON qv.q_id = c.q_id
    ),
    approx AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM ascored) WHERE rank <= 10
    ),
    bscored AS (
      SELECT qv.q_id, e2.vec_id, {_cos_sql("v", "qv")} AS cos
      FROM e2, qv WHERE e2.vec_id <> qv.q_id
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM bscored) WHERE rank <= 10
    ),
    hits AS (
      SELECT e.q_id, CAST(count(a.vec_id) AS BIGINT) AS hits
      FROM exact e
      LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
      GROUP BY e.q_id
    )
    SELECT q_id, hits, CAST(10 AS BIGINT) AS k,
           CAST((hits * 1000000) // 10 AS BIGINT) AS recall_ppm
    FROM hits
    """,
)
def ann_ivf_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest ANN quality as a first-class RELATION: per-query
    recall@10 of the IVF join at its registered operating point
    (n_cells=8, nprobe=2 — a REAL probe budget, not the
    nprobe=n_cells exhaustive form the oracle-exact `_ivf` twins
    use) against the exact k-NN join on the same 8 query vectors.
    Both sides are deterministic — fixed-point Lloyd makes cell
    membership bit-identical and the probe/tie-break orders are
    total — so approximate-search QUALITY itself is hash-oracled:
    the report is exact integers (hits, recall_ppm), reproducible
    across engines and partitionings. The monitoring answer to "did
    the last index rebuild hurt recall?" — run the report, diff the
    rows; tests/test_ann_recall.py pins thresholds, this relation is
    the per-query evidence. Cost: one exact knn join over the query
    set (the ground truth is the expensive half, as always with
    recall audits) plus the probed-cells join."""
    from ..operators.similarity import ivf_knn_join, knn_join, recall_report

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = knn_join(e, q, k=10).select("q_id", "vec_id")
    approx = ivf_knn_join(e, q, k=10, n_cells=8, nprobe=2).select(
        "q_id", "vec_id"
    )
    return recall_report(exact, approx, k=10)


@register(
    "ann_pq_recall_report",
    oracle=f"""
    WITH approx AS (
      SELECT q_id, vec_id FROM ({_ivf_pq_residual_oracle()})
    ),
    exf AS (
      SELECT vec_id,
             [CAST(floor(CAST(v AS DOUBLE) * 100000.0) AS BIGINT)
              for v in embedding] AS xf
      FROM embeddings
    ),
    eqv AS (SELECT vec_id AS q_id, xf AS qxf FROM exf WHERE vec_id % 97 = 0),
    esc AS (
      SELECT eqv.q_id, exf.vec_id,
             CAST(list_sum([(exf.xf[i]-eqv.qxf[i])*(exf.xf[i]-eqv.qxf[i])
                            for i in generate_series(1, len(exf.xf))])
                  AS BIGINT) AS dist
      FROM exf, eqv
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY dist, vec_id) AS rn
        FROM esc) WHERE rn <= 5
    ),
    hits AS (
      SELECT e.q_id, CAST(count(a.vec_id) AS BIGINT) AS hits
      FROM exact e
      LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
      GROUP BY e.q_id
    )
    SELECT q_id, hits, CAST(5 AS BIGINT) AS k,
           CAST((hits * 1000000) // 5 AS BIGINT) AS recall_ppm
    FROM hits
    """,
)
def ann_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@budget for the PRODUCTION serving encoder: per-query
    recall@5 of the residual IVF-PQ ranking at its registered
    operating point (8 cells, nprobe=2, 8×16 residual codebooks —
    exactly ``ann_ivf_pq_residual_topk``) against the exact integer
    squared-L2 top-5 on the same every-97th-vector query set.
    ``ann_ivf_recall_report`` covers the plain IVF join, where the
    only loss is cell pruning; THIS report covers the path where
    recall silently erodes after appends and compactions — PQ
    quantization loss stacked on coarse pruning. Ground truth is
    squared L2 on scale-floored integers (the metric ADC
    approximates), so the whole report is exact integers and
    hash-oracled. The persisted-layout probe
    (``ivf_pq_residual_probe_topk``) is pinned row-for-row to the
    in-query twin, so this relation IS the layout's recall at the
    build params; tests/test_ivf_pq_residual_layout.py re-measures it
    through the probe after append + compaction via the same
    ``recall_report`` builder."""
    from ..operators.similarity import (
        exact_l2_topk,
        ivf_pq_residual_topk,
        recall_report,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0)
    exact = exact_l2_topk(e, q, k=5).select("q_id", "vec_id")
    approx = ivf_pq_residual_topk(
        e, q, n_cells=8, nprobe=2, d=64, m=8, k_codebook=16, k=5, iters=2
    ).select("q_id", "vec_id")
    return recall_report(exact, approx, k=5)
