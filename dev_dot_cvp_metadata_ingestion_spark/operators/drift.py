"""Distribution-drift computation over word-count relations — shared
by the ``corpus_source_drift`` query and the persisted word-count
layout's probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def source_drift_from_counts(sc: DataFrame) -> DataFrame:
    """Per-source total-variation drift from a (source, word, c_sw)
    count relation, in exact ppm integers. See the registered query's
    docstring (plans/datapipe.py:corpus_source_drift) for semantics
    and the 100 TB shape; this helper IS that query from the count
    relation down, so stream and batch cannot diverge.

    The ppm products go through exact DECIMAL(38,0) (ADVICE r9):
    ``c_w * 1e6`` wraps int64 once a word's global count passes
    ~9.2e12 — real for stop words in a ~2.5e13-token (100 TB) corpus.
    The quotient is a ppm (<= 1e6), so Spark's decimal ``div`` (long
    result) is exact and bit-equal to the oracle's HUGEINT ``//``."""
    # sc fans out three ways (gw, ns, the word join) and its lineage is
    # a full corpus tokenize at the batch call site — materialize once;
    # gw is vocab-sized with four consumers, same treatment.
    sc = sc.localCheckpoint()
    gw = sc.groupBy("word").agg(F.sum("c_sw").alias("c_w")).localCheckpoint()
    ns = sc.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    # g_mass needs the global total BEFORE the per-word division; two
    # tiny single-row steps keep the arithmetic identical to the oracle.
    n_total_row = gw.agg(F.sum("c_w").alias("n_total"))
    g_mass_row = (
        gw.crossJoin(F.broadcast(n_total_row))
        .select(F.expr("CAST(c_w AS DECIMAL(38,0)) * 1000000 div n_total").alias("g_ppm"))
        .agg(F.sum("g_ppm").alias("g_mass"))
    )
    tot = n_total_row.crossJoin(g_mass_row)
    j = (
        sc.join(gw, "word")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "word",
            F.expr("CAST(c_sw AS DECIMAL(38,0)) * 1000000 div n_s").alias("p_ppm"),
            F.expr("CAST(c_w AS DECIMAL(38,0)) * 1000000 div n_total").alias("g_ppm"),
        )
    )
    per_source = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.abs(F.col("p_ppm") - F.col("g_ppm"))).alias("present_drift"),
        F.sum("g_ppm").alias("present_g_mass"),
        F.min_by(
            "word",
            F.struct(
                (-F.abs(F.col("p_ppm") - F.col("g_ppm"))).alias("nd"),
                F.col("word").alias("w"),
            ),
        ).alias("top_word"),
        F.max(F.abs(F.col("p_ppm") - F.col("g_ppm"))).alias(
            "top_word_drift_ppm"
        ),
    )
    return (
        per_source.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_words",
            F.expr(
                "(present_drift + (g_mass - present_g_mass)) div 2"
            ).alias("tv_ppm"),
            "top_word",
            "top_word_drift_ppm",
        )
        .orderBy("source")
    )


def word_counts(docs: DataFrame, tokens_expr) -> DataFrame:
    """(source, word, c_sw) counts of a documents frame — one shuffle
    with map-side combine; the shared front half of batch and
    streaming drift."""
    return (
        docs.select("source", F.explode(tokens_expr).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )


def welch_source_pairs(per_doc: DataFrame) -> DataFrame:
    """Welch's two-sample t-test between every pair of sources on a
    per-document measure — "is src7's document length DISTRIBUTION
    actually different from src3's, or is the gap noise?" — the
    hypothesis-testing primitive behind corpus-mix audits, in exact
    fixed point (no sqrt: the |t| > 2 fence is squared into
    diff² > 4·se², the three-sigma algebra device).

    Input: (source, x) one row per document. Per source: n, Σx, Σx²
    (DECIMAL-lifted). Per pair (a < b), all floor-integer:
        mean_milli  = Σx·1000 div n
        var_milli2  = (n·Σx² − (Σx)²)·1e6 div (n·(n−1))  [sample s²]
        se2         = var_a div n_a + var_b div n_b      [s²_a/n_a + s²_b/n_b]
        t2_milli    = diff²·1000 div se2,  diff = mean_a − mean_b
        is_significant = diff² > 4·se²    (|t| > 2, ≈95%)
    (Fixed in r11 per ADVICE: the variance denominator was n²·(n−1),
    which already baked the /n into var and then divided by n AGAIN in
    se2, inflating t² ~n-fold so noise flagged as significant.)
    n < 2 makes the variance NULL and the verdict NULL (propagated,
    not hidden); se² = 0 with equal means is 0/NULL-t² but a defined
    verdict (any nonzero diff against zero variance is significant).

    Scale shape: one corpus-sized aggregate down to |sources| rows;
    the pair relation is |sources|² — config-scale (a broadcast
    nested-loop on the < condition). Headroom: n·Σx² ≤ n²·L²·1e6
    inside DECIMAL(38,0) to ~1e12 docs at L ~ 1e3 tokens.

    Returns (source_a, source_b, n_a, n_b, mean_milli_a, mean_milli_b,
    t2_milli, is_significant), one row per unordered pair."""
    st = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("v"),
    )

    def side(tag: str) -> DataFrame:
        return st.select(
            F.col("source").alias(f"source_{tag}"),
            F.col("n").alias(f"n_{tag}"),
            F.expr("CAST(CAST(s AS DECIMAL(38,0)) * 1000 div n AS BIGINT)")
            .alias(f"mean_milli_{tag}"),
            F.expr(
                "CAST(((CAST(n AS DECIMAL(38,0)) * v"
                " - CAST(s AS DECIMAL(38,0)) * s) * 1000000)"
                " div nullif(CAST(n AS DECIMAL(38,0)) * (n - 1), 0)"
                " AS BIGINT)"
            ).alias(f"var_{tag}"),
        )
    a, b = side("a"), side("b")
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "mean_milli_a",
        "mean_milli_b",
        (F.expr("var_a div n_a") + F.expr("var_b div n_b")).alias("_se2"),
        (F.col("mean_milli_a") - F.col("mean_milli_b")).alias("_d"),
    )
    return pairs.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        "mean_milli_a",
        "mean_milli_b",
        F.expr(
            "CAST(CAST(_d AS DECIMAL(38,0)) * _d * 1000"
            " div nullif(_se2, 0) AS BIGINT)"
        ).alias("t2_milli"),
        (
            F.col("_d").cast("decimal(38,0)") * F.col("_d")
            > F.lit(4).cast("decimal(38,0)") * F.col("_se2")
        )
        .cast("long")
        .alias("is_significant"),
    )


def robust_source_stats(per_doc: DataFrame) -> DataFrame:
    """Robust per-source statistics of a per-document integer measure
    — median, p90, and the 10%-trimmed mean — WITHOUT any window over
    the per-document relation: the corpus pass collapses to a
    (source, x) histogram first (the ``documents_token_quantiles_hist``
    scale device), and every statistic is exact integer arithmetic
    over the bounded histogram's cumulative counts. Trimming handles
    PARTIAL buckets exactly: with lo = n div 10 and hi = n − lo, a
    bucket spanning cumulative ranks (s, e] contributes
    max(0, min(e, hi) − max(s, lo)) copies of its value — so the
    result equals sorting each source's values and averaging ranks
    lo+1..hi, at histogram (not corpus) cost. median/p90 are
    quantile_disc picks: the smallest value whose cumulative count
    reaches (n+1) div 2 / 9·n (cross-multiplied, no division).

    Returns (source, n, median, p90, trimmed_mean_milli) — one row per
    source; trimmed_mean is a floor-milli mean, NULL only when the
    trim empties the sample (n = 0 cannot reach here)."""
    from pyspark.sql import Window as W

    h = per_doc.groupBy("source", "x").agg(F.count(F.lit(1)).alias("c"))
    w = (
        W.partitionBy("source")
        .orderBy("x")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    h = h.select(
        "source", "x", "c", F.sum("c").over(w).alias("e")
    ).withColumn("s", F.col("e") - F.col("c"))
    tot = h.groupBy("source").agg(F.max("e").alias("n"))
    j = h.join(F.broadcast(tot), "source")
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("e"), F.expr("n - n div 10"))
        - F.greatest(F.col("s"), F.expr("n div 10")),
    )
    return (
        j.groupBy("source", "n")
        .agg(
            F.min(F.when(F.expr("e >= (n + 1) div 2"), F.col("x"))).alias(
                "median"
            ),
            F.min(F.when(F.expr("10 * e >= 9 * n"), F.col("x"))).alias("p90"),
            F.sum(F.col("x").cast("decimal(38,0)") * kept).alias("_ts"),
            F.sum(kept).alias("_tn"),
        )
        .select(
            "source",
            "n",
            "median",
            "p90",
            F.expr(
                "CAST(_ts * 1000 div nullif(_tn, 0) AS BIGINT)"
            ).alias("trimmed_mean_milli"),
        )
    )
