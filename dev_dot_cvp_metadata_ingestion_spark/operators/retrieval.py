"""Full-text retrieval ranking: BM25-shaped scoring in exact integer
arithmetic, with salted per-query top-k.

Classic BM25 (Robertson-Sparck Jones; k1=1.2, b=0.75) scores

    score(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

This implementation keeps the exact shape but replaces the log-idf
with its rational core — ``idf_ppm = floor(((N - df)*2 + 1) * 1e6 /
(df*2 + 1))``, i.e. the (N-df+0.5)/(df+0.5) odds ratio in ppm with
both halves doubled so everything stays integral — because libm ``ln``
is not bit-portable across engines (repo determinism doctrine: no
float in a hash-checked path). For a single-term query the ranking is
identical to log-idf BM25 (log is monotone); multi-term tie behavior
differs from the textbook form only where log compression would
reorder sums, which is the documented trade for an exactly
reproducible score. All saturation arithmetic is BIGINT with floor
division at fixed points, so Spark ``div`` and DuckDB ``//`` agree
bit-for-bit.

Scale shape (the inverted-index view): the corpus is tokenized ONCE;
document lengths and per-(doc, term) frequencies are two map-side
combined aggregates; the query-term dictionary, per-term document
frequencies, and the corpus totals are all config-scale broadcasts.
The only corpus-sized shuffles are the two token aggregates and the
tf-dl join on doc_id. Per-query top-k uses the salted two-phase rank
(operators/similarity.py:_topk_per_query) so no window partition ever
holds a whole query's candidate set.

The persisted form (sources/catalog.py:write_text_index +
``bm25_probe_index`` here) materializes exactly the relations the
in-query plan derives — word-bucket-partitioned postings with the
document length DENORMALIZED onto each posting row (so a probe never
joins the corpus-sized doclens relation) plus a single-row totals
sidecar — and both forms share ``_bm25_rank`` below, so probe ≡
in-query is true by construction and pinned row-for-row in
tests/test_text_index.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _topk_per_query

# idf_ppm ~ 1e6 * n_docs/df, tf factor <= 2.2e6; the naive
# `idf * factor div 1e6` wraps int64 once n_docs/df exceeds ~6.3e6
# (ADVICE r9). Split the multiplication with the exact identity
#   floor(a*b/1e6) == (a div 1e6)*b + ((a mod 1e6)*b) div 1e6
# (valid for a, b >= 0; both operands here are non-negative), so the
# largest intermediate is (idf_ppm div 1e6)*factor ~ 2.2e6*n_docs/df —
# exact BIGINT headroom to n_docs/df ~ 4.2e12 and n_docs ~ 4.6e12
# (where (2*n_docs+1)*1e6 itself wraps), comfortably past a 100 TB
# corpus (~1e11 docs at 1 KB/doc). The remaining bound is the
# double-backed rank carrier: score_ppm must stay under 2^53 for the
# ordering cast to be exact, i.e. n_docs/df * |query terms| < ~4e9 —
# documented here per the repo clamp-before-divide convention.
_IDF = "(((n_docs - df) * 2L + 1L) * 1000000L div (df * 2L + 1L))"
_TF_FACTOR = """((tf * 2200000L * 1000000L) div
       (tf * 1000000L
        + (1200000L * (250000L
            + (750000L * dl * 1000L)
              div (t_tokens * 1000L div n_docs)))
          div 1000000L))"""
_CONTRIB = f"""
    ({_IDF} div 1000000L) * {_TF_FACTOR}
    + (({_IDF} % 1000000L) * {_TF_FACTOR}) div 1000000L
"""


def _bm25_rank(
    tf_dl: DataFrame, corp: DataFrame, queries: DataFrame, k: int, n_salts: int
) -> DataFrame:
    """Shared scoring tail: (doc_id, word, tf, dl) × totals × queries
    → (q_id, doc_id, score_ppm, rank). Document frequencies are
    derived from ``tf_dl`` itself (term-count-sized groupBy, broadcast
    back)."""
    df_rel = tf_dl.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf_dl.join(F.broadcast(df_rel), "word")
        .crossJoin(F.broadcast(corp))
        .join(F.broadcast(queries), F.col("word") == F.col("term"))
        .select("q_id", "doc_id", F.expr(_CONTRIB).alias("contrib"))
        .groupBy("q_id", "doc_id")
        .agg(F.sum("contrib").alias("score_ppm"))
    )
    # salted two-phase rank; score_ppm < 2^53 so the double view used
    # for ordering is exact
    ranked = _topk_per_query(
        scored.select(
            "q_id",
            F.col("doc_id").alias("vec_id"),
            F.col("score_ppm").cast("double").alias("cos"),
            "score_ppm",
        ),
        k,
        n_salts,
    )
    return ranked.select(
        "q_id",
        F.col("vec_id").alias("doc_id"),
        "score_ppm",
        F.col("rank").cast("long").alias("rank"),
    )


def corpus_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, totals) for a documents frame: postings is
    (doc_id, word, tf, dl) — one row per distinct (doc, word), with
    the doc length denormalized on — and totals is the single-row
    (n_docs, t_tokens). The token stream is consumed by exactly ONE
    aggregate: doc lengths are derived from the tf relation itself
    (dl = Σ tf per doc — postings-sized input, not tokens-sized) and
    the totals row from dl, so the corpus tokenize has a single
    consumer and every downstream aggregate is map-side combined over
    an already-shrunk relation."""
    from ..functions.text import tokens

    # NOT rebalanced (r15 interleaved A/B): the postings relation is
    # checkpointed right after the tf aggregate, so the serial
    # tokenize is paid once and the query time is dominated by the
    # post-checkpoint ranking passes — adding the narrow-scan
    # rebalance exchange measured consistently SLOWER on bm25_prf
    # (3.2-3.9 s with vs 2.9-3.2 s without at sf0.1)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # tf fans out three ways (dl, the join, df derivation downstream)
    # and its lineage is the corpus tokenize — materialize once
    tf = tf.localCheckpoint()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corp = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("t_tokens")
    )
    return tf.join(dl, "doc_id"), corp


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_salts: int = 32,
) -> DataFrame:
    """Top-``k`` documents per query by integer BM25.

    ``queries`` is a small (q_id, term) relation — one row per query
    term, terms lowercase. Returns (q_id, doc_id, score_ppm, rank),
    UNORDERED (per-row operator contract; ``rank`` carries the
    ordering, call sites sort for presentation).
    """
    tf_dl, corp = corpus_postings(docs, id_col, text_col)
    qterms = queries.select(F.col("term")).distinct()
    # pre-shrink to query-term postings before scoring (broadcast
    # semi-join on the dictionary)
    tf_dl = tf_dl.join(
        F.broadcast(qterms), tf_dl.word == qterms.term, "leftsemi"
    )
    return _bm25_rank(tf_dl, corp, queries, k, n_salts)


def bm25_prf_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_feedback: int = 5,
    n_expansion: int = 2,
    stop_words: tuple[str, ...] = (
        "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
    ),
    id_col: str = "doc_id",
    text_col: str = "text",
    n_salts: int = 32,
) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (Rocchio-style query expansion,
    the classic two-pass retrieval composition): a first BM25 pass
    takes each query's top-``n_feedback`` documents as the assumed-
    relevant set, the ``n_expansion`` most frequent non-stopword,
    non-query terms inside that set join the query, and a second BM25
    pass over the EXPANDED query produces the final top-``k`` — recall
    the literal query vocabulary cannot reach ("spark join" pulling in
    docs that say "shuffle"). Both passes are the exact integer BM25
    chain, the expansion pick is a deterministic (tf DESC, word)
    argmax, and term matching is raw-token equality (no case fold —
    BM25's own convention here), so the whole composition hash-matches
    its generated oracle (plans/datapipe.py:_bm25_prf_oracle).

    Scale shape: ONE corpus tokenize total — the full postings
    relation (already materialized inside ``corpus_postings``) feeds
    both BM25 passes via per-pass broadcast dictionary semi-joins AND
    the feedback-term counts (per-(doc, word) tf rows ARE the
    exploded-token counts), so the second pass and the expansion ride
    the same postings the first pass built. The feedback count's input
    is pruned by a broadcast semi-join on the |queries|×n_feedback doc
    set BEFORE aggregation; the expansion rank's window partitions
    hold only a feedback set's vocabulary. The whole pipeline
    amortizes to index probes via ``bm25_prf_probe_index``.

    Returns (q_id, doc_id, score_ppm, rank), UNORDERED."""
    from pyspark.sql import Window as W

    queries = queries.localCheckpoint()
    tf_dl, corp = corpus_postings(docs, id_col, text_col)
    corp = corp.localCheckpoint()

    def one_pass(q: DataFrame, kk: int) -> DataFrame:
        qterms = q.select(F.col("term")).distinct()
        shrunk = tf_dl.join(
            F.broadcast(qterms), tf_dl.word == qterms.term, "leftsemi"
        )
        return _bm25_rank(shrunk, corp, q, kk, n_salts)

    r1 = one_pass(queries, n_feedback)
    fb = r1.select("q_id", "doc_id").localCheckpoint()
    ftf = (
        tf_dl.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("word").isin(list(stop_words)))
        .join(
            queries.select(
                F.col("q_id"), F.col("term").alias("word")
            ),
            ["q_id", "word"],
            "left_anti",
        )
        .groupBy("q_id", "word")
        .agg(F.sum("tf").alias("tf_fb"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("tf_fb").desc(), "word")
    exp = (
        ftf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_expansion)
        .select("q_id", F.col("word").alias("term"))
    )
    q2 = queries.select("q_id", "term").unionByName(exp).distinct()
    return one_pass(q2, k)


def bm25_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_salts: int = 32,
) -> DataFrame:
    """BM25 top-k against a PERSISTED text index
    (sources/catalog.py:write_text_index) — the amortized form: no
    corpus tokenize, no corpus-sized aggregate or join. The query
    terms' hash buckets are computed driver-side (config-scale
    collect), so the bucket predicate reaches the postings scan as a
    PARTITION filter: only the probed buckets' files are read.
    Row-for-row equal to ``bm25_topk`` on the indexed corpus
    (shared ``_bm25_rank`` tail; pinned in tests/test_text_index.py).
    """
    from ..sources.catalog import read_text_index

    postings, corp = read_text_index(spark, path)
    terms = [r.term for r in queries.select("term").distinct().collect()]
    if terms:
        n_buckets = int(
            spark.read.parquet(f"{path}/meta").first()["n_buckets"]
        )
        buckets = [
            r.b
            for r in spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(
                F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        ]
        postings = postings.filter(
            F.col("bucket").isin(buckets) & F.col("word").isin(terms)
        )
    else:
        postings = postings.filter(F.lit(False))
    return _bm25_rank(
        postings.select("doc_id", "word", "tf", "dl"), corp, queries, k, n_salts
    )


def bm25_topk_conjunctive(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_salts: int = 32,
) -> DataFrame:
    """AND-semantics BM25: a document is ranked for a query only if it
    contains EVERY term of that query (web-search default semantics;
    the disjunctive ``bm25_topk`` is the recall-oriented form). Same
    integer scoring; the conjunction is one extra countDistinct per
    (query, doc) checked against the broadcast per-query term count —
    no second corpus pass."""
    tf_dl, corp = corpus_postings(docs, id_col, text_col)
    qterms = queries.select(F.col("term")).distinct()
    tf_dl = tf_dl.join(
        F.broadcast(qterms), tf_dl.word == qterms.term, "leftsemi"
    )
    n_terms = queries.groupBy("q_id").agg(
        F.countDistinct("term").alias("n_terms")
    )
    df_rel = tf_dl.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf_dl.join(F.broadcast(df_rel), "word")
        .crossJoin(F.broadcast(corp))
        .join(F.broadcast(queries), F.col("word") == F.col("term"))
        .select(
            "q_id", "doc_id", "word", F.expr(_CONTRIB).alias("contrib")
        )
        .groupBy("q_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score_ppm"),
            F.countDistinct("word").alias("_matched"),
        )
        .join(F.broadcast(n_terms), "q_id")
        .filter(F.col("_matched") == F.col("n_terms"))
        .select("q_id", "doc_id", "score_ppm")
    )
    ranked = _topk_per_query(
        scored.select(
            "q_id",
            F.col("doc_id").alias("vec_id"),
            F.col("score_ppm").cast("double").alias("cos"),
            "score_ppm",
        ),
        k,
        n_salts,
    )
    return ranked.select(
        "q_id",
        F.col("vec_id").alias("doc_id"),
        "score_ppm",
        F.col("rank").cast("long").alias("rank"),
    )


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, rrf_k: int = 60, n_salts: int = 32
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) of N
    (q_id, doc_id, rank) relations: fused score =
    Σ_r floor(1e6 / (rrf_k + rank_r)) — exact integers, so the fused
    ordering is engine-reproducible (the float 1/(k+r) original
    differs only by the monotone floor). Documents missing from a
    ranking simply contribute nothing (the standard convention).
    Returns (q_id, doc_id, rrf_micro, rank), unordered.

    Scale shape: inputs are already top-k relations (k × |queries|
    rows each), so everything here is config-scale; the union +
    groupBy + salted re-rank move only fused candidates."""
    fused = None
    for r in rankings:
        part = r.select(
            "q_id",
            "doc_id",
            F.expr(f"1000000L div ({rrf_k}L + rank)").alias("part"),
        )
        fused = part if fused is None else fused.unionByName(part)
    scored = fused.groupBy("q_id", "doc_id").agg(
        F.sum("part").alias("rrf_micro")
    )
    ranked = _topk_per_query(
        scored.select(
            "q_id",
            F.col("doc_id").alias("vec_id"),
            F.col("rrf_micro").cast("double").alias("cos"),
            "rrf_micro",
        ),
        k,
        n_salts,
    )
    return ranked.select(
        "q_id",
        F.col("vec_id").alias("doc_id"),
        "rrf_micro",
        F.col("rank").cast("long").alias("rank"),
    )


def bm25_prf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_feedback: int = 5,
    n_expansion: int = 2,
    stop_words: tuple[str, ...] = (
        "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
    ),
    n_salts: int = 32,
) -> DataFrame:
    """PRF served ENTIRELY from the persisted text index — the
    amortized form of ``bm25_prf_topk`` with zero corpus tokenizes:
    both BM25 passes are ``bm25_probe_index`` (bucket-pruned postings
    scans), and the feedback term counts come from the postings table
    itself (tf summed over the |queries|×n_feedback broadcast doc set
    — per-(doc, word) tf rows ARE the exploded-token counts, so the
    expansion pick is identical). Row-for-row equal to the in-query
    form on the indexed corpus (pinned in tests/test_text_index.py)."""
    from pyspark.sql import Window as W

    from ..sources.catalog import read_text_index

    queries = queries.localCheckpoint()
    r1 = bm25_probe_index(spark, path, queries, k=n_feedback, n_salts=n_salts)
    fb = r1.select("q_id", "doc_id").localCheckpoint()
    postings, _tot = read_text_index(spark, path)
    ftf = (
        postings.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("word").isin(list(stop_words)))
        .join(
            queries.select("q_id", F.col("term").alias("word")),
            ["q_id", "word"],
            "left_anti",
        )
        .groupBy("q_id", "word")
        .agg(F.sum("tf").alias("tf_fb"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("tf_fb").desc(), "word")
    exp = (
        ftf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_expansion)
        .select("q_id", F.col("word").alias("term"))
    )
    q2 = queries.select("q_id", "term").unionByName(exp).distinct()
    return bm25_probe_index(spark, path, q2, k=k, n_salts=n_salts)


def phrase_probe_index(
    spark,
    path: str,
    phrases: DataFrame,
    k: int = 10,
    n_salts: int = 32,
) -> DataFrame:
    """Phrase search against a PERSISTED positional text index
    (sources/catalog.py:write_text_index with ``positional=True``) —
    the amortized form of ``phrase_search_topk``: no corpus tokenize;
    the phrase terms' hash buckets are computed driver-side
    (config-scale collect) so the bucket predicate reaches the
    positions scan as a PARTITION filter, and the start-position
    aggregate + salted rank are the shared ``_phrase_rank`` tail.
    Row-for-row equal to the in-query form on the indexed corpus
    (pinned in tests/test_positional_index.py)."""
    from ..sources.catalog import read_text_positions

    pos = read_text_positions(spark, path)
    n_buckets = int(
        spark.read.parquet(f"{path}/meta").first()["n_buckets"]
    )
    terms = [r.term for r in phrases.select("term").distinct().collect()]
    if not terms:
        return _phrase_rank(pos.filter(F.lit(False)), phrases, k, n_salts)
    buckets = (
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    pos = pos.filter(F.col("bucket").isin([r.b for r in buckets]))
    return _phrase_rank(
        pos.select("doc_id", "pos", "word"), phrases, k, n_salts
    )


def rake_keywords(
    docs: DataFrame,
    top_k: int = 15,
    stop_words: tuple[str, ...] = (
        "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
    ),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents") over the whole corpus:
    candidate phrases are the maximal runs of non-stopword tokens
    (stopwords are the delimiters), each word scores
    ``degree/frequency`` where degree sums the lengths of every phrase
    occurrence containing the word (self-co-occurrence included, the
    paper's definition) and frequency counts its phrase occurrences,
    and a phrase scores the sum of its member words' scores. Exact
    fixed point: word_score_ppm = 1e6·deg div freq, phrase score the
    BIGINT sum of member ppm scores per occurrence, identical phrases
    aggregated by their text. Case folding is the engine-stable
    ASCII-only translate (the stopword lists are ASCII).

    Scale shape: one positional tokenize (posexplode — the
    ``phrase_search_topk`` relation); phrase segmentation is a running
    stopword count over PER-DOCUMENT windows (bounded partitions, the
    positional-postings argument); word scores are a vocabulary-sized
    aggregate broadcast back onto phrase members; the phrase aggregate
    groups by phrase text (phrase-type scale); global top-k is
    orderBy+limit → TakeOrderedAndProject.

    Returns (phrase, n_words, n_occurrences, score_ppm) for the
    global top-``top_k`` phrases, ties by phrase text (ordered)."""
    from pyspark.sql import Window as W

    from ..functions.text import ascii_lower, tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(ascii_lower(F.col(text_col)))).alias(
            "pos", "word"
        ),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    seg = toks.withColumn(
        "is_stop", F.col("word").isin(list(stop_words)).cast("int")
    ).withColumn("pid", F.sum("is_stop").over(w))
    # members fans out three ways (occ, the plen join, word scores)
    # and its lineage is the corpus tokenize — materialize once
    # (4 -> 1 corpus scans, audited via 7f66565:tools/plan_audit.py)
    members = (
        seg.filter(F.col("is_stop") == 0)
        .select("doc_id", "pid", "pos", "word")
        .localCheckpoint()
    )
    # one phrase occurrence per (doc, pid): its text and length
    occ = members.groupBy("doc_id", "pid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.getField("word"),
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    # plen fans back onto members for the degree sum
    memb2 = members.join(occ, ["doc_id", "pid"])
    wscore = (
        memb2.groupBy("word")
        .agg(
            F.sum("plen").alias("deg"),
            F.count(F.lit(1)).alias("freq"),
        )
        .select(
            "word",
            F.expr(
                "CAST(CAST(deg AS DECIMAL(38,0)) * 1000000 div freq"
                " AS BIGINT)"
            ).alias("wscore_ppm"),
        )
    )
    pscore = (
        memb2.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "pid", "phrase", "plen")
        .agg(F.sum("wscore_ppm").alias("occ_score_ppm"))
        .groupBy("phrase")
        .agg(
            F.first("plen").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("occ_score_ppm").alias("score_ppm"),
        )
    )
    # global top-k via orderBy+limit -> TakeOrderedAndProject (repo
    # convention: no rank column, so no global Window ever plans)
    return pscore.orderBy(F.col("score_ppm").desc(), "phrase").limit(top_k)


def phrase_search_topk(
    docs: DataFrame,
    phrases: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_salts: int = 32,
) -> DataFrame:
    """Exact phrase search over positional postings: top-``k``
    documents per query by number of phrase OCCURRENCES (then doc_id)
    — the positional-index capability BM25's bag-of-words scoring
    cannot express ("spark join" as ADJACENT tokens, not co-occurring
    anywhere).

    ``phrases`` is a tidy (q_id, term_pos, term) relation — term_pos
    1-based consecutive within each query. Matching uses the classic
    positional-join identity: a phrase starts at position ``s`` in a
    doc iff for EVERY (term_pos, term) the doc has ``term`` at
    ``s + term_pos - 1``; equivalently every matched posting row
    agrees on ``start = pos - term_pos``, so one groupBy over
    (q_id, doc_id, start) counting DISTINCT matched term_pos (distinct
    — a duplicated term in the phrase may match one posting row to
    several term_pos) finds all starts without any self-join chain of
    per-term posting lists. Overlapping occurrences count separately
    (query "a a" matches "a a a" twice).

    Returns (q_id, doc_id, n_occurrences, rank), UNORDERED (per-row
    operator contract; rank carries the ordering).

    Scale shape: one positional tokenize (posexplode, map-side), the
    phrase dictionary broadcast onto it (semi-shrinks to matching
    postings before any shuffle), and two aggregates keyed on
    uniformly-distributed (q_id, doc_id[, start]) — a stop-grade
    phrase term inflates VOLUME linearly but never concentrates a
    key, the same flat-under-skew analysis as bm25_topk
    (7f66565:tools/bench_bm25_skew.py). Per-query top-k is the salted
    two-phase rank. n_occurrences < 2^31 keeps the double rank
    carrier exact trivially."""
    from ..functions.text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    return _phrase_rank(toks, phrases, k, n_salts)


def _phrase_rank(
    toks: DataFrame, phrases: DataFrame, k: int, n_salts: int
) -> DataFrame:
    """The start-position aggregate + salted rank over a positional
    (doc_id, pos, word) relation — shared by the in-query
    ``phrase_search_topk`` and the persisted-index
    ``phrase_probe_index``, so the probe is the same scoring tail by
    construction."""
    qn = phrases.groupBy("q_id").agg(
        F.countDistinct("term_pos").alias("n_terms")
    )
    occ = (
        toks.join(F.broadcast(phrases), F.col("word") == F.col("term"))
        .select(
            "q_id",
            "doc_id",
            (F.col("pos") - F.col("term_pos")).alias("start"),
            "term_pos",
        )
        .groupBy("q_id", "doc_id", "start")
        .agg(F.countDistinct("term_pos").alias("matched"))
        .join(F.broadcast(qn), "q_id")
        .filter(F.col("matched") == F.col("n_terms"))
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    ranked = _topk_per_query(
        occ.select(
            "q_id",
            F.col("doc_id").alias("vec_id"),
            F.col("n_occurrences").cast("double").alias("cos"),
            "n_occurrences",
        ),
        k,
        n_salts,
    )
    return ranked.select(
        "q_id",
        F.col("vec_id").alias("doc_id"),
        "n_occurrences",
        F.col("rank").cast("long").alias("rank"),
    )


def hybrid_probe_topk(
    spark,
    text_index_path: str,
    vec_layout_path: str,
    queries: DataFrame,
    query_vecs: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    rrf_k: int = 60,
    n_salts: int = 32,
) -> DataFrame:
    """Hybrid retrieval SERVING from two persisted layouts — the
    composed probe the ten-layout catalog builds toward (r11 VERDICT
    missing #2): the lexical branch probes the inverted text index
    (``bm25_probe_index`` — bucket-pruned postings scan, ZERO corpus
    tokenizes) and the vector branch probes the residual IVF-PQ layout
    (``ivf_pq_residual_probe_topk`` — cell-pruned codes scan, no
    embedding float read, no codebook training), then the two top-k
    relations fuse with exact-integer reciprocal-rank fusion
    (``rrf_fuse``). ``queries`` is the (q_id, term) text form and
    ``query_vecs`` the (vec_id, embedding) vector form of the SAME
    queries (vec_id ≡ q_id — the shared-primary-key RAG layout).

    Row-for-row equal to the registered in-query twin
    ``text_hybrid_rrf`` when both layouts are built from the same
    corpus at the twin's params (pinned in
    tests/test_hybrid_retrieval.py, with the zero-tokenize /
    codes-not-floats plan pins). Scale shape: both probes are the
    already-pinned amortized forms; the fusion moves only 2 × k ×
    |queries| rows."""
    from .similarity import ivf_pq_residual_probe_topk

    lex = bm25_probe_index(spark, text_index_path, queries, k=k,
                           n_salts=n_salts)
    vec = ivf_pq_residual_probe_topk(
        spark, vec_layout_path, query_vecs, nprobe=nprobe, k=k,
        n_salts=n_salts,
    ).select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([lex, vec], k=k, rrf_k=rrf_k, n_salts=n_salts)


def _symspell_del_keys(c: str, max_edit_distance: int) -> str:
    """SQL expr for a column's SymSpell deletion keys: the string
    itself, every single-deletion variant, and (at distance 2) every
    double-deletion variant — positions i<j of the ORIGINAL string,
    so the key set is exactly {w with ≤max_d chars removed}. Suffix
    length = length(w), not a literal cap: stream tokens have no
    maximum length, and a truncated deletion key would silently miss
    pairs differing past the cap (review finding, r12).
    ``array_distinct`` dedupes the repeats repeated characters
    produce ("aab" deletes to "ab" two ways) before the explode."""
    d1 = (
        f"transform(sequence(1, length({c})), "
        f"i -> concat(substring({c}, 1, i - 1),"
        f" substring({c}, i + 1, length({c}))))"
    )
    keys = f"array({c}) || {d1}"
    if max_edit_distance >= 2:
        # i ranges 1..len-1 so the inner sequence start i+1 <= len is
        # always ascending; Spark's sequence(a, b) with a > b counts
        # DOWN instead of returning empty, hence the length guard
        d2 = (
            f"CASE WHEN length({c}) >= 2 THEN "
            f"flatten(transform(sequence(1, length({c}) - 1), i -> "
            f"transform(sequence(i + 1, length({c})), j -> "
            f"concat(substring({c}, 1, i - 1),"
            f" substring({c}, i + 1, j - i - 1),"
            f" substring({c}, j + 1, length({c})))))) "
            f"ELSE CAST(array() AS array<string>) END"
        )
        keys = f"{keys} || {d2}"
    return f"array_distinct({keys})"


def symspell_corrections(
    typos: DataFrame,
    dictionary: DataFrame,
    max_edit_distance: int = 1,
) -> DataFrame:
    """SymSpell symmetric-delete matching (Garbe's device; the
    ``text_spelling_correction`` core, factored for reuse by the
    streaming sink): ``typos`` is a (typo) relation of out-of-
    vocabulary strings, ``dictionary`` a (word, corr_count) relation;
    both sides emit themselves plus their deletion variants up to
    ``max_edit_distance`` removals, pairs within that edit distance
    are GUARANTEED to collide on a key (each side deletes its own
    surplus/substituted characters), the exact
    ``levenshtein BETWEEN 1 AND max_d`` verify discards the
    over-generated collisions (deletion-key collision is necessary,
    not sufficient — e.g. distance-3 pairs collide at max_d 2), and
    each typo resolves to its highest-count word (alphabetical
    tiebreak — the same count-argmax tail at every distance).
    Candidate generation is a pure equi-join: ~len(w)+1 keys per word
    at distance 1, ~len²/2 at distance 2 — bounded for
    dictionary-scale tokens, never a quadratic distance scan.
    Returns (typo, correction, corr_count), one row per matched
    typo. max_edit_distance ∈ {{1, 2}} (standard SymSpell configs)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    if max_edit_distance not in (1, 2):
        raise ValueError(f"max_edit_distance must be 1 or 2, got "
                         f"{max_edit_distance!r}")
    dkeys = dictionary.select(
        "word",
        F.explode(
            F.expr(_symspell_del_keys("word", max_edit_distance))
        ).alias("k"),
    )
    tkeys = typos.select(
        "typo",
        F.explode(
            F.expr(_symspell_del_keys("typo", max_edit_distance))
        ).alias("k"),
    )
    cand = tkeys.join(dkeys, "k").select("typo", "word").distinct()
    ver = (
        cand.join(dictionary, "word")
        .filter(F.levenshtein("typo", "word").between(1, max_edit_distance))
        .select("typo", F.col("word").alias("correction"), "corr_count")
    )
    rn = F.row_number().over(
        W.partitionBy("typo").orderBy(F.col("corr_count").desc(), "correction")
    )
    return (
        ver.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("typo", "correction", "corr_count")
    )
