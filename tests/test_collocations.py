"""PMI-lift collocation mining: a planted always-together pair ranks
first, independent frequent pairs are filtered by the positive-PMI
fence, and the full top-50 output matches an exact-integer Python
replica of the lift formula. Event-basket association rules are
checked the same way against an exact replica."""

from __future__ import annotations

import os
import tempfile
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dev_dot_cvp_metadata_ingestion_spark.plans import registry

registry.load_all()
QUERIES = registry.QUERIES

# the engine-stable ASCII-only fold (functions.text.ascii_lower twin)
_ASCII_FOLD = str.maketrans(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
)


def _replica_top50(texts):
    c12: Counter = Counter()
    for txt in texts:
        t = [w for w in txt.translate(_ASCII_FOLD).split() if w]
        for i in range(len(t) - 1):
            c12[(t[i], t[i + 1])] += 1
    cl: Counter = Counter()
    cr: Counter = Counter()
    for (w1, w2), c in c12.items():
        cl[w1] += c
        cr[w2] += c
    bb = sum(c12.values())
    scored = []
    for (w1, w2), c in c12.items():
        if c < 5:
            continue
        lift = (c * bb * 1_000_000) // (cl[w1] * cr[w2])
        if lift > 1_000_000:
            scored.append((w1, w2, c, cl[w1], cr[w2], lift))
    scored.sort(key=lambda r: (-r[5], -r[2], r[0], r[1]))
    return scored[:50]


def test_planted_collocation_ranks_first(spark):
    # "golden gate" always co-occurs; filler words are frequent but
    # combine independently, so their lift hovers near 1.0 and the
    # positive-PMI fence drops them
    texts = []
    for i in range(40):
        filler = f"the of and to a in {['x', 'y', 'z'][i % 3]} the of and"
        texts.append(f"{filler} golden gate {filler}")
    rows = [(i, t) for i, t in enumerate(texts)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        got = [
            (r.w1, r.w2, r.c12, r.cl, r.cr, r.lift_ppm)
            for r in QUERIES["text_collocations_pmi"](spark, d).collect()
        ]
    want = _replica_top50(texts)
    assert got == want
    assert got[0][:2] == ("golden", "gate")
    # "gate" only ever follows "golden": c12 == cl == cr == 40, so the
    # pair's lift is exactly B/40 in ppm
    assert got[0][2] == got[0][3] == got[0][4] == 40
    assert got[0][5] > 1_000_000
    # no independent filler pair survives the fence with high lift:
    # every surviving pair is either the planted one or a fixed
    # filler-sequence bigram whose lift the replica also produced
    assert all(g in want for g in got)


@pytest.mark.slow
def test_association_rules_planted_cooccurrence(spark):
    """Users who 'add_to_cart' overwhelmingly also 'purchase' while
    'browse' is independent background: the cart->purchase rule must
    carry high confidence and lift > 1e6; the browse pairs hover at
    lift ~= 1e6. Exact metrics vs a Python replica."""
    rows = []
    eid = 0
    baskets = {}
    for u in range(40):
        types = {"browse"}
        if u % 2 == 0:
            types |= {"add_to_cart", "purchase"}  # always together
        if u % 5 == 0:
            types.add("search")
        baskets[u] = types
        for t in sorted(types):
            rows.append((eid, f"2024-06-01 10:{eid % 60:02d}:00", u, t))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.ante, r.cons): (
                r.c_xy, r.c_ante, r.c_cons,
                r.support_ppm, r.confidence_ppm, r.lift_ppm,
            )
            for r in QUERIES["events_association_rules"](
                spark, d
            ).collect()
        }
    # replica
    n = len(baskets)
    ct = Counter(t for ts in baskets.values() for t in ts)
    cxy = Counter()
    for ts in baskets.values():
        st = sorted(ts)
        for i in range(len(st)):
            for j in range(i + 1, len(st)):
                cxy[(st[i], st[j])] += 1
    want = {}
    for (x, y), c in cxy.items():
        if c < 2:
            continue
        want[(x, y)] = (
            c, ct[x], ct[y],
            c * 10**6 // n,
            c * 10**6 // ct[x],
            c * n * 10**6 // (ct[x] * ct[y]),
        )
    assert got == want
    cart = got[("add_to_cart", "purchase")]
    assert cart[4] == 1_000_000          # confidence: always together
    assert cart[5] == 2_000_000          # lift = n/c(purchase) = 2
    assert got[("add_to_cart", "browse")][5] == 1_000_000  # independent
