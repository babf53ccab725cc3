"""Property-based tests (hypothesis) for operators whose correctness is
an algebraic invariant rather than a golden value: packing must place
every document exactly once within budget geometry, and the distributed
as-of join must agree with a brute-force per-row evaluation on ANY
(keys, timestamps, duplicates) input. Spark jobs are slow per example,
so examples are capped low — the generators still cover empty docs,
duplicate timestamps, unmatched keys, and singleton shards."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hdinsight_pyspark_cntk_integration_spark.operators import pipeline as pl
from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=30),
    budget=st.integers(min_value=1, max_value=17),
    n_shards=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_pack_chunks_properties(spark, tokens, budget, n_shards):
    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pl.pack_chunks(df, budget=budget, n_shards=n_shards).collect()
    assert len(out) == len(rows)  # every doc placed exactly once
    per_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r["shard"] < n_shards
        assert 0 <= r["offset_in_block"] < budget
        assert r["first_block"] <= r["last_block"]
        per_shard.setdefault(r["shard"], []).append(r)
    tok = dict(rows)
    for shard, members in per_shard.items():
        members.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in members:
            t = tok[r["doc_id"]]
            # spans follow the exact concat-stream arithmetic
            assert r["first_block"] == cum // budget
            assert r["offset_in_block"] == cum % budget
            assert r["last_block"] == (cum if t == 0 else cum + t - 1) // budget
            cum += t


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=0, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=15,
    ),
    strict=st.booleans(),
)
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right, strict):
    # de-dup right (key, ts) so "last wins" nondeterminism can't flake the
    # comparison — dedup_right=True exercises the operator's own dedup.
    lrows = [(k, ts, i) for i, (k, ts) in enumerate(left)]
    if not lrows:
        return
    ldf = spark.createDataFrame(lrows, "k int, ts int, row_id int")
    rdf = (
        spark.createDataFrame(right, "k int, rts int, val int")
        if right
        else spark.createDataFrame([], "k int, rts int, val int")
    )
    out = rel.asof_join(
        ldf, rdf, ["k"], "ts", "rts", ["val"], strict=strict, dedup_right=True
    ).collect()
    assert len(out) == len(lrows)
    # brute force: max val among right rows at the winning timestamp
    best = {}
    for k, ts, i in lrows:
        cand = [
            (rts, val)
            for (rk, rts, val) in right
            if rk == k and (rts < ts if strict else rts <= ts)
        ]
        if cand:
            win_ts = max(rts for rts, _ in cand)
            best[i] = max(val for rts, val in cand if rts == win_ts)
        else:
            best[i] = None
    got = {r["row_id"]: r["val"] for r in out}
    assert got == best


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=50),
)
@settings(**_SETTINGS)
def test_split_assign_is_total_and_deterministic(spark, ids):
    df = spark.createDataFrame([(i,) for i in set(ids)], "doc_id long")
    weights = {"train": 0.7, "val": 0.2, "test": 0.1}
    out = {
        r["doc_id"]: r["split"]
        for r in pl.split_assign(df, weights, method="knuth").collect()
    }
    assert set(out) == set(ids)  # total: every id assigned
    assert set(out.values()) <= set(weights)
    again = {
        r["doc_id"]: r["split"]
        for r in pl.split_assign(df.repartition(3), weights, method="knuth").collect()
    }
    assert out == again  # partition-independent


@given(
    n_tokens=st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=12),
    size=st.integers(min_value=1, max_value=12),
    stride_frac=st.floats(min_value=0.1, max_value=1.0),
)
@settings(**_SETTINGS)
def test_chunk_with_overlap_properties(spark, n_tokens, size, stride_frac):
    stride = max(1, int(size * stride_frac))
    rows = [(i, [f"t{i}_{j}" for j in range(n)]) for i, n in enumerate(n_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    out = pl.chunk_with_overlap(df, size=size, stride=stride)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, toks in rows:
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r["start"])
        n = len(toks)
        if n <= size:
            # short doc: exactly one chunk, the whole doc
            assert len(chunks) == 1 and chunks[0]["chunk"] == toks
            continue
        # starts form the exact arithmetic progression 0, stride, ... n-size
        assert [c["start"] for c in chunks] == list(range(0, n - size + 1, stride))
        for c in chunks:
            # every full window is verbatim source text of length `size`
            assert c["chunk"] == toks[c["start"] : c["start"] + size]
            assert c["chunk_len"] == size
        # consecutive windows overlap by exactly size - stride tokens
        for a, b in zip(chunks, chunks[1:]):
            assert a["chunk"][stride:] == b["chunk"][: size - stride]


@given(
    strata=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.integers()),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    frac=st.floats(min_value=0.05, max_value=0.95),
)
@settings(**_SETTINGS)
def test_stratified_split_properties(spark, strata, frac):
    import math

    rows = [(abs(i) % (10**9), f"s{g}") for g, i in strata]
    rows = list({r[0]: r for r in rows}.values())  # ids unique after abs/mod
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = pl.stratified_split(df, "stratum", train_frac=frac).collect()
    assert len(out) == len(rows)  # every row labeled exactly once
    per: dict[str, list] = {}
    for r in out:
        per.setdefault(r["stratum"], []).append(r["split"])
    for stratum, labels in per.items():
        n = len(labels)
        # exact proportional share, rounded up — never an empty train set
        assert labels.count("train") == math.ceil(frac * n)
        assert labels.count("test") == n - math.ceil(frac * n)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=12
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.integers(0, 99)),
        min_size=0,
        max_size=12,
    ),
    strict=st.booleans(),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.one_of(st.none(), st.integers(0, 8)),
    null_safe=st.booleans(),
)
@settings(**_SETTINGS)
def test_asof_join_directional_tolerance_matches_bruteforce(
    spark, left, right, strict, direction, tolerance, null_safe
):
    """The full parameter grid — direction x strict x tolerance x
    null_safe — against a per-row brute force. dedup_right collapses
    duplicate (k, rts) to max(val), which the brute force replicates."""
    lrows = [(k, ts, i) for i, (k, ts) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "k int, ts int, row_id int")
    rdf = (
        spark.createDataFrame(right, "k int, rts int, val int")
        if right
        else spark.createDataFrame([], "k int, rts int, val int")
    )
    out = rel.asof_join(
        ldf, rdf, ["k"], "ts", "rts", ["val"],
        strict=strict, dedup_right=True, direction=direction,
        tolerance_seconds=tolerance, null_safe=null_safe,
    ).collect()
    assert len(out) == len(lrows)
    rmax = {}
    for rk, rts, val in right:
        rmax[(rk, rts)] = max(val, rmax.get((rk, rts), val))
    best = {}
    for k, ts, i in lrows:
        if direction == "backward":
            cand = [
                (rts, v) for (rk, rts), v in rmax.items()
                if rk == k and (rts < ts if strict else rts <= ts)
            ]
            win = max((rts for rts, _ in cand), default=None)
        else:
            cand = [
                (rts, v) for (rk, rts), v in rmax.items()
                if rk == k and (rts > ts if strict else rts >= ts)
            ]
            win = min((rts for rts, _ in cand), default=None)
        if win is None:
            best[i] = None
        elif tolerance is not None and abs(win - ts) > tolerance:
            best[i] = None
        else:
            best[i] = dict(cand)[win]
    got = {r["row_id"]: r["val"] for r in out}
    assert got == best


@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40
    ),
    n_buckets=st.integers(min_value=1, max_value=12),
)
@settings(**_SETTINGS)
def test_histogram_fixed_properties(spark, values, n_buckets):
    """Every row lands in exactly one bucket (clamped into range), counts
    sum to n, per-bucket min <= max, and bucket ids are within range."""
    df = spark.createDataFrame([(v,) for v in values], "v double")
    out = rel.histogram_fixed(df, "v", -100.0, 100.0, n_buckets).collect()
    assert sum(r["n"] for r in out) == len(values)
    for r in out:
        assert 0 <= r["bucket"] < n_buckets
        assert r["min_v"] <= r["max_v"]


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=4),
    target=st.integers(min_value=0, max_value=60),
    alpha=st.sampled_from([0.0, 0.5, 1.0]),
)
@settings(**_SETTINGS)
def test_temperature_mixture_properties(spark, sizes, target, alpha):
    """Sample is a subset of the input, deterministic under
    repartitioning, never exceeds the group size, and target=0 keeps
    nothing."""
    rows = [
        (g * 1000 + i, f"g{g}") for g, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = pl.temperature_mixture(df, target_rows=target, alpha=alpha, method="knuth")
    got = sorted(r["doc_id"] for r in kept.collect())
    assert set(got) <= {r[0] for r in rows}
    again = sorted(
        r["doc_id"]
        for r in pl.temperature_mixture(
            df.repartition(5), target_rows=target, alpha=alpha, method="knuth"
        ).collect()
    )
    assert got == again
    if target == 0:
        assert got == []
    per_group = {}
    for d in got:
        per_group[d // 1000] = per_group.get(d // 1000, 0) + 1
    for g, n in enumerate(sizes):
        assert per_group.get(g, 0) <= n


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda e: (e[0], e[1]),
    ),
    iters=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_pagerank_integer_matches_python_on_random_graphs(spark, edges, iters):
    """Distributed integer PageRank equals the exact Python-int replica
    on arbitrary small weighted digraphs (self-loops included), and total
    mass never exceeds the conservation bound n*1e6 (floor divisions and
    dangling nodes only LEAK mass)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import graph as gr
    from tests.test_graph import _py_pagerank

    df = spark.createDataFrame(edges, "src int, dst int, weight long")
    got = {r["node"]: r["rank_micro"] for r in gr.pagerank_integer(df, iters=iters).collect()}
    assert got == _py_pagerank(edges, iters=iters)
    assert sum(got.values()) <= len(got) * 1_000_000


def test_asof_nearest_matches_pandas_incl_ties(spark):
    """asof_join_nearest vs pandas merge_asof(direction='nearest') on
    random keyed series, including an explicit equidistant tie (pandas
    and we both break backward) and the tolerance cut."""
    import numpy as np
    import pandas as pd

    from hdinsight_pyspark_cntk_integration_spark.operators import relational as rel

    rng = np.random.default_rng(4)
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 40),
            "lid": range(40),
            "ts": pd.to_datetime(rng.integers(0, 1_000, 40), unit="s"),
        }
    )
    # explicit tie: left at 5000s, right at 4990s and 5010s
    left = pd.concat(
        [left, pd.DataFrame({"k": [9], "lid": [999], "ts": pd.to_datetime([5000], unit="s")})]
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 30),
            "rts": pd.to_datetime(rng.integers(0, 1_000, 30), unit="s"),
            "val": rng.integers(0, 100, 30).astype("int64"),
        }
    )
    right = pd.concat(
        [
            right,
            pd.DataFrame(
                {"k": [9, 9], "rts": pd.to_datetime([4990, 5010], unit="s"), "val": [111, 222]}
            ),
        ]
    )
    right = right.groupby(["k", "rts"], as_index=False).first()
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    out = rel.asof_join_nearest(
        ldf, rdf, ["k"], "ts", "rts", ["val"], "lid", tolerance_seconds=200
    )
    got = {r["lid"]: r["val"] for r in out.collect()}
    exp = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("rts").rename(columns={"rts": "ts"}),
        on="ts",
        by="k",
        direction="nearest",
        tolerance=pd.Timedelta(seconds=200),
    )
    for _, row in exp.iterrows():
        e = None if pd.isna(row["val"]) else int(row["val"])
        assert got[row["lid"]] == e, row["lid"]
    assert got[999] == 111  # backward wins the 10s/10s tie


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
@settings(**_SETTINGS)
def test_skyline_2d_property_vs_bruteforce(spark, pts, parts):
    """skyline_2d == the NOT-EXISTS definition on arbitrary small integer
    point sets (heavy ties by construction), under any partitioning."""
    df = spark.createDataFrame(
        [(i, float(p), s) for i, (p, s) in enumerate(pts)],
        "id int, price double, size int",
    ).repartition(parts)
    got = sorted(
        (r["price"], r["size"]) for r in rel.skyline_2d(df, "price", "size").collect()
    )
    want = sorted(
        (float(p), s)
        for (p, s) in pts
        if not any(
            q <= p and t >= s and (q < p or t > s) for (q, t) in pts
        )
    )
    assert got == want


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=1,
        max_size=25,
    ),
    alpha=st.sampled_from([0.25, 0.5, 0.75]),
    depth=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_ewma_bounded_property_vs_reference(spark, vals, alpha, depth):
    """ewma_bounded == the truncated closed-form reference for arbitrary
    series, alphas, and depths (the lag-chain construction must match
    the loop-built formula exactly up to fp association)."""
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, i int, x double")
    got = {
        r["i"]: r["ewma"]
        for r in rel.ewma_bounded(
            df, key_col="k", order_cols=["i"], value_col="x",
            alpha=alpha, depth=depth,
        ).collect()
    }
    xs = [float(v) for v in vals]
    for t in range(len(xs)):
        num = den = 0.0
        for j in range(depth):
            if t - j < 0:
                break
            c = alpha * ((1 - alpha) ** j)
            num += c * xs[t - j]
            den += c
        assert abs(got[t] - num / den) < 1e-9, (t, got[t], num / den)


@given(
    docs=st.lists(
        st.text(
            alphabet=st.sampled_from(
                list("abcdefgh THE the and of to be#.\n-*")
            ),
            min_size=0,
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**_SETTINGS)
def test_gopher_rules_matches_python_reference(spark, docs):
    """gopher_rules vs a direct Python evaluation of the same integer
    rule algebra on arbitrary small documents (whitespace runs, bullet
    lines, symbols, empty strings)."""
    import re

    from hdinsight_pyspark_cntk_integration_spark.operators import text as tx

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in tx.gopher_rules(df, min_words=5).collect()}
    stop = {"the", "be", "to", "of", "and", "that", "have", "with"}
    for i, t in enumerate(docs):
        words = [w for w in re.split(r"\s+", t.strip(), flags=re.ASCII) if w]
        lines = t.split("\n")
        n_words, n_lines = len(words), len(lines)
        word_chars = len(re.sub(r"\s+", "", t.strip(), flags=re.ASCII))
        hash_count = t.count("#")
        ell3 = len(t) - len(t.replace("...", ""))
        n_bullet = sum(l.startswith(("- ", "* ", "• ")) for l in lines)
        n_ell = sum(l.strip().endswith("...") for l in lines)
        n_alpha = sum(bool(re.search("[A-Za-z]", w)) for w in words)
        n_stop = sum(w.lower() in stop for w in words)
        exp = {
            "r_word_count": 5 <= n_words <= 100_000,
            "r_mean_word_len": 3 * n_words <= word_chars <= 10 * n_words,
            "r_symbol_ratio": 30 * hash_count + 10 * ell3 <= 3 * n_words,
            "r_bullet_lines": 10 * n_bullet <= n_lines,
            "r_ellipsis_lines": 10 * n_ell <= 3 * n_lines,
            "r_alpha_words": 5 * n_alpha >= 4 * n_words,
            "r_stopwords": n_stop >= 2,
        }
        g = got[i]
        assert g["n_words"] == n_words, (i, t)
        for k, v in exp.items():
            assert g[k] == v, (i, k, t)
        assert g["keep"] == all(exp.values())


@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
    host=st.sampled_from(["Example.com", "a.B.co", "X.IO"]),
    path=st.sampled_from(["", "/", "/A/b", "/A/b/", "/p"]),
    params=st.lists(
        st.sampled_from(["a=1", "b=2", "utm_source=x", "fbclid=z", "Z=9", "gclid=1", "ref=h"]),
        min_size=0, max_size=5,
    ),
    frag=st.sampled_from(["", "#f", "#sec2"]),
)
@settings(**_SETTINGS)
def test_canonical_url_idempotent_and_tracking_free(spark, scheme, host, path, params, frag):
    """canonical(canonical(u)) == canonical(u); no tracking params or
    fragments survive; scheme and host come out lowercase."""
    from hdinsight_pyspark_cntk_integration_spark.functions.textfns import canonical_url

    q = "&".join(params)
    url = f"{scheme}://{host}{path}" + (f"?{q}" if q else "") + frag
    df = spark.createDataFrame([(url,)], "url string")
    [r1] = df.select(canonical_url("url").alias("c")).collect()
    [r2] = spark.createDataFrame([(r1["c"],)], "url string").select(
        canonical_url("url").alias("c")
    ).collect()
    c = r1["c"]
    assert r2["c"] == c  # idempotent
    assert "#" not in c
    assert "utm_" not in c and "fbclid" not in c and "gclid" not in c and "ref=" not in c
    sh = c.split("://")[0]
    hostpart = c.split("://")[1].split("/")[0].split("?")[0]
    assert sh == sh.lower() and hostpart == hostpart.lower()


@given(
    baskets=st.lists(
        st.tuples(st.integers(min_value=0, max_value=6), st.sampled_from("ABCDE")),
        min_size=1,
        max_size=40,
    ),
    min_support=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_frequent_pairs_matches_bruteforce(spark, baskets, min_support):
    from itertools import combinations

    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    df = spark.createDataFrame(baskets, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r.asDict()
        for r in mn.frequent_pairs(
            df, "basket", "item", min_support=min_support, min_pair_support=1
        ).collect()
    }
    # brute force on python sets
    by_basket: dict[int, set] = {}
    for b, it in baskets:
        by_basket.setdefault(b, set()).add(it)
    n_baskets = len(by_basket)
    item_n: dict[str, int] = {}
    for its in by_basket.values():
        for it in its:
            item_n[it] = item_n.get(it, 0) + 1
    freq = {it for it, n in item_n.items() if n >= min_support}
    expected: dict[tuple, int] = {}
    for its in by_basket.values():
        for a, b in combinations(sorted(its & freq), 2):
            expected[(a, b)] = expected.get((a, b), 0) + 1
    assert set(got) == set(expected)
    for (a, b), n in expected.items():
        r = got[(a, b)]
        assert r["pair_n"] == n
        assert r["n_a"] == item_n[a] and r["n_b"] == item_n[b]
        assert r["n_baskets"] == n_baskets
        assert r["conf_a_b_micro"] == n * 1_000_000 // item_n[a]
        assert r["lift_micro"] == int(n * n_baskets * 1_000_000 / (item_n[a] * item_n[b]))


@given(
    amounts=st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=20),
    thr_micro=st.sampled_from([200_000, 500_000, 800_000, 990_000]),
)
@settings(**_SETTINGS)
def test_pareto_contribution_matches_bruteforce(spark, amounts, thr_micro):
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    rows = [("g", i, a) for i, a in enumerate(amounts)]
    df = spark.createDataFrame(rows, "grp string, entity long, cents long")
    r = mn.pareto_contribution(
        df, "grp", "entity", "cents", threshold_micro=thr_micro
    ).collect()[0]
    # brute force: sort desc (entity asc ties), accumulate while the
    # PRECEDING cumulative total is still under the threshold
    order = sorted(range(len(amounts)), key=lambda i: (-amounts[i], i))
    total = sum(amounts)
    cum, n_cov, covered = 0, 0, 0
    for i in order:
        if cum / total < thr_micro / 1_000_000:
            n_cov += 1
            covered += amounts[i]
        cum += amounts[i]
    assert r["n_to_threshold"] == n_cov
    assert r["n_entities"] == len(amounts)
    import math

    assert r["top_share_micro"] == math.floor(covered / total * 1_000_000)


@given(
    sets=st.tuples(
        st.sets(st.integers(min_value=0, max_value=300), min_size=1, max_size=120),
        st.sets(st.integers(min_value=0, max_value=300), min_size=1, max_size=120),
    )
)
@settings(**_SETTINGS)
def test_kmv_exact_regime_matches_set_algebra(spark, sets):
    from hdinsight_pyspark_cntk_integration_spark.operators import sketch as sk

    sa, sb = sets
    rows = [("A", v) for v in sa] + [("B", v) for v in sb]
    df = spark.createDataFrame(rows, "grp string, v long")
    sketches = sk.kmv_sketch_by_group(df, "grp", "v", k=512)
    out = sk.kmv_intersect_estimate(sketches, k=512).collect()
    assert len(out) == 1
    r = out[0]
    # below k the sketch is complete: estimates ARE the exact values
    assert r["union_est"] == len(sa | sb)
    assert r["intersect_est"] == len(sa & sb)


@given(
    gaps=st.lists(st.integers(min_value=0, max_value=10**9), min_size=2, max_size=20),
)
@settings(**_SETTINGS)
def test_burstiness_matches_numpy_reference(spark, gaps):
    """B from the distributed DECIMAL-moment pipeline equals the
    straightforward float computation over the same gap multiset, for
    ANY gap structure (zeros, ties, huge spreads)."""
    import math
    from datetime import datetime, timedelta

    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stx

    base = datetime(2026, 1, 1)
    ts, acc = [base], 0
    for g in gaps:
        acc += g
        ts.append(base + timedelta(microseconds=acc))
    df = spark.createDataFrame([(1, t) for t in ts], "user_id long, ts timestamp")
    [r] = stx.burstiness(df, "user_id", "ts").collect()
    n = len(gaps)
    mu = sum(gaps) / n
    var = (n * sum(g * g for g in gaps) - sum(gaps) ** 2) / (n * n)
    sigma = math.sqrt(max(var, 0.0))
    if sigma + mu == 0:
        want = -1_000_000
    else:
        want = math.floor((sigma - mu) / (sigma + mu) * 1_000_000)
    assert r["n_gaps"] == n
    assert r["mean_gap_us"] == sum(gaps) // n
    assert r["burstiness_micro"] == want


@given(
    seq=st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=25),
)
@settings(**_SETTINGS)
def test_markov_transitions_match_bruteforce(spark, seq):
    from collections import Counter
    from datetime import datetime, timedelta

    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mnx

    base = datetime(2026, 1, 1)
    rows = [(1, s, base + timedelta(seconds=i)) for i, s in enumerate(seq)]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {(r["src"], r["dst"]): (r["n"], r["n_src"], r["prob_micro"])
           for r in mnx.markov_transitions(df, "user_id", "event_type", "ts").collect()}
    pairs = Counter(zip(seq, seq[1:]))
    srcs = Counter(s for s, _ in zip(seq, seq[1:]))
    want = {
        (s, d): (n, srcs[s], 1_000_000 * n // srcs[s]) for (s, d), n in pairs.items()
    }
    assert got == want


@given(
    weights=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=25),
    k=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_weighted_reservoir_matches_bruteforce(spark, weights, k):
    """For ANY weight vector (zeros excluded by contract) the sample is
    exactly the k ids with the largest max-of-w md5 priorities, ranked
    (priority DESC, id)."""
    import hashlib

    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mnx

    rows = [("g", i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "grp string, id long, w long")
    got = sorted(
        (r["rank"], r["id"]) for r in
        mnx.weighted_reservoir_sample(df, "grp", "id", "w", k=k).collect()
    )

    def pri(i, w):
        return max(
            int(hashlib.md5(f"{i}_{c}".encode()).hexdigest()[:15], 16)
            for c in range(1, w + 1)
        )

    eligible = sorted(
        ((-pri(i, w), i) for (_, i, w) in rows if w >= 1)
    )[:k]
    want = sorted((rk + 1, i) for rk, (_, i) in enumerate(eligible))
    assert got == want


@given(
    xs=st.lists(st.integers(min_value=1, max_value=100_000), min_size=4, max_size=25),
    max_lag=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_autocorrelation_properties(spark, xs, max_lag):
    """ACF is bounded-ish and exactly replicates the scaled-integer
    formula; lag-0 identity is implicit (den == num at l=0)."""
    import math

    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    df = spark.createDataFrame(
        [("k", i, int(v)) for i, v in enumerate(xs)], "k string, t int, v long"
    )
    got = {
        r["lag"]: r["acf_micro"]
        for r in stt.autocorrelation(df, "k", "t", "v", max_lag=max_lag).collect()
    }
    n, S = len(xs), sum(xs)
    Q = sum(v * v for v in xs)
    dens = n * (n * Q - S * S)
    for l in range(1, max_lag + 1):
        if n - l <= 0 or dens == 0:
            assert l not in got
            continue
        P = sum(xs[i] * xs[i - l] for i in range(l, n))
        T, H, m = sum(xs[l:]), sum(xs[: n - l]), n - l
        num = n * n * P - n * S * (T + H) + m * S * S
        assert got[l] == math.floor(num / dens * 1e6)
        # Cauchy-Schwarz keeps |r| <= ~1 (floor can nick one micro)
        assert -1_000_001 <= got[l] <= 1_000_000


@given(
    weights=st.dictionaries(
        st.sampled_from(["aa", "bb", "cc", "dd"]),
        st.integers(min_value=-5, max_value=9),
        min_size=1,
        max_size=4,
    ),
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), max_size=12),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_dictionary_tag_matches_python_property(spark, weights, docs):
    """On arbitrary corpora and dictionaries, every per-document total
    replicates plain Python counting."""
    from hdinsight_pyspark_cntk_integration_spark.operators import text as txt

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    by_id = {r[0]: tuple(r[1:]) for r in txt.dictionary_tag(df, weights).collect()}
    for i, toks in enumerate(docs):
        hits = [t for t in toks if t in weights]
        assert by_id[i] == (
            len(toks), len(hits), len(set(hits)), sum(weights[t] for t in hits)
        )


@given(
    xs=st.lists(
        st.integers(min_value=1, max_value=1_000_000), min_size=2, max_size=20
    ),
    alpha_c=st.integers(min_value=1, max_value=10),
    beta_c=st.integers(min_value=1, max_value=10),
)
@settings(**_SETTINGS)
def test_holt_linear_matches_python_fold_property(spark, xs, alpha_c, beta_c):
    import math

    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    alpha, beta = alpha_c / 10.0, beta_c / 10.0
    df = spark.createDataFrame(
        [("k", i, int(v)) for i, v in enumerate(xs)], "k string, t int, v long"
    )
    [r] = stt.holt_linear(df, "k", "t", "v", alpha=alpha, beta=beta).collect()
    l, b = float(xs[1]), float(xs[1]) - float(xs[0])
    for x in map(float, xs[2:]):
        ln = alpha * x + (1.0 - alpha) * (l + b)
        b = beta * (ln - l) + (1.0 - beta) * b
        l = ln
    assert r["level_micro"] == math.floor(l * 1e6)
    assert r["trend_micro"] == math.floor(b * 1e6)
    assert r["forecast_micro"] == math.floor((l + b) * 1e6)


@given(
    cents=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=60
    ),
    qs=st.lists(
        st.integers(min_value=1, max_value=1_000_000),
        min_size=1, max_size=4, unique=True,
    ),
)
@settings(**_SETTINGS)
def test_exact_quantiles_match_python_order_statistic(spark, cents, qs):
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [("g", c / 100.0) for c in cents]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["q_ppm"]: r["value_cents"]
        for r in stt.exact_group_quantiles(df, "g", "v", qs).collect()
    }
    sv = sorted(cents)
    n = len(sv)
    for q in qs:
        # type-1 lower quantile: the ceil(q*n/1e6)-th smallest (1-based)
        k = (q * n + 999_999) // 1_000_000
        assert got[q] == sv[k - 1]


@given(
    cents=st.lists(
        st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=60
    ),
    trim_ppm=st.integers(min_value=0, max_value=499_999),
)
@settings(**_SETTINGS)
def test_trimmed_mean_matches_python_reference(spark, cents, trim_ppm):
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [("g", c / 100.0) for c in cents]
    df = spark.createDataFrame(rows, "g string, v double")
    sv = sorted(cents)
    n = len(sv)
    lo = n * trim_ppm // 1_000_000
    kept = sv[lo: n - lo]
    out = stt.trimmed_mean(df, "g", "v", trim_ppm=trim_ppm).collect()
    if not kept:
        assert out == []
        return
    [r] = out
    assert r["n_kept"] == len(kept)
    import math
    assert r["tmean_micro"] == math.floor(sum(kept) / len(kept) * 10_000.0)


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-500, max_value=500),   # value cents
            st.integers(min_value=1, max_value=9),        # weight
        ),
        min_size=1, max_size=40,
    ),
)
@settings(**_SETTINGS)
def test_weighted_median_matches_python_reference(spark, pairs):
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [("g", c / 100.0, w) for c, w in pairs]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    [r] = stt.weighted_median(df, "g", "v", "w").collect()
    total = sum(w for _, w in pairs)
    cum = 0
    expect = None
    for c, w in sorted(pairs):
        cum += w
        if 2 * cum >= total:
            expect = c
            break
    assert r["wmedian_cents"] == expect and r["total_weight"] == total


# --- round-12 eval/agreement invariants ---


@given(
    diffs=st.lists(
        st.integers(min_value=-20, max_value=20), min_size=1, max_size=40
    ),
)
@settings(**_SETTINGS)
def test_wilcoxon_rank_conservation(spark, diffs):
    """For ANY paired sample: doubled ranks are conserved —
    W+2 + W-2 = n(n+1) over the nonzero differences — and zeros are
    excluded exactly."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [(d, 0) for d in diffs]
    df = spark.createDataFrame(rows, "x long, y long")
    [r] = stt.wilcoxon_signed_rank(df).collect()
    nz = [d for d in diffs if d != 0]
    assert r["n_pairs"] == len(nz)
    assert r["n_zero"] == len(diffs) - len(nz)
    if nz:
        assert r["w_plus_double"] + r["w_minus_double"] == len(nz) * (len(nz) + 1)


@given(
    ratings=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=2, max_size=30,
    ),
)
@settings(**_SETTINGS)
def test_weighted_kappa_bounds_and_perfection(spark, ratings):
    """Perfect self-agreement is exactly 1e6 for any marginal shape;
    the general statistic matches a direct python evaluation of the
    cross-multiplied identity."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    df = spark.createDataFrame(ratings, "rating_a long, rating_b long")
    [r] = stt.weighted_kappa(df).collect()
    n = len(ratings)
    swo = sum((a - b) ** 2 for a, b in ratings)
    ra, cb = {}, {}
    for a, b in ratings:
        ra[a] = ra.get(a, 0) + 1
        cb[b] = cb.get(b, 0) + 1
    swe = sum((i - j) ** 2 * ri * cj for i, ri in ra.items() for j, cj in cb.items())
    assert r["sum_w_obs"] == swo and r["sum_w_exp"] == swe
    if swe == 0:
        assert r["kappa_micro"] is None
    else:
        assert r["kappa_micro"] == 10**6 - n * swo * 10**6 // swe
    [p] = stt.weighted_kappa(
        spark.createDataFrame([(a, a) for a, _ in ratings], "rating_a long, rating_b long")
    ).collect()
    assert p["kappa_micro"] is None or p["kappa_micro"] == 10**6
    # self-agreement: swo = 0, so kappa is 1e6 unless a single category
    # makes the expected disagreement 0 (degenerate -> NULL)


@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # stratum
            st.booleans(),                           # treated
            st.booleans(),                           # outcome
        ),
        min_size=4, max_size=60,
    ),
)
@settings(**_SETTINGS)
def test_mantel_haenszel_single_stratum_equals_crude(spark, cells):
    """With every row forced into ONE stratum, the MH pooled OR must
    equal the crude OR up to the documented truncation points."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [("only", int(t), int(y)) for _, t, y in cells]
    df = spark.createDataFrame(rows, "stratum string, treated int, outcome int")
    [r] = stt.mantel_haenszel(df).collect()
    a = sum(1 for _, t, y in cells if t and y)
    b = sum(1 for _, t, y in cells if t and not y)
    c = sum(1 for _, t, y in cells if not t and y)
    d = sum(1 for _, t, y in cells if not t and not y)
    n = a + b + c + d
    ssr = a * d * 10**6 // n
    sss = b * c * 10**6 // n
    assert (r["sum_r_micro"], r["sum_s_micro"]) == (ssr, sss)
    if sss:
        assert r["or_mh_micro"] == ssr * 10**6 // sss
    else:
        assert r["or_mh_micro"] is None
    if b * c:
        assert r["or_crude_micro"] == a * d * 10**6 // (b * c)


@given(
    scores=st.lists(
        st.integers(min_value=0, max_value=30), min_size=3, max_size=40
    ),
)
@settings(**_SETTINGS)
def test_conformal_qhat_is_exact_order_statistic(spark, scores):
    """qhat must be EXACTLY the ceil((n+1)*0.9)-th smallest calibration
    score (clamped to the max when k > n), for any tie structure."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    cal = spark.createDataFrame([(s,) for s in scores], "score long")
    test = spark.createDataFrame([(s,) for s in range(0, 31)], "score long")
    rows = stt.conformal_calibration(cal, test).collect()
    n = len(scores)
    k = ((n + 1) * 9 + 9) // 10
    srt = sorted(scores)
    if k <= n:
        [r] = rows
        assert r["qhat"] == srt[k - 1]
        assert r["n_covered"] == sum(1 for s in range(0, 31) if s <= srt[k - 1])
    else:
        # k beyond the sample: no value reaches the cumulative cut
        assert rows == [] or rows[0]["qhat"] == srt[-1]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # class
            st.integers(min_value=0, max_value=3),   # sensitive value
        ),
        min_size=1, max_size=40,
    ),
)
@settings(**_SETTINGS)
def test_t_closeness_matches_python_tvd(spark, rows):
    """max_tvd must equal the python replay of the exact rational TVD
    (including the absent-value mass) for ANY class/value shape, and a
    single-class table is always 0-close (its distribution IS the
    global one)."""
    df = spark.createDataFrame(
        [(f"c{c}", v) for c, v in rows], "grp string, sv long"
    )
    [r] = pl.t_closeness(df, ["grp"], "sv", t_micro=0).collect()
    from collections import Counter

    g = Counter(v for _, v in rows)
    G = len(rows)
    tvds = []
    for c in {c for c, _ in rows}:
        q = Counter(v for cc, v in rows if cc == c)
        qc = sum(q.values())
        present = sum(abs(q[v] * G - g[v] * qc) for v in q)
        absent = qc * (G - sum(g[v] for v in q))
        tvds.append((present + absent) * 10**6 // (2 * qc * G))
    assert r["max_tvd_micro"] == max(tvds)
    assert r["n_violating_classes"] == sum(1 for t in tvds if t > 0)
    one = spark.createDataFrame(
        [("only", v) for _, v in rows], "grp string, sv long"
    )
    [r1] = pl.t_closeness(one, ["grp"], "sv").collect()
    assert r1["max_tvd_micro"] == 0


@given(
    n=st.integers(min_value=1, max_value=25),
    window=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_sorted_neighborhood_candidate_count_formula(spark, n, window):
    """One block of n records at window w must enumerate EXACTLY
    n*w - w(w+1)/2 pairs when w < n (each of the last w records pairs
    with fewer), and n(n-1)/2 when w >= n - the linear-candidate
    contract the linkage rehearsal measures."""
    from hdinsight_pyspark_cntk_integration_spark.operators import mining as mn

    rows = [(i, "b", i * 3, i % 2) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, blk string, v long, f1 long")
    out = mn.sorted_neighborhood_patterns(
        df, ["blk"], "v", ["f1"], "id", window=window
    ).collect()
    got = sum(r["n_pairs"] for r in out)
    w = min(window, n - 1)
    expect = n * w - w * (w + 1) // 2
    assert got == expect


@given(
    a=st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=12),
    b=st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=12),
    c=st.lists(st.integers(min_value=-50, max_value=50), min_size=2, max_size=12),
)
@settings(**_SETTINGS)
def test_rank_family_monotone_invariance(spark, a, b, c):
    """Rank statistics depend on values only through their ORDER: a
    strictly monotone transform (here 7x + 3) must leave
    kruskal_wallis, jonckheere_terpstra, and dunn_test bit-identical.
    This catches any accidental dependence on magnitudes (a mean or
    variance sneaking into a 'rank' path)."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = (
        [(1, v) for v in a] + [(2, v) for v in b] + [(3, v) for v in c]
    )
    base = spark.createDataFrame(rows, "g long, v long")
    xform = spark.createDataFrame(
        [(g, 7 * v + 3) for g, v in rows], "g long, v long"
    )
    kw0 = stt.kruskal_wallis(base, "g", "v").collect()
    kw1 = stt.kruskal_wallis(xform, "g", "v").collect()
    assert kw0 == kw1
    jt0 = stt.jonckheere_terpstra(base, "g", "v").collect()
    jt1 = stt.jonckheere_terpstra(xform, "g", "v").collect()
    assert jt0 == jt1
    d0 = sorted(map(tuple, stt.dunn_test(base, "g", "v").collect()))
    d1 = sorted(map(tuple, stt.dunn_test(xform, "g", "v").collect()))
    assert d0 == d1


@given(
    a=st.lists(st.integers(min_value=-30, max_value=30), min_size=2, max_size=14),
    b=st.lists(st.integers(min_value=-30, max_value=30), min_size=2, max_size=14),
)
@settings(**_SETTINGS)
def test_two_sample_rank_identities(spark, a, b):
    """Cross-operator identities on ANY two-sample input: (1) the
    Brunner-Munzel effect p_hat equals Mann-Whitney U_b normalized by
    n_a*n_b (both count B-over-A dominance with half ties) up to the
    documented micro truncation; (2) ad_distance and cvm_distance are
    both ZERO iff the two samples coincide as multisets."""
    from hdinsight_pyspark_cntk_integration_spark.operators import stats as stt

    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    [bm] = stt.brunner_munzel(df, "g", "v", "a", "b").collect()
    [mw] = stt.mann_whitney_u(df, "g", "v", "a", "b").collect()
    expect = int(mw["u_b"] * 1_000_000) // (len(a) * len(b))
    assert abs(bm["p_hat_micro"] - expect) <= 1
    [ad] = stt.ad_distance(df, "g", "v", "a", "b").collect()
    [cvm] = stt.cvm_distance(df, "g", "v", "a", "b").collect()
    same = sorted(a) == sorted(b)
    if same:
        assert ad["ad_micro"] == 0 and cvm["cvm_micro"] == 0
    else:
        assert ad["ad_micro"] > 0 and cvm["cvm_micro"] >= 0
