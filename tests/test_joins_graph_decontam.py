"""Python-oracle tests for the temporal-join, connected-components, and
decontamination operators: each Spark result is compared against a
brute-force pure-Python recomputation on deterministic synthetic data."""

from __future__ import annotations

import decimal
import random


# ---------------------------------------------------------------------------
# as-of join + range count
# ---------------------------------------------------------------------------

def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )


def _brute_asof(purchases, clicks, window_s=600):
    """Brute-force oracle: inclusive as-of (click.ts <= p.ts), strict
    half-open range count [p.ts - window, p.ts)."""
    import datetime as dt

    win = dt.timedelta(seconds=window_s)
    out = {}
    for pid, user, pts, _v in purchases:
        prior = [c for c in clicks if c[1] == user and c[2] <= pts]
        best = max(prior, key=lambda c: (c[2], c[3])) if prior else None
        n = sum(
            1 for c in clicks
            if c[1] == user and c[2] < pts and c[2] >= pts - win
        )
        out[pid] = (
            best[2] if best else None,
            best[3] if best else None,
            n,
        )
    return out


def _temporal_case(spark, purchases, clicks):
    from docling_api_spark.operators.joins import asof_join

    left = _mk_events(spark, purchases)
    right = _mk_events(spark, clicks).select("user_id", "ts", "value")
    got = asof_join(
        left, right, on="user_id", attach_cols=("value",), prefix="click_",
        count_preceding_s=600, count_col="n_clicks_10m",
    ).orderBy("event_id").collect()
    want = _brute_asof(purchases, clicks)
    assert len(got) == len(purchases)
    for r in got:
        w_ts, w_val, w_n = want[r["event_id"]]
        assert r["click_ts"] == w_ts, r
        assert r["click_value"] == w_val, r
        assert r["n_clicks_10m"] == w_n, r


def test_asof_join_randomized(spark):
    import datetime as dt

    rng = random.Random(411)
    base = dt.datetime(2024, 1, 1)
    purchases, clicks = [], []
    for i in range(200):
        ts = base + dt.timedelta(seconds=rng.randrange(0, 7200))
        row = (i, rng.randrange(8), ts, round(rng.uniform(1, 50), 2))
        (purchases if i % 2 else clicks).append(row)
    _temporal_case(spark, purchases, clicks)


def test_asof_join_edges(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta
    clicks = [
        (100, 1, t0 - m(minutes=5), 1.0),
        (101, 1, t0, 2.0),            # equal ts -> inclusive as-of match
        (102, 2, t0 + m(minutes=1), 3.0),   # after every purchase: ignored
        (103, 3, t0 - m(minutes=10), 4.0),  # exactly -10m: in [t-600, t)
    ]
    purchases = [
        (0, 1, t0, 10.0),   # ties with click 101
        (1, 2, t0, 11.0),   # only later clicks -> null attach, count 0
        (2, 3, t0, 12.0),   # boundary click at exactly -600s
        (3, 4, t0, 13.0),   # user with no clicks at all
    ]
    _temporal_case(spark, purchases, clicks)
    # spot-check the boundary semantics explicitly
    want = _brute_asof(purchases, clicks)
    assert want[0] == (t0, 2.0, 1)          # inclusive as-of, strict count
    assert want[1] == (None, None, 0)
    assert want[2] == (t0 - m(minutes=10), 4.0, 1)  # closed lower bound
    assert want[3] == (None, None, 0)


def test_asof_join_null_attach_no_chimera(spark):
    """The attached columns must all come from the SAME right row even
    when the latest right row carries a null attach value — a per-column
    ignorenulls carry would mix rows (regression: chimera attach)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(0, 1, t0)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(minutes=5), 2.0, "early"),
         (1, t0, None, "late")],
        "user_id long, ts timestamp, value double, tag string",
    )
    from docling_api_spark.operators.joins import asof_join

    row = asof_join(
        left, right, on="user_id", attach_cols=("value", "tag"), prefix="r_",
    ).collect()[0]
    # latest right row is ('late', null value) — BOTH attaches from it
    assert row["r_ts"] == t0
    assert row["r_tag"] == "late"
    assert row["r_value"] is None, "chimera: value leaked from an earlier row"


def test_asof_join_null_right_ts_never_matches(spark):
    """A right row with a NULL timestamp precedes nothing (NULL <= t is
    never true; DuckDB ASOF agrees) — it must not be carried onto left
    rows that have no real predecessor, and a reserved attach name is
    rejected."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from docling_api_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(0, 1, t0)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, 9.0)], "user_id long, ts timestamp, value double"
    )
    row = asof_join(
        left, right, on="user_id", attach_cols=("value",), prefix="r_"
    ).collect()[0]
    assert row["r_ts"] is None and row["r_value"] is None
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="user_id", attach_cols=("__asof_ts",))
    # the internal tag/struct column names are reserved on the left too —
    # a colliding user column would be silently clobbered then dropped
    for clobber in ("_asof_is_right", "_asof_right_row"):
        with _pytest.raises(ValueError, match="reserved"):
            asof_join(
                left.withColumn(clobber, F.lit(1)), right, on="user_id",
                attach_cols=("value",),
            )
    from docling_api_spark.operators.textstats import with_repetition_stats
    with _pytest.raises(ValueError, match="reserved"):
        with_repetition_stats(
            left.withColumn("_rep_toks", F.lit(1)).withColumn(
                "text", F.lit("a b c")),
        )


def test_asof_join_null_keys_never_match(spark):
    """Equality-join semantics: NULL = NULL is never true — a null-key
    right row must not attach to a null-key left row (the window's
    partitionBy would otherwise group them), and null-key left rows
    survive with null attaches / zero counts (left-outer)."""
    import datetime as dt

    from docling_api_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(0, None, t0), (1, 7, t0)],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(None, t0 - dt.timedelta(minutes=1), 9.0),
         (7, t0 - dt.timedelta(minutes=1), 3.0)],
        "user_id long, ts timestamp, value double",
    )
    rows = {
        r["event_id"]: r
        for r in asof_join(
            left, right, on="user_id", attach_cols=("value",), prefix="r_",
            count_preceding_s=600, count_col="n_prev",
        ).collect()
    }
    assert rows[0]["r_value"] is None and rows[0]["n_prev"] == 0
    assert rows[1]["r_value"] == 3.0 and rows[1]["n_prev"] == 1


def test_asof_join_output_clobber_raises(spark):
    """An output column name (prefix+attach / prefix+ts / count_col)
    colliding with an existing left column must raise, not silently
    overwrite it (unionByName would fold right values into it)."""
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from docling_api_spark.operators.joins import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(0, 7, t0)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, t0, 1.0)], "user_id long, ts timestamp, value double"
    )
    for clobber in ("asof_value", "asof_ts"):
        with _pytest.raises(ValueError, match="already exists"):
            asof_join(left.withColumn(clobber, F.lit(1)), right,
                      on="user_id", attach_cols=("value",))
    with _pytest.raises(ValueError, match="already exists"):
        asof_join(left.withColumn("n_right_preceding", F.lit(1)), right,
                  on="user_id", attach_cols=("value",),
                  count_preceding_s=60)
    # Spark resolves column names case-insensitively by default, so a
    # differently-cased left column would still be clobbered
    with _pytest.raises(ValueError, match="already exists"):
        asof_join(left.withColumn("Asof_Value", F.lit(1)), right,
                  on="user_id", attach_cols=("value",))
    # an output name equal to an internal scratch column would be
    # consumed by the final drop()/filter — reserved
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="user_id", attach_cols=("value",),
                  count_preceding_s=60, count_col="_asof_is_right")
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="user_id",
                  attach_cols=("asof_right_row",), prefix="_")


def test_asof_join_tie_break_multi_col(spark):
    """Duplicate right timestamps resolve to the max attach TUPLE
    (struct field order = attach_cols order), deterministically."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(0, 7, t0)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, t0, 3.0, "zz"), (7, t0, 5.0, "aa"), (7, t0, 5.0, "mm")],
        "user_id long, ts timestamp, value double, tag string",
    )
    from docling_api_spark.operators.joins import asof_join

    row = asof_join(
        left, right, on="user_id", attach_cols=("value", "tag"), prefix="r_",
    ).collect()[0]
    assert (row["r_value"], row["r_tag"]) == (5.0, "mm")


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------

def _union_find(edges):
    par = {}

    def find(x):
        par.setdefault(x, x)
        while par[x] != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    for a, b in edges:
        if a == b:
            find(a)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            par[max(ra, rb)] = min(ra, rb)
    # min-id canonical labels, only nodes with at least one real edge
    nodes = {x for a, b in edges if a != b for x in (a, b)}
    return {x: find(x) for x in nodes}


def _cc_case(spark, edges):
    from docling_api_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["comp"] for r in connected_components(df).collect()
    }
    assert got == _union_find(edges)


def test_cc_path_graph(spark):
    # long path: defeats plain neighbor propagation without pointer
    # jumping inside the round budget
    _cc_case(spark, [(i, i + 1) for i in range(120)])


def test_cc_structures(spark):
    _cc_case(spark, [
        (5, 1), (1, 9),            # chain, unsorted ids
        (20, 21), (21, 22), (20, 22),   # triangle
        (30, 31),                  # pair
        (40, 40),                  # self-loop only -> excluded entirely
        (50, 51), (51, 50),        # duplicate reversed edges
    ])


def test_cc_randomized(spark):
    rng = random.Random(1234)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(250)]
    _cc_case(spark, edges)


def test_cc_non_numeric_ids_raise(spark):
    """String node ids that do not cast to long must raise inside the
    first job — the silent alternative (cast -> NULL -> all edges
    filtered) reports 'zero duplicate clusters' with no error."""
    import pytest as _pytest

    from docling_api_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [("doc-1", "doc-2")], "id_a string, id_b string"
    )
    with _pytest.raises(Exception, match="does not cast"):
        connected_components(df).collect()
    # numeric strings are fine (lossless cast)
    ok = spark.createDataFrame([("1", "2")], "id_a string, id_b string")
    got = {r["id"]: r["comp"] for r in connected_components(ok).collect()}
    assert got == {1: 1, 2: 1}
    # fractional ids TRUNCATE under a plain long cast (1.2 and 1.7 both
    # -> 1, silently merging distinct nodes) — must raise instead
    frac = spark.createDataFrame([(1.2, 1.7)], "id_a double, id_b double")
    with _pytest.raises(Exception, match="does not cast"):
        connected_components(frac).collect()
    # integral doubles are lossless and fine
    okd = spark.createDataFrame([(1.0, 2.0)], "id_a double, id_b double")
    got = {r["id"]: r["comp"] for r in connected_components(okd).collect()}
    assert got == {1: 1, 2: 1}


def test_cluster_assignments(spark):
    from docling_api_spark.operators.graph import cluster_assignments

    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in cluster_assignments(df).collect()
    }
    assert got == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

def _brute_decontam(train, evalset, n=3):
    def grams(text):
        toks = text.strip().lower().split()
        if len(toks) >= n:
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        return {" ".join(toks)}

    eval_grams = {}  # gram -> set of eval doc ids
    for did, text in evalset:
        for g in grams(text):
            eval_grams.setdefault(g, set()).add(did)
    out = {}
    for did, text in train:
        gs = grams(text)
        hit = {g for g in gs if g in eval_grams}
        if hit:
            docs = set().union(*(eval_grams[g] for g in hit))
            # HALF_UP like Spark's F.round — Python round is half-even
            # and diverges on exact decimal ties (e.g. 1/128 = 0.0078125).
            # repr() mirrors Java's Double.toString shortest-decimal form,
            # which is what Spark's BigDecimal.valueOf rounds.
            rate = float(
                decimal.Decimal(repr(len(hit) / max(len(gs), 1))).quantize(
                    decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
                )
            )
            out[did] = (len(gs), len(hit), len(docs), rate)
    return out


def test_ngram_decontaminate(spark):
    from docling_api_spark.operators.decontam import ngram_decontaminate

    train = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated text about spark pipelines here"),
        (3, "short one"),                      # < n tokens: whole-text gram
        (4, "the quick brown fox sat still today"),
    ]
    evalset = [
        (100, "a benchmark with the quick brown fox inside it"),
        (101, "short one"),                    # exact short-doc copy
        (102, "quick brown fox jumps high"),
    ]
    t = spark.createDataFrame(train, "doc_id long, text string")
    e = spark.createDataFrame(evalset, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated_grams"],
                      r["n_eval_docs_hit"], r["contamination_rate"])
        for r in ngram_decontaminate(t, e, n=3).collect()
    }
    want = _brute_decontam(train, evalset, n=3)
    assert got == want
    assert set(got) == {1, 3, 4}  # doc 2 is clean


def test_ngram_decontaminate_null_text(spark):
    """Null-text docs are excluded on both sides (no content to leak);
    without the filter Spark folds the null token array to gram '' and
    flags null-vs-null as contamination while SQL engines yield NULL."""
    from docling_api_spark.operators.decontam import ngram_decontaminate

    t = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    e = spark.createDataFrame(
        [(100, None), (101, "alpha beta gamma")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in ngram_decontaminate(t, e, n=3).collect()}
    assert got == {2}


def test_exact_cosine_pairs_empty_corpus(spark):
    from docling_api_spark.operators.similarity import exact_cosine_pairs

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = exact_cosine_pairs(emb, 0.4)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]


def test_exact_cosine_pairs_zero_dim_raises(spark):
    """Zero-dimensional (empty-array) embeddings must raise a clear
    validation error, not an IndexError inside every scoring task."""
    import pytest as _pytest

    from docling_api_spark.operators.similarity import exact_cosine_pairs

    emb = spark.createDataFrame(
        [(1, []), (2, [])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="zero-dimensional"):
        exact_cosine_pairs(emb, 0.4)


def test_exact_cosine_pairs_bad_ids_raise(spark):
    """Duplicate or null ids would make the searchsorted gather silently
    score the wrong vector (and double-emit pairs) — the ground-truth
    baseline must reject them loudly."""
    import pytest as _pytest

    from docling_api_spark.operators.similarity import exact_cosine_pairs

    dup = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="duplicate"):
        exact_cosine_pairs(dup, 0.4)
    withnull = spark.createDataFrame(
        [(None, [1.0, 0.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="nulls"):
        exact_cosine_pairs(withnull, 0.4)


def test_ngram_decontaminate_randomized(spark):
    from docling_api_spark.operators.decontam import ngram_decontaminate

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    train = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 25))))
        for i in range(60)
    ]
    evalset = [
        (1000 + i,
         " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 25))))
        for i in range(8)
    ]
    t = spark.createDataFrame(train, "doc_id long, text string")
    e = spark.createDataFrame(evalset, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated_grams"],
                      r["n_eval_docs_hit"], r["contamination_rate"])
        for r in ngram_decontaminate(t, e, n=3).collect()
    }
    assert got == _brute_decontam(train, evalset, n=3)
