"""Property-based tests (SURVEY §5.3): Catalyst expressions vs numpy/pure
Python references on hypothesis-generated inputs."""

import math

import numpy as np
import pytest
from hypothesis import assume, given, settings, strategies as st
from pyspark.sql import functions as F

from pydata_vector_search_spark.catalog import read_table
from pydata_vector_search_spark.functions import text as T
from pydata_vector_search_spark.functions.vector import (cosine_similarity,
                                                         dot_product,
                                                         l2_distance, l2_norm)
from pydata_vector_search_spark.operators import knn

_fl = st.floats(min_value=-100, max_value=100, allow_nan=False,
                allow_infinity=False)


@st.composite
def vec_pair(draw, max_dim=12):
    dim = draw(st.integers(min_value=1, max_value=max_dim))
    a = draw(st.lists(_fl, min_size=dim, max_size=dim))
    b = draw(st.lists(_fl, min_size=dim, max_size=dim))
    return a, b


@settings(max_examples=25, deadline=None)
@given(vec_pair())
def test_vector_exprs_match_numpy(spark, ab):
    a, b = ab
    na, nb = np.array(a), np.array(b)
    assume(np.linalg.norm(na) > 1e-6 and np.linalg.norm(nb) > 1e-6)
    row = (spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
           .select(dot_product("a", "b").alias("dot"),
                   l2_norm("a").alias("norm"),
                   l2_distance("a", "b").alias("l2"),
                   cosine_similarity("a", "b").alias("cos")).head())
    assert row.dot == pytest.approx(float(na @ nb), rel=1e-9, abs=1e-9)
    assert row.norm == pytest.approx(float(np.linalg.norm(na)), rel=1e-9)
    assert row.l2 == pytest.approx(float(np.linalg.norm(na - nb)), rel=1e-9, abs=1e-9)
    expected_cos = float(na @ nb / (np.linalg.norm(na) * np.linalg.norm(nb)))
    assert row.cos == pytest.approx(expected_cos, rel=1e-9, abs=1e-9)


# Components are multiples of 1/4 in [-2, 2]: every dot product and sum of
# squares is exact in float64 whatever the summation order, so the kernel
# and the reference below compute bit-identical distances and the top-k,
# ties included, can be compared exactly.
_quarter = st.integers(min_value=-8, max_value=8).map(lambda i: i / 4)


@st.composite
def knn_case(draw):
    dim = draw(st.integers(min_value=1, max_value=6))
    vec = st.lists(_quarter, min_size=dim, max_size=dim)
    rows = draw(st.lists(st.one_of(st.none(), vec), min_size=1, max_size=12))
    return (rows, draw(vec), draw(st.sampled_from(["cosine", "l2", "dot"])),
            draw(st.integers(min_value=1, max_value=len(rows))),
            draw(st.one_of(st.none(), st.integers(min_value=0, max_value=3))),
            draw(st.booleans()))


def _ref_distance(metric, a, q):
    """numpy float64 reference for one row, in the kernel's formula order."""
    if a is None:
        return None
    a, q = np.asarray(a, np.float64), np.asarray(q, np.float64)
    if metric == "l2":
        return float(np.sqrt(((a - q) ** 2).sum()))
    dot = float(a @ q)
    if metric == "dot":
        return -dot
    norms = float(np.linalg.norm(a) * np.linalg.norm(q))
    return None if norms == 0 else 1.0 - dot / norms


def _spark_round(d, r):
    """Spark's ROUND on a double: HALF_UP on its decimal representation."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(d)).quantize(Decimal(1).scaleb(-r),
                                           rounding=ROUND_HALF_UP))


@settings(max_examples=30, deadline=None)
@given(knn_case())
def test_exact_topk_matches_numpy_reference(spark, case):
    """Exact top-k through the Arrow kernel equals a float64 reference:
    NULL and zero-norm cosine rows rank last with a NULL distance, ties
    break on the key when a tiebreaker is given, and ``round_to`` rounds
    before the ordering."""
    rows, q, metric, k, round_to, tie = case
    df = spark.createDataFrame(list(enumerate(rows)), "id long, v array<double>")
    if metric == "cosine" and not any(q):
        with pytest.raises(ValueError, match="zero-norm"):
            knn.vector_search(df, "v", q, metric=metric)
        return
    got = knn.vector_search(df, "v", q, k=k, metric=metric,
                            tiebreaker="id" if tie else None,
                            round_to=round_to).collect()

    ref = {}
    for i, a in enumerate(rows):
        d = _ref_distance(metric, a, q)
        ref[i] = d if d is None or round_to is None else _spark_round(d, round_to)
    order = sorted(ref, key=lambda i: (ref[i] is None, ref[i] or 0.0, i))
    want = [(i, ref[i]) for i in order[:k]]
    got = [(r.id, r._distance) for r in got]
    if tie:
        assert got == want
    else:   # without a tiebreaker, rows tied at the cut are interchangeable
        assert [d for _, d in got] == [d for _, d in want]
        assert all(ref[i] == d for i, d in got)
        assert len({i for i, _ in got}) == k


@settings(max_examples=15, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", min_codepoint=32,
                                      max_codepoint=126),
               min_size=0, max_size=60))
def test_rolling_hash_matches_python(spark, s):
    base, mod = 31, 2_147_483_647
    exp = 0
    for ch in s:
        exp = (exp * base + ord(ch)) % mod
    got = (spark.createDataFrame([(s,)], "t string")
           .select(T.rolling_hash("t").alias("h")).head().h)
    assert got == exp


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=10),
                min_size=1, max_size=8))
def test_token_count_matches_python_split(spark, words):
    s = " ".join(words)
    assume(s.strip())            # whitespace-only input legitimately has 0
    df = spark.createDataFrame([(s,)], "t string")
    n1 = df.select(T.token_count("t").alias("n")).head().n
    n2 = df.select(T.token_count("t").alias("n")).head().n
    assert n1 == n2 == len(s.split())


def test_knn_k_equals_n_is_full_sort(spark, sf_dir):
    """KNN with k = n must equal the complete distance ordering."""
    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    qv = [float(x) for x in emb.head().embedding]
    got = [r.vec_id for r in knn.vector_search(
        emb, "embedding", qv, k=n, tiebreaker="vec_id").collect()]
    full = [r.vec_id for r in
            emb.withColumn("_d", F.lit(1) - cosine_similarity(
                "embedding", F.array(*[F.lit(x) for x in qv])))
               .orderBy(F.col("_d").asc(), F.col("vec_id").asc()).collect()]
    assert got == full and len(got) == n


def test_prefilter_subset_property(spark, sf_dir):
    """Pre-filter hybrid results always satisfy the predicate and are the
    top-k of the filtered set (SURVEY §5.3)."""
    emb = read_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.head().embedding]
    pre = knn.vector_search(emb, "embedding", qv, k=5,
                            filter=F.col("label") == 2,
                            tiebreaker="vec_id").collect()
    assert all(r.label == 2 for r in pre)
    filtered_full = knn.vector_search(emb.filter(F.col("label") == 2),
                                      "embedding", qv, k=5,
                                      tiebreaker="vec_id").collect()
    assert [r.vec_id for r in pre] == [r.vec_id for r in filtered_full]


def test_upsert_idempotent(spark, sf_dir):
    """Upserting the same batch twice = once (SURVEY §5.3)."""
    from pydata_vector_search_spark.operators.upsert import merge_last_write_wins
    emb = read_table(spark, sf_dir, "embeddings").limit(20)
    batch = emb.withColumn("label", F.lit(7))
    once = merge_last_write_wins(emb, batch, key="vec_id")
    twice = merge_last_write_wins(once, batch, key="vec_id")
    a = sorted((r.vec_id, r.label) for r in once.collect())
    b = sorted((r.vec_id, r.label) for r in twice.collect())
    assert a == b


def test_random_mutation_history_model_check(spark, tmp_path):
    """Model-based check of the whole mutation surface: a random sequence
    of upsert / delete_where / merge_into commits against a keyed table,
    mirrored in a plain Python dict per commit. Invariants: the snapshot
    equals the final model, EVERY read_asof(commit) equals the model's
    state at that commit, and the incremental feed replays to the
    snapshot."""
    import random

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             merge_into,
                                                             upsert_table)

    rng = random.Random(20260814)
    cat = Catalog(spark, str(tmp_path / "model"))

    def df_of(d):
        return spark.createDataFrame(sorted(d.items()), "k int, v int")

    state = {k: rng.randrange(100) for k in range(40)}
    cat.write("t", df_of(state), key="k")
    history = {1: dict(state)}
    commit = 1

    for step in range(6):
        op = rng.choice(["upsert", "delete", "merge"])
        if op == "upsert":
            batch = {rng.randrange(60): rng.randrange(100)
                     for _ in range(rng.randrange(1, 12))}
            upsert_table(cat, "t", df_of(batch))
            state.update(batch)
            commit += 1
        elif op == "delete":
            m = rng.randrange(2, 7)
            n = delete_where(cat, "t", f"k % {m} = 0")
            doomed = [k for k in state if k % m == 0]
            assert n == len(doomed)
            for k in doomed:
                del state[k]
            commit += 1 if n else 0
        else:
            src = {rng.randrange(60): rng.randrange(100)
                   for _ in range(rng.randrange(1, 12))}
            res = merge_into(cat, "t", df_of(src),
                             matched_update="v >= 20",
                             matched_delete="v < 10")
            ups = dels = ins = 0
            for k, v in src.items():
                if k in state:
                    if v < 10:
                        del state[k]
                        dels += 1
                    elif v >= 20:
                        state[k] = v
                        ups += 1
                else:
                    state[k] = v
                    ins += 1
            assert res == {"updated": ups, "deleted": dels, "inserted": ins}
            commit += (1 if (ups or ins) else 0) + (1 if dels else 0)
        # merge logs up to TWO commits; snapshot state applies to the last
        history[commit] = dict(state)

    assert cat.current_commit("t") == commit
    assert {(r.k, r.v) for r in cat.load("t").collect()} == set(state.items())
    for c, snap in history.items():
        got = {(r.k, r.v) for r in cat.read_asof("t", c).collect()}
        assert got == set(snap.items()), f"asof({c}) diverged"
    # CDC replay converges to the snapshot
    replayed = dict(history[1])
    for r in (cat.read_incremental("t", 1, latest_only=False)
                 .orderBy("commit").collect()):
        if r._deleted:
            replayed.pop(r.k, None)
        else:
            replayed[r.k] = r.v
    assert replayed == state


def test_ivm_refresh_model_check(spark, tmp_path):
    """Model check for incremental aggregate maintenance: a random
    sequence of upserts (value changes, group moves, inserts) and
    predicate deletes, refreshing after EACH commit — the materialized
    rollup must equal the batch groupBy of the snapshot every time."""
    import random

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.incremental_agg import (
        create_agg, refresh_agg)
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    rng = random.Random(5)
    cat = Catalog(spark, str(tmp_path / "ivm_model"))
    groups = ["a", "b", "c", None]

    def rows(ks):
        return [(k, rng.choice(groups), round(rng.uniform(-5, 5), 2))
                for k in ks]

    df = spark.createDataFrame(rows(range(40)), "k int, g string, x double")
    cat.write("t", df, key="k")
    create_agg(cat, "t", "agg", ["g"], {"sx": "x"})

    def check():
        got = sorted(((r.g or "~"), r.n_rows, round(r.sx, 6))
                     for r in cat.load("agg").collect())
        want = sorted(((r.g or "~"), r.n, round(r.sx, 6)) for r in
                      cat.load("t").groupBy("g")
                      .agg(F.count(F.lit(1)).cast("long").alias("n"),
                           F.coalesce(F.sum("x"), F.lit(0.0)).alias("sx"))
                      .collect())
        assert got == want

    for step in range(5):
        if step % 2 == 0:
            ks = rng.sample(range(60), rng.randrange(3, 10))
            upsert_table(cat, "t", spark.createDataFrame(
                rows(ks), "k int, g string, x double"))
        else:
            m = rng.randrange(3, 7)
            delete_where(cat, "t", f"k % {m} = 1")
        refresh_agg(cat, "t", "agg")
        check()


def test_purge_model_check(spark, tmp_path):
    """Purge interleaved with a random mutation history: after each purge,
    the purged keys appear in NO snapshot, NO read_asof state, and NO
    incremental batch, while every surviving key's state still matches a
    pure-Python model of the same history."""
    import random

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    rng = random.Random(99)
    cat = Catalog(spark, str(tmp_path / "purge_model"))
    boot = [(i, f"v{i}") for i in range(30)]
    cat.write("t", spark.createDataFrame(boot, "k int, v string"), key="k")
    model = dict(boot)
    purged: set = set()

    for step in range(4):
        roll = rng.random()
        if roll < 0.4:
            ks = rng.sample(range(40), 6)
            rows = [(k, f"s{step}_{k}") for k in ks]
            upsert_table(cat, "t", spark.createDataFrame(
                rows, "k int, v string"))
            model.update(rows)
        elif roll < 0.7:
            m = rng.randrange(4, 8)
            delete_where(cat, "t", f"k % {m} = 2")
            model = {k: v for k, v in model.items() if k % m != 2}
        else:
            doomed = rng.sample(sorted(model), 3)
            cat.purge_keys("t", doomed)
            purged |= set(doomed)
            model = {k: v for k, v in model.items() if k not in doomed}

        snap = {(r.k, r.v) for r in cat.load("t").collect()}
        assert snap == set(model.items())
        for c in range(1, cat.current_commit("t") + 1):
            hist_keys = {r.k for r in cat.read_asof("t", c).collect()}
            assert not (hist_keys & purged)
        inc_keys = {r.k for r in
                    cat.read_incremental("t", 1, latest_only=False)
                       .collect()}
        assert not (inc_keys & purged)


@settings(max_examples=15, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", min_codepoint=32,
                                      max_codepoint=126),
               min_size=0, max_size=80))
def test_tokenize_hook_matches_column_property(spark, s):
    """r08: the executor-side RegexBpeTokenizer and the JVM
    token_count_bpe Column agree on arbitrary ASCII text."""
    from pydata_vector_search_spark.operators.tokenize import tokenize_counts
    df = spark.createDataFrame([(1, s)], "doc_id long, text string")
    row = (tokenize_counts(df, "text")
           .withColumn("jvm", T.token_count_bpe("text").cast("long"))
           .head())
    assert row.n_tok == row.jvm


@settings(max_examples=10, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii", min_codepoint=32,
                                      max_codepoint=126),
               min_size=0, max_size=120),
       st.integers(min_value=2, max_value=10),
       st.integers(min_value=1, max_value=6))
def test_winnow_property_matches_python(spark, s, k, w):
    """r08: winnowing fingerprints equal the pure-Python reference for
    arbitrary ASCII text and (k, window) parameters."""
    import hashlib
    import re as _re
    from pydata_vector_search_spark.operators.fingerprint import \
        winnow_fingerprints
    t = _re.sub(r"\s+", " ", s.lower(), flags=_re.ASCII).strip()
    if len(t) >= k:
        grams = [int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:8], 16)
                 for i in range(len(t) - k + 1)]
    else:
        grams = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16)]
    if len(grams) >= w:
        want = {min(grams[j:j + w]) for j in range(len(grams) - w + 1)}
    else:
        want = {min(grams)}
    df = spark.createDataFrame([(1, s)], "doc_id long, text string")
    got = {r.fp for r in winnow_fingerprints(df, "text", "doc_id",
                                             k=k, window=w).collect()}
    assert got == want
