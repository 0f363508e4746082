"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship hybrid vector search on sf0.001.
``queries()`` — one callable per declared operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query key.

Determinism rules applied throughout (SURVEY.md §2.6 ⚠ / FIXTURES.md):
every ORDER BY+LIMIT query orders by ROUNDED values plus a unique-key
tiebreaker; all float outputs are rounded in-query; timestamps are emitted
as epoch-second bigints or date strings, never raw timestamps.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pydata_vector_search_spark.catalog import read_table, register_sf_dir
from pydata_vector_search_spark.functions import text as T
from pydata_vector_search_spark.functions.vector import cosine_similarity
from pydata_vector_search_spark.operators import ann, dedup, knn
from pydata_vector_search_spark.operators.embedding import HashEncoder, embed_text
from pydata_vector_search_spark.session import traded_shuffle_partitions

SF0001 = "/root/testdata/sf0.001"

_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the engine package importable by executor Python workers
    regardless of the driver process's cwd/PYTHONPATH.

    The driver harness builds its OWN SparkSession and may run from any
    directory; queries that ship Python (mapInPandas / applyInPandas)
    would then fail unpickling with ModuleNotFoundError, because workers
    inherit the JVM's env, not the driver's sys.path. ``addPyFile`` of a
    package zip fixes it for any session, any cwd, local or cluster."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    import tempfile
    import zipfile

    import pydata_vector_search_spark as pkg
    pkgdir = os.path.dirname(os.path.abspath(pkg.__file__))
    zpath = os.path.join(tempfile.gettempdir(),
                         f"pvss_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkgdir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        z.write(full, os.path.relpath(
                            full, os.path.dirname(pkgdir)))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ship_package(spark)
    return read_table(spark, sf_dir, name)


def _await_stream(q, timeout_sec: int = 300) -> None:
    """Block until the streaming query finishes; raise instead of reading a
    half-populated memory sink (awaitTermination returns False on timeout —
    ignoring it silently truncates results)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} still running after {timeout_sec}s; "
            "refusing to read a partially-filled sink")


_QVEC_CACHE: dict[tuple[str, int], list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Deterministic query vector: the embedding of a fixed vec_id.

    Mirrors the reference's pattern of encoding one query text driver-side
    and passing it as a literal/scalar-subquery (demo.ipynb c11:1-2,10).
    Memoized per (sf_dir, vec_id): the fixtures are immutable, and every
    vector query re-fetching the same single row costs a full ~0.4 s job."""
    k = (sf_dir, vec_id)
    if k not in _QVEC_CACHE:
        row = (_t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") == vec_id).select("embedding").head())
        _QVEC_CACHE[k] = [float(x) for x in row[0]]
    return _QVEC_CACHE[k]


def _cosine_sim(vec_col, qvec) -> F.Column:
    """Cosine similarity to a constant query: 1 - the kernel's distance."""
    from pydata_vector_search_spark.functions.vector import distance_expr_lit
    return F.lit(1.0) - distance_expr_lit("cosine", vec_col, qvec)


def _score(vec_col, qvec) -> F.Column:
    return F.round(_cosine_sim(vec_col, qvec), 2)


_ORACLE_Q = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"


# --------------------------------------------------------------------------
# Vector / similarity (SURVEY §2.2: V1 V3 V4 J1 T3)
# --------------------------------------------------------------------------

def q_vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1+V3+T3: exact cosine top-10 (reference demo.ipynb c11:7-13)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return (emb.withColumn("score", _score("embedding", qv))
               .orderBy(F.col("score").desc(), F.col("vec_id").asc())
               .limit(10)
               .select("vec_id", "label", "score"))


def q_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN tier (Jégou et al. TPAMI'11): vectors
    PQ-encoded to m=8 one-byte codes (×64 less probe I/O than raw
    float64), query scored via the ADC lookup table, shortlist exact
    re-ranked. Declared at shortlist=corpus so the ADC stage is pure
    routing and the answer EQUALS exact KNN — codes, LUT, shortlist and
    re-rank all sit inside the hash check; recall at small shortlists
    is pinned in tests/test_pq.py."""
    from pydata_vector_search_spark.operators import pq
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cb = pq.pq_train(emb, "embedding", m=8, k_codes=32, seed=42,
                     metric="cosine")
    coded = pq.pq_encode(emb, "embedding", cb)
    hits = pq.pq_search(coded, "embedding", "pq_code", cb, qv, k=10,
                        shortlist=emb.count(), tiebreaker="vec_id",
                        round_to=2)
    return (hits.withColumn("score", F.round(1 - F.col("_distance"), 2))
                .select("vec_id", "label", "score"))


def q_vector_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 generalization SURVEY §2.9 names outright ("top matches per
    company"): top-3 most-similar vectors PER LABEL — one scan with the
    Arrow cosine kernel, then rank-limit per group. Spark 3.5+ plans the
    row_number ≤ k filter as WindowGroupLimit: each task keeps a k-row
    heap per group BEFORE the single group-key shuffle, so shuffled bytes
    are groups × k, not the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(F.col("score").desc(),
                                            F.col("vec_id").asc())
    return (emb.withColumn("score", _score("embedding", qv))
               .withColumn("rn", F.row_number().over(w).cast("long"))
               .filter(F.col("rn") <= 3)
               .select("label", "rn", "vec_id", "score")
               .orderBy("label", "rn"))


def q_vector_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1+J1: top-10 + metadata re-attach join (reference c11:12 v⋈jobs).

    The k-row search side is tiny → Spark broadcasts it; at 100 TB the
    corpus side never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    qv = _query_vec(spark, sf_dir)
    hits = (emb.withColumn("score", _score("embedding", qv))
               .orderBy(F.col("score").desc(), F.col("vec_id").asc())
               .limit(10))
    return (hits.join(docs, hits.vec_id == docs.doc_id, "inner")
                .select("vec_id", "score", "lang", "source", "n_chars"))


def q_hybrid_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 pre-filter: predicate BELOW the distance computation in one plan —
    the improvement over the reference's post-filter (c13:1-4)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return (knn.vector_search(emb, "embedding", qv, k=5, metric="cosine",
                              filter=F.col("label") == 3,
                              round_to=2, tiebreaker="vec_id")
               .withColumn("score", F.round(1 - F.col("_distance"), 2))
               .select("vec_id", "label", "score"))


def q_hybrid_postfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 reference-parity mode='post': over-fetch 100, filter, top-5
    (bug-compatible with demo.ipynb c13:6-15 k=3000 over-fetch)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return (knn.hybrid_search_postfilter(
                emb, "embedding", qv, filter=F.col("label") == 3,
                k=5, fetch_k=100, round_to=2, tiebreaker="vec_id")
               .withColumn("score", F.round(1 - F.col("_distance"), 2))
               .select("vec_id", "label", "score"))


def q_vector_knn_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 SQL surface parity: the reference's cell-11 query spelled in pure
    SQL — temp views + the single-row query_input view (its scalar-subquery
    pattern, c11:2,10) + registered SQL functions whose bodies Catalyst
    inlines (same physical plan as the DataFrame spelling)."""
    from pydata_vector_search_spark.functions.sql import register_sql_functions
    register_sql_functions(spark)
    register_sf_dir(spark, sf_dir, tables=("embeddings",))
    qv = _query_vec(spark, sf_dir)
    spark.createDataFrame([(qv,)], "q_vec array<double>") \
         .createOrReplaceTempView("query_input")
    return spark.sql("""
        SELECT e.vec_id, e.label,
               round(cosine_similarity(CAST(e.embedding AS ARRAY<DOUBLE>),
                                       q.q_vec), 2) AS score
        FROM embeddings e CROSS JOIN query_input q
        ORDER BY score DESC, e.vec_id ASC
        LIMIT 10
    """)


def q_vector_knn_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 dot metric (the reference TVF's metric argument, demo.ipynb
    c11:10): top-10 by inner product — distance is the NEGATED dot so the
    same ascending top-k plan serves all metrics; score re-negates."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    return (knn.vector_search(emb, "embedding", qv, k=10, metric="dot",
                              round_to=2, tiebreaker="vec_id")
               .withColumn("score", F.round(-F.col("_distance"), 2))
               .select("vec_id", "label", "score"))


def q_vector_knn_tvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 TVF parity: the reference's table-valued spelling
    ``hudi_vector_search(path, col, (SELECT ...), k, 'cosine')``
    (demo.ipynb c11:7-13) via the engine's SQL rewrite — the TVF call is
    replaced pre-parse by the exact DataFrame plan (pruned scan →
    TakeOrderedAndProject), so SQL users get the identical physical plan
    (asserted in tests/test_sql_surface.py). Extended args (tiebreaker,
    round_to) make the top-k cut deterministic for the oracle."""
    from pydata_vector_search_spark.functions.sql import sql_with_tvf
    register_sf_dir(spark, sf_dir, tables=("embeddings",))
    _ship_package(spark)
    return sql_with_tvf(spark, """
        SELECT vec_id, label, round(1 - _distance, 2) AS score
        FROM vector_search('embeddings', 'embedding',
                           (SELECT embedding FROM embeddings WHERE vec_id = 0),
                           10, 'cosine', 'vec_id', 2)
        ORDER BY _distance ASC NULLS LAST, vec_id ASC
    """)


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch KNN (every query row gets its top-k): broadcast nested-loop
    over the corpus + per-query window top-k — the plan for scoring a
    query BATCH, vs the single-vector TakeOrderedAndProject path."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5) \
                    .select(F.col("vec_id").alias("left_id"), "embedding")
    corpus = emb.select(F.col("vec_id").alias("right_id"), "embedding")
    return (knn.knn_join(queries_df, corpus, "embedding", k=3,
                         round_to=6)
               .select("left_id", "right_id",
                       F.col("_distance").alias("dist"))
               .orderBy("left_id", "right_id"))


_IVF_CACHE: dict[str, ann.IVFIndex] = {}


def _ivf_index(spark: SparkSession, sf_dir: str) -> ann.IVFIndex:
    """Build (once per sf_dir per process) an 8-centroid IVF index over the
    embeddings table in a temp dir — parquet partitioned by centroid id."""
    if sf_dir not in _IVF_CACHE:
        import tempfile
        emb = _t(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="pvss_ivf_")
        _IVF_CACHE[sf_dir] = ann.ivf_build(emb, "embedding", path,
                                           num_centroids=8, seed=42)
    return _IVF_CACHE[sf_dir]


def q_ann_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 approximate mode (SURVEY §4 O10): IVF build + partition-pruned
    probe + exact re-rank. Probed at nprobe=all here so the result equals
    exact KNN and the DuckDB oracle applies to the whole build/probe
    machinery; small-nprobe recall is asserted in tests/test_ann.py."""
    idx = _ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir)
    return (ann.ivf_search(spark, idx, qv, k=10, nprobe=8,
                           round_to=2, tiebreaker="vec_id")
               .withColumn("score", F.round(1 - F.col("_distance"), 2))
               .select("vec_id", "label", "score"))


def q_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-lean ANN probe (the role of Lance's quantized index behind the
    reference TVF, demo.ipynb c13:2-3): rank on the packed int8 code
    column (~4× fewer scan bytes than the float vectors), exact re-rank
    only the k·refine survivors fetched via a parquet-pushed IN filter.
    Probed at nprobe=all with a refine margin so the result equals exact
    KNN and the DuckDB oracle covers quantize + rank + re-rank end-to-end;
    byte accounting + small-refine recall live in tests/test_ann.py."""
    idx = _ivf_index(spark, sf_dir)
    qv = _query_vec(spark, sf_dir)
    return (ann.ivf_search_int8(spark, idx, qv, "vec_id", k=10, nprobe=8,
                                refine=8, round_to=2, tiebreaker="vec_id")
               .withColumn("score", F.round(1 - F.col("_distance"), 2))
               .select("vec_id", "label", "score"))


def q_ann_after_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-managed, TABLE-SCOPED vector index with a staleness
    contract (the reference's index is table-scoped: "Same vector index",
    demo.ipynb c14:1): ingest → ann_index_create pins the index to the
    table's commit → an upsert advances the table, so the next search
    REFUSES (StaleIndexError) instead of silently serving pre-mutation
    vectors → on_stale='rebuild' re-registers at the current commit and
    serves post-upsert data. Probed at nprobe=all so the result equals
    exact KNN over the UPSERTED state and the oracle replays the upsert
    as a CASE — hash equality proves the rebuild saw the mutation."""
    import tempfile

    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators.ann import StaleIndexError

    eng = Engine(spark, tempfile.mkdtemp(prefix="pvss_annidx_"))
    emb = _t(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    qv = _query_vec(spark, sf_dir)
    eng.upsert("emb", emb.filter(F.col("vec_id") % 10 == 0)
               .withColumn("label", F.lit(99)))
    try:
        eng.ann_search("emb", qv, k=10, nprobe=8)
        raise RuntimeError("stale index served without rebuild")
    except StaleIndexError:
        pass
    hits = eng.ann_search("emb", qv, k=10, nprobe=8, on_stale="rebuild",
                          round_to=2, tiebreaker="vec_id")
    return (hits.withColumn("score", F.round(1 - F.col("_distance"), 2))
                .select("vec_id", "label", "score"))


def q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe batch KNN: every query row top-k'd through the IVF index —
    centroid shortlist (broadcast) → EQUI-join on centroid id → unrolled
    distance → per-query window top-k. Candidates are bounded by
    |Q|·nprobe/num_centroids·|corpus|, never the |Q|·|corpus| cross
    product knn_join pays. Probed at nprobe=all so the result equals the
    exact brute-force join and the DuckDB oracle applies end-to-end;
    small-nprobe recall is asserted in tests/test_ann.py."""
    idx = _ivf_index(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5) \
                    .select(F.col("vec_id").alias("left_id"), "embedding")
    return (ann.ivf_knn_join(spark, idx, queries_df, k=3, nprobe=8,
                             left_id="left_id", right_id="vec_id",
                             query_vector_col="embedding", round_to=6)
               .select("left_id", F.col("vec_id").alias("right_id"),
                       F.col("_distance").alias("dist"))
               .orderBy("left_id", "right_id"))


def q_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic cosine near-dup (the scale sibling of cosine_neardup):
    sign-of-dot random-hyperplane signature buckets candidates (ONE shuffle
    on the bucket key), exact verify inside buckets. The hyperplanes are
    seed-deterministic and embedded as literals in the DuckDB oracle, so
    the whole LSH pipeline — signature, bucketing, verify — is value-hash
    checked, not just the verified survivors. Recall vs the brute-force op
    is asserted in tests/test_dedup.py."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir))
    return (dedup.hyperplane_lsh_neardup(emb, "embedding", "vec_id", dim=dim,
                                         threshold=0.3, num_planes=4,
                                         seed=42, round_to=6)
                 .orderBy("id_1", "id_2"))


def q_purge_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-be-forgotten: ``purge_keys`` physically removes the
    requested keys from the snapshot AND from every retained commit —
    unlike delete_where, no tombstone records the prior image and
    ``read_asof`` of older commits no longer returns them (compliance
    trumps reproducibility). The query returns BOTH the post-purge
    snapshot rollup and the as-of-bootstrap rollup; hash equality with
    the oracle's two purged replays proves erasure reached history, not
    just the live table."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import upsert_table

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*cols)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_purge_"))
    cat.write("t", o.filter(F.col("o_orderkey") < 2000).coalesce(4),
              key="o_orderkey")                                # commit 1
    upsert_table(cat, "t", o.filter((F.col("o_orderkey") < 2000)
                                    & (F.col("o_orderkey") % 3 == 0))
                 .withColumn("o_orderstatus", F.lit("U")))     # commit 2
    cat.purge_keys("t", list(range(0, 2000, 11)))

    def roll(df, label):
        return (df.groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).cast("long").alias("n"),
                       F.round(F.sum("o_totalprice"), 2).alias("total"))
                  .withColumn("state", F.lit(label)))

    out = roll(cat.read_asof("t", 1), "asof1").unionByName(
        roll(cat.load("t"), "snapshot"))
    return (out.select("state", "o_orderstatus", "n", "total")
               .orderBy("state", "o_orderstatus"))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profiling (the dbt-docs/Deequ profile shape): per
    column null count, exact distinct count (Expand-compiled multi-
    distinct — approx HLL mode exists for corpus scale), and native-type
    min/max rendered as strings. Timestamp column excluded: its string
    rendering is engine-specific; numeric/string casts agree."""
    from pydata_vector_search_spark.operators.quality import profile
    o = _t(spark, sf_dir, "orders")
    return profile(o, ["o_orderkey", "o_custkey", "o_orderstatus",
                       "o_orderpriority", "o_totalprice"])


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click → purchase, each step
    strictly AFTER the previous step's first occurrence): classic
    product analytics over the events table as three join+min
    aggregates — no window over the full corpus, each stage joins only
    survivors of the previous one."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (ev.filter(F.col("event_type") == "view")
           .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (ev.filter(F.col("event_type") == "click").join(v, "user_id")
           .filter(F.col("ts") > F.col("t1"))
           .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (ev.filter(F.col("event_type") == "purchase").join(c, "user_id")
           .filter(F.col("ts") > F.col("t2"))
           .groupBy("user_id").agg(F.min("ts").alias("t3")))

    def stage(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_users")) \
                 .select(F.lit(name).alias("stage"), "n_users")

    return (stage(v, "1_view").unionByName(stage(c, "2_click"))
            .unionByName(stage(p, "3_purchase")).orderBy("stage"))


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector AGGREGATION (a genuine Spark gap — no built-in elementwise
    array aggregate): per-label mean embedding via posexplode → one
    (label, pos) hash aggregate (map-side combined: shuffle = labels ×
    dim, corpus-size independent) → array re-assembly, then each
    centroid scored against the query vector with the Arrow cosine kernel.
    The oracle replays with unnest-WITH-ORDINALITY + list(ORDER BY)."""
    from pydata_vector_search_spark.operators.vector_agg import mean_vector
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cent = mean_vector(emb, ["label"], "embedding")
    n = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (cent.join(n, "label")
            .select("label", "n",
                    F.round(_cosine_sim("centroid", qv), 6)
                     .alias("centroid_sim"))
            .orderBy("label"))


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized aggregate (lakehouse IVM):
    rollup built at bootstrap, base table mutated by upsert (updates +
    inserts, some flipping group membership) and predicate delete, then
    ``refresh_agg`` applies ONLY the changed keys' retract/apply delta —
    never a full rescan. Hash equality against the oracle's batch rollup
    of the final state proves the incremental path lands on exactly the
    full-recompute answer (group death and birth included)."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.incremental_agg import (
        create_agg, refresh_agg)
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*cols)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_ivm_"))
    cat.write("t", o.filter(F.col("o_orderkey") < 3000).coalesce(4),
              key="o_orderkey")
    create_agg(cat, "t", "t_agg", ["o_orderstatus"],
               {"total": "o_totalprice"})
    upsert_table(cat, "t", o.filter((F.col("o_orderkey") % 5 == 0)
                                    & (F.col("o_orderkey") < 4000))
                 .withColumn("o_orderstatus", F.lit("U")).coalesce(4))
    delete_where(cat, "t", "o_orderkey % 7 = 0")
    refresh_agg(cat, "t", "t_agg")
    return (cat.load("t_agg")
            .select("o_orderstatus", "n_rows",
                    F.round("total", 2).alias("total"))
            .orderBy("o_orderstatus"))


def q_csv_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External CSV table (S1'): supplier written as headered CSV,
    registered via ``register_path(format='csv', schema=...)`` — the
    explicit schema skips the inference pass — then landed into a
    MANAGED parquet table (the documented scale path: csv re-parses
    text per query and can't push predicates) and aggregated. Hash
    equality against the parquet-native oracle proves the CSV
    round-trip is lossless including doubles."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog

    sup = _t(spark, sf_dir, "supplier")
    root = tempfile.mkdtemp(prefix="pvss_csv_")
    csv_path = os.path.join(root, "supplier_csv")
    sup.coalesce(2).write.option("header", "true").csv(csv_path)
    cat = Catalog(spark, root)
    cat.register_path(
        "sup_csv", csv_path, format="csv",
        schema="s_suppkey bigint, s_name string, s_nationkey bigint, "
               "s_acctbal double", header="true")
    cat.write("sup_managed", cat.load("sup_csv"))     # land into parquet
    return (cat.load("sup_managed")
            .groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("s_acctbal"), 2).alias("acctbal"))
            .orderBy("s_nationkey"))


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange (the raw-crawl format of LLM pipelines):
    documents round-trip through the JSONL sink/source with PERMISSIVE
    quarantine — two deliberately malformed lines are planted beside the
    clean part-files and must land in the dead-letter split, never kill
    the read or leak into clean rows. Fidelity is proven by per-lang
    md5-sums of the round-tripped text hash-matching the oracle computed
    on the ORIGINAL parquet (15 hex chars → BIGINT, the cross-engine
    hash convention)."""
    import tempfile

    from pydata_vector_search_spark.sources import (read_jsonl_quarantine,
                                                    write_jsonl)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    p = os.path.join(tempfile.mkdtemp(prefix="pvss_jsonl_"), "docs")
    write_jsonl(docs.coalesce(4), p)
    with open(os.path.join(p, "part-99999-corrupt.json"), "w") as fh:
        fh.write('{"doc_id": 1, "lang": "en"\n')       # truncated object
        fh.write('not json at all\n')
    clean, bad = read_jsonl_quarantine(
        spark, p, "doc_id bigint, text string, lang string")
    # 10 hex chars = 40 bits/row: sums stay far under BIGINT overflow
    # even at sf10 (ANSI mode raises on long overflow)
    h = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
    per_lang = (clean.groupBy("lang")
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum("doc_id").cast("long").alias("id_sum"),
                     F.sum(h).cast("long").alias("text_h")))
    corrupt = (bad.agg(F.count(F.lit(1)).cast("long").alias("n"))
               .select(F.lit("__corrupt__").alias("lang"), "n",
                       F.lit(0).cast("long").alias("id_sum"),
                       F.lit(0).cast("long").alias("text_h")))
    return per_lang.unionByName(corrupt).orderBy("lang")


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange (the Hive/Trino warehouse handoff format,
    sources/columnar.py): documents AND embeddings round-trip through
    Spark's native vectorized ORC writer/reader (zstd), with the
    expected schema VERIFIED against the files' own footer schema at
    the boundary. Fidelity is oracle-pinned on the ORIGINAL parquet:
    per-lang text md5-sums for documents, and for embeddings a
    per-label, per-element integer checksum (floor(x*1e6 + 0.5) summed
    over every component of every vector) proving array<float> columns
    survive bit-for-bit — the property the reference gets from Lance
    (demo.ipynb c8:22) re-established on warehouse ORC."""
    import tempfile

    from pydata_vector_search_spark.sources import read_orc, write_orc

    root = tempfile.mkdtemp(prefix="pvss_orc_")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    emb = _t(spark, sf_dir, "embeddings")
    write_orc(docs.coalesce(4), os.path.join(root, "docs"))
    write_orc(emb.coalesce(4), os.path.join(root, "emb"))
    rd = read_orc(spark, os.path.join(root, "docs"),
                  "doc_id bigint, text string, lang string")
    re_ = read_orc(spark, os.path.join(root, "emb"),
                   "vec_id bigint, embedding array<float>, label int")

    th = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
    d_leg = (rd.groupBy(F.col("lang").alias("grp"))
               .agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("doc_id").cast("long").alias("id_sum"),
                    F.sum(th).cast("long").alias("checksum"))
               .select(F.lit("documents").alias("part"), "grp", "n",
                       "id_sum", "checksum"))
    vh = F.aggregate(
        F.transform("embedding",
                    lambda x: F.floor(x * F.lit(1_000_000.0) + F.lit(0.5))
                    .cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    e_leg = (re_.groupBy(F.col("label").cast("string").alias("grp"))
                .agg(F.count(F.lit(1)).cast("long").alias("n"),
                     F.sum("vec_id").cast("long").alias("id_sum"),
                     F.sum(vh).cast("long").alias("checksum"))
                .select(F.lit("embeddings").alias("part"), "grp", "n",
                        "id_sum", "checksum"))
    return d_leg.unionByName(e_leg).orderBy("part", "grp")


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup removal ("dedup the new crawl against the
    trained corpus"): documents split doc_id%3 into reference (==0) and
    corpus; minhash bands on both sides join corpus×reference, exact
    Jaccard >= 0.5 verifies, matched corpus docs drop. The oracle
    replays signatures, banding, candidates, verify, and anti-join —
    LSH recall included in the hash check, not assumed."""
    docs = _t(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    kept = dedup.cross_dedup_minhash(corpus, ref, "text", "doc_id",
                                     threshold=0.5)
    return (kept.groupBy("lang")
                .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                     F.sum("doc_id").cast("long").alias("id_sum"))
                .orderBy("lang"))


def q_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the dbt-test/Deequ check shape, no
    framework): six rule kinds — not-null, uniqueness, range, regex,
    arbitrary predicate, referential integrity — compiled to one shared
    aggregate pass plus one groupBy (unique) and one anti-join
    (references). The dimension is deliberately truncated (c_custkey <
    100) so the FK check reports real orphans; range/regex bounds chosen
    to catch real rows — all six counts are nonzero-or-zero exactly as
    the oracle's per-rule SQL says."""
    from pydata_vector_search_spark.operators import quality as Q
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return Q.validate(o, [
        Q.not_null("o_custkey"),
        Q.unique("o_orderkey"),
        Q.in_range("o_totalprice", 1000.0, 300000.0),
        Q.matches("o_orderstatus", "^[OF]$"),
        Q.check("has_priority", "o_orderpriority LIKE '%-%'"),
        Q.references("o_custkey", cust, "c_custkey"),
    ])


_BM25_TERMS = ("vector", "hash", "join", "stream")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical top-k (the keyword half the pure-vector
    reference lacks; Lucene's idf+1 variant): one declarative plan —
    token explode, broadcast term join, per-(doc,term) partial scaled to
    integer-exact BIGINT (order-independent sum; see
    operators/retrieval), TakeOrderedAndProject. The oracle replays the
    identical expression tree (same literal constants, same association
    order) so the score is hash-checked to the last decimal."""
    from pydata_vector_search_spark.operators.retrieval import bm25_search
    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, "text", "doc_id", _BM25_TERMS, k=15)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + vector hybrid via Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09) — the production hybrid-search pattern composed from this
    engine's own halves: lexical top-50 (bm25_search) and exact cosine
    top-50 (vector_search), fused as 1/(60+r_lex) + 1/(60+r_vec).
    Both rank lists are k-truncated, so the fusion windows run over ≤50
    rows — never the corpus."""
    from pydata_vector_search_spark.operators.retrieval import (bm25_search,
                                                                rrf_fuse)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    lex = bm25_search(docs, "text", "doc_id", _BM25_TERMS, k=50)
    vec = (knn.vector_search(emb, "embedding", qv, k=50, metric="cosine",
                             round_to=6, tiebreaker="vec_id")
           .select(F.col("vec_id").alias("doc_id"), "_distance"))
    return rrf_fuse(lex, vec, "doc_id", k0=60, k=10,
                    b_order=[F.col("_distance").asc_nulls_last(),
                             F.col("doc_id").asc()])


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate (the scrub a corpus passes before leaving the
    trust boundary): deterministic synthetic PII (email/IPv4/phone built
    from doc_id) is appended to every document, redacted to typed tokens
    by the pure-Catalyst regexp chain, and counted back per language.
    The patterns live in the Java∩RE2 regex dialect so the oracle runs
    them VERBATIM — hash equality proves byte-identical redaction, not
    just matching counts."""
    from pydata_vector_search_spark.functions.text import redact_pii
    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "aug",
        F.concat(F.col("text"),
                 F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com from 10.0."),
                 (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
                 F.lit(" tel +1 555-000-"),
                 F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
    red = aug.withColumn("red", redact_pii("aug"))

    def occ(tok: str) -> F.Column:
        return ((F.sum(F.length("red")
                       - F.length(F.replace(F.col("red"), F.lit(tok),
                                            F.lit(""))))
                 / F.lit(len(tok))).cast("long"))

    return (red.groupBy("lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    occ("<EMAIL>").alias("emails"),
                    occ("<IP>").alias("ips"),
                    occ("<PHONE>").alias("phones"),
                    F.sum(F.length("red")).cast("long").alias("chars"))
               .orderBy("lang"))


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) end-to-end:
    embedding-level near-duplicates (paraphrases lexical dedup can't
    see) found via deterministic hyperplane-LSH buckets + exact rounded
    cosine, collapsed transitively by connected components, min-id
    representative kept. The oracle replays the WHOLE pipeline —
    signature bits as literals, bucket self-join, recursive-CTE
    components, anti-join — so survivor membership is value-hash
    checked, not just counts."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = len(_query_vec(spark, sf_dir))
    kept = dedup.semantic_dedup(emb, "embedding", "vec_id", dim=dim,
                                threshold=0.3, num_planes=4, seed=42,
                                round_to=6)
    return (kept.groupBy("label")
                .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                     F.sum("vec_id").cast("long").alias("id_sum"))
                .orderBy("label"))


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient join WITHOUT broadcast: the big (events) side salts
    deterministically on event_id, the small (customer) side replicates to
    every salt, the shuffle key becomes (user_id, salt) — a hot user
    occupies num_salts reducers instead of one. Row-identical to the
    unsalted join (the oracle is the plain join)."""
    from pydata_vector_search_spark.operators.skew import salted_join
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    j = salted_join(ev, cust, on="user_id", num_salts=8,
                    spread_col="event_id")
    return (j.groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value"))
             .orderBy("c_mktsegment"))


_BUCKETED_DONE: set[tuple] = set()


def _bucketed_tables(spark: SparkSession, sf_dir: str):
    """Once per (session, sf_dir): orders + customer rewritten as bucketed
    tables (hash-clustered AND sorted by the join key at write time)."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    key = (id(spark.sparkContext), sf_dir)
    if key not in _BUCKETED_DONE:
        cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_bkt_"))
        cat.write_bucketed("pvss_orders_b", _t(spark, sf_dir, "orders"),
                           key="o_custkey", num_buckets=8)
        cat.write_bucketed("pvss_customer_b", _t(spark, sf_dir, "customer"),
                           key="c_custkey", num_buckets=8)
        _BUCKETED_DONE.add(key)
    return spark.table("pvss_orders_b"), spark.table("pvss_customer_b")


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S+ bucketed tables: both sides pre-clustered into 8 matching buckets
    by the join key, so the join needs ZERO exchanges (asserted on the plan
    in tests/test_bucketing.py) — at 100 TB the difference between
    re-shuffling the fact table every join and never shuffling it."""
    o, c = _bucketed_tables(spark, sf_dir)
    j = o.join(c, o.o_custkey == c.c_custkey, "inner")
    return (j.groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
             .orderBy("c_mktsegment"))


# --------------------------------------------------------------------------
# Relational surface (SURVEY §2.3-2.7: P F J A T C)
# --------------------------------------------------------------------------

def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A6: TPC-H Q1-shaped partial+final hash agg over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                   F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                   F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
                   F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                   F.count(F.lit(1)).alias("count_order"))
              .orderBy("l_returnflag", "l_linestatus"))


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+T2: the reference's analytics pattern (c15:4-9 — count per company,
    top-15) on documents.lang/source."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.filter(F.col("doc_id").isNotNull() & F.col("lang").isNotNull())
                .groupBy("lang", "source")
                .agg(F.count(F.lit(1)).alias("doc_count"),
                     F.round(F.avg("n_chars"), 2).alias("avg_chars"))
                .orderBy(F.col("doc_count").desc(), F.col("lang").asc(),
                         F.col("source").asc())
                .limit(15))


def q_filter_like_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F3+F4+P1+P2+C1: predicates + computed projection (reference
    c13:12 equality, c15:7 LIKE, c15:15 IS NOT NULL + AND)."""
    o = _t(spark, sf_dir, "orders")
    return (o.filter((F.col("o_orderstatus") == "F")
                     & F.col("o_orderpriority").like("1-%")
                     & F.col("o_totalprice").isNotNull())
             .select("o_orderkey", "o_orderpriority",
                     F.round(F.col("o_totalprice") * 0.9, 2).alias("discounted"))
             .orderBy(F.col("o_orderkey").asc())
             .limit(20))


def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A4: inner equi-join orders⋈customer → revenue per segment.
    customer is the small dim → broadcast hash join (AQE or hint)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
             .groupBy("c_mktsegment")
             .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                  F.count(F.lit(1)).alias("order_count"))
             .orderBy(F.col("c_mktsegment").asc()))


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 chained: lineitem⋈orders⋈customer⋈nation⋈region star join —
    dims broadcast, fact table never shuffles until the group-by."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
              .groupBy("r_name")
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
                   F.count(F.lit(1)).alias("line_count"))
              .orderBy(F.col("r_name").asc()))


def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left-semi + left-anti — customers with ≥1 open order vs none."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = _t(spark, sf_dir, "customer")
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .select("c_custkey").withColumn("has_open", F.lit(1)))
    anti = (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .select("c_custkey").withColumn("has_open", F.lit(0)))
    return (semi.unionByName(anti)
                .orderBy("c_custkey").limit(50))


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window row_number: top-3 longest docs per lang — the 'top matches per
    company' generalization of hybrid search (SURVEY §2.9)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(),
                                           F.col("doc_id").asc())
    return (docs.withColumn("rn", F.row_number().over(w).cast("long"))
                .filter(F.col("rn") <= 3)
                .select("lang", "rn", "doc_id", "n_chars")
                .orderBy("lang", "rn"))


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 keyed last-write-wins merge (the reference's Hudi upsert
    semantics, demo.ipynb c8:17-23) as a pure plan: union + window dedup.
    Batch = orders below key 1000 re-priced; merged table must show the
    new rows winning and every other row unchanged."""
    from pydata_vector_search_spark.operators.upsert import merge_last_write_wins
    o = _t(spark, sf_dir, "orders")
    batch = (o.filter(F.col("o_orderkey") < 1000)
              .withColumn("o_totalprice", F.lit(0.0))
              .withColumn("o_orderstatus", F.lit("X")))
    merged = merge_last_write_wins(o, batch, key="o_orderkey")
    return (merged.groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.round(F.sum("o_totalprice"), 2).alias("total"))
                  .orderBy("o_orderstatus"))


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank family: rank / dense_rank / lead over order history."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 20)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey").asc())
    return (o.select("o_custkey", "o_orderkey",
                     F.rank().over(w).cast("long").alias("rnk"),
                     F.dense_rank().over(w).cast("long").alias("drnk"),
                     F.lead("o_orderkey", 1).over(w).alias("next_key"))
             .orderBy("o_custkey", "rnk", "o_orderkey"))


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops beyond UNION: INTERSECT and EXCEPT of customer vs supplier
    nation keys, tagged and unioned into one deterministic result."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    only_c = c.subtract(s).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(only_c).orderBy("tag", "nk")


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + DISTINCT: nations appearing as customer or supplier homes."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return (c.unionByName(s).distinct().orderBy("nationkey"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily event counts spread into one column per event type
    (explicit value list → stable schema; Catalyst compiles to conditional
    aggregation, which is exactly what the oracle spells)."""
    ev = _t(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("long")
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.withColumn("day_bucket", day)
              .groupBy("day_bucket")
              .pivot("event_type", types)
              .count()
              .na.fill(0, types)
              .select("day_bucket", *[F.col(t).cast("long").alias(t)
                                      for t in types])
              .orderBy("day_bucket"))


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (the inverse of pivot, Spark's ``DataFrame.unpivot``/melt):
    three lineitem measure columns melted to (measure, value) rows, then
    aggregated per (returnflag, measure). Catalyst expands melt to the
    same Expand node a stack() would produce — one scan, no shuffle until
    the aggregate; the oracle spells the expansion as UNION ALL."""
    li = _t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount"]
    m = li.select("l_returnflag", *measures) \
          .unpivot("l_returnflag", measures, "measure", "value")
    return (m.groupBy("l_returnflag", "measure")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.round(F.sum("value"), 2).alias("total"))
             .orderBy("l_returnflag", "measure"))


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS in the SQL surface (Catalyst
    rewrites to semi/anti joins — same plan family as semi_anti_join)."""
    register_sf_dir(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql("""
        SELECT c.c_custkey,
               CASE WHEN EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_totalprice > 300000)
                    THEN 1 ELSE 0 END AS has_big_order
        FROM customer c
        ORDER BY c.c_custkey
        LIMIT 100
    """)


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation predicate)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_suppkey")
              .agg(F.count(F.lit(1)).alias("n_lines"),
                   F.round(F.sum("l_quantity"), 2).alias("qty"))
              .filter(F.col("n_lines") >= 40)
              .orderBy("l_suppkey"))


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: count distinct (reference's driver-side set() count, c5:13)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.countDistinct("o_custkey").alias("distinct_customers"),
                  F.count(F.lit(1)).alias("order_count"))
             .orderBy("o_orderstatus"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union + last-over-window, one shuffle): for each signup,
    the user's latest purchase value at-or-before it. Oracle = DuckDB's
    native ASOF LEFT JOIN."""
    from pydata_vector_search_spark.operators.joins import asof_join
    ev = _t(spark, sf_dir, "events")
    left = (ev.filter(F.col("event_type") == "signup")
              .select("event_id", "user_id", "ts"))
    right = (ev.filter(F.col("event_type") == "purchase")
               .select("user_id", "ts", "value"))
    return (asof_join(left, right, on="user_id", time_col="ts",
                      value_cols=["value"])
            .select("event_id", "user_id",
                    F.round("value_r", 2).alias("value_r"))
            .orderBy("event_id"))


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via coarse-bucket equi-join + exact filter:
    purchases within 1 hour after each signup of the same user."""
    from pydata_vector_search_spark.operators.joins import range_join
    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .select("event_id", "user_id", "ts", "value"))
    windows = (ev.filter(F.col("event_type") == "signup")
                 .select(F.col("event_id").alias("signup_id"), "user_id",
                         F.col("ts").alias("w_start"),
                         (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end")))
    return (range_join(purchases, windows, on="user_id", time_col="ts",
                       start_col="w_start", end_col="w_end",
                       grain_seconds=3600)
            .select("signup_id", F.col("event_id").alias("purchase_id"),
                    F.round("value", 2).alias("value"))
            .orderBy("signup_id", "purchase_id"))


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 date functions: year/quarter/month extraction + agg."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").cast("long").alias("yr"),
                      F.quarter("o_orderdate").cast("long").alias("qtr"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(F.sum("o_totalprice"), 2).alias("revenue"))
             .orderBy("yr", "qtr"))


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 hierarchical rollup with grouping markers (subtotals + grand
    total in one pass — Catalyst expands to a single shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
              .agg(F.grouping_id().cast("long").alias("gid"),
                   F.count(F.lit(1)).alias("n"),
                   F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
              .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                      F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                      "gid", "n", "sum_qty")
              .orderBy("gid", "rf", "ls"))


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: lag + running sum per customer over order history."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.select("o_custkey", "o_orderkey",
                     F.round(F.col("o_totalprice"), 2).alias("price"),
                     F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
                     F.round(F.sum("o_totalprice").over(
                         w.rowsBetween(Window.unboundedPreceding, 0)), 2)
                      .alias("running_total"))
             .orderBy("o_custkey", "o_orderkey"))


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: part⋈lineitem + conditional aggregation (covers the
    part table; dim side broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
              .groupBy(F.col("p_brand"))
              .agg(F.round(F.sum(F.when(F.col("p_type").like("PROMO%"), rev)
                                  .otherwise(F.lit(0.0))), 2).alias("promo_rev"),
                   F.round(F.sum(rev), 2).alias("total_rev"),
                   F.count(F.lit(1)).alias("n_lines"))
              .orderBy("p_brand"))


def q_from_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 JSON: from_json with an explicit schema (vs the path-extraction
    spelling in events_json_window) + distinct agg per event_type."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return (parsed.groupBy("event_type")
                  .agg(F.countDistinct(F.col("p.k")).alias("distinct_k"),
                       F.min(F.col("p.k")).alias("min_k"),
                       F.max(F.col("p.k")).alias("max_k"))
                  .orderBy("event_type"))


def q_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left outer join + null-aware agg: every customer, including those
    with no orders (count(order) = 0 via the null-skipping count)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_outer")
             .groupBy("c_custkey", "c_mktsegment")
             .agg(F.count("o_orderkey").alias("n_orders"),
                  F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
                   .alias("revenue"))
             .orderBy("c_custkey")
             .limit(50))


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 array functions over the embedding column: size / element_at /
    slice-sum (first-4 prefix) — pruned scan reads only 2 columns."""
    emb = _t(spark, sf_dir, "embeddings")
    prefix = F.aggregate(F.slice(F.col("embedding").cast("array<double>"), 1, 4),
                         F.lit(0.0), lambda a, x: a + x)
    return (emb.select("vec_id",
                       F.size("embedding").cast("long").alias("dim"),
                       F.round(F.element_at(F.col("embedding"), 1).cast("double"), 4)
                        .alias("first_val"),
                       F.round(prefix, 4).alias("prefix_sum"))
               .orderBy("vec_id")
               .limit(100))


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C4 string functions: substring/upper/replace/instr/lpad/concat_ws
    (the reference's concat + truncation ops, c5:6,10, c11:15)."""
    d = _t(spark, sf_dir, "documents")
    return (d.select("doc_id",
                     F.concat_ws(":", F.upper("lang"), "source").alias("tag"),
                     F.substring("text", 1, 20).alias("head20"),
                     F.length(F.replace("text", F.lit(" "), F.lit(""))).cast("long")
                      .alias("n_nonspace"),
                     F.instr("text", "the").cast("long").alias("first_the"),
                     F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded"))
             .orderBy("doc_id")
             .limit(100))


# --------------------------------------------------------------------------
# Events: timestamp + JSON scalar functions (SURVEY §2.7 C5)
# --------------------------------------------------------------------------

def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session windows (F.session_window, gap 30 min) — the oracle
    reconstructs identical sessions via lag + cumulative-sum grouping."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.session_window("ts", "30 minutes").alias("sess"),
                       "user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 2).alias("sum_value"))
              .select(F.unix_timestamp("sess.start").cast("long").alias("sess_start"),
                      F.unix_timestamp("sess.end").cast("long").alias("sess_end"),
                      "user_id", "n_events", "sum_value")
              .orderBy("user_id", "sess_start"))


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sliding windows (1 day window / 6 h slide): every event lands
    in 4 overlapping windows; the oracle reconstructs them as a UNION of
    the 4 slide-aligned shifts."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 day", "6 hours").alias("win"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"))
              .select(F.unix_timestamp("win.start").cast("long")
                       .alias("win_start"),
                      "event_type", "n_events")
              .orderBy("win_start", "event_type"))


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase salted aggregation (operators/skew.py) — must
    be value-identical to the plain GROUP BY the oracle runs."""
    from pydata_vector_search_spark.operators.skew import salted_aggregate
    ev = _t(spark, sf_dir, "events")
    out = salted_aggregate(ev, ["event_type"],
                           {"n_events": ("count", "value"),
                            "sum_value": ("sum", "value"),
                            "avg_value": ("avg", "value")},
                           num_salts=8, spread_col="event_id")
    return (out.select("event_type", "n_events",
                       F.round("sum_value", 2).alias("sum_value"),
                       F.round("avg_value", 2).alias("avg_value"))
               .orderBy("event_type"))


def q_events_json_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: get_json_object + tumbling daily bucket (epoch-aligned) + agg."""
    ev = _t(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("long")
    return (ev.withColumn("day_bucket", bucket)
              .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
              .groupBy("day_bucket", "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum("value"), 2).alias("sum_value"),
                   F.round(F.avg("k"), 2).alias("avg_k"))
              .orderBy("day_bucket", "event_type"))


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 Structured Streaming: real readStream → watermark(1d) → tumbling
    daily window agg → availableNow run into a memory sink. Append mode
    emits exactly the windows closed by the final watermark
    (win_end ≤ max(ts) − 1 day), which the oracle reproduces in SQL."""
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S

    ev = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = S.tumbling_window_agg(ev, window="1 day", watermark="1 day")
    name = f"q_stream_tumb_{_uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
            .trigger(availableNow=True).start())
    _await_stream(q)
    return (spark.table(name)
            .select(F.unix_timestamp("win_start").cast("long").alias("win_start"),
                    "event_type", F.col("n_events").cast("long").alias("n_events"),
                    "sum_value")
            .orderBy("win_start", "event_type"))


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways the mandate names: whitespace split and a
    BPE-ish regex (letter runs / digits / symbols) — all JVM-side
    expressions in one scan, plus the corpus-level totals a tokenizer
    budget estimate needs."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select("doc_id",
                          T.token_count("text").alias("ws_tokens"),
                          T.token_count_bpe("text").alias("bpe_tokens"))
    return (per_doc.groupBy()
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ws_tokens").alias("total_ws"),
                 F.sum("bpe_tokens").alias("total_bpe"),
                 F.round(F.avg("bpe_tokens"), 2).alias("avg_bpe")))


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 stream-static join: the events STREAM enriched with the static
    customer dimension (broadcast — each micro-batch hash-joins against
    the dim without shuffling the stream), then watermarked tumbling
    windows per market segment. The watermark is applied BEFORE the join
    so emission tracks source timestamps, not join survivors; append mode
    emits exactly the windows closed by the final watermark, which the
    oracle reproduces in SQL."""
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S

    ev = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    agg = (ev.withWatermark("ts", "1 day")
             .join(F.broadcast(cust), "user_id")
             .groupBy(F.window("ts", "1 day").alias("win"), "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value")))
    name = f"q_stream_enrich_{_uuid.uuid4().hex[:8]}"
    q = (agg.select(F.unix_timestamp("win.start").cast("long").alias("win_start"),
                    "c_mktsegment", "n_events", "sum_value")
            .writeStream.format("memory").queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
            .trigger(availableNow=True).start())
    _await_stream(q)
    return (spark.table(name)
            .select("win_start", "c_mktsegment",
                    F.col("n_events").cast("long").alias("n_events"),
                    "sum_value")
            .orderBy("win_start", "c_mktsegment"))


def q_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 custom stateful operator end-to-end: per-type running totals via
    ``applyInPandasWithState`` (Arrow-batched per-key state — the escape
    hatch for semantics windows can't express, SURVEY §2.9), run with
    availableNow into an update-mode memory sink.

    The final answer extraction is micro-batch-count independent: the
    operator emits a (n_events, total_value) row per key per batch, and
    n_events is STRICTLY monotonic per key (a key only appears in batches
    that add rows), so row_number over n_events desc = 1 is the final state
    however availableNow split the files."""
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S

    ev = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    tot = S.running_totals_stateful(ev)
    name = f"q_stateful_tot_{_uuid.uuid4().hex[:8]}"
    q = (tot.writeStream.format("memory").queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
            .trigger(availableNow=True).start())
    _await_stream(q)
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (spark.table(name)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("event_type", F.col("n_events").cast("long").alias("n_events"),
                    F.round("total_value", 2).alias("total_value"))
            .orderBy("event_type"))


def q_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance end-to-end through the correctness gate: bootstrap
    a keyed table, apply two upsert commits (COW rewrites, the reference's
    Hudi write semantics c8:17-23), then COMPACT — the small-files rewrite
    (fewer files, history preserved) — and aggregate the final snapshot.
    Hash-equality with the oracle proves compaction is content-preserving;
    the file-count reduction itself is pinned in test_engine_facade."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import upsert_table

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000) \
                                   .coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_maint_"))
    cat.write("t", o, key="o_orderkey")                        # commit 1
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_orderstatus", F.lit("X")))     # commit 2
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 5 == 0)
                 .withColumn("o_orderstatus", F.lit("Y")))     # commit 3
    cat.compact("t", target_partitions=2)                      # maintenance
    return (cat.load("t")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("o_orderstatus"))


def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 semi-structured, Spark-4 native: the JSON props column parsed
    ONCE into a VARIANT (binary semi-structured encoding) and then
    path-extracted with a type — the at-scale answer to string JSON,
    where every get_json_object call re-parses the string. Same result
    contract as the string-JSON spelling (events_json_window family), so
    the oracle is plain SQL json extraction."""
    ev = _t(spark, sf_dir, "events")
    v = ev.withColumn("v", F.parse_json("props"))
    k = F.try_variant_get("v", "$.k", "int")
    return (v.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum(k).cast("long").alias("sum_k"),
                 F.max(k).cast("long").alias("max_k"))
            .orderBy("event_type"))


def q_keyed_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER Hudi write operation ('delete'), completing the mutation
    surface beside upsert: bootstrap → keyed upsert → predicate delete
    (COW rewrite + tombstones in the commit log) → snapshot aggregate.
    Hash-equality proves the delete removed exactly the predicate rows
    and nothing else; tombstone retraction is pinned in
    test_incremental."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 4000) \
                                   .coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_del_"))
    cat.write("t", o, key="o_orderkey")                        # commit 1
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_orderstatus", F.lit("X")))     # commit 2
    delete_where(cat, "t", "o_orderkey % 7 = 0")               # commit 3
    return (cat.load("t")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("o_orderstatus"))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (the dedup mandate in streaming form): the
    events STREAM deduplicated on (user_id, event_type) with
    ``dropDuplicates`` state, sunk append-mode, then rolled up. WHICH
    physical row survives per key depends on micro-batching, but the key
    SET is exactly the batch-distinct keys, so counting survivors per
    event_type is deterministic — and SQL-oracle-able as COUNT(DISTINCT).
    The bounded-state variant (``dropDuplicatesWithinWatermark``) is
    exercised in tests; its output is eviction-dependent by design, so the
    declared query uses the global form — with NO watermark: a watermark
    on global ``dropDuplicates`` would let multi-micro-batch runs (e.g.
    maxFilesPerTrigger) drop late rows BEFORE dedup, breaking the
    COUNT(DISTINCT) equivalence the oracle asserts."""
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S

    ev = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    dd = S.dedup_stream(ev, ["user_id", "event_type"], watermark=None)
    name = f"q_stream_dedup_{_uuid.uuid4().hex[:8]}"
    q = (dd.select("user_id", "event_type")
           .writeStream.format("memory").queryName(name)
           .outputMode("append")
           .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
           .trigger(availableNow=True).start())
    _await_stream(q)
    return (spark.table(name)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .orderBy("event_type"))


def q_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7-M6 loop closed under the oracle: STREAM → keyed upsert sink →
    snapshot. Bootstrap = per-user latest even-id event (precombine
    row_number on event_id desc, Hudi's precombine-field semantics);
    the odd-id half of the events STREAM then flows through
    ``stream_upsert_sink`` (foreachBatch → upsert_table) into the same
    table. Final snapshot per user: the max-odd-id row where the user
    has odd events (stream wins over bootstrap), else the max-even-id
    row — which is exactly the one-window SQL replay the oracle runs.
    Deterministic because the precombine key is unique per user and the
    source is one file (availableNow = one micro-batch; multi-batch
    splits would make cross-batch upsert order, not event_id order,
    decide — the same caveat Hudi documents for precombine across
    commits)."""
    import tempfile
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S
    from pydata_vector_search_spark.catalog import Catalog

    cols = ["event_id", "user_id", "event_type", "value"]
    ev = _t(spark, sf_dir, "events").select(*cols)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    base = (ev.filter(F.col("event_id") % 2 == 0)
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn").coalesce(4))
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_supsert_"))
    cat.write("u", base, key="user_id")

    stream = (S.read_events_stream(spark,
                                   os.path.join(sf_dir, "events.parquet"))
               .filter(F.col("event_id") % 2 == 1).select(*cols))
    name = f"q_stream_upsert_{_uuid.uuid4().hex[:8]}"
    q = S.stream_upsert_sink(stream, cat, "u", key="user_id",
                             checkpoint=f"/tmp/pvss_ckpt_{name}",
                             order_by="event_id")
    _await_stream(q)
    return (cat.load("u").select(*cols)
               .orderBy("user_id"))


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC SOURCE: mutate a table (bootstrap → keyed upsert →
    predicate delete), then tail its commit log with
    ``read_changes_stream`` and REPLAY the stream into the final state —
    latest row per key by commit, tombstones retracted. The replayed
    aggregate hash-matches a pure-SQL derivation of the final state, so
    the CDC feed provably carries every upsert AND every delete (the
    tombstone bug class, under the oracle, not just pytest).
    Commit order, not arrival order, decides — each key appears at most
    once per commit, so the replay is micro-batch-split independent."""
    import tempfile
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S
    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*cols)
    base = o.filter(F.col("o_orderkey") < 2000).coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_scdc_"))
    cat.write("t", base, key="o_orderkey")                     # commit 1
    upsert_table(cat, "t", base.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_orderstatus", F.lit("U")))     # commit 2
    delete_where(cat, "t", "o_orderkey % 7 = 0")               # commit 3

    changes = S.read_changes_stream(spark, cat, "t")
    name = f"q_stream_cdc_{_uuid.uuid4().hex[:8]}"
    q = (changes.select(*cols, "_deleted", "commit")
         .writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
         .trigger(availableNow=True).start())
    _await_stream(q)

    # batch replay over the sink: bootstrap state + streamed changes,
    # latest commit per key wins, tombstones drop the key
    wk = Window.partitionBy("o_orderkey").orderBy(F.col("commit").desc())
    replay = (base.withColumn("_deleted", F.lit(False))
                  .withColumn("commit", F.lit(1))
                  .unionByName(spark.table(name))
                  .withColumn("__rn", F.row_number().over(wk))
                  .filter((F.col("__rn") == 1) & ~F.col("_deleted")))
    return (replay.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("o_orderstatus"))


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 stream-STREAM join (click→purchase attribution): two event
    streams off the same replayable source, inner-joined on user_id with
    a time-range predicate (purchase within 30 min after the click).
    Joined rows sink append-mode; the rollup over them runs as a batch
    query on the sink (same layering as stream_dedup). Declared with
    watermark=None — the exact-result mode: no row can be evicted before
    its match arrives, so the pair set equals the batch interval join the
    oracle runs; the bounded-state watermarked mode (each side buffers
    only watermark+interval of rows — the 100 TB tail-following shape) is
    pinned in tests/test_streaming.py."""
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S

    ev = S.read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    clicks = ev.filter(F.col("event_type") == "click") \
               .select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase") \
                  .select("user_id", "ts", "event_id", "value")
    j = S.stream_stream_join(clicks, purchases, on="user_id",
                             within="30 minutes", watermark=None)
    name = f"q_ssj_{_uuid.uuid4().hex[:8]}"
    # Stateful-shuffle sizing: a stream-stream join instantiates FOUR
    # state stores per shuffle partition per micro-batch; partitions are
    # locked into the checkpoint at start. Size to state throughput (key
    # cardinality × rows/batch), not to the session's scan parallelism —
    # at this fixture's cardinality 4 partitions halve wall time vs 32
    # (measured 2.2s vs 3.9s warm). Restored after the query drains.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (j.select("user_id", "r_value")
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .option("checkpointLocation", f"/tmp/pvss_ckpt_{name}")
              .trigger(availableNow=True).start())
        _await_stream(q)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (spark.table(name)
            .groupBy((F.col("user_id") % 10).alias("bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.round(F.sum("r_value"), 2).alias("total_value"))
            .orderBy("bucket"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap > 30 min starts a new session): lag to
    flag session breaks, running sum to number sessions, then a two-level
    rollup to per-user session stats. All JVM window/agg expressions in
    one plan with ONE data shuffle: events exchange-hash on user_id once,
    both windows share that sort, and Catalyst sees the (user_id, sess)
    and user_id groupings are satisfied by the same partitioning — no
    exchange between the aggregates (verified in .explain: the only other
    exchange sorts the tiny per-user output)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsec = F.unix_timestamp("ts").cast("long")
    prev = F.lag(tsec).over(w)
    brk = F.when(prev.isNull() | ((tsec - prev) > 1800), 1).otherwise(0)
    sess = (ev.withColumn("tsec", tsec)
              .withColumn("sess", F.sum(brk).over(w)))
    per_sess = (sess.groupBy("user_id", "sess")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     (F.max("tsec") - F.min("tsec")).alias("dur_sec"),
                     F.sum("value").alias("sv")))
    return (per_sess.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.max("n_events").cast("long").alias("max_session_events"),
                 F.max("dur_sec").cast("long").alias("max_session_sec"),
                 F.round(F.sum("sv"), 2).alias("total_value"))
            .orderBy("user_id"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split for a training-data pipeline:
    bucket = md5(doc_id) mod 100 → 80/10/10. Hash-based (not rand()) so
    the split is stable across runs, executors, and engines — the property
    a 100 TB corpus split must have (re-running the pipeline must not
    reshuffle examples between train and test). Per (lang, split) rollup
    shows the split is stratified-proportional within every language."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6),
                     16, 10).cast("long") % 100)
    split = (F.when(bucket < 80, "train")
              .when(bucket < 90, "valid").otherwise("test"))
    return (docs.withColumn("split", split)
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .orderBy("lang", "split"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: n-gram Jaccard pairs (the jaccard_join edge
    set) collapsed into connected components by iterative min-label
    propagation (operators/graph.py) — A~B, B~C lands A,B,C in ONE
    cluster even though A~C was never emitted. This is the step that turns
    pairwise near-dup detection into an actual dedup decision (keep the
    min-id representative per cluster). The oracle re-derives the same
    components in SQL via a recursive transitive closure."""
    from pydata_vector_search_spark.operators.graph import cluster_summary

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(docs, "text", "doc_id",
                                          n=3, threshold=0.5)
    return cluster_summary(pairs, src="id_1", dst="id_2")


# --------------------------------------------------------------------------
# Text analysis / dedup (driver mandate; SURVEY §2.9)
# --------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count + quality score per doc (JVM-side expressions only)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        T.token_count("text").cast("long").alias("n_tokens"),
                        F.round(T.stopword_ratio("text"), 4).alias("stop_ratio"),
                        F.round(T.quality_score("text"), 2).alias("quality"))
                .orderBy("doc_id").limit(100))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: keep min doc_id per
    fingerprint (deterministic canonical row, unlike dropDuplicates)."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.withColumn("fp", T.fingerprint_md5("text"))
    return (fp.groupBy("fp")
              .agg(F.min("doc_id").alias("keep_doc_id"),
                   F.count(F.lit(1)).alias("dup_count"))
              .select("fp", "keep_doc_id", "dup_count")
              .orderBy("keep_doc_id"))


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma / RefinedWeb / C4 rule —
    sub-document boilerplate removal): documents are re-chunked into
    deterministic 10-token lines (the synthetic corpus has no newlines),
    then every line that already occurred anywhere in the corpus is
    removed except its first (doc_id, position) occurrence, and
    surviving lines reassemble in order. Per-lang doc counts, unit/kept
    sums, and an md5-sum of every rebuilt text prove byte-identical
    reassembly. Two shuffles total (unit-key groupBy + doc reassembly);
    hot boilerplate keys are absorbed map-side — see
    operators/span_dedup.py scale notes."""
    from pydata_vector_search_spark.operators.span_dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    # token array materialized in its own projection before the line
    # rebuild (same interpreted-HOF re-evaluation class as the
    # clean_pipeline fix: the inline spelling re-runs normalize+split
    # once per 10-token line — measured 0.78 s vs 0.34 s warm at sf0.1
    # for the rebuild expression alone)
    k = 10
    base = docs.select("doc_id",
                       F.split(T.normalized_text("text"), " ")
                        .alias("__tk"))
    tk = F.col("__tk")
    nlines = F.ceil(F.size(tk) / F.lit(k)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(F.slice(tk, i * k + 1, k), " "))
    d = base.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = paragraph_dedup(d, "text", "doc_id")
    h = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
    return (out.join(docs.select("doc_id", "lang"), "doc_id")
               .groupBy("lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_units").cast("long").alias("units"),
                    F.sum("n_kept").cast("long").alias("kept"),
                    F.sum(h).cast("long").alias("text_h"))
               .orderBy("lang"))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (token-span) dedup, Lee et al. 2021: every
    duplicated run of >= 8 tokens is removed from all but its first
    (doc_id, start) occurrence — the suffix-array formulation re-expressed
    as a window-hash groupBy + gaps-and-islands interval merge (one
    content-key shuffle + one per-doc window; no suffix array, no
    self-join). Per-lang token/removal/span sums plus an md5-sum over
    every rebuilt text pin the exact surviving byte sequence."""
    from pydata_vector_search_spark.operators.span_dedup import (
        duplicate_span_dedup)

    docs = _t(spark, sf_dir, "documents")
    out = duplicate_span_dedup(docs.select("doc_id", "text"),
                               "text", "doc_id", n=8)
    h = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
    return (out.join(docs.select("doc_id", "lang"), "doc_id")
               .groupBy("lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_tokens").cast("long").alias("toks"),
                    F.sum("n_removed").cast("long").alias("removed"),
                    F.sum("n_spans").cast("long").alias("spans"),
                    F.sum(h).cast("long").alias("text_h"))
               .orderBy("lang"))


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020): per-doc
    negative log-likelihood under an interpolated unigram/bigram model
    trained on the corpus itself in one pass. Per-gram log terms are
    floored to integer micro-nats before summing (the bm25 convention),
    so per-doc and per-lang sums are exact longs — order-independent
    and bit-equal across engines; the declared result contains NO
    rounded float at all. ``hi_nll`` counts docs over 3.5 nats/bigram
    (the "gibberish" tail a CCNet-style filter would cut), compared in
    exact integer arithmetic."""
    from pydata_vector_search_spark.operators.lm_score import bigram_lm_score

    docs = _t(spark, sf_dir, "documents")
    out = bigram_lm_score(docs, "text", "doc_id", lam=0.8)
    return (out.join(docs.select("doc_id", "lang"), "doc_id")
               .groupBy("lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_bigrams").cast("long").alias("bigrams"),
                    F.sum("nll_micro").cast("long").alias("nll_micro"),
                    F.sum(F.when(F.col("nll_micro")
                                 > F.lit(3_500_000) * F.col("n_bigrams"), 1)
                          .otherwise(0)).cast("long").alias("hi_nll"))
               .orderBy("lang"))


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-bigram importance
    weights of the whole corpus toward the English-doc target
    distribution; top 15 docs by weight. Bucket models are
    ``num_buckets`` rows — broadcast — so the corpus explode never
    shuffles; per-doc weights are exact integer micro-nat sums
    (``w_micro``), so the declared result is float-free."""
    from pydata_vector_search_spark.operators.lm_score import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_importance(docs, target, "text", "doc_id",
                           num_buckets=10_000, k=15)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization: the jaccard_join edge
    set collapsed to connected components (same CC operator the
    dedup_clusters queries pin), but the kept representative is the
    HIGHEST-QUALITY member (quality_score round-2, ties → min doc_id)
    instead of the min id — what production pipelines actually do
    (keep the cleanest duplicate, not an arbitrary one). The
    per-cluster argmax is ``max(struct(q, -node))`` — a single
    map-side-combinable aggregate (lexicographic struct max ≡ "max
    quality, then min id"), NOT a window: a pathological giant cluster
    partial-aggregates on every task instead of landing whole on one
    window partition."""
    from pydata_vector_search_spark.operators.graph import \
        connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(docs, "text", "doc_id",
                                          n=3, threshold=0.5)
    comps = connected_components(pairs, src="id_1", dst="id_2")
    scored = comps.join(
        docs.select(F.col("doc_id").alias("node"),
                    F.round(T.quality_score("text"), 2).alias("q")),
        "node")
    keeper = F.max(F.struct(F.col("q"),
                            (-F.col("node")).alias("negnode")))
    return (scored.groupBy(F.col("component").alias("cluster_id"))
                  .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"),
                       keeper.alias("__k"))
                  .select("cluster_id", "cluster_size",
                          (-F.col("__k.negnode")).cast("long")
                           .alias("keep_id"),
                          F.col("__k.q").alias("keep_q"))
                  .orderBy("cluster_id"))


def q_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataloader shuffle+shard (operators/packing.py
    shard_shuffle): md5-keyed pseudo-random order, 8 shards, one hash
    exchange + in-partition sort (never a global sort). The declared
    result pins the COMPLETE permutation per shard, not a sample: the
    rank-weighted checksum ``sum(rn * doc_id)`` changes if any two rows
    swap, plus the exact first/last doc of every shard — all exact
    integers."""
    from pydata_vector_search_spark.operators.packing import shard_shuffle

    docs = _t(spark, sf_dir, "documents")
    sh = shard_shuffle(docs.select("doc_id"), "doc_id", num_shards=8)
    w = Window.partitionBy("shard").orderBy("shard_key", "doc_id")
    return (sh.withColumn("rn", F.row_number().over(w))
              .groupBy("shard")
              .agg(F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum(F.col("rn").cast("long") * F.col("doc_id"))
                    .cast("long").alias("ord_sum"),
                   F.expr("min_by(doc_id, rn)").alias("first_doc"),
                   F.expr("max_by(doc_id, rn)").alias("last_doc"))
              .orderBy("shard"))


def q_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus cleaning pipeline — the composition a 100 TB
    pretraining run actually executes, as ONE Catalyst plan: (1) the
    corpus gate (quality >= 0.5, confident language ID, >= 20 tokens —
    all rounded-threshold scalar expressions in one scan), then (2)
    paragraph-level dedup over the SURVIVORS (first occurrence computed
    on the gated corpus, matching real pipeline order), then (3) a
    per-language rollup of documents, units kept, surviving tokens, and
    an md5-sum over every rebuilt text. Locally
    oracle-verified at sf0.001/0.01/0.1."""
    from pydata_vector_search_spark.operators.span_dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    gated = (docs.select("doc_id", "lang", "text",
                         F.round(T.quality_score("text"), 2).alias("__q"),
                         T.lang_id("text").alias("__pl"),
                         T.token_count("text").alias("__nt"))
                 .filter((F.col("__q") >= 0.5) & (F.col("__pl") != "und")
                         & (F.col("__nt") >= 20)))
    # Token array MATERIALIZED into its own projection before the line
    # rebuild: HOF lambdas are interpreted with no cross-lambda
    # CSE, so the inline spelling re-runs the normalize+split regex
    # once per 10-token line — O(L²/k) regex work per doc (the same
    # bug class fingerprint.py documents; measured 0.78 s vs 0.34 s
    # warm for the rebuild alone at sf0.1).
    k = 10
    gated = gated.select("doc_id", "lang",
                         F.split(T.normalized_text("text"), " ")
                          .alias("__tk"))
    tk = F.col("__tk")
    nlines = F.ceil(F.size(tk) / F.lit(k)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.array_join(F.slice(tk, i * k + 1, k), " "))
    # Materialization barrier: paragraph_dedup
    # references its input three times and the final rollup joins the
    # gate output again — without a barrier Catalyst re-evaluates the
    # multi-regex gate chain once per reference (4 corpus passes of
    # quality/lang scoring; measured 5.6 s vs 2.3 s at sf0.1). ONE lazy
    # localCheckpoint stores the GATED SURVIVORS (doc_id, lang, rebuilt
    # text — the budget-bounded side) and BOTH consumers (the dedup
    # input and the language rollup join) derive from it, so the gate
    # chain runs exactly once (checkpointing d and the lang projection
    # separately still evaluated the gate twice). At
    # 100 TB this is one survivor-sized block-manager write vs four
    # full regex passes.
    gated = gated.select("doc_id", "lang",
                         F.array_join(lines, "\n").alias("text")) \
                 .localCheckpoint(eager=False)
    d = gated.select("doc_id", "text")
    out = paragraph_dedup(d, "text", "doc_id")
    kept_toks = F.size(F.filter(F.split("text", "[\n ]"),
                                lambda t: F.length(t) > 0))
    h = F.conv(F.substring(F.md5("text"), 1, 10), 16, 10).cast("long")
    return (out.join(gated.select("doc_id", "lang"), "doc_id")
               .groupBy("lang")
               .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.sum("n_units").cast("long").alias("units"),
                    F.sum("n_kept").cast("long").alias("kept"),
                    F.sum(kept_toks).cast("long").alias("kept_tokens"),
                    F.sum(h).cast("long").alias("text_h"))
               .orderBy("lang"))


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for embedding training (the in-batch /
    ANN-mined negatives step of contrastive pipelines, e.g. DPR /
    Contriever): for each query vector, its top-3 most-similar vectors
    with a DIFFERENT label. Composition of the proven batch-KNN
    machinery (knn.knn_join, Arrow numpy scoring —
    the same pair population the green knn_join oracle pins): one
    knn_join per distinct query label against the label-excluded
    corpus; the label loop is bounded by the tiny query batch (≤5),
    and each join broadcasts its query block — the corpus never
    shuffles. Locally oracle-green at sf0.001/0.01/0.1."""
    from functools import reduce

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    labels = sorted(r.label for r in q.select("label").distinct().collect())
    outs = []
    for lbl in labels:
        ql = q.filter(F.col("label") == lbl) \
              .select(F.col("vec_id").alias("qid"), "embedding")
        neg = emb.filter(F.col("label") != lbl) \
                 .select(F.col("vec_id").alias("neg_id"), "embedding")
        outs.append(knn.knn_join(ql, neg, "embedding", k=3, round_to=6,
                                 left_id="qid", right_id="neg_id"))
    return (reduce(DataFrame.unionByName, outs)
            .select("qid", "neg_id", F.col("_distance").alias("dist"))
            .orderBy("qid", "neg_id"))


def q_dataloader_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSEMBLE A TRAINING EPOCH end-to-end — the dataloader-side
    composition a pretraining run executes after the corpus is clean,
    chained as one lineage: (1) temperature-weighted
    corpus mixing (n^0.5 source flattening, md5 hash-rule membership),
    (2) token-budget selection of the best 8k tokens by the
    percent-distinct quality bucket (bucket histogram + boundary-only
    window — no global-order window), (3) greedy next-fit SEQUENCE
    PACKING into 256-token bins blocked by 100-id ranges, (4)
    deterministic shard SHUFFLE of the packed bins into 4 shards
    (md5-keyed order, one hash exchange + in-partition sort). Every
    stage is the identical operator its standalone green oracle pins
    (temperature_mix / token_budget_select / sequence_pack /
    shard_shuffle); here the oracle replays all four chained, so the
    hash also pins the STAGE BOUNDARIES — mix membership feeds the
    budget ranking, survivors feed block packing, bins feed the shard
    permutation (rank-weighted checksum + first/last bin per shard).
    Extends the reference's ingest→query zero-copy thesis
    (README.md:9-21) to the training-data product: corpus to epoch
    shards without leaving the engine."""
    from pydata_vector_search_spark.operators.packing import (
        pack_sequences, shard_shuffle, temperature_mix)
    from pydata_vector_search_spark.operators.text_ops import \
        select_token_budget

    docs = _t(spark, sf_dir, "documents")
    mixed = temperature_mix(docs, "doc_id", "lang", alpha=0.5,
                            sample_frac=0.5, seed=42)

    def pct_distinct() -> F.Column:
        # integer percent-distinct bucket (exact div — the engine-exact
        # arithmetic the token_budget_select oracle established)
        toks = F.split(T.normalized_text("text"), " ")
        d100 = F.size(F.array_distinct(toks)).cast("long") * 100
        n = F.size(toks).cast("long")
        return ((d100 - F.pmod(d100, n)) / n).cast("long")

    sel = select_token_budget(mixed, "text", "doc_id", budget_tokens=8000,
                              quality_col=pct_distinct(),
                              bucket_decimals=0)
    sized = sel.select("doc_id",
                       T.token_count("text").cast("long").alias("n_tok"))
    packed = pack_sequences(sized, "doc_id", "n_tok", max_len=256,
                            block_span=100)
    bins = (packed.groupBy("bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("bin_tokens")))
    sh = shard_shuffle(bins, "bin_id", num_shards=4, seed=7)
    w = Window.partitionBy("shard").orderBy("shard_key", "bin_id")
    return (sh.withColumn("rn", F.row_number().over(w))
              .groupBy("shard")
              .agg(F.count(F.lit(1)).cast("long").alias("n_bins"),
                   F.sum("bin_tokens").cast("long").alias("shard_tokens"),
                   F.sum(F.col("rn").cast("long") * F.col("bin_id"))
                    .cast("long").alias("ord_sum"),
                   F.expr("min_by(bin_id, rn)").alias("first_bin"),
                   F.expr("max_by(bin_id, rn)").alias("last_bin"))
              .orderBy("shard"))


def q_temperature_mix_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET temperature mixing: the mixing mass is token
    count, not document count — what pretraining recipes actually
    specify (the Pile/ROOTS shares are token shares). Group mass
    n_g = Σ token_count; rate_g = min(1, n_g^0.5/Σn^0.5 · 0.4·N_tok /
    n_g); membership stays the per-doc md5 hash rule, so expected kept
    TOKEN mass ∝ n_g^α while selection remains row-reproducible with
    no RNG state. Declared result pins rates (9 dp), kept-doc counts,
    kept-token sums, and id sums per source group."""
    from pydata_vector_search_spark.operators.packing import temperature_mix

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("n_tok", T.token_count("text").cast("long")))
    mixed = temperature_mix(docs, "doc_id", "source", alpha=0.5,
                            sample_frac=0.4, seed=11,
                            weight_col="n_tok")
    return (mixed.groupBy("source", "mix_rate")
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                 F.sum("n_tok").cast("long").alias("kept_tokens"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .select("source", F.round("mix_rate", 9).alias("mix_rate"),
                    "n_kept", "kept_tokens", "id_sum")
            .orderBy("source"))


def q_stream_index_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM → INDEX composition: the index-staleness
    contract under a STREAMING writer. Ingest embeddings, pin a
    table-scoped IVF index to the commit (the reference's table-scoped
    index, demo.ipynb c14:1) — then a structured STREAM of mutations
    (every vec_id % 10 == 0 row relabeled AND its vector negated) flows
    through ``stream_upsert_sink`` (foreachBatch keyed upsert) into the
    same table as TWO micro-batches (maxFilesPerTrigger=1 over two
    source files → two upsert commits, runtime-asserted), advancing it
    past the pinned commit. The next search REFUSES (StaleIndexError —
    asserted), and ``on_stale='patch'`` answers from the commit log the
    stream wrote (a MULTI-commit ``read_incremental`` — cross-commit
    last-write-wins): by merge-on-read — the changed keys anti-joined
    out of the probe, their live rows assigned to the EXISTING
    centroids and unioned in, nothing written — or, once the table is
    ``ann.COMPACT_COMMITS`` commits past the index (or the changed keys
    pass half of the key guard), by first compacting them into the index (``ivf_patch``). Either way work ∝
    changed keys, never a rebuild scan. Probed at nprobe=all so the
    served top-k equals exact KNN over the POST-STREAM state; the oracle
    replays the streamed mutation as a CASE (label AND negated vector)
    over the base table — hash equality proves the read serves every
    streamed change, including moved vectors."""
    import tempfile
    import uuid as _uuid

    from pydata_vector_search_spark import streaming as S
    from pydata_vector_search_spark.engine import Engine
    from pydata_vector_search_spark.operators.ann import StaleIndexError

    eng = Engine(spark, tempfile.mkdtemp(prefix="pvss_sidx_"))
    emb = _t(spark, sf_dir, "embeddings")
    eng.ingest(emb, "emb", key="vec_id")
    eng.ann_index_create("emb", "embedding", num_centroids=8, seed=42)
    qv = _query_vec(spark, sf_dir)

    # Two mutation slices written as two source files +
    # maxFilesPerTrigger=1 force TWO micro-batches through the sink —
    # two upsert commits, so the later ivf_patch consumes a
    # MULTI-commit incremental read (cross-commit last-write-wins
    # under a streaming writer, not a single-batch special case).
    src = tempfile.mkdtemp(prefix="pvss_sidx_src_")
    staging = tempfile.mkdtemp(prefix="pvss_sidx_stage_")
    muts = (emb.filter(F.col("vec_id") % 10 == 0)
               .withColumn("label", F.lit(99))
               .withColumn("embedding",
                           F.transform("embedding", lambda x: -x)))
    for i, half in enumerate((muts.filter(F.col("vec_id") % 20 == 0),
                              muts.filter(F.col("vec_id") % 20 != 0))):
        half.coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(staging, f"stage{i}"))
        part = [f for f in os.listdir(os.path.join(staging, f"stage{i}"))
                if f.endswith(".parquet")][0]
        os.symlink(os.path.join(staging, f"stage{i}", part),
                   os.path.join(src, f"m{i}.parquet"))
    stream = (spark.readStream.schema(emb.schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    name = f"q_stream_index_{_uuid.uuid4().hex[:8]}"
    q = S.stream_upsert_sink(stream, eng.catalog, "emb", key="vec_id",
                             checkpoint=f"/tmp/pvss_ckpt_{name}",
                             order_by="vec_id")
    _await_stream(q)
    # two micro-batches -> two upsert commits on top of the bootstrap:
    # the patch below must replay a MULTI-commit incremental read
    got = eng.catalog.current_commit("emb")
    if got != 3:
        raise RuntimeError(f"expected 2 streamed commits (commit 3), "
                           f"table is at commit {got}")

    try:
        eng.ann_search("emb", qv, k=10, nprobe=8)
        raise RuntimeError("stale index served after streamed mutation")
    except StaleIndexError:
        pass
    hits = eng.ann_search("emb", qv, k=10, nprobe=8, on_stale="patch",
                          round_to=2, tiebreaker="vec_id")
    return (hits.withColumn("score", F.round(1 - F.col("_distance"), 2))
                .select("vec_id", "label", "score"))


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified. The md5-order
    permutations make even the LSH candidate set engine-independent, so this
    APPROXIMATE operator still has an exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup.minhash_neardup_pairs(docs, "text", "doc_id",
                                        n=3, num_hashes=12, bands=4,
                                        threshold=0.5)
                 .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                 .orderBy("id_1", "id_2"))


def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (explode+equi-join formulation —
    co-occurrence-bounded, never corpus²)."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup.jaccard_similarity_join(docs, "text", "doc_id",
                                          n=3, threshold=0.5)
                 .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                 .orderBy("id_1", "id_2"))


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PREFIX-FILTERED exact Jaccard join (Bayardo et al. WWW'07):
    candidates only from each doc's rarest-first shingle prefix — the
    plan that wins on Zipfian corpora where hot shingles blow up the
    count-based join. Same oracle as jaccard_join: the two physical
    strategies must be output-identical."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup.jaccard_similarity_join_prefix(docs, "text", "doc_id",
                                                 n=3, threshold=0.5)
                 .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                 .orderBy("id_1", "id_2"))


def q_cosine_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup scan: top-20 most-similar embedding pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.cosine_topk_pairs(emb, "embedding", "vec_id", k=20, round_to=2)


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (driver mandate): all pairs with rounded
    cosine ≥ 0.45, exact coverage via hash-blocked matmul."""
    emb = _t(spark, sf_dir, "embeddings")
    return (dedup.cosine_threshold_pairs(emb, "embedding", "vec_id",
                                         threshold=0.45, round_to=6)
                 .orderBy("id_1", "id_2"))


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+ exact percentiles (median / p95, interpolated) per order status —
    bit-identical interpolation across engines."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.round(F.median("o_totalprice"), 2).alias("median_price"),
                  F.round(F.percentile("o_totalprice", F.lit(0.95)), 2)
                   .alias("p95_price"),
                  F.count(F.lit(1)).alias("n"))
             .orderBy("o_orderstatus"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming≤3 near-dup pairs. The 60-bit md5-derived signature
    makes the full pipeline (bit-votes, chunk blocking, Hamming verify)
    reproducible in SQL — oracle-checked, not rows-only."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=2)
    return (pairs.groupBy(F.col("hamming").cast("long").alias("hamming"))
                 .agg(F.count(F.lit(1)).alias("n_pairs"),
                      F.countDistinct("id_1").alias("n_docs_left"))
                 .orderBy("hamming"))


def q_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor-side embedding pipeline: mapInPandas + the SQL-reproducible
    Md5Encoder, so even the Arrow-batched Python encode stage is
    oracle-checked (components re-derived in SQL from md5 arithmetic).
    HashEncoder/SentenceTransformer run on the identical plumbing."""
    from pydata_vector_search_spark.operators.embedding import Md5Encoder
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    emb = embed_text(docs, "text", "embedding", encoder=Md5Encoder(dim=8))
    return (emb.select("doc_id",
                       F.size("embedding").cast("long").alias("dim"),
                       *[F.round(F.element_at("embedding", j + 1).cast("double"), 4)
                          .alias(f"e{j}") for j in range(4)])
               .orderBy("doc_id"))


_CHUNK_QUERY_TEXT = "learning data model systems"


def q_chunk_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG indexing pipeline under the hash gate: content-
    defined chunking → executor-side mapInPandas embedding (Md5Encoder)
    → Arrow-kernel cosine top-10 chunks for a fixed query text. Composes three
    independently-oracled stages (chunk_summary, embed_hash, vector_knn)
    into one plan; the oracle replays every arithmetic step in SQL and the
    query embedding is computed driver-side with the same encoder — the
    reference's encode-then-search flow (demo.ipynb c7→c11) applied to
    chunks instead of whole documents."""
    from pydata_vector_search_spark.operators.chunking import chunk_texts
    from pydata_vector_search_spark.operators.embedding import Md5Encoder

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = chunk_texts(docs, "text", "doc_id", divisor=32)
    enc = Md5Encoder(dim=8)
    emb = embed_text(chunks, "chunk_text", "embedding", encoder=enc)
    qv = [float(v) for v in enc.encode_batch([_CHUNK_QUERY_TEXT])[0]]
    return (emb.withColumn(
                "score",
                F.round(_cosine_sim("embedding", qv), 4))
            .orderBy(F.col("score").desc(), "doc_id", "chunk_idx")
            .limit(10)
            .select("doc_id", "chunk_idx", "n_tokens", "score"))


def _chunk_embed_knn_oracle() -> str:
    import hashlib
    import math

    dim = 8
    comps = [0.0] * dim
    for tok in _CHUNK_QUERY_TEXT.lower().split():
        for j in range(dim):
            h = hashlib.md5(f"{tok}:{j}".encode()).hexdigest()[:8]
            comps[j] += int(h, 16) / 2**32 - 0.5
    nrm = math.sqrt(sum(c * c for c in comps))
    q = [c / nrm for c in comps]
    qnorm = repr(math.sqrt(sum(v * v for v in q)))

    c_sums = ",\n                   ".join(
        f"sum(('0x' || substr(md5(tok || ':{j}'), 1, 8))::BIGINT"
        f" / 4294967296.0 - 0.5) AS c{j}" for j in range(dim))
    cn = " + ".join(f"c{j}*c{j}" for j in range(dim))
    e_cols = ", ".join(f"c{j} / sqrt({cn}) AS e{j}" for j in range(dim))
    dot = " + ".join(f"e{j} * ({q[j]!r})" for j in range(dim))
    en = " + ".join(f"e{j}*e{j}" for j in range(dim))
    return f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
                WHERE doc_id < 200
            ), t AS (
                SELECT doc_id,
                       generate_subscripts(tk, 1) - 1 AS pos,
                       unnest(tk) AS tok
                FROM toks
            ), flagged AS (
                SELECT doc_id, pos, tok,
                       coalesce(sum(CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 = 0
                                         THEN 1 ELSE 0 END)
                                OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                0)::BIGINT AS chunk_idx
                FROM t
            ), comps AS (
                SELECT doc_id, chunk_idx, count(*)::BIGINT AS n_tokens,
                   {c_sums}
                FROM flagged GROUP BY doc_id, chunk_idx
            ), normed AS (
                SELECT doc_id, chunk_idx, n_tokens, {e_cols} FROM comps
            )
            SELECT doc_id, chunk_idx, n_tokens,
                   round(({dot}) / (sqrt({en}) * {qnorm}), 4) AS score
            FROM normed
            ORDER BY score DESC, doc_id, chunk_idx
            LIMIT 10
        """


def q_chunk_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rolling-hash boundaries): per-chunk token
    count + fingerprint, reproduced exactly by the SQL oracle."""
    from pydata_vector_search_spark.operators.chunking import chunk_summary
    docs = _t(spark, sf_dir, "documents")
    return (chunk_summary(docs, "text", "doc_id", divisor=32)
            .select("doc_id", "chunk_idx", "n_tokens", "start_pos", "chunk_fp")
            .orderBy("doc_id", "chunk_idx"))


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline (driver mandate): binary media column →
    mapInPandas struct decode (deterministic fake — pure md5/length math,
    hence the SQL oracle) → relational agg over the typed metadata."""
    from pydata_vector_search_spark.operators import multimodal as M
    docs = _t(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text")
    meta = M.decode_image_meta(media)
    return (meta.select("doc_id", "image_meta.*")
                .groupBy("format")
                .agg(F.count(F.lit(1)).alias("n_images"),
                     F.round(F.avg("width"), 2).alias("avg_width"),
                     F.round(F.avg("height"), 2).alias("avg_height"),
                     F.sum("n_bytes").alias("total_bytes"))
                .orderBy("format"))


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: the 1→N mapInPandas fan-out (each
    payload → n_frames rows of byte slices) aggregated per frame index.
    The oracle reproduces the slicing arithmetic (step = max(1, len//n),
    tail clamping, empty-slice fallback) from the payload lengths alone —
    pinning that the fan-out emits exactly the rows and bytes a real
    frame decoder would hand downstream."""
    from pydata_vector_search_spark.operators import multimodal as M
    docs = _t(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text")
    frames = M.sample_frames(media, n_frames=4)
    return (frames.groupBy(F.col("frame_idx").cast("long").alias("frame_idx"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_frames"),
                 F.sum(F.length("frame")).cast("long").alias("total_bytes"))
            .orderBy("frame_idx"))


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection ("the best 12k tokens"): documents
    ranked by (rounded non-repetition DESC, doc_id ASC) — non-repetition
    = 1 − dup_token_fraction, the Gopher signal, which actually spreads
    on this corpus where quality_score saturates — kept while the
    running token total fits the budget. The engine computes it WITHOUT
    a global-order window (bucket histogram → driver prefix sum → pruned
    scan + boundary-bucket-only window — see select_token_budget); the
    oracle IS the naive global-window spelling, so hash equality proves
    the scale-safe plan selects the identical document set."""
    from pydata_vector_search_spark.operators.text_ops import \
        select_token_budget
    docs = _t(spark, sf_dir, "documents")

    # Percent-distinct bucket in EXACT integer arithmetic: (distinct*100)
    # div total. Rounding k/n to 2 decimals hits half-points (0.575 at
    # n=40) where Spark's BigDecimal HALF_UP and DuckDB's double-math
    # round() disagree by one bucket; integer div is engine-exact.
    def pct_distinct() -> F.Column:
        toks = F.split(T.normalized_text("text"), " ")
        d100 = F.size(F.array_distinct(toks)).cast("long") * 100
        n = F.size(toks).cast("long")
        return ((d100 - F.pmod(d100, n)) / n).cast("long")

    sel = select_token_budget(docs, "text", "doc_id",
                              budget_tokens=12000,
                              quality_col=pct_distinct(),
                              bucket_decimals=0)
    return (sel.select(pct_distinct().alias("qb"),
                       T.token_count("text").cast("long").alias("nt"))
            .groupBy("qb")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("nt").cast("long").alias("sum_tokens"))
            .orderBy(F.col("qb").desc()))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition quality signals (Rae et al. 2021 §A1.1):
    per-document duplicate-token and duplicate-bigram fractions — the
    boilerplate/spam filters a corpus gate runs beside length/punct
    checks — bucketed into a corpus distribution. Both fractions are
    integer-ratio arithmetic (distinct/total over token arrays), so the
    bucket cut is bit-deterministic across engines; all Catalyst array
    ops, no UDF, one scan."""
    docs = _t(spark, sf_dir, "documents")
    dt = T.dup_token_fraction("text")
    db = T.dup_bigram_fraction("text")
    return (docs.select(
                F.least(F.floor(dt * 10), F.lit(9)).cast("long")
                 .alias("tok_bucket"),
                db.alias("db"))
            .groupBy("tok_bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.round(F.avg("db"), 3).alias("avg_bigram_dup"))
            .orderBy("tok_bucket"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-pipeline mandate): every 97th
    document plays the leaked evaluation set; corpus docs whose distinct
    shingle sets are ≥80% contained in the benchmark's shingle union are
    flagged. One corpus scan + broadcast benchmark set — no self-join.
    The oracle replays shingling + containment with DuckDB list ops
    (strings vs the engine's xxhash64 longs — identical sets barring
    ~2⁻⁶⁴ collisions, same contract as the Jaccard oracles)."""
    from pydata_vector_search_spark.operators.dedup import decontaminate
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = decontaminate(docs, bench, "text", "doc_id", threshold=0.8)
    return (out.filter("contaminated")
               .select("doc_id", "overlap")
               .orderBy("doc_id"))


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline completing the image/video/audio trio: binary
    payload → typed audio metadata (mapInPandas deterministic fake
    decode: codec/sample_rate/duration from md5+length, SQL-replicable)
    → window segmentation computed from the METADATA alone (pure
    Catalyst sequence+explode — segments are pruned before any payload
    decode, the 100 TB ordering) → rollup per (codec, sample_rate).
    The oracle replays decode AND segmentation arithmetic in SQL."""
    from pydata_vector_search_spark.operators import multimodal as M
    docs = _t(spark, sf_dir, "documents")
    media = M.attach_fake_media(docs, "text")
    meta = M.decode_audio_meta(media)
    segs = M.segment_audio(meta, window_ms=10_000)
    return (segs.select("doc_id", "seg_idx", "seg_start_ms", "seg_end_ms",
                        F.col("audio_meta.codec").alias("codec"),
                        F.col("audio_meta.sample_rate").alias("sample_rate"))
            .groupBy("codec", "sample_rate")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_clips"),
                 F.count(F.lit(1)).cast("long").alias("n_segments"),
                 F.sum(F.col("seg_end_ms") - F.col("seg_start_ms"))
                  .cast("long").alias("total_ms"))
            .orderBy("codec", "sample_rate"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution (marker-stopword rule)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.withColumn("pred_lang", T.lang_id("text"))
                .groupBy("pred_lang")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .orderBy("pred_lang"))


# --------------------------------------------------------------------------
# Relational surface, batch 2 (free Spark SQL consequences — SURVEY §2 "X"
# rows: cube, ntile/percent_rank, unnest, decorrelated scalar subquery,
# full outer join, CASE bucketing, value-frame windows, TPC-H Q3 shape)
# --------------------------------------------------------------------------

def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 CUBE: all 4 grouping combinations of (status, priority) in one
    shuffle (Catalyst Expand → partial+final hash agg)."""
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
             .agg(F.grouping_id().cast("long").alias("gid"),
                  F.count(F.lit(1)).alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
             .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                     F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
                     "gid", "n", "sum_price")
             .orderBy("gid", "status", "priority"))


def q_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window distribution family: ntile / percent_rank / cume_dist.
    Partitioned by mktsegment (keeps the window parallel — no global
    single-partition sort at scale); total order inside each partition
    via the (acctbal, custkey) tiebreaker."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (c.select("c_custkey", "c_mktsegment",
                     F.round("c_acctbal", 2).alias("acctbal"),
                     F.ntile(4).over(w).alias("quartile"),
                     F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
                     F.round(F.cume_dist().over(w), 4).alias("cume"))
             .orderBy("c_mktsegment", "c_custkey"))


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UNNEST): normalized whitespace tokenization →
    token frequency top-20. explode stays inside whole-stage codegen;
    the count is a partial+final hash agg on the exploded rows."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return (docs.select(F.explode(F.split(norm, " ")).alias("token"))
                .filter(F.length("token") > 0)
                .groupBy("token")
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.col("n").desc(), F.col("token").asc())
                .limit(20))


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape. The oracle spells it as a correlated scalar
    subquery; the Spark plan is the DECORRELATED form — pre-aggregate
    avg(quantity) per part once, broadcast-join it back — which is the
    plan Catalyst's subquery decorrelation produces anyway and the only
    shape that scales (no per-row re-scan of lineitem)."""
    li = _t(spark, sf_dir, "lineitem")
    pk = (_t(spark, sf_dir, "part")
          .filter(F.col("p_brand") == "Brand#4").select("p_partkey"))
    # Restrict the fact to the brand's parts BEFORE the per-part aggregate:
    # the avg per partkey is unchanged (a part's rows are all kept or all
    # dropped), but the aggregate's shuffle carries only the brand subset
    # instead of every part — the difference between a tiny and a
    # fact-sized exchange at 100 TB.
    li_brand = li.join(F.broadcast(pk), li.l_partkey == pk.p_partkey)
    per_part = (li_brand.groupBy("l_partkey")
                        .agg((F.avg("l_quantity") * 0.5).alias("half_avg_qty")))
    # per_part is ≤ one row per brand part — broadcast it so the fact side
    # never shuffles (the static planner can't see how small it is).
    return (li_brand.join(F.broadcast(per_part), "l_partkey")
                    .filter(F.col("l_quantity") < F.col("half_avg_qty"))
                    .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
                         F.count(F.lit(1)).alias("n_lines")))


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 full outer join of two pre-aggregated sides (customer vs
    supplier presence per nation) + null-aware coalesce. Aggregating
    BEFORE the join keeps both sides tiny at any scale."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers"))
    sn = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers"))
    return (cn.join(sn, "nk", "full_outer")
              .select(F.col("nk").alias("nationkey"),
                      F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                      F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"))
              .orderBy("nationkey"))


def q_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + conditional aggregation — one scan, one agg."""
    c = _t(spark, sf_dir, "customer")
    bucket = (F.when(F.col("c_acctbal") < 0, "negative")
               .when(F.col("c_acctbal") < 3000, "low")
               .when(F.col("c_acctbal") < 7000, "mid")
               .otherwise("high"))
    return (c.withColumn("balance_bucket", bucket)
             .groupBy("balance_bucket")
             .agg(F.count(F.lit(1)).alias("n_customers"),
                  F.round(F.avg("c_acctbal"), 2).alias("avg_balance"),
                  F.countDistinct("c_mktsegment").alias("n_segments"))
             .orderBy("balance_bucket"))


def q_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value functions over explicit frames: first_value (growing
    frame), last_value (full-partition frame), nth_value."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (o.select("o_custkey", "o_orderkey",
                     F.round(F.first_value("o_totalprice").over(
                         w.rowsBetween(Window.unboundedPreceding, 0)), 2)
                      .alias("first_price"),
                     F.round(F.last_value("o_totalprice").over(w_full), 2)
                      .alias("last_price"),
                     F.round(F.nth_value("o_totalprice", 2).over(w_full), 2)
                      .alias("second_price"))
             .orderBy("o_custkey", "o_orderkey"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with filters on every input, revenue
    agg per order, top-10. customer is broadcast; lineitem (the fact)
    shuffles once, on l_orderkey, for the agg."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
              .join(F.broadcast(c), o.o_custkey == c.c_custkey)
              .groupBy("l_orderkey",
                       F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
              .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                    .alias("revenue"))
              .orderBy(F.col("revenue").desc(), F.col("orderdate").asc(),
                       F.col("l_orderkey").asc())
              .limit(10))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (disjoint subtotals without the full cube) —
    SQL surface; Catalyst plans one Expand + single shuffle."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               cast(grouping_id() AS bigint) AS gid,
               count(*) AS n,
               round(avg(l_discount), 4) AS avg_disc
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY gid, rf, ls
    """)


def q_regexp_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 regex: regexp_extract (leading word of p_type) + group count."""
    p = _t(spark, sf_dir, "part")
    return (p.select(F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
                     "p_retailprice")
             .groupBy("type_head")
             .agg(F.count(F.lit(1)).alias("n_parts"),
                  F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
             .orderBy("type_head"))


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (not ROWS): per customer, how many of their
    orders fall within $1000 below each order's price, and their sum.
    Peers are included by VALUE, so the result is tie-order independent."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    w = (Window.partitionBy("o_custkey").orderBy("o_totalprice")
               .rangeBetween(-1000, 0))
    return (o.select("o_custkey", "o_orderkey",
                     F.round("o_totalprice", 2).alias("price"),
                     F.count(F.lit(1)).over(w).alias("n_in_band"),
                     F.round(F.sum("o_totalprice").over(w), 2).alias("band_sum"))
             .orderBy("o_custkey", "o_orderkey"))


def q_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered write → data-skipping scan (the Z-order/clustering
    lever at 100 TB): lineitem is range-partitioned and sorted by
    l_shipdate at WRITE time, so every parquet row group covers a narrow
    date band and a date-range predicate prunes via row-group min/max
    stats — the scan reads the band, not the table. The write is the
    one-time cost that every subsequent time-filtered query amortizes
    (same economics as write-time bucketing for joins). Correctness gate:
    the range aggregate over the clustered copy must hash-match SQL over
    the original rows."""
    import tempfile

    li = _t(spark, sf_dir, "lineitem")
    path = tempfile.mkdtemp(prefix="pvss_clustered_") + "/li"
    (li.repartitionByRange(8, "l_shipdate")
       .sortWithinPartitions("l_shipdate")
       .write.mode("overwrite").parquet(path))
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= "1996-01-01") &
        (F.col("l_shipdate") < "1996-04-01"))
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
            .orderBy("l_returnflag"))


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering: lineitem rewritten Z-ORDERED on
    (l_orderkey, l_partkey) — bits of both normalized ranks interleaved
    into a Morton code, range-partitioned and sorted on it — so every
    file/row group covers a small RECTANGLE of the two key ranges and
    min/max stats prune scans filtered on EITHER column (single-key sort
    clustering localizes only its own column). The per-file locality is
    pinned in tests/test_bucketing.py; here the gate is content fidelity:
    a two-predicate aggregate over the z-ordered copy must hash-match the
    same SQL over the original rows."""
    import tempfile

    from pydata_vector_search_spark.operators.layout import write_zordered

    li = _t(spark, sf_dir, "lineitem")
    path = tempfile.mkdtemp(prefix="pvss_zorder_") + "/li"
    write_zordered(li.select("l_orderkey", "l_partkey", "l_returnflag",
                             "l_extendedprice"),
                   path, ["l_orderkey", "l_partkey"], num_files=8)
    back = spark.read.parquet(path).filter(
        (F.col("l_orderkey") <= 30000) & (F.col("l_partkey") <= 5000))
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue"))
            .orderBy("l_returnflag"))


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-pipeline cleaning query end-to-end: keep documents
    that pass language ID, quality score, and token-length gates — the
    composition a 100 TB corpus actually runs (all JVM-side scalar
    expressions; filters evaluate in one scan, no UDFs). Thresholds cut
    on ROUNDED values so float drift can't flip membership."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("doc_id",
                        T.token_count("text").alias("n_tokens"),
                        F.round(T.quality_score("text"), 2).alias("quality"),
                        T.lang_id("text").alias("pred_lang"))
                .filter((F.col("quality") >= 0.5)
                        & (F.col("pred_lang") == "en")
                        & (F.col("n_tokens") >= 20))
                .orderBy("doc_id")
                .limit(100))


def q_vector_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V3 metric coverage beyond cosine: exact L2 (Euclidean) top-10 —
    same TakeOrderedAndProject shape, distance expression swapped
    (the reference's TVF takes the metric as an argument, c11:10)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    hits = knn.vector_search(emb, "embedding", qv, k=10, metric="l2",
                             round_to=2, tiebreaker="vec_id")
    return hits.select("vec_id", "label",
                       F.col("_distance").alias("l2_dist"))


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 scale path: approx_count_distinct (HLL++) next to the exact
    count. Sketch internals differ across engines, so the DECLARED result
    carries the exact count plus a boolean that Spark's sketch landed
    within 5% — the oracle asserts the same rows with the flag literally
    true. At 100 TB the sketch is the difference between a fixed-size
    partial aggregate and a shuffle of every distinct key."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderstatus")
             .agg(F.countDistinct("o_custkey").alias("exact_customers"),
                  F.approx_count_distinct("o_custkey", 0.02).alias("_approx"))
             .select("o_orderstatus", "exact_customers",
                     (F.abs(F.col("_approx") - F.col("exact_customers"))
                      <= 0.05 * F.col("exact_customers")).alias("sketch_ok"))
             .orderBy("o_orderstatus"))


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A+ scale path for quantiles: ``approx_percentile`` (Greenwald-
    Khanna style sketch — fixed-size mergeable partials, no sort of the
    whole column) beside the exact percentile. Sketch internals differ
    across engines, so the declared result carries the EXACT p50/p95
    (rounded) plus booleans that Spark's sketch landed within 2% of
    them — the oracle asserts the same rows with the flags literally
    true. At 100 TB exact percentiles are a global sort; the sketch is
    one map-side-combined aggregate.

    Rounding note: interpolated percentiles of 2-decimal prices land on
    a 0.0005 grid, which includes the exact half-cent round boundary
    (x.xx5) where Spark (HALF_UP on the shortest decimal repr) and
    DuckDB disagree — e.g. round(52724.244999999995, 2) is .24 vs .25.
    Both engines produce bit-identical raw doubles, so a +1e-6 nudge
    (≪ the 0.0005 grid spacing) before rounding resolves every boundary
    point upward in both engines and moves no off-boundary value."""
    li = _t(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_extendedprice, array(0.5, 0.95))")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.5, 0.95), 5000)")
    tol = 0.02
    return (li.groupBy("l_returnflag")
              .agg(exact.alias("__e"), approx.alias("__a"))
              .select(
                  "l_returnflag",
                  F.round(F.col("__e")[0] + F.lit(1e-6), 2).alias("p50_exact"),
                  F.round(F.col("__e")[1] + F.lit(1e-6), 2).alias("p95_exact"),
                  (F.abs(F.col("__a")[0] - F.col("__e")[0])
                   <= tol * F.col("__e")[0]).alias("p50_ok"),
                  (F.abs(F.col("__a")[1] - F.col("__e")[1])
                   <= tol * F.col("__e")[1]).alias("p95_ok"))
              .orderBy("l_returnflag"))


def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental/CDC pull (the reference stack's Hudi incremental query):
    bootstrap a keyed table, apply two deterministic upsert commits, then
    read only what changed since the bootstrap — latest value per key,
    served by a partition-pruned scan of the commit log (cost ∝ changed
    data). The oracle reproduces the last-write-wins outcome in pure SQL."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import upsert_table

    # The working set is ~5k rows however large `orders` is; coalesce so the
    # bootstrap + two COW rewrites are a handful of tasks, not 32 tiny files
    # each (same small-files rationale as Catalog.compact).
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000).coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_inc_"))
    cat.write("t", o, key="o_orderkey")                       # commit 1
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") < 500)
                 .withColumn("o_orderstatus", F.lit("X"))
                 .withColumn("o_totalprice", F.lit(0.0)))     # commit 2
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") < 200)
                 .withColumn("o_orderstatus", F.lit("Y"))
                 .withColumn("o_totalprice", F.lit(1.0)))     # commit 3
    inc = cat.read_incremental("t", since_commit=1)           # latest per key
    return (inc.groupBy(F.col("commit").alias("commit_id"), "o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.round(F.sum("o_totalprice"), 2).alias("total"))
               .orderBy("commit_id", "o_orderstatus"))


def q_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 drop / replace + U2 overwrite under the oracle: a table is
    created with one region's nations, OVERWRITTEN with another's
    (mode='overwrite' — the reference's c8:26 write), then DROPPED (the
    reference's shutil.rmtree, c8:10-11 — files and change log gone) and
    RECREATED under the same name with suppliers-per-nation. The final
    read must show ONLY the recreated content: hash equality proves drop
    left nothing behind and overwrite replaced rather than appended."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog

    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_lc_"))
    cat.write("t", n.filter(F.col("n_regionkey") == 0), key="n_nationkey")
    cat.write("t", n.filter(F.col("n_regionkey") == 1),
              key="n_nationkey", mode="overwrite")      # replace content
    assert cat.load("t").count() > 0
    cat.drop("t")                                       # files + log gone
    assert "t" not in cat
    per_nation = (s.groupBy("s_nationkey")
                   .agg(F.count(F.lit(1)).cast("long").alias("n_sup"),
                        F.round(F.sum("s_acctbal"), 2).alias("bal")))
    cat.write("t", per_nation)                          # same name, new life
    return cat.load("t").orderBy("s_nationkey")


def q_log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log retention (timeline VACUUM): bootstrap → upsert →
    delete → ``expire_commits(3)`` collapses commits 1-2 into a
    materialized base at 3 → a further upsert lands as commit 4 — then
    BOTH retained historical states are read back via ``read_asof`` off
    the collapsed base. Hash-equality against a pure-SQL replay proves
    the collapse is content-exact (including a key deleted at 3 and
    re-inserted at 4); reads before the retention point raise instead of
    silently mis-replaying (tests/test_incremental.py)."""
    import tempfile
    from functools import reduce

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2500) \
                                   .coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_ret_"))
    cat.write("t", o, key="o_orderkey")                        # commit 1
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_orderstatus", F.lit("X")))     # commit 2
    delete_where(cat, "t", "o_orderkey % 7 = 0")               # commit 3
    cat.expire_commits("t", 3)                                 # collapse 1-2
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 5 == 0)
                 .withColumn("o_orderstatus", F.lit("Y")))     # commit 4
    states = [cat.read_asof("t", c).withColumn("commit_id", F.lit(c))
              for c in (3, 4)]
    u = reduce(lambda a, b: a.unionByName(b), states)
    return (u.groupBy("commit_id", "o_orderstatus")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("total"))
             .orderBy("commit_id", "o_orderstatus"))


def q_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE INTO (Delta/Iceberg shape, generalizing the
    reference's unconditional Hudi upsert): one source batch applies
    WHEN MATCHED AND k%9=0 DELETE, WHEN MATCHED AND k%2=0 UPDATE SET *,
    WHEN NOT MATCHED INSERT * — in a single outer-join pass with one
    upsert commit + one tombstone commit. Hash-equality of the final
    snapshot against a pure-SQL replay proves clause precedence (delete
    over update), conditional application, and untouched-row fidelity."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import merge_into

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*cols)
    base = o.filter(F.col("o_orderkey") < 4000).coalesce(4)
    src = (o.filter((F.col("o_orderkey") >= 3000)
                    & (F.col("o_orderkey") < 5000))
             .withColumn("o_orderstatus", F.lit("M")).coalesce(4))
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_merge_"))
    cat.write("t", base, key="o_orderkey")
    merge_into(cat, "t", src,
               matched_update="o_orderkey % 2 = 0",
               matched_delete="o_orderkey % 9 = 0")
    return (cat.load("t")
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"))
            .orderBy("o_orderstatus"))


def q_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional MERGE INTO on a PARTITIONED table: the outer join is
    pruned to source-touched partitions, only those partitions are
    rewritten (dynamic partition overwrite), and record identity is
    (key, partition) — the Hudi non-global-index economics at 100 TB.
    Batch: events with id%5=2 matched (delete when id%7=0, update value
    +100 when id%2=0, else keep), id%5=3 inserted. Hash equality of the
    final snapshot against the pure-SQL replay proves clause precedence
    and partition-scoped application."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import merge_into

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value")
    base = ev.filter(F.col("event_id") % 5 < 3).coalesce(4)
    src = (ev.filter((F.col("event_id") % 5).isin(2, 3))
             .withColumn("value", F.round(F.col("value") + 100.0, 2))
             .coalesce(4))
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_mergep_"))
    cat.write("t", base, key="event_id", partition_by=["event_type"])
    merge_into(cat, "t", src,
               matched_update="event_id % 2 = 0",
               matched_delete="event_id % 7 = 0")
    return (cat.load("t")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("value"), 2).alias("total"))
            .orderBy("event_type"))


def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (the Hudi commit-timeline semantics the
    reference stack configures, demo.ipynb c8:20-24): bootstrap → keyed
    upsert → predicate delete, then read the table AS OF each commit —
    the reproducible-training-run contract. ``read_asof`` replays the
    commit log (last-write-wins per key minus tombstones), cost ∝ log
    size through the asked-for commit, partition-pruned on commit dirs.
    The oracle replays the same three states in pure SQL; hash equality
    proves every historical state is reconstructed exactly."""
    import tempfile
    from functools import reduce

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 3000) \
                                   .coalesce(4)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_tt_"))
    cat.write("t", o, key="o_orderkey")                        # commit 1
    upsert_table(cat, "t", o.filter(F.col("o_orderkey") % 3 == 0)
                 .withColumn("o_orderstatus", F.lit("X")))     # commit 2
    delete_where(cat, "t", "o_orderkey % 7 = 0")               # commit 3
    states = [cat.read_asof("t", c).withColumn("commit_id", F.lit(c))
              for c in (1, 2, 3)]
    u = reduce(lambda a, b: a.unionByName(b), states)
    return (u.groupBy("commit_id", "o_orderstatus")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.round(F.sum("o_totalprice"), 2).alias("total"))
             .orderBy("commit_id", "o_orderstatus"))


# --------------------------------------------------------------------------
# distributed CC, IVF×PQ, MMR oracle, MIN/MAX IVM
# --------------------------------------------------------------------------

def q_dedup_clusters_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SAME n-gram-Jaccard edge set as
    ``dedup_clusters``, but with ``local_threshold=0`` so the DISTRIBUTED
    O(log n) pointer-jumping loop (operators/graph.py, Kiveris SoCC'14
    shape) computes the labels — the code path every 100-TB near-dup
    graph takes. The union-find fast path had absorbed all oracle-scale
    CC runs; here the distributed iterations themselves
    carry the hash: the loop executes ≥1 full join+jump round by
    construction (termination requires a no-change round) and the
    local/distributed equality is separately test-pinned."""
    from pydata_vector_search_spark.operators.graph import cluster_summary

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_similarity_join(docs, "text", "doc_id",
                                          n=3, threshold=0.5)
    return cluster_summary(pairs, src="id_1", dst="id_2",
                           local_threshold=0)


def q_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ — the composed ANN stack (FAISS IVFPQ layout, flat-PQ
    variant): codes ride the IVF-partitioned parquet, the probe prunes
    partitions AND scores 1-byte-per-subspace codes via the ADC table,
    the shortlist is exact re-ranked. Declared at nprobe=all +
    shortlist=corpus so the answer EQUALS exact KNN and the oracle hash
    covers the whole composition — centroid assignment, partition
    layout, code encode, LUT scoring, shortlist, re-rank; pruned-probe
    recall is pinned in tests/test_pq.py."""
    import tempfile

    from pydata_vector_search_spark.operators import pq

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    cb = pq.pq_train(emb, "embedding", m=8, k_codes=32, seed=42,
                     metric="cosine")
    idx = ann.ivf_build(pq.pq_encode(emb, "embedding", cb), "embedding",
                        tempfile.mkdtemp(prefix="pvss_ivfpq_"),
                        num_centroids=8, seed=42, quantize=False)
    hits = pq.ivfpq_search(spark, idx, cb, qv, k=10, nprobe=8,
                           shortlist=emb.count(), tiebreaker="vec_id",
                           round_to=2)
    return (hits.withColumn("score", F.round(1 - F.col("_distance"), 2))
                .select("vec_id", "label", "score"))


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification (Carbonell & Goldstein SIGIR'98) under the
    oracle: top-20 exact-cosine shortlist → greedy
    ``λ·rel − (1−λ)·max-sim-to-selected`` selection of 8, with
    ``round_sims=9`` quantizing every cosine BEFORE the recurrence so
    the selection is exactly replayable (distinct rounded scores differ
    by ≥λ·1e-9 ≫ the 1e-12 tie window — BLAS-vs-SQL last-ulp drift can
    no longer flip an argmax). The oracle unrolls the same greedy
    recurrence as 8 chained SQL steps; ranks AND 6-dp scores are
    hash-matched. The operator itself stays deliberately driver-side
    over the k-truncated shortlist (documented contract)."""
    from pydata_vector_search_spark.operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    short = knn.vector_search(emb, "embedding", qv, k=20,
                              metric="cosine", round_to=2,
                              tiebreaker="vec_id")
    sel = mmr_rerank(short, "vec_id", "embedding", qv, k=8, lamb=0.5,
                     round_sims=9)
    return (sel.select("vec_id", "mmr_rank",
                       F.round("mmr_score", 6).alias("mmr_score"))
               .orderBy("mmr_rank"))


def q_incremental_agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM with NON-delta-maintainable measures: the
    rollup carries MIN/MAX next to SUM/COUNT, so ``refresh_agg`` runs
    the group-scoped recompute path — changed keys → affected groups →
    one semi-join-scoped groupBy merged with untouched rollup rows —
    never a full rescan. The predicate delete removes rows that hold
    group minima/maxima, the exact case delta arithmetic cannot serve
    (the retracted extremum's runner-up must resurface); hash equality
    against the oracle's batch rollup of the final state proves it."""
    import tempfile

    from pydata_vector_search_spark.catalog import Catalog
    from pydata_vector_search_spark.operators.incremental_agg import (
        create_agg, refresh_agg)
    from pydata_vector_search_spark.operators.upsert import (delete_where,
                                                             upsert_table)

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    o = _t(spark, sf_dir, "orders").select(*cols)
    cat = Catalog(spark, tempfile.mkdtemp(prefix="pvss_ivmm_"))
    cat.write("t", o.filter(F.col("o_orderkey") < 3000).coalesce(4),
              key="o_orderkey")
    create_agg(cat, "t", "t_agg", ["o_orderstatus"],
               {"total": "o_totalprice"},
               mins={"min_price": "o_totalprice"},
               maxs={"max_price": "o_totalprice"})
    upsert_table(cat, "t", o.filter((F.col("o_orderkey") % 5 == 0)
                                    & (F.col("o_orderkey") < 4000))
                 .withColumn("o_orderstatus", F.lit("U")).coalesce(4))
    delete_where(cat, "t", "o_orderkey % 7 = 0")
    refresh_agg(cat, "t", "t_agg")
    return (cat.load("t_agg")
            .select("o_orderstatus", "n_rows",
                    F.round("total", 2).alias("total"),
                    F.round("min_price", 2).alias("min_price"),
                    F.round("max_price", 2).alias("max_price"))
            .orderBy("o_orderstatus"))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence PACKING (the GPT-style "pack docs into
    fixed-token rows" step, T5 §2.2): greedy next-fit of documents into
    256-token bins, blocked by 100-id ranges so every block packs in one
    parallel Arrow batch and bins never cross blocks
    (operators/packing.pack_sequences — deterministic under any
    partitioning, layout derives from doc_id alone). The oracle replays
    the greedy recurrence as a recursive CTE stepping all blocks' doc
    positions in lockstep; per-bin (docs, tokens, first doc) hash
    equality pins every assignment."""
    from pydata_vector_search_spark.operators.packing import pack_sequences

    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", T.token_count("text").cast("long")
                    .alias("n_tok")))
    packed = pack_sequences(docs, "doc_id", "n_tok", max_len=256,
                            block_span=100)
    return (packed.groupBy("bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("bin_tokens"),
                 F.min("doc_id").cast("long").alias("first_doc"))
            .orderBy("bin_id"))


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (the Pile/ROOTS/mT5 rule):
    source g keeps ``n_g^α/Σn^α`` of the α=0.5 flattened target — rare
    sources upsampled relative to uniform — selected by a PURE md5 hash
    rule (keep iff u(doc_id) < rate_g), so membership is exactly
    row-reproducible by the oracle, stable under partitioning, no RNG
    state. One tiny groupBy + broadcast rate join + scan filter; the
    corpus never shuffles. Rates rounded to 9 decimals in BOTH engines
    so a pow() ulp cannot flip a boundary row."""
    from pydata_vector_search_spark.operators.packing import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    mixed = temperature_mix(docs, "doc_id", "lang", alpha=0.5,
                            sample_frac=0.5, seed=42)
    return (mixed.groupBy("lang", "mix_rate")
            .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("id_sum"))
            .select("lang", F.round("mix_rate", 9).alias("mix_rate"),
                    "n_kept", "id_sum")
            .orderBy("lang"))


def q_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUTO-dispatched exact Jaccard join:
    ``jaccard_similarity_join_auto`` — the Engine facade's DEFAULT dedup
    path (engine.py neardup_pairs method='jaccard') — measures the
    corpus's duplicate-heaviness ratio R = ΣC(df,2)/Σdf in one probe
    aggregate and routes to the count-based co-occurrence join (R below
    the 50×-calibrated threshold 8) or the PPJoin prefix join. On this
    corpus R ≈ 0.5–4.9 across SFs → the COUNT-BASED branch is routed
    and driver-hashed here; ``jaccard_auto_heavy`` pins the other
    branch. Oracle identical to jaccard_join — the dispatcher must be
    output-invisible."""
    docs = _t(spark, sf_dir, "documents")
    return (dedup.jaccard_similarity_join_auto(docs, "text", "doc_id",
                                               n=3, threshold=0.5)
                 .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                 .orderBy("id_1", "id_2"))


def q_jaccard_auto_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto dispatcher's PPJOIN branch under the driver oracle: the
    corpus is DOUBLED (every document re-appears under doc_id+10M — the
    duplicate-heavy regime the ratio rule exists for), which lifts the
    measured R to ~1.6 (sf0.01) / ~10.2 (sf0.1); ``dup_ratio_threshold=1``
    sits below both so the dispatcher routes PREFIX at every SF — the
    probe scan, the threshold compare, the estimate threading into the
    broadcast gate (the probe's ΣC(df,2) is reused as the gate
    estimate, one corpus scan for decision + gate) and the PPJoin
    verify are all on the hashed path. Oracle: all-pairs exact Jaccard
    over the same doubled corpus."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
                    "text"))
    return (dedup.jaccard_similarity_join_auto(doubled, "text", "doc_id",
                                               n=3, threshold=0.5,
                                               dup_ratio_threshold=1.0)
                 .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                 .orderBy("id_1", "id_2"))


def q_pack_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on PLUGGABLE-TOKENIZER counts: token counts come from the ``operators/tokenize.py`` hook — an
    Arrow-batched mapInPandas stage whose default ``RegexBpeTokenizer``
    (the GPT-2-style pre-tokenizer regex) is bit-identical to the JVM
    ``token_count_bpe`` Column, so the SAME pipeline runs on a real BPE
    vocab by swapping one constructor (HuggingFaceTokenizer,
    import-gated). Counts feed the proven next-fit packer (192-token
    bins, 100-id blocks); the oracle replays the BPE-ish regex in
    DuckDB and the greedy recurrence as the recursive lockstep CTE —
    hash equality pins the Python tokenizer batches AGAINST the SQL
    respelling end-to-end."""
    from pydata_vector_search_spark.operators.packing import pack_sequences
    from pydata_vector_search_spark.operators.tokenize import tokenize_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    counted = tokenize_counts(docs, "text", out_col="n_tok")
    packed = pack_sequences(counted.select("doc_id", "n_tok"),
                            "doc_id", "n_tok", max_len=192,
                            block_span=100)
    return (packed.groupBy("bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n_tok").cast("long").alias("bin_tokens"),
                 F.min("doc_id").cast("long").alias("first_doc"))
            .orderBy("bin_id"))


def q_token_budget_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection through the DISTRIBUTED boundary prefix
    sum: ``max_boundary_task_rows=0`` forces the
    scale path — the boundary bucket's running sum decomposes into 16
    deterministic id-range sub-buckets + driver prefix offsets + a
    PARTITIONED window (no unpartitioned WindowExec in the plan; each
    task sees ~1/16 of the bucket). The oracle is the naive
    global-window spelling, so hash equality proves the offset
    decomposition selects the identical document set the single-task
    window would."""
    from pydata_vector_search_spark.operators.text_ops import \
        select_token_budget
    docs = _t(spark, sf_dir, "documents")

    def pct_distinct() -> F.Column:
        toks = F.split(T.normalized_text("text"), " ")
        d100 = F.size(F.array_distinct(toks)).cast("long") * 100
        n = F.size(toks).cast("long")
        return ((d100 - F.pmod(d100, n)) / n).cast("long")

    sel = select_token_budget(docs, "text", "doc_id",
                              budget_tokens=30000,
                              quality_col=pct_distinct(),
                              bucket_decimals=0,
                              max_boundary_task_rows=0,
                              prefix_buckets=16)
    return (sel.select(pct_distinct().alias("qb"),
                       T.token_count("text").cast("long").alias("nt"))
            .groupBy("qb")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("nt").cast("long").alias("sum_tokens"))
            .orderBy(F.col("qb").desc()))


def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint near-dup (Schleimer/Kleinberg/Aiken
    SIGMOD'03 — the MOSS scheme): min md5-hash per sliding window of 6
    consecutive character 12-gram hashes, distinct per doc; pairs
    sharing >= 20 fingerprints, with the >50-doc hot-fingerprint cap
    (boilerplate guard) on candidate generation. Fingerprint SELECTION
    is engine-independent (md5-derived 32-bit hashes), so the oracle
    replays the full winnow — grams, window minima, cap, pair counts —
    verbatim in DuckDB list comprehensions. Extraction is one codegen
    scan (no UDF; the gram array materializes once per row —
    fingerprint.py's O(L²) note); pairing is the dedup family's bounded
    fp equi-join, never corpus²."""
    from pydata_vector_search_spark.operators.fingerprint import \
        fingerprint_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    return (fingerprint_neardup_pairs(docs, "text", "doc_id",
                                      k=12, window=6, min_shared=20,
                                      max_fp_df=50)
            .orderBy("id_1", "id_2"))


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-EXACT Naive Bayes corpus classification:
    the quality/domain-gate role fastText linear classifiers play in
    CCNet/FineWeb-style curation (train on a labeled slice, score the
    whole corpus, route by predicted class — McCallum & Nigam,
    AAAI-98). Trains on ``documents.lang`` with ``max_vocab=4096``
    md5 hash-buckets — the BOUNDED-model path (for scale safety: the
    broadcast dense table is provably
    <= max_vocab·|labels| rows at ANY corpus size; the facade
    ``Engine.classify`` defaults the cap to 2^18 for the same reason,
    and ``nb_score`` gates its broadcast on the trained |V| besides).
    At sf vocab >> 4096, so real bucket collisions are part of the
    hashed lineage. All scores are floored micro-nat longs (the
    bm25/lm_score discipline); the rollup hashes every document's
    argmax label AND exact integer score mass per class. Training is
    two map-side-combinable count aggregates; scoring is one corpus
    scan + broadcast join + (doc,label) partial sums — the corpus
    shuffles once (classify.py scale notes)."""
    model, rolled = _nb_classify_lazy(spark, sf_dir)
    try:
        # Materialize the |labels|-row rollup eagerly so the cached
        # vocabulary-sized training-count table can be released HERE
        # instead of leaking for the session lifetime —
        # the corpus-sized work is identical; only the ≤|labels| final
        # rows cross the driver boundary.
        rows = rolled.collect()
    finally:
        model.unpersist()
    return spark.createDataFrame(rows, rolled.schema)


def _nb_classify_lazy(spark: SparkSession, sf_dir: str):
    """(model, lazy rollup plan) behind q_nb_classify — split out so
    tools/dump_plans.py can show the REAL train+score lineage (the
    declared query returns a local relation of the collected rollup,
    whose dumped plan would be just LocalTableScan)."""
    from pydata_vector_search_spark.operators.classify import (nb_score,
                                                               nb_train)
    docs = _t(spark, sf_dir, "documents")
    model = nb_train(docs, "text", "lang", max_vocab=4096)
    scored = nb_score(docs, model, "text", "doc_id")
    rolled = (scored.groupBy("pred_label")
              .agg(F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum("doc_id").cast("long").alias("id_sum"),
                   F.sum("score_micro").cast("long").alias("score_sum"))
              .orderBy("pred_label"))
    return model, rolled


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER-EXACT PageRank over the
    customer↔supplier interaction graph: distinct (customer, supplier)
    purchase pairs from orders ⋈ lineitem, both directions, the two
    node families kept disjoint by PARITY — customers as 2·custkey,
    suppliers as 2·suppkey+1 (a fixed 10M offset would collide with o_custkey at sf ≳ 67 and silently merges
    graph nodes; the parity encoding is collision-free at every scale
    and costs no extra scan). Rank units are unchanged by the
    relabeling — PageRank depends only on graph structure, so the
    hashed (supp_id, rank_units) lineage is identical. The link-graph
    curation signal (seed-quality propagation, Common Crawl harvest
    ranking). Five
    fixed-point iterations with ALL mass as longs (exact ``div``; see
    graph.pagerank_exact — double `/` can round across an integer
    boundary and diverge from an integer-dividing engine), so the
    DuckDB oracle replays the run bit-for-bit as an unrolled CTE chain
    (a recursive CTE can reference the previous ranks only once; the
    recurrence needs them twice). Hashes the full supplier ranking —
    every (supplier, rank_units) long. Per iteration: one edges ⋈
    ranks join + one groupBy(dst) sum, hash-partitioned O(|E|); the
    edge list is barriered once and released on completion."""
    from pydata_vector_search_spark.operators.graph import pagerank_exact
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select((F.col("o_custkey").cast("long") * 2).alias("c"),
                     (F.col("l_suppkey").cast("long") * 2 + 1)
                     .alias("s"))
             .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionAll(pairs.select(F.col("s").alias("src"),
                                    F.col("c").alias("dst"))))
    ranks = pagerank_exact(edges, iterations=5)
    return (ranks.filter(F.col("node") % 2 == 1)
            .select(F.expr("(node - 1) div 2").cast("long")
                    .alias("supp_id"),
                    F.col("rank_units").cast("long").alias("rank_units"))
            .orderBy("supp_id"))


def q_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints composed into DEDUP CLUSTERS: the
    MOSS-style near-dup pairs (Schleimer SIGMOD'03; the
    ``winnow_neardup`` lineage verbatim — k=12, w=6, >=20 shared
    fingerprints, hot-fp cap 50) collapsed to connected components and
    rolled up per cluster — the keep-one-representative decision table
    for substring-level duplicates, the same pairs→components→summary
    composition ``dedup_clusters`` pins for shingle Jaccard. The
    oracle replays the ENTIRE winnow in DuckDB list comprehensions and
    closes the transitive hull with a recursive CTE, so both the pair
    emission and the clustering are hash-pinned in one lineage.
    Components via graph.connected_components: pointer-jumping
    O(log n) rounds distributed, driver union-find under the
    small-graph threshold — identical labels either way (pinned in
    tests/test_graph.py)."""
    from pydata_vector_search_spark.operators.fingerprint import \
        fingerprint_neardup_pairs
    from pydata_vector_search_spark.operators.graph import cluster_summary
    docs = _t(spark, sf_dir, "documents")
    pairs = fingerprint_neardup_pairs(docs, "text", "doc_id",
                                      k=12, window=6, min_shared=20,
                                      max_fp_df=50)
    return cluster_summary(pairs, src="id_1", dst="id_2")


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER-EXACT k-means assignment: fixed-iteration Lloyd over the embeddings table — the
    clustering primitive SemDeDup, cluster-balanced sampling, and
    IVF-style partitioning all build on
    (operators/clustering.py:149,208). Coordinates quantized as
    positive-domain longs so Spark ``div`` and DuckDB ``//`` agree on
    the integer centroid means; assignment is argmin of exact int64
    squared L2 with a (dist, cid) tie-break; empty clusters keep their
    previous centroid. Hashes the FULL (vec_id, cluster_id, dist_units)
    assignment against the unrolled-CTE replay (a recursive CTE cannot
    express the recurrence — each round reads the previous centroids
    twice). Scale shape: the k·d model rides in the task closure, the
    per-iteration shuffle is partitions·k·d (posexplode + map-side
    combine), assignment is one Arrow argmin pass with no shuffle —
    probe-flat at the 100x ladder (README)."""
    from pydata_vector_search_spark.operators.clustering import (
        kmeans_assign, kmeans_train)
    emb = _t(spark, sf_dir, "embeddings")
    model = kmeans_train(emb, "embedding", "vec_id", k=8, iterations=3)
    return (kmeans_assign(emb, model, "embedding")
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("cluster_id").cast("int").alias("cluster_id"),
                    F.col("dist_units").cast("long").alias("dist_units"))
            .orderBy("vec_id"))


def q_kmeans_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: the k-means assignment composed with the whale-safe salted
    tournament top-n (operators/sampling.py:51,87) — keep
    ``per_cluster`` rows per semantic cluster ranked by (md5(id), id),
    a seedless partition-independent uniform draw. The tournament
    (salt_buckets=4 here) provably equals the single-window spelling
    the DuckDB oracle runs, while bounding per-task input at
    |cluster|/salt_buckets — the straggler/OOM contract for the
    billions-of-rows whale cluster a 100 TB corpus produces."""
    from pydata_vector_search_spark.operators.sampling import cluster_sample
    emb = _t(spark, sf_dir, "embeddings")
    return (cluster_sample(emb, "embedding", "vec_id", k=8, iterations=3,
                           per_cluster=10, salt_buckets=4)
            .select(F.col("vec_id").cast("long").alias("vec_id"),
                    F.col("cluster_id").cast("int").alias("cluster_id"),
                    F.col("dist_units").cast("long").alias("dist_units"))
            .orderBy("cluster_id", "vec_id"))


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-purchase graph — parts linked when they share an
    order (bounded ~C(7,2) pairs per order at any TPC-H scale), the
    local-clustering signal that complements components (membership)
    and PageRank (centrality) on the same pair inputs. Exact integers;
    the oracle is a naive canonical-edge three-way self-join
    (validated EXACT at two SFs).
    Scale design (operators/graph.py:238): degree-ordered orientation
    (Suri & Vassilvitskii WWW'11) bounds every out-neighbourhood at
    O(sqrt(|E|)) regardless of skew, each triangle is generated once at
    its order-minimal apex, and the closure is one hash equi-join —
    all codegen, nothing driver-side."""
    from pydata_vector_search_spark.operators.graph import triangle_count
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # pair generation WITHOUT the self-join: one groupBy
    # shuffle collects each order's distinct parts (bounded ~7 at any
    # TPC-H SF — no whale arrays), pairs generate IN-TASK from the
    # sorted array (posexplode + slice keeps it codegen, u < v by
    # construction), and one distinct dedups across orders. Replaces
    # self-join(600k x 600k on l_orderkey) + filter + distinct:
    # measured 2.38 -> 1.40 s warm at sf0.1, identical 1,196,000
    # edges. Canonical by construction, so triangle_count skips its
    # re-canonicalizing |E| shuffle (assume_canonical).
    # Repartition on the group key BEFORE the aggregate — the
    # single-row-group parquet scan otherwise runs the 600k-row partial
    # collect_set on one core, and since the hash layout satisfies the
    # groupBy's clustering no second exchange appears (measured edge
    # build 1.1 -> 0.8 s, full query 3.3 -> 3.0 s warm, identical
    # 1,196,000 edges). At cluster scale the scan arrives pre-split and
    # the repartition is the same one exchange the groupBy would add —
    # targeted at max(cores, shuffle.partitions) so it never carries
    # less parallelism than the groupBy exchange it replaces.
    grp = (li.repartition(traded_shuffle_partitions(spark),
                          "l_orderkey")
             .groupBy("l_orderkey")
             .agg(F.sort_array(F.collect_set("l_partkey")).alias("__ps"))
             .filter(F.size("__ps") >= 2))
    e1 = grp.select("__ps", F.posexplode("__ps").alias("__i", "u"))
    pairs = (e1.select("u", F.explode(
                 F.slice("__ps", F.col("__i") + F.lit(2), F.size("__ps")))
                 .alias("v"))
               .distinct())
    return (triangle_count(pairs, src="u", dst="v", assume_canonical=True)
            .select(F.col("node").cast("long").alias("node"),
                    F.col("degree").cast("long").alias("degree"),
                    F.col("triangles").cast("long").alias("triangles"))
            .orderBy("node"))


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction: learn 12 merges from the documents corpus (Sennrich ACL'16) —
    tokenizer training as a pipeline stage. The corpus-sized work is
    ONE map-side-combinable word-frequency aggregate; the driver merge
    loop is incremental (inverted pair index + lazy heap — each
    merge touches only the words containing the winning pair) and
    bounded by min_count/max_word_types however large the corpus
    grows. Declared envelope: this query's 12 merges over <= 1M word
    types cost milliseconds driver-side; the operator's practical
    envelope is ~30k merges x 1M types (the incremental loop's
    O(affected words) per merge — see operators/bpe.py). The oracle
    replays every step in SQL: pair count -> (count desc, left, right)
    argmax -> greedy left-to-right positional-recursive merge
    application, early stop cascading through empty CTEs."""
    from pydata_vector_search_spark.operators.bpe import bpe_train
    docs = _t(spark, sf_dir, "documents")
    return (bpe_train(docs, "text", num_merges=12, min_pair_count=2)
            .orderBy("step"))


def q_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with its ACTUAL k-means partitioner: the paper-faithful pipeline (Abbas et al.
    2023, arXiv:2303.09540) the clustering family was built for —
    integer-exact k-means clusters, within-cluster rounded-cosine
    pairs, connected-components transitive hull, min-id survivor —
    composed from the three independently-declared primitives (kmeans,
    the semantic_dedup tail, CC) into one lineage
    (operators/clustering.py:273). The oracle replays the whole chain:
    the unrolled kmeans CTE feeding a pair self-join + recursive-CTE
    components + anti-join, rolled up per label so survivor MEMBERSHIP
    is value-hash checked. Scale shape: pair generation is one
    cluster-key shuffle with per-task input |cluster| (the Arrow
    triu pass), components is O(log n) pointer-jump rounds, the doomed
    side is dup-count-sized (AQE broadcast)."""
    from pydata_vector_search_spark.operators.clustering import \
        semantic_dedup_kmeans
    emb = _t(spark, sf_dir, "embeddings")
    kept = semantic_dedup_kmeans(emb, "embedding", "vec_id", k=8,
                                 iterations=3, threshold=0.3, round_to=6)
    return (kept.groupBy("label")
                .agg(F.count(F.lit(1)).cast("long").alias("n_kept"),
                     F.sum("vec_id").cast("long").alias("id_sum"))
                .orderBy("label"))


def q_domain_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token cap, declared on the DISTRIBUTED branch — the whale-safe bucket-routed
    spelling (operators/text_ops.py:216) that puts the scale path
    under the driver hash (the kmeans_sample precedent): per-domain
    quality-ordered running token total <= cap, with bucket-level
    windows replacing both the per-domain driver state AND the
    single-task whale window; only boundary-bucket rows run a
    running-sum window, partitioned down to id-range sub-buckets. The
    oracle is the naive per-domain window the branch provably equals
    (NULL-key joins eqNullSafe, with the repro
    and a NULL-key fuzz pinned in tests/test_domain_cap.py)."""
    from pydata_vector_search_spark.operators.text_ops import \
        domain_token_cap
    docs = _t(spark, sf_dir, "documents")
    kept = domain_token_cap(docs, "text", "doc_id", "source",
                            cap_tokens=600, distributed=True)
    return (kept.select(F.col("doc_id").cast("long").alias("doc_id"),
                        "source")
                .orderBy("doc_id"))


def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining: top-30 adjacent-bigram collocations by pointwise mutual
    information (operators/collocations.py:43) — corpus-level phrase
    discovery, the statistics complement of the bigram-LM scorer.
    Exact long counts; the one float is a single ln of the fixed-
    association integer ratio floored to micro-nats, so the DuckDB
    replay is bit-identical. Scale shape: one exploded bigram hash
    aggregate (map-side combined), marginals aggregated over the
    distinct-PAIR table, TakeOrderedAndProject top-k."""
    from pydata_vector_search_spark.operators.collocations import \
        collocations_pmi
    docs = _t(spark, sf_dir, "documents")
    return collocations_pmi(docs, "text", min_count=5, top_k=30)


def q_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-curation chain (oracle-validated at three SFs):
    per-domain token
    cap -> exact dedup over the survivors -> quality gate -> global
    token budget, composed as ONE Catalyst plan
    (operators/curation.py:38, Engine.curate_corpus). Declared on the
    cap stage's DISTRIBUTED branch (whale-safe bucket routing — the
    domain_token_cap precedent); the budget stage routes through the
    quality histogram with the distributed-prefix-sum escape and the
    naive-window NULL-token contract (leading NULL rows drop, pinned
    cross-engine in tests/test_curation.py).
    The chained oracle replays all four stages, so the value hash pins
    the stage BOUNDARIES, closing the corpus-to-epoch story begun by
    dataloader_epoch (mix -> budget -> pack -> shard). Output is
    doc-level membership (doc_id, lang, source) — the strongest hash
    for a selection pipeline. Skew note: the dedup stage's min-id
    window partitions by fingerprint; an all-identical corpus
    concentrates ONE group in one task — the same bound exact dedup
    has anywhere (documented in operators/curation.py)."""
    from pydata_vector_search_spark.operators.curation import curate_corpus
    docs = _t(spark, sf_dir, "documents")
    sel = curate_corpus(docs, "text", "doc_id", "source",
                        cap_tokens=2000, min_quality=0.5,
                        budget_tokens=5000, distributed=True)
    return (sel.select(F.col("doc_id").cast("long").alias("doc_id"),
                       "lang", "source")
               .orderBy("doc_id"))


# --------------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hybrid pre-filter vector search + metadata join on sf0.001
    — the reference's c11+c13 patterns fused into one Catalyst plan."""
    emb = _t(spark, SF0001, "embeddings")
    docs = _t(spark, SF0001, "documents")
    qv = _query_vec(spark, SF0001)
    hits = knn.vector_search(emb, "embedding", qv, k=10, metric="cosine",
                             filter=F.col("label") < 5,
                             round_to=2, tiebreaker="vec_id")
    return (hits.join(docs, hits.vec_id == docs.doc_id, "inner")
                .withColumn("score", F.round(1 - F.col("_distance"), 2))
                .select("vec_id", "label", "score", "lang", "source"))


def queries() -> dict[str, Callable[[SparkSession, str],
                                    DataFrame]]:
    return {
        # --- first-50 driver window (hash-checked in declaration order;
        # --- tools/window_audit.py rotates which queries sit in it).
        "agg_pricing_summary": q_agg_pricing_summary,
        "array_functions": q_array_functions,
        "asof_join": q_asof_join,
        "bpe_train": q_bpe_train,
        "chunk_summary": q_chunk_summary,
        "cube_agg": q_cube_agg,
        "date_functions": q_date_functions,
        "distinct_agg": q_distinct_agg,
        "events_json_window": q_events_json_window,
        "exists_subquery": q_exists_subquery,
        "filter_like_project": q_filter_like_project,
        "from_json_stats": q_from_json_stats,
        "graph_triangles": q_graph_triangles,
        "group_topk": q_group_topk,
        "hard_negatives": q_hard_negatives,
        "having": q_having,
        "intersect_except": q_intersect_except,
        "join_agg": q_join_agg,
        "join_multiway": q_join_multiway,
        "kmeans": q_kmeans,
        "kmeans_sample": q_kmeans_sample,
        "lang_id": q_lang_id,
        "lm_perplexity": q_lm_perplexity,
        "log_retention": q_log_retention,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_meta": q_multimodal_meta,
        "orc_roundtrip": q_orc_roundtrip,
        "outer_join_agg": q_outer_join_agg,
        "pagerank": q_pagerank,
        "percentiles": q_percentiles,
        "pivot": q_pivot,
        "promo_revenue": q_promo_revenue,
        "range_join": q_range_join,
        "rollup_agg": q_rollup_agg,
        "salted_agg": q_salted_agg,
        "semi_anti_join": q_semi_anti_join,
        "session_windows": q_session_windows,
        "set_ops": q_set_ops,
        "sliding_windows": q_sliding_windows,
        "span_dedup": q_span_dedup,
        "stream_dedup": q_stream_dedup,
        "stream_index_patch": q_stream_index_patch,
        "stream_stream_join": q_stream_stream_join,
        "string_functions": q_string_functions,
        "text_stats": q_text_stats,
        "unpivot": q_unpivot,
        "upsert_merge": q_upsert_merge,
        "window_ranks": q_window_ranks,
        "window_running": q_window_running,
        "window_topk_per_group": q_window_topk_per_group,
        # --- end of the 50-query driver window -------------------------
        "ann_after_upsert": q_ann_after_upsert,
        "ann_ivf_int8": q_ann_ivf_int8,
        "ann_ivf_knn": q_ann_ivf_knn,
        "approx_distinct": q_approx_distinct,
        "approx_percentile": q_approx_percentile,
        "bm25_search": q_bm25_search,
        "bucketed_join": q_bucketed_join,
        "case_buckets": q_case_buckets,
        "chunk_embed_knn": q_chunk_embed_knn,
        "clean_pipeline": q_clean_pipeline,
        "clustered_scan": q_clustered_scan,
        "collocations_pmi": q_collocations_pmi,
        "constraint_checks": q_constraint_checks,
        "corpus_filter": q_corpus_filter,
        "cosine_neardup": q_cosine_neardup,
        "cosine_topk_pairs": q_cosine_topk_pairs,
        "cross_dedup": q_cross_dedup,
        "csv_external": q_csv_external,
        "curation_chain": q_curation_chain,
        "dataloader_epoch": q_dataloader_epoch,
        "decontaminate": q_decontaminate,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_dist": q_dedup_clusters_dist,
        "dedup_exact": q_dedup_exact,
        "dedup_keep_best": q_dedup_keep_best,
        "domain_token_cap": q_domain_token_cap,
        "dsir_select": q_dsir_select,
        "embed_hash": q_embed_hash,
        "explode_tokens": q_explode_tokens,
        "first_last_window": q_first_last_window,
        "full_outer_join": q_full_outer_join,
        "funnel": q_funnel,
        "grouping_sets": q_grouping_sets,
        "hybrid_postfilter": q_hybrid_postfilter,
        "hybrid_prefilter": q_hybrid_prefilter,
        "hybrid_rrf": q_hybrid_rrf,
        "hyperplane_lsh_neardup": q_hyperplane_lsh,
        "incremental_agg": q_incremental_agg,
        "incremental_agg_minmax": q_incremental_agg_minmax,
        "incremental_read": q_incremental_read,
        "ivfpq_knn": q_ivfpq_knn,
        "jaccard_auto": q_jaccard_auto,
        "jaccard_auto_heavy": q_jaccard_auto_heavy,
        "jaccard_join": q_jaccard_join,
        "jaccard_prefix": q_jaccard_prefix,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "keyed_delete": q_keyed_delete,
        "knn_join": q_knn_join,
        "knn_join_ivf": q_knn_join_ivf,
        "label_centroids": q_label_centroids,
        "maintenance_cycle": q_maintenance_cycle,
        "merge_clauses": q_merge_clauses,
        "merge_partitioned": q_merge_partitioned,
        "minhash_neardup": q_minhash_neardup,
        "mmr_rerank": q_mmr_rerank,
        "multimodal_frames": q_multimodal_frames,
        "nb_classify": q_nb_classify,
        "ntile_buckets": q_ntile_buckets,
        "pack_tokenized": q_pack_tokenized,
        "paragraph_dedup": q_paragraph_dedup,
        "pq_knn": q_pq_knn,
        "purge_erasure": q_purge_erasure,
        "range_frame_window": q_range_frame_window,
        "redact_pii": q_redact_pii,
        "regexp_extract_agg": q_regexp_extract_agg,
        "repetition_stats": q_repetition_stats,
        "salted_join": q_salted_join,
        "scalar_subquery": q_scalar_subquery,
        "semantic_dedup": q_semantic_dedup,
        "semdedup_kmeans": q_semdedup_kmeans,
        "sequence_pack": q_sequence_pack,
        "sessionize": q_sessionize,
        "shard_shuffle": q_shard_shuffle,
        "shipping_priority": q_shipping_priority,
        "simhash_neardup": q_simhash_neardup,
        "stateful_totals": q_stateful_totals,
        "stratified_sample": q_stratified_sample,
        "stream_cdc": q_stream_cdc,
        "stream_static_join": q_stream_static_join,
        "stream_tumbling": q_stream_tumbling,
        "stream_upsert": q_stream_upsert,
        "table_lifecycle": q_table_lifecycle,
        "table_profile": q_table_profile,
        "temperature_mix": q_temperature_mix,
        "temperature_mix_tokens": q_temperature_mix_tokens,
        "time_travel_read": q_time_travel_read,
        "token_budget_dist": q_token_budget_dist,
        "token_budget_select": q_token_budget_select,
        "token_counts": q_token_counts,
        "variant_json": q_variant_json,
        "vector_knn": q_vector_knn,
        "vector_knn_dot": q_vector_knn_dot,
        "vector_knn_join": q_vector_knn_join,
        "vector_knn_l2": q_vector_knn_l2,
        "vector_knn_sql": q_vector_knn_sql,
        "vector_knn_tvf": q_vector_knn_tvf,
        "vector_topk_per_group": q_vector_topk_per_group,
        "winnow_clusters": q_winnow_clusters,
        "winnow_neardup": q_winnow_neardup,
        "zorder_scan": q_zorder_scan,
    }


# SQL fragments shared by the dedup oracles (mirror functions/text +
# operators/dedup shingling exactly).
_SQL_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_SQL_TOKS = f"regexp_split_to_array({_SQL_NORM}, ' ')"

# BM25 pipeline CTEs shared by bm25_search and hybrid_rrf. The partial
# expression mirrors operators/retrieval.bm25_search TERM FOR TERM — same
# literal constants (2.2 == repr(1.2+1) parses to the identical double),
# same association order — so the floor'd integer partials agree exactly.
_BM25_SQL_IN = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"
_BM25_SQL_CTES = f"""WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
            ), ex AS (
                SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks
            ), hits AS (
                SELECT doc_id, term, count(*)::DOUBLE AS tf,
                       min(dl)::DOUBLE AS dl
                FROM ex WHERE term IN {_BM25_SQL_IN}
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY term
            ), stats AS (
                SELECT count(*)::DOUBLE AS n, sum(len(tk))::DOUBLE AS sumdl
                FROM toks
            ), parts AS (
                SELECT h.doc_id,
                       floor(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                             * h.tf * 2.2
                             / (h.tf + 1.2 * (1 - 0.75
                                + 0.75 * h.dl * s.n / s.sumdl))
                             * 1000000 + 0.5)::BIGINT AS p
                FROM hits h JOIN dfreq d USING (term) CROSS JOIN stats s
            )"""
_SQL_SHINGLES = (
    "CASE WHEN len(tk) >= 3 THEN "
    "list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] "
    "for i in range(1, len(tk) - 1)]) "
    f"ELSE [{_SQL_NORM}] END")


def _cross_dedup_oracle() -> str:
    """DuckDB replay of cross_dedup_minhash over the doc_id%3 corpus/ref
    split: md5-deterministic minhash bands on BOTH sides, corpus×ref
    band-key equi-join candidates, exact-Jaccard verify, anti-join,
    per-lang survivor rollup — mirrors operators/dedup line for line."""
    num_hashes, bands, rows, thr = 12, 4, 3, 0.5
    h1 = "('0x' || substr(md5(s), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(s), 9, 8))::BIGINT"
    sig_cols = ",\n                   ".join(
        f"list_min(list_transform(sh, s -> {h1} + {i} * {h2})) AS sig{i}"
        for i in range(num_hashes))
    band_cols = ",\n                   ".join(
        "md5(" + " || '|' || ".join(f"sig{b * rows + r}::VARCHAR"
                                    for r in range(rows))
        + f") AS band{b}" for b in range(bands))
    band_union = "\n                UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM banded"
        for b in range(bands))
    jac = ("len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
           "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))")
    return f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            ), sigs AS (
                SELECT doc_id, sh,
                   {sig_cols}
                FROM sh
            ), banded AS (
                SELECT doc_id,
                   {band_cols}
                FROM sigs
            ), expl AS (
                {band_union}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS cid, b.doc_id AS rid
                FROM expl a JOIN expl b
                  ON a.band = b.band AND a.key = b.key
                WHERE a.doc_id % 3 != 0 AND b.doc_id % 3 = 0
            ), doomed AS (
                SELECT DISTINCT cid FROM cand
                JOIN sh sa ON cand.cid = sa.doc_id
                JOIN sh sb ON cand.rid = sb.doc_id
                WHERE {jac} >= {thr}
            )
            SELECT lang, count(*)::BIGINT AS n_kept,
                   sum(doc_id)::BIGINT AS id_sum
            FROM documents
            WHERE doc_id % 3 != 0
              AND doc_id NOT IN (SELECT cid FROM doomed)
            GROUP BY lang ORDER BY lang
        """


def _minhash_oracle() -> str:
    num_hashes, bands, rows, thr = 12, 4, 3, 0.5
    h1 = "('0x' || substr(md5(s), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(s), 9, 8))::BIGINT"
    sig_cols = ",\n                   ".join(
        f"list_min(list_transform(sh, s -> {h1} + {i} * {h2})) AS sig{i}"
        for i in range(num_hashes))
    band_cols = ",\n                   ".join(
        "md5(" + " || '|' || ".join(f"sig{b * rows + r}::VARCHAR"
                                    for r in range(rows))
        + f") AS band{b}" for b in range(bands))
    band_union = "\n                UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM banded"
        for b in range(bands))
    return f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            ), sigs AS (
                SELECT doc_id, sh,
                   {sig_cols}
                FROM sh
            ), banded AS (
                SELECT doc_id,
                   {band_cols}
                FROM sigs
            ), expl AS (
                {band_union}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
                FROM expl a JOIN expl b
                  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
            )
            SELECT id_1, id_2,
                   round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                         (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
            FROM cand
            JOIN sh sa ON cand.id_1 = sa.doc_id
            JOIN sh sb ON cand.id_2 = sb.doc_id
            WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE /
                  (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= {thr}
            ORDER BY id_1, id_2
        """


def _simhash_oracle() -> str:
    bits, max_hamming = 60, 2
    h = "('0x' || substr(md5(t), 1, 15))::BIGINT"
    vote_cols = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits))
    sig_expr = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))
    chunk_union = "\n                UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS blk, (sig >> {c * 15}) & 32767 AS chunk "
        "FROM sigs" for c in range(4))
    return f"""
            WITH toks AS (
                SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS t
                FROM documents
            ), hashed AS (
                SELECT doc_id, {h} AS h FROM toks
            ), votes AS (
                SELECT doc_id,
                   {vote_cols}
                FROM hashed GROUP BY doc_id
            ), sigs AS (
                SELECT doc_id, {sig_expr} AS sig FROM votes
            ), blocks AS (
                {chunk_union}
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
                       a.sig AS s1, b.sig AS s2
                FROM blocks a JOIN blocks b
                  ON a.blk = b.blk AND a.chunk = b.chunk
                 AND a.doc_id < b.doc_id
            )
            SELECT hamming, count(*) AS n_pairs,
                   count(DISTINCT id_1) AS n_docs_left
            FROM (
                SELECT id_1, id_2, bit_count(xor(s1, s2)) AS hamming
                FROM cand
                WHERE bit_count(xor(s1, s2)) <= {max_hamming}
            )
            GROUP BY hamming
            ORDER BY hamming
        """


def _lsh_oracle_sql(threshold: float = 0.3, num_planes: int = 4,
                    dim: int = 64, seed: int = 42) -> str:
    """DuckDB replica of the FULL hyperplane-LSH pipeline: the seeded
    Gaussian planes (identical numpy construction as the Spark side,
    operators/dedup.lsh_planes) are embedded as array literals; signature =
    sum of 2^i over planes with positive dot; candidates join on signature
    equality; exact rounded-cosine verify. dim=64 is the fixture embedding
    width (TESTDATA.md)."""
    from pydata_vector_search_spark.operators.dedup import lsh_planes
    planes = lsh_planes(dim, num_planes, seed)
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"{[float(v) for v in p]}::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
        WITH sig AS (
            SELECT vec_id, embedding, {bits} AS sg FROM embeddings
        )
        SELECT id_1, id_2, cos_sim FROM (
            SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM sig a JOIN sig b ON a.sg = b.sg AND a.vec_id < b.vec_id
        )
        WHERE cos_sim >= {threshold}
        ORDER BY id_1, id_2
    """


def _semantic_dedup_oracle_sql(threshold: float = 0.3, num_planes: int = 4,
                               dim: int = 64, seed: int = 42) -> str:
    """DuckDB replay of the full SemDeDup pipeline: seeded hyperplane
    signature (literal planes), bucket self-join + rounded-cosine pairs,
    recursive-CTE connected components, min-id keep, anti-join,
    per-label rollup — mirrors operators/dedup.semantic_dedup."""
    from pydata_vector_search_spark.operators.dedup import lsh_planes
    planes = lsh_planes(dim, num_planes, seed)
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"{[float(v) for v in p]}::DOUBLE[]) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
        WITH RECURSIVE sig AS (
            SELECT vec_id, embedding, {bits} AS sg FROM embeddings
        ), pairs AS (
            SELECT a.vec_id AS id_1, b.vec_id AS id_2
            FROM sig a JOIN sig b ON a.sg = b.sg AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6)
                  >= {threshold}
        ), edges AS (
            SELECT id_1 AS u, id_2 AS v FROM pairs
            UNION
            SELECT id_2, id_1 FROM pairs
        ), reach AS (
            SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
        ), comp AS (
            SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
        ), doomed AS (
            SELECT n FROM comp WHERE n != cluster_id
        )
        SELECT label, count(*)::BIGINT AS n_kept,
               sum(vec_id)::BIGINT AS id_sum
        FROM embeddings
        WHERE vec_id NOT IN (SELECT n FROM doomed)
        GROUP BY label ORDER BY label
    """


def _mmr_oracle(k: int = 8, n_short: int = 20, lamb: float = 0.5) -> str:
    """DuckDB replay of q_mmr_rerank: same top-20 shortlist (rounded
    distance + vec_id tiebreak), then the greedy MMR recurrence UNROLLED
    as k chained single-row argmax steps. Both engines quantize rel/sim
    to 9 decimals first, so the per-step scores are bit-identical
    doubles (0.5·rel − 0.5·red over identical inputs is exact IEEE) and
    the argmax ordering (score desc, rel desc, id asc) replays the
    Python scan order exactly."""
    one_m = repr(1.0 - lamb)
    lam = repr(lamb)
    steps = [f"sel0 AS MATERIALIZED (SELECT vec_id FROM rel WHERE false)"]
    for i in range(1, k + 1):
        steps.append(f"""s{i} AS MATERIALIZED (
                SELECT r.vec_id, r.rel,
                       {lam} * r.rel - {one_m} * coalesce((
                           SELECT max(s.s) FROM sim s, sel{i - 1} p
                           WHERE s.i = r.vec_id AND s.j = p.vec_id),
                           0.0) AS score
                FROM rel r
                WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
            ), p{i} AS MATERIALIZED (
                SELECT vec_id, {i}::BIGINT AS mmr_rank, score
                FROM s{i} ORDER BY score DESC, rel DESC, vec_id ASC
                LIMIT 1
            ), sel{i} AS MATERIALIZED (
                SELECT vec_id FROM sel{i - 1}
                UNION ALL SELECT vec_id FROM p{i}
            )""")
    picks = "\n                UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, k + 1))
    return f"""
            WITH short AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       round(1 - list_cosine_similarity(
                                 embedding::DOUBLE[], {_ORACLE_Q}),
                             2) AS d
                FROM embeddings
                ORDER BY d ASC, vec_id ASC LIMIT {n_short}
            ), nrm AS MATERIALIZED (
                SELECT vec_id,
                       list_transform(v, x -> x /
                           sqrt(list_dot_product(v, v))) AS nv
                FROM short
            ), qn AS (
                SELECT list_transform(q, x -> x /
                           sqrt(list_dot_product(q, q))) AS nq
                FROM (SELECT {_ORACLE_Q} AS q)
            ), rel AS MATERIALIZED (
                SELECT vec_id,
                       round(list_dot_product(nv, nq), 9) AS rel
                FROM nrm, qn
            ), sim AS MATERIALIZED (
                SELECT a.vec_id AS i, b.vec_id AS j,
                       round(list_dot_product(a.nv, b.nv), 9) AS s
                FROM nrm a, nrm b
            ),
            {', '.join(steps)}
            SELECT vec_id, mmr_rank, round(score, 6) AS mmr_score
            FROM ({picks})
            ORDER BY mmr_rank
        """


_INCR_MM_SQL = """
            WITH final AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 5 = 0 THEN 'U'
                            ELSE o_orderstatus END AS g,
                       o_totalprice AS x
                FROM orders
                WHERE (o_orderkey < 3000
                       OR (o_orderkey % 5 = 0 AND o_orderkey < 4000))
                  AND o_orderkey % 7 != 0
            )
            SELECT g AS o_orderstatus, count(*)::BIGINT AS n_rows,
                   round(sum(x), 2) AS total,
                   round(min(x), 2) AS min_price,
                   round(max(x), 2) AS max_price
            FROM final GROUP BY g ORDER BY g
        """


def _kmeans_oracle_sql(k: int = 8, iterations: int = 3,
                       scale: int = 10 ** 6, offset: float = 1.0) -> str:
    """Integer-exact Lloyd's k-means replayed as an unrolled CTE chain
    (validated EXACT at sf0.001+sf0.01). One
    recursive CTE cannot express the recurrence — each round reads the
    previous centroids twice (assignment AND the empty-cluster
    fallback), so the chain is unrolled per iteration: quantized
    squared-L2 cross join -> row_number argmin with (dist, cid)
    tie-break -> per-dimension integer mean with LEFT JOIN COALESCE
    for empty clusters. ``CAST(x AS DOUBLE)`` inside the quantizer
    lambda is load-bearing: DuckDB narrows float*double-literal to
    FLOAT32 otherwise."""
    parts = [f"""WITH q AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
    x -> CAST(floor((CAST(x AS DOUBLE) + {offset!r}) * {float(scale)!r})
              AS BIGINT)) AS qv
  FROM embeddings
), c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
)"""]
    for it in range(1, iterations + 1):
        p = it - 1
        parts.append(f"""d{it} AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(generate_series(1, len(q.qv)),
                                 i -> (q.qv[i] - c.cv[i])
                                      * (q.qv[i] - c.cv[i]))) AS d
  FROM q CROSS JOIN c{p} c
), a{it} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{it}) WHERE rn = 1
), s{it} AS (
  SELECT a.cid, t.i AS pos, SUM(q.qv[t.i])::BIGINT AS s,
         COUNT(*)::BIGINT AS n
  FROM a{it} a JOIN q USING (vec_id),
       unnest(generate_series(1, len(q.qv))) t(i)
  GROUP BY a.cid, t.i
), n{it} AS (
  SELECT cid, list(s // n ORDER BY pos) AS cv FROM s{it} GROUP BY cid
), c{it} AS MATERIALIZED (
  SELECT p.cid, COALESCE(nc.cv, p.cv) AS cv
  FROM c{p} p LEFT JOIN n{it} nc ON nc.cid = p.cid
)""")
    parts.append(f"""df AS (
  SELECT q.vec_id, c.cid,
         list_sum(list_transform(generate_series(1, len(q.qv)),
                                 i -> (q.qv[i] - c.cv[i])
                                      * (q.qv[i] - c.cv[i]))) AS d
  FROM q CROSS JOIN c{iterations} c
)
SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id,
       CAST(d AS BIGINT) AS dist_units
FROM (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d, cid) AS rn
      FROM df) WHERE rn = 1
ORDER BY vec_id""")
    return ",\n".join(parts)


def _cluster_sample_oracle_sql(k: int = 8, iterations: int = 3,
                               per_cluster: int = 10) -> str:
    """Cluster-balanced sample replay: the kmeans assignment chain +
    per-cluster (md5(id), id) row_number <= per_cluster — the single-
    window spelling the salted tournament provably equals (pinned in
    tests/test_sampling.py)."""
    return f"""WITH assigned AS (
{_kmeans_oracle_sql(k=k, iterations=iterations)}
)
SELECT vec_id, cluster_id, dist_units FROM (
  SELECT vec_id, cluster_id, dist_units,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                     vec_id) AS rn
  FROM assigned) WHERE rn <= {per_cluster}
ORDER BY cluster_id, vec_id"""


# Per-node triangle counts over the part co-purchase graph, replayed as
# a naive canonical-edge three-way self-join (validated EXACT at
# sf0.001+sf0.01).
_TRIANGLE_ORACLE_SQL = """
WITH pair0 AS (
  SELECT l1.l_partkey AS u, l2.l_partkey AS v
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
  GROUP BY 1, 2
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM pair0 UNION ALL SELECT v AS node FROM pair0
  ) GROUP BY 1
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pair0 e1
  JOIN pair0 e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN pair0 e3 ON e3.u = e1.v AND e3.v = e2.v
),
per AS (
  SELECT node, COUNT(*) AS triangles FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT d.node, d.degree, COALESCE(p.triangles, 0) AS triangles
FROM deg d LEFT JOIN per p USING (node)
ORDER BY node
"""


def _bpe_oracle_sql(num_merges: int = 12, min_count: int = 1,
                    min_pair_count: int = 2,
                    max_word_types: int = 1_000_000) -> str:
    """BPE training replayed step-by-step in SQL (validated EXACT at
    sf0.001+sf0.01): the word-frequency table
    (same BPE_ISH_PATTERN pre-tokenization, same count-desc/word-asc
    cap), then ``num_merges`` unrolled stages of [adjacent-pair count
    -> (count desc, left, right) argmax -> greedy LEFT-TO-RIGHT merge
    application as a positional recursive CTE]. Early stop
    (best < min_pair_count) cascades through empty CTEs, so the SQL
    stops exactly where the operator stops."""
    pat = T.BPE_ISH_PATTERN.replace("'", "''")
    parts = [f"""WITH RECURSIVE
seq0 AS MATERIALIZED (
  SELECT word, cnt, string_split(word, '') AS syms FROM (
    SELECT word, COUNT(*)::BIGINT AS cnt FROM (
      SELECT unnest(regexp_extract_all(lower(text), '{pat}')) AS word
      FROM documents
    ) WHERE length(word) > 0
    GROUP BY word HAVING COUNT(*) >= {min_count}
    ORDER BY cnt DESC, word LIMIT {max_word_types}
  )
)"""]
    for k in range(1, num_merges + 1):
        p = k - 1
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT syms[t.i] AS l, syms[t.i+1] AS r, SUM(cnt)::BIGINT AS c
  FROM seq{p}, unnest(generate_series(1, len(syms) - 1)) t(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (SELECT l, r, c FROM p{k}
         WHERE c >= {min_pair_count}
         ORDER BY c DESC, l, r LIMIT 1),
a{k}(word, i, out) AS (
  SELECT word, 1, []::VARCHAR[] FROM seq{p}
  UNION ALL
  SELECT a.word,
    CASE WHEN a.i < len(s.syms) AND s.syms[a.i] = b.l
              AND s.syms[a.i+1] = b.r THEN a.i + 2 ELSE a.i + 1 END,
    CASE WHEN a.i < len(s.syms) AND s.syms[a.i] = b.l
              AND s.syms[a.i+1] = b.r THEN list_append(a.out, b.l || b.r)
         ELSE list_append(a.out, s.syms[a.i]) END
  FROM a{k} a JOIN seq{p} s USING (word) CROSS JOIN b{k} b
  WHERE a.i <= len(s.syms)
),
seq{k} AS MATERIALIZED (
  SELECT a.word, s.cnt, a.out AS syms
  FROM a{k} a JOIN seq{p} s USING (word)
  WHERE a.i = len(s.syms) + 1
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT {k}::BIGINT AS step, l AS \"left\", r AS \"right\", "
        f"c AS pair_count FROM b{k}" for k in range(1, num_merges + 1))
    parts.append(f"""merges AS (
  {unions}
)""")
    return ",\n".join(parts) + "\nSELECT * FROM merges ORDER BY step"


def _semdedup_kmeans_oracle_sql(k: int = 8, iterations: int = 3,
                                threshold: float = 0.3,
                                round_to: int = 6) -> str:
    """Paper-faithful SemDeDup replay (validated EXACT at
    sf0.001+sf0.01): the unrolled kmeans assignment chain + within-
    cluster rounded-cosine pairs + recursive transitive hull +
    min-id-survives anti-join, rolled up per label — the
    `semantic_dedup` declared-query tail verbatim with k-means
    clusters in place of hyperplane-LSH buckets. CC-family at sf0.1
    (the reach recursion — closed by tools/cc_check_sf01.py's
    union-find third algorithm), cheap at sf0.001/0.01."""
    return f"""WITH RECURSIVE assigned AS (
{_kmeans_oracle_sql(k=k, iterations=iterations)}
), pairs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                     eb.embedding::DOUBLE[]),
              {round_to}) >= {threshold!r}
), edges AS (
  SELECT id_1 AS u, id_2 AS v FROM pairs
  UNION
  SELECT id_2, id_1 FROM pairs
), reach AS (
  SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
), comp AS (
  SELECT n, min(m) AS root FROM reach GROUP BY n
), doomed AS (
  SELECT n FROM comp WHERE n != root
)
SELECT label, count(*)::BIGINT AS n_kept, sum(vec_id)::BIGINT AS id_sum
FROM embeddings
WHERE vec_id NOT IN (SELECT n FROM doomed)
GROUP BY label ORDER BY label"""


# quality_score (functions/text.py) replayed verbatim, parametrized on
# the rounding each consumer applies — the text_stats oracle expression.
# quality_score(NULL text) = 0.55 in BOTH engines: least()/greatest()
# IGNORE NULL arguments (Spark and DuckDB alike), so term 1 reads
# least(NULL, 1.0) = 1.0 and term 3's least(NULL, 1.0) = 1.0 — the
# total is 0.4*1.0 + 0.3*0.5 + 0.3*0.0 = 0.55, never NULL (the
# least/greatest parity note).
_QUALITY_BODY_SQL = r"""0.4 * least(length(text) / 200.0, 1.0)
       + 0.3 * (CASE WHEN length(text)::DOUBLE
                          / len(regexp_split_to_array(trim(text), '\s+'))
                     BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
       + 0.3 * (1.0 - least(5.0 * length(regexp_replace(text,
                    '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE
                            / length(text), 1.0))"""
_DOMAIN_CAP_QUALITY_SQL = f"round({_QUALITY_BODY_SQL}, 6)"

# RAW token count (NULL text -> NULL) for the budget stage's running
# sum: sum() skips NULLs, so leading NULL-token rows drop on
# `NULL <= budget` — select_token_budget's naive-window NULL contract
# Only the CAP stage coalesces to 0 (the
# domain_token_cap contract).
_RAW_NT_SQL = r"""len(regexp_split_to_array(trim(text), '\s+'))::BIGINT"""


def _domain_cap_oracle_sql(cap_tokens: int = 600) -> str:
    """Per-domain token cap replayed as the naive per-domain
    running-sum window (validated EXACT at sf0.001+sf0.01).
    The declared Spark side is the DISTRIBUTED branch —
    the oracle is the single-window spelling it provably equals:
    (quality DESC NULLS LAST, id) order, inclusive running total <=
    cap, token counts coalesced to 0."""
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         {_DOMAIN_CAP_QUALITY_SQL} AS qb,
         coalesce(len(regexp_split_to_array(trim(text),
                                            '\\s+'))::BIGINT, 0) AS nt
  FROM documents
), cum AS (
  SELECT doc_id, source,
         sum(nt) OVER (PARTITION BY source
                       ORDER BY qb DESC NULLS LAST, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS c
  FROM scored
)
SELECT doc_id, source FROM cum WHERE c <= {cap_tokens}
ORDER BY doc_id
"""


def _collocations_oracle_sql(min_count: int = 5, top_k: int = 30) -> str:
    """PMI collocations replayed exactly (promoted from
    tools/collocations_oracle_draft.py, validated EXACT at
    sf0.001+sf0.01; the draft AND tests/test_collocations.py
    import this builder): exact long bigram counts, marginals over the
    distinct-PAIR table, one ln of the fixed-association integer ratio
    ``(c12 * N) / (cl * cr)`` floored into micro-nats, total output
    order (pmi_micro DESC, pair_count DESC, w1, w2)."""
    return rf"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(regexp_replace(lower(text),
                                                   '\s+', ' ', 'g')),
                               ' ') AS tk
  FROM documents
), big AS (
  SELECT tk[i] || ' ' || tk[i+1] AS bg
  FROM (SELECT generate_subscripts(tk, 1) AS i, tk FROM toks)
  WHERE i < len(tk)
), bc AS (
  SELECT bg, count(*)::BIGINT AS c FROM big GROUP BY bg
), nn AS (
  SELECT sum(c)::BIGINT AS n FROM bc
), lefts AS (
  SELECT split_part(bg, ' ', 1) AS w, sum(c)::BIGINT AS cl
  FROM bc GROUP BY 1
), rights AS (
  SELECT split_part(bg, ' ', 2) AS w, sum(c)::BIGINT AS cr
  FROM bc GROUP BY 1
)
SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
       c AS pair_count,
       floor(ln((c::DOUBLE * n) / (cl::DOUBLE * cr))
             * 1000000 + 0.5)::BIGINT AS pmi_micro
FROM bc
JOIN lefts  ON split_part(bg, ' ', 1) = lefts.w
JOIN rights ON split_part(bg, ' ', 2) = rights.w, nn
WHERE c >= {min_count}
ORDER BY pmi_micro DESC, pair_count DESC, w1, w2 LIMIT {top_k}
"""


def _curation_chain_oracle_sql(cap_tokens: int = 2000,
                               min_quality: float = 0.5,
                               budget_tokens: int = 5000) -> str:
    """The full corpus-curation composition replayed as one chained
    query (promoted from tools/curation_chain_oracle_draft.py,
    validated EXACT at sf0.001+sf0.01+sf0.1, NULL handling included;
    the draft AND tests/test_curation.py
    import this builder): per-domain token cap (coalesced counts, the
    domain_token_cap contract) -> exact dedup (min id per
    normalized-text md5 fingerprint over the cap SURVIVORS) -> quality
    gate (2-dp rounded threshold) -> global token budget (RAW counts —
    leading NULL-token rows drop, the select_token_budget naive-window
    NULL contract). Each stage is the operator its
    standalone green oracle pins, so the value hash also pins the
    stage BOUNDARIES."""
    q = _QUALITY_BODY_SQL
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
         round({q}, 6) AS qb6, {_RAW_NT_SQL} AS nt
  FROM documents
), capped AS (
  SELECT doc_id, lang, source, text, nt FROM (
    SELECT *, sum(coalesce(nt, 0)) OVER (PARTITION BY source
                            ORDER BY qb6 DESC NULLS LAST, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS c
    FROM scored) WHERE c <= {cap_tokens}
), fp AS (
  SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM capped
), deduped AS (
  SELECT doc_id, lang, source, text, nt FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY f) AS md FROM fp)
  WHERE doc_id = md
), gated AS (
  SELECT doc_id, lang, source, text, nt FROM deduped
  WHERE round({q}, 2) >= {min_quality!r}
), ranked AS (
  SELECT doc_id, lang, source,
         sum(nt) OVER (ORDER BY round({q}, 3) DESC NULLS LAST, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS c
  FROM gated
)
SELECT doc_id, lang, source FROM ranked WHERE c <= {budget_tokens}
ORDER BY doc_id
"""


def oracle_sql() -> dict[str, str]:
    d = {
        "curation_chain": _curation_chain_oracle_sql(
            cap_tokens=2000, min_quality=0.5, budget_tokens=5000),
        "semdedup_kmeans": _semdedup_kmeans_oracle_sql(
            k=8, iterations=3, threshold=0.3, round_to=6),
        "domain_token_cap": _domain_cap_oracle_sql(cap_tokens=600),
        "collocations_pmi": _collocations_oracle_sql(min_count=5,
                                                     top_k=30),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        "cross_dedup": _cross_dedup_oracle(),
        "purge_erasure": """
            WITH kept AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders
                WHERE o_orderkey < 2000 AND o_orderkey % 11 != 0
            ), states AS (
                SELECT 'asof1' AS state, o_orderstatus, o_totalprice
                FROM kept
                UNION ALL
                SELECT 'snapshot',
                       CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                            ELSE o_orderstatus END,
                       o_totalprice
                FROM kept
            )
            SELECT state, o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM states GROUP BY state, o_orderstatus
            ORDER BY state, o_orderstatus
        """,
        "table_profile": """
            WITH agg AS (
                SELECT count(*)::BIGINT AS n_rows,
                       sum((o_orderkey IS NULL)::INT)::BIGINT AS null_1,
                       count(DISTINCT o_orderkey)::BIGINT AS nd_1,
                       min(o_orderkey)::VARCHAR AS min_1,
                       max(o_orderkey)::VARCHAR AS max_1,
                       sum((o_custkey IS NULL)::INT)::BIGINT AS null_2,
                       count(DISTINCT o_custkey)::BIGINT AS nd_2,
                       min(o_custkey)::VARCHAR AS min_2,
                       max(o_custkey)::VARCHAR AS max_2,
                       sum((o_orderstatus IS NULL)::INT)::BIGINT AS null_3,
                       count(DISTINCT o_orderstatus)::BIGINT AS nd_3,
                       min(o_orderstatus)::VARCHAR AS min_3,
                       max(o_orderstatus)::VARCHAR AS max_3,
                       sum((o_orderpriority IS NULL)::INT)::BIGINT AS null_4,
                       count(DISTINCT o_orderpriority)::BIGINT AS nd_4,
                       min(o_orderpriority)::VARCHAR AS min_4,
                       max(o_orderpriority)::VARCHAR AS max_4,
                       sum((o_totalprice IS NULL)::INT)::BIGINT AS null_5,
                       count(DISTINCT o_totalprice)::BIGINT AS nd_5,
                       min(o_totalprice)::VARCHAR AS min_5,
                       max(o_totalprice)::VARCHAR AS max_5
                FROM orders
            )
            SELECT c AS "column", n_rows, n_null, n_distinct,
                   min_value, max_value
            FROM agg, (
                SELECT 'o_orderkey' AS c, null_1 AS n_null, nd_1 AS n_distinct,
                       min_1 AS min_value, max_1 AS max_value FROM agg
                UNION ALL
                SELECT 'o_custkey', null_2, nd_2, min_2, max_2 FROM agg
                UNION ALL
                SELECT 'o_orderstatus', null_3, nd_3, min_3, max_3 FROM agg
                UNION ALL
                SELECT 'o_orderpriority', null_4, nd_4, min_4, max_4 FROM agg
                UNION ALL
                SELECT 'o_totalprice', null_5, nd_5, min_5, max_5 FROM agg
            ) ORDER BY c
        """,
        "funnel": """
            WITH v AS (
                SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ), c AS (
                SELECT e.user_id, min(e.ts) AS t2
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND e.ts > v.t1
                GROUP BY e.user_id
            ), p AS (
                SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.t2
                GROUP BY e.user_id
            )
            SELECT stage, n_users FROM (
                SELECT '1_view' AS stage, count(*)::BIGINT AS n_users FROM v
                UNION ALL
                SELECT '2_click', count(*)::BIGINT FROM c
                UNION ALL
                SELECT '3_purchase', count(*)::BIGINT FROM p
            ) ORDER BY stage
        """,
        "label_centroids": f"""
            WITH ex AS (
                SELECT label, u.pos AS pos, u.v::DOUBLE AS v
                FROM (SELECT label,
                             unnest([{{'pos': i, 'v': embedding[i]}}
                                     for i in range(1, len(embedding)+1)])
                                 AS u
                      FROM embeddings)
            ), per AS (
                SELECT label, pos, avg(v) AS m FROM ex GROUP BY label, pos
            ), cent AS (
                SELECT label, list(m ORDER BY pos)::DOUBLE[] AS centroid
                FROM per GROUP BY label
            ), n AS (
                SELECT label, count(*)::BIGINT AS n FROM embeddings
                GROUP BY label
            )
            SELECT c.label, n.n,
                   round(list_cosine_similarity(c.centroid, {_ORACLE_Q}),
                         6) AS centroid_sim
            FROM cent c JOIN n USING (label)
            ORDER BY c.label
        """,
        "incremental_agg": """
            WITH final AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 5 = 0 THEN 'U'
                            ELSE o_orderstatus END AS g,
                       o_totalprice AS x
                FROM orders
                WHERE (o_orderkey < 3000
                       OR (o_orderkey % 5 = 0 AND o_orderkey < 4000))
                  AND o_orderkey % 7 != 0
            )
            SELECT g AS o_orderstatus, count(*)::BIGINT AS n_rows,
                   round(sum(x), 2) AS total
            FROM final GROUP BY g ORDER BY g
        """,
        "table_lifecycle": """
            SELECT s_nationkey, count(*)::BIGINT AS n_sup,
                   round(sum(s_acctbal), 2) AS bal
            FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        "approx_percentile": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5) + 1e-6, 2)
                       AS p50_exact,
                   round(quantile_cont(l_extendedprice, 0.95) + 1e-6, 2)
                       AS p95_exact,
                   true AS p50_ok, true AS p95_ok
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "pq_knn": f"""
            SELECT e.vec_id, e.label,
                   round(1 - round(1 - list_cosine_similarity(
                             e.embedding::DOUBLE[], {_ORACLE_Q}), 2),
                         2) AS score
            FROM embeddings e
            ORDER BY round(1 - list_cosine_similarity(
                         e.embedding::DOUBLE[], {_ORACLE_Q}), 2) ASC,
                     e.vec_id ASC
            LIMIT 10
        """,
        "csv_external": """
            SELECT s_nationkey, count(*)::BIGINT AS n,
                   round(sum(s_acctbal), 2) AS acctbal
            FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
        """,
        "jsonl_roundtrip": """
            SELECT lang, count(*)::BIGINT AS n,
                   sum(doc_id)::BIGINT AS id_sum,
                   sum(('0x' || substr(md5(text), 1, 10))::BIGINT)::BIGINT
                       AS text_h
            FROM documents GROUP BY lang
            UNION ALL
            SELECT '__corrupt__', 2, 0, 0
            ORDER BY lang
        """,
        "constraint_checks": """
            WITH tot AS (SELECT count(*)::BIGINT AS total FROM orders)
            SELECT rule, violations, (SELECT total FROM tot) AS total
            FROM (
                SELECT 'check:has_priority' AS rule,
                       sum(CASE WHEN NOT coalesce(o_orderpriority LIKE '%-%',
                                                  false)
                                THEN 1 ELSE 0 END)::BIGINT AS violations
                FROM orders
                UNION ALL
                SELECT 'in_range:o_totalprice',
                       sum(CASE WHEN o_totalprice IS NOT NULL
                                 AND (o_totalprice < 1000.0
                                      OR o_totalprice > 300000.0)
                                THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'matches:o_orderstatus',
                       sum(CASE WHEN o_orderstatus IS NOT NULL
                                 AND NOT regexp_matches(o_orderstatus,
                                                        '^[OF]$')
                                THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'not_null:o_custkey',
                       sum(CASE WHEN o_custkey IS NULL
                                THEN 1 ELSE 0 END)::BIGINT
                FROM orders
                UNION ALL
                SELECT 'references:o_custkey',
                       count(*)::BIGINT
                FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey < 100
                                    AND c.c_custkey = o.o_custkey)
                UNION ALL
                SELECT 'unique:o_orderkey',
                       coalesce((SELECT sum(n) FROM (
                           SELECT count(*) AS n FROM orders
                           GROUP BY o_orderkey HAVING count(*) > 1)),
                           0)::BIGINT
            ) ORDER BY rule
        """,
        "bm25_search": f"""
            {_BM25_SQL_CTES}
            SELECT doc_id, sum(p) / 1000000.0 AS bm25
            FROM parts GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC LIMIT 15
        """,
        "hybrid_rrf": f"""
            {_BM25_SQL_CTES},
            lex AS (
                SELECT doc_id, sum(p) / 1000000.0 AS bm25
                FROM parts GROUP BY doc_id
                ORDER BY bm25 DESC, doc_id ASC LIMIT 50
            ), ra AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                           ::BIGINT AS r
                FROM lex
            ), vec AS (
                SELECT vec_id AS doc_id,
                       round(1 - list_cosine_similarity(
                                 embedding::DOUBLE[], {{q}}), 6) AS dist
                FROM embeddings
                ORDER BY dist ASC, doc_id ASC LIMIT 50
            ), rb AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY dist ASC, doc_id ASC)
                           ::BIGINT AS r
                FROM vec
            )
            SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
                   round(coalesce(1.0 / (60.0 + ra.r), 0.0)
                         + coalesce(1.0 / (60.0 + rb.r), 0.0), 6) AS rrf,
                   ra.r AS rank_lex, rb.r AS rank_vec
            FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
            ORDER BY rrf DESC, doc_id ASC LIMIT 10
        """.replace("{q}", _ORACLE_Q),
        "redact_pii": r"""
            WITH aug AS (
                SELECT lang,
                       text || ' contact user' || doc_id
                            || '@example.com from 10.0.'
                            || (doc_id % 256) || '.7 tel +1 555-000-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                           AS aug
                FROM documents
            ), red AS (
                SELECT lang,
                       regexp_replace(regexp_replace(regexp_replace(aug,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                           '<IP>', 'g'),
                           '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS red
                FROM aug
            )
            SELECT lang, count(*)::BIGINT AS n_docs,
                   (sum(len(red) - len(replace(red, '<EMAIL>', '')))
                        // 7)::BIGINT AS emails,
                   (sum(len(red) - len(replace(red, '<IP>', '')))
                        // 4)::BIGINT AS ips,
                   (sum(len(red) - len(replace(red, '<PHONE>', '')))
                        // 7)::BIGINT AS phones,
                   sum(len(red))::BIGINT AS chars
            FROM red GROUP BY lang ORDER BY lang
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            ), pairs AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
            ), edges AS (
                SELECT id_1 AS u, id_2 AS v FROM pairs
                UNION
                SELECT id_2, id_1 FROM pairs
            ), reach AS (
                SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
            ), comp AS (
                SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
            )
            SELECT cluster_id, count(*)::BIGINT AS cluster_size,
                   max(n) AS max_member
            FROM comp GROUP BY cluster_id ORDER BY cluster_id
        """,
        "stream_dedup": """
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "vector_topk_per_group": f"""
            WITH scored AS (
                SELECT label, vec_id,
                       round(list_cosine_similarity(embedding::DOUBLE[],
                                                    {_ORACLE_Q}), 2) AS score
                FROM embeddings
            ), r AS (
                SELECT label, vec_id, score,
                       row_number() OVER (PARTITION BY label
                                          ORDER BY score DESC, vec_id ASC)
                           AS rn
                FROM scored
            )
            SELECT label, rn::BIGINT AS rn, vec_id, score
            FROM r WHERE rn <= 3 ORDER BY label, rn
        """,
        "sessionize": """
            WITH x AS (
                SELECT user_id, event_id, ts, value,
                       floor(epoch(ts))::BIGINT AS tsec,
                       lag(floor(epoch(ts))::BIGINT) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events
            ), s AS (
                SELECT user_id, event_id, ts, value, tsec,
                       CASE WHEN prev IS NULL OR tsec - prev > 1800
                            THEN 1 ELSE 0 END AS brk
                FROM x
            ), t AS (
                SELECT user_id, tsec, value,
                       sum(brk) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS sess
                FROM s
            ), per_sess AS (
                SELECT user_id, sess, count(*) AS n_events,
                       max(tsec) - min(tsec) AS dur_sec, sum(value) AS sv
                FROM t GROUP BY user_id, sess
            )
            SELECT user_id, count(*)::BIGINT AS n_sessions,
                   max(n_events)::BIGINT AS max_session_events,
                   max(dur_sec)::BIGINT AS max_session_sec,
                   round(sum(sv), 2) AS total_value
            FROM per_sess GROUP BY user_id ORDER BY user_id
        """,
        "stratified_sample": """
            WITH b AS (
                SELECT lang, n_chars,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 100
                           AS bucket
                FROM documents
            )
            SELECT lang,
                   CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
                   count(*)::BIGINT AS n_docs,
                   round(avg(n_chars), 2) AS avg_chars
            FROM b GROUP BY lang, split ORDER BY lang, split
        """,
        "stateful_totals": """
            SELECT event_type, count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "chunk_embed_knn": _chunk_embed_knn_oracle(),
        "multimodal_audio": """
            WITH meta AS (
                SELECT doc_id,
                       CASE (('0x' || substr(md5(text), 1, 1))::BIGINT % 3)
                         WHEN 0 THEN 'pcm' WHEN 1 THEN 'opus'
                         ELSE 'flac' END AS codec,
                       CASE (('0x' || substr(md5(text), 2, 1))::BIGINT % 4)
                         WHEN 0 THEN 8000 WHEN 1 THEN 16000
                         WHEN 2 THEN 44100 ELSE 48000 END AS sample_rate,
                       50 + ('0x' || substr(md5(text), 3, 6))::BIGINT % 600000
                           AS duration_ms
                FROM documents
            ), fan AS (
                SELECT doc_id, codec, sample_rate, duration_ms,
                       unnest(range(0, greatest(
                           ceil(duration_ms / 10000.0), 1)::BIGINT)) AS i
                FROM meta
            ), segs AS (
                SELECT doc_id, codec, sample_rate,
                       i * 10000 AS seg_start_ms,
                       least((i + 1) * 10000, duration_ms) AS seg_end_ms
                FROM fan
            )
            SELECT codec, sample_rate,
                   count(DISTINCT doc_id)::BIGINT AS n_clips,
                   count(*)::BIGINT AS n_segments,
                   sum(seg_end_ms - seg_start_ms)::BIGINT AS total_ms
            FROM segs GROUP BY codec, sample_rate
            ORDER BY codec, sample_rate
        """,
        "multimodal_frames": """
            WITH f AS (
                SELECT doc_id,
                       octet_length(encode(text)) AS L,
                       greatest(octet_length(encode(text)) // 4, 1) AS step
                FROM documents
            ), x AS (
                SELECT doc_id, i AS frame_idx, L, step
                FROM f, generate_series(0, 3) t(i)
            )
            SELECT frame_idx::BIGINT AS frame_idx,
                   count(*)::BIGINT AS n_frames,
                   sum(CASE WHEN least((frame_idx + 1) * step, L)
                                 - frame_idx * step > 0
                            THEN least((frame_idx + 1) * step, L)
                                 - frame_idx * step
                            ELSE least(1, L) END)::BIGINT AS total_bytes
            FROM x GROUP BY frame_idx ORDER BY frame_idx
        """,
        "clustered_scan": """
            SELECT l_returnflag, count(*)::BIGINT AS n,
                   round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate < DATE '1996-04-01'
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "variant_json": """
            SELECT event_type, count(*)::BIGINT AS n,
                   sum((props->>'$.k')::BIGINT)::BIGINT AS sum_k,
                   max((props->>'$.k')::BIGINT)::BIGINT AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "unpivot": """
            WITH m AS (
                SELECT l_returnflag, 'l_quantity' AS measure,
                       l_quantity AS value FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_extendedprice', l_extendedprice
                FROM lineitem
                UNION ALL
                SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
            )
            SELECT l_returnflag, measure, count(*)::BIGINT AS n,
                   round(sum(value), 2) AS total
            FROM m GROUP BY l_returnflag, measure
            ORDER BY l_returnflag, measure
        """,
        "log_retention": """
            WITH base AS (
                SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
                FROM orders WHERE o_orderkey < 2500
            ), all_states AS (
                SELECT 3 AS commit_id,
                       CASE WHEN k % 3 = 0 THEN 'X' ELSE st END AS o_orderstatus,
                       tp
                FROM base WHERE k % 7 != 0
                UNION ALL
                SELECT 4,
                       CASE WHEN k % 5 = 0 THEN 'Y'
                            WHEN k % 3 = 0 THEN 'X' ELSE st END,
                       tp
                FROM base WHERE k % 7 != 0 OR k % 5 = 0
            )
            SELECT commit_id, o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(tp), 2) AS total
            FROM all_states GROUP BY commit_id, o_orderstatus
            ORDER BY commit_id, o_orderstatus
        """,
        "stream_upsert": """
            WITH ranked AS (
                SELECT event_id, user_id, event_type, value,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY (event_id % 2) DESC, event_id DESC
                       ) AS rn
                FROM events
            )
            SELECT event_id, user_id, event_type, value
            FROM ranked WHERE rn = 1 ORDER BY user_id
        """,
        "stream_cdc": """
            WITH final AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 3 = 0 THEN 'U'
                            ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM orders
                WHERE o_orderkey < 2000 AND o_orderkey % 7 != 0
            )
            SELECT o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "merge_partitioned": """
            WITH merged AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 5 = 2 AND event_id % 7 != 0
                                 AND event_id % 2 = 0
                            THEN round(value + 100.0, 2)
                            ELSE value END AS value
                FROM events
                WHERE event_id % 5 < 3
                  AND NOT (event_id % 5 = 2 AND event_id % 7 = 0)
                UNION ALL
                SELECT event_id, event_type,
                       round(value + 100.0, 2) AS value
                FROM events WHERE event_id % 5 = 3
            )
            SELECT event_type, count(*)::BIGINT AS n,
                   round(sum(value), 2) AS total
            FROM merged GROUP BY event_type ORDER BY event_type
        """,
        "merge_clauses": """
            WITH base AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey < 4000
            ), merged AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey >= 3000 AND o_orderkey % 9 != 0
                                 AND o_orderkey % 2 = 0
                            THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
                       o_totalprice
                FROM base
                WHERE NOT (o_orderkey >= 3000 AND o_orderkey % 9 = 0)
                UNION ALL
                SELECT o_orderkey, 'M' AS o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey >= 4000 AND o_orderkey < 5000
            )
            SELECT o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        "zorder_scan": """
            SELECT l_returnflag, count(*)::BIGINT AS n,
                   round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            WHERE l_orderkey <= 30000 AND l_partkey <= 5000
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "stream_stream_join": """
            WITH c AS (
                SELECT user_id, ts FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            )
            SELECT c.user_id % 10 AS bucket,
                   count(*)::BIGINT AS n_pairs,
                   count(DISTINCT c.user_id)::BIGINT AS n_users,
                   round(sum(p.value), 2) AS total_value
            FROM c JOIN p ON c.user_id = p.user_id
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL 30 MINUTE
            GROUP BY 1 ORDER BY bucket
        """,
        "time_travel_read": """
            WITH base AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM orders WHERE o_orderkey < 3000
            ), all_states AS (
                SELECT 1 AS commit_id, o_orderstatus, o_totalprice FROM base
                UNION ALL
                SELECT 2, CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                               ELSE o_orderstatus END, o_totalprice FROM base
                UNION ALL
                SELECT 3, CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                               ELSE o_orderstatus END, o_totalprice
                FROM base WHERE o_orderkey % 7 != 0
            )
            SELECT commit_id, o_orderstatus, count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM all_states GROUP BY commit_id, o_orderstatus
            ORDER BY commit_id, o_orderstatus
        """,
        "keyed_delete": """
            SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            WHERE o_orderkey < 4000 AND o_orderkey % 7 != 0
            GROUP BY 1 ORDER BY o_orderstatus
        """,
        "maintenance_cycle": """
            SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'Y'
                        WHEN o_orderkey % 3 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   count(*)::BIGINT AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders WHERE o_orderkey < 4000
            GROUP BY 1 ORDER BY o_orderstatus
        """,
        "vector_knn": f"""
            SELECT e.vec_id, e.label,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id ASC
            LIMIT 10
        """,
        "vector_knn_sql": f"""
            SELECT e.vec_id, e.label,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS score
            FROM embeddings e
            ORDER BY score DESC, e.vec_id ASC
            LIMIT 10
        """,
        "vector_knn_dot": f"""
            WITH d AS (
                SELECT e.vec_id, e.label,
                       round(-list_dot_product(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
            )
            SELECT vec_id, label, round(-dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """,
        "hyperplane_lsh_neardup": _lsh_oracle_sql(),
        "salted_join": """
            SELECT c_mktsegment,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "bucketed_join": """
            SELECT c_mktsegment,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """,
        "vector_knn_tvf": f"""
            WITH d AS (
                SELECT e.vec_id, e.label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """,
        "vector_knn_join": f"""
            WITH hits AS (
                SELECT e.vec_id,
                       round(list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS score
                FROM embeddings e
                ORDER BY score DESC, e.vec_id ASC
                LIMIT 10
            )
            SELECT h.vec_id, h.score, d.lang, d.source, d.n_chars
            FROM hits h JOIN documents d ON h.vec_id = d.doc_id
        """,
        "hybrid_prefilter": f"""
            WITH d AS (
                SELECT e.vec_id, e.label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
                WHERE e.label = 3
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 5
        """,
        "hybrid_postfilter": f"""
            WITH wide AS (
                SELECT e.vec_id, e.label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
                ORDER BY dist ASC, e.vec_id ASC
                LIMIT 100
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM wide WHERE label = 3
            ORDER BY dist ASC, vec_id ASC
            LIMIT 5
        """,
        "knn_join": """
            SELECT left_id, right_id, dist FROM (
                SELECT q.vec_id AS left_id, e.vec_id AS right_id,
                       round(1 - list_cosine_similarity(
                           q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS dist,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(1 - list_cosine_similarity(
                               q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) ASC,
                                    e.vec_id ASC) AS rn
                FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
                CROSS JOIN embeddings e
            ) WHERE rn <= 3
            ORDER BY left_id, right_id
        """,
        "knn_join_ivf": """
            SELECT left_id, right_id, dist FROM (
                SELECT q.vec_id AS left_id, e.vec_id AS right_id,
                       round(1 - list_cosine_similarity(
                           q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS dist,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(1 - list_cosine_similarity(
                               q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) ASC,
                                    e.vec_id ASC) AS rn
                FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
                CROSS JOIN embeddings e
            ) WHERE rn <= 3
            ORDER BY left_id, right_id
        """,
        "ann_after_upsert": f"""
            WITH d AS (
                SELECT e.vec_id,
                       CASE WHEN e.vec_id % 10 = 0 THEN 99
                            ELSE e.label END AS label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """,
        "ann_ivf_knn": f"""
            WITH d AS (
                SELECT e.vec_id, e.label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """,
        # int8 probe at nprobe=all with refine margin + exact re-rank ==
        # exact KNN, so the exact-KNN SQL is its end-to-end oracle
        "ann_ivf_int8": f"""
            WITH d AS (
                SELECT e.vec_id, e.label,
                       round(1 - list_cosine_similarity(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS dist
                FROM embeddings e
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """,
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 2) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "group_topk": """
            SELECT lang, source, count(*) AS doc_count,
                   round(avg(n_chars), 2) AS avg_chars
            FROM documents
            WHERE doc_id IS NOT NULL AND lang IS NOT NULL
            GROUP BY lang, source
            ORDER BY doc_count DESC, lang ASC, source ASC
            LIMIT 15
        """,
        "filter_like_project": """
            SELECT o_orderkey, o_orderpriority,
                   round(o_totalprice * 0.9, 2) AS discounted
            FROM orders
            WHERE o_orderstatus = 'F' AND o_orderpriority LIKE '1-%'
                  AND o_totalprice IS NOT NULL
            ORDER BY o_orderkey ASC
            LIMIT 20
        """,
        "join_agg": """
            SELECT c_mktsegment,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS order_count
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment ASC
        """,
        "join_multiway": """
            SELECT r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
            ORDER BY r_name ASC
        """,
        "semi_anti_join": """
            WITH open_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
            SELECT c_custkey,
                   CASE WHEN c_custkey IN (SELECT o_custkey FROM open_cust) THEN 1 ELSE 0 END AS has_open
            FROM customer
            ORDER BY c_custkey
            LIMIT 50
        """,
        "window_topk_per_group": """
            SELECT lang, rn, doc_id, n_chars FROM (
                SELECT lang, doc_id, n_chars,
                       row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
                FROM documents
            ) WHERE rn <= 3
            ORDER BY lang, rn
        """,
        "window_ranks": """
            SELECT o_custkey, o_orderkey,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   lead(o_orderkey, 1) OVER w AS next_key
            FROM orders
            WHERE o_custkey < 20
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
            ORDER BY o_custkey, rnk, o_orderkey
        """,
        "intersect_except": """
            SELECT nk, 'both' AS tag FROM (
                SELECT c_nationkey AS nk FROM customer
                INTERSECT
                SELECT s_nationkey AS nk FROM supplier
            )
            UNION ALL
            SELECT nk, 'cust_only' AS tag FROM (
                SELECT c_nationkey AS nk FROM customer
                EXCEPT
                SELECT s_nationkey AS nk FROM supplier
            )
            ORDER BY tag, nk
        """,
        "upsert_merge": """
            WITH unioned AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority, 0 AS commit_ts
                FROM orders
                UNION ALL
                SELECT o_orderkey, o_custkey, 'X', 0.0,
                       o_orderdate, o_orderpriority, 1 AS commit_ts
                FROM orders WHERE o_orderkey < 1000
            ), merged AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                                 ORDER BY commit_ts DESC) AS rn
                    FROM unioned
                ) WHERE rn = 1
            )
            SELECT o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM merged
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "set_ops": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT s_nationkey AS nationkey FROM supplier
            ) ORDER BY nationkey
        """,
        "pivot": """
            SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS day_bucket,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events
            GROUP BY day_bucket
            ORDER BY day_bucket
        """,
        "exists_subquery": """
            SELECT c.c_custkey,
                   CASE WHEN EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_custkey = c.c_custkey
                                       AND o.o_totalprice > 300000)
                        THEN 1 ELSE 0 END AS has_big_order
            FROM customer c
            ORDER BY c.c_custkey
            LIMIT 100
        """,
        "having": """
            SELECT l_suppkey, count(*) AS n_lines,
                   round(sum(l_quantity), 2) AS qty
            FROM lineitem
            GROUP BY l_suppkey
            HAVING count(*) >= 40
            ORDER BY l_suppkey
        """,
        "distinct_agg": """
            SELECT o_orderstatus,
                   count(DISTINCT o_custkey) AS distinct_customers,
                   count(*) AS order_count
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "asof_join": """
            SELECT l.event_id, l.user_id, round(r.value, 2) AS value_r
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'signup') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND r.ts <= l.ts
            ORDER BY l.event_id
        """,
        "range_join": """
            SELECT s.signup_id, p.event_id AS purchase_id,
                   round(p.value, 2) AS value
            FROM (SELECT event_id AS signup_id, user_id, ts AS w_start,
                         ts + INTERVAL 1 HOUR AS w_end
                  FROM events WHERE event_type = 'signup') s
            JOIN (SELECT event_id, user_id, ts, value FROM events
                  WHERE event_type = 'purchase') p
              ON s.user_id = p.user_id
             AND p.ts >= s.w_start AND p.ts < s.w_end
            ORDER BY s.signup_id, purchase_id
        """,
        "date_functions": """
            SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY yr, qtr
            ORDER BY yr, qtr
        """,
        "rollup_agg": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
                   count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY gid, rf, ls
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 2) AS price,
                   round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_total
            FROM orders
            WHERE o_custkey < 30
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
            ORDER BY o_custkey, o_orderkey
        """,
        "promo_revenue": """
            SELECT p_brand,
                   round(sum(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END), 2) AS promo_rev,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
            ORDER BY p_brand
        """,
        "from_json_stats": """
            SELECT event_type,
                   count(DISTINCT (props::JSON ->> 'k')::BIGINT) AS distinct_k,
                   min((props::JSON ->> 'k')::BIGINT) AS min_k,
                   max((props::JSON ->> 'k')::BIGINT) AS max_k
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "outer_join_agg": """
            SELECT c_custkey, c_mktsegment,
                   count(o_orderkey) AS n_orders,
                   round(coalesce(sum(o_totalprice), 0.0), 2) AS revenue
            FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_mktsegment
            ORDER BY c_custkey
            LIMIT 50
        """,
        "array_functions": """
            SELECT vec_id,
                   len(embedding) AS dim,
                   round(embedding[1]::DOUBLE, 4) AS first_val,
                   round(embedding[1]::DOUBLE + embedding[2]::DOUBLE
                         + embedding[3]::DOUBLE + embedding[4]::DOUBLE, 4) AS prefix_sum
            FROM embeddings
            ORDER BY vec_id
            LIMIT 100
        """,
        "string_functions": """
            SELECT doc_id,
                   upper(lang) || ':' || source AS tag,
                   substr(text, 1, 20) AS head20,
                   length(replace(text, ' ', '')) AS n_nonspace,
                   coalesce(position('the' IN text), 0) AS first_the,
                   lpad(doc_id::VARCHAR, 8, '0') AS padded
            FROM documents
            ORDER BY doc_id
            LIMIT 100
        """,
        "sliding_windows": """
            WITH shifted AS (
                SELECT (floor((epoch(ts) - k * 21600) / 86400) * 86400
                        + k * 21600)::BIGINT AS win_start,
                       event_type
                FROM events, (SELECT unnest([0, 1, 2, 3]) AS k)
            )
            SELECT win_start, event_type, count(*) AS n_events
            FROM shifted
            GROUP BY win_start, event_type
            ORDER BY win_start, event_type
        """,
        "session_windows": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTES
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), grouped AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM marked
            )
            SELECT floor(epoch(min(ts)))::BIGINT AS sess_start,
                   floor(epoch(max(ts) + INTERVAL 30 MINUTES))::BIGINT AS sess_end,
                   user_id, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM grouped
            GROUP BY user_id, sess_id
            ORDER BY user_id, sess_start
        """,
        "salted_agg": """
            SELECT event_type, count(value) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 2) AS avg_value
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "events_json_window": """
            SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS day_bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   round(avg((props::JSON ->> 'k')::BIGINT), 2) AS avg_k
            FROM events
            GROUP BY day_bucket, event_type
            ORDER BY day_bucket, event_type
        """,
        "stream_tumbling": """
            WITH wm AS (
                SELECT epoch_ms(max(ts)) - 86400000 AS w FROM events
            )
            SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS win_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events, wm
            GROUP BY win_start, event_type, wm.w
            HAVING (win_start + 86400) * 1000 <= wm.w
            ORDER BY win_start, event_type
        """,
        "text_stats": r"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                   round(len(list_filter(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                                         w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                         / len(regexp_split_to_array(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ')), 4) AS stop_ratio,
                   round(0.4 * least(length(text) / 200.0, 1.0)
                       + 0.3 * (CASE WHEN length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+'))
                                          BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
                       + 0.3 * (1.0 - least(5.0 * length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE
                                                / length(text), 1.0)), 2) AS quality
            FROM documents
            ORDER BY doc_id
            LIMIT 100
        """,
        "dedup_exact": r"""
            SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS dup_count
            FROM (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                  FROM documents)
            GROUP BY fp
            ORDER BY keep_doc_id
        """,
        "paragraph_dedup": f"""
            WITH toks AS (
                SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents
            ), ll AS (
                SELECT doc_id, lang,
                       list_transform(
                           generate_series(0, CAST(ceil(len(tk) / 10.0)
                                                   AS INT) - 1),
                           i -> array_to_string(tk[(i*10+1):(i*10+10)], ' '))
                           AS ln
                FROM toks
            ), units AS (
                SELECT doc_id, lang,
                       generate_subscripts(ln, 1) - 1 AS pos,
                       unnest(ln) AS u
                FROM ll
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY u
                                             ORDER BY doc_id, pos) AS rn
                FROM units
            ), kept AS (
                SELECT * FROM ranked WHERE length(u) < 1 OR rn = 1
            ), reb AS (
                SELECT doc_id,
                       string_agg(u, chr(10) ORDER BY pos) AS clean,
                       count(*)::BIGINT AS n_kept
                FROM kept GROUP BY doc_id
            ), perdoc AS (
                SELECT t.doc_id, t.lang, len(t.ln)::BIGINT AS n_units,
                       coalesce(r.n_kept, 0) AS n_kept,
                       coalesce(r.clean, '') AS clean
                FROM ll t LEFT JOIN reb r ON t.doc_id = r.doc_id
            )
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(n_units)::BIGINT AS units,
                   sum(n_kept)::BIGINT AS kept,
                   sum(('0x' || substr(md5(clean), 1, 10))::BIGINT)::BIGINT
                       AS text_h
            FROM perdoc GROUP BY lang ORDER BY lang
        """,
        "span_dedup": f"""
            WITH toks AS (
                SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents
            ), occ AS (
                SELECT doc_id, i - 1 AS st,
                       array_to_string(tk[i:(i+7)], ' ') AS g
                FROM (SELECT doc_id, generate_subscripts(tk, 1) AS i, tk
                      FROM toks)
                WHERE i <= len(tk) - 7
            ), dup AS (
                SELECT doc_id, st, st + 8 AS e FROM (
                    SELECT *, row_number() OVER (PARTITION BY g
                                                 ORDER BY doc_id, st) AS rn
                    FROM occ)
                WHERE rn > 1
            ), d1 AS (
                SELECT doc_id, st, e,
                       CASE WHEN st > coalesce(max(e) OVER (
                                PARTITION BY doc_id ORDER BY st
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), -1)
                            THEN 1 ELSE 0 END AS ni
                FROM dup
            ), d2 AS (
                SELECT doc_id, st, e,
                       sum(ni) OVER (PARTITION BY doc_id ORDER BY st
                                     ROWS UNBOUNDED PRECEDING) AS isl
                FROM d1
            ), merged AS (
                SELECT doc_id, isl, min(st) AS s, max(e) AS e
                FROM d2 GROUP BY doc_id, isl
            ), tok AS (
                SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos,
                       unnest(tk) AS t
                FROM toks
            ), keptt AS (
                SELECT tok.doc_id, pos, t
                FROM tok LEFT JOIN merged
                  ON tok.doc_id = merged.doc_id
                 AND pos >= merged.s AND pos < merged.e
                WHERE merged.doc_id IS NULL
            ), reb AS (
                SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS clean
                FROM keptt GROUP BY doc_id
            ), spanstats AS (
                SELECT doc_id, count(*)::BIGINT AS n_spans,
                       sum(e - s)::BIGINT AS n_removed
                FROM merged GROUP BY doc_id
            ), perdoc AS (
                SELECT t.doc_id, t.lang, len(t.tk)::BIGINT AS n_tokens,
                       coalesce(ss.n_removed, 0) AS n_removed,
                       coalesce(ss.n_spans, 0) AS n_spans,
                       coalesce(r.clean, '') AS clean
                FROM toks t
                LEFT JOIN reb r ON t.doc_id = r.doc_id
                LEFT JOIN spanstats ss ON t.doc_id = ss.doc_id
            )
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS toks,
                   sum(n_removed)::BIGINT AS removed,
                   sum(n_spans)::BIGINT AS spans,
                   sum(('0x' || substr(md5(clean), 1, 10))::BIGINT)::BIGINT
                       AS text_h
            FROM perdoc GROUP BY lang ORDER BY lang
        """,
        "lm_perplexity": f"""
            WITH toks AS (
                SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents
            ), uni AS (
                SELECT w, count(*) AS c1 FROM (
                    SELECT unnest(tk) AS w FROM toks) GROUP BY w
            ), nn AS (
                SELECT sum(len(tk))::DOUBLE AS n FROM toks
            ), big AS (
                SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg
                FROM (SELECT doc_id, generate_subscripts(tk, 1) AS i, tk
                      FROM toks)
                WHERE i < len(tk)
            ), bc AS (
                SELECT bg, count(*) AS c12 FROM big GROUP BY bg
            ), cost AS (
                SELECT bg,
                       floor(-ln(0.8::DOUBLE * c12::DOUBLE / u1.c1
                                 + {1.0 - 0.8!r}::DOUBLE * u2.c1::DOUBLE
                                   / nn.n)
                             * 1000000 + 0.5)::BIGINT AS q
                FROM bc
                JOIN uni u1 ON split_part(bg, ' ', 1) = u1.w
                JOIN uni u2 ON split_part(bg, ' ', 2) = u2.w, nn
            ), perdoc AS (
                SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                       sum(q)::BIGINT AS nll_micro
                FROM big JOIN cost USING (bg) GROUP BY doc_id
            )
            SELECT d.lang, count(*)::BIGINT AS n_docs,
                   sum(p.n_bigrams)::BIGINT AS bigrams,
                   sum(p.nll_micro)::BIGINT AS nll_micro,
                   sum(CASE WHEN p.nll_micro > 3500000 * p.n_bigrams
                            THEN 1 ELSE 0 END)::BIGINT AS hi_nll
            FROM perdoc p JOIN documents d USING (doc_id)
            GROUP BY d.lang ORDER BY d.lang
        """,
        "dsir_select": f"""
            WITH toks AS (
                SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents
            ), big AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8))
                           ::BIGINT % 10000 AS b
                FROM (SELECT doc_id, lang, generate_subscripts(tk, 1) AS i,
                             tk
                      FROM toks)
                WHERE i < len(tk)
            ), tgt AS (
                SELECT b, count(*) AS ct FROM big
                WHERE lang = 'en' GROUP BY b
            ), rawc AS (
                SELECT b, count(*) AS cr FROM big GROUP BY b
            ), nt AS (SELECT sum(ct)::DOUBLE AS n FROM tgt
            ), nr AS (SELECT sum(cr)::DOUBLE AS n FROM rawc
            ), cost AS (
                SELECT rawc.b,
                       floor(ln(((coalesce(tgt.ct, 0) + 1) / (nt.n + 10000))
                                / ((rawc.cr + 1) / (nr.n + 10000)))
                             * 1000000 + 0.5)::BIGINT AS q
                FROM rawc LEFT JOIN tgt ON rawc.b = tgt.b, nt, nr
            )
            SELECT doc_id, count(*)::BIGINT AS n_grams,
                   sum(q)::BIGINT AS w_micro
            FROM big JOIN cost USING (b)
            GROUP BY doc_id
            ORDER BY w_micro DESC, doc_id ASC
            LIMIT 15
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            ), pairs AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                      (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))) >= 0.5
            ), edges AS (
                SELECT id_1 AS u, id_2 AS v FROM pairs
                UNION
                SELECT id_2, id_1 FROM pairs
            ), reach AS (
                SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
            ), comp AS (
                SELECT n AS node, min(m) AS component FROM reach GROUP BY n
            ), scored AS (
                SELECT c.component, c.node,
                       round(0.4 * least(length(d.text) / 200.0, 1.0)
                           + 0.3 * (CASE WHEN length(d.text)::DOUBLE
                                        / len(regexp_split_to_array(
                                              trim(d.text), '\\s+'))
                                        BETWEEN 3 AND 12
                                        THEN 1.0 ELSE 0.5 END)
                           + 0.3 * (1.0 - least(5.0 * length(
                                 regexp_replace(d.text,
                                     '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))
                                 ::DOUBLE / length(d.text), 1.0)), 2) AS q
                FROM comp c JOIN documents d ON c.node = d.doc_id
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY component
                                             ORDER BY q DESC, node ASC)
                           AS rn
                FROM scored
            )
            SELECT component AS cluster_id,
                   count(*)::BIGINT AS cluster_size,
                   max(CASE WHEN rn = 1 THEN node END) AS keep_id,
                   max(CASE WHEN rn = 1 THEN q END) AS keep_q
            FROM ranked GROUP BY component ORDER BY cluster_id
        """,
        "shard_shuffle": """
            WITH keyed AS (
                SELECT doc_id,
                       ('0x' || substr(md5('shuf42|' || doc_id::VARCHAR),
                                       1, 15))::BIGINT AS k
                FROM documents
            ), sh AS (
                SELECT doc_id, k, (k % 8)::INT AS shard,
                       row_number() OVER (PARTITION BY (k % 8)
                                          ORDER BY k, doc_id) AS rn
                FROM keyed
            )
            SELECT shard, count(*)::BIGINT AS n,
                   sum(rn * doc_id)::BIGINT AS ord_sum,
                   arg_min(doc_id, rn) AS first_doc,
                   arg_max(doc_id, rn) AS last_doc
            FROM sh GROUP BY shard ORDER BY shard
        """,
        "clean_pipeline": r"""
            WITH toksrc AS (
                SELECT doc_id, lang, text,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM documents
            ), hits AS (
                SELECT doc_id, lang, text, tk,
                       len(list_filter(tk, w -> w IN ('the','and','of'))) AS h_en,
                       len(list_filter(tk, w -> w IN ('el','los','las'))) AS h_es,
                       len(list_filter(tk, w -> w IN ('le','les','et'))) AS h_fr,
                       len(list_filter(tk, w -> w IN ('der','und','die'))) AS h_de
                FROM toksrc
            ), gated AS (
                SELECT doc_id, lang, tk FROM (
                    SELECT doc_id, lang, tk,
                       len(regexp_split_to_array(trim(text), '\s+')) AS nt,
                       round(0.4 * least(length(text) / 200.0, 1.0)
                           + 0.3 * (CASE WHEN length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+'))
                                              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
                           + 0.3 * (1.0 - least(5.0 * length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE
                                                    / length(text), 1.0)), 2) AS q,
                       CASE
                         WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                         WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
                         WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                         ELSE 'known'
                       END AS pl
                    FROM hits)
                WHERE q >= 0.5 AND pl != 'und' AND nt >= 20
            ), ll AS (
                SELECT doc_id, lang,
                       list_transform(
                           generate_series(0, CAST(ceil(len(tk) / 10.0)
                                                   AS INT) - 1),
                           i -> array_to_string(tk[(i*10+1):(i*10+10)], ' '))
                           AS ln
                FROM gated
            ), units AS (
                SELECT doc_id, lang,
                       generate_subscripts(ln, 1) - 1 AS pos,
                       unnest(ln) AS u
                FROM ll
            ), ranked AS (
                SELECT *, row_number() OVER (PARTITION BY u
                                             ORDER BY doc_id, pos) AS rn
                FROM units
            ), kept AS (
                SELECT * FROM ranked WHERE length(u) < 1 OR rn = 1
            ), reb AS (
                SELECT doc_id,
                       string_agg(u, chr(10) ORDER BY pos) AS clean,
                       count(*)::BIGINT AS n_kept
                FROM kept GROUP BY doc_id
            ), perdoc AS (
                SELECT t.doc_id, t.lang, len(t.ln)::BIGINT AS n_units,
                       coalesce(r.n_kept, 0) AS n_kept,
                       coalesce(r.clean, '') AS clean
                FROM ll t LEFT JOIN reb r ON t.doc_id = r.doc_id
            )
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(n_units)::BIGINT AS units,
                   sum(n_kept)::BIGINT AS kept,
                   sum(len(list_filter(
                       regexp_split_to_array(clean, '[' || chr(10) || ' ]'),
                       x -> length(x) > 0)))::BIGINT AS kept_tokens,
                   sum(('0x' || substr(md5(clean), 1, 10))::BIGINT)::BIGINT
                       AS text_h
            FROM perdoc GROUP BY lang ORDER BY lang
        """,
        "hard_negatives": """
            SELECT qid, neg_id, dist FROM (
                SELECT q.vec_id AS qid, e.vec_id AS neg_id,
                       round(1 - list_cosine_similarity(
                           q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6)
                           AS dist,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(1 - list_cosine_similarity(
                               q.embedding::DOUBLE[], e.embedding::DOUBLE[]),
                               6) ASC,
                                    e.vec_id ASC) AS rn
                FROM (SELECT vec_id, embedding, label FROM embeddings
                      WHERE vec_id < 5) q
                CROSS JOIN embeddings e
                WHERE e.label != q.label
            ) WHERE rn <= 3
            ORDER BY qid, neg_id
        """,
        "minhash_neardup": _minhash_oracle(),
        "simhash_neardup": _simhash_oracle(),
        "token_budget_select": r"""
            WITH toks AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\s+')) AS nt,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM documents
            ), feats AS (
                SELECT doc_id, nt,
                       (len(list_distinct(tk))::BIGINT * 100) // len(tk) AS qb
                FROM toks
            ), o AS (
                SELECT qb, nt,
                       sum(nt) OVER (ORDER BY qb DESC, doc_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
                FROM feats
            )
            SELECT qb, count(*)::BIGINT AS n_docs,
                   sum(nt)::BIGINT AS sum_tokens
            FROM o WHERE cum <= 12000
            GROUP BY qb ORDER BY qb DESC
        """,
        "repetition_stats": f"""
            WITH t AS (
                SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
            ), m AS (
                SELECT doc_id,
                       CASE WHEN len(tk) <= 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(tk))::DOUBLE
                                       / len(tk) END AS dt,
                       CASE WHEN len(tk) - 1 <= 0 THEN 0.0
                            ELSE 1.0 - len(list_distinct(
                                     [tk[i] || ' ' || tk[i+1]
                                      for i in range(1, len(tk))]))::DOUBLE
                                       / (len(tk) - 1) END AS db
                FROM t
            )
            SELECT least(floor(dt * 10), 9)::BIGINT AS tok_bucket,
                   count(*)::BIGINT AS n_docs,
                   round(avg(db), 3) AS avg_bigram_dup
            FROM m GROUP BY 1 ORDER BY tok_bucket
        """,
        "decontaminate": f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            ), bench AS (
                SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0
            ), ex AS (
                SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh
            ), hits AS (
                SELECT ex.doc_id, any_value(ex.n) AS n, count(*) AS k
                FROM ex JOIN bench USING (s) GROUP BY ex.doc_id
            )
            SELECT doc_id, round(k::DOUBLE / n, 6) AS overlap
            FROM hits
            WHERE round(k::DOUBLE / n, 6) >= 0.8
            ORDER BY doc_id
        """,
        "jaccard_join": f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
            ORDER BY id_1, id_2
        """,
"jaccard_prefix": f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM documents
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
            ORDER BY id_1, id_2
        """,
        "cosine_topk_pairs": """
            SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 2) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            ORDER BY cos_sim DESC, id_1 ASC, id_2 ASC
            LIMIT 20
        """,
        "chunk_summary": f"""
            WITH toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
            ), t AS (
                SELECT doc_id,
                       generate_subscripts(tk, 1) - 1 AS pos,
                       unnest(tk) AS tok
                FROM toks
            ), flagged AS (
                SELECT doc_id, pos, tok,
                       coalesce(sum(CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 = 0
                                         THEN 1 ELSE 0 END)
                                OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                0)::BIGINT AS chunk_idx
                FROM t
            )
            SELECT doc_id, chunk_idx, count(*) AS n_tokens,
                   min(pos) AS start_pos,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
            FROM flagged
            GROUP BY doc_id, chunk_idx
            ORDER BY doc_id, chunk_idx
        """,
        "embed_hash": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
                FROM documents WHERE doc_id < 50
            ), comps AS (
                SELECT doc_id,
                   sum(('0x' || substr(md5(t || ':0'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c0,
                   sum(('0x' || substr(md5(t || ':1'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c1,
                   sum(('0x' || substr(md5(t || ':2'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c2,
                   sum(('0x' || substr(md5(t || ':3'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c3,
                   sum(('0x' || substr(md5(t || ':4'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c4,
                   sum(('0x' || substr(md5(t || ':5'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c5,
                   sum(('0x' || substr(md5(t || ':6'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c6,
                   sum(('0x' || substr(md5(t || ':7'), 1, 8))::BIGINT / 4294967296.0 - 0.5) AS c7
                FROM toks GROUP BY doc_id
            )
            SELECT doc_id, 8 AS dim, round(c0 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 4) AS e0, round(c1 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 4) AS e1, round(c2 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 4) AS e2, round(c3 / sqrt(c0*c0 + c1*c1 + c2*c2 + c3*c3 + c4*c4 + c5*c5 + c6*c6 + c7*c7), 4) AS e3
            FROM comps
            ORDER BY doc_id
        """,
        "multimodal_meta": """
            WITH meta AS (
                SELECT doc_id,
                       CASE (('0x' || substr(md5(text), 1, 1))::BIGINT % 4)
                         WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                         WHEN 2 THEN 'webp' ELSE 'gif' END AS format,
                       16 + ('0x' || substr(md5(text), 2, 4))::BIGINT % 2048 AS width,
                       16 + ('0x' || substr(md5(text), 6, 4))::BIGINT % 2048 AS height,
                       octet_length(encode(text)) AS n_bytes
                FROM documents
            )
            SELECT format, count(*) AS n_images,
                   round(avg(width), 2) AS avg_width,
                   round(avg(height), 2) AS avg_height,
                   sum(n_bytes)::BIGINT AS total_bytes
            FROM meta
            GROUP BY format
            ORDER BY format
        """,
        "cosine_neardup": """
            SELECT a.vec_id AS id_1, b.vec_id AS id_2,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45
            ORDER BY id_1, id_2
        """,
        "percentiles": """
            SELECT o_orderstatus,
                   round(median(o_totalprice), 2) AS median_price,
                   round(quantile_cont(o_totalprice, 0.95), 2) AS p95_price,
                   count(*) AS n
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "lang_id": r"""
            WITH toks AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM documents
            ), scored AS (
                SELECT doc_id, text,
                       len(list_filter(tk, w -> w IN ('the','and','of'))) AS h_en,
                       len(list_filter(tk, w -> w IN ('el','los','las'))) AS h_es,
                       len(list_filter(tk, w -> w IN ('le','les','et'))) AS h_fr,
                       len(list_filter(tk, w -> w IN ('der','und','die'))) AS h_de
                FROM toks
            )
            SELECT pred_lang, count(*) AS n_docs FROM (
                SELECT CASE
                         WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                         WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
                         WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                         WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
                         WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
                         WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
                         ELSE 'de'
                       END AS pred_lang
                FROM scored
            ) GROUP BY pred_lang ORDER BY pred_lang
        """,
        "cube_agg": """
            SELECT coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY gid, status, priority
        """,
        "ntile_buckets": """
            SELECT c_custkey, c_mktsegment,
                   round(c_acctbal, 2) AS acctbal,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 4) AS pct_rank,
                   round(cume_dist() OVER w, 4) AS cume
            FROM customer
            WHERE c_custkey <= 300
            WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
            ORDER BY c_mktsegment, c_custkey
        """,
        "explode_tokens": r"""
            SELECT token, count(*) AS n FROM (
                SELECT unnest(regexp_split_to_array(
                           trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
                FROM documents
            )
            WHERE length(token) > 0
            GROUP BY token
            ORDER BY n DESC, token ASC
            LIMIT 20
        """,
        "scalar_subquery": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_lines
            FROM lineitem, part
            WHERE p_partkey = l_partkey
              AND p_brand = 'Brand#4'
              AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = part.p_partkey)
        """,
        "full_outer_join": """
            WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_customers
                        FROM customer GROUP BY c_nationkey),
                 sn AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
                        FROM supplier GROUP BY s_nationkey)
            SELECT coalesce(cn.nk, sn.nk) AS nationkey,
                   coalesce(n_customers, 0) AS n_customers,
                   coalesce(n_suppliers, 0) AS n_suppliers
            FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
            ORDER BY nationkey
        """,
        "case_buckets": """
            SELECT balance_bucket,
                   count(*) AS n_customers,
                   round(avg(c_acctbal), 2) AS avg_balance,
                   count(DISTINCT c_mktsegment) AS n_segments
            FROM (
                SELECT c_acctbal, c_mktsegment,
                       CASE WHEN c_acctbal < 0 THEN 'negative'
                            WHEN c_acctbal < 3000 THEN 'low'
                            WHEN c_acctbal < 7000 THEN 'mid'
                            ELSE 'high' END AS balance_bucket
                FROM customer
            )
            GROUP BY balance_bucket
            ORDER BY balance_bucket
        """,
        "first_last_window": """
            SELECT o_custkey, o_orderkey,
                   round(first_value(o_totalprice) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS first_price,
                   round(last_value(o_totalprice) OVER w_full, 2) AS last_price,
                   round(nth_value(o_totalprice, 2) OVER w_full, 2) AS second_price
            FROM orders
            WHERE o_custkey < 30
            WINDOW w_full AS (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_custkey, o_orderkey
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > TIMESTAMP '1997-01-01'
            GROUP BY l_orderkey, orderdate
            ORDER BY revenue DESC, orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "grouping_sets": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
                   count(*) AS n,
                   round(avg(l_discount), 4) AS avg_disc
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
            ORDER BY gid, rf, ls
        """,
        "regexp_extract_agg": r"""
            SELECT regexp_extract(p_type, '^(\w+)', 1) AS type_head,
                   count(*) AS n_parts,
                   round(avg(p_retailprice), 2) AS avg_price
            FROM part
            GROUP BY type_head
            ORDER BY type_head
        """,
        "range_frame_window": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 2) AS price,
                   count(*) OVER w AS n_in_band,
                   round(sum(o_totalprice) OVER w, 2) AS band_sum
            FROM orders
            WHERE o_custkey < 30
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
                         RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
            ORDER BY o_custkey, o_orderkey
        """,
        "corpus_filter": r"""
            WITH toks AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM documents
            ), hits AS (
                SELECT doc_id, text,
                       len(list_filter(tk, w -> w IN ('the','and','of'))) AS h_en,
                       len(list_filter(tk, w -> w IN ('el','los','las'))) AS h_es,
                       len(list_filter(tk, w -> w IN ('le','les','et'))) AS h_fr,
                       len(list_filter(tk, w -> w IN ('der','und','die'))) AS h_de
                FROM toks
            ), feats AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
                       round(0.4 * least(length(text) / 200.0, 1.0)
                           + 0.3 * (CASE WHEN length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+'))
                                              BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
                           + 0.3 * (1.0 - least(5.0 * length(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g'))::DOUBLE
                                                    / length(text), 1.0)), 2) AS quality,
                       CASE
                         WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                         WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru'
                         WHEN greatest(h_en, h_es, h_fr, h_de) = 0 THEN 'und'
                         WHEN h_en = greatest(h_en, h_es, h_fr, h_de) THEN 'en'
                         WHEN h_es = greatest(h_en, h_es, h_fr, h_de) THEN 'es'
                         WHEN h_fr = greatest(h_en, h_es, h_fr, h_de) THEN 'fr'
                         ELSE 'de'
                       END AS pred_lang
                FROM hits
            )
            SELECT doc_id, n_tokens, quality, pred_lang
            FROM feats
            WHERE quality >= 0.5 AND pred_lang = 'en' AND n_tokens >= 20
            ORDER BY doc_id
            LIMIT 100
        """,
        "incremental_read": """
            WITH changed AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey < 200 THEN 3 ELSE 2 END AS commit_id,
                       CASE WHEN o_orderkey < 200 THEN 'Y' ELSE 'X' END AS o_orderstatus,
                       CASE WHEN o_orderkey < 200 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END AS o_totalprice
                FROM orders WHERE o_orderkey < 500
            )
            SELECT commit_id, o_orderstatus,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM changed
            GROUP BY commit_id, o_orderstatus
            ORDER BY commit_id, o_orderstatus
        """,
        "approx_distinct": """
            SELECT o_orderstatus,
                   count(DISTINCT o_custkey) AS exact_customers,
                   TRUE AS sketch_ok
            FROM orders
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """,
        "vector_knn_l2": f"""
            SELECT e.vec_id, e.label,
                   round(list_distance(e.embedding::DOUBLE[], {_ORACLE_Q}), 2) AS l2_dist
            FROM embeddings e
            ORDER BY l2_dist ASC, e.vec_id ASC
            LIMIT 10
        """,
        "stream_static_join": """
            WITH wm AS (
                SELECT epoch_ms(max(ts)) - 86400000 AS w FROM events
            )
            SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS win_start,
                   c_mktsegment,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events
            JOIN customer ON user_id = c_custkey
            CROSS JOIN wm
            GROUP BY win_start, c_mktsegment, wm.w
            HAVING (win_start + 86400) * 1000 <= wm.w
            ORDER BY win_start, c_mktsegment
        """,
        "token_counts": r"""
            SELECT count(*) AS n_docs,
                   sum(CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS total_ws,
                   sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')))::BIGINT AS total_bpe,
                   round(avg(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))), 2) AS avg_bpe
            FROM documents
        """,
    }
    # Queries sharing existing oracle bodies: the distributed
    # CC query replays the same transitive closure; IVF×PQ at
    # nprobe=all + shortlist=corpus equals exact KNN
    d["dedup_clusters_dist"] = d["dedup_clusters"]
    d["ivfpq_knn"] = d["ann_ivf_knn"]
    d["mmr_rerank"] = _mmr_oracle()
    d["incremental_agg_minmax"] = _INCR_MM_SQL
    # greedy next-fit packing replayed as a recursive CTE: one level per
    # in-block doc position, ALL blocks step in lockstep (|levels| =
    # max docs per block, rows per level = |blocks|)
    d["sequence_pack"] = r"""
            WITH RECURSIVE d AS (
                SELECT doc_id,
                       (CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                                            '\s+'))
                        END)::BIGINT AS ln,
                       (doc_id // 100)::BIGINT AS blk,
                       row_number() OVER (PARTITION BY doc_id // 100
                                          ORDER BY doc_id) AS pos
                FROM documents
            ), pack AS (
                SELECT blk, 0::BIGINT AS pos, -1::BIGINT AS bin,
                       0::BIGINT AS fill, NULL::BIGINT AS doc_id
                FROM (SELECT DISTINCT blk FROM d)
                UNION ALL
                SELECT p.blk, p.pos + 1,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 256
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 256
                            THEN n.ln ELSE p.fill + n.ln END,
                       n.doc_id
                FROM pack p JOIN d n
                  ON n.blk = p.blk AND n.pos = p.pos + 1
            ), asg AS (
                SELECT p.blk * 100 + p.bin AS bin_id, p.doc_id, d2.ln
                FROM pack p JOIN d d2 ON d2.doc_id = p.doc_id
                WHERE p.pos >= 1
            )
            SELECT bin_id, count(*)::BIGINT AS n_docs,
                   sum(ln)::BIGINT AS bin_tokens,
                   min(doc_id)::BIGINT AS first_doc
            FROM asg GROUP BY bin_id ORDER BY bin_id
        """
    # identical md5 hash rule + identically-rounded rates: membership is
    # row-reproducible, so counts and id sums must match exactly
    d["temperature_mix"] = """
            WITH c AS (
                SELECT lang, count(*)::DOUBLE AS n
                FROM documents GROUP BY lang
            ), s AS (
                SELECT sum(pow(n, 0.5)) AS dn, sum(n) AS tot FROM c
            ), r AS (
                SELECT lang,
                       round(least(1.0, pow(n, 0.5) / dn * (0.5 * tot)
                                        / n), 9) AS rate
                FROM c, s
            ), kept AS (
                SELECT d.doc_id, d.lang, r.rate
                FROM documents d JOIN r USING (lang)
                WHERE ('0x' || substr(md5('mix42|' || d.doc_id::VARCHAR),
                                      1, 5))::BIGINT / 1048576.0 < r.rate
            )
            SELECT lang, round(rate, 9) AS mix_rate,
                   count(*)::BIGINT AS n_kept,
                   sum(doc_id)::BIGINT AS id_sum
            FROM kept GROUP BY lang, rate ORDER BY lang
        """
    # the four dataloader stages chained: mix membership (md5 rule) →
    # naive global-window budget spelling → packing recursion → shard
    # permutation — each fragment is the proven standalone oracle body,
    # re-rooted on the previous stage's output
    d["dataloader_epoch"] = r"""
            WITH RECURSIVE mixc AS (
                SELECT lang, count(*)::DOUBLE AS n
                FROM documents GROUP BY lang
            ), mixs AS (
                SELECT sum(pow(n, 0.5)) AS dn, sum(n) AS tot FROM mixc
            ), mixr AS (
                SELECT lang,
                       round(least(1.0, pow(n, 0.5) / dn * (0.5 * tot)
                                        / n), 9) AS rate
                FROM mixc, mixs
            ), mixed AS (
                SELECT dd.doc_id, dd.text
                FROM documents dd JOIN mixr USING (lang)
                WHERE ('0x' || substr(md5('mix42|' || dd.doc_id::VARCHAR),
                                      1, 5))::BIGINT / 1048576.0
                      < mixr.rate
            ), toks AS (
                SELECT doc_id,
                       (CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                                            '\s+'))
                        END)::BIGINT AS nt,
                       regexp_split_to_array(trim(regexp_replace(
                           lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM mixed
            ), feats AS (
                SELECT doc_id, nt,
                       (len(list_distinct(tk))::BIGINT * 100)
                           // len(tk) AS qb
                FROM toks
            ), sel AS (
                SELECT doc_id, nt FROM (
                    SELECT doc_id, nt,
                           sum(nt) OVER (ORDER BY qb DESC, doc_id ASC
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
                    FROM feats)
                WHERE cum <= 8000
            ), d AS (
                SELECT doc_id, nt AS ln, (doc_id // 100)::BIGINT AS blk,
                       row_number() OVER (PARTITION BY doc_id // 100
                                          ORDER BY doc_id) AS pos
                FROM sel
            ), pack AS (
                SELECT blk, 0::BIGINT AS pos, -1::BIGINT AS bin,
                       0::BIGINT AS fill, NULL::BIGINT AS doc_id
                FROM (SELECT DISTINCT blk FROM d)
                UNION ALL
                SELECT p.blk, p.pos + 1,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 256
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 256
                            THEN n.ln ELSE p.fill + n.ln END,
                       n.doc_id
                FROM pack p JOIN d n
                  ON n.blk = p.blk AND n.pos = p.pos + 1
            ), asg AS (
                SELECT p.blk * 100 + p.bin AS bin_id, p.doc_id, d2.ln
                FROM pack p JOIN d d2 ON d2.doc_id = p.doc_id
                WHERE p.pos >= 1
            ), bins AS (
                SELECT bin_id, count(*)::BIGINT AS n_docs,
                       sum(ln)::BIGINT AS bin_tokens
                FROM asg GROUP BY bin_id
            ), keyed AS (
                SELECT bin_id, bin_tokens,
                       ('0x' || substr(md5('shuf7|' || bin_id::VARCHAR),
                                       1, 15))::BIGINT AS k
                FROM bins
            ), sh AS (
                SELECT bin_id, bin_tokens, k, (k % 4)::INT AS shard,
                       row_number() OVER (PARTITION BY (k % 4)
                                          ORDER BY k, bin_id) AS rn
                FROM keyed
            )
            SELECT shard, count(*)::BIGINT AS n_bins,
                   sum(bin_tokens)::BIGINT AS shard_tokens,
                   sum(rn * bin_id)::BIGINT AS ord_sum,
                   arg_min(bin_id, rn) AS first_bin,
                   arg_max(bin_id, rn) AS last_bin
            FROM sh GROUP BY shard ORDER BY shard
        """
    # post-STREAM exact KNN: the streamed upsert batch replayed as a
    # CASE (relabel + negated vector) over the base table; negation is
    # floating-point-exact, so no new drift source enters the cosine
    d["stream_index_patch"] = """
            WITH m AS (
                SELECT e.vec_id,
                       CASE WHEN e.vec_id % 10 = 0 THEN 99
                            ELSE e.label END AS label,
                       CASE WHEN e.vec_id % 10 = 0
                            THEN list_transform(e.embedding, x -> -x)
                            ELSE e.embedding END AS embedding
                FROM embeddings e
            ), d AS (
                SELECT vec_id, label,
                       round(1 - list_cosine_similarity(
                           embedding::DOUBLE[],
                           (SELECT embedding::DOUBLE[] FROM embeddings
                            WHERE vec_id = 0)), 2) AS dist
                FROM m
            )
            SELECT vec_id, label, round(1 - dist, 2) AS score
            FROM d
            ORDER BY dist ASC, vec_id ASC
            LIMIT 10
        """
    # token-weighted mixing: same md5 rule + 9-dp rates as
    # temperature_mix, with the group mass = sum of whitespace token
    # counts (the CASE-guarded empty-string form, matching
    # functions/text.token_count exactly)
    d["temperature_mix_tokens"] = r"""
            WITH t AS (
                SELECT doc_id, source,
                       (CASE WHEN trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                                            '\s+'))
                        END)::BIGINT AS nt
                FROM documents
            ), c AS (
                SELECT source, sum(nt)::DOUBLE AS n
                FROM t GROUP BY source
            ), s AS (
                SELECT sum(pow(n, 0.5)) AS dn, sum(n) AS tot FROM c
            ), r AS (
                SELECT source,
                       CASE WHEN n = 0 THEN 1.0
                            ELSE round(least(1.0, pow(n, 0.5) / dn
                                             * (0.4 * tot) / n), 9)
                       END AS rate
                FROM c, s
            ), kept AS (
                SELECT t.doc_id, t.source, t.nt, r.rate
                FROM t JOIN r USING (source)
                WHERE ('0x' || substr(md5('mix11|' || t.doc_id::VARCHAR),
                                      1, 5))::BIGINT / 1048576.0 < r.rate
            )
            SELECT source, round(rate, 9) AS mix_rate,
                   count(*)::BIGINT AS n_kept,
                   sum(nt)::BIGINT AS kept_tokens,
                   sum(doc_id)::BIGINT AS id_sum
            FROM kept GROUP BY source, rate ORDER BY source
        """
    # ORC roundtrip is an identity transport: the oracle computes the
    # same per-group checksums straight from the original parquet
    d["orc_roundtrip"] = """
            WITH dl AS (
                SELECT 'documents' AS part, lang AS grp,
                       count(*)::BIGINT AS n,
                       sum(doc_id)::BIGINT AS id_sum,
                       sum(('0x' || substr(md5(text), 1, 10))::BIGINT
                           )::BIGINT AS checksum
                FROM documents GROUP BY lang
            ), el AS (
                SELECT 'embeddings' AS part, label::VARCHAR AS grp,
                       count(*)::BIGINT AS n,
                       sum(vec_id)::BIGINT AS id_sum,
                       sum(list_sum(list_transform(embedding,
                           x -> floor(x::DOUBLE * 1000000.0 + 0.5)
                                ::BIGINT)))::BIGINT AS checksum
                FROM embeddings GROUP BY label
            )
            SELECT * FROM dl UNION ALL SELECT * FROM el
            ORDER BY part, grp
        """
    # The auto dispatcher must be output-invisible — same oracle
    # body as the two physical strategies it routes between
    d["jaccard_auto"] = d["jaccard_join"]
    # PPJoin branch of the dispatcher: all-pairs exact Jaccard over the
    # DOUBLED corpus (every doc re-appears under doc_id+10M)
    d["jaccard_auto_heavy"] = f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 10000000 AS doc_id, text FROM documents
            ), toks AS (
                SELECT doc_id, {_SQL_TOKS} AS tk, text FROM corpus
            ), sh AS (
                SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                         (len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
                  (len(a.sh) + len(b.sh)
                   - len(list_intersect(a.sh, b.sh))) >= 0.5
            ORDER BY id_1, id_2
        """
    # pack_tokenized: the sequence_pack recursion on BPE-ish regex
    # counts (the tokenize.py hook's deterministic fallback) at 192.
    # coalesce(text, '') matches tokenize_counts' fillna('') — a NULL
    # text must count 0, not poison the recursive fill with NULL ln
    # (the winnow oracle already coalesces defensively)
    d["pack_tokenized"] = r"""
            WITH RECURSIVE d AS (
                SELECT doc_id,
                       len(regexp_extract_all(coalesce(text, ''),
                           '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS ln,
                       (doc_id // 100)::BIGINT AS blk,
                       row_number() OVER (PARTITION BY doc_id // 100
                                          ORDER BY doc_id) AS pos
                FROM documents
            ), pack AS (
                SELECT blk, 0::BIGINT AS pos, -1::BIGINT AS bin,
                       0::BIGINT AS fill, NULL::BIGINT AS doc_id
                FROM (SELECT DISTINCT blk FROM d)
                UNION ALL
                SELECT p.blk, p.pos + 1,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 192
                            THEN p.bin + 1 ELSE p.bin END,
                       CASE WHEN p.bin < 0 OR p.fill + n.ln > 192
                            THEN n.ln ELSE p.fill + n.ln END,
                       n.doc_id
                FROM pack p JOIN d n
                  ON n.blk = p.blk AND n.pos = p.pos + 1
            ), asg AS (
                SELECT p.blk * 100 + p.bin AS bin_id, p.doc_id, d2.ln
                FROM pack p JOIN d d2 ON d2.doc_id = p.doc_id
                WHERE p.pos >= 1
            )
            SELECT bin_id, count(*)::BIGINT AS n_docs,
                   sum(ln)::BIGINT AS bin_tokens,
                   min(doc_id)::BIGINT AS first_doc
            FROM asg GROUP BY bin_id ORDER BY bin_id
        """
    # token_budget_dist: the forced-distributed boundary prefix sum must
    # select the identical set the naive global window selects
    d["token_budget_dist"] = r"""
            WITH toks AS (
                SELECT doc_id,
                       len(regexp_split_to_array(trim(text), '\s+')) AS nt,
                       regexp_split_to_array(trim(regexp_replace(
                           lower(text), '\s+', ' ', 'g')), ' ') AS tk
                FROM documents
            ), feats AS (
                SELECT doc_id, nt,
                       (len(list_distinct(tk))::BIGINT * 100)
                           // len(tk) AS qb
                FROM toks
            ), o AS (
                SELECT qb, nt,
                       sum(nt) OVER (ORDER BY qb DESC, doc_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
                FROM feats
            )
            SELECT qb, count(*)::BIGINT AS n_docs,
                   sum(nt)::BIGINT AS sum_tokens
            FROM o WHERE cum <= 30000
            GROUP BY qb ORDER BY qb DESC
        """
    # winnowing replayed verbatim: 12-gram md5 hashes, min per 6-window,
    # distinct, >50-doc hot-fp cap, pairs sharing >= 20 fingerprints
    d["winnow_neardup"] = r"""
            WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(coalesce(text, '')),
                                           '\s+', ' ', 'g')) AS t
                FROM documents
            ), g AS (
                SELECT doc_id,
                       CASE WHEN len(t) - 11 >= 1
                            THEN [('0x' || substr(md5(substr(t, i, 12)),
                                                  1, 8))::BIGINT
                                  for i in range(1, len(t) - 11 + 1)]
                            ELSE [('0x' || substr(md5(t), 1, 8))::BIGINT]
                       END AS gr
                FROM norm
            ), w AS (
                SELECT doc_id,
                       CASE WHEN len(gr) - 5 >= 1
                            THEN [list_min(gr[j:j+5])
                                  for j in range(1, len(gr) - 5 + 1)]
                            ELSE [list_min(gr)] END AS fps
                FROM g
            ), fp AS (
                SELECT doc_id, unnest(list_distinct(fps)) AS f FROM w
            ), ok AS (
                SELECT f FROM fp GROUP BY f HAVING count(*) <= 50
            ), kept AS (
                SELECT doc_id, f FROM fp JOIN ok USING (f)
            )
            SELECT a.doc_id AS id_1, b.doc_id AS id_2,
                   count(*)::BIGINT AS n_shared
            FROM kept a JOIN kept b
              ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 20
            ORDER BY id_1, id_2
        """
    # nb_classify: the full NB train+score lineage replayed — md5
    # hash-bucket vocabulary (4096, the declared query's bounded-model
    # path; real collisions at sf), floored micro-nat log tables, the
    # closed-form unseen-token accounting, and the (score DESC, label
    # DESC) argmax — rolled up per predicted class. The bucket transform
    # is the only addition to the uncapped form.
    d["nb_classify"] = r"""
            WITH toks AS (
                SELECT doc_id, lang,
                       list_transform(
                           list_filter(
                               regexp_split_to_array(
                                   trim(regexp_replace(
                                       lower(coalesce(text, '')),
                                       '\s+', ' ', 'g')), ' '),
                               w -> len(w) > 0),
                           w -> (('0x' || substr(md5(w), 1, 15))::BIGINT
                                 % 4096)::VARCHAR) AS tk
                FROM documents
            ), occ AS (
                SELECT doc_id, lang, unnest(tk) AS w FROM toks
            ), counts AS (
                SELECT lang, w, count(*)::DOUBLE AS c
                FROM occ GROUP BY lang, w
            ), per_class AS (
                SELECT lang, count(*)::DOUBLE AS nt FROM occ GROUP BY lang
            ), v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM occ),
            nd AS (SELECT count(*)::DOUBLE AS n FROM toks),
            priors AS (
                SELECT lang, count(*)::DOUBLE AS ndc FROM toks GROUP BY lang
            ), classes AS (
                SELECT p.lang,
                       floor(ln(p.ndc / nd.n) * 1000000 + 0.5)::BIGINT
                           AS prior,
                       floor(ln(1.0 / (coalesce(pc.nt, 0) + 1.0 * v.v))
                             * 1000000 + 0.5)::BIGINT AS dflt,
                       coalesce(pc.nt, 0) AS nt
                FROM priors p LEFT JOIN per_class pc USING (lang)
                CROSS JOIN v CROSS JOIN nd
            ), dense AS (
                SELECT vo.w, c2.lang,
                       floor(ln((coalesce(cn.c, 0) + 1.0)
                                / (c2.nt + 1.0 * v.v))
                             * 1000000 + 0.5)::BIGINT AS llh
                FROM (SELECT DISTINCT w FROM occ) vo
                CROSS JOIN classes c2 CROSS JOIN v
                LEFT JOIN counts cn ON cn.w = vo.w AND cn.lang = c2.lang
            ), base AS (SELECT doc_id, len(tk) AS n FROM toks),
            socc AS (SELECT doc_id, unnest(tk) AS w FROM toks),
            seen AS (
                SELECT s.doc_id, d.lang, sum(d.llh)::BIGINT AS ssum,
                       count(*)::BIGINT AS k
                FROM socc s JOIN dense d USING (w)
                GROUP BY s.doc_id, d.lang
            ), grid AS (
                SELECT b.doc_id, b.n, c.lang, c.prior, c.dflt
                FROM base b CROSS JOIN classes c
            ), scored AS (
                SELECT g.doc_id, g.lang,
                       g.prior + coalesce(se.ssum, 0)
                       + (g.n - coalesce(se.k, 0)) * g.dflt AS score
                FROM grid g LEFT JOIN seen se
                  ON se.doc_id = g.doc_id AND se.lang = g.lang
            ), best AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, lang DESC)
                           AS rn
                FROM scored
            )
            SELECT lang AS pred_label, count(*)::BIGINT AS n,
                   sum(doc_id)::BIGINT AS id_sum,
                   sum(score)::BIGINT AS score_sum
            FROM best WHERE rn = 1 GROUP BY lang ORDER BY lang
        """
    # pagerank: the exact integer recurrence UNROLLED (a recursive CTE
    # may reference the previous ranks only once; the recurrence needs
    # them twice — contribs + node preservation). `//` is DuckDB's
    # exact BIGINT division, matching Spark's `div` long-for-long; the
    # same replay is bit-exact in tests/test_pagerank.py.
    _pr_steps = "".join(f""", it{i + 1} AS (
                SELECT n.node,
                       ((15 * (1000000000000 // (SELECT cnt FROM meta)))
                        // 100
                        + (85 * coalesce(s.su, 0)) // 100)::BIGINT AS r
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, sum(p.r // dg.d)::BIGINT AS su
                    FROM edges e
                    JOIN it{i} p ON p.node = e.src
                    JOIN deg dg ON dg.node = e.src
                    GROUP BY e.dst
                ) s ON s.node = n.node
            )""" for i in range(5))
    d["pagerank"] = f"""
            WITH dedges AS (
                SELECT DISTINCT o_custkey::BIGINT * 2 AS c,
                       l_suppkey::BIGINT * 2 + 1 AS s
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            ), edges AS (
                SELECT c AS src, s AS dst FROM dedges
                UNION ALL SELECT s, c FROM dedges
            ), nodes AS (
                SELECT DISTINCT src AS node FROM edges
                UNION SELECT DISTINCT dst FROM edges
            ), meta AS (SELECT count(*)::BIGINT AS cnt FROM nodes),
            deg AS (
                SELECT src AS node, count(*)::BIGINT AS d
                FROM edges GROUP BY src
            ), it0 AS (
                SELECT node,
                       (1000000000000 // (SELECT cnt FROM meta))::BIGINT
                           AS r
                FROM nodes
            ){_pr_steps}
            SELECT ((node - 1) // 2)::BIGINT AS supp_id,
                   r::BIGINT AS rank_units
            FROM it5 WHERE node % 2 = 1 ORDER BY supp_id
        """
    # winnow_clusters: the winnow_neardup pair CTE chain verbatim, then
    # the dedup_clusters transitive-hull recursion + per-cluster rollup
    # — pair emission AND clustering hash-pinned in one lineage.
    d["winnow_clusters"] = r"""
            WITH RECURSIVE norm AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(coalesce(text, '')),
                                           '\s+', ' ', 'g')) AS t
                FROM documents
            ), g AS (
                SELECT doc_id,
                       CASE WHEN len(t) - 11 >= 1
                            THEN [('0x' || substr(md5(substr(t, i, 12)),
                                                  1, 8))::BIGINT
                                  for i in range(1, len(t) - 11 + 1)]
                            ELSE [('0x' || substr(md5(t), 1, 8))::BIGINT]
                       END AS gr
                FROM norm
            ), w AS (
                SELECT doc_id,
                       CASE WHEN len(gr) - 5 >= 1
                            THEN [list_min(gr[j:j+5])
                                  for j in range(1, len(gr) - 5 + 1)]
                            ELSE [list_min(gr)] END AS fps
                FROM g
            ), fp AS (
                SELECT doc_id, unnest(list_distinct(fps)) AS f FROM w
            ), ok AS (
                SELECT f FROM fp GROUP BY f HAVING count(*) <= 50
            ), kept AS (
                SELECT doc_id, f FROM fp JOIN ok USING (f)
            ), pr AS (
                SELECT a.doc_id AS id_1, b.doc_id AS id_2
                FROM kept a JOIN kept b
                  ON a.f = b.f AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
                HAVING count(*) >= 20
            ), edges AS (
                SELECT id_1 AS u, id_2 AS v FROM pr
                UNION
                SELECT id_2, id_1 FROM pr
            ), reach AS (
                SELECT u AS n, u AS m FROM (SELECT DISTINCT u FROM edges)
                UNION
                SELECT r.n, e.v FROM reach r JOIN edges e ON e.u = r.m
            ), comp AS (
                SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
            )
            SELECT cluster_id, count(*)::BIGINT AS cluster_size,
                   max(n) AS max_member
            FROM comp GROUP BY cluster_id ORDER BY cluster_id
        """
    # Each builder below was validated EXACT at sf0.001+sf0.01 before
    # promotion.
    d["kmeans"] = _kmeans_oracle_sql(k=8, iterations=3)
    d["kmeans_sample"] = _cluster_sample_oracle_sql(k=8, iterations=3,
                                                    per_cluster=10)
    d["graph_triangles"] = _TRIANGLE_ORACLE_SQL
    d["bpe_train"] = _bpe_oracle_sql(num_merges=12, min_pair_count=2)
    return d
