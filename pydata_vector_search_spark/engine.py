"""Engine facade: the user-facing API tying catalog + operators together.

A user of the reference demo does three things (README.md:11-21): ingest a
table with embeddings, run vector / hybrid search, run SQL analytics. This
class is that surface, Spark-native.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from pydata_vector_search_spark.catalog import Catalog
from pydata_vector_search_spark.operators import knn, upsert as upsert_op


class Engine:
    """The user-facing facade: a catalog of governed tables (commit
    log, upsert/CDC/time-travel) plus every operator family — vector
    and hybrid search, ANN/PQ indexes, dedup, graph, clustering,
    curation gates, streaming — behind one object. Construct with a
    SparkSession and a storage root; see `examples/quickstart.py`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.catalog = Catalog(spark, root)

    # -- ingest (reference EP1: createDataFrame → hudi write, c8) ---------
    def ingest(self, df: DataFrame, table: str, key: str | None = None,
               mode: str = "overwrite", partition_by: list[str] | None = None):
        """Write a DataFrame into the engine catalog as ``table``
        (parquet + commit log; ``key`` enables keyed upsert/delete/CDC
        later). See Catalog.write."""
        return self.catalog.write(table, df, key=key, mode=mode,
                                  partition_by=partition_by)

    def table(self, name: str) -> DataFrame:
        """Load a catalog table's current snapshot as a DataFrame."""
        return self.catalog.load(name)

    def sql(self, query: str) -> DataFrame:
        """SQL entry point, including the reference's TVF spelling:
        ``SELECT * FROM vector_search('<table>', '<col>', (SELECT ...), k,
        'cosine')`` (also accepted as ``hudi_vector_search``) rewrites to
        the exact DataFrame plan before parsing; names resolve through the
        engine catalog first, then session views, then parquet paths."""
        from pydata_vector_search_spark.functions.sql import rewrite_vector_search_sql

        def resolve(name: str) -> DataFrame:
            if name in self.catalog:
                return self.catalog.load(name)
            try:
                return self.spark.table(name)
            except Exception:
                return self.spark.read.parquet(name)

        return self.spark.sql(
            rewrite_vector_search_sql(self.spark, query, resolve))

    # -- vector search (reference EP2: hudi_vector_search TVF, c11/c13) ---
    def vector_search(self, table: str | DataFrame, vector_col: str,
                      query_vec: Sequence[float] | Column, k: int = 10,
                      metric: str = "cosine", filter: Column | None = None,
                      **kw) -> DataFrame:
        """Exact top-k vector search (cosine/dot/l2; a constant query is
        scored by one Arrow kernel per batch); ``filter`` prunes BEFORE the
        distance top-k — the pre-filter hybrid the reference post-filters
        for (demo.ipynb c13). See operators.knn.vector_search."""
        df = self.table(table) if isinstance(table, str) else table
        return knn.vector_search(df, vector_col, query_vec, k=k,
                                 metric=metric, filter=filter, **kw)

    # -- upsert (reference U1: Hudi keyed upsert, c8:17-23) ---------------
    def upsert(self, table: str, new: DataFrame, key: str | None = None) -> None:
        """Keyed last-write-wins upsert into a catalog table (COW; one
        commit). See operators.upsert.upsert_table."""
        upsert_op.upsert_table(self.catalog, table, new, key=key)

    def delete_where(self, table: str, predicate) -> int:
        """Predicate delete (COW rewrite + CDC tombstones); returns rows
        removed."""
        return upsert_op.delete_where(self.catalog, table, predicate)

    def merge(self, table: str, source: DataFrame, key: str | None = None,
              matched_update=None, matched_delete=None,
              insert_unmatched: bool = True) -> dict:
        """Conditional MERGE INTO (update/delete/insert clauses in one
        commit pair). See operators.upsert.merge_into."""
        return upsert_op.merge_into(self.catalog, table, source, key=key,
                                    matched_update=matched_update,
                                    matched_delete=matched_delete,
                                    insert_unmatched=insert_unmatched)

    # -- incremental pull (the reference stack's Hudi incremental query) --
    def read_incremental(self, table: str, since_commit: int,
                         latest_only: bool = True) -> DataFrame:
        """Rows changed after ``since_commit`` — partition-pruned commit-log
        scan, cost ∝ changed data. See Catalog.read_incremental."""
        return self.catalog.read_incremental(table, since_commit,
                                             latest_only=latest_only)

    def current_commit(self, table: str) -> int:
        """The table's latest commit id (monotone; feed to
        ``read_incremental`` / ``read_asof``)."""
        return self.catalog.current_commit(table)

    def read_asof(self, table: str, commit: int) -> DataFrame:
        """Snapshot time travel: the table's state as of ``commit`` —
        commit-log replay (last-write-wins minus tombstones). See
        Catalog.read_asof."""
        return self.catalog.read_asof(table, commit)

    def read_asof_timestamp(self, table: str, ts) -> DataFrame:
        """Time travel by wall-clock instant (epoch seconds or datetime):
        newest commit at-or-before ``ts``. See Catalog.read_asof_timestamp."""
        return self.catalog.read_asof_timestamp(table, ts)

    def stream_changes(self, table: str) -> DataFrame:
        """CDC tail-follow: a streaming DataFrame over the table's commit
        log (exactly-once per change batch via the consumer's checkpoint)."""
        from pydata_vector_search_spark.streaming import read_changes_stream
        return read_changes_stream(self.spark, self.catalog, table)

    # -- SQL surface (reference: TVF + temp views, c11:2,5) ---------------
    def register_sql(self, *tables: str) -> list[str]:
        """Register engine SQL functions + named tables as temp views, so
        ``engine.sql(...)`` can express the reference's query patterns."""
        from pydata_vector_search_spark.functions.sql import register_sql_functions
        for t in tables or self.catalog.names():
            self.catalog.create_view(t)
        return register_sql_functions(self.spark)

    # -- embedding pipeline (reference V5/V6, executor-side) --------------
    def embed(self, df: DataFrame, text_col: str, out_col: str = "embedding",
              encoder=None, **kw) -> DataFrame:
        """Executor-side batch embedding (Arrow mapInPandas); the
        default deterministic HashEncoder stands in where no model
        runtime is installed. See operators.embedding.embed_text."""
        from pydata_vector_search_spark.operators.embedding import (HashEncoder,
                                                                    embed_text)
        return embed_text(df, text_col, out_col,
                          encoder=encoder or HashEncoder(), **kw)

    # -- ANN index (reference O10: Lance vector index) --------------------
    def ann_build(self, table: str | DataFrame, vector_col: str, path: str,
                  **kw):
        """Loose-path index build (no catalog registration, no staleness
        tracking). Prefer ``ann_index_create`` for catalog tables."""
        from pydata_vector_search_spark.operators.ann import ivf_build
        df = self.table(table) if isinstance(table, str) else table
        return ivf_build(df, vector_col, path, **kw)

    def ann_index_create(self, table: str, vector_col: str,
                         path: str | None = None, **kw):
        """Build an IVF index over a CATALOG table and register it as
        table-scoped metadata pinned to the table's current commit (the
        reference's index is table-scoped: "Same vector index", demo.ipynb
        c14:1). A later upsert/delete advances the table past the pinned
        commit; ``ann_search`` then refuses (or rebuilds) instead of
        silently serving pre-mutation vectors."""
        import os as _os

        from pydata_vector_search_spark.operators.ann import ivf_build
        path = path or _os.path.join(self.catalog.root,
                                     f"{table}__idx_{vector_col}")
        idx = ivf_build(self.catalog.load(table), vector_col, path, **kw)
        self.catalog.register_index(table, vector_col, path, params=kw)
        return idx

    def ann_search(self, index, query_vec: Sequence[float], k: int = 10,
                   vector_col: str | None = None, on_stale: str = "raise",
                   **kw) -> DataFrame:
        """Probe an ANN index. ``index`` may be an IVFIndex handle, a
        loose index path, or a CATALOG TABLE NAME with a registered index
        — the table form enforces the staleness contract:

        * ``on_stale='raise'`` (default): refuse with StaleIndexError when
          the table advanced past the index's registered commit.
        * ``on_stale='rebuild'``: rebuild + re-register at the current
          commit, then search (correct, pays the build).
        * ``on_stale='patch'``: answer by merge-on-read — the probe
          merges the table's changes since the index commit
          (``read_incremental`` → ``index_delta`` → ``ivf_search(
          changes=...)``), so the top-k equals patch-then-probe and the
          read writes nothing. The registration stays at its commit, so
          the index stays stale: a later ``on_stale='raise'`` read still
          refuses. Once the table is ``ann.COMPACT_COMMITS`` commits past
          the index, or the changed keys pass half of
          ``ann.MAX_PATCH_KEYS`` (the key guard, which raises past it),
          the read first
          compacts them into the index (``Catalog.compact_index``) and
          re-registers it at the current commit. Centroids keep their
          trained positions (recall drifts only with the data
          distribution). Requires retained history back to the index
          commit; ``expire_commits`` compacts an index it would pass.
        * ``on_stale='ignore'``: search the stale index (recall-tolerant
          readers; rows upserted since build are invisible/outdated)."""
        from pydata_vector_search_spark.operators import ann
        changes = None
        if isinstance(index, str) and index in self.catalog:
            table = index
            entry = self.catalog.index_info(table, vector_col)
            if entry is None:
                raise ValueError(
                    f"table {table!r} has no registered vector index"
                    + (f" on {vector_col!r}" if vector_col else
                       " (or several — pass vector_col=)")
                    + "; build one with ann_index_create")
            if entry["stale"]:
                if on_stale == "raise":
                    raise ann.StaleIndexError(
                        f"index on {table}.{entry['vector_col']} was built "
                        f"at commit {entry['commit']} but the table is at "
                        f"commit {self.catalog.current_commit(table)}; "
                        "rebuild with ann_index_create (or pass "
                        "on_stale='rebuild'/'ignore')")
                if on_stale == "rebuild":
                    # same path AND same build params — the rebuild must
                    # reproduce the registered index geometry, not defaults
                    self.ann_index_create(table, entry["vector_col"],
                                          path=entry["path"],
                                          **entry.get("params", {}))
                elif on_stale == "patch":
                    try:
                        inc = self.catalog.read_incremental(
                            table, since_commit=entry["commit"])
                    except ValueError as e:
                        raise ann.StaleIndexError(
                            f"cannot patch index on {table!r}: {e}; "
                            "use on_stale='rebuild'") from e
                    changes = ann.index_delta(
                        self.spark, inc, id_col=self.catalog.info(table).key,
                        max_patch_keys=ann.MAX_PATCH_KEYS)
                    behind = (self.catalog.current_commit(table)
                              - entry["commit"])
                    if (behind >= ann.COMPACT_COMMITS
                            or changes.num_keys > ann.MAX_PATCH_KEYS // 2):
                        self.catalog.compact_index(table,
                                                   entry["vector_col"])
                        changes = None
                elif on_stale != "ignore":
                    raise ValueError(f"unknown on_stale={on_stale!r}")
            index = ann.IVFIndex.load(self.spark, entry["path"])
        elif isinstance(index, str):
            index = ann.IVFIndex.load(self.spark, index)
        return ann.ivf_search(self.spark, index, query_vec, k=k,
                              changes=changes, **kw)

    # -- LLM-pipeline ops (driver mandate) --------------------------------
    def dedup_exact(self, table: str | DataFrame, text_col: str,
                    id_col: str) -> DataFrame:
        """Exact dedup by normalized-text fingerprint — keep the min-id
        row per fingerprint. See operators.dedup.exact_dedup."""
        from pydata_vector_search_spark.operators.dedup import exact_dedup
        df = self.table(table) if isinstance(table, str) else table
        return exact_dedup(df, text_col, id_col)

    def neardup_pairs(self, table: str | DataFrame, text_col: str, id_col: str,
                      method: str = "minhash", **kw) -> DataFrame:
        """Near-duplicate candidate pairs by the chosen sketch family
        (minhash / simhash / jaccard / ppjoin / auto / cosine /
        winnow) — all banded/blocked, never all-pairs. See
        operators.dedup."""
        from pydata_vector_search_spark.operators import dedup
        df = self.table(table) if isinstance(table, str) else table
        fns = {"minhash": dedup.minhash_neardup_pairs,
               "simhash": dedup.simhash_neardup_pairs,
               # "jaccard" = the measured duplicate-heaviness rule:
               # count-based on near-unique corpora, PPJoin
               # once hot shingles amplify the co-occurrence join —
               # both strategies output-identical and separately
               # pinned. NOTE: the auto rule runs its probe aggregate
               # EAGERLY at call time (one corpus scan before any
               # DataFrame is returned); the explicit spellings below
               # keep the fully-lazy contract and skip the probe scan
               "jaccard": dedup.jaccard_similarity_join_auto,
               "jaccard_count": dedup.jaccard_similarity_join,
               "jaccard_prefix": dedup.jaccard_similarity_join_prefix}
        if method == "winnow":
            # winnowing fingerprint pairs (SIGMOD'03): kw = k/window/
            # min_shared/max_fp_df; returns (id_1, id_2, n_shared)
            from pydata_vector_search_spark.operators.fingerprint import \
                fingerprint_neardup_pairs
            return fingerprint_neardup_pairs(df, text_col, id_col, **kw)
        return fns[method](df, text_col, id_col, **kw)

    def dedup_clusters(self, table: str | DataFrame, text_col: str,
                       id_col: str, method: str = "jaccard",
                       **kw) -> DataFrame:
        """Near-dup pairs collapsed to connected components: one row per
        (node, component); keep the ``component`` (= min id) representative
        per cluster and drop the rest."""
        from pydata_vector_search_spark.operators.graph import \
            connected_components
        pairs = self.neardup_pairs(table, text_col, id_col,
                                   method=method, **kw)
        return connected_components(pairs, src="id_1", dst="id_2")

    def classify(self, train, score, text_col: str, label_col: str,
                 id_col: str, smoothing: float = 1.0,
                 max_vocab: int | None = 262_144,
                 return_model: bool = False):
        """Train the SQL-exact multinomial NB classifier on ``train``
        (labeled) and score ``score`` → (id, pred_label, score_micro)
        — the corpus quality/domain-filter step (see
        operators/classify.py; training is eager, scoring lazy).

        ``max_vocab`` defaults FINITE (2^18 hash buckets, the
        ``bigram_lm_score`` discipline) so the facade is scale-safe on
        any training corpus: the broadcast model is bounded at
        |max_vocab|·|labels| rows no matter how large ``train`` is.
        Pass ``max_vocab=None`` for the exact unbucketed vocabulary —
        ``nb_score`` then gates its broadcast on the trained |V|
        (classify.BROADCAST_SAFE_VOCAB) and degrades to a shuffle join
        past it rather than shipping an unbounded model.

        CACHE LIFETIME: training persists one vocabulary-sized count
        table (≤ |max_vocab|·|labels| rows) that the lazy scored plan
        reads; it stays cached until released. Pass
        ``return_model=True`` to get ``(scored, model)`` and call
        ``model.unpersist()`` once the scored result is materialized
        (the recommended pattern for long-lived sessions / repeated
        classify calls). With the default ``return_model=False`` the
        handle is not exposed and the bounded table lives until the
        session ends or ``spark.catalog.clearCache()``."""
        from pydata_vector_search_spark.operators.classify import (nb_score,
                                                                   nb_train)
        tdf = self.table(train) if isinstance(train, str) else train
        sdf = self.table(score) if isinstance(score, str) else score
        model = nb_train(tdf, text_col, label_col,
                         smoothing=smoothing, max_vocab=max_vocab)
        scored = nb_score(sdf, model, text_col, id_col)
        return (scored, model) if return_model else scored

    def pagerank(self, edges: str | DataFrame, src: str = "src",
                 dst: str = "dst", damping_pct: int = 85,
                 iterations: int = 5) -> DataFrame:
        """Integer-exact PageRank over an edge table → (node,
        rank_units) longs — the link/citation/near-dup-graph curation
        signal (see operators/graph.pagerank_exact; deterministic
        fixed-point integers, replayable in any engine)."""
        from pydata_vector_search_spark.operators.graph import pagerank_exact
        e = self.table(edges) if isinstance(edges, str) else edges
        return pagerank_exact(e, src=src, dst=dst,
                              damping_pct=damping_pct,
                              iterations=iterations)

    def triangles(self, edges: str | DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
        """Per-node triangle counts over an undirected edge table —
        the local-clustering signal complementing components
        (membership) and pagerank (centrality) on the same pair
        inputs (see operators/graph.triangle_count: degree-ordered
        orientation, skew-bounded wedge join, no UDF)."""
        from pydata_vector_search_spark.operators.graph import \
            triangle_count
        e = self.table(edges) if isinstance(edges, str) else edges
        return triangle_count(e, src=src, dst=dst)

    def bpe_train(self, table: str | DataFrame, text_col: str,
                  num_merges: int = 50, **kw) -> DataFrame:
        """Learn BPE merges from the corpus → (step, left, right,
        pair_count); feed the result into
        ``operators.tokenize.LearnedBpeTokenizer`` to tokenize with
        the learned vocabulary (one corpus scan; the merge loop is
        driver-side over the bounded frequency table)."""
        from pydata_vector_search_spark.operators.bpe import bpe_train
        df = self.table(table) if isinstance(table, str) else table
        return bpe_train(df, text_col, num_merges=num_merges, **kw)

    def chunk(self, table: str | DataFrame, text_col: str, id_col: str,
              divisor: int = 32) -> DataFrame:
        """Content-defined chunking → (id, chunk_idx, chunk_text, n_tokens);
        feed the result straight back into ``embed``."""
        from pydata_vector_search_spark.operators.chunking import chunk_texts
        df = self.table(table) if isinstance(table, str) else table
        return chunk_texts(df, text_col, id_col, divisor=divisor)

    # -- temporal joins ---------------------------------------------------
    def asof_join(self, left: str | DataFrame, right: str | DataFrame,
                  on: str, time_col: str, **kw) -> DataFrame:
        """As-of join: each left row picks the latest right row at or
        before its timestamp (union + last-over-window, ONE shuffle —
        no per-key driver loop). See operators.joins.asof_join."""
        from pydata_vector_search_spark.operators.joins import asof_join
        l = self.table(left) if isinstance(left, str) else left
        r = self.table(right) if isinstance(right, str) else right
        return asof_join(l, r, on=on, time_col=time_col, **kw)

    def range_join(self, left: str | DataFrame, right: str | DataFrame,
                   on: str, time_col: str, start_col: str, end_col: str,
                   **kw) -> DataFrame:
        """Interval join: left rows matched to right rows whose
        [start, end] window contains the left timestamp. See
        operators.joins.range_join."""
        from pydata_vector_search_spark.operators.joins import range_join
        l = self.table(left) if isinstance(left, str) else left
        r = self.table(right) if isinstance(right, str) else right
        return range_join(l, r, on=on, time_col=time_col,
                          start_col=start_col, end_col=end_col, **kw)

    # -- streaming --------------------------------------------------------
    def stream_events(self, path: str, **kw) -> DataFrame:
        """Structured-streaming source over the events table (file
        stream; sniffs the parquet timestamp unit). See
        streaming.read_events_stream."""
        from pydata_vector_search_spark.streaming import read_events_stream
        return read_events_stream(self.spark, path, **kw)

    def stream_upsert(self, stream_df: DataFrame, table: str, key: str,
                      checkpoint: str, **kw):
        """foreachBatch sink applying each micro-batch as a keyed LWW
        upsert into a catalog table (exactly-once via the checkpoint).
        See streaming.stream_upsert_sink."""
        from pydata_vector_search_spark.streaming import stream_upsert_sink
        return stream_upsert_sink(stream_df, self.catalog, table, key=key,
                                  checkpoint=checkpoint, **kw)

    # -- retrieval / pipeline gates ----------------------------------------
    def bm25_search(self, table: str | DataFrame, text_col: str,
                    id_col: str, query_terms, k: int = 10,
                    **kw) -> DataFrame:
        """Okapi BM25 lexical top-k. See operators/retrieval.bm25_search."""
        from pydata_vector_search_spark.operators.retrieval import bm25_search
        df = self.table(table) if isinstance(table, str) else table
        return bm25_search(df, text_col, id_col, query_terms, k=k, **kw)

    def hybrid_search_rrf(self, table: str, text_col: str, id_col: str,
                          vector_col: str, query_terms, query_vec,
                          k: int = 10, fetch_k: int = 50,
                          metric: str = "cosine") -> DataFrame:
        """BM25 + vector hybrid via Reciprocal Rank Fusion: lexical and
        exact-vector top-``fetch_k`` lists fused as 1/(60+rank) sums.
        The standard Lucene/Vespa hybrid pattern, composed from this
        engine's own halves."""
        from pyspark.sql import functions as F

        from pydata_vector_search_spark.operators.knn import vector_search
        from pydata_vector_search_spark.operators.retrieval import (
            bm25_search, rrf_fuse)
        df = self.table(table)
        lex = bm25_search(df, text_col, id_col, query_terms, k=fetch_k)
        vec = (vector_search(df, vector_col, query_vec, k=fetch_k,
                             metric=metric, round_to=6, tiebreaker=id_col)
               .select(id_col, "_distance"))
        return rrf_fuse(lex, vec, id_col, k=k,
                        b_order=[F.col("_distance").asc_nulls_last(),
                                 F.col(id_col).asc()])

    def pq_index(self, table: str | DataFrame, vector_col: str,
                 m: int = 8, k_codes: int = 256, seed: int = 42,
                 metric: str = "cosine"):
        """Train PQ codebooks and return (encoded_df, codebooks) — feed
        the pair to ``pq_search``. See operators/pq."""
        from pydata_vector_search_spark.operators import pq
        df = self.table(table) if isinstance(table, str) else table
        cb = pq.pq_train(df, vector_col, m=m, k_codes=k_codes, seed=seed,
                         metric=metric)
        return pq.pq_encode(df, vector_col, cb), cb

    def pq_search(self, coded: DataFrame, cb, vector_col: str,
                  query_vec, k: int = 10, shortlist: int = 256,
                  **kw) -> DataFrame:
        """ADC shortlist + exact re-rank over a PQ-encoded frame."""
        from pydata_vector_search_spark.operators import pq
        return pq.pq_search(coded, vector_col, "pq_code", cb, query_vec,
                            k=k, shortlist=shortlist, **kw)

    def semantic_dedup(self, table: str | DataFrame, vector_col: str,
                       id_col: str, dim: int, **kw) -> DataFrame:
        """SemDeDup: drop embedding-level near-duplicates, keep min-id
        representative per semantic group."""
        from pydata_vector_search_spark.operators.dedup import semantic_dedup
        df = self.table(table) if isinstance(table, str) else table
        return semantic_dedup(df, vector_col, id_col, dim, **kw)

    def kmeans(self, table: str | DataFrame, vector_col: str,
               id_col: str, k: int = 8, iterations: int = 3,
               **kw) -> DataFrame:
        """Integer-exact Lloyd's k-means: train on the table's vectors
        (deterministic k-smallest-id seeding, fixed iterations) and
        return every row + ``cluster_id`` + ``dist_units`` (exact int64
        squared L2 in quantized units — replayable in any engine; see
        operators/clustering for the positive-domain offset contract)."""
        from pydata_vector_search_spark.operators.clustering import (
            kmeans_assign, kmeans_train)
        df = self.table(table) if isinstance(table, str) else table
        model = kmeans_train(df, vector_col, id_col, k=k,
                             iterations=iterations, **kw)
        return kmeans_assign(df, model, vector_col)

    def collocations(self, table: str | DataFrame, text_col: str,
                     min_count: int = 5, top_k: int = 50) -> DataFrame:
        """Top PMI collocations (w1, w2, pair_count, pmi_micro) — the
        phrase-mining / multi-word-expression primitive (see
        operators/collocations: exact integer counts, one ln of an
        exact ratio in floored micro-nats)."""
        from pydata_vector_search_spark.operators.collocations import \
            collocations_pmi
        df = self.table(table) if isinstance(table, str) else table
        return collocations_pmi(df, text_col, min_count=min_count,
                                top_k=top_k)

    def domain_cap(self, table: str | DataFrame, text_col: str,
                   id_col: str, domain_col: str,
                   cap_tokens: int, **kw) -> DataFrame:
        """Per-domain token cap: within each domain keep the highest-
        quality docs until `cap_tokens` tokens — the per-host
        downsampling gate before global selection (see
        operators/text_ops.domain_token_cap)."""
        from pydata_vector_search_spark.operators.text_ops import \
            domain_token_cap
        df = self.table(table) if isinstance(table, str) else table
        return domain_token_cap(df, text_col, id_col, domain_col,
                                cap_tokens, **kw)

    def curate_corpus(self, table: str | DataFrame, text_col: str,
                      id_col: str, domain_col: str,
                      cap_tokens: int = 2000, min_quality: float = 0.5,
                      budget_tokens: int = 5000, **kw) -> DataFrame:
        """The full curation chain as one plan: per-domain token cap →
        exact dedup over survivors → quality gate → global token budget
        (see operators/curation.curate_corpus); feed the output to the
        dataloader composition (mix → budget → pack → shard)."""
        from pydata_vector_search_spark.operators.curation import \
            curate_corpus
        df = self.table(table) if isinstance(table, str) else table
        return curate_corpus(df, text_col, id_col, domain_col,
                             cap_tokens=cap_tokens,
                             min_quality=min_quality,
                             budget_tokens=budget_tokens, **kw)

    def cluster_sample(self, table: str | DataFrame, vector_col: str,
                       id_col: str, k: int = 8, per_cluster: int = 100,
                       **kw) -> DataFrame:
        """Cluster-balanced subsample: k-means over the vectors, then
        ``per_cluster`` rows per cluster by deterministic md5-hash rank
        — the post-clustering selection step of SemDeDup-style curation
        (executes as a salted two-level tournament; no whale-cluster
        single-task window — see operators/sampling)."""
        from pydata_vector_search_spark.operators.sampling import \
            cluster_sample
        df = self.table(table) if isinstance(table, str) else table
        return cluster_sample(df, vector_col, id_col, k=k,
                              per_cluster=per_cluster, **kw)

    def semantic_dedup_kmeans(self, table: str | DataFrame,
                              vector_col: str, id_col: str,
                              **kw) -> DataFrame:
        """SemDeDup with the paper's actual k-means clustering step
        (``semantic_dedup`` uses deterministic hyperplane-LSH buckets
        instead); same keep-min-id-per-component semantics."""
        from pydata_vector_search_spark.operators.clustering import \
            semantic_dedup_kmeans
        df = self.table(table) if isinstance(table, str) else table
        return semantic_dedup_kmeans(df, vector_col, id_col, **kw)

    def cross_dedup(self, corpus: str | DataFrame,
                    reference: str | DataFrame, text_col: str,
                    id_col: str, **kw) -> DataFrame:
        """Drop corpus docs near-duplicate of any reference doc."""
        from pydata_vector_search_spark.operators.dedup import \
            cross_dedup_minhash
        c = self.table(corpus) if isinstance(corpus, str) else corpus
        r = self.table(reference) if isinstance(reference, str) else reference
        return cross_dedup_minhash(c, r, text_col, id_col, **kw)

    def validate(self, table: str | DataFrame, rules) -> DataFrame:
        """Data-quality gate: per-rule violation report. See
        operators/quality (not_null/unique/in_range/matches/check/
        references rule builders)."""
        from pydata_vector_search_spark.operators.quality import validate
        df = self.table(table) if isinstance(table, str) else table
        return validate(df, rules)

    def profile(self, table: str | DataFrame,
                columns: list | None = None, **kw) -> DataFrame:
        """One-pass per-column profile (nulls, distinct, min/max)."""
        from pydata_vector_search_spark.operators.quality import profile
        df = self.table(table) if isinstance(table, str) else table
        return profile(df, columns, **kw)

    def purge_keys(self, table: str, keys: list, **kw) -> dict:
        """GDPR physical erasure: keys removed from snapshot, commit
        history, index data files; registered rollups rebuilt."""
        return self.catalog.purge_keys(table, keys, **kw)

    def create_agg(self, source: str, name: str, group_by, sums,
                   count_col: str = "n_rows", mins=None,
                   maxs=None) -> None:
        """Materialize an incrementally-maintained rollup of ``source``:
        SUM/COUNT refresh by pure delta; MIN/MAX (``mins``/``maxs``)
        switch to group-scoped recompute. See operators/incremental_agg."""
        from pydata_vector_search_spark.operators.incremental_agg import \
            create_agg
        create_agg(self.catalog, source, name, group_by, sums,
                   count_col=count_col, mins=mins, maxs=maxs)

    def refresh_agg(self, source: str, name: str) -> dict:
        """Apply the commit-log delta since the last refresh to the
        materialized rollup — cost ∝ changed keys, never a full rescan."""
        from pydata_vector_search_spark.operators.incremental_agg import \
            refresh_agg
        return refresh_agg(self.catalog, source, name)

    # -- training-data assembly -------------------------------------------
    def dedup_paragraphs(self, table: str | DataFrame, text_col: str,
                         id_col: str, **kw) -> DataFrame:
        """Sub-document paragraph dedup (Dolma/RefinedWeb/C4 rule)."""
        from pydata_vector_search_spark.operators.span_dedup import \
            paragraph_dedup
        df = self.table(table) if isinstance(table, str) else table
        return paragraph_dedup(df, text_col, id_col, **kw)

    def dedup_spans(self, table: str | DataFrame, text_col: str,
                    id_col: str, n: int = 8) -> DataFrame:
        """Exact substring-span dedup (Lee et al. 2021)."""
        from pydata_vector_search_spark.operators.span_dedup import \
            duplicate_span_dedup
        df = self.table(table) if isinstance(table, str) else table
        return duplicate_span_dedup(df, text_col, id_col, n=n)

    def lm_score(self, table: str | DataFrame, text_col: str,
                 id_col: str, **kw) -> DataFrame:
        """CCNet-style bigram-LM NLL scoring (integer micro-nats)."""
        from pydata_vector_search_spark.operators.lm_score import \
            bigram_lm_score
        df = self.table(table) if isinstance(table, str) else table
        return bigram_lm_score(df, text_col, id_col, **kw)

    def dsir_select(self, raw: str | DataFrame, target: str | DataFrame,
                    text_col: str, id_col: str, **kw) -> DataFrame:
        """DSIR hashed-n-gram importance selection toward ``target``."""
        from pydata_vector_search_spark.operators.lm_score import \
            dsir_importance
        r = self.table(raw) if isinstance(raw, str) else raw
        t = self.table(target) if isinstance(target, str) else target
        return dsir_importance(r, t, text_col, id_col, **kw)

    def pack(self, table: str | DataFrame, id_col: str, len_col,
             **kw) -> DataFrame:
        """Greedy next-fit sequence packing into fixed-token bins."""
        from pydata_vector_search_spark.operators.packing import \
            pack_sequences
        df = self.table(table) if isinstance(table, str) else table
        return pack_sequences(df, id_col, len_col, **kw)

    def mix(self, table: str | DataFrame, id_col: str, group_col: str,
            **kw) -> DataFrame:
        """Temperature-weighted corpus mixing (n^alpha rule)."""
        from pydata_vector_search_spark.operators.packing import \
            temperature_mix
        df = self.table(table) if isinstance(table, str) else table
        return temperature_mix(df, id_col, group_col, **kw)

    def shuffle_shards(self, table: str | DataFrame, id_col: str,
                       num_shards: int, **kw) -> DataFrame:
        """Deterministic dataloader shuffle + shard clustering."""
        from pydata_vector_search_spark.operators.packing import \
            shard_shuffle
        df = self.table(table) if isinstance(table, str) else table
        return shard_shuffle(df, id_col, num_shards, **kw)

    # -- maintenance ------------------------------------------------------
    def compact(self, table: str, **kw) -> None:
        self.catalog.compact(table, **kw)

    def expire_commits(self, table: str, upto: int) -> None:
        """Commit-log retention: collapse history before ``upto`` into a
        materialized base (time travel >= upto keeps working). See
        Catalog.expire_commits."""
        self.catalog.expire_commits(table, upto)

    def drop(self, table: str, delete_files: bool = True) -> None:
        self.catalog.drop(table, delete_files=delete_files)
