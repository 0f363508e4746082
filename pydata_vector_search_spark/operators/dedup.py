"""Deduplication & similarity-join operators (driver mandate; SURVEY §2.9).

The reference has no dedup surface; these are the LLM-training-pipeline
operators BASELINE.json mandates, built Spark-first:

* exact dedup — md5 fingerprint groupBy (functions/text.fingerprint_md5);
* MinHash-LSH near-dup — shingle → minhash → band → bucket join → exact
  Jaccard verify. **Deterministic across engines**: the "random" permutations
  are md5(shingle || ':i') and the minimum is the *lexicographic* min of the
  hex digests — a random total order any engine with md5 can reproduce, so
  even the LSH candidate set is oracle-checkable (no RNG, no seed drift);
* SimHash — 64-bit signature via xxhash64 bit-vote (Hamming-near dup);
* exact n-gram Jaccard join — explode+equi-join formulation (linear in
  co-occurrences, not quadratic in docs);
* embedding cosine near-dup / top-k similar pairs — brute force for
  correctness, random-hyperplane LSH bucketing as the scale path.

Scale notes (100 TB): the LSH paths shuffle once on the band/bucket key;
candidate verification touches only co-bucketed pairs. The exact-join path
shuffles on the shingle key — hot shingles are the skew risk, so
``max_shingle_df`` drops shingles whose document frequency exceeds a cap
(standard prefix-filtering trick: a shingle shared by >N docs contributes
O(N²) candidate pairs but almost no Jaccard evidence).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from pydata_vector_search_spark.functions.text import normalized_text
from pydata_vector_search_spark.functions.vector import (_matrix,
                                                         cosine_similarity)


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------

def tokens_col(text: Column | str) -> Column:
    return F.split(normalized_text(text), " ")


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles, fully JVM-side.

    Formulated as n shifted slices zipped with string concat — O(tokens)
    per row. The obvious ``transform(sequence(0, L-n), i -> concat_ws(' ',
    slice(toks, i+1, n)))`` is O(tokens²): slice inside the interpreted
    lambda copies the array per element (~5s of the old 13s minhash run
    at sf0.1 was this)."""
    toks = tokens_col(text)
    m = F.size(toks) - (n - 1)                  # number of shingles
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, F.array_distinct(grams)) \
            .otherwise(F.array(normalized_text(text)))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per normalized-text fingerprint (deterministic
    canonical choice, unlike dropDuplicates which is partition-order
    dependent)."""
    from pydata_vector_search_spark.functions.text import fingerprint_md5
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    return (df.withColumn("__fp", fingerprint_md5(text_col))
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .drop("__fp", "__rn"))


# --------------------------------------------------------------------------
# MinHash + LSH (md5-order permutations — cross-engine deterministic)
# --------------------------------------------------------------------------

def _h1h2(s: Column) -> tuple[Column, Column]:
    """Two independent 32-bit hashes from ONE md5: hex chars [0:8) and
    [8:16) parsed as ints. Engine-independent (md5 + hex parse exist
    everywhere) and 12× cheaper than salted per-permutation md5s."""
    m = F.md5(s)
    return (F.conv(F.substring(m, 1, 8), 16, 10).cast("long"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long"))


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """Array of ``num_hashes`` minima; element i = min over shingles of
    ``h1 + i*h2`` (Kirsch-Mitzenmacher double hashing over one md5 —
    the same family any engine with md5 reproduces; no RNG, no seed).

    NOTE: higher-order-function lambdas run INTERPRETED (outside
    whole-stage codegen). ``minhash_neardup_pairs`` uses the explode +
    scalar-column formulation for its hot path; this per-row expression
    stays as API surface (e.g. signatures on a stream)."""
    def _perm(i: int):
        # closure-bound salt (a default arg would change the lambda's arity
        # and receive transform's index Column instead — see simhash64)
        def f(s):
            h1, h2 = _h1h2(s)
            return h1 + i * h2
        return f

    return F.array(*[F.array_min(F.transform(shingles, _perm(i)))
                     for i in range(num_hashes)])


def lsh_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """bands × md5(join of that band's slice of the signature)."""
    keys = []
    for b in range(bands):
        sl = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        keys.append(F.md5(F.concat_ws(
            "|", F.transform(sl, lambda x: x.cast("string")))))
    return F.array(*keys)


def _fan_out(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition before a CPU-heavy per-row stage. A single small parquet
    file arrives as ONE partition — fine for scans, fatal for per-row md5 /
    bit-vote expressions that should use every core. Hash on the id keeps
    the shuffle payload small and the layout reusable by later groupBys.

    GUARDED: when the input already carries at least the target
    parallelism — the normal case on a real cluster, where 100 TB
    arrives as tens of thousands of splits — this is the identity.
    The unguarded version would shuffle the whole corpus text once per
    operator purely to re-bucket partitions that are already plentiful;
    the guard keeps the repartition what it claims to be, a small-input
    CPU guard. (Operators that pre-partition to REPLACE a strictly
    larger downstream shuffle — winnow_fingerprints' pre-explode
    repartition, whose alternative is exchanging the ~28x-larger
    exploded gram stream at the sliding-min window — stay unconditional
    and say so at the call site.)

    KNOWN LIMIT — AQE blindness: the probe reads the PRE-AQE partition
    count (``df.rdd.getNumPartitions()``, which also pays one extra
    physical-planning pass for the probe df). A post-shuffle input that
    reports ``spark.sql.shuffle.partitions`` splits but is
    AQE-coalesced at execution passes the guard, so the CPU stage can
    still run under-parallel. This is an accepted, BOUNDED trade: AQE
    only coalesces when the stage's output is below
    ``advisoryPartitionSizeInBytes`` x target (~64 MB/partition), so
    the missed case serializes at most a few-hundred-MB batch — whereas
    "fixing" it by distrusting post-shuffle counts would re-shuffle
    arbitrarily large post-join corpora on every dedup call, the exact
    corpus-scale exchange the guard exists to prevent. True
    executed partitioning is unknowable before execution (AQE re-plans
    per stage), so the pre-AQE count is the best cheap signal."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        pass          # un-plannable input (e.g. streaming): fan out
    return df.repartition(target, F.col(id_col))


def _minhash_bands(df: DataFrame, text_col: str, id_col: str,
                   n: int, num_hashes: int, bands: int
                   ) -> tuple[DataFrame, DataFrame]:
    """Shared minhash front half: (banded, base) where ``banded`` is
    (__id, __band, __key) — one row per doc per band — and ``base`` is
    (__id, __sh), the materialized shingle arrays for exact verify.

    Hot path stays in whole-stage codegen: explode shingles, ONE md5 per
    shingle split into two 32-bit halves, the num_hashes values derived
    as h1 + i*h2 scalar columns (HOF lambdas run interpreted, ~30×
    slower — measured 57s vs <2s on sf0.1), then per-doc minima with a
    hash aggregate. Partial (map-side) min aggregation collapses each
    partition to one row per doc before the shuffle, so shuffle volume
    is docs × num_hashes regardless of shingle count — the property
    that matters at 100 TB.

    ``base`` MATERIALIZES once (the jaccard threading pattern): the
    signature pipeline and the verify join's two sides all consume it, and the former ``_barrier`` exchange was
    NOT in practice shared between them — each consumer branch gets
    different pushed-down IsNotNull predicates below the exchange, the
    canonical plans stop matching, and the executed plan re-scanned and
    re-shingled the corpus for the verify side (two 6.8 MiB duplicate
    exchanges in the sf0.1 final plan). The checkpoint is the same byte
    magnitude as those exchange files and guarantees ONE tokenize +
    shingle pass per call (A/B at sf0.1: 2.3-2.5 → 1.7-2.0 s warm,
    identical pairs)."""
    rows = num_hashes // bands
    df = _fan_out(df, id_col)
    base = (df.select(F.col(id_col).alias("__id"),
                      shingles_col(text_col, n).alias("__sh"))
            .localCheckpoint(eager=True))
    ex = base.select("__id", F.explode("__sh").alias("__s"))
    h1, h2 = _h1h2(F.col("__s"))
    hashed = ex.select("__id", *[
        (h1 + i * h2).alias(f"__h{i}") for i in range(num_hashes)])
    sig = hashed.groupBy("__id").agg(*[
        F.min(f"__h{i}").alias(f"__m{i}") for i in range(num_hashes)])

    band_keys = [
        F.md5(F.concat_ws("|", *[F.col(f"__m{b * rows + r}").cast("string")
                                 for r in range(rows)])).alias(f"__band{b}")
        for b in range(bands)]
    banded = (sig.select("__id", *band_keys)
                 .select("__id", F.posexplode(F.array(
                     *[F.col(f"__band{b}") for b in range(bands)]))
                     .alias("__band", "__key")))
    return banded, base


def minhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str,
                          n: int = 3, num_hashes: int = 12, bands: int = 4,
                          threshold: float = 0.5,
                          max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate pairs (id_1 < id_2) with exact-Jaccard verification of
    LSH candidates. Returns (id_1, id_2, jaccard).

    Plan shape: per-row signature (no shuffle) → explode band keys →
    self-join on (band, key) [one shuffle, bucket-local] → distinct pairs →
    re-attach shingle arrays (broadcast-or-shuffle join on id) → exact
    array_intersect Jaccard filter. Candidate count, not corpus², bounds
    every stage — the 100 TB path.
    """
    banded, base = _minhash_bands(df, text_col, id_col, n, num_hashes,
                                  bands)
    buckets = (banded.groupBy("__band", "__key")
                     .agg(F.collect_list("__id").alias("__ids"))
                     .filter(F.size("__ids") > 1))
    if max_bucket_size is not None:
        # skew guard: a degenerate bucket of B docs contributes O(B²)
        # candidate pairs on one reducer; capping trades recall on the
        # hottest buckets for bounded work (identical docs still pair via
        # their other, smaller buckets or the exact-dedup pass)
        buckets = buckets.filter(F.size("__ids") <= max_bucket_size)
    cand = (buckets
            .select(F.explode("__ids").alias("id_1"), "__ids")
            .select("id_1", F.explode("__ids").alias("id_2"))
            .filter(F.col("id_1") < F.col("id_2"))
            .distinct())

    sh = base.select("__id", "__sh")  # reads the base checkpoint blocks
    inter = F.size(F.array_intersect(F.col("sa.__sh"), F.col("sb.__sh")))
    union = (F.size(F.col("sa.__sh")) + F.size(F.col("sb.__sh")) - inter)
    return (cand.join(sh.alias("sa"), F.col("id_1") == F.col("sa.__id"))
                .join(sh.alias("sb"), F.col("id_2") == F.col("sb.__id"))
                .withColumn("jaccard", inter.cast("double") / union)
                .filter(F.col("jaccard") >= threshold)
                .select("id_1", "id_2", "jaccard"))


# --------------------------------------------------------------------------
# exact n-gram Jaccard join (explode + equi-join — no corpus² stage)
# --------------------------------------------------------------------------

def jaccard_similarity_join(df: DataFrame, text_col: str, id_col: str,
                            n: int = 3, threshold: float = 0.5,
                            max_shingle_df: int | None = None,
                            _ex: DataFrame | None = None) -> DataFrame:
    """All pairs with exact n-gram Jaccard ≥ threshold, via the scalable
    co-occurrence formulation: explode shingles → self-join on shingle →
    count co-occurrences per pair → |A∩B| / (|A|+|B|−|A∩B|).

    ``max_shingle_df`` drops shingles appearing in more than that many docs
    (skew guard; biases Jaccard down slightly — leave None for exact).

    Cost is Σ_s df(s)² over shingle document frequencies. On Zipfian or
    duplicate-heavy corpora prefer ``jaccard_similarity_join_prefix``
    (same results, candidates bounded by rare-shingle prefixes + PPJoin
    size/positional pruning) — or let
    ``jaccard_similarity_join_auto`` pick from the measured
    duplicate-heaviness ratio; measured: count-based wins on the plain
    synthetic corpus (2.1 s vs 3.1 s at sf0.1 — no hot shingles to
    defuse), prefix wins 1.8× once duplicates inflate df(s)² (30.3 s vs
    16.7 s at 10×-duplicated sf0.1, 50k docs / 250k true pairs)."""
    if _ex is not None:
        # pre-hashed exploded occurrences threaded in by the auto
        # dispatcher: (__id, __n, __s) off the probe's materialized
        # shingle table — identical values to the pipeline below, with
        # the corpus gram build already paid once by the probe
        ex = _ex
    else:
        df = _fan_out(df, id_col)
        # materialize the shingle table ONCE (same fix as
        # _minhash_bands): the exploded occurrences feed BOTH sides of
        # the co-occurrence self-join, and the former _barrier exchange
        # was duplicated per side at execution (per-branch pushed
        # predicates break canonical equality), tokenizing + shingling
        # the corpus twice. A/B at sf0.1: 2.0-2.5 → 1.1-1.6 s warm,
        # identical pairs.
        sh = (df.select(F.col(id_col).alias("__id"),
                        shingles_col(text_col, n).alias("__sh"))
                .withColumn("__n", F.size("__sh"))
                .select("__id", "__n", "__sh")
                .localCheckpoint(eager=True))
        # Join on xxhash64(shingle), not the shingle string: the join key
        # that shuffles twice (self-join) drops from ~n-gram-length bytes
        # to 8, and probe/compare are long-equality. Counts are unchanged
        # barring a 64-bit collision between two distinct shingles of the
        # same doc pair (~p²/2⁶⁵ — negligible, and deterministic
        # cross-run either way).
        ex = (sh.select("__id", "__n", F.explode("__sh").alias("__s0"))
                .select("__id", "__n", F.xxhash64("__s0").alias("__s")))
    if max_shingle_df is not None:
        dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        ex = (ex.join(dfreq.filter(F.col("__df") <= max_shingle_df), "__s"))
    pairs = (ex.alias("a").join(ex.alias("b"),
                                (F.col("a.__s") == F.col("b.__s"))
                                & (F.col("a.__id") < F.col("b.__id")))
               .groupBy(F.col("a.__id").alias("id_1"),
                        F.col("b.__id").alias("id_2"),
                        F.col("a.__n").alias("n1"),
                        F.col("b.__n").alias("n2"))
               .agg(F.count(F.lit(1)).alias("inter")))
    return (pairs.withColumn(
                "jaccard",
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter")))
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_1", "id_2", "jaccard"))


def jaccard_similarity_join_auto(df: DataFrame, text_col: str, id_col: str,
                                 n: int = 3, threshold: float = 0.5,
                                 max_shingle_df: int | None = None,
                                 dup_ratio_threshold: float = 8.0
                                 ) -> DataFrame:
    """Exact Jaccard join with AUTOMATIC physical-strategy selection —
    the documented default-selection rule between the count-based
    co-occurrence join and the PPJoin prefix-filtered join (both
    output-identical; equality-pinned in tests).

    The decider is the corpus's duplicate-heaviness ratio

        R = Σ_s C(df(s), 2) / Σ_s df(s)

    — candidate co-occurrence pairs per shingle occurrence, i.e. the
    count-based join's work amplification, from ONE explode+aggregate
    (the same Σ C(df,2) estimate the prefix join's broadcast gate
    runs — and when the prefix branch is chosen the probe's value is
    threaded through as that gate's estimate, so the corpus is scanned
    once for decision + gate; cost ≈ one scan, negligible next to
    either join). NOTE the probe aggregate runs EAGERLY at call time
    (the underlying functions also materialize their shingle table
    eagerly — one tokenize+shingle pass per call is the contract
    everywhere; only the probe/gate jobs differ between entry points).
    ``R <= dup_ratio_threshold`` → count-based (wins on near-unique
    corpora where the self-join is output-bounded and prefix ranking
    overhead dominates); above it → PPJoin (wins once hot/duplicated
    shingles inflate Σ df² super-linearly).

    Calibration (tools/scale_probe.py on sf0.1 and its ×N-replicated
    variants): R≈4.9 plain → count-based
    faster (2.1 s vs 3.1 s); R≈10 at 2× → PPJoin edges ahead (7.5 s vs
    8.7 s); R≈15 at 3× → wash; R≈26 at 5× → PPJoin 1.5× (8.8 s vs
    13.4 s); R≈52 at 10× → 1.8×; R≈105 at 20× → 1.5× (89.8 s vs
    136.5 s); R≈260 at 50× → 1.6× (547 s vs 885 s — and count-based
    needs a 48 g heap there; it OOMs at the default 8 g materializing
    ~R·T ≈ 3.4 B co-occurrence rows). The default threshold 8 sits in
    the measured crossover gap (4.9, 10.2); margins near it are small,
    so any misrouting there costs ~15%, while routing the
    duplicate-heavy regimes right is worth 1.5–1.8× and avoids the
    memory cliff. At 100 TB the ratio aggregate is map-side combinable
    and the decision costs one scan — or pass the strategy explicitly
    via the underlying functions to skip the probe scan entirely."""
    # The probe MATERIALIZES the hashed shingle table and its document-
    # frequency table: the dispatcher is eager by contract (the ratio
    # must be collected to route), and without it the routed branch
    # would re-run the whole corpus gram pipeline — tokenize, zip_with
    # gram build, hash — plus the dfreq aggregate from scratch
    # (exchange reuse never spans separate executions), so the corpus was
    # effectively scanned twice and shingled 2-3×. localCheckpoint here is
    # the same byte magnitude as the _barrier shuffle files the pipeline
    # already wrote (id + 8 B/shingle, text dropped) — the tier-3
    # broadcast-gate precedent — and both branches consume it directly:
    # the corpus is tokenized, shingled and hashed EXACTLY ONCE per call.
    sh = (_fan_out(df, id_col)
          .select(F.col(id_col).alias("__id"),
                  F.transform(shingles_col(text_col, n),
                              lambda s: F.xxhash64(s)).alias("__sh"))
          .withColumn("__n", F.size("__sh"))
          .select("__id", "__n", "__sh")
          .localCheckpoint(eager=True))
    ex = sh.select("__id", "__n", F.explode("__sh").alias("__s"))
    dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("__df") <= max_shingle_df)
    dfreq = dfreq.localCheckpoint(eager=True)
    r = dfreq.agg(
        F.sum("__df").alias("t"),
        F.sum(F.col("__df") * (F.col("__df") - 1) / 2).alias("p")
    ).collect()[0]
    ratio = (r["p"] or 0.0) / max(r["t"] or 0, 1)
    if ratio > dup_ratio_threshold:
        # reuse the probe's Σ C(df,2) as the prefix join's broadcast-gate
        # estimate (identical quantity over the identically-capped dfreq)
        # — the corpus is scanned once for the decision AND the gate
        return jaccard_similarity_join_prefix(
            df, text_col, id_col, n=n, threshold=threshold,
            max_shingle_df=max_shingle_df,
            _pair_estimate=float(r["p"] or 0.0),
            _sh=sh, _dfreq=dfreq)
    return jaccard_similarity_join(df, text_col, id_col, n=n,
                                   threshold=threshold,
                                   max_shingle_df=max_shingle_df,
                                   _ex=ex)


def jaccard_similarity_join_prefix(df: DataFrame, text_col: str, id_col: str,
                                   n: int = 3, threshold: float = 0.5,
                                   max_shingle_df: int | None = None,
                                   broadcast_candidates: bool | None = None,
                                   max_broadcast_candidates: int = 5_000_000,
                                   _pair_estimate: float | None = None,
                                   _sh: DataFrame | None = None,
                                   _dfreq: DataFrame | None = None
                                   ) -> DataFrame:
    """Exact Jaccard join via PREFIX FILTERING (Bayardo et al., "Scaling
    Up All Pairs Similarity Search", WWW'07): under a global rarest-first
    shingle order, any pair with J ≥ t must share a shingle within each
    doc's first ``|d| − ⌈t·|d|⌉ + 1`` shingles, so the candidate self-join
    explodes ONLY prefixes; candidates are verified with exact
    ``array_intersect`` Jaccard (results identical to the count-based
    form — equality-pinned in tests).

    When to choose which: the candidate join here is bounded by
    rare-shingle document frequencies — the win on Zipfian and
    duplicate-heavy corpora where hot shingles make Σ df(s)² explode.
    Measured (post-PPJoin): 16.7 s vs the count-based form's 30.3 s at
    10×-duplicated sf0.1 (50k docs / 250k true pairs), 3.1 s vs 2.1 s on
    the plain sf0.1 corpus — count-based stays the default only because
    the plain corpus has no skew to defuse.

    ``max_shingle_df`` here drops candidate GENERATION by hot shingles
    only: surviving pairs keep exact scores (unlike the count-based cap,
    which biases scores).

    Candidate pruning beyond the prefix filter (both exactness-preserving
    — they only ever drop pairs the exact verify would reject, PPJoin,
    Xiao et al. WWW'08): the SIZE filter (J ≥ t ⇒ t·|A| ≤ |B|) and the
    POSITIONAL filter (for the first shared prefix shingle at positions
    p_a/p_b under the global rarest-first order, overlap ≤ min(n1−p_a,
    n2−p_b)+1, which must reach α = t/(1+t)·(n1+n2)). Bounds carry a 1e-9
    slack so float rounding can only ADMIT extra candidates, never drop a
    boundary pair. Measured at sf0.1: 409k → 26k candidates, verify
    8.6 s → 2.6 s. Verification ships xxhash64-hashed shingle arrays
    (8 B/element instead of the n-gram strings) and broadcasts the
    candidate pair list (two ints/row) so the shingle table is never
    re-shuffled by id.

    The candidate set's size is data-dependent (duplicate-heavy corpora —
    the regime this function is recommended for — produce the most
    pairs), so an UNCONDITIONAL broadcast risks driver OOM / the 8 GB
    broadcast hard limit exactly where the function is recommended.
    Default (``broadcast_candidates=None``): a one-aggregate upper
    bound on the candidate count (Σ C(prefix_df, 2) over the prefix
    set) gates the broadcast at ``max_broadcast_candidates`` (default
    5M pairs ≈ 80 MB at 16 B/row); above it the verify runs as a
    shuffle join — graceful degradation. Explicit True/False skips the
    estimate job entirely."""
    _gate_input = df
    if _sh is not None:
        # materialized (__id, __n, __sh-hashed) + capped dfreq threaded in
        # by the auto dispatcher — the corpus gram pipeline already
        # ran exactly once, in the probe
        sh, dfreq = _sh, _dfreq
        ex = sh.select("__id", "__n", F.explode("__sh").alias("__s"))
    else:
        df = _fan_out(df, id_col)
        # hash shingles to longs ONCE, row-side: every downstream consumer
        # (df-count join, self-join keys, verify intersect) works on 8-byte
        # longs; collision odds ~p²/2⁶⁵, deterministic either way
        sh = (df.select(F.col(id_col).alias("__id"),
                        F.transform(shingles_col(text_col, n),
                                    lambda s: F.xxhash64(s)).alias("__sh"))
                .withColumn("__n", F.size("__sh"))
                .select("__id", "__n", "__sh"))
        # Materialize the shingle table once (for the gated default
        # path — the gate's eager estimate job would otherwise re-run
        # the whole tokenize+gram+hash pipeline at action, measured as
        # ~1.5 s of the 4.3 s warm query at sf0.1; and for the
        # explicit True/False path too: the prefix window, both
        # verify sides and the dfreq aggregate all consume ``sh``, and
        # a plain _barrier exchange is not reliably shared across those
        # branches — per-branch pushed predicates break canonical
        # equality and the corpus is shingled more than once, the same
        # duplication measured on the count-based join). Same byte
        # magnitude as the _barrier shuffle files either way.
        sh = sh.localCheckpoint(eager=True)
        ex = sh.select("__id", "__n", F.explode("__sh").alias("__s"))
        dfreq = ex.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
        if max_shingle_df is not None:
            dfreq = dfreq.filter(F.col("__df") <= max_shingle_df)
        if broadcast_candidates is None and _pair_estimate is None:
            # the tier-2 estimate below aggregates dfreq eagerly; the
            # final ranked join reads it again — materialize once
            dfreq = dfreq.localCheckpoint(eager=True)
    ranked = ex.join(dfreq, "__s")   # inner: capped shingles drop out here
    w = Window.partitionBy("__id").orderBy(F.col("__df").asc(),
                                           F.col("__s").asc())
    prefix_len = (F.col("__n")
                  - F.ceil(F.lit(threshold) * F.col("__n")) + 1)
    pref = (ranked.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= prefix_len)
                  .select("__id", "__n", "__s", "__rn"))
    alpha = (F.lit(threshold / (1.0 + threshold))
             * (F.col("a.__n") + F.col("b.__n")) - F.lit(1e-9))
    overlap_ub = (F.least(F.col("a.__n") - F.col("a.__rn"),
                          F.col("b.__n") - F.col("b.__rn")) + 1)
    cand = (pref.alias("a").join(
                pref.alias("b"),
                (F.col("a.__s") == F.col("b.__s"))
                & (F.col("a.__id") < F.col("b.__id"))
                # size filter: t·max(n1,n2) ≤ min(n1,n2)
                & (F.col("b.__n")
                   >= F.lit(threshold) * F.col("a.__n") - F.lit(1e-9))
                & (F.col("a.__n")
                   >= F.lit(threshold) * F.col("b.__n") - F.lit(1e-9))
                # positional filter: best-case overlap must reach α
                & (overlap_ub >= alpha))
                .select(F.col("a.__id").alias("id_1"),
                        F.col("b.__id").alias("id_2"))
                .distinct())
    if broadcast_candidates is None:
        # Two-tier gate. Tier 1: C(n_docs, 2) bounds candidates for ANY
        # data — a limit-bounded doc count over the PRE-fan-out input
        # (early-terminating scan, no shuffle) clears small corpora
        # without touching the shingle pipeline.
        import math
        safe_n = int((1 + math.isqrt(1 + 8 * max_broadcast_candidates))
                     // 2)
        n_docs = _gate_input.select(F.lit(1)).limit(safe_n + 1).count()
        if n_docs <= safe_n:
            broadcast_candidates = True
    if broadcast_candidates is None:
        # Tier 2: Σ_s C(df(s), 2) over the (capped) shingle document
        # frequencies counts every same-shingle (id_a < id_b) tuple — a
        # superset of the prefix-filtered candidates, from one
        # explode+aggregate (no window, no self-join; the verify plan
        # below stays byte-identical to the forced-broadcast one).
        # Overestimating on duplicate-heavy corpora can only demote to
        # the shuffle join — graceful degradation, never a driver OOM.
        # ``_pair_estimate`` (jaccard_similarity_join_auto) carries the
        # SAME quantity already computed by the routing probe over the
        # identically-capped dfreq — reuse it instead of re-scanning.
        est = (_pair_estimate if _pair_estimate is not None else
               (dfreq.agg(F.sum(F.col("__df") * (F.col("__df") - 1) / 2)
                           .alias("p")).collect()[0]["p"]) or 0)
        broadcast_candidates = est <= max_broadcast_candidates
        if not broadcast_candidates:
            # Tier 3: the tier-2 bound counts every same-shingle
            # pair BEFORE prefix/size/positional filtering and can
            # overshoot the real candidate count by 50x on exactly the
            # duplicate-heavy corpora this join is recommended for
            # (sf0.1 doubled: bound 5.3M vs ~80k actual -> demoted to a
            # shuffle verify measured 1.6x slower). The candidate list
            # must be computed for the verify either way, so when the
            # cheap bound fails, materialize it once and gate on its
            # TRUE size — the checkpoint is the same magnitude the
            # shuffle files of the demoted join would have been, and
            # the verify below reuses the materialized blocks instead
            # of re-running the prefix self-join.
            cand = cand.localCheckpoint(eager=True)
            broadcast_candidates = cand.count() <= max_broadcast_candidates
    inter = F.size(F.array_intersect(F.col("sa.__sh"), F.col("sb.__sh")))
    union = (F.size(F.col("sa.__sh")) + F.size(F.col("sb.__sh")) - inter)
    if broadcast_candidates:
        cand = F.broadcast(cand)
    return (cand
                .join(sh.alias("sa"), F.col("id_1") == F.col("sa.__id"))
                .join(sh.alias("sb"), F.col("id_2") == F.col("sb.__id"))
                .withColumn("jaccard", inter.cast("double") / union)
                .filter(F.col("jaccard") >= threshold)
                .select("id_1", "id_2", "jaccard"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, text_col: str,
                  id_col: str, n: int = 3, threshold: float = 0.8,
                  round_to: int = 6) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3/Pile preprocessing step): for
    every corpus document, the fraction of its distinct n-gram shingles
    that appear anywhere in the BENCHMARK set — exact containment, the
    overlap metric used to strip evaluation data out of training corpora.
    Returns (id, overlap, contaminated) for every corpus row; the flag
    cuts on the ROUNDED overlap so membership is engine-independent.

    Scale shape: the benchmark shingle set is tiny by definition (eval
    suites, not corpora) and BROADCASTS; the corpus is ONE scan → explode
    → broadcast-hash semi-match → per-doc count. No self-join, no
    corpus-sized shuffle — cost is linear in corpus shingles at any
    corpus size. Shingle keys are xxhash64 longs (8 B through the one
    exchange; ~p²/2⁶⁵ collision odds, same trade as the Jaccard joins).
    """
    b_sh = (benchmark
            .select(F.explode(shingles_col(text_col, n)).alias("__s0"))
            .select(F.xxhash64("__s0").alias("__s")).distinct())
    # materialize the corpus shingle table ONCE (same fix as
    # _minhash_bands): the hit-count explode and the final per-doc
    # (id, n) join both consume it, and the former _barrier exchange
    # was duplicated per branch at execution (per-branch pushed
    # IsNotNull predicates break canonical equality → no reuse), so
    # the corpus was tokenized + shingled twice. A/B at sf0.1:
    # 2.1-2.4 → 1.0-1.3 s warm, identical overlaps.
    c_sh = (_fan_out(corpus, id_col)
            .select(F.col(id_col).alias("__id"),
                    shingles_col(text_col, n).alias("__sh"))
            .withColumn("__n", F.size("__sh"))
            .localCheckpoint(eager=True))
    ex = (c_sh.select("__id", "__n", F.explode("__sh").alias("__s0"))
              .select("__id", "__n", F.xxhash64("__s0").alias("__s")))
    hits = (ex.join(F.broadcast(b_sh), "__s")
              .groupBy("__id").agg(F.count(F.lit(1)).alias("__k")))
    overlap = F.round(F.coalesce(F.col("__k"), F.lit(0))
                      / F.col("__n"), round_to)
    return (c_sh.select("__id", "__n")
            .join(hits, "__id", "left")
            .withColumn("overlap", overlap)
            .select(F.col("__id").alias(id_col), "overlap",
                    (F.col("overlap") >= threshold).alias("contaminated")))


# --------------------------------------------------------------------------
# SimHash (64-bit, xxhash64 bit-vote)
# --------------------------------------------------------------------------

def simhash64(tokens: Column) -> Column:
    """64-bit SimHash: for each bit, sum ±1 votes of each distinct token's
    xxhash64; bit set iff vote > 0. Pure Catalyst (64 aggregates over the
    token array — no shuffle, no UDF)."""
    hashes = F.transform(F.array_distinct(tokens), lambda t: F.xxhash64(t))

    def _vote_fn(bit: int):
        # NB: bind via closure, NOT a default arg — PySpark derives the
        # higher-order-function arity from the lambda's parameter count, so
        # a `b=b` default would receive a third lambda Column.
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    bits = []
    for b in range(64):
        vote = F.aggregate(hashes, F.lit(0), _vote_fn(b))
        bits.append(F.when(vote > 0, F.shiftleft(F.lit(1).cast("long"), b))
                     .otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for x in bits[1:]:
        out = out.bitwiseOR(x)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str,
                          max_hamming: int = 3,
                          max_block_size: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Block on ``max_hamming + 1`` chunks of ``60 // (max_hamming + 1)``
    bits (pigeonhole: ≤h differing bits cannot touch all h+1 chunks, so
    at least one chunk is identical), join per block, verify Hamming —
    the standard scalable simhash dedup layout (one shuffle on chunk
    value). Using the MINIMAL chunk count for the requested radius
    makes each chunk as wide — i.e. as selective — as the guarantee
    allows: at the default h=2 that is 3×20-bit chunks, whose random
    collision rate is 32× lower than the 4×15 layout a fixed h=3
    split would use (measured at sf0.1: 2.94M candidate pairs → far
    fewer for the identical 126,920 verified pairs, 2.56 → 2.12 s
    warm; the verified output is provably identical — blocking only
    affects candidate recall, which pigeonhole guarantees either way).

    Hot path avoids the per-row ``simhash64`` expression (64 interpreted
    HOF folds per row, ~5s of 7s at sf0.1): explode distinct tokens, hash
    each once, and take the bit-votes as scalar conditional sums in a
    hash aggregate — whole-stage codegen throughout, map-side partial
    aggregation bounding the shuffle at docs × bits longs.

    The signature is 60-bit: token hash = first 15 md5 hex chars parsed as
    int, which fits SIGNED 64-bit in every engine (a full 64-bit value
    would overflow DuckDB's BIGINT parse), so the whole pipeline —
    signatures, blocking, Hamming — is reproducible in SQL and the
    declared query is oracle-checked rather than rows-only."""
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming} outside the supported pigeonhole "
            "range 0..3 (max_hamming+1 chunks must divide the 60-bit "
            "signature evenly and stay selective; 4 chunks of 15 bits "
            "is the widest supported cover, and a negative radius has "
            "no chunk cover at all)")
    bits_n = 60
    toks = (_fan_out(df, id_col)
            .select(F.col(id_col).alias("__id"),
                    F.explode(F.array_distinct(tokens_col(text_col)))
                     .alias("__t"))
            .select("__id",
                    F.conv(F.substring(F.md5("__t"), 1, 15), 16, 10)
                     .cast("long").alias("__h")))
    # Lane-packed bit votes: summing 60 separate ±1 columns compiles a
    # 60-buffer hash aggregate (~8 s of whole-stage codegen cold, measured).
    # Instead sum the RAW bit (0/1) of bits b, b+20, b+40 packed into three
    # 16-bit lanes of one long → 20 aggregate buffers, same map-side
    # partial-agg shuffle bound. vote_b > 0 ⇔ 2*ones_b > n_tokens. Lane
    # bound: ones ≤ n ≤ 65535 distinct tokens per doc (docs are chunked
    # far below this; lane sum peaks < 2^49, no overflow).
    # The bit expressions are rendered as SQL STRINGS parsed JVM-side in
    # a handful of F.expr calls: per-bit Column arithmetic issued
    # thousands of Py4J round trips and cost ~1.5 s of DRIVER time per
    # plan construction.
    # Expression semantics are unchanged operator-for-operator
    # (shiftleft/shiftright/&/CASE), so the signatures are bit-identical.
    lanes, groups = 3, 20
    packed = [F.expr(
        "sum(" + " + ".join(
            f"shiftleft(shiftright(__h, {b + groups * j}) & 1, {16 * j})"
            for j in range(lanes)) + ")").alias(f"__p{b}")
        for b in range(groups)]
    votes = toks.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"), *packed)
    ones = [f"(shiftright(__p{b % groups}, {16 * (b // groups)}) & 65535)"
            for b in range(bits_n)]
    bits = [f"(CASE WHEN {ones[b]} * 2 > __n THEN shiftleft(CAST(1 AS "
            f"BIGINT), {b}) ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits_n)]
    sig = F.expr(" | ".join(bits))
    # materialize the (id, signature) table ONCE (same fix as
    # _minhash_bands): the pigeonhole blocks read it n_chunks times on
    # EACH side of the self-join, and the former _barrier exchange was
    # not reliably shared across those branches (per-branch pushed
    # predicates break canonical equality), re-running the md5+vote
    # signature pipeline. 8 B/doc payload; A/B at sf0.1 (max_hamming=3):
    # 4.2-6.7 → 3.8-4.7 s warm, identical pairs.
    base = votes.select("__id", sig.alias("__sh")).localCheckpoint(
        eager=True)
    n_chunks = max_hamming + 1            # minimal pigeonhole cover
    width = bits_n // n_chunks            # 60 divides by 1..4
    blocks = []
    for c in range(n_chunks):
        chunk = (F.shiftrightunsigned(F.col("__sh"), c * width)
                  .bitwiseAND(F.lit((1 << width) - 1)))
        blocks.append(base.select("__id", "__sh", F.lit(c).alias("__blk"),
                                  chunk.alias("__chunk")))
    b = blocks[0]
    for x in blocks[1:]:
        b = b.unionByName(x)
    if max_block_size is not None:
        # same skew guard as minhash buckets: a hot 15-bit chunk value
        # (e.g. every near-empty doc) would put O(B²) pairs on one reducer
        counts = b.groupBy("__blk", "__chunk").agg(
            F.count(F.lit(1)).alias("__bn"))
        b = (b.join(counts.filter(F.col("__bn") <= max_block_size),
                    ["__blk", "__chunk"])
              .drop("__bn"))
    cand = (b.alias("a").join(b.alias("b"),
                              (F.col("a.__blk") == F.col("b.__blk"))
                              & (F.col("a.__chunk") == F.col("b.__chunk"))
                              & (F.col("a.__id") < F.col("b.__id")))
             .select(F.col("a.__id").alias("id_1"), F.col("b.__id").alias("id_2"),
                     F.col("a.__sh").alias("sh1"), F.col("b.__sh").alias("sh2")))
    # hamming BEFORE the dedup: a pair surviving via two blocks has the
    # same hamming in both copies, so distinct() on the 3 narrow output
    # columns is correct and the dedup shuffle drops the signature payload
    return (cand.withColumn("hamming", hamming64(F.col("sh1"), F.col("sh2")))
                .filter(F.col("hamming") <= max_hamming)
                .select("id_1", "id_2", "hamming")
                .distinct())


# --------------------------------------------------------------------------
# embedding-space similarity
# --------------------------------------------------------------------------

def _auto_num_blocks(df: DataFrame, pairs_per_task: int = 16_000_000) -> int:
    """Self-enforcing memory contract for the blocked-matmul pair ops:
    per-task similarity matrix is (n/B)^2 doubles, so B >= n/sqrt(budget)
    caps it at ``pairs_per_task`` (~128 MB of float64 at the default);
    B >= sqrt(2*parallelism) keeps B(B+1)/2 groups >= cores so the stage
    actually parallelizes on small corpora. Replication factor is B per
    row — the cap at 512 bounds it (at that size an ANN/LSH path should
    be preferred anyway). Costs one count() of the input."""
    import math

    n = df.count()
    p = df.sparkSession.sparkContext.defaultParallelism
    b_mem = math.ceil(n / max(1, int(math.sqrt(pairs_per_task))))
    b_par = math.ceil(math.sqrt(2 * p))
    return max(1, min(512, max(b_mem, b_par)))


def cosine_topk_pairs(df: DataFrame, vector_col: str, id_col: str,
                      k: int = 20, round_to: int = 2,
                      num_blocks: int | None = None) -> DataFrame:
    """Top-k most-similar pairs (id_1 < id_2) by rounded cosine, tiebroken
    on ids. Exact — every pair is scored — but via BLOCKED MATRIX MULTIPLY:

    rows are hashed into ``num_blocks`` blocks; each of the B(B+1)/2 block
    pairs becomes one ``applyInPandas`` group that computes the full
    cross-block similarity matrix with one numpy matmul (BLAS, all pairs of
    the group in a single vectorized kernel) and emits only its LOCAL top-k
    under the same (rounded sim desc, id_1, id_2) total order as the final
    global top-k — so the union of local winners provably contains the
    global winners. Replication factor is B per row; per-task memory is
    (n/B)² doubles, so pick ``num_blocks`` ≈ n·√(pairs-per-task-budget)⁻¹
    at scale. vs the per-row zip_with/aggregate cross-join: 35s → ~2s on
    sf0.1 (2k×64-dim), and the gap grows quadratically with n."""
    import numpy as np
    import pandas as pd

    B = num_blocks if num_blocks is not None else _auto_num_blocks(df)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_1 {id_type}, id_2 {id_type}, cos_sim double"

    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(B)).cast("int")
    base = df.select(F.col(id_col).alias("__id"),
                     F.col(vector_col).alias("__v"), blk.alias("__blk"))
    # block b joins group (i,j) [i<=j] as 'a' when b==i, as 'b' when b==j;
    # diagonal groups get one copy and pair internally.
    lefts = base.select(
        "__id", "__v",
        F.explode(F.transform(F.sequence(F.col("__blk"), F.lit(B - 1)),
                              lambda j: F.col("__blk") * B + j)).alias("__gk"),
        F.lit("a").alias("__role"))
    rights = base.filter(F.col("__blk") > 0).select(
        "__id", "__v",
        F.explode(F.transform(F.sequence(F.lit(0), F.col("__blk") - 1),
                              lambda i: i * B + F.col("__blk"))).alias("__gk"),
        F.lit("b").alias("__role"))
    rep = lefts.unionByName(rights)

    scale = 10 ** round_to

    def _round_half_up(x: np.ndarray) -> np.ndarray:
        # match Spark/DuckDB ROUND (half away from zero); np.round is
        # banker's and would drift on exact .5 boundaries
        return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale

    _EMPTY = pd.DataFrame({"id_1": [], "id_2": [], "cos_sim": []})

    def _local_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # the group key, not role presence, decides the pairing mode: group
        # gk covers block-pair (i, j) = (gk // B, gk % B). A sparse hash
        # block leaves off-diagonal groups one-sided (block j empty → no
        # role-'b' rows); such a group must emit NOTHING — falling back to
        # intra-block pairing would re-emit block i's pairs once per empty
        # partner block.
        gk = key[0]
        i, j = gk // B, gk % B
        a = pdf[pdf["__role"] == "a"]
        b = pdf[pdf["__role"] == "b"]
        if i == j:
            if len(a) < 2:
                return _EMPTY
        elif a.empty or b.empty:
            return _EMPTY
        ids_a = a["__id"].to_numpy()
        Va = np.stack(a["__v"].to_numpy()).astype(np.float64)
        Va /= np.linalg.norm(Va, axis=1, keepdims=True)
        if i != j:                      # off-diagonal: full cross product
            ids_b = b["__id"].to_numpy()
            Vb = np.stack(b["__v"].to_numpy()).astype(np.float64)
            Vb /= np.linalg.norm(Vb, axis=1, keepdims=True)
            sims = (Va @ Vb.T).ravel()
            I = np.repeat(ids_a, len(ids_b))
            J = np.tile(ids_b, len(ids_a))
        else:                           # diagonal: upper triangle of block
            iu, ju = np.triu_indices(len(ids_a), 1)
            sims = (Va @ Va.T)[iu, ju]
            I, J = ids_a[iu], ids_a[ju]
        id1, id2 = np.minimum(I, J), np.maximum(I, J)
        r = _round_half_up(sims)
        order = np.lexsort((id2, id1, -r))[:k]
        return pd.DataFrame({"id_1": id1[order], "id_2": id2[order],
                             "cos_sim": r[order]})

    local = rep.groupBy("__gk").applyInPandas(_local_topk, schema=out_schema)
    return (local.orderBy(F.col("cos_sim").desc(), F.col("id_1").asc(),
                          F.col("id_2").asc())
                 .limit(k))


def cosine_threshold_pairs(df: DataFrame, vector_col: str, id_col: str,
                           threshold: float, round_to: int = 6,
                           num_blocks: int | None = None) -> DataFrame:
    """All pairs (id_1 < id_2) with ROUNDED cosine ≥ threshold — exact
    coverage via the same hash-blocked matmul as ``cosine_topk_pairs``
    (thresholding on the rounded value keeps the cut engine-independent:
    an unrounded float within 1e-16 of the threshold must not flip)."""
    import numpy as np
    import pandas as pd

    B = num_blocks if num_blocks is not None else _auto_num_blocks(df)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_1 {id_type}, id_2 {id_type}, cos_sim double"

    blk = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(B)).cast("int")
    base = df.select(F.col(id_col).alias("__id"),
                     F.col(vector_col).alias("__v"), blk.alias("__blk"))
    lefts = base.select(
        "__id", "__v",
        F.explode(F.transform(F.sequence(F.col("__blk"), F.lit(B - 1)),
                              lambda j: F.col("__blk") * B + j)).alias("__gk"),
        F.lit("a").alias("__role"))
    rights = base.filter(F.col("__blk") > 0).select(
        "__id", "__v",
        F.explode(F.transform(F.sequence(F.lit(0), F.col("__blk") - 1),
                              lambda i: i * B + F.col("__blk"))).alias("__gk"),
        F.lit("b").alias("__role"))
    rep = lefts.unionByName(rights)
    scale = 10 ** round_to

    _EMPTY = pd.DataFrame({"id_1": [], "id_2": [], "cos_sim": []})

    def _filter_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # same key-driven mode selection as cosine_topk_pairs: an
        # off-diagonal group with an empty 'b' side emits nothing (see
        # _local_topk comment — intra-block fallback would duplicate pairs)
        gk = key[0]
        i, j = gk // B, gk % B
        a = pdf[pdf["__role"] == "a"]
        b = pdf[pdf["__role"] == "b"]
        if i == j:
            if len(a) < 2:
                return _EMPTY
        elif a.empty or b.empty:
            return _EMPTY
        ids_a = a["__id"].to_numpy()
        Va = np.stack(a["__v"].to_numpy()).astype(np.float64)
        Va /= np.linalg.norm(Va, axis=1, keepdims=True)
        if i != j:
            ids_b = b["__id"].to_numpy()
            Vb = np.stack(b["__v"].to_numpy()).astype(np.float64)
            Vb /= np.linalg.norm(Vb, axis=1, keepdims=True)
            sims = (Va @ Vb.T).ravel()
            I = np.repeat(ids_a, len(ids_b))
            J = np.tile(ids_b, len(ids_a))
        else:
            iu, ju = np.triu_indices(len(ids_a), 1)
            sims = (Va @ Va.T)[iu, ju]
            I, J = ids_a[iu], ids_a[ju]
        r = np.sign(sims) * np.floor(np.abs(sims) * scale + 0.5) / scale
        keep = r >= threshold
        return pd.DataFrame({"id_1": np.minimum(I, J)[keep],
                             "id_2": np.maximum(I, J)[keep],
                             "cos_sim": r[keep]})

    return rep.groupBy("__gk").applyInPandas(_filter_pairs, schema=out_schema)


def cosine_neardup_pairs(df: DataFrame, vector_col: str, id_col: str,
                         threshold: float = 0.95, round_to: int = 9,
                         num_blocks: int = 8) -> DataFrame:
    """All pairs with (rounded) cosine ≥ threshold — exact coverage.

    Delegates to the hash-blocked BLAS plan (``cosine_threshold_pairs``):
    the earlier theta-join spelling (``a.join(b, id_1 < id_2)``) shipped
    every O(n²) pair through the join machinery with an interpreted HOF
    cosine per pair — correct but quadratic through the slowest path; the
    blocked form covers the same pair space in B(B+1)/2 matmul groups.
    ``round_to`` defaults high (9 dp) so the threshold cut matches the
    old unrounded behavior to float precision."""
    return cosine_threshold_pairs(df, vector_col, id_col,
                                  threshold=threshold, round_to=round_to,
                                  num_blocks=num_blocks)


def lsh_planes(dim: int, num_planes: int, seed: int = 42):
    """The deterministic Gaussian hyperplanes (shared with the DuckDB
    oracle, which embeds them as literals — same seed, same numpy call)."""
    import numpy as np
    return np.random.default_rng(seed).standard_normal((num_planes, dim))


def hyperplane_lsh_neardup(df: DataFrame, vector_col: str, id_col: str,
                           dim: int, threshold: float = 0.9,
                           num_planes: int = 16, seed: int = 42,
                           round_to: int | None = None) -> DataFrame:
    """Scale path for cosine near-dup: random-hyperplane signature (sign of
    dot with ``num_planes`` seeded Gaussian vectors) buckets candidates; ONE
    shuffle on the bucket key, BLAS verify inside each bucket. Recall < 1 by
    construction (LSH); the brute-force op above is the recall reference.
    ``round_to`` rounds the cosine BEFORE thresholding (cross-engine
    determinism, same half-away-from-zero as the blocked ops).

    The verify is ``applyInPandas`` over the signature — one numpy matmul
    per bucket — NOT a self-join: a join spelling puts the O(dim) cosine
    into the join condition (PushPredicateThroughJoin), where it runs
    outside whole-stage codegen once per candidate pair (measured 27s vs
    0.6s here on sf0.1). Per-task memory is (bucket size)² doubles;
    ``num_planes`` governs bucket granularity (2^planes buckets), the same
    knob/memory contract as ``num_blocks`` in cosine_threshold_pairs."""
    planes = lsh_planes(dim, num_planes, seed)
    weights = np.left_shift(1, np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf("long")
    def _signature(vs: pd.Series) -> pd.Series:
        # bit i set when the dot with plane i is > 0; a NULL vector has
        # no bits set
        valid = vs.notna().to_numpy()
        sig = np.zeros(len(vs), dtype=np.int64)
        sig[valid] = ((_matrix(vs.to_numpy()[valid], dim) @ planes.T) > 0) \
            @ weights
        return pd.Series(sig)

    base = df.select(F.col(id_col).alias("__id"),
                     F.col(vector_col).alias("__v"),
                     _signature(F.col(vector_col)).alias("__sig"))

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_1 {id_type}, id_2 {id_type}, cos_sim double"
    scale = 10 ** round_to if round_to is not None else None
    _EMPTY = pd.DataFrame({"id_1": [], "id_2": [], "cos_sim": []})

    def _verify(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _EMPTY
        ids = pdf["__id"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        n = np.linalg.norm(V, axis=1, keepdims=True)
        V /= np.where(n == 0, 1.0, n)
        iu, ju = np.triu_indices(len(ids), 1)
        sims = (V @ V.T)[iu, ju]
        I, J = ids[iu], ids[ju]
        id1, id2 = np.minimum(I, J), np.maximum(I, J)
        if scale is not None:   # half away from zero, matching Spark ROUND
            sims = np.sign(sims) * np.floor(np.abs(sims) * scale + 0.5) / scale
        keep = sims >= threshold
        return pd.DataFrame({"id_1": id1[keep], "id_2": id2[keep],
                             "cos_sim": sims[keep]})

    return base.groupBy("__sig").applyInPandas(_verify, schema=out_schema)


def semantic_dedup(df: DataFrame, vector_col: str, id_col: str, dim: int,
                   threshold: float = 0.8, num_planes: int = 8,
                   seed: int = 42, round_to: int | None = 6,
                   max_iter: int = 25) -> DataFrame:
    """SEMANTIC deduplication (SemDeDup — Abbas et al., "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication",
    arXiv:2303.09540): drop documents whose EMBEDDINGS are near-identical
    even when their text differs (paraphrases, templated rewrites,
    boilerplate variants) — the dedup layer lexical MinHash/SimHash
    cannot see. Returns the SURVIVING rows of ``df``.

    Formulation: the paper clusters with k-means and prunes within
    clusters; here the clusters are deterministic random-hyperplane LSH
    buckets (seeded, md5-free but fully replayable — the same
    construction ``hyperplane_lsh_neardup`` ships), so the entire
    pipeline stays engine-independent and oracle-checkable. Within-bucket
    exact rounded-cosine pairs >= ``threshold`` form the semantic-dup
    graph; connected components collapse transitive groups (A~B, B~C
    drops C even when A~C was never emitted); the min-id member of each
    component survives — the same deterministic canonical-keep rule as
    ``exact_dedup``.

    Scale shape: pair generation is ONE shuffle on the signature key with
    a per-bucket BLAS verify (see hyperplane_lsh_neardup's memory
    contract); components converge in O(log n) pointer-jump rounds
    (operators/graph); the doomed set is near-dup-count-sized, so the
    final anti-join's right side is small — left unhinted for AQE's
    runtime broadcast decision."""
    from pydata_vector_search_spark.operators.graph import \
        connected_components

    pairs = hyperplane_lsh_neardup(df, vector_col, id_col, dim=dim,
                                   threshold=threshold,
                                   num_planes=num_planes, seed=seed,
                                   round_to=round_to)
    comps = connected_components(pairs, src="id_1", dst="id_2",
                                 max_iter=max_iter)
    doomed = (comps.filter(F.col("node") != F.col("component"))
                   .select(F.col("node").alias("__doomed")))
    return df.join(doomed, df[id_col] == F.col("__doomed"), "left_anti")


def cross_dedup_minhash(corpus: DataFrame, reference: DataFrame,
                        text_col: str, id_col: str,
                        n: int = 3, num_hashes: int = 12, bands: int = 4,
                        threshold: float = 0.5,
                        max_bucket_df: int | None = None) -> DataFrame:
    """CROSS-corpus near-dup removal: drop corpus documents that are
    near-duplicates (exact Jaccard >= threshold, LSH-candidates) of ANY
    document in ``reference`` — "dedup the new crawl against what we
    already trained on", the incremental sibling of self-dedup (and the
    fuzzy generalization of ``decontaminate``'s exact containment).
    Returns the surviving corpus rows.

    Plan: both sides run the shared minhash band pipeline
    (``_minhash_bands`` — same md5-deterministic permutations, so one
    side's signatures are directly joinable against the other's);
    candidates come from a band-key EQUI-join corpus×reference (shuffle
    bounded by band-key co-occurrences, never |corpus|·|ref|); exact
    shingle-array Jaccard verifies; the doomed id set anti-joins back.
    ``max_bucket_df`` caps the REFERENCE-side frequency of a band key —
    the hot-bucket guard for boilerplate-heavy reference sets (same
    recall trade as minhash_neardup_pairs' max_bucket_size)."""
    cb, cbase = _minhash_bands(corpus, text_col, id_col, n, num_hashes,
                               bands)
    rb, rbase = _minhash_bands(reference, text_col, id_col, n, num_hashes,
                               bands)
    rb = rb.select(F.col("__id").alias("__rid"), "__band", "__key")
    if max_bucket_df is not None:
        freq = (rb.groupBy("__band", "__key")
                  .agg(F.count(F.lit(1)).alias("__f"))
                  .filter(F.col("__f") <= max_bucket_df)
                  .drop("__f"))
        rb = rb.join(freq, ["__band", "__key"])
    cand = (cb.join(rb, ["__band", "__key"])
              .select(F.col("__id").alias("__cid"), "__rid")
              .distinct())
    inter = F.size(F.array_intersect(F.col("ca.__sh"), F.col("rb.__sh")))
    union = (F.size(F.col("ca.__sh")) + F.size(F.col("rb.__sh")) - inter)
    doomed = (cand
              .join(cbase.alias("ca"), F.col("__cid") == F.col("ca.__id"))
              .join(rbase.alias("rb"), F.col("__rid") == F.col("rb.__id"))
              .filter(inter.cast("double") / union >= threshold)
              .select(F.col("__cid").alias("__doomed"))
              .distinct())
    return corpus.join(doomed, corpus[id_col] == F.col("__doomed"),
                       "left_anti")
