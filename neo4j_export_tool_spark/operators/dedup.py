"""Deduplication family for training-data pipelines.

Five tiers, all DataFrame-native:

- ``exact_dedup``       — sha256(content) hash-groupBy.
- ``jaccard_pairs``     — the one exact word-shingle Jaccard join.  No cap:
                          PPJoin-style prefix filter → exact verify.  With
                          a ``max_shingle_df`` cap: stop-shingle prune →
                          bounded-df pair enumeration (pruned semantics).
- ``minhash_lsh_pairs`` — MinHash signatures → LSH band explode → bucket
                          equi-join → exact-Jaccard verification.  The 100 TB
                          path: candidate generation touches only docs that
                          share a band bucket.  ``minhash_lsh_pairs_from_sets``
                          is the same path over a precomputed shingle-set
                          table (char shingles in canonicalization).
- ``simhash_fingerprints`` — 32-bit SimHash fingerprints.
- ``embedding_neardup_pairs`` — exact cosine near-duplicates over an
                          embedding column (blocked GEMM filter + exact
                          re-verify; the ANN module provides the bucketed
                          scale path).

``duplicated_ngram_spans`` adds substring-level (word n-gram span) dedup.

The similarity joins share two steps (the candidate-then-verify pattern of
the set-similarity-join literature): `_candidate_pairs`, the one posting
self-join (the prefix join, MinHash's band buckets and
`operators.ann.hyperplane_lsh_pairs`'s sign buckets), and
`_verified_pairs`, the one exact verify join (the Jaccard verify here and
the hyperplane cosine verify).

Thresholds are evaluated in INTEGER arithmetic (``100*shared >=
t*(na+nb-shared)``) so results are bit-stable across engines.

Scale notes: shingle postings shuffle on shingle hash — frequent shingles
create skew.  The exact prefix join keeps hot shingles out of almost every
prefix (rare-first order); the capped form drops shingles with document
frequency above ``max_shingle_df`` (stop-shingle pruning, standard in the
distributed set-similarity-join literature — see PAPERS.md: "Set Similarity
Joins on MapReduce: An Experimental Survey", VLDB 2018, and "Scalable and
Robust Set Similarity Join", ICDE 2018 — high-df tokens generate O(df²)
candidate pairs while carrying almost no signal).  LSH bands shuffle on
(band, key), which is uniform by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.similarity import (
    simhash_col,
    tokens_col,
    word_shingles_col,
)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(content_sha256, canonical_id, n_copies) — canonical = min id."""
    return (
        df.groupBy(F.sha2(F.col(content_col), 256).alias("content_sha256"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    from neo4j_export_tool_spark.functions.partitioning import fan_out

    toks = tokens_col(F.col(text_col))
    # The non-empty-set filter expressed on the RAW text, not on the
    # computed shingle column: Catalyst pushes a filter on a computed
    # column below the exchange by substituting the full expression, so
    # the old ``size(shingles) > 0`` form evaluated the entire shingle
    # build twice — once single-threaded on the scan side (measured: the
    # whole corpus shingled inside one map task) and again above.  For
    # word n-grams the set is empty iff the doc has fewer than n tokens
    # (n=1: split() never yields an empty array), so the cheap predicate
    # is exactly equivalent.
    keep = F.col(text_col).isNotNull()
    if shingle_n > 1:
        keep = keep & (F.size(toks) >= shingle_n)
    return fan_out(df.filter(keep), key=id_col).select(
        F.col(id_col).alias("doc"),
        word_shingles_col(toks, shingle_n).alias("shingles"),
    )


def _candidate_pairs(
    posting: DataFrame, keys: list[str], extra: Column | None = None
) -> DataFrame:
    """The posting self-join of every similarity join: the ``distinct``
    (doc_a, doc_b) pairs, doc_a < doc_b, of ``posting(doc, *keys, …)``
    rows that agree on ``keys`` and satisfy ``extra``, a condition written
    over the join sides ``a`` and ``b`` (``F.col("a.n")``)."""
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col("a.doc") < F.col("b.doc"))
    if extra is not None:
        on.append(extra)
    return (
        posting.alias("a")
        .join(posting.alias("b"), on)
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def _verified_pairs(
    pairs: DataFrame,
    side: DataFrame,
    key: str,
    scores: list[Column],
    keep: Column,
) -> DataFrame:
    """The exact verify join of every similarity join: ``pairs``
    (``key``_a, ``key``_b) joined to the per-id ``side`` table on both
    ends, whose columns arrive suffixed ``_a`` / ``_b``; projected to the
    pair and ``scores``; kept where ``keep`` holds.

    No side is FORCED broadcast: candidate volume is workload-dependent
    (LSH bucket collisions scale superlinearly on self-similar corpora and
    with n²/buckets on full tables), so an unconditional pair-side
    broadcast would be a driver hazard at scale, while the side table
    carries size statistics through its materialization — the planner
    broadcasts it only while it actually fits and falls back to shuffle
    joins beyond that.

    The scores are materialized (lazy localCheckpoint) before ``keep``:
    without the barrier Catalyst collapses the threshold filter into the
    join condition and evaluates the scores there as well as in the
    project — the Jaccard array_intersect three times per pair (which
    tripled the verify stage at 3×10⁵ candidates), the unrolled cosine
    dot twice.  The materialized rows are a few scalars per pair."""
    a, b = f"{key}_a", f"{key}_b"

    def end(suffix: str) -> DataFrame:
        return side.withColumnsRenamed({c: c + suffix for c in side.columns})

    scored = (
        pairs.join(end("_a"), a)
        .join(end("_b"), b)
        .select(a, b, *scores)
        .localCheckpoint(eager=False)
    )
    return scored.filter(keep)


def _verify_candidate_pairs(
    candidates: DataFrame, sets: DataFrame, threshold_pct: int
) -> DataFrame:
    """Exact-Jaccard verify of a candidate-pair table against the shingle
    sets: (doc_a, doc_b, shared, n_a, n_b) at the integer threshold."""
    return _verified_pairs(
        candidates,
        sets.select("doc", F.col("shingles").alias("sh")),
        "doc",
        [
            F.size(F.array_intersect("sh_a", "sh_b")).alias("shared"),
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
        ],
        100 * F.col("shared")
        >= threshold_pct * (F.col("n_a") + F.col("n_b") - F.col("shared")),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_pct: int = 60,
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard pairs: (doc_a, doc_b, shared, n_a, n_b)
    with 100*shared >= threshold_pct*(n_a+n_b-shared).  Integer-exact.

    The cap picks the algorithm: with no cap the output is the EXACT
    join, computed by the prefix filter; with a cap the PRUNED semantics
    run on the bounded-df enumeration.

    **No cap — PPJoin-style prefix filtering**, the 100 TB exact path
    that needs no recall-trading cap.  Positional prefix principle
    (Chaudhuri et al. SSJoin / Xiao et al. PPJoin, see PAPERS.md
    set-similarity-join survey): order every shingle set by one GLOBAL
    total order and keep only each set's first ``|A| - ceil(t·|A|) + 1``
    shingles; any pair with Jaccard ≥ t must collide inside those
    prefixes, so generating candidates from prefix postings alone loses
    nothing.  We order by (document frequency asc, shingle asc) —
    rare-first, the order that makes hot boilerplate shingles land in the
    prefix of almost no document — and verify candidates exactly with
    ``array_intersect`` over the full sets (the MinHash verify kernel).
    Prefix length uses exact integer ceil: ``n - (t·n + 99) div 100 + 1``.

    **Cap set — stop-shingle pruning.**  ``max_shingle_df`` drops posting
    rows whose shingle appears in more than that many docs via a
    left-semi join, then enumerates each surviving shingle's doc pairs
    from its (bounded) sorted doc list.  Pruning only shrinks ``shared``
    counts (sizes stay exact), so surviving pairs are a SUBSET of the
    exact join: boilerplate-only pairs are dropped by design.

    Why the capped form is not the prefix join over a df-filtered
    posting table (unpruned set sizes): that variant gives the same
    q13/q55 output, but the q13 gate (cap 20, sf0.1) ran slower through
    it — 3.48 → 4.38 s median over 6 interleaved runs on a 4-core host,
    ``local[4]`` — while the bounded-df enumeration needs neither the
    rank window nor the verify joins.

    The shingle-set plan is localCheckpoint'd: sizes, the df counts, and
    both candidate sides reuse one materialization instead of
    re-tokenizing the corpus per branch (~5 evaluations otherwise); the
    blocks free themselves when the plan is garbage-collected.
    """
    sets = _shingle_sets(df, text_col, id_col, shingle_n).localCheckpoint(eager=False)
    sizes = sets.select("doc", F.size("shingles").alias("n"))
    posting = sets.select("doc", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        df_counts = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        posting = posting.join(
            df_counts.filter(F.col("df") <= max_shingle_df).select("shingle"),
            "shingle",
            "left_semi",
        )
        # with df bounded, pair generation per shingle is ≤ df(df-1)/2 —
        # group the (sorted) doc list per shingle and emit i<j pairs with
        # one HOF explode instead of a posting self-join: one fewer
        # exchange and no sort-merge of shingle strings.  ONLY safe under
        # pruning: an unbounded collect_list on a hot shingle is exactly
        # the skew bomb the prune exists to kill.
        lists = (
            posting.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
            .filter(F.size("docs") >= 2)
        )
        pairs = lists.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("docs") - 2),
                        lambda i: F.transform(
                            F.sequence(i + F.lit(1), F.size("docs") - 1),
                            lambda j: F.struct(
                                F.element_at(F.col("docs"), i + 1).alias("doc_a"),
                                F.element_at(F.col("docs"), j + 1).alias("doc_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.doc_a", "p.doc_b")
        shared = pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("shared")
        )
        out = (
            shared.join(sizes.withColumnsRenamed({"doc": "doc_a", "n": "n_a"}), "doc_a")
            .join(sizes.withColumnsRenamed({"doc": "doc_b", "n": "n_b"}), "doc_b")
            .filter(
                100 * F.col("shared")
                >= threshold_pct * (F.col("n_a") + F.col("n_b") - F.col("shared"))
            )
        )
        return out.select("doc_a", "doc_b", "shared", "n_a", "n_b")

    dfc = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # the prefix table feeds BOTH sides of the candidate self-join —
    # materialize it, or the whole build (posting explode, df agg+join,
    # per-doc rank window) is evaluated once per side (measured: the r7
    # plan audit showed the entire subtree duplicated, ~2× the lane)
    prefix = (
        posting.join(dfc, "shingle")
        .join(sizes, "doc")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("df", "shingle")
            ),
        )
        .filter(
            F.col("rk")
            <= F.col("n")
            - F.expr(f"(({threshold_pct} * n) + 99) div 100")
            + F.lit(1)
        )
        .select("doc", "shingle", "n", "rk")
        .localCheckpoint(eager=False)
    )
    # Length + positional filters (the rest of the PPJoin toolkit), both
    # provably recall-free at the threshold t = threshold_pct/100:
    # J ≥ t forces shared ≥ t·max(n_a, n_b) (since shared ≤ min side),
    # so 100·min(n_a,n_b) ≥ t·max(n_a,n_b) — the LENGTH filter.  And for
    # the globally-smallest common shingle w of a true pair (which must
    # sit inside BOTH prefixes — if it were past A's prefix, A's whole
    # prefix would be non-shared and shared ≤ ⌈t·n_a⌉−1 < t·n_a, a
    # contradiction), no common shingle precedes w, so
    # shared ≤ 1 + min(n_a−rk_a, n_b−rk_b) at w's collision — the
    # POSITIONAL filter.  Filtering EVERY collision with these bounds
    # keeps the w-collision of every true pair, so candidates remain a
    # superset of the answer; measured: they cut the candidate volume
    # ~3× on the driver corpus before the expensive exact verify.
    candidates = _candidate_pairs(
        prefix,
        ["shingle"],
        # length filter: 100·min ≥ t·max
        (
            100 * F.least(F.col("a.n"), F.col("b.n"))
            >= threshold_pct * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        # positional filter: ubound ≥ ceil(t(n_a+n_b)/(100+t))
        & (
            (100 + threshold_pct)
            * (
                F.least(
                    F.col("a.n") - F.col("a.rk"),
                    F.col("b.n") - F.col("b.rk"),
                )
                + 1
            )
            >= threshold_pct * (F.col("a.n") + F.col("b.n"))
        ),
    )
    return _verify_candidate_pairs(candidates, sets, threshold_pct)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_pct: int = 60,
    shingle_n: int = 3,
    k: int = 64,
    bands: int = 32,
    seed: int = 1,
    max_bucket_frac: float | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over word shingles, exact-verified.

    k=64 / b=32 / r=2: a true pair at Jaccard 0.6 escapes all bands with
    probability (1-0.36)^32 ≈ 6e-7 — effectively recall 1, so the verified
    output equals `jaccard_pairs` at the same threshold while candidate
    generation stays near-linear.

    ``max_bucket_frac`` caps hot band buckets (see
    `minhash_lsh_pairs_from_sets`) as a fraction of the corpus document
    count: ``max_bucket_size = max(2, floor(frac·N))``, N = one count over
    the INPUT ``df`` — an absolute bucket cap is always wrong at 10^12
    docs, a "no bucket may hold >0.1% of the corpus" rule is not.
    """
    max_bucket_size = None
    if max_bucket_frac is not None:
        # resolve the fraction against the INPUT corpus count here, where
        # df is in scope — the set table excludes docs shorter than
        # shingle_n, so its count under-states N on short-doc corpora
        max_bucket_size = max(2, int(max_bucket_frac * df.count()))
    sets = _shingle_sets(df, text_col, id_col, shingle_n)
    return minhash_lsh_pairs_from_sets(
        sets, threshold_pct=threshold_pct, k=k, bands=bands, seed=seed,
        max_bucket_size=max_bucket_size,
    )


def minhash_lsh_pairs_from_sets(
    sets: DataFrame,
    threshold_pct: int = 60,
    k: int = 64,
    bands: int = 32,
    seed: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH over a precomputed (doc, shingles array<string>) table —
    the generic entry used for both document near-dup (word shingles) and
    surface-form canonicalization (char shingles).

    Signature stage: shingles are md5-hashed JVM-side (one array
    expression, `hashed_shingles_col`: 60-bit md5 prefix mod p), then the
    k minima and band keys are computed in ONE Arrow-batched numpy kernel
    — SHUFFLE-FREE (an explode → 64-min-agg groupBy both shuffles the
    posting list AND carries a plan so large that Catalyst compile time
    dominates small inputs).  Slot i of the signature is
    ``min over the set of (h·a_i + b_i) mod p`` with p = 2³¹−1 and
    (a_i, b_i) drawn from the seeded `_lcg` stream (classic Broder
    construction; int64 products stay < 2⁶²).  Band j's key is the md5
    hex digest of its ``rows`` minima written as decimals joined by
    ":" — plain integer and md5 math, reproducible in any engine.  Docs
    with an empty set get no band rows.  At 10^12 docs the signature
    stage is a linear map; only the band-bucket join shuffles.

    ``max_bucket_size`` (default off — the driver gate runs exact): the
    scale knob for hot band buckets, the q13 ``max_shingle_df`` analog.
    A bucket of size m yields m(m-1)/2 candidate pairs (the a<b
    self-join — O(m²) growth); corpora whose shingle
    space saturates (measured: the closed-vocab sf1 stress sweep, where
    band-bucket collisions between NON-near-dups made q14 the one
    super-linear gate at 11×) can cap bucket size and skip the hot
    buckets entirely.  Pairs found only through a skipped bucket are
    lost (a recall trade, like every LSH df-cap); true near-dup pairs
    still surface through any of the other ``bands-1`` bands, so the
    recall loss is bounded by the probability that EVERY band of a pair
    lands hot — small unless the corpus is pathologically self-similar.
    `minhash_lsh_pairs` resolves its fractional cap to this value against
    the input corpus count."""
    from neo4j_export_tool_spark.functions.similarity import (
        MERSENNE_PRIME,
        _lcg,
        hashed_shingles_col,
    )

    rows = k // bands
    rnd = _lcg(seed)
    params = []
    for _ in range(k):
        a = next(rnd) % (MERSENNE_PRIME - 1) + 1
        b = next(rnd) % MERSENNE_PRIME
        params.append((a, b))

    # the shingle-set plan feeds the signature kernel AND both verify
    # joins; materialize it once (blocks freed when the plan is GC'd)
    sets = sets.localCheckpoint(eager=False)

    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    id_type = next(
        f.dataType.simpleString() for f in sets.schema if f.name == "doc"
    )
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)

    def band_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs_out: list = []
            bands_out: list = []
            keys_out: list = []
            for doc, hs in zip(pdf["doc"], pdf["hs"]):
                if hs is None or not len(hs):
                    continue
                h = np.asarray(hs, dtype=np.int64)
                sig = ((h[:, None] * A[None, :]) + B[None, :]) % MERSENNE_PRIME
                m = sig.min(axis=0)
                for band in range(bands):
                    key = hashlib.md5(
                        ":".join(
                            str(int(m[band * rows + r])) for r in range(rows)
                        ).encode()
                    ).hexdigest()
                    docs_out.append(doc)
                    bands_out.append(band)
                    keys_out.append(key)
            yield pd.DataFrame(
                {"doc": docs_out, "band": bands_out, "key": keys_out}
            )

    banded = sets.select(
        "doc", hashed_shingles_col(F.col("shingles")).alias("hs")
    ).mapInPandas(band_keys, schema=f"doc {id_type}, band int, key string")
    # the band table self-joins: materialize so the signature kernel runs
    # once, not once per join side
    banded = banded.localCheckpoint(eager=False)

    if max_bucket_size is not None:
        # drop hot buckets BEFORE the self-join — the m² pair blowup never
        # materializes; one extra keyed agg + left-semi, both on the
        # already-materialized band table
        small = (
            banded.groupBy("band", "key")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "key")
        )
        banded = banded.join(small, ["band", "key"], "left_semi")

    # exact verification on the candidate set only
    return _verify_candidate_pairs(
        _candidate_pairs(banded, ["band", "key"]), sets, threshold_pct
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """(doc, simhash) fingerprints — bit-exact in any engine."""
    return df.select(
        F.col(id_col).alias("doc"),
        simhash_col(tokens_col(F.col(text_col)), bits=bits).alias("simhash"),
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimension from the first NON-NULL vector; None on empty/
    all-null input (callers return an empty result then)."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .first()
    )
    return int(row["d"]) if row is not None else None


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    min_cosine: float = 0.95,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact cosine near-dup pairs over ALL vector pairs:
    (id_a, id_b, cosine) with id_a < id_b and cosine ≥ ``min_cosine``.

    Block-matrix filter-then-verify.  Vectors pack into row blocks; every
    unordered block pair is one task running an Arrow-batched numpy GEMM
    (BLAS — orders of magnitude faster than per-pair expressions) as a
    PREFILTER with an epsilon-widened threshold, then the few surviving
    candidates recompute the cosine with sequential left-associated
    double accumulation over the first ``dim`` components (``dim`` = the
    length of the first non-null vector) — bit-identical
    to DuckDB's ``list_dot_product`` formula, so the output is EXACT, not
    approximate.  Null vectors and vectors shorter than ``dim`` have no
    cosine and pair with nothing.  Still O(n²) flops by definition of the
    exact baseline (the scale path is `operators.ann.hyperplane_lsh_pairs`),
    but the quadratic part runs at GEMM speed and distributes as B(B+1)/2
    independent block tasks.  Empty or all-null input yields no pairs.
    """
    import math

    import numpy as np
    import pandas as pd

    id_type = next(f.dataType.simpleString() for f in df.schema if f.name == id_col)
    dim = _infer_dim(df, vec_col)
    if dim is None:
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cosine double"
        )
    n = df.count()
    n_blocks = max(1, math.ceil(n / rows_per_block))
    base = df.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
        F.col(id_col).alias("id"),
        # the cosine reads exactly dim components: a null vector or one
        # shorter than dim has a null term (→ null cosine → no pair);
        # longer vectors are read only up to dim.  Filter + slice: drop
        # short/null, truncate long.
        F.slice(F.col(vec_col).cast("array<double>"), 1, dim).alias("v"),
    ).filter(F.col(vec_col).isNotNull() & (F.size(vec_col) >= dim))

    pack_schema = f"blk int, ids array<{id_type}>, mat binary, nrows int, ndim int"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic within-block row order: the block table feeds BOTH
        # sides of a self-join, and each side re-evaluates the groupBy —
        # without a canonical order the diagonal-block triu(k=1) dedup
        # would see different row positions per side (pairs silently
        # dropped or duplicated under nondeterministic shuffle-fetch order)
        pdf = pdf.sort_values("id", kind="mergesort")
        mat = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [list(pdf["id"])],
                "mat": [mat.tobytes()],
                "nrows": [mat.shape[0]],
                "ndim": [mat.shape[1]],
            }
        )

    # materialize once: feeds both join sides (and the pack groupBy is the
    # expensive part); blocks free when the plan is GC'd
    blocks = (
        base.groupBy("blk")
        .applyInPandas(pack, schema=pack_schema)
        .localCheckpoint(eager=False)
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"), F.col("nrows").alias("n_a"),
        F.col("ndim").alias("d_a"),
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"), F.col("nrows").alias("n_b"),
        F.col("ndim").alias("d_b"),
    )
    pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))
    eps = 1e-6  # >> float64 GEMM error for any realistic dim; false
    # positives only cost an exact recheck

    def _exact_cos(va: np.ndarray, vb: np.ndarray) -> float:
        # sequential left-associated double ops — bit-identical to the
        # unrolled `dot_col(..., dim)` expression AND DuckDB list_dot_product
        dot = va[0] * vb[0]
        na = va[0] * va[0]
        nb = vb[0] * vb[0]
        for i in range(1, va.shape[0]):
            dot = dot + va[i] * vb[i]
            na = na + va[i] * va[i]
            nb = nb + vb[i] * vb[i]
        return dot / math.sqrt(na * nb)

    def gemm_verify(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                A = np.frombuffer(row.mat_a, dtype=np.float64).reshape(
                    row.n_a, row.d_a
                )
                B = np.frombuffer(row.mat_b, dtype=np.float64).reshape(
                    row.n_b, row.d_b
                )
                ids_a, ids_b = list(row.ids_a), list(row.ids_b)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (A @ B.T) / np.sqrt(
                        np.outer((A * A).sum(axis=1), (B * B).sum(axis=1))
                    )
                if row.blk_a == row.blk_b:
                    cand = np.argwhere(
                        np.triu(sims >= min_cosine - eps, k=1)
                    )
                else:
                    cand = np.argwhere(sims >= min_cosine - eps)
                for i, j in cand:
                    ia, ib = ids_a[i], ids_b[j]
                    if ia == ib:
                        continue
                    if ib < ia:
                        ia, ib = ib, ia
                    c = _exact_cos(A[i], B[j])
                    if c >= min_cosine:
                        out_a.append(ia)
                        out_b.append(ib)
                        out_c.append(c)
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return pairs.mapInPandas(
        gemm_verify, schema=f"id_a {id_type}, id_b {id_type}, cosine double"
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level dedup: every position of every word n-gram
    that occurs in ≥ ``min_docs`` DISTINCT documents →
    (doc, pos, gram) — the actionable span list for cut-duplicated-text
    training-data hygiene (Lee et al., "Deduplicating Training Data
    Makes Language Models Better": exact duplicated substrings, here
    bounded to token n-grams so the dataflow stays one explode + one
    keyed agg instead of a distributed suffix array).

    Scale shape: the posting build is a pure column-expression transform
    (split → slice windows → posexplode, no Python); the hot-gram table
    is one groupBy (count distinct docs) and the span fan-back a
    broadcast-friendly semi-join on the gram key.  Output is linear in
    the corpus (every row is an actual position).
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.col(text_col), " ").alias("t"),
    )
    grams = (
        toks.filter(F.size("t") >= n)
        .select(
            "doc",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (n - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, n), " "),
                )
            ).alias("pos", "gram"),
        )
    )
    df_counts = grams.groupBy("gram").agg(
        F.count_distinct("doc").alias("n_docs")
    )
    hot = df_counts.filter(F.col("n_docs") >= min_docs)
    out = grams.join(hot.select("gram"), "gram", "left_semi")
    return out.select("doc", "pos", "gram")
