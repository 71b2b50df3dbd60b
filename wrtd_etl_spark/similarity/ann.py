"""Similarity search over an embedding column (array<float>).

Two paths:

* :func:`brute_force_top_k` — exact cosine top-k: broadcast the (small)
  probe set against the full corpus, one pass, `TakeOrderedAndProject`-
  style window per probe. The correctness baseline; O(probes × corpus).
* :func:`lsh_top_k` — random-hyperplane LSH: each vector gets a compact
  bit signature from deterministic hyperplanes; candidates share a
  signature band, then exact cosine re-ranks candidates only. The scale
  path: the corpus is touched once to sign, and the join is on bucket
  keys instead of a cross product.

All vector math is `F.aggregate`/`F.zip_with` fold expressions — JVM-side,
no UDFs. Cosines are quantized to 1e-6 before ranking so orderings are
reproducible across engines (float sums differ in the last bits).
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns."""
    return _dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b))


def sq_norm(a: Column) -> Column:
    """Squared L2 norm — precomputed once per vector so pair scoring does
    one fold instead of three (dot(a,a) per PAIR is 64x redundant work)."""
    return _dot(a, a)


def _quantized_cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Quantized cosine with precomputed squared norms (same IEEE op order
    as the SQL oracle: dot / sqrt(na*nb))."""
    return F.floor(
        (_dot(a, b) / F.sqrt(na * nb)) * 1000000 + 0.5
    ) / F.lit(1000000.0)


def _non_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL-vector rows (pushed-down IsNotNull): a NULL embedding can
    be neither a neighbor nor a probe, and the vectorized numpy paths
    cannot stack None."""
    return df.filter(F.col(vec_col).isNotNull())


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _make_pandas_cosine():
    """Arrow-vectorized quantized cosine for the APPROXIMATE paths.

    Catalyst higher-order-function folds are interpreted (not codegen'd):
    reranking ~300k candidate pairs of dim-64 vectors costs ~15 s at sf0.1.
    A pandas_udf moves the math to numpy over Arrow batches (~40x).
    Oracle-matched queries keep the sequential fold — numpy's pairwise
    summation has different last-bit behavior; approximate rerank only
    needs the same 1e-6 quantization, not cross-engine bit-equality."""
    import numpy as np

    @F.pandas_udf("double")
    def pd_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        dot = np.einsum("ij,ij->i", va, vb)
        na = np.einsum("ij,ij->i", va, va)
        nb = np.einsum("ij,ij->i", vb, vb)
        sim = dot / np.sqrt(na * nb)
        return pd.Series(np.floor(sim * 1_000_000 + 0.5) / 1_000_000)

    return pd_cosine


def brute_force_top_k(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per probe: (probe_id, neighbor_id, sim, rank).

    The probe side is broadcast (it is small by definition); the corpus is
    scanned exactly once with no shuffle of the vectors — only the tiny
    per-probe top-k results move.
    """
    from pyspark.sql import Window

    from ..catalog import spread

    corpus = _non_null_vectors(corpus, vec_col)
    probes = _non_null_vectors(probes, vec_col)

    # per-(corpus × probe) cosine arithmetic is the CPU-bound stage: make
    # sure a single-split corpus scan doesn't serialize it on one core
    # (no-op on a real multi-split scan)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", sq_norm(F.col("cv")))
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("pv")
    ).withColumn("pn", sq_norm(F.col("pv")))
    scored = (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn(
            "sim",
            _quantized_cosine_with_norms(
                F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")
            ),
        )
        .select("probe_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "sim", "rank")
    )


def filtered_top_k(
    corpus: DataFrame,
    probes: DataFrame,
    match_cols: list[str],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k under metadata equality predicates: each probe ranks
    ONLY candidates whose ``match_cols`` values equal its own —
    filter-then-search. Post-filtering a plain top-k instead would
    return <k (or zero) rows whenever the predicate is selective, which
    is precisely when a user filters.

    Same plan as brute_force_top_k (single corpus scan, broadcast
    probes, no vector shuffle); the equality predicates join the
    broadcast condition, so non-matching candidates are discarded
    BEFORE any cosine arithmetic."""
    from pyspark.sql import Window

    from ..catalog import spread

    corpus = _non_null_vectors(corpus, vec_col)
    probes = _non_null_vectors(probes, vec_col)
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        *[F.col(m).alias(f"c_{m}") for m in match_cols],
    ).withColumn("cn", sq_norm(F.col("cv")))
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        _as_double(F.col(vec_col)).alias("pv"),
        *[F.col(m).alias(f"p_{m}") for m in match_cols],
    ).withColumn("pn", sq_norm(F.col("pv")))
    cond = F.col("neighbor_id") != F.col("probe_id")
    for m in match_cols:
        cond = cond & (F.col(f"c_{m}") == F.col(f"p_{m}"))
    scored = (
        c.join(F.broadcast(p), cond)
        .withColumn(
            "sim",
            _quantized_cosine_with_norms(
                F.col("pv"), F.col("cv"), F.col("pn"), F.col("cn")
            ),
        )
        .select("probe_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "sim", "rank")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes (±1 entries)."""
    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def signature_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Array of sign bits, one per hyperplane."""
    return F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(w) for w in plane]),
                        lambda x, w: x * w,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0
            ).cast("int")
            for plane in planes
        ]
    )


def _make_pandas_band_sig(planes: list[list[float]], bands: int):
    """Arrow-vectorized band signatures: V @ P.T > 0, packed per band.

    The expression form (:func:`signature_bits`) is interpreted per
    element — 64 planes x 64 dims x N rows of lambda evals was the
    dominant LSH cost at sf0.1 (9.6 s for 4k vectors); one numpy matmul
    per Arrow batch replaces it."""
    import numpy as np

    n_planes = len(planes)
    width = n_planes // bands

    @F.pandas_udf("array<string>")
    def band_sig(v: pd.Series) -> pd.Series:
        P = np.asarray(planes)  # n_planes x dim
        V = np.stack(v.to_numpy()).astype(np.float64)
        bits = (V @ P.T > 0).astype(np.uint8)  # n x n_planes
        chars = bits + ord("0")
        return pd.Series(
            [
                [
                    row[i * width : (i + 1) * width].tobytes().decode("ascii")
                    for i in range(bands)
                ]
                for row in chars.astype(np.uint8)
            ]
        )

    return band_sig


def lsh_top_k(
    corpus: DataFrame,
    probes: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate generation + exact rerank.

    Signature = ``n_planes`` sign bits split into ``bands`` bands; a corpus
    vector is a candidate for a probe if any band matches. Recall rises
    with ``bands`` (more, smaller bands → more candidates); the rerank is
    exact cosine, so precision of returned neighbors is exact.
    """
    from pyspark.sql import Window

    corpus = _non_null_vectors(corpus, vec_col)
    probes = _non_null_vectors(probes, vec_col)
    planes = _hyperplanes(n_planes, dim, seed)
    width = n_planes // bands

    band_sig = _make_pandas_band_sig(planes, bands)

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(id_alias),
            _as_double(F.col(vec_col)).alias(vec_alias),
            F.posexplode(band_sig(_as_double(F.col(vec_col)))).alias(
                "band_idx", "band_sig"
            ),
        )

    from ..catalog import spread

    # the banding matmul UDF is the CPU-bound corpus pass — don't let a
    # single-split scan serialize it (no-op on multi-split input)
    c = banded(spread(corpus), "neighbor_id", "cv")
    p = banded(probes, "probe_id", "pv")
    candidates = (
        c.join(F.broadcast(p), ["band_idx", "band_sig"])
        .filter(F.col("neighbor_id") != F.col("probe_id"))
        .select("probe_id", "neighbor_id", "pv", "cv")
        .distinct()
    )
    pd_cosine = _make_pandas_cosine()
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("sim", pd_cosine(F.col("pv"), F.col("cv")))
        .select("probe_id", "neighbor_id", "sim")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    seed: int = 7,
    exact: bool = False,
    max_bucket: int = 2000,
) -> DataFrame:
    """Pairs (id1 < id2) with cosine >= threshold.

    ``exact=True`` does the O(n²) self-join (correctness baseline / small
    corpora); the default uses hyperplane-LSH banding — near-identical
    vectors agree on almost all sign bits, so wide-band collisions catch
    them while the join stays near-linear.

    Band sizing: 8-bit bands → 256 bucket values, so expected bucket size
    is n/256 per band and the candidate join is ~n²/256 instead of n²/2.
    At cosine 0.98 a bit agrees w.p. ~0.94 → ≥1-of-8 bands collide w.p.
    >0.999 (recall); narrower bands would blow the bucket size up —
    measured: 2-bit bands were SLOWER than brute force at sf0.1.

    ``max_bucket`` is the hot-bucket cap (the dedup/minhash.py rule): a
    LOW-ENTROPY corpus — exactly where near-dup detection runs — can
    drive one band value to O(N) members (e.g. a flood of identical or
    zero vectors), turning the band self-join quadratic. Buckets above
    the cap are dropped whole, BEFORE any member list or pair row
    materializes; members of a dropped bucket that are genuine near-dups
    of something still collide in another band, and an identical-vector
    flood belongs to exact dedup, not pair enumeration. The cap is far
    above the expected n/256 bucket size, so a healthy corpus never
    trips it.
    """
    df = _non_null_vectors(df, vec_col)
    if exact:
        from ..catalog import spread

        # the streamed side of the O(n²) nested-loop join carries the
        # per-pair cosine arithmetic — parallelize it even when the
        # (bounded) input is a single partition
        a = spread(df).select(
            F.col(id_col).alias("id1"), _as_double(F.col(vec_col)).alias("v1")
        ).withColumn("n1", sq_norm(F.col("v1")))
        b = df.select(
            F.col(id_col).alias("id2"), _as_double(F.col(vec_col)).alias("v2")
        ).withColumn("n2", sq_norm(F.col("v2")))
        # pin the plan: broadcast b, STREAM the spread side — otherwise the
        # nested-loop join may broadcast a and stream the single-partition
        # b, serializing the per-pair cosine arithmetic again
        pairs = a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
    else:
        from ..catalog import spread

        planes = _hyperplanes(n_planes, dim, seed)
        band_sig = _make_pandas_band_sig(planes, bands)
        # the banding matmul is the CPU-bound corpus pass (see lsh_top_k)
        df = spread(df)
        banded = df.select(
            F.col(id_col).alias("bid"),
            F.posexplode(band_sig(_as_double(F.col(vec_col)))).alias(
                "band_idx", "band_sig"
            ),
        )
        # two consumers (bucket-size count + pair enumeration) —
        # materialize the banding matmul once; the checkpointed rows are
        # scalars (id, band_idx, band_sig), so this is cheap, unlike
        # persisting array columns
        banded = banded.localCheckpoint(eager=False)
        # Hot-bucket cap BEFORE anything per-bucket materializes.
        # Cap as a WINDOW count over the bucket key (r14, the fuzzy.py
        # r13 idiom; guide §2.4): the former count-aggregate + broadcast
        # anti-join scanned the checkpointed banding twice and planned an
        # extra exchange + broadcast build; the window hash-partitions by
        # (band_idx, band_sig) once and the collect_list groupBy below
        # REUSES it. Identical cap set (window count ≡ group count); a
        # degenerate bucket spills in the window sort instead of growing
        # an agg buffer. Interleaved A/B at sf0.1: 2.76 → 2.14 s.
        from pyspark.sql import Window

        _w = Window.partitionBy("band_idx", "band_sig")
        cold = (
            banded.withColumn("__n", F.count(F.lit(1)).over(_w))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
        # Candidate pairs straight from the grouped bucket (ONE exchange
        # on the bucket key, vs two for the former self-join): enumerate
        # id1<id2 pairs as an array expression over the sorted member
        # list — bucket size is capped, so the per-row pair array is
        # bounded. Dedup candidate IDs first, then attach vectors —
        # shuffling 64-dim arrays through the distinct was the dominant
        # cost at sf0.1.
        grouped = (
            cold.groupBy("band_idx", "band_sig")
            .agg(F.sort_array(F.collect_list("bid")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        pair_arr = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                ),
            )
        )
        ids = (
            grouped.select(F.explode(pair_arr).alias("p"))
            .select(F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2"))
            .distinct()
        )
        v1 = df.select(
            F.col(id_col).alias("id1"), _as_double(F.col(vec_col)).alias("v1")
        )
        v2 = df.select(
            F.col(id_col).alias("id2"), _as_double(F.col(vec_col)).alias("v2")
        )
        pairs = ids.join(v1, "id1").join(v2, "id2")
        pd_cosine = _make_pandas_cosine()
        return (
            pairs.withColumn("sim", pd_cosine(F.col("v1"), F.col("v2")))
            .filter(F.col("sim") >= threshold)
            .select("id1", "id2", "sim")
        )
    # exact path: sequential-fold cosine — bit-identical to the SQL oracle
    return (
        pairs.withColumn(
            "sim",
            _quantized_cosine_with_norms(
                F.col("v1"), F.col("v2"), F.col("n1"), F.col("n2")
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )
