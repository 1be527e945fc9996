"""Embedding similarity search over ``array<float>`` columns.

Baseline: brute-force cosine top-k (exact; broadcast the query set, one
pass over the corpus, per-partition top-k then global top-k).  Scale
paths: random-hyperplane LSH bucketing (sub-linear candidate generation)
and IVF-style centroid routing.  All dot products are built-in
``zip_with``/``aggregate`` expressions in double precision — JVM codegen,
no UDF, deterministic (sequential sum in index order, so a DuckDB oracle
computing the same left-to-right sum matches bit-for-bit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType
from pyspark.sql.window import Window

from sql_autoloader_spark.functions.text import bind_once


def _spread(df: DataFrame) -> DataFrame:
    """Repartition an under-split corpus before a scoring stage.

    The candidate join and the scoring projection inherit the scan's
    partitioning; a single-row-group parquet input (or any input with
    far fewer splits than cores) would serialize the whole scoring
    pipeline onto one task (guide §2.5 input skew).  No-op at real
    scale, where the corpus arrives as thousands of splits.  Measured
    (r15, interleaved A/B on the 20k-vector ×10 corpus): the JVM
    presplit scorer runs 6.9 s without the spread vs 3.8 s with it —
    the broadcast-join map stage is exactly as parallel as the corpus
    scan, so an under-split corpus wastes every other core.
    """
    from sql_autoloader_spark.functions.dedup import spread_for_compute

    return spread_for_compute(df, barrier=False)


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _flatten_list_array(arr: pa.Array):
    """(row_null_mask, lengths, flat float64 values, row offsets,
    per-row element-null counts) of a list<float-ish> array."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    starts, ends = offsets[:-1], offsets[1:]
    lengths = ends - starts
    row_null = np.zeros(len(arr), dtype=bool)
    if arr.null_count:
        row_null = arr.is_null().to_numpy(zero_copy_only=False)
    values = arr.values
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64)
    if values.null_count:
        elem_null = values.is_null().to_numpy(zero_copy_only=False)
        cum = np.concatenate(([0], np.cumsum(elem_null)))
        row_elem_nulls = cum[ends] - cum[starts]
    else:
        row_elem_nulls = np.zeros(len(arr), dtype=np.int64)
    return row_null, lengths, flat, starts, row_elem_nulls


def _seq_cosine_arrow_fn():
    """Fused Arrow cosine UDF: dot + both norms + the division in ONE
    vectorized pass (cached per process).

    One ``ArrowEvalPython`` node per scoring join instead of three
    (per-side norms + pair dot), and the norm columns never cross the
    join or the Python boundary.  Bit-identical to
    ``cosine(a, b)`` = ``dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))``:
    all three accumulations run left-to-right per index in double
    precision exactly like the interpreted JVM folds, ``sqrt``,
    multiply and divide are single correctly-rounded IEEE ops in both
    engines, and numpy fuses nothing into FMA.  Returns NULL for an
    invalid pair (NULL side, mismatched lengths, NULL element — the
    cases where the JVM dot is NULL) and 0.0 for a zero-norm product;
    callers coalesce NULL to 0.0, matching :func:`cosine` exactly.
    """
    global _SEQ_COSINE_ARROW
    if _SEQ_COSINE_ARROW is not None:
        return _SEQ_COSINE_ARROW
    from pyspark.sql.functions import arrow_udf

    flatten = _flatten_list_array

    @arrow_udf("double")
    def seq_cosine(a: pa.Array, b: pa.Array) -> pa.Array:
        n = len(a)
        if n == 0:
            return pa.array([], type=pa.float64())
        a_null, la, fa, sa, ea = flatten(a)
        b_null, lb, fb, sb, eb = flatten(b)
        invalid = a_null | b_null | (la != lb) | (ea > 0) | (eb > 0)
        out = np.zeros(n, dtype=np.float64)
        valid_idx = np.flatnonzero(~invalid)
        if valid_idx.size:
            vl = la[valid_idx]
            for d in np.unique(vl):
                rows = valid_idx[vl == d]
                if d == 0:
                    continue  # 0/nullif(0·0) is NULL→0.0 (out already 0)
                cols = np.arange(d, dtype=np.int64)
                av = fa[sa[rows][:, None] + cols[None, :]]
                bv = fb[sb[rows][:, None] + cols[None, :]]
                m = len(rows)
                acc = np.zeros(m, dtype=np.float64)
                na = np.zeros(m, dtype=np.float64)
                nb = np.zeros(m, dtype=np.float64)
                with np.errstate(invalid="ignore", over="ignore"):
                    for i in range(int(d)):
                        # the same three interpreted folds, one IEEE
                        # multiply + add each, in index order
                        acc += av[:, i] * bv[:, i]
                        na += av[:, i] * av[:, i]
                        nb += bv[:, i] * bv[:, i]
                    prod = np.sqrt(na) * np.sqrt(nb)
                    sim = np.where(prod == 0.0, 0.0, acc / prod)
                out[rows] = sim
        return pa.array(out, type=pa.float64(), mask=invalid)

    _SEQ_COSINE_ARROW = seq_cosine
    return seq_cosine


_SEQ_COSINE_ARROW = None
_SEQ_COSINE_ARROW_ND = None


def cosine_arrow(
    a: Column, b: Column, *, filterable: bool = False
) -> Column:
    """Arrow-vectorized twin of :func:`cosine` — same floats (see
    :func:`_seq_cosine_arrow_fn`), one fused ``ArrowEvalPython`` node
    for dot + norms + division.  ``filterable=True`` marks the UDF
    non-deterministic (same values) so a threshold filter directly
    above cannot duplicate the evaluation (guide §4.4)."""
    global _SEQ_COSINE_ARROW_ND
    if filterable:
        if _SEQ_COSINE_ARROW_ND is None:
            _SEQ_COSINE_ARROW_ND = (
                _seq_cosine_arrow_fn().asNondeterministic()
            )
        fn = _SEQ_COSINE_ARROW_ND
    else:
        fn = _seq_cosine_arrow_fn()
    return F.coalesce(fn(a, b), F.lit(0.0))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, defined as 0.0 when either vector has zero
    norm.  Without the guard a single all-zero vector (empty media
    asset, zeroed embedding) divides by zero — an ANSI-mode
    SparkArithmeticException that kills the whole job, or with ANSI off
    a NaN that both passes ``sim >= threshold`` filters and outranks
    every real neighbour under ``desc()`` ordering."""
    # nullif turns a zero norm product into NULL (division by NULL is
    # NULL, never an ANSI error), coalesced to 0.0 — each norm is
    # evaluated once, unlike a WHEN guard that repeats the operands
    return cosine_presplit(a, b, norm(a), norm(b))


def cosine_presplit(
    a: Column, b: Column, na: Column, nb: Column
) -> Column:
    """Cosine from vectors plus their PRE-COMPUTED norms (zero-norm ->
    0.0).  In an all-pairs/candidate join, computing each side's norm
    map-side before the join and passing it through turns the per-pair
    cost from ``3·dim`` multiply-adds (dot + both norms) into ``dim`` —
    bit-identical results, the norms are the same float either way."""
    return F.coalesce(
        dot(a, b) / F.nullif(na * nb, F.lit(0.0)), F.lit(0.0)
    )


def exact_cosine_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int | None = None,
    min_sim: float | None = None,
) -> DataFrame:
    """All-pairs exact cosine: ``(id_a, id_b, sim)`` for every unordered
    row pair with distinct non-NULL ids, oriented ``id_a < id_b`` — the
    blocked form of ``a.join(b, id_a < id_b).select(cosine_arrow(va,
    vb))``, bit-identical values, ~B×fewer bytes across the Python
    boundary.  NaN float ids never pair, like NULL ids (numpy's NaN
    compares would otherwise pair and orient them unlike Spark's).

    Why (guide §8 / §4.1): the join form ships BOTH vectors once per
    PAIR into the Arrow node — O(N·dim) bytes per vector — and measured
    95% boundary, 5% math (noop-sink decomposition at sf0.1: join alone
    0.35 s, join + zero-math Arrow round-trip 7.0 s, join + fused cosine
    6.6 s).  Here each vector crosses once per BLOCK-PAIR it belongs to
    (B times, B ≈ √(4·parallelism)): rows are tagged with a
    deterministic block ``pmod(xxhash64(id), B)`` (guide §2.5 — never
    rand), replicated onto the B block-pairs that contain their block
    via a broadcast tag table, and each ``applyInArrow`` group scores a
    whole block-pair in vectorized numpy.

    Bit parity with ``cosine_arrow`` (and therefore the JVM fold — see
    :func:`_seq_cosine_arrow_fn`): per output element the accumulations
    run left-to-right per index as ``acc += a_i*b_i`` / ``na += a_i²`` /
    ``nb += b_i²`` (one IEEE multiply + add each, numpy fuses nothing),
    then ``sqrt``·``sqrt``, one divide, zero-norm → 0.0; orientation is
    free because IEEE multiply is commutative.  Invalid pairs (NULL
    vector, mismatched lengths, NULL element) emit 0.0 — exactly the
    ``coalesce(NULL, 0.0)`` the join form applies.

    The pair-list partitioning is an explicit
    ``repartition(parallelism, block_pair)``: the tagged input is
    byte-small while the per-group compute is quadratic in rows — the
    shape AQE's byte-based coalescing mis-sizes (the r16 LSH respread
    lesson), and REPARTITION_BY_NUM is exempt from re-coalescing.

    Quadratic by contract (the exactness oracle for the LSH paths):
    total compute is O(N²·dim) at any block count — correctness-scale
    only, like the join form it replaces.

    ``min_sim`` prunes the RETURN stream, which otherwise carries all
    N²/2 scored rows back through the boundary only for the caller's
    threshold filter to drop ~99% (measured x10: 200M rows ≈ 4.8 GB):
    the scorer emits only ``sim ≥ min_sim − 1e-6``.  That is a provable
    SUPERSET of what the callers' exact JVM filter
    ``round(sim, 6) ≥ t`` keeps — any x with round-half-up(x,6) ≥ t
    satisfies x ≥ t − 5e-7 > t − 1e-6, with ~9 orders of magnitude of
    float margin — so callers keep their JVM round+filter as the exact
    arbiter and results are unchanged.  Pass the same threshold the
    caller filters on; ``None`` returns every pair (the differential-
    parity contract).
    """
    from sql_autoloader_spark.ops.dataframe_ops import local_frame

    spark = emb.sparkSession
    try:
        width = spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — Connect sessions have no context
        from sql_autoloader_spark.functions.scale import shuffle_partitions

        width = shuffle_partitions(emb)
    if blocks is None:
        par = max(2, width)
        blocks = 3
        while blocks * (blocks + 1) // 2 < 2 * par:
            blocks += 1
    elif blocks < 1:
        # an empty tag table would silently drop every row in the join
        msg = f"blocks must be >= 1, got {blocks}"
        raise ValueError(msg)
    id_dt = emb.schema[id_col].dataType
    id_type = id_dt.simpleString()
    valid_id = F.col(id_col).isNotNull()
    if isinstance(id_dt, (FloatType, DoubleType)):
        valid_id &= ~F.isnan(F.col(id_col))

    tag_rows = []
    for i in range(blocks):
        for j in range(i, blocks):
            bp = i * blocks + j
            if i == j:
                tag_rows.append({"blk": i, "bp": bp, "side": 2})
            else:
                tag_rows.append({"blk": i, "bp": bp, "side": 0})
                tag_rows.append({"blk": j, "bp": bp, "side": 1})
    tags = local_frame(spark, pd.DataFrame(tag_rows), "blk int, bp int, side int")

    tagged = (
        emb.where(valid_id)
        .select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks))
            .cast("int")
            .alias("blk"),
        )
        .join(F.broadcast(tags), "blk")
        .repartition(width, "bp")
    )

    flatten = _flatten_list_array
    # superset-safe pre-filter margin: see the min_sim docstring note
    cutoff = None if min_sim is None else min_sim - 1e-6

    def score(table: pa.Table) -> pa.Table:
        side = table.column("side").to_numpy(zero_copy_only=False)
        ids = table.column("__id").to_numpy(zero_copy_only=False)
        vecs = table.column("__vec")
        if isinstance(vecs, pa.ChunkedArray):
            vecs = vecs.combine_chunks()
        row_null, lengths, flat, starts, elem_nulls = flatten(vecs)
        invalid = row_null | (elem_nulls > 0)
        diag = bool(side[0] == 2)
        left = np.arange(len(side)) if diag else np.flatnonzero(side == 0)
        right = left if diag else np.flatnonzero(side == 1)
        nl, nr = len(left), len(right)
        out_a, out_b, out_s = [], [], []
        if nl and nr:
            r_ids = ids[right]
            r_len = lengths[right]
            r_inv = invalid[right]
            r_starts = starts[right]
            # the right block is shared by every left chunk: gather its
            # per-dim matrices and norm folds ONCE (the fold order is
            # unchanged — i ascending — so the values are bit-identical)
            r_by_d = {}
            for d in np.unique(r_len[~r_inv]):
                if d == 0:
                    continue  # zero-norm product → 0.0 (sims already 0)
                ri = np.flatnonzero((r_len == d) & ~r_inv)
                cols = np.arange(d, dtype=np.int64)
                bv = flat[r_starts[ri][:, None] + cols[None, :]]
                nb = np.zeros(len(ri), dtype=np.float64)
                with np.errstate(invalid="ignore", over="ignore"):
                    for i in range(int(d)):
                        nb += bv[:, i] * bv[:, i]
                r_by_d[int(d)] = (ri, bv, nb)
            # chunk the left side so the (chunk × right) matrices stay
            # ~16 MB regardless of group size
            chunk = max(1, (1 << 21) // max(nr, 1))
            for c0 in range(0, nl, chunk):
                lrows = left[c0 : c0 + chunk]
                m = len(lrows)
                sims = np.zeros((m, nr), dtype=np.float64)
                l_len = lengths[lrows]
                l_inv = invalid[lrows]
                l_starts = starts[lrows]
                pair_ok = (~l_inv)[:, None] & (~r_inv)[None, :] & (
                    l_len[:, None] == r_len[None, :]
                )
                for d in np.unique(l_len[~l_inv]):
                    if int(d) not in r_by_d:
                        continue
                    ri, bv, nb = r_by_d[int(d)]
                    li = np.flatnonzero((l_len == d) & ~l_inv)
                    if not len(li):
                        continue
                    cols = np.arange(d, dtype=np.int64)
                    av = flat[l_starts[li][:, None] + cols[None, :]]
                    acc = np.zeros((len(li), len(ri)), dtype=np.float64)
                    na = np.zeros(len(li), dtype=np.float64)
                    with np.errstate(invalid="ignore", over="ignore"):
                        for i in range(int(d)):
                            # the same interpreted folds as the join
                            # form: one IEEE multiply + add per element,
                            # in index order (see bit-parity note above)
                            acc += av[:, i][:, None] * bv[:, i][None, :]
                            na += av[:, i] * av[:, i]
                        prod = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
                        sim = np.where(prod == 0.0, 0.0, acc / prod)
                    sims[np.ix_(li, ri)] = sim
                sims = np.where(pair_ok, sims, 0.0)
                l_ids = ids[lrows]
                if diag:
                    # upper triangle in GLOBAL row order: each unordered
                    # row pair once; equal ids never pair (as in the
                    # strict `id_a < id_b` join)
                    gpos = np.arange(c0, c0 + m)
                    keep = gpos[:, None] < np.arange(nr)[None, :]
                    keep &= l_ids[:, None] != r_ids[None, :]
                else:
                    keep = np.ones((m, nr), dtype=bool)
                if cutoff is not None:
                    # NaN must SURVIVE the pre-filter: Spark SQL orders
                    # NaN greater than every value, so the caller's
                    # `sim >= t` KEEPS NaN rows — numpy's IEEE compare
                    # (False) would silently drop them
                    with np.errstate(invalid="ignore"):
                        keep &= (sims >= cutoff) | np.isnan(sims)
                pi, qi = np.nonzero(keep)
                if len(pi):
                    la, rb = l_ids[pi], r_ids[qi]
                    swap = la > rb
                    out_a.append(np.where(swap, rb, la))
                    out_b.append(np.where(swap, la, rb))
                    out_s.append(sims[pi, qi])
        id_at = table.column("__id").type
        if out_a:
            ia = np.concatenate(out_a)
            ib = np.concatenate(out_b)
            ss = np.concatenate(out_s)
        else:
            ia = ib = np.array([], dtype=ids.dtype)
            ss = np.array([], dtype=np.float64)
        return pa.table(
            {
                "id_a": pa.array(ia, type=id_at),
                "id_b": pa.array(ib, type=id_at),
                "sim": pa.array(ss, type=pa.float64()),
            }
        )

    out_schema = f"id_a {id_type}, id_b {id_type}, sim double"
    return tagged.groupBy("bp").applyInArrow(score, schema=out_schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbours for every query vector.

    ``exclude_self`` drops corpus rows whose id equals the query id —
    correct when queries are drawn FROM the corpus (the default use);
    set False when the two id spaces are unrelated datasets.

    Plan: broadcast the (small) query set → one scan of the corpus
    computing all query-corpus similarities map-side → per-query top-k via
    ``row_number`` window.  The window shuffles on ``query_id`` (small:
    |queries| × |corpus| candidate rows are first cut to |queries| × k per
    partition would require partial top-k; at 100 TB add a per-partition
    ``mapInPandas`` heap or an AQE-friendly two-stage
    ``groupBy(query).agg(max_by)`` cascade — the window form is exact and
    adequate while candidates fit the shuffle).

    Returns ``(query_id, neighbor_id, rank, sim)`` with deterministic
    ``(sim desc, neighbor_id)`` ordering.
    """
    # norms computed once per side BEFORE the quadratic join: the
    # per-pair work is then just the dot product (cosine_presplit).
    # JVM fold, not cosine_arrow: the candidate volume here is
    # |queries| x |corpus| with a SMALL query set (the documented use),
    # and below ~10M scored pairs the Arrow path's fixed costs (extra
    # exchange to parallelize the Python stage, per-batch transpose +
    # transfer) exceed the interpreted fold it replaces — measured 2x
    # slower at 100k pairs, break-even at ~1M, 3.7x FASTER at 50M
    # (where the quadratic all-pairs paths use it; both forms are
    # bit-identical so the choice is pure cost).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            on=F.col("query_id") != F.col("neighbor_id")
            if exclude_self
            else F.lit(True),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine_presplit(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim_raw", 6).alias("sim"),
        )
    )


def _hyperplane_matrix(dim: int, planes: int, seed: int) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(planes)
    ]


def hyperplane_signatures_vectorized(
    vec: Column, *, dim: int, planes: int, tables: int, seed_base: int
) -> Column:
    """All *tables* hyperplane signatures in one Arrow-vectorized pass.

    A JVM expression form would cost ``tables × planes`` interpreted
    dim-length folds per row (higher-order functions don't codegen);
    here a single numpy matmul computes every projection at once.
    The ±1 hyperplanes are seeded draws (:func:`_hyperplane_matrix`,
    one seed per table), bit *i* of a signature is
    ``[v · h_i > 0]``, and P(bit match) = 1 - angle/π, so bucket
    collisions concentrate high-cosine pairs.
    """
    from pyspark.sql.functions import pandas_udf

    matrix = np.array(
        [
            row
            for t in range(tables)
            for row in _hyperplane_matrix(dim, planes, seed_base + t)
        ],
        dtype=np.float64,
    )  # (tables*planes, dim)
    weights = np.left_shift(
        np.ones(planes, dtype=np.int64), np.arange(planes, dtype=np.int64)
    )

    @pandas_udf("array<bigint>")
    def sign(batch: pd.Series) -> pd.Series:
        if batch.empty:
            return pd.Series([], dtype=object)
        # NULL/empty/wrong-width vectors get an empty signature array
        # (their row then explodes to no buckets and drops out) instead
        # of blowing up np.stack on a ragged batch
        vals = [
            np.asarray(v, dtype=np.float64)
            if v is not None and len(v) == dim
            else None
            for v in batch
        ]
        valid = [v for v in vals if v is not None]
        if valid:
            proj = np.stack(valid) @ matrix.T  # (n_valid, tables*planes)
            bits = (proj > 0).reshape(len(valid), tables, planes)
            sigs = iter((bits * weights[None, None, :]).sum(axis=2))
        else:
            sigs = iter(())
        out = [
            next(sigs) if v is not None else np.array([], dtype=np.int64)
            for v in vals
        ]
        return pd.Series(out)

    return sign(vec)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 5,
    planes: int = 8,
    tables: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Candidates = corpus vectors sharing a signature with the query in any
    of *tables* independent hash tables; exact cosine re-ranks candidates.
    The join is keyed on ``(table, signature)`` — sub-linear in corpus
    size, and the 100 TB path: signatures are computed map-side in one
    scan, the per-bucket join replaces the full cross product.  Recall is
    tunable via (planes, tables).

    Returns the same shape as :func:`brute_force_topk`.
    """
    # under-split inputs (single-row-group files) would serialize the
    # signature UDF and every downstream stage onto one task; no-op
    # when the corpus arrives properly split (guide §2.5)
    corpus = _spread(corpus)

    def signed(df: DataFrame, idname: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(idname), F.col(vec_col).alias(f"{idname}_v")
        )
        sigs = hyperplane_signatures_vectorized(
            F.col(f"{idname}_v"),
            dim=dim,
            planes=planes,
            tables=tables,
            seed_base=1000,
        )
        return out.select(
            idname,
            f"{idname}_v",
            F.posexplode(sigs).alias("tbl", "sig"),
        )

    # candidate dedup on the bare id pair; vectors re-join afterwards —
    # a distinct() over rows carrying both embedding arrays would
    # shuffle ~2·dim floats per candidate with array-typed keys (same
    # reasoning as embedding_neardup_pairs below)
    q = signed(queries, "query_id").select("query_id", "tbl", "sig")
    c = signed(corpus, "neighbor_id").select("neighbor_id", "tbl", "sig")
    id_pairs = (
        q.join(c, on=["tbl", "sig"])
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            if exclude_self
            else F.lit(True)
        )
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # AQE sizes the distinct's output by BYTES, but the stage built on
    # it scores a dim-length cosine per row — a ~16 B/pair list always
    # coalesces to one partition and serializes ALL scoring onto one
    # task (measured x10: 1 task, 2.76 s of a 4.2 s query, 31 cores
    # idle).  Re-spread with an EXPLICIT width (REPARTITION_BY_NUM —
    # AQE must not re-coalesce it), keyed on the neighbor id so the
    # vector lookup below consumes the clustering when the corpus side
    # is too big to broadcast.  Width derives from the session, never a
    # constant.
    try:
        width = corpus.sparkSession.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — Connect sessions have no context
        from sql_autoloader_spark.functions.scale import shuffle_partitions

        width = shuffle_partitions(corpus)
    id_pairs = id_pairs.repartition(width, F.col("neighbor_id"))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_id_v")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_id_v"),
    )
    # JVM cosine, not cosine_arrow: LSH candidates are bucket-bounded
    # (a few per query per table by design), far below the ~1M-pair
    # crossover where the Arrow path's fixed costs amortize — see
    # brute_force_topk; measured faster here at sf0.1 AND the x10
    # corpus.  The quadratic all-pairs scorers keep cosine_arrow.
    scored = (
        id_pairs.join(qv, on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("query_id_v"), F.col("neighbor_id_v")
            ).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim_raw", 6).alias("sim"),
        )
    )


def _fit_centroids(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    sample_per_centroid: int = 256,
) -> "np.ndarray | None":
    """K-means coarse centroids as a ``(k, dim)`` numpy array (row index
    = centroid id), or ``None`` for an empty corpus.

    Deterministic end to end: the training sample is a ``xxhash64`` cut
    of the corpus (stable across runs and id types, no ordering
    assumptions), hard-capped EXECUTOR-SIDE by an ordered ``limit``
    (per-partition top-k on the hash, merged — never a full sort), and
    canonically re-sorted by id on the driver so the k-means++ seeding
    sees a stable order.  The collect is therefore bounded at
    ``2 × n_centroids × sample_per_centroid`` rows no matter the corpus
    size — the hash cut alone floors at a 1-in-1e6 fraction, which on a
    trillion-row corpus would still be a million rows.

    The Lloyd's iterations run in numpy ON THE DRIVER: the sample is
    bounded by construction (a few thousand vectors whatever the corpus
    size), so a distributed fit would spend ~1 Spark job per iteration
    scanning kilobytes — the collect is one job and the fit itself is
    milliseconds.  This is driver-side math over a constant-size sketch,
    not a driver-side pass over the data.
    """
    n = corpus.count()
    if n == 0:
        # empty corpus: no centroids (ivf_topk then matches nothing,
        # same as brute force)
        return None
    k = max(min(n_centroids, n), 1)
    target = k * sample_per_centroid
    sample = corpus.select(
        F.col(id_col).alias("sid"), F.col(vec_col).alias("v")
    )
    if n > target:
        modulus = 1_000_003
        keep = max(int(modulus * (target / n)), 1)
        sample = sample.where(
            F.pmod(F.xxhash64(F.col("sid")), F.lit(modulus)) < F.lit(keep)
        )
        # deterministic hard cap (hash order, id tie-break): compiles to
        # TakeOrderedAndProject, so each partition keeps at most the cap
        sample = sample.orderBy(
            F.xxhash64(F.col("sid")), F.col("sid").cast("string")
        ).limit(2 * target)
    rows = sample.collect()
    rows.sort(key=lambda r: str(r["sid"]))
    # NULL/empty vectors carry no density information for the quantizer
    vecs = [list(r["v"]) for r in rows if r["v"]]
    if not vecs:
        return None
    x = np.asarray(vecs, dtype=np.float64)
    return _lloyds(x, min(k, len(vecs)))


def _lloyds(
    x: "np.ndarray", k: int, *, max_iter: int = 25, tol: float = 1e-4
) -> "np.ndarray":
    """Deterministic Lloyd's k-means on a driver-side sample.

    k-means++ seeding with a fixed RNG, squared-Euclidean assignment,
    empty clusters re-seeded to the farthest point.  Input order is
    canonicalized by the caller, so results are reproducible across
    runs, partitionings, and engines.
    """
    rng = np.random.RandomState(0)
    n = x.shape[0]
    k = min(k, n)
    # k-means++ init
    centers = [x[rng.randint(n)]]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = d2.sum()
        if total <= 0:
            centers.append(x[rng.randint(n)])
            continue
        probs = d2 / total
        idx = int(rng.choice(n, p=probs))
        centers.append(x[idx])
        d2 = np.minimum(d2, ((x - centers[-1]) ** 2).sum(axis=1))
    c = np.asarray(centers)
    for _ in range(max_iter):
        # (n, k) squared distances without the n×k×dim intermediate
        dist = (
            (x**2).sum(axis=1)[:, None]
            - 2 * (x @ c.T)
            + (c**2).sum(axis=1)[None, :]
        )
        assign = dist.argmin(axis=1)
        new_c = np.empty_like(c)
        # farthest-point order for empty-cluster reseeds: each empty
        # cluster takes the NEXT farthest point, so two empties in one
        # iteration never collapse onto the same duplicate centroid
        far_order = np.argsort(-dist.min(axis=1), kind="stable")
        next_far = 0
        for j in range(k):
            members = x[assign == j]
            if len(members):
                new_c[j] = members.mean(axis=0)
            else:
                new_c[j] = x[far_order[next_far % n]]
                next_far += 1
        shift = float(((new_c - c) ** 2).sum())
        c = new_c
        if shift < tol:
            break
    return c


def _nearest_cids(centroids: "np.ndarray", n: int):  # noqa: ANN202
    """Arrow-vectorized quantizer: vector -> its *n* nearest centroid ids
    by cosine, ties broken toward the lower id (stable argsort).  The
    centroid matrix is captured by value — a few KB shipped once per
    task, the map-side IVF assignment."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    c_norm = np.linalg.norm(c, axis=1)
    c_norm[c_norm == 0.0] = 1.0

    @pandas_udf("array<int>")
    def nearest(batch: pd.Series) -> pd.Series:
        out = []
        for v in batch:
            if v is None or len(v) == 0:
                out.append([])
                continue
            x = np.asarray(v, dtype=np.float64)
            nx = np.linalg.norm(x)
            sims = (c @ x) / (c_norm * (nx if nx else 1.0))
            idx = np.argsort(-sims, kind="stable")[:n]
            out.append([int(i) for i in idx])
        return pd.Series(out)

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
    quantize: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: route via coarse centroids.

    Centroids come from a deterministic k-means fit over a bounded
    ``xxhash64``-cut sample of the corpus (ids may be any type — no id
    arithmetic).  Assignment is MAP-SIDE: the (tiny, driver-resident)
    centroid matrix ships inside an Arrow-vectorized UDF that quantizes
    every vector to its nearest-centroid id(s) with one numpy matmul per
    batch — no crossJoin against the centroid set, no per-vector window
    shuffle.  Each query probes its *n_probe* nearest centroids and the
    scoring join is keyed on ``centroid_id`` — the classic inverted-file
    layout: the only shuffles are the cid-keyed join (∝ probed fraction
    of the corpus) and the final per-query top-k.  The fit is the
    offline index-build step (one bounded sample collect; the Lloyd's
    iterations are driver-side milliseconds).

    ``quantize=True`` composes the int8 path: ROUTING still uses the
    float vectors (map-side, before any shuffle), but the cid-keyed
    join then carries 1-byte codes instead of 4-byte floats — the
    inverted-file shuffle shrinks 4x — and candidates score by the
    quantized cosine (exact LONG dots; ~1/127 resolution).  ``sim`` is
    then the quantized cosine.
    """
    cent = _fit_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids
    )
    if cent is None:
        # empty result with id dtypes matching the non-empty path
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        return corpus.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("query_id", queries.schema[id_col].dataType),
                    StructField("neighbor_id", corpus.schema[id_col].dataType),
                    StructField("rank", IntegerType()),
                    StructField("sim", DoubleType()),
                ]
            ),
        )

    def assign(df: DataFrame, idname: str, probe: int) -> DataFrame:
        """Top-*probe* nearest centroid ids per vector (map-side).

        With ``quantize``, the float vector is swapped for its int8
        codes + integer norm HERE, map-side before the cid shuffle —
        that is where the 4x byte saving lands.
        """
        near = _nearest_cids(cent, probe)
        if quantize:
            coded = df.select(
                F.col(id_col).alias(idname),
                F.col(vec_col).alias("__v"),
                quantize_scale(F.col(vec_col)).alias("__s"),
            ).select(
                idname,
                "__v",
                quantize_int8(F.col("__v"), F.col("__s")).alias(
                    f"{idname}_q"
                ),
            )
            out = coded.select(
                idname,
                f"{idname}_q",
                F.sqrt(int_dot(f"{idname}_q", f"{idname}_q")).alias(
                    f"{idname}_n"
                ),
                near(F.col("__v")).alias("cids"),
            )
        else:
            out = df.select(
                F.col(id_col).alias(idname),
                F.col(vec_col).alias(f"{idname}_v"),
                near(F.col(vec_col)).alias("cids"),
            )
        if probe == 1:
            # try_element_at: a null/empty vector quantizes to an empty
            # cid list; it must DROP (like the explode path) rather than
            # raise ANSI INVALID_ARRAY_INDEX_IN_ELEMENT_AT
            return (
                out.withColumn("cid", F.try_element_at("cids", F.lit(1)))
                .where(F.col("cid").isNotNull())
                .drop("cids")
            )
        return out.withColumn("cid", F.explode("cids")).drop("cids")

    assigned_corpus = assign(corpus, "neighbor_id", 1)
    probed_queries = assign(queries, "query_id", n_probe)

    # each corpus vector has exactly one centroid and each query probes
    # distinct centroids, so (query, neighbor) pairs are already unique —
    # no distinct() needed (it would be a full extra shuffle)
    if quantize:
        score_col = F.coalesce(
            int_dot("query_id_q", "neighbor_id_q").cast("double")
            / F.nullif(
                F.col("query_id_n") * F.col("neighbor_id_n"), F.lit(0.0)
            ),
            F.lit(0.0),
        )
    else:
        score_col = cosine_arrow(F.col("query_id_v"), F.col("neighbor_id_v"))
    scored = (
        probed_queries.join(assigned_corpus, on="cid")
        .where(
            (F.col("query_id") != F.col("neighbor_id"))
            if exclude_self
            else F.lit(True)
        )
        .select("query_id", "neighbor_id", score_col.alias("sim_raw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim_raw", 6).alias("sim"),
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.95,
    planes: int = 12,
    tables: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ *threshold*).

    LSH-bucketed self-join (same machinery as :func:`lsh_topk`), exact
    cosine verification on candidates.  ``max_bucket_size`` bounds
    bucket skew exactly like ``minhash_lsh_pairs``: oversized buckets
    (giant duplicate clusters) pair each member with the bucket's
    minimum id only — linear, not quadratic, in cluster size, trading
    recall for members not similar to the representative (size the cap
    so only degenerate near-identical clusters exceed it).  Returns
    ``(id_a, id_b, sim)`` with ``id_a < id_b``.
    """
    # under-split inputs would serialize the signature matmul (tables ×
    # planes per row) and every downstream stage onto 1-2 scan tasks;
    # no-op when the corpus arrives properly split (guide §2.5) — the
    # same guard lsh_topk carries (measured there: x10 signature stages
    # 2 tasks → full width)
    df = _spread(df)
    base = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
    sigs = hyperplane_signatures_vectorized(
        F.col("v"), dim=dim, planes=planes, tables=tables, seed_base=2000
    )
    banded = base.select("doc", "v", F.posexplode(sigs).alias("tbl", "sig"))
    # pin before the self-join: the hyperplane-signature tree (tables ×
    # planes dot products) would otherwise execute once per join side.
    # persist: lazy (no job until the query's first action), lineage
    # inspectable, partitions reused across both join sides.  Pins live
    # one generation (released by the next invocation or
    # dedup.release_pins) — see dedup._fresh_pins.
    from sql_autoloader_spark.functions.dedup import (
        _bucket_pairs,
        _fresh_pins,
    )

    pins = _fresh_pins("embedding_neardup_pairs")
    banded = banded.persist()
    pins.append(banded)

    # Vectors are looked up AFTER candidate dedup: the bucket self-join
    # emits each pair once per shared (table, signature), and deduping
    # rows that carry both vectors would shuffle ~2·dim floats per
    # candidate with array-typed grouping keys.  Dedup the 16-byte id
    # pair instead, then re-join the vectors from the pinned signatures
    # frame — at 100 TB the dedup shuffle is the pair list, not the
    # pair list × vector payload.
    id_pairs = _bucket_pairs(
        banded.select("tbl", "sig", "doc"),
        ["tbl", "sig"],
        max_bucket_size=max_bucket_size,
        pins=pins,
    ).distinct()

    # pin the deduped vector lookup: the id_a and id_b joins each scan
    # it — one dedup aggregate over the vector payload, not two
    vecs = banded.select("doc", "v").dropDuplicates(["doc"]).persist()
    pins.append(vecs)
    pairs = id_pairs.join(
        vecs.select(F.col("doc").alias("id_a"), F.col("v").alias("va")),
        on="id_a",
    ).join(
        vecs.select(F.col("doc").alias("id_b"), F.col("v").alias("vb")),
        on="id_b",
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            # filterable: the threshold filter directly above must not
            # push below this projection and run the UDF twice per pair
            F.round(
                cosine_arrow(
                    F.col("va"), F.col("vb"), filterable=True
                ),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def quantize_scale(vec: Column) -> Column:
    """The per-vector symmetric quantization scale ``127 / max|x|``
    (NULL for an all-zero vector, so downstream rounds coalesce to 0)."""
    amax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.lit(127.0) / F.nullif(amax, F.lit(0.0))


def quantize_int8(vec: Column, scale: Column | None = None) -> Column:
    """Symmetric per-vector int8 quantization: ``q_i = round(x_i * 127 /
    max|x|)`` as ``array<tinyint>``, an all-zero vector quantizing to
    all zeros.

    The at-scale memory lever for similarity search: an ``array<float>``
    embedding column shrinks 4x (16x vs double) as 1-byte codes with one
    scale factor per vector, so 4x more corpus fits a broadcast, a
    shuffle, or an executor's storage — and integer dot products on the
    quantized codes are EXACT (no float accumulation-order concerns),
    making derived scores bit-deterministic and oracle-able.

    Pass *scale* (:func:`quantize_scale` materialized as its own column
    first) when quantizing whole tables: higher-order-function lambdas
    are interpreted and do NOT hoist loop-invariant subexpressions, so
    inlining the scale would re-scan the array for its max once per
    element — O(d²) per vector instead of O(d).

    All arithmetic is double precision built-ins (no UDF); ``round`` is
    half-away-from-zero in both Spark and DuckDB, so an oracle replaying
    this expression matches bit-for-bit.
    """
    def quantize(s: Column) -> Column:
        return F.transform(
            vec,
            lambda x: F.coalesce(
                F.round(x.cast("double") * s, 0), F.lit(0.0)
            ).cast("byte"),
        )

    if scale is None:
        # bind the derived scale once per row — inlined, the lambda
        # would re-scan the array for its max at every element (O(d²))
        return bind_once(quantize_scale(vec), quantize)
    return quantize(scale)


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (LONG math —
    64-dim int8 codes peak at ``64 * 127^2``, nowhere near overflow)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Cosine top-k over int8-quantized codes — the reduced-memory twin
    of :func:`brute_force_topk`.

    Same plan shape (broadcast queries, one corpus scan, per-query
    ``row_number`` top-k) but the broadcast and the per-pair work run on
    1-byte codes: exact LONG dot products, cosine reconstructed from the
    integer dot and the two integer norms.  Ranking is by the QUANTIZED
    COSINE — the per-vector scale factors cancel there, whereas the raw
    integer dot still carries both scales and would rank large-magnitude
    vectors above more-similar ones.  The cosine approximates float
    cosine to ~1/127 code resolution while moving 4x fewer bytes — at
    100 TB that is the difference between a corpus that broadcasts and
    one that shuffles.

    Returns ``(query_id, neighbor_id, rank, qdot, qsim)`` ordered by
    ``qsim`` — deterministic across engines (the doubles derive from
    exact integers via identical IEEE ops); ties break on
    ``neighbor_id``.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__v"),
        quantize_scale(F.col(vec_col)).alias("__s"),
    ).select(
        "query_id",
        quantize_int8(F.col("__v"), F.col("__s")).alias("qa"),
    ).select("query_id", "qa", F.sqrt(int_dot("qa", "qa")).alias("qn"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__v"),
        quantize_scale(F.col(vec_col)).alias("__s"),
    ).select(
        "neighbor_id",
        quantize_int8(F.col("__v"), F.col("__s")).alias("qb"),
    ).select("neighbor_id", "qb", F.sqrt(int_dot("qb", "qb")).alias("cn"))
    scored = (
        F.broadcast(q)
        .join(
            c,
            on=F.col("query_id") != F.col("neighbor_id")
            if exclude_self
            else F.lit(True),
        )
        .select(
            "query_id",
            "neighbor_id",
            # the dot is computed ONCE; qsim derives from it below
            int_dot("qa", "qb").alias("qdot"),
            (F.col("qn") * F.col("cn")).alias("__nprod"),
        )
        .select(
            "query_id",
            "neighbor_id",
            "qdot",
            F.coalesce(
                F.col("qdot").cast("double")
                / F.nullif(F.col("__nprod"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("qsim_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qsim_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            "qdot",
            F.round("qsim_raw", 6).alias("qsim"),
        )
    )
