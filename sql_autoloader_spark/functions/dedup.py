"""Deduplication operators: exact → fingerprint → fuzzy (MinHash/SimHash).

Design rules for 100 TB:
- **Never all-pairs.** Every fuzzy family generates *candidate pairs* by
  joining on a bucketing key (band signature / fingerprint chunk / shared
  token), so the shuffle is keyed and skew is bounded by bucket size; the
  exact similarity is then verified only on candidates.  The three LSH
  families (MinHash, SimHash, embedding hyperplanes) share one candidate
  generator, :func:`_bucket_pairs`; batch MinHash and the stream admitter
  share one front end, :func:`_minhash_front`.
- **Exact dedup is one keyed shuffle**: ``groupBy(fingerprint)`` compiles
  to partial+final HashAggregate (map-side combined).
- All hashing is Spark's ``xxhash64``; token hashes are always taken
  JVM-side.  The Python touchpoints are Arrow-vectorized numpy passes
  over them (:func:`_minhash_front`, :func:`simhash_vectorized`) —
  Spark evaluates higher-order-function lambdas interpreted (no
  codegen), so a numpy pass beats the interpreted per-token array
  passes by ~10x; the integer math is exact and bit-identical to the
  JVM expression forms (differential-tested).
- **Pin lifetime**: the fuzzy builders ``persist()`` internal frames
  (signatures, counted buckets) so multi-consumer plans compute them
  once.  Each builder releases the pins of its own PREVIOUS invocation
  (one live generation per operator — see ``_fresh_pins``), and
  :func:`release_pins` drops everything; a long-lived session calling
  these per batch therefore holds at most one generation per operator
  (or run the streaming admission path, which manages its own
  per-batch checkpoints).
"""

from __future__ import annotations

import logging
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from sql_autoloader_spark.functions.text import (
    bind_once,
    fingerprint_md5,
    tokens,
    word_shingles,
)

# The 31-bit Mersenne prime: with h folded into [0, p) and a, b < p the
# permutation product a*h < 2^62 stays inside int64 even under ANSI
# overflow checking (a 61-bit prime would overflow the multiply).
_MERSENNE31 = (1 << 31) - 1

# -- persist-pin lifetime (round 16, guide §5) -------------------------------
#
# The fuzzy builders persist() internal frames (signatures, banded
# buckets, counted buckets) so multi-consumer plans compute them once.
# The RESULT frame is lazy — the pins must outlive the builder call and
# survive until the caller's action — so they cannot be released inside
# the builder.  Without any release, a long-lived session issuing these
# per batch accumulates dead cache in the session CacheManager and
# forces eviction churn at scale.  The registry below bounds that to ONE
# live generation per operator: each new invocation releases the
# previous invocation's pins, and :func:`release_pins` drops everything
# (for callers that know their actions are done).  Unpersist only drops
# the cache — a late consumer of an old frame recomputes correctly, so
# even two THREADS racing the same operator (one rotating the other's
# pins away mid-query) degrade to recompute, never to wrong results.
# No registered query calls the same pinned operator twice in one
# composed plan (statically checked in r16).

_PIN_REGISTRY: dict[str, list[DataFrame]] = {}
#: guards the registry's dict pop/insert only; unpersist runs outside it
_PIN_LOCK = threading.Lock()


def _unpersist_all(frames: list[DataFrame]) -> None:
    for f in frames:
        try:
            f.unpersist()
        except Exception:  # noqa: BLE001, S110 — session may be gone
            pass


def _fresh_pins(op: str) -> list[DataFrame]:
    """Release the previous invocation's pins for *op*; return (and
    register) the list the new invocation should append its pins to."""
    pins: list[DataFrame] = []
    with _PIN_LOCK:
        old = _PIN_REGISTRY.pop(op, [])
        _PIN_REGISTRY[op] = pins
    _unpersist_all(old)
    return pins


def release_pins() -> None:
    """Release every internal persist() pin the fuzzy builders (here and
    in :mod:`similarity`) have recorded.  Safe at any time: downstream
    frames recompute from lineage if re-executed after release."""
    with _PIN_LOCK:
        old = list(_PIN_REGISTRY.values())
        _PIN_REGISTRY.clear()
    for pins in old:
        _unpersist_all(pins)


def spread_for_compute(df: DataFrame, *, barrier: bool = True) -> DataFrame:
    """Repartition a frame whose partition count is far below the
    cluster's parallelism before a CPU-bound per-row stage.

    Parquet splits are sized by bytes (``maxPartitionBytes``), so a
    small-but-compute-heavy input (short docs, expensive hashing) can
    arrive as one split and serialize the whole signature stage onto
    one core.  The shuffle moved here is the *raw* rows — far cheaper
    than computing signatures single-threaded.  No-op when the input is
    already reasonably split (the 100 TB case: thousands of splits).

    The probe uses ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()`` — under AQE the latter finalizes the
    physical plan and *executes* upstream shuffle stages just to read a
    count, and that work is not reused by the real query.  A derived
    frame with upstream shuffles reports its source files here; if it
    was shuffled it already carries ``spark.sql.shuffle.partitions``
    parallelism, and the repartition this would add is a no-op-sized
    shuffle of raw rows either way.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — Connect sessions have no context
        from sql_autoloader_spark.functions.scale import shuffle_partitions

        target = shuffle_partitions(df)
    files = df.inputFiles()
    if not (0 < len(files) * 2 <= target):
        return df
    if not barrier:
        return df.repartition(target)
    # The lazy localCheckpoint is a predicate-pushdown BARRIER, not
    # just a cache: Catalyst pushes deterministic filters below a
    # bare Repartition into the file scan, so a caller's expensive
    # computed-column filter (quality scores, trigram counts) would
    # run inside the original single-split scan task and the
    # repartition would parallelize nothing.  The pin is released when
    # the frame is garbage-collected (ContextCleaner); at real scale
    # the branch never fires and filters push into the many-split scan
    # exactly as they should.  Split count does not bound bytes, so a
    # few huge files fall back to the bare repartition (no pin) — only
    # the caller's own filters lose the barrier there.
    if _local_bytes(files) > _BARRIER_PIN_MAX_BYTES:
        return df.repartition(target)
    return df.repartition(target).localCheckpoint(eager=False)


#: pin cap for the spread barrier: inputs above this skip the
#: localCheckpoint (1 GiB — far above every fixture, far below trouble)
_BARRIER_PIN_MAX_BYTES = 1 << 30


def _local_bytes(files: list[str]) -> int:
    """Total size of local ``file:`` inputs; unknown schemes count 0
    (falls back to pinning — remote stores imply a real cluster where
    the spread branch rarely fires at all)."""
    import os

    total = 0
    for f in files:
        path = f.removeprefix("file:")
        if "://" in f and not f.startswith("file:"):
            continue
        try:
            total += os.path.getsize(path)
        except OSError:
            continue
    return total


def exact_dedup(
    df: DataFrame, subset: list[str], *, id_col: str, hash_key: bool = False
) -> DataFrame:
    """Keep exactly one row (minimal *id_col*) per distinct *subset* value.

    ``min_by`` keeps the whole row in one aggregation pass — one shuffle
    on the dedup key, no self-join, no window (a window over the key would
    shuffle identically but sort within groups for no benefit).

    ``hash_key=True`` groups on the SHA-256 of the subset's JSON
    encoding instead of the raw values: the shuffle KEY drops from full
    document bytes to 32 B/row — the 100 TB path when the dedup column
    is the document text itself (the payload columns still shuffle;
    the key no longer doubles them).  ``to_json(struct(...))`` is an
    injective canonical encoding (escaped, null-omitting but
    column-name-tagged), so groups are identical up to SHA-256
    collisions (~n²/2²⁵⁷ — below hardware error rates).
    """
    if hash_key:
        def canon(c: str) -> Column:
            # Spark's groupBy NORMALIZES float keys (-0.0 folds into
            # 0.0; NaNs compare equal) but a textual encoding would
            # keep them distinct — canonicalize so both paths group
            # identically.  (All NaNs already serialize to one text.)
            dt = df.schema[c].dataType.simpleString()
            col = F.col(c)
            if dt in ("float", "double"):
                return F.when(col == F.lit(0.0), F.lit(0.0).cast(dt)).otherwise(col)
            return col

        key = F.sha2(
            F.to_json(F.struct(*[canon(c).alias(c) for c in subset])), 256
        )
        aggs = [F.min(id_col).alias(id_col)] + [
            F.min_by(c, id_col).alias(c)
            for c in df.columns
            if c != id_col
        ]
        return (
            df.groupBy(key.alias("__dedup_key"))
            .agg(*aggs)
            .select(*df.columns)
        )
    others = [c for c in df.columns if c not in subset]
    aggs = [F.min(id_col).alias(id_col)] + [
        F.min_by(c, id_col).alias(c) for c in others if c != id_col
    ]
    return df.groupBy(*subset).agg(*aggs).select(*df.columns)


def fingerprint_dedup_stats(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Group documents by normalized-text fingerprint.

    Returns ``(fp, keep_id, n_copies)`` — the survivor id plus duplicate
    count per fingerprint. One keyed shuffle; the md5 fingerprint (32-hex)
    is the shuffle key, so data volume after the map side is ~48 bytes/doc
    regardless of document size.

    The normalization+hash is the CPU; spread it across cores first —
    a single-file (or single-row-group) corpus otherwise serializes the
    whole regex pass onto one scan task (no-op at real scale).
    ``barrier=False``: nothing downstream filters a computed column, so
    the checkpoint barrier would only materialize the raw documents
    into executor storage for no pushdown protection — a plain
    repartition hashes them straight off the shuffle (x10: 0.88 →
    0.71 s, and no corpus-sized cache write at real scale).
    """
    return (
        spread_for_compute(
            df.select(id_col, text_col), barrier=False
        ).select(
            fingerprint_md5(F.col(text_col)).alias("fp"),
            F.col(id_col),
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


def token_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_words: int = 1,
) -> DataFrame:
    """Exact Jaccard similarity over token (or word-shingle) *sets* for
    every document pair sharing at least one token.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold``.

    Plan shape: explode distinct shingles → self-equi-join on the shingle
    (keyed shuffle; candidate generation) → count intersections per pair →
    join per-doc set sizes (AQE-chosen strategy — the size table is one
    row per doc, corpus-proportional, so never force-broadcast)
    → exact Jaccard filter.  The join key is the shingle, so ubiquitous
    shingles create skew: a shingle in f docs generates f·(f-1)/2
    candidate pairs.  :func:`minhash_lsh_pairs` is the sub-quadratic
    scale path.
    """
    shingle = (
        tokens(F.col(text_col))
        if shingle_words == 1
        else word_shingles(F.col(text_col), shingle_words)
    )
    # spread first: shingle construction is the CPU-bound map stage and
    # must not inherit a single byte-sized parquet split.  No barrier —
    # the eager checkpoint on `sets` below is the pin; a second raw-row
    # pin would be a pure duplicate materialization
    sets = spread_for_compute(df, barrier=False).select(
        F.col(id_col).alias("doc"), F.array_distinct(shingle).alias("sh")
    )
    # pin: referenced four times below (two join sides + two size maps).
    # persist, not localCheckpoint: building the frame must not run jobs
    # (plan audits and tests construct without executing), and persist
    # keeps the lineage inspectable and recomputable — partitions
    # materialize on the query's first action and are reused after
    pins = _fresh_pins("token_jaccard_pairs")
    sets = sets.persist()
    pins.append(sets)
    sizes = sets.select("doc", F.size("sh").cast("bigint").alias("sz"))
    exploded = sets.select("doc", F.explode("sh").alias("s"))

    left = exploded.withColumnsRenamed({"doc": "id_a"})
    right = exploded.withColumnsRenamed({"doc": "id_b"})
    inter = (
        left.join(right, on="s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    # sizes is one row per doc — corpus-proportional, so no forced
    # broadcast: AQE broadcasts it at small scale and shuffles at 100 TB
    return (
        inter.join(sizes.withColumnsRenamed({"doc": "id_a", "sz": "sz_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({"doc": "id_b", "sz": "sz_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _gram_keys(text_col: str, ngram_words: int, hashed: bool) -> Column:
    """Word n-gram keys of a text column: exact space-joined strings
    (portable, oracle-checkable) or xxhash64 over windows of per-token
    hashes (8-byte keys, strings never materialized — ~3× cheaper map
    stage; used by the span ops' ``hash_grams`` scale path; MinHash
    shingles are the same hashes, taken in numpy by
    :func:`_minhash_front`)."""
    if not hashed:
        return word_shingles(F.col(text_col), ngram_words)
    # bind the token-hash array once — element_at in the window lambda
    # would otherwise re-run the whole tokenize+hash per gram word
    return bind_once(
        _token_hashes(text_col), lambda th: _hash_windows(th, ngram_words)
    )


def _token_hashes(text_col: str) -> Column:
    return F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))


def _hash_windows(th: Column, ngram_words: int) -> Column:
    """xxhash64 over each window of *ngram_words* consecutive token
    hashes of *th* (empty when *th* is shorter than one window)."""
    count = F.size(th) - F.lit(ngram_words - 1)
    return F.when(count <= 0, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), count - F.lit(1)),
            lambda i: F.xxhash64(
                *[
                    F.element_at(th, i + F.lit(w + 1))
                    for w in range(ngram_words)
                ]
            ),
        )
    )


def dup_span_coverage(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    ngram_words: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Cross-document duplicate-span coverage: for each document, the
    fraction of its word *ngram_words*-gram positions whose n-gram also
    occurs in at least one OTHER document.

    This is the document-level restatement of substring-level training
    -data dedup (Lee et al., *Deduplicating Training Data Makes Language
    Models Better*, ACL 2022): instead of a distributed suffix array it
    measures how much of a document is covered by spans duplicated
    elsewhere in the corpus — the signal used to drop boilerplate-heavy
    documents or to target span-removal.  Complements
    :func:`token_jaccard_pairs` (pairwise, set-level) and the per-doc
    ``dup_frac`` repetition score (intra-document only).

    Returns ``(id_col, n_grams, dup_grams, dup_frac)`` for every
    document with at least one n-gram (≥ *ngram_words* words).

    Plan shape — two keyed aggregations and one join, never all-pairs:
    explode (doc, gram, per-doc position count) → per-gram distinct-doc
    count (corpus vocabulary, one shuffle) → join back on the gram →
    per-doc sum of positions whose gram has ``n_docs >= 2``.  All
    n-gram construction is JVM-side array expressions (zero Python).
    With ``hash_grams=True`` gram keys are built as ``xxhash64`` over
    windows of per-token hashes — the n-gram STRINGS are never
    materialized (the ``slice``+``concat_ws`` higher-order lambdas are
    interpreted and dominate the map stage ~3:1, the same finding as
    the MinHash signature path) and the join/shuffle key is 8 bytes
    instead of the full n-gram string, the right trade at 100 TB where
    the exploded gram table dominates the shuffle (collision odds
    ~v²/2⁶⁵ for v distinct grams conflate two grams' doc counts,
    immaterial for a filter signal).  The default keeps exact strings
    so results are portably exact (the sf0.01 oracle path).
    """
    # spread first: n-gram construction is the CPU-bound map stage and
    # must not inherit a single byte-sized parquet split
    grams = spread_for_compute(df, barrier=False).select(
        F.col(id_col).alias("doc"),
        F.explode(_gram_keys(text_col, ngram_words, hash_grams)).alias("g"),
    )
    # one row per (doc, gram) with its position count; consumed twice
    # (the vocabulary aggregate and the join-back), so pin it — it is
    # the distinct gram-per-doc table, far smaller than the exploded
    # positions stream it collapses
    per_doc = (
        grams.groupBy("doc", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # persist, not localCheckpoint: no job at build time, lineage
        # stays inspectable (the no-Python/no-cartesian plan tests read
        # through this pin), partitions still materialize exactly once
        .persist()
    )
    _fresh_pins("dup_span_coverage").append(per_doc)
    # corpus vocabulary: in how many distinct docs does each gram occur?
    # (input is already distinct per (doc, gram), so a plain count)
    vocab = per_doc.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    # join back on the gram.  No forced broadcast: the vocabulary is
    # corpus-proportional; AQE broadcasts it at small scale only.  Skew
    # is structurally bounded — both sides are distinct on the gram, so
    # a ubiquitous gram contributes f rows × 1 row, never f × f.
    return (
        per_doc.join(vocab, on="g")
        .groupBy("doc")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("dup_grams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams") / F.col("n_grams").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


def span_leakage(
    probe: DataFrame,
    reference: DataFrame,
    *,
    id_col: str,
    text_col: str,
    ngram_words: int = 8,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document span leakage of *probe* against *reference*: for
    each probe document, the fraction of its word n-gram positions
    whose n-gram occurs anywhere in the reference corpus.

    The operational form of train→eval decontamination: score every
    eval/val document by how much of it is covered by spans the
    training split already contains, then drop documents above a
    threshold (the document-level report behind the corpus-level
    contamination *rate*).  Equally useful crawl-vs-existing-corpus:
    probe a new crawl against the current corpus before admission.

    Returns ``(id_col, n_grams, leaked_grams, leaked_frac)`` for every
    probe document with at least one n-gram.

    Plan shape: reference distinct-gram vocabulary (one aggregate —
    grams deduplicated corpus-wide, so the join side is vocabulary-
    sized, not corpus-sized) → left join probe's per-(doc, gram)
    position counts on the gram → per-doc aggregate.  All n-gram
    construction is JVM-side array expressions.  ``hash_grams=True``
    joins on xxhash64 keys built from windows of per-token hashes —
    strings never materialized, 8-byte shuffle keys, the 100 TB path
    (collision odds ~v²/2⁶⁵ overstate leakage immaterially for a
    filter signal).
    """
    gram = _gram_keys(text_col, ngram_words, hash_grams)
    ref_grams = spread_for_compute(reference, barrier=False).select(
        F.explode(gram).alias("g")
    )
    probe_grams = spread_for_compute(probe, barrier=False).select(
        F.col(id_col).alias("doc"), F.explode(gram).alias("g")
    )
    vocab = ref_grams.distinct().withColumn("__hit", F.lit(1))
    per_doc = probe_grams.groupBy("doc", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # left join on the gram; both sides distinct on the gram per key
    # group, so a ubiquitous gram contributes f × 1 rows, never f × f.
    # No forced broadcast — the vocabulary is corpus-proportional.
    return (
        per_doc.join(vocab, on="g", how="left")
        .groupBy("doc")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__hit").isNotNull(), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("leaked_grams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "leaked_grams",
            F.round(
                F.col("leaked_grams") / F.col("n_grams").cast("double"), 6
            ).alias("leaked_frac"),
        )
    )


def minhash_signature_from_hashes(
    hashes: Column, *, num_hashes: int, seed: int = 42
) -> Column:
    """Signature from an already-hashed shingle array (values in
    ``[0, p)``): the JVM expression form of the signature
    :func:`_minhash_front` folds in numpy, kept as the tests' reference."""
    params = _minhash_params(num_hashes, seed)
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashes,
                    lambda h: (
                        (F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE31)
                    ),
                )
            )
            for a, b in params
        ]
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def _check_minhash_params(
    num_hashes: int, bands: int, shingle_words: int
) -> int:
    """Validate batch and stream MinHash parameters; return rows/band."""
    if min(num_hashes, bands, shingle_words) < 1 or num_hashes % bands:
        msg = (
            f"num_hashes={num_hashes}, bands={bands} and shingle_words="
            f"{shingle_words} must be >= 1, and bands must divide "
            "num_hashes: a remainder would silently drop trailing "
            "minhashes and change the recall S-curve from what was "
            "requested."
        )
        raise ValueError(msg)
    return num_hashes // bands


#: Spark's ``XXH64`` primes, for the numpy form of ``xxhash64``
_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5 = np.array(
    [0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5],
    dtype=np.uint64,
)  # fmt: skip


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxhash64(cols: list[np.ndarray], seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(c1, …, ck)`` over non-null ``bigint`` columns
    (int64 arrays of one shape): ``XXH64.hashLong`` chained from *seed*
    through the columns, wrapping in uint64 as the JVM's longs do."""
    h = np.full(np.shape(cols[0]), seed, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for c in cols:
            x = np.asarray(c, dtype=np.int64).view(np.uint64)
            h = h + _XXH_P5 + np.uint64(8)
            h ^= _rotl64(x * _XXH_P2, 31) * _XXH_P1
            h = _rotl64(h, 27) * _XXH_P1 + _XXH_P4
            h ^= h >> np.uint64(33)
            h *= _XXH_P2
            h ^= h >> np.uint64(29)
            h *= _XXH_P3
            h ^= h >> np.uint64(32)
    return h.view(np.int64)


def _minhash_front(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    bands: int,
    shingle_words: int,
    seed: int = 42,
) -> DataFrame:
    """``(doc, sh, bk)``: each document's distinct hashed word shingles
    ``sh`` in ``[0, p)`` and the *bands* bucket keys ``bk`` of their
    MinHash signature.  Batch MinHash joins on these keys and the stream
    admitter stores them, so both build them here.

    The token hashes stay on the JVM (:func:`_token_hashes`, as in
    every text operator); one ``mapInArrow`` pass takes them to band
    keys in numpy, bit-identical to the JVM chain :func:`_hash_windows`
    → ``pmod`` → ``array_distinct`` → :func:`minhash_signature_from_hashes`
    → per-band ``xxhash64`` (differential-tested), which Spark evaluates
    as interpreted lambdas and must re-plan on every stream batch.
    Documents with NULL text or fewer than *shingle_words* tokens emit
    no row: their empty shingle set would give a degenerate all-null
    signature that glues them into one giant bucket.  Shingle strings
    are never materialized: the verify Jaccard runs over hashed shingle
    sets, identical up to ~n²/2³² hash collisions.
    """
    rows_per_band = _check_minhash_params(num_hashes, bands, shingle_words)
    params = _minhash_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    src = df.select(
        F.col(id_col).alias("doc"), _token_hashes(text_col).alias("th")
    )

    def fuse(batches):  # noqa: ANN001, ANN202
        for batch in batches:
            yield _minhash_batch(batch, a, b, shingle_words, rows_per_band)

    longs = ArrayType(LongType(), containsNull=False)
    return src.mapInArrow(
        fuse,
        StructType(
            [src.schema["doc"], StructField("sh", longs), StructField("bk", longs)]
        ),
    )


def _minhash_batch(
    batch: pa.RecordBatch,
    a: np.ndarray,
    b: np.ndarray,
    shingle_words: int,
    rows_per_band: int,
) -> pa.RecordBatch:
    """One Arrow batch of :func:`_minhash_front`: ``(doc, th)`` →
    ``(doc, sh, bk)``."""
    doc, th = batch.column(0), batch.column(1)
    offsets = th.offsets.to_numpy().astype(np.int64)
    n_tok = np.diff(offsets)
    keyed = (n_tok >= shingle_words) & ~th.is_null().to_numpy(
        zero_copy_only=False
    )
    # windows: row k has n_tok - w + 1 shingles, starting at its offset
    counts = n_tok[keyed] - (shingle_words - 1)
    row = np.repeat(np.arange(len(counts)), counts)
    pos = np.repeat(offsets[:-1][keyed] - (np.cumsum(counts) - counts), counts)
    pos += np.arange(len(pos))
    values = th.values.to_numpy()
    sh = _xxhash64([values[pos + w] for w in range(shingle_words)]) % _MERSENNE31
    # array_distinct: the first occurrence of each (row, shingle), in
    # order (row < 2^32 and shingle < 2^31 pack into one int64 key)
    first = np.unique((row << 31) | sh, return_index=True)[1]
    first.sort()
    sh, row = sh[first], row[first]
    sh_offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(np.bincount(row, minlength=len(counts)), out=sh_offsets[1:])
    # Two signature regimes (measured): short docs → reduceat streams
    # the batch once per permutation (~2× faster); long docs → a per-row
    # (num_hashes × n) block stays cache-hot where reduceat's passes
    # thrash memory (~2× slower).  Crossover ≈ 1k shingles/doc.
    sig = np.empty((len(counts), len(a)), dtype=np.int64)
    if len(counts) and sh.size // len(counts) <= 1024:
        for i in range(len(a)):
            sig[:, i] = np.minimum.reduceat(
                (a[i] * sh + b[i]) % _MERSENNE31, sh_offsets[:-1]
            )
    else:
        for j in range(len(counts)):
            h = sh[sh_offsets[j] : sh_offsets[j + 1]]
            block = a[:, None] * h[None, :] + b[:, None]
            sig[j] = (block % _MERSENNE31).min(axis=1)
    bands = sig.reshape(len(counts), len(a) // rows_per_band, rows_per_band)
    bk = _xxhash64([bands[:, :, r] for r in range(rows_per_band)])
    bk_offsets = np.arange(0, bk.size + 1, bk.shape[1], dtype=np.int32)
    return pa.RecordBatch.from_arrays(
        [
            doc.filter(pa.array(keyed)),
            pa.ListArray.from_arrays(sh_offsets, sh),
            pa.ListArray.from_arrays(bk_offsets, bk.ravel()),
        ],
        names=["doc", "sh", "bk"],
    )


def _bucket_pairs(
    keys: DataFrame,
    on: list[str],
    *,
    max_bucket_size: int | None,
    pins: list[DataFrame],
) -> DataFrame:
    """Undeduplicated candidate pairs ``(id_a, id_b, <c>_a, <c>_b …)``,
    ``id_a < id_b``, of a ``(*on, doc, *payload)`` frame: the bucket
    self-join of the three LSH families, plus, under *max_bucket_size*,
    the representative-star rows of oversized buckets (each member
    paired with the bucket minimum, whose payload ``min_by`` takes).
    The counted-bucket frame is persisted into *pins*."""
    cols = ["doc", *[c for c in keys.columns if c not in (*on, "doc")]]

    def pair(a: str, b: str) -> list[Column]:
        # *a*/*b* name each side's columns; doc becomes id_a / id_b
        return [
            F.col(p.format(c)).alias(f"{'id' if c == 'doc' else c}_{s}")
            for c in cols
            for p, s in ((a, "a"), (b, "b"))
        ]

    star = None
    if max_bucket_size is not None:
        # one map-side-combined count per bucket; the join back is on the
        # same key the self-join uses, so no extra repartitioning
        counts = keys.groupBy(*on).agg(
            F.count(F.lit(1)).alias("__f"),
            F.min("doc").alias("__rep_doc"),
            *[F.min_by(c, "doc").alias(f"__rep_{c}") for c in cols[1:]],
        )
        # pin the counted-bucket frame: the keys filter, the star branch,
        # and BOTH sides of the self-join below read it — persisting runs
        # the bucket-count aggregate + join ONCE instead of per consumer
        # (lazy: no job until the query's first action)
        sized = keys.join(counts, on=on).persist()
        pins.append(sized)
        keys = sized.where(F.col("__f") <= max_bucket_size).drop(
            "__f", *[f"__rep_{c}" for c in cols]
        )
        star = sized.where(
            (F.col("__f") > max_bucket_size)
            & (F.col("doc") > F.col("__rep_doc"))
        ).select(*pair("__rep_{}", "{}"))

    pairs = (
        keys.alias("l")
        .join(
            keys.alias("r"),
            on=[F.col(f"l.{k}") == F.col(f"r.{k}") for k in on]
            + [F.col("l.doc") < F.col("r.doc")],
        )
        .select(*pair("l.{}", "r.{}"))
    )
    return pairs if star is None else pairs.unionByName(star)


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    verify: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Candidate pairs = documents agreeing on *any* band of the signature
    (band = ``num_hashes // bands`` consecutive minhashes, hashed to one
    bucket key).  With r rows/band, P(candidate) = 1-(1-j^r)^bands — the
    classic S-curve; 32 hashes / 8 bands targets j ≳ 0.6.

    Scale: the only shuffles are (1) the band-bucket self-join, keyed on
    ``(band_index, bucket_hash)``; (2) the candidate-pair dedup.  Bucket
    skew (giant near-dup clusters — boilerplate pages, empty documents)
    is the known hazard: a bucket of f members makes f·(f-1)/2 pairs.
    ``max_bucket_size`` bounds that: buckets over the cap switch from
    all-pairs to a *representative star* — every member pairs with the
    bucket's minimum doc id only (linear in bucket size).  This is a
    deliberate recall trade: star pairs still pass exact verification,
    so a member whose similarity TO THE REPRESENTATIVE is below
    *threshold* drops out even if it is a true near-dup of some other
    bucket member.  Size the cap so only degenerate buckets (boilerplate
    / empty-text clusters, where members are near-identical and any
    representative works) exceed it — the standard trade at web scale.  With ``verify=True`` candidates
    are confirmed with the exact shingle-set Jaccard, computed via an
    ``array_intersect`` on the (re-joined) shingle arrays — a broadcast
    join per side when the candidate set is small.

    Returns ``(id_a, id_b[, jaccard])``, ``id_a < id_b``.
    """
    # Pin the front: the band self-join reads it on both sides and the
    # verify stage twice more.  persist (not localCheckpoint): no job at
    # build time, and the table is tiny (~8*(bands + shingles) B/doc).
    signed = _minhash_front(
        spread_for_compute(df),
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_words=shingle_words,
    )
    pins = _fresh_pins("minhash_lsh_pairs")
    signed = signed.persist()
    pins.append(signed)

    # One (band, bucket) exchange, computed once into cache: both sides
    # of the self-join (and, on the capped path, the bucket-count
    # aggregate and its join back) consume this partitioning, so the
    # banded frame crosses the network once instead of once per
    # consumer — ReuseExchange does not deduplicate the self-join's two
    # ensured exchanges on its own (measured x10: 3.7 s → 2.5 s).  The
    # cache lives one generation like ``signed`` above.
    banded = (
        signed.select("doc", F.posexplode("bk").alias("band", "bucket"))
        .repartition(F.col("band"), F.col("bucket"))
        .persist()
    )
    pins.append(banded)

    # candidate dedup (star pairs included) keyed on id_a ALONE:
    # hashpartitioning(id_a) satisfies the (id_a, id_b) clustering the
    # aggregate needs AND the id_a equi-join the verify stage opens
    # with, so the dedup and that join share one exchange instead of
    # shuffling the pair set twice (guide: two operations keyed the same
    # way can share an exchange; plan-pinned in tests/test_plans.py).
    pairs = (
        _bucket_pairs(
            banded,
            ["band", "bucket"],
            max_bucket_size=max_bucket_size,
            pins=pins,
        )
        .repartition(F.col("id_a"))
        .dropDuplicates(["id_a", "id_b"])
    )

    if not verify:
        return pairs

    # No broadcast hint on the pairs side: at corpus scale the
    # candidate set can be arbitrarily large (a hint would pin an OOM
    # risk into the plan); AQE broadcasts it at runtime when small —
    # measured identical locally.
    sh = signed.select("doc", "sh")
    # union size derived as |a| + |b| - |intersect| (exact: both sides
    # are array_distinct sets, and the integer arithmetic is lossless in
    # doubles) — one array traversal per pair instead of two; the
    # quotient is bit-identical to the array_union form.
    isect = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        pairs.join(sh.withColumnsRenamed({"doc": "id_a", "sh": "sh_a"}), on="id_a")
        .join(sh.withColumnsRenamed({"doc": "id_b", "sh": "sh_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                isect / (F.size("sh_a") + F.size("sh_b") - isect),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(col: Column, *, bits: int = 64) -> Column:
    """64-bit SimHash of the token multiset.

    Per token: xxhash64 → for each bit position add +1/-1 to the position
    counter; fingerprint bit = sign of the counter.  Expressed as one
    ``aggregate`` over an int64-vector accumulator — no shuffle, no UDF.
    """
    toks = tokens(col)
    zero = F.array_repeat(F.lit(0).cast("bigint"), bits)
    # bit positions are unrolled as Python ints (shift amounts must be
    # literals); the per-token ±1 vector is one array expression
    acc = F.aggregate(
        toks,
        zero,
        lambda a, t: F.zip_with(
            a,
            F.array(
                *[
                    F.when(
                        F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1))
                        == 1,
                        F.lit(1).cast("bigint"),
                    ).otherwise(F.lit(-1).cast("bigint"))
                    for i in range(bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    fp = F.lit(0).cast("bigint")
    for i in range(bits):
        # bit 63 is the int64 sign bit: its set-value is -2^63
        bit_value = (1 << i) if i < 63 else -(1 << 63)
        fp = fp.bitwiseOR(
            F.when(F.element_at(acc, i + 1) > 0, F.lit(bit_value))
            .otherwise(F.lit(0))
            .cast("bigint")
        )
    return fp


def simhash_vectorized(hashes: Column, *, bits: int = 64) -> Column:
    """Arrow-vectorized SimHash fold, bit-identical to :func:`simhash`.

    Same split as :func:`_minhash_front`: the per-token
    ``xxhash64`` stays JVM-side (pass ``transform(tokens, xxhash64)``),
    and only the bit-count fold runs in numpy — the pure-expression
    version evaluates 64 interpreted branch expressions per token
    inside a higher-order ``aggregate`` (no codegen), which dominates
    the whole SimHash pipeline.  numpy ``>>`` on int64 is an arithmetic
    shift exactly like Spark's ``shiftright``, so bit extraction
    matches the JVM for negative hashes too.
    """
    from pyspark.sql.functions import pandas_udf

    positions = np.arange(bits, dtype=np.int64)

    @pandas_udf("bigint")
    def fold(batch: pd.Series) -> pd.Series:
        out = []
        for hs in batch:
            if hs is None or len(hs) == 0:
                out.append(0)
                continue
            h = np.asarray(hs, dtype=np.int64)
            # (n_tokens, bits) bit matrix -> per-bit +/-1 counters
            bitm = (h[:, None] >> positions[None, :]) & np.int64(1)
            counters = (2 * bitm - 1).sum(axis=0)
            fp = int(
                np.bitwise_or.reduce(
                    np.where(
                        counters > 0,
                        np.uint64(1) << positions.astype(np.uint64),
                        np.uint64(0),
                    )
                )
            )
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype="int64")

    return fold(hashes)


def simhash_fingerprints(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """``(doc, fp)`` — the exact signature frame
    :func:`simhash_pairs` buckets.  Public so the correctness
    certificate (``docs_simhash_pairs``) can brute-force Hamming over
    the IDENTICAL signature space the pigeonhole path sees — any
    drift between the two would be a bug in the certificate itself.

    No barrier: nothing filters on computed columns before the
    caller's pin (simhash_pairs persists the result before its
    self-join).
    """
    return spread_for_compute(df, barrier=False).select(
        F.col(id_col).alias("doc"),
        simhash_vectorized(_token_hashes(text_col)).alias("fp"),
    )


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ *max_hamming*.

    Pigeonhole bucketing: split the 64-bit fingerprint into *chunks*
    pieces; any pair within Hamming distance ``chunks - 1`` agrees on at
    least one chunk, so the candidate join is keyed on
    ``(chunk_index, chunk_value)`` — never all-pairs.  The recall
    guarantee therefore REQUIRES ``chunks >= max_hamming + 1``; by
    default chunks is derived as exactly that, and an explicit smaller
    value is rejected.  Verification = ``bit_count(xor)``.
    ``max_bucket_size`` bounds chunk-bucket skew exactly like
    :func:`minhash_lsh_pairs`: oversized buckets pair each member with
    the bucket minimum only (linear in cluster size).  NOTE this trades
    the pigeonhole recall guarantee *inside* capped buckets: a member
    with ``hamming(rep, doc) > max_hamming`` loses its star link even
    when it is within ``max_hamming`` of another member — size the cap
    so only degenerate near-identical clusters exceed it.

    Returns ``(id_a, id_b, hamming)``.
    """
    if chunks is None:
        chunks = max_hamming + 1
    if chunks < max_hamming + 1:
        msg = (
            f"chunks={chunks} cannot guarantee recall for "
            f"max_hamming={max_hamming}; need chunks >= max_hamming + 1."
        )
        raise ValueError(msg)
    # 2..64 chunks: a single 64-bit chunk would need an unrepresentable
    # (1<<64)-1 mask, and two chunks are equivalent for max_hamming=0
    chunks = min(max(chunks, 2), 64)
    # distribute the 64 bits into exactly `chunks` contiguous pieces
    # (sizes differ by at most 1), so the pigeonhole count is honest
    base, extra = divmod(64, chunks)
    widths = [base + (1 if i < extra else 0) for i in range(chunks)]
    offsets = [sum(widths[:i]) for i in range(chunks)]
    fingerprinted = simhash_fingerprints(
        df, id_col=id_col, text_col=text_col
    )
    # pin before the chunk self-join (see minhash_lsh_pairs): the simhash
    # aggregate tree is large and would otherwise run once per join side.
    # persist: lazy (no build-time job), lineage inspectable, reused by
    # every chunk of the self-join once materialized
    pins = _fresh_pins("simhash_pairs")
    fingerprinted = fingerprinted.persist()
    pins.append(fingerprinted)
    chunked = fingerprinted.select(
        "doc",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftright(F.col("fp"), offsets[i])
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("cv"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc", "fp", "ch.ci", "ch.cv")

    cand = (
        _bucket_pairs(
            chunked, ["ci", "cv"], max_bucket_size=max_bucket_size, pins=pins
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= max_hamming)


#: ``algorithm="auto"`` switches to the star algorithm outright above
#: this many (symmetric) edges: per-round cost is similar for both, but
#: a deep chain costs label propagation ``max_iterations`` wasted
#: edge-list shuffles before the fallback — a risk worth pre-empting
#: only when each shuffle is expensive.  ~50M edges ≈ a few GB keyed
#: shuffle per round.
STAR_EDGE_THRESHOLD = 50_000_000

#: ``algorithm="auto"`` solves the labeling on the driver when the
#: symmetric edge list it would build has at most this many rows, i.e.
#: when 2 × (caller's pair rows) is at or below it.  The bound is taken
#: on pair ROWS, before any de-duplication, so it needs no distributed
#: union/distinct/count — but a pair list of more than 500k rows whose
#: distinct symmetric edges would still fit (many duplicate or reversed
#: pairs) now takes the distributed label path.  Every distributed round
#: costs 2 driver jobs + a keyed shuffle regardless of size — on the
#: small pair lists near-dup dedup actually produces (pairs ≪ corpus),
#: the whole loop is scheduling floor, measured 2.2–2.8 s / ~43 jobs on a
#: 144-pair graph.  Below the bound the checkpointed pair list is
#: collected ONCE (same contract as a broadcast-join build side: ≤ ~8 MB
#: at the bound vs Spark's own 8 GB broadcast cap), symmetrized and
#: labeled with vectorized numpy min-relax + pointer jumping, and
#: returned as a JVM ``LocalRelation`` — zero shuffles, exact same
#: labels.  Above the bound nothing changes.
LOCAL_EDGE_THRESHOLD = 1_000_000

_log = logging.getLogger("sql_autoloader_spark")


def _log_cc_path(
    path: str, n_pairs: int | None = None, n_edges: int | None = None
) -> None:
    """Emit the one decision record of a :func:`connected_components`
    call: *path* is ``local``, ``label``, ``star`` or ``label→star``;
    the counts are those the call already took (``None`` otherwise —
    never counted just for the log)."""
    _log.info(
        "connected_components path=%s n_pairs=%s n_edges=%s",
        path,
        n_pairs,
        n_edges,
        extra={
            "op": "connected_components",
            "decision": path,
            "n_pairs": n_pairs,
            "n_edges": n_edges,
        },
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Duplicate-cluster formation: connected components over a
    candidate-pair edge list (the step after :func:`minhash_lsh_pairs` /
    :func:`token_jaccard_pairs` that turns pairs into dedup groups, so a
    keep-one policy can be applied per cluster).

    Two algorithms, selected by ``algorithm``:

    - ``"label"`` — min-label propagation: every node starts labeled
      with its own id and repeatedly takes the minimum label in its
      neighborhood until a full round changes nothing.  Rounds needed =
      graph diameter; near-dup clusters are shallow (stars/short
      chains), so this converges in a handful of rounds even at corpus
      scale — each round is one keyed shuffle of the *edge list*
      (pairs-sized, far smaller than the corpus).  Raises
      ``RuntimeError`` at the iteration cap — silently returning
      half-propagated labels would split one real duplicate cluster
      into several and let extra "best" docs survive a keep-one policy.
    - ``"star"`` — alternating large-star/small-star (Kiveris et al.,
      *Connected Components in MapReduce and Beyond*, SoCC 2014):
      each round rewires every node's larger neighbors (large-star)
      then its smaller neighbors (small-star) to the neighborhood
      minimum, collapsing components into stars in O(log²)
      rounds **independent of graph diameter** — the scale path for
      adversarial chains.
    - ``"auto"`` (default) — picks by size.  When 2 × the pair rows is
      at or below :data:`LOCAL_EDGE_THRESHOLD`, the labeling is solved
      on the driver (:func:`_local_components`): every distributed
      round is 2 driver jobs + a keyed shuffle whatever the size, so on
      the small pair graphs dedup produces the loop is pure scheduling
      floor — the bounded pair list is collected once
      (broadcast-build-sized by contract), symmetrized and labeled in
      vectorized numpy, exactly.  Otherwise the symmetric edge list is
      built and counted: above :data:`STAR_EDGE_THRESHOLD` edges, the
      star algorithm from the start — at corpus scale an undetected
      deep chain would waste ``max_iterations`` full edge-list shuffles
      before the fallback kicks in, and the star rounds are
      diameter-independent.  Between the bounds, label propagation
      (cheapest on shallow graphs), falling back to the star algorithm
      if the cap is hit instead of raising.

    The caller's *pairs* lineage executes exactly once: its ``(a, b)``
    projection is ``localCheckpoint``-ed eagerly up front and every
    path reads that checkpoint.  Each round's state is pinned the same
    way to keep the plan flat (iterative lineage otherwise grows
    exponentially; checkpoint storage is released with the session — on
    a long-lived cluster session, checkpoint to a reaper-managed dir
    instead if rounds × edge size matters).

    Emits one INFO record per call on the ``sql_autoloader_spark``
    logger naming the path taken (``local``, ``label``, ``star`` or
    ``label→star``) with the pair/edge counts already taken.

    Returns ``(id, component)`` for every node in *pairs*, where
    ``component`` is the smallest node id in the cluster.
    """
    if algorithm not in ("auto", "label", "star"):
        msg = f"unknown connected-components algorithm: {algorithm!r}"
        raise ValueError(msg)
    # the only execution of the caller's lineage
    canon = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True)
    n_pairs = None
    if algorithm == "auto":
        n_pairs = canon.count()
        # 2 × pairs bounds the symmetric edge count from above, so a
        # graph that passes here can never be over the star bound either
        if 2 * n_pairs <= min(LOCAL_EDGE_THRESHOLD, STAR_EDGE_THRESHOLD):
            local = _local_components(canon)
            if local is not None:
                _log_cc_path("local", n_pairs=n_pairs)
                return local
    edges = (
        canon.union(canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count() if algorithm == "auto" else None
    if algorithm == "star" or (
        algorithm == "auto" and n_edges > STAR_EDGE_THRESHOLD
    ):
        _log_cc_path("star", n_pairs=n_pairs, n_edges=n_edges)
        return _star_components(edges, max_iterations=max_iterations)
    labels = (
        edges.select("a")
        .distinct()
        .select(F.col("a").alias("id"), F.col("a").alias("comp"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        nbr = (
            edges.join(
                labels.withColumnsRenamed({"id": "b", "comp": "nbr_comp"}),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
            .withColumnsRenamed({"a": "id"})
        )
        # the change flag rides the same checkpointed pass (new < old
        # iff a neighbor label undercuts the current one), so detecting
        # convergence is a limit-1 scan of the cached partitions — not
        # the old-vs-new join (a full extra shuffle) per round
        new_labels = (
            labels.join(nbr, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("min_nbr", F.col("comp"))
                ).alias("comp"),
                (
                    F.coalesce("min_nbr", F.col("comp")) < F.col("comp")
                ).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        if algorithm == "auto":
            # deeper than label propagation's round budget — switch to
            # the diameter-independent algorithm
            _log_cc_path("label→star", n_pairs=n_pairs, n_edges=n_edges)
            return _star_components(edges, max_iterations=max_iterations)
        msg = (
            f"connected_components did not converge in {max_iterations} "
            "rounds — the pair graph has a longer path than expected for "
            "near-dup clusters; raise max_iterations (rounds needed = "
            "graph diameter) or use algorithm='star' (rounds needed = "
            "O(log²) regardless of diameter)."
        )
        raise RuntimeError(msg)
    _log_cc_path("label", n_pairs=n_pairs, n_edges=n_edges)
    return labels.select("id", F.col("comp").alias("component"))


def _local_components(canon: DataFrame) -> DataFrame | None:
    """Exact min-id components of a bounded canonical pair list
    ``(a, b)``, solved on the driver (``algorithm="auto"`` when
    2 × its rows is at or below :data:`LOCAL_EDGE_THRESHOLD` — see that
    constant for the economics).

    The caller has already materialized (``localCheckpoint``) and
    counted *canon*, proving the collect below is bounded the way a
    broadcast-join build side is; the pairs may repeat, appear in both
    orientations or be self-pairs — they are symmetrized here, in
    numpy.  The result rows (≤ node count ≤ 2 × pair count) return as a
    JVM ``LocalRelation`` via :func:`local_frame`.

    Labeling is vectorized numpy.  Ids map to dense ranks over the
    SORTED node vector (rank order == id order, so the min rank per
    component is the min id), then edge min-relaxation alternates with
    pointer jumping until fixpoint.  Every step only lowers a label and
    keeps it inside its own component, so at the fixpoint each edge has
    equal labels on both ends (the edges are relaxed in both
    directions), labels are constant per component, and the shared
    value is the component minimum — identical to the distributed
    propagation's answer.

    Returns ``None`` for inputs the vectorized path does not cover —
    non-fixed-width ids (string/binary/decimal: the row-count bound
    would no longer bound the collected BYTES), ``a``/``b`` of different
    types (the distributed union widens them), NULL ids and NaN float
    ids in either column — letting the caller fall through to the
    distributed loop.
    """
    from pyspark.sql.types import (
        ByteType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        TimestampNTZType,
        TimestampType,
    )

    import pyarrow as pa
    import pyarrow.compute as pc

    from sql_autoloader_spark.ops.dataframe_ops import local_frame

    spark = canon.sparkSession
    id_dt = canon.schema["a"].dataType
    if id_dt != canon.schema["b"].dataType:
        return None
    if not isinstance(
        id_dt,
        (
            ByteType,
            ShortType,
            IntegerType,
            LongType,
            FloatType,
            DoubleType,
            DateType,
            TimestampType,
            TimestampNTZType,
        ),
    ):
        return None  # wide ids: keep the ≤8 MB collect contract
    id_type = id_dt.simpleString()
    schema = f"id {id_type}, component {id_type}"
    # toArrow keeps every id in its Spark type (a TimestampType id is a
    # UTC instant, never a session-local wall clock) and needs no Arrow
    # session conf; the labels below only reorder those same values
    table = canon.toArrow()
    if table.num_rows == 0:
        return local_frame(spark, table, schema)
    ends = [table.column("a"), table.column("b")]
    for ids in ends:
        if ids.null_count:
            return None
        if isinstance(id_dt, (FloatType, DoubleType)) and pc.any(
            pc.is_nan(ids)
        ).as_py():
            return None  # NaN ids take the distributed loop, like NULLs
    nodes = pc.unique(pa.chunked_array(ends[0].chunks + ends[1].chunks))
    nodes = nodes.take(pc.sort_indices(nodes))
    keys = nodes.to_numpy(zero_copy_only=False)
    a, b = (np.searchsorted(keys, ids.to_numpy()) for ids in ends)
    # symmetrize: relax every pair in both directions
    src, dst = np.concatenate([a, b]), np.concatenate([b, a])
    labels = np.arange(len(keys))
    while True:
        before = labels
        relaxed = labels.copy()
        # unbuffered min: duplicate src-ranks each apply (SPARK's
        # groupBy min equivalent)
        np.minimum.at(relaxed, src, labels[dst])
        labels = relaxed
        while True:  # full path compression
            jumped = labels[labels]
            if np.array_equal(jumped, labels):
                break
            labels = jumped
        if np.array_equal(labels, before):
            break
    out = pa.table({"id": nodes, "component": nodes.take(pa.array(labels))})
    return local_frame(spark, out, schema)


def _star_components(edges: DataFrame, *, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star over a symmetric edge list.

    Kiveris et al. (SoCC 2014), restated declaratively: per round,

    - *large-star*: for every node ``a``, point each strictly-larger
      neighbor at ``min(Γ(a) ∪ {a})`` — long tails collapse toward
      small ids without ever increasing the minimum;
    - *small-star*: orient edges big→small, then point each node and
      its smaller neighbors at the group minimum — stars flatten.

    The edge set reaches a fixpoint (every component a star centered at
    its minimum id) in O(log²) rounds independent of diameter; each
    round is two keyed shuffles of the edge list.  The iteration cap is
    a runaway guard only — 2^(2^max_iterations) nodes would be needed
    to exhaust the default budget.
    """
    # canonical big→small orientation; every a > b
    current = (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    count = current.count()
    converged = False
    for _ in range(max_iterations):
        sym = current.unionByName(
            current.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # large-star: v -> min(Γ(a) ∪ {a}) for every neighbor v > a
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        large = (
            sym.join(mins, on="a")
            .withColumn("mn", F.least("mn", F.col("a")))
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .distinct()
        )
        # small-star on the (already big→small) output: group by the big
        # end, point the group (and the big end itself) at the minimum
        mins2 = large.groupBy("a").agg(F.min("b").alias("mn"))
        small = (
            large.join(mins2, on="a")
            .where(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .unionByName(mins2.select("a", F.col("mn").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = small.count()
        if new_count == count and small.subtract(current).isEmpty():
            current = small
            converged = True
            break
        current, count = small, new_count
    if not converged:
        # same contract as the label path: silently returning a
        # non-fixpoint edge set would split real clusters
        msg = (
            f"star connected-components did not converge in "
            f"{max_iterations} rounds — raise max_iterations (the "
            "required rounds grow with log² of the largest component)."
        )
        raise RuntimeError(msg)
    # fixpoint: every edge points a node at its component minimum
    labels = current.select(
        F.col("a").alias("id"), F.col("b").alias("component")
    ).unionByName(
        current.select("b")
        .distinct()
        .select(F.col("b").alias("id"), F.col("b").alias("component"))
    )
    # nodes appearing only in self-pairs were dropped by canonicalization;
    # give them singleton components so the node set matches the input
    nodes = edges.select(F.col("a").alias("id")).distinct()
    return nodes.join(labels, on="id", how="left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
