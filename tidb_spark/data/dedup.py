"""Deduplication operators for large-scale training-data pipelines.

All variants are expressed as DataFrame ops (shuffles/joins, no driver-side
loops, no Python row UDFs) so they scale to 100 TB corpora:

- exact:        hash-groupBy on a normalized fingerprint (one shuffle).
- n-gram Jaccard (exact near-dup): shingle inverted index → candidate pairs
                (docs sharing ≥1 shingle) → exact Jaccard from distinct-
                shingle counts.  The candidate join is the classic
                posting-list self-join; hot shingles are the skew risk at
                scale — cap posting length (drop ubiquitous shingles, they
                carry no discriminative signal, standard practice).
- MinHash+LSH:  k-shingles → H minhashes (array_min over JVM-side hash
                transforms) → B bands → band-bucket join for candidates →
                optional exact-Jaccard verification.  Scales as
                O(candidates), not O(n²).
- SimHash:      token-hash bit-vote signature; near-dups via banded
                signature chunks + Hamming verification.

Determinism: all hash constants are fixed; xxhash64 is Spark's stable
64-bit hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_spark.operators import width

# 31-bit Mersenne prime: (x mod p)*a + b with a,b,x' < p stays < 2^62,
# so the universal-hash arithmetic never overflows a signed 64-bit long.
_MERSENNE_PRIME = (1 << 31) - 1


#: How many dedup calls' persisted intermediates may stay cached at
#: once.  The frames feed the LAZY returned DataFrame, so they cannot
#: be unpersisted inside the operator (the caller's action hasn't run
#: yet — an r12 attempt to key release off result-handle GC unpersisted
#: them BEFORE execution whenever the caller derived a new frame from
#: the result, recomputing the candidate grid ~3× and quadrupling the
#: sf3 probe wall).  Instead each call registers its handles in a FIFO
#: debt registry: the newest ``_CACHE_DEBT_LIMIT`` calls keep their
#: cache (covering any sane consume-after-build window), older entries
#: are unpersisted — a long-lived engine session issuing thousands of
#: dedup calls carries bounded cache debt (r11 verdict #4) instead of
#: unbounded accretion.  Evicting an entry that is somehow STILL being
#: consumed is a recompute, never a wrong answer.
_CACHE_DEBT_LIMIT = 4

_cache_debt: list[list] = []  # FIFO of per-call JVM Dataset handles


def _unpersist_group(group: list) -> None:
    for j in group:
        try:
            j.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to release


def _register_persisted(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Track ``cached`` (persisted intermediates of one dedup call) in
    the bounded debt registry, evicting the oldest call's entries once
    more than ``_CACHE_DEBT_LIMIT`` calls are outstanding.  Call
    :func:`release_cached` to flush everything eagerly (e.g. at session
    teardown or between pipeline stages)."""
    _cache_debt.append([c._jdf for c in cached])
    while len(_cache_debt) > _CACHE_DEBT_LIMIT:
        _unpersist_group(_cache_debt.pop(0))
    return result


def release_cached() -> None:
    """Unpersist every intermediate the dedup operators have registered
    (see ``_CACHE_DEBT_LIMIT``).  Safe to call at any time: consumers
    of still-live results recompute instead of reading cache."""
    while _cache_debt:
        _unpersist_group(_cache_debt.pop(0))


def _hash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i * x + b_i) mod p."""
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_PRIME
        params.append((a, b))
    return params


def normalize_text(col: Column) -> Column:
    """Canonical form for dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups on normalized text.

    Returns (fingerprint, canonical_id, dup_count) per duplicate group —
    one shuffle on the fingerprint hash."""
    return (
        df.select(
            F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def char_shingles(col: Column, k: int = 8) -> Column:
    """Distinct k-character shingles of the normalized text as an array
    column.

    WARNING — convenience form for small inputs only: Spark evaluates
    higher-order-function lambdas interpreted (outside whole-stage codegen),
    ~20µs/element.  The scale path is :func:`shingle_posting`, which
    explodes positions first so substring+hash run codegen'd."""
    normalized = normalize_text(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(normalized) - (k - 1), F.lit(1))),
            lambda i: normalized.substr(i, F.lit(k)),
        )
    )


def shingle_hashes(col: Column, k: int = 8) -> Column:
    """Distinct xxhash64 values of the k-shingles (non-negative).  Same
    small-input warning as :func:`char_shingles`."""
    return F.array_distinct(
        F.transform(char_shingles(col, k), lambda s: F.abs(F.xxhash64(s)))
    )


def shingle_posting(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    distinct: bool = True,
    with_pos: bool = False,
) -> DataFrame:
    """(doc, g [, pos]) posting table of k-shingle hashes — the scale path.

    Explode the position range FIRST, then substring+xxhash64 as top-level
    expressions: Generate + projection stay inside whole-stage codegen
    (~100× the throughput of the array higher-order-function form, whose
    lambdas Spark evaluates interpreted).  ``distinct`` dedups (doc, g) via
    a map-side-combined aggregate; keep it off for consumers that are
    duplicate-insensitive (MinHash min)."""
    normalized = df.select(
        F.col(id_col).alias("doc"), normalize_text(F.col(text_col)).alias("t")
    )
    normalized = width.spread_small(normalized, "doc")
    pos = normalized.select(
        "doc",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(1)))
        ).alias("pos"),
    )
    posting = pos.select(
        "doc",
        "pos",
        F.abs(F.xxhash64(F.substring(F.col("t"), F.col("pos"), k))).alias("g"),
    )
    if not with_pos:
        posting = posting.drop("pos")
        if distinct:
            posting = posting.dropDuplicates(["doc", "g"])
    return posting


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    threshold: float = 0.4,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Exact near-duplicate pairs by k-shingle Jaccard ≥ threshold.

    Inverted-index candidate generation followed by exact Jaccard from
    distinct-shingle counts: jac = |A∩B| / (|A|+|B|-|A∩B|).  ``max_posting``
    drops shingles appearing in more documents (skew guard at scale)."""
    posting = shingle_posting(df, text_col, id_col, k=k, distinct=True)
    sizes = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    if max_posting is not None:
        hot = (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .where(F.col("df_count") > max_posting)
            .select("g")
        )
        posting = posting.join(hot, on="g", how="left_anti")
    a = posting.select(F.col("doc").alias("d1"), "g")
    b = posting.select(F.col("doc").alias("d2"), "g")
    common = (
        a.join(b, on="g")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"doc": "d1", "n": "n1"}), on="d1")
        .join(sizes.withColumnsRenamed({"doc": "d2", "n": "n2"}), on="d2")
        .select(
            "d1",
            "d2",
            (
                F.col("c").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("c")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signature(col: Column, *, k: int = 8, num_hashes: int = 32) -> Column:
    """MinHash signature array: per hash function, the min over shingle
    hashes of (a*x + b) mod p — all inside one JVM expression tree."""
    hashes = shingle_hashes(col, k)

    # Closure factory: PySpark infers HOF lambda arity from the Python
    # signature, so the unary lambda must capture (a, b) from the factory
    # scope rather than via default args.
    def _perm(a: int, b: int):
        return lambda x: (x % _MERSENNE_PRIME * a + b) % _MERSENNE_PRIME

    sigs = [
        F.array_min(F.transform(hashes, _perm(a, b)))
        for a, b in _hash_params(num_hashes)
    ]
    return F.array(*sigs)


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    num_hashes: int = 32,
    posting: DataFrame | None = None,
) -> DataFrame:
    """(doc, sig) per document, via the posting table → groupBy.

    Distributed formulation: the posting explode keeps every hash expression
    tiny and codegen'd, min() is duplicate-insensitive so the posting skips
    its dedup shuffle, and map-side partial aggregation collapses to one row
    per doc before the shuffle — shuffle volume is docs × num_hashes longs,
    independent of text size.  Pass ``posting`` to reuse an existing
    (persisted) posting table instead of recomputing it."""
    if posting is None:
        posting = shingle_posting(df, text_col, id_col, k=k, distinct=False)
    # SQL-string expressions (one py4j parse per hash) instead of
    # Column-by-Column construction — the simhash_signatures py4j
    # finding (r12) applied to the 32 universal-hash mins; SQL %/*/+
    # share Python's precedence, so the tree is identical.
    p = _MERSENNE_PRIME
    mins = posting.groupBy("doc").agg(
        *[
            F.expr(f"min((g % {p}L * {a}L + {b}L) % {p}L)").alias(f"h{i}")
            for i, (a, b) in enumerate(_hash_params(num_hashes))
        ]
    )
    return mins.select(
        "doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.4,
    max_bucket: int | None = 10_000,
    verify_strategy: str = "auto",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding; optionally
    verified with exact Jaccard.

    ``verify_strategy``: "bucket" (verify each pair inside its owner
    LSH bucket — ≤ ``bands`` set copies per doc, corpus-independent;
    the corpus-scale path, see :func:`_verify_jaccard_bucket`),
    "join" (replicate both shingle arrays per pair JVM-side — lower
    latency while pairs×payload is small, but O(pairs·payload) shuffle
    that goes quadratic at near-dup-dense scale: the sf10 fixture's
    24.75M pairs × ~4.6 KB = ~114 GB exhausted the spill disk), or
    "auto" (default): bucket once the corpus exceeds 200k docs — the
    crossover where expected pairs per doc passes the ≤bands copies
    bucket ships per doc.  The probe is a parquet-metadata count,
    control-plane at any scale.  The strategies are bit-equal (tested),
    so the switch is execution-only.  (A third "blocked" grid strategy
    was demoted to test-only in r12: its pair-pruned set traffic is
    still quadratic on dense corpora — the sf10 re-probe filled 75 GB
    of spill — and `auto` never selected it; see
    :func:`_verify_jaccard_blocked`.)

    rows = num_hashes // bands per band; two docs collide in a band iff all
    row minhashes agree → P(candidate) ≈ 1-(1-j^r)^b.  The band join
    shuffles on (band_id, band_hash) — no all-pairs comparison anywhere.

    ``max_bucket`` is the band-bucket twin of ``ngram_jaccard_pairs``'s
    ``max_posting`` skew guard: a degenerate bucket of B docs sharing one
    band signature (empty/boilerplate texts at corpus scale) contributes
    B² rows to the candidate join.  Buckets larger than the cap are
    dropped from THAT band only — such buckets carry near-zero
    discrimination (everything matches everything), and genuinely similar
    pairs still collide in their other b-1 bands."""
    if verify_strategy not in ("auto", "bucket", "join"):
        raise ValueError(
            f"unknown verify_strategy {verify_strategy!r} "
            "(expected 'auto', 'bucket' or 'join')"
        )
    rows = num_hashes // bands
    # The corpus-wide posting is never materialized: min() is duplicate-
    # insensitive, so the signature agg consumes the non-distinct posting
    # pipelined (explode → map-side-combined min shuffle of docs × H longs).
    # Verification shingle sets are built later for candidate docs only, so
    # the big (doc, g) dedup shuffle of the old formulation never happens.
    sig = minhash_signatures(df, text_col, id_col, k=k, num_hashes=num_hashes)
    # Band rows carry ONLY (doc, band_id, band_hash) — never shingle
    # payloads.  Shingle sets are built just for docs that appear in a
    # candidate pair (semi-join-restricted collect_set) and joined once per
    # unique pair.
    banded = sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.xxhash64(
                            F.slice(F.col("sig"), band * rows + 1, rows)
                        ).alias("band_hash"),
                    )
                    for band in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc", "band.band_id", "band.band_hash")
    # Pair generation as ONE shuffle: bucket docs with a map-side-combined
    # collect_set, gate bucket size, then stream the i<j pair grid out of
    # the sorted array (r8: replaced the count-over-window + self-join —
    # same B² candidate volume, two fewer exchanges and no join build
    # side, 39 → ~30 exchanges corpus-wide for this query).  The two size
    # bounds: singleton buckets (the vast majority — a unique band
    # signature) cannot form a pair; oversized buckets (empty/boilerplate
    # texts at corpus scale: B docs sharing one band signature contribute
    # B² candidate rows) are dropped from THAT band before they go
    # quadratic.  Memory stays O(bucket): posexplode streams one (i, d1)
    # row at a time and the inner explode of the per-row tail slice is
    # pipelined inside the same codegen stage — the B²/2 pair grid is
    # never materialized as a single array.
    size_cond = F.size("ds") >= 2
    if max_bucket is not None:
        size_cond &= F.size("ds") <= max_bucket
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc")).alias("ds"))
        .where(size_cond)
    )
    # Re-spread the surviving buckets before the pair grid: the bucket
    # frame is tiny (non-singleton buckets only), so AQE coalesces its
    # read to 1-2 tasks — but the stage it feeds EXPLODES (Σ B²/2 pair
    # rows), so input-sized coalescing serializes exactly the expensive
    # part (r9; scripts/aqe_audit.py flagged this stage and nothing
    # else corpus-wide).  A round-robin repartition of the small frame
    # costs one tiny exchange and is exempt from coalescing.
    buckets = buckets.repartition(
        banded.sparkSession.sparkContext.defaultParallelism
    )
    # The grid keeps its (band_id, band_hash) provenance: the same
    # shuffle that dedups pairs also assigns each pair its OWNER bucket
    # (minimum surviving bucket that caught it), which the bucket verify
    # strategy co-locates pairs and sets by.  min(struct) costs a
    # 20-byte agg state over the distinct() this replaces.
    cand_owner = (
        buckets.select(
            "band_id", "band_hash", F.posexplode("ds").alias("i", "d1"), "ds"
        )
        .select(
            "band_id",
            "band_hash",
            "d1",
            F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("d2"),
        )
        .groupBy("d1", "d2")
        .agg(F.min(F.struct("band_id", "band_hash")).alias("__owner"))
    )
    if verify_threshold is None:
        return cand_owner.select("d1", "d2")
    # Exact-Jaccard verification touches only docs that appear in some
    # candidate pair: semi-join the raw corpus down first, then shingle just
    # that slice.  At scale this is the difference between re-scanning the
    # corpus and a lookup of a few thousand texts (AQE broadcasts the
    # candidate-id side once runtime stats show it's small).
    cand_owner = cand_owner.persist()
    cand = cand_owner.select("d1", "d2")
    # distinct() before the semi-join is load-bearing at scale: without
    # it the static planner broadcast-builds the RAW pair union (2 rows
    # per pair — 448M rows at the sf30 probe, ~1 GB of serialized task
    # results > driver maxResultSize).  Deduped, the id list is one
    # map-side-combined shuffle and its broadcast is genuinely right
    # (distinct candidate docs ≪ pairs); if even that outgrows the
    # threshold, AQE sees the distinct's REAL runtime size at the stage
    # boundary and plans a shuffled semi-join instead.
    in_cand = (
        cand.select(F.col("d1").alias("doc"))
        .union(cand.select(F.col("d2").alias("doc")))
        .distinct()
    )
    sub = df.join(
        in_cand.withColumnRenamed("doc", "__cand_id"),
        on=F.col(id_col) == F.col("__cand_id"),
        how="left_semi",
    )
    # Persisted because it feeds both the d1 and d2 joins below — without
    # it the semi-join + explode subtree would evaluate once per side.
    sets_cached = (
        shingle_posting(sub, text_col, id_col, k=k, distinct=False)
        .groupBy("doc")
        .agg(F.collect_set("g").alias("shingles"))
        .persist()
    )
    # Per-doc distinct-shingle counts ride along once; |∪| is then
    # n1 + n2 - |∩|, so the per-pair work is ONE array_intersect — the
    # array_union materialization (an allocation per candidate pair just
    # to take its size) is algebra'd away.  The pre-withColumn handle is
    # kept separately: unpersist matches by plan, so releasing the
    # derived frame would miss the cached aggregate.
    sets = sets_cached.withColumn("n", F.size("shingles"))
    if verify_strategy == "auto":
        # One count of the input (for a bare parquet scan this is the
        # footer-metadata sum; for a derived frame it is one narrow pass
        # — either way a rounding error next to the verify it sizes);
        # 200k docs is where expected pairs-per-doc on a near-dup-dense
        # corpus passes bucket's ≤bands per-doc copies.
        verify_strategy = "bucket" if df.count() > 200_000 else "join"
    if verify_strategy == "bucket":
        return _register_persisted(
            _verify_jaccard_bucket(cand_owner, sets, banded, verify_threshold),
            cand_owner,
            sets_cached,
        )
    # Join verify: replicate both shingle arrays onto every candidate
    # pair and intersect JVM-side.  Fast and codegen-friendly while the
    # PAIR×PAYLOAD product is small, but the shuffle volume is
    # O(pairs × doc-shingles) — at the sf10 probe (24.75M pairs × ~2×8 KB
    # arrays ≈ 400 GB) it exceeds any sane spill budget, and AQE's
    # post-agg size estimate undershot the array payload badly enough to
    # attempt a driver broadcast of the sets side ("Not enough memory to
    # build and broadcast") — hence the shuffle-hash pins AND the
    # blocked strategy above for corpus scale.
    cand = cand.join(
        sets.withColumnsRenamed(
            {"doc": "d1", "shingles": "s1", "n": "n1"}
        ).hint("shuffle_hash"),
        on="d1",
    ).join(
        sets.withColumnsRenamed(
            {"doc": "d2", "shingles": "s2", "n": "n2"}
        ).hint("shuffle_hash"),
        on="d2",
    )
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    union = (F.col("n1") + F.col("n2")).cast("double") - inter
    return _register_persisted(
        cand.select("d1", "d2", (inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= verify_threshold),
        cand_owner,
        sets_cached,
    )


#: Target python-side bytes of shingle sets held by ONE blocked-verify
#: cell task (both axes together).  The raw int64 payload is inflated
#: ~4× in the kernel (numpy array objects + two dict indexes + Arrow
#: batch), so 256 MiB here keeps real task memory ≈ 1 GiB.
_BLOCKED_CELL_BUDGET = 256 << 20


def _size_blocks(sets: DataFrame) -> int:
    """Grid dimension for :func:`_verify_jaccard_blocked`, sized so one
    cell's shingle payload stays CONSTANT as the corpus grows.

    A cell (i, j) holds the row-axis docs hashing to i plus the
    column-axis docs hashing to j: 2·payload/blocks bytes for a corpus
    whose candidate docs carry ``payload`` total shingle bytes.  So
    blocks = ceil(2·payload·inflation / budget) — linear in the corpus,
    which is what keeps per-task memory flat at 100 TB (the r10 fixed
    blocks=8 merely moved the OOM from sf10 to a larger sf).  The
    payload probe is an exact SUM over the persisted ``sets`` frame the
    verify reads anyway, so the action warms the cache rather than
    duplicating work; shipping is pair-pruned (see the verify body), so
    growing the grid costs at most the candidate structure's cell
    spread, not 2·blocks·payload.  Floor of 8 preserves parallelism on
    small corpora (64 cells), cap 4096 bounds the grid metadata."""
    row = sets.groupBy().agg(
        F.sum("n").alias("sh"), F.count(F.lit(1)).alias("docs")
    ).first()
    if row is None or row["sh"] is None:
        return 8
    inflation = 4
    payload = int(row["sh"]) * 8 * inflation + int(row["docs"]) * 200
    return max(8, min(4096, -(-2 * payload // _BLOCKED_CELL_BUDGET)))


_PD_DTYPE = {
    "bigint": "int64", "int": "int32", "smallint": "int16",
    "tinyint": "int8", "double": "float64", "float": "float32",
    "string": "object",
}


def _jaccard_pairs_kernel(ppdf, s1, n1, s2, n2, threshold, d1_dtype, d2_dtype):
    """Vectorized exact-Jaccard over one co-located group of pairs.

    ``s1``/``n1`` map d1-axis doc ids to their sorted shingle arrays /
    distinct counts; ``s2``/``n2`` the d2 axis (the two may be the SAME
    dict — the bucket verify co-locates one membership copy per doc).
    One python-level iteration per d1 GROUP, not per pair: concatenate
    the partners' sorted sets, a single searchsorted against d1's set,
    then segment-sum the hit mask with reduceat — all pair work is
    C-speed.  jaccard = inter/(n1+n2-inter) is the identical single
    IEEE division the JVM join verify computes, so every strategy is
    bit-equal (tested)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"d1": pd.Series(dtype=d1_dtype), "d2": pd.Series(dtype=d2_dtype),
         "jaccard": pd.Series(dtype="float64")}
    )
    if not len(ppdf):
        return empty
    out_frames = []
    gb = ppdf.groupby("d1", sort=False)["d2"]
    for d1, partners_s in gb:
        a = s1[d1]
        partners = partners_s.to_numpy()
        bs = [s2[d] for d in partners]
        lens = np.fromiter((len(x) for x in bs), dtype=np.int64, count=len(bs))
        # Zero-length partner sets are dropped BEFORE concatenation (their
        # intersection is 0 by definition) and re-inserted as zeros after:
        # keeping them in-line breaks reduceat two ways — a 0-len segment
        # sums the NEXT segment's first element, and a TRAILING 0-len
        # segment puts starts[-1] == len(mask), which raises IndexError.
        # The kernel therefore does not rely on the collect_set-over-
        # posting invariant that sets are non-empty.
        nz = np.flatnonzero(lens)
        inters = np.zeros(len(bs), dtype=np.int64)
        if len(a) != 0 and nz.size != 0:
            cat = (
                np.concatenate([bs[i] for i in nz])
                if nz.size != len(bs)
                else np.concatenate(bs)
            )
            idx = np.searchsorted(a, cat)
            np.minimum(idx, len(a) - 1, out=idx)
            mask = (a[idx] == cat).astype(np.int64)
            starts = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            inters[nz] = np.add.reduceat(mask, starts)
        n2v = np.fromiter(
            (n2[d] for d in partners), dtype=np.int64, count=len(bs)
        )
        denom = n1[d1] + n2v - inters
        with np.errstate(divide="ignore", invalid="ignore"):
            j = np.where(denom > 0, inters / denom, 0.0)
        keep = j >= threshold
        if keep.any():
            out_frames.append(
                pd.DataFrame(
                    {
                        "d1": pd.Series([d1] * int(keep.sum()), dtype=d1_dtype),
                        "d2": pd.Series(partners[keep], dtype=d2_dtype),
                        "jaccard": j[keep],
                    }
                )
            )
    if not out_frames:
        return empty
    return pd.concat(out_frames, ignore_index=True)


def _verify_jaccard_blocked(
    cand: DataFrame,
    sets: DataFrame,
    threshold: float,
    *,
    blocks: int | None = None,
) -> DataFrame:
    """Exact-Jaccard pair verification with per-CELL set shipping.

    .. warning:: TEST-ONLY since r12 — not reachable from
       :func:`minhash_lsh_pairs`.  Even pair-pruned, its set traffic
       grows with the grid (`_size_blocks` scales blocks ∝ corpus, so
       dense corpora go quadratic: the sf10 re-probe filled 75 GB of
       spill and died), and the owner-bucket strategy dominates it at
       every scale (Θ(bands·payload) traffic, no sizing probe).  It is
       kept as an independent exact-Jaccard implementation the property
       tests cross-check the shipped strategies against.

    The join verify replicates each doc's shingle array onto EVERY pair
    it appears in: O(pairs × doc-payload) shuffle, which at the sf10
    fixture (families of 100 mutual near-dups → 24.75M candidate pairs ×
    ~8 KB arrays) is ~400 GB — it exhausted the container's spill disk.
    Here pairs are hashed into a blocks×blocks grid by (d1, d2); each
    doc's set ships once per cell where one of ITS candidate pairs
    lands (the distinct (doc, cell) projection of the pair grid, tagged
    side=0 for the d1 axis, side=1 for d2) — ≤ min(2·blocks, its pair
    count) copies per DOC instead of one copy per PAIR, and never to
    pair-free cells.  Inside a cogrouped cell the sets are sorted once
    per doc and each pair's |∩| is a vectorized double-searchsorted
    merge count: exact integers, and jaccard = inter/(n1+n2-inter) is
    the identical single IEEE division the JVM form computes, so the two
    strategies are bit-equal (tested) and the DuckDB oracle is unchanged.
    Memory per task is one cell's sets (corpus-payload/blocks rows per
    axis); ``blocks=None`` (the default) sizes the grid from an exact
    payload probe via :func:`_size_blocks` so a cell always fits an
    executor — pass an explicit ``blocks`` only in tests.

    Doc ids are generic: the output d1/d2 types mirror the candidate
    frame's, and the kernel keys its maps on the raw id values, so
    string-keyed corpora take this path unchanged (the r10 version
    hard-coded longs, so the silent auto-switch at 200k docs would have
    crashed a string-id corpus that worked at small scale)."""
    import numpy as np

    P = blocks if blocks is not None else _size_blocks(sets)
    d1_t = cand.schema["d1"].dataType.simpleString()
    d2_t = cand.schema["d2"].dataType.simpleString()
    out_schema = f"d1 {d1_t}, d2 {d2_t}, jaccard double"
    d1_dtype = _PD_DTYPE.get(d1_t, "object")
    d2_dtype = _PD_DTYPE.get(d2_t, "object")
    pairs = cand.select(
        "d1",
        "d2",
        F.pmod(F.xxhash64("d1"), F.lit(P)).cast("int").alias("bi"),
        F.pmod(F.xxhash64("d2"), F.lit(P)).cast("int").alias("bj"),
    )

    # Pair-pruned set shipping: a doc's set goes ONLY to the cells where
    # one of its candidate pairs actually lands — the distinct (d1, bj)
    # / (d2, bi) projections of the pair grid — never to the full row /
    # column of P cells.  Shipping `explode(sequence(0, P-1))` instead
    # (the r10 shape) costs 2·P·payload bytes, and with `_size_blocks`
    # growing P linearly in the corpus that traffic is QUADRATIC in
    # corpus size; pair-pruned traffic is Σ_doc |distinct partner
    # cells| ≤ min(2·P, pairs) copies — bounded by the candidate
    # structure the LSH already pruned, and identical cells receive
    # identical sets, so results are unchanged.  The distinct is one
    # narrow (id, int, int) shuffle over `cand` (persisted by the
    # caller).  The pmods are recomputed from `cand` rather than
    # projected off `pairs` so the cogroup's two sides carry disjoint
    # attribute ids (projecting shares exprIds and trips Spark's
    # ambiguous-self-join analyzer).
    def _cells_of(side: str):
        return cand.select(
            F.col(side).alias("doc"),
            F.pmod(F.xxhash64("d1"), F.lit(P)).cast("int").alias("bi"),
            F.pmod(F.xxhash64("d2"), F.lit(P)).cast("int").alias("bj"),
        ).distinct()

    row_cells = _cells_of("d1")
    col_cells = _cells_of("d2")
    # shuffle_hash pins: sets' post-collect_set size estimate undershoots
    # its array payload (see _verify_jaccard_bucket) — never let AQE try
    # to driver-broadcast the sets side.
    row_side = sets.hint("shuffle_hash").join(row_cells, "doc").select(
        "doc", "shingles", "n", "bi", "bj", F.lit(0).alias("side")
    )
    col_side = sets.hint("shuffle_hash").join(col_cells, "doc").select(
        "doc", "shingles", "n", "bi", "bj", F.lit(1).alias("side")
    )
    tagged = row_side.unionByName(col_side)

    def cell(key, ppdf, spdf):
        def side_maps(sdf):
            docs = sdf["doc"].to_numpy()
            sorted_sets = {
                d: np.sort(np.asarray(s, dtype=np.int64))
                for d, s in zip(docs, sdf["shingles"].to_numpy())
            }
            ns = dict(zip(docs, (int(x) for x in sdf["n"])))
            return sorted_sets, ns

        s1, n1 = side_maps(spdf[spdf["side"] == 0])
        s2, n2 = side_maps(spdf[spdf["side"] == 1])
        return _jaccard_pairs_kernel(
            ppdf, s1, n1, s2, n2, threshold, d1_dtype, d2_dtype
        )

    return (
        pairs.groupby("bi", "bj")
        .cogroup(tagged.groupby("bi", "bj"))
        .applyInPandas(cell, schema=out_schema)
    )


#: Pairs one bucket-verify task is asked to score before the owner
#: bucket is salted into sub-tasks.  2M pair rows ≈ tens of MB of ids
#: plus the per-pair kernel work — small against the per-task set
#: payload the max_bucket cap already bounds.
_BUCKET_PAIR_BUDGET = 2_000_000


def _verify_jaccard_bucket(
    cand_owner: DataFrame,
    sets: DataFrame,
    banded: DataFrame,
    threshold: float,
    *,
    pair_budget: int | None = None,
) -> DataFrame:
    """Exact-Jaccard pair verification INSIDE the LSH owner bucket — the
    corpus-scale path.

    Every candidate pair collided in at least one surviving band bucket,
    so both docs' sets are already co-locatable there: ship each
    candidate doc's set once per (band_id, band_hash) membership —
    ≤ ``bands`` copies per doc, a corpus-independent constant — and
    verify each pair in its OWNER bucket (the minimum (band_id,
    band_hash) that caught it, computed in the same shuffle that dedups
    the pair grid).  Contrast the alternatives: the join verify ships
    one set copy per PAIR (O(pairs·payload) — 114 GB at the sf10
    fixture), and the blocked grid ships ≤ 2·blocks copies per doc,
    which with `_size_blocks` growing blocks ∝ corpus is quadratic
    traffic on a near-dup-dense corpus (the sf10 re-probe filled 75 GB
    of spill and died).  Bucket shipping is Θ(bands · payload) — linear
    — and needs no sizing probe at all.

    Per-task memory is one bucket's sets, already capped by
    ``max_bucket``; per-task CPU is capped by salting owner buckets
    whose pair count exceeds ``pair_budget`` into deterministic
    sub-groups (pmod of the pair hash), with the bucket's sets
    replicated per salt — the kmeans IVF cell-skew guard's shape.
    Results are bit-equal to the join/blocked strategies (shared
    kernel, tested); the DuckDB oracle is unchanged."""
    import numpy as np

    if pair_budget is None:  # module constant read late so tests can patch
        pair_budget = _BUCKET_PAIR_BUDGET
    d1_t = cand_owner.schema["d1"].dataType.simpleString()
    d2_t = cand_owner.schema["d2"].dataType.simpleString()
    out_schema = f"d1 {d1_t}, d2 {d2_t}, jaccard double"
    d1_dtype = _PD_DTYPE.get(d1_t, "object")
    d2_dtype = _PD_DTYPE.get(d2_t, "object")

    owners = cand_owner.select(
        "d1",
        "d2",
        F.col("__owner.band_id").alias("band_id"),
        F.col("__owner.band_hash").alias("band_hash"),
    )
    # Per-owner pair counts -> salt fan-out.  The count is one map-side-
    # combined agg over the persisted candidate frame; the salts frame
    # has one row per non-singleton owner bucket (small), so the joins
    # below broadcast under AQE.
    salts = (
        owners.groupBy("band_id", "band_hash")
        .agg(
            F.ceil(F.count(F.lit(1)) / F.lit(pair_budget))
            .cast("int")
            .alias("__salts")
        )
    )
    pairs_s = owners.join(salts, ["band_id", "band_hash"]).withColumn(
        "__salt",
        F.pmod(F.xxhash64("d1", "d2"), F.col("__salts")).cast("int"),
    ).drop("__salts")
    # Membership of candidate docs in owner buckets, re-derived from the
    # banded frame with fresh expression ids (the cogroup's two sides
    # must not share attributes).  Inner-joining `sets` both restricts
    # membership to candidate docs and attaches the payload.
    members = (
        banded.select(
            F.col("doc").alias("__m_doc"),
            F.col("band_id").alias("__m_band"),
            F.col("band_hash").alias("__m_hash"),
        )
        .join(
            salts.select(
                F.col("band_id").alias("__m_band"),
                F.col("band_hash").alias("__m_hash"),
                "__salts",
            ),
            ["__m_band", "__m_hash"],
        )
        # shuffle_hash pin: sets' post-collect_set size ESTIMATE can
        # undershoot its array payload badly enough that AQE attempts a
        # driver broadcast of the whole sets side — the r10 join-verify
        # failure replayed (observed again at sf30: 1 GB driver collect
        # > maxResultSize).  The membership side is always the bigger
        # frame, so a shuffle hash join is the right plan anyway.
        .join(
            sets.withColumnRenamed("doc", "__m_doc").hint("shuffle_hash"),
            "__m_doc",
        )
        .select(
            F.col("__m_doc").alias("doc"),
            "shingles",
            "n",
            F.col("__m_band").alias("band_id"),
            F.col("__m_hash").alias("band_hash"),
            F.explode(F.sequence(F.lit(0), F.col("__salts") - 1)).alias(
                "__salt"
            ),
        )
    )

    def bucket_cell(key, ppdf, spdf):
        docs = spdf["doc"].to_numpy()
        s = {
            d: np.sort(np.asarray(v, dtype=np.int64))
            for d, v in zip(docs, spdf["shingles"].to_numpy())
        }
        ns = dict(zip(docs, (int(x) for x in spdf["n"])))
        return _jaccard_pairs_kernel(
            ppdf, s, ns, s, ns, threshold, d1_dtype, d2_dtype
        )

    return (
        pairs_s.groupby("band_id", "band_hash", "__salt")
        .cogroup(members.groupby("band_id", "band_hash", "__salt"))
        .applyInPandas(bucket_cell, schema=out_schema)
    )


def _token_hash(col: Column, hash: str) -> Column:
    """Per-token 60-bit hash.  ``xxhash64``: fastest, JVM-native, engine-
    specific.  ``md5``: first 15 hex chars parsed as an integer — bit-
    identical in any engine with md5 (DuckDB: CAST('0x'||substr(md5(t),1,15)
    AS BIGINT)), which is what makes the simhash pipeline oracle-checkable;
    ~2× the hash cost, same plan shape."""
    if hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.abs(F.xxhash64(col))


def simhash(col: Column, *, bits: int = 32, hash: str = "xxhash64") -> Column:
    """SimHash: per bit, sign of the sum of ±1 votes from token hashes."""
    tokens = F.split(normalize_text(col), " ")
    token_hashes = F.transform(tokens, lambda t: _token_hash(t, hash))

    def _vote(bit: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(1 << bit)) != 0, 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(bits):
        votes = F.aggregate(token_hashes, F.lit(0).cast("long"), _vote(i))
        bit_cols.append(
            F.when(votes > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, *, bits: int = 32,
    hash: str = "xxhash64",
) -> DataFrame:
    """(doc, sig) via explode tokens → groupBy doc → per-bit vote sums.

    Same distributed shape as :func:`minhash_signatures`: small expressions,
    map-side combine to one row per doc, shuffle = docs × bits ints."""
    base = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_txt"))
    base = width.spread_small(base, "doc")
    tok = base.select(
        "doc",
        F.explode(F.split(normalize_text(F.col("_txt")), " ")).alias("t"),
    ).select("doc", _token_hash(F.col("t"), hash).alias("h"))
    # The per-bit expressions are built as SQL strings, ONE py4j parse
    # each, not as Column-by-Column py4j construction: the 48-bit
    # signature's vote+fold tree took ~7000 gateway round trips ≈ 1.7 s
    # of pure driver latency per call (r12 cProfile) — identical
    # expressions, identical results, driver-side cost only.
    votes = tok.groupBy("doc").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & {1 << i}L) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig_sql = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i}L ELSE 0L END" for i in range(bits)
    )
    return votes.select("doc", F.expr(sig_sql).alias("sig"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    bits: int = 32,
    chunks: int = 4,
    max_hamming: int = 3,
    hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs whose SimHash Hamming distance ≤ max_hamming; banded
    by signature chunks so only docs agreeing on ≥1 chunk are compared.

    SCALE SIZING: each band has 2^(bits/chunks) buckets and the band join
    does per-bucket cross products, so bucket occupancy n_docs/2^chunk_bits
    must stay small — size ``bits`` so chunk_bits ≳ log2(n_docs): 32/4 (256
    buckets/band) is a test-scale setting; at 10^9 docs use a 128-bit
    simhash in 4×32-bit chunks (4.3e9 buckets/band).  Guarantee: banding
    with c chunks catches every pair with Hamming ≤ c-1; for larger
    ``max_hamming`` it is a deliberate recall/cost trade (the reference
    pattern for simhash dedup), and the Hamming filter keeps precision
    exact either way."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # Persisted for the same reason as in minhash_lsh_pairs: both sides of
    # the chunk self-join reuse one signature computation.
    sig = simhash_signatures(df, text_col, id_col, bits=bits, hash=hash).persist()
    banded = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("sig"), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc", "sig", "c.chunk_id", "c.chunk_val")
    a = banded.select(F.col("doc").alias("d1"), F.col("sig").alias("sig1"), "chunk_id", "chunk_val")
    b = banded.select(F.col("doc").alias("d2"), F.col("sig").alias("sig2"), "chunk_id", "chunk_val")
    # Hamming check runs inside the join stage, BEFORE the pair-dedup
    # shuffle: the banded join can emit ~bucket² candidate rows, but only
    # true near-dups (a tiny fraction) reach dropDuplicates, so the second
    # shuffle is proportional to the answer, not the collision count.
    return _register_persisted(
        a.join(b, on=["chunk_id", "chunk_val"])
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(
                F.col("sig1").bitwiseXOR(F.col("sig2"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["d1", "d2"]),
        sig,
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 8,
    threshold: float = 0.5,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup pairs by shingle CONTAINMENT: |A∩B| / min(|A|,|B|)
    ≥ threshold — catches a short document embedded inside a longer one,
    which Jaccard misses (the union denominator dilutes the short side).

    Same inverted-index scale shape as :func:`ngram_jaccard_pairs` (posting
    self-join on the shingle hash, hot-shingle cap, counts-only pair agg);
    only the final arithmetic differs.  Emits (d1, d2, c, n1, n2,
    containment) with d1 < d2."""
    posting = shingle_posting(df, text_col, id_col, k=k, distinct=True)
    sizes = posting.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    if max_posting is not None:
        hot = (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .where(F.col("df_count") > max_posting)
            .select("g")
        )
        posting = posting.join(hot, on="g", how="left_anti")
    a = posting.select(F.col("doc").alias("d1"), "g")
    b = posting.select(F.col("doc").alias("d2"), "g")
    common = (
        a.join(b, on="g")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"doc": "d1", "n": "n1"}), on="d1")
        .join(sizes.withColumnsRenamed({"doc": "d2", "n": "n2"}), on="d2")
        .select(
            "d1",
            "d2",
            "c",
            "n1",
            "n2",
            (
                F.col("c").cast("double")
                / F.least("n1", "n2").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
