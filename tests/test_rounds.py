"""Unit tests for the pipelined round driver (operators/rounds.py) and
the partition-width rule (operators/width.py)."""

import os

import pytest

from tidb_spark.operators import width
from tidb_spark.operators.rounds import run_rounds


class _Fake:
    """Stands in for a lazily-checkpointed round frame."""

    def __init__(self, rows: int):
        self.rows = rows

    def count(self) -> int:
        return self.rows


def test_run_rounds_replan_hook_consulted():
    """ADVICE r6 (low): callers whose builds size an accumulated set
    from the stale estimate report that decision via ``replan`` — the
    driver re-plans (build called twice, exact count) when it fires."""
    builds: list[tuple[int, int]] = []
    produced = {1: 5, 2: 3}

    def build(frontier, n, rows):
        builds.append((n, rows))
        return _Fake(produced.get(n, 0))

    rounds = run_rounds(
        _Fake(2), 10, build, replan=lambda est, exact: est != exact
    )
    # rounds: seed(2), r1(5), r2(3); r3 produced 0 rows -> excluded
    assert [r.rows for r in rounds] == [2, 5, 3]
    # every round whose estimate was stale rebuilt once with the exact
    # count: (1, 0)->(1, 2), (2, 2)->(2, 5), (3, 5)->(3, 3)
    assert builds == [(1, 0), (1, 2), (2, 2), (2, 5), (3, 5), (3, 3), (4, 3)]


def test_run_rounds_no_replan_without_hook():
    """Within-threshold estimate drift alone must NOT re-plan (the
    overlap is latency-only when no size decision flips)."""
    builds: list[tuple[int, int]] = []
    produced = {1: 5, 2: 3}

    def build(frontier, n, rows):
        builds.append((n, rows))
        return _Fake(produced.get(n, 0))

    rounds = run_rounds(_Fake(2), 10, build)
    assert [r.rows for r in rounds] == [2, 5, 3]
    assert builds == [(1, 0), (2, 2), (3, 5), (4, 3)]


def test_k_core_basic_and_fallback(spark, monkeypatch):
    """k=2 core of a 4-clique with two pendant chains: the clique survives
    with in-core degree 3, everything on the chains peels off.  Run once
    through the literal-batch path and once with _COLLECT_MAX forced to 0
    so every round takes the mass-removal shuffle fallback — identical
    results."""
    from pyspark.sql import functions as F

    from tidb_spark.graph import core as gc

    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, ["a", "b"])

    expect = {(i, 3) for i in range(4)}
    got = {
        (r.v, r.core_degree) for r in gc.k_core(edges, 2).collect()
    }
    assert got == expect

    monkeypatch.setattr(gc, "_COLLECT_MAX", 0)
    got_fb = {
        (r.v, r.core_degree) for r in gc.k_core(edges, 2).collect()
    }
    assert got_fb == expect

    # no 99-core exists -> empty frame, not an error
    assert gc.k_core(edges, 99).count() == 0


def test_cte_recursive_unroll_matches_generic_loop(spark):
    """r13: cte_recursive's depth-bounded linear unroll must stay
    row-identical to the generic recursive_cte fixpoint loop it replaced
    (same seed, same step, UNION-DISTINCT on id) — including on a graph
    where the frontier dies out BEFORE the depth bound, the case the
    loop's convergence count used to catch early."""
    from functools import reduce

    from pyspark.sql import functions as F

    from tidb_spark.operators.cte import recursive_cte

    def both(edge_rows, seed_ids, max_depth=3):
        edges = spark.createDataFrame(edge_rows, ["src", "dst"])
        seed = spark.createDataFrame(
            [(i, 0) for i in seed_ids], ["id", "depth"]
        )

        def step(frontier):
            return (
                frontier.where(F.col("depth") < max_depth)
                .join(edges, frontier["id"] == edges["src"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("depth") + 1).alias("depth"),
                )
            )

        loop = recursive_cte(seed, step, distinct_keys=["id"])

        levels, seen, frontier = [seed], seed.select("id"), seed
        for _ in range(max_depth):
            nxt = (
                frontier.where(F.col("depth") < max_depth)
                .join(edges, frontier["id"] == edges["src"])
                .select(
                    F.col("dst").alias("id"),
                    (F.col("depth") + 1).alias("depth"),
                )
                .dropDuplicates(["id"])
                .join(seen, on="id", how="left_anti")
            )
            levels.append(nxt)
            seen = seen.unionByName(nxt.select("id"))
            frontier = nxt
        unroll = reduce(lambda a, b: a.unionByName(b), levels)
        return (
            sorted(map(tuple, loop.collect())),
            sorted(map(tuple, unroll.collect())),
        )

    # diamond + revisit: 1->2->4, 1->3->4 (4 reached once, at min depth),
    # 4->1 (cycle back into the seed, must be dropped by the seen set)
    a, b = both([(1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (4, 5), (5, 6)], [1])
    assert a == b == [(1, 0), (2, 1), (3, 1), (4, 2), (5, 3)]

    # frontier dies out at depth 1, well before the depth-3 bound
    a, b = both([(1, 2)], [1])
    assert a == b == [(1, 0), (2, 1)]

    # empty step from the start
    a, b = both([(7, 8)], [1])
    assert a == b == [(1, 0)]


def test_width_helpers(spark, tmp_path):
    """The width module's three primitives: the split size is the JVM's
    parse of the conf (human-readable forms included), the estimate is
    None for an RDD-built frame and the file bytes for a parquet read,
    and ``tasks`` is a ceiling that is at least 1 and honours its cap."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64m")
        assert width.split_bytes(spark) == 64 << 20
    finally:
        spark.conf.set(key, old)
    assert width.split_bytes(spark) == 128 << 20

    rows = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert width.estimated_bytes(rows) is None
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert width.estimated_bytes(spark.read.parquet(path)) == on_disk

    assert width.tasks(9, 3) == 3
    assert width.tasks(10, 3) == 4
    assert width.tasks(0, 3) == 1
    assert width.tasks(5, 1, cap=8) == 5
    assert width.tasks(100, 1, cap=8) == 8


def test_spread_small_width_is_size_derived(spark, tmp_path):
    """spread_small's fan-out follows the input size (one task per
    _SPREAD_BYTES_PER_TASK, at least 2) capped at defaultParallelism, so
    tiny corpora do not fragment into launch-overhead-dominated tasks.
    The inputs are one-file parquet reads, whose size the optimizer
    knows; a local checkpoint keeps that estimate.  Only an RDD-built
    frame reports no size, and takes the exact-count fallback."""
    dp = spark.sparkContext.defaultParallelism
    if dp < 3:
        pytest.skip("a size-derived width below the cap needs 3+ cores")
    bpt = width._SPREAD_BYTES_PER_TASK

    def parquet(name, rows, hashes):
        # ``hashes`` distinct 128-hex-char digests per row: no repeats
        # for the parquet encoders to squeeze out of the file
        path = str(tmp_path / name)
        digest = "sha2(cast(id * 100 + i AS STRING), 512)"
        v = f"concat_ws('', transform(sequence(1, {hashes}), i -> {digest}))"
        df = spark.range(rows).selectExpr("id AS k", f"{v} AS v")
        df.coalesce(1).write.parquet(path)
        return spark.read.parquet(path)

    def spread(df):
        return width.spread_small(df, "k").rdd.getNumPartitions()

    small = parquet("small", 100, 1)
    size = width.estimated_bytes(small)
    expect = max(2, -(-size // bpt))
    assert expect < dp, (expect, dp, size)
    assert spread(small) == expect, (spread(small), expect, size)
    assert spread(small.localCheckpoint(eager=True)) == expect

    big = parquet("big", dp * bpt // 512 + 64, 8)
    size = width.estimated_bytes(big)
    assert size >= dp * bpt, (size, dp)
    assert spread(big) == dp

    # unknown size: the exact partition count is compared with the cores
    rows = spark.createDataFrame([(i, "x") for i in range(200)], ["k", "v"])
    assert width.estimated_bytes(rows) is None
    assert width.spread_small(rows, "k") is rows  # already dp partitions
    assert spread(rows.coalesce(1)) == dp
