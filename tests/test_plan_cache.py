"""Plan cache for PREPARE/EXECUTE (planner/core/plan_cache.go
GetPlanFromPlanCache, re-expressed as a lowered-text cache — the Python
dialect pipeline runs once per (statement, catalog epoch); Catalyst +
AQE still plan every execution) plus the @@last_plan_from_cache
observability var (sessionctx/variable/session.go) and @@sysvar reads.
"""

from __future__ import annotations

import pytest


def _from_cache(engine) -> int:
    return int(
        engine.sql("SELECT @@last_plan_from_cache AS c").collect()[0].c
    )


def test_execute_second_run_hits_cache(engine):
    """First EXECUTE lowers and populates; second binds the cached text.
    Results must be identical and @@last_plan_from_cache must read 0
    then 1 (the reference exposes exactly this var)."""
    engine.sql(
        "PREPARE s FROM 'SELECT n_name, n_regionkey FROM nation "
        "WHERE n_regionkey < ? ORDER BY n_name LIMIT ?'"
    )
    engine.sql("SET @a = 3")
    engine.sql("SET @b = 5")
    r1 = [tuple(r) for r in engine.sql("EXECUTE s USING @a, @b").collect()]
    assert _from_cache(engine) == 0
    r2 = [tuple(r) for r in engine.sql("EXECUTE s USING @a, @b").collect()]
    assert _from_cache(engine) == 1
    assert r1 == r2 and len(r1) == 5
    # Rebinding different parameters still uses the cached lowering.
    engine.sql("SET @a = 1")
    r3 = engine.sql("EXECUTE s USING @a, @b").collect()
    assert _from_cache(engine) == 1
    assert all(r.n_regionkey < 1 for r in r3)


def test_ddl_and_dml_invalidate(engine):
    """Any catalog/data mutation bumps the epoch: the next EXECUTE
    re-lowers (from_cache=0), then caches again — the reference
    invalidates on schema version the same way (plan_cache.go)."""
    engine.sql("PREPARE s FROM 'SELECT COUNT(*) AS n FROM region WHERE r_regionkey < ?'")
    engine.sql("SET @k = 99")
    engine.sql("EXECUTE s USING @k")
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 1
    engine.sql("CREATE TABLE plan_cache_tt (x BIGINT)")
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 0
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 1
    engine.sql("INSERT INTO plan_cache_tt VALUES (1)")
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 0
    # SET of a USER variable must NOT invalidate (statements reading
    # @vars are uncacheable, so no cached lowering depends on one).
    engine.sql("EXECUTE s USING @k")
    engine.sql("SET @other = 42")
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 1
    # SET of a SYSvar does (sysvars steer lowering).
    engine.sql("SET @@graph_topk_max_hops = 4")
    engine.sql("EXECUTE s USING @k")
    assert _from_cache(engine) == 0


def test_limit_offset_reorder_binds_positionally(engine):
    """MySQL ``LIMIT ?, ?`` lowers to ``LIMIT ? OFFSET ?`` — the rewrite
    REORDERS the placeholders, which is exactly why the cache pins them
    as named :pN markers.  Cached and uncached runs must agree."""
    engine.sql(
        "PREPARE s FROM 'SELECT n_name FROM nation ORDER BY n_name "
        "LIMIT ?, ?'"
    )
    engine.sql("SET @off = 2")
    engine.sql("SET @cnt = 3")
    a = [r.n_name for r in engine.sql("EXECUTE s USING @off, @cnt").collect()]
    b = [r.n_name for r in engine.sql("EXECUTE s USING @off, @cnt").collect()]
    assert _from_cache(engine) == 1
    ref = [
        r.n_name
        for r in engine.sql(
            "SELECT n_name FROM nation ORDER BY n_name LIMIT 2, 3"
        ).collect()
    ]
    assert a == b == ref and len(ref) == 3


def test_skip_reasons_stay_on_slow_path(engine):
    """The reference's skip-plan-cache reasons
    (plan_cacheable_checker.go): fulltext AGAINST (literal-only arg),
    user @variables, DML — each executes correctly every time and never
    reports from_cache=1."""
    engine.sql(
        "PREPARE ft FROM 'SELECT COUNT(*) AS n FROM region "
        "WHERE MATCH(r_name) AGAINST(''ASIA'' IN BOOLEAN MODE)'"
    )
    assert engine.sql("EXECUTE ft").collect()[0].n == 1
    assert engine.sql("EXECUTE ft").collect()[0].n == 1
    assert _from_cache(engine) == 0
    engine.sql("SET @v = 2")
    engine.sql(
        "PREPARE uv FROM 'SELECT COUNT(*) AS n FROM nation "
        "WHERE n_regionkey = @v'"
    )
    engine.sql("EXECUTE uv")
    engine.sql("EXECUTE uv")
    assert _from_cache(engine) == 0
    engine.sql("CREATE TABLE pc_dml (x BIGINT)")
    engine.sql("PREPARE ins FROM 'INSERT INTO pc_dml VALUES (?)'")
    engine.sql("SET @x = 7")
    engine.sql("EXECUTE ins USING @x")
    engine.sql("EXECUTE ins USING @x")
    assert _from_cache(engine) == 0
    assert (
        engine.sql("SELECT COUNT(*) AS n FROM pc_dml").collect()[0].n == 2
    )


def test_capacity_eviction(engine, spark):
    """LRU capacity (default 100, conf
    spark.tidb_spark.plan_cache.size — the reference's
    tidb_session_plan_cache_size): exceeding it evicts the oldest."""
    spark.conf.set("spark.tidb_spark.plan_cache.size", "2")
    try:
        engine.sql("SET @k = 1")
        for i in range(3):
            engine.sql(
                f"PREPARE p{i} FROM 'SELECT {i} AS tag, COUNT(*) AS n "
                "FROM region WHERE r_regionkey < ?'"
            )
            engine.sql(f"EXECUTE p{i} USING @k")
        assert len(engine.plan_cache) == 2
        engine.sql("EXECUTE p0 USING @k")  # evicted -> re-lower
        assert _from_cache(engine) == 0
    finally:
        spark.conf.unset("spark.tidb_spark.plan_cache.size")


def test_sysvar_reads(engine):
    """SELECT @@sysvar (sessionctx/variable): SET-recorded values,
    engine defaults, and MySQL's unknown-variable error."""
    assert (
        engine.sql("SELECT @@version AS v").collect()[0].v
        == "8.0-tidb_spark"
    )
    engine.sql("SET @@my_knob = 42")
    assert engine.sql("SELECT @@my_knob AS v").collect()[0].v == 42
    assert (
        engine.sql("SELECT @@SESSION.my_knob AS v").collect()[0].v == 42
    )
    with pytest.raises(ValueError, match="Unknown system variable"):
        engine.sql("SELECT @@no_such_var")


# --- SQL plan bindings (bindinfo/bind.go) --------------------------------


def test_binding_changes_plan_and_matches_literals(engine, spark):
    """CREATE BINDING with a broadcast hint flips the physical join for
    any statement matching the literal-stripped digest; results are
    identical; @@last_plan_from_binding reports the previous statement
    (sessionctx/variable FoundInBinding)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            "SELECT COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = 2"
        )
        plain = engine.sql(f"EXPLAIN {q}").toPandas()["plan"].str.cat()
        assert "BroadcastHashJoin" not in plain
        engine.sql(
            f"CREATE GLOBAL BINDING FOR {q} USING "
            "SELECT /*+ BROADCAST_JOIN(n) */ COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = 2"
        )
        q3 = q.replace("= 2", "= 3")  # different literal still matches
        bound_plan = engine.sql(f"EXPLAIN {q3}").toPandas()["plan"].str.cat()
        assert "BroadcastHashJoin" in bound_plan
        r_bound = engine.sql(q3).collect()[0].n
        assert (
            engine.sql("SELECT @@last_plan_from_binding AS c").collect()[0].c
            == 1
        )
        rows = engine.sql("SHOW BINDINGS").collect()
        assert len(rows) == 1 and rows[0].Status == "enabled"
        assert "?" in rows[0].Sql_digest
        engine.sql(f"DROP BINDING FOR {q3}")  # digest match, any literals
        assert engine.sql("SHOW BINDINGS").count() == 0
        r_plain = engine.sql(q3).collect()[0].n
        assert r_bound == r_plain
        assert (
            engine.sql("SELECT @@last_plan_from_binding AS c").collect()[0].c
            == 0
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_binding_validation_rejects_mismatched_using(engine):
    """bindinfo invariant: original and bind SQL must normalize
    identically once hints are stripped — otherwise literal re-injection
    is unsound and the reference likewise errors."""
    with pytest.raises(ValueError, match="identical after normalization"):
        engine.sql(
            "CREATE BINDING FOR SELECT COUNT(*) FROM nation "
            "USING SELECT COUNT(*) FROM region"
        )
    with pytest.raises(ValueError, match="no binding matches"):
        engine.sql("DROP BINDING FOR SELECT 1 FROM nation")


def test_binding_invalidates_plan_cache(engine):
    """CREATE BINDING bumps the catalog epoch, so a prepared statement
    re-lowers and picks up the binding on its next EXECUTE."""
    engine.sql(
        "PREPARE b1 FROM 'SELECT COUNT(*) AS n FROM nation "
        "WHERE n_regionkey = ?'"
    )
    engine.sql("SET @r = 1")
    engine.sql("EXECUTE b1 USING @r")
    engine.sql("EXECUTE b1 USING @r")
    assert (
        engine.sql("SELECT @@last_plan_from_cache AS c").collect()[0].c == 1
    )
    engine.sql(
        "CREATE BINDING FOR SELECT COUNT(*) AS n FROM region "
        "USING SELECT COUNT(*) AS n FROM region"
    )
    engine.sql("EXECUTE b1 USING @r")
    assert (
        engine.sql("SELECT @@last_plan_from_cache AS c").collect()[0].c == 0
    )


def test_binding_applies_to_prepared_statements(engine, spark):
    """bindinfo applies to EXECUTE too: the lowering pass digests :pN
    markers as literals (engine._binding_digest), so a prepared statement
    whose normalized text matches a stored binding is rewritten through
    the binding's USING template — and every cache-hit execution replays
    @@last_plan_from_binding = 1 (the cache entry's from_binding field)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        engine.sql(
            "CREATE BINDING FOR SELECT COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = 0 "
            "USING SELECT /*+ BROADCAST_JOIN(n) */ COUNT(*) AS n "
            "FROM customer c JOIN nation n "
            "ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = 0"
        )
        engine.sql(
            "PREPARE pb FROM 'SELECT COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = ?'"
        )
        engine.sql("SET @r = 2")
        r1 = engine.sql("EXECUTE pb USING @r").collect()[0].n
        assert (
            engine.sql("SELECT @@last_plan_from_binding AS c").collect()[0].c
            == 1
        ), "binding must fire on the lowering pass (miss)"
        r2 = engine.sql("EXECUTE pb USING @r").collect()[0].n
        # Both vars report the PREVIOUS statement — read them in one go
        # (a second SELECT in between would snapshot the first read, not
        # the EXECUTE).
        row = engine.sql(
            "SELECT @@last_plan_from_cache AS fc, "
            "@@last_plan_from_binding AS fb"
        ).collect()[0]
        assert row.fc == 1
        assert row.fb == 1, "cache-hit executions must replay the binding flag"
        # Same answer as the plain (binding-free) statement.
        engine.sql(
            "DROP BINDING FOR SELECT COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = 0"
        )
        plain = engine.sql(
            "SELECT COUNT(*) AS n FROM customer c "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE n.n_regionkey = 2"
        ).collect()[0].n
        assert r1 == r2 == plain
        assert (
            engine.sql("SELECT @@last_plan_from_binding AS c").collect()[0].c
            == 0
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_explain_analyze_reports_plan_provenance(engine):
    """EXPLAIN ANALYZE surfaces the plan-cache/binding diagnostics next
    to the plan they explain (the reference pairs EXPLAIN's runtime
    stats with last_plan_from_cache/last_plan_from_binding): a plain
    statement reports 0/0; EXECUTE on a warm cache reports
    plan_from_cache: 1 and growing session hit counters."""
    out = engine.sql(
        "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM nation"
    ).toPandas()["plan"].str.cat(sep="\n")
    assert "plan_from_cache: 0" in out and "plan_from_binding: 0" in out
    engine.sql("PREPARE pe FROM 'SELECT COUNT(*) AS n FROM nation "
               "WHERE n_regionkey = ?'")
    engine.sql("SET @r = 1")
    engine.sql("EXECUTE pe USING @r")  # populate (miss)
    out = engine.sql(
        "EXPLAIN ANALYZE EXECUTE pe USING @r"
    ).toPandas()["plan"].str.cat(sep="\n")
    assert "plan_from_cache: 1" in out
    assert "1 hits" in out and "-- rows: 1" in out


def test_provenance_flags_reset_per_statement(engine, spark):
    """r9 code-review findings: the live plan_from_cache/binding flags
    must be reset at every statement entry — otherwise (a) a statement
    that never touches the plan cache inherits a stale True (EXPLAIN
    ANALYZE then misattributes provenance), and (b) a lowering pass run
    after DROP BINDING emptied the registry would permanently CACHE
    from_binding=True for an unrelated statement."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # (a) a warm cache hit, then EXPLAIN ANALYZE of a PLAIN select.
        engine.sql("PREPARE pr FROM 'SELECT COUNT(*) AS n FROM nation "
                   "WHERE n_regionkey = ?'")
        engine.sql("SET @r = 1")
        engine.sql("EXECUTE pr USING @r")
        engine.sql("EXECUTE pr USING @r")  # hit: live flag = True
        out = engine.sql(
            "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM region"
        ).toPandas()["plan"].str.cat(sep="\n")
        assert "plan_from_cache: 0" in out, out.splitlines()[1]
        # (b) binding fires, is dropped, then an UNRELATED statement is
        # prepared: its cache entry must not inherit from_binding.
        q = ("SELECT COUNT(*) AS n FROM customer c JOIN nation n "
             "ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = 1")
        engine.sql(f"CREATE BINDING FOR {q} USING "
                   + q.replace("SELECT", "SELECT /*+ BROADCAST_JOIN(n) */", 1))
        engine.sql(q)  # binding fires: live flag = True
        engine.sql(f"DROP BINDING FOR {q}")  # registry now empty
        engine.sql("PREPARE pu FROM 'SELECT COUNT(*) AS n FROM region "
                   "WHERE r_regionkey = ?'")
        engine.sql("EXECUTE pu USING @r")  # lowering pass populates cache
        engine.sql("EXECUTE pu USING @r")  # cache hit replays from_binding
        row = engine.sql(
            "SELECT @@last_plan_from_cache AS fc, "
            "@@last_plan_from_binding AS fb"
        ).collect()[0]
        assert row.fc == 1 and row.fb == 0, (row.fc, row.fb)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_commutativity_cross_check_demotes_unsound_lowering(engine):
    """Entry-creation cross-check (ADVICE r8): if the marker-form lowering
    does NOT commute with parameter substitution — the signature of a
    rewrite that pattern-matches literal operands and silently skips the
    :pN shape — the statement must stay on the (always-correct) slow
    path, never caching the divergent text."""
    engine.sql(
        "PREPARE cx FROM 'SELECT COUNT(*) AS n FROM nation "
        "WHERE n_regionkey < ?'"
    )
    engine.sql("SET @v = 2")
    orig = engine._lower_for_cache

    def unsound(text, n_params):
        lowered = orig(text, n_params)
        # Simulate a literal-sensitive rewrite divergence: the marker
        # form "lowered" to a DIFFERENT predicate than the literal form.
        return (
            lowered.replace(":p0", "(:p0 + 1)") if lowered else lowered
        )

    engine._lower_for_cache = unsound
    try:
        r1 = engine.sql("EXECUTE cx USING @v").collect()[0].n
    finally:
        engine._lower_for_cache = orig
    # Correct answer (slow path must have run): regionkey < 2, not < 3.
    expect = engine.sql(
        "SELECT COUNT(*) AS n FROM nation WHERE n_regionkey < 2"
    ).collect()[0].n
    assert r1 == expect
    # And the unsound lowering must NOT have been cached as runnable.
    r2 = engine.sql("EXECUTE cx USING @v").collect()[0].n
    assert r2 == expect
    assert (
        int(
            engine.sql("SELECT @@last_plan_from_cache AS c").collect()[0].c
        )
        == 0
    )


# ---- Direct-statement DataFrame cache (r13; the reference's NON-prepared
# plan cache, planner/core/plan_cache_non_prepared.go) --------------------


def test_stmt_cache_hit_same_results_and_invalidation(engine):
    """A plain SELECT re-issued verbatim replays its analyzed DataFrame
    (hit counter moves) with identical results; any mutation statement
    bumps the epoch and forces re-analysis.  @@last_plan_from_cache stays
    prepared-statement-only (the reference ships the non-prepared cache
    off by default; observability tests pin 0 for plain statements)."""
    q = "SELECT n_name FROM nation WHERE n_regionkey = 2 ORDER BY n_name"
    r1 = [tuple(r) for r in engine.sql(q).collect()]
    h0 = engine._stmt_cache_hits
    r2 = [tuple(r) for r in engine.sql(q).collect()]
    assert engine._stmt_cache_hits == h0 + 1
    assert r1 == r2
    assert (
        int(engine.sql("SELECT @@last_plan_from_cache AS c").collect()[0].c)
        == 0
    )
    engine.sql("CREATE TABLE stmt_cache_tt (x BIGINT)")
    engine.sql(q).collect()
    assert engine._stmt_cache_hits == h0 + 1  # re-analyzed, not replayed


def test_stmt_cache_skips_sideeffect_and_volatile_statements(engine):
    """NEXTVAL allocates per statement and RAND/NOW are volatile: none may
    be replayed from the DataFrame cache."""
    engine.sql("CREATE SEQUENCE stmt_cache_seq")
    v1 = engine.sql("SELECT NEXTVAL(stmt_cache_seq) AS v").collect()[0].v
    v2 = engine.sql("SELECT NEXTVAL(stmt_cache_seq) AS v").collect()[0].v
    assert (v1, v2) == (1, 2)
    h0 = engine._stmt_cache_hits
    engine.sql("SELECT RAND() AS r FROM nation LIMIT 1").collect()
    engine.sql("SELECT RAND() AS r FROM nation LIMIT 1").collect()
    assert engine._stmt_cache_hits == h0


def test_stmt_cache_recursive_cte_sees_fresh_frontier(engine):
    """The recursive step's SQL text is byte-identical every round while
    the frontier view is rebound underneath it — the step must never be
    replayed from the cache (regression: a cached round-1 plan made the
    fixpoint converge one round early)."""
    out = engine.sql(
        "WITH RECURSIVE r(n) AS ("
        "SELECT 1 UNION SELECT (n % 4) + 1 FROM r) "
        "SELECT n FROM r ORDER BY n"
    ).collect()
    assert [x.n for x in out] == [1, 2, 3, 4]
    # And run it TWICE: the outer statement itself must not be cached
    # (WITH RECURSIVE is excluded from the cacheable heads).
    out = engine.sql(
        "WITH RECURSIVE r(n) AS ("
        "SELECT 1 UNION SELECT (n % 4) + 1 FROM r) "
        "SELECT n FROM r ORDER BY n"
    ).collect()
    assert [x.n for x in out] == [1, 2, 3, 4]


def test_stmt_cache_direct_api_mutation_invalidates(engine, spark):
    """create_table called through the Python API (not SQL) must also
    invalidate: the analyzed plan in the cache resolved the table's OLD
    temp view."""
    from pyspark.sql import functions as F

    engine.create_table(
        "stmt_cache_api", spark.range(3).select(F.col("id").alias("x")),
        key_cols=["x"],
    )
    q = "SELECT COUNT(*) AS n FROM stmt_cache_api"
    assert engine.sql(q).collect()[0].n == 3
    engine.sql(q).collect()
    engine.create_table(
        "stmt_cache_api", spark.range(5).select(F.col("id").alias("x")),
        key_cols=["x"],
    )
    assert engine.sql(q).collect()[0].n == 5


# ---- One statement cache: direct and prepared entries in one LRU, emptied
# on every catalog-epoch bump ------------------------------------------------


def test_write_empties_statement_cache(engine):
    """Epochs only grow, so a bump empties the cache outright: no dead
    DataFrame or lowering stays pinned until LRU eviction."""
    engine.sql("CREATE TABLE sc_write (x BIGINT)")
    engine.sql("SELECT COUNT(*) AS n FROM nation").collect()
    engine.sql("PREPARE sw FROM 'SELECT COUNT(*) AS n FROM region "
               "WHERE r_regionkey < ?'")
    engine.sql("SET @k = 3")
    engine.sql("EXECUTE sw USING @k")
    assert len(engine.plan_cache) == 2
    epoch = engine._catalog_epoch
    engine.sql("INSERT INTO sc_write VALUES (1)")
    assert engine._catalog_epoch > epoch
    assert len(engine.plan_cache) == 0


def test_direct_and_prepared_entries_share_capacity(engine, spark):
    """spark.tidb_spark.plan_cache.size caps direct and prepared entries
    together: a prepared entry evicts the least recently used direct one."""
    q1 = "SELECT COUNT(*) AS n FROM nation"
    q2 = "SELECT COUNT(*) AS n FROM region"
    spark.conf.set("spark.tidb_spark.plan_cache.size", "2")
    try:
        engine.sql(q1).collect()
        engine.sql(q2).collect()
        engine.sql("PREPARE sc FROM 'SELECT COUNT(*) AS n FROM supplier "
                   "WHERE s_suppkey < ?'")
        engine.sql("SET @k = 5")
        engine.sql("EXECUTE sc USING @k")
        assert len(engine.plan_cache) == 2
        h0 = engine._stmt_cache_hits
        engine.sql(q2).collect()
        assert engine._stmt_cache_hits == h0 + 1
        engine.sql(q1).collect()  # evicted by the prepared entry
        assert engine._stmt_cache_hits == h0 + 1
    finally:
        spark.conf.unset("spark.tidb_spark.plan_cache.size")


def test_bench_flush_clears_dialect_engine_statement_cache(spark):
    """bench.py's slow-reading retry flushes caches first; that must
    include the memoized dialect Engine's statement cache, or the retry
    replays the first run's analyzed DataFrame."""
    import bench
    from tests.conftest import TEST_SF_DIR
    from tidb_spark.queries import all_queries
    from tidb_spark.queries.dialectq import _engine

    q = all_queries()["mysqlsql_date_funcs"]
    eng = _engine(spark, TEST_SF_DIR)
    q.spark(spark, TEST_SF_DIR)
    h0 = eng._stmt_cache_hits
    q.spark(spark, TEST_SF_DIR)
    assert eng._stmt_cache_hits == h0 + 1
    bench._flush_all_cache(spark)
    assert len(eng.plan_cache) == 0
    q.spark(spark, TEST_SF_DIR)
    assert eng._stmt_cache_hits == h0 + 1


def test_show_status_reports_cache_counters(engine):
    """SHOW STATUS carries the cache's live entry count and the three
    hit/miss counters, read from the same fields EXPLAIN ANALYZE reports."""
    q = "SELECT COUNT(*) AS n FROM nation"
    engine.sql(q).collect()
    engine.sql(q).collect()
    engine.sql("PREPARE ss FROM 'SELECT COUNT(*) AS n FROM region "
               "WHERE r_regionkey < ?'")
    engine.sql("SET @k = 2")
    engine.sql("EXECUTE ss USING @k")
    engine.sql("EXECUTE ss USING @k")
    status = {
        r.Variable_name: r.Value
        for r in engine.sql("SHOW STATUS").collect()
    }
    assert status["tidb_spark_plan_cache_entries"] == str(len(engine.plan_cache))
    assert status["tidb_spark_plan_cache_entries"] == "2"
    assert status["tidb_spark_stmt_cache_hits"] == str(engine._stmt_cache_hits)
    assert status["tidb_spark_plan_cache_hits"] == str(engine._plan_cache_hits)
    assert status["tidb_spark_plan_cache_misses"] == str(
        engine._plan_cache_misses
    )
    assert (engine._stmt_cache_hits, engine._plan_cache_hits,
            engine._plan_cache_misses) == (1, 1, 1)
    out = engine.sql(
        "EXPLAIN ANALYZE SELECT COUNT(*) AS n FROM supplier"
    ).toPandas()["plan"].str.cat(sep="\n")
    assert "direct statements: 1 hits" in out
