"""LOAD DATA / SELECT INTO OUTFILE roundtrips and ManagedTable DML
(INSERT / REPLACE / UPDATE / DELETE / point gets) against pandas-computed
expectations.
"""

from __future__ import annotations

import os
import time
from unittest import mock

import pytest
from pyspark.sql import functions as F

from tidb_spark.catalog import load_table
from tidb_spark.sources import dml
from tidb_spark.sources.csvio import load_data, select_into_outfile
from tidb_spark.sources.dml import ManagedTable
from tests.conftest import TEST_SF_DIR

SCHEMA = "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"


@pytest.fixture()
def nation(spark):
    return load_table(spark, TEST_SF_DIR, "nation")


def test_csv_roundtrip(spark, nation, tmp_path):
    out = str(tmp_path / "nation_csv")
    select_into_outfile(nation, out, terminated_by="|", header=False)
    back = load_data(spark, out, SCHEMA, terminated_by="|")
    assert sorted(back.collect()) == sorted(nation.collect())


def test_csv_header_and_ignore_lines(spark, nation, tmp_path):
    out = str(tmp_path / "nation_hdr")
    select_into_outfile(nation, out, header=True)
    back = load_data(spark, out, SCHEMA, ignore_lines=1)
    assert back.count() == nation.count()
    # general-N skip: each part file loses its first 2 rows
    n_files = len(
        [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".csv")]
    )
    skipped = load_data(spark, out, SCHEMA, ignore_lines=2)
    assert skipped.count() == nation.count() + n_files - 2 * n_files


def test_dml_lifecycle(spark, nation, tmp_path):
    t = ManagedTable(
        spark, str(tmp_path / "t"), key_cols=["n_nationkey"], df=nation
    )
    n0 = nation.count()

    new_rows = spark.createDataFrame(
        [(1000, "NEWLAND", 0), (1001, "OTHERLAND", 1)],
        schema=SCHEMA,
    )
    t.insert(new_rows)
    assert t.df().count() == n0 + 2

    # REPLACE: overwrite key 1000, add key 1002
    repl = spark.createDataFrame(
        [(1000, "REPLACED", 4), (1002, "THIRDLAND", 2)], schema=SCHEMA
    )
    t.replace(repl)
    assert t.df().count() == n0 + 3
    assert t.point_get({"n_nationkey": 1000}).collect()[0].n_name == "REPLACED"

    t.update(
        F.col("n_regionkey") == 4,
        {"n_name": F.concat(F.col("n_name"), F.lit("_X"))},
    )
    assert t.point_get({"n_nationkey": 1000}).collect()[0].n_name == "REPLACED_X"

    t.delete(F.col("n_nationkey") >= 1000)
    assert t.df().count() == n0
    assert t.batch_point_get("n_nationkey", [1000, 1001, 1002]).count() == 0
    # original rows untouched
    assert sorted(r.n_nationkey for r in t.df().collect()) == sorted(
        r.n_nationkey for r in nation.collect()
    )


def test_partitioned_table_prunes(spark, nation, tmp_path):
    """Directory partitioning (the RANGE/HASH/LIST analogue) must prune:
    a partition-key predicate reads only the matching directory."""
    import contextlib, io, re as _re

    t = ManagedTable(
        spark,
        str(tmp_path / "p"),
        key_cols=["n_nationkey"],
        partition_by=["n_regionkey"],
        df=nation,
    )
    df = t.df().where(F.col("n_regionkey") == 2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "n_regionkey" in m.group(1), p
    expected = nation.where(F.col("n_regionkey") == 2).count()
    assert df.count() == expected
    # DML still works on partitioned layout
    t.delete(F.col("n_regionkey") == 2)
    assert t.df().count() == nation.count() - expected


def test_merge_upsert_lifecycle(spark, nation, tmp_path):
    """MERGE / INSERT … ON DUPLICATE KEY UPDATE / INSERT IGNORE semantics
    (executor/insert.go:43,79,191-202 — the reference's dup-key paths)."""
    from tidb_spark.sources.dml import new_value

    t = ManagedTable(
        spark, str(tmp_path / "m"), key_cols=["n_nationkey"], df=nation
    )
    n0 = nation.count()

    incoming = spark.createDataFrame(
        [(0, "RENAMED_0", 9), (1000, "NEWLAND", 0)], schema=SCHEMA
    )
    # default upsert: matched row fully overwritten, new key inserted
    t.upsert(incoming)
    assert t.df().count() == n0 + 1
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.df().collect()}
    assert got[0] == ("RENAMED_0", 9)
    assert got[1000] == ("NEWLAND", 0)

    # custom assignment mixing old and new values
    t.upsert(
        spark.createDataFrame([(1000, "IGNORED", 5)], schema=SCHEMA),
        assignments={"n_regionkey": new_value("n_regionkey") + F.col("n_regionkey")},
    )
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.df().collect()}
    assert got[1000] == ("NEWLAND", 5)  # name kept, region 0+5

    # INSERT IGNORE: existing key dropped, new key kept
    t.insert_ignore(
        spark.createDataFrame(
            [(1000, "CLOBBER", 7), (1001, "FRESH", 2)], schema=SCHEMA
        )
    )
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in t.df().collect()}
    assert got[1000] == ("NEWLAND", 5)
    assert got[1001] == ("FRESH", 2)

    # MERGE with a delete clause: matched rows satisfying the condition go
    t.merge(
        spark.createDataFrame([(1000, "x", 0), (1001, "x", 0)], schema=SCHEMA),
        when_matched_delete=F.col("n_name") == "NEWLAND",
        when_not_matched_insert=False,
    )
    keys = {r.n_nationkey for r in t.df().collect()}
    assert 1000 not in keys and 1001 in keys


def test_sql_odku_and_insert_ignore(spark, nation, tmp_path):
    """SQL surface: INSERT … ON DUPLICATE KEY UPDATE with VALUES(col) refs
    and INSERT IGNORE, through Engine.sql."""
    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))
    eng.create_table("nat", nation, key_cols=["n_nationkey"])
    n0 = nation.count()

    eng.sql(
        "INSERT INTO nat VALUES (0, 'ZERO', 40), (2000, 'SQLLAND', 3) "
        "ON DUPLICATE KEY UPDATE n_name = VALUES(n_name), "
        "n_regionkey = n_regionkey + VALUES(n_regionkey)"
    )
    got = {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in eng.sql("SELECT * FROM nat").collect()
    }
    assert len(got) == n0 + 1
    assert got[0][0] == "ZERO" and got[0][1] >= 40  # old region + 40
    assert got[2000] == ("SQLLAND", 3)

    eng.sql("INSERT IGNORE INTO nat VALUES (2000, 'NOPE', 9), (2001, 'YES', 1)")
    got = {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in eng.sql("SELECT * FROM nat").collect()
    }
    assert got[2000] == ("SQLLAND", 3)
    assert got[2001] == ("YES", 1)


def test_as_of_time_travel(spark, nation, tmp_path):
    """Stale reads (AS OF TIMESTAMP — parser/ast/dml.go:276): versions are
    retained with commit timestamps; as_of() resolves the newest version at
    or before the timestamp, and pre-history timestamps error like the
    reference's GC-safepoint check."""
    import datetime as dt
    import time

    t = ManagedTable(
        spark, str(tmp_path / "tt"), key_cols=["n_nationkey"], df=nation
    )
    n0 = nation.count()
    t_before = time.time()
    time.sleep(0.05)
    t.delete(F.col("n_regionkey") == 2)
    n1 = t.df().count()
    assert n1 < n0
    time.sleep(0.05)
    t.insert(spark.createDataFrame([(3000, "LATE", 0)], schema=SCHEMA))

    assert t.as_of(t_before).count() == n0
    assert t.as_of(time.time()).count() == n1 + 1
    # ISO-string form (UTC, like the session timezone)
    iso = dt.datetime.fromtimestamp(t_before, dt.timezone.utc).isoformat()
    assert t.as_of(iso).count() == n0
    assert [v for v, _ in t.versions()] == [0, 1, 2]
    with pytest.raises(ValueError, match="predates retained history"):
        t.as_of(t_before - 3600)

    # retention: with retain_versions=2, writing drops the oldest version
    t2 = ManagedTable(
        spark,
        str(tmp_path / "tt2"),
        key_cols=["n_nationkey"],
        df=nation,
        retain_versions=2,
    )
    t2.delete(F.lit(False))
    t2.delete(F.lit(False))
    assert [v for v, _ in t2.versions()] == [1, 2]
    with pytest.raises(ValueError, match="not retained"):
        t2.read_version(0)

    # ten or more versions: numeric order, not directory-name order
    t3 = ManagedTable(
        spark,
        str(tmp_path / "tt3"),
        key_cols=["n_nationkey"],
        df=nation,
        retain_versions=12,
    )
    for _ in range(11):
        t3.delete(F.lit(True))  # an empty version: no Spark job
    assert [v for v, _ in t3.versions()] == list(range(12))


def test_sql_as_of(spark, nation, tmp_path):
    """SQL surface: SELECT … FROM t AS OF TIMESTAMP '…' (with and without
    alias) reads the historical snapshot while plain reads see the present."""
    import datetime as dt
    import time

    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))
    eng.create_table("natv", nation, key_cols=["n_nationkey"])
    n0 = nation.count()
    before = dt.datetime.now(dt.timezone.utc).isoformat()
    time.sleep(0.05)
    eng.sql("DELETE FROM natv WHERE n_regionkey = 2")
    n1 = eng.sql("SELECT COUNT(*) AS n FROM natv").collect()[0].n
    assert n1 < n0
    old = eng.sql(
        f"SELECT COUNT(*) AS n FROM natv AS OF TIMESTAMP '{before}'"
    ).collect()[0].n
    assert old == n0
    # aliased + qualified column reference
    row = eng.sql(
        f"SELECT x.n_nationkey FROM natv AS OF TIMESTAMP '{before}' AS x "
        "WHERE x.n_regionkey = 2 ORDER BY x.n_nationkey LIMIT 1"
    ).collect()
    assert len(row) == 1


def test_sql_merge_into(spark, nation, tmp_path):
    """MERGE INTO (sqlshim/merge_clause.py — lakehouse extension over the
    reference's ODKU surface): update + delete + insert in one statement,
    one full-outer-join pass, with s./t. references and conditional
    WHEN MATCHED AND."""
    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))
    eng.create_table("nat", nation, key_cols=["n_nationkey"])
    base = {
        r.n_nationkey: (r.n_name, r.n_regionkey) for r in nation.collect()
    }

    eng.sql(
        "MERGE INTO nat AS t "
        "USING (SELECT * FROM (VALUES (0, 'ZED', 77), (1, 'ONE', 88), "
        "(3000, 'NEWLAND', 9)) AS v(k, nm, rk)) AS s "
        "ON t.n_nationkey = s.k "
        "WHEN MATCHED AND t.n_nationkey = 0 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET n_name = s.nm, "
        "n_regionkey = t.n_regionkey + s.rk "
        "WHEN NOT MATCHED THEN INSERT (n_nationkey, n_name, n_regionkey) "
        "VALUES (s.k, s.nm, s.rk)"
    )
    got = {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in eng.sql("SELECT * FROM nat").collect()
    }
    assert 0 not in got  # matched + delete condition
    assert got[1] == ("ONE", base[1][1] + 88)  # matched -> update
    assert got[3000] == ("NEWLAND", 9)  # not matched -> insert
    assert len(got) == len(base)  # -1 deleted +1 inserted
    # untouched rows survive verbatim
    assert got[5] == base[5]

    # bare-table USING with INSERT *; unmatched target rows untouched
    eng.create_table(
        "nat_src",
        eng.sql("SELECT 3001 AS n_nationkey, 'X' AS n_name, 1 AS n_regionkey"),
        key_cols=["n_nationkey"],
    )
    eng.sql(
        "MERGE INTO nat AS t USING nat_src AS s "
        "ON t.n_nationkey = s.n_nationkey "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.sql(
        "SELECT n_name FROM nat WHERE n_nationkey = 3001"
    ).collect()[0].n_name == "X"

    # ON must cover exactly the key columns
    with pytest.raises(ValueError, match="key columns"):
        eng.sql(
            "MERGE INTO nat AS t USING nat_src AS s ON t.n_name = s.n_name "
            "WHEN MATCHED THEN DELETE"
        )


def test_merge_clause_order_first_match_wins(spark, nation, tmp_path):
    """Standard MERGE consumes a matched row with the FIRST WHEN MATCHED
    clause whose condition holds: a row satisfying both a preceding
    conditional UPDATE and a later DELETE condition must be UPDATED."""
    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))
    eng.create_table("nat", nation, key_cols=["n_nationkey"])

    eng.sql(
        "MERGE INTO nat AS t "
        "USING (SELECT * FROM (VALUES (1, 'UPD'), (2, 'UPD')) AS v(k, n_name)) "
        "AS s ON t.n_nationkey = s.k "
        "WHEN MATCHED AND t.n_nationkey = 1 THEN UPDATE SET n_name = s.n_name "
        "WHEN MATCHED THEN DELETE"
    )
    got = {r.n_nationkey: r.n_name for r in eng.sql("SELECT * FROM nat").collect()}
    assert got[1] == "UPD"  # matched the earlier UPDATE clause -> not deleted
    assert 2 not in got  # fell through to DELETE

    # duplicate UPDATE clauses are rejected, not silently last-wins
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at most one"):
        eng.sql(
            "MERGE INTO nat AS t USING nat AS s ON t.n_nationkey = s.n_nationkey "
            "WHEN MATCHED AND t.n_nationkey = 1 THEN UPDATE SET n_name = 'A' "
            "WHEN MATCHED THEN UPDATE SET n_name = 'B'"
        )


def test_update_where_in_string_literal(spark, nation, tmp_path):
    """UPDATE's SET/WHERE split is top-level aware: a 'WHERE' inside a string
    literal must not terminate the SET list."""
    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))
    eng.create_table("nat", nation, key_cols=["n_nationkey"])
    eng.sql("UPDATE nat SET n_name = 'WHERE x' WHERE n_nationkey = 3")
    got = {r.n_nationkey: r.n_name for r in eng.sql("SELECT * FROM nat").collect()}
    assert got[3] == "WHERE x"
    assert got[4] != "WHERE x"

    # Each version is as many files as its estimated bytes need: one here,
    # not one per VALUES row.
    mt = eng.managed["nat"]

    def data_files():
        path = mt._path(mt._version)  # noqa: SLF001
        return [n for _, _, ns in os.walk(path) for n in ns if n.endswith(".parquet")]

    assert len(data_files()) == 1
    eng.sql("INSERT INTO nat VALUES (100, 'A', 0), (101, 'B', 1)")
    assert len(data_files()) == 1
    eng.sql("UPDATE nat SET n_name = 'Y' WHERE n_nationkey = 100")
    assert len(data_files()) == 1
    assert eng.sql("SELECT COUNT(*) AS n FROM nat").collect()[0].n == nation.count() + 2


def test_sql_load_data_and_outfile(engine, tmp_path):
    """SQL LOAD DATA INFILE / SELECT INTO OUTFILE statements
    (executor/load_data.go:46, executor/select_into.go:33): bulk CSV ingest
    goes through the managed-table write gates (domains, auto-increment),
    and the OUTFILE round-trips."""
    import pytest as _pytest

    csv = tmp_path / "in.csv"
    csv.write_text("id;size\n1;M\n2;L\n")
    engine.sql("CREATE TABLE ld (id BIGINT PRIMARY KEY, size ENUM('S','M','L'))")
    r = engine.sql(
        f"LOAD DATA INFILE '{csv}' INTO TABLE ld "
        "FIELDS TERMINATED BY ';' IGNORE 1 LINES"
    ).collect()
    assert r[0].status == "Records: 2"
    rows = engine.sql("SELECT * FROM ld ORDER BY id").collect()
    assert [(x.id, x.size) for x in rows] == [(1, "M"), (2, "L")]

    # Domain validation applies to bulk ingest too.
    bad = tmp_path / "bad.csv"
    bad.write_text("3;XXL\n")
    with _pytest.raises(ValueError, match="Incorrect enum value"):
        engine.sql(
            f"LOAD DATA INFILE '{bad}' INTO TABLE ld FIELDS TERMINATED BY ';'"
        )

    out = tmp_path / "out"
    engine.sql(
        f"SELECT id, size FROM ld INTO OUTFILE '{out}' "
        "FIELDS TERMINATED BY '|'"
    )
    import glob

    lines = sorted(
        line
        for f in glob.glob(str(out) + "/part-*")
        for line in open(f).read().splitlines()
    )
    assert lines == ["1|M", "2|L"]


def test_dml_where_subqueries(engine):
    """IN / scalar subqueries inside UPDATE and DELETE predicates resolve
    against the live catalog (planner builds them as semi/scalar joins)."""
    engine.sql(
        "CREATE TABLE subq_t AS "
        "SELECT n_nationkey AS id, n_name AS nm, n_regionkey AS rk FROM nation"
    )
    engine.sql(
        "DELETE FROM subq_t WHERE id IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 0)"
    )
    assert engine.sql("SELECT COUNT(*) AS n FROM subq_t").collect()[0].n == 20
    engine.sql(
        "UPDATE subq_t SET nm = 'X' "
        "WHERE rk = (SELECT MAX(r_regionkey) FROM region)"
    )
    assert (
        engine.sql("SELECT COUNT(*) AS n FROM subq_t WHERE nm = 'X'")
        .collect()[0].n == 5
    )
    engine.sql("DROP TABLE subq_t")


def test_multi_table_update_delete(engine):
    """MySQL multi-table forms (executor/update.go, executor/delete.go):
    UPDATE t JOIN u ON ... SET t.c = expr-over-join [WHERE], and
    DELETE t FROM t JOIN u ON ... [WHERE] — both execute as one join
    producing keys/values plus one keyed MERGE."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE accounts (id BIGINT PRIMARY KEY, region_name "
        "VARCHAR(30), rk BIGINT)"
    )
    engine.sql(
        "INSERT INTO accounts SELECT n_nationkey, 'unknown', n_regionkey "
        "FROM nation"
    )
    engine.sql(
        "UPDATE accounts JOIN region ON accounts.rk = region.r_regionkey "
        "SET accounts.region_name = region.r_name WHERE region.r_regionkey < 2"
    )
    rows = engine.sql(
        "SELECT region_name, COUNT(*) AS n FROM accounts "
        "GROUP BY region_name ORDER BY region_name"
    ).collect()
    by_name = {r.region_name: r.n for r in rows}
    assert by_name["unknown"] == 15 and len(by_name) == 3, by_name
    # assignments may only touch the target table
    with _pytest.raises(ValueError, match="may only assign"):
        engine.sql(
            "UPDATE accounts JOIN region ON accounts.rk = region.r_regionkey "
            "SET region.r_name = 'nope'"
        )
    engine.sql(
        "DELETE accounts FROM accounts JOIN region "
        "ON accounts.rk = region.r_regionkey WHERE region.r_regionkey = 3"
    )
    assert engine.sql("SELECT COUNT(*) AS n FROM accounts").collect()[0].n == 20
    engine.sql("DROP TABLE accounts")


def test_optimize_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE t ZORDER BY (x, y): content unchanged, and every output
    file covers a small tile of the (x, y) plane — per-file min/max
    ranges on BOTH dimensions shrink far below the global range, which
    is what makes parquet row-group stats selective on either column."""
    from pyspark.sql import functions as F

    from tidb_spark.catalog import TABLES
    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "zws"))
    eng.sql("DROP TABLE IF EXISTS zt")
    eng.sql("CREATE TABLE zt (id BIGINT, x BIGINT, y BIGINT)")
    src = spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 7919) % 256).alias("y"),
    )
    src.createOrReplaceTempView("zsrc")
    eng.sql("INSERT INTO zt SELECT id, x, y FROM zsrc")
    before_sum = eng.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM zt").collect()[0]
    eng.sql("OPTIMIZE zt ZORDER BY (x, y)")
    after = eng.sql("SELECT SUM(id) AS s, COUNT(*) AS n FROM zt").collect()[0]
    assert (after.s, after.n) == (before_sum.s, before_sum.n)
    # Per-file tile check via input_file_name on the managed table.
    mt = eng.managed["zt"]
    spans = (
        mt.df()
        .select("x", "y", F.expr("input_file_name()").alias("f"))
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .collect()
    )
    assert len(spans) >= 8  # clustering produced multiple files
    # Global area is 255*255 = 65025; z-ordered files must cover small
    # tiles of the plane — BOTH dimensions constrained at once.  Range
    # boundaries come from sampling (seeded per plan, varies with session
    # history), so a boundary file may straddle two tiles; the mean is
    # the stable clustering metric, the max only bounds the straddle.
    areas = [r.xr * r.yr for r in spans]
    assert max(areas) <= 22_000, sorted(areas)[-3:]
    assert sum(areas) / len(areas) <= 6_500, sum(areas) / len(areas)
    # Rejections: partitioned table / unknown column.
    with pytest.raises(ValueError, match="unknown column"):
        eng.sql("OPTIMIZE zt ZORDER BY (nope)")
    eng.sql("DROP TABLE IF EXISTS zt")


def test_optimize_zorder_four_columns_sign_bit(spark, tmp_path):
    """Four-column ZORDER with the default bits=16 used to place the top
    interleaved bit at position 63 (the long sign bit); bits is now
    clamped to 63 // k so the z-value stays non-negative and range
    partitioning keeps a single monotone order.  Verify the max-corner
    row clusters with other high-value rows (last file), not at the
    negative end (first file)."""
    from pyspark.sql import functions as F

    from tidb_spark.engine import Engine

    eng = Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "z4ws"))
    eng.sql("DROP TABLE IF EXISTS z4")
    eng.sql("CREATE TABLE z4 (id BIGINT, a BIGINT, b BIGINT, c BIGINT, d BIGINT)")
    spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("a"),
        ((F.col("id") * 7919) % 64).alias("b"),
        ((F.col("id") * 104729) % 64).alias("c"),
        ((F.col("id") * 1299709) % 64).alias("d"),
    ).createOrReplaceTempView("z4src")
    eng.sql("INSERT INTO z4 SELECT * FROM z4src")
    eng.sql("OPTIMIZE z4 ZORDER BY (a, b, c, d)")
    mt = eng.managed["z4"]
    per_file = (
        mt.df()
        .select("a", F.expr("input_file_name()").alias("f"))
        .groupBy("f")
        .agg(F.min("a").alias("amn"), F.max("a").alias("amx"))
        .collect()
    )
    assert len(per_file) >= 8
    # Column `a` owns the MOST significant interleaved bits, so with a
    # monotone (non-sign-flipped) z-order its per-file ranges must tile:
    # mean span far below the global 0..63 range.  A sign-bit flip mixes
    # a-hi and a-lo rows into the straddle files and inflates this.
    spans = [r.amx - r.amn for r in per_file]
    assert sum(spans) / len(spans) <= 24, sorted(spans)
    eng.sql("DROP TABLE IF EXISTS z4")


# -- crash recovery: the commit ts is the commit point ---------------------

KV = "k BIGINT, v STRING"


def _crash_commit(t, rows):
    """The version's parquet is written; the crash comes before its ts."""
    with mock.patch.object(ManagedTable, "_commit", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            t.insert(rows)
    return False


def _crash_marker_commit(t, rows):
    """An empty version's schema file is written; the crash comes before
    its ts."""
    with mock.patch.object(ManagedTable, "_commit", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            t.delete(F.lit(True))
    return False


def _crash_marker_dir(t, rows):
    """An empty version's directory is made; its schema file is not."""
    os.makedirs(t._path(t._version + 1))
    return False


def _crash_ts_rename(t, rows):
    """The tmp ts is written; the crash comes before its rename."""
    with mock.patch.object(dml.os, "replace", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            t.insert(rows)
    assert os.path.exists(t._ts_path(t._version + 1) + ".tmp")
    return False


def _crash_before_gc(t, rows):
    """A commit's ts is in place; the crash comes before it retires the
    version that left the retention window."""
    with mock.patch.object(ManagedTable, "_retire", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            t.insert(rows)
    return True


def _crash_gc(t, rows):
    """A commit retires the oldest version: its ts is removed, the crash
    comes before its directory goes."""

    def ts_only(self, version):
        os.remove(self._ts_path(version))
        raise OSError("crash")

    with mock.patch.object(ManagedTable, "_retire", ts_only):
        with pytest.raises(OSError):
            t.insert(rows)
    return True


def _crash_spark_temporary(t, rows):
    """Spark's committer made the job's ``_temporary/`` and died."""
    os.makedirs(os.path.join(t._path(t._version + 1), "_temporary", "0"))
    return False


@pytest.mark.parametrize(
    "crash",
    [
        _crash_commit,
        _crash_marker_commit,
        _crash_marker_dir,
        _crash_ts_rename,
        _crash_before_gc,
        _crash_gc,
        _crash_spark_temporary,
    ],
    ids=lambda f: f.__name__[len("_crash_"):],
)
def test_reopen_after_crash(spark, tmp_path, crash):
    """A crash at any step of a write or of GC leaves the last committed
    version current on reopen: reads and AS OF agree with it, the next
    INSERT succeeds, and no uncommitted version directory nor version
    beyond the retention window is left."""
    root = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], schema=KV)
    t = ManagedTable(spark, root, ["k"], df=base, retain_versions=2)
    t.insert(spark.createDataFrame([(3, "c")], schema=KV))
    before = sorted(t.df().collect())
    rows = spark.createDataFrame([(4, "d")], schema=KV)
    committed = crash(t, rows)
    want = sorted(before + rows.collect()) if committed else before

    t2 = ManagedTable(spark, root, ["k"], retain_versions=2)
    assert sorted(t2.df().collect()) == want
    assert sorted(t2.as_of(time.time()).collect()) == want
    t2.insert(spark.createDataFrame([(5, "e")], schema=KV))
    assert t2.df().count() == len(want) + 1
    kept = {f"v{v}" for v, _ in t2.versions()}
    assert len(kept) == 2
    left = {n for n in os.listdir(root) if not n.endswith(".commit_ts")}
    assert left == kept


def test_failed_write_keeps_table_writable(spark, tmp_path):
    """A write whose Spark job fails (here a Python UDF that raises) removes
    its own version directory, so the same object's next INSERT succeeds
    instead of failing with PATH_ALREADY_EXISTS."""
    t = ManagedTable(
        spark, str(tmp_path / "t"), ["k"],
        df=spark.createDataFrame([(1, "a")], schema=KV),
    )

    @F.udf("string")
    def boom(v):
        raise RuntimeError("boom")

    bad = spark.createDataFrame([(2, "b")], schema=KV).withColumn("v", boom("v"))
    with pytest.raises(Exception, match="boom"):
        t.insert(bad)
    t.insert(spark.createDataFrame([(3, "c")], schema=KV))
    assert sorted(t.df().collect()) == [(1, "a"), (3, "c")]
    assert [v for v, _ in t.versions()] == [0, 1]


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"dml-jobs-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_job_counts(spark, tmp_path):
    """A version is read back with its stored schema, so the read after a
    write and after a reopen runs no inference job; an empty partitioned
    version needs no probe job before its one write job."""
    from tidb_spark.sqlshim.partition import PartitionSpec

    root = str(tmp_path / "t")
    t = ManagedTable(
        spark, root, ["k"], df=spark.createDataFrame([(1, "a")], schema=KV)
    )
    t.insert(spark.createDataFrame([(2, "b")], schema=KV))
    assert _jobs(spark, lambda: t.df().schema) == 0
    t2 = ManagedTable(spark, root, ["k"])
    assert _jobs(spark, lambda: t2.df().schema) == 0

    h = ManagedTable(
        spark, str(tmp_path / "h"), ["k"],
        df=spark.createDataFrame([(k, str(k)) for k in range(6)], schema=KV),
        partition_spec=PartitionSpec(method="HASH", expr="k", num=4),
    )
    h.df()
    # Not provably empty: the optimizer cannot fold ``k >= 0`` away.
    assert _jobs(spark, lambda: h.delete(F.col("k") >= 0)) == 1
    assert h.df().count() == 0
    assert h.df().columns == ["k", "v"]
