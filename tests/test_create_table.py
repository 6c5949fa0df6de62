"""SQL CREATE TABLE — incl. the fork's SOURCE KEY / DESTINATION KEY edge
DDL (parser/parser.y:8861-9002, ddl/ddl_api.go:1946-2025
handleEdgeOptions, executor/write_test.go:4254-4282)."""

from __future__ import annotations

import pytest

from tests.conftest import TEST_SF_DIR
from tidb_spark.sqlshim import create_table as ct


@pytest.fixture()
def engine(spark, tmp_path):
    from tidb_spark.engine import Engine

    return Engine(spark, TEST_SF_DIR, workspace=str(tmp_path / "ws"))


def test_parse_types_and_pk():
    stmt = ct.parse(
        "CREATE TABLE t (id BIGINT PRIMARY KEY, u BIGINT UNSIGNED, "
        "name VARCHAR(32) NOT NULL, bal DECIMAL(15,2), j JSON, b BLOB)"
    )
    assert stmt.name == "t" and stmt.pk_cols == ("id",)
    types = {c.name: c.spark_type for c in stmt.columns}
    assert types["u"] == "DECIMAL(20,0)"  # SURVEY §1.2 unsigned BIGINT
    assert types["name"] == "STRING" and types["bal"] == "DECIMAL(15,2)"
    assert types["j"] == "STRING" and types["b"] == "BINARY"
    assert next(c for c in stmt.columns if c.name == "name").not_null


def test_parse_edge_validation():
    # handleEdgeOptions error parity (ddl/ddl_api.go:1953-1985)
    with pytest.raises(ValueError, match="at the same time"):
        ct.parse("CREATE TABLE e (src BIGINT SOURCE KEY REFERENCES v)")
    with pytest.raises(ValueError, match="Only one column.*SOURCE"):
        ct.parse(
            "CREATE TABLE e (a BIGINT SOURCE KEY REFERENCES v, "
            "b BIGINT SOURCE KEY REFERENCES v, "
            "c BIGINT DESTINATION KEY REFERENCES v)"
        )
    with pytest.raises(ValueError, match="primary key on edge"):
        ct.parse(
            "CREATE TABLE e (src BIGINT SOURCE KEY REFERENCES v, "
            "dst BIGINT DESTINATION KEY REFERENCES v, PRIMARY KEY (src))"
        )
    # edge synthesizes the (src, dst) key and NOT NULL flags
    stmt = ct.parse(
        "CREATE TABLE e (src BIGINT SOURCE KEY REFERENCES v, "
        "dst BIGINT DESTINATION KEY REFERENCES v, w DOUBLE)"
    )
    assert stmt.is_edge and stmt.pk_cols == ("src", "dst")
    assert all(c.not_null for c in stmt.columns if c.name in ("src", "dst"))


def test_sql_create_vertex_and_edge_with_match(engine):
    """The write_test.go:4254 flow: create vertex + edge tables in SQL,
    insert rows, then a graph MATCH over the SQL-created tables."""
    engine.sql(
        "CREATE TABLE people1 (vertex_id BIGINT PRIMARY KEY, name VARCHAR(32))"
    )
    engine.sql(
        "INSERT INTO people1 VALUES (1,'bob'),(2,'jim'),(3,'jack')"
    )
    engine.sql(
        "CREATE TABLE f (src BIGINT SOURCE KEY REFERENCES people1, "
        "dst BIGINT DESTINATION KEY REFERENCES people1)"
    )
    engine.sql("INSERT INTO f VALUES (1,3),(3,2)")
    rows = engine.sql(
        "SELECT * FROM f WHERE src = 1 AND dst = 3"
    ).collect()
    assert len(rows) == 1

    got = engine.sql(
        "SELECT a.name AS src_name, b.name AS dst_name "
        "FROM MATCH (people1 AS a).OUT(f).(people1 AS b) "
        "ORDER BY src_name, dst_name"
    ).collect()
    assert [(r.src_name, r.dst_name) for r in got] == [
        ("bob", "jack"),
        ("jack", "jim"),
    ]

    # edge table rejects a second registration of the same name
    with pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE f (x BIGINT PRIMARY KEY)")
    # IF NOT EXISTS is a no-op
    engine.sql("CREATE TABLE IF NOT EXISTS f (x BIGINT PRIMARY KEY)")

    # unknown vertex reference fails like handleEdgeOptions
    with pytest.raises(Exception, match="(?i)vertex"):
        engine.sql(
            "CREATE TABLE g (src BIGINT SOURCE KEY REFERENCES nowhere, "
            "dst BIGINT DESTINATION KEY REFERENCES people1)"
        )


def test_show_create_round_trip(engine):
    engine.sql(
        "CREATE TABLE people2 (vertex_id BIGINT PRIMARY KEY, name VARCHAR(32))"
    )
    engine.sql(
        "CREATE TABLE knows (src BIGINT SOURCE KEY REFERENCES people2, "
        "dst BIGINT DESTINATION KEY REFERENCES people2, since DATE)"
    )
    ddl = engine.show_create_table("knows")
    assert "SOURCE KEY REFERENCES people2" in ddl
    assert "DESTINATION KEY REFERENCES people2" in ddl
    reparsed = ct.parse(ddl)
    assert reparsed.is_edge and reparsed.pk_cols == ("src", "dst")
    assert [c.name for c in reparsed.columns] == ["src", "dst", "since"]

    vddl = engine.show_create_table("people2")
    rp = ct.parse(vddl)
    assert rp.pk_cols == ("vertex_id",)

    # Each column's DEFAULT and COLLATE round-trip from the managed table.
    dc = (
        "CREATE TABLE people3 (id BIGINT PRIMARY KEY, note VARCHAR(20) "
        "DEFAULT 'none', n INT DEFAULT -5, "
        "nm VARCHAR(10) COLLATE utf8mb4_general_ci, "
        "tag VARCHAR(10) DEFAULT 'x' COLLATE utf8mb4_bin)"
    )
    engine.sql(dc)

    def semantics(ddl):
        return [(c.name, c.default_expr, c.collation) for c in ct.parse(ddl).columns]

    assert semantics(engine.show_create_table("people3")) == semantics(dc)

    # The whole record round-trips: ENUM domain, generated expression,
    # AUTO_INCREMENT, NOT NULL, key, DEFAULT, COLLATE and partitions.
    engine.sql(
        "CREATE TABLE people4 (id INT AUTO_INCREMENT PRIMARY KEY, "
        "sz ENUM('S','M'), b INT AS (id + 1), n VARCHAR(5) NOT NULL)"
    )
    engine.sql(
        "CREATE TABLE people5 (k INT, note VARCHAR(9) DEFAULT 'none', "
        "nm VARCHAR(10) COLLATE utf8mb4_general_ci) PARTITION BY RANGE (k) "
        "(PARTITION p0 VALUES LESS THAN (10), PARTITION p1 VALUES LESS THAN MAXVALUE)"
    )
    for t in ("people4", "people5"):
        assert ct.parse(engine.show_create_table(t)).table == engine.managed[t].table


def test_decimal_clamp_with_warning():
    """MySQL DECIMAL(65,30) exceeds Spark's max precision 38 → clamp with a
    warning, preserving the integral range (SURVEY §1.2)."""
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        stmt = ct.parse("CREATE TABLE t (x DECIMAL(65,30), y DECIMAL(20,6))")
    assert {c.name: c.spark_type for c in stmt.columns} == {
        "x": "DECIMAL(38,3)",
        "y": "DECIMAL(20,6)",
    }
    assert any("clamped" in str(x.message) for x in w)


def test_alter_table_columns(engine, spark):
    """ALTER TABLE ADD/DROP/RENAME COLUMN + RENAME TO are copy-on-write:
    each schema change lands as a new managed version."""
    engine.sql("CREATE TABLE alt1 (id BIGINT PRIMARY KEY, name VARCHAR(32))")
    engine.sql("INSERT INTO alt1 VALUES (1,'a'),(2,'b')")

    engine.sql("ALTER TABLE alt1 ADD COLUMN score INT DEFAULT 5")
    rows = {r.id: (r.name, r.score) for r in engine.sql("SELECT * FROM alt1").collect()}
    assert rows == {1: ("a", 5), 2: ("b", 5)}

    engine.sql("ALTER TABLE alt1 RENAME COLUMN score TO pts")
    assert "pts" in engine.sql("SELECT * FROM alt1").columns

    engine.sql("ALTER TABLE alt1 DROP COLUMN pts")
    assert engine.sql("SELECT * FROM alt1").columns == ["id", "name"]

    import pytest as _p

    with _p.raises(ValueError, match="key column"):
        engine.sql("ALTER TABLE alt1 DROP COLUMN id")

    engine.sql("ALTER TABLE alt1 RENAME TO alt2")
    assert engine.sql("SELECT COUNT(*) AS n FROM alt2").collect()[0].n == 2
    with _p.raises(Exception):
        engine.sql("SELECT * FROM alt1").collect()


def test_alter_table_graphify(engine):
    """The fork's ALTER graph-ify (ddl/ddl_api.go:2740-2764): paired
    MODIFY SOURCE KEY / DESTINATION KEY clauses turn an existing table
    into an edge table; a user PK on the table is rejected."""
    engine.sql("CREATE TABLE gv (vertex_id BIGINT PRIMARY KEY, nm VARCHAR(8))")
    engine.sql("INSERT INTO gv VALUES (1,'a'),(2,'b'),(3,'c')")
    engine.sql("CREATE TABLE ge (src BIGINT, dst BIGINT)")
    engine.sql("INSERT INTO ge VALUES (1,2),(2,3)")

    import pytest as _p

    # keyed table refuses graph-ify (edge tables may not carry a user PK)
    engine.sql("CREATE TABLE keyed (k BIGINT PRIMARY KEY, d BIGINT)")
    with _p.raises(ValueError, match="primary key on edge"):
        engine.sql(
            "ALTER TABLE keyed MODIFY k BIGINT SOURCE KEY REFERENCES gv, "
            "MODIFY d BIGINT DESTINATION KEY REFERENCES gv"
        )

    engine.sql(
        "ALTER TABLE ge MODIFY src BIGINT SOURCE KEY REFERENCES gv, "
        "MODIFY dst BIGINT DESTINATION KEY REFERENCES gv"
    )
    got = engine.sql(
        "SELECT a.nm AS s, b.nm AS d FROM MATCH (gv AS a).OUT(ge).(gv AS b) "
        "ORDER BY s"
    ).collect()
    assert [(r.s, r.d) for r in got] == [("a", "b"), ("b", "c")]


def test_enum_set_write_validation(engine):
    """SURVEY §1.2: ENUM/SET store as STRING with validity enforced at
    write (types/enum.go, types/set.go; strict-mode rejects like the
    reference's executor/insert abort)."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE shirts (id BIGINT PRIMARY KEY, "
        "size ENUM('S','M','L'), tags SET('red','green','blue'))"
    )
    engine.sql("INSERT INTO shirts VALUES (1, 'M', 'red,blue')")
    engine.sql("INSERT INTO shirts VALUES (2, NULL, '')")  # NULL / empty set ok
    rows = engine.sql("SELECT * FROM shirts ORDER BY id").collect()
    assert [(r.size, r.tags) for r in rows] == [("M", "red,blue"), (None, "")]

    with _pytest.raises(ValueError, match="Incorrect enum value"):
        engine.sql("INSERT INTO shirts VALUES (3, 'XL', 'red')")
    with _pytest.raises(ValueError, match="Incorrect set value"):
        engine.sql("INSERT INTO shirts VALUES (3, 'S', 'red,purple')")
    # UPDATE validates assigned domain columns too.
    with _pytest.raises(ValueError, match="Incorrect enum value"):
        engine.sql("UPDATE shirts SET size = 'HUGE' WHERE id = 1")
    # REPLACE goes through the same gate.
    with _pytest.raises(ValueError, match="Incorrect set value"):
        engine.sql("REPLACE INTO shirts VALUES (1, 'S', 'mauve')")
    # Nothing invalid landed.
    rows = engine.sql("SELECT * FROM shirts ORDER BY id").collect()
    assert len(rows) == 2 and rows[0].size == "M"

    # Duplicate ENUM members are rejected at DDL time.
    with _pytest.raises(ValueError, match="Duplicated value"):
        engine.sql("CREATE TABLE bad (id BIGINT, e ENUM('a','a'))")


def test_decimal_clamp_warns(engine):
    """DECIMAL(65,30) exceeds Spark's 38-digit cap: DDL clamps with a
    warning, preserving the integral range (SURVEY §1.2/§7)."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        engine.sql("CREATE TABLE money (id BIGINT PRIMARY KEY, v DECIMAL(65,30))")
    msgs = [str(w.message) for w in caught]
    assert any("clamped to DECIMAL(38,3)" in m for m in msgs), msgs
    typ = dict(engine.tables["money"].dtypes)["v"]
    assert typ == "decimal(38,3)", typ


def test_generated_columns(engine):
    """Generated columns (parser/model/model.go:111 GeneratedExprString):
    computed from sibling columns on every write path, explicit writes
    rejected (ddl ErrBadGeneratedColumn), recomputed when base columns
    change."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE people (id BIGINT PRIMARY KEY, "
        "first VARCHAR(20), last VARCHAR(20), "
        "full VARCHAR(41) GENERATED ALWAYS AS (CONCAT(first, ' ', last)) STORED, "
        "last_len INT AS (CHAR_LENGTH(last)) VIRTUAL)"
    )
    # Bare VALUES bind to the non-generated columns.
    engine.sql("INSERT INTO people VALUES (1, 'Ada', 'Lovelace')")
    engine.sql("INSERT INTO people (id, first, last) VALUES (2, 'Alan', 'Turing')")
    rows = engine.sql("SELECT * FROM people ORDER BY id").collect()
    assert [(r.full, r.last_len) for r in rows] == [
        ("Ada Lovelace", 8),
        ("Alan Turing", 6),
    ]
    # Explicit writes to generated columns are rejected.
    with _pytest.raises(ValueError, match="generated column"):
        engine.sql("INSERT INTO people (id, first, last, full) "
                   "VALUES (3, 'X', 'Y', 'nope')")
    with _pytest.raises(ValueError, match="generated column"):
        engine.sql("UPDATE people SET full = 'nope' WHERE id = 1")
    # Updates to base columns recompute the generated ones.
    engine.sql("UPDATE people SET last = 'Byron' WHERE id = 1")
    r = engine.sql("SELECT full, last_len FROM people WHERE id = 1").collect()[0]
    assert (r.full, r.last_len) == ("Ada Byron", 5)
    # REPLACE recomputes too.
    engine.sql("REPLACE INTO people (id, first, last) VALUES (2, 'A', 'T')")
    r = engine.sql("SELECT full FROM people WHERE id = 2").collect()[0]
    assert r.full == "A T"


@pytest.mark.parametrize(
    "ddl, want",
    [
        (
            "CREATE TABLE g3 (a VARCHAR(10), "
            "b VARCHAR(20) AS (CONCAT(a, ')')) STORED, c INT)",
            "x)",
        ),
        (
            "CREATE TABLE g3 (a VARCHAR(10), "
            "b VARCHAR(20) AS (CONCAT(a, '(')) STORED, c INT)",
            "x(",
        ),
    ],
)
def test_generated_expr_paren_in_literal(engine, ddl, want):
    """A paren inside a string literal of a generated-column expression is
    text: the expression ends at its own closing paren, so CREATE stores
    the whole expression and INSERT evaluates it."""
    engine.sql(ddl)
    engine.sql("INSERT INTO g3 VALUES ('x', 1)")
    r = engine.sql("SELECT a, b, c FROM g3").collect()[0]
    assert (r.a, r.b, r.c) == ("x", want, 1)


def test_auto_increment(engine):
    """AUTO_INCREMENT (ddl/ddl_api.go:2463 handleAutoIncID): NULL/omitted
    values get sequential ids continuing from MAX(col); explicit values
    pass through; only one auto column allowed, integral only."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE seq (id BIGINT AUTO_INCREMENT PRIMARY KEY, "
        "name VARCHAR(10))"
    )
    engine.sql("INSERT INTO seq (name) VALUES ('a'), ('b')")
    engine.sql("INSERT INTO seq VALUES (NULL, 'c')")
    engine.sql("INSERT INTO seq VALUES (100, 'x')")  # explicit id honored
    engine.sql("INSERT INTO seq (name) VALUES ('d')")  # continues past max
    rows = engine.sql("SELECT id, name FROM seq ORDER BY id").collect()
    ids = [r.id for r in rows]
    assert ids[:3] == [1, 2, 3] and 100 in ids and max(ids) == 101, ids
    names = {r.id: r.name for r in rows}
    assert names[100] == "x" and names[101] == "d"

    with _pytest.raises(ValueError, match="only one auto column"):
        engine.sql(
            "CREATE TABLE bad2 (a INT AUTO_INCREMENT, b INT AUTO_INCREMENT)"
        )
    with _pytest.raises(ValueError, match="integer"):
        engine.sql("CREATE TABLE bad3 (a VARCHAR(5) AUTO_INCREMENT)")


def test_information_schema(engine):
    """INFORMATION_SCHEMA.TABLES / .COLUMNS (executor/infoschema_reader.go)
    as queryable relations reflecting live catalog state, views included."""
    tabs = {
        r.TABLE_NAME
        for r in engine.sql(
            "SELECT TABLE_NAME FROM information_schema.tables "
            "WHERE TABLE_TYPE = 'BASE TABLE'"
        ).collect()
    }
    assert {"nation", "region", "orders", "lineitem"} <= tabs
    cols = engine.sql(
        "SELECT COLUMN_NAME, DATA_TYPE, ORDINAL_POSITION "
        "FROM information_schema.columns WHERE TABLE_NAME = 'nation' "
        "ORDER BY ORDINAL_POSITION"
    ).collect()
    assert [c.COLUMN_NAME for c in cols][:2] == ["n_nationkey", "n_name"]
    # DDL is visible on the next read; views are typed VIEW.
    engine.sql("CREATE TABLE is_t (id BIGINT PRIMARY KEY)")
    engine.sql("CREATE VIEW is_v AS SELECT 1 AS one")
    kinds = {
        r.TABLE_NAME: r.TABLE_TYPE
        for r in engine.sql(
            "SELECT TABLE_NAME, TABLE_TYPE FROM information_schema.tables"
        ).collect()
    }
    assert kinds.get("is_t") == "BASE TABLE" and kinds.get("is_v") == "VIEW"


def test_default_values(engine):
    """DEFAULT column values (ast ColumnOptionDefaultValue): omitted columns
    take their declared default; explicit NULL stays NULL; CURRENT_TIMESTAMP
    evaluates at insert time."""
    engine.sql(
        "CREATE TABLE dft (id BIGINT PRIMARY KEY, "
        "status VARCHAR(10) DEFAULT 'new', n INT DEFAULT 7, "
        "note VARCHAR(20), created TIMESTAMP DEFAULT CURRENT_TIMESTAMP)"
    )
    engine.sql("INSERT INTO dft (id) VALUES (1)")
    engine.sql("INSERT INTO dft (id, status, n) VALUES (2, 'old', NULL)")
    rows = {r.id: r for r in engine.sql("SELECT * FROM dft").collect()}
    assert rows[1].status == "new" and rows[1].n == 7 and rows[1].note is None
    assert rows[1].created is not None
    # Explicitly-provided values (including NULL) win over the default.
    assert rows[2].status == "old" and rows[2].n is None


def test_auto_increment_mixed_batch(engine):
    """MySQL's counter advances past explicit ids within one statement: on
    max=10, VALUES (12, …), (NULL, …) assigns 13 to the NULL row — never a
    collision with the explicit 12 (executor/insert.go adjustAutoIncrement)."""
    engine.sql(
        "CREATE TABLE mixseq (id BIGINT AUTO_INCREMENT PRIMARY KEY, "
        "name VARCHAR(10))"
    )
    engine.sql("INSERT INTO mixseq VALUES (10, 'base')")
    engine.sql("INSERT INTO mixseq VALUES (12, 'explicit'), (NULL, 'auto')")
    rows = {r.name: r.id for r in engine.sql("SELECT * FROM mixseq").collect()}
    assert rows == {"base": 10, "explicit": 12, "auto": 13}, rows
    # Two NULLs around an explicit id: both numbered past it, in order.
    engine.sql("INSERT INTO mixseq VALUES (NULL, 'a'), (20, 'e2'), (NULL, 'b')")
    rows = {r.name: r.id for r in engine.sql("SELECT * FROM mixseq").collect()}
    assert rows["e2"] == 20 and {rows["a"], rows["b"]} == {21, 22}, rows


def test_insert_select_generated_columns(engine):
    """INSERT … SELECT into a table with generated columns: the SELECT binds
    the non-generated columns (values recomputed on write); a SELECT wide
    enough to supply the generated columns raises ErrBadGeneratedColumn."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE gsrc (id BIGINT PRIMARY KEY, a VARCHAR(10), b VARCHAR(10), "
        "ab VARCHAR(21) AS (CONCAT(a, b)) STORED)"
    )
    engine.sql(
        "INSERT INTO gsrc SELECT n_nationkey, n_name, n_name FROM nation "
        "WHERE n_nationkey < 2"
    )
    rows = engine.sql("SELECT * FROM gsrc ORDER BY id").collect()
    assert len(rows) == 2 and all(r.ab == r.a + r.b for r in rows)
    with _pytest.raises(ValueError, match="generated column"):
        engine.sql(
            "INSERT INTO gsrc SELECT n_nationkey + 10, n_name, n_name, 'nope' "
            "FROM nation WHERE n_nationkey < 1"
        )
    engine.sql("DROP TABLE gsrc")


def test_ctas_and_create_like(engine):
    """CREATE TABLE AS SELECT (schema inferred, populated in-statement,
    keyless like MySQL CTAS) and CREATE TABLE LIKE (full clone of keys /
    domains / generated / AUTO_INCREMENT / DEFAULTs, empty)."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE nation_top AS "
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5"
    )
    rows = engine.sql("SELECT * FROM nation_top ORDER BY n_nationkey").collect()
    assert len(rows) == 5 and rows[0].n_name is not None
    engine.sql("INSERT INTO nation_top VALUES (99, 'NEW')")
    assert engine.sql("SELECT COUNT(*) AS n FROM nation_top").collect()[0].n == 6
    with _pytest.raises(ValueError, match="already exists"):
        engine.sql("CREATE TABLE nation_top AS SELECT 1 AS x")
    engine.sql("CREATE TABLE IF NOT EXISTS nation_top AS SELECT 1 AS x")  # no-op

    engine.sql(
        "CREATE TABLE proto (id BIGINT AUTO_INCREMENT PRIMARY KEY, "
        "kind ENUM('a','b'), note VARCHAR(20) DEFAULT 'none', "
        "kind2 VARCHAR(3) AS (UPPER(kind)) STORED)"
    )
    engine.sql("CREATE TABLE clone LIKE proto")
    assert engine.sql("SELECT COUNT(*) AS n FROM clone").collect()[0].n == 0
    # Clone inherits AUTO_INCREMENT, DEFAULT, generated, ENUM domain.
    engine.sql("INSERT INTO clone (kind) VALUES ('a')")
    r = engine.sql("SELECT * FROM clone").collect()[0]
    assert (r.id, r.kind, r.note, r.kind2) == (1, "a", "none", "A")
    with _pytest.raises(ValueError):
        engine.sql("INSERT INTO clone (kind) VALUES ('zzz')")  # domain
    with _pytest.raises(ValueError, match="unknown table"):
        engine.sql("CREATE TABLE ghost_clone LIKE no_such_table")
    # LIKE from a read-only base table: schema-only clone, writable.
    engine.sql("CREATE TABLE region_clone LIKE region")
    engine.sql("INSERT INTO region_clone SELECT * FROM region")
    assert engine.sql("SELECT COUNT(*) AS n FROM region_clone").collect()[0].n == 5
    for t in ("nation_top", "proto", "clone", "region_clone"):
        engine.sql(f"DROP TABLE {t}")


def test_insert_column_list_select_and_set(engine):
    """INSERT INTO t (cols) SELECT … (listed columns bind positionally,
    rest take DEFAULT) and the MySQL INSERT … SET single-row form."""
    import pytest as _pytest

    engine.sql(
        "CREATE TABLE tgt (id BIGINT PRIMARY KEY, name VARCHAR(30), "
        "score INT DEFAULT 7)"
    )
    engine.sql(
        "INSERT INTO tgt (id, name) "
        "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 3"
    )
    rows = engine.sql("SELECT * FROM tgt ORDER BY id").collect()
    assert len(rows) == 3 and all(r.score == 7 for r in rows)
    engine.sql("INSERT INTO tgt SET id = 50, name = CONCAT('x', 'y')")
    r = engine.sql("SELECT * FROM tgt WHERE id = 50").collect()[0]
    assert (r.name, r.score) == ("xy", 7)
    with _pytest.raises(ValueError, match="Column count"):
        engine.sql("INSERT INTO tgt (id, name) SELECT 1")
    with _pytest.raises(ValueError, match="Unknown column"):
        engine.sql("INSERT INTO tgt (id, nope) SELECT 1, 2")
    engine.sql("DROP TABLE tgt")


_CI = "COLLATE utf8mb4_general_ci"
_RANGE = (
    "PARTITION BY RANGE (k) (PARTITION p0 VALUES LESS THAN (10), "
    "PARTITION p1 VALUES LESS THAN (20))"
)

# (setup statements, probe statement, expected rows or a ValueError match).
# A managed table carries its column semantics through DROP, FLASHBACK,
# RENAME, LIKE and ALTER; tables and views share one namespace; a view over
# a dropped or renamed table fails loudly (MySQL ERROR 1356).
_CATALOG_CASES = {
    "collation_survives_drop_flashback": (
        [
            f"CREATE TABLE own_t1 (k BIGINT, name VARCHAR(10) {_CI})",
            "INSERT INTO own_t1 VALUES (1, 'Abc')",
            "DROP TABLE own_t1",
            "FLASHBACK TABLE own_t1",
        ],
        "SELECT k FROM own_t1 WHERE name = 'abc'",
        [(1,)],
    ),
    "collation_follows_rename_table": (
        [
            f"CREATE TABLE own_t2 (k BIGINT, name VARCHAR(10) {_CI})",
            "INSERT INTO own_t2 VALUES (1, 'Abc')",
            "RENAME TABLE own_t2 TO own_t2b",
        ],
        "SELECT k FROM own_t2b WHERE name = 'abc'",
        [(1,)],
    ),
    "collation_leaves_old_name": (
        [
            f"CREATE TABLE own_t5 (k BIGINT, name VARCHAR(10) {_CI})",
            "RENAME TABLE own_t5 TO own_t5b",
            "CREATE TABLE own_t5 (k BIGINT, name VARCHAR(10))",
            "INSERT INTO own_t5 VALUES (1, 'Abc')",
        ],
        "SELECT k FROM own_t5 WHERE name = 'abc'",
        [],
    ),
    "default_dropped_with_table": (
        [
            "CREATE TABLE own_t3 (a BIGINT, b BIGINT DEFAULT 7)",
            "DROP TABLE own_t3",
            "CREATE TABLE own_t3 AS SELECT 1 AS a, 2 AS b",
            "INSERT INTO own_t3 (a) VALUES (5)",
        ],
        "SELECT b FROM own_t3 WHERE a = 5",
        [(None,)],
    ),
    "default_follows_alter_rename": (
        [
            "CREATE TABLE own_t4 (a BIGINT, b BIGINT DEFAULT 7)",
            "ALTER TABLE own_t4 RENAME TO own_t4b",
            "INSERT INTO own_t4b (a) VALUES (5)",
        ],
        "SELECT b FROM own_t4b",
        [(7,)],
    ),
    "add_column_records_default": (
        [
            "CREATE TABLE own_a1 (id BIGINT, name VARCHAR(8))",
            "INSERT INTO own_a1 VALUES (1, 'x')",
            "ALTER TABLE own_a1 ADD COLUMN score INT DEFAULT 5",
            "INSERT INTO own_a1 (id, name) VALUES (2, 'y')",
        ],
        "SELECT id, score FROM own_a1 ORDER BY id",
        [(1, 5), (2, 5)],
    ),
    "rename_column_keeps_collation": (
        [
            f"CREATE TABLE own_a2 (k BIGINT, nm VARCHAR(10) {_CI})",
            "INSERT INTO own_a2 VALUES (1, 'Abc')",
            "ALTER TABLE own_a2 RENAME COLUMN nm TO nm2",
        ],
        "SELECT k FROM own_a2 WHERE nm2 = 'abc'",
        [(1,)],
    ),
    "rename_column_keeps_default": (
        [
            "CREATE TABLE own_a3 (a BIGINT, s BIGINT DEFAULT 3)",
            "ALTER TABLE own_a3 RENAME COLUMN s TO s2",
            "INSERT INTO own_a3 (a) VALUES (1)",
        ],
        "SELECT s2 FROM own_a3",
        [(3,)],
    ),
    "create_table_over_view": (
        ["CREATE VIEW own_vv AS SELECT 1 AS a"],
        "CREATE TABLE own_vv (a BIGINT)",
        "already exists",
    ),
    "rename_onto_view": (
        [
            "CREATE TABLE own_ta (a BIGINT)",
            "CREATE VIEW own_vb AS SELECT 1 AS a",
        ],
        "ALTER TABLE own_ta RENAME TO own_vb",
        "already exists",
    ),
    "flashback_onto_live_table": (
        [
            "CREATE TABLE own_tc (a BIGINT)",
            "CREATE TABLE own_td (a BIGINT)",
            "DROP TABLE own_tc",
        ],
        "FLASHBACK TABLE own_tc TO own_td",
        "already exists",
    ),
    "rename_onto_dataset_table": (
        [],
        "ALTER TABLE region RENAME TO nation",
        "already exists",
    ),
    "rename_column_keeps_domain": (
        [
            "CREATE TABLE own_fe (k INT PRIMARY KEY, sz ENUM('S','M'))",
            "ALTER TABLE own_fe RENAME COLUMN sz TO sz2",
        ],
        "INSERT INTO own_fe VALUES (2, 'XL')",
        "Incorrect enum value",
    ),
    "drop_column_drops_domain": (
        [
            "CREATE TABLE own_fd (k INT PRIMARY KEY, sz ENUM('S','M'))",
            "ALTER TABLE own_fd DROP COLUMN sz",
            "ALTER TABLE own_fd ADD COLUMN sz VARCHAR(5)",
            "INSERT INTO own_fd VALUES (1, 'XL')",
        ],
        "SELECT sz FROM own_fd",
        [("XL",)],
    ),
    "add_column_records_domain": (
        [
            "CREATE TABLE own_fx (k INT PRIMARY KEY)",
            "ALTER TABLE own_fx ADD COLUMN sz ENUM('S','M')",
        ],
        "INSERT INTO own_fx VALUES (1, 'XL')",
        "Incorrect enum value",
    ),
    "add_generated_column_fills_rows": (
        [
            "CREATE TABLE own_fy (a INT)",
            "INSERT INTO own_fy VALUES (1), (5)",
            "ALTER TABLE own_fy ADD COLUMN b INT AS (a + 1)",
        ],
        "SELECT a, b FROM own_fy ORDER BY a",
        [(1, 2), (5, 6)],
    ),
    "rename_column_keeps_generated": (
        [
            "CREATE TABLE own_fg (a INT, b INT AS (a + 1))",
            "ALTER TABLE own_fg RENAME COLUMN b TO b2",
            "INSERT INTO own_fg (a) VALUES (1)",
        ],
        "SELECT b2 FROM own_fg",
        [(2,)],
    ),
    "generated_source_pinned": (
        ["CREATE TABLE own_fh (a INT, b INT AS (a + 1))"],
        "ALTER TABLE own_fh RENAME COLUMN a TO a2",
        "generated column dependency",
    ),
    "rename_column_keeps_auto_increment": (
        [
            "CREATE TABLE own_fi (id INT AUTO_INCREMENT PRIMARY KEY, n VARCHAR(5))",
            "ALTER TABLE own_fi RENAME COLUMN id TO id2",
            "INSERT INTO own_fi (n) VALUES ('a')",
        ],
        "SELECT id2, n FROM own_fi",
        [(1, "a")],
    ),
    "partition_column_pinned": (
        [f"CREATE TABLE own_fk (k INT, v INT) {_RANGE}"],
        "ALTER TABLE own_fk DROP COLUMN k",
        "partitioning function dependency",
    ),
    "like_clone_keeps_own_partitions": (
        [
            f"CREATE TABLE own_fp (k INT) {_RANGE}",
            "CREATE TABLE own_fp2 LIKE own_fp",
            "ALTER TABLE own_fp ADD PARTITION (PARTITION p2 VALUES LESS THAN (30))",
        ],
        "SELECT k FROM own_fp2 PARTITION (p2)",
        "Unknown partition",
    ),
    "view_invalid_after_drop": (
        [
            "CREATE TABLE own_dv (a INT)",
            "INSERT INTO own_dv VALUES (1)",
            "CREATE VIEW own_dvv AS SELECT COUNT(*) AS n FROM own_dv",
            "DROP TABLE own_dv",
        ],
        "SELECT n FROM own_dvv",
        "references invalid table",
    ),
    "view_invalid_after_rename": (
        [
            "CREATE TABLE own_fv (a INT)",
            "INSERT INTO own_fv VALUES (1)",
            "CREATE VIEW own_fvv AS SELECT COUNT(*) AS n FROM own_fv",
            "RENAME TABLE own_fv TO own_fv2",
        ],
        "SELECT n FROM own_fvv",
        "references invalid table",
    ),
}


@pytest.mark.parametrize(
    "setup, probe, want", _CATALOG_CASES.values(), ids=_CATALOG_CASES.keys()
)
def test_table_owns_semantics_and_name(engine, setup, probe, want):
    for stmt in setup:
        engine.sql(stmt)
    if isinstance(want, str):
        with pytest.raises(ValueError, match=want):
            engine.sql(probe)
    else:
        assert [tuple(r) for r in engine.sql(probe).collect()] == want


def test_graph_registration_follows_table(engine):
    """DROP retires an edge table's graph registration and a same-name
    FLASHBACK restores it; a graph table cannot be renamed, because edges
    reference tables by name."""
    engine.sql("CREATE TABLE own_pv (vertex_id BIGINT PRIMARY KEY, nm VARCHAR(8))")
    engine.sql("INSERT INTO own_pv VALUES (1, 'a'), (2, 'b')")
    engine.sql(
        "CREATE TABLE own_pe (src BIGINT SOURCE KEY REFERENCES own_pv, "
        "dst BIGINT DESTINATION KEY REFERENCES own_pv)"
    )
    engine.sql("INSERT INTO own_pe VALUES (1, 2)")
    match = (
        "SELECT a.nm AS s, b.nm AS d "
        "FROM MATCH (own_pv AS a).OUT(own_pe).(own_pv AS b)"
    )
    assert [tuple(r) for r in engine.sql(match).collect()] == [("a", "b")]

    engine.sql("DROP TABLE own_pe")
    assert "own_pe" not in engine.graph.edges
    engine.sql("FLASHBACK TABLE own_pe")
    assert [tuple(r) for r in engine.sql(match).collect()] == [("a", "b")]

    for stmt in (
        "RENAME TABLE own_pe TO own_pe2",
        "ALTER TABLE own_pv RENAME TO own_pv2",
    ):
        with pytest.raises(ValueError, match="graph vertex or edge table"):
            engine.sql(stmt)
    engine.sql("DROP TABLE own_pe")
    with pytest.raises(ValueError, match="graph vertex or edge table"):
        engine.sql("FLASHBACK TABLE own_pe TO own_pe2")
