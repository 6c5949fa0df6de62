"""DML over parquet-backed managed tables — the reference's write path
(Insert executor/insert.go:41, Replace executor/replace.go:38, Update
executor/update.go:39, Delete executor/delete.go:36) re-expressed as
copy-on-write DataFrame rewrites.

The reference mutates a row-oriented KV store per statement; the columnar
equivalent (SURVEY §1.1: our storage is parquet) is rewrite-on-write, which
is exactly what lakehouse formats do under MERGE/DELETE.  This class is the
log-less core of that: each statement computes the surviving + new rows as
one DataFrame and writes it as the next version, ``v<N>/`` under the table
root.  A version directory is self-describing: ``_schema.json`` (the
frame's StructType, so every read takes it instead of running a schema-
inference job) beside zero or more parquet files — none for an empty
version, which costs no Spark job.  The data is coalesced by the shared
width rule (``operators.width``) to one file per scan split of estimated
bytes; the rule only lowers the width, never shuffles.
The commit point is the file ``v<N>.commit_ts``, written to a tmp
file and renamed into place once the data is complete: the current version
is the newest one with a commit ts, so readers of an older version are
unaffected and a crash mid-write leaves the last committed version current.
GC retires a version's commit ts before its directory.  The model is a
single writer per table: opening a table sweeps what a crashed writer left
(version directories without a commit ts, tmp ts files), and a write that
fails in a live process removes its own directory.  A production
deployment layers Delta/Iceberg's transaction log on top for
concurrent-writer isolation.

Scale: every operation is a full-plan DataFrame (anti-join for keys, filter
for predicates) — shuffles only on the key columns, no driver-side rows.
Partition-pruned rewrites (only touched partitions) are the natural
optimization once a partition column is declared.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import json
import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tidb_spark.operators.width import estimated_bytes, split_bytes, tasks
from tidb_spark.sqlshim.create_table import TableDef
from tidb_spark.sqlshim.partition import PART_COL
from tidb_spark.sqlshim.translate import translate

_TS = ".commit_ts"  # v<N>.commit_ts: version N's commit point
# v<N>/_schema.json: version N's StructType.  Spark's file listing skips
# ``_``-prefixed names, so the parquet reader never sees it.
_SCHEMA = "_schema.json"

# Prefix under which merge()/upsert() expose the INCOMING row's columns to
# assignment expressions (the MySQL ``VALUES(col)`` binding,
# executor/insert.go:191-202); the old row's columns keep their plain names.
_NEW_PREFIX = "__new_"


def new_value(col: str) -> Column:
    """The incoming row's value of ``col`` inside a merge/upsert assignment —
    the DataFrame-API spelling of MySQL's ``VALUES(col)``."""
    return F.col(_NEW_PREFIX + col)


class ManagedTable:
    """A versioned parquet table supporting INSERT / REPLACE / UPDATE /
    DELETE.  ``key_cols`` plays the primary-key role REPLACE and point
    lookups need (the reference's handle / unique key)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: Sequence[str] = (),
        *,
        df: DataFrame | None = None,
        partition_by: list[str] | None = None,
        partition_spec=None,
        retain_versions: int = 8,
        table: TableDef | None = None,
        df_known_empty: bool = False,
    ):
        """``table`` is the table's record (``sqlshim.create_table``): its
        columns with what each declares, its key and its partition spec.
        Without one, it is built from ``df``'s schema (the stored one on
        reopen), ``key_cols`` and ``partition_spec``.

        ``partition_by`` declares directory partitioning — the columnar
        equivalent of the reference's RANGE/HASH/LIST table partitioning
        (parser/model/model.go:820-822): equality/range predicates on the
        partition columns prune whole directories at plan time (the
        rule_partition_processor.go analogue is Spark's native partition
        pruning + dynamic partition pruning for join keys).  A RANGE/HASH/
        LIST partition spec replaces it: every write computes the hidden
        ``__part`` label (codegen CASE/pmod) and directory-partitions on it.

        ``retain_versions`` bounds history kept for stale reads
        (:meth:`as_of`) — the GC-safepoint analogue of the reference's
        stale-read window."""
        self.spark = spark
        self.root = root
        self.retain_versions = max(1, retain_versions)
        os.makedirs(root, exist_ok=True)
        self._version = self._open()
        if table is None:
            struct = df.schema if df is not None else self._schema(self._version)
            fields = [f for f in struct if f.name != PART_COL]
            table = TableDef.from_schema(fields, key_cols, partition_spec)
        self.table = table
        self.partition_by = partition_by or []
        if table.partition_spec is not None:
            self.partition_by = [PART_COL]
        # Per-version DataFrame cache for df(): versions are immutable
        # (append-only + GC of OLD versions only), so the current
        # version's frame is the same plan every time — and one DML
        # statement asks for it repeatedly (the r12 profile showed 6
        # df() calls ≈ 0.23 s per INSERT, all py4j createDataFrame /
        # read.parquet overhead).  Invalidation is by version number.
        self._df_cache: tuple[int, DataFrame] | None = None
        # The version TRUNCATE replaced, for FLASHBACK.
        self._pre_truncate_version: int | None = None
        if df is not None and self._version < 0:
            self.write(df, known_empty=df_known_empty)

    @property
    def key_cols(self) -> tuple[str, ...]:
        return self.table.key_cols

    @property
    def partition_spec(self):
        return self.table.partition_spec

    def _apply_generated(self, rows: DataFrame) -> DataFrame:
        """Compute generated columns from their defining expressions,
        overwriting whatever arrived (the engine rejects explicit writes to
        generated columns before this point)."""
        for c in self.table.columns:
            if c.generated_expr and c.name in rows.columns:
                value = F.expr(translate(c.generated_expr)).cast(c.spark_type)
                rows = rows.withColumn(c.name, value)
        return rows

    def _fill_auto_increment(self, rows: DataFrame) -> DataFrame:
        """Assign ids where the AUTO_INCREMENT column is NULL or absent.

        The row_number window runs over the INSERT BATCH only (bounded by
        statement size, not table size) — the table itself never funnels
        through one partition."""
        col = next((c for c in self.table.columns if c.auto_increment), None)
        if col is None:
            return rows
        auto = col.name
        if auto not in rows.columns:
            rows = rows.withColumn(auto, F.lit(None).cast(col.spark_type))
        if rows.where(F.col(auto).isNull()).isEmpty():
            return rows
        # MySQL's counter advances past explicit values: a batch of
        # [explicit 12, NULL] on max=10 assigns 13, never 12.  So the base
        # is max(table, explicit-in-batch), and only NULL rows consume ids
        # (running count of NULLs, not whole-batch row_number — otherwise an
        # explicit row shifts the numbering into collision).
        start = self.df().agg(F.max(auto)).first()[0] or 0
        batch_max = rows.agg(F.max(auto)).first()[0]
        if batch_max is not None:
            start = max(start, batch_max)
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(F.monotonically_increasing_id())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        nth_null = F.sum(
            F.when(F.col(auto).isNull(), 1).otherwise(0)
        ).over(w)
        return rows.withColumn(
            auto,
            F.coalesce(F.col(auto), (F.lit(start) + nth_null).cast(col.spark_type)),
        )

    def _check_domains(self, rows: DataFrame, cols: set[str] | None = None) -> None:
        """Reject out-of-domain ENUM/SET values before any write lands —
        the strict-SQL-mode behavior of the reference (types/enum.go
        ParseEnumName errors, executor/insert writes abort).  ENUM: the
        value must be a member (or NULL).  SET: a comma-joined subset of
        members, '' allowed (the empty set)."""
        for d in self.table.columns:
            col, kind, vals = d.name, d.domain_kind, d.domain
            if not kind or col not in rows.columns or not (cols is None or col in cols):
                continue
            c = F.col(col)
            if kind == "enum":
                bad = c.isNotNull() & ~c.isin(*vals)
            else:
                bad = (
                    c.isNotNull()
                    & (c != "")
                    & F.exists(
                        F.split(c, ","), lambda v: ~v.isin(*vals)
                    )
                )
            offender = rows.where(bad).select(c.cast("string")).limit(1).collect()
            if offender:
                raise ValueError(
                    f"Incorrect {kind} value: {offender[0][0]!r} for column "
                    f"{col!r} (allowed: {', '.join(vals)})"
                )

    # -- storage: the version log (v<N>/ data, v<N>.commit_ts commit point) --

    def _path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def _ts_path(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}{_TS}")

    def _commit_ts(self, version: int) -> float:
        with open(self._ts_path(version)) as fh:
            return float(fh.read().strip())

    def _committed(self) -> list[int]:
        """Committed version numbers, oldest first."""
        nums = (n[1 : -len(_TS)] for n in os.listdir(self.root) if n.endswith(_TS))
        return sorted(int(n) for n in nums if n.isdigit())

    def _open(self) -> int:
        """The last committed version (-1 for a new table), after sweeping
        what a crashed writer left — version directories without a commit
        ts, tmp ts files — and versions beyond the retention window."""
        committed = self._committed()
        live = {f"v{v}" for v in committed}
        for name in os.listdir(self.root):
            path = os.path.join(self.root, name)
            if name.endswith(_TS + ".tmp"):
                os.remove(path)
            elif name.startswith("v") and name[1:].isdigit() and name not in live:
                shutil.rmtree(path, ignore_errors=True)
        for v in committed[: -self.retain_versions]:
            self._retire(v)
        return committed[-1] if committed else -1

    def _retire(self, version: int) -> None:
        """GC one version: the ts goes first, so a crash in between leaves
        an uncommitted directory that the next open sweeps.  A file that
        is already gone is no error: GC must not fail a committed write."""
        with contextlib.suppress(FileNotFoundError):
            os.remove(self._ts_path(version))
        shutil.rmtree(self._path(version), ignore_errors=True)

    def _commit(self, nxt: int) -> None:
        tmp = self._ts_path(nxt) + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(repr(time.time()))
        os.replace(tmp, self._ts_path(nxt))
        self._version = nxt
        # Retire the version that just left the retention window, as the
        # reference's GC safepoint bounds stale reads (older ones went at
        # earlier commits or at open).
        if nxt >= self.retain_versions:
            self._retire(nxt - self.retain_versions)

    def _width(self, df: DataFrame) -> int | None:
        """Files for ``df``'s version: 0 when the OPTIMIZER proves it empty
        (a LocalRelation with no rows — createDataFrame([], schema), or a
        plan constant-folded to empty), else one per scan split of the
        estimated bytes.  None when the size is unknown (a LogicalRDD), or
        past the JVM Int ``coalesce`` takes (a join estimates the product
        of its sides): the plan keeps its own width.  Driver-only: no job."""
        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            if plan.getClass().getSimpleName() == "LocalRelation":
                if plan.data().isEmpty():
                    return 0
            size = estimated_bytes(df)
            split = split_bytes(self.spark)
        except Exception:
            return None
        if size is None or (width := tasks(size, split)) >= 2**31 - 1:
            return None
        return width

    def write(
        self, df: DataFrame, *, known_empty: bool = False, table: TableDef | None = None
    ) -> None:
        """Commit ``df`` as the next version: the table's full new
        contents (copy-on-write), at the width :meth:`_width` sizes.  An
        empty version — declared by the caller (``known_empty``: CREATE
        TABLE / CREATE LIKE, where PySpark's createDataFrame([]) compiles
        to a LogicalRDD the optimizer cannot prove empty) or proved by the
        optimized plan — is its schema file alone, with no Spark job.

        ``table`` (ALTER TABLE) is a new record for the version: it labels
        the partitions, and replaces the table's record only once the
        version has committed."""
        table = table or self.table
        if table.partition_spec is not None:
            df = df.drop(PART_COL).withColumn(
                PART_COL, table.partition_spec.label_col()
            )
        self._put(df, 0 if known_empty else self._width(df))
        self.table = table

    def _put(self, df: DataFrame, width: int | None) -> None:
        """Write and commit ``v<N+1>/``: ``width`` parquet files (None: the
        plan's own partitioning), then the schema file, then the ts."""
        path = self._path(self._version + 1)
        try:
            if width == 0:
                # No exist_ok: a leftover same-numbered version directory
                # must fail loudly, matching the parquet path's errorifexists.
                os.makedirs(path)
            else:
                out = df if width is None else df.coalesce(width)
                writer = out.write.mode("errorifexists")
                if self.partition_by:
                    writer = writer.partitionBy(*self.partition_by)
                writer.parquet(path)
            with open(os.path.join(path, _SCHEMA), "w") as fh:
                json.dump(df.schema.jsonValue(), fh)
        except BaseException:
            # Single writer: nothing else owns v<N+1>/, and left behind it
            # would fail every later write on this object.
            shutil.rmtree(path, ignore_errors=True)
            raise
        self._commit(self._version + 1)

    def _schema(self, version: int) -> StructType:
        """Version ``version``'s stored StructType (empty before the first)."""
        if version < 0:
            return StructType()
        with open(os.path.join(self._path(version), _SCHEMA)) as fh:
            return StructType.fromJson(json.load(fh))

    def _read(self, version: int, parts: list[str] | None = None) -> DataFrame:
        """One version's rows, read with its stored schema (no inference
        job; no parquet files read as a zero-partition empty frame).  A
        partitioned table's hidden ``__part`` label is dropped — after
        the ``parts`` filter, so Spark turns that filter into a
        PartitionFilters entry and skips the other directories."""
        path = self._path(version)
        out = self.spark.read.schema(self._schema(version)).parquet(path)
        if self.partition_spec is None:
            return out
        if parts is not None:
            out = out.where(F.col(PART_COL).isin(list(parts)))
        return out.drop(PART_COL)

    def df(self) -> DataFrame:
        if self._version < 0:
            raise ValueError(f"table at {self.root} has no data")
        if self._df_cache is None or self._df_cache[0] != self._version:
            self._df_cache = (self._version, self._read(self._version))
        return self._df_cache[1]

    def parquet_path(self) -> str | None:
        """Directory holding the current version's parquet files, or None
        when it has none (no files for a catalog table to point at)."""
        path = self._path(self._version)
        names = (n for _, _, ns in os.walk(path) for n in ns)
        return path if any(n.endswith(".parquet") for n in names) else None

    # -- TRUNCATE / FLASHBACK TABLE (parser/ast/ddl.go:3859) ----------------

    def truncate(self) -> None:
        """Commit an empty version, remembering the one before it for
        :meth:`flashback`."""
        self._pre_truncate_version = self._version
        self.write(self.df().where(F.lit(False)))

    def flashback(self) -> bool:
        """Commit the pre-truncate rows as a new version.  False when the
        table was not truncated since its last flashback."""
        pre = self._pre_truncate_version
        if pre is None:
            return False
        self.write(self.read_version(pre))
        self._pre_truncate_version = None
        return True

    # -- partitioned scans (rule_partition_processor.go analogue) ----------

    def partitions(self) -> list[str]:
        """Declared partition names (RANGE/LIST order; HASH p0..p{n-1})."""
        if self.partition_spec is None:
            return []
        return self.partition_spec.partition_names()

    def scan_partitions(self, names: list[str]) -> DataFrame:
        """Scan only the named partitions — ``FROM t PARTITION (p0, p1)``."""
        if self.partition_spec is None:
            raise ValueError("table is not partitioned")
        known = set(self.partitions())
        unknown = [n for n in names if n not in known]
        if unknown:
            raise ValueError(f"Unknown partition {unknown[0]!r}")
        return self._read(self._version, names)

    # -- stale reads (AS OF TIMESTAMP — parser/ast/dml.go:276, the
    # reference's stale-read surface; executor/stale_txn_test.go:143) ------

    def versions(self) -> list[tuple[int, float]]:
        """Retained (version, commit epoch-seconds) pairs, oldest first."""
        return [(v, self._commit_ts(v)) for v in self._committed()]

    def read_version(self, version: int) -> DataFrame:
        """Read one retained version.

        GC window caveat (applies to :meth:`as_of` too): the returned
        DataFrame is lazy and pins only the version's PATH, not its files —
        if ``retain_versions`` subsequent writes land before an action runs,
        the version is garbage-collected and the action fails with a
        FileNotFound from Spark, exactly like the reference's "snapshot is
        older than GC safe point" once the safepoint advances.  Validation
        here catches the already-collected case with a clear error at
        plan time; long-held snapshots should be re-resolved (call again)
        or materialized (cache/write) before heavy subsequent DML."""
        if version not in self._committed():
            raise ValueError(
                f"version {version} of table at {self.root} is not retained "
                f"(retain_versions={self.retain_versions}); snapshot is "
                "older than the GC retention window"
            )
        return self._read(version)

    def as_of(self, ts: float | str | _dt.datetime) -> DataFrame:
        """The table as of wall-clock ``ts`` (epoch seconds, ISO string, or
        datetime): the newest retained version committed at or before it.
        Mirrors ``SELECT … FROM t AS OF TIMESTAMP '…'``; like the
        reference, a timestamp before retained history is an error (TiDB:
        "snapshot is older than GC safe point")."""
        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts = ts.timestamp()
        eligible = [v for v, cts in self.versions() if cts <= ts]
        if not eligible:
            raise ValueError(
                f"no retained version of table at {self.root} is as old as "
                f"{ts} (snapshot predates retained history)"
            )
        return self.read_version(max(eligible))

    # -- DML (executor/insert.go, replace.go, update.go, delete.go) --------

    def insert(self, rows: DataFrame) -> None:
        """INSERT: append (duplicate keys allowed, like a keyless insert;
        use replace() for the unique-key path)."""
        rows = self._fill_auto_increment(rows)
        rows = self._apply_generated(rows)
        self._check_domains(rows)
        self.write(self.df().unionByName(rows))

    def replace(self, rows: DataFrame) -> None:
        """REPLACE INTO: delete existing rows with matching keys, then
        insert — MySQL REPLACE semantics (executor/replace.go:38) as an
        anti-join + union."""
        rows = self._fill_auto_increment(rows)
        rows = self._apply_generated(rows)
        self._check_domains(rows)
        keys = list(self.key_cols)
        survivors = self.df().join(
            rows.select(*keys).distinct(), on=keys, how="left_anti"
        )
        self.write(survivors.unionByName(rows))

    def update(self, where: Column, assignments: dict[str, Column]) -> None:
        """UPDATE … SET col = expr WHERE …: rewrite matching rows via
        CASE-typed projection (one pass, no join)."""
        cur = self.df()
        updated = cur.select(
            *[
                F.when(where, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in cur.columns
            ]
        )
        updated = self._apply_generated(updated)
        self._check_domains(updated, cols=set(assignments))
        self.write(updated)

    def delete(self, where: Column) -> None:
        """DELETE WHERE …: keep the complement."""
        self.write(self.df().where(~where))

    def merge(
        self,
        source: DataFrame,
        *,
        when_matched_update: dict[str, Column | str] | None = None,
        when_matched_delete: Column | None = None,
        when_not_matched_insert: bool = True,
    ) -> None:
        """MERGE INTO (lakehouse-style), generalizing the reference's
        INSERT … ON DUPLICATE KEY UPDATE (executor/insert.go:43,79,191-202):
        one full-outer join on the key columns decides, per row, update /
        delete / insert / keep.

        Assignment expressions (and the delete condition) see the OLD row's
        columns by their plain names and the incoming row's via
        :func:`new_value` (``VALUES(col)`` in the SQL surface).  Source rows
        are deduplicated on the key (batch semantics: one outcome per key).

        Scale: exactly one shuffle on the key columns (the outer join); the
        per-row CASE projection is codegen'd — no driver-side rows, same
        plan shape at 100 TB."""
        cur = self.df()
        cols = cur.columns
        src = source.dropDuplicates(list(self.key_cols))
        # Align the source to the target schema (absent columns → NULL).
        aligned = src
        for f in cur.schema.fields:
            if f.name not in src.columns:
                aligned = aligned.withColumn(f.name, F.lit(None).cast(f.dataType))
        s = aligned.select(
            *[F.col(c).alias(_NEW_PREFIX + c) for c in cols],
            F.lit(True).alias("__s"),
        )
        t = cur.withColumn("__t", F.lit(True))
        cond = functools.reduce(
            Column.__and__,
            [
                F.col(k).eqNullSafe(F.col(_NEW_PREFIX + k))
                for k in self.key_cols
            ],
        )
        joined = t.join(s, cond, "full_outer")
        matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
        if not when_not_matched_insert:
            joined = joined.where(F.col("__t").isNotNull())
        if when_matched_delete is not None:
            joined = joined.where(
                ~F.coalesce(matched & when_matched_delete, F.lit(False))
            )
        upd = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in (when_matched_update or {}).items()
        }
        out = []
        for c in cols:
            old, new = F.col(c), F.col(_NEW_PREFIX + c)
            on_match = upd.get(c, old)
            out.append(
                F.when(matched, on_match)
                .when(F.col("__t").isNotNull(), old)
                .otherwise(new)
                .alias(c)
            )
        result = self._apply_generated(joined.select(*out))
        # Validate inserted + assignment-touched domain columns on the
        # merged frame (pre-existing rows were validated when written).
        touched = set(upd) | set(source.columns)
        self._check_domains(result, cols=touched)
        self.write(result)

    def upsert(
        self, rows: DataFrame, assignments: dict[str, Column | str] | None = None
    ) -> None:
        """INSERT … ON DUPLICATE KEY UPDATE (executor/insert.go:43): insert
        new-key rows; for existing keys apply ``assignments`` (default:
        overwrite every non-key column with the incoming value)."""
        if assignments is None:
            assignments = {
                c: new_value(c)
                for c in self.df().columns
                if c not in self.key_cols
            }
        self.merge(rows, when_matched_update=assignments)

    def insert_ignore(self, rows: DataFrame) -> None:
        """INSERT IGNORE: drop incoming rows whose key already exists
        (ast OnDuplicateKeyHandlingIgnore, parser/ast/dml.go:1784)."""
        self.merge(rows, when_matched_update=None)

    def point_get(self, key_values: dict) -> DataFrame:
        """PointGetExecutor (executor/point_get.go:75): unique-key lookup as
        a pushed-down filter — the scan prunes row groups on key min/max."""
        df = self.df()
        for col, val in key_values.items():
            df = df.where(df[col] == val)
        return df

    def batch_point_get(self, col: str, values: list) -> DataFrame:
        """BatchPointGetExec (executor/batch_point_get.go:46): IN-list
        lookup, pushed to the scan."""
        df = self.df()
        return df.where(df[col].isin(values))

    def optimize_zorder(
        self, cols: list[str], *, n_files: int = 16, bits: int = 16
    ) -> None:
        """Rewrite the table clustered by the Morton (Z-order) interleave
        of the given columns — the lakehouse OPTIMIZE ... ZORDER BY
        layout operation.  Multi-dimensional clustering makes parquet
        row-group min/max stats selective on EVERY zordered column at
        once, so pushed-down predicates on any of them skip most of the
        data — the 100 TB answer to "we filter on two keys but can only
        partition by one".

        Plan shape: one scalar min/max aggregate per column (broadcast,
        k rows), a codegen bit-interleave expression, one range
        repartition on the z-value (sampled range boundaries — the same
        machinery as a global sort, but producing ``n_files`` balanced
        files), an intra-partition sort, and a rewrite into the next
        version.  No driver materialization of data.

        Partitioned tables keep their layout contract; reject rather
        than silently flatten.
        """
        if self.partition_spec is not None or self.partition_by:
            raise ValueError(
                "OPTIMIZE ZORDER: not supported on a partitioned table "
                "(the partition layout is the clustering)"
            )
        if not cols or len(cols) > 4:
            raise ValueError("OPTIMIZE ZORDER: give 1-4 columns")
        df = self.df()
        for c in cols:
            if c not in df.columns:
                raise ValueError(f"OPTIMIZE ZORDER: unknown column {c!r}")
        stats = df.agg(
            *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(cols)],
            *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(cols)],
        ).collect()[0]
        k = len(cols)
        # The interleave must never reach bit 63 (the long sign bit): with
        # k columns the top interleaved position is (bits-1)*k + (k-1), so
        # clamp bits to 63 // k (e.g. 4 cols -> 15 bits, top position 62).
        bits = min(bits, 63 // k)
        top = (1 << bits) - 1
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            mn = float(stats[f"mn_{j}"])
            mx = float(stats[f"mx_{j}"])
            span = (mx - mn) or 1.0
            bucket = F.floor(
                (F.col(c).cast("double") - F.lit(mn)) * F.lit(top) / F.lit(span)
            ).cast("long")
            for i in range(bits):
                pos = i * k + (k - 1 - j)
                z = z + F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)), pos
                )
        clustered = (
            df.withColumn("__zorder", z)
            .repartitionByRange(n_files, F.col("__zorder"))
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )
        # Keep the n_files range partitions: the size rule would merge them.
        self._put(clustered, None)
