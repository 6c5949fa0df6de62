"""The traced run: each op split across the program's layers, from outside.

Wall-clock stamps around the calls into each layer give the op's build
(registry ``Query.spark`` or ``Engine.sql``), plan
(``queryExecution().executedPlan()``) and exec (consuming the result) spans.
Each op also gets its own Spark job group; after the op the listener bus is
drained and the application status store gives every job of the group and
the last attempt of each stage it ran.  Both work with the UI disabled.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

# StageData getters summed over the stages an op ran.
STAGE_SUMS = (
    "numTasks",
    "numFailedTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)
# Engine counters read from outside the engine; absent ones report null.
ENGINE_COUNTERS = (
    "_stmt_cache_hits",
    "_plan_cache_hits",
    "_plan_cache_misses",
    "_catalog_epoch",
)


def _seconds(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


class SparkFacts:
    def __init__(self, spark: SparkSession):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()  # noqa: SLF001
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def jobs(self, group: str) -> list[dict]:
        """Every job the group ran: its interval, skipped-stage count and
        the stage sums over the stages that ran."""
        self._bus.waitUntilEmpty()
        out = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            j = self._store.job(jid)
            job = {
                "job": jid,
                "start": _seconds(j.submissionTime()),
                "end": _seconds(j.completionTime()),
                "stages": 0,
                "skipped_stages": j.numSkippedStages(),
                **dict.fromkeys(STAGE_SUMS, 0),
            }
            ids = j.stageIds()
            for i in range(ids.length()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:
                    # A map stage an earlier job ran, since evicted from the
                    # store (spark.ui.retainedStages); this job skipped it.
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                for k in STAGE_SUMS:
                    job[k] += getattr(st, k)()
            out.append(job)
        return out


def engine_counters(engine) -> dict:
    return {n: getattr(engine, n, None) for n in ENGINE_COUNTERS}


def busy_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of the intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _ratio(num, den) -> float | None:
    if num is None or den is None:
        return None
    return num / den if den else 0.0


def layer_metrics(traced: list[dict], engine, before: dict, after: dict,
                  storage: dict, cores: int) -> dict:
    """Per-layer metrics of the traced window as {name: (value, unit)}.

    Times, counts and bytes are means per op unless the name says
    otherwise.  Metrics of a layer a workload does not use read 0; an
    engine counter the Engine no longer has reads null."""
    n = len(traced)
    per = 1 / n
    jobs = [j for r in traced for j in r["jobs"]]
    walls = sum(r["t3"] - r["t0"] for r in traced)

    def stage_sum(key: str, scale: float) -> float:
        return sum(j[key] for j in jobs) * scale * per

    def delta(name: str):
        if engine is None:
            return 0
        a, b = before[name], after[name]
        return None if a is None or b is None else b - a

    gap = sum(
        r["t3"] - r["t0"]
        - busy_union([(j["start"], j["end"]) for j in r["jobs"] if j["end"]],
                     r["t0"], r["t3"])
        for r in traced
    )
    writes = [r for r in traced if r["kind"] == "write"]
    reads = n - len(writes)
    plan_hits = delta("_plan_cache_hits")
    plan_misses = delta("_plan_cache_misses")
    changed_bytes = sum(r.get("rows_changed", 0) for r in writes) * (
        storage["live_bytes"] / storage["live_rows"] if storage else 0
    )
    build = sum(r["t1"] - r["t0"] for r in traced)

    def mean_ms(recs: list[dict]) -> float:
        return _ratio(sum(r["t3"] - r["t0"] for r in recs) * 1000, len(recs))

    return {
        "op.wall_ms": (walls * 1000 * per, "ms"),
        "op.build_ms": (build * 1000 * per, "ms"),
        "op.plan_ms": (sum(r["t2"] - r["t1"] for r in traced) * 1000 * per, "ms"),
        "op.exec_ms": (sum(r["t3"] - r["t2"] for r in traced) * 1000 * per, "ms"),
        # sql_session builds every op with Engine.sql and nothing else.
        "engine.sql_ms": (build * 1000 * per if engine is not None else 0.0, "ms"),
        "engine.stmt_cache_hit_ratio": (
            _ratio(delta("_stmt_cache_hits"), reads if engine is not None else 0),
            "ratio",
        ),
        "engine.plan_cache_hit_ratio": (
            _ratio(plan_hits, None if None in (plan_hits, plan_misses)
                   else plan_hits + plan_misses),
            "ratio",
        ),
        "engine.epoch_bumps": (delta("_catalog_epoch"), "count"),
        "dml.jobs_per_write": (
            _ratio(sum(len(r["jobs"]) for r in writes), len(writes)), "count"
        ),
        "dml.write_amp": (
            _ratio(sum(j["outputBytes"] for r in writes for j in r["jobs"]),
                   changed_bytes),
            "ratio",
        ),
        "dml.workspace_mb": (storage.get("workspace_bytes", 0) / 1e6, "MB"),
        # Bytes under the table's directory per byte of its live version.
        "space_amp": (
            _ratio(storage.get("workspace_bytes", 0), storage.get("live_bytes", 0)),
            "ratio",
        ),
        "read_mean_ms": (mean_ms([r for r in traced if r["kind"] == "read"]), "ms"),
        "write_mean_ms": (mean_ms(writes), "ms"),
        "exec.jobs_per_op": (len(jobs) * per, "count"),
        "exec.stages_per_op": (stage_sum("stages", 1), "count"),
        "exec.skipped_stages_per_op": (stage_sum("skipped_stages", 1), "count"),
        "exec.tasks_per_op": (stage_sum("numTasks", 1), "count"),
        "exec.driver_gap_ms": (gap * 1000 * per, "ms"),
        "exec.task_busy_s": (stage_sum("executorRunTime", 1e-3), "s"),
        "exec.task_cpu_s": (stage_sum("executorCpuTime", 1e-9), "s"),
        # Share of the host's cores that tasks kept busy over the op walls.
        "exec.core_util": (
            sum(j["executorRunTime"] for j in jobs) / 1000 / (walls * cores), "ratio"
        ),
        "exec.shuffle_read_mb": (stage_sum("shuffleReadBytes", 1e-6), "MB"),
        "exec.shuffle_write_mb": (stage_sum("shuffleWriteBytes", 1e-6), "MB"),
        "exec.input_mb": (stage_sum("inputBytes", 1e-6), "MB"),
        "exec.spill_mb": (stage_sum("diskBytesSpilled", 1e-6), "MB"),
        "exec.gc_s": (stage_sum("jvmGcTime", 1e-3), "s"),
        "exec.failed_tasks": (sum(j["numFailedTasks"] for j in jobs), "count"),
    }


def write_trace(path: str, traced: list[dict]) -> None:
    """Writes the span tree op -> build / plan / exec -> Spark job, and one
    row per op with its jobs."""
    spans = []
    for i, r in enumerate(traced):
        op_id = f"op{i}"
        spans.append({"id": op_id, "parent": None, "name": r["op"],
                      "start": r["t0"], "end": r["t3"]})
        phases = (("build", r["t0"]), ("plan", r["t1"]), ("exec", r["t2"]))
        ends = (r["t1"], r["t2"], r["t3"])
        for (name, start), end in zip(phases, ends):
            spans.append({"id": f"{op_id}.{name}", "parent": op_id,
                          "name": name, "start": start, "end": end})
        for j in r["jobs"]:
            # A job belongs to the last phase that began before it.
            phase = next((p for p, s in reversed(phases) if j["start"] >= s), "build")
            spans.append({"id": f"{op_id}.job{j['job']}",
                          "parent": f"{op_id}.{phase}", "name": "spark_job",
                          "start": j["start"], "end": j["end"], "attrs": j})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": spans, "ops": traced}, fh)
