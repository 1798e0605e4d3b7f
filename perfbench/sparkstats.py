"""Read Spark's job, stage, storage and SQL status stores from outside.

Everything here works with the UI disabled: the stores are fed by the
status listener Spark always installs.  Calls go through py4j and cost
about a millisecond each, so they run after the timed work, never
inside it.
"""

from __future__ import annotations

import re
import statistics

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")

STAGE_FIELDS = (
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "input_mb", "spill_mb", "straggler_s",
)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Stats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    # -- jobs -----------------------------------------------------------
    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def all_jobs(self) -> list[dict]:
        """Every retained job: id, submit/complete epoch seconds, stage ids."""
        out = []
        for j in _seq(self.store.jobsList(None)):
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({
                "id": j.jobId(),
                "submit": sub.getTime() / 1000.0 if sub is not None else None,
                "done": done.getTime() / 1000.0 if done is not None else None,
            })
        return sorted(out, key=lambda r: r["id"])

    def job_submit(self, job_id: int) -> float | None:
        sub = _opt(self.store.job(job_id).submissionTime())
        return sub.getTime() / 1000.0 if sub is not None else None

    # -- stages ---------------------------------------------------------
    def stage_totals(self, job_ids) -> dict:
        """Executor-layer totals over the stages the given jobs ran."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        seen = set()
        for jid in job_ids:
            try:
                stage_ids = _seq(self.store.job(jid).stageIds())
            except Py4JJavaError:  # evicted from the store
                continue
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["task_run_s"] += st.executorRunTime() / 1000.0
                tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["gc_s"] += st.jvmGcTime() / 1000.0
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                tot["input_mb"] += st.inputBytes() / MB
                tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
                tot["straggler_s"] += self._straggler(sid, st.attemptId())
        return tot

    def _straggler(self, sid: int, attempt: int) -> float:
        """Slowest task minus median task of one stage, in seconds."""
        try:
            d = _opt(self.store.taskSummary(sid, attempt, self._quantiles))
        except Py4JJavaError:
            return 0.0
        if d is None:
            return 0.0
        run = _seq(d.executorRunTime())
        return max(0.0, (run[1] - run[0]) / 1000.0)

    # -- storage --------------------------------------------------------
    def cached(self) -> tuple[float, int]:
        """(MB of cached blocks held in memory, number of persisted RDDs)."""
        n = self.sc._jsc.getPersistentRDDs().size()
        mem = sum(info.memSize() for info in self.sc._jsc.sc().getRDDStorageInfo())
        return mem / MB, int(n)

    # -- SQL ------------------------------------------------------------
    def python_data_mb(self, min_execution_id: int = 0) -> float:
        """Bytes moved across the Arrow/Python UDF boundary, both ways."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0.0
        for ex in _seq(sql.executionsList()):
            eid = ex.executionId()
            if eid < min_execution_id:
                continue
            ids = [m.accumulatorId() for m in _seq(ex.metrics()) if m.name() in _PY_METRICS]
            if not ids:
                continue
            vals = sql.executionMetrics(eid)
            for a in ids:
                s = vals.get(a)
                if s.isDefined():
                    total += parse_size(s.get())
        return total / MB

    def last_execution_id(self) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        ids = [ex.executionId() for ex in _seq(sql.executionsList())]
        return max(ids) if ids else -1


def parse_size(text: str) -> float:
    """Bytes from a Spark size metric string ('12.3 MiB' or its
    'total (min, med, max ...)' multi-task form, whose first figure is
    the total)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = re.search(r"([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile; exactly the median for q=0.5."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if q == 0.5:
        return statistics.median(vals)
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)
