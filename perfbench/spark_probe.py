"""Per-operation Spark counters for the traced run, read from the JVM after
each operation: jobs, stages and tasks through the job group and the
status tracker; shuffle, spill and GC from the status store's stage data;
rows produced by Python/Arrow plan nodes from the SQL status store; and
Catalyst phase times from each DataFrame's QueryPlanningTracker.

All reads happen between operations, outside the timed spans.
"""

from __future__ import annotations

from collections import defaultdict

MB = 1024 * 1024
PYTHON_NODE_MARKS = ("Python", "Pandas", "Arrow")


def gc_ms(spark) -> int:
    """Total JVM GC time so far (GarbageCollector MXBeans), in ms."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def qe_phases_ms(qe) -> dict[str, float]:
    """Catalyst phase durations recorded on the QueryPlanningTracker of the
    JVM QueryExecution `qe`."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = float(phases.apply(name).durationMs())
    return out


class SparkProbe:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.counts: dict[str, float] = defaultdict(float)
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._op = 0
        self._n_exec = 0
        self._gc0 = 0

    # job groups split each operation's jobs into those before the action
    # (staging, probes, checkpoints) and those of the action itself
    def begin(self, op: int) -> None:
        self._op = op
        self._n_exec = self._sql.executionsCount()
        self._gc0 = gc_ms(self.spark)
        self.sc.setJobGroup(f"pre-{op}", "benchmark operation")

    def action_starts(self) -> None:
        self.sc.setJobGroup(f"act-{self._op}", "benchmark action")

    def end(self) -> None:
        tracker = self.sc.statusTracker()
        pre = list(tracker.getJobIdsForGroup(f"pre-{self._op}"))
        act = list(tracker.getJobIdsForGroup(f"act-{self._op}"))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.counts["exec.jobs"] += len(pre) + len(act)
        self.counts["session.pre_action_jobs"] += len(pre)
        stages = set()
        for job in pre + act:
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            info = tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped: its shuffle output was reused
            self.counts["exec.stages"] += 1
            self.counts["exec.tasks"] += info.numCompletedTasks
            data = self._store.stageData(sid, False, self._no_status, False,
                                         self._no_quantiles)
            if data.isEmpty():
                continue
            d = data.head()
            self.counts["exec.shuffle_write_mb"] += d.shuffleWriteBytes() / MB
            self.counts["exec.spill_mb"] += (
                d.memoryBytesSpilled() + d.diskBytesSpilled()) / MB
        self.counts["exec.gc_ms"] += gc_ms(self.spark) - self._gc0
        self.counts["exec.python_rows"] += self._python_rows()

    def _python_rows(self) -> int:
        n_exec = self._sql.executionsCount()
        if n_exec <= self._n_exec:
            return 0
        rows = 0
        execs = self._sql.executionsList(self._n_exec, n_exec - self._n_exec)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not any(m in node.name() for m in PYTHON_NODE_MARKS):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows += int(str(v.get()).replace(",", ""))
        return rows
