"""Per-op Spark counters read from the driver's status store.

The status store is filled by Spark's own listener whether or not the
UI runs. Jobs are attributed to an op by job group: the harness tags
every op it drives with ``job_group`` and reads the counters back with
``StageCounters.by_group`` after the run, so reading costs nothing
inside the timed region.
"""

from __future__ import annotations

from contextlib import contextmanager

# Counter names, all summed over the non-skipped stages of an op's jobs.
FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "jvm_cpu_s",
          "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@contextmanager
def job_group(sc, group: str):
    """Tag every job started by the calling thread until exit."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StageCounters:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def by_group(self) -> dict[str, dict]:
        """``{job group: {field: value}}`` for every tagged job so far.

        On Spark 4.1 ``stageList`` takes all five arguments: Scala
        default arguments do not cross py4j."""
        jvm = self._gw.jvm
        stage_group: dict[int, str] = {}
        out: dict[str, dict] = {}
        for job in _seq(self._store.jobsList(jvm.java.util.ArrayList())):
            group = job.jobGroup()
            if not group.isDefined():
                continue
            name = group.get()
            counters = out.setdefault(name, dict.fromkeys(FIELDS, 0))
            counters["jobs"] += 1
            for sid in _seq(job.stageIds()):
                stage_group[sid] = name
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        for st in _seq(stages):
            name = stage_group.get(st.stageId())
            if name is None or st.status().toString() == "SKIPPED":
                continue
            c = out[name]
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["failed_tasks"] += st.numFailedTasks()
            c["task_s"] += st.executorRunTime() / 1e3
            c["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.diskBytesSpilled()
        return out
