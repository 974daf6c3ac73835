"""Per-job-group stage metrics from Spark's status store, UI off.

``build_session`` runs with ``spark.ui.enabled=false``, so there is no
REST API. The Spark driver's ``AppStatusStore`` is still populated by the
listener bus, and py4j can read it directly: ``jobsList`` gives each
job's group and stage ids, ``stageList`` the stage totals and
``taskList`` the per-task run times. Reading it launches no Spark job.
"""

from __future__ import annotations

import statistics


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def group(self, name: str) -> dict:
        """Totals over every job run under job group ``name`` or a
        group below it (``name/...``).

        ``task_skew`` is max/median task run time of the group's
        longest stage (by summed executor run time) — for an
        extraction, the stage that runs the kernel.
        """
        self._bus.waitUntilEmpty(30_000)  # let listener events land
        stage_ids, n_jobs = set(), 0
        for job in self._conv.asJava(self._store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and (g.get() == name or g.get().startswith(name + "/")):
                n_jobs += 1
                stage_ids.update(int(s) for s in self._conv.asJava(job.stageIds()))
        out = {"jobs": n_jobs, "executor_cpu_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 1.0}
        longest, longest_run = None, -1
        for st in self._conv.asJava(self._store.stageList(
                None, False, False, self._no_quantiles, None)):
            if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
                continue
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += st.diskBytesSpilled() / 2**20
            if st.executorRunTime() > longest_run:
                longest, longest_run = st, st.executorRunTime()
        if longest is not None:
            runs = [t.taskMetrics().get().executorRunTime()
                    for t in self._conv.asJava(self._store.taskList(
                        longest.stageId(), longest.attemptId(), 1 << 20))
                    if t.taskMetrics().isDefined()]
            med = statistics.median(runs) if runs else 0
            out["task_skew"] = max(runs) / med if med > 0 else 1.0
        return out
