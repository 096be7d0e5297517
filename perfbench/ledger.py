"""Per-layer ledger read from Spark's live status store.

Each benchmark step tags its Spark jobs with ``setJobGroup`` — one group
for the library call (jobs the call starts eagerly) and one for the
action that materializes the result. After the step, outside any timed
region, the jobs of both groups are looked up and their stages read from
the ``AppStatusStore``. Nothing here needs the Spark UI.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

# operation-graph scope names of stages that run Python workers
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "InPandas", "BatchEvalPython")

LAYER_METRICS = (
    "calls", "call_s", "eager_jobs", "action_s", "jobs", "idle_s",
    "exec_run_s", "exec_cpu_s", "gc_s", "input_mb", "shuffle_mb",
    "spill_mb", "output_mb", "python_s", "failed_tasks",
)


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _cluster_names(cluster, out: list[str]) -> None:
    out.append(cluster.name())
    children = cluster.childClusters()
    for i in range(children.size()):
        _cluster_names(children.apply(i), out)


class Ledger:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self._python_stage: dict[int, bool] = {}

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def _is_python_stage(self, stage_id: int) -> bool:
        if stage_id not in self._python_stage:
            names: list[str] = []
            try:
                graph = self.store.operationGraphForStage(stage_id)
                _cluster_names(graph.rootCluster(), names)
            except Py4JJavaError:  # graph evicted: count the stage as JVM-only
                pass
            self._python_stage[stage_id] = any(
                p in n for n in names for p in PYTHON_NODES
            )
        return self._python_stage[stage_id]

    def _stages(self, group: str):
        """Number of jobs of ``group`` and (stage id, stage data) of each
        stage they submitted."""
        out = []
        job_ids = self.tracker.getJobIdsForGroup(group)
        for job_id in job_ids:
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    out.append((int(sid), self.store.lastStageAttempt(sid)))
                except Py4JJavaError:  # stage never submitted (skipped)
                    pass
        return len(job_ids), out

    def read(self, call_group: str, action_groups: list[str],
             action_window_ms: tuple[float, float]) -> dict[str, float]:
        """Layer metrics of one step. ``action_window_ms`` is the epoch
        interval of the action, for the idle time."""
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        eager, call_stages = self._stages(call_group)
        m["eager_jobs"] = float(eager)
        stages = list(call_stages)
        jobs = 0
        busy = []
        for g in action_groups:
            n, st = self._stages(g)
            jobs += n
            stages.extend(st)
            for _, sd in st:
                a, b = _opt_ms(sd.firstTaskLaunchedTime()), _opt_ms(sd.completionTime())
                if a is not None and b is not None:
                    busy.append((a, b))
        m["jobs"] = float(jobs)
        seen = set()
        for sid, sd in stages:
            if sid in seen or str(sd.status()) == "SKIPPED":
                continue
            seen.add(sid)
            run_s = sd.executorRunTime() / 1e3
            m["exec_run_s"] += run_s
            m["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["input_mb"] += sd.inputBytes() / 1e6
            m["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
            m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            m["output_mb"] += sd.outputBytes() / 1e6
            m["failed_tasks"] += sd.numFailedTasks()
            if self._is_python_stage(sid):
                m["python_s"] += run_s
        m["idle_s"] = _idle_s(action_window_ms, busy)
        return m


def _idle_s(window: tuple[float, float], busy: list[tuple[float, float]]) -> float:
    """Length of ``window`` not covered by any busy interval, in s."""
    lo, hi = window
    covered = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in busy):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (hi - lo) - covered) / 1e3
