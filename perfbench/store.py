"""Read Spark's own bookkeeping over py4j: the SQL status store (one
entry per SQL execution, with its physical plan) and the core status store
(jobs and stages with task metrics). Nothing here changes what Spark
runs; the stores exist whether or not the UI is enabled."""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


@dataclass
class Execution:
    id: int
    description: str
    plan: str
    start: float  # epoch seconds
    end: float


@dataclass
class Window:
    """What Spark did between two marks."""

    executions: list[Execution] = field(default_factory=list)
    #: (submitted, completed) epoch seconds per job
    jobs: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class SparkStatus:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = sc._jsc.sc().statusStore()
        self._tracker = sc.statusTracker()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def jvm_pid(self) -> int:
        return int(self._jvm.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        """Total collection time of every JVM garbage collector so far."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000

    def mark(self) -> tuple[int, int]:
        job_ids = self._tracker.getJobIdsForGroup(None)
        return int(self._sql.executionsCount()), max(job_ids, default=-1)

    def since(self, mark: tuple[int, int]) -> Window:
        """Executions, jobs and stage totals that started after ``mark``."""
        n_exec, last_job = mark
        w = Window()
        total = int(self._sql.executionsCount())
        lst = self._sql.executionsList(n_exec, total - n_exec)
        for i in range(lst.length()):
            e = lst.apply(i)
            end = _opt_ms(e.completionTime())
            w.executions.append(
                Execution(
                    int(e.executionId()),
                    e.description(),
                    e.physicalPlanDescription(),
                    e.submissionTime() / 1000,
                    end if end is not None else e.submissionTime() / 1000,
                )
            )
        stage_ids: set[int] = set()
        for job_id in sorted(j for j in self._tracker.getJobIdsForGroup(None) if j > last_job):
            j = self._core.job(job_id)
            start, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if start is not None:
                w.jobs.append((start, end if end is not None else start))
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.length()))
        for stage_id in sorted(stage_ids):
            try:
                attempts = self._core.stageData(
                    stage_id, False, None, False, self._no_quantiles
                )
            except Py4JJavaError:  # evicted from the store: not counted
                continue
            for i in range(attempts.length()):
                s = attempts.apply(i)
                w.tasks += s.numCompleteTasks()
                w.task_s += s.executorRunTime() / 1000
                w.input_records += s.inputRecords()
                w.shuffle_write_bytes += s.shuffleWriteBytes()
                w.spill_bytes += s.diskBytesSpilled()
        return w
