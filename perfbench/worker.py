"""One measured run in a fresh process.

Sets up the session and the registry, runs one cold pass, the
workload's untimed warm-up passes, and then enough warm passes of its
job mix to fill ``--seconds`` at the workload's nominal pass time, and
checks every distinct (job, input) pair once, outside the timed passes.
One driver thread submits each job after the previous one finishes (a
closed loop with one client). The raw record goes to
``<run-dir>/worker.json``; ``run.py`` turns it into metrics.

With ``--trace 1`` warm passes alternate between untraced and traced.
Traced passes put each job's builder call and action in its own Spark
job group, read stage metrics from Spark's status store after each job,
noop-scan every input, and read the storage memory held by cached or
checkpointed blocks after the pass.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from spans import Spans  # noqa: E402

MIN_WARM = 3  # warm passes per run, whatever --seconds says
MB = 1 << 20
DONE = {"COMPLETE", "SKIPPED", "FAILED"}


def stage_stats(spark, job_ids: list[int]) -> dict:
    """Sum Spark's stage metrics over the stages of ``job_ids``.

    The status store is fed by an asynchronous listener, so wait (at
    most a second) until every stage has reached a final state."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    infos = [tracker.getJobInfo(j) for j in job_ids]
    stage_ids = sorted({s for info in infos if info for s in info.stageIds})
    stages = []
    deadline = time.perf_counter() + 1.0
    for sid in stage_ids:
        while True:
            s = store.lastStageAttempt(sid)
            if s.status().toString() in DONE or time.perf_counter() > deadline:
                break
            time.sleep(0.005)
        if s.status().toString() != "SKIPPED":
            stages.append(s)
    return {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": sum(s.numCompleteTasks() for s in stages),
        "failed_tasks": sum(s.numFailedTasks() for s in stages),
        "run_s": sum(s.executorRunTime() for s in stages) / 1e3,
        "cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
        "gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) / MB,
        "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) / MB,
        "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) / MB,
    }


def pinned_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


class Runner:
    def __init__(self, spark, workload, spans: Spans):
        self.spark = spark
        self.wl = workload
        self.spans = spans
        self.checks: dict[str, str | None] = {}
        self.job_ids: dict[str, list[int]] = {}

    def _phase(self, group: str | None, fn, *args):
        """Run one builder call or action, in Spark job group ``group``
        when tracing; return (result, seconds). The Spark jobs the phase
        launched go to ``self.job_ids[group]``.

        Jobs that streaming queries launch on their own threads carry no
        job group; the ungrouped jobs that appear during the phase are
        counted as the phase's too."""
        sc = self.spark.sparkContext
        if group:
            tracker = sc.statusTracker()
            ungrouped = set(tracker.getJobIdsForGroup(None))
            sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn(*args)
            return out, time.perf_counter() - t0
        finally:
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                ids = tracker.getJobIdsForGroup(group)
                ids += [j for j in tracker.getJobIdsForGroup(None) if j not in ungrouped]
                self.job_ids[group] = ids

    def run_pass(self, k: int, kind: str, traced: bool) -> dict:
        self.wl.before_pass(k)
        # release the previous pass's DataFrames now, not at a random
        # point inside a timed job
        gc.collect()
        sp = self.spans if traced else _UNTRACED
        records, outputs = [], {}
        with sp.span(f"pass.{kind}"):
            t_pass = time.perf_counter()
            for job in self.wl.jobs:
                rec = {"name": job.name, "layer": job.layer, "version": self.wl.version,
                       "build_s": 0.0, "action_s": 0.0, "error": None}
                jid = f"{k}.{job.name}"
                with sp.span("job", jid):
                    try:
                        with sp.span("build", jid):
                            built, rec["build_s"] = self._phase(traced and f"{jid}.build", job.build)
                        with sp.span("action", jid):
                            out, rec["action_s"] = self._phase(traced and f"{jid}.action", job.action, built)
                        outputs[job.name] = out
                    except Exception as e:  # noqa: BLE001 - a failed job is counted, the run goes on
                        traceback.print_exc(file=sys.stderr)
                        rec["error"] = f"{type(e).__name__}: {e}"[:500]
                records.append(rec)
            rec_pass = {"k": k, "kind": kind, "traced": traced,
                        "wall_s": time.perf_counter() - t_pass, "jobs": records}
            if traced:
                for rec in records:
                    rec["build_jobs"] = len(self.job_ids.get(f"{k}.{rec['name']}.build", ()))
                with sp.span("exec_stats"):
                    rec_pass["exec"] = stage_stats(self.spark, [j for v in self.job_ids.values() for j in v])
                self.job_ids.clear()
                with sp.span("scan"):
                    t0 = time.perf_counter()
                    for make in self.wl.scans():
                        make().write.format("noop").mode("overwrite").save()
                    rec_pass["scan_s"] = time.perf_counter() - t0
                rec_pass["pinned_mb"] = pinned_mb(self.spark)
        self._check(k, outputs, sp)
        return rec_pass

    def _check(self, k: int, outputs: dict, sp: Spans) -> None:
        for job in self.wl.jobs:
            key = f"{job.name}@v{self.wl.version}"
            if key in self.checks or job.name not in outputs:
                continue
            with sp.span("check", f"{k}.{job.name}"):
                try:
                    self.checks[key] = job.check(outputs[job.name])
                except Exception as e:  # noqa: BLE001 - a check that raises is a failed check
                    traceback.print_exc(file=sys.stderr)
                    self.checks[key] = f"check raised {type(e).__name__}: {e}"[:500]
            if self.checks[key]:
                print(f"CHECK FAILED {key}: {self.checks[key]}", file=sys.stderr)


_UNTRACED = Spans(enabled=False)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", type=Path, required=True)
    ap.add_argument("--run-dir", type=Path, required=True)
    args = ap.parse_args()

    traced = bool(args.trace)
    spans = Spans(enabled=traced)
    result: dict = {}
    with spans.span("setup"):
        t0 = time.perf_counter()
        from mapreducegcp_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from mapreducegcp_spark.registry import all_queries

        queries = all_queries()
        t2 = time.perf_counter()
    result.update(ready_wall=time.time(), session_start_s=t1 - t0, registry_load_s=t2 - t1)

    import workloads

    live = workloads.live_inputs(args.workload, args.data, args.run_dir)
    wl = workloads.Workload(args.workload, args.seed, args.data, live, spark, queries)
    runner = Runner(spark, wl, spans)
    passes = [runner.run_pass(0, "cold", traced)]
    # A fixed pass count per (workload, seconds) keeps the number of
    # job samples, and so the tail percentile, the same in every run.
    n_warm = max(MIN_WARM, math.ceil(args.seconds / workloads.NOMINAL_PASS_S[args.workload]))
    if traced:
        # alternate untraced and traced warm passes, so the difference
        # of their medians is the tracing overhead
        n_warm = 2 * math.ceil(n_warm / 2)
    warmup = workloads.WARMUP_PASSES[args.workload]
    for k in range(1, warmup + 1):
        passes.append(runner.run_pass(k, "warmup", False))
    for k in range(warmup + 1, warmup + n_warm + 1):
        passes.append(runner.run_pass(k, "warm", traced and (k - warmup) % 2 == 0))
    wl.close()
    result.update(passes=passes, checks=runner.checks, cores=spark.sparkContext.defaultParallelism)
    if traced:
        spans.write(args.run_dir / "spans.json")
    (args.run_dir / "worker.json").write_text(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
