#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload mapred --seed 1 --seconds 10 --trace 0

Generates the seeded inputs of (workload, seed) once into
``.perfbench/inputs/`` under the checkout, starts ``worker.py`` in a
fresh process, samples the resident memory of that process tree (the
Python driver, the JVM and the Python workers) from ``/proc`` when
tracing, removes
any index artifact the run wrote into the package tree, and prints the
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The line before it carries the run's settings and details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402
from spans import self_times  # noqa: E402

WORK = ROOT / ".perfbench"
ARTIFACTS = ROOT / "mapreducegcp_spark" / "artifacts"
TIMEOUT_S = 150  # leaves time to stop a hung JVM within 180 s
DRIVER_MEM = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, process group) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def _tree_rss_mb(root: int) -> float:
    table = _proc_table()
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (pp, _) in table.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


class RssSampler(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_mb = 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(self.pid))
            self.stop.wait(self.interval)


def _group_alive(pgid: int) -> bool:
    return any(g == pgid for _, g in _proc_table().values())


def _wait_group(pgid: int, seconds: float) -> bool:
    deadline = time.monotonic() + seconds
    while _group_alive(pgid):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _stop_group(pgid: int) -> None:
    """Let the JVM finish its shutdown hooks, then stop every process
    left in the worker's process group and wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if _wait_group(pgid, 10.0):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
    _wait_group(pgid, 10.0)


def host_probe_s() -> float:
    """Median time of a fixed multi-core hashing task: on a shared host
    it shows how loaded the machine was around a run."""
    import hashlib

    buf = b"\x5a" * (1 << 20)

    def work():
        h = hashlib.sha256()
        for _ in range(32):
            h.update(buf)

    times = []
    for _ in range(5):
        threads = [threading.Thread(target=work) for _ in range(cores())]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec: dict, t_spawn: float) -> tuple[dict, dict]:
    warm = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]
    jobs = sorted(j["build_s"] + j["action_s"] for p in warm for j in p["jobs"] if not j["error"])
    n = len(jobs)
    # highest percentile with at least 10 samples beyond it
    tail_rank = max(n - 10, 1)
    metrics = {
        "setup_s": (rec["ready_wall"] - t_spawn, "s"),
        "cold_pass_s": (rec["passes"][0]["wall_s"], "s"),
        "pass_s": (_median([p["wall_s"] for p in warm]), "s"),
        "job_s.p50": (_median(jobs), "s"),
        "job_s.tail": (jobs[tail_rank - 1] if jobs else 0.0, "s"),
    }
    info = {"job_samples": n, "tail_percentile": round(100.0 * tail_rank / max(n, 1), 1),
            "warm_passes": len(warm)}
    return metrics, info


SPAN_NAMES = ("setup", "pass.cold", "pass.warm", "job", "build", "action", "check", "exec_stats", "scan")


def per_layer(rec: dict, spans: list[dict], artifacts_written: int, rss_mb: float) -> dict:
    traced = [p for p in rec["passes"] if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]

    def med(f):
        return _median([f(p) for p in traced])

    def layer_sum(p, layers, field):
        return sum(j[field] for j in p["jobs"] if j["layer"] in layers)

    ops = ("operators", "streaming")
    m = {
        "session.start_s": (rec["session_start_s"], "s"),
        "session.rss_peak_mb": (rss_mb, "MB"),
        "registry.load_s": (rec["registry_load_s"], "s"),
        "operators.build_s": (med(lambda p: layer_sum(p, ops, "build_s")), "s"),
        "operators.action_s": (med(lambda p: layer_sum(p, ops, "action_s")), "s"),
        "operators.build_jobs": (med(lambda p: sum(j.get("build_jobs", 0) for j in p["jobs"] if j["layer"] in ops)), "count"),
        "operators.artifacts_written": (artifacts_written, "count"),
        "functions.pinned_mb": (traced[-1]["pinned_mb"], "MB"),
        "functions.pinned_mb_growth": (traced[-1]["pinned_mb"] - rec["passes"][0]["pinned_mb"], "MB"),
        "sources.scan_s": (med(lambda p: p["scan_s"]), "s"),
        "plans.builtin_s": (med(lambda p: layer_sum(p, ("plans.builtin",), "action_s")), "s"),
        "plans.python_app_s": (med(lambda p: layer_sum(p, ("plans.python_app",), "action_s")), "s"),
        "streaming.replay_s": (med(lambda p: layer_sum(p, ("streaming",), "build_s") + layer_sum(p, ("streaming",), "action_s")), "s"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
                      ("cpu_s", "s"), ("gc_s", "s"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                      ("spill_mb", "MB")):
        m[f"exec.{key}"] = (med(lambda p: p["exec"][key]), unit)
    m["exec.busy_frac"] = (med(lambda p: p["exec"]["run_s"] / (p["wall_s"] * rec["cores"])), "fraction")
    for name in workloads.LLM_QUERIES + workloads.MAPRED_JOBS:
        m[f"query.{name}.s"] = (med(lambda p: sum(j["build_s"] + j["action_s"] for j in p["jobs"] if j["name"] == name)), "s")
    m["trace.overhead_s"] = (_median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in untraced]), "s")
    selfs = self_times(spans)
    for name in SPAN_NAMES:
        m[f"trace.self.{name}_s"] = (selfs.get(name, 0.0), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "mapreducegcp_spark" / "session.py").is_file():
        print(f"perfbench: no mapreducegcp_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    data = WORK / "inputs" / f"{args.workload}-{args.seed}"
    t0 = time.perf_counter()
    workloads.prepare(args.workload, args.seed, data)
    gen_s = time.perf_counter() - t0

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run_dir / "tmp"),
        "SPARK_GRAFT_STREAM_CKPT_ROOT": str(run_dir / "tmp"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SF_DIR"} | settings
    before = set(os.listdir(ARTIFACTS)) if ARTIFACTS.is_dir() else set()

    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data), "--run-dir", str(run_dir)]
    probe_before = host_probe_s()
    t_spawn = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    # memory is a per-layer metric, so only a traced run samples it
    sampler = RssSampler(proc.pid) if args.trace else None
    if sampler:
        sampler.start()
    try:
        code = proc.wait(timeout=TIMEOUT_S - (time.perf_counter() - t0))
    except subprocess.TimeoutExpired:
        code = None
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        if sampler:
            sampler.stop.set()
            sampler.join()
        _stop_group(proc.pid)
        proc.wait()
        created = set(os.listdir(ARTIFACTS)) - before if ARTIFACTS.is_dir() else set()
        for name in created:
            (ARTIFACTS / name).unlink()
        shutil.rmtree(run_dir / "tmp", ignore_errors=True)
        shutil.rmtree(run_dir / data.name, ignore_errors=True)
    if code != 0:
        print(f"perfbench: worker {'timed out' if code is None else f'exited with {code}'}", file=sys.stderr)
        return 1

    rec = json.loads((run_dir / "worker.json").read_text())
    runs = [j for p in rec["passes"] for j in p["jobs"]]
    bad = {k for k, msg in rec["checks"].items() if msg}
    failed = sum(1 for j in runs if j["error"] or f"{j['name']}@v{j['version']}" in bad)
    if args.trace:
        spans = json.loads((run_dir / "spans.json").read_text())
        metrics = per_layer(rec, spans, len(created), sampler.peak_mb)
        info = {}
    else:
        metrics, info = end_to_end(rec, t_spawn)
    info.update(workload=args.workload, seed=args.seed, gen_s=round(gen_s, 3),
                host_probe_s=[round(probe_before, 4), round(host_probe_s(), 4)],
                failed_frac=failed / len(runs), failed_checks=sorted(bad), settings=settings)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
