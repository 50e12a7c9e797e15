"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload cli --seed 1 --seconds 12 --trace 0

Run from the repo root. Generates the inputs on first use (cached under
.bench_build/perfbench and row-count checked on every run), launches the
workload in a fresh process (perfbench/workload.py) with PYTHONPATH set so
Spark's Python workers can import bdt_spark, samples the peak resident
memory of that process tree from /proc, and prints one JSON result as the
last line of stdout. See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOAD_TIMEOUT_S = 130

KILLED_WAIT_S = 5


def _spec() -> dict:
    """BENCHMARK.json: the workload names, and every metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _comm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return None


def _tree(root: int) -> list[int]:
    """`root` and its live descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeWatch:
    """Polls a process tree's memory: the largest sum, over the processes
    alive at one poll, of their VmHWM. A Python worker that exited is not
    added to one forked after it. Only the JVM and Python processes count:
    a child the JVM has forked but not yet exec'd (named after the forking
    thread, or the spawn helper) shares the JVM's pages, which would
    otherwise count twice."""

    def __init__(self, root: int) -> None:
        self.root = root
        self.seen: dict[int, str] = {}
        self.peak_kb = 0
        self.peak_parts: list[str] = []

    def poll(self) -> None:
        total, parts = 0, []
        for pid in _tree(self.root):
            kb = _hwm_kb(pid)
            name = _comm(pid)
            if name is None:
                continue
            self.seen[pid] = name
            if not name.startswith(("java", "python")):
                continue
            total += kb
            parts.append(f"{self.seen[pid]}:{kb // 1024}")
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def peak_mb(self) -> float:
        """Python driver, JVM and Python workers; pages shared after fork
        count once per process."""
        return self.peak_kb / 1024

    def alive(self) -> list[int]:
        """Processes seen that still run; a zombie (Z) or dead (X) one has
        ended, even though /proc still lists it."""
        return [
            p for p, name in self.seen.items()
            if _comm(p) == name and (_stat(p) or ["X"])[0] not in ("Z", "X")
        ]

    def stop_all(self, grace_s: float) -> None:
        """Wait for every process seen to end; kill what outlives grace_s.
        The JVM outlives its Python parent briefly, reparented."""
        deadline = time.monotonic() + grace_s
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in self.alive():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + KILLED_WAIT_S
        while self.alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if self.alive():
            print(f"perfbench: processes {self.alive()} outlived SIGKILL",
                  file=sys.stderr)


def _program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("bdt_spark/cli.py", "tools/gen_scale.py", "tools/check_oracle.py")
    )


def launch(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    """Run one workload in a fresh process and return its result, with the
    process tree's peak memory added; None if the process failed."""
    import climix
    import datagen
    from workload import WORKLOADS

    scale = WORKLOADS[workload][0]
    dirs = datagen.ensure(CACHE, with_sf1=scale == "sf1")
    data = dirs[scale]
    work = os.path.join(CACHE, "work", f"{workload}-{seed}")
    if workload == "cli":
        climix.prepare_inputs(dirs["sf0.1"], work, seed)
    else:
        os.makedirs(work, exist_ok=True)
    traces = os.path.join(CACHE, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)

    env = dict(os.environ)
    # Spark's Python workers import bdt_spark from the environment's
    # PYTHONPATH, whatever the working directory
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in env.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    env["TZ"] = "UTC"
    # keep temporary files inside the checkout; the JVM's perf-data file
    # always goes to /tmp, so it is turned off
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log_path = os.path.join(work, "workload.log")
    t_launch = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace),
             "--data", data, "--work", work, "--t-launch", repr(t_launch),
             "--out", out,
             "--trace-out", os.path.join(traces, f"{workload}-{seed}.json")],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        watch = TreeWatch(proc.pid)
        deadline = t_launch + WORKLOAD_TIMEOUT_S
        while proc.poll() is None and time.monotonic() < deadline:
            watch.poll()
            time.sleep(0.2)
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        t_exit = time.monotonic()
        watch.stop_all(grace_s=10)
    print(f"perfbench: workload exited after {t_exit - t_launch:.1f} s, its "
          f"processes after {time.monotonic() - t_launch:.1f} s", file=sys.stderr)

    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: workload exited with {proc.returncode}", file=sys.stderr)
        return None
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)  # checked
    res["peak_rss_mb"] = watch.peak_mb()
    print(f"perfbench: peak MB by process {' '.join(watch.peak_parts)}",
          file=sys.stderr)
    for failure in res["failures"]:
        print(f"perfbench FAILED: {failure}", file=sys.stderr)
    return res


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found", file=sys.stderr)
        return 2
    spec = _spec()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not _program_present():
        print("perfbench: bdt_spark and tools/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    res = launch(args.workload, args.seed, args.seconds, args.trace)
    if res is None:
        return 1
    attempted, failed = res["attempted"], len(res["failures"])
    if args.trace:
        values = dict(res["metrics"], peak_rss_mb=res["peak_rss_mb"])
        declared = spec["per_layer"]
    else:
        values = dict(res["metrics"], ok_frac=1 - failed / attempted)
        declared = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    unknown = sorted(set(values) - set(units))
    if unknown:
        print(f"perfbench: metrics {unknown} are not in BENCHMARK.json",
              file=sys.stderr)
        return 1
    if args.trace:  # a layer the workload does not use reads 0
        values = {**dict.fromkeys(units, 0.0), **values}
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
