"""One run of one benchmark workload, in a fresh process.

Launched by run.py, which sets PYTHONPATH so Spark's Python workers can
import bdt_spark, and passes the monotonic clock reading taken just before
the launch so set-up time counts from process start. Writes its result as
JSON to --out; run.py adds the process-tree memory figure and prints it.

Nothing heavy is imported at module level: on the `cli` workload the first
thing the process does is run `python -m bdt_spark.cli count ...`
in-process, so that call sees exactly a fresh process's cold start.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import asdict

import climix
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Query sets. Names are registry names (bdt_spark.plans.registry).
RELATIONAL = (
    "tpch_q13_customer_distribution",
    "tpch_q17_small_quantity",
    "agg_rollup",
    "window_running_frames",
)
PIPELINE = (
    "customer_rfm_segmentation",
    "multimodal_decode_bmp",
)
MULTIMODAL = ("multimodal_decode_bmp", "multimodal_decode_png")
# name -> (input scale, query set); cli runs CLI calls instead of queries
WORKLOADS = {
    "cli": ("sf0.1", None),
    "relational_sf1": ("sf1", RELATIONAL),
    "pipeline_sf01": ("sf0.1", PIPELINE),
    # not a benchmark workload: selftest.py's check that Spark's Python
    # workers can import bdt_spark
    "multimodal": ("sf0.1", MULTIMODAL),
}
MIN_PASSES = 2
# whole passes, the cold first one included: long enough that on
# relational_sf1 (cold pass about 10 s) one warm pass follows, since that
# pass still runs about 30% slower than later ones
WARMUP_S = 14.0
# the traced cli run reports a 90th percentile over its calls: at least 100
# of them, so at least 10 lie beyond it
MIN_CLI_CALLS = 100
# the first pass runs each subcommand for the first time, at about five
# times a warm pass's time; pass time then keeps falling, by about half,
# for some 20 s more
CLI_WARMUP_S = 20.0



def log(run: "Run", what: str) -> None:
    print(f"[perfbench {time.monotonic() - run.t_launch:7.2f}s] {what}",
          file=sys.stderr, flush=True)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State shared by the workloads: session, clocks, tracer, failures."""

    def __init__(self, args) -> None:
        self.args = args
        self.t_launch = args.t_launch
        self.rng = random.Random(args.seed)
        self.tracer = Tracer()
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    def setup_session(self, register) -> float:
        """Start the session, register inputs, run one trivial job.
        Returns set-up time counted from process launch."""
        from bdt_spark.session import get_spark

        t0 = time.monotonic()
        self.spark = get_spark("perfbench")
        t1 = time.monotonic()
        register()
        t2 = time.monotonic()
        self.spark.range(1).count()
        t3 = time.monotonic()
        # on cli the cold call has already recorded the session's start
        self.layers.setdefault("session.start_s", t1 - t0)
        self.layers["sources.io.register_s"] = t2 - t1
        self.layers.setdefault("session.first_job_s", t3 - t2)
        return t3 - self.t_launch

    def window(self, run_pass, enough) -> tuple[list[float], list[float]]:
        """Run passes for --seconds (and until `enough(passes)`); on traced
        runs every second pass is traced. Returns untraced and traced pass
        wall times."""
        plain: list[float] = []
        traced: list[float] = []
        deadline = time.monotonic() + self.args.seconds
        while time.monotonic() < deadline or not enough(len(plain) + len(traced)):
            trace = bool(self.args.trace) and len(plain) > len(traced)
            t0 = time.perf_counter()
            run_pass(trace)
            (traced if trace else plain).append(time.perf_counter() - t0)
        return plain, traced

    def job_group(self, group: str | None) -> None:
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


# ---------------------------------------------------------------------------
# relational_sf1 / pipeline_sf01: registered queries, collected in full
# ---------------------------------------------------------------------------


def run_queries(run: Run, data_dir: str, names: tuple[str, ...]) -> dict:
    from bdt_spark.operators.cacheutil import release
    from bdt_spark.sources.io import load_fixture_tables

    import bdt_spark.plans as plans
    from sparkstats import job_counts, plan_metrics

    setup_s = run.setup_session(lambda: load_fixture_tables(run.spark, data_dir))
    specs = {n: plans.get_query(n) for n in names}
    sc = run.spark.sparkContext
    tracer = run.tracer
    results: list[tuple[str, list]] = []
    first_result: list[float] = []
    pass_layers: list[dict[str, float]] = []

    def one(name: str, trace: bool, layers: dict[str, float]) -> float:
        spec = specs[name]
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            if not trace:
                df = spec.fn(run.spark, data_dir)
                rows = df.collect()
                release(df)
            else:
                op = tracer.new_op()
                first = len(tracer.spans)
                with tracer.span("query", op, label=name):
                    run.job_group(f"build-{op}")
                    with tracer.span("plans.build", op) as s:
                        df = spec.fn(run.spark, data_dir)
                    s["counts"] = asdict(job_counts(sc, f"build-{op}"))
                    run.job_group(f"action-{op}")
                    with tracer.span("catalyst.plan", op):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec.action", op) as s:
                        rows = df.collect()
                    s["counts"] = asdict(job_counts(sc, f"action-{op}"))
                    s["sql"] = asdict(plan_metrics(df, run.spark._jvm))
                    with tracer.span("cacheutil.release", op):
                        release(df)
                    run.job_group(None)
                _add_query_layers(tracer.spans[first:], layers)
        except Exception:
            run.job_group(None)
            run.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        results.append((name, rows))
        if not first_result:
            first_result.append(time.monotonic() - run.t_launch)
        return dt

    def run_pass(trace: bool, shuffle: bool = True) -> None:
        order = list(names)
        if shuffle:
            run.rng.shuffle(order)
        layers: dict[str, float] = {}
        for name in order:
            one(name, trace, layers)
        if trace:
            pass_layers.append(layers)

    # the first passes warm the JIT and code caches; checked, not timed.
    # The first runs in a fixed order, so cold_start_s is the same query's.
    log(run, "set up")
    warm_until = time.monotonic() + WARMUP_S
    run_pass(False, shuffle=False)
    while time.monotonic() < warm_until:
        run_pass(False)
    log(run, "warm-up pass done")
    plain, traced = run.window(run_pass, lambda n: n >= MIN_PASSES)
    log(run, f"window done: passes {plain} traced {traced}")
    _check_digests(run, results)
    log(run, "digests checked")
    if run.args.trace:
        for key in set().union(*pass_layers):
            run.layers[key] = _median([p.get(key, 0.0) for p in pass_layers])
        run.layers["tracing_overhead_frac"] = _median(traced) / _median(plain) - 1
    return {
        "setup_s": setup_s,
        "cold_start_s": first_result[0] if first_result else 0.0,
        "pass_s": _median(plain),
    }


def _add_query_layers(spans: list[dict], layers: dict[str, float]) -> None:
    """Fold one traced query's spans into its pass's per-layer sums."""

    def add(key: str, v: float) -> None:
        layers[key] = layers.get(key, 0.0) + v

    for s in spans:
        dur = s["end"] - s["start"]
        name = s["name"]
        if name == "plans.build":
            add("plans.build_s", dur)
            add("plans.build_jobs", s["counts"]["jobs"])
        elif name == "catalyst.plan":
            add("catalyst.plan_s", dur)
        elif name == "exec.action":
            add("exec.action_s", dur)
            for k, v in s["counts"].items():
                add(f"exec.{k}", v)
            for k, v in s["sql"].items():
                add(k.replace("python_", "python.") if k.startswith("python_")
                    else f"exec.{k}", v)
        elif name == "cacheutil.release":
            add("cacheutil.release_s", dur)


def _check_digests(run: Run, results: list[tuple[str, list]]) -> None:
    from digest import digest_rows

    with open(os.path.join(os.path.dirname(__file__), "expected.json")) as f:
        expected = json.load(f)["queries"]
    for name, rows in results:
        want = expected.get(name)
        try:
            got = digest_rows(rows)
        except Exception:
            got = traceback.format_exc(limit=3)
        if want is None or [want["rows"], want["digest"]] != list(got):
            run.failures.append(f"{name}: output digest {got} != expected {want}")


# ---------------------------------------------------------------------------
# cli: one cold `python -m bdt_spark.cli` call, then a warm in-process mix
# ---------------------------------------------------------------------------


def _cold_cli(argv: list[str]) -> tuple[int, str]:
    import io
    import runpy
    from contextlib import redirect_stdout

    buf = io.StringIO()
    saved = sys.argv
    sys.argv = ["bdt_spark.cli"] + argv
    rc = 0
    try:
        with redirect_stdout(buf):
            runpy.run_module("bdt_spark.cli", run_name="__main__", alter_sys=True)
    except SystemExit as e:
        rc = e.code if isinstance(e.code, int) else 1
    finally:
        sys.argv = saved
    return rc, buf.getvalue()


class _Patches:
    """Traced passes only: wrap the functions the CLI calls into the lower
    layers, so each call records a span. Untraced passes run unpatched."""

    def __init__(self, tracer: Tracer) -> None:
        import bdt_spark.cli as cli
        import bdt_spark.operators.compare as compare
        import bdt_spark.operators.convert as convert
        import bdt_spark.operators.meta as meta

        self.tracer = tracer
        self.op = 0
        self.targets = [
            (cli, "get_spark", "session.get_spark"),
            (cli, "read_file", "sources.io.read_file"),
            (cli, "register_table", "sources.io.register_table"),
            (convert, "convert", "operators.convert.convert"),
            (compare, "compare_files", "operators.compare.compare_files"),
            (meta, "read_parquet_meta", "operators.meta.read_parquet_meta"),
        ]
        self.saved = [getattr(m, a) for m, a, _ in self.targets]

    def _wrap(self, fn, span: str):
        def wrapped(*a, **kw):
            with self.tracer.span(span, self.op) as rec:
                out = fn(*a, **kw)
            if span == "operators.compare.compare_files":
                rec["method"] = out.method
            elif span == "operators.convert.convert":
                rec["to"] = os.path.splitext(a[2])[1].lstrip(".")
                rec["ratio"] = _tree_bytes(a[2]) / _tree_bytes(a[1])
            return out

        return wrapped

    def __enter__(self):
        for (mod, attr, span), fn in zip(self.targets, self.saved):
            setattr(mod, attr, self._wrap(fn, span))
        return self

    def __exit__(self, *exc):
        for (mod, attr, _), fn in zip(self.targets, self.saved):
            setattr(mod, attr, fn)


def _tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def run_cli(run: Run, data_dir: str) -> dict:
    work = run.args.work
    lineitem = os.path.join(data_dir, "lineitem.parquet")
    cold_argv = ["count", "--table", lineitem]
    if run.args.trace:
        # time get_spark inside the cold call
        import bdt_spark.session as session

        get_spark = session.get_spark
        session_up: list[float] = []

        def timed_get_spark(*a, **kw):
            t0 = time.monotonic()
            out = get_spark(*a, **kw)
            session_up.append(time.monotonic())
            run.layers["session.start_s"] = session_up[0] - t0
            return out

        session.get_spark = timed_get_spark
    rc, out = _cold_cli(cold_argv)
    cold_start_s = time.monotonic() - run.t_launch
    cold = climix.Call("count", cold_argv, table="lineitem", rc=rc, stdout=out)
    if run.args.trace:
        session.get_spark = get_spark
        # from session up to the printed count: the process's first job
        up = session_up[0] if session_up else time.monotonic()
        run.layers["session.first_job_s"] = run.t_launch + cold_start_s - up

    import bdt_spark.cli as cli
    from bdt_spark.sources.io import register_table
    from sparkstats import job_counts

    def register() -> None:
        for t in ("lineitem", "orders", "customer"):
            register_table(run.spark, t, os.path.join(data_dir, f"{t}.parquet"))

    setup_s = run.setup_session(register)
    mix = climix.Mix(data_dir, work, run.args.seed)
    calls: list[climix.Call] = [cold]
    lat: list[float] = []
    by_sub: dict[str, list[float]] = {}
    exec_counts: list[dict[str, float]] = []
    patches = _Patches(run.tracer)
    sc = run.spark.sparkContext

    def one(call: climix.Call, trace: bool) -> float:
        t0 = time.perf_counter()
        try:
            if trace:
                op = patches.op = run.tracer.new_op()
                run.job_group(f"cli-{op}")
                with run.tracer.span(f"cli.{call.subcommand}", op, label=call.kind):
                    climix.invoke(cli.main, call)
                run.job_group(None)
                exec_counts[-1].update({
                    k: exec_counts[-1].get(k, 0) + v
                    for k, v in asdict(job_counts(sc, f"cli-{op}")).items()
                })
            else:
                climix.invoke(cli.main, call)
        except Exception:
            run.job_group(None)
            call.error = traceback.format_exc(limit=3)
        return time.perf_counter() - t0

    def run_pass(trace: bool, record: bool = True) -> None:
        if trace:
            exec_counts.append({})
        with patches if trace else nullcontext():
            for call in mix.next_pass():
                dt = one(call, trace)
                calls.append(call)
                if record:  # traced calls too
                    lat.append(dt)
                    by_sub.setdefault(call.subcommand, []).append(dt)

    log(run, f"cold call done at {cold_start_s:.2f}s; set up")
    warm_until = time.monotonic() + CLI_WARMUP_S
    while time.monotonic() < warm_until:
        run_pass(False, record=False)
    log(run, "warm-up passes done")
    calls_needed = MIN_CLI_CALLS if run.args.trace else 0
    plain, traced = run.window(
        run_pass,
        lambda n: n >= MIN_PASSES and n * len(climix.KINDS) >= calls_needed,
    )

    log(run, f"window done: {len(lat)} calls, passes {plain} traced {traced}")
    checker = climix.Checker(data_dir)
    run.attempted += len(calls)
    for call in calls:
        try:
            problem = checker.check(call)
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            run.failures.append(f"cli {' '.join(call.argv)}: {problem}")

    if run.args.trace:
        _cli_layers(run, lat, by_sub, exec_counts)
        run.layers["tracing_overhead_frac"] = _median(traced) / _median(plain) - 1
    return {
        "setup_s": setup_s,
        "cold_start_s": cold_start_s,
        "pass_s": _median(plain),
    }


def _cli_layers(run: Run, lat: list[float], by_sub: dict[str, list[float]],
                exec_counts) -> None:
    run.layers["cli.p50_s"] = _median(lat)
    run.layers["cli.p90_s"] = statistics.quantiles(lat, n=10)[8]
    for sub in ("count", "schema", "view", "query", "view-parquet-meta",
                "convert", "compare"):
        run.layers[f"cli.{sub}_p50_s"] = _median(by_sub.get(sub, []))
    spans = run.tracer.spans

    def durations(name: str, **match) -> list[float]:
        return [
            s["end"] - s["start"] for s in spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        ]

    for fmt in ("csv", "parquet"):  # the two convert calls of every pass
        run.layers[f"operators.convert.{fmt}_s"] = _median(
            durations("operators.convert.convert", to=fmt))
        run.layers[f"operators.convert.{fmt}_out_bytes_per_in_byte"] = _median(
            [s["ratio"] for s in spans
             if s["name"] == "operators.convert.convert" and s["to"] == fmt])
    run.layers["operators.compare.positional_s"] = _median(
        durations("operators.compare.compare_files", method="positional"))
    run.layers["operators.compare.hash_s"] = _median(
        durations("operators.compare.compare_files", method="hash"))
    run.layers["operators.meta.read_s"] = _median(
        durations("operators.meta.read_parquet_meta"))
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        run.layers[f"exec.{key}"] = _median([c.get(key, 0) for c in exec_counts])


# ---------------------------------------------------------------------------


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data", required=True, help="directory of the input tables")
    p.add_argument("--work", required=True, help="scratch directory for outputs")
    p.add_argument("--t-launch", type=float, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--trace-out", required=True)
    args = p.parse_args()
    sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_oracle.canon_value

    run = Run(args)
    names = WORKLOADS[args.workload][1]
    if names is None:
        metrics = run_cli(run, args.data)
    else:
        metrics = run_queries(run, args.data, names)
    run.layers["failed_frac"] = len(run.failures) / max(run.attempted, 1)
    if args.trace:
        run.tracer.dump(args.trace_out, layers=run.layers)
        metrics = run.layers
    with open(args.out, "w") as f:
        json.dump({
            "attempted": run.attempted,
            "failures": run.failures,
            "metrics": metrics,
        }, f)
    log(run, "results written")
    run.spark.stop()
    log(run, "session stopped")
    return 0


if __name__ == "__main__":
    sys.exit(main())
