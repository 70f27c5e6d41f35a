"""Benchmark entry point: one closed-loop client runs a named workload.

    python3 perfbench/run.py --workload notebook_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds the engine session on
``local[nproc]``, stamps machine load with ``tools.calibration.probes``
at the start and the end, sets the workload up (inputs generated from
``--seed``, three times; ``setup_s`` takes the median) and runs the
workload's untimed warm-up cycles, then runs whole cycles of its ops
until at least ``--seconds`` of op time have passed and at least the
workload's ``timed_cycles`` have run. The first op of each kind in the
timed cycles is checked against an independent answer off the clock.
Report lines come first; the last line is one JSON object
with the end-to-end metrics of ``BENCHMARK.json``, or, with ``--trace 1``,
its per-layer metrics from spans recorded around the layer entry points.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
#: after the first cycle, no cycle starts once this many have run or this
#: many seconds have passed in the timed loop, even when ops fail fast
MAX_TIMED_CYCLES = 20
LOOP_DEADLINE_S = 60.0


def spec() -> dict:
    """``BENCHMARK.json``: the metric names of the final JSON line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    p.add_argument(
        "--perturb",
        default=None,
        help="corrupt the output of this op kind before its check (negative control)",
    )
    return p.parse_args(argv)


def environment(work: str) -> int:
    """Point every scratch path the engine uses into the checkout, make the
    package importable by Spark's Python workers, return the core count."""
    for need in ("pandas_td_spark/__init__.py", "tools/calibration.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _fail(f"no {need} under {ROOT}; run from the root of a full checkout")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: temp files and the
    # HotSpot perf-data file stay out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
         os.environ.get("JAVA_TOOL_OPTIONS", "")]
    ).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = tmp
    return cpus


def boot(work: str):
    """Build the engine session with every Spark scratch path under ``work``."""
    from pandas_td_spark.engine import session

    return session.get_spark(
        app_name="perfbench",
        extra_confs={"spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")},
    )


def shutdown(spark) -> None:
    """Stop the session and the JVM, then wait until every process started
    under this one (the JVM, Spark's Python daemon and workers) has exited."""
    from pyspark import SparkContext

    from common import process_tree, running

    started = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:  # py4j raises when the JVM side has already closed
            pass
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(running(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(running, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail_percentile(n: int) -> int:
    """Highest percentile (a multiple of 5, at least the median) with at
    least 10 samples beyond it."""
    return max(50, min(99, int((100 * (1 - 10 / max(n, 1))) // 5 * 5)))


def percentile(values: list[float], pct: float) -> float:
    vs = sorted(values)
    if not vs:
        return float("nan")
    k = (len(vs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (k - lo)


def measure(spark, args, work: str, cpus: int, boot_s: float, get_spark_s: float):
    """Set up and run one workload on a live session; print the report
    lines and return the final JSON line's object plus every end-to-end
    metric as ``{name: (value, unit)}``, and the names of the per-layer
    metrics in ``BENCHMARK.json`` a traced run did not measure."""
    import workloads
    from common import Context, RssSampler, job_counts
    from pandas_td_spark.engine.metadata import job_group
    from tools.calibration import probes
    from tracing import Tracer

    tracer = Tracer(False)  # switched on for the cycles of a traced run
    rss = RssSampler()
    phases = {"boot": boot_s}
    t = time.perf_counter()
    print(f"calibration.start {json.dumps(probes())}", flush=True)
    phases["probes_start"] = time.perf_counter() - t
    ctx = Context(spark=spark, work=work, seed=args.seed, tiny=args.tiny, tracer=tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    stage_times = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        info = wl.stage()
        stage_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    for c in range(wl.warmup_cycles):
        for op in wl.cycle(c):
            # the timed cycles run, count and check the same ops
            with contextlib.suppress(Exception):
                op.run()
    warmup_s = time.perf_counter() - t
    setup_s = boot_s + statistics.median(stage_times) + prepare_s + warmup_s
    phases.update(stage=sum(stage_times), prepare=prepare_s, warmup=warmup_s)
    print(f"inputs {json.dumps(info)}", flush=True)

    lat: list[float] = []
    per_op: dict[str, list[float]] = {}
    op_meta: dict[str, dict] = {}
    check_t: dict[str, float] = {}
    failures: list[tuple[str, str]] = []
    checked: set[str] = set()
    jobs = {"jobs": 0, "stages": 0, "tasks": 0}
    attempted = op_id = cycle = 0
    per_cycle: list[tuple[int, float]] = []  # (completed ops, op seconds)
    timed_s = check_s = 0.0

    def run_op(op) -> None:
        nonlocal attempted, op_id, timed_s, check_s
        op_id += 1
        attempted += 1
        tracer.op_id = op_id
        group = f"perfbench-{op_id}"
        with job_group(spark, group, op.name) if tracer.enabled else contextlib.nullcontext():
            t = time.perf_counter()
            try:
                with tracer.span(f"op.{op.name}"):
                    out = op.run()
                error = None
            except Exception as e:  # an op error is a counted failure
                error = e
            dt = time.perf_counter() - t
        # a failed op's time counts too: the client waited for it
        timed_s += dt
        if tracer.enabled:
            tt = time.perf_counter()
            for g in [group, *op.meta.get("job_groups", ())]:
                for k, v in job_counts(spark, g).items():
                    jobs[k] += v
            tracer.overhead_s += time.perf_counter() - tt
        if error is not None:
            failures.append(
                (op.name, f"{type(error).__name__}: {str(error).splitlines()[0][:300]}")
            )
            return
        rss.sample()
        lat.append(dt)
        per_op.setdefault(op.name, []).append(dt)
        op_meta[op.name] = op.meta
        wl.account(op, out)
        if op.check is None or op.kind in checked:
            return
        # the first op of each kind is checked, off the clock
        checked.add(op.kind)
        tc = time.perf_counter()
        if args.perturb == op.kind:
            out = wl.perturb(op, out)
        try:
            problems = op.check(out)
        except Exception as e:
            problems = [f"check raised {type(e).__name__}: {e}"]
        if problems:
            failures.append((op.name, "wrong output: " + "; ".join(problems)[:300]))
        check_t[op.name] = time.perf_counter() - tc
        check_s += check_t[op.name]

    # start the timed cycles with collected heaps on both sides of py4j
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    t_loop = time.perf_counter()
    if args.trace:
        tracer.enabled = True
        workloads.instrument(tracer)
    try:
        while cycle == 0 or (
            (cycle < wl.timed_cycles or timed_s < args.seconds)
            and cycle < MAX_TIMED_CYCLES
            and time.perf_counter() - t_loop < LOOP_DEADLINE_S
        ):
            n0, t0 = len(lat), timed_s
            for op in wl.cycle(wl.warmup_cycles + cycle):
                run_op(op)
            per_cycle.append((len(lat) - n0, timed_s - t0))
            cycle += 1
    finally:
        tracer.uninstrument()
        tracer.enabled = False
    wl.close()
    rss.sample()
    phases.update(timed=timed_s, checks=check_s, loop=time.perf_counter() - t_loop)
    t = time.perf_counter()
    print(f"calibration.end {json.dumps(probes())}", flush=True)
    phases["probes_end"] = time.perf_counter() - t

    n = len(lat)
    unmeasured: list[str] = []
    tail = tail_percentile(n)
    # the median of the cycles' rates: with three or more cycles, a load
    # burst on the host that slows one of them does not move it (two
    # cycles give the mean of their rates)
    ops_per_s = statistics.median(k / t if t else 0.0 for k, t in per_cycle)
    report = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "latency_p50_s": (percentile(lat, 50), "s"),
        "latency_tail_s": (percentile(lat, tail), "s"),
        "failed_frac": (len(failures) / attempted, "fraction"),
        "peak_rss_mb": (rss.peak_mb(), "MB"),
        **wl.rates(timed_s),
    }
    print(
        f"run workload={args.workload} seed={args.seed} client=1 loop=closed "
        f"cores={cpus} cycles={cycle} timed_ops={n} attempted={attempted} "
        f"timed_s={timed_s:.3f} tail=p{tail}",
        flush=True,
    )
    for i, (k, t) in enumerate(per_cycle):
        print(f"cycle {i} ops={k} op_s={t:.3f}")
    for name, (value, unit) in report.items():
        print(f"metric {name} = {value:.6g} {unit}")
    print("phases_s " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    for name, vs in per_op.items():
        print(
            f"op {name} n={len(vs)} p50_s={statistics.median(vs):.4f} max_s={max(vs):.4f}"
            f" check_s={check_t.get(name, 0.0):.4f}"
        )
    for name, why in failures:
        print(f"failed {name}: {why}")

    if args.trace:
        os.makedirs(WORK, exist_ok=True)
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(spans_path)
        print(f"trace spans={len(tracer.spans)} file={os.path.relpath(spans_path, ROOT)}")
        layer = workloads.layer_metrics(
            tracer, per_op, op_meta, wl, timed_s=timed_s, n_ops=n, ops_per_s=ops_per_s,
            jobs=jobs, get_spark_s=get_spark_s,
        )
        for name, (value, unit) in layer.items():
            print(f"layer {name} = {value:.6g} {unit}")
        metrics = {}
        for m in spec()["per_layer"]:
            name = m["name"]
            if name in layer:
                metrics[name] = {"value": layer[name][0], "unit": layer[name][1]}
                continue
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
            if not name.startswith("op.") or name.startswith(f"op.{args.workload}."):
                # an op of this workload that failed, or one renamed
                # without BENCHMARK.json following
                unmeasured.append(name)
                print(f"unmeasured {name}")
    else:
        metrics = {
            m["name"]: {"value": report[m["name"]][0], "unit": report[m["name"]][1]}
            for m in spec()["end_to_end"]
        }
    # an op that raises gives no output, so it is wrong unless it is listed
    # as failing at this commit
    wrong = [name for name, why in failures
             if why.startswith("wrong output") or name not in wl.known_failures]
    result = {
        "correct": not wrong and n > 0,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    return result, report, unmeasured


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    cpus = environment(work)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    t = time.perf_counter()
    spark = boot(work)
    get_spark_s = time.perf_counter() - t
    try:
        result, _, _ = measure(
            spark, args, work, cpus, boot_s=time.perf_counter() - PROCESS_T0,
            get_spark_s=get_spark_s,
        )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
