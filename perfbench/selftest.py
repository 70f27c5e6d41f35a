"""Self-test of the benchmark itself, on tiny inputs in one session.

    python3 perfbench/selftest.py

Runs one cycle of every workload untraced and traced and checks that each
named metric prints with its unit, then runs each workload again with one
op's output corrupted before its check (the negative controls), and
``corpus_refresh`` once with one op raising instead of running, and
checks that each is caught and counted as a failure. Exits 0 when all of
that holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import run
import workloads

#: end-to-end metrics each workload prints on its report lines
REPORTED = {
    "notebook_ingest": ("pandas_rows_per_s", "upload_rows_per_s", "stored_bytes_per_row"),
    "corpus_refresh": ("docs_per_s",),
}
COMMON = ("setup_s", "ops_per_s", "latency_p50_s", "latency_tail_s", "failed_frac", "peak_rss_mb")
#: op kinds whose output the negative controls corrupt, one run each; a
#: read-back's kind is its cycle's, and the first timed cycle follows the
#: warm-up cycles
PERTURB = {
    "notebook_ingest": (
        "daily_event_types",
        "tdpack_read",
        f"read_back#{workloads.NotebookIngest.warmup_cycles}",
    ),
    "corpus_refresh": ("q80_near_dup_prefix",),
}


def main() -> int:
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    cpus = run.environment(work)

    t = time.perf_counter()
    spark = run.boot(work)
    boot_s = time.perf_counter() - t
    problems: list[str] = []
    try:
        for name in workloads.WORKLOADS:
            for trace in (0, 1):
                args = run.parse(
                    ["--workload", name, "--seed", "7", "--seconds", "0.001", "--tiny",
                     "--trace", str(trace)]
                )
                res, report, unmeasured = run.measure(
                    spark, args, work, cpus, boot_s=boot_s, get_spark_s=boot_s
                )
                for k in COMMON + REPORTED[name]:
                    if k not in report or not report[k][1]:
                        problems.append(f"{name} trace={trace}: {k} not reported with a unit")
                want = [m["name"] for m in run.spec()["per_layer" if trace else "end_to_end"]]
                if sorted(want) != sorted(res["metrics"]):
                    problems.append(f"{name} trace={trace}: metrics are not BENCHMARK.json's")
                if unmeasured:
                    problems.append(f"{name} trace={trace}: not measured {unmeasured}")
                for k, v in res["metrics"].items():
                    if not isinstance(v.get("value"), float) or not v.get("unit"):
                        problems.append(f"{name} trace={trace}: {k} lacks a value or unit")
                if not res["correct"]:
                    problems.append(f"{name} trace={trace}: outputs reported wrong")
            for kind in PERTURB[name]:
                args = run.parse(
                    ["--workload", name, "--seed", "7", "--seconds", "0.001", "--tiny",
                     "--perturb", kind]
                )
                res, _, _ = run.measure(
                    spark, args, work, cpus, boot_s=boot_s, get_spark_s=boot_s
                )
                if res["correct"]:
                    problems.append(f"{name}: corrupted {kind} output was not caught")
        # an op that raises instead of running gives no output: also wrong
        cycle = workloads.CorpusRefresh.cycle

        def raising(self, c):
            ops = cycle(self, c)
            ops[1].run = lambda: 1 / 0
            return ops

        workloads.CorpusRefresh.cycle = raising
        try:
            args = run.parse(["--workload", "corpus_refresh", "--seed", "7", "--seconds", "0.001",
                              "--tiny"])
            res, _, _ = run.measure(spark, args, work, cpus, boot_s=boot_s, get_spark_s=boot_s)
        finally:
            workloads.CorpusRefresh.cycle = cycle
        if res["correct"] or res["failed"] != workloads.CorpusRefresh.timed_cycles:
            problems.append("corpus_refresh: an op that raised was not caught")
    finally:
        run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"selftest FAIL {p}")
    print("selftest", "FAILED" if problems else "OK")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
