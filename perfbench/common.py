"""Shared pieces of the workloads: run context, op record, result
comparison, process-tree memory sampling and Spark job counting."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    tiny: bool
    tracer: object


@dataclass
class Op:
    """One client call. ``kind`` groups ops checked together (the first op
    of each kind in a run is checked); ``check(out)`` returns problems."""

    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]] | None = None
    kind: str = ""
    meta: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.kind = self.kind or self.name


#: float tolerance of :func:`frames_equal`: engines sum in different orders
RTOL = 1e-9


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive frame comparison: same columns, same row count,
    same values (floats within ``RTOL``)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    cols = sorted(got.columns)
    exact = [c for c in cols if not pd.api.types.is_float_dtype(want[c])]
    floats = [c for c in cols if c not in exact]

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in exact:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]").astype("int64")
            elif df[c].dtype == object:
                df[c] = df[c].astype(str)
        for c in floats:
            df[c] = df[c].astype("float64")
        return df.sort_values(exact + floats, ignore_index=True)

    a, b = canon(got), canon(want)
    problems = []
    for c in exact:
        bad = (a[c].to_numpy() != b[c].to_numpy()).sum()
        if bad:
            problems.append(f"{c}: {bad} values differ")
    for c in floats:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if not np.allclose(x, y, rtol=RTOL, atol=1e-9, equal_nan=True):
            problems.append(f"{c}: values differ beyond rtol={RTOL}")
    return problems


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    JVM and Spark's Python workers), sampled between ops as the
    larger of the summed current and summed high-water resident sizes of
    the processes alive at the sample."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self) -> None:
        rss = hwm = 0
        for pid in process_tree(os.getpid()):
            rss += _status_kb(pid, "VmRSS:")
            hwm += _status_kb(pid, "VmHWM:")
        self.peak_kb = max(self.peak_kb, rss, hwm)

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            stages += 1
            tasks += si.numTasks if si is not None else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total
