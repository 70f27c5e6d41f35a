"""The workloads, the layer instrumentation and the per-layer metrics.

* ``notebook_ingest`` — one pandas-td analyst session per cycle: the
  ``notebook_sql`` calls (``read_td_query`` / ``read_td_table`` through
  ``compat`` on a seeded warehouse database), then the
  ``ingest_roundtrip`` steps (``to_td`` replace/append, ``merge_upsert``,
  ``tdpack`` landing and batch read, an availableNow stream drain, and a
  ``read_td_table`` read-back of the slice just written).
* ``corpus_refresh`` — LLM corpus curation: each pass re-registers the
  corpus views (evicting memoized models) and materialises curation
  registry ops with a ``noop`` write.

Input sizes follow the sf0.1 fixtures unless a size says otherwise.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb
import numpy as np
import pandas as pd

import datagen
from common import Op, dir_bytes, frames_equal

DB = "bench"
PACK_SCHEMA = (
    "event_id bigint, time bigint, user_id bigint, event_type string, value double, props string"
)


def _day(t: int) -> str:
    return pd.Timestamp(t, unit="s").strftime("%Y-%m-%d")


def _read_parquet(path: str) -> pd.DataFrame:
    """A Spark-written parquet directory (hive-style partitions included)."""
    import pyarrow.dataset as ds

    files = [
        os.path.join(base, f)
        for base, _, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    return ds.dataset(files, format="parquet", partitioning="hive",
                      partition_base_dir=path).to_table().to_pandas()


# --------------------------------------------------------------------------
# notebook_ingest
# --------------------------------------------------------------------------
class NotebookIngest:
    """Each cycle: a direct ``register_database_views`` call and the read
    templates in a seeded order with seeded parameters, then the upload,
    tdpack, stream and read-back steps. Every read template has a DuckDB
    twin that computes the same answer from the same parquet files. Like
    an analyst's database, the warehouse also holds tables no template
    reads (lineitem, nation, region); ``QueryEngine.execute`` registers
    views over all of them on every call. Uploads go to a second
    warehouse, so the read templates always see the staged tables."""

    name = "notebook_ingest"
    #: no untimed cycle: the targeted warm-ups in :meth:`prepare` take the
    #: first-use costs that were large in 18-22 s; a whole warm-up cycle
    #: took 30-33 s, more than the run budget has room for
    warmup_cycles = 0
    #: at least this many timed cycles; one already takes 15-22 s
    timed_cycles = 1
    #: ops that fail at this commit: counted in ``failed`` and listed, but
    #: not read as a wrong output (any other op that raises is)
    known_failures = ("hourly_two_arg_format",)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        tiny = ctx.tiny
        # warehouse: the sf0.1 fixture's events and orders row counts
        self.n_events = 4_000 if tiny else 100_000
        self.n_orders = 400 if tiny else 150_000
        # uploads: replace + 2 appends of half its size = 100k rows through to_td
        self.n_rows = 2_000 if tiny else 50_000
        self.n_appends = 2
        self.n_delta = 500 if tiny else 10_000
        self.n_pack = 500 if tiny else 25_000
        self.wh = os.path.join(ctx.work, "warehouse")
        self.up_wh = os.path.join(ctx.work, "ingest_wh")
        self.root = os.path.join(ctx.work, "ingest")
        self.rows = 0  # rows delivered into pandas frames
        self.upload_rows = 0
        self.pack_rows = 0
        self.batches = 0
        self.stored = (0, 1)
        self.pack_bytes = (0, 1)

    def stage(self) -> dict:
        shutil.rmtree(self.wh, ignore_errors=True)
        tables = datagen.warehouse_tables(self.ctx.seed, self.n_events, self.n_orders)
        datagen.stage_warehouse(tables, os.path.join(self.wh, DB))
        base, appends, delta = datagen.upload_frames(
            self.ctx.seed, 0, self.n_rows, self.n_appends, self.n_delta
        )
        return {
            **{name: len(df) for name, df in tables.items()},
            "replace_rows": len(base),
            "append_rows": sum(len(a) for a in appends),
            "delta_rows": len(delta),
            "tdpack_rows": self.n_pack,
        }

    def prepare(self) -> None:
        from pandas_td_spark import compat
        from pandas_td_spark.sources import io, packstream
        from pandas_td_spark.streaming import jobs

        self.compat, self.io, self.jobs = compat, io, jobs
        spark = self.ctx.spark
        packstream.register_tdpack(spark)
        self.con = compat.connect(warehouse=self.wh, spark=spark)
        self.engine = compat.create_engine(f"presto:{DB}", con=self.con)
        self.up_con = compat.connect(warehouse=self.up_wh, spark=spark)
        self.up_engine = compat.create_engine(f"presto:{DB}", con=self.up_con)
        self.path = self.up_con.table_path(DB, "events")
        # the tdpack writer and batch reader start Python processes on first
        # use in a session (5 and 3 s on 4 cores, against 1.5 and 1 s of
        # work); start them on a few rows so the timed ops measure the work
        warm = os.path.join(self.ctx.work, "warm_tdpack")
        few = datagen.events_frame(np.random.default_rng([self.ctx.seed, 8]), 0, 100)
        self._land(few, warm)
        self._read_pack(warm)
        shutil.rmtree(warm)
        # likewise the session's first TD-function query and table read,
        # which would otherwise land on whichever template the seed puts first
        self._sql(
            "SELECT td_time_format(time, 'yyyy-MM-dd', NULL) AS day, COUNT(1) AS n FROM events"
            f" WHERE td_time_range(time, '{_day(datagen.T0)}', '{_day(datagen.T0 + 86_400)}')"
            " GROUP BY 1"
        )
        self.compat.read_td_table("events", self.engine, limit=10)
        self.duck = duckdb.connect()
        for name in os.listdir(os.path.join(self.wh, DB)):
            path = os.path.join(self.wh, DB, name)
            self.duck.sql(
                f"CREATE VIEW {name[: -len('.parquet')]} AS SELECT * FROM read_parquet('{path}')"
            )

    # -- read templates: (name, params(rng) -> dict, run(p) -> df, twin(p) -> df)
    def _window(self, rng, max_days: int = 7) -> tuple[int, int]:
        d0 = int(rng.integers(0, datagen.EVENT_DAYS - max_days))
        return datagen.T0 + d0 * 86_400, datagen.T0 + (d0 + int(rng.integers(2, max_days + 1))) * 86_400

    def _sql(self, sql: str, **kw) -> pd.DataFrame:
        return self.compat.read_td_query(sql, self.engine, **kw)

    def _duck(self, sql: str, params: list | None = None) -> pd.DataFrame:
        return self.duck.execute(sql, params or []).df()

    def templates(self) -> list[tuple]:
        T = []

        def daily_types(rng):
            s, e = self._window(rng)
            return {"s": _day(s), "e": _day(e), "lo": s, "hi": e}

        T.append((
            "daily_event_types",
            daily_types,
            lambda p: self._sql(
                "SELECT td_time_format(td_date_trunc('day', time, NULL), 'yyyy-MM-dd', NULL) AS day,"
                " event_type, COUNT(1) AS n, SUM(value) AS total FROM events"
                f" WHERE td_time_range(time, '{p['s']}', '{p['e']}') GROUP BY 1, 2"
            ),
            lambda p: self._duck(
                "SELECT strftime(make_timestamp((time - time % 86400) * 1000000), '%Y-%m-%d') AS day,"
                " event_type, COUNT(1) AS n, SUM(value) AS total FROM events"
                " WHERE time >= ? AND time < ? GROUP BY 1, 2",
                [p["lo"], p["hi"]],
            ),
        ))
        # TD's documented two-argument TD_TIME_FORMAT(time, format)
        T.append((
            "hourly_two_arg_format",
            daily_types,
            lambda p: self._sql(
                "SELECT td_time_format(time, 'yyyy-MM-dd HH') AS hour, COUNT(1) AS n FROM events"
                f" WHERE td_time_range(time, '{p['s']}', '{p['e']}') GROUP BY 1"
            ),
            lambda p: self._duck(
                "SELECT strftime(make_timestamp(time * 1000000), '%Y-%m-%d %H') AS hour, COUNT(1) AS n"
                " FROM events WHERE time >= ? AND time < ? GROUP BY 1",
                [p["lo"], p["hi"]],
            ),
        ))

        T.append((
            "top_customers",
            lambda rng: {"seg": str(rng.choice(datagen.SEGMENTS)), "k": int(rng.integers(10, 30))},
            lambda p: self._sql(
                "SELECT c.c_custkey AS custkey, c.c_name AS name, COUNT(1) AS orders,"
                " SUM(o.o_totalprice) AS spent FROM orders o JOIN customer c"
                f" ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = '{p['seg']}'"
                f" GROUP BY 1, 2 ORDER BY spent DESC, custkey LIMIT {p['k']}"
            ),
            lambda p: self._duck(
                "SELECT c.c_custkey AS custkey, c.c_name AS name, COUNT(1) AS orders,"
                " SUM(o.o_totalprice) AS spent FROM orders o JOIN customer c"
                " ON o.o_custkey = c.c_custkey WHERE c.c_mktsegment = ?"
                " GROUP BY 1, 2 ORDER BY spent DESC, custkey LIMIT ?",
                [p["seg"], p["k"]],
            ),
        ))

        ev_cols = ["event_id", "time", "user_id", "event_type", "value"]
        T.append((
            "table_events_slice",
            daily_types,
            lambda p: self.compat.read_td_table(
                "events", self.engine, columns=ev_cols, time_range=(p["s"], p["e"])
            ),
            lambda p: ("subset", 10_000, self._duck(
                f"SELECT {', '.join(ev_cols)} FROM events WHERE time >= ? AND time < ?",
                [p["lo"], p["hi"]],
            )),
        ))
        T.append((
            "table_events_unlimited",
            lambda rng: {},
            lambda p: self.compat.read_td_table("events", self.engine, limit=None),
            lambda p: self._duck("SELECT * FROM events"),
        ))
        return T

    def _check_read(self, twin, p):
        def check(got: pd.DataFrame) -> list[str]:
            want = twin(p)
            if isinstance(want, tuple):  # LIMIT without ORDER BY: any subset
                _, limit, full = want
                if len(got) != min(limit, len(full)):
                    return [f"rows {len(got)} != min({limit}, {len(full)})"]
                key = full.columns[0]
                joined = got.merge(full, on=key, how="left", suffixes=("", "_want"))
                problems = []
                for c in full.columns[1:]:
                    if not (joined[c].astype(str) == joined[f"{c}_want"].astype(str)).all():
                        problems.append(f"{c}: rows outside the source/time range")
                return problems
            return frames_equal(got.reset_index(drop=True), want)

        return check

    def _read_ops(self, c: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 10, c])
        tpls = self.templates()
        ops = [
            Op(
                "register_database_views",
                lambda: self.con.register_database_views(DB),
                lambda _: [] if {"events", "orders"} <= {
                    t.name for t in self.ctx.spark.catalog.listTables()
                } else ["views missing"],
            )
        ]
        for i in rng.permutation(len(tpls)):
            name, params, run, twin = tpls[i]
            p = params(rng)
            ops.append(Op(name, (lambda run=run, p=p: run(p)), self._check_read(twin, p),
                          meta={"rows": "pandas"}))
        return ops

    # -- the tdpack batch steps, shared by the ops and the set-up warm-up
    def _land(self, pack: pd.DataFrame, landing: str) -> int:
        df = self.ctx.spark.createDataFrame(pack).repartition(2)
        with self.ctx.tracer.span("packstream.write"):
            df.write.format("tdpack").option("path", landing).mode("append").save()
        return len(pack)

    def _read_pack(self, landing: str) -> pd.DataFrame:
        """A batch read of the landed chunks into pandas."""
        with self.ctx.tracer.span("packstream.read"):
            return (self.ctx.spark.read.format("tdpack").schema(PACK_SCHEMA)
                    .option("path", landing).load().toPandas())

    def _ingest_ops(self, c: int) -> list[Op]:
        spark = self.ctx.spark
        base, appends, delta = datagen.upload_frames(
            self.ctx.seed, c, self.n_rows, self.n_appends, self.n_delta
        )
        pack = datagen.events_frame(np.random.default_rng([self.ctx.seed, 5, c]), 10**9, self.n_pack)
        shutil.rmtree(self.root, ignore_errors=True)  # the previous cycle's landing and sink
        cdir = os.path.join(self.root, f"c{c}")
        landing, sink, ckpt = (os.path.join(cdir, d) for d in ("landing", "sink", "ckpt"))
        cur = pd.concat([base, *appends], ignore_index=True)
        expected = pd.concat([cur[~cur.event_id.isin(delta.event_id)], delta], ignore_index=True)
        rng = np.random.default_rng([self.ctx.seed, 6, c])
        d0 = int(rng.integers(0, datagen.EVENT_DAYS - 5))
        lo, hi = datagen.T0 + d0 * 86_400, datagen.T0 + (d0 + 5) * 86_400
        want_slice = expected[(expected.time >= lo) & (expected.time < hi)]
        name = f"{DB}.events"
        drain_groups: list[str] = []

        def upload(frame, mode):
            self.compat.to_td(frame, name, self.up_con, if_exists=mode, index=False)
            return len(frame)

        def merge():
            self.io.merge_upsert(spark, spark.createDataFrame(delta), self.path, keys=["event_id"])
            return len(delta)

        def drain():
            with self.ctx.tracer.span("streaming.drain"):
                stream = (
                    spark.readStream.format("tdpack").schema(PACK_SCHEMA)
                    .option("path", landing).load()
                )
                q = self.jobs.write_idempotent_parquet(stream, sink, ckpt).start()
                q.awaitTermination()
            # the stream's jobs run under its own job group, the run id
            drain_groups.append(str(q.runId))
            return q

        def read_back():
            return self.compat.read_td_table(
                "events", self.up_engine, time_range=(lo, hi), limit=None
            )

        def check_sink(_):  # the stream's parquet output, read outside the engine
            return frames_equal(_read_parquet(sink).drop(columns="__batch_id"), pack)

        def check_table(_):
            return frames_equal(_read_parquet(self.io.resolve_data_path(self.path)), expected)

        ops = [Op("to_td_replace", lambda: upload(base, "replace"), meta={"rows": "upload"})]
        for k, a in enumerate(appends):
            ops.append(Op(f"to_td_append_{k + 1}", (lambda a=a: upload(a, "append")),
                          meta={"rows": "upload"}))
        ops += [
            Op("merge_upsert", merge, check_table, meta={"rows": "upload", "live": len(expected)}),
            Op("tdpack_land", lambda: self._land(pack, landing),
               meta={"rows": "upload", "dir": landing}),
            Op("tdpack_read", lambda: self._read_pack(landing),
               lambda got: frames_equal(got, pack), meta={"rows": "pack"}),
            Op("stream_drain", drain, check_sink, meta={"job_groups": drain_groups}),
            # stale reads must show in every cycle, so each read-back is checked
            Op("read_back", read_back, lambda got: frames_equal(got, want_slice),
               kind=f"read_back#{c}", meta={"rows": "read_back"}),
        ]
        return ops

    def cycle(self, c: int) -> list[Op]:
        return self._read_ops(c) + self._ingest_ops(c)

    def account(self, op: Op, out) -> None:
        kind = op.meta.get("rows")
        if kind in ("pandas", "read_back"):
            self.rows += len(out)
        elif kind == "upload":
            self.upload_rows += out
        elif kind == "pack":
            self.pack_rows += len(out)
        if op.name == "stream_drain":
            self.batches += sum(1 for p in out.recentProgress if p["numInputRows"])
        elif op.name == "merge_upsert":  # on-disk bytes once the cycle's writes are done
            self.stored = (dir_bytes(self.path), op.meta["live"])
        elif op.name == "tdpack_land":
            self.pack_bytes = (dir_bytes(op.meta["dir"]), out)

    def perturb(self, op: Op, out):
        if isinstance(out, pd.DataFrame) and len(out):
            out = out.copy()
            out.iloc[0, 0] = out.iloc[-1, 0] if len(out) > 1 else None
            return out.iloc[1:] if len(out) > 1 else out
        return out

    def rates(self, timed_s: float) -> dict:
        t = timed_s or float("inf")
        return {
            "pandas_rows_per_s": (self.rows / t, "rows/s"),
            "upload_rows_per_s": (self.upload_rows / t, "rows/s"),
            "stored_bytes_per_row": (self.stored[0] / max(self.stored[1], 1), "bytes"),
        }

    def close(self) -> None:
        self.duck.close()


# --------------------------------------------------------------------------
# corpus_refresh
# --------------------------------------------------------------------------
#: curation registry ops, in pass order, with each op's main operator
#: module. q235 reuses the near-duplicate pairs q80 memoizes, so a pass
#: shows model cache misses and hits.
CORPUS_OPS = (
    ("q80_near_dup_prefix", "dedup"),
    ("q235_dup_rate_by_source", "dedup"),
    ("q55_embedding_topk", "similarity"),
    ("q86_bm25", "curation"),
    ("q62_multimodal_features", "codecs"),
)
OPERATOR_GROUPS = ("dedup", "similarity", "codecs", "curation")


class CorpusRefresh:
    name = "corpus_refresh"
    #: one untimed pass: a cold pass took 20-29 s against 5-12 s for a
    #: warm one, and varied by far more from run to run; its first-use
    #: costs (JIT, codegen, Spark's Python workers) spread over every op
    warmup_cycles = 1
    #: at least this many timed passes: a warm pass takes 6-9 s, and one
    #: pass alone was too noisy; a third pass did not fit the run budget
    timed_cycles = 2
    known_failures = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        # the sf0.1 fixture's embeddings; 2/5 of its documents, 1/5 of its events
        self.n_docs = 120 if ctx.tiny else 2_000
        self.n_vecs = 120 if ctx.tiny else 2_000
        self.n_events = 2_000 if ctx.tiny else 20_000
        self.dir = os.path.join(ctx.work, "corpus")
        self.passes = 0.0

    def stage(self) -> dict:
        shutil.rmtree(self.dir, ignore_errors=True)
        rng = np.random.default_rng([self.ctx.seed, 4])
        dup_share = float(rng.uniform(0.1, 0.2))
        info = datagen.corpus(self.ctx.seed, self.n_docs, dup_share, self.n_vecs, self.dir)
        # q62 joins the fixture-shaped events table (timestamp `ts`)
        ev = datagen.events_frame(np.random.default_rng([self.ctx.seed, 7]), 0, self.n_events)
        ev.insert(1, "ts", pd.to_datetime(ev.pop("time"), unit="s").astype("datetime64[us]"))
        datagen.stage_warehouse({"events": ev}, self.dir)
        return {**info, "events": self.n_events}

    def prepare(self) -> None:
        from pandas_td_spark.queries.registry import all_queries, spark_queries
        from pandas_td_spark.sources import io
        from pandas_td_spark.testing import oracle

        self.io, self.oracle = io, oracle
        self.queries = spark_queries()
        self.meta = all_queries()

    def _run_op(self, name: str):
        tr = self.ctx.tracer
        with tr.span("queries.build"):
            df = self.queries[name](self.ctx.spark, self.dir)
        with tr.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def _check(self, name: str):
        def check(df) -> list[str]:
            # testing.oracle.check_query's comparison, on the op's own frame
            oracle_sql = self.meta[name].oracle
            got = df.toPandas()
            if oracle_sql is None:  # rows-only registry op: materialising is the check
                return []
            return self.oracle.compare_frames(got, self.oracle.run_oracle(self.dir, oracle_sql))

        return check

    def cycle(self, c: int) -> list[Op]:
        ops = [
            Op("register_views_force", lambda: self.io.register_views(self.ctx.spark, self.dir, force=True))
        ]
        for name, group in CORPUS_OPS:
            ops.append(Op(name, (lambda name=name: self._run_op(name)), self._check(name),
                          meta={"operator": group}))
        return ops

    def account(self, op: Op, out) -> None:
        self.passes += 1 / (len(CORPUS_OPS) + 1)

    def perturb(self, op: Op, out):
        return out.subtract(out.limit(1))

    def rates(self, timed_s: float) -> dict:
        return {"docs_per_s": (self.n_docs * self.passes / timed_s if timed_s else 0.0, "docs/s")}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (NotebookIngest, CorpusRefresh)}


# --------------------------------------------------------------------------
# tracing: layer entry points and per-layer metrics
# --------------------------------------------------------------------------
def instrument(tracer) -> None:
    from pandas_td_spark import compat
    from pandas_td_spark.sources import io

    tracer.instrument(io, "register_views", "io.register_views")
    tracer.instrument(io, "read_table", "io.read_table")
    tracer.instrument(io, "write_table", "io.write_table")
    tracer.instrument(io, "merge_upsert", "io.merge_upsert")
    tracer.instrument(compat.QueryEngine, "execute", "compat.execute")
    tracer.instrument(compat.ResultProxy, "to_dataframe", "compat.to_dataframe")
    tracer.instrument(compat.Connection, "register_database_views", "compat.register_database_views")
    tracer.instrument(compat, "to_td", "compat.to_td")


#: span name -> per-layer metric holding its self time
SELF_TIME_SPANS = {
    "io.register_views": "io.register_views_s",
    "io.read_table": "io.read_table_s",
    "io.write_table": "io.write_table_s",
    "io.merge_upsert": "io.merge_upsert_s",
    "compat.execute": "compat.execute_s",
    "compat.register_database_views": "compat.register_database_views_s",
    "compat.to_dataframe": "compat.to_dataframe_s",
    "compat.to_td": "compat.to_td_s",
    "packstream.write": "packstream.write_s",
    "streaming.drain": "streaming.drain_s",
}


def layer_metrics(
    tracer, per_op, op_parts, wl, timed_s, n_ops, ops_per_s, jobs, get_spark_s
) -> dict:
    """Self times per layer (summed over the timed ops), job counts per
    op, per-op medians of the ops ``wl`` ran, and the tracer's own
    overhead, as ``{name: (value, unit)}``. ``op_parts`` maps each op name
    to its ``Op.meta``."""
    st = tracer.self_times()
    tot = tracer.totals()
    # per registry op instance: time inside queries.build / queries.exec
    op_name = {op: name[3:] for name, _, _, _, op in tracer.spans if name.startswith("op.")}
    split: dict[tuple[str, str], dict[int, float]] = {}
    for name, s, e, _, op in tracer.spans:
        if name in ("queries.build", "queries.exec"):
            d = split.setdefault((op_name[op], name.split(".")[1] + "_s"), {})
            d[op] = d.get(op, 0.0) + e - s

    n = max(n_ops, 1)
    ing = wl if isinstance(wl, NotebookIngest) else None
    m = {
        "engine.get_spark_s": (get_spark_s, "s"),
        "engine.jobs_per_op": (jobs["jobs"] / n, "count"),
        "engine.stages_per_op": (jobs["stages"] / n, "count"),
        "engine.tasks_per_op": (jobs["tasks"] / n, "count"),
        "io.stored_bytes": (float(ing.stored[0]) if ing else 0.0, "bytes"),
        "compat.result_rows": (float(ing.rows) if ing else 0.0, "count"),
        "queries.build_s": (tot.get("queries.build", 0.0), "s"),
        "queries.exec_s": (tot.get("queries.exec", 0.0), "s"),
    }
    for span, metric in SELF_TIME_SPANS.items():
        m[metric] = (st.get(span, 0.0), "s")
    for g in OPERATOR_GROUPS:
        m[f"operators.{g}_s"] = (
            sum(sum(v) for name, v in per_op.items() if op_parts[name].get("operator") == g), "s"
        )
    read_s = tot.get("packstream.read", 0.0)
    pb = ing.pack_bytes if ing else (0, 1)
    m.update({
        "packstream.read_rows_per_s": (ing.pack_rows / read_s if read_s else 0.0, "rows/s"),
        "packstream.bytes_per_row": (pb[0] / max(pb[1], 1), "bytes"),
        "streaming.batches": (float(ing.batches) if ing else 0.0, "count"),
        "trace.ops_per_s": (ops_per_s, "1/s"),
        "trace.overhead_frac": (tracer.overhead_s / timed_s if timed_s else 0.0, "fraction"),
    })
    for op, vs in per_op.items():
        m[f"op.{wl.name}.{op}.p50_s"] = (statistics.median(vs), "s")
    for (op, part), d in split.items():
        m[f"op.{wl.name}.{op}.{part}"] = (statistics.median(d.values()), "s")
    return {k: (float(v), u) for k, (v, u) in m.items()}
