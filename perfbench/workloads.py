"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``build(ctx)``   seeded fixture build (timed into ``setup_s``);
- ``prepare(ctx)`` session-side set-up such as the warehouse bootstrap
  (timed into ``setup_s``);
- ``gate(ctx)``    the correctness gate, outside every timed phase;
  the query workloads run it before the timed loop, where it doubles
  as the warm-up pass, the write workloads after it, on their final
  state;
- ``step(ctx)``    one timed operation, called until the time is up;
- ``e2e(ctx)``     the end-to-end figures;
- ``layers(ctx)``  the workload's per-layer figures (traced runs).

An operation that raises is counted as failed and the run goes on.
"""

from __future__ import annotations

import bisect
import datetime as dt
import glob
import importlib
import inspect
import math
import os
import re
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import datagen

WAREHOUSE_QUERIES = [
    "q_flagship_daily_revenue", "q_group_agg", "q_dim_broadcast_join",
    "q_incremental_range", "q_dedup_first", "q_asof_price", "q_yoy_qoq",
    "q_merge_upsert", "q_topk", "q_ohlc_bars", "q_tick_rule_flow",
    "q_realized_var", "q_markout", "q_waiting_suppliers",
    "q_volume_shipping", "q_min_cost_supplier", "q_local_supplier_volume",
    "q_promo_revenue", "q_drawdown", "q_rolling_vol", "q_return_corr",
    "q_sessionize", "q_vwap", "q_twap", "q_apy", "q_tvl", "q_token_price",
]
CORPUS_QUERIES = [
    "q_text_stats", "q_gopher_rules", "q_simhash", "q_minhash_pairs",
    "q_edit_distance", "q_ngram_containment", "q_dup_substrings",
    "q_contamination", "q_bloom_contamination", "q_curate_stripped",
    "q_semdedup", "q_unigram_logloss", "q_bpe_tokens", "q_cluster_split",
    "q_ann_ivfpq", "q_vector_topk",
]
#: Row-count checks for registry queries that have no DuckDB oracle.
ROW_CHECKS = {
    "q_bpe_tokens": "SELECT count(*) FROM documents WHERE lang = 'en'",
}
#: Operator modules whose per-module figures the traced run reports.
OPERATOR_MODULES = ("neardup", "corpus", "text", "vector", "bpe", "graph")
ETL_TASKS = ("sync_dim_tokens", "sync_token_daily_stats", "sync_yield_stats")


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


class Workload:
    name = ""
    #: The timed loop runs at least this many operations, even past
    #: ``--seconds``, so every run samples the whole mix.
    min_ops = 1
    gate_first = True

    def build(self, ctx) -> None: ...

    def prepare(self, ctx) -> None: ...

    def gate(self, ctx) -> list[str]:
        return []

    def step(self, ctx) -> bool:
        """Run one timed operation; False when the input is exhausted."""
        raise NotImplementedError

    def at_boundary(self) -> bool:
        """True where the timed loop may stop (between whole passes)."""
        return True

    def e2e(self, ctx) -> dict: ...

    def layers(self, ctx) -> dict:
        return {}


# ---------------------------------------------------------------------------
# Query mixes
# ---------------------------------------------------------------------------


_OPS = "dex_data_ingestor_spark.operators."


def operator_modules(builder) -> set[str]:
    """Operator modules a registry builder reaches, directly or through
    testbed helpers and other operators: functions are followed by the
    names their code uses, resolved in their module and in the operator
    modules they import."""
    seen, found, todo = set(), set(), [builder]
    while todo:
        fn = todo.pop()
        if fn in seen:
            continue
        seen.add(fn)
        if fn.__module__.startswith(_OPS):
            found.add(fn.__module__[len(_OPS):])
        try:
            source = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        scopes = [fn.__globals__]
        for mod in set(re.findall(r"operators\.(\w+)", source)):
            try:
                scopes.append(vars(importlib.import_module(_OPS + mod)))
            except ImportError:
                continue
            found.add(mod)
        codes, names = [fn.__code__], set()
        while codes:
            code = codes.pop()
            names.update(code.co_names)
            codes.extend(c for c in code.co_consts if inspect.iscode(c))
        for name in names:
            for scope in scopes:
                obj = scope.get(name)
                if inspect.isfunction(obj) and obj.__module__.startswith("dex_data_ingestor_spark"):
                    todo.append(obj)
    return found


class QueryMix(Workload):
    """Registry queries, each built fresh (construct) and materialized
    with a noop write (execute), in a seeded shuffled order per pass."""

    queries: list[str] = []

    #: Whole passes the timed loop runs at least.
    min_passes = 2

    def __init__(self) -> None:
        self.min_ops = self.min_passes * len(self.queries)
        self._order: list[str] = []

    def at_boundary(self) -> bool:
        return not self._order

    def _next(self, ctx) -> str:
        if not self._order:
            self._order = ctx.rng.sample(self.queries, len(self.queries))
        return self._order.pop()

    def gate(self, ctx) -> list[str]:
        from tests.oracle_check import compare, duck_connection

        from dex_data_ingestor_spark.plans.testbed import ORACLE_SQL, QUERIES

        con = duck_connection(ctx.data_dir)
        problems = []
        for name in ctx.rng.sample(self.queries, len(self.queries)):
            ctx.attempted += 1
            try:
                df = QUERIES[name](ctx.spark, ctx.data_dir)
                if name in ORACLE_SQL:
                    bad = compare(df, con, ORACLE_SQL[name])
                else:
                    rows = df.count()
                    want = con.sql(ROW_CHECKS[name]).fetchone()[0] if name in ROW_CHECKS else None
                    ok = rows == want if want is not None else rows > 0
                    bad = [] if ok else [f"row count {rows}, expected {want or '> 0'}"]
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                ctx.count_failure(f"gate {name}", exc)
                continue
            problems += [f"{name}: {p}" for p in bad]
        con.close()
        return problems

    def step(self, ctx) -> bool:
        from dex_data_ingestor_spark.plans.testbed import QUERIES

        name = self._next(ctx)

        def run(rec):
            t0 = time.perf_counter()
            with ctx.tracer.span("testbed.construct", op=name):
                df = QUERIES[name](ctx.spark, ctx.data_dir)
            rec["construct_s"] = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()

        ctx.run_op(name, run)
        return True

    def _latencies(self, ctx, items_per_pass: int) -> dict:
        """A query's latency is the best of its executions in the run:
        co-tenant load on a shared box only ever adds time."""
        best: dict[str, float] = {}
        for op in ctx.ok_ops():
            best[op["name"]] = min(op["wall_s"], best.get(op["name"], math.inf))
        return {
            "op_p50_s": pct(best.values(), 50),
            "op_p90_s": pct(best.values(), 90),
            "throughput_per_s": items_per_pass / sum(best.values()),
        }

    def _medians(self, ctx, field: str) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for op in ctx.ok_ops():
            by.setdefault(op["name"], []).append(op[field])
        return {k: statistics.median(v) for k, v in by.items()}

    def layers(self, ctx) -> dict:
        from dex_data_ingestor_spark.plans.testbed import QUERIES

        ops = ctx.ok_ops()
        construct = sum(op["construct_s"] for op in ops)
        out = {
            "testbed.construct_s": statistics.median(op["construct_s"] for op in ops),
            "testbed.construct_share": construct / sum(op["wall_s"] for op in ops),
        }
        for op in ops:
            op["exec_s"] = op["wall_s"] - op["construct_s"]
        exec_med = self._medians(ctx, "exec_s")
        cons_med = self._medians(ctx, "construct_s")
        for mod in OPERATOR_MODULES:
            names = [q for q in exec_med if mod in operator_modules(QUERIES[q])]
            out[f"operators.{mod}.exec_s"] = sum(exec_med[q] for q in names)
            out[f"operators.{mod}.construct_s"] = sum(cons_med[q] for q in names)
        return out


class WarehouseMix(QueryMix):
    name = "warehouse_mix"
    queries = WAREHOUSE_QUERIES

    def build(self, ctx) -> None:
        datagen.build_tables(ctx.data_dir, ctx.seed, sf=ctx.scale["sf"],
                             n_docs=100, n_vecs=100)

    def e2e(self, ctx) -> dict:
        # queries per second over one full pass
        return self._latencies(ctx, len(self.queries))


class CorpusCuration(QueryMix):
    name = "corpus_curation"
    queries = CORPUS_QUERIES

    def build(self, ctx) -> None:
        datagen.build_tables(ctx.data_dir, ctx.seed, sf=0.001,
                             n_docs=ctx.scale["docs"], n_vecs=ctx.scale["vecs"])

    def e2e(self, ctx) -> dict:
        # documents through one full pass per second
        return self._latencies(ctx, ctx.scale["docs"])


# ---------------------------------------------------------------------------
# Hourly ETL sync and its streaming twin
# ---------------------------------------------------------------------------


def _tree_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _dir_state(root: str) -> dict[str, tuple[int, int]]:
    """Data file -> (size, mtime_ns), to find the files a cycle wrote."""
    out = {}
    for p in _tree_files(root):
        st = os.stat(p)
        out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _table_rows(spark, path: str, cols: list[str]) -> list[tuple]:
    rows = spark.read.parquet(path).select(*cols).collect()
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows
    )


class SnapshotStream:
    """Hourly event files through an AvailableNow file-source stream,
    one file per micro-batch (``maxFilesPerTrigger=1``), into
    ``foreach_batch_merge_snapshots`` keyed on ``event_id``. Each
    :meth:`drain` is one cron run: the next files arrive in the source
    directory and one AvailableNow query on the shared checkpoint
    drains them."""

    def __init__(self, files: list[dict], base: str) -> None:
        self.files = files
        self.src_dir = os.path.join(base, "src")
        self.root = os.path.join(base, "snapshot")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.src_dir, exist_ok=True)
        self.used = 0
        self.progress: list[dict] = []

    def drain(self, ctx, n_files: int) -> list[dict]:
        """Deliver the next ``n_files`` and drain them; returns the
        progress records of the non-empty micro-batches."""
        from dex_data_ingestor_spark.streaming.jobs import (
            events_stream_from_parquet,
            foreach_batch_merge_snapshots,
        )

        arriving = self.files[self.used:self.used + n_files]
        if not arriving:
            return []
        for f in arriving:
            shutil.move(f["path"], self.src_dir)
        self.used += len(arriving)
        stream = events_stream_from_parquet(ctx.spark, self.src_dir, 1)
        q = foreach_batch_merge_snapshots(stream, self.ckpt, self.root,
                                          ["event_id"], ctx.spark)
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress += progress
        return progress

    def gate(self, ctx) -> list[str]:
        """The snapshot must equal a first-wins dedup of the files."""
        from dex_data_ingestor_spark.snapshots import snapshot_read

        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        got = sorted(tuple(r) for r in snapshot_read(ctx.spark, self.root).select(*cols).collect())
        first: dict[int, tuple] = {}
        for f in self.files[:self.used]:
            path = os.path.join(self.src_dir, os.path.basename(f["path"]))
            for row in pq.read_table(path).to_pylist():
                first.setdefault(row["event_id"], tuple(row[c] for c in cols))
        want = sorted(first.values())
        if got != want:
            return [f"snapshot has {len(got)} rows, first-wins dedup {len(want)}"]
        return []

    def layers(self, ctx, progress: list[dict]) -> dict:
        from dex_data_ingestor_spark.snapshots import snapshot_versions

        def med(keys):
            return statistics.median(
                sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0 for p in progress
            )

        written = sum(os.path.getsize(p) for p in _tree_files(os.path.join(self.root, "data")))
        return {
            "streaming.batch_s": med(["triggerExecution"]),
            "streaming.add_batch_s": med(["addBatch"]),
            "streaming.planning_s": med(["queryPlanning"]),
            "streaming.offset_commit_s": med(["latestOffset", "walCommit", "commitOffsets"]),
            "streaming.input_rows": statistics.median(p["numInputRows"] for p in progress),
            "snapshots.write_s": statistics.median(ctx.tracer.by_name("snapshots.write")),
            "snapshots.versions": len(snapshot_versions(self.root)),
            "snapshots.bytes_written_per_user_byte":
                written / sum(f["bytes"] for f in self.files[:self.used]),
        }


class HourlySync(Workload):
    """The reference's hourly cron and its streaming twin. Each timed
    operation is one cycle: the three base tasks through
    ``etl_job_till_now`` into the parquet warehouse, then the hour's
    event file through :class:`SnapshotStream` into the snapshot
    table."""

    name = "hourly_sync"
    min_ops = 5
    gate_first = False
    #: Columns that must agree between the incremental warehouse and a
    #: one-shot catch-up. Load stamps (created_at, updated_at), the
    #: latest-price carry and dim_tokens' first-seen symbol depend on
    #: the window sequence by design and are left out.
    COMPARE = {
        "dim_tokens": ["id", "chain_id", "address"],
        "fact_token_daily_stats": ["token_id", "date", "volume", "volume_usd",
                                   "volume_yoy", "volume_qoq", "txns_count"],
        "fact_yield_stats": ["token_id", "pool_address", "date", "apy", "tvl",
                             "tvl_usd"],
    }

    def build(self, ctx) -> None:
        datagen.build_tables(ctx.data_dir, ctx.seed, sf=0.001, n_docs=10,
                             n_vecs=10, events_sf=ctx.scale["events_sf"])
        # seeded start day, always at 22:00, so the first cycles cross
        # midnight and the daily recompute window resets at the same
        # position in every run
        self.start = dt.datetime(2024, 1, 17 + ctx.rng.randrange(3), 22)
        events = os.path.join(ctx.data_dir, "events.parquet")
        self.ts = pq.read_table(events, columns=["ts"]).column("ts").to_pylist()
        self.bytes_per_row = os.path.getsize(events) / len(self.ts)
        # the stream's files start warm_hours before the first cycle;
        # those hours are drained during set-up
        warm = ctx.scale["warm_hours"]
        self.files = datagen.split_hourly(
            events, os.path.join(ctx.data_dir, "hourly"), ctx.seed,
            self.start - dt.timedelta(hours=warm), warm + ctx.scale["cycle_hours"],
        )

    def prepare(self, ctx) -> None:
        from dex_data_ingestor_spark.io import load_table
        from dex_data_ingestor_spark.plans.pipelines import DexWarehouse, etl_job_till_now

        self.wh_root = os.path.join(ctx.work_dir, "warehouse")
        self.wh = DexWarehouse(ctx.spark, self.wh_root)
        self.events = load_table(ctx.spark, ctx.data_dir, "events")
        self.run_task = etl_job_till_now
        for task in ETL_TASKS:
            etl_job_till_now(self.wh, task, self.events, self.start)
        self.now = self.start
        self.stream = SnapshotStream(self.files, os.path.join(ctx.work_dir, "stream"))
        self.stream.drain(ctx, ctx.scale["warm_hours"])
        self.warm_batches = len(self.stream.progress)

    def step(self, ctx) -> bool:
        now = self.now + dt.timedelta(hours=1)
        rows_in = bisect.bisect_right(self.ts, now) - bisect.bisect_right(self.ts, self.now)

        def run(rec):
            before = _dir_state(self.wh_root) if ctx.tracer.active else None
            for task in ETL_TASKS:
                self.run_task(self.wh, task, self.events, now)
            rec["rows_in"] = rows_in
            if before is not None:
                after = _dir_state(self.wh_root)
                rec["bytes_written"] = sum(
                    size for p, (size, mtime) in after.items()
                    if before.get(p, (None, None))[1] != mtime
                )
            rec["batches"] = self.stream.drain(ctx, 1)

        ctx.run_op("cycle", run)
        self.now = now
        return True

    def gate(self, ctx) -> list[str]:
        from dex_data_ingestor_spark.plans.pipelines import DexWarehouse

        ref_root = os.path.join(ctx.work_dir, "catchup")
        ref = DexWarehouse(ctx.spark, ref_root)
        for task in ETL_TASKS:
            self.run_task(ref, task, self.events, self.now)
        problems = []
        for table, cols in self.COMPARE.items():
            got = _table_rows(ctx.spark, os.path.join(self.wh_root, table), cols)
            want = _table_rows(ctx.spark, os.path.join(ref_root, table), cols)
            if got != want:
                diff = len(set(got) ^ set(want))
                problems.append(f"{table}: {len(got)} vs {len(want)} rows, {diff} differ")
        return problems + self.stream.gate(ctx)

    def e2e(self, ctx) -> dict:
        ops = ctx.ok_ops()
        walls = [op["wall_s"] for op in ops]
        return {
            "op_p50_s": pct(walls, 50),
            "op_p90_s": pct(walls, 90),
            "throughput_per_s": sum(op["rows_in"] for op in ops) / sum(walls),
        }

    def layers(self, ctx) -> dict:
        tr = ctx.tracer
        ops = ctx.ok_ops()
        out = {f"pipelines.{t}_s": statistics.median(tr.by_name(f"pipelines.{t}"))
               for t in ETL_TASKS}
        out["pipelines.merge_write_s"] = statistics.median(tr.by_name("pipelines.merge_write"))
        bookmark = tr.totals_within("incremental.bookmark", "op")
        out["incremental.bookmark_s"] = statistics.median(bookmark.values())
        out["pipelines.rows_in"] = statistics.mean(op["rows_in"] for op in ops)
        written = sum(op["bytes_written"] for op in ops)
        user = sum(op["rows_in"] for op in ops) * self.bytes_per_row
        out["pipelines.bytes_written_per_user_byte"] = written / user
        per_part = [
            len(glob.glob(os.path.join(d, "*.parquet")))
            for t in ("fact_token_daily_stats", "fact_yield_stats")
            for d in glob.glob(os.path.join(self.wh_root, t, "date=*"))
        ]
        out["pipelines.files_per_partition"] = statistics.mean(per_part)
        batches = [p for op in ops for p in op["batches"]]
        out.update(self.stream.layers(ctx, batches))
        return out


WORKLOADS = {w.name: w for w in (WarehouseMix, CorpusCuration, HourlySync)}
