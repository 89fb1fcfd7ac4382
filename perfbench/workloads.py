"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned.

A workload object has ``setup()`` (stage the seeded inputs, warm up),
``op(i)`` (one timed operation, returning ``True`` when its output checked
out), ``at_boundary()`` (a unit of work is complete), ``enough()`` (the
medians have their samples) and ``finish()`` (the end-of-run correctness
gate, returning failed operations). Timings land in
``self.samples``; per-operation input bytes in ``self.input_bytes``.
"""

from __future__ import annotations

import importlib.util
import os
import time
from contextlib import contextmanager

import numpy as np

import datagen

# query_mix entries. SHORT sit at the dispatch floor; the rest carry the
# operator, Arrow/Python-worker and structured-streaming paths.
SHORT = (
    "b20_groupby_agg",
    "e01_sessionize",
    "d04l_ngram_counts",
    "e08b_time_gapfill_interp",
)
HEAVY = (
    "d02b_minhash_dedup",
    "d03h_ann_join",
    "c09_stream_ingest_exactly_once",
)
SHORT_REPS = 2  # short entries run this often per pass, for a steadier floor
QUERY_TABLES = {
    "b20_groupby_agg": ("lineitem",),
    "e01_sessionize": ("events",),
    "d04l_ngram_counts": ("documents",),
    "e08b_time_gapfill_interp": ("events",),
    "d02b_minhash_dedup": ("documents",),
    "d03h_ann_join": ("embeddings",),
    "c09_stream_ingest_exactly_once": ("events",),
}
STREAM_NODES = ("consume",)  # the nodes of examples/incremental_stream
QUERY_SF = 0.01  # the scale the DuckDB oracles are checked at
STREAM_SF = 0.1
BATCH_ROWS = (2_400, 4_000)  # micro-batch sizes are drawn from this range
POINT_ROWS = 100  # event ids per point read


def load_sweep(root: str):
    """``tools/sweep_correctness.py``: the canonical frame comparison the
    registry sweep uses (sorted columns and rows, floats to 6 places)."""
    spec = importlib.util.spec_from_file_location(
        "sweep_correctness", os.path.join(root, "tools", "sweep_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _median(xs) -> float | None:
    return float(np.median(xs)) if xs else None


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = np.random.default_rng([ctx.seed, 100])
        self.samples: dict[str, list[float]] = {}
        self.input_bytes: dict[int, int] = {}
        self.errors: list[str] = []

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    @contextmanager
    def op_scope(self, i: int, name: str, group: str):
        """Span and Spark job group of operation ``i`` (0 = warm-up)."""
        self.ctx.tracer.op = i
        with self.ctx.tracer.span(f"op:{name}", group=group), self.ctx.groups.group(group):
            yield


class QueryMix(Workload):
    """Registry entries ``all_queries()[name].spark(spark, sf)`` then
    materialized, in a seeded order per pass. Every output is compared with
    the first output of its entry, which is checked against the entry's
    DuckDB oracle at the end of the run."""

    name = "query_mix"
    sf = QUERY_SF

    def setup(self) -> None:
        from basis_devkit_spark.queries import all_queries

        ctx = self.ctx
        self.sweep = load_sweep(ctx.root)
        self.table_bytes = datagen.stage(
            ctx.data_dir, ctx.seed, ctx.sf or self.sf, datagen.TABLES
        )
        registry = all_queries()
        self.entries = {n: registry[n] for n in SHORT + HEAVY}
        self.reference: dict[str, object] = {}
        self.runs: dict[str, int] = dict.fromkeys(self.entries, 0)
        self.order: list[str] = []
        for name in self._pass_order(reps=1):  # warm-up pass, outputs kept
            self.reference[name] = self._run(name, 0)

    def _pass_order(self, reps: int = SHORT_REPS) -> list[str]:
        names = list(HEAVY) + list(SHORT) * reps
        return [str(n) for n in self.rng.permutation(names)]

    def _run(self, name: str, i: int):
        ctx = self.ctx
        with self.op_scope(i, f"query:{name}", f"query:{name}#{i}"):
            t0 = time.perf_counter()
            with ctx.tracer.span("queries.build"):
                df = self.entries[name].spark(self.spark, ctx.data_dir)
            if ctx.tracer.on:
                with ctx.tracer.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with ctx.tracer.span("queries.collect"):
                pdf = df.toPandas()
            wall = time.perf_counter() - t0
        if i:
            self.sample(f"query:{name}", wall)
        return self.sweep.canon(pdf)

    def op(self, i: int) -> bool:
        if not self.order:
            self.order = self._pass_order()
        name = self.order.pop(0)
        self.input_bytes[i] = sum(self.table_bytes[t] for t in QUERY_TABLES[name])
        out = self._run(name, i)
        self.runs[name] += 1
        ok = self.sweep.exact_match(out, self.reference[name])
        if not ok:
            self.errors.append(f"{name}: output differs from its first run")
        return ok

    def at_boundary(self) -> bool:
        """Whole passes only, so every entry has as many samples."""
        return not self.order

    def enough(self) -> bool:
        return all(self.runs.values())

    def _medians(self, names) -> list[float] | None:
        walls = [self.samples.get(f"query:{n}") for n in names]
        return [float(np.median(w)) for w in walls] if all(walls) else None

    def work_wall(self) -> float | None:
        """One pass over the mix: the sum of each entry's median wall."""
        m = self._medians(self.entries)
        return sum(m) if m else None

    def short_wall(self) -> float | None:
        """The dispatch floor: the mean of the short entries' median walls."""
        m = self._medians(SHORT)
        return sum(m) / len(m) if m else None

    def finish(self) -> int:
        import duckdb

        ctx = self.ctx
        con = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(ctx.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        failed = 0
        for k, name in enumerate(self.entries):
            expected = self.sweep.canon(
                con.execute(self.entries[name].oracle_text()).fetchdf()
            )
            if ctx.corrupt and k == 0:
                expected = expected.iloc[:-1]
            got = self.reference[name]
            ok = (
                got.shape == expected.shape
                and list(got.columns) == list(expected.columns)
                and self.sweep.values_match(got, expected)
                and self.sweep.exact_match(got, expected)
            )
            if not ok:
                self.errors.append(f"{name}: differs from its DuckDB oracle")
                failed += self.runs[name]
        con.close()
        return failed


class StreamIngest(Workload):
    """Micro-batches of events, in ``event_id`` order, appended to the
    ``events`` store of ``examples/incremental_stream``; ``run_graph()``
    consumes each through the stream cursor and upserts ``running_totals``.
    Visible = the totals count every ingested event. Then a
    ``read_pruned`` point read of ``POINT_ROWS`` ids on ``events``."""

    name = "stream_ingest"
    sf = STREAM_SF

    def setup(self) -> None:
        from basis_devkit_spark import Engine

        ctx = self.ctx
        self.events = datagen.events(ctx.seed, ctx.sf or self.sf)
        self.batch_dir = os.path.join(ctx.data_dir, "batches")
        os.makedirs(self.batch_dir)
        scale = (ctx.sf or self.sf) / self.sf  # < 1 only in the self-check
        lo, hi = (max(2, int(x * scale)) for x in BATCH_ROWS)
        self.point_rows = max(1, int(POINT_ROWS * scale))
        self.sizes = self.rng.integers(lo, hi, len(self.events) // lo + 1)
        self.ingested = 0
        self.n_batches = 0
        self.engine = Engine(self.spark, ctx.store_dir)
        self.engine.load_graph(os.path.join(ctx.root, "examples", "incremental_stream"))
        path, _ = self._stage_batch()
        self.engine.seed_store("events", self.spark.read.parquet(path))
        self._cycle(0, appended=True)  # cold consume
        self._cycle(0)  # warm append path

    def _stage_batch(self) -> tuple[str, int]:
        b = self.n_batches
        self.n_batches += 1
        n = int(self.sizes[b])
        if self.ingested + n > len(self.events):
            raise RuntimeError("stream_ingest ran out of generated events")
        batch = self.events.iloc[self.ingested : self.ingested + n]
        path = os.path.join(self.batch_dir, f"b{b:05d}.parquet")
        size = datagen.write_parquet(batch, path)
        self.ingested += n
        return path, size

    def _cycle(self, i: int, appended: bool = False) -> bool:
        from pyspark.sql import functions as F

        ctx = self.ctx
        eng = self.engine
        if not appended:
            path, self.input_bytes[i] = self._stage_batch()
        lo = int(self.rng.integers(0, self.ingested - self.point_rows + 1))
        with self.op_scope(i, "batch", f"batch#{i}"):
            t0 = time.perf_counter()
            if not appended:
                eng.store("events").append(self.spark.read.parquet(path))
            eng.run_graph()
            seen = eng.table_df("running_totals").agg(F.sum("n")).first()[0]
            visible = time.perf_counter() - t0
            t1 = time.perf_counter()
            n = (
                eng.store("events")
                .read_pruned([("event_id", ">=", lo), ("event_id", "<", lo + self.point_rows)])
                .count()
            )
            read = time.perf_counter() - t1
        ok = True
        if seen != self.ingested:
            self.errors.append(f"batch {i}: totals count {seen} events, {self.ingested} ingested")
            ok = False
        if n != self.point_rows:
            self.errors.append(f"batch {i}: point read returned {n} rows, not {self.point_rows}")
            ok = False
        if i:
            self.sample("visible", visible)
            self.sample("read", read)
        return ok

    def op(self, i: int) -> bool:
        return self._cycle(i)

    def at_boundary(self) -> bool:
        return True

    def enough(self) -> bool:
        return len(self.samples.get("visible", ())) >= 3

    def work_wall(self) -> float | None:
        return _median(self.samples.get("visible"))

    def short_wall(self) -> float | None:
        return _median(self.samples.get("read"))

    def finish(self) -> int:
        """Final ``running_totals`` against a one-shot group-by over every
        ingested event: ``n`` exact, ``total`` within 1e-9 relative."""
        got = self.engine.table_df("running_totals").toPandas().set_index("event_type")
        ev = self.events.iloc[: self.ingested]
        want = ev.groupby("event_type").agg(n=("value", "size"), total=("value", "sum"))
        if self.ctx.corrupt:
            want.iloc[0, 0] += 1
        ok = sorted(got.index) == sorted(want.index) and all(
            int(got.at[t, "n"]) == int(want.at[t, "n"])
            and abs(got.at[t, "total"] - want.at[t, "total"]) <= 1e-9 * abs(want.at[t, "total"])
            for t in want.index
        )
        if not ok:
            self.errors.append("running_totals differ from a one-shot group-by of the events")
            return len(self.samples.get("visible", ())) or 1
        return 0


WORKLOADS = {w.name: w for w in (QueryMix, StreamIngest)}
