"""The four workloads. Each drives the package's public functions on
inputs generated from the seed, times one operation at a time (a tick,
an ETL run or a build) and checks every output outside the timed span.

A workload's ``prepare`` runs the first operation in a cold JVM (its
time is ``run.first_op_s``) plus any warm-up, whose check failures it
reports with the first operation's; ``step`` runs one timed operation;
``finish`` makes the checks that span the whole run.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.plans import corpus_build, drive_pipeline, loan_etl
from airflow_loan_etl_pipeline_spark.sources import io
from perfbench import checks, gen


@dataclass
class Op:
    """One operation: its wall time, check failures and the counts the
    per-layer metrics are built from."""

    kind: str  # "op" (the workload's operation) or "idle" (tick, nothing new)
    seconds: float
    errors: list[str]
    trace: str | None = None
    counts: dict[str, float] = field(default_factory=dict)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


class Workload:
    name = ""
    WRITES = False  # calls sources.io.write_parquet

    def __init__(self, ctx):
        self.ctx = ctx  # perfbench.run.Context
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def timed(self, fn, traced: bool, trace_id: str):
        """Run ``fn`` under a root span when traced; returns (result,
        seconds). The clock stops when ``fn`` returns its result."""
        tracer = self.ctx.tracer
        t0 = time.perf_counter()
        if traced:
            with tracer.span("driver", self.name, trace=trace_id):
                out = fn()
        else:
            out = fn()
        return out, time.perf_counter() - t0

    def next_kind(self) -> str:
        """Kind of the next step's operation ("op" or "idle")."""
        return "op"

    def prepare(self) -> Op:
        raise NotImplementedError

    def step(self, i: int, traced: bool) -> Op:
        raise NotImplementedError

    def finish(self) -> list[str]:
        return []


# --- loan ticks -----------------------------------------------------------


class _Ticks(Workload):
    """Shared by backfill and steady_ticks: one run_drive_pipeline call
    per tick over a watched folder, checked against the landed frames."""

    def tick(self, watch: str, work: str, landed: dict, seen: dict,
             traced: bool, trace_id: str, t_land: float | None = None):
        """Run one tick; ``landed`` = this tick's new files (name ->
        frame), ``seen`` = every file ledgered before it."""
        spark = self.ctx.spark
        t0 = time.perf_counter() if t_land is None else t_land
        (summaries, aggs, html), _ = self.timed(
            lambda: drive_pipeline.run_drive_pipeline(spark, watch, work), traced, trace_id
        )
        seconds = time.perf_counter() - t0
        names = sorted(landed)
        errs = []
        got = sorted(s["filename"] for s in summaries)
        if got != names:
            errs.append(f"tick reported {got}, landed {names}")
        if landed:
            frames = [*seen.values(), *landed.values()]
            expected = checks.expected_aggregates(frames)
            errs += checks.check_report(html, names, checks.expected_top(expected))
            errs += checks.check_compressed(summaries, watch)
        elif html is not None:
            errs.append("idle tick rendered a report")
        csv_bytes = sum(
            os.path.getsize(os.path.join(watch, n)) for n in [*seen, *landed]
        )
        new_bytes = sum(os.path.getsize(os.path.join(watch, n)) for n in landed)
        listed = [n for n in os.listdir(watch) if n.startswith("loan_")]
        op = Op(
            "op" if landed else "idle", seconds, errs, trace_id if traced else None,
            {
                "sources.drive_source.files": len(listed),
                "sources.drive_source.bytes": sum(
                    os.path.getsize(os.path.join(watch, n)) for n in listed
                ),
                "compress.bytes_in": sum(s["original_size"] for s in summaries),
                "compress.bytes_out": sum(s["compressed_size"] for s in summaries),
                "streaming.file_source.ledger_files": len(
                    checks.read_ledger(os.path.join(work, "ledger"))
                ),
                "input_csv_bytes": csv_bytes if landed else 0,
                "new_csv_bytes": new_bytes,
            },
        )
        return op, summaries, aggs


class Backfill(_Ticks):
    """Empty ledger, a folder of loan CSVs lands, one tick runs. Every
    tick gets a fresh folder of fresh files and a fresh work dir."""

    name = "backfill"
    FILES, ROWS = 8, 10_000

    def _one(self, i: int, traced: bool, full_check: bool) -> Op:
        watch = os.path.join(self.work, f"watch{i}")
        batch = gen.land_loans(watch, self.ctx.seed * 1000 + i, self.FILES,
                               self.ROWS, tag=f"b{i}")
        state = os.path.join(self.work, f"state{i}")
        op, summaries, aggs = self.tick(watch, state, batch, {}, traced,
                                        f"{self.name}-{i}")
        op.errors += checks.check_exactly_once(
            [[s["filename"] for s in summaries]], sorted(batch),
            checks.read_ledger(os.path.join(state, "ledger")),
        )
        if full_check and aggs is not None:
            op.errors += checks.check_aggregates(
                [r.asDict() for r in aggs.collect()],
                checks.expected_aggregates(list(batch.values())),
            )
        shutil.rmtree(watch, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)
        return op

    def prepare(self) -> Op:
        first = self._one(0, False, True)
        first.errors += self._one(1, False, False).errors  # warm-up
        return first

    def step(self, i: int, traced: bool) -> Op:
        return self._one(i + 2, traced, False)


class SteadyTicks(_Ticks):
    """A ledgered history, then closed-loop ticks (cron with
    max_active_runs=1). Before each tick the seeded schedule lands 0 or
    1 small file: each pair of ticks holds one landing, in seeded order,
    so half the ticks are idle."""

    name = "steady_ticks"
    HISTORY_FILES, HISTORY_ROWS, NEW_ROWS = 4, 10_000, 2_000
    WARM_PAIRS = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.watch = os.path.join(self.work, "watch")
        self.state = os.path.join(self.work, "state")
        self.rng = np.random.default_rng(ctx.seed)
        self.seen: dict = {}
        self.tick_files: list[list[str]] = []
        self.landings = 0
        self.last_aggs = None
        self._pair: list[bool] = []

    def next_kind(self) -> str:
        if not self._pair:
            self._pair = [True, False] if self.rng.random() < 0.5 else [False, True]
        return "op" if self._pair[0] else "idle"

    def _tick(self, traced: bool, trace_id: str) -> Op:
        self.next_kind()
        landed, t_land = {}, None
        if self._pair.pop(0):
            name = f"loan_new_{self.landings:05d}.csv"
            frame = gen.loan_frame(
                self.ctx.seed * 100_003 + self.landings, self.NEW_ROWS,
                10_000_000 + self.landings * self.NEW_ROWS,
            )
            t_land = time.perf_counter()
            gen.write_loan_csv(frame, os.path.join(self.watch, name))
            landed = {name: frame}
            self.landings += 1
        op, summaries, aggs = self.tick(self.watch, self.state, landed, self.seen,
                                        traced, trace_id, t_land)
        self.tick_files.append([s["filename"] for s in summaries])
        self.seen.update(landed)
        if aggs is not None:
            self.last_aggs = aggs
        return op

    def prepare(self) -> Op:
        hist = gen.land_loans(self.watch, self.ctx.seed, self.HISTORY_FILES,
                              self.HISTORY_ROWS, tag="hist")
        op, summaries, _ = self.tick(self.watch, self.state, hist, {},
                                     False, "history")
        self.tick_files.append([s["filename"] for s in summaries])
        self.seen.update(hist)
        for _ in range(2 * self.WARM_PAIRS):
            op.errors += self._tick(False, "warm").errors
        return op

    def step(self, i: int, traced: bool) -> Op:
        return self._tick(traced, f"{self.name}-{i}")

    def finish(self) -> list[str]:
        errs = checks.check_exactly_once(
            self.tick_files, sorted(self.seen),
            checks.read_ledger(os.path.join(self.state, "ledger")),
        )
        if self.last_aggs is not None:
            errs += checks.check_aggregates(
                [r.asDict() for r in self.last_aggs.collect()],
                checks.expected_aggregates(list(self.seen.values())),
            )
        return errs


# --- ETL sink -------------------------------------------------------------


class EtlSink(Workload):
    """read_csv_dir -> clean_and_aggregate -> write_parquet (cleaned rows
    partitioned by created_year, aggregates beside them) ->
    latest_aggregates_summary over the re-read aggregates: the shape of
    the reference's run_loan_spark_etl. Fresh input and output per run."""

    name = "etl_sink"
    WRITES = True
    FILES, ROWS = 4, 15_000

    def _one(self, i: int, traced: bool) -> Op:
        spark = self.ctx.spark
        src = os.path.join(self.work, f"in{i}")
        out = os.path.join(self.work, f"out{i}")
        batch = gen.land_loans(src, self.ctx.seed * 1000 + i, self.FILES,
                               self.ROWS, tag=f"e{i}")

        def run():
            loans = io.read_csv_dir(spark, src, schema=schemas.LOAN)
            cleaned, aggs = loan_etl.clean_and_aggregate(
                loans, group_cols=list(gen.GROUP_COLS), amount_col="amount",
                date_col="created_at",
            )
            io.write_parquet(cleaned, os.path.join(out, "cleaned"),
                             partition_by=["created_year"])
            io.write_parquet(aggs, os.path.join(out, "aggregates"))
            return loan_etl.latest_aggregates_summary(
                io.read_parquet(spark, os.path.join(out, "aggregates")), limit=10
            )

        top, seconds = self.timed(run, traced, f"{self.name}-{i}")
        expected = checks.expected_aggregates(list(batch.values()))
        errs = checks.check_sink(os.path.join(out, "cleaned"),
                                 self.FILES * self.ROWS, gen.IMPUTED)
        errs += checks.check_aggregates(
            checks.read_parquet_rows(os.path.join(out, "aggregates")), expected
        )
        errs += checks.check_top(
            [(*(r[c] for c in gen.GROUP_COLS), r["loan_count"], r["total_amount"])
             for r in top],
            checks.expected_top(expected),
        )
        csv_bytes, _ = _dir_bytes(src)
        out_bytes, out_files = _dir_bytes(out)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return Op("op", seconds, errs, f"{self.name}-{i}" if traced else None, {
            "input_csv_bytes": csv_bytes,
            "new_csv_bytes": csv_bytes,
            "sources.io.write.bytes": out_bytes,
            "sources.io.write.files": out_files,
            "sources.io.write.bytes_per_input_byte": out_bytes / csv_bytes,
        })

    def prepare(self) -> Op:
        # runs keep getting faster for several ETL runs in a fresh JVM;
        # one warm run keeps the window off the steepest part
        first = self._one(0, False)
        first.errors += self._one(1, False).errors
        return first

    def step(self, i: int, traced: bool) -> Op:
        return self._one(i + 2, traced)


# --- corpus build ---------------------------------------------------------


class CorpusBuild(Workload):
    """plans.corpus_build.build_corpus over a generated documents table
    with stated duplicate, near-duplicate and contamination shares; the
    expected summary is the registry's DuckDB oracle, computed once per
    seed while the first (cold, untimed) build runs — the oracle takes
    ~4 s, and a run has no time to spare for it (see README)."""

    name = "corpus_build"
    DOCS = 200

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf_dir = os.path.join(self.work, "sf")
        self.path = gen.write_documents(
            gen.documents_frame(ctx.seed, self.DOCS), self.sf_dir
        )
        self.expected: list[dict] = []

    def _build(self, i: int, traced: bool) -> tuple[list[dict], float]:
        return self.timed(
            lambda: [r.asDict() for r in
                     corpus_build.build_corpus(self.ctx.spark, self.sf_dir).collect()],
            traced, f"{self.name}-{i}",
        )

    def prepare(self) -> Op:
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(oracle_corpus_summary, self.path)
            first, seconds = self._build(0, False)
            self.expected = oracle.result()
        return Op("op", seconds, checks.check_corpus(first, self.expected))

    def step(self, i: int, traced: bool) -> Op:
        rows, seconds = self._build(i + 1, traced)
        return Op("op", seconds, checks.check_corpus(rows, self.expected),
                  f"{self.name}-{i + 1}" if traced else None)


def oracle_corpus_summary(documents_path: str) -> list[dict]:
    """registry.ORACLE["corpus_build_summary"] run in DuckDB."""
    import duckdb

    from airflow_loan_etl_pipeline_spark import registry, registry_text  # noqa: F401

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute("SET enable_progress_bar=false")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}')"
        )
        cur = con.execute(registry.ORACLE["corpus_build_summary"])
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (Backfill, SteadyTicks, EtlSink, CorpusBuild)}
