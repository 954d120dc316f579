"""The drive pipeline's mergeable loan state and its one-file ledger.

The state (streaming/loan_state.py) must give the same aggregates as
``clean_and_aggregate`` over every processed file, for any split of the
rows into files and ticks; a tick must read only its new files; and
every crash window between the state write and the ledger write must
still count each file exactly once.
"""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from airflow_loan_etl_pipeline_spark import schemas
from airflow_loan_etl_pipeline_spark.operators.aggregates import mergeable_partials
from airflow_loan_etl_pipeline_spark.plans import drive_pipeline
from airflow_loan_etl_pipeline_spark.plans.loan_etl import clean_and_aggregate
from airflow_loan_etl_pipeline_spark.sources.io import read_csv_dir
from airflow_loan_etl_pipeline_spark.streaming.file_source import (
    LEDGER_SCHEMA,
    commit_parquet,
    ledger_ids,
    load_ledger,
    update_ledger,
)
from airflow_loan_etl_pipeline_spark.streaming.loan_state import (
    AMOUNT_COL,
    GROUP_COLS,
    LoanState,
)

# small examples, each drives real Spark jobs (as in test_properties.py)
SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
ROW_DDL = "status string, product_type string, branch string, amount double, created_at string"


def _as_dict(rows) -> dict[tuple, tuple]:
    out = {}
    for r in rows:
        r = r if isinstance(r, dict) else r.asDict()
        key = tuple(r[c] for c in GROUP_COLS)
        assert key not in out, f"duplicate group {key}"
        out[key] = (r["loan_count"], r["total_amount"])
    return out


def _assert_same(got: dict, want: dict) -> None:
    assert set(got) == set(want)
    for key, (n, total) in want.items():
        assert got[key][0] == n, key
        if total is None:
            assert got[key][1] is None, key
        else:
            assert math.isclose(got[key][1], total, rel_tol=1e-9, abs_tol=1e-9), key


def _full(df) -> dict:
    _cleaned, aggs = clean_and_aggregate(
        df, group_cols=GROUP_COLS, amount_col=AMOUNT_COL, date_col="created_at"
    )
    return _as_dict(aggs.collect())


# --- equivalence property ---------------------------------------------

_row = st.tuples(
    st.sampled_from(["ACTIVE", "CLOSED", "DEFAULT", None, None]),
    st.sampled_from(["HOME", "AUTO", None]),
    st.sampled_from(["North", "South", None, None]),
    st.one_of(st.none(), st.sampled_from([100.0, 250.5, 999.99, 1e7, 0.1])),
)
# ticks -> files landed in that tick -> rows of the file
_ticks = st.lists(
    st.lists(st.lists(_row, max_size=6), min_size=1, max_size=3),
    min_size=1, max_size=4,
)
A, B = ("ACTIVE", "HOME", "North"), ("CLOSED", "AUTO", "South")


@settings(**SETTINGS)
@given(ticks=_ticks)
# a later file flips every mode: the rows imputed in tick 1 move groups
@example(ticks=[
    [[(*A, 100.0), (*A, 100.0), (None, None, None, None)]],
    [[(*B, 250.5)] * 3],
])
# ties (one each) settle by value asc; null-heavy keys
@example(ticks=[[[("CLOSED", None, None, 0.1), ("ACTIVE", None, "South", 1e7),
                  (None, "AUTO", None, None), (None, None, None, 0.1)]]])
# `amount` all null: totals stay null
@example(ticks=[[[(*A, None), (*B, None)]], [[(None, "AUTO", "North", None)]]])
# a group whose amounts are all null takes n x the amount mode
@example(ticks=[[[(*A, 250.5), (*A, 250.5)], [(*B, None), (*B, None)]]])
def test_state_matches_full_aggregate_for_any_split(spark, tmp_path_factory, ticks):
    path = str(tmp_path_factory.mktemp("state") / "loan_state.parquet")
    state, seen = LoanState.empty(), []
    for t, files in enumerate(ticks):
        rows = [(*r, "2024-01-01 00:00:00") for f in files for r in f]
        delta = spark.createDataFrame(rows, ROW_DDL)
        names = [f"t{t}_f{i}.csv" for i in range(len(files))]
        state = state.merge(*mergeable_partials(delta, GROUP_COLS, AMOUNT_COL), names)
        state.save(path)
        state = LoanState.load(path)
        assert state.files == {n for tt in range(t + 1)
                               for n in (f"t{tt}_f{i}.csv" for i in range(len(ticks[tt])))}
        seen += rows
    _assert_same(_as_dict(state.aggregates().to_pylist()),
                 _full(spark.createDataFrame(seen, ROW_DDL)))


def test_nan_amount_is_imputed_like_null(spark):
    """fillna replaces NaN as well as null in a double column."""
    rows = [(*A, 5.0, "x"), (*A, 5.0, "x"), (*A, float("nan"), "x"), (*B, None, "x")]
    df = spark.createDataFrame(rows, ROW_DDL)
    state = LoanState.empty().merge(*mergeable_partials(df, GROUP_COLS, AMOUNT_COL), ["f"])
    got = _as_dict(state.aggregates().to_pylist())
    assert got == {A: (3, 15.0), B: (1, 5.0)}
    _assert_same(got, _full(df))


# --- the tick: reads, crash windows, lifetime ---------------------------

HEADER = (
    "loan_id,customer_id,created_at,amount,interest_rate,tenure_months,"
    "status,product_type,branch,credit_score_band"
)


def _land(watch, name: str, rows: list[tuple]) -> None:
    """rows of (status, product_type, branch, amount or None)."""
    lines = [HEADER] + [
        f"L{i},C{i},2024-03-01 10:00:00,{'' if a is None else a},5.0,12,"
        f"{s or ''},{p or ''},{b or ''},GOOD"
        for i, (s, p, b, a) in enumerate(rows)
    ]
    (watch / name).write_text("\n".join(lines) + "\n")


FILES = {
    "loan_a.csv": [(*A, 100.0), (*A, 100.0), (None, "HOME", None, None)],
    "loan_b.csv": [(*B, 250.5), ("CLOSED", None, "South", 250.5)],
    "loan_c.csv": [(*B, 250.5), (*B, None), (*B, 250.5)],
    "loan_d.csv": [("DEFAULT", "AUTO", "North", 7.0)],
}


def _expected(spark, watch, names) -> dict:
    return _full(read_csv_dir(spark, [str(watch / n) for n in sorted(names)],
                              schema=schemas.LOAN))


def _tick(spark, watch, work):
    return drive_pipeline.run_drive_pipeline(spark, str(watch), work)


def _setup(spark, tmp_path, names=("loan_a.csv", "loan_b.csv")):
    watch = tmp_path / "watch"
    watch.mkdir()
    for n in names:
        _land(watch, n, FILES[n])
    work = str(tmp_path / "work")
    _tick(spark, watch, work)
    return watch, work


def _record_reads(monkeypatch) -> list[list[str]]:
    reads: list[list[str]] = []
    real = drive_pipeline.read_csv_dir

    def recording(spark, paths, **kw):
        reads.append(sorted(os.path.basename(p) for p in paths))
        return real(spark, paths, **kw)

    monkeypatch.setattr(drive_pipeline, "read_csv_dir", recording)
    return reads


def test_tick_reads_only_new_files(spark, tmp_path, monkeypatch):
    watch, work = _setup(spark, tmp_path)
    reads = _record_reads(monkeypatch)
    _land(watch, "loan_c.csv", FILES["loan_c.csv"])
    summaries, aggs, _ = _tick(spark, watch, work)
    assert [s["filename"] for s in summaries] == ["loan_c.csv"]
    assert reads == [["loan_c.csv"]]
    _assert_same(_as_dict(aggs.collect()),
                 _expected(spark, watch, ["loan_a.csv", "loan_b.csv", "loan_c.csv"]))


def test_crash_after_state_before_ledger_counts_file_once(spark, tmp_path, monkeypatch):
    watch, work = _setup(spark, tmp_path)
    _land(watch, "loan_c.csv", FILES["loan_c.csv"])

    def crash(*a, **k):
        raise RuntimeError("crash before the ledger commit")

    monkeypatch.setattr(drive_pipeline, "update_ledger", crash)
    try:
        _tick(spark, watch, work)
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert "loan_c.csv" in LoanState.load(os.path.join(work, "loan_state.parquet")).files
    assert "loan_c.csv" not in ledger_ids(os.path.join(work, "ledger"))

    reads = _record_reads(monkeypatch)
    summaries, aggs, _ = _tick(spark, watch, work)
    assert [s["filename"] for s in summaries] == ["loan_c.csv"]  # reported again
    assert reads == []  # but already counted
    _assert_same(_as_dict(aggs.collect()), _expected(spark, watch, FILES.keys() - {"loan_d.csv"}))
    assert ledger_ids(os.path.join(work, "ledger")) == {"loan_a.csv", "loan_b.csv", "loan_c.csv"}


def _truncate(path: str) -> None:
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)


def _forget_c(work: str, watch) -> None:
    """The state covers loan_c, which the ledger lacks and the folder no
    longer offers (a restored ledger, a removed file)."""
    path = os.path.join(work, "ledger")
    table = pq.read_table(path)
    commit_parquet(table.filter(pa.compute.not_equal(table["file_id"], "loan_c.csv")), path)
    (watch / "loan_c.csv").unlink()


def test_bad_state_is_rebuilt(spark, tmp_path, monkeypatch):
    watch, work = _setup(spark, tmp_path, ("loan_a.csv", "loan_b.csv", "loan_c.csv"))
    state_path = os.path.join(work, "loan_state.parquet")
    landed = {"loan_a.csv", "loan_b.csv", "loan_c.csv"}
    for n, (damage, gone) in zip(
        ("loan_d.csv", "loan_e.csv", "loan_f.csv"),
        ((os.remove, set()), (_truncate, set()),
         (lambda p: _forget_c(work, watch), {"loan_c.csv"})),
    ):
        damage(state_path)
        landed = landed - gone | {n}
        _land(watch, n, FILES["loan_d.csv"])
        reads = _record_reads(monkeypatch)
        _summaries, aggs, _ = _tick(spark, watch, work)
        monkeypatch.undo()
        assert reads == [sorted(landed)]  # rebuilt from every processed file
        _assert_same(_as_dict(aggs.collect()), _expected(spark, watch, landed))
        assert LoanState.load(state_path).files == landed


def test_aggs_frame_outlives_later_ticks(spark, tmp_path):
    watch = tmp_path / "watch"
    watch.mkdir()
    work = str(tmp_path / "work")
    _land(watch, "loan_a.csv", FILES["loan_a.csv"])
    _s, aggs1, _ = _tick(spark, watch, work)
    first = sorted(map(tuple, aggs1.collect()))
    for n in ("loan_b.csv", "loan_c.csv"):
        _land(watch, n, FILES[n])
        _s, aggs, _ = _tick(spark, watch, work)
    assert sorted(map(tuple, aggs1.collect())) == first
    assert sorted(map(tuple, aggs.collect())) != first


# --- the ledger ---------------------------------------------------------


def test_ledger_keeps_first_processed_at(spark, tmp_path):
    path = str(tmp_path / "ledger")
    update_ledger(spark, path, ["loan_a.csv"])
    first = pq.read_table(path).to_pylist()
    update_ledger(spark, path, ["loan_a.csv", "loan_b.csv"])
    rows = {r["file_id"]: r["processed_at"] for r in pq.read_table(path).to_pylist()}
    assert rows["loan_a.csv"] == first[0]["processed_at"]
    assert rows["loan_b.csv"] >= rows["loan_a.csv"]
    assert os.path.isfile(path) and sorted(os.listdir(tmp_path)) == ["ledger"]


def test_spark_ledger_directory_is_read_and_migrated(spark, tmp_path):
    """A ledger directory from the older Spark writer (part files +
    _SUCCESS) is read as is, migrated to one file on the next update,
    and the first tick after the upgrade rebuilds the missing state."""
    import datetime as dt

    watch = tmp_path / "watch"
    watch.mkdir()
    for n in ("loan_a.csv", "loan_b.csv"):
        _land(watch, n, FILES[n])
    work = str(tmp_path / "work")
    path = os.path.join(work, "ledger")
    then = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
    spark.createDataFrame([("loan_a.csv", then)], LEDGER_SCHEMA).write.parquet(path)
    assert os.path.isdir(path) and "_SUCCESS" in os.listdir(path)
    assert ledger_ids(path) == {"loan_a.csv"}
    assert [r["file_id"] for r in load_ledger(spark, path).collect()] == ["loan_a.csv"]

    summaries, aggs, _ = _tick(spark, watch, work)
    assert [s["filename"] for s in summaries] == ["loan_b.csv"]
    _assert_same(_as_dict(aggs.collect()), _expected(spark, watch, ["loan_a.csv", "loan_b.csv"]))
    assert os.path.isfile(path) and not os.path.exists(path + ".old")
    rows = {r["file_id"]: r["processed_at"] for r in pq.read_table(path).to_pylist()}
    assert rows.keys() == {"loan_a.csv", "loan_b.csv"}
    assert rows["loan_a.csv"] == then
