"""Tests of the benchmark's own parts; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os

import pandas as pd
import pytest

from perfbench import checks, gen, layers
from perfbench.trace import Span, callsite_layer, layer_metrics, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --- generators ---------------------------------------------------------------


def test_loan_generator_is_deterministic(tmp_path):
    a = gen.land_loans(str(tmp_path / "a"), 7, 2, 500)
    b = gen.land_loans(str(tmp_path / "b"), 7, 2, 500)
    assert sorted(a) == sorted(b) and len(a) == 2
    for name in a:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    c = gen.loan_frame(8, 500)
    assert not c.equals(a[sorted(a)[0]])


def test_loan_generator_states_its_nulls_and_amounts():
    f = gen.loan_frame(3, 20_000)
    for col, share in gen.NULL_SHARE.items():
        assert abs((f[col] == "").mean() - share) < 0.01
    for col in ("loan_id", "customer_id", "created_at"):
        assert (f[col] != "").all()
    amounts = f.loc[f["amount"] != "", "amount"]
    assert amounts.str.fullmatch(r"\d+\.\d\d").all()
    assert (f["status"].value_counts(normalize=True).iloc[0]) > 0.5  # skewed


def test_document_generator_is_deterministic_and_mixed(tmp_path):
    a = gen.documents_frame(5, 400)
    assert a.equals(gen.documents_frame(5, 400))
    assert not a.equals(gen.documents_frame(6, 400))
    pa_ = gen.write_documents(a, str(tmp_path / "x"))
    pb = gen.write_documents(gen.documents_frame(5, 400), str(tmp_path / "y"))
    assert open(pa_, "rb").read() == open(pb, "rb").read()
    dup_share = a["text"].duplicated().mean()
    assert 0.04 < dup_share < 0.15


# --- checks reject corrupted results -------------------------------------------


@pytest.fixture
def loans():
    return [gen.loan_frame(11, 3_000), gen.loan_frame(12, 2_000, 3_000)]


def _as_rows(expected):
    return [
        dict(zip((*gen.GROUP_COLS, "loan_count", "total_amount"), (*k, c, s)))
        for k, (c, s) in expected.items()
    ]


def test_mode_rule_count_then_string():
    s = pd.Series(["b", "a", "b", "a", "", "", "", "c"])
    assert checks.column_mode(s) == "a"  # tie on count 2: "a" < "b"; "" is null
    amounts = pd.Series(["10.50", "9.00", "10.5", "9.0"])
    # rendered as the engine casts doubles: '10.5' < '9.0' as strings
    assert checks.column_mode(amounts, lambda v: repr(float(v))) == "10.5"


def test_aggregates_check_accepts_truth_and_rejects_corruption(loans):
    expected = checks.expected_aggregates(loans)
    rows = _as_rows(expected)
    assert checks.check_aggregates(rows, expected) == []
    wrong_count = [dict(r) for r in rows]
    wrong_count[0]["loan_count"] += 1
    assert checks.check_aggregates(wrong_count, expected)
    wrong_sum = [dict(r) for r in rows]
    wrong_sum[1]["total_amount"] *= 1 + 1e-6
    assert checks.check_aggregates(wrong_sum, expected)
    assert checks.check_aggregates(rows[1:], expected)


def test_expected_aggregates_impute_before_grouping(loans):
    expected = checks.expected_aggregates(loans)
    assert sum(c for c, _ in expected.values()) == 5_000
    assert not any("" in k for k in expected)


def test_report_check(loans):
    expected = checks.expected_aggregates(loans)
    top = checks.expected_top(expected)

    def html(files, rows):
        t = lambda rs: "<table><thead><tr>" + "".join(  # noqa: E731
            f"<th>{c}</th>" for c in rs[0]) + "</tr></thead><tbody>" + "".join(
            "<tr>" + "".join(f"<td>{v}</td>" for v in r.values()) + "</tr>"
            for r in rs) + "</tbody></table>"
        return ("<html><body><h2>Processed files</h2>"
                + t([{"filename": f} for f in files])
                + "<h2>Top segments</h2>" + t(rows) + "</body></html>")

    good = html(["loan_a.csv"], _as_rows({r[:3]: r[3:] for r in top}))
    assert checks.check_report(good, ["loan_a.csv"], top) == []
    assert checks.check_report(good, ["loan_a.csv", "loan_b.csv"], top)
    bad = _as_rows({r[:3]: r[3:] for r in top})
    bad[0]["loan_count"] -= 1
    assert checks.check_report(html(["loan_a.csv"], bad), ["loan_a.csv"], top)


def test_gzip_check_rejects_bad_gzip(tmp_path):
    src = tmp_path / "loan_x.csv"
    src.write_bytes(b"a,b\n1,2\n")
    gz = tmp_path / "loan_x.csv.gz"
    gz.write_bytes(gzip.compress(src.read_bytes()))
    row = {"filename": "loan_x.csv", "original_size": 8,
           "compressed_size": gz.stat().st_size, "compressed_path": str(gz)}
    assert checks.check_compressed([row], str(tmp_path)) == []
    gz.write_bytes(gzip.compress(b"a,b\n1,3\n"))
    assert checks.check_compressed([dict(row, compressed_size=gz.stat().st_size)],
                                   str(tmp_path))
    gz.write_bytes(b"not gzip")
    assert checks.check_compressed([row], str(tmp_path))


def test_exactly_once_check():
    landed = ["a", "b", "c"]
    assert checks.check_exactly_once([["a", "b"], [], ["c"]], landed, landed) == []
    assert checks.check_exactly_once([["a", "b"], [], ["c"]], landed, ["a", "b"])
    assert checks.check_exactly_once([["a", "b"], ["b"], ["c"]], landed, landed)
    assert checks.check_exactly_once([["a"], ["c"]], landed, landed)
    assert checks.check_exactly_once([["a", "b", "c"]], landed, [*landed, "a"])


def test_ledger_reader(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    (tmp_path / "ledger").mkdir()
    pq.write_table(pa.table({"file_id": ["a", "b"]}),
                   str(tmp_path / "ledger" / "part-0.parquet"))
    assert sorted(checks.read_ledger(str(tmp_path / "ledger"))) == ["a", "b"]
    assert checks.read_ledger(str(tmp_path / "missing")) == []


def test_sink_check(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "cleaned" / "created_year=2021"
    d.mkdir(parents=True)
    cols = {c: ["x", "y"] for c in gen.IMPUTED if c != "amount"}
    pq.write_table(pa.table({**cols, "amount": [1.0, 2.0]}), str(d / "p.parquet"))
    assert checks.check_sink(str(tmp_path / "cleaned"), 2, gen.IMPUTED) == []
    assert checks.check_sink(str(tmp_path / "cleaned"), 3, gen.IMPUTED)
    pq.write_table(pa.table({**cols, "amount": [1.0, None]}), str(d / "p.parquet"))
    assert checks.check_sink(str(tmp_path / "cleaned"), 2, gen.IMPUTED)


def test_corpus_check():
    truth = [{"split": "train", "n_docs": 10, "n_tokens": 800},
             {"split": "val", "n_docs": 1, "n_tokens": 80}]
    assert checks.check_corpus(list(reversed(truth)), truth) == []
    assert checks.check_corpus([dict(truth[0], n_docs=9), truth[1]], truth)


# --- tracing arithmetic ---------------------------------------------------------


def _span(i, layer, start, end, parent=None, job=None):
    return Span(i, layer, f"s{i}", start, end, parent, "t", job=job)


def test_self_time_on_a_synthetic_tree():
    job = {"tasks": 4, "run_ms": 2000, "input_bytes": 100, "shuffle_write_bytes": 7}
    spans = [
        _span(1, "driver", 0.0, 10.0),
        _span(2, "operators.cleaning", 1.0, 4.0, 1),
        _span(3, "operators.cleaning", 2.0, 3.0, 2, job),  # job inside its span
        _span(4, "compress", 3.5, 6.0, 1, job),  # overlaps span 2's tail
        _span(5, "plans.report", 9.0, 12.0, 1),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[3] == pytest.approx(1.0)
    assert st[2] == pytest.approx(2.0)  # 3 s minus the 1 s job
    # root: 10 s minus the union of [1,4], [3.5,6], [9,10] = 5 + 1
    assert st[1] == pytest.approx(4.0)
    assert st[5] == pytest.approx(3.0)
    lm = layer_metrics(spans, cores=4)
    assert lm["operators.cleaning"]["wall_s"] == pytest.approx(3.0)
    assert lm["operators.cleaning"]["self_s"] == pytest.approx(3.0)
    assert lm["operators.cleaning"]["jobs"] == 1
    assert lm["compress"]["executor_busy_s"] == pytest.approx(2.0)
    assert lm["compress"]["parallelism"] == pytest.approx(2.0 / (2.5 * 4))
    assert lm["driver"]["self_s"] == pytest.approx(4.0)
    assert lm["operators.dedup"]["wall_s"] == 0


def test_callsite_rules():
    pkg = "/x/airflow_loan_etl_pipeline_spark"
    assert callsite_layer(f"collect at {pkg}/operators/cleaning.py:69") == "operators.cleaning"
    assert callsite_layer("localCheckpoint at NativeMethodAccessorImpl.java:0") is None
    assert callsite_layer("collect at /elsewhere/mine.py:3") is None
    src = open(os.path.join(ROOT, "airflow_loan_etl_pipeline_spark", "plans",
                            "drive_pipeline.py")).read().splitlines()
    want = {
        "fresh = fresh.localCheckpoint()": "sources.drive_source",
        "compress_new_files(fresh, os.path": "compress",
        "update_ledger(spark": "streaming.file_source",
    }
    for needle, layer in want.items():
        line = next(i for i, t in enumerate(src, 1) if needle in t)
        got = callsite_layer(f"x at {pkg}/plans/drive_pipeline.py:{line}")
        assert got == layer, needle


# --- BENCHMARK.json agrees with what the runner prints --------------------------


def test_benchmark_json_lists_the_printed_metrics():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [
        "op_p50_s", "setup_s"]
    # the listed workloads never write, so they print no write-layer metric
    assert not any(WORKLOADS[w["name"]].WRITES for w in bench["workloads"])
    units = layers.metric_units(writes=False)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    assert len(units) <= 128
