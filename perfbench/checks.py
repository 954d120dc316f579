"""Output checks. Each returns a list of failure strings (empty = pass),
so the runner can count every failing operation in ``failed``.

The expected values are computed here in plain Python/pandas from the
generator's frames, never by the program under test.
"""

from __future__ import annotations

import gzip
import html as html_lib
import math
import os
import re

import pandas as pd
import pyarrow.dataset as ds

from perfbench.gen import GROUP_COLS

# The mode pass melts values with cast(x as string); Spark renders the
# generated two-decimal doubles the way Python's repr does.
_render_double = repr


SUM_RTOL = 1e-9


def column_mode(values: pd.Series, render=None) -> str | None:
    """Mode by the engine's documented rule: count desc, then the
    value's string form asc. '' is null and never a candidate."""
    v = values[values != ""]
    if render is not None:
        v = v.map(render)
    if v.empty:
        return None
    counts = v.value_counts()
    top = counts.max()
    return min(counts.index[counts == top])


def impute(frame: pd.DataFrame) -> pd.DataFrame:
    """The mode-imputed loan rows: group columns as strings, amount as
    float. Mirrors fill_nulls_with_mode over every LOAN column."""
    out = pd.DataFrame(index=frame.index)
    for c in GROUP_COLS:
        mode = column_mode(frame[c])
        out[c] = frame[c].where(frame[c] != "", mode)
    mode = column_mode(frame["amount"], lambda v: _render_double(float(v)))
    amt = frame["amount"].where(frame["amount"] != "", mode)
    out["amount"] = amt.astype(float)
    return out


def expected_aggregates(frames: list[pd.DataFrame]) -> dict[tuple, tuple[int, float]]:
    """{(status, product_type, branch): (loan_count, total_amount)} over
    the union of ``frames`` — the mode is taken over the union, as the
    program reads all files as one frame."""
    rows = impute(pd.concat(frames, ignore_index=True))
    g = rows.groupby(list(GROUP_COLS), sort=True)["amount"].agg(["count", "sum"])
    return {k: (int(r["count"]), float(r["sum"])) for k, r in g.iterrows()}


def expected_top(aggs: dict[tuple, tuple[int, float]], k: int = 10) -> list[tuple]:
    """latest_aggregates_summary's order: loan_count desc, then the
    other columns asc (keys, then total_amount)."""
    rows = [(*key, cnt, total) for key, (cnt, total) in aggs.items()]
    rows.sort(key=lambda r: (-r[3], r[0], r[1], r[2], r[4]))
    return rows[:k]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=SUM_RTOL, abs_tol=1e-6)


def check_aggregates(
    got: list[dict], expected: dict[tuple, tuple[int, float]]
) -> list[str]:
    """Every group present once, counts exact, sums within SUM_RTOL."""
    errs = []
    seen = {}
    for r in got:
        key = tuple(r[c] for c in GROUP_COLS)
        if key in seen:
            errs.append(f"duplicate group {key}")
        seen[key] = (r["loan_count"], r["total_amount"])
    if set(seen) != set(expected):
        errs.append(
            f"groups differ: {len(set(seen) ^ set(expected))} keys "
            f"(got {len(seen)}, expected {len(expected)})"
        )
    for key in set(seen) & set(expected):
        (gc, gs), (ec, es) = seen[key], expected[key]
        if gc != ec:
            errs.append(f"count {key}: {gc} != {ec}")
        elif gs is None or not _close(gs, es):
            errs.append(f"sum {key}: {gs} != {es}")
    return errs


_TABLE = re.compile(r"<table>.*?</table>", re.S)
_ROW = re.compile(r"<tr>(.*?)</tr>", re.S)
_CELL = re.compile(r"<t[dh]>(.*?)</t[dh]>", re.S)


def report_tables(html: str) -> list[list[list[str]]]:
    """The report's tables as rows of cell strings (header row first)."""
    return [
        [[html_lib.unescape(c) for c in _CELL.findall(row)] for row in _ROW.findall(t)]
        for t in _TABLE.findall(html)
    ]


def check_report(html: str | None, new_files: list[str], top: list[tuple]) -> list[str]:
    """The report names each new file and lists the expected top groups."""
    if not html:
        return ["no report"]
    errs = [f"report misses {n}" for n in new_files if n not in html]
    tables = report_tables(html)
    if len(tables) != 2:
        return errs + [f"report has {len(tables)} tables, expected 2"]
    head, *rows = tables[1]
    want = [*GROUP_COLS, "loan_count", "total_amount"]
    if head != want:
        return errs + [f"top table columns {head} != {want}"]
    return errs + check_top([(*r[:3], int(r[3]), float(r[4])) for r in rows], top)


def check_top(got: list[tuple], top: list[tuple]) -> list[str]:
    """Top-k rows in order: keys and counts exact, sums within SUM_RTOL."""
    if len(got) != len(top):
        return [f"top-k has {len(got)} rows, expected {len(top)}"]
    return [
        f"top row {g} != {e}" for g, e in zip(got, top)
        if g[:4] != e[:4] or not _close(g[4], e[4])
    ]


def check_compressed(summaries: list[dict], folder: str) -> list[str]:
    """Every .gz decompresses to its source bytes and the sizes agree."""
    errs = []
    for s in summaries:
        with open(os.path.join(folder, s["filename"]), "rb") as f:
            src = f.read()
        try:
            with open(s["compressed_path"], "rb") as f:
                gz = f.read()
            out = gzip.decompress(gz)
        except (OSError, EOFError) as exc:
            errs.append(f"{s['filename']}: unreadable gzip ({exc})")
            continue
        if out != src:
            errs.append(f"{s['filename']}: gzip does not round-trip")
        if s["original_size"] != len(src) or s["compressed_size"] != len(gz):
            errs.append(f"{s['filename']}: sizes do not match the files")
    return errs


def read_ledger(ledger_path: str) -> list[str]:
    """file_ids in the ledger parquet ([] when it does not exist)."""
    if not os.path.exists(ledger_path):
        return []
    return ds.dataset(ledger_path, format="parquet").to_table(
        columns=["file_id"]
    ).column("file_id").to_pylist()


def check_exactly_once(
    tick_files: list[list[str]], landed: list[str], ledger: list[str]
) -> list[str]:
    """Each landed file appears in exactly one tick's summaries, no tick
    reports a file that did not land, and the ledger equals the landed
    set (with no duplicate entries)."""
    errs = []
    counts: dict[str, int] = {}
    for files in tick_files:
        for f in files:
            counts[f] = counts.get(f, 0) + 1
    for f in landed:
        if counts.get(f, 0) != 1:
            errs.append(f"{f} reported by {counts.get(f, 0)} ticks")
    extra = set(counts) - set(landed)
    if extra:
        errs.append(f"ticks reported unlanded files {sorted(extra)}")
    if len(ledger) != len(set(ledger)):
        errs.append("ledger has duplicate entries")
    if set(ledger) != set(landed):
        errs.append(
            f"ledger differs from landed set by {len(set(ledger) ^ set(landed))} files"
        )
    return errs


def check_sink(
    cleaned_path: str, n_rows: int, impute_cols: tuple[str, ...]
) -> list[str]:
    """The cleaned sink re-reads to ``n_rows`` rows with no nulls left in
    the imputed columns."""
    t = ds.dataset(cleaned_path, format="parquet", partitioning="hive").to_table(
        columns=list(impute_cols)
    )
    errs = []
    if t.num_rows != n_rows:
        errs.append(f"sink has {t.num_rows} rows, expected {n_rows}")
    for c in impute_cols:
        if t.column(c).null_count:
            errs.append(f"sink column {c} has {t.column(c).null_count} nulls")
    return errs


def read_parquet_rows(path: str) -> list[dict]:
    return ds.dataset(path, format="parquet").to_table().to_pylist()


def check_corpus(got: list[dict], expected: list[dict]) -> list[str]:
    """Per-split summary equals the DuckDB oracle's, row for row."""
    norm = lambda rows: sorted(  # noqa: E731
        (r["split"], int(r["n_docs"]), int(r["n_tokens"])) for r in rows
    )
    if norm(got) != norm(expected):
        return [f"corpus summary {norm(got)} != oracle {norm(expected)}"]
    return []

