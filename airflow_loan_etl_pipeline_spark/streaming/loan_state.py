"""Mergeable loan-aggregate state: what a drive-pipeline tick carries to
the next tick so that it reads only the files that are new.

A tick's aggregate is ``clean_and_aggregate`` over every processed
file: each null is imputed with its column's mode (count desc, then
value string asc, as ``operators.cleaning.column_modes`` picks it), then
rows are counted and ``amount`` summed per ``(status, product_type,
branch)``. Only those four columns reach the aggregate, and what it
needs of them adds across files (``operators.aggregates.
mergeable_partials``):

- per-group partials keyed by the RAW, nullable key: rows, the sum of
  the present amounts, and the count of missing (null or NaN) amounts;
- per-column value counts of the four columns, values cast to string.

A tick merges the new files' partials in, re-picks each mode from the
merged counts and builds the table on the driver: a null key takes its
column's mode, and a group's total is its present-amount sum plus
missing x the amount mode (the plain sum when ``amount`` has no mode).
A later file that flips a mode moves the rows imputed earlier into the
new mode's group, as re-aggregating every file would.

Size: one group row per raw key combination plus one value row per
distinct value of the four columns. For the loan schema that is at most
~100k rows (``amount`` sits on a cent grid) however long the history
grows, plus one row per covered file.

On disk the state is ONE Parquet file, one row per entry, tagged by
``section`` (unused cells are null):

=======  ======================  ============  =======  =====  ==========  ==============
section  status / product_type   column        file_id  n      amount_sum  amount_missing
         / branch                / value
=======  ======================  ============  =======  =====  ==========  ==============
group    the raw key             -             -        rows   sum         missing
value    -                       name / value  -        count  -           -
file     -                       -             file id  -      -           -
=======  ======================  ============  =======  =====  ==========  ==============

It is written to a temp file and committed with ``os.replace``, so a
reader sees the previous state or the new one, never a partial write.
"""

from __future__ import annotations

import os
from collections.abc import Iterable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from airflow_loan_etl_pipeline_spark.streaming.file_source import commit_parquet

GROUP_COLS = ["status", "product_type", "branch"]
AMOUNT_COL = "amount"
VALUE_COLS = [*GROUP_COLS, AMOUNT_COL]

_KEYS = [pa.field(c, pa.string()) for c in GROUP_COLS]
_GROUPS = pa.schema(
    [*_KEYS, ("n", pa.int64()), ("amount_sum", pa.float64()),
     ("amount_missing", pa.int64())]
)
_VALUES = pa.schema([("column", pa.string()), ("value", pa.string()), ("n", pa.int64())])
_FILE = pa.schema(
    [("section", pa.string()), *_KEYS, ("column", pa.string()),
     ("value", pa.string()), ("file_id", pa.string()), ("n", pa.int64()),
     ("amount_sum", pa.float64()), ("amount_missing", pa.int64())]
)
AGGREGATES = pa.schema(
    [*_KEYS, ("loan_count", pa.int64()), ("total_amount", pa.float64())]
)


def _sum_by(table: pa.Table, keys: list[str], cols: list[str]) -> pa.Table:
    """Per-key sums of ``cols`` (null keys form their own group; a sum
    over only nulls is null), columns in ``keys + cols`` order."""
    out = table.group_by(keys, use_threads=False).aggregate(
        [(c, "sum") for c in cols]
    )
    return out.select([*keys, *(f"{c}_sum" for c in cols)]).rename_columns(
        [*keys, *cols]
    )


@dataclass(frozen=True)
class LoanState:
    groups: pa.Table  # _GROUPS, one row per raw key
    values: pa.Table  # _VALUES, one row per (column, value)
    files: frozenset[str]

    @classmethod
    def empty(cls) -> LoanState:
        return cls(_GROUPS.empty_table(), _VALUES.empty_table(), frozenset())

    @classmethod
    def load(cls, path: str) -> LoanState | None:
        """The state saved at ``path``; None when it is missing or
        unreadable, which the caller answers with a rebuild."""
        if not os.path.isfile(path):
            return None
        try:
            table = pq.read_table(path)
        except (OSError, pa.ArrowException):
            return None
        if not table.schema.equals(_FILE):
            return None
        section = table.column("section")
        return cls(
            table.filter(pc.equal(section, "group")).select(_GROUPS.names),
            table.filter(pc.equal(section, "value")).select(_VALUES.names),
            frozenset(
                table.filter(pc.equal(section, "file")).column("file_id").to_pylist()
            ),
        )

    def save(self, path: str) -> None:
        files = pa.table({"file_id": pa.array(sorted(self.files), pa.string())})
        parts = [
            t.append_column("section", pa.array([name] * t.num_rows, pa.string()))
            for name, t in (("group", self.groups), ("value", self.values),
                            ("file", files))
        ]
        table = pa.concat_tables(parts, promote_options="default")
        commit_parquet(table.select(_FILE.names).cast(_FILE), path)

    def merge(self, groups: pa.Table, values: pa.Table,
              files: Iterable[str]) -> LoanState:
        """This state plus the partials of ``files``
        (``mergeable_partials`` over exactly those files)."""
        return LoanState(
            _sum_by(pa.concat_tables([self.groups, groups.cast(_GROUPS)]),
                    GROUP_COLS, ["n", "amount_sum", "amount_missing"]),
            _sum_by(pa.concat_tables([self.values, values.cast(_VALUES)]),
                    ["column", "value"], ["n"]),
            self.files | frozenset(files),
        )

    def modes(self) -> dict[str, str | None]:
        """Each value column's mode as a string (count desc, then value
        asc); None when the column has no non-null value."""
        ranked = self.values.sort_by(
            [("column", "ascending"), ("n", "descending"), ("value", "ascending")]
        )
        modes: dict[str, str | None] = {}
        for c in VALUE_COLS:
            first = pc.index(ranked.column("column"), c).as_py()
            modes[c] = None if first < 0 else ranked.column("value")[first].as_py()
        return modes

    def aggregates(self) -> pa.Table:
        """``(status, product_type, branch, loan_count, total_amount)``
        as ``clean_and_aggregate`` computes it over every covered file,
        ordered by the keys (nulls first)."""
        modes = self.modes()
        g = self.groups
        keys = {
            c: g.column(c) if modes[c] is None else pc.fill_null(g.column(c), modes[c])
            for c in GROUP_COLS
        }
        total = g.column("amount_sum")
        if modes[AMOUNT_COL] is not None:
            imputed = pc.multiply(pc.cast(g.column("amount_missing"), pa.float64()),
                                  float(modes[AMOUNT_COL]))
            total = pc.add(pc.fill_null(total, 0.0), imputed)
        filled = pa.table({**keys, "loan_count": g.column("n"), "total_amount": total})
        out = _sum_by(filled, GROUP_COLS, ["loan_count", "total_amount"])
        return out.sort_by(
            [(c, "ascending") for c in GROUP_COLS], null_placement="at_start"
        ).cast(AGGREGATES)
