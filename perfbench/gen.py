"""Seeded input generators for the benchmark.

Everything here is plain NumPy/pandas/pyarrow: the benchmark makes its
inputs before the program sees them, and the same seed gives the same
bytes. The expected results the output checks compare against are
computed from the same arrays, not read back from the program.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# schemas.LOAN column order
LOAN_COLUMNS = (
    "loan_id", "customer_id", "created_at", "amount", "interest_rate",
    "tenure_months", "status", "product_type", "branch", "credit_score_band",
)
GROUP_COLS = ("status", "product_type", "branch")

# Skewed status mix; product/branch/band are uniform.
STATUS = np.array(["approved", "pending", "rejected", "closed", "defaulted"])
STATUS_P = np.array([0.55, 0.2, 0.12, 0.08, 0.05])
PRODUCT = np.array(["personal", "home", "auto", "business", "education", "gold"])
BRANCH = np.array([f"br{i:02d}" for i in range(12)])
BAND = np.array(["A", "B", "C", "D", "E"])

# Stated null shares: categorical columns and `amount` carry nulls that
# the mode pass imputes; identifiers, dates and the other numbers do not.
NULL_SHARE = {
    "status": 0.05,
    "product_type": 0.08,
    "branch": 0.04,
    "credit_score_band": 0.10,
    "amount": 0.06,
}
IMPUTED = tuple(NULL_SHARE)


def loan_frame(seed: int, n_rows: int, id_base: int = 0) -> pd.DataFrame:
    """``n_rows`` loans as a string-valued frame; '' marks a null.

    Amounts have two decimals and are drawn from a narrow cent grid so
    that repeated values (and ties between them) exist for the mode
    rule to settle.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(id_base, id_base + n_rows)
    secs = rng.integers(1_577_836_800, 1_735_689_600, n_rows)  # 2020-2024
    created = pd.to_datetime(secs, unit="s").strftime("%Y-%m-%d %H:%M:%S")
    cents = rng.integers(50_000, 5_000_000, n_rows) // 50 * 50
    amount = np.char.mod("%.2f", cents / 100.0)
    cols = {
        "loan_id": np.char.add("L", ids.astype(str)),
        "customer_id": np.char.add("C", rng.integers(0, n_rows // 3 + 1, n_rows).astype(str)),
        "created_at": np.asarray(created, dtype=str),
        "amount": amount,
        "interest_rate": np.char.mod("%.2f", rng.integers(500, 2500, n_rows) / 100.0),
        "tenure_months": rng.choice([12, 24, 36, 48, 60, 120, 240], n_rows).astype(str),
        "status": rng.choice(STATUS, n_rows, p=STATUS_P),
        "product_type": rng.choice(PRODUCT, n_rows),
        "branch": rng.choice(BRANCH, n_rows),
        "credit_score_band": rng.choice(BAND, n_rows),
    }
    out = {}
    for c in LOAN_COLUMNS:
        v = cols[c].astype(object)
        share = NULL_SHARE.get(c)
        if share:
            v[rng.random(n_rows) < share] = ""
        out[c] = v
    return pd.DataFrame(out, columns=list(LOAN_COLUMNS))


def write_loan_csv(frame: pd.DataFrame, path: str) -> int:
    """Write one loan CSV with a header row; returns its size in bytes."""
    data = frame.to_csv(index=False, lineterminator="\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def land_loans(
    folder: str, seed: int, n_files: int, rows_per_file: int,
    tag: str = "batch", id_base: int = 0,
) -> dict[str, pd.DataFrame]:
    """Land ``n_files`` loan CSVs named ``loan_<tag>_<i>.csv``; returns
    file name -> the frame written to it."""
    os.makedirs(folder, exist_ok=True)
    frames = {}
    for i in range(n_files):
        name = f"loan_{tag}_{i:03d}.csv"
        frame = loan_frame(
            seed * 1_000_003 + i, rows_per_file, id_base + i * rows_per_file
        )
        write_loan_csv(frame, os.path.join(folder, name))
        frames[name] = frame
    return frames


# --- documents ---------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")
VOCAB = np.array([f"w{i}" for i in range(3000)])

# Stated shares of the generated corpus (of all documents).
DOC_SHARES = {
    "low_quality": 0.08,  # too short or repetitive: fails the gate
    "exact_dup": 0.08,  # verbatim copy of an earlier document
    "near_dup": 0.08,  # copy with a few tokens replaced
    "contaminated": 0.05,  # train doc quoting a benchmark doc
}


def _doc_tokens(rng: np.random.Generator, n: int, length: int) -> np.ndarray:
    """n x length token matrix: ~25% stopwords, rest from VOCAB."""
    words = VOCAB[rng.integers(0, len(VOCAB), (n, length))]
    stop = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), (n, length))]
    return np.where(rng.random((n, length)) < 0.25, stop, words)


def documents_frame(seed: int, n_docs: int, doc_len: int = 80) -> pd.DataFrame:
    """The ``documents`` table layout of the fixtures
    (doc_id, text, lang, source, n_chars) with the DOC_SHARES mix.

    The benchmark slice of ``plans.corpus_build`` is ``doc_id % 20 == 0``;
    contaminated documents quote half of one such document.
    """
    rng = np.random.default_rng(seed)
    toks = _doc_tokens(rng, n_docs, doc_len)
    texts = np.array([" ".join(row) for row in toks], dtype=object)
    kind = rng.choice(
        len(DOC_SHARES) + 1, n_docs,
        p=[1.0 - sum(DOC_SHARES.values()), *DOC_SHARES.values()],
    )
    ids = np.arange(n_docs)
    bench_ids = ids[ids % 20 == 0]
    for i in np.flatnonzero(kind == 1):  # low quality
        if rng.random() < 0.5:
            texts[i] = " ".join(toks[i, : rng.integers(5, 19)])
        else:
            texts[i] = " ".join([toks[i, 0]] * doc_len)
    for i in np.flatnonzero(kind == 2):  # exact duplicate of an earlier doc
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    for i in np.flatnonzero(kind == 3):  # near duplicate of an earlier doc
        if i > 0:
            src = np.array(texts[rng.integers(0, i)].split(" "))
            pos = rng.integers(0, len(src), max(1, len(src) // 40))
            src[pos] = VOCAB[rng.integers(0, len(VOCAB), len(pos))]
            texts[i] = " ".join(src)
    for i in np.flatnonzero(kind == 4):  # quotes half a benchmark doc
        if i % 20:
            b = toks[bench_ids[rng.integers(0, len(bench_ids))]]
            texts[i] = " ".join([*toks[i, : doc_len // 2], *b[: doc_len // 2]])
    return pd.DataFrame(
        {
            "doc_id": ids.astype(np.int64),
            "text": texts,
            "lang": rng.choice(np.array(["en", "de", "es"]), n_docs),
            "source": np.char.add("src", rng.integers(0, 5, n_docs).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_documents(frame: pd.DataFrame, sf_dir: str) -> str:
    """Write ``<sf_dir>/documents.parquet`` (the catalog's table path)."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    return path
