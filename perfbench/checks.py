"""Output checks for the benchmark's ops.

Each op's result from the run's first pass is compared with the op's
DuckDB oracle over the exact input directory of the run, with the
canonicalization of tests/oracle_harness.

`d_minhash_lsh` has no oracle (its pairs come from xxhash64 MinHash
signatures). These checks stand in for one:

- its twin `d_minhash_lsh_audit`, which plants byte-identical copies of
  every tenth document and counts how many the same LSH pipeline finds,
  is run on the same input and compared with its DuckDB oracle;
- the op's own output must have the pair schema, be sorted by
  (id_a, id_b), hold each pair once with id_a < id_b and have no
  truncated bucket;
- against exact 3-word-shingle Jaccard J, computed here for every pair
  of documents that shares a shingle: with 8 bands of 4 rows a pair is
  a candidate with probability p(J) = 1 - (1 - J^4)^8. Every pair with
  J >= RECALL_J must be found (p > 1 - 1.5e-6), no pair that shares no
  shingle may be (only a 64-bit hash collision could pair it), and the
  number of candidates must lie within SIGMAS standard deviations of
  the sum of p(J) over all pairs.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from oracle_harness import EMPTINESS_OK, _canon_df, run_oracle

MINHASH_COLUMNS = ["id_a", "id_b", "truncated"]
RECALL_J = 0.95
SIGMAS = 6.0


def _frame(columns: list[str], rows: list) -> pd.DataFrame:
    """The collected rows as a frame with inferred column dtypes, as
    toPandas() gives the harness (its row canonicalization depends on
    them)."""
    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)


def digest(columns: list[str], rows: list) -> str:
    """md5 of the canonicalized result, as the repo's pinned goldens
    take it."""
    cols, canon = _canon_df(_frame(columns, rows))
    return hashlib.md5(repr((cols, canon)).encode()).hexdigest()


def _shingles(text: str) -> frozenset[str]:
    toks = text.split()
    return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))


def _minhash_problems(columns: list[str], rows, data_dir: str) -> list[str]:
    if list(columns) != MINHASH_COLUMNS:
        return [f"columns {list(columns)}, expected {MINHASH_COLUMNS}"]
    problems = []
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    if pairs != sorted(pairs):
        problems.append("pairs not sorted by (id_a, id_b)")
    if len(set(pairs)) != len(pairs):
        problems.append(f"{len(pairs) - len(set(pairs))} repeated pairs")
    if any(a >= b for a, b in pairs):
        problems.append("pair not ordered id_a < id_b")
    if any(r["truncated"] for r in rows):
        problems.append("a bucket was truncated")
    docs = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = docs.column("doc_id").to_pylist()
    sh = [_shingles(t) for t in docs.column("text").to_pylist()]
    n = max(doc_ids, default=0) + 1
    size = np.zeros(n, dtype=np.int64)
    size[doc_ids] = [len(x) for x in sh]
    # (shingle, doc) incidence sorted by shingle then doc; every pair
    # of entries inside one shingle's run is a pair sharing it. A pair
    # (a, b), a < b, is coded as a * n + b.
    doc = np.repeat(np.array(doc_ids, dtype=np.int64), size[doc_ids])
    _, gid = np.unique(np.array([g for x in sh for g in x]), return_inverse=True)
    order = np.lexsort((doc, gid))
    doc, gid = doc[order], gid[order]
    pos = np.arange(len(doc))
    run_end = np.searchsorted(gid, gid, side="right")
    later = run_end - pos - 1
    left = np.repeat(pos, later)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
    code, shared = np.unique(doc[left] * n + doc[right], return_counts=True)
    jac = shared / (size[code // n] + size[code % n] - shared)
    found = np.array(sorted({a * n + b for a, b in pairs}), dtype=np.int64)
    truth = code[jac >= RECALL_J]
    missed = [(int(x // n), int(x % n)) for x in np.setdiff1d(truth, found)]
    if not len(truth):
        problems.append(f"input has no pair with Jaccard >= {RECALL_J} to check")
    if missed:
        problems.append(
            f"{len(missed)} of {len(truth)} pairs with Jaccard >= {RECALL_J} missing, e.g. {missed[:3]}"
        )
    disjoint = [(int(x // n), int(x % n)) for x in np.setdiff1d(found, code)]
    if disjoint:
        problems.append(f"{len(disjoint)} candidates share no shingle, e.g. {disjoint[:3]}")
    ps = 1.0 - (1.0 - jac**4) ** 8
    mean, sd = float(ps.sum()), float((ps * (1 - ps)).sum()) ** 0.5
    if abs(len(found) - mean) > SIGMAS * sd + 1:
        problems.append(
            f"{len(found)} candidates, LSH on exact Jaccard expects {mean:.1f} +- {sd:.1f}"
        )
    return problems


def check(name: str, oracle: str | None, columns, rows, data_dir: str) -> list[str]:
    """Problems with one op's result; empty means it matches."""
    problems: list[str] = []
    if not rows and name not in EMPTINESS_OK:
        problems.append("vacuous: query returns 0 rows")
    if name == "d_minhash_lsh":
        return problems + _minhash_problems(columns, rows, data_dir)
    if oracle is None:
        return problems + [f"{name} has no oracle and no substitute check"]
    spark_pdf = _frame(columns, rows)
    oracle_pdf = run_oracle(oracle, data_dir)
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s_cols, s_rows = _canon_df(spark_pdf)
    o_cols, o_rows = _canon_df(oracle_pdf)
    if s_cols != o_cols:
        return problems + [f"columns: spark={s_cols} oracle={o_cols}"]
    bad = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
    if bad:
        problems.append(f"{bad} mismatching rows (of {len(s_rows)})")
    return problems
