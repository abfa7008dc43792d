"""Expected answers from the DuckDB oracle, cached per fixture, and the check.

A result is reduced to a digest of its canonical rows. Each cell is
canonicalized by ``_canon`` of ``tests/oracle_check.py``, the rules of
its exact hash comparison: every cell is tagged with its type class, so
an int never equals a float, and timestamps compare as naive datetimes.
Columns are sorted by name and rows are sorted. Two results match when
their column names, row counts and digests are equal. Numeric and
datetime columns take per-column fast paths that yield the same strings,
which keeps the check of a 150k-row result well under a second, where
``oracle_check._rows`` takes seconds.

The oracle's answers depend only on the fixture and the oracle SQL, so
they are computed once and stored beside the fixture under a key made of
the fixture's file listing (path, size, mtime of every parquet file).
Each answer also records the SQL it came from. A changed fixture or a
changed oracle therefore recomputes instead of passing a stale answer.
"""
from __future__ import annotations

import hashlib
import json
import os
import time
from pathlib import Path

import numpy as np
import pandas as pd

from tests.oracle_check import _canon, duckdb_connect


def listing_key(sf_dir: Path) -> str:
    h = hashlib.sha256()
    for path in sorted(sf_dir.rglob("*.parquet")):
        if path.is_file():
            st = path.stat()
            h.update(f"{path.relative_to(sf_dir)}\0{st.st_size}\0"
                     f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


_NULL = repr(_canon(None))


def _key(v) -> str:
    """One cell as the repr of its ``_canon`` form; -0.0 equals 0.0, as
    it does in ``_canon``'s tuple comparison."""
    c = _canon(v)
    if c[0] == "f":
        c = ("f", c[1] + 0.0)
    return repr(c)


def _column(s: pd.Series) -> list[str]:
    """``_key`` of every cell; numeric and datetime columns take a fast
    path that yields the same strings."""
    kind = s.dtype.kind if isinstance(s.dtype, np.dtype) else "O"
    if kind in "iu":
        return [repr(("i", x)) for x in s.to_numpy().tolist()]
    if kind == "b":
        return [repr(("b", x)) for x in s.to_numpy().tolist()]
    if kind == "f":
        return [_NULL if x != x else repr(("f", x + 0.0))
                for x in s.to_numpy().tolist()]
    if kind == "M":  # naive datetimes, NaT as None
        return [_NULL if x is None else repr(("t", x))
                for x in s.to_numpy().astype("datetime64[us]").tolist()]
    return [_key(x) for x in s.tolist()]


def summarize(pdf: pd.DataFrame) -> dict:
    """Columns, row count and canonical-row digest of one result."""
    cols = sorted(pdf.columns)
    # cells hold no raw NUL or newline: each is a repr
    rows = sorted("\0".join(r) for r in zip(*(_column(pdf[c]) for c in cols)))
    return {"cols": cols, "rows": len(pdf),
            "digest": _sha("\n".join([repr(cols), *rows]))}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from the expected answer ``want``, or None."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"{got['rows']} rows, expected {want['rows']}"
    if got["digest"] != want["digest"]:
        return "row values differ"
    return None


def perturbed(pdf: pd.DataFrame) -> pd.DataFrame:
    """A copy of ``pdf`` whose first cell holds a value no query emits."""
    out = pdf.copy()
    col = out.columns[0]
    out[col] = out[col].astype(object)
    out.iat[0, 0] = "\0perturbed"
    return out


def expected(sf_dir: Path, workload: str, oracles: dict[str, str],
             temp_dir: Path) -> dict[str, dict]:
    """Expected answer of every query in ``oracles`` on the fixture.

    Each answer holds ``cols``, ``rows``, ``digest``, the oracle SQL's
    digest and ``duck_s``, the seconds DuckDB took to run it.
    """
    path = sf_dir / f"_answers_{workload}.json"
    key = listing_key(sf_dir)
    cached = {}
    if path.is_file():
        stored = json.loads(path.read_text())
        if stored.get("listing") == key:
            cached = stored["answers"]
    answers = {}
    con = None
    try:
        for name, sql in oracles.items():
            ans = cached.get(name)
            if ans is None or ans["sql"] != _sha(sql):
                if con is None:
                    con = duckdb_connect(str(sf_dir))
                    con.execute(f"SET temp_directory = '{temp_dir}'")
                t0 = time.perf_counter()
                pdf = con.execute(sql).fetchdf()
                duck_s = time.perf_counter() - t0
                ans = {**summarize(pdf), "sql": _sha(sql), "duck_s": duck_s}
            answers[name] = ans
    finally:
        if con is not None:
            con.close()
    if answers != cached:
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps({"listing": key, "answers": answers}))
        os.replace(tmp, path)
    return answers
