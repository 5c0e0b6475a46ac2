"""Correctness checks, run outside every timed region.

fs_meta calls are checked against DuckDB over the fsmodel `*_CTE`
strings (the same derived views the registered oracles use), store
reads against the documents they were written from, and pipeline
queries against their registered oracle SQL through
tests/oracle_harness.compare. Every mismatch or unexpected exception is
one failed operation in the Tally.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from snackfs_spark.sources import fsmodel
from snackfs_spark.sources.fsmodel import SUB_CHARS

from oracle_harness import compare  # tests/ is on sys.path (see run.py)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{what}: {problems[0][:300]}")


# ---- fs_meta ----------------------------------------------------------------

_SUBTREE = "(starts_with(path, $p || '/') OR path = $p)"

# DuckDB twins of the SnackCatalog methods (catalog.py), one per call
# kind, over the fsmodel views. `$p` is the call's path.
FS_ORACLE: dict[str, tuple[str, tuple[str, ...]]] = {
    "stat": (
        "SELECT path, is_dir, size, owner, grp, permission, mtime FROM files "
        "WHERE path = $p",
        ("files",),
    ),
    "ls": (
        "SELECT path, name, is_dir, size FROM files WHERE parent_path = $p",
        ("files",),
    ),
    "lsr": (f"SELECT path, is_dir, size FROM files WHERE {_SUBTREE}", ("files",)),
    "du": (
        "SELECT split_part(path, '/', $depth + 1) AS child, SUM(size) AS bytes "
        "FROM files WHERE starts_with(path, $p || '/') AND NOT is_dir GROUP BY 1",
        ("files",),
    ),
    "dus": (
        "SELECT SUM(size) AS bytes, COUNT(*) AS files FROM files "
        f"WHERE {_SUBTREE} AND NOT is_dir",
        ("files",),
    ),
    "count": (
        "SELECT SUM(CASE WHEN is_dir THEN 1 ELSE 0 END) AS dir_count, "
        "SUM(CASE WHEN is_dir THEN 0 ELSE 1 END) AS file_count, "
        "SUM(CASE WHEN is_dir THEN 0 ELSE size END) AS content_size "
        f"FROM files WHERE {_SUBTREE}",
        ("files",),
    ),
    "test_predicates": (
        "SELECT COUNT(*) > 0 AS exists_flag, "
        "COALESCE(MAX(CASE WHEN size = 0 THEN 1 ELSE 0 END), 0) = 1 AS is_zero, "
        "COALESCE(MAX(CASE WHEN is_dir THEN 1 ELSE 0 END), 0) = 1 AS is_directory "
        "FROM files WHERE path = $p",
        ("files",),
    ),
    "block_locations": (
        "SELECT b.path, b.block_idx, r.host FROM blocks b JOIN ring r ON "
        "((r.tok_start < r.tok_end AND b.token > r.tok_start AND b.token <= r.tok_end) "
        "OR (r.tok_start >= r.tok_end AND (b.token > r.tok_start OR b.token <= r.tok_end))) "
        "WHERE b.path = $p",
        ("blocks", "ring"),
    ),
}

_OPEN_ORACLE = fsmodel.fs_sql(
    "SELECT f.is_dir, (SELECT string_agg(payload, '' ORDER BY sub_offset) "
    "FROM content c WHERE c.path = $p) AS text FROM files f WHERE f.path = $p",
    "files",
    "content",
)


def duckdb_views(sf_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB holding the two tables the fsmodel views derive
    from, spilling (if ever) into the run's private dir."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name in ("documents", "nation"):
        con.execute(
            f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def fs_expected(con: duckdb.DuckDBPyConnection, kind: str, path: str):
    """The oracle's answer for one call: a DataFrame, or for `open` the
    text / the exception type the call must raise."""
    if kind == "open":
        rows = con.execute(_OPEN_ORACLE, {"p": path}).fetchall()
        if not rows:
            return FileNotFoundError
        is_dir, text = rows[0]
        return IsADirectoryError if is_dir else (text or "")
    body, views = FS_ORACLE[kind]
    params = {"p": path}
    if kind == "du":
        params["depth"] = len([p for p in path.split("/") if p]) + 1
    return con.execute(fsmodel.fs_sql(body, *views), params).fetchdf()


def fs_problems(expected, got) -> list[str]:
    """Compare one call's result (rows as a DataFrame, a str, or the
    exception it raised) with the oracle's."""
    if isinstance(expected, type) and issubclass(expected, Exception):
        if isinstance(got, expected):
            return []
        return [f"expected {expected.__name__}, got {type(got).__name__}"]
    if isinstance(got, BaseException):
        return [f"raised {type(got).__name__}: {got}"]
    if isinstance(expected, str):
        return [] if got == expected else ["opened text differs"]
    return compare(got, expected)


# ---- store_rw ---------------------------------------------------------------


def expected_chunks(path: str, text: str) -> list[tuple[str, int, int, str]]:
    """The (path, sub_offset, length, payload) rows writer.chunk_text
    makes of one file: SUB_CHARS-char slices, one empty chunk for an
    empty file."""
    n = max(1, -(-len(text) // SUB_CHARS))
    return [
        (path, i * SUB_CHARS, len(text[i * SUB_CHARS:(i + 1) * SUB_CHARS]),
         text[i * SUB_CHARS:(i + 1) * SUB_CHARS])
        for i in range(n)
    ]


def rows_problems(expected: list[tuple], got: list[tuple]) -> list[str]:
    if sorted(expected) == sorted(got):
        return []
    return [f"{len(got)} rows, expected {len(expected)}; rows differ"]


def text_problems(expected: dict[str, str], got: dict[str, str]) -> list[str]:
    if expected.keys() != got.keys():
        return [f"{len(got)} files reassembled, expected {len(expected)}"]
    bad = [p for p in expected if got[p].encode() != expected[p].encode()]
    return [f"{len(bad)} files differ, first {bad[0]}"] if bad else []


# ---- pipeline ---------------------------------------------------------------


def oracle_frame(con, oracle_sql: str, sf_dir: str, cache_dir: str) -> pd.DataFrame:
    """The oracle's result for a registered query. DuckDB's answer depends
    only on the SQL and the input files, so it is kept under cache_dir
    keyed by both; the cache holds only frames this function pickled."""
    st = [os.stat(os.path.join(sf_dir, f)) for f in sorted(os.listdir(sf_dir))]
    key = hashlib.sha256(
        (oracle_sql + repr([(s.st_size, s.st_mtime_ns) for s in st])).encode()
    ).hexdigest()
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    frame = con.execute(oracle_sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(frame, f)
    os.replace(tmp, path)
    return frame
