"""Independent correctness models, in DuckDB.

The ingestion model replays the generated input files with plain SQL:
newer-wins over everything delivered for ``stream_trickle``.  The query
corpus is checked against each query's registered oracle SQL, run by
DuckDB on the same parquet files.

The entry points (``newer_wins_bad_keys``, ``corpus_hashes``) run in the benchmark's side process, so DuckDB and
its result frames never enter the measured driver process: they take
file paths and plain values and return keys, counts and hashes.  The
program's end state reaches them as parquet written by Spark with
``STATE_COLS`` (see ``workloads.write_state``).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

# Table columns compared for the ingestion workloads; the version
# timestamp is compared as epoch microseconds so no engine's timestamp
# rendering enters the comparison.
STATE_COLS = ("pkey", "version_us", "arrival", "amount", "name", "cat", "created_ms", "row_active")
_LWW = "ORDER BY modified_date DESC, arrival ASC"


def _connect(threads: int = 2):
    import duckdb  # here, not at the top: the driver imports this module for result_hash only

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{os.path.join(os.environ.get('TMPDIR', '.'), 'duckdb')}'")
    return con


def _state_select(rel: str) -> str:
    return (f"SELECT pkey, epoch_us(modified_date) AS version_us, arrival, amount, name, cat, "
            f"created_ms, row_active FROM {rel}")


def _parquet(path: str) -> str:
    """A file, or a directory of part files as Spark writes it."""
    return f"read_parquet('{os.path.join(path, '*.parquet') if os.path.isdir(path) else path}')"


def _diff_keys(con, expected_sql: str, actual_sql: str) -> set[int]:
    """Keys whose rows differ between the model and the program (either
    direction, duplicates included)."""
    rows = con.execute(
        f"""WITH e AS ({expected_sql}), a AS ({actual_sql})
        SELECT pkey FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a)
        UNION SELECT pkey FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e)"""
    ).fetchall()
    return {int(r[0]) for r in rows}


def _actual(path: str) -> str:
    return f"SELECT {', '.join(STATE_COLS)} FROM {_parquet(path)}"


def newer_wins_bad_keys(files: list[str], actual: str) -> list[int]:
    """Keys on which the program's end state (parquet at ``actual``)
    differs from the newer-wins end state over every row in ``files``:
    per key the greatest version, equal versions to the earliest
    arrival."""
    expected = _state_select(
        f"""(SELECT *, true AS row_active FROM (SELECT *, row_number() OVER (PARTITION BY pkey {_LWW}) AS rn
        FROM read_parquet({[str(f) for f in files]})) WHERE rn = 1)"""
    )
    return sorted(_diff_keys(_connect(), expected, _actual(actual)))


# ---------------------------------------------------------------- corpus


def _scalar(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_scalar(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _scalar(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        v = v.replace(tzinfo=None)
    if isinstance(v, float):
        return 0.0 if v == 0 else v
    if isinstance(v, bool):
        return int(v)
    return v


def result_hash(df: pd.DataFrame) -> tuple[int, str]:
    """Order-insensitive hash of a result: columns by name, rows as a
    sorted multiset of normalized tuples."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_scalar(v) for v in r)) for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def corpus_hashes(data_dir: str, tables, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Each query's oracle SQL run over the corpus tables, as
    ``result_hash`` values, on one DuckDB thread: they run beside the
    corpus's warm-up passes and only have to end before its timed ones."""
    con = _connect(threads=1)
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    return {name: result_hash(con.execute(sql).df()) for name, sql in sqls.items()}
