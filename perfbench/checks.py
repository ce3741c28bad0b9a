"""Output checks shared by the benchmark and its recorder.

Two canonical forms, both order-insensitive over rows:

- ``named``: columns sorted by name, rows sorted by ``str`` — the form
  ``tools/driver_sim.py`` compares a registered query with its DuckDB
  twin in, so a hash recorded here means what a driver_sim MATCH means.
- ``positional``: columns kept in SELECT order, rows sorted by ``str`` —
  used for ``ask`` answers, whose column names can differ between Spark
  and DuckDB for the same SQL while the values may not.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

SPILL_DIR = Path(__file__).resolve().parent.parent / ".perfbench_work" / "duckdb"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, str, bool, bytes, float)) or v is None:
        return v
    return str(v)


def _digest(rows: list[tuple]) -> str:
    blob = json.dumps(rows, default=repr, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest()


def named_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, hash) with columns sorted by name."""
    cols = sorted(columns)
    idx = {c: i for i, c in enumerate(columns)}
    canon = sorted(
        (tuple(norm(r[idx[c]]) for c in cols) for r in rows), key=str
    )
    return len(canon), _digest([cols] + canon)


def positional_hash(rows) -> tuple[int, str]:
    """(row count, hash) with columns in SELECT order."""
    canon = sorted((tuple(norm(v) for v in r) for r in rows), key=str)
    return len(canon), _digest(canon)


def sql_digest(sql: str) -> str:
    return hashlib.sha256(" ".join(sql.split()).encode()).hexdigest()[:16]


def duckdb_connection(sf_dir: str | Path):
    """In-memory DuckDB with one view per input table, as driver_sim."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 4")
    # some twins need this much at sf0.1
    con.execute("SET memory_limit = '8GB'")
    con.execute(f"SET temp_directory = '{SPILL_DIR}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{Path(sf_dir) / t}.parquet'")
    return con


def duckdb_named_hash(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return named_hash(cols, res.fetchall())


def load_json(path: Path) -> dict:
    return json.loads(path.read_text()) if path.exists() else {}


def save_json(path: Path, payload: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(payload, indent=1, sort_keys=True) + "\n")
