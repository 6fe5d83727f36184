"""Benchmark inputs and expected outputs, built once per checkout.

The tables come from ``datagen`` at a fixed scale and data seed; the
expected output of each registered query comes from its DuckDB oracle
over those files.  Both are cached under the work directory, keyed on
what produced them (generator source, scale, seed; oracle SQL), so a
later run only reads them back.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import datagen

#: scale factor of the generated tables (lineitem 60,000 rows)
SCALE = 0.01
#: seed of the generated tables; the run seed never changes them, so
#: one set of expected outputs serves every run
DATA_SEED = 42


def _sha(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def ensure_data(work: str) -> tuple[str, dict[str, int]]:
    """``(data_dir, rows per table)``, generating the tables if needed."""
    with open(datagen.__file__, encoding="utf-8") as f:
        key = _sha(f.read(), repr(SCALE), repr(DATA_SEED))
    data_dir = os.path.join(work, f"data-{key}")
    stamp = os.path.join(data_dir, "rows.json")
    if not os.path.exists(stamp):
        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rows = datagen.generate(tmp, SCALE, DATA_SEED)
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(rows, f)
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    with open(stamp) as f:
        return data_dir, json.load(f)


def digest(columns, rows) -> tuple[int, list[str], str]:
    """``(row count, sorted column names, rowset hash)`` of a result,
    normalized by the bit-faithful rule of ``tests/oracle.py``."""
    from tests.oracle import rowset

    names, normalized = rowset(list(columns), rows)
    return len(rows), names, hashlib.sha256(
        repr(normalized).encode()
    ).hexdigest()


class Expected:
    """Expected outputs of registered queries over one data directory."""

    def __init__(self, work: str, data_dir: str):
        self.dir = os.path.join(work, "expected")
        self.data_dir = data_dir
        self.known: dict[str, tuple[int, list[str], str]] = {}
        os.makedirs(self.dir, exist_ok=True)

    def prepare(self, names) -> None:
        """Load or compute the expected output of every query in
        ``names``; DuckDB only starts when one is missing."""
        from ema_bigdata_spark import registry

        duck = None
        for name in names:
            sql = registry.ORACLES[name]
            path = os.path.join(
                self.dir,
                f"{name}-{_sha(sql, os.path.basename(self.data_dir))}.json",
            )
            if not os.path.exists(path):
                if duck is None:
                    duck = self._duck()
                res = duck.execute(sql)
                cols = [d[0] for d in res.description]
                n, names_, h = digest(cols, res.fetchall())
                with open(path + ".tmp", "w") as f:
                    json.dump({"rows": n, "columns": names_, "hash": h}, f)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                e = json.load(f)
            self.known[name] = (e["rows"], e["columns"], e["hash"])
        if duck is not None:
            duck.close()

    def _duck(self):
        import duckdb

        duck = duckdb.connect()
        duck.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
        for t in datagen.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        return duck

    def compare(self, name: str, columns, rows) -> str | None:
        """None when the result matches the oracle, else why not."""
        n, names, h = digest(columns, rows)
        want_n, want_names, want_h = self.known[name]
        if n != want_n:
            return f"{n} rows, oracle has {want_n}"
        if names != want_names:
            return f"columns {names}, oracle has {want_names}"
        if h != want_h:
            return "values differ from the oracle"
        return None
