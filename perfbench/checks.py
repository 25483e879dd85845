"""Untimed correctness checks.

Results are compared as row count plus the order-insensitive
``value_hash`` of ``tools/check_oracles.py`` (the repo's oracle gate), so
the benchmark and the gate agree on what "equal" means.
"""

from __future__ import annotations

import importlib.util
import os
import random

import duckdb
import pyarrow as pa


def _load_value_hash(root: str):
    spec = importlib.util.spec_from_file_location("_check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


class Checker:
    """Runs the checks and keeps each named outcome ("ok" or "FAIL ...")."""

    def __init__(self, root: str, threads: int):
        self.value_hash = _load_value_hash(root)
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")
        self.results: dict[str, str] = {}

    def view(self, name: str, parquet_dir: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results[name] = "ok" if ok else f"FAIL {detail}".strip()
        return ok

    def spark_rows(self, result) -> tuple[list, list]:
        """Rows and column names of a DataFrame or an Arrow table."""
        tbl = result if isinstance(result, pa.Table) else result.toArrow()
        cols = tbl.column_names
        return list(zip(*(tbl.column(c).to_pylist() for c in cols))) if cols else [], cols

    def same_rows(self, name: str, got: tuple[list, list], want: tuple[list, list]) -> bool:
        """Two (rows, column names) results: same row count, same column
        names, same value hash."""
        (rows, cols), (wrows, wcols) = got, want
        same_cols = sorted(c.lower() for c in cols) == sorted(c.lower() for c in wcols)
        ok = len(rows) == len(wrows) and same_cols and self.value_hash(rows, cols) == self.value_hash(wrows, wcols)
        return self.record(name, ok, f"rows {len(rows)}/{len(wrows)} cols_equal={same_cols}")

    def against_oracle(self, name: str, result, sql: str) -> bool:
        """Spark ``result`` (DataFrame or Arrow table) vs the DuckDB oracle ``sql``."""
        res = self.con.execute(sql)
        want = (res.fetchall(), [d[0] for d in res.description])
        return self.same_rows(name, self.spark_rows(result), want)


def batch_equals_scalar(wkts: list[str], seed: int, sample: int, tms, tm_ids, config) -> tuple[int, int]:
    """Batch kernel vs scalar kernel on a seeded sample of polygon spans;
    returns (compared, mismatched)."""
    from texel_spark.functions.wkt import parse_wkt
    from texel_spark.kernel.snap import snap_polygon
    from texel_spark.kernel.snap_batch import snap_polygons_batch

    polys = []
    for w in wkts:
        kind, coords = parse_wkt(w)
        if kind == "polygon":
            polys.append(coords)
    polys = random.Random(seed).sample(polys, min(sample, len(polys)))
    got = snap_polygons_batch(polys, tms, tm_ids, config)
    bad = sum(1 for p, g in zip(polys, got) if g != snap_polygon(p, tms, tm_ids, config))
    return len(polys), bad
