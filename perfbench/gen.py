"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and writes parquet with
pyarrow (no Spark), so the same seed gives byte-identical files and the
program under test only ever sees the generated files.  Each returns a
dict of input sizes that the run records next to the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_FILE = os.path.join(HERE, "data", "documents_sf0.01.parquet")

# workload sizes; "tiny" is the smoke-test size of the benchmark's own tests
# spatial_lookup's ops are bound by per-query overhead, not by rows: at 250k
# events a warm job takes about as long as at 1M, and the inputs and their
# DuckDB oracles cost a quarter as much
SIZES = {
    "full": {"docs": 1000, "events": 250_000, "hot_share": 0.2, "n_queries": 1_000_000},
    "tiny": {"docs": 60, "events": 20_000, "hot_share": 0.2, "n_queries": 100_000},
}

# event ids span tens of millions; knn_join keeps ids < n_queries
EVENT_ID_SPACE = 40_000_000
# points_from_events derives both coordinates from event_id mod 880000
POINT_PERIOD = 880_000
HOT_RESIDUES = 4
N_NATIONS = 25


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed) & (2**63 - 1), stream])


def _write(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` equal row ranges, one file each."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"), compression="zstd")


def doc_index_start(seed: int) -> int:
    """First build_document index of the seed's corpus: a seeded offset,
    so different seeds draw disjoint-in-practice document ranges.  Kept
    a multiple of 20 so every corpus plants the golden polygon at the
    same relative positions."""
    return int(_rng(seed, 0).integers(0, 5_000_000)) * 20


def tile_docs(seed: int, out_dir: str, size: str = "full") -> dict:
    """Interleaved documents from the public ``build_document`` on a
    seed-offset index range, in the engine's input schema."""
    from texel_spark.sources.documents import build_document

    n = SIZES[size]["docs"]
    start = doc_index_start(seed)
    docs = [build_document(i) for i in range(start, start + n)]
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(span_t), False)])
    spans = [[{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in s] for _, s in docs]
    table = pa.table({"doc_id": [d for d, _ in docs], "spans": spans}, schema=schema)
    _write(table, out_dir, 12)
    n_geom = sum(1 for _, s in docs for sp in s if sp[0] == "geom")
    return {"docs": n, "doc_index_start": start, "geom_spans": n_geom}


def _in_triangle(r: int) -> bool:
    """Whether the point ``points_from_events`` derives from residue ``r``
    lies inside one of the ``triangles_from_nation`` triangles (apex
    (cx, cy + rad), base (cx -/+ rad, cy - rad)), in offsets from the RD
    origin."""
    px = 0.33 + (r * 2654435761) % POINT_PERIOD
    py = 0.25 + (r * 7919) % POINT_PERIOD
    for n in range(N_NATIONS):
        cx = 0.08 + ((n * 37 + 11) % 800) * 1000
        cy = 0.08 + ((n * 53 + 7) % 800) * 1000
        rad = 5000 + (n % 7) * 3000
        if cy - rad < py < cy + rad and abs(px - cx) < (cy + rad - py) / 2:
            return True
    return False


def _hot_residues(rng: np.random.Generator) -> np.ndarray:
    """HOT_RESIDUES distinct residues: the first one's point inside a
    triangle, the others outside every triangle.  Every seed then sends the
    same share of hot rows through pip_join's refine into its output."""
    out: list[int] = []
    while len(out) < HOT_RESIDUES:
        r = int(rng.integers(0, POINT_PERIOD))
        if r not in out and _in_triangle(r) == (not out):
            out.append(r)
    return np.array(out, dtype=np.int64)


def events(seed: int, out_dir: str, nation_dir: str, size: str = "full") -> dict:
    """Events-shaped table whose ids span EVENT_ID_SPACE.  A ``hot_share``
    of the rows draws its id from HOT_RESIDUES seeded residues mod
    POINT_PERIOD, so those rows derive the same few points and pile onto
    hot tiles (one of them inside a pip_join triangle); the rest are
    uniform over the id space."""
    cfg = SIZES[size]
    n = cfg["events"]
    rng = _rng(seed, 1)
    n_hot = int(round(n * cfg["hot_share"]))
    ids = rng.integers(0, EVENT_ID_SPACE, size=n, dtype=np.int64)
    residues = _hot_residues(rng)
    hot_rows = rng.choice(n, size=n_hot, replace=False)
    ids[hot_rows] = residues[rng.integers(0, HOT_RESIDUES, size=n_hot)] + POINT_PERIOD * rng.integers(
        0, EVENT_ID_SPACE // POINT_PERIOD, size=n_hot, dtype=np.int64
    )
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, 86_400 * 10**6 * 30, size=n).astype(
        "timedelta64[us]"
    )
    types = np.array(["view", "click", "error", "purchase", "scroll"])
    props = pa.array([f'{{"k": {k}}}' for k in range(100)])
    table = pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 100_000, size=n, dtype=np.int64),
            "event_type": pa.array(types[rng.integers(0, types.size, size=n)]),
            "value": np.round(rng.random(n) * 100, 2),
            "props": props.take(pa.array(rng.integers(0, 100, size=n))),
        }
    )
    _write(table, out_dir, 8)
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION{k:02d}" for k in range(N_NATIONS)],
            "n_regionkey": pa.array([k % 5 for k in range(N_NATIONS)], pa.int32()),
        }
    )
    _write(nation, nation_dir, 1)
    return {
        "events": n,
        "points": n,
        "hot_cell_share": n_hot / n,
        "hot_residues": [int(r) for r in residues],
        "knn_queries": int((ids < cfg["n_queries"]).sum()),
    }


def corpus(seed: int, out_dir: str, size: str = "full") -> dict:
    """The vendored sf0.01 ``documents`` table after a seeded row
    permutation and a seeded bijective relabel of ``doc_id`` (a
    permutation of the original id set), written as multi-file parquet."""
    table = pq.read_table(CORPUS_FILE)
    if size == "tiny":
        table = table.slice(0, 120)
    rng = _rng(seed, 2)
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    ids = table.column("doc_id").to_numpy()
    old = np.sort(ids)
    relabel = old[rng.permutation(n)]
    new_ids = relabel[np.searchsorted(old, ids)]
    table = table.set_column(0, "doc_id", pa.array(new_ids, pa.int64())).replace_schema_metadata(None)
    _write(table, out_dir, 2)
    return {"documents": n}
