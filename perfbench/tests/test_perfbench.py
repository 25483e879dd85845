"""The benchmark's own tests.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
The smoke tests start Spark; together they take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from tracing import Span, self_time  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
DOCS = json.load(open(os.path.join(BENCH, "metrics.json")))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _generate(kind: str, seed: int, out: str) -> str:
    if kind == "tile_docs":
        gen.tile_docs(seed, out, "tiny")
    elif kind == "events":
        gen.events(seed, os.path.join(out, "events"), os.path.join(out, "nation"), "tiny")
    else:
        gen.corpus(seed, out, "tiny")
    return _digest(out)


@pytest.mark.parametrize("kind", ["tile_docs", "events", "corpus"])
def test_same_seed_same_bytes_other_seed_other_bytes(kind, tmp_path):
    a = _generate(kind, 7, str(tmp_path / "a"))
    b = _generate(kind, 7, str(tmp_path / "b"))
    c = _generate(kind, 8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_corpus_relabel_is_a_bijection(tmp_path):
    import pyarrow.parquet as pq

    gen.corpus(3, str(tmp_path), "full")
    got = pq.read_table(str(tmp_path)).to_pandas()
    src = pq.read_table(gen.CORPUS_FILE).to_pandas()
    assert sorted(got.doc_id) == sorted(src.doc_id)
    assert sorted(got.text) == sorted(src.text)


def test_self_time_on_a_hand_built_tree():
    spans = [
        Span(0, "job", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 5.0, 0, "r"),  # overlaps a: covered once
        Span(3, "c", 7.0, 8.0, 0, "r"),
        Span(4, "a.inner", 1.5, 2.5, 1, "r"),  # grandchild: not the job's child
        Span(5, "other", 9.0, 12.0, None, "r"),  # not a child at all
    ]
    assert self_time(spans[0], spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans[1], spans) == pytest.approx(1.0)
    assert self_time(spans[2], spans) == pytest.approx(3.0)
    assert self_time(spans[4], spans) == pytest.approx(1.0)


def test_metric_docs_cover_the_spec():
    named = {m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    assert set(DOCS["metrics"]) == named
    for name, doc in DOCS["metrics"].items():
        assert doc["layer"] and doc["definition"]
        if name in {m["name"] for m in SPEC["per_layer"]}:
            assert doc["moves"] and isinstance(doc["exact_count"], bool)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_tiny_smoke_all_workloads_pass():
    res = _result(_run(["--workload", "all", "--seed", "5", "--seconds", "1", "--trace", "0", "--size", "tiny"]))
    assert res["correct"] and res["failed"] == 0
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for name, r in res["workloads"].items():
        assert r["failed"] == 0, name
        assert set(r["metrics"]) == e2e, name
        assert all(r["metrics"][m]["value"] > 0 for m in e2e), name


def test_tiny_traced_run_prints_every_layer_metric():
    res = _result(_run(["--workload", "tile_build", "--seed", "5", "--seconds", "1", "--trace", "1", "--size", "tiny"]))
    assert res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert res["metrics"]["tile_rows"]["value"] > 0
    assert res["metrics"]["sink_jobs"]["value"] > 0


def test_tiny_traced_spatial_lookup_measures_the_corpus_layers():
    res = _result(_run(["--workload", "spatial_lookup", "--seed", "5", "--seconds", "1", "--trace", "1", "--size", "tiny"]))
    assert res["failed"] == 0
    for name in ("pip_join_s", "minhash_lsh_s", "bm25_topk_s", "run_curation_pipeline_s", "curation.sink_files"):
        assert res["metrics"][name]["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "tile_build", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
