"""The three workloads.

Each workload generates its inputs from the seed, runs one full job per
iteration through the public entry points of ``texel_spark`` (timed from
outside), checks the outputs once per run, and in a traced run adds the
per-layer measurements of the layers it exercises.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import gen
from checks import batch_equals_scalar
from harness import run_noop

ZOOMS = [5, 9, 12]
# run_pipeline writes one job per (zoom, bucket); 1 bucket instead of the
# default 8 (resume granularity only) keeps a cold and two warm jobs inside
# the time one benchmark run may take on a 4-core host (each extra bucket
# adds one write job per zoom, ~1.7 s on such a host)
TILE_BUCKETS = 1
KERNEL_BATCH = 2000  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
CURATION_CAP = 10  # as the oracle sweep uses: the per-source cap binds on 500 docs


def _files(path: str) -> list[str]:
    """Parquet files under ``path``."""
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def parquet_rows(path: str) -> int:
    """Rows under ``path``, read from the parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _files(path))


class Workload:
    """Shared iteration bookkeeping; subclasses define ``ops``."""

    name = ""
    ops: tuple[str, ...] = ()
    min_warm = 1  # warm iterations a run makes even when --seconds is shorter

    def __init__(self, seed: int, size: str, work: str, cores: int):
        self.seed = seed
        self.size = size
        self.work = work
        self.cores = cores
        self.sizes: dict = {}
        self.counts: dict[str, list[int]] = {op: [] for op in self.ops}
        self.op_times: dict[str, list[float]] = {op: [] for op in self.ops}
        self.results: dict = {}  # op -> Arrow result of its last timed run
        self.attempts = 0
        self.op_failures = 0
        self.op_errors: list[str] = []
        self.iter_no = 0

    def input_dir(self, k: int) -> str:
        return os.path.join(self.work, f"inputs-{k}")

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.work, "out", tag)

    def run_op(self, tracer, op: str, fn, count=None) -> int | None:
        """One timed operation; ``count`` turns its result into the op's
        row count outside the timed span.  A raised error counts as a
        failed op."""
        self.attempts += 1
        try:
            with tracer.span(op) as sp:
                n = fn()
            self.op_times[op].append(sp.end - sp.start)
            if count is not None:
                n = count(n)
        except Exception as ex:  # noqa: BLE001 - a failed op is a measured outcome
            self.op_failures += 1
            self.op_errors.append(f"{op}: {type(ex).__name__}: {str(ex)[:300]}")
            return None
        self.counts[op].append(n)
        return n

    def iteration(self, spark, tracer) -> int:
        """One full job; returns the rows that count for ``rows_per_s``."""
        self.iter_no += 1
        with tracer.span("job"):
            return self._iteration(spark, tracer, f"iter-{self.iter_no}")

    def run_query(self, tracer, op: str, build) -> int | None:
        """A read-only op: build its DataFrame and collect the result to
        the driver as Arrow, both inside the timed span (some operators run
        Spark jobs while their plan is built).  The last result is kept
        for the check."""

        def run():
            self.results[op] = build().toArrow()
            return self.results[op].num_rows

        return self.run_op(tracer, op, run)

    def count_mismatches(self) -> int:
        """Executions whose row count differs from the op's first one."""
        return sum(sum(1 for c in cs if c != cs[0]) for cs in self.counts.values() if cs)

    def discard_output(self) -> None:
        """Drop every iteration's sink output but the last one."""
        root = self.out_dir("")
        for d in os.listdir(root) if os.path.isdir(root) else []:
            if os.path.join(root, d) != getattr(self, "last_out", None):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# ---------------------------------------------------------------------------


class TileBuild(Workload):
    """run_pipeline, the production job: Python snap kernel and tile sink."""

    name = "tile_build"
    ops = ("run_pipeline",)
    min_warm = 3  # the first warm job is still slower; a median of three

    def prepare(self, k: int) -> None:
        self.sizes = gen.tile_docs(self.seed, self.input_dir(k), self.size)
        self.inputs = self.input_dir(k)

    def open(self, spark) -> None:
        from texel_spark.grid.tms import load_embedded
        from texel_spark.kernel.snap import SnapConfig

        self.docs = spark.read.parquet(self.inputs)
        self.rd = load_embedded("NetherlandsRDNewQuad")
        self.cfg = SnapConfig(ignore_outside_grid=True)

    def _iteration(self, spark, tracer, tag: str) -> int:
        from texel_spark.operators.snap_tiles import run_pipeline

        out = self.out_dir(tag)
        shutil.rmtree(out, ignore_errors=True)
        self.last_out = out

        def job():
            summary = run_pipeline(self.docs, self.rd, ZOOMS, out, self.cfg, resume=False, tile_buckets=TILE_BUCKETS)
            return sum(summary["metrics"]["rows_per_zoom"].values())

        n = self.run_op(tracer, "run_pipeline", job)
        return n or 0

    def check(self, spark, checker) -> int:
        from texel_spark.operators.snap_tiles import snap_pipeline_df

        failed = 0
        sink = spark.read.parquet(os.path.join(self.last_out, "tiles")).drop("bucket")
        ref = snap_pipeline_df(self.docs, self.rd, ZOOMS, self.cfg)
        failed += not checker.same_rows(
            "tile_build.sink_equals_snap_pipeline_df", checker.spark_rows(sink), checker.spark_rows(ref)
        )
        wkts = [w for _, _, w in self.geom_rows()]
        compared, bad = batch_equals_scalar(wkts, self.seed, 100 if self.size == "full" else 20, self.rd, ZOOMS, self.cfg)
        failed += not checker.record(
            "tile_build.batch_equals_scalar", compared > 0 and bad == 0, f"{bad}/{compared} differ"
        )
        return failed

    def geom_rows(self) -> list[tuple[str, int, str]]:
        import pyarrow.parquet as pq

        rows = []
        for f in sorted(_files(self.inputs)):
            t = pq.read_table(f).to_pylist()
            for r in t:
                rows.extend((r["doc_id"], s["offset"], s["text"]) for s in r["spans"] if s["kind"] == "geom")
        return rows

    # -- traced run ----------------------------------------------------------

    def trace(self, spark, tracer, checker) -> None:
        from texel_spark.operators.snap_tiles import assign_tiles, snap_documents, snap_pipeline_df
        from texel_spark.sources.documents import geometry_spans

        # the restarted context starts its Python workers on first use
        run_noop(snap_documents(geometry_spans(self.docs), self.rd, ZOOMS, self.cfg))
        with tracer.span("prefix.scan"):
            run_noop(self.docs)
        with tracer.span("prefix.explode"):
            self.geom_spans = run_noop(geometry_spans(self.docs))
        with tracer.span("prefix.snap"):
            run_noop(snap_documents(geometry_spans(self.docs), self.rd, ZOOMS, self.cfg))
        snapped = snap_documents(geometry_spans(self.docs), self.rd, ZOOMS, self.cfg).persist()
        run_noop(snapped)
        with tracer.span("prefix.fanout"):
            run_noop(assign_tiles(snapped, self.rd, ZOOMS))
        snapped.unpersist()
        with tracer.span("prefix.count"):
            snap_pipeline_df(self.docs, self.rd, ZOOMS, self.cfg).count()
        self.iteration(spark, tracer)

    def layer_metrics(self, tracer, log) -> dict:
        d = {s.name: s.duration for s in tracer.spans}
        job = tracer.named("job")[-1]
        snap_span = tracer.named("prefix.snap")[-1]
        scan, explode, snap = d["prefix.scan"], d["prefix.explode"], d["prefix.snap"]
        fanout, count_pipeline = d["prefix.fanout"], d["prefix.count"]
        replay = self.kernel_replay()
        snap_stage = snap - explode
        tiles = os.path.join(self.last_out, "tiles")
        tile_bytes = sum(os.path.getsize(f) for f in _files(tiles))
        tile_rows = self.counts["run_pipeline"][-1]
        sink = job.duration - count_pipeline
        return {
            "sources.scan_s": scan,
            "sources.explode_s": explode - scan,
            "sources.geom_spans": self.geom_spans,
            "functions.wkt_parse_cpu_s": replay["parse_cpu_s"],
            "functions.fallback_rows": replay["fallback_rows"],
            "kernel.snap_cpu_s": replay["snap_cpu_s"],
            "snap_stage_s": snap_stage,
            "batch_cpu_s": replay["batch_cpu_s"],
            "stage_overhead_ratio": snap_stage * self.cores / replay["batch_cpu_s"] if replay["batch_cpu_s"] else 0.0,
            "python_bytes_sent": log.acc_total(snap_span, "data sent to Python workers"),
            "python_bytes_received": log.acc_total(snap_span, "data returned from Python workers"),
            "fanout_s": fanout,
            "tile_rows": tile_rows,
            "sink_s": sink,
            "sink_jobs": len(log.jobs_in(job)),
            "sink_files": len(_files(self.last_out)),
            "sink_bytes_per_row": tile_bytes / tile_rows if tile_rows else 0.0,
            "metrics_pass_s": log.busy_wall(log.jobs_reading(job, tiles)),
            # layer self times (prefix differences) against the traced job
            "tile_build.residual_s": job.duration - (snap + fanout + sink),
        }

    def kernel_replay(self, reps: int = 3) -> dict:
        """The snap stage without Spark, single-threaded, in the same
        2000-row batches the Arrow transfer uses: the batch WKT parse,
        the flat-array snap kernel, and the whole per-batch stage."""
        import numpy as np
        import pandas as pd

        from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient
        from texel_spark.kernel.snap_batch import snap_flat_batch
        from texel_spark.operators.snap_tiles import snap_documents

        rows = self.geom_rows()
        batches = [
            pd.DataFrame(rows[i : i + KERNEL_BATCH], columns=["doc_id", "span_idx", "wkt"])
            for i in range(0, len(rows), KERNEL_BATCH)
        ]

        class _Broadcast:
            def __init__(self, v):
                self.value = v

        class _Docs:
            """Stands in for the DataFrame so snap_documents hands back the
            per-batch kernel it would give mapInPandas."""

            class sparkSession:  # noqa: N801
                class sparkContext:  # noqa: N801
                    broadcast = staticmethod(_Broadcast)

            def mapInPandas(self, fn, schema):  # noqa: N802
                self.fn = fn

        shim = _Docs()
        snap_documents(shim, self.rd, ZOOMS, self.cfg)

        def cpu(fn) -> float:
            samples = []
            for _ in range(reps):
                t0 = time.process_time()
                fn()
                samples.append(time.process_time() - t0)
            return statistics.median(samples)

        parsed_all = []
        fallback = 0
        for b in batches:
            parsed, fb = parse_polygons_batch_resilient(b["wkt"].tolist())
            parsed_all.append(parsed)
            fallback += len(fb)

        def parse():
            for b in batches:
                parse_polygons_batch_resilient(b["wkt"].tolist())

        def snap():
            for p in parsed_all:
                n_members = p.member_fastrow.size
                row_members = np.searchsorted(p.member_fastrow, np.arange(p.rows.size + 1))
                multi = (row_members[1:] - row_members[:-1]) > 1
                need = multi[p.member_fastrow] if n_members else None
                snap_flat_batch(p.xy, p.ring_member, p.ring_start, p.ring_len, n_members, self.rd, ZOOMS,
                                self.cfg, need_dicts=need, collect_columnar=True)

        def stage():
            for _ in shim.fn(iter(batches)):
                pass

        return {"parse_cpu_s": cpu(parse), "snap_cpu_s": cpu(snap), "batch_cpu_s": cpu(stage),
                "fallback_rows": fallback}


# ---------------------------------------------------------------------------


class SpatialLookup(Workload):
    """Read-only JVM joins and aggregates over a hot-tile events table."""

    name = "spatial_lookup"
    ops = ("pip_join", "knn_join", "tile_assign", "tile_pyramid_rollup")
    # the first four or so warm jobs still speed up (JIT), so the median
    # needs the converged ones that --seconds adds after them
    min_warm = 3

    def prepare(self, k: int) -> None:
        base = self.input_dir(k)
        self.sizes = gen.events(self.seed, os.path.join(base, "events"), os.path.join(base, "nation"), self.size)
        self.inputs = base

    def open(self, spark) -> None:
        self.ev = spark.read.parquet(os.path.join(self.inputs, "events"))
        self.na = spark.read.parquet(os.path.join(self.inputs, "nation"))
        self.n_queries = gen.SIZES[self.size]["n_queries"]

    def queries(self) -> dict:
        from texel_spark.operators import spatial_queries as sq

        return {
            "pip_join": lambda: sq.pip_join(self.ev, self.na),
            "knn_join": lambda: sq.knn_join(self.ev, self.na, n_queries=self.n_queries),
            "tile_assign": lambda: sq.tile_assign(self.ev),
            "tile_pyramid_rollup": lambda: sq.tile_pyramid_rollup(self.ev),
        }

    def _iteration(self, spark, tracer, tag: str) -> int:
        rows = 0
        for op, build in self.queries().items():
            n = self.run_query(tracer, op, build)
            if op in ("pip_join", "knn_join"):
                rows += n or 0
        return rows

    def check(self, spark, checker) -> int:
        from texel_spark.operators import spatial_queries as sq

        checker.view("events", os.path.join(self.inputs, "events"))
        checker.view("nation", os.path.join(self.inputs, "nation"))
        sqls = {
            "pip_join": sq.pip_join_sql(),
            "knn_join": sq.knn_join_sql(n_queries=self.n_queries),
            "tile_assign": sq.tile_assign_sql(),
            "tile_pyramid_rollup": sq.tile_pyramid_rollup_sql(),
        }
        return sum(
            not checker.against_oracle(f"{self.name}.{op}", self.results[op], sql) for op, sql in sqls.items()
        )

    def trace(self, spark, tracer, checker) -> None:
        for _ in range(3):
            self.iteration(spark, tracer)
        self.candidates = self.pip_candidates(checker)
        # the dedup, text and curation layers: corpus_curate (another pure
        # JVM read family) is too slow a run to be a benchmark workload of
        # its own, so its traced ops ride along here, checked as usual
        c = self.corpus = CorpusCurate(self.seed, self.size, os.path.join(self.work, "corpus"), self.cores)
        c.prepare(0)
        c.open(spark)
        with tracer.span("corpus_curate"):
            c.trace_ops(spark, tracer, checker)
        self.attempts += c.attempts
        try:
            check_failed = c.check(spark, checker)
        except Exception:  # noqa: BLE001 - a check that cannot run has failed
            checker.record(f"{c.name}.check", False, traceback.format_exc(limit=3)[-400:])
            check_failed = 1
        self.op_failures += c.op_failures + c.count_mismatches() + check_failed
        self.op_errors += c.op_errors
        self.sizes["documents"] = c.sizes["documents"]

    def pip_candidates(self, checker, zoom: int = 7) -> int:
        """(point, triangle) pairs that share a tile key in pip_join's
        default zoom-7 equi-join, before the exact refine.  Spark fuses
        the refine into the join condition, so its plan metrics only see
        the refined rows; DuckDB counts the candidates from the same tile
        math over the same inputs."""
        from texel_spark.operators import spatial_queries as sq

        ts = sq.tile_size(zoom)
        ox, oy = sq.RD_ORIGIN_X, sq.RD_ORIGIN_Y
        checker.view("events", os.path.join(self.inputs, "events"))
        checker.view("nation", os.path.join(self.inputs, "nation"))
        return checker.con.execute(f"""
WITH pts AS ({sq.POINTS_FROM_EVENTS_SQL}),
tris AS ({sq.TRIANGLES_FROM_NATION_SQL}),
pt AS (SELECT CAST(FLOOR((px - ({ox})) / {ts!r}) AS BIGINT) AS tx,
              CAST(FLOOR(({oy} - py) / {ts!r}) AS BIGINT) AS ty FROM pts),
tr AS (SELECT CAST(FLOOR((bx - ({ox})) / {ts!r}) AS BIGINT) AS tx0,
              CAST(FLOOR((cx2 - ({ox})) / {ts!r}) AS BIGINT) AS tx1,
              CAST(FLOOR(({oy} - ay) / {ts!r}) AS BIGINT) AS ty0,
              CAST(FLOOR(({oy} - "by") / {ts!r}) AS BIGINT) AS ty1 FROM tris)
SELECT COUNT(*) FROM pt JOIN tr ON pt.tx BETWEEN tr.tx0 AND tr.tx1 AND pt.ty BETWEEN tr.ty0 AND tr.ty1
""").fetchone()[0]

    def layer_metrics(self, tracer, log) -> dict:
        def med(op):
            return statistics.median(s.duration for s in tracer.named(op))

        candidates = self.candidates
        return {
            "pip_join_s": med("pip_join"),
            "pip_join.candidates": candidates,
            "pip_join.hit_ratio": self.counts["pip_join"][-1] / candidates if candidates else 0.0,
            "knn_join_s": med("knn_join"),
            "knn_join.shuffle_bytes": log.engine_counters(tracer.named("knn_join")[-1], self.cores)[
                "spark.shuffle_write_bytes"
            ],
            "tile_assign_s": med("tile_assign"),
            "tile_pyramid_rollup_s": med("tile_pyramid_rollup"),
            **self.corpus.layer_metrics(tracer, log),
        }


# ---------------------------------------------------------------------------


class CorpusCurate(Workload):
    """Dedup, text and curation operators plus the curated-corpus sink."""

    name = "corpus_curate"
    # curation_pipeline runs inside run_curation_pipeline, so the full job
    # does not repeat it; the traced run times it on its own
    ops = (
        "minhash_lsh",
        "ngram_jaccard",
        "minhash_verify",
        "tfidf_top_terms",
        "bm25_topk",
        "run_curation_pipeline",
        "curation_pipeline",
    )

    def prepare(self, k: int) -> None:
        self.sizes = gen.corpus(self.seed, self.input_dir(k), self.size)
        self.inputs = self.input_dir(k)

    def open(self, spark) -> None:
        self.docs = spark.read.parquet(self.inputs)

    def queries(self) -> dict:
        from texel_spark.operators import curation, dedup, text

        d = self.docs
        return {
            "minhash_lsh": lambda: dedup.minhash_lsh_candidates(d),
            "ngram_jaccard": lambda: dedup.ngram_jaccard_pairs(d),
            "minhash_verify": lambda: dedup.minhash_verify(d),
            "tfidf_top_terms": lambda: text.tfidf_top_terms(d),
            "bm25_topk": lambda: text.bm25_topk(d),
        }

    def _iteration(self, spark, tracer, tag: str) -> int:
        from texel_spark.operators.curation import run_curation_pipeline

        for op, build in self.queries().items():
            self.run_query(tracer, op, build)
        out = self.out_dir(tag)
        shutil.rmtree(out, ignore_errors=True)
        self.last_out = out

        self.run_op(
            tracer,
            "run_curation_pipeline",
            lambda: run_curation_pipeline(self.docs, out, resume=False, cap=CURATION_CAP),
            count=lambda _: parquet_rows(os.path.join(out, "data")),
        )
        return self.sizes["documents"]

    def check(self, spark, checker) -> int:
        from texel_spark.operators import curation, dedup, text

        checker.view("documents", self.inputs)
        sqls = {
            "minhash_lsh": dedup.minhash_lsh_sql(),
            "ngram_jaccard": dedup.ngram_jaccard_pairs_sql(),
            "minhash_verify": dedup.minhash_verify_sql(),
            "tfidf_top_terms": text.tfidf_top_terms_sql(),
            "bm25_topk": text.bm25_topk_sql(),
        }
        failed = sum(
            not checker.against_oracle(f"{self.name}.{op}", self.results[op], sql) for op, sql in sqls.items()
        )
        sink = spark.read.parquet(os.path.join(self.last_out, "data")).select("doc_id", "source", "split")
        failed += not checker.against_oracle(
            f"{self.name}.run_curation_pipeline", sink, curation.curation_pipeline_sql(cap=CURATION_CAP)
        )
        return failed

    def trace(self, spark, tracer, checker) -> None:
        self.iteration(spark, tracer)
        self.trace_curation(tracer, checker)

    def trace_ops(self, spark, tracer, checker) -> None:
        """``trace`` without a ``job`` span, for another workload's traced run."""
        self._iteration(spark, tracer, "trace")
        self.trace_curation(tracer, checker)

    def trace_curation(self, tracer, checker) -> None:
        """``curation_pipeline`` on its own, checked against its oracle."""
        from texel_spark.operators.curation import curation_pipeline, curation_pipeline_sql

        checker.view("documents", self.inputs)
        self.run_query(tracer, "curation_pipeline", lambda: curation_pipeline(self.docs, cap=CURATION_CAP))
        if "curation_pipeline" in self.results and not checker.against_oracle(
            f"{self.name}.curation_pipeline", self.results["curation_pipeline"], curation_pipeline_sql(cap=CURATION_CAP)
        ):
            self.op_failures += 1

    def layer_metrics(self, tracer, log) -> dict:
        import pyarrow.compute as pc

        d = {s.name: s.duration for s in tracer.spans}
        cand = self.counts["minhash_lsh"][-1]
        ver = self.results["minhash_verify"]
        # pairs whose estimated Jaccard reaches ngram_jaccard's 4/5 threshold
        kept = pc.sum(pc.greater_equal(pc.multiply(ver["n_match"], 5), pc.multiply(ver["n_perm"], 4))).as_py() or 0
        return {
            "minhash_lsh_s": d["minhash_lsh"],
            "ngram_jaccard_s": d["ngram_jaccard"],
            "minhash_verify_s": d["minhash_verify"],
            "minhash.candidate_pairs": cand,
            "minhash.verify_ratio": kept / ver.num_rows if ver.num_rows else 0.0,
            "minhash.task_skew": log.task_skew(tracer.named("minhash_lsh")[-1]),
            "tfidf_top_terms_s": d["tfidf_top_terms"],
            "bm25_topk_s": d["bm25_topk"],
            "curation_pipeline_s": d["curation_pipeline"],
            "run_curation_pipeline_s": d["run_curation_pipeline"],
            "curation.sink_files": len(_files(self.last_out)),
        }


WORKLOADS = {w.name: w for w in (TileBuild, SpatialLookup, CorpusCurate)}
