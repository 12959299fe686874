"""The benchmark's workloads, each driven only through the package's
public functions by one closed-loop client.

A workload has five phases, which ``run.py`` calls in order:

``warmup()``
    one pass over tiny inputs, so JIT, codegen, shuffle and Python
    workers are warm before anything is timed;
``prepare(dir)``
    generates the run's inputs from the seed and builds any fixture
    (called several times; the last call's inputs are used);
``expect()``
    computes expected outputs the generator does not give directly
    (the DuckDB oracle), once, outside set-up time;
``rep(traced)``
    one timed closed-loop iteration; every output is checked, and an
    exception or a failed check counts as a failed op;
``hygiene()``
    resets state between reps, outside the timed region.

With ``traced=True`` a rep materializes each layer's output (persist +
``noop`` write) inside a span, so the tracer can split the time by
layer; untraced reps call the package's composed pipelines as a user
would.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import gen


def _now() -> float:
    return time.perf_counter()


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes of all regular files) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


def _digest(spark, store: str) -> tuple[int, int, int]:
    """(data files, cells, xor of the cells' hashes) of a cell store."""
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(store)
        .select(F.count("*"), F.bit_xor(F.xxhash64("row_key", "col_name", "values")))
        .first()
    )
    return dir_bytes(store)[0], row[0], row[1]


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q: float) -> float | None:
    """The q-quantile, reported only when at least ten samples lie
    beyond it (p90 needs 100 samples)."""
    if not xs or len(xs) * (1 - q) < 10:
        return None
    return float(np.quantile(np.asarray(xs), q))


class Workload:
    """Shared bookkeeping: samples, op accounting and pin counters."""

    name = ""

    def __init__(self, spark, tracer, work_dir: str, seed: int, smoke: bool, trace_run: bool):
        from applications_analytics_midas_hbase_metrics_spark.plans import queries

        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.smoke = smoke
        self.queries = queries
        self.samples: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.input_rows = 0
        self.input_bytes = 0
        self._persisted: list = []
        self.tracing = False  # set by the run loop for traced reps
        self.trace_run = trace_run  # a --trace 1 run: some reps are traced

    # -- accounting --------------------------------------------------------

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[{self.name}] output check failed: {what}", file=sys.stderr)

    def op_error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        print(f"[{self.name}] {what} raised:", file=sys.stderr)
        traceback.print_exc()

    def forget_samples(self) -> None:
        """Drop the warm-up's timings; its op checks still count."""
        self.samples.clear()
        self.counts.clear()

    # -- Spark helpers -----------------------------------------------------

    def span(self, name: str, extra_groups=()):
        """A tracer span during traced reps, else a no-op yielding None."""
        if not self.tracing:
            return contextlib.nullcontext()
        return self.tracer.span(name, extra_groups)

    def materialize(self, df):
        """Traced reps only: persist ``df`` and run it to a ``noop`` sink
        so the span holding this call is charged with computing it."""
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._persisted.append(df)
        return df

    def persistent_rdds(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def hygiene(self) -> None:
        """Release the harness's own materializations, the package's
        pins and the session cache (between reps, untimed)."""
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted.clear()
        self.queries.release_deferred()
        self.spark.catalog.clearCache()

    def note_leaks(self, before: set[int], traced: bool) -> None:
        """Count the persisted RDDs registered since ``before`` that
        survive :meth:`hygiene` as leaked pins."""
        self.hygiene()
        if traced:
            self.count("pins.leaked", len(self.persistent_rdds() - before))

    # -- to override -------------------------------------------------------

    def warmup(self) -> None:
        raise NotImplementedError

    def prepare(self, out_dir: str) -> None:
        raise NotImplementedError

    def expect(self) -> None:
        """Expected outputs that need more than the generator, computed
        once after the last ``prepare`` and outside set-up time."""

    def rep(self, traced: bool) -> None:
        raise NotImplementedError

    def finish(self, traced: bool) -> None:
        """Ops measured once per run, after the timed reps."""

    def end_to_end(self) -> dict:
        """{metric: value} of the end-to-end metrics ``throughput_per_s``
        and ``op_p50_ms``."""
        raise NotImplementedError

    def report(self) -> dict:
        """The workload's named metrics, {name: (value, unit)}."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# ingest_load
# ---------------------------------------------------------------------------


#: share of the sf0.1 volumes that ingest_load generates; the run-time
#: budget sets it (README.md, "Sizing")
SCALE = 1 / 8

#: the serving cycle run on each freshly loaded store: L = 1000-key
#: lookup_cells batch, S = prefix read_cells scan, M = merge_cells CDC
#: batch (every 9th op)
CYCLE = "LSLSLSLSM"
LOOKUP_BATCH = 1000  # the reference's bulkGet batch (Utils.scala:296)


def _lot_prefix(row_key: str) -> str:
    """Lot, WW and Lots_seq_key, each NUL-terminated: the scan prefix
    that one MUPR file's row keys share."""
    return row_key.rsplit(gen.DELIM, 1)[0] + gen.DELIM


class IngestLoad(Workload):
    """The cell store's whole life in one rep: MUPR and MUCR files with
    their trigger CSVs through ``ingest_mupr_to_store`` /
    ``ingest_mucr_to_store`` into fresh salted stores, ``validate_load``
    against the MUPR store, then the serving cycle :data:`CYCLE` of bulk
    lookups, prefix scans and CDC merges on that fresh store.  After the
    timed reps, :meth:`finish` checks the last MUCR store cell by cell
    and, in traced runs only, streams the lineitem-shaped rows through
    ``stream_to_cells`` (untraced, then traced): the stream's warm-up and
    run would add ~12 s to every untraced run, which the run budget has
    no room for."""

    name = "ingest_load"

    def sizes(self, tiny: bool) -> dict:
        if tiny or self.smoke:
            return dict(files=2, units=10, tests=8, reps=2, lines=40, stream_rows=2_000, stream_files=4)
        # SCALE of the sf0.1 volumes: ~600k MUPR records (a lineitem row
        # each; a unit's 40 tests are measured 1-3 times, 2 records on
        # average), ~150k MUCR lines (an order each, 1-7 line items as
        # its counters) and the 600k lineitem rows streamed
        return dict(
            files=8, units=round(600_000 * SCALE / (8 * 40 * 2)), tests=40, reps=3,
            lines=round(150_000 * SCALE / 8),
            stream_rows=round(600_000 * SCALE), stream_files=8,
        )

    def _generate(self, out_dir: str, tiny: bool) -> None:
        from applications_analytics_midas_hbase_metrics_spark.functions.keys import salt_py

        s = self.sizes(tiny)
        rng = np.random.default_rng([self.seed, 1])
        self.rng = np.random.default_rng([self.seed, 2])  # serving-cycle draws
        shutil.rmtree(out_dir, ignore_errors=True)
        self.mupr = gen.mupr(rng, out_dir, s["files"], s["units"], s["tests"], s["reps"])
        self.salt = {k: salt_py(k) for k, _ in self.mupr.cells}
        self.mucr = gen.mucr(rng, out_dir, s["files"], s["lines"], 7)
        self.stream_src = os.path.join(out_dir, "stream_src")
        stream_bytes, self.stream_n = 0, 0
        if self.trace_run:  # only traced runs stream (see finish)
            stream_bytes, self.stream_cells = gen.stream_rows(
                rng, self.stream_src, s["stream_rows"], s["stream_files"]
            )
            self.stream_n = s["stream_rows"]
        self.out = os.path.join(out_dir, "out")
        self.ref_digest = None  # the first rep's stores, in traced runs
        self.input_rows = self.mupr.records + self.mucr.records + self.stream_n
        self.input_bytes = self.mupr.input_bytes + self.mucr.input_bytes + stream_bytes
        self.row_keys = sorted({k for k, _ in self.mupr.cells} | {k for k, _ in self.mucr.cells})

    def warmup(self) -> None:
        self._generate(os.path.join(self.work, "warmup"), tiny=True)
        self.rep(traced=False, cycle="LSM")
        self.finish(traced=False)
        self.forget_samples()

    def prepare(self, out_dir: str) -> None:
        self._generate(out_dir, tiny=False)

    def rep(self, traced: bool, cycle: str = CYCLE) -> None:
        from applications_analytics_midas_hbase_metrics_spark.plans import pipelines as PL

        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        m_store = os.path.join(self.out, "mupr_store")
        c_store = os.path.join(self.out, "mucr_store")
        m, c = self.mupr, self.mucr
        try:
            if traced:
                verdicts = self._load_traced(m_store, c_store)
            else:
                t0 = _now()
                PL.ingest_mupr_to_store(self.spark, m.data_dir, m.trig_path, m_store)
                PL.ingest_mucr_to_store(self.spark, c.data_dir, c.trig_path, c_store)
                t1 = _now()
                verdicts = PL.validate_load(
                    self.spark, m.data_dir, m.trig_path, m_store
                ).collect()
                t2 = _now()
                self.sample("ingest_s", t1 - t0)
                self.sample("validate_s", t2 - t1)
                self.sample("validate_cells", sum(r["n"] for r in verdicts))
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.op_error("ingest + validate")
            return
        got = {r["verdict"]: r["n"] for r in verdicts}
        self.op(got == {"match": len(m.cells)}, f"validate_load verdicts {got}")
        n_mucr = self.spark.read.parquet(c_store).count()  # untimed check
        self.op(n_mucr == len(c.cells), f"MUCR store holds {n_mucr} cells, expected {len(c.cells)}")
        if self.trace_run:
            # traced reps rebuild the pipelines layer by layer; they must
            # write the stores the composed pipelines write
            digest = (_digest(self.spark, m_store), _digest(self.spark, c_store))
            if self.ref_digest is None:
                self.ref_digest = digest
            self.op(digest == self.ref_digest, f"stores {digest} differ from the first rep's {self.ref_digest}")
        self.sample(
            "store_bytes_ratio",
            (dir_bytes(m_store)[1] + dir_bytes(c_store)[1])
            / (m.input_bytes + c.input_bytes),
        )
        self._serve(m_store, cycle)

    def _serve(self, store: str, cycle: str) -> None:
        """The serving ``cycle`` on the just-loaded MUPR store; the
        expected cells start from the generator's and follow every merge.
        (The warm-up runs each op kind once, not the whole cycle.)"""
        self.store = store
        self.cells = dict(self.mupr.cells)
        self.by_prefix: dict[str, set] = {}
        for key in self.cells:
            self.by_prefix.setdefault(_lot_prefix(key[0]), set()).add(key)
        ops = {"L": self._lookup, "S": self._scan, "M": self._merge}
        for kind in cycle:
            try:
                ops[kind]()
            except Exception:  # noqa: BLE001 — counted; the next rep loads a fresh store
                self.op_error(ops[kind].__name__)
                return

    def _lookup(self) -> None:
        from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS

        keys = list(self.cells)
        batch = min(LOOKUP_BATCH, len(keys) // 2)
        idx = self.rng.choice(len(keys), size=batch * 9 // 10, replace=False)
        wanted = [keys[i] for i in idx]
        # one batch key in ten is absent: a real row key, an unknown test
        absent = [(keys[i][0], "T_absent") for i in self.rng.choice(len(keys), size=batch - len(wanted))]
        kdf = self.spark.createDataFrame(wanted + absent, "row_key string, col_name string")
        with self.span("cellstore.lookup"):
            t0 = _now()
            rows = (
                CS.lookup_cells(CS.read_cells(self.spark, self.store), kdf)
                .select("row_key", "col_name", "values")
                .collect()
            )
            dt = _now() - t0
        self.sample("lookup_ms", dt * 1e3)
        got = {(r[0], r[1], tuple(r[2])) for r in rows}
        want = {(k[0], k[1], self.cells[k]) for k in set(wanted)}
        self.op(got == want and len(rows) == len(want), f"lookup returned {len(rows)} rows, expected {len(want)}")

    def _scan(self) -> None:
        from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS

        prefix = sorted(self.by_prefix)[int(self.rng.integers(len(self.by_prefix)))]
        with self.span("cellstore.scan") as sp:
            t0 = _now()
            rows = (
                CS.read_cells(self.spark, self.store, prefix=prefix)
                .select("row_key", "col_name", "values")
                .collect()
            )
            dt = _now() - t0
        self.sample("scan_ms", dt * 1e3)
        if sp is not None:  # traced: rows the scan stages read from parquet
            self.count("scan.rows_read", sp.stats["exec.input_records"])
            self.count("scan.rows_returned", len(rows))
        got = {(r[0], r[1], tuple(r[2])) for r in rows}
        want = {(k[0], k[1], self.cells[k]) for k in self.by_prefix[prefix]}
        self.op(got == want and len(rows) == len(want), f"scan returned {len(rows)} rows, expected {len(want)}")

    def _merge(self) -> None:
        from applications_analytics_midas_hbase_metrics_spark.functions.keys import salt_py
        from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS

        keys = list(self.cells)
        pick = [keys[i] for i in self.rng.choice(len(keys), size=8, replace=False)]
        tag = int(self.rng.integers(1 << 30))
        changes = [(k[0], k[1], [f"upd:{tag}:{i}"], "U") for i, k in enumerate(pick[:6])]
        changes += [(k[0], k[1], None, "D") for k in pick[6:]]
        # two inserts: new units under an existing lot prefix
        prefix = _lot_prefix(pick[0][0])
        changes += [(f"{prefix}new{tag}x{i}", "T_new", [f"ins:{tag}"], "U") for i in range(2)]
        cdf = self.spark.createDataFrame(
            changes, "row_key string, col_name string, values array<string>, op string"
        )
        with self.span("cellstore.merge"):
            t0 = _now()
            info = CS.merge_cells(self.spark, self.store, cdf)
            dt = _now() - t0
        self.sample("merge_ms", dt * 1e3)
        for rk, cn, vals, op in changes:
            key = (rk, cn)
            if op == "D":
                del self.cells[key]
                self.by_prefix[_lot_prefix(rk)].discard(key)
            else:
                self.cells[key] = tuple(vals)
                self.salt.setdefault(rk, salt_py(rk))
                self.by_prefix[_lot_prefix(rk)].add(key)
        touched = {self.salt[rk] for rk, _cn, _v, _op in changes}
        expect_rows = sum(1 for k in self.cells if self.salt[k[0]] in touched)
        if self.tracing:
            self.count("merge.count", 1)
            self.count("cellstore.merge_partitions_touched", len(info["touched_partitions"]))
            self.count("merge.rows_written", info["rows_written"])
            self.count("merge.rows_changed", len(changes))
        self.op(
            set(info["touched_salts"]) == touched and info["rows_written"] == expect_rows,
            f"merge touched {info['touched_salts']} wrote {info['rows_written']}, "
            f"expected {sorted(touched)} / {expect_rows}",
        )

    def _load_traced(self, m_store: str, c_store: str) -> list:
        """``ingest_mupr_to_store`` / ``ingest_mucr_to_store`` /
        ``validate_load`` cut at their layer boundaries (the composition
        in plans/pipelines.py), one span per layer."""
        from pyspark.sql import functions as F

        from applications_analytics_midas_hbase_metrics_spark.functions.keys import salt_bucket_vec
        from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS
        from applications_analytics_midas_hbase_metrics_spark.operators import validate as V
        from applications_analytics_midas_hbase_metrics_spark.plans import pipelines as PL
        from applications_analytics_midas_hbase_metrics_spark.sources import ingest as I

        spark, m, c = self.spark, self.mupr, self.mucr
        file_name = F.element_at(F.split(F.input_file_name(), "/"), -1)
        with self.span("ingest.parse"):
            pm = self.materialize(I.read_mupr(spark, m.data_dir).withColumn("File_Name", file_name))
            pc = self.materialize(I.read_mucr(spark, c.data_dir).withColumn("File_Name", file_name))
        with self.span("ingest.enrich"):
            em = self.materialize(I.enrich_with_metadata(pm, I.read_trigger(spark, m.trig_path)))
            ec = self.materialize(I.enrich_with_metadata(pc, I.read_trigger(spark, c.trig_path)))
        with self.span("keys.salt"):
            salt_bucket_vec.func(pd.Series(self.row_keys))
        with self.span("cellstore.to_cells"):
            cm = self.materialize(
                CS.to_cells(
                    em,
                    key_cols=list(PL.MUPR_KEY_COLS),
                    col_name=F.col("Test_Name"),
                    value_cols=list(PL.MUPR_VALUE_COLS),
                )
            )
            cc = self.materialize(
                CS.to_cells(
                    ec,
                    key_cols=["Lot", "Lato_Start_WW", "Lots_seq_key", "Unit_Testing_Seq_Key"],
                    col_name=I.mucr_column_qualifier(),
                    value_cols=[
                        "Unit_Counter_Seq_Num",
                        "Substructure_ID",
                        "Repeating_Counter_Occurrences",
                    ],
                )
            )
        with self.span("cellstore.write"):
            CS.write_cells(cm, m_store, mode="append")
            CS.write_cells(cc, c_store, mode="append")
        with self.span("validate.compare"):
            verdicts = V.validation_summary(
                V.compare_cells(cm, CS.read_cells(spark, m_store))
            ).collect()
        rows_in = pm.count() + pc.count()
        matched = em.filter(F.col("Lot").isNotNull()).count() + ec.filter(
            F.col("Lot").isNotNull()
        ).count()
        self.count("ingest.rows_in", rows_in)
        self.count("ingest.rows_dropped", (m.records + c.records) - matched)
        for store in (m_store, c_store):
            files, size = dir_bytes(store)
            self.count("cellstore.files_written", files)
            self.count("cellstore.bytes_written", size)
        self.count("validate.cells_compared", sum(r["n"] for r in verdicts))
        return verdicts

    def finish(self, traced: bool) -> None:
        if not traced:
            self._check_mucr_store()
        if self.trace_run:
            self._stream(traced)

    def _check_mucr_store(self) -> None:
        """The last rep's MUCR store, cell by cell, against the generator."""
        got: dict = {}
        try:
            rows = (
                self.spark.read.parquet(os.path.join(self.out, "mucr_store"))
                .select("row_key", "col_name", "values")
                .collect()
            )
        except Exception:  # noqa: BLE001
            self.op_error("reading the MUCR store")
            return
        for r in rows:
            got[(r[0], r[1])] = tuple(r[2])
        self.op(
            got == self.mucr.cells and len(rows) == len(got),
            f"MUCR store differs from the generator's cells ({len(rows)} rows)",
        )

    def _stream(self, traced: bool) -> None:
        from applications_analytics_midas_hbase_metrics_spark.streaming.ingest_stream import (
            stream_to_cells,
        )

        os.makedirs(self.out, exist_ok=True)
        sink = os.path.join(self.out, f"stream_store_{int(traced)}")
        ckpt = os.path.join(self.out, f"stream_ckpt_{int(traced)}")
        query = []
        try:
            with self.span("stream.run", lambda: [str(query[0].runId)] if query else []):
                t0 = _now()
                src = (
                    self.spark.readStream.schema(gen.STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", 2)
                    .parquet(self.stream_src)
                )
                q = stream_to_cells(
                    src,
                    sink,
                    ckpt,
                    key_cols=list(gen.STREAM_KEY_COLS),
                    col_name=gen.STREAM_COL_NAME,
                    value_cols=list(gen.STREAM_VALUE_COLS),
                    trigger_available_now=True,
                )
                query.append(q)
                q.awaitTermination()
                wall = _now() - t0
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception:  # noqa: BLE001
            self.op_error("stream_to_cells")
            return
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if not traced:
            self.sample("stream_s", wall)
            for p in progress:
                self.sample("stream_batch_ms", p["durationMs"]["triggerExecution"])
        else:
            self.count("stream.runs", 1)
            self.count("stream.batches", len(progress))
            for p in progress:
                d = p["durationMs"]
                self.sample("stream.add_batch_ms", d.get("addBatch", 0))
                self.sample("stream.commit_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
        # untimed check: regroup the appended micro-batch cells per key
        got: dict = {}
        for r in self.spark.read.parquet(sink).select("row_key", "col_name", "values").collect():
            got.setdefault((r[0], r[1]), []).extend(r[2])
        got = {k: tuple(sorted(v)) for k, v in got.items()}
        self.op(got == self.stream_cells, f"streamed store differs from to_cells ({len(got)} cells)")

    def end_to_end(self) -> dict:
        ingest = [
            (self.mupr.records + self.mucr.records) / t for t in self.samples.get("ingest_s", [])
        ]
        return {
            "throughput_per_s": median(ingest),
            "op_p50_ms": median(self.samples.get("lookup_ms", [])),
        }

    def report(self) -> dict:
        s = self.samples
        rows = self.mupr.records + self.mucr.records
        # one file-set load as the reference's batch job runs it:
        # pushtoDB for both file kinds, then runTestRunner
        loads = [a + b for a, b in zip(s.get("ingest_s", []), s.get("validate_s", []))]
        return {
            "load_p50_ms": (median(loads) * 1e3, "ms"),
            "ingest_rows_per_s": (median([rows / t for t in s.get("ingest_s", [])]), "rows/s"),
            "validate_p50_ms": (median(s.get("validate_s", [])) * 1e3, "ms"),
            "validate_cells_per_s": (
                median([n / t for n, t in zip(s.get("validate_cells", []), s.get("validate_s", []))]),
                "cells/s",
            ),
            "store_bytes_per_input_byte": (median(s.get("store_bytes_ratio", [])), "ratio"),
            "stream_rows_per_s": (median([self.stream_n / t for t in s.get("stream_s", [])]), "rows/s"),
            "stream_batch_p50_ms": (median(s.get("stream_batch_ms", [])), "ms"),
            "lookup_p50_ms": (median(s.get("lookup_ms", [])), "ms"),
            "lookup_p90_ms": (percentile(s.get("lookup_ms", []), 0.9), "ms"),
            "scan_p50_ms": (median(s.get("scan_ms", [])), "ms"),
            "scan_p90_ms": (percentile(s.get("scan_ms", []), 0.9), "ms"),
            "merge_p50_ms": (median(s.get("merge_ms", [])), "ms"),
            "lookup_samples": (len(s.get("lookup_ms", [])), "count"),
            "scan_samples": (len(s.get("scan_ms", [])), "count"),
            "merge_samples": (len(s.get("merge_ms", [])), "count"),
        }


# ---------------------------------------------------------------------------
# curation_build
# ---------------------------------------------------------------------------

CURATION_QUERIES = ("curation_pipeline_full", "gopher_quality_pipeline")


class CurationBuild(Workload):
    """``curation_pipeline_full`` and ``gopher_quality_pipeline`` through
    the query registry over a seeded corpus; each output is collected
    whole and hashed against the DuckDB oracle."""

    name = "curation_build"

    def sizes(self, tiny: bool) -> int:
        # 6% of sf0.1's 5000 documents, below SCALE: the DuckDB oracle
        # grows quadratically (2 s at 300 docs, 11 s at 625, 6 min at
        # 5000), while both pipelines take the same time at 60 and at
        # 625 docs (README.md, "Sizing")
        return 60 if tiny or self.smoke else 300

    def _generate(self, out_dir: str, tiny: bool) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)
        self.sf_dir = os.path.join(out_dir, "sf")
        self.n_docs = self.sizes(tiny)
        self.input_bytes = gen.documents(
            np.random.default_rng([self.seed, 3]), self.sf_dir, self.n_docs
        )
        self.input_rows = self.n_docs

    def expect(self) -> None:
        import duckdb

        # the same order-insensitive hash the differential harness uses
        from tools.check_correctness import frame_hash

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(self.sf_dir, 'documents.parquet')}'"
            )
            self.expected = {}
            for q in CURATION_QUERIES:
                res = con.execute(self.queries.ORACLES[q])
                self.expected[q] = frame_hash([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def warmup(self) -> None:
        self._generate(os.path.join(self.work, "warmup"), tiny=True)
        self.expect()
        self.hygiene()
        self.rep(traced=False)
        self.forget_samples()

    def prepare(self, out_dir: str) -> None:
        self._generate(out_dir, tiny=False)

    def rep(self, traced: bool) -> None:
        before = self.persistent_rdds()
        created: set[int] = set()
        total = 0.0
        from tools.check_correctness import frame_hash

        for q in CURATION_QUERIES:
            try:
                with self.span("driver.build"):
                    t0 = _now()
                    df = self.queries.QUERIES[q](self.spark, self.sf_dir)
                    t1 = _now()
                if traced:
                    self._pin_sample(before, created)
                with self.span("plans.execute"):
                    rows = df.collect()
                    t2 = _now()
                if traced:
                    self._pin_sample(before, created)
            except Exception:  # noqa: BLE001
                self.op_error(q)
                continue
            total += t2 - t0
            self.sample(f"{q}_ms", (t2 - t0) * 1e3)
            self.sample(f"{q}_build_ms", (t1 - t0) * 1e3)
            got = frame_hash(df.columns, rows)
            self.op(got == self.expected[q], f"{q} hash {got} != oracle {self.expected[q]}")
        if total > 0:
            self.sample("rep_s", total)
        if traced:
            self.count("pins.created", len(created))
        self.note_leaks(before, traced)

    def _pin_sample(self, before: set[int], created: set[int]) -> None:
        """Add the pins registered since ``before`` to ``created`` and
        track the peak bytes they hold."""
        new = self.persistent_rdds() - before
        created |= new
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos if i.id() in new)
        self.counts["pins.peak_bytes"] = max(self.counts.get("pins.peak_bytes", 0.0), held)

    def end_to_end(self) -> dict:
        return {
            "throughput_per_s": median([self.n_docs / t for t in self.samples.get("rep_s", [])]),
            "op_p50_ms": median(self.samples.get("curation_pipeline_full_ms", [])),
        }

    def report(self) -> dict:
        s = self.samples
        return {
            "curation_docs_per_s": (self.end_to_end()["throughput_per_s"], "docs/s"),
            "curation_pipeline_full_p50_ms": (median(s.get("curation_pipeline_full_ms", [])), "ms"),
            "gopher_quality_pipeline_p50_ms": (median(s.get("gopher_quality_pipeline_ms", [])), "ms"),
            "driver_build_p50_ms": (
                median(s.get("curation_pipeline_full_build_ms", []) + s.get("gopher_quality_pipeline_build_ms", [])),
                "ms",
            ),
        }


WORKLOADS = {w.name: w for w in (IngestLoad, CurationBuild)}
