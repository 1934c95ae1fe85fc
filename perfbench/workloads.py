"""The benchmark workloads.

Each workload generates its inputs and their expected outputs from the
run's seed (``prepare``, untimed), may build state through the program
once (``build``, timed as part of ``setup_s``), then runs operations
(``op``) that each call the program's public functions and check the
outputs. An operation returns the seconds its calls into the
program took (input generation and output checks are not timed) and
whether every output check passed; the runner counts a failed check as
a failed operation.

Layer calls go through ``Bench.layer`` (a span, plus a Spark job group
in traced operations); counts that the program reports itself
(``PipelineResult.timings``, ``IngestReport.loaded``) are read after the
call returns.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from checks import frame_digest, tree_digest
from instrument import tree_delta, tree_state

from lakehouse_platform_nyc_taxi_spark import harness
from lakehouse_platform_nyc_taxi_spark.operators import dedup, similarity
from lakehouse_platform_nyc_taxi_spark.operators.curation import curate_corpus
from lakehouse_platform_nyc_taxi_spark.operators.text import text_stats
from lakehouse_platform_nyc_taxi_spark.pipeline import run_pipeline
from lakehouse_platform_nyc_taxi_spark.quality import run_assertions, taxi_assertion_suite
from lakehouse_platform_nyc_taxi_spark.quality.assertions import (
    positive_fare_threshold,
    valid_speed,
)
from lakehouse_platform_nyc_taxi_spark.sources.ingest import MonthSpec, ingest_bulk, ingest_month
from tests import taxi_oracle

YEAR = 2023
MARTS = ("fct_trips", "fct_trips_daily", "fct_trips_monthly")
_AUDIT_COLS = ("loaded_at", "created_at")


def _seconds(span) -> float:
    return span.end - span.start


class Workload:
    """Defaults for the hooks; subclasses override what they use."""

    name = ""
    clients = 1
    #: operations every run completes, going on past ``--seconds`` if need be
    min_ops = 1

    def __init__(self, bench):
        self.b = bench

    def prepare(self, root: str) -> None:
        """Write the inputs under ``root`` and work out what the program
        must return for them; not timed."""
        raise NotImplementedError

    def build(self) -> None:
        """Calls into the program that every operation needs done first;
        timed, as part of ``setup_s``."""

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        raise NotImplementedError

    def warm(self) -> tuple[int, int]:
        """Untimed first operation(s) that fill caches and compile code;
        returns (attempted, failed)."""
        return 1, 0 if self.op(-1, False)[1] else 1

    def finish(self) -> None:
        """Record per-layer metrics that summarize the whole run."""


# --------------------------------------------------------------------------
# taxi workloads
# --------------------------------------------------------------------------


class _Taxi(Workload):
    """Shared pieces of the two taxi workloads. Neither warms up:
    ``taxi_refresh`` measures a first refresh, as a scheduled DAG run in a
    fresh Spark application does; ``taxi_increment``'s warehouse build
    already runs every code path its operations use."""

    months = 2
    #: trips per (taxi type, month) file; see README.md "Sizing"
    rows = 25_000

    def warm(self) -> tuple[int, int]:
        return 0, 0

    def prepare(self, root: str) -> None:
        rng = np.random.default_rng(self.b.seed)
        self.frames: dict[tuple[str, int], pd.DataFrame] = {}
        self.specs: list[MonthSpec] = []
        self.landing = f"{root}/landing"
        for kind in gen.TAXI_KINDS:
            for m in range(1, self.months + 1):
                pdf = gen.taxi_month(rng, kind, YEAR, m, self.rows)
                path = f"{self.landing}/{kind}_tripdata_{YEAR}-{m:02d}.parquet"
                gen.write_parquet(pdf, path)
                self.frames[(kind, m)] = pdf
                self.specs.append(MonthSpec(kind, path, YEAR, m))

    def raw_paths(self, raw_root: str) -> dict[str, str]:
        return {f"{k}_trips": f"{raw_root}/{k}_trips" for k in gen.TAXI_KINDS}

    def expected_marts(self) -> dict[str, tuple[int, str]]:
        """Digests of the DuckDB twin chain over the current raw files."""
        odir = f"{self.b.work}/oracle"
        paths = {}
        for kind in gen.TAXI_KINDS:
            parts = [
                pdf.assign(year=np.int32(YEAR), month=np.int32(m))
                for (k, m), pdf in sorted(self.frames.items())
                if k == kind
            ]
            paths[f"{kind}_trips"] = f"{odir}/{kind}_trips.parquet"
            gen.write_parquet(pd.concat(parts, ignore_index=True), paths[f"{kind}_trips"])
        con = duckdb.connect()
        try:
            return {
                "fct_trips": frame_digest(con.sql(taxi_oracle.fct_trips_sql(paths)).df()),
                "fct_trips_daily": frame_digest(con.sql(taxi_oracle.fct_trips_daily_sql(paths)).df()),
                "fct_trips_monthly": frame_digest(
                    con.sql(taxi_oracle.fct_trips_monthly_sql(paths)).df()
                ),
            }
        finally:
            con.close()

    def marts_match(self, warehouse: str, expected) -> bool:
        ok = True
        for mart in MARTS:
            df = self.b.spark.read.parquet(f"{warehouse}/{mart}")
            pdf = df.drop(*[c for c in _AUDIT_COLS if c in df.columns]).toPandas()
            got = frame_digest(pdf)
            if got != expected[mart]:
                self.b.note(f"{mart} differs from the oracle: {got} != {expected[mart]}")
                ok = False
        return ok

    def ingest(self, specs, raw_root: str, traced: bool, one_month: bool = False) -> None:
        before = tree_state(raw_root) if traced else None
        with self.b.layer("sources.ingest", traced) as span:
            if one_month:
                rows = sum(
                    ingest_month(
                        self.b.spark, s, f"{raw_root}/{s.source}_trips",
                        f"{self.b.work}/fetch", overwrite=True,
                    )[1]
                    for s in specs
                )
                failed = {}
            else:
                report = ingest_bulk(
                    self.b.spark, specs, raw_root, f"{self.b.work}/fetch", overwrite=True
                )
                rows, failed = sum(report.loaded.values()), report.failed
        if failed:
            raise RuntimeError(f"ingest failed: {failed}")
        if traced:
            files, nbytes = tree_delta(before, tree_state(raw_root))
            self.b.record("sources.ingest.s", _seconds(span))
            self.b.record("sources.ingest.rows", rows)
            self.b.record("sources.ingest.bytes_written", nbytes)

    def pipeline(self, raw_root: str, warehouse: str, traced: bool, refresh: bool):
        before = tree_state(warehouse) if traced else None
        with self.b.layer("pipeline", traced) as span:
            result = run_pipeline(
                self.b.spark,
                self.raw_paths(raw_root),
                warehouse,
                full_refresh=refresh,
                register_catalog=refresh,
            )
        if not result.ok:
            raise RuntimeError(f"pipeline failed: {result.errors}")
        if traced:
            files, nbytes = tree_delta(before, tree_state(warehouse))
            t = result.timings
            models = sum(t.values())
            self.b.record("models.staging.s", sum(v for k, v in t.items() if k.startswith("stg_")))
            self.b.record("models.intermediate.s", sum(v for k, v in t.items() if k.startswith("int_")))
            self.b.record("models.marts.s", sum(v for k, v in t.items() if k.startswith("fct_")))
            self.b.record("catalog.register_s", _seconds(span) - models if refresh else 0.0)
            self.b.record("pipeline.files_written", files)
            self.b.record("pipeline.bytes_written", nbytes)
        return result, (nbytes if traced else 0)

    def quality(self, built, traced: bool) -> int:
        with self.b.layer("quality", traced) as span:
            results = run_assertions(built, taxi_assertion_suite())
            results.append(positive_fare_threshold(built["fct_trips"]))
            results.append(valid_speed(built["fct_trips"]))
        failed = [r.name for r in results if not r.passed]
        if len(results) != 37:
            raise RuntimeError(f"expected 37 quality checks, ran {len(results)}")
        if failed:
            self.b.note(f"quality checks failed: {failed}")
        if traced:
            self.b.record("quality.s", _seconds(span))
            self.b.record("quality.checks_failed", len(failed))
        return len(failed)


class TaxiRefresh(_Taxi):
    """Land 4 taxi types x 2 months, ingest, full refresh into an empty
    warehouse (the CTAS path of every writer), catalog, 37 checks."""

    name = "taxi_refresh"

    def prepare(self, root: str) -> None:
        super().prepare(root)
        self.expected = self.expected_marts()
        self.delivered = sum(os.path.getsize(s.url) for s in self.specs)

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        root = f"{self.b.work}/op{i}"
        raw_root, warehouse = f"{root}/raw", f"{root}/warehouse"
        t0 = time.perf_counter()
        with self.b.layer("op", traced, op=i, count=False):
            self.ingest(self.specs, raw_root, traced)
            result, written = self.pipeline(raw_root, warehouse, traced, refresh=True)
            n_failed = self.quality(result.built, traced)
        seconds = time.perf_counter() - t0
        if traced:
            self.b.record("pipeline.write_amp", written / self.delivered)
        ok = n_failed == 0 and self.marts_match(warehouse, self.expected)
        shutil.rmtree(root, ignore_errors=True)
        return seconds, ok


class TaxiIncrement(_Taxi):
    """A warehouse of 3 months is built once; each operation re-delivers
    the newest month with seeded corrections, runs the incremental
    pipeline (partition-scoped delete+insert, full marts rebuild) and
    the 37 checks. Table size is the same after every operation."""

    name = "taxi_increment"
    months = 3

    def build(self) -> None:
        self.raw_root = f"{self.b.work}/raw"
        self.warehouse = f"{self.b.work}/warehouse"
        self.ingest(self.specs, self.raw_root, traced=False)
        self.pipeline(self.raw_root, self.warehouse, traced=False, refresh=False)
        self.base = {k: pdf for (k, m), pdf in self.frames.items() if m == self.months}

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        rng = np.random.default_rng([self.b.seed, i + 1])
        specs, delivered = [], 0
        for kind in gen.TAXI_KINDS:
            pdf = gen.correct_month(rng, self.base[kind])
            self.frames[(kind, self.months)] = pdf
            path = f"{self.b.work}/redelivery/{kind}_tripdata_{YEAR}-{self.months:02d}.parquet"
            delivered += gen.write_parquet(pdf, path)
            specs.append(MonthSpec(kind, path, YEAR, self.months))
        part = f"year={YEAR}/month={self.months}"
        untouched = {
            d: tree_digest(d, {part})
            for d in (self.raw_root, self.warehouse)
        }
        t0 = time.perf_counter()
        with self.b.layer("op", traced, op=i, count=False):
            self.ingest(specs, self.raw_root, traced, one_month=True)
            result, written = self.pipeline(self.raw_root, self.warehouse, traced, refresh=False)
            n_failed = self.quality(result.built, traced)
        seconds = time.perf_counter() - t0
        if traced:
            self.b.record("pipeline.write_amp", written / delivered)
        ok = n_failed == 0
        for d, digests in untouched.items():
            after = tree_digest(d, {part})
            # staging keeps old partitions; marts are rebuilt whole, so
            # only partitioned tables (raw and stg_*) are compared
            kept = {k: v for k, v in digests.items() if "year=" in k}
            if any(after.get(k) != v for k, v in kept.items()):
                self.b.note(f"untouched partitions under {d} changed")
                ok = False
        return seconds, ok and self.marts_match(self.warehouse, self.expected_marts())


# --------------------------------------------------------------------------
# interactive SQL
# --------------------------------------------------------------------------


class AdhocSql(Workload):
    """2 clients in a closed loop over the harness's TPC-H and TPC-DS
    queries, each query written to a ``noop`` sink. Each round runs every
    query once, in a seeded order."""

    name = "adhoc_sql"
    clients = 2
    sf = 0.01

    def prepare(self, root: str) -> None:
        rng = np.random.default_rng(self.b.seed)
        self.sf_dir = f"{root}/sf"
        for table, pdf in gen.star_schema(rng, self.sf).items():
            gen.write_parquet(pdf, f"{self.sf_dir}/{table}.parquet")
        reg = harness.registry()
        self.specs = {n: s for n, s in reg.items() if n.startswith(("tpch_", "tpcds_"))}
        self.rng = np.random.default_rng([self.b.seed, 7])
        con = duckdb.connect()
        try:
            for table in os.listdir(self.sf_dir):
                con.sql(
                    f"CREATE VIEW {table.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{self.sf_dir}/{table}')"
                )
            self.expected = {n: frame_digest(con.sql(s.oracle).df()) for n, s in self.specs.items()}
        finally:
            con.close()
        # one full round per run: every run measures the same mix (a seeded
        # part of a round spread op_p50_s by about 20% across seeds)
        self.min_ops = len(self.specs)
        self.work_per_query: dict[str, tuple[int, int]] = {}

    def warm(self) -> tuple[int, int]:
        """First execution of every query, collected and checked against
        its oracle, on one thread per core (it is untimed; the measured
        loop keeps ``clients`` threads)."""
        todo, bad = self._round(), []
        self.lock = threading.Lock()

        def client() -> None:
            while True:
                with self.lock:
                    if not todo:
                        return
                    name = todo.pop()
                try:
                    pdf = self.specs[name].fn(self.b.spark, self.sf_dir).toPandas()
                    same = frame_digest(pdf) == self.expected[name]
                except Exception:
                    self.b.note(f"{name} raised:\n{traceback.format_exc()}")
                    same = False
                if not same:
                    self.b.note(f"{name} differs from its oracle")
                    bad.append(name)

        threads = [threading.Thread(target=client) for _ in range(min(4, os.cpu_count() or 1))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.queue: list[str] = []
        return len(self.specs), len(bad)

    def _round(self) -> list[str]:
        return [str(n) for n in self.rng.permutation(sorted(self.specs))]

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        with self.lock:
            if not self.queue:
                self.queue = self._round()
            name = self.queue.pop()
        spec = self.specs[name]
        t0 = time.perf_counter()
        with self.b.layer("harness.query", traced, op=i, query=name) as q:
            with self.b.layer("harness.build", traced, count=False) as build:
                df = spec.fn(self.b.spark, self.sf_dir)
            with self.b.layer("harness.exec", traced, count=False) as run:
                df.write.mode("overwrite").format("noop").save()
        seconds = time.perf_counter() - t0
        if traced:
            self.b.record("harness.build_ms", 1000 * _seconds(build))
            self.b.record("harness.exec_ms", 1000 * _seconds(run))
            with self.lock:
                self.work_per_query.setdefault(name, (q.attrs["jobs"], q.attrs["tasks"]))
        return seconds, True

    def finish(self) -> None:
        """Jobs and tasks per query, averaged over the distinct queries
        (each query's counts are those of its first traced execution)."""
        if self.work_per_query:
            jobs, tasks = zip(*self.work_per_query.values())
            self.b.record("spark.jobs_per_query", statistics.fmean(jobs))
            self.b.record("spark.tasks_per_query", statistics.fmean(tasks))


# --------------------------------------------------------------------------
# corpus curation
# --------------------------------------------------------------------------


class CorpusCuration(Workload):
    """Curate a corpus with planted duplicates, cluster its near
    duplicates and serve a batch of IVF probes, forcing each stage."""

    name = "corpus_curation"
    n_docs = 2000
    n_queries = 16

    def prepare(self, root: str) -> None:
        rng = np.random.default_rng(self.b.seed)
        self.c = gen.corpus(rng, self.n_docs, n_queries=self.n_queries)
        self.paths = {k: f"{root}/{k}.parquet" for k in ("docs", "embeddings", "queries")}
        for k, p in self.paths.items():
            gen.write_parquet(self.c[k], p)
        spark = self.b.spark
        emb = spark.read.parquet(self.paths["embeddings"])
        queries = spark.read.parquet(self.paths["queries"]).collect()
        self.truth = {}
        for q in queries:
            qdf = spark.createDataFrame([(q.qv,)], "qv array<double>")
            top = similarity.cosine_topk(emb, qdf, k=10).collect()
            self.truth[q.qid] = {r.vec_id for r in top}

    def op(self, i: int, traced: bool) -> tuple[float, bool]:
        spark, layer = self.b.spark, self.b.layer
        docs = spark.read.parquet(self.paths["docs"])
        emb = spark.read.parquet(self.paths["embeddings"])
        qdf = spark.read.parquet(self.paths["queries"])
        if traced:  # force the stages curate_corpus fuses, one at a time, untimed
            with layer("operators.text", traced, op=i) as s_text:
                text_stats(docs).write.mode("overwrite").format("noop").save()
            with layer("operators.dedup.exact", traced, op=i) as s_exact:
                dedup.exact_dedup(docs).write.mode("overwrite").format("noop").save()
        t0 = time.perf_counter()
        with layer("op", traced, op=i, count=False):
            with layer("operators.curation", traced):
                curated = curate_corpus(docs, cap_per_source=self.n_docs)
                survivors = sorted(r.doc_id for r in curated.select("doc_id").collect())
            with layer("operators.dedup", traced, count=False):
                with layer("operators.dedup.minhash", traced) as s_mh:
                    pairs = dedup.minhash_lsh_pairs(docs).localCheckpoint()
                with layer("operators.dedup.cc", traced) as s_cc:
                    clusters = dedup.connected_components(pairs)
                with layer("operators.dedup.survivors", traced):
                    members = (
                        dedup.cluster_survivors(docs, clusters).agg(F.sum("n_members")).first()[0]
                    )
            with layer("operators.similarity", traced, count=False):
                with layer("operators.similarity.ivf_build", traced) as s_build:
                    index = similarity.build_ivf_index(emb, n_cells=16)
                with layer("operators.similarity.probe", traced) as s_probe:
                    hits = similarity.ivf_probe_batch(index, qdf, k=10).collect()
        seconds = time.perf_counter() - t0

        ok = True
        if survivors != self.c["survivors"]:
            self.b.note("curated survivors differ from the planted duplicates")
            ok = False
        if members != self.n_docs:
            self.b.note(f"near-duplicate clusters cover {members} of {self.n_docs} documents")
            ok = False
        got = defaultdict(set)
        for r in hits:
            got[r.qid].add(r.vec_id)
        recall = statistics.fmean(len(got[q] & t) / 10 for q, t in self.truth.items())
        if recall < 0.9:
            self.b.note(f"IVF recall@10 {recall:.3f} is below 0.9")
            ok = False
        if traced:
            rec = self.b.record
            cand = {(r.doc_a, r.doc_b) for r in pairs.select("doc_a", "doc_b").collect()}
            planted = self.c["near_pairs"] | self.c["exact_pairs"]
            rec("operators.text.s", _seconds(s_text))
            rec("operators.dedup.exact_s", _seconds(s_exact))
            rec("operators.dedup.minhash_s", _seconds(s_mh))
            rec("operators.dedup.cc_s", _seconds(s_cc))
            rec("operators.dedup.lsh_precision", len(cand & planted) / max(1, len(cand)))
            rec("operators.similarity.ivf_build_s", _seconds(s_build))
            rec("operators.similarity.probe_ms", 1000 * _seconds(s_probe) / len(self.truth))
            rec("operators.similarity.recall_at_10", recall)
        return seconds, ok


WORKLOADS = {w.name: w for w in (TaxiRefresh, TaxiIncrement, AdhocSql, CorpusCuration)}
