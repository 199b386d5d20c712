"""The benchmark's workloads.

Each workload has ``prepare`` (build this run's input; part of
set-up), ``measure`` (timed passes until the deadline, at least one)
and ``check`` (untimed: every output compared against the generator's
ground truth or the DuckDB oracle). ``measure`` returns a list of passes, each ``{"wall_s", "ops_ms", "failed"}``.
The package is reached only through its public functions, looked up
on their modules so the traced run's wrappers see every call.
"""

from __future__ import annotations

import csv
import math
import os
import random
import re
import shutil
import sqlite3
import time
from collections import Counter

from b2b_data_pipeline_indiamart_spark import pipeline
from b2b_data_pipeline_indiamart_spark.operators import caching
from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES
from b2b_data_pipeline_indiamart_spark.streaming import jobs as stream_jobs

import gen_csv
import gen_stream


class Workload:
    name = ""
    ops_per_pass = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work / self.name

    def span(self, name):
        return self.ctx.span(name)

    def measure(self, deadline):
        passes = [self.one_pass()]
        while time.perf_counter() < deadline:
            passes.append(self.one_pass())
        return passes


# ---------------------------------------------------------------- etl_csv
class EtlCsv(Workload):
    """Raw CSV -> run_pipeline (three CSV sinks + SQLite) -> analyze."""

    name = "etl_csv"
    LISTINGS = 1_000
    ops_per_pass = 14  # four pipeline outputs and ten charts

    def prepare(self):
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)
        self.raw = str(self.work / "raw.csv")
        self.truth = gen_csv.generate(self.raw, self.ctx.seed, self.LISTINGS)
        out = self.work / "out"
        self.config = pipeline.ETLConfig(
            input_file=self.raw,
            output_csv=str(out / "clean.csv"),
            profile_report=str(out / "profile.csv"),
            quality_issues=str(out / "issues.csv"),
            export_sqlite=True,
            output_db=str(out / "products.db"),
        )
        out.mkdir()

    def one_pass(self):
        """Failures are logged here and counted by ``check``, which
        finds every missing output and chart."""
        ops = []
        self.charts = {}
        t0 = time.perf_counter()
        try:
            final = pipeline.run_pipeline(self.spark, self.config)["final"]
        except Exception as exc:
            self.ctx.log(f"run_pipeline failed: {exc!r}")
            return {"wall_s": time.perf_counter() - t0, "ops_ms": [], "failed": 0}
        t1 = time.perf_counter()
        ops.append((t1 - t0) * 1000)
        self.ctx.timings.setdefault("etl_s", []).append(t1 - t0)
        for name, df in pipeline.analyze(final).items():
            c0 = time.perf_counter()
            try:
                with self.span(f"pipeline.chart.{name}"):
                    self.charts[name] = df.collect()
            except Exception as exc:
                self.ctx.log(f"chart {name} failed: {exc!r}")
            ops.append((time.perf_counter() - c0) * 1000)
        t2 = time.perf_counter()
        self.ctx.timings.setdefault("analyze_s", []).append(t2 - t1)
        return {"wall_s": t2 - t0, "ops_ms": ops, "failed": 0}

    @staticmethod
    def _csv_out(path):
        """Rows of the single part file ``write_csv`` leaves for ``path``."""
        out_dir = os.path.splitext(path)[0] + "_csvdir"
        part = next(p for p in sorted(os.listdir(out_dir)) if p.endswith(".csv"))
        with open(os.path.join(out_dir, part), encoding="utf-8-sig", newline="") as fh:
            return list(csv.DictReader(fh))

    def _sqlite_rows(self):
        con = sqlite3.connect(self.config.output_db)
        try:
            return con.execute("SELECT COUNT(*) FROM products").fetchone()[0]
        finally:
            con.close()

    def check(self):
        """The last pass's four outputs and ten charts against the
        ground truth. Returns (checked, mismatches); a check that
        raises is a mismatch."""
        t = self.truth
        kw = Counter(t["curated_by_keyword"])
        c = self.charts

        def curated():
            rows = self._csv_out(self.config.output_csv)
            return (
                len(rows) == t["curated_rows"]
                and sum(r["price_numeric"] == "NaN" for r in rows) == t["curated_null_price"]
                and Counter(r["supplier_region"] for r in rows) == Counter(t["curated_by_region"])
                and Counter(r["search_keyword"] for r in rows) == kw
            )

        def counts_match(chart, n):
            return len(c[chart]) == n and all(r["cnt"] == kw[r["group_value"]] for r in c[chart])

        checks = {
            "curated csv": curated,
            "profile csv": lambda: sorted(
                r["column"] for r in self._csv_out(self.config.profile_report)
            ) == sorted(pipeline.DEFAULT_FINAL_COLUMNS),
            "issues csv": lambda: Counter(
                r["issue"] for r in self._csv_out(self.config.quality_issues)
            ) == Counter(t["issues"]),
            "sqlite": lambda: self._sqlite_rows() == t["curated_rows"],
            "kpi_cards": lambda: c["kpi_cards"][0]["total_rows"] == t["curated_rows"]
            and c["kpi_cards"][0]["n_keywords"] == len(kw),
            "avg_price_by_keyword": lambda: len(c["avg_price_by_keyword"]) == 10,
            "top_cities": lambda: len(c["top_cities"]) == 10,
            "keyword_share": lambda: abs(sum(r["share_pct"] for r in c["keyword_share"]) - 100) < 0.05,
            "city_index": lambda: sum(r["cnt"] for r in c["city_index"]) == t["curated_rows"],
            "count_avg_combo": lambda: counts_match("count_avg_combo", 8),
            "treemap_top8": lambda: counts_match("treemap_top8", 8),
            "top10_price_cumulative": lambda: len(c["top10_price_cumulative"]) == 10,
            "price_histogram": lambda: 0 < sum(r["cnt"] for r in c["price_histogram"])
            <= t["curated_rows"] - t["curated_null_price"],
            "rating_price_scatter": lambda: len(c["rating_price_scatter"]) > 0,
        }
        bad = []
        for name, fn in checks.items():
            try:
                ok = fn()
            except Exception as exc:
                ok = False
                self.ctx.log(f"check {name} raised {exc!r}")
            if not ok:
                bad.append(name)
        return len(checks), bad


# -------------------------------------------------------- registry_stream
REGISTRY_KEYS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "windowed_rank",
    "etl_pipeline_e2e",
    "events_sessionize",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "doc_quality",
    "ann_topk",
]
#: byte-identical copy of the sf0.01 scale-factor tables the repository's
#: tests read, so the benchmark reads nothing outside its checkout
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _normalize(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value + 0.0)
    if isinstance(value, int):
        return repr(value)
    return str(value)


def comparable(colnames, rows):
    """Rows in the oracle's hash shape: columns sorted by name, values
    normalized, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


class RegistryStream(Workload):
    """The registry keys, then the near-dup streaming sink, in one pass.

    Registry: each key on the sf0.01 tables is built and collected once,
    cold, in a seed-shuffled order, with ``release_cached`` after every
    key. A consumer of ``__spark_entry__.queries()`` runs each key once
    per session and collects its rows to hash them, so the collect is
    the timed operation and its rows are what ``check`` compares.

    Stream: ``start_neardup_suppress_sink`` is started on an empty
    watched directory, then each seeded epoch file is renamed into it
    (atomic, so the file source never lists a half-written file) only
    after the previous epoch has committed. An epoch counts as committed
    once the source's file offset has reached it: ``processAllAvailable``
    alone can return before the file source has listed the new file."""

    name = "registry_stream"
    EPOCHS = 1
    DOCS = 200
    EPOCH_TIMEOUT_S = 120
    ops_per_pass = len(REGISTRY_KEYS) + EPOCHS  # an operation is a key or an epoch

    def prepare(self):
        self.order = list(REGISTRY_KEYS)
        random.Random(self.ctx.seed).shuffle(self.order)
        shutil.rmtree(self.work, ignore_errors=True)
        (self.work / "pending").mkdir(parents=True)
        (self.work / "docs").mkdir()
        epochs, self.truth = gen_stream.generate(self.ctx.seed, self.EPOCHS, self.DOCS)
        self.files = []
        for e, lines in enumerate(epochs):
            path = self.work / "pending" / f"b{e:04d}.json"
            path.write_text("\n".join(lines) + "\n")
            self.files.append(path)

    def measure(self, deadline):
        """One pass: the sink's state store cannot be reset between passes."""
        return [self.one_pass()]

    def one_pass(self):
        t0 = time.perf_counter()
        ops, failed = self._keys()
        self.latencies = self._stream()
        ops += [x * 1000 for x in self.latencies]
        wall = time.perf_counter() - t0
        self.ctx.timings["stream_epoch_s"] = self.latencies
        self.progress = [p["durationMs"] for p in self.query.recentProgress]
        self.query.stop()
        return {"wall_s": wall, "ops_ms": ops, "failed": failed}

    def _keys(self):
        self.rows, ops, failed = {}, [], 0
        k0 = time.perf_counter()
        for key in self.order:
            t0 = time.perf_counter()
            try:
                with self.span(f"plans.{key}"):
                    with self.span(f"plans.{key}.build"):
                        df = QUERIES[key](self.spark, SF_DIR)
                    with self.span(f"plans.{key}.exec"):
                        self.rows[key] = (df.columns, df.collect())
                    caching.release_cached()
                self.ctx.count_leaked_rdds()
            except Exception as exc:
                self.ctx.log(f"{key} failed: {exc!r}")
                failed += 1
                caching.release_cached()
            ops.append((time.perf_counter() - t0) * 1000)
        self.ctx.timings["registry_s"] = [time.perf_counter() - k0]
        return ops, failed

    def _stream(self):
        from pyspark.sql import types as T

        s0 = time.perf_counter()
        schema = T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ])
        docs = stream_jobs.read_event_stream(
            self.spark, str(self.work / "docs"), schema=schema, max_files_per_trigger=1
        )
        self.query = stream_jobs.start_neardup_suppress_sink(
            docs,
            str(self.work / "out"),
            str(self.work / "ckpt"),
            str(self.work / "state"),
            str(self.work / "ledger"),
            threshold=0.8,
        )
        latencies = []
        for e, path in enumerate(self.files):
            e0 = time.perf_counter()
            try:
                with self.span("streaming.epoch"):
                    path.rename(self.work / "docs" / path.name)
                    self.query.processAllAvailable()
                    while self._file_offset() < e:
                        if time.perf_counter() > e0 + self.EPOCH_TIMEOUT_S:
                            raise RuntimeError(f"epoch {e} never committed")
                        time.sleep(0.05)
                        self.query.processAllAvailable()
            except Exception as exc:
                self.ctx.log(f"epoch {e} failed: {exc!r}")
                break  # ``check`` counts every epoch that did not commit
            latencies.append(time.perf_counter() - e0)
        self.ctx.timings["stream_s"] = [time.perf_counter() - s0]
        return latencies

    def _file_offset(self):
        off = -1
        for pr in self.query.recentProgress:
            m = re.search(r"logOffset\D*(\d+)", str(pr["sources"][0]["endOffset"]))
            if m:
                off = max(off, int(m.group(1)))
        return off

    def check(self):
        """Every output of the pass, untimed: oracle keys hash-match
        ``ORACLE[key]`` run by DuckDB on the same files; rows-only keys
        give the same rows when built and collected again; the admitted
        documents and the signature store match the generator's ground
        truth, epoch by epoch."""
        bad = self._check_keys() + self._check_stream()
        return len(self.order) + self.EPOCHS + 3, bad

    def _collect(self, key):
        df = QUERIES[key](self.spark, SF_DIR)
        rows = df.collect()
        caching.release_cached()
        return df.columns, rows

    def _check_keys(self):
        import duckdb

        def shape(cols, rows):
            return sorted(cols), comparable(cols, [tuple(r) for r in rows])

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        bad = []
        try:
            for key, (cols, rows) in self.rows.items():
                try:
                    if key in ORACLE:
                        res = con.execute(ORACLE[key])
                        want = shape([d[0] for d in res.description], res.fetchall())
                        if shape(cols, rows) != want:
                            bad.append(f"{key}: differs from the DuckDB oracle")
                    elif shape(*self._collect(key)) != shape(cols, rows):
                        bad.append(f"{key}: two runs differ")
                except Exception as exc:
                    caching.release_cached()
                    bad.append(f"{key}: raised {exc!r}")
        finally:
            con.close()
        return bad

    def _ids_by_epoch(self, path):
        import pyarrow.parquet as pq

        table = pq.read_table(path, columns=["doc_id", "epoch"]).to_pydict()
        out: dict[int, list[int]] = {}
        for doc_id, epoch in zip(table["doc_id"], table["epoch"]):
            out.setdefault(int(epoch), []).append(doc_id)
        return {e: sorted(ids) for e, ids in sorted(out.items())}

    def _check_stream(self):
        t = self.truth
        self.state_bytes = sum(
            f.stat().st_size for f in (self.work / "state").rglob("*") if f.is_file()
        )
        bad = [f"epoch {e}: did not commit" for e in range(len(self.latencies), self.EPOCHS)]
        try:
            admitted = self._ids_by_epoch(self.work / "out")
            state = self._ids_by_epoch(self.work / "state" / "sigs")
            self.admitted_docs = sum(map(len, admitted.values()))
            self.state_rows = sum(map(len, state.values()))
            checks = {
                "admitted ids": sorted(i for ids in admitted.values() for i in ids)
                == t["admitted_ids"],
                "admitted per epoch": [len(v) for v in admitted.values()]
                == t["admitted_per_epoch"],
                "state rows equal admitted docs at every epoch": state == admitted,
            }
            bad += [name for name, ok in checks.items() if not ok]
        except Exception as exc:
            self.ctx.log(f"stream check raised {exc!r}")
            bad.append("stream outputs unreadable")
        return bad


WORKLOADS = {w.name: w for w in (EtlCsv, RegistryStream)}
