"""The three benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), names
the table its set-up trials read (``setup_table``), runs one untimed
warm-up (``warm_up``), then runs complete passes of operations
(``run_pass``) and checks what each operation produced. A traced pass
wraps every public call in a span; see ``spans.py``.

- ``query_mix``: one analyst running registry queries back to back
  (closed loop, one client), each query checked against its DuckDB
  oracle twin.
- ``etl_full``: the ``export`` command over one events table with
  re-delivered incident ids, each export checked against the flagship
  DuckDB twin.
- ``stream_ingest``: report files landing one at a time, each followed
  by an ``AvailableNow`` ingest into the gold table.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb

import gen
from cpu import CpuMeter
from spans import Tracer, patched

PKG = "enriched_crime_incident_data_pipeline_spark"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
MIX_SEED = 0
CANARY = "tpch_q6"


@dataclass
class Op:
    name: str
    wall: float
    rows: int
    ok: bool
    cpu: float = 0.0  # engine CPU seconds without JIT compilation
    jit: float = 0.0  # CPU seconds of the JVM's JIT compiler threads


def _once(path: str, make) -> dict:
    """Run ``make(tmp_dir)`` unless ``path`` already holds its output;
    the record is kept next to the data so a rerun reuses both."""
    rec = os.path.join(path, "record.json")
    if os.path.exists(rec):
        with open(rec) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    record = make(tmp)
    with open(os.path.join(tmp, "record.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return record


def mix_tables(work: str) -> tuple[str, dict]:
    path = os.path.join(work, "mix")
    return path, _once(path, lambda d: gen.write_mix_tables(MIX_SEED, d))


def _report(what: str) -> None:
    print(what, file=sys.stderr)
    traceback.print_exc()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def load_table_span(tracer: Tracer):
    """A ``sources.load_table`` stand-in that records a span per call."""
    from enriched_crime_incident_data_pipeline_spark.sources import catalog

    original = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load_table"):
            return original(spark, sf_dir, name)

    return patched(PKG, original, load_table)


class Workload:
    name = ""
    setup_table = "events"
    meter: CpuMeter  # set once the JVM runs

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def clock(self) -> tuple[float, float, float]:
        """(wall, cpu, jit) readings; ``since`` takes their difference."""
        return (time.perf_counter(), *self.meter.read())

    def since(self, start: tuple[float, float, float]) -> tuple[float, float, float]:
        return tuple(b - a for a, b in zip(start, self.clock()))

    def prepare(self) -> dict:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer: Tracer | None) -> list[Op]:
        raise NotImplementedError

    def finish(self, spark, ops: list[Op]) -> None:
        """Checks that need the whole run; may mark ops failed."""

    def traced_extras(self, spark, tracer: Tracer) -> dict[str, float]:
        return {}


class QueryMix(Workload):
    """Registry queries on the generated star schema, in a seeded order
    that is reshuffled on every pass. Each query builds a fresh
    DataFrame, runs it to the ``noop`` sink and clears the cache."""

    name = "query_mix"
    setup_table = "lineitem"
    # A pass must stay near 10 s on 4 cores: the flagship DAG is left
    # to etl_full, which runs it through the export command, and
    # s5b_pdf_decode (2 s warm, 9 s cold) is left out.
    QUERIES = [
        "j1_broadcast_join",
        "w3_window_max",
        "tpch_q5",
        "tpch_q6",
        "tpch_q18",
        "sessionization",
        "asof_join",
        "st1_stream_tumbling",
        "dd5_ngram_jaccard",
        "gr1_pagerank",
    ]

    def prepare(self) -> dict:
        self.data, record = mix_tables(self.work)
        self.rng = random.Random(self.seed)
        self.expected = self._oracle_results()
        self.verified: dict[str, bool] = {}
        return {**record, "queries": self.QUERIES}

    def _oracle_results(self) -> dict:
        """DuckDB oracle rows per query, cached by query and data
        digest (canonicalized with ``selfcheck.frame_rows``)."""
        from enriched_crime_incident_data_pipeline_spark import registry
        from selfcheck import frame_rows

        digest = gen.digest([os.path.join(self.data, f"{t}.parquet") for t in TABLES])
        cache = os.path.join(self.work, "oracle", digest)
        os.makedirs(cache, exist_ok=True)
        oracles = registry.oracle_queries()
        out = {}
        con = None
        for q in self.QUERIES:
            path = os.path.join(cache, f"{q}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    for t in TABLES:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t)}.parquet'"
                        )
                cur = con.execute(oracles[q])
                cols, rows = frame_rows([d[0] for d in cur.description], cur.fetchall())
                with open(path + ".tmp", "w") as f:
                    json.dump({"cols": cols, "rows": rows}, f)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                saved = json.load(f)
            out[q] = (saved["cols"], [_tuples(r) for r in saved["rows"]])
        if con is not None:
            con.close()
        return out

    def warm_up(self, spark) -> None:
        """Runs every query once, collects it and compares it with its
        oracle; a query that fails here fails every measured run."""
        from enriched_crime_incident_data_pipeline_spark import registry
        from selfcheck import frame_rows, values_match

        self.queries = registry.spark_queries()
        for q in self.QUERIES:
            try:
                df = self.queries[q](spark, self.data)
                cols, rows = frame_rows(df.columns, [tuple(r) for r in df.collect()])
                want_cols, want_rows = self.expected[q]
                self.verified[q] = cols == want_cols and values_match(rows, want_rows)[0]
            except Exception:  # a failing query is a failed op, not a crash
                _report(f"query_mix: {q} failed in warm-up")
                self.verified[q] = False
            spark.catalog.clearCache()

    def run_pass(self, spark, tracer: Tracer | None) -> list[Op]:
        order = list(self.QUERIES)
        self.rng.shuffle(order)
        ops = []
        for q in order:
            ok = self.verified[q]
            t0 = self.clock()
            try:
                if tracer is None:
                    noop(self.queries[q](spark, self.data))
                else:
                    self._traced(spark, tracer, q)
            except Exception:
                _report(f"query_mix: {q} failed")
                ok = False
            wall, cpu, jit = self.since(t0)
            ops.append(Op(q, wall, 0, ok, cpu, jit))
            spark.catalog.clearCache()
        return ops

    def _traced(self, spark, tracer: Tracer, q: str) -> None:
        op = tracer.next_op()
        with tracer.span(f"op.{q}"):
            with tracer.span("registry.build"), load_table_span(tracer):
                df = self.queries[q](spark, self.data)
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute"):
                noop(df)
        tracer.read_counters(op)


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


class EtlFull(Workload):
    """``python -m enriched_crime_incident_data_pipeline_spark export``
    run in-process over one generated events table."""

    name = "etl_full"
    ROWS = 100_000
    DUP_SHARE = 0.10
    EXPORTS_PER_PASS = 2

    def prepare(self) -> dict:
        self.data = os.path.join(self.work, "etl", str(self.seed))
        record = _once(
            self.data, lambda d: gen.write_events(self.seed, d, self.ROWS, self.DUP_SHARE)
        )
        self.out = os.path.join(self.work, "etl_out")
        self.con = duckdb.connect()
        self._expected_table()
        return record

    def _expected_table(self) -> None:
        from enriched_crime_incident_data_pipeline_spark import registry
        from enriched_crime_incident_data_pipeline_spark.sinks.output import OUTPUT_COLUMNS

        self.cols = OUTPUT_COLUMNS
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{self.data}/events.parquet'"
        )
        flagship = registry.oracle_queries()["flagship_enriched_report"]
        as_text = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in self.cols)
        self.con.execute(f"CREATE TABLE want AS SELECT {as_text} FROM ({flagship})")
        self.want_rows = self.con.execute("SELECT count(*) FROM want").fetchone()[0]

    def export(self) -> None:
        from enriched_crime_incident_data_pipeline_spark.__main__ import main

        rc = main(["export", "--sf-dir", self.data, "--out", self.out])
        if rc != 0:
            raise RuntimeError(f"export returned {rc}")

    def check(self) -> bool:
        """The 9 gold columns of the exported CSV equal the flagship
        DuckDB twin's rows as a multiset."""
        cols = ", ".join(self.cols)
        self.con.execute(
            f"CREATE OR REPLACE TEMP VIEW got AS SELECT {cols} FROM read_csv("
            f"'{self.out}/*.csv', header=true, all_varchar=true)"
        )
        n_got = self.con.execute("SELECT count(*) FROM got").fetchone()[0]
        if n_got != self.want_rows:
            return False
        missing = self.con.execute(
            "SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)"
        ).fetchone()[0]
        return missing == 0

    def warm_up(self, spark) -> None:
        # a cold export, then a warm one while the JIT catches up
        for _ in range(2):
            self.export()
            # the export persists its deduplicated base; each export is
            # a fresh CLI run, so no pass may reuse another's cache
            spark.catalog.clearCache()

    def run_pass(self, spark, tracer: Tracer | None) -> list[Op]:
        return [self._run_export(spark, tracer) for _ in range(self.EXPORTS_PER_PASS)]

    def _run_export(self, spark, tracer: Tracer | None) -> Op:
        ok = True
        t0 = self.clock()
        try:
            if tracer is None:
                self.export()
            else:
                op = tracer.next_op()
                with tracer.span("cli.export"), load_table_span(tracer):
                    self.export()
                tracer.read_counters(op)
        except Exception:
            _report("etl_full: export failed")
            ok = False
        wall, cpu, jit = self.since(t0)
        spark.catalog.clearCache()
        return Op("export", wall, self.ROWS, ok and self.check(), cpu, jit)

    def traced_extras(self, spark, tracer: Tracer) -> dict[str, float]:
        """Cost of each pipeline stage as the difference between the
        times to materialize successive prefixes of the export DAG (no
        cache: every prefix runs from the scan)."""
        from enriched_crime_incident_data_pipeline_spark.enrich.geocode import with_coordinates
        from enriched_crime_incident_data_pipeline_spark.enrich.sides import with_side_of_town
        from enriched_crime_incident_data_pipeline_spark.enrich.weather import with_weather
        from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
        from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
            dedup_and_propagate,
        )
        from enriched_crime_incident_data_pipeline_spark.operators.ranks import (
            with_frequency_rank,
        )
        from enriched_crime_incident_data_pipeline_spark.plans import (
            events_as_incidents_raw,
            synthetic_location_dim,
            synthetic_weather_hourly,
        )
        from enriched_crime_incident_data_pipeline_spark.sinks.output import write_csv
        from enriched_crime_incident_data_pipeline_spark.sources import load_table

        events = load_table(spark, self.data, "events")
        bronze = events_as_incidents_raw(events)
        silver = to_silver(bronze)
        base = dedup_and_propagate(silver)
        ranked = with_frequency_rank(
            with_frequency_rank(base, "location", "location_rank"), "nature", "incident_rank"
        )
        dim = synthetic_location_dim(events)
        coords = with_coordinates(ranked, dim)
        sided = with_side_of_town(coords)
        wh = synthetic_weather_hourly(with_coordinates(base, dim))
        full = with_weather(sided, wh)
        prefixes = [
            ("plans.bronze_s", lambda: noop(bronze)),
            ("operators.to_silver_s", lambda: noop(silver)),
            ("operators.dedup_and_propagate_s", lambda: noop(base)),
            ("operators.with_frequency_rank_s", lambda: noop(ranked)),
            ("enrich.with_coordinates_s", lambda: noop(coords)),
            ("enrich.with_side_of_town_s", lambda: noop(sided)),
            ("enrich.weather_s", lambda: noop(full)),
            ("sinks.write_csv_s", lambda: write_csv(full, self.out + "_prefix")),
        ]
        out: dict[str, float] = {}
        before = 0.0
        for name, run in prefixes:
            with tracer.span(f"prefix.{name}") as s:
                run()
            out[name] = s.duration - before
            before = s.duration
        out["operators.dedup_kept_ratio"] = base.count() / silver.count()
        return out


class StreamIngest(Workload):
    """Report files land one at a time in an arrival directory; after
    each landing ``ingest_silver_to_gold`` runs one ``AvailableNow``
    pass. Every pass starts from an empty gold table."""

    name = "stream_ingest"
    setup_table = "arrival_000"
    FILES = 6
    ROWS_PER_FILE = 25_000
    DUP_SHARE = 0.10

    def prepare(self) -> dict:
        self.data = os.path.join(self.work, "stream", str(self.seed))
        record = _once(
            self.data,
            lambda d: gen.write_arrivals(
                self.seed, d, self.FILES, self.ROWS_PER_FILE, self.DUP_SHARE
            ),
        )
        self.record = record
        self.files = sorted(glob.glob(os.path.join(self.data, "arrival_*.parquet")))
        self.passes = 0
        return record

    def _dirs(self, tag: str) -> dict[str, str]:
        root = os.path.join(self.work, "stream_run", tag)
        shutil.rmtree(root, ignore_errors=True)
        d = {k: os.path.join(root, k) for k in ("land", "gold", "ckpt")}
        os.makedirs(d["land"])
        return d

    def _ingest(self, spark, d: dict[str, str]) -> None:
        from enriched_crime_incident_data_pipeline_spark.plans.streaming_pipeline import (
            ingest_silver_to_gold,
            silver_stream,
        )

        stream = spark.readStream.schema(self.schema).parquet(d["land"])
        ingest_silver_to_gold(silver_stream(stream), d["gold"], d["ckpt"])

    def warm_up(self, spark) -> None:
        self.schema = spark.read.parquet(self.files[0]).schema
        d = self._dirs("warm")
        for f in self.files[:2]:
            shutil.copy(f, d["land"])
            self._ingest(spark, d)

    def run_pass(self, spark, tracer: Tracer | None) -> list[Op]:
        self.passes += 1
        d = self._dirs(f"pass{self.passes % 2}")
        self.last = d
        ops = []
        for f in self.files:
            shutil.copy(f, d["land"])
            ok = True
            t0 = self.clock()
            try:
                if tracer is None:
                    self._ingest(spark, d)
                else:
                    self._traced(spark, tracer, d)
            except Exception:
                _report("stream_ingest: ingest failed")
                ok = False
            wall, cpu, jit = self.since(t0)
            ops.append(Op("arrival", wall, self.ROWS_PER_FILE, ok, cpu, jit))
        if not self._gold_unique(spark, d["gold"]):
            for o in ops:
                o.ok = False
        return ops

    def _traced(self, spark, tracer: Tracer, d: dict[str, str]) -> None:
        op = tracer.next_op()
        with tracer.span("streaming.ingest"):
            self._ingest(spark, d)
        tracer.read_counters(op)

    def _gold_unique(self, spark, gold: str) -> bool:
        """Gold holds every incident of the landed files exactly once."""
        from pyspark.sql import functions as F

        row = (
            spark.read.parquet(gold)
            .agg(F.count("*").alias("n"), F.countDistinct("incident_num").alias("d"))
            .collect()[0]
        )
        return row["n"] == row["d"] == self.record["unique_ids"]

    def finish(self, spark, ops: list[Op]) -> None:
        """The enriched view over the last pass's gold equals the batch
        pipeline run over the union of the arrivals."""
        if self.passes and not self._view_matches_batch(spark, self.last["gold"]):
            n = self.FILES
            for i in range(len(ops) - n, len(ops)):
                ops[i].ok = False

    def _view_matches_batch(self, spark, gold: str) -> bool:
        from enriched_crime_incident_data_pipeline_spark.enrich.geocode import with_coordinates
        from enriched_crime_incident_data_pipeline_spark.operators.dedup import dedup_by_key
        from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
        from enriched_crime_incident_data_pipeline_spark.plans import (
            enrich_incidents,
            events_as_incidents_raw,
            synthetic_location_dim,
            synthetic_weather_hourly,
        )
        from enriched_crime_incident_data_pipeline_spark.plans.streaming_pipeline import (
            enriched_view,
        )
        from enriched_crime_incident_data_pipeline_spark.sinks.output import gold_projection
        from enriched_crime_incident_data_pipeline_spark.sources.catalog import (
            as_micros_timestamp,
        )

        raw = spark.read.parquet(*self.files)
        events = raw.withColumn("ts", as_micros_timestamp(raw, "ts"))
        silver = dedup_by_key(to_silver(events_as_incidents_raw(events)), "incident_num")
        dim = synthetic_location_dim(events)
        wh = synthetic_weather_hourly(with_coordinates(silver, dim))
        want = gold_projection(enrich_incidents(silver, dim, wh))
        got = gold_projection(enriched_view(spark, gold, dim, wh))
        return sorted(map(tuple, want.collect())) == sorted(map(tuple, got.collect()))

    def traced_extras(self, spark, tracer: Tracer) -> dict[str, float]:
        out: dict[str, float] = {}
        gold = self.last["gold"]
        files = glob.glob(os.path.join(gold, "**", "*.parquet"), recursive=True)
        out["sinks.gold_files"] = float(len(files))
        out["sinks.gold_mb"] = sum(os.path.getsize(f) for f in files) / 1e6
        landed = self.FILES * self.ROWS_PER_FILE
        redelivered = landed - self.record["unique_ids"]
        kept = spark.read.parquet(gold).count()
        out["operators.redelivered_dropped_ratio"] = (landed - kept) / redelivered
        return out


WORKLOADS = {w.name: w for w in (QueryMix, EtlFull, StreamIngest)}
