"""The benchmark's workloads.

``llm_curation`` runs a fixed list of compute-heavy catalog entries per
pass, in an order the seed permutes; each entry is one job: build its
plan (``queries.plan``), then collect its result to the driver with
``toPandas`` (``queries.execute``).  ``store_ingest`` is the daily
collection loop over persistent stores: each pass is one day and its
maintenance, each store operation one job.  Both check their outputs once, untimed, after
the timed passes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import multiprocessing
import os
import shutil
import tempfile
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# compute-heavy entries whose DuckDB oracle stays small at the generated
# sizes (dedup_semantic_multiprobe's does not: it spills gigabytes):
# MinHash LSH with Jaccard verification of the candidate pairs, all-pairs
# cosine in an applyInPandas block kernel, and Lloyd iterations that
# shuffle arrays; three, so that a run fits the benchmark's time budget
LLM_CURATION = [
    "dedup_minhash_banded",
    "similarity_pairs_gemm",
    "embedding_kmeans_iter",
]


class CatalogWorkload:
    """Closed loop over catalog entries, one client.  Each job collects
    its entry's result to the driver; ``check`` compares every result
    with the entry's DuckDB oracle after the timed passes."""

    min_steady, max_steady = 2, 50  # steady passes per run

    def __init__(self, names, spark, data_dir, tracer, rng, oracle_dir, data_key):
        from chchfr_data_collection_spark.queries import catalog

        cat = catalog()
        self.entries = [cat[n] for n in names]
        self.spark, self.data_dir, self.tracer, self.rng = spark, data_dir, tracer, rng
        # DuckDB results on the generated tables, cached under oracle_dir
        # by a hash of the SQL and of the generator; missing ones are
        # computed in a child process, so DuckDB's memory stays out of
        # this process's peak RSS
        paths = {}
        for q in self.entries:
            key = hashlib.sha1((q.sql + data_key).encode()).hexdigest()[:16]
            paths[q.name] = os.path.join(oracle_dir, f"{q.name}-{key}.pkl")
        missing = [(data_dir, q.sql, paths[q.name]) for q in self.entries
                   if not os.path.exists(paths[q.name])]
        if missing:
            os.makedirs(oracle_dir, exist_ok=True)
            with multiprocessing.get_context("spawn").Pool(1) as pool:
                pool.starmap(_write_oracle, missing)
        self.expected = {n: pd.read_pickle(p) for n, p in paths.items()}
        self.results: list[tuple[str, pd.DataFrame]] = []  # every job's, for check

    def run_pass(self) -> list[tuple[str, float]]:
        """One pass over every entry; returns (entry, seconds) each."""
        times = []
        for i in self.rng.permutation(len(self.entries)):
            q = self.entries[i]
            with self.tracer.span("queries.plan") as plan:
                df = q.fn(self.spark, self.data_dir)
            with self.tracer.span("queries.execute") as run:
                self.results.append((q.name, df.toPandas()))
            times.append((q.name, run.t1 - plan.t0))
        return times

    def check(self) -> tuple[int, list[str]]:
        """Compare every job's result with its oracle; return (0, the
        mismatches): the jobs were counted as they ran."""
        from oracle_check import compare

        failures = []
        for name, got in self.results:
            problems = compare(name, got, self.expected[name])
            if problems:
                failures.append(f"{name}: " + "; ".join(problems))
        return 0, failures

    def space_amp(self) -> float:
        return 0.0  # no stores


def _write_oracle(data_dir: str, sql: str, path: str) -> None:
    from oracle_check import duck_con

    con = duck_con(data_dir)
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    con.execute(sql).fetchdf().to_pickle(path + ".tmp")
    con.close()
    os.replace(path + ".tmp", path)


# ------------------------------------------------------------ store_ingest

DAYS = 3  # each day ends with a maintenance cycle
RETAIN_DAYS = 2  # the IVF index keeps a rolling window of days
STATIONS_PER_DAY = 40
STREAM_ROWS = 500  # documents and vectors streamed over the run
RESENT_FRAC = 0.3  # share of earlier stations each day's feed repeats
DIALECTS = ("bp", "mobil", "z_energy")
DAY0 = dt.date(2024, 3, 1)


def _station(i: int, rng) -> dict:
    lat, lng = -36.0 - rng.random() * 10, 170.0 + rng.random() * 8
    return {"id": str(100_000 + i), "brand": f"Brand{i % 7}",
            "name": f"Station {i}", "lat": round(lat, 5), "lng": round(lng, 5),
            "address": f"{i} Main Road", "city": f"City{i % 11}",
            "state": f"Region{i % 5}", "postcode": f"{1000 + i % 900}"}


def _payload(dialect: str, stations: list[dict]) -> str:
    if dialect == "bp":
        return json.dumps([
            {"id": s["id"], "site_brand": s["brand"], "name": s["name"],
             "lat": s["lat"], "lng": s["lng"], "address": s["address"],
             "city": s["city"], "state": s["state"], "postcode": s["postcode"],
             "country_code": "NZ"} for s in stations])
    if dialect == "mobil":
        return json.dumps({"Locations": [
            {"LocationID": s["id"], "BrandName": s["brand"],
             "LocationName": s["name"], "Latitude": s["lat"],
             "Longitude": s["lng"], "AddressLine1": s["address"],
             "City": s["city"], "StateProvince": s["state"],
             "PostalCode": s["postcode"], "Country": "NZ"} for s in stations]})
    return json.dumps({"results": [
        {"place_id": s["id"], "name": s["name"],
         "geometry": {"location": {"lat": s["lat"], "lng": s["lng"]}},
         "vicinity": f"{s['address']}, {s['city']}"} for s in stations]})


def _even_days(rng, n: int) -> np.ndarray:
    """A seeded day for each of ``n`` items, as even as ``n`` allows."""
    return rng.permutation(np.arange(n) % DAYS)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class StoreIngest:
    """The daily collection job over persistent stores, from empty roots.

    Each day: land the station payloads in three dialects and fold the
    new stations into the dimension (``sources.collect``), overwrite the
    day's price partition (``operators.upsert``), stream the day's
    embeddings and documents through the IVF and MinHash foreachBatch
    sinks and fold the day's near-dup pairs into the ComponentStore
    (``store.append``), then read the IVF index's top vectors
    (``store.read``) and probe the pairs and the clusters
    (``store.probe``).  Every day ends with maintenance:
    ``store.compact`` (MinHash index, ComponentStore), ``store.expire``
    (the IVF index keeps ``RETAIN_DAYS`` days) and ``store.sync`` (a
    fleet backup of all three stores).
    """

    min_steady = max_steady = DAYS - 1  # the first day is the cold pass

    def __init__(self, spark, data_dir, tracer, rng, run_dir):
        from chchfr_data_collection_spark.streaming.embeddings import ivf_centroids

        self.spark, self.tracer = spark, tracer
        self.root = os.path.join(run_dir, "store_ingest")
        self.stores = os.path.join(self.root, "stores")
        self.landing = os.path.join(self.root, "landing")
        self.ck = os.path.join(self.root, "checkpoints")
        self.day = 0
        self.append_s: list[tuple[int, float]] = []  # (pass, seconds)
        self.probe_s: list[tuple[int, float]] = []
        self.streaming: list[tuple[int, dict]] = []  # (pass, durationMs)
        self.cent = ivf_centroids(spark, data_dir)
        # the seed picks each station's first day and dialect, and which
        # day each document and vector arrives on; every day gets the
        # same number of each
        n_st = STATIONS_PER_DAY * DAYS
        self.first_day = _even_days(rng, n_st)
        self.dialect = rng.integers(0, len(DIALECTS), n_st)
        self.station = [_station(i, rng) for i in range(n_st)]
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).slice(0, STREAM_ROWS)
        vecs = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).slice(0, STREAM_ROWS)
        self.doc_day = _even_days(rng, docs.num_rows)
        self.vec_day = _even_days(rng, vecs.num_rows)
        for name, table, day_of in (("docs", docs, self.doc_day),
                                    ("vecs", vecs, self.vec_day)):
            os.makedirs(os.path.join(self.root, "days", name), exist_ok=True)
            for d in range(DAYS):
                pq.write_table(
                    table.filter(day_of == d),
                    os.path.join(self.root, "days", name, f"day-{d:03d}.parquet"),
                )
        self.vecs = vecs
        self.resent = [rng.random(n_st) < RESENT_FRAC for _ in range(DAYS)]
        self.batch_of_day: dict = {}
        self.backup = None

    def _p(self, *parts):
        return os.path.join(self.stores, *parts)

    @contextmanager
    def _span(self, name: str, samples: list | None = None):
        """A tracer span that, in a traced run, also records the bytes
        the operation added under the store roots."""
        traced = self.tracer.traced
        before = _dir_bytes(self.stores) if traced else 0
        with self.tracer.span(name) as s:
            yield s
        if traced:
            s.bytes_added = _dir_bytes(self.stores) - before
        if samples is not None:
            samples.append((s.pass_no, s.t1 - s.t0))

    def run_pass(self) -> list[tuple[str, float]]:
        """One day, with its maintenance; returns (operation, seconds) each."""
        first = len(self.tracer.spans)
        self._one_day(self.day)
        self._maintain(self.day)
        self.day += 1
        return [(s.name, s.t1 - s.t0) for s in self.tracer.spans[first:]]

    def _one_day(self, d: int) -> None:
        from pyspark.sql import functions as F

        from chchfr_data_collection_spark.operators.upsert import overwrite_date_partition
        from chchfr_data_collection_spark.pipelines import (
            collect_stations,
            generate_daily_prices,
        )
        from chchfr_data_collection_spark.schemas import GAS_STATION_SCHEMA
        from chchfr_data_collection_spark.sources.fetch import land_payload
        from chchfr_data_collection_spark.sources.specs import ALL_SPECS
        from chchfr_data_collection_spark.streaming.documents import (
            DOCUMENTS_SCHEMA,
            foreach_batch_minhash_probe,
        )
        from chchfr_data_collection_spark.streaming.embeddings import (
            EMBEDDINGS_SCHEMA,
            foreach_batch_ivf_assign,
        )

        spark, tr = self.spark, self.tracer
        ivf, idx, cc = self._stores()
        if d == 0:
            with self._span("store.append", self.append_s):
                idx.bootstrap(spark.createDataFrame([], DOCUMENTS_SCHEMA))
                cc.bootstrap(spark.createDataFrame([], "da bigint, db bigint"))

        # 1. land today's payloads and fold the new stations into the dimension
        today = [i for i in range(len(self.station))
                 if self.first_day[i] == d or (self.first_day[i] < d and self.resent[d][i])]
        paths = {}
        for k, name in enumerate(DIALECTS):
            recs = [self.station[i] for i in today if self.dialect[i] == k]
            paths[name] = land_payload(_payload(name, recs), self.landing, name, f"{d:03d}")
        dim_path = self._p("gas_station")
        specs = [s for s in ALL_SPECS if s.name in DIALECTS]
        with self._span("sources.collect"):
            existing = (spark.read.parquet(dim_path) if d > 0
                        else spark.createDataFrame([], GAS_STATION_SCHEMA))
            collect_stations(spark, paths, existing, specs).write.mode("append").parquet(dim_path)
        date = DAY0 + dt.timedelta(days=d)
        with self._span("operators.upsert"):
            prices = generate_daily_prices(
                spark, spark.read.parquet(dim_path), date=date, jitter="deterministic"
            )
            overwrite_date_partition(prices, self._p("fuel_price"))

        # 2. the day's micro-batches through the streaming sinks
        for name, schema in (("vecs", EMBEDDINGS_SCHEMA), ("docs", DOCUMENTS_SCHEMA)):
            feed = os.path.join(self.landing, "feed", name)
            os.makedirs(feed, exist_ok=True)
            os.link(os.path.join(self.root, "days", name, f"day-{d:03d}.parquet"),
                    os.path.join(feed, f"day-{d:03d}.parquet"))
            stream = spark.readStream.schema(schema).parquet(feed)
            ck = os.path.join(self.ck, name)
            with self._span("store.append", self.append_s):
                if name == "vecs":
                    q = foreach_batch_ivf_assign(stream, self.cent, self._p("ivf"), ck)
                else:
                    q = foreach_batch_minhash_probe(stream, idx, self._p("pairs"), ck)
                q.awaitTermination()
            for p in q.recentProgress:
                self.streaming.append((tr.pass_no, dict(p.get("durationMs", {}))))
                self.batch_of_day.setdefault((name, d), []).append(p["batchId"])
        with self._span("store.append", self.append_s):
            batches = self.batch_of_day[("docs", d)]
            pairs = spark.read.parquet(self._p("pairs")).filter(F.col("batch_id").isin(batches))
            cc.apply_pairs(pairs.select("da", "db"), delta_id=f"d{d:03d}")

        # 3. serving probes
        with self._span("store.read", self.probe_s):
            ivf.read().orderBy(
                F.desc("cos_c"), "vec_id").limit(10).collect()
        with self._span("store.probe", self.probe_s):
            # the streaming sink lands pairs beside the index, not in its
            # pairs history, so the probe reads that sink
            spark.read.parquet(self._p("pairs")).orderBy(
                F.desc("jaccard"), "da", "db").limit(10).collect()
        with self._span("store.probe", self.probe_s):
            cc.labels().groupBy("component").count().orderBy(
                F.desc("count"), "component").limit(10).collect()

    def _stores(self):
        """Handles on the IVF index, the MinHash index and the
        ComponentStore."""
        from chchfr_data_collection_spark.operators.component_store import ComponentStore
        from chchfr_data_collection_spark.operators.minhash_index import MinHashIndex
        from chchfr_data_collection_spark.streaming.embeddings import IvfAssignmentStore

        return (
            IvfAssignmentStore(self.spark, self._p("ivf")),
            MinHashIndex(self.spark, self._p("minhash")),
            ComponentStore(self.spark, self._p("cc")),
        )

    def retention_floor(self, d: int) -> int:
        """First IVF batch kept after the maintenance on day ``d``."""
        return max(0, d + 1 - RETAIN_DAYS)

    def _maintain(self, d: int) -> None:
        from chchfr_data_collection_spark.operators.takedown import snapshot_everywhere

        ivf, idx, cc = self._stores()
        # the IVF index keeps a rolling window of whole batches, which a
        # fold would merge, so only the MinHash index and the
        # ComponentStore are compacted
        with self._span("store.compact"):
            idx.compact(merge_ratio=None)
            cc.compact(merge_ratio=None)
        floor = self.retention_floor(d)
        if floor > 0:  # nothing has aged out of the window before
            with self._span("store.expire"):
                ivf.expire(before_batch=min(self.batch_of_day[("vecs", floor)]))
        # an incremental sync refuses once the source has folded batches
        # the clone lacks, so each day's backup is a fresh fleet snapshot
        backup = os.path.join(self.root, f"backup-{d:03d}")
        with self._span("store.sync"):
            snapshot_everywhere(backup, (ivf, "ivf"), (idx, "minhash"), (cc, "cc"))
        if self.backup:
            shutil.rmtree(self.backup)
        self.backup = backup

    # ------------------------------------------------------------- figures

    def space_amp(self) -> float:
        return _dir_bytes(self.stores) / max(1, _dir_bytes(self.landing))

    def check(self) -> tuple[int, list[str]]:
        """Compare the final store state with one-shot batch computations
        over the same landed corpus; return (checked, failures)."""
        from pyspark.sql import functions as F

        from chchfr_data_collection_spark.pipelines import (
            collect_stations,
            generate_daily_prices,
        )
        from chchfr_data_collection_spark.schemas import GAS_STATION_SCHEMA
        from chchfr_data_collection_spark.sources.specs import ALL_SPECS
        from chchfr_data_collection_spark.streaming.embeddings import ivf_assign
        from oracle_check import compare

        spark, days = self.spark, self.day
        ivf, _, cc = self._stores()
        failures = []

        def same(what, got, want):
            problems = compare(what, got, want)
            if problems:
                failures.append(f"{what}: " + "; ".join(problems))

        specs = [s for s in ALL_SPECS if s.name in DIALECTS]
        all_payloads = {n: os.path.join(self.landing, n) for n in DIALECTS}
        dim = collect_stations(
            spark, all_payloads, spark.createDataFrame([], GAS_STATION_SCHEMA), specs)
        same("gas_station", spark.read.parquet(self._p("gas_station")).toPandas(),
             dim.toPandas())

        first = {str(100_000 + i): int(f) for i, f in enumerate(self.first_day)}
        first_df = spark.createDataFrame(list(first.items()), "location_id string, d int")
        want = None
        for d in range(days):
            stations = dim.join(first_df, "location_id").filter(F.col("d") <= d).drop("d")
            day = generate_daily_prices(spark, stations, date=DAY0 + dt.timedelta(days=d),
                                        jitter="deterministic")
            want = day if want is None else want.unionByName(day)
        same("fuel_price", spark.read.parquet(self._p("fuel_price")).toPandas(),
             want.toPandas())

        floor = self.retention_floor(days - 1)
        kept = [int(v) for v in self.vecs.column("vec_id").to_numpy()[self.vec_day >= floor]]
        vecs = spark.read.parquet(os.path.join(self.root, "days", "vecs"))
        same("ivf", ivf.read()
             .select("vec_id", "cent_id", "cos_c").toPandas(),
             ivf_assign(vecs.filter(F.col("vec_id").isin(kept)), self.cent)
             .select("vec_id", "cent_id", "cos_c").toPandas())

        pairs = spark.read.parquet(self._p("pairs")).select("da", "db").toPandas()
        same("cc", cc.labels()
             .select("node", "component").toPandas(), _components(pairs))
        return 4, failures


def _components(pairs: pd.DataFrame) -> pd.DataFrame:
    """Connected components of the pair graph, labelled by their min node."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["da"], pairs["db"]):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted(parent)
    return pd.DataFrame({"node": nodes, "component": [find(n) for n in nodes]})
