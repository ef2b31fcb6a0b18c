"""The benchmark's workloads. Each drives the engine only through its
public functions and checks every result with :mod:`plantbench.checks`.

plant_query    closed loop of web-UI requests, 2 clients, no writes
minute_ingest  the ingest daemon's cycle (watermark → PI fetch →
               derived maintenance), back to back
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

from plantbench import checks, gen

DB = "plant"


#: one timed operation: kind, params, latency_s, error, result, ...
Op = dict


class Workload:
    """``stage()`` generates the inputs into files before the session
    starts, outside the timed set-up; ``setup(spark)`` builds the store
    from them through the program."""

    name = ""

    def __init__(self, cfg: dict, seed: int, tracer, run_dir: str):
        self.cfg = cfg
        self.seed = seed
        self.tracer = tracer
        self.run_dir = run_dir
        self.archive_root = os.path.join(cfg["store_root"], DB, "archive")
        self.tree_path = os.path.join(run_dir, "tree.json")
        self.stage_dir = os.path.join(run_dir, "stage")

    def _stage(self, plant: gen.Plant, minutes: int) -> None:
        """Tree-cache JSON, and every tag's history over [0, minutes) as
        parquet."""
        with open(self.tree_path, "w") as f:
            json.dump(plant.doc, f)
        os.makedirs(self.stage_dir, exist_ok=True)
        tags = np.arange(plant.n_tags)
        gen.write_archive(os.path.join(self.stage_dir, "archive.parquet"),
                          self.seed, tags + 1, tags, 0, minutes)

    def _build_store(self, spark) -> None:
        """Catalog from the staged tree, then the staged history."""
        from industrial_data_pipeline_spark.api import Pipeline

        self.spark = spark
        self.pipeline = Pipeline(spark, self.cfg["store_root"])
        self.loaded = self.pipeline.load_tree(DB, self.tree_path)
        self.pipeline.store.append_archive(
            DB, spark.read.parquet(self.stage_dir))

    def verify(self, op: Op) -> None:
        raise NotImplementedError

    def check_all(self, ops: list[Op]) -> int:
        """Verify every op not already failed; returns the failures."""
        failed = 0
        for op in ops:
            if op.get("error") is None:
                try:
                    self.verify(op)
                except checks.WrongResult as exc:
                    op["error"] = f"wrong result: {exc}"
            if op.get("error") is not None:
                failed += 1
        return failed


# ------------------------------------------------------------ plant_query


class PlantQuery(Workload):
    """Web-UI read traffic over 400 tags × 7 days of 1-minute values
    (about 4 M archive rows). Two clients each wait for their reply
    before sending the next request (closed loop)."""

    name = "plant_query"
    UNITS, EQUIPMENT, DAYS, CLIENTS = 2, 10, 7, 2

    def stage(self) -> None:
        self.plant = gen.Plant(self.UNITS, self.EQUIPMENT)
        self._stage(self.plant, self.DAYS * gen.MINUTES_PER_DAY)

    def setup(self, spark) -> None:
        self._build_store(spark)
        self.stream = gen.request_stream(self.seed, self.plant, self.DAYS)
        self._lock = threading.Lock()
        self._rid = 0

    def check_setup(self) -> None:
        n = self.pipeline.store.archive_values(DB).count()
        want = self.plant.n_tags * self.DAYS * gen.MINUTES_PER_DAY
        if (n != want or self.loaded["attribute_count"] != self.plant.n_tags
                or self.loaded["element_count"] != len(self.plant.element_ids())):
            raise checks.WrongResult(
                f"store build: {n} archive rows (want {want}), {self.loaded}")

    def _execute(self, kind: str, params: dict, rid: int):
        from pyspark.sql import functions as F

        from industrial_data_pipeline_spark.operators import timeseries

        p = self.pipeline

        def ids(tags):
            return [t + 1 for t in tags]

        def window():
            return gen.minute_ts(params["m0"]), gen.minute_ts(params["m1"])

        def asdicts(rows):
            return [r.asDict() for r in rows]

        if kind == "trend":
            return asdicts(p.get_timeseries(DB, ids(params["tags"]),
                                            *window()).collect())
        if kind == "export_csv":
            path = os.path.join(self.run_dir, "exports", f"req-{rid}")
            res = p.export(DB, ids(params["tags"]), path, "csv", *window())
            return {"path": path, "rows": res["rows"]}
        if kind == "lookup":
            return asdicts(p.lookup(DB, params["text"],
                                    params["kind"]).collect())
        if kind == "browse":
            if params["all"]:
                return asdicts(p.leaf_elements(DB).collect())
            leaf = self.plant.leaf_names()[params["leaf"]][2]
            return asdicts(p.all_attributes(
                DB, self.plant.element_ids()[leaf]).collect())
        if kind == "ts_range":
            return p.timestamp_range(DB, params["tag"] + 1)
        arch = p.store.archive_values(DB).where(
            F.col("attribute_id").isin(ids(params["tags"])))
        if kind == "rollup":
            return asdicts(timeseries.rollup(arch, 3600).collect())
        if kind == "anomaly":
            lo, hi = window()
            day = arch.where((F.col("timestamp") >= F.lit(lo))
                             & (F.col("timestamp") <= F.lit(hi)))
            return asdicts(timeseries.rolling_anomaly(day)
                           .where("is_anomaly").collect())
        raise ValueError(kind)

    def _request(self, kind: str, params: dict, rid: int) -> Op:
        sc = self.spark.sparkContext
        self.tracer.set_request(rid)
        op = Op(kind=kind, params=params, rid=rid, error=None)
        t0 = time.perf_counter()
        with self.tracer.span(f"api.{kind}"):
            if self.tracer.enabled:
                sc.setJobGroup(f"plantbench-{rid}", kind)
            try:
                op["result"] = self._execute(kind, params, rid)
            except Exception as exc:  # noqa: BLE001 — a failed request is
                # counted in the error rate, and the loop keeps serving
                op["error"] = repr(exc)[:300]
        op["latency_s"] = time.perf_counter() - t0
        return op

    def warmup(self) -> list[Op]:
        """One block of a separately seeded request stream before
        timing, from both clients, plus the next block's rollup or
        anomaly (they alternate by block), so every request type runs
        at least once before timing."""
        stream = gen.request_stream(self.seed + 1, self.plant, self.DAYS)
        items = [next(stream) for _ in range(gen.BLOCK)]
        items.append(next(it for it in stream
                          if it[0] in ("rollup", "anomaly")))
        ops: list[Op] = []

        def client(i):
            for j, (kind, params) in enumerate(items[i::self.CLIENTS]):
                ops.append(self._request(kind, params, -(i * 100 + j + 1)))

        self._run_clients(client)
        return ops

    def _run_clients(self, target) -> None:
        threads = [threading.Thread(target=target, args=(i,),
                                    name=f"client-{i}")
                   for i in range(self.CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def measure(self, seconds: float) -> tuple[list[Op], float]:
        """Serve requests from both clients for ``seconds``, then up to
        the next block boundary. Returns the ops and the window length
        that makes ``len(ops) / length`` the summed client rates, each
        client's rate taken up to its own last reply: the idle tail of
        the client that finished the last block first is not counted."""
        ops: list[Op] = []
        t_start = time.perf_counter()
        deadline = t_start + seconds
        done = [0] * self.CLIENTS
        last = [t_start] * self.CLIENTS

        def client(i):
            while True:
                with self._lock:
                    # stop on a block boundary, so every window holds
                    # the same request mix
                    if (time.perf_counter() >= deadline
                            and self._rid % gen.BLOCK == 0):
                        return
                    self._rid += 1
                    rid = self._rid
                    kind, params = next(self.stream)
                op = self._request(kind, params, rid)
                last[i] = time.perf_counter()
                done[i] += 1
                with self._lock:
                    ops.append(op)

        self._run_clients(client)
        rate = sum(n / (t - t_start) for n, t in zip(done, last) if n)
        return ops, len(ops) / rate if rate else time.perf_counter() - t_start

    def count_jobs(self, ops: list[Op]) -> None:
        """Jobs and tasks each traced request ran, from its job group."""
        tracker = self.spark.sparkContext.statusTracker()
        for op in ops:
            jobs = tracker.getJobIdsForGroup(f"plantbench-{op['rid']}")
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            op["jobs"], op["tasks"] = len(jobs), tasks

    def verify(self, op: Op) -> None:
        kind, params, res = op["kind"], op["params"], op["result"]
        if kind == "trend":
            checks.trend(self.seed, params, res)
        elif kind == "export_csv":
            parts = [f for f in os.listdir(res["path"])
                     if f.startswith("part-") and f.endswith(".csv")]
            if len(parts) != 1:
                raise checks.WrongResult(f"export: {len(parts)} part files")
            with open(os.path.join(res["path"], parts[0])) as f:
                text = f.read()
            checks.export_csv(self.seed, self.plant, params, text, res["rows"])
        elif kind == "lookup":
            checks.lookup(self.plant, params, res)
        elif kind == "browse":
            checks.browse(self.plant, params, res)
        elif kind == "ts_range":
            checks.ts_range(self.DAYS, res)
        elif kind == "rollup":
            checks.rollup(self.seed, self.DAYS, params, res)
        elif kind == "anomaly":
            checks.anomaly(self.seed, params, res)


# ---------------------------------------------------------- minute_ingest


class MinuteIngest(Workload):
    """The ingest daemon's cycle over 200 tags: one full previous day
    plus 6 h of the current day in the archive, and two derived
    attributes, one of fan-in 3 and one chained on it (fan-in 2). Each
    cycle ingests one minute of every tag."""

    name = "minute_ingest"
    UNITS, EQUIPMENT, FILL_MIN, FORMULAS = 1, 10, 360, 2

    def stage(self) -> None:
        self.plant = gen.Plant(self.UNITS, self.EQUIPMENT)
        self.history = gen.MINUTES_PER_DAY + self.FILL_MIN
        self._stage(self.plant, self.history)

    def setup(self, spark) -> None:
        from industrial_data_pipeline_spark.sources.ingest import (
            IncrementalIngestor)
        from industrial_data_pipeline_spark.sources.mapping import mapping_df
        from industrial_data_pipeline_spark.sources.pi_client import (
            make_fetch_fn)
        from industrial_data_pipeline_spark.streaming.derived import (
            DerivedMaintenance)

        plant = self.plant
        n = plant.n_tags
        self._build_store(spark)
        self.tag_ids = {k: k + 1 for k in range(n)}
        self.formulas = gen.derived_formulas(self.seed, n, self.FORMULAS)
        elem = plant.element_ids()
        # the program backfills each derived attribute's history over
        # the sources (and, for the chained one, over the first derived)
        for f in self.formulas:
            src = next(a for a in f.args if a < n)
            leaf = plant.leaf_names()[src // len(gen.ATTRS)][2]
            self.tag_ids[f.derived_tag] = self.pipeline.insert_attribute(
                DB, elem[leaf], f.name,
                formula=f.text(self.tag_ids.__getitem__), backfill=True)

        webids = {plant.pi_path(k): f"W{k:05d}" for k in range(n)}
        self.transport = gen.FakePITransport(
            self.seed, plant, {w: k for k, w in enumerate(webids.values())})
        self.fetch = make_fetch_fn(self.spark, self.transport,
                                   gen.PI_BASE_URL, webids)
        self.mapping = mapping_df(
            self.spark, {plant.pi_path(k): self.tag_ids[k] for k in range(n)})
        self.ingestor = IncrementalIngestor(
            self.spark, self.pipeline.store, DB, self.mapping, self.fetch)
        self.maintenance = DerivedMaintenance(
            self.spark, self.pipeline.store, DB)
        self.next_minute = self.history

    def check_setup(self) -> None:
        from pyspark.sql import functions as F

        arch = self.pipeline.store.archive_values(DB)
        n = arch.count()
        want = (self.plant.n_tags + self.FORMULAS) * self.history
        if n != want:
            raise checks.WrongResult(f"store build: {n} rows, want {want}")
        derived_ids = [self.tag_ids[f.derived_tag] for f in self.formulas]
        rows = [r.asDict() for r in
                arch.where(F.col("attribute_id").isin(derived_ids)).collect()]
        checks.derived_history(
            self.seed, self.formulas, self.tag_ids, self.history, rows)

    def _cycle(self) -> Op:
        from industrial_data_pipeline_spark.sources.ingest import cleanse

        op = Op(kind="cycle", error=None, minute=self.next_minute)
        served = self.transport.rows_served
        t0 = time.perf_counter()
        with self.tracer.span("ingest.cycle"):
            try:
                start = self.ingestor.watermark()
                op["watermark"] = gen.ts_minute(start)
                raw = self.fetch(start, start)
                self.maintenance.process_batch(
                    cleanse(raw, self.mapping, gen.TZ_SHIFT_HOURS))
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                op["error"] = repr(exc)[:300]
        op["latency_s"] = time.perf_counter() - t0
        op["rows_fetched"] = self.transport.rows_served - served
        self.next_minute += 1
        return op

    def warmup(self) -> list[Op]:
        """Three cycles: the first one after set-up runs about twice the
        steady cycle time, and the next two still above it."""
        return [self._cycle() for _ in range(3)]

    def measure(self, seconds: float) -> tuple[list[Op], float]:
        ops: list[Op] = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            ops.append(self._cycle())
        return ops, time.perf_counter() - t_start

    def check_all(self, ops: list[Op]) -> int:
        """One read-back of every ingested minute, then per-cycle
        checks against it."""
        from pyspark.sql import functions as F

        lo = min(op["minute"] for op in ops)
        rows = (self.pipeline.store.archive_values(DB)
                .where(F.col("timestamp") >= F.lit(gen.minute_ts(lo)))
                .collect())
        self._by_minute: dict[int, list[dict]] = {}
        for r in rows:
            self._by_minute.setdefault(gen.ts_minute(r["timestamp"]),
                                       []).append(r.asDict())
        return super().check_all(ops)

    def verify(self, op: Op) -> None:
        m = op["minute"]
        if op["watermark"] != m:
            raise checks.WrongResult(
                f"watermark minute {op['watermark']}, want {m}")
        if op["rows_fetched"] != self.plant.n_tags:
            raise checks.WrongResult(f"fetched {op['rows_fetched']} rows")
        checks.ingested(
            self.seed, self.formulas, self.tag_ids, self.plant.n_tags, m,
            self._by_minute.get(m, []))


WORKLOADS = {w.name: w for w in (PlantQuery, MinuteIngest)}
