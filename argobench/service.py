"""The atlas service the benchmark drives: a writer loop that turns GDAC
files into published atlas versions, one closed-loop reader of the
``CURRENT`` version, and (open loop) an arrival generator.

Only public functions of ``argostats_spark`` are called, and every call is
timed from here. Both workloads share the Spark set-up, the reader and the
memory sampler; they differ in the writer's traffic:

- ``gdac_rebuild`` (closed loop): each update re-reads the whole tree,
  rebuilds summary and profiles, and republishes a coarse global atlas.
- ``float_arrivals`` (open loop): new float files land on a fixed
  schedule; an ``argo_gdac`` stream merges, interpolates and refreshes a
  finer atlas per micro-batch.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from .tracing import Tracer

# Atlas grids: (domain, resolution deg, smoothing factor); radius = res x sf.
REBUILD_GRID = ((-180.0, 180.0, -80.0, 80.0), 10.0, 2.0)
STREAM_GRID = ((-180.0, 180.0, -80.0, 80.0), 5.0, 2.0)
# The cold first update is part of set-up and untimed. gdac_rebuild takes
# no further warm-up (one costs ~10 s of a ~60 s run budget; see README);
# float_arrivals lands one untimed float first: its second batch is still
# much slower than later ones, and at a 7 s interval that slowness turns
# into queueing for the next arrival.
WARMUP_ARRIVALS = 1
# Timed updates (or arrivals) per run, at least; more while --seconds has
# not elapsed. Two is what the run budget allows beside a ~30 s set-up.
MIN_TIMED_UPDATES = 2
# float_arrivals: a new float file lands every ARRIVAL_INTERVAL_S, about
# 1.3x the warm update time measured on 4 cores, so the writer is busy
# most of the time without building a backlog.
ARRIVAL_INTERVAL_S = 7.0
DRAIN_TIMEOUT_S = 90.0


@dataclass
class Update:
    """One writer update, wall-clock seconds."""
    id: int
    start: float
    end: float
    keys: frozenset          # files (by WMO) whose data it published
    profiles: int            # profiles in those files
    ingest_s: float
    atlas_s: float
    detail: bool             # traced with job groups
    phases: dict = field(default_factory=dict)


@dataclass
class Read:
    start: float
    resolve_s: float
    collect_s: float
    ok: bool

    @property
    def total(self) -> float:
        return self.resolve_s + self.collect_s


class Service:
    def __init__(self, root: str, work: str, seed: int, traced: bool):
        self.root, self.work, self.seed = root, work, seed
        self.traced = traced
        self.tree = os.path.join(work, "gdac")
        self.glob = os.path.join(self.tree, "*", "*")
        self.stores = os.path.join(work, "stores")
        self.event_dir = os.path.join(work, "events")
        self.spark = None
        self.tracer = Tracer()
        self.updates: list[Update] = []
        self.reads: list[Read] = []
        self.errors: list[str] = []
        self.query = None
        self.ingested = []            # interpolated profiles of each micro-batch
        self.batch_id = None          # the micro-batch in progress
        self._published = threading.Condition()

    # -- Spark lifecycle ---------------------------------------------------

    def start_spark(self, cores: int):
        from argostats_spark.session import get_spark
        from argostats_spark.sources.datasource import register_argo_source

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata under /tmp: all scratch stays in the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # readers get their own fair-share pool beside the writer's jobs
            "spark.scheduler.mode": "FAIR",
            "spark.executorEnv.PYTHONPATH": self.root,
            "spark.default.parallelism": str(cores),
        }
        if self.traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(app_name="argobench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        register_argo_source(self.spark)
        self.tracer.spark = self.spark
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    # -- writer: gdac_rebuild ----------------------------------------------

    def rebuild_update(self, uid: int, grid, keys: frozenset, profiles: int,
                       stores: str | None = None, tree_glob: str | None = None) -> Update:
        """One full rebuild: argo_gdac -> raw Parquet -> summary ->
        interpolated profiles -> TS + T25 EAPE -> version write -> publish."""
        from argostats_spark.operators.atlas import clim_eape, clim_ts_auto
        from argostats_spark.operators.interpolation import interpolate_profiles, write_profiles
        from argostats_spark.operators.summary import build_summary
        from argostats_spark.streaming.atlas import publish_version

        spark, tr = self.spark, self.tracer
        _, reso, sf = REBUILD_GRID
        raw_dir, sum_dir, prof_dir, st = (os.path.join(stores or self.stores, n)
                                          for n in ("raw", "summary", "profiles", "atlas"))
        t0 = time.time()
        with tr.span("sources.read", uid):
            spark.read.format("argo_gdac").load(tree_glob or self.glob).write.mode("overwrite").parquet(raw_dir)
        raw = spark.read.parquet(raw_dir)
        with tr.span("summary.build", uid):
            build_summary(raw).write.mode("overwrite").parquet(sum_dir)
        with tr.span("interpolation.run", uid):
            prof = interpolate_profiles(raw).localCheckpoint(eager=True)
        out_n = prof.count() if tr.detail else None
        with tr.span("interpolation.write", uid):
            write_profiles(prof, prof_dir)
        t1 = time.time()
        profiles_df = spark.read.parquet(prof_dir)
        with tr.span("atlas.ts", uid):
            ts = clim_ts_auto(grid, profiles_df, reso, sf).localCheckpoint(eager=True)
        with tr.span("atlas.eape", uid):
            eape = clim_eape(grid, profiles_df, reso, sf, ts=ts, algo="T25").localCheckpoint(eager=True)
        with tr.span("atlas.publish", uid):
            out = ts.join(eape.select("glon", "glat", "RHO", "EAPE"), on=["glon", "glat"])
            out.write.mode("overwrite").parquet(f"{st}/v={uid}")
            written = time.time()
            publish_version(st, uid)
        t2 = time.time()
        phases = {s.name: s.duration for s in tr.spans if s.update == uid}
        phases["atlas.write"] = written - tr.of("atlas.publish", uid)[-1].start
        if out_n is not None:
            phases["interpolation.out"] = out_n
        return _log(Update(uid, t0, t2, keys, profiles, t1 - t0, t2 - t1, tr.detail, phases))

    # -- writer: float_arrivals --------------------------------------------

    def start_stream(self, grid, on_batch):
        from argostats_spark.operators.interpolation import interpolate_profiles
        from argostats_spark.operators.summary import build_summary
        from argostats_spark.streaming.atlas import atlas_refresh_writer
        from argostats_spark.streaming.gdac import merge_summary_snapshot

        _, reso, sf = STREAM_GRID
        tr = self.tracer
        pair_store = os.path.join(self.stores, "pairs")
        atlas_store = os.path.join(self.stores, "atlas")
        sum_dir = os.path.join(self.stores, "summary")
        refresh = atlas_refresh_writer(grid, pair_store, atlas_store, reso, sf)
        self.refresh = refresh

        def batch_fn(df, bid: int) -> None:
            try:
                self.batch_id = bid
                on_batch(bid)
                t0 = time.time()
                with tr.span("sources.read", bid):
                    b = df.localCheckpoint(eager=True)
                    rows = b.groupBy("WMO").count().collect()
                keys = frozenset(str(r["WMO"]) for r in rows)
                with tr.span("summary.merge", bid):
                    merge_summary_snapshot(build_summary(b), sum_dir)
                with tr.span("interpolation.run", bid):
                    prof = interpolate_profiles(b).localCheckpoint(eager=True)
                t1 = time.time()
                out_n = prof.count() if tr.detail else None
                self.ingested.append(prof)
                t_refresh = time.time()
                with tr.span("streaming.refresh", bid):
                    refresh(prof, bid)
                t2 = time.time()
                # the callable's stages, timed from the files they commit
                appended = _success_mtime(f"{pair_store}/batch={bid}")
                written = _success_mtime(f"{atlas_store}/v={bid}")
                phases = {s.name: s.duration for s in tr.spans if s.update == bid}
                phases.update({"streaming.pair_append": appended - t_refresh,
                               "streaming.publish": t2 - written})
                eape = tr.of("atlas.eape", bid)
                if eape:  # traced batches: the EAPE span ends where the write starts
                    phases["atlas.write"] = written - eape[-1].end
                if out_n is not None:
                    phases["interpolation.out"] = out_n
                u = Update(bid, t0, t2, keys, sum(r["count"] for r in rows),
                           t1 - t0, t2 - appended, tr.detail, phases)
            except Exception as e:  # the stream thread: record, then fail the query
                self.errors.append(f"batch {bid}: {e!r}")
                raise
            _log(u)
            with self._published:
                self.updates.append(u)
                self._published.notify_all()

        stream = self.spark.readStream.format("argo_gdac").load(self.glob)
        ckpt = os.path.join(self.stores, "checkpoint")
        self.query = stream.writeStream.foreachBatch(batch_fn).option("checkpointLocation", ckpt).start()
        return self.query

    def wait_published(self, key: str, timeout: float) -> bool:
        """Block until an update containing ``key`` has published."""
        deadline = time.time() + timeout
        with self._published:
            while not any(key in u.keys for u in self.updates):
                left = deadline - time.time()
                if left <= 0 or (self.query is not None and not self.query.isActive):
                    return False
                self._published.wait(min(left, 1.0))
        return True

    # -- reader ------------------------------------------------------------

    def reader_loop(self, store: str, cells: list[tuple[float, float]], stop: threading.Event) -> None:
        """Closed-loop cell lookups through current_atlas until ``stop``."""
        from pyspark.sql import functions as F

        from argostats_spark.streaming.atlas import current_atlas

        rng = random.Random(self.seed)
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
        while not stop.is_set():
            x, y = rng.choice(cells)
            t0 = time.time()
            try:
                with self.tracer.span("reader.read"):
                    df = current_atlas(self.spark, store)
                    t1 = time.time()
                    rows = df.filter((F.col("glon") == x) & (F.col("glat") == y)).select("n_points").collect()
                ok = len(rows) == 1
            except Exception as e:  # a failed lookup counts, the reader goes on
                print(f"read failed: {e!r}", file=sys.stderr)
                t1, ok = time.time(), False
            self.reads.append(Read(t0, t1 - t0, time.time() - t1, ok))


def _log(u: Update) -> Update:
    print(f"update {u.id}: {u.end - u.start:.2f}s " + " ".join(
        f"{k}={v:.2f}" for k, v in u.phases.items()), file=sys.stderr, flush=True)
    return u


def _success_mtime(directory: str) -> float:
    return os.stat(os.path.join(directory, "_SUCCESS")).st_mtime


def land(staged: str, target_dir: str) -> float:
    """Make a staged file appear in the tree: touch it, then rename it in
    (atomic on one filesystem, so the stream never lists a partial file)."""
    os.makedirs(target_dir, exist_ok=True)
    os.utime(staged, None)
    os.rename(staged, os.path.join(target_dir, os.path.basename(staged)))
    return time.time()
