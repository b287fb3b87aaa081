"""Argo atlas service benchmark.

    python3 argobench/run.py --workload gdac_rebuild --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds a seeded GDAC tree, starts one
long-lived atlas service on ``local[nproc]`` and measures it for
``--seconds``. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). All scratch
output lives in ``.argobench/work`` and is removed at exit; traced runs
leave their spans in ``.argobench/traces``. See argobench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
from functools import reduce

import numpy as np

WORKLOADS = ("gdac_rebuild", "float_arrivals")
DRIVER_MEM = "2g"
E2E_UNITS = {
    "update_p50_s": "s", "ingest_profiles_per_s": "1/s", "atlas_s": "s",
    "read_p50_s": "s", "read_tail_s": "s", "setup_s": "s",
}


def _prepare(root: str):
    """Environment for the Spark JVM and its Python workers: scratch under
    the work directory, the repository on the workers' import path."""
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".argobench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # a fixed heap: the default (a third of host memory) makes the resident
    # set, and GC timing, depend on the host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return nproc, work


class Run:
    """One benchmark run: set-up, warm-up, the timed window, checks, and
    (traced) probes and the single-core pass."""

    def __init__(self, args, root: str, nproc: int, work: str):
        from argobench import service

        self.args, self.root, self.nproc, self.work = args, root, nproc, work
        self.svc = service.Service(root, work, args.seed, traced=bool(args.trace))
        self.checks: dict[str, tuple[bool, str]] = {}
        self.probes: dict[str, tuple[bool, str]] = {}
        self.timed: list = []           # timed updates
        self.latency: list[float] = []  # per timed update (or arrival)
        self.stream_stats = None
        self.window = (0.0, 0.0)
        self.layer: dict[str, float] = {}

    # -- shared pieces -----------------------------------------------------

    def _window(self, store: str, cells, body) -> None:
        """Run ``body`` with the reader and memory sampler beside it."""
        from argobench import stats

        svc = self.svc
        jvm = svc.jvm_pid()
        self.sampler = stats.MemorySampler(lambda: [jvm]).start()
        steal0, cpu0 = stats.steal_seconds(), self._cpu(jvm)
        stop = threading.Event()
        reader = threading.Thread(target=svc.reader_loop, args=(store, cells, stop), name="reader")
        t0 = time.time()
        reader.start()
        t1 = None
        try:
            t1 = body(t0)
        finally:
            stop.set()
            reader.join(timeout=60)
            self.sampler.stop()
        # reads count over the whole timed stretch, which may outlast --seconds
        self.window = (t0, max(t1 or 0.0, t0 + self.args.seconds))
        self.steal_s = stats.steal_seconds() - steal0
        self.cpu_s = self._cpu(jvm) - cpu0
        self.python_workers = sum(
            1 for p in stats.descendants(jvm) if p != jvm and _is_python(p))

    @staticmethod
    def _cpu(jvm: int) -> float:
        from argobench import stats

        own = os.times()
        return own.user + own.system + sum(stats.cpu_seconds(p) for p in stats.descendants(jvm))

    def _cells(self, store: str):
        from argostats_spark.streaming.atlas import current_atlas

        return [(r.glon, r.glat) for r in current_atlas(self.svc.spark, store).select("glon", "glat").collect()]

    def _check(self, name: str, fn, *a, into=None) -> None:
        """Record ``fn``'s (ok, detail) under ``name`` in ``into`` (the
        checks by default); a check or probe that cannot run has failed."""
        into = self.checks if into is None else into
        try:
            into[name] = fn(*a)
        except Exception as e:
            into[name] = (False, f"raised {e!r}"[:300])

    # -- gdac_rebuild ------------------------------------------------------

    def gdac_rebuild(self) -> None:
        from argobench import checks, inputs, service
        from argostats_spark.operators.atlas import make_grid

        svc, args = self.svc, self.args
        base, _ = inputs.draw_floats(args.seed)
        for f in base:
            inputs.write_float(svc.tree, f)
        self.floats = base
        keys = frozenset(str(f.wmo) for f in base)
        n_prof = sum(len(f.profiles) for f in base)
        domain, reso, _ = service.REBUILD_GRID
        store = os.path.join(svc.stores, "atlas")

        t0 = time.perf_counter()
        spark = svc.start_spark(self.nproc)
        grid = make_grid(spark, domain, reso).cache()
        grid.count()
        svc.rebuild_update(0, grid, keys, n_prof)
        self.setup_s = time.perf_counter() - t0
        cells = self._cells(store)

        def body(t_start):
            uid = 1
            while (len(self.timed) < service.MIN_TIMED_UPDATES
                   or time.time() < t_start + args.seconds):
                svc.tracer.detail = svc.traced and uid % 2 == 0
                self.timed.append(svc.rebuild_update(uid, grid, keys, n_prof))
                uid += 1
            svc.tracer.detail = False
            return self.timed[-1].end

        self._window(store, cells, body)
        self.latency = [u.end - u.start for u in self.timed]

        from argostats_spark.streaming.atlas import current_atlas

        atlas = current_atlas(spark, store).toPandas()
        prof = spark.read.parquet(os.path.join(svc.stores, "profiles"))
        n_out = prof.count()
        dl = prof.filter("FLAG = 1 AND DATA_MODE = 1").select("LONGITUDE", "LATITUDE", "CT", "SR", "IDX").toPandas()
        self._check("summary", checks.check_summary, spark, os.path.join(svc.stores, "summary"), base)
        self._check("kept_profiles", checks.check_kept, n_out, base)
        self._check("pairs", checks.check_pairs, atlas, base, service.REBUILD_GRID)
        self._check("cells", checks.check_cells, atlas, dl, service.REBUILD_GRID,
                    np.random.default_rng([args.seed, 2]))
        self.atlas, self.grid, self.grid_spec = atlas, grid, service.REBUILD_GRID
        self.profiles = prof

    # -- float_arrivals ----------------------------------------------------

    def float_arrivals(self) -> None:
        from argobench import checks, inputs, service, stats
        from argostats_spark.operators.atlas import make_grid
        from argostats_spark.schemas import DACS
        from argostats_spark.streaming.atlas import current_atlas

        svc, args = self.svc, self.args
        base, arrivals = inputs.draw_floats(args.seed, arrivals=True)
        for f in base:
            inputs.write_float(svc.tree, f)
        staging = os.path.join(self.work, "staging")
        staged = []
        for f in arrivals:
            os.makedirs(staging, exist_ok=True)
            staged.append((f, inputs.write_float_file(staging, f),
                           os.path.join(svc.tree, DACS[f.dac], str(f.wmo))))
        domain, reso, _ = service.STREAM_GRID
        store = os.path.join(svc.stores, "atlas")
        n_warm = service.WARMUP_ARRIVALS
        n_timed = min(max(service.MIN_TIMED_UPDATES, math.ceil(args.seconds / service.ARRIVAL_INTERVAL_S)),
                      len(staged) - n_warm)

        def on_batch(bid: int) -> None:
            svc.tracer.detail = svc.traced and bid > n_warm and bid % 2 == 0

        t0 = time.perf_counter()
        spark = svc.start_spark(self.nproc)
        grid = make_grid(spark, domain, reso)
        if svc.traced:
            _install_stream_spans(svc)
        svc.start_stream(grid, on_batch)
        if not svc.wait_published(str(base[0].wmo), timeout=300):
            raise RuntimeError(f"first batch did not publish: {svc.errors}")
        self.setup_s = time.perf_counter() - t0
        for f, path, target in staged[:n_warm]:
            service.land(path, target)
            if not svc.wait_published(str(f.wmo), timeout=service.DRAIN_TIMEOUT_S):
                raise RuntimeError(f"warm-up batch did not publish: {svc.errors}")
        cells = self._cells(store)
        landed: list[stats.Arrival] = []

        def generator(t_start):
            for i, (f, path, target) in enumerate(staged[n_warm:n_warm + n_timed]):
                due = t_start + 0.5 + i * service.ARRIVAL_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                landed.append(stats.Arrival(str(f.wmo), due, service.land(path, target)))

        def body(t_start):
            gen = threading.Thread(target=generator, args=(t_start,), name="arrivals")
            gen.start()
            gen.join()
            for a in landed:
                svc.wait_published(a.key, timeout=service.DRAIN_TIMEOUT_S)
            return max((u.end for u in svc.updates), default=time.time())

        self._window(store, cells, body)
        svc.query.stop()
        svc.tracer.detail = False
        if svc.errors:
            raise RuntimeError(f"stream failed: {svc.errors[:3]}")
        keys = {a.key for a in landed}
        self.timed = [u for u in svc.updates if u.keys & keys]
        self.stream_stats = stats.arrival_stats(landed, [
            stats.Batch(u.start, u.end, u.keys) for u in svc.updates], self.window)
        self.latency = [self.stream_stats.latency[a.key] for a in landed if a.key in self.stream_stats.latency]
        self.arrivals_missing = len(landed) - len(self.latency)

        in_tree = base + arrivals[:n_warm] + [f for f, _, _ in staged[n_warm:n_warm + n_timed]]
        self.floats = in_tree
        atlas = current_atlas(spark, store).toPandas()
        _, reso, sf = service.STREAM_GRID
        self._check("summary", checks.check_summary, spark, os.path.join(svc.stores, "summary"), in_tree)
        self._check("pairs", checks.check_pairs, atlas, in_tree, service.STREAM_GRID)
        self.profiles = reduce(lambda a, b: a.unionByName(b), svc.ingested)
        want = checks.batch_atlas(spark, self.profiles, grid, reso, sf)
        self._check("stream_equals_batch", checks.check_stream_equals_batch, atlas, want)
        self.atlas, self.grid, self.grid_spec = atlas, grid, service.STREAM_GRID
        svc.refresh.unpersist_grid()

    # -- traced extras -----------------------------------------------------

    def traced_extras(self) -> None:
        from argobench import checks, inputs, service
        from argostats_spark.operators.atlas import (
            choose_clim_ts_variant, estimate_pair_count, make_grid)

        svc, spark = self.svc, self.svc.spark
        _, reso, sf = self.grid_spec
        prof = self.profiles
        svc.tracer.detail = True
        with svc.tracer.span("spatial.estimate", -1):
            self.layer["spatial.candidates"] = estimate_pair_count(self.grid, prof, reso, sf)
        svc.tracer.detail = False
        self.layer["atlas.variant"] = float(choose_clim_ts_variant(self.grid, prof, reso, sf) == "exploded")
        if self.args.workload == "float_arrivals":
            self.layer["streaming.pair_store_rows"] = spark.read.parquet(
                os.path.join(svc.stores, "pairs", "batch=*")).count()
        scratch = os.path.join(self.work, "probes")
        self._check("probe.ingest_gdac_ok", checks.probe_ingest_gdac, spark,
                    _tree_files(svc.tree)[0], scratch, into=self.probes)
        self._check("probe.stream_rewrite_ok", checks.probe_stream_rewrite, spark,
                    self.floats[:3], scratch, into=self.probes)

        # per-layer scaling on a SCALE_FILES subset of the tree: one warm
        # rebuild on local[nproc], then on a fresh local[1] context a
        # one-file rebuild to start its workers and one timed rebuild
        trees = {}
        for name, sub in (("scale_warm", self.floats[:1]), ("scale_tree", self.floats[:SCALE_FILES])):
            for f in sub:
                inputs.write_float(os.path.join(self.work, name), f)
            trees[name] = (os.path.join(self.work, name, "*", "*"), frozenset(str(f.wmo) for f in sub),
                           sum(len(f.profiles) for f in sub))
        domain, rreso, _ = service.REBUILD_GRID
        passes = {}
        for cores, names in ((self.nproc, ("scale_tree",)), (1, ("scale_warm", "scale_tree"))):
            if cores != self.nproc:
                spark.stop()
                spark = svc.start_spark(1)
            grid = make_grid(spark, domain, rreso).cache()
            grid.count()
            for i, name in enumerate(names):
                tree_glob, keys, n_prof = trees[name]
                passes[cores] = svc.rebuild_update(1000 + 10 * cores + i, grid, keys, n_prof, stores=os.path.join(
                    self.work, f"{name}{cores}"), tree_glob=tree_glob).phases
        for layer, parts in LAYER_PHASES.items():
            t_n = sum(passes[self.nproc].get(p, 0.0) for p in parts)
            t_1 = sum(passes[1].get(p, 0.0) for p in parts)
            self.layer[f"{layer}.scaling_eff"] = t_1 / (self.nproc * t_n) if t_n > 0 else 0.0

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        from argobench import stats

        reads = self.timed_reads()
        _, tail_v = stats.tail([r.total for r in reads])
        return {
            "update_p50_s": stats.median(self.latency),
            "ingest_profiles_per_s": stats.median(u.profiles / u.ingest_s for u in self.timed),
            "atlas_s": stats.median(u.atlas_s for u in self.timed),
            "read_p50_s": stats.median(r.total for r in reads),
            "read_tail_s": tail_v,
            "setup_s": self.setup_s,
        }

    def timed_reads(self):
        lo, hi = self.window
        return [r for r in self.svc.reads if lo <= r.start < hi]

    def counts(self) -> tuple[int, int]:
        reads = self.timed_reads()
        attempted = len(self.timed) + len(reads) + len(self.checks)
        failed = (sum(not r.ok for r in reads) + sum(not ok for ok, _ in self.checks.values())
                  + getattr(self, "arrivals_missing", 0))
        return attempted, failed

    def validity(self) -> dict[str, float]:
        from argobench import stats

        lat = self.latency
        half = len(lat) // 2
        attempted, failed = self.counts()
        pct, _ = stats.tail([r.total for r in self.timed_reads()])
        return {
            "host.steal_s": self.steal_s,
            "warmup.trend_ratio": (stats.median(lat[len(lat) - half:]) / stats.median(lat[:half])
                                   if half else 1.0),
            "update.samples": float(len(lat)),
            "read.samples": float(len(self.timed_reads())),
            "read.tail_pct": pct,
            "ops_failed_ratio": failed / attempted if attempted else 0.0,
        }

    def per_layer(self) -> dict[str, float]:
        from argobench import stats
        from argobench.tracing import SPAN_NAMES, read_event_log, self_time

        svc, med = self.svc, stats.median
        tr = svc.tracer
        timed_ids = {u.id for u in self.timed}
        traced = [u for u in self.timed if u.detail]
        untraced = [u for u in self.timed if not u.detail]
        span_m = read_event_log(svc.event_dir) if os.path.isdir(svc.event_dir) else {}
        self.span_metrics = span_m

        def phase(name):
            vals = [u.phases[name] for u in self.timed if name in u.phases]
            return med(vals) if vals else 0.0

        sizes = {os.path.basename(os.path.dirname(p)): os.path.getsize(p) for p in _tree_files(svc.tree)}
        m = dict(self.layer)
        m.update({
            "peak_rss_mb": self.sampler.peak_bytes / 2**20,
            "sources.read_s": phase("sources.read"),
            "sources.files": med(len(u.keys) for u in self.timed),
            "sources.bytes": med(sum(sizes.get(k, 0) for k in u.keys) for u in self.timed),
            "sources.profiles": med(u.profiles for u in self.timed),
            "interpolation.s": phase("interpolation.run"),
            "interpolation.write_s": phase("interpolation.write"),
            "summary.build_s": phase("summary.build"),
            "summary.merge_s": phase("summary.merge"),
            "atlas.ts_s": phase("atlas.ts"),
            "atlas.eape_s": phase("atlas.eape"),
            "atlas.write_s": phase("atlas.write"),
            "atlas.cells": float(len(self.atlas)),
            "spatial.pairs": float(self.atlas["n_points"].sum()),
        })
        outs = [(u.phases["interpolation.out"], u.profiles) for u in self.timed if "interpolation.out" in u.phases]
        m["interpolation.profiles_out"] = med(o for o, _ in outs) if outs else 0.0
        m["interpolation.kept_ratio"] = med(o / n for o, n in outs) if outs else 0.0
        m["spatial.hit_ratio"] = m["spatial.pairs"] / m["spatial.candidates"] if m.get("spatial.candidates") else 0.0
        ss = self.stream_stats
        m.update({
            "streaming.detect_s": med(ss.detect.values()) if ss else 0.0,
            "streaming.queue_s": med(ss.queue.values()) if ss else 0.0,
            "streaming.pair_append_s": phase("streaming.pair_append"),
            "streaming.refresh_s": phase("streaming.refresh"),
            "streaming.publish_s": phase("streaming.publish"),
            "streaming.batches": float(len(self.timed)) if ss else 0.0,
            "streaming.files_per_batch": med(len(u.keys) for u in self.timed) if ss else 0.0,
            "streaming.backlog_max": float(ss.backlog_max) if ss else 0.0,
            "streaming.busy_ratio": ss.busy_ratio if ss else 0.0,
            "generator.lag_max_s": ss.lag_max if ss else 0.0,
        })
        m.setdefault("streaming.pair_store_rows", 0.0)
        reads = self.timed_reads()
        m.update({
            "reader.reads": float(len(reads)),
            "reader.failed": float(sum(not r.ok for r in reads)),
            "reader.resolve_s": med(r.resolve_s for r in reads),
            "reader.collect_s": med(r.collect_s for r in reads),
        })

        def writer_total(u, key):
            return sum(span_m.get(s.id, {}).get(key, 0) for s in tr.spans if s.update == u.id)

        for key, name in (("jobs", "spark.jobs_per_update"), ("tasks", "spark.tasks_per_update"),
                          ("shuffle_bytes", "spark.shuffle_bytes_per_update"), ("gc_s", "spark.gc_s_per_update")):
            m[name] = float(med(writer_total(u, key) for u in traced)) if traced else 0.0
        m["sources.tasks"] = float(med(
            sum(span_m.get(s.id, {}).get("tasks", 0) for s in tr.of("sources.read", u.id)) for u in traced)) if traced else 0.0
        m["process.cpu_s_per_update"] = self.cpu_s / max(1, len(self.timed))
        m["process.python_workers"] = float(self.python_workers)

        lo, hi = self.window
        kids: dict[int, list] = {}
        for s in tr.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        for name in SPAN_NAMES:
            spans = [s for s in tr.of(name) if (s.update in timed_ids) or
                     (name == "reader.read" and lo <= s.start < hi) or (name == "spatial.estimate")]
            det = [s for s in spans if s.detail]
            # children are recorded in traced updates only
            base = det or spans
            m[f"{name}.self_s"] = med(self_time(s, kids.get(s.id, [])) for s in base) if base else 0.0
            for key in ("jobs", "task_s", "shuffle_bytes", "spill_bytes"):
                m[f"{name}.{key}"] = float(med(span_m.get(s.id, {}).get(key, 0) for s in det)) if det else 0.0
        m.update(self.validity())
        m["trace.overhead_ratio"] = (
            med(u.end - u.start for u in traced) / med(u.end - u.start for u in untraced)
            if traced and untraced else 1.0)
        for name, (ok, _) in self.probes.items():
            m[name] = float(ok)
        return m


# floats in the tree of the scaling pass, and the phases of a rebuild
# update that make up each layer, for scaling_eff
SCALE_FILES = 8
LAYER_PHASES = {
    "sources": ("sources.read",),
    "summary": ("summary.build",),
    "interpolation": ("interpolation.run", "interpolation.write"),
    "atlas": ("atlas.ts", "atlas.eape", "atlas.publish"),
}


def _install_stream_spans(svc) -> None:
    """Traced float_arrivals: time the stages inside atlas_refresh_writer's
    callable by wrapping the public functions it calls. A wrapped clim_ts or
    clim_eape materializes its frame inside its span, so the span holds the
    compute; the callable's own checkpoint then reuses it."""
    import argostats_spark.streaming.atlas as mod

    def wrap(name, fn, materialize):
        def traced(*a, **k):
            if not svc.tracer.detail:
                return fn(*a, **k)
            with svc.tracer.span(name, svc.batch_id):
                out = fn(*a, **k)
                return out.localCheckpoint(eager=True) if materialize else out
        return traced

    mod.clim_ts = wrap("atlas.ts", mod.clim_ts, True)
    mod.clim_eape = wrap("atlas.eape", mod.clim_eape, True)
    mod.publish_version = wrap("atlas.publish", mod.publish_version, False)


def _tree_files(tree: str) -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(tree, "*", "*", "*_prof.nc")))


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "argostats_spark", "__init__.py")):
        print("argobench: run from the repository root (argostats_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    nproc, work = _prepare(root)
    run = Run(args, root, nproc, work)
    try:
        getattr(run, args.workload)()
        if args.trace:
            run.traced_extras()
        attempted, failed = run.counts()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            trace_dir = os.path.join(root, ".argobench", "traces")
            run.svc.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                                run.span_metrics)
        else:
            print("validity " + json.dumps(run.validity()))
    finally:
        run.svc.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    for name, (ok, detail) in run.checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")
    for name, (ok, detail) in run.probes.items():
        print(f"{name}: {'ok' if ok else 'FAIL'} ({detail})")
    units = E2E_UNITS if not args.trace else _layer_units(root)
    for name in set(units) - set(metrics):
        print(f"metric {name}: not measured, reported as 0")
        metrics[name] = 0.0
    correct = failed == 0 and all(ok for ok, _ in run.checks.values())
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units.get(k, "1")} for k, v in metrics.items()},
    }))
    return 0


def _layer_units(root: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
