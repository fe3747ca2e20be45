"""The live dashboard under an open-loop replay: a phase of the traced
``query_catalog`` run, on its session (see README.md for why it is not a
workload of its own).

One generator thread writes replay chunks into the pipeline's source
directory on a fixed schedule (OFFERED_EPS events per second, whatever
the system does). The four-query pipeline runs with
``available_now=False`` (its own processing-time trigger). RENDER_CLIENTS
closed-loop clients repeatedly run one render-plane rerun over the live
sink tables.

The window opens when the first generated chunk is visible in all four
sinks (the pipeline is then in its steady state) and lasts ``--seconds``.
Per-layer metrics: ``live.staleness_ms``, the dashboard's mean staleness
over the window (at each instant, the time since the scheduled send of
the newest event visible in all four sinks); ``live.batch_s``, the
micro-batch time (per query, the mean time of its batches that ended in
the window, averaged over the four queries); ``live.delivered_per_s``,
the events that became visible in all four sinks between the window's
first and last visibility, per second (a keep-up check: it reads the
offered rate while the pipeline keeps up); per-event freshness p50 and
p95 over the events sent in the window; backlog, generator lag and the
render plane's numbers.
"""

from __future__ import annotations

import os
import threading
import time

import gen
import oracles
import streams
from layers import RENDER_SPANS
from spans import Tracer, percentile, supported, tail

FLEET_MULTIPLIER = 0.08  # live fleet: ~41 raw facilities, ~33 in the lookup
REPLAY_INTERVALS = 400   # replay length in five-minute intervals
OFFERED_EPS = 150        # open-loop offered rate, events per second
CHUNK_S = 0.5            # one chunk file every CHUNK_S seconds
RENDER_CLIENTS = 1
RENDER_GRACE_S = 20.0    # longest wait, after the window, for the in-flight rerun
RAMP_TIMEOUT_S = 60.0    # longest wait for the first generated chunk to become visible
SETTLE_S = 1.0           # progress events of batches that ended in the window arrive by then
VERIFY_EVERY = 4         # verify every n-th rerun of each client
PREFIX = "live"
REGION_FILTERS = [None, ["NSW1", "VIC1"], ["QLD1"], ["SA1", "TAS1", "NSW1"]]
FUEL_FILTERS = [None, ["Wind", "Solar (Utility)"], ["Coal (Black)", "Gas (CCGT)", "Hydro"]]


def _setup(h, paths: dict, src: str, ckpt: str):
    """Facility lookup built from the landed facility documents, and the
    four streaming queries started."""
    from assignment_2_dataengineering_spark.plans import nem_etl
    from assignment_2_dataengineering_spark.schemas import FACILITY_SCHEMA, FUELTECH_SCHEMA
    from assignment_2_dataengineering_spark.sources import io
    from assignment_2_dataengineering_spark.streaming import pipeline, replay

    spark = h.spark
    facs = io.read_json(spark, paths["facilities"], FACILITY_SCHEMA)
    fuel = io.read_json(spark, paths["fueltech"], FUELTECH_SCHEMA)
    lookup = nem_etl.flatten_facilities(facs, fuel).localCheckpoint(eager=True)
    pl = pipeline.run_dashboard_pipeline(
        replay.file_replay_stream(spark, src, max_files_per_trigger=10_000),
        lookup, ckpt, sink_prefix=PREFIX, available_now=False)
    return lookup, pl


def write_chunk(src: str, name: str, part: list[str]) -> None:
    """One replay chunk, made visible to the file source atomically."""
    tmp = os.path.join(src, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(part) + "\n")
    os.rename(tmp, os.path.join(src, name))


def wait_visible(rec, queries: dict, ckpt: str, names: set[str], timeout_s: float):
    """Poll until every named chunk is visible in all four sinks, or the
    timeout. Returns (progress per query, chunk -> visible time)."""
    deadline = time.time() + timeout_s
    while True:
        progress = {n: rec.batches(q.id) for n, q in queries.items()}
        visible = streams.visible_at(ckpt, progress)
        if names <= set(visible) or time.time() > deadline:
            return progress, visible
        time.sleep(0.2)


class Generator(threading.Thread):
    """Open-loop writer: chunk i is due at t0 + i * CHUNK_S; it is written
    then (late if the thread was delayed), never later because the
    system is slow. Chunk i holds the replay's chunk ``first + i``."""

    def __init__(self, lines: list[str], src: str, per_chunk: int, t0: float, stop_at: float,
                 first: int = 0):
        super().__init__(daemon=True)
        self.lines, self.src, self.per_chunk = lines, src, per_chunk
        self.t0, self.stop_at, self.first = t0, stop_at, first
        self.chunks: list[tuple[str, float, float, int]] = []  # name, due, written, events
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            i = 0
            while True:
                due = self.t0 + i * CHUNK_S
                if due > self.stop_at:
                    return
                lo = ((self.first + i) * self.per_chunk) % len(self.lines)
                part = self.lines[lo: lo + self.per_chunk]
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"chunk-{i:06d}.jsonl"
                write_chunk(self.src, name, part)
                self.chunks.append((name, due, time.time(), len(part)))
                i += 1
        except BaseException as e:  # reported by the workload after join
            self.error = e


def rerun(spark, lookup, regions, fuels, tr: Tracer, keep: bool):
    """One render-plane rerun: read the sinks, resolve latest per key,
    then every dashboard query, collected."""
    from pyspark.sql import functions as F

    from assignment_2_dataengineering_spark.operators.relational import latest_per_key
    from assignment_2_dataengineering_spark.plans import dashboard
    from assignment_2_dataengineering_spark.streaming import windows

    t0 = time.perf_counter()
    with tr.span("render"):
        with tr.span("render.read_sinks"):
            fac = latest_per_key(spark.table(f"{PREFIX}_facility_snapshot"), ["facility_id"], "last_ts")
            fac = fac.join(lookup.select("facility_id", "region", "fuel_tech"), "facility_id")
            fac = fac.localCheckpoint(eager=True)
            mkt = latest_per_key(spark.table(f"{PREFIX}_market_snapshot"), ["region_id"], "last_ts")
            mkt = mkt.localCheckpoint(eager=True)
            win = spark.table(f"{PREFIX}_facility_windows").withColumn(
                "__arrival", F.monotonically_increasing_id())
            win = latest_per_key(win, ["bucket", "facility_id"], "__arrival").drop("__arrival")
            win = win.localCheckpoint(eager=True)
        out = {}
        with tr.span("plans.dashboard.filter_snapshot"):
            snap = dashboard.filter_snapshot(fac, regions, fuels)
        with tr.span("plans.dashboard.facility_metrics"):
            out["facility_metrics"] = dashboard.facility_metrics(snap).collect()[0].asDict()
        with tr.span("plans.dashboard.market_metrics"):
            out["market_metrics"] = dashboard.market_metrics(mkt).collect()[0].asDict()
        with tr.span("plans.dashboard.fuel_legend"):
            out["fuel_legend"] = dashboard.fuel_legend(lookup).collect()[0]["fuels"]
        with tr.span("plans.dashboard.marker_sizes"):
            out["marker_px"] = [r[0] for r in dashboard.marker_sizes(snap).select("marker_px").collect()]
        with tr.span("windows.totals_timeseries"):
            out["totals"] = [tuple(r) for r in windows.totals_timeseries(
                win.withColumnRenamed("bucket", "ts"), ["sum_power_mw", "sum_co2_tonnes"]).collect()]
    took = time.perf_counter() - t0
    inputs = None
    if keep:
        legend = lookup.select("fuel_tech").toPandas()
        legend["fuel_tech"] = legend["fuel_tech"].map(list)
        inputs = {"fac": snap.drop("fuel_tech").toPandas(), "mkt": mkt.toPandas(),
                  "win": win.toPandas(), "lookup": legend}
    return out, inputs, took


class Client(threading.Thread):
    def __init__(self, k: int, spark, lookup, tr: Tracer, seed: int, stop_at: float):
        super().__init__(daemon=True)
        self.k, self.spark, self.lookup, self.tr = k, spark, lookup, tr
        self.seed, self.stop_at = seed, stop_at
        self.times: list[float] = []
        self.done_at = 0.0
        self.kept: list[tuple[dict, dict]] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.stopping = False  # set before the rerun in flight is cancelled

    def run(self) -> None:
        import random

        rng = random.Random(self.seed * 31 + self.k)
        n = 0
        while time.time() < self.stop_at:
            regions = REGION_FILTERS[rng.randrange(len(REGION_FILTERS))]
            fuels = FUEL_FILTERS[rng.randrange(len(FUEL_FILTERS))]
            keep = n % VERIFY_EVERY == 0
            self.attempted += 1
            try:
                out, inputs, took = rerun(self.spark, self.lookup, regions, fuels, self.tr, keep)
            except Exception as e:  # a failed rerun counts as a failed operation
                if self.stopping:
                    self.attempted -= 1
                    return
                self.errors.append(repr(e)[:300])
                continue
            self.times.append(took)
            self.done_at = time.time()
            if inputs is not None:
                self.kept.append((inputs, out))
            n += 1


def run_phase(h, tr: Tracer) -> dict:
    """The live phase on the running session; per-layer metrics."""
    from assignment_2_dataengineering_spark.streaming.monitor import ProgressRecorder

    args = h.args
    t = time.perf_counter()
    paths = gen.land_fleet(h.path("land"), args.seed, FLEET_MULTIPLIER)
    fleet = gen.operating_ids(gen.facilities(args.seed, FLEET_MULTIPLIER))
    lines = gen.replay_for(args.seed, fleet, REPLAY_INTERVALS)
    gen_s = time.perf_counter() - t

    src, ckpt = h.path("src"), h.path("ckpt")
    os.makedirs(src)
    spark = h.spark
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    t = time.perf_counter()
    lookup, pl = _setup(h, paths, src, ckpt)
    setup_s = time.perf_counter() - t
    queries = streams.pipeline_queries(pl)

    # Not measured: the replay's first chunk through the four queries' cold
    # first micro-batch, and at the same time one cold render rerun, so
    # the window sees ingest and render warm.
    per_chunk = max(1, round(OFFERED_EPS * CHUNK_S))
    write_chunk(src, "warmup.jsonl", lines[:per_chunk])
    warm = threading.Thread(target=rerun, args=(spark, lookup, None, None, Tracer(), False))
    warm.start()
    wait_visible(rec, queries, ckpt, {"warmup.jsonl"}, 120)
    warm.join()

    g0 = time.time() + 0.2
    far = g0 + RAMP_TIMEOUT_S + args.seconds
    gen_thread = Generator(lines, src, per_chunk, g0, far, first=1)
    clients = [Client(k, spark, lookup, tr, args.seed, far) for k in range(RENDER_CLIENTS)]
    gen_thread.start()
    for c in clients:
        c.start()
    # The window opens when the first generated chunk is visible.
    first = "chunk-000000.jsonl"
    _, visible = wait_visible(rec, queries, ckpt, {first}, RAMP_TIMEOUT_S)
    h.check("live.ramp", first in visible, f"first chunk not visible after {RAMP_TIMEOUT_S:g} s")
    v1 = visible.get(first, time.time())
    window = (v1, v1 + args.seconds)
    gen_thread.stop_at = window[1]
    for c in clients:
        c.stop_at = window[1]
    time.sleep(max(0.0, window[1] + SETTLE_S - time.time()))
    gen_thread.join(timeout=30)
    if gen_thread.error is not None:
        raise gen_thread.error

    # Every chunk sent in the window visible, for the per-event freshness;
    # the rerun in flight may finish, for the render metrics.
    sent = [c for c in gen_thread.chunks if c[1] < window[1]]
    progress, visible = wait_visible(rec, queries, ckpt, {c[0] for c in sent}, 60)
    for c in clients:
        c.join(timeout=max(1.0, window[1] + RENDER_GRACE_S - time.time()))
    for name, q in queries.items():
        h.check(f"live.{name}.active", q.isActive and q.exception() is None, str(q.exception()))
    pl.stop_all()
    spark.streams.removeListener(rec)
    stop_clients(spark, clients)
    missing = [c[0] for c in sent if c[0] not in visible]
    h.check("live.keeps_up", not missing, f"not visible after 60 s: {missing}")

    layer = streams.summarize(progress, per_chunk + sum(c[3] for c in gen_thread.chunks))
    layer["live.gen_s"] = gen_s
    layer["live.setup_s"] = setup_s
    # Window values from what was visible by the window's end.
    seen = [(d, visible[name]) for name, d, _, _ in gen_thread.chunks
            if name in visible and visible[name] <= window[1]]
    layer["live.staleness_ms"] = streams.staleness(seen, *window) * 1000.0 if seen else 0.0
    per_query = []
    for prog in progress.values():
        ends = streams.batch_ends(prog)
        durs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog
                if int(p.get("numInputRows") or 0) > 0 and window[0] <= ends[int(p["batchId"])] <= window[1]]
        if durs:
            per_query.append(sum(durs) / len(durs))
    h.check("live.batches_in_window", len(per_query) == len(progress), f"{len(per_query)} queries")
    layer["live.batch_s"] = sum(per_query) / max(1, len(per_query))
    events = [(n, visible[name]) for name, _, _, n in gen_thread.chunks if name in visible]
    layer["live.delivered_per_s"] = streams.delivered_rate(events, *window)

    measured = [c for c in gen_thread.chunks if window[0] <= c[1] < window[1]]
    fresh = [(visible[name] - due) * 1000.0 for name, due, _, n in measured
             if name in visible for _ in range(n)]
    times = [x for c in clients for x in c.times]

    import duckdb

    con = duckdb.connect()
    for c in clients:
        for e in c.errors:
            h.check("live.rerun", False, e)
        h.attempted += c.attempted - len(c.errors)
        for inputs, out in c.kept:
            bad = oracles.check_render(con, inputs, out)
            h.check("live.render_outputs", not bad, "; ".join(bad))

    layer["live.freshness_p50_ms"] = percentile(fresh, 50) if fresh else 0.0
    layer["live.freshness_p95_ms"] = tail(fresh, 95) if supported(len(fresh), 95) else 0.0
    lags = [(w - d) * 1000.0 for _, d, w, _ in gen_thread.chunks]
    # fewer than 200 chunks cannot support a p95: report the maximum
    layer["streaming.replay.generator_lag_p95_ms"] = tail(lags, 95) if len(lags) >= 200 else max(lags)
    due_pts = [(w, n) for _, _, w, n in gen_thread.chunks]
    vis_pts = [(visible[c[0]], c[3]) for c in gen_thread.chunks if c[0] in visible]
    mid = (window[0] + window[1]) / 2
    layer["streaming.replay.backlog_events_mid"] = streams.backlog(due_pts, vis_pts, mid)
    layer["streaming.replay.backlog_events_end"] = streams.backlog(due_pts, vis_pts, window[1])
    layer["render.reruns"] = len(times)
    last_done = max((c.done_at for c in clients), default=0.0)
    layer["render.per_s"] = len(times) / (last_done - g0) if times else 0.0
    layer["render.p50_ms"] = percentile(times, 50) * 1000 if times else 0.0
    layer["render.max_ms"] = max(times, default=0.0) * 1000
    layer.update(render_metrics(tr))
    return layer


def stop_clients(spark, clients: list[Client]) -> None:
    """Cancel the render reruns still in flight (the pipeline has stopped,
    so theirs are the only jobs left) and wait for the clients to end."""
    for c in clients:
        c.stopping = True
    deadline = time.time() + 30
    while any(c.is_alive() for c in clients) and time.time() < deadline:
        spark.sparkContext.cancelAllJobs()
        for c in clients:
            c.join(timeout=0.2)


def render_metrics(tr: Tracer) -> dict:
    """Median ms per call of each render-plane function, and the median
    jobs and tasks of one rerun."""
    m = {}
    for name in RENDER_SPANS:
        ss = tr.by_name(name)
        m[f"{name}.ms"] = percentile([s.duration * 1000 for s in ss], 50) if ss else 0.0
    ss = tr.by_name("render")
    for key in ("jobs", "tasks", "shuffle_bytes"):
        m[f"render.{key}"] = percentile([tr.inclusive(s, key) for s in ss], 50) if ss else 0.0
    return m
