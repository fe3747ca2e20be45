"""Workload nem_week: one synthetic NEM week through the batch plane,
then a drain of the publisher's replay through the four-query pipeline.

    landed API JSON ─ sources.extract ─ plans.nem_etl ─ sources.io writes
        ─ plans.nem_publish.publish_to_files ─ replay chunks
        ─ (broker faults) ─ streaming.pipeline.run_dashboard_pipeline(available_now=True)

End-to-end metrics: ``setup_s`` runs from process start to the session
up and the fueltech dimension cached; ``job_s`` is the ETL time (landed
files to every extractor and publisher artifact written); ``rate_per_s``
the drain's steady throughput (rows a query consumes per second of its
micro-batch busy time, over the four queries' batches after the first,
so query start-up and the cold first micro-batch stay out of it);
``latency_ms`` the median over drained events of the time from the start
of the drain until the event is visible in all four sinks (start-up, the
cold first batch and one steady batch).
"""

from __future__ import annotations

import glob
import json
import os
import time

import gen
import oracles
import streams
from layers import ETL_SPANS
from spans import Tracer, percentile

MULTIPLIER = 0.1          # facility multiplier on the reference fleet (514 raw)
EVENTS_PER_FILE = 2000    # publisher chunk size
# The drain delivers a replay prefix as one small start-up file, then
# DRAIN_STEADY_FILES files of DRAIN_FILE_EVENTS events; the file source
# reads one file per micro-batch. A micro-batch of the four queries costs
# 6-10 s on four cores whether it holds 1k or 12k events, and a full-week
# drain (82k events in 2k-event files) took 256 s, so a run drains a
# prefix.
DRAIN_HEAD_EVENTS = 1_000
DRAIN_FILE_EVENTS = 10_000
DRAIN_STEADY_FILES = 1


def _du(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def _setup(h, paths: dict) -> object:
    """Program set-up for the batch plane: the session and the static
    fueltech dimension every ETL pass joins."""
    from assignment_2_dataengineering_spark.schemas import FUELTECH_SCHEMA
    from assignment_2_dataengineering_spark.sources import io

    spark = h.start_spark()
    fuel = io.read_json(spark, paths["fueltech"], FUELTECH_SCHEMA).cache()
    fuel.count()
    return fuel


def etl_pass(h, tr: Tracer, paths: dict, fuel, out: str) -> float:
    """Landed files -> every extractor and publisher artifact. With
    tracing on, each layer's output is materialized inside its span so
    lazy evaluation cannot move its work into a later span."""
    from assignment_2_dataengineering_spark.plans import nem_etl, nem_publish
    from assignment_2_dataengineering_spark.schemas import FACILITY_SCHEMA
    from assignment_2_dataengineering_spark.sources import extract, io

    spark = h.spark
    traced = tr.enabled

    def done(df, at):
        if not traced:
            return df
        df = df.localCheckpoint(eager=True)
        at["rows_out"] = at.get("rows_out", 0) + df.count()
        return df

    orig_pivot, orig_payloads = nem_etl.pivot_wide, nem_publish.replay_payloads

    def pivot_wide(*a, **k):
        with tr.span("operators.reshape.pivot_wide"):
            return orig_pivot(*a, **k)

    def replay_payloads(*a, **k):
        with tr.span("plans.nem_publish.replay_payloads") as at:
            return done(orig_payloads(*a, **k), at)

    nem_etl.pivot_wide, nem_publish.replay_payloads = pivot_wide, replay_payloads
    try:
        with tr.span("etl") as root:
            with tr.span("sources.extract") as at:
                fac_resp = io.read_json(spark, paths["facility_api"], extract.RESPONSE_SCHEMA)
                mkt_resp = io.read_json(spark, paths["market_api"], extract.RESPONSE_SCHEMA)
                readings = done(extract.facility_responses_to_long(fac_resp), at)
                market_raw = done(extract.market_responses_to_long(mkt_resp), at)
            with tr.span("plans.nem_etl.flatten_facilities") as at:
                facs = io.read_json(spark, paths["facilities"], FACILITY_SCHEMA)
                lookup = done(nem_etl.flatten_facilities(facs, fuel), at)
                unit_dim = done(nem_etl.unit_to_facility(facs), at)
            with tr.span("plans.nem_etl.rollup_readings") as at:
                rollup = done(nem_etl.rollup_readings(readings, unit_dim), at)
                market = done(nem_etl.market_long(market_raw), at)
            with tr.span("plans.nem_etl.consolidate_wide") as at:
                wide = done(nem_etl.consolidate_wide(rollup, market), at)
            with tr.span("sources.io.write") as at:
                io.write_parquet_by_day(rollup, f"{out}/facility_rollup")
                io.write_parquet_by_day(market, f"{out}/market_long")
                io.write_csv_with_array_codec(lookup, f"{out}/facility_lookup")
                io.write_parquet_by_day(wide, f"{out}/consolidate_wide", ts_col="timestamp")
                at["bytes"] = _du(out)
            with tr.span("plans.nem_publish.publish_to_files") as at:
                cache = io.read_parquet(spark, f"{out}/consolidate_wide")
                at["files"] = nem_publish.publish_to_files(cache, f"{out}/replay", EVENTS_PER_FILE)
    finally:
        nem_etl.pivot_wide, nem_publish.replay_payloads = orig_pivot, orig_payloads
    return tr.by_name("etl")[-1].duration


def replay_lines(replay_dir: str) -> list[str]:
    lines: list[str] = []
    for p in sorted(glob.glob(os.path.join(replay_dir, "chunk-*.jsonl"))):
        with open(p) as f:
            lines += f.read().splitlines()
    return lines


def deliver(lines: list[str], src: str, sizes: list[int]) -> dict[str, int]:
    """Write consecutive runs of ``lines`` as replay files of the given
    sizes, with increasing modification times so the file source reads
    them in order. Returns file name -> events."""
    os.makedirs(src)
    base = int(time.time()) - 86_400
    out, lo = {}, 0
    for i, n in enumerate(sizes):
        name = f"chunk-{i:06d}.jsonl"
        path = os.path.join(src, name)
        with open(path, "w") as f:
            f.write("\n".join(lines[lo: lo + n]) + "\n")
        os.utime(path, (base + i, base + i))
        out[name] = len(lines[lo: lo + n])
        lo += n
    return out


def drain(h, tr: Tracer, rec, out: str, lines: list[str], prefix: str) -> dict:
    """Broker delivery of a replay prefix (with faults), then an
    availableNow drain through the four-query pipeline, one file per
    micro-batch, until every file is visible in all four sinks."""
    from assignment_2_dataengineering_spark.schemas import FACILITY_LOOKUP_SCHEMA
    from assignment_2_dataengineering_spark.sources import io
    from assignment_2_dataengineering_spark.streaming import pipeline, replay

    spark = h.spark
    known = sorted({json.loads(x)["facility_id"] for x in lines if '"facility_id"' in x})
    steady = DRAIN_FILE_EVENTS * DRAIN_STEADY_FILES
    delivered, _ = gen.inject_faults(lines[:DRAIN_HEAD_EVENTS + steady], h.args.seed, known)
    head = len(delivered) - steady
    src = f"{out}/delivered"
    per_file = deliver(delivered, src, [head] + [DRAIN_FILE_EVENTS] * DRAIN_STEADY_FILES)
    lookup = io.read_csv_with_array_codec(spark, f"{out}/facility_lookup", FACILITY_LOOKUP_SCHEMA)
    ckpt = f"{out}/ckpt"
    with tr.span("streaming.pipeline.drain") as at:
        t_start = time.time()
        pl = pipeline.run_dashboard_pipeline(
            replay.file_replay_stream(spark, src),
            lookup, ckpt, sink_prefix=prefix, available_now=True)
        queries = streams.pipeline_queries(pl)
        # Progress events reach the Python listener asynchronously, so a
        # query may have ended before its last batch shows here.
        deadline = time.time() + 150
        while True:
            progress = {n: rec.batches(q.id) for n, q in queries.items()}
            visible = streams.visible_at(ckpt, progress)
            failed = any(not q.isActive and q.exception() is not None for q in queries.values())
            if len(visible) == len(per_file) or failed or time.time() > deadline:
                break
            time.sleep(0.1)
        at["events"] = len(delivered)
    # The sinks are complete once the last file is visible; the queries'
    # trailing no-data batch (watermark eviction) is not waited for.
    pl.stop_all()
    for name, q in queries.items():
        h.check(f"drain.{name}.no_error", q.exception() is None, str(q.exception()))
    progress = {n: rec.batches(q.id) for n, q in queries.items()}
    lat = []
    for f, n in per_file.items():
        if f in visible:
            lat += [(visible[f] - t_start) * 1000.0] * n
    h.check("drain.all_visible", len(visible) == len(per_file), f"{len(visible)}/{len(per_file)}")
    # Steady throughput: rows consumed per second of micro-batch busy time
    # over the four queries' batches after the first, so query start-up
    # and the first (cold) micro-batch stay out of it.
    eps = streams.capacity([p for prog in progress.values() for p in prog if int(p["batchId"]) >= 1])
    first = min(visible.values(), default=t_start)
    return {"eps": eps, "latency_ms": lat, "progress": progress,
            "delivered": delivered, "src": src, "lookup": lookup,
            "first_visible_ms": (first - t_start) * 1000.0}


def run(h) -> dict:
    from assignment_2_dataengineering_spark.streaming.monitor import ProgressRecorder

    args = h.args
    t = time.perf_counter()
    paths = gen.land_nem_week(h.path("land"), args.seed, MULTIPLIER)
    h.gen_s = time.perf_counter() - t

    fuel = _setup(h, paths)
    h.setup_done()

    spark = h.spark
    tr = Tracer(spark, enabled=bool(args.trace), trace_id=f"nem_week-{args.seed}")
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    # One pass: at this size it outlasts any --seconds the benchmark uses.
    out = h.path("pass0")
    etl_s = etl_pass(h, tr, paths, fuel, out)
    lines = replay_lines(f"{out}/replay")
    d = drain(h, tr, rec, out, lines, prefix="nw")
    h.put("job_s", etl_s, "s")
    h.put("rate_per_s", d["eps"], "1/s")
    h.put("latency_ms", percentile(d["latency_ms"], 50), "ms")

    oracles.check_nem_week(h, paths, out, lines)
    routing = oracles.check_drain(h, d, prefix="nw")

    layer = streams.summarize(d["progress"], len(d["delivered"]))
    layer.update(routing)
    layer["plans.nem_publish.events_out"] = len(lines)
    layer["streaming.pipeline.drain.events"] = len(d["delivered"])
    layer["streaming.pipeline.drain.first_visible_ms"] = d["first_visible_ms"]
    layer.update(span_metrics(tr))
    layer["tracing.bookkeeping_s"] = tr.bookkeeping_s
    if args.trace:
        tr.dump(h.path("..", f"trace-nem_week-{args.seed}.jsonl"))
    return layer


def span_metrics(tr: Tracer) -> dict:
    """Per-layer numbers from the pass's spans: inclusive and self
    seconds, rows, bytes, and the jobs, tasks and shuffle bytes of each
    span (pivot_wide's jobs are the ones its plan construction runs)."""
    from spans import self_times

    st = self_times(tr.spans)
    m = {}
    for name in ETL_SPANS:
        ss = tr.by_name(name)
        m[f"{name}.s"] = sum(s.duration for s in ss)
        m[f"{name}.self_s"] = sum(st[s.span_id] for s in ss)
        for key in ("jobs", "tasks", "shuffle_bytes"):
            m[f"{name}.{key}"] = sum(tr.inclusive(s, key) for s in ss)
    for name, key in (("sources.extract", "rows_out"), ("plans.nem_etl.rollup_readings", "rows_out"),
                      ("sources.io.write", "bytes"), ("plans.nem_publish.replay_payloads", "rows_out")):
        m[f"{name}.{key}"] = sum(s.attrs.get(key, 0) for s in tr.by_name(name))
    children = sum(m[f"{n}.self_s"] for n in ETL_SPANS[1:-1])
    m["etl.span_coverage"] = children / m["etl.s"]
    return m
