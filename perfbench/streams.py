"""Streaming measurements taken from outside the pipeline.

- Which micro-batch consumed which replay file: the file source's log
  under each query's checkpoint (``sources/0/<batch>``).
- When each micro-batch ended: ``streaming.monitor.ProgressRecorder``
  progress events (trigger start + triggerExecution).

An event counts as visible when all four pipeline queries have finished
the micro-batch that read its file.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

from spans import percentile

QUERIES = ("facility_snapshot", "market_snapshot", "facility_windows", "quarantine")
CKPT_DIRS = {"facility_snapshot": "fac_snap", "market_snapshot": "mkt_snap",
             "facility_windows": "fac_win", "quarantine": "quar"}


def pipeline_queries(pl) -> dict:
    """Name -> StreamingQuery of a ``streaming.pipeline.DashboardPipeline``."""
    return dict(zip(QUERIES, (pl.facility_snapshot, pl.market_snapshot,
                              pl.facility_windows, pl.quarantine)))


def file_batches(checkpoint: str) -> dict[str, int]:
    """Replay file name -> batch id that read it, from one query's
    file-source log (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """batch id -> wall-clock end (epoch seconds) from progress events."""
    return {
        int(p["batchId"]): epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        for p in progress
    }


def visible_at(ckpt_root: str, progress_by_query: dict[str, list[dict]]) -> dict[str, float]:
    """Replay file -> the time all four queries had finished the batch
    that read it. Files not yet read by every query are absent."""
    per_query = []
    for q in QUERIES:
        fb = file_batches(os.path.join(ckpt_root, CKPT_DIRS[q]))
        ends = batch_ends(progress_by_query[q])
        per_query.append({f: ends[b] for f, b in fb.items() if b in ends})
    common = set(per_query[0]).intersection(*per_query[1:])
    return {f: max(pq[f] for pq in per_query) for f in common}


def backlog(due: list[tuple[float, int]], visible: list[tuple[float, int]], at: float) -> int:
    """Events sent by ``at`` but not yet visible by ``at``. ``due`` holds
    (write time, events) per chunk; ``visible`` (visible time, events)."""
    sent = sum(n for t, n in due if t <= at)
    seen = sum(n for t, n in visible if t <= at)
    return sent - seen


def staleness(due_vis: list[tuple[float, float]], start: float, end: float) -> float:
    """Mean age, over [start, end], of the newest data a reader sees: at
    each instant t, t minus the send time of the newest chunk visible by
    t. ``due_vis`` holds (send time, visible time) per chunk; some chunk
    must be visible by ``start``. Integrated exactly (the age grows at
    slope 1 and drops at each visibility)."""
    newest = max((d for d, v in due_vis if v <= start), default=None)
    if newest is None or end <= start:
        raise ValueError("staleness needs a chunk visible at the start of a non-empty span")
    area, at = 0.0, start
    for v, d in sorted((v, d) for d, v in due_vis if start < v < end):
        area += (v - at) * ((at + v) / 2 - newest)
        newest, at = max(newest, d), v
    area += (end - at) * ((at + end) / 2 - newest)
    return area / (end - start)


def delivered_rate(events_vis: list[tuple[int, float]], start: float, end: float) -> float:
    """Events per second that became visible between the first and the
    last visibility in [start, end] (the first group itself left out, as
    it arrived before the span). ``events_vis`` holds (events, visible
    time) per chunk. With a single visibility in the span: the events
    visible in it per second of the span."""
    vis = sorted({v for _, v in events_vis if start <= v <= end})
    if len(vis) < 2:
        return sum(n for n, v in events_vis if start <= v <= end) / (end - start)
    return sum(n for n, v in events_vis if vis[0] < v <= vis[-1]) / (vis[-1] - vis[0])


def capacity(progress: list[dict]) -> float:
    """Rows consumed per second of micro-batch busy time over the given
    progress events (batches that read nothing are left out)."""
    busy = [p for p in progress if int(p.get("numInputRows") or 0) > 0]
    rows = sum(int(p["numInputRows"]) for p in busy)
    secs = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000.0
    return rows / secs if secs > 0 else 0.0


def summarize(progress_by_query: dict[str, list[dict]], events_offered: int) -> dict[str, float]:
    """Per-query batch numbers plus the state, drop and routing numbers
    of the four-query pipeline."""
    m: dict[str, float] = {}
    rows_read = 0
    for q, prog in progress_by_query.items():
        data = [p for p in prog if int(p.get("numInputRows") or 0) > 0] or prog
        durs = [p["durationMs"].get("triggerExecution", 0) for p in data]
        rows_read += sum(int(p.get("numInputRows") or 0) for p in prog)
        pre = f"streaming.pipeline.{q}"
        m[f"{pre}.batches"] = len(prog)
        m[f"{pre}.batch_ms_p50"] = percentile(durs, 50) if durs else 0.0
        m[f"{pre}.batch_ms_max"] = max(durs, default=0)
        for k in ("queryPlanning", "addBatch", "walCommit"):
            vals = [p["durationMs"].get(k, 0) for p in data]
            m[f"{pre}.{k}_ms"] = percentile(vals, 50) if vals else 0.0
    m["streaming.pipeline.read_amplification"] = rows_read / max(1, events_offered)
    # The facility snapshot query holds the dedup state then the
    # latest-per-key state; the windows query the dedup state then the
    # window state. The last progress event carries the final state.
    for layer, q in (("snapshot", "facility_snapshot"), ("windows", "facility_windows")):
        prog = progress_by_query[q]
        last = prog[-1].get("stateOperators", []) if prog else []
        ops = [op for p in prog for op in p.get("stateOperators", [])]
        m[f"streaming.{layer}.state_rows"] = sum(int(o.get("numRowsTotal") or 0) for o in last)
        m[f"streaming.{layer}.state_bytes"] = sum(int(o.get("memoryUsedBytes") or 0) for o in last)
        m[f"streaming.{layer}.rows_dropped_by_watermark"] = sum(
            int(o.get("numRowsDroppedByWatermark") or 0) for o in ops)
        m[f"streaming.{layer}.dedup_dropped"] = sum(
            int((o.get("customMetrics") or {}).get("numDroppedDuplicateRows") or 0)
            for o in ops if o.get("operatorName") == "dedupe")
    return m
