"""Correctness gate. Every mismatch counts as a failed operation.

- nem_week artifacts against DuckDB over the landed JSON files;
- drained sinks against a batch run of the same ingest operators over
  the same delivered lines;
- render outputs against DuckDB over the snapshot the rerun read;
- catalog queries against the registry's DuckDB oracle (rows only for
  randomized operators).
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime

import duckdb

TOL = 1e-6


def close(a, b, tol: float = TOL) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


_UNITS = "[{\"code\":\"VARCHAR\",\"status_id\":\"VARCHAR\"}]"
_RESP = ('[{"metric":"VARCHAR","results":[{"name":"VARCHAR",'
         '"columns":{"unit_code":"VARCHAR"},"data":[["VARCHAR"]]}]}]')


def _points(path: str) -> str:
    """(metric, key, ts, value) rows of an API response file."""
    return f"""
      (WITH r AS (SELECT unnest(from_json(data, '{_RESP}')) AS m
                  FROM read_ndjson('{path}', columns={{data: 'JSON'}})),
            s AS (SELECT m.metric AS metric, unnest(m.results) AS res FROM r),
            p AS (SELECT metric, res.name AS name, res.columns.unit_code AS unit_code,
                         unnest(res.data) AS pair FROM s)
       SELECT metric, coalesce(unit_code, regexp_replace(name, '^(price_|demand_)', '')) AS key,
              pair[1] AS ts, TRY_CAST(pair[2] AS DOUBLE) AS val FROM p)"""


def check_nem_week(h, paths: dict, out: str, lines: list[str]) -> None:
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW unit_dim AS
      WITH f AS (SELECT code, network_id, unnest(from_json(units, '{_UNITS}')) AS u
                 FROM read_ndjson('{paths["facilities"]}',
                                  columns={{code: 'VARCHAR', network_id: 'VARCHAR', units: 'JSON'}}))
      SELECT u.code AS unit_code, code AS facility_id FROM f
      WHERE network_id = 'NEM' AND u.status_id = 'operating'""")
    con.sql(f"CREATE VIEW fpts AS SELECT * FROM {_points(paths['facility_api'])}")
    con.sql(f"CREATE VIEW mpts AS SELECT * FROM {_points(paths['market_api'])}")
    want = {r[0]: r[1:] for r in con.sql("""
      WITH pw AS (SELECT key AS unit_code, ts, val AS power FROM fpts WHERE metric = 'power'),
           em AS (SELECT key AS unit_code, ts, val AS emission FROM fpts WHERE metric = 'emissions'),
           j AS (SELECT * FROM pw JOIN em USING (unit_code, ts) JOIN unit_dim USING (unit_code)),
           k AS (SELECT facility_id, ts, round(sum(power), 4) AS p, round(sum(emission), 4) AS e
                 FROM j GROUP BY 1, 2)
      SELECT facility_id, count(*), sum(p), sum(e) FROM k GROUP BY 1""").fetchall()}
    got = {r[0]: r[1:] for r in con.sql(f"""
      SELECT facility_code, count(*), sum(power), sum(emission)
      FROM read_parquet('{out}/facility_rollup/*/*.parquet', hive_partitioning = true)
      GROUP BY 1""").fetchall()}
    ok = set(want) == set(got) and all(
        want[k][0] == got[k][0] and close(want[k][1], got[k][1], 1e-9) and close(want[k][2], got[k][2], 1e-9)
        for k in want)
    h.check("nem_week.rollup_per_facility", ok, f"{len(want)} want vs {len(got)} got facilities")

    m_want = con.sql("""
      WITH p AS (SELECT key, ts, val AS price FROM mpts WHERE metric = 'price'),
           d AS (SELECT key, ts, val AS demand FROM mpts WHERE metric = 'demand')
      SELECT count(*), sum(price), sum(demand) FROM p JOIN d USING (key, ts)""").fetchone()
    m_got = con.sql(f"""SELECT count(*), sum(price), sum(demand)
      FROM read_parquet('{out}/market_long/*/*.parquet', hive_partitioning = true)""").fetchone()
    h.check("nem_week.market_rows", m_want[0] == m_got[0] and close(m_want[1], m_got[1], 1e-9)
            and close(m_want[2], m_got[2], 1e-9), f"{m_want} vs {m_got}")

    n_fac = len(want)
    n_ts = con.sql("SELECT count(DISTINCT ts) FROM fpts").fetchone()[0]
    wide = con.sql(f"SELECT * FROM read_parquet('{out}/consolidate_wide/*/*.parquet') LIMIT 0")
    cols = [c for c in wide.columns if c != "event_date"]
    n_wide = con.sql(f"SELECT count(*) FROM read_parquet('{out}/consolidate_wide/*/*.parquet')").fetchone()[0]
    n_reg = con.sql("SELECT count(DISTINCT key) FROM mpts").fetchone()[0]
    h.check("nem_week.wide_shape", n_wide == n_ts and len(cols) == 1 + 2 * n_fac + 2 * n_reg,
            f"rows {n_wide} vs {n_ts}, cols {len(cols)} vs {1 + 2 * n_fac + 2 * n_reg}")

    h.check("nem_week.replay_count", len(lines) == 1 + n_wide * (n_fac + n_reg),
            f"{len(lines)} vs {1 + n_wide * (n_fac + n_reg)}")
    h.check("nem_week.replay_order", replay_in_order(lines), "replay out of order")


def replay_in_order(lines: list[str]) -> bool:
    """Sentinel first; then timestamps ascending, facility events before
    market events within a timestamp, codes ascending within a kind."""
    if not lines or "starting..." not in lines[0]:
        return False
    prev = None
    for line in lines[1:]:
        e = json.loads(line)
        kind = 0 if "facility_id" in e else 1
        key = (e["timestamp"], kind, e.get("facility_id") or e.get("region_id"))
        if prev is not None and key <= prev:
            return False
        prev = key
    return True


def _latest(rows, key_idx, order_idx=None) -> dict:
    """Latest emission per key of an update-mode memory sink: the row
    with the largest ``order_idx`` value, or the last row in sink order."""
    out = {}
    for r in rows:
        k = tuple(r[i] for i in key_idx)
        if order_idx is None or k not in out or r[order_idx] >= out[k][order_idx]:
            out[k] = r
    return out


def _same(got: dict, want: dict, value_idx: list[int]) -> bool:
    return set(got) == set(want) and all(
        all(close(got[k][i], want[k][i]) for i in value_idx) for k in want)


def check_drain(h, d: dict, prefix: str) -> dict:
    """Drained sinks against the batch run of the same operators over the
    delivered lines. Returns the routing numbers."""
    from assignment_2_dataengineering_spark.streaming import ingest, snapshot, windows

    spark = h.spark
    parsed = ingest.parse_events(spark.read.text(d["src"])).localCheckpoint(eager=True)
    fac = windows.dedup_events(
        ingest.enrich_facility_events(ingest.facility_branch(parsed), d["lookup"]), ["facility_id"])
    mkt = ingest.market_branch(parsed)
    want_fac = snapshot.streaming_latest_snapshot(
        fac.select("facility_id", "ts", "power_mw", "co2_tonnes"), "facility_id")
    want_mkt = snapshot.streaming_latest_snapshot(
        mkt.select("region_id", "ts", "price_dmwh", "demand_mw"), "region_id")
    want_win = windows.tumbling_window_sums(fac, "facility_id", ["power_mw", "co2_tonnes"], watermark=None)
    cols = ["facility_id", "last_ts", "power_mw", "co2_tonnes"]
    got = _latest(spark.table(f"{prefix}_facility_snapshot").select(*cols).collect(), [0], 1)
    h.check("drain.facility_snapshot", _same(got, _latest(want_fac.select(*cols).collect(), [0]), [2, 3]))
    cols = ["region_id", "last_ts", "price_dmwh", "demand_mw"]
    got = _latest(spark.table(f"{prefix}_market_snapshot").select(*cols).collect(), [0], 1)
    h.check("drain.market_snapshot", _same(got, _latest(want_mkt.select(*cols).collect(), [0]), [2, 3]))
    cols = ["bucket", "facility_id", "sum_power_mw", "sum_co2_tonnes"]
    got = _latest(spark.table(f"{prefix}_facility_windows").select(*cols).collect(), [0, 1])
    h.check("drain.facility_windows", _same(got, _latest(want_win.select(*cols).collect(), [0, 1]), [2, 3]))
    want_q = dict(ingest.quarantine_branch(parsed).groupBy("reason").count().collect())
    got_q = dict(spark.table(f"{prefix}_quarantine").groupBy("reason").count().collect())
    h.check("drain.quarantine", want_q == got_q, f"{got_q} vs {want_q}")
    n_fac = ingest.facility_branch(parsed).count()
    n_mkt = mkt.count()
    return {"streaming.ingest.routed_ratio": (n_fac + n_mkt) / max(1, len(d["delivered"])),
            "streaming.ingest.quarantined": sum(got_q.values())}


# ---------------------------------------------------------------------------
# Render plane
# ---------------------------------------------------------------------------

def check_render(con, snap: dict, out: dict) -> list[str]:
    """One rerun's outputs against DuckDB over the snapshot it read.
    ``snap`` holds pandas frames: fac (filtered facility snapshot), mkt,
    lookup, win (latest window rows). Returns mismatch descriptions."""
    bad = []
    for name, df in snap.items():
        con.register(name, df)
    fm = con.sql("""SELECT round(sum(power_mw), 4), round(sum(co2_tonnes), 4), count(*) FROM fac""").fetchone()
    r = out["facility_metrics"]
    if not (close(fm[0], r["total_power_mw"]) and close(fm[1], r["total_co2_tonnes"])
            and fm[2] == r["n_facilities"]):
        bad.append(f"facility_metrics {fm} vs {r}")
    mode = con.sql("""SELECT last_ts FROM fac GROUP BY last_ts ORDER BY count(*) DESC, last_ts
                      LIMIT 1""").fetchone()
    if (mode[0] if mode else None) != r["last_updated"]:
        bad.append(f"facility last_updated {mode} vs {r['last_updated']}")
    mm = con.sql("""SELECT round(coalesce(avg(price_dmwh), 0.0), 4), round(coalesce(sum(demand_mw), 0.0), 4)
                    FROM mkt""").fetchone()
    r = out["market_metrics"]
    if not (close(mm[0], r["avg_price_dmwh"]) and close(mm[1], r["total_demand_mw"])):
        bad.append(f"market_metrics {mm} vs {r}")
    legend = con.sql("""SELECT list_sort(list_distinct(flatten(list(fuel_tech)))) FROM lookup""").fetchone()[0]
    if list(legend or []) != list(out["fuel_legend"] or []):
        bad.append(f"fuel_legend {legend} vs {out['fuel_legend']}")
    px = out["marker_px"]
    if len(px) != len(snap["fac"]) or any(not (12.0 - 1e-9 <= p <= 36.0 + 1e-9) for p in px):
        bad.append("marker_sizes out of range or row count")
    ts = con.sql("""WITH w AS (SELECT bucket AS ts, sum_power_mw, sum_co2_tonnes FROM win),
                         m AS (SELECT max(ts) AS mx FROM w)
                    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS b, round(sum(sum_power_mw), 4),
                           round(sum(sum_co2_tonnes), 4)
                    FROM w, m WHERE ts >= mx - INTERVAL 60 MINUTE GROUP BY 1 ORDER BY 1""").fetchall()
    got = out["totals"]
    if len(ts) != len(got) or any(a[0] != b[0] or not close(a[1], b[1]) or not close(a[2], b[2])
                                  for a, b in zip(ts, got)):
        bad.append(f"totals_timeseries {len(ts)} vs {len(got)} buckets")
    for name in snap:
        con.unregister(name)
    return bad


# ---------------------------------------------------------------------------
# Catalog
# ---------------------------------------------------------------------------

def _norm(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v + 0.0:.6f}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    return str(v)


def catalog_con(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def same_result(columns: list[str], rows: list[tuple], rel) -> bool:
    """Spark rows against a DuckDB relation: same column names, same
    multiset of rows (floats at 6 dp, timestamps ISO)."""
    dc, dr = rel.columns, rel.fetchall()
    i_s = sorted(range(len(columns)), key=lambda i: columns[i])
    i_d = sorted(range(len(dc)), key=lambda i: dc[i])
    sh = sorted("|".join(_norm(r[i]) for i in i_s) for r in rows)
    dh = sorted("|".join(_norm(r[i]) for i in i_d) for r in dr)
    return sorted(columns) == sorted(dc) and sh == dh
