"""Seeded input generators for the benchmark.

Everything here is pure Python (no Spark): the same seed gives the same
bytes. The program under test only ever sees the files these functions
land.

- NEM week: nested facility documents (``schemas.FACILITY_SCHEMA``), the
  fueltech map (``schemas.FUELTECH_SCHEMA``) and the OpenElectricity-
  shaped facility and market API responses
  (``sources.extract.RESPONSE_SCHEMA``), one JSON document per line so
  ``spark.read.json`` distributes the parse.
- Broker delivery faults: the fixed share of malformed, sentinel, QoS-1
  duplicate, late and unknown-facility lines mixed into a replay.
- Live replay lines for the dashboard workload.
- Catalog tables: a small star schema with the column layout of the
  registry's parquet tables, so registry queries and their DuckDB oracles
  run over data made from the seed.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta, timezone

REGIONS = ["NSW1", "QLD1", "VIC1", "SA1", "TAS1"]
FUELTECHS = [
    ("coal_black", "Coal (Black)", False),
    ("coal_brown", "Coal (Brown)", False),
    ("gas_ccgt", "Gas (CCGT)", False),
    ("gas_ocgt", "Gas (OCGT)", False),
    ("hydro", "Hydro", True),
    ("wind", "Wind", True),
    ("solar_utility", "Solar (Utility)", True),
    ("battery_charging", "Battery (Charging)", True),
    ("battery_discharging", "Battery (Discharging)", True),
    ("distillate", "Distillate", False),
    ("bioenergy_biomass", "Bioenergy (Biomass)", True),
    ("aggregator_vpp", "-", True),
    ("interconnector", "-", False),
]
# Reference fleet (BASELINE.md): 514 raw facilities, 419 operating, 636
# operating units; 335 facilities report data in the week window.
RAW_FACILITIES = 514
INTERVALS_PER_WEEK = 2016
WEEK_START = datetime(2025, 10, 8, tzinfo=timezone(timedelta(hours=10)))
# Share of replay lines that are broker faults, per kind.
FAULT_SHARE = {
    "duplicate": 0.004,
    "late": 0.002,
    "malformed": 0.001,
    "unknown_facility": 0.001,
    "sentinel": 0.0002,
}


def ts_str(i: int) -> str:
    """ISO-8601 timestamp of five-minute interval ``i`` of the week, in
    the API's +10:00 offset."""
    return (WEEK_START + timedelta(minutes=5 * i)).isoformat()


def utc_str(i: int) -> str:
    """The publisher's UTC rendering of interval ``i``."""
    t = WEEK_START + timedelta(minutes=5 * i)
    return t.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _dump(path: str, docs: list) -> None:
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d, separators=(",", ":")))
            f.write("\n")


def facilities(seed: int, multiplier: float) -> list[dict]:
    """Nested facility documents: ~6% WEM, ~13% with no operating unit,
    ~1.7 units per facility, some fueltechs mapping to '-'."""
    rng = random.Random(seed)
    out = []
    for i in range(max(8, round(RAW_FACILITIES * multiplier))):
        code = f"F{seed % 1000:03d}{i:05d}"
        wem = rng.random() < 0.06
        dormant = rng.random() < 0.13
        n_units = 1 + min(5, int(rng.expovariate(1.4)))
        units = []
        for u in range(n_units):
            if dormant:
                status = rng.choice(["retired", "committed"])
            elif u == 0:
                status = "operating"
            else:
                status = "operating" if rng.random() < 0.7 else rng.choice(["retired", "committed"])
            ft = FUELTECHS[rng.randrange(len(FUELTECHS))][0]
            cap = round(rng.uniform(5, 700), 1)
            units.append(
                {
                    "code": f"{code}U{u}",
                    "fueltech_id": ft,
                    "status_id": status,
                    "capacity_registered": cap,
                    "capacity_maximum": None if rng.random() < 0.2 else round(cap * 1.05, 1),
                    "capacity_storage": None,
                    "emissions_factor_co2": None
                    if rng.random() < 0.3
                    else round(rng.uniform(0, 1.3), 4),
                    "dispatch_type": "LOAD" if ft == "battery_charging" else "GENERATOR",
                    "data_first_seen": "2020-01-01T00:00:00+10:00",
                    "data_last_seen": ts_str(INTERVALS_PER_WEEK - 1),
                    "created_at": "2020-01-01T00:00:00Z",
                    "updated_at": "2025-01-01T00:00:00Z",
                }
            )
        out.append(
            {
                "code": code,
                "name": f"Facility {code}",
                "network_id": "WEM" if wem else "NEM",
                "network_region": "WEM" if wem else REGIONS[rng.randrange(len(REGIONS))],
                "description": f"<p>Synthetic facility {i}</p>",
                "location": None
                if rng.random() < 0.01
                else {
                    "lat": round(-38.0 + rng.uniform(-5, 12), 4),
                    "lng": round(146.0 + rng.uniform(-9, 7), 4),
                },
                "units": units,
            }
        )
    return out


def fueltech_map() -> list[dict]:
    return [{"fueltech_id": f, "label": lab, "renewable": r} for f, lab, r in FUELTECHS]


def _reporting_units(facs: list[dict], rng: random.Random) -> list[tuple[str, dict]]:
    """(facility code, unit) pairs that report readings: operating units
    of NEM facilities, ~80% of facilities reporting (335/419)."""
    out = []
    for f in facs:
        if f["network_id"] != "NEM" or rng.random() >= 0.8:
            continue
        out += [(f["code"], u) for u in f["units"] if u["status_id"] == "operating"]
    return out


def facility_responses(
    facs: list[dict], seed: int, intervals: int = INTERVALS_PER_WEEK, batch_size: int = 25
) -> list[dict]:
    """Facility endpoint responses, one per batch of 25 facility codes:
    power and emissions blocks of per-unit [ts, value] series. About
    0.1% of readings are null; one batch also carries a unit the
    facility documents do not know (the extractor drops it)."""
    rng = random.Random(seed * 7 + 1)
    units = _reporting_units(facs, rng)
    by_fac: dict[str, list[dict]] = {}
    for fc, u in units:
        by_fac.setdefault(fc, []).append(u)
    codes = sorted(by_fac)
    out = []
    for b in range(0, len(codes), batch_size):
        power, emis = [], []
        batch_units = [u for c in codes[b : b + batch_size] for u in by_fac[c]]
        if b == 0:
            batch_units = batch_units + [{"code": "ORPHANU0", "capacity_registered": 50.0,
                                          "emissions_factor_co2": 0.5, "fueltech_id": "wind"}]
        for u in batch_units:
            cap = u["capacity_registered"] or 100.0
            ef = u["emissions_factor_co2"] or 0.0
            sign = -1.0 if u["fueltech_id"] == "battery_charging" else 1.0
            level = rng.uniform(0.2, 0.9)
            p_series, e_series = [], []
            for i in range(intervals):
                level = min(1.0, max(0.0, level + rng.uniform(-0.05, 0.05)))
                p = round(sign * cap * level, 3)
                ts = ts_str(i)
                if rng.random() < 0.001:
                    p_series.append([ts, None])
                    e_series.append([ts, None])
                    continue
                p_series.append([ts, p])
                e_series.append([ts, round(abs(p) * ef / 12.0, 4)])
            power.append({"name": f"power_{u['code']}", "columns": {"unit_code": u["code"]}, "data": p_series})
            emis.append({"name": f"emissions_{u['code']}", "columns": {"unit_code": u["code"]}, "data": e_series})
        out.append({"data": [{"metric": "power", "results": power},
                             {"metric": "emissions", "results": emis}]})
    return out


def market_response(seed: int, intervals: int = INTERVALS_PER_WEEK) -> dict:
    """Market endpoint response: price and demand per region, region
    codes only in the prefixed series names. One (region, interval)
    hole, and negative prices now and then."""
    rng = random.Random(seed * 7 + 2)
    price, demand = [], []
    hole = (REGIONS[seed % len(REGIONS)], intervals // 2)
    for r in REGIONS:
        ps, ds = [], []
        for i in range(intervals):
            if (r, i) == hole:
                continue
            pr = round(rng.uniform(-30, 320), 2)
            ps.append([ts_str(i), pr])
            ds.append([ts_str(i), round(rng.uniform(500, 9500), 1)])
        price.append({"name": f"price_{r}", "columns": None, "data": ps})
        demand.append({"name": f"demand_{r}", "columns": None, "data": ds})
    return {"data": [{"metric": "price", "results": price},
                     {"metric": "demand", "results": demand}]}


def land_nem_week(out_dir: str, seed: int, multiplier: float,
                  intervals: int = INTERVALS_PER_WEEK) -> dict[str, str]:
    """Land a synthetic week as API-shaped JSON lines. Returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    facs = facilities(seed, multiplier)
    paths = {
        "facilities": os.path.join(out_dir, "facilities.json"),
        "fueltech": os.path.join(out_dir, "fueltech.json"),
        "facility_api": os.path.join(out_dir, "facility_api.json"),
        "market_api": os.path.join(out_dir, "market_api.json"),
    }
    _dump(paths["facilities"], facs)
    _dump(paths["fueltech"], fueltech_map())
    _dump(paths["facility_api"], facility_responses(facs, seed, intervals))
    _dump(paths["market_api"], [market_response(seed, intervals)])
    return paths


def _ts_of(line: str) -> str | None:
    try:
        return json.loads(line).get("timestamp")
    except ValueError:
        return None


def inject_faults(lines: list[str], seed: int, known_ids: list[str]) -> tuple[list[str], dict[str, int]]:
    """Mix broker faults into a replay, a fixed share of each kind:

    - duplicate: a QoS-1 re-delivery of a recent line, 1-20 lines later;
    - late: a reading for a known facility at an off-grid instant 10-25
      minutes before the replay position (inside the pipeline's 60-minute
      watermark, so it must be counted);
    - malformed: a truncated JSON line;
    - unknown_facility: a well-formed reading for an id the lookup lacks;
    - sentinel: a publisher warm-start marker mid-stream.

    Returns the new line list and the count per kind."""
    rng = random.Random(seed * 7 + 3)
    n = len(lines)
    if n < 20:
        return list(lines), {kind: 0 for kind in FAULT_SHARE}
    plan: dict[int, list[str]] = {}
    counts = {}
    for kind, share in FAULT_SHARE.items():
        k = max(1, round(n * share))
        counts[kind] = k
        for _ in range(k):
            pos = rng.randrange(n // 10, n)
            if kind == "duplicate":
                src = lines[max(1, pos - rng.randint(1, 20))]
                extra = src
            elif kind == "late":
                ts = _ts_of(lines[pos])
                base = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S%z") if ts and ts[0].isdigit() else None
                if base is None:
                    counts[kind] -= 1
                    continue
                t = base - timedelta(minutes=rng.randint(10, 25), seconds=rng.randint(1, 59))
                extra = json.dumps({
                    "facility_id": known_ids[rng.randrange(len(known_ids))],
                    "timestamp": t.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "power_mw": round(rng.uniform(0, 300), 2),
                    "co2_tonnes": round(rng.uniform(0, 30), 3),
                })
            elif kind == "malformed":
                extra = lines[pos][: rng.randint(1, max(2, len(lines[pos]) - 2))]
            elif kind == "unknown_facility":
                extra = json.dumps({
                    "facility_id": f"UNKNOWN{rng.randrange(10**6):06d}",
                    "timestamp": _ts_of(lines[pos]) or utc_str(0),
                    "power_mw": 1.0,
                    "co2_tonnes": 0.1,
                })
            else:
                extra = '{"timestamp": "starting...", "price_dmwh": 0, "demand_mw": 0}'
            plan.setdefault(pos, []).append(extra)
    out = []
    for i, line in enumerate(lines):
        out.append(line)
        out += plan.get(i, [])
    return out, counts


def land_fleet(out_dir: str, seed: int, multiplier: float) -> dict[str, str]:
    """Land only the facility documents and the fueltech map."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"facilities": os.path.join(out_dir, "facilities.json"),
             "fueltech": os.path.join(out_dir, "fueltech.json")}
    _dump(paths["facilities"], facilities(seed, multiplier))
    _dump(paths["fueltech"], fueltech_map())
    return paths


def operating_ids(facs: list[dict]) -> list[str]:
    """Codes of NEM facilities with at least one operating unit: the keys
    of the facility lookup the extractor builds."""
    return [f["code"] for f in facs if f["network_id"] == "NEM"
            and any(u["status_id"] == "operating" for u in f["units"])]


def replay_for(seed: int, ids: list[str], intervals: int) -> list[str]:
    """Replay lines in the publisher's shape: the warm-start sentinel, then
    per interval one event per facility followed by one per region, with
    the broker fault mix."""
    rng = random.Random(seed * 7 + 4)
    lines = ['{"timestamp": "starting...", "price_dmwh": 0, "demand_mw": 0}']
    for i in range(intervals):
        ts = utc_str(i)
        for fid in ids:
            p = round(rng.uniform(-50, 600), 3)
            lines.append(json.dumps({"facility_id": fid, "timestamp": ts, "power_mw": p,
                                     "co2_tonnes": round(abs(p) * 0.07, 4)}))
        for r in REGIONS:
            lines.append(json.dumps({"region_id": r, "timestamp": ts,
                                     "price_dmwh": round(rng.uniform(-30, 320), 2),
                                     "demand_mw": round(rng.uniform(500, 9500), 1)}))
    return inject_faults(lines, seed, ids)[0]


# ---------------------------------------------------------------------------
# Catalog tables
# ---------------------------------------------------------------------------

_WORDS = ("spark stream batch query join filter group sort hash scan table row column "
          "data value key window order part line agg merge vector fast slow big small "
          "the a customer index shuffle plan task stage").split()


def _text(rng: random.Random, n: int) -> str:
    return " ".join(_WORDS[min(len(_WORDS) - 1, int(rng.paretovariate(1.2)) - 1 + rng.randrange(3))]
                    for _ in range(n))


def catalog_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the star-schema parquet tables the catalog queries read,
    with the registry's column layout. ``scale`` 1.0 = 600k lineitems.
    Returns row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    rng = random.Random(seed)
    n_li = int(600_000 * scale)
    n_ord = max(10, n_li // 4)
    n_cust = max(10, n_ord // 10)
    n_part = max(10, n_li // 30)
    n_supp = max(5, n_li // 600)
    n_ev = max(100, n_li // 6)
    n_users = max(10, n_ev // 80)
    n_docs = max(50, n_li // 120)
    n_vec = max(50, n_li // 300)
    day = np.datetime64("1992-01-01", "us")
    us_per_day = 86_400_000_000

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": np.arange(5, dtype=np.int64),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int64),
                     "n_name": [f"NATION{i:02d}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int64) % 5})
    write("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": g.integers(0, 25, n_cust),
                       "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
                       "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": g.integers(0, 25, n_supp),
                       "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2)})
    write("part", {"p_partkey": np.arange(n_part, dtype=np.int64),
                   "p_name": [f"part {i}" for i in range(n_part)],
                   "p_brand": g.choice([f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_part),
                   "p_type": g.choice(["ECONOMY ANODIZED STEEL", "STANDARD POLISHED TIN", "PROMO BRUSHED COPPER", "LARGE PLATED NICKEL"], n_part),
                   "p_size": g.integers(1, 51, n_part).astype(np.int64),
                   "p_retailprice": np.round(g.uniform(900, 2100, n_part), 2)})
    odate = day + (g.integers(0, 3650, n_ord) * us_per_day).astype("timedelta64[us]")
    write("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                     "o_custkey": g.integers(0, n_cust, n_ord),
                     "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
                     "o_totalprice": np.round(g.uniform(1000, 450_000, n_ord), 2),
                     "o_orderdate": odate,
                     "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    okey = g.integers(0, n_ord, n_li)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {"l_orderkey": okey,
                       "l_partkey": g.integers(0, n_part, n_li),
                       "l_suppkey": g.integers(0, n_supp, n_li),
                       "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_li), 2),
                       "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
                       "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
                       "l_returnflag": g.choice(["A", "N", "R"], n_li),
                       "l_linestatus": g.choice(["F", "O"], n_li),
                       "l_shipdate": odate[okey] + (g.integers(1, 122, n_li) * us_per_day).astype("timedelta64[us]")})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + g.integers(0, 30 * us_per_day, n_ev).astype("timedelta64[us]"))
    write("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                     "ts": ev_ts,
                     "user_id": np.minimum(g.zipf(1.3, n_ev), n_users) - 1,
                     "event_type": g.choice(["view", "click", "purchase", "signup", "error"], n_ev, p=[.5, .25, .1, .05, .1]),
                     "value": np.round(g.exponential(50, n_ev), 2),
                     "props": [json.dumps({"k": int(k)}) for k in g.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            texts.append(texts[rng.randrange(i)])  # exact duplicate
        elif i > 10 and rng.random() < 0.1:
            w = texts[rng.randrange(i)].split()
            w[rng.randrange(len(w))] = _WORDS[rng.randrange(len(_WORDS))]
            texts.append(" ".join(w))  # near duplicate
        else:
            texts.append(_text(rng, rng.randint(8, 80)))
    write("documents", {"doc_id": np.arange(n_docs, dtype=np.int64),
                        "text": texts,
                        "lang": g.choice(["en", "de", "fr", "zh"], n_docs, p=[.7, .1, .1, .1]),
                        "source": [f"src{i % 5}" for i in range(n_docs)],
                        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = g.normal(0, 1, (8, 64))
    labels = g.integers(0, 8, n_vec)
    vecs = centers[labels] + g.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(n_vec, dtype=np.int64),
                         "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                         "label": labels.astype(np.int32)})
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev, "documents": n_docs, "embeddings": n_vec}
