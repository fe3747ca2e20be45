"""Workload query_catalog: a fixed set of registry queries, one per query
family, over a star schema generated from the seed.

One check pass, which is also the warm-up (every query collected and
compared with its DuckDB oracle; rows only for randomized operators),
then timed passes, closed loop with one client, until ``--seconds`` have
gone by (at least MIN_PASSES). Each query's time covers plan
construction plus a ``noop`` write.

End-to-end metrics, over the timed passes after the first (which still
warms up): ``setup_s`` runs from process start to the session up and the
catalog's query specs resolved; ``job_s`` is catalog_s, the sum over the
queries of each query's median time; ``latency_ms`` the geometric mean
over the queries of those median times; ``rate_per_s`` the throughput of
the one client, the catalog's queries over the median time of a pass.

A traced run makes two timed passes (its figures come from the second),
then runs the live dashboard phase (``dashboard_live.run_phase``) on the
same session.
"""

from __future__ import annotations

import math
import time

import gen
import oracles
from layers import CATALOG
from spans import Tracer, percentile

SCALE = 0.02  # 12k lineitems, 2k events, 100 documents, 50 embeddings
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
MIN_PASSES = 3


def check_pass(h, specs: dict, data: str) -> None:
    """Every query collected and compared with its DuckDB oracle."""
    con = oracles.catalog_con(data, TABLES)
    for name, _ in CATALOG:
        df = specs[name].fn(h.spark, data)
        rows = [tuple(r) for r in df.collect()]
        if specs[name].oracle is None:
            h.check(f"catalog.{name}.rows", len(rows) > 0, "no rows")
        else:
            h.check(f"catalog.{name}", oracles.same_result(df.columns, rows, con.sql(specs[name].oracle)))


def timed_pass(h, tr: Tracer, specs: dict, data: str) -> dict[str, float]:
    """One pass over the catalog: query -> seconds."""
    out = {}
    for name, _ in CATALOG:
        with tr.span(f"catalog.{name}"):
            t = time.perf_counter()
            specs[name].fn(h.spark, data).write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t
        h.check(f"catalog.{name}.run", True)
    return out


def run(h) -> dict:
    args = h.args
    data = h.path("tables")
    t = time.perf_counter()
    gen.catalog_tables(data, args.seed, SCALE)
    h.gen_s = time.perf_counter() - t

    h.start_spark()
    from assignment_2_dataengineering_spark.plans import registry

    specs = {n: registry.get_spec(n) for n, _ in CATALOG}
    h.setup_done()
    tr = Tracer(h.spark, enabled=bool(args.trace), trace_id=f"query_catalog-{args.seed}")

    check_pass(h, specs, data)
    passes = []
    start = time.perf_counter()
    min_passes = 2 if args.trace else MIN_PASSES
    while len(passes) < min_passes or (not args.trace and time.perf_counter() - start < args.seconds):
        passes.append(timed_pass(h, tr, specs, data))
    # The first timed pass still warms up; medians over the rest hold up
    # against a pass slowed by the host.
    steady = passes[1:] or passes
    med = {name: percentile([p[name] for p in steady], 50) for name, _ in CATALOG}
    h.put("job_s", sum(med.values()), "s")
    h.put("latency_ms", math.exp(sum(math.log(v) for v in med.values()) / len(med)) * 1000.0, "ms")
    h.put("rate_per_s", len(CATALOG) / percentile([sum(p.values()) for p in steady], 50), "1/s")

    layer = {"catalog.s": sum(med.values()), "catalog.passes": len(passes)}
    for name, module in CATALOG:
        layer[f"catalog.{name}.s"] = med[name]
        layer[f"catalog.{name}.jobs"] = percentile([s.attrs.get("jobs", 0) for s in tr.by_name(f"catalog.{name}")], 50)
        layer[f"catalog.{module}.s"] = layer.get(f"catalog.{module}.s", 0.0) + med[name]
    if args.trace:
        import dashboard_live

        layer.update(dashboard_live.run_phase(h, tr))
        layer["tracing.bookkeeping_s"] = tr.bookkeeping_s
        tr.dump(h.path("..", f"trace-query_catalog-{args.seed}.jsonl"))
    return layer
