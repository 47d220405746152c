"""The closed loop: set up, run operations until the time is up, check,
and turn the observations into the end-to-end or per-layer metrics."""

from __future__ import annotations

import random
import sys
import traceback

from harness import (
    OpLog, SparkCounters, clock, cpu_ticks, peak_rss_mb, quantile,
    tree_usage,
)
from metrics import END_TO_END, PER_LAYER, layer_metrics


def _instrument(tracer, table_rows: "dict[str, int]", loaded: list) -> None:
    """Span the layers the benchmark reaches only through other layers:
    ``io.load_table`` (every module that imported it) and
    ``sources.merge.upsert_parquet`` as the medallion stages call it.
    Each load also records the loaded table's row count."""
    from metar_pipeline_spark import io
    from metar_pipeline_spark.plans import medallion

    orig = io.load_table

    def load_table(spark, sf_dir, name):
        loaded.append(table_rows.get(name, 0))
        return orig(spark, sf_dir, name)

    wrapped = tracer.wrap("io.load_table", load_table)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith(
            "metar_pipeline_spark"
        ) and getattr(mod, "load_table", None) is orig:
            mod.load_table = wrapped
    medallion.upsert_parquet = tracer.wrap(
        "sources.merge.upsert_parquet", medallion.upsert_parquet
    )


def run_workload(wl, ctx, make_session, work, seconds, trace) -> dict:
    tracer = ctx.tracer
    loaded: "list[int]" = []
    t0 = clock()
    spark = make_session()
    ctx.layer_value("session.start_s", clock() - t0)
    import metar_pipeline_spark.queries  # noqa: F401  (registry imports)

    _instrument(tracer, getattr(wl, "table_rows", {}), loaded)
    tracer.active, tracer.op_id = trace, -1  # set-up spans: op id < 0
    wl.setup(spark, work)
    tracer.active = False
    setup_s = clock() - t0

    counters = SparkCounters(spark)
    ops = OpLog()
    rows_in: "list[int]" = []
    written: "list[int]" = []
    root = getattr(wl, "storage_root", None)
    period = getattr(wl, "pass_len", 1)
    # Operations come in groups (one op, or one pass over a query set or
    # an op round); a traced run traces one operation of each pair —
    # operation j of groups 2p and 2p + 1, picked by a seeded coin — so
    # it measures whole pairs of groups. The next unit starts only if it
    # is projected to end inside the window, judged by the previous one.
    unit = period * (2 if trace else 1)
    coin = random.Random(ctx.seed)
    coins: "dict[tuple[int, int], int]" = {}
    steal0, total0 = cpu_ticks()
    start = clock()
    i, group_s, group_t0 = 0, 0.0, start
    while True:
        if i % unit == 0:
            now = clock()
            if i and now - start + group_s > seconds:
                break
            group_t0 = now
        kind, fn = wl.make_op(i)
        g, j = divmod(i, period)
        pair = (g // 2, j)
        if pair not in coins:
            coins[pair] = coin.randrange(2)
        traced = trace and g % 2 == coins[pair]
        before = tree_usage(root)[0] if root else 0
        del loaded[:]
        tracer.active, tracer.op_id = traced, i
        group = counters.start()
        t = clock()
        try:
            with tracer.span("op"):
                res = fn()
            ok = True
        except Exception:  # noqa: BLE001 — a failed op is counted
            print(f"op {i} ({kind}) failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        dt = clock() - t
        tracer.active = False
        jobs, tasks = counters.stop(group)
        ok = ok and wl.check(i, res)
        ops.add(kind, dt, ok, traced, jobs, tasks, pair)
        n = wl.op_rows(i, res) if hasattr(wl, "op_rows") else None
        rows_in.append(sum(loaded) if n is None else n)
        if root:
            written.append(max(0, tree_usage(root)[0] - before))
        i += 1
        if i % unit == 0:
            group_s = clock() - group_t0

    steal1, total1 = cpu_ticks()
    ctx.layer_value("host.cpu_steal_share",
                    (steal1 - steal0) / max(1, total1 - total0))
    # final_check: False fails every operation, a set of kinds fails
    # the operations of those kinds
    bad = wl.final_check()
    if bad is False:
        for j in range(ops.n):
            ops.fail(j)
    elif isinstance(bad, set):
        for j, k in enumerate(ops.kind):
            if k in bad:
                ops.fail(j)
    storage = wl.storage(sum(written))
    ctx.layer_value("peak_rss_mb", peak_rss_mb(spark))
    spark.stop()

    failed = sum(ops.failed)
    if not trace:
        lat = [x for x, t in zip(ops.lat, ops.traced) if not t]
        rows = sum(r for r, t in zip(rows_in, ops.traced) if not t)
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": quantile(lat, 0.5),
            "op_p90_s": quantile(lat, 0.9),
            "ops_per_s": len(lat) / sum(lat),
            "rows_per_s": rows / sum(lat),
        }
        units = END_TO_END
    else:
        metrics = layer_metrics(ctx, ops, storage, written)
        units = PER_LAYER
    return {
        "correct": failed == 0,
        "attempted": ops.n,
        "failed": failed,
        "metrics": {
            k: {"value": metrics.get(k, 0.0), "unit": u}
            for k, u in units.items()
        },
    }
