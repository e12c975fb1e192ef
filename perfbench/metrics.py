"""Metric definitions and their computation from pass records.

``END_TO_END`` and ``PER_LAYER`` are the names, units and directions
listed in ``BENCHMARK.json``; each per-layer entry also names the layer
(module) it measures and the end-to-end metric and workload it should
move (``perfbench/README.md`` prints the same map).  A per-layer metric
of a layer a workload does not reach reads 0 on that workload.
"""

from __future__ import annotations

import statistics

from perfbench.trace import SPARK_COUNTERS

END_TO_END = (
    # name, unit, better
    ("run_s", "s", "lower"),
    ("setup_s", "s", "lower"),
    ("driver_peak_rss_mb", "MB", "lower"),
)

SURVEY = "survey_report"
STORES = "store_maintenance"
STORE_STEPS = {
    "simjoin": ("build", "append", "delete", "compact", "read"),
}
QUERY_OPS = ("streaming_set_similarity",)
SPARK = SPARK_COUNTERS + ("driver_gap_s",)


def _per_layer_table() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, layer, what it should move)."""
    both = "run_s on both workloads"
    setup = "setup_s on both workloads"
    rows = [
        ("session.import_s", "s", "lower", "package import", setup),
        ("session.start_s", "s", "lower", "session", setup),
        ("session.prepare_s", "s", "lower", "input generation", setup),
        ("traced.run_s", "s", "lower", "tracing overhead", both),
        ("traced.setup_s", "s", "lower", "tracing overhead", setup),
        ("traced.driver_peak_rss_mb", "MB", "lower", "tracing overhead",
         "driver_peak_rss_mb on both workloads"),
        ("failed_share", "ratio", "lower", "output checks",
         "correct on both workloads"),
    ]
    s = f"run_s on {SURVEY}"
    rows += [
        ("report_cold_s", "s", "lower", "plans.survey_pipeline (cold cache)", s),
        ("report_warm_s", "s", "lower", "plans.survey_pipeline (warm cache)", s),
        ("classifier_calls", "count", "lower", "operators.classify", s),
        ("survey.read_s", "s", "lower", "sources.survey", s),
        ("survey.input_rows", "count", "higher", "sources.survey", s),
        ("survey.input_bytes", "bytes", "higher", "sources.survey", s),
        ("survey_pipeline.cold_s", "s", "lower", "plans.survey_pipeline", s),
        ("survey_pipeline.warm_s", "s", "lower", "plans.survey_pipeline", s),
        ("cache.keys", "count", "lower", "operators.cache", s),
        ("cache.misses", "count", "lower", "operators.cache", s),
        ("cache.hit_ratio", "ratio", "higher", "operators.cache", s),
        ("cache.files", "count", "lower", "operators.cache", s),
        ("cache.bytes", "bytes", "lower", "operators.cache", s),
        ("classify.calls", "count", "lower", "operators.classify", s),
        ("classify.calls_per_miss", "ratio", "lower", "operators.classify", s),
        ("excel.s", "s", "lower", "sinks.excel", s),
        ("excel.spark_s", "s", "lower", "sinks.excel", s),
        ("excel.driver_s", "s", "lower", "sinks.xlsx_writer", s + " and driver_peak_rss_mb"),
        ("excel.rows", "count", "higher", "sinks.excel", s),
        ("excel.bytes", "bytes", "lower", "sinks.xlsx_writer", s),
    ]
    st = f"run_s on {STORES}"
    rows.append(("store_bytes_per_input_byte", "ratio", "lower",
                 "stores (store_commit, store_delete, fsio)", st))
    for family, steps in STORE_STEPS.items():
        for step in steps:
            layer = ("partitioning.index_compact" if step == "compact"
                     else f"{family} store ({step})")
            rows.append((f"store.{family}.{step}.s", "s", "lower", layer, st))
            if step != "read":
                rows.append((f"store.{family}.{step}.bytes", "bytes",
                             "lower", layer, st))
                rows.append((f"store.{family}.{step}.files", "count",
                             "lower", layer, st))
    for name in QUERY_OPS:
        rows.append((f"op.{name}.s", "s", "lower", "streaming", st))
    rows += [
        ("op.plan_build_s", "s", "lower",
         "query call (the availableNow drain runs inside it)", st),
        ("op.action_s", "s", "lower", "query result collect", st),
        ("streaming.batches", "count", "lower", "streaming", st),
        ("streaming.batch_s", "s", "lower", "streaming", st),
        ("streaming.input_rows", "count", "higher", "streaming", st),
        ("streaming.state_rows", "count", "lower", "streaming", st),
    ]
    for name in SPARK:
        unit = ("count" if name in ("jobs", "stages", "tasks")
                else "MB" if name.endswith("_mb") else "s")
        rows.append((f"spark.{name}", unit, "lower", "Spark engine", both))
    return rows


PER_LAYER = tuple(_per_layer_table())
UNITS = {row[0]: row[1] for row in PER_LAYER}


def ops_in(passes: list[dict]) -> int:
    return sum(len(p["ops"]) for p in passes)


def _median(values) -> float:
    return float(statistics.median(values))


def end_to_end(passes: list[dict], setup: dict,
               rss_mb: float) -> dict[str, tuple[float, str]]:
    return {"run_s": (_median(p["run_s"] for p in passes), "s"),
            "setup_s": (sum(setup.values()), "s"),
            "driver_peak_rss_mb": (rss_mb, "MB")}


def workload_lines(workload, passes: list[dict],
                   counts: list[dict]) -> dict[str, tuple[float, str]]:
    """The workload's own end-to-end numbers, printed as extra lines."""
    per_pass = [workload.layer_values(p, c) for p, c in zip(passes, counts)]
    return {name: (_median(v[name] for v in per_pass), UNITS[name])
            for name in workload.report}


def _pass_values(workload, p: dict, c: dict) -> dict[str, float]:
    """The workload's layer values plus the Spark and streaming counters
    summed over the pass's ops."""
    v = workload.layer_values(p, c)
    for r in p["ops"].values():
        for k in ("batches", "batch_s", "input_rows", "state_rows"):
            v[f"streaming.{k}"] = (v.get(f"streaming.{k}", 0)
                                   + r.get(f"streaming.{k}", 0))
        for k in SPARK:
            v[f"spark.{k}"] = v.get(f"spark.{k}", 0) + r[k]
    return v


def per_layer(workload, passes: list[dict], counts: list[dict],
              setup: dict, e2e: dict,
              failed_share: float) -> dict[str, tuple[float, str]]:
    per_pass = [_pass_values(workload, p, c) for p, c in zip(passes, counts)]
    fixed = dict(setup)
    fixed.update({f"traced.{k}": v for k, (v, _u) in e2e.items()})
    fixed["failed_share"] = failed_share
    out = {}
    for name, unit, _better, _layer, _moves in PER_LAYER:
        if name in fixed:
            value = fixed[name]
        else:
            value = _median(pv.get(name, 0.0) for pv in per_pass)
        out[name] = (float(value), unit)
    return out
