"""Metric derivation for the graft benchmark.

The JVM side writes one run record (every timed call, every round, the
layout snapshot, the Spark counts of traced calls); the functions here turn
it into the end-to-end and per-layer metrics named in BENCHMARK.json.
"""

import math


def quantile(xs, p):
    """Nearest-rank p-quantile (0 < p <= 1) of a non-empty sample: always
    one of the samples, and monotone in p on one sample set.
    """
    if not xs:
        raise ValueError("quantile of an empty sample")
    if not 0.0 < p <= 1.0:
        raise ValueError("p must lie in (0, 1]")
    s = sorted(xs)
    return s[max(1, math.ceil(p * len(s))) - 1]


def median(xs):
    return quantile(xs, 0.5)


E2E_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cycle_p50_s": "s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "maint_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "files_per_leaf": "count",
    "heap_peak_mb": "MB",
}


def _sums_by(calls, key):
    out = {}
    for c in calls:
        out[key(c)] = out.get(key(c), 0.0) + c["dur_s"]
    return out


def end_to_end(rec):
    """End-to-end metrics of an untraced run record, as {name: value}."""
    calls = rec["calls"]
    rounds = rec["rounds"]
    prefix = rec["prefix_rounds"]
    head_rounds = [r for r in rounds if r["round"] < prefix]
    head_calls = [c for c in calls if c["round"] < prefix]
    lay = rec["layout"]
    return {
        "setup_s": rec["session_s"] + median(rec["setup_builds_s"]) + rec["warmup_s"],
        "rows_per_s": sum(r["rows"] for r in rounds) / sum(c["dur_s"] for c in calls),
        "cycle_p50_s": median(list(_sums_by([c for c in calls if c["op"].startswith("cycle-")],
                                            lambda c: c["op"]).values())),
        "write_p50_s": median([c["dur_s"] for c in calls if c["kind"] == "write"]),
        "read_p50_s": median([c["dur_s"] for c in calls if c["kind"] == "read"]),
        "maint_s": median(list(_sums_by([c for c in calls if c["kind"] == "maint"],
                                        lambda c: c["round"]).values())),
        "write_amp": sum(c["bytes_written"] for c in head_calls)
        / sum(r["user_bytes"] for r in head_rounds),
        "space_amp": lay["disk_bytes"] / lay["live_bytes"],
        "files_per_leaf": lay["data_files"] / lay["leaves"],
        "heap_peak_mb": max(r["heap_after_gc_mb"] for r in head_rounds),
    }


# Calls the workloads time, by the public function they enter.
CALLS = [
    "Migrate.migrateRange", "Reconcile.isClean", "FileMigrate.copyTree",
    "FileMigrate.verified", "SparkRead.point", "Compact.rewriteInPlacePartitioned",
    "Snapshots.mergeByKey", "Mv.refresh", "Snapshots.readPoint", "Snapshots.readWhere",
    "MvRoute.agg", "Snapshots.deleteWhere", "Snapshots.compact", "Snapshots.expire",
    "Snapshots.vacuum", "DocStreams.upsertNearDup",
]

# (call, metric, unit, source, field): "extra" is a count the workload
# noted on the call, "spark" a count the tracer resolved for it; both are
# reported as the mean per call. "ratio" divides two summed sources.
SPECIFIC = [
    ("Migrate.migrateRange", "files_written", "count", "extra", "files_written"),
    ("Migrate.migrateRange", "bytes_written", "bytes", "spark", "output_bytes"),
    ("Migrate.migrateRange", "skipped_frac", "ratio", "extra", "skipped_frac"),
    ("Reconcile.isClean", "input_bytes", "bytes", "spark", "input_bytes"),
    ("FileMigrate.copyTree", "bytes_copied", "bytes", "extra", "bytes_copied"),
    ("Compact.rewriteInPlacePartitioned", "files_in", "count", "extra", "files_in"),
    ("Compact.rewriteInPlacePartitioned", "files_out", "count", "extra", "files_out"),
    ("Compact.rewriteInPlacePartitioned", "bytes_rewritten", "bytes", "extra", "bytes_rewritten"),
    ("Snapshots.mergeByKey", "files_added", "count", "extra", "files_added"),
    ("Snapshots.mergeByKey", "files_removed", "count", "extra", "files_removed"),
    ("Snapshots.mergeByKey", "shuffle_bytes", "bytes", "spark", "shuffle_bytes"),
    ("Snapshots.mergeByKey", "rows_rewritten_per_delta_row", "ratio", "ratio",
     (("spark", "output_records"), ("extra", "delta_rows"))),
    ("Snapshots.readPoint", "files_scanned", "count", "extra", "files_scanned"),
    ("Snapshots.readWhere", "files_scanned_frac", "ratio", "extra", "files_scanned_frac"),
    ("Mv.refresh", "groups_touched", "count", "extra", "groups_touched"),
    ("Mv.refresh", "incremental_frac", "ratio", "extra", "incremental"),
    ("Mv.refresh", "files_added", "count", "extra", "files_added"),
    ("MvRoute.agg", "routed_frac", "ratio", "extra", "routed"),
    ("MvRoute.agg", "files_scanned", "count", "extra", "files_scanned"),
    ("DocStreams.upsertNearDup", "files_added", "count", "extra", "files_added"),
    ("DocStreams.upsertNearDup", "state_bytes", "bytes", "extra", "state_bytes"),
] + [
    (f"Snapshots.{op}", metric, "bytes", source, metric)
    for op in ("deleteWhere", "compact", "expire", "vacuum")
    for metric, source in (("shuffle_bytes", "spark"), ("bytes_reclaimed", "extra"))
]
SPARK = {"jobs": "count", "tasks": "count", "task_failures": "count",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s"}

PER_LAYER_UNITS = {}
for _call in CALLS:
    PER_LAYER_UNITS.update({f"{_call}.busy_s": "s", f"{_call}.calls": "count",
                            f"{_call}.jobs": "count", f"{_call}.tasks": "count",
                            f"{_call}.driver_gap_s": "s"})
PER_LAYER_UNITS.update({f"{c}.{m}": u for c, m, u, _, _ in SPECIFIC})
PER_LAYER_UNITS.update({f"spark.{k}": u for k, u in SPARK.items()})
PER_LAYER_UNITS["trace.overhead_frac"] = "ratio"


def _rate(rounds, calls, traced):
    rs = {r["round"] for r in rounds if bool(r["traced"]) == traced}
    busy = sum(c["dur_s"] for c in calls if c["round"] in rs)
    rows = sum(r["rows"] for r in rounds if r["round"] in rs)
    return rows / busy if busy > 0 else None


def per_layer(rec):
    """Per-layer metrics of a traced run record, as {name: value}. Counts
    come from the traced rounds of the deterministic prefix; a call the
    workload never makes reports zeros.
    """
    prefix = rec["prefix_rounds"]
    spark = {int(k): v for k, v in rec.get("call_spark", {}).items()}
    traced = [c for c in rec["calls"] if c["traced"] and c["round"] < prefix]

    def value(c, source, field):
        if source == "spark":
            return spark.get(c["id"], {}).get(field, 0.0)
        return c["extra"].get(field, 0.0)

    m = {}
    for name in CALLS:
        cs = [c for c in traced if c["name"] == name]
        m[f"{name}.busy_s"] = sum(c["dur_s"] for c in cs)
        m[f"{name}.calls"] = len(cs)
        for k in ("jobs", "tasks", "driver_gap_s"):
            m[f"{name}.{k}"] = sum(value(c, "spark", k) for c in cs)
    for name, metric, _, source, field in SPECIFIC:
        cs = [c for c in traced if c["name"] == name]
        if source == "ratio":
            (ns, nf), (ds, df) = field
            den = sum(value(c, ds, df) for c in cs)
            m[f"{name}.{metric}"] = sum(value(c, ns, nf) for c in cs) / den if den else 0.0
        else:
            m[f"{name}.{metric}"] = sum(value(c, source, field) for c in cs) / len(cs) if cs else 0.0
    for k in SPARK:
        m[f"spark.{k}"] = (sum(c["gc_s"] for c in traced) if k == "gc_s"
                           else sum(value(c, "spark", k) for c in traced))
    on = _rate(rec["rounds"], rec["calls"], True)
    off = _rate(rec["rounds"], rec["calls"], False)
    m["trace.overhead_frac"] = 1.0 - on / off if on and off else 0.0
    return m
