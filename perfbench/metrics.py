"""Metric schema and the statistics that turn one run's raw record (written
by perfbench.Main) into the printed result line."""
import statistics

# (name, unit, better) — printed for every workload with --trace 0
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
]

# printed for every workload with --trace 1; (name, unit, better)
PER_LAYER = [
    ("Tables.input_rows", "count", "lower"),
    ("ops.build_s", "s", "lower"),
    ("ops.build_jobs", "count", "lower"),
    ("ops.build_cpu_s", "s", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"),
    ("sched.tasks", "count", "lower"),
    ("sched.delay_s", "s", "lower"),
    ("sched.jobs_per_query", "count", "lower"),
    ("exec.run_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("shuffle.write_mb", "MB", "lower"),
    ("shuffle.read_mb", "MB", "lower"),
    ("mem.spill_mb", "MB", "lower"),
    ("mem.peak_exec_mb", "MB", "lower"),
    ("memo.frames", "count", "lower"),
    ("memo.storage_mb", "MB", "lower"),
    ("geo.albers_ns_per_point", "ns", "lower"),
    ("geo.compute_cpu_us_per_row", "us", "lower"),
    ("Sinks.write_s", "s", "lower"),
    ("Sinks.output_mb", "MB", "lower"),
    ("Sinks.files", "count", "lower"),
    ("Sinks.write_amp", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def spread(values):
    """Interquartile range as a share of the median (the steadiness rule)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _end_to_end(raw):
    timed = [p for p in raw["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in timed]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "pass_s": statistics.median(walls),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "rows_per_s": statistics.median(raw["rows"] / w for w in walls),
    }


def _per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k in traced[0]["layers"]}
    probes = [p["probe"] for p in traced if "probe" in p]
    if probes:
        med = lambda k: statistics.median(pr[k] for pr in probes)
        out["geo.compute_cpu_us_per_row"] = med("noop_cpu_s") / raw["rows"] * 1e6
        out["Sinks.write_s"] = statistics.median(
            pr["write_wall_s"] - pr["noop_wall_s"] for pr in probes)
        out["Sinks.output_mb"] = med("output_mb")
        out["Sinks.files"] = med("files")
        out["Sinks.write_amp"] = med("output_mb") / med("input_mb")
    else:  # no sink in this workload
        for k in ("geo.compute_cpu_us_per_row", "Sinks.write_s", "Sinks.output_mb",
                  "Sinks.files", "Sinks.write_amp"):
            out[k] = 0.0
    out["geo.albers_ns_per_point"] = raw["albers_ns_per_point"]
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in untraced))
    return out


def summarize(raw, trace):
    """The result object: correct/attempted/failed plus the metric set."""
    spec = PER_LAYER if trace else END_TO_END
    values = _per_layer(raw) if trace else _end_to_end(raw)
    missing = [n for n, _, _ in spec if n not in values]
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in spec},
    }
