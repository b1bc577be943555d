"""Every metric the benchmark reports, with its unit and direction.

``BENCHMARK.json`` at the checkout root lists exactly these; the
benchmark's own tests compare the two.
"""

from __future__ import annotations

from perfbench.workloads import WORKLOADS

WHY = {
    "convert": "run_pipeline over a seeded WARC record table: records, "
               "quarantine, items, gather, redirects, metadata and the sinks do "
               "all the work; the crawl frontier is idle",
    "crawl": "run_crawl, exact seen set, 1600 seeds, 4 heavy waves over a zipf-hot "
             "host table: scheduling operators, link UDF, salted wave and hot-host "
             "skew; the convert layers are idle",
}

# The timed window of one invocation. One run of either workload takes
# longer (convert 40-67 s, crawl 20-32 s), so an invocation times exactly one
# run, the first of a fresh session; 22 invocations per workload and a few
# more then end within an hour.
RUN_SECONDS = 15

# (name, unit, better, bound): bound is the share of the parent's median by
# which the metric may worsen before a change counts as a regression.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("run_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("cpu_s", "core-s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("output_mb", "MB", "lower", 0.1),
)

LAYER_MEASURES = (
    ("self_s", "s", "lower"),
    ("rows_out", "count", "lower"),
    ("cpu_s", "core-s", "lower"),
    ("shuffle_mb", "MB", "lower"),
)

UDFS = tuple(p.udf_name for w in WORKLOADS.values() for p in w.probes)

EXTRA_LAYER_METRICS = (
    ("items.useful_ratio", "ratio", "higher"),
    ("crawl.funnel.unseen_ratio", "ratio", "higher"),
    ("crawl.funnel.allowed_ratio", "ratio", "higher"),
    ("crawl.funnel.polite_ratio", "ratio", "higher"),
    ("crawl.funnel.scheduled_ratio", "ratio", "higher"),
    ("politeness.hot_host_share", "ratio", "lower"),
    ("crawl.wave_s", "s", "lower"),
    ("crawl.residual_s", "s", "lower"),
    *((f"udfs.{u}.{m}", "core-s", "lower") for u in UDFS
      for m in ("pass_cpu_s", "kernel_cpu_s")),
    ("trace.coverage", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.valid", "bool", "higher"),
    ("trace.spill_mb", "MB", "lower"),
    ("session.jvm_start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.calibration_s", "s", "lower"),
)


def layers() -> tuple[str, ...]:
    return tuple(layer for w in WORKLOADS.values() for layer in w.layers)


def per_layer() -> tuple[tuple[str, str, str], ...]:
    return tuple(
        (f"{layer}.{m}", unit, better)
        for layer in layers() for m, unit, better in LAYER_MEASURES
    ) + EXTRA_LAYER_METRICS


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WHY[n]} for n in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in per_layer()],
    }


if __name__ == "__main__":
    import json

    print(json.dumps(benchmark_json(), indent=2))
