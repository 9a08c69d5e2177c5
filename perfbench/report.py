"""Metric lines and the result line.

Metric names and units come from ``BENCHMARK.json``. Every workload
reports every metric of its mode: a per-layer metric of a layer the
workload does not reach reads 0, and a metric the file does not list is
an error.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import dataclass, field

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


END_TO_END = _metric_units("end_to_end")
PER_LAYER = _metric_units("per_layer")


def latency_notes(what: str, lat_ms: list[float]) -> list[str]:
    """The median and, when the sample supports one, the highest
    percentile with ten samples beyond it, with the sample count."""
    notes = [f"{what}: latency p50 {stats.median(lat_ms):.1f} ms of {len(lat_ms)}"]
    p = stats.highest_supported(len(lat_ms))
    if p is not None and p > 50:
        notes.append(f"{what}: latency p{p:g} {stats.percentile(lat_ms, p):.1f} ms of {len(lat_ms)}")
    return notes


@dataclass
class Result:
    e2e: dict[str, float]
    layer: dict[str, float]
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)


def render(result: Result, args, work: str) -> dict:
    """Print the metric lines (stdout) and notes (stderr); return the
    final JSON object. The untraced end-to-end figures are kept per
    workload and seed so that a traced run of the same seed can state its
    overhead against them."""
    for note in result.notes + [f"error: {e}" for e in result.errors]:
        print(note, file=sys.stderr)
    record = os.path.join(work, f"e2e_{args.workload}_seed{args.seed}.json")
    if args.trace:
        names = PER_LAYER
        values = dict(result.layer)
        traced = values["trace.latency_mean_ms"] = result.e2e["latency_mean_ms"]
        if os.path.exists(record):
            with open(record) as f:
                base = json.load(f)["latency_mean_ms"]
            print(
                f"trace overhead: latency_mean_ms {traced:.1f} traced vs {base:.1f} untraced "
                f"({100 * (traced / base - 1):+.1f}%)",
                file=sys.stderr,
            )
    else:
        names = END_TO_END
        values = result.e2e
        with open(record, "w") as f:
            json.dump(values, f)
    unknown = set(values) - set(names)
    if unknown:
        raise ValueError(f"metrics missing from the benchmark's list: {sorted(unknown)}")
    metrics = {}
    for name, unit in names.items():
        value = float(values.get(name, 0.0))
        metrics[name] = {"value": value, "unit": unit}
        print(f"{name} {value:.6g} {unit}", flush=True)
    return {
        "correct": not result.errors,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }
