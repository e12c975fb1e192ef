"""Summary statistics for benchmark samples.

``summarize`` gives the median, the quartiles, the highest percentile
that still has at least ten samples beyond it, and the sample count.
``overhead`` compares the traced and untraced medians of each
end-to-end metric.  Run as a script over saved result lines::

    python3 perfbench/stats.py results_untraced.jsonl [results_traced.jsonl]
"""

from __future__ import annotations

import json
import statistics
import sys

TAIL_SAMPLES = 10


def high_percentile(values: list[float]) -> tuple[int, float] | None:
    """(p, value) for the highest whole percentile p that leaves at least
    TAIL_SAMPLES samples above it, or None with too few samples."""
    n = len(values)
    if n <= TAIL_SAMPLES:
        return None
    ordered = sorted(values)
    # the value at rank k (0-based) has n - k - 1 samples above it
    k = n - TAIL_SAMPLES - 1
    p = int(100 * (k + 1) / n)
    return p, ordered[k]


def summarize(values: list[float]) -> dict:
    """median, q1, q3, spread ((q3 - q1) / median), tail percentile, n."""
    if not values:
        raise ValueError("no samples")
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    out = {"n": len(values), "median": med, "q1": q1, "q3": q3,
           "spread": (q3 - q1) / med if med else float("inf")}
    tail = high_percentile(values)
    if tail is not None:
        out[f"p{tail[0]}"] = tail[1]
    return out


def overhead(untraced: list[float], traced: list[float]) -> float:
    """Tracing overhead as a share of the untraced median."""
    base = statistics.median(untraced)
    return (statistics.median(traced) - base) / base


def _load(path: str) -> dict[str, list[float]]:
    series: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            for k, m in json.loads(line)["metrics"].items():
                series.setdefault(k, []).append(m["value"])
    return series


def main(argv: list[str]) -> int:
    untraced = _load(argv[0])
    traced = _load(argv[1]) if len(argv) > 1 else {}
    for name, values in sorted(untraced.items()):
        row = summarize(values)
        if f"traced.{name}" in traced:
            row["tracing_overhead"] = overhead(values,
                                               traced[f"traced.{name}"])
        print(name, json.dumps({k: round(v, 4) if isinstance(v, float)
                                else v for k, v in row.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
