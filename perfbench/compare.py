"""Compare two sets of benchmark results.

    python3 perfbench/compare.py base.jsonl change.jsonl
    python3 perfbench/compare.py untraced.jsonl traced.jsonl

Each file holds the standard output of one or more runs of ``run.py``
(each run prints a ``{"run": ...}`` line, then its result line). For
every workload and metric it prints the median of each side and the
change relative to the base. Given the untraced and the traced runs of
the same code, the change in the ``{"run": ...}`` figures (``op_p50_ms``,
``cpu_ms_per_op``, ...) is the tracing overhead. Results measured on different core counts
or Spark versions are refused: they are not comparable.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> "tuple[dict, dict]":
    """-> ({workload: {metric: [values]}}, {field: {values}})."""
    runs: dict[str, dict[str, list[float]]] = {}
    hosts: dict[str, set] = {"cpus": set(), "spark": set()}
    info = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "run" in obj:
                info = obj["run"]
                for k in hosts:
                    hosts[k].add(info[k])
                per = runs.setdefault(info["workload"], {})
                for name, v in info.items():
                    if isinstance(v, (int, float)) and name not in (
                            "seed", "cpus", "trace"):
                        per.setdefault(name, []).append(v)
            elif "metrics" in obj and info is not None:
                per = runs.setdefault(info["workload"], {})
                for name, m in obj["metrics"].items():
                    per.setdefault(name, []).append(m["value"])
                info = None
    return runs, hosts


def main(argv: "list[str]") -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    (base, base_hosts), (change, change_hosts) = map(load, argv)
    for k in base_hosts:
        if base_hosts[k] != change_hosts[k] or len(base_hosts[k]) != 1:
            print(f"refusing to compare: {k} differs "
                  f"({sorted(base_hosts[k])} vs {sorted(change_hosts[k])})",
                  file=sys.stderr)
            return 1
    for w in sorted(set(base) & set(change)):
        for name in sorted(set(base[w]) & set(change[w])):
            b = statistics.median(base[w][name])
            c = statistics.median(change[w][name])
            rel = (c - b) / b if b else float("nan")
            print(f"{w:10s} {name:28s} {b:14.4f} {c:14.4f} {rel:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
