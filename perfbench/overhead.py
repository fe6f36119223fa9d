"""Tracing overhead: traced minus untraced end-to-end metrics.

Both runs print a report line with the end-to-end metrics. Save the
standard output of a ``--trace 1`` run and of a ``--trace 0`` run with the
same workload and seed, then::

    python3 perfbench/overhead.py traced.out untraced.out
"""

from __future__ import annotations

import json
import sys


def report(path: str) -> dict:
    with open(path) as f:
        lines = [line for line in f if line.startswith('{"report"')]
    if not lines:
        raise SystemExit(f"{path}: no report line")
    return json.loads(lines[-1])["report"]


def main(traced_path: str, untraced_path: str) -> int:
    traced, untraced = report(traced_path), report(untraced_path)
    if not traced["validity"]["traced"] or untraced["validity"]["traced"]:
        raise SystemExit("pass the traced run first and the untraced run second")
    for name, m in untraced["metrics"].items():
        t, u = traced["metrics"][name]["value"], m["value"]
        share = (t - u) / u if u else float("nan")
        print(f"{name:20s} traced {t:12.4f} untraced {u:12.4f} "
              f"overhead {t - u:+12.4f} {m['unit']} ({share:+.1%})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
