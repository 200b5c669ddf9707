"""Diff the metrics of two benchmark results.

    python3 benchmark/diff.py OLD NEW [--all]

OLD and NEW are either a traced run's per-layer file
(``.bench_work/results/<workload>-seed<n>-layers.json``) or a saved
stdout of ``run.py`` (its last line is read). Prints one row per
metric whose value differs — old, new, new minus old and new / old —
or every metric with ``--all``. Counts repeat exactly between runs of
one commit, so any count that moves is a real change in the work
done; times move with the machine as well.
"""

from __future__ import annotations

import argparse
import json


def load(path: str) -> dict[str, dict]:
    with open(path) as f:
        text = f.read().strip()
    try:
        data = json.loads(text)
    except json.JSONDecodeError:
        data = json.loads(text.splitlines()[-1])
    return data.get("metrics", data)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("--all", action="store_true", help="list unchanged metrics too")
    args = p.parse_args(argv)
    old, new = load(args.old), load(args.new)
    print(f"{'metric':40s} {'unit':6s} {'old':>14s} {'new':>14s} {'delta':>14s} {'ratio':>7s}")
    for name in sorted(old.keys() | new.keys()):
        a = old.get(name, {}).get("value")
        b = new.get(name, {}).get("value")
        if a == b and not args.all:
            continue
        unit = (new.get(name) or old.get(name))["unit"]
        delta = b - a if a is not None and b is not None else None
        ratio = b / a if a and b is not None else None
        fmt = lambda v, w=14: f"{v:{w}.4g}" if v is not None else " " * (w - 1) + "-"  # noqa: E731
        print(f"{name:40s} {unit:6s} {fmt(a)} {fmt(b)} {fmt(delta)} {fmt(ratio, 7)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
