"""Run-to-run spread of the end-to-end metrics, and the shift between sets.

    python3 benchmark/spread.py SET_A.jsonl [SET_B.jsonl ...]

Each file holds the stdout of ``run.py`` runs, one workload, one seed
per run (``#`` detail lines are skipped). Prints JSON: per file and
metric, the median and the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median — the figure a metric's bound in ``BENCHMARK.json`` must
exceed — and, for each later file, the change of each median against
the first file's.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip() and not x.startswith("#")]


def summary(runs: list[dict]) -> dict:
    out: dict = {"runs": len(runs), "attempted": sum(r["attempted"] for r in runs),
                 "failed": sum(r["failed"] for r in runs)}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        out[name] = {"median": round(med, 4), "quartile_spread": round((q3 - q1) / med, 4)}
    return out


def main(paths: list[str]) -> int:
    sets = {os.path.basename(p).rsplit(".", 1)[0]: summary(load(p)) for p in paths}
    first = next(iter(sets.values()))
    shifts = {
        f"shift-{name}": {m: round(s[m]["median"] / first[m]["median"] - 1, 4)
                          for m in s if isinstance(s[m], dict)}
        for name, s in list(sets.items())[1:]
    }
    print(json.dumps(sets | shifts, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
