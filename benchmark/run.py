"""The repository benchmark: one workload, one seed, one result line.

    python3 benchmark/run.py --workload sync --seed 1 --seconds 30 --trace 0

Run from the repository root. Inputs are generated from the seed
(``gen.py``) in this process; each round then runs in its own process
(``measure.py``) on a fresh JVM, as every CLI invocation does, and
sees only the generated files. After the rounds, every output is
checked here against an independent DuckDB oracle (``oracle.py``).
Workloads (``workloads.py``; rationale in README.md):

* ``sync`` — raw JSON → store → invoices → verify → CSV → re-verify
  on a cold, empty store, then one daily drop of new and updated
  orders and that day's invoice run;
* ``analytics`` — a fixed sample of catalog queries, cold per query.

Rounds repeat until ``--seconds`` is spent, at least one; each
end-to-end metric is the median over the rounds. With ``--trace 1``
the run makes a traced round and then, if it can still end in time,
an untraced round of the same inputs; it reports the traced round's
per-layer metrics, and in the detail line the tracing overhead: the
difference of the two run times (null when the untraced round did not
fit).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it carries the settings,
every round with its breakdown, and the failures. Everything the run
writes stays under ``.bench_work/`` in the repository root; a traced
run leaves its per-layer JSON and span file in ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(WORK_ROOT, "results")

#: no round starts that would be expected to end later than this many
#: seconds after the process started (the last round's time is the
#: expectation)
DEADLINE_S = 120


def _pin_environment(work: str) -> dict[str, str]:
    """Settings every round uses, inherited by its process."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # well below physical RAM; session.py would default to 16g
        "SPARK_DRIVER_MEMORY": f"{min(2048, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in /tmp from the launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(env)
    return env


def _round(plan: dict, n: int, traced: bool, work: str, timeout: float) -> dict:
    """Run one round in a fresh process; returns its ``result.json``."""
    rdir = os.path.join(work, f"round{n}")
    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(rdir, "events"))
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(rdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, "plan.json"), "w") as f:
        json.dump(plan | {"dir": rdir, "trace": traced, "conf": conf}, f)
    subprocess.run([sys.executable, os.path.join(HERE, "measure.py"), rdir],
                   stdout=sys.stderr, check=True, timeout=timeout)
    with open(os.path.join(rdir, "result.json")) as f:
        res = json.load(f)
    lo, hi = res["window"]
    res |= {"round": n, "traced": traced, "dir": rdir, "conf": conf,
            "steal_share": res["steal_s"] / ((hi - lo) * len(os.sched_getaffinity(0)))}
    return res


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import spans as tr  # noqa: E402  (the package needs ROOT on sys.path)
    import workloads  # noqa: E402
    from measure import process_start  # noqa: E402

    t0 = process_start()
    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(workloads.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    settings = _pin_environment(work)
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, work)
        plan = {"workload": args.workload, **wl.generate()}
        gen_s = time.time() - t0

        rounds: list[dict] = []
        wall = 0.0

        def another(traced: bool) -> dict | None:
            """One more round, or None when it would not end in time."""
            nonlocal wall
            t = time.time()
            if rounds and t + wall > t0 + DEADLINE_S:
                return None
            try:
                res = _round(plan, len(rounds), traced, work, t0 + DEADLINE_S + 15 - t)
            except subprocess.TimeoutExpired:
                if not rounds:
                    raise
                return None
            wall = time.time() - t
            rounds.append(res)
            return res

        if args.trace:
            res = another(True)
            ref = another(False)  # the same work untraced, when there is time
        else:
            t_end = time.time() + args.seconds
            while another(False) is not None and time.time() < t_end:
                pass

        wl.oracles()
        for r in rounds:
            wl.check_round(r)
        detail = {
            "settings": settings | rounds[-1]["conf"], "workload": args.workload,
            "seed": args.seed,
            "gen_s": gen_s, "failures": wl.failures[:20],
            "rounds": [{k: r[k] for k in ("round", "traced", "setup_s", "run_s",
                                          "run_cpu_s", "peak_rss_mb", "steal_share",
                                          "steps")} | wl.details(r) for r in rounds],
        }
        if args.trace:
            metrics = wl.layer_metrics(
                res, tr.parse_event_log(os.path.join(res["dir"], "events")))
            metrics["trace.run_s"] = (res["run_s"], "s")
            detail["trace_overhead_s"] = res["run_s"] - ref["run_s"] if ref else None
            os.makedirs(RESULTS, exist_ok=True)
            tag = f"{args.workload}-seed{args.seed}"
            with open(os.path.join(RESULTS, f"{tag}-spans.json"), "w") as f:
                json.dump(res["spans"], f, indent=1)
            with open(os.path.join(RESULTS, f"{tag}-layers.json"), "w") as f:
                json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                          f, indent=1, sort_keys=True)
        else:
            def median(key: str) -> float:
                return statistics.median(r[key] for r in rounds)

            metrics = {
                "setup_s": (gen_s + median("setup_s"), "s"),
                "run_s": (median("run_s"), "s"),
                "run_cpu_s": (median("run_cpu_s"), "s"),
                "peak_rss_mb": (median("peak_rss_mb"), "MB"),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
