"""One timed round of a workload, on a fresh JVM.

    python3 benchmark/measure.py ROUND_DIR

``run.py`` starts this once per round, after it has written the
round's inputs and ``ROUND_DIR/plan.json``. It starts the Spark
session, calls the package's public functions in the workload's order
— each step starts when the previous call returns — and writes
``ROUND_DIR/result.json``: set-up seconds since this process started,
the wall and CPU seconds of every timed call, hypervisor steal over
the round, the peak RSS of the JVM and this process, the spans, and
what the checks need. The outputs stay in ``ROUND_DIR``; ``run.py``
checks them after this process has exited, so only the program's own
work runs here.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import spans as tr  # noqa: E402
from shopify_db_spark.ingest_jobs import ingest_from_json_dir  # noqa: E402
from shopify_db_spark.plans import load_all  # noqa: E402
from shopify_db_spark.plans.artifacts import evict_session  # noqa: E402
from shopify_db_spark.plans.commerce import START_ID  # noqa: E402
from shopify_db_spark.plans.commerce_checks import GATEWAY_MAP, KNOWN_GATEWAYS  # noqa: E402
from shopify_db_spark.plans.invoice import build_invoices  # noqa: E402
from shopify_db_spark.plans.verify_invoices import (  # noqa: E402
    replace_invoice_gateway,
    verify_invoices,
)
from shopify_db_spark.session import get_spark  # noqa: E402
from shopify_db_spark.sources.csv_io import read_invoice_csv, write_invoice_csv  # noqa: E402
from shopify_db_spark.sources.store import CommerceStore  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")


def process_start() -> float:
    """Wall-clock time this process started (kernel clock, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / TICK


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of process ``pid`` and its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / TICK


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """CPU time the hypervisor took from this machine, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK


class Round:
    """The session, the tracer and the clock of one round."""

    def __init__(self, spark, tracer: tr.Tracer, jvm_pid: int, plan: dict):
        self.spark, self.tracer, self.plan = spark, tracer, plan
        self.pids = (jvm_pid, os.getpid())
        self.steps: dict[str, float] = {}
        self.cpu = 0.0
        self.out: dict = {}

    @contextlib.contextmanager
    def timed(self, step: str):
        """Wall and CPU seconds of one step of the round."""
        t, c = time.time(), sum(cpu_s(p) for p in self.pids)
        yield
        self.steps[step] = time.time() - t
        self.cpu += sum(cpu_s(p) for p in self.pids) - c

    def clean_session(self) -> None:
        """Between steps: drop session artifacts and cached frames."""
        evict_session(self.spark)
        self.spark.catalog.clearCache()
        gc.collect()


class TracedStore(CommerceStore):
    """The store with a span around each ``upsert``."""

    def __init__(self, spark, base_dir, tracer: tr.Tracer):
        super().__init__(spark, base_dir)
        self.tracer = tracer

    def upsert(self, table, updates):
        with self.tracer.span("store", f"upsert.{table}"):
            super().upsert(table, updates)


# --- sync: bulk load, then one daily drop and its CLI commands --------------

def sync_round(r: Round) -> None:
    """``shopify-update --json-dir`` of the full export into an empty
    store and of one daily drop into it, then ``tripletex-generate``
    for the drop's day (with the gateway rename and allowlist) and
    ``tripletex-verify`` on the CSV it wrote."""
    spark, tracer, plan = r.spark, r.tracer, r.plan
    path = os.path.join(plan["dir"], "store")
    store = (TracedStore(spark, path, tracer) if tracer.enabled
             else CommerceStore(spark, path))
    with r.timed("full.update_s"), tracer.span("ingest", "full"):
        ingest_from_json_dir(spark, store, plan["base_dir"])
    with r.timed("b1.update_s"), tracer.span("ingest", "b1"):
        ingest_from_json_dir(spark, store, plan["batch_dir"])
    day, out = plan["day"], os.path.join(plan["dir"], "invoices-b1.csv")
    with r.timed("b1.generate_s"):
        with tracer.span("invoice", "build.b1"):
            invoices = build_invoices(store.read_all(), day, day, START_ID)
            invoices = replace_invoice_gateway(invoices, GATEWAY_MAP).cache()
        with tracer.span("verify", "generate.b1"):
            rep1 = verify_invoices(invoices, gateways=KNOWN_GATEWAYS)
        with tracer.span("csv", "write.b1"):
            write_invoice_csv(invoices, out)
    invoices.unpersist()
    r.clean_session()
    with r.timed("b1.reverify_s"):
        with tracer.span("csv", "read.b1"):
            df = read_invoice_csv(spark, out)
        with tracer.span("verify", "reverify.b1"):
            rep2 = verify_invoices(df, gateways=KNOWN_GATEWAYS)
    r.clean_session()
    r.out = {"store": path, "csv": out,
             "verify": {label: {c.name: c.n_offenders for c in rep.checks}
                        for label, rep in (("generate", rep1), ("reverify", rep2))}}


# --- analytics: the catalog sample, each query cold ---------------------------

def analytics_round(r: Round) -> None:
    """Artifacts evicted and the cache cleared before each query, a
    noop write to force execution, and the row count observed on the
    same execution."""
    specs = load_all()
    rows = {}
    for q in r.plan["queries"]:
        r.clean_session()
        obs = Observation(f"rows_{q}")
        with r.timed(q), r.tracer.span("catalog", q):
            df = specs[q].fn(r.spark, r.plan["sf_dir"])
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
        rows[q] = obs.get["n"]
    r.clean_session()
    r.out = {"rows": rows}


ROUNDS = {"sync": sync_round, "analytics": analytics_round}


def main(round_dir: str) -> int:
    t0 = process_start()
    with open(os.path.join(round_dir, "plan.json")) as f:
        plan = json.load(f)
    spark = get_spark(app_name=f"bench_{plan['workload']}", extra_conf=plan["conf"])
    jvm = SparkContext._gateway.proc
    try:
        r = Round(spark, tr.Tracer(spark, plan["workload"], plan["trace"]), jvm.pid, plan)
        setup_s = time.time() - t0
        w0, st0 = time.time(), steal_s()
        ROUNDS[plan["workload"]](r)
        w1, st1 = time.time(), steal_s()
        peak = rss_mb(jvm.pid) + rss_mb(os.getpid())
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits at end of input
        jvm.wait(timeout=60)
    result = {"setup_s": setup_s, "window": [w0, w1], "steps": r.steps,
              "run_s": sum(r.steps.values()), "run_cpu_s": r.cpu,
              "steal_s": st1 - st0, "peak_rss_mb": peak, "out": r.out,
              "spans": [vars(s) for s in r.tracer.spans]}
    with open(os.path.join(round_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
