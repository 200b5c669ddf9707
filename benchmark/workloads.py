"""The two workloads as ``run.py`` drives them: the inputs made from
the seed, the checks of each round's outputs against independent
DuckDB oracles, and the per-layer counters of a traced round. The
timed calls themselves are in ``measure.py``, which runs each round
in its own process on a fresh JVM, as every CLI invocation runs.

Every output is checked; a mismatch is a failed operation.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen
import oracle
import spans as tr
from shopify_db_spark.plans import load_all
from shopify_db_spark.plans.commerce import START_ID
from shopify_db_spark.testing import compare_frames, duckdb_con

#: base orders (about four line items each); both workloads
ORDERS = 1000
#: orders touched by one incremental drop, half new and half updated: 1 %
BATCH_ORDERS = 10

#: one query per plan module, plus the queries the operator and
#: materialization work targets, within the time budget (q91, the
#: second tpch query and the one running operators/graph, and q118,
#: mediaops, did not fit)
ANALYTICS_SAMPLE = (
    "q01_pricing_summary",          # tpch
    "q26_minhash_lsh_pairs",        # textops, operators/dedup
    "q76_sparse_cosine_retrieval",  # textops, operators/similarity
    "q161_bm25_retrieval",          # textops, operators/similarity
    "q109_hybrid_rrf",              # vectorops
    "q136_split_leakage",           # curation
    "q157_robust_outliers",         # eventops
    "q96_fk_profile",               # linkage
)

PIPELINE_LAYERS = ("ingest", "store", "invoice", "verify", "csv")

#: the sync workload's per-layer metrics (zero on analytics, which
#: does no pipeline work)
PIPELINE_METRICS = {
    "pipeline.update_s": "s", "pipeline.batch_s": "s", "pipeline.batch_update_s": "s",
    "pipeline.batch_generate_s": "s", "pipeline.reverify_s": "s",
    "ingest.call_s": "s", "ingest.records": "count", "ingest.input_bytes": "bytes",
    "ingest.scan_cpu_s": "s",
    "store.upsert_s": "s", "store.upsert_calls": "count", "store.bytes_written": "bytes",
    "store.write_amp": "ratio", "store.files": "count",
    "store.bytes_per_input_byte": "ratio", "store.rows_read_per_row_written": "ratio",
    "store.shuffle_bytes": "bytes", "store.batch_bytes_written": "bytes",
    "store.batch_rows_read_per_row_written": "ratio",
    "invoice.plan_s": "s", "invoice.exec_s": "s", "invoice.stages": "count",
    "invoice.scans": "count", "invoice.shuffle_bytes": "bytes", "invoice.rows": "count",
    "verify.call_s": "s", "verify.jobs": "count",
    "csv.write_s": "s", "csv.bytes": "bytes", "csv.write_tasks": "count",
}


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += not n.startswith((".", "_"))
    return size, files


def _lines(json_dir: str) -> int:
    total = 0
    for name in os.listdir(json_dir):
        with open(os.path.join(json_dir, name)) as f:
            total += sum(1 for _ in f)
    return total


def _module(specs, q: str) -> str:
    return specs[q].fn.__wrapped__.__module__.rsplit(".", 1)[1]


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}"[:500])

    def generate(self) -> dict:
        """Write the inputs; returns what ``measure.py`` needs to find them."""
        raise NotImplementedError

    def oracles(self) -> None:
        """Expected outputs, computed once after the rounds have run."""

    def check_round(self, res: dict) -> None:
        raise NotImplementedError

    def details(self, res: dict) -> dict:
        """Workload figures for the detail line."""
        return {}

    # --- per-layer metrics of a traced round, from its event log --------------

    def layer_metrics(self, res: dict, log) -> dict[str, tuple[float, str]]:
        jobs, stages = log
        lo, hi = res["window"]
        timed = [j for j in jobs.values() if lo <= j.start <= hi]
        st = [stages[s] for s in {sid for j in timed for sid in j.stages} if s in stages]
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        spans = [tr.Span(**s) for s in res["spans"]]
        out = {
            "spark.jobs": (len(timed), "count"),
            "spark.stages": (len(st), "count"),
            "spark.tasks": (sum(s.tasks for s in st), "count"),
            "spark.executor_cpu_s": (sum(s.cpu_s for s in st), "s"),
            "spark.gc_s": (sum(s.gc_s for s in st), "s"),
            "spark.core_util": (sum(s.run_s for s in st) / (res["run_s"] * cores), "ratio"),
            "spark.shuffle_bytes": (sum(s.shuffle_w for s in st), "bytes"),
            "spark.spill_bytes": (sum(s.spill for s in st), "bytes"),
        }
        return (out | self.pipeline_layers(res, spans, timed, stages)
                | self.catalog_layers(spans, timed, stages))

    def pipeline_layers(self, res, spans, timed, stages) -> dict[str, tuple[float, str]]:
        return {name: (0, unit) for name, unit in PIPELINE_METRICS.items()}

    def catalog_layers(self, spans, timed, stages) -> dict[str, tuple[float, str]]:
        """Per sampled query: time, driver-only time (no job running),
        stages, shuffle, spill and peak execution memory; plus the
        time per plan module. Zero on sync, which runs no catalog
        query."""
        out: dict[str, tuple[float, str]] = {}
        specs = load_all()
        for q in ANALYTICS_SAMPLE:
            qid = q.split("_")[0]
            group = f"{self.name}.catalog.{q}"
            sp = [s for s in spans if s.name == group]
            mine = [j for j in timed if j.group == group]
            st = [stages[s] for s in {sid for j in mine for sid in j.stages} if s in stages]
            total = sum(x.s for x in sp)
            busy = sum(tr.clipped_union_s([(j.start, j.end) for j in mine], x.start, x.end)
                       for x in sp)
            out |= {
                f"query.{qid}.s": (total, "s"),
                f"query.{qid}.plan_s": (total - busy, "s"),
                f"query.{qid}.stages": (len(st), "count"),
                f"query.{qid}.shuffle_bytes": (sum(s.shuffle_w for s in st), "bytes"),
                f"query.{qid}.spill_bytes": (sum(s.spill for s in st), "bytes"),
                f"query.{qid}.peak_mem_bytes": (max((s.peak_mem for s in st), default=0),
                                                "bytes"),
            }
            mod = f"module.{_module(specs, q)}.s"
            out[mod] = (out.get(mod, (0.0,))[0] + total, "s")
        return out


class Sync(Workload):
    """The reference workflow as it first meets a shop and then runs
    day to day: ``shopify-update --json-dir`` of the full export into
    an empty store, the same for one daily drop, ``tripletex-generate``
    for the drop's day and ``tripletex-verify`` on that CSV."""

    name = "sync"

    def generate(self) -> dict:
        star = gen.star_tables(self.seed, ORDERS, corpus=False)
        self.con = con = gen.connect(star)
        self.base_rows = sum(gen.build_entities(con, "exp_").values())
        base_dir = os.path.join(self.work, "base")
        self.base_bytes = gen.write_jsonl(con, "exp_", base_dir)
        self.base_records = _lines(base_dir)
        self.batches = gen.Batches(con, self.seed, ORDERS, star["customer"].num_rows,
                                   star["part"].num_rows, BATCH_ORDERS)
        batch_dir = os.path.join(self.work, "batch1")
        self.b1_bytes, self.b1_rows = self.batches.make(1, batch_dir)
        self.b1_records = _lines(batch_dir)
        self.in_bytes = self.base_bytes + self.b1_bytes
        return {"base_dir": base_dir, "batch_dir": batch_dir, "day": self.batches.day(1)}

    def oracles(self) -> None:
        con, day = self.con, self.batches.day(1)
        self.batches.apply()
        self.expect_store = {t: con.execute(f"SELECT * FROM exp_{t}").df()
                             for t in gen.INGESTED}
        self.expect_csv = oracle.invoice_csv(con, day, START_ID, "exp_")
        self.expect_verify = oracle.verify_counts(con, day, START_ID, "exp_")

    def check_round(self, res: dict) -> None:
        """The store equals the latest-wins, frozen-column state, the
        day's CSV equals the invoice spec over it, and both verify
        reports equal q61's counts for those invoices."""
        out = res["out"]
        for t in gen.INGESTED:
            got = pq.read_table(os.path.join(out["store"], f"{t}.parquet")).to_pandas()
            problems = compare_frames(got, self.expect_store[t])
            self.check(f"store {t} vs merge oracle", not problems, "; ".join(problems[:3]))
        problems = compare_frames(oracle.read_csv(out["csv"]), self.expect_csv)
        self.check("invoice csv vs q20 spec", not problems, "; ".join(problems[:3]))
        for label, counts in out["verify"].items():
            self.check(f"{label} verify counts vs q61 oracle", counts == self.expect_verify,
                       f"{counts} != {self.expect_verify}")

    def details(self, res: dict) -> dict:
        return {"store_bytes_per_input_byte":
                _dir_bytes(res["out"]["store"])[0] / self.in_bytes,
                "invoice_rows": len(self.expect_csv)}

    def pipeline_layers(self, res, spans, timed, stages) -> dict[str, tuple[float, str]]:
        """Ingest, store, invoice, verify and csv counters of the round.

        Stages are charged to the layer of their job group, except: a
        JSON-scan stage inside an upsert is ingest (parse and
        normalize run there), and the stages that compute the frame a
        verify call caches belong to the layer that built it — invoice
        in ``generate``, csv in ``reverify``."""
        def spans_of(layer: str, prefix: str = "") -> list[tr.Span]:
            return [s for s in spans if s.layer == layer
                    and s.name.split(".", 2)[2].startswith(prefix)]

        by: dict[str, list[tr.Stage]] = {k: [] for k in PIPELINE_LAYERS}
        batch_store: list[tr.Stage] = []
        for g in sorted({j.group for j in timed if j.group}):
            _, layer, step = g.split(".", 2)
            if layer not in by:
                continue
            ids = {sid for j in timed if j.group == g for sid in j.stages if sid in stages}
            owned = tr.plan_owner(stages, g) if layer == "verify" else set()
            for sid in sorted(ids):
                s = stages[sid]
                if sid in owned:
                    by["csv" if step.startswith("reverify") else "invoice"].append(s)
                elif layer == "store" and "Scan json" in s.scans:
                    by["ingest"].append(s)
                else:
                    by[layer].append(s)
        for sp in spans_of("ingest", "b1"):
            for j in timed:
                if j.group and ".store." in j.group and sp.start <= j.start <= sp.end:
                    batch_store += [stages[sid] for sid in j.stages if sid in stages
                                    and "Scan json" not in stages[sid].scans]
        steps = res["steps"]
        store_size = _dir_bytes(res["out"]["store"])
        store_w = sum(s.out_bytes for s in by["store"])
        inv = by["invoice"]

        def rows_read(st):
            return sum(s.in_rows for s in st if s.scans)

        return {
            "pipeline.update_s": (steps["full.update_s"], "s"),
            "pipeline.batch_s": (steps["b1.update_s"] + steps["b1.generate_s"], "s"),
            "pipeline.batch_update_s": (steps["b1.update_s"], "s"),
            "pipeline.batch_generate_s": (steps["b1.generate_s"], "s"),
            "pipeline.reverify_s": (steps["b1.reverify_s"], "s"),
            "ingest.call_s": (sum(s.s for s in spans_of("ingest")), "s"),
            "ingest.records": (self.base_records + self.b1_records, "count"),
            "ingest.input_bytes": (self.in_bytes, "bytes"),
            "ingest.scan_cpu_s": (sum(s.cpu_s for s in by["ingest"]), "s"),
            "store.upsert_s": (sum(s.s for s in spans_of("store")), "s"),
            "store.upsert_calls": (len(spans_of("store")), "count"),
            "store.bytes_written": (store_w, "bytes"),
            "store.write_amp": (store_w / self.in_bytes, "ratio"),
            "store.files": (store_size[1], "count"),
            "store.bytes_per_input_byte": (store_size[0] / self.in_bytes, "ratio"),
            "store.rows_read_per_row_written": (
                rows_read(by["store"]) / (self.base_rows + self.b1_rows), "ratio"),
            "store.shuffle_bytes": (sum(s.shuffle_w for s in by["store"]), "bytes"),
            "store.batch_bytes_written": (sum(s.out_bytes for s in batch_store), "bytes"),
            "store.batch_rows_read_per_row_written": (
                rows_read(batch_store) / self.b1_rows, "ratio"),
            "invoice.plan_s": (sum(s.s for s in spans_of("invoice")), "s"),
            "invoice.exec_s": (tr.union_s([(s.submit, s.done) for s in inv]), "s"),
            "invoice.stages": (len(inv), "count"),
            "invoice.scans": (sum(len(s.scans) for s in inv), "count"),
            "invoice.shuffle_bytes": (sum(s.shuffle_w for s in inv), "bytes"),
            "invoice.rows": (len(oracle.read_csv(res["out"]["csv"])), "count"),
            "verify.call_s": (sum(s.s for s in spans_of("verify")), "s"),
            "verify.jobs": (sum(1 for j in timed if j.group and ".verify." in j.group),
                            "count"),
            "csv.write_s": (sum(s.s for s in spans_of("csv", "write")), "s"),
            "csv.bytes": (os.path.getsize(res["out"]["csv"]), "bytes"),
            "csv.write_tasks": (max(s.tasks for s in by["csv"] if s.out_bytes), "count"),
        }


class Analytics(Workload):
    """The catalog sample, each query cold: artifacts evicted and the
    cache cleared before it, a noop write to force execution, and the
    row count observed on the same execution."""

    name = "analytics"

    def generate(self) -> dict:
        self.sf_dir = os.path.join(self.work, "sf")
        gen.write_parquet(gen.star_tables(self.seed, ORDERS), self.sf_dir)
        return {"sf_dir": self.sf_dir, "queries": list(ANALYTICS_SAMPLE)}

    def oracles(self) -> None:
        with duckdb_con(self.sf_dir) as con:
            self.expect_rows = oracle.query_rows(con, list(ANALYTICS_SAMPLE))

    def check_round(self, res: dict) -> None:
        for q, want in self.expect_rows.items():
            got = res["out"]["rows"].get(q)
            self.check(f"{q} rows vs oracle", got == want, f"{got} != {want}")


WORKLOADS = {w.name: w for w in (Sync, Analytics)}
