"""Behavioral tests for the round-5 retrieval/linkage tier on
constructed inputs with known ground truth (the gate proves oracle
parity; these pin the operator semantics directly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shopify_db_spark.operators.dedup import hash64_pairs, minhash_lsh_pairs
from shopify_db_spark.operators.similarity import bm25_topk, sparse_cosine_topk
from shopify_db_spark.plans import load_all
from tests.conftest import SF_SMOKE


def _terms(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, term string, tf long")


def test_sparse_cosine_identical_docs_rank_first(spark):
    rows = [
        (1, "a b c", 2), (1, "b c d", 1),
        (2, "a b c", 2), (2, "b c d", 1),        # identical profile to 1
        (3, "a b c", 1),                          # partial overlap
        (4, "x y z", 5),                          # disjoint
    ]
    out = sparse_cosine_topk(_terms(spark, rows), k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc[1][0]["neighbor_id"] == 2
    assert abs(by_doc[1][0]["cosine"] - 1.0) < 1e-12
    assert by_doc[2][0]["neighbor_id"] == 1
    assert 4 not in by_doc                        # no shared terms -> no rows


def _subtree(lines, i):
    """Indices of the plan-tree lines below line ``i`` (deeper
    indentation, up to the next line at or above its level)."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for j in range(i + 1, len(lines)):
        if depth(lines[j]) <= depth(lines[i]):
            break
        out.append(j)
    return out


def _assert_cap_below(df, cap, above):
    """The cap's Filter sits below every physical-plan node whose line
    matches ``above`` — the group is pruned before it is collected
    (or paired), never after."""
    import re

    lines = (
        df._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    caps = [
        i for i, line in enumerate(lines)
        if "Filter" in line and re.search(rf"<= {cap}\)", line)
    ]
    tops = [i for i, line in enumerate(lines) if re.search(above, line)]
    assert caps and tops, "\n".join(lines)
    for t in tops:
        assert set(caps) & set(_subtree(lines, t)), "\n".join(lines)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_sparse_cosine_df_cap_prunes_hot_terms(spark):
    # "hot" appears in all 4 docs; with df_cap=3 it must not
    # contribute, so docs sharing ONLY "hot" produce no pair.
    rows = [
        (1, "hot", 1), (1, "alpha", 1),
        (2, "hot", 1), (2, "alpha", 1),
        (3, "hot", 1), (3, "beta", 1),
        (4, "hot", 1), (4, "gamma", 1),
    ]
    capped = sparse_cosine_topk(_terms(spark, rows), k=2, df_cap=3)
    out = capped.collect()
    pairs = {(r["doc_id"], r["neighbor_id"]) for r in out}
    assert (1, 2) in pairs and (2, 1) in pairs
    assert all({a, b} == {1, 2} for a, b in pairs)
    # and the surviving pair's cosine reflects only the cold term
    top = [r for r in out if r["doc_id"] == 1][0]
    assert abs(top["cosine"] - 1.0) < 1e-12
    # the hot term changes nothing: same rows as without it (norms
    # are defined over the capped term space), though uncapped it
    # would pair every doc
    cold = [r for r in rows if r[1] != "hot"]
    assert _rows(capped) == _rows(
        sparse_cosine_topk(_terms(spark, cold), k=2, df_cap=3)
    )
    assert _rows(capped) != _rows(
        sparse_cosine_topk(_terms(spark, rows), k=2, df_cap=64)
    )
    _assert_cap_below(capped, 3, r"ObjectHashAggregate.*collect_list")

    # BM25: the hot term is replaced by one private term per doc, so
    # document lengths and corpus stats stay those of the hot corpus
    # while no candidate can come from it (self-matches excluded)
    qids = spark.createDataFrame([(1,), (3,)], "doc_id long")
    capped = bm25_topk(_terms(spark, rows), qids, k=2, df_cap=3)
    private = [
        (d, f"hot-{d}" if t == "hot" else t, tf) for d, t, tf in rows
    ]
    assert _rows(capped) == _rows(
        bm25_topk(_terms(spark, private), qids, k=2, df_cap=3)
    )
    assert _rows(capped) != _rows(
        bm25_topk(_terms(spark, rows), qids, k=2, df_cap=64)
    )
    _assert_cap_below(capped, 3, r"ObjectHashAggregate.*collect_list")

    # MinHash-LSH: four copies of one boilerplate text share every
    # band bucket; with max_bucket=3 those buckets are dropped whole
    cold_docs = [
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "the quick brown fox jumps over the lazy dog again and more"),
        (12, "a completely different sentence about spark shuffles here"),
    ]
    boiler = "terms of service apply see our privacy policy for details now"
    docs = cold_docs + [(i, boiler) for i in range(1, 5)]

    def mh(rows, cap):
        return minhash_lsh_pairs(
            spark.createDataFrame(rows, "doc_id long, text string"),
            max_bucket=cap,
        )

    capped = mh(docs, 3)
    assert _rows(capped) == _rows(mh(cold_docs, 3))
    assert _rows(capped) != _rows(mh(docs, 50))
    _assert_cap_below(capped, 3, r"ObjectHashAggregate.*collect_list")

    # hash64 pigeonhole blocks (max_hamming=4 → 5 blocks starting at
    # bits 0, 13, 26, 39, 52): doc 0 and docs 1..4 agree ONLY on
    # block 0 (value 0) — a 5-member bucket — and each doc i is 4
    # bits from doc 0, one flip in each of blocks 1..4
    hot = [(0, 0)] + [
        (i, sum(1 << (start + i) for start in (13, 26, 39, 52)))
        for i in range(1, 5)
    ]
    x = 0x0123456789ABCDEF
    cold = [(10, x), (11, x ^ 1), (12, x ^ (1 << 40)), (13, x ^ (1 << 40))]

    def h64(rows, cap):
        return hash64_pairs(
            spark.createDataFrame(rows, "doc_id long, simhash long"),
            max_hamming=4,
            max_bucket=cap,
        )

    capped = h64(cold + hot, 3)
    assert _rows(capped) == _rows(h64(cold, 3))
    assert _rows(capped) != _rows(h64(cold + hot, None))
    _assert_cap_below(capped, 3, r"Join .*block_idx")


def test_entity_resolution_finds_known_pair(spark):
    out = (
        load_all()["q77_entity_resolution"].fn(spark, SF_SMOKE).collect()
    )
    pairs = {(r["name_a"], r["name_b"]): r for r in out}
    assert all(r["edit_distance"] <= 3 for r in out)
    assert all(
        a.split(" ")[0] == b.split(" ")[0] for a, b in pairs
    )  # blocking respected
    if ("blue bolt", "blue rod") in pairs:
        assert pairs[("blue bolt", "blue rod")]["edit_distance"] == 3


def test_scd2_intervals_on_constructed_log(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 7, "free", 0.0, None),
        (2, "2024-01-02 00:00:00", 7, "free", 0.0, None),
        (3, "2024-01-03 00:00:00", 7, "pro", 0.0, None),
        (4, "2024-01-04 00:00:00", 7, "free", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    import shopify_db_spark.plans.eventops as EO
    from unittest import mock

    with mock.patch.object(EO, "load_table", lambda *a, **k: df):
        out = EO.q81_scd2_intervals(spark, "ignored")
    ivs = sorted(out.collect(), key=lambda r: r["run_no"])
    assert [r["state"] for r in ivs] == ["free", "pro", "free"]
    assert [r["n_events"] for r in ivs] == [2, 1, 1]
    assert ivs[0]["valid_to"] == ivs[1]["valid_from"]
    assert ivs[2]["valid_to"] is None


def test_weighted_sample_is_deterministic_and_capped(spark):
    q = load_all()["q80_weighted_sample"].fn
    a = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, q(spark, SF_SMOKE).collect()))
    assert a == b
    per_source = {}
    for src, _doc, _w, rank in a:
        per_source.setdefault(src, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_source.values())
    assert all(len(v) <= 5 for v in per_source.values())


def test_integer_pagerank_star_graph(spark):
    """On a star graph the hub must outrank every leaf, leaves must
    tie exactly (integer arithmetic — no float jitter), and two runs
    must be bit-identical."""
    from shopify_db_spark.operators.graph import integer_pagerank

    hub, leaves = 0, [1, 2, 3, 4]
    edges = [(hub, l) for l in leaves] + [(l, hub) for l in leaves]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r for r in integer_pagerank(df, iterations=3).collect()}
    leaf_prs = {out[l]["pr"] for l in leaves}
    assert len(leaf_prs) == 1                      # exact tie
    assert out[hub]["pr"] > leaf_prs.pop()
    assert out[hub]["degree"] == 4
    again = {r["node"]: r["pr"] for r in integer_pagerank(df, iterations=3).collect()}
    assert again == {n: r["pr"] for n, r in out.items()}


def test_snapshot_diff_emits_all_three_classes(spark):
    qs = load_all()
    rows = qs["q95_snapshot_diff"].fn(spark, SF_SMOKE).collect()
    kinds = {r["change_type"] for r in rows}
    assert kinds == {"added", "removed", "changed"}
    for r in rows:
        if r["change_type"] == "added":
            assert r["old_price"] is None and r["new_price"] is not None
        elif r["change_type"] == "removed":
            assert r["new_price"] is None and r["old_price"] is not None
        else:
            assert r["old_price"] is not None and r["new_price"] is not None


def test_scratch_pruning_spares_live_owner(tmp_path, monkeypatch):
    """ADVICE r7: stale-sibling pruning must not delete a directory
    whose owner process is still alive, even past the mtime window;
    ownerless stale dirs are still pruned (dead-app cleanup)."""
    import os
    import time

    from shopify_db_spark.plans import linkage as L

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    old = time.time() - L._SCRATCH_STALE_SECONDS - 60
    live = tmp_path / "spark_graft_orc_live"
    dead = tmp_path / "spark_graft_orc_dead"
    for d in (live, dead):
        d.mkdir()
        os.utime(d, (old, old))
    (tmp_path / "spark_graft_orc_live.owner").write_text(
        str(os.getpid())
    )

    class _Ctx:
        applicationId = "test-app"

    class _Spark:
        sparkContext = _Ctx()

    monkeypatch.setattr(L, "_SCRATCH_ROOTS", set())
    out = L._scratch_dir(_Spark(), "spark_graft_orc_", "/x/sf0.01")
    assert live.exists(), "live-owner dir was pruned"
    assert not dead.exists(), "ownerless stale dir survived"
    assert os.path.exists(out + ".owner")
