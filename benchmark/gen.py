"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``, in one
thread (DuckDB runs with ``threads=1``):

* :func:`star_tables` — the star-schema source tables the catalog
  reads (same names, columns and types as the testdata in TESTDATA.md:
  region nation customer supplier part orders lineitem events
  documents embeddings), at a chosen order count;
* :func:`build_entities` — the ten commerce tables in store schema,
  derived from the star tables through the catalog's own mapping
  layer (``plans.commerce.MAPPING_CTES``) plus the store columns the
  mapping leaves out;
* :func:`write_jsonl` — raw Shopify JSON lines for the five ingest
  entities (customers, products with variants, orders with nested
  line items / shipping lines / tax lines / discount allocations,
  transactions, refunds with refund line items);
* :class:`Batches` — the incremental drops: new orders on successive
  days after 2001-08-01 plus seeded updates of existing orders,
  customers and line items, and new refunds.

The entity rows double as the oracle's expected store contents, so
the raw JSON must encode them exactly: every money value is a
two-decimal string, every timestamp an ISO-8601 string with offset.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from shopify_db_spark.plans.commerce import MAPPING_CTES
from shopify_db_spark.schemas import (
    COMMERCE_TABLES,
    UPSERT_FROZEN_COLS,
    UPSERT_KEYS,
)

#: the commerce tables the JSON ingest writes (``discounts`` and the
#: legacy ``product`` table have no JSON source)
INGESTED = (
    "customers",
    "products",
    "product_variants",
    "orders",
    "line_item_products",
    "shipping",
    "transactions",
    "refunds",
    "line_item_product_refunds",
)

EPOCH = dt.datetime(1995, 1, 1)
#: last order date of the base data; batch b holds orders of day b+1 after it
BASE_END = dt.datetime(2001, 8, 1)

_WORDS = (
    "a the data query table row column key join merge sort hash scan "
    "filter group agg window stream batch spark order line part customer "
    "value fast slow big small index cache store write read plan stage"
).split()
_ADJ = "small red blue old new hot cold big".split()
_NOUN = "bolt gear ring rod plate widget anvil nut".split()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def star_tables(seed: int, n_orders: int, first_key: int = 0,
                date0: dt.datetime = EPOCH, days: int | None = None,
                n_cust: int | None = None, n_part: int | None = None,
                corpus: bool = True) -> dict[str, pa.Table]:
    """Star-schema tables. ``first_key``/``date0``/``days`` place a
    batch of new orders after the base data; ``corpus=False`` skips
    the tables only the catalog reads."""
    r = _rng(seed, first_key)
    n_cust = n_cust or max(50, n_orders // 10)
    n_part = n_part or max(100, n_orders * 2 // 15)
    n_supp = max(10, n_orders // 150)
    days = (BASE_END - EPOCH).days if days is None else days
    out: dict[str, pa.Table] = {}

    okey = np.arange(first_key, first_key + n_orders, dtype=np.int64)
    odate = np.datetime64(date0, "us") + (
        r.integers(0, days + 1, n_orders) * 86_400_000_000
    ).astype("timedelta64[us]")
    n_lines = r.integers(1, 8, n_orders)
    li_order = np.repeat(okey, n_lines)
    li_date = np.repeat(odate, n_lines)
    li_num = (np.arange(len(li_order)) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1)
    n_li = len(li_order)
    ext = np.round(r.uniform(900, 105_000, n_li), 2)
    out["orders"] = pa.table({
        "o_orderkey": okey,
        "o_custkey": r.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(r.uniform(1_000, 500_000, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": r.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_orders,
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": li_num.astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": ext,
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": r.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": li_date
        + (r.integers(1, 121, n_li) * 86_400_000_000).astype("timedelta64[us]"),
    })
    if first_key:
        return out

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
            n_cust,
        ),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(
            np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]), n_part
        ),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    if not corpus:
        return out

    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    n_ev = max(1000, n_orders * 2 // 3)
    ev_ts = np.sort(
        np.datetime64(dt.datetime(2024, 1, 1), "us")
        + r.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": r.integers(0, max(15, n_orders // 100), n_ev).astype(np.int64),
        "event_type": r.choice(
            np.array(["view", "click", "purchase", "signup", "error"]), n_ev
        ),
        "value": np.round(np.clip(r.exponential(40, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(r, 500)
    out["embeddings"] = _embeddings(r, 500)
    return out


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; one in ten is a near-copy of an earlier
    one (a few words replaced) so the dedup operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and r.random() < 0.1:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 15)):
                words[j] = _WORDS[int(r.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in r.integers(0, len(_WORDS), int(r.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": r.choice(np.array(["en", "de", "fr", "es", "zh"]), n),
        "source": [f"src{k}" for k in r.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(r: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Random unit vectors with random labels 0-9, as in the testdata."""
    label = r.integers(0, 10, n).astype(np.int32)
    vec = r.normal(0, 1, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def connect(tables: dict[str, pa.Table] | None = None) -> duckdb.DuckDBPyConnection:
    """A one-thread DuckDB connection with ``tables`` as named views."""
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name, t in (tables or {}).items():
        con.register(name, t)
    return con


# --- commerce entities in store schema ---------------------------------------

_ISO = "strftime({c}, '%Y-%m-%dT%H:%M:%S') || '+00:00'"

#: store-schema SELECTs over the mapping CTEs; every column the mapping
#: defines is taken from it unchanged, the rest are derived from keys
_ENTITY_SQL = {
    "customers": """
SELECT c_custkey AS id, 'c' || c_custkey || '@example.com' AS email,
       c_name AS name, NULL::VARCHAR AS first_name, NULL::VARCHAR AS last_name,
       NULL::VARCHAR AS phone, 'Street ' || (c_custkey % 100) AS address,
       'Oslo' AS city, CAST(1000 + c_custkey % 9000 AS VARCHAR) AS zip,
       'NO' AS country, CAST(c_acctbal AS DECIMAL(18,2)) AS total_spent,
       c_custkey % 2 = 0 AS verified_email, 'note ' || c_custkey AS note,
       c_custkey % 3 = 0 AS accepts_marketing,
       TIMESTAMP '1994-06-01 00:00:00' AS created_at,
       TIMESTAMP '1994-06-01 00:00:00' AS updated_at
FROM customer""",
    "orders": """
SELECT o.id, o.customer_id, o.name,
       CASE WHEN o.status_src = 'F' THEN 'fulfilled' END AS fulfillment_status,
       CASE o.status_src WHEN 'F' THEN 'paid' WHEN 'O' THEN 'pending'
            ELSE 'partially_paid' END AS financial_status,
       o.total_price,
       COALESCE(l.lines, 0)::DECIMAL(18,2) AS total_line_items_price,
       COALESCE(l.disc, 0)::DECIMAL(18,2) AS total_discounts_amount,
       0::DECIMAL(18,2) AS total_tax_amount, TRUE AS taxes_included,
       'NOK' AS currency, o.created_at, NULL::TIMESTAMP AS closed_at,
       o.processed_at
FROM commerce_orders o
LEFT JOIN (SELECT order_id, SUM(total_price) AS lines,
                  SUM(total_discount_amount) AS disc
           FROM map_line_item_products GROUP BY order_id) l ON l.order_id = o.id""",
    "line_item_products": """
SELECT m.id, m.order_id, li.l_partkey AS product_id, m.title, m.sku,
       m.unit_price, m.total_price, m.total_discount_amount, m.quantity,
       NULL::VARCHAR AS vendor, m.variant_title,
       CASE WHEN li.l_linenumber % 2 = 0
            THEN CAST(li.l_suppkey % 100 AS DECIMAL(18,2)) ELSE 0 END::DECIMAL(18,2)
           AS tax_amount,
       CASE WHEN li.l_linenumber % 2 = 0 THEN 0.25 ELSE 0 END::DECIMAL(8,4) AS tax_rate,
       CASE WHEN li.l_linenumber % 2 = 0 THEN 'VAT' END AS tax_title,
       li.l_linenumber % 2 = 0 AS taxable, 'NOK' AS currency
FROM map_line_item_products m
JOIN lineitem li ON m.id = li.l_orderkey * 10 + li.l_linenumber""",
    "shipping": """
SELECT id, order_id, 'standard' AS code, price, discounted_price,
       'NOK' AS currency, title, 'shopify' AS source, NULL::VARCHAR AS phone,
       'Street ' || (order_id % 100) AS address, 'Oslo' AS city,
       CAST(1000 + order_id % 9000 AS VARCHAR) AS zip, 'NO' AS country,
       CAST((order_id % 180) - 90 + 0.25 AS DECIMAL(9,6)) AS latitude,
       CAST((order_id % 360) - 180 + 0.25 AS DECIMAL(9,6)) AS longitude
FROM map_shipping""",
    "transactions": """
SELECT id, order_id, status, amount, 'NOK' AS currency,
       CASE WHEN status = 'failure' THEN 'card_declined' END AS error_code,
       gateway, kind, processed_at AS created_at, processed_at
FROM map_transactions""",
    "refunds": """
SELECT r.id, r.order_id, r.transaction_id, r.note,
       CAST((SELECT COUNT(*) FROM map_line_item_product_refunds x
             WHERE x.refund_id = r.id) AS INT) AS refunded_product_cnt,
       r.created_at, r.processed_at
FROM map_refunds r""",
    "line_item_product_refunds": """
SELECT id, refund_id, line_item_product_id, quantity, 'NOK' AS currency,
       refund_amount
FROM map_line_item_product_refunds""",
    "products": """
SELECT p_partkey AS id, p_name AS title, 'active' AS status,
       p_type AS product_type, TIMESTAMP '1994-01-01 00:00:00' AS created_at,
       TIMESTAMP '1994-01-01 00:00:00' AS updated_at, p_brand AS vendor
FROM part""",
    "product_variants": """
SELECT p_partkey * 10 + v AS id, p_partkey AS product_id,
       (CAST(p_retailprice AS DECIMAL(18,2)) + 10 * (v - 1))::DECIMAL(18,2) AS price,
       CASE v WHEN 1 THEN 'Default' ELSE 'Large' END AS title,
       'SKU-' || p_partkey || '-' || v AS sku,
       CASE v WHEN 1 THEN 'Default' ELSE 'Large' END AS option1,
       NULL::VARCHAR AS option2, NULL::VARCHAR AS option3,
       TIMESTAMP '1994-01-01 00:00:00' AS created_at,
       TIMESTAMP '1994-01-01 00:00:00' AS updated_at
FROM part, (SELECT UNNEST([1, 2]) AS v)""",
}


def _cast_select(table: str) -> str:
    """Column list casting to the store schema's exact types."""
    ddl = {"bigint": "BIGINT", "int": "INT", "string": "VARCHAR",
           "boolean": "BOOLEAN", "timestamp": "TIMESTAMP"}
    cols = []
    for f in COMMERCE_TABLES[table].fields:
        t = f.dataType.simpleString()
        cols.append(f"CAST({f.name} AS {ddl.get(t, t.upper())}) AS {f.name}")
    return ", ".join(cols)


def build_entities(con: duckdb.DuckDBPyConnection, prefix: str,
                   tables: tuple[str, ...] = INGESTED) -> dict[str, int]:
    """Create ``<prefix><table>`` for each commerce table from the
    star views on ``con``; returns row counts."""
    counts = {}
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE TABLE {prefix}{t} AS "
            f"WITH {MAPPING_CTES.strip()} SELECT {_cast_select(t)} "
            f"FROM ({_ENTITY_SQL[t].strip()}) ORDER BY ALL"
        )
        counts[t] = con.execute(f"SELECT COUNT(*) FROM {prefix}{t}").fetchone()[0]
    return counts


# --- raw Shopify JSON ---------------------------------------------------------

def _money(c: str) -> str:
    return f"CAST({c} AS VARCHAR)"


_TAX = "STRUCT(price VARCHAR, rate DOUBLE, title VARCHAR)"

_JSON_SQL = {
    "customers": f"""
SELECT id, email, first_name, last_name, phone,
       {{'name': name, 'address1': address, 'city': city, 'zip': zip,
        'country': country, 'phone': NULL::VARCHAR, 'latitude': NULL::DOUBLE,
        'longitude': NULL::DOUBLE}} AS default_address,
       note, {_money('total_spent')} AS total_spent, verified_email,
       accepts_marketing, {_ISO.format(c='created_at')} AS created_at,
       {_ISO.format(c='updated_at')} AS updated_at
FROM {{p}}customers ORDER BY id""",
    "products": f"""
SELECT p.id, p.title, p.status, p.product_type, p.vendor,
       {_ISO.format(c='p.created_at')} AS created_at,
       {_ISO.format(c='p.updated_at')} AS updated_at,
       (SELECT LIST({{'id': v.id, 'product_id': v.product_id,
                     'price': {_money('v.price')}, 'title': v.title, 'sku': v.sku,
                     'option1': v.option1, 'option2': v.option2,
                     'option3': v.option3,
                     'created_at': {_ISO.format(c='v.created_at')},
                     'updated_at': {_ISO.format(c='v.updated_at')}}} ORDER BY v.id)
        FROM {{p}}product_variants v WHERE v.product_id = p.id) AS variants
FROM {{p}}products p ORDER BY p.id""",
    "orders": f"""
SELECT o.id, o.name, {{'id': o.customer_id}} AS customer,
       {{'name': NULL::VARCHAR, 'address1': 'Street ' || (o.id % 100),
        'city': 'Oslo', 'zip': CAST(1000 + o.id % 9000 AS VARCHAR),
        'country': 'NO', 'phone': NULL::VARCHAR,
        'latitude': CAST((o.id % 180) - 90 + 0.25 AS DOUBLE),
        'longitude': CAST((o.id % 360) - 180 + 0.25 AS DOUBLE)}} AS billing_address,
       COALESCE((SELECT LIST({{
            'id': l.id, 'product_id': l.product_id, 'title': l.title,
            'sku': l.sku, 'price': {_money('l.unit_price')},
            'quantity': l.quantity, 'vendor': l.vendor,
            'variant_title': l.variant_title, 'taxable': l.taxable,
            'tax_lines': CASE WHEN l.taxable
                THEN [{{'price': {_money('l.tax_amount')},
                        'rate': CAST(l.tax_rate AS DOUBLE), 'title': l.tax_title}}]
                ELSE CAST([] AS {_TAX}[]) END,
            'price_set': {{'presentment_money': {{
                'amount': {_money('l.unit_price')}, 'currency_code': l.currency}}}},
            'discount_allocations': [{{'amount': {_money('l.total_discount_amount')}}}]
        }} ORDER BY l.id) FROM {{p}}line_item_products l WHERE l.order_id = o.id), [])
           AS line_items,
       COALESCE((SELECT LIST({{
            'id': s.id, 'code': s.code, 'price': {_money('s.price')},
            'discounted_price': {_money('s.discounted_price')}, 'title': s.title,
            'source': s.source, 'phone': s.phone,
            'tax_lines': CAST([] AS {_TAX}[]),
            'price_set': {{'presentment_money': {{
                'amount': {_money('s.price')}, 'currency_code': s.currency}}}}
        }} ORDER BY s.id) FROM {{p}}shipping s WHERE s.order_id = o.id), [])
           AS shipping_lines,
       {_money('o.total_price')} AS total_price,
       {_money('o.total_line_items_price')} AS total_line_items_price,
       {_money('o.total_discounts_amount')} AS total_discounts,
       {_money('o.total_tax_amount')} AS total_tax,
       o.taxes_included, o.currency, o.financial_status, o.fulfillment_status,
       {_ISO.format(c='o.created_at')} AS created_at,
       {_ISO.format(c='o.processed_at')} AS processed_at,
       {_ISO.format(c='o.closed_at')} AS closed_at
FROM {{p}}orders o ORDER BY o.id""",
    "transactions": f"""
SELECT id, order_id, status, {_money('amount')} AS amount, currency, error_code,
       gateway, kind, {_ISO.format(c='created_at')} AS created_at,
       {_ISO.format(c='processed_at')} AS processed_at
FROM {{p}}transactions ORDER BY id""",
    "refunds": f"""
SELECT r.id, r.order_id, r.note, {_ISO.format(c='r.created_at')} AS created_at,
       {_ISO.format(c='r.processed_at')} AS processed_at,
       [{{'id': r.transaction_id}}] AS transactions,
       COALESCE((SELECT LIST({{
            'id': x.id, 'quantity': x.quantity,
            'subtotal': {_money('x.refund_amount')},
            'line_item': {{'id': x.line_item_product_id}},
            'subtotal_set': {{'shop_money': {{'currency_code': x.currency}}}}
        }} ORDER BY x.id) FROM {{p}}line_item_product_refunds x
        WHERE x.refund_id = r.id), []) AS refund_line_items
FROM {{p}}refunds r ORDER BY r.id""",
}


def write_jsonl(con: duckdb.DuckDBPyConnection, prefix: str, out_dir: str) -> int:
    """Write ``<entity>.jsonl`` for every entity with rows under
    ``prefix``; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for entity, sql in _JSON_SQL.items():
        if not con.execute(f"SELECT COUNT(*) FROM {prefix}{entity}").fetchone()[0]:
            continue
        path = os.path.join(out_dir, f"{entity}.jsonl")
        query = sql.replace("{p}", prefix).strip()
        con.execute(f"COPY ({query}) TO '{path}' (FORMAT JSON)")
        total += os.path.getsize(path)
    return total


# --- expected store state -----------------------------------------------------

def merge_sql(table: str, old: str, new: str) -> str:
    """Latest-wins merge of ``new`` into ``old`` with the store's
    frozen columns keeping the old value on update (q62's rule),
    written out independently of ``operators.upsert``."""
    keys = UPSERT_KEYS[table]
    frozen = set(UPSERT_FROZEN_COLS.get(table, ()))
    on = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    hit = f"n.{keys[0]} IS NOT NULL"
    had = f"o.{keys[0]} IS NOT NULL"
    cols = []
    for f in COMMERCE_TABLES[table].fields:
        c = f.name
        if c in keys:
            cols.append(f"COALESCE(n.{c}, o.{c}) AS {c}")
        elif c in frozen:
            cols.append(f"CASE WHEN {had} THEN o.{c} ELSE n.{c} END AS {c}")
        else:
            cols.append(f"CASE WHEN {hit} THEN n.{c} ELSE o.{c} END AS {c}")
    return f"SELECT {', '.join(cols)} FROM {old} o FULL OUTER JOIN {new} n ON {on}"


# --- incremental drops --------------------------------------------------------

class Batches:
    """The incremental workload's drops over a base generated with
    the same seed. Batch ``b`` (0-based) holds ``new`` new orders
    dated ``BASE_END + b + 1`` days and ``upd`` seeded updates of
    existing orders: fulfillment and (frozen) financial status, a
    unit-price change and a (frozen) tax-title change on one line,
    a name change of the order's customer, and a refund with its
    refund transaction on every fourth updated order. ``exp_*``
    tables on ``con`` hold the expected store state and advance with
    :meth:`apply`."""

    def __init__(self, con: duckdb.DuckDBPyConnection, seed: int, n_orders: int,
                 n_cust: int, n_part: int, per_batch: int):
        self.con, self.seed = con, seed
        self.n_orders, self.n_cust, self.n_part = n_orders, n_cust, n_part
        self.new = max(1, per_batch // 2)
        self.upd = max(1, per_batch - self.new)

    def day(self, b: int) -> str:
        return (BASE_END + dt.timedelta(days=b + 1)).date().isoformat()

    def make(self, b: int, out_dir: str) -> tuple[int, int]:
        """Write batch ``b``'s JSON lines to ``out_dir`` and stage its
        entity rows as ``bat_*``; returns (input bytes, entity rows)."""
        con = self.con
        first = self.n_orders + b * self.new
        star = star_tables(self.seed, self.new, first_key=first,
                           date0=BASE_END + dt.timedelta(days=b + 1), days=0,
                           n_cust=self.n_cust, n_part=self.n_part)
        con.register("orders", star["orders"])
        con.register("lineitem", star["lineitem"])
        build_entities(con, "new_", ("orders", "line_item_products", "shipping",
                                     "transactions", "refunds",
                                     "line_item_product_refunds"))
        r = _rng(self.seed, 1_000_000 + b)
        ids = np.unique(r.integers(0, self.n_orders, self.upd)).astype(np.int64)
        con.register("upd_ids", pa.table({"id": ids}))
        k = 4 + b % 6  # refund transaction slot: mapping ids use id*10 + 0..3
        tag = f"'-b{b}'"
        con.execute(f"""
CREATE OR REPLACE TABLE bat_orders AS
SELECT * FROM new_orders UNION ALL
SELECT * REPLACE ('fulfilled' AS fulfillment_status,
                  'refunded' AS financial_status)
FROM exp_orders WHERE id IN (SELECT id FROM upd_ids);
CREATE OR REPLACE TABLE bat_line_item_products AS
SELECT * FROM new_line_item_products UNION ALL
SELECT * REPLACE (
    CASE WHEN id % 10 = 1 THEN unit_price + 1 ELSE unit_price END::DECIMAL(18,2) AS unit_price,
    CASE WHEN id % 10 = 1 THEN (unit_price + 1) * quantity ELSE total_price END::DECIMAL(18,2)
        AS total_price,
    CASE WHEN id % 10 = 1 AND taxable THEN 'VAT' || {tag} ELSE tax_title END AS tax_title)
FROM exp_line_item_products WHERE order_id IN (SELECT id FROM upd_ids);
CREATE OR REPLACE TABLE bat_shipping AS
SELECT * FROM new_shipping UNION ALL
SELECT * FROM exp_shipping WHERE order_id IN (SELECT id FROM upd_ids);
CREATE OR REPLACE TABLE bat_customers AS
SELECT * REPLACE (name || {tag} AS name, 'note' || {tag} AS note) FROM exp_customers
WHERE id IN (SELECT customer_id FROM exp_orders WHERE id IN (SELECT id FROM upd_ids));
CREATE OR REPLACE TABLE bat_refunds AS
SELECT * FROM new_refunds UNION ALL
SELECT id * 100 + {k} AS id, id AS order_id, id * 10 + {k} AS transaction_id,
       'batch refund' || {tag} AS note, 1 AS refunded_product_cnt,
       (TIMESTAMP '{self.day(b)}') AS created_at, (TIMESTAMP '{self.day(b)}') AS processed_at
FROM upd_ids WHERE id % 4 = 0;
CREATE OR REPLACE TABLE bat_line_item_product_refunds AS
SELECT * FROM new_line_item_product_refunds UNION ALL
SELECT (l.order_id * 100 + {k}) * 10 + 1 AS id, l.order_id * 100 + {k} AS refund_id,
       l.id AS line_item_product_id, 1 AS quantity, 'NOK' AS currency,
       l.unit_price AS refund_amount
FROM exp_line_item_products l
WHERE l.order_id IN (SELECT id FROM upd_ids WHERE id % 4 = 0) AND l.id % 10 = 1;
CREATE OR REPLACE TABLE bat_transactions AS
SELECT * FROM new_transactions UNION ALL
SELECT o.id * 10 + {k} AS id, o.id AS order_id, 'success' AS status,
       o.total_price AS amount, 'NOK' AS currency, NULL AS error_code,
       'stripe' AS gateway, 'refund' AS kind,
       (TIMESTAMP '{self.day(b)}') AS created_at, (TIMESTAMP '{self.day(b)}') AS processed_at
FROM exp_orders o WHERE o.id IN (SELECT id FROM upd_ids WHERE id % 4 = 0);
""")
        for t in ("products", "product_variants"):
            con.execute(f"CREATE OR REPLACE TABLE bat_{t} AS SELECT * FROM exp_{t} LIMIT 0")
        rows = sum(
            con.execute(f"SELECT COUNT(*) FROM bat_{t}").fetchone()[0] for t in INGESTED
        )
        return write_jsonl(con, "bat_", out_dir), rows

    def apply(self) -> None:
        """Advance ``exp_*`` by the staged batch."""
        for t in INGESTED:
            self.con.execute(
                f"CREATE OR REPLACE TABLE exp_{t} AS {merge_sql(t, f'exp_{t}', f'bat_{t}')}"
            )
