"""Independent expected outputs, computed by DuckDB from the same
generated inputs the program reads.

* store state — ``gen.merge_sql`` applied batch by batch;
* invoices — the invoice SQL spec the catalog's q20 oracle renders,
  over that state for one day's window, shaped like the ``;``-CSV the
  generate step writes: gateways renamed, empty strings as nulls,
  money as doubles;
* verification — the q61 oracle's offender count per check, over the
  same invoices;
* catalog — each sampled query's oracle row count.
"""

from __future__ import annotations

import pandas as pd

from shopify_db_spark.plans import load_all
from shopify_db_spark.plans.commerce_checks import GATEWAY_MAP
from shopify_db_spark.plans.invoice_oracle import (
    TABLE_NAMES,
    render_invoice_cte_prefix,
    render_invoice_oracle,
)
from shopify_db_spark.schemas import INVOICE_CSV_COLUMNS

_INT = ("CUSTOMER NO", "ORDER LINE - COUNT", "ORDER LINE - VAT CODE", "INVOICE NO")
_MONEY = ("PAID AMOUNT", "ORDER LINE - UNIT PRICE", "ORDER LINE - DISCOUNT")
_DATE = ("INVOICE DATE", "DELIVERY DATE", "ORDER DATE", "DUE DATE")


def _csv_shape(invoice_sql: str) -> str:
    cols = []
    for c in INVOICE_CSV_COLUMNS:
        q = f'"{c}"'
        if c == "PAYMENT TYPE":
            renamed = " ".join(f"WHEN {q} = '{a}' THEN '{b}'" for a, b in GATEWAY_MAP.items())
            cols.append(f"NULLIF(CASE {renamed} ELSE {q} END, '') AS {q}")
        elif c in _MONEY:
            cols.append(f"CAST({q} AS DOUBLE) AS {q}")
        elif c in _INT or c in _DATE:
            cols.append(q)
        else:
            cols.append(f"NULLIF({q}, '') AS {q}")
    return f"SELECT {', '.join(cols)} FROM ({invoice_sql}) inv"


def _state(prefix: str) -> dict[str, str]:
    return {t: f"{prefix}{t}" for t in TABLE_NAMES}


def invoice_csv(con, day: str, start_id: int, prefix: str) -> pd.DataFrame:
    """Expected CSV content of the generate step for one day over the
    ``<prefix><table>`` state: the invoice spec q20's oracle renders,
    for that window."""
    return con.execute(_csv_shape(render_invoice_oracle(
        day, day, start_id, table_map=_state(prefix)))).df()


def verify_counts(con, day: str, start_id: int, prefix: str) -> dict[str, int]:
    """Expected offender count per verification check of that day's
    invoices: the q61 oracle with its invoice CTEs rendered for the
    window and state."""
    q61 = load_all()["q61_invoice_verify"].oracle
    checks = q61[q61.index(",\nnorm AS MATERIALIZED ("):]  # over invoice_base
    sql = render_invoice_cte_prefix(day, day, start_id, table_map=_state(prefix),
                                    cte_name="invoice_base") + checks
    return {name: int(n) for name, n, _ in con.execute(sql).fetchall()}


def query_rows(con, names: list[str]) -> dict[str, int]:
    specs = load_all()
    return {
        n: con.execute(f"SELECT COUNT(*) FROM ({specs[n].oracle}) q").fetchone()[0]
        for n in names
    }


def read_csv(path: str) -> pd.DataFrame:
    """The invoice CSV read with pandas (not Spark), typed like the
    oracle frame."""
    df = pd.read_csv(path, sep=";", dtype=str, keep_default_na=False, na_values=[""])
    for c in _INT:
        s = pd.to_numeric(df[c])
        df[c] = s if s.isna().any() else s.astype("int64")
    for c in _MONEY:
        df[c] = pd.to_numeric(df[c]).astype("float64")
    for c in _DATE:
        df[c] = pd.to_datetime(df[c])
    return df
