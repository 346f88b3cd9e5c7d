"""Oracle answers and the gate that compares program output with them.

Every answer here comes from a path independent of the Spark engine
under test: the catalog's DuckDB SQL twins, or plain Python over the
generated files (union-find components over the SQL pair sets, the
planted graph's own labels). Answers are computed once per (workload, seed) outside
every timed window and cached next to the inputs as
``oracle.<key>.json``, where the key hashes the oracle SQL and this
module (``oracle_key``): a change to either recomputes the answers.

The gate compares row multisets after a canonical projection: columns
sorted by name, floats rounded to 9 significant digits (aggregation
order differs between engines), everything else by value. A changed,
dropped or duplicated row is a mismatch.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sqlite3
from collections import Counter
from decimal import Decimal

import duckdb

CORPUS_QUERIES = ["semantic_dedup_survivors"]
FRESHKART_ORACLES = ["freshkart_orders_clean", "freshkart_daily_city_sales", "freshkart_rejects"]

# ---------------------------------------------------------------------------
# Canonical rows and the gate
# ---------------------------------------------------------------------------


def _canon_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.9g}") + 0.0
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    return str(v)


def canonical(columns: list[str], rows) -> dict:
    """``{"columns": sorted names, "rows": [sorted canonical tuples]}``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_canon_value(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps(r))
    return {"columns": [columns[i] for i in order], "rows": out}


def compare(expected: dict, got: dict) -> str | None:
    """None when ``got`` equals ``expected`` as a row multiset, else a
    one-line reason."""
    if expected["columns"] != got["columns"]:
        return f"columns {got['columns']} != {expected['columns']}"
    want = Counter(json.dumps(r) for r in expected["rows"])
    have = Counter(json.dumps(r) for r in got["rows"])
    if want == have:
        return None
    missing = sum((want - have).values())
    extra = sum((have - want).values())
    return (f"{len(got['rows'])} rows vs {len(expected['rows'])} expected: "
            f"{missing} missing, {extra} unexpected")


# ---------------------------------------------------------------------------
# Independent reference algorithms
# ---------------------------------------------------------------------------

def components(pairs) -> dict[int, int]:
    """node -> min node id of its component, for every node in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def survivors(ids, labels: dict[int, int], id_col: str) -> dict:
    """One row per unclustered id plus the min-id rep of each cluster,
    with its cluster size (the *_dedup_survivors contract)."""
    sizes = Counter(labels.values())
    rows = [(i, sizes.get(i, 1)) for i in ids if labels.get(i, i) == i]
    return canonical([id_col, "cluster_size"], rows)


# ---------------------------------------------------------------------------
# Oracle answers per workload
# ---------------------------------------------------------------------------


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    return con


def _duck(inputs: str, tables) -> duckdb.DuckDBPyConnection:
    con = _connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


def _sql_rows(con, sql: str) -> dict:
    cur = con.execute(sql)
    return canonical([d[0] for d in cur.description], cur.fetchall())


def minhash_labels(con, source: str) -> dict[int, int]:
    """Component labels of the catalog's MinHash-LSH pair set over
    ``source`` (DuckDB replays signatures, bands and the bucket join)."""
    from esther_apache_spark_spark.plans.extensions import minhash_pairs_cte_body

    pairs = con.execute(
        f"WITH {minhash_pairs_cte_body(source)} SELECT id_a, id_b FROM mh_pairs"
    ).fetchall()
    return components(pairs)


def corpus_oracle(inputs: str) -> dict:
    from esther_apache_spark_spark.plans.extensions import SRP_PAIRS_CTE_BODY

    con = _duck(inputs, ["documents", "embeddings"])
    vec_ids = [r[0] for r in con.execute("SELECT vec_id FROM embeddings").fetchall()]
    srp = con.execute(f"WITH {SRP_PAIRS_CTE_BODY} SELECT id_a, id_b FROM srp_pairs").fetchall()
    with open(f"{inputs}/edges_truth.json") as f:
        truth = {int(k): v for k, v in json.load(f).items()}
    return {
        "semantic_dedup_survivors": survivors(vec_ids, components(srp), "vec_id"),
        "connected_components": canonical(["node", "comp"], sorted(truth.items())),
    }


def freshkart_sql(query: str, fk_dir: str) -> str:
    """A FreshKart catalog oracle re-pointed at another input directory."""
    from esther_apache_spark_spark.freshkart.fixture import FIXTURE_DIR
    from esther_apache_spark_spark.plans import QUERIES

    return QUERIES[query].oracle.replace(FIXTURE_DIR, fk_dir)


def nightly_oracle(inputs: str) -> dict:
    fk = f"{inputs}/freshkart"
    con = _connect()
    con.execute(
        f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{inputs}/history_docs.parquet') "
        f"UNION ALL SELECT * FROM read_parquet('{inputs}/batch_docs.parquet')"
    )
    ids = [r[0] for r in con.execute("SELECT doc_id FROM corpus").fetchall()]
    labels = minhash_labels(con, "corpus")
    return {
        "orders_clean": _sql_rows(con, freshkart_sql("freshkart_orders_clean", fk)),
        "daily_city_sales": _sql_rows(con, freshkart_sql("freshkart_daily_city_sales", fk)),
        "rejects": _sql_rows(con, freshkart_sql("freshkart_rejects", fk)),
        "labels": canonical(["node", "comp"], [(i, labels.get(i, i)) for i in ids]),
    }


ORACLES = {
    "corpus_dedup": corpus_oracle,
    "nightly": nightly_oracle,
}


def oracle_key() -> str:
    """Hash of what the answers are computed from besides the inputs:
    the catalog's oracle SQL (SRP pairs, MinHash pairs with their
    permutations, the FreshKart replays) and this module."""
    from esther_apache_spark_spark.plans import QUERIES
    from esther_apache_spark_spark.plans.extensions import (
        SRP_PAIRS_CTE_BODY,
        minhash_pairs_cte_body,
    )

    h = hashlib.sha256()
    for text in (SRP_PAIRS_CTE_BODY, minhash_pairs_cte_body("corpus"),
                 *(QUERIES[q].oracle for q in FRESHKART_ORACLES)):
        h.update(text.encode() + b"\0")
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def ensure_oracle(workload: str, inputs: str) -> dict:
    """The cached oracle answers for the inputs in ``inputs``."""
    path = os.path.join(inputs, f"oracle.{oracle_key()}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    answers = ORACLES[workload](inputs)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.replace(tmp, path)
    # Round-trip through JSON so fresh and cached answers compare alike.
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Readers for the nightly pass's file outputs (no Spark involved)
# ---------------------------------------------------------------------------


def sqlite_rows(db_path: str, table: str, columns: list[str]) -> dict:
    with sqlite3.connect(db_path) as conn:
        rows = conn.execute(f"SELECT {', '.join(columns)} FROM {table}").fetchall()
    return canonical(columns, rows)


def parquet_rows(path: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.realpath(path))
    return canonical(t.column_names, list(zip(*[c.to_pylist() for c in t.columns])))
