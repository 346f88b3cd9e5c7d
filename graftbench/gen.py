"""Seeded input generators for the benchmark's workloads.

Everything the program under test reads is made here from ``--seed``:
the same seed and ``GEN_VERSION`` give byte-identical files. Documents
and embeddings keep the schema of the repository's test data
(``schemas.TESTDATA``), the FreshKart batch the layout of the package's
fixture, at sizes chosen so a whole benchmark run fits its time budget
(see README.md).

Inputs are cached under ``<cache>/<GEN_VERSION>/<workload>/seed<N>/``
together with the oracle answers computed from them (``oracle.py``), so
a repeated seed pays neither generation nor oracle time again.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump whenever any generator below changes its output for a given seed:
# cached inputs and oracle answers are keyed by it.
GEN_VERSION = "g2"

# Input sizes per workload. Changing them changes what the benchmark
# measures: bump GEN_VERSION and re-prove steadiness (README.md).
SIZES = {
    "corpus_dedup": {"docs": 800, "vecs": 300, "stars": 20, "star_size": 8,
                     "chains": 3, "chain_len": 120},
    "nightly": {"days": 3, "orders_per_day": 250, "customers": 800,
                "history_docs": 300, "batch_docs": 100},
}

_LANGS = ["en", "de", "es", "fr", "zh"]
_CITIES = ["Nice", "Marseille", "Paris", "Lille", "Lyon", "Toulouse", "Bordeaux", "Nantes"]
_CHANNELS = ["web", "store", "app"]
_IS_ACTIVE = ["1", "true", "yes", "y", "t", "TRUE", " True ",
              "0", "false", "no", "", "n", "False"]
_REASONS = ["delay", "item_issue", "gesture", "coupon"]


# ---------------------------------------------------------------------------
# Documents and embeddings with planted near-duplicates (corpus_dedup)
# ---------------------------------------------------------------------------

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gi"]


def _vocab(n: int) -> list[str]:
    out = []
    for i in range(n):
        w, k = "", i + 1
        while k:
            k, r = divmod(k, len(_SYLLABLES))
            w += _SYLLABLES[r]
        out.append(w)
    return out


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents: ~70% fresh text, the rest near-duplicates of an
    earlier document (a few words substituted, sometimes a variant of a
    variant, so clusters form chains) or byte-identical clones."""
    vocab = _vocab(600)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    docs: list[list[str]] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.22:
            src = list(docs[int(rng.integers(0, i))])
            for _ in range(max(1, len(src) // 25)):
                src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, len(vocab)))]
            docs.append(src)
        elif i >= 10 and r < 0.28:
            docs.append(list(docs[int(rng.integers(0, i))]))
        else:
            k = int(rng.integers(8, 90))
            docs.append([vocab[j] for j in rng.choice(len(vocab), size=k, p=weights)])
    return [" ".join(d) for d in docs]


def documents_table(texts: list[str], start_id: int, rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(start_id, start_id + n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def corpus_tables(rng: np.random.Generator, n_docs: int, n_vecs: int):
    documents = documents_table(_texts(rng, n_docs), 0, rng)
    dim = 64
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = np.empty((n_vecs, dim))
    for i in range(n_vecs):
        r = rng.random()
        if i >= 10 and r < 0.2:  # semantic near-duplicate of an earlier vector
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.35, size=dim)
        elif i >= 10 and r < 0.24:  # byte-identical clone
            vecs[i] = vecs[int(rng.integers(0, i))]
        else:
            vecs[i] = 0.25 * centers[labels[i]] + rng.normal(size=dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = (vecs * 0.2).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return documents, embeddings


def planted_graph(rng: np.random.Generator, stars: int, star_size: int,
                  chains: int, chain_len: int) -> tuple[np.ndarray, np.ndarray, dict[int, int]]:
    """Edge arrays (src, dst) of stars plus long paths under randomly
    permuted node ids, and the planted component label (min id) of every
    node. Paths visit ids in random order, so the minimum must travel
    across the whole path and connected components needs many rounds."""
    n = stars * star_size + chains * chain_len
    ids = rng.permutation(np.arange(10_000, 10_000 + 3 * n, dtype=np.int64))[:n]
    src, dst, truth = [], [], {}
    pos = 0
    for _ in range(stars):
        members = ids[pos:pos + star_size]
        pos += star_size
        src.extend([members[0]] * (star_size - 1))
        dst.extend(members[1:])
        m = int(members.min())
        truth.update({int(x): m for x in members})
    for _ in range(chains):
        members = ids[pos:pos + chain_len]
        pos += chain_len
        src.extend(members[:-1])
        dst.extend(members[1:])
        m = int(members.min())
        truth.update({int(x): m for x in members})
    order = rng.permutation(len(src))
    return np.array(src)[order], np.array(dst)[order], truth


# ---------------------------------------------------------------------------
# FreshKart multi-day batch (nightly)
# ---------------------------------------------------------------------------


def _quarter(rng: np.random.Generator, lo: float, hi: float) -> float:
    """A price that is an exact multiple of 0.25, so sums are exact in
    binary floating point and engines agree bit for bit."""
    return int(rng.integers(int(lo * 4), int(hi * 4) + 1)) / 4.0


def freshkart_batch(rng: np.random.Generator, out: str, days: int,
                    orders_per_day: int, n_customers: int) -> None:
    """FreshKart inputs in the reference layout (pretty-printed
    ``orders_YYYY-MM-DD.json``, ``customers.csv`` with dirty
    ``is_active``, ``refunds.csv`` with negative and uncastable
    amounts), with every dirty-data case the cleaning paths handle."""
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/customers.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["customer_id", "first_name", "last_name", "email", "city", "is_active"])
        for i in range(1, n_customers + 1):
            active = (_IS_ACTIVE[int(rng.integers(0, len(_IS_ACTIVE)))]
                      if rng.random() < 0.45 else ("true" if rng.random() < 0.8 else "false"))
            w.writerow([f"C{i:04d}", f"User{i}", f"Test{i}", f"user{i}@example.com",
                        _CITIES[int(rng.integers(0, len(_CITIES)))], active])
    start = date(2025, 3, 1)
    paid: list[str] = []
    for d in range(days):
        day = start + timedelta(days=d)
        rows = []
        for seq in range(1, orders_per_day + 1):
            oid = f"O{day.strftime('%Y%m%d')}{seq:04d}"
            cust = (f"C{int(rng.integers(900, 999)):04d}XX" if rng.random() < 0.02
                    else f"C{int(rng.integers(1, n_customers + 1)):04d}")
            ts = (f"{day.isoformat()} {int(rng.integers(0, 24)):02d}:"
                  f"{int(rng.integers(0, 60)):02d}:{int(rng.integers(0, 60)):02d}")
            status = ("paid" if rng.random() < 0.85
                      else ["pending", "failed", "refused"][int(rng.integers(0, 3))])
            items = [{
                "sku": f"SKU{int(rng.integers(1, 501)):04d}",
                "qty": int(rng.integers(1, 6)),
                "unit_price": (-_quarter(rng, 0.25, 60.0) if rng.random() < 0.025
                               else _quarter(rng, 0.25, 120.0)),
            } for _ in range(int(rng.integers(1, 5)))]
            row = {"order_id": oid, "customer_id": cust,
                   "channel": _CHANNELS[int(rng.integers(0, 3))],
                   "created_at": day.isoformat() if rng.random() < 0.10 else ts,
                   "payment_status": status, "items": items}
            rows.append(row)
            if status == "paid":
                paid.append(oid)
            if rng.random() < 0.05:  # duplicated order row, sometimes a created_at tie
                dup = dict(row)
                if rng.random() < 0.3:
                    dup["items"] = [{"sku": "SKU0001", "qty": 9, "unit_price": 0.25}]
                else:
                    dup["created_at"] = f"{day.isoformat()} 23:59:59"
                    dup["items"] = items[:1]
                rows.append(dup)
        with open(f"{out}/orders_{day.isoformat()}.json", "w") as f:
            json.dump(rows, f, indent=2)
    with open(f"{out}/refunds.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["refund_id", "order_id", "amount", "reason", "created_at"])
        seq = 1
        for oid in paid:
            if rng.random() >= 0.30:
                continue
            for _ in range(1 if rng.random() < 0.8 else 2):
                amount = (["N/A", "err", "??"][int(rng.integers(0, 3))] if rng.random() < 0.02
                          else f"{-_quarter(rng, 0.25, 80.0):.2f}")
                w.writerow([f"R{seq:06d}", oid, amount, _REASONS[int(rng.integers(0, 4))],
                            f"2025-04-{int(rng.integers(1, 29)):02d} 12:00:00"])
                seq += 1


# ---------------------------------------------------------------------------
# Cache layout
# ---------------------------------------------------------------------------


def input_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(cache_root, GEN_VERSION, workload, f"seed{seed}")


def generate(workload: str, seed: int, out: str) -> None:
    """Write every input file of ``workload`` for ``seed`` into ``out``."""
    # One stream per workload and seed; the workload name keeps seeds of
    # different workloads independent.
    rng = np.random.default_rng([seed, sum(workload.encode())])
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    if workload == "corpus_dedup":
        docs, emb = corpus_tables(rng, size["docs"], size["vecs"])
        # four row groups per file, so scans split across the local cores
        pq.write_table(docs, f"{out}/documents.parquet", row_group_size=size["docs"] // 4)
        pq.write_table(emb, f"{out}/embeddings.parquet", row_group_size=size["vecs"] // 4)
        src, dst, truth = planted_graph(rng, size["stars"], size["star_size"],
                                        size["chains"], size["chain_len"])
        pq.write_table(pa.table({"src": src, "dst": dst}), f"{out}/edges.parquet")
        with open(f"{out}/edges_truth.json", "w") as f:
            json.dump(truth, f)
    elif workload == "nightly":
        freshkart_batch(rng, f"{out}/freshkart", size["days"],
                        size["orders_per_day"], size["customers"])
        texts = _texts(rng, size["history_docs"] + size["batch_docs"])
        hist = documents_table(texts[:size["history_docs"]], 0, rng)
        batch = documents_table(texts[size["history_docs"]:], size["history_docs"], rng)
        pq.write_table(hist.select(["doc_id", "text"]), f"{out}/history_docs.parquet")
        pq.write_table(batch.select(["doc_id", "text"]), f"{out}/batch_docs.parquet")
    else:
        raise ValueError(f"unknown workload {workload!r}")


def ensure_inputs(cache_root: str, workload: str, seed: int) -> str:
    """The cached input directory for (workload, seed), generated on
    first use. A half-written directory (no ``_DONE`` marker) is
    discarded and regenerated."""
    out = input_dir(cache_root, workload, seed)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    generate(workload, seed, out)
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def input_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of every input file under ``path``: parquet rows
    from the footers, JSON/CSV rows as records/lines."""
    rows = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            if name.startswith("_") or name == "edges_truth.json" or name.startswith("oracle"):
                continue
            size += os.path.getsize(p)
            if name.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
            elif name.endswith(".json"):
                with open(p) as f:
                    rows += len(json.load(f))
            elif name.endswith(".csv"):
                with open(p) as f:
                    rows += sum(1 for _ in f) - 1
    return rows, size


def layer_bases(path: str) -> dict:
    """Denominators of the per-layer ratios: CC edges, FreshKart input
    bytes (sinks), corpus documents (index)."""
    def rows(name):
        p = os.path.join(path, name)
        return pq.ParquetFile(p).metadata.num_rows if os.path.exists(p) else 0

    fk = os.path.join(path, "freshkart")
    return {
        "edges": rows("edges.parquet"),
        "input_bytes": input_stats(fk)[1] if os.path.isdir(fk) else 0,
        "docs": rows("history_docs.parquet") + rows("batch_docs.parquet"),
    }
