"""The workloads: one pass each, with every call into a package
layer wrapped in a ``Tracer`` span.

A pass starts from an identical state: a fresh output directory, its own
``cache_scope()``, and ``clearCache()`` afterwards; the nightly pass also
starts from a fresh copy of the same committed index. The verifying
(cold) pass collects results instead of discarding them;
``check_collected`` gates them, and the files the pass wrote, against the
oracle answers after the pass's timing has been taken.
"""

from __future__ import annotations

import glob
import os
import shutil

from oracle import (
    CORPUS_QUERIES,
    canonical,
    compare,
    parquet_rows,
    sqlite_rows,
)

# Measured passes after the cold one, fixed so every run measures the
# same stretch of the warm-up curve (README.md, "Steadiness").
PASSES = {
    "corpus_dedup": 3,
    "nightly": 2,
}

_ORDERS_CLEAN = ["order_id", "customer_id", "city", "channel", "order_date",
                 "items_sold", "gross_revenue_eur"]
_DAILY = ["date", "city", "channel", "orders_count", "unique_customers", "items_sold",
          "gross_revenue_eur", "refunds_eur", "net_revenue_eur"]


class Workload:
    name = ""

    def __init__(self, spark, tracer, inputs: str, work: str, oracle: dict):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.work = work
        self.oracle = oracle
        self.attempted = 0
        self.failures: list[str] = []
        self.collected: list[tuple] = []  # (what, expected, columns, rows)

    # -- helpers -----------------------------------------------------------
    def check(self, what: str, expected: dict, got: dict) -> None:
        self.attempted += 1
        reason = compare(expected, got)
        if reason:
            self.failures.append(f"{what}: {reason}")

    def materialize(self, df, verify: bool, what: str, expected: dict) -> None:
        """Discard the result (noop sink) or, when verifying, collect it
        for ``check_collected`` to gate against ``expected``."""
        if verify:
            self.collected.append((what, expected, df.columns, df.collect()))
        else:
            df.write.format("noop").mode("overwrite").save()

    def check_collected(self, k: int) -> None:
        """Gate what verifying pass ``k`` collected (runs after the pass)."""
        for what, expected, columns, rows in self.collected:
            self.check(what, expected, canonical(columns, [tuple(r) for r in rows]))
        self.collected = []

    def prepare(self) -> None:
        """Untimed per-run set-up."""

    def body(self, out: str, verify: bool) -> None:
        raise NotImplementedError

    def run_pass(self, k: int, verify: bool = False) -> None:
        from esther_apache_spark_spark.operators.dedup import cache_scope

        out = os.path.join(self.work, f"pass{k}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.before_pass(out)
        self.tr.pass_index = k
        try:
            with cache_scope():
                self.body(out, verify)
        finally:
            self.tr.pass_index = -1
            self.spark.catalog.clearCache()

    def before_pass(self, out: str) -> None:
        """State reset ahead of a pass (milliseconds; inside its timing)."""

    def after_pass(self, k: int) -> None:
        """Untimed bookkeeping after pass ``k``."""

    def layer_stats(self, window) -> dict:
        """Per-pass counts measured outside Spark (files, bytes)."""
        return {}


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def body(self, out: str, verify: bool) -> None:
        from esther_apache_spark_spark.operators.components import connected_components
        from esther_apache_spark_spark.plans import QUERIES

        for q in CORPUS_QUERIES:  # timed catalog queries: plan build, then materialization
            with self.tr.call("plans", f"build.{q}"):
                df = QUERIES[q].fn(self.spark, self.inputs)
            with self.tr.call("plans", f"exec.{q}"):
                self.materialize(df, verify, q, self.oracle[q])
        with self.tr.call("operators.components", "cc"):
            edges = self.spark.read.parquet(f"{self.inputs}/edges.parquet")
            labels = connected_components(edges)
            self.materialize(labels, verify, "connected_components",
                             self.oracle["connected_components"])


class Nightly(Workload):
    name = "nightly"

    def prepare(self) -> None:
        """Build the committed history index once; every pass folds into
        a fresh copy of it."""
        from esther_apache_spark_spark.operators import incremental as I

        self.stats: dict[int, dict] = {}
        self.base_index = os.path.join(self.work, "base_index")
        shutil.rmtree(self.base_index, ignore_errors=True)
        hist = self.spark.read.parquet(f"{self.inputs}/history_docs.parquet")
        I.commit_index(I.build_minhash_bucket_index(hist), self.base_index)
        self.spark.catalog.clearCache()

    def before_pass(self, out: str) -> None:
        shutil.copytree(self.base_index, os.path.join(out, "index"))

    def after_pass(self, k: int) -> None:
        out = os.path.join(self.work, f"pass{k}")
        base_files, base_bytes = _tree(self.base_index)
        idx_files, idx_bytes = _tree(os.path.join(out, "index"))
        sink_files = sink_bytes = 0
        for d in ("freshkart_out", "published"):
            f, b = _tree(os.path.join(out, d))
            sink_files, sink_bytes = sink_files + f, sink_bytes + b
        f, b = _tree(os.path.join(out, "freshkart.db"))
        self.stats[k] = {
            "sink_files": sink_files + f, "sink_bytes": sink_bytes + b,
            "fold_files": idx_files - base_files, "fold_bytes": idx_bytes - base_bytes,
            "index_bytes": idx_bytes,
        }

    def layer_stats(self, window) -> dict:
        return {k: self.stats[k] for k in window if k in self.stats}

    def body(self, out: str, verify: bool) -> None:
        from esther_apache_spark_spark.freshkart.pipeline import (
            run_freshkart_pipeline,
            write_freshkart_outputs,
        )
        from esther_apache_spark_spark.operators import incremental as I
        from esther_apache_spark_spark.sources import index_store as S
        from esther_apache_spark_spark.sources.sinks import (
            publish_parquet_atomic,
            read_published,
        )

        tr, spark = self.tr, self.spark
        db = os.path.join(out, "freshkart.db")
        published = os.path.join(out, "published", "orders_clean")
        index = os.path.join(out, "index")
        os.makedirs(os.path.dirname(published))

        with tr.call("freshkart.pipeline", "build"):
            dfs = run_freshkart_pipeline(spark, f"{self.inputs}/freshkart")
        with tr.call("freshkart.pipeline", "write"):
            write_freshkart_outputs(dfs, os.path.join(out, "freshkart_out"), db)
        with tr.call("sources.sinks", "publish"):
            publish_parquet_atomic(dfs["orders_clean"], published)
        with tr.call("sources.sinks", "read_published"):
            self.materialize(read_published(spark, published), verify,
                             "read_published", self.oracle["orders_clean"])
        with tr.call("operators.incremental", "read_resolved"):
            epoch = S.read_manifest(index).get("epoch", 0)
            resolved = I.read_minhash_index_resolved(spark, index)
        with tr.call("operators.incremental", "merge"):
            batch = spark.read.parquet(f"{self.inputs}/batch_docs.parquet")
            batch_labels, remap = I.incremental_minhash_merge(batch, resolved["bucket_reps"])
        with tr.call("sources.index_store", "commit"):
            I.commit_minhash_fold(index, batch, batch_labels, remap, expected_epoch=epoch)
        with tr.call("operators.incremental", "read_resolved_after_commit"):
            labels = I.read_minhash_index_resolved(spark, index)["labels"]
            if verify:
                self.label_rows = labels.collect()
            else:
                labels.write.format("noop").mode("overwrite").save()

    def check_collected(self, k: int) -> None:
        super().check_collected(k)
        out = os.path.join(self.work, f"pass{k}")
        self.check_labels(self.label_rows)
        self.check_files(out, os.path.join(out, "freshkart.db"),
                         os.path.join(out, "published", "orders_clean"))

    def check_labels(self, label_rows) -> None:
        """Resolved labels after the fold against a full recompute over
        history + batch; docs without a label are their own component."""
        got = {int(r["node"]): int(r["comp"]) for r in label_rows}
        expected = self.oracle["labels"]
        rows = [[got.get(node, node), node] for _, node in expected["rows"]]
        rows.sort(key=lambda r: (r[0], r[1]))
        self.check("index_labels", expected, {"columns": expected["columns"], "rows": rows})

    def check_files(self, out: str, db: str, published: str) -> None:
        o = self.oracle
        self.check("sqlite.orders_clean", o["orders_clean"],
                   sqlite_rows(db, "orders_clean", _ORDERS_CLEAN))
        self.check("sqlite.daily_city_sales", o["daily_city_sales"],
                   sqlite_rows(db, "daily_city_sales", _DAILY))
        self.check("published.orders_clean", o["orders_clean"], parquet_rows(published))
        # CSV sinks: one partition directory per date, one rejects line per row.
        self.attempted += 1
        dates = {r[o["daily_city_sales"]["columns"].index("date")]
                 for r in o["daily_city_sales"]["rows"]}
        parts = glob.glob(os.path.join(out, "freshkart_out", "daily_city_sales_csv", "date=*"))
        rejects = 0
        for p in glob.glob(os.path.join(out, "freshkart_out", "rejects_items_csv", "*.csv")):
            with open(p) as f:
                rejects += sum(1 for _ in f) - 1
        if len(parts) != len(dates) or rejects != len(o["rejects"]["rows"]):
            self.failures.append(
                f"csv: {len(parts)} date partitions (want {len(dates)}), "
                f"{rejects} reject rows (want {len(o['rejects']['rows'])})")


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path`` (a file counts as itself), skipping
    Spark's checksum and marker files; symlinks are not followed."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_SUCCESS"):
                continue
            p = os.path.join(root, n)
            if not os.path.islink(p):
                files, size = files + 1, size + os.path.getsize(p)
    return files, size


WORKLOADS = {w.name: w for w in (CorpusDedup, Nightly)}
