"""Connected components — min-label propagation (engine extension; the
canonicalization step a dedup pipeline runs after candidate generation:
near-dup PAIRS become duplicate CLUSTERS, and each cluster keeps one
canonical document).

``connected_components`` labels every node with the minimum node id of
its component. It materializes the edge plan once with an eager count,
then takes one of two paths. Labels are identical on both.

Driver-local path (edge count <= ``LOCAL_EDGE_BUDGET``, integral or
default-collation string ids, no NULL endpoint): the cached edges are
collected once through Arrow, factorized with ``np.unique`` (sorted
codes keep id order, so the minimum code is the minimum id) and
labeled by min-root hooking plus pointer jumping in NumPy, then
returned with ``createDataFrame``. Below the budget Spark's per-job
cost, not the data, sets the price of the distributed loop: the
benchmark's 520-node ``corpus_dedup`` graph takes 66 Spark jobs there
and 6 here (4-vCPU VM, local[2]). The budget is a module constant,
not an option: it bounds the driver's working set (the collected
edges plus a few int arrays; at 10^6 edges the Python driver grew by
~130 MB with long ids and ~200 MB with 16-character string ids, under
a 2 GB JVM heap), which stays well inside the default driver heap, and
no caller needs a different value. Python code-point order equals
Spark's UTF8_BINARY byte order, so string minima agree; other id types
(floats with NaN/-0.0, dates, ...) and NULL endpoints keep the
distributed path, whose semantics for them stay as they were.

Distributed path (everything else — the scale path): labels live in a
(node, comp) frame; each round every node takes the min of its own
label and its neighbors' labels (messages flow both edge directions),
hooks the improved minimum onto its previous label and pointer-jumps;
convergence when no label changes. ``checkpoint_dir`` and ``max_iter``
apply only here.

Scale notes for the distributed path:
- Each round is one shuffle join (edges ⋈ labels) + one min-aggregate —
  both keyed on node id, co-partitionable.
- A checkpoint after every round truncates the lineage; without it the
  plan doubles per iteration and the driver, not the data, becomes the
  bottleneck. The DEFAULT is ``localCheckpoint`` (block-manager memory
  — fast, no disk round-trip), but on local[k] the block manager IS
  the driver heap, and the r7 sf10 checkpoint OOMed an 8 GB heap on
  the survivor family's edge frames. ``checkpoint_dir=`` (or the
  ``SPARK_GRAFT_CHECKPOINT_DIR`` env var — how ``bench.py
  --sf10-cold`` wires it) switches every round to RELIABLE
  ``checkpoint(eager=True)`` into that directory: lineage truncates
  the same way, blocks live on disk instead of heap, and on a real
  cluster the dir is shared storage (HDFS/S3) so executor loss is
  also survivable mid-iteration.
- The convergence check rides the round's checkpoint job as an
  ``observe`` metric (count of labels the round changed — the canonical
  Pregel-style stop condition): ONE action per round, no separate
  convergence job (r11; the r10 label-sum scan cost ~80 ms × rounds ×
  every CC consumer, and its DECIMAL cast silently broke on non-numeric
  node ids — the changed-count comparison is type-agnostic).

Each call logs one DEBUG record on this module's logger: the path
taken, edge and node counts, rounds, and why the local path was not
taken (``over_budget``, ``id_type``, ``null_endpoint``; ``-`` when it
was).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

log = logging.getLogger(__name__)

# Edge sets up to this size are labeled on the driver (module docstring).
LOCAL_EDGE_BUDGET = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, comp) for every node appearing in ``edges``; ``comp`` is
    the minimum node id of the node's connected component. Edges are
    treated as undirected; self-loops and duplicate edges are fine.
    Node ids may be any orderable type (longs, strings, ...).

    ``checkpoint_dir`` (default: the ``SPARK_GRAFT_CHECKPOINT_DIR``
    env var, else None) selects reliable disk checkpoints over
    ``localCheckpoint`` for the per-round lineage truncation of the
    distributed path, and ``max_iter`` caps its rounds — see the module
    docstring for when each path runs. Results are identical either
    way; only where the materialized blocks live changes."""
    if checkpoint_dir is None:
        checkpoint_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    if checkpoint_dir:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)

    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    return _cc_loop(edges, src, dst, max_iter, _ckpt)


def _loop_width(n_edges: int, session) -> int:
    """Scale-adaptive shuffle width for the iteration (r10, guide §2):
    the loop's joins/aggregates would otherwise inherit the SESSION
    shuffle partition count, which is sized for full-corpus scans — on
    the quotient graphs the loop actually iterates over (thousands of
    rows) that meant 32-task reduce stages and 64-96-task map stages
    per sub-job, ~4,300 tasks per survivor query, almost all scheduling
    overhead (AQE cannot re-optimize the checkpoint executions the loop
    is made of). Width = ~64k undirected-edge rows per task (2× the
    measured directed count bounds |und|), CAPPED at the session
    setting, so a 100 TB edge frame keeps the full session width — the
    derivation only ever narrows tiny iteration graphs. Applied as
    explicit ``repartition(n, keys)`` on the loop frames (r11) rather
    than a session-conf override: same exchanges, same task counts,
    but nothing session-global mutates — a streaming trigger or second
    CC call planning concurrently on the same session keeps its own
    width."""
    try:
        cap = max(1, int(session.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        cap = 200
    return max(1, min(cap, (2 * n_edges + 65535) // 65536))


def _cc_loop(edges, src, dst, max_iter, _ckpt):
    # Materialize the (possibly expensive) edge plan ONCE — with an
    # EAGER action — before the direction-doubling union (r11). The r10
    # persist() alone was lazy: the union-distinct checkpoint was the
    # first action, and its two legs' tasks run concurrently over the
    # same cache-in-progress, so each leg re-executed the full upstream
    # candidate pipeline (measured at sf0.1: a second full GEMM/UDF
    # pass, ~4-5 CPU-s; at 100 TB a second pass over the corpus-scale
    # candidate generation). The count executes the plan exactly once
    # under normal AQE (coalesced post-shuffle partitions, runtime
    # joins), fills the cache, and both union legs — or the local
    # path's Arrow collect — then read blocks. The same aggregate counts
    # NULL endpoints, which only the distributed path accepts.
    ed = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    try:
        n_ed, n_null = ed.agg(
            F.count(F.lit(1)),
            F.count_if(F.col("a").isNull() | F.col("b").isNull()),
        ).first()
        reason = _local_fallback(ed, n_ed, n_null)
        if reason is None:
            labels, n_nodes, rounds = _cc_local(ed)
            _log_decision("local", n_ed, n_nodes, rounds, reason)
            return labels
        n = _loop_width(n_ed, edges.sparkSession)
        und = _ckpt(
            ed.union(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .repartition(n, "a", "b")
            .distinct()
        )
    finally:
        ed.unpersist()
    # Seed labels with the FIRST neighbor-min round fused into the node
    # scan (r10): comp₀(v) = min(v, min neighbors) is exactly what the
    # old identity-seeded loop computed in its first propagation, for
    # the price of the distinct-node aggregate the seed paid anyway —
    # one round's joins removed outright. (repartition(n, key) followed
    # by groupBy(key) shares the one exchange: HashPartitioning(key, n)
    # satisfies the aggregate's required distribution.)
    seed = Observation()
    labels = _ckpt(
        und.repartition(n, "a")
        .groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(F.col("a").alias("node"), F.least("a", "_mb").alias("comp"))
        .observe(seed, F.count(F.lit(1)).alias("nodes"))
    )
    comp_type = labels.schema["comp"].dataType
    rounds = 0
    for rounds in range(1, max_iter + 1):
        msgs = und.join(labels, und.a == labels.node).select(
            F.col("b").alias("node"), "comp",
            F.lit(None).cast(comp_type).alias("_old"),
        )
        # No per-round persists (r11): the round has exactly ONE
        # materializing job — the checkpoint below — and within that job
        # ReuseExchange deduplicates prop's and step's repeated subtrees
        # (shuffle map sides run once; broadcast builds are shared).
        # The r10 lazy persists only added block-manager writes and
        # extra jobs per round — A/B'd on the three survivor queries:
        # jobs 75/49/47 -> 61/44/42, CPU −6..13%, identical labels.
        # One aggregate yields both the neighbor-min comp AND the
        # node's previous label (min over the single tagged labels row
        # — every und node has a labels row, so _old is never NULL
        # after the aggregate).
        prop = (
            msgs.union(
                labels.select("node", "comp", F.col("comp").alias("_old"))
            )
            .repartition(n, "node")
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("_old").alias("_old"))
        )
        # HOOK (Shiloach–Vishkin, r10): each node reports its improved
        # minimum back to its PREVIOUS label ("parent"), so the round's
        # best minimum re-attaches at the top of every label tree instead
        # of crawling outward one neighbor hop per round. On the real
        # semantic survivor graph at sf0.1 this alone cut 9 rounds to 4
        # (measured by replaying the exact rep-pair edge set); pure
        # pointer jumping cut nothing there because the min-label
        # wavefront, not pointer-chain depth, was the binding distance.
        hooks = (
            prop.repartition(n, "_old")
            .groupBy(F.col("_old").alias("node"))
            .agg(F.min("comp").alias("_hc"))
        )
        hooked = (
            prop.join(hooks, "node", "left")
            .select(
                "node",
                F.least("comp", F.coalesce("_hc", "comp")).alias("comp"),
                "_old",
            )
        )
        # Pointer jumping: comp ← comp(comp(node)), applied TWICE per
        # round. Chains/trees converge in O(log₄) rounds; comp is
        # always a node id present in the label frame, so the
        # self-joins always match.
        jump = hooked.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        step = (
            hooked.join(jump, hooked.comp == jump._jn)
            .select(
                hooked.node,
                F.least(hooked.comp, jump._jc).alias("comp"),
                hooked._old,
            )
        )
        jump2 = step.select(
            F.col("node").alias("_jn"), F.col("comp").alias("_jc")
        )
        # Convergence rides the checkpoint job (r11): labels only
        # ever DECREASE pointwise over a fixed node set, so the
        # round is the fixpoint iff it changed no label. The
        # changed-count is an observe() metric on the exact frame
        # being checkpointed — zero extra actions, works for any
        # id type (no numeric cast), and a NULL comparison (never
        # expected — see prop) conservatively counts as changed.
        obs = Observation()
        new_full = _ckpt(
            step.join(jump2, step.comp == jump2._jn)
            .select(
                step.node,
                F.least(step.comp, jump2._jc).alias("comp"),
                step._old,
            )
            .observe(
                obs,
                F.sum(
                    F.coalesce(
                        (F.col("comp") != F.col("_old")).cast("long"),
                        F.lit(1),
                    )
                ).alias("chg"),
            )
        )
        labels = new_full.select("node", "comp")
        if not obs.get["chg"]:
            break
    _log_decision("distributed", n_ed, seed.get["nodes"], rounds, reason)
    return labels


def _local_fallback(ed: DataFrame, n_edges: int, n_null: int) -> str | None:
    """Why the (a, b) edge frame ``ed`` cannot be labeled on the driver,
    or None when it can. NumPy's order must equal Spark's for the
    minimum to agree: integral ids, and strings under the default
    UTF8_BINARY collation (byte order = code-point order)."""
    ta, tb = (f.dataType for f in ed.schema.fields)
    if ta != tb or not (isinstance(ta, IntegralType) or ta == StringType()):
        return "id_type"
    if n_edges > LOCAL_EDGE_BUDGET:
        return "over_budget"
    if n_null:
        return "null_endpoint"
    return None


def _cc_local(ed: DataFrame) -> tuple[DataFrame, int, int]:
    """(labels, node count, rounds) for a small edge frame, computed on
    the driver. Each round hooks the larger of every edge's two roots
    onto the smaller, then pointer-jumps until every node points at a
    root; it stops when both ends of every edge share a root. Pointers
    only ever decrease and stay inside the component, so the surviving
    root is the component's minimum code — its minimum id."""
    import numpy as np
    import pyarrow as pa

    tbl = ed.toArrow()
    a, b = (tbl.column(c).to_numpy() for c in ("a", "b"))
    ids, codes = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = codes[: len(a)], codes[len(a):]
    lab = np.arange(len(ids))
    rounds = 0
    while True:
        rounds += 1
        ra, rb = lab[ia], lab[ib]
        lo = np.minimum(ra, rb)
        np.minimum.at(lab, ra, lo)
        np.minimum.at(lab, rb, lo)
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped
        if np.array_equal(lab[ia], lab[ib]):
            break
    t = ed.schema["a"].dataType
    labels = ed.sparkSession.createDataFrame(
        pa.table({"node": ids, "comp": ids[lab]}),
        StructType([StructField("node", t), StructField("comp", t)]),
    )
    return labels, len(ids), rounds


def _log_decision(path, n_edges, n_nodes, rounds, reason):
    log.debug(
        "connected_components path=%s edges=%d nodes=%d rounds=%d fallback=%s",
        path, n_edges, n_nodes, rounds, reason or "-",
    )
