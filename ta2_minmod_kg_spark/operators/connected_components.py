"""Distributed connected components (SURVEY §2.5 G1/G2).

The reference builds a networkx graph in driver memory
(`minmodkg/etl/same_as.py:222-230,406-407`) — a non-starter at 10^12 rows.
Here: the **alternating large-star / small-star** algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14), pure DataFrame
joins/aggregations, converging in O(log² n) rounds (in practice < ~8 even
with our planted giant chain, because every round halves path lengths
star-wise, not step-wise).

Properties that matter here:
- labels are the **lexicographic min** node id of each component — exactly
  the reference's deterministic group id rule ("dedup_"+min), so the label
  IS the canonical id; no relabel pass needed;
- every round is two shuffles on the node id (groupBy + self-join), AQE
  handles the skewed giant-component key;
- ``localCheckpoint`` every round truncates the logical plan — without it
  the iterative join lineage grows exponentially and the driver dies at
  plan-optimization time long before data size matters.

Convergence test: a round is a fixpoint when the edge multiset is
unchanged; we compare a cheap order-insensitive fingerprint
(count + sum of xxhash64(u,v)) instead of a full except() — one tiny
aggregate per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# star rounds before giving up on a fixpoint (O(log² n) needed; < ~8 seen)
MAX_STAR_ROUNDS = 30


def _nbrs_both_dirs(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.unionAll(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nbrs = _nbrs_both_dirs(edges)
    m = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect every small neighbor (and u)
    to the minimum of the ≤-neighborhood."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = (
        directed.groupBy("u")
        .agg(F.min("v").alias("m"))
    )
    nbrs_plus_self = directed.unionAll(
        directed.select("u", F.col("u").alias("v"))
    ).distinct()
    return (
        nbrs_plus_self.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("c"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["c"]), int(row["h"])


def min_label_components(pairs) -> dict:
    """Union-find over (u, v) pairs → {node: min member of its component}.

    Union by min label, so a root IS its component id — the reference's
    deterministic group id rule.  Duplicates and self-loops are
    tolerated; every node mentioned in ``pairs`` is a key, so a self-pair
    ``(x, x)`` adds ``x`` as a singleton.
    """
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    return {x: find(x) for x in parent}


def component_rows(spark, comp: dict) -> DataFrame:
    """{node: component} → a (node, component) string DataFrame."""
    import pandas as pd

    # pandas → Arrow path: plain-list createDataFrame verifies types per
    # row on the driver (~1 ms/row — seconds at 10^4 rows)
    pdf = pd.DataFrame(
        {"node": list(comp.keys()), "component": list(comp.values())},
        dtype="object",
    )
    return spark.createDataFrame(pdf, schema="node string, component string")


def _driver_pairs(edges: DataFrame) -> list:
    # Arrow transfer (toPandas), not row collect(): py4j row
    # deserialization is ~1-2 s per 100k rows of pure driver tail
    pdf = edges.select("u", "v").toPandas()
    return list(zip(pdf["u"].tolist(), pdf["v"].tolist()))


def probe_edges(edges: DataFrame, driver_finish_threshold: int):
    """``(raw, pairs)``: the (u, v) string edges, lazily checkpointed, and
    their pairs when they fit the driver threshold (else None).

    The lazy checkpoint's FIRST action materializes the blocks (an eager
    one was a whole extra job, r06).  ONE bounded job sizes the input,
    fetches it AND materializes those blocks: a limit(threshold+1) read
    returns ALL rows iff the edge set fits.  On overflow at most
    threshold+1 rows were shipped, so a caller probes once and goes
    straight to ``star_rounds(raw, ...)``.
    """
    raw = edges.select(
        F.col("u").cast("string"), F.col("v").cast("string")
    ).localCheckpoint(eager=False)
    if driver_finish_threshold <= 0:
        return raw, None
    pairs = _driver_pairs(raw.limit(driver_finish_threshold + 1))
    return raw, (pairs if len(pairs) <= driver_finish_threshold else None)


def star_rounds(raw: DataFrame, driver_finish_threshold: int) -> DataFrame:
    """Distributed CC of ``probe_edges``' raw edges → (node, component).

    Alternating large/small-star rounds; once the live edge count drops to
    ``driver_finish_threshold`` the tail is finished with one collect and
    ``min_label_components``.
    """
    all_nodes = _nbrs_both_dirs(raw).select(F.col("u").alias("node")).distinct()
    e = raw.filter(F.col("u") != F.col("v")).distinct()

    membership = None
    prev_fp = None
    for _ in range(MAX_STAR_ROUNDS):
        n_edges = prev_fp[0] if prev_fp else e.count()
        if n_edges <= driver_finish_threshold:
            membership = component_rows(
                raw.sparkSession, min_label_components(_driver_pairs(e))
            )
            break
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        fp = _fingerprint(e2)
        if fp == prev_fp:
            e = e2
            break
        prev_fp = fp
        e = e2
    if membership is None:
        # at the fixpoint every edge points node → component-min
        membership = e.select(
            F.col("u").alias("node"), F.col("v").alias("component")
        )
    # roots (component minima) map to themselves; nodes that vanished from
    # the edge list (interior of resolved stars) are already present —
    # small-star keeps (u, m) for every u.  Add roots + any dropped nodes.
    covered = membership.select("node")
    missing = all_nodes.join(covered, "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    # materialize: downstream set algebra (splice/attach) scans the
    # membership several times — without a barrier each scan re-executes
    # the whole CC lineage (measured 3-4x blowup)
    return membership.unionAll(missing).localCheckpoint(eager=True)


def connected_components(
    edges: DataFrame, driver_finish_threshold: int = 2_000_000
) -> DataFrame:
    """edges(u, v) → membership(node, component) where component = min id.

    When ``probe_edges`` finds the edge set within
    ``driver_finish_threshold``, one driver union-find replaces the
    distinct shuffle, the fixpoint rounds AND the all-nodes anti-join;
    otherwise ``star_rounds`` run.  Driver memory is bounded by the
    threshold but NOT small: at the 2M-edge default with ~100-byte ids
    it is several hundred MB (VERDICT r05 #4), a real share of the
    RAM-derived default driver memory (session.py) on a small machine —
    lower the threshold there.  Self-loops and duplicates tolerated;
    isolated nodes are the caller's business (canonicalize.attach_singletons).
    """
    raw, pairs = probe_edges(edges, driver_finish_threshold)
    if pairs is not None:
        return component_rows(raw.sparkSession, min_label_components(pairs))
    return star_rounds(raw, driver_finish_threshold)
