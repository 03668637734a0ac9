"""Read-API query surface (SURVEY §2.7 Q1-Q4).

The reference serves these from Postgres via SQLAlchemy
(`services/mineral_site.py:453-564`); here they are DataFrame programs over
the pipeline's output tables — the same filters, pushed down to the
parquet scan (check ``explain``: PushedFilters on commodity /
top1_deposit_type / array columns pruned).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def find_dedup_sites(
    dedup_sites: DataFrame,
    dedup_invs: DataFrame,
    commodity: Optional[str] = None,
    deposit_type: Optional[str] = None,
    country: Optional[str] = None,
    state_or_province: Optional[str] = None,
    has_grade_tonnage: Optional[bool] = None,
    ids: Optional[Sequence[str]] = None,
    limit: Optional[int] = None,
    offset: int = 0,
) -> DataFrame:
    """Q1: filter dedup sites, attach their selected inventories.

    Mirrors `services/mineral_site.py:453-564`: commodity filters via the
    inventory view; country/state are array-contains; has_grade_tonnage is
    contained_metal IS (NOT) NULL; pagination by deterministic order.
    """
    inv = dedup_invs
    if commodity is not None:
        inv = inv.filter(F.col("commodity") == commodity)
    if has_grade_tonnage is True:
        inv = inv.filter(F.col("contained_metal").isNotNull())
    elif has_grade_tonnage is False:
        inv = inv.filter(F.col("contained_metal").isNull())

    df = dedup_sites
    if deposit_type is not None:
        df = df.filter(F.col("top1_deposit_type") == deposit_type)
    if country is not None:
        df = df.filter(F.array_contains(F.col("country.value"), country))
    if state_or_province is not None:
        df = df.filter(
            F.array_contains(F.col("state_or_province.value"), state_or_province)
        )
    if ids is not None:
        df = df.filter(F.col("dedup_site_id").isin(list(ids)))

    if commodity is not None or has_grade_tonnage is not None:
        df = df.join(
            inv.select("dedup_site_id").distinct(), "dedup_site_id", "left_semi"
        )

    invs_agg = inv.groupBy("dedup_site_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("commodity", "contained_metal", "tonnage", "grade", "date")
            )
        ).alias("grade_tonnage")
    )
    out = df.join(invs_agg, "dedup_site_id", "left").orderBy("dedup_site_id")
    if offset:
        # keyset-style: deterministic order + window index (Spark has no
        # OFFSET pushdown; at scale prefer keyset pagination on the id)
        from pyspark.sql import Window

        w = Window.orderBy("dedup_site_id")
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > offset)
            .drop("_rn")
        )
    if limit is not None:
        out = out.limit(limit)
    return out


def find_by_ids(sites_rel: DataFrame, site_ids: Sequence[str]) -> DataFrame:
    """Q2 point lookups."""
    return sites_rel.filter(F.col("site_id").isin(list(site_ids)))


def export_csv_rows(
    dedup_sites: DataFrame,
    dedup_invs: DataFrame,
    commodity_labels: DataFrame,
) -> DataFrame:
    """Q3: wide CSV export — one row per (dedup site, grade-tonnage),
    label lookups via broadcast, tonnage Mt→tonnes ×1e6
    (ref api/routers/dedup_mineral_site.py:135-257)."""
    labels = F.broadcast(
        commodity_labels.select(
            F.col("minmod_id").alias("commodity"),
            F.col("name").alias("commodity_label"),
        )
    )
    return (
        dedup_invs.join(labels, "commodity", "left")
        .join(
            dedup_sites.select(
                "dedup_site_id",
                F.col("name.value").alias("site_name"),
                F.col("type.value").alias("site_type"),
                F.col("rank.value").alias("site_rank"),
                "top1_deposit_type",
                F.col("coordinates.lat").alias("lat"),
                F.col("coordinates.lon").alias("lon"),
            ),
            "dedup_site_id",
        )
        .select(
            "dedup_site_id",
            "site_name",
            "site_type",
            "site_rank",
            "top1_deposit_type",
            "lat",
            "lon",
            "commodity",
            "commodity_label",
            (F.col("tonnage") * 1e6).alias("total_tonnage_tonnes"),
            "grade",
            (F.col("contained_metal") * 1e6).alias("total_contained_metal_tonnes"),
        )
    )


def describe_resource(triples: DataFrame, subj: str, hops: int = 1) -> DataFrame:
    """Q4 LOD dereference: the subject's subgraph, expanded ``hops`` times
    along object links (bounded iterative filter-join).  Each triple is
    returned once, even when several sites emitted it (a shared node)."""
    spo = triples.select("subj", "pred", "obj")
    frontier = spo.filter(F.col("subj") == subj)
    out = frontier
    for _ in range(hops):
        objs = frontier.select(F.col("obj").alias("subj")).distinct()
        frontier = spo.join(objs, "subj", "left_semi")
        out = out.unionByName(frontier)
    return out.distinct()


# the reference's CONSTRUCT path expression excludes these from traversal
# (kgsync_listener.py:103-118): `<uri> (!(owl:sameAs|rdf:type|
# mo:normalized_uri))* ?s` — and owl:sameAs triples are excluded from the
# result entirely
LOD_NO_FOLLOW = ("owl:sameAs", "rdf:type", "mo:normalized_uri")


def lod_closure(triples: DataFrame, subj: str, max_iters: int = 64) -> DataFrame:
    """Q4 full LOD dereference: the reference's recursive CONSTRUCT
    (`minmodkg/services/sync/kgsync_listener.py:103-118` /
    `api/routers/lod.py` subgraph semantics) as an iterative
    semi-join fixpoint:

    - reachable set R: start at ``subj``, repeatedly follow (s, p, o)
      edges with s ∈ R and p ∉ LOD_NO_FOLLOW until no new subject appears
      (the monotone frontier set is the cycle guard);
    - result: every triple whose subject ∈ R, minus owl:sameAs rows.

    Each iteration is one semi-join + anti-join over the (narrow) edge
    projection; site subgraphs are shallow (3-4 hops), so the loop runs a
    handful of Spark jobs regardless of corpus size — reached-set size,
    not corpus size, bounds the driver state (a single site's record
    subgraph).
    """
    spark = triples.sparkSession
    follow = (
        triples.filter(~F.col("pred").isin(*LOD_NO_FOLLOW))
        .select("subj", "obj")
        .persist()
    )
    reached = spark.createDataFrame([(subj,)], "subj string")
    frontier = reached
    cached = []  # every intermediate persist, released before returning
    for _ in range(max_iters):
        new = (
            follow.join(frontier, "subj", "left_semi")
            .select(F.col("obj").alias("subj"))
            .distinct()
            .join(reached, "subj", "left_anti")
            .persist()
        )
        cached.append(new)
        if new.count() == 0:
            break
        reached = reached.unionByName(new).persist()
        cached.append(reached)
        frontier = new
    out = (
        triples.join(reached, "subj", "left_semi")
        .filter(F.col("pred") != "owl:sameAs")
        .select("subj", "pred", "obj")
        .distinct()
    )
    # materialize before dropping the iteration caches the plan depends on.
    # localCheckpoint (eager), not persist(): checkpoint blocks are owned by
    # the returned RDD and reclaimed by the ContextCleaner once callers drop
    # the result, whereas a persist() here would pin cache-manager entries
    # for the session's lifetime with no caller ever unpersisting them.
    out = out.localCheckpoint(eager=True)
    follow.unpersist()
    for df in cached:
        df.unpersist()
    return out


# -- Q4b: LOD entity JSON tree (ref api/routers/lod.py:207-257) ---------------

def _parse_term(term: str):
    """N3 text term → ('uri', full_uri) | ('lit', python_value)."""
    from ..functions.rdf import PREFIXES, unescape_literal

    if term.startswith("<") and term.endswith(">"):
        return "uri", term[1:-1]
    if term.startswith('"'):
        if term.endswith('"') and len(term) >= 2:
            body, dt = term[1:-1], None
        else:
            # rpartition, not rindex: a term with an unrecognized tail
            # (e.g. a language-tagged literal "x"@en) must degrade to a
            # plain string, not crash the public tree render
            body, sep, dt = term[1:].rpartition('"^^')
            if not sep:
                q = term.rfind('"')
                body = term[1:q] if q > 0 else term[1:]
                dt = None  # @lang or malformed tail → plain string
        body = unescape_literal(body)
        if dt == "xsd:integer":
            return "lit", int(body)
        if dt == "xsd:decimal":
            return "lit", float(body)
        if dt == "xsd:boolean":
            return "lit", body == "true"
        return "lit", body
    pfx, _, local = term.partition(":")
    if pfx in PREFIXES:
        return "uri", PREFIXES[pfx] + local
    return "uri", term


def _pred_label(pred: str) -> str:
    if pred == "rdfs:label":
        return "@label"
    if pred == "rdf:type":
        return "@type"
    return pred.rsplit(":", 1)[-1]


def lod_entity_json(closure: DataFrame, subj: str) -> dict:
    """Q4b: the reference's ``render_entity_json``
    (`minmodkg/api/routers/lod.py:207-257`) over the engine's LOD closure:
    nested JSON tree rooted at ``subj``, literals as python values, cycle
    guard via a visited set (revisited nodes render as ``@id``
    [+``@label``] stubs), single-valued predicates inlined, multi-valued
    as lists.

    Determinism divergence (documented): rdflib iterates predicates in
    store-insertion order, which is nondeterministic for a distributed
    engine; this version sorts predicates and objects, so trees are
    stable across runs.  The closure is one site's subgraph — bounded by
    reachability, not corpus size — so the driver-side recursion is the
    right execution venue (the reference does the same in its API
    process).
    """
    rows = closure.select("subj", "pred", "obj").collect()
    adj: dict[str, dict[str, list[str]]] = {}
    labels: dict[str, str] = {}
    for r in rows:
        adj.setdefault(r["subj"], {}).setdefault(r["pred"], []).append(r["obj"])
        if r["pred"] == "rdfs:label":
            labels[r["subj"]] = r["obj"]

    def make_tree(term: str, visited: set) -> object:
        kind, val = _parse_term(term)
        if kind == "lit":
            return val
        out: dict = {"@id": val}
        if term in visited:
            if term in labels:
                out["@label"] = _parse_term(labels[term])[1]
            return out
        visited.add(term)
        for pred in sorted(adj.get(term, {})):
            objs = sorted(adj[term][pred])
            fmt = [make_tree(o, visited) for o in objs]
            out[_pred_label(pred)] = fmt[0] if len(fmt) == 1 else fmt
        return out

    root: dict = {"@id": _parse_term(subj)[1]}
    visited = {subj}
    for pred in sorted(adj.get(subj, {})):
        objs = sorted(adj[subj][pred])
        fmt = [make_tree(o, visited) for o in objs]
        root[_pred_label(pred)] = fmt[0] if len(fmt) == 1 else fmt
    return root
