"""Inlined-VALUES DuckDB oracles for the kg_* driver entries (VERDICT r03 #2).

The synthetic corpus is deterministic pure Python (sources/synthetic.py), so
its raw records can be inlined into the oracle SQL as VALUES — the shared
INPUT — while the semantics under test (triple fan-out, same-as set algebra)
are restated in *independent DuckDB SQL*:

- ``kg_triples_oracle_sql``: every corpus record's raw JSON string is a
  VALUES row; per-predicate triple counts are recomputed with DuckDB's JSON
  functions restating the reference's ``to_triples`` fan-out rules
  (`minmodkg/libraries/rdf/rdf_model.py:214-266` shapes, field coverage per
  `MineralSite.to_kg()`), with zero engine code in the counting path.
- ``kg_sameas_triples_oracle_sql``: node/edge/curated rows are inlined; the
  full G1-G5 flow — connected components (recursive CTE), curated override
  (`etl/same_as.py:303-307`), replace_group splice (`same_as.py:352-381`),
  singleton attach, min-relabel, star emission (`same_as.py:324-334`) — is
  restated as one DuckDB WITH RECURSIVE program.

This is the same technique that caught the round-3 NaN-score leak in
``kg_entity_triples`` (plans/queries.py kg_entity_triples_oracle_sql).
"""

from __future__ import annotations

import json


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _corpus_json(n_sites: int) -> list[str]:
    """The exact ingest content strings (sources/synthetic.py _gen_batch):
    one system record per index plus an expert duplicate every 7th."""
    from ..sources import synthetic

    out = []
    for n in range(n_sites):
        out.append(json.dumps(synthetic.make_record(n, n_sites), sort_keys=True))
        if synthetic.has_expert_dup(n):
            out.append(
                json.dumps(
                    synthetic.make_record(n, n_sites, expert=True), sort_keys=True
                )
            )
    return out


def kg_triples_oracle_sql(n_sites: int) -> str:
    values = ",\n".join(f"({_q(s)})" for s in _corpus_json(n_sites))

    # Presence rule throughout: a field is emitted iff it is present AND not
    # JSON null — DuckDB json_extract returns SQL NULL for both, matching
    # the emitter's ``site.get(k) is not None``.
    return f"""
WITH rec(j) AS (VALUES
{values}),
loc AS (
  SELECT json_extract(j, '$.location_info') AS l FROM rec
  WHERE json_extract(j, '$.location_info') IS NOT NULL
),
invs AS (SELECT unnest(json_extract(j, '$.mineral_inventory[*]')) AS inv FROM rec),
srefs AS (SELECT unnest(json_extract(j, '$.reference[*]')) AS r FROM rec),
irefs AS (
  SELECT json_extract(inv, '$.reference') AS r FROM invs
  WHERE json_extract(inv, '$.reference') IS NOT NULL
),
refs AS (SELECT r FROM srefs UNION ALL SELECT r FROM irefs),
pis AS (SELECT unnest(json_extract(r, '$.page_info[*]')) AS pi FROM refs),
bbs AS (
  SELECT json_extract(pi, '$.bounding_box') AS bb FROM pis
  WHERE json_extract(pi, '$.bounding_box') IS NOT NULL
),
meas AS (
  SELECT json_extract(inv, '$.grade') AS m FROM invs
    WHERE json_extract(inv, '$.grade') IS NOT NULL
  UNION ALL
  SELECT json_extract(inv, '$.cutoff_grade') FROM invs
    WHERE json_extract(inv, '$.cutoff_grade') IS NOT NULL
  UNION ALL
  SELECT json_extract(inv, '$.ore') FROM invs
    WHERE json_extract(inv, '$.ore') IS NOT NULL
),
ces AS (
  SELECT unnest(json_extract(l, '$.country[*]')) AS ce FROM loc
  UNION ALL SELECT unnest(json_extract(l, '$.state_or_province[*]')) FROM loc
  UNION ALL SELECT json_extract(l, '$.crs') FROM loc
    WHERE json_extract(l, '$.crs') IS NOT NULL
  UNION ALL SELECT unnest(json_extract(j, '$.deposit_type_candidate[*]')) FROM rec
  UNION ALL SELECT json_extract(inv, '$.commodity') FROM invs
    WHERE json_extract(inv, '$.commodity') IS NOT NULL
  UNION ALL SELECT unnest(json_extract(inv, '$.category[*]')) FROM invs
  UNION ALL SELECT json_extract(inv, '$.material_form') FROM invs
    WHERE json_extract(inv, '$.material_form') IS NOT NULL
  UNION ALL SELECT json_extract(m, '$.unit') FROM meas
    WHERE json_extract(m, '$.unit') IS NOT NULL
),
counts(pred, n) AS (
  -- one typed node per record / location / inventory / measure; each
  -- reference call mints a Reference AND a Document node; plus PageInfo,
  -- BoundingBox and every CandidateEntity
  SELECT 'rdf:type',
         (SELECT count(*) FROM rec) + (SELECT count(*) FROM loc)
       + (SELECT count(*) FROM invs) + (SELECT count(*) FROM meas)
       + 2 * (SELECT count(*) FROM refs) + (SELECT count(*) FROM pis)
       + (SELECT count(*) FROM bbs) + (SELECT count(*) FROM ces)
  UNION ALL SELECT 'mo:source_id',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.source_id') IS NOT NULL)
  UNION ALL SELECT 'mo:record_id',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.record_id') IS NOT NULL)
  UNION ALL SELECT 'mo:created_by',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.created_by') IS NOT NULL)
  UNION ALL SELECT 'mo:modified_at',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.modified_at') IS NOT NULL)
  UNION ALL SELECT 'rdfs:label',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.name') IS NOT NULL)
  UNION ALL SELECT 'mo:aliases',
    (SELECT coalesce(sum(json_array_length(j, '$.aliases')), 0) FROM rec)
  UNION ALL SELECT 'mo:site_rank',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.site_rank') IS NOT NULL)
  UNION ALL SELECT 'mo:site_type',
    (SELECT count(*) FROM rec WHERE json_extract(j, '$.site_type') IS NOT NULL)
  UNION ALL SELECT 'mo:location_info', (SELECT count(*) FROM loc)
  UNION ALL SELECT 'mo:country',
    (SELECT coalesce(sum(json_array_length(l, '$.country')), 0) FROM loc)
  UNION ALL SELECT 'mo:state_or_province',
    (SELECT coalesce(sum(json_array_length(l, '$.state_or_province')), 0) FROM loc)
  UNION ALL SELECT 'mo:crs',
    (SELECT count(*) FROM loc WHERE json_extract(l, '$.crs') IS NOT NULL)
  UNION ALL SELECT 'mo:location',
    (SELECT count(*) FROM loc WHERE json_extract(l, '$.location') IS NOT NULL)
  UNION ALL SELECT 'mo:deposit_type_candidate',
    (SELECT coalesce(sum(json_array_length(j, '$.deposit_type_candidate')), 0)
     FROM rec)
  UNION ALL SELECT 'mo:mineral_inventory', (SELECT count(*) FROM invs)
  UNION ALL SELECT 'mo:commodity',
    (SELECT count(*) FROM invs WHERE json_extract(inv, '$.commodity') IS NOT NULL)
  -- mo:reference: one per inventory carrying a reference + one per
  -- site-level reference list entry
  UNION ALL SELECT 'mo:reference',
    (SELECT count(*) FROM irefs) + (SELECT count(*) FROM srefs)
  UNION ALL SELECT 'mo:date',
    (SELECT count(*) FROM invs WHERE json_extract(inv, '$.date') IS NOT NULL)
  UNION ALL SELECT 'mo:zone',
    (SELECT count(*) FROM invs WHERE json_extract(inv, '$.zone') IS NOT NULL)
  UNION ALL SELECT 'mo:category',
    (SELECT coalesce(sum(json_array_length(inv, '$.category')), 0) FROM invs)
  UNION ALL SELECT 'mo:material_form',
    (SELECT count(*) FROM invs
     WHERE json_extract(inv, '$.material_form') IS NOT NULL)
  UNION ALL SELECT 'mo:grade',
    (SELECT count(*) FROM invs WHERE json_extract(inv, '$.grade') IS NOT NULL)
  UNION ALL SELECT 'mo:cutoff_grade',
    (SELECT count(*) FROM invs
     WHERE json_extract(inv, '$.cutoff_grade') IS NOT NULL)
  UNION ALL SELECT 'mo:ore',
    (SELECT count(*) FROM invs WHERE json_extract(inv, '$.ore') IS NOT NULL)
  UNION ALL SELECT 'mo:value',
    (SELECT count(*) FROM meas WHERE json_extract(m, '$.value') IS NOT NULL)
  UNION ALL SELECT 'mo:unit',
    (SELECT count(*) FROM meas WHERE json_extract(m, '$.unit') IS NOT NULL)
  -- each reference call: one mo:document edge; doc dataprops repeat per
  -- call (the emitter does not dedup shared documents)
  UNION ALL SELECT 'mo:document', (SELECT count(*) FROM refs)
  UNION ALL SELECT 'mo:doi',
    (SELECT count(*) FROM refs
     WHERE json_extract(r, '$.document.doi') IS NOT NULL)
  UNION ALL SELECT 'mo:uri',
    (SELECT count(*) FROM refs
     WHERE json_extract(r, '$.document.uri') IS NOT NULL)
  UNION ALL SELECT 'mo:title',
    (SELECT count(*) FROM refs
     WHERE json_extract(r, '$.document.title') IS NOT NULL)
  UNION ALL SELECT 'mo:page_info', (SELECT count(*) FROM pis)
  UNION ALL SELECT 'mo:page',
    (SELECT count(*) FROM pis WHERE json_extract(pi, '$.page') IS NOT NULL)
  UNION ALL SELECT 'mo:bounding_box', (SELECT count(*) FROM bbs)
  UNION ALL SELECT 'mo:x_min',
    (SELECT count(*) FROM bbs WHERE json_extract(bb, '$.x_min') IS NOT NULL)
  UNION ALL SELECT 'mo:x_max',
    (SELECT count(*) FROM bbs WHERE json_extract(bb, '$.x_max') IS NOT NULL)
  UNION ALL SELECT 'mo:y_min',
    (SELECT count(*) FROM bbs WHERE json_extract(bb, '$.y_min') IS NOT NULL)
  UNION ALL SELECT 'mo:y_max',
    (SELECT count(*) FROM bbs WHERE json_extract(bb, '$.y_max') IS NOT NULL)
  UNION ALL SELECT 'mo:comment',
    (SELECT count(*) FROM refs WHERE json_extract(r, '$.comment') IS NOT NULL)
  UNION ALL SELECT 'mo:property',
    (SELECT count(*) FROM refs WHERE json_extract(r, '$.property') IS NOT NULL)
  -- CandidateEntity dataprops
  UNION ALL SELECT 'mo:source',
    (SELECT count(*) FROM ces WHERE json_extract(ce, '$.source') IS NOT NULL)
  UNION ALL SELECT 'mo:confidence',
    (SELECT count(*) FROM ces
     WHERE json_extract(ce, '$.confidence') IS NOT NULL)
  UNION ALL SELECT 'mo:observed_name',
    (SELECT count(*) FROM ces
     WHERE json_extract(ce, '$.observed_name') IS NOT NULL)
  UNION ALL SELECT 'mo:normalized_uri',
    (SELECT count(*) FROM ces
     WHERE json_extract(ce, '$.normalized_uri') IS NOT NULL)
)
SELECT pred, CAST(n AS BIGINT) AS n FROM counts WHERE n > 0 ORDER BY pred
"""


def _sameas_inputs(n_sites: int):
    """Shared INPUT of the same-as flow: site-id nodes, auto-link star
    edges (grouped mechanically by (source_id, record_id) — J3's input
    relation, not its join), system chain edges, curated rows."""
    from ..sources import synthetic

    nodes: list[str] = []
    by_key: dict[tuple, list[str]] = {}
    for n in range(n_sites):
        variants = [(False,)] + ([(True,)] if synthetic.has_expert_dup(n) else [])
        for (expert,) in variants:
            sid = synthetic.site_id_of(n, n_sites, expert=expert)
            nodes.append(sid)
            key = (
                synthetic.source_of(n, n_sites),
                synthetic.record_id_of(n, n_sites),
            )
            by_key.setdefault(key, []).append(sid)

    auto_edges = []
    for ids in by_key.values():
        if len(ids) > 1:
            u = min(ids)
            auto_edges.extend((u, v) for v in ids if v != u)

    system_edges = [
        (
            synthetic.site_id_of(n - 1, n_sites),
            synthetic.site_id_of(n, n_sites),
        )
        for n in range(n_sites)
        if synthetic.cluster_of(n, n_sites)[1] > 0
    ]
    curated = synthetic.synthesize_curated_edges(n_sites)
    return nodes, auto_edges + system_edges, curated


def kg_sameas_triples_oracle_sql(n_sites: int) -> str:
    return f"""
WITH RECURSIVE {_membership_ctes(n_sites)},
sizes AS (SELECT component, count(*) AS n FROM canonm GROUP BY component),
-- star emission (etl/same_as.py:324-334): canon sameAs member, self-link
-- only for singletons
star AS (
  SELECT 'mr:' || c.component AS subj, 'owl:sameAs' AS pred,
         'mr:' || c.node AS obj
  FROM canonm c JOIN sizes s USING (component)
  WHERE c.node != c.component OR s.n = 1
)
SELECT subj, pred, obj FROM star ORDER BY subj, obj
"""


def _membership_ctes(n_sites: int) -> str:
    """The shared G1-G5 membership program (nodes → canonm), used by both
    the sameas and the dedup-merge oracles."""
    nodes, edges, curated = _sameas_inputs(n_sites)
    node_values = ",\n".join(f"({_q(s)})" for s in sorted(set(nodes)))
    edge_values = ",\n".join(f"({_q(a)}, {_q(b)})" for a, b in edges)
    cur_values = ",\n".join(
        f"({_q(r['ms_1'])}, {_q(r['ms_2'])}, {int(r['time_ns'])}, {int(r['is_same'])})"
        for r in curated
    )
    return f"""nodes(node) AS (VALUES
{node_values}),
edges0(a, b) AS (VALUES
{edge_values}),
edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
reach(node, canon) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.canon FROM reach r JOIN edges e ON e.a = r.node
),
auto_member AS (SELECT node, min(canon) AS component FROM reach GROUP BY node),
cur(a, b, t, is_same) AS (VALUES
{cur_values}),
pos AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b, max(t) AS t FROM cur
  WHERE is_same = 1 GROUP BY 1, 2
),
neg AS (
  SELECT least(a, b) AS a, greatest(a, b) AS b, min(t) AS t FROM cur
  WHERE is_same = 0 GROUP BY 1, 2
),
pos_kept AS (
  SELECT p.a, p.b FROM pos p LEFT JOIN neg n ON n.a = p.a AND n.b = p.b
  WHERE n.a IS NULL OR n.t > p.t
),
gold_nodes AS (SELECT a AS node FROM pos UNION SELECT b FROM pos),
gedges AS (SELECT a, b FROM pos_kept UNION SELECT b, a FROM pos_kept),
greach(node, canon) AS (
  SELECT node, node FROM gold_nodes
  UNION
  SELECT e.b, r.canon FROM greach r JOIN gedges e ON e.a = r.node
),
gold AS (SELECT node, min(canon) AS component FROM greach GROUP BY node),
affected AS (
  SELECT DISTINCT m.component FROM auto_member m
  JOIN gold g ON g.node = m.node
),
untouched AS (
  SELECT node, component FROM auto_member
  WHERE component NOT IN (SELECT component FROM affected)
),
dissolved AS (
  SELECT node, component FROM auto_member
  WHERE component IN (SELECT component FROM affected)
),
remainder AS (
  SELECT d.node, 'rem__' || d.component AS component FROM dissolved d
  WHERE d.node NOT IN (SELECT node FROM gold)
),
newm AS (
  SELECT node, component FROM untouched
  UNION ALL SELECT node, component FROM gold
  UNION ALL SELECT node, component FROM remainder
),
known AS (SELECT node, component FROM newm
          WHERE node IN (SELECT node FROM nodes)),
singles AS (
  SELECT node, node AS component FROM nodes
  WHERE node NOT IN (SELECT node FROM known)
),
member AS (SELECT * FROM known UNION ALL SELECT * FROM singles),
canonm AS (
  SELECT m.node, l.canon AS component FROM member m
  JOIN (SELECT component, min(node) AS canon FROM member GROUP BY component) l
  USING (component)
)"""


def kg_dedup_sites_oracle_sql(n_sites: int) -> str:
    """Oracle for the FLAGSHIP kg_dedup_sites entry: membership (shared
    G1-G5 program), SiteScore ranking, first-non-null name merge, and the
    A4 top-1 deposit type — all restated in DuckDB over the inlined raw
    corpus + data-source vocabulary.

    Restated semantics (independent of engine code):
    - SiteScore (`kgrel/custom_types/site_and_score.py:50-60`): experts
      (non-system created_by) score 1.0; systems
      ``min(max-of(source score if >= 0, else 0.5-default), 0.99)``;
      rank order = (score, is_expert, source_id, record_id, modified_at,
      site_id) DESC — the engine's deterministic site_id tie-break.
    - name: first non-null in rank order with provenance refid
      (`ref_value.py:22-29`).
    - top-1 deposit type (`dedup_mineral_site.py:460-493`): per dt dedup
      keeping max (confidence, site rank) with strict-greater replace;
      final order (key DESC, first-appearance ASC).
    - modified_at: max of the reference's float-nanosecond parse
      (`misc/utils.py:162-171` — double seconds × 1e9, truncated).
    """
    from ..sources import synthetic
    from ..sources.vocab import synthetic_vocab

    recs = []
    for n in range(n_sites):
        recs.append(
            (
                synthetic.site_id_of(n, n_sites),
                json.dumps(synthetic.make_record(n, n_sites), sort_keys=True),
            )
        )
        if synthetic.has_expert_dup(n):
            recs.append(
                (
                    synthetic.site_id_of(n, n_sites, expert=True),
                    json.dumps(
                        synthetic.make_record(n, n_sites, expert=True),
                        sort_keys=True,
                    ),
                )
            )
    rec_values = ",\n".join(f"({_q(s)}, {_q(j)})" for s, j in recs)
    ds_values = ",\n".join(
        f"({_q(r['uri'])}, {_sql_vocab_score(r['score'])})"
        for r in synthetic_vocab()["data_source"]
    )
    mr = "https://minmod.isi.edu/resource/"
    sys_prefix = "https://minmod.isi.edu/users/s/"
    return f"""
WITH RECURSIVE {_membership_ctes(n_sites)},
rec(site_id, j) AS (VALUES
{rec_values}),
ds(uri, score) AS (VALUES
{ds_values}),
site AS (
  SELECT r.site_id, c.component,
    json_extract_string(r.j, '$.name') AS name,
    json_extract_string(r.j, '$.created_by') AS created_by,
    json_extract_string(r.j, '$.source_id') AS source_id,
    json_extract_string(r.j, '$.record_id') AS record_id,
    CAST(trunc(epoch(strptime(json_extract_string(r.j, '$.modified_at'),
        '%Y-%m-%dT%H:%M:%S.%fZ')) * 1e9) AS BIGINT) AS ts,
    r.j AS j
  FROM rec r JOIN canonm c ON c.node = r.site_id
),
scored AS (
  SELECT *,
    (created_by NOT LIKE '{sys_prefix}%') AS is_expert,
    CASE WHEN created_by NOT LIKE '{sys_prefix}%' THEN 1.0
         ELSE least(coalesce(
           (SELECT d.score FROM ds d
            WHERE d.uri = source_id AND d.score >= 0), 0.5), 0.99)
    END AS score
  FROM site
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY component
    ORDER BY score DESC, is_expert DESC,
      CASE WHEN is_expert THEN '' ELSE source_id END DESC,
      CASE WHEN is_expert THEN '' ELSE record_id END DESC,
      ts DESC, site_id DESC
  ) - 1 AS rank_i
  FROM scored
),
cands0 AS (
  SELECT component, site_id, rank_i,
    unnest(json_extract(j, '$.deposit_type_candidate[*]')) AS cand,
    unnest(generate_series(1,
      coalesce(json_array_length(j, '$.deposit_type_candidate'), 0)::INT)) AS jdx
  FROM ranked
),
cands AS (
  SELECT component, site_id, rank_i, jdx,
    CASE WHEN json_extract_string(cand, '$.normalized_uri') LIKE '{mr}%'
         THEN substr(json_extract_string(cand, '$.normalized_uri'),
                     {len(mr) + 1})
         ELSE json_extract_string(cand, '$.normalized_uri') END AS dt_id,
    json_extract(cand, '$.confidence')::DOUBLE AS conf
  FROM cands0
  WHERE json_extract(cand, '$.normalized_uri') IS NOT NULL
),
-- A4 key = (confidence, -rank_i) with strict-greater replace: per dt
-- keep the (conf DESC, rank ASC, candidate-index ASC) winner
best_per_dt AS (
  SELECT component, dt_id, conf AS best_conf, rank_i AS best_rank,
         min(rank_i * 1000000 + jdx)
           OVER (PARTITION BY component, dt_id) AS first_seen
  FROM cands
  QUALIFY row_number() OVER (
    PARTITION BY component, dt_id
    ORDER BY conf DESC, rank_i ASC, jdx ASC) = 1
),
top1 AS (
  SELECT component, dt_id FROM best_per_dt
  QUALIFY row_number() OVER (
    PARTITION BY component
    ORDER BY best_conf DESC, best_rank ASC, first_seen ASC) = 1
),
grp AS (
  SELECT component,
    min_by(name, rank_i) FILTER (WHERE name IS NOT NULL) AS name,
    min_by(site_id, rank_i) FILTER (WHERE name IS NOT NULL) AS name_ref,
    count(*) AS n_sites,
    max(ts) AS modified_at
  FROM ranked GROUP BY component
)
SELECT 'dedup_' || g.component AS dedup_site_id, g.name, g.name_ref,
       t.dt_id AS top1_deposit_type,
       CAST(g.n_sites AS BIGINT) AS n_sites,
       CAST(g.modified_at AS BIGINT) AS modified_at
FROM grp g LEFT JOIN top1 t USING (component)
ORDER BY dedup_site_id
"""


def _sql_vocab_score(v):
    return "NULL" if v is None else repr(float(v))


def kg_stats_oracle_sql(n_sites: int) -> str:
    """Oracle for kg_stats: the reference's three count-by-commodity SPARQL
    queries (`minmodkg/api/routers/stats.py:105-167`) restated in DuckDB
    over the inlined raw corpus + commodity vocabulary.

    Identities restated from first principles, no engine code:
    - an inventory node is unique per (record, index) → count(*);
    - a site subject is unique per (created_by, source_id, record_id);
    - a document's identity is its uri, else doi, else (site, title)
      (`minmodkg/transformations.py:154-170` minting semantics).
    """
    from ..sources.vocab import MR, synthetic_vocab

    corpus = ",\n".join(f"({_q(s)})" for s in _corpus_json(n_sites))
    comm = ",\n".join(
        f"({_q(MR + r['minmod_id'])}, {_q(r['name'])})"
        for r in synthetic_vocab()["commodity"]
    )
    return f"""
WITH rec(j) AS (VALUES
{corpus}),
commodity(uri, label) AS (VALUES
{comm}),
inv0 AS (
  SELECT json_extract_string(j, '$.created_by') || '|'
      || json_extract_string(j, '$.source_id') || '|'
      || json_extract_string(j, '$.record_id') AS site_key,
    unnest(json_extract(j, '$.mineral_inventory[*]')) AS inv
  FROM rec
),
inv AS (
  SELECT site_key, inv,
    json_extract_string(inv, '$.commodity.normalized_uri') AS curi,
    CASE
      WHEN json_extract(inv, '$.reference.document.uri') IS NOT NULL
        THEN 'U:' || json_extract_string(inv, '$.reference.document.uri')
      WHEN json_extract(inv, '$.reference.document.doi') IS NOT NULL
        THEN 'D:' || json_extract_string(inv, '$.reference.document.doi')
      WHEN json_extract(inv, '$.reference.document.title') IS NOT NULL
        THEN 'T:' || site_key || '|'
          || json_extract_string(inv, '$.reference.document.title')
    END AS doc_key
  FROM inv0
  WHERE json_extract(inv, '$.commodity.normalized_uri') IS NOT NULL
)
SELECT c.uri AS commodity_uri, c.label AS commodity_label,
       CAST(count(*) AS BIGINT) AS n_inventories,
       CAST(count(DISTINCT i.site_key) AS BIGINT) AS n_sites,
       CAST(count(DISTINCT i.doc_key) AS BIGINT) AS n_documents
FROM inv i JOIN commodity c ON i.curi = c.uri
GROUP BY c.uri, c.label
ORDER BY commodity_uri
"""


def kg_lod_closure_oracle_sql(n_sites: int) -> str:
    """Hard oracle for the Q4 LOD closure (VERDICT r04 #3).

    Shared INPUT: the corpus triple rows, produced by the pure-python
    per-record kernel (functions/rdf.py site_to_triples) over the
    deterministic synthetic corpus and inlined as VALUES — the same
    technique as _corpus_json.  Triple EMISSION is independently checked
    elsewhere (kg_triples per-predicate VALUES oracle + refshim byte
    parity P/R=1.0); what THIS oracle restates independently is the
    closure ALGEBRA of `minmodkg/services/sync/kgsync_listener.py:103-118`
    — `<uri> (!(owl:sameAs|rdf:type|mo:normalized_uri))* ?s` reachability
    with owl:sameAs excluded from the result — as a DuckDB WITH RECURSIVE
    program over those rows (UNION recursion is the cycle guard, exactly
    the monotone-frontier argument of plans/serving.py lod_closure).
    """
    from ..functions.rdf import site_to_triples
    from ..operators.constrained import document_error

    triples: set[tuple[str, str, str]] = set()
    for rec in _corpus_json(n_sites):
        err, site = document_error(None, rec)
        if err is not None:
            continue
        _, ts = site_to_triples(site)
        triples.update(ts)
    values = ",\n".join(
        f"({_q(s)},{_q(p)},{_q(o)})" for s, p, o in sorted(triples)
    )
    return f"""
WITH RECURSIVE t(subj, pred, obj) AS (VALUES
{values}),
start(s) AS (SELECT min(subj) FROM t WHERE pred = 'mo:source_id'),
reach(s) AS (
  SELECT s FROM start
  UNION
  SELECT t.obj FROM t JOIN reach r ON t.subj = r.s
  WHERE t.pred NOT IN ('owl:sameAs', 'rdf:type', 'mo:normalized_uri')
)
SELECT DISTINCT t.subj AS subj, t.pred AS pred, t.obj AS obj
FROM t JOIN reach r ON t.subj = r.s
WHERE t.pred != 'owl:sameAs'
ORDER BY subj, pred, obj
"""


# Deterministic perturbed probe mentions appended by the kg_entity_linking
# entry (and this oracle) so the 7-dim score is exercised off the exact-match
# saturation point: typos (Levenshtein/JW partials), token reorder
# (symmetric Monge-Elkan), token subset/superset (hybrid Jaccard), duplicate
# tokens (full-token-list vs distinct-set divergence), digits (ordinal
# guard), mixed case + irregular whitespace (normalization), abbreviations
# (the sim<0.7 ordinal 0.4 path).
LINK_PROBES: list[tuple[str, str]] = [
    ("probe::00", "Porfyry coper"),
    ("probe::01", "copper porphyry"),
    ("probe::02", "gold"),
    ("probe::03", "Carlin type gold deposit"),
    ("probe::04", "VMS zinc"),
    ("probe::05", "Epithermal Au-Ag"),
    ("probe::06", "lithium lithium brine"),
    ("probe::07", "Skarn tungsten 2"),
    ("probe::08", "  Orogenic   GOLD"),
    ("probe::09", "banded iron-formation"),
    ("probe::10", "nickle laterite"),
    ("probe::11", "Sediment hosted Cu"),
]


def kg_entity_linking_oracle_sql(n_sites: int) -> str:
    """Hard oracle for kg_entity_linking (VERDICT r04 #1).

    Shared INPUT: the unlinked deposit-type mentions, re-derived driver-side
    from the raw synthetic records by plain dict traversal (candidates with
    ``normalized_uri`` null — no Spark, no operators/linking.py), plus the
    deposit-type vocabulary names — both inlined as VALUES.

    The 7-dim similarity of `minmodkg/entity_linking.py:114-170` is then
    restated ENTIRELY in DuckDB SQL with zero engine code in the scoring
    path:

    - Levenshtein similarity and Jaro-Winkler from DuckDB's builtins
      (``levenshtein``, ``jaro_winkler_similarity`` — cross-checked
      bit-identical to the published algorithms the engine implements on
      500 random pairs, the only divergence being the degenerate ''~''
      case, guarded below);
    - Monge-Elkan and its symmetric mean as nested list lambdas
      (mean over a-tokens of the max JW match in b);
    - hybrid Jaccard's greedy max-weight 1:1 matching as a WITH RECURSIVE
      program: each step picks the lexicographically-largest remaining
      (score, i, j) pair per (mention, doc) group — exactly the
      ``pairs.sort(reverse=True)`` greedy order — and retires its row and
      column; ``arg_max(total, m)`` reads off the final state;
    - the ordinal-digit guard via ``regexp_extract_all``;
    - argmax doc per mention with the engine's tie-break (first doc in
      vocabulary order) via ``row_number() OVER (ORDER BY score DESC,
      idx ASC)``.
    """
    from ..operators.constrained import document_error
    from ..sources import synthetic
    from ..sources.vocab import synthetic_vocab

    mentions: list[tuple[str, str]] = []
    for n in range(n_sites):
        variants = [False] + ([True] if synthetic.has_expert_dup(n) else [])
        for expert in variants:
            rec = synthetic.make_record(n, n_sites, expert=expert)
            if document_error(None, json.dumps(rec))[0] is not None:
                continue
            sid = synthetic.site_id_of(n, n_sites, expert=expert)
            for i, c in enumerate(rec.get("deposit_type_candidate") or []):
                if (
                    c.get("normalized_uri") is None
                    and c.get("observed_name") is not None
                ):
                    mentions.append((f"dt::{sid}::{i}", c["observed_name"]))
    mentions.extend(LINK_PROBES)
    m_values = ",\n".join(f"({_q(m)}, {_q(t)})" for m, t in mentions)
    d_values = ",\n".join(
        f"({i}, {_q(r['minmod_id'])}, {_q(r['deposit_type'])})"
        for i, r in enumerate(synthetic_vocab()["deposit_type"])
    )
    return f"""
WITH RECURSIVE m(mention_id, text) AS (VALUES
{m_values}),
d(idx, entity_id, name) AS (VALUES
{d_values}),
pair AS (
  SELECT m.mention_id, m.text, d.idx, d.entity_id, d.name,
         lower(m.text) AS t, lower(d.name) AS l,
         list_filter(regexp_split_to_array(trim(lower(m.text)), '\\s+'),
                     x -> x <> '') AS tw,
         list_filter(regexp_split_to_array(trim(lower(d.name)), '\\s+'),
                     x -> x <> '') AS lw
  FROM m CROSS JOIN d
),
feat0 AS (
  SELECT *,
    list_sort(list_distinct(tw)) AS tu,
    list_sort(list_distinct(lw)) AS lu,
    CASE WHEN t = l THEN 1.0
         WHEN len(t) = 0 OR len(l) = 0 THEN 0.0
         ELSE 1.0 - CAST(levenshtein(t, l) AS DOUBLE)
                    / greatest(len(t), len(l)) END AS f1,
    CASE WHEN t = '' AND l = '' THEN 1.0
         ELSE jaro_winkler_similarity(t, l) END AS f2,
    CASE WHEN len(tw) = 0 OR len(lw) = 0 THEN 0.0
         ELSE list_avg(list_transform(tw, ta ->
                list_max(list_transform(lw, tb ->
                  jaro_winkler_similarity(ta, tb))))) END AS me_ab,
    CASE WHEN len(tw) = 0 OR len(lw) = 0 THEN 0.0
         ELSE list_avg(list_transform(lw, tb ->
                list_max(list_transform(tw, ta ->
                  jaro_winkler_similarity(ta, tb))))) END AS me_ba
  FROM pair
),
tp0 AS (
  SELECT mention_id, idx,
    unnest(flatten(list_transform(range(1, len(tu) + 1), i ->
      list_transform(range(1, len(lu) + 1), j ->
        struct_pack(i := i, j := j,
                    s := jaro_winkler_similarity(tu[i], lu[j])))))) AS p
  FROM feat0
),
tp AS (
  SELECT mention_id, idx, p.i AS i, p.j AS j, p.s AS s
  FROM tp0 WHERE p.s >= 0.5
),
greedy(mention_id, idx, used_i, used_j, total, mm) AS (
  SELECT mention_id, idx, CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
         CAST(0.0 AS DOUBLE), 0
  FROM feat0
  UNION ALL
  SELECT g.mention_id, g.idx,
         list_append(g.used_i, p.i), list_append(g.used_j, p.j),
         g.total + p.s, g.mm + 1
  FROM greedy g JOIN LATERAL (
    SELECT tp.i, tp.j, tp.s FROM tp
    WHERE tp.mention_id = g.mention_id AND tp.idx = g.idx
      AND NOT list_contains(g.used_i, tp.i)
      AND NOT list_contains(g.used_j, tp.j)
    ORDER BY tp.s DESC, tp.i DESC, tp.j DESC LIMIT 1
  ) p ON true
),
hj AS (
  SELECT mention_id, idx, arg_max(total, mm) AS total, max(mm) AS mm
  FROM greedy GROUP BY mention_id, idx
),
feat AS (
  SELECT f.mention_id, f.idx, f.entity_id,
    f.f1, f.f2, f.me_ab,
    (f.me_ab + f.me_ba) / 2.0 AS f4,
    CASE WHEN len(f.tu) = 0 OR len(f.lu) = 0 THEN 0.0
         ELSE h.total / (len(f.tu) + len(f.lu) - h.mm) END AS f5,
    regexp_extract_all(f.text, '[0-9]+') AS d1,
    regexp_extract_all(f.name, '[0-9]+') AS d2
  FROM feat0 f JOIN hj h ON f.mention_id = h.mention_id AND f.idx = h.idx
),
scored AS (
  SELECT mention_id, idx, entity_id,
    (f1 + f2 + me_ab + f4 + f5
     + CASE WHEN f4 < 0.7 THEN 0.4 WHEN d1 = d2 THEN 1.0
            WHEN len(d1) = 0 OR len(d2) = 0 THEN 0.4 ELSE 0.0 END
     + CASE WHEN f5 < 0.7 THEN 0.4 WHEN d1 = d2 THEN 1.0
            WHEN len(d1) = 0 OR len(d2) = 0 THEN 0.4 ELSE 0.0 END
    ) / 7.0 AS score
  FROM feat
),
best AS (
  SELECT mention_id, entity_id, score,
         row_number() OVER (PARTITION BY mention_id
                            ORDER BY score DESC, idx ASC) AS rn
  FROM scored
)
SELECT mention_id, entity_id, round(score, 6) AS score
FROM best WHERE rn = 1
ORDER BY mention_id
"""


def _load_refshim():
    """Load tests/refshim.py by file path (tests/ is not a package) and
    return the executed-reference namespace."""
    import importlib.util
    import os
    import sys

    p = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", "tests", "refshim.py")
    )
    spec = importlib.util.spec_from_file_location("kg_oracle_refshim", p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod.load_reference()


def _gt_inventory_groups(
    n_sites: int,
) -> dict[tuple[str, str], list[tuple[bool, dict]]]:
    """Per-(site, commodity) inventory groups re-derived from the RAW
    synthetic records by plain dict traversal (no Spark, no
    operators/extract.py) — the shared input of the grade-tonnage and CDR
    oracles.  Restates explode_inventories' field mapping
    (`operators/extract._gt_input` semantics: commodity must be
    normalized; ``valid_gt`` checks ore/grade value+unit and a non-empty
    RAW category list; category URIs keep only normalized entries;
    material-form conversion resolves via the commodity_form vocabulary).
    """
    from ..operators.constrained import document_error
    from ..sources import synthetic
    from ..sources.vocab import MR, synthetic_vocab

    form_conv = {
        MR + r["minmod_id"]: float(r["conversion"])
        for r in synthetic_vocab()["commodity_form"]
        if r.get("conversion") is not None
    }

    groups: dict[tuple[str, str], list[tuple[bool, dict]]] = {}
    for n in range(n_sites):
        variants = [False] + ([True] if synthetic.has_expert_dup(n) else [])
        for expert in variants:
            rec = synthetic.make_record(n, n_sites, expert=expert)
            if document_error(None, json.dumps(rec))[0] is not None:
                continue
            sid = synthetic.site_id_of(n, n_sites, expert=expert)
            for inv in rec.get("mineral_inventory") or []:
                curi = (inv.get("commodity") or {}).get("normalized_uri")
                if curi is None:
                    continue
                commodity = curi.replace(MR, "")
                raw_cats = inv.get("category") or []
                ore = inv.get("ore") or {}
                grade = inv.get("grade") or {}
                valid = (
                    ore.get("value") is not None
                    and (ore.get("unit") or {}).get("normalized_uri") is not None
                    and grade.get("value") is not None
                    and (grade.get("unit") or {}).get("normalized_uri") is not None
                    and len(raw_cats) > 0
                )
                mf_uri = (inv.get("material_form") or {}).get("normalized_uri")
                entry = {
                    "date": inv.get("date"),
                    "zone": inv.get("zone"),
                    "category": [
                        c["normalized_uri"]
                        for c in raw_cats
                        if c.get("normalized_uri") is not None
                    ],
                    "material_form_conversion": form_conv.get(mf_uri),
                    "ore_value": ore.get("value"),
                    "ore_unit": (ore.get("unit") or {}).get("normalized_uri"),
                    "grade_value": grade.get("value"),
                    "grade_unit": (grade.get("unit") or {}).get("normalized_uri"),
                }
                groups.setdefault((sid, commodity), []).append((valid, entry))
    return groups


def _gt_totals_py(ref, n_sites: int) -> dict[tuple[str, str], tuple]:
    """(site_id, commodity) → (contained_metal, tonnage, grade) from the
    REFERENCE'S OWN executed GradeTonnageModel over the pure traversal
    (all-None when the model yields no total estimate — the reference's
    null inventory view, kgrel/mineral_site.py:126-139)."""
    MI = ref.grade_tonnage.GradeTonnageModel.MineralInventory
    model = ref.grade_tonnage.GradeTonnageModel()
    out = {}
    for (sid, comm), invs in _gt_inventory_groups(n_sites).items():
        clean = [e for v, e in invs if v]
        gt = None
        if clean:
            gt = model(
                [
                    MI(
                        id=str(i),
                        date=e["date"],
                        zone=e["zone"],
                        category=e["category"],
                        material_form_conversion=e["material_form_conversion"],
                        ore_value=e["ore_value"],
                        ore_unit=e["ore_unit"],
                        grade_value=e["grade_value"],
                        grade_unit=e["grade_unit"],
                    )
                    for i, e in enumerate(clean)
                ]
            )
        te = gt.total_estimate if gt is not None else None
        if te is not None:
            out[(sid, comm)] = (te.contained_metal, te.tonnage, te.get_grade())
        else:
            out[(sid, comm)] = (None, None, None)
    return out


def kg_grade_tonnage_oracle_sql(n_sites: int) -> str:
    """Hard oracle for kg_grade_tonnage (VERDICT r04 #1 — 'the genuinely
    hard one').

    The per-(site, commodity) inventory groups are re-derived from the raw
    synthetic records by plain dict traversal (no Spark, no
    operators/extract.py), then the REFERENCE'S OWN ``GradeTonnageModel``
    (`minmodkg/grade_tonnage_model.py:245-459`, executed via
    tests/refshim.py — the same loader behind the pass(R) parity gates) is
    run on each group.  The expected totals are inlined UNROUNDED as
    VALUES; the only SQL-side computation is ``round(x, 6)`` — std::round
    half-away-from-zero on the BINARY double.  NOTE (r06): Spark's
    ``F.round`` is NOT equivalent — it re-parses the shortest decimal
    repr (BigDecimal.valueOf, HALF_UP) and diverges when x*1e6 lands
    exactly on .5 in binary; the engine entry therefore rounds with an
    explicit floor(|x|*1e6 + 0.5) expression matching DuckDB bit-exactly
    (plans/queries.py kg_grade_tonnage round6).

    Independence: zero engine code touches the expected values — the
    traversal restates explode_inventories' field mapping
    (`operators/extract._gt_input` semantics: commodity must be
    normalized; ``valid_gt`` checks ore/grade value+unit and a non-empty
    RAW category list; category URIs keep only normalized entries;
    material-form conversion resolves via the commodity_form vocabulary)
    and the model itself is the reference's code, not the engine's
    Arrow kernel.
    """
    ref = _load_refshim()
    rows = []
    for (sid, comm), (cm, tn, gr) in _gt_totals_py(ref, n_sites).items():
        if cm is not None:
            rows.append(f"({_q(sid)}, {_q(comm)}, {cm!r}, {tn!r}, {gr!r})")
        else:
            rows.append(f"({_q(sid)}, {_q(comm)}, NULL, NULL, NULL)")
    values = ",\n".join(rows)
    return f"""
SELECT site_id, commodity,
       round(CAST(contained_metal AS DOUBLE), 6) AS contained_metal,
       round(CAST(tonnage AS DOUBLE), 6) AS tonnage,
       round(CAST(grade AS DOUBLE), 6) AS grade
FROM (VALUES
{values}) AS t(site_id, commodity, contained_metal, tonnage, grade)
ORDER BY site_id, commodity
"""


# -- kg_cdr_export oracle (VERDICT r04 #9) ------------------------------------


def _cc_min_label(nodes, edges) -> dict:
    """Connected components with min-node canonical labels (the recursive
    ``reach``/``greach`` CTEs of _membership_ctes, restated as union-find)."""
    parent = {n: n for n in nodes}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for n in nodes:
        comp[n] = find(n)
    return comp


def _membership_py(n_sites: int) -> dict[str, str]:
    """site_id → canonical component (min member id): the G1-G5 program of
    ``_membership_ctes`` translated to pure python over the same
    ``_sameas_inputs`` — auto CC, curated positive/negative override
    (latest-negative wins per pair), gold CC over kept positives,
    dissolution of affected auto components into gold + remainder, then
    min-relabel.  Independent of operators/canonicalize.py."""
    nodes, edges, curated = _sameas_inputs(n_sites)
    node_set = sorted(set(nodes))
    auto = _cc_min_label(node_set, edges)

    pos: dict[tuple, int] = {}
    neg: dict[tuple, int] = {}
    for r in curated:
        a, b = sorted((r["ms_1"], r["ms_2"]))
        t = int(r["time_ns"])
        if int(r["is_same"]) == 1:
            pos[(a, b)] = max(pos.get((a, b), t), t)
        else:
            neg[(a, b)] = min(neg.get((a, b), t), t)
    pos_kept = [p for p, t in pos.items() if p not in neg or neg[p] > t]
    gold_nodes = sorted({x for p in pos for x in p})
    gold = _cc_min_label(gold_nodes, pos_kept)

    affected = {auto[n] for n in gold_nodes if n in auto}
    member: dict[str, str] = {}
    for n in node_set:
        c = auto[n]
        if c not in affected:
            member[n] = c
        elif n in gold:
            member[n] = gold[n]
        else:
            member[n] = "rem__" + c
    # min-relabel within final components (canonm)
    canon: dict[str, str] = {}
    for n, c in member.items():
        canon[c] = min(canon.get(c, n), n)
    return {n: canon[c] for n, c in member.items()}


def _load_ref_dedup_exec():
    """Load tests/ref_dedup_exec.py by file path (tests/ is not a package)
    and return the executed-reference dedup namespace."""
    import importlib.util
    import os
    import sys

    tests_dir = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "..", "tests")
    )
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    p = os.path.join(tests_dir, "ref_dedup_exec.py")
    spec = importlib.util.spec_from_file_location("kg_oracle_ref_dedup", p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def _cdr_expected_records(n_sites: int) -> list[tuple[str, str, str]]:
    """(dedup_site_id, commodity, json) expected rows for kg_cdr_export,
    computed by the REFERENCE'S OWN executed chain with zero engine code
    in the decision path:

    - membership: ``_membership_py`` (pure-python G1-G5 restatement);
    - attribute merge + ranking: the reference's ``from_sites`` +
      ``RefGeologyInfo.from_sites`` + ``top_5_deposit_types`` (AST-loaded,
      tests/ref_dedup_exec.py);
    - inventory selection: the reference's ``select_inventories``;
    - grade-tonnage totals: the reference's ``GradeTonnageModel`` over the
      pure dict traversal (``_gt_totals_py``);
    - record shaping: the reference's ``format_dedup_site`` + pydantic
      ``model_dump_json(exclude_none=True)`` (cdr_schemas.py imported
      directly);
    - public-model defaults: ``DedupMineralSitePublic.from_kgrel``
      semantics restated (api/models/public_dedup_mineral_site.py:208-243
      — name ''/'NotSpecified'/'U' fallbacks, location None-iff-empty,
      format_nanoseconds via the reference's misc.utils).

    Two engine helpers are borrowed for INPUT derivation only, each with
    its own independent test coverage: ``document_error``
    (P5/P6, refshim-fuzzed) and ``_wkt_centroid`` (P3, pure-Snyder math
    goldens) — the reference's own corpus generator uses the same forward
    transforms, so restating the inverse here would re-derive the same
    code, not add independence.  GT doubles are UNROUNDED — the engine's
    A1 kernel is bit-exact to the reference model since the r5
    unit-conversion fix (functions/units.py), so the value-hash compares
    full doubles.
    """
    import importlib
    from types import SimpleNamespace as NS

    from ..operators.constrained import document_error
    from ..operators.extract import _wkt_centroid
    from ..sources import synthetic
    from ..sources.vocab import MR, synthetic_vocab

    rde = _load_ref_dedup_exec()
    rd = rde.load_ref_dedup()
    ref = _load_refshim()
    fmt_ns = importlib.import_module("minmodkg.misc.utils").format_nanoseconds

    v = synthetic_vocab()
    crs_names = {r["minmod_id"]: r["name"] for r in v["crs"]}
    source_scores = {
        r["uri"]: (float(r["score"]) if r["score"] is not None else None)
        for r in v["data_source"]
    }
    commodity_id2name = {r["minmod_id"]: r["name"] for r in v["commodity"]}
    country_id2name = {r["minmod_id"]: r["name"] for r in v["country"]}
    province_id2name = {r["minmod_id"]: r["name"] for r in v["state_or_province"]}

    gt_totals = _gt_totals_py(ref, n_sites)

    from datetime import datetime

    def parse_ns(s: str) -> int:
        # the reference's float path (misc/utils.py:166-171)
        if s.endswith("Z"):
            s = s[:-1] + "+00:00"
        return int(datetime.fromisoformat(s).timestamp() * 1e9)

    def norm_ids(entities):
        return [
            e["normalized_uri"][len(MR):]
            if e["normalized_uri"].startswith(MR)
            else e["normalized_uri"]
            for e in (entities or [])
            if e.get("normalized_uri") is not None
        ]

    def rock(d):
        return None if d is None else NS(unit=d.get("unit"), type=d.get("type"))

    # -- duck MineralSiteAndInventory per corpus record ---------------------
    sites_by_id: dict[str, object] = {}
    for n in range(n_sites):
        variants = [False] + ([True] if synthetic.has_expert_dup(n) else [])
        for expert in variants:
            rec = synthetic.make_record(n, n_sites, expert=expert)
            if document_error(None, json.dumps(rec))[0] is not None:
                continue
            sid = synthetic.site_id_of(n, n_sites, expert=expert)
            loc = rec.get("location_info") or {}
            crs_uri = (loc.get("crs") or {}).get("normalized_uri")
            crs_name = (
                "EPSG:4326"
                if crs_uri is None
                else crs_names.get(crs_uri[len(MR):])
            )
            lat, lon = _wkt_centroid(loc.get("location"), crs_name)
            g = rec.get("geology_info")
            geo = (
                None
                if g is None
                else NS(
                    alteration=g.get("alteration"),
                    concentration_process=g.get("concentration_process"),
                    ore_control=g.get("ore_control"),
                    structure=g.get("structure"),
                    tectonic=g.get("tectonic"),
                    host_rock=rock(g.get("host_rock")),
                    associated_rock=rock(g.get("associated_rock")),
                )
            )
            invs = [
                rde.DuckInvView(
                    commodity=comm,
                    contained_metal=cm,
                    tonnage=tn,
                    grade=gr,
                    date=None,
                )
                for (s2, comm), (cm, tn, gr) in gt_totals.items()
                if s2 == sid
            ]
            ms = NS(
                site_id=sid,
                dedup_site_id=None,
                source_id=rec["source_id"],
                source_score=source_scores.get(rec["source_id"]),
                record_id=str(rec["record_id"]),
                created_by=rec["created_by"],
                modified_at=parse_ns(rec["modified_at"]),
                name=rec.get("name"),
                type=rec.get("site_type"),
                rank=rec.get("site_rank"),
                location_view=NS(
                    lat=lat,
                    lon=lon,
                    country=norm_ids(loc.get("country")),
                    state_or_province=norm_ids(loc.get("state_or_province")),
                ),
                mineral_form=list(rec.get("mineral_form") or []),
                geology_info=geo,
                discovered_year=rec.get("discovered_year"),
                deposit_type_candidates=[
                    NS(
                        normalized_uri=d.get("normalized_uri"),
                        source=d.get("source"),
                        confidence=d.get("confidence"),
                    )
                    for d in (rec.get("deposit_type_candidate") or [])
                ],
            )
            sites_by_id[sid] = NS(ms=ms, invs=invs)

    # -- groups → reference from_sites → public duck → formatter ------------
    membership = _membership_py(n_sites)
    groups: dict[str, list] = {}
    for sid, canon in membership.items():
        groups.setdefault("dedup_" + canon, []).append(sites_by_id[sid])

    SiteScore = rd.SiteScore
    out_rows: list[tuple[str, str, str]] = []
    for dedup_id, members in groups.items():
        # pre-sort by (SiteScore, site_id) DESC so the reference's stable
        # sort reproduces the engine's deterministic tie-break on EXACT
        # SiteScore ties (production ns timestamps make these impossible;
        # the synthetic corpus keeps them possible in principle)
        members = sorted(
            members,
            key=lambda m: (SiteScore.get_score(m.ms), m.ms.site_id),
            reverse=True,
        )
        dmsi = rd.from_sites(members, dedup_site_id=dedup_id)
        dms = dmsi.dms

        loc = NS(
            lat=(dms.coordinates.value.lat if dms.coordinates else None),
            lon=(dms.coordinates.value.lon if dms.coordinates else None),
            country=dms.country.value,
            state_or_province=dms.state_or_province.value,
        )
        if (
            loc.lat is None
            and loc.lon is None
            and not loc.country
            and not loc.state_or_province
        ):
            loc = None
        pub = NS(
            id=dedup_id,
            sites=[NS(id=s.site_id) for s in dms.ranked_sites],
            name=dms.name.value if dms.name is not None else "",
            type=dms.type.value if dms.type is not None else "NotSpecified",
            rank=dms.rank.value if dms.rank is not None else "U",
            location=loc,
            deposit_types=[
                NS(
                    id=dt.value.id,
                    source=dt.value.source,
                    confidence=dt.value.confidence,
                )
                for dt in dms.ranked_deposit_types
            ],
            grade_tonnage=[
                NS(
                    commodity=inv.commodity,
                    total_contained_metal=inv.contained_metal,
                    total_tonnage=inv.tonnage,
                    total_grade=inv.grade,
                )
                for inv in dmsi.invs
            ],
            modified_at=fmt_ns(dms.modified_at),
        )
        recs = rd.format_dedup_site(
            pub, commodity_id2name, country_id2name, province_id2name
        )
        # format_dedup_site appends one record per grade_tonnage entry in
        # order — zip recovers the commodity INTERNAL id (names need not
        # be unique)
        for gt, rec_model in zip(pub.grade_tonnage, recs):
            d = json.loads(rec_model.model_dump_json(exclude_none=True))
            out_rows.append(
                (dedup_id, gt.commodity, json.dumps(d, sort_keys=True))
            )
    return sorted(out_rows)


def kg_cdr_export_oracle_sql(n_sites: int) -> str:
    """VALUES oracle for kg_cdr_export: the expected CDR records computed
    by the executed-reference chain (see _cdr_expected_records)."""
    values = ",\n".join(
        f"({_q(d)}, {_q(c)}, {_q(j)})" for d, c, j in _cdr_expected_records(n_sites)
    )
    return f"""
SELECT dedup_site_id, commodity, json
FROM (VALUES
{values}) AS t(dedup_site_id, commodity, json)
ORDER BY dedup_site_id, commodity
"""
