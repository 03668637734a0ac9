"""Serving requests: the seeded mix, their execution through
``plans.serving``, and an independent evaluation over the output parquet
with pyarrow and plain Python, used to check every answer."""

from __future__ import annotations

import os
import random

import pyarrow.dataset as ds

# (kind, share of the mix)
MIX = (
    ("find_dedup_sites.commodity_gt", 0.4),
    ("find_dedup_sites.paged", 0.2),
    ("find_by_ids", 0.3),
    ("describe_resource", 0.1),
)


def _table(workdir: str, name: str, columns: list[str]) -> list[dict]:
    return (
        ds.dataset(os.path.join(workdir, name), format="parquet", partitioning="hive")
        .to_table(columns=columns)
        .to_pylist()
    )


class Oracle:
    """The output tables of a build, loaded without Spark."""

    def __init__(self, workdir: str):
        sites = _table(workdir, "dedup_sites", ["dedup_site_id", "top1_deposit_type", "country"])
        self.dedup_sites = [
            (
                r["dedup_site_id"],
                r["top1_deposit_type"],
                set((r["country"] or {}).get("value") or ()),
            )
            for r in sites
        ]
        self.invs = _table(
            workdir,
            "dedup_inventories",
            ["dedup_site_id", "commodity", "contained_metal", "tonnage", "grade", "date"],
        )
        self.site_ids = [r["site_id"] for r in _table(workdir, "sites_rel", ["site_id"])]
        self.by_subj: dict[str, list[tuple[str, str]]] = {}
        for r in _table(workdir, "triples", ["subj", "pred", "obj"]):
            self.by_subj.setdefault(r["subj"], []).append((r["pred"], r["obj"]))

    # -- catalogs the request generator draws from (sorted, so a seed
    # always yields the same requests over the same corpus)
    def catalogs(self) -> dict[str, list]:
        countries = sorted({c for _, _, cs in self.dedup_sites for c in cs})
        return {
            "commodities": sorted(
                {r["commodity"] for r in self.invs if r["contained_metal"] is not None}
            ),
            "deposit_types": sorted({d for _, d, _ in self.dedup_sites if d is not None}),
            "countries": countries,
            "site_ids": sorted(set(self.site_ids)),
            "site_subjects": sorted(
                s for s, po in self.by_subj.items() if ("rdf:type", "mo:MineralSite") in po
            ),
        }

    def answer(self, req: tuple) -> object:
        kind, kw = req
        if kind == "find_dedup_sites":
            return self._find_dedup_sites(**kw)
        if kind == "find_by_ids":
            wanted = set(kw["site_ids"])
            return sorted(s for s in self.site_ids if s in wanted)
        subj = kw["subj"]
        first = self.by_subj.get(subj, [])
        out = {(subj, p, o) for p, o in first}
        for o in {o for _, o in first}:
            out.update((o, p2, o2) for p2, o2 in self.by_subj.get(o, []))
        return sorted(out)

    def _find_dedup_sites(
        self,
        commodity=None,
        deposit_type=None,
        country=None,
        has_grade_tonnage=None,
        limit=None,
        offset=0,
    ):
        inv = self.invs
        if commodity is not None:
            inv = [r for r in inv if r["commodity"] == commodity]
        if has_grade_tonnage is True:
            inv = [r for r in inv if r["contained_metal"] is not None]
        elif has_grade_tonnage is False:
            inv = [r for r in inv if r["contained_metal"] is None]
        ids = [
            i
            for i, d, cs in self.dedup_sites
            if (deposit_type is None or d == deposit_type)
            and (country is None or country in cs)
        ]
        if commodity is not None or has_grade_tonnage is not None:
            keep = {r["dedup_site_id"] for r in inv}
            ids = [i for i in ids if i in keep]
        gt: dict[str, list] = {}
        for r in inv:
            gt.setdefault(r["dedup_site_id"], []).append(
                tuple(r[c] for c in ("commodity", "contained_metal", "tonnage", "grade", "date"))
            )
        ids = sorted(ids)[offset:]
        if limit is not None:
            ids = ids[:limit]
        return [(i, _sorted_structs(gt[i]) if i in gt else None) for i in ids]


def _sorted_structs(rows: list[tuple]) -> list[tuple]:
    """Spark's ``sort_array`` order on structs: field by field, nulls first."""
    return sorted(rows, key=lambda t: tuple((v is not None, v) for v in t))


def requests(catalogs: dict, seed: int, n: int) -> list[tuple]:
    rng = random.Random(seed)
    kinds = [k for k, _ in MIX]
    weights = [w for _, w in MIX]
    out = []
    for _ in range(n):
        kind = rng.choices(kinds, weights)[0]
        if kind == "find_dedup_sites.commodity_gt":
            out.append(
                (
                    "find_dedup_sites",
                    {
                        "commodity": rng.choice(catalogs["commodities"]),
                        "has_grade_tonnage": True,
                    },
                )
            )
        elif kind == "find_dedup_sites.paged":
            kw = {"limit": rng.randint(5, 50), "offset": rng.choice((0, 0, 10, 25))}
            if rng.random() < 0.5:
                kw["deposit_type"] = rng.choice(catalogs["deposit_types"])
            else:
                kw["country"] = rng.choice(catalogs["countries"])
            out.append(("find_dedup_sites", kw))
        elif kind == "find_by_ids":
            k = rng.randint(1, 10)
            out.append(("find_by_ids", {"site_ids": rng.sample(catalogs["site_ids"], k)}))
        else:
            out.append(("describe_resource", {"subj": rng.choice(catalogs["site_subjects"])}))
    return out


def execute(req: tuple, tables: dict) -> list:
    """Run one request through ``plans.serving`` and fetch every row."""
    from ta2_minmod_kg_spark.plans import serving

    kind, kw = req
    if kind == "find_dedup_sites":
        df = serving.find_dedup_sites(tables["dedup_sites"], tables["dedup_inventories"], **kw)
    elif kind == "find_by_ids":
        df = serving.find_by_ids(tables["sites_rel"], kw["site_ids"])
    else:
        df = serving.describe_resource(tables["triples"], kw["subj"], hops=1)
    return df.collect()


def normalize(req: tuple, rows: list) -> object:
    """The engine's answer in the oracle's form."""
    kind = req[0]
    if kind == "find_dedup_sites":
        return [
            (
                r["dedup_site_id"],
                None
                if r["grade_tonnage"] is None
                else [tuple(g) for g in r["grade_tonnage"]],
            )
            for r in rows
        ]
    if kind == "find_by_ids":
        return sorted(r["site_id"] for r in rows)
    # a resource description is an RDF graph: a set of triples
    return sorted({(r["subj"], r["pred"], r["obj"]) for r in rows})


def duplicate_rows(req: tuple, rows: list) -> int:
    """Rows of a description that repeat a triple already in it."""
    if req[0] != "describe_resource":
        return 0
    return len(rows) - len({(r["subj"], r["pred"], r["obj"]) for r in rows})


def open_tables(spark, workdir: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(workdir, name))
        for name in ("dedup_sites", "dedup_inventories", "sites_rel", "triples")
    }
