"""Per-row cost of the five public Python kernels, with no Spark involved.

Inputs are fixed batches taken from the corpus and from a finished build
(prepared with Spark before timing starts); each kernel is then called in
a plain Python loop.  A figure is the median over repeats of the time per
input row (document or group), in microseconds.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

BATCH = 400
REPEATS = 5
MIN_REPEAT_S = 0.05


def _time_per_item(fn, items) -> float:
    """Median microseconds per item over ``REPEATS`` passes."""
    per = []
    for _ in range(REPEATS):
        n, t0 = 0, time.perf_counter()
        while True:
            for it in items:
                fn(it)
            n += len(items)
            el = time.perf_counter() - t0
            if el >= MIN_REPEAT_S:
                break
        per.append(el / n * 1e6)
    return statistics.median(per)


def _plain(v):
    """Arrow-to-pandas values as the kernels receive them in Spark: nested
    structs as dicts; arrays left as they come."""
    if hasattr(v, "asDict"):
        return v.asDict(recursive=True)
    return v


def prepare(spark, docs: list[dict], workdir: str, vocab: dict) -> dict:
    """Fixed kernel inputs: the first ``BATCH`` documents by path and the
    first ``BATCH`` groups by id of a finished build in ``workdir``."""
    from pyspark.sql import functions as F

    from ta2_minmod_kg_spark.operators import dedup, extract

    contents = [d["content"] for d in docs[:BATCH]]
    sites = []
    for c in contents:
        try:
            s = json.loads(c)
        except ValueError:
            continue
        if isinstance(s, dict):
            sites.append(s)

    sites_rel = spark.read.parquet(os.path.join(workdir, "sites_rel"))
    membership = spark.read.parquet(os.path.join(workdir, "membership"))
    swd = sites_rel.drop("dedup_site_id").join(membership, "site_id", "left")

    # grade-tonnage groups: one (site, commodity) with its valid inventories
    inv = extract.explode_inventories(sites_rel, vocab).filter("valid_gt")
    gt_groups = (
        inv.groupBy("site_id", "commodity")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "inv_pos", "date", "zone", "category",
                        "material_form_conversion", "ore_value", "ore_unit",
                        "grade_value", "grade_unit",
                    )
                )
            ).alias("invs")
        )
        .orderBy("site_id", "commodity")
        .limit(BATCH)
        .collect()
    )
    gt_inputs = []
    for g in gt_groups:
        clean = []
        for r in g["invs"]:
            mfc = r["material_form_conversion"]
            clean.append(
                {
                    "date": r["date"],
                    "zone": r["zone"],
                    "category": list(r["category"] or []),
                    "material_form_conversion": None
                    if mfc is None or (isinstance(mfc, float) and math.isnan(mfc))
                    else mfc,
                    "ore_value": r["ore_value"],
                    "ore_unit": r["ore_unit"],
                    "grade_value": r["grade_value"],
                    "grade_unit": r["grade_unit"],
                }
            )
        gt_inputs.append(clean)

    ranked = dedup.with_site_score(swd)
    first_ids = (
        swd.select("dedup_site_id").distinct().orderBy("dedup_site_id").limit(BATCH)
    )
    merge_pdf = (
        ranked.join(first_ids, "dedup_site_id", "left_semi")
        .groupBy("dedup_site_id")
        .agg(F.collect_list(F.struct(*ranked.columns)).alias("sites"))
        .orderBy("dedup_site_id")
        .toPandas()
    )
    merge_inputs = [
        (gid, [_plain(r) for r in rows])
        for gid, rows in zip(merge_pdf["dedup_site_id"], merge_pdf["sites"])
    ]

    inv_views = spark.read.parquet(os.path.join(workdir, "inv_views"))
    sel_pdf = (
        ranked.select(
            "site_id", "dedup_site_id", "source_id", "record_id",
            "modified_at", "score", "is_expert",
        )
        .join(first_ids, "dedup_site_id", "left_semi")
        .join(inv_views, "site_id", "left")
        .groupBy("dedup_site_id")
        .agg(
            F.collect_list(
                F.struct(
                    "site_id", "source_id", "record_id", "modified_at", "score",
                    "is_expert", "commodity", "contained_metal", "tonnage",
                    "grade", "date",
                )
            ).alias("rows")
        )
        .orderBy("dedup_site_id")
        .toPandas()
    )
    select_inputs = [
        (gid, [_plain(r) for r in rows])
        for gid, rows in zip(sel_pdf["dedup_site_id"], sel_pdf["rows"])
    ]
    return {
        "contents": contents,
        "sites": sites,
        "gt": gt_inputs,
        "merge": merge_inputs,
        "select": select_inputs,
    }


def run(inputs: dict) -> dict[str, float]:
    from ta2_minmod_kg_spark.functions.rdf import site_to_triples
    from ta2_minmod_kg_spark.operators.constrained import (
        structural_then_constrained_parsed,
    )
    from ta2_minmod_kg_spark.operators.dedup import (
        merge_group,
        select_inventories_group,
    )
    from ta2_minmod_kg_spark.operators.grade_tonnage import compute_grade_tonnage

    return {
        "extract.validate_us_per_doc": _time_per_item(
            structural_then_constrained_parsed, inputs["contents"]
        ),
        "extract.triples_us_per_doc": _time_per_item(site_to_triples, inputs["sites"]),
        "grade_tonnage.us_per_group": _time_per_item(
            compute_grade_tonnage, inputs["gt"]
        ),
        "dedup.merge_us_per_group": _time_per_item(
            lambda g: merge_group(g[0], list(g[1])), inputs["merge"]
        ),
        "dedup.select_us_per_group": _time_per_item(
            lambda g: select_inventories_group(g[0], list(g[1])), inputs["select"]
        ),
    }
