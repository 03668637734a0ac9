"""End-to-end smoke of synthetic ingest → parse → normalize → triples."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import functions as F

from ta2_minmod_kg_spark.functions.rdf import site_to_triples, triples_to_ttl
from ta2_minmod_kg_spark.operators import extract
from ta2_minmod_kg_spark.sources import synthetic, vocab

N = 120


def test_make_record_deterministic():
    a = synthetic.make_record(7, N)
    b = synthetic.make_record(7, N)
    assert a == b
    assert a["source_id"].startswith("https://")
    assert len(a["reference"]) == 1


def test_site_to_triples_shape():
    rec = synthetic.make_record(3, N)
    site_id, triples = site_to_triples(rec)
    assert site_id.startswith("site__")
    subjects = {s for s, _, _ in triples}
    # root typed triple present
    assert (f"mr:{site_id}", "rdf:type", "mo:MineralSite") in triples
    # deterministic: same input, same triple list
    assert site_to_triples(rec)[1] == triples
    # every nested node referenced from somewhere
    objs = {o for _, _, o in triples}
    for s in subjects:
        if s != f"mr:{site_id}" and s.startswith("mr:"):
            assert s in objs
    ttl = triples_to_ttl(triples)
    assert ttl.startswith("@prefix mr:")


def test_ingest_pipeline(spark):
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    rows = ingest.count()
    assert rows > N  # expert duplicates add extra rows

    parsed = extract.parse_sites(ingest)
    ok, bad = extract.split_violations(parsed)
    assert bad.count() == 0
    assert ok.count() == rows

    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(ok, vdfs)
    pdf = sites.toPandas()
    assert len(pdf) == rows
    assert pdf["site_id"].str.startswith("site__").all()
    # sha256 invariant: recompute from content and compare
    raw = ingest.select("content").toPandas()["content"]
    expect = sorted(hashlib.sha256(c.encode()).hexdigest() for c in raw)
    assert sorted(pdf["content_sha256"]) == expect
    # experts duplicate the system rows on (source_id, record_id)
    n_dups = len(pdf) - pdf[["source_id", "record_id"]].drop_duplicates().shape[0]
    assert n_dups == sum(1 for n in range(N) if synthetic.has_expert_dup(n))
    # centroid parsed for POINT rows
    assert pdf["lat"].notna().sum() > 0
    assert pdf["lat"].dropna().between(-90, 90).all()

    triples = extract.extract_triples(ingest)
    tp = triples.toPandas()
    assert (tp["pred"] == "rdf:type").sum() >= rows
    # spark output matches the single-node emitter on the same content
    one = json.loads(raw.iloc[0])
    sid, expected = site_to_triples(one)
    got = set(
        map(tuple, tp[tp["site_id"] == sid][["subj", "pred", "obj"]].values)
    )
    assert set(expected) <= got


def test_extract_triples_arrow_kernel_exact(spark):
    """r06 O8: extract_triples moved from mapInPandas to an Arrow-native
    mapInArrow kernel.  Assert EXACT multiset equality with the per-row
    single-node emitter over the full corpus — plus the bucket-carrying
    variant and quarantine behavior (malformed JSON / bad path charset /
    constrained-type reject emit nothing, valid rows are unaffected)."""
    from collections import Counter

    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    raw = ingest.select("repo", "path", "content").toPandas()

    expected = Counter()
    for _, r in raw.iterrows():
        site = json.loads(r["content"])
        sid, triples = site_to_triples(site)
        for s, p, o in triples:
            expected[(s, p, o, sid)] += 1

    tp = extract.extract_triples(ingest).toPandas()
    got = Counter(map(tuple, tp[["subj", "pred", "obj", "site_id"]].values))
    assert got == expected

    # bucket-carrying variant: every triple tagged with its record's bucket
    bucketed = ingest.withColumn(
        "bucket", (F.xxhash64("path") % 4).cast("int")
    )
    tb = extract.extract_triples(bucketed).toPandas()
    assert Counter(map(tuple, tb[["subj", "pred", "obj", "site_id"]].values)) == expected
    assert set(tb.columns) == {"subj", "pred", "obj", "site_id", "bucket"}
    assert tb["bucket"].notna().all()

    # quarantine: malformed JSON, a bad path charset and a constrained-type
    # reject (confidence 1.5 under a clean path) emit no triples
    site = next(
        s for s in map(json.loads, raw["content"]) if s.get("deposit_type_candidate")
    )
    site["deposit_type_candidate"][0]["confidence"] = 1.5
    poisoned = ingest.unionByName(
        spark.createDataFrame(
            [
                ("repo", "ok/name.json", "c", "en", "{not json"),
                ("repo", "bad name!.json", "c", "en", raw["content"].iloc[0]),
                ("repo", "ok/conf.json", "c", "en", json.dumps(site)),
            ],
            ingest.schema,
        )
    )
    tq = extract.extract_triples(poisoned).toPandas()
    assert Counter(map(tuple, tq[["subj", "pred", "obj", "site_id"]].values)) == expected


def test_explode_inventories(spark):
    ingest = synthetic.synthesize_ingest(spark, N, partitions=4)
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    vdfs = vocab.vocab_dataframes(spark)
    sites = extract.normalize_sites(parsed, vdfs)
    inv = extract.explode_inventories(sites, vdfs).toPandas()
    assert len(inv) > 0
    assert inv["commodity"].str.startswith("Q").all()
    assert inv["valid_gt"].any()
    # material-form conversions resolved via the broadcast join
    assert inv["material_form_conversion"].notna().sum() > 0


def test_fused_normalize_matches_unfused(spark):
    """r06: normalize_sites fuses split_violations' validation into its own
    kernel when handed the marked ok side (one parse/pass instead of two).
    The fused output must equal the unfused kernel run on the filtered ok
    rows — including on a corpus WITH violations (bad path charset, broken
    JSON, constrained-type rejects)."""
    ingest = synthetic.synthesize_ingest(spark, 60, partitions=4)
    # plant violations: a bad path, a broken document, a bad confidence
    good = ingest.limit(1).collect()[0]
    bad_rows = [
        (good["repo"], "bad path with spaces!", "c0", "json", good["content"]),
        (good["repo"], "u/broken.json", "c1", "json", "{not json"),
        (
            good["repo"],
            "u/badconf.json",
            "c2",
            "json",
            good["content"].replace('"confidence": 0.99', '"confidence": 7.5'),
        ),
    ]
    dirty = ingest.unionAll(
        spark.createDataFrame(bad_rows, schema=ingest.schema)
    )
    vdfs = vocab.vocab_dataframes(spark)
    parsed = extract.parse_sites(dirty)
    ok, bad = extract.split_violations(parsed)
    assert hasattr(ok, "_prevalidated_source")
    assert bad.count() >= 2  # path + broken JSON rejected at minimum

    fused = extract.normalize_sites(ok, vdfs).toPandas()
    # unfused: strip the marker so normalize runs on the filtered rows
    ok_plain = ok.select(*ok.columns)
    assert not hasattr(ok_plain, "_prevalidated_source")
    unfused = extract.normalize_sites(ok_plain, vdfs).toPandas()

    fused = fused.sort_values("site_id").reset_index(drop=True)
    unfused = unfused.sort_values("site_id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(fused, unfused)
    assert len(fused) == ok.count()
