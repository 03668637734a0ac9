"""P7 vocabulary-membership validation (ref validators.py:354-419)."""

from __future__ import annotations

import json

import pandas as pd

from ta2_minmod_kg_spark.operators import extract
from ta2_minmod_kg_spark.operators.validation import (
    candidate_mentions,
    vocab_membership_violations,
)
from ta2_minmod_kg_spark.sources import synthetic, vocab


def test_clean_corpus_has_no_violations(spark):
    ingest = synthetic.synthesize_ingest(spark, 80, partitions=4)
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    vio = vocab_membership_violations(parsed, vocab.vocab_dataframes(spark))
    assert vio.count() == 0


def test_planted_violations_detected(spark):
    MR = "https://minmod.isi.edu/resource/"
    rec = synthetic.make_record(3, 80)
    # out-of-vocab commodity on inventory 0 + bogus category + bad unit
    rec["mineral_inventory"][0]["commodity"]["normalized_uri"] = MR + "Q99999"
    rec["mineral_inventory"][0]["category"] = [
        {"source": "t", "confidence": 1.0, "normalized_uri": MR + "NotACategory"}
    ]
    rec["mineral_inventory"][0]["ore"]["unit"]["normalized_uri"] = MR + "Q999"
    rec["location_info"] = {
        "country": [
            {"source": "t", "confidence": 1.0, "normalized_uri": MR + "Q1303"},
            {"source": "t", "confidence": 1.0, "normalized_uri": MR + "BadCountry"},
        ],
        "crs": {"source": "t", "confidence": 1.0, "normalized_uri": MR + "Q1700"},
    }
    rows = [
        {
            "repo": "r",
            "path": "data/p0.json",
            "commit": "c",
            "lang": "json",
            "content": json.dumps(rec),
        }
    ]
    ingest = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="repo string, path string, commit string, lang string, content string",
    )
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    vio = (
        vocab_membership_violations(parsed, vocab.vocab_dataframes(spark))
        .toPandas()
        .sort_values(["field", "uri"])
    )
    got = set(zip(vio["field"], vio["uri"]))
    assert got == {
        ("mineral_inventory.commodity", MR + "Q99999"),
        ("mineral_inventory.category", MR + "NotACategory"),
        ("mineral_inventory.ore", MR + "Q999"),
        ("location_info.country", MR + "BadCountry"),
    }


def test_mentions_skip_nulls(spark):
    rec = synthetic.make_record(5, 80)
    # unlinked mention: observed name only, no normalized_uri → not a violation
    rec["deposit_type_candidate"] = [
        {"source": "t", "confidence": 0.5, "observed_name": "mystery type"}
    ]
    rows = [
        {
            "repo": "r",
            "path": "data/p1.json",
            "commit": "c",
            "lang": "json",
            "content": json.dumps(rec),
        }
    ]
    ingest = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="repo string, path string, commit string, lang string, content string",
    )
    parsed = extract.parse_sites(ingest)
    m = candidate_mentions(parsed).toPandas()
    assert not (m["field"] == "deposit_type_candidate").any()
    assert m["uri"].notna().all()


def test_merc_inverse_golden():
    """EPSG:3857 → 4326 pure-math reprojection against the projection's
    published constants (web-mercator bounds and a known city point)."""
    from ta2_minmod_kg_spark.functions.geo import point_to_wgs84
    from ta2_minmod_kg_spark.operators.extract import _wkt_centroid

    lon, lat = point_to_wgs84(0.0, 0.0, "EPSG:3857")
    assert lat == 0.0 and lon == 0.0
    lon, lat = point_to_wgs84(20037508.342789244, 20037508.342789244, "EPSG:3857")
    assert abs(lon - 180.0) < 1e-9
    assert abs(lat - 85.05112877980659) < 1e-9  # mercator latitude bound
    # NYC: x,y from the standard forward transform of (-74, 40.7128)
    lon, lat = point_to_wgs84(-8237642.318702244, 4970071.579142425, "EPSG:3857")
    assert abs(lon - (-74.0)) < 1e-9
    assert abs(lat - 40.7128) < 1e-6

    lat, lon = _wkt_centroid("POINT (-8237642.318702244 4970071.579142425)", "EPSG:3857")
    assert abs(lon - (-74.0)) < 1e-9 and abs(lat - 40.7128) < 1e-6
    # unknown CRS still yields nulls here (violation row emitted separately)
    assert _wkt_centroid("POINT (1 2)", "EPSG:27700") == (None, None)
    # UTM / Oregon Lambert points reproject inline now
    lat, lon = _wkt_centroid("POINT (500000 4982950.4)", "EPSG:26912")
    assert abs(lon - (-111.0)) < 1e-6 and abs(lat - 45.0) < 1e-6


def test_3857_location_reprojected_in_normalize(spark):
    rec = synthetic.make_record(7, 80)
    rec["location_info"] = {
        "crs": {
            "source": "t",
            "confidence": 1.0,
            "normalized_uri": "https://minmod.isi.edu/resource/Q1701",  # EPSG:3857
        },
        "location": "POINT (-8237642.318702244 4970071.579142425)",
    }
    rows = [
        {"repo": "r", "path": "data/p2.json", "commit": "c", "lang": "json",
         "content": json.dumps(rec)}
    ]
    ingest = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="repo string, path string, commit string, lang string, content string",
    )
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    sites = extract.normalize_sites(parsed, vocab.vocab_dataframes(spark)).toPandas()
    assert abs(sites["lon"].iloc[0] - (-74.0)) < 1e-9
    assert abs(sites["lat"].iloc[0] - 40.7128) < 1e-6
    # a supported CRS is NOT a violation
    from ta2_minmod_kg_spark.operators.validation import location_crs_violations

    assert location_crs_violations(parsed, vocab.vocab_dataframes(spark)).count() == 0


def test_projected_crs_corpus_slice_reprojects_not_quarantined(spark):
    """The synthetic corpus's UTM-12N / Oregon-Lambert / NAD27 / 3857
    slices (the reference's own crs.csv set) must yield coordinates in
    normalize — matching the inverse projection — and must NOT land in
    the CRS violations table (VERDICT r02 #2)."""
    from ta2_minmod_kg_spark.functions import geo
    from ta2_minmod_kg_spark.operators.validation import location_crs_violations

    ingest = synthetic.synthesize_ingest(spark, 400, partitions=4)
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    vdfs = vocab.vocab_dataframes(spark)
    assert location_crs_violations(parsed, vdfs).count() == 0

    MR = "https://minmod.isi.edu/resource/"
    qid_to_name = {
        MR + "Q1701": "EPSG:3857",
        MR + "Q1702": "EPSG:4267",
        MR + "Q1703": "EPSG:26912",
        MR + "Q1704": "EPSG:2994",
    }
    sites = extract.normalize_sites(parsed, vdfs)
    got = sites.select(
        "site_id",
        "location_wkt",
        sites["location_crs"]["normalized_uri"].alias("crs_uri"),
        "lat",
        "lon",
    ).toPandas()
    by_crs = got.groupby("crs_uri").size().to_dict()
    # every projected CRS actually appears in the corpus
    for uri in qid_to_name:
        assert by_crs.get(uri, 0) > 0, (uri, by_crs)
    import re

    pt = re.compile(r"POINT \(([-\d.e+]+) ([-\d.e+]+)\)")
    checked = 0
    for _, r in got.iterrows():
        name = qid_to_name.get(r["crs_uri"])
        if name in ("EPSG:26912", "EPSG:2994") and r["location_wkt"]:
            m = pt.match(r["location_wkt"])
            lon, lat = geo.point_to_wgs84(
                float(m.group(1)), float(m.group(2)), name
            )
            assert abs(r["lat"] - lat) < 1e-9 and abs(r["lon"] - lon) < 1e-9
            checked += 1
    assert checked > 0


def test_unsupported_crs_routed_to_violations(spark):
    from ta2_minmod_kg_spark.operators.validation import location_crs_violations

    MR = "https://minmod.isi.edu/resource/"
    rec = synthetic.make_record(9, 80)
    rec["location_info"] = {
        "crs": {"source": "t", "confidence": 1.0, "normalized_uri": MR + "Q1799"},
        "location": "POINT (500000 4649776)",
    }
    rows = [
        {"repo": "r", "path": "data/p3.json", "commit": "c", "lang": "json",
         "content": json.dumps(rec)}
    ]
    ingest = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="repo string, path string, commit string, lang string, content string",
    )
    parsed, _ = extract.split_violations(extract.parse_sites(ingest))
    vio = location_crs_violations(parsed, vocab.vocab_dataframes(spark)).toPandas()
    assert list(vio["field"]) == ["location_info.crs.unsupported"]
    assert list(vio["uri"]) == [MR + "Q1799"]
