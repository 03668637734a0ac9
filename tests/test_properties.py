"""Property-based tests (hypothesis) for the pure kernels.

The reference has no property testing (SURVEY §5); these pin the algebraic
invariants our distributed operators rely on.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ta2_minmod_kg_spark.functions import ids, strsim
from ta2_minmod_kg_spark.functions.units import (
    TO_MT_OPS,
    TO_PERCENT_OPS,
    UNIT_MT,
    UNIT_PERCENT,
    unit_conversion,
)
from ta2_minmod_kg_spark.operators.grade_tonnage import compute_grade_tonnage

MR = "https://minmod.isi.edu/resource/"


@given(st.text(max_size=200))
def test_slugify_idempotent_and_charset(s):
    slug = ids.slugify(s)
    assert ids.slugify(slug) == slug
    assert all(c.isascii() and (c.isalnum() or c == "-") for c in slug)
    assert not slug.startswith("-") and not slug.endswith("-")


@given(st.text(min_size=1, max_size=300))
def test_shorten_id_bounded(s):
    out = ids.shorten_id(s, 120)
    assert len(out) <= 130
    assert ids.shorten_id(s, 120) == out  # deterministic


@given(st.text(max_size=40), st.text(max_size=40))
def test_strsim_bounds_and_symmetry(a, b):
    for fn in (strsim.levenshtein_similarity, strsim.jaro_winkler_similarity):
        s = fn(a, b)
        assert 0.0 <= s <= 1.0
        assert fn(b, a) == s  # symmetric
    assert strsim.levenshtein_similarity(a, a) == 1.0


@given(
    st.floats(min_value=0, max_value=1e9, allow_nan=False),
    st.sampled_from(sorted(TO_MT_OPS)),
)
def test_tonnage_conversion_monotone(v, unit):
    out = unit_conversion(v, unit, UNIT_MT)
    assert out >= 0
    assert unit_conversion(2 * v, unit, UNIT_MT) >= out


@given(
    st.floats(min_value=0, max_value=100, allow_nan=False),
    st.sampled_from(sorted(TO_PERCENT_OPS)),
)
def test_grade_conversion_identity_on_same_unit(v, unit):
    assert unit_conversion(v, unit, unit) == v


_inv = st.fixed_dictionaries(
    {
        "date": st.sampled_from([None, "2005", "2010-01", "2020-06-15"]),
        "zone": st.sampled_from([None, "z1", "z2"]),
        "category": st.lists(
            st.sampled_from(
                [MR + c for c in ("Inferred", "Indicated", "Measured", "Proven",
                                  "Probable", "Extracted", "OriginalResource",
                                  "CumulativeExtracted")]
            ),
            min_size=1,
            max_size=2,
            unique=True,
        ),
        "material_form_conversion": st.sampled_from([None, 0.464, 1.0]),
        "ore_value": st.floats(min_value=-10, max_value=1e6, allow_nan=False),
        "ore_unit": st.sampled_from([MR + "Q202", MR + "Q200", MR + "Q201"]),
        "grade_value": st.floats(min_value=-5, max_value=100, allow_nan=False),
        "grade_unit": st.sampled_from([MR + "Q201", MR + "Q203", MR + "Q202"]),
    }
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_inv, min_size=1, max_size=8))
def test_grade_tonnage_invariants(invs):
    gt = compute_grade_tonnage(invs)
    if gt is None:
        return
    total = gt["total"]
    if total is not None:  # extracted-only data yields no total (ref :117-134)
        tonnage, cm = total
        # non-negative outputs, metal never exceeds 100%-grade bound
        assert tonnage >= 0 and cm >= 0
        assert cm <= tonnage + 1e-9
    # determinism
    assert compute_grade_tonnage(list(invs)) == gt
    # order-insensitivity within a (date, zone) cell is NOT guaranteed by
    # the reference (later-wins ties) — so we only require permutation
    # stability of the *date* choice when dates are unique
    dates = [i["date"] for i in invs]
    if len(set(dates)) == len(dates):
        gt2 = compute_grade_tonnage(list(reversed(invs)))
        if gt2 is not None:
            assert gt2["date"] == gt["date"]


# -- fuzz parity: constrained-type validator vs the reference's EXECUTED
# deserializer (random structural mutations of a valid record) ---------------


def _ref_deser():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).parent))
    from refshim import load_reference

    ref = load_reference()
    return ref.deserializer.get_dataclass_deserializer(
        ref.mineral_site.MineralSite
    )


_SCALARS = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-5, 5),
    # NaN/Infinity included deliberately: json.loads accepts the literals,
    # and the validator must REJECT (not raise) on them (round-3 ADVICE —
    # int(nan) raises ValueError, int(inf) OverflowError inside _int_err).
    st.floats(allow_nan=True, allow_infinity=True, width=32),
    st.text(max_size=12),
    st.lists(st.text(max_size=6), max_size=3),
    st.dictionaries(st.text(max_size=6), st.text(max_size=6), max_size=2),
)

_PATHS = [
    ("name",),
    ("record_id",),
    ("source_id",),
    ("modified_at",),
    ("aliases",),
    ("discovered_year",),
    ("site_rank",),
    ("location_info",),
    ("location_info", "country"),
    ("location_info", "crs"),
    ("location_info", "crs", "confidence"),
    ("location_info", "crs", "normalized_uri"),
    ("mineral_inventory",),
    ("mineral_inventory", 0),
    ("mineral_inventory", 0, "commodity"),
    ("mineral_inventory", 0, "commodity", "source"),
    ("mineral_inventory", 0, "ore"),
    ("mineral_inventory", 0, "ore", "value"),
    ("mineral_inventory", 0, "reference"),
    ("mineral_inventory", 0, "reference", "document"),
    ("mineral_inventory", 0, "reference", "document", "uri"),
    ("reference",),
    ("geology_info",),
]


@settings(max_examples=300, deadline=None)
@given(
    st.integers(0, 99),
    st.sampled_from(_PATHS),
    _SCALARS,
)
def test_constrained_fuzz_parity_vs_executed_reference(rec_i, path, value):
    """Plant an arbitrary value at an arbitrary path of a valid record:
    the engine's accept/reject decision must equal the reference's own
    executed deserializer on EVERY mutation hypothesis finds."""
    import copy
    import json as _json

    from ta2_minmod_kg_spark.operators.constrained import constrained_type_error
    from ta2_minmod_kg_spark.sources import synthetic

    deser = _ref_deser()
    rec = copy.deepcopy(synthetic.make_record(rec_i, 100))
    # navigate to the parent of the target and plant the value
    node = rec
    try:
        for p in path[:-1]:
            node = node[p]
        node[path[-1]] = value
    except (KeyError, IndexError, TypeError):
        return  # path absent in this record shape — nothing planted
    # the planted subtree must be JSON-serializable for the Spark path;
    # hypothesis scalars all are
    _json.dumps(rec)

    try:
        deser(rec)
        ref_rejects = "modified_at" not in rec
    except Exception:
        ref_rejects = True
    mine = constrained_type_error(rec)
    assert ref_rejects == (mine is not None), (path, value, mine)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=60))
def test_ttl_literal_escape_roundtrip_fuzz(s):
    """escape_literal → single-pass unescape is the identity for ANY
    string (the round-2 sequential-replace bug class, fuzzed)."""
    from ta2_minmod_kg_spark.functions.rdf import escape_literal, unescape_literal

    assert unescape_literal(escape_literal(s)) == s
