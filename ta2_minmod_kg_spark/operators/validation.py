"""Vocabulary-membership validation (SURVEY §2.2 P7).

The reference checks every CandidateEntity ``normalized_uri`` against its
vocabulary's URI set and raises on the first violation
(`minmodkg/validators.py:354-419` + ``ValidatorHelper.optional_uri``).
At pipeline scale a raise is the wrong shape — this operator returns a
**violations DataFrame** ``(repo, path, field, uri)`` so bad records are
quarantined and reported per-partition instead of killing the job.

Plan shape: one pass over the parsed sites explodes every candidate field
into ``(field, uri)`` mention rows (map-side only), then a single
broadcast LEFT ANTI join against the union of the nine vocab URI sets.
No shuffle of the fact table; the dim side is the broadcast-sized
vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import MR_NS

# (field label used by the reference's error messages, vocab table, id col)
_FIELD_VOCAB = [
    ("location_info.country", "country", "minmod_id"),
    ("location_info.state_or_province", "state_or_province", "minmod_id"),
    ("location_info.crs", "crs", "minmod_id"),
    ("deposit_type_candidate", "deposit_type", "minmod_id"),
    ("mineral_inventory.commodity", "commodity", "minmod_id"),
    ("mineral_inventory.category", "category", "id"),
    ("mineral_inventory.grade", "unit", "minmod_id"),
    ("mineral_inventory.cutoff_grade", "unit", "minmod_id"),
    ("mineral_inventory.ore", "unit", "minmod_id"),
    ("mineral_inventory.material_form", "commodity_form", "minmod_id"),
]


def _mention(field: str, uri_col) -> "F.Column":
    return F.struct(F.lit(field).alias("field"), uri_col.alias("uri"))


def candidate_mentions(parsed: DataFrame) -> DataFrame:
    """(repo, path, field, uri) for every non-null normalized_uri in the
    record — single projection + explode, no shuffle."""
    site = F.col("site")

    def arr_uris(field, col):
        return F.transform(
            F.coalesce(col, F.array()), lambda c: _mention(field, c["normalized_uri"])
        )

    mentions = F.concat(
        arr_uris("location_info.country", site["location_info"]["country"]),
        arr_uris(
            "location_info.state_or_province",
            site["location_info"]["state_or_province"],
        ),
        F.array(
            _mention(
                "location_info.crs",
                site["location_info"]["crs"]["normalized_uri"],
            )
        ),
        arr_uris("deposit_type_candidate", site["deposit_type_candidate"]),
        F.flatten(
            F.transform(
                F.coalesce(site["mineral_inventory"], F.array()),
                lambda inv: F.concat(
                    F.array(
                        _mention(
                            "mineral_inventory.commodity",
                            inv["commodity"]["normalized_uri"],
                        ),
                        _mention(
                            "mineral_inventory.grade",
                            inv["grade"]["unit"]["normalized_uri"],
                        ),
                        _mention(
                            "mineral_inventory.cutoff_grade",
                            inv["cutoff_grade"]["unit"]["normalized_uri"],
                        ),
                        _mention(
                            "mineral_inventory.ore",
                            inv["ore"]["unit"]["normalized_uri"],
                        ),
                        _mention(
                            "mineral_inventory.material_form",
                            inv["material_form"]["normalized_uri"],
                        ),
                    ),
                    F.transform(
                        F.coalesce(inv["category"], F.array()),
                        lambda c: _mention(
                            "mineral_inventory.category", c["normalized_uri"]
                        ),
                    ),
                ),
            )
        ),
    )
    keys = ["repo", "path"] + (["bucket"] if "bucket" in parsed.columns else [])
    return (
        parsed.select(*keys, F.explode(mentions).alias("m"))
        .filter(F.col("m.uri").isNotNull())
        .select(*keys, F.col("m.field").alias("field"), F.col("m.uri").alias("uri"))
    )


def allowed_uris(vocab: dict[str, DataFrame]) -> DataFrame:
    """(field, uri) dim of every URI each field may reference."""
    parts = []
    for field, table, id_col in _FIELD_VOCAB:
        parts.append(
            vocab[table].select(
                F.lit(field).alias("field"),
                F.concat(F.lit(MR_NS), F.col(id_col)).alias("uri"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


from ..functions.geo import supported_crs_names

# every CRS the inline reprojection handles (functions/geo.py) — the
# reference's crs.csv vocabulary is a strict subset
SUPPORTED_CRS = tuple(supported_crs_names())


def location_crs_violations(
    parsed: DataFrame, vocab: dict[str, DataFrame]
) -> DataFrame:
    """P3 guard: a record with a location whose CRS the engine cannot
    reproject is a violation row (field='location_info.crs.unsupported'),
    NOT a silent (lat, lon) = (null, null) — the reference raises in
    misc/geo.py:84-96 where we quarantine instead."""
    site = F.col("site")
    keys = ["repo", "path"] + (["bucket"] if "bucket" in parsed.columns else [])
    crs_dim = F.broadcast(
        vocab["crs"].select(
            F.concat(F.lit(MR_NS), F.col("minmod_id")).alias("crs_uri"),
            F.col("name").alias("crs_name"),
        )
    )
    located = parsed.filter(site["location_info"]["location"].isNotNull()).select(
        *keys, site["location_info"]["crs"]["normalized_uri"].alias("crs_uri")
    )
    return (
        located.filter(F.col("crs_uri").isNotNull())
        .join(crs_dim, "crs_uri", "left")
        .filter(
            F.col("crs_name").isNull() | ~F.col("crs_name").isin(*SUPPORTED_CRS)
        )
        .select(
            *keys,
            F.lit("location_info.crs.unsupported").alias("field"),
            F.col("crs_uri").alias("uri"),
        )
    )


def vocab_membership_violations(
    parsed: DataFrame, vocab: dict[str, DataFrame]
) -> DataFrame:
    """P7: every normalized_uri outside its vocabulary → one violation row
    (repo, path, field, uri).  Broadcast anti-join; fact side stays
    map-only."""
    mentions = candidate_mentions(parsed)
    keys = ["repo", "path"] + (["bucket"] if "bucket" in mentions.columns else [])
    return mentions.join(
        F.broadcast(allowed_uris(vocab)), ["field", "uri"], "left_anti"
    ).select(*keys, "field", "uri")
