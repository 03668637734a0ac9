"""Entity-vocabulary triple emission (SURVEY §2.1 S2 → KG export side).

The reference emits every vocabulary record (commodity, unit, country,
state_or_province, deposit_type, commodity_form, crs, data_source,
category) as an RDF subject with labels/aliases to ``entities.ttl``
(`minmodkg/etl/kgrel_entity.py:105-126` via each kgrel entity's
``to_kg().to_triples()``; KG shapes in `minmodkg/models/kg/entities/*.py`
and `minmodkg/models/kg/data_source.py`).  Without these, a triple-store
user has no labels to join against.

Spark-first: all nine tables are broadcast-sized dims, but emission is
still pure column expressions (concat/explode/union) — no collect, no
Python row loops — so the same operator handles a million-entity
vocabulary unchanged.

Literal formats follow rdflib N3 semantics (plain quoted xsd:string,
``"…"^^xsd:boolean`` / ``^^xsd:decimal`` otherwise), byte-checked against
the reference's executed ``to_triples`` in tests/test_entity_triples.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ids import MR_NS

_ESC = [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]


def _lit(col):
    """Escape + quote a string column as an N3 plain literal."""
    for a, b in _ESC:
        col = F.replace(col, F.lit(a), F.lit(b))
    return F.concat(F.lit('"'), col, F.lit('"'))


def _subj_mr(id_col):
    return F.concat(F.lit("mr:"), id_col)


def _triple_rows(df: DataFrame, subj, pairs) -> DataFrame:
    """(subj expr, [(pred, obj expr or None-able)]) → exploded triple rows."""
    entries = F.array(
        *[
            F.when(
                obj.isNotNull(), F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))
            )
            for pred, obj in pairs
        ]
    )
    return (
        df.select(subj.alias("subj"), F.explode(entries).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("subj", F.col("e.pred").alias("pred"), F.col("e.obj").alias("obj"))
    )


def _alias_triples(df: DataFrame, subj, alias_array) -> DataFrame:
    return df.select(
        subj.alias("subj"),
        F.lit("mo:aliases").alias("pred"),
        F.explode(alias_array).alias("a"),
    ).select("subj", "pred", _lit(F.col("a")).alias("obj"))


def _split_aliases(col):
    """'|'-separated aliases → trimmed array; empty string → empty array
    (ref kgrel_entity.py:160-166)."""
    return F.when(F.trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.transform(F.split(col, r"\|"), F.trim)
    )


def _bool_lit(col):
    return F.concat(
        F.lit('"'),
        F.when(col.cast("boolean"), F.lit("true")).otherwise(F.lit("false")),
        F.lit('"^^xsd:boolean'),
    )


def _decimal_lit(col):
    # NaN guard (belt-and-braces with vocab_dataframes' NULL-not-NaN
    # construction): Spark's isNotNull() is TRUE for NaN, and the reference
    # never emits a literal for an absent Optional[float] — so NaN must
    # render as no-triple, exactly like NULL.
    d = col.cast("double")
    return F.when(
        d.isNotNull() & ~F.isnan(d),
        F.concat(F.lit('"'), col.cast("string"), F.lit('"^^xsd:decimal')),
    )


def entity_triples(vocab: dict[str, DataFrame]) -> DataFrame:
    """All nine vocabulary tables → (subj, pred, obj) N3 rows, matching the
    reference's ``to_kg().to_triples()`` per entity exactly."""
    parts: list[DataFrame] = []

    c = vocab["commodity"]
    subj = _subj_mr(F.col("minmod_id"))
    parts.append(
        _triple_rows(
            c,
            subj,
            [
                ("rdf:type", F.lit("mo:Commodity")),
                ("mo:id", _lit(F.col("minmod_id"))),
                ("rdfs:label", _lit(F.col("name"))),
                ("mo:parent", _lit(F.col("parent"))),
                ("mo:is_critical", _bool_lit(F.col("is_critical_commodity"))),
            ],
        )
    )
    parts.append(_alias_triples(c, subj, _split_aliases(F.col("aliases"))))

    u = vocab["unit"]
    parts.append(
        _triple_rows(
            u,
            subj,
            [
                ("rdf:type", F.lit("mo:Unit")),
                ("mo:id", _lit(F.col("minmod_id"))),
                ("rdfs:label", _lit(F.col("name"))),
            ],
        )
    )
    parts.append(_alias_triples(u, subj, _split_aliases(F.col("aliases"))))

    co = vocab["country"]
    # the reference's country reader appends iso3/iso2 to the alias list
    # (kgrel_entity.py:209-214)
    co_aliases = F.concat(
        _split_aliases(F.col("aliases")),
        F.filter(
            F.array(F.trim(F.col("iso3")), F.trim(F.col("iso2"))),
            lambda x: x.isNotNull() & (x != ""),
        ),
    )
    parts.append(
        _triple_rows(
            co,
            subj,
            [
                ("rdf:type", F.lit("mo:Country")),
                ("mo:id", _lit(F.col("minmod_id"))),
                ("rdfs:label", _lit(F.col("name"))),
            ],
        )
    )
    parts.append(_alias_triples(co, subj, co_aliases))

    sp = vocab["state_or_province"]
    # FK by name → country id happens in the reader; here country ids may
    # already be resolved (read_vocab_csvs) or need the broadcast join
    if "country_id" not in sp.columns:
        sp = sp.join(
            F.broadcast(
                vocab["country"].select(
                    F.col("name").alias("country_name"),
                    F.col("minmod_id").alias("country_id"),
                )
            ),
            "country_name",
            "left",
        )
    parts.append(
        _triple_rows(
            sp,
            subj,
            [
                ("rdf:type", F.lit("mo:StateOrProvince")),
                ("mo:id", _lit(F.col("minmod_id"))),
                ("rdfs:label", _lit(F.col("name"))),
                ("mo:country", _lit(F.col("country_id"))),
            ],
        )
    )

    dt = vocab["deposit_type"]
    parts.append(
        _triple_rows(
            dt,
            subj,
            [
                ("rdf:type", F.lit("mo:DepositType")),
                ("mo:id", _lit(F.col("minmod_id"))),
                ("rdfs:label", _lit(F.col("deposit_type"))),
                ("mo:environment", _lit(F.col("deposit_environment"))),
                ("mo:group", _lit(F.col("deposit_group"))),
            ],
        )
    )

    cf = vocab["commodity_form"]
    parts.append(
        _triple_rows(
            cf,
            subj,
            [
                ("rdf:type", F.lit("mo:CommodityForm")),
                ("rdfs:label", _lit(F.col("name"))),
                ("mo:formula", _lit(F.col("formula"))),
                # to_kg expands the commodity FK to its absolute IRI, emitted
                # as an xsd:string dataprop (kgrel/entities/commodity_form.py:50)
                ("mo:commodity", _lit(F.concat(F.lit(MR_NS), F.col("commodity_id")))),
                ("mo:conversion", _decimal_lit(F.col("conversion"))),
            ],
        )
    )

    crs = vocab["crs"]
    parts.append(
        _triple_rows(
            crs,
            subj,
            [
                ("rdf:type", F.lit("mo:CoordinateReferenceSystem")),
                # kg CRS carries its own absolute uri as a dataprop
                ("mo:uri", _lit(F.concat(F.lit(MR_NS), F.col("minmod_id")))),
                ("rdfs:label", _lit(F.col("name"))),
            ],
        )
    )

    ds = vocab["data_source"]
    parts.append(
        _triple_rows(
            ds,
            # DataSource subject uses the no-rel namespace → absolute <uri>
            # (models/kg/data_source.py Subject key_ns=NS_MR_NO_REL)
            F.concat(F.lit("<"), F.col("uri"), F.lit(">")),
            [
                ("rdf:type", F.lit("mo:DataSource")),
                ("rdfs:label", _lit(F.col("name"))),
                ("mo:type", _lit(F.col("type"))),
                ("mo:created_by", _lit(F.col("created_by"))),
                ("mo:description", _lit(F.col("description"))),
                (
                    "mo:score",
                    F.when(
                        F.col("score").isNotNull(), _decimal_lit(F.col("score"))
                    ),
                ),
                ("mo:connection", _lit(F.col("connection"))),
            ],
        )
    )

    cat = vocab["category"]
    parts.append(
        _triple_rows(
            cat,
            _subj_mr(F.col("id")),
            [
                ("rdf:type", F.lit("mo:Category")),
                ("mo:id", _lit(F.col("id"))),
                ("rdfs:label", _lit(F.col("label"))),
            ],
        )
    )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
