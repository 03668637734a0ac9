"""Entity vocabularies (SURVEY §2.1 S2).

The reference loads 9 small CSVs into in-memory dicts
(`minmodkg/etl/kgrel_entity.py:128-305`, `minmodkg/services/kgrel_entity.py:57-75`).
Here each vocabulary is a small DataFrame destined for **broadcast joins**
(they are a few thousand rows even in production — the canonical
small-dimension side).

Two entry points:
- ``synthetic_vocab()`` — the deterministic in-memory vocabulary used by the
  synthetic corpus and tests;
- ``read_vocab_csvs(spark, dir)`` — CSV readers matching the reference's
  column layouts (incl. '|'-separated alias splitting and the
  state→country FK-by-name resolution as a broadcast join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ids import MR_NS as MR

# -- deterministic synthetic vocabulary ---------------------------------------

COMMODITY_NAMES = [
    "Nickel", "Lithium", "Copper", "Cobalt", "Zinc", "Lead", "Gold",
    "Silver", "Tungsten", "Tin", "Uranium", "Manganese", "Chromium",
    "Titanium", "Vanadium", "Molybdenum", "Antimony", "Bismuth",
    "Graphite", "Platinum", "Palladium", "Rhodium", "Niobium",
    "Tantalum", "Beryllium", "Gallium", "Germanium", "Indium",
    "Tellurium", "Rhenium", "Magnesium", "Aluminum", "Iron",
    "Barite", "Fluorspar", "Potash", "Phosphate", "Helium", "Arsenic",
    "Cadmium",
]

COUNTRY_NAMES = [
    ("Australia", "AUS", "AU"), ("Canada", "CAN", "CA"),
    ("United States", "USA", "US"), ("Chile", "CHL", "CL"),
    ("Peru", "PER", "PE"), ("Brazil", "BRA", "BR"),
    ("South Africa", "ZAF", "ZA"), ("China", "CHN", "CN"),
    ("Russia", "RUS", "RU"), ("Indonesia", "IDN", "ID"),
    ("Argentina", "ARG", "AR"), ("Mexico", "MEX", "MX"),
    ("Kazakhstan", "KAZ", "KZ"), ("Zambia", "ZMB", "ZM"),
    ("Finland", "FIN", "FI"), ("Sweden", "SWE", "SE"),
]

STATE_NAMES = [
    ("Western Australia", "Australia"), ("Queensland", "Australia"),
    ("Ontario", "Canada"), ("Quebec", "Canada"),
    ("Nevada", "United States"), ("Alaska", "United States"),
    ("Arizona", "United States"), ("Antofagasta", "Chile"),
    ("Atacama", "Chile"), ("Minas Gerais", "Brazil"),
    ("Limpopo", "South Africa"), ("Yunnan", "China"),
    ("Lapland", "Finland"), ("Norrbotten", "Sweden"),
    ("San Juan", "Argentina"), ("Sonora", "Mexico"),
]

DEPOSIT_TYPES = [
    ("Magmatic nickel-copper", "Magmatic", "Mafic"),
    ("Lithium pegmatite", "Magmatic", "Pegmatite"),
    ("Porphyry copper", "Magmatic-hydrothermal", "Porphyry"),
    ("Sediment-hosted copper", "Basin", "Sedimentary"),
    ("VMS zinc-lead", "Marine volcanic", "VMS"),
    ("Orogenic gold", "Metamorphic", "Orogenic"),
    ("Epithermal gold-silver", "Magmatic-hydrothermal", "Epithermal"),
    ("Carlin-type gold", "Basin", "Carlin"),
    ("Lateritic nickel", "Weathering", "Laterite"),
    ("Banded iron formation", "Marine", "BIF"),
    ("Skarn tungsten", "Magmatic-hydrothermal", "Skarn"),
    ("Lithium brine", "Basin", "Brine"),
]

MATERIAL_FORMS = [
    # (name, formula, commodity index, conversion)
    ("Spodumene", "LiAlSi2O6", 1, 0.03729),
    ("Lithium oxide", "Li2O", 1, 0.464),
    ("Lithium carbonate", "Li2CO3", 1, 0.188),
    ("Nickel sulfide", "NiS", 0, 0.6467),
    ("Chalcopyrite", "CuFeS2", 2, 0.3463),
    ("Uranium oxide", "U3O8", 10, 0.848),
    ("Tungsten trioxide", "WO3", 8, 0.793),
]

UNITS = [
    ("Q200", "tonnes", "t|tonne|metric tons"),
    ("Q201", "percent", "%|pct"),
    ("Q202", "million tonnes", "Mt|mtonnes"),
    ("Q203", "grams per tonne", "g/t|gpt"),
    ("Q213", "million short tons", "Mst"),
    ("Q214", "short tons", "st"),
    ("Q215", "million pounds", "Mlb"),
    ("Q217", "kilograms per tonne", "kg/t"),
    ("Q220", "parts per million", "ppm"),
    ("Q204", "ounces", "oz"),  # weight-incompatible with Mt on purpose
]

CATEGORIES = [
    "Inferred", "Indicated", "Measured", "Proven", "Probable",
    "OriginalResource", "Extracted", "CumulativeExtracted",
]

N_SOURCES = 12


def source_uri(k: int) -> str:
    return f"https://data{k}.minmod-sources.example.org/records"


def source_score_of(k: int) -> float | None:
    if k % 5 == 4:
        return None  # exercises the DEFAULT_SOURCE_SCORE=0.5 path
    return round(0.3 + 0.6 * ((k * 37) % 10) / 10.0, 2)


def commodity_qid(i: int) -> str:
    return f"Q{1000 + i}"


def country_qid(i: int) -> str:
    return f"Q{1300 + i}"


def state_qid(i: int) -> str:
    return f"Q{1400 + i}"


def deposit_type_qid(i: int) -> str:
    return f"Q{1500 + i}"


def material_form_qid(i: int) -> str:
    return f"Q{1600 + i}"


def synthetic_vocab() -> dict[str, list[dict]]:
    """Deterministic vocabulary rows keyed by table name."""
    commodity = [
        {
            "minmod_id": commodity_qid(i),
            "name": n,
            "aliases": f"{n.lower()}|{n[:3].upper()}",
            "parent": None,
            "is_critical_commodity": 1 if i < 20 else 0,
        }
        for i, n in enumerate(COMMODITY_NAMES)
    ]
    unit = [
        {"minmod_id": q, "name": n, "aliases": a} for q, n, a in UNITS
    ]
    country = [
        {
            "minmod_id": country_qid(i),
            "name": n,
            "aliases": f"{iso3}|{iso2}",
            "iso3": iso3,
            "iso2": iso2,
        }
        for i, (n, iso3, iso2) in enumerate(COUNTRY_NAMES)
    ]
    state = [
        {
            "minmod_id": state_qid(i),
            "name": n,
            "country_name": cn,
        }
        for i, (n, cn) in enumerate(STATE_NAMES)
    ]
    deposit_type = [
        {
            "minmod_id": deposit_type_qid(i),
            "deposit_type": n,
            "deposit_environment": env,
            "deposit_group": grp,
        }
        for i, (n, env, grp) in enumerate(DEPOSIT_TYPES)
    ]
    commodity_form = [
        {
            "minmod_id": material_form_qid(i),
            "name": n,
            "formula": f,
            "commodity_id": commodity_qid(ci),
            "conversion": conv,
        }
        for i, (n, f, ci, conv) in enumerate(MATERIAL_FORMS)
    ]
    # mirrors the reference's own crs.csv vocabulary
    # (tests/resources/kgdata/entities/crs.csv: 4326/4267/3857/26912/2994)
    crs = [
        {"minmod_id": "Q1700", "name": "EPSG:4326"},
        {"minmod_id": "Q1701", "name": "EPSG:3857"},
        {"minmod_id": "Q1702", "name": "EPSG:4267"},
        {"minmod_id": "Q1703", "name": "EPSG:26912"},
        {"minmod_id": "Q1704", "name": "EPSG:2994"},
    ]
    data_source = [
        {
            "uri": source_uri(k),
            "name": f"source {k}",
            "type": "database",
            "created_by": "https://minmod.isi.edu/users/s/ingestor",
            "description": "",
            "score": source_score_of(k),
            "connection": None,
        }
        for k in range(N_SOURCES)
    ]
    category = [{"id": c, "label": c} for c in CATEGORIES]
    return {
        "commodity": commodity,
        "unit": unit,
        "country": country,
        "state_or_province": state,
        "deposit_type": deposit_type,
        "commodity_form": commodity_form,
        "crs": crs,
        "data_source": data_source,
        "category": category,
    }


# Explicit DDL schemas for every vocabulary table. Schema inference over
# all-None columns (commodity.parent, data_source.connection) fails with
# CANNOT_DETERMINE_TYPE in sessions without Arrow-enabled pandas conversion —
# driver-contract code must never depend on session config for correctness.
VOCAB_SCHEMAS: dict[str, str] = {
    "commodity": (
        "minmod_id string, name string, aliases string, parent string, "
        "is_critical_commodity bigint"
    ),
    "unit": "minmod_id string, name string, aliases string",
    "country": (
        "minmod_id string, name string, aliases string, iso3 string, iso2 string"
    ),
    "state_or_province": "minmod_id string, name string, country_name string",
    "deposit_type": (
        "minmod_id string, deposit_type string, deposit_environment string, "
        "deposit_group string"
    ),
    "commodity_form": (
        "minmod_id string, name string, formula string, commodity_id string, "
        "conversion double"
    ),
    "crs": "minmod_id string, name string",
    "data_source": (
        "uri string, name string, type string, created_by string, "
        "description string, score double, connection string"
    ),
    "category": "id string, label string",
}


def vocab_dataframes(spark: SparkSession) -> dict[str, DataFrame]:
    """Vocabulary DataFrames (broadcast-sized dims), built with explicit
    schemas so they work identically in any session (Arrow on or off).

    Rows go straight from Python dicts to tuples in schema order — NOT via
    ``pd.DataFrame``, which coerces ``None`` in float columns to ``NaN``.
    Spark treats NaN as non-NULL (``isNotNull()`` is true, ``NaN >= 0`` is
    true), so a pandas round-trip would leak ``"NaN"^^xsd:decimal`` score
    triples for null-score data sources; the reference's
    ``score: Optional[float]`` (models/kg/data_source.py:22) emits nothing.
    """
    from pyspark.sql.types import StructType

    out: dict[str, DataFrame] = {}
    for name, rows in synthetic_vocab().items():
        schema = StructType.fromDDL(VOCAB_SCHEMAS[name])
        cols = [f.name for f in schema.fields]
        data = [tuple(r.get(c) for c in cols) for r in rows]
        out[name] = spark.createDataFrame(data, schema=schema)
    return out


def write_vocab_csvs(outdir: str) -> None:
    """Materialize the vocabulary as the reference's 9-CSV layout
    (column layouts per `minmodkg/etl/kgrel_entity.py:128-305`)."""
    import csv
    import os

    os.makedirs(outdir, exist_ok=True)
    for name, rows in synthetic_vocab().items():
        with open(os.path.join(outdir, f"{name}.csv"), "w", newline="") as f:
            w = csv.DictWriter(f, fieldnames=list(rows[0].keys()))
            w.writeheader()
            w.writerows(rows)


def read_vocab_csvs(spark: SparkSession, indir: str) -> dict[str, DataFrame]:
    """S2: typed vocabulary scan from CSVs, matching the reference readers.

    '|'-separated aliases become arrays; states resolve their country FK by
    name via a broadcast join (ref kgrel_entity.py:260-278).
    """
    dfs: dict[str, DataFrame] = {}
    for name in (
        "commodity unit country state_or_province deposit_type "
        "commodity_form crs data_source category".split()
    ):
        df = (
            spark.read.option("header", True)
            .option("inferSchema", False)
            .csv(f"{indir}/{name}.csv")
        )
        if "aliases" in df.columns:
            df = df.withColumn("alias_list", F.split(F.col("aliases"), r"\|"))
        dfs[name] = df
    # FK-by-name: state.country_name -> country.minmod_id
    dfs["state_or_province"] = (
        dfs["state_or_province"]
        .join(
            F.broadcast(
                dfs["country"].select(
                    F.col("name").alias("country_name"),
                    F.col("minmod_id").alias("country_id"),
                )
            ),
            "country_name",
            "left",
        )
    )
    if "score" in dfs["data_source"].columns:
        dfs["data_source"] = dfs["data_source"].withColumn(
            "score", F.col("score").cast("double")
        )
    if "conversion" in dfs["commodity_form"].columns:
        dfs["commodity_form"] = dfs["commodity_form"].withColumn(
            "conversion", F.col("conversion").cast("double")
        )
    return dfs


def lookup_maps() -> dict[str, dict]:
    """Driver-side small dict lookups (broadcast into Arrow kernels):
    material_form uri→conversion, crs uri→name, source uri→score
    (ref services/kgrel_entity.py:57-75)."""
    v = synthetic_vocab()
    return {
        "commodity_form_conversion": {
            MR + r["minmod_id"]: r["conversion"] for r in v["commodity_form"]
        },
        "crs_name": {MR + r["minmod_id"]: r["name"] for r in v["crs"]},
        "source_score": {r["uri"]: r["score"] for r in v["data_source"]},
    }
