"""Entity linking (SURVEY §2.6 L1-L3).

The reference scores each mention against *every* vocabulary doc in Python
(`entity_linking.py:95-111`, a driver-side loop).  Spark-first version:

- the vocabulary (id, labels, props) is tiny → **broadcast** to executors
  once (a plain Python broadcast var consumed inside Arrow batches — the
  docs are also exposed as a DataFrame for the crossJoin formulation);
- mentions stream through ``mapInPandas``; each Arrow batch deduplicates
  its query strings first (mentions repeat heavily: "Nickel" appears
  millions of times at corpus scale) and scores each distinct query once —
  a batch-local memo that cuts kernel work by orders of magnitude on
  skewed mention distributions;
- optional **blocking**: a ``block`` column on mentions restricted against
  a doc property (e.g. state mentions only score docs of the already-linked
  country — ref L3), turning O(mentions × vocab) into O(mentions ×
  block-bucket).

Returns the argmax doc + score per mention (ties: lowest doc id, stable).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.rdf import unescape_literal
from ..functions.strsim import extract_features

LINKED_SCHEMA = StructType(
    [
        StructField("mention_id", StringType()),
        StructField("text", StringType()),
        StructField("entity_id", StringType()),
        StructField("score", DoubleType()),
    ]
)


def vocab_docs(
    vocab_df: DataFrame,
    id_col: str = "minmod_id",
    name_col: str = "name",
    alias_col: Optional[str] = "aliases",
    prop_col: Optional[str] = None,
) -> list[dict]:
    """Collect a vocabulary table into broadcastable docs
    (id, labels, prop).  Labels = name + '|'-split aliases
    (ref kgrel_entity.py alias handling + entity_linking.py:37-57)."""
    cols = [F.col(id_col).alias("id"), F.col(name_col).alias("name")]
    cols.append(
        F.split(F.coalesce(F.col(alias_col), F.lit("")), r"\|").alias("aliases")
        if alias_col
        else F.array().alias("aliases")
    )
    cols.append(
        F.col(prop_col).alias("prop") if prop_col else F.lit(None).alias("prop")
    )
    rows = vocab_df.select(*cols).collect()
    return [
        {
            "id": r["id"],
            "labels": [r["name"]] + [a for a in (r["aliases"] or []) if a],
            "prop": r["prop"],
        }
        for r in rows
    ]


def _link_batch_fn(docs_bc, threshold: float):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        docs = docs_bc.value
        by_prop: dict = {}
        for d in docs:
            by_prop.setdefault(d["prop"], []).append(d)
        memo: dict = {}
        for pdf in batches:
            has_block = "block" in pdf.columns
            ids, texts, ents, scores = [], [], [], []
            for row in pdf.itertuples(index=False):
                text = row.text
                block = row.block if has_block else None
                key = (text, block)
                if key not in memo:
                    cands = by_prop.get(block, docs if block is None else [])
                    best_id, best_s = None, -1.0
                    for d in cands:
                        s = float(extract_features(text, d["labels"]).mean())
                        if s > best_s:
                            best_id, best_s = d["id"], s
                    memo[key] = (best_id, best_s)
                best_id, best_s = memo[key]
                ids.append(row.mention_id)
                texts.append(text)
                ents.append(best_id if best_s >= threshold else None)
                scores.append(best_s if best_id is not None else None)
            yield pd.DataFrame(
                {
                    "mention_id": ids,
                    "text": texts,
                    "entity_id": ents,
                    "score": scores,
                }
            )

    return fn


def link_mentions(
    mentions: DataFrame,
    docs: list[dict],
    threshold: float = 0.0,
) -> DataFrame:
    """L1: mentions(mention_id, text[, block]) → best entity per mention.

    ``docs`` from ``vocab_docs``; broadcast once per job.
    """
    spark = mentions.sparkSession
    docs_bc = spark.sparkContext.broadcast(docs)
    return mentions.mapInPandas(_link_batch_fn(docs_bc, threshold), LINKED_SCHEMA)


def unlinked_mentions(sites_rel: DataFrame, kind: str) -> DataFrame:
    """Mentions whose ``normalized_uri`` is missing — the linking work list.

    kind ∈ {deposit_type, commodity}: explodes the matching candidate array.
    """
    if kind == "deposit_type":
        exploded = sites_rel.select(
            "site_id", F.posexplode("deposit_type_candidates").alias("i", "ce")
        )
        prefix = "dt"
    elif kind == "commodity":
        exploded = sites_rel.select(
            "site_id", F.posexplode("inventories").alias("i", "inv")
        ).select("site_id", "i", F.col("inv.commodity").alias("ce"))
        prefix = "comm"
    else:
        raise ValueError(kind)
    return exploded.filter(
        F.col("ce.normalized_uri").isNull() & F.col("ce.observed_name").isNotNull()
    ).select(
        F.concat_ws("::", F.lit(prefix), "site_id", F.col("i").cast("string")).alias(
            "mention_id"
        ),
        F.col("ce.observed_name").alias("text"),
    )


# -- S5: vocabulary TTL scan (ref entity_linking.py:31-58) ---------------------

RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SKOS_ALT_LABEL = "http://www.w3.org/2004/02/skos/core#altLabel"
MO_ALIASES = "https://minmod.isi.edu/ontology/aliases"

def _read_prefixes(spark, path: str) -> dict[str, str]:
    """@prefix lines (inline or the engine's sibling _prefixes.ttl)."""
    import os
    import re

    pref_re = re.compile(r"@prefix\s+([A-Za-z][\w-]*):\s*<([^>]*)>\s*\.")
    prefixes: dict[str, str] = {}
    sidecar = os.path.join(path, "_prefixes.ttl")
    if os.path.isdir(path) and os.path.exists(sidecar):
        text = open(sidecar).read()
        for m in pref_re.finditer(text):
            prefixes[m.group(1)] = m.group(2)
    rows = (
        spark.read.text(path)
        .filter(F.col("value").startswith("@prefix"))
        .collect()
    )
    for r in rows:
        m = pref_re.search(r["value"])
        if m:
            prefixes[m.group(1)] = m.group(2)
    return prefixes


def read_ttl_triples(spark, path: str) -> DataFrame:
    """S5: line-oriented Turtle scan → (subj, pred, obj_uri, obj_literal).

    Scope: the one-triple-per-line ``s p o .`` subset the reference's
    entity export writes (etl/kgrel_entity.py:113-121 via
    TripleStore.prefix_part headers) and this engine's write_ttl output —
    curies or <absolute> URIs for subj/pred, and quoted (optionally
    ``^^``-typed) literals or URIs for the object.  Full Turtle
    (multi-line, ``;``/``,`` continuation, blank nodes) is out of scope.

    Distributed: prefixes are collected once (tiny by nature), the line
    parse is an Arrow-batched kernel over the text scan.
    """
    import re

    prefixes = _read_prefixes(spark, path)
    line_re = re.compile(r"^\s*(\S+)\s+(\S+)\s+(.+?)\s*\.\s*$")

    def expand(term: str) -> str:
        if term.startswith("<") and term.endswith(">"):
            return term[1:-1]
        if ":" in term:
            p, local = term.split(":", 1)
            if p in prefixes:
                return prefixes[p] + local
        return term

    def parse_obj(o: str) -> tuple[str | None, str | None]:
        if o.startswith('"'):
            # forward scan for the first UNESCAPED closing quote (skipping
            # \x pairs) — a backward scan checking o[end-1] != '\\' misreads
            # literals that end in an escaped backslash ('...\\"'); any
            # ^^datatype / @lang suffix after the quote is stripped
            i, n = 1, len(o)
            while i < n:
                c = o[i]
                if c == "\\":
                    i += 2
                    continue
                if c == '"':
                    break
                i += 1
            return None, unescape_literal(o[1:i])
        return expand(o), None

    def fn(batches):
        for pdf in batches:
            subjs, preds, ouris, olits = [], [], [], []
            for line in pdf["value"]:
                s = line.strip()
                if not s or s.startswith("@prefix") or s.startswith("#"):
                    continue
                m = line_re.match(s)
                if not m:
                    continue
                subjs.append(expand(m.group(1)))
                preds.append(expand(m.group(2)))
                ou, ol = parse_obj(m.group(3))
                ouris.append(ou)
                olits.append(ol)
            yield pd.DataFrame(
                {
                    "subj": subjs,
                    "pred": preds,
                    "obj_uri": ouris,
                    "obj_literal": olits,
                }
            )

    return spark.read.text(path).mapInPandas(
        fn, schema="subj string, pred string, obj_uri string, obj_literal string"
    )


def vocab_docs_from_ttl(spark, path: str) -> list[dict]:
    """S5 → linker docs: per subject, labels = rdfs:label + skos:altLabel
    (+ mo:aliases, this engine's entity-TTL alias predicate), id = the
    internal id (MR namespace stripped).  Mirrors the reference's
    EntityLinking constructor (entity_linking.py:31-58)."""
    from ..functions.ids import MR_NS

    t = read_ttl_triples(spark, path)
    labels = (
        t.filter(
            F.col("pred").isin(RDFS_LABEL, SKOS_ALT_LABEL, MO_ALIASES)
            & F.col("obj_literal").isNotNull()
        )
        .groupBy("subj")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        # rdfs:label first (the canonical name), then alts
                        F.when(F.col("pred") == RDFS_LABEL, 0)
                        .otherwise(1)
                        .alias("k"),
                        F.col("obj_literal").alias("label"),
                    )
                )
            ).alias("ls")
        )
        .select(
            "subj", F.transform("ls", lambda x: x["label"]).alias("labels")
        )
        .collect()
    )
    return [
        {
            "id": (
                r["subj"][len(MR_NS):]
                if r["subj"].startswith(MR_NS)
                else r["subj"]
            ),
            "labels": list(r["labels"]),
            "prop": None,
        }
        for r in labels
    ]
