"""Benchmark inputs: the synthetic corpus written to parquet, and edits.

The corpus content is fixed by ``n_sites`` (``sources.synthetic`` is a pure
function of the row index); the seed only permutes the row order of the
ingest files.  The pipeline therefore always receives the same documents,
so its stage fingerprints are fixed per corpus size and bucket count.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

N_INGEST_FILES = 4

_INGEST_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")]
)
_EDGE_SCHEMA = pa.schema([("ms_1", pa.string()), ("ms_2", pa.string())])
_CURATED_SCHEMA = pa.schema(
    [
        ("ms_1", pa.string()),
        ("ms_2", pa.string()),
        ("time_ns", pa.int64()),
        ("is_same", pa.int64()),
    ]
)


def load_or_generate(spark, n_sites: int, cache_dir: str) -> tuple[list[dict], float]:
    """The corpus documents (sorted by repo and path) with the
    seed-independent inputs beside them in ``cache_dir``, generated there
    on first use.  Returns the documents and the seconds spent generating
    (0 when they were already there)."""
    docs_path = os.path.join(cache_dir, "documents.parquet")
    if not os.path.exists(docs_path):
        from ta2_minmod_kg_spark.sources import synthetic

        t0 = time.perf_counter()
        tmp = f"{cache_dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rows = [r.asDict() for r in synthetic.synthesize_ingest(spark, n_sites).collect()]
        rows.sort(key=lambda r: (r["repo"], r["path"]))
        write_side_inputs(spark, n_sites, tmp)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=_INGEST_SCHEMA),
            os.path.join(tmp, "documents.parquet"),
        )
        os.replace(tmp, cache_dir)
        return rows, time.perf_counter() - t0
    return pq.read_table(docs_path).to_pylist(), 0.0


def write_ingest(docs: list[dict], out_dir: str, seed: int) -> None:
    """Write ``docs`` as ``N_INGEST_FILES`` parquet files in a seeded order."""
    order = list(range(len(docs)))
    random.Random(seed).shuffle(order)
    os.makedirs(out_dir)
    per_file = -(-len(order) // N_INGEST_FILES)
    for i in range(N_INGEST_FILES):
        part = [docs[j] for j in order[i * per_file : (i + 1) * per_file]]
        table = pa.Table.from_pylist(part, schema=_INGEST_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:02d}.parquet"))


def write_side_inputs(spark, n_sites: int, root: str) -> None:
    """System edges, curated edges and the vocabulary tables."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ta2_minmod_kg_spark.sources import synthetic, vocab

    edges = [r.asDict() for r in synthetic.synthesize_system_edges(spark, n_sites).collect()]
    edges.sort(key=lambda r: (r["ms_1"], r["ms_2"]))
    os.makedirs(os.path.join(root, "system_edges"))
    pq.write_table(
        pa.Table.from_pylist(edges, schema=_EDGE_SCHEMA),
        os.path.join(root, "system_edges", "part-00.parquet"),
    )
    os.makedirs(os.path.join(root, "curated_edges"))
    pq.write_table(
        pa.Table.from_pylist(
            synthetic.synthesize_curated_edges(n_sites), schema=_CURATED_SCHEMA
        ),
        os.path.join(root, "curated_edges", "part-00.parquet"),
    )
    # collected rows (not pandas, which turns null doubles into NaN) written
    # with the Arrow form of each table's Spark schema
    for name, df in vocab.vocab_dataframes(spark).items():
        os.makedirs(os.path.join(root, "vocab", name))
        pq.write_table(
            pa.Table.from_pylist(
                [r.asDict() for r in df.collect()], schema=to_arrow_schema(df.schema)
            ),
            os.path.join(root, "vocab", name, "part-00.parquet"),
        )


def read_inputs(spark, root: str, ingest_dir: str) -> dict:
    """The DataFrames handed to ``KGPipeline.run``."""
    vocab_root = os.path.join(root, "vocab")
    return {
        "ingest": spark.read.parquet(ingest_dir),
        "vocab": {
            name: spark.read.parquet(os.path.join(vocab_root, name))
            for name in sorted(os.listdir(vocab_root))
        },
        "system_edges": spark.read.parquet(os.path.join(root, "system_edges")),
        "curated_edges": spark.read.parquet(os.path.join(root, "curated_edges")),
    }


def edit_documents(docs: list[dict], seed: int, n_edits: int) -> list[dict]:
    """A copy of ``docs`` with ``n_edits`` seeded documents renamed, as a
    curator's correction would: the edit keeps each document valid."""
    rng = random.Random(seed)
    out = list(docs)
    editable = [i for i, d in enumerate(docs) if d["content"].startswith("{")]
    for k, i in enumerate(sorted(rng.sample(editable, n_edits))):
        site = json.loads(docs[i]["content"])
        site["name"] = f"{site.get('name') or 'Site'} rev{seed % 1000}-{k}"
        out[i] = {**docs[i], "content": json.dumps(site, sort_keys=True)}
    return out
