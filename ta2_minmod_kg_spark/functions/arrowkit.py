"""Arrow-batch kernel hygiene: bounded chunks + paused cyclic GC.

CPython's generational garbage collector makes whole-batch python-object
construction SUPERLINEAR: each collection traverses every alive
container, and collections fire on allocation-count thresholds, so a
kernel that accumulates a full Arrow batch (up to
``spark.sql.execution.arrow.maxRecordsPerBatch`` = 10k rows here) of
nested dicts pays O(alive_objects x collections).  Measured on the
normalize kernel at 571k input rows, local[32]: 2.2k-row tasks run at
~75 us/row but 4.5k-row tasks at ~250 us/row — a 5.5x wall blowup from
one doubling of task size (BENCH_NOTES.md round 5).  On a real cluster,
task size is set by ``spark.sql.files.maxPartitionBytes``, not row
count, so a 128 MB split of small rows would sit far past the knee.

Every kernel here builds ACYCLIC structures (``json.loads`` output,
plain dicts/lists/strings), so reference counting alone reclaims them
and the cyclic collector contributes nothing but the traversal cost.
``chunked_kernel`` therefore re-slices each incoming batch into bounded
chunks and pauses the cyclic collector during each chunk's
construction:

- per-row cost stays linear at ANY task size (the alive set is bounded
  by the chunk, and no gen-2 sweeps fire mid-construction);
- peak python-object memory is bounded by the chunk size, not the task
  size;
- output rows and their order are IDENTICAL — only the Arrow record
  batch boundaries move.

GC is re-enabled between chunks (and on error), so genuinely cyclic
garbage from third-party code still gets collected at chunk
boundaries.
"""

from __future__ import annotations

import gc
from typing import Callable, Iterator

import pandas as pd

# Past ~2k rows the GC knee is measurable on nested-dict kernels
# (75 -> 250 us/row between 2.2k and 4.5k, see module docstring).
DEFAULT_CHUNK_ROWS = 2048


def _chunked(per_chunk, max_rows: int, slice_):
    """The one chunk/paused-GC loop behind both wrappers.

    ``slice_(batch, start, n)`` cuts at most ``n`` rows from ``start``;
    ``len()`` is the row count of a pandas DataFrame and of a pyarrow
    RecordBatch alike.
    """

    def gen(batches):
        for batch in batches:
            n = len(batch)
            for start in range(0, n, max_rows):
                chunk = slice_(batch, start, max_rows) if n > max_rows else batch
                was_enabled = gc.isenabled()
                gc.disable()
                try:
                    out = per_chunk(chunk)
                finally:
                    if was_enabled:
                        gc.enable()
                if out is not None and len(out):
                    yield out

    return gen


def chunked_kernel(
    per_chunk: Callable[[pd.DataFrame], pd.DataFrame | None],
    max_rows: int = DEFAULT_CHUNK_ROWS,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Wrap a per-chunk function into a ``mapInPandas`` generator.

    ``per_chunk(pdf)`` receives a DataFrame slice of at most ``max_rows``
    rows (positionally indexed like the parent batch — use ``.iloc`` /
    column ``zip`` iteration, not ``.loc``) and returns the output frame
    for that slice (or None/empty to emit nothing).
    """
    return _chunked(
        per_chunk, max_rows, lambda pdf, start, n: pdf.iloc[start : start + n]
    )


def chunked_arrow_kernel(
    per_chunk,
    max_rows: int = DEFAULT_CHUNK_ROWS,
):
    """``chunked_kernel`` for ``mapInArrow``: same bounded chunks + paused
    cyclic GC, but the slices are zero-copy ``pyarrow.RecordBatch`` views
    and ``per_chunk`` returns a ``RecordBatch`` (or None/empty).

    For kernels whose output is flat columns of python scalars, building
    the record batch directly with ``pa.array`` halves the output
    conversion versus the mapInPandas path's pandas-frame construction +
    per-column ``Array.from_pandas`` (measured on the triple fan-out:
    58.6 → 29.9 µs per input row of pure conversion) — the batch is the
    wire format, so there is nothing pandas adds but overhead (guide
    §4.2).
    """
    return _chunked(per_chunk, max_rows, lambda rb, start, n: rb.slice(start, n))
