"""Extra measurement harness for optimization rounds (guide §1).

NOT part of the frozen driver contract (bench.py).  Provides:

- ``--explain [names...]``: dump ``.explain('formatted')`` for declared
  queries to ``plans/<tag>/<name>_<suffix>.txt``;
- ``--noop NAME``: time one declared query with the noop sink, best of 3.

Usage:
    python bench_extra.py --explain --tag r06 --suffix before
    python bench_extra.py --noop docs_simhash
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from ta2_minmod_kg_spark.session import get_spark

    return get_spark(app_name="bench-extra", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS)


def dump_explains(names, tag: str, suffix: str) -> None:
    import __spark_entry__ as em

    spark = _spark()
    qmap = em.queries()
    outdir = os.path.join(os.path.dirname(__file__), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in names or qmap.keys():
        try:
            df = qmap[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(outdir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", flush=True)
        except Exception as e:  # noqa: BLE001 — keep dumping the rest
            print(f"EXPLAIN FAILED {name}: {e!r}", flush=True)
    spark.stop()


def noop_query(name: str, trials: int = 3) -> None:
    import __spark_entry__ as em

    spark = _spark()
    qmap = em.queries()
    times = []
    for _ in range(trials):
        t0 = time.time()
        df = qmap[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    print(json.dumps({"query": name, "trials": times, "min": min(times)}))
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    if args and args[0] == "--explain":
        tag, suffix, names = "r06", "before", []
        rest = args[1:]
        while rest:
            if rest[0] == "--tag":
                tag, rest = rest[1], rest[2:]
            elif rest[0] == "--suffix":
                suffix, rest = rest[1], rest[2:]
            else:
                names.append(rest[0])
                rest = rest[1:]
        dump_explains(names, tag, suffix)
    elif args and args[0] == "--noop":
        noop_query(args[1])
    else:
        print(__doc__)
