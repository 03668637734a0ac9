"""``KGPipeline.run`` on an empty workdir, composed from the same public
calls, with spans.

Spark evaluates lazily, so a span around an operator call alone would time
only plan construction.  This module therefore makes the calls
``plans.pipeline.KGPipeline.run`` makes on an empty workdir, in the same
order and with the same writes and lineage hashing, and puts a span around
each layer boundary.  (On an empty workdir no stage is skipped and none is
incremental, so those branches of the stage runner are not composed.)  The
run is valid only if every stage's ``output_fingerprint`` equals the one
``KGPipeline.run`` records for the same input; the benchmark checks this on
every traced run.

Span tree of one run::

    pipeline.run
      pipeline.ingest_hash
      pipeline.stage.<stage>           one per stage, in pipeline order
        <operator span>                e.g. extract.sites, dedup.merge
          pipeline.write               every parquet write of the stage
        pipeline.lineage_hash          re-read of the output + bucket hashes
      pipeline.vocab_hash              entity-triples input fingerprint
"""

from __future__ import annotations

import hashlib
import os
import time

# stage -> the span around its operator call and writes, in pipeline order
OPERATOR_SPANS = {
    "sites_rel": "extract.sites",
    "inv_views": "grade_tonnage.view",
    "membership": "canonicalize.membership",
    "dedup_sites": "dedup.merge",
    "dedup_inventories": "dedup.select_inventories",
    "triples": "extract.triples",
    "entity_triples": "entity_triples",
    "sameas_triples": "canonicalize.sameas",
}


class TracedPipeline:
    def __init__(self, spark, workdir: str, n_buckets: int, tracer):
        from ta2_minmod_kg_spark.plans.pipeline import Lineage

        self.spark = spark
        self.n_buckets = n_buckets
        self.tracer = tracer
        self.lineage = Lineage(
            workdir, config=f"n_buckets={n_buckets};include_extra=False"
        )
        os.makedirs(workdir, exist_ok=True)

    def _write(self, df, path: str, partitioned: bool) -> None:
        with self.tracer.span("pipeline.write", path=os.path.basename(path)):
            writer = df.write.mode("overwrite")
            if partitioned:
                writer = writer.partitionBy("bucket")
            writer.parquet(path)

    def _stage(self, stage, build, input_fp, partitioned=False):
        from pyspark.sql import functions as F

        from ta2_minmod_kg_spark.plans.pipeline import bucket_hashes

        lin = self.lineage
        out_path = lin.path(stage)
        with self.tracer.span(f"pipeline.stage.{stage}"):
            t0 = time.time()
            with self.tracer.span(OPERATOR_SPANS[stage]):
                self._write(build(), out_path, partitioned)
            with self.tracer.span("pipeline.lineage_hash"):
                out = self.spark.read.parquet(out_path)
                if not partitioned:
                    out = out.withColumn("bucket", F.lit(0))
                pb = [r.asDict() for r in bucket_hashes(out).collect()]
            lin.record(stage, pb, (time.time() - t0) * 1000, input_fp)
            return out if partitioned else self.spark.read.parquet(out_path)

    def run(self, ingest, vocab, system_edges, curated_edges) -> None:
        from pyspark.sql import functions as F

        from ta2_minmod_kg_spark.operators import (
            canonicalize,
            dedup,
            extract,
            grade_tonnage,
        )
        from ta2_minmod_kg_spark.operators.entity_triples import entity_triples
        from ta2_minmod_kg_spark.operators.validation import (
            location_crs_violations,
            vocab_membership_violations,
        )
        from ta2_minmod_kg_spark.plans.pipeline import bucket_hashes, with_bucket

        span, lin, wd = self.tracer.span, self.lineage, self.lineage.workdir
        with span("pipeline.run"):
            with span("pipeline.ingest_hash"):
                ingest = with_bucket(ingest, self.n_buckets)
                ingest_pb = [r.asDict() for r in bucket_hashes(ingest).collect()]
                ingest_fp = lin.fingerprint(ingest_pb)
                lin.record("ingest", ingest_pb, 0.0, None)

            def build_sites():
                ok, bad = extract.split_violations(extract.parse_sites(ingest))
                self._write(
                    bad.select(
                        "repo", "path", "commit", "content_sha256",
                        "violation_reason", "bucket",
                    ),
                    os.path.join(wd, "violations"), True,
                )
                self._write(
                    vocab_membership_violations(ok, vocab).unionAll(
                        location_crs_violations(ok, vocab)
                    ),
                    os.path.join(wd, "vocab_violations"), True,
                )
                sites = extract.normalize_sites(ok, vocab)
                return sites.join(
                    ingest.select("repo", "path", "bucket"), ["repo", "path"], "left"
                )

            sites = self._stage("sites_rel", build_sites, ingest_fp, partitioned=True)
            inv_views = self._stage(
                "inv_views",
                lambda: grade_tonnage.grade_tonnage_view(
                    extract.explode_inventories(sites, vocab)
                ),
                ingest_fp,
            )
            membership = self._stage(
                "membership",
                lambda: canonicalize.build_membership(
                    sites, system_edges, curated_edges
                ),
                ingest_fp,
            )
            sites_with_dedup = sites.drop("dedup_site_id").join(
                membership, "site_id", "left"
            )
            self._stage(
                "dedup_sites",
                lambda: dedup.merge_dedup_sites(sites_with_dedup),
                ingest_fp,
            )
            self._stage(
                "dedup_inventories",
                lambda: dedup.select_dedup_inventories(
                    sites_with_dedup, inv_views
                ),
                ingest_fp,
            )
            self._stage(
                "triples",
                lambda: extract.extract_triples(
                    ingest.select("repo", "path", "bucket", "content")
                ),
                ingest_fp,
                partitioned=True,
            )
            with span("pipeline.vocab_hash"):
                vh = hashlib.sha256(lin.config.encode())
                for name in sorted(vocab):
                    pb_v = [
                        r.asDict()
                        for r in bucket_hashes(
                            vocab[name].withColumn("bucket", F.lit(0))
                        ).collect()
                    ]
                    vh.update(name.encode())
                    vh.update(lin.fingerprint(pb_v).encode())
            self._stage("entity_triples", lambda: entity_triples(vocab), vh.hexdigest())
            self._stage(
                "sameas_triples",
                lambda: canonicalize.sameas_triples(
                    membership.select(
                        F.col("site_id").alias("node"),
                        F.col("dedup_site_id").alias("component"),
                    )
                ),
                ingest_fp,
            )
