"""Sub-phase breakdown of build_ivfpq_index (inline copy of its steps,
same calls) — find which of the ~8 actions inside the 7 s build costs
what. Instrumentation only."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from fb_ads_bigquery_etl_spark import storage
    from fb_ads_bigquery_etl_spark.session import get_spark
    from fb_ads_bigquery_etl_spark.operators import similarity
    from fb_ads_bigquery_etl_spark.operators.pq import (
        _bucket_stats,
        _residuals,
        _split_paths,
        encode_ints,
        refresh_ivfpq_manifest,
        train_codebooks_ints,
    )

    spark = get_spark("phase_profile_build", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e.count()

    def timed(label, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        print(f"  {label:42s} {dt:7.3f}s", flush=True)
        return out

    for rep in range(3):
        print(f"--- pass {rep} ({'warm-up' if rep == 0 else 'measured'})")
        cents_in = similarity.train_centroids_exact(e, k=16, iters=2)
        tmp = tempfile.mkdtemp(prefix="_phase_build_")
        path = os.path.join(tmp, "index")
        try:
            fs = storage.of(spark, path)
            staged_p, scents_p, commit_p = _split_paths(path)
            timed("leftover-split fs checks", lambda: [
                fs.exists(x)
                for x in (staged_p, scents_p, commit_p, f"{commit_p}_tmp")
            ])
            cents, resid = timed(
                "_residuals (lazy)",
                lambda: _residuals(e, cents_in, vec_col="embedding", id_col="vec_id"),
            )
            resid = resid.persist()
            cb = timed(
                "train_codebooks_ints (seed+1 pass)",
                lambda: train_codebooks_ints(
                    resid, dim=64, m=4, ksub=8, int_col="_r", id_col="id"
                ),
            )
            codes = encode_ints(
                resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
            ).persist()
            pre = timed("_bucket_stats (collect)", lambda: _bucket_stats(codes))
            timed(
                "codes partitioned write",
                lambda: codes.repartition("bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(path),
            )
            codes.unpersist()
            resid.unpersist()
            timed(
                "centroid sidecar write",
                lambda: cents.write.mode("overwrite").parquet(f"{path}_centroids"),
            )
            cb_rows = [
                (mm, c, [int(x) for x in cw])
                for mm, cb_m in enumerate(cb)
                for c, cw in enumerate(cb_m)
            ]
            timed(
                "codebook sidecar write",
                lambda: spark.createDataFrame(cb_rows, "m int, c int, cw array<long>")
                .write.mode("overwrite")
                .parquet(f"{path}_codebooks"),
            )
            timed(
                "refresh_ivfpq_manifest",
                lambda: refresh_ivfpq_manifest(
                    spark, path, precomputed=pre, reset=True
                ),
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
