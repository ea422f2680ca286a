"""One-time IVF coarse-quantizer training: freeze KMeans centroids as code.

Production IVF indexes train the coarse quantizer ONCE on a sample and then
assign every vector (at any corpus scale) to its nearest frozen centroid —
training is offline, assignment is the scale path. This tool runs
pyspark.ml's distributed KMeans (k=16, seed 42) over the sf0.01
embeddings and emits `functions/ivf_centroids.py`, the literal centroid table
both the Spark query and the generated DuckDB oracle embed. Re-run only to
retrain (e.g. a new embedding distribution); the committed literals are the
single source of truth for `knn_ivf`.

Usage: python tools/train_ivf_centroids.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_warehouse_flink_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_cells, seed = 16, 42
    spark = get_spark("train-ivf")
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from data_warehouse_flink_spark.io import table

    embs = table(spark, sf_dir, "embeddings")
    feat = embs.select(
        array_to_vector(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feat)
    centroids = [[float(v) for v in c] for c in model.clusterCenters()]
    # stable order so diffs are meaningful across retrains
    centroids.sort()

    out = (
        Path(__file__).resolve().parents[1]
        / "data_warehouse_flink_spark"
        / "functions"
        / "ivf_centroids.py"
    )
    rows = ",\n".join(
        "    [" + ", ".join(repr(v) for v in c) + "]" for c in centroids
    )
    out.write_text(
        '"""Frozen IVF coarse-quantizer centroids (generated file).\n\n'
        f"Trained by tools/train_ivf_centroids.py (KMeans k={n_cells}, "
        f"seed={seed}, sf0.01\nembeddings); embedded as literals by BOTH the "
        "Spark `knn_ivf` assignment and its\ngenerated DuckDB oracle so cell "
        'ids are engine-exact. Do not hand-edit.\n"""\n\n'
        f"N_CELLS = {n_cells}\nDIM = {len(centroids[0])}\n\n"
        f"CENTROIDS: list[list[float]] = [\n{rows},\n]\n"
    )
    print(f"wrote {out} ({n_cells} cells x {len(centroids[0])} dims)")
    spark.stop()


if __name__ == "__main__":
    main()
