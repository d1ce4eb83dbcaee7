"""dsm2dtm_spark — a from-scratch PySpark-native spatial-join + raster-tiling
analytics engine with the query/data-processing capabilities of the reference
``seedlit/dsm2dtm`` (DSM→DTM terrain extraction), re-expressed Spark-first.

Layout
------
- ``kernels``    pure-numpy image kernels (scipy.ndimage-compatible semantics,
                 reimplemented from scratch: sliding min/max, grey opening,
                 separable Gaussian, exact EDT with nearest indices, bilinear zoom)
- ``golden``     single-node DSM→DTM pipeline clone (the per-row invariant surface)
- ``codecs``     raster <-> bytes codecs (raw_f32 / png16 / qz8) + perceptual hash
- ``synth``      deterministic synthetic image+caption / footprint / knn tables
- ``sources``    Iceberg-style snapshot-manifest table layout on parquet
- ``operators``  Spark operators: cell index, tiling+halo, stitch, spatial join,
                 kNN join, dedup (exact/minhash/simhash), text analysis, ANN
- ``plans``      end-to-end Spark jobs (whole-image DTM, tiled DTM, resume)
- ``streaming``  event-time window aggregation; the engine is batch-only, so
                 late data arrives through the snapshot resume anti-join
"""

__version__ = "0.1.0"
