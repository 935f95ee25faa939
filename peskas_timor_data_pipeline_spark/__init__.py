"""peskas_timor_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
Peskas Timor-Leste small-scale-fisheries pipeline (reference:
WorldFishCenter/peskas.timor.data.pipeline, an R/dplyr batch ETL DAG), re-
expressed Spark-first: declarative DataFrame/SQL plans optimized by Catalyst,
parquet stage boundaries, broadcast dimension joins, and zero row-wise Python
UDFs on large tables.

Layout
------
- ``session``    : SparkSession factory tuned for the workload
- ``obs``        : engine accounting read from Spark's status store
- ``schemas``    : fixed StructType schemas per logical table
- ``sources``    : readers/writers + artifact versioning
- ``operators``  : relational/restructuring/window/statistical operators
                   (the reference's dplyr surface, SURVEY.md §2)
- ``functions``  : scalar column helpers (dates, strings, geo, hashing)
- ``llm``        : large-scale training-data ops (dedup, similarity
                   search, text analysis, multimodal columns)
- ``plans``      : thin DAG runner with parquet checkpoints
- ``streaming``  : Structured Streaming ingestion patterns
"""

__version__ = "0.1.0"
