"""cyclegraph_spark — a from-scratch PySpark-native knowledge-graph
construction and analytics engine with the query/data-processing
capabilities of the CycleGraph reference (JohnnyBravo1983/CycleGraph).

Layout
------
- ``session``     : tuned SparkSession factory (AQE, Arrow, UTC).
- ``tables``      : testdata loaders.
- ``sources``     : synthetic pages corpus generator (Iceberg-style layout).
- ``extract``     : deterministic HTML→text extractor (pure-Python oracle
                    + vectorized pandas-UDF twin; byte-identical per url).
- ``operators``   : triple lifting, SHACL-as-SQL validation, entity linking,
                    connected-components canonicalization, windowed
                    metrics, sessionization, aggregations, joins, dedup,
                    similarity, text analysis, the 50-query registry.
- ``functions``   : scalar column helpers (loose numeric parse, wrap360,
                    uri minting, air density, ...).
- ``plans``       : the factory (``pipeline``) and its store
                    (``materialize``: bucketed writes, checkpoint
                    manifests, lineage rows, resume).

Everything is DataFrame/Catalyst-first; Python executes only over Arrow
batches (a pandas UDF and mapInArrow/mapInPandas stages), never per-row.
"""

__version__ = "0.1.0"
