"""cli_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference Jelly-RDF/cli pipeline
(encode / decode / transcode / inspect / validate over RDF statement
streams) as idiomatic Spark DataFrame jobs that run at cluster scale,
plus the training-data operators (span dedup, similarity search, text
analysis, curation, multimodal plumbing) behind the query battery.

Layout
------
- :mod:`cli_spark.session`       SparkSession factory (AQE, Arrow, skew-join on)
- :mod:`cli_spark.corpus`        deterministic synthetic source-code corpus (FIXTURES.md §1)
- :mod:`cli_spark.extract`       vectorized per-language mention extraction → triples
- :mod:`cli_spark.linking`       MinHash-LSH entity linking (banding + salted scoring)
- :mod:`cli_spark.canonicalize`  iterative hash-min connected components
- :mod:`cli_spark.jellywire`     the real Jelly protobuf wire codec + stream resolver
- :mod:`cli_spark.jelly`         Jelly stream frames over Spark (encode/decode/transcode)
- :mod:`cli_spark.nquads`        N-Triples / N-Quads columnar render + parse
- :mod:`cli_spark.compare`       ordered / unordered RDF compare, containment, stream checks
- :mod:`cli_spark.inspect_metrics`  per-frame / aggregate stream metrics ("rdf inspect")
- :mod:`cli_spark.manifest`      per-stage checkpoint manifests for mid-stage resume
- :mod:`cli_spark.pipeline`      extract → link → canonicalize → materialize → validate
- :mod:`cli_spark.ops`           training-data operators (dedup, simsearch, textstats, multimodal)
"""

__version__ = "0.1.0"
