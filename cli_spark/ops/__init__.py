"""Training-data operators behind the query battery — the operations a
training-data pipeline needs beyond the reference's RDF surface.

- :mod:`cli_spark.ops.dedup`        span-level exact substring dedup
- :mod:`cli_spark.ops.simsearch`    brute-force + IVF ANN over embeddings
- :mod:`cli_spark.ops.textstats`    language-ID, quality, token counts, fingerprints
- :mod:`cli_spark.ops.bpe`          byte-level BPE merge table and counting kernel
- :mod:`cli_spark.ops.curation`     repetition, PII, splits, packing, sampling
- :mod:`cli_spark.ops.multimodal`   binary columns with typed metadata; decode battery
- :mod:`cli_spark.ops.media_codecs` pure-numpy PNG/BMP/PPM/WAV codecs
"""
