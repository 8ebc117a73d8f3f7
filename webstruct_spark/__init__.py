"""webstruct_spark — a from-scratch, PySpark-native knowledge-graph
construction pipeline with the query/data-processing capabilities of
scrapinghub/webstruct (reference at /root/reference, studied for
behavior only; no code copied).

Layout
------
kernel/     pure-Python/numpy batch kernels with exact reference
            semantics (tokenizer, BILOU codec, longest-match,
            grouping, smart_join, viterbi) — no Spark imports, unit
            tested against the reference's own doctest goldens.
operators/  Spark DataFrame operators built on the kernels via
            Arrow-vectorized pandas UDFs (never per-row Python UDFs).
functions/  pure-Column feature expressions (token features T1-T18,
            text-quality scoring, language id, fingerprints).
sources/    deterministic synthetic transcript/gazetteer generators
            (seed-fixed, no wall clock) + loaders.
plans/      end-to-end pipeline assembly, snapshot-logged store,
            resume logic.
streaming/  Structured Streaming variants of the extraction stage.
"""

__version__ = "0.1.0"
