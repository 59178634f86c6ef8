"""kgp — PySpark-native knowledge-graph construction engine.

Brand-new engine (not a port) with the data-processing capabilities of the
reference project Rune-Nedergaard/knowledge-graph (see SURVEY.md): it reads a
table of multi-turn conversation/agent transcripts, reconstructs stable
per-conversation turn order, runs vectorized mention detection + triple
extraction, links and canonicalizes entities (token deletion-neighborhood
blocking + connected components), and materializes partitioned nodes/edges
tables.

Package layout
--------------
- ``kgp.textops``   pure extraction core shared by the Spark UDFs and the
                    pandas oracle (parity by construction)
- ``kgp.fuzzy``     pure token_set_ratio fuzzy similarity (reference:
                    entity_alias_mapping.ipynb cell-20, fuzzywuzzy >= 85)
- ``kgp.synth``     deterministic synthetic transcript corpus (FIXTURES.md)
- ``kgp.oracle``    single-threaded pandas reference oracle
- ``kgp.pipeline``  the five Spark stages (order, extract, link,
                    canonicalize, materialize) + lineage/resume runner
- ``kgp.ops``       training-data-pipeline operators over generic corpora
                    (dedup, similarity search, text quality, multimodal)
- ``kgp.io``        TableIO: parquet + JSON-manifest snapshots (Iceberg
                    stand-in when the runtime jar is absent)
"""

__version__ = "0.1.0"
