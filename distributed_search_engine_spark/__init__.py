"""distributed_search_engine_spark — a PySpark-native full-text indexing and
query engine with the capabilities of Lai196/Distributed-Search-Engine.

Brand-new Spark-first design (DataFrame/Catalyst/Arrow), NOT a port of the
reference's KVS/Flame Java stack. See SURVEY.md for the capability map with
file:line citations into /root/reference.

Layout:
  functions/  — tokenization, Porter stemmer, stop words, hashing (shared by
                index-time and query-time code, as the reference requires).
  operators/  — DataFrame operators: doc_stats, postings, term_stats,
                pagerank, dedup, similarity, text_analysis.
  index/      — physical layer: delta-gap+varint posting codec, partitioned
                compressed segments with block-max metadata, lineage
                manifests for checkpointed resume.
  query/      — query engine: term expansion, reference-mode TF-IDF scorer,
                BM25 scorer, block-max WAND, autocomplete/spellcheck/snippets.
  corpus.py   — deterministic synthetic source-code corpus generator
                (repo, path, commit, lang, content) per BASELINE input_hint.
"""

__version__ = "0.1.0"
