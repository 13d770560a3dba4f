"""node_feedparser_spark — a PySpark-native knowledge-graph construction
pipeline mirroring the parse-and-normalize discipline of
danmactough/node-feedparser (reference at /root/reference, read-only).

The reference is a streaming RSS/Atom/RDF parser-normalizer; this package
transplants its four defining behaviors onto conversation transcripts at
cluster scale (see SURVEY.md):

1. unify heterogeneous input into one canonical schema
   (reference: lib/feedparser.js:487-834 — RSS/Atom/RDF -> one item schema;
   here: text + tool turns -> one (subj, pred, obj) triple schema),
2. never lose original data (reference: lib/feedparser.js:766-771;
   here: surface forms + lineage retained next to canonical IDs),
3. robustness to hostile input (reference: lib/feedparser.js:140-154;
   here: truncated/mojibake turns recovered, errors -> metrics table),
4. deterministic ordered output with bounded memory
   (reference: lib/feedparser.js:69-71, 366; here: (conv_id, turn_idx)
   window ordering + Arrow-batched vectorized UDFs).

Layout:
    constants.py          static dictionaries (HTML tag whitelist, alias table,
                          relation patterns) — the analog of lib/constants.js
    functions/normalize.py  pure-Python text normalization (strip_html,
                          encoding repair) + pandas vectorized wrappers
    reference_extract.py  the pure-Python *spec* extractor (the oracle used
                          by tests; analog of feedparser being its own spec)
    datagen.py            deterministic synthetic transcript corpus
    operators/            Spark operators: extract, canonicalize (driver
                          Jaccard join + union-find), connected components,
                          dedupe, similarity
    plans/pipeline.py     end-to-end build_kg with lineage + resume
    plans/validate.py     post-build integrity audit
    plans/compact.py, plans/expire.py  lifecycle: compaction, expiry, rollback
    streaming/            Structured Streaming faces of batch operators
                          (PSI drift, burst detection, Elo, edge MERGE)
"""

__version__ = "0.1.0"
