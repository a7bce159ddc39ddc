"""rdf_spark — a PySpark-native knowledge-graph construction engine.

From-scratch reimplementation of the capabilities of 0x51-dev/rdf
(W3C RDF 1.1 N-Triples / N-Quads / Turtle / TriG / RDF-star parsing and
evaluation) re-expressed Spark-first: pure-Python grammar/evaluation
kernels executed as vectorized Arrow UDFs over DataFrames, plus the
web-scale pipeline stages the reference leaves to us — extraction,
skolemization, entity linking, canonical dedupe, lineage/checkpointing —
and training-data operators (dedup, ANN, text analysis).

Layout:
- grammar/    pure-Python parsers for the five concrete syntaxes
- terms.py    term model, canonical serialization, equality oracle
- functions/  scalar function library (XSD datatypes, text, similarity)
- operators/  Spark DataFrame operators (parse, skolemize, link, dedupe, ...)
- sources/    synthetic pages generator, readers, media-type registry
- plans/      end-to-end pipeline, checkpoint/resume, lineage
- streaming/  Structured Streaming variants
"""

from .submit import guard_zip_rereads

__version__ = "0.1.0"

# Every Python worker that unpickles an rdf_spark function imports this
# package, so reused workers stop re-reading unchanged zip archives at
# each task start (see rdf_spark/submit.py).
guard_zip_rereads()
