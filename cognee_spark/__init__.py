"""cognee_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimplementation of the query/data-processing capabilities of
topoteretes/cognee (reference read-only at /root/reference) on Apache Spark:

- chunk source files / documents (reference: cognee/tasks/chunks/*)
- batched mention-detection + relation extraction as vectorized Arrow UDFs
  (reference: cognee/tasks/graph/extract_graph_from_data.py,
   cognee/tasks/code_graph/extract_code_graph.py)
- entity linking via blocking + MinHash-LSH + similarity scoring
  (reference: cognee/modules/ontology/matching_strategies.py generalized)
- canonicalization via union-find clusters: one driver pass over a
  dictionary-sized name set, distributed connected components
  (large-star/small-star) past it
- materialized (subj, pred, obj) triple tables + node/edge tables with
  per-partition lineage, metrics, and checkpoint/resume semantics
  (reference: cognee/modules/pipelines/operations/run_tasks*.py)

Everything is DataFrame/SQL-first: deterministic ids are native column
expressions (whole-stage codegen), Python appears only inside Arrow-batched
pandas UDFs (chunking, extraction), and every join that can broadcast does.
"""

from cognee_spark import _zipimport

# Python workers import this package when they unpickle any of its UDFs, so
# every reused worker stops re-reading its zip directories on each task from
# then on (see _zipimport and session.py).
_zipimport.install()

__version__ = "0.1.0"
