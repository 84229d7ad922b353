"""graphdb_td2_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference system ``ppascal-ai/GraphDB-TD2``.

The reference is a Postgres → Neo4j ETL plus a Cypher-backed recommendation
API (see SURVEY.md). This package re-expresses that surface Spark-first:

- the property graph is a pair of DataFrames (``vertices``, ``edges``) built
  declaratively from relational tables (:mod:`graphdb_td2_spark.graph`);
- every Cypher pattern query is a Catalyst-optimizable equi-join chain
  (:mod:`graphdb_td2_spark.recs`);
- iterative graph algorithms (PageRank / Personalized PageRank — the
  reference's declared TODO, ``app/main.py:31-33``) are DataFrame
  supersteps (:mod:`graphdb_td2_spark.graph.superstep`);
- [extension] large-scale LLM-data-pipeline operators: deduplication,
  similarity search, text analysis, multimodal column plumbing
  (:mod:`graphdb_td2_spark.dedup`, :mod:`graphdb_td2_spark.similarity`,
  :mod:`graphdb_td2_spark.functions`, :mod:`graphdb_td2_spark.multimodal`);
- [extension] Structured Streaming over the ``events`` table
  (:mod:`graphdb_td2_spark.streaming`).

Design rules (enforced throughout):
- DataFrame / Spark SQL built-ins only in hot paths; zero row-at-a-time
  Python UDFs. Pandas UDFs (Arrow) only where no built-in exists.
- Every LIMIT carries a deterministic total-order sort (a documented
  tightening of the reference's unspecified tie order).
- Plans are written for a 1000-executor / 100 TB posture: filters push down
  to the parquet scan, small sides broadcast, dedup happens after
  seed-driven narrowing, AQE handles skew.
"""

__version__ = "0.1.0"
