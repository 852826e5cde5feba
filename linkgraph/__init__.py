"""linkgraph — a PySpark-native link-graph analytics engine.

Brand-new engine (NOT a port) with the query and data-processing
capabilities of OpenSPG's graph stack (reference: youshaox/openspg,
read-only checkout at /root/reference — cited by file:line in
docstrings for parity checking only).

Layout (SURVEY.md §7):
  session.py    SparkSession factory + table catalog
  extract.py    pages(html) -> text + hyperlink edges (Arrow/pandas UDFs)
  normalize.py  url canonicalization, id assignment, edge/vertex tables
  pregel.py     the superstep kernel (join -> agg -> update -> checkpoint)
  algos/        pagerank, connected components, label propagation, triangles
  ops.py        RDG-parity DataFrame operator layer (expand, var-len
                expand, top-k, optional, semi/anti, union, as-of join, ...)
  gql.py        GQL MATCH/RETURN front-end ($params, IN/LIKE/RLIKE)
  kgdsl.py      KGDSL native dialect (GraphStructure/Rule/Action, Define
                derived predicates, Action DDL, multi-statement scripts)
  functions.py  scalar/aggregate function registry (reference UDF parity)
  pipeline/     training-data ops: dedup, similarity search, text stats
  datagen.py    deterministic synthetic Common-Crawl-style pages + graphs
"""

__version__ = "0.1.0"
