"""PySpark-native banking-fraud ETL + analytics engine.

A brand-new, idiomatic PySpark implementation of the query and
data-processing capabilities of the reference pipeline
``artchin/ETL-pipeline-for-detection-banking-fraud`` (a pandas +
PostgreSQL daily-batch fraud ETL), re-expressed Spark-first:

- declarative DataFrame/SQL plans (Catalyst optimizes; no hand scheduling)
- parquet medallion warehouse (staging -> facts/dims -> report mart)
- SCD2 dimension maintained by a deterministic union-rewrite
- the four fraud rules as pure DataFrame transformations; rules 3-4
  (the reference's same-card self-joins) run in production as O(n log n)
  range-frame windows, and keep a literal join formulation that the
  tests check the windows against
- plus large-scale training-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal column plumbing) the reference
  does not have but a 100 TB deployment needs.

Reference parity map: see SURVEY.md section 2; each module docstring
cites the reference file:line it re-implements.
"""

__version__ = "0.1.0"
