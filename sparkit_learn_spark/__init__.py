"""sparkit_learn_spark — a PySpark-native analytics/ML engine.

A from-scratch, DataFrame-first re-expression of the capabilities of
lensacom/sparkit-learn (blocked-RDD distributed scikit-learn, see
SURVEY.md §2A), extended with the relational, streaming and
LLM-data-pipeline operator inventory of SURVEY.md §2B.

Design rules (SURVEY.md §4):
  * Declare plans with DataFrame/SQL; let Catalyst + AQE optimize.
  * Python crosses the JVM boundary only through Arrow (pandas_udf /
    mapInPandas / applyInPandas) — the modern equivalent of the
    reference's blocked-RDD boundary.
  * No unbounded collect() to the driver; broadcast only under
    threshold; aggregation stays distributed.

Cached state: some query functions persist() or localCheckpoint()
intermediates that the returned frame still references. A session
that runs query after query releases them with
``session.release_query_state`` once each query's consumers have run.
"""

__version__ = "0.1.0"
