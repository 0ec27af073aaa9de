"""chemharmony_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of biobricks-ai/chemharmony, re-expressed
Spark-first (DataFrame/SQL + Catalyst), plus the large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
plumbing) such an engine needs at 100 TB scale.

Layout
------
- ``session``    : SparkSession factory (AQE on, Arrow on, sane shuffle sizing)
- ``schemas``    : the three-table harmonized envelope (SURVEY.md §1)
- ``functions``  : scalar/id/json/chem helpers (SURVEY.md §2.10-2.11)
- ``operators``  : the generic operator kit (SURVEY.md §2.2-2.9) + the
                   training-data ops (dedup / similarity / text / multimodal)
- ``sources``    : readers & writers (SURVEY.md §2.1)
- ``plans``      : end-to-end pipelines (harmonize, integrations) (SURVEY.md §3)

Batch only, like the reference: there is no streaming surface.
"""

__version__ = "0.1.0"

from chemharmony_spark.session import get_spark  # noqa: F401
