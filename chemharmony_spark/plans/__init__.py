from chemharmony_spark.plans.harmonize import harmonize  # noqa: F401
from chemharmony_spark.plans.labeler import magentic_labels  # noqa: F401
