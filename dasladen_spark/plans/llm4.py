"""Compatibility path for ``run_corpus_pipeline``.

The pipeline lives in ``plans/curation``. The benchmark's
curation_chain workload imports it from here and wraps this module's
attribute to time it, so the name stays until the benchmark imports
``plans.curation`` directly.
"""

from dasladen_spark.plans.curation import run_corpus_pipeline  # noqa: F401
