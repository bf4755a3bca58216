"""PySpark-native medallion analytics engine.

A brand-new, open-source-PySpark implementation of the capabilities of the
reference Databricks DLT pipeline (Olist e-commerce medallion architecture):
a declarative dataset registry (tables / views / materialized views), quality
expectations (warn / drop / fail), incremental CSV ingestion with rescued-data
capture, a `LIVE.`-style SQL materialized-view layer, and the full operator
surface catalogued in SURVEY.md §2 — plus large-scale LLM-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal plumbing).

Everything here is built on public Apache Spark APIs only. No code is copied
from the reference; reference files are cited in docstrings as behavioral
specs (e.g. /root/reference/scripts/bronze/bronze_ingestion.py:20-32).
"""

import sys

from pyspark import cloudpickle

from .plans.registry import Pipeline, ExpectationViolation
from .session import get_spark

# Ship every Python-worker kernel BY VALUE: cloudpickle would otherwise
# pickle a module-level helper a kernel calls (a codec, a state function)
# by reference, and a worker that cannot import this package — a driver
# that put the repository on its own sys.path only — fails with
# ModuleNotFoundError. The check walks parent packages, so this one call
# covers every submodule.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["Pipeline", "ExpectationViolation", "get_spark"]
__version__ = "0.1.0"
