"""lstore_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference event-stream store
(esdb/lstore), extended with LLM-data-pipeline operators.

Architecture (SURVEY.md §3.2/§4.2): a curated, tested, scale-hardened
operator library over stock Catalyst — every operator is a DataFrame
constructor; Spark's optimizer is the only planner.

Importing the package is light: it loads the catalog, the session
profile and the registry, not the key modules.  ``QUERIES`` and
``ORACLE`` import every key module on their first read
(``registry.load_all``), so a Python worker that unpickles one package
object — a UDF, a data source, the streaming-source runner — imports
only the module it needs.  It also installs
``session.cache_zip_directories``, so such a worker stops re-reading
pyspark's zip directories on every later call.
"""

from __future__ import annotations

from . import registry
from .catalog import SCHEMAS, load_table, load_tables, register_views
from .registry import ORACLE, QUERIES
from .session import cache_zip_directories, get_spark, tune

cache_zip_directories()

__all__ = [
    "SCHEMAS", "QUERIES", "ORACLE",
    "load_table", "load_tables", "register_views",
    "get_spark", "tune",
]
