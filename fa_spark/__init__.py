"""fa_spark — PySpark-native rebuild of primeinc/file-analyzer's
multi-analyzer pipeline for Common-Crawl-style web pages.

Layout per SURVEY.md §7.0: pure.py (shared pure core), schema.py,
stages/ (Arrow-batched UDF stages), pipeline.py, lineage.py, gen_fixtures.py.
"""

__version__ = "0.1.0"
