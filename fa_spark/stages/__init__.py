"""Arrow-batched UDF stages (the rebuild's extension surface, SURVEY.md §2.9).

Each stage crosses the JVM/Python boundary in Arrow batches — never
pickled row-at-a-time Python UDFs (BASELINE.json input_hint). Kernels that
work on a whole batch at once (the fused page analysis, MinHash's reduceat
pass) are pandas UDFs; kernels that map one row to one value are Spark's
Arrow-optimized row UDF (``row_udf``), which owns the batching and the
Arrow<->Python conversion. Heavy per-batch state (compiled regexes,
signature tables) is initialized once per Python worker at module import,
the Spark analogue of the reference's "load model once per process" concern
(/root/reference/src/models/fastvlm/adapter.py:127-175).
"""

import functools

from pyspark.sql import functions as F

row_udf = functools.partial(F.udf, useArrow=True)
