"""The query registry: one module per query family.

Each family module defines its Spark queries, ``(spark, sf_dir) ->
DataFrame`` callables registered in ``QUERIES``, and registers the
DuckDB twin of each one right beside it in ``ORACLE``. Its ``oracle()``
returns the twins after writing any fixture they read.
``__spark_entry__`` merges the families into the driver contract.

Shared SQL fragments are module constants of the family that owns them
(``lattice.SIG_SQL`` is the signal frame every signal twin starts from).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

# Deterministic on-disk fixtures both engines read (the annotation
# reader files and the trained IVF codebook), at <repo>/.fixtures.
FIXTURE_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), os.pardir, os.pardir, ".fixtures")
)
