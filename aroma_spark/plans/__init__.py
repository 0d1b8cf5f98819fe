from aroma_spark.plans.checkpoint import (  # noqa: F401
    incremental_rollup,
    load_manifest,
    write_manifest,
)
from aroma_spark.plans.pipeline import run_pipeline  # noqa: F401
from aroma_spark.plans.curate import (  # noqa: F401
    curate_corpus,
    curate_stages,
    curate_stats,
)
