"""Per-domain query-spec modules.

IMPORT ORDER IS THE REGISTRATION ORDER: each module below registers its
specs into :data:`flink_snappydata_spark.specs.base.QUERIES` at import
time, and :mod:`flink_snappydata_spark.registry` sorts them into
driver-stamp order (never-stamped first, then stalest first) computed
from the ``CORRECTNESS_r*.json`` receipts. Queries with equal stamps
keep the order established here.
"""

from flink_snappydata_spark.specs.base import (  # noqa: F401
    QUERIES,
    QueryFn,
    QuerySpec,
)

# fmt: off
from flink_snappydata_spark.specs import tpch  # noqa: F401,E402
from flink_snappydata_spark.specs import aggregation  # noqa: F401,E402
from flink_snappydata_spark.specs import wordcount  # noqa: F401,E402
from flink_snappydata_spark.specs import joins  # noqa: F401,E402
from flink_snappydata_spark.specs import sorts_sets  # noqa: F401,E402
from flink_snappydata_spark.specs import analytic_windows  # noqa: F401,E402
from flink_snappydata_spark.specs import scalar_functions  # noqa: F401,E402
from flink_snappydata_spark.specs import streaming_ops  # noqa: F401,E402
from flink_snappydata_spark.specs import llm_pipeline  # noqa: F401,E402
from flink_snappydata_spark.specs import shards_text  # noqa: F401,E402
from flink_snappydata_spark.specs import embeddings_quality  # noqa: F401,E402
from flink_snappydata_spark.specs import olap_events  # noqa: F401,E402
from flink_snappydata_spark.specs import profiling_analytics  # noqa: F401,E402
# fmt: on
