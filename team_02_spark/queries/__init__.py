"""Declared correctness queries (SURVEY.md §2 planned keys).

Each module registers queries via the decorator in ``registry``; the
driver-facing ``__spark_entry__.py`` orders them into the assembled dicts.
Importing this package imports every query module (registration is an
import side effect by design — one flat namespace, checked for
collisions).
"""

from team_02_spark.queries.registry import QUERIES, query

# Import order = SURVEY §7.2 build order. Each import registers keys.
from team_02_spark.queries import relational  # noqa: E402,F401
from team_02_spark.queries import joins  # noqa: E402,F401
from team_02_spark.queries import aggregates  # noqa: E402,F401
from team_02_spark.queries import windows  # noqa: E402,F401
from team_02_spark.queries import scalars  # noqa: E402,F401
from team_02_spark.queries import text_queries  # noqa: E402,F401
from team_02_spark.queries import vector_queries  # noqa: E402,F401
from team_02_spark.queries import ml_queries  # noqa: E402,F401
from team_02_spark.queries import streaming_queries  # noqa: E402,F401
from team_02_spark.queries import advanced  # noqa: E402,F401
from team_02_spark.queries import tpch  # noqa: E402,F401
from team_02_spark.queries import tpch2  # noqa: E402,F401
from team_02_spark.queries import graph  # noqa: E402,F401
from team_02_spark.queries import timeseries  # noqa: E402,F401
from team_02_spark.queries import llm_pipeline  # noqa: E402,F401
from team_02_spark.queries import mlmetrics  # noqa: E402,F401
from team_02_spark.queries import sql_surface  # noqa: E402,F401
from team_02_spark.queries import misc  # noqa: E402,F401
from team_02_spark.queries import behavior  # noqa: E402,F401
from team_02_spark.queries import retail  # noqa: E402,F401
from team_02_spark.queries import hybrid  # noqa: E402,F401
from team_02_spark.queries import stats_queries  # noqa: E402,F401
from team_02_spark.queries import storage  # noqa: E402,F401
from team_02_spark.queries import tpch_partsupp  # noqa: E402,F401

__all__ = ["QUERIES", "query"]
