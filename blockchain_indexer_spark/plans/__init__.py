"""Query library: every SURVEY.md §2 operator shape as a registered
(Spark builder, DuckDB oracle SQL) pair over the driver testdata.
"""

from blockchain_indexer_spark.plans.registry import REGISTRY, Query, register

# Importing the modules populates REGISTRY via their register() calls.
from blockchain_indexer_spark.plans import relational as _relational  # noqa: E402,F401
from blockchain_indexer_spark.plans import llmops as _llmops  # noqa: E402,F401
from blockchain_indexer_spark.plans import chain as _chain  # noqa: E402,F401
from blockchain_indexer_spark.plans import multimodal as _multimodal  # noqa: E402,F401

__all__ = ["REGISTRY", "Query", "register"]
