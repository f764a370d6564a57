from cupertino_nvr_spark.plans.registry import (  # noqa: F401
    REGISTRY,
    QuerySpec,
    register,
    all_queries,
    all_oracles,
)

# Importing the plan modules populates REGISTRY in registration order,
# which is the order all_queries() and all_oracles() return; flagship
# goes first so asof_ttl_overlay, the entry() query, leads both. Every
# declared query is checked against its DuckDB oracle by
# tests/test_registry_oracle.py.
from cupertino_nvr_spark.plans import flagship  # noqa: F401,E402
from cupertino_nvr_spark.plans import temporal  # noqa: F401,E402
from cupertino_nvr_spark.plans import event_domain  # noqa: F401,E402
from cupertino_nvr_spark.plans import scalar  # noqa: F401,E402
from cupertino_nvr_spark.plans import commands  # noqa: F401,E402
from cupertino_nvr_spark.plans import llm  # noqa: F401,E402
from cupertino_nvr_spark.plans import relational  # noqa: F401,E402
from cupertino_nvr_spark.plans import tpch_extra  # noqa: F401,E402
