"""Query plan library.

Importing this package populates the global query registry with every
implemented query/operator, one module per domain. The driver contract
(``__spark_entry__.py``) reads ``QUERIES`` and ``ORACLES`` from here.
"""

from dasladen_spark.plans.registry import ORACLES, QUERIES, query  # noqa: F401

# populate the registry
from dasladen_spark.plans import tpch  # noqa: F401,E402
from dasladen_spark.plans import sql  # noqa: F401,E402
from dasladen_spark.plans import windows  # noqa: F401,E402
from dasladen_spark.plans import analytics  # noqa: F401,E402
from dasladen_spark.plans import sketches  # noqa: F401,E402
from dasladen_spark.plans import graph  # noqa: F401,E402
from dasladen_spark.plans import dedup  # noqa: F401,E402
from dasladen_spark.plans import vectors  # noqa: F401,E402
from dasladen_spark.plans import text  # noqa: F401,E402
from dasladen_spark.plans import curation  # noqa: F401,E402
from dasladen_spark.plans import transforms_parity  # noqa: F401,E402
