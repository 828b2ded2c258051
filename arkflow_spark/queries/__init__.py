"""Query registry: importing this package registers every named query.

Every module in this package except ``base`` is found by file and imported
here; each registers its queries into
:data:`arkflow_spark.queries.base.QUERIES` / ``ORACLE`` via the ``@query``
decorator, which rejects a name registered twice. The registry keeps that
import order. ``__spark_entry__.py`` re-exports them for the driver
contract.
"""

import importlib
import pkgutil

from arkflow_spark.queries.base import ORACLE, QUERIES  # noqa: F401

for _info in pkgutil.iter_modules(__path__):
    if _info.name != "base":
        importlib.import_module(f"{__name__}.{_info.name}")

