"""Driver-contract query battery: Spark queries + DuckDB oracle SQL.

Package form of the original single-module battery (split per VERDICT
r5 #7): ``_registry`` holds the shared dicts and helpers; the family
modules below register every query at import, in the SAME order the
single module did (import order == registration order), and
``QUERIES`` keeps that order.

Every natively-expressible operator from SURVEY.md §2 (and the
training-data ops battery) is registered twice: as a PySpark DataFrame
program and as ANSI SQL the driver runs on DuckDB over the same
parquet. Column names/values must match exactly (the driver sorts
columns by name and value-hashes). Keep each Spark query
Catalyst-friendly: JVM expressions wherever the semantics allow;
queries that deliberately route through REAL Arrow-batched UDF stages
are oracle-checked against closed-form SQL twins.
"""

from ._registry import ORACLES, QUERIES, QueryFn, _docs, _events, _register

# family modules register at import — ORDER IS REGISTRATION ORDER
from . import q_textpipe  # noqa: F401,E402
from . import q_neardup  # noqa: F401,E402
from . import q_textstats  # noqa: F401,E402
from . import q_temporal  # noqa: F401,E402
from . import q_corpus  # noqa: F401,E402
from . import q_embed  # noqa: F401,E402
from . import q_weblinks  # noqa: F401,E402

__all__ = ["QUERIES", "ORACLES", "QueryFn", "REGISTRATION_ORDER"]

#: Immutable copy of the registration order, for callers that time the
#: battery in a fixed order.
REGISTRATION_ORDER = tuple(QUERIES)
