"""Driver-facing query registry, one module per operator family.

Importing a family module registers its queries. ``all_queries()``
returns ``_shared.WINDOW`` (the names the driver verifies, pinned in
order) and then every other registered query in sorted name order, so
the module a query lives in changes nothing the driver sees.

Families: ``mapping`` (C1–C15, T2–T17 and the flagship users merge),
``tpch``, ``analytics``, ``dedup``, ``linkage`` (with graph),
``similarity``, ``sketch``, ``text`` (with corpus and BPE), ``events``
(with sessions, as-of, time series, ranges, SCD, streaming and Python
data sources), ``multimodal`` and ``privacy`` (with PII). A helper used
by one family lives in its module; a helper used by several lives in
``_shared``.
"""

from __future__ import annotations

from dirty_js_etl_spark.queries import (  # noqa: F401  (registers the queries)
    analytics,
    dedup,
    events,
    linkage,
    mapping,
    multimodal,
    privacy,
    similarity,
    sketch,
    text,
    tpch,
)
from dirty_js_etl_spark.queries._shared import (
    _REGISTRY,
    WINDOW,
    all_oracles,
    all_queries,
)

__all__ = ["WINDOW", "_REGISTRY", "all_oracles", "all_queries"]
