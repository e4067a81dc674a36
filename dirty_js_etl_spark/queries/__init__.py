"""Driver-facing query registry, split into per-domain modules.

The submodules register their queries as they are imported, so import
order is registration order, and registration order (after the
sentinels) is the driver window order (``_shared._window_order``).
Do not reorder the imports below — appending new modules at the end is
the only safe extension.

Every query callable, the flagship ``users_mapping``/``users_dest``
fixtures and the registry API are hoisted to the package namespace, so
``from dirty_js_etl_spark.queries import x85_chunk_documents`` works.
"""

from __future__ import annotations

import sys as _sys

from dirty_js_etl_spark.queries._shared import (  # noqa: F401
    QueryFn,
    RegisteredQuery,
    _REGISTRY,
    _SENTINELS,
    _window_order,
    all_oracles,
    all_queries,
    register,
    users_dest,
    users_mapping,
)

# Import order is the driver window order.  DO NOT REORDER.
from dirty_js_etl_spark.queries import (  # noqa: E402
    q01_combinators,
    q02_tsql,
    q03_analytics,
    q04_corpus,
    q05_tpch,
    q06_timeseries,
    q07_windows,
    q08_features,
    q09_graph_sketch,
    q10_round4,
    q11_round5,
    q12_round7,
    q13_partsupp,
    q14_privacy,
    q15_kmeans,
    q16_linkage,
    q17_pii,
    q18_portable_sketches,
)

# Hoist every query callable / helper defined by the domain modules into
# the package namespace.
_pkg = _sys.modules[__name__]
for _mod in (
    q01_combinators,
    q02_tsql,
    q03_analytics,
    q04_corpus,
    q05_tpch,
    q06_timeseries,
    q07_windows,
    q08_features,
    q09_graph_sketch,
    q10_round4,
    q11_round5,
    q12_round7,
    q13_partsupp,
    q14_privacy,
    q15_kmeans,
    q16_linkage,
    q17_pii,
    q18_portable_sketches,
):
    for _name, _val in vars(_mod).items():
        if _name.startswith("__"):
            continue
        if not hasattr(_pkg, _name):
            setattr(_pkg, _name, _val)
del _pkg, _mod, _name, _val, _sys
