"""EtlConfig / BuildConfig — the reference's config-build entry point
(T17, ``/root/reference/mappr.js:63-93``) as a typed Python surface.

The reference builds ``{databases, options, modes{sqlTest, passes},
tables[]}`` with ``node.extend`` deep-merging a user object over the
defaults, and supports two call shapes:

- ``BuildConfig(obj)``                      — deep-extend over defaults
  (``mappr.js:88-90``);
- ``BuildConfig(source, destination, opts)``— positional databases form
  (``mappr.js:84-87``).

Mappings register via ``config.useMapping(mapping, mapArguments)``
(``mappr.js:74-77``): a mapping is a *module* exposing ``Map(config,
args) → table object``; here it is any callable ``(config, args) →
MappingSpec`` (or a ready ``MappingSpec``). ``to_pipeline()`` hands the
registered tables to the runner with ``sqlTest → dry_run`` and
``passes`` carried over — the whole reference lifecycle
(``etl.js:10-43``) in three lines:

    cfg = BuildConfig({"modes": {"sqlTest": True, "passes": 2}})
    cfg.use_mapping(users_mapping_module)
    results = cfg.to_pipeline().run(catalog)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from dirty_js_etl_spark.plans.mapping import MappingSpec
from dirty_js_etl_spark.plans.runner import Pipeline


def deep_merge(base: dict, override: dict) -> dict:
    """Recursive config merge: nested dicts merge key-by-key, every
    other value (including lists) replaces. Returns a new dict; inputs
    are not mutated.

    DELIBERATE DIVERGENCE from the reference: the
    single-object ``BuildConfig(obj)`` path uses SHALLOW
    ``extend(config, obj)`` (``mappr.js:89`` — no ``true`` deep flag),
    so passing ``{modes: {sqlTest: true}}`` there replaces ``modes``
    wholesale and silently drops the ``passes`` default. That is a
    footgun, not a contract — the reference's own dependency
    (``node.extend``) is used with the deep flag elsewhere and nothing
    in the reference relies on losing sibling defaults. We deep-merge
    so partial overrides keep unrelated defaults (the behavior
    test_config.py pins)."""
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = v
    return out


_DEFAULTS: dict[str, Any] = {
    "databases": {},
    "options": {},
    "modes": {"sqlTest": False, "passes": 1},
}


@dataclass
class EtlConfig:
    """The reference ``Config()`` object (``mappr.js:63-78``)."""

    databases: dict[str, Any] = field(default_factory=dict)
    options: dict[str, Any] = field(default_factory=dict)
    modes: dict[str, Any] = field(
        default_factory=lambda: dict(_DEFAULTS["modes"])
    )
    tables: list[MappingSpec] = field(default_factory=list)

    def use_mapping(
        self,
        mapping: MappingSpec | Callable[["EtlConfig", Any], MappingSpec],
        map_arguments: Any = None,
    ) -> "EtlConfig":
        """``config.useMapping`` (``mappr.js:74-77``): a mapping callable
        closes over the config (the reference mappings branch on
        ``config.options``, ``mappings/users.js:18-24``) and returns the
        table spec; a ready MappingSpec is accepted directly."""
        spec = mapping(self, map_arguments) if callable(mapping) else mapping
        if not isinstance(spec, MappingSpec):
            raise TypeError(
                f"mapping produced {type(spec).__name__}, expected MappingSpec"
            )
        self.tables.append(spec)
        return self

    def to_pipeline(self) -> Pipeline:
        """Hand the registered tables to the runner: ``sqlTest`` becomes
        dry-run (T12), ``passes`` carries over (T11)."""
        return Pipeline(
            mappings=list(self.tables),
            passes=int(self.modes.get("passes", 1)),
            dry_run=bool(self.modes.get("sqlTest", False)),
        )


def BuildConfig(*args: Any) -> EtlConfig:
    """``Mappr.BuildConfig`` (``mappr.js:80-93``), both call shapes."""
    if len(args) == 0:
        raise TypeError("BuildConfig requires at least 1 parameter")
    if len(args) > 1:
        source, destination = args[0], args[1]
        options = args[2] if len(args) > 2 else {}
        return EtlConfig(
            databases={"source": source, "destination": destination},
            options=dict(options or {}),
        )
    merged = deep_merge(_DEFAULTS, dict(args[0]))
    return EtlConfig(
        databases=merged["databases"],
        options=merged["options"],
        modes=merged["modes"],
        tables=list(merged.get("tables", [])),
    )
