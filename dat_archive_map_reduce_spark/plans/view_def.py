"""View definitions — the engine's "logical plan".

The reference's only plan object is ``{path, map, reduce}`` validated by
lib/view-def.js:4-10 (path: string|string[], map: function, reduce:
optional function) with SchemaError on violation. We keep that contract
and extend it with what a typed, distributed engine needs:

- ``key_schema``: Spark types of the compound-key components, so range
  scans order with real types instead of JSON-text bytes (SURVEY.md
  §1.2 decision).
- ``reduce`` may be a *named builtin fold* ("count", "sum", "min",
  "max", "avg", "collect") which the engine lowers to a native
  ``groupBy().agg()`` — JVM-side, whole-stage-codegen'd — or an
  arbitrary Python fold ``f(acc, value, key) -> acc`` which runs as a
  deterministic sorted fold over Arrow batches (slow path, kept for
  API fidelity with /root/reference/README.md:176-180).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import types as T

from dat_archive_map_reduce_spark.errors import SchemaError

BUILTIN_FOLDS = ("count", "sum", "min", "max", "avg", "collect")

MapFn = Callable[[str, dict, Callable[[Any, Any], None]], None]
ReduceFn = Callable[[Any, Any, Any], Any]


@dataclass
class ViewDefinition:
    name: str
    path: str | Sequence[str]
    map: MapFn
    reduce: ReduceFn | str | None = None
    # Types of the key components emitted by map; defaults to a single
    # string component. Accepts pyspark DataTypes or the strings
    # "string" | "long" | "double" | "boolean" | "timestamp".
    key_schema: Sequence[Any] = field(default_factory=lambda: ["string"])
    # Declared type of the VALUES map emits (None = untyped JSON, the
    # reference's model). Purely an optimization hint today: declaring
    # "long"/"int" on a reduce="sum" or reduce="avg" view lets the
    # watch path maintain the fold by EXACT integer delta (never
    # re-scanning entries), because integer sums are exactly
    # subtractable — the same argument as count (= sum of ones); avg
    # derives from the (count, sum) pair. A "double" declaration is
    # deliberately NOT delta-eligible: FP addition is not associative,
    # so subtract-then-add drifts from a true refold bit-for-bit.
    value_type: str | None = None

    def exact_delta_fold(self) -> str | None:
        """The exactly-subtractable fold this view's maintenance can
        take ('count' | 'sum' | 'avg'), or None when only the general
        refold is sound. sum and avg require declared-integer values:
        the delta path then maintains the EXACT integer sufficient
        statistics (count, integer sum) and derives the folded value,
        bit-identical to a refold up to 2^53 — the same magnitude at
        which the refold's own double sums degrade. min/max are not
        subtractable at all, but get their own no-rescan delta fold
        against a bounded value-histogram sidecar
        (engine._fold_minmax, refold only past the bound); collect
        always refolds."""
        if self.reduce == "count":
            return "count"
        if self.reduce in ("sum", "avg") and self.value_type in (
            "long", "int", "bigint",
        ):
            return self.reduce
        return None

    def map_identity(self) -> "str | None":
        """Stable identity of this view's MAP STAGE — (path glob(s),
        map function code, key schema). Two views agreeing on all
        three emit byte-identical entry rows for any input, so they
        can share ONE entries store (r14 verdict #5 — the mapped +
        reduced twin-view pattern otherwise duplicates every entry
        row on disk and in per-batch write IO). value_type is
        deliberately excluded: declared-integer enforcement is a
        check, not a transform, so the rows stay identical whenever
        it passes (the same argument that lets twins share the
        per-batch Python map cache, streaming/watch.py).

        Returns None — NO sharing, the view gets a private store —
        whenever the function's behavior cannot be proven stable
        from its code object alone: closures (a factory-made map
        differing only in a closed-over value has identical bytecode
        but different behavior), callables without __code__
        (functools.partial, bound methods, C callables), or
        constants that do not hash stably across processes (nested
        code objects repr their address). The identity otherwise
        hashes module + qualname + bytecode + stable constants +
        defaults, so it survives process restarts and CHANGES when
        the map's source changes — define() uses that to detect a
        cross-session definition change and reset the view, the same
        contract in-session redefinition already has."""
        import hashlib
        import json as _json

        code = getattr(self.map, "__code__", None)
        if code is None or getattr(self.map, "__closure__", None):
            return None

        def _stable(c) -> bool:
            if isinstance(c, (str, bytes, int, float, bool, type(None))):
                return True
            if isinstance(c, (tuple, frozenset)):
                return all(_stable(x) for x in c)
            return False

        if not all(_stable(c) for c in code.co_consts):
            return None
        defaults = getattr(self.map, "__defaults__", None) or ()
        if not all(_stable(d) for d in defaults):
            return None
        paths = (
            list(self.path)
            if isinstance(self.path, (list, tuple))
            else [self.path]
        )
        keys = [
            t.simpleString() if isinstance(t, T.DataType) else str(t)
            for t in self.key_schema
        ]
        blob = _json.dumps(
            [
                paths,
                getattr(self.map, "__module__", "?"),
                getattr(self.map, "__qualname__", "?"),
                hashlib.sha1(code.co_code).hexdigest(),
                repr(code.co_consts),
                repr(defaults),
                keys,
            ]
        )
        return hashlib.sha1(blob.encode()).hexdigest()[:16]

    def key_types(self) -> list[T.DataType]:
        out = []
        for t in self.key_schema:
            if isinstance(t, T.DataType):
                out.append(t)
            else:
                out.append(_NAME_TO_TYPE[str(t)])
        return out


_NAME_TO_TYPE = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.LongType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}


def validate_view_def(vdef: ViewDefinition) -> ViewDefinition:
    """Schema-check a view definition (reference: lib/view-def.js:4-10).

    Raises SchemaError exactly where the reference does: bad path type,
    non-callable map, non-callable (and non-builtin-name) reduce.
    """
    if not isinstance(vdef.name, str) or not vdef.name:
        raise SchemaError("view name must be a non-empty string")
    path_ok = isinstance(vdef.path, str) or (
        isinstance(vdef.path, (list, tuple))
        and len(vdef.path) > 0
        and all(isinstance(p, str) for p in vdef.path)
    )
    if not path_ok:
        raise SchemaError(f"view '{vdef.name}': path must be a string or list of strings")
    if not callable(vdef.map):
        raise SchemaError(f"view '{vdef.name}': map must be a function")
    if vdef.reduce is not None and not callable(vdef.reduce):
        if not (isinstance(vdef.reduce, str) and vdef.reduce in BUILTIN_FOLDS):
            raise SchemaError(
                f"view '{vdef.name}': reduce must be a function or one of {BUILTIN_FOLDS}"
            )
    for t in vdef.key_schema:
        if not isinstance(t, T.DataType) and str(t) not in _NAME_TO_TYPE:
            raise SchemaError(f"view '{vdef.name}': unknown key component type {t!r}")
    if vdef.value_type is not None and vdef.value_type not in (
        "long", "int", "bigint", "double", "string", "boolean",
    ):
        raise SchemaError(
            f"view '{vdef.name}': unknown value_type {vdef.value_type!r}"
        )
    return vdef
