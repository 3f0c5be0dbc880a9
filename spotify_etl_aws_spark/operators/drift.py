"""Schema drift detection (ingestion QA, north-star) — the check a
long-running 100 TB pipeline needs between batches: did the upstream
feed add, drop, retype, or re-null a field since the last landed
batch?

The reference pins its raw feed with pydantic models
(`/root/reference/ingestion/ingestion/models/model.py`) and would
crash mid-shred on a drifted payload; this operator makes the contract
explicit and CLASSIFIED — additive nullable fields and safe numeric
widenings flow through (parquet/Spark readers handle both), while
removals, narrowings, incompatible retypes, and required-ness changes
fail fast at the batch boundary instead of corrupting the lake.

Pure driver-side metadata work (schemas, not data): recursive
structural diff over StructType, through arrays and maps, with a
Spark-idiomatic compatibility policy:

- added nullable field            -> compatible (old rows read as NULL)
- added non-nullable field        -> breaking (historic rows can't
                                     satisfy it)
- removed field                   -> breaking (readers lose a column)
- safe widening (byte<short<int<long<float<double, date->timestamp,
  any decimal precision growth with same-or-larger scale headroom)
                                  -> compatible
- any other type change           -> breaking
- nullable -> required            -> breaking (old NULLs violate it)
- required -> nullable            -> compatible
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql.types import (
    ArrayType,
    DataType,
    DecimalType,
    MapType,
    StructType,
)


class FieldChange(NamedTuple):
    path: str
    kind: str  # added | removed | type_changed | nullability_changed
    old: str | None
    new: str | None
    breaking: bool

    def describe(self) -> str:
        flag = "BREAKING" if self.breaking else "ok"
        return f"[{flag}] {self.kind} {self.path}: {self.old} -> {self.new}"


class SchemaDriftError(RuntimeError):
    def __init__(self, changes: list[FieldChange]):
        self.changes = changes
        lines = "\n  ".join(c.describe() for c in changes if c.breaking)
        super().__init__(f"breaking schema drift:\n  {lines}")


_WIDENING_CHAINS = [
    ["byte", "short", "integer", "long", "float", "double"],
    ["date", "timestamp"],
]


def _is_safe_widening(old: DataType, new: DataType) -> bool:
    if isinstance(old, DecimalType) and isinstance(new, DecimalType):
        # value range must not shrink: both integer digits and scale
        # may only grow
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
        )
    o, n = old.typeName(), new.typeName()
    for chain in _WIDENING_CHAINS:
        if o in chain and n in chain:
            return chain.index(n) >= chain.index(o)
    return False


def _diff_type(
    path: str, old: DataType, new: DataType, out: list[FieldChange]
) -> None:
    if isinstance(old, StructType) and isinstance(new, StructType):
        _diff_struct(path, old, new, out)
        return
    if isinstance(old, ArrayType) and isinstance(new, ArrayType):
        _diff_type(f"{path}[]", old.elementType, new.elementType, out)
        if old.containsNull != new.containsNull:
            out.append(
                FieldChange(
                    f"{path}[]", "nullability_changed",
                    str(old.containsNull), str(new.containsNull),
                    breaking=not new.containsNull,
                )
            )
        return
    if isinstance(old, MapType) and isinstance(new, MapType):
        _diff_type(f"{path}{{key}}", old.keyType, new.keyType, out)
        _diff_type(f"{path}{{value}}", old.valueType, new.valueType, out)
        return
    if old != new:
        out.append(
            FieldChange(
                path, "type_changed", old.simpleString(), new.simpleString(),
                breaking=not _is_safe_widening(old, new),
            )
        )


def _diff_struct(
    prefix: str, old: StructType, new: StructType, out: list[FieldChange]
) -> None:
    old_fields = {f.name: f for f in old.fields}
    new_fields = {f.name: f for f in new.fields}
    for name, f in new_fields.items():
        path = f"{prefix}.{name}" if prefix else name
        if name not in old_fields:
            out.append(
                FieldChange(
                    path, "added", None, f.dataType.simpleString(),
                    breaking=not f.nullable,
                )
            )
    for name, f in old_fields.items():
        path = f"{prefix}.{name}" if prefix else name
        if name not in new_fields:
            out.append(
                FieldChange(
                    path, "removed", f.dataType.simpleString(), None,
                    breaking=True,
                )
            )
            continue
        g = new_fields[name]
        _diff_type(path, f.dataType, g.dataType, out)
        if f.nullable != g.nullable:
            out.append(
                FieldChange(
                    path, "nullability_changed",
                    str(f.nullable), str(g.nullable),
                    breaking=not g.nullable,  # nullable -> required
                )
            )


def diff_schemas(old: StructType, new: StructType) -> list[FieldChange]:
    """All structural differences new brings vs old, recursively
    through structs / arrays / maps, each classified breaking or
    compatible per the module policy."""
    out: list[FieldChange] = []
    _diff_struct("", old, new, out)
    return out


def assert_no_breaking_drift(old: StructType, new: StructType) -> list[FieldChange]:
    """Raise ``SchemaDriftError`` listing every breaking change; return
    the (possibly non-empty, all-compatible) change list otherwise."""
    changes = diff_schemas(old, new)
    if any(c.breaking for c in changes):
        raise SchemaDriftError(changes)
    return changes


def _nullable_everywhere(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the
    normalization applied to BOTH sides at the append boundary
    (``streaming/pipeline.py:incremental_bronze``). Spark reads parquet
    as all-nullable while in-memory batches carry tighter non-null
    schemas (literals, ``range`` ids), so required-ness comparison there
    is pure noise — a stricter batch appends into a nullable table fine,
    and an added column simply reads as NULL for historic rows.
    Required-ness POLICY belongs to the declared-contract layer
    (``assert_no_breaking_drift`` on explicit StructTypes, or the
    quality contracts in ``operators/quality.py``)."""
    if isinstance(dt, StructType):
        return StructType(
            [
                f.__class__(f.name, _nullable_everywhere(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_everywhere(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_everywhere(dt.keyType),
            _nullable_everywhere(dt.valueType),
            True,
        )
    return dt
