"""Spark jobs: encode a DataFrame into the stripes table, decode it back,
and the persistent table (stripes + manifest + lineage) with commit,
idempotent resume, time travel and compaction.

Execution model:

    ENCODE: df
      -> bucket = pmod(xxhash64(key), n_buckets), salt = order // stripe_rows
         (salting defuses long-conversation skew: one conversation can span
         several stripes; decode's global orderBy reassembles it)
      -> repartition placing each (bucket, salt) group round-robin on one
         task, then sortWithinPartitions(bucket, salt, sort keys)
                                                          [one shuffle]
      -> mapInArrow(encode_partition): each group's contiguous rows are one
         stripe, sliced zero-copy into the numpy codec kernels
      -> stripes rows (one per stripe-column)
    COMMIT (encode_job, each streaming micro-batch, compact_job):
      1. Spark appends the stripes rows under stripes/run=<run_id>
      2. the driver reads that run dir's metadata columns back with pyarrow
         (no stream bytes) and publishes the manifest, one row per stripe
      3. then the lineage, one row per stripe; each is ONE parquet file
         written under a _-prefixed name and moved into place
    DECODE (decode_job): manifest -> plan -> stripes files
      -> planned on the driver with pyarrow: one (stripe_id, file) row per
         stripe from the manifest, narrowed by the key blooms, a manifest
         min/max predicate (a Spark filter) and, on compacted or
         time-travelled tables, the lineage active set; the schema from
         one manifest ``kinds`` value
      -> a LocalTableScan of the plan, rows ordered to balance enc_bytes
      -> mapInArrow(decode_partition): pyarrow reads each stripe's rows
         from its file (col_name, stripe_id pushed down) and decodes one
         stripe at a time                                  [no shuffle]
      -> orderBy(sort keys) at comparison time only
    Stripe rows already in a DataFrame take the same generator after a
    repartition(stripe_id) + sort (skipped for encode_dataframe's output).

The stripes-as-rows layout is the Spark analog of the reference's
stripe/stream container (src/read/mod.rs:117-159): the manifest's
``file`` column is the footer's stripe directory, and locating one
column's streams is a ``col_name`` filter instead of offset math.
"""

from __future__ import annotations

import contextlib
import hashlib
import heapq
import os
import re
import uuid
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import stripe as stripe_mod

STRIPE_SCHEMA = T.StructType([
    T.StructField("stripe_id", T.StringType()),
    T.StructField("bucket", T.LongType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("col_name", T.StringType()),
    T.StructField("col_kind", T.StringType()),
    T.StructField("codec", T.StringType()),
    T.StructField("compression", T.StringType()),
    T.StructField("present", T.BinaryType()),
    T.StructField("data", T.BinaryType()),
    T.StructField("length", T.BinaryType()),
    T.StructField("dict_data", T.BinaryType()),
    T.StructField("extra", T.BinaryType()),
    T.StructField("n_nulls", T.LongType()),
    T.StructField("raw_bytes", T.LongType()),
    T.StructField("enc_bytes", T.LongType()),
    T.StructField("min_val", T.StringType()),
    T.StructField("max_val", T.StringType()),
    T.StructField("ndv", T.LongType()),
    T.StructField("checksum", T.StringType()),
    T.StructField("bloom", T.BinaryType()),
])

DEFAULT_STRIPE_ROWS = 65_536
# stripes held in memory per encode task (bounds task memory ≈ this many
# stripes of raw input)
STRIPES_PER_PARTITION = 4


_MM32 = 0xFFFFFFFF


def _murmur3_long(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashLong (the hash behind repartition(n, col)
    for a LongType column), as a signed int32 — pinned against F.hash and
    actual repartition placement by tests/test_pipeline_commit.py."""
    def rotl(x, n):
        return ((x << n) | (x >> (32 - n))) & _MM32

    def mix_k1(k1):
        return (rotl((k1 * 0xCC9E2D51) & _MM32, 15) * 0x1B873593) & _MM32

    def mix_h1(h1, k1):
        return (rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _MM32

    v &= 0xFFFFFFFFFFFFFFFF
    h1 = mix_h1(seed, mix_k1(v & _MM32))
    h1 = mix_h1(h1, mix_k1(v >> 32))
    h1 ^= 8
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _MM32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _MM32
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_probes(p: int) -> list[int]:
    """probes[t] = smallest non-negative long that Spark's hash partitioner
    sends to partition t of p. Lets the encode shuffle place stripe group
    g on partition (g mod p) EXACTLY (round-robin), instead of the hash
    assignment whose max load is ~2-3x the mean for group counts within a
    small multiple of the core count (the bench regime: 83 groups into 32
    partitions put up to 6 stripes on one task — a 2x kernel straggler).
    O(p^2) driver-side hash evaluations, cached per p."""
    probes: list[int | None] = [None] * p
    found, m = 0, 0
    while found < p:
        t = _murmur3_long(m) % p
        if t < 0:
            t += p
        if probes[t] is None:
            probes[t] = m
            found += 1
        m += 1
    return probes  # type: ignore[return-value]


_probe_cache: dict[int, list[int]] = {}


# balanced placement only below this group count: beyond it the
# n_groups/STRIPES_PER_PARTITION floor dominates _work_partitions and the
# per-partition group count is large enough that hash placement is already
# balanced (law of large numbers); the probe literal array also stays tiny
_BALANCE_MAX_GROUPS = 4096


def _work_partitions(spark: SparkSession, n_groups: int) -> int:
    """Task count for the CPU-bound Arrow-UDF stages. Pinned explicitly
    because AQE's size-based coalescing targets ~64MB partitions and would
    serialize CPU-heavy (but byte-light) codec work onto a handful of tasks.
    Scales with both cluster parallelism and data volume
    (≤STRIPES_PER_PARTITION stripes per task bounds memory).

    ONE task wave per core, not four: every task pays the JVM↔Python Arrow
    boundary (serialize + fetch + worker dispatch), so at fixed data volume
    4x the tasks is 4x that fixed cost for no extra parallelism — measured
    on the bench encode (672k turns, 82 stripes, 32 cores): cores*4 ≈
    4.6-7.3 s, cores*1 ≈ 3.1-3.7 s. Balance is preserved by the
    n_groups/STRIPES_PER_PARTITION floor: big inputs get as many tasks as
    their stripe count needs, small inputs get exactly the cluster width."""
    cores = spark.sparkContext.defaultParallelism
    return max(cores, -(-n_groups // STRIPES_PER_PARTITION))


def column_kinds(df: DataFrame) -> dict[str, str]:
    """Column -> engine kind from the Spark schema."""
    return {f.name: stripe_mod.spark_kind(f.dataType.simpleString())
            for f in df.schema.fields}


# struct-leaf name separator: a middle dot, NOT ".", because pyspark's
# mapInArrow resolves columns via df[name] and a "." would re-parse as
# struct field access on the already-flattened frame
_STRUCT_SEP = "\u00b7"


_MAP_KEYS = "__map_keys__"
_MAP_VALS = "__map_vals__"
_ELEMS = "__elems__"  # per-element present leaf of an array<struct> column
_ITEM = "__item__"    # anonymous segment for an array level directly
                      # inside another array (array<array<struct>> etc.)


def _compose_getter(get, name: str):
    """element-lambda composition for F.transform; NOT default-arg lambdas:
    any 2-param lambda (defaults included) is taken as transform's
    (value, index) form."""
    return lambda x: get(x).getField(name)


def _present_getter(get):
    return lambda x: get(x).isNotNull()


def _fn_getter(get, fn):
    return lambda x: fn(get(x))


def _transform_getter(get, inner):
    """x -> transform(get(x), inner): wraps an element-level getter one
    array level up (parallel leaf arrays, the ORC list-of-struct model)."""
    return lambda x: F.transform(get(x), inner)


def _ident(x):
    return x


def _nonnull(x):
    return x.isNotNull()


def _needs_decompose(dtype) -> bool:
    """True when an array's ELEMENT type contains a struct/map anywhere —
    such arrays flatten to parallel leaves; pure scalar chains stay one
    leaf (recursive ``list:`` kinds, cheaper)."""
    if isinstance(dtype, (T.StructType, T.MapType)):
        return True
    if isinstance(dtype, T.ArrayType):
        return _needs_decompose(dtype.elementType)
    return False


def _leaf_exprs(rel: str, get, dtype) -> list:
    """(leaf name, Column->Column getter) pairs for a value of ``dtype``
    reached by ``get`` — UNIFORM recursion over struct / map /
    array<struct> / array<map> at ANY nesting depth:

    - struct: one hidden ``__present__`` boolean leaf per level (ORC gives
      struct columns exactly one stream — Present) + one leaf per field.
    - map: parallel keys/values list leaves (ORC's map layout), recursing
      so map<k, struct<...>> rides the array<struct> machinery.
    - array<struct>: an element-present ``__elems__`` leaf + one parallel
      leaf ARRAY per element leaf, each getter wrapped in F.transform —
      composition makes array<struct<v: array<struct<...>>>> work at any
      depth (leaves come out as array<array<...>> — recursive list: kinds).
    - array<map>: an ``__elems__`` marker leaf (disambiguates the
      schema-free re-nest from a plain map) + per-element keys/values
      leaves.
    Only a struct/map under two CONSECUTIVE array levels raises."""
    if isinstance(dtype, T.StructType):
        out = [(f"{rel}{_STRUCT_SEP}__present__", _present_getter(get))]
        for sub in dtype.fields:
            out.extend(_leaf_exprs(f"{rel}{_STRUCT_SEP}{sub.name}",
                                   _compose_getter(get, sub.name),
                                   sub.dataType))
        return out
    if isinstance(dtype, T.MapType):
        return (_leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                            _fn_getter(get, F.map_keys),
                            T.ArrayType(dtype.keyType, False))
                + _leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                              _fn_getter(get, F.map_values),
                              T.ArrayType(dtype.valueType,
                                          dtype.valueContainsNull)))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for sub in et.fields:
                for nm, fn in _leaf_exprs(f"{rel}{_STRUCT_SEP}{sub.name}",
                                          _compose_getter(_ident, sub.name),
                                          sub.dataType):
                    out.append((nm, _transform_getter(get, fn)))
            return out
        if isinstance(et, T.MapType):
            # element-context recursion (same shape as array<struct>): the
            # per-element keys/values arrays are fields of the ELEMENT,
            # each leaf wrapped once more by the enclosing transform
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for nm, fn in (_leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                                       _fn_getter(_ident, F.map_keys),
                                       T.ArrayType(et.keyType, False))
                           + _leaf_exprs(f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                                         _fn_getter(_ident, F.map_values),
                                         T.ArrayType(et.valueType,
                                                     et.valueContainsNull))):
                out.append((nm, _transform_getter(get, fn)))
            return out
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            # array directly inside an array, with structs/maps below:
            # an anonymous __item__ segment names the inner level, the
            # __elems__ leaf preserves null inner arrays
            out = [(f"{rel}{_STRUCT_SEP}{_ELEMS}",
                    _transform_getter(get, _nonnull))]
            for nm, fn in _leaf_exprs(f"{rel}{_STRUCT_SEP}{_ITEM}",
                                      _ident, et):
                out.append((nm, _transform_getter(get, fn)))
            return out
    return [(rel, get)]


def _flatten_exprs(prefix: str, col, dtype) -> list:
    """(name, Column) leaf pairs for one top-level field."""
    return [(name, fn(col)) for name, fn in _leaf_exprs(prefix, _ident,
                                                        dtype)]


_RESERVED_SEGMENTS = frozenset(
    {"__present__", _ELEMS, _ITEM, _MAP_KEYS, _MAP_VALS})


def _check_field_names(prefix: str, dtype) -> None:
    """Loudly reject nested field names that would collide with the
    flatten's reserved segments or its ``·`` separator — a collision
    would silently corrupt the leaf mapping / schema-free re-nest."""
    def bad(name: str) -> bool:
        return name in _RESERVED_SEGMENTS or _STRUCT_SEP in name
    if isinstance(dtype, T.StructType):
        for sub in dtype.fields:
            if bad(sub.name):
                raise ValueError(
                    f"column {prefix!r}: nested field name {sub.name!r} "
                    f"collides with a reserved flatten segment or contains "
                    f"{_STRUCT_SEP!r}")
            _check_field_names(f"{prefix}.{sub.name}", sub.dataType)
    elif isinstance(dtype, T.MapType):
        _check_field_names(prefix, dtype.keyType)
        _check_field_names(prefix, dtype.valueType)
    elif isinstance(dtype, T.ArrayType):
        _check_field_names(prefix, dtype.elementType)


def _flatten_struct_cols(df: DataFrame) -> DataFrame:
    """Struct/map columns -> leaf columns, the ORC model: structs own no
    data streams, only their leaves do (the reference's Kind::Struct,
    src/proto.rs:195, is subtype plumbing); maps (Kind::Map,
    src/proto.rs:193) become parallel keys/values list leaves, exactly
    ORC's map layout. Arbitrary struct nesting depth; leaf columns
    round-trip through the codecs like any other column and decode
    reassembles from the schema."""
    def needs_flatten(dt) -> bool:
        return (isinstance(dt, (T.StructType, T.MapType))
                or (isinstance(dt, T.ArrayType) and _needs_decompose(dt)))

    if not any(needs_flatten(f.dataType) for f in df.schema.fields):
        return df
    cols = []
    for f in df.schema.fields:
        if needs_flatten(f.dataType):
            _check_field_names(f.name, f.dataType)
        for name, expr in _flatten_exprs(f.name, F.col(f.name), f.dataType):
            cols.append(expr.alias(name))
    return df.select(cols)


def _leaf_fields(prefix: str, dtype, wrap: int = 0) -> list[T.StructField]:
    """Flat-leaf StructFields mirroring :func:`_leaf_exprs`: ``wrap`` is
    the number of enclosing array levels — every leaf type comes out
    wrapped in that many ArrayTypes (the parallel leaf-array model)."""
    def W(t):
        for _ in range(wrap):
            t = T.ArrayType(t)
        return t

    if isinstance(dtype, T.StructType):
        out = [T.StructField(f"{prefix}{_STRUCT_SEP}__present__",
                             W(T.BooleanType()))]
        for sub in dtype.fields:
            out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{sub.name}",
                                    sub.dataType, wrap))
        return out
    if isinstance(dtype, T.MapType):
        return (_leaf_fields(f"{prefix}{_STRUCT_SEP}{_MAP_KEYS}",
                             T.ArrayType(dtype.keyType, False), wrap)
                + _leaf_fields(f"{prefix}{_STRUCT_SEP}{_MAP_VALS}",
                               T.ArrayType(dtype.valueType,
                                           dtype.valueContainsNull), wrap))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        if isinstance(et, T.StructType):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            for sub in et.fields:
                out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{sub.name}",
                                        sub.dataType, wrap + 1))
            return out
        if isinstance(et, T.MapType):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            out.extend(_leaf_fields(
                f"{prefix}{_STRUCT_SEP}{_MAP_KEYS}",
                T.ArrayType(et.keyType, False), wrap + 1))
            out.extend(_leaf_fields(
                f"{prefix}{_STRUCT_SEP}{_MAP_VALS}",
                T.ArrayType(et.valueType,
                            et.valueContainsNull), wrap + 1))
            return out
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            out = [T.StructField(f"{prefix}{_STRUCT_SEP}{_ELEMS}",
                                 W(T.ArrayType(T.BooleanType())))]
            out.extend(_leaf_fields(f"{prefix}{_STRUCT_SEP}{_ITEM}",
                                    et, wrap + 1))
            return out
    return [T.StructField(prefix, W(dtype))]


def _flat_fields(prefix: str, dtype) -> list[T.StructField]:
    return _leaf_fields(prefix, dtype, 0)


def _flat_schema(schema: T.StructType) -> T.StructType:
    fields = []
    for f in schema.fields:
        fields.extend(_flat_fields(f.name, f.dataType))
    return T.StructType(fields)


def _nest_schema(flat: T.StructType) -> T.StructType:
    """Inverse of _flat_schema: rebuild nested fields from ``a·b·c`` names
    (used when decoding a persisted nested encode without a caller schema).
    Field order inside each struct follows the flat column order."""
    def build(items: list[tuple[list[str], T.DataType]],
              depth: int = 0) -> T.DataType:
        # items: (remaining name segments, leaf type), order-preserving;
        # depth = number of enclosing array levels — every leaf type is
        # wrapped in that many ArrayTypes (unwrap at the leaf). An
        # ``__elems__`` head marks one more array level (array<struct> or
        # array<map>).
        if len(items) == 1 and not items[0][0]:
            t = items[0][1]  # plain leaf
            for _ in range(depth):
                t = t.elementType
            return t
        heads = [seg[0] for seg, _ in items]
        has_elems = _ELEMS in heads
        d = depth + (1 if has_elems else 0)
        if _MAP_KEYS in heads:
            ks = [(seg[1:], t) for seg, t in items if seg[0] == _MAP_KEYS]
            vs = [(seg[1:], t) for seg, t in items if seg[0] == _MAP_VALS]
            mt = T.MapType(build(ks, d).elementType,
                           build(vs, d).elementType)
            return T.ArrayType(mt) if has_elems else mt
        # struct (array<struct> when an element-present leaf is here):
        # group children by head segment, skipping the present leaves
        order, groups = [], {}
        for seg, t in items:
            h = seg[0]
            if h in ("__present__", _ELEMS):
                continue
            if h not in groups:
                order.append(h)
                groups[h] = []
            groups[h].append((seg[1:], t))
        if has_elems and order == [_ITEM]:
            # anonymous inner array level (array<array<...>> with
            # structs/maps below)
            return T.ArrayType(build(groups[_ITEM], d))
        st = T.StructType([T.StructField(h, build(groups[h], d))
                           for h in order])
        return T.ArrayType(st) if has_elems else st

    order, groups = [], {}
    for f in flat.fields:
        segs = f.name.split(_STRUCT_SEP)
        h = segs[0]
        if h not in groups:
            order.append(h)
            groups[h] = []
        groups[h].append((segs[1:], f.dataType))
    return T.StructType([T.StructField(h, build(groups[h])) for h in order])


def _mk_value(acc, rel: str, dtype):
    """Rebuild the value of ``dtype`` at leaf-path ``rel`` from flat leaf
    columns, via ``acc``: leaf name -> Column AT THE CURRENT NESTING LEVEL
    (F.col at the top; the arrays_zip element inside each transform).
    Exact inverse of :func:`_leaf_exprs`, same uniform recursion."""
    if isinstance(dtype, T.StructType):
        parts = [_mk_value(acc, f"{rel}{_STRUCT_SEP}{s.name}", s.dataType)
                 .alias(s.name) for s in dtype.fields]
        return F.when(acc(f"{rel}{_STRUCT_SEP}__present__"),
                      F.struct(*parts))
    if isinstance(dtype, T.MapType):
        return F.map_from_arrays(
            _mk_value(acc, f"{rel}{_STRUCT_SEP}{_MAP_KEYS}",
                      T.ArrayType(dtype.keyType, False)),
            _mk_value(acc, f"{rel}{_STRUCT_SEP}{_MAP_VALS}",
                      T.ArrayType(dtype.valueType,
                                  dtype.valueContainsNull)))
    if isinstance(dtype, T.ArrayType):
        et = dtype.elementType
        elems_name = f"{rel}{_STRUCT_SEP}{_ELEMS}"
        if isinstance(et, T.StructType):
            names = [f.name for sub in et.fields
                     for f in _leaf_fields(f"{rel}{_STRUCT_SEP}{sub.name}",
                                           sub.dataType, 0)]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])

            def rebuild_elem(e):
                parts = [_mk_value(lambda nm: e[nm],
                                   f"{rel}{_STRUCT_SEP}{s.name}", s.dataType)
                         .alias(s.name) for s in et.fields]
                return F.when(e[elems_name], F.struct(*parts))

            return F.transform(zipped, rebuild_elem)
        if isinstance(et, T.MapType):
            # element-context: zip ALL leaves under the keys/vals subtrees
            # (they decompose further when key/value types contain
            # structs/maps) and rebuild each per-element map inside
            kname = f"{rel}{_STRUCT_SEP}{_MAP_KEYS}"
            vname = f"{rel}{_STRUCT_SEP}{_MAP_VALS}"
            kt = T.ArrayType(et.keyType, False)
            vt = T.ArrayType(et.valueType, et.valueContainsNull)
            names = [f.name for f in (_leaf_fields(kname, kt, 0)
                                      + _leaf_fields(vname, vt, 0))]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])
            return F.transform(
                zipped, lambda e: F.when(
                    e[elems_name], F.map_from_arrays(
                        _mk_value(lambda nm: e[nm], kname, kt),
                        _mk_value(lambda nm: e[nm], vname, vt))))
        if isinstance(et, T.ArrayType) and _needs_decompose(et):
            iname = f"{rel}{_STRUCT_SEP}{_ITEM}"
            names = [f.name for f in _leaf_fields(iname, et, 0)]
            zipped = F.arrays_zip(
                acc(elems_name).alias(elems_name),
                *[acc(nm).alias(nm) for nm in names])
            return F.transform(
                zipped, lambda e: F.when(
                    e[elems_name],
                    _mk_value(lambda nm: e[nm], iname, et)))
    return acc(rel)


def _rebuild_expr(prefix: str, dtype):
    return _mk_value(lambda nm: F.col(f"`{nm}`"), prefix, dtype)


def _reassemble_structs(df: DataFrame, schema: T.StructType) -> DataFrame:
    return df.select([_rebuild_expr(f.name, f.dataType).alias(f.name)
                      for f in schema.fields])


def _estimate_rows(df: DataFrame) -> int | None:
    """Row count from parquet FOOTERS when ``df`` is file-backed — metadata
    only, no data scan (kills the count() pre-pass the encode job used to
    pay; at 100 TB that pre-pass is an extra full read). Exact when all
    footers are read; with many files, samples 64 footers and extrapolates
    by byte size (n_buckets only needs order-of-magnitude accuracy).
    Returns None when the plan has no file sources (caller falls back)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    paths = []
    for f in files:
        if ".parquet" not in f:
            return None
        paths.append(f[7:] if f.startswith("file://") else
                     f[5:] if f.startswith("file:") else f)
    if not paths:
        return None
    try:
        if len(paths) <= 64:
            return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
        # touch ONLY the 64 sampled footers driver-side: stat-ing every
        # file to byte-weight the extrapolation is O(all files) of
        # HEAD-equivalents on an object store (millions at 100 TB) before
        # the job even starts, for no accuracy n_buckets needs. A stride
        # sample over the sorted listing is unbiased in expectation, so
        # mean-rows-per-file x file count is the right cheap estimate.
        sample = sorted(paths)[:: max(len(paths) // 64, 1)][:64]
        srows = sum(pq.ParquetFile(p).metadata.num_rows for p in sample)
        return int(srows / len(sample) * len(paths))
    except Exception:
        return None


def encode_dataframe(df: DataFrame, key_col: str, order_col: str | None = None,
                     sort_keys: list[str] | None = None,
                     stripe_rows: int = DEFAULT_STRIPE_ROWS,
                     n_buckets: int | None = None,
                     n_rows: int | None = None,
                     force_codecs: dict[str, str] | None = None,
                     stripe_prefix: str = "",
                     index_rows: int | None = None,
                     bloom_cols: list[str] | None = None) -> DataFrame:
    """Encode ``df`` into stripe-column rows (lazy; one shuffle).

    ``key_col`` groups related rows into the same stripe (conv_id);
    ``order_col`` both orders rows within the stripe and salts oversized
    groups (turn_idx // stripe_rows) so a single huge conversation cannot
    blow past the stripe-size cap (skew handling, north_rule).
    ``index_rows`` adds a row-group index: every column is encoded in
    strides of that many rows with per-stride stats, enabling sub-stripe
    skipping at decode (see decode_dataframe's ``stride_range``).
    ``bloom_cols`` get per-stripe distinct-value bloom filters (point-lookup
    stripe pruning on hash-bucketed keys where min/max never prunes).
    Struct columns are flattened to their leaves (see _flatten_struct_cols).
    """
    df = _flatten_struct_cols(df)
    kinds = column_kinds(df)
    sort_keys = sort_keys or [k for k in (key_col, order_col) if k]
    if n_buckets is None:
        if n_rows is None:
            n_rows = _estimate_rows(df)  # parquet footers: no data scan
        if n_rows is None:
            n_rows = df.count()  # non-file source (e.g. generated): one job
        n_buckets = max((n_rows + stripe_rows - 1) // stripe_rows, 1)

    salt = (F.floor(F.col(order_col) / F.lit(stripe_rows)).cast("long")
            if order_col else F.lit(0))
    keyed = df.withColumn("__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))
    keyed = keyed.withColumn("__salt", salt)
    # ONE explicit shuffle (see _work_partitions for why the count is pinned)
    # + a JVM-side Tungsten sort; stripes are then contiguous row ranges and
    # the Arrow UDF slices them zero-copy. No pandas anywhere: strings go
    # Arrow buffers -> numpy codec kernels directly (mapInArrow).
    spark = df.sparkSession
    p = _work_partitions(spark, n_buckets)
    if n_buckets <= _BALANCE_MAX_GROUPS:
        # EXACT round-robin group placement: group (bucket, salt) goes to
        # partition (bucket + salt) mod p via a probe value chosen so
        # Spark's hash partitioner lands it there (see _partition_probes).
        # Deterministic (same placement every run/retry), stripe contents
        # unchanged — only which task encodes which stripe moves.
        probes = _probe_cache.setdefault(p, _partition_probes(p))
        probe_col = F.element_at(
            F.array(*[F.lit(m) for m in probes]),
            (F.pmod(F.col("__bucket") + F.col("__salt"), F.lit(p)) + 1)
            .cast("int")).cast("long")
        keyed = (keyed.withColumn("__probe", probe_col)
                 .repartition(p, "__probe")
                 .sortWithinPartitions("__bucket", "__salt", *sort_keys))
    else:
        keyed = (keyed.repartition(p, "__bucket", "__salt")
                 .sortWithinPartitions("__bucket", "__salt", *sort_keys))
    data_cols = list(kinds)

    def encode_partition(batches):
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        b = tbl.column("__bucket").to_numpy()
        s = tbl.column("__salt").to_numpy()
        change = np.flatnonzero((np.diff(b) != 0) | (np.diff(s) != 0)) + 1
        bounds = np.concatenate(([0], change, [len(b)]))
        data = tbl.select(data_cols)
        rows = []
        for i in range(len(bounds) - 1):
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            sid = f"{stripe_prefix}{int(b[lo]):08d}-{int(s[lo]):06d}"
            rows.extend(stripe_mod.encode_stripe_arrow(
                data.slice(lo, hi - lo), kinds, sid, int(b[lo]),
                force_codecs=force_codecs, index_rows=index_rows,
                bloom_cols=set(bloom_cols or ())))
        yield stripe_mod.stripe_rows_to_batch(rows)

    out = keyed.mapInArrow(encode_partition, STRIPE_SCHEMA)
    # The output is stripe-clustered BY CONSTRUCTION: each (bucket, salt)
    # group lands whole in one partition and its column rows are emitted
    # contiguously. Tag the exact object so decode_dataframe can skip its
    # re-clustering exchange when handed this output directly (the
    # in-memory roundtrip path); any derived DataFrame (filter, read-back
    # from storage) loses the tag and keeps the safe re-shuffle.
    out._ofs_stripe_clustered = True
    return out


def _schema_from_kinds(by_name: dict[str, str],
                       columns: list[str] | None) -> tuple[T.StructType, list[str]]:
    kind_to_spark = {
        "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
        "int64": T.LongType(), "float32": T.FloatType(), "float64": T.DoubleType(),
        "bool": T.BooleanType(), "string": T.StringType(),
        "timestamp": T.TimestampType(), "date": T.DateType(),
        "binary": T.BinaryType(),
        "array_float32": T.ArrayType(T.FloatType()),
        "array_float64": T.ArrayType(T.DoubleType()),
        "array_int64": T.ArrayType(T.LongType()),
        "array_string": T.ArrayType(T.StringType()),
        "array_bool": T.ArrayType(T.BooleanType()),
        "array_ts": T.ArrayType(T.TimestampType()),
        "array_date": T.ArrayType(T.DateType()),
    }

    def to_spark(kind: str) -> T.DataType:
        if kind in kind_to_spark:
            return kind_to_spark[kind]
        if kind.startswith("decimal_"):
            _, p, s = kind.split("_")
            return T.DecimalType(int(p), int(s))
        if kind.startswith("list:"):
            return T.ArrayType(to_spark(kind[5:]))
        raise ValueError(kind)

    cols = []
    for c in (columns or sorted(by_name)):
        if c in by_name:
            cols.append(c)
            continue
        # a nested column requested by its TOP-LEVEL name ("tc") expands to
        # its persisted leaves ("tc·__elems__", "tc·fn·name", ...) so column
        # pruning composes with the flattened layout
        pre = c + _STRUCT_SEP
        leaves = [n for n in sorted(by_name) if n.startswith(pre)]
        if not leaves:
            raise KeyError(f"column {c!r} not in persisted kinds")
        cols.extend(leaves)
    fields = [T.StructField(c, to_spark(by_name[c])) for c in cols]
    return T.StructType(fields), cols


def infer_schema(stripes: DataFrame, columns: list[str] | None = None) -> tuple[T.StructType, list[str]]:
    """Recover the decoded Spark schema from the stripes metadata (tiny job,
    but O(stripe rows) — prefer infer_schema_from_manifest on persisted
    tables, which reads ONE manifest row)."""
    pairs = (stripes.select("col_name", "col_kind").distinct().collect())
    return _schema_from_kinds(
        {r["col_name"]: r["col_kind"] for r in pairs}, columns)


def infer_schema_from_manifest(spark: SparkSession, out_dir: str,
                               columns: list[str] | None = None
                               ) -> tuple[T.StructType, list[str]]:
    """Schema from the manifest's per-stripe ``kinds`` string, read on the
    driver with pyarrow (no Spark job) from the first row that has one —
    vs infer_schema's distinct over every stripe-column row (at 15M
    stripes that distinct scans 150M metadata rows before any data
    decode). Falls back to that distinct only when the manifest has no
    files or no non-null ``kinds`` (pre-``kinds`` tables); a manifest
    file that cannot be read raises."""
    head = _dataset(out_dir, "manifest", pa.schema([("kinds", pa.string())])
                    ).head(1, filter=ds.field("kinds").is_valid())
    kinds = head["kinds"][0].as_py() if head.num_rows else None
    if kinds:
        by_name = {}
        for pair in kinds.split(","):
            # FIRST colon: recursive kinds ("list:array_int64") contain
            # colons themselves; column names never do
            name, kind = pair.split(":", 1)
            by_name[name] = kind
        return _schema_from_kinds(by_name, columns)
    return infer_schema(read_stripes(spark, out_dir), columns)


def _stripe_chunks(batches, want: list[str]):
    """(source, Arrow batch) chunks of stripe-column rows: input rows with
    stream bytes as they are, a plan's stripes read from their files one
    file at a time (``col_name``, ``stripe_id`` pushed down)."""
    for b in batches:
        if "file" not in b.schema.names:
            yield "the input rows", b
            continue
        by_file: dict[str, list[str]] = {}
        for sid, path in zip(b.column("stripe_id").to_pylist(),
                             b.column("file").to_pylist()):
            by_file.setdefault(path, []).append(sid)
        for path, sids in by_file.items():
            filesystem, local = _table_fs(path)
            seen: set[str] = set()
            for chunk in ds.dataset(local, format="parquet",
                                    filesystem=filesystem).to_batches(
                    filter=(ds.field("col_name").isin(want)
                            & ds.field("stripe_id").isin(sids)),
                    use_threads=False):
                seen.update(chunk.column("stripe_id").to_pylist())
                yield path, chunk
            if len(seen) < len(sids):
                raise ValueError(
                    f"stripes {sorted(set(sids) - seen)[:3]} are planned "
                    f"from {path} but are not in it")


def _stripes(batches, want: list[str]):
    """Each stripe's rows as dicts, streamed: a stripe's rows arrive
    contiguously (sorted input, or one stripes file), so a task holds one
    incoming batch at a time. A stripe that lacks a wanted column raises,
    naming the stripe and where it was read from."""
    def complete(key, rows):
        missing = set(want) - {r["col_name"] for r in rows}
        if missing:
            raise ValueError(f"stripe {key[1]} in {key[0]} lacks columns "
                             f"{sorted(missing)}")
        return rows

    rows, key = [], None
    for src, b in _stripe_chunks(batches, want):
        for r in b.to_pylist():
            if (src, r["stripe_id"]) != key:
                if rows:
                    yield complete(key, rows)
                rows, key = [], (src, r["stripe_id"])
            rows.append(r)
    if rows:
        yield complete(key, rows)


def decode_dataframe(stripes: DataFrame, columns: list[str] | None = None,
                     schema: T.StructType | None = None,
                     stride_range: tuple | None = None) -> DataFrame:
    """Decode stripes back to the original row layout (lazy), one stripe
    at a time. ``stripes`` is either a decode plan, one ``(stripe_id,
    file)`` row per stripe as decode_job builds it (``schema`` required):
    each task reads its stripes' rows from their files with pyarrow, with
    no shuffle and no stream bytes through the JVM; or stripe-column rows
    carrying the stream bytes, re-clustered by a repartition(stripe_id) +
    sortWithinPartitions unless they are encode_dataframe's own output.

    ``columns`` prunes decode to the named columns: the ``col_name``
    filter is pushed into the parquet read, the analog of the reference's
    read-one-column projection pushdown (src/read/mod.rs:117-159).

    ``stride_range`` = (col_name, lo, hi): on row-group-indexed stripes,
    decode ONLY the strides whose per-stride [min,max] for that column
    overlaps [lo, hi] (sub-stripe skipping). The caller applies the exact
    residual predicate; strides are a superset of matching rows.
    """
    nested_schema = None
    if schema is not None and any(
            isinstance(f.dataType, (T.StructType, T.MapType))
            or (isinstance(f.dataType, T.ArrayType)
                and _needs_decompose(f.dataType))
            for f in schema.fields):
        nested_schema = schema
        schema = _flat_schema(schema)
        columns = [f.name for f in schema.fields]
    if schema is None:
        schema, columns = infer_schema(stripes, columns)
    elif columns is None:
        columns = [f.name for f in schema.fields]
    if nested_schema is None and any(_STRUCT_SEP in c for c in columns):
        # struct leaves persisted without a caller nested schema: re-nest
        nested_schema = _nest_schema(schema)
    scan_cols = list(columns)
    if stride_range is not None and stride_range[0] not in scan_cols:
        scan_cols.append(stride_range[0])  # stats live on the predicate col
    if "file" not in stripes.columns:
        clustered = getattr(stripes, "_ofs_stripe_clustered", False)
        stripes = stripes.filter(F.col("col_name").isin(scan_cols))
        # encode_dataframe's own output is stripe-contiguous already (its
        # tag), which fuses encode and decode into ONE stage. Other rows
        # are clustered on a pinned task count: they expand ~10x on
        # decode, so AQE's size-based coalescing would serialize them.
        if not clustered:
            cores = stripes.sparkSession.sparkContext.defaultParallelism
            stripes = (stripes.repartition(cores, "stripe_id")
                       .sortWithinPartitions("stripe_id"))
    target_schema = to_arrow_schema(schema)

    def decode_partition(batches):
        for rows in _stripes(batches, scan_cols):
            yield stripe_mod.decode_stripe_arrow(
                rows, columns, target_schema, stride_range=stride_range)

    out = stripes.mapInArrow(decode_partition, schema)
    if nested_schema is not None:
        out = _reassemble_structs(out, nested_schema)
    return out


# ---------------------------------------------------------------------------
# persistent table: driver-built manifest + lineage, idempotent resume
# ---------------------------------------------------------------------------

# what commit reads back from a run dir: the stripe-column rows without the
# five stream columns (a few hundred bytes per stripe-column)
_RUN_META = pa.schema([
    f for f in to_arrow_schema(STRIPE_SCHEMA)
    if f.name not in ("present", "data", "length", "dict_data", "extra")])
_MANIFEST_HEAD = [
    ("stripe_id", pa.string()), ("bucket", pa.int64()),
    ("n_rows", pa.int64()), ("raw_bytes", pa.int64()),
    ("enc_bytes", pa.int64()), ("n_cols", pa.int64()),
    ("codecs", pa.string()), ("kinds", pa.string()),
    ("checksum", pa.string())]
_LINEAGE_HEAD = [f for f in _MANIFEST_HEAD if f[0] != "kinds"]


def _build_manifest(rows: list[dict], key_col: str | None,
                    order_col: str | None) -> pa.Table:
    """Footer-style per-stripe index (the FileMetadata/StripeInformation +
    ColumnStatistics analog, src/proto.rs:206-217,66-87), built from the
    stats the stripe-column rows already carry — an ORC writer likewise
    never re-reads its stripes to write the footer. One row per stripe:
    sizes, sorted ``col:codec`` / ``col:kind`` lists, sha1 over the sorted
    ``col:checksum`` list, the key/order columns' min/max (no ``order_*``
    columns without ``order_col``) and the key column's bloom for lookup
    pruning, then ``file``, the stripes file decode reads the stripe from
    (the lexicographically first, should a replayed append have written
    it twice). Crash-replayed duplicate (stripe_id, col_name) rows count
    once; nulls are skipped like Spark's max/sum/concat_ws skip them."""
    stripes: dict[str, dict[str, dict]] = {}
    for r in rows:
        stripes.setdefault(r["stripe_id"], {}).setdefault(r["col_name"], r)
    fields = list(_MANIFEST_HEAD)
    for c, alias in ((key_col, "key"), (order_col, "order")):
        if c:
            fields += [(f"{alias}_min", pa.string()),
                       (f"{alias}_max", pa.string())]
    if key_col:
        fields.append(("key_bloom", pa.binary()))
    fields.append(("file", pa.string()))
    out = []
    for sid in sorted(stripes):
        cols = stripes[sid]

        def agg(fn, field):
            vals = [r[field] for r in cols.values() if r[field] is not None]
            return fn(vals) if vals else None

        def listing(field):
            return ",".join(sorted(
                ":".join(v for v in (name, r[field]) if v is not None)
                for name, r in cols.items()))

        row = {"stripe_id": sid, "bucket": agg(max, "bucket"),
               "n_rows": agg(max, "n_rows"),
               "raw_bytes": agg(sum, "raw_bytes"),
               "enc_bytes": agg(sum, "enc_bytes"), "n_cols": len(cols),
               "codecs": listing("codec"), "kinds": listing("col_kind"),
               "checksum": hashlib.sha1(
                   listing("checksum").encode()).hexdigest()}
        for c, alias in ((key_col, "key"), (order_col, "order")):
            if c:
                row[f"{alias}_min"] = cols.get(c, {}).get("min_val")
                row[f"{alias}_max"] = cols.get(c, {}).get("max_val")
        if key_col:
            row["key_bloom"] = cols.get(key_col, {}).get("bloom")
        row["file"] = agg(min, "file")
        out.append(row)
    return pa.Table.from_pylist(out, schema=pa.schema(fields))


def _build_lineage(manifest: pa.Table, run_id: str, params: dict | None,
                   status: str, committed_at: datetime) -> pa.Table:
    """Lineage rows for ``manifest``'s stripes: their size/codec/checksum
    columns plus ``status``, the run, ONE commit time and the layout
    params resume and compaction check against (typed nulls when unset)."""
    params = params or {}

    def joined(k):
        return ",".join(params[k]) if params.get(k) is not None else None

    consts = [
        ("status", status, pa.string()), ("run_id", run_id, pa.string()),
        ("committed_at", committed_at, pa.timestamp("us", tz="UTC")),
        ("p_n_buckets", params.get("n_buckets"), pa.int64()),
        ("p_stripe_rows", params.get("stripe_rows"), pa.int64()),
        ("p_key_col", params.get("key_col"), pa.string()),
        ("p_order_col", params.get("order_col"), pa.string()),
        # -1 = "no stride index" (a real layout choice, not "unspecified"):
        # a None->value transition on resume must be caught too
        ("p_index_rows", params["index_rows"]
         if params.get("index_rows") is not None else -1, pa.int64()),
        ("p_bloom_cols", joined("bloom_cols"), pa.string()),
        ("p_sort_keys", joined("sort_keys"), pa.string())]
    cols = {c: manifest.column(c).cast(t) for c, t in _LINEAGE_HEAD}
    cols.update({c: pa.array([v] * manifest.num_rows, t)
                 for c, v, t in consts})
    return pa.table(cols)


def _parquet_files(out_dir: str, table_dir: str,
                   recursive: bool = False) -> tuple:
    """(filesystem, sorted paths) of the parquet files under
    ``out_dir/table_dir``, directly or, with ``recursive``, in its
    subdirectories too; a ``_``/``.`` name anywhere below ``table_dir``
    is skipped, as Spark does (no paths when the directory does not
    exist)."""
    filesystem, base = _table_fs(out_dir)
    root = f"{base}/{table_dir}"
    infos = filesystem.get_file_info(pafs.FileSelector(
        root, allow_not_found=True, recursive=recursive))
    return filesystem, sorted(
        i.path for i in infos if i.is_file and not any(
            part.startswith(("_", "."))
            for part in i.path[len(root) + 1:].split("/")))


def _dataset(out_dir: str, table_dir: str, schema: pa.Schema):
    """Driver-side pyarrow dataset of ``schema``'s columns over
    ``out_dir/table_dir`` (empty when nothing is there; a column a file
    lacks reads as nulls)."""
    filesystem, paths = _parquet_files(out_dir, table_dir)
    return ds.dataset(paths, schema=schema, format="parquet",
                      filesystem=filesystem)


def _write_run(stripes: DataFrame, out_dir: str, run_id: str,
               key_col: str | None, order_col: str | None) -> pa.Table:
    """Append ``stripes`` under ``stripes/run=<run_id>`` (the commit's only
    Spark work), then build that run's manifest from ONLY its metadata
    columns, read back on the driver file by file — O(batch), and no
    stream bytes — with each row's file relative to ``out_dir``."""
    stripes.write.mode("append").parquet(f"{out_dir}/stripes/run={run_id}")
    base = _table_fs(out_dir)[1]
    rows = []
    for frag in _dataset(out_dir, f"stripes/run={run_id}",
                         _RUN_META).get_fragments():
        rel = frag.path[len(base) + 1:]
        rows += [dict(r, file=rel) for r in
                 frag.to_table(schema=_RUN_META).to_pylist()]
    return _build_manifest(rows, key_col, order_col)


def _publish(out_dir: str, table_dir: str, tbl: pa.Table,
             run_id: str) -> None:
    """Add ``tbl`` to ``out_dir/table_dir`` as ONE parquet file, written
    under a ``_``-prefixed name that Spark and pyarrow readers skip and
    then moved to a unique ``part-<run_id>-<uuid>.parquet``: readers see
    the whole file or none of it, never a partial one."""
    filesystem, base = _table_fs(out_dir)
    name = f"part-{run_id}-{uuid.uuid4().hex}.parquet"
    final, tmp = f"{base}/{table_dir}/{name}", f"{base}/{table_dir}/_{name}"
    filesystem.create_dir(f"{base}/{table_dir}", recursive=True)
    try:
        with filesystem.open_output_stream(tmp, compression=None) as f:
            pq.write_table(tbl, f)
        filesystem.move(tmp, final)
    except BaseException:
        with contextlib.suppress(OSError):
            filesystem.delete_file(tmp)
        raise


def _read_lineage(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The lineage table, or None while nothing is published there —
    decided by a driver-side listing, so a fresh table runs no Spark job."""
    if not _parquet_files(out_dir, "lineage")[1]:
        return None
    return spark.read.parquet(f"{out_dir}/lineage")


def completed_stripes(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Stripe ids already committed per the lineage table (None if fresh)."""
    lineage = _read_lineage(spark, out_dir)
    if lineage is None:
        return None
    return lineage.filter(F.col("status") == "ok").select("stripe_id").distinct()


def _check_resume_params(spark: SparkSession, out_dir: str,
                         params: dict) -> None:
    """Fail fast when resuming into an out_dir that was written with
    different partitioning parameters: stripe ids are a pure function of
    (input, n_buckets, stripe_rows), so a silent param change would pass the
    lineage anti-join and append a disjoint second copy of the data.
    index_rows/bloom_cols don't move rows but DO change stripe bytes — a
    mismatch would break the 're-encoding a stripe reproduces identical
    bytes' invariant and produce a mixed-layout table, so they're guarded
    too (older lineage without these columns skips their check)."""
    lineage = _read_lineage(spark, out_dir)
    if lineage is None:
        return
    row = lineage.select(*[c for c in (
        "p_n_buckets", "p_stripe_rows", "p_key_col", "p_index_rows",
        "p_bloom_cols", "p_sort_keys") if c in lineage.columns]).first()
    if row is None or row["p_n_buckets"] is None:
        return  # pre-param lineage (or empty): nothing to check against
    want_bloom = (",".join(params["bloom_cols"])
                  if params.get("bloom_cols") is not None else None)
    checks = [
        (row["p_n_buckets"], params.get("n_buckets"), "n_buckets"),
        (row["p_stripe_rows"], params.get("stripe_rows"), "stripe_rows"),
        (row["p_key_col"], params.get("key_col"), "key_col")]
    if "p_index_rows" in row.__fields__:
        want_idx = params["index_rows"] if params.get("index_rows") is not None else -1
        checks.append((row["p_index_rows"], want_idx, "index_rows"))
        checks.append((row["p_bloom_cols"], want_bloom, "bloom_cols"))
    if "p_sort_keys" in row.__fields__:
        want_sort = (",".join(params["sort_keys"])
                     if params.get("sort_keys") is not None else None)
        checks.append((row["p_sort_keys"], want_sort, "sort_keys"))
    for have, want, name in checks:
        if want is not None and have is not None and have != want:
            raise ValueError(
                f"resume into {out_dir} with mismatched {name}: "
                f"lineage has {have!r}, job has {want!r} — stripe layout "
                "would not line up and the table would be silently mixed")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest with crash-window duplicates collapsed: a rerun that
    died between the manifest file and the lineage file re-appends the
    same manifest rows; dedupe by stripe_id so stats never double-count."""
    return (spark.read.parquet(f"{out_dir}/manifest")
            .dropDuplicates(["stripe_id"]))


def commit(spark: SparkSession, stripes: DataFrame, out_dir: str,
           key_col: str, order_col: str | None, run_id: str,
           params: dict | None = None) -> None:
    """Commit ONE batch of stripes, in this order: Spark appends the batch's
    rows into a run-scoped partition (``stripes/run=<run_id>``); the driver
    reads back ONLY that run dir's metadata columns (one pyarrow pass, no
    stream bytes) and publishes the manifest, then the lineage, each as one
    atomically published parquet file (see _publish).

    Commit cost is O(batch), never O(table) — the streaming path calls this
    per micro-batch, and re-reading the whole stripes table per batch would
    grow without bound. Crash-window replays (same run_id appending
    byte-identical rows twice) are collapsed per (stripe_id, col_name)
    before stats are aggregated, so manifest raw/enc byte counts and
    checksums are invariant to replayed appends. A batch with no stripes
    publishes nothing."""
    manifest = _write_run(stripes, out_dir, run_id, key_col, order_col)
    if manifest.num_rows:
        _publish(out_dir, "manifest", manifest, run_id)
        _publish(out_dir, "lineage", _build_lineage(
            manifest, run_id, params, "ok", datetime.now(timezone.utc)),
            run_id)


def read_stripes(spark: SparkSession, out_dir: str) -> DataFrame:
    """The full stripes table (all runs), stream bytes included, as Spark
    reads it. The run= partition column is dropped. Orphan rows from a
    crash between the stripes append and the manifest publish are in it;
    decode_job never reads them, because it plans from the manifest."""
    return (spark.read.schema(STRIPE_SCHEMA)
            .option("basePath", f"{out_dir}/stripes")
            .parquet(f"{out_dir}/stripes")
            .select(*[f.name for f in STRIPE_SCHEMA.fields]))


def encode_job(spark: SparkSession, df: DataFrame, out_dir: str,
               key_col: str = "conv_id", order_col: str | None = "turn_idx",
               sort_keys: list[str] | None = None,
               stripe_rows: int = DEFAULT_STRIPE_ROWS,
               n_buckets: int | None = None,
               index_rows: int | None = None,
               bloom_cols: list[str] | None = None) -> dict:
    """Encode ``df`` to ``out_dir``/{stripes,manifest,lineage} parquet.
    The key column gets a per-stripe bloom filter by default (manifest
    ``key_bloom``), enabling point-lookup stripe pruning via decode_job's
    ``key_equals``.

    Idempotent resume (north_rule): stripe ids are a pure function of the
    input (bucket hash + order salt), so a rerun after a partial failure
    anti-joins the lineage table and encodes ONLY the missing stripes;
    re-encoding a stripe reproduces identical bytes (deterministic codecs),
    and lineage gains exactly one 'ok' row per stripe. Resuming with
    different n_buckets/stripe_rows/key_col raises (lineage records them).
    """
    if n_buckets is None:
        n_rows = _estimate_rows(df)
        if n_rows is None:
            n_rows = df.count()
        n_buckets = max((n_rows + stripe_rows - 1) // stripe_rows, 1)
    run_id = uuid.uuid4().hex[:12]
    if bloom_cols is None:
        bloom_cols = [key_col]
    params = {"n_buckets": n_buckets, "stripe_rows": stripe_rows,
              "key_col": key_col, "order_col": order_col,
              "index_rows": index_rows, "bloom_cols": sorted(bloom_cols),
              "sort_keys": sort_keys}
    _check_resume_params(spark, out_dir, params)

    stripes = encode_dataframe(df, key_col, order_col, sort_keys,
                               stripe_rows, n_buckets, index_rows=index_rows,
                               bloom_cols=bloom_cols)

    done = completed_stripes(spark, out_dir)
    resumed = False
    if done is not None:
        stripes = stripes.join(F.broadcast(done), "stripe_id", "left_anti")
        resumed = True

    commit(spark, stripes, out_dir, key_col, order_col, run_id, params=params)

    sums = ("n_rows", "raw_bytes", "enc_bytes")
    # one row per stripe: a rerun that died between the manifest and the
    # lineage publish re-appends the same manifest rows
    man = (_dataset(out_dir, "manifest", pa.schema(
        [("stripe_id", pa.string())] + [(c, pa.int64()) for c in sums]))
        .to_table().group_by("stripe_id", use_threads=False)
        .aggregate([(c, "first") for c in sums]))
    if has_compactions(out_dir):
        # tombstoned stripes keep their manifest rows (old snapshots need
        # them) — stats must count only the active set or they double
        man = _narrow(man, active_stripe_ids(spark, out_dir)
                      .toArrow()["stripe_id"])
    return {"run_id": run_id, "resumed": resumed, "n_buckets": n_buckets,
            "n_stripes": man.num_rows,
            **{c: pc.sum(man[f"{c}_first"]).as_py() for c in sums}}


# up to this many planned stripe ids become a literal IN-filter; more ride
# a broadcast semi-join
_MAX_LITERAL_IDS = 10_000


def _bloom_survivors(out_dir: str, key) -> list[str]:
    """Ids of the manifest's stripes whose key bloom might hold ``key``,
    each once (crash-replayed manifest rows repeat). A driver-side pyarrow
    pass, like an ORC reader planning from its footer: each manifest file
    is streamed as (stripe_id, key_bloom) record batches through one
    vectorized probe each. The files are scanned one at a time, so driver
    memory stays bounded by one file (a dataset-wide scan reads ahead of
    this slow consumer and ended up holding most of the column). Null,
    legacy or missing blooms never prune."""
    from . import bloom as bloom_mod
    schema = pa.schema([("stripe_id", pa.string()), ("key_bloom", pa.binary())])
    keep: dict[str, None] = {}
    for frag in _dataset(out_dir, "manifest", schema).get_fragments():
        for batch in frag.to_batches(schema=schema):
            hit = bloom_mod.might_contain_many(
                batch.column("key_bloom").to_pylist(), key)
            keep.update(dict.fromkeys(
                batch.column("stripe_id").filter(pa.array(hit)).to_pylist()))
    return list(keep)


def _only(df: DataFrame, keep: list[str]) -> DataFrame:
    """``df`` narrowed to the stripe ids in ``keep``: a LITERAL IN-filter
    that Catalyst pushes into the parquet scan (row-group stats skip the
    pruned rows), or, past _MAX_LITERAL_IDS ids, a broadcast semi-join."""
    if len(keep) <= _MAX_LITERAL_IDS:
        return df.filter(F.col("stripe_id").isin(keep))
    ids = df.sparkSession.createDataFrame([(i,) for i in keep],
                                          "stripe_id string")
    return df.join(F.broadcast(ids), "stripe_id", "left_semi")


def _narrow(tbl: pa.Table, ids) -> pa.Table:
    """``tbl``'s rows whose stripe_id is in ``ids`` (list or Arrow column)."""
    ids = (ids.combine_chunks() if isinstance(ids, pa.ChunkedArray)
           else pa.array(ids, pa.string()))
    return tbl.filter(pc.is_in(tbl["stripe_id"],
                               value_set=ids.cast(pa.string())))


def _locate(out_dir: str, ids: list[str]) -> dict[str, str]:
    """Stripe id -> the lexicographically first stripes file holding it,
    relative to ``out_dir``, from ONLY the stripe_id column of the stripes
    files: for manifest rows written before the manifest had ``file``."""
    base = _table_fs(out_dir)[1]
    filesystem, paths = _parquet_files(out_dir, "stripes", recursive=True)
    want, found = set(ids), {}
    for path in paths:
        held = pq.read_table(path, columns=["stripe_id"],
                             filesystem=filesystem)["stripe_id"]
        for sid in pc.unique(held).to_pylist():
            if sid in want:
                found.setdefault(sid, path[len(base) + 1:])
    return found


def _balanced(sizes: list[int], p: int) -> list[list[int]]:
    """Row indices cut into the slices a LocalTableScan of len(sizes) rows
    runs as tasks (parallelize: min(n, p) contiguous slices, slice i from
    row i*n//p up to (i+1)*n//p), each filled largest stripe first onto the
    least-loaded slice with room left, so the tasks' byte shares are about
    equal."""
    n = len(sizes)
    p = max(min(p, n), 1)
    room = [(i + 1) * n // p - i * n // p for i in range(p)]
    heap = [(0, i) for i in range(p) if room[i]]
    slices: list[list[int]] = [[] for _ in range(p)]
    for j in sorted(range(n), key=lambda j: -sizes[j]):
        load, i = heapq.heappop(heap)
        slices[i].append(j)
        if len(slices[i]) < room[i]:
            heapq.heappush(heap, (load + sizes[j], i))
    return slices


def decode_job(spark: SparkSession, out_dir: str,
               columns: list[str] | None = None,
               stripe_predicate=None,
               stride_range: tuple | None = None,
               key_equals=None, as_of=None) -> DataFrame:
    """Read + decode a persisted stripes table, planned from the manifest
    the way an ORC reader plans from its footer (reference
    src/read/mod.rs:46-159): the driver reads each stripe's ``file`` and
    ``enc_bytes`` with pyarrow and hands decode_dataframe that plan; each
    task reads its stripes straight from their files, so no shuffle runs,
    and on a never-compacted table without ``stripe_predicate`` planning
    runs no Spark job. The schema comes from one manifest ``kinds`` value.
    Stripes that no manifest row names (a crash before the manifest
    publish) are never read. Manifest rows from before ``file`` existed
    are located once per call from the stripes files' stripe_id column.

    ``key_equals`` keeps the stripes whose manifest key bloom might hold
    the key. ``stripe_predicate`` is a Column over the manifest (e.g.
    key_min/key_max bounds) that prunes whole stripes before any decode
    work — the Spark analog of the reference's (unused) stats-skipping
    model (src/proto.rs:66-111); it stays a Spark filter over
    read_manifest, narrowed to the bloom survivors when ``key_equals`` is
    given too. ``stride_range`` additionally skips row groups INSIDE
    surviving stripes (see decode_dataframe). Stats are strings: numeric
    predicates must use int-like key columns (stored numerically) or cast
    explicitly.

    ``as_of`` (a run_id, or anything castable to timestamp) time-travels to
    that snapshot. Compacted tables always resolve stripe visibility
    through the lineage active set (status ok minus tombstoned); never-
    compacted tables skip it."""
    man = _dataset(out_dir, "manifest", pa.schema([
        ("stripe_id", pa.string()), ("file", pa.string()),
        ("enc_bytes", pa.int64())])).to_table()
    keep = None
    if key_equals is not None:
        keep = _bloom_survivors(out_dir, key_equals)
        man = _narrow(man, keep)
    if stripe_predicate is not None:
        hits = read_manifest(spark, out_dir).filter(stripe_predicate)
        if keep is not None:
            hits = _only(hits, keep)
        man = _narrow(man, hits.select("stripe_id").toArrow()["stripe_id"])
    if as_of is not None or has_compactions(out_dir):
        act = active_stripe_ids(spark, out_dir, as_of)
        if act is not None:
            man = _narrow(man, act.toArrow()["stripe_id"])
    man = man.group_by("stripe_id", use_threads=False).aggregate(
        [("file", "min"), ("enc_bytes", "max")])
    ids = man["stripe_id"].to_pylist()
    files = man["file_min"].to_pylist()
    if None in files:
        where = _locate(out_dir, [s for s, f in zip(ids, files) if f is None])
        files = [f or where.get(s) for s, f in zip(ids, files)]
        if None in files:
            raise ValueError(
                f"stripe {ids[files.index(None)]} is in the manifest of "
                f"{out_dir} but in no stripes file")
    prefix = out_dir.rstrip("/") if "://" in out_dir else _table_fs(out_dir)[1]
    order = [j for part in _balanced(
        pc.fill_null(man["enc_bytes_max"], 0).to_pylist(),
        spark.sparkContext.defaultParallelism)
        for j in sorted(part, key=lambda j: (files[j], ids[j]))]
    plan = spark.createDataFrame(pa.table({
        "stripe_id": pa.array([ids[j] for j in order], pa.string()),
        "file": pa.array([f"{prefix}/{files[j]}" for j in order],
                         pa.string())}))
    schema, columns = infer_schema_from_manifest(spark, out_dir, columns)
    return decode_dataframe(plan, columns=columns, schema=schema,
                            stride_range=stride_range)


# ---------------------------------------------------------------------------
# snapshots, time travel, compaction (Iceberg-style table maintenance)
# ---------------------------------------------------------------------------
# The stripes/manifest/lineage tables are append-only; a stripe's VISIBILITY
# is a lineage question, never a byte question. Compaction therefore never
# deletes anything: it appends merged stripes under a fresh run and appends
# 'compacted' tombstone rows for the replaced ids, and every decode of a
# compacted table resolves the active set (status ok MINUS tombstoned). Old
# snapshots stay readable forever via decode_job(as_of=...).

_COMPACT_MARKER_DIR = "_compactions"
_seen_compactions: set[str] = set()   # positive cache only — a table once
#                                       compacted stays compacted; negatives
#                                       are re-checked so a concurrent
#                                       compaction is never missed


def _table_fs(out_dir: str):
    """(filesystem, base_path) via pyarrow.fs so markers work on object
    stores too. ONLY scheme-less strings fall back to the local
    filesystem: a URI pyarrow can't resolve (s3a://, abfss://, dbfs://)
    raises instead — silently writing the compaction/expiry markers to a
    local directory named after the URI would make other drivers see the
    table as never-compacted and decode tombstoned stripes (duplicates)."""
    try:
        return pafs.FileSystem.from_uri(out_dir)
    except pa.ArrowInvalid:
        if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", out_dir):
            raise ValueError(
                f"table path {out_dir!r} has a URI scheme pyarrow cannot "
                "resolve — markers cannot be written safely (map the "
                "scheme to a pyarrow-supported one, e.g. s3a:// -> s3://)")
        return pafs.LocalFileSystem(), os.path.abspath(out_dir)


def has_compactions(out_dir: str) -> bool:
    """True once compact_job has ever run against this table (driver-side
    marker listing; one RPC on object stores, cached when positive). The
    cache key is the RESOLVED (filesystem, base) path, so ``tbl``,
    ``./tbl`` and the absolute path share one entry instead of paying one
    listing RPC each (round-5 review finding)."""
    filesystem, base = _table_fs(out_dir)
    if base in _seen_compactions:
        return True
    sel = pafs.FileSelector(f"{base}/{_COMPACT_MARKER_DIR}",
                            allow_not_found=True)
    found = bool(filesystem.get_file_info(sel))
    if found:
        _seen_compactions.add(base)
    return found


def _write_compaction_marker(out_dir: str, run_id: str) -> None:
    filesystem, base = _table_fs(out_dir)
    filesystem.create_dir(f"{base}/{_COMPACT_MARKER_DIR}", recursive=True)
    with filesystem.open_output_stream(
            f"{base}/{_COMPACT_MARKER_DIR}/{run_id}") as f:
        f.write(run_id.encode())
    _seen_compactions.add(base)


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-run commit history (the Iceberg snapshot-list analog): one row
    per (run_id, status) with its commit time and stripe/row/byte totals,
    oldest first. 'ok' rows are publishes, 'compacted' rows are the same
    run's tombstones."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    return (lineage.groupBy("run_id", "status")
            .agg(F.min("committed_at").alias("committed_at"),
                 F.count("*").alias("n_stripes"),
                 F.sum("n_rows").alias("n_rows"),
                 F.sum("enc_bytes").alias("enc_bytes"))
            .orderBy("committed_at", "run_id", "status"))


def active_stripe_ids(spark: SparkSession, out_dir: str,
                      as_of=None) -> DataFrame | None:
    """Stripe ids visible in the current snapshot — or, with ``as_of``, in
    the table as it stood at that point: a run_id string (inclusive of that
    run's commit) or anything castable to timestamp. None when the table
    has no lineage (fresh dir: nothing to resolve)."""
    lineage = _read_lineage(spark, out_dir)
    if lineage is None:
        if as_of is not None:
            raise ValueError(
                f"as_of={as_of!r} on {out_dir}: no lineage table — "
                "time travel needs commit()-written history")
        return None
    if as_of is not None:
        if isinstance(as_of, str):
            cut = (lineage.filter(F.col("run_id") == as_of)
                   .agg(F.max("committed_at")).collect()[0][0])
            if cut is None:
                raise ValueError(f"as_of run {as_of!r} not in lineage "
                                 f"of {out_dir}")
        else:
            cut = as_of
        lineage = lineage.filter(F.col("committed_at") <= F.lit(cut))
    ok = (lineage.filter(F.col("status") == "ok")
          .select("stripe_id", "run_id").distinct())
    dead = (lineage.filter(F.col("status") == "compacted")
            .select("stripe_id").distinct())
    active = ok.join(dead, "stripe_id", "left_anti")
    if as_of is not None:
        expired = _expired_runs(out_dir)
        if expired:
            # refuse only when the snapshot actually NEEDS an expired
            # run's bytes — i.e. one of its stripes is still ACTIVE at the
            # cutoff. A run fully tombstoned by then contributes nothing
            # (its rows live in the compacted stripes), so post-compaction
            # snapshots stay readable after expiry.
            hit = (active.filter(F.col("run_id").isin(list(expired)))
                   .select("run_id").first())
            if hit is not None:
                raise ValueError(
                    f"as_of={as_of!r} snapshot of {out_dir} needs "
                    f"expired run {hit['run_id']!r} — its bytes were "
                    "freed by expire_snapshots; that window is gone")
    return active.select("stripe_id").distinct()


def _layout_params(lineage: DataFrame) -> dict:
    """The table's layout params from its most recent parameterized commit
    (commit() records them on every lineage row)."""
    prow = (lineage.filter((F.col("status") == "ok")
                           & F.col("p_n_buckets").isNotNull())
            .orderBy(F.desc("committed_at")).first())
    if prow is None:
        raise ValueError("lineage records no layout params "
                         "(pre-param table) — cannot compact safely")
    blooms = (prow["p_bloom_cols"].split(",")
              if prow["p_bloom_cols"] else [])
    return {"n_buckets": int(prow["p_n_buckets"]),
            "stripe_rows": int(prow["p_stripe_rows"]),
            "key_col": prow["p_key_col"],
            "order_col": prow["p_order_col"],
            "index_rows": (None if prow["p_index_rows"] in (None, -1)
                           else int(prow["p_index_rows"])),
            "bloom_cols": blooms,
            "sort_keys": (prow["p_sort_keys"].split(",")
                          if "p_sort_keys" in prow.__fields__
                          and prow["p_sort_keys"] else None)}


def _assert_no_compaction_conflict(spark: SparkSession, out_dir: str,
                                   victims: DataFrame) -> None:
    """Raise if any victim stripe is ALREADY tombstoned in lineage — i.e. a
    concurrent compaction published against the same victims while this one
    was rewriting them (this run has not appended yet, so any tombstone on
    a victim is another writer's). See the call site in compact_job."""
    hit = (spark.read.parquet(f"{out_dir}/lineage")
           .filter(F.col("status") == "compacted")
           .join(victims, "stripe_id", "left_semi")
           .select("stripe_id").first())
    if hit is not None:
        raise RuntimeError(
            f"concurrent compaction conflict on {out_dir}: victim stripe "
            f"{hit['stripe_id']!r} was tombstoned by another run after "
            "victim selection; aborting without publishing (this run's "
            "bytes remain invisible orphans) — rerun compact_job")


def compact_job(spark: SparkSession, out_dir: str) -> dict:
    """Merge fragmented stripes — the streaming small-file problem: every
    micro-batch appends its own ``b<batch>-<bucket>-<salt>`` stripe, so a
    long-running stream leaves many under-filled stripes per (bucket, salt)
    slot where a batch encode would have written one.

    Any (bucket, salt) slot with >=2 ACTIVE stripes is rewritten: its rows
    decode, re-encode at the table's recorded layout params (same bucket
    hash, same order salt — the merged layout is exactly what a batch
    encode of the union would produce), land under a fresh ``c...`` run
    prefix (ids can never collide with live ids), and ONE lineage file
    publishes the new stripes and tombstones the old together.

    Crash windows: the ``_compactions`` marker is written BEFORE any new
    bytes, so from that point every decode resolves visibility through the
    lineage active set — a compaction that dies after writing stripes but
    before the lineage file leaves only invisible orphan bytes, and
    rerunning compact_job (fresh run id) completes the work. Old snapshots
    remain readable: decode_job(as_of=<pre-compaction run>) sees the
    original stripes (tombstones commit later than the cutoff)."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    params = _layout_params(lineage)
    act = active_stripe_ids(spark, out_dir)
    # the active manifest feeds the slot scan AND the tombstone rows;
    # persist so the lineage-resolution joins behind it run once
    man = (read_manifest(spark, out_dir)
           .join(act, "stripe_id", "left_semi")
           .persist(StorageLevel.MEMORY_AND_DISK))
    slots = (man.select("stripe_id", "bucket",
                        F.regexp_extract("stripe_id", r"-(\d{6,})$", 1)
                        .alias("salt"))
             .groupBy("bucket", "salt")
             .agg(F.collect_list("stripe_id").alias("sids"))
             .where(F.size("sids") >= 2))
    victims = slots.select(F.explode("sids").alias("stripe_id"))
    # victims feeds three consumers (this count, the source semi-join, the
    # tombstone rows) — persist the skinny id list so the manifest/lineage
    # scan behind it runs once
    victims = victims.persist(StorageLevel.MEMORY_AND_DISK)
    n_victims = victims.count()
    if n_victims == 0:
        victims.unpersist()
        man.unpersist()
        return {"run_id": None, "compacted_stripes": 0, "new_stripes": 0}
    run_id = "c" + uuid.uuid4().hex[:11]
    _write_compaction_marker(out_dir, run_id)

    schema, columns = infer_schema_from_manifest(spark, out_dir, None)
    src = (read_stripes(spark, out_dir)
           .join(victims, "stripe_id", "left_semi"))
    df = decode_dataframe(src, columns=columns, schema=schema)
    new_stripes = encode_dataframe(
        df, params["key_col"], params["order_col"],
        sort_keys=params.get("sort_keys"),
        stripe_rows=params["stripe_rows"], n_buckets=params["n_buckets"],
        index_rows=params["index_rows"], bloom_cols=params["bloom_cols"],
        stripe_prefix=f"{run_id}-")
    new_manifest = _write_run(new_stripes, out_dir, run_id,
                              params["key_col"], params["order_col"])
    try:
        dead = (man.join(victims, "stripe_id", "left_semi")
                .select(*[c for c, _ in _LINEAGE_HEAD]).toArrow())
        _publish(out_dir, "manifest", new_manifest, run_id)
        # optimistic conflict detection (round-5 advice): a CONCURRENT
        # compactor (another driver, or a manual run racing the stream's
        # compact_every) may have selected the same victims and published
        # first — its merged stripes already carry these rows, so
        # publishing ours too would duplicate every compacted row in all
        # subsequent decodes. Re-read lineage at the last moment and abort
        # loudly; everything this run wrote stays invisible (never
        # published), exactly like a crash orphan, and rerunning
        # compact_job picks up whatever genuinely remains fragmented. The
        # check-then-append window is not zero (object stores have no
        # cross-writer CAS on parquet appends) but shrinks the race from
        # the whole rewrite job to one driver round-trip; the documented
        # deployment assumption stays one maintenance writer per table.
        _assert_no_compaction_conflict(spark, out_dir, victims)
        # ONE lineage file publishes + tombstones together (both sides
        # share one committed_at, so an as_of cutoff can never split them)
        now = datetime.now(timezone.utc)
        _publish(out_dir, "lineage", pa.concat_tables([
            _build_lineage(new_manifest, run_id, params, "ok", now),
            _build_lineage(dead, run_id, params, "compacted", now)]), run_id)
    finally:
        victims.unpersist()
        man.unpersist()
    return {"run_id": run_id, "compacted_stripes": int(n_victims),
            "new_stripes": new_manifest.num_rows}


_EXPIRED_MARKER_DIR = "_expired"


def _expired_runs(out_dir: str) -> set[str]:
    filesystem, base = _table_fs(out_dir)
    sel = pafs.FileSelector(f"{base}/{_EXPIRED_MARKER_DIR}",
                            allow_not_found=True)
    return {info.base_name for info in filesystem.get_file_info(sel)}


def expire_snapshots(spark: SparkSession, out_dir: str,
                     older_than=None) -> dict:
    """Free the data bytes of fully-superseded runs (Iceberg
    expire_snapshots): a run whose every published stripe has been
    tombstoned by compaction contributes nothing to the CURRENT snapshot —
    its ``stripes/run=<id>`` directory can be deleted. ``older_than``
    (timestamp) keeps newer runs' bytes for time travel; None expires all
    expirable runs.

    Irreversible for time travel: snapshots that included an expired run
    can no longer be reconstructed, and decode_job(as_of=...) into that
    window raises instead of silently returning partial data (the
    ``_expired`` marker is written BEFORE any bytes are deleted, so a
    crash mid-delete still errs on the loud side). Lineage and manifest
    rows are never deleted — history and stats stay queryable."""
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    ok_ids = (lineage.filter(F.col("status") == "ok")
              .select("run_id", "stripe_id").distinct())
    dead = (lineage.filter(F.col("status") == "compacted")
            .select("stripe_id").distinct())
    live_runs = {r["run_id"] for r in
                 ok_ids.join(dead, "stripe_id", "left_anti")
                 .select("run_id").distinct().collect()}
    run_times = {r["run_id"]: r["t"] for r in
                 lineage.filter(F.col("status") == "ok")
                 .groupBy("run_id").agg(F.max("committed_at").alias("t"))
                 .collect()}
    already = _expired_runs(out_dir)
    expirable = [rid for rid in run_times
                 if rid not in live_runs and rid not in already
                 and (older_than is None or run_times[rid] <= older_than)]
    if not expirable:
        return {"expired_runs": [], "bytes_freed_approx": 0}
    freed = (spark.read.parquet(f"{out_dir}/manifest")
             .join(ok_ids.filter(F.col("run_id").isin(expirable))
                   .select("stripe_id").distinct(), "stripe_id", "left_semi")
             .agg(F.sum("enc_bytes")).collect()[0][0] or 0)
    filesystem, base = _table_fs(out_dir)
    filesystem.create_dir(f"{base}/{_EXPIRED_MARKER_DIR}", recursive=True)
    for rid in expirable:
        # marker FIRST: a crash between marker and delete leaves a run
        # that time travel refuses (loud) rather than half-reads (silent)
        with filesystem.open_output_stream(
                f"{base}/{_EXPIRED_MARKER_DIR}/{rid}") as f:
            f.write(rid.encode())
        try:
            filesystem.delete_dir(f"{base}/stripes/run={rid}")
        except FileNotFoundError:
            pass
    return {"expired_runs": sorted(expirable),
            "bytes_freed_approx": int(freed)}
