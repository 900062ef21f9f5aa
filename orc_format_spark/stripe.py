"""Stripe-level encode/decode. The pipeline's ``mapInArrow`` kernels
call the Arrow-native pair ``encode_stripe_arrow``/``decode_stripe_arrow``
on each stripe's contiguous rows (the Spark glue lives in
:mod:`.pipeline`); ``encode_stripe``/``decode_stripe`` are the same codecs
over pandas DataFrames, kept for in-process callers.

A stripe is the engine's unit of parallelism — the analog of the reference's
ORC stripe (StripeInformation, /root/reference/src/proto.rs:206-217), stored
as ROWS of a stripes table: one row per (stripe, column) with the column's
streams as binary fields (SURVEY.md §1.5). Nullability is structural, like
the reference's Present stream (boolean RLE over the validity bitmap; Data
holds only non-null values — tests/it/deserialize.rs:13-25).
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa

from . import selector
from .codecs import boolean_rle, deflate, floats, rle_v2, varint

# stripe-column row fields (keep in sync with pipeline.STRIPE_SCHEMA)
STRIPE_COLUMNS = [
    "stripe_id", "bucket", "n_rows", "col_name", "col_kind", "codec",
    "compression", "present", "data", "length", "dict_data", "extra",
    "n_nulls", "raw_bytes", "enc_bytes", "min_val", "max_val", "ndv",
    "checksum", "bloom",
]

INT_KINDS = {"int8": np.int64, "int16": np.int64, "int32": np.int64, "int64": np.int64}

_STAT_MAX_CHARS = 64


def _stat_upper_bound(s: str, limit: int = _STAT_MAX_CHARS) -> str:
    """Truncate a string stat to ``limit`` chars WITHOUT understating the
    maximum: increment the rightmost incrementable char of the prefix and
    drop the tail (the Parquet/ORC writer trick), so ``result >= s`` always
    holds and stripe pruning on key_max can never drop a matching stripe."""
    if len(s) <= limit:
        return s
    p = s[:limit]
    for i in range(limit - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            nc = c + 1
            if 0xD800 <= nc <= 0xDFFF:  # skip the surrogate gap
                nc = 0xE000
            return p[:i] + chr(nc)
    return s  # all chars at the code-point max: keep the full string


def spark_kind(dtype_str: str) -> str:
    """Map a Spark simpleString dtype to our column kind."""
    m = {
        "tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64",
        "float": "float32", "double": "float64", "boolean": "bool",
        "string": "string", "timestamp": "timestamp", "timestamp_ntz": "timestamp",
        "date": "date", "binary": "binary",
        "array<float>": "array_float32", "array<double>": "array_float64",
        "array<bigint>": "array_int64", "array<int>": "array_int64",
        "array<string>": "array_string", "array<boolean>": "array_bool",
        "array<timestamp>": "array_ts", "array<timestamp_ntz>": "array_ts",
        "array<date>": "array_date",
    }
    if dtype_str in m:
        return m[dtype_str]
    # char(n)/varchar(n): string streams (the reference's Kind::Char/Varchar,
    # src/proto.rs:199-201 — length caps are schema metadata, not storage)
    if dtype_str.startswith(("char(", "varchar(")):
        return "string"
    # decimal(p,s), p<=18: scaled-int64 mantissa through the int codecs
    # (the ORC decimal64 path; Kind::Decimal, src/proto.rs:197)
    # decimal(p,s): p<=18 rides a scaled-int64 mantissa through the int
    # codecs (the ORC decimal64 path; Kind::Decimal, src/proto.rs:197);
    # p>18 splits the int128 mantissa into (lo64, hi64) word streams, each
    # through the int codec selector independently (hi words of same-sign
    # small-magnitude batches RLE to almost nothing)
    mdec = re.match(r"decimal\((\d+),(\d+)\)$", dtype_str)
    if mdec:
        p, s = int(mdec.group(1)), int(mdec.group(2))
        return f"decimal_{p}_{s}"
    # generic nested list: array<X> for any already-supported X (including
    # another array) becomes a recursive ``list:<child kind>`` column — the
    # child column is encoded as its own full stripe-column (present/data/
    # length/... streams chosen by the selector) and packed into the
    # parent's Data stream; arbitrary nesting depth
    marr = re.match(r"array<(.+)>$", dtype_str)
    if marr:
        return f"list:{spark_kind(marr.group(1))}"
    raise ValueError(f"unsupported column type: {dtype_str}")


def _values_and_mask(series: pd.Series, kind: str):
    """Split a column into (non-null values, validity bool array)."""
    isna = series.isna().to_numpy()
    valid = ~isna
    nn = series[valid] if isna.any() else series
    if kind in INT_KINDS:
        vals = nn.to_numpy(dtype=np.int64, na_value=0) if len(nn) else np.zeros(0, np.int64)
    elif kind == "timestamp":
        v = pd.to_datetime(nn)
        vals = v.to_numpy(dtype="datetime64[us]").astype(np.int64)
    elif kind == "date":
        vals = pd.to_datetime(nn).to_numpy(dtype="datetime64[D]").astype(np.int64)
    elif kind in ("float32", "float64"):
        vals = nn.to_numpy(dtype=np.float32 if kind == "float32" else np.float64)
    elif kind == "bool":
        vals = nn.to_numpy(dtype=bool)
    elif kind == "string":
        vals = nn.astype(object).to_numpy()
    else:
        raise ValueError(kind)
    return vals, valid


def _raw_nbytes(vals, kind: str) -> int:
    if kind == "string":
        if len(vals) == 0:
            return 0
        if isinstance(vals, (pa.Array, pa.ChunkedArray)):
            return int(vals.nbytes)
        return int(pa.array(vals, type=pa.large_utf8()).nbytes)
    return int(np.asarray(vals).nbytes)


def _checksum(vals, valid: np.ndarray, kind: str) -> str:
    """crc32 over canonical value bytes + validity bitmap (lineage integrity).

    Strings are canonicalized as (utf8 blob, little-endian lengths) — the
    same representation the direct codec uses — so the checksum is O(bytes)
    with zero per-row Python."""
    crc = zlib.crc32(np.packbits(valid).tobytes())
    if kind in ("string", "binary"):
        from .codecs import strings as _s
        blob, lengths = _s.encode_direct(vals, binary=(kind == "binary"))
        crc = zlib.crc32(blob, crc)
        crc = zlib.crc32(lengths.astype("<u8").tobytes(), crc)
    elif isinstance(vals, tuple):  # list: (flat values, lengths, child_valid)
        flat = vals[0]
        if isinstance(flat, (pa.Array, pa.ChunkedArray)):
            from .codecs import strings as _s
            blob, slens = _s.encode_direct(flat)
            crc = zlib.crc32(blob, crc)
            crc = zlib.crc32(slens.astype("<u8").tobytes(), crc)
        else:
            crc = zlib.crc32(np.ascontiguousarray(flat).tobytes(), crc)
        crc = zlib.crc32(vals[1].astype("<u8").tobytes(), crc)
        if len(vals) > 2 and vals[2] is not None:
            crc = zlib.crc32(np.packbits(vals[2]).tobytes(), crc)
    else:
        crc = zlib.crc32(np.ascontiguousarray(vals).tobytes(), crc)
    return f"{crc:08x}"


def _values_and_mask_arrow(arr: pa.Array, kind: str):
    """Arrow-native split into (non-null values, validity) — zero per-row
    Python, no pandas object materialization (strings stay Arrow)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = np.asarray(arr.is_valid())
    nn = arr.drop_null() if arr.null_count else arr
    if kind in INT_KINDS:
        vals = nn.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    elif kind == "timestamp":
        vals = nn.cast(pa.int64()).to_numpy(zero_copy_only=False)  # epoch µs
    elif kind == "date":
        vals = nn.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    elif kind in ("float32", "float64"):
        vals = nn.to_numpy(zero_copy_only=False)
    elif kind == "bool":
        vals = nn.to_numpy(zero_copy_only=False)
    elif kind == "string":
        vals = nn  # Arrow array; string codecs consume it directly
    elif kind == "binary":
        vals = nn  # Arrow binary array; direct codec consumes it
    elif kind.startswith("decimal_"):
        if isinstance(nn, pa.ChunkedArray):
            nn = nn.combine_chunks()
        raw = np.frombuffer(nn.buffers()[1], dtype=np.int64,
                            count=2 * (len(nn) + nn.offset))
        words = raw.reshape(-1, 2)[nn.offset:]
        prec = int(kind.split("_")[1])
        if prec <= 18:
            # int64 mantissa: low 8 LE bytes of each 16-byte value
            # (precision <= 18 guarantees the mantissa fits)
            vals = words[:, 0].copy()
        else:
            # (n, 2) int64: [:,0] = lo word (bit pattern), [:,1] = hi word
            vals = words.copy()
    elif kind.startswith("list:"):
        # recursive list: (flat child Arrow array WITH its nulls, per-row
        # slot lengths) — child nulls are the recursively-encoded child
        # column's own Present stream, no wrapper needed
        import pyarrow.compute as pc
        lengths = pc.list_value_length(nn).to_numpy(
            zero_copy_only=False).astype(np.uint64)
        flat = nn.flatten()
        if isinstance(flat, pa.ChunkedArray):
            flat = flat.combine_chunks()
        vals = (flat, lengths)
    elif kind.startswith("array_"):
        # list columns: (flat non-null child values, per-row SLOT lengths,
        # child validity or None) — the ORC List layout (Length stream +
        # child Present stream + child Data stream)
        import pyarrow.compute as pc
        lengths = pc.list_value_length(nn).to_numpy(zero_copy_only=False).astype(np.uint64)
        flat = nn.flatten()
        if isinstance(flat, pa.ChunkedArray):
            flat = flat.combine_chunks()
        if flat.null_count:
            child_valid = np.asarray(flat.is_valid())
            flat = flat.drop_null()
        else:
            child_valid = None
        if kind != "array_string":
            if kind == "array_ts":  # epoch µs through the int codecs
                flat = flat.cast(pa.int64())
            elif kind == "array_date":  # epoch days
                flat = flat.cast(pa.int32())
            flat = flat.to_numpy(zero_copy_only=False)
            if kind in ("array_int64", "array_ts", "array_date"):
                flat = flat.astype(np.int64, copy=False)
            elif kind == "array_bool":
                flat = flat.astype(bool, copy=False)
        vals = (flat, lengths, child_valid)
    else:
        raise ValueError(kind)
    return vals, valid


def _pack_child_row(r: dict) -> bytes:
    """Serialize a recursively-encoded child column row (codec, compression,
    counts, all 5 streams + checksum) into one varint-framed blob that rides
    the parent list's Data stream."""
    out = []
    for s in (r["codec"], r["compression"] or "none|none", r["checksum"]):
        b = s.encode("utf-8")
        out.append(varint.encode_unsigned(len(b)))
        out.append(b)
    out.append(varint.encode_unsigned(r["n_rows"]))
    out.append(varint.encode_unsigned(r["n_nulls"]))
    out.append(varint.encode_unsigned(0 if r["ndv"] is None else r["ndv"] + 1))
    for s in _STREAMS:
        b = bytes(r[s])
        out.append(varint.encode_unsigned(len(b)))
        out.append(b)
    return b"".join(out)


def _unpack_child_row(blob: bytes, child_kind: str) -> dict:
    pos = 0
    strs = []
    for _ in range(3):
        ln, pos = varint.decode_unsigned(blob, pos)
        strs.append(blob[pos:pos + ln].decode("utf-8"))
        pos += ln
    r = {"codec": strs[0], "compression": strs[1], "checksum": strs[2],
         "col_kind": child_kind}
    r["n_rows"], pos = varint.decode_unsigned(blob, pos)
    r["n_nulls"], pos = varint.decode_unsigned(blob, pos)
    ndv, pos = varint.decode_unsigned(blob, pos)
    r["ndv"] = None if ndv == 0 else ndv - 1
    for s in _STREAMS:
        ln, pos = varint.decode_unsigned(blob, pos)
        r[s] = blob[pos:pos + ln]
        pos += ln
    return r


def encode_column(series, kind: str, force_codec: str | None = None,
                  with_bloom: bool = False) -> dict:
    """Encode one column of one stripe; returns a stripe-column row dict.
    Accepts a pandas Series or an Arrow (Chunked)Array. ``with_bloom``
    attaches a distinct-value bloom (point-lookup stripe pruning)."""
    n = len(series)
    if ((kind.startswith("array_") or kind.startswith("list:"))
            and not isinstance(series, (pa.Array, pa.ChunkedArray))):
        series = pa.Array.from_pandas(series)
    if isinstance(series, (pa.Array, pa.ChunkedArray)):
        vals, valid = _values_and_mask_arrow(series, kind)
    else:
        vals, valid = _values_and_mask(series, kind)
    n_nulls = int(n - valid.sum())
    row = {
        "col_kind": kind, "n_rows": n, "n_nulls": n_nulls,
        "present": boolean_rle.encode_bools(valid) if n_nulls else b"",
        "length": b"", "dict_data": b"", "extra": b"", "ndv": None,
        "min_val": None, "max_val": None, "bloom": b"",
    }
    if (kind.startswith("decimal_") and isinstance(vals, np.ndarray)
            and vals.ndim == 2):
        # decimal precision > 18: (lo64, hi64) word streams, each through
        # the int selector; extra = varint-framed (extra_lo, extra_hi)
        lo_w, hi_w = vals[:, 0].copy(), vals[:, 1].copy()
        c1, d1, e1 = selector.encode_ints(lo_w)
        c2, d2, e2 = selector.encode_ints(hi_w)
        row.update(codec=f"dec128:{c1}:{c2}", data=d1, dict_data=d2,
                   extra=varint.encode_unsigned(len(e1)) + e1 + e2)
        if len(vals):
            order = np.lexsort((lo_w.view(np.uint64), hi_w))

            def as_int(i: int) -> int:
                return (int(hi_w[i]) << 64) | (int(lo_w[i]) & (2**64 - 1))

            row.update(min_val=str(as_int(order[0])),
                       max_val=str(as_int(order[-1])))
        raw = int(vals.nbytes)
    elif kind in INT_KINDS or kind in ("timestamp", "date") or kind.startswith("decimal_"):
        codec, data, extra = selector.encode_ints(vals)
        row.update(codec=codec, data=data, extra=extra)
        if len(vals):
            row.update(min_val=str(int(vals.min())), max_val=str(int(vals.max())))
        raw = len(vals) * 8
    elif kind in ("float32", "float64"):
        enc = (selector.encode_floats(vals)
               if kind == "float64" and force_codec in (None, "alp")
               else None)
        if enc is not None:
            row.update(**enc)
            raw = 8 * len(vals)
        else:
            shuf = (selector.try_float_shuffle(vals, kind)
                    if force_codec is None else None)
            if shuf is not None:
                row.update(codec="float_shuf", data=shuf)
            else:
                row.update(codec="float_raw", data=floats.encode(vals, kind))
            raw = (4 if kind == "float32" else 8) * len(vals)
        if len(vals):
            finite = vals[np.isfinite(vals)]
            if len(finite):
                row.update(min_val=repr(float(finite.min())), max_val=repr(float(finite.max())))
    elif kind == "bool":
        row.update(codec="bool_rle", data=boolean_rle.encode_bools(vals))
        raw = len(vals)
    elif kind == "string":
        enc = selector.encode_strings(vals, force_codec=force_codec)
        row.update(codec=enc["codec"], data=enc["data"], length=enc["length"],
                   dict_data=enc["dict_data"], extra=enc["extra"], ndv=enc["ndv"])
        raw = _raw_nbytes(vals, kind)
        if len(vals):
            if isinstance(vals, (pa.Array, pa.ChunkedArray)):
                import pyarrow.compute as pc
                mm = pc.min_max(vals).as_py()
                lo, hi = mm["min"], mm["max"]
            else:
                lo, hi = min(vals), max(vals)
            # min truncation is safe (understating a minimum keeps the bound
            # valid); max needs the upper-bound-preserving increment. Note:
            # string stats compare lexicographically — numeric predicates
            # against key_min/key_max must cast (documented in decode_job).
            row.update(min_val=str(lo)[:_STAT_MAX_CHARS],
                       max_val=_stat_upper_bound(str(hi)))
    elif kind == "binary":
        from .codecs import strings as _s
        blob, lengths = _s.encode_direct(vals, binary=True)
        row.update(codec="bin_direct", data=blob,
                   length=rle_v2.encode(lengths, signed=False))
        raw = len(blob) + 8 * len(lengths)
    elif kind.startswith("array_float"):
        flat, lengths, child_valid = vals
        fdtype = "float32" if kind.endswith("32") else "float64"
        enc = (selector.encode_floats(flat) if fdtype == "float64"
               and force_codec is None else None)
        if enc is not None:
            # decimal-like double children ride the ALP mantissa path
            # (dict_data is otherwise unused for float lists)
            row.update(codec="alp_list:" + enc["codec"].split(":", 1)[1],
                       data=enc["data"], dict_data=enc["dict_data"],
                       extra=enc["extra"],
                       length=rle_v2.encode(lengths, signed=False))
        else:
            row.update(codec="float_list", data=floats.encode(flat, fdtype),
                       length=rle_v2.encode(lengths, signed=False))
        raw = int(flat.nbytes) + 8 * len(lengths)
    elif kind in ("array_int64", "array_ts", "array_date"):
        flat, lengths, child_valid = vals
        codec, data, extra = selector.encode_ints(flat)
        row.update(codec=f"int_list:{codec}", data=data, extra=extra,
                   length=rle_v2.encode(lengths, signed=False))
        raw = int(flat.nbytes) + 8 * len(lengths)
    elif kind == "array_bool":
        flat, lengths, child_valid = vals
        row.update(codec="bool_list", data=boolean_rle.encode_bools(flat),
                   length=rle_v2.encode(lengths, signed=False))
        raw = len(flat) + 8 * len(lengths)
    elif kind.startswith("list:"):
        # recursive list: slot lengths in Length, the child column encoded
        # as its own full stripe-column row packed into Data (arbitrary
        # nesting depth; child nulls ride the child's own Present stream)
        flat, lengths = vals
        crow = encode_column(flat, kind[5:])
        row.update(codec="list", data=_pack_child_row(crow),
                   length=rle_v2.encode(lengths, signed=False))
        raw = int(crow["raw_bytes"]) + 8 * len(lengths)
        # checksum input: child integrity rides the child row's checksum
        vals = (np.frombuffer(crow["checksum"].encode(), dtype=np.uint8),
                lengths, None)
    elif kind == "array_string":
        # List<string>: list-lengths in Length, child blob in Data, child
        # byte-lengths in DictData (an otherwise-unused stream for lists)
        from .codecs import strings as _s
        flat, lengths, child_valid = vals
        blob, slens = _s.encode_direct(flat)
        row.update(codec="str_list", data=blob,
                   dict_data=rle_v2.encode(slens, signed=False),
                   length=rle_v2.encode(lengths, signed=False))
        raw = len(blob) + 8 * len(slens) + 8 * len(lengths)
    else:
        raise ValueError(kind)
    if kind.startswith("array_") and vals[2] is not None:
        # null elements INSIDE arrays: a child Present stream (one more
        # boolean-RLE leaf, the ORC child-column PRESENT analog), varint-
        # framed ahead of any codec-specific extra bytes
        cp = boolean_rle.encode_bools(vals[2])
        row["extra"] = (varint.encode_unsigned(len(cp)) + cp + row["extra"])
        row["codec"] = "nullable:" + row["codec"]
    # generic block-compression layer on the big streams (is-original escape
    # framing, reference decompress/mod.rs:9-17); selector keeps it only if
    # it shrinks
    comp, cdata = selector.maybe_zlib(row["data"])
    comp2, cdict = selector.maybe_zlib(row["dict_data"])
    row["compression"] = f"{comp}|{comp2}"
    row["data"], row["dict_data"] = cdata, cdict
    row["raw_bytes"] = raw
    row["enc_bytes"] = sum(len(row[k]) for k in ("present", "data", "length", "dict_data", "extra"))
    row["checksum"] = _checksum(vals, valid, kind)
    if (with_bloom and not isinstance(vals, tuple)
            and getattr(vals, "ndim", 1) == 1):
        from . import bloom as bloom_mod
        row["bloom"] = bloom_mod.build(vals)
        row["enc_bytes"] += len(row["bloom"])
    return row


# ---------------------------------------------------------------------------
# row-group (stride) index: sub-stripe skipping — the RowIndex/RowIndexEntry
# analog (reference src/proto.rs:88-99, 251-252: per-10k-row positions +
# stats, unused by the reference reader; here it is load-bearing). A strided
# column is encoded per-stride (each stride a self-contained sub-encoding,
# codec chosen per stride), streams concatenated, with per-stride byte
# offsets + min/max stats serialized into the ``extra`` field. Decode with a
# predicate reads ONLY the matching strides' bytes.
# ---------------------------------------------------------------------------

_CODEC_IDS = ["rle_v2", "for", "for_scale", "float_raw", "bool_rle",
              "str_direct", "str_dict", "str_fsst", "float_list", "bin_direct",
              "int_list:rle_v2", "int_list:for", "int_list:for_scale",
              "str_list",
              # appended (ids are persisted in stride indexes — never reorder)
              "nullable:float_list", "nullable:int_list:rle_v2",
              "nullable:int_list:for", "nullable:int_list:for_scale",
              "nullable:str_list"] + [
              f"dec128:{a}:{b}" for a in ("rle_v2", "for", "for_scale")
              for b in ("rle_v2", "for", "for_scale")] + [
              "bool_list", "nullable:bool_list",
              "alp:rle_v2", "alp:for", "alp:for_scale", "float_shuf"] + [
              f"{p}alp_list:{c}" for p in ("", "nullable:")
              for c in ("rle_v2", "for", "for_scale")]
_STREAMS = ("present", "data", "length", "dict_data", "extra")


def _serialize_stride_index(strides: list[dict]) -> bytes:
    """Per-stride: n_rows, n_nulls, codec, compression flags, ndv (0=None),
    5 stream lengths, min/max stat strings — all varint-framed."""
    from .codecs import varint
    out = [varint.encode_unsigned(len(strides))]
    for r in strides:
        comp, comp2 = (r["compression"] or "none|none").split("|")
        flags = (1 if comp == "zlib" else 0) | (2 if comp2 == "zlib" else 0)
        out.append(varint.encode_unsigned(r["n_rows"]))
        out.append(varint.encode_unsigned(r["n_nulls"]))
        out.append(varint.encode_unsigned(_CODEC_IDS.index(r["codec"])))
        out.append(varint.encode_unsigned(flags))
        out.append(varint.encode_unsigned(0 if r["ndv"] is None else r["ndv"] + 1))
        for s in _STREAMS:
            out.append(varint.encode_unsigned(len(r[s])))
        for stat in ("min_val", "max_val"):
            b = (r[stat] or "").encode("utf-8")
            present = r[stat] is not None
            out.append(varint.encode_unsigned((len(b) << 1) | int(present)))
            out.append(b)
    return b"".join(out)


def _parse_stride_index(blob: bytes) -> list[dict]:
    from .codecs import varint
    n, pos = varint.decode_unsigned(blob, 0)
    strides = []
    for _ in range(n):
        r = {}
        r["n_rows"], pos = varint.decode_unsigned(blob, pos)
        r["n_nulls"], pos = varint.decode_unsigned(blob, pos)
        cid, pos = varint.decode_unsigned(blob, pos)
        r["codec"] = _CODEC_IDS[cid]
        flags, pos = varint.decode_unsigned(blob, pos)
        r["compression"] = (("zlib" if flags & 1 else "none") + "|"
                            + ("zlib" if flags & 2 else "none"))
        ndv, pos = varint.decode_unsigned(blob, pos)
        r["ndv"] = None if ndv == 0 else ndv - 1
        r["lens"] = {}
        for s in _STREAMS:
            r["lens"][s], pos = varint.decode_unsigned(blob, pos)
        for stat in ("min_val", "max_val"):
            tag, pos = varint.decode_unsigned(blob, pos)
            ln, present = tag >> 1, tag & 1
            r[stat] = blob[pos:pos + ln].decode("utf-8") if present else None
            pos += ln
        strides.append(r)
    return strides, pos


def encode_column_strided(series, kind: str, index_rows: int,
                          force_codec: str | None = None,
                          with_bloom: bool = False) -> dict:
    """Encode one column as concatenated per-stride sub-encodings with a
    stride index in ``extra`` (codec='strided'). Each stride is decodable
    in isolation, so a predicate can skip every non-matching stride's bytes."""
    if kind.startswith("list:"):
        # nested lists carry no range predicates; skip the stride layout
        # and keep the recursive child packing whole-stripe
        return encode_column(series, kind, force_codec=force_codec,
                             with_bloom=with_bloom)
    if isinstance(series, pd.Series):
        series = pa.Array.from_pandas(series)
    if isinstance(series, pa.ChunkedArray):
        series = series.combine_chunks()
    n = len(series)
    parts = []
    for lo in range(0, max(n, 1), index_rows):
        sl = series.slice(lo, min(index_rows, n - lo))
        parts.append(encode_column(sl, kind, force_codec=force_codec))
    streams = {s: b"".join(p[s] for p in parts) for s in _STREAMS}
    ints_like = (kind in INT_KINDS or kind in ("timestamp", "date")
                 or kind.startswith("decimal_"))
    mins = [p["min_val"] for p in parts if p["min_val"] is not None]
    maxs = [p["max_val"] for p in parts if p["max_val"] is not None]
    key = (lambda v: int(v)) if ints_like else (lambda v: v)
    index = _serialize_stride_index(parts)
    row = {
        "col_kind": kind, "codec": "strided", "compression": "none|none",
        "n_rows": n, "n_nulls": sum(p["n_nulls"] for p in parts),
        "present": streams["present"], "data": streams["data"],
        "length": streams["length"], "dict_data": streams["dict_data"],
        "extra": index + streams["extra"],
        "ndv": None,
        "min_val": min(mins, key=key) if mins else None,
        "max_val": max(maxs, key=key) if maxs else None,
        "raw_bytes": sum(p["raw_bytes"] for p in parts),
    }
    row["bloom"] = b""
    if with_bloom:
        from . import bloom as bloom_mod
        vals_all, _ = (_values_and_mask_arrow(series, kind)
                       if isinstance(series, (pa.Array, pa.ChunkedArray))
                       else _values_and_mask(series, kind))
        if (not isinstance(vals_all, tuple)
                and getattr(vals_all, "ndim", 1) == 1):
            row["bloom"] = bloom_mod.build(vals_all)
    row["enc_bytes"] = sum(len(row[s]) for s in _STREAMS) + len(row["bloom"])
    crc = zlib.crc32(b"".join(p["checksum"].encode() for p in parts))
    row["checksum"] = f"{crc:08x}"
    return row


def stride_stats(row: dict) -> list[dict]:
    """Per-stride (n_rows, min_val, max_val) from a strided column row."""
    strides, _ = _parse_stride_index(bytes(row["extra"]))
    return [{"n_rows": s["n_rows"], "min_val": s["min_val"],
             "max_val": s["max_val"]} for s in strides]


def _strides_overlapping(row: dict, lo, hi) -> list[int]:
    """Stride ids whose [min,max] overlaps [lo, hi] (numeric when the kind
    is int-like, lexicographic otherwise). None stats (all-null) are kept."""
    kind = row["col_kind"]
    ints_like = (kind in INT_KINDS or kind in ("timestamp", "date")
                 or kind.startswith("decimal_"))
    keep = []
    for i, s in enumerate(stride_stats(row)):
        if s["min_val"] is None or s["max_val"] is None:
            keep.append(i)
            continue
        mn, mx = s["min_val"], s["max_val"]
        if ints_like:
            mn, mx = int(mn), int(mx)
        if not (mx < lo or mn > hi):
            keep.append(i)
    return keep


def _decode_strided_parts(row: dict, keep: list[int] | None = None):
    """Decode selected strides of a strided column row; returns
    (values, valid) like :func:`_decode_column_parts`, concatenated in
    stride order. ``keep=None`` decodes every stride — only the chosen
    strides' bytes are ever touched."""
    kind = row["col_kind"]
    extra_blob = bytes(row["extra"])
    index, idx_len = _parse_stride_index(extra_blob)
    # per-stream running offsets; the concatenated per-stride extra stream
    # sits AFTER the serialized index inside the row's extra field
    offs = {s: 0 for s in _STREAMS}
    offs["extra"] = idx_len
    slices = []
    for meta in index:
        sl = {s: bytes(row[s])[offs[s]:offs[s] + meta["lens"][s]]
              for s in _STREAMS if s != "extra"}
        sl["extra"] = extra_blob[offs["extra"]:offs["extra"] + meta["lens"]["extra"]]
        for s in _STREAMS:
            offs[s] += meta["lens"][s]
        slices.append(sl)

    chosen = range(len(index)) if keep is None else keep
    vals_parts, valid_parts = [], []
    for i in chosen:
        meta, sl = index[i], slices[i]
        sub = {"n_rows": meta["n_rows"], "n_nulls": meta["n_nulls"],
               "col_kind": kind, "codec": meta["codec"],
               "compression": meta["compression"], "ndv": meta["ndv"], **sl}
        v, m = _decode_column_parts(sub)
        vals_parts.append(v)
        valid_parts.append(m)
    return _concat_decoded(vals_parts, valid_parts, kind)


def _concat_decoded(vals_parts: list, valid_parts: list, kind: str):
    valid = (np.concatenate(valid_parts) if valid_parts
             else np.zeros(0, dtype=bool))
    if kind in ("string", "binary"):
        arrs = [v if isinstance(v, pa.Array) else v.combine_chunks()
                for v in vals_parts]
        empty_t = pa.large_binary() if kind == "binary" else pa.large_utf8()
        return (pa.concat_arrays(arrs) if arrs
                else pa.array([], type=empty_t)), valid
    if kind.startswith("array_"):
        flats = [v[0] for v in vals_parts]
        lens = [v[1] for v in vals_parts]
        if kind == "array_string":
            flat = (pa.concat_arrays([f.combine_chunks() if isinstance(f, pa.ChunkedArray) else f
                                      for f in flats]) if flats
                    else pa.array([], type=pa.large_utf8()))
        else:
            fdt = {"array_float32": np.float32, "array_float64": np.float64,
                   "array_int64": np.int64, "array_bool": bool,
                   "array_ts": np.int64, "array_date": np.int64}[kind]
            flat = np.concatenate(flats) if flats else np.zeros(0, fdt)
        cvs = [v[2] for v in vals_parts]
        if any(cv is not None for cv in cvs):
            child_valid = np.concatenate([
                cv if cv is not None
                else np.ones(int(np.asarray(v[1]).sum()), dtype=bool)
                for cv, v in zip(cvs, vals_parts)])
        else:
            child_valid = None
        return (flat,
                (np.concatenate(lens) if lens else np.zeros(0, np.uint64)),
                child_valid), valid
    dt = {"float32": np.float32, "float64": np.float64,
          "bool": bool}.get(kind, np.int64)
    return (np.concatenate(vals_parts) if vals_parts
            else np.zeros(0, dt)), valid


def _default_arrow_type(kind: str) -> pa.DataType:
    m = {"int8": pa.int8(), "int16": pa.int16(), "int32": pa.int32(),
         "int64": pa.int64(), "float32": pa.float32(), "float64": pa.float64(),
         "bool": pa.bool_(), "string": pa.string(),
         "timestamp": pa.timestamp("us"), "date": pa.date32(),
         "array_float32": pa.list_(pa.float32()),
         "array_float64": pa.list_(pa.float64()),
         "array_int64": pa.list_(pa.int64()),
         "array_string": pa.list_(pa.string()),
         "array_bool": pa.list_(pa.bool_()),
         "array_ts": pa.list_(pa.timestamp("us")),
         "array_date": pa.list_(pa.date32()), "binary": pa.binary()}
    if kind in m:
        return m[kind]
    if kind.startswith("list:"):
        return pa.list_(_default_arrow_type(kind[5:]))
    mdec = re.match(r"decimal_(\d+)_(\d+)$", kind)
    if mdec:
        return pa.decimal128(int(mdec.group(1)), int(mdec.group(2)))
    raise ValueError(kind)


def decode_column(row: dict) -> pa.Array | np.ndarray:
    """Decode one stripe-column row back to a full-length array with nulls."""
    n = int(row["n_rows"])
    n_nulls = int(row["n_nulls"])
    kind = row["col_kind"]
    if row["codec"] == "strided":
        return _to_arrow_array(_decode_strided_parts(row), kind,
                               _default_arrow_type(kind))
    if (kind.startswith("array_") or kind.startswith("decimal_")
            or kind.startswith("list:")):
        return _to_arrow_array(_decode_column_parts(row), kind,
                               _default_arrow_type(kind))
    comp, comp2 = (row["compression"] or "none|none").split("|")
    data = deflate.decompress(row["data"]) if comp == "zlib" else row["data"]
    dict_data = deflate.decompress(row["dict_data"]) if comp2 == "zlib" else row["dict_data"]
    valid = (boolean_rle.decode_bools(row["present"], n) if n_nulls
             else np.ones(n, dtype=bool))
    n_valid = n - n_nulls
    codec = row["codec"]

    if kind in INT_KINDS or kind in ("timestamp", "date"):
        vals = selector.decode_ints(codec, data, row["extra"], n_valid)
    elif kind in ("float32", "float64"):
        if codec.startswith("alp:"):
            vals = selector.decode_floats_alp(codec, data, dict_data,
                                              row["extra"], n_valid)
        elif codec == "float_shuf":
            vals = selector.decode_float_shuffle(data, n_valid, kind)
        else:
            vals = floats.decode(data, n_valid, kind)
    elif kind == "bool":
        vals = boolean_rle.decode_bools(data, n_valid)
    elif kind == "string":
        arr = selector.decode_strings(codec, data, row["length"], dict_data,
                                      row["extra"], n_valid, row["ndv"])
        if n_nulls:
            idx = np.full(n, 0, dtype=np.int64)
            idx[valid] = np.arange(n_valid)
            return arr.take(pa.array(idx, mask=~valid))
        return arr
    else:
        raise ValueError(kind)

    if not n_nulls:
        return _typed(vals, kind)
    full = np.zeros(n, dtype=vals.dtype if kind not in INT_KINDS else np.int64)
    full[valid] = vals
    return _typed_nullable(full, valid, kind)


def _typed(vals: np.ndarray, kind: str):
    if kind == "timestamp":
        return vals.astype("datetime64[us]")
    if kind == "date":
        return vals.astype("datetime64[D]").astype("datetime64[s]")
    if kind in INT_KINDS:
        return vals.astype(kind)
    return vals


def _typed_nullable(full: np.ndarray, valid: np.ndarray, kind: str):
    """Full-length array + validity -> pandas-compatible nullable column."""
    if kind == "timestamp":
        out = full.astype("datetime64[us]")
        s = pd.Series(out)
        s[~valid] = pd.NaT
        return s
    if kind == "date":
        out = full.astype("datetime64[D]").astype("datetime64[s]")
        s = pd.Series(out)
        s[~valid] = pd.NaT
        return s
    if kind in INT_KINDS:
        return pd.arrays.IntegerArray(full.astype(kind), mask=~valid)
    if kind in ("float32", "float64"):
        out = full.astype(kind)
        out[~valid] = np.nan
        return out
    if kind == "bool":
        return pd.arrays.BooleanArray(full.astype(bool), mask=~valid)
    raise ValueError(kind)


def encode_stripe(pdf: pd.DataFrame, kinds: dict[str, str], stripe_id: str,
                  bucket: int, sort_keys: list[str] | None = None,
                  force_codecs: dict[str, str] | None = None) -> pd.DataFrame:
    """Encode one stripe (one group) -> stripe-column rows DataFrame."""
    if sort_keys:
        pdf = pdf.sort_values(sort_keys, kind="mergesort", ignore_index=True)
    force_codecs = force_codecs or {}
    rows = []
    for col, kind in kinds.items():
        row = encode_column(pdf[col], kind, force_codec=force_codecs.get(col))
        row.update(stripe_id=stripe_id, bucket=bucket, col_name=col)
        rows.append(row)
    out = pd.DataFrame(rows, columns=STRIPE_COLUMNS)
    out["ndv"] = out["ndv"].astype("Int64")  # Arrow-safe nullable long
    return out


def decode_stripe(stripe_rows: pd.DataFrame, columns: list[str] | None = None) -> pd.DataFrame:
    """Decode one stripe's rows back into the original row layout."""
    by_col = {r["col_name"]: r for r in stripe_rows.to_dict("records")}
    cols = columns or list(by_col)
    out = {}
    for c in cols:
        arr = decode_column(by_col[c])
        out[c] = arr.to_pandas() if isinstance(arr, pa.Array) else arr
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# Arrow-native stripe path (used by pipeline's mapInArrow jobs): strings
# never materialize as Python objects, numerics never pass through pandas.
# ---------------------------------------------------------------------------

STRIPE_PA_SCHEMA = pa.schema([
    ("stripe_id", pa.string()), ("bucket", pa.int64()), ("n_rows", pa.int64()),
    ("col_name", pa.string()), ("col_kind", pa.string()),
    ("codec", pa.string()), ("compression", pa.string()),
    ("present", pa.binary()), ("data", pa.binary()), ("length", pa.binary()),
    ("dict_data", pa.binary()), ("extra", pa.binary()),
    ("n_nulls", pa.int64()), ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
    ("min_val", pa.string()), ("max_val", pa.string()), ("ndv", pa.int64()),
    ("checksum", pa.string()), ("bloom", pa.binary()),
])


def encode_stripe_arrow(tbl: pa.Table, kinds: dict[str, str], stripe_id: str,
                        bucket: int,
                        force_codecs: dict[str, str] | None = None,
                        index_rows: int | None = None,
                        bloom_cols: set[str] | None = None) -> list[dict]:
    """Encode one stripe from an Arrow table slice (already sorted).
    ``index_rows`` switches every column to the strided (row-group-indexed)
    layout with that stride size; ``bloom_cols`` get per-stripe blooms."""
    force_codecs = force_codecs or {}
    bloom_cols = bloom_cols or set()
    rows = []
    for col, kind in kinds.items():
        wb = col in bloom_cols
        if index_rows:
            row = encode_column_strided(tbl.column(col), kind, index_rows,
                                        force_codec=force_codecs.get(col),
                                        with_bloom=wb)
        else:
            row = encode_column(tbl.column(col), kind,
                                force_codec=force_codecs.get(col),
                                with_bloom=wb)
        row.update(stripe_id=stripe_id, bucket=bucket, col_name=col)
        rows.append(row)
    return rows


def stripe_rows_to_batch(rows: list[dict]) -> pa.RecordBatch:
    cols = {name: [r[name] for r in rows] for name in STRIPE_COLUMNS}
    arrays = [pa.array(cols[f.name], type=f.type) for f in STRIPE_PA_SCHEMA]
    return pa.RecordBatch.from_arrays(arrays, schema=STRIPE_PA_SCHEMA)


def decode_stripe_arrow(rows: list[dict], columns: list[str],
                        target_schema: pa.Schema,
                        stride_range: tuple | None = None) -> pa.RecordBatch:
    """Decode one stripe's rows into an Arrow RecordBatch matching
    ``target_schema`` (field order == ``columns``).

    ``stride_range`` = (col_name, lo, hi): strided stripes decode ONLY the
    strides whose [min,max] stats for that column overlap [lo, hi] — the
    row-group skip. Non-matching strides' bytes are never decoded."""
    by_col = {}
    for r in rows:  # defensive dedupe (byte-identical duplicates possible)
        by_col.setdefault(r["col_name"], r)
    keep = None
    if stride_range is not None:
        pred_col, lo, hi = stride_range
        pred_row = by_col[pred_col]
        if pred_row["codec"] == "strided":
            keep = _strides_overlapping(pred_row, lo, hi)
    arrays = []
    for c, field in zip(columns, target_schema):
        row = by_col[c]
        kind = row["col_kind"]
        if keep is not None and row["codec"] == "strided":
            dec = _decode_strided_parts(row, keep)
        else:
            dec = _decode_column_parts(row)
        arrays.append(_to_arrow_array(dec, kind, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=target_schema)


def _decode_column_parts(row: dict):
    """decode_column, but returning (values, valid) without pandas."""
    if row["codec"] == "strided":
        return _decode_strided_parts(row)
    n = int(row["n_rows"])
    n_nulls = int(row["n_nulls"])
    kind = row["col_kind"]
    comp, comp2 = (row["compression"] or "none|none").split("|")
    data = deflate.decompress(row["data"]) if comp == "zlib" else row["data"]
    dict_data = deflate.decompress(row["dict_data"]) if comp2 == "zlib" else row["dict_data"]
    valid = (boolean_rle.decode_bools(row["present"], n) if n_nulls
             else np.ones(n, dtype=bool))
    n_valid = n - n_nulls
    codec = row["codec"]
    if codec.startswith("dec128:"):
        _, c1, c2 = codec.split(":")
        extra = bytes(row["extra"])
        e1_len, pos = varint.decode_unsigned(extra, 0)
        e1, e2 = extra[pos:pos + e1_len], extra[pos + e1_len:]
        lo_w = selector.decode_ints(c1, data, e1, n_valid)
        hi_w = selector.decode_ints(c2, dict_data, e2, n_valid)
        vals = np.column_stack((lo_w, hi_w))
        return vals, valid
    if kind.startswith("list:"):
        lengths = rle_v2.decode(row["length"], n_valid, signed=False)
        crow = _unpack_child_row(bytes(data), kind[5:])
        child_dec = _decode_column_parts(crow)
        return (child_dec, lengths), valid
    if kind.startswith("array_"):
        lengths = rle_v2.decode(row["length"], n_valid, signed=False)
        total = int(lengths.sum())
        extra = bytes(row["extra"])
        child_valid = None
        n_child = total
        if codec.startswith("nullable:"):
            codec = codec[len("nullable:"):]
            cp_len, pos = varint.decode_unsigned(extra, 0)
            child_valid = boolean_rle.decode_bools(extra[pos:pos + cp_len],
                                                   total)
            extra = extra[pos + cp_len:]
            n_child = int(child_valid.sum())
        if kind.startswith("array_float"):
            if codec.startswith("alp_list:"):
                flat = selector.decode_floats_alp(
                    "alp:" + codec.split(":", 1)[1],
                    data, dict_data, extra, n_child)
            else:
                fdtype = "float32" if kind.endswith("32") else "float64"
                flat = floats.decode(data, n_child, fdtype)
        elif kind == "array_bool":
            flat = boolean_rle.decode_bools(data, n_child)
        elif kind in ("array_int64", "array_ts", "array_date"):
            child_codec = codec.split(":", 1)[1]
            flat = selector.decode_ints(child_codec, data, extra, n_child)
        elif kind == "array_string":
            from .codecs import strings as _s
            slens = rle_v2.decode(dict_data, n_child, signed=False)
            flat = _s.decode_direct(data, slens)
        else:
            raise ValueError(kind)
        return (flat, lengths, child_valid), valid
    if (kind in INT_KINDS or kind in ("timestamp", "date")
            or kind.startswith("decimal_")):
        vals = selector.decode_ints(codec, data, row["extra"], n_valid)
    elif kind in ("float32", "float64"):
        if codec.startswith("alp:"):
            vals = selector.decode_floats_alp(codec, data, dict_data,
                                              row["extra"], n_valid)
        elif codec == "float_shuf":
            vals = selector.decode_float_shuffle(data, n_valid, kind)
        else:
            vals = floats.decode(data, n_valid, kind)
    elif kind == "bool":
        vals = boolean_rle.decode_bools(data, n_valid)
    elif kind == "string":
        arr = selector.decode_strings(codec, data, row["length"], dict_data,
                                      row["extra"], n_valid, row["ndv"])
        return arr, valid
    elif kind == "binary":
        from .codecs import strings as _s
        lengths = rle_v2.decode(row["length"], n_valid, signed=False)
        return _s.decode_direct(data, lengths, binary=True), valid
    else:
        raise ValueError(kind)
    return vals, valid


def _to_arrow_array(dec, kind: str, target_type: pa.DataType) -> pa.Array:
    vals, valid = dec
    n = len(valid)
    n_valid = int(valid.sum())
    if kind.startswith("list:"):
        child_kind = kind[5:]
        child_dec, lengths = vals
        vt = getattr(target_type, "value_type", None)
        child = _to_arrow_array(child_dec, child_kind,
                                vt if vt is not None
                                else _default_arrow_type(child_kind))
        offsets = np.zeros(n_valid + 1, dtype=np.int64)
        np.cumsum(lengths.astype(np.int64), out=offsets[1:])
        lists = pa.LargeListArray.from_arrays(
            pa.array(offsets, type=pa.int64()), child)
        if n_valid != n:
            idx = np.zeros(n, dtype=np.int64)
            idx[valid] = np.arange(n_valid)
            lists = lists.take(pa.array(idx, mask=~valid))
        return lists.cast(target_type)
    if kind.startswith("array_"):
        flat, lengths, child_valid = vals
        # int64 offsets: a stripe of 65k rows x wide embeddings can exceed
        # 2^31-1 flat elements; int32 cumsum would silently wrap. LargeList
        # holds any size; the cast to the (32-bit-offset) target raises
        # explicitly instead of corrupting if it genuinely overflows.
        offsets = np.zeros(n_valid + 1, dtype=np.int64)
        np.cumsum(lengths.astype(np.int64), out=offsets[1:])
        child = flat if isinstance(flat, pa.Array) else pa.array(flat)
        if kind == "array_ts":
            child = child.cast(pa.timestamp("us"))
            vt = getattr(target_type, "value_type", None)
            if vt is not None and pa.types.is_timestamp(vt) and vt.tz:
                import pyarrow.compute as pc
                child = pc.assume_timezone(child, "UTC")  # UTC instants
        elif kind == "array_date":
            child = child.cast(pa.int32()).cast(pa.date32())
        if child_valid is not None:
            # scatter non-null child values into the full slot positions
            total = len(child_valid)
            cidx = np.zeros(total, dtype=np.int64)
            cidx[child_valid] = np.arange(int(child_valid.sum()))
            child = child.take(pa.array(cidx, mask=~child_valid))
        lists = pa.LargeListArray.from_arrays(pa.array(offsets, type=pa.int64()), child)
        if n_valid != n:
            idx = np.zeros(n, dtype=np.int64)
            idx[valid] = np.arange(n_valid)
            lists = lists.take(pa.array(idx, mask=~valid))
        return lists.cast(target_type)
    if kind in ("string", "binary"):
        if n_valid == n:
            out = vals
        else:
            idx = np.zeros(n, dtype=np.int64)
            idx[valid] = np.arange(n_valid)
            out = vals.take(pa.array(idx, mask=~valid))
        return out.cast(target_type)
    if kind.startswith("decimal_"):
        if isinstance(vals, np.ndarray) and vals.ndim == 2:
            # p>18: (lo, hi) words decoded separately — scatter both
            words = np.zeros((n, 2), dtype=np.int64)
            words[valid] = vals
        else:
            # int64 mantissa -> decimal128 buffers (low = mantissa, high = sign)
            full = np.zeros(n, dtype=np.int64)
            full[valid] = vals
            words = np.empty((n, 2), dtype=np.int64)
            words[:, 0] = full
            words[:, 1] = full >> 63
        validity = None if n_valid == n else pa.py_buffer(
            np.packbits(valid, bitorder="little").tobytes())
        arr = pa.Array.from_buffers(target_type, n,
                                    [validity, pa.py_buffer(words.tobytes())])
        return arr
    # numeric/bool/temporal: scatter into a full-length buffer, mask nulls
    if n_valid == n:
        full = vals
        mask = None
    else:
        full = np.zeros(n, dtype=vals.dtype if len(vals) else np.int64)
        full[valid] = vals
        mask = ~valid
    if kind == "date":
        src = np.asarray(full, dtype=np.int32)
        return pa.array(src, mask=mask).cast(pa.date32()).cast(target_type)
    if kind == "timestamp":
        import pyarrow.compute as pc
        base = pa.array(np.asarray(full, dtype=np.int64), mask=mask).cast(pa.timestamp("us"))
        if pa.types.is_timestamp(target_type) and target_type.tz is not None:
            base = pc.assume_timezone(base, "UTC")  # int64s are UTC instants
        return base.cast(target_type)
    arr = pa.array(np.asarray(full), mask=mask)
    return arr.cast(target_type)
