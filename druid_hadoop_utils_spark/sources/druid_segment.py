"""Druid v9 segment importer: ``index.zip`` (smoosh) → engine parquet segment.

The one-shot migration path for a reference user's existing data. A Druid
0.9.x segment on deep storage is a directory holding ``descriptor.json``
and ``index.zip`` (reference: DruidInputFormat reads these via the segment
loadSpec; test fixture druid-pig/src/test/resources/test-segment/). The
zip contains the public v9 column format:

- ``version.bin``: big-endian int 9;
- ``meta.smoosh``: text index ``v1,maxChunk,numChunks`` then
  ``name,chunk,start,end`` per internal file (columns + ``index.drd``);
- ``0000N.smoosh``: concatenated column blobs. Each column starts with a
  4-byte-length-prefixed JSON ``ColumnDescriptor`` followed by its parts.

Decoders implemented here (pure Python — this runs ONCE per segment at
import time, not in any query path):

- GenericIndexed v1 (dictionary values, compressed-block holders,
  complex-column values);
- CompressedLongs/Floats suppliers v2 (LZ4 block or uncompressed);
- CompressedVSizeInts v2 (single-value dictionary id column) and
  CompressedVSizeIndexed v2 / CompressedVSizeIndexedV3 (multi-value rows:
  numRows+1 start offsets + flat values; v3 is the MULTI_VALUE_V3 serde
  flag IndexMergerV9 writes);
- Druid ``HyperLogLogCollector`` cardinality estimation (dense + sparse),
  so imported ``hyperUnique`` columns can be finalized without Druid.

Pre-v9 (legacy v8) column encodings raise ``NotImplementedError`` with a
clear message — standard 0.9 batch-indexer output is v9.

Complex ``hyperUnique`` metrics keep their raw Druid sketch bytes in the
imported parquet (BinaryType) and stay re-mergeable IN DRUID'S OWN FORMAT:
``druid_hll_merge`` / ``druid_hll_merge_bytes`` union blobs into a new
valid blob (rollup_df's ``druidHyperUnique`` metric type uses this), and
``druid_hll_estimate`` / ``druid_hll_merge_estimate`` finalize. Druid
bytes are NOT cross-mergeable with the engine's DataSketches HLL state —
per the SURVEY §7.4 decision, correctness checks compare estimates against
exact counts, not sketch bytes.
"""

from __future__ import annotations

import json
import os
import struct
import zipfile

import pandas as pd
from dataclasses import dataclass
from math import log

# ---------------------------------------------------------------- LZ4


def lz4_block_decompress(src: bytes, max_size: int) -> bytes:
    """Pure-Python LZ4 *block* format decoder (the container has no lz4
    module baked in). Runs once per column chunk at import time."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < max_size:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        out += src[i:i + lit_len]
        i += lit_len
        if i >= n:
            break  # last sequence has no match part
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        match_len = token & 0xF
        if match_len == 15:
            while True:
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        match_len += 4  # LZ4 minimum match
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 stream (offset before start)")
        for _ in range(match_len):
            out.append(out[start])
            start += 1
    return bytes(out[:max_size])


# ------------------------------------------------------------ buffers


class _Buf:
    """Big-endian cursor over a bytes blob (java ByteBuffer semantics)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def byte(self) -> int:
        b = self.data[self.pos]
        self.pos += 1
        return b

    def int4(self) -> int:
        v = struct.unpack_from(">i", self.data, self.pos)[0]
        self.pos += 4
        return v

    def take(self, n: int) -> bytes:
        b = self.data[self.pos:self.pos + n]
        self.pos += n
        return b


def read_generic_indexed(buf: _Buf) -> list[bytes]:
    """GenericIndexed v1: version, allowReverseLookup, totalSize,
    numElements, end-offsets, 4-byte-length-prefixed values."""
    version = buf.byte()
    if version != 0x1:
        raise NotImplementedError(f"GenericIndexed version {version} (expected 1)")
    buf.byte()  # allowReverseLookup flag — irrelevant for decoding
    total_size = buf.int4()
    body = _Buf(buf.take(total_size))
    n = body.int4()
    offsets = [body.int4() for _ in range(n)]
    values_start = body.pos
    out = []
    prev = 0
    for end in offsets:
        item = _Buf(body.data, values_start + prev)
        length = item.int4()
        out.append(item.take(length))
        prev = end
    return out


_COMPRESSION_LZ4 = 0x1
_COMPRESSION_UNCOMPRESSED = 0xFF


def _decompress(block: bytes, compression: int, max_size: int) -> bytes:
    if compression == _COMPRESSION_UNCOMPRESSED:
        return block[:max_size]
    if compression == _COMPRESSION_LZ4:
        return lz4_block_decompress(block, max_size)
    raise NotImplementedError(
        f"compression id 0x{compression:x} (only LZ4 0x1 / uncompressed 0xff; "
        "LZF segments predate Druid 0.8 defaults)"
    )


def read_compressed_primitives(buf: _Buf, fmt: str, byte_order: str) -> list:
    """CompressedLongs/FloatsIndexedSupplier v2: version, totalSize,
    sizePer, compression id, GenericIndexed of compressed blocks."""
    version = buf.byte()
    if version != 0x2:
        raise NotImplementedError(f"compressed column version {version} (expected 2)")
    total = buf.int4()
    size_per = buf.int4()
    compression = buf.byte()
    width = struct.calcsize(fmt)
    endian = "<" if byte_order == "LITTLE_ENDIAN" else ">"
    out: list = []
    for block in read_generic_indexed(buf):
        raw = _decompress(block, compression, size_per * width)
        take = min(size_per, total - len(out))
        out += list(struct.unpack(f"{endian}{take}{fmt}", raw[: take * width]))
        if len(out) >= total:
            break
    return out[:total]


def read_compressed_vsize_ints(buf: _Buf, byte_order: str = "BIG_ENDIAN") -> list[int]:
    """CompressedVSizeIntsIndexedSupplier v2 (single-value dictionary ids):
    version, numBytes, totalSize, sizePer, compression, blocks. Values
    narrower than 4 bytes are always big-endian (the writer truncates a
    big-endian helper buffer); full-width 4-byte values follow the column
    byte order."""
    version = buf.byte()
    if version != 0x2:
        raise NotImplementedError(f"vsize-ints version {version} (expected 2)")
    num_bytes = buf.byte()
    total = buf.int4()
    size_per = buf.int4()
    compression = buf.byte()
    endian = "little" if (num_bytes == 4 and byte_order == "LITTLE_ENDIAN") else "big"
    out: list[int] = []
    for block in read_generic_indexed(buf):
        # blocks carry 4 - numBytes padding so java can getInt at the tail
        raw = _decompress(block, compression, size_per * num_bytes + (4 - num_bytes))
        for i in range(size_per):
            if len(out) >= total:
                break
            out.append(int.from_bytes(raw[i * num_bytes:(i + 1) * num_bytes], endian))
        if len(out) >= total:
            break
    return out[:total]


def _rows_from_start_offsets(offsets: list[int], values: list[int]) -> list[list[int]]:
    """Both multi-value suppliers store numRows+1 START offsets (leading 0,
    trailing total-values length); row i is values[offsets[i]:offsets[i+1]]
    (CompressedVSizeIndexedSupplier.get reads offsets[i]..offsets[i+1])."""
    if not offsets or offsets[0] != 0 or offsets[-1] != len(values):
        raise ValueError(
            f"corrupt multi-value offsets: {len(offsets)} entries, "
            f"first={offsets[0] if offsets else None}, "
            f"last={offsets[-1] if offsets else None}, values={len(values)}"
        )
    rows = [values[offsets[i]:offsets[i + 1]] for i in range(len(offsets) - 1)]
    assert len(rows) + 1 == len(offsets)
    return rows


def read_compressed_vsize_indexed(buf: _Buf) -> list[list[int]]:
    """CompressedVSizeIndexedSupplier v2 (multi-value dictionary ids): a
    version byte followed by two CompressedVSizeIntsIndexedSuppliers —
    numRows+1 START offsets into a flat values stream, then the values."""
    version = buf.byte()
    if version != 0x2:
        raise NotImplementedError(
            f"multi-value indexed version {version} (expected 2)"
        )
    offsets = read_compressed_vsize_ints(buf)
    values = read_compressed_vsize_ints(buf)
    return _rows_from_start_offsets(offsets, values)


def read_compressed_vsize_indexed_v3(buf: _Buf, byte_order: str) -> list[list[int]]:
    """CompressedVSizeIndexedV3Supplier (written by IndexMergerV9 under the
    MULTI_VALUE_V3 serde flag): version 0x3, then a CompressedIntsIndexed
    supplier of numRows+1 START offsets (full-width ints in the column
    byte order), then a CompressedVSizeIntsIndexedSupplier of values."""
    version = buf.byte()
    if version != 0x3:
        raise NotImplementedError(
            f"multi-value v3 indexed version {version} (expected 3)"
        )
    offsets = read_compressed_primitives(buf, "i", byte_order)
    values = read_compressed_vsize_ints(buf, byte_order)
    return _rows_from_start_offsets(offsets, values)


# ------------------------------------------------------------- columns


@dataclass
class DruidColumn:
    name: str
    value_type: str  # STRING | LONG | FLOAT | COMPLEX
    type_name: str | None  # complex type, e.g. hyperUnique
    values: list
    multi_value: bool = False  # values are lists of strings


def read_column(name: str, blob: bytes) -> DruidColumn:
    buf = _Buf(blob)
    desc = json.loads(buf.take(buf.int4()).decode("utf-8"))
    vtype = desc["valueType"]
    part = desc["parts"][0]
    if vtype == "STRING":
        version = buf.byte()
        if version != 0x2:
            raise NotImplementedError(
                f"column {name!r}: legacy dictionary encoding v{version} "
                "(pre-0.9 segments); only v2 is supported"
            )
        flags = buf.int4()
        byte_order = part.get("byteOrder", "LITTLE_ENDIAN")
        dictionary = [v.decode("utf-8") if v else "" for v in read_generic_indexed(buf)]
        if flags & ~0x3:
            raise NotImplementedError(
                f"column {name!r}: unknown dictionary serde feature flags "
                f"0x{flags:x} (MULTI_VALUE 0x1 / MULTI_VALUE_V3 0x2 only)"
            )
        if flags & 0x2:  # MULTI_VALUE_V3: CompressedVSizeIndexedV3
            rows = read_compressed_vsize_indexed_v3(buf, byte_order)
            return DruidColumn(
                name, vtype, None, [[dictionary[i] for i in row] for row in rows],
                multi_value=True,
            )
        if flags & 0x1:  # MULTI_VALUE: CompressedVSizeIndexed (offsets+values)
            rows = read_compressed_vsize_indexed(buf)
            return DruidColumn(
                name, vtype, None, [[dictionary[i] for i in row] for row in rows],
                multi_value=True,
            )
        ids = read_compressed_vsize_ints(buf, byte_order)
        return DruidColumn(name, vtype, None, [dictionary[i] for i in ids])
    if vtype in {"LONG", "FLOAT"}:
        fmt = "q" if vtype == "LONG" else "f"
        vals = read_compressed_primitives(buf, fmt, part.get("byteOrder", "LITTLE_ENDIAN"))
        return DruidColumn(name, vtype, None, vals)
    if vtype == "COMPLEX":
        values = read_generic_indexed(buf)
        return DruidColumn(name, vtype, part.get("typeName"), values)
    raise NotImplementedError(f"column {name!r}: valueType {vtype!r}")


# -------------------------------------------------------------- smoosh


def read_smoosh(segment_dir_or_zip: str) -> dict[str, bytes]:
    """All internal files of a segment: ``{name: blob}``. Accepts the
    segment directory (containing index.zip) or the zip path itself."""
    zip_path = segment_dir_or_zip
    if os.path.isdir(zip_path):
        zip_path = os.path.join(zip_path, "index.zip")
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
        version = struct.unpack(">i", zf.read("version.bin"))[0]
        if version != 9:
            raise NotImplementedError(f"segment binary version {version} (v9 only)")
        meta = zf.read("meta.smoosh").decode("utf-8").strip().splitlines()
        chunks: dict[int, bytes] = {}
        out: dict[str, bytes] = {}
        for line in meta[1:]:
            name, chunk, start, end = line.rsplit(",", 3)
            chunk, start, end = int(chunk), int(start), int(end)
            fname = f"{chunk:05d}.smoosh"
            if fname not in names:
                raise FileNotFoundError(f"{fname} missing from {zip_path}")
            if chunk not in chunks:
                chunks[chunk] = zf.read(fname)
            out[name] = chunks[chunk][start:end]
    return out


def read_segment(segment_dir_or_zip: str) -> dict[str, DruidColumn]:
    """Decode every column of a v9 segment (``index.drd`` excluded)."""
    files = read_smoosh(segment_dir_or_zip)
    return {
        name: read_column(name, blob)
        for name, blob in files.items()
        if name != "index.drd"
    }


# ----------------------------------------------------- Druid HLL bytes

_HLL_NUM_BUCKETS = 2048  # Druid HyperLogLogCollector: 11-bit buckets
_HLL_DENSE_BYTES = _HLL_NUM_BUCKETS // 2
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_NUM_BUCKETS)
_HLL_CORRECTION = _HLL_ALPHA * _HLL_NUM_BUCKETS * _HLL_NUM_BUCKETS
_HLL_LOW = 5.0 * _HLL_NUM_BUCKETS / 2.0
_HLL_HIGH = (2.0 ** 64) / 30.0


def druid_hll_estimate_bytes(sketch: bytes | None) -> float | None:
    """Cardinality estimate of a Druid ``HyperLogLogCollector`` byte blob
    (storage format: 7-byte header — version, registerOffset,
    numNonZeroRegisters, maxOverflowValue, maxOverflowRegister — then
    dense 1024-byte nibble registers or sparse (short position, byte)
    pairs). Mirrors HyperUniquesAggregatorFactory.estimateCardinality."""
    if sketch is None:
        return None
    b = bytes(sketch)
    if len(b) < 7 or b[0] != 1:
        raise ValueError(f"not a Druid v1 HLL sketch (header {b[:7]!r})")
    offset = b[1]
    num_non_zero = struct.unpack_from(">h", b, 2)[0]
    max_overflow_value = b[4]
    max_overflow_register = struct.unpack_from(">h", b, 5)[0]
    payload = b[7:]

    register_sum = 0.0
    if len(payload) == _HLL_DENSE_BYTES:
        positions = range(_HLL_DENSE_BYTES)
        value_at = {i: payload[i] for i in positions}
    else:
        value_at = {}
        for i in range(0, len(payload), 3):
            pos = struct.unpack_from(">h", payload, i)[0]
            value_at[pos] = payload[i + 2]
    touched_registers = 0
    for pos, byte in value_at.items():
        upper, lower = byte >> 4, byte & 0xF
        register_sum += 2.0 ** -(upper + offset) + 2.0 ** -(lower + offset)
        touched_registers += 2
    register_sum += (_HLL_NUM_BUCKETS - touched_registers) * 2.0 ** -offset

    if max_overflow_value > 0:
        pos, is_upper = max_overflow_register >> 1, (max_overflow_register & 1) == 0
        stored = value_at.get(pos, 0)
        nibble = (stored >> 4) if is_upper else (stored & 0xF)
        register_sum += 2.0 ** -max_overflow_value - 2.0 ** -(nibble + offset)

    zero_count = _HLL_NUM_BUCKETS - num_non_zero if offset == 0 else 0
    e = _HLL_CORRECTION / register_sum
    if e <= _HLL_LOW:
        return e if zero_count == 0 else _HLL_NUM_BUCKETS * log(
            _HLL_NUM_BUCKETS / float(zero_count)
        )
    if e > _HLL_HIGH:
        ratio = e / 2.0 ** 64
        return float("inf") if ratio >= 1 else -(2.0 ** 64) * log(1 - ratio)
    return e


def _hll_payload_registers(b: bytes) -> dict[int, int]:
    """byte-position → packed register byte for a sketch payload."""
    payload = b[7:]
    if len(payload) == _HLL_DENSE_BYTES:
        return {i: payload[i] for i in range(_HLL_DENSE_BYTES) if payload[i]}
    out = {}
    for i in range(0, len(payload), 3):
        pos = struct.unpack_from(">h", payload, i)[0]
        out[pos] = payload[i + 2]
    return out


def _hll_fold_registers(sketches) -> tuple[dict[int, int], int, bool]:
    """Fold several Druid HLL blobs into (register index → merged ACTUAL
    value, max registerOffset, saw-any-sketch) — the shared core of the
    estimate-merge and the bytes-merge. Untouched registers implicitly
    hold each sketch's own offset, so a merged actual is always ≥ the max
    offset; only values above it are recorded."""
    regs: dict[int, int] = {}  # register index -> actual value (> 0)
    max_offset = 0
    any_sketch = False
    # collect_list arrives as a numpy array through Arrow — no truthiness
    for s in sketches if sketches is not None else []:
        if s is None:
            continue
        b = bytes(s)
        if len(b) < 7 or b[0] != 1:
            raise ValueError(f"not a Druid v1 HLL sketch (header {b[:7]!r})")
        offset = b[1]
        max_offset = max(max_offset, offset)
        max_overflow_value = b[4]
        max_overflow_register = struct.unpack_from(">h", b, 5)[0]
        any_sketch = True
        for pos, byte in _hll_payload_registers(b).items():
            for idx, nibble in ((2 * pos, byte >> 4), (2 * pos + 1, byte & 0xF)):
                if nibble:
                    v = offset + nibble
                    if v > regs.get(idx, 0):
                        regs[idx] = v
        if max_overflow_value > 0:
            pos = max_overflow_register >> 1
            is_upper = (max_overflow_register & 1) == 0
            idx = 2 * pos + (0 if is_upper else 1)
            if max_overflow_value > regs.get(idx, 0):
                regs[idx] = max_overflow_value
    return regs, max_offset, any_sketch


def druid_hll_merge_bytes(sketches) -> bytes | None:
    """Merge Druid HLL blobs into a NEW well-formed Druid v1 blob — bytes
    in, bytes out, so merged state stays RE-MERGEABLE in Druid's own
    format (the reference's non-finalizing A3 semantics,
    NonFinalizingAggregatorFactoryAdapter.java:19-31, for data that must
    round-trip back out as Druid sketch bytes).

    Encoding: dense payload, registerOffset = max input offset, nibbles
    clipped to 15 with the single largest above-ceiling actual value kept
    in the overflow slot — HyperLogLogCollector's own lossy storage
    convention, so ``druid_hll_estimate_bytes(druid_hll_merge_bytes(S))``
    equals ``druid_hll_merge_estimate_bytes(S)`` whenever at most one
    register overflows the nibble ceiling (as in Druid itself)."""
    regs, offset, any_sketch = _hll_fold_registers(sketches)
    if not any_sketch:
        return None
    nibbles = [0] * _HLL_NUM_BUCKETS
    over_val, over_idx = 0, -1
    for idx, v in regs.items():
        nib = v - offset
        if nib <= 0:
            continue
        if nib > 15:
            if v > over_val:
                over_val, over_idx = v, idx
            nib = 15
        nibbles[idx] = nib
    num_non_zero = sum(1 for v in nibbles if v)
    over_field = 0
    if over_val:
        pos, is_upper = over_idx // 2, over_idx % 2 == 0
        over_field = (pos << 1) | (0 if is_upper else 1)
    payload = bytes(
        (nibbles[2 * i] << 4) | nibbles[2 * i + 1] for i in range(_HLL_DENSE_BYTES)
    )
    return (
        bytes([1, offset])
        + struct.pack(">h", num_non_zero)
        + bytes([over_val])
        + struct.pack(">h", over_field)
        + payload
    )


def druid_hll_merge(col):
    """Aggregate NON-FINALIZING merge for Druid-format sketch columns:
    pair with ``F.collect_list(sketch_col)`` and the output is a valid
    Druid HLL blob — rollup/compaction over imported segments keeps the
    metric re-mergeable instead of collapsing it to a number (finalize
    later with ``druid_hll_estimate``)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def mrg(s: pd.Series) -> pd.Series:
        return s.map(druid_hll_merge_bytes)

    return mrg(col)


def druid_hll_merge_estimate_bytes(sketches) -> float | None:
    """Merged-cardinality estimate of several Druid HLL blobs: per-register
    max in ACTUAL-value space, then the same correction pipeline.

    A sketch with ``registerOffset`` o stores each register as value-o
    (floored at 0), so a stored nibble n means actual value o+n and an
    untouched register implicitly holds o (Druid's high-cardinality bias
    convention — its getRegisterSum adds 2^-o for them). The fold
    therefore takes, per register, the max of (offset + nibble) across
    sketches with the overflow register patched in, and the merged floor
    is the max offset. At offset 0 / no overflow this reduces exactly to
    the plain nibble-max union."""
    regs, max_offset, any_sketch = _hll_fold_registers(sketches)
    if not any_sketch:
        return None
    # registers at or below the merged floor collapse into the bulk term
    explicit = {i: v for i, v in regs.items() if v > max_offset}
    register_sum = sum(2.0 ** -v for v in explicit.values()) + (
        _HLL_NUM_BUCKETS - len(explicit)
    ) * 2.0 ** -max_offset
    zero_count = _HLL_NUM_BUCKETS - len(explicit) if max_offset == 0 else 0
    e = _HLL_CORRECTION / register_sum
    if e <= _HLL_LOW:
        return e if zero_count == 0 else _HLL_NUM_BUCKETS * log(
            _HLL_NUM_BUCKETS / float(zero_count)
        )
    if e > _HLL_HIGH:
        ratio = e / 2.0 ** 64
        return float("inf") if ratio >= 1 else -(2.0 ** 64) * log(1 - ratio)
    return e


def druid_hll_merge_estimate(col):
    """Aggregate finalizer for grouped imports: pair with
    ``F.collect_list(sketch_col)`` to reproduce the reference's
    NonFinalizingAggregatorFactoryAdapter → hyperUniqueCardinality chain
    (druid_exporter.pig:3-4,14-16)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def est(s: pd.Series) -> pd.Series:
        return s.map(druid_hll_merge_estimate_bytes)

    return est(col)


def druid_hll_estimate(col):
    """``Column`` finalizer for imported hyperUnique bytes: Arrow-batched
    pandas UDF over the pure-Python estimator (import-compat path only —
    engine-native sketches finalize via hll_sketch_estimate in the JVM)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def est(s: pd.Series) -> pd.Series:
        return s.map(druid_hll_estimate_bytes)

    return est(col)


# -------------------------------------------------------------- import


def import_druid_segment(
    spark,
    segment_dir: str,
    table_root: str,
    data_source: str | None = None,
    interval: str | None = None,
    version: str | None = None,
    shard_num: int | None = None,
):
    """One-shot migration: v9 segment directory (descriptor.json +
    index.zip) → published engine segment (parquet + manifest), readable
    through the normal ``load()`` path under overshadow semantics.

    dataSource / interval / version default from ``descriptor.json``
    (reference: the same descriptor the reference's DruidInputFormat
    consumes). String dimensions import as ``array<string>`` single-value
    arrays — the reference emits every dimension as a list
    (DruidStorage.java getDimension semantics) and the engine's golden
    fixtures follow suit.
    """
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from druid_hadoop_utils_spark.session import local_frame
    from druid_hadoop_utils_spark.sources.segments import write_segment

    desc_path = os.path.join(segment_dir, "descriptor.json")
    desc = {}
    if os.path.exists(desc_path):
        with open(desc_path) as f:
            desc = json.load(f)
    data_source = data_source or desc.get("dataSource")
    interval = interval or desc.get("interval")
    version = version or desc.get("version")
    if shard_num is None:
        shard_num = int(desc.get("shardSpec", {}).get("partitionNum", 0) or 0)
    if not (data_source and interval and version):
        raise ValueError(
            "dataSource/interval/version required (explicitly or via descriptor.json)"
        )
    dims = [d for d in (desc.get("dimensions") or "").split(",") if d]

    cols = read_segment(segment_dir)
    if "__time" not in cols:
        raise ValueError("segment has no __time column")

    from datetime import datetime, timezone

    fields = [StructField("__time", TimestampType())]
    data: dict[str, list] = {
        "__time": [
            datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
            for ms in cols["__time"].values
        ]
    }
    for name, col in cols.items():
        if name == "__time":
            continue
        if col.value_type == "STRING":
            if col.multi_value:
                fields.append(StructField(name, ArrayType(StringType())))
                data[name] = [list(v) for v in col.values]
            # single-value dimensions ride as one-element arrays
            # (reference emits every dimension as a list)
            elif name in dims or not dims:
                fields.append(StructField(name, ArrayType(StringType())))
                data[name] = [[v] if v != "" else [] for v in col.values]
            else:
                fields.append(StructField(name, StringType()))
                data[name] = list(col.values)
        elif col.value_type == "LONG":
            fields.append(StructField(name, LongType()))
            data[name] = list(col.values)
        elif col.value_type == "FLOAT":
            fields.append(StructField(name, DoubleType()))
            data[name] = [float(v) for v in col.values]
        else:  # COMPLEX: raw Druid sketch bytes
            fields.append(StructField(name, BinaryType()))
            data[name] = [bytes(v) for v in col.values]

    df = local_frame(spark, zip(*(data[f.name] for f in fields)), StructType(fields))
    return write_segment(
        df, table_root, data_source, interval, str(version), shard_num
    )
