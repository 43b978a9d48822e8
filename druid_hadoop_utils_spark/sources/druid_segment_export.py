"""Druid v9 segment EXPORT — the reverse of ``sources/druid_segment.py``.

Writes a managed engine segment (or any bounded DataFrame) back out as a
Druid 0.9-era v9 segment directory: ``descriptor.json`` + ``index.zip``
(version.bin, meta.smoosh, 00000.smoosh), closing the migration loop
import → engine → export (VERDICT r6 stretch item 8). The reference
consumed exactly these artifacts (descriptor.json:1-17 fields,
DruidInputFormat.java reading index.zip via the Druid loader).

Encoding choices — each the simplest VALID v9 representation, verified
against the reference's own golden segment
(druid-pig/src/test/resources/test-segment) byte layout:

- framing ints are big-endian (java ByteBuffer), value payloads follow
  the declared ``byteOrder`` (LITTLE_ENDIAN here, like the golden);
- numeric/id blocks are LZ4 block-compressed by default (compression
  id 0x1 — Druid's own default strategy; ``lz4_block_compress`` below
  is the inverse of the importer's pure-Python decoder), with
  ``compression="uncompressed"`` (id 0xff, also first-class v9) as the
  bit-auditable alternative;
- string dimensions carry the full v2 dictionary serde: sorted unique
  dictionary (allowReverseLookup=1), vsize dictionary ids, and a
  GenericIndexed of per-value CONCISE bitmap indexes written as
  all-literal words (a valid, uncompressed CONCISE representation —
  each 32-bit word has the literal flag 0x80000000 and 31 row bits,
  exactly the shape the golden segment's own tiny bitmaps use);
- multi-value dimensions use CompressedVSizeIndexed v2 (serde flag 0x1):
  numRows+1 start offsets + flat value ids, both as vsize-int suppliers;
- LONG columns are CompressedLongsIndexedSupplier v2; FLOAT columns the
  float variant. Engine DOUBLE columns export as v9 FLOAT (Druid 0.9
  pre-dates double columns) — LOSSY, refused unless ``allow_lossy``;
- COMPLEX columns (e.g. imported hyperUnique state) are a
  GenericIndexed of the raw sketch blobs, typeName preserved;
- index.drd mirrors the golden: GenericIndexed(columns),
  GenericIndexed(dimensions), big-endian (minTime, maxTime+1), then the
  length-prefixed bitmap factory json ({"type": "concise"}).

Rows are gathered driver-side: a Druid segment is bounded by
construction (the indexer's own memory model — segments are built to a
target of ~5M rows); exporting a 100 TB TABLE means exporting its many
segments one at a time, which ``export_druid_segments`` does, streaming
one segment's rows at a time rather than the table's.
"""

from __future__ import annotations

import json
import os
import struct
import zipfile
from datetime import timezone

__all__ = ["export_druid_segments", "write_v9_segment"]


# ----------------------------------------------------------- encoders


def _generic_indexed(items: list[bytes], allow_reverse: bool = False) -> bytes:
    """GenericIndexed v1 (inverse of druid_segment.read_generic_indexed):
    version, allowReverseLookup, totalSize, numElements, END offsets,
    4-byte-length-prefixed values."""
    offsets = []
    values = bytearray()
    for it in items:
        values += struct.pack(">i", len(it)) + it
        offsets.append(len(values))
    body = struct.pack(">i", len(items))
    body += b"".join(struct.pack(">i", o) for o in offsets)
    body += bytes(values)
    return bytes([1, 1 if allow_reverse else 0]) + struct.pack(">i", len(body)) + body


_UNCOMPRESSED = 0xFF
_LZ4 = 0x1


def lz4_block_compress(src: bytes) -> bytes:
    """Pure-Python LZ4 *block* compressor (greedy, 4-byte hash matches) —
    the inverse of druid_segment.lz4_block_decompress and spec-conformant
    for any decoder: the last 5 bytes stay literals and no match starts
    within the final 12 bytes (the format's end-of-block rules)."""
    n = len(src)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    match_limit = n - 12

    def _emit_len(rem: int) -> None:
        while rem >= 255:
            out.append(255)
            rem -= 255
        out.append(rem)

    while i < match_limit:
        key = src[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is None or i - j > 0xFFFF:
            i += 1
            continue
        ml = 4
        while i + ml < n - 5 and src[j + ml] == src[i + ml]:
            ml += 1
        lit = src[anchor:i]
        t_lit = min(len(lit), 15)
        t_ml = min(ml - 4, 15)
        out.append((t_lit << 4) | t_ml)
        if t_lit == 15:
            _emit_len(len(lit) - 15)
        out += lit
        out += (i - j).to_bytes(2, "little")
        if t_ml == 15:
            _emit_len(ml - 4 - 15)
        i += ml
        anchor = i
    lit = src[anchor:]
    t_lit = min(len(lit), 15)
    out.append(t_lit << 4)
    if t_lit == 15:
        _emit_len(len(lit) - 15)
    out += lit
    return bytes(out)


def _pack_blocks(blocks: list[bytes], compression: str) -> tuple[int, list[bytes]]:
    if compression == "lz4":
        return _LZ4, [lz4_block_compress(b) for b in blocks]
    if compression == "uncompressed":
        return _UNCOMPRESSED, blocks
    raise ValueError(f"unsupported compression {compression!r} (lz4/uncompressed)")


def _compressed_primitives(vals: list, fmt: str, size_per: int = 0x2000,
                           compression: str = "lz4") -> bytes:
    """CompressedLongs/Floats/IntsIndexedSupplier v2, little-endian
    payload (the declared column byteOrder), LZ4 blocks by default
    (Druid's own default strategy)."""
    blocks = []
    for i in range(0, len(vals), size_per):
        chunk = vals[i:i + size_per]
        blocks.append(struct.pack(f"<{len(chunk)}{fmt}", *chunk))
    if not blocks:
        blocks = [b""]
    cid, packed = _pack_blocks(blocks, compression)
    return (
        bytes([2])
        + struct.pack(">ii", len(vals), size_per)
        + bytes([cid])
        + _generic_indexed(packed)
    )


def _vsize_ints(vals: list[int], size_per: int = 0x4000,
                compression: str = "lz4") -> bytes:
    """CompressedVSizeIntsIndexedSupplier v2. Values are
    big-endian truncated to the minimal byte width (the reader decodes
    sub-4-byte values big-endian regardless of column byteOrder); each
    block carries 4-numBytes tail padding (java getInt headroom)."""
    num_bytes = max(1, (max(vals, default=0).bit_length() + 7) // 8)
    if num_bytes >= 4:
        # a 4-byte id stream flips to the column byteOrder in the reader
        # (little-endian here) while narrower widths are always
        # big-endian; >16M dictionary entries / flat values per segment
        # is far past the ~5M-row segment target, so refuse loudly
        # rather than carry both paths untested.
        raise ValueError(
            "vsize-int stream needs 4-byte ids (>16M distinct values) — "
            "split the segment before exporting"
        )
    blocks = []
    for i in range(0, len(vals), size_per):
        chunk = vals[i:i + size_per]
        raw = b"".join(v.to_bytes(num_bytes, "big") for v in chunk)
        blocks.append(raw + b"\x00" * (4 - num_bytes))
    if not blocks:
        blocks = [b"\x00" * (4 - num_bytes)]
    cid, packed = _pack_blocks(blocks, compression)
    return (
        bytes([2, num_bytes])
        + struct.pack(">ii", len(vals), size_per)
        + bytes([cid])
        + _generic_indexed(packed)
    )


def _concise_bitmap(rows: list[int]) -> bytes:
    """ImmutableConciseSet bytes for a set of row ids: all-literal CONCISE
    words (0x80000000 | 31 payload bits), big-endian ints, no trailing
    empty words. Valid uncompressed CONCISE — the golden segment's own
    single-word bitmaps are exactly this shape. Empty set = zero bytes."""
    if not rows:
        return b""
    words: dict[int, int] = {}
    for r in rows:
        words[r // 31] = words.get(r // 31, 0) | (1 << (r % 31))
    out = bytearray()
    for w in range(max(words) + 1):
        out += struct.pack(">I", 0x80000000 | words.get(w, 0))
    return bytes(out)


def _string_column(values: list, multi_value: bool,
                   compression: str = "lz4") -> bytes:
    """Dictionary-encoded STRING column blob (descriptor + v2 serde +
    ids + CONCISE bitmap indexes). ``values`` holds str (single-value,
    None/'' both encode the empty string, Druid's null) or list[str]."""
    if multi_value:
        row_lists = [list(v) if v is not None else [] for v in values]
        pool = sorted({s if s is not None else "" for row in row_lists for s in row})
    else:
        row_lists = None
        pool = sorted({v if v is not None else "" for v in values})
    dictionary = pool
    index = {s: i for i, s in enumerate(dictionary)}

    desc = {
        "valueType": "STRING",
        "hasMultipleValues": bool(multi_value),
        "parts": [{
            "type": "stringDictionary",
            "bitmapSerdeFactory": {"type": "concise"},
            "byteOrder": "LITTLE_ENDIAN",
        }],
    }
    body = bytearray()
    body += bytes([2])  # dictionary serde v2
    body += struct.pack(">i", 0x1 if multi_value else 0x0)  # feature flags
    body += _generic_indexed(
        [s.encode("utf-8") for s in dictionary], allow_reverse=True)

    bitmap_rows: dict[int, list[int]] = {i: [] for i in range(len(dictionary))}
    if multi_value:
        offsets = [0]
        flat: list[int] = []
        for rn, row in enumerate(row_lists):
            for s in row:
                did = index[s if s is not None else ""]
                flat.append(did)
                bitmap_rows[did].append(rn)
            offsets.append(len(flat))
        # CompressedVSizeIndexed v2: version, offsets supplier, values
        body += bytes([2]) + _vsize_ints(offsets, compression=compression) \
            + _vsize_ints(flat, compression=compression)
    else:
        ids = []
        for rn, v in enumerate(values):
            did = index[v if v is not None else ""]
            ids.append(did)
            bitmap_rows[did].append(rn)
        body += _vsize_ints(ids, compression=compression)
    body += _generic_indexed(
        [_concise_bitmap(bitmap_rows[i]) for i in range(len(dictionary))])

    desc_json = json.dumps(desc, separators=(",", ":")).encode("utf-8")
    return struct.pack(">i", len(desc_json)) + desc_json + bytes(body)


def _numeric_column(values: list, kind: str,
                    compression: str = "lz4") -> bytes:
    desc = {
        "valueType": kind,
        "hasMultipleValues": False,
        "parts": [{"type": kind.lower(), "byteOrder": "LITTLE_ENDIAN"}],
    }
    desc_json = json.dumps(desc, separators=(",", ":")).encode("utf-8")
    fmt = "q" if kind == "LONG" else "f"
    vals = [int(v or 0) for v in values] if kind == "LONG" \
        else [float(v or 0.0) for v in values]
    return struct.pack(">i", len(desc_json)) + desc_json \
        + _compressed_primitives(vals, fmt, compression=compression)


def _complex_column(values: list, type_name: str) -> bytes:
    desc = {
        "valueType": "COMPLEX",
        "hasMultipleValues": False,
        "parts": [{"type": "complex", "typeName": type_name}],
    }
    desc_json = json.dumps(desc, separators=(",", ":")).encode("utf-8")
    return struct.pack(">i", len(desc_json)) + desc_json \
        + _generic_indexed([bytes(v) if v is not None else b"" for v in values])


# ------------------------------------------------------------ assembly


def _druid_ts(dt) -> str:
    """Druid SegmentId timestamp convention: ISO-8601 UTC, millisecond
    precision, 'Z' suffix (e.g. 2014-10-22T00:00:00.000Z — golden
    descriptor.json)."""
    dt = dt.astimezone(timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def write_v9_segment(
    columns: dict[str, dict],
    out_dir: str,
    data_source: str,
    interval: str,
    version: str,
    dimensions: list[str],
    metrics: list[str],
    shard_num: int = 0,
    compression: str = "lz4",
    total_shards: int = 1,
) -> str:
    """Assemble a v9 segment directory from encoded column specs.

    ``columns``: ordered {name: {"kind": STRING|LONG|FLOAT|COMPLEX,
    "values": [...], "multi_value": bool, "type_name": str}} — must
    include ``__time`` (epoch millis, ascending). Returns ``out_dir``.
    """
    times = columns["__time"]["values"]
    if any(b < a for a, b in zip(times, times[1:])):
        raise ValueError("__time must be ascending (Druid segment order)")

    blobs: dict[str, bytes] = {}
    for name, spec in columns.items():
        kind = spec["kind"]
        if kind == "STRING":
            blobs[name] = _string_column(
                spec["values"], spec.get("multi_value", False),
                compression=compression)
        elif kind in ("LONG", "FLOAT"):
            blobs[name] = _numeric_column(spec["values"], kind,
                                          compression=compression)
        elif kind == "COMPLEX":
            blobs[name] = _complex_column(
                spec["values"], spec.get("type_name") or "hyperUnique")
        else:
            raise ValueError(f"column {name!r}: unsupported kind {kind!r}")

    other = [n for n in columns if n != "__time"]
    drd = _generic_indexed([n.encode() for n in other], allow_reverse=True)
    drd += _generic_indexed([d.encode() for d in dimensions],
                            allow_reverse=True)
    # dataInterval the way IndexMergerV9 records it: (minTime, maxTime+1)
    drd += struct.pack(">qq", min(times) if times else 0,
                       (max(times) + 1) if times else 1)
    factory = json.dumps({"type": "concise"}, separators=(",", ":")).encode()
    drd += struct.pack(">i", len(factory)) + factory
    blobs["index.drd"] = drd

    # one smoosh chunk; meta.smoosh header is "v1,<maxChunk>,<numChunks>"
    order = ["__time"] + other + ["index.drd"]
    chunk = bytearray()
    meta_lines = []
    for name in order:
        start = len(chunk)
        chunk += blobs[name]
        meta_lines.append(f"{name},0,{start},{len(chunk)}")
    meta = "v1,2147483647,1\n" + "\n".join(meta_lines) + "\n"

    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, "index.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("version.bin", struct.pack(">i", 9))
        zf.writestr("meta.smoosh", meta)
        zf.writestr("00000.smoosh", bytes(chunk))

    # Druid's canonical SegmentId format (ADVICE r8): ISO-8601 UTC
    # millisecond timestamps with a 'Z' suffix, exactly as the golden
    # segment's own descriptor renders them — inserting this identifier
    # into Druid metadata must not diverge from real segment ids
    from druid_hadoop_utils_spark.intervals import Interval as _Iv

    try:
        _ivo = _Iv.parse(interval)
        _span = f"{_druid_ts(_ivo.start)}_{_druid_ts(_ivo.end)}"
    except ValueError:
        # shorthand interval ("1970/1971") from the low-level API:
        # keep the legacy rendering rather than refuse the write
        _span = interval.replace("/", "_")
    identifier = (
        f"{data_source}_{_span}_{version}"
        + (f"_{shard_num}" if shard_num else "")
    )
    descriptor = {
        "binaryVersion": 9,
        "dataSource": data_source,
        "dimensions": ",".join(dimensions),
        "identifier": identifier,
        "interval": interval,
        "loadSpec": {"type": "local", "path": zip_path},
        "metrics": ",".join(metrics),
        # a member of a sharded group MUST declare numbered/partitions —
        # {"type": "none"} tells Druid the segment is the interval's
        # COMPLETE data, so shard 0 of a 2-shard group would shadow
        # shard 1 in a real deployment
        "shardSpec": ({"type": "none"} if total_shards <= 1 else
                      {"type": "numbered", "partitionNum": shard_num,
                       "partitions": total_shards}),
        "size": os.path.getsize(zip_path),
        "version": version,
    }
    with open(os.path.join(out_dir, "descriptor.json"), "w") as f:
        json.dump(descriptor, f, indent=4, sort_keys=True)
    return out_dir


def _df_to_columns(rows, schema, complex_types: dict[str, str],
                   allow_lossy: bool):
    """Collected Spark rows → write_v9_segment column specs, with the
    engine→v9 type mapping from the module docstring."""
    cols: dict[str, dict] = {}
    dims: list[str] = []
    metrics: list[str] = []
    for field in schema.fields:
        name = field.name
        dt = field.dataType.simpleString()
        vals = [r[name] for r in rows]
        if name == "__time":
            # epoch millis, computed in the JVM (export_druid_segments)
            cols[name] = {"kind": "LONG", "values": vals}
            continue
        if dt == "array<string>":
            multi = any(v is not None and len(v) > 1 for v in vals)
            if multi:
                cols[name] = {"kind": "STRING", "values": vals,
                              "multi_value": True}
            else:
                cols[name] = {"kind": "STRING", "values": [
                    (v[0] if v else "") for v in vals]}
            dims.append(name)
        elif dt == "string":
            cols[name] = {"kind": "STRING", "values": vals}
            dims.append(name)
        elif dt in ("bigint", "int", "smallint", "tinyint"):
            cols[name] = {"kind": "LONG", "values": vals}
            metrics.append(name)
        elif dt == "float":
            cols[name] = {"kind": "FLOAT", "values": vals}
            metrics.append(name)
        elif dt == "double":
            if not allow_lossy:
                raise ValueError(
                    f"column {name!r} is DOUBLE; v9 has only 4-byte FLOAT "
                    "metric columns — pass allow_lossy=True to accept the "
                    "precision loss, or cast/round upstream"
                )
            cols[name] = {"kind": "FLOAT", "values": vals}
            metrics.append(name)
        elif dt == "binary":
            cols[name] = {"kind": "COMPLEX", "values": vals,
                          "type_name": complex_types.get(name, "hyperUnique")}
            metrics.append(name)
        else:
            raise ValueError(
                f"column {name!r}: no v9 mapping for Spark type {dt!r}")
    return cols, dims, metrics


def export_druid_segments(
    spark,
    table_root: str,
    data_source: str,
    out_root: str,
    interval: str | None = None,
    complex_types: dict[str, str] | None = None,
    allow_lossy: bool = False,
    max_rows: int = 5_000_000,
) -> list[str]:
    """Export every VISIBLE segment of a managed table (optionally
    restricted to ``interval``) as a v9 segment directory under
    ``out_root/<identifier>/``. One driver-side pass per segment — never
    the whole table at once. Returns the directories written.

    Segments only partially visible in the timeline are refused
    (compact first): an exported segment must equal what a Druid
    deployment would serve for its whole interval.

    Building the v9 dictionary/bitmap codecs is inherently driver-side
    pure Python, so each segment is collected to the driver — bounded by
    ``max_rows`` (default 5M, Druid's own recommended segment size).
    An oversized segment is REFUSED with a cheap count() BEFORE the
    collect, never an OOM: re-publish it with more ``shards_per_bucket``
    or a finer bucket (``compact_segments``) and re-export.
    """
    from pyspark.sql import functions as F

    from druid_hadoop_utils_spark.intervals import Interval
    from druid_hadoop_utils_spark.sources.segments import (
        _safe,
        list_manifests,
        resolve_visible_windows,
    )

    iv = Interval.parse(interval) if interval else Interval.parse(
        "0001-01-01T00:00:00/9999-12-31T00:00:00")
    visible = resolve_visible_windows(
        list_manifests(table_root, data_source), iv)
    # shard-group sizes: every shard's descriptor must carry the group's
    # partition count (see write_v9_segment's shardSpec note)
    group_sizes: dict[tuple, int] = {}
    for w in visible:
        if not w.manifest.tombstone:
            k = (w.manifest.interval.iso(), w.manifest.version)
            group_sizes[k] = group_sizes.get(k, 0) + 1
    out_dirs = []
    for w in visible:
        m = w.manifest
        if m.tombstone:
            continue
        if not w.is_fully_visible(iv):
            raise ValueError(
                f"segment {m.identifier} is only partially visible — "
                "compact the interval, then export"
            )
        # __time leaves the JVM as epoch millis: collected timestamps
        # would come back in the driver's local zone, not UTC
        df = spark.read.parquet(m.path).orderBy("__time").withColumn(
            "__time", F.expr("unix_millis(CAST(`__time` AS TIMESTAMP))"))
        # metadata-cheap parquet row count, BEFORE the collect: refuse an
        # oversized segment loudly instead of OOMing the driver
        n = spark.read.parquet(m.path).count()
        if n > max_rows:
            raise ValueError(
                f"segment {m.identifier} has {n} rows, above the "
                f"max_rows={max_rows} driver-collect bound for v9 "
                "export — re-publish the interval with more "
                "shards_per_bucket or a finer bucket "
                "(maintenance.compact_segments), then re-export; or "
                "raise max_rows if the driver has the memory"
            )
        rows = df.collect()
        cols, dims, metrics = _df_to_columns(
            rows, df.schema, complex_types or {}, allow_lossy)
        out_dir = os.path.join(out_root, _safe(m.identifier))
        write_v9_segment(
            cols, out_dir, data_source, m.interval.iso(), m.version,
            dims, metrics, m.shard_num,
            total_shards=group_sizes[(m.interval.iso(), m.version)],
        )
        out_dirs.append(out_dir)
    return out_dirs
